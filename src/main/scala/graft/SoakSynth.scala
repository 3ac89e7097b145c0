package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-soak corpus synthesizer (bench tooling, not a query operator):
  * writes an N× copy of a driver testdata directory where each replica's
  * KEY columns are shifted by a large per-replica offset — every replica
  * is self-contained (joins resolve within it, referential integrity
  * preserved), so an operator that scales linearly in rows should run
  * ~N× its base time and anything super-linear stands out.
  *
  * Deterministic by construction (no randomness): replica i of a row is
  * the row with `key + i·10⁹` on every key column. CONTENT columns are
  * shifted too, because similarity operators key on content the way
  * joins key on ids: with verbatim replicas the corpus genuinely
  * contains 10× of every document/vector, the true similar-pair answer
  * grows ~100×, and a similarity join correctly doing 100× the work
  * reads as "super-linear" when it is actually output-linear (measured:
  * txt46 59×, vec13 18× on a verbatim-replica corpus; both collapse to
  * ~linear once cross-replica similarity is removed — PLANS.md). So:
  *   - `documents.text` is letter-rotated per replica (Caesar by i):
  *     token/shingle/prefix sets become disjoint across replicas while
  *     WITHIN-replica structure (exact dups, near-dups, lengths,
  *     token counts) is preserved bijectively;
  *   - `embeddings.embedding` gets a per-replica deterministic
  *     sign-flip pattern (dimension j negated when j % (i+1) == 0,
  *     i > 0): norm-preserving, and cross-replica cosines collapse
  *     toward 0 so LSH/IVF candidates stay within-replica.
  *
  * Usage: `runMain graft.SoakSynth <srcSfDir> <dstDir> <copies>`.
  */
object SoakSynth {

  private val Shift = 1000000000L

  /** key columns to shift, per table (events keeps its ts untouched —
    * time-window behavior should scale in ROWS, not in time span)
    */
  private val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_nationkey"),
    "supplier" -> Seq("s_suppkey", "s_nationkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val lower = "abcdefghijklmnopqrstuvwxyz"
  private val upper = lower.toUpperCase

  private def rot(s: String, i: Int) = s.drop(i % 26) + s.take(i % 26)

  /** splitmix64 finalizer — the deterministic 64-bit mixer behind the
    * ≥312-replica letter permutations and ≥97-replica sign patterns below
    * (Steele et al., "Fast splittable pseudorandom number generators";
    * public constants). Pure function of the replica index: corpora stay
    * bit-reproducible across runs.
    */
  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Deterministic letter permutation for replica i ≥ 312 — the THIRD
    * content-diversity regime (each decade so far has exhausted the
    * previous one: pure rotations saturate at 26 copies, the affine
    * family at 312; at 1000 copies each affine map would be reused ~3×
    * and every doc would regain cross-replica verbatim twins, inflating
    * the true similar-pair answer ~3× past linear exactly like the r9/r12
    * lessons). Fisher–Yates driven by the splitmix64 stream of i: 26! ≫
    * distinct permutations, bijective by construction, reproducible.
    */
  private def permuted(alpha: String, i: Int): String = {
    val a = alpha.toCharArray
    var s = mix64(i.toLong * 0x632BE59BD9B4E019L)
    var j = a.length - 1
    while (j > 0) {
      s = mix64(s)
      val r = (((s >>> 1) % (j + 1))).toInt
      val t = a(j); a(j) = a(r); a(r) = t
      j -= 1
    }
    new String(a)
  }

  private def replicate(base: DataFrame, table: String, copies: Int): DataFrame =
    (0 until copies).map(replica(base, table, _)).reduce(_.unionByName(_))

  /** First replica index that draws a splitmix64-permuted letter map
    * instead of the affine family. Default 312 (the affine family's
    * exhaustion point) keeps every recorded corpus reproducible. The mm07
    * 1000× run found a FOURTH content-saturation regime, one level down:
    * the affine maps with a = 1 (replicas 1–25) are monotone unicode
    * SHIFTS, and a perceptual hash thresholds pixels against the frame
    * MEAN — a shift moves pattern and mean together, so the above-mean
    * bit pattern (the phash) is invariant: every frame collided with ~26
    * rotation twins (plus partial affine-class twins), band buckets ran
    * ~26–1000× hot, and the banded pair join's TRUE candidate mass grew
    * quadratically — 72 GB of shuffle spill and a disk death at 1000×.
    * Token-level operators never see this (rotated token sets are
    * disjoint); pixel-level operators need maps that scramble VALUE
    * ORDER, which the Fisher–Yates permutations do. Perceptual-hash
    * soaks pass `permFrom = 1` (4th CLI arg / the main below); the
    * residual correlation from non-letter bytes (spaces, digits,
    * punctuation are fixed points of every letter map) is documented
    * with the mm07 BASELINE rows.
    */
  private var permFrom: Int = 312

  /** Replica `i` of one table — key-shifted, content-diversified. */
  private def replica(base: DataFrame, table: String, i: Int): DataFrame = {
      val keyed = keyCols(table).foldLeft(base) { (df, k) =>
        df.withColumn(k, col(k) + lit(i.toLong * Shift))
      }
      (table, i) match {
        case ("documents", s) if s >= permFrom && s > 0 =>
          keyed.withColumn("text", translate(col("text"),
            lower + upper, permuted(lower, i) + permuted(upper, i)))
        case ("documents", s) if s > 0 && s < 312 =>
          // AFFINE substitution j → (a·j + b) mod 26, a coprime to 26 —
          // 312 distinct bijective letter maps, so content classes keep
          // growing past 26 copies. A pure rotation saturates there: at
          // 100 copies every doc had ~4 verbatim cross-replica twins and
          // the TRUE similar-pair answer grew quadratically (the r9
          // verbatim-replica lesson, one level up — found by the r12 100×
          // soak: txt46 at 84× with a spill-churn tail). a = 1 for i < 26
          // keeps every corpus up to 26× bit-identical to the old rot.
          val a = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)((i / 26) % 12)
          val b = i % 26
          def affine(alpha: String) =
            (0 until 26).map(j => alpha((a * j + b) % 26)).mkString
          keyed.withColumn("text", translate(col("text"),
            lower + upper, affine(lower) + affine(upper)))
        // (replicas ≥ 312 — the affine family's exhaustion point — always
        //  draw permuted maps via the permFrom branch above: the 1000×
        //  regime, same bijectivity/reproducibility contract)
        case ("embeddings", s) if s > 0 && s < 64 =>
          keyed.withColumn("embedding", expr(
            s"transform(embedding, (x, j) -> IF(j % ${i + 1} = 0, -x, x))"))
        case ("embeddings", s) if s >= 64 && s < 100 =>
          // the modulo pattern collapses to flip-dim-0-only once i ≥ dims
          // (64): replicas 64.. became identical transforms — verbatim
          // twins again, in embedding space. Hash-derived half-flips keep
          // patterns distinct per replica (cross-replica cosine ≈ 0) and
          // stay norm-preserving; i < 64 keeps the old pattern so every
          // recorded ≤30× soak corpus is reproducible.
          keyed.withColumn("embedding", expr(
            s"transform(embedding, (x, j) -> " +
              s"IF(($i * 1103515245L + j * 12345L) % 97 < 48, -x, x))"))
        case ("embeddings", s) if s >= 100 =>
          // the LCG pattern repeats with period 97 in i (the 100×→1000×
          // saturation, same lesson a third time: ~10 verbatim sign-twin
          // replicas per vector at 1000 copies). Replicas ≥ 100 flip
          // dimension j by bit j of splitmix64(i): ≥2⁶³ distinct patterns,
          // ~half the dims flip (cross-replica cosine ≈ 0), norm
          // preserved; the cut at 100 keeps every recorded ≤100× corpus
          // bit-identical (only replicas 97–99 of the old family ever
          // collide with 0–2 — three twin pairs in a 1000-replica corpus,
          // noise next to the ~10-per-vector repeat this replaces).
          keyed.withColumn("embedding", expr(
            s"transform(embedding, (x, j) -> " +
              s"IF(((${mix64(i.toLong)}L >> (j % 64)) & 1) = 1, -x, x))"))
        case _ => keyed
      }
  }

  /** Usage: `runMain graft.SoakSynth <src> <dst> <copies> [tables] [permFrom]`
    * — the optional 4th arg (comma-separated) restricts generation to the
    * tables a targeted soak actually reads (a 1000× all-tables corpus is
    * mostly dead weight for a 5-gate run); the optional 5th arg sets the
    * first replica index that draws permuted letter maps (default 312;
    * perceptual-hash soaks pass 1 — see [[permFrom]]).
    */
  def main(args: Array[String]): Unit = {
    val (src, dst, copies) = (args(0), args(1), args(2).toInt)
    val wanted = if (args.length > 3) args(3).split(",").map(_.trim).toSet
      else Tables.all.toSet
    if (args.length > 4) permFrom = args(4).toInt
    val spark = MainSession(MainSession.cpus("8"))
    for (t <- Tables.all if wanted.contains(t)) {
      // byName fixes the events ts encoding once; the copy is written as
      // plain timestamp[us], which every loader handles. localCheckpoint:
      // every replica re-derives from the pinned base instead of re-reading
      // and re-fixing the source parquet `copies` times.
      val base = Tables.byName(spark, src, t).localCheckpoint()
      // blocks of ≤50 replicas appended: a single 1000-way union is one
      // plan whose analysis/codegen cost grows superlinearly on the driver
      // — the exact cliff class this tool exists to surface elsewhere
      (0 until copies).grouped(50).zipWithIndex.foreach { case (block, bi) =>
        block.map(replica(base, t, _)).reduce(_.unionByName(_))
          .write.mode(if (bi == 0) "overwrite" else "append")
          .parquet(s"$dst/$t.parquet")
      }
      println(s"[soak] $t x$copies written")
    }
    spark.stop()
  }
}
