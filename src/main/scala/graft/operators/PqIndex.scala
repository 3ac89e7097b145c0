package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization ANN (PQ + ADC): the memory-compression path one step
  * beyond [[Similarity.annSq8]] — the vector is split into `m` contiguous
  * subspaces, each subspace learns its own `k`-codeword codebook (the SAME
  * deterministic quantized Lloyd as [[IvfIndex.train]], run per subspace),
  * and every corpus vector is stored as `m` small codes. A probe scans the
  * compressed corpus with an ADC (asymmetric-distance-computation) table —
  * its exact distance to every codeword, computed ONCE per probe — then
  * only the top `rerankN` candidates fetch full vectors for an exact
  * quantized-cosine rerank.
  *
  * Scale shape (the whole point at 100 TB): a 64-dim float vector (256 B)
  * compresses to `m` = 16 codes (16 B) — a 16× smaller scan set. The ADC
  * scan is a codes×distance-table hash join + partial-agg sum: O(corpus·m)
  * tiny integer rows, no per-row vector math; full vectors are touched only
  * for `probes·rerankN` rows. Training cost equals ONE full-dimension Lloyd
  * (each of the m sub-trainings reads 1/m of the dimensions), and the m
  * trainings are independent — submitted as CONCURRENT Spark jobs.
  *
  * `m` is the resolution/recall lever (measured recall@3 vs exact brute
  * force on the test corpus, k=16: m=4 → 0.20, m=8 → 0.33, m=16 → 0.67;
  * the defaults m=16, k=32, rerankN=32 reach 0.93). The metric is cosine,
  * so the PQ is SPHERICAL: vectors are renormalized to a fixed integer
  * radius before slicing (see [[subVectors]]), making ADC's L2 ordering
  * agree with cosine ordering regardless of the corpus's norm distribution
  * (on the near-uniform-norm test embeddings this is worth a few recall
  * points; on real mixed-norm corpora it is the difference between PQ
  * working and not).
  *
  * Determinism (what makes a bit-exact DuckDB oracle possible): the
  * renormalization is exactly-rounded IEEE math on exact integers; each
  * sub-codebook inherits IvfIndex.trainQ's contracts (seed = lowest ids,
  * exact integer L2, ties → lowest cell, integral floor-division means,
  * empty cells keep the previous codeword); ADC distances are exact integer
  * sums; all ranks tie-break on neighbor_id.
  *
  * Reference analog: the reference ships no ANN operator — this extends the
  * training-data-curation surface (SURVEY §2's LLM-pipeline block) alongside
  * LSH (vec03), IVF-Flat (vec05–07), and SQ8 (vec08).
  */
object PqIndex {

  /** Process-local memos of trained artifacts, keyed by an EXPLICIT
    * caller-supplied corpus identity (opt-in — callers that do not pass a
    * `memoKey` always retrain). Training is deterministic (seeding,
    * integral means, tie-breaks — the vec05 contract), so for a given
    * corpus + params the codebooks are a pure value and sharing them is
    * semantically invisible; the drive's four PQ gates (vec10/11/12/15)
    * quantize the SAME corpus with the SAME params and were paying the
    * m-way Lloyd training four times (plus two coarse quantizers). The
    * cached value is the COLLECTED rows (m·k ≤ 512 tiny rows — they are
    * broadcast at every use anyway), so a memo hit is also
    * session/lineage-free. Keys are explicit strings, not plan
    * fingerprints: a plan-derived key risks silently serving stale
    * codebooks when a path is rewritten under the same plan shape.
    */
  private val pqMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, Int, Seq[Long])]]
  private val coarseMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, Seq[Long])]]

  /** Deterministic bounded training sample: every `stride`-th id by hash
    * (the [[IvfIndex.buildScaled]] sampler — FAISS's practice of training
    * quantizers on a fraction). `maxTrainRows = Long.MaxValue` (or a corpus
    * at/under the cap) is a no-op, so every oracle-checked scale trains
    * exactly; the sampler engages only once the corpus outgrows the cap.
    */
  private def trainSample(corpus: DataFrame, idCol: String,
      maxTrainRows: Long): DataFrame = {
    if (maxTrainRows == Long.MaxValue) return corpus
    val n = corpus.count()
    val stride = math.max(1L, (n + maxTrainRows - 1) / maxTrainRows)
    if (stride <= 1L) corpus
    else corpus.filter(pmod(hash(col(idCol)), lit(stride)) === 0)
  }

  /** Train per-subspace codebooks: `(s INT, cell INT, cv ARRAY<LONG>)`,
    * `m`·`k` rows. With a `memoKey`, a repeat call for the same
    * (key, cols, params) returns the memoized codebooks (see [[pqMemo]]).
    * `maxTrainRows` bounds the Lloyd training set (see [[trainSample]]) —
    * at 100 TB one full-corpus training pass is the dominant build cost
    * and quantizer quality saturates long before the full corpus.
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String, m: Int = 16,
      k: Int = 32, iters: Int = 2, memoKey: Option[String] = None,
      maxTrainRows: Long = Long.MaxValue): DataFrame = memoKey match {
    case None =>
      trainImpl(trainSample(corpus, idCol, maxTrainRows), idCol, vecCol,
        m, k, iters)
    case Some(key0) =>
      val spark = corpus.sparkSession
      import spark.implicits._
      val key = s"pq:$key0:$idCol:$vecCol:m=$m:k=$k:i=$iters:t=$maxTrainRows"
      val rows = pqMemo.computeIfAbsent(key, _ => {
        trainImpl(trainSample(corpus, idCol, maxTrainRows), idCol, vecCol,
          m, k, iters)
          .select(col("s"), col("cell"), col("cv"))
          .as[(Int, Int, Seq[Long])].collect()
      })
      spark.createDataset(rows.toSeq).toDF("s", "cell", "cv")
  }

  /** The coarse IVF quantizer over unit-sphere vectors, memoized like
    * [[train]] (vec12 and vec15 train the identical quantizer).
    */
  private def coarseQ(qn: DataFrame, nLists: Int, iters: Int,
      memoKey: Option[String], maxTrainRows: Long = Long.MaxValue)
      : DataFrame = memoKey match {
    case None =>
      IvfIndex.trainQ(trainSample(qn, "id", maxTrainRows), nLists, iters)
    case Some(key0) =>
      val spark = qn.sparkSession
      import spark.implicits._
      val key = s"coarse:$key0:nLists=$nLists:i=$iters:t=$maxTrainRows"
      val rows = coarseMemo.computeIfAbsent(key, _ => {
        // the memo stores centroid ROWS in the JVM — refuse loudly for an
        // N-proportional nLists (the IvfIndex collect-guard discipline);
        // huge-nLists callers use memoKey = None, whose trainQ output
        // stays a DataFrame and routes distributed past the guard
        IvfIndex.requireCentroidsCollectable(qn.sparkSession, nLists.toLong,
          "PqIndex coarse-quantizer memo")
        IvfIndex.trainQ(trainSample(qn, "id", maxTrainRows), nLists, iters)
          .select(col("cell"), col("cv")).as[(Int, Seq[Long])].collect()
      })
      spark.createDataset(rows.toSeq).toDF("cell", "cv")
  }

  /** Training body: [[IvfIndex.trainQ]]'s Lloyd run once per subspace over
    * the unit-sphere slices of [[subVectors]] (spherical PQ: see there).
    * The m sub-trainings are independent, so they run as concurrent Spark
    * jobs (trainQ materializes its ≤k centroids eagerly) — wall-clock is
    * one training, not m.
    */
  private def trainImpl(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // ALL m subspaces train through ONE fused Lloyd (r15 optimization):
    // the former shape ran m independent trainQ calls over a shared cache —
    // correct, but each call paid its own seed/count/collect jobs and its
    // own codegen family (the literal subspace id made every plan unique),
    // ~50 tiny jobs + 16 codegen compilations for work whose data fits a
    // broadcast. Fused, each Lloyd iteration is ONE assignment join keyed
    // on the subspace id and ONE means aggregation over (s, cell, pos) —
    // 2 seed jobs + `iters` collect jobs total, one codegen family. The
    // math is IDENTICAL per subspace (same seeds: the k lowest ids; same
    // exact integer L2 assignment with the same (d2, cell) tie-break; same
    // integral `sum div count` means; same keep-empty-cell coalesce), so
    // codebooks are bit-identical to the per-subspace formulation — the
    // grouping key gained `s`, which was a constant within each training.
    // Guard discipline: the fused path collects/broadcasts m·k centroid
    // rows (vs k per call before) — budgeted as one collect.
    IvfIndex.requireCentroidsCollectable(spark, m.toLong * k,
      "PqIndex fused Lloyd (m·k codebooks)")
    val subs = subVectors(corpus, idCol, vecCol, m)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // seeds: the k lowest ids' slices, cell = rank in id order (the
      // trainQ seeding rule, applied once — the id set is identical in
      // every subspace). TakeOrderedAndProject keeps this a bounded job.
      val lowIds = subs.filter(col("s") === 0).select(col("id"))
        .orderBy("id").limit(k).collect().map(_.get(0))
      val cellOf: Map[Any, Int] = lowIds.zipWithIndex.toMap
      val seedRows = subs.filter(col("id").isInCollection(lowIds.toIndexedSeq))
        .select(col("id"), col("s"), col("sub")).collect()
      var cent: Array[(Int, Int, Seq[Long])] = seedRows.map { r =>
        (r.getInt(1), cellOf(r.get(0)), r.getSeq[Long](2))
      }.sortBy(t => (t._1, t._2))
      val effLists = lowIds.length // = min(k, corpus) — uniform across s
      for (_ <- 1 to iters) {
        val cdf = spark.createDataset(cent.toIndexedSeq).toDF("s", "cell", "cv")
        val means = subs.join(broadcast(cdf), Seq("s"))
          .select(col("id"), col("s"), col("sub"), col("cell"),
            IvfIndex.l2Q(col("sub"), col("cv")).as("d2"))
          .groupBy(col("id"), col("s"))
          .agg(min_by(struct(col("cell"), col("sub")),
            struct(col("d2"), col("cell"))).as("w"))
          .select(col("s"), col("w.cell").as("cell"), col("w.sub").as("qv"))
          .select(col("s"), col("cell"), posexplode(col("qv")))
          .groupBy(col("s"), col("cell"), col("pos"))
          .agg(expr("sum(col) div count(*)").as("m")) // integral: deterministic
          .groupBy(col("s"), col("cell"))
          .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pairs"))
          .select(col("s"), col("cell"),
            expr("transform(pairs, p -> p.m)").as("mv"))
          .as[(Int, Int, Seq[Long])].collect()
        val mMap = means.map(t => (t._1, t._2) -> t._3).toMap
        // empty cells keep their previous centroid (trainQ's left-join +
        // coalesce), so the per-subspace row count is invariant
        cent = cent.map { case (s, c, cv) =>
          (s, c, mMap.getOrElse((s, c), cv)) }
      }
      require(cent.count(_._1 == 0) == effLists,
        s"PQ train invariant broken: ${cent.count(_._1 == 0)} centroids in " +
          s"subspace 0 != $effLists (k=$k)")
      spark.createDataset(cent.toIndexedSeq).toDF("s", "cell", "cv")
    } finally subs.unpersist(blocking = false)
  }

  /** Compress the corpus: `(id, codes ARRAY<INT>)` — code `s` is the nearest
    * codeword (exact integer L2, ties → lowest cell) of subspace `s`. One
    * explode to `corpus·m` subvector rows, one broadcast-hash join against
    * the `m·k`-row codebooks, two partial-agg'd hash aggregations — no
    * window, no shuffle keyed on anything wider than the id.
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int): DataFrame = {
    subVectors(corpus, idCol, vecCol, m)
      .join(broadcast(codebooks), Seq("s"))
      .select(col("id"), col("s"), col("cell"),
        IvfIndex.l2Q(col("sub"), col("cv")).as("d2"))
      .groupBy(col("id"), col("s"))
      .agg(min_by(col("cell"), struct(col("d2"), col("cell"))).as("code"))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("s"), col("code")))).as("p"))
      .select(col("id"), expr("transform(p, x -> x.code)").as("codes"))
  }

  /** The ADC scan: approximate squared-L2 of every probe to every corpus
    * vector, computed from codes alone — `Σ_s dtable[probe][s][code_s]`.
    * `dtable` (probe × subspace × codeword exact distances, `probes·m·k`
    * rows) broadcasts; the corpus side is its exploded codes. Exposed for
    * the spec's straight-line cross-check.
    */
  def adcDistances(probes: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, codebooks: DataFrame, m: Int): DataFrame = {
    val dtab = subVectors(probes, idCol, vecCol, m)
      .join(broadcast(codebooks), Seq("s"))
      .select(col("id").as("probe_id"), col("s"), col("cell").as("code"),
        IvfIndex.l2Q(col("sub"), col("cv")).as("d2"))
    encode(corpus, idCol, vecCol, codebooks, m)
      .select(col("id").as("neighbor_id"), posexplode(col("codes")))
      .select(col("neighbor_id"), col("pos").as("s"), col("col").as("code"))
      .join(broadcast(dtab), Seq("s", "code"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .groupBy(col("probe_id"), col("neighbor_id"))
      .agg(sum(col("d2")).as("adc_d2"))
  }

  /** A trained PQ index: the `m`·`k` codebooks plus the corpus compressed to
    * codes. This is the artifact that makes PQ's economics work at 100 TB —
    * the codes relation is ~16 B/vector (vs 256 B of floats), so the ADC
    * scan set fits where the raw corpus cannot; the full-vector corpus is
    * consulted only for the `probes·rerankN` rerank rows.
    *
    * Schemas: `codebooks(s INT, cell INT, cv ARRAY<LONG>)`,
    * `codes(id LONG, codes ARRAY<INT>)`.
    */
  final case class Index(codebooks: DataFrame, codes: DataFrame, m: Int) {

    /** Persist to `dir` as parquet. Codes are what a scan reads end-to-end,
      * so they repartition to a bounded file count first (one file per
      * shuffle partition of ids — the rows are ~16 B, so unbounded upstream
      * task counts would write metadata-toxic slivers). Codebooks are
      * `m`·`k` rows — one file.
      */
    def save(dir: String): Unit = {
      codebooks.coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
      codes.repartition(col("id"))
        .write.mode("overwrite").parquet(s"$dir/codes")
    }
  }

  /** Train codebooks + compress the corpus once. Train-once-search-many:
    * every [[searchAdc]] call re-runs the m Lloyd trainings AND re-encodes
    * the corpus; a built index pays both exactly once.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String, m: Int = 16,
      k: Int = 32, iters: Int = 2, memoKey: Option[String] = None,
      maxTrainRows: Long = Long.MaxValue): Index = {
    val books = train(corpus, idCol, vecCol, m, k, iters, memoKey,
      maxTrainRows)
    Index(books, encode(corpus, idCol, vecCol, books, m), m)
  }

  /** Load a persisted index. All stored values are exact integers, so a
    * save/load round-trip is bit-exact: [[searchIndex]] over
    * `load(save(build(…)))` returns the same rows as over the in-memory
    * index (pinned in spec).
    */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): Index = {
    val books = spark.read.parquet(s"$dir/codebooks")
      .select(col("s").cast("int"), col("cell").cast("int"), col("cv"))
    val codes = spark.read.parquet(s"$dir/codes")
    Index(books, codes, books.agg(max(col("s"))).head().getInt(0) + 1)
  }

  /** Compress NEW vectors against FROZEN codebooks and append — the PQ twin
    * of [[IvfIndex.append]]: the m Lloyd trainings never re-run; an arriving
    * batch pays only its own encode (one broadcast join over the batch).
    * Same drift trade as IVF: codebooks trained on yesterday's distribution
    * quantize tomorrow's worse — monitor ADC-vs-rerank disagreement and
    * retrain when it grows.
    */
  def append(index: Index, newDocs: DataFrame, idCol: String,
      vecCol: String): Index =
    Index(index.codebooks,
      index.codes.unionByName(
        encode(newDocs, idCol, vecCol, index.codebooks, index.m)), index.m)

  /** ANN search against a prebuilt [[Index]]: probe distance tables from the
    * stored codebooks, ADC scan over the stored codes (the corpus's vectors
    * are NOT touched), exact-cosine rerank of the top `rerankN` against
    * `corpus` — the only step that reads full vectors, and only for
    * `probes·rerankN` ids.
    */
  def searchIndex(probes: DataFrame, index: Index, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, rerankN: Int = 32): DataFrame = {
    val dtab = subVectors(probes, idCol, vecCol, index.m)
      .join(broadcast(index.codebooks), Seq("s"))
      .select(col("id").as("probe_id"), col("s"), col("cell").as("code"),
        IvfIndex.l2Q(col("sub"), col("cv")).as("d2"))
    val adc = index.codes
      .select(col("id").as("neighbor_id"), posexplode(col("codes")))
      .select(col("neighbor_id"), col("pos").as("s"), col("col").as("code"))
      .join(broadcast(dtab), Seq("s", "code"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .groupBy(col("probe_id"), col("neighbor_id"))
      .agg(sum(col("d2")).as("adc_d2"))
    rerank(adc, probes, corpus, idCol, vecCol, k, rerankN)
  }

  /** PQ-ADC ANN search: train → encode → ADC scan → top-`rerankN` candidates
    * per probe (by exact-integer ADC distance, ties → neighbor_id) → exact
    * quantized-cosine rerank → top-`k`. Output matches the IVF/LSH search
    * shape: `(probe_id, neighbor_id, sim, rank)`.
    */
  def searchAdc(probes: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 16, nCodes: Int = 32, iters: Int = 2,
      rerankN: Int = 32, memoKey: Option[String] = None,
      maxTrainRows: Long = Long.MaxValue): DataFrame = {
    val books = train(corpus, idCol, vecCol, m, nCodes, iters, memoKey,
      maxTrainRows)
    rerank(adcDistances(probes, corpus, idCol, vecCol, books, m),
      probes, corpus, idCol, vecCol, k, rerankN)
  }

  /** IVF-PQ ANN search — the composed 100 TB architecture: a coarse IVF
    * quantizer over the unit-sphere vectors prunes each probe to its
    * `nProbe` nearest of `nLists` cells, and within those cells distances
    * come from PQ codes (ADC), never raw vectors. The scan touches
    * ≈ corpus·(nProbe/nLists)·m tiny integer rows — both pruning levers
    * compose multiplicatively with PQ's 16× size reduction. (FAISS's IVFPQ
    * shape, without residual encoding: codebooks quantize the normalized
    * vectors directly, which keeps every intermediate an exact integer.)
    * Trains per call — prefer [[buildIvf]] + [[IvfPq.save]] +
    * [[searchIvfIndex]] for more than one search over a corpus.
    *
    * The coarse quantizer trains on the SAME unit-sphere vectors the PQ
    * slices come from ([[normalized]]), so cell pruning and ADC ranking
    * agree on geometry; measured recall@3 = 0.90 at nLists=16, nProbe=4,
    * m=16, k=32, rerank=32 (vs 0.93 unpruned — the 25% scan pays 3 points).
    */
  def searchIvf(probes: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nLists: Int = 16, nProbe: Int = 4,
      m: Int = 16, nCodes: Int = 32, iters: Int = 2,
      rerankN: Int = 32, memoKey: Option[String] = None,
      maxTrainRows: Long = Long.MaxValue): DataFrame = {
    // nLists is a direct parameter here, so the broadcast guard costs no
    // job at all: both the corpus assignment and the probe stage below
    // broadcast the full coarse set
    IvfIndex.requireCentroidsCollectable(corpus.sparkSession, nLists.toLong,
      "PqIndex.searchIvf coarse quantizer broadcast")
    val qn = normalized(corpus, idCol, vecCol)
    val coarse = coarseQ(qn.select(col("id"), col("qn").as("qv")),
      nLists, iters, memoKey, maxTrainRows)
    val cells = IvfIndex.assign(
      qn.select(col("id"), col("qn").as("qv")), coarse)
      .select(col("id").as("neighbor_id"), col("cell"))
    val probeCells = normalized(probes, idCol, vecCol)
      .crossJoin(broadcast(coarse))
      .select(col("id").as("probe_id"), col("cell"),
        IvfIndex.l2Q(col("qn"), col("cv")).as("d2"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(col("d2"), col("cell"))))
      .filter(col("_rn") <= nProbe)
      .select("probe_id", "cell")
    val cand0 = probeCells.join(cells, Seq("cell"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select("probe_id", "neighbor_id")
    val books = train(corpus, idCol, vecCol, m, nCodes, iters, memoKey,
      maxTrainRows)
    val dtab = subVectors(probes, idCol, vecCol, m)
      .join(broadcast(books), Seq("s"))
      .select(col("id").as("probe_id"), col("s"), col("cell").as("code"),
        IvfIndex.l2Q(col("sub"), col("cv")).as("d2"))
    // candidates join BEFORE the code explode: the exchange carries one row
    // per corpus vector (+ cand0), not m — the explode multiplies only the
    // surviving |cand0| rows
    val adc = encode(corpus, idCol, vecCol, books, m)
      .withColumnRenamed("id", "neighbor_id")
      .join(cand0, Seq("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"), posexplode(col("codes")))
      .select(col("probe_id"), col("neighbor_id"),
        col("pos").as("s"), col("col").as("code"))
      .join(broadcast(dtab), Seq("probe_id", "s", "code"))
      .groupBy(col("probe_id"), col("neighbor_id"))
      .agg(sum(col("d2")).as("adc_d2"))
    rerank(adc, probes, corpus, idCol, vecCol, k, rerankN)
  }

  /** A trained, persistable IVF-PQ index — the FAISS-IVFPQ production shape:
    * the coarse quantizer (`nLists` unit-sphere centroids), the `m`·`k` PQ
    * codebooks, and the corpus reduced to `(neighbor_id, cell, codes)`.
    * Everything [[searchIvf]] retrains per call is computed exactly once
    * here; a loaded search prunes cells by parquet partition pruning and
    * then ADC-scans stored codes — raw vectors are touched only for the
    * rerank rows.
    *
    * Schemas: `coarse(cell INT, cv ARRAY<LONG>)`,
    * `codebooks(s INT, cell INT, cv ARRAY<LONG>)`,
    * `codes(neighbor_id LONG, cell INT, codes ARRAY<INT>)`.
    */
  final case class IvfPq(coarse: DataFrame, codebooks: DataFrame,
      codes: DataFrame, m: Int) {

    /** Memoized coarse-centroid count — [[IvfIndex.Index.nCentroids]]'s
      * twin, so the search-path collect/broadcast guards never add a
      * per-search job.
      */
    lazy val nCoarse: Long = coarse.count()

    /** Persist to `dir`. `codes` is partitioned by `cell` (the vec06/
      * IvfIndex.Index.save discipline): a loaded search's probed-cell filter
      * becomes parquet partition pruning, so untouched cells are never read.
      * The repartition-by-cell aligns write tasks with partition dirs —
      * without it every task writes a sliver of every cell.
      */
    def save(dir: String): Unit = {
      coarse.coalesce(1).write.mode("overwrite").parquet(s"$dir/coarse")
      codebooks.coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
      codes.repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
    }
  }

  /** Train the full IVF-PQ artifact once: coarse quantizer over the
    * unit-sphere vectors, per-subspace PQ codebooks, and the corpus encoded
    * to codes WITH its coarse-cell assignment. Exactly [[searchIvf]]'s
    * training work, factored out so it runs once per corpus instead of once
    * per search call.
    */
  def buildIvf(corpus: DataFrame, idCol: String, vecCol: String,
      nLists: Int = 16, m: Int = 16, nCodes: Int = 32,
      iters: Int = 2, memoKey: Option[String] = None,
      maxTrainRows: Long = Long.MaxValue): IvfPq = {
    // same job-free parameter guard as searchIvf: the cell assignment
    // broadcasts all nLists coarse centroids
    IvfIndex.requireCentroidsCollectable(corpus.sparkSession, nLists.toLong,
      "PqIndex.buildIvf coarse quantizer broadcast")
    val qn = normalized(corpus, idCol, vecCol)
    val coarse = coarseQ(qn.select(col("id"), col("qn").as("qv")),
      nLists, iters, memoKey, maxTrainRows)
    val cells = IvfIndex.assign(
      qn.select(col("id"), col("qn").as("qv")), coarse)
      .select(col("id"), col("cell"))
    val books = train(corpus, idCol, vecCol, m, nCodes, iters, memoKey,
      maxTrainRows)
    val codes = encode(corpus, idCol, vecCol, books, m)
      .join(cells, Seq("id"))
      .select(col("id").as("neighbor_id"), col("cell"), col("codes"))
    IvfPq(coarse, books, codes, m)
  }

  /** Load a persisted [[IvfPq]]. All stored values are exact integers, so
    * search over `loadIvf(save(buildIvf(…)))` reproduces the inline
    * [[searchIvf]] results bit-for-bit (spec + vec15 gate).
    */
  def loadIvf(spark: org.apache.spark.sql.SparkSession, dir: String): IvfPq = {
    val books = spark.read.parquet(s"$dir/codebooks")
      .select(col("s").cast("int"), col("cell").cast("int"), col("cv"))
    // partition-column inference can widen `cell`; pin the written schema
    val codes = spark.read.parquet(s"$dir/codes")
      .select(col("neighbor_id"), col("cell").cast("int"), col("codes"))
    IvfPq(spark.read.parquet(s"$dir/coarse"), books, codes,
      books.agg(max(col("s"))).head().getInt(0) + 1)
  }

  /** [[IvfIndex.appendSaved]]'s IVF-PQ twin: encode a new batch against the
    * FROZEN stored codebooks, assign it to the FROZEN coarse cells, and
    * append the resulting code rows into the touched `cell=` partitions
    * only — neither quantizer retrains, the standing codes are never read,
    * and untouched cells are never written. The ingest path of a
    * production IVF-PQ store; same drift caveat as every frozen-quantizer
    * append (monitor cell balance / ADC-vs-rerank disagreement, retrain
    * offline when they skew).
    */
  def appendSavedIvf(spark: org.apache.spark.sql.SparkSession, dir: String,
      newDocs: DataFrame, idCol: String, vecCol: String): IvfPq = {
    val coarse = spark.read.parquet(s"$dir/coarse")
    // frozen-quantizer ingest broadcasts the stored coarse set — guard it
    // (one parquet metadata-cheap count against a tiny relation)
    IvfIndex.requireCentroidsCollectable(spark, coarse.count(),
      "PqIndex.appendSavedIvf coarse broadcast")
    val books = spark.read.parquet(s"$dir/codebooks")
      .select(col("s").cast("int"), col("cell").cast("int"), col("cv"))
    val m = books.agg(max(col("s"))).head().getInt(0) + 1
    val cells = IvfIndex.assign(
      normalized(newDocs, idCol, vecCol).select(col("id"), col("qn").as("qv")),
      coarse)
      .select(col("id"), col("cell"))
    encode(newDocs, idCol, vecCol, books, m)
      .join(cells, Seq("id"))
      .select(col("id").as("neighbor_id"), col("cell"), col("codes"))
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/codes")
    loadIvf(spark, dir)
  }

  /** [[IvfIndex.removeSaved]]'s IVF-PQ twin: drop ids from the stored codes
    * — only cells holding a dropped id are rewritten (dynamic partition
    * overwrite; emptied partitions deleted explicitly), quantizers and
    * untouched cells are never touched. Ids and 16-byte code rows travel;
    * vectors never do.
    */
  def removeSavedIvf(spark: org.apache.spark.sql.SparkSession, dir: String,
      ids: DataFrame, idCol: String): IvfPq = {
    IvfIndex.removeFromCellPartitioned(spark, s"$dir/codes",
      ids.select(col(idCol).as("neighbor_id")))
    loadIvf(spark, dir)
  }

  /** IVF-PQ search against a prebuilt [[IvfPq]] — nothing retrains: each
    * probe finds its `nProbe` nearest coarse cells (broadcast centroid
    * scan), the stored codes are filtered to the probed cells with a
    * LITERAL `isin` (collected from the probe side, bounded by nLists —
    * static partition pruning on a loaded index, no DPP reliance), and ADC
    * distances come from the stored codes joined against the probe distance
    * tables. Same output contract as [[searchIvf]]: bit-identical rows for
    * the same training parameters.
    */
  def searchIvfIndex(probes: DataFrame, index: IvfPq, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 4,
      rerankN: Int = 32): DataFrame = {
    // the probe→cell stage broadcasts the FULL coarse centroid set, and the
    // probed-cell enumeration below collects a subset of it — both are
    // centroid-proportional, so one guard on the memoized coarse count
    // covers both (|probedCells| ≤ min(|probes|·nProbe, nCoarse) ≤ the
    // budget just verified): refuse loudly past the budget, never OOM
    // (the IvfIndex collect-guard discipline, applied engine-wide)
    IvfIndex.requireCentroidsCollectable(probes.sparkSession, index.nCoarse,
      "PqIndex.searchIvfIndex coarse broadcast + probed-cell enumeration")
    val probeCells = normalized(probes, idCol, vecCol)
      .crossJoin(broadcast(index.coarse))
      .select(col("id").as("probe_id"), col("cell"),
        IvfIndex.l2Q(col("qn"), col("cv")).as("d2"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(col("d2"), col("cell"))))
      .filter(col("_rn") <= nProbe)
      .select("probe_id", "cell")
    val probedCells = probeCells.select(col("cell").cast("int")).distinct()
      .collect().map(_.getInt(0)).sorted
    val dtab = subVectors(probes, idCol, vecCol, index.m)
      .join(broadcast(index.codebooks), Seq("s"))
      .select(col("id").as("probe_id"), col("s"), col("cell").as("code"),
        IvfIndex.l2Q(col("sub"), col("cv")).as("d2"))
    val adc = index.codes
      .filter(col("cell").isin(probedCells.map(Integer.valueOf).toSeq: _*))
      .join(probeCells, Seq("cell"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"), posexplode(col("codes")))
      .select(col("probe_id"), col("neighbor_id"),
        col("pos").as("s"), col("col").as("code"))
      .join(broadcast(dtab), Seq("probe_id", "s", "code"))
      .groupBy(col("probe_id"), col("neighbor_id"))
      .agg(sum(col("d2")).as("adc_d2"))
    rerank(adc, probes, corpus, idCol, vecCol, k, rerankN)
  }

  /** The shared search tail: ADC distances → top-`rerankN` candidates per
    * probe (ties → neighbor_id) → exact quantized-cosine rerank against the
    * full-vector corpus → top-`k`.
    */
  private def rerank(adc: DataFrame, probes: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, rerankN: Int): DataFrame = {
    val cand = adc
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("adc_d2"), col("neighbor_id"))))
      .filter(col("crn") <= rerankN)
      .select("probe_id", "neighbor_id")
    val cq = corpus.select(col(idCol).as("neighbor_id"),
      Similarity.quantize(col(vecCol)).as("cq"))
      .withColumn("n2c", Similarity.dotQ(col("cq"), col("cq")))
    val pq = probes.select(col(idCol).as("probe_id"),
      Similarity.quantize(col(vecCol)).as("pq"))
      .withColumn("n2p", Similarity.dotQ(col("pq"), col("pq")))
    val scored = cand
      .join(cq, Seq("neighbor_id"))
      .join(broadcast(pq), Seq("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        Similarity.cosineQWithNorms(col("pq"), col("cq"),
          col("n2p"), col("n2c")).as("sim"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** `(id, qn)` — each vector quantized then renormalized to the UNIT
    * SPHERE at integer radius 1024 (`floor(qv·1024/√n2)`). The search metric
    * is cosine, and on the sphere L2 ordering agrees with cosine ordering —
    * without this, on a corpus with spread-out norms, large-norm vectors
    * dominate every ADC distance table. Determinism: n2 is an exact integer,
    * `sqrt`/`/` are exactly-rounded IEEE doubles of integer inputs, `floor`
    * re-integrizes — the same cross-engine-portable shape as the cosine
    * expression itself.
    */
  private[operators] def normalized(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), Similarity.quantize(col(vecCol)).as("qv"))
      .withColumn("n2", Similarity.dotQ(col("qv"), col("qv")))
      .select(col("id"), expr(
        """transform(qv, v -> CASE WHEN n2 = 0 THEN CAST(0 AS BIGINT)
          |  ELSE CAST(floor(CAST(v * 1024 AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE))) AS BIGINT) END)"""
          .stripMargin).as("qn"))

  /** `(id, s, sub)` — the unit-sphere subspace slices of every vector
    * (spherical PQ: see [[normalized]]).
    */
  private def subVectors(df: DataFrame, idCol: String, vecCol: String,
      m: Int): DataFrame = {
    val dsub = subDim(df, vecCol, m)
    normalized(df, idCol, vecCol)
      .select(col("id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), s -> slice(qn, s * $dsub + 1, $dsub))")))
      .select(col("id"), col("pos").cast("int").as("s"), col("col").as("sub"))
  }

  /** Subspace width from one sampled row (dimensions are uniform by the
    * embedding-column contract; a bounded single-row action).
    */
  private def subDim(df: DataFrame, vecCol: String, m: Int): Int = {
    val dim = df.select(size(col(vecCol)).as("d")).head().getInt(0)
    require(dim % m == 0, s"vector dim $dim not divisible into $m subspaces")
    dim / m
  }
}
