package graft

import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, PqIndex, Similarity}

/** ANN recall@k at SOAK scale — the measurement that keeps the sampled-
  * codebook + two-level-probe performance wins honest: the r12 speedups
  * (maxTrainRows sample training, probeCellsTwoLevel) are only wins if
  * recall holds where they actually engage, i.e. beyond the oracle-checked
  * gate scale. Gate-scale recall floors are spec-pinned (PqIndexSpec,
  * vec23's hash-exact oracle); this main measures the same quality number
  * on a SoakSynth corpus and prints one JSON line for the BASELINE ledger.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<soakDir> runMain graft.RecallSoak [k]`
  * or `runMain graft.RecallSoak <k> clustered <n>` — the STRUCTURED
  * regime: a deterministic mixture-of-gaussians corpus (√n clusters,
  * uniform[-1,1) centers, 0.25-scale per-point noise, 64 dims) instead of
  * the soak corpus's structure-free gaussians. Real embedding spaces are
  * clustered — that structure is exactly what IVF exploits and what a
  * structure-free corpus denies it (base-scale recall there is
  * coverage-bound: 0.49@3 at N=2,000 is the index's honest ceiling on
  * noise, not a regression), so the declared floors ride THIS regime.
  *
  * Three production paths, all vs the exact quantized-cosine brute force
  * ([[Similarity.knnBrute]] — integer-deterministic, so recall is a fixed
  * number, not an eyeball):
  *   - `ivf_two_level`: vec13's scale path — [[IvfIndex.buildScaled]] with
  *     the gate's own sizing policy (min(N/32, 4√N), sample-trained,
  *     two-level assignment) searched through the TWO-LEVEL probe.
  *   - `ivf_pq`: vec12's path — IVF-PQ ADC with sample-trained codebooks
  *     ([[PqIndex.searchIvf]], gate knobs m=16, nCodes=32, nProbe=4,
  *     rerank on exact quantized cosine).
  *   - `ivf_pq_persisted`: vec15's path — the same artifact through
  *     save/load ([[PqIndex.buildIvf]]/[[PqIndex.searchIvfIndex]]), pinning
  *     that persistence costs zero recall (integers round-trip bit-exact).
  */
object RecallSoak {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val spark = MainSession(MainSession.cpus("8"))
    try {
      val clustered = args.length >= 2 && args(1) == "clustered"
      val baseEmb =
        if (!clustered) Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
        else {
          // deterministic mixture of gaussians: √n centers uniform in
          // [-1,1)^64 (xxhash64-seeded — reproducible across runs/sessions,
          // no RNG state), point = center + 0.25·noise. Expected center
          // separation ≈ 6.5 L2 vs in-cluster spread ≈ 1.2 — clusters are
          // real but overlap at the margins, the regime a trained coarse
          // quantizer is supposed to win on.
          val nTarget = args.lift(2).map(_.toLong).getOrElse(200000L)
          val nClusters = math.max(16L,
            math.round(math.sqrt(nTarget.toDouble)))
          def u(seed: String, a: org.apache.spark.sql.Column,
              b: org.apache.spark.sql.Column) =
            (pmod(xxhash64(lit(seed), a, b), lit(2000L)) - 1000L)
              .cast("double") / 1000.0
          spark.range(nTarget).select(col("id").as("vec_id"),
            transform(sequence(lit(0), lit(63)), d =>
              (u("ctr", col("id") % nClusters, d) +
                u("pt", col("id"), d) * 0.25).cast("float")).as("embedding"))
        }
      val emb = baseEmb.localCheckpoint()
      val n = emb.count()
      // deterministic probe sample (~100 rows): every 1/stride-th id — the
      // soak corpus's replicas make these span original + shifted content
      val stride = math.max(1L, n / 100L)
      val probes = emb.filter(pmod(col("vec_id"), lit(stride)) === 0)
        .localCheckpoint()
      val nProbes = probes.count()
      val exact = Similarity.knnBrute(probes, emb, "vec_id", "embedding", k)
        .select("probe_id", "neighbor_id").localCheckpoint()
      def meanRecall(approx: org.apache.spark.sql.DataFrame): Double =
        Similarity.recallAtK(exact,
            approx.select("probe_id", "neighbor_id"), k)
          .agg(avg(col("recall"))).head().getDouble(0)

      // vec13's scale path: policy-sized, sample-trained, two-level end2end.
      // Measured as a (nProbe, superProbe) GRID — the path's recall floor
      // is declared against the recommended knobs, and the grid keeps the
      // cost/recall trade visible round-over-round (each widening probes
      // more cells: candidates ≈ corpus·nProbe/nLists, still ≪ corpus)
      val nLists = math.max(16, math.min(n / 32,
        4 * math.round(math.sqrt(n.toDouble))).toInt)
      val sc = math.max(1, math.round(math.sqrt(nLists.toDouble)).toInt)
      val idx = IvfIndex.buildScaled(emb, "vec_id", "embedding", nLists,
        iters = 2)
      val twoLevelGrid = Seq((3, 3), (6, 4), (10, 6)).map {
        case (np, sp) =>
          val r = meanRecall(IvfIndex.searchIndex(probes, idx, "vec_id",
            "embedding", k, nProbe = np,
            probeSuperCount = if (nLists > 64) sc else 1,
            probeSuperProbe = sp))
          (np, sp, r)
      }
      val rIvf = twoLevelGrid.head._3

      // vec12's path (gate knobs, sample-trained codebooks); rerank widened
      // with k (the gate reranks ~10× its k)
      val rPq = meanRecall(PqIndex.searchIvf(probes, emb, "vec_id",
        "embedding", k, nLists = 16, nProbe = 4, m = 16, nCodes = 32,
        iters = 2, rerankN = math.max(32, 8 * k), memoKey = Some(sfDir),
        maxTrainRows = 100000L))

      // vec15's path: the persisted artifact must reproduce vec12 exactly
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_recall_soak_" + Integer.toHexString(sfDir.hashCode)).getPath
      PqIndex.buildIvf(emb, "vec_id", "embedding", nLists = 16, m = 16,
        nCodes = 32, iters = 2, memoKey = Some(sfDir),
        maxTrainRows = 100000L).save(dir)
      val rPqP = meanRecall(PqIndex.searchIvfIndex(probes,
        PqIndex.loadIvf(spark, dir), emb, "vec_id", "embedding", k,
        nProbe = 4, rerankN = math.max(32, 8 * k)))

      def f(d: Double) = BigDecimal(d).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toString
      // scalastyle:off println
      val grid = twoLevelGrid.map { case (np, sp, r) =>
        s""""p${np}s$sp":${f(r)}""" }.mkString(",")
      val regime = if (clustered) "clustered" else "soak"
      println(s"""{"metric":"recall_soak","regime":"$regime","k":$k,"n":$n,""" +
        s""""n_probes":$nProbes,"nLists":$nLists,""" +
        s""""ivf_two_level":${f(rIvf)},"ivf_two_level_grid":{$grid},""" +
        s""""ivf_pq":${f(rPq)},"ivf_pq_persisted":${f(rPqP)}}""")
      // scalastyle:on println
    } finally spark.stop()
  }
}
