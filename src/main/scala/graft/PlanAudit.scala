package graft

import org.apache.spark.sql.SparkSession

/** Plan evidence for PLANS.md, two modes:
  *   - `runMain graft.PlanAudit <sfDir> <query...>` dumps
  *     `explain("formatted")` for each named query; `--merge-write` in
  *     place of a query dumps the merge write's executed plan.
  *   - `runMain graft.PlanAudit --census <prefix>...` prints one line of
  *     plan-shape counters per gate whose name starts with a prefix (all
  *     gates when none is given). Env contract as Bench
  *     (SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS), and Bench's split tuning.
  */
object PlanAudit {
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--census")) census(args.tail.toSeq)
    else {
      val sfDir = args.head
      val spark = MainSession("4", "ERROR")
      for (name <- args.tail) {
        if (name == "--merge-write") dumpMergeWritePlan(spark, sfDir)
        else {
          println(s"\n===== $name =====")
          SparkEntry.queries(name)(spark, sfDir).explain("formatted")
        }
      }
      spark.stop()
    }

  // census counter → the plan-string patterns it sums
  private val censusShapes = Seq(
    "exch" -> Seq("Exchange hashpartitioning", "Exchange rangepartitioning",
      "Exchange RoundRobinPartitioning"),
    "single" -> Seq("Exchange SinglePartition"),
    "smj" -> Seq("SortMergeJoin"),
    "bhj" -> Seq("BroadcastHashJoin"),
    "shj" -> Seq("ShuffledHashJoin"),
    "bnl" -> Seq("BroadcastNestedLoopJoin"),
    "cart" -> Seq("CartesianProduct"),
    "scans" -> Seq("FileScan parquet", "Scan parquet"),
    "cache" -> Seq("InMemoryTableScan"))

  /** Plan-shape census over the declared surface: for each selected gate,
    * build its DataFrame and count, in the executed plan's pre-execution
    * form, exchanges, join strategies, cartesian products, single-partition
    * exchanges, scans and cache reads. Wall-clock on a small VM swings
    * ±20 %; these counters do not. Building a gate's DataFrame RUNS its
    * eager setup (merges, index builds), so a sweep costs roughly a bench
    * of the selected families.
    */
  private def census(prefixes: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = MainSession(MainSession.cpus("4"), "ERROR",
      MainSession.Warehouse ++ MainSession.BenchTuning)
    val selected = SparkEntry.queries
      .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val p = fn(spark, sfDir).queryExecution.executedPlan.toString
        val counts = censusShapes.map { case (key, pats) =>
          s"$key=${pats.map(_.r.findAllIn(p).size).sum}" }
        println(s"[planstats] $name ${counts.mkString(" ")} " +
          s"nodes=${p.linesIterator.size}")
      } catch {
        case e: Throwable =>
          println(s"[planstats] $name ERROR ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(120)}")
      }
    }
    spark.stop()
  }

  /** The MaterializedTable.merge write job's EXECUTED plan (the gate
    * functions run merges eagerly, so the returned-DataFrame explain cannot
    * show it): stage two merges into a temp table — the second one exercises
    * the read-existing-state ∪ incoming path — and print every parquet-write
    * plan a QueryExecutionListener observes.
    */
  private def dumpMergeWritePlan(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        if (qe.analyzed.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.Command] &&
            qe.toString.contains("InsertIntoHadoopFsRelation"))
          plans.add(qe.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val env = graft.cdc.ChangelogGen.fromEvents(spark, sfDir).toDF()
    val mx = env.agg(max(col("lsn"))).head().getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("planaudit").toString + "/t"
    graft.cdc.MaterializedTable.merge(spark, dir,
      env.filter(col("lsn") < mx / 2), Seq("key"), Seq("lsn", "seq"))
    plans.clear() // keep only the second merge: existing ∪ incoming
    graft.cdc.MaterializedTable.merge(spark, dir,
      env.filter(col("lsn") >= mx / 2), Seq("key"), Seq("lsn", "seq"))
    // QueryExecutionListener fires async on the bus
    org.apache.spark.sql.GraftShims.drainListenerBus(spark.sparkContext)
    spark.listenerManager.unregister(listener)
    println(s"\n===== merge write (second merge: existing state ∪ incoming) =====")
    plans.forEach(p => println(p))
  }
}
