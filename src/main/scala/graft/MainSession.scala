package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder behind graft's mains (Bench, Verify,
  * PlanAudit, SoakSynth, RecallSoak). Every main runs `local[cpus]` with
  * `cpus` shuffle partitions, UTC session time and no UI; each adds only
  * the conf it names, so every main keeps exactly the session it always ran.
  */
private[graft] object MainSession {

  /** `SPARK_GRAFT_CPUS`, else the main's own default. */
  def cpus(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** A warehouse dir under the JVM temp dir, shared across runs. */
  val Warehouse: Seq[(String, String)] = Seq("spark.sql.warehouse.dir" ->
    new java.io.File(sys.props("java.io.tmpdir"), "graft-warehouse").getPath)

  /** Bench's split tuning (shared by `PlanAudit --census`), documented for
    * the 100 TB reading: maxPartitionBytes is lowered to 2 MiB because the
    * sf test tables are single parquet files (lineitem sf0.1 ≈ 10 MiB) and
    * the 128 MiB default would scan them on ONE core. On a real cluster
    * data arrives in many files and the default is right.
    */
  val BenchTuning: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> (2 * 1024 * 1024).toString,
    "spark.sql.files.openCostInBytes" -> (256 * 1024).toString)

  /** `conf` is applied last, so it may override the common settings. */
  def apply(cpus: String, logLevel: String = "WARN",
      conf: Seq[(String, String)] = Nil): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
