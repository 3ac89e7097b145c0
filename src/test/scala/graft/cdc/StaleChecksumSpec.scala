package graft.cdc

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkTestSession
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

/** Tables written by Hadoop's checksummed local writer carry `.crc`
  * sidecars beside their commit points. An atomic local replace renames
  * only the file itself, so the first commit after an upgrade leaves such
  * a sidecar describing bytes that are gone. Every face must ignore it.
  */
class StaleChecksumSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(rs: (String, String, Long, Long)*): DataFrame =
    rs.toSeq.toDF("op", "key", "lsn", "v").withColumn("seq", lit(0L))

  /** Put a sidecar beside `file` holding the checksum of other bytes: the
    * shape a checksummed writer's sidecar has once the file was replaced
    * without it.
    */
  private def plantStaleCrc(file: String): Unit = {
    val f = Paths.get(file)
    val scratch = f.resolveSibling("_scratch")
    val local = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val os = local.create(new Path(scratch.toString), true)
    try os.write("""{"stale":"bytes of an older commit"}""".getBytes("UTF-8"))
    finally os.close()
    Files.move(f.resolveSibling("._scratch.crc"),
      f.resolveSibling(s".${f.getFileName}.crc"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.delete(scratch)
  }

  test("stale .crc sidecars on the manifest and the group root break no face") {
    spark.conf.set("spark.graft.materialized.retainVersions", "4")
    try {
      val base = Files.createTempDirectory("graft_crc").toString
      val root = s"$base/g"
      val table = s"$root/t"
      val ord = Seq("lsn", "seq")
      def groupCommit(id: Long, df: DataFrame): Unit = {
        TableGroup.commit(spark, root,
          Seq(TableGroup.TableBatch("t", df, Seq("key"))), ord,
          batchId = id, numBuckets = 2)
        ()
      }
      groupCommit(1L, rows(("insert", "a", 1L, 1L), ("insert", "b", 2L, 2L)))
      plantStaleCrc(s"$table/_graft_manifest.json")
      plantStaleCrc(s"$root/_graft_group.json")

      def state = MaterializedTable.read(spark, table)
        .select("key", "v").as[(String, Long)].collect().toMap
      assert(state == Map("a" -> 1L, "b" -> 2L))
      assert(MaterializedTable.lookup(spark, table, Seq("b"))
        .select("v").as[Long].collect().toSeq == Seq(2L))

      val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      val q = spark.readStream.format("graft-group-cdf").load(root)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select("op", "key").as[(String, String)].collect()
            .foreach(got.add)
          ()
        }
        .option("checkpointLocation", s"$base/ck")
        .start()
      try {
        q.processAllAvailable()
        groupCommit(2L, rows(("update", "a", 3L, 10L), ("insert", "c", 4L, 3L)))
        q.processAllAvailable()
      } finally q.stop()
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSet == Set(
        ("update", """{"key":"a"}"""), ("insert", """{"key":"c"}""")))
      assert(TableGroup.read(spark, root, "t").count() == 3L)

      assert(MaterializedTable.merge(spark, table,
        rows(("delete", "b", 5L, 0L)), Seq("key"), ord, numBuckets = 2,
        batchId = Some(3L)) > 0)
      assert(state == Map("a" -> 10L, "c" -> 3L))
      val feed = MaterializedTable.changeFeed(spark, table, 1L, 3L, Seq("key"))
        .select("op", "key").as[(String, String)].collect().toSet
      assert(feed == Set(("update", "a"), ("insert", "c"), ("delete", "b")))
    } finally spark.conf.unset("spark.graft.materialized.retainVersions")
  }
}
