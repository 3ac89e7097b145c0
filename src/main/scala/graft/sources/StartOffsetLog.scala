package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.cdc.MetaFile

/** Creation-time start offset of a no-backfill streaming source, persisted
  * under the stream's own metadata dir (the `metadataPath` Spark hands
  * `StreamSourceProvider.createSource` — checkpoint-scoped, one per query).
  *
  * Why it must be persisted: a V1 source re-created on RESTART re-derives
  * "the offset current at query start" as NOW, but the engine may re-plan
  * batch 0 (offset log written, commit log not yet) with the ORIGINAL end
  * offset — and a fresh, newer start then reads as an offset REGRESSION
  * (group feed) or silently swallows the first window (from >= to). The
  * start offset is part of the stream's identity; it lives with the
  * checkpoint. Found live by the subscriber-lag drill in
  * GraftGroupChangeFeedSourceSpec.
  */
private[sources] object StartOffsetLog {

  /** Return the persisted start offset, or persist `compute` on first
    * creation. Empty `metadataPath` (direct construction in tests/tools)
    * skips persistence and just computes. Single-writer by construction
    * (the engine creates one source per query). The write is an atomic
    * replace ([[MetaFile.replace]]), so a crash mid-write never leaves a
    * torn offset, and a replace over an empty leftover never opens a
    * window with no file — a restart inside one would silently recompute
    * the start as "now", the exact regression this class exists to
    * prevent. An empty or absent file re-computes.
    */
  def resolve(spark: SparkSession, metadataPath: String,
      compute: => String): String = {
    if (metadataPath == null || metadataPath.isEmpty) return compute
    val p = new Path(metadataPath, "graft-start-offset")
    MetaFile.read(spark, p).filter(_.nonEmpty).getOrElse {
      val v = compute
      MetaFile.replace(spark, p, v)
      v
    }
  }
}
