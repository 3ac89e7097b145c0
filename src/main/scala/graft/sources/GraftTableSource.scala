package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SQLContext}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import graft.cdc.MaterializedTable

/** `spark.read.format("graft").load(dir)` — the materialized-table storage
  * layer as a first-class Spark data source, so plain DataFrame/SQL
  * consumers get the manifest's bucket skipping WITHOUT calling the
  * library API: a relation with `PrunedFilteredScan`, whose scan
  * translates the pushed-down V1 filters into the stats layer's pruning
  * predicate ([[MaterializedTable.readPruned]]) — buckets whose recorded
  * min/max cannot satisfy the filters are never LISTED.
  *
  * Correctness is double-guarded: the translated conjuncts only remove
  * IO (readPruned re-applies them), and every filter is also declared
  * `unhandledFilters`, so Spark re-evaluates the ORIGINAL predicates
  * above the scan — a translation gap can never change results, only
  * forgo skipping (the same conservative stance the stats layer takes
  * everywhere).
  *
  * The relation resolves the manifest at SCAN time, so each query reads
  * the current committed snapshot (the single-writer freshness contract
  * of the storage layer). Time travel and group pins stay library calls
  * (`readVersion` / `TableGroup.read`) — they name a version, which a
  * bare path cannot.
  */
class GraftTableSource extends RelationProvider
    with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with DataSourceRegister {
  override def shortName(): String = "graft"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft source needs a path: spark.read.format(\"graft\").load(dir)"))

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    new GraftTableRelation(ctx, pathOf(parameters))

  /** STREAMING write face — `df.writeStream.format("graft")
    * .option("keys", "k1,k2").option("checkpointLocation", …).start(dir)`:
    * every micro-batch lands as one exactly-once merge, no foreachBatch
    * plumbing. The foreachBatch id IS the merge watermark (batch-id-
    * guarded), so an at-least-once sink callback converges — the
    * GroupCommitStream discipline as a declared sink.
    *
    * Options: `keys` (required on a first write; later writes inherit and
    * REJECT a mismatch), `opCol` (absent ⇒ every row upserts), `orderCols`
    * (absent ⇒ the BATCH id orders versions: later micro-batches beat
    * earlier ones, last-writer-wins at batch granularity — replay-stable
    * because a replayed batch re-derives the same sequence), `numBuckets`,
    * `statsCols`.
    *
    * CHECKPOINT CONTRACT: exactly-once holds for ONE checkpoint lineage.
    * Pointing a FRESH checkpoint at an existing table restarts batch ids
    * at 0, which the merge watermark treats as replay — every batch at or
    * below the committed watermark is a deliberate no-op (that is what
    * makes whole-stream replays safe). To feed an existing table with
    * genuinely new data, keep the original checkpoint (ids stay
    * monotonic); a fresh checkpoint belongs with a fresh table. The
    * batch write face (`df.write.format("graft").mode("append")`) is the
    * unguarded path for out-of-band corrections.
    */
  override def createSink(ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft sink buckets by key columns; partitionBy is not supported")
    new GraftStreamSink(ctx, pathOf(parameters), parameters)
  }

  /** WRITE face — `df.write.format("graft").option("keys", "k1,k2")
    * .mode(...).save(dir)`: the DataFrame lands as an UPSERT batch through
    * the same merge/commit protocol every other writer uses.
    *
    * Options:
    *   - `keys` (required on a first write): comma-separated key columns;
    *     later writes inherit the committed layout and REJECT a mismatch.
    *   - `opCol`: a column carrying insert/update/delete ops (absent ⇒
    *     every row is an upsert).
    *   - `orderCols`: columns ordering row versions (absent ⇒ a synthetic
    *     per-write sequence: each save() beats everything already
    *     committed — last-writer-wins at WRITE granularity, the plain
    *     "save a DataFrame" semantics).
    *   - `numBuckets` (default 64), `statsCols` (comma-separated).
    *
    * SaveMode: Overwrite replaces the table (fresh layout allowed);
    * Append merges; ErrorIfExists/Ignore follow manifest existence.
    */
  override def createRelation(ctx: SQLContext, mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.Dataset[Row]): BaseRelation = {
    val spark = ctx.sparkSession
    val dir = pathOf(parameters)
    val exists = MaterializedTable.exists(spark, dir)
    import org.apache.spark.sql.SaveMode._
    if (exists && mode == ErrorIfExists)
      throw new IllegalStateException(s"graft table already exists at $dir")
    if (exists && mode == Ignore) return new GraftTableRelation(ctx, dir)
    // resolve + validate EVERY option BEFORE any destructive action: an
    // Overwrite without .option("keys") inherits the committed layout, and
    // a bad option (missing keys on a fresh dir, malformed numBuckets,
    // Append layout mismatch) must throw while the committed table is
    // still intact — never after the delete
    val committedKeys =
      if (exists) Some(MaterializedTable.keyLayout(spark, dir)._1) else None
    val keys = parameters.get("keys").map(_.split(",").map(_.trim).toSeq)
      .orElse(committedKeys)
      .getOrElse(throw new IllegalArgumentException(
        "first write needs .option(\"keys\", \"k1,k2\")"))
    if (exists && mode != Overwrite) {
      // Append must match the committed layout; Overwrite may re-layout
      require(keys == committedKeys.get,
        s"keys ${keys.mkString(",")} do not match the table's committed " +
          s"layout (${committedKeys.get.mkString(",")})")
    }
    // absent numBuckets inherits the committed layout on Append (merge
    // rejects a mismatch); Overwrite re-layouts, so it defaults fresh
    val numBuckets = parameters.get("numBuckets").map(_.toInt)
      .orElse(if (exists && mode != Overwrite)
        MaterializedTable.numBucketsOf(spark, dir) else None)
      .getOrElse(64)
    val statsCols = parameters.get("statsCols")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
    val opCol = parameters.get("opCol")
    val orderCols = parameters.get("orderCols")
      .map(_.split(",").map(_.trim).toSeq)
    if (exists && mode == Overwrite) {
      val (fs, p) = {
        val hp = new org.apache.hadoop.fs.Path(dir)
        (hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
      }
      fs.delete(p, true)
    }
    // synthetic write sequence when no order columns are given: strictly
    // above every committed version, so this save()'s rows beat prior
    // state — last-writer-wins at WRITE granularity
    val (base, ord) = orderCols match {
      case Some(oc) => (data, oc)
      case None =>
        val v = MaterializedTable.listVersions(spark, dir)
          .lastOption.getOrElse(0L) + 1L
        (data.withColumn("_graft_seq", lit(v)), Seq("_graft_seq"))
    }
    val (df, op) = opCol match {
      case Some(c) => (base, c)
      case None => (base.withColumn("_graft_op", lit("insert")), "_graft_op")
    }
    MaterializedTable.merge(spark, dir, df, keys, ord, op,
      numBuckets, batchId = None, statsCols = statsCols)
    new GraftTableRelation(ctx, dir)
  }
}

class GraftTableRelation(ctx: SQLContext, dir: String)
    extends BaseRelation with PrunedFilteredScan {

  override def sqlContext: SQLContext = ctx

  override val schema: StructType = {
    val (_, full) = MaterializedTable.keyLayout(ctx.sparkSession, dir)
    StructType(full.filterNot(_.name == "_bucket"))
  }

  /** V1 filter → pruning predicate. Only shapes the stats layer can use
    * for skipping translate; anything else contributes no constraint
    * (Spark re-applies every filter above the scan regardless).
    */
  private def pruningColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case And(l, r) => (pruningColumn(l), pruningColumn(r)) match {
      case (Some(a), Some(b)) => Some(a && b)
      case (one, other) => one.orElse(other) // a one-sided AND still prunes
    }
    case _ => None // OR / IN / null tests / string ops: no skipping claim
  }

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters // Spark re-evaluates everything above the scan — see scaladoc

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val spark = ctx.sparkSession
    val pred = filters.flatMap(pruningColumn).reduceOption(_ && _)
    val base = pred match {
      case Some(p) => MaterializedTable.readPrunedOnExecutors(spark, dir, p)
      case None => MaterializedTable.read(spark, dir)
    }
    // an empty projection (COUNT(*) pushdown shape) still needs row arity
    val projected =
      if (requiredColumns.isEmpty) base.select()
      else base.select(requiredColumns.map(col).toIndexedSeq: _*)
    projected.rdd
  }
}

/** V1 streaming sink: each micro-batch is one [[MaterializedTable.merge]]
  * with the batch id as the exactly-once watermark. First write resolves
  * layout exactly like the batch write face (keys required, later batches
  * inherit + validate).
  */
class GraftStreamSink(ctx: SQLContext, dir: String,
    parameters: Map[String, String])
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long,
      data: org.apache.spark.sql.DataFrame): Unit = {
    val spark = ctx.sparkSession
    // a streaming-tagged frame cannot feed batch writers directly; rebind
    // the rows under a batch frame (the standard V1 sink move — the rows
    // are already computed for this micro-batch)
    val batch = org.apache.spark.sql.GraftShims.asBatchDataFrame(data)
    val exists = MaterializedTable.exists(spark, dir)
    val keys = parameters.get("keys").map(_.split(",").map(_.trim).toSeq)
      .getOrElse {
        if (!exists) throw new IllegalArgumentException(
          "first write needs .option(\"keys\", \"k1,k2\")")
        else MaterializedTable.keyLayout(spark, dir)._1
      }
    if (exists) {
      val committed = MaterializedTable.keyLayout(spark, dir)._1
      require(keys == committed,
        s"keys ${keys.mkString(",")} do not match the table's committed " +
          s"layout (${committed.mkString(",")})")
    }
    // absent numBuckets inherits the committed layout (merge rejects a
    // mismatch, so a defaulted 64 would break every non-64 table on resume)
    val numBuckets = parameters.get("numBuckets").map(_.toInt)
      .orElse(if (exists) MaterializedTable.numBucketsOf(spark, dir) else None)
      .getOrElse(64)
    val statsCols = parameters.get("statsCols")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
    val opCol = parameters.get("opCol")
    val orderCols = parameters.get("orderCols")
      .map(_.split(",").map(_.trim).toSeq)
    // no order columns ⇒ the batch id orders versions: later micro-batches
    // beat earlier ones, and a REPLAYED batch re-derives the same sequence
    // (deterministic under the at-least-once callback; the merge watermark
    // makes it a no-op anyway)
    val (base, ord) = orderCols match {
      case Some(oc) => (batch, oc)
      case None => (batch.withColumn("_graft_seq", lit(batchId)),
        Seq("_graft_seq"))
    }
    val (df, op) = opCol match {
      case Some(c) => (base, c)
      case None => (base.withColumn("_graft_op", lit("insert")), "_graft_op")
    }
    // bounded retry on a lost optimistic commit (a maintenance job racing
    // the stream): merges are batch-id idempotent, so the retry converges —
    // the streaming query survives instead of dying to a retryable race.
    // A crashed-writer StaleCommitClaim still fails the query by design.
    // Retention check warns once per dir (or refuses under the enforce
    // policy) — the sink is a standing fold
    MaterializedTable.checkStandingFoldRetention(spark, dir,
      "graft stream sink")
    MaterializedTable.withCommitRetry(spark) {
      MaterializedTable.merge(spark, dir, df, keys, ord, op, numBuckets,
        batchId = Some(batchId), statsCols = statsCols)
    }
    ()
  }
}
