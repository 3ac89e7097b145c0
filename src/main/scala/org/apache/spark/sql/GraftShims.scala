package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column↔Expression converters — the
  * standard pattern for libraries registering native Catalyst expressions
  * (Spark 4 hides Column's Expression constructor behind ColumnNode).
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def sessionState(s: SparkSession): internal.SessionState =
    s.asInstanceOf[classic.SparkSession].sessionState

  /** Block until the listener bus is empty (`waitUntilEmpty` is
    * spark-private). After it returns, every listener has seen every event
    * posted before the call, so listener-fed state (including
    * `statusTracker`) can be read without polling.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The VALUE expression under a sort column (`col("v").desc` → `v`);
    * a non-sort column passes through — for callers that need to
    * aggregate over an ordering's key expressions.
    */
  def sortChild(c: Column): Column = c.node match {
    // a plain `col.desc` Column carries an internal.SortOrder ColumnNode;
    // `expression` wraps it LAZILY (ColumnNodeExpression), so the node
    // must be matched first — the catalyst match alone never fires
    case so: org.apache.spark.sql.internal.SortOrder => Column(so.child)
    case _ => expression(c) match {
      case so: org.apache.spark.sql.catalyst.expressions.SortOrder =>
        column(so.child)
      case e => column(e)
    }
  }

  /** A batch result re-tagged as a STREAMING DataFrame — what a V1
    * streaming `Source.getBatch` must return (MicroBatchExecution asserts
    * isStreaming; every built-in V1 source uses the same private
    * `internalCreateDataFrame(…, isStreaming = true)` this bridges to).
    * The input plan is evaluated eagerly to an InternalRow RDD first.
    */
  def asStreamingDataFrame(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd,
      df.schema, isStreaming = true)
  }

  /** The inverse: a streaming-tagged micro-batch frame (what a V1
    * `Sink.addBatch` receives) re-bound as a BATCH DataFrame, so batch
    * writers can consume it. Rows are copied out of the unsafe buffers the
    * streaming plan reuses.
    */
  def asBatchDataFrame(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    // two streaming-tag shapes arrive here: a LogicalRDD(isStreaming=true)
    // (a Source.getBatch result — its rows are already materialized, only
    // the tag differs, and executing it through a batch QueryExecution
    // trips UnsupportedOperationChecker, so strip the tag in-plan), and a
    // micro-batch scan over a streaming-tagged file relation (a
    // Sink.addBatch input — tolerated by toRdd). Strip the first, then
    // rebind rows under a plain batch frame.
    import org.apache.spark.sql.execution.LogicalRDD
    val logical = df.queryExecution.logical
    val hasStreamingRdd = logical.exists {
      case l: LogicalRDD => l.isStreaming
      case _ => false
    }
    val rdd =
      if (hasStreamingRdd) {
        val plan = logical.transform {
          case l: LogicalRDD if l.isStreaming =>
            l.copy(isStreaming = false)(cs, None, None)
        }
        classic.Dataset.ofRows(cs, plan).queryExecution.toRdd
      } else {
        // a Sink.addBatch input: its QueryExecution was built by the
        // ENGINE (IncrementalExecution) — reuse it; a rebuilt batch one
        // would re-run the checker against the streaming-tagged relation
        df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd
      }
    cs.internalCreateDataFrame(rdd.map(_.copy()), df.schema,
      isStreaming = false)
  }
}
