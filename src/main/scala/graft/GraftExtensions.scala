package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: makes every graft function available
  * to pure-SQL users at session build time —
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  *   // or spark.sql.extensions=graft.GraftExtensions
  *
  * Also injects the optimizer rules: [[graft.plans.RangeJoinRewrite]]
  * (plain-SQL range theta joins, planned as nested loops, rerouted onto the
  * binned equi-join), [[graft.plans.ApproxDistinctRewrite]] (opt-in
  * COUNT(DISTINCT) → HyperLogLog++ sketch substitution, conf-gated OFF),
  * [[graft.plans.JoinEliminationRewrite]] (opt-in unused left-join
  * elimination under declared unique keys, conf-gated OFF),
  * [[graft.plans.MetadataCountRewrite]] (opt-in metadata-only COUNT(*)
  * from parquet footers, conf-gated OFF),
  * [[graft.plans.MetadataMinMaxRewrite]] (opt-in metadata-only MIN/MAX
  * from parquet column-chunk statistics, conf-gated OFF), and
  * [[graft.plans.SummaryNavigationRewrite]] (opt-in materialized-view
  * matching against [[graft.plans.SummaryRegistry]], conf-gated OFF).
  * On a session built without extensions, append them at runtime instead:
  *
  *   spark.experimental.extraOptimizations :+= graft.plans.RangeJoinRewrite
  *
  * (No planner STRATEGIES are needed: whole-operator semantics are
  * compositions of built-ins that Catalyst already plans well; the rewrite
  * rule exists precisely to route a bad built-in plan onto one of those
  * compositions.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def fn(name: String, usage: String, arity: Int)(
      builder: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo("graft", name, name, usage, ""),
      (es: Seq[Expression]) => {
        require(es.length == arity,
          s"$name expects $arity argument(s), got ${es.length}; usage: $usage")
        builder(es)
      })

  override def apply(e: SparkSessionExtensions): Unit = {
    // a Once batch after operator optimization, as extraOptimizations runs
    // it: inside that batch the rule never reached a fixed point
    e.injectPreCBORule(_ => graft.plans.RangeJoinRewrite)
    e.injectOptimizerRule(_ => graft.plans.ApproxDistinctRewrite)
    e.injectOptimizerRule(_ => graft.plans.JoinEliminationRewrite)
    e.injectOptimizerRule(_ => graft.plans.MetadataCountRewrite)
    e.injectOptimizerRule(_ => graft.plans.MetadataMinMaxRewrite)
    e.injectOptimizerRule(_ => graft.plans.SummaryNavigationRewrite)
    e.injectFunction(fn("avro_safe_name",
      "avro_safe_name(str) - hex-escapes str into a valid Avro identifier", 1)(
      es => AvroSafeNameExpr(es.head)))
    e.injectFunction(fn("schema_id_frame",
      "schema_id_frame(id, payload) - Confluent 5-byte wire framing", 2)(
      es => SchemaIdFrame(es.head, es(1))))
    e.injectFunction(fn("schema_id_of",
      "schema_id_of(framed) - schema id of a registry-framed message", 1)(
      es => SchemaIdOf(es.head)))
    e.injectFunction(fn("strip_schema_frame",
      "strip_schema_frame(framed) - payload of a registry-framed message", 1)(
      es => StripSchemaFrame(es.head)))
    e.injectFunction(fn("doc_fingerprint",
      "doc_fingerprint(text) - rolling-hash document fingerprint", 1)(
      es => DocFingerprintExpr(es.head)))
    e.injectFunction(fn("simhash",
      "simhash(text) - 32-bit near-duplicate simhash over tokens", 1)(
      es => SimHashExpr(es.head)))
    e.injectFunction(fn("kafka_partition",
      "kafka_partition(key, n) - Kafka default-partitioner murmur2 mapping", 2)(
      es => KafkaPartitionExpr(es.head, es(1))))
    e.injectFunction(fn("minhash_signature",
      "minhash_signature(text) - 16-permutation MinHash signature array", 1)(
      es => MinHashSigExpr(es.head)))
  }
}
