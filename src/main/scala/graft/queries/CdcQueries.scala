package graft.queries

import graft.Tables
import graft.cdc._
import graft.functions.GraftFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC-semantics surface: the reference's own behaviors (latest-state
  * compaction/tombstones, update splitting, at-least-once dedup, topic
  * routing, registry framing, snapshot∪stream lifecycle) run through the
  * engine's real operators, with DuckDB oracles that restate the semantics
  * in plain SQL over the `events` table (the changelog generator's source).
  */
object CdcQueries {

  private def q(name: String, sql: String)(f: (SparkSession, String) => DataFrame) =
    Q(name, f, Some(sql))

  private val opSql = ChangelogGen.opSql

  /** ONE-PARSE payload decode (optimization guide §2.3/§4.1 — the changelog
    * decode is the hottest row-level op in the family): gates that read two
    * fields of the `after` JSON used to run two independent
    * `get_json_object` calls — two full Jackson passes per row. `_af` is a
    * single `from_json` per row; sites read its struct fields. The alias is
    * produced in its own projection so CollapseProject cannot inline (and
    * re-duplicate) the parse into each field read. Field semantics are
    * identical: JSON numbers parse to the same doubles the string-extract +
    * cast produced, strings unquote the same, absent/null behave the same
    * (exceptAll-verified both ways at sf0.1, and every rewritten gate is
    * oracle-gated).
    */
  private val afterSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "user_id BIGINT, event_type STRING, value DOUBLE")
  private def withAfter(df: DataFrame): DataFrame =
    df.withColumn("_af", from_json(col("after"), afterSchema))

  val defs: Seq[Q] = Seq(
    // --- latest-state compaction with tombstones (the flagship CDC operator) --
    q("cdc01_latest_state",
      s"""WITH ranked AS (SELECT *, row_number() OVER (
         |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events)
         |SELECT user_id, event_id AS last_lsn,
         |  CASE event_type WHEN 'signup' THEN 'insert' ELSE 'update' END AS last_op,
         |  event_type AS last_type, value AS last_value
         |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
      withAfter(LatestState.batch(env, Seq("table", "key"), Seq("lsn", "seq")))
        .select(col("key").cast("long").as("user_id"),
          col("lsn").as("last_lsn"),
          col("op").as("last_op"),
          col("_af.event_type").as("last_type"),
          col("_af.value").as("last_value"))
    },

    // --- tombstoned keys (delete ⇒ null value, kafka/bottledwater.c:533–541) --
    q("cdc02_deleted_keys",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events)
        |SELECT user_id, event_id AS tombstone_lsn
        |FROM ranked WHERE rn = 1 AND event_type = 'error'""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
      LatestState.batch(env, Seq("table", "key"), Seq("lsn", "seq"), keepDeleted = true)
        .filter(col("op") === Op.Delete)
        .select(col("key").cast("long").as("user_id"),
          col("lsn").as("tombstone_lsn"))
    },

    // --- update splitting on key change (ext/protocol_server.c:129–136) -------
    q("cdc03_update_split",
      s"""SELECT 'delete' AS op, CAST(user_id AS VARCHAR) AS key, event_id AS lsn
         |FROM events WHERE event_type = 'purchase'
         |UNION ALL
         |SELECT 'insert' AS op, CAST(user_id + 1000 AS VARCHAR) AS key, event_id AS lsn
         |FROM events WHERE event_type = 'purchase'
         |UNION ALL
         |SELECT $opSql AS op, CAST(user_id AS VARCHAR) AS key, event_id AS lsn
         |FROM events WHERE event_type <> 'purchase'""".stripMargin) { (s, d) =>
      import s.implicits._
      // Re-key purchases (new key = user_id + 1000, old key kept in `before`)
      // to simulate primary-key-changing updates, then run the real operator.
      val env = ChangelogGen.fromEvents(s, d).map { e =>
        if (e.after != null && e.after.contains("\"purchase\""))
          e.copy(key = (e.key.toLong + 1000).toString, before = e.key)
        else e
      }
      UpdateSplit(env, _.before).toDF()
        .select(col("op"), col("key"), col("lsn"))
    },

    // --- at-least-once replay dedup (kafka/bottledwater.c:683–687) ------------
    q("cdc04_replay_dedup",
      s"""SELECT $opSql AS op, COUNT(*) AS n FROM events GROUP BY 1""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
      // CDC delivery is at-least-once: replay the whole changelog (union) and
      // recover exactly-once counts by dedup on the (table, key, lsn, seq) id.
      env.union(env)
        .dropDuplicates("table", "key", "lsn", "seq")
        .groupBy(col("op")).agg(count(lit(1)).as("n"))
    },

    // --- topic routing + avro-safe identifier sanitization --------------------
    q("cdc05_topic_routing",
      """SELECT DISTINCT p_name AS table_name,
        |  concat('bw.', replace(p_name, ' ', '_20_')) AS topic,
        |  concat('bw.', replace(p_brand, '#', '_23_'), '.', replace(p_name, ' ', '_20_')) AS ns_topic
        |FROM part""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .select(col("p_name"), col("p_brand")).distinct()
        .select(col("p_name").as("table_name"),
          TopicRouter.topicCol("bw", lit("public"), col("p_name")).as("topic"),
          TopicRouter.topicCol("bw", col("p_brand"), col("p_name")).as("ns_topic"))
        .distinct()
    },

    // --- Confluent registry wire framing (kafka/registry.c:63–87) -------------
    q("cdc06_registry_frame",
      """SELECT doc_id, CAST(doc_id % 100 AS INT) AS decoded_id,
        |  CAST(strlen(text) AS INT) AS payload_len,
        |  CAST(strlen(text) + 5 AS INT) AS framed_len
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          schema_id_frame((col("doc_id") % 100).cast("int"),
            col("text").cast("binary")).as("framed"))
        .select(col("doc_id"),
          schema_id_of(col("framed")).as("decoded_id"),
          octet_length(strip_schema_frame(col("framed"))).as("payload_len"),
          octet_length(col("framed")).as("framed_len"))
    },

    // --- point-in-time state (CDC time travel: compaction truncated at LSN) --
    q("cdc10_state_asof",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_id <= 3000)
        |SELECT user_id, event_id AS lsn_asof,
        |  CASE event_type WHEN 'signup' THEN 'insert' ELSE 'update' END AS op_asof
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
      LatestState.batch(env, Seq("table", "key"), Seq("lsn", "seq"),
          asOfLsn = Some(3000L))
        .select(col("key").cast("long").as("user_id"),
          col("lsn").as("lsn_asof"), col("op").as("op_asof"))
    },

    // --- schema introspection (≙ bottledwater_row_schema, ext/snapshot.c:65–72):
    // --- runtime-derived catalog vs an independently written static oracle ----
    q("cdc09_schema_introspect",
      """SELECT * FROM (VALUES
        |('region','r_regionkey','int',0),('region','r_name','string',1),
        |('nation','n_nationkey','int',0),('nation','n_name','string',1),
        |('nation','n_regionkey','int',2),
        |('customer','c_custkey','bigint',0),('customer','c_name','string',1),
        |('customer','c_nationkey','int',2),('customer','c_acctbal','double',3),
        |('customer','c_mktsegment','string',4),
        |('supplier','s_suppkey','bigint',0),('supplier','s_name','string',1),
        |('supplier','s_nationkey','int',2),('supplier','s_acctbal','double',3),
        |('part','p_partkey','bigint',0),('part','p_name','string',1),
        |('part','p_brand','string',2),('part','p_type','string',3),
        |('part','p_size','int',4),('part','p_retailprice','double',5),
        |('orders','o_orderkey','bigint',0),('orders','o_custkey','bigint',1),
        |('orders','o_orderstatus','string',2),('orders','o_totalprice','double',3),
        |('orders','o_orderdate','timestamp_ntz',4),('orders','o_orderpriority','string',5),
        |('lineitem','l_orderkey','bigint',0),('lineitem','l_partkey','bigint',1),
        |('lineitem','l_suppkey','bigint',2),('lineitem','l_linenumber','int',3),
        |('lineitem','l_quantity','double',4),('lineitem','l_extendedprice','double',5),
        |('lineitem','l_discount','double',6),('lineitem','l_tax','double',7),
        |('lineitem','l_returnflag','string',8),('lineitem','l_linestatus','string',9),
        |('lineitem','l_shipdate','timestamp_ntz',10),
        |('events','event_id','bigint',0),('events','ts','timestamp',1),
        |('events','user_id','bigint',2),('events','event_type','string',3),
        |('events','value','double',4),('events','props','string',5),
        |('documents','doc_id','bigint',0),('documents','text','string',1),
        |('documents','lang','string',2),('documents','source','string',3),
        |('documents','n_chars','bigint',4),
        |('embeddings','vec_id','bigint',0),('embeddings','embedding','array<float>',1),
        |('embeddings','label','int',2)
        |) AS t(table_name, col_name, col_type, ordinal)""".stripMargin) { (s, d) =>
      import s.implicits._
      graft.Tables.all.flatMap { t =>
        graft.Tables.byName(s, d, t).schema.fields.zipWithIndex.map {
          case (f, i) => (t, f.name, f.dataType.simpleString, i)
        }
      }.toDF("table_name", "col_name", "col_type", "ordinal")
    },

    // --- Avro frame wire roundtrip: txn framing → binary → decode ------------
    q("cdc08_avro_roundtrip",
      s"""SELECT $opSql AS op, COUNT(*) AS n,
         |  COUNT(DISTINCT event_id // 10) AS n_txn
         |FROM events GROUP BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      val env = ChangelogGen.fromEvents(s, d)
      val relid = AvroFrame.relidOf(ChangelogGen.TableName)
      val tableOf = Map(relid -> ChangelogGen.TableName)
      // encode each transaction as a binary frame, ship, decode, re-derive
      val decoded = env.groupByKey(_.xid)
        .mapGroups { (xid, it) =>
          val evs = it.toSeq.sortBy(e => (e.lsn, e.seq))
          AvroFrame.encodeTxn(xid, evs.map(_.lsn).max, evs)
        }
        .flatMap(bytes => AvroFrame.decodeFrame(bytes, tableOf)._3)
      decoded.groupBy(col("op"))
        .agg(count(lit(1)).as("n"), countDistinct(col("xid")).as("n_txn"))
    },

    // --- Kafka producer-row composition (kafka/bottledwater.c:559–643):
    // --- topic routing + registry framing + tombstones in ONE sink shape.
    // --- The oracle restates the contract: every event routes to bw.users,
    // --- keys framed with the registered key schema id (1), values with the
    // --- value schema id (2) except deletes, which are null tombstones -------
    q("cdc11_kafka_sink",
      """SELECT 'bw.users' AS topic, 1 AS key_id,
        |  CASE WHEN event_type = 'error' THEN NULL ELSE 2 END AS value_id,
        |  (event_type = 'error') AS tombstone, COUNT(*) AS n
        |FROM events GROUP BY 1, 2, 3, 4""".stripMargin) { (s, d) =>
      import graft.streaming.KafkaSink
      val registry = new MockSchemaRegistry
      val ids = KafkaSink.registerAll(
        Map(ChangelogGen.TableName -> KafkaSink.TopicSchemas(
          keySchemaJson = PgTypes.schemaFor(Seq("user_id" -> PgTypes.Oid.Int8)).json,
          valueSchemaJson = PgTypes.schemaFor(Seq(
            "user_id" -> PgTypes.Oid.Int8, "event_type" -> PgTypes.Oid.Text,
            "value" -> PgTypes.Oid.Float8)).json)),
        prefix = "bw", registry, ErrorPolicy.Exit)
      KafkaSink.producerRows(ChangelogGen.fromEvents(s, d), ids, numPartitions = 16)
        .select(col("topic"),
          schema_id_of(col("key")).as("key_id"),
          schema_id_of(col("value")).as("value_id"),   // null-safe ⇒ null on tombstones
          col("value").isNull.as("tombstone"))
        .groupBy("topic", "key_id", "value_id", "tombstone")
        .agg(count(lit(1)).as("n"))
    },

    // --- DDL rename churn end-to-end (ALTER TABLE ... RENAME mid-stream,
    // --- spec/functional/topic_spec.rb:166–274): ONE stable relid announced
    // --- as public.widgets before LSN 5000 and public.gadgets after. Row
    // --- messages carry only the relid on the wire, so the decoded table
    // --- names can ONLY come from each frame's TableSchema announcement
    // --- (fresh decoder state per frame, no fallback) — pinning the
    // --- old-name-before / new-name-after resolution in CORRECTNESS, not
    // --- just ScalaTest. Txns never straddle the rename (10-event txns,
    // --- boundary divisible by 10), matching how a real rename lands
    // --- between transactions. -----------------------------------------------
    q("cdc12_ddl_rename_churn",
      """SELECT CASE WHEN event_id < 5000 THEN 'public.widgets'
        |            ELSE 'public.gadgets' END AS table_name,
        |  COUNT(*) AS n, COUNT(DISTINCT event_id // 10) AS n_txn
        |FROM events GROUP BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      val relid = 424242L
      val rowSchema = PgTypes.schemaFor(Seq(
        "user_id" -> PgTypes.Oid.Int8, "event_type" -> PgTypes.Oid.Text,
        "value" -> PgTypes.Oid.Float8))
      val renamed = ChangelogGen.fromEvents(s, d)
        .map(e => e.copy(table =
          if (e.lsn < 5000) "public.widgets" else "public.gadgets"))
      val decoded = renamed.groupByKey(_.xid).flatMapGroups { (xid, it) =>
        val evs = it.toSeq.sortBy(e => (e.lsn, e.seq))
        // the reference (re-)announces a relation before its first row after
        // DDL (ext/protocol_server.c:78–99); per-frame announcement keeps the
        // decode distributable (each frame self-describing, like a fresh
        // replication connection)
        val announce = SchemaCache.schemaMessage(relid, evs.head.table, rowSchema)
        val bytes = AvroFrame.encodeTxn(xid, evs.map(_.lsn).max, announce +: evs,
          _ => relid)
        AvroFrame.decodeFrame(bytes, new AvroFrame.DecoderSchemaState())._3
          .filter(_.op != Op.Schema)
      }
      decoded.groupBy(col("table").as("table_name"))
        .agg(count(lit(1)).as("n"), countDistinct(col("xid")).as("n_txn"))
    },

    // --- SCD type-2 history (the warehouse-load consumer, README.md:30–32):
    // --- every insert/update version stamped with its [valid_from, valid_to)
    // --- commit-order interval; a delete closes the last version. Oracle
    // --- restates it as lead() over the raw events — the Spark side runs the
    // --- generic operator over the real envelope. ------------------------------
    q("cdc13_scd2_history",
      """WITH v AS (SELECT user_id, event_id, event_type, value,
        |  lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS nxt
        |  FROM events)
        |SELECT user_id, event_id AS valid_from, nxt AS valid_to,
        |  (nxt IS NULL) AS is_current, value AS version_value
        |FROM v WHERE event_type <> 'error'""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
      ScdHistory.batch(env, Seq("table", "key"), Seq("lsn", "seq"))
        .select(col("key").cast("long").as("user_id"),
          col("lsn").as("valid_from"),
          col("valid_to.lsn").as("valid_to"),
          col("is_current"),
          get_json_object(col("after"), "$.value").cast("double").as("version_value"))
    },

    // --- incremental aggregate maintenance (retract-stream IVM): the grouped
    // --- aggregate is maintained from signed per-event deltas — retract the
    // --- key's previous contribution, add its new one — NEVER materializing
    // --- latest state. The oracle computes the same numbers the opposite way
    // --- (compact to latest state, then aggregate), so the gate pins the
    // --- delta algebra against an independent formulation. Group = the
    // --- version's event_type (changes across versions ⇒ regroup path runs
    // --- on real data); value summed as exact decimals so retractions cancel
    // --- additions exactly. ---------------------------------------------------
    q("cdc14_incremental_agg",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events)
        |SELECT event_type AS grp, COUNT(*) AS n_live,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
      IncrementalAgg.sumCount(env, Seq("table", "key"), Seq("lsn", "seq"),
        groupExpr = get_json_object(col("after"), "$.event_type"),
        valueExpr = get_json_object(col("after"), "$.value").cast("double"))
    },

    // --- stream-stream event-time interval join (StreamStreamJoin): the
    // --- purchases FEED joined against the clicks FEED — both sides are
    // --- REAL file-source streams through StreamingSymmetricHashJoin with
    // --- watermarks (state = O(rate × lookback), not O(history)), driven to
    // --- completion with AvailableNow. Click-attribution semantics: clicks
    // --- by the same user in the 24h up to the purchase. The oracle is the
    // --- batch theta join — streaming execution must change nothing.
    // --- Cross-micro-batch state is pinned separately in StreamingSpec. -----
    q("cdc15_stream_stream_join",
      """SELECT p.user_id, p.event_id AS p_id, c.event_id AS c_id, c.value AS c_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 24 HOUR AND c.ts <= p.ts""".stripMargin) { (s, d) =>
      import graft.streaming.StreamStreamJoin
      val ev = StreamStreamJoin.eventsStream(s, s"$d/events.parquet")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_id"),
          col("value").as("c_value"), col("ts").as("c_ts"))
      val joined = StreamStreamJoin.intervalJoin(purchases, clicks, "user_id",
        "p_ts", "c_ts", lookback = "24 HOURS", watermark = "0 seconds")
      StreamStreamJoin.runToMemory(s, joined,
          s"cdc15_${java.util.UUID.randomUUID().toString.take(8)}")
        .select("user_id", "p_id", "c_id", "c_value")
    },

    // --- streaming at-least-once dedup THROUGH a real stream: the same
    // --- events file arrives twice (two unioned file sources — the
    // --- at-least-once delivery sim), dropDuplicatesWithinWatermark
    // --- recovers exactly-once on the event id with state bounded by the
    // --- watermark horizon instead of all history. Oracle = the batch
    // --- distinct. Both copies of a row are identical, so first-arrival
    // --- keep semantics are order-independent — the result is exact. --------
    q("cdc16_streaming_dedup",
      """SELECT event_id, user_id, event_type, value FROM events""".stripMargin) { (s, d) =>
      import graft.streaming.StreamStreamJoin
      def src() = StreamStreamJoin.eventsStream(s, s"$d/events.parquet")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts"))
      val doubled = src().unionByName(src())
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      StreamStreamJoin.runToMemory(s, doubled,
          s"cdc16_${java.util.UUID.randomUUID().toString.take(8)}")
        .select("event_id", "user_id", "event_type", "value")
    },

    // --- streaming windowed aggregation THROUGH a real stream (the q26
    // --- semantics executed by the streaming state store rather than a
    // --- batch hash agg): tumbling 1h windows with a watermark, complete
    // --- output mode so every window is emitted at termination. The oracle
    // --- is the same batch SQL as q26 restricted to the same projection —
    // --- streaming execution must change nothing. ---------------------------
    q("cdc17_streaming_window",
      """SELECT STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, d) =>
      import graft.streaming.StreamStreamJoin
      val windowed = StreamStreamJoin.eventsStream(s, s"$d/events.parquet")
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), Qutil.dsum(col("value"), 2).as("total_value"))
      StreamStreamJoin.runToMemory(s, windowed,
          s"cdc17_${java.util.UUID.randomUUID().toString.take(8)}",
          outputMode = "complete")
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"), col("n"), col("total_value"))
    },

    // --- the composed CDC-consumer pipeline (the cdc twin of txt15's e2e
    // --- gate): ONE query running changelog → latest-state compaction AND
    // --- changelog → SCD2 version history, joined into the per-type rollup
    // --- a warehouse consumer actually serves (live users per latest type,
    // --- how many versions each accumulated, exact sum of last values).
    // --- Every stage is individually gated (cdc01, cdc13); this pins that
    // --- they COMPOSE — deleted keys drop out, version counts survive the
    // --- join, decimal sums stay exact through both dataflows. --------------
    q("cdc18_consumer_pipeline",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events),
        |live AS (SELECT user_id, event_type, value FROM ranked
        |  WHERE rn = 1 AND event_type <> 'error'),
        |vers AS (SELECT user_id, COUNT(*) AS n_versions FROM events
        |  WHERE event_type <> 'error' GROUP BY 1)
        |SELECT live.event_type AS last_type, COUNT(*) AS n_users,
        |  CAST(SUM(n_versions) AS BIGINT) AS total_versions,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_last_value
        |FROM live JOIN vers USING (user_id) GROUP BY 1""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
      val live = LatestState.batch(env, Seq("table", "key"), Seq("lsn", "seq"))
      val vers = ScdHistory.batch(env, Seq("table", "key"), Seq("lsn", "seq"))
        .groupBy(col("key")).agg(count(lit(1)).as("n_versions"))
      withAfter(live.join(vers, Seq("key")))
        .select(col("_af.event_type").as("last_type"),
          col("n_versions"),
          col("_af.value").as("v"))
        .groupBy(col("last_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("n_versions")).as("total_versions"),
          Qutil.dsum(col("v"), 2).as("sum_last_value"))
    },

    // --- streaming LOCF gap fill: LatestState.streamingForwardFill executed
    // --- by the REAL state store over the events file stream (AvailableNow,
    // --- like cdc17) — every event enriched with its key's running last
    // --- 'update' position; the oracle restates it as the q47 window over
    // --- the same derived changelog. Pins that the stateful streaming path
    // --- agrees with plain SQL, not just with the batch operator in specs. ---
    q("cdc19_stream_gap_fill",
      s"""WITH env AS (SELECT user_id, event_id, $opSql AS op FROM events),
         |filled AS (SELECT user_id, event_id, op,
         |  last_value(CASE WHEN op = 'update' THEN event_id END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS state_lsn
         |  FROM env)
         |SELECT user_id, event_id AS lsn, op, state_lsn FROM filled""".stripMargin) { (s, d) =>
      import graft.streaming.StreamStreamJoin
      val env = ChangelogGen.projectEvents(
        StreamStreamJoin.eventsStream(s, s"$d/events.parquet"))
      val filled = LatestState.streamingForwardFill(env, _.op == Op.Update)
      StreamStreamJoin.runToMemory(s, filled.toDF(),
          s"cdc19_${java.util.UUID.randomUUID().toString.take(8)}")
        .select(col("key").cast("long").as("user_id"), col("lsn"), col("op"),
          col("stateLsn").as("state_lsn"))
    },

    // --- streaming SESSIONIZATION through the real state store: the q35
    // --- semantics executed by session_window's merging session state over
    // --- the events file stream (complete mode, like cdc17). The oracle
    // --- restates Spark's merge rule exactly — windows are half-open
    // --- [ts, ts+gap), so a gap of EXACTLY 2h starts a NEW session (>=,
    // --- where q35's lag-formulation uses >) and every session's end is
    // --- last event + gap. Decimal-cast value sum ⇒ hash-exact. ---------------
    q("cdc20_stream_sessionize",
      """WITH e AS (SELECT user_id, value, epoch_us(ts) AS t_us FROM events),
        |s AS (SELECT *, CASE WHEN lag(t_us) OVER w IS NULL
        |    OR t_us - lag(t_us) OVER w >= 7200000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us)),
        |t AS (SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id
        |    ORDER BY t_us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        |  FROM s)
        |SELECT user_id, MIN(t_us) AS start_us,
        |  MAX(t_us) + 7200000000 AS end_us, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM t GROUP BY user_id, session_no""".stripMargin) { (s, d) =>
      import graft.streaming.StreamStreamJoin
      val sess = StreamStreamJoin.eventsStream(s, s"$d/events.parquet")
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "2 hours").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          Qutil.dsum(col("value"), 2).as("session_value"))
      StreamStreamJoin.runToMemory(s, sess,
          s"cdc20_${java.util.UUID.randomUUID().toString.take(8)}",
          outputMode = "complete")
        .select(col("user_id"), unix_micros(col("sw.start")).as("start_us"),
          unix_micros(col("sw.end")).as("end_us"), col("n_events"),
          col("session_value"))
    },

    // --- snapshot ∪ stream lifecycle (SURVEY §3.1: consistent snapshot then
    // --- streaming from the same LSN, no gap no overlap) ----------------------
    q("cdc07_snapshot_stream",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events)
        |SELECT user_id, event_id AS last_lsn,
        |  CASE WHEN event_id >= 5000 THEN 'stream' ELSE 'snapshot' END AS phase
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
      val consistentLsn = 5000L
      // Snapshot: state as of the consistent point, replayed as xid=0 inserts
      // (client/connect.c:356–362); stream: everything after that LSN.
      val snapshot = LatestState.batch(
          env.filter(col("lsn") < consistentLsn),
          Seq("table", "key"), Seq("lsn", "seq"))
        .withColumn("op", lit(Op.Insert)).withColumn("xid", lit(0L))
      val stream = env.filter(col("lsn") >= consistentLsn)
      LatestState.batch(snapshot.unionByName(stream),
          Seq("table", "key"), Seq("lsn", "seq"))
        .select(col("key").cast("long").as("user_id"),
          col("lsn").as("last_lsn"),
          when(col("lsn") >= consistentLsn, "stream").otherwise("snapshot").as("phase"))
    },

    // --- Avro-JSON frame encode (kafka/json.c:23–101): the human-readable
    // --- output mode, where every union value is TAGGED with its branch
    // --- ({"key":{"bytes":"5"}}, null branches as bare null, records by
    // --- full name "graft.cdc.Insert"). The oracle reconstructs every
    // --- transaction's COMPLETE frame JSON by string construction —
    // --- Begin/rows/Commit ordering, relid (the documented name-hash
    // --- constant for public.users), byte-payload escaping (the only
    // --- escapable char in these payloads is the quote), and Java/DuckDB-
    // --- agreeing double formatting (all values are 2-decimal) — so the
    // --- gate hash-matches the full strings, not just their counts. ---------
    q("cdc21_avro_json_encode",
      s"""WITH ev AS (SELECT event_id, event_id // 10 AS xid, user_id,
         |    event_type, value, $opSql AS op FROM events),
         |pay AS (SELECT *,
         |  '{"user_id":' || user_id || ',"event_type":"' || event_type ||
         |    '","value":' || CAST(value AS VARCHAR) || '}' AS after FROM ev),
         |m AS (SELECT xid, event_id, CASE op
         |  WHEN 'insert' THEN '{"graft.cdc.Insert":{"relid":3770939971,' ||
         |    '"key":{"bytes":"' || user_id || '"},"newRow":"' ||
         |    replace(after, '"', '\\"') || '"}}'
         |  WHEN 'update' THEN '{"graft.cdc.Update":{"relid":3770939971,' ||
         |    '"key":{"bytes":"' || user_id || '"},"oldRow":null,' ||
         |    '"newRow":"' || replace(after, '"', '\\"') || '"}}'
         |  ELSE '{"graft.cdc.Delete":{"relid":3770939971,' ||
         |    '"key":{"bytes":"' || user_id || '"},"oldRow":null}}'
         |  END AS msg FROM pay)
         |SELECT xid,
         |  '{"msg":[{"graft.cdc.BeginTxn":{"xid":' || xid || '}},' ||
         |  string_agg(msg, ',' ORDER BY event_id) ||
         |  ',{"graft.cdc.CommitTxn":{"xid":' || xid || ',"lsn":' ||
         |  max(event_id) || '}}]}' AS frame_json
         |FROM m GROUP BY xid""".stripMargin) { (s, d) =>
      import s.implicits._
      ChangelogGen.fromEvents(s, d)
        .groupByKey(_.xid)
        .mapGroups { (xid, it) =>
          val evs = it.toSeq.sortBy(e => (e.lsn, e.seq))
          (xid, AvroFrame.encodeTxnJson(xid, evs.map(_.lsn).max, evs))
        }
        .toDF("xid", "frame_json")
    },

    // --- dead-letter split (cdc22): the production THIRD answer beyond the
    // --- reference's exit|log — exit halts the pipeline, log silently
    // --- LOSES the poison rows; the DLQ keeps both: good rows flow on
    // --- (exactly log's surviving stream), poison rows land annotated and
    // --- queryable for replay after the bug fix. Gate runs the real
    // --- oversize predicate over real binary payloads; the two sides are
    // --- disjoint and complete by construction, which the single-relation
    // --- oracle restates as one CASE. ------------------------------------
    q("cdc22_dead_letter",
      """SELECT doc_id,
        |  CASE WHEN strlen(text) > 400 THEN 'dead' ELSE 'good' END AS side,
        |  CASE WHEN strlen(text) > 400
        |       THEN 'record exceeds 400 bytes' END AS dlq_reason,
        |  CAST(strlen(text) AS INT) AS n_bytes
        |FROM documents""".stripMargin) { (s, d) =>
      val blobs = graft.operators.Multimodal.withBlob(
        Tables.documents(s, d), "text", "source")
      val (good, dead) = ErrorPolicy.deadLetter(blobs,
        ErrorPolicy.oversize("blob", 400), "record exceeds 400 bytes")
      good.select(col("doc_id"), lit("good").as("side"),
          lit(null).cast("string").as("dlq_reason"),
          octet_length(col("blob")).as("n_bytes"))
        .unionByName(dead.select(col("doc_id"), lit("dead").as("side"),
          col("dlq_reason"), octet_length(col("blob")).as("n_bytes")))
    },

    // --- dead-letter REPLAY (cdc33): the second half of cdc22's story —
    // --- after the fix ships (here: truncate to the cap), the retained
    // --- dead rows are repaired and re-fed through the SAME guard; the
    // --- delivered set becomes original-good ∪ repaired-dead, all rows
    // --- delivered exactly once, DLQ drained (the repaired batch must
    // --- pass the guard or remain dead — this one fully passes by
    // --- construction). Replay touches only the O(poison) DLQ, never the
    // --- healthy corpus. -------------------------------------------------
    q("cdc33_dlq_replay",
      """SELECT doc_id,
        |  CASE WHEN strlen(text) > 400 THEN 'repaired' ELSE 'original' END AS provenance,
        |  CAST(LEAST(strlen(text), 400) AS INT) AS n_bytes
        |FROM documents""".stripMargin) { (s, d) =>
      val blobs = graft.operators.Multimodal.withBlob(
        Tables.documents(s, d), "text", "source")
      val guard = ErrorPolicy.oversize("blob", 400)
      val (good, dead) = ErrorPolicy.deadLetter(blobs, guard,
        "record exceeds 400 bytes")
      // the "fix": truncate the payload to the cap, then re-run the SAME
      // guard over the repaired batch — replay must not bypass validation
      val repaired = dead.drop("dlq_reason")
        .withColumn("blob", expr("substring(blob, 1, 400)"))
      val (replayGood, replayDead) = ErrorPolicy.deadLetter(repaired, guard,
        "still oversize after repair")
      val delivered = good.select(col("doc_id"),
          lit("original").as("provenance"),
          octet_length(col("blob")).as("n_bytes"))
        .unionByName(replayGood.select(col("doc_id"),
          lit("repaired").as("provenance"),
          octet_length(col("blob")).as("n_bytes")))
      // a repaired row that STILL fails would stay dead; assert-drained is
      // part of the gate's contract (truncation can never exceed the cap)
      delivered.unionByName(replayDead.select(col("doc_id"),
        lit("still_dead").as("provenance"),
        octet_length(col("blob")).as("n_bytes")))
    },

    // --- compaction-ratio report (cdc34): versions per key over the
    // --- changelog — n_keys, n_events, mean and exact interpolated
    // --- p50/p90 versions-per-key. The log-compaction savings estimate
    // --- (README.md:288–291's compacted-topic reliance): a ratio near 1
    // --- means compaction buys nothing; heavy tails mean hot keys
    // --- dominate state. One partial-agg'd count per key + one
    // --- percentile aggregation over the per-key frame. ------------------
    q("cdc34_compaction_stats",
      """WITH pk AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1)
        |SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_events,
        |  CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_versions,
        |  quantile_cont(n, 0.5) AS p50_versions,
        |  quantile_cont(n, 0.9) AS p90_versions
        |FROM pk""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
      env.groupBy(col("key")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_events"),
          (sum(col("n")).cast("double") / count(lit(1))).as("mean_versions"),
          expr("percentile(n, 0.5)").as("p50_versions"),
          expr("percentile(n, 0.9)").as("p90_versions"))
    },

    // --- incremental JOIN-view maintenance (cdc23): the join half of IVM —
    // --- a users⋈segments equi-join view maintained across three
    // --- commit-ordered micro-batch folds via the z-set delta identity
    // --- Δ(A⋈B) = ΔA⋈B_old + A_new⋈ΔB, never recomputing from history.
    // --- Both sides carry updates AND deletes (tombstones retract every
    // --- fanned pair); the oracle computes the same view the opposite way:
    // --- compact each side to latest state, then join from scratch. -------
    q("cdc23_join_view_maintenance",
      s"""WITH a AS (
         |  SELECT user_id, value AS user_value, user_id % 101 AS seg FROM (
         |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
         |    FROM events WHERE event_id % 2 = 0)
         |  WHERE rn = 1 AND event_type <> 'error'),
         |b AS (
         |  SELECT segment_id, value AS segment_value FROM (
         |    SELECT user_id % 101 AS segment_id, value, event_type,
         |      row_number() OVER (PARTITION BY user_id % 101 ORDER BY event_id DESC) AS rn
         |    FROM events WHERE event_id % 2 = 1)
         |  WHERE rn = 1 AND event_type <> 'error')
         |SELECT a.user_id, a.user_value, b.segment_id, b.segment_value
         |FROM a JOIN b ON a.seg = b.segment_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val op = when(col("event_type") === "signup", Op.Insert)
        .when(col("event_type") === "error", Op.Delete)
        .otherwise(Op.Update)
      // side A: per-user changelog from even events; joins on its segment
      val aLog = ev.filter(col("event_id") % 2 === 0).select(
        op.as("op"), col("event_id").as("lsn"), col("user_id"),
        col("value").as("user_value"), (col("user_id") % 101).as("seg"))
      // side B: per-segment dimension changelog from odd events
      val bLog = ev.filter(col("event_id") % 2 === 1).select(
        op.as("op"), col("event_id").as("lsn"),
        (col("user_id") % 101).as("segment_id"), col("value").as("segment_value"))
      val a = JoinView.Side(Seq("user_id"), Seq("lsn"),
        Seq("user_id", "user_value", "seg"), joinCol = "seg")
      val b = JoinView.Side(Seq("segment_id"), Seq("lsn"),
        Seq("segment_id", "segment_value"), joinCol = "segment_id")
      // three commit-ordered micro-batches split at thirds of the LSN range
      // (one bounded scalar to the driver — the batching is the thing under
      // test; the oracle is batching-independent)
      val mx = ev.agg(max(col("event_id"))).head().getLong(0)
      val bounds = Seq((0L, mx / 3), (mx / 3, 2 * mx / 3), (2 * mx / 3, mx + 1))
      val batches = bounds.map { case (lo, hi) =>
        (aLog.filter(col("lsn") >= lo && col("lsn") < hi),
         bLog.filter(col("lsn") >= lo && col("lsn") < hi))
      }
      JoinView.foldAll(batches, a, b)
        .view.select(col("user_id"), col("user_value"),
          col("segment_id"), col("segment_value"))
    },

    // --- temporal alignment of two SCD2 histories (cdc24): the bitemporal
    // --- join — per user, every (A-version × B-version) interval
    // --- intersection becomes one row valid over exactly that overlap, so
    // --- any point in commit history reads one consistent wide row. Deletes
    // --- close intervals on each side independently (lead() before the
    // --- delete filter, the cdc13 discipline). Oracle restates the interval
    // --- algebra with explicit null-as-∞ CASEs. --------------------------
    q("cdc24_history_align",
      """WITH av AS (SELECT user_id, event_id AS vf,
        |    lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS vt,
        |    value AS a_value, event_type
        |  FROM events WHERE event_id % 2 = 0),
        |bv AS (SELECT user_id, event_id AS vf,
        |    lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS vt,
        |    value AS b_value, event_type
        |  FROM events WHERE event_id % 2 = 1),
        |a2 AS (SELECT * FROM av WHERE event_type <> 'error'),
        |b2 AS (SELECT * FROM bv WHERE event_type <> 'error')
        |SELECT a2.user_id, GREATEST(a2.vf, b2.vf) AS from_lsn,
        |  CASE WHEN a2.vt IS NULL THEN b2.vt
        |       WHEN b2.vt IS NULL THEN a2.vt
        |       ELSE LEAST(a2.vt, b2.vt) END AS to_lsn,
        |  a2.a_value, b2.b_value
        |FROM a2 JOIN b2 ON a2.user_id = b2.user_id
        |  AND (b2.vt IS NULL OR a2.vf < b2.vt)
        |  AND (a2.vt IS NULL OR b2.vf < a2.vt)""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val op = when(col("event_type") === "signup", Op.Insert)
        .when(col("event_type") === "error", Op.Delete)
        .otherwise(Op.Update)
      def hist(parity: Int, valName: String) = {
        val log = ev.filter(col("event_id") % 2 === parity).select(
          op.as("op"), col("event_id").as("lsn"),
          col("user_id"), col("value").as(valName))
        ScdHistory.batch(log, Seq("user_id"), Seq("lsn"))
          .select(col("user_id"), struct(col("lsn")).as("valid_from"),
            col("valid_to"), col(valName))
      }
      ScdHistory.alignHistories(hist(0, "a_value"), hist(1, "b_value"),
          Seq("user_id"))
        .select(col("user_id"), col("valid_from.lsn").as("from_lsn"),
          col("valid_to.lsn").as("to_lsn"), col("a_value"), col("b_value"))
    },

    // --- incremental chunked snapshot (cdc25): the DBLog/Debezium answer to
    // --- snapshotting a table too big for one repeatable-read transaction —
    // --- 4 chunks read at ASCENDING watermarks, merged with the stream tail
    // --- (events after the mid-history retention horizon) by pure
    // --- commit-order precedence. The oracle is the ground truth the whole
    // --- dance must reconstruct: plain full-history latest state. ---------
    q("cdc25_incremental_snapshot",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events)
        |SELECT user_id, value AS last_value
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val hz = mx / 2
      val wms = (1 to 4).map(i => hz + i * (mx - hz) / 4)
      IncrementalSnapshot.mergedState(env, Seq("table", "key"),
          chunkExpr = col("key").cast("long") % 4, watermarks = wms, horizon = hz)
        .select(col("key").cast("long").as("user_id"),
          get_json_object(col("after"), "$.value").cast("double").as("last_value"))
    },

    // --- warehouse-loop consistency cross-check (cdc26): three independent
    // --- consumers of the same changelog — latest-state compaction, SCD2
    // --- current versions, and the retract-stream IVM — must agree on the
    // --- live-key count. Each path computes its number through its OWN
    // --- machinery; the oracle states the single ground-truth count three
    // --- times, so ANY divergence between the operator families breaks
    // --- the gate. --------------------------------------------------------
    q("cdc26_consistency_check",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events),
        |live AS (SELECT COUNT(*) AS n FROM ranked
        |  WHERE rn = 1 AND event_type <> 'error')
        |SELECT 'latest_keys' AS src, n FROM live
        |UNION ALL SELECT 'scd2_current' AS src, n FROM live
        |UNION ALL SELECT 'ivm_live' AS src, n FROM live""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
      val latest = LatestState.batch(env, Seq("table", "key"), Seq("lsn", "seq"))
        .agg(count(lit(1)).as("n"))
        .select(lit("latest_keys").as("src"), col("n"))
      val scd2 = ScdHistory.batch(env, Seq("table", "key"), Seq("lsn", "seq"))
        .filter(col("is_current"))
        .agg(count(lit(1)).as("n"))
        .select(lit("scd2_current").as("src"), col("n"))
      val ivm = IncrementalAgg.sumCount(env, Seq("table", "key"), Seq("lsn", "seq"),
          groupExpr = get_json_object(col("after"), "$.event_type"),
          valueExpr = get_json_object(col("after"), "$.value").cast("double"))
        .agg(sum(col("n_live")).as("n"))
        .select(lit("ivm_live").as("src"), col("n"))
      latest.unionByName(scd2).unionByName(ivm)
    },

    // --- right-to-be-forgotten sweep (cdc27): delete-request propagation
    // --- across EVERY materialization a changelog feeds — latest state AND
    // --- full SCD2 history (the table people forget; history retains the
    // --- "deleted" user's every version). One anti-join per table; the
    // --- report carries before/after/purged counts so the sweep is
    // --- auditable. Requests = user_id % 13 = 0. --------------------------
    q("cdc27_forget_sweep",
      """WITH req AS (SELECT DISTINCT user_id FROM events WHERE user_id % 13 = 0),
        |ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events),
        |latest AS (SELECT user_id FROM ranked
        |  WHERE rn = 1 AND event_type <> 'error'),
        |hist AS (SELECT user_id FROM events WHERE event_type <> 'error')
        |SELECT 'latest' AS tbl,
        |  (SELECT COUNT(*) FROM latest) AS n_before,
        |  (SELECT COUNT(*) FROM latest WHERE user_id NOT IN (SELECT user_id FROM req)) AS n_after,
        |  (SELECT COUNT(*) FROM latest WHERE user_id IN (SELECT user_id FROM req)) AS n_purged
        |UNION ALL
        |SELECT 'history',
        |  (SELECT COUNT(*) FROM hist),
        |  (SELECT COUNT(*) FROM hist WHERE user_id NOT IN (SELECT user_id FROM req)),
        |  (SELECT COUNT(*) FROM hist WHERE user_id IN (SELECT user_id FROM req))""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
      val req = Tables.events(s, d).filter(col("user_id") % 13 === 0)
        .select(col("user_id").cast("string").as("key")).distinct()
      def sweep(name: String, tbl: DataFrame) = {
        val purgedT = tbl.join(req, Seq("key"), "left_anti")
        val before = tbl.agg(count(lit(1)).as("n_before"))
        val after = purgedT.agg(count(lit(1)).as("n_after"))
        before.crossJoin(after)
          .select(lit(name).as("tbl"), col("n_before"), col("n_after"),
            (col("n_before") - col("n_after")).as("n_purged"))
      }
      val latest = LatestState.batch(env, Seq("table", "key"), Seq("lsn", "seq"))
      val hist = ScdHistory.batch(env, Seq("table", "key"), Seq("lsn", "seq"))
      sweep("latest", latest).unionByName(sweep("history", hist))
    },

    // --- stream-stream LEFT OUTER interval join (cdc28): cdc15's
    // --- click-attribution join, but purchases with NO click in the 24h
    // --- lookback now emit with nulls — the "unattributed conversions"
    // --- rows an inner join silently drops. Outer emission is the hard
    // --- part in the streaming engine: a null row may only be produced
    // --- once the watermark proves no match can still arrive, so a BOUNDED
    // --- drive pushes the watermark past its own tail with a far-future
    // --- sentinel on both feeds (filtered out below); state stays
    // --- O(rate × lookback). Oracle = the batch LEFT JOIN — streaming
    // --- execution plus deferred null emission must change nothing. -------
    q("cdc28_stream_stream_left_outer",
      """SELECT p.user_id, p.event_id AS p_id, c.event_id AS c_id, c.value AS c_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 24 HOUR AND c.ts <= p.ts""".stripMargin) { (s, d) =>
      import graft.streaming.StreamStreamJoin
      val ev = StreamStreamJoin.eventsStreamWithSentinel(s,
        s"$d/events.parquet", Seq("purchase", "click"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_id"),
          col("value").as("c_value"), col("ts").as("c_ts"))
      val joined = StreamStreamJoin.intervalJoinLeftOuter(purchases, clicks,
        "user_id", "p_ts", "c_ts", lookback = "24 HOURS",
        watermark = "0 seconds")
      StreamStreamJoin.runToMemory(s, joined,
          s"cdc28_${java.util.UUID.randomUUID().toString.take(8)}")
        .filter(col("user_id") >= 0)
        .select("user_id", "p_id", "c_id", "c_value")
    },

    // --- streaming trending report via APPEND-mode windows (cdc29): daily
    // --- per-type counts through the streaming state store, each window
    // --- emitted EXACTLY ONCE when the watermark finalizes it (complete
    // --- mode — cdc17 — re-emits everything every batch: O(history) sink
    // --- churn; append mode is the production shape for an ever-growing
    // --- window history). The cdc28 sentinel pushes the watermark past the
    // --- final real day so every window finalizes in the bounded drive;
    // --- the top-3 rank per day is a batch projection over the FINALIZED
    // --- window table (O(days·types) rows). Oracle = batch counts + rank. -
    q("cdc29_streaming_trending",
      """WITH c AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
        |  event_type, COUNT(*) AS n FROM events GROUP BY 1, 2),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY day_start
        |  ORDER BY n DESC, event_type) AS rnk FROM c)
        |SELECT day_start, event_type, n, rnk FROM r WHERE rnk <= 3""".stripMargin) { (s, d) =>
      import graft.streaming.StreamStreamJoin
      import org.apache.spark.sql.expressions.Window
      val ev = StreamStreamJoin.eventsStreamWithSentinel(s,
        s"$d/events.parquet", Seq("view"))
      val counts = ev
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("day_start"), col("event_type"), col("n"))
      val fin = StreamStreamJoin.runToMemory(s, counts,
        s"cdc29_${java.util.UUID.randomUUID().toString.take(8)}")
      // the sentinel's own far-future window also finalizes — drop it by
      // bounding to the real data's max event time
      val mx = Tables.events(s, d).agg(max(col("ts")).as("_mx"))
      fin.crossJoin(broadcast(mx))
        .filter(col("day_start") <= col("_mx"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("day_start"))
            .orderBy(col("n").desc, col("event_type"))))
        .filter(col("rnk") <= 3)
        .select(col("day_start"), col("event_type"), col("n"), col("rnk"))
    },

    // --- streaming sketch maintenance (cdc30): per-type HLL sketches kept
    // --- current across micro-batches — each batch sketches only its own
    // --- rows, the standing (group, sketch) table unions them (q55's
    // --- mergeable-sketch algebra pumped by a stream; history never
    // --- re-read). The events file is split 4 ways and driven two files
    // --- per micro-batch (2 real batches — enough to exercise the merge;
    // --- a merge bug shows as a ~½ estimate and a false verdict; each
    // --- extra batch costs a full state commit in the bounded drive).
    // --- Retries are free (sketch union is idempotent —
    // --- spec-pinned). Verdict-as-data: |est − exact| ≤ 3·rsd·exact
    // --- (lgK=12 ⇒ rsd ≈ 1.63%) against the literal-TRUE oracle. ----------
    q("cdc30_streaming_sketches",
      """SELECT event_type, COUNT(*) AS exact_n, TRUE AS ok
        |FROM events GROUP BY 1""".stripMargin) { (s, d) =>
      import graft.streaming.{SketchStream, StreamStreamJoin}
      val src = java.nio.file.Files.createTempDirectory("cdc30src").toString
      Tables.events(s, d).select(col("event_id"), col("event_type"))
        .repartition(4).write.mode("overwrite").parquet(src)
      val tableDir =
        java.nio.file.Files.createTempDirectory("cdc30tbl").toString + "/t"
      val stream = StreamStreamJoin.tableStream(s, src, maxFilesPerTrigger = 2)
      SketchStream.foldSketches(stream, "event_type", "event_id", tableDir)
      val est = SketchStream.estimates(s, tableDir, "event_type")
      Tables.events(s, d).groupBy(col("event_type"))
        .agg(count(lit(1)).as("exact_n"))
        .join(est, Seq("event_type"))
        .select(col("event_type"), col("exact_n"),
          (abs(col("estimate") - col("exact_n")) <=
            lit(3 * 0.0163) * col("exact_n")).as("ok"))
    },

    // --- stream-stream FULL OUTER interval join (cdc31): cdc28's
    // --- attribution join emitting BOTH orphan classes — purchases with
    // --- no click in the lookback AND clicks no purchase ever picked up
    // --- (the rows an audit of either feed needs). Null emission on each
    // --- side is watermark-gated; the sentinel pair pushes the final
    // --- watermark past both tails. Oracle = the batch FULL JOIN with the
    // --- key coalesced across sides. -------------------------------------
    q("cdc31_stream_stream_full_outer",
      """SELECT COALESCE(p.user_id, c.user_id) AS user_id,
        |  p.event_id AS p_id, c.event_id AS c_id, c.value AS c_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 24 HOUR AND c.ts <= p.ts""".stripMargin) { (s, d) =>
      import graft.streaming.StreamStreamJoin
      val ev = StreamStreamJoin.eventsStreamWithSentinel(s,
        s"$d/events.parquet", Seq("purchase", "click"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_id"),
          col("value").as("c_value"), col("ts").as("c_ts"))
      val joined = StreamStreamJoin.intervalJoinFullOuter(purchases, clicks,
        "user_id", "p_ts", "c_ts", lookback = "24 HOURS",
        watermark = "0 seconds")
      StreamStreamJoin.runToMemory(s, joined,
          s"cdc31_${java.util.UUID.randomUUID().toString.take(8)}")
        .filter(col("user_id") >= 0)
        .select("user_id", "p_id", "c_id", "c_value")
    },

    // --- duplicate-envelope audit (cdc40): the wire-duplication detector
    // --- — the same (key, lsn, seq) position delivered more than once
    // --- (an at-least-once transport hiccup BEFORE dedup absorbs it;
    // --- monitoring wants the rate even when downstream state is safe).
    // --- A 1-in-13 slice is re-delivered; the audit names exactly those
    // --- positions. One composite-key count, suspects-only output. -------
    q("cdc40_duplicate_envelopes",
      """WITH env AS (SELECT CAST(user_id AS VARCHAR) AS key, event_id AS lsn
        |  FROM events
        |  UNION ALL SELECT CAST(user_id AS VARCHAR), event_id
        |  FROM events WHERE event_id % 13 = 0)
        |SELECT key, lsn, COUNT(*) AS n_deliveries
        |FROM env GROUP BY 1, 2 HAVING COUNT(*) > 1""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
        .select(col("key"), col("lsn"))
      val redelivered = env.unionByName(env.filter(col("lsn") % 13 === 0))
      redelivered.groupBy(col("key"), col("lsn"))
        .agg(count(lit(1)).as("n_deliveries"))
        .filter(col("n_deliveries") > 1)
    },

    // --- hot-key report (cdc39): the top-5 keys by version count with
    // --- their share of the changelog — the skew detector for state and
    // --- compaction (one hot key serializes a state partition and
    // --- dominates the merge; salting/sharding decisions start here). One
    // --- partial-agg'd count per key; the rank runs on the per-key frame;
    // --- share an IEEE ratio. --------------------------------------------
    q("cdc39_hot_keys",
      """WITH pk AS (SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |tot AS (SELECT SUM(n) AS t FROM pk)
        |SELECT key, n, CAST(rk AS BIGINT) AS rank,
        |  CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS share
        |FROM (SELECT key, n, ROW_NUMBER() OVER (ORDER BY n DESC, key) AS rk
        |  FROM pk) z, tot
        |WHERE rk <= 5""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
      val pk = env.groupBy(col("key")).agg(count(lit(1)).as("n"))
      val tot = pk.agg(sum(col("n")).as("t"))
      // orderBy+limit plans TakeOrderedAndProject (per-partition top-5 heaps,
      // driver merge of 5·partitions rows) — never a global rank window over
      // the O(keys) frame; GlobalRank then ranks the ≤5-row result with a
      // bucket-partitioned window (no single-partition move is planned)
      graft.operators.GlobalRank.rowNumber(
          pk.orderBy(col("n").desc, col("key")).limit(5),
          Seq(col("n").desc, col("key")), "rank", nBuckets = 4)
        .withColumn("rank", col("rank").cast("long"))
        .crossJoin(broadcast(tot))
        .select(col("key"), col("n"), col("rank"),
          (col("n").cast("double") / col("t").cast("double")).as("share"))
    },

    // --- changelog op-mix report (cdc38): insert/update/delete shares —
    // --- the churn profile that sizes everything downstream (tombstone
    // --- share drives compaction win, insert share drives growth, update
    // --- share drives IVM retraction volume). One hash agg + broadcast
    // --- total. -----------------------------------------------------------
    q("cdc38_op_mix",
      """SELECT CASE event_type WHEN 'signup' THEN 'insert'
        |  WHEN 'error' THEN 'delete' ELSE 'update' END AS op,
        |  COUNT(*) AS n,
        |  CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM events) AS share
        |FROM events GROUP BY 1""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
      val tot = env.agg(count(lit(1)).as("_t"))
      env.groupBy(col("op")).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .select(col("op"), col("n"),
          (col("n").cast("double") / col("_t")).as("share"))
    },

    // --- changelog gap detection (cdc37): holes in the LSN sequence — the
    // --- replication-integrity check that catches silent drops before
    // --- they become missing state. A slice of the changelog is removed
    // --- (%97 ids) and the detector must name every hole: one lead()
    // --- window over the lsn order, gap rows where the step exceeds 1;
    // --- report (gap_after, gap_len) — the rows a monitoring system
    // --- alerts on. The detector shards by lsn RANGE (gaps are local to a
    // --- range except at shard boundaries, which hand off one edge row) —
    // --- GlobalRank.lead1; the oracle's global window is the sf-bounded
    // --- reference formulation of the same answer.
    // ---------------------------------------------------------------------
    q("cdc37_gap_detection",
      """WITH present AS (SELECT event_id AS lsn FROM events
        |  WHERE event_id % 97 <> 0),
        |g AS (SELECT lsn, lead(lsn) OVER (ORDER BY lsn) AS nxt FROM present)
        |SELECT lsn AS gap_after, CAST(nxt - lsn - 1 AS BIGINT) AS gap_len
        |FROM g WHERE nxt - lsn > 1""".stripMargin) { (s, d) =>
      // sharded sequence audit (SequenceAudit.gaps → GlobalRank.lead1):
      // lead() within lsn-range buckets + one boundary handoff row per
      // bucket — gaps are local to a range except at shard edges, so the
      // global-order window (all distinct lsns through one task) is never
      // planned
      graft.operators.SequenceAudit.gaps(
        ChangelogGen.fromEvents(s, d).toDF().filter(col("lsn") % 97 =!= 0),
        "lsn")
    },

    // --- state-size estimation (cdc36): per table, live keys × payload
    // --- bytes — the capacity-planning number for the latest-state store
    // --- (what a RocksDB provider must hold; the cdc01 compaction's
    // --- working set). Exact integers: n_keys, total/avg payload bytes of
    // --- the LIVE state only (deleted keys cost nothing). One compaction
    // --- pass + one aggregation. -----------------------------------------
    q("cdc36_state_size",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events),
        |live AS (SELECT user_id, event_type, value FROM ranked
        |  WHERE rn = 1 AND event_type <> 'error')
        |SELECT COUNT(*) AS n_keys,
        |  CAST(SUM(strlen('{"event_type":"' || event_type || '"}')) AS BIGINT)
        |    AS total_payload_bytes,
        |  CAST(SUM(strlen('{"event_type":"' || event_type || '"}')) AS DOUBLE)
        |    / COUNT(*) AS avg_payload_bytes
        |FROM live""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
      val live = LatestState.batch(env, Seq("table", "key"), Seq("lsn", "seq"))
      val payload = concat(lit("{\"event_type\":\""),
        get_json_object(col("after"), "$.event_type"), lit("\"}"))
      live.select(octet_length(payload).as("_b"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("_b")).as("total_payload_bytes"),
          (sum(col("_b")).cast("double") / count(lit(1)))
            .as("avg_payload_bytes"))
    },

    // --- watermark-lag report (cdc35): per event type, how far its newest
    // --- event trails the stream head — the monitoring view for watermark
    // --- stragglers: the GLOBAL watermark is the min of per-source maxes,
    // --- so the type with the largest lag is what's holding every
    // --- watermark-gated operator (windows, outer joins, TTLs) back. One
    // --- partial-agg'd max per type + a broadcast global max. ------------
    q("cdc35_watermark_lag",
      """WITH mx AS (SELECT event_type, MAX(epoch_us(ts)) AS max_us
        |  FROM events GROUP BY 1),
        |g AS (SELECT MAX(max_us) AS head_us FROM mx)
        |SELECT event_type, mx.max_us,
        |  CAST(g.head_us - mx.max_us AS BIGINT) AS lag_us,
        |  mx.max_us = g.head_us AS is_head
        |FROM mx, g""".stripMargin) { (s, d) =>
      val mx = Tables.events(s, d).groupBy(col("event_type"))
        .agg(max(unix_micros(col("ts"))).as("max_us"))
      val g = mx.agg(max(col("max_us")).as("head_us"))
      mx.crossJoin(broadcast(g))
        .select(col("event_type"), col("max_us"),
          (col("head_us") - col("max_us")).as("lag_us"),
          (col("max_us") === col("head_us")).as("is_head"))
    },

    // --- replica-divergence audit (cdc32): TableDiff over the CDC
    // --- materializations — a replica frozen at LSN 3000 (the point-in-
    // --- time state cdc10 serves) diffed against the live latest state.
    // --- The report names exactly the keys the replica must catch up on:
    // --- 'added' = keys born after the cut, 'removed' = keys deleted
    // --- since, 'changed' = keys whose version moved (lsn/op column
    // --- set). The anti-entropy loop a CDC deployment runs nightly; one
    // --- full-outer key join, output O(divergence). ----------------------
    q("cdc32_replica_divergence",
      """WITH r1 AS (SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_id <= 3000),
        |s1 AS (SELECT user_id, event_id AS lsn,
        |  CASE event_type WHEN 'signup' THEN 'insert' ELSE 'update' END AS op
        |  FROM r1 WHERE rn = 1 AND event_type <> 'error'),
        |r2 AS (SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events),
        |s2 AS (SELECT user_id, event_id AS lsn,
        |  CASE event_type WHEN 'signup' THEN 'insert' ELSE 'update' END AS op
        |  FROM r2 WHERE rn = 1 AND event_type <> 'error'),
        |j AS (SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
        |  s1.user_id AS lk, s2.user_id AS rk,
        |  list_filter([
        |    CASE WHEN s1.lsn IS DISTINCT FROM s2.lsn THEN 'lsn' END,
        |    CASE WHEN s1.op IS DISTINCT FROM s2.op THEN 'op' END],
        |    x -> x IS NOT NULL) AS cc
        |  FROM s1 FULL JOIN s2 ON s1.user_id = s2.user_id)
        |SELECT user_id,
        |  CASE WHEN lk IS NULL THEN 'added' WHEN rk IS NULL THEN 'removed'
        |       ELSE 'changed' END AS change,
        |  CASE WHEN lk IS NULL OR rk IS NULL THEN ''
        |       ELSE array_to_string(cc, ',') END AS changed_cols
        |FROM j WHERE lk IS NULL OR rk IS NULL OR len(cc) > 0""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
      def state(asOf: Option[Long]) =
        LatestState.batch(env, Seq("table", "key"), Seq("lsn", "seq"),
            asOfLsn = asOf)
          .select(col("key").cast("long").as("user_id"), col("lsn"), col("op"))
      graft.operators.TableDiff.diff(state(Some(3000L)), state(None), "user_id")
    },

    // --- stream–stream AS-OF join (cdc42): q32's point-in-time enrichment
    // --- with BOTH sides live — each streamed purchase picks the single
    // --- newest preceding product view of its user inside a 24 h
    // --- lookback (or nulls, watermark-proven, when none exists). Two
    // --- chained watermark-bounded stateful operators (interval left-outer
    // --- join → windowed argmax); state O(rate × lookback), never
    // --- O(history). Sentinel rows push the final watermark past the tail
    // --- (bounded-drive discipline of cdc28/31); micro-batching via
    // --- maxFilesPerTrigger exercises cross-batch join state. Oracle =
    // --- the batch restatement: LEFT JOIN candidates in the window,
    // --- row_number argmax by (ts, lsn) DESC — the exact tie-break the
    // --- struct-max encodes. ----------------------------------------------
    q("cdc42_stream_asof_join",
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |u AS (SELECT * FROM events WHERE event_type = 'view'),
        |cand AS (SELECT p.user_id, p.event_id AS purchase_lsn,
        |    u.event_id AS state_lsn, u.value AS state_value,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY u.ts DESC, u.event_id DESC) AS rn
        |  FROM p LEFT JOIN u ON p.user_id = u.user_id
        |   AND u.ts <= p.ts AND u.ts >= p.ts - INTERVAL 24 HOUR)
        |SELECT user_id, purchase_lsn, state_lsn, state_value
        |FROM cand WHERE rn = 1""".stripMargin) { (s, d) =>
      import graft.streaming.StreamStreamJoin
      val ev = StreamStreamJoin.eventsStreamWithSentinel(s,
        s"$d/events.parquet", Seq("purchase", "view"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_lsn"),
          col("ts").as("p_ts"))
      val updates = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("state_lsn"),
          col("value").as("state_value"), col("ts").as("u_ts"))
      val joined = StreamStreamJoin.asOfJoin(purchases, updates, "user_id",
        "p_ts", "u_ts", lookback = "24 HOURS", watermark = "0 seconds",
        rightCols = Seq("state_lsn", "state_value"))
      StreamStreamJoin.runToMemory(s, joined,
          s"cdc42_${java.util.UUID.randomUUID().toString.take(8)}")
        .filter(col("user_id") >= 0)
        .select("user_id", "purchase_lsn", "state_lsn", "state_value")
    },

    // --- manifest-swap commit protocol (cdc41): the transactional-sink
    // --- crash drill as an oracle-checked query. Three commit-ordered
    // --- batches fold through MaterializedTable.merge with batch ids;
    // --- between batches 2 and 3 a crash is SIMULATED by planting a
    // --- torn half-written next-version directory (raw non-parquet bytes
    // --- — anything that ever reads it throws, which is the proof that
    // --- nothing does). Verdict-as-data against the literal-TRUE oracle:
    // ---   isolation_ok — a reader during the crash window resolves
    // ---     exactly the committed snapshot (multiset-equal both ways);
    // ---   retry_noop  — an at-watermark replay of batch 2 with
    // ---     CONFLICTING content (values negated) is a guarded no-op.
    // --- Batch 3's merge then retries OVER the planted garbage (the
    // --- crashed version dir is deleted wholesale before writing), and
    // --- the final state must hash-match DuckDB's replay of the whole
    // --- changelog — no lost batch, no double fold. The reference's
    // --- progress-only-on-full-ack rule (kafka/bottledwater.c:678–715)
    // --- as a driver gate. ------------------------------------------------
    q("cdc41_commit_protocol",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events)
        |SELECT user_id, event_id AS last_lsn, value AS last_value,
        |  TRUE AS isolation_ok, TRUE AS retry_noop
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          get_json_object(col("after"), "$.value").cast("double").as("value"))
      // one bounded scalar to the driver — the LSN split points; lsn =
      // event_id by construction, so the raw parquet max serves without
      // paying the changelog's JSON projection for a single scalar
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      def slice(lo: Long, hi: Long) =
        env.filter(col("lsn") >= lo && col("lsn") < hi)
      val dir = java.nio.file.Files.createTempDirectory("cdc41").toString + "/t"
      val keyCols = Seq("key"); val ordCols = Seq("lsn", "seq")
      MaterializedTable.merge(s, dir, slice(0L, mx / 3), keyCols, ordCols,
        batchId = Some(1L))
      MaterializedTable.merge(s, dir, slice(mx / 3, 2 * mx / 3), keyCols,
        ordCols, batchId = Some(2L))
      val committed = MaterializedTable.read(s, dir)
      // CRASH: a torn write of the next version directory (the state a
      // process death mid-merge leaves behind — data files present,
      // manifest never swapped)
      val vmax = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
        .map(_.getName.drop(1).toLong).max
      val torn = new java.io.File(s"$dir/v${vmax + 1}/_bucket=0")
      torn.mkdirs()
      java.nio.file.Files.write(
        torn.toPath.resolve("part-00000-torn.snappy.parquet"),
        "TORN MID-WRITE".getBytes("UTF-8"))
      val duringCrash = MaterializedTable.read(s, dir)
      val isolationOk = Qutil.multisetEq(duringCrash, committed)
      // at-watermark replay with conflicting content: guarded no-op —
      // the negated values must never reach state
      val poisoned = slice(mx / 3, 2 * mx / 3)
        .withColumn("value", col("value") * -999)
      val retryNoop = MaterializedTable.merge(s, dir, poisoned, keyCols,
        ordCols, batchId = Some(2L)) == 0
      // batch 3 retries over the planted garbage and commits normally
      MaterializedTable.merge(s, dir, slice(2 * mx / 3, mx + 1), keyCols,
        ordCols, batchId = Some(3L))
      MaterializedTable.read(s, dir)
        .select(col("key").cast("long").as("user_id"),
          col("lsn").as("last_lsn"), col("value").as("last_value"),
          lit(isolationOk).as("isolation_ok"), lit(retryNoop).as("retry_noop"))
    },

    // --- small-file compaction (cdc45): MaterializedTable.compact — the
    // --- OPTIMIZE/bin-packing maintenance operation — as an oracle-checked
    // --- query. Three merge cycles leave every touched bucket with one
    // --- parquet file per writing task (the small-file pathology scan cost
    // --- degrades on); compact() rewrites each oversized bucket to ONE
    // --- file through the same new-version + manifest-swap commit as a
    // --- merge. Verdict-as-data: compacted_ok (some buckets were
    // --- oversized, and after the pass every live bucket holds ≤1 file —
    // --- checked through the MANIFEST's live set, not directory listing),
    // --- and the state itself must still hash-match DuckDB's replay —
    // --- compaction moves bytes, never rows. -----------------------------
    q("cdc45_compaction",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events)
        |SELECT user_id, event_id AS last_lsn, value AS last_value,
        |  TRUE AS compacted_ok
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin) { (s, d) =>
      // own session with AQE partition-coalescing OFF and the legacy
      // undistributed write: the default hash write distribution now emits
      // one file per bucket at every scale (nothing left to compact), so
      // the small-file pathology this gate exercises is staged explicitly
      // with writeDistribution=none — the pre-r15 merge layout, where each
      // bucket collects one file per writing task
      val s2 = s.newSession()
      s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      s2.conf.set("spark.graft.materialized.writeDistribution", "none")
      val env = ChangelogGen.fromEvents(s2, d).toDF()
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          get_json_object(col("after"), "$.value").cast("double").as("value"))
      // lsn = event_id: raw parquet max, no JSON projection for one scalar
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val dir = java.nio.file.Files.createTempDirectory("cdc45").toString + "/t"
      val keyCols = Seq("key"); val ordCols = Seq("lsn", "seq")
      Seq((0L, mx / 3), (mx / 3, 2 * mx / 3), (2 * mx / 3, mx + 1))
        .zipWithIndex.foreach { case ((lo, hi), i) =>
          // numBuckets deliberately NOT a multiple of the shuffle
          // parallelism: bucket id and shuffle partitioning share the same
          // murmur3 hash, so when partitions divide numBuckets each bucket
          // lands wholly in one task (one file — nothing to compact); a
          // non-aligned count spreads each bucket across tasks, the
          // production small-file shape
          MaterializedTable.merge(s2, dir,
            env.filter(col("lsn") >= lo && col("lsn") < hi),
            keyCols, ordCols, numBuckets = 6, batchId = Some(i.toLong))
        }
      def liveBucketFileCounts(): Seq[Int] = {
        val m = new java.io.File(dir).listFiles()
          .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
          .flatMap(v => Option(v.listFiles()).getOrElse(Array.empty)
            .filter(b => b.isDirectory && b.getName.startsWith("_bucket=")))
        m.toSeq.map(b => Option(b.listFiles()).getOrElse(Array.empty)
          .count(_.getName.endsWith(".parquet")))
      }
      val before = liveBucketFileCounts()
      val nCompacted = MaterializedTable.compact(s2, dir, maxFilesPerBucket = 1)
      val after = liveBucketFileCounts()
      val compactedOk = before.exists(_ > 1) && nCompacted > 0 &&
        after.nonEmpty && after.forall(_ <= 1)
      MaterializedTable.read(s2, dir)
        .select(col("key").cast("long").as("user_id"),
          col("lsn").as("last_lsn"), col("value").as("last_value"),
          lit(compactedOk).as("compacted_ok"))
    },

    // --- IVM-maintained summary + automatic navigation (cdc44): the full
    // --- warehouse loop closed. The events changelog folds BOTH into a
    // --- materialized fact (latest state) and, via IncrementalAgg's
    // --- retract-stream deltas, into a standing per-type aggregate —
    // --- three commit-ordered batches, old events never re-read. The
    // --- standing aggregate is PUBLISHED as a summary snapshot, registered
    // --- in SummaryRegistry, and a plain DataFrame aggregate WRITTEN
    // --- AGAINST THE FACT is answered by the optimizer from the
    // --- IVM-maintained summary (SummaryNavigationRewrite) — q111's rule
    // --- with the freshness contract its scaladoc points at (IVM keeps
    // --- the summary current) actually exercised. Verdict-as-data:
    // --- nav_used pins the rewritten plan (summary scanned, fact not);
    // --- the values hash-match DuckDB's from-scratch latest-state
    // --- aggregate — IVM fold ≡ recompute, THROUGH the optimizer. --------
    q("cdc44_ivm_summary_nav",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events),
        |live AS (SELECT * FROM ranked WHERE rn = 1 AND event_type <> 'error')
        |SELECT event_type,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |  COUNT(*) AS n_rows, TRUE AS nav_used
        |FROM live GROUP BY 1""".stripMargin) { (s, d) =>
      import graft.plans.{SummaryDef, SummaryMeasure, SummaryNavigationRewrite, SummaryRegistry}
      val env = withAfter(ChangelogGen.fromEvents(s, d).toDF())
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          col("_af.event_type").as("event_type"),
          col("_af.value").as("value"))
      // lsn = event_id: raw parquet max, no JSON projection for one scalar
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val root = java.nio.file.Files.createTempDirectory("cdc44").toString
      val (stateDir, standingDir) = (s"$root/state", s"$root/standing")
      // two commit-ordered batches: batch 2 folds against batch 1's
      // PERSISTED state, which is the cross-batch claim under test (the
      // deltasAgainstState spec drives 4 cuts; cdc41 pays the 3-merge
      // endurance drill — no need to bill it twice)
      val bounds = Seq((0L, mx / 2), (mx / 2, mx + 1))
      bounds.zipWithIndex.foreach { case ((lo, hi), i) =>
        val b = env.filter(col("lsn") >= lo && col("lsn") < hi)
          .localCheckpoint() // one plan feeds state merge + delta fold
        // cross-batch retract algebra: deltas of this batch AGAINST the
        // persisted prior state (deltaRows' lag() is batch-local; the
        // prior version lives in the materialized state)
        val prior =
          if (MaterializedTable.exists(s, stateDir))
            MaterializedTable.read(s, stateDir)
              .select("key", "event_type", "value")
          else b.select("key", "event_type", "value").limit(0)
        // numBuckets sized to the gate corpus (state ~120k keys / standing
        // ~5 groups); production tables size buckets to data, not defaults
        IncrementalAgg.foldStandingBatch(s, standingDir,
          IncrementalAgg.deltasAgainstState(prior, b, Seq("key"),
            Seq("lsn", "seq"), col("event_type"), col("value")),
          batchId = i.toLong, numBuckets = 4)
        MaterializedTable.merge(s, stateDir, b, Seq("key"), Seq("lsn", "seq"),
          numBuckets = 16, batchId = Some(i.toLong))
      }
      // PUBLISH: fact snapshot + summary snapshot as plain parquet — the
      // cube-layer publish step the navigation rule reads
      val factPath = s"$root/fact"
      val summaryPath = s"$root/summary"
      MaterializedTable.read(s, stateDir)
        .select(col("key"), col("event_type"), col("value"))
        .write.parquet(factPath)
      IncrementalAgg.readStanding(s, standingDir)
        .select(col("grp").as("event_type"), col("sum_value"),
          col("n_live").as("n_rows"))
        .write.parquet(summaryPath)
      val s2 = s.newSession()
      s2.experimental.extraOptimizations =
        s2.experimental.extraOptimizations :+ SummaryNavigationRewrite
      s2.conf.set("spark.graft.summaryNav.enabled", "true")
      try {
        SummaryRegistry.register(SummaryDef(factPath, summaryPath,
          Seq("event_type"),
          Seq(SummaryMeasure("sum_value", "sum", "value",
              Some(org.apache.spark.sql.types.DecimalType(18, 4))),
            SummaryMeasure("n_rows", "count", ""))))
        val navved = s2.read.parquet(factPath)
          .groupBy(col("event_type"))
          .agg(sum(col("value").cast(
              org.apache.spark.sql.types.DecimalType(18, 4))).as("sum_d"),
            count(lit(1)).as("n_rows"))
        val scans = navved.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.map(_.toString)
              case _ => Nil
            }
        }.flatten
        val navUsed = scans.exists(_.endsWith("/summary")) &&
          !scans.exists(_.endsWith("/fact"))
        navved.localCheckpoint()
          .select(col("event_type"),
            col("sum_d").cast("double").as("sum_value"), col("n_rows"),
            lit(navUsed).as("nav_used"))
      } finally SummaryRegistry.unregister(factPath)
    },

    // --- vacuum safety (cdc43): GC of unreferenced files as an oracle-
    // --- checked query. After two committed merges, plant BOTH garbage
    // --- classes a crash can leave: a torn next-version directory and a
    // --- stray bucket directory inside a LIVE version dir (a GC straggler
    // --- whose bucket the manifest does not reference there). vacuum()
    // --- must remove exactly that garbage — planted paths gone from the
    // --- filesystem (junk_removed) — while the committed state reads
    // --- multiset-identical before and after (state_intact), proving
    // --- vacuum can never touch a manifest-referenced file. --------------
    q("cdc43_vacuum_safety",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events)
        |SELECT user_id, event_id AS last_lsn, value AS last_value,
        |  TRUE AS state_intact, TRUE AS junk_removed
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          get_json_object(col("after"), "$.value").cast("double").as("value"))
      // lsn = event_id: raw parquet max, no JSON projection for one scalar
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val dir = java.nio.file.Files.createTempDirectory("cdc43").toString + "/t"
      val keyCols = Seq("key"); val ordCols = Seq("lsn", "seq")
      MaterializedTable.merge(s, dir, env.filter(col("lsn") <= mx / 2),
        keyCols, ordCols, batchId = Some(1L))
      MaterializedTable.merge(s, dir, env.filter(col("lsn") > mx / 2),
        keyCols, ordCols, batchId = Some(2L))
      val before = MaterializedTable.read(s, dir).localCheckpoint()
      // garbage class 1: torn next-version dir (crashed merge)
      val vmax = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
        .map(_.getName.drop(1).toLong).max
      val torn = new java.io.File(s"$dir/v${vmax + 1}/_bucket=0")
      torn.mkdirs()
      java.nio.file.Files.write(
        torn.toPath.resolve("part-00000-torn.snappy.parquet"),
        "TORN MID-WRITE".getBytes("UTF-8"))
      // age the torn dir past vacuum's in-flight age guard: under OCC a
      // FRESH above-head version dir may be a LIVE writer's staged commit
      // (the claim→publish window), so vacuum deliberately spares it for
      // an hour — an hour-old one is definitively this gate's crash debris
      torn.getParentFile.setLastModified(
        System.currentTimeMillis() - 2L * 60 * 60 * 1000)
      // garbage class 2: a stray bucket dir in the LIVE version dir that
      // the manifest does not reference there (a failed post-commit GC
      // would leave this shape in an OLD version dir; planting it in the
      // newest dir additionally proves vacuum checks the manifest, not
      // directory recency)
      val stray = new java.io.File(s"$dir/v$vmax/_bucket=9999")
      stray.mkdirs()
      java.nio.file.Files.write(
        stray.toPath.resolve("part-00000-stale.snappy.parquet"),
        "GC STRAGGLER".getBytes("UTF-8"))
      val removed = MaterializedTable.vacuum(s, dir)
      val junkRemoved = removed >= 2 &&
        !torn.getParentFile.exists() && !stray.exists()
      val after = MaterializedTable.read(s, dir)
      val stateIntact = Qutil.multisetEq(after, before)
      after
        .select(col("key").cast("long").as("user_id"),
          col("lsn").as("last_lsn"), col("value").as("last_value"),
          lit(stateIntact).as("state_intact"),
          lit(junkRemoved).as("junk_removed"))
    },

    // --- streaming SCD2 maintenance (cdc46): cdc13's version history kept
    // --- current BY A STREAM — the warehouse-load loop that never re-reads
    // --- history. streamingClosedVersions emits each version AS IT CLOSES
    // --- (Append mode: a closed interval is an immutable fact; per-key
    // --- state = one open version, O(keys) not O(events)); foldHistory
    // --- lands every micro-batch in its own `_batch=` partition so batch
    // --- retries dynamically overwrite ONLY themselves. The served table is
    // --- the closed history ∪ open versions from compacted latest state —
    // --- exactly the storage split a warehouse wants (append-only cold,
    // --- small hot). Oracle = cdc13's batch SCD2 SQL: the streaming fold
    // --- must reconstruct the identical history, hash-exact. Cross-batch
    // --- close/replay behavior is spec-pinned in HistorySpec. -------------
    q("cdc46_streaming_scd2",
      """WITH v AS (SELECT user_id, event_id, event_type, value,
        |  lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS nxt
        |  FROM events)
        |SELECT user_id, event_id AS valid_from, nxt AS valid_to,
        |  (nxt IS NULL) AS is_current, value AS version_value
        |FROM v WHERE event_type <> 'error'""".stripMargin) { (s, d) =>
      import graft.streaming.StreamStreamJoin
      val histDir =
        java.nio.file.Files.createTempDirectory("cdc46").toString + "/h"
      val env = ChangelogGen.projectEvents(
        StreamStreamJoin.eventsStream(s, s"$d/events.parquet"))
      ScdHistory.foldToHistory(ScdHistory.streamingClosedVersions(env), histDir)
      val open = ScdHistory.openVersions(
        LatestState.batch(ChangelogGen.fromEvents(s, d).toDF(),
          Seq("table", "key"), Seq("lsn", "seq")))
      ScdHistory.readHistory(s, histDir).unionByName(open)
        .select(col("key").cast("long").as("user_id"),
          col("valid_from_lsn").as("valid_from"),
          col("valid_to_lsn").as("valid_to"),
          col("valid_to_lsn").isNull.as("is_current"),
          get_json_object(col("after"), "$.value").cast("double")
            .as("version_value"))
    },

    // --- snapshot time travel (cdc47): the manifest protocol's versioned
    // --- records as a query surface. Three commit-ordered merges under a
    // --- retention window (retainVersions=8 ⇒ post-commit GC defers to
    // --- vacuum); the OUTPUT is readVersion(v2) — the table exactly as the
    // --- second commit left it, which must hash-match DuckDB's replay of
    // --- the changelog TRUNCATED at the same static cutoff. Verdict-as-
    // --- data: current_ok (the v3 read still multiset-equals a fresh full
    // --- replay — time travel cannot disturb the present), versions_ok
    // --- (listVersions sees exactly the three commits), vacuum_ok (a
    // --- retention-respecting vacuum() removed nothing a retained
    // --- snapshot references — v2 reads back identically after it). ------
    q("cdc47_time_travel",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events
        |  WHERE event_id < (SELECT 2*MAX(event_id)//3 FROM events))
        |SELECT user_id, event_id AS last_lsn, value AS last_value,
        |  TRUE AS current_ok, TRUE AS versions_ok, TRUE AS vacuum_ok
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin) { (s, d) =>
      val s2 = s.newSession()
      s2.conf.set("spark.graft.materialized.retainVersions", "8")
      val env = ChangelogGen.fromEvents(s2, d).toDF()
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          get_json_object(col("after"), "$.value").cast("double").as("value"))
      // lsn = event_id: raw parquet max, no JSON projection for one scalar
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val dir = java.nio.file.Files.createTempDirectory("cdc47").toString + "/t"
      val keyCols = Seq("key"); val ordCols = Seq("lsn", "seq")
      Seq((0L, mx / 3), (mx / 3, 2 * mx / 3), (2 * mx / 3, mx + 1))
        .zipWithIndex.foreach { case ((lo, hi), i) =>
          MaterializedTable.merge(s2, dir,
            env.filter(col("lsn") >= lo && col("lsn") < hi),
            keyCols, ordCols, batchId = Some(i.toLong))
        }
      val versionsOk =
        MaterializedTable.listVersions(s2, dir) == Seq(1L, 2L, 3L)
      // the present is undisturbed: current read ≡ fresh full replay
      val replayed = LatestState.batch(env, keyCols, ordCols)
        .select(col("key"), col("lsn"), col("value"))
      val current = MaterializedTable.read(s2, dir)
        .select(col("key"), col("lsn"), col("value"))
      val currentOk = Qutil.multisetEq(current, replayed)
      def travel() = MaterializedTable.readVersion(s2, dir, 2L)
        .select(col("key"), col("lsn"), col("value")).localCheckpoint()
      val atV2 = travel()
      // a retention-respecting vacuum removes nothing a retained snapshot
      // needs — v2 must read back multiset-identical afterwards
      MaterializedTable.vacuum(s2, dir)
      val afterVac = travel()
      val vacuumOk = Qutil.multisetEq(afterVac, atV2)
      afterVac
        .select(col("key").cast("long").as("user_id"),
          col("lsn").as("last_lsn"), col("value").as("last_value"),
          lit(currentOk).as("current_ok"), lit(versionsOk).as("versions_ok"),
          lit(vacuumOk).as("vacuum_ok"))
    },

    // --- change feed from storage versions (cdc48): the snapshot-diff CDC
    // --- operator — one op-typed row (insert/update/delete, full
    // --- before/after payload) per key whose state differs between two
    // --- committed versions. The inverse of merge: where cdc41 folds a
    // --- changelog INTO versioned state, this recovers a changelog FROM
    // --- the versions — how pipelines bootstrap CDC when no WAL exists,
    // --- and what an audit reads instead of two full snapshots (output is
    // --- O(divergence), one full-outer key join). Oracle restates it as
    // --- the diff of the two truncated replays. lsn is unique per event,
    // --- so comparing (lsn, value) ≡ comparing the full stored payload. --
    q("cdc48_change_feed",
      """WITH s2 AS (SELECT user_id, event_id, value FROM (
        |    SELECT user_id, event_id, value, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_id < (SELECT 2*MAX(event_id)//3 FROM events)) t
        |  WHERE rn = 1 AND event_type <> 'error'),
        |s3 AS (SELECT user_id, event_id, value FROM (
        |    SELECT user_id, event_id, value, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |    FROM events) t
        |  WHERE rn = 1 AND event_type <> 'error'),
        |j AS (SELECT COALESCE(s2.user_id, s3.user_id) AS user_id,
        |  CASE WHEN s2.user_id IS NULL THEN 'insert'
        |       WHEN s3.user_id IS NULL THEN 'delete'
        |       WHEN s2.event_id IS DISTINCT FROM s3.event_id
        |         OR s2.value IS DISTINCT FROM s3.value THEN 'update' END AS op,
        |  s2.event_id AS before_lsn, s2.value AS before_value,
        |  s3.event_id AS after_lsn, s3.value AS after_value
        |  FROM s2 FULL JOIN s3 ON s2.user_id = s3.user_id)
        |SELECT * FROM j WHERE op IS NOT NULL""".stripMargin) { (s, d) =>
      val s2 = s.newSession()
      s2.conf.set("spark.graft.materialized.retainVersions", "8")
      val env = ChangelogGen.fromEvents(s2, d).toDF()
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          get_json_object(col("after"), "$.value").cast("double").as("value"))
      // lsn = event_id: raw parquet max, no JSON projection for one scalar
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val dir = java.nio.file.Files.createTempDirectory("cdc48").toString + "/t"
      Seq((0L, mx / 3), (mx / 3, 2 * mx / 3), (2 * mx / 3, mx + 1))
        .zipWithIndex.foreach { case ((lo, hi), i) =>
          MaterializedTable.merge(s2, dir,
            env.filter(col("lsn") >= lo && col("lsn") < hi),
            Seq("key"), Seq("lsn", "seq"), batchId = Some(i.toLong))
        }
      MaterializedTable.changeFeed(s2, dir, fromV = 2L, toV = 3L, Seq("key"))
        .select(col("key").cast("long").as("user_id"), col("op"),
          col("before_lsn"), col("before_value"),
          col("after_lsn"), col("after_value"))
    },

    // --- streaming inactivity expiry (cdc49): per-key EVENT-TIME TIMERS
    // --- through Spark 4's transformWithState arbitrary-state API — the
    // --- one primitive flatMapGroupsWithState cannot express. A key quiet
    // --- for 2h emits exactly one expiry record (session-end/offline-alert
    // --- semantics, the streaming complement of q35's batch sessionize):
    // --- mid-stream gaps emit on the next event's arrival when the timer
    // --- has not fired, tail gaps from the timer once the sentinel pushes
    // --- the watermark past them; an `emitted` flag in state makes the two
    // --- paths emit-once regardless of watermark timing, and replays are
    // --- silent. RocksDB state store (required by the API — and the 100 TB
    // --- configuration anyway) on an isolated session. Oracle restates the
    // --- semantics as the lead() gap scan. --------------------------------
    q("cdc49_stream_expiry",
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t_us,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS nxt
        |  FROM events)
        |SELECT user_id, event_id AS last_lsn,
        |  t_us//1000 + 7200000 AS expired_at_ms
        |FROM e WHERE nxt IS NULL OR nxt - t_us > 7200000000""".stripMargin) { (s, d) =>
      import graft.streaming.{InactivityExpiry, StreamStreamJoin}
      val s2 = s.newSession()
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val ev = StreamStreamJoin.eventsStreamWithSentinel(s2,
        s"$d/events.parquet", Seq("click"))
      val expiries = InactivityExpiry.expiries(ev, gapMs = 7200000L)
      StreamStreamJoin.runToMemory(s2, expiries.toDF(),
          s"cdc49_${java.util.UUID.randomUUID().toString.take(8)}")
        .filter(col("user_id") >= 0)
        .select("user_id", "last_lsn", "expired_at_ms")
    },

    // --- stream-stream AS-OF with max staleness (cdc50): cdc42's
    // --- enrichment under q112's freshness contract — a view older than
    // --- 1h is WORSE than no view, so the carried argmax is nulled past
    // --- the bound (a stateless projection after the windowed argmax —
    // --- no new streaming state; sound because the carried candidate is
    // --- the newest). Completes the as-of matrix: batch
    // --- backward/forward/tolerance (q32/q112/q113) × streaming
    // --- backward/tolerance (cdc42/cdc50). Oracle = the batch argmax
    // --- with the CASE bound. --------------------------------------------
    q("cdc50_stream_asof_tolerance",
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |u AS (SELECT * FROM events WHERE event_type = 'view'),
        |cand AS (SELECT p.user_id, p.event_id AS purchase_lsn, p.ts AS p_ts,
        |    u.event_id AS matched_lsn, u.value AS matched_value, u.ts AS u_ts,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY u.ts DESC, u.event_id DESC) AS rn
        |  FROM p LEFT JOIN u ON p.user_id = u.user_id
        |   AND u.ts <= p.ts AND u.ts >= p.ts - INTERVAL 24 HOUR)
        |SELECT user_id, purchase_lsn,
        |  CASE WHEN u_ts >= p_ts - INTERVAL 1 HOUR THEN matched_lsn END
        |    AS state_lsn,
        |  CASE WHEN u_ts >= p_ts - INTERVAL 1 HOUR THEN matched_value END
        |    AS state_value
        |FROM cand WHERE rn = 1""".stripMargin) { (s, d) =>
      import graft.streaming.StreamStreamJoin
      val ev = StreamStreamJoin.eventsStreamWithSentinel(s,
        s"$d/events.parquet", Seq("purchase", "view"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_lsn"),
          col("ts").as("p_ts"))
      val updates = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("state_lsn"),
          col("value").as("state_value"), col("ts").as("u_ts"))
      val joined = StreamStreamJoin.asOfJoin(purchases, updates, "user_id",
        "p_ts", "u_ts", lookback = "24 HOURS", watermark = "0 seconds",
        rightCols = Seq("state_lsn", "state_value"),
        maxStaleness = Some("1 HOUR"))
      StreamStreamJoin.runToMemory(s, joined,
          s"cdc50_${java.util.UUID.randomUUID().toString.take(8)}")
        .filter(col("user_id") >= 0)
        .select("user_id", "purchase_lsn", "state_lsn", "state_value")
    },

    // --- RESTORE / rollback-to-version (cdc51): the lakehouse triad's
    // --- third piece (time travel cdc47, change feed cdc48, now Delta's
    // --- RESTORE shape): after three commits, restore(v2) commits a NEW
    // --- version that simply re-references v2's bucket files —
    // --- METADATA-ONLY, pinned by the data-file set being byte-identical
    // --- across the restore (metadata_only verdict). The batch watermark
    // --- survives the rollback (a restore must not silently re-open the
    // --- replay window — the stale-id retry is a no-op, watermark_ok),
    // --- and re-applying the rolled-back batch with a FRESH id converges
    // --- to the full replay (reapply_ok). Output = the restored state,
    // --- hash-matched against the truncated replay. ----------------------
    q("cdc51_restore",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events
        |  WHERE event_id < (SELECT 2*MAX(event_id)//3 FROM events))
        |SELECT user_id, event_id AS last_lsn, value AS last_value,
        |  TRUE AS metadata_only, TRUE AS watermark_ok, TRUE AS reapply_ok
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin) { (s, d) =>
      val s2 = s.newSession()
      s2.conf.set("spark.graft.materialized.retainVersions", "8")
      val env = ChangelogGen.fromEvents(s2, d).toDF()
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          get_json_object(col("after"), "$.value").cast("double").as("value"))
      // lsn = event_id: raw parquet max, no JSON projection for one scalar
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val dir = java.nio.file.Files.createTempDirectory("cdc51").toString + "/t"
      def slice(lo: Long, hi: Long) =
        env.filter(col("lsn") >= lo && col("lsn") < hi)
      Seq((0L, mx / 3), (mx / 3, 2 * mx / 3), (2 * mx / 3, mx + 1))
        .zipWithIndex.foreach { case ((lo, hi), i) =>
          MaterializedTable.merge(s2, dir, slice(lo, hi),
            Seq("key"), Seq("lsn", "seq"), batchId = Some(i.toLong))
        }
      def dataFiles(): Set[String] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
            .toSeq.flatMap(walk)
          else Seq(f)
        walk(new java.io.File(dir))
          .filter(_.getName.endsWith(".parquet"))
          .map(f => s"${f.getPath}:${f.length}:${f.lastModified}").toSet
      }
      val filesBefore = dataFiles()
      val rv = MaterializedTable.restore(s2, dir, 2L)
      val metadataOnly = dataFiles() == filesBefore
      // the watermark survives: a stale-id retry of the rolled-back batch
      // (with conflicting content) must stay a no-op
      val poisoned = slice(2 * mx / 3, mx + 1)
        .withColumn("value", col("value") * -999)
      val watermarkOk = MaterializedTable.merge(s2, dir, poisoned,
        Seq("key"), Seq("lsn", "seq"), batchId = Some(2L)) == 0
      val restored = MaterializedTable.readVersion(s2, dir, rv)
        .select(col("key"), col("lsn"), col("value")).localCheckpoint()
      // explicit re-apply with a FRESH id converges back to the full replay
      MaterializedTable.merge(s2, dir, slice(2 * mx / 3, mx + 1),
        Seq("key"), Seq("lsn", "seq"), batchId = Some(3L))
      val replayedAll = LatestState.batch(env, Seq("key"), Seq("lsn", "seq"))
        .select(col("key"), col("lsn"), col("value"))
      val current = MaterializedTable.read(s2, dir)
        .select(col("key"), col("lsn"), col("value"))
      val reapplyOk = Qutil.multisetEq(current, replayedAll)
      restored
        .select(col("key").cast("long").as("user_id"),
          col("lsn").as("last_lsn"), col("value").as("last_value"),
          lit(metadataOnly).as("metadata_only"),
          lit(watermarkOk).as("watermark_ok"),
          lit(reapplyOk).as("reapply_ok"))
    },

    // --- streaming per-key rate limiting (cdc52): admit at most 3 events
    // --- per user per DAY window, drop the rest — the throttle /
    // --- anti-abuse primitive (q103's debounce generalized to a quota)
    // --- executed by the state store. Second transformWithState operator,
    // --- exercising the API surface cdc49 doesn't: MAP STATE (per-open-
    // --- window admission counts — a key straddles several windows) and
    // --- TimeMode.None (no timers, no watermark — quotas need only
    // --- arrival order); a per-key lsn high-water mark keeps replays
    // --- silent so a redelivered event can never steal a slot. RocksDB
    // --- provider (API-required) on an isolated session. Oracle = the
    // --- windowed row_number restatement. --------------------------------
    q("cdc52_stream_rate_limit",
      """WITH r AS (SELECT user_id, event_id, row_number() OVER (
        |  PARTITION BY user_id, date_trunc('day', ts)
        |  ORDER BY ts, event_id) AS slot FROM events)
        |SELECT user_id, event_id AS lsn, CAST(slot AS BIGINT) AS slot
        |FROM r WHERE slot <= 3""".stripMargin) { (s, d) =>
      import graft.streaming.{RateLimit, StreamStreamJoin}
      val s2 = s.newSession()
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val ev = StreamStreamJoin.eventsStream(s2, s"$d/events.parquet")
      val admitted = RateLimit.throttle(ev, windowMs = 86400000L, limit = 3)
      StreamStreamJoin.runToMemory(s2, admitted.toDF(),
          s"cdc52_${java.util.UUID.randomUUID().toString.take(8)}")
        .select("user_id", "lsn", "slot")
    },

    // --- streaming consecutive-failure alerts (cdc53): emit once when a
    // --- user's run of consecutive error events REACHES 3, carrying every
    // --- lsn in the streak (the evidence an incident ticket ships);
    // --- longer runs stay silent past the alert, any non-error resets.
    // --- The MATCH_RECOGNIZE "A{3}" sequence pattern live in the state
    // --- store — q86's batch conformance rules as a stream. Third
    // --- transformWithState operator, completing the state-type coverage
    // --- (cdc49 ValueState+timers, cdc52 MapState, here LIST STATE — the
    // --- recent-K payload a counter could fire on but not CARRY).
    // --- Oracle = the lag-chain restatement with the streak-start guard. -
    q("cdc53_stream_error_streak",
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    lag(event_type, 1) OVER w AS p1, lag(event_type, 2) OVER w AS p2,
        |    lag(event_type, 3) OVER w AS p3,
        |    lag(event_id, 2) OVER w AS l1, lag(event_id, 1) OVER w AS l2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, l1 AS lsn1, l2 AS lsn2, event_id AS lsn3
        |FROM o WHERE event_type = 'error' AND p1 = 'error' AND p2 = 'error'
        |  AND (p3 IS NULL OR p3 <> 'error')""".stripMargin) { (s, d) =>
      import graft.streaming.{ErrorStreak, StreamStreamJoin}
      val s2 = s.newSession()
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val ev = StreamStreamJoin.eventsStream(s2, s"$d/events.parquet")
      StreamStreamJoin.runToMemory(s2, ErrorStreak.streaks(ev).toDF(),
          s"cdc53_${java.util.UUID.randomUUID().toString.take(8)}")
        .select("user_id", "lsn1", "lsn2", "lsn3")
    },

    // --- manifest statistics (cdc54): the Delta-style data-skipping layer
    // --- as an oracle-checked query. Two commit-ordered batches merge with
    // --- declared statsCols; then three reads cash the stats in:
    // ---   summary_ok — statsSummary (METADATA-ONLY: rows + min/max/nulls
    // ---     folded from the manifest, zero data files opened) equals the
    // ---     recomputed aggregates over the full state;
    // ---   pruned_ok — readPruned on a value range is multiset-identical
    // ---     to read().filter (skipping removes IO, never rows);
    // ---   skip_ok — an impossible bound lists ZERO buckets
    // ---     (matchingBuckets pins the skip, the read returns nothing).
    // --- The served rows themselves come through lookup(): per-key point
    // --- reads that touch exactly ONE bucket each — O(1/numBuckets) of
    // --- the table, the serving-path read (torn-bucket isolation proof in
    // --- MaterializedStatsSpec). Hash-matched against DuckDB's replay. ----
    q("cdc54_stats_skipping",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events)
        |SELECT user_id, event_id AS last_lsn, value AS last_value,
        |  TRUE AS summary_ok, TRUE AS pruned_ok, TRUE AS skip_ok
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'
        |  AND user_id IN (1, 2, 3, 4, 5)""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          get_json_object(col("after"), "$.value").cast("double").as("value"))
      // lsn = event_id: raw parquet max, no JSON projection for one scalar
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val dir = java.nio.file.Files.createTempDirectory("cdc54").toString + "/t"
      val keyCols = Seq("key"); val ordCols = Seq("lsn", "seq")
      Seq((0L, mx / 2, 1L), (mx / 2, mx + 1, 2L)).foreach { case (lo, hi, id) =>
        MaterializedTable.merge(s, dir,
          env.filter(col("lsn") >= lo && col("lsn") < hi), keyCols, ordCols,
          batchId = Some(id), statsCols = Seq("value", "lsn"))
      }
      val state = MaterializedTable.read(s, dir)
      // metadata-only summary vs recomputed truth
      val sm = MaterializedTable.statsSummary(s, dir).head()
      val truth = state.agg(count(lit(1)), min(col("value")), max(col("value")),
        count(when(col("value").isNull, lit(1))), min(col("lsn")),
        max(col("lsn"))).head()
      val summaryOk = sm.getAs[Long]("rows") == truth.getLong(0) &&
        sm.getAs[Double]("min_value") == truth.getDouble(1) &&
        sm.getAs[Double]("max_value") == truth.getDouble(2) &&
        sm.getAs[Long]("nulls_value") == truth.getLong(3) &&
        sm.getAs[Long]("min_lsn") == truth.getLong(4) &&
        sm.getAs[Long]("max_lsn") == truth.getLong(5)
      // range-pruned read ≡ full read + filter, multiset both ways
      val p = col("value") >= 100.0 && col("value") <= 400.0
      val pruned = MaterializedTable.readPruned(s, dir, p)
      val full = state.filter(p)
      val prunedOk = Qutil.multisetEq(pruned, full)
      // impossible bound: zero buckets listed, nothing read
      val impossible = col("lsn") > lit(mx + 1000000L)
      val skipOk =
        MaterializedTable.matchingBuckets(s, dir, impossible).isEmpty &&
          MaterializedTable.readPruned(s, dir, impossible).isEmpty
      // serving path: five point lookups, one bucket each
      (1 to 5).map(k => MaterializedTable.lookup(s, dir, Seq(k.toString)))
        .reduce(_.unionByName(_))
        .select(col("key").cast("long").as("user_id"),
          col("lsn").as("last_lsn"), col("value").as("last_value"),
          lit(summaryOk).as("summary_ok"), lit(prunedOk).as("pruned_ok"),
          lit(skipOk).as("skip_ok"))
    },

    // --- streaming lookup enrichment (cdc55): the serving-path stream
    // --- join. The events changelog folds into a MaterializedTable
    // --- dimension; the raw events then stream AGAIN as the fact side
    // --- (3 staged files → 3 micro-batches) and each micro-batch is
    // --- enriched via LookupEnrich: the dimension read is PRUNED to the
    // --- buckets the batch's keys hash to (readMatching — O(k/numBuckets
    // --- · dimSize) IO per trigger, the KTable lookup-join shape, vs
    // --- re-reading or re-broadcasting the full dimension every trigger).
    // --- Results land idempotently in _batch partitions; the rollup must
    // --- hash-match DuckDB's batch join of events against latest state —
    // --- streaming enrichment ≡ batch join when the dimension is quiesced,
    // --- which is exactly the bounded-drive contract. ---------------------
    q("cdc55_stream_enrich",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events),
        |live AS (SELECT user_id, value AS dim_value
        |  FROM ranked WHERE rn = 1 AND event_type <> 'error')
        |SELECT e.user_id, COUNT(*) AS n_ev, MAX(l.dim_value) AS dim_value
        |FROM events e JOIN live l ON e.user_id = l.user_id
        |GROUP BY 1""".stripMargin) { (s, d) =>
      import graft.streaming.LookupEnrich
      val env = ChangelogGen.fromEvents(s, d).toDF()
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          get_json_object(col("after"), "$.value").cast("double").as("value"))
      val root = java.nio.file.Files.createTempDirectory("cdc55").toString
      val (dimDir, probeDir, outDir) =
        (s"$root/dim", s"$root/probe", s"$root/out")
      MaterializedTable.merge(s, dimDir, env, Seq("key"), Seq("lsn", "seq"),
        batchId = Some(1L))
      // fact side: the same events re-staged as 3 files → 3 micro-batches
      Tables.events(s, d).select(col("event_id"), col("user_id"))
        .repartitionByRange(3, col("event_id"))
        .write.parquet(probeDir)
      val schema = s.read.parquet(probeDir).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(probeDir)
      LookupEnrich.enrichToDir(stream, dimDir, outDir, Seq("user_id"))
      LookupEnrich.readEnriched(s, outDir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_ev"), max(col("value")).as("dim_value"))
    },

    // --- atomic multi-table commit (cdc56): the reference's transaction
    // --- bracketing (BEGIN/…/COMMIT spanning several tables,
    // --- kafka/bottledwater.c:678–715's all-or-nothing consumer view)
    // --- lifted to the serving side. The changelog folds into TWO member
    // --- tables (by_user latest state; by_type latest per (user,type),
    // --- upserts only — deletes carry no after-image to key on) through
    // --- TableGroup.commit: member merges + ONE root-manifest swap.
    // --- Crash drill: member by_user lands batch 2 DIRECTLY (root never
    // --- swaps — the mid-transaction crash); verdict-as-data:
    // ---   isolation_ok — the group read still serves the batch-1
    // ---     snapshot (multiset both ways) WHILE the member's own face
    // ---     is provably ahead (divergence asserted);
    // ---   retry_noop — a whole-group replay of batch 1 with poisoned
    // ---     content (negated values, alien type) folds nothing.
    // --- The group retry of batch 2 then re-runs ONLY the missing member
    // --- and swaps the root; final cross-table join hash-matches DuckDB's
    // --- replay — no lost member, no double fold, group-consistent. ------
    q("cdc56_group_commit",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events),
        |live AS (SELECT user_id, event_id AS last_lsn, value AS last_value
        |  FROM ranked WHERE rn = 1 AND event_type <> 'error'),
        |btypes AS (SELECT user_id, COUNT(DISTINCT event_type) AS n_types
        |  FROM events WHERE event_type <> 'error' GROUP BY 1)
        |SELECT l.user_id, l.last_lsn, l.last_value, b.n_types,
        |  TRUE AS isolation_ok, TRUE AS retry_noop
        |FROM live l JOIN btypes b ON l.user_id = b.user_id""".stripMargin) { (s, d) =>
      val s2 = s.newSession()
      s2.conf.set("spark.graft.materialized.retainVersions", "4")
      val env = withAfter(ChangelogGen.fromEvents(s2, d).toDF())
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          col("_af.event_type").as("typ"),
          col("_af.value").as("value"))
        .localCheckpoint() // feeds ~7 slice scans below — pay the JSON once
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val root = java.nio.file.Files.createTempDirectory("cdc56").toString + "/g"
      val ord = Seq("lsn", "seq")
      def uSlice(lo: Long, hi: Long) =
        env.filter(col("lsn") >= lo && col("lsn") < hi)
          .select("op", "key", "lsn", "seq", "value")
      def tSlice(lo: Long, hi: Long) =
        env.filter(col("lsn") >= lo && col("lsn") < hi &&
            col("op") =!= graft.cdc.Op.Delete)
          .select("op", "key", "typ", "lsn", "seq")
      def group(lo: Long, hi: Long) = Seq(
        TableGroup.TableBatch("by_user", uSlice(lo, hi), Seq("key")),
        TableGroup.TableBatch("by_type", tSlice(lo, hi), Seq("key", "typ")))
      TableGroup.commit(s2, root, group(0L, mx / 2), ord, batchId = 1L)
      val pre = TableGroup.read(s2, root, "by_user")
      // CRASH: one member lands batch 2, the root never swaps
      MaterializedTable.merge(s2, s"$root/by_user", uSlice(mx / 2, mx + 1),
        Seq("key"), ord, batchId = Some(2L))
      val during = TableGroup.read(s2, root, "by_user")
      val memberFace = MaterializedTable.read(s2, s"$root/by_user")
      val isolationOk = Qutil.multisetEq(during, pre) &&
        !memberFace.exceptAll(during).isEmpty // member provably ahead
      // whole-group poisoned replay of batch 1: folds nothing
      val poisoned = Seq(
        TableGroup.TableBatch("by_user",
          uSlice(0L, mx / 2).withColumn("value", col("value") * -999),
          Seq("key")),
        TableGroup.TableBatch("by_type",
          tSlice(0L, mx / 2).withColumn("typ", lit("POISON")),
          Seq("key", "typ")))
      val retryNoop =
        TableGroup.commit(s2, root, poisoned, ord, batchId = 1L) == 0
      // the proper group retry re-runs only the missing member, swaps root
      TableGroup.commit(s2, root, group(mx / 2, mx + 1), ord, batchId = 2L)
      val u = TableGroup.read(s2, root, "by_user")
      val t = TableGroup.read(s2, root, "by_type")
        .groupBy("key").agg(count(lit(1)).as("n_types"))
      u.join(t, "key")
        .select(col("key").cast("long").as("user_id"),
          col("lsn").as("last_lsn"), col("value").as("last_value"),
          col("n_types"),
          lit(isolationOk).as("isolation_ok"), lit(retryNoop).as("retry_noop"))
    },

    // --- streaming transactional multi-table sink (cdc57): cdc56's group
    // --- commit DRIVEN FROM A LIVE STREAM — every micro-batch of the
    // --- changelog (3 staged files → 3 batches) lands across both member
    // --- tables as one TableGroup commit, batch id = foreachBatch id, so
    // --- Structured Streaming's at-least-once redelivery becomes a
    // --- convergent retry (members that landed no-op, the root swaps
    // --- once). Drill on top: the WHOLE stream replays from a fresh
    // --- checkpoint with poisoned payloads — every group commit is a
    // --- root-watermark no-op; replay_silent pins state multiset-equality
    // --- across the replay. Final cross-table join hash-matches DuckDB's
    // --- batch replay: stream-of-transactions ≡ one big fold. ------------
    q("cdc57_stream_group_commit",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events),
        |live AS (SELECT user_id, event_id AS last_lsn, value AS last_value
        |  FROM ranked WHERE rn = 1 AND event_type <> 'error'),
        |btypes AS (SELECT user_id, COUNT(DISTINCT event_type) AS n_types
        |  FROM events WHERE event_type <> 'error' GROUP BY 1)
        |SELECT l.user_id, l.last_lsn, l.last_value, b.n_types,
        |  TRUE AS replay_silent
        |FROM live l JOIN btypes b ON l.user_id = b.user_id""".stripMargin) { (s, d) =>
      import graft.streaming.GroupCommitStream
      val s2 = s.newSession()
      s2.conf.set("spark.graft.materialized.retainVersions", "4")
      val env = withAfter(ChangelogGen.fromEvents(s2, d).toDF())
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          col("_af.event_type").as("typ"),
          col("_af.value").as("value"))
        .localCheckpoint() // feeds 4 staged writes below — pay the JSON once
      val dir = java.nio.file.Files.createTempDirectory("cdc57").toString
      val (root, src, psrc) = (s"$dir/g", s"$dir/src", s"$dir/poison")
      // three SEQUENTIALLY-written lsn slices: the file source orders new
      // files by modification time, so batches arrive in changelog order —
      // the ordered-source contract every CDC transport provides (an
      // out-of-order source would need tombstone retention in the member
      // fold; see LatestState's streaming TTL)
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      Seq((0L, mx / 3), (mx / 3, 2 * mx / 3), (2 * mx / 3, mx + 1))
        .zipWithIndex.foreach { case ((lo, hi), i) =>
          env.filter(col("lsn") >= lo && col("lsn") < hi)
            .coalesce(1).write.parquet(s"$src/f$i")
        }
      val schema = s2.read.parquet(s"$src/f0").schema
      def members(b: org.apache.spark.sql.DataFrame) = Seq(
        TableGroup.TableBatch("by_user",
          b.select("op", "key", "lsn", "seq", "value"), Seq("key")),
        TableGroup.TableBatch("by_type",
          b.filter(col("op") =!= graft.cdc.Op.Delete)
            .select("op", "key", "typ", "lsn", "seq"), Seq("key", "typ")))
      // the default checkpoint (under root) is the RESUME path; the poison
      // replay below needs an EXPLICIT fresh checkpoint — batch ids restart
      // at 0 — to drill the root-watermark no-op
      def drive(path: String, ckpt: Option[String] = None): Unit =
        GroupCommitStream.run(
          s2.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(path), root, members, Seq("lsn", "seq"),
          checkpointLocation = ckpt)
      drive(s"$src/f*")
      val before = TableGroup.read(s2, root, "by_user")
      // fresh-checkpoint poisoned replay: batch ids restart at 0 — staged
      // as ONE file so the replay is a single batch id 0, at or below ANY
      // committed root watermark regardless of how the first drive batched
      env.withColumn("value", col("value") * -999)
        .coalesce(1).write.parquet(psrc)
      drive(psrc, Some(s"$dir/ckpt_poison"))
      val after = TableGroup.read(s2, root, "by_user")
      val replaySilent = Qutil.multisetEq(after, before)
      val t = TableGroup.read(s2, root, "by_type")
        .groupBy("key").agg(count(lit(1)).as("n_types"))
      TableGroup.read(s2, root, "by_user").join(t, "key")
        .select(col("key").cast("long").as("user_id"),
          col("lsn").as("last_lsn"), col("value").as("last_value"),
          col("n_types"), lit(replaySilent).as("replay_silent"))
    },

    // --- clustered compaction (cdc58): OPTIMIZE ZORDER BY's discipline on
    // --- the bucket layout. Hash bucketing scatters payload ranges across
    // --- buckets, so cdc54's manifest-level min/max cannot prune a range
    // --- predicate — but WITHIN a file, sorted rows give parquet
    // --- row-group statistics the same skipping power: compact(sortCols)
    // --- rewrites every live bucket ONE-file, value-ordered, through the
    // --- same new-version + manifest-swap commit (stats carry — content
    // --- unchanged). Verdict-as-data: clustered_ok walks every live
    // --- bucket file (O(numBuckets) tiny reads) and pins rows
    // --- non-decreasing in the cluster column; the state itself must
    // --- still hash-match DuckDB's replay — clustering moves bytes,
    // --- never rows. -----------------------------------------------------
    q("cdc58_clustered_compact",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events)
        |SELECT user_id, event_id AS last_lsn, value AS last_value,
        |  TRUE AS clustered_ok
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          get_json_object(col("after"), "$.value").cast("double").as("value"))
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val dir = java.nio.file.Files.createTempDirectory("cdc58").toString + "/t"
      val keyCols = Seq("key"); val ordCols = Seq("lsn", "seq")
      Seq((0L, mx / 2, 1L), (mx / 2, mx + 1, 2L)).foreach { case (lo, hi, id) =>
        MaterializedTable.merge(s, dir,
          env.filter(col("lsn") >= lo && col("lsn") < hi), keyCols, ordCols,
          numBuckets = 8, batchId = Some(id))
      }
      val n = MaterializedTable.compact(s, dir, sortCols = Seq("value"))
      // pin: within every live bucket file, value is non-decreasing (nulls,
      // which Spark sorts first, may only lead). DISTRIBUTED audit: the
      // parquet _metadata column gives each row's (file, in-file index) —
      // stable across scan splits — so the order proof is one per-file
      // window over all buckets at once, never a per-bucket driver collect
      val liveBucketDirs = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
        .flatMap(v => Option(v.listFiles()).getOrElse(Array.empty))
        .filter(b => b.isDirectory && b.getName.startsWith("_bucket="))
      val clusteredOk = n > 0 && liveBucketDirs.nonEmpty && {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("_f")).orderBy(col("_i"))
        s.read.parquet(liveBucketDirs.map(_.toString).toIndexedSeq: _*)
          .select(col("value"), col("_metadata.file_path").as("_f"),
            col("_metadata.row_index").as("_i"))
          .withColumn("_prev", lag(col("value"), 1).over(w))
          .filter(col("_prev").isNotNull &&
            (col("value").isNull || col("value") < col("_prev")))
          .isEmpty
      }
      MaterializedTable.read(s, dir)
        .select(col("key").cast("long").as("user_id"),
          col("lsn").as("last_lsn"), col("value").as("last_value"),
          lit(clusteredOk).as("clustered_ok"))
    },

    // --- layout evolution / re-bucketing (cdc59): the explicit full
    // --- rewrite the merge-time numBuckets guard points at — a table
    // --- outgrowing its bucket count re-hashes every key, the one layout
    // --- change hash bucketing cannot absorb incrementally. Fold half the
    // --- changelog at 8 buckets, REBUCKET to 16 (one read → shuffle →
    // --- complete new version → manifest swap; old layout fully live
    // --- until the swap), fold the second half at 16. Verdict-as-data:
    // --- rebucket_ok pins content multiset-equality across the rewrite,
    // --- a post-rebucket point lookup under the NEW hash, the stale
    // --- batch-watermark replay staying a no-op across the layout change,
    // --- and the old bucket count being rejected. Final state
    // --- hash-matches DuckDB's replay — layout changed, rows never. -----
    q("cdc59_rebucket",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events)
        |SELECT user_id, event_id AS last_lsn, value AS last_value,
        |  TRUE AS rebucket_ok
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          get_json_object(col("after"), "$.value").cast("double").as("value"))
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val dir = java.nio.file.Files.createTempDirectory("cdc59").toString + "/t"
      val keyCols = Seq("key"); val ordCols = Seq("lsn", "seq")
      def slice(lo: Long, hi: Long) =
        env.filter(col("lsn") >= lo && col("lsn") < hi)
      MaterializedTable.merge(s, dir, slice(0L, mx / 2), keyCols, ordCols,
        numBuckets = 8, batchId = Some(1L))
      // materialize the pre-rewrite snapshot — rebucket's post-commit GC
      // deletes the old layout's files (retention default 0)
      val before = MaterializedTable.read(s, dir).localCheckpoint()
      MaterializedTable.rebucket(s, dir, 16)
      val after = MaterializedTable.read(s, dir)
      val contentOk = Qutil.multisetEq(after, before)
      // a live key for the new-layout lookup: the smallest key in state
      val probeKey = after.agg(min(col("key").cast("long"))).head().getLong(0)
      val lookupOk = MaterializedTable.lookup(s, dir, Seq(probeKey.toString))
        .count() == 1
      val replayNoop = MaterializedTable.merge(s, dir,
        slice(0L, mx / 2).withColumn("value", col("value") * -999),
        keyCols, ordCols, numBuckets = 16, batchId = Some(1L)) == 0
      val oldCountRejected = scala.util.Try(
        MaterializedTable.merge(s, dir, slice(mx / 2, mx + 1), keyCols,
          ordCols, numBuckets = 8, batchId = Some(2L))).isFailure
      MaterializedTable.merge(s, dir, slice(mx / 2, mx + 1), keyCols,
        ordCols, numBuckets = 16, batchId = Some(2L))
      MaterializedTable.read(s, dir)
        .select(col("key").cast("long").as("user_id"),
          col("lsn").as("last_lsn"), col("value").as("last_value"),
          lit(contentOk && lookupOk && replayNoop && oldCountRejected)
            .as("rebucket_ok"))
    },

    // --- the "graft" data source (cdc60): the storage layer as a
    // --- first-class Spark format — spark.read.format("graft").load(dir)
    // --- gives plain DataFrame/SQL consumers the manifest's bucket
    // --- skipping via V1 filter pushdown (PrunedFilteredScan →
    // --- readPruned), no library API in sight. Correctness is
    // --- double-guarded (all filters also declared unhandled, so Spark
    // --- re-evaluates the originals above the scan). Verdict-as-data:
    // --- pushdown_ok pins PushedFilters in the physical plan AND an
    // --- impossible bound answering empty (the all-torn total-skip proof
    // --- lives in GraftTableSourceSpec); the filtered rollup must
    // --- hash-match DuckDB's replay with the same WHERE. ------------------
    q("cdc60_datasource",
      """WITH ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events),
        |live AS (SELECT user_id, value FROM ranked
        |  WHERE rn = 1 AND event_type <> 'error')
        |SELECT COUNT(*) AS n_mid,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_mid,
        |  TRUE AS pushdown_ok
        |FROM live WHERE value >= 100 AND value <= 400""".stripMargin) { (s, d) =>
      val env = ChangelogGen.fromEvents(s, d).toDF()
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          get_json_object(col("after"), "$.value").cast("double").as("value"))
      val dir = java.nio.file.Files.createTempDirectory("cdc60").toString + "/t"
      MaterializedTable.merge(s, dir, env, Seq("key"), Seq("lsn", "seq"),
        batchId = Some(1L), statsCols = Seq("value", "lsn"))
      val df = s.read.format("graft").load(dir)
      val filt = df.filter(col("value") >= 100.0 && col("value") <= 400.0)
      val pushed = filt.queryExecution.executedPlan.toString
        .contains("PushedFilters")
      val skips = df.filter(col("lsn") > lit(Long.MaxValue - 1)).count() == 0
      filt.agg(count(lit(1)).as("n_mid"),
          graft.queries.Qutil.dsum(col("value")).as("sum_mid"))
        .select(col("n_mid"), col("sum_mid"),
          lit(pushed && skips).as("pushdown_ok"))
    },

    // --- streaming change feed (cdc61): the materialized table's change
    // --- feed as a Structured Streaming SOURCE
    // --- (spark.readStream.format("graft-cdf") — Delta's streaming CDF
    // --- shape): offsets ARE committed versions; each micro-batch is the
    // --- snapshot diff between the last-processed and newest version —
    // --- op-typed rows with full before/after payloads, NET change per
    // --- key per batch (the keep-a-replica-converged consumer contract).
    // --- No backfill: the feed starts at the version current at query
    // --- start. Drill: v1 committed before the stream starts (emits
    // --- nothing), then two commits drained one at a time → the feed is
    // --- exactly diff(v1→v2) ∪ diff(v2→v3); the per-op rollup must
    // --- hash-match DuckDB's independent three-snapshot double diff.
    // --- (Building this source surfaced a real reader race: a continuous
    // --- getOffset poll could find no manifest mid-swap, because Hadoop's
    // --- local rename-with-overwrite deletes first. Commit points are now
    // --- replaced by one POSIX rename — see graft.cdc.MetaFile.) ---
    q("cdc61_change_feed_stream",
      """WITH r1 AS (SELECT user_id, event_id AS lsn, value, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_id < (SELECT MAX(event_id) // 3 FROM events)),
        |s1 AS (SELECT user_id, lsn, value FROM r1
        |  WHERE rn = 1 AND event_type <> 'error'),
        |r2 AS (SELECT user_id, event_id AS lsn, value, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events
        |  WHERE event_id < (SELECT 2 * (MAX(event_id) // 3) FROM events)),
        |s2 AS (SELECT user_id, lsn, value FROM r2
        |  WHERE rn = 1 AND event_type <> 'error'),
        |r3 AS (SELECT user_id, event_id AS lsn, value, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events),
        |s3 AS (SELECT user_id, lsn, value FROM r3
        |  WHERE rn = 1 AND event_type <> 'error'),
        |d12 AS (SELECT
        |    CASE WHEN a.user_id IS NULL THEN 'insert'
        |         WHEN b.user_id IS NULL THEN 'delete'
        |         WHEN a.lsn IS DISTINCT FROM b.lsn
        |           OR a.value IS DISTINCT FROM b.value THEN 'update' END AS op,
        |    a.value AS before_value, b.value AS after_value
        |  FROM s1 a FULL OUTER JOIN s2 b ON a.user_id = b.user_id),
        |d23 AS (SELECT
        |    CASE WHEN a.user_id IS NULL THEN 'insert'
        |         WHEN b.user_id IS NULL THEN 'delete'
        |         WHEN a.lsn IS DISTINCT FROM b.lsn
        |           OR a.value IS DISTINCT FROM b.value THEN 'update' END AS op,
        |    a.value AS before_value, b.value AS after_value
        |  FROM s2 a FULL OUTER JOIN s3 b ON a.user_id = b.user_id),
        |f AS (SELECT * FROM d12 WHERE op IS NOT NULL
        |  UNION ALL SELECT * FROM d23 WHERE op IS NOT NULL)
        |SELECT op, COUNT(*) AS n,
        |  CAST(SUM(CAST(before_value AS DECIMAL(18,4))) AS DOUBLE) AS sum_before,
        |  CAST(SUM(CAST(after_value AS DECIMAL(18,4))) AS DOUBLE) AS sum_after
        |FROM f GROUP BY 1""".stripMargin) { (s, d) =>
      val s2 = s.newSession()
      s2.conf.set("spark.graft.materialized.retainVersions", "6")
      val env = ChangelogGen.fromEvents(s2, d).toDF()
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          get_json_object(col("after"), "$.value").cast("double").as("value"))
        .localCheckpoint()
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val dir = java.nio.file.Files.createTempDirectory("cdc61").toString + "/t"
      val (c1, c2) = (mx / 3, 2 * (mx / 3))
      def slice(lo: Long, hi: Long) =
        env.filter(col("lsn") >= lo && col("lsn") < hi)
      def fold(lo: Long, hi: Long, id: Long) =
        MaterializedTable.merge(s2, dir, slice(lo, hi), Seq("key"),
          Seq("lsn", "seq"), batchId = Some(id))
      fold(0L, c1, 1L) // v1 exists BEFORE the stream starts — no backfill
      val sink = s"cdc61_${java.util.UUID.randomUUID().toString.take(8)}"
      val q = s2.readStream.format("graft-cdf").load(dir)
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("cdc61ck").toString)
        .start()
      try {
        q.processAllAvailable()
        fold(c1, c2, 2L); q.processAllAvailable() // batch = diff(v1→v2)
        fold(c2, mx + 1, 3L); q.processAllAvailable() // batch = diff(v2→v3)
      } finally q.stop()
      s2.table(sink).groupBy(col("op"))
        .agg(count(lit(1)).as("n"),
          graft.queries.Qutil.dsum(col("before_value")).as("sum_before"),
          graft.queries.Qutil.dsum(col("after_value")).as("sum_after"))
    },

    // --- mid-stream schema evolution RESTART (cdc68): the reference
    // --- survives ALTER TABLE mid-stream end-to-end (spec/functional/
    // --- topic_spec.rb:232-274); here the operational path is evolve →
    // --- the running cdf query fails LOUDLY (a pinned typed projection
    // --- must never silently reshape — the ADDED column's values would
    // --- otherwise vanish from the feed forever) → restart from the SAME
    // --- checkpoint → the interrupted window replays IN FULL under the
    // --- widened schema. Drill: v1 pre-start (no backfill), v2 drained
    // --- pre-evolution, v3 ADDS column tag (query dies, error verified),
    // --- restart drains diff(v2→v3) WITH tag, v4 drains live. The union
    // --- of both phases' rows must hash-match DuckDB's independent
    // --- four-snapshot triple diff — nothing lost, nothing doubled,
    // --- tag values visible from exactly the evolved window on. ----------
    q("cdc68_evolution_restart",
      """WITH mxv AS (SELECT MAX(event_id) AS m FROM events),
        |r AS (SELECT user_id, event_id, value, event_type FROM events),
        |s1 AS (SELECT user_id, event_id AS lsn, value,
        |    CASE WHEN event_id >= (SELECT m//2 FROM mxv) THEN event_type END AS tag
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |        FROM r WHERE event_id < (SELECT m//4 FROM mxv)) t
        |  WHERE rn = 1 AND event_type <> 'error'),
        |s2 AS (SELECT user_id, event_id AS lsn, value,
        |    CASE WHEN event_id >= (SELECT m//2 FROM mxv) THEN event_type END AS tag
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |        FROM r WHERE event_id < (SELECT m//2 FROM mxv)) t
        |  WHERE rn = 1 AND event_type <> 'error'),
        |s3 AS (SELECT user_id, event_id AS lsn, value,
        |    CASE WHEN event_id >= (SELECT m//2 FROM mxv) THEN event_type END AS tag
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |        FROM r WHERE event_id < (SELECT 3*(m//4) FROM mxv)) t
        |  WHERE rn = 1 AND event_type <> 'error'),
        |s4 AS (SELECT user_id, event_id AS lsn, value,
        |    CASE WHEN event_id >= (SELECT m//2 FROM mxv) THEN event_type END AS tag
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |        FROM r) t
        |  WHERE rn = 1 AND event_type <> 'error'),
        |d12 AS (SELECT
        |    CASE WHEN a.user_id IS NULL THEN 'insert'
        |         WHEN b.user_id IS NULL THEN 'delete'
        |         WHEN a.lsn IS DISTINCT FROM b.lsn
        |           OR a.value IS DISTINCT FROM b.value THEN 'update' END AS op,
        |    a.value AS before_value, b.value AS after_value, b.tag AS after_tag
        |  FROM s1 a FULL OUTER JOIN s2 b ON a.user_id = b.user_id),
        |d23 AS (SELECT
        |    CASE WHEN a.user_id IS NULL THEN 'insert'
        |         WHEN b.user_id IS NULL THEN 'delete'
        |         WHEN a.lsn IS DISTINCT FROM b.lsn
        |           OR a.value IS DISTINCT FROM b.value THEN 'update' END AS op,
        |    a.value AS before_value, b.value AS after_value, b.tag AS after_tag
        |  FROM s2 a FULL OUTER JOIN s3 b ON a.user_id = b.user_id),
        |d34 AS (SELECT
        |    CASE WHEN a.user_id IS NULL THEN 'insert'
        |         WHEN b.user_id IS NULL THEN 'delete'
        |         WHEN a.lsn IS DISTINCT FROM b.lsn
        |           OR a.value IS DISTINCT FROM b.value THEN 'update' END AS op,
        |    a.value AS before_value, b.value AS after_value, b.tag AS after_tag
        |  FROM s3 a FULL OUTER JOIN s4 b ON a.user_id = b.user_id),
        |f AS (SELECT * FROM d12 WHERE op IS NOT NULL
        |  UNION ALL SELECT * FROM d23 WHERE op IS NOT NULL
        |  UNION ALL SELECT * FROM d34 WHERE op IS NOT NULL)
        |SELECT op, COUNT(*) AS n,
        |  CAST(SUM(CAST(before_value AS DECIMAL(18,4))) AS DOUBLE) AS sum_before,
        |  CAST(SUM(CAST(after_value AS DECIMAL(18,4))) AS DOUBLE) AS sum_after,
        |  COUNT(after_tag) AS n_tag_after
        |FROM f GROUP BY 1""".stripMargin) { (s, d) =>
      val s2 = s.newSession()
      s2.conf.set("spark.graft.materialized.retainVersions", "8")
      // the EVOLVED changelog shape: one more payload column; the narrow
      // (pre-tag) frame is a projection of it — ONE parse + ONE pinning
      // pass feeds both eras instead of two full parse+checkpoint passes
      val envTagged = withAfter(ChangelogGen.fromEvents(s2, d).toDF())
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          col("_af.value").as("value"),
          col("_af.event_type").as("tag"))
        .localCheckpoint()
      val envBase = envTagged.drop("tag")
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val (c1, c2, c3) = (mx / 4, mx / 2, 3 * (mx / 4))
      val dir = java.nio.file.Files.createTempDirectory("cdc68").toString + "/t"
      def fold(env: org.apache.spark.sql.DataFrame, lo: Long, hi: Long,
          id: Long) =
        MaterializedTable.merge(s2, dir,
          env.filter(col("lsn") >= lo && col("lsn") < hi), Seq("key"),
          Seq("lsn", "seq"), batchId = Some(id))
      fold(envBase, 0L, c1, 1L) // v1 pre-start: no backfill
      val ckpt = java.nio.file.Files.createTempDirectory("cdc68ck").toString
      // foreachBatch collectors (the memory sink cannot recover from a
      // checkpoint, and the restart IS the point of this gate)
      val rowsA = scala.collection.mutable.ArrayBuffer
        .empty[(String, Option[Double], Option[Double])]
      val rowsB = scala.collection.mutable.ArrayBuffer
        .empty[(String, Option[Double], Option[Double], Option[String])]
      val q1 = s2.readStream.format("graft-cdf").load(dir)
        .writeStream
        .foreachBatch { (bd: org.apache.spark.sql.DataFrame, _: Long) =>
          rowsA ++= bd.select(col("op"), col("before_value"),
              col("after_value"))
            .collect().map(r => (r.getString(0),
              Option(r.get(1)).map(_.asInstanceOf[Double]),
              Option(r.get(2)).map(_.asInstanceOf[Double])))
          ()
        }
        .option("checkpointLocation", ckpt).start()
      val died =
        try {
          q1.processAllAvailable()
          fold(envBase, c1, c2, 2L); q1.processAllAvailable() // diff v1→v2
          fold(envTagged, c2, c3, 3L) // EVOLVE: payload gains tag
          try { q1.processAllAvailable(); false }
          catch {
            case e: Throwable =>
              // only the documented loud evolution error counts — anything
              // else is a real failure and must surface
              def chain(t: Throwable): Seq[Throwable] =
                if (t == null) Nil else t +: chain(t.getCause)
              if (!chain(e).exists(c => c.getMessage != null &&
                  c.getMessage.contains("evolved mid-stream"))) throw e
              true
          }
        } finally q1.stop()
      require(died, "the running query must fail LOUDLY on ADD evolution")
      // restart from the SAME checkpoint: the new source pins the widened
      // schema and the interrupted window replays in full
      val q2 = s2.readStream.format("graft-cdf").load(dir)
        .writeStream
        .foreachBatch { (bd: org.apache.spark.sql.DataFrame, _: Long) =>
          rowsB ++= bd.select(col("op"), col("before_value"),
              col("after_value"), col("after_tag"))
            .collect().map(r => (r.getString(0),
              Option(r.get(1)).map(_.asInstanceOf[Double]),
              Option(r.get(2)).map(_.asInstanceOf[Double]),
              Option(r.getString(3))))
          ()
        }
        .option("checkpointLocation", ckpt).start()
      try {
        q2.processAllAvailable() // replayed window: diff v2→v3, WITH tag
        fold(envTagged, c3, mx + 1, 4L)
        q2.processAllAvailable() // live again: diff v3→v4
      } finally q2.stop()
      import s2.implicits._
      val a = rowsA.toSeq.toDF("op", "before_value", "after_value")
        .withColumn("after_tag", lit(null).cast("string"))
      val b = rowsB.toSeq
        .toDF("op", "before_value", "after_value", "after_tag")
      a.unionByName(b).groupBy(col("op"))
        .agg(count(lit(1)).as("n"),
          graft.queries.Qutil.dsum(col("before_value")).as("sum_before"),
          graft.queries.Qutil.dsum(col("after_value")).as("sum_after"),
          count(col("after_tag")).as("n_tag_after"))
    },

    // --- mid-stream schema NARROWING restart (cdc69): cdc68's other
    // --- direction. The reference spec only churns ALTER the WIDENING way
    // --- (spec/functional/topic_spec.rb:232-274 — ADD COLUMN / ADD
    // --- PRIMARY KEY); the narrowing contract is this engine's own
    // --- extension: merges only WIDEN (union-by-name), so the narrowing
    // --- path is restore() — an operator rolls the table back before the
    // --- column existed. The RESTORE window itself still flows (the wide
    // --- side rides the union-by-name frame; after_tag nulls), and the
    // --- first window whose BOTH endpoints are narrow kills the pinned
    // --- query loudly with restart guidance; the same-checkpoint restart
    // --- pins the NARROWED schema and replays the interrupted window in
    // --- full. Drill: v1 narrow (pre-tag era), v2 WIDE (tag arrives),
    // --- query starts (pins wide, no backfill), v3 drains wide,
    // --- restore→v1 drains (the rollback retractions, after_tag null),
    // --- v5 narrow kills the query (error verified), restart replays
    // --- diff(v4→v5) narrow, v6 drains live. Union of both phases must
    // --- hash-match DuckDB's independent five-snapshot diff chain. -------
    q("cdc69_narrowing_restart",
      """WITH mxv AS (SELECT MAX(event_id) AS m FROM events),
        |r AS (SELECT user_id, event_id, value, event_type FROM events),
        |a1 AS (SELECT user_id, event_id AS lsn, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |        FROM r WHERE event_id < (SELECT m//4 FROM mxv)) t
        |  WHERE rn = 1 AND event_type <> 'error'),
        |a2 AS (SELECT user_id, event_id AS lsn, value,
        |    CASE WHEN event_id >= (SELECT m//4 FROM mxv) THEN event_type END AS tag
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |        FROM r WHERE event_id < (SELECT m//2 FROM mxv)) t
        |  WHERE rn = 1 AND event_type <> 'error'),
        |a3 AS (SELECT user_id, event_id AS lsn, value,
        |    CASE WHEN event_id >= (SELECT m//4 FROM mxv) THEN event_type END AS tag
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |        FROM r WHERE event_id < (SELECT 3*(m//4) FROM mxv)) t
        |  WHERE rn = 1 AND event_type <> 'error'),
        |a6 AS (SELECT user_id, event_id AS lsn, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |        FROM r) t
        |  WHERE rn = 1 AND event_type <> 'error'),
        |d23 AS (SELECT
        |    CASE WHEN a.user_id IS NULL THEN 'insert'
        |         WHEN b.user_id IS NULL THEN 'delete'
        |         WHEN a.lsn IS DISTINCT FROM b.lsn
        |           OR a.value IS DISTINCT FROM b.value THEN 'update' END AS op,
        |    a.value AS before_value, b.value AS after_value, b.tag AS after_tag
        |  FROM a2 a FULL OUTER JOIN a3 b ON a.user_id = b.user_id),
        |d34 AS (SELECT
        |    CASE WHEN a.user_id IS NULL THEN 'insert'
        |         WHEN b.user_id IS NULL THEN 'delete'
        |         WHEN a.lsn IS DISTINCT FROM b.lsn
        |           OR a.value IS DISTINCT FROM b.value THEN 'update' END AS op,
        |    a.value AS before_value, b.value AS after_value,
        |    CAST(NULL AS VARCHAR) AS after_tag
        |  FROM a3 a FULL OUTER JOIN a1 b ON a.user_id = b.user_id),
        |d45 AS (SELECT
        |    CASE WHEN a.user_id IS NULL THEN 'insert'
        |         WHEN b.user_id IS NULL THEN 'delete'
        |         WHEN a.lsn IS DISTINCT FROM b.lsn
        |           OR a.value IS DISTINCT FROM b.value THEN 'update' END AS op,
        |    a.value AS before_value, b.value AS after_value,
        |    CAST(NULL AS VARCHAR) AS after_tag
        |  FROM a1 a FULL OUTER JOIN a2 b ON a.user_id = b.user_id),
        |d56 AS (SELECT
        |    CASE WHEN a.user_id IS NULL THEN 'insert'
        |         WHEN b.user_id IS NULL THEN 'delete'
        |         WHEN a.lsn IS DISTINCT FROM b.lsn
        |           OR a.value IS DISTINCT FROM b.value THEN 'update' END AS op,
        |    a.value AS before_value, b.value AS after_value,
        |    CAST(NULL AS VARCHAR) AS after_tag
        |  FROM a2 a FULL OUTER JOIN a6 b ON a.user_id = b.user_id),
        |f AS (SELECT * FROM d23 WHERE op IS NOT NULL
        |  UNION ALL SELECT * FROM d34 WHERE op IS NOT NULL
        |  UNION ALL SELECT * FROM d45 WHERE op IS NOT NULL
        |  UNION ALL SELECT * FROM d56 WHERE op IS NOT NULL)
        |SELECT op, COUNT(*) AS n,
        |  CAST(SUM(CAST(before_value AS DECIMAL(18,4))) AS DOUBLE) AS sum_before,
        |  CAST(SUM(CAST(after_value AS DECIMAL(18,4))) AS DOUBLE) AS sum_after,
        |  COUNT(after_tag) AS n_tag_after
        |FROM f GROUP BY 1""".stripMargin) { (s, d) =>
      val s2 = s.newSession()
      s2.conf.set("spark.graft.materialized.retainVersions", "8")
      // one parse + one pinning pass; the narrow era projects the wide one
      val envTagged = withAfter(ChangelogGen.fromEvents(s2, d).toDF())
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          col("_af.value").as("value"),
          col("_af.event_type").as("tag"))
        .localCheckpoint()
      val envBase = envTagged.drop("tag")
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val (c1, c2, c3) = (mx / 4, mx / 2, 3 * (mx / 4))
      val dir = java.nio.file.Files.createTempDirectory("cdc69").toString + "/t"
      def fold(env: org.apache.spark.sql.DataFrame, lo: Long, hi: Long,
          id: Long) =
        MaterializedTable.merge(s2, dir,
          env.filter(col("lsn") >= lo && col("lsn") < hi), Seq("key"),
          Seq("lsn", "seq"), batchId = Some(id))
      fold(envBase, 0L, c1, 1L)   // v1: the narrow (pre-tag) era
      fold(envTagged, c1, c2, 2L) // v2: WIDE — the payload gains tag
      val ckpt = java.nio.file.Files.createTempDirectory("cdc69ck").toString
      val rowsA = scala.collection.mutable.ArrayBuffer
        .empty[(String, Option[Double], Option[Double], Option[String])]
      val q1 = s2.readStream.format("graft-cdf").load(dir)
        .writeStream
        .foreachBatch { (bd: org.apache.spark.sql.DataFrame, _: Long) =>
          rowsA ++= bd.select(col("op"), col("before_value"),
              col("after_value"), col("after_tag"))
            .collect().map(r => (r.getString(0),
              Option(r.get(1)).map(_.asInstanceOf[Double]),
              Option(r.get(2)).map(_.asInstanceOf[Double]),
              Option(r.getString(3))))
          ()
        }
        .option("checkpointLocation", ckpt).start()
      val died =
        try {
          q1.processAllAvailable() // starts at v2: no backfill
          fold(envTagged, c2, c3, 3L); q1.processAllAvailable() // d23 wide
          // NARROW: roll the table back before tag existed (v4 = v1
          // content + v1 schema). The restore window itself still flows —
          // the rollback's retractions arrive with after_tag null.
          MaterializedTable.restore(s2, dir, 1L)
          q1.processAllAvailable() // d34: the restore window
          fold(envBase, c1, c2, 5L) // v5: first fully-narrow window
          try { q1.processAllAvailable(); false }
          catch {
            case e: Throwable =>
              def chain(t: Throwable): Seq[Throwable] =
                if (t == null) Nil else t +: chain(t.getCause)
              if (!chain(e).exists(c => c.getMessage != null &&
                  c.getMessage.contains("narrowed mid-stream"))) throw e
              true
          }
        } finally q1.stop()
      require(died, "the running query must fail LOUDLY on the narrowing")
      // restart from the SAME checkpoint: the new source pins the NARROWED
      // schema and the interrupted window replays in full
      val rowsB = scala.collection.mutable.ArrayBuffer
        .empty[(String, Option[Double], Option[Double])]
      val q2 = s2.readStream.format("graft-cdf").load(dir)
        .writeStream
        .foreachBatch { (bd: org.apache.spark.sql.DataFrame, _: Long) =>
          require(!bd.columns.contains("after_tag"),
            "restarted source must pin the narrowed schema")
          rowsB ++= bd.select(col("op"), col("before_value"),
              col("after_value"))
            .collect().map(r => (r.getString(0),
              Option(r.get(1)).map(_.asInstanceOf[Double]),
              Option(r.get(2)).map(_.asInstanceOf[Double])))
          ()
        }
        .option("checkpointLocation", ckpt).start()
      try {
        q2.processAllAvailable() // replayed window: d45, narrowed
        fold(envBase, c2, mx + 1, 6L)
        q2.processAllAvailable() // live again: d56
      } finally q2.stop()
      import s2.implicits._
      val a = rowsA.toSeq.toDF("op", "before_value", "after_value", "after_tag")
      val b = rowsB.toSeq.toDF("op", "before_value", "after_value")
        .withColumn("after_tag", lit(null).cast("string"))
      a.unionByName(b).groupBy(col("op"))
        .agg(count(lit(1)).as("n"),
          graft.queries.Qutil.dsum(col("before_value")).as("sum_before"),
          graft.queries.Qutil.dsum(col("after_value")).as("sum_after"),
          count(col("after_tag")).as("n_tag_after"))
    },

    // --- GROUP change feed (cdc62): cdc61's streaming CDF lifted to the
    // --- TableGroup — the reference's transaction bracketing
    // --- (kafka/bottledwater.c:678-715) surfaced to streaming consumers:
    // --- each micro-batch diffs ROOT-PINNED snapshots, so a subscriber
    // --- sees by_user and by_type advance TOGETHER per group commit,
    // --- never one member mid-transaction. Drive: bootstrap commit before
    // --- the stream starts (no backfill), then two group commits observed
    // --- as per-root-version batches; the heterogeneous-member envelope
    // --- (table, op, key/before/after JSON) aggregates per (table, op)
    // --- and hash-matches DuckDB's per-member snapshot double-diff. ------
    q("cdc62_group_change_feed",
      """WITH c AS (SELECT MAX(event_id) // 3 AS c1,
        |    2 * (MAX(event_id) // 3) AS c2 FROM events),
        |u1 AS (SELECT user_id, event_id AS lsn, value, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events, c WHERE event_id < c1),
        |us1 AS (SELECT user_id, lsn, value FROM u1
        |  WHERE rn = 1 AND event_type <> 'error'),
        |u2 AS (SELECT user_id, event_id AS lsn, value, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events, c WHERE event_id < c2),
        |us2 AS (SELECT user_id, lsn, value FROM u2
        |  WHERE rn = 1 AND event_type <> 'error'),
        |u3 AS (SELECT user_id, event_id AS lsn, value, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events),
        |us3 AS (SELECT user_id, lsn, value FROM u3
        |  WHERE rn = 1 AND event_type <> 'error'),
        |ud12 AS (SELECT
        |    CASE WHEN a.user_id IS NULL THEN 'insert'
        |         WHEN b.user_id IS NULL THEN 'delete'
        |         WHEN a.lsn IS DISTINCT FROM b.lsn
        |           OR a.value IS DISTINCT FROM b.value THEN 'update' END AS op,
        |    a.value AS bv, b.value AS av
        |  FROM us1 a FULL OUTER JOIN us2 b ON a.user_id = b.user_id),
        |ud23 AS (SELECT
        |    CASE WHEN a.user_id IS NULL THEN 'insert'
        |         WHEN b.user_id IS NULL THEN 'delete'
        |         WHEN a.lsn IS DISTINCT FROM b.lsn
        |           OR a.value IS DISTINCT FROM b.value THEN 'update' END AS op,
        |    a.value AS bv, b.value AS av
        |  FROM us2 a FULL OUTER JOIN us3 b ON a.user_id = b.user_id),
        |t1 AS (SELECT user_id, event_type, MAX(event_id) AS lsn FROM events, c
        |  WHERE event_type <> 'error' AND event_id < c1 GROUP BY 1, 2),
        |t2 AS (SELECT user_id, event_type, MAX(event_id) AS lsn FROM events, c
        |  WHERE event_type <> 'error' AND event_id < c2 GROUP BY 1, 2),
        |t3 AS (SELECT user_id, event_type, MAX(event_id) AS lsn FROM events
        |  WHERE event_type <> 'error' GROUP BY 1, 2),
        |td12 AS (SELECT
        |    CASE WHEN a.user_id IS NULL THEN 'insert'
        |         WHEN a.lsn IS DISTINCT FROM b.lsn THEN 'update' END AS op
        |  FROM t1 a FULL OUTER JOIN t2 b
        |    ON a.user_id = b.user_id AND a.event_type = b.event_type),
        |td23 AS (SELECT
        |    CASE WHEN a.user_id IS NULL THEN 'insert'
        |         WHEN a.lsn IS DISTINCT FROM b.lsn THEN 'update' END AS op
        |  FROM t2 a FULL OUTER JOIN t3 b
        |    ON a.user_id = b.user_id AND a.event_type = b.event_type)
        |SELECT 'by_user' AS tbl, op, COUNT(*) AS n,
        |  CAST(SUM(CAST(bv AS DECIMAL(18,4))) AS DOUBLE) AS sum_before,
        |  CAST(SUM(CAST(av AS DECIMAL(18,4))) AS DOUBLE) AS sum_after
        |FROM (SELECT * FROM ud12 UNION ALL SELECT * FROM ud23)
        |WHERE op IS NOT NULL GROUP BY 1, 2
        |UNION ALL
        |SELECT 'by_type', op, COUNT(*),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        |FROM (SELECT * FROM td12 UNION ALL SELECT * FROM td23)
        |WHERE op IS NOT NULL GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val s2 = s.newSession()
      s2.conf.set("spark.graft.materialized.retainVersions", "6")
      val env = withAfter(ChangelogGen.fromEvents(s2, d).toDF())
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          col("_af.event_type").as("typ"),
          col("_af.value").as("value"))
        .localCheckpoint()
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val (c1, c2) = (mx / 3, 2 * (mx / 3))
      val root = java.nio.file.Files.createTempDirectory("cdc62").toString + "/g"
      def members(b: org.apache.spark.sql.DataFrame) = Seq(
        TableGroup.TableBatch("by_user",
          b.select("op", "key", "lsn", "seq", "value"), Seq("key")),
        TableGroup.TableBatch("by_type",
          b.filter(col("op") =!= graft.cdc.Op.Delete)
            .select("op", "key", "typ", "lsn", "seq"), Seq("key", "typ")))
      def commit(lo: Long, hi: Long, id: Long): Unit = {
        TableGroup.commit(s2, root,
          members(env.filter(col("lsn") >= lo && col("lsn") < hi)),
          Seq("lsn", "seq"), batchId = id, numBuckets = 8)
        ()
      }
      commit(0L, c1, 1L) // bootstrap commit BEFORE the stream — no backfill
      val sink = s"cdc62_${java.util.UUID.randomUUID().toString.take(8)}"
      val q = s2.readStream.format("graft-group-cdf").load(root)
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("cdc62ck").toString)
        .start()
      try {
        q.processAllAvailable()
        commit(c1, c2, 2L); q.processAllAvailable() // batch = root v1→v2
        commit(c2, mx + 1, 3L); q.processAllAvailable() // batch = root v2→v3
      } finally q.stop()
      s2.table(sink)
        .groupBy(col("table").as("tbl"), col("op"))
        .agg(count(lit(1)).as("n"),
          graft.queries.Qutil.dsum(
            get_json_object(col("before"), "$.value").cast("double"))
            .as("sum_before"),
          graft.queries.Qutil.dsum(
            get_json_object(col("after"), "$.value").cast("double"))
            .as("sum_after"))
    },

    // --- schema evolution through storage + CDF (cdc63): ALTER TABLE ADD
    // --- COLUMN mid-stream (the reference's DDL churn,
    // --- spec/functional/topic_spec.rb:232-274) flowing snapshot → merge
    // --- → change-feed read. Slice 1 commits WITHOUT event_type; slice 2
    // --- commits WITH it: the widened snapshot null-backfills untouched
    // --- keys (snap_typ_null), and the v1→v2 feed exposes the new column
    // --- with a NULL before side on every row (the union-payload
    // --- contract — an intersection feed would hide the column). Report
    // --- per op: row count, one-sided-null pins, value sums; snapshot
    // --- scalars ride every row via a broadcast cross join. --------------
    q("cdc63_schema_evolution",
      """WITH c AS (SELECT MAX(event_id) // 2 AS c1 FROM events),
        |r1 AS (SELECT user_id, event_id AS lsn, value, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events, c WHERE event_id < c1),
        |s1 AS (SELECT user_id, lsn, value FROM r1
        |  WHERE rn = 1 AND event_type <> 'error'),
        |r2 AS (SELECT user_id, event_id AS lsn, value, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events),
        |s2 AS (SELECT user_id, lsn, value,
        |    CASE WHEN lsn >= (SELECT c1 FROM c) THEN event_type END AS typ
        |  FROM r2 WHERE rn = 1 AND event_type <> 'error'),
        |snap AS (SELECT COUNT(*) AS snap_rows,
        |    CAST(SUM(CASE WHEN typ IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS snap_typ_null FROM s2),
        |f AS (SELECT
        |    CASE WHEN a.user_id IS NULL THEN 'insert'
        |         WHEN b.user_id IS NULL THEN 'delete'
        |         WHEN a.lsn IS DISTINCT FROM b.lsn
        |           OR a.value IS DISTINCT FROM b.value
        |           OR b.typ IS NOT NULL THEN 'update' END AS op,
        |    a.value AS bv, b.value AS av, b.typ AS after_typ
        |  FROM s1 a FULL OUTER JOIN s2 b ON a.user_id = b.user_id)
        |SELECT op, COUNT(*) AS n,
        |  COUNT(*) AS n_before_typ_null,
        |  CAST(SUM(CASE WHEN after_typ IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_after_typ,
        |  CAST(SUM(CAST(av AS DECIMAL(18,4))) AS DOUBLE) AS sum_after,
        |  snap_rows, snap_typ_null
        |FROM f, snap WHERE op IS NOT NULL
        |GROUP BY 1, snap_rows, snap_typ_null""".stripMargin) { (s, d) =>
      val s2 = s.newSession()
      s2.conf.set("spark.graft.materialized.retainVersions", "4")
      val env = withAfter(ChangelogGen.fromEvents(s2, d).toDF())
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          col("_af.event_type").as("typ"),
          col("_af.value").as("value"))
        .localCheckpoint()
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val c1 = mx / 2
      val dir = java.nio.file.Files.createTempDirectory("cdc63").toString + "/t"
      // slice 1: the PRE-evolution schema (no typ column at all)
      MaterializedTable.merge(s2, dir,
        env.filter(col("lsn") < c1).select("op", "key", "lsn", "seq", "value"),
        Seq("key"), Seq("lsn", "seq"), numBuckets = 8, batchId = Some(1L))
      // slice 2: ALTER TABLE ADD COLUMN typ — the widened batch
      MaterializedTable.merge(s2, dir,
        env.filter(col("lsn") >= c1)
          .select("op", "key", "lsn", "seq", "value", "typ"),
        Seq("key"), Seq("lsn", "seq"), numBuckets = 8, batchId = Some(2L))
      val snap = MaterializedTable.read(s2, dir).agg(
        count(lit(1)).as("snap_rows"),
        sum(when(col("typ").isNull, 1L).otherwise(0L)).as("snap_typ_null"))
      MaterializedTable.changeFeed(s2, dir, 1L, 2L, Seq("key"))
        .groupBy(col("op"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("before_typ").isNull, 1L).otherwise(0L))
            .as("n_before_typ_null"),
          sum(when(col("after_typ").isNotNull, 1L).otherwise(0L))
            .as("n_after_typ"),
          graft.queries.Qutil.dsum(col("after_value")).as("sum_after"))
        .crossJoin(broadcast(snap))
    },

    // --- declared streaming sink (cdc64): writeStream.format("graft") —
    // --- the storage layer as a first-class Structured Streaming SINK
    // --- (no foreachBatch plumbing): every micro-batch lands as one
    // --- batch-id-guarded merge, exactly-once over the at-least-once
    // --- callback. Drive: two slices through drive #1, a third staged
    // --- AFTER it, drive #2 on the SAME checkpoint — the deterministic
    // --- checkpoint resumes with monotonic batch ids (nothing re-folds,
    // --- the new slice lands). Final state = the latest-state fold over
    // --- ALL events, hash-matched in DuckDB. -----------------------------
    q("cdc64_stream_sink",
      """WITH r AS (SELECT user_id, event_id AS lsn, value, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events),
        |live AS (SELECT user_id, lsn, value FROM r
        |  WHERE rn = 1 AND event_type <> 'error')
        |SELECT COUNT(*) AS n_keys,
        |  CAST(MAX(lsn) AS BIGINT) AS max_lsn,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM live""".stripMargin) { (s, d) =>
      val s2 = s.newSession()
      val env = ChangelogGen.fromEvents(s2, d).toDF()
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          get_json_object(col("after"), "$.value").cast("double").as("value"))
        .localCheckpoint()
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val (c1, c2) = (mx / 3, 2 * (mx / 3))
      val dir = java.nio.file.Files.createTempDirectory("cdc64").toString
      val (tbl, src, ck) = (s"$dir/t", s"$dir/src", s"$dir/ck")
      def stage(lo: Long, hi: Long, i: Int): Unit = {
        val tmp = java.nio.file.Files.createTempDirectory(s"cdc64b$i").toString
        env.filter(col("lsn") >= lo && col("lsn") < hi)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        new java.io.File(src).mkdirs()
        val dst = new java.io.File(src, s"b$i.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + i * 60000L); ()
      }
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "op STRING, key STRING, lsn BIGINT, seq BIGINT, value DOUBLE")
      def drive(): Unit = {
        val q = s2.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
          .writeStream.format("graft")
          .option("keys", "key").option("opCol", "op")
          .option("orderCols", "lsn,seq").option("numBuckets", "8")
          .option("checkpointLocation", ck)
          .start(tbl)
        try q.processAllAvailable() finally q.stop()
      }
      stage(0L, c1, 0); stage(c1, c2, 1)
      drive() // slices 1–2
      stage(c2, mx + 1, 2)
      drive() // RESTART on the same checkpoint: only slice 3 folds
      s2.read.format("graft").load(tbl)
        .agg(count(lit(1)).as("n_keys"),
          max(col("lsn")).as("max_lsn"),
          graft.queries.Qutil.dsum(col("value")).as("sum_value"))
    },

    // --- DESCRIBE HISTORY + OPTIMIZE/VACUUM (cdc65): the table-maintenance
    // --- operations face as an oracle gate. Three batch-id'd merges build
    // --- a 3-version table under a retention window (retainVersions=2),
    // --- with the cdc45 small-file shape (non-aligned bucket count + AQE
    // --- coalescing off, so buckets hold one file per writing task);
    // --- history() is captured BEFORE and AFTER maintain() (= compact +
    // --- vacuum). The version ledger (version, last_batch_id, n_buckets,
    // --- n_rows) is fully deterministic — n_rows per version is the live
    // --- key count at that merge's changelog cut, which DuckDB recomputes
    // --- from events; commit_ts is wall-clock and deliberately excluded.
    // --- After maintain: compact added v4 (same batch watermark, same
    // --- rows), vacuum pruned v1/v2 past the retention horizon, so the
    // --- ledger shrinks to {v3, v4}. maintained_ok pins: some buckets WERE
    // --- oversized (nCompacted>0), old versions WERE pruned (nVacuumed>0),
    // --- every compacted bucket landed as ONE file, and the state is
    // --- byte-identical across the whole maintenance pass (OPTIMIZE moves
    // --- bytes, never rows). Reference analog: the partition-stability and
    // --- replay-bookkeeping assertions of spec/functional. ----------------
    q("cdc65_history_maintain",
      """WITH c AS (SELECT MAX(event_id) // 3 AS c1,
        |    2 * (MAX(event_id) // 3) AS c2, MAX(event_id) + 1 AS c3
        |  FROM events),
        |n1 AS (SELECT COUNT(*) AS n FROM (
        |    SELECT user_id, event_type, row_number() OVER (
        |      PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |    FROM events, c WHERE event_id < c1)
        |  WHERE rn = 1 AND event_type <> 'error'),
        |n2 AS (SELECT COUNT(*) AS n FROM (
        |    SELECT user_id, event_type, row_number() OVER (
        |      PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |    FROM events, c WHERE event_id < c2)
        |  WHERE rn = 1 AND event_type <> 'error'),
        |n3 AS (SELECT COUNT(*) AS n FROM (
        |    SELECT user_id, event_type, row_number() OVER (
        |      PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |    FROM events)
        |  WHERE rn = 1 AND event_type <> 'error')
        |SELECT 'before' AS phase, CAST(1 AS BIGINT) AS version,
        |  CAST(1 AS BIGINT) AS last_batch_id, CAST(6 AS INTEGER) AS n_buckets,
        |  (SELECT CAST(n AS BIGINT) FROM n1) AS n_rows, TRUE AS maintained_ok
        |UNION ALL SELECT 'before', 2, 2, 6, (SELECT n FROM n2), TRUE
        |UNION ALL SELECT 'before', 3, 3, 6, (SELECT n FROM n3), TRUE
        |UNION ALL SELECT 'after', 3, 3, 6, (SELECT n FROM n3), TRUE
        |UNION ALL SELECT 'after', 4, 3, 6, (SELECT n FROM n3), TRUE""".stripMargin) { (s, d) =>
      val s2 = s.newSession()
      s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // stage the small-file pathology explicitly (see cdc45): the default
      // hash write distribution would leave nothing for compact() to do
      s2.conf.set("spark.graft.materialized.writeDistribution", "none")
      s2.conf.set("spark.graft.materialized.retainVersions", "2")
      val env = ChangelogGen.fromEvents(s2, d).toDF()
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          get_json_object(col("after"), "$.value").cast("double").as("value"))
      // lsn = event_id: raw parquet max, no JSON projection for one scalar
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val (cu1, cu2) = (mx / 3, 2 * (mx / 3))
      val dir = java.nio.file.Files.createTempDirectory("cdc65").toString + "/t"
      Seq((0L, cu1, 1L), (cu1, cu2, 2L), (cu2, mx + 1, 3L)).foreach {
        case (lo, hi, id) =>
          MaterializedTable.merge(s2, dir,
            env.filter(col("lsn") >= lo && col("lsn") < hi),
            Seq("key"), Seq("lsn", "seq"), numBuckets = 6, batchId = Some(id))
      }
      // pin state + ledger BEFORE maintenance: vacuum deletes the very
      // files a lazy plan would read (localCheckpoint snapshots them)
      val stateBefore = MaterializedTable.read(s2, dir).localCheckpoint()
      val histBefore = MaterializedTable.history(s2, dir)
        .select(lit("before").as("phase"), col("version"),
          col("last_batch_id"), col("n_buckets"), col("n_rows"))
        .localCheckpoint()
      val (nCompacted, nVacuumed) =
        MaterializedTable.maintain(s2, dir, maxFilesPerBucket = 1)
      val stateAfter = MaterializedTable.read(s2, dir)
      // post-OPTIMIZE file shape through the MANIFEST (never a hardcoded
      // layout walk): after bin-packing, every live bucket is one file
      val fpb = MaterializedTable.filesPerBucket(s2, dir)
      val stateEq = Qutil.multisetEq(stateAfter, stateBefore)
      val ok = nCompacted > 0 && nVacuumed > 0 &&
        fpb.nonEmpty && fpb.values.forall(_ == 1) && stateEq
      val histAfter = MaterializedTable.history(s2, dir)
        .select(lit("after").as("phase"), col("version"),
          col("last_batch_id"), col("n_buckets"), col("n_rows"))
      histBefore.unionByName(histAfter).withColumn("maintained_ok", lit(ok))
    },

    // --- FLAGSHIP CAPSTONE (cdc66): the reference's whole lifecycle
    // --- (README.md:38-59 — consistent snapshot, then transactional
    // --- streaming into downstream consumers that maintain replicas) as
    // --- ONE gate. Source side: two heterogeneous members fold the events
    // --- changelog through atomic TableGroup root commits. Subscriber
    // --- side: bootstrap each replica from the member SNAPSHOT (the
    // --- snapshot→stream coordination contract), then follow
    // --- `graft-group-cdf` through foreachBatch, re-merging each JSON
    // --- envelope window into replica MaterializedTables keyed by the
    // --- FEED's batch sequence (blsn) — the downstream replica clock is
    // --- commit order, exactly the reference's consumer discipline; merge
    // --- batch-id guards make crash replays no-ops. The drive RESTARTS
    // --- mid-stream: the subscriber stops, a group commit lands while it
    // --- is down, and the restarted query catches up from its checkpoint.
    // --- replica_eq pins member-wise multiset equality replica ≡ source
    // --- latest-state; the reported aggregates are computed FROM THE
    // --- REPLICAS and hash-matched against DuckDB's from-scratch replay —
    // --- the strongest end-to-end correctness statement the repo makes. --
    q("cdc66_group_replica_capstone",
      """WITH r AS (SELECT user_id, event_id AS lsn, value, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events),
        |live AS (SELECT user_id, lsn, value FROM r
        |  WHERE rn = 1 AND event_type <> 'error'),
        |bytype AS (SELECT user_id, event_type, MAX(event_id) AS lsn
        |  FROM events WHERE event_type <> 'error' GROUP BY 1, 2)
        |SELECT 'by_user' AS tbl, COUNT(*) AS n_rows,
        |  CAST(MAX(lsn) AS BIGINT) AS max_lsn,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |  TRUE AS replica_eq
        |FROM live
        |UNION ALL
        |SELECT 'by_type', COUNT(*), CAST(MAX(lsn) AS BIGINT),
        |  CAST(NULL AS DOUBLE), TRUE
        |FROM bytype""".stripMargin) { (s, d) =>
      val s2 = s.newSession()
      s2.conf.set("spark.graft.materialized.retainVersions", "6")
      val env = withAfter(ChangelogGen.fromEvents(s2, d).toDF())
        .select(col("op"), col("key"), col("lsn"), col("seq"),
          col("_af.event_type").as("typ"),
          col("_af.value").as("value"))
        .localCheckpoint()
      val mx = Tables.events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val (c1, c2) = (mx / 3, 2 * (mx / 3))
      val root = java.nio.file.Files.createTempDirectory("cdc66").toString + "/g"
      val rep = java.nio.file.Files.createTempDirectory("cdc66rep").toString
      val (repU, repT) = (s"$rep/by_user", s"$rep/by_type")
      val ck = java.nio.file.Files.createTempDirectory("cdc66ck").toString
      def members(b: org.apache.spark.sql.DataFrame) = Seq(
        TableGroup.TableBatch("by_user",
          b.select("op", "key", "lsn", "seq", "value"), Seq("key")),
        TableGroup.TableBatch("by_type",
          b.filter(col("op") =!= graft.cdc.Op.Delete)
            .select("op", "key", "typ", "lsn", "seq"), Seq("key", "typ")))
      def commit(lo: Long, hi: Long, id: Long): Unit = {
        TableGroup.commit(s2, root,
          members(env.filter(col("lsn") >= lo && col("lsn") < hi)),
          Seq("lsn", "seq"), batchId = id, numBuckets = 8)
        ()
      }
      commit(0L, c1, 1L) // the consistent snapshot, before any subscriber
      // subscriber bootstrap: replicas start as the members' snapshots
      // (read BEFORE the stream starts — the read-once-then-follow
      // contract); replica clock blsn=-1 predates every feed batch id
      // disjoint replica dirs — the two bootstrap merges overlap (§2.6)
      Parallel.pair(s2)(
        MaterializedTable.merge(s2, repU,
          TableGroup.read(s2, root, "by_user")
            .select(lit(graft.cdc.Op.Insert).as("op"), col("key"),
              lit(-1L).as("blsn"), lit(0L).as("bseq"),
              col("lsn"), col("seq"), col("value")),
          Seq("key"), Seq("blsn", "bseq"), numBuckets = 8),
        MaterializedTable.merge(s2, repT,
          TableGroup.read(s2, root, "by_type")
            .select(lit(graft.cdc.Op.Insert).as("op"), col("key"), col("typ"),
              lit(-1L).as("blsn"), lit(0L).as("bseq"), col("lsn"), col("seq")),
          Seq("key", "typ"), Seq("blsn", "bseq"), numBuckets = 8))
      // the subscriber: each micro-batch is one (or, after catch-up,
      // several) group-commit window(s); within a batch a key appears at
      // most once per member, so the feed batch id is a valid order clock
      // one-parse decode of the feed's key/after JSON (see withAfter): one
      // from_json per column per row instead of 2–3 get_json_object passes;
      // both member shapes share the schemas (absent fields read null and
      // are never selected for that member)
      val keySchema = org.apache.spark.sql.types.StructType.fromDDL(
        "key STRING, typ STRING")
      val feedSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "lsn BIGINT, seq BIGINT, value DOUBLE")
      val fold: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, bid) => {
        val batch = b
          .withColumn("_ak", from_json(col("key"), keySchema))
          .withColumn("_aa", from_json(col("after"), feedSchema))
          .localCheckpoint() // feeds two merges — plan (and parse) once
        // disjoint replica dirs — the per-trigger member folds overlap
        Parallel.pair(s2)(
          MaterializedTable.merge(s2, repU,
            batch.filter(col("table") === "by_user").select(
              col("op"), col("_ak.key").as("key"),
              lit(bid).as("blsn"), lit(0L).as("bseq"),
              col("_aa.lsn").as("lsn"),
              col("_aa.seq").as("seq"),
              col("_aa.value").as("value")),
            Seq("key"), Seq("blsn", "bseq"), numBuckets = 8,
            batchId = Some(bid)),
          MaterializedTable.merge(s2, repT,
            batch.filter(col("table") === "by_type").select(
              col("op"), col("_ak.key").as("key"),
              col("_ak.typ").as("typ"),
              lit(bid).as("blsn"), lit(0L).as("bseq"),
              col("_aa.lsn").as("lsn"),
              col("_aa.seq").as("seq")),
            Seq("key", "typ"), Seq("blsn", "bseq"), numBuckets = 8,
            batchId = Some(bid)))
        ()
      }
      def drive(f: => Unit): Unit = {
        val q = s2.readStream.format("graft-group-cdf").load(root)
          .writeStream.foreachBatch(fold)
          .option("checkpointLocation", ck).start()
        try { q.processAllAvailable(); f; q.processAllAvailable() }
        finally q.stop()
      }
      drive { commit(c1, c2, 2L) } // live commit observed by the stream...
      commit(c2, mx + 1, 3L) // ...lands while the subscriber is DOWN
      drive { () } // RESTART: catch-up from the checkpointed root offset
      val srcU = TableGroup.read(s2, root, "by_user")
        .select("key", "lsn", "seq", "value")
      val repUState = MaterializedTable.read(s2, repU)
        .select("key", "lsn", "seq", "value").localCheckpoint()
      val srcT = TableGroup.read(s2, root, "by_type")
        .select("key", "typ", "lsn", "seq")
      val repTState = MaterializedTable.read(s2, repT)
        .select("key", "typ", "lsn", "seq").localCheckpoint()
      val eq = Qutil.multisetEq(repUState, srcU) &&
        Qutil.multisetEq(repTState, srcT)
      // report FROM the replicas: the hashes prove the replica content,
      // replica_eq pins member-wise equality with the source group
      repUState.agg(count(lit(1)).as("n_rows"), max(col("lsn")).as("max_lsn"),
          graft.queries.Qutil.dsum(col("value")).as("sum_value"))
        .select(lit("by_user").as("tbl"), col("n_rows"), col("max_lsn"),
          col("sum_value"), lit(eq).as("replica_eq"))
        .unionByName(
          repTState.agg(count(lit(1)).as("n_rows"),
              max(col("lsn")).as("max_lsn"))
            .select(lit("by_type").as("tbl"), col("n_rows"), col("max_lsn"),
              lit(null).cast("double").as("sum_value"),
              lit(eq).as("replica_eq")))
    },

    // --- MULTI-WRITER OCC (cdc67): a maintenance job races a live writer
    // --- on ONE table — the gap Delta/Iceberg close with optimistic
    // --- concurrency and the reference sidesteps by slot single-ownership
    // --- (client/replication.c:45-93). Every commit is a CAS (exclusive
    // --- versioned-manifest claim + staged rename + primary swap); a lost
    // --- race throws ConcurrentCommitException and the loser retries
    // --- against fresh state. The drive: seed merge, then a CONCURRENT
    // --- clustered-OPTIMIZE thread (2 compactions) against 2 more writer
    // --- merges, both sides absorbing conflicts via the documented retry.
    // --- Deterministic despite the race: the final value per key is the
    // --- last batch's (latest-state by lsn), compaction moves bytes never
    // --- rows, and EXACTLY 5 commits land (serialized_ok pins the version
    // --- ledger 1..5 — a lost or double commit breaks it). ----------------
    q("cdc67_concurrent_commit",
      """SELECT CAST(n_nationkey AS BIGINT) AS key,
        |  CAST(n_nationkey * 10 + 3 AS BIGINT) AS v,
        |  TRUE AS serialized_ok
        |FROM nation""".stripMargin) { (s, d) =>
      val s2 = s.newSession()
      s2.conf.set("spark.graft.materialized.retainVersions", "2")
      val dir = java.nio.file.Files.createTempDirectory("cdc67").toString + "/t"
      def batch(k: Int) = Tables.nation(s2, d)
        .select(col("n_nationkey").cast("long").as("key"))
        .withColumn("op", lit("insert"))
        .withColumn("lsn", lit(k.toLong))
        .withColumn("seq", lit(0L))
        .withColumn("v", col("key") * 10 + k)
      def withOccRetry[A](op: => A): A = {
        while (true) {
          try return op
          catch { case _: MaterializedTable.ConcurrentCommitException => () }
        }
        throw new IllegalStateException("unreachable")
      }
      def mergeOne(k: Int): Unit = withOccRetry {
        MaterializedTable.merge(s2, dir, batch(k), Seq("key"),
          Seq("lsn", "seq"), numBuckets = 4)
        ()
      }
      mergeOne(1) // seed: the compactor needs a committed layout to race
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val maint = new Thread(() => {
        try {
          for (_ <- 1 to 2) withOccRetry {
            MaterializedTable.compact(s2, dir, maxFilesPerBucket = 1,
              sortCols = Seq("key"))
          }
        } catch { case t: Throwable => failure.compareAndSet(null, t) }
      })
      maint.start()
      try { mergeOne(2); mergeOne(3) } finally maint.join(300000)
      failure.get() match {
        case null => ()
        case t => throw new IllegalStateException(
          s"concurrent maintenance failed non-optimistically: $t", t)
      }
      // exactly 5 serialized commits: seed + 2 merges + 2 compactions
      val ok = MaterializedTable.listVersions(s2, dir) == (1L to 5L)
      MaterializedTable.read(s2, dir)
        .select(col("key"), col("v"), lit(ok).as("serialized_ok"))
    }
  )
}
