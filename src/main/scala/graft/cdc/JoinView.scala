package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental maintenance of an EQUI-JOIN view from two keyed changelogs —
  * the join half of incremental view maintenance ([[IncrementalAgg]] is the
  * aggregate half). Downstream consumers of the reference's compacted topics
  * routinely join two of them (README.md:30–32 "combine it with other
  * datasets"); recomputing the join from full history on every refresh is
  * the thing IVM exists to avoid.
  *
  * The algebra is the standard signed-multiset (z-set) delta-join identity.
  * With `ΔA`/`ΔB` the signed row-deltas of one micro-batch and `A`/`B` the
  * standing latest-state relations:
  *
  *   Δ(A ⋈ B) = ΔA ⋈ B_old  +  A_new ⋈ ΔB
  *
  * (expanding `A_new = A_old + ΔA` recovers the symmetric three-term form
  * `ΔA⋈B + A⋈ΔB + ΔA⋈ΔB`). Each side's delta rows carry the full view
  * payload and a sign `dn ∈ {-1,+1}`; the view is a multiset of payload
  * rows with net multiplicity `n`, updated by unioning the signed pairs and
  * re-summing. Because payload values are carried VERBATIM (no arithmetic),
  * a retraction cancels the addition that produced it bit-exactly — the
  * fold is deterministic under any shuffle order.
  *
  * At-least-once safety: latest states carry each key's commit order, and a
  * batch event that does not ADVANCE it emits nothing and changes nothing —
  * the [[LatestState]] newer-of discipline. A fully replayed micro-batch
  * (foreachBatch retry, source redelivery) is therefore a strict no-op,
  * and a stale event arriving after a newer one cannot regress the view.
  *
  * Why it scales: per micro-batch the work is two joins of O(|batch|)
  * deltas against a latest-state side plus one grouped sum over
  * O(|view_touched| + |ΔV|) rows — history is never re-read. In a persisted
  * deployment all three standing tables (latestA, latestB, view) live
  * hash-bucketed on the JOIN column ([[MaterializedTable.mergeBuckets]]
  * discipline, proven in [[IncrementalAgg.foldStanding]]): the big standing
  * side of each delta-join is consumed in place and only the delta side
  * shuffles, and the view re-sum rewrites only touched buckets.
  *
  * Contract: each changelog is keyed, and its key columns are part of the
  * payload so view rows from different keys can never collide.
  */
object JoinView {

  /** One side of the maintained join.
    *
    * @param keyCols     primary-key columns of this side's changelog
    * @param orderCols   commit-order columns, e.g. (lsn, seq)
    * @param payloadCols the columns this side contributes to the view —
    *                    MUST include `keyCols` (row identity) and the join
    *                    column; disjoint from the other side's payload
    * @param joinCol     payload column joined on
    * @param opCol       op column (`Op.Insert`/`Update`/`Delete`)
    */
  final case class Side(
      keyCols: Seq[String], orderCols: Seq[String],
      payloadCols: Seq[String], joinCol: String, opCol: String = "op") {
    require(keyCols.forall(payloadCols.contains),
      s"payloadCols must include keyCols: $keyCols ⊄ $payloadCols")
    require(payloadCols.contains(joinCol),
      s"payloadCols must include joinCol $joinCol")
  }

  /** Standing state: newest versions of both sides — live rows carry their
    * payload, deleted keys stay as TOMBSTONE rows (`_live = false`) so a
    * stale pre-delete event replayed later is still recognized as stale
    * (without them a replay would resurrect the key). `_o` is the commit-
    * order struct powering the advance guard. Tombstones are retained
    * indefinitely here; a deployment bounds them with the same TTL
    * compaction [[LatestState.streamingEventTimeTtl]] applies.
    */
  final case class State(latestA: DataFrame, latestB: DataFrame, view: DataFrame)

  /** The batch-final version of every key touched by `batch`:
    * (keyCols, `_p` payload STRUCT, `_live`, `_o` order STRUCT). One
    * `max_by` aggregation — intra-batch supersedes collapse first.
    */
  private def lastVersions(batch: DataFrame, side: Side): DataFrame = {
    val payload = struct(side.payloadCols.map(col): _*)
    val ord = struct(side.orderCols.map(col): _*)
    batch.groupBy(side.keyCols.map(col): _*)
      .agg(max_by(
        struct(payload.as("p"), (col(side.opCol) =!= Op.Delete).as("live"),
          ord.as("o")),
        ord).as("v"))
      .select(side.keyCols.map(col) :+ col("v.p").as("_p") :+
        col("v.live").as("_live") :+ col("v.o").as("_o"): _*)
  }

  /** Batch-final versions joined against the standing rows, keeping only
    * keys the batch ADVANCES (no standing row, or strictly newer order).
    * Columns: keyCols, `_p`, `_live`, `_o`, `_pp` (standing payload struct,
    * null if the key had no live standing row).
    */
  private def advancing(prev: DataFrame, batch: DataFrame, side: Side): DataFrame = {
    val last = lastVersions(batch, side)
    val prevP = prev.select(
      side.keyCols.map(col) :+
        struct(side.payloadCols.map(col): _*).as("_pp") :+
        col("_live").as("_plive") :+
        col("_o").as("_po"): _*)
    last.join(prevP, side.keyCols, "left")
      .filter(col("_po").isNull || col("_o") > col("_po"))
  }

  /** Signed payload deltas of `batch` relative to standing state `prev`:
    * retract the standing LIVE version of every ADVANCED key, add the
    * batch-final version where it is live. Returns payloadCols ++ dn.
    */
  def deltas(prev: DataFrame, batch: DataFrame, side: Side): DataFrame =
    deltasFromAdv(advancing(prev, batch, side), side)

  /** [[deltas]] over a pre-computed (and possibly pinned) `advancing`
    * relation — [[fold]] shares ONE advancing pass between the delta and
    * the state apply instead of recomputing the batch compaction + state
    * join for each.
    */
  private def deltasFromAdv(adv: DataFrame, side: Side): DataFrame = {
    val retracts = adv.filter(col("_plive") === true)
      .select(side.payloadCols.map(n => col(s"_pp.$n").as(n)) :+ lit(-1L).as("dn"): _*)
    val adds = adv.filter(col("_live"))
      .select(side.payloadCols.map(n => col(s"_p.$n").as(n)) :+ lit(1L).as("dn"): _*)
    retracts.unionByName(adds)
  }

  /** `prev` with `batch` applied: non-advanced rows kept verbatim, advanced
    * keys replaced by their batch-final version — deletes stay as tombstone
    * rows (`_live = false`) so their order keeps guarding against stale
    * replays.
    */
  private def applyBatch(prev: DataFrame, batch: DataFrame, side: Side): DataFrame =
    applyBatchFromAdv(prev, advancing(prev, batch, side), side)

  private def applyBatchFromAdv(prev: DataFrame, adv: DataFrame,
      side: Side): DataFrame = {
    val kept = prev.join(adv.select(side.keyCols.map(col): _*),
      side.keyCols, "left_anti")
    val fresh = adv.select(side.payloadCols.map(n => col(s"_p.$n").as(n)) :+
      col("_live") :+ col("_o"): _*)
    kept.unionByName(fresh)
  }

  /** Fold one micro-batch pair into the standing state. Either batch may be
    * empty; a replayed batch folds to a no-op. States are eagerly
    * local-checkpointed so lineage stays O(1) across folds (the persisted-
    * bucket deployment makes this a table write).
    */
  def fold(state: State, batchA: DataFrame, batchB: DataFrame,
      a: Side, b: Side): State = {
    // ONE advancing pass per side, pinned: deltas, the state apply and the
    // delta-join below all consume it — recomputing it in each would scan
    // the batch source (and the standing state) twice more per side.
    // The A/B sides are independent relations, so each pinning pair runs
    // as two overlapped jobs instead of two sequential ones.
    val spark = batchA.sparkSession
    val (advA, advB) = Parallel.pair(spark)(
      advancing(state.latestA, batchA, a).localCheckpoint(true),
      advancing(state.latestB, batchB, b).localCheckpoint(true))
    val dA = deltasFromAdv(advA, a)
    val dB = deltasFromAdv(advB, b)
    val (aNew, bNew) = Parallel.pair(spark)(
      applyBatchFromAdv(state.latestA, advA, a).localCheckpoint(true),
      applyBatchFromAdv(state.latestB, advB, b).localCheckpoint(true))
    // Δ(A⋈B) = ΔA ⋈ B_old + A_new ⋈ ΔB; the sign of a pair is the delta
    // side's sign (the live latest-state side always has multiplicity +1 —
    // tombstone rows exist only for the advance guard and never join)
    val viewCols = a.payloadCols ++ b.payloadCols
    val bOldLive = state.latestB.filter(col("_live"))
    val aNewLive = aNew.filter(col("_live"))
    val dV =
      dA.join(bOldLive, dA(a.joinCol) === bOldLive(b.joinCol))
        .select(viewCols.map(col) :+ dA("dn"): _*)
        .unionByName(
          aNewLive.join(dB, aNewLive(a.joinCol) === dB(b.joinCol))
            .select(viewCols.map(col) :+ dB("dn"): _*))
    val viewNew = state.view
      .select(viewCols.map(col) :+ col("n").as("dn"): _*)
      .unionByName(dV)
      .groupBy(viewCols.map(col): _*)
      .agg(sum(col("dn")).as("n"))
      .filter(col("n") > 0)
      .localCheckpoint(true)
    State(aNew, bNew, viewNew)
  }

  /** Empty standing state shaped after the two sides (schemas taken from
    * zero-row projections of the given changelogs).
    */
  def emptyState(chlogA: DataFrame, chlogB: DataFrame, a: Side, b: Side): State = {
    def e(chlog: DataFrame, s: Side) = chlog
      .select(s.payloadCols.map(col) :+ lit(true).as("_live") :+
        struct(s.orderCols.map(col): _*).as("_o"): _*)
      .limit(0)
    val ea = e(chlogA, a)
    val eb = e(chlogB, b)
    val ev = ea.drop("_live", "_o").crossJoin(eb.drop("_live", "_o"))
      .withColumn("n", lit(0L)).limit(0)
    State(ea, eb, ev)
  }

  /** Fold a whole sequence of batch pairs from empty — the gate/spec driver.
    * Equivalent to joining the two compacted latest states, which is exactly
    * what the oracle checks.
    */
  def foldAll(batches: Seq[(DataFrame, DataFrame)], a: Side, b: Side): State = {
    require(batches.nonEmpty, "need at least one batch pair")
    val init = emptyState(batches.head._1, batches.head._2, a, b)
    batches.foldLeft(init) { case (st, (ba, bb)) => fold(st, ba, bb, a, b) }
  }

  // ---- persisted fold: the production storage loop -------------------------

  /** Zero-row latest-state relation shaped after a batch (payload ++ _live
    * ++ _o) — the pre-first-write stand-in.
    */
  private def emptyLatest(batch: DataFrame, side: Side): DataFrame =
    batch.select(side.payloadCols.map(col) :+ lit(true).as("_live") :+
      struct(side.orderCols.map(col): _*).as("_o"): _*).limit(0)

  private def readLatestOr(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, side: Side): DataFrame =
    if (MaterializedTable.exists(spark, dir))
      MaterializedTable.readState(spark, dir).drop("_bucket")
    else emptyLatest(batch, side)

  /** Merge one side's batch-final versions into its bucketed latest table:
    * newer-of per key inside the touched buckets only (stale incoming rows
    * lose to the stored version inside the combine, so no pre-read advance
    * filter is needed for the MERGE — only the delta computation reads the
    * prior state).
    */
  private def mergeLatest(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, side: Side, numBuckets: Int,
      batchId: Option[Long] = None): Int = {
    val updates = lastVersions(batch, side).select(
      side.payloadCols.map(n => col(s"_p.$n").as(n)) :+
        col("_live") :+ col("_o"): _*)
    // batchId threads into the latest-table manifests too — ONE watermark
    // discipline across all three standing tables (the newer-of combine is
    // idempotent anyway, so the guard only saves the retried IO)
    // fused bucket exchange (MaterializedTable.merge's argument): newer-of
    // has per-key multiplicity ~1, and _bucket is key-functional — grouping
    // by (_bucket, keys) over bucket-distributed input runs the compaction
    // and the bucketed write off one exchange
    MaterializedTable.mergeBuckets(spark, dir, updates, side.keyCols,
      numBuckets, batchId, fuseBucketExchange = true) {
      combined =>
        val others = combined.columns.filterNot(side.keyCols.contains)
        combined.groupBy(("_bucket" +: side.keyCols).map(col): _*)
          .agg(max_by(struct(others.map(col).toIndexedSeq: _*), col("_o")).as("_v"))
          .select(side.keyCols.map(col) :+ col("_v.*"): _*)
    }
  }

  /** PERSISTED fold — the deployment shape the in-memory [[fold]] scaladoc
    * promises: the three standing tables live as hash-bucketed parquet
    * under `dir` (`latest_a`/`latest_b` bucketed by their key columns so
    * the newer-of merge touches only the batch's key-buckets; `view`
    * bucketed by the A-side join column so the multiplicity re-sum touches
    * only the join values the deltas hit). Per batch:
    *
    *   1. read prior latest states (delta prev + B_old of the identity);
    *   2. compute signed ΔA/ΔB under the advance guard;
    *   3. newer-of merge both latest tables ([[MaterializedTable]] bucket
    *      dataflow — only touched buckets read/rewritten);
    *   4. ΔV = ΔA⋈B_old + A_new⋈ΔB, folded into the view table by
    *      grouped-sum combine; fully-retracted rows vanish (emptied
    *      buckets dropped from the view manifest).
    *
    * == Crash/retry protocol (a fold spans THREE tables) ==
    *
    * Each single-table mutation is already atomic (manifest swap), but the
    * fold mutates latest_a, latest_b and view in sequence, and the deltas
    * are a function of the PRE-advance states — a naive retry after a crash
    * between the latest merges and the view merge would recompute deltas
    * against the already-advanced latest tables, find nothing to do (the
    * advance guard), and silently drop the batch's view contribution.
    * So the fold is a staged two-phase apply:
    *
    *   1. STAGE: compute ΔA/ΔB and the delta-adjacent slice of live B_old
    *      from the CURRENT states and persist them under
    *      `_staged/<batchId>` before mutating anything; a `_COMPLETE` flag
    *      commits the stage (a crash mid-staging recomputes — nothing has
    *      advanced yet).
    *   2. APPLY: merge both latest tables (newer-of — idempotent under
    *      retry), then fold ΔV into the view with the batch id threaded
    *      into the manifest guard — a retry that finds the view already at
    *      this watermark is a no-op, so the sum-fold can never double-count.
    *   3. MARK+CLEAN: the `_applied/<batchId>` marker is a fast-path
    *      short-circuit only (correctness rests on the stage + manifest
    *      watermark); the staged files are then deleted.
    *
    * A retry at ANY crash point therefore converges: before the stage flag
    * it restarts from scratch; after it, the staged deltas replay the exact
    * original apply (latest merges idempotent, view merge watermark-
    * guarded). A redelivery under a NEW batch id folds empty deltas (the
    * advance guard) — byte-stable either way.
    *
    * Returns the number of view buckets rewritten.
    */
  def foldPersisted(spark: org.apache.spark.sql.SparkSession, dir: String,
      batchA: DataFrame, batchB: DataFrame, a: Side, b: Side,
      batchId: Long, numBuckets: Int = 64): Int = {
    MaterializedTable.checkStandingFoldRetention(spark, dir,
      "JoinView.foldPersisted")
    // bounded retry on a lost optimistic commit (maintenance racing the
    // stream): the fold's marker/watermark guards make a retry convergent
    // from any phase, so the streaming query survives the retryable race
    MaterializedTable.withCommitRetry(spark) {
      foldPersistedInjected(spark, dir, batchA, batchB, a, b, batchId,
        numBuckets, "")
    }
  }

  /** Crash-simulation seam for the recovery specs: `crashAt` ∈
    * {"after_stage", "after_latest_merge", "after_view_merge"} aborts the
    * fold at that point, modelling a process death between the protocol's
    * phases. Production callers use [[foldPersisted]] (no injection).
    */
  private[cdc] final class InjectedCrash(at: String)
    extends RuntimeException(s"injected crash at $at")

  private[cdc] def foldPersistedInjected(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      batchA: DataFrame, batchB: DataFrame, a: Side, b: Side,
      batchId: Long, numBuckets: Int, crashAt: String): Int = {
    def maybeCrash(point: String): Unit =
      if (crashAt == point) throw new InjectedCrash(point)
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_applied/$batchId")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagedDir = s"$dir/_staged/$batchId"
    if (fs.exists(marker)) {
      // finish the MARK+CLEAN phase if a crash between marker creation and
      // staged-dir delete left the stage behind (idempotent; without this
      // the fast-path would leak _staged/<batchId> forever)
      fs.delete(new org.apache.hadoop.fs.Path(stagedDir), true)
      return 0
    }
    val stagedFlag = new org.apache.hadoop.fs.Path(s"$stagedDir/_COMPLETE")
    // staged reads use explicit schemas: a zero-row parquet write may emit
    // no data files, and the schemas are derivable from the batch shapes
    val deltaSchemaA = batchA.select(a.payloadCols.map(col): _*)
      .withColumn("dn", lit(-1L)).schema
    val deltaSchemaB = batchB.select(b.payloadCols.map(col): _*)
      .withColumn("dn", lit(-1L)).schema
    val bOldSchema = emptyLatest(batchB, b).schema
    if (!fs.exists(stagedFlag)) {
      // fresh attempt (or crash mid-staging — nothing has advanced yet):
      // recompute from the CURRENT states and overwrite the stage wholesale
      val stPath = new org.apache.hadoop.fs.Path(stagedDir)
      if (fs.exists(stPath)) fs.delete(stPath, true)
      val prevA = readLatestOr(spark, s"$dir/latest_a", batchA, a)
      val prevB = readLatestOr(spark, s"$dir/latest_b", batchB, b)
        .localCheckpoint()
      val dA0 = deltas(prevA, batchA, a).localCheckpoint()
      deltas(prevB, batchB, b).write.parquet(s"$stagedDir/db")
      dA0.write.parquet(s"$stagedDir/da")
      // only the ΔA-adjacent slice of live B_old is ever joined — staging
      // the semi-join keeps the stage O(delta-adjacent), not O(|B|)
      prevB.filter(col("_live"))
        .join(dA0.select(col(a.joinCol).as("_jv")).distinct(),
          col(b.joinCol) === col("_jv"), "left_semi")
        .write.parquet(s"$stagedDir/b_old")
      fs.create(stagedFlag, true).close()
    }
    maybeCrash("after_stage")
    val dA = spark.read.schema(deltaSchemaA).parquet(s"$stagedDir/da")
    val dB = spark.read.schema(deltaSchemaB).parquet(s"$stagedDir/db")
    val bOldLive = spark.read.schema(bOldSchema).parquet(s"$stagedDir/b_old")
    // newer-of merges are idempotent AND watermark-guarded — a retry that
    // finds a latest table already at this batch id skips its IO entirely;
    // disjoint table dirs, so the two merges overlap (guide §2.6).
    // PHASE-LOCAL conflict retry: a maintenance job racing ONE table costs
    // a re-merge of that table only — bubbling the loss to foldPersisted's
    // outer retry would re-run the stage reads and the already-landed
    // phases (all no-ops, but each a manifest read + plan + guard check)
    // once per conflict, and under a hot maintenance loop that burns the
    // whole outer budget recomputing work that already landed.
    Parallel.pair(spark)(
      MaterializedTable.withCommitRetry(spark) {
        mergeLatest(spark, s"$dir/latest_a", batchA, a, numBuckets,
          Some(batchId)) },
      MaterializedTable.withCommitRetry(spark) {
        mergeLatest(spark, s"$dir/latest_b", batchB, b, numBuckets,
          Some(batchId)) })
    maybeCrash("after_latest_merge")
    val viewCols = a.payloadCols ++ b.payloadCols
    // A_new is retry-stable: the idempotent merge above makes the post-
    // advance latest_a identical on every attempt of this batch
    val aNewLive = readLatestOr(spark, s"$dir/latest_a", batchA, a)
      .filter(col("_live"))
    val dV = dA.join(bOldLive, dA(a.joinCol) === bOldLive(b.joinCol))
      .select(viewCols.map(col) :+ dA("dn").as("n"): _*)
      .unionByName(
        aNewLive.join(dB, aNewLive(a.joinCol) === dB(b.joinCol))
          .select(viewCols.map(col) :+ dB("dn").as("n"): _*))
    // batchId threads into the view manifest: the watermark commits in the
    // SAME atomic rename as the data, so a retried view fold is a no-op
    // the view fold's grouping already carries _bucket and a delta batch's
    // per-group multiplicity is the handful of ±1 join rows, so the fused
    // bucket exchange wins here too (see MaterializedTable.merge)
    // same phase-local retry argument as the latest merges above: the view
    // fold is batch-id-guarded, so retrying JUST this merge against the
    // moved head is convergent and never re-pays the earlier phases.
    // CONTENDED-PATH NARROWING: under a hot opposing writer the attempt's
    // read-head→claim window must be SHORTER than the opponent's commit
    // period or no attempt can ever win (the OCC livelock shape). The
    // happy path pays nothing; after a FIRST conflict the delta relation
    // is pinned once, so every further attempt re-runs only the touched-
    // bucket combine + write, not the stage-read/union/join lineage.
    def viewMerge(rows: DataFrame) =
      MaterializedTable.mergeBuckets(spark, s"$dir/view", rows,
        Seq(a.joinCol), numBuckets, Some(batchId),
        fuseBucketExchange = true) { combined =>
          combined.groupBy((viewCols :+ "_bucket").map(col): _*)
            .agg(sum(col("n")).as("n"))
            .filter(col("n") > 0)
        }
    val touched =
      try viewMerge(dV)
      catch {
        case _: MaterializedTable.ConcurrentCommitException =>
          val pinned = dV.localCheckpoint() // once, outside the retry loop
          MaterializedTable.withCommitRetry(spark) { viewMerge(pinned) }
      }
    maybeCrash("after_view_merge")
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    fs.delete(new org.apache.hadoop.fs.Path(stagedDir), true)
    touched
  }

  /** The persisted view (bucket column dropped; multiplicity kept). */
  def readPersistedView(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    MaterializedTable.readState(spark, s"$dir/view").drop("_bucket")

  /** GC for the whole persisted-fold layout: vacuums each standing table
    * (crashed partial version dirs, GC stragglers — manifest-guarded, see
    * [[MaterializedTable.vacuum]]) AND prunes `_staged/<batchId>` trees
    * whose `_applied` marker exists — the only staged dirs provably done
    * (a marker-less stage may be an in-flight attempt and is left alone;
    * correctness never depends on this cleanup, only disk usage does).
    * Returns the number of directories removed.
    */
  def vacuum(spark: org.apache.spark.sql.SparkSession, dir: String): Int = {
    var removed = 0
    for (t <- Seq("latest_a", "latest_b", "view"))
      if (MaterializedTable.exists(spark, s"$dir/$t"))
        removed += MaterializedTable.vacuum(spark, s"$dir/$t")
    val stagedRoot = new org.apache.hadoop.fs.Path(s"$dir/_staged")
    val fs = stagedRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(stagedRoot)) {
      for (st <- fs.listStatus(stagedRoot) if st.isDirectory) {
        val id = st.getPath.getName
        if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_applied/$id"))) {
          fs.delete(st.getPath, true); removed += 1
        }
      }
    }
    removed
  }

  /** STREAMING maintenance: the production wiring — one unified changelog
    * stream (the CDC topic union, rows tagged with which table they belong
    * to) folded per micro-batch via foreachBatch. Each trigger splits the
    * batch by tag and runs one [[fold]]; `onState` observes every updated
    * state (publish the view, write the bucketed tables, expose a temp
    * view — caller's choice). The advance guard makes foreachBatch's
    * at-least-once batch retries and source redeliveries no-ops, so no
    * extra idempotence machinery is needed here.
    */
  def maintain(tagged: DataFrame, tagCol: String, aTag: String,
      a: Side, b: Side)(onState: State => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = tagged.sparkSession
    val base = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), tagged.schema)
    var state = emptyState(base, base, a, b)
    tagged.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        val df = batch.toDF().localCheckpoint()
        state = fold(state,
          df.filter(col(tagCol) === aTag),
          df.filter(col(tagCol) =!= aTag), a, b)
        onState(state)
        ()
      }
      .start()
  }
}
