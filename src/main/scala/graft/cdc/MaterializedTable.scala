package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental latest-state materialization on plain parquet — the
  * SURVEY §7.4 answer to state growth: "prefer Delta-merge materialization
  * for 100 TB-scale tables, keyed state only for hot paths".
  *
  * == Storage protocol: versioned buckets + one atomically-swapped manifest ==
  *
  * Layout:
  * {{{
  *   dir/_graft_manifest.json        # THE commit point (atomic rename swap)
  *   dir/v3/_bucket=7/part-….parquet # immutable once written
  * }}}
  *
  * The manifest names the live file set: for every bucket, WHICH version
  * directory currently holds it, plus the evolved schema and the last
  * committed batch id. A merge:
  *   1. computes the buckets touched by the incoming changelog batch,
  *   2. reads ONLY those buckets of existing state (manifest-directed,
  *      path-level pruning — untouched buckets are never listed),
  *   3. compacts existing ∪ incoming per key,
  *   4. writes the result to a NEW version directory (never overwrites
  *      a live file),
  *   5. commits by renaming a fully-written manifest over the old one —
  *      ONE atomic filesystem operation flips every touched bucket at once.
  *
  * This is the transaction-log discipline of Delta/Iceberg without their
  * jars, and the progress-only-on-full-ack rule of the reference's
  * checkpointing (kafka/bottledwater.c:678–715 — the fsync LSN advances
  * only after every output is acknowledged). Consequences:
  *   - a reader NEVER sees a half-merged batch: until the manifest swap it
  *     resolves the old file set, after it the new one (a reader holding
  *     the OLD file set is safe only until the post-commit GC below
  *     deletes superseded buckets — lakehouse formats solve this with a
  *     retention window; here the window is "until the writer's next GC",
  *     sufficient under the single-writer + short-scan deployment this
  *     library assumes, and extensible by deferring GC to [[vacuum]]);
  *   - a crash anywhere before the swap leaves the committed snapshot
  *     untouched (the partial version directory is unreferenced garbage,
  *     deleted by the retry or [[vacuum]]);
  *   - a retry of an already-committed batch id is a manifest-guarded
  *     no-op (`lastBatchId` rides IN the manifest, so "data visible" and
  *     "batch recorded" are the same atomic event — no marker-file window).
  *
  * At 100 TB with a well-sized bucket count, a micro-batch touching k keys
  * costs O(k/numBuckets · stateSize) IO — untouched buckets are never read
  * or written, and the manifest is O(numBuckets) metadata, not O(data).
  *
  * == Multi-writer: optimistic concurrency ==
  *
  * One writer per table is still the intended deployment (the reference's
  * slot single-ownership: one replication slot = one producer,
  * client/replication.c:45–93) — but the faces this layer exposes
  * (`format("graft")` writes, the streaming sink, [[maintain]] jobs) make
  * CONCURRENT committers reachable, and a silent last-rename-wins there
  * orphans the loser's version. So every commit is a compare-and-swap, the
  * Delta/Iceberg discipline: data is staged under a unique `_stage_*`
  * directory, the commit CLAIMS its target version by creating the
  * versioned manifest record exclusively (an atomic create-no-overwrite,
  * [[MetaFile.createExclusive]]), and only
  * the claim holder renames its staging directory into place and swaps the
  * primary manifest. A commit that loses the claim — or whose head moved
  * under it — throws [[ConcurrentCommitException]] after deleting its
  * staging; it never lands twice and never corrupts the winner. Retry is
  * the caller's policy, and batch-id-guarded retries converge (a replay of
  * a landed batch is a no-op). CONCURRENT-WRITER DEPLOYMENTS MUST SET
  * `spark.graft.materialized.retainVersions >= 2`: at the eager-GC default
  * (0) the winner deletes superseded bucket files a racing loser may still
  * be staging from, so the loser can fail with FileNotFoundException
  * instead of the retryable exception (the conflict message warns when the
  * window is too small). A claim whose writer crashed before the
  * primary swap surfaces — after `spark.graft.occ.claimGraceMs` (default
  * 2000) of the head not moving — as [[StaleCommitClaimException]];
  * recovery is the explicit [[recover]] (stop writers first), NEVER an
  * in-line lease steal, and the publish-time claim-token fence turns even
  * a misused recover() into a loud abort instead of a lost commit.
  */
object MaterializedTable {

  /** An optimistic commit lost its race: another writer committed the same
    * target version (or moved the head) between this writer's manifest read
    * and its claim. Nothing was published; staged files were deleted.
    * Re-reading state and retrying is safe — batch-id-guarded merges
    * converge (an already-landed batch replays as a no-op).
    */
  final class ConcurrentCommitException(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  /** A commit claim exists for the next version but the head has not moved
    * through the whole grace window: a writer CRASHED between its claim and
    * its publish (or is pathologically stalled). NOT retryable — retrying
    * hits the same dead claim forever. Recovery is an explicit operator
    * action: stop all writers, run [[recover]], resume. Deliberately a
    * different type from [[ConcurrentCommitException]]: auto-retry loops
    * must not spin on it, and auto-BREAKING the claim in-line would be an
    * unfenced lease steal — a merely-slow live writer would wake up and
    * publish over the breaker's commit.
    */
  final class StaleCommitClaimException(msg: String)
    extends IllegalStateException(msg)

  private val manifestFile = "_graft_manifest.json"

  /** Per-column summary of one bucket's content: min/max in a lossless
    * STRING transport (cast back to the column's type on use; TimestampType
    * travels as unix micros so no session-timezone round-trip is involved)
    * plus the null count. `min`/`max` are None when every value is null.
    */
  private[cdc] final case class ColStat(
      min: Option[String], max: Option[String], nulls: Long)

  /** One bucket's statistics: exact row count, plus [[ColStat]] per declared
    * stats column. Stats describe CONTENT, not files — they survive
    * [[compact]] (which moves bytes, never rows) and ride along on
    * [[restore]].
    */
  private[cdc] final case class BucketStats(rows: Long, cols: Map[String, ColStat])

  /** The live-file-set record. `buckets` maps bucket id → version directory
    * holding its current files; `lastBatchId` is -1 until a batch-id-guarded
    * merge commits. `numBuckets`/`bucketCols` pin the hash layout (-1/Nil on
    * manifests written before they were recorded) — they make point lookups
    * self-describing and reject a layout-corrupting numBuckets change.
    * `stats` carries per-bucket [[BucketStats]] for data skipping and
    * metadata-only aggregates (absent per bucket ⇒ reads stay conservative).
    *
    * Schema invariant: `schemaJson` covers every column of every live bucket
    * file, each with a type the parquet reader reads that file's values as
    * (the same type, or a widening the reader performs, such as int under
    * long). Reads rely on it — they hand this schema to the parquet reader
    * instead of inferring one from file footers. It holds by construction:
    * a merge's touched-bucket read yields every recorded column, so the
    * merge output, and with it the next manifest, carries all of them
    * forward; and a merge whose type change the reader cannot widen (long
    * → double) rewrites every bucket, so no file keeps the old type.
    *
    * Tables written before reads took this schema may break the invariant,
    * and nothing detects it: a merge that touched only buckets older than
    * a column could drop that column from the manifest, and those buckets'
    * newer files then read without it, silently; a long → double widening
    * left the old buckets' long files, and reading them fails with the
    * parquet reader's type-mismatch error.
    */
  private[cdc] final case class Manifest(
      version: Long, lastBatchId: Long, schemaJson: String,
      buckets: Map[Int, Long],
      numBuckets: Int = -1, bucketCols: Seq[String] = Nil,
      stats: Map[Int, BucketStats] = Map.empty) {
    /** `schemaJson`, parsed once. */
    lazy val schema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  private def fsOf(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The committed manifest, or None when nothing was ever committed at
    * `dir`. The primary is only ever replaced atomically ([[MetaFile]]),
    * so a reader racing a commit sees the old or the new one, never a gap.
    */
  private[cdc] def readManifest(spark: SparkSession, dir: String): Option[Manifest] =
    MetaFile.read(spark, new org.apache.hadoop.fs.Path(dir, manifestFile))
      .map(parseManifest)

  private def requireManifest(spark: SparkSession, dir: String): Manifest =
    readManifest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no materialized state at $dir"))

  private def parseManifest(json: String): Manifest = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val buckets = scala.collection.mutable.Map.empty[Int, Long]
    val it = root.get("buckets").properties().iterator()
    while (it.hasNext) {
      val e = it.next()
      buckets(e.getKey.toInt) = e.getValue.asLong()
    }
    // layout + stats fields are OPTIONAL — manifests written before they
    // existed parse to the conservative defaults (no lookup, no skipping)
    val nb = Option(root.get("numBuckets")).map(_.asInt()).getOrElse(-1)
    val bc = Option(root.get("bucketCols")).map { arr =>
      (0 until arr.size()).map(i => arr.get(i).asText()).toSeq
    }.getOrElse(Nil)
    val stats = Option(root.get("stats")).map { sn =>
      val out = scala.collection.mutable.Map.empty[Int, BucketStats]
      val bit = sn.properties().iterator()
      while (bit.hasNext) {
        val be = bit.next()
        val cols = scala.collection.mutable.Map.empty[String, ColStat]
        val cn = be.getValue.get("cols")
        if (cn != null) {
          val cit = cn.properties().iterator()
          while (cit.hasNext) {
            val ce = cit.next()
            cols(ce.getKey) = ColStat(
              Option(ce.getValue.get("min")).map(_.asText()),
              Option(ce.getValue.get("max")).map(_.asText()),
              Option(ce.getValue.get("nulls")).map(_.asLong()).getOrElse(0L))
          }
        }
        out(be.getKey.toInt) =
          BucketStats(be.getValue.get("rows").asLong(), cols.toMap)
      }
      out.toMap
    }.getOrElse(Map.empty[Int, BucketStats])
    Manifest(root.get("version").asLong(), root.get("lastBatchId").asLong(),
      root.get("schema").toString, buckets.toMap, nb, bc, stats)
  }

  /** Commit: replace the primary manifest atomically ([[MetaFile.replace]]:
    * a temp file renamed over the old one in one step). Everything before
    * the rename is invisible to readers; everything after it is the new
    * snapshot.
    *
    * An immutable per-version copy `_graft_manifest.v{N}.json` lands BEFORE
    * the primary swap — it is the snapshot record [[readVersion]] resolves
    * (the Delta/Iceberg log entry analog, O(numBuckets) metadata per
    * commit). Writing it first keeps the failure shape clean: a crash
    * between the copy and the swap leaves a versioned manifest ABOVE the
    * committed version — refused by readVersion's `v ≤ current` guard and
    * swept by [[vacuum]] — never a committed version without its record.
    */
  private[cdc] def writeManifest(spark: SparkSession, dir: String, m: Manifest): Unit = {
    val token = claimVersion(spark, dir, m)
    if (!claimStillHeld(spark, dir, m, token))
      throw new ConcurrentCommitException(
        s"claim for v${m.version} at $dir was recovered away mid-commit — " +
          "nothing published; retry")
    publishPrimary(spark, dir, m)
  }

  private def manifestJson(m: Manifest, writer: Option[String] = None): String = {
      val b = m.buckets.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      // stats min/max are arbitrary user strings — serialize that subtree
      // (and bucketCols) through Jackson so escaping is never hand-rolled
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val bcNode = om.createArrayNode()
      m.bucketCols.foreach(bcNode.add)
      val statsNode = om.createObjectNode()
      for ((bk, bs) <- m.stats.toSeq.sortBy(_._1)) {
        val bn = statsNode.putObject(bk.toString)
        bn.put("rows", bs.rows)
        val cn = bn.putObject("cols")
        for ((c, cs) <- bs.cols.toSeq.sortBy(_._1)) {
          val n = cn.putObject(c)
          cs.min.foreach(n.put("min", _))
          cs.max.foreach(n.put("max", _))
          n.put("nulls", cs.nulls)
        }
      }
      s"""{"version":${m.version},"lastBatchId":${m.lastBatchId},""" +
        writer.map(w => s""""writer":"$w",""").getOrElse("") +
        s""""numBuckets":${m.numBuckets},""" +
        s""""bucketCols":${om.writeValueAsString(bcNode)},""" +
        s""""stats":${om.writeValueAsString(statsNode)},""" +
        s""""buckets":$b,"schema":${m.schemaJson}}"""
  }

  private[cdc] def claimGraceMs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.occ.claimGraceMs", "2000").toLong

  /** Total optimistic-commit conflicts absorbed by [[withCommitRetry]] in
    * this JVM — observability for the retry loop (specs assert retries
    * actually happened; operators can watch it for contention).
    */
  val commitRetryCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** Bounded retry over RETRYABLE optimistic-commit losses — the policy the
    * STANDING streaming folds (GroupCommitStream, the `format("graft")`
    * stream sink, IncrementalAgg.foldStandingBatch, JoinView.foldPersisted)
    * wrap their commits in, so a maintenance job ([[maintain]]/[[compact]]/
    * [[vacuum]]) racing a live stream costs a re-stage, not the query's
    * life. Safe because every such fold is batch-id idempotent: the loser
    * re-reads the winner's state and re-lands (or no-ops) — cdc67 proves
    * the convergence this loop automates. Retries ONLY
    * [[ConcurrentCommitException]]: [[StaleCommitClaimException]] means a
    * writer CRASHED holding its claim, retrying would spin on the same dead
    * claim forever and mask the crash — it still kills the query, by
    * design. Bounded (`spark.graft.occ.commitRetries`, default 5) with
    * CAPPED, JITTERED backoff (`spark.graft.occ.commitRetryBackoffMs`,
    * default 100; sleep = backoff × min(attempt, 4) × U[0.5, 1.5)):
    * endless conflict means a misconfigured second standing writer on one
    * table, which must surface, not silently serialize forever. The cap +
    * jitter matter under a HOT opposing writer (a maintenance compaction
    * loop): an unbounded linear backoff grows the sleep past the opponent's
    * commit period, which GUARANTEES the head moves during every attempt —
    * a retry livelock that burns the whole budget asleep (measured this
    * round: the mid-sequence ConcurrencySpec drill ground >15 min on a slow
    * host). Short randomized sleeps keep attempts frequent and
    * desynchronize the two writers instead. Jitter is retry SCHEDULING
    * only — results stay deterministic (every fold is batch-id idempotent).
    */
  def withCommitRetry[A](spark: SparkSession)(op: => A): A = {
    val max = spark.conf.get("spark.graft.occ.commitRetries", "5").toInt
    val backoffMs =
      spark.conf.get("spark.graft.occ.commitRetryBackoffMs", "100").toLong
    var attempt = 0
    while (true) {
      try return op
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > max) throw e
          commitRetryCount.incrementAndGet()
          val base = backoffMs * math.min(attempt, 4)
          Thread.sleep(math.max(1L,
            (base * (0.5 + java.util.concurrent.ThreadLocalRandom
              .current().nextDouble())).toLong))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val retentionWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Enforce (or loudly warn about) the `retainVersions >= 2` requirement
    * AT STANDING-FOLD START instead of only on the conflict message
    * ([[retryHint]]): a standing fold configured at the eager-GC default
    * can still die to FileNotFoundException instead of the retryable class
    * when a maintenance job races it — surfacing the misconfiguration when
    * the stream STARTS beats a latent crash hours in. Called by every
    * standing-fold face (GroupCommitStream.start, the `format("graft")`
    * stream sink, IncrementalAgg.foldStandingBatch, JoinView.foldPersisted).
    *
    * Policy `spark.graft.occ.standingFoldRetentionPolicy`: `warn` (default
    * — single-writer deployments without maintenance are safe at any
    * retention, so the default cannot refuse) logs once per table dir per
    * JVM; `enforce` throws. Returns true iff this call emitted the warning
    * (the spec hook).
    */
  def checkStandingFoldRetention(spark: SparkSession, dir: String,
      face: String): Boolean = {
    if (retainVersions(spark) >= 2) return false
    val msg = s"$face at $dir is a STANDING fold running with " +
      s"spark.graft.materialized.retainVersions=${retainVersions(spark)} — " +
      "a maintenance job racing this stream is only retry-safe at >= 2: " +
      "eager post-commit GC can delete the snapshot a racing commit staged " +
      "from, killing the query with FileNotFoundException instead of the " +
      "retryable ConcurrentCommitException"
    if (spark.conf.get(
        "spark.graft.occ.standingFoldRetentionPolicy", "warn") == "enforce")
      throw new IllegalStateException(msg)
    if (retentionWarned.add(dir)) { log.warn(msg); true } else false
  }

  /** Appended to every retryable [[ConcurrentCommitException]] when the
    * retention window is too small for a SAFE retry: at
    * `retainVersions < 2` the winner's eager post-commit GC deletes the
    * superseded bucket files a concurrent loser may still be staging from,
    * so the loser can die with a FileNotFoundException instead of this
    * retryable exception. Multi-writer deployments must set
    * `spark.graft.materialized.retainVersions >= 2` (all OCC gates/specs
    * do) — surfacing the requirement ON the conflict itself beats a
    * scaladoc nobody reads mid-incident.
    */
  private def retryHint(spark: SparkSession): String =
    if (retainVersions(spark) >= 2) ""
    else " [NOTE: spark.graft.materialized.retainVersions is " +
      s"${retainVersions(spark)} — concurrent retry is only safe at >= 2; " +
      "eager GC can delete the snapshot a racing writer staged from]"

  /** The commit CAS: CLAIM version `m.version` by creating its versioned
    * manifest record exclusively ([[MetaFile.createExclusive]]). Exactly one
    * writer per target version can succeed — the one that does owns
    * `v{version}` (the staging rename and the primary swap). A failed
    * claim means a concurrent writer took the version (throw retryable
    * [[ConcurrentCommitException]] once the head confirms it moved) or a
    * crashed writer left its claim behind (head never moves through the
    * grace window — throw [[StaleCommitClaimException]]; recovery is the
    * explicit [[recover]], never an in-line lease steal).
    *
    * Returns the claim's unique writer token; [[commitStaged]] re-checks
    * it immediately before publishing (the fence against a [[recover]]
    * run against live writers re-assigning the version).
    */
  private def claimVersion(spark: SparkSession, dir: String, m: Manifest): String = {
    val p = new org.apache.hadoop.fs.Path(dir, versionedManifestFile(m.version))
    val token = java.util.UUID.randomUUID().toString
    // the claim record IS the versioned manifest (parse ignores the extra
    // writer field), so a committed version needs no second write
    if (!MetaFile.createExclusive(spark, p, manifestJson(m, Some(token)))) {
      // a LIVE racer publishes its primary within ms of claiming; a CRASHED
      // writer's head never reaches the claimed version. Poll through the
      // grace window to tell them apart.
      val deadline = System.nanoTime() + claimGraceMs(spark) * 1000000L
      while (System.nanoTime() < deadline) {
        val head = readManifest(spark, dir).map(_.version).getOrElse(0L)
        if (head >= m.version)
          throw new ConcurrentCommitException(
            s"commit of v${m.version} at $dir lost to a concurrent writer " +
              s"(head is v$head) — re-read state and retry" + retryHint(spark))
        Thread.sleep(25L)
      }
      throw new StaleCommitClaimException(
        s"claim for v${m.version} at $dir exists but the head has not " +
          s"reached it within ${claimGraceMs(spark)} ms — a writer crashed " +
          "between claim and publish; stop writers and run " +
          "MaterializedTable.recover(dir)")
    }
    // The claim guarantees no one else can publish m.version — but the head
    // must also still be the version this commit was computed AGAINST
    // (guards a restore/rebucket landing between the manifest read and the
    // claim). Skipped for v1: a fresh table has no head to verify.
    if (m.version > 1) {
      val head = readManifest(spark, dir).map(_.version).getOrElse(0L)
      if (head != m.version - 1) {
        val (fs, _) = fsOf(spark, dir)
        fs.delete(p, false)
        throw new ConcurrentCommitException(
          s"commit of v${m.version} at $dir computed against v${m.version - 1} " +
            s"but the head is v$head — re-read state and retry" +
            retryHint(spark))
      }
    }
    token
  }

  /** Clear a crashed writer's commit debris: versioned-manifest claims
    * ABOVE the head (a claim whose publish never happened) and staging
    * directories. An explicit operator action — MUST NOT run while writers
    * are live (it would re-open their claimed versions; the publish-time
    * token fence turns that mistake into a loud abort rather than a lost
    * commit, but the recovery contract is still stop-writers-first).
    * Returns the number of entries removed.
    */
  def recover(spark: SparkSession, dir: String): Int = {
    val (fs, hPath) = fsOf(spark, dir)
    if (!fs.exists(hPath)) return 0
    val head = readManifest(spark, dir).map(_.version).getOrElse(0L)
    var removed = 0
    for (st <- fs.listStatus(hPath)) st.getPath.getName match {
      case VersionedManifestRe(vs) if vs.toLong > head =>
        fs.delete(st.getPath, true); removed += 1
      case n if n.startsWith("_stage_") =>
        fs.delete(st.getPath, true); removed += 1
      case _ => ()
    }
    removed
  }

  /** The publish half of a commit: atomically swap the primary manifest.
    * Only call holding the [[claimVersion]] claim for `m.version`.
    */
  private def publishPrimary(spark: SparkSession, dir: String, m: Manifest): Unit =
    MetaFile.replace(spark, new org.apache.hadoop.fs.Path(dir, manifestFile),
      manifestJson(m))

  /** The fence: is the claim for `m.version` still OURS? A [[recover]] run
    * against live writers (operator error) deletes live claims and lets a
    * new writer re-take the version — the re-check immediately before
    * publishing turns that into a loud abort instead of two writers
    * publishing the same version.
    */
  private def claimStillHeld(spark: SparkSession, dir: String,
      m: Manifest, token: String): Boolean =
    try MetaFile.read(spark, new org.apache.hadoop.fs.Path(dir,
      versionedManifestFile(m.version))).exists(_.contains(token))
    catch { case _: java.io.IOException => false }

  /** Unique staging path for one commit attempt at `v` — leading `_` keeps
    * readers from globbing it; the uuid keeps concurrent attempts from
    * EVER sharing a directory (two writers appending into one
    * deterministic `v{N}` — or deleting it under each other — was the
    * silent-corruption shape OCC exists to prevent).
    */
  private def stagePath(dir: String, v: Long) = new org.apache.hadoop.fs.Path(
    dir, s"_stage_v${v}_${java.util.UUID.randomUUID().toString.take(8)}")

  /** Finish a staged data commit: CAS-claim `m.version`, move the staging
    * dir into place as `dir/v{version}`, publish the primary. On a lost
    * claim the staging is deleted and [[ConcurrentCommitException]]
    * propagates — nothing half-lands.
    */
  private def commitStaged(spark: SparkSession, dir: String,
      stage: org.apache.hadoop.fs.Path, m: Manifest): Unit = {
    val (fs, _) = fsOf(spark, dir)
    val token =
      try claimVersion(spark, dir, m)
      catch { case e: Throwable => fs.delete(stage, true); throw e }
    // the claim owns v{version}: a leftover dir here is a crashed attempt's
    // (unreferenced by construction — the committed manifest's version
    // bounds every live bucket)
    val vDir = new org.apache.hadoop.fs.Path(s"$dir/v${m.version}")
    // Fence BEFORE the destructive delete, not only after the rename: if a
    // misused recover() already let another writer re-claim AND PUBLISH this
    // version, an unfenced delete here would destroy the published v{N} data
    // that the live primary manifest references (silent corruption) — the
    // post-rename fence would abort too late. With this check a fenced-out
    // loser walks away without ever touching vDir.
    if (!claimStillHeld(spark, dir, m, token)) {
      fs.delete(stage, true)
      throw new ConcurrentCommitException(
        s"claim for v${m.version} at $dir was recovered away mid-commit " +
          "(recover() ran against live writers) — nothing published; retry")
    }
    if (fs.exists(vDir)) fs.delete(vDir, true)
    if (!fs.rename(stage, vDir) && !fs.exists(vDir))
      throw new IllegalStateException(
        s"failed to move staged commit $stage into place at $vDir")
    // rename PRESERVES the stage dir's mtime: a commit whose staging write
    // finished long before this point (stalled writer, slow upstream) would
    // land an above-head v{N} that already looks hours old to vacuum()'s
    // age guard and could be swept between this rename and publishPrimary.
    // Stamp the dir fresh; best-effort (an FS without dir setTimes still
    // has vacuum's claim-freshness spare as the authoritative guard).
    try fs.setTimes(vDir, System.currentTimeMillis(), -1L)
    catch { case _: java.io.IOException | _: UnsupportedOperationException => () }
    if (!claimStillHeld(spark, dir, m, token)) {
      // If another writer has already RE-claimed this version (recover()
      // misused against live writers), the vDir now belongs to its commit
      // sequence — it deletes-and-renames over it, and deleting here would
      // race that. Only clear our data when the claim is simply gone.
      val p = new org.apache.hadoop.fs.Path(dir, versionedManifestFile(m.version))
      if (!fs.exists(p)) fs.delete(vDir, true)
      throw new ConcurrentCommitException(
        s"claim for v${m.version} at $dir was recovered away mid-commit " +
          "(recover() ran against live writers) — nothing published; retry")
    }
    publishPrimary(spark, dir, m)
  }

  private def versionedManifestFile(v: Long) = s"_graft_manifest.v$v.json"
  private val VersionedManifestRe = """_graft_manifest\.v(\d+)\.json""".r

  /** A versioned manifest record a directory listing just returned. */
  private def readListed(spark: SparkSession, p: org.apache.hadoop.fs.Path)
      : Manifest =
    parseManifest(MetaFile.read(spark, p).getOrElse(
      throw new java.io.FileNotFoundException(p.toString)))

  /** How many trailing versions stay fully materialized (readable via
    * [[readVersion]]) — `spark.graft.materialized.retainVersions`. At the
    * default 0, superseded bucket files are garbage-collected eagerly right
    * after each commit (the original single-writer behavior). Any positive
    * value defers that GC entirely to [[vacuum]], which then keeps every
    * file referenced by the last `retain` versions — the lakehouse
    * time-travel/retention discipline, and the escape hatch for concurrent
    * long scans named in the class scaladoc.
    */
  private[cdc] def retainVersions(spark: SparkSession): Int =
    spark.conf.get("spark.graft.materialized.retainVersions", "0").toInt

  /** Committed versions whose snapshot record is still present, ascending.
    * (Versions above the primary manifest's are uncommitted crash leftovers
    * and are not listed.)
    */
  def listVersions(spark: SparkSession, dir: String): Seq[Long] = {
    val cur = readManifest(spark, dir).map(_.version).getOrElse(return Nil)
    val (fs, hPath) = fsOf(spark, dir)
    fs.listStatus(hPath).toSeq.flatMap(st => st.getPath.getName match {
      case VersionedManifestRe(v) => Some(v.toLong)
      case _ => None
    }).filter(_ <= cur).sorted
  }

  /** TIME TRAVEL: the table as of committed version `v` — resolved through
    * that version's immutable manifest, so the read is the exact snapshot
    * the writer committed (not a best-effort directory reconstruction).
    * Requires the snapshot's files to still be materialized: run with
    * `spark.graft.materialized.retainVersions > 0` so post-commit GC defers
    * to [[vacuum]]'s retention horizon. Fails loudly (never partially) when
    * the version is uncommitted, unrecorded, or already vacuumed.
    */
  /** Resolve committed version `v`'s manifest and verify its snapshot is
    * still fully materialized — shared by [[readVersion]] and [[restore]].
    */
  private def manifestAt(spark: SparkSession, dir: String, v: Long)
      : Manifest = {
    val cur = requireManifest(spark, dir)
    require(v <= cur.version,
      s"version $v is not committed (current is ${cur.version})")
    val m =
      if (v == cur.version) cur
      else parseManifest(MetaFile.read(spark,
        new org.apache.hadoop.fs.Path(dir, versionedManifestFile(v)))
        .getOrElse(throw new IllegalStateException(
          s"version $v of $dir has no snapshot record — written before " +
            "versioned manifests or pruned by vacuum()")))
    // fail loudly if any referenced bucket was GC'd from under the snapshot
    // — ONE listStatus per distinct version directory instead of a per-
    // bucket exists() sweep (O(versions) metadata calls, not O(buckets))
    val (fs, _) = fsOf(spark, dir)
    val gone = m.buckets.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
      .iterator.flatMap { case (bv, bs) =>
        val present: Set[String] =
          try fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/v$bv"))
            .iterator.map(_.getPath.getName).toSet
          catch { case _: java.io.FileNotFoundException => Set.empty[String] }
        bs.iterator.map(_._1).filterNot(b => present.contains(s"_bucket=$b"))
          .map(b => (b, bv))
      }.toSeq.sortBy(_._1).headOption
    gone.foreach { case (b, bv) =>
      throw new IllegalStateException(
        s"version $v of $dir is no longer fully materialized (bucket $b@" +
          s"v$bv was garbage-collected) — set " +
          "spark.graft.materialized.retainVersions and defer GC to vacuum()")
    }
    m
  }

  def readVersion(spark: SparkSession, dir: String, v: Long): DataFrame = {
    val m = manifestAt(spark, dir, v)
    (if (m.buckets.isEmpty) emptyFromSchema(spark, m)
     else readBuckets(spark, dir, m, m.buckets.keys.toSeq)).drop("_bucket")
  }

  /** RESTORE (rollback): commit a NEW version whose content IS committed
    * version `v` — Delta's RESTORE shape, metadata-only: the new manifest
    * simply re-references v's bucket files, no data moves or copies.
    * Requires v still materialized (retention). The batch-id watermark is
    * PRESERVED, deliberately: batch ids are monotonic, and a rollback must
    * not silently re-open the replay window — re-applying post-v batches
    * is an explicit act with fresh ids. Returns the new version number.
    */
  def restore(spark: SparkSession, dir: String, v: Long): Long = {
    val cur = requireManifest(spark, dir)
    val m = manifestAt(spark, dir, v)
    val newV = cur.version + 1
    writeManifest(spark, dir,
      Manifest(newV, cur.lastBatchId, m.schemaJson, m.buckets,
        m.numBuckets, m.bucketCols, m.stats))
    newV
  }

  /** Does a committed state exist at `dir`? (Manifest presence — partial
    * uncommitted version directories do NOT count, by design.)
    */
  def exists(spark: SparkSession, dir: String): Boolean =
    readManifest(spark, dir).isDefined

  /** Stable bucket of the key columns (Spark murmur3 — internal layout only,
    * nothing external depends on it).
    */
  private def bucketCol(keyCols: Seq[String], numBuckets: Int) =
    pmod(hash(keyCols.map(col): _*), lit(numBuckets)).as("_bucket")

  /** Merge a changelog batch into the materialized state at `dir`.
    *
    * @param updates  changelog rows (op/key/order columns, SURVEY envelope
    *                 or any keyed changelog)
    * @param batchId  optional monotonic batch id; a retry of an id at or
    *                 below the manifest's committed watermark is a no-op
    * @return the number of buckets rewritten
    */
  def merge(spark: SparkSession, dir: String, updates: DataFrame,
      keyCols: Seq[String], orderCols: Seq[String], opCol: String = "op",
      numBuckets: Int = 64, batchId: Option[Long] = None,
      statsCols: Seq[String] = Nil): Int = {
    // Schema evolution (below) applies to PAYLOAD columns only: a batch
    // missing a control column must fail here, not be null-backfilled — a
    // null op on a winning row would silently delete its key (null =!=
    // 'delete' is NULL, which the tombstone filter treats as not-live), and
    // a null order column corrupts the newest-of comparison.
    val missing = (keyCols ++ orderCols :+ opCol).distinct
      .filterNot(updates.columns.contains)
    require(missing.isEmpty,
      s"changelog batch is missing control column(s) ${missing.mkString(", ")} " +
        "— schema evolution applies to payload columns only")
    // existing state re-enters compaction as the baseline: it must never
    // win against a genuinely newer incoming row, and vice versa — both
    // carry their original order columns, so plain compaction is correct.
    // fuseBucketExchange: latest-state compaction has per-key multiplicity
    // ~1 (existing state is exactly one row per key; the incoming batch a
    // few), so map-side partial aggregation saves nothing — grouping by
    // (_bucket, keys) over input already hash-distributed by _bucket lets
    // ONE exchange serve both the compaction and the bucketed write
    // (2 Exchange → 1; _bucket is key-functional, so the groups are
    // identical). Additive folds with high per-group multiplicity
    // (IncrementalAgg.foldStanding) keep the aggregate-before-shuffle
    // two-exchange shape instead.
    mergeBuckets(spark, dir, updates, keyCols, numBuckets, batchId,
      statsCols, fuseBucketExchange = true) { combined =>
      LatestState.batch(combined, "_bucket" +: keyCols, orderCols, opCol,
        keepDeleted = false)
    }
  }

  /** Read a subset of buckets through the manifest: group the wanted buckets
    * by the version directory holding them and read each group with that
    * version as `basePath` (partition discovery recovers `_bucket`).
    * Path-level pruning: unwanted buckets are never even listed.
    *
    * Every group reads with the manifest's schema, so building the read
    * runs no Spark job: without a schema, parquet inference runs one job per
    * group at plan time. (The relation makes the schema nullable, as an
    * inferred one is.) A bucket whose files predate a column (schema
    * evolution) reads it as null; one whose files hold a narrower type (int
    * under a widened long) is widened by the reader ([[readerWidens]]). The
    * groups then share one schema and union by position. This relies on the
    * [[Manifest]] schema invariant.
    */
  private[cdc] def readBuckets(spark: SparkSession, dir: String, m: Manifest,
      wanted: Seq[Int]): DataFrame = {
    val live = m.buckets.filter { case (b, _) => wanted.contains(b) }
    if (live.isEmpty) return emptyFromSchema(spark, m)
    live.groupBy(_._2).toSeq.sortBy(_._1).map { case (v, bs) =>
      val base = s"$dir/v$v"
      val paths = bs.keys.toSeq.sorted.map(b => s"$base/_bucket=$b")
      spark.read.schema(m.schema).option("basePath", base)
        .parquet(paths: _*)
    }.reduce(_.union(_))
  }

  /** The most parquet bytes [[readBucketsLocal]] decodes on the driver. One
    * bucket of a serving table fits with room to spare (perfbench's serve
    * and firehose buckets are at most about 0.5 and 2 MiB). It is a
    * constant because it bounds driver memory and decode time, not a
    * property of the table or the cluster.
    */
  private[cdc] val driverReadMaxBytes = 4L << 20

  /** [[readBuckets]] for the serving faces ([[lookup]], [[readPruned]]).
    * The wanted bucket directories are listed with the Hadoop FileSystem,
    * which starts no Spark listing job. When their files total at most
    * [[driverReadMaxBytes]], they are decoded on the driver into a local
    * relation: the optimizer folds the caller's filters and projections
    * into it, and collecting the result runs no Spark job. Larger reads
    * are [[readBuckets]].
    *
    * The decode is the executor read's own: Spark's parquet reader function
    * with the same nullable manifest schema, and `_bucket` appended as
    * partition discovery types it (a nullable int). Evolution and widening
    * therefore read exactly as in [[readBuckets]], under either parquet
    * reader. The reader function broadcasts the Hadoop conf, so it is built
    * once per read; the broadcast is unreferenced when the read returns,
    * and Spark's ContextCleaner removes it after the next driver GC.
    */
  private[cdc] def readBucketsLocal(spark: SparkSession, dir: String,
      m: Manifest, wanted: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
    val live = m.buckets.filter { case (b, _) => wanted.contains(b) }
    if (live.isEmpty) return emptyFromSchema(spark, m)
    val (fs, _) = fsOf(spark, dir)
    val files = live.toSeq.sorted.flatMap { case (b, v) =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/v$v/_bucket=$b"))
        .filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }.map(b -> _)
    }
    if (files.map(_._2.getLen).sum > driverReadMaxBytes)
      return readBuckets(spark, dir, m, wanted)
    val data = org.apache.spark.sql.GraftShims.asNullable(m.schema)
    val part = StructType(Seq(StructField("_bucket", IntegerType)))
    val reader = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat().buildReaderWithPartitionValues(spark, data, part,
        data, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
    val schema = StructType(data ++ part)
    val toUnsafe = org.apache.spark.sql.catalyst.expressions
      .UnsafeProjection.create(schema)
    val rows = files.flatMap { case (b, st) =>
      val it = reader(PartitionedFile(
        org.apache.spark.sql.catalyst.InternalRow(b),
        org.apache.spark.paths.SparkPath.fromPath(st.getPath), 0L, st.getLen,
        Array.empty[String], st.getModificationTime, st.getLen))
      // the reader reuses its row buffers: copy each row out
      try it.map(r => toUnsafe(r).copy()).toVector
      finally it match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
    org.apache.spark.sql.GraftShims.localDataFrame(spark, schema, rows)
  }

  private def emptyFromSchema(spark: SparkSession, m: Manifest): DataFrame =
    org.apache.spark.sql.GraftShims.localDataFrame(spark, m.schema, Nil)

  /** Whether the parquet reader reads values written as `file` under the
    * type `read`: the same type up to nullability, a numeric widening the
    * reader performs itself (int → long or double, float → double), or a
    * struct whose every field reads as a same-named field of `read` (a
    * field `read` adds reads as null). Long → double is not among the
    * widenings, so a merge that makes it rewrites every bucket.
    */
  private def readerWidens(file: org.apache.spark.sql.types.DataType,
      read: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (file, read) match {
      case (IntegerType, LongType | DoubleType) | (FloatType, DoubleType) => true
      case (f: StructType, r: StructType) =>
        f.forall(ff => r.find(_.name == ff.name)
          .exists(rf => readerWidens(ff.dataType, rf.dataType)))
      case (ArrayType(f, _), ArrayType(r, _)) => readerWidens(f, r)
      case (MapType(fk, fv, _), MapType(rk, rv, _)) =>
        readerWidens(fk, rk) && readerWidens(fv, rv)
      case _ => file == read
    }
  }

  /** The bucketed-merge dataflow shared by [[merge]] (latest-state
    * compaction) and [[IncrementalAgg.foldStanding]] (aggregate folding):
    * bucket the incoming rows on `bucketKeyCols`, read ONLY the touched
    * buckets of existing state, apply `combine` to existing ∪ incoming,
    * write the result to a NEW version directory, and commit with one
    * atomic manifest swap. `combine` receives rows that still carry
    * `_bucket` and must preserve it (grouping by the bucket's source key
    * keeps it functionally determined).
    *
    * The existing∪incoming union is by name with allowMissingColumns both
    * ways = sink-side schema evolution (the ALTER TABLE churn of
    * spec/functional/topic_spec.rb:166–274 reaching the materialized state,
    * not just the decoder): a NEW incoming column widens the state with old
    * rows null-backfilled; a DROPPED column keeps its historical values on
    * rows that still carry them (a newer incoming winner leaves it null).
    * A type change the parquet reader cannot widen (long → double) touches
    * every live bucket, so the whole state is rewritten under the new type.
    *
    * Crash safety: the write target `dir/v{N+1}` is provably unreferenced
    * (manifest versions are monotonic), so a leftover from a crashed
    * previous attempt is deleted wholesale before writing — a retry can
    * never append into half-written garbage. A bucket whose keys all
    * tombstoned simply drops out of the new manifest's bucket map (no
    * explicit file deletes on the commit path). Superseded bucket
    * directories are garbage-collected best-effort AFTER the swap.
    */
  private[cdc] def mergeBuckets(spark: SparkSession, dir: String,
      updates: DataFrame, bucketKeyCols: Seq[String], numBuckets: Int,
      batchId: Option[Long] = None, statsCols: Seq[String] = Nil,
      fuseBucketExchange: Boolean = false)(
      combine: DataFrame => DataFrame): Int = {
    // whether this merge still applies on top of `head`
    def admits(head: Option[Manifest]): Boolean = {
      // a different numBuckets re-assigns every key's bucket — merging
      // under it would scatter state across two incompatible layouts. Old
      // manifests (numBuckets unrecorded ⇒ -1) stay permissive.
      head.filter(_.numBuckets > 0).foreach { m =>
        require(m.numBuckets == numBuckets,
          s"numBuckets $numBuckets does not match the table's committed " +
            s"layout (${m.numBuckets}) — changing it requires a full rewrite")
      }
      // idempotent retry: the committed watermark rides in the manifest, so
      // "data visible" and "batch recorded" are one atomic event. Batch ids
      // are monotonic (foreachBatch contract); at-or-below-watermark =
      // replay.
      !batchId.exists(id => head.exists(_.lastBatchId >= id))
    }
    if (!admits(readManifest(spark, dir))) return 0
    // persist: the updates plan feeds both the touched-bucket collect and the
    // combine/write — without this it would execute twice
    val incoming = updates.withColumn("_bucket", bucketCol(bucketKeyCols, numBuckets))
      .persist()
    try {
      val keyed = incoming.select("_bucket").distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      // The snapshot this commit builds on is read only now, after the
      // touched-bucket collect, which does not need it. Under a hot
      // opposing writer (a maintenance compaction loop) the read→claim
      // window must be shorter than the opponent's commit period or no
      // attempt can win (the OCC livelock shape), so no job runs inside it
      // that does not have to. The read above only rejects early.
      val prior = readManifest(spark, dir)
      if (!admits(prior)) return 0
      // Hash-distribute the compacted state by _bucket before the write
      // (Iceberg's write.distribution-mode=hash, and its default for
      // partitioned writes): exactly ONE file per bucket instead of one
      // file per (writer task × bucket) — the bucket IS the unit of IO on
      // this layout, so a bucket's state belongs in one sequentially-
      // readable file (row groups keep scan parallelism within it), and
      // the tiny-batch case stops paying numBuckets sequential parquet-
      // writer inits on a single task. Cost: one extra exchange of the
      // compacted state per merge — the accepted price of the hash
      // distribution mode; `spark.graft.materialized.writeDistribution =
      // none` restores the undistributed write (same results, more
      // smaller files). The result is persisted (not localCheckpoint'ed):
      // the write action below materializes the cache as a side effect,
      // so the bucket-stats pass reads the cache with NO separate
      // materialization job — one fewer job per merge at identical
      // results.
      val distMode = spark.conf.get(
        "spark.graft.materialized.writeDistribution", "hash")
      require(distMode == "hash" || distMode == "none",
        s"spark.graft.materialized.writeDistribution must be hash or none, " +
          s"not $distMode")
      // EXCHANGE FUSION (callers with per-key multiplicity ~1): hash-
      // distribute the INPUT by _bucket and let the caller's combine group
      // by (_bucket, keys) — HashPartitioning(_bucket) satisfies the
      // grouping's ClusteredDistribution (subset rule), so the plan runs
      // compaction AND the bucketed write off ONE exchange where the
      // unfused shape pays two (agg re-key + write re-key), and the one
      // exchange carries ≈ the same bytes the first of the two did.
      val fuse = fuseBucketExchange && distMode == "hash"
      def build(touched: Seq[Int]): DataFrame = {
        val combined = prior match {
          case Some(m) =>
            readBuckets(spark, dir, m, touched)
              .unionByName(incoming, allowMissingColumns = true)
          case None => incoming.toDF()
        }
        val compacted = combine(
          if (fuse) combined.repartition(numBuckets, col("_bucket"))
          else combined)
        distMode match {
          case "none" => compacted
          case _ if fuse => compacted // already distributed by _bucket above
          case _ => compacted.repartition(numBuckets, col("_bucket"))
        }
      }
      // The untouched buckets keep their files, so the new manifest schema
      // must still read them (the Manifest schema invariant). When the
      // merge changes a column's type in a way the parquet reader cannot
      // widen (long → double), every live bucket counts as touched and is
      // rewritten under the new type. Building either plan runs no job.
      val (touched, out0) = {
        val out = build(keyed)
        prior match {
          case Some(m) if !readerWidens(m.schema, out.schema) =>
            val all = (keyed ++ m.buckets.keys).distinct.sorted
            (all, build(all))
          case _ => (keyed, out)
        }
      }
      // MEASURED-NEGATIVE experiment, recorded (r16): deriving the written
      // set + row counts from the staged parquet FOOTERS (no Spark job, no
      // cache) read 0.14 s/merge job → 0.46 s/merge of sequential driver
      // footer opens on the checksummed local FS — the one grouped pass
      // over the cached result stays the cheaper instrument, and its cost
      // is already O(numBuckets) rows to the driver.
      val out = out0.persist()
      val newV = prior.map(_.version + 1).getOrElse(1L)
      val oldBuckets = prior.map(_.buckets).getOrElse(Map.empty)
      // a concurrent winner makes the commit throw ConcurrentCommitException
      // (staging deleted)
      writeAndCommit(spark, dir, newV, out,
        touched.flatMap(b => oldBuckets.get(b).map(b -> _))) {
        val writtenStats = bucketStats(out, statsCols)
        out.unpersist()
        val newBuckets =
          (oldBuckets -- touched) ++ writtenStats.keySet.map(_ -> newV)
        // stats follow the bucket map: touched buckets get this merge's
        // fresh numbers (or drop out with the bucket), untouched carry
        // forward — their files did not change, so neither did their
        // content summary
        val oldStats = prior.map(_.stats).getOrElse(Map.empty)
        val newStats = (oldStats -- touched) ++ writtenStats
        val newWatermark = math.max(prior.map(_.lastBatchId).getOrElse(-1L),
          batchId.getOrElse(-1L))
        Manifest(newV, newWatermark, out.schema.json, newBuckets,
          numBuckets, bucketKeyCols, newStats)
      }
      touched.length
    } finally {
      incoming.unpersist()
    }
  }

  /** The tail every data rewrite (merge, [[compact]], [[rebucket]]) shares:
    * write `out` partitioned by `_bucket` under a unique staging dir, commit
    * the manifest `manifest` builds once the write is done
    * ([[commitStaged]]), then garbage-collect the `superseded` (bucket,
    * version) dirs.
    *
    * The write uses committer v2 and no `_SUCCESS` marker: the staging dir
    * is private to this attempt and the atomic commit is the manifest swap,
    * so v1's job-commit isolation (task dirs renamed one by one by the
    * driver) buys nothing and costs O(tasks) sequential driver renames.
    *
    * The GC is best-effort (a failure leaves unreferenced files for
    * [[vacuum]], never corruption). With a retention window configured it
    * defers entirely to vacuum, so the last `retainVersions` snapshots stay
    * readable by [[readVersion]].
    */
  private def writeAndCommit(spark: SparkSession, dir: String, newV: Long,
      out: DataFrame, superseded: Iterable[(Int, Long)])(
      manifest: => Manifest): Unit = {
    val stage = stagePath(dir, newV)
    out.write.mode("append")
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .partitionBy("_bucket").parquet(stage.toString)
    commitStaged(spark, dir, stage, manifest)
    if (retainVersions(spark) <= 0) try {
      val (fs, _) = fsOf(spark, dir)
      for ((b, v) <- superseded) {
        val p = new org.apache.hadoop.fs.Path(s"$dir/v$v/_bucket=$b")
        if (fs.exists(p)) fs.delete(p, true)
      }
      pruneEmptyVersionDirs(fs, dir, newV)
    } catch { case _: java.io.IOException => () }
  }

  /** Drop version directories that no longer hold any bucket directory —
    * but never the current version (its dir may legitimately be absent or
    * empty after an all-tombstone merge, and deleting-then-recreating it
    * would race the writer).
    */
  private def pruneEmptyVersionDirs(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, current: Long): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(hPath)) return
    for (st <- fs.listStatus(hPath)
         if st.isDirectory && st.getPath.getName.startsWith("v")) {
      val vn = scala.util.Try(st.getPath.getName.stripPrefix("v").toLong).toOption
      if (vn.exists(_ != current) &&
          !fs.listStatus(st.getPath).exists(_.getPath.getName.startsWith("_bucket=")))
        fs.delete(st.getPath, true)
    }
  }

  /** Delete every file NO RETAINED manifest references: crashed partial
    * version directories, GC stragglers, superseded buckets past the
    * retention horizon, and stale/uncommitted snapshot records. Retained =
    * the primary manifest plus the versioned manifests of the last
    * `spark.graft.materialized.retainVersions` commits (at the default 0,
    * only the current snapshot — the original behavior). Safe under the
    * single-writer assumption once in-flight readers of pruned snapshots
    * have drained (the retention-window caveat of every lakehouse VACUUM).
    * Returns the number of files/directories removed.
    */
  def vacuum(spark: SparkSession, dir: String): Int = {
    val m = readManifest(spark, dir).getOrElse(return 0)
    val (fs, hPath) = fsOf(spark, dir)
    val retain = retainVersions(spark)
    val horizon = m.version - retain // versions > horizon stay materialized
    var removed = 0
    // crashed commit debris is age-guarded: under OCC, a FRESH above-head
    // versioned record IS a live writer's in-flight claim, and a fresh
    // `_stage_*` dir is its data — sweeping either while its writer is
    // between claim and publish would re-open the claimed version (the
    // recover()-against-live-writers corruption path). An hour-old one is
    // definitively a crash (a live claim publishes within milliseconds).
    val stageCutoff = System.currentTimeMillis() - 60L * 60 * 1000
    // snapshot records: prune uncommitted crash leftovers (v > current,
    // AGE-GUARDED per above) and records at or below the retention horizon
    // (their files may be about to go)
    val retained = scala.collection.mutable.ArrayBuffer(m)
    // above-head versions whose CLAIM record is still fresh: their v{N}
    // dirs are spared below regardless of the dir's own mtime — rename
    // preserves the stage dir's mtime, so a live commit's freshly-renamed
    // data dir can look arbitrarily old; the claim record is the
    // authoritative liveness signal (it is created at claim time and
    // deleted only by recover()/vacuum itself)
    val freshAboveHead = scala.collection.mutable.Set.empty[Long]
    for (st <- fs.listStatus(hPath)) st.getPath.getName match {
      case VersionedManifestRe(vs) =>
        val v = vs.toLong
        if (v > m.version) {
          if (st.getModificationTime < stageCutoff) {
            fs.delete(st.getPath, true); removed += 1
          } else freshAboveHead += v
        } else if (v <= horizon && v != m.version) {
          fs.delete(st.getPath, true); removed += 1
        } else if (v < m.version) {
          retained += readListed(spark, st.getPath)
        }
      case _ => ()
    }
    // crashed commit attempts leak their unique `_stage_*` dirs (a LOST
    // claim deletes its own staging; a crash cannot). Age-guarded so a
    // concurrently-staging live writer is never swept.
    for (st <- fs.listStatus(hPath)
         if st.isDirectory && st.getPath.getName.startsWith("_stage_")
           && st.getModificationTime < stageCutoff) {
      fs.delete(st.getPath, true); removed += 1
    }
    // a file is live iff some retained manifest references its (bucket,
    // version) pair
    val liveRefs = retained.flatMap(_.buckets.map { case (b, v) => (b, v) }).toSet
    for (st <- fs.listStatus(hPath)
         if st.isDirectory && st.getPath.getName.startsWith("v")) {
      val vn = scala.util.Try(st.getPath.getName.stripPrefix("v").toLong).toOption
      vn.foreach { v =>
        val liveHere = liveRefs.collect { case (b, bv) if bv == v => b }
        // an ABOVE-HEAD version dir may be a live writer's staged commit
        // mid-rename-to-publish — spared while its own mtime OR its claim
        // record is fresh (the dir mtime alone is not trustworthy: rename
        // preserves the stage's mtime, and commitStaged's post-rename
        // setTimes is best-effort)
        if (v > m.version && (st.getModificationTime >= stageCutoff ||
            freshAboveHead.contains(v))) ()
        else if (liveHere.isEmpty && v != m.version) {
          fs.delete(st.getPath, true); removed += 1
        } else {
          for (bSt <- fs.listStatus(st.getPath)
               if bSt.getPath.getName.startsWith("_bucket=")) {
            val b = bSt.getPath.getName.stripPrefix("_bucket=").toInt
            if (!liveHere.contains(b)) {
              fs.delete(bSt.getPath, true); removed += 1
            }
          }
        }
      }
    }
    removed
  }

  /** Bin-pack small files: rewrite every bucket whose parquet file count
    * exceeds `maxFilesPerBucket` down to ONE file each; buckets at or under
    * the threshold are neither read nor written. Returns the number of
    * buckets compacted.
    *
    * Why this exists at 100 TB: under the default hash write distribution
    * a merge already emits one file per touched bucket, but tables written
    * with `spark.graft.materialized.writeDistribution = none` accumulate
    * O(shufflePartitions) files per bucket per merge cycle — and scan cost
    * (footer reads, task scheduling) degrades with file count, not data
    * size. This is the OPTIMIZE/bin-packing maintenance operation of
    * transactional lakehouse formats, on plain parquet; with `sortCols` it
    * is also the clustering (ZORDER-style) rewrite regardless of layout.
    *
    * Shape: one job for all oversized buckets — `repartition(col(_bucket))`
    * hash-clusters each bucket wholly into one task, so the partitioned
    * write emits exactly one file per bucket; the same
    * new-version + manifest-swap commit as a merge (a crash mid-compaction
    * changes nothing). Reader caveat, same as every merge: at the default
    * `retainVersions = 0` a reader that resolved the OLD manifest stays
    * consistent only until the writer's post-commit GC deletes the
    * superseded bucket files — concurrent long scans (and [[readVersion]]
    * time travel) need `spark.graft.materialized.retainVersions > 0`, which
    * defers all GC to [[vacuum]]'s retention horizon.
    *
    * @param sortCols CLUSTERED compaction: rewrite each bucket's rows
    *   sorted by these columns (lexicographic; for 2-D range workloads
    *   sort by a materialized [[graft.operators.Layout.morton2]] key
    *   instead). Hash bucketing scatters payload ranges across buckets —
    *   manifest-level stats (cdc54) cannot prune them — but WITHIN a file,
    *   sorted rows give parquet row-group min/max the same skipping power:
    *   a range predicate pushed to the scan reads only the row groups
    *   whose stats overlap (the OPTIMIZE ZORDER BY discipline). When
    *   non-empty, ALL manifest-live buckets are rewritten (clustering is
    *   the point, not just bin-packing).
    */
  def compact(spark: SparkSession, dir: String, maxFilesPerBucket: Int = 1,
      sortCols: Seq[String] = Nil): Int = {
    require(maxFilesPerBucket >= 1,
      s"maxFilesPerBucket must be >= 1, got $maxFilesPerBucket")
    val m = readManifest(spark, dir).getOrElse(return 0)
    val oversized =
      if (sortCols.nonEmpty) m.buckets.keys.toSeq.sorted
      else parquetFilesPerBucket(spark, dir, m)
        .filter(_._2 > maxFilesPerBucket).keys.toSeq.sorted
    if (oversized.isEmpty) return 0
    val repartitioned = readBuckets(spark, dir, m, oversized)
      .repartition(oversized.size, col("_bucket"))
    // no checkpoint/cache: the write below is the ONLY action on this plan
    // (everything read afterwards — out.schema — is metadata), so the old
    // localCheckpoint materialized the whole rewrite twice for nothing
    val out = if (sortCols.isEmpty) repartitioned
      else repartitioned.sortWithinPartitions(
        (col("_bucket") +: sortCols.map(col)): _*)
    val newV = m.version + 1
    // stats describe content, and compaction moves bytes, never rows —
    // every bucket's summary carries forward unchanged
    writeAndCommit(spark, dir, newV, out,
      oversized.flatMap(b => m.buckets.get(b).map(b -> _))) {
      Manifest(newV, m.lastBatchId, out.schema.json,
        m.buckets ++ oversized.map(_ -> newV),
        m.numBuckets, m.bucketCols, m.stats)
    }
    oversized.size
  }

  /** CHANGE FEED between two committed versions — the snapshot-diff CDC
    * operator (Delta's change-data-feed shape, and how pipelines bootstrap
    * CDC when no WAL exists): one row per key whose state differs between
    * `fromV` and `toV`, op-typed `insert`/`update`/`delete` with the full
    * before/after payloads (`before_<c>` / `after_<c>` per non-key column).
    * Unchanged keys are filtered BEFORE the output materializes, so the
    * feed is O(divergence), not O(table).
    *
    * Scale shape: ONE full-outer hash join on the key columns — the same
    * exchange both snapshots would already be bucketed on in a persisted
    * deployment; payload comparison is a null-safe struct equality inside
    * the join's projection. Requires both versions retained
    * (`spark.graft.materialized.retainVersions`).
    */
  def changeFeed(spark: SparkSession, dir: String, fromV: Long, toV: Long,
      keyCols: Seq[String]): DataFrame = {
    require(fromV < toV, s"fromV ($fromV) must precede toV ($toV)")
    // MANIFEST-DIFF PRUNING: a bucket mapped to the SAME version directory
    // in both snapshots references the same immutable files — its keys
    // cannot have diverged, so neither side needs to read it. The filter
    // rides the _bucket partition column (partition pruning at the scan),
    // so unchanged buckets' data files are never opened and the feed's IO
    // is O(touched buckets), not O(table) — while the plan keeps the full
    // snapshot schema (pruning removes files, never columns).
    val mFrom = manifestAt(spark, dir, fromV)
    val mTo = manifestAt(spark, dir, toV)
    val changed = (mFrom.buckets.keySet ++ mTo.buckets.keySet)
      .filter(b => mFrom.buckets.get(b) != mTo.buckets.get(b))
      .toSeq.sorted
    def snapshot(m: Manifest): DataFrame = {
      val full =
        if (m.buckets.isEmpty) emptyFromSchema(spark, m)
        else readBuckets(spark, dir, m, m.buckets.keys.toSeq)
      (if (full.columns.contains("_bucket"))
        full.where(col("_bucket").isin(changed.map(Integer.valueOf): _*))
          .drop("_bucket")
      else full)
    }
    val before = snapshot(mFrom)
    val after = snapshot(mTo)
    // payload = the UNION of both snapshots' columns, so the feed stays
    // correct across schema evolution inside the window: a column ADDED
    // between fromV and toV reads as null on the before side (and a key
    // whose only change is gaining a value in it is correctly an update —
    // an intersection would silently classify it unchanged); a column
    // DROPPED from the incoming batches reads null on the after side.
    // Types resolve from whichever snapshot carries the column.
    val beforeCols = before.columns.filterNot(keyCols.contains).toSeq
    val afterCols = after.columns.filterNot(keyCols.contains).toSeq
    val payload = beforeCols ++ afterCols.filterNot(beforeCols.contains)
    def payloadStruct(df: DataFrame, as: String) = {
      val have = df.columns.toSet
      struct(payload.map(c =>
        if (have.contains(c)) col(c)
        else lit(null).cast(
          (if (beforeCols.contains(c)) before else after).schema(c).dataType)
          .as(c)): _*).as(as)
    }
    val a = before.select(
      (keyCols.map(col) :+ payloadStruct(before, "_b") :+
        lit(1).as("_inA")): _*)
    val b = after.select(
      (keyCols.map(col) :+ payloadStruct(after, "_a") :+
        lit(1).as("_inB")): _*)
    a.join(b, keyCols, "full_outer")
      .withColumn("op",
        when(col("_inA").isNull, lit(Op.Insert))
          .when(col("_inB").isNull, lit(Op.Delete))
          .when(!(col("_b") <=> col("_a")), lit(Op.Update)))
      .filter(col("op").isNotNull) // unchanged keys leave the feed here
      .select(keyCols.map(col) ++ Seq(col("op")) ++
        payload.map(c => col(s"_b.$c").as(s"before_$c")) ++
        payload.map(c => col(s"_a.$c").as(s"after_$c")): _*)
  }

  // === Manifest statistics: data skipping, point lookups, metadata-only
  // === aggregates =========================================================
  //
  // The Delta/Iceberg data-skipping discipline on this layout: every merge
  // records, per bucket, the exact row count plus min/max/null-count for the
  // caller's declared `statsCols` — computed in the SAME grouped pass that
  // already collected the written-bucket set, so statistics are free at
  // write time and O(numBuckets · statsCols) manifest metadata. Three reads
  // cash them in:
  //   - [[lookup]]      — hash-partition pruning: a point read touches
  //                       exactly ONE bucket, O(1/numBuckets) of the data;
  //   - [[readPruned]]  — min/max skipping: buckets whose recorded range
  //                       cannot satisfy a conjunct are never LISTED, and
  //                       the full predicate still applies after the read,
  //                       so pruning can only ever remove IO, not rows;
  //   - [[statsSummary]]— metadata-only COUNT/MIN/MAX over the whole table,
  //                       zero data files opened.
  // Honest scale note: buckets are hash-partitioned on the key columns, so
  // an arbitrary payload column's per-bucket range converges to the global
  // range as buckets fill — range skipping pays off on small/medium tables,
  // sparse buckets, and predicates correlated with the key hash, while
  // point lookups and metadata aggregates pay off at EVERY size. All three
  // stay correct with partial or absent stats (conservative keep).

  private def statsSupported(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | StringType | BooleanType | DateType | TimestampType |
           TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** Lossless string transport of a min/max value: TimestampType travels as
    * unix micros (session-timezone-free); every other supported type uses
    * Spark's own round-tripping string cast.
    */
  private def toTransport(c: org.apache.spark.sql.Column,
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column =
    dt match {
      case org.apache.spark.sql.types.TimestampType =>
        unix_micros(c).cast("string")
      case _ => c.cast("string")
    }

  /** Transport string → the column type's INTERNAL value. */
  private def fromTransport(s: String,
      dt: org.apache.spark.sql.types.DataType, zone: String): Any =
    dt match {
      case org.apache.spark.sql.types.TimestampType => s.toLong
      case _ =>
        org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(s),
            org.apache.spark.sql.types.StringType), dt, Some(zone)).eval()
    }

  /** Total order on a supported type's internal values — matches Spark's
    * own sort semantics (NaN greatest, UTF8 binary string order).
    */
  private def cmp(dt: org.apache.spark.sql.types.DataType,
      a: Any, b: Any): Int = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType =>
        java.lang.Long.compare(a.asInstanceOf[Number].longValue,
          b.asInstanceOf[Number].longValue)
      case FloatType =>
        java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
      case DoubleType =>
        java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
      case _: DecimalType =>
        a.asInstanceOf[Decimal].compare(b.asInstanceOf[Decimal])
      case StringType =>
        a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
          .compareTo(b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
      case BooleanType =>
        java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
      case _ => 0
    }
  }

  /** One grouped pass over the merge result: per bucket, the row count plus
    * min/max (string transport) and null count for each requested column
    * that exists in `out` with a supported type. Also serves as the
    * written-bucket enumeration.
    */
  private def bucketStats(out: DataFrame,
      statsCols: Seq[String]): Map[Int, BucketStats] = {
    val present = statsCols.distinct
      .filter(out.columns.contains)
      .filter(c => statsSupported(out.schema(c).dataType))
    val aggs: Seq[org.apache.spark.sql.Column] =
      count(lit(1)).as("_rows") +: present.flatMap { c =>
        val dt = out.schema(c).dataType
        Seq(toTransport(min(col(c)), dt).as(s"_min_$c"),
          toTransport(max(col(c)), dt).as(s"_max_$c"),
          count(when(col(c).isNull, lit(1))).as(s"_nulls_$c"))
      }
    out.groupBy("_bucket").agg(aggs.head, aggs.tail: _*).collect().map { r =>
      val cols = present.map { c =>
        c -> ColStat(
          Option(r.getAs[String](s"_min_$c")),
          Option(r.getAs[String](s"_max_$c")),
          r.getAs[Long](s"_nulls_$c"))
      }.toMap
      r.getAs[Int]("_bucket") -> BucketStats(r.getAs[Long]("_rows"), cols)
    }.toMap
  }

  /** A recognized skipping conjunct: `col <op> literal` (either orientation,
    * normalized to attribute-on-the-left).
    */
  private final case class Bound(colName: String, op: String, lit: Any,
      litDt: org.apache.spark.sql.types.DataType)

  private def boundsOf(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[Bound] = {
    import org.apache.spark.sql.catalyst.expressions._
    // attribute possibly under coercion casts (analysis inserts them for
    // cross-type comparisons); the cast is monotonic for the numeric pairs
    // bucketPossible accepts, so the bound transfers to the raw column
    def attrName(x: Expression): Option[String] = x match {
      case a: AttributeReference => Some(a.name)
      case c: Cast => attrName(c.child)
      case _ => None
    }
    def side(attr: Expression, l: Expression, op: String): Option[Bound] =
      attrName(attr).flatMap { n =>
        scala.util.Try {
          if (l.foldable) Some(Bound(n, op, l.eval(), l.dataType)) else None
        }.toOption.flatten
      }
    e match {
      case And(l, r) => boundsOf(l) ++ boundsOf(r)
      case b: BinaryComparison =>
        val op = b match {
          case _: EqualTo => "="
          case _: LessThan => "<"
          case _: LessThanOrEqual => "<="
          case _: GreaterThan => ">"
          case _: GreaterThanOrEqual => ">="
          case _ => return Nil
        }
        val flip = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=",
          "=" -> "=")
        (side(b.left, b.right, op) orElse side(b.right, b.left, flip(op))).toSeq
      case _ => Nil // OR / IS NULL / functions — no skipping contribution
    }
  }

  /** Resolve the user's predicate against the manifest schema (a zero-row
    * relation) so names bind and coercion casts materialize, then harvest
    * recognized bounds from the analyzed filter condition. Analysis failure
    * (unknown column, etc.) yields no bounds — the read stays full and the
    * real filter reports the error.
    */
  private def analyzedBounds(spark: SparkSession, m: Manifest,
      predicate: org.apache.spark.sql.Column): Seq[Bound] =
    scala.util.Try {
      emptyFromSchema(spark, m).filter(predicate).queryExecution.analyzed
        .collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition
        }.headOption.map(boundsOf).getOrElse(Nil)
    }.getOrElse(Nil)

  private def isNumeric(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** Exact decimal view of a numeric internal value — None for NaN/±Inf
    * (callers then keep the bucket conservatively).
    */
  private def toBig(v: Any,
      dt: org.apache.spark.sql.types.DataType): Option[java.math.BigDecimal] = {
    import org.apache.spark.sql.types._
    scala.util.Try(dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        java.math.BigDecimal.valueOf(v.asInstanceOf[Number].longValue)
      case FloatType => new java.math.BigDecimal(v.asInstanceOf[Float].toDouble)
      case DoubleType => new java.math.BigDecimal(v.asInstanceOf[Double])
      case _: DecimalType => v.asInstanceOf[Decimal].toJavaBigDecimal
    }).toOption
  }

  /** Can bucket `b` possibly hold a row satisfying every recognized bound?
    * Conservative in every uncertain direction: missing stats, unknown
    * column, unsupported type, or an uncastable literal all KEEP the
    * bucket. An all-null column skips on any comparison bound (comparisons
    * are null-rejecting).
    */
  private def bucketPossible(m: Manifest, zone: String,
      b: Int, bs: Seq[Bound]): Boolean = {
    val stat = m.stats.get(b) match {
      case None => return true
      case Some(s) => s
    }
    def possible(bd: Bound): Boolean = {
      val f = m.schema.find(_.name == bd.colName) match {
        case None => return true
        case Some(f) => f
      }
      if (!statsSupported(f.dataType)) return true
      val cs = stat.cols.get(bd.colName) match {
        case None => return true
        case Some(c) => c
      }
      if (cs.min.isEmpty || cs.max.isEmpty) return false
      if (bd.lit == null) return true
      val mn = fromTransport(cs.min.get, f.dataType, zone)
      val mx = fromTransport(cs.max.get, f.dataType, zone)
      if (mn == null || mx == null) return true
      // compare min/max against the literal in an EXACT common domain:
      // same type → the type's own order; numeric vs numeric → BigDecimal
      // (never a truncating cast — `bigint_col < 450.5` must not round the
      // bound to 450); anything else → conservative keep
      val rel: Option[(Int, Int)] =
        if (bd.litDt == f.dataType)
          Some((cmp(f.dataType, mn, bd.lit), cmp(f.dataType, mx, bd.lit)))
        else if (isNumeric(bd.litDt) && isNumeric(f.dataType))
          for {
            l <- toBig(bd.lit, bd.litDt)
            a <- toBig(mn, f.dataType)
            b <- toBig(mx, f.dataType)
          } yield (a.compareTo(l), b.compareTo(l))
        else None
      rel match {
        case None => true
        case Some((cMin, cMax)) => bd.op match {
          case "=" => cMin <= 0 && cMax >= 0
          case "<" => cMin < 0
          case "<=" => cMin <= 0
          case ">" => cMax > 0
          case ">=" => cMax >= 0
          case _ => true
        }
      }
    }
    bs.forall(possible)
  }

  /** The buckets a stats-pruned read of `predicate` would scan — the
    * introspection face of [[readPruned]] (specs and gates pin skipping
    * behavior through it; it never reads data files).
    */
  def matchingBuckets(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column): Seq[Int] =
    matchingBuckets(spark, requireManifest(spark, dir), predicate)

  private def matchingBuckets(spark: SparkSession, m: Manifest,
      predicate: org.apache.spark.sql.Column): Seq[Int] = {
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val bs = analyzedBounds(spark, m, predicate)
    m.buckets.keys.toSeq.sorted
      .filter(b => bucketPossible(m, zone, b, bs))
  }

  /** Stats-pruned read: buckets whose recorded min/max cannot satisfy the
    * predicate's recognized conjuncts (`col <op> literal` under AND) are
    * never listed; the FULL predicate then applies as a normal filter, so
    * the result is identical to `read(...).filter(predicate)` on every
    * input — skipping removes IO, never rows. Kept buckets within the
    * driver bound are decoded on the driver ([[readBucketsLocal]]), so
    * collecting the result runs no Spark job.
    */
  def readPruned(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column): DataFrame =
    prunedWith(spark, dir, predicate, readBucketsLocal)

  /** [[readPruned]] through the executor read alone, for a caller that
    * turns the result into an RDD anyway: a decode on the driver would
    * only add planning time there.
    */
  private[graft] def readPrunedOnExecutors(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column): DataFrame =
    prunedWith(spark, dir, predicate, readBuckets)

  private def prunedWith(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column,
      read: (SparkSession, String, Manifest, Seq[Int]) => DataFrame)
      : DataFrame = {
    val m = requireManifest(spark, dir)
    read(spark, dir, m, matchingBuckets(spark, m, predicate))
      .filter(predicate).drop("_bucket")
  }

  /** POINT LOOKUP: read the state of one key by touching exactly the bucket
    * it hashes to — O(1/numBuckets) of the table, the serving-path read.
    * `key` pairs positionally with the manifest's recorded `bucketCols`;
    * values are cast to the stored column types BEFORE hashing (murmur3 is
    * type-sensitive). Requires a manifest that records its layout (any
    * manifest written since numBuckets/bucketCols landed). A bucket within
    * the driver bound is decoded on the driver ([[readBucketsLocal]]), so
    * collecting the lookup runs no Spark job.
    */
  def lookup(spark: SparkSession, dir: String, key: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Murmur3Hash}
    val m = requireManifest(spark, dir)
    require(m.numBuckets > 0 && m.bucketCols.nonEmpty,
      s"manifest at $dir predates layout recording — re-merge once to " +
        "record numBuckets/bucketCols, then lookup works")
    require(key.length == m.bucketCols.length,
      s"key arity ${key.length} != bucket columns ${m.bucketCols.mkString(",")}")
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val lits = m.bucketCols.zip(key).map { case (c, v) =>
      val dt = m.schema(c).dataType
      val l = Literal(v)
      if (l.dataType == dt) l else Literal(Cast(l, dt, Some(zone)).eval(), dt)
    }
    // same murmur3 + seed as functions.hash — the layout's bucket function
    val h = new Murmur3Hash(lits).eval(null).asInstanceOf[Int]
    val b = ((h % m.numBuckets) + m.numBuckets) % m.numBuckets
    val base = readBucketsLocal(spark, dir, m, Seq(b))
    m.bucketCols.zip(lits).foldLeft(base) { case (df, (c, l)) =>
      df.filter(col(c) === org.apache.spark.sql.GraftShims.column(l))
    }.drop("_bucket")
  }

  /** SET LOOKUP: a bucket-granular SUPERSET of the state rows matching any
    * probe key — the dimension-read half of a stream-enrichment join (the
    * enriching equi-join then filters exactly). Probe keys are
    * bucketed with the layout's own hash (cast to the stored key types
    * first — murmur3 is type-sensitive), the distinct touched buckets
    * come to the driver (BOUNDED: ≤ numBuckets ids, never O(probe)), and
    * only those buckets are listed/read. A micro-batch touching k keys
    * reads O(k/numBuckets) of a 100 TB table instead of all of it.
    * Null probe keys match nothing (equi-join semantics) and contribute
    * no buckets. `probeKeyCols` pairs positionally with the manifest's
    * recorded `bucketCols`.
    */
  def readMatching(spark: SparkSession, dir: String, probe: DataFrame,
      probeKeyCols: Seq[String]): DataFrame = {
    val m = requireManifest(spark, dir)
    require(m.numBuckets > 0 && m.bucketCols.nonEmpty,
      s"manifest at $dir predates layout recording — re-merge once to " +
        "record numBuckets/bucketCols, then readMatching works")
    require(probeKeyCols.length == m.bucketCols.length,
      s"probe arity ${probeKeyCols.length} != bucket columns " +
        m.bucketCols.mkString(","))
    val typedKeys = probeKeyCols.zip(m.bucketCols).map { case (p, c) =>
      col(p).cast(m.schema(c).dataType)
    }
    val touched = probe
      .filter(typedKeys.map(_.isNotNull).reduce(_ && _))
      .select(pmod(hash(typedKeys: _*), lit(m.numBuckets)).as("_b"))
      .distinct().collect().map(_.getInt(0)).toIndexedSeq.sorted
    val wanted = touched.filter(m.buckets.contains)
    (if (wanted.isEmpty) emptyFromSchema(spark, m)
     else readBuckets(spark, dir, m, wanted)).drop("_bucket")
  }

  /** LAYOUT EVOLUTION: rewrite the whole table under a new bucket count —
    * the explicit full-rewrite the merge-time numBuckets guard points at
    * (a table outgrowing its bucket count is the one layout decision hash
    * bucketing cannot absorb incrementally: every key re-hashes). Read the
    * live state (path-pruned), re-bucket, write a complete new version,
    * swap the manifest — the same crash discipline as a merge (a death
    * before the swap leaves the old layout fully live). The batch
    * watermark is PRESERVED: replays of already-folded batches stay
    * no-ops across the layout change. Stats are recomputed for the new
    * buckets by the grouped pass a merge pays, over the cache the write
    * fills: its Spark jobs are the write, then the stats aggregation (two
    * jobs under AQE). Returns the new version.
    *
    * Cost is honest: O(table) read + shuffle + write — schedule it like
    * any OPTIMIZE. Readers holding the old manifest keep the old files
    * until GC (retention rules unchanged).
    */
  def rebucket(spark: SparkSession, dir: String, newNumBuckets: Int,
      statsCols: Seq[String] = Nil): Long = {
    require(newNumBuckets > 0, s"numBuckets must be positive: $newNumBuckets")
    val m = requireManifest(spark, dir)
    require(m.bucketCols.nonEmpty,
      s"manifest at $dir predates layout recording — re-merge once")
    val state = readState(spark, dir).drop("_bucket")
    // persisted, not checkpointed: the write fills the cache and the stats
    // pass reads it, with no separate materialization job (as in a merge)
    val out = state
      .withColumn("_bucket", bucketCol(m.bucketCols, newNumBuckets))
      .persist()
    val newV = m.version + 1
    writeAndCommit(spark, dir, newV, out, m.buckets) {
      val writtenStats = bucketStats(out, statsCols)
      out.unpersist()
      Manifest(newV, m.lastBatchId, out.schema.json,
        writtenStats.keys.map(_ -> newV).toMap,
        newNumBuckets, m.bucketCols, writtenStats)
    }
    newV
  }

  /** The table's recorded key columns + current schema — the public face
    * enrichment operators need to build a typed equi-join against the
    * layout (see [[graft.streaming.LookupEnrich]]).
    */
  def keyLayout(spark: SparkSession, dir: String)
      : (Seq[String], org.apache.spark.sql.types.StructType) = {
    val m = requireManifest(spark, dir)
    require(m.bucketCols.nonEmpty,
      s"manifest at $dir predates layout recording — re-merge once")
    (m.bucketCols, m.schema)
  }

  /** The committed bucket count, for writers that must match the layout
    * (absent or pre-layout manifests answer None).
    */
  def numBucketsOf(spark: SparkSession, dir: String): Option[Int] =
    readManifest(spark, dir).map(_.numBuckets).filter(_ > 0)

  /** Parquet file count per LIVE bucket of the committed snapshot, resolved
    * THROUGH the manifest (bucket → its owning version dir) — the audit
    * face OPTIMIZE/maintain gates read, so a storage-layout rename can
    * never silently turn their file-shape check vacuous (the cdc65 gate
    * used to walk `v4/_bucket=*` with hardcoded names). O(numBuckets)
    * driver-side listStatus, metadata-only.
    */
  def filesPerBucket(spark: SparkSession, dir: String): Map[Int, Int] =
    readManifest(spark, dir)
      .map(parquetFilesPerBucket(spark, dir, _)).getOrElse(Map.empty)

  /** Parquet files in each of `m`'s live bucket dirs (0 for a missing dir). */
  private def parquetFilesPerBucket(spark: SparkSession, dir: String,
      m: Manifest): Map[Int, Int] = {
    val (fs, _) = fsOf(spark, dir)
    m.buckets.map { case (b, v) =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/v$v/_bucket=$b")
      b -> (if (fs.exists(p))
        fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
      else 0)
    }
  }

  /** DESCRIBE HISTORY analog: one row per RETAINED committed version —
    * (version, batch watermark, live bucket count, exact row count when
    * that version's stats coverage is complete else null, commit
    * timestamp from the versioned manifest's mtime). Metadata-only:
    * O(retained versions) manifest JSON reads, zero data files opened.
    * Vacuumed versions are absent by construction (their manifests are
    * pruned with their files).
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("last_batch_id", LongType, nullable = false),
      StructField("n_buckets", IntegerType, nullable = false),
      StructField("n_rows", LongType, nullable = true),
      StructField("commit_ts", TimestampType, nullable = false)))
    val cur = readManifest(spark, dir).map(_.version).getOrElse(
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    val (fs, hPath) = fsOf(spark, dir)
    val rows = fs.listStatus(hPath).toSeq.flatMap { st =>
      st.getPath.getName match {
        case VersionedManifestRe(vs) if vs.toLong <= cur =>
          val m = readListed(spark, st.getPath)
          val live = m.buckets.keys.toSeq
          val nRows =
            if (live.forall(m.stats.contains))
              java.lang.Long.valueOf(live.flatMap(m.stats.get).map(_.rows).sum)
            else null
          Some(org.apache.spark.sql.Row(m.version, m.lastBatchId,
            m.buckets.size, nRows,
            new java.sql.Timestamp(st.getModificationTime)))
        case _ => None
      }
    }.sortBy(_.getLong(0))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** One-call operational upkeep (the OPTIMIZE+VACUUM maintenance job a
    * real deployment schedules): compact any bucket above
    * `maxFilesPerBucket` (clustered when `sortCols` given), then vacuum
    * past the retention horizon. Returns (buckets compacted, manifest/file
    * items vacuumed).
    */
  def maintain(spark: SparkSession, dir: String, maxFilesPerBucket: Int = 4,
      sortCols: Seq[String] = Nil): (Int, Int) = {
    val compacted = compact(spark, dir, maxFilesPerBucket, sortCols)
    val vacuumed = vacuum(spark, dir)
    (compacted, vacuumed)
  }

  /** METADATA-ONLY aggregate: total rows plus, for every column with
    * complete stats coverage (present in EVERY non-empty bucket's stats),
    * the global min/max/null-count — folded from the manifest on the
    * driver, zero data files opened. One row; min/max typed back to the
    * column's own type. Columns with partial coverage (schema evolution,
    * statsCols changes) are omitted rather than answered wrong.
    */
  def statsSummary(spark: SparkSession, dir: String): DataFrame = {
    val m = requireManifest(spark, dir)
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val live = m.buckets.keys.toSeq.sorted
    val stats = live.flatMap(m.stats.get)
    // full coverage means EVERY live bucket has a stats entry — a bucket
    // with no BucketStats at all (manifest written before stats landed)
    // must disqualify column extremes exactly as it does totalRows;
    // checking only buckets that HAVE stats would answer min/max wrong
    val fullCoverage = live.forall(m.stats.contains)
    val totalRows = if (fullCoverage) Some(stats.map(_.rows).sum) else None
    val covered =
      if (!fullCoverage) Nil
      else stats.flatMap(_.cols.keys).distinct.sorted
        .filter(c => stats.forall(_.cols.contains(c)))
        .filter(c => m.schema.exists(_.name == c))
    val fold = covered.map { c =>
      val dt = m.schema.find(_.name == c).get.dataType
      val cs = stats.map(_.cols(c))
      // pick argmin/argmax by INTERNAL comparison, but keep the TRANSPORT
      // string — the literal rebuild below goes through the same cast every
      // read path uses, so Date/NTZ/Decimal round-trip exactly
      def pick(vals: Seq[String], wantMin: Boolean): Option[String] =
        vals.map(s => s -> fromTransport(s, dt, zone)) match {
          case Seq() => None
          case pairs => Some(pairs.reduce { (a, b) =>
            val c0 = cmp(dt, a._2, b._2)
            if ((wantMin && c0 <= 0) || (!wantMin && c0 >= 0)) a else b
          }._1)
        }
      (c, dt, pick(cs.flatMap(_.min), wantMin = true),
        pick(cs.flatMap(_.max), wantMin = false), cs.map(_.nulls).sum)
    }
    // one literal row, typed through the same transport casts
    val cols =
      totalRows.map(lit(_)).getOrElse(lit(null)).cast("long").as("rows") +:
        fold.flatMap { case (c, dt, mn, mx, nulls) =>
          def typed(v: Option[String]): org.apache.spark.sql.Column = dt match {
            case org.apache.spark.sql.types.TimestampType =>
              v.map(s => timestamp_micros(lit(s.toLong)))
                .getOrElse(lit(null).cast(dt))
            case _ =>
              v.map(s => lit(s).cast(dt)).getOrElse(lit(null).cast(dt))
          }
          Seq(typed(mn).as(s"min_$c"), typed(mx).as(s"max_$c"),
            lit(nulls).as(s"nulls_$c"))
        }
    spark.range(1).select(cols: _*)
  }

  /** Current state snapshot as the manifest names it (bucket column kept).
    *
    * Scale note: the read takes its schema from the manifest, so planning
    * it opens no data file and runs no job; listing the live bucket
    * directories is its only plan-time IO. An empty state (first batch all
    * tombstones, or every key later deleted) reconstructs a zero-row
    * relation from the manifest schema — a partitioned write of zero rows
    * emits no files at all.
    */
  private[cdc] def readState(spark: SparkSession, dir: String): DataFrame = {
    val m = requireManifest(spark, dir)
    if (m.buckets.isEmpty) emptyFromSchema(spark, m)
    else readBuckets(spark, dir, m, m.buckets.keys.toSeq)
  }

  /** Current materialized state (bucket column dropped). */
  def read(spark: SparkSession, dir: String): DataFrame =
    readState(spark, dir).drop("_bucket")
}
