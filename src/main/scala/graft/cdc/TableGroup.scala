package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}

/** ATOMIC MULTI-TABLE COMMIT: a consistent cross-table snapshot protocol
  * over [[MaterializedTable]]s — the serving-side answer to the reference's
  * transaction bracketing (frame assembly emits BEGIN/…/COMMIT batches
  * whose rows span several tables; a consumer must see all of a
  * transaction's tables advance together or none — kafka/bottledwater.c's
  * progress-only-on-full-ack discipline lifted from one topic to a group).
  *
  * == Protocol ==
  *
  * {{{
  *   rootDir/_graft_group.json   # THE group commit point (atomic rename)
  *   rootDir/<table>/…           # each member a MaterializedTable
  * }}}
  *
  * A group commit merges every member table (each merge is itself
  * batch-id-guarded and atomic), then swaps ONE root manifest recording
  * {table → committed version} plus the group batch watermark. Group
  * readers resolve exclusively through the root: [[read]] serves table T
  * at the root-pinned version via [[MaterializedTable.readVersion]].
  *
  * Crash anywhere between the first member merge and the root swap leaves
  * group readers on the PREVIOUS root — a fully consistent older snapshot
  * (member tables may individually be ahead; that is invisible through the
  * group face). A retry of the same batch id re-runs only the member
  * merges that did not land (each is independently watermark-guarded) and
  * then swaps the root — convergence without double folds. A retry at or
  * below the ROOT watermark is a whole-group no-op.
  *
  * Version retention: the root may lag a member table by one commit (the
  * crash window), and group readers need the root-pinned versions to stay
  * materialized — so group commits REQUIRE
  * `spark.graft.materialized.retainVersions ≥ 2` (current + one lag;
  * per-table GC then defers to [[MaterializedTable.vacuum]], whose
  * retention horizon covers the lag). One writer per group is the intended
  * deployment (the reference's one-slot-one-producer rule), but since r12
  * it is ENFORCED, not assumed: member merges are optimistic-concurrency
  * commits and the root swap is a locked compare-and-swap on the
  * watermark, so concurrent writers either serialize cleanly or fail
  * loudly ([[MaterializedTable.ConcurrentCommitException]]) — never a
  * silent lost commit or a root regression.
  *
  * Scale: the root manifest is O(tables) JSON — commit cost is the member
  * merges themselves (each O(touched buckets)); the group adds exactly one
  * driver-side rename.
  */
object TableGroup {

  private val rootFile = "_graft_group.json"

  /** One member table's batch: name, changelog rows, and its key columns
    * (order columns are shared group-wide — one changelog clock).
    */
  final case class TableBatch(name: String, rows: DataFrame, keyCols: Seq[String])

  /** The group root: the batch watermark plus {table → pinned version}. */
  private[graft] final case class GroupManifest(
      lastBatchId: Long, tables: Map[String, Long]) {
    /** Canonical JSON: field order fixed, tables sorted by name. The root
      * file holds exactly these bytes, and graft-group-cdf offsets are
      * these strings (offset equality is string equality).
      */
    def json: String = {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = om.createObjectNode()
      node.put("lastBatchId", lastBatchId)
      val tn = node.putObject("tables")
      tables.toSeq.sortBy(_._1).foreach { case (t, v) => tn.put(t, v) }
      om.writeValueAsString(node)
    }
  }

  private[graft] object GroupManifest {
    def parse(json: String): GroupManifest = {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      val tables = scala.collection.mutable.Map.empty[String, Long]
      val it = root.get("tables").properties().iterator()
      while (it.hasNext) {
        val e = it.next()
        tables(e.getKey) = e.getValue.asLong()
      }
      GroupManifest(root.get("lastBatchId").asLong(), tables.toMap)
    }
  }

  private def rootPath(rootDir: String) =
    new org.apache.hadoop.fs.Path(rootDir, rootFile)

  private def lockPath(rootDir: String) =
    new org.apache.hadoop.fs.Path(rootDir, "_graft_group.lock")

  /** The committed root, or None before the first group commit. The root is
    * only ever replaced atomically ([[MetaFile]]), so a poller racing a
    * commit (the graft-group-cdf source's getOffset) sees the old root or
    * the new one, never a gap.
    */
  private[graft] def readRoot(spark: SparkSession, rootDir: String)
      : Option[GroupManifest] =
    MetaFile.read(spark, rootPath(rootDir)).map(GroupManifest.parse)

  private def writeRoot(spark: SparkSession, rootDir: String,
      g: GroupManifest): Unit =
    MetaFile.replace(spark, rootPath(rootDir), g.json)

  /** Commit one transaction's batches across all member tables, atomically
    * from the group reader's perspective. Returns the number of member
    * merges that actually folded rows (0 = whole-group replay no-op).
    */
  def commit(spark: SparkSession, rootDir: String, batches: Seq[TableBatch],
      orderCols: Seq[String], batchId: Long, opCol: String = "op",
      numBuckets: Int = 64, statsCols: Seq[String] = Nil): Int = {
    require(MaterializedTable.retainVersions(spark) >= 2,
      "group commits need spark.graft.materialized.retainVersions >= 2 " +
        "(current + one crash-lag commit) so root-pinned snapshots survive " +
        "per-table GC until vacuum()")
    require(batches.map(_.name).distinct.size == batches.size,
      "duplicate table names in one group commit")
    val prior = readRoot(spark, rootDir)
    if (prior.exists(_.lastBatchId >= batchId)) return 0
    // Member merges run CONCURRENTLY ([[Parallel]]: one member's write
    // tail back-fills the executors the other's driver think-time leaves
    // idle). Safe because members are disjoint table dirs whose merges
    // commute, and each is itself batch-id-guarded: a crashed group retry
    // re-runs ONLY the members that did not land, in any order. Results
    // come back in sorted-name order, so the root swap below is
    // byte-identical to a sequential commit.
    val sorted = batches.sortBy(_.name)
    val results = Parallel.all(spark, sorted.map { tb => () =>
      MaterializedTable.merge(spark, s"$rootDir/${tb.name}", tb.rows,
        tb.keyCols, orderCols, opCol, numBuckets,
        batchId = Some(batchId), statsCols)
    })
    val folded = results.count(_ > 0)
    val versions = sorted.map { tb =>
      val dir = s"$rootDir/${tb.name}"
      tb.name -> MaterializedTable.readManifest(spark, dir).map(_.version)
        .getOrElse(throw new IllegalStateException(
          s"member ${tb.name} has no manifest after merge"))
    }
    // THE group commit point. Root swaps serialize through a short claim
    // lock, and the watermark re-check inside it makes the swap a
    // compare-and-swap on lastBatchId: a slower DUPLICATE writer (same or
    // lower batch id) re-reads the newer root and no-ops instead of
    // overwriting it with an OLDER root — the multi-writer analog of the
    // reference's one-slot-one-producer rule (client/replication.c:45-93),
    // made safe instead of assumed. Member-table merges are individually
    // OCC-guarded (MaterializedTable.ConcurrentCommitException), so two
    // writers can never corrupt a member either.
    withRootLock(spark, rootDir) { fence =>
      val now = readRoot(spark, rootDir)
      if (now.exists(_.lastBatchId >= batchId)) 0
      else {
        // tables absent from this batch keep their pinned version from the
        // FRESHEST root — a concurrent commit of a disjoint member set must
        // not be un-pinned by this swap
        val carried = now.map(_.tables).getOrElse(Map.empty) -- versions.map(_._1)
        fence() // still our lock? (guards recover() against live writers)
        writeRoot(spark, rootDir, GroupManifest(batchId, carried ++ versions))
        folded
      }
    }
  }

  /** Serialize root swaps: atomic exclusive-create of a lock file
    * ([[MetaFile.createExclusive]]) around the
    * read-check-rename critical section (held for milliseconds — one JSON
    * read + one rename). A lock held through the WHOLE wait window means
    * its holder crashed mid-swap; that surfaces as
    * [[MaterializedTable.StaleCommitClaimException]] and recovery is the
    * explicit [[recover]] — never an in-line lock break, which would be an
    * unfenced lease steal against a merely-slow live holder.
    */
  private def withRootLock[A](spark: SparkSession, rootDir: String)(
      f: (() => Unit) => A): A = {
    val lock = lockPath(rootDir)
    val token = java.util.UUID.randomUUID().toString
    val waitMs = 5L * MaterializedTable.claimGraceMs(spark)
    val deadline = System.nanoTime() + waitMs * 1000000L
    while (!MetaFile.createExclusive(spark, lock, token)) {
      if (System.nanoTime() > deadline)
        throw new MaterializedTable.StaleCommitClaimException(
          s"group root lock at $rootDir stayed held through the whole " +
            s"$waitMs ms wait — its holder crashed mid-swap; stop writers " +
            "and run TableGroup.recover(rootDir)")
      Thread.sleep(20L)
    }
    // the fence: is the lock still OURS? A recover() run against live
    // writers (operator error) deletes the live lock and admits a second
    // writer — calling this immediately before the root rename turns that
    // into a loud abort instead of two concurrent swaps (the same token
    // discipline as MaterializedTable's claim fence).
    val fence: () => Unit = () => {
      val held =
        try MetaFile.read(spark, lock).contains(token)
        catch { case _: java.io.IOException => false }
      if (!held)
        throw new MaterializedTable.ConcurrentCommitException(
          s"group root lock at $rootDir was recovered away mid-commit " +
            "(recover() ran against live writers) — nothing swapped; retry")
    }
    // Release ONLY our own lock: if fence() threw because a misused
    // recover() deleted this lock and a second writer re-acquired it, an
    // unconditional delete here would release that OTHER writer's live lock
    // and admit a third writer mid-swap — re-read and compare tokens first
    // (the same ownership discipline as MaterializedTable.commitStaged).
    // The re-read is FNF-aware: only a MISSING lock proves it is not ours
    // (recovered away — and a second writer can only hold it after such a
    // window). On TRANSIENT read errors, retry with a short backoff; if the
    // lock is STILL unreadable, leave it in place and log loudly rather
    // than delete-on-doubt: deleting an UNVERIFIED lock in the exact window
    // the token check exists for (recover() misused against live writers,
    // a second writer re-acquired) would release the OTHER writer's live
    // lock and admit a third writer mid-swap. A wedged group is recoverable
    // (recover()); an unverified delete is not.
    try f(fence) finally {
      val attempts = 4
      var verdict: Option[Boolean] = None // Some(ours?) once a read lands
      var i = 0
      while (verdict.isEmpty && i < attempts) {
        try verdict = Some(MetaFile.read(spark, lock).contains(token))
        catch {
          case _: java.io.IOException =>
            i += 1
            if (i < attempts) Thread.sleep(100L * i)
        }
      }
      verdict match {
        case Some(true)  =>
          lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(lock, false)
        case Some(false) => // recovered away / re-acquired — not ours to touch
        case None =>
          log.warn(s"group root lock at $lock unreadable after $attempts " +
            "attempts — NOT deleting (ownership unverified). If this " +
            "writer held the lock the group is wedged until " +
            "TableGroup.recover(rootDir) is run with all writers stopped.")
      }
    }
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Clear a crashed group writer's debris: the root lock. Member-table
    * claims recover via [[MaterializedTable.recover]] per member. An
    * explicit operator action — stop all group writers first.
    */
  def recover(spark: SparkSession, rootDir: String): Int = {
    val lock = lockPath(rootDir)
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(lock) && fs.delete(lock, false)) 1 else 0
  }

  /** Member table `table` AT THE GROUP-COMMITTED SNAPSHOT — never a version
    * the root has not pinned, regardless of how far the member's own
    * manifest has advanced (the crash window's partial progress is
    * invisible here).
    */
  def read(spark: SparkSession, rootDir: String, table: String): DataFrame = {
    val g = readRoot(spark, rootDir).getOrElse(
      throw new IllegalArgumentException(s"no group commit at $rootDir"))
    val v = g.tables.getOrElse(table,
      throw new IllegalArgumentException(
        s"table $table is not a member of the group at $rootDir " +
          s"(members: ${g.tables.keys.toSeq.sorted.mkString(", ")})"))
    MaterializedTable.readVersion(spark, s"$rootDir/$table", v)
  }

  /** Member names in the current group commit. */
  def tables(spark: SparkSession, rootDir: String): Seq[String] =
    readRoot(spark, rootDir).map(_.tables.keys.toSeq.sorted).getOrElse(Nil)

  /** Group-safe GC: [[MaterializedTable.vacuum]] on every member, after
    * proving the retention horizon cannot prune a ROOT-PINNED snapshot —
    * vacuuming a member below its pin would break every group reader, so
    * that is a refusal, not a warning. Returns files/dirs removed.
    */
  def vacuum(spark: SparkSession, rootDir: String): Int = {
    val g = readRoot(spark, rootDir).getOrElse(return 0)
    val retain = MaterializedTable.retainVersions(spark)
    g.tables.toSeq.sortBy(_._1).map { case (t, pinned) =>
      val dir = s"$rootDir/$t"
      val cur = readManifestVersion(spark, dir)
      require(pinned > cur - retain,
        s"vacuum would prune $t@v$pinned (root-pinned; member at v$cur, " +
          s"retainVersions=$retain) — raise the retention window first")
      MaterializedTable.vacuum(spark, dir)
    }.sum
  }

  private def readManifestVersion(spark: SparkSession, dir: String): Long =
    MaterializedTable.readManifest(spark, dir).map(_.version).getOrElse(
      throw new IllegalStateException(s"group member without manifest: $dir"))
}
