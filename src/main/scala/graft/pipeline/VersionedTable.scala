package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned parquet table with ATOMIC publish, time travel, and
  * vacuum. A publish never touches existing data, so readers keep
  * scanning the version they resolved for as long as vacuum retention
  * allows.
  *
  * Layout (multi-writer-safe and rename-free):
  *
  *   - `table/_v/<zero-padded version>/` — parquet snapshots; a
  *     snapshot counts as COMMITTED when its writer's `_SUCCESS`
  *     marker exists.
  *   - `table/_v/<version>.claim` — writer serialization: a publisher
  *     CLAIMS its version number with an atomic create-if-absent
  *     (`FileSystem.create(overwrite = false)` — O_EXCL on POSIX,
  *     namenode-atomic on HDFS, a conditional put on object stores).
  *     The loser's create throws, and it retries at the next number —
  *     two concurrent publishers serialize instead of silently
  *     clobbering one another's snapshot. Only the claim winner ever
  *     writes the version directory.
  *   - `table/_ptr/<version>` — the PUBLICATION record, one immutable
  *     empty file per published version, committed with the same
  *     atomic create-if-absent. No rename, no delete, no overwrite
  *     anywhere on the publish path: object stores do not provide an
  *     atomic rename, and a create-exclusive marker is the
  *     conditional-put-style commit that holds there too. The current
  *     version is simply the MAX marker — monotone under any writer
  *     interleaving by construction.
  *
  * Resolution: if the max `_ptr` marker's version directory carries
  * `_SUCCESS`, serve it — one small-dir listing, no scan of the
  * version root. Fall back to "highest version directory whose
  * `_SUCCESS` exists" only when the markers are missing or name a
  * vacuumed version. Every crash window self-heals:
  *   - crash while writing version N (no `_SUCCESS`): the dir is
  *     invisible to resolution; N's claim is burned and the retry
  *     publishes N+1 — version numbers may have gaps, which no
  *     consumer depends on;
  *   - crash between the data commit and the marker write: the
  *     snapshot is committed but unpublished — readers keep serving
  *     the previous published version (a consistent snapshot), and
  *     the orphan surfaces only in `versions()` / time travel.
  *
  * Readers pay one `_ptr` listing (pruned by vacuum) — at 100 TB that
  * is the metadata price that buys lock-free snapshot isolation
  * between ANY number of writers and readers; vacuum is the only
  * operation that deletes anything, never touches the current
  * version, and drops a version's marker BEFORE its data so the fast
  * path can never resolve to deleted files.
  */
object VersionedTable {

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def vRoot(tableDir: String): Path = new Path(tableDir, "_v")

  private def ptrRoot(tableDir: String): Path = new Path(tableDir, "_ptr")

  private def vDir(tableDir: String, v: Long): Path =
    new Path(vRoot(tableDir), f"$v%012d")

  private def claim(tableDir: String, v: Long): Path =
    new Path(vRoot(tableDir), f"$v%012d.claim")

  private def committed(fs: FileSystem, tableDir: String, v: Long): Boolean =
    fs.exists(new Path(vDir(tableDir, v), "_SUCCESS"))

  /** Complete (committed) versions, ascending. */
  def versions(spark: SparkSession, tableDir: String): Seq[Long] = {
    val fs = fsOf(spark, tableDir)
    val root = vRoot(tableDir)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory &&
        fs.exists(new Path(s.getPath, "_SUCCESS")))
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      .sorted
  }

  /** Highest `_ptr` publication marker, if any. */
  private def markerVersion(fs: FileSystem, tableDir: String): Option[Long] = {
    val root = ptrRoot(tableDir)
    if (!fs.exists(root)) None
    else fs.listStatus(root).toSeq
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      .maxOption
  }

  /** The live version: the max marker when that version's directory
    * is committed; otherwise (markers absent or vacuumed) the max
    * committed version. None when nothing was ever committed. */
  def currentVersion(spark: SparkSession, tableDir: String): Option[Long] = {
    val fs = fsOf(spark, tableDir)
    markerVersion(fs, tableDir).filter(committed(fs, tableDir, _)) match {
      case some @ Some(_) => some
      case None => versions(spark, tableDir).maxOption
    }
  }

  /** Snapshot-read the current version; None before the first publish. */
  def read(spark: SparkSession, tableDir: String): Option[DataFrame] =
    currentVersion(spark, tableDir)
      .map(v => spark.read.parquet(vDir(tableDir, v).toString))

  /** Time travel: read an explicit committed version. */
  def readVersion(spark: SparkSession, tableDir: String, v: Long): DataFrame = {
    require(versions(spark, tableDir).contains(v),
      s"version $v is not committed in $tableDir")
    spark.read.parquet(vDir(tableDir, v).toString)
  }

  /** Create-if-absent of an empty marker file — false when the path
    * already exists (someone else holds it). Atomicity is the
    * FileSystem's `create(overwrite = false)` contract:
    * namenode-atomic on HDFS, a conditional put on object-store
    * connectors that support preconditions; RawLocalFileSystem
    * approximates with an exists-then-create pair, which is exact for
    * the single-process multi-threaded local case the specs drive. */
  private def createExclusive(fs: FileSystem, p: Path): Boolean =
    if (fs.getScheme == "file") {
      // Hadoop's local FS approximates create(overwrite = false) with
      // a non-atomic exists-then-create pair; java.nio CREATE_NEW is
      // O_EXCL, closing the TOCTOU window two same-box publishers race
      try {
        val _ = java.nio.file.Files.createFile(
          java.nio.file.Paths.get(p.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else
      try { fs.create(p, false).close(); true }
      catch {
        case e: java.io.IOException =>
          if (fs.exists(p)) false // lost the race — the holder committed
          else throw e
      }

  /** Publish `df` as the next version. Existing data is never
    * touched; concurrent publishers serialize on the version claim
    * (loser retries at the next number); the publication commit is a
    * rename-free conditional put. Returns the published version.
    *
    * SEMANTICS: whole-table REPLACE. Concurrent blind publishers are
    * safe against each other (no clobbered snapshots, monotone
    * pointer) but the LAST marker wins — which is the correct outcome
    * for replacement. A read-modify-write (read current → merge →
    * publish) must NOT ride this method: two RMW writers both basing
    * on version N would publish N+1 and N+2 with the earlier merge
    * silently dropped. RMW goes through [[publishRmw]], whose claim
    * protocol linearizes the merges. */
  def publish(df: DataFrame, tableDir: String): Long = {
    val spark = df.sparkSession
    val fs = fsOf(spark, tableDir)
    fs.mkdirs(vRoot(tableDir))
    var v = currentVersion(spark, tableDir).getOrElse(0L) + 1L
    while (!createExclusive(fs, claim(tableDir, v))) v += 1L
    // only this claim's winner ever writes this directory
    df.write.mode("overwrite").parquet(vDir(tableDir, v).toString)
    fs.mkdirs(ptrRoot(tableDir))
    // the marker may only collide with itself (claim is exclusive);
    // treat an existing marker as already-published
    createExclusive(fs, new Path(ptrRoot(tableDir), f"$v%012d")): Unit
    v
  }

  /** How [[publishRmw]] treats a claimed-but-unpublished version
    * number sitting at base+1. */
  sealed trait ClaimPolicy
  object ClaimPolicy {
    /** Claim EXACTLY base+1 or wait: full multi-writer linearization.
      * An ABANDONED claim (a writer crashed between claiming and
      * committing) wedges RMW at that number — after the wedge
      * timeout a NAMED error is thrown rather than silently degrading
      * to last-published-wins, because the protocol cannot
      * distinguish a dead contender from a slow one and losing the
      * slow one's merge is the outcome this method exists to prevent.
      * Recovery is deleting the stale `.claim` file (the error names
      * it). */
    case object Linearized extends ClaimPolicy
    /** Skip past burned numbers (claim the next free one), with a
      * post-claim base re-validation. SAFE ONLY UNDER A SINGLE WRITER
      * PER TABLE — the streaming sinks' contract (a query's batches
      * are serial, so any burned claim is the writer's own crash
      * debris and skipping it cannot shadow anyone's merge). Under
      * genuinely concurrent writers this policy leaves a window
      * (contender claimed, not yet published) where a merge can be
      * shadowed; use [[Linearized]] there. */
    case object SkipBurned extends ClaimPolicy
  }

  /** Read-modify-write publish with OPTIMISTIC concurrency: `merge`
    * receives the current snapshot (None before the first publish)
    * and returns the next state; blind [[publish]] must never carry an
    * RMW, because two writers basing on version N would publish N+1
    * and N+2 with the earlier merge silently dropped. Under
    * [[ClaimPolicy.Linearized]] the claim is the linearization point:
    * base is published (it was current) and the claim for base+1 is
    * exclusive, so the winner's merge provably based on the immediate
    * predecessor — no interleaved merge can vanish; a loser waits for
    * the contender's publication, re-reads, re-merges, and retries at
    * the new head. Every policy re-validates after winning its claim
    * that the head has not moved past the merge's base, abandoning
    * the claim and rebasing if it has.
    *
    * Retention caveat: `merge`'s input plan scans the base version's
    * files lazily — a concurrent [[vacuum]] must keep enough versions
    * to cover the longest in-flight RMW (same horizon rule as any
    * concurrent reader).
    *
    * WAIT-BOUND SEMANTICS: `wedgeTimeoutMs` bounds STALLED time
    * only — it resets on every head advance, so under sustained LIVE
    * contention (the head keeps moving but this writer keeps losing
    * the claim race) total wait is UNBOUNDED BY
    * DESIGN: every reset is the protocol making progress, and the
    * merge will land once a claim is won. Callers that need a bounded
    * publish latency pass `totalBudgetMs`; exhausting it throws a
    * 'live contention' error — NAMED DISTINCTLY from the
    * abandoned-claim wedge, because its recovery is back-off/retry
    * (or sharding writers), never deleting a contender's claim
    * file. */
  def publishRmw(spark: SparkSession, tableDir: String,
      wedgeTimeoutMs: Long = 30000L,
      policy: ClaimPolicy = ClaimPolicy.Linearized,
      totalBudgetMs: Option[Long] = None)
      (merge: Option[DataFrame] => DataFrame): Long = {
    val fs = fsOf(spark, tableDir)
    fs.mkdirs(vRoot(tableDir))
    // The wedge deadline measures STALLED time, not total time: it
    // resets whenever the head advances — a loser that rebases
    // several times under sustained live contention is making the
    // protocol's intended progress, and
    // burning a shared whole-call budget would throw the misleading
    // "abandoned claim?" error at a perfectly live contender,
    // directing the operator to delete a claim that is in use. Only
    // wedgeTimeoutMs with NO head movement is a wedge.
    var deadline = System.nanoTime() + wedgeTimeoutMs * 1000000L
    // the optional whole-call ceiling, independent of the stall clock
    val budgetDeadline =
      totalBudgetMs.map(ms => System.nanoTime() + ms * 1000000L)
    // rebase count: the budget-exhausted error may only claim "live
    // contention / the head kept advancing" when this writer actually
    // lost at least one race (with a tiny budget the first attempt can
    // expire before any race happened)
    var rebases = 0
    // When the budget expires mid-wait on a contender's claimed-but-
    // unpublished version, the writer DID lose a createExclusive race
    // even though rebases is still 0. Track the version being waited
    // on so the budget error can name the true state and its recovery
    // (deleting the claim file if its writer is dead).
    var waitingOn: Option[Long] = None
    @scala.annotation.tailrec
    def attempt(): Long = {
      if (budgetDeadline.exists(System.nanoTime() >= _))
        throw new java.io.IOException(
          if (rebases > 0)
            s"RMW publish over budget: live contention on $tableDir " +
              s"exhausted totalBudgetMs=${totalBudgetMs.get} after " +
              s"$rebases lost claim race(s) (the head kept advancing)" +
              waitingOn.fold(". The table is HEALTHY — do not delete " +
                "claim files; back off and retry, or shard writers.")(n =>
                s", last while waiting on claimed-but-unpublished " +
                  s"version $n. If that claim never publishes it is a " +
                  s"wedge: verify the writer is dead, then delete " +
                  s"${claim(tableDir, n)} to recover; otherwise back " +
                  "off and retry, or shard writers.")
          else waitingOn match {
            case Some(n) =>
              s"RMW publish over budget: totalBudgetMs=" +
                s"${totalBudgetMs.get} expired on $tableDir while " +
                s"waiting on claimed-but-unpublished version $n — a " +
                "live contender mid-publish, or an abandoned claim " +
                "after a writer crash. If it never publishes, verify " +
                "the writer is dead, then delete " +
                s"${claim(tableDir, n)} to recover."
            case None =>
              s"RMW publish over budget: totalBudgetMs=" +
                s"${totalBudgetMs.get} expired on $tableDir before " +
                "any claim was attempted or lost — the budget is " +
                "smaller than one attempt's read-merge-write; raise " +
                "it. Do not delete claim files."
          })
      waitingOn = None
      val base = currentVersion(spark, tableDir)
      var next = base.getOrElse(0L) + 1L
      var won = createExclusive(fs, claim(tableDir, next))
      if (!won && policy == ClaimPolicy.SkipBurned) {
        // single-writer contract: a held claim at base+1 is our own
        // crash debris (or a later number's, likewise), never a live
        // contender — skip to the next free number
        while (!won) {
          next += 1L
          won = createExclusive(fs, claim(tableDir, next))
        }
      }
      if (won && currentVersion(spark, tableDir) != base) {
        // the head moved between our read and our claim: this claim's
        // number is burned and the merge must rebase — progress
        rebases += 1
        deadline = System.nanoTime() + wedgeTimeoutMs * 1000000L
        attempt()
      } else if (won) {
        val baseDf = base.map(v =>
          spark.read.parquet(vDir(tableDir, v).toString))
        merge(baseDf).write.mode("overwrite")
          .parquet(vDir(tableDir, next).toString)
        fs.mkdirs(ptrRoot(tableDir))
        createExclusive(fs, new Path(ptrRoot(tableDir), f"$next%012d")): Unit
        next
      } else {
        // Linearized: base+1 is claimed by a live contender (rebase
        // once it publishes) or by a crashed one (wedge — refuse and
        // name it; see ClaimPolicy.Linearized)
        var advanced = currentVersion(spark, tableDir).exists(_ >= next)
        // the wait is bounded by BOTH clocks (checking the budget only
        // at attempt() entry would let a call overshoot totalBudgetMs
        // by up to a full wedgeTimeoutMs spent asleep here) — on budget
        // expiry the loop exits and the entry check throws the budget
        // error, not the wedge one
        def waitDeadline: Long =
          budgetDeadline.fold(deadline)(math.min(deadline, _))
        waitingOn = Some(next)
        while (!advanced && System.nanoTime() < waitDeadline) {
          Thread.sleep(20)
          advanced = currentVersion(spark, tableDir).exists(_ >= next)
        }
        if (!advanced && budgetDeadline.forall(System.nanoTime() < _))
          throw new java.io.IOException(
          s"RMW publish wedged: version $next of $tableDir is claimed " +
            "but unpublished (abandoned claim after a writer crash?); " +
            "refusing last-published-wins. Delete " +
            s"${claim(tableDir, next)} to recover.")
        // the contender published (a lost race — counts as a rebase)
        // or the budget expired mid-wait (attempt()'s entry check
        // throws the budget error); head movement resets the stall clock
        if (advanced) rebases += 1
        deadline = System.nanoTime() + wedgeTimeoutMs * 1000000L
        attempt()
      }
    }
    attempt()
  }

  /** Drop all committed versions except the newest `keep`; the
    * CURRENT (published) version always survives even when an
    * unpublished newer orphan exists. Markers drop BEFORE data so the
    * fast path never resolves onto deleted files. Returns dropped
    * versions. */
  def vacuum(spark: SparkSession, tableDir: String, keep: Int): Seq[Long] = {
    require(keep >= 1, "must keep at least the current version")
    val fs = fsOf(spark, tableDir)
    val complete = versions(spark, tableDir)
    val current = currentVersion(spark, tableDir).getOrElse(Long.MaxValue)
    val drop = complete.dropRight(keep).filter(_ < current)
    drop.foreach { v =>
      fs.delete(new Path(ptrRoot(tableDir), f"$v%012d"), false)
      fs.delete(claim(tableDir, v), false)
      fs.delete(vDir(tableDir, v), true)
    }
    drop
  }
}
