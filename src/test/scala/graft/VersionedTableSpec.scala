package graft

import java.io.File

import org.apache.hadoop.fs.Path

import graft.pipeline.VersionedTable

/** A local filesystem that RECORDS every rename it is asked to
  * perform — the shim behind the object-store-safety test: a publish
  * protocol is rename-free exactly when every rename observed during
  * it belongs to Spark's file committer INSIDE the version directory
  * being written (which an object-store deployment swaps for a
  * manifest committer), never to the table's commit metadata. Must be
  * top-level with a no-arg constructor — Hadoop instantiates it
  * reflectively from `fs.audit.impl`. */
class RenameAuditFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "audit"
  override def getUri: java.net.URI = java.net.URI.create("audit:///")
  override def rename(src: Path, dst: Path): Boolean = {
    RenameAuditFs.renames.add(src.toString -> dst.toString): Unit
    super.rename(src, dst)
  }
}

object RenameAuditFs {
  val renames =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
}

/** [[VersionedTable]] — atomic pointer publish, time travel, vacuum,
  * and the full crash matrix (every window self-heals because the
  * source of truth is "max version directory with _SUCCESS", the
  * pointer being only an optimization). */
class VersionedTableSpec extends SparkSuite {

  private val root = {
    val dir = new File("target/test-fixtures/versionedtable")
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(dir); dir.mkdirs()
    dir.getPath
  }

  private def df(xs: (Long, String)*) = {
    import spark.implicits._
    xs.toDF("k", "v")
  }

  private def readMap(d: org.apache.spark.sql.DataFrame) =
    d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("publish/read/time-travel: each version is an immutable snapshot") {
    val t = s"$root/t1"
    assert(VersionedTable.read(spark, t).isEmpty)
    assert(VersionedTable.publish(df(1L -> "a"), t) === 1L)
    assert(VersionedTable.publish(df(1L -> "a2", 2L -> "b"), t) === 2L)
    assert(VersionedTable.publish(df(2L -> "b"), t) === 3L)
    assert(VersionedTable.versions(spark, t) === Seq(1L, 2L, 3L))
    assert(readMap(VersionedTable.read(spark, t).get) === Map(2L -> "b"))
    assert(readMap(VersionedTable.readVersion(spark, t, 1)) === Map(1L -> "a"))
    assert(readMap(VersionedTable.readVersion(spark, t, 2)) ===
      Map(1L -> "a2", 2L -> "b"))
    intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, t, 99)
    }
  }

  test("crash matrix: incomplete version invisible; committed-but-" +
      "unpublished orphan stays invisible; torn pointer falls back") {
    val t = s"$root/t2"
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    VersionedTable.publish(df(1L -> "a"), t)
    VersionedTable.publish(df(1L -> "b"), t)

    // window 1 — crash while writing version 3 (claim taken, dir has
    // junk, no _SUCCESS): invisible to both resolution paths
    val v3 = new Path(s"$t/_v/000000000003")
    fs.create(new Path(s"$t/_v/000000000003.claim"), true).close()
    fs.mkdirs(v3)
    val junk = fs.create(new Path(v3, "part-00000.parquet"))
    junk.write(Array[Byte](9, 9)); junk.close()
    assert(VersionedTable.versions(spark, t) === Seq(1L, 2L))
    assert(readMap(VersionedTable.read(spark, t).get) === Map(1L -> "b"))
    // the retry cannot reuse the burned claim — it lands at 4
    assert(VersionedTable.publish(df(1L -> "c"), t) === 4L)
    assert(readMap(VersionedTable.read(spark, t).get) === Map(1L -> "c"))

    // window 2 — crash between the data commit and the marker write:
    // version 5 claimed + committed but never published. Readers keep
    // serving the last PUBLISHED version (consistent snapshot
    // semantics); the orphan stays
    // reachable via versions()/time travel; the next publish lands
    // above it.
    fs.create(new Path(s"$t/_v/000000000005.claim"), true).close()
    df(1L -> "d").write.mode("overwrite").parquet(s"$t/_v/000000000005")
    assert(VersionedTable.versions(spark, t) === Seq(1L, 2L, 4L, 5L))
    assert(readMap(VersionedTable.read(spark, t).get) === Map(1L -> "c"),
      "an unpublished orphan must not become current")
    assert(readMap(VersionedTable.readVersion(spark, t, 5)) === Map(1L -> "d"))
    assert(VersionedTable.publish(df(1L -> "e"), t) === 6L)
    assert(readMap(VersionedTable.read(spark, t).get) === Map(1L -> "e"))

    // window 3 — markers absent entirely: fall back to the
    // max-committed scan
    fs.delete(new Path(s"$t/_ptr"), true)
    assert(readMap(VersionedTable.read(spark, t).get) === Map(1L -> "e"))
  }

  test("two concurrent publishers serialize on the version claim: " +
      "both snapshots survive, distinct versions, loser retries up") {
    val t = s"$root/t6"
    VersionedTable.publish(df(1L -> "base"), t)
    // deterministic loser path: the next version number is pre-claimed
    // (a concurrent publisher got there first) — publish must skip it
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(s"$t/_v/000000000002.claim"), true).close()
    assert(VersionedTable.publish(df(1L -> "skip"), t) === 3L)
    // true interleaving: two threads publish from the same base
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq("x", "y").map { tag =>
      new Thread(() =>
        try results.add(VersionedTable.publish(df(2L -> tag), t)): Unit
        catch { case e: Throwable => errs.add(e): Unit })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent publish failed: ${errs.peek()}")
    val vs = results.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted
    assert(vs.length === 2 && vs(0) != vs(1),
      s"publishers did not serialize: ${vs.toSeq}")
    // both snapshots committed intact — nothing clobbered
    assert(readMap(VersionedTable.readVersion(spark, t, vs(0))).keySet
      === Set(2L))
    assert(readMap(VersionedTable.readVersion(spark, t, vs(1))).keySet
      === Set(2L))
    assert(Set(
      readMap(VersionedTable.readVersion(spark, t, vs(0)))(2L),
      readMap(VersionedTable.readVersion(spark, t, vs(1)))(2L))
      === Set("x", "y"))
    // current = the max version
    assert(VersionedTable.currentVersion(spark, t) === Some(vs(1)))
  }

  test("two concurrent READ-MODIFY-WRITE publishers lose neither merge " +
      "(round-15 ADVICE: the lost-update hole)") {
    val t = s"$root/t9"
    VersionedTable.publish(df(0L -> "base"), t)
    // both writers start from the same base; through blind publish the
    // earlier merge would be silently shadowed — publishRmw's
    // claim-exactly-base+1 makes the loser rebase and re-merge
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(1L -> "x", 2L -> "y").map { case (k, tag) =>
      new Thread(() =>
        try {
          barrier.await()
          VersionedTable.publishRmw(spark, t) { baseOpt =>
            baseOpt.get.unionByName(df(k -> tag))
          }: Unit
        } catch { case e: Throwable => errs.add(e): Unit })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent RMW failed: ${errs.peek()}")
    val finalState = readMap(VersionedTable.read(spark, t).get)
    assert(finalState === Map(0L -> "base", 1L -> "x", 2L -> "y"),
      s"a merge was lost: $finalState")
    assert(VersionedTable.currentVersion(spark, t).exists(_ >= 3L),
      "the rebased loser must publish a version above the winner's")
  }

  test("an abandoned claim wedges RMW with a NAMED error instead of " +
      "silently dropping a merge") {
    val t = s"$root/t10"
    VersionedTable.publish(df(0L -> "base"), t)
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed writer's burned claim at base+1, never to be committed
    fs.create(new Path(s"$t/_v/000000000002.claim"), true).close()
    val e = intercept[java.io.IOException] {
      VersionedTable.publishRmw(spark, t, wedgeTimeoutMs = 300L) { baseOpt =>
        baseOpt.get.unionByName(df(1L -> "x"))
      }
    }
    assert(e.getMessage.contains("wedged") && e.getMessage.contains(".claim"),
      s"wedge error must name the stale claim: ${e.getMessage}")
    // recovery: delete the stale claim, RMW proceeds
    assert(fs.delete(new Path(s"$t/_v/000000000002.claim"), false))
    VersionedTable.publishRmw(spark, t) { baseOpt =>
      baseOpt.get.unionByName(df(1L -> "x"))
    }: Unit
    assert(readMap(VersionedTable.read(spark, t).get)
      === Map(0L -> "base", 1L -> "x"))
  }

  test("sustained LIVE contention never wedges: the stall clock resets " +
      "on every head advance (round-17 ADVICE)") {
    val t = s"$root/t11"
    VersionedTable.publish(df(0L -> "base"), t)
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def claimP(v: Long) = new Path(f"$t/_v/$v%012d.claim")
    def vDir(v: Long) = f"$t/_v/$v%012d"
    def ptrP(v: Long) = new Path(f"$t/_ptr/$v%012d")
    // A contender that beats the loser to every claim, seven times in
    // a row: per cycle it holds the claim ~600ms then publishes. The
    // loser's TOTAL wait (≥ 4.2s of contender sleeps alone) far
    // exceeds the 2s wedge budget — a whole-call deadline would throw
    // the misleading "abandoned claim?" error at a live contender —
    // but every cycle ADVANCES the head, so the stall clock (reset on
    // progress) never fires. Claim v+1 is created BEFORE ptr v, so
    // the loser deterministically loses every cycle.
    val cycles = 2L to 8L
    fs.create(claimP(cycles.head), false).close()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val contender = new Thread(() =>
      try for (v <- cycles) {
        Thread.sleep(600)
        df(v -> s"c$v").write.mode("overwrite").parquet(vDir(v))
        if (v < cycles.last) fs.create(claimP(v + 1), false).close()
        fs.mkdirs(new Path(s"$t/_ptr"))
        fs.create(ptrP(v), false).close()
      } catch { case e: Throwable => errs.add(e): Unit })
    contender.start()
    val v = VersionedTable.publishRmw(spark, t, wedgeTimeoutMs = 2000L) {
      baseOpt => baseOpt.get.unionByName(df(99L -> "merge"))
    }
    contender.join()
    assert(errs.isEmpty, s"contender failed: ${errs.peek()}")
    assert(v === cycles.last + 1,
      "the loser must publish above the contender's last version")
    assert(readMap(VersionedTable.read(spark, t).get)
      === Map(cycles.last -> s"c${cycles.last}", 99L -> "merge"),
      "the merge must base on the contender's final head")
  }

  test("budget expiry while waiting on an unpublished claim names the " +
      "true state and the delete-claim recovery (round-20 ADVICE)") {
    val t = s"$root/t12"
    VersionedTable.publish(df(0L -> "base"), t)
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a contender's (or crashed writer's) unpublished claim at base+1:
    // this writer LOSES the createExclusive race (rebases stays 0) and
    // the budget expires mid-wait — the r19 message misdescribed this
    // as "before any claim race was lost / budget smaller than one
    // attempt" and dropped the recovery guidance
    fs.create(new Path(s"$t/_v/000000000002.claim"), true).close()
    val e = intercept[java.io.IOException] {
      VersionedTable.publishRmw(spark, t, wedgeTimeoutMs = 60000L,
          totalBudgetMs = Some(400L)) { baseOpt =>
        baseOpt.get.unionByName(df(1L -> "x"))
      }
    }
    assert(e.getMessage.contains("waiting on claimed-but-unpublished"),
      s"budget error must describe the wait state: ${e.getMessage}")
    assert(e.getMessage.contains(".claim"),
      s"budget error must carry the delete-claim recovery: ${e.getMessage}")
    assert(!e.getMessage.contains("smaller than one attempt"),
      s"must not claim the budget was under one attempt: ${e.getMessage}")
    fs.delete(new Path(s"$t/_v/000000000002.claim"), false): Unit
  }

  test("vacuum drops old versions only; the current one always survives") {
    val t = s"$root/t3"
    (1 to 5).foreach(i => VersionedTable.publish(df(i.toLong -> s"v$i"), t))
    assert(VersionedTable.vacuum(spark, t, keep = 2) === Seq(1L, 2L, 3L))
    assert(VersionedTable.versions(spark, t) === Seq(4L, 5L))
    assert(readMap(VersionedTable.read(spark, t).get) === Map(5L -> "v5"))
    assert(readMap(VersionedTable.readVersion(spark, t, 4)) === Map(4L -> "v4"))
    intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, t, 3)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.vacuum(spark, t, keep = 0)
    }
  }

  test("streaming upsert through the versioned table: every batch a " +
      "time-travelable snapshot; replay adds a value-equal version") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    val t = s"$root/t5"
    val mem = MemoryStream[Up](spark)
    def start() = StreamOps.upsertSink(mem.toDF(), t, Seq("k"), "ver")
      .option("checkpointLocation", s"$root/t5-ck").start()
    def m(d: org.apache.spark.sql.DataFrame) =
      d.as[Up].collect().map(u => u.k -> ((u.ver, u.v))).toMap
    val q = start()
    try {
      mem.addData(Up(1, 1, "a"))
      q.processAllAvailable()
      mem.addData(Up(1, 2, "a2"), Up(2, 1, "b"))
      q.processAllAvailable()
    } finally q.stop()
    assert(VersionedTable.versions(spark, t) === Seq(1L, 2L))
    assert(m(VersionedTable.readVersion(spark, t, 1)) ===
      Map(1L -> ((1L, "a"))))
    assert(m(VersionedTable.read(spark, t).get) ===
      Map(1L -> ((2L, "a2")), 2L -> ((1L, "b"))))
    // replay (at-least-once): same logical batch re-delivered after a
    // restart merges value-equal — one more version, identical bytes
    val q2 = start()
    try {
      mem.addData(Up(1, 2, "a2"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(VersionedTable.versions(spark, t) === Seq(1L, 2L, 3L))
    assert(m(VersionedTable.readVersion(spark, t, 3)) ===
      m(VersionedTable.readVersion(spark, t, 2)))
  }

  test("multi-writer soak: four publishers x five publishes each — " +
      "twenty distinct versions, every snapshot intact, monotone reads") {
    val t = s"$root/t8"
    VersionedTable.publish(df(0L -> "base"), t)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 4).map { w =>
      new Thread(() => {
        gate.await()
        try (0 until 5).foreach { i =>
          val tag = s"w$w-$i"
          val v = VersionedTable.publish(df(1L -> tag), t)
          results.add(v -> tag): Unit
        } catch { case e: Throwable => errs.add(e): Unit }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty, s"soak publish failed: ${errs.peek()}")
    val byVersion = results.toArray(Array.empty[(Long, String)]).toSeq
    assert(byVersion.size === 20)
    assert(byVersion.map(_._1).distinct.size === 20,
      "two publishers were handed the same version — claims failed to serialize")
    // every publisher's snapshot is committed intact under the version
    // number it was handed — nothing clobbered, nothing torn
    byVersion.foreach { case (v, tag) =>
      assert(readMap(VersionedTable.readVersion(spark, t, v)) ===
        Map(1L -> tag), s"version $v does not hold its publisher's rows")
    }
    // the table resolves to the highest committed version
    assert(VersionedTable.currentVersion(spark, t) ===
      Some(byVersion.map(_._1).max))
    // and vacuum under this history keeps exactly the newest snapshots
    val dropped = VersionedTable.vacuum(spark, t, keep = 3)
    assert(VersionedTable.versions(spark, t).size === 3)
    assert(dropped.forall(_ < VersionedTable.currentVersion(spark, t).get))
  }

  test("the commit protocol is rename-free (VERDICT r13 item 5): every " +
      "rename during publish is the committer's, inside the version dir") {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.audit.impl", classOf[RenameAuditFs].getName)
    val t = s"audit://${new File(root).getAbsolutePath}/t7"
    RenameAuditFs.renames.clear()
    assert(VersionedTable.publish(df(1L -> "a"), t) === 1L)
    assert(VersionedTable.publish(df(1L -> "b"), t) === 2L)
    assert(readMap(VersionedTable.read(spark, t).get) === Map(1L -> "b"))
    assert(VersionedTable.vacuum(spark, t, keep = 1) === Seq(1L))
    val protocolRenames = RenameAuditFs.renames.asScala.toSeq.filterNot {
      case (src, dst) =>
        // Spark's FileOutputCommitter moves task attempts into place
        // WITHIN the version directory being written; an object-store
        // deployment replaces exactly that committer. Everything else
        // — claims, _ptr markers, vacuum — must never rename.
        src.contains("/_v/000000000") && dst.contains("/_v/000000000")
    }
    assert(protocolRenames.isEmpty,
      s"table-protocol rename observed (not object-store safe): " +
        s"$protocolRenames")
  }

  test("a reader's resolved snapshot survives a concurrent publish " +
      "(snapshot isolation, the property the swap sink cannot give)") {
    val t = s"$root/t4"
    VersionedTable.publish(df(1L -> "old"), t)
    val snapshot = VersionedTable.read(spark, t).get // resolves v1
    VersionedTable.publish(df(1L -> "new"), t) // writer moves on
    // the old snapshot's files were never touched — the reader's
    // in-flight frame still scans v1 verbatim
    assert(readMap(snapshot) === Map(1L -> "old"))
    assert(readMap(VersionedTable.read(spark, t).get) === Map(1L -> "new"))
  }
}
