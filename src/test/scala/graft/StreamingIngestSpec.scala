package graft

import java.io.{File, PrintWriter}

import graft.pipeline.{ParquetWarehouseSink, PipelineConfig, TenantConfig, VersionedTable}
import graft.streaming.{StreamingIngest, StreamOps}

/** Versioned CDC record for the foreachBatch upsert test (top-level —
  * encoder resolution fails on nested case classes). */
case class Up(k: Long, ver: Long, v: String)

/** Arriving document for the foreachBatch incremental-dedup test. */
case class ArrDoc(doc_id: Long, text: String, source: String, lang: String)

/** Arriving vector for the foreachBatch ANN-ingest test. */
case class ArrVec(vec_id: Long, embedding: Seq[Float])

/** Arriving SCD2 change for the foreachBatch dimension-maintenance test. */
case class Ch(k: Long, v: Double, eff_from: java.sql.Timestamp)

/** Arriving CDC op for the foreachBatch cdcSink test. */
case class CdcOp(k: Long, seq: Long, op: String, v: Double)

/** End-to-end streaming ingest: the file-source checkpoint must provide
  * the reference's continueFrom semantics natively — a restarted query
  * with the same checkpoint dir picks up only files that arrived after
  * the previous run. */
class StreamingIngestSpec extends SparkSuite {

  private val root = {
    val dir = new File("target/test-fixtures/streamingest")
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(dir); dir.mkdirs()
    dir.getPath
  }

  private val config = PipelineConfig(
    exportRoot = s"$root/export",
    warehouseRoot = s"$root/warehouse",
    checkpointPath = s"$root/ck-unused",
    tenants = Seq(TenantConfig("app-s", "Dataset_S")),
    reportTypes = Seq("custom"))

  private def writeJob(jobId: Long, rows: Int): Unit = {
    val dir = new File(s"${config.exportRoot}/app-s/custom/2024-01-02_$jobId")
    dir.mkdirs()
    val w = new PrintWriter(new File(dir, "part-0.json"))
    try (0 until rows).foreach { i =>
      w.println(s"""{"ts":"2024-01-02 00:0$i:00","appid":"app-s","type":"custom","userid":"u$i","sessionid":"s${jobId}_$i","platform":"ios","sdk_ver":"1.0","debug":false,"custom_params":"{}","amount":$i.5}""")
    } finally w.close()
  }

  test("AvailableNow ingest + checkpointed restart = incremental continuation") {
    writeJob(1, 6)
    writeJob(2, 4)
    val sink = new ParquetWarehouseSink(config.warehouseRoot)
    val ckDir = s"$root/stream-ck"

    val q1 = StreamingIngest.start(spark, config, "app-s", "custom", sink, ckDir)
    q1.awaitTermination()
    val table = s"${config.warehouseRoot}/Dataset_S/custom"
    assert(spark.read.parquet(table).count() == 10)

    // restart with same checkpoint, no new files → no new rows
    val q2 = StreamingIngest.start(spark, config, "app-s", "custom", sink, ckDir)
    q2.awaitTermination()
    assert(spark.read.parquet(table).count() == 10)

    // a new export job lands → only its rows are ingested on restart
    writeJob(3, 3)
    val q3 = StreamingIngest.start(spark, config, "app-s", "custom", sink, ckDir)
    q3.awaitTermination()
    assert(spark.read.parquet(table).count() == 13)
    // parsed event time survived the trip
    assert(spark.read.parquet(table)
      .where("event_ts IS NULL").count() == 0)
  }

  test("foreachBatch streaming upsert maintains a keep-latest table") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = s"$root/stream_upsert_table"
    val mem = MemoryStream[Up](spark)
    val q = StreamOps.upsertSink(mem.toDF(), dir, Seq("k"), "ver")
      .option("checkpointLocation", s"$root/stream_upsert_ck")
      .start()
    def table() = VersionedTable.read(spark, dir).get.as[Up].collect()
      .map(u => u.k -> ((u.ver, u.v))).toMap
    try {
      mem.addData(Up(1, 1, "a"), Up(2, 1, "b"))
      q.processAllAvailable()
      assert(table() == Map(1L -> ((1L, "a")), 2L -> ((1L, "b"))))
      // update k=1, insert k=3; stale re-delivery of (2,1) is a no-op
      mem.addData(Up(1, 2, "a2"), Up(3, 1, "c"), Up(2, 1, "b"))
      q.processAllAvailable()
      assert(table() ==
        Map(1L -> ((2L, "a2")), 2L -> ((1L, "b")), 3L -> ((1L, "c"))))
      // at-least-once: the same logical update delivered again changes
      // nothing (keep-latest is idempotent at the table level)
      mem.addData(Up(1, 2, "a2"))
      q.processAllAvailable()
      assert(table() ==
        Map(1L -> ((2L, "a2")), 2L -> ((1L, "b")), 3L -> ((1L, "c"))))
    } finally q.stop()
  }

  test("kill-and-restart mid-stream: a replayed batch leaves the " +
      "keep-latest table exactly-once") {
    // The reference's continuation contract
    // (Unity_to_BigQuery.py:178-180) under FAILURE, not just between
    // graceful runs: the crash is injected AFTER the sink write but
    // BEFORE the checkpoint commit — the at-least-once window where a
    // restart REPLAYS the batch — and the keep-latest table must come
    // out exactly-once because the upsert is idempotent per (key, ver).
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = s"$root/stream_restart_table"
    val ck = s"$root/stream_restart_ck"
    @volatile var crashArmed = true // foreachBatch body runs on the driver
    val mem = MemoryStream[Up](spark)
    // upsertSink's own per-batch body, with a crash injected after it
    val upsert = StreamOps.publishBatch(dir, keepVersions = 0,
      StreamOps.keepLatest(Seq("k"), "ver", Nil)) _
    def start() = mem.toDF().writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val rows = batch.toDF().as[Up].collect()
        upsert(batch, id)
        if (crashArmed && rows.exists(_.k == 99L)) {
          crashArmed = false
          throw new RuntimeException("injected crash after sink write, before commit")
        }
      }
      .start()
    def table() = VersionedTable.read(spark, dir).get.as[Up].collect()
      .map(u => u.k -> ((u.ver, u.v))).toSeq

    val q1 = start()
    try {
      mem.addData(Up(1, 1, "a"), Up(2, 1, "b"))
      q1.processAllAvailable()
      assert(table().toMap == Map(1L -> ((1L, "a")), 2L -> ((1L, "b"))))
      // this batch's first processing crashes post-write: the table has
      // absorbed it but the offset was never committed
      mem.addData(Up(1, 2, "a2"), Up(99, 1, "x"))
      intercept[Throwable] { q1.processAllAvailable() }
      assert(q1.exception.isDefined, "query must have died on the injected crash")
    } finally q1.stop()

    // restart from the same checkpoint: the uncommitted batch REPLAYS
    // (at-least-once delivery), the upsert absorbs it idempotently
    val q2 = start()
    try {
      q2.processAllAvailable()
      val t = table()
      assert(t.toMap ==
        Map(1L -> ((2L, "a2")), 2L -> ((1L, "b")), 99L -> ((1L, "x"))))
      assert(t.size == 3, s"replay duplicated rows: $t")
      // the replay's only side effect is one value-equal version
      assert(VersionedTable.versions(spark, dir) === Seq(1L, 2L, 3L))
      assert(VersionedTable.readVersion(spark, dir, 3).as[Up].collect()
        .toSet === VersionedTable.readVersion(spark, dir, 2).as[Up]
        .collect().toSet)
      // and the stream continues normally after recovery
      mem.addData(Up(3, 1, "c"))
      q2.processAllAvailable()
      assert(table().toMap ==
        Map(1L -> ((2L, "a2")), 2L -> ((1L, "b")), 3L -> ((1L, "c")),
          99L -> ((1L, "x"))))
    } finally q2.stop()
  }

  test("foreachBatch incremental dedup: micro-batches probe a FROZEN " +
      "survivor index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.queries.TextOps
    val idxDir = s"$root/dedup_index"
    val outDir = s"$root/dedup_survivors"
    // warehouse side: dedup the incumbent corpus, persist its index
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val incumbents = Seq(
      ArrDoc(1L, dup, "s", "en"),
      ArrDoc(2L, "one two three four five six seven eight", "s", "en"))
    TextOps.saveDedupIndex(incumbents.toDF(), idxDir)
    // ingest side: each micro-batch dedups against the frozen index
    // and within itself, appending its survivors — the foreachBatch
    // loop a nightly ingest runs (paired with the upsert sink above)
    val mem = MemoryStream[ArrDoc](spark)
    val q = mem.toDF().writeStream
      .option("checkpointLocation", s"$root/dedup_ck")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        TextOps.dedupBatchAgainstIndex(spark, batch.toDF(), idxDir, 0.5)
          .write.mode("append").parquet(outDir)
        ()
      }
      .start()
    try {
      // batch 1: a near-dup of incumbent 1 (drops), a novel doc
      // (survives), and a within-batch dup pair (min id 101 survives)
      mem.addData(
        ArrDoc(100L, "alpha beta gamma delta epsilon zeta eta iota", "s", "en"),
        ArrDoc(101L, "nine ten eleven twelve thirteen fourteen fifteen sixteen", "s", "en"),
        ArrDoc(102L, "nine ten eleven twelve thirteen fourteen fifteen seventeen", "s", "en"))
      q.processAllAvailable()
      def surv() = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(surv() === Set(101L))
      // batch 2: another near-dup of incumbent 2 drops; a FROZEN index
      // does NOT catch a dup of batch-1's novel survivor — that is
      // the documented semantic (cross-batch dedup needs an index
      // refresh, the warehouse's nightly rebuild)
      mem.addData(
        ArrDoc(200L, "one two three four five six seven nine", "s", "en"),
        ArrDoc(201L, "nine ten eleven twelve thirteen fourteen fifteen sixteen", "s", "en"))
      q.processAllAvailable()
      assert(surv() === Set(101L, 201L))
      // batch-mode equivalence: replaying micro-batch 1 through the
      // batch API yields the same survivors the stream produced
      val replay = TextOps.dedupBatchAgainstIndex(spark, Seq(
          ArrDoc(100L, "alpha beta gamma delta epsilon zeta eta iota", "s", "en"),
          ArrDoc(101L, "nine ten eleven twelve thirteen fourteen fifteen sixteen", "s", "en"),
          ArrDoc(102L, "nine ten eleven twelve thirteen fourteen fifteen seventeen", "s", "en"))
          .toDF(), idxDir, 0.5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(replay === Set(101L))
    } finally q.stop()
  }

  test("probe -> accept -> refresh: a refreshed index catches " +
      "cross-batch dups") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.queries.TextOps
    val idxDir = s"$root/dedup_index_refresh"
    val outDir = s"$root/dedup_survivors_refresh"
    TextOps.saveDedupIndex(Seq(
      ArrDoc(1L, "alpha beta gamma delta epsilon zeta eta theta", "s", "en"))
      .toDF(), idxDir)
    val mem = MemoryStream[ArrDoc](spark)
    val q = mem.toDF().writeStream
      .option("checkpointLocation", s"$root/dedup_refresh_ck")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // checkpoint survivors BEFORE writing: the append below must
        // not re-read index files it is itself appending to
        val surv = TextOps.dedupBatchAgainstIndex(spark, batch.toDF(), idxDir, 0.5)
          .localCheckpoint()
        surv.write.mode("append").parquet(outDir)
        TextOps.appendToDedupIndex(surv, idxDir)
        ()
      }
      .start()
    try {
      mem.addData(
        ArrDoc(101L, "nine ten eleven twelve thirteen fourteen fifteen sixteen", "s", "en"))
      q.processAllAvailable()
      // batch 2: 201 duplicates batch-1 survivor 101 — the refreshed
      // index catches it (the frozen-index test above shows the same
      // arrival SURVIVING without the refresh); 202 is novel
      mem.addData(
        ArrDoc(201L, "nine ten eleven twelve thirteen fourteen fifteen seventeen", "s", "en"),
        ArrDoc(202L, "one two three four five six seven eight", "s", "en"))
      q.processAllAvailable()
      val surv = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(surv === Set(101L, 202L))
    } finally q.stop()
  }

  test("many refresh epochs keep the index file count bounded and the " +
      "probe task count flat (wired-in compaction)") {
    import spark.implicits._
    import graft.pipeline.Compaction
    import graft.queries.TextOps
    val idxDir = s"$root/dedup_index_epochs"
    // distinct 8-token docs so nothing ever dedups away — every epoch
    // appends its full batch to the index, the worst fragmentation case
    def doc(id: Long) = ArrDoc(id,
      (0 until 8).map(t => s"w${id}_$t").mkString(" "), "s", "en")
    TextOps.saveDedupIndex(Seq(doc(1L)).toDF(), idxDir)

    val epochs = 12
    val threshold = 6 // well below one epoch's append parallelism × 12
    var maxBandFiles = 0
    var maxProbeTasks = 0
    (0 until epochs).foreach { e =>
      val batch = Seq(doc(100L + 2 * e), doc(101L + 2 * e)).toDF()
      val surv = TextOps
        .dedupBatchAgainstIndex(spark, batch, idxDir, 0.5).localCheckpoint()
      assert(surv.count() == 2, s"epoch $e: distinct docs must all survive")
      TextOps.appendToDedupIndex(surv, idxDir,
        compactAboveFiles = threshold, targetBytes = 1L << 30)
      val bandFiles = Compaction.parquetFileCount(spark, s"$idxDir/bands")
      // probe-side scan parallelism ∝ input files at test file sizes:
      // the task count the NEXT epoch's index join pays
      val probeTasks = spark.read.parquet(s"$idxDir/bands").rdd.getNumPartitions
      maxBandFiles = math.max(maxBandFiles, bandFiles)
      maxProbeTasks = math.max(maxProbeTasks, probeTasks)
    }
    // un-maintained, 12 epochs × per-epoch append parallelism would
    // far exceed the threshold; wired-in compaction must keep the
    // worst observed count at threshold + one epoch's files
    val perEpoch = spark.sparkContext.defaultParallelism
    assert(maxBandFiles <= threshold + perEpoch,
      s"index fragmented to $maxBandFiles files across $epochs epochs " +
        s"(threshold $threshold + per-epoch $perEpoch) — compaction not engaging")
    assert(maxProbeTasks <= threshold + perEpoch,
      s"probe scan grew to $maxProbeTasks tasks — file creep reached the probe")
    // and the refreshed, compacted index still carries every epoch's
    // survivors: a dup of an early-epoch survivor is caught
    val lateDup = TextOps.dedupBatchAgainstIndex(spark,
      Seq(doc(100L)).toDF(), idxDir, 0.5)
    assert(lateDup.count() == 0,
      "compaction lost index rows — early-epoch survivor no longer matches")
    // appends and compactions keep each table's declared schema
    for ((t, declared) <- graft.operators.DedupIndex.schemas)
      assert(spark.read.parquet(s"$idxDir/$t").schema.simpleString ===
        declared.simpleString, t)
  }

  test("appendToDedupIndex returns a survivors frame that survives a " +
      "compacting refresh") {
    import spark.implicits._
    import graft.queries.TextOps
    val idxDir = s"$root/dedup_index_safe_return"
    TextOps.saveDedupIndex(Seq(
      ArrDoc(1L, "alpha beta gamma delta epsilon zeta eta theta", "s", "en"))
      .toDF(), idxDir)
    // deliberately NOT checkpointed: its lineage reads the index files
    // (the anti-join against index-derived losers) — exactly the frame
    // a compacting refresh invalidates
    val surv = TextOps.dedupBatchAgainstIndex(spark,
      Seq(ArrDoc(10L, "one two three four five six seven eight", "s", "en"))
        .toDF(), idxDir, 0.5)
    // compactAboveFiles = 1 forces compaction, which deletes the files
    // the ARGUMENT's lineage reads; the returned frame was pinned
    // before the swap and must still answer
    val safe = TextOps.appendToDedupIndex(surv, idxDir,
      compactAboveFiles = 1, targetBytes = 1L << 30)
    assert(safe.select("doc_id").collect().map(_.getLong(0)).toSet === Set(10L))
  }

  test("foreachBatch SCD2 maintenance: micro-batches of changes keep " +
      "the dimension type-2 correct; a replayed batch no-ops") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = s"$root/stream_scd2_dim"
    val mem = MemoryStream[Ch](spark)
    val q = StreamOps.scd2Sink(mem.toDF(), dir, "k", "v", "eff_from", "eff_to")
      .option("checkpointLocation", s"$root/stream_scd2_ck")
      .start()
    def t(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // the dimension now lives in a VersionedTable (round 14) — read the
    // current committed snapshot
    def dim() = VersionedTable.read(spark, dir).get
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Double]("v"),
        r.getAs[java.sql.Timestamp]("eff_from"),
        Option(r.getAs[java.sql.Timestamp]("eff_to")))).toSet
    try {
      // seed: three new keys, plus an intra-batch double-change for k=1
      // (the keep-latest pre-collapse path: latest eff_from wins)
      mem.addData(Ch(1L, 10.0, t(1)), Ch(1L, 11.0, t(2)),
        Ch(2L, 20.0, t(1)), Ch(3L, 30.0, t(1)))
      q.processAllAvailable()
      assert(dim() === Set(
        (1L, 11.0, t(2), None), (2L, 20.0, t(1), None),
        (3L, 30.0, t(1), None)))
      // change k=1, value-equal no-op for k=2, brand-new k=4
      mem.addData(Ch(1L, 99.0, t(5)), Ch(2L, 20.0, t(5)), Ch(4L, 40.0, t(5)))
      q.processAllAvailable()
      val afterBatch2 = Set(
        (1L, 11.0, t(2), Some(t(5))), (1L, 99.0, t(5), None),
        (2L, 20.0, t(1), None), (3L, 30.0, t(1), None),
        (4L, 40.0, t(5), None))
      assert(dim() === afterBatch2)
      // at-least-once: the SAME batch re-delivered (crash between the
      // table overwrite and the checkpoint commit) — every change is
      // already current, so the dimension must come out untouched
      mem.addData(Ch(1L, 99.0, t(5)), Ch(2L, 20.0, t(5)), Ch(4L, 40.0, t(5)))
      q.processAllAvailable()
      assert(dim() === afterBatch2, "replayed change batch mutated the dim")
    } finally q.stop()
  }

  test("foreachBatch CDC apply: op-log batches materialize state; " +
      "replayed and late batches no-op, tombstones stick") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = s"$root/stream_cdc_state"
    val mem = MemoryStream[CdcOp](spark)
    val q = StreamOps.cdcSink(mem.toDF(), dir, "k", "seq", "op")
      .option("checkpointLocation", s"$root/stream_cdc_ck")
      .start()
    def state() = StreamOps.readCdcTable(spark, dir, "op")
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Double]("v")).toMap
    try {
      // batch 1: inserts
      mem.addData(CdcOp(1L, 10L, "I", 1.0), CdcOp(2L, 10L, "I", 2.0),
        CdcOp(3L, 10L, "I", 3.0))
      q.processAllAvailable()
      assert(state() === Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
      // batch 2: update k=1, delete k=2
      mem.addData(CdcOp(1L, 20L, "U", 11.0), CdcOp(2L, 21L, "D", 0.0))
      q.processAllAvailable()
      assert(state() === Map(1L -> 11.0, 3L -> 3.0))
      // at-least-once REPLAY of batch 2: value-equal no-op, and the
      // tombstone keeps the deleted key deleted
      mem.addData(CdcOp(1L, 20L, "U", 11.0), CdcOp(2L, 21L, "D", 0.0))
      q.processAllAvailable()
      assert(state() === Map(1L -> 11.0, 3L -> 3.0))
      // LATE batch with OLDER seqs: loses every per-key contest —
      // including against the tombstone (the old insert cannot
      // resurrect k=2)
      mem.addData(CdcOp(1L, 5L, "U", 99.0), CdcOp(2L, 4L, "I", 99.0))
      q.processAllAvailable()
      assert(state() === Map(1L -> 11.0, 3L -> 3.0),
        "an out-of-order older batch mutated CDC state")
    } finally q.stop()
  }

  test("versioned sink crash matrix: the cdc and scd2 sinks survive " +
      "every interrupted-publish window; each applied batch is " +
      "time-travelable") {
    // Every foreachBatch sink publishes through VersionedTable, so
    // their crash windows are the versioned protocol's — injected here
    // ON THE SINKS' OWN TABLES.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.hadoop.fs.Path
    val dir = s"$root/stream_cdc_versioned"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mem = MemoryStream[CdcOp](spark)
    def start() = StreamOps.cdcSink(mem.toDF(), dir, "k", "seq", "op")
      .option("checkpointLocation", s"$root/stream_cdc_versioned_ck").start()
    def state() = StreamOps.readCdcTable(spark, dir, "op")
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Double]("v")).toMap
    val q = start()
    try {
      mem.addData(CdcOp(1L, 10L, "I", 1.0))
      q.processAllAvailable()
      mem.addData(CdcOp(2L, 11L, "I", 2.0))
      q.processAllAvailable()
    } finally q.stop()
    assert(state() === Map(1L -> 1.0, 2L -> 2.0))
    // every applied micro-batch is a time-travelable snapshot
    assert(VersionedTable.versions(spark, dir) === Seq(1L, 2L))
    assert(VersionedTable.readVersion(spark, dir, 1)
      .collect().map(_.getAs[Long]("k")).toSeq === Seq(1L))

    // WINDOW 1 — crash while writing the next version: claim burned,
    // junk dir, no _SUCCESS. Reads are unaffected; the restarted
    // stream's next batch claims the NEXT number and commits.
    fs.create(new Path(s"$dir/_v/000000000003.claim"), true).close()
    val junkDir = new Path(s"$dir/_v/000000000003")
    fs.mkdirs(junkDir)
    val junk = fs.create(new Path(junkDir, "part-00000.parquet"))
    junk.write(Array[Byte](7)); junk.close()
    assert(state() === Map(1L -> 1.0, 2L -> 2.0))
    val q2 = start()
    try {
      mem.addData(CdcOp(3L, 12L, "I", 3.0))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(state() === Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
    assert(VersionedTable.currentVersion(spark, dir) === Some(4L),
      "the burned claim must not be reused")

    // WINDOW 2 — crash between the data commit and the marker write:
    // a committed-but-unpublished orphan. Reads keep serving the
    // published version; the next batch lands above the orphan.
    fs.create(new Path(s"$dir/_v/000000000005.claim"), true).close()
    VersionedTable.readVersion(spark, dir, 4)
      .write.mode("overwrite").parquet(s"$dir/_v/000000000005")
    assert(state() === Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
    val q3 = start()
    try {
      mem.addData(CdcOp(2L, 20L, "D", 0.0))
      q3.processAllAvailable()
    } finally q3.stop()
    assert(state() === Map(1L -> 1.0, 3L -> 3.0))
    assert(VersionedTable.currentVersion(spark, dir) === Some(6L))

    // retention: a long-lived stream writes one snapshot per batch —
    // keepVersions bounds it (vacuum after each publish), with the
    // newest snapshots still time-travelable
    val rdir = s"$root/stream_cdc_retained"
    val rmem = MemoryStream[CdcOp](spark)
    val rq = StreamOps.cdcSink(rmem.toDF(), rdir, "k", "seq", "op",
        keepVersions = 2)
      .option("checkpointLocation", s"$root/stream_cdc_retained_ck").start()
    try {
      (1 to 4).foreach { i =>
        rmem.addData(CdcOp(i.toLong, 10L + i, "I", i.toDouble))
        rq.processAllAvailable()
      }
    } finally rq.stop()
    val kept = VersionedTable.versions(spark, rdir)
    assert(kept === Seq(3L, 4L), s"retention must keep the newest 2: $kept")
    assert(StreamOps.readCdcTable(spark, rdir, "op").count() === 4L)

    // scd2Sink rides the same publish path — one window proves the
    // wiring: an injected incomplete version leaves the dimension
    // readable and the next change batch commits above it.
    val sdir = s"$root/stream_scd2_versioned"
    val smem = MemoryStream[Ch](spark)
    def sstart() = StreamOps.scd2Sink(smem.toDF(), sdir, "k", "v",
        "eff_from", "eff_to")
      .option("checkpointLocation", s"$root/stream_scd2_versioned_ck").start()
    def t(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    def sdim() = VersionedTable.read(spark, sdir).get
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Double]("v"),
        Option(r.getAs[java.sql.Timestamp]("eff_to")).isEmpty)).toSet
    val sq = sstart()
    try {
      smem.addData(Ch(1L, 10.0, t(1)))
      sq.processAllAvailable()
    } finally sq.stop()
    assert(sdim() === Set((1L, 10.0, true)))
    val sfs = new Path(sdir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    sfs.create(new Path(s"$sdir/_v/000000000002.claim"), true).close()
    sfs.mkdirs(new Path(s"$sdir/_v/000000000002"))
    assert(sdim() === Set((1L, 10.0, true)))
    val sq2 = sstart()
    try {
      smem.addData(Ch(1L, 20.0, t(3)))
      sq2.processAllAvailable()
    } finally sq2.stop()
    assert(sdim() === Set((1L, 10.0, false), (1L, 20.0, true)))
    assert(VersionedTable.currentVersion(spark, sdir) === Some(3L))
    // time travel reaches the pre-change dimension
    assert(VersionedTable.readVersion(spark, sdir, 1)
      .collect().map(_.getAs[Double]("v")).toSeq === Seq(10.0))

    // upsertSink, window 1: a burned claim plus a junk directory leave
    // the keep-latest table readable, and the next batch commits above
    val udir = s"$root/stream_upsert_versioned"
    val umem = MemoryStream[Up](spark)
    def ustart() = StreamOps.upsertSink(umem.toDF(), udir, Seq("k"), "ver")
      .option("checkpointLocation", s"$root/stream_upsert_versioned_ck")
      .start()
    def utable() = VersionedTable.read(spark, udir).get.as[Up].collect()
      .map(u => u.k -> ((u.ver, u.v))).toMap
    val uq = ustart()
    try {
      umem.addData(Up(1, 1, "a"), Up(2, 1, "b"))
      uq.processAllAvailable()
    } finally uq.stop()
    fs.create(new Path(s"$udir/_v/000000000002.claim"), true).close()
    val ujunk = new Path(s"$udir/_v/000000000002")
    fs.mkdirs(ujunk)
    val ujunkFile = fs.create(new Path(ujunk, "part-00000.parquet"))
    ujunkFile.write(Array[Byte](7)); ujunkFile.close()
    assert(utable() === Map(1L -> ((1L, "a")), 2L -> ((1L, "b"))))
    val uq2 = ustart()
    try {
      umem.addData(Up(1, 2, "a2"))
      uq2.processAllAvailable()
    } finally uq2.stop()
    assert(utable() === Map(1L -> ((2L, "a2")), 2L -> ((1L, "b"))))
    assert(VersionedTable.currentVersion(spark, udir) === Some(3L),
      "the burned claim must not be reused")
    assert(VersionedTable.versions(spark, udir) === Seq(1L, 3L))
  }

  test("foreachBatch ANN ingest: micro-batches of vectors enter the " +
      "serving index; a replayed batch appends nothing") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import graft.queries.SimOps
    val m = 4; val k = 16; val dim = 64
    val idxDir = s"$root/ann_stream_index"
    val sf = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    SimOps.saveAnnIndex(emb.filter(col("vec_id") < 300), idxDir, m, k, dim)
    def arrivals(lo: Long, hi: Long): Seq[ArrVec] =
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi).collect()
        .map(r => ArrVec(r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[ArrVec](spark)
    val q = mem.toDF().writeStream
      .option("checkpointLocation", s"$root/ann_stream_ck")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        SimOps.appendToAnnIndex(spark, batch.toDF(), idxDir, m, dim)
      }
      .start()
    try {
      mem.addData(arrivals(300, 400): _*)
      q.processAllAvailable()
      mem.addData(arrivals(400, 500): _*)
      q.processAllAvailable()
    } finally q.stop()
    def vecCount() = spark.read.parquet(s"$idxDir/vectors").count()
    assert(vecCount() === emb.count())
    // at-least-once sink contract: a crash between the append and the
    // checkpoint commit REPLAYS the batch — the idempotent append must
    // drop every already-indexed id and leave all three payload tables
    // untouched
    SimOps.appendToAnnIndex(spark,
      arrivals(400, 500).toDF("vec_id", "embedding"), idxDir, m, dim)
    assert(vecCount() === emb.count(), "replayed batch duplicated payload")
    assert(spark.read.parquet(s"$idxDir/invlists").count() === emb.count())
    assert(spark.read.parquet(s"$idxDir/codes").count() === emb.count())
    // the streamed index must serve the same answer as a one-shot
    // frozen-quantizer append of the same vectors (batch-stream parity)
    val refDir = s"$root/ann_stream_ref"
    SimOps.saveAnnIndex(emb.filter(col("vec_id") < 300), refDir, m, k, dim)
    SimOps.appendToAnnIndex(spark,
      emb.filter(col("vec_id") >= 300), refDir, m, dim)
    val probe = emb.filter(col("vec_id") === 0).select(col("embedding").as("probe"))
    def hits(dir: String) =
      SimOps.searchAnnIndex(spark, dir, probe, m, dim, nprobe = 4,
        rerank = 50, topK = 10, excludeVecId = 0L)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hits(idxDir) === hits(refDir))
  }

  test("ANN ingest replay self-heals a PARTIAL append (crash between " +
      "the invlists write and the codes/vectors writes)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.queries.SimOps
    val m = 4; val k = 16; val dim = 64
    val idxDir = s"$root/ann_partial_index"
    val sf = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    SimOps.saveAnnIndex(emb.filter(col("vec_id") < 300), idxDir, m, k, dim)
    val batch = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
      .localCheckpoint()
    // Simulate the exact crash window the at-least-once contract
    // exposes: the sequential append dies AFTER the invlists write but
    // BEFORE codes/vectors — reproduce by performing only the first of
    // the three table writes appendToAnnIndex would have done.
    val centroids = spark.read.parquet(s"$idxDir/centroids")
    SimOps.assignCells(batch, centroids).select(col("vec_id"), col("cell_id"))
      .write.mode("append").parquet(s"$idxDir/invlists")
    def counts() = Seq("invlists", "codes", "vectors")
      .map(t => t -> spark.read.parquet(s"$idxDir/$t").count()).toMap
    val torn = counts()
    assert(torn("invlists") === 400L && torn("codes") === 300L &&
      torn("vectors") === 300L, s"fixture did not tear the index: $torn")
    // The streaming runtime now REPLAYS the batch. A global
    // already-indexed probe would see every id in invlists and append
    // nothing, permanently omitting the batch from codes/vectors; the
    // per-table probe must repair exactly the missing rows.
    SimOps.appendToAnnIndex(spark, batch, idxDir, m, dim)
    val healed = counts()
    assert(healed.values.toSet === Set(400L),
      s"partial append not healed: $healed")
    // no duplicates anywhere
    for (t <- Seq("invlists", "codes", "vectors"))
      assert(spark.read.parquet(s"$idxDir/$t").select("vec_id")
        .distinct().count() === 400L, s"$t holds duplicate vec_ids")
    // and a second full replay is still a no-op
    SimOps.appendToAnnIndex(spark, batch, idxDir, m, dim)
    assert(counts().values.toSet === Set(400L), "healed replay duplicated")
    // the healed index answers exactly like a never-crashed one
    val refDir = s"$root/ann_partial_ref"
    SimOps.saveAnnIndex(emb.filter(col("vec_id") < 300), refDir, m, k, dim)
    SimOps.appendToAnnIndex(spark, batch, refDir, m, dim)
    val probe = emb.filter(col("vec_id") === 0).select(col("embedding").as("probe"))
    def hits(dir: String) =
      SimOps.searchAnnIndex(spark, dir, probe, m, dim, nprobe = 4,
        rerank = 50, topK = 10, excludeVecId = 0L)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hits(idxDir) === hits(refDir))
  }
}
