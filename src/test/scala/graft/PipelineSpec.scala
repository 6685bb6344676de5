package graft

import java.io.{File, FileOutputStream, OutputStreamWriter, PrintWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._

import graft.pipeline._

/** Golden-file test of the reference-parity pipeline (SURVEY.md §5.2):
  * synthesize a Unity-style export tree (gzip + plain NDJSON), ingest →
  * route → partitioned warehouse write → checkpoint, then prove a
  * re-run is a no-op and a new export job is picked up incrementally
  * (the reference's continueFrom semantics,
  * /root/reference/Unity_to_BigQuery.py:63-66,88-100,178-180).
  */
class PipelineSpec extends SparkSuite {

  private val root = {
    val dir = new File("target/test-fixtures/pipeline")
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(dir); dir.mkdirs()
    dir.getPath
  }

  private def writeJob(app: String, jobType: String, jobId: Long,
      rows: Int, gzip: Boolean): Unit = {
    val dir = new File(s"$root/export/$app/$jobType/2024-01-01_$jobId")
    dir.mkdirs()
    val f = new File(dir, if (gzip) "part-0.json.gz" else "part-0.json")
    val out = if (gzip)
      new PrintWriter(new OutputStreamWriter(
        new GZIPOutputStream(new FileOutputStream(f)), StandardCharsets.UTF_8))
    else new PrintWriter(f, "UTF-8")
    try {
      (0 until rows).foreach { i =>
        val m = f"${i % 60}%02d"
        out.println(
          s"""{"ts":"2024-01-01 00:$m:00","appid":"$app","type":"$jobType","userid":"u$i","sessionid":"s${jobId}_$i","platform":"ios","sdk_ver":"1.0","debug":false,"custom_params":"{\\"k\\": $i}","amount":${i * 1.5}}""")
      }
    } finally out.close()
  }

  private val config = PipelineConfig(
    exportRoot = s"$root/export",
    warehouseRoot = s"$root/warehouse",
    checkpointPath = s"$root/checkpoints",
    tenants = Seq(TenantConfig("app-a", "Dataset_A"), TenantConfig("app-b", "Dataset_B")),
    reportTypes = Seq("custom", "transaction"))

  private def mkJob(notifier: Notifier = new LogNotifier) = IngestJob(
    spark, config,
    new ParquetCheckpointStore(spark, config.checkpointPath),
    new ParquetWarehouseSink(config.warehouseRoot),
    notifier)

  test("ingest → route → partitioned write → checkpoint → incremental re-run") {
    writeJob("app-a", "custom", 101, rows = 10, gzip = true)
    writeJob("app-a", "custom", 102, rows = 5, gzip = false)
    writeJob("app-a", "transaction", 103, rows = 4, gzip = true)
    writeJob("app-b", "custom", 104, rows = 7, gzip = false)

    val first = mkJob().runAll()
    assert(first(("app-a", "custom")) == 15)
    assert(first(("app-a", "transaction")) == 4)
    assert(first(("app-b", "custom")) == 7)
    assert(first(("app-b", "transaction")) == 0)

    // routed to the tenant dataset, table = report type, partitioned by job
    val aCustom = spark.read.parquet(s"${config.warehouseRoot}/Dataset_A/custom")
    assert(aCustom.count() == 15)
    assert(aCustom.select("job_id").distinct().collect()
      .map(_.get(0).toString.toLong).toSet == Set(101L, 102L))
    // gzip payload decoded transparently; JSON fields typed by schema
    assert(aCustom.filter(col("job_id") === 101).count() == 10)
    assert(aCustom.select(sum(col("amount"))).collect().head.getDouble(0) > 0)

    // checkpoint: one entry per non-empty job, chained previous ids
    val ck = spark.read.parquet(config.checkpointPath)
    assert(ck.count() == 4)
    val chain = ck.filter(col("app_id") === "app-a" && col("job_type") === "custom")
      .orderBy(col("job_id"))
      .select(col("job_id"), col("previous_job_id")).collect()
    assert(chain.map(_.getLong(0)).toSeq == Seq(101L, 102L))
    assert(chain(0).isNullAt(1) && chain(1).getLong(1) == 101L)

    // re-run: continuation skips everything
    val second = mkJob().runAll()
    assert(second.values.forall(_ == 0L), s"re-run ingested: $second")
    assert(spark.read.parquet(config.checkpointPath).count() == 4)
    assert(spark.read.parquet(s"${config.warehouseRoot}/Dataset_A/custom").count() == 15)

    // a new export job arrives → only it is ingested
    writeJob("app-a", "custom", 105, rows = 3, gzip = true)
    val third = mkJob().runAll()
    assert(third(("app-a", "custom")) == 3)
    assert(third.values.sum == 3)
    assert(spark.read.parquet(s"${config.warehouseRoot}/Dataset_A/custom").count() == 18)
  }

  test("a failing tenant posts to the notifier and does not kill the sweep") {
    val notifier = new RecordingNotifier
    val failing = IngestJob(
      spark,
      config.copy(checkpointPath = s"$root/checkpoints2",
        warehouseRoot = s"$root/warehouse2"),
      new ParquetCheckpointStore(spark, s"$root/checkpoints2"),
      new WarehouseSink {
        override def load(df: org.apache.spark.sql.DataFrame,
            dataset: String, table: String): Unit =
          throw new RuntimeException("warehouse unavailable")
      },
      notifier)
    val res = failing.runAll()
    // jobs with pending data fail (-1) but the sweep completes
    assert(res.values.exists(_ == -1L))
    assert(res.size == 4)
    assert(notifier.messages.nonEmpty)
    assert(notifier.messages.forall(_._1 == "pipeline-errors"))
  }

  test("a file-less job halts the sweep and is retried next run") {
    val cfg = config.copy(
      checkpointPath = s"$root/checkpoints3",
      warehouseRoot = s"$root/warehouse3",
      tenants = Seq(TenantConfig("app-c", "Dataset_C")))
    val job = IngestJob(spark, cfg,
      new ParquetCheckpointStore(spark, cfg.checkpointPath),
      new ParquetWarehouseSink(cfg.warehouseRoot), new LogNotifier)

    // job 201 exists but its files haven't landed; 202 has data
    // (same dir name writeJob uses, so the files later land in place)
    new File(s"${cfg.exportRoot}/app-c/custom/2024-01-01_201").mkdirs()
    writeJob("app-c", "custom", 202, rows = 4, gzip = false)
    assert(job.run("app-c", "custom") == 0,
      "sweep must not advance past the file-less job")
    assert(!new File(cfg.checkpointPath).exists())

    // 201's files land → the retry picks up BOTH jobs in order
    writeJob("app-c", "custom", 201, rows = 3, gzip = true)
    assert(job.run("app-c", "custom") == 7)
    val ck = spark.read.parquet(cfg.checkpointPath)
      .filter(col("app_id") === "app-c")
      .orderBy(col("job_id")).select("job_id").collect().map(_.getLong(0))
    assert(ck.toSeq == Seq(201L, 202L))
  }

  test("JDBC (Derby) checkpoint store: roundtrip + incremental continuation") {
    val url = s"jdbc:derby:$root/ckpt_db;create=true"
    val store = new JdbcCheckpointStore(url)
    assert(store.findPreviousJobId("custom", "app-j").isEmpty)
    store.append(CheckpointEntry(11L, "custom",
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "app-j", None, None))
    store.append(CheckpointEntry(12L, "custom",
      java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), "app-j", Some(11L), None))
    store.append(CheckpointEntry(99L, "transaction",
      java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), "app-j", None, None))
    assert(store.findPreviousJobId("custom", "app-j").contains(12L))
    assert(store.findPreviousJobId("transaction", "app-j").contains(99L))
    assert(store.findPreviousJobId("custom", "other-app").isEmpty)
    // re-opening the same database sees the committed rows
    assert(new JdbcCheckpointStore(url)
      .findPreviousJobId("custom", "app-j").contains(12L))

    // the full ingest flow works unchanged over the JDBC store
    val cfg = config.copy(
      checkpointPath = "unused",
      warehouseRoot = s"$root/warehouse-jdbc",
      tenants = Seq(TenantConfig("app-j", "Dataset_J")),
      reportTypes = Seq("custom"))
    writeJob("app-j", "custom", 401, rows = 4, gzip = true)
    val job = IngestJob(spark, cfg, store,
      new ParquetWarehouseSink(cfg.warehouseRoot), new LogNotifier)
    assert(job.run("app-j", "custom") == 4)
    assert(store.findPreviousJobId("custom", "app-j").contains(401L))
    assert(job.run("app-j", "custom") == 0, "continuation must skip job 401")
  }

  test("re-run of a partially-committed job is idempotent (no duplicate rows)") {
    val cfg = config.copy(
      checkpointPath = s"$root/checkpoints4",
      warehouseRoot = s"$root/warehouse4",
      tenants = Seq(TenantConfig("app-d", "Dataset_D")),
      reportTypes = Seq("custom"))
    writeJob("app-d", "custom", 301, rows = 6, gzip = false)

    // Crash in the window between sink.load and checkpoint append: the
    // job's rows land in the warehouse but no checkpoint is written.
    val real = new ParquetCheckpointStore(spark, cfg.checkpointPath)
    val crashing = new CheckpointStore {
      override def findPreviousJobId(jobType: String, appId: String): Option[Long] =
        real.findPreviousJobId(jobType, appId)
      override def append(entry: CheckpointEntry): Unit =
        throw new RuntimeException("crash before checkpoint")
    }
    val sink = new ParquetWarehouseSink(cfg.warehouseRoot)
    val notifier = new RecordingNotifier
    assert(new IngestJob(spark, cfg, crashing, sink, notifier,
      new LocalDirExportClient(cfg.exportRoot),
      new ExportPoller(new LocalDirExportClient(cfg.exportRoot),
        pollIntervalMs = 0L, sleep = _ => ()))
      .runAll().values.toSeq == Seq(-1L))
    val target = s"${cfg.warehouseRoot}/Dataset_D/custom"
    assert(spark.read.parquet(target).count() == 6, "rows landed pre-crash")

    // The retry re-ingests job 301; dynamic partition overwrite on its
    // job_id partition must leave exactly one copy.
    val retried = IngestJob(spark, cfg, real, sink, new LogNotifier).runAll()
    assert(retried(("app-d", "custom")) == 6)
    assert(spark.read.parquet(target).count() == 6,
      "partially-committed job duplicated rows on retry")
    assert(real.findPreviousJobId("custom", "app-d").contains(301L))
  }

  private def dataFilesUnder(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) dataFilesUnder(f)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else Seq(f)
    }

  test("each export job is parsed once: input records equal rows committed") {
    val cfg = config.copy(
      checkpointPath = s"$root/checkpoints5",
      warehouseRoot = s"$root/warehouse5",
      tenants = Seq(TenantConfig("app-e", "Dataset_E")))
    writeJob("app-e", "custom", 501, rows = 9, gzip = true)
    writeJob("app-e", "custom", 502, rows = 6, gzip = false)
    writeJob("app-e", "transaction", 503, rows = 5, gzip = true)
    val (res, work) = SparkWork.measure(spark)(IngestJob(spark, cfg,
      new ParquetCheckpointStore(spark, cfg.checkpointPath),
      new ParquetWarehouseSink(cfg.warehouseRoot), new LogNotifier).runAll())
    assert(res == Map(("app-e", "custom") -> 15L, ("app-e", "transaction") -> 5L))
    assert(work.inputRecords == 20L,
      s"read ${work.inputRecords} input records for 20 committed rows")
    // one Spark job per export job: the sink's write
    assert(work.jobs <= 3, s"ran ${work.jobs} Spark jobs for 3 export jobs")
  }

  test("the sink's write plans no sort: the row count is observed below the job_id literal") {
    import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val cfg = config.copy(
      checkpointPath = s"$root/checkpoints10",
      warehouseRoot = s"$root/warehouse10",
      tenants = Seq(TenantConfig("app-w", "Dataset_W")),
      reportTypes = Seq("custom"))
    writeJob("app-w", "custom", 801, rows = 12, gzip = true)
    val helper = new AdaptiveSparkPlanHelper {}
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val warehouse = new File(cfg.warehouseRoot).getAbsolutePath
    // the sink's writes only, not the checkpoint store's
    def intoWarehouse(plan: SparkPlan) = plan.collectFirst {
      case DataWritingCommandExec(i: InsertIntoHadoopFsRelationCommand, _) => i.outputPath.toUri.getPath
    }.exists(_.startsWith(warehouse))
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (intoWarehouse(qe.executedPlan)) writes.add(qe.executedPlan): Unit
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val n =
      try IngestJob(spark, cfg, new ParquetCheckpointStore(spark, cfg.checkpointPath),
        new ParquetWarehouseSink(cfg.warehouseRoot), new LogNotifier).run("app-w", "custom")
      finally {
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    assert(n == 12)
    assert(writes.size == 1, s"captured ${writes.size} sink writes")
    val plan = writes.peek()
    assert(helper.find(plan)(_.isInstanceOf[SortExec]).isEmpty, s"the write sorts its rows:\n$plan")
  }

  test("a new export job compiles no code: the sink's write source is the same for every job id") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val cfg = config.copy(
      checkpointPath = s"$root/checkpoints17",
      warehouseRoot = s"$root/warehouse17",
      tenants = Seq(TenantConfig("app-v", "Dataset_V")),
      reportTypes = Seq("custom"))
    val job = IngestJob(spark, cfg, new ParquetCheckpointStore(spark, cfg.checkpointPath),
      new ParquetWarehouseSink(cfg.warehouseRoot), new LogNotifier)
    // the warm-up job compiles whatever this write shape needs
    writeJob("app-v", "custom", 1101, rows = 8, gzip = false)
    assert(job.run("app-v", "custom") == 8)

    // two ids no other write in this JVM uses
    val fresh = Seq(6000000001L, 6000000002L)
    fresh.foreach(writeJob("app-v", "custom", _, rows = 8, gzip = false))
    val helper = new AdaptiveSparkPlanHelper {}
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val warehouse = new File(cfg.warehouseRoot).getAbsolutePath
    def intoWarehouse(plan: SparkPlan) = plan.collectFirst {
      case DataWritingCommandExec(i: InsertIntoHadoopFsRelationCommand, _) => i.outputPath.toUri.getPath
    }.exists(_.startsWith(warehouse))
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (intoWarehouse(qe.executedPlan)) writes.add(qe.executedPlan): Unit
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val compiledBefore = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val n =
      try job.run("app-v", "custom")
      finally {
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiledBefore
    assert(n == 16)
    assert(writes.size == 2, s"captured ${writes.size} sink writes")
    val Seq(first, second) = writes.toArray(Array.empty[SparkPlan]).toSeq.map { plan =>
      helper.collect(plan) { case w: WholeStageCodegenExec => w.doCodeGen()._2.body }
    }
    assert(first.nonEmpty, "the sink's write has no whole-stage codegen")
    assert(first == second, "the generated write source depends on the job id")
    assert(compiled == 0, s"two new export jobs compiled $compiled classes")
  }

  test("job_id partitions keep long ids: directory names, read-back values, no job_id column in the files") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.types.LongType
    val cfg = config.copy(
      checkpointPath = s"$root/checkpoints18",
      warehouseRoot = s"$root/warehouse18",
      tenants = Seq(TenantConfig("app-u", "Dataset_U")),
      reportTypes = Seq("custom"))
    val ids = Seq(1201L, Int.MaxValue.toLong + 1, 5000000001L)
    ids.foreach(id => writeJob("app-u", "custom", id, rows = 3, gzip = id % 2 == 0))
    assert(IngestJob(spark, cfg, new ParquetCheckpointStore(spark, cfg.checkpointPath),
      new ParquetWarehouseSink(cfg.warehouseRoot), new LogNotifier).run("app-u", "custom") == 9)

    val table = new File(s"${cfg.warehouseRoot}/Dataset_U/custom")
    assert(table.listFiles().filter(_.isDirectory).map(_.getName).toSet ==
      ids.map(id => s"job_id=$id").toSet)
    val back = spark.read.parquet(table.getPath)
    assert(back.schema("job_id").dataType == LongType)
    assert(back.select("job_id").distinct().collect().map(_.getLong(0)).toSet == ids.toSet)

    val conf = spark.sparkContext.hadoopConfiguration
    val files = dataFilesUnder(table)
    assert(files.nonEmpty)
    files.foreach { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf),
        HadoopReadOptions.builder(conf).build())
      val columns =
        try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName)
        finally reader.close()
      assert(columns.contains("userid") && !columns.contains("job_id"),
        s"$f holds columns $columns")
    }
  }

  test("a lookup over an unchanged checkpoint listing launches no Spark job") {
    val path = s"$root/checkpoints6"
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def jobsOf[T](f: => T): (T, Int) = {
      val (r, work) = SparkWork.measure(spark)(f)
      (r, work.jobs)
    }
    val writer = new ParquetCheckpointStore(spark, path)
    writer.append(CheckpointEntry(1L, "custom", ts, "app-f", None, None))
    writer.append(CheckpointEntry(2L, "custom", ts, "app-g", None, None))
    // the store's own appends keep its index current
    val (own, ownJobs) = jobsOf(writer.findPreviousJobId("custom", "app-f"))
    assert(own.contains(1L) && ownJobs == 0, s"own-append lookup ran $ownJobs jobs")

    // a new instance reloads once (one scan), then answers from memory
    val reader = new ParquetCheckpointStore(spark, path)
    val (first, firstJobs) = jobsOf(reader.findPreviousJobId("custom", "app-g"))
    assert(first.contains(2L) && firstJobs == 1, s"reload ran $firstJobs jobs")
    val (again, againJobs) = jobsOf(reader.findPreviousJobId("custom", "app-f"))
    assert(again.contains(1L) && againJobs == 0, s"unchanged lookup ran $againJobs jobs")
    val (none, noneJobs) = jobsOf(
      new ParquetCheckpointStore(spark, s"$root/no-such-checkpoint").findPreviousJobId("custom", "app-f"))
    assert(none.isEmpty && noneJobs == 0)

    // the JDBC store's lookup is a prepared statement, not a Spark job
    val jdbc = new JdbcCheckpointStore(s"jdbc:derby:$root/ckpt_db6;create=true")
    jdbc.append(CheckpointEntry(3L, "custom", ts, "app-f", None, None))
    val (viaJdbc, jdbcJobs) = jobsOf(jdbc.findPreviousJobId("custom", "app-f"))
    assert(viaJdbc.contains(3L) && jdbcJobs == 0, s"JDBC lookup ran $jdbcJobs jobs")
  }

  test("an entry another store instance appends is seen by the next lookup") {
    val path = s"$root/checkpoints7"
    val a = new ParquetCheckpointStore(spark, path)
    val b = new ParquetCheckpointStore(spark, path)
    a.append(CheckpointEntry(10L, "custom",
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "app-h", None, None))
    assert(a.findPreviousJobId("custom", "app-h").contains(10L))
    assert(b.findPreviousJobId("custom", "app-h").contains(10L))
    b.append(CheckpointEntry(11L, "custom",
      java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), "app-h", Some(10L), None))
    assert(a.findPreviousJobId("custom", "app-h").contains(11L))
    a.append(CheckpointEntry(12L, "custom",
      java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), "app-h", Some(11L), None))
    assert(b.findPreviousJobId("custom", "app-h").contains(12L))
    assert(a.findPreviousJobId("custom", "app-h").contains(12L))
    // b commits a later entry, then a appends before looking up again:
    // a must not take b's file as its own
    b.append(CheckpointEntry(13L, "custom",
      java.sql.Timestamp.valueOf("2024-01-01 14:00:00"), "app-h", Some(12L), None))
    a.append(CheckpointEntry(14L, "custom",
      java.sql.Timestamp.valueOf("2024-01-01 13:00:00"), "app-h", Some(12L), None))
    assert(a.findPreviousJobId("custom", "app-h").contains(13L))
  }

  test("checkpoint tie-break: ts DESC, then job_id DESC") {
    val path = s"$root/checkpoints8"
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 10:00:01")
    val store = new ParquetCheckpointStore(spark, path)
    // equal ts: the greater job_id wins, in either append order
    store.append(CheckpointEntry(7L, "custom", t1, "app-i", None, None))
    store.append(CheckpointEntry(5L, "custom", t1, "app-i", None, None))
    // a later ts beats a greater job_id
    store.append(CheckpointEntry(9L, "transaction", t1, "app-i", None, None))
    store.append(CheckpointEntry(3L, "transaction", t2, "app-i", None, None))
    for (s <- Seq(store, new ParquetCheckpointStore(spark, path))) {
      assert(s.findPreviousJobId("custom", "app-i").contains(7L))
      assert(s.findPreviousJobId("transaction", "app-i").contains(3L))
    }
  }

  test("a checkpoint append launches no Spark job") {
    val store = new ParquetCheckpointStore(spark, s"$root/checkpoints11")
    val e = CheckpointEntry(1L, "custom",
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "app-x", None, None)
    val (_, work) = SparkWork.measure(spark)(store.append(e))
    assert(work.jobs == 0, s"append ran ${work.jobs} Spark jobs")
    assert(new ParquetCheckpointStore(spark, s"$root/checkpoints11")
      .findPreviousJobId("custom", "app-x").contains(1L))
  }

  test("checkpoint files written by Spark and by the store reload to the same answers") {
    import org.apache.spark.sql.{Encoders, SaveMode}
    import spark.implicits._
    val path = s"$root/checkpoints12"
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00.123456")
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00.123457")
    // the format of existing deployments: one Spark write per entry
    def sparkWrite(e: CheckpointEntry): Unit =
      Seq(e).toDS().write.mode(SaveMode.Append).parquet(path)
    val store = new ParquetCheckpointStore(spark, path)
    val bySpark = Seq(
      CheckpointEntry(5L, "custom", t1, "app-m", None, Some("2024-01-01/2024-01-02")),
      CheckpointEntry(3L, "transaction", t2, "app-m", Some(1L), None),
      CheckpointEntry(8L, "custom", t1, "app-n", Some(2L), Some("r")))
    val byStore = Seq(
      CheckpointEntry(7L, "custom", t1, "app-m", Some(5L), None),
      CheckpointEntry(9L, "transaction", t1, "app-m", None, Some("2024-01-03/2024-01-04")),
      CheckpointEntry(6L, "custom", t1, "app-n", None, None))
    bySpark.zip(byStore).foreach { case (a, b) => sparkWrite(a); store.append(b) }

    // ts DESC, job_id DESC across the two writers: a tie on ts goes to
    // the greater job id whichever wrote it; a later ts wins outright
    val expected = Map(("custom", "app-m") -> 7L, ("transaction", "app-m") -> 3L, ("custom", "app-n") -> 8L)
    def answers(s: CheckpointStore) =
      expected.keys.map { case (t, a) => (t, a) -> s.findPreviousJobId(t, a).get }.toMap
    assert(answers(store) == expected)
    assert(answers(new ParquetCheckpointStore(spark, path)) == expected)

    // exact round trip: sub-millisecond micros, Some and None
    def readAll() = spark.read.schema(Encoders.product[CheckpointEntry].schema).parquet(path)
      .as[CheckpointEntry].collect().toSet
    assert(readAll() == (bySpark ++ byStore).toSet)

    // a leftover hidden temp file is not a checkpoint file
    val leftover = new File(path, ".part-leftover.parquet.tmp")
    java.nio.file.Files.write(leftover.toPath, "not parquet".getBytes(StandardCharsets.UTF_8))
    val (same, work) = SparkWork.measure(spark)(answers(store))
    assert(same == expected && work.jobs == 0, s"the leftover changed the listing: ${work.jobs} jobs")
    assert(answers(new ParquetCheckpointStore(spark, path)) == expected)
    assert(readAll() == (bySpark ++ byStore).toSet)
  }

  /** `10:00:<sec>.<micros>` on 2024-01-01: whole micros, below the ms. */
  private def at(sec: Int, micros: Int): java.sql.Timestamp = {
    val t = java.sql.Timestamp.valueOf(f"2024-01-01 10:00:$sec%02d")
    t.setNanos(micros * 1000)
    t
  }

  /** The reference's lookup, brute force over every entry. */
  private def latestPerKey(es: Seq[CheckpointEntry]): Map[(String, String), Long] =
    es.groupBy(e => (e.job_type, e.app_id)).map { case (k, g) => k -> g.maxBy(e => (e.ts.toInstant, e.job_id)).job_id }

  private def answers(s: CheckpointStore, keys: Iterable[(String, String)]) =
    keys.map { case (t, a) => (t, a) -> s.findPreviousJobId(t, a).get }.toMap

  /** Every row of the checkpoint directory, as plain Spark reads it, in
    * job_id order: the multiset of entries, copies included. */
  private def entriesIn(dir: String): Seq[CheckpointEntry] = {
    import spark.implicits._
    spark.read.parquet(dir).as[CheckpointEntry].collect().toSeq.sortBy(_.job_id)
  }

  test("1,000 checkpoint appends leave at most 10 files, and a fresh store answers as a latest-per-key fold") {
    val path = s"$root/checkpoints14"
    val rnd = new scala.util.Random(14)
    val entries = (1 to 1000).map { i =>
      // 60 seconds x 3 micros: many ts ties across the 12 keys
      CheckpointEntry(i.toLong, Seq("custom", "transaction", "appStart")(rnd.nextInt(3)),
        at(rnd.nextInt(60), rnd.nextInt(3)), s"app-${rnd.nextInt(4)}",
        Some(i - 1L).filter(_ > 0), if (i % 7 == 0) Some(s"r$i") else None)
    }
    val store = new ParquetCheckpointStore(spark, path)
    val (_, appendWork) = SparkWork.measure(spark)(entries.foreach(store.append))
    assert(appendWork.jobs == 0, s"1,000 appends ran ${appendWork.jobs} Spark jobs")
    val files = dataFilesUnder(new File(path)).map(_.getName).toSet
    assert(files.size <= 10, s"${files.size} checkpoint files after 1,000 appends")

    val expected = latestPerKey(entries)
    assert(answers(store, expected.keys) == expected)
    val fresh = new ParquetCheckpointStore(spark, path)
    val (got, reloadWork) = SparkWork.measure(spark)(answers(fresh, expected.keys))
    assert(got == expected)
    assert(reloadWork.jobs == 1, s"the reload ran ${reloadWork.jobs} Spark jobs")
    // lookups never write
    assert(dataFilesUnder(new File(path)).map(_.getName).toSet == files)
    // none lost, none doubled, every column exact
    assert(entriesIn(path) == entries)
  }

  test("Spark-written checkpoint files fold into the store's merges and round-trip exactly") {
    import org.apache.spark.sql.SaveMode
    import spark.implicits._
    val path = s"$root/checkpoints15"
    def entry(i: Int) = CheckpointEntry(i.toLong, Seq("custom", "transaction")(i % 2),
      at(i % 4, 123456 + i % 3), s"app-${i % 3}",
      if (i % 2 == 0) Some(i - 1L) else None, if (i % 3 == 0) Some(s"2024-01-0${i % 9 + 1}") else None)
    val legacy = (1 to 30).map(entry)
    legacy.foreach(e => Seq(e).toDS().write.mode(SaveMode.Append).parquet(path))
    assert(dataFilesUnder(new File(path)).size == 30)

    val store = new ParquetCheckpointStore(spark, path)
    assert(answers(store, latestPerKey(legacy).keys) == latestPerKey(legacy))
    val added = (31 to 40).map(entry)
    added.foreach(store.append)
    val all = legacy ++ added
    val files = dataFilesUnder(new File(path))
    assert(files.size <= 6, s"${files.size} checkpoint files hold 40 entries")
    assert(entriesIn(path) == all)
    for (s <- Seq(store, new ParquetCheckpointStore(spark, path))) {
      assert(answers(s, latestPerKey(all).keys) == latestPerKey(all))
      assert(s.findPreviousJobId("custom", "no-such-app").isEmpty)
    }
  }

  test("a merge cut short by a failed delete keeps lookups right, and the next merge writes each row once") {
    spark.sparkContext.hadoopConfiguration.set("fs.nodelete.impl", classOf[NoDeleteFs].getName)
    val dir = new File(s"$root/checkpoints16").getAbsolutePath
    val path = s"nodelete://$dir"
    val es = (1 to 3).map(i => CheckpointEntry(i.toLong, "custom", at(i, 7), "app-q", Some(i - 1L), None))
    val store = new ParquetCheckpointStore(spark, path)
    store.append(es(0))
    NoDeleteFs.refuses = _.startsWith(s"$dir/")
    try store.append(es(1)) finally NoDeleteFs.refuses = _ => false
    // the merged file landed; both of its inputs stayed
    assert(dataFilesUnder(new File(dir)).size == 3)
    assert(entriesIn(dir) == Seq(es(0), es(0), es(1), es(1)))
    val fresh = new ParquetCheckpointStore(spark, path)
    for (s <- Seq(store, fresh)) assert(s.findPreviousJobId("custom", "app-q").contains(2L))

    // the next merge holds both copies: it writes them once and deletes
    // every file its output covers
    fresh.append(es(2))
    assert(entriesIn(dir) == es)
    assert(dataFilesUnder(new File(dir)).size <= 2)
    for (s <- Seq(store, fresh, new ParquetCheckpointStore(spark, path)))
      assert(s.findPreviousJobId("custom", "app-q").contains(3L))
  }

  test("a checkpoint append that cannot write throws, commits nothing, and the rerun ingests once") {
    val blocker = new File(s"$root/blocker")
    java.nio.file.Files.write(blocker.toPath, "a regular file".getBytes(StandardCharsets.UTF_8))
    val badPath = s"${blocker.getPath}/checkpoints"
    val bad = new ParquetCheckpointStore(spark, badPath)
    intercept[Exception] {
      bad.append(CheckpointEntry(1L, "custom",
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "app-y", None, None))
    }
    assert(bad.findPreviousJobId("custom", "app-y").isEmpty)
    assert(dataFilesUnder(blocker).isEmpty && blocker.isFile)

    val cfg = config.copy(
      checkpointPath = s"$root/checkpoints13",
      warehouseRoot = s"$root/warehouse13",
      tenants = Seq(TenantConfig("app-y", "Dataset_Y")),
      reportTypes = Seq("custom"))
    writeJob("app-y", "custom", 901, rows = 5, gzip = false)
    val sink = new ParquetWarehouseSink(cfg.warehouseRoot)
    val notifier = new RecordingNotifier
    assert(IngestJob(spark, cfg, bad, sink, notifier).runAll() == Map(("app-y", "custom") -> -1L))
    assert(notifier.messages.size == 1, s"messages: ${notifier.messages}")

    val good = new ParquetCheckpointStore(spark, cfg.checkpointPath)
    assert(IngestJob(spark, cfg, good, sink, new LogNotifier).runAll() == Map(("app-y", "custom") -> 5L))
    assert(spark.read.parquet(s"${cfg.warehouseRoot}/Dataset_Y/custom").count() == 5)
    assert(good.findPreviousJobId("custom", "app-y").contains(901L))
  }

  test("a job whose files hold zero records halts with no checkpoint and no data file") {
    val cfg = config.copy(
      checkpointPath = s"$root/checkpoints9",
      warehouseRoot = s"$root/warehouse9",
      tenants = Seq(TenantConfig("app-z", "Dataset_Z")),
      reportTypes = Seq("custom"))
    // a non-empty gzip file that decompresses to nothing, then a job
    // with data behind it
    writeJob("app-z", "custom", 601, rows = 0, gzip = true)
    writeJob("app-z", "custom", 602, rows = 4, gzip = false)
    val store = new ParquetCheckpointStore(spark, cfg.checkpointPath)
    val job = IngestJob(spark, cfg, store,
      new ParquetWarehouseSink(cfg.warehouseRoot), new LogNotifier)
    assert(job.run("app-z", "custom") == 0, "sweep must not advance past the zero-row job")
    assert(store.findPreviousJobId("custom", "app-z").isEmpty)
    assert(dataFilesUnder(new File(cfg.checkpointPath)).isEmpty)
    assert(dataFilesUnder(new File(cfg.warehouseRoot)).isEmpty,
      s"zero-row write committed ${dataFilesUnder(new File(cfg.warehouseRoot))}")
  }

  test("unknown tenant is rejected") {
    intercept[IllegalArgumentException] {
      mkJob().run("no-such-app", "custom")
    }
  }

  test("config validation fails fast") {
    intercept[IllegalArgumentException] {
      PipelineConfig("", "w", "c", Seq(TenantConfig("a", "d")), Seq("custom"))
    }
    intercept[IllegalArgumentException] {
      PipelineConfig("e", "w", "c", Seq.empty, Seq("custom"))
    }
    intercept[IllegalArgumentException] {
      PipelineConfig("e", "w", "c",
        Seq(TenantConfig("a", "d1"), TenantConfig("a", "d2")), Seq("custom"))
    }
  }
}
