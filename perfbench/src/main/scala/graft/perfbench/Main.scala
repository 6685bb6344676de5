package graft.perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.{GraftSession, SparkEntry}
import graft.pipeline._

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`. Prints progress to stderr and, as the last line of
  * stdout, one JSON object with the keys correct, attempted, failed and
  * metrics. Exits 1 when an output check failed. */
object Main {
  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val bench = new Bench(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      traced = need("trace") == "1",
      work = new File(need("work")))
    val result = bench.run()
    println(result.json)
    System.out.flush()
    sys.exit(if (result.correct) 0 else 1)
  }
}

final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      s"${Stats.quote(n)}: {\"value\": ${Stats.num(v)}, \"unit\": ${Stats.quote(u)}}"
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** One benchmark run: set-up, input generation, the timed closed loop
  * of one workload, output checks and the metrics. */
final class Bench(workload: String, seed: Long, seconds: Double, traced: Boolean,
    work: File) {

  /** `GraftSession.local(nproc)`: one local executor slot per core. */
  private val Cores = Runtime.getRuntime.availableProcessors()

  private val Tenants = ExportTreeGen.tenantIds(2)
  private val Types = ExportTreeGen.ReportTypes
  private def dataset(app: String) = s"Dataset_${Tenants.indexOf(app)}"

  private var attempted = 0L
  private var failed = 0L

  /** Records one checked outcome. */
  private def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; log(s"CHECK FAILED: $what") }
  }

  private def log(s: String): Unit = System.err.println(
    f"[perfbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%6.1fs] $s")

  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private val phases = new PhaseListener
  private val chains = new ChainClock

  // per-op records
  private val opWallS = mutable.ArrayBuffer.empty[Double]
  private val opTraced = mutable.ArrayBuffer.empty[Boolean]
  private val opGcMs = mutable.ArrayBuffer.empty[Long]
  private val itemMs = mutable.ArrayBuffer.empty[Double]
  private val heapMb = mutable.ArrayBuffer.empty[Double]
  private val heavyS = mutable.ArrayBuffer.empty[Double]
  private var storageRatio = 0.0
  private var setupS = 0.0
  private val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def note(name: String, v: Double): Unit = layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def run(): Result = {
    Stats.deleteTree(work)
    work.mkdirs()
    setUp()
    workload match {
      case "ingest"    => ingest()
      case "query_mix" => queryMix()
      case other       => sys.error(s"unknown workload $other")
    }
    ListenerBusDrain(spark.sparkContext)
    spark.stop()
    if (traced) writeSpans()
    log(f"ops=${opWallS.size} op_s=${opWallS.map(x => f"$x%.2f").mkString(",")} " +
      f"items=${itemMs.size} heap=${heapMb.map(h => f"$h%.1f").mkString(",")} attempted=$attempted failed=$failed")
    val metrics =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("heavy_s", Stats.median(heavyS.toSeq), "s"),
        ("op_s", Stats.median(untracedWalls), "s"),
        ("item_p50_ms", Stats.median(itemMs.toSeq), "ms"),
        ("storage_bytes_per_input_byte", storageRatio, "ratio"),
        ("driver_heap_mb", Stats.median(heapMb.toSeq), "MB"))
      else layerMetrics()
    Result(failed == 0, math.max(1L, attempted), failed, metrics)
  }

  /** The first operation counted in `op_s`: on `ingest` operation 0 is
    * the bulk load, which `heavy_s` reports instead. */
  private val WarmOps = if (workload == "ingest") 1 else 0
  private def untracedWalls: Seq[Double] =
    opWallS.indices.filter(i => !opTraced(i) && i >= WarmOps).map(opWallS)

  /** Time the benchmark spends on its own work before the first timed
    * operation (input generation, heap measurement); `setup_s` leaves
    * it out. */
  private var asideNs = 0L
  private def aside[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally asideNs += System.nanoTime() - t0
  }

  // ---------------------------------------------------------------- set-up

  /** The cold set-up every scheduled run pays: JVM start, session
    * start and a fixed warm-up (one tiny ingest sweep and one
    * aggregate). `setup_s` runs on to the first timed operation, so on
    * `query_mix` it also holds the discarded warm-up passes. */
  private def setUp(): Unit = {
    spark = GraftSession.local(Cores.toString)
    warmUp(spark, new File(work, "warm"))
    tracer = new Tracer(Some(spark.sparkContext))
    spark.sparkContext.addSparkListener(new SpanListener(tracer))
    spark.listenerManager.register(phases)
  }

  private def warmUp(s: SparkSession, dir: File): Unit = {
    val tree = new File(dir, "export")
    ExportTreeGen.writeJob(tree, seed, Tenants.head, Types.head, 1L, 50, 1, gzip = true)
    val cfg = config(dir, Seq(Tenants.head), Seq(Types.head))
    val n = IngestJob(s, cfg, new ParquetCheckpointStore(s, cfg.checkpointPath),
      new ParquetWarehouseSink(cfg.warehouseRoot), new LogNotifier).runAll()
    check(n.values.toSeq == Seq(50L), s"warm-up ingest returned $n")
    s.range(100000).selectExpr("sum(id % 7) AS s").write.format("noop").mode("overwrite").save()
  }

  private def config(dir: File, tenants: Seq[String], types: Seq[String]) = PipelineConfig(
    exportRoot = new File(dir, "export").getPath,
    warehouseRoot = new File(dir, "warehouse").getPath,
    checkpointPath = new File(dir, "checkpoints").getPath,
    tenants = tenants.map(t => TenantConfig(t, dataset(t))),
    reportTypes = types)

  /** The program's ingest loop, built through its public constructor
    * with timing decorators around the three service boundaries. */
  private def ingestJob(cfg: PipelineConfig): IngestJob = {
    val client = new TimedExportClient(new LocalDirExportClient(cfg.exportRoot), tracer, chains)
    new IngestJob(spark, cfg,
      new TimedCheckpointStore(new ParquetCheckpointStore(spark, cfg.checkpointPath), tracer, chains),
      new TimedWarehouseSink(new ParquetWarehouseSink(cfg.warehouseRoot), tracer),
      new LogNotifier, client, new ExportPoller(client, pollIntervalMs = 0L, sleep = _ => ()))
  }

  // --------------------------------------------------------------- op loop

  /** Closed loop: `minOps` operations, then more, up to `maxOps`, until
    * `seconds` have passed. `setup_s` is taken as it starts: JVM uptime
    * less the benchmark's own work. In a traced run untraced and traced
    * operations alternate from [[WarmOps]] on; the untraced ones are
    * the base of the tracing overhead. */
  private def loop(minOps: Int, maxOps: Int)(op: Int => Unit): Unit = {
    setupS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0 - asideNs / 1e9
    log(f"set-up: $setupS%.2f s")
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || (i < maxOps && (System.nanoTime() - t0) / 1e9 < seconds)) {
      op(i)
      i += 1
    }
  }

  /** Times `body` as operation number `i`; traced when the run is and
    * `i` is a traced slot of [[loop]], or when `alsoTrace`. */
  private def timedOp[T](i: Int, alsoTrace: Boolean = false)(body: => T): T = {
    val on = traced && (alsoTrace || i >= WarmOps && (i - WarmOps) % 2 == 1)
    ListenerBusDrain(spark.sparkContext)
    tracer.run = i
    tracer.active = on
    phases.active = on
    val gc0 = Stats.gcMs()
    val root = tracer.begin("op")
    val t0 = System.nanoTime()
    val r = try body finally {
      val dt = (System.nanoTime() - t0) / 1e9
      tracer.end(root)
      tracer.active = false
      opWallS += dt
      opTraced += on
      opGcMs += Stats.gcMs() - gc0
    }
    ListenerBusDrain(spark.sparkContext)
    phases.active = false
    r
  }

  /** Driver heap still in use after a full collection, outside the
    * clock: between ingest operations, and on `query_mix` right after
    * each query's build in the cold pass. */
  private def noteHeap(): Unit = heapMb += aside(Stats.heapAfterGcMb())

  private def chainLatencies(): Seq[Double] = {
    val l = chains.latenciesNs.map(_ / 1e6).toSeq
    chains.latenciesNs.clear()
    l
  }

  // ------------------------------------------------------------- ingest

  /** The reference's job over 2 tenants x 5 report types, against one
    * warehouse and checkpoint. Operation 0 is the bulk first load:
    * [[BulkJobs]] jobs of two files per chain, each gzip or plain by the
    * seed, one tenant (chosen by the seed) carrying three quarters of
    * [[BulkRows]]. Operations 1 to [[Rounds]] are scheduled rounds: one
    * small job lands on each of a seeded subset of chains, then
    * `runAll`. A no-op sweep over the unchanged tree ends the run. */
  private val BulkRows = 120000
  private val BulkJobs = 2
  private val Rounds = 3

  private def ingest(): Unit = {
    val chainsPerRound = 3
    val rowsPerJob = 200
    val dir = new File(work, "ingest")
    val cfg = config(dir, Tenants, Types)
    val rnd = new java.util.SplittableRandom(seed)
    val allChains = for (app <- Tenants; tpe <- Types) yield (app, tpe)
    val weights = ExportTreeGen.tenantWeights(seed, Tenants.size)
    var nextJob = 1000L
    val gen0 = System.nanoTime()
    val bulk = allChains.flatMap { case (app, tpe) =>
      val share = weights(Tenants.indexOf(app)) * (0.9 + 0.2 * rnd.nextDouble()) / Types.size / BulkJobs
      (1 to BulkJobs).map { _ =>
        nextJob += 1 + rnd.nextInt(3)
        ExportTreeGen.writeJob(new File(cfg.exportRoot), seed, app, tpe, nextJob,
          math.max(1, (BulkRows * share).round.toInt), parts = 2, gzip = rnd.nextBoolean())
      }
    }
    // every round's jobs, generated before timing into a staging tree
    val staging = new File(dir, "staging")
    val rounds = (1 to Rounds).map { _ =>
      rnd.ints(0, allChains.size).distinct().limit(chainsPerRound).toArray.toSeq.map { c =>
        val (app, tpe) = allChains(c)
        nextJob += 1
        ExportTreeGen.writeJob(staging, seed, app, tpe, nextJob, rowsPerJob, parts = 1,
          gzip = rnd.nextBoolean())
      }
    }
    asideNs += System.nanoTime() - gen0
    log(s"ingest: bulk ${bulk.size} jobs, ${bulk.map(_.rows).sum} rows; ${rounds.size} rounds staged")

    val job = ingestJob(cfg)
    val landed = mutable.ArrayBuffer.empty[GenJob]
    loop(minOps = Rounds + 1, maxOps = Rounds + 1) { i =>
      val jobs = if (i == 0) bulk else rounds(i - 1)
      val filesBefore = Stats.dataFiles(new File(cfg.warehouseRoot))
      val rows = timedOp(i, alsoTrace = i == 0) {
        if (i > 0) jobs.foreach { j =>
          val to = new File(cfg.exportRoot, s"${j.appId}/${j.jobType}/${new File(j.dir).getName}")
          to.getParentFile.mkdirs()
          java.nio.file.Files.move(new File(j.dir).toPath, to.toPath)
        }
        job.runAll()
      }
      val latencies = chainLatencies()
      if (i > 0) itemMs ++= latencies
      landed ++= jobs
      val want = jobs.groupBy(j => (j.appId, j.jobType)).view.mapValues(_.map(_.rows).sum).toMap
      for (c <- allChains)
        check(rows.get(c).contains(want.getOrElse(c, 0L)), s"op $i: $c committed ${rows.get(c)}")
      if (opTraced(i)) pipelineLayer(i, dir, jobs.map(_.rows).sum, filesBefore)
      noteHeap()
    }
    heavyS += opWallS(0)
    checkLanded(landed.toSeq, cfg)
    noopSweep(job, cfg, landed.toSeq)
    val stored = Stats.du(new File(cfg.warehouseRoot))._2 + Stats.du(new File(cfg.checkpointPath))._2
    storageRatio = stored / landed.map(_.bytesUncompressed).sum.toDouble
  }

  /** Output checks after an ingest: the job_id partitions equal the
    * landed jobs, and the warehouse row counts per (dataset, table),
    * read back, equal the generated rows. */
  private def checkLanded(landed: Seq[GenJob], cfg: PipelineConfig): Unit = {
    val byChain = landed.groupBy(j => (j.appId, j.jobType))
    for (app <- Tenants; tpe <- Types) {
      val jobs = byChain.getOrElse((app, tpe), Nil)
      val table = new File(cfg.warehouseRoot, s"${dataset(app)}/$tpe")
      val parts = Option(table.list()).getOrElse(Array.empty[String])
        .filter(_.startsWith("job_id=")).map(_.stripPrefix("job_id=").toLong).toSet
      check(parts == jobs.map(_.jobId).toSet,
        s"$app/$tpe job_id partitions ${parts.toSeq.sorted} != landed ${jobs.map(_.jobId)}")
    }
    // one scan over every loaded table, counted per (dataset, table)
    val tables = byChain.keys.toSeq.map { case (app, tpe) => s"${cfg.warehouseRoot}/${dataset(app)}/$tpe" }
    val counted = tables.map(t => spark.read.parquet(t).select(lit(t).as("t")))
      .reduce(_ union _).groupBy("t").count().collect()
      .map(r => r.getString(0).drop(cfg.warehouseRoot.length + 1) -> r.getLong(1)).toMap
    for (((app, tpe), jobs) <- byChain) {
      val n = counted.getOrElse(s"${dataset(app)}/$tpe", 0L)
      check(n == jobs.map(_.rows).sum, s"$app/$tpe warehouse rows $n != generated ${jobs.map(_.rows).sum}")
    }
  }

  /** A no-op sweep over an unchanged tree: commits nothing, writes no
    * file, and its lookups return the last landed job of every chain. */
  private def noopSweep(job: IngestJob, cfg: PipelineConfig, landed: Seq[GenJob]): Unit = {
    val before = (Stats.du(new File(cfg.warehouseRoot)), Stats.du(new File(cfg.checkpointPath)))
    chains.lookups.clear()
    val t0 = System.nanoTime()
    val rows = job.runAll()
    note("pipeline.noop_sweep_s", (System.nanoTime() - t0) / 1e9)
    chainLatencies()
    check(rows.values.forall(_ == 0L), s"no-op sweep committed rows: ${rows.filter(_._2 != 0)}")
    val after = (Stats.du(new File(cfg.warehouseRoot)), Stats.du(new File(cfg.checkpointPath)))
    check(before == after, s"no-op sweep wrote files: $before -> $after")
    val last = landed.groupBy(j => (j.appId, j.jobType)).view.mapValues(_.map(_.jobId).max).toMap
    for (app <- Tenants; tpe <- Types)
      check(chains.lookups.get((app, tpe)).flatten == last.get((app, tpe)),
        s"$app/$tpe checkpoint high-water mark ${chains.lookups.get((app, tpe))} != ${last.get((app, tpe))}")
  }

  // ---------------------------------------------------------- query_mix

  /** The fixed query set: light relational keys where the final action
    * dominates (hash and percentile aggregates, sort-merge join, window),
    * whose per-key medians `item_p50_ms` takes the median of, and the
    * [[HeavyKeys]]. */
  val QueryKeys: Seq[String] = Seq(
    "q_agg_hash", "q_agg_percentile_cont", "q_join_sortmerge", "q_win_sessionize",
    "q_embed_pca", "q_dedup_jaccard")

  /** The keys `heavy_s` sums: an iterative key where driver-side build
    * dominates (PCA training, about 20 jobs before the query returns
    * its DataFrame) and an executor-bound key (Jaccard self-join). */
  val HeavyKeys: Set[String] = Set("q_embed_pca", "q_dedup_jaccard")

  /** Passes over [[QueryKeys]] on seeded fixture tables, in an order the
    * seed permutes per pass. Each query is built, then collected; its
    * result is hashed after the clock stops and must match the cold
    * pass's. The cold pass and [[WarmPasses]] more are the discarded
    * warm-up, inside `setup_s`; the passes after them are timed. */
  private val WarmPasses = 1

  private def queryMix(): Unit = {
    val sfDir = new File(work, "tables/sf").getPath
    val rows = aside(FixtureGen.write(spark, sfDir, seed, scale = 0.25))
    log(s"query_mix tables: $rows")
    val registry = SparkEntry.queries
    // the cold pass measures the driver heap right after each registry
    // function returns its DataFrame, with the driver-side state of its
    // build still held
    val out = mutable.ArrayBuffer.empty[(String, Array[Row])]
    QueryKeys.foreach { k =>
      val df = registry(k)(spark, sfDir)
      noteHeap()
      out += k -> df.collect()
    }
    log(s"heap after build, MB: ${QueryKeys.zip(heapMb).map { case (k, h) => f"$k=$h%.1f" }.mkString(" ")}")
    val want = out.map { case (k, rows) =>
      check(rows.nonEmpty, s"$k returned no rows")
      k -> Stats.canonicalHash(rows)
    }.toMap
    out.clear()
    val rnd = new scala.util.Random(seed)

    /** One pass; returns each key's wall time in ms. */
    def pass(): Seq[(String, Double)] = rnd.shuffle(QueryKeys).map { k =>
      attempted += 1
      val t0 = System.nanoTime()
      try tracer.span(s"query:$k") {
        val df = tracer.span("query.build")(registry(k)(spark, sfDir))
        out += k -> tracer.span("query.action")(df.collect())
      } catch {
        case e: Exception => failed += 1; log(s"query $k failed: $e")
      }
      k -> (System.nanoTime() - t0) / 1e6
    }
    def checkPass(name: String): Unit = {
      for ((k, rows) <- out)
        check(Stats.canonicalHash(rows) == want(k), s"$k result changed in $name")
      out.clear()
    }

    for (w <- 1 to WarmPasses) {
      val ms = pass()
      log(f"warm-up pass $w: ${ms.map(_._2).sum / 1e3}%.2f s")
      checkPass(s"warm-up pass $w")
    }
    val lightMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    loop(minOps = 2, maxOps = 20) { i =>
      val ms = timedOp(i)(pass())
      val (heavy, light) = ms.partition { case (k, _) => HeavyKeys(k) }
      light.foreach { case (k, t) => lightMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += t }
      if (!opTraced(i)) heavyS += heavy.map(_._2).sum / 1e3
      checkPass(s"pass $i")
      if (opTraced(i)) queryLayer(i)
    }
    // a median over the keys of each key's median: the pooled median of
    // 8 samples from 4 keys rests on the two samples at the boundary
    // between two keys
    itemMs ++= lightMs.values.map(v => Stats.median(v.toSeq))
    val fixtureOut = new File(sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR", "."))
    storageRatio = Stats.du(fixtureOut)._2.toDouble / Stats.du(new File(sfDir))._2
  }

  // ------------------------------------------------------ per-layer data

  private def spansOf(run: Int, name: String): Seq[Span] =
    tracer.spans.toSeq.filter(s => s.run == run && s.name == name)

  private def opTotals(run: Int): Counters = {
    val c = new Counters
    tracer.spans.filter(_.run == run).foreach(s => c.add(s.counters))
    c
  }

  private def sumCounters(spans: Seq[Span]): Counters = {
    val c = new Counters
    spans.foreach(s => c.add(s.counters))
    c
  }

  /** Layer figures of one traced ingest operation. The read, parse and
    * sink figures come from the bulk load (operation 0), where bytes
    * dominate; the checkpoint, scheduling and Spark-layer figures from
    * the traced rounds, where per-job overhead does. */
  private def pipelineLayer(run: Int, state: File, rows: Long, filesBefore: Int): Unit = {
    val tot = opTotals(run)
    val appends = spansOf(run, "checkpoint.append")
    if (run == 0) {
      val readParse = spansOf(run, "read_parse")
      val loads = spansOf(run, "sink.load")
      note("pipeline.read_parse_s", readParse.map(_.durNs).sum / 1e9)
      note("pipeline.read_records_per_row",
        (sumCounters(readParse).inputRecords + sumCounters(loads).inputRecords).toDouble / math.max(1L, rows))
      note("pipeline.sink.load_s", loads.map(_.durNs).sum / 1e9)
      note("pipeline.sink.files_written", Stats.dataFiles(new File(state, "warehouse")) - filesBefore)
      note("pipeline.sink.bytes_written", sumCounters(loads).outputBytes.toDouble)
      note("pipeline.core_util", tot.runNs / 1e9 / (Cores * opWallS(run)))
    } else {
      val lookups = spansOf(run, "checkpoint.lookup")
      lookups.foreach(s => note("lookup_ms", s.durNs / 1e6))
      appends.foreach(s => note("append_ms", s.durNs / 1e6))
      spansOf(run, "export.request").foreach(s => note("request_ms", s.durNs / 1e6))
      note("pipeline.checkpoint.lookup_calls", lookups.size)
      note("pipeline.checkpoint.lookup_spark_jobs", sumCounters(lookups).jobs.toDouble)
      note("pipeline.checkpoint.files", Stats.dataFiles(new File(state, "checkpoints")))
      note("pipeline.checkpoint.append_calls", appends.size)
      note("pipeline.spark_jobs_per_export_job", tot.jobs.toDouble / math.max(1, appends.size))
      sparkLayer(run)
    }
  }

  /** Layer figures of one traced query pass. */
  private def queryLayer(run: Int): Unit = {
    val builds = spansOf(run, "query.build")
    val actions = spansOf(run, "query.action")
    val tot = opTotals(run)
    val buildS = builds.map(_.durNs).sum / 1e9
    note("queries.build_s", buildS)
    note("queries.build_share", buildS / opWallS(run))
    note("queries.build_jobs", sumCounters(builds).jobs.toDouble)
    note("queries.action_s", actions.map(_.durNs).sum / 1e9)
    note("queries.jobs", tot.jobs.toDouble)
    note("queries.tasks_per_job", tot.tasks.toDouble / math.max(1L, tot.jobs))
    sparkLayer(run)
  }

  private def sparkLayer(run: Int): Unit = {
    val tot = opTotals(run)
    val wall = opWallS(run)
    phases.synchronized {
      note("catalyst.analysis_ms", phases.phaseMs("analysis").toDouble)
      note("catalyst.optimization_ms", phases.phaseMs("optimization").toDouble)
      note("catalyst.planning_ms", phases.phaseMs("planning").toDouble)
    }
    phases.reset()
    note("scheduler.delay_ms", tot.schedDelayMs.toDouble)
    note("executor.run_s", tot.runNs / 1e9)
    note("executor.cpu_s", tot.cpuNs / 1e9)
    note("executor.core_util", tot.runNs / 1e9 / (Cores * wall))
    note("shuffle.read_bytes", tot.shuffleReadBytes.toDouble)
    note("shuffle.write_bytes", tot.shuffleWriteBytes.toDouble)
    note("spill.bytes", tot.spillBytes.toDouble)
    note("gc.task_ms", tot.gcMs.toDouble)
    note("gc.driver_ms", opGcMs(run).toDouble)
  }

  /** Every per-layer metric, named as in BENCHMARK.json. Figures noted
    * once per traced operation are averaged over those operations;
    * span latencies are medians over all spans of that name. Layers a
    * workload does not run read 0. */
  private def layerMetrics(): Seq[(String, Double, String)] = {
    def mean(k: String) = layer.get(k).map(v => v.sum / v.size).getOrElse(0.0)
    def p50(k: String) = layer.get(k).map(v => Stats.median(v.toSeq)).getOrElse(0.0)
    val tracedWalls = opWallS.indices.filter(i => opTraced(i) && i >= WarmOps).map(opWallS)
    Seq(
      ("pipeline.checkpoint.lookup_ms", p50("lookup_ms"), "ms"),
      ("pipeline.checkpoint.lookup_calls", mean("pipeline.checkpoint.lookup_calls"), "count"),
      ("pipeline.checkpoint.lookup_spark_jobs", mean("pipeline.checkpoint.lookup_spark_jobs"), "count"),
      ("pipeline.checkpoint.files", mean("pipeline.checkpoint.files"), "count"),
      ("pipeline.checkpoint.append_ms", p50("append_ms"), "ms"),
      ("pipeline.checkpoint.append_calls", mean("pipeline.checkpoint.append_calls"), "count"),
      ("pipeline.export.request_ms", p50("request_ms"), "ms"),
      ("pipeline.read_parse_s", mean("pipeline.read_parse_s"), "s"),
      ("pipeline.read_records_per_row", mean("pipeline.read_records_per_row"), "ratio"),
      ("pipeline.sink.load_s", mean("pipeline.sink.load_s"), "s"),
      ("pipeline.sink.files_written", mean("pipeline.sink.files_written"), "count"),
      ("pipeline.sink.bytes_written", mean("pipeline.sink.bytes_written"), "bytes"),
      ("pipeline.spark_jobs_per_export_job", mean("pipeline.spark_jobs_per_export_job"), "ratio"),
      ("pipeline.core_util", mean("pipeline.core_util"), "ratio"),
      ("pipeline.noop_sweep_s", p50("pipeline.noop_sweep_s"), "s"),
      ("pipeline.chain_p90_ms",
        if (workload == "ingest") Stats.quantile(itemMs.toSeq, 0.9) else 0.0, "ms"),
      ("queries.build_s", mean("queries.build_s"), "s"),
      ("queries.build_share", mean("queries.build_share"), "ratio"),
      ("queries.build_jobs", mean("queries.build_jobs"), "count"),
      ("queries.action_s", mean("queries.action_s"), "s"),
      ("queries.jobs", mean("queries.jobs"), "count"),
      ("queries.tasks_per_job", mean("queries.tasks_per_job"), "ratio"),
      ("catalyst.analysis_ms", mean("catalyst.analysis_ms"), "ms"),
      ("catalyst.optimization_ms", mean("catalyst.optimization_ms"), "ms"),
      ("catalyst.planning_ms", mean("catalyst.planning_ms"), "ms"),
      ("scheduler.delay_ms", mean("scheduler.delay_ms"), "ms"),
      ("executor.run_s", mean("executor.run_s"), "s"),
      ("executor.cpu_s", mean("executor.cpu_s"), "s"),
      ("executor.core_util", mean("executor.core_util"), "ratio"),
      ("shuffle.read_bytes", mean("shuffle.read_bytes"), "bytes"),
      ("shuffle.write_bytes", mean("shuffle.write_bytes"), "bytes"),
      ("spill.bytes", mean("spill.bytes"), "bytes"),
      ("gc.task_ms", mean("gc.task_ms"), "ms"),
      ("gc.driver_ms", mean("gc.driver_ms"), "ms"),
      ("trace.overhead_ratio", Stats.median(tracedWalls) / Stats.median(untracedWalls), "ratio"))
  }

  /** Writes every span, with its self time and counters, one JSON
    * object per line, to `<work>/../trace-<workload>-<seed>.jsonl`. */
  private def writeSpans(): Unit = {
    val self = Span.selfNs(tracer.spans.toSeq)
    val out = new File(work.getParentFile, s"trace-$workload-$seed.jsonl")
    val w = new PrintWriter(out, "UTF-8")
    try tracer.spans.foreach { s =>
      val c = s.counters
      w.println(s"""{"id": ${s.id}, "name": ${Stats.quote(s.name)}, "parent": ${s.parent}, """ +
        s""""run": ${s.run}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "self_ns": ${self(s.id)}, """ +
        s""""jobs": ${c.jobs}, "tasks": ${c.tasks}, "run_ns": ${c.runNs}, "cpu_ns": ${c.cpuNs}, """ +
        s""""input_records": ${c.inputRecords}, "output_bytes": ${c.outputBytes}, """ +
        s""""shuffle_read_bytes": ${c.shuffleReadBytes}, "shuffle_write_bytes": ${c.shuffleWriteBytes}}""")
    } finally w.close()
    log(s"wrote ${tracer.spans.size} spans to $out")
  }
}
