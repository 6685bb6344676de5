package graft.perfbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.pipeline._

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val root = new File("target/test-work")
  private lazy val spark: SparkSession = GraftSession.local("2")

  override def beforeAll(): Unit = { Stats.deleteTree(root); root.mkdirs() }
  override def afterAll(): Unit = { spark.stop(); Stats.deleteTree(root) }

  private def dir(name: String): File = { val d = new File(root, name); d.mkdirs(); d }

  /** Relative path -> SHA-256 of every file under `d`. */
  private def digest(d: File): Map[String, String] = {
    val base = d.toPath
    Files.walk(base).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(Files.isRegularFile(_))
      .map { p =>
        base.relativize(p).toString ->
          MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
      }.toMap
  }

  private def writeTree(d: File, seed: Long): Seq[GenJob] =
    for ((app, i) <- ExportTreeGen.tenantIds(2).zipWithIndex; tpe <- Seq("custom", "transaction"))
      yield ExportTreeGen.writeJob(d, seed, app, tpe, 10L + i, rows = 40, parts = 2, gzip = i == 0)

  test("the export tree is byte-identical for one seed and differs for another") {
    val a = writeTree(dir("tree-a"), 7)
    val b = writeTree(dir("tree-b"), 7)
    val c = writeTree(dir("tree-c"), 8)
    assert(digest(dir("tree-a")) == digest(dir("tree-b")))
    assert(digest(dir("tree-a")).keySet == digest(dir("tree-c")).keySet)
    assert(digest(dir("tree-a")) != digest(dir("tree-c")))
    assert(a.map(_.copy(dir = "")) == b.map(_.copy(dir = "")))
    assert(a.forall(j => j.rows == 40 && j.bytesUncompressed > 0))
    assert(a.filter(_.gzip).forall(j => j.bytesOnDisk < j.bytesUncompressed))
    assert(a.filterNot(_.gzip).forall(j => j.bytesOnDisk == j.bytesUncompressed))
  }

  test("the generated envelope parses under UnityExport.schema with no nulls in required fields") {
    val jobs = writeTree(dir("tree-parse"), 3)
    val df = UnityExport.readJob(spark, jobs.head.dir, jobs.head.jobId)
    assert(df.count() == 40)
    assert(df.filter("event_ts IS NULL OR userid IS NULL OR custom_params IS NULL").count() == 0)
  }

  test("fixture tables are the same for one seed and differ for another") {
    def hashes(seed: Long, d: String): Map[String, String] = {
      val path = dir(d).getPath
      FixtureGen.write(spark, path, seed, scale = 0.05)
      graft.Tables.contract.keys.map(t => t -> Stats.canonicalHash(graft.Tables.load(spark, path, t).collect())).toMap
    }
    val a = hashes(5, "fx-a")
    val b = hashes(5, "fx-b")
    val c = hashes(6, "fx-c")
    assert(a == b)
    assert(a("lineitem") != c("lineitem") && a("events") != c("events"))
  }

  test("self time is a span's duration minus its children's") {
    val spans = Seq(
      Span(1, "op", 0, 0, 0L, 100L),
      Span(2, "chain", 1, 0, 10L, 60L),
      Span(3, "checkpoint.lookup", 2, 0, 10L, 25L),
      Span(4, "sink.load", 2, 0, 30L, 55L),
      Span(5, "chain", 1, 0, 60L, 90L))
    assert(Span.selfNs(spans) == Map(1L -> 20L, 2L -> 10L, 3L -> 15L, 4L -> 25L, 5L -> 30L))
  }

  test("the tracer nests spans and endNamed closes everything opened inside") {
    val t = new Tracer(None)
    assert(t.begin("ignored") == null)
    t.active = true
    val op = t.begin("op")
    t.begin("chain")
    t.begin("read_parse")
    t.endNamed("chain")
    val after = t.begin("chain")
    t.end(op)
    assert(t.spans.map(s => (s.name, s.parent)) ==
      Seq(("op", 0L), ("chain", op.id), ("read_parse", op.id + 1), ("chain", op.id)))
    assert(after.endNs >= after.startNs && t.spans.forall(_.endNs >= 0))
  }

  test("the decorated IngestJob commits what the undecorated one does") {
    val tree = dir("ingest")
    val jobs = writeTree(new File(tree, "export"), 11)
    def cfg(state: String) = PipelineConfig(
      exportRoot = new File(tree, "export").getPath,
      warehouseRoot = new File(tree, s"$state/warehouse").getPath,
      checkpointPath = new File(tree, s"$state/checkpoints").getPath,
      tenants = ExportTreeGen.tenantIds(2).zipWithIndex.map { case (a, i) => TenantConfig(a, s"Dataset_$i") },
      reportTypes = Seq("custom", "transaction", "appStart"))

    val plain = cfg("plain")
    val plainRows = IngestJob(spark, plain, new ParquetCheckpointStore(spark, plain.checkpointPath),
      new ParquetWarehouseSink(plain.warehouseRoot), new RecordingNotifier).runAll()

    val traced = cfg("traced")
    val tracer = new Tracer(Some(spark.sparkContext))
    tracer.active = true
    val clock = new ChainClock
    val client = new TimedExportClient(new LocalDirExportClient(traced.exportRoot), tracer, clock)
    val tracedRows = new IngestJob(spark, traced,
      new TimedCheckpointStore(new ParquetCheckpointStore(spark, traced.checkpointPath), tracer, clock),
      new TimedWarehouseSink(new ParquetWarehouseSink(traced.warehouseRoot), tracer),
      new RecordingNotifier, client, new ExportPoller(client, pollIntervalMs = 0L, sleep = _ => ())).runAll()

    assert(tracedRows == plainRows)
    assert(plainRows.values.sum == jobs.map(_.rows).sum)
    for (t <- plain.tenants; tpe <- Seq("custom", "transaction")) {
      def contents(c: PipelineConfig) = Stats.canonicalHash(spark.read.parquet(
        s"${c.warehouseRoot}/${t.dataset}/$tpe").collect())
      assert(contents(traced) == contents(plain), s"${t.dataset}/$tpe")
    }
    assert(clock.latenciesNs.size == 6)
    val names = tracer.spans.map(_.name).toSet
    assert(Set("chain", "checkpoint.lookup", "export.request", "read_parse", "sink.load",
      "checkpoint.append").subsetOf(names))
  }
}
