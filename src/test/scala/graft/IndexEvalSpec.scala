package graft

import org.apache.spark.sql.functions._

import graft.operators.{AnnBudget, AnnIndex, AnnMeta}
import graft.queries.SimOps

/** [[SimOps.indexEval]] — the recall-drift report that triggers ANN
  * index retrains (round-13, VERDICT r12 item 7): report shape, a
  * recall floor on the fixture, and the degenerate exactness bound
  * (probe every cell + corpus-size rerank ⇒ the served answer IS
  * brute force, so measured recall must be exactly 1 — the same bound
  * SimilaritySpec proves for the search path itself). Also the
  * [[AnnIndex]] on-disk layout the report reads: declared schemas,
  * a job-free load, a write-once meta, and the refusal of an
  * uncommitted index. */
class IndexEvalSpec extends SparkSuite {

  private val m = 4; private val k = 16; private val dim = 64

  test("registry report: one row, sane bounds, fixture recall floor") {
    val rows = SparkEntry.queries("q_sim_index_eval")(spark, Sf).collect()
    assert(rows.length === 1)
    val r = rows.head
    val nProbes = r.getLong(0)
    val recall = r.getDouble(1)
    val minRecall = r.getDouble(2)
    assert(nProbes > 0)
    assert(recall >= 0.0 && recall <= 1.0)
    assert(minRecall >= 0.0 && minRecall <= recall + 1e-12,
      "min recall cannot exceed the mean")
    assert(r.getLong(3) <= nProbes)
    // round 18: the registry report serves the calibrated AnnBudget
    // policy, so its recall row IS the policy's compliance check —
    // the floor is the declared target, not the old 0.2 family floor
    // (which the uncalibrated nprobe-4/rerank-50 literals barely beat)
    assert(recall >= graft.operators.AnnBudget.TargetRecall,
      s"fixture recall@5 $recall below the AnnBudget target")
  }

  test("forIndex heals a stale meta.n: budgets from max(meta.n, " +
      "invlists count), so a crashed append refresh can only " +
      "OVER-budget (round-20 ADVICE)") {
    import spark.implicits._
    val dir = sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR",
      "/root/repo/target/fixtures") + "/sf0.001/ann_stale_meta"
    // appends landed 2000 invlists rows; meta, written once by the
    // build, still reads the build's 100
    (0L until 2000L).map(i => (i, (i % 45).toInt))
      .toDF("vec_id", "cell_id")
      .write.mode("overwrite").parquet(s"$dir/invlists")
    AnnIndex.writeMeta(spark, dir, AnnMeta(100L, dim, 16, 45, 0.107))
    val (np, rr) = AnnBudget.forIndex(spark, dir, topK = 5)
    assert(np === 34, "isotropic margin: nprobe = ceil(0.75 * 45)")
    // stale meta.n = 100 would floor rerank at 50 (recall starvation,
    // the unsafe direction); the healed budget serves the true corpus
    assert(rr === 100,
      s"rerank must budget the 2000-row invlists corpus (0.05*2000), got $rr")
  }

  test("exactness bound: nprobe = k with corpus-size rerank measures " +
      "recall exactly 1 for every probe") {
    val dir = sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR",
      "/root/repo/target/fixtures") + "/sf0.001/ann_index_eval_exact"
    val emb = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding"))
    SimOps.saveAnnIndex(emb, dir, m, k, dim)
    val probes = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
    val n = emb.count().toInt
    val r = SimOps.indexEval(spark, dir, probes, m, dim,
      nprobe = k, rerank = n, topK = 5).collect().head
    assert(r.getDouble(1) === 1.0, s"mean recall ${r.getDouble(1)}")
    assert(r.getDouble(2) === 1.0, s"min recall ${r.getDouble(2)}")
    assert(r.getLong(3) === 0L)
  }

  private def smallIndex(name: String, below: Long): String = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR",
      "target/fixtures") + s"/sf0.001/$name"
    SimOps.saveAnnIndex(Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < below), dir, m, k, dim)
    dir
  }

  test("index layout: every table's written schema is AnnIndex's " +
      "declared schema, after a build and after an append") {
    val dir = smallIndex("ann_layout", 250L)
    def checkLayout(when: String): Unit =
      for ((t, declared) <- AnnIndex.schemas) {
        // simpleString omits nullability: a parquet read makes every
        // column nullable whatever the writer declared
        val written = spark.read.parquet(AnnIndex.path(dir, t)).schema
        assert(written.simpleString === declared.simpleString,
          s"$t after $when")
      }
    assert(AnnIndex.schemas.keySet === Set("centroids", "invlists",
      "codebooks", "codes", "vectors", "meta"))
    checkLayout("the build")
    val built = AnnIndex.readMeta(spark, dir)
    // the rest of the fixture plus three id-shifted copies of it: the
    // grown corpus is large enough that its rerank budget differs
    // from the build's in either margin regime
    val emb = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding"))
    val grown = (1 to 3).map(c => emb.select((col("vec_id") + c * 1000L)
        .as("vec_id"), col("embedding")))
      .foldLeft(emb.filter(col("vec_id") >= 250L))(_ union _)
    SimOps.appendToAnnIndex(spark, grown, dir, m, dim)
    checkLayout("an append")
    assert(AnnIndex.readMeta(spark, dir) === built,
      "meta is written once, by the build")
    val total = 250L + grown.count()
    val (_, rr) = AnnBudget.forIndex(spark, dir, topK = 5)
    assert(rr === AnnBudget.rerank(total, 5, Some(built.margin)),
      s"rerank must budget the grown $total-vector corpus, got $rr")
    assert(rr > AnnBudget.rerank(built.n, 5, Some(built.margin)))
  }

  test("AnnIndex.load reads the five tables with no Spark job") {
    val dir = smallIndex("ann_load", 100L)
    val (t, loadWork) = SparkWork.measure(spark)(AnnIndex.load(spark, dir))
    assert(loadWork.jobs === 0)
    // control: the same five reads without a schema infer it from the
    // footers, one job each, so the meter does see such reads
    val (_, rawWork) = SparkWork.measure(spark)(
      Seq("centroids", "invlists", "codebooks", "codes", "vectors")
        .map(tbl => spark.read.parquet(s"$dir/$tbl")))
    assert(rawWork.jobs > 0)
    assert(t.vectors.count() === 100L)
  }

  test("an index without meta was never committed: forIndex and " +
      "appendToAnnIndex refuse it and leave the payload untouched") {
    val dir = smallIndex("ann_uncommitted", 200L)
    def counts() = Seq(AnnIndex.Invlists, AnnIndex.Codes, AnnIndex.Vectors)
      .map(tbl => tbl -> spark.read.parquet(s"$dir/$tbl").count()).toMap
    val before = counts()
    assert(before.values.toSet === Set(200L))
    val metaDir = new java.io.File(AnnIndex.path(dir, "meta"))
    def assertRefused(state: String): Unit = {
      val served = intercept[IllegalStateException](
        AnnBudget.forIndex(spark, dir, topK = 5))
      assert(served.getMessage.contains(dir) &&
        served.getMessage.contains("never committed"),
        s"$state: ${served.getMessage}")
      val appended = intercept[IllegalStateException](
        SimOps.appendToAnnIndex(spark, Tables.embeddings(spark, Sf)
          .filter(col("vec_id") >= 200L), dir, m, dim))
      assert(appended.getMessage.contains(dir), s"$state: ${appended.getMessage}")
      assert(counts() === before, state)
    }
    // a build interrupted before its last write leaves no meta
    org.apache.commons.io.FileUtils.deleteDirectory(metaDir)
    assertRefused("no meta directory")
    // one interrupted inside that write leaves the row under _temporary
    AnnIndex.writeMeta(spark, s"$dir/meta/_temporary/0",
      AnnMeta(200L, dim, m, k, 0.1))
    assert(metaDir.list().toSeq === Seq("_temporary"))
    assertRefused("meta holding only _temporary")
  }

  test("a rebuild that fails leaves the index uncommitted, not the old " +
      "meta over a torn layout") {
    val dir = new java.io.File(smallIndex("ann_failed_rebuild", 200L))
      .getAbsolutePath
    assert(AnnIndex.readMeta(spark, dir).n === 200L)
    // the rebuild's overwrite of `vectors` cannot clear the old table,
    // so that write fails after others have already replaced theirs
    spark.sparkContext.hadoopConfiguration
      .set("fs.nodelete.impl", classOf[NoDeleteFs].getName)
    NoDeleteFs.refuses = _ == AnnIndex.path(dir, "vectors")
    val failed =
      try intercept[Exception](SimOps.saveAnnIndex(
          Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding")),
          s"nodelete://$dir", m, k, dim))
      finally NoDeleteFs.refuses = _ => false
    val causes = Iterator.iterate[Throwable](failed)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf).mkString(" <- ")
    assert(causes.contains(s"$dir/vectors"), causes)
    val refused = intercept[IllegalStateException](
      AnnIndex.readMeta(spark, dir))
    assert(refused.getMessage.contains("never committed"), refused.getMessage)
  }
}
