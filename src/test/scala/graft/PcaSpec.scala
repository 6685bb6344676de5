package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.models.Pca

/** Contract of the PCA embedding-compression model (models.Pca, round
  * 12). Declared no-oracle (iterative eigensolver), so this suite
  * carries the correctness weight: orthonormal components, descending
  * nonnegative eigenvalues whose total matches the covariance trace,
  * bit-determinism across partitionings, bit-parity with separate
  * count, mean and moment passes, recovery of a planted low-rank
  * structure, persisted-model parity, and the Spark job count of the
  * registry build. */
class PcaSpec extends SparkSuite {

  private val Dim = 64

  test("components are orthonormal; eigenvalues descend, are " +
      "nonnegative, and sum to at most the trace") {
    val emb = Tables.embeddings(spark, Sf)
    val m = Pca.fit(emb, "embedding", Dim, k = 8)
    assert(m.components.length === 8)
    for (a <- 0 until 8; b <- a until 8) {
      val d = (0 until Dim).map(i => m.components(a)(i) * m.components(b)(i)).sum
      val want = if (a == b) 1.0 else 0.0
      assert(math.abs(d - want) < 1e-9, s"<v$a, v$b> = $d, want $want")
    }
    assert(m.eigenvalues.toSeq.sliding(2).forall(p => p.head >= p.last),
      s"eigenvalues not descending: ${m.eigenvalues.toSeq}")
    assert(m.eigenvalues.forall(_ >= -1e-12),
      s"negative eigenvalue: ${m.eigenvalues.toSeq}")
    // top-k mass cannot exceed the total variance (trace of C),
    // computed independently from per-coordinate variances
    val x = emb.select(col("embedding").cast("array<double>").as("x"))
    val n = x.count().toDouble
    val trace = x.select(posexplode(col("x")).as(Seq("i", "xi")))
      .groupBy(col("i"))
      .agg(sum(col("xi").cast("decimal(38,18)")).cast("double").as("s"),
        sum((col("xi") * col("xi")).cast("decimal(38,18)")).cast("double").as("s2"))
      .collect().map(r => r.getDouble(2) / n - math.pow(r.getDouble(1) / n, 2))
      .sum
    assert(m.eigenvalues.sum <= trace + 1e-9,
      s"top-8 mass ${m.eigenvalues.sum} exceeds trace $trace")
    assert(m.eigenvalues.sum > 0.05 * trace,
      "top-8 captures almost nothing — eigensolver suspect")
  }

  test("the fitted model is bit-identical across partitionings") {
    val emb = Tables.embeddings(spark, Sf)
    def fingerprint(df: org.apache.spark.sql.DataFrame) = {
      val m = Pca.fit(df, "embedding", Dim, k = 4)
      (m.mean.toSeq, m.eigenvalues.toSeq, m.components.map(_.toSeq).toSeq)
    }
    assert(fingerprint(emb) === fingerprint(emb.repartition(13)),
      "PCA model must not depend on partitioning (decimal moment sums)")
  }

  private def u(x: Long): Double = ((mix64(x) & 0x3ff).toDouble / 1024.0) - 0.5

  /** Row `i` of the planted set: x = a*e0 + b*e1 + c*e2 + tiny noise,
    * so variance concentrates in a known 3-d subspace. */
  private def plantedVec(i: Int): Seq[Float] = {
    val (a, b, c) = (u(i * 7L + 1) * 3, u(i * 7L + 2) * 2, u(i * 7L + 3))
    Seq.tabulate(Dim) { d =>
      val signal = d match {
        case 0 => a
        case 1 => b
        case 2 => c
        case _ => 0.0
      }
      (signal + u(i * 131L + d) * 0.01).toFloat
    }
  }

  /** The planted set with `extra` (vec_id, embedding) rows appended. */
  private def planted(n: Int,
      extra: Seq[(Long, Option[Seq[Float]])] = Nil): DataFrame = {
    import spark.implicits._
    ((0 until n).map(i => (i.toLong, Option(plantedVec(i)))) ++ extra)
      .toDF("vec_id", "embedding")
  }

  /** Every double of the model as raw bits, so equality is bit-equality. */
  private def bits(m: Pca.Model): (Seq[Long], Seq[Long], Seq[Seq[Long]]) = {
    def b(a: Array[Double]) = a.toSeq.map(java.lang.Double.doubleToRawLongBits)
    (b(m.mean), b(m.eigenvalues), m.components.toSeq.map(b))
  }

  /** The former three-pass fit — `count`, per-coordinate decimal sums,
    * then upper-triangle decimal moments — through the same Jacobi:
    * the reference the one-pass fit must reproduce bit for bit. */
  private def threePassFit(emb: DataFrame, dim: Int, k: Int): Pca.Model = {
    val rows = emb.select(col("embedding").cast("array<double>").as("x"))
    val n = rows.count().toDouble
    val sums = rows
      .select(posexplode(col("x")).as(Seq("i", "xi")))
      .select(col("i"), col("xi").cast("decimal(38,18)").as("xi"))
      .groupBy(col("i")).agg(sum(col("xi")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getDecimal(1).doubleValue()).toMap
    val mean = Array.tabulate(dim)(i => sums.getOrElse(i, 0.0) / n)
    val moments = rows
      .select(posexplode(col("x")).as(Seq("i", "xi")), col("x"))
      .select(col("i"), col("xi"), posexplode(col("x")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .select(col("i"), col("j"),
        (col("xi") * col("xj")).cast("decimal(38,18)").as("p"))
      .groupBy(col("i"), col("j")).agg(sum(col("p")).as("s"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDecimal(2).doubleValue())
      .toMap
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      moments.getOrElse((a, b), 0.0) / n - mean(i) * mean(j)
    }
    val (evals, evecs) = Pca.jacobiEigen(cov, dim)
    Pca.Model(mean, evals.take(k), evecs.take(k))
  }

  test("planted low-rank structure is recovered: 3 dominant directions") {
    // PCA must put ~all mass in the planted top 3
    val m = Pca.fit(planted(800), "embedding", Dim, k = 6)
    val top3 = m.eigenvalues.take(3).sum
    val rest = m.eigenvalues.drop(3).sum
    assert(top3 > 50 * rest,
      s"planted 3-d structure not recovered: top3 $top3 vs rest $rest")
    // each of the top-3 components aligns with a planted axis
    for (cIdx <- 0 until 3) {
      val comp = m.components(cIdx)
      val mass3 = comp.take(3).map(x => x * x).sum
      assert(mass3 > 0.99,
        s"component $cIdx leaks outside the planted subspace: $mass3")
    }
  }

  test("projection from the persisted model equals the in-session model") {
    val dir = sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR",
      "/root/repo/target/fixtures") + "/sf0.001/pca_roundtrip"
    val emb = Tables.embeddings(spark, Sf)
    val m = Pca.fit(emb, "embedding", Dim, k = 5)
    Pca.save(spark, m, dir)
    val back = Pca.load(spark, dir)
    assert(back.mean.toSeq === m.mean.toSeq)
    assert(back.eigenvalues.toSeq === m.eigenvalues.toSeq)
    assert(back.components.map(_.toSeq).toSeq === m.components.map(_.toSeq).toSeq)
    val a = emb.select(Pca.projectExpr(col("embedding"), m).as("p"))
      .collect().map(_.getSeq[Double](0))
    val b = emb.select(Pca.projectExpr(col("embedding"), back).as("p"))
      .collect().map(_.getSeq[Double](0))
    assert(a.zip(b).forall { case (x, y) => x == y },
      "persisted model projects differently")
  }

  test("the one-pass fit is bit-equal to separate count, mean and " +
      "moment passes") {
    val emb = Tables.embeddings(spark, Sf)
    assert(bits(Pca.fit(emb, "embedding", Dim, k = 8)) ===
      bits(threePassFit(emb, Dim, k = 8)), "fixture embeddings")
    val low = planted(800)
    assert(bits(Pca.fit(low, "embedding", Dim, k = 6)) ===
      bits(threePassFit(low, Dim, k = 6)), "planted low-rank set")
  }

  test("a null vector counts in neither n nor the sums") {
    val without = Pca.fit(planted(200), "embedding", Dim, k = 4)
    val withNull = Pca.fit(planted(200, Seq(10000L -> None)),
      "embedding", Dim, k = 4)
    assert(bits(withNull) === bits(without),
      "a null vector changed the fitted model")
  }

  test("a vector of the wrong length fails the fit with both lengths") {
    val short = Seq(10000L -> Option(plantedVec(0).take(Dim - 1)))
    val e = intercept[Exception](
      Pca.fit(planted(200, short), "embedding", Dim, k = 4))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    val want = s"PCA expects vectors of length $Dim, found length ${Dim - 1}"
    assert(msgs.exists(_.contains(want)), s"no '$want' in: ${e.getMessage}")
  }

  test("job counts: fit <= 2, load <= 1, the q_embed_pca build <= 5") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pca-jobs") + "/model"
    val emb = Tables.embeddings(spark, Sf)
    val (m, fit) = SparkWork.measure(spark)(Pca.fit(emb, "embedding", Dim, k = 8))
    Pca.save(spark, m, dir)
    val (_, load) = SparkWork.measure(spark)(Pca.load(spark, dir))
    // the registry function before its action: fit, save, reload
    val (_, build) =
      SparkWork.measure(spark)(SparkEntry.queries("q_embed_pca")(spark, Sf))
    assert(fit.jobs <= 2, s"Pca.fit ran ${fit.jobs} jobs")
    assert(load.jobs <= 1, s"Pca.load ran ${load.jobs} jobs")
    assert(build.jobs <= 5, s"the q_embed_pca build ran ${build.jobs} jobs")
  }

  test("registry row: per-label rollup with positive top-k variance") {
    val r = SparkEntry.queries("q_embed_pca")(spark, Sf).collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getDouble(4) > 0), "top-k variance not positive")
  }
}
