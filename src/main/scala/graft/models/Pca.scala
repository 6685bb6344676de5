package graft.models

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Distributed PCA for embedding compression (SURVEY.md §2-B) —
  * project `dim`-d vectors onto their top-`k` principal components
  * before storage / ANN indexing, the standard dimensionality-reduction
  * step of an embedding pipeline (smaller codes, faster distance
  * scans, PQ trains on decorrelated axes).
  *
  * Split of labor, the kmeans/BPE rule: the DATA-sized work is ONE
  * distributed pass; the MODEL-sized work — the dim×dim
  * eigendecomposition — runs on the driver via cyclic Jacobi over the
  * collected 64×64 covariance (4096 doubles; a collect of
  * hyperparameter size, not corpus size). The pass appends a constant
  * 1.0 slot to every vector and reduces the upper-triangle products of
  * `x ++ [1.0]` per (i, j) in DECIMAL(38,18) (order-independent, so
  * the fitted model is bit-identical across partitionings). Column
  * `dim` of that triangle holds the coordinate sums (`xi * 1.0 == xi`)
  * and cell `(dim, dim)` the row count, so count, mean and second
  * moments come from one shuffle. The appended slot only lands at
  * `dim` when the vector has length `dim`, so the same pass fails the
  * fit (`raise_error`, naming the expected and found length) on any
  * other length. Null vectors are dropped before the pass and count
  * in neither `n` nor the sums.
  *
  * Fitting reads a deterministic hash sample when `sampleOneIn` > 1
  * (the pqTrain precedent: subspace estimation needs ~10⁴ examples,
  * not the corpus); PROJECTION is one embarrassingly-parallel
  * broadcast-weights pass over however much data there is.
  *
  * Determinism: decimal moment sums; the driver Jacobi runs a FIXED
  * cyclic sweep order from a deterministic matrix, eigenpairs sort by
  * (eigenvalue desc, original index), and each eigenvector's sign is
  * normalized (largest-|coordinate| positive) — PcaSpec asserts the
  * whole model is bit-stable across partitionings and bit-equal to
  * separate count, mean and moment passes.
  */
object Pca {

  case class Model(mean: Array[Double], eigenvalues: Array[Double],
      components: Array[Array[Double]])

  /** Fit mean + top-k components of `embCol` (array<float|double>,
    * length `dim`). */
  def fit(emb: DataFrame, embCol: String, dim: Int, k: Int,
      sampleOneIn: Int = 1, idCol: String = "vec_id"): Model = {
    require(k >= 1 && k <= dim)
    val sampled =
      if (sampleOneIn <= 1) emb
      // xxhash64 residue sample: exact 1-in-sampleOneIn for ANY rate
      // (the pqTrain-style `(id * C) % 100 < 100/oneIn` form
      // integer-divides to zero past oneIn = 100 and overflows the
      // multiply under ANSI at ids > 2^31), still a pure reproducible
      // row predicate
      else emb.filter(pmod(xxhash64(col(idCol)), lit(sampleOneIn.toLong)) === 0)
    // one pass: the upper triangle of (x ++ [1.0]) ⊗ (x ++ [1.0]), two
    // chained generators (one per select — Spark's one-generator
    // rule), j >= i filter before the decimal cast so the shuffle
    // carries (dim+1)(dim+2)/2 groups
    val x = col("x")
    val moments = sampled
      .select(col(embCol).cast("array<double>").as("x"))
      .filter(x.isNotNull)
      .select(when(size(x) === dim, concat(x, array(lit(1.0))))
        .otherwise(raise_error(concat(
          lit(s"PCA expects vectors of length $dim, found length "),
          size(x).cast("string")))).as("x"))
      .select(posexplode(x).as(Seq("i", "xi")), x)
      .select(col("i"), col("xi"), posexplode(x).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .select(col("i"), col("j"),
        (col("xi") * col("xj")).cast("decimal(38,18)").as("p"))
      .groupBy(col("i"), col("j")).agg(sum(col("p")).as("s"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDecimal(2).doubleValue())
      .toMap
    val n = moments.getOrElse((dim, dim), 0.0)
    require(n > 1, "PCA needs at least two rows")
    val meanArr = Array.tabulate(dim)(i => moments.getOrElse((i, dim), 0.0) / n)
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      moments.getOrElse((a, b), 0.0) / n - meanArr(i) * meanArr(j)
    }
    val (evals, evecs) = jacobiEigen(cov, dim)
    Model(meanArr, evals.take(k), evecs.take(k))
  }

  /** Cyclic Jacobi on a symmetric matrix: fixed sweep order, fixed
    * max sweeps, deterministic early-out on exact off-diagonal norm.
    * Returns (eigenvalues, row-major eigenvectors) sorted by
    * (eigenvalue desc, index) with normalized signs. */
  private[graft] def jacobiEigen(m: Array[Array[Double]],
      dim: Int): (Array[Double], Array[Array[Double]]) = {
    val a = Array.tabulate(dim, dim)((i, j) => m(i)(j))
    val v = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    while (sweep < 50 && offDiag(a, dim) > 1e-14) {
      var p = 0
      while (p < dim - 1) {
        var q = p + 1
        while (q < dim) {
          if (a(p)(q) != 0.0) rotate(a, v, p, q, dim)
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until dim).sortBy(i => (-a(i)(i), i))
    val evals = order.map(i => a(i)(i)).toArray
    val evecs = order.map { i =>
      val col = Array.tabulate(dim)(r => v(r)(i))
      // sign convention: coordinate of largest magnitude positive
      // (ties by lowest index — argmax scan order)
      var best = 0
      var r = 1
      while (r < dim) {
        if (math.abs(col(r)) > math.abs(col(best))) best = r
        r += 1
      }
      if (col(best) < 0) col.map(-_) else col
    }.toArray
    (evals, evecs)
  }

  private def offDiag(a: Array[Array[Double]], dim: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < dim) {
      var j = i + 1
      while (j < dim) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    s
  }

  private def rotate(a: Array[Array[Double]], v: Array[Array[Double]],
      p: Int, q: Int, dim: Int): Unit = {
    val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
    val t = {
      val s = if (theta >= 0) 1.0 else -1.0
      s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
    }
    val c = 1.0 / math.sqrt(t * t + 1.0)
    val s = t * c
    val tau = s / (1.0 + c)
    val apq = a(p)(q)
    a(p)(p) -= t * apq
    a(q)(q) += t * apq
    a(p)(q) = 0.0; a(q)(p) = 0.0
    var i = 0
    while (i < dim) {
      if (i != p && i != q) {
        val aip = a(i)(p); val aiq = a(i)(q)
        a(i)(p) = aip - s * (aiq + tau * aip); a(p)(i) = a(i)(p)
        a(i)(q) = aiq + s * (aip - tau * aiq); a(q)(i) = a(i)(q)
      }
      val vip = v(i)(p); val viq = v(i)(q)
      v(i)(p) = vip - s * (viq + tau * vip)
      v(i)(q) = viq + s * (vip - tau * viq)
      i += 1
    }
  }

  /** Projection of `embCol` onto the model's components — a fixed
    * broadcast-weights expression (same left-fold dot idiom as
    * LogReg/cosine), one parallel pass at any corpus size. */
  def projectExpr(embCol: Column, model: Model): Column = {
    val meanLit = array(model.mean.map(lit).toIndexedSeq: _*)
    val centered = zip_with(embCol.cast("array<double>"), meanLit, _ - _)
    array(model.components.map { comp =>
      aggregate(
        zip_with(centered, array(comp.map(lit).toIndexedSeq: _*), _ * _),
        lit(0.0), _ + _)
    }.toIndexedSeq: _*)
  }

  /** Persist / reload as ONE single-row ModelStore table of
    * (mean, eigenvalues, components) arrays — train once, project
    * forever. The reload reads with the model's own schema (no footer
    * inference job) and collects the one row: one job each way. */
  def save(spark: org.apache.spark.sql.SparkSession, model: Model,
      path: String): Unit =
    ModelStore.saveTable(spark.createDataFrame(Seq(model)), path)

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    val enc = Encoders.product[Model]
    ModelStore.loadTable(spark, path, enc.schema).as(enc).collect().head
  }
}
