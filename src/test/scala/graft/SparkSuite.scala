package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session via
  * getOrCreate; never stopped so suites can run in any order). Built
  * through [[GraftSession]] so tests run under EXACTLY the graded
  * Verify/Bench session config — including GraftExtensions, whose
  * cosine rewrite EntrySpec asserts; specs that need the raw HOF plan
  * exclude the rule per-query via spark.sql.optimizer.excludedRules. */
trait SparkSuite extends AnyFunSuite {

  val Sf = "/root/testdata/sf0.001"


  /** splitmix64-style mixer + derived uniform noise — the shared
    * fixture randomness for viral-cluster / soak / PCA suites (a raw
    * `(x * C) % m` is linear mod m and produces arithmetic
    * progressions, not noise). */
  protected def mix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Pseudo-random float vector in [-0.5, 0.5)^dim, seeded by `i`. */
  protected def noiseVec(i: Long, dim: Int): Seq[Float] =
    Seq.tabulate(dim)(j => ((mix64(i * 1024L + j) & 0x3ff).toFloat / 1024f) - 0.5f)

  /** Excludes the cosine rewrite for HOF-vs-native parity tests. */
  val NoCosineRewrite =
    "spark.sql.optimizer.excludedRules" -> "graft.plans.AccelerateCosine"

  lazy val spark: SparkSession = GraftSession.builder("local[4]", "4")
    .appName("graft-test")
    .getOrCreate()

  /** Set session confs for the duration of `f`, restoring previous
    * values after (the session is shared JVM-wide across suites). */
  def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    // conf.get returns NULL (not an exception) for set-to-default keys
    // like optimizer.excludedRules — restoring via set(k, null) throws
    // and leaks the override into every later suite, so treat null as
    // absent and unset instead
    val saved = pairs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption.filter(_ != null)
    }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
