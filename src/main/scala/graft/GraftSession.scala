package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession construction for the graded mains (Verify,
  * Bench, ExplainTool) and the test harness — ONE place for the
  * session config so every entry point runs identically. Installs
  * [[graft.plans.GraftExtensions]], so a user-written HOF cosine is
  * rewritten to the codegen'd expression in the graded paths too, not
  * only where RuleSpec installs the rule by hand (EntrySpec asserts
  * the rewrite fires under exactly this config).
  *
  * Local files are written through [[NoForkLocalFileSystem]]
  * (`spark.hadoop.fs.file.impl`), which sets permissions without
  * forking `chmod`: every sink write, checkpoint append and model save
  * creates files. Hadoop caches FileSystem instances JVM-wide by
  * scheme, authority and user, not by configuration, so a `file:`
  * FileSystem another configuration created earlier in the JVM wins
  * over this setting.
  *
  * The generated-code cache holds [[CodegenCacheEntries]] classes,
  * not Spark's default 100. Six registry keys (four relational ones,
  * PCA and Jaccard) already generate 176 distinct classes, and the
  * cache evicts the least recently used one, so with 100 entries a
  * key that runs again finds its classes evicted or not depending on
  * the order of the keys before it: a light key pays 8 to 20 compiles
  * in one pass and none in the next. With the larger cache a repeated
  * plan compiles nothing. An entry holds about 13 KB of driver heap,
  * so a full cache holds about 13 MB. The cache is JVM-wide and sized
  * when the JVM first generates code, so this holds when the session
  * built here is the JVM's first. */
object GraftSession {

  val CodegenCacheEntries = 1000

  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Local session sized by the SPARK_GRAFT_CPUS contract. */
  def local(cpus: String): SparkSession = {
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // Every query runs under the one config above. A per-query conf can
  // be scoped with a `newSession()` clone: builder-level configs are
  // inherited, so the GraftExtensions rewrite EntrySpec asserts holds
  // in a clone too. None is used: turning AQE partition coalescing off
  // for the prefix-family pair listers measured no win on containment
  // and a loss on ngram, because the coalescing pass is also what
  // splits their hot buckets (numbers at the q_dedup_prefix registry
  // entry and in BASELINE.md).
}
