package graft

import org.apache.spark.sql.functions._

import graft.operators.ArgMaxAgg

/** [[graft.operators.ArgMaxAgg]] — the hash-aggregable assignment
  * argmax (round 21, VERDICT r20 next #3). The aggregate replaces the
  * `max(struct(value, -id))` formulation in assignCellIds / pqEncode,
  * so this spec pins (a) value equality against that exact struct
  * form on adversarial inputs — ties, NaN, ±Infinity, negative ids —
  * and (b) the plan claim: ObjectHashAggregate, not SortAggregate. */
class ArgMaxAggSpec extends SparkSuite {

  import spark.implicits._

  // (group, value, id) candidates: g1 plain argmax; g2 exact tie
  // (smaller id must win); g3 NaN present (NaN is greatest in Spark's
  // double order — the struct-max adopts it, so must we); g4 -Inf
  // values only; g5 tie at the maximum with ids out of insertion order;
  // g6 -0.0 ties 0.0 (Spark's compareDoubles: `==` first), so the
  // smaller id wins; g7 NaN ties NaN at the maximum.
  private val rows = Seq(
    ("g1", 0.2, 10L), ("g1", 0.9, 7L), ("g1", 0.5, 3L),
    ("g2", 0.7, 22L), ("g2", 0.7, 11L), ("g2", 0.1, 1L),
    ("g3", 0.99, 5L), ("g3", Double.NaN, 9L), ("g3", 0.5, 2L),
    ("g4", Double.NegativeInfinity, 4L), ("g4", Double.NegativeInfinity, 2L),
    ("g5", 1.0, 30L), ("g5", 1.0, -8L), ("g5", 0.0, -99L),
    ("g6", -0.0, 5L), ("g6", 0.0, 9L), ("g6", -1.0, 1L),
    ("g7", Double.NaN, 12L), ("g7", Double.NaN, 4L), ("g7", 1.0, 1L))

  test("matches max(struct(value, -id)) on ties, NaN, -Inf, negative ids") {
    val df = rows.toDF("g", "v", "id")
    val byStruct = df
      .select(col("g"), struct(col("v"), (-col("id")).as("neg")).as("cand"))
      .groupBy(col("g")).agg(max(col("cand")).as("best"))
      .select(col("g"), (-col("best.neg")).as("id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val byAgg = df
      .groupBy(col("g"))
      .agg(ArgMaxAgg.udafColumn(col("v"), col("id")).as("id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStruct === Map(
      "g1" -> 7L, "g2" -> 11L, "g3" -> 9L, "g4" -> 2L, "g5" -> -8L,
      "g6" -> 5L, "g7" -> 4L))
    assert(byAgg === byStruct)
  }

  test("a null value fails the query with an error naming ArgMaxAgg") {
    val df = Seq(("g1", Some(0.5), 1L), ("g1", None, 2L)).toDF("g", "v", "id")
    val e = intercept[Exception] {
      df.groupBy(col("g")).agg(ArgMaxAgg.udafColumn(col("v"), col("id"))).collect()
    }
    def chain(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(t => String.valueOf(t.getMessage).contains("ArgMaxAgg: null value")),
      s"error does not name ArgMaxAgg: $e")
  }

  test("deterministic across partitionings (merge order cannot leak)") {
    val df = rows.toDF("g", "v", "id")
    val expected = df.repartition(1)
      .groupBy(col("g")).agg(ArgMaxAgg.udafColumn(col("v"), col("id")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (n <- Seq(2, 7, 16)) {
      val got = df.repartition(n)
        .groupBy(col("g")).agg(ArgMaxAgg.udafColumn(col("v"), col("id")))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === expected, s"partitioning $n diverged")
    }
  }

  test("plans as ObjectHashAggregate, not SortAggregate (the round-21 " +
      "claim, as a plan fact)") {
    val df = rows.toDF("g", "v", "id")
      .groupBy(col("g")).agg(ArgMaxAgg.udafColumn(col("v"), col("id")))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"expected ObjectHashAggregate in:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"unexpected SortAggregate in:\n$plan")
  }

  test("assignCellIds through ArgMaxAgg still matches the window-form " +
      "reference on a clustered fixture") {
    import graft.queries.SimOps
    val dim = 8
    // 3 well-separated axis clusters, 60 vectors
    val emb = (0L until 60L).map { i =>
      val c = (i % 3).toInt
      val base = Array.fill(dim)(0.05f)
      base(c) = 1f
      val jit = noiseVec(i, dim).map(_ * 0.01f)
      (i, base.toSeq.zip(jit).map { case (a, b) => a + b })
    }.toDF("vec_id", "embedding")
    val cents = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("cell_id"), col("embedding").as("centroid"))
    // window-form reference: row_number over (sim desc, cell_id asc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("cell_id"))
    val ref = emb.crossJoin(cents)
      .select(col("vec_id"), col("cell_id"),
        SimOps.cosine(col("embedding"), col("centroid")).as("sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cell_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = SimOps.assignCellIds(emb, cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === ref)
  }
}
