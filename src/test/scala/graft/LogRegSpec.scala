package graft

import org.apache.spark.sql.functions._

import graft.models.LogReg
import graft.queries.Learned

/** Contract of the learned quality gate (models.LogReg +
  * queries.Learned, round 12). Declared no-oracle rows (iterative
  * float training), so this suite carries the correctness weight:
  * bit-determinism across partitionings, monotone training loss,
  * recovery of the planted concept through its label noise, and
  * persisted-model serve parity. */
class LogRegSpec extends SparkSuite {

  private lazy val data = {
    val f = Learned.docFeatures(Tables.documents(spark, Sf))
    f.withColumn("label",
        Learned.plantedLabel(col("features"), col("doc_id")))
      .localCheckpoint()
  }

  test("training is bit-deterministic across partitionings") {
    val w1 = LogReg.train(data, "features", "label",
      iters = 10, lr = 2.0, dim = Learned.Dim)
    val w2 = LogReg.train(data.repartition(13), "features", "label",
      iters = 10, lr = 2.0, dim = Learned.Dim)
    assert(w1.toSeq == w2.toSeq,
      "weights must not depend on partitioning (decimal gradient sums)")
  }

  test("training loss decreases monotonically from the zero model") {
    val losses = (0 to 3).map { iters =>
      val w = if (iters == 0) Array.fill(Learned.Dim)(0.0)
        else LogReg.train(data, "features", "label",
          iters = iters * 5, lr = 2.0, dim = Learned.Dim)
      LogReg.logLoss(data, "features", "label", w)
    }
    assert(losses.sliding(2).forall { case Seq(a, b) => b < a },
      s"loss not decreasing: $losses")
  }

  test("the classifier recovers the planted concept well above the " +
      "majority baseline") {
    val w = LogReg.train(data, "features", "label",
      iters = 25, lr = 2.0, dim = Learned.Dim)
    val scored = data.select(col("label"),
        LogReg.scoreExpr(col("features"), w).as("p"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(scored.count(_._1 == 1.0) > 50 && scored.count(_._1 == 0.0) > 50,
      "planted labels degenerate — concept no longer balanced")
    val acc = scored.count { case (y, p) => (p >= 0.5) == (y == 1.0) }
      .toDouble / scored.length
    val majority = math.max(
      scored.count(_._1 == 1.0), scored.count(_._1 == 0.0))
      .toDouble / scored.length
    assert(acc > majority + 0.05,
      s"accuracy $acc does not beat majority $majority — nothing learned")
    val pPos = scored.filter(_._1 == 1.0).map(_._2)
    val pNeg = scored.filter(_._1 == 0.0).map(_._2)
    val sep = pPos.sum / pPos.length - pNeg.sum / pNeg.length
    assert(sep > 0.15, s"score separation too weak: $sep")
  }

  test("persisted weights serve exactly the in-session model") {
    val dir = sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR",
      "/root/repo/target/fixtures") + "/sf0.001/lr_roundtrip"
    val w = LogReg.train(data, "features", "label",
      iters = 5, lr = 2.0, dim = Learned.Dim)
    LogReg.save(spark, w, dir)
    val (back, work) = SparkWork.measure(spark)(LogReg.load(spark, dir))
    assert(back.toSeq == w.toSeq,
      "weights must round-trip parquet bit-exactly")
    // known schema, driver-side order: no footer-inference or sort job
    assert(work.jobs <= 1, s"LogReg.load ran ${work.jobs} jobs")
  }

  test("registry rows: per-class rollup separates, holdout serves " +
      "above chance from the reloaded model") {
    val r = SparkEntry.queries("q_text_quality_lr")(spark, Sf).collect()
      .map(x => x.getDouble(0) -> (x.getLong(1), x.getDouble(2), x.getLong(3)))
      .toMap
    assert(r.keySet === Set(0.0, 1.0))
    val (negN, negP, negPred) = r(0.0)
    val (posN, posP, posPred) = r(1.0)
    assert(posP > negP + 0.15,
      s"per-class mean scores do not separate: pos $posP vs neg $negP")
    assert(posPred > posN / 2 && negPred < negN / 2,
      s"majority votes wrong: pos $posPred/$posN, neg $negPred/$negN")
    val holdout = SparkEntry.queries("q_text_quality_lr_holdout")(spark, Sf)
      .collect()
    val correct = holdout.map(_.getLong(3)).sum.toDouble
    val total = holdout.map(_.getLong(1)).sum.toDouble
    assert(correct / total > 0.6,
      s"holdout accuracy ${correct / total} near chance")
  }
}
