package graft.models

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Ckpt, CkptMode}

/** Distributed logistic-regression trainer for learned quality /
  * language gates — the model-based member of the curation family
  * (the heuristic members are q_text_quality / _quality_filter; real
  * pipelines run a learned classifier over the same cheap features,
  * fastText-style, because hand thresholds stop transferring across
  * sources).
  *
  * Training is full-batch gradient descent expressed as `iters`
  * DataFrame aggregations: each round broadcasts the current weight
  * vector into the plan as literals, computes the per-row residual
  * `sigmoid(w·x) − y`, and reduces the per-coordinate gradient with a
  * map-side-combined groupBy over `d` keys. The driver holds only the
  * d-element weight vector (model-sized, the BpeTrain/kmeans rule);
  * the corpus is never collected and each round shuffles d partial
  * sums per partition, not rows.
  *
  * DETERMINISM (SURVEY §7.4 discipline for iterative float ops): the
  * per-row residual and products are fixed double expressions of the
  * row and the broadcast weights; the cross-row gradient reduction —
  * the only order-sensitive step — sums in DECIMAL(38,18), which is
  * associative-exact, so the gradient (and therefore every subsequent
  * weight vector) is bit-identical across partitionings and retries.
  * LogRegSpec asserts repartition-invariance and monotone loss.
  *
  * Scale shape: `iters` scans of a [[Ckpt.materialize]]d feature
  * frame; gradient traffic is d×partitions tiny rows per round. At
  * 100 TB one trains on a deterministic hash sample (the pqTrain
  * precedent — classifier quality needs ~10⁴-10⁶ examples, not the
  * corpus) and SCORES the corpus with the broadcast weights in one
  * embarrassingly-parallel pass ([[scoreExpr]]).
  */
object LogReg {

  /** `iters` rounds of full-batch GD at rate `lr` over
    * (featCol: array<double> with a leading 1.0 bias slot,
    * labelCol: 0.0/1.0). Returns the weight vector. */
  def train(data: DataFrame, featCol: String, labelCol: String,
      iters: Int, lr: Double, dim: Int,
      ckpt: CkptMode = CkptMode.Local): Array[Double] = {
    val frame = Ckpt.materialize(
      data.select(col(featCol).as("x"), col(labelCol).cast("double").as("y")),
      ckpt)
    val n = frame.count().toDouble
    require(n > 0, "empty training frame")
    var w = Array.fill(dim)(0.0)
    try {
    var i = 0
    while (i < iters) {
      val grad = frame
        .select(posexplode(col("x")).as(Seq("pos", "xj")),
          (sigmoid(dot(col("x"), w)) - col("y")).as("r"))
        .select(col("pos"),
          (col("xj") * col("r")).cast("decimal(38,18)").as("g"))
        .groupBy(col("pos"))
        .agg(sum(col("g")).as("g"))
        .collect()
        .map(row => row.getInt(0) -> row.getDecimal(1).doubleValue()).toMap
      w = Array.tabulate(dim)(j => w(j) - lr * grad.getOrElse(j, 0.0) / n)
      i += 1
    }
    } finally Ckpt.release(frame, ckpt) // release even on a failed round
    w
  }

  /** w·x as a fixed left-fold (same sequential-fold idiom as
    * SimOps.cosine — deterministic, codegen-friendly). */
  def dot(x: Column, w: Array[Double]): Column =
    aggregate(zip_with(x, array(w.map(lit).toIndexedSeq: _*), _ * _),
      lit(0.0), _ + _)

  def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  /** Scoring expression over the broadcast weights — one
    * embarrassingly-parallel pass however large the corpus. */
  def scoreExpr(featCol: Column, w: Array[Double]): Column =
    sigmoid(dot(featCol, w))

  /** Mean log-loss of the model on `data` (driver-held 1-row result;
    * decimal sum for the same order-independence as the gradient). */
  def logLoss(data: DataFrame, featCol: String, labelCol: String,
      w: Array[Double]): Double = {
    val eps = 1e-12
    val p = scoreExpr(col(featCol), w)
    data.select(
      (-(col(labelCol) * log(greatest(p, lit(eps)))
        + (lit(1.0) - col(labelCol)) * log(greatest(lit(1.0) - p, lit(eps)))))
        .cast("decimal(38,18)").as("l"))
      .agg(sum(col("l")).cast("double").as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getDouble(0) / r.getLong(1)).head
  }

  /** Persist / reload the weight vector as a (pos, w) table — the
    * ModelStore convention (train once, serve forever; the
    * perplexity_holdout pricing rationale). */
  def save(spark: org.apache.spark.sql.SparkSession, w: Array[Double],
      path: String): Unit =
    ModelStore.saveTable(
      spark.createDataFrame(w.toIndexedSeq.zipWithIndex.map {
        case (v, j) => (j, v)
      }).toDF("pos", "w"), path)

  /** Reads (pos, w) with its known schema and orders it on the driver:
    * one Spark job, no footer inference, no sort. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Array[Double] =
    ModelStore.loadTable(spark, path, StructType.fromDDL("pos INT, w DOUBLE"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1).map(_._2)
}
