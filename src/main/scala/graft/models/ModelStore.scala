package graft.models

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A frozen add-one-smoothed bigram language model: the two count
  * tables plus the training vocabulary size. Counts are exact longs,
  * so a saved-and-reloaded LM scores BIT-identically to the freshly
  * trained one (ModelStoreSpec asserts it). */
final case class BigramLm(cab: DataFrame, ca: DataFrame, vocabSize: Long)

/** Persistence for LEARNED model artifacts — the deployment half of
  * the train/apply pairs in this library: BPE merge tables
  * ([[graft.operators.BpeTrain]] → [[graft.operators.BpeEncode]]),
  * PQ codebooks and IVF centroid tables
  * ([[graft.queries.SimOps]].pqTrain/pqEncode, ivfAssign/assignCells),
  * bigram-LM count tables ([[graft.queries.TextOps]].trainBigramLm →
  * scoreAgainstLm), and dedup survivor indexes
  * ([[graft.queries.TextOps]].dedupIncremental). Training is the
  * expensive corpus pass; scoring/encoding must run nightly WITHOUT
  * retraining, which means every artifact round-trips through storage
  * with nothing lost.
  *
  * Format: parquet, like every other table in the library — model
  * tables are rows (merge ranks, (seg, cell) centroids, (a, b, n)
  * counts), and parquet keeps longs, strings, and float arrays exact,
  * so save→load→apply equals train→apply bit-for-bit (ModelStoreSpec
  * proves it per artifact class). Artifacts are broadcast-scale
  * (codebooks: m×k rows; merges: merge-count rows; LM counts:
  * distinct-bigram-sized — the one corpus-SUBLINEAR table, written
  * partitioned like any fact table), so writes coalesce to one file
  * except the LM counts, which keep their parallelism.
  *
  * Reference context: /root/reference/Unity_to_BigQuery.py persists
  * nothing but raw exports; model persistence is the LLM-pipeline
  * layer a training stack runs downstream of that export.
  */
object ModelStore {

  /** Save a broadcast-scale model table (codebook, centroids, merges)
    * as a single parquet file. */
  def saveTable(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** Save a corpus-sublinear model table (LM counts, dedup index rows)
    * keeping write parallelism. */
  def saveLargeTable(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Append rows to a large model table — the refresh half of an
    * incremental artifact (e.g. newly-accepted survivors joining a
    * dedup index). Parquet append adds files; a periodic compaction
    * (pipeline.Compaction) keeps the file count bounded. */
  def appendLargeTable(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  def loadTable(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Load a model table whose schema the caller knows: no job to infer
    * it from the parquet footers. */
  def loadTable(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** Load a BPE merge table (rank, left, right, merged) back into the
    * rank-ordered (left, right) sequence [[graft.operators.BpeEncode]]
    * consumes. Model-sized collect: merge count is a hyperparameter. */
  def loadMerges(spark: SparkSession, path: String): Seq[(String, String)] =
    loadTable(spark, path).orderBy(col("rank")).collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq

  def saveBigramLm(lm: BigramLm, path: String): Unit = {
    saveLargeTable(lm.cab, s"$path/cab")
    saveLargeTable(lm.ca, s"$path/ca")
    val spark = lm.cab.sparkSession
    saveTable(spark.range(1).select(lit(lm.vocabSize).as("vocab_size")),
      s"$path/meta")
  }

  def loadBigramLm(spark: SparkSession, path: String): BigramLm =
    BigramLm(
      loadTable(spark, s"$path/cab"),
      loadTable(spark, s"$path/ca"),
      loadTable(spark, s"$path/meta").collect().head.getAs[Long]("vocab_size"))
}
