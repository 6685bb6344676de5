package graft.models

import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.pipeline.DataFiles

/** A frozen add-one-smoothed bigram language model: the two count
  * tables plus the training vocabulary size. Counts are exact longs,
  * so a saved-and-reloaded LM scores BIT-identically to the freshly
  * trained one (ModelStoreSpec asserts it). */
final case class BigramLm(cab: DataFrame, ca: DataFrame, vocabSize: Long)

/** Persistence for LEARNED model artifacts — the deployment half of
  * the train/apply pairs in this library: BPE merge tables
  * ([[graft.operators.BpeTrain]] → [[graft.operators.BpeEncode]]),
  * bigram-LM count tables ([[graft.queries.TextOps]].trainBigramLm →
  * scoreAgainstLm), and the single-table models that store themselves
  * here ([[LogReg]] weights, the [[Pca]] model). Training is the
  * expensive corpus pass; scoring/encoding must run nightly WITHOUT
  * retraining, which means every artifact round-trips through storage
  * with nothing lost. The index artifacts have their own layout
  * owners: [[graft.operators.AnnIndex]] (IVF×PQ) and
  * [[graft.operators.DedupIndex]] (dedup survivors).
  *
  * Format: parquet, which keeps longs, strings and float arrays
  * exact, so save→load→apply equals train→apply bit-for-bit
  * (ModelStoreSpec proves it per artifact class). Every read passes
  * the table's declared schema: a load infers nothing. Broadcast-scale
  * tables are written as one file; the distinct-bigram-sized LM counts
  * keep their write parallelism.
  *
  * Reference context: /root/reference/Unity_to_BigQuery.py persists
  * nothing but raw exports; model persistence is the LLM-pipeline
  * layer a training stack runs downstream of that export.
  */
object ModelStore {

  /** A BPE merge table's schema, as [[graft.operators.BpeTrain]]
    * produces it. */
  val MergesSchema: StructType =
    StructType.fromDDL("rank int, `left` string, `right` string, merged string")

  /** The bigram LM's three tables and their schemas, as
    * [[saveBigramLm]] writes them. */
  val LmSchemas: Map[String, StructType] = Map(
    "cab" -> "a string, b string, cab bigint",
    "ca" -> "a string, ca bigint",
    "meta" -> "vocab_size bigint"
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  /** Save a broadcast-scale model table (merges, weights, a model row)
    * as a single parquet file. */
  def saveTable(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a model table with its declared schema: no job to infer it
    * from the parquet footers. */
  def loadTable(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** Load a BPE merge table (rank, left, right, merged) back into the
    * rank-ordered (left, right) sequence [[graft.operators.BpeEncode]]
    * consumes. Model-sized collect: merge count is a hyperparameter. */
  def loadMerges(spark: SparkSession, path: String): Seq[(String, String)] =
    loadTable(spark, path, MergesSchema).orderBy(col("rank")).collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq

  def saveBigramLm(lm: BigramLm, path: String): Unit = {
    lm.cab.write.mode("overwrite").parquet(s"$path/cab")
    lm.ca.write.mode("overwrite").parquet(s"$path/ca")
    val spark = lm.cab.sparkSession
    saveTable(spark.range(1).select(lit(lm.vocabSize).as("vocab_size")),
      s"$path/meta")
  }

  /** Loads the LM with no Spark job: the count tables are lazy reads,
    * and the one-row `meta` is read on the driver. */
  def loadBigramLm(spark: SparkSession, path: String): BigramLm = {
    def read(t: String) = loadTable(spark, s"$path/$t", LmSchemas(t))
    BigramLm(read("cab"), read("ca"), vocabSize(spark, s"$path/meta"))
  }

  /** The `vocab_size` of the LM's one-row `meta` table, read through
    * parquet-hadoop. The reader is handed the session's loaded Hadoop
    * configuration: without read options it builds a fresh one and
    * re-parses every `*-site.xml` on each open. */
  private def vocabSize(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val values = DataFiles.list(conf, dir).flatMap { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromStatus(f, conf), HadoopReadOptions.builder(conf).build())
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        Iterator.continually(reader.readNextRowGroup()).takeWhile(_ != null)
          .flatMap { rows =>
            val records = new ColumnIOFactory().getColumnIO(schema)
              .getRecordReader(rows, new GroupRecordConverter(schema))
            Seq.fill(rows.getRowCount.toInt)(records.read().getLong("vocab_size", 0))
          }.toList
      } finally reader.close()
    }
    values match {
      case Seq(v) => v
      case _ => throw new IllegalStateException(
        s"bigram LM meta at $dir holds ${values.size} vocab_size rows, expected 1")
    }
  }
}
