package graft.pipeline

import java.io.File

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Unity-export-style source: gzip/plain NDJSON files in the
  * reference's on-disk layout
  * `<root>/<app_id>/<job_type>/<yyyy-MM-dd>_<job_id>/part-*.json[.gz]`
  * (/root/reference/Unity_to_BigQuery.py:106-108,132,136-141).
  *
  * Always read with the explicit envelope schema (FIXTURES.md §3) —
  * schema-on-read inference over export volumes is an extra full pass
  * and nondeterministic. Gzip needs no code: Hadoop's GzipCodec
  * decompresses by extension (the reference's in-memory
  * gzip.GzipFile step disappears).
  */
object UnityExport {

  /** Record envelope (FIXTURES.md §3). `ts` is carried as an ISO-8601
    * string and parsed on read — export files are schema-on-read in
    * the reference, and string-typed time survives any JSON writer. */
  val schema: StructType = StructType(Seq(
    StructField("ts", StringType),
    StructField("appid", StringType),
    StructField("type", StringType),
    StructField("userid", StringType),
    StructField("sessionid", StringType),
    StructField("platform", StringType),
    StructField("sdk_ver", StringType),
    StructField("debug", BooleanType),
    StructField("custom_params", StringType),
    StructField("amount", DoubleType)))

  /** Job directories for (app, jobType), as (jobId, path). Driver-side
    * listing mirrors the reference's export fileList (:129); at scale
    * this is object-store metadata — the data reads stay distributed. */
  def listJobs(exportRoot: String, appId: String, jobType: String): Seq[(Long, String)] = {
    val dir = new File(s"$exportRoot/$appId/$jobType")
    val children = Option(dir.listFiles()).getOrElse(Array.empty[File])
    children.toSeq
      .filter(_.isDirectory)
      .flatMap { d =>
        // <yyyy-MM-dd>_<job_id>
        d.getName.split("_").lastOption.flatMap(_.toLongOption).map(_ -> d.getPath)
      }
      .sortBy(_._1)
  }

  /** The reference's `is_files` check (:124-127): does the job
    * directory hold a non-empty data file? A listing, not a read. */
  def hasData(spark: SparkSession, jobDir: String): Boolean =
    DataFiles.list(spark.sparkContext.hadoopConfiguration, jobDir).exists(_.getLen > 0)

  /** Read one export job directory with the declared schema, with
    * parsed event time and lineage columns attached. */
  def readJob(spark: SparkSession, jobDir: String, jobId: Long): DataFrame =
    withLineage(spark.read.schema(schema).json(jobDir), jobId)

  /** [[readJob]], with `rows` counting the job's records as column
    * `rows` when the result executes. The count is observed on the raw
    * JSON scan, below the lineage columns: above them it would sit
    * between the `job_id` literal and a write partitioned by `job_id`,
    * and the optimizer could no longer see that every row carries the
    * same `job_id`, so it would sort the rows before writing them. */
  def readJob(spark: SparkSession, jobDir: String, jobId: Long, rows: Observation): DataFrame =
    withLineage(spark.read.schema(schema).json(jobDir).observe(rows, count(lit(1)).as("rows")), jobId)

  private def withLineage(records: DataFrame, jobId: Long): DataFrame =
    records
      .withColumn("event_ts", to_timestamp(col("ts")))
      .withColumn("job_id", lit(jobId))
}
