package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.types.StringType

/** Warehouse load boundary (reference A9: BigQuery_uploader.main,
  * /root/reference/bq_uploader.py:14-35 — dataset + table + file
  * format in, blocking load job out).
  */
trait WarehouseSink {
  /** Load a batch into (dataset, table); append semantics, one call per
    * export job — the reference's per-file `load_table_from_file`.
    *
    * Must execute `df` before returning: [[IngestJob]] reads the job's
    * row count from an `Observation` attached to it, so the load is the
    * job's only parse. A sink that returns without executing it fails
    * the chain, and the next run re-ingests the job. */
  def load(df: DataFrame, dataset: String, table: String): Unit
}

/** Local Parquet implementation (offline substitution for the BigQuery
  * connector, SURVEY.md §7.3): one directory per (dataset, table),
  * partitioned by the lineage `job_id` column when present.
  *
  * Writes with job_id lineage use DYNAMIC PARTITION OVERWRITE: the
  * sink-then-checkpoint sequence in [[IngestJob.run]] is not atomic
  * (the reference has the same window), so a crash between them makes
  * the next run re-ingest the job — overwriting exactly the job's own
  * job_id partition makes that re-run idempotent instead of
  * duplicating rows. Without a job_id column the sink degrades to
  * plain append (at-least-once).
  *
  * The partitioned write casts `job_id` to a string first. The
  * optimizer folds the cast into the `job_id` literal, and codegen
  * inlines a long literal into the generated Java source (`<id>L`)
  * but passes a string literal to it as a reference object. So with
  * the cast the write's generated source is the same for every job
  * id: it is compiled once per session and hits the codegen cache
  * for every later job, instead of compiling fresh classes per job.
  * The bytes on disk do not change: a partition value lives only in
  * the `job_id=<id>` directory name, which the writer renders through
  * a cast to string either way.
  */
final class ParquetWarehouseSink(root: String) extends WarehouseSink {
  override def load(df: DataFrame, dataset: String, table: String): Unit = {
    val target = s"$root/$dataset/$table"
    if (df.columns.contains("job_id"))
      df.withColumn("job_id", df.col("job_id").cast(StringType))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("job_id").parquet(target)
    else df.write.mode(SaveMode.Append).parquet(target)
  }
}

/** Error-notification boundary (reference A13: slack webhook via curl,
  * /root/reference/slack_notifier.py:5-11 — here a trait with a
  * driver-side logging impl; prod would POST from the driver, never
  * via a subshell).
  */
trait Notifier {
  def notify(channel: String, message: String): Unit
}

final class LogNotifier extends Notifier {
  override def notify(channel: String, message: String): Unit =
    System.err.println(s"[notify:$channel] $message")
}

/** Test/in-memory notifier capturing messages. */
final class RecordingNotifier extends Notifier {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  override def notify(channel: String, message: String): Unit =
    buf.synchronized { buf += ((channel, message)) }
  def messages: Seq[(String, String)] = buf.synchronized(buf.toSeq)
}
