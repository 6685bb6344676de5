package graft.pipeline

import java.sql.Timestamp
import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Observation, SparkSession}

/** The reference's orchestration loop re-expressed on Spark:
  *
  *  - A3  checkpoint lookup   → [[CheckpointStore.findPreviousJobId]]
  *  - A4  incremental request → jobs with id > checkpoint (the local
  *        model of `continueFrom`; job ids are monotone)
  *  - A6  download + gunzip   → [[UnityExport.readJob]] (gz by ext),
  *        parsed once: the sink's write is the only pass, and the row
  *        count is an [[Observation]] on that write's raw JSON scan
  *  - A7/A8/A9 route + load   → tenant dataset, table = report type
  *        ("Table name = Report Name", reference README), via
  *        [[WarehouseSink]]
  *  - A10 checkpoint append iff the job had data (`is_files` flag,
  *        /root/reference/Unity_to_BigQuery.py:124-127,178-184)
  *        — a listing, [[UnityExport.hasData]], with no Spark job; a
  *        job whose files parse to zero rows halts the same way
  *  - A11/A12 tenant × report-type loop
  *        (/root/reference/Unity_to_BigQuery.py:152-186,189-216)
  *  - A13 errors → [[Notifier]] instead of aborting the sweep.
  *
  * Unlike the reference (strictly sequential, one thread), each job's
  * read→write is a distributed Spark job; the driver loop only
  * sequences commits so the checkpoint stays a consistent high
  * watermark.
  *
  * Committing one export job costs one Spark job: the sink's write.
  * After the session's first job it compiles no code either: the
  * sink hands `job_id` to the writer as a string, so the generated
  * write code does not depend on the job id (see
  * [[ParquetWarehouseSink]]).
  * Both checkpoint stores look up and append without a Spark job
  * (a [[ParquetCheckpointStore]] scans only to reload files another
  * writer added). The row count is observed on the raw scan, below
  * the `job_id` literal, so the optimizer still sees that every row
  * of the write carries one `job_id` and plans no sort for the
  * `job_id`-partitioned sink.
  */
final class IngestJob(
    spark: SparkSession,
    config: PipelineConfig,
    checkpoints: CheckpointStore,
    sink: WarehouseSink,
    notifier: Notifier,
    client: ExportClient,
    poller: ExportPoller) {

  /** Ingest everything new for one (app, reportType); returns rows
    * loaded. Mirrors reference A11: checkpoint lookup → export request
    * (continueFrom) → readiness poll → save → checkpoint append (only
    * when the job had data — `is_files`, so an empty job is retried by
    * the next run, exactly like the reference). */
  def run(appId: String, jobType: String): Long = {
    val dataset = config.datasetFor(appId).getOrElse(
      throw new IllegalArgumentException(s"unknown tenant: $appId"))

    var total = 0L
    var prev  = checkpoints.findPreviousJobId(jobType, appId)
    var next  = client.requestExport(appId, jobType, prev)
    var halted = false
    while (next.isDefined && !halted) {
      val jobId = next.get
      poller.awaitReady(appId, jobType, jobId)
      val dir = client.jobDir(appId, jobType, jobId)
      // A job without data (no non-empty file, or zero rows parsed) is
      // NOT checkpointed and the sweep must not advance past it — its
      // files may still be landing; the next run retries from here
      // (reference is_files semantics: checkpoint only moves when data
      // was saved).
      val n =
        if (!UnityExport.hasData(spark, dir)) 0L
        else {
          val rows = Observation()
          sink.load(UnityExport.readJob(spark, dir, jobId, rows), dataset, jobType)
          observedRows(rows, jobId)
        }
      if (n > 0) {
        checkpoints.append(CheckpointEntry(
          job_id = jobId,
          job_type = jobType,
          ts = new Timestamp(System.currentTimeMillis()),
          app_id = appId,
          previous_job_id = prev,
          date_range = None))
        total += n
        prev = Some(jobId)
        next = client.requestExport(appId, jobType, prev)
      } else halted = true
    }
    total
  }

  /** The row count the sink's write observed. The metric reaches the
    * Observation through the listener bus after the write returns, so
    * it is awaited, with a bound (never the unbounded `get`): a sink
    * that did not execute the DataFrame never delivers one, and the
    * chain then fails instead of hanging (the next run re-ingests the
    * job, idempotently). */
  private def observedRows(rows: Observation, jobId: Long): Long =
    try Await.result(rows.future, IngestJob.ObservedRowsWait).getAs[Long]("rows")
    catch {
      case _: TimeoutException => throw new IllegalStateException(
        s"no row count observed for export job $jobId: the sink did not execute its DataFrame")
    }

  /** The cross-product driver loop (A12): tenants × report types, one
    * failure never kills the sweep — it posts to the notifier and
    * continues, like the reference's outer try/except → Slack. */
  def runAll(): Map[(String, String), Long] =
    (for {
      tenant  <- config.tenants
      jobType <- config.reportTypes
    } yield {
      val n =
        try run(tenant.appId, jobType)
        catch {
          case e: Exception =>
            notifier.notify("pipeline-errors",
              s"ingest failed for ${tenant.appId}/$jobType: ${e.getMessage}")
            -1L
        }
      (tenant.appId, jobType) -> n
    }).toMap
}

object IngestJob {
  /** Upper bound on the wait for a write's observed row count. */
  private val ObservedRowsWait = 10.seconds

  /** Standard local wiring: filesystem export service, no-sleep poller
    * (local job dirs are ready immediately). */
  def apply(spark: SparkSession, config: PipelineConfig,
      checkpoints: CheckpointStore, sink: WarehouseSink,
      notifier: Notifier): IngestJob = {
    val client = new LocalDirExportClient(config.exportRoot)
    new IngestJob(spark, config, checkpoints, sink, notifier, client,
      new ExportPoller(client, pollIntervalMs = 0L, sleep = _ => ()))
  }
}
