package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.{CheckpointEntry, CheckpointStore, ExportClient, WarehouseSink}

/** What the untraced runs keep: per (tenant, report type) chain, the
  * time from its checkpoint lookup entering to its export request
  * returning `None`, and what each lookup returned. */
final class ChainClock {
  private val started = mutable.Map.empty[(String, String), Long]
  val latenciesNs = mutable.ArrayBuffer.empty[Long]
  val lookups = mutable.Map.empty[(String, String), Option[Long]]

  def lookupEntered(appId: String, jobType: String): Unit =
    started((appId, jobType)) = System.nanoTime()
  def lookupReturned(appId: String, jobType: String, r: Option[Long]): Unit =
    lookups((appId, jobType)) = r
  def exhausted(appId: String, jobType: String): Unit =
    started.remove((appId, jobType)).foreach(t0 => latenciesNs += System.nanoTime() - t0)
}

/** Timing decorator around the checkpoint store. */
final class TimedCheckpointStore(inner: CheckpointStore, tracer: Tracer, clock: ChainClock)
    extends CheckpointStore {
  override def findPreviousJobId(jobType: String, appId: String): Option[Long] = {
    clock.lookupEntered(appId, jobType)
    tracer.endNamed("chain")
    tracer.begin("chain")
    val r = tracer.span("checkpoint.lookup")(inner.findPreviousJobId(jobType, appId))
    clock.lookupReturned(appId, jobType, r)
    r
  }

  override def append(entry: CheckpointEntry): Unit =
    tracer.span("checkpoint.append")(inner.append(entry))
}

/** Timing decorator around the export service. The interval from
  * `jobDir` returning to the sink's `load` entering is the program's
  * read and parse step; it is traced as `read_parse`. */
final class TimedExportClient(inner: ExportClient, tracer: Tracer, clock: ChainClock)
    extends ExportClient {
  override def requestExport(appId: String, jobType: String,
      continueFrom: Option[Long]): Option[Long] = {
    val r = tracer.span("export.request")(inner.requestExport(appId, jobType, continueFrom))
    if (r.isEmpty) {
      clock.exhausted(appId, jobType)
      tracer.endNamed("chain")
    }
    r
  }

  override def isReady(appId: String, jobType: String, jobId: Long): Boolean =
    inner.isReady(appId, jobType, jobId)

  override def jobDir(appId: String, jobType: String, jobId: Long): String = {
    val d = tracer.span("export.job_dir")(inner.jobDir(appId, jobType, jobId))
    tracer.begin("read_parse")
    d
  }
}

/** Timing decorator around the warehouse sink. */
final class TimedWarehouseSink(inner: WarehouseSink, tracer: Tracer) extends WarehouseSink {
  override def load(df: DataFrame, dataset: String, table: String): Unit = {
    tracer.endNamed("read_parse")
    tracer.span("sink.load")(inner.load(df, dataset, table))
  }
}

/** Charges every Spark job, and the tasks of its stages, to the span
  * whose id the job carried in [[Tracer.SpanProperty]]. */
final class SpanListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Span]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
    id.flatMap(i => tracer.spanById(i.toLong)).foreach { s =>
      s.synchronized(s.counters.jobs += 1)
      synchronized(e.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, s)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    synchronized(stageSpan.get(e.stageId)).foreach { s =>
      if (m != null && info != null) s.synchronized {
        val c = s.counters
        c.tasks += 1
        c.runNs += m.executorRunTime * 1000000L
        c.cpuNs += m.executorCpuTime
        val fetchMs = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - fetchMs)
        c.gcMs += m.jvmGCTime
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    }
  }
}

/** Sums Catalyst phase times of every query execution that finishes
  * while `active` is set. */
final class PhaseListener extends QueryExecutionListener {
  @volatile var active = false
  val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = if (active) synchronized {
    qe.tracker.phases.foreach { case (phase, s) => phaseMs(phase) += s.durationMs }
  }

  def reset(): Unit = synchronized(phaseMs.clear())
}
