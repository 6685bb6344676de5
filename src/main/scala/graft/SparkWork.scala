package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** The Spark work one block of driver code launched, counted exactly.
  *
  * @param jobs          jobs started
  * @param stages        stage attempts completed (skipped stages do
  *                      not complete, so they are not counted)
  * @param tasks         tasks ended
  * @param inputRecords  records the tasks read from their input
  * @param maxTaskMs     the longest single task, in ms
  * @param maxTaskShuffleRecords the most shuffle records one task wrote
  * @param jobStageNames each job's stage names, in job-start order
  */
final case class SparkWork(
    jobs: Int,
    stages: Int,
    tasks: Int,
    inputRecords: Long,
    maxTaskMs: Long,
    maxTaskShuffleRecords: Long,
    jobStageNames: Seq[Seq[String]])

object SparkWork {

  /** Local property that marks the jobs of one [[measure]] call.
    * [[graft.operators.Concur]] carries it onto its pool threads, and
    * Spark's own broadcast and subquery threads copy every local
    * property, so work those threads launch counts toward the caller. */
  val TagKey = "graft.sparkwork.tag"

  /** Runs `f` and returns its result with the Spark work it launched.
    * Only jobs that carry this call's tag count: work another thread
    * launches at the same time does not. The listener bus is drained
    * before the counts are read, so they are complete on return. */
  def measure[T](spark: SparkSession)(f: => T): (T, SparkWork) = {
    val sc = spark.sparkContext
    val meter = new Meter(java.util.UUID.randomUUID().toString)
    val outer = sc.getLocalProperty(TagKey)
    sc.addSparkListener(meter)
    sc.setLocalProperty(TagKey, meter.tag)
    try {
      val r = f
      Bridge.drainListenerBus(sc)
      (r, meter.snapshot)
    } finally {
      sc.setLocalProperty(TagKey, outer)
      sc.removeSparkListener(meter)
    }
  }

  /** Listener callbacks run on the bus thread; `snapshot` runs on the
    * caller's, so every field is read and written under the lock. */
  private final class Meter(val tag: String) extends SparkListener {
    private val stageIds = scala.collection.mutable.Set.empty[Int]
    private var stages, tasks, jobs = 0
    private var records, maxMs, maxRec = 0L
    private val names = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      if (Option(j.properties).exists(_.getProperty(TagKey) == tag)) {
        jobs += 1
        stageIds ++= j.stageIds
        names += j.stageInfos.map(_.name)
      }
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      if (stageIds.contains(s.stageInfo.stageId)) stages += 1
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      if (stageIds.contains(t.stageId)) {
        tasks += 1
        if (t.taskInfo != null) maxMs = math.max(maxMs, t.taskInfo.duration)
        if (t.taskMetrics != null) {
          records += t.taskMetrics.inputMetrics.recordsRead
          maxRec = math.max(maxRec, t.taskMetrics.shuffleWriteMetrics.recordsWritten)
        }
      }
    }

    def snapshot: SparkWork = synchronized {
      SparkWork(jobs, stages, tasks, records, maxMs, maxRec, names.toList)
    }
  }
}
