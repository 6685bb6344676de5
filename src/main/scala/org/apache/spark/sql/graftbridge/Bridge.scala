package org.apache.spark.sql.graftbridge

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.internal.Logging
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.util.Utils

/** Minimal bridge to the `private[sql]` Column↔Expression converters —
  * the sanctioned pattern for third-party Catalyst expressions (the
  * public API intentionally hides Expression since the Connect split) —
  * and to the few `private[spark]` calls below. Everything else in this
  * library uses public APIs only.
  */
object Bridge extends Logging {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every event already posted to the listener bus has
    * been delivered to every listener. Listener events are delivered
    * asynchronously, so counts read right after an action returns can
    * miss its last task-end events; after this call they cannot. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A copy of every Spark local property of the calling thread. */
  def captureLocalProperties(sc: SparkContext): Properties =
    Utils.cloneProperties(sc.getLocalProperties)

  /** Run `body` on this thread under exactly `props`, then give the
    * thread back its own properties — the way Spark's
    * `SQLExecution.withThreadLocalCaptured` runs work on its broadcast
    * threads. */
  def withLocalProperties[T](sc: SparkContext, props: Properties)(body: => T): T = {
    val own = sc.getLocalProperties
    sc.setLocalProperties(props)
    try body finally sc.setLocalProperties(own)
  }

  /** Release the block-manager storage behind a `localCheckpoint()`ed
    * Dataset. Iterative operators (PageRank, connected components,
    * k-means/PQ training, BPE training) checkpoint their state every
    * round; without this, every superseded round's blocks stay resident
    * until session end — at scale that is node-count-sized garbage per
    * round. The checkpointed plan is a
    * [[org.apache.spark.sql.execution.LogicalRDD]] leaf wrapping the
    * persisted RDD; unpersist it directly (non-blocking), touching only
    * THIS dataset's blocks — unlike a getPersistentRDDs diff, this
    * cannot race with concurrent queries. The input must not be used
    * again after the call.
    *
    * Deliberately a NO-OP unless the analyzed plan is EXACTLY the
    * checkpoint leaf: on a derived plan (filter/join over a checkpoint)
    * a traversal-based release would unpersist every LogicalRDD it
    * finds, including a shared checkpoint a live sibling still reads —
    * and a localCheckpoint has no recompute lineage, so the sibling's
    * next action would fail unrecoverably. Restricting to the root
    * leaf makes that misuse impossible instead of merely unlikely.
    */
  def unpersistCheckpoint(df: org.apache.spark.sql.Dataset[_]): Unit = df match {
    case c: org.apache.spark.sql.classic.Dataset[_] =>
      c.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
        case other => logWarning(
          s"unpersistCheckpoint: plan root is ${other.nodeName}, not a LogicalRDD " +
            "checkpoint leaf — no blocks released. Pass the checkpointed Dataset " +
            "itself, not a plan derived from it (derived plans keep their blocks).")
      }
    case other => logWarning(
      s"unpersistCheckpoint: unsupported Dataset class ${other.getClass.getName} — " +
        "no blocks released.")
  }

  /** Delete the checkpoint-directory files behind a RELIABLE
    * (`Dataset.checkpoint`) checkpoint — the durable-storage twin of
    * [[unpersistCheckpoint]]. The iterative operators running under
    * [[graft.operators.CkptMode.Reliable]] write one round snapshot to
    * the checkpoint dir every truncation; without this, a 10k-round
    * 100 TB job leaves every superseded snapshot on the cluster store
    * until `SparkContext.stop` (and `spark.cleaner.referenceTracking.
    * cleanCheckpoints` only fires on driver GC of the RDD — too late
    * and nondeterministic for a storage budget). Same strict guard as
    * [[unpersistCheckpoint]]: only an EXACT checkpoint-leaf plan is
    * released, so a derived plan sharing files with a live sibling can
    * never lose its storage. A not-yet-materialized (lazy,
    * never-acted-on) checkpoint has no files; the delete of its empty
    * path is a no-op. */
  def releaseReliableCheckpoint(df: org.apache.spark.sql.Dataset[_]): Unit = df match {
    case c: org.apache.spark.sql.classic.Dataset[_] =>
      c.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          org.apache.spark.rdd.ReliableRDDCheckpointData
            .cleanCheckpoint(lr.rdd.sparkContext, lr.rdd.id)
        case other => logWarning(
          s"releaseReliableCheckpoint: plan root is ${other.nodeName}, not a " +
            "LogicalRDD checkpoint leaf — no files released.")
      }
    case other => logWarning(
      s"releaseReliableCheckpoint: unsupported Dataset class ${other.getClass.getName} — " +
        "no files released.")
  }
}
