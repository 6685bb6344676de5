package graft.operators

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Overlap INDEPENDENT driver job chains (optimization guide §2.6):
  * Spark's scheduler happily runs several jobs at once inside one
  * application — actions are only sequential because driver code
  * calls them sequentially. An index build is exactly the guide's
  * shape: the coarse-quantizer chain, the PQ chain, the payload write
  * and the margin measurement are mutually independent multi-job
  * chains that the build rounds had been running back to back, so
  * every chain's scheduling latency (and every stage tail) was paid
  * serially. Submitting them from a small pool lets FIFO scheduling
  * back-fill one chain's tail with the next chain's tasks.
  *
  * Measured motivation (round 20, StageCount at sf0.1): the ANN build
  * rows run 76–87 jobs with ONE task per stage — wall time ≈ job
  * count × scheduler latency, the calib2 cost class. On a cluster the
  * same serial chain is driver-scheduling dead time between tails.
  *
  * Semantics: each thunk's plan and its output are untouched — only
  * WHEN the driver submits it changes. Every thunk runs on its own
  * pool thread (daemon, bounded), results return in argument order,
  * and the first failure propagates after all thunks settle. Failure
  * leaves ANY SUBSET of the sibling chains completed (overlap admits
  * suffix combinations a sequential failure could not — e.g. new
  * vectors + old codebooks); callers preserve correctness by ordering
  * the commit gate AFTER par() (writeAnnIndex's meta-last invariant),
  * never by assuming sequential prefix states. Determinism is
  * per-chain: nothing here reorders rows, partitions or commits
  * within a chain.
  *
  * Driver-side local properties (job group/description, scheduler
  * pool, interruptOnCancel) are InheritableThreadLocal — captured when
  * a THREAD is created, so a shared pool would otherwise stamp
  * whichever context created its threads onto every later chain
  * (round 21, ADVICE r20: a stale job group makes cancelJobGroup
  * cancel unrelated overlapped builds, or miss the ones it should
  * cancel). par() therefore captures the CALLER's properties and
  * sets/clears them explicitly inside each thunk, so every overlapped
  * job carries exactly the group/pool/description of the call site
  * that submitted it.
  */
object Concur {

  // Bounded daemon pool, shared across calls: overlap width is the
  // number of independent CHAINS (≤ 4 at any call site), never a
  // per-row fanout. Nested par() on a bounded shared pool could
  // deadlock once saturated — guarded explicitly below (round 21,
  // ADVICE r20: a future nested call site would otherwise hang
  // silently under the Duration.Inf awaits, not fail).
  private val PoolThreadName = "graft-concur"
  private lazy val pool: ExecutionContext =
    ExecutionContext.fromExecutorService(
      Executors.newFixedThreadPool(8, r => {
        val t = new Thread(r, PoolThreadName)
        t.setDaemon(true)
        t
      }))

  /** Spark's driver-side local properties worth carrying from the
    * caller into each overlapped chain (see class scaladoc). Constants
    * mirror SparkContext's public setJobGroup/setJobDescription/
    * scheduler-pool keys; the last is [[graft.SparkWork]]'s tag, so a
    * chain's jobs count toward the caller that measures them. */
  private val PropKeys = Seq(
    "spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.scheduler.pool",
    graft.SparkWork.TagKey)

  /** Wrap a thunk so it runs under the CALLER's Spark local properties
    * (captured now, on the calling thread) and clears them after — a
    * pool thread must not leak one chain's job group into the next. */
  private def withCallerProps[A](body: => A): () => A = {
    import org.apache.spark.sql.SparkSession
    val sc = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val props = sc.map(c => PropKeys.map(k => k -> c.getLocalProperty(k)))
    () => {
      sc.foreach { c =>
        props.get.foreach { case (k, v) => c.setLocalProperty(k, v) }
      }
      try body
      finally sc.foreach { c =>
        PropKeys.foreach(k => c.setLocalProperty(k, null))
      }
    }
  }

  /** Nested par() would make a pool thread await tasks that can only
    * run on the same bounded pool — a silent deadlock. Fail fast. */
  private def guardReentry(): Unit =
    if (Thread.currentThread().getName.startsWith(PoolThreadName))
      throw new IllegalStateException(
        "Concur.par called from inside a Concur.par thunk — nested " +
          "overlap on the bounded shared pool would deadlock; run the " +
          "inner chains sequentially or restructure the outer call")

  /** Run the thunks concurrently; return in argument order. Awaits
    * every thunk (success or failure) before returning or throwing,
    * so no chain is left racing a caller that believed it finished. */
  def par[A, B](a: => A, b: => B): (A, B) = {
    guardReentry()
    val (ta, tb) = (withCallerProps(a), withCallerProps(b))
    val (fa, fb) = (Future(ta())(pool), Future(tb())(pool))
    awaitAll(fa, fb)
    (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf))
  }

  def par[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    guardReentry()
    val (ta, tb, tc) = (withCallerProps(a), withCallerProps(b), withCallerProps(c))
    val (fa, fb, fc) = (Future(ta())(pool), Future(tb())(pool), Future(tc())(pool))
    awaitAll(fa, fb, fc)
    (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf),
      Await.result(fc, Duration.Inf))
  }

  def par[A, B, C, D](a: => A, b: => B, c: => C, d: => D): (A, B, C, D) = {
    guardReentry()
    val (ta, tb, tc, td) =
      (withCallerProps(a), withCallerProps(b), withCallerProps(c), withCallerProps(d))
    val (fa, fb, fc, fd) =
      (Future(ta())(pool), Future(tb())(pool), Future(tc())(pool), Future(td())(pool))
    awaitAll(fa, fb, fc, fd)
    (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf),
      Await.result(fc, Duration.Inf), Await.result(fd, Duration.Inf))
  }

  /** Block until every future has SETTLED (either way) — a failing
    * chain must not leave its siblings' Spark jobs racing the caller's
    * error handling. */
  private def awaitAll(fs: Future[_]*): Unit =
    fs.foreach(f => Await.ready(f, Duration.Inf))
}
