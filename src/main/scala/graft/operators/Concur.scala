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
  * Driver-side local properties (job group and tags, description,
  * scheduler pool, interruptOnCancel, [[graft.SparkWork]]'s tag, any
  * key a caller sets) are InheritableThreadLocal — captured when a
  * THREAD is created, so a shared pool would otherwise stamp whichever
  * context created its threads onto every later chain (a stale job
  * group or tag makes a cancel hit unrelated overlapped builds, or
  * miss the ones it should hit). par() therefore runs each thunk under
  * a copy of ALL of the caller's properties, taken at the call, and
  * gives the pool thread its own back afterwards, so every overlapped
  * job carries exactly the properties of the call site that submitted
  * it.
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

  /** Wrap a thunk so it runs under a copy of the CALLER's Spark local
    * properties (taken now, on the calling thread); the pool thread's
    * own properties are restored after it. */
  private def withCallerProps[A](body: => A): () => A = {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.graftbridge.Bridge
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext) match {
        case Some(sc) =>
          val props = Bridge.captureLocalProperties(sc)
          () => Bridge.withLocalProperties(sc, props)(body)
        case None => () => body
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
