package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.pipeline.{NotifyingListener, RecordingNotifier}

/** A failed Spark job must reach the notifier through the listener bus
  * (reference A13 semantics at the engine level). */
class NotifyingListenerSpec extends SparkSuite {

  test("failed job posts to the notifier; successful jobs do not") {
    val notifier = new RecordingNotifier
    val listener = new NotifyingListener(notifier, "engine-errors")
    spark.sparkContext.addSparkListener(listener)
    try {
      val boom = udf((i: Long) =>
        if (i >= 0) throw new RuntimeException("boom") else i)
      intercept[Exception] {
        spark.range(10).select(boom(col("id"))).collect()
      }
      // A failed job's end event is posted just AFTER its caller is
      // woken, but before the scheduler takes the next job, and a
      // successful job posts all its events before its caller wakes.
      // So one more job, then a drain of the async bus, makes the
      // failure's delivery certain.
      spark.range(1).count()
      Bridge.drainListenerBus(spark.sparkContext)
      assert(notifier.messages.nonEmpty, "failure never reached the notifier")
      assert(notifier.messages.forall(_._1 == "engine-errors"))

      val before = notifier.messages.size
      assert(spark.range(10).count() == 10)
      Bridge.drainListenerBus(spark.sparkContext)
      assert(notifier.messages.size == before, "success must not notify")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
