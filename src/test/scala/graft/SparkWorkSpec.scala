package graft

import org.apache.spark.sql.functions.col

import graft.operators.Concur

/** [[SparkWork]] counts the jobs its caller launches — including those
  * a [[Concur.par]] pool thread submits for it — and its counts are
  * complete the moment `measure` returns. */
class SparkWorkSpec extends SparkSuite {

  test("jobs submitted inside Concur.par thunks count toward the caller") {
    // Fill the shared 8-thread pool first: a pool thread created inside
    // measure would inherit the tag from its creator, so only reused
    // threads show whether par() carries the tag itself.
    Seq.fill(2)(Concur.par((), (), (), ()))
    val (_, work) = SparkWork.measure(spark) {
      Concur.par(
        spark.range(0, 10, 1, 2).collect(),
        spark.range(0, 20, 1, 2).collect())
    }
    assert(work.jobs == 2, s"counted ${work.jobs} jobs for two pool-thread collects")
  }

  test("counts are exact on return; an untagged thread's job is not counted") {
    withSQLConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "5") {
      // built outside measure, so it inherits no tag
      val other = new Thread(() => spark.range(0, 10, 1, 3).collect(): Unit)
      val (groups, work) = SparkWork.measure(spark) {
        other.start()
        val n = spark.range(0, 1000, 1, 37)
          .groupBy((col("id") % 10).as("g")).count().collect().length
        other.join()
        n
      }
      assert(groups == 10)
      // one job: 37 map tasks, then 5 reduce tasks
      assert(work.jobs == 1, s"jobs ${work.jobs}")
      assert(work.stages == 2, s"stages ${work.stages}")
      assert(work.tasks == 37 + 5, s"tasks ${work.tasks}")
      assert(work.maxTaskShuffleRecords > 0)
    }
  }
}
