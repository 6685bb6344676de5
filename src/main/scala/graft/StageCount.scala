package graft

/** Plan-shape diagnostic: run one registry query and print its
  * scheduler cost — jobs, stages, tasks, wall seconds — as one JSON
  * line. Wall seconds on a drifting box cannot tell a 20% win from
  * noise, but the stage count is exact and box-independent. The
  * counts come from [[SparkWork]].
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_ONLY=<query> [reps]
  * java ... graft.StageCount
  */
object StageCount {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val name = sys.env.getOrElse("SPARK_GRAFT_ONLY",
      sys.error("set SPARK_GRAFT_ONLY to one query name"))
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus)
    // the noop sink, NOT count(): count() lets Catalyst prune final
    // sorts and gut global-aggregate plans (see ScaleBench.run)
    def exec(): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    // one discarded warmup, then `reps` measured runs
    exec()
    val out = (1 to reps).map { _ =>
      val (sec, w) = SparkWork.measure(spark)(exec())
      f"""{"jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},"max_task_ms":${w.maxTaskMs},"max_shuffle_rec":${w.maxTaskShuffleRecords},"sec":$sec%.3f}"""
    }
    println(s"""{"query":"$name","sf":"$sfDir","runs":[${out.mkString(",")}]}""")
    spark.stop()
  }
}
