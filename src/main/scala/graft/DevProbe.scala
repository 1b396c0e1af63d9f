package graft

/** Dev-only probe: run one declared query N times in a session and print
  * per-run wall seconds and one line per stage (bench reports only
  * min-of-3 — this shows the cold/warm split so driver-side analysis cost
  * is visible). Usage:
  *   tools/run.sh graft.DevProbe <sfDir> <query> [runs]
  */
object DevProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val runs = if (args.length > 2) args(2).toInt else 4
    val spark = Engine.session("graft-probe")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val taskTimeMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val rt = s.stageInfo.taskMetrics match {
          case null => 0L; case m => m.executorRunTime }
        taskTimeMs.addAndGet(rt)
        println(f"[stage] ${s.stageInfo.stageId}%4d ${rt / 1000.0}%7.2f s  " +
          s"tasks=${s.stageInfo.numTasks}  ${s.stageInfo.name.take(90)}")
      }
    })
    val q = SparkEntry.queries(name)
    for (i <- 1 to runs) {
      val (j0, s0, t0m) = (jobs.get, stages.get, taskTimeMs.get)
      val sec = Bench.timed(q(spark, sfDir).write.format("noop").mode("overwrite").save())
      println(f"[probe] $name run $i: $sec%.3f s  " +
        f"jobs=${jobs.get - j0} stages=${stages.get - s0} taskTime=${(taskTimeMs.get - t0m) / 1000.0}%.2f s")
    }
    spark.stop()
  }
}
