package graft.tools

import graft.Harness
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-loop floor profiler: where does the fixed per-query bench cost
  * go? Runs each named query a few times with Bench's session config
  * and splits wall into plan-build (analyze+optimize+physical-plan)
  * vs execution, alongside Spark job/stage/task counts and task time —
  * the difference between wall and summed task time is scheduling +
  * driver-side latency, the part a plan rewrite cannot remove.
  */
object ProfileFloor {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.build(graft.GraftSession.cpus())
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
        taskTimeMs += s.stageInfo.taskMetrics.executorRunTime
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = ()
    })
    for (name <- args(0).split(",")) {
      for (i <- 1 to 3) {
        jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0L
        val r = Harness.run(spark, name) {
          val t0 = System.nanoTime()
          val df = graft.SparkEntry.queries(name)(spark, sfDir)
          df.queryExecution.executedPlan // force planning
          val planMs = (System.nanoTime() - t0) / 1e6
          Harness.noop(df)
          planMs
        }
        val planMs = r.result.toTry.get
        // give the listener bus a beat to drain
        Thread.sleep(200)
        println(f"$name%-32s run$i plan=$planMs%6.0fms " +
          f"exec=${r.wallSec * 1e3 - planMs}%6.0fms jobs=$jobs%2d " +
          f"stages=$stages%2d tasks=$tasks%4d taskTime=${taskTimeMs}%5dms")
      }
    }
    spark.stop()
  }
}
