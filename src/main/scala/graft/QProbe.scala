package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** Dev prober: steady-state times + job/stage/task counts and codegen
  * compiles for a list of SparkEntry queries in ONE JVM. Usage:
  *   runMain graft.QProbe <sfDir> <query> [<query> ...]
  * Each query: 1 warm-up + 3 timed noop-sink runs (the Bench action).
  * `cc=` counts the classes a run compiled: the warm-up's are the
  * query's new generated classes, a timed run's are code that differs
  * from run to run (or, past the codegen cache size, evicted classes).
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    val d = args(0)
    @volatile var jobs = 0; @volatile var stages = 0; @volatile var tasks = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs += 1 }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        stages += 1; tasks += s.stageInfo.numTasks }
    })
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def once(name: String): Double = {
      val t0 = System.nanoTime
      SparkEntry.queries(name)(spark, d)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime - t0) / 1e9
    }
    args.drop(1).foreach { name =>
      spark.sparkContext.setJobDescription(s"probe:$name")
      val c0 = compiles
      once(name) // warm-up
      val warmCc = compiles - c0
      val reps = (1 to 3).map { _ =>
        Thread.sleep(200); jobs = 0; stages = 0; tasks = 0
        val c = compiles
        val t = once(name)
        (t, jobs, stages, tasks, compiles - c)
      }
      val best = reps.map(_._1).min
      println(f"[probe] $name%-24s best=$best%6.2f s  warm-up cc=$warmCc  " +
        reps.map(r =>
          f"${r._1}%.2f(j=${r._2},st=${r._3},tk=${r._4},cc=${r._5})")
          .mkString("  "))
    }
    spark.stop()
  }
}
