package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-job profile of one catalog query: its optimized and executed plans,
  * then wall, summed task run/cpu time and task count per Spark job, in
  * submission order — the "which of this query's ~N jobs is the expensive
  * one" question Bench's per-query totals cannot answer. The printed times
  * exclude the plan printing; each run also prints how many classes the
  * code generator compiled (0 on a warm run means every generated class
  * was a cache hit). Diagnostic only.
  *
  * `sbt "runMain graft.Diagnose <name> [sfDir]"`
  */
object Diagnose {

  private final class JobProfiler extends SparkListener {
    final class J {
      var submitted = 0L; var completed = 0L
      var taskRunMs = 0L; var taskCpuMs = 0L; var tasks = 0; var gcMs = 0L
      var desc = ""
    }
    val jobs = mutable.LinkedHashMap.empty[Int, J]
    private val stageToJob = mutable.HashMap.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val j = new J
      j.submitted = e.time
      j.desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs(e.jobId) = j
      e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.completed = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.taskRunMs += m.executorRunTime
        j.taskCpuMs += m.executorCpuTime / 1000000L
        j.gcMs += m.jvmGCTime
        j.tasks += 1
      }
    }
    def reset(): Unit = synchronized { jobs.clear(); stageToJob.clear() }
    def report(): Unit = synchronized {
      println(f"${"job"}%4s ${"wall_ms"}%8s ${"run_ms"}%8s ${"cpu_ms"}%8s ${"gc"}%6s ${"tasks"}%6s  desc")
      var tw = 0L; var tr = 0L
      jobs.foreach { case (id, j) =>
        val wall = if (j.completed > 0) j.completed - j.submitted else -1
        tw += math.max(wall, 0); tr += j.taskRunMs
        println(f"$id%4d $wall%8d ${j.taskRunMs}%8d ${j.taskCpuMs}%8d ${j.gcMs}%6d ${j.tasks}%6d  ${j.desc.take(60)}")
      }
      println(f"TOTAL jobs=${jobs.size} wall=$tw%d ms taskrun=$tr%d ms")
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession(defaultCpus = "32")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val prof = new JobProfiler
    spark.sparkContext.addSparkListener(prof)
    val catalog = SparkEntry.queries
    // run 0 = warm-up (JIT), run 1 = profiled, after its plans are printed
    for (run <- 0 to 1) {
      spark.catalog.clearCache()
      prof.reset()
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val df = catalog(name)(spark, sfDir)
      val built = System.nanoTime() - t0
      if (run == 1) {
        println("=== optimizedPlan ===")
        println(df.queryExecution.optimizedPlan.toString.take(8000))
        println("=== executedPlan ===")
        println(df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head.take(8000))
      }
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val dt = (built + System.nanoTime() - t1) / 1e9
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
      println(f"=== run $run: $name $dt%.2f s, $compiled classes compiled ===")
    }
    // listener bus is async — give trailing events a moment
    Thread.sleep(500)
    prof.report()
    spark.stop()
  }
}
