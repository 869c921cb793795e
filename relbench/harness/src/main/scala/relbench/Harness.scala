package relbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** JVM side of the benchmark, launched by `relbench/run.py`:
  *
  * {{{
  * relbench.Harness --workload W --input DIR --out DIR
  *                  --work DIR --cores N --seconds S --trace 0|1 --result FILE
  * }}}
  *
  * It starts a session and runs one untimed warm-up job, then times one
  * first job, then runs untimed warm-up jobs for `--seconds` (at least one),
  * then times [[TimedJobs]] jobs. The number of timed jobs depends neither on
  * `--seconds` nor on how fast a job is. With `--trace 1` each traced timed
  * job is followed by an untraced one, and the single-thread kernel probe
  * runs at the end. The result (epoch time the session was ready, one record
  * per job) goes to `--result` as JSON; spans go to `<out>/spans.json`.
  */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Timed jobs per run (with `--trace 1`, per kind: traced and untraced). */
  val TimedJobs = 3

  def toJson(v: Any): String = mapper.writeValueAsString(v)

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("relbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    val sessionMs = System.currentTimeMillis()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    spark.range(0, 100000, 1, cores).selectExpr("sum(id)").collect()
    val result = mutable.LinkedHashMap[String, Any](
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "main_ms" -> mainMs, "session_ms" -> sessionMs, "ready_ms" -> System.currentTimeMillis())
    try result ++= run(spark, ledger, a, cores)
    finally {
      Files.write(Paths.get(a("result")), toJson(result).getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  private def run(spark: SparkSession, ledger: Ledger, a: Map[String, String],
                  cores: Int): Map[String, Any] = {
    val out = a("out")
    val trace = a("trace") == "1"
    val workload = Workloads(a("workload"), spark, a("input"), out)
    val tracer = new Tracer(spark.sparkContext, ledger)
    val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]

    def runJob(k: Int, phase: String, traced: Boolean = false): Unit = {
      tracer.drain()
      ledger.resetPeak()
      val before = ledger.snapshot()
      val fromMs = System.currentTimeMillis()
      tracer.enabled = traced
      val t0 = System.nanoTime()
      val outcome =
        try Right(tracer.job(k)(workload.job(s"$out/job_$k", tracer)))
        catch { case NonFatal(e) => Left(e) }
      val wallS = (System.nanoTime() - t0) / 1e9
      val toMs = System.currentTimeMillis()
      tracer.enabled = false
      tracer.drain()
      val rec = mutable.LinkedHashMap[String, Any](
        "k" -> k, "phase" -> phase, "traced" -> traced, "wall_s" -> wallS,
        "peak_storage_mb" -> ledger.peakBytes / (1024.0 * 1024.0),
        "engine" -> ledger.delta(before, ledger.snapshot(), fromMs, toMs))
      outcome match {
        case Right(r) =>
          rec("facts") = r.facts
          try r.afterTiming()
          catch { case NonFatal(e) => rec("error") = s"result dump failed: $e" }
        case Left(e) =>
          e.printStackTrace()
          rec("error") = e.toString
      }
      jobs += rec.toMap
    }

    runJob(0, "first")
    val warmStart = System.nanoTime()
    var k = 1
    do { runJob(k, "warmup"); k += 1 }
    while ((System.nanoTime() - warmStart) / 1e9 < a("seconds").toDouble)
    for (_ <- 1 to TimedJobs; traced <- if (trace) Seq(true, false) else Seq(false)) {
      runJob(k, "timed", traced)
      k += 1
    }
    val probe = if (trace) workload.kernelProbe() else Map.empty[String, Double]
    if (trace) Files.write(Paths.get(out, "spans.json"),
      toJson(tracer.spans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "job" -> s.job,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS,
        "engine" -> s.engine, "attrs" -> s.attrs))).getBytes(StandardCharsets.UTF_8))
    Map("cores" -> cores, "jobs" -> jobs.toSeq, "kernel" -> probe)
  }
}
