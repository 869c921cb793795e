package relbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Engine counters, fed by Spark's listener bus. All state is guarded by
  * the ledger's lock: events arrive on the bus thread, reads happen on the
  * driver thread after [[Tracer.drain]].
  */
final class Ledger extends SparkListener {
  private var jobs, tasks, runMs, cpuNs, gcMs, shuffleBytes, spillBytes = 0L
  private var bytesWritten, recordsWritten = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  /** (start, end) epoch millis of every finished job, in end order. */
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Task durations per running stage, and the finished stages' skew. */
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val stageSkews = mutable.ArrayBuffer.empty[Double]
  /** Block-store bytes of every cached RDD block by RDD, their sum and its
    * peak. An unpersist drops blocks without block events, hence the RDD key.
    */
  private val blocks = mutable.Map.empty[Int, mutable.Map[String, Long]]
  private var stored, peak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += 1
    jobIntervals += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      bytesWritten += m.outputMetrics.bytesWritten
      recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageTasks.remove((info.stageId, info.attemptNumber())).foreach { ds =>
      val mean = ds.sum.toDouble / ds.size
      if (ds.size >= 2 && mean > 0) stageSkews += ds.max / mean
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { id =>
      val rdd = blocks.getOrElseUpdate(id.rddId, mutable.Map.empty)
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      stored += size - rdd.getOrElse(id.name, 0L)
      if (size == 0L) rdd.remove(id.name) else rdd(id.name) = size
      peak = math.max(peak, stored)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.remove(e.rddId).foreach(rdd => stored -= rdd.values.sum)
  }

  /** Restart the block-store high-water mark from the current level. */
  def resetPeak(): Unit = synchronized { peak = stored }

  def peakBytes: Long = synchronized(peak)

  def snapshot(): Ledger.Snapshot = synchronized {
    Ledger.Snapshot(jobs, tasks, runMs, cpuNs, gcMs, shuffleBytes, spillBytes,
      bytesWritten, recordsWritten, stored, jobIntervals.size, stageSkews.size)
  }

  /** Counter deltas between two snapshots, plus the interval measures:
    * the largest stage skew (max task / mean task) finished in between, and
    * the part of `[fromMs, toMs]` that no Spark job covered.
    */
  def delta(a: Ledger.Snapshot, b: Ledger.Snapshot, fromMs: Long, toMs: Long): Map[String, Double] =
    synchronized {
      val mb = 1024.0 * 1024.0
      val skews = stageSkews.slice(a.stages, b.stages)
      val covered = Ledger.unionLength(jobIntervals.slice(a.intervals, b.intervals).toSeq
        .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) })
      Map(
        "jobs" -> (b.jobs - a.jobs).toDouble,
        "tasks" -> (b.tasks - a.tasks).toDouble,
        "task_run_s" -> (b.runMs - a.runMs) / 1e3,
        "task_cpu_s" -> (b.cpuNs - a.cpuNs) / 1e9,
        "gc_s" -> (b.gcMs - a.gcMs) / 1e3,
        "shuffle_mb" -> (b.shuffleBytes - a.shuffleBytes) / mb,
        "spill_mb" -> (b.spillBytes - a.spillBytes) / mb,
        "written_mb" -> (b.bytesWritten - a.bytesWritten) / mb,
        "records_written" -> (b.recordsWritten - a.recordsWritten).toDouble,
        "stored_mb" -> b.stored / mb,
        "max_task_skew" -> (if (skews.isEmpty) 0.0 else skews.max),
        "driver_gap_s" -> math.max(0L, toMs - fromMs - covered) / 1e3)
    }
}

object Ledger {
  final case class Snapshot(jobs: Long, tasks: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                            shuffleBytes: Long, spillBytes: Long, bytesWritten: Long,
                            recordsWritten: Long, stored: Long, intervals: Int, stages: Int)

  /** Total length of the union of (start, end) intervals; empty ones drop. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total, reach = 0L
    var open = false
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > reach) { total += e - s; reach = e; open = true }
      else if (e > reach) { total += e - reach; reach = e }
    }
    total
  }
}

/** One finished span: a timed call into a layer, with the engine counters
  * that moved while it ran.
  */
final case class Span(id: Int, name: String, parent: Int, job: Int,
                      startMs: Long, endMs: Long, wallS: Double,
                      engine: Map[String, Double], attrs: Map[String, Any])

/** Records spans around the benchmark's calls into the program. Spans are
  * kept in memory and written out when the run ends. When disabled, [[span]]
  * only runs its body: untimed, undrained.
  */
final class Tracer(sc: SparkContext, ledger: Ledger) {
  var enabled = false
  private var currentJob = -1
  private var stack = List.empty[Int]
  private var nextId = 0
  val spans = mutable.ArrayBuffer.empty[Span]

  def drain(): Unit = org.apache.spark.RelbenchBus.drain(sc)

  /** Run `body` as the root span of job `k`. */
  def job[T](k: Int)(body: => T): T = { currentJob = k; span("job")(body) }

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      drain()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val before = ledger.snapshot()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val endMs = System.currentTimeMillis()
        drain()
        stack = stack.tail
        spans += Span(id, name, parent, currentJob, startMs, endMs, (t1 - t0) / 1e9,
          ledger.delta(before, ledger.snapshot(), startMs, endMs), attrs)
      }
    }
}
