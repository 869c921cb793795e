package graft.ops

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** k-core's two branches and its job labels. The driver-held survivor set
  * runs below `nodeCap`; forcing the cap under every node count runs the
  * shuffled semi-join loop, which the sf0.01 gate never reaches. Both must
  * return the same rows, including on an empty graph and on a loop that
  * stops at `maxRounds` before its fixpoint.
  */
class KcoreSpec extends AnyFunSuite with BeforeAndAfterAll {
  import KcoreSpec._

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // reliable checkpoints, so a released query leaves the block store empty
    s.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-kcore-ckpt").toString)
    s
  }

  override def afterAll(): Unit = spark.stop()

  /** Below every node count, the empty graph's 0 included (the dial is
    * `nodes <= nodeCap`), so this forces the shuffled branch.
    */
  private val ForceShuffled = -1L

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted

  /** Runs both branches and checks they agree; returns the rows. */
  private def bothBranches(li: DataFrame, k: Int = 3, maxRounds: Int = 12): Seq[(Long, Long)] = {
    val driver = IterativeQueries.kcoreFrom(spark, li, k, maxRounds)
    val shuffled = IterativeQueries.kcoreFrom(spark, li, k, maxRounds, nodeCap = ForceShuffled)
    assert(driver.schema == shuffled.schema)
    assert(driver.schema.fieldNames.toSeq == Seq("node", "core_deg"))
    val (d, s) = (rows(driver), rows(shuffled))
    assert(d == s, s"driver-held branch $d != shuffled branch $s")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    d
  }

  test("both branches keep exactly the K4 clique of the chain+K4 graph") {
    assert(bothBranches(chainAndK4(spark)) == Seq(10L, 11L, 12L, 13L).map(_ -> 3L))
  }

  test("both branches return no rows, same schema, when no pair has support 2") {
    import spark.implicits._
    // every pair co-occurs in one order only: the support-2 graph is empty
    val li = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 4L), (2L, 5L), (3L, 1L), (3L, 4L))
      .toDF("l_orderkey", "l_partkey")
    assert(bothBranches(li).isEmpty)
  }

  test("both branches stop at maxRounds before the fixpoint with the same survivors") {
    // path 1-..-10 at k = 2 peels one node from each end per round: two
    // rounds leave {3..8}, whose end nodes still have in-set degree 1
    val path = (1L to 9L).map(u => (u, u + 1))
    val got = bothBranches(supportTwo(spark, path), k = 2, maxRounds = 2)
    assert(got == Seq(3L -> 1L, 4L -> 2L, 5L -> 2L, 6L -> 2L, 7L -> 2L, 8L -> 1L))
  }

  test("both branches agree on the sf0.01 lineitem graph") {
    val li = Tables(spark, "/root/testdata/sf0.01", "lineitem")
      .select("l_orderkey", "l_partkey")
    assert(bothBranches(li).nonEmpty)
  }

  test("q_kcore labels every job; iterative kernels restore the caller's description") {
    val sc = spark.sparkContext
    sc.setJobDescription("outer")
    try {
      // a result job runs above the dial and after a maxRounds exit; below
      // the dial a fixpoint exit returns its last round's pairs (PlanSpec)
      for ((nodeCap, maxRounds, result) <- Seq((Long.MaxValue, 12, false),
          (ForceShuffled, 12, true), (Long.MaxValue, 1, true))) {
        val labels = jobDescriptions(spark) {
          IterativeQueries.kcoreFrom(spark, chainAndK4(spark), maxRounds = maxRounds,
            nodeCap = nodeCap)
        }
        assert(labels.forall(_.startsWith("q_kcore: ")), labels)
        assert(Seq("q_kcore: edges", "q_kcore: round 1").forall(labels.contains), labels)
        assert(labels.contains("q_kcore: result") == result, labels)
        assert(sc.getLocalProperty("spark.job.description") == "outer")
      }
      val dir = "/root/testdata/sf0.001"
      IterativeQueries.kcore(spark, dir)
      assert(sc.getLocalProperty("spark.job.description") == "outer", "after q_kcore")
      DedupQueries.dedupClusters(spark, dir)
      assert(sc.getLocalProperty("spark.job.description") == "outer", "after dedup_clusters")
      IterativeQueries.pagerankDirected(spark, dir)
      assert(sc.getLocalProperty("spark.job.description") == "outer",
        "after q_pagerank_directed")
    } finally sc.setJobDescription(null)
  }
}

object KcoreSpec {

  /** An (l_orderkey, l_partkey) frame whose support-2 graph is exactly
    * `edges`: each edge becomes two orders holding just its endpoints.
    */
  def supportTwo(spark: SparkSession, edges: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    edges.zipWithIndex.flatMap { case ((u, v), i) =>
      Seq((2L * i, u), (2L * i, v), (2L * i + 1, u), (2L * i + 1, v))
    }.toDF("l_orderkey", "l_partkey")
  }

  /** Chain 1-2-3-4-5 (degrees <= 2, peels at k = 3) plus the clique
    * {10, 11, 12, 13} (degree 3 each, survives at k = 3).
    */
  def chainAndK4(spark: SparkSession): DataFrame = {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val clique = for {
      a <- Seq(10L, 11L, 12L, 13L); b <- Seq(10L, 11L, 12L, 13L) if a < b
    } yield (a, b)
    supportTwo(spark, chain ++ clique)
  }

  /** The descriptions of the jobs `body` starts, in start order (an unset
    * description reads as ""). The caller's description is left as it was.
    */
  def jobDescriptions(spark: SparkSession)(body: => Unit): Seq[String] =
    record(spark)(body).jobs.map(_.description)

  /** A job `body` started: its description, whether it ran inside a SQL
    * execution, and the shuffle bytes its stages wrote.
    */
  final case class Job(description: String, inSqlExecution: Boolean, shuffleBytes: Long)

  /** `body`'s jobs in start order, and the descriptions of the SQL
    * executions it started (Spark describes an execution by the job
    * description set when it starts).
    */
  final case class Recording(jobs: Seq[Job], sqlExecutions: Seq[String])

  /** Records what `body` runs. The caller's description is left as it was. */
  def record(spark: SparkSession)(body: => Unit): Recording = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(Int, String, Boolean)]()
    val stageJob = new ConcurrentHashMap[Int, Int]()
    val shuffleBytes = new ConcurrentHashMap[Int, Long]()
    val executions = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        jobs.add((e.jobId,
          p.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""),
          p.exists(_.getProperty("spark.sql.execution.id") != null)))
        e.stageIds.foreach(stageJob.put(_, e.jobId))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val stage = e.stageInfo.stageId
        if (stageJob.containsKey(stage)) shuffleBytes.merge(stageJob.get(stage),
          e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten, _ + _)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executions.add(s.description)
        case _ =>
      }
    }
    val Sentinel = "kcore-spec-sentinel"
    def sentinelSeen = jobs.asScala.exists(_._2 == Sentinel)
    sc.addSparkListener(listener)
    try {
      body
      // the listener bus delivers in order: once the sentinel job is seen,
      // so are all of body's events
      val caller = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(Sentinel)
      try spark.range(1).collect() finally sc.setJobDescription(caller)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinelSeen, "listener bus did not deliver the sentinel job")
    } finally sc.removeSparkListener(listener)
    Recording(
      jobs.asScala.toSeq.takeWhile(_._2 != Sentinel).map { case (id, description, sql) =>
        Job(description, sql, shuffleBytes.getOrDefault(id, 0L))
      },
      executions.asScala.toSeq.takeWhile(_ != Sentinel))
  }
}
