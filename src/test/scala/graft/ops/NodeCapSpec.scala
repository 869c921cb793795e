package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The shuffled branches of pagerank, directed pagerank and connected
  * components. Every graph the sf0.01 gate builds is far below
  * `BroadcastNodeCap`, so the gate only runs the broadcast joins; a
  * `nodeCap` below every node count forces the shuffled joins, which must
  * return the same rows and leave the block store empty.
  */
class NodeCapSpec extends AnyFunSuite with BeforeAndAfterAll {
  import NodeCapSpec._

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // reliable checkpoints, so a released query leaves the block store empty
    s.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-nodecap-ckpt").toString)
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("pagerank: both branches agree on the cycle, star and 256-path") {
    // the symmetric entry runs the kernel on symmetrized edges: no sinks
    graphs.foreach { case (name, g) =>
      val sym = g ++ g.map(_.swap)
      assert(sameRows(spark, s"pagerank $name")(cap => IterativeQueries.pagerankFrom(
        spark, edges(spark, sym), "spec", 10, nodeCap = cap)._1).nonEmpty)
    }
  }

  test("directed pagerank: both branches agree on the cycle, star and 256-path") {
    graphs.foreach { case (name, g) =>
      assert(sameRows(spark, s"directed pagerank $name")(cap => IterativeQueries.pagerankFrom(
        spark, edges(spark, g), "spec", 12, nodeCap = cap)._1).nonEmpty)
    }
  }

  test("connected components: both branches agree on the cycle, star and 256-path") {
    import spark.implicits._
    graphs.foreach { case (name, g) =>
      // one edge-less vertex rides the singleton re-join
      val vertices = (g.flatMap(e => Seq(e._1, e._2)).distinct :+ 999L).toDF("id")
      val got = sameRows(spark, s"cc $name")(cap =>
        DedupQueries.connectedComponentsWithRounds(edges(spark, g), vertices, nodeCap = cap)._1)
      assert(got.contains("999|999"))
    }
  }
}

/** The small graphs and the branch check, shared with PagerankSpec. */
object NodeCapSpec {
  import org.scalatest.Assertions._

  /** Below every node count, so every dial picks the shuffled join. */
  val ForceShuffled = -1L

  /** A directed 5-cycle, a 4-leaf star into a sink, and DedupScaleSafeSpec's
    * 256-vertex path.
    */
  val graphs: Seq[(String, Seq[(Long, Long)])] = Seq(
    "cycle" -> (1L to 5L).map(i => (i, i % 5 + 1)),
    "star" -> (1L to 4L).map(i => (i, 5L)),
    "256-path" -> (0L until 255L).map(i => (i, i + 1)))

  def edges(spark: SparkSession, pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Runs `kernel` at the default cap and forced shuffled; both must agree
    * and neither may leave a cached RDD.
    */
  def sameRows(spark: SparkSession, what: String)(kernel: Long => DataFrame): Seq[String] = {
    val broadcast = rows(kernel(IterativeQueries.BroadcastNodeCap))
    val shuffled = rows(kernel(ForceShuffled))
    assert(broadcast == shuffled, s"$what: broadcast branch != shuffled branch")
    val leaked = spark.sparkContext.getPersistentRDDs
    assert(leaked.isEmpty, s"$what leaked ${leaked.size} cached RDDs")
    broadcast
  }
}
