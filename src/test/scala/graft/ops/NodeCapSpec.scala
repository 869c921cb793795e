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

  /** Below every node count, so every dial picks the shuffled join. */
  private val ForceShuffled = -1L

  private def edges(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  /** Round9Spec's directed 5-cycle and its 4-leaf star into a sink. */
  private val cycle = (1L to 5L).map(i => (i, i % 5 + 1))
  private val star = (1L to 4L).map(i => (i, 5L))
  /** DedupScaleSafeSpec's 256-vertex path. */
  private val path = (0L until 255L).map(i => (i, i + 1))

  private val graphs = Seq("cycle" -> cycle, "star" -> star, "256-path" -> path)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Runs `kernel` at the default cap and forced shuffled; both must agree
    * and neither may leave a cached RDD.
    */
  private def sameRows(what: String)(kernel: Long => DataFrame): Seq[String] = {
    val broadcast = rows(kernel(IterativeQueries.BroadcastNodeCap))
    val shuffled = rows(kernel(ForceShuffled))
    assert(broadcast == shuffled, s"$what: broadcast branch != shuffled branch")
    val leaked = spark.sparkContext.getPersistentRDDs
    assert(leaked.isEmpty, s"$what leaked ${leaked.size} cached RDDs")
    broadcast
  }

  test("pagerank: both branches agree on the cycle, star and 256-path") {
    // the symmetric kernel needs every node as a source: symmetrize
    graphs.foreach { case (name, g) =>
      val sym = g ++ g.map(_.swap)
      assert(sameRows(s"pagerank $name")(cap =>
        IterativeQueries.pagerankFrom(edges(sym), nodeCap = cap)).nonEmpty)
    }
  }

  test("directed pagerank: both branches agree on the cycle, star and 256-path") {
    graphs.foreach { case (name, g) =>
      assert(sameRows(s"directed pagerank $name")(cap =>
        IterativeQueries.pagerankDirectedFrom(spark, edges(g), nodeCap = cap)._1).nonEmpty)
    }
  }

  test("connected components: both branches agree on the cycle, star and 256-path") {
    import spark.implicits._
    graphs.foreach { case (name, g) =>
      // one edge-less vertex rides the singleton re-join
      val vertices = (g.flatMap(e => Seq(e._1, e._2)).distinct :+ 999L).toDF("id")
      val got = sameRows(s"cc $name")(cap =>
        DedupQueries.connectedComponentsWithRounds(edges(g), vertices, nodeCap = cap)._1)
      assert(got.contains("999|999"))
    }
  }

  test("both pageranks: both branches agree on the sf0.01 lineitem graph") {
    val s = spark
    val dir = "/root/testdata/sf0.01"
    def coOccurrence(keep: String) = IterativeQueries.coOccurrence(s, dir, keep)
    assert(sameRows("pagerank sf0.01")(cap =>
      IterativeQueries.pagerankFrom(coOccurrence("y != src"), nodeCap = cap)).nonEmpty)
    assert(sameRows("directed pagerank sf0.01")(cap =>
      IterativeQueries.pagerankDirectedFrom(s, coOccurrence("y > src"), nodeCap = cap)._1)
      .nonEmpty)
  }
}
