package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The one PageRank kernel, `IterativeQueries.pagerankFrom`, behind
  * q_pagerank (symmetric co-occurrence edges: no sinks) and
  * q_pagerank_directed (low → high edges: real sinks): its integer
  * arithmetic against a sequential reference, its exact-fixpoint exit, its
  * dangling mass, its job labels and, on both sf0.01 graphs, its shuffled
  * branch, which a `nodeCap` below every node count forces. NodeCapSpec
  * runs that branch on the small graphs; OptimizationR12Spec pins the
  * round plan.
  */
class PagerankSpec extends AnyFunSuite with BeforeAndAfterAll {
  import NodeCapSpec._

  private val Scale = 1000000000000L

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // reliable checkpoints, so a released query leaves the block store empty
    s.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-pagerank-ckpt").toString)
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def symmetrized(g: Seq[(Long, Long)]): Seq[(Long, Long)] = g ++ g.map(_.swap)

  private def ranks(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The kernel over `g`: (node -> rank, rounds run). */
  private def pagerank(g: Seq[(Long, Long)], maxRounds: Int = 12): (Map[Long, Long], Int) = {
    val (out, rounds) = IterativeQueries.pagerankFrom(spark, edges(spark, g), "spec", maxRounds)
    (ranks(out), rounds)
  }

  /** The same integer recurrence run sequentially: (node -> rank, rounds run). */
  private def reference(g: Seq[(Long, Long)], maxRounds: Int): (Map[Long, Long], Int) = {
    val outDeg = g.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val nodes = g.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size.toLong
    val base = ((Scale * 15) / 100) / n
    var rank = nodes.map(_ -> Scale / n).toMap
    var moved = true
    var rounds = 0
    while (rounds < maxRounds && moved) {
      rounds += 1
      val dm = nodes.filter(v => !outDeg.contains(v)).map(rank).sum
      val contrib = g.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => rank(e._1) / outDeg(e._1)).sum
      }
      val next = nodes.map(v =>
        v -> (base + (85 * (contrib.getOrElse(v, 0L) + dm / n)) / 100)).toMap
      moved = next != rank
      rank = next
    }
    (rank, rounds)
  }

  test("early exit fires at the exact integer fixpoint on a directed cycle") {
    // a directed n-cycle is out-degree-1 regular: uniform rank is the EXACT
    // fixed point of the integer recurrence (base + (85*init) div 100 == init
    // for n | Scale), so round 1 moves nothing and the loop must exit there
    val (got, rounds) = pagerank((1L to 5L).map(i => (i, i % 5 + 1)))
    assert(rounds == 1, s"expected fixpoint detection on round 1, ran $rounds rounds")
    assert(got.size == 5 && got.values.forall(_ == Scale / 5),
      s"cycle ranks must stay uniform at ${Scale / 5}: $got")
  }

  test("dangling mass is redistributed, not drained") {
    // star with a sink: 1..4 -> 5, node 5 dangling. Without the dm term the
    // sink's rank would decay toward base each round while total mass leaks;
    // with it, total mass stays within floor-loss slack of Scale.
    val (got, rounds) = pagerank((1L to 4L).map(i => (i, 5L)))
    assert(got.size == 5)
    val total = got.values.sum
    // each round floors at most (100 + n + n) ulps per node; 12 rounds x 5
    // nodes x a generous constant still keeps the loss under 10^4 of 10^12
    assert(total > Scale - 10000L && total <= Scale,
      s"mass not conserved under dangling redistribution: $total vs $Scale")
    // the sink must hold MORE than a leaf: it receives every leaf's rank
    assert(got(5L) > got(1L), s"sink rank ${got(5L)} not above leaf rank ${got(1L)}")
    assert(rounds > 1, "star graph cannot be at fixpoint after one round")
  }

  test("ranks match an independent integer reference, directed and symmetrized") {
    // 1->2, 1->3, 2->3, 4->1: node 3 dangling until symmetrized
    val small = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 1L))
    for (g <- Seq(small, symmetrized(small)); maxRounds <- Seq(3, 12)) {
      val (got, rounds) = pagerank(g, maxRounds)
      val (want, wantRounds) = reference(g, maxRounds)
      assert(got == want, s"spark $got != reference $want on $g")
      assert(rounds == wantRounds,
        s"spark ran $rounds rounds, sequential reference ran $wantRounds on $g")
    }
  }

  test("hub out-ranks leaves on a symmetric star, ranks conserve mass") {
    val leaves = 1L to 9L
    val (got, _) = pagerank(symmetrized(leaves.map(i => (0L, i))), maxRounds = 10)
    assert(got.size == 10)
    val hub = got(0L)
    leaves.foreach(i => assert(hub > 3 * got(i), s"hub rank $hub must dominate leaf ${got(i)}"))
    assert(leaves.map(got).toSet.size == 1, "symmetric leaves must tie exactly")
    val total = got.values.sum
    assert(total <= Scale && total > (Scale * 95) / 100,
      s"rank mass $total strayed from scale $Scale (floor-division loss only)")
  }

  test("both branches agree on both sf0.01 co-occurrence graphs") {
    for ((keep, rounds) <- Seq("y != src" -> 10, "y > src" -> 12)) {
      val cooc = IterativeQueries.coOccurrence(spark, "/root/testdata/sf0.01", keep)
      assert(sameRows(spark, s"pagerank sf0.01 $keep")(cap =>
        IterativeQueries.pagerankFrom(spark, cooc, "spec", rounds, nodeCap = cap)._1).nonEmpty)
    }
  }

  test("every job of both entries carries the entry's label; the caller's label is restored") {
    val sc = spark.sparkContext
    sc.setJobDescription("outer")
    try {
      for ((entry, run) <- Seq[(String, (SparkSession, String) => DataFrame)](
          "q_pagerank" -> IterativeQueries.pagerank,
          "q_pagerank_directed" -> IterativeQueries.pagerankDirected)) {
        val labels = KcoreSpec.jobDescriptions(spark)(run(spark, "/root/testdata/sf0.001"))
        assert(labels.forall(_.startsWith(s"$entry: ")), labels)
        assert(Seq("edges", "round 1", "result").forall(p => labels.contains(s"$entry: $p")),
          labels)
        assert(sc.getLocalProperty("spark.job.description") == "outer", s"after $entry")
      }
    } finally sc.setJobDescription(null)
  }

  test("a round runs the same Spark jobs on both sf0.01 co-occurrence graphs") {
    val perRound = for ((entry, run) <- Seq[(String, (SparkSession, String) => DataFrame)](
        "q_pagerank" -> IterativeQueries.pagerank,
        "q_pagerank_directed" -> IterativeQueries.pagerankDirected)) yield {
      val labels = KcoreSpec.jobDescriptions(spark)(run(spark, "/root/testdata/sf0.01"))
      val rounds = labels.filter(_.startsWith(s"$entry: round ")).groupBy(identity)
      assert(rounds.size > 1, s"$entry ran ${rounds.size} rounds")
      entry -> rounds.values.map(_.size).toSet
    }
    // the directed graph's dangling mass rides the round's one check job
    assert(perRound.map(_._2).toSet.size == 1 && perRound.head._2.size == 1,
      s"jobs per round differ: $perRound")
  }
}
