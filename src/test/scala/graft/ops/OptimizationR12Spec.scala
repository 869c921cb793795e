package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Focused pins for the round-12 optimization changes: the optimizations
  * restructure internals (overlap expression, memoized index parameters,
  * exchange-free pagerank rounds) and these tests hold each one to
  * bit-equivalence with the formulation it replaced.
  */
class OptimizationR12Spec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    // reliable checkpoints so Lifecycle's materialize leaves NO blocks (the
    // localCheckpoint fallback pins result blocks until GC by design)
    s.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-opt12-ckpt").toString)
    graft.functions.GraftFunctions.registerAll(s)
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("graft_overlap matches size(array_intersect)/size(array_union) on strings and longs, with dups and nulls") {
    // adversarial fixtures: duplicates on both sides, nulls on one/both
    // sides, disjoint, identical, and empty arrays
    val rows = spark.sql(
      """SELECT a, b,
        |  graft_overlap(a, b) AS o,
        |  size(array_intersect(a, b)) AS bi,
        |  size(array_union(a, b)) AS bu
        |FROM VALUES
        |  (array('x','y','y','z'), array('y','z','z','w')),
        |  (array('x', CAST(NULL AS STRING), 'x'), array(CAST(NULL AS STRING), NULL, 'q')),
        |  (array('a'), array(CAST(NULL AS STRING))),
        |  (array('a','b'), array('c','d')),
        |  (array('a','b'), array('b','a')),
        |  (CAST(array() AS ARRAY<STRING>), array('a','a'))
        |AS t(a, b)""".stripMargin).collect()
    rows.foreach { r =>
      val o = r.getStruct(2)
      assert(o.getInt(0) == r.getInt(3), s"inter mismatch on ${r.get(0)} vs ${r.get(1)}")
      assert(o.getInt(1) == r.getInt(4), s"union mismatch on ${r.get(0)} vs ${r.get(1)}")
    }
    val longs = spark.sql(
      """SELECT graft_overlap(a, b) AS o,
        |  size(array_intersect(a, b)) AS bi, size(array_union(a, b)) AS bu
        |FROM VALUES
        |  (array(1L, 2L, 2L, 3L), array(2L, 3L, 4L, 4L)),
        |  (array(1L, CAST(NULL AS BIGINT)), array(CAST(NULL AS BIGINT), 5L))
        |AS t(a, b)""".stripMargin).collect()
    longs.foreach { r =>
      assert(r.getStruct(0).getInt(0) == r.getInt(1))
      assert(r.getStruct(0).getInt(1) == r.getInt(2))
    }
    // null-input propagation matches the builtins (null result)
    val n = spark.sql(
      "SELECT graft_overlap(CAST(NULL AS ARRAY<STRING>), array('a')) IS NULL").collect()
    assert(n.head.getBoolean(0))
  }

  test("memoized IVF centroids replay bit-identically across entries and invalidation") {
    // two constructions in one session: the second replays the DriverMemo;
    // invalidating and recomputing must reproduce the same bytes
    def hashOf(): Long = {
      val df = SimilarityQueries.queries("ann_ivf")(spark, dir)
      df.selectExpr("CAST(hash(query_id, bucket, neighbor_id, rk) AS BIGINT) AS h")
        .agg(org.apache.spark.sql.functions.sum("h")).collect().head.getLong(0)
    }
    val first = hashOf()
    val replay = hashOf()
    DriverMemo.invalidateAll()
    val recomputed = hashOf()
    assert(first == replay && first == recomputed)
    // memo replay leaves nothing in the block store (Lifecycle contract)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  /** The per-round work of `round`: its pre-execution plan cut at the
    * first cached relation (the once-partitioned edges). Below the node
    * dial the vector join above that cut is a BroadcastHashJoin.
    */
  private def aboveCache(round: DataFrame): String = {
    val plan = round.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val above = plan.split("InMemoryRelation").head
    assert(above.contains("BroadcastHashJoin"), s"vector broadcast join lost:\n$above")
    above
  }

  /** The shuffle exchanges in a plan fragment (broadcasts excluded). */
  private def shuffles(plan: String): Seq[String] =
    plan.split("\n").toSeq.filter(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))

  test("pagerank round plan is exchange-free above the cached edges and keeps the broadcast join") {
    Lifecycle.generations(spark) { g =>
      val (graph, dm) = IterativeQueries.pagerankPrepare(g,
        IterativeQueries.coOccurrence(spark, dir, "y != src"))
      // everything above the InMemoryTableScan is the per-round work, and it
      // must carry NO Exchange
      val above = aboveCache(IterativeQueries.pagerankRound(graph, g.current, dm))
      assert(!above.contains("Exchange"), s"per-round exchange reappeared:\n$above")
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("directed pagerank round plan shuffles nothing above the cached edges and keeps the broadcast joins") {
    Lifecycle.generations(spark) { g =>
      val (graph, dm) = IterativeQueries.pagerankPrepare(g,
        IterativeQueries.coOccurrence(spark, dir, "y > src"))
      // the rank vector is broadcast; the groupBy(dst) reuses the cache's
      // dst partitioning
      val above = aboveCache(IterativeQueries.pagerankRound(graph, g.current, dm))
      assert(shuffles(above).isEmpty, s"per-round shuffle reappeared:\n$above")
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("connected-components propagate round shuffles only the node-bounded label union and keeps the broadcast join") {
    import spark.implicits._
    // a chain plus a triangle, and one edge-less vertex
    val edges = ((1L to 7L).map(i => (i, i + 1)) ++ Seq((20L, 21L), (21L, 22L), (20L, 22L)))
      .toDF("src", "dst")
    val vertices = ((1L to 8L) ++ Seq(20L, 21L, 22L, 99L)).toDF("id")
    Lifecycle.generations(spark) { g =>
      val (sym, _, hinted) = DedupQueries.ccPrepare(g, edges, vertices)
      val above = aboveCache(DedupQueries.ccPropagate(sym, g.current, hinted))
      // the neighbor-min groupBy reuses the cache's dst partitioning; the
      // old labels arrive as a re-wrapped vector with no partitioning, so
      // the one shuffle is the final per-vertex aggregate above the union
      val ex = shuffles(above)
      assert(ex.size == 1 && above.indexOf(ex.head) < above.indexOf("Union"),
        s"expected one shuffle, above the label union:\n$above")
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
