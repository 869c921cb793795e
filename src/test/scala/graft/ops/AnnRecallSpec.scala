package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The IVF index must stay a *useful* approximation: multi-probe search has
  * to recover >= 90% of the exact brute-force top-5 at sf0.01 (the corpus is
  * essentially unclustered random vectors — the hardest case for IVF; see
  * SimilarityQueries.IVF_PROBES).
  */
class AnnRecallSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // --- the recallAt combinator on hand-built (query_id, neighbor_id) frames

  private def pairs(rows: (Long, Long)*) = {
    import spark.implicits._
    rows.toDF("query_id", "neighbor_id")
  }
  private def top5(q: Long, from: Long) = (from until from + 5).map(n => (q, n))
  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq

  test("recallAt: zero hits still get a row, full hits read 1.0, foreign rows are ignored") {
    import SimilarityQueries.{RecallArm, recallAt}
    val truth = pairs(top5(1, 10) ++ top5(2, 20) ++ top5(3, 30): _*)
    val got = pairs(
      top5(1, 10) ++                        // every neighbor a hit
      top5(2, 90) ++                        // no hit at all
      Seq((3L, 30L), (3L, 34L), (3L, 99L)) ++ // two hits, one miss
      top5(7, 10): _*)                      // a query outside the truth
    val out = recallAt(truth, RecallArm(got))
    assert(out.columns.toSeq == Seq("query_id", "hits", "recall"))
    assert(out.schema("hits").dataType == org.apache.spark.sql.types.LongType)
    assert(out.schema("recall").dataType == org.apache.spark.sql.types.DoubleType)
    assert(rowsOf(out) == Seq(Seq(1L, 5L, 1.0), Seq(2L, 0L, 0.0), Seq(3L, 2L, 0.4)))
  }

  test("recallAt: two arms with their own truths keep only the truth frame's queries") {
    import SimilarityQueries.{RecallArm, recallAt}
    val before = pairs(top5(1, 10) ++ top5(2, 20) ++ top5(3, 30): _*)
    val after = pairs(top5(1, 11) ++ top5(3, 30): _*) // query 2 was deleted
    val gotBefore = pairs(top5(1, 10) ++ top5(2, 20) ++ top5(3, 32): _*)
    val gotAfter = pairs(top5(1, 10) ++ top5(3, 30): _*)
    val out = recallAt(after,
      RecallArm(gotBefore, hits = "hits_before", recall = "recall_before", truth = Some(before)),
      RecallArm(gotAfter, hits = "hits_after", recall = "recall_after"))
    assert(out.columns.toSeq ==
      Seq("query_id", "hits_before", "recall_before", "hits_after", "recall_after"))
    assert(rowsOf(out) == Seq(Seq(1L, 5L, 1.0, 4L, 0.8), Seq(3L, 3L, 0.6, 5L, 1.0)))
  }

  test("IVF multi-probe recall@5 >= 0.9 vs brute force at sf0.01") {
    val rec = SimilarityQueries.annRecall(spark, "/root/testdata/sf0.01")
    val overall = rec.agg(avg(col("recall"))).head().getDouble(0)
    assert(overall >= 0.9, s"IVF recall@5 degraded to $overall")
  }

  test("parameterized IVF: a non-default (k, iters, probes) config runs and reports recall") {
    import SimilarityQueries.IvfConfig
    val cfg = IvfConfig(k = 4, iters = 1, probes = 2)
    val rec = SimilarityQueries.annRecall(spark, "/root/testdata/sf0.001", cfg).collect()
    assert(rec.length == 10, "one recall row per query vector")
    assert(rec.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    // probing 2 of 4 buckets must find a nontrivial share of true neighbors
    assert(rec.map(_.getDouble(2)).sum / rec.length >= 0.4,
      s"alt-config recall collapsed: ${rec.map(_.getDouble(2)).mkString(",")}")
    // the probe dial is monotone in expectation: probing ALL buckets is exact
    val exhaustive = SimilarityQueries
      .annRecall(spark, "/root/testdata/sf0.001", IvfConfig(k = 4, iters = 1, probes = 4))
      .agg(avg(col("recall"))).head().getDouble(0)
    assert(exhaustive == 1.0, s"probing every bucket must be exact, got $exhaustive")
  }

  test("parameterized PQ: non-default subspace/codebook configs run deterministically") {
    import SimilarityQueries.PqConfig
    val dir = "/root/testdata/sf0.001"
    // coarser (4 x 16-dim subspaces, 8 codewords) and finer (16 x 4-dim)
    // than the pinned default — every row set must be exactly repeatable
    // (the ADC fold is deterministic by construction, not by luck)
    for (cfg <- Seq(PqConfig(m = 4, codes = 8), PqConfig(m = 16, codes = 16))) {
      val a = SimilarityQueries.annPq(spark, dir, cfg).collect().toSet
      val b = SimilarityQueries.annPq(spark, dir, cfg).collect().toSet
      assert(a == b, s"PQ at $cfg not deterministic")
      assert(a.groupBy(_.getLong(0)).forall(_._2.size == 5),
        s"expected exactly 5 neighbors per query at $cfg")
    }
    // a non-divisor subspace count is rejected up front
    intercept[IllegalArgumentException](PqConfig(m = 5))
  }
}
