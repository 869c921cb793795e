package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 pins: NOT IN three-valued-logic semantics + its null-aware
  * anti-join plan, the bloom-gated decontamination sweep (probe below the
  * confirm join + equivalence with the broadcast variant), the sharded
  * quota sampler's window partitioning, and the pointer-doubling cycle cap.
  */
class Round7Spec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      // deterministic physical plans for the join-strategy pins below
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // reliable checkpoints: a released (or failed) query leaves the block
    // store empty, which the resolveRoots cycle spec asserts
    s.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-round7-ckpt").toString)
    s
  }

  override def afterAll(): Unit = spark.stop()

  // --- q_not_in ----------------------------------------------------------

  test("NOT IN with nulls in the subquery is empty; filtered arm is the anti join") {
    val rows = RelationalQueries.notIn(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(!rows.exists(_._1 == "with_nulls"),
      "one NULL in the subquery makes NOT IN never-true — the arm must be empty")
    val filtered = rows.filter(_._1 == "nulls_filtered").map(_._2).toSet
    assert(filtered.nonEmpty, "the IS NOT NULL arm must produce the intuitive result")
    // cross-check the filtered arm against a hand-built anti join
    val sub = Tables(spark, dir, "orders")
      .filter("o_orderkey % 5 = 0 AND o_orderkey % 97 <> 0")
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    val expected = Tables(spark, dir, "customer")
      .select("c_custkey").collect().map(_.getLong(0)).filterNot(sub).toSet
    assert(filtered == expected)
  }

  test("q_not_in plans the nullable arm as a null-aware anti join, not a loop join") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    val exec = RelationalQueries.notIn(spark, dir).queryExecution.executedPlan
    val naaj = exec.collect {
      case b: BroadcastHashJoinExec if b.isNullAwareAntiJoin => b }
    assert(naaj.nonEmpty,
      s"expected a null-aware BroadcastHashJoin LeftAnti for the nullable NOT IN:\n$exec")
    assert(exec.collect { case b: BroadcastNestedLoopJoinExec => b }.isEmpty,
      s"NOT IN must not fall back to a nested-loop join:\n$exec")
  }

  // --- q_tpch_q19 --------------------------------------------------------

  test("tpch q19: the disjunctive condition still plans as a hash equi-join with per-side pushdown") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val qe = RelationalQueries.tpchQ19(spark, dir).queryExecution
    assert(qe.executedPlan.collect { case b: BroadcastNestedLoopJoinExec => b }.isEmpty,
      s"the common p_partkey = l_partkey conjunct must be extracted from the OR:\n${qe.executedPlan}")
    val join = qe.optimizedPlan.collectFirst { case j: Join => j }.getOrElse(fail("no join"))
    assert(join.condition.exists(_.references.nonEmpty), "equi-join condition present")
    // each disjunct's single-side half is pushed below the join
    val partSideFiltered = join.children.exists(_.collect {
      case f: Filter if f.condition.toString.contains("p_brand") => f
    }.nonEmpty)
    assert(partSideFiltered,
      s"per-side disjunct halves must reach the part side below the join:\n${qe.optimizedPlan}")
  }

  // --- text_decontaminate_bloom -----------------------------------------

  test("bloom decontamination matches the broadcast variant exactly") {
    val exact = TextQueries.decontaminate(spark, dir)
    val bloom = TextQueries.decontaminateBloom(spark, dir)
    assert(bloom.exceptAll(exact).isEmpty && exact.exceptAll(bloom).isEmpty,
      "the confirm join must eliminate every bloom false positive")
  }

  test("decontaminate_bloom plan: probe filters the corpus side below the confirm join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    val plan = TextQueries.decontaminateBloom(spark, dir).queryExecution.optimizedPlan
    val join = plan.collectFirst { case j: Join => j }.getOrElse(fail("no confirm join"))
    val probeFiltered = join.children.exists(_.collect {
      case f: Filter if f.condition.exists(_.isInstanceOf[BloomFilterMightContain]) => f
    }.nonEmpty)
    assert(probeFiltered,
      s"the confirm join input must be bloom-probed below the join:\n$plan")
  }

  // --- doc_sample_quota_sharded -----------------------------------------

  test("sharded quota sampler: per-(lang, shard) quotas sum to the target") {
    val out = CurationQueries.sampleQuotaSharded(spark, dir, quota = 40, shards = 4)
      .collect().map(r => (r.getString(1), r.getLong(3), r.getLong(0)))
    val perCell = out.groupBy(t => (t._1, t._2)).view.mapValues(_.length)
    perCell.foreach { case (cell, n) =>
      assert(n <= 10, s"cell $cell got $n > 40/4 docs") }
    val perLang = out.groupBy(_._1).view.mapValues(_.length)
    perLang.foreach { case (lang, n) =>
      assert(n <= 40, s"lang $lang exceeded the total quota: $n") }
    assert(out.map(_._3).distinct.length == out.length, "no doc sampled twice")
  }

  test("sharded quota sampler windows by (lang, shard), never a whole language") {
    import org.apache.spark.sql.catalyst.plans.logical.Window
    val plan = CurationQueries.sampleQuotaSharded(spark, dir)
      .queryExecution.optimizedPlan
    val w = plan.collectFirst { case w: Window => w }.getOrElse(fail("no rank window"))
    assert(w.partitionSpec.size == 2,
      s"rank window must partition by (lang, shard), got: ${w.partitionSpec}")
  }

  test("sharded quota sampler rejects a quota that does not divide over shards") {
    intercept[IllegalArgumentException] {
      CurationQueries.sampleQuotaSharded(spark, dir, quota = 40, shards = 3)
    }
  }

  // --- text_winnow -------------------------------------------------------

  test("winnowing guarantee: a shared k+w-1 token run always shares a fingerprint") {
    import spark.implicits._
    // k=3, w=4 => guarantee threshold 6 tokens. Docs 1 and 2 embed the same
    // 6-token run in different contexts; doc 3 is disjoint.
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"pre1 pre2 $shared post1"),
      (2L, s"intro $shared tail1 tail2 tail3"),
      (3L, "unrelated tokens only appear here nothing common at all")
    ).toDF("doc_id", "text")
    val fps = TextQueries.winnowFrom(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty,
      "documents sharing a >= k+w-1 token run must share a winnowed fingerprint")
    assert((fps(3L) & (fps(1L) | fps(2L))).isEmpty,
      "disjoint token streams share no fingerprints")
  }

  test("winnow pair cap drops hot boilerplate fingerprints before the join") {
    import spark.implicits._
    // every doc carries the same 6-token boilerplate run (a guaranteed
    // shared fingerprint in ALL of them) plus per-doc unique text; docs 1/2
    // additionally share a genuine 6-token overlap
    val boiler = "standard license header tokens appear everywhere"
    val real = "genuinely shared unique passage right here"
    val docs = ((1L to 6L).map {
      case i @ 1L => (i, s"$boiler $real u$i v$i")
      case i @ 2L => (i, s"x$i $boiler y$i $real")
      case i => (i, s"a$i b$i $boiler c$i d$i e$i")
    }).toDF("doc_id", "text")
    val uncapped = TextQueries.winnowPairsFrom(docs, minShared = 1, maxDocFreq = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = TextQueries.winnowPairsFrom(docs, minShared = 1, maxDocFreq = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 15, s"boilerplate links every doc pair: $uncapped")
    assert(capped.contains((1L, 2L)),
      s"the genuine low-df overlap must survive the cap: $capped")
    // the df-6 boilerplate fingerprint is gone, so the all-pairs clique
    // cannot survive (straddle-window minima may keep a few low-df
    // secondary links — that is the cap working as specified, by df)
    assert(capped.size < uncapped.size,
      s"the ubiquitous fingerprint must stop linking every pair: $capped")
    assert(capped.subsetOf(uncapped))
  }

  test("winnowing density: fingerprints per doc are a strict subset of windows") {
    val rows = TextQueries.winnow(spark, dir).groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_fp"),
        org.apache.spark.sql.functions.sum("n_windows").as("n_win"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2), "every fingerprint accounts >= 1 window")
      assert(r.getLong(1) > 0)
    }
  }

  // --- doc_mix_rates loop closure ---------------------------------------

  test("report -> rates -> upsample lands the epoch stream on the target mixture") {
    val rates = CurationQueries.mixRates(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(4).toInt).toMap
    val targets = CurationQueries.mixRates(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    val epoch = CurationQueries.upsampleFrom(
      Tables(spark, dir, "documents"), rates = rates, default = 100)
    // join token counts back on and measure the achieved share
    val toks = Tables(spark, dir, "documents")
      .selectExpr("doc_id",
        "CAST(aggregate(split(trim(text), '\\\\s+'), 0L, (acc, t) -> acc + (length(t) + 3) div 4) AS BIGINT) AS n_tok")
    val achieved = epoch.join(toks, "doc_id")
      .groupBy("lang").agg(org.apache.spark.sql.functions.sum("n_tok").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = achieved.values.sum.toDouble
    targets.foreach { case (lang, target) =>
      val share = achieved(lang) / total
      assert(math.abs(share - target) < 0.04,
        s"$lang: achieved $share vs target $target (rate ${rates(lang)}%)")
    }
  }

  // --- nfc_normalize -----------------------------------------------------

  test("nfc_normalize: identity on ASCII, composes combining marks, null-safe") {
    graft.functions.GraftFunctions.registerAll(spark)
    import spark.implicits._
    val out = Seq(
      ("plain ascii stays", "plain ascii stays"),
      ("café", "café"),          // already NFC
      ("café", "café"),          // NFD -> NFC composition
      ("Å", "Å")                 // A + ring -> Å
    ).toDF("s", "expected")
      .selectExpr("nfc_normalize(s) AS n", "expected").collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1)))
    val nul = Seq(Tuple1(null: String)).toDF("s")
      .selectExpr("nfc_normalize(s) AS n").collect().head
    assert(nul.isNullAt(0), "null propagates")
  }

  // --- dedupExact nfc dial -----------------------------------------------

  test("dedupExact nfc dial: identical on ASCII; only nfc=true merges byte variants") {
    import spark.implicits._
    val ascii = Tables(spark, dir, "documents")
    val a = DedupQueries.dedupExactFrom(ascii, nfc = false).collect().map(_.toString).sorted
    val b = DedupQueries.dedupExactFrom(ascii, nfc = true).collect().map(_.toString).sorted
    assert(a.sameElements(b), "NFC is the identity on the ASCII corpus")
    val mixed = Seq(
      (1L, "café twin"), (2L, "café twin"), (3L, "unrelated")
    ).toDF("doc_id", "text")
    val raw = DedupQueries.dedupExactFrom(mixed, nfc = false)
      .collect().map(r => r.getLong(2)).sorted
    val nfc = DedupQueries.dedupExactFrom(mixed, nfc = true)
      .collect().map(r => r.getLong(2)).sorted
    assert(raw.toSeq == Seq(1L, 1L, 1L), "raw fingerprints cannot merge byte variants")
    assert(nfc.toSeq == Seq(1L, 2L), "nfc=true merges the precomposed/decomposed twin")
  }

  // --- resolveRoots cycle cap -------------------------------------------

  test("resolveRoots fails fast with a cycle error instead of looping forever") {
    import spark.implicits._
    val cyclic = Seq((1L, 2L), (2L, 1L), (3L, 3L)).toDF("node", "parent")
    val e = intercept[IllegalArgumentException] {
      // a tight cap keeps the spec fast; the error path is identical at 64
      IterativeQueries.resolveRootsWithRounds(cyclic, maxRounds = 5)._1.collect()
    }
    // the failed loop released every generation it had persisted
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"cycle error leaked ${spark.sparkContext.getPersistentRDDs.size} cached RDDs")
    assert(e.getMessage.contains("cycle"), s"unexpected message: ${e.getMessage}")
  }
}
