package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the catalog queries must produce the plans we
  * designed for scale — parquet pushdown + pruning, broadcast joins on dims,
  * map-side partial aggregation, whole-stage codegen. These are the
  * properties that survive a 100x scale-up; the specs pin them against
  * regressions.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def executedPlan(df: org.apache.spark.sql.DataFrame): SparkPlan = {
    df.collect() // AQE finalizes the plan only after execution
    df.queryExecution.executedPlan
  }
  private def planString(df: org.apache.spark.sql.DataFrame): String =
    executedPlan(df).toString

  test("filter+project pushes predicates and prunes columns at the parquet scan") {
    val p = planString(RelationalQueries.filterProject(spark, dir))
    // (the PushedFilters list is truncated in toString — match the prefix)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), s"no pushdown in:\n$p")
    // pruned read schema: only the 6 referenced columns, not all 11
    assert(!p.contains("l_returnflag"), s"column pruning failed:\n$p")
  }

  test("star join broadcasts the dimension tables") {
    val p = planString(RelationalQueries.joinStar(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("groupBy aggregation is partial (map-side) then final") {
    val p = planString(RelationalQueries.aggPricingSummary(spark, dir))
    val hashAggs = "HashAggregate".r.findAllIn(p).size
    assert(hashAggs >= 2, s"expected partial+final HashAggregate, plan:\n$p")
    assert(p.contains("partial_sum"), s"no map-side partial aggregation in:\n$p")
    // codegen spans render as "*(n)" stage markers in the executed plan
    assert(p.contains("*(1)"), s"no whole-stage codegen span in:\n$p")
  }

  test("semi/anti joins plan as join strategies, not subquery re-execution") {
    val semi = planString(RelationalQueries.semiJoin(spark, dir))
    assert(semi.contains("LeftSemi"), s"no semi join in:\n$semi")
    val anti = planString(RelationalQueries.antiJoin(spark, dir))
    assert(anti.contains("LeftAnti"), s"no anti join in:\n$anti")
  }

  test("theta join broadcasts the tiny band side as a nested loop; full outer stays a shuffle join") {
    // non-equi predicate against a 5-row side: the right plan is a broadcast
    // nested-loop (big side streams map-side; the predicate never becomes a
    // shuffle key). Both-sides-large non-equi is q_range_join (bucketized).
    val theta = planString(RelationalQueries.thetaJoin(spark, dir))
    assert(theta.contains("BroadcastNestedLoopJoin"), s"theta join not broadcast-NLJ:\n$theta")
    assert(!theta.contains("CartesianProduct"), s"theta join fell to cartesian:\n$theta")
    // full outer over two large pre-aggregated sides: shuffle join on the key
    val fo = planString(RelationalQueries.fullOuterJoin(spark, dir))
    assert(fo.contains("FullOuter"), s"no full-outer join in:\n$fo")
    assert(fo.contains("SortMergeJoin") || fo.contains("ShuffledHashJoin"),
      s"full outer should shuffle-join both aggregated sides:\n$fo")
  }

  test("merge-upsert collapses the changelog with a partial max_by, not a window sort") {
    val p = planString(RelationalQueries.mergeUpsert(spark, dir))
    assert(p.contains("partial_max_by"), s"changelog not partial-aggregated map-side:\n$p")
    assert(!p.contains("Window"), s"latest-wins must be an agg, not a window sort:\n$p")
    assert(p.contains("FullOuter"), s"merge lost its full-outer join:\n$p")
  }

  test("top-k plans as TakeOrderedAndProject, not global sort") {
    val p = planString(RelationalQueries.topK(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"top-k not optimized:\n$p")
  }

  test("bucketed tables co-locate the join: no Exchange in the plan") {
    import org.apache.spark.sql.functions.col
    // default warehouse dir (./spark-warehouse, gitignored) — warehouse.dir
    // is a static conf and cannot be set per-test
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      Tables(spark, dir, "orders")
        .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_bkt")
      Tables(spark, dir, "lineitem")
        .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("lineitem_bkt")
      val joined = spark.table("lineitem_bkt")
        .join(spark.table("orders_bkt"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).count()
      val p = planString(joined)
      // both sides read pre-bucketed: the join itself needs no shuffle
      assert(!p.contains("Exchange hashpartitioning(l_orderkey"),
        s"join still shuffles the bucketed fact side:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(joined.collect().nonEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS lineitem_bkt")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("TPC-H shapes: Q3 pushes date filters and takes top-10 without a global sort; Q5 broadcasts only the bounded dims") {
    val q3 = planString(RelationalQueries.tpchQ3(spark, dir))
    assert(q3.contains("TakeOrderedAndProject"), s"Q3 top-10 not TakeOrdered:\n$q3")
    assert(q3.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
      q3.contains("GreaterThan(l_shipdate"), s"Q3 lineitem date filter not pushed:\n$q3")
    val q5 = planString(RelationalQueries.tpchQ5(spark, dir))
    assert(q5.contains("BroadcastHashJoin"), s"Q5 dims not broadcast:\n$q5")
    assert(!q5.contains("CartesianProduct"), s"Q5 fell to cartesian:\n$q5")
  }

  test("TPC-H Q18: lineitem scanned once (agg-before-join, no re-join + re-group) and top-100 as TakeOrdered") {
    val df = RelationalQueries.tpchQ18(spark, dir)
    val p = planString(df).split("== Initial Plan ==")(0)
    assert(p.contains("TakeOrderedAndProject"), s"Q18 top-100 not TakeOrdered:\n$p")
    val lineScans = p.split("\n").count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(lineScans == 1, s"Q18 should scan lineitem exactly once, saw $lineScans:\n$p")
  }

  test("AQE switches a sort-merge join to broadcast when the filtered side turns out small at runtime") {
    import org.apache.spark.sql.functions.col
    // Static stats can't see through a selective filter; at 100 TB the
    // planner conservatively picks SMJ. AQE measures the ACTUAL post-filter
    // size at the shuffle boundary and re-plans the join as broadcast —
    // pin that the final plan switched while the initial plan had not.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // static: never
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "1MB") // runtime: allow
    try {
      val sel = Tables(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderstatus"))
      val joined = Tables(spark, dir, "lineitem")
        .join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).count()
      joined.collect()
      val full = joined.queryExecution.executedPlan.toString
      val Array(finalPlan, initialPlan) = full.split("== Initial Plan ==")
      assert(initialPlan.contains("SortMergeJoin"),
        s"control failed — static plan already broadcast:\n$initialPlan")
      assert(finalPlan.contains("BroadcastHashJoin"),
        s"AQE did not switch the join to broadcast:\n$finalPlan")
      assert(joined.queryExecution.executedPlan.toString.contains("AQEShuffleRead") ||
        finalPlan.contains("BroadcastQueryStage"), s"no AQE runtime stage in:\n$finalPlan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    import org.apache.spark.sql.functions.col
    // At 100 TB a selective dim filter should cut the FACT side's shuffle,
    // not just the dim's: Spark's runtime row-level filtering builds a bloom
    // filter from the filtered creation side and injects might_contain on
    // the application side BELOW its shuffle. Local thresholds scaled down
    // (the application-side scan must look "big enough" to be worth it).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // SMJ path
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
    try {
      val sel = Tables(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = Tables(spark, dir, "lineitem")
        .join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).count()
      val p = planString(joined)
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        s"no runtime bloom filter injected on the fact side:\n$p")
      assert(joined.collect().nonEmpty)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
      spark.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }

  test("PQ search plan: codebook and term table broadcast, never a cartesian") {
    // the ADC join must be (encoded corpus) x (broadcast term table) on
    // (sub, code) — a map-side broadcast join; any CartesianProduct or
    // shuffled join of the corpus against the per-query table would be the
    // all-pairs shape PQ exists to avoid
    val (subs, cb, top) = SimilarityQueries.pqTop(spark, dir)
    try {
      val p = planString(top)
      assert(p.contains("BroadcastHashJoin"), s"ADC join not broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"PQ fell to cartesian:\n$p")
      assert(!p.contains("SortMergeJoin"), s"corpus shuffled against the term table:\n$p")
    } finally { subs.unpersist(); cb.unpersist() }
  }

  test("sketch aggregates: estimates inside tolerance; sketch-only plan avoids the distinct Expand") {
    import org.apache.spark.sql.functions._
    // the gating flags really are computed from live estimates (not constants):
    // every group must satisfy its tolerance on this data
    val ad = RelationalQueries.approxDistinct(spark, dir).collect()
    assert(ad.nonEmpty && ad.forall(_.getInt(2) == 1), "HLL estimate outside 5%")
    val su = RelationalQueries.sketchUnion(spark, dir).collect()
    assert(su.length == 1 && su.head.getInt(1) == 1, "unioned sketch outside 5%")
    val aq = RelationalQueries.approxQuantile(spark, dir).collect()
    assert(aq.nonEmpty && aq.forall(_.getInt(2) == 1), "approx median rank outside 2%")
    // the scale claim: exact countDistinct rewrites through Expand (a second
    // shuffle of the fact table); the sketch-only aggregation must not
    val exact = Tables(spark, dir, "lineitem").groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n"))
    val sketch = Tables(spark, dir, "lineitem").groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), rsd = 0.01).as("n"))
    val pe = planString(exact)
    val ps = planString(sketch)
    assert(pe.contains("Expand") || pe.split("Exchange").length > ps.split("Exchange").length,
      s"expected the exact plan to pay a distinct rewrite:\n$pe")
    assert(!ps.contains("Expand"), s"sketch aggregation must not Expand:\n$ps")
  }

  test("q17 decorrelates to one fact aggregate; q21 plans semi+anti equi-joins") {
    val p17 = planString(RelationalQueries.tpchQ17(spark, dir))
    assert(p17.contains("BroadcastHashJoin"), s"part dim not broadcast:\n$p17")
    assert(!p17.contains("CartesianProduct") && !p17.contains("BroadcastNestedLoopJoin"),
      "per-part average must come from one aggregate, never a re-scan per row")

    val (q21, late) = RelationalQueries.tpchQ21Plan(spark, dir)
    try {
      val p21 = planString(q21)
      assert(p21.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n$p21")
      assert(p21.contains("LeftAnti"), s"NOT EXISTS must plan as an anti join:\n$p21")
      assert(!p21.contains("CartesianProduct") && !p21.contains("BroadcastNestedLoopJoin"),
        "the non-equal supplier condition must ride the order-key equi-join")
      assert(p21.contains("InMemoryTableScan"),
        "the late set must be materialized once, not recomputed per correlation")
    } finally late.unpersist()
  }

  test("ahash dedup candidates come from the banded equi-join, never all-pairs") {
    val (out, sigs) = MultimodalQueries.ahashDedupFrom(
      Tables(spark, dir, "documents").selectExpr("doc_id", "CAST(text AS BINARY) AS media"))
    try {
      val p = planString(out)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"banding must make the pair join an equi-join:\n$p")
    } finally sigs.unpersist()
  }

  test("relationalize schema collect is one job with no exchange") {
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, dir, "events")
      .selectExpr("concat('{\"event_id\":', event_id, ',\"props\":', props, '}') AS doc")
      .select(col("doc")).as(org.apache.spark.sql.Encoders.STRING)
    val rows = graft.relationalize.RelationalizeSpark.schemaRows(
      graft.relationalize.RelationalizeSpark.emit(docs, "events"))
    val p = planString(rows.toDF())
    // the schemas ride pass 1 as marker rows: collecting them is a narrow
    // filter over the emit, never a shuffle of the data
    assert(!p.contains("Exchange"), s"schema collect shuffles:\n$p")
    assert(p.contains("MapPartitions"), s"no fused pass-1 emit in:\n$p")
  }

  test("relationalize pass-2 parses each payload exactly once, with no lambda decode") {
    import org.apache.spark.sql.Encoders
    val docs = spark.createDataset(Seq(
      """{"a": 1, "b": "x", "c": 1.5, "d": true, "e": null}""",
      """{"a": "s", "b": "y", "c": 2.5, "d": false, "e": null}"""))(Encoders.STRING)
    val df = graft.relationalize.RelationalizeSpark(docs, "t")("t")
    val optimized = df.queryExecution.optimizedPlan
    var parses = 0
    var lambdas = 0
    optimized.foreach { node =>
      if (node.nodeName.contains("MapPartitions") || node.nodeName.contains("DeserializeToObject"))
        lambdas += 1
      node.expressions.foreach(_.foreach {
        case _: graft.relationalize.DecodeTaggedRow => parses += 1
        case _ =>
      })
    }
    // one decode per row — CollapseProject must NOT inline it into every
    // output column (6 outputs here would mean 6 decodes per payload)
    assert(parses == 1, s"expected exactly 1 DecodeTaggedRow, got $parses:\n$optimized")
    // pass 2 is expression-only: the only object lambdas live in pass 1,
    // behind the persisted emit (InMemoryRelation leaf), not in this plan
    assert(lambdas == 0, s"pass-2 plan contains object-lambda nodes:\n$optimized")
  }

  test("embedding pair stages compute norms per vector, not per pair") {
    import graft.functions.VecDot
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, Sqrt}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // pre-order prefix up to and including the first Join = the per-pair
    // region of the plan (projection / filter / window chain + the pair join
    // itself, where a pushed predicate may land)
    def pairStageCounts(df: org.apache.spark.sql.DataFrame): (Int, Int, Int, String) = {
      val plan = df.queryExecution.optimizedPlan
      val pre = plan.collect { case n => n }
      val firstJoin = pre.indexWhere(_.isInstanceOf[Join])
      assert(firstJoin >= 0, s"no join in plan:\n$plan")
      var dots = 0
      var hofs = 0
      var sqrts = 0
      pre.take(firstJoin + 1).foreach(n => n.expressions.foreach(_.foreach {
        case _: VecDot => dots += 1
        case _: ArrayAggregate => hofs += 1
        case _: Sqrt => sqrts += 1
        case _ =>
      }))
      (dots, hofs, sqrts, plan.toString)
    }
    // the lazy plan variant: the public entry materializes (checkpoint) and
    // releases its barriers, which hides the logical plan under a LogicalRDD
    for (df <- Seq(SimilarityQueries.annBruteForce(spark, dir),
                   DedupQueries.dedupEmbeddingLshPlan(spark, dir)._1)) {
      val (dots, hofs, sqrts, p) = pairStageCounts(df)
      // exactly ONE dot product per candidate pair — codegen'd vec_dot, not
      // an interpreted fold — and the norms live below the join, once per
      // vector
      assert(dots == 1, s"expected 1 per-pair vec_dot, got $dots:\n$p")
      assert(hofs == 0, s"interpreted HOF fold in the per-pair region ($hofs):\n$p")
      assert(sqrts == 0, s"norm recomputed per pair ($sqrts sqrt above the join):\n$p")
    }
  }

  test("narrow select over a wide relationalized table prunes the payload parse") {
    import org.apache.spark.sql.Encoders
    import graft.relationalize.DecodeTaggedRow
    // 50-column documents; consumers select 2
    val doc = (0 until 50).map(i => s""""c$i": $i""").mkString("{", ", ", "}")
    val docs = spark.createDataset(Seq(doc, doc))(Encoders.STRING)
    val wide = graft.relationalize.RelationalizeSpark(docs, "w")("w")
    val narrow = wide.select("c3", "c7")
    val parses = narrow.queryExecution.optimizedPlan.collect { case n =>
      n.expressions.flatMap(_.collect { case d: DecodeTaggedRow => d })
    }.flatten
    assert(parses.size == 1, s"expected 1 parse, got ${parses.size}")
    // the 2 selected output columns, not 50
    val fields = parses.head.kept
    assert(fields.length == 2, s"parse schema not pruned: ${fields.length} fields")
    assert(fields.toSet == Set("c3", "c7"), s"unexpected fields: ${fields.mkString(",")}")
    // values survive pruning
    val rows = narrow.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((3L, 7L), (3L, 7L)))
    // an unpruned consumer still parses the full struct (rule is use-driven)
    val full = wide.queryExecution.optimizedPlan.collect { case n =>
      n.expressions.flatMap(_.collect { case d: DecodeTaggedRow => d })
    }.flatten
    assert(full.head.kept.length == 50)
  }

  test("tfidf and decontamination broadcast their bounded sides") {
    val tfidf = planString(TextQueries.tfidf(spark, dir))
    assert(tfidf.contains("BroadcastHashJoin"),
      s"document-frequency side must broadcast:\n$tfidf")
    val decon = planString(TextQueries.decontaminate(spark, dir))
    assert(decon.contains("BroadcastHashJoin"),
      s"benchmark shingle set must broadcast:\n$decon")
    assert(!decon.contains("SortMergeJoin"),
      s"the corpus shingle stream must not shuffle into the probe:\n$decon")
  }

  test("stratified sampling is map-side: no shuffle exchange at all") {
    val df = CurationQueries.sampleStratified(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"hash-mod sampling must not shuffle:\n$p")
    assert(p.contains("*(1)"), s"sampling filter should be codegen'd:\n$p")
  }

  test("round-6 curation plans: one shuffle for shuffle-split, equi-joins for curate and ngram-dup") {
    // shuffle-split: exactly ONE exchange (hash on split_id, feeding the
    // per-split window sort) — the hash assignment itself is map-side
    val ss = CurationQueries.shuffleSplit(spark, dir)
    ss.collect()
    val pss = ss.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(pss.split("Exchange").length - 1 == 1,
      s"shuffle-split must shuffle exactly once:\n$pss")
    assert("hashpartitioning\\(split_id".r.findFirstIn(pss).isDefined,
      s"the one shuffle must partition by split_id:\n$pss")
    // curate: the dup-id side joins as an equi-join, never a nested loop
    val cur = CurationQueries.curate(spark, dir)
    cur.collect()
    val pc = cur.queryExecution.executedPlan.toString
    assert(!pc.contains("CartesianProduct") && !pc.contains("BroadcastNestedLoopJoin"),
      s"curate must stay an equi-join:\n$pc")
    // ngram-dup (lazy plan twin — the public entry is a checkpointed
    // LogicalRDD): the gram->df join keys on the gram — an equi-join
    // (broadcast is fine at this size; never a nested loop)
    val (ng, grams) = TextQueries.ngramDupPlan(
      Tables(spark, dir, "documents").select(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")))
    ng.collect()
    val png = ng.queryExecution.executedPlan.toString
    grams.unpersist()
    assert(!png.contains("CartesianProduct") && !png.contains("BroadcastNestedLoopJoin"),
      s"ngram-dup must stay an equi-join:\n$png")
    assert("\\bJoin\\b|Join ".r.findFirstIn(png).isDefined || png.contains("Join"),
      s"expected a join in the ngram-dup plan:\n$png")
  }

  test("scd2 runs all three windows off one entity shuffle; gapfill spine never cross-joins") {
    // scd2: lag (change detect), lead (interval close), and row_number
    // (version) share (partition, ordering) — one Exchange on user_id, the
    // sort reused through the intervening Filter
    val sc = RelationalQueries.scd2(spark, dir)
    sc.collect()
    val ps = sc.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(ps.split("Exchange hashpartitioning\\(user_id").length - 1 == 1,
      s"scd2 must shuffle the changelog exactly once:\n$ps")
    // gapfill: the dense spine comes from a per-row generator over the
    // bounded (user, min, max) aggregate — never a cartesian/calendar join
    val gf = RelationalQueries.gapFill(spark, dir)
    gf.collect()
    val pg = gf.queryExecution.executedPlan.toString
    assert(!pg.contains("CartesianProduct") && !pg.contains("BroadcastNestedLoopJoin"),
      s"gapfill spine must not cross-join:\n$pg")
    assert(pg.contains("Generate explode"), s"expected the sequence generator:\n$pg")
  }

  test("window consumers get parse pruning transitively (below-window projection)") {
    // Spark's ExtractWindowExpressions materializes a window's inputs in a
    // Project below the Window, whose reads the rule sees like any other.
    // A window over 2 of 50 columns must decode 2 output columns, not 50.
    import org.apache.spark.sql.Encoders
    import graft.relationalize.DecodeTaggedRow
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.{col, row_number}
    val doc = (0 until 50).map(i => s""""c$i": $i""").mkString("{", ", ", "}")
    val docs = spark.createDataset(Seq(doc, doc))(Encoders.STRING)
    val wide = graft.relationalize.RelationalizeSpark(docs, "w")("w")
    val out = wide.select(col("c7"),
      row_number().over(W.orderBy(col("c3"), col("c7"))).as("rk"))
    val parses = out.queryExecution.optimizedPlan.collect { case n =>
      n.expressions.flatMap(_.collect { case d: DecodeTaggedRow => d })
    }.flatten
    assert(parses.size == 1, s"expected 1 parse, got ${parses.size}")
    val fields = parses.head.kept
    assert(fields.length == 2,
      s"window consumer parse not pruned: ${fields.length} fields")
    assert(fields.toSet == Set("c3", "c7"), s"unexpected fields: ${fields.mkString(",")}")
    // and values survive
    val rows = out.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(rows == Seq((7L, 1), (7L, 2)), s"pruned window corrupted values: $rows")
  }

  test("joining converted tables does not multiply the payload parse") {
    // the rid join-back: an inner join's IsNotNull pushdown must NOT
    // substitute the decode into a filter (10 parses/row before the barrier);
    // the lazy plan variant keeps the join visible (the public entry
    // checkpoints, hiding the plan under a LogicalRDD)
    val df = RelationalizeQueries.relExplodePlan(spark, dir)._1
    var parses = 0
    df.queryExecution.optimizedPlan.foreach { node =>
      node.expressions.foreach(_.foreach {
        case _: graft.relationalize.DecodeTaggedRow => parses += 1
        case _ =>
      })
    }
    // one decode for the root table's projection + one for the child's
    assert(parses == 2, s"expected 2 DecodeTaggedRow (root + child), got $parses")
  }

  test("a below-dial k-core round has no exchange and runs as one job") {
    val li = KcoreSpec.chainAndK4(spark)
    val rec = KcoreSpec.record(spark)(IterativeQueries.kcoreFrom(spark, li))
    val rounds = rec.jobs.filter(_.description.startsWith("q_kcore: round "))
    // round 1 peels the chain; round 2 keeps all four clique nodes: fixpoint
    assert(rounds.map(_.description) == Seq("q_kcore: round 1", "q_kcore: round 2"), rec)
    // a plan-free job over the edge cache: no shuffle, no SQL execution
    assert(rounds.forall(j => !j.inSqlExecution && j.shuffleBytes == 0), rec)
    assert(!rec.sqlExecutions.exists(_.startsWith("q_kcore: round ")), rec)
    // the fixpoint round's pairs are the result: no job after it
    assert(rec.jobs.last == rounds.last, rec)
    // the edge phase: one job per shuffle, then one job that builds the
    // cache and counts the nodes, all in one SQL execution
    val edges = rec.jobs.filter(_.description == "q_kcore: edges")
    assert(edges.size == 4 && edges.init.forall(_.shuffleBytes > 0), rec)
    assert(edges.last.shuffleBytes == 0 && edges.forall(_.inSqlExecution), rec)
    assert(rec.sqlExecutions.count(_ == "q_kcore: edges") == 1, rec)
  }

  test("Tables reads a one-file table with no Spark job and Spark's inferred schema") {
    val names = Seq("customer", "documents", "embeddings", "events", "lineitem", "nation",
      "orders", "part", "region", "supplier")
    val rec = KcoreSpec.record(spark)(names.foreach(Tables(spark, dir, _)))
    assert(rec.jobs.isEmpty, rec)
    for (name <- names.filter(_ != "events")) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(Tables(spark, dir, name).schema == inferred, name)
    }
    // events adapts ts to one TIMESTAMP column whatever the file holds
    val events = Tables(spark, dir, "events")
    assert(events.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(events.count() == spark.read.parquet(s"$dir/events.parquet").count())
  }
}
