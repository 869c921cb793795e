package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 pins: the cycle-cap overflow regression (a cycle must throw even
  * when the round cap exceeds 62 — pre-fix, the doubling depth wrapped
  * negative at round 63, the `> 0` movement test read the wrap as
  * convergence, and the loop exited with corrupted state), plus this
  * round's operator additions.
  */
class Round8Spec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // reliable checkpoints: a released (or failed) query leaves the block
    // store empty, which the resolveRoots cycle spec asserts
    s.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-round8-ckpt").toString)
    s
  }

  override def afterAll(): Unit = spark.stop()

  // --- resolveRoots cycle-cap overflow ------------------------------------

  test("resolveRoots throws on a cycle even with a cap above the 2^63 wrap point") {
    import spark.implicits._
    val cyclic = Seq((1L, 2L), (2L, 1L), (3L, 3L)).toDF("node", "parent")
    val e = intercept[IllegalArgumentException] {
      // cap ABOVE 64: pre-fix this path never threw — depth wrapped negative
      // at round 63, `moved` (then `pdepth > 0`) went false, and the loop
      // exited "converged" with garbage anc/depth. The overflow guard must
      // fire on the first negative depth, well before this cap.
      IterativeQueries.resolveRootsWithRounds(cyclic, maxRounds = 100)._1.collect()
    }
    // the failed loop released every generation it had persisted
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"cycle error leaked ${spark.sparkContext.getPersistentRDDs.size} cached RDDs")
    assert(e.getMessage.contains("cycle"), s"unexpected message: ${e.getMessage}")
    assert(e.getMessage.contains("overflow"),
      s"the negative-depth guard (not the round cap) must fire: ${e.getMessage}")
  }

  // --- dedup_substring ----------------------------------------------------

  test("dedup_substring recovers EXACTLY the planted maximal runs (MOSS guarantee end-to-end)") {
    // derive the expected run set from the overlapCorpus construction
    // parameters: per key g, block S1 (4 + g%8 tokens) after prefixes of
    // g%5 / 1+g%3 tokens, plus block S2 (7 tokens) after a 2- / 1-token mid
    // section when g%4 = 0; runs shorter than k+w-1 = 6 must NOT appear.
    val gs = Tables(spark, dir, "customer")
      .select("c_custkey").collect().map(_.getLong(0))
    val expected = gs.flatMap { g =>
      val (npA, npB) = (g % 5, 1 + g % 3)
      val ns1 = 4 + g % 8
      val s1 = if (ns1 >= 6) Seq((2 * g, 2 * g + 1, npA + 1, npB + 1, ns1)) else Nil
      val s2 = if (g % 4 == 0)
        Seq((2 * g, 2 * g + 1, npA + ns1 + 2 + 1, npB + ns1 + 1 + 1, 7L)) else Nil
      s1 ++ s2
    }.toSet
    val out = DedupQueries.dedupSubstring(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong,
        r.getInt(3).toLong, r.getInt(4).toLong)).toSet
    assert(out == expected,
      s"missing: ${(expected -- out).take(5)}; extra: ${(out -- expected).take(5)}")
    // edge coverage really present: blocks at a doc start (g%5=0) and at a
    // doc end (g%7=0 kills side-b's suffix), and multi-run pairs (g%4=0)
    assert(gs.exists(g => g % 5 == 0 && (4 + g % 8) >= 6), "doc-start edge case exercised")
    assert(gs.exists(g => g % 7 == 0 && g % 4 == 0), "doc-end edge case exercised")
    assert(out.groupBy(r => (r._1, r._2)).exists(_._2.size == 2), "multi-run pairs exercised")
  }

  test("dedup_substring emits only TRUE shared runs when a gram repeats inside the region") {
    import spark.implicits._
    // the shared region "X Y Z X Y Z W Q" repeats gram (X,Y,Z): the two
    // sides may anchor different occurrences, so COMPLETENESS of the
    // maximal run is not guaranteed — but every emitted row must still be
    // a verified token run (the documented contract)
    val docs = Seq(
      (1L, "u1 u2 X Y Z X Y Z W Q u3"),
      (2L, "v1 X Y Z X Y Z W Q v2 v3 v4")).toDF("doc_id", "text")
    val rows = DedupQueries.dedupSubstringFrom(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    assert(rows.nonEmpty, "the 8-token shared region must anchor at least one run")
    val ta = docs.filter($"doc_id" === 1L).head().getString(1).split("\\s+")
    val tb = docs.filter($"doc_id" === 2L).head().getString(1).split("\\s+")
    rows.foreach { case (_, _, sa, sb, len) =>
      assert(ta.slice(sa - 1, sa - 1 + len).sameElements(tb.slice(sb - 1, sb - 1 + len)),
        s"emitted run (start_a=$sa start_b=$sb len=$len) is not a true shared run")
    }
    // on THIS construction the aligned anchor exists, so the full maximal
    // run is in fact recovered
    assert(rows.contains((1L, 2L, 3, 2, 8)), s"full 8-token run not recovered: ${rows.toSeq}")
  }

  // --- BPE tokenizer ------------------------------------------------------

  /** Independent reference implementation of the graft-BPE spec (merge-all
    * of the best/lowest-ranked same-symbol-free pair) — plain sequential
    * Scala, sharing no code with the expression chains it checks.
    */
  private object BpeRef {
    def mergeAll(ss: List[String], x: String, y: String): List[String] = ss match {
      case a :: b :: rest if a == x && b == y => (x + y) :: mergeAll(rest, x, y)
      case a :: rest => a :: mergeAll(rest, x, y)
      case Nil => Nil
    }
    def learn(vocab: Map[String, Long], n: Int): Seq[(Int, String, Long)] = {
      var state = vocab.keys.map(w => w -> w.split("").toList).toMap
      (1 to n).flatMap { r =>
        val cnt = state.toSeq.flatMap { case (w, ss) =>
          ss.zip(ss.tail).filter(p => p._1 != p._2).map(p => (p, vocab(w)))
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        if (cnt.isEmpty) None
        else {
          val mx = cnt.values.max
          val (bx, by) = cnt.filter(_._2 == mx).keys.minBy(p => p._1 + " " + p._2)
          state = state.view.mapValues(mergeAll(_, bx, by)).toMap
          Some((r, s"$bx $by", mx))
        }
      }
    }
    def apply(w: String, mk: Seq[String], steps: Int): List[String] = {
      var ss = w.split("").toList
      var done = false
      for (_ <- 1 to steps if !done) {
        val rp = ss.zip(ss.tail).map { case (x, y) => mk.indexOf(x + " " + y) }
        if (rp.forall(_ < 0)) done = true
        else {
          val i = rp.indexOf(rp.filter(_ >= 0).min)
          ss = mergeAll(ss, ss(i), ss(i + 1))
        }
      }
      ss
    }
  }

  test("BPE learn matches the sequential reference on a constructed corpus") {
    import spark.implicits._
    val docs = Seq((1L, "the cat sat on the mat"), (2L, "the bat and the cat"),
      (3L, "that mat that hat"), (4L, "xx yy the")).toDF("doc_id", "text")
    val words = docs.collect().flatMap(_.getString(1).split("\\s+"))
    val vocab = words.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expected = BpeRef.learn(vocab, BpeTokenizer.NMerges)
    val got = BpeTokenizer.learnFrom(docs).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected, s"learned:\n$got\nexpected:\n$expected")
  }

  test("BPE learn matches the sequential reference on the rich arm") {
    // the top count ties between pairs sharing a left symbol ("0 6" and
    // "0 9" at rank 35 on sf0.01), which the constructed corpus never does
    val docs = TextQueries.richCorpus(spark, "/root/testdata/sf0.01")
    val words = docs.select("text").collect().flatMap(_.getString(0).split(" "))
    val vocab = words.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = BpeTokenizer.learnFrom(docs, BpeTokenizer.RichMerges).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == BpeRef.learn(vocab, BpeTokenizer.RichMerges))
  }

  test("BPE apply with the learned table matches the reference per word (learn->apply loop)") {
    import spark.implicits._
    val docs = Seq((1L, "the cat sat on the mat"), (2L, "the bat and the cat"),
      (3L, "that mat that hat"), (4L, "xx yy the")).toDF("doc_id", "text")
    val learned = BpeTokenizer.learnFrom(docs).collect().map(_.getString(1)).toSeq
    val words = docs.collect().flatMap(_.getString(1).split("\\s+")).distinct
    val got = BpeTokenizer.applyWords(words.toSeq.toDF("w"), learned)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    words.foreach { w =>
      val exp = BpeRef.apply(w, learned, BpeTokenizer.ApplySteps).length
      assert(got(w) == exp, s"'$w': engine ${got(w)} subtokens, reference $exp")
    }
  }

  test("dedup_substring_rewrite: later docs lose exactly the planted spans, earlier docs keep them") {
    val gs = Tables(spark, dir, "customer")
      .select("c_custkey").collect().map(_.getLong(0))
    val expectRemoved = gs.map { g =>
      val ns1 = 4 + g % 8
      (2 * g + 1) -> ((if (ns1 >= 6) ns1 else 0L) + (if (g % 4 == 0) 7L else 0L))
    }.toMap
    val out = DedupQueries.dedupSubstringRewrite(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    out.foreach { case (id, nTok, nRem, clean) =>
      val expected = if (id % 2 == 0) 0L else expectRemoved(id)
      assert(nRem == expected, s"doc $id removed $nRem, expected $expected")
      assert(clean.split("\\s+").filter(_.nonEmpty).length == nTok - nRem,
        s"doc $id clean text length mismatch")
      // exactly one copy of every duplicated passage survives: the a-side
      // keeps its shared tokens, the b-side's survivors contain none of the
      // removed shared blocks
      if (id % 2 == 1 && nRem > 0) {
        val g = (id - 1) / 2
        if (4 + g % 8 >= 6) assert(!clean.contains(s"s${g}x1"), s"doc $id kept a removed S1 token")
        if (g % 4 == 0) assert(!clean.contains(s"s${g}y1"), s"doc $id kept a removed S2 token")
      }
    }
  }

  // --- q_fuzzy_join ---------------------------------------------------------

  test("q_fuzzy_join: candidates come from the variant equi-join, never a distance cross join") {
    val plan = RelationalQueries.fuzzyJoin(spark, dir).queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"all-pairs distance join leaked into the plan:\n$plan")
    assert(plan.contains("Join"), s"no join at all?\n$plan")
  }

  test("q_fuzzy_join: the negative arm never matches; the identity arm matches itself at 0") {
    val rows = RelationalQueries.fuzzyJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val byDirty = rows.groupBy(_._1)
    Tables(spark, dir, "customer").select("c_custkey").collect().map(_.getLong(0)).foreach { id =>
      if (id % 3 == 2) assert(!byDirty.contains(id), s"mutilated key $id must not match")
      if (id % 3 == 1) assert(byDirty(id).exists(t => t._2 == id && t._3 == 0),
        s"unchanged key $id must match itself at distance 0")
      if (id % 3 == 0) assert(byDirty.get(id).exists(_.exists(t => t._2 == id && t._3 == 1)),
        s"single-deletion key $id must match its own record at distance 1")
    }
  }

  // --- mm_frame_dedup -------------------------------------------------------

  test("mm_frame_dedup finds exactly the planted shared-frame video pairs") {
    val gs = Tables(spark, dir, "customer")
      .select("c_custkey").collect().map(_.getLong(0))
    val out = MultimodalQueries.frameDedup(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getInt(3)))).toMap
    assert(out.keySet == gs.map(g => (2 * g, 2 * g + 1)).toSet,
      "every pair is a planted (2g, 2g+1) video pair and nothing else matches")
    gs.foreach { g =>
      val (n, h) = out((2 * g, 2 * g + 1))
      assert(n == 1 + g % 3, s"pair g=$g shares $n frames, planted ${1 + g % 3}")
      assert(h == 0, s"identical planted frames must verify at hamming 0, got $h")
    }
  }

  // --- TPC-H suite completion ---------------------------------------------

  test("tpch q4: the EXISTS correlation plans as a hash semi join, never a loop join") {
    val plan = RelationalQueries.tpchQ4(spark, dir).queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("LeftSemi"), s"no semi join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"the date inequality must ride the order-key equi-join:\n$plan")
  }

  test("tpch q6: every predicate reaches the parquet scan as a pushed filter") {
    val plan = RelationalQueries.tpchQ6(spark, dir).queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("PushedFilters:"), s"no pushdown section:\n$plan")
    val pushed = plan.split("PushedFilters:")(1).split("\\]")(0)
    Seq("l_shipdate", "l_discount", "l_quantity").foreach { c =>
      assert(pushed.contains(c), s"$c not pushed to the scan: [$pushed]")
    }
  }

  test("dedup_substring: anchors and extension are equi-joins, never a pair cross product") {
    // the LAZY plan twin (the public entry returns a checkpointed LogicalRDD)
    val (out, barriers) = DedupQueries.dedupSubstringPlanFrom(
      DedupQueries.overlapCorpus(spark, dir).limit(50))
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    barriers.foreach(_.unpersist())
    assert(plan.contains("Join"), s"no join in the substring pipeline?\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair cross product leaked into the substring pipeline:\n$plan")
  }

  test("tpch q13: customers with zero qualifying orders land in the 0 bucket") {
    val rows = RelationalQueries.tpchQ13(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val nCust = Tables(spark, dir, "customer").count()
    assert(rows.values.sum == nCust,
      s"distribution must cover every customer exactly once: ${rows.values.sum} vs $nCust")
  }

  // --- on-engine quality training -----------------------------------------

  test("quality training learns: trained scorer beats the majority class on its labels") {
    val rows = QualityTrain.qualityTrained(spark, dir).collect()
      .map(r => (r.getString(4), r.getInt(5))) // (teacher, agree)
    val n = rows.length
    val majority = rows.groupBy(_._1).values.map(_.size).max
    val agreed = rows.map(_._2).sum
    assert(agreed > majority,
      s"trained model must beat always-majority: agreed $agreed vs majority $majority of $n")
    val w = QualityTrain.qualityTrain(spark, dir).collect()
    assert(w.length == TextQueries.ModelDim)
    assert(w.exists(_.getLong(2) != 0L), "training left every fixed-point weight at zero")
  }

  test("doc_split_grouped: no verified near-dup pair straddles a split boundary") {
    val split = CurationQueries.splitGrouped(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val pairs = DedupQueries.dedupJaccardPrefix(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "no near-dup pairs at sf0.001 — pin is vacuous")
    pairs.foreach { case (a, b) =>
      assert(split(a) == split(b),
        s"near-dup pair ($a, $b) split across ${split(a)}/${split(b)} — eval leakage")
    }
    // and it is still a SPLIT: more than one split id in use
    assert(split.values.toSet.size > 1, "all docs landed in one split")
  }

  test("rel_delete_cascade: deleted roots' children all gone, survivors fully intact") {
    val rows = RelationalizeQueries.relDeleteCascade(spark, dir).collect()
    assert(rows.forall(_.getLong(0) % 7 != 0),
      "a deleted root's child row leaked through the rid-lineage cascade")
    val expected = Tables(spark, dir, "lineitem")
      .filter(org.apache.spark.sql.functions.col("l_orderkey") % 7 =!= 0).count()
    assert(rows.length.toLong == expected,
      s"cascade orphaned surviving children: ${rows.length} vs $expected")
  }

  test("BPE counting edge cases: empty text and single chars") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, "a"), (3L, "a b")).toDF("doc_id", "text")
    val got = BpeTokenizer.tokensFrom(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    // "" tokenizes to one empty word of zero symbols
    assert(got.toSeq == Seq((1L, 1, 0L), (2L, 1, 1L), (3L, 2, 2L)), got.toSeq.toString)
  }

  // --- round-8 second batch: gini / PPS sampler / SQ8 / transitions -------

  test("q_gini's parallelRank matches a sequential single-threaded re-derivation") {
    val got = RelationalQueries.gini(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // re-derive per segment on collected data: sort by (spend, custkey),
    // rank sequentially, apply the same formula with BigDecimal-exact sums
    val spend = Tables(spark, dir, "orders")
      .join(Tables(spark, dir, "customer"),
        org.apache.spark.sql.functions.col("o_custkey") ===
          org.apache.spark.sql.functions.col("c_custkey"))
      .groupBy("c_mktsegment", "o_custkey")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("o_totalprice").cast("decimal(18,2)")).as("spend"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), BigDecimal(r.getDecimal(2))))
    spend.groupBy(_._1).foreach { case (seg, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      val n = sorted.length
      val total = sorted.map(_._3).sum
      val isum = sorted.zipWithIndex.map { case (r, i) => r._3 * (i + 1) }.sum
      val gini = ((2 * isum - (n + 1) * total) / (BigDecimal(n) * total)).toDouble
      val (gn, gt, gg) = got(seg)
      assert(gn == n.toLong && math.abs(gt - total.toDouble) < 1e-6,
        s"$seg: n/total mismatch ($gn, $gt) vs ($n, $total)")
      assert(math.abs(gg - gini) < 1e-9, s"$seg: gini $gg vs sequential $gini")
    }
  }

  test("doc_sample_weighted is exactly the sequential systematic-PPS walk") {
    val got = CurationQueries.sampleWeighted(spark, dir, target = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // sequential re-derivation: hash order, running token sum, select where
    // the interval crosses a multiple of step = total div target
    val docs = Tables(spark, dir, "documents")
      .selectExpr("doc_id", "(length(text) + 3) div 4 AS tokens", "md5(text) AS h")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(r => (r._3, r._1))
    val total = docs.map(_._2).sum
    val step = math.max(total / 20, 1L)
    var cum = 0L
    val expected = docs.flatMap { case (id, w, _) =>
      val before = cum / step; cum += w
      if (cum / step > before) Some((id, w, cum)) else None
    }
    assert(got.toSeq == expected.toSeq.sortBy(_._1),
      s"PPS sample diverged: got ${got.length}, expected ${expected.length}")
    // certainty stratum: every doc at least one full step heavy IS selected
    val selected = got.map(_._1).toSet
    docs.filter(_._2 >= step).foreach { case (id, w, _) =>
      assert(selected.contains(id), s"doc $id with weight $w >= step $step not selected")
    }
  }

  test("emb_quantize: codes in [0,255], error within the per-dimension grid bound") {
    val rows = SimilarityQueries.embQuantize(spark, dir).collect()
    assert(rows.nonEmpty)
    // derive the same stats the operator used, sequentially
    val qvs = Tables(spark, dir, "embeddings")
      .selectExpr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv")
      .collect().map(_.getSeq[Long](0))
    val dims = qvs.head.length
    val rngs = (0 until dims).map(d => qvs.map(_(d)).max - qvs.map(_(d)).min)
    // per-dim |err| <= rng div 255 + 1 (floor-division remainder bound)
    val bound = rngs.map(r => { val e = r / 255 + 1; e * e }).sum
    rows.foreach { r =>
      val codes = r.getSeq[Long](1) // library surface keeps the ARRAY column
      assert(codes.length == dims && codes.forall(c => c >= 0 && c <= 255),
        s"vec ${r.getLong(0)}: code out of byte range")
      assert(r.getLong(2) >= 0 && r.getLong(2) <= bound,
        s"vec ${r.getLong(0)}: sq_err ${r.getLong(2)} above grid bound $bound")
    }
  }

  test("ann_sq8 recall stays high where PQ's coarse codebooks cannot") {
    val rec = SimilarityQueries.annSq8Recall(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rec.nonEmpty)
    val avg = rec.values.sum / rec.size
    assert(avg >= 0.5, s"SQ8 avg recall $avg < 0.5 — 8-bit-per-dim should hold rank order")
    assert(rec.values.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("mm_phash: uniform brightness shift provably changes no bit; identity holds") {
    import spark.implicits._
    // controlled payloads: 128 bytes with a deterministic pattern, and the
    // same payload shifted +40 on every byte (all stay < 256)
    def hexOf(bytes: Seq[Int]) = bytes.map(b => f"$b%02x").mkString
    val base = (0 until 128).map(i => (i * 7) % 200 + 10)
    val shifted = base.map(_ + 40)
    val local = (0 until 128).map(i => if (i == 40) 250 else base(i))
    val docs = Seq(
      (1L, hexOf(base)), (2L, hexOf(base)), (3L, hexOf(shifted)), (4L, hexOf(local)))
      .toDF("doc_id", "hx").selectExpr("doc_id", "unhex(hx) AS media")
    val sigs = MultimodalQueries.phashSigsFrom(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L), "identical payloads must hash identically")
    // every AC row of the fixed-point DCT matrix sums to 0, so +c on all
    // pixels shifts ONLY the dropped DC coefficient — a theorem, not luck
    assert(sigs(1L) == sigs(3L),
      s"uniform shift changed the signature: ${sigs(1L)} vs ${sigs(3L)}")
    val hamming = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    assert(hamming > 0, "a real local edit must be visible")
    assert(hamming <= 20, s"localized edit flipped $hamming/60 bits — not perceptual")
  }

  test("phash60 expression is bit-identical to the portable SQL derivation") {
    val media = Tables(spark, dir, "documents")
      .selectExpr("doc_id", "CAST(text AS BINARY) AS media")
    val fast = MultimodalQueries.phashSigsFrom(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sql = MultimodalQueries.phashSigsSqlFrom(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast.nonEmpty && fast == sql,
      s"codegen'd phash60 diverged from the SQL chain on ${fast.count(kv => sql.get(kv._1) != Some(kv._2))} docs")
  }

  test("kcore peels a chain away and keeps the K4 clique at exactly degree 3") {
    // chain 1-2-3-4-5 (degrees <= 2, must peel) + clique {10,11,12,13}
    // (degree 3 each, must survive at k=3)
    val li = KcoreSpec.chainAndK4(spark)
    val got = IterativeQueries.kcoreFrom(spark, li).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 3L, 11L -> 3L, 12L -> 3L, 13L -> 3L),
      s"expected exactly the K4 clique at core degree 3, got $got")
  }

  test("q_transition_matrix rows are per-state probability distributions") {
    val rows = RelationalQueries.transitionMatrix(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (state, rs) =>
      val psum = rs.map(_._3).sum
      assert(math.abs(psum - 1.0) < 1e-9, s"$state: probabilities sum to $psum")
    }
  }
}
