package graft

import graft.ops.DedupQueries
import graft.ops.DedupQueries.{EmbeddingLshConfig, MinHashConfig}
import graft.ops.SimilarityQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Growth-curve harness for the fuzzy-dedup / ANN paths: generates synthetic
  * corpora with a realistic (Zipf) vocabulary and planted near-duplicates at
  * 1x and 10x, then records candidate-pair counts and wall-clock for each
  * scale-safe path. The claim under test: candidate sets grow with the TRUE
  * pair count (near-linear, since planted dups are a fixed fraction), not
  * with n^2 — except where a loose threshold forces narrow bands, which the
  * table quantifies honestly (see EmbeddingLshConfig's scaladoc).
  *
  * Corpus design:
  *   - documents: 30-80 tokens, words Zipf-distributed over a ~10k-word
  *     vocabulary (rank = V^u for uniform u — pr(rank r) ~ 1/r), 10% of docs
  *     are a copy of their predecessor with the last token replaced (same
  *     language: lang is derived per decade);
  *   - embeddings: 64-dim hash-uniform vectors, 10% perturbed copies of
  *     their predecessor (cosine ~ 0.999, same label per decade).
  *
  * Candidate counts are computed as sum over band-key groups of C(cnt, 2) —
  * the band join's INPUT pair count (pre-distinct), which is the cost that
  * must not go quadratic — no pair materialization needed.
  *
  * Usage: `sbt "runMain graft.GrowthCurve [baseDir]"` (default /tmp/growth).
  * Writes a markdown table to stdout; ROADMAP.md records the results.
  */
object GrowthCurve {

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Pairs within equal-key groups: sum of cnt*(cnt-1)/2 (exact int math). */
  private def groupPairs(df: DataFrame, keys: Seq[String]): Long = {
    val r = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) div 2"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Don't materialize a candidate join past this size locally — the count
    * already tells the growth story.
    */
  private val TimedRunCap = 150000000L

  /** Synthetic order→part incidence for the graph arms: 5 hashed parts per
    * order over a part universe of n/10, so the co-occurrence edge count
    * grows ~linearly with orders while degrees stay heterogeneous.
    */
  private def genGraphOrders(s: SparkSession, nOrders: Long, path: String): Unit = {
    val nParts = math.max(nOrders / 10L, 10L)
    s.range(nOrders).selectExpr("id AS l_orderkey")
      .selectExpr("l_orderkey", "explode(array(1, 2, 3, 4, 5)) AS k")
      .selectExpr("l_orderkey",
        s"pmod(hash(l_orderkey * 5 + k), ${nParts}L) AS l_partkey")
      .write.mode("overwrite").parquet(s"$path/lineitem.parquet")
  }

  private def genDocuments(s: SparkSession, n: Long, path: String): Unit = {
    graft.functions.GraftFunctions.registerAll(s)
    def tokens(base: String) =
      s"transform(sequence(1, 30 + CAST(pmod(hash60(concat('len:', $base)), 51) AS INT)), " +
        s"i -> concat('w', CAST(pow(10000.0, pmod(hash60(concat('t:', $base, ':', i)), 1000000) / 1000000.0) AS INT)))"
    s.range(n).selectExpr(
      "id AS doc_id",
      // per-decade language so a planted (id-1, id) pair shares its block
      "element_at(array('en','de','fr','es'), CAST(pmod(hash60(concat('lang:', id div 10)), 4) AS INT) + 1) AS lang",
      "concat('src', pmod(hash60(concat('src:', id)), 5)) AS source",
      s"""CASE WHEN pmod(id, 10) = 9
         | THEN concat_ws(' ', concat(slice(${tokens("id - 1")}, 1, size(${tokens("id - 1")}) - 1),
         |                            array(concat('x', id))))
         | ELSE concat_ws(' ', ${tokens("id")}) END AS text""".stripMargin)
      .write.mode("overwrite").parquet(s"$path/documents.parquet")
  }

  private def genEmbeddings(s: SparkSession, n: Long, path: String): Unit = {
    graft.functions.GraftFunctions.registerAll(s)
    def comp(base: String) =
      s"(pmod(hash60(concat('e:', $base, ':', k)), 2001) - 1000) / 1000.0"
    s.range(n).selectExpr(
      "id AS vec_id",
      "CAST(pmod(id div 10, 8) AS INT) AS label", // per-decade: planted pair shares it
      s"""CASE WHEN pmod(id, 10) = 9
         | THEN transform(sequence(1, 64), k -> CAST(${comp("id - 1")}
         |      + (pmod(hash60(concat('d:', id, ':', k)), 21) - 10) / 1000.0 AS FLOAT))
         | ELSE transform(sequence(1, 64), k -> CAST(${comp("id")} AS FLOAT)) END AS embedding""".stripMargin)
      .write.mode("overwrite").parquet(s"$path/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/tmp/growth")
    // optional second arg: run one section only (docs | graph | emb | rich | 100x)
    // — fast re-measurement of a single arm family after a kernel change.
    // Fail fast on a typo: a silently-empty run would read as a successful
    // measurement of nothing.
    val sections = Set("docs", "graph", "emb", "rich", "100x", "rel", "stream")
    val section = args.lift(1)
    section.foreach(s => require(sections(s),
      s"unknown section '$s' — expected one of ${sections.mkString(", ")}"))
    def want(s: String): Boolean = section.forall(_ == s)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-growth-ckpt").toString)

    val docScales = Seq(("1x", 5000L), ("10x", 50000L))
    val embScales = Seq(("1x", 2000L), ("10x", 20000L))
    if (want("docs"))
      docScales.foreach { case (tag, n) => genDocuments(spark, n, s"$base/$tag") }
    if (want("emb"))
      embScales.foreach { case (tag, n) => genEmbeddings(spark, n, s"$base/$tag") }

    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, Long, Long, Double)]

    if (want("docs")) docScales.foreach { case (tag, n) =>
      val dir = s"$base/$tag"
      // minhash: band-group collision pairs (the join input — same metric
      // as the other arms), then the public op behind the same cap guard
      val (shs, tks) = DedupQueries.shingledDocs(spark, dir)
      val mhPairs = groupPairs(
        DedupQueries.minhashBandRows(shs, MinHashConfig()), Seq("band", "sig"))
      tks.unpersist()
      if (mhPairs <= TimedRunCap) {
        val (mhOut, mhSec) = timed(DedupQueries.minhashLsh(spark, dir).count())
        rows += (("dedup_minhash_lsh", tag, n, mhPairs, mhOut, mhSec))
      } else rows += (("dedup_minhash_lsh", tag, n, mhPairs, -1L, -1.0))

      // simhash: band-group pair count (the join input), then the public op
      val sims = DedupQueries.simhash(spark, dir)
      val bandPairs = groupPairs(
        DedupQueries.simhashBands(sims, hammingMax = 10), Seq("lang", "band", "key"))
      if (bandPairs <= TimedRunCap) {
        val (shOut, shSec) = timed(DedupQueries.simhashLsh(spark, dir).count())
        rows += (("dedup_simhash_lsh", tag, n, bandPairs, shOut, shSec))
      } else rows += (("dedup_simhash_lsh", tag, n, bandPairs, -1L, -1.0))

      // ngram-dup coverage: no pair join at all (gram-keyed aggs + a linear
      // equi-join), so the growth story is wall-clock — it must track rows,
      // not rows^2; "candidate pairs" has no analog here
      val (ngOut, ngSec) = timed(graft.ops.TextQueries.ngramDup(spark, dir).count())
      rows += (("text_ngram_dup", tag, n, -1L, ngOut, ngSec))

      // bloom incremental dedup: the "candidate" metric is the confirm
      // join's input (bloom-probable delta rows). This corpus has NO exact
      // cross-source duplicates (planted dups are near-dups), so probable
      // hits are pure false positives — the count must stay ~0 at any
      // scale while dedup_incremental's join input would be the whole delta
      val probed = DedupQueries.bloomProbed(spark, dir)
        .agg(count(lit(1)).as("delta"), sum(expr("IF(maybe, 1, 0)")).as("maybe")).head()
      val (blOut, blSec) = timed(DedupQueries.dedupBloom(spark, dir).count())
      rows += (("dedup_bloom", tag, probed.getLong(0), probed.getLong(1), blOut, blSec))

      // winnowed fingerprint overlap: candidate metric = the pair join's
      // input, sum of C(df, 2) over fingerprints (after the hot-fp cap) —
      // must track true shared-run pairs, not docs^2
      val wfps = graft.ops.TextQueries.winnow(spark, dir)
        .select(col("doc_id"), col("fp"))
        .withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
        .filter(col("df") <= 50) // the kernel's pinned hot-fp cap
        .select(col("doc_id"), col("fp"))
      val wCand = groupPairs(wfps, Seq("fp"))
      val (wOut, wSec) = timed(graft.ops.TextQueries.winnowPairs(spark, dir).count())
      rows += (("text_winnow_pairs", tag, n, wCand, wOut, wSec))

      // the TIGHT hot-fp dial (df <= 10): the cap's payoff measured —
      // candidate growth must drop toward the output's near-linear rate
      // (the pinned 50 is inert on small corpora; 10 actually bites)
      val wfpsTight = graft.ops.TextQueries.winnow(spark, dir)
        .select(col("doc_id"), col("fp"))
        .withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
        .filter(col("df") <= 10)
        .select(col("doc_id"), col("fp"))
      val wCandTight = groupPairs(wfpsTight, Seq("fp"))
      val (wtOut, wtSec) = timed(
        graft.ops.TextQueries.winnowPairs(spark, dir, maxDocFreq = 10).count())
      rows += (("text_winnow_pairs[df<=10]", tag, n, wCandTight, wtOut, wtSec))

      // substring extraction: candidate metric = the anchor self-join's
      // input, C(position rows, 2) per capped fingerprint; output = maximal
      // extracted runs (planted predecessor-copies share long prefixes, so
      // the output tracks the planted pair count)
      val ssPos = graft.ops.TextQueries.winnowPositionsFrom(
        graft.ops.Tables(spark, dir, "documents"))
      val ssKeptFps = ssPos.select(col("doc_id"), col("fp")).distinct()
        .groupBy(col("fp")).agg(count(lit(1)).as("ddf"))
        .filter(col("ddf") <= 50) // the kernel's distinct-doc cap
      val ssCand = groupPairs(ssPos.join(ssKeptFps, Seq("fp")), Seq("fp"))
      val (ssOut, ssSec) = timed(DedupQueries.dedupSubstringFrom(
        graft.ops.Tables(spark, dir, "documents")).count())
      rows += (("dedup_substring", tag, n, ssCand, ssOut, ssSec))

      // paragraph dedup and bigram LM scoring: pure groupBy/window shuffles
      // keyed on segment/bigram strings — no candidate stage, so wall-clock
      // must track rows, not rows^2
      val (pgOut, pgSec) = timed(DedupQueries.dedupParagraph(spark, dir).count())
      rows += (("dedup_paragraph", tag, n, -1L, pgOut, pgSec))
      val (lmOut, lmSec) = timed(graft.ops.TextQueries.lmScore(spark, dir).count())
      rows += (("text_lm_score", tag, n, -1L, lmOut, lmSec))
    }

    // --- relationalize wide-fan-out arm ---------------------------------
    // The flagship transform's one unmeasured scale risk: the TABLE COUNT
    // is data-dependent (the reference keeps per-table writer state,
    // relationalize.py:74-75; SURVEY §7 flags per-table job explosion on
    // wide fan-out). Synthetic docs nest ONE scalar array under path
    // p<id%T>, so pass 1 discovers T+1 tables. Measured per (rows, T):
    //   - build wall: emit + schema infer + ONE partitionBy(table) parquet
    //     materialization (the wide-fan-out prescription — N tables never
    //     cost N scans of the input);
    //   - consume wall: count EVERY discovered table (T+1 pruned reads);
    //   - schema footprint: total serialized schema bytes — the ONLY
    //     driver/executor state that grows with T (the per-partition map
    //     is additionally capped by RelationalizeSpark.SchemaMapCap).
    // Claims: build wall ~linear in rows and ~flat in T at fixed rows;
    // consume wall ~linear in T (it runs T+1 jobs) but each pruned read
    // touches only its table's files; schema bytes linear in T (KBs),
    // independent of rows.
    if (want("rel")) {
      val relRows = 200000L
      def fanoutDocs(n: Long, t: Int) =
        spark.range(n).selectExpr(
          s"""concat('{"k":', id, ',"p', pmod(id, $t), '":[', pmod(id, 7), ',', pmod(id, 5), ']}') AS doc""")
          .as(org.apache.spark.sql.Encoders.STRING)
      def runFanout(tag: String, n: Long, t: Int, filesPerTable: Int): Unit = {
        val path = s"$base/relfan-$tag"
        val fpt = if (filesPerTable > 0) s",fpt=$filesPerTable" else ""
        val (res, buildSec) = timed {
          val r = graft.relationalize.RelationalizeSpark(fanoutDocs(n, t), "d",
            graft.relationalize.RelationalizeOptions(materializePath = Some(path),
              materializeFilesPerTable = filesPerTable))
          r.schemas.size // schemas are already collected; force nothing else
          r
        }
        val schemaBytes = res.schemas.valuesIterator.map(_.serialize.length.toLong).sum
        rows += ((s"rel_build[T=$t$fpt]", tag, n, schemaBytes, res.tables.size.toLong, buildSec))
        val (total, consumeSec) = timed {
          res.tables.valuesIterator.map(_.count()).sum
        }
        rows += ((s"rel_consume[T=$t$fpt]", tag, n, schemaBytes, total, consumeSec))
      }
      Seq(10, 100, 1000).foreach(t => runFanout(s"1x-T$t", relRows, t, 0))
      runFanout("10x-T1000", relRows * 10, 1000, 0)
      // the wide-fan-out mitigation: one salted shuffle bounds the write at
      // filesPerTable files per table — the build wall must drop back to
      // the T=100 neighborhood and stay linear in rows
      runFanout("1x-T1000-fpt", relRows, 1000, 1)
      runFanout("10x-T1000-fpt", relRows * 10, 1000, 1)
    }

    // --- streaming state-store growth arm --------------------------------
    // The batch families have scale curves; the multi-batch gate rows
    // assert >= 3 micro-batches but never measure STATE vs batch count.
    // Claim: the minhash bucket-anchor kernel's state is CORPUS-bound (one
    // (anchor, n) entry per distinct (band, sig) bucket — 32 buckets per
    // doc), not batch-bound: the SAME corpus split into 3/30/300
    // micro-batches must end at the SAME state-row count, with wall-clock
    // growing only by per-batch commit overhead. Columns repurposed:
    // candidate = final state rows, output = state memory bytes.
    if (want("stream")) {
      val dir = s"$base/1x"
      genDocuments(spark, 5000L, dir) // self-contained when run alone
      val docs = graft.ops.Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      Seq(3, 30, 300).foreach { nFiles =>
        val fileOf = ntile(nFiles).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))) - 1
        val (batches, stateRows, stateMem, wall) =
          graft.streaming.StreamingGate.stateGrowthProbe(docs, fileOf, nFiles) {
            st => graft.streaming.StreamingDedup.minhashCandidates(st).toDF()
          }
        rows += ((s"stream_minhash_state[N=$nFiles,b=$batches]", "1x", 5000L,
          stateRows, stateMem, wall))
      }
    }

    // --- the rich-vocabulary jaccard arm --------------------------------
    // The PPJoin kernel on the corpus shape it was built for: a
    // dictionary vocabulary with a LINEAR planted near-dup minority (one
    // pair per five keys). Candidate column = the prefix+length survivors
    // (the verification join's input — the count
    // dedup_jaccard_rich_stats hash-gates on testdata); output = verified
    // true pairs, which must read 10x at 10x keys. Two vocabulary
    // regimes, both honest:
    //   - V fixed (the catalog's 2048): postings per token grow with the
    //     corpus, so candidates trend ~n^2/V — the dictionary-saturation
    //     regime any token-keyed prefix join has;
    //   - V ∝ n (shingle-like — real PPJoin features are n-grams whose
    //     space grows with the corpus): postings per token stay flat and
    //     candidates must track the LINEAR output.
    if (want("rich")) docScales.foreach { case (tag, n) =>
      val keys = n / 10 // two docs per key: corpus ~n/5 docs
      Seq(("V=2048", graft.ops.TextQueries.RichVocab),
          ("V~n", (graft.ops.TextQueries.RichVocab * keys / 500).toInt)).foreach {
        case (vtag, v) =>
          val dir = s"$base/rich-$tag-$vtag"
          spark.range(1, keys + 1).selectExpr("id AS c_custkey")
            .write.mode("overwrite").parquet(s"$dir/customer.parquet")
          val docs = graft.ops.TextQueries.richCorpus(spark, dir, vocab = v)
          val st = DedupQueries.dedupJaccardPrefixStatsFrom(docs).head()
          val (out, sec) = timed(
            DedupQueries.dedupJaccardPrefixFrom(
              graft.ops.TextQueries.richCorpus(spark, dir, vocab = v)).count())
          rows += ((s"dedup_jaccard_rich[$vtag]", tag, st.getLong(0),
            st.getLong(2), out, sec))
      }
    }

    // --- graph ops (derived-edge workloads) -----------------------------
    // PageRank: per-round cost = one join against the once-partitioned
    // edge frame + a rank-vector shuffle (one long of state per node), so
    // wall-clock must track the EDGE count; triangles: the degree
    // orientation caps per-node path fan-out at O(sqrt E), so the closing
    // join's input tracks edges, never sum(deg^2). Candidate column = the
    // derived co-occurrence edge count.
    if (want("graph")) docScales.foreach { case (tag, n) =>
      val dir = s"$base/graph-$tag"
      genGraphOrders(spark, n, dir)
      val li = graft.ops.Tables(spark, dir, "lineitem")
      val edgeCount = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") =!= col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .distinct().count()
      val (prOut, prSec) = timed(graft.ops.IterativeQueries.pagerank(spark, dir).count())
      rows += (("q_pagerank", tag, n, edgeCount, prOut, prSec))
      // directed variant: same once-partitioned-edges round structure plus
      // a 1-row dangling-mass aggregate and the convergence-materializing
      // count per round — wall-clock must track edges like the symmetric arm
      val (pdOut, pdSec) = timed(
        graft.ops.IterativeQueries.pagerankDirected(spark, dir).count())
      rows += (("q_pagerank_directed", tag, n, edgeCount, pdOut, pdSec))
      val (trOut, trSec) = timed(graft.ops.IterativeQueries.triangles(spark, dir).count())
      rows += (("q_triangles", tag, n, edgeCount, trOut, trSec))
      // k-core: each peeling round is two semi joins against the survivor
      // frame over the once-partitioned edges — per-round cost tracks
      // edges, round count is data-dependent but capped
      val (kcOut, kcSec) = timed(graft.ops.IterativeQueries.kcore(spark, dir).count())
      rows += (("q_kcore", tag, n, edgeCount, kcOut, kcSec))
    }

    if (want("emb")) embScales.foreach { case (tag, n) =>
      val dir = s"$base/$tag"
      for ((label, cfg) <- Seq(
          ("dedup_embedding_lsh[16x3,c>=0.4]", EmbeddingLshConfig()),
          ("dedup_embedding_lsh[4x12,c>=0.9]", EmbeddingLshConfig(bands = 4, minCosine = 0.9)))) {
        val (result, e, bands) = DedupQueries.dedupEmbeddingLshPlan(spark, dir, cfg)
        val cand = groupPairs(bands, Seq("label", "band", "key"))
        if (cand <= TimedRunCap) {
          val (out, sec) = timed(result.count())
          rows += ((label, tag, n, cand, out, sec))
        } else rows += ((label, tag, n, cand, -1L, -1.0))
        e.unpersist(); bands.unpersist()
      }
      val (ivfOut, ivfSec) = timed(SimilarityQueries.annIvf(spark, dir).count())
      rows += (("ann_ivf", tag, n, -1L, ivfOut, ivfSec))
      // PQ has no candidate stage either: codebook Lloyd is bounded
      // (subspaces x codes), encode is map-side, and ADC scans the encoded
      // corpus once per query batch — wall-clock growth IS its story
      val (pqOut, pqSec) = timed(SimilarityQueries.annPq(spark, dir).count())
      rows += (("ann_pq", tag, n, -1L, pqOut, pqSec))
      // IVF-PQ: the ADC scan is PRUNED to the probed buckets (~probes/k of
      // the corpus), so its wall-clock growth should undercut plain PQ's as
      // the corpus grows — that pruning ratio is the point of the compose
      val (ipqOut, ipqSec) = timed(SimilarityQueries.annIvfPq(spark, dir).count())
      rows += (("ann_ivfpq", tag, n, -1L, ipqOut, ipqSec))
      // CC resolution over the embedding pair stream at the production-like
      // tight config (cos >= 0.9: pair set == planted dups — the loose
      // catalog default admits a quadratic share of RANDOM pairs on this
      // corpus, the same threshold property the LSH rows above quantify).
      // Planted dups are (id-1, id) pairs — tiny components — so the
      // doubling loop's round count must stay CONSTANT as the corpus grows;
      // wall-clock growth is the pair build plus per-round job overhead
      val (ccOut, ccSec) = timed(DedupQueries.embDupClusters(spark, dir,
        EmbeddingLshConfig(bands = 4, minCosine = 0.9)).count())
      rows += (("emb_dup_clusters[4x12,c>=0.9]", tag, n, -1L, ccOut, ccSec))
    }

    // --- 100x sweep -----------------------------------------------------
    // Only the two claims whose 10x evidence the round-6 verdict wanted
    // extended: dedup_bloom (confirm-join input must stay ~0 as the delta
    // grows 100x) and ann_ivfpq (wall-clock sub-linear in the corpus; plain
    // ann_pq runs alongside as the unpruned contrast). Documents 500k /
    // embeddings 200k — the other arms' growth stories are settled at 10x
    // and some (quadratic-threshold configs) would not fit the sandbox.
    val dir100 = s"$base/100x"
    if (want("100x")) {
    // rich jaccard at TWO decades, vocabulary scaling with the corpus —
    // the shingle-like regime must stay linear at 100x too
    locally {
      val keys = 50000L // 100k docs
      val v = (graft.ops.TextQueries.RichVocab * keys / 500).toInt
      val dir = s"$base/rich-100x-Vn"
      spark.range(1, keys + 1).selectExpr("id AS c_custkey")
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      val st = DedupQueries.dedupJaccardPrefixStatsFrom(
        graft.ops.TextQueries.richCorpus(spark, dir, vocab = v)).head()
      val (out, sec) = timed(
        DedupQueries.dedupJaccardPrefixFrom(
          graft.ops.TextQueries.richCorpus(spark, dir, vocab = v)).count())
      rows += (("dedup_jaccard_rich[V~n]", "100x", st.getLong(0),
        st.getLong(2), out, sec))
    }
    genDocuments(spark, 500000L, dir100)
    val probed100 = DedupQueries.bloomProbed(spark, dir100)
      .agg(count(lit(1)).as("delta"), sum(expr("IF(maybe, 1, 0)")).as("maybe")).head()
    val (bl100Out, bl100Sec) = timed(DedupQueries.dedupBloom(spark, dir100).count())
    rows += (("dedup_bloom", "100x", probed100.getLong(0), probed100.getLong(1), bl100Out, bl100Sec))

    val wfps100 = graft.ops.TextQueries.winnow(spark, dir100)
      .select(col("doc_id"), col("fp"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .filter(col("df") <= 50)
      .select(col("doc_id"), col("fp"))
    val wCand100 = groupPairs(wfps100, Seq("fp"))
    if (wCand100 <= TimedRunCap) {
      val (w100Out, w100Sec) = timed(graft.ops.TextQueries.winnowPairs(spark, dir100).count())
      rows += (("text_winnow_pairs", "100x", 500000L, wCand100, w100Out, w100Sec))
    } else rows += (("text_winnow_pairs", "100x", 500000L, wCand100, -1L, -1.0))

    // the tight dial's payoff at 100x: candidate count under df <= 10
    val wfps100Tight = graft.ops.TextQueries.winnow(spark, dir100)
      .select(col("doc_id"), col("fp"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .filter(col("df") <= 10)
      .select(col("doc_id"), col("fp"))
    val wCand100Tight = groupPairs(wfps100Tight, Seq("fp"))
    if (wCand100Tight <= TimedRunCap) {
      val (wt100Out, wt100Sec) = timed(
        graft.ops.TextQueries.winnowPairs(spark, dir100, maxDocFreq = 10).count())
      rows += (("text_winnow_pairs[df<=10]", "100x", 500000L, wCand100Tight, wt100Out, wt100Sec))
    } else rows += (("text_winnow_pairs[df<=10]", "100x", 500000L, wCand100Tight, -1L, -1.0))

    genEmbeddings(spark, 200000L, dir100)
    val (pq100Out, pq100Sec) = timed(SimilarityQueries.annPq(spark, dir100).count())
    rows += (("ann_pq", "100x", 200000L, -1L, pq100Out, pq100Sec))
    val (ipq100Out, ipq100Sec) = timed(SimilarityQueries.annIvfPq(spark, dir100).count())
    rows += (("ann_ivfpq", "100x", 200000L, -1L, ipq100Out, ipq100Sec))
    }

    println("| path | scale | rows | candidate pairs | output pairs | sec |")
    println("|---|---|---|---|---|---|")
    rows.foreach { case (path, tag, n, cand, out, sec) =>
      val c = if (cand < 0) "-" else cand.toString
      println(f"| $path | $tag | $n | $c | $out | $sec%.2f |")
    }
    spark.stop()
  }
}
