package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 pins: the larger BPE merge tables, byte-level BPE, the GPT-2
  * pre-tokenizer, filtered vector search, CG training, the PNG codec, soft
  * dedup weights and the substring-extraction memoization. (Its directed
  * PageRank pins live in PagerankSpec.)
  */
class Round9Spec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // --- BPE at the larger merge table ----------------------------------------

  test("BPE learn: a 256-merge ask terminates at corpus exhaustion, prefix-stable over the 64 table") {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    val full = BpeTokenizer.learnFrom(docs, nMerges = 256).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    // the 31-word corpus cannot sustain 256 merges: the loop must exit on
    // the empty-argmax exhaustion signal, not run the full round budget
    assert(full.size < 256 && full.size >= BpeTokenizer.NMerges,
      s"expected exhaustion in [${BpeTokenizer.NMerges}, 256), got ${full.size} merges")
    val m64 = BpeTokenizer.learnFrom(docs, nMerges = BpeTokenizer.NMerges).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(full.take(BpeTokenizer.NMerges) == m64,
      "greedy BPE must be prefix-stable: the 256-ask's first 64 merges differ from the 64-ask")
    // at exhaustion every corpus word has fully merged into ONE symbol
    // (no same-symbol adjacent pairs exist in this vocabulary)
    val words = docs.selectExpr(s"explode(${Tokenize.Whitespace.sql("text")}) AS w")
      .distinct()
    val subs = BpeTokenizer.applyWords(words, full.map(_._2)).collect()
    assert(subs.nonEmpty && subs.forall(_.getInt(1) == 1),
      s"unmerged words at exhaustion: ${subs.filter(_.getInt(1) > 1).map(_.getString(0)).toSeq}")
  }

  test("doc_pack_bpe: the 64-merge table visibly tightens pack budgets vs the round-8 24-merge prefix") {
    val budget = 256L
    def nPacks(merges: Seq[String]): Long = {
      val docs = Tables(spark, dir, "documents")
      val tok = docs.selectExpr("doc_id", "lang",
        s"explode(${Tokenize.Whitespace.sql("text")}) AS w")
      val nTok = tok
        .join(BpeTokenizer.applyWords(tok.select(col("w")).distinct(), merges), Seq("w"))
        .groupBy(col("doc_id"), col("lang")).agg(sum(col("n_sub")).as("n_tok"))
      CurationQueries.packTokens(nTok, budget)
        .select(col("lang"), col("pack_id")).distinct().count()
    }
    val full = nPacks(BpeTokenizer.PinnedMerges)
    val prefix24 = nPacks(BpeTokenizer.PinnedMerges.take(24))
    // more merges -> fewer subwords per word -> the same budget holds more
    // documents -> strictly fewer packs: the vocabulary scale-up is LIVE in
    // the curation dial, not a cosmetic constant
    assert(full < prefix24,
      s"64-merge packs ($full) must undercut the 24-merge prefix ($prefix24)")
    // and the dial itself differs from the chars/4 heuristic (BPE counts
    // real subwords, which on this corpus EXCEED the len/4 underestimate)
    def nPacksHeur(): Long =
      CurationQueries.packSequences(spark, dir, budget)
        .select(col("lang"), col("pack_id")).distinct().count()
    assert(full != nPacksHeur(), "BPE dial indistinguishable from chars/4")
  }

  // --- byte-level BPE fallback ------------------------------------------------

  test("byte-level BPE on ASCII equals char-level learning with hex-spelled symbols") {
    val docs = Tables(spark, dir, "documents")
    def hexSym(sym: String): String =
      sym.getBytes("UTF-8").map("%02x".format(_)).mkString
    val n = BpeTokenizer.ByteMerges
    val chars = BpeTokenizer.learnFrom(docs, n).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val bytes = BpeTokenizer.learnBytesFrom(docs, n).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // fixed-width lowercase hex is order-isomorphic to ASCII (and ' ' stays
    // minimal), so the greedy sequence — ranks, pair counts, tie-breaks —
    // must be IDENTICAL under the symbol respelling
    val expected = chars.map { case (r, pair, cnt) =>
      (r, pair.split(" ", -1).map(hexSym).mkString(" "), cnt)
    }
    assert(bytes.toSeq == expected.toSeq,
      s"byte-level diverged from hex-respelled char-level:\n${bytes.take(5).toSeq}\nvs\n${expected.take(5).toSeq}")
  }

  test("byte-level BPE splits multi-byte characters where char-level cannot") {
    import spark.implicits._
    val docs = Seq((1L, "café café naïve café naïve café"))
      .toDF("doc_id", "text")
    val words = Seq("café", "naïve").toDF("w")
    // with an inert merge table: byte alphabet length = octet_length (é and
    // ï are 2 UTF-8 bytes), char alphabet length = character count
    val byteLens = BpeTokenizer.applyWordsBytes(words, Seq("ff ff"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(byteLens("café") == 5 && byteLens("naïve") == 6,
      s"byte alphabet must count UTF-8 bytes: $byteLens")
    val charLens = BpeTokenizer.applyWords(words, Seq("ff ff"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(charLens("café") == 4 && charLens("naïve") == 5)
    // and the learned byte merges CROSS the multi-byte boundary: the full
    // table converges both words to single symbols
    val learned = BpeTokenizer.learnBytesFrom(docs, 32).collect().map(_.getString(1)).toSeq
    val merged = BpeTokenizer.applyWordsBytes(words, learned)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(merged.values.forall(_ == 1),
      s"full byte-merge table must converge the two words: $merged")
  }

  // --- GPT-2-style pre-tokenizer ------------------------------------------------

  test("pretokenize: contraction/space/digit classes and losslessness on constructed text") {
    import spark.implicits._
    // 'naïve' in quotes: the bare/closing quote pieces must land in
    // n_other, NOT n_contraction (the full-shape classifier)
    val text = "don't stop  the 42 cats, won't he said 'naïve' 3.14xyz"
    // independent expectation: walk the same pattern with java.util.regex
    val m = java.util.regex.Pattern.compile(TextQueries.Gpt2PretokenPattern).matcher(text)
    val expected = Iterator.continually(m.find()).takeWhile(identity)
      .map(_ => m.group()).toSeq
    assert(expected.mkString("") == text, "the pattern must cover the text losslessly")
    assert(expected.contains("'t") && expected.contains("  ") &&
      expected.contains(" 42") && expected.contains("'"),
      s"fixture should exercise every class: $expected")
    val row = TextQueries.pretokenizeFrom(Seq((1L, text)).toDF("doc_id", "text"))
      .collect().head
    val nContr = expected.count(_.matches("'(?:s|t|re|ve|m|ll|d)"))
    assert(nContr == 2 && expected.count(_.startsWith("'")) > nContr,
      "fixture must separate true contractions from quote punctuation")
    assert(row.getInt(1) == expected.size, s"n_pieces ${row.getInt(1)} != ${expected.size}")
    assert(row.getInt(2) == nContr, "n_contraction")
    assert(row.getInt(3) == expected.count(p =>
      p.dropWhile(_ == ' ').headOption.exists(_.isLetter) && !p.startsWith("'")), "n_alpha")
    assert(row.getInt(4) == expected.count(_.matches(" ?\\p{N}+")), "n_num")
    assert(row.getInt(5) == expected.count(_.matches("\\s+")), "n_space")
    assert(row.getInt(6) == row.getInt(1) - row.getInt(2) - row.getInt(3) - row.getInt(4) - row.getInt(5))
    assert(row.getInt(7) == 1, "losslessness flag")
  }

  test("GPT-2-shaped tokenization: leading-space pieces merge into single tokens") {
    import spark.implicits._
    // the real-GPT-2 signature the whitespace tables cannot show: the
    // space byte travels inside the piece and merges into the word
    val subs = BpeTokenizer.applyWordsBytes(
        Seq("join", " join", " scan", "  ").toDF("w"), BpeTokenizer.PinnedByteMerges)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(subs("join") == 1 && subs(" join") == 1 && subs(" scan") == 1,
      s"pinned byte merges must converge space-prefixed pieces: $subs")
    // same-symbol pairs are excluded from merging (the data-parallel
    // restriction), so a pure-space piece stays at its byte count
    assert(subs("  ") == 2, s"'  ' (20 20) must not merge: $subs")
    // end to end: pre-tokenizer + byte merges count 1 token per word
    // occurrence, leading space included
    val out = BpeTokenizer.gpt2TokensFrom(
        Seq((1L, "join join join")).toDF("doc_id", "text"))
      .collect().map(r => (r.getInt(1), r.getLong(2))).head
    assert(out == ((3, 3L)), s"'join join join' must be 3 pieces -> 3 tokens: $out")
  }

  // --- filtered vector search --------------------------------------------------

  test("ann_filtered: every hit is eligible, and the filter visibly changes the ranking") {
    val en = Tables(spark, dir, "documents").filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val filtered = SimilarityQueries.annFiltered(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(filtered.nonEmpty && filtered.forall(r => en.contains(r._2)),
      "a non-'en' neighbor leaked through the pre-filter")
    val brute = SimilarityQueries.annBruteForce(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(!filtered.forall(brute.contains),
      "the predicate should exclude at least one unfiltered top-5 neighbor on this corpus")
  }

  // --- conjugate-gradient training ------------------------------------------

  test("CG-8 beats GD-32: strictly lower normal-equation residual from the same statistics") {
    val docs = Tables(spark, dir, "documents")
    def residual(row: org.apache.spark.sql.Row): Double = {
      val m = row.getAs[scala.collection.Seq[scala.collection.Seq[Long]]]("m")
      val bv = row.getAs[scala.collection.Seq[Long]]("bv")
      val w = row.getAs[scala.collection.Seq[Double]]("w")
      math.sqrt(m.indices.map { i =>
        val ri = m(i).indices.map(k => m(i)(k).toDouble * w(k)).sum - bv(i)
        ri * ri
      }.sum)
    }
    val gd = residual(QualityTrain.trainChainFrom(docs).collect().head)
    val cg = residual(QualityTrain.trainCgChainFrom(docs).collect().head)
    assert(cg < gd,
      s"8 CG rounds must land below 32 preconditioned-GD steps: cg=$cg vs gd=$gd")
    assert(cg.isFinite && cg >= 0)
  }

  // --- real PNG decode --------------------------------------------------------

  test("mm_decode: payloads are genuine PNG files and the decoded raster is byte-exact") {
    // the CATALOG's own grid builder — the round trip below must return
    // exactly what mm_decode's pipeline feeds the encoder
    val grids = MultimodalQueries.pixelGrids(spark, dir)
    val rasters = grids.collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getAs[Array[Byte]](3))).toMap
    val pngs = MultimodalQueries.encodePngs(grids).collect()
    val magic = Array(0x89, 'P', 'N', 'G').map(_.toByte)
    pngs.foreach { r =>
      val bytes = r.getAs[Array[Byte]](1)
      assert(bytes.take(4).sameElements(magic),
        s"doc ${r.getLong(0)}: encode did not produce a PNG container")
    }
    import spark.implicits._
    val decoded = MultimodalQueries.decodePngs(
        pngs.map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq.toDF("doc_id", "png"))
      .collect()
    assert(decoded.length == rasters.size)
    decoded.foreach { r =>
      val (w, h, raster) = rasters(r.getLong(0))
      assert(r.getInt(1) == w && r.getInt(2) == h,
        s"doc ${r.getLong(0)}: decoder dims ${r.getInt(1)}x${r.getInt(2)} != ${w}x$h")
      assert(r.getAs[Array[Byte]](4).sameElements(raster),
        s"doc ${r.getLong(0)}: decoded luma differs from the encoded raster")
      assert(r.getLong(3) == raster.map(b => (b & 0xff).toLong).sum,
        s"doc ${r.getLong(0)}: sum_luma mismatch")
    }
  }

  // --- real resize ------------------------------------------------------------

  test("mm_resize_real: box means independently recomputed from the source rasters") {
    val rasters = MultimodalQueries.pixelGrids(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getAs[Array[Byte]](3))).toMap
    val rows = MultimodalQueries.mediaResizeReal(spark, dir).collect()
    assert(rows.length == rasters.size)
    rows.foreach { r =>
      val (w, h, raster) = rasters(r.getLong(0))
      def px(x: Int, y: Int): Long = raster(y * w + x) & 0xffL
      val (w2, h2) = (w / 2, h / 2)
      assert(r.getInt(1) == w2 && r.getInt(2) == h2,
        s"doc ${r.getLong(0)}: resized dims ${r.getInt(1)}x${r.getInt(2)} != ${w2}x$h2")
      val expectedSum = (for (y <- 0 until h2; x <- 0 until w2) yield
        (px(2 * x, 2 * y) + px(2 * x + 1, 2 * y) +
          px(2 * x, 2 * y + 1) + px(2 * x + 1, 2 * y + 1)) / 4).sum
      assert(r.getLong(3) == expectedSum,
        s"doc ${r.getLong(0)}: sum_rluma ${r.getLong(3)} != $expectedSum")
    }
  }

  // --- soft dedup weights ------------------------------------------------------

  test("doc_dedup_weights: per-cluster mass sums to 1, singletons weigh 1") {
    val rows = CurationQueries.dedupWeights(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (c, members) =>
      val size = members.head._3
      assert(members.length == size, s"cluster $c: size column $size != ${members.length}")
      assert(members.forall(_._4 == 1.0 / size))
      // expected epoch mass of the whole duplicate group = one copy
      assert(math.abs(members.map(_._4).sum - 1.0) < 1e-9, s"cluster $c mass != 1")
    }
    assert(rows.exists(_._3 == 1L) && rows.filter(_._3 == 1L).forall(_._4 == 1.0),
      "singletons must carry weight exactly 1.0")
  }

  // --- substring memoization ------------------------------------------------

  test("substring family: rewrite reuses the memoized extraction (values identical, one extraction)") {
    val runs1 = DedupQueries.dedupSubstring(spark, dir).collect().toSet
    val runs2 = DedupQueries.dedupSubstring(spark, dir).collect().toSet
    assert(runs1 == runs2 && runs1.nonEmpty, "memoized replay diverged")
    // the rewrite built on the memoized runs must equal the from-scratch path
    val viaMemo = DedupQueries.dedupSubstringRewrite(spark, dir)
      .collect().map(_.toSeq).toSet
    val scratch = DedupQueries.dedupSubstringRewriteFrom(
      DedupQueries.overlapCorpus(spark, dir)).collect().map(_.toSeq).toSet
    assert(viaMemo == scratch, "memoized rewrite diverged from the direct pipeline")
  }
}
