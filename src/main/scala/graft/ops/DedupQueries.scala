package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents`, the LLM-pipeline workhorses:
  *
  *   - exact dedup: hash-groupBy on a normalized fingerprint;
  *   - n-gram Jaccard near-dup: token-postings self-join with integer
  *     cross-multiplied thresholds (exact, no float drift);
  *   - MinHash: k=32 signatures over 3-shingles, banded LSH (8 bands x 4),
  *     candidate pairs verified with exact shingle Jaccard;
  *   - SimHash: 32-bit signatures with banded hamming-neighbor pairing.
  *
  * The hash is portable (first 60 bits of md5 as BIGINT) so DuckDB oracles can
  * re-derive signatures exactly; modular arithmetic stays below 2^63 (DuckDB
  * errors on BIGINT overflow, Spark wraps — avoid the divergence entirely).
  *
  * Scale notes (100 TB posture): exact dedup and MinHash are single-shuffle
  * groupBys on bounded-size keys; the LSH band join shuffles only
  * (band, signature) pairs — candidate pairs, not all pairs. The plain-Jaccard
  * postings join is the quadratic baseline; its blocking key (lang) bounds the
  * blow-up and it exists to *oracle-check* the approximate paths.
  */
object DedupQueries {

  /** Portable 60-bit hash of a string expression (same value in DuckDB's
    * `CAST('0x'||substr(md5(x),1,15) AS BIGINT)`): the custom codegen'd
    * [[graft.functions.Hash60]] expression — one digest, no hex-string
    * round-trip, stays inside whole-stage codegen. Callers must
    * [[graft.functions.GraftFunctions.registerAll]] first.
    */
  private def h(sqlExpr: String): String = s"hash60($sqlExpr)"

  private val P = 1000000007L // modulus: keeps a*h'+b under 2^63
  /** Deterministic per-hash-function coefficients (i = 0..31). */
  private def aCoef(i: Int): Long = 2 * i + 1
  private def bCoef(i: Int): Long = 10007L * (i + 1)

  private val toks = Tokenize.Whitespace.sql("text") // pinned dial (see Tokenize)
  /** Word 3-shingles, distinct, from a materialized `tks` token-array
    * attribute — never from a textual split, which would land inside a
    * lambda and re-run per shingle. The codegen'd `graft_ngrams` builds the
    * windows in one tight loop (identical space-join semantics to the
    * interpreted `transform(sequence)/concat_ws` chain it replaces, incl.
    * the short-doc empty-array guard — OptimizationR13Spec pins it).
    */
  private val shinglesFromTks = "array_distinct(graft_ngrams(tks, 3))"

  // --- exact ------------------------------------------------------------

  /** Exact dedup: group by normalized-text fingerprint, keep the smallest
    * doc_id (deterministic survivor), count the group.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    dedupExactFrom(Tables(s, dir, "documents"))

  /** The exact-dedup kernel over any frame with (doc_id, text).
    *
    * `nfc = true` canonicalizes Unicode byte forms before fingerprinting
    * (the engine's codegen'd `nfc_normalize`) — required on a real
    * multilingual crawl where precomposed and decomposed forms of the same
    * text would otherwise never merge (see `text_nfc_dedup`). The pinned
    * catalog default is `false`: the ASCII corpus is NFC-invariant and the
    * oracle fingerprint stays byte-for-byte; Round7Spec ("dedupExact nfc
    * dial" / "nfc_normalize") pins that both settings agree on ASCII and
    * that only `nfc = true` merges constructed mixed-form docs.
    */
  def dedupExactFrom(docs: DataFrame, nfc: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.registerAll(docs.sparkSession)
    val canon = if (nfc) "nfc_normalize(text)" else "text"
    docs
      .selectExpr("doc_id",
        s"md5(CAST(regexp_replace(lower(trim($canon)), '[${Tokenize.WsClassSql}]+', ' ') AS BINARY)) AS fp")
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
  }

  // --- segment-level (paragraph) exact dedup ----------------------------

  /** Segment-level exact dedup — the CCNet/RefinedWeb "paragraph dedup"
    * pass: split every document into consecutive [[SegWords]]-word
    * segments, drop each segment whose text appeared earlier in the corpus
    * (first occurrence by (doc_id, seg_idx) wins — the same keep-first rule
    * as [[dedupExact]]), and reassemble the surviving text in order.
    * The testdata corpus has no newlines, so "paragraph" = fixed word
    * window; on real corpora the splitter expression is the only line that
    * changes. (Reference scope: tulip/relationalize has no curation ops —
    * this extends the dedup family per the build brief.)
    *
    * Scale shape: one hash-groupBy on the segment string — the keep-first
    * winner falls out of the same partial-aggregated `min(struct)`, so
    * there is NO join back to the corpus and NO window over it — then one
    * groupBy on doc_id to reassemble. Documents whose every segment was
    * seen earlier vanish (fully-duplicated docs), which is exactly the
    * boilerplate-removal semantics the pass exists for.
    */
  val SegWords = 10
  def dedupParagraph(s: SparkSession, dir: String, segWords: Int = SegWords): DataFrame =
    dedupParagraphFrom(Tables(s, dir, "documents"), segWords)

  /** The segment-dedup kernel over any frame with (doc_id, text). */
  def dedupParagraphFrom(docs: DataFrame, segWords: Int = SegWords): DataFrame = {
    require(segWords >= 1, "segWords must be >= 1")
    graft.functions.GraftFunctions.registerAll(docs.sparkSession)
    // tokens behind an expression barrier: written textually, the split
    // lands INSIDE the slice lambda and re-runs per segment (interpreted
    // HOF — no codegen CSE); the barrier pins one split per row
    val segs = docs
      .selectExpr("doc_id", s"graft_barrier($toks) AS tks")
      .selectExpr(
        "doc_id",
        s"posexplode(transform(" +
          s"sequence(0, CAST(ceil(size(tks) / CAST($segWords AS DOUBLE)) AS INT) - 1), " +
          s"i -> array_join(slice(tks, i * $segWords + 1, $segWords), ' '))) AS (seg_idx, seg)")
    segs.groupBy(col("seg"))
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.seg_idx").as("seg_idx"), col("seg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(seg_idx, seg))), x -> x.seg), ' ')")
          .as("text_kept"))
  }

  // --- incremental (delta-vs-base) exact dedup ---------------------------

  /** Incremental exact dedup — the shape a continuously-ingesting corpus
    * actually runs: dedup a NEW batch (the delta) against an
    * already-deduplicated base without rescanning the base's text. The base
    * is touched only through its fingerprint column (in production, a
    * materialized fingerprint store); here base = `source = 'src0'`, delta
    * = everything else, on the same [[dedupExact]] fingerprint.
    *
    * Each delta doc is classified: `dup_base` (fingerprint already in the
    * base — survivor is the base keeper), `new` (first occurrence of its
    * fingerprint within the delta), or `dup_delta` (a later within-delta
    * copy — survivor is the delta's first). Scale shape: the delta is
    * shuffled ONCE on the fingerprint — the within-delta keep-first window
    * and the left join against the base reuse the same hash partitioning
    * (PlanSpec pins one Exchange on the delta side) — and the base side
    * moves only (fp, keeper) pairs, never text.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame =
    dedupIncrementalFrom(Tables(s, dir, "documents"), baseSource = "src0")

  /** The incremental-dedup kernel over any frame with (doc_id, source, text). */
  def dedupIncrementalFrom(docs: DataFrame, baseSource: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fp = docs.selectExpr(
      "doc_id", "source",
      s"md5(CAST(regexp_replace(lower(trim(text)), '[${Tokenize.WsClassSql}]+', ' ') AS BINARY)) AS fp")
    val base = fp.filter(col("source") === baseSource)
      .groupBy(col("fp")).agg(min(col("doc_id")).as("base_keeper"))
    fp.filter(col("source") =!= baseSource)
      .withColumn("first_in_delta", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .join(base, Seq("fp"), "left")
      .selectExpr(
        "doc_id", "fp",
        """CASE WHEN base_keeper IS NOT NULL THEN 'dup_base'
          |     WHEN doc_id = first_in_delta THEN 'new'
          |     ELSE 'dup_delta' END AS status""".stripMargin,
        "coalesce(base_keeper, first_in_delta) AS keeper")
  }

  // --- bloom-filter (delta-vs-base) membership dedup ----------------------

  /** Bloom-gated incremental dedup — the 100 TB variant of
    * [[dedupIncremental]]: instead of shuffling the whole delta against the
    * base fingerprint store, the base is collapsed into ONE bloom sketch
    * (Spark's own `BloomFilterAggregate` — mergeable partials, so only
    * sketch bytes cross the wire, never base rows) and every delta row is
    * probed MAP-SIDE via a scalar subquery. Rows the bloom rejects are
    * definitively new (no false negatives) and never enter any join; only
    * the probable hits — the true dups plus the bloom's false-positive
    * sliver — are confirmed with an exact equi-join against the base
    * fingerprints. On a fresh crawl where most documents are new, the join
    * input collapses from |delta| to |dups| + epsilon.
    *
    * The output is EXACT (false positives are eliminated by the confirm
    * join), so the DuckDB oracle is a plain membership test with no bloom at
    * all. Bloom keys are `hash60(fp)` (the probe side only accepts BIGINT);
    * a 60-bit key collision could only ever ADD a false positive, which the
    * confirm join removes.
    */
  private val bloomCte =
    """WITH base AS (
      |  SELECT DISTINCT fp FROM graft_bloom_fp WHERE source = 'src0'),
      |probed AS (
      |  SELECT doc_id, fp,
      |    graft_might_contain(
      |      (SELECT graft_bloom_agg(hash60(fp), 1000000L, 8000000L) FROM base),
      |      hash60(fp)) AS maybe
      |  FROM graft_bloom_fp WHERE source <> 'src0')
      |""".stripMargin

  private def bloomFpView(s: SparkSession, dir: String): Unit = {
    graft.functions.GraftFunctions.registerAll(s)
    Tables(s, dir, "documents").selectExpr(
      "doc_id", "source",
      s"md5(CAST(regexp_replace(lower(trim(text)), '[${Tokenize.WsClassSql}]+', ' ') AS BINARY)) AS fp")
      .createOrReplaceTempView("graft_bloom_fp")
  }

  def dedupBloom(s: SparkSession, dir: String): DataFrame = {
    bloomFpView(s, dir)
    s.sql(bloomCte +
      """SELECT doc_id, fp, 'new' AS status FROM probed WHERE NOT maybe
        |UNION ALL
        |SELECT p.doc_id, p.fp,
        |  CASE WHEN b.fp IS NOT NULL THEN 'dup_base' ELSE 'new' END AS status
        |FROM (SELECT doc_id, fp FROM probed WHERE maybe) p
        |LEFT JOIN base b ON p.fp = b.fp""".stripMargin)
  }

  /** Growth-harness instrumentation: the raw probed delta (doc_id, fp,
    * maybe) — `sum(maybe)` is the confirm join's input size, the number that
    * must track TRUE duplicates (+ the bloom's FP sliver), never delta size.
    */
  private[graft] def bloomProbed(s: SparkSession, dir: String): DataFrame = {
    bloomFpView(s, dir)
    s.sql(bloomCte + "SELECT doc_id, fp, maybe FROM probed")
  }

  // --- exact n-gram Jaccard --------------------------------------------

  /** Unigram-Jaccard near-dup pairs within a language block.
    * jaccard >= 0.5 is tested as 2*|A∩B| >= |A∪B| — pure integers.
    */
  def dedupJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .selectExpr("doc_id", "lang", s"array_distinct($toks) AS tset")
    val sizes = docs.selectExpr("doc_id", "lang", "size(tset) AS sz")
    val postings = docs.selectExpr("doc_id", "lang", "explode(tset) AS tok")
    val inter = postings.as("a")
      .join(postings.as("b"),
        col("a.lang") === col("b.lang") && col("a.tok") === col("b.tok") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("sa.sz") + col("sb.sz") - col("inter")).as("union_sz"))
      .filter(col("inter") * 2 >= col("union_sz"))
      .withColumn("jaccard", col("inter").cast("double") / col("union_sz"))
  }

  // --- MinHash + LSH ----------------------------------------------------

  /** Per-doc MinHash signatures (first 8 of the 32 hash functions exposed;
    * enough to oracle-check the signature math).
    */
  /** Tokenized docs behind a persist barrier. Inside a `transform` lambda an
    * outer expression like `element_at(split(...), i)` re-evaluates the full
    * regex split PER ELEMENT (the alias is inlined by CollapseProject), so
    * shingle construction must read tokens from a materialized attribute.
    * Returns (shingles frame, the persisted tokens frame for the caller's
    * [[Lifecycle]] release).
    */
  private def shingled(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val tks = Tables(s, dir, "documents")
      .selectExpr("doc_id", s"$toks AS tks")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (tks.selectExpr("doc_id", s"$shinglesFromTks AS shs"), tks)
  }

  def minhashSignatures(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    // hash each shingle ONCE, then derive every signature from the hash array
    val sigCols = (0 until 8).map { i =>
      s"array_min(transform(hs, x -> pmod(${aCoef(i)}L * x + ${bCoef(i)}L, ${P}L))) AS mh_$i"
    }
    val (shs, tks) = shingled(s, dir)
    val hs = shs
      .selectExpr("doc_id", s"transform(shs, sh -> pmod(${h("sh")}, ${P}L)) AS hs")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // barrier: md5 once, not 8x
    Lifecycle.released(hs.selectExpr("doc_id" +: sigCols: _*), hs, tks)
  }

  /** MinHash-LSH banding configuration: `k` total minhash functions split
    * into `bands` of `k / bands` consecutive rows. More bands (fewer rows
    * each) = higher candidate recall and more verification work; the
    * defaults (8x4 over k=32) target J >= 0.2 on 3-gram shingles.
    * Splitting a band in two can only ADD candidates (a matching 4-row key
    * implies both 2-row sub-keys match), so tightening the dial never
    * silently loses pairs — pinned by the superset spec.
    */
  final case class MinHashConfig(k: Int = 32, bands: Int = 8) {
    require(k > 0 && bands > 0 && k % bands == 0, "bands must divide k")
    def rows: Int = k / bands
  }

  /** MinHash-LSH candidate pairs, verified with exact shingle Jaccard.
    * Bands of `cfg.rows` consecutive minhashes (`cfg.bands` bands over
    * `cfg.k`); a pair is a candidate if any band matches; verification
    * keeps jaccard >= 0.2 (5 * inter >= union via integers) regardless of
    * banding, so the config tunes recall/cost, never the pair predicate.
    */
  def minhashLsh(s: SparkSession, dir: String, cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    // Signatures in long format: explode shingles, hash once (codegen'd
    // Hash60), then ONE partial-aggregated groupBy computing all 32 minima --
    // no interpreted higher-order lambdas in the hot path, and the shuffle
    // carries only (doc_id, 32 longs) after map-side combine. Docs with no
    // shingles drop out, which is correct here: they cannot be candidates.
    val (shs, tks) = shingled(s, dir)
    val docs = shs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = minhashCandidatesFrom(docs, cfg)
    val sets = docs
    // one hash pass per pair (codegen'd ArrayOverlap) instead of separate
    // array_intersect + array_union materializations; shs may carry
    // duplicate shingles — the overlap's distinct-set semantics match the
    // intersect/union builtins exactly. Barrier: evaluated once, not per
    // consumer field (CollapseProject).
    val verified = candidates
      .join(sets.as("pa"), col("doc_a") === col("pa.doc_id"))
      .join(sets.as("pb"), col("doc_b") === col("pb.doc_id"))
      .selectExpr("doc_a", "doc_b", "graft_barrier(graft_overlap(pa.shs, pb.shs)) AS o")
      .selectExpr("doc_a", "doc_b", "o.inter AS inter", "o.union_sz AS union_sz")
      .filter(col("inter") * 5 >= col("union_sz"))
    Lifecycle.released(verified, docs, tks)
  }

  /** Band rows (doc_id, band, sig): one row per doc per band via the stack
    * generator.
    */
  private def minhashBands(sigs: DataFrame, cfg: MinHashConfig): DataFrame = {
    val stackArgs = (0 until cfg.bands).map { b =>
      val key = (0 until cfg.rows).map(j => s"CAST(mh_${cfg.rows * b + j} AS STRING)").mkString(", ")
      s"$b, concat_ws(',', $key)"
    }.mkString(", ")
    sigs.selectExpr("doc_id", s"stack(${cfg.bands}, $stackArgs) AS (band, sig)")
  }

  /** Distinct candidate pairs of the MinHash-LSH band join over a shingled
    * frame (doc_id, shs) — the pre-verification stage. Shared by
    * [[minhashLsh]].
    */
  private[graft] def minhashCandidatesFrom(
      shs: DataFrame, cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val bands = minhashBandRows(shs, cfg)
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Stateless band rows (doc_id, band, sig) straight from (doc_id, text)
    * — per-row expressions only, NO aggregation, so the same code runs
    * unchanged inside a streaming micro-batch (a groupBy signature build
    * would be a second stateful operator there). Batch equivalence with
    * [[minhashBandRows]] is spec-pinned: array_min over the per-doc hash
    * array computes the same minima as the exploded partial-agg groupBy
    * (the batch path keeps the groupBy because map-side combine beats
    * per-row lambdas on large corpora).
    */
  private[graft] def bandRowsStateless(
      docs: DataFrame, cfg: MinHashConfig = MinHashConfig()): DataFrame =
    minhashBands(statelessSigs(docs, cfg), cfg)

  /** Per-row signature build shared by the stateless band-row variants. */
  private def statelessSigs(docs: DataFrame, cfg: MinHashConfig): DataFrame = {
    graft.functions.GraftFunctions.registerAll(docs.sparkSession)
    val sigCols = (0 until cfg.k).map { i =>
      s"array_min(transform(hs, x -> pmod(${aCoef(i)}L * x + ${bCoef(i)}L, ${P}L))) AS mh_$i"
    }
    docs
      // stateless (streaming-safe) twin of [[shingled]]: no persist allowed,
      // so the one-split-per-row guarantee comes from the expression barrier
      .selectExpr("doc_id", s"graft_barrier($toks) AS tks")
      .selectExpr("doc_id", s"$shinglesFromTks AS shs")
      .filter("size(shs) > 0")
      .selectExpr("doc_id", s"transform(shs, sh -> pmod(${h("sh")}, ${P}L)) AS hs")
      .selectExpr("doc_id" +: sigCols: _*)
  }

  /** [[bandRowsStateless]] carrying the FULL signature array alongside each
    * band row — the streaming in-stream verifier stores it as bucket state
    * (k longs per bucket) to estimate Jaccard without keeping any text.
    */
  private[graft] def bandRowsStatelessWithSig(
      docs: DataFrame, cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val stackArgs = (0 until cfg.bands).map { b =>
      val key = (0 until cfg.rows).map(j => s"CAST(mh_${cfg.rows * b + j} AS STRING)").mkString(", ")
      s"$b, concat_ws(',', $key)"
    }.mkString(", ")
    statelessSigs(docs, cfg).selectExpr("doc_id",
      s"array(${(0 until cfg.k).map("mh_" + _).mkString(", ")}) AS mhs",
      s"stack(${cfg.bands}, $stackArgs) AS (band, sig)")
  }

  /** Band rows of the MinHash-LSH stage over a shingled frame — exposed so
    * the growth-curve harness can count band-group collision pairs (the
    * candidate join's input cost) without materializing the join.
    */
  private[graft] def minhashBandRows(
      shs: DataFrame, cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val postings = shs
      .selectExpr("doc_id", "explode(shs) AS sh")
      .selectExpr("doc_id", s"pmod(${h("sh")}, ${P}L) AS x")
    val aggs = (0 until cfg.k).map(i =>
      min(expr(s"pmod((2 * $i + 1) * x + 10007 * ($i + 1), $P)")).as(s"mh_$i"))
    val sigs = postings.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    minhashBands(sigs, cfg)
  }

  /** Shingled documents frame for the growth-curve harness (caller releases
    * the returned persisted tokens frame).
    */
  private[graft] def shingledDocs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.registerAll(s)
    shingled(s, dir)
  }

  // --- exact n-gram Jaccard, prefix-filtered (the scale path) -----------

  /** Jaccard near-dup pairs via prefix filtering (AllPairs/PPJoin family):
    * identical output to [[dedupJaccard]], but the candidate join touches
    * only each document's *prefix* tokens instead of every posting.
    *
    * Order all tokens by global document frequency ascending (rarest first,
    * token string as tiebreak). For Jaccard >= 0.5 a document of n tokens
    * needs only its first `n - ceil(0.5 n) + 1 = floor(n/2) + 1` tokens in
    * the posting index: any qualifying pair must share a token inside both
    * prefixes (prefix-filtering principle). Stopwords have maximal df, so
    * they sort to the END of every order and never enter a prefix unless a
    * document is mostly stopwords — exactly the doc-frequency pruning that
    * keeps hot posting keys from going quadratic at 100 TB.
    *
    * Shuffle structure: one groupBy for df (bounded by vocabulary), one
    * window by doc_id to rank tokens, the candidate equi-join on (lang,
    * prefix token), then a verification join on the two doc ids.
    */
  def dedupJaccardPrefix(s: SparkSession, dir: String): DataFrame =
    dedupJaccardPrefixFrom(Tables(s, dir, "documents"))

  /** The PPJoin kernel over any (doc_id, lang, text) frame. */
  def dedupJaccardPrefixFrom(docsIn: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.registerAll(docsIn.sparkSession)
    val (docs, candidates) = jaccardPrefixCandidates(docsIn)
    val verified = jaccardVerified(docs, candidates)
      .filter(col("inter") * 2 >= col("union_sz"))
      .withColumn("jaccard", col("inter").cast("double") / col("union_sz"))
    Lifecycle.released(verified, docs)
  }

  /** The PPJoin front half, defined ONCE for the dedup entry, the stats
    * row, and the growth probe — so a measurement can never silently
    * diverge from the pipeline it claims to measure: the persisted
    * token-set frame plus the prefix+length candidate set (unpersisted —
    * single-consumer callers use it inline, the stats kernel persists it
    * for its two consumers).
    */
  private[graft] def jaccardPrefixCandidates(docsIn: DataFrame): (DataFrame, DataFrame) = {
    val docs = docsIn
      .selectExpr("doc_id", "lang", s"array_distinct($toks) AS tset")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val postings = docs.selectExpr("doc_id", "lang", "size(tset) AS sz", "explode(tset) AS tok")
    val dfreq = postings.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val ranked = postings.join(dfreq, "tok")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("df").asc, col("tok").asc)))
      .filter(col("rk") <= col("sz") / 2 + 1) // floor(n/2) + 1 prefix tokens
      .select(col("doc_id"), col("lang"), col("tok"), col("sz"))
    // PPJoin length filter, lossless for J >= 0.5: J = inter/union <=
    // min(|A|,|B|)/max(|A|,|B|), so a qualifying pair needs 2*min >= max —
    // prune size-incompatible candidates before the verification join
    val candidates = ranked.as("a")
      .join(ranked.as("b"),
        col("a.lang") === col("b.lang") && col("a.tok") === col("b.tok") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.sz") * 2 >= col("b.sz") && col("b.sz") * 2 >= col("a.sz"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    (docs, candidates)
  }

  /** The verification join over (docs, candidates): per pair, the exact
    * intersection and union sizes (pre-threshold). One hash pass per pair
    * via the codegen'd [[graft.functions.ArrayOverlap]] — the previous
    * spelling evaluated `array_intersect` twice (inter + union) and
    * materialized the intersection array just to size it. `tset` is
    * distinct, so |A|+|B|-inter == the overlap union — identical values.
    * The barrier keeps the struct evaluated once (CollapseProject would
    * otherwise substitute it into each consumer field/filter).
    */
  private[graft] def jaccardVerified(docs: DataFrame, candidates: DataFrame): DataFrame =
    candidates
      .join(docs.as("da"), col("doc_a") === col("da.doc_id"))
      .join(docs.as("db"), col("doc_b") === col("db.doc_id"))
      .selectExpr("doc_a", "doc_b", "graft_barrier(graft_overlap(da.tset, db.tset)) AS o")
      .selectExpr("doc_a", "doc_b",
        "CAST(o.inter AS BIGINT) AS inter",
        "CAST(o.union_sz AS BIGINT) AS union_sz")

  /** The PPJoin pipeline on the RICH-vocabulary arm
    * ([[TextQueries.richCorpus]]): with thousands of distinct words the
    * true pair set is the LINEAR planted minority (one near-dup pair per
    * five customer keys), not the quadratic blob the 31-word documents
    * corpus produces — the non-output-bound measurement ROADMAP's caveat
    * asked for.
    */
  def dedupJaccardRich(s: SparkSession, dir: String): DataFrame =
    dedupJaccardPrefixFrom(TextQueries.richCorpus(s, dir))

  /** The pruning measurement itself, one gate-checked row: documents,
    * same-block pair universe, candidates surviving the prefix+length
    * filter, and verified true pairs. On the rich arm candidates run ~2
    * orders of magnitude below the block universe while true pairs stay
    * linear — hash-gated proof the prefix index prunes rather than rides
    * an output-bound corpus. All counts exact integers; the three
    * aggregates are 1-row broadcast frames.
    */
  def dedupJaccardRichStats(s: SparkSession, dir: String): DataFrame =
    dedupJaccardPrefixStatsFrom(TextQueries.richCorpus(s, dir))

  /** The stats kernel over any (doc_id, lang, text) frame — also the
    * GrowthCurve "rich" arm's measurement probe.
    */
  private[graft] def dedupJaccardPrefixStatsFrom(docsIn: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.registerAll(docsIn.sparkSession)
    val (docs, cand) = jaccardPrefixCandidates(docsIn)
    val candidates = cand
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nTrue = jaccardVerified(docs, candidates)
      .filter(col("inter") * 2 >= col("union_sz"))
      .agg(count(lit(1)).as("n_true"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val nBlockPairs = docs.groupBy(col("lang")).agg(count(lit(1)).as("nb"))
      .agg(sum(expr("nb * (nb - 1) / 2")).cast("bigint").as("n_block_pairs"))
    val nCand = candidates.agg(count(lit(1)).as("n_candidates"))
    val out = broadcast(nDocs).crossJoin(broadcast(nBlockPairs))
      .crossJoin(broadcast(nCand)).crossJoin(broadcast(nTrue))
    Lifecycle.released(out, docs, candidates)
  }

  // --- embedding-cosine near-dup ---------------------------------------

  /** Embedding-cosine near-duplicate pairs, blocked by label (the coarse
    * cluster id): pairs with cosine >= 0.4 in the same block. Only the pair
    * ids are output — raw similarity doubles differ in the last bit between
    * engines (different accumulation grouping), the 0.4 decision does not.
    */
  private val dot = "vec_dot(a.v, b.v)"

  /** Per-vector norm, computed ONCE per vector in the projection BELOW the
    * pair join (the join boundary stops CollapseProject from inlining it per
    * pair). `vec_dot(v, v)` accumulates x*x in index order — bit-identical
    * to the interpreted fold it replaced — and runs codegen'd
    * ([[graft.functions.VecDot]]).
    */
  private val normOnce = "sqrt(vec_dot(v, v))"

  def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    val e = Tables(s, dir, "embeddings")
      .selectExpr("vec_id", "label", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .selectExpr("vec_id", "label", "v", s"$normOnce AS nv")
    e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .selectExpr("a.vec_id AS vec_a", "b.vec_id AS vec_b", "a.label AS label",
        s"$dot / (a.nv * b.nv) AS sim")
      .filter(col("sim") >= 0.4)
      .select(col("vec_a"), col("vec_b"), col("label"))
  }

  // --- embedding near-dup via random-hyperplane LSH (the scale path) ----

  private val RH_BITS = 48
  private val RH_BANDS = 16 // 3 bits per band

  /** Deterministic quantized hyperplanes: 48 x 64 integer weights in
    * [-500, 500], derived from the portable 60-bit hash so a DuckDB oracle
    * re-derives them bit-exactly (`hash60('rh:j:k') % 1001 - 500`,
    * nonnegative hash so `%` == `pmod`). Expressed as a GENERATOR over a
    * single broadcast row, not 3072 inline literals: the weights are computed
    * once at broadcast build, and the plan carries one compact expression
    * (bounded plan size — no `maxToStringFields` truncation).
    */
  private def rhWeightsDf(s: SparkSession, bits: Int): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    s.range(1).selectExpr(
      s"transform(sequence(0, ${bits - 1}), j -> transform(sequence(1, 64), " +
        "k -> pmod(hash60(concat('rh:', j, ':', k)), 1001) - 500)) AS ws")
  }

  /** Hyperplane-LSH banding + verification-threshold configuration.
    *
    * The pinned catalog default (48 bits in 16 bands of 3, cosine >= 0.4)
    * matches the loose oracle threshold: at theta = arccos(0.4) each sign
    * bit agrees with only p ~ 0.63, so recall needs narrow bands — and
    * narrow bands admit a large share of RANDOM pairs as candidates
    * (p_rand per 3-bit band = 1/8). Production near-dup thresholds
    * (cosine >= 0.9, p_bit ~ 0.86) take WIDE bands: e.g. 4 bands of 12 keeps
    * recall ~0.999 on true pairs while a random pair passes a band with
    * p = 2^-12 — the dial that makes the candidate set grow with the TRUE
    * pair count instead of n^2 (measured in ROADMAP's growth-curve table).
    *
    * THE DEFAULT IS A TEST-SCALE CONFIG: it exists so the catalog entry's
    * oracle can be the exact all-pairs truth (recall-complete at 0.4). A
    * corpus of real size must run [[ProdLshConfig]] — hash-pinned as its
    * own gate entry, `dedup_embedding_lsh_prod` ([[dedupEmbeddingLshProd]]).
    */
  final case class EmbeddingLshConfig(bits: Int = RH_BITS, bands: Int = RH_BANDS,
                                      minCosine: Double = 0.4) {
    require(bits > 0 && bits <= 60 && bands > 0 && bits % bands == 0,
      "bands must divide bits (<= 60)")
    require(minCosine > -1.0 && minCosine <= 1.0)
    def width: Int = bits / bands
  }

  /** Embedding near-dup pairs via random-hyperplane LSH + exact verification —
    * the scale-safe replacement for [[dedupEmbedding]]'s label-blocked
    * all-pairs join.
    *
    * Sign bits are computed on *quantized* vectors (`floor(x * 10000)` per
    * component) against integer hyperplanes, so the whole sketch is exact
    * 64-bit arithmetic: no float summation-order divergence between engines,
    * and the DuckDB oracle derives identical bits. 48 bits in 16 bands of 3
    * (narrow bands because the 0.4 verification threshold is loose — at
    * theta = arccos(0.4) each bit agrees with only p ~ 0.63); a pair is a
    * candidate if any band matches within its label block, then candidates
    * are verified with the exact cosine >= 0.4 predicate. This config
    * recovers 100% of the quadratic path's pairs on the test corpora; at production thresholds (cosine >=
    * 0.8-0.95, where p_bit = 1 - theta/pi approaches 1) the same structure
    * with wider bands prunes orders of magnitude — band width is the recall/
    * cost dial. The candidate join is an equi-join on (label, band, key):
    * shuffle-parallel, never a per-block cartesian.
    */
  def dedupEmbeddingLsh(s: SparkSession, dir: String,
                        cfg: EmbeddingLshConfig = EmbeddingLshConfig()): DataFrame = {
    val (result, e, bands) = dedupEmbeddingLshPlan(s, dir, cfg)
    Lifecycle.released(result, e, bands)
  }

  /** Lazy plan + the persisted barriers, for plan inspection and for
    * [[dedupEmbeddingLsh]]'s materialize-then-release wrapper.
    */
  private[graft] def dedupEmbeddingLshPlan(
      s: SparkSession, dir: String,
      cfg: EmbeddingLshConfig = EmbeddingLshConfig()): (DataFrame, DataFrame, DataFrame) =
    dedupEmbeddingLshFrom(
      Tables(s, dir, "embeddings")
        .selectExpr("vec_id", "label", "CAST(embedding AS ARRAY<DOUBLE>) AS v"),
      cfg)

  /** The LSH pipeline over an arbitrary (vec_id, label, v ARRAY<DOUBLE>)
    * corpus — shared by the default-dial entry (the natural embeddings
    * table) and [[dedupEmbeddingLshProd]] (the planted high-cosine corpus).
    */
  private[graft] def dedupEmbeddingLshFrom(
      corpus: DataFrame,
      cfg: EmbeddingLshConfig = EmbeddingLshConfig()): (DataFrame, DataFrame, DataFrame) = {
    val s = corpus.sparkSession
    graft.functions.GraftFunctions.registerAll(s)
    val e = corpus
      .selectExpr("vec_id", "label", "v",
        "transform(v, x -> CAST(floor(x * 10000) AS BIGINT)) AS q")
      .selectExpr("vec_id", "label", "v", "q", s"$normOnce AS nv") // once per vector, behind the persist
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // sign bits: the outer transform stays a (once-per-vector) lambda, but
    // each inner dot is the codegen-capable vec_dot — evaluated via its tight
    // eval loop instead of a zip_with allocation + interpreted fold per plane
    val bits =
      s"transform(sequence(0, ${cfg.bits - 1}), j -> CASE WHEN " +
        "vec_dot(q, element_at(ws, j + 1)) > 0 " +
        "THEN 1 ELSE 0 END)"
    val w = cfg.width
    val stackArgs = (0 until cfg.bands).map { bd =>
      val key = (0 until w)
        .map(i => s"element_at(b, ${w * bd + i + 1}) * ${1L << (w - 1 - i)}L").mkString(" + ")
      s"$bd, $key"
    }.mkString(", ")
    val bands = e
      .crossJoin(broadcast(rhWeightsDf(s, cfg.bits))) // 1-row weights: computed once, no shuffle
      .selectExpr("vec_id", "label", s"$bits AS b")
      .selectExpr("vec_id", "label", s"stack(${cfg.bands}, $stackArgs) AS (band, key)")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // barrier: all dot products once, not per join side
    val candidates = bands.as("x")
      .join(bands.as("y"),
        col("x.label") === col("y.label") && col("x.band") === col("y.band") &&
          col("x.key") === col("y.key") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    val verified = candidates
      .join(e.as("a"), col("vec_a") === col("a.vec_id"))
      .join(e.as("b"), col("vec_b") === col("b.vec_id"))
      .selectExpr("vec_a", "vec_b", "a.label AS label", s"$dot / (a.nv * b.nv) AS sim")
      .filter(col("sim") >= cfg.minCosine)
      .select(col("vec_a"), col("vec_b"), col("label"))
    (verified, e, bands)
  }

  /** The production near-dup dial, hash-pinned (round-11 verdict ask #2).
    *
    * [[EmbeddingLshConfig]]'s doc spells out why the catalog default
    * (16 bands of 3, cosine >= 0.4) is a TEST-SCALE recall-completeness
    * config whose candidate set is ~quadratic per label block — the dial a
    * 100 TB corpus must run is wide bands + a tight threshold. This entry
    * runs that config: 4 bands of 12 bits, cosine >= 0.9 (a random pair
    * passes a band with p = 2^-12, so candidates track the TRUE pair count —
    * the measured 100x growth row in ROADMAP). The natural embeddings
    * corpus has no pairs anywhere near 0.9 (max same-label cosine ~0.47 at
    * sf0.01), so the gate corpus plants one perturbed near-copy per
    * `vec_id % 4 == 0` vector at `vec_id + `[[ProdPlantOffset]]: component
    * k of the copy adds `(pmod(hash60('pl:<orig id>:<k>'), 21) - 10) /
    * 1000.0` — integer-derived doubles, so both engines build bit-identical
    * copies (cosine ~0.9998 against the original).
    *
    * At this dial LSH recall is a PROBABILISTIC claim (a planted pair whose
    * perturbation flips a bit in every band is legitimately missed), so the
    * oracle re-derives the FULL pipeline — quantization, hyperplane sign
    * bits, band keys, candidate equi-join, exact cosine verify — rather
    * than comparing against all-pairs truth: what is hash-pinned is the
    * production algorithm's exact output, misses included. (On the sf0.01
    * corpus the dial happens to recover all 125 planted pairs.)
    */
  def dedupEmbeddingLshProd(s: SparkSession, dir: String): DataFrame = {
    val (result, e, bands) = dedupEmbeddingLshFrom(
      prodPlantedCorpus(s, dir), ProdLshConfig)
    Lifecycle.released(result, e, bands)
  }

  /** One constant triple drives the Spark entry and the oracle SQL. */
  private[graft] val ProdLshConfig = EmbeddingLshConfig(bits = 48, bands = 4, minCosine = 0.9)
  private[graft] val ProdPlantOffset = 1000000L

  /** embeddings + one perturbed near-copy per `vec_id % 4 == 0` row. The
    * perturbation lambda references the ORIGINAL vec_id from an inner
    * projection — never aliased in the same select list, because lateral
    * column aliases shadow input columns (in BOTH engines) and would
    * silently perturb with the shifted id.
    */
  private def prodPlantedCorpus(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    val base = Tables(s, dir, "embeddings")
      .selectExpr("vec_id", "label", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
    // one scalar staging collect: a corpus whose ids reach the plant offset
    // would collide planted copies with real vectors — fail loudly
    val maxId = base.agg(coalesce(max(col("vec_id")), lit(-1L))).head().getLong(0)
    require(maxId < ProdPlantOffset,
      s"prodPlantedCorpus plants copies at vec_id + $ProdPlantOffset but max " +
        s"vec_id is $maxId — raise the offset for this scale factor")
    val pert = base.filter(col("vec_id") % 4 === 0)
      .selectExpr("vec_id", "label",
        "transform(sequence(1, 64), i -> element_at(v, i) + " +
          "CAST(pmod(hash60(concat('pl:', vec_id, ':', i)), 21) - 10 AS DOUBLE) / 1000.0) AS v")
      .selectExpr(s"vec_id + ${ProdPlantOffset}L AS vec_id", "label", "v")
    base.unionAll(pert)
  }

  // --- SimHash ----------------------------------------------------------

  /** 32-bit SimHash signature per document: bit j is the sign of the sum of
    * (2*bit_j(h(token)) - 1) over token *occurrences*.
    */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    val (sigs, ths) = simhashSigs(s, dir)
    Lifecycle.released(sigs, ths)
  }

  /** Lazy signature frame + the persisted token-hash barrier, for callers
    * that layer more joins on the signatures and release everything at once.
    */
  private def simhashSigs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.registerAll(s)
    val sig = "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, j) -> acc + " +
      s"CASE WHEN aggregate(ths, CAST(0 AS BIGINT), " +
      s"(c, x) -> c + 2L * pmod(CAST(floor(x / power(2, j)) AS BIGINT), 2L) - 1L) > 0 " +
      "THEN CAST(power(2, j) AS BIGINT) ELSE 0L END)"
    val ths = Tables(s, dir, "documents")
      .selectExpr("doc_id", "lang", s"transform($toks, t -> pmod(${h("t")}, ${P}L)) AS ths")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // barrier: md5 once, not 32x
    (ths.selectExpr("doc_id", "lang", s"$sig AS simhash"), ths)
  }

  /** SimHash near-dup pairs: hamming distance <= 10 within a language block. */
  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val (raw, ths) = simhashSigs(s, dir)
    val sigs = raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = sigs.as("a").join(sigs.as("b"),
        col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
      .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b",
        "CAST(bit_count(a.simhash ^ b.simhash) AS INT) AS hamming")
      .filter(col("hamming") <= 10)
    Lifecycle.released(pairs, sigs, ths)
  }

  /** SimHash near-dup pairs via multi-index banding (Manku-style) — the
    * scale-safe replacement for [[simhashPairs]]' per-language all-pairs
    * join, with *provably identical* output.
    *
    * The 32-bit signature is split into 11 adjacent bands (10 of 3 bits + 1
    * of 2). Pigeonhole: a pair within hamming distance 10 differs in at most
    * 10 bands, so at least one band is bit-identical — banding is a lossless
    * candidate filter for this threshold, and the candidate join is an
    * equi-join on (lang, band, key) instead of a per-block cartesian. At
    * production thresholds (64-bit fingerprints, hamming <= 3, Manku's
    * 4-block split) the same structure prunes far harder; the band count is
    * the exactness dial (bands > hamming threshold = exact).
    */
  def simhashLsh(s: SparkSession, dir: String, hammingMax: Int = 10): DataFrame = {
    require(hammingMax >= 0 && hammingMax < 32, "hammingMax must be in [0, 32)")
    val (raw, ths) = simhashSigs(s, dir)
    val sigs = raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = simhashBands(sigs, hammingMax)
    val candidates = bands.as("x")
      .join(bands.as("y"),
        col("x.lang") === col("y.lang") && col("x.band") === col("y.band") &&
          col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val verified = candidates
      .join(sigs.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sigs.as("b"), col("doc_b") === col("b.doc_id"))
      .selectExpr("doc_a", "doc_b",
        "CAST(bit_count(a.simhash ^ b.simhash) AS INT) AS hamming")
      .filter(col("hamming") <= hammingMax)
    Lifecycle.released(verified, sigs, ths)
  }

  /** Band rows (doc_id, lang, band, key) for [[simhashLsh]]'s candidate
    * equi-join. The mask is computed in Long arithmetic: at `hammingMax = 0`
    * the single band spans all 32 bits and an Int `1 << 32` would wrap to 1
    * (mask 0 — every key collapses to 0 and the "banding" silently becomes
    * the per-language all-pairs join it exists to avoid).
    */
  private[graft] def simhashBands(sigs: DataFrame, hammingMax: Int): DataFrame = {
    // pigeonhole needs hammingMax + 1 bands over the 32 signature bits; the
    // remainder bits widen the first bands (default 10: 10 bands of 3 + 1
    // of 2 — the pinned catalog layout)
    val nBands = hammingMax + 1
    val base = 32 / nBands
    val rem = 32 % nBands
    val widths = Seq.fill(rem)(base + 1) ++ Seq.fill(nBands - rem)(base)
    val offsets = widths.scanLeft(0)(_ + _)
    val stackArgs = (0 until nBands).map { b =>
      s"$b, shiftright(simhash, ${offsets(b)}) & ${(1L << widths(b)) - 1}L"
    }.mkString(", ")
    sigs.selectExpr("doc_id", "lang", s"stack($nBands, $stackArgs) AS (band, key)")
  }

  // --- near-dup cluster resolution (pairs -> components -> survivor) ----

  /** Connected components by min-label propagation PLUS pointer doubling.
    *
    * Every vertex starts labeled with its own id; each round every vertex
    * takes the min of (its label, its neighbors' labels) — then follows its
    * label pointer once more: label'(v) = min(label(v), label(label(v))).
    * The doubling step is what makes high-diameter components safe: plain
    * propagation moves the component min ONE hop per round (a near-dup
    * CHAIN of n docs = n rounds of full-graph shuffles at corpus scale),
    * while label-pointer chasing compresses paths multiplicatively, giving
    * O(log n) rounds on chains (spec-pinned: a 256-vertex path resolves in
    * <= 16 rounds, and the round count is part of the public result
    * contract via [[connectedComponentsWithRounds]]). Labels only ever
    * move to ids inside the same component, so the fixpoint is unchanged:
    * a stationary round implies label(u) = label(v) across every
    * (symmetric) edge AND label(label(v)) = label(v) — constant labels per
    * component, anchored at the component min, which keeps its own id.
    * A round that lowers no label is the fixpoint. No driver-side data:
    * loop control reads only a per-round 0/1 changed flag; labels stay
    * distributed. Each round is a self-cleaning shuffle pipeline (persist
    * the new generation, drop the old).
    *
    * Cache lifecycle: every intermediate generation and the symmetric edge
    * list are unpersisted before returning; the result is a checkpointed
    * final generation (reliable checkpoint when a checkpoint dir is set —
    * the right call on a real cluster where localCheckpoint blocks die with
    * executors — else a local checkpoint). Its truncated lineage references
    * no loop state, so no CACHED blocks leak across a long session. One
    * caveat on the reliable branch: the checkpoint FILES outlive the
    * DataFrame unless `spark.cleaner.referenceTracking.cleanCheckpoints`
    * is enabled (off by default) — a long-lived session invoking this
    * repeatedly should set that flag or prune its checkpoint dir.
    *
    * @param edges    undirected edge list, columns (src, dst) — one row per
    *                 direction is NOT required; symmetry is added here
    * @param vertices one column `id`; isolated vertices keep their own label
    * @return (id, label) with label = min id of the component
    */
  def connectedComponents(edges: DataFrame, vertices: DataFrame): DataFrame =
    connectedComponentsWithRounds(edges, vertices)._1

  /** Truncate lineage every N rounds: the doubling self-join embeds the
    * previous generation's plan TWICE, so without truncation the LOGICAL
    * plan (not the data) doubles per round and analysis time goes
    * exponential. Between truncations growth is bounded at 2^N copies of a
    * flat LogicalRDD-rooted plan. The same interval idea as GraphX/
    * GraphFrames' checkpointInterval.
    */
  private val CcCheckpointInterval = 3

  /** One label-propagation half-round: neighbor-label minimum, aggregated
    * BEFORE the union with the old labels. Below the dial the label vector
    * broadcasts, so the propagation join is map-side over the
    * once-partitioned edges AND its groupBy reuses the cached hash(dst)
    * partitioning — exchange-free; above the dial it is the two-level
    * aggregation (guide §2.5) that shrinks the union shuffle from
    * edge-bounded to node-bounded. `old` carries each vertex's PREVIOUS
    * label through the aggregation (min ignores the prop rows' nulls; a
    * vertex id is unique in `labels`) so the convergence check is a filter
    * on the new generation instead of a per-round join back. (min over
    * {old} ∪ {per-neighbor labels} = min over {old} ∪ {min of neighbor
    * labels}, so pre-aggregating prop cannot change the result.) The caller
    * persists the result — the doubling self-join consumes it twice.
    */
  private[graft] def ccPropagate(sym: DataFrame, labels: DataFrame,
      hinted: DataFrame => DataFrame): DataFrame = {
    val prop = sym.join(hinted(labels), sym("src") === labels("id"))
      .select(col("dst").as("id"), col("label"))
      .groupBy(col("id")).agg(min(col("label")).as("label"))
    val labelType = labels.schema("label").dataType
    labels.select(col("id"), col("label"), col("label").as("old"))
      .union(prop.select(col("id"), col("label"), lit(null).cast(labelType).as("old")))
      .groupBy(col("id")).agg(min(col("label")).as("label"), min(col("old")).as("old"))
  }

  /** Pointer doubling: label(label(v)) over a persisted [[ccPropagate]]
    * generation. Every label is a vertex id (it starts as one and only ever
    * becomes another vertex's label), but edges may reference ids outside
    * `vertices` — left join + coalesce keeps those rows intact instead of
    * dropping them. (Such outside ids have a null `old` in their first
    * generation: label < null is UNKNOWN, so they don't signal change that
    * round — the same semantics the old nextP-vs-labels join gave them.)
    * Below the dial the pointer side broadcasts — no doubling exchange.
    */
  private[graft] def ccDouble(viaNeighbors: DataFrame,
      hinted: DataFrame => DataFrame): DataFrame =
    viaNeighbors.as("x")
      .join(hinted(viaNeighbors.select(col("id").as("pid"), col("label").as("plabel")).as("p")),
        col("x.label") === col("p.pid"), "left")
      .select(col("x.id"),
        least(col("x.label"), coalesce(col("p.plabel"), col("x.label"))).as("label"),
        col("x.old").as("old"))

  /** [[connectedComponents]] plus the number of rounds the loop ran — the
    * observable the convergence specs pin (O(log n) on a path graph).
    */
  private[graft] def connectedComponentsWithRounds(edges: DataFrame, vertices: DataFrame,
      nodeCap: Long = IterativeQueries.BroadcastNodeCap): (DataFrame, Int) =
    Lifecycle.generations(edges.sparkSession) { g =>
      val sc = edges.sparkSession.sparkContext
      val (sym, touched, hinted) = ccPrepare(g, edges, vertices, nodeCap)
      var changed = 1L
      var rounds = 0
      while (changed > 0) {
        rounds += 1
        sc.setJobDescription(s"cc: round $rounds")
        // the propagated frame is a side barrier: the doubling self-join
        // reads it twice, and it retires with the predecessor
        val viaNeighbors = ccPropagate(sym, g.current, hinted)
        changed = g.advance(ccDouble(viaNeighbors, hinted),
            truncate = rounds % CcCheckpointInterval == 0, viaNeighbors)(
          _.filter(col("label") < col("old")).count())
      }
      sc.setJobDescription("cc: result")
      // singletons re-join here labeled with their own id — exactly the label
      // the loop would have computed for an edge-less vertex
      (g.released(g.current.union(
        vertices.select(col("id")).join(hinted(touched), Seq("id"), "left_anti")
          .select(col("id"), col("id").as("label")))), rounds)
    }

  /** [[connectedComponentsWithRounds]]' setup, shared with `PlanDump` and
    * the plan specs: returns the persisted symmetric edges, the persisted
    * touched-vertex set and the broadcast dial, and leaves generation 0 —
    * every touched vertex labelled with its own id — as `g.current`.
    */
  private[graft] def ccPrepare(g: Lifecycle.Generations, edges: DataFrame, vertices: DataFrame,
      nodeCap: Long = IterativeQueries.BroadcastNodeCap)
      : (DataFrame, DataFrame, DataFrame => DataFrame) = {
    // cached re-keyed on dst — the per-round neighbor-min aggregation key —
    // so the label-propagation groupBy below reuses the cached partitioning
    // (one build-time shuffle instead of an exchange per round: the
    // pagerank/kcore discipline, guide §2.4)
    val sym = g.persist(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("dst")))
    // Only edge-TOUCHED vertices enter the loop: a vertex with no edge can
    // never change its label, so it is its own (singleton) cluster by
    // construction and joins the result at the end. On a near-dup corpus
    // the touched set is the duplicate fraction — typically a few percent —
    // so every loop round shuffles the induced subgraph, not the corpus.
    // (`dst` distinct = `src` distinct — sym is symmetric — and the dst
    // spelling reuses the cached partitioning, so the distinct is
    // exchange-free.)
    val touched = g.persist(sym.select(col("dst").as("id")).distinct())
    // the label frames are touched-set bounded but surface as LogicalRDDs
    // (no stats), so the planner would sort-merge the full edge frame
    // against them EVERY round — the pagerank broadcast dial: below the cap
    // each round's propagation join is one map-side pass over the
    // once-partitioned edges and the doubling self-join broadcasts the
    // pointer side; above it — web-scale components — the joins fall back
    // to the shuffled form, where only the label vector moves.
    val hinted = IterativeQueries.dial(touched.count() <= nodeCap)
    // generation 0 starts truncated: the doubling join embeds the previous
    // generation's plan TWICE per round, so any non-trivial base plan (the
    // semi-join here) would compound 2^(rounds % interval)-fold into every
    // round's ANALYSIS cost — measured 4.8 s -> 12.6 s on the bench entry
    // before the re-wrap. Rounds read (id, label); `old` only feeds the
    // convergence check.
    g.start(vertices.select(col("id"))
        .join(hinted(touched), Seq("id"), "left_semi")
        .select(col("id"), col("id").as("label")),
      truncate = true, _.select(col("id"), col("label")))
    (sym, touched, hinted)
  }

  /** Near-dup cluster resolution — the step a production dedup runs after
    * any pair-emitting path: pairs -> connected components -> one
    * deterministic survivor per cluster. Edges come from the scale-safe
    * prefix-Jaccard join ([[dedupJaccardPrefix]]); every document gets a
    * cluster id (the component's min doc_id; singletons are their own
    * cluster) and the survivor is the min itself (keep-first-id rule, like
    * [[dedupExact]]).
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = dedupJaccardPrefix(s, dir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val vertices = Tables(s, dir, "documents").select(col("doc_id").as("id"))
    connectedComponents(pairs, vertices)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        (col("id") === col("label")).as("is_survivor"))
  }

  /** [[dedupClusters]] for SEMANTIC near-dups: the same connected-components
    * resolution over the embedding-LSH pair stream instead of the token-
    * Jaccard one — cross-paraphrase duplicate groups that share no surface
    * tokens. One pair source swap; the component machinery, survivor rule,
    * and recursive-CTE oracle pattern are identical.
    */
  def embDupClusters(s: SparkSession, dir: String,
                     cfg: EmbeddingLshConfig = EmbeddingLshConfig()): DataFrame = {
    val pairs = dedupEmbeddingLsh(s, dir, cfg)
      .select(col("vec_a").as("src"), col("vec_b").as("dst"))
    val vertices = Tables(s, dir, "embeddings").select(col("vec_id").as("id"))
    connectedComponents(pairs, vertices)
      .select(col("id").as("vec_id"), col("label").as("cluster_id"),
        (col("id") === col("label")).as("is_survivor"))
  }

  // --- exact-substring dedup (Lee et al. 2022 shape) ---------------------

  /** Constructed-overlap corpus for [[dedupSubstring]] — the `rel_*` /
    * `text_nfc_dedup` pattern: the synthetic `documents` table carries no
    * ground-truth shared substrings, so the corpus with KNOWN planted runs
    * is derived deterministically from `customer` inside the query and the
    * oracle re-derives it. Per key g, two documents (2g, 2g+1) share a
    * planted block of 4 + g%8 tokens at DIFFERENT offsets (prefix lengths
    * differ per side), plus a second 7-token block when g%4 = 0; g%5 = 0
    * puts a block at a document START and g%7 = 0 at a document END (the
    * extension-boundary edge cases). All non-shared tokens embed the
    * doc_id, so cross-document token equality happens ONLY inside planted
    * blocks — which makes the pure token-level oracle below exact.
    */
  private[graft] def overlapCorpus(s: SparkSession, dir: String): DataFrame =
    overlapCorpusGen(s, dir, OverlapNs1Sql, OverlapNs1Max)

  /** The default planted-block length rule (4–11 tokens) and its max —
    * shared with the oracle CTE builder so Spark corpus and DuckDB
    * re-derivation cannot drift.
    */
  private[graft] val OverlapNs1Sql = "4 + g % 8"
  private[graft] val OverlapNs1Max = 11

  /** LONG-run variant for the offline-exact streaming substring gate:
    * planted blocks of 30–50 tokens — longer than any small bounded-window
    * clip (k + 2·ctx at ctx = 8 clips at 19), so full-run extraction on
    * this corpus PROVES the online-pointer / offline-extend split removes
    * the window cap rather than happening to fit under it.
    */
  private[graft] val LongNs1Sql = "30 + g % 21"
  private[graft] val LongNs1Max = 50

  private[graft] def overlapLongCorpus(s: SparkSession, dir: String): DataFrame =
    overlapCorpusGen(s, dir, LongNs1Sql, LongNs1Max)

  /** The constructed-overlap corpus with a parameterized shared-block
    * length rule `ns1Sql` (max `ns1Max`) — see [[overlapCorpus]] for the
    * construction invariants (cross-document token equality ONLY inside
    * planted blocks; no in-region gram repeats).
    */
  private def overlapCorpusGen(s: SparkSession, dir: String,
      ns1Sql: String, ns1Max: Int): DataFrame =
    Tables(s, dir, "customer").selectExpr("c_custkey AS g")
      .selectExpr("g", "explode(array(0, 1)) AS side")
      .selectExpr("2 * g + side AS doc_id", "g",
        "CAST(CASE WHEN side = 0 THEN g % 5 ELSE 1 + g % 3 END AS INT) AS np",
        "CAST(CASE WHEN side = 0 THEN 2 ELSE 1 END AS INT) AS nm",
        "CAST(CASE WHEN side = 0 THEN 3 WHEN g % 7 = 0 THEN 0 ELSE 2 END AS INT) AS nq",
        s"CAST($ns1Sql AS INT) AS ns1",
        "CAST(CASE WHEN g % 4 = 0 THEN 7 ELSE 0 END AS INT) AS ns2")
      .selectExpr("doc_id",
        s"""array_join(concat(
          |  slice(transform(sequence(1, 4), i -> concat('d', doc_id, 'p', i)), 1, np),
          |  slice(transform(sequence(1, $ns1Max), j -> concat('s', g, 'x', j)), 1, ns1),
          |  slice(transform(sequence(1, 2), i -> concat('d', doc_id, 'm', i)), 1, nm),
          |  slice(transform(sequence(1, 7), j -> concat('s', g, 'y', j)), 1, ns2),
          |  slice(transform(sequence(1, 3), i -> concat('d', doc_id, 'q', i)), 1, nq)
          |), ' ') AS text""".stripMargin)

  /** Exact-substring dedup — the missing half of winnowed overlap
    * DETECTION ([[TextQueries.winnowPairs]]): EXTRACT the maximal shared
    * token runs themselves (Lee et al. 2022's exact-substring dedup,
    * approximated at bounded state by winnow-anchored extension instead of
    * a suffix array). Three stages, all equi-join/expression shaped:
    *
    *  1. anchors — winnowed fingerprints WITH positions
    *     ([[TextQueries.winnowPositionsFrom]]) equi-joined on the
    *     fingerprint (the LSH-band shape, with the same hot-fingerprint
    *     `maxDocFreq` cap as the pair join); each anchor asserts "doc A
    *     position i and doc B position j start the same k-gram".
    *  2. verify + extend — join both documents' token arrays back and, per
    *     anchor, (a) compare the anchor grams token-for-token (a 60-bit
    *     hash collision can only ADD an anchor; this removes it), then
    *     (b) extend left/right to the first mismatching token with one
    *     zip_with/array_position expression per direction — bounded
    *     per-pair work, no loop, no UDF.
    *  3. emit maximal runs — (doc_a, doc_b, start_a, start_b, run_len),
    *     distinct (every anchor inside one run extends to the same maximal
    *     run), filtered to `minLen`.
    *
    * With `minLen = k + w - 1` (the default), the winnowing guarantee makes
    * extraction COMPLETE on corpora whose shared regions contain no
    * internally-repeated k-gram: every maximal shared run of >= minLen
    * tokens contains a window selecting the same gram at the same offset
    * in both documents, so an aligned anchor exists and extension recovers
    * exactly the maximal run. (With in-region gram repeats the two sides
    * can select different occurrences — the anchor then recovers a
    * different, shorter-but-true shared run; emitted rows are verified
    * token runs in every case.) The catalog entry runs on
    * [[overlapCorpus]], whose construction guarantees the precondition, so
    * its DuckDB oracle needs NO winnowing at all: it derives the maximal
    * runs purely from token equality (diagonal gaps-and-islands) — the
    * hash-match is an end-to-end proof of the MOSS guarantee through the
    * whole anchor/extension pipeline.
    *
    * Scale shape: winnow + cap as in [[TextQueries.winnowPairsFrom]]; the
    * extension join touches only candidate anchors (never the pair cross
    * product), carries two token arrays per anchor row, and is linear in
    * the anchor count — the same "verify candidates against the raw text"
    * join every fuzzy path here already pays.
    */
  def dedupSubstringFrom(docs: DataFrame, k: Int = TextQueries.WinnowK,
      w: Int = TextQueries.WinnowW, minLen: Int = -1,
      maxDocFreq: Int = 50): DataFrame = {
    val (out, barriers) = dedupSubstringPlanFrom(docs, k, w, minLen, maxDocFreq)
    Lifecycle.released(out, barriers: _*)
  }

  /** Lazy twin for plan inspection: (result, persisted barriers) — callers
    * release the barriers themselves (the public entry checkpoints).
    */
  private[graft] def dedupSubstringPlanFrom(docs: DataFrame, k: Int = TextQueries.WinnowK,
      w: Int = TextQueries.WinnowW, minLen: Int = -1,
      maxDocFreq: Int = 50): (DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.storage.StorageLevel
    val minL = if (minLen > 0) minLen else k + w - 1
    require(k >= 1 && w >= 1 && minL >= k && maxDocFreq >= 1)
    val toksSql = Tokenize.Whitespace.sql("text")
    // both anchor sides and the df cap read the positions; both extension
    // sides read the token arrays — persist each once, release at the end
    val toksF = docs.selectExpr("doc_id", s"$toksSql AS tks")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sel = TextQueries.winnowPositionsFrom(docs, k, w)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val docFreq = sel.select(col("doc_id"), col("fp")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("df"))
    val kept = sel.join(docFreq.filter(col("df") <= maxDocFreq), Seq("fp"))
      .select(col("doc_id"), col("fp"), col("pos"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val anchors = kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
    (extendAnchors(anchors, toksF, k, minL), Seq(toksF, sel, kept))
  }

  /** The verify + extend + emit half of the substring kernel, factored so
    * the batch pipeline and the streaming-pointer OFFLINE resolution run
    * the IDENTICAL expressions: join both documents' token arrays onto the
    * anchor rows (doc_a, doc_b, pa, pb — 1-based gram starts), drop hash
    * collisions by comparing the anchor grams token-for-token, extend
    * left/right to the first mismatch, and emit distinct maximal runs of
    * at least `minL` tokens.
    */
  private[graft] def extendAnchors(anchors: DataFrame, toksF: DataFrame,
      k: Int, minL: Int): DataFrame =
    anchors
      .join(toksF.select(col("doc_id").as("doc_a"), col("tks").as("ta")), Seq("doc_a"))
      .join(toksF.select(col("doc_id").as("doc_b"), col("tks").as("tb")), Seq("doc_b"))
      .filter(s"slice(ta, pa, $k) = slice(tb, pb, $k)") // hash-collision guard
      .selectExpr("doc_a", "doc_b", "pa", "pb", "ta", "tb",
        // tokens matched scanning LEFT from the anchor: first mismatch in
        // the reversed prefixes; 0 mismatches found => the shorter prefix
        // matched entirely
        "coalesce(nullif(array_position(zip_with(" +
          "reverse(slice(ta, 1, pa - 1)), reverse(slice(tb, 1, pb - 1)), " +
          "(x, y) -> coalesce(x = y, false)), false), 0) - 1, least(pa, pb) - 1) AS ext_l",
        // and scanning RIGHT from the anchor's end
        s"coalesce(nullif(array_position(zip_with(" +
          s"slice(ta, pa + $k, size(ta)), slice(tb, pb + $k, size(tb)), " +
          s"(x, y) -> coalesce(x = y, false)), false), 0) - 1, " +
          s"least(size(ta) - pa, size(tb) - pb) - ${k - 1}) AS ext_r")
      .selectExpr("doc_a", "doc_b",
        "CAST(pa - ext_l AS INT) AS start_a",
        "CAST(pb - ext_l AS INT) AS start_b",
        s"CAST(ext_l + $k + ext_r AS INT) AS run_len")
      .filter(s"run_len >= $minL")
      .distinct()

  /** OFFLINE resolution for the streaming pointer kernel
    * ([[graft.streaming.StreamingDedup.substringPointerCandidates]]): the
    * pointers carry only (doc_a, doc_b, pos_a, pos_b) — verified-gram
    * coordinates with ZERO retained text — and this pass joins the corpus
    * store back and runs the batch verify+extend ([[extendAnchors]], the
    * same expressions as [[dedupSubstringFrom]]) to emit FULL maximal
    * runs. No window, no clip: run length is bounded only by the
    * documents themselves — the online-cheap / offline-exact split that
    * removes the bounded-window kernel's k + 2·ctx truncation.
    */
  def resolveSubstringPointers(pointers: DataFrame, docs: DataFrame,
      k: Int = TextQueries.WinnowK, w: Int = TextQueries.WinnowW,
      minLen: Int = -1): DataFrame = {
    val minL = if (minLen > 0) minLen else k + w - 1
    val toksF = docs.selectExpr("doc_id", s"${Tokenize.Whitespace.sql("text")} AS tks")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val anchors = pointers.selectExpr("doc_a", "doc_b",
      "pos_a AS pa", "pos_b AS pb")
    Lifecycle.released(extendAnchors(anchors, toksF, k, minL), toksF)
  }

  /** The extraction output is PAIR-COUNT-sized (one row per maximal shared
    * run), i.e. a KB–MB driver statistic at any tested scale — and three
    * catalog entries consume it (`dedup_substring` emits it,
    * `dedup_substring_rewrite` re-derives it to build the drop sets,
    * `dedup_substring_docs` runs the same chain on the natural corpus). The
    * PCA-chain discipline applies: collect ONCE per (session, dir, corpus,
    * params) and replay as a local relation — bit-identical rows, no cached
    * partitions, the rest of the family broadcasts the statistic. Kernels
    * over arbitrary frames keep calling [[dedupSubstringFrom]] directly.
    */
  private val substringMemo = new DriverMemo[(String, String, Int, Int, Int, Int)]

  /** Drop memoized extractions — call after regenerating data under an
    * already-extracted dir within one session (the
    * [[SimilarityQueries.pcaChainInvalidate]] twin; [[DriverMemo.invalidateAll]]
    * hits every family at once).
    */
  private[graft] def substringChainInvalidate(): Unit = substringMemo.invalidate()

  private def substringRunsCached(s: SparkSession, dir: String,
      corpus: String): DataFrame =
    substringMemo.cached(s,
        (dir, corpus, TextQueries.WinnowK, TextQueries.WinnowW, -1, 50)) {
      val docs = if (corpus == "overlap") overlapCorpus(s, dir)
                 else Tables(s, dir, "documents")
      dedupSubstringFrom(docs)
    }

  /** Catalog entry: extract every planted maximal shared run (>= k+w-1
    * tokens) from the constructed-overlap corpus. See [[dedupSubstringFrom]]
    * for why the oracle is pure token-level SQL.
    */
  def dedupSubstring(s: SparkSession, dir: String): DataFrame =
    substringRunsCached(s, dir, "overlap")

  /** The REMOVAL half — what extraction is for (Lee et al. 2022 cut the
    * duplicated spans out of the corpus): every extracted run is deleted
    * from the LATER document (doc_b — the `doc_a < doc_b` orientation makes
    * this the keep-first rule, like [[dedupExact]]), overlapping spans
    * union'd, and the survivors reassembled in order. Docs that only ever
    * appear as the EARLIER side keep their copy — exactly one copy of every
    * duplicated passage survives corpus-wide for pair-local runs.
    *
    * Scale shape: [[dedupSubstringFrom]]'s output is pair-count-sized; the
    * covered positions explode is bounded by removed tokens; the rewrite
    * itself is a LEFT join of the corpus against the per-doc drop sets and
    * a pure index-filter expression — one extra shuffle on doc_id, no
    * window, no per-token join.
    */
  def dedupSubstringRewriteFrom(docs: DataFrame, k: Int = TextQueries.WinnowK,
      w: Int = TextQueries.WinnowW, minLen: Int = -1,
      maxDocFreq: Int = 50): DataFrame =
    substringRewriteFromRuns(docs, dedupSubstringFrom(docs, k, w, minLen, maxDocFreq))

  /** The rewrite given an already-extracted runs frame — the catalog entry
    * feeds the memoized statistic here instead of re-running extraction.
    */
  private def substringRewriteFromRuns(docs: DataFrame, runs: DataFrame): DataFrame = {
    val drop = runs
      .selectExpr("doc_b AS doc_id",
        "explode(sequence(start_b, start_b + run_len - 1)) AS p")
      .distinct()
      .groupBy(col("doc_id")).agg(collect_set(col("p")).as("drop"))
    docs.selectExpr("doc_id", s"${Tokenize.Whitespace.sql("text")} AS tks")
      .join(drop, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "CAST(size(tks) AS INT) AS n_tokens",
        "CAST(CASE WHEN drop IS NULL THEN 0 ELSE size(drop) END AS INT) AS n_removed",
        "array_join(filter(tks, (t, i) -> drop IS NULL OR NOT array_contains(drop, i + 1)), ' ') AS text_clean")
  }

  /** Catalog entry: the constructed-overlap corpus rewritten with every
    * >= k+w-1-token duplicated span removed from its later document. Reuses
    * the memoized extraction ([[substringRunsCached]]) — the family pays
    * the winnow/anchor/extend pipeline once.
    */
  def dedupSubstringRewrite(s: SparkSession, dir: String): DataFrame =
    substringRewriteFromRuns(overlapCorpus(s, dir),
      substringRunsCached(s, dir, "overlap"))

  /** [[dedupSubstringFrom]] on the NATURAL `documents` corpus. The
    * constructed-corpus entry's pure token-level oracle proves the MOSS
    * COMPLETENESS guarantee; this one proves ALGORITHM equivalence where
    * that guarantee's precondition may not hold (real text can repeat a
    * k-gram inside a shared region, letting the two sides anchor different
    * occurrences): its DuckDB oracle re-runs the identical
    * winnow-positions -> df-cap -> anchor -> verify -> extend pipeline in
    * SQL, re-deriving hash60 from md5 hex bit-exactly. Every emitted row is
    * a token-verified true shared run on any corpus.
    */
  def dedupSubstringDocs(s: SparkSession, dir: String): DataFrame =
    substringRunsCached(s, dir, "documents")

  /** Public catalog: scale-safe paths only. The quadratic all-pairs
    * baselines live in [[oracleBaselines]] so a user browsing this map
    * cannot accidentally launch an all-pairs join over a 100 TB corpus.
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_clusters" -> dedupClusters,
    "emb_dup_clusters" -> ((s, dir) => embDupClusters(s, dir)),
    "dedup_exact" -> dedupExact,
    "dedup_paragraph" -> ((s, dir) => dedupParagraph(s, dir)),
    "dedup_incremental" -> dedupIncremental,
    "dedup_bloom" -> dedupBloom,
    "dedup_minhash_sig" -> minhashSignatures,
    "dedup_minhash_lsh" -> ((s, dir) => minhashLsh(s, dir)),
    "dedup_simhash" -> simhash,
    "dedup_jaccard_prefix" -> dedupJaccardPrefix,
    "dedup_jaccard_rich" -> dedupJaccardRich,
    "dedup_jaccard_rich_stats" -> dedupJaccardRichStats,
    "dedup_simhash_lsh" -> ((s, dir) => simhashLsh(s, dir)),
    "dedup_embedding_lsh" -> ((s, dir) => dedupEmbeddingLsh(s, dir)),
    "dedup_embedding_lsh_prod" -> dedupEmbeddingLshProd,
    "dedup_substring" -> dedupSubstring,
    "dedup_substring_rewrite" -> dedupSubstringRewrite,
    "dedup_substring_docs" -> dedupSubstringDocs,
  )

  /** Test-only quadratic baselines (`oracle_` prefix): each is the provably
    * equivalent all-pairs anchor for a scale-safe path in [[queries]]
    * (prefix-filtered Jaccard, banded SimHash, hyperplane-LSH embeddings).
    * They stay in the correctness gate — matching the scale-safe twin's
    * oracle IS the equivalence test — but are fenced out of the public
    * catalog: at 100 TB an all-pairs join is never the right plan.
    */
  val oracleBaselines: Map[String, (SparkSession, String) => DataFrame] = Map(
    "oracle_dedup_jaccard" -> dedupJaccard,
    "oracle_dedup_simhash_pairs" -> simhashPairs,
    "oracle_dedup_embedding" -> dedupEmbedding,
  )

  private val duckToks = s"regexp_split_to_array(trim(text), '[${Tokenize.WsClass}]+')"
  private def duckH(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"
  private val duckShingles =
    s"list_distinct(list_transform(range(1, greatest(len($duckToks) - 1, 1)), " +
      s"i -> $duckToks[i] || ' ' || $duckToks[i + 1] || ' ' || $duckToks[i + 2]))"

  /** The verified minhash-LSH pair SQL, exposed so composed oracles (the
    * curation funnel) reuse the exact statement the gate validates for
    * `dedup_minhash_lsh` — one source of truth for the pair semantics.
    */
  /** The shingle → signature → band CTE prefix (through `bands`), shared by
    * the pair oracle and the streaming minhash gate's bucket-min oracle —
    * one source of truth for the banding derivation.
    */
  private[graft] val minhashBandsCtes: String = minhashBandsCtesFrom("documents")

  /** The chain over an arbitrary (doc_id, text) relation — the streaming
    * minhash gate derives its bands from a constructed planted-duplicate
    * corpus CTE.
    */
  private[graft] def minhashBandsCtesFrom(rel: String): String =
    s"""d AS (SELECT doc_id, $duckShingles AS shs FROM $rel),
       |sigs AS (
       |  SELECT doc_id, shs, list_transform(range(0, 32),
       |    i -> list_min(list_transform(shs, sh -> ((2 * i + 1) * (${duckH("sh")} % ${P}) + 10007 * (i + 1)) % ${P}))) AS mhs
       |  FROM d),
       |bands AS (
       |  SELECT doc_id, b AS band, array_to_string(mhs[4 * b + 1 : 4 * b + 4], ',') AS sig
       |  FROM sigs, (SELECT unnest(range(0, 8)) AS b))""".stripMargin

  private[ops] val minhashLshPairsSql: String =
    s"""WITH $minhashBandsCtes,
       |cands AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(len(list_intersect(pa.shs, pb.shs)) AS INT) AS inter,
       |  CAST(len(list_distinct(list_concat(pa.shs, pb.shs))) AS INT) AS union_sz
       |FROM cands
       |JOIN d pa ON doc_a = pa.doc_id
       |JOIN d pb ON doc_b = pb.doc_id
       |WHERE len(list_intersect(pa.shs, pb.shs)) * 5 >= len(list_distinct(list_concat(pa.shs, pb.shs)))""".stripMargin

  /** Shared CTE chain for the substring oracles: the constructed corpus,
    * per-token positions, and the maximal diagonal islands (`runs`). */
  private val substringRunsCtes: String =
    substringRunsCtesFor(OverlapNs1Sql, OverlapNs1Max)

  /** The chain with a parameterized shared-block rule — term-for-term with
    * [[overlapCorpusGen]]; the long-run streaming gate builds its oracle
    * from [[LongNs1Sql]]/[[LongNs1Max]].
    */
  private[graft] def substringRunsCtesFor(ns1Sql: String, ns1Max: Int): String =
    s"""base AS (SELECT c_custkey AS g FROM customer),
      |sides AS (SELECT g, unnest([0, 1]) AS side FROM base),
      |params AS MATERIALIZED (SELECT 2*g + side AS doc_id, g,
      |  CAST(CASE WHEN side = 0 THEN g % 5 ELSE 1 + g % 3 END AS INT) AS np,
      |  CAST(CASE WHEN side = 0 THEN 2 ELSE 1 END AS INT) AS nm,
      |  CAST(CASE WHEN side = 0 THEN 3 WHEN g % 7 = 0 THEN 0 ELSE 2 END AS INT) AS nq,
      |  CAST($ns1Sql AS INT) AS ns1,
      |  CAST(CASE WHEN g % 4 = 0 THEN 7 ELSE 0 END AS INT) AS ns2 FROM sides),
      |docs AS MATERIALIZED (SELECT doc_id,
      |  list_transform(range(1, 5), i -> 'd' || doc_id || 'p' || i)[1:np] ||
      |  list_transform(range(1, ${ns1Max + 1}), j -> 's' || g || 'x' || j)[1:ns1] ||
      |  list_transform(range(1, 3), i -> 'd' || doc_id || 'm' || i)[1:nm] ||
      |  list_transform(range(1, 8), j -> 's' || g || 'y' || j)[1:ns2] ||
      |  list_transform(range(1, 4), i -> 'd' || doc_id || 'q' || i)[1:nq] AS toks
      |  FROM params),
      |pos AS MATERIALIZED (
      |  SELECT doc_id, unnest(toks) AS tok, unnest(range(1, len(toks) + 1)) AS p
      |  FROM docs),
      |m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.p AS pa, b.p AS pb
      |      FROM pos a JOIN pos b ON a.tok = b.tok AND a.doc_id < b.doc_id),
      |seg AS (SELECT da, db, pa, pb, pa - pb AS diag,
      |        pa - row_number() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) AS grp
      |        FROM m),
      |runs AS (SELECT da AS doc_a, db AS doc_b,
      |         CAST(min(pa) AS INT) AS start_a, CAST(min(pb) AS INT) AS start_b,
      |         CAST(count(1) AS INT) AS run_len
      |         FROM seg GROUP BY da, db, diag, grp)""".stripMargin

  private val allOracleSql: Map[String, String] = Map(
    "dedup_incremental" ->
      """WITH f AS (
        |  SELECT doc_id, source,
        |    md5(regexp_replace(lower(trim(text)), '[\t\n\x0B\f\r ]+', ' ', 'g')) AS fp
        |  FROM documents),
        |base AS (
        |  SELECT fp, min(doc_id) AS base_keeper FROM f WHERE source = 'src0' GROUP BY 1),
        |delta AS (
        |  SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS first_in_delta
        |  FROM f WHERE source <> 'src0')
        |SELECT d.doc_id, d.fp,
        |  CASE WHEN b.base_keeper IS NOT NULL THEN 'dup_base'
        |       WHEN d.doc_id = d.first_in_delta THEN 'new'
        |       ELSE 'dup_delta' END AS status,
        |  coalesce(b.base_keeper, d.first_in_delta) AS keeper
        |FROM delta d LEFT JOIN base b USING (fp)""".stripMargin,
    "dedup_bloom" ->
      """WITH f AS (
        |  SELECT doc_id, source,
        |    md5(regexp_replace(lower(trim(text)), '[\t\n\x0B\f\r ]+', ' ', 'g')) AS fp
        |  FROM documents),
        |base AS (SELECT DISTINCT fp FROM f WHERE source = 'src0')
        |SELECT d.doc_id, d.fp,
        |  CASE WHEN b.fp IS NOT NULL THEN 'dup_base' ELSE 'new' END AS status
        |FROM f d LEFT JOIN base b USING (fp)
        |WHERE d.source <> 'src0'""".stripMargin,
    "dedup_paragraph" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '[\t\n\x0B\f\r ]+') AS t FROM documents),
        |segs AS (
        |  SELECT doc_id,
        |    unnest(range(0, CAST(ceil(len(t) / 10.0) AS INT))) AS seg_idx,
        |    unnest(list_transform(range(0, CAST(ceil(len(t) / 10.0) AS INT)),
        |      i -> array_to_string(t[i * 10 + 1 : i * 10 + 10], ' '))) AS seg
        |  FROM tok),
        |kept AS (
        |  SELECT doc_id, seg_idx, seg FROM (
        |    SELECT doc_id, seg_idx, seg,
        |      row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
        |    FROM segs) z
        |  WHERE rn = 1)
        |SELECT doc_id, CAST(count(1) AS BIGINT) AS n_kept,
        |  string_agg(seg, ' ' ORDER BY seg_idx) AS text_kept
        |FROM kept GROUP BY 1""".stripMargin,
    // components via a recursive CTE: reach(node, r) holds every label r
    // reachable from node over the symmetric near-dup edge set; min(r) per
    // node is the component min — exactly the propagation fixpoint
    "dedup_clusters" ->
      s"""WITH RECURSIVE
         |d AS (SELECT doc_id, lang, list_distinct($duckToks) AS tset FROM documents),
         |sizes AS (SELECT doc_id, len(tset) AS sz FROM d),
         |postings AS (SELECT doc_id, lang, unnest(tset) AS tok FROM d),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(1) AS inter
         |  FROM postings a JOIN postings b
         |    ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE inter * 2 >= sa.sz + sb.sz - inter),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT doc_id AS node, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.dst AS node, reach.r AS r
         |  FROM reach JOIN edges e ON reach.node = e.src)
         |SELECT node AS doc_id, min(r) AS cluster_id, min(r) = node AS is_survivor
         |FROM reach GROUP BY node""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '[\t\n\x0B\f\r ]+', ' ', 'g')) AS fp,
        |  min(doc_id) AS keeper, count(1) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "emb_dup_clusters" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |      FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
        |edges AS (SELECT va AS src, vb AS dst FROM pairs
        |          UNION ALL SELECT vb, va FROM pairs),
        |reach AS (
        |  SELECT vec_id AS node, vec_id AS r FROM embeddings
        |  UNION
        |  SELECT e2.dst AS node, reach.r AS r
        |  FROM reach JOIN edges e2 ON reach.node = e2.src)
        |SELECT node AS vec_id, min(r) AS cluster_id, min(r) = node AS is_survivor
        |FROM reach GROUP BY node""".stripMargin,
    "oracle_dedup_jaccard" ->
      s"""WITH d AS (SELECT doc_id, lang, list_distinct($duckToks) AS tset FROM documents),
         |sizes AS (SELECT doc_id, lang, len(tset) AS sz FROM d),
         |postings AS (SELECT doc_id, lang, unnest(tset) AS tok FROM d),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(1) AS inter
         |  FROM postings a JOIN postings b
         |    ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, inter,
         |  CAST(sa.sz + sb.sz - inter AS BIGINT) AS union_sz,
         |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
         |FROM inter
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE inter * 2 >= sa.sz + sb.sz - inter""".stripMargin,
    "dedup_minhash_sig" -> {
      val cols = (0 until 8).map { i =>
        s"list_min(list_transform(shs, sh -> (${aCoef(i)} * (${duckH("sh")} % ${P}) + ${bCoef(i)}) % ${P})) AS mh_$i"
      }.mkString(",\n  ")
      s"""WITH d AS (SELECT doc_id, $duckShingles AS shs FROM documents)
         |SELECT doc_id, $cols FROM d""".stripMargin
    },
    "dedup_minhash_lsh" -> minhashLshPairsSql,
    "dedup_simhash" ->
      s"""SELECT doc_id, lang,
         |  CAST(list_sum(list_transform(range(0, 32), j ->
         |    CASE WHEN list_sum(list_transform($duckToks,
         |      t -> 2 * (CAST(floor((${duckH("t")} % ${P}) / power(2, j)) AS BIGINT) % 2) - 1)) > 0
         |    THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
         |FROM documents""".stripMargin,
    "oracle_dedup_embedding" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.4""".stripMargin,
    // The three scale-safe variants are oracle-checked against the SAME
    // quadratic SQL as their all-pairs counterparts: prefix filtering and
    // pigeonhole banding are provably lossless for their thresholds, and the
    // hyperplane-LSH config is chosen so verification recovers every
    // qualifying pair on this corpus — matching row sets IS the test.
    "dedup_jaccard_prefix" ->
      s"""WITH d AS (SELECT doc_id, lang, list_distinct($duckToks) AS tset FROM documents),
         |sizes AS (SELECT doc_id, lang, len(tset) AS sz FROM d),
         |postings AS (SELECT doc_id, lang, unnest(tset) AS tok FROM d),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(1) AS inter
         |  FROM postings a JOIN postings b
         |    ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, inter,
         |  CAST(sa.sz + sb.sz - inter AS BIGINT) AS union_sz,
         |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
         |FROM inter
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE inter * 2 >= sa.sz + sb.sz - inter""".stripMargin,
    // truth on the rich arm: same postings-intersection derivation, rich CTE
    "dedup_jaccard_rich" ->
      s"""WITH ${TextQueries.duckRichCorpusCte},
         |d AS (SELECT doc_id, lang, list_distinct($duckToks) AS tset FROM rich),
         |sizes AS (SELECT doc_id, lang, len(tset) AS sz FROM d),
         |postings AS (SELECT doc_id, lang, unnest(tset) AS tok FROM d),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(1) AS inter
         |  FROM postings a JOIN postings b
         |    ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, inter,
         |  CAST(sa.sz + sb.sz - inter AS BIGINT) AS union_sz,
         |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
         |FROM inter
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE inter * 2 >= sa.sz + sb.sz - inter""".stripMargin,
    // the pruning measurement: re-derives the prefix+length candidate set
    // itself, so the candidate count is hash-gated, not just spec-sampled
    "dedup_jaccard_rich_stats" ->
      s"""WITH ${TextQueries.duckRichCorpusCte},
         |d AS MATERIALIZED (SELECT doc_id, lang, list_distinct($duckToks) AS tset FROM rich),
         |post AS (SELECT doc_id, lang, len(tset) AS sz, unnest(tset) AS tok FROM d),
         |dfreq AS (SELECT tok, count(1) AS df FROM post GROUP BY 1),
         |ranked AS (
         |  SELECT doc_id, lang, tok, sz FROM (
         |    SELECT p.doc_id, p.lang, p.tok, p.sz,
         |      row_number() OVER (PARTITION BY p.doc_id ORDER BY f.df ASC, p.tok ASC) AS rk
         |    FROM post p JOIN dfreq f USING (tok)) t
         |  WHERE rk <= sz // 2 + 1),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ranked a JOIN ranked b
         |    ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
         |   AND a.sz * 2 >= b.sz AND b.sz * 2 >= a.sz),
         |ver AS (
         |  SELECT doc_a, doc_b,
         |    len(list_intersect(da.tset, db.tset)) AS inter,
         |    len(da.tset) + len(db.tset) - len(list_intersect(da.tset, db.tset)) AS u
         |  FROM cand JOIN d da ON da.doc_id = doc_a JOIN d db ON db.doc_id = doc_b)
         |SELECT (SELECT CAST(count(1) AS BIGINT) FROM d) AS n_docs,
         |  (SELECT CAST(sum(nb * (nb - 1) / 2) AS BIGINT) FROM
         |     (SELECT count(1) AS nb FROM d GROUP BY lang) g) AS n_block_pairs,
         |  (SELECT CAST(count(1) AS BIGINT) FROM cand) AS n_candidates,
         |  (SELECT CAST(count(1) AS BIGINT) FROM ver WHERE inter * 2 >= u) AS n_true""".stripMargin,
    "dedup_simhash_lsh" ->
      s"""WITH sigs AS (
         |  SELECT doc_id, lang,
         |    CAST(list_sum(list_transform(range(0, 32), j ->
         |      CASE WHEN list_sum(list_transform($duckToks,
         |        t -> 2 * (CAST(floor((${duckH("t")} % ${P}) / power(2, j)) AS BIGINT) % 2) - 1)) > 0
         |      THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
         |  FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sigs a JOIN sigs b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 10""".stripMargin,
    "dedup_embedding_lsh" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.4""".stripMargin,
    // the production dial, FULL-pipeline re-derivation (planted corpus,
    // quantization, hyperplane sign bits, band keys, candidate join, exact
    // cosine verify): at 4x12/cos>=0.9 recall is probabilistic, so the
    // oracle pins the algorithm's exact output, misses included. Every
    // dial constant interpolates from ProdLshConfig/ProdPlantOffset.
    "dedup_embedding_lsh_prod" -> {
      val c = ProdLshConfig
      val w = c.width
      s"""WITH base AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |pert AS (
        |  SELECT vec_id, label,
        |    list_transform(range(1, 65), i -> v[CAST(i AS INT)] +
        |      CAST(${duckH("'pl:' || vec_id || ':' || i")} % 21 - 10 AS DOUBLE) / 1000.0) AS v
        |  FROM base WHERE vec_id % 4 = 0),
        |corpus AS MATERIALIZED (
        |  SELECT vec_id, label, v FROM base
        |  UNION ALL
        |  SELECT vec_id + $ProdPlantOffset AS vec_id, label, v FROM pert),
        |q AS MATERIALIZED (
        |  SELECT vec_id, label, v,
        |    list_transform(v, x -> CAST(floor(x * 10000) AS BIGINT)) AS q FROM corpus),
        |ws AS MATERIALIZED (
        |  SELECT list_transform(range(0, ${c.bits}), j ->
        |    list_transform(range(1, 65), k -> ${duckH("'rh:' || j || ':' || k")} % 1001 - 500)) AS ws),
        |bits AS MATERIALIZED (
        |  SELECT vec_id, label,
        |    list_transform(range(0, ${c.bits}), j ->
        |      CASE WHEN list_sum(list_transform(range(1, 65),
        |        k -> q[CAST(k AS INT)] * ws[CAST(j AS INT) + 1][CAST(k AS INT)])) > 0
        |      THEN 1 ELSE 0 END) AS b
        |  FROM q CROSS JOIN ws),
        |bands AS MATERIALIZED (
        |  SELECT vec_id, label, bd.band,
        |    list_sum(list_transform(range(0, $w), i ->
        |      b[CAST($w * bd.band + i AS INT) + 1] * (1 << (${w - 1} - CAST(i AS INT))))) AS key
        |  FROM bits, (SELECT unnest(range(0, ${c.bands})) AS band) bd),
        |cand AS MATERIALIZED (
        |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
        |  FROM bands x JOIN bands y
        |    ON x.label = y.label AND x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id)
        |SELECT c.vec_a, c.vec_b, a.label
        |FROM cand c
        |JOIN q a ON c.vec_a = a.vec_id JOIN q b ON c.vec_b = b.vec_id
        |WHERE list_dot_product(a.v, b.v) /
        |  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= ${c.minCosine}""".stripMargin
    },
    "oracle_dedup_simhash_pairs" ->
      s"""WITH sigs AS (
         |  SELECT doc_id, lang,
         |    CAST(list_sum(list_transform(range(0, 32), j ->
         |      CASE WHEN list_sum(list_transform($duckToks,
         |        t -> 2 * (CAST(floor((${duckH("t")} % ${P}) / power(2, j)) AS BIGINT) % 2) - 1)) > 0
         |      THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
         |  FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sigs a JOIN sigs b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 10""".stripMargin,
    // Pure token-level maximal-run derivation (no winnowing): token match
    // coordinates grouped into diagonal islands. Exact because the
    // constructed corpus confines cross-document token equality to planted
    // blocks with no in-region gram repeats — see dedupSubstringFrom.
    "dedup_substring" ->
      (s"""WITH $substringRunsCtes
        |SELECT doc_a, doc_b, start_a, start_b, run_len FROM runs
        |WHERE run_len >= 6""".stripMargin),
    // Algorithm-equivalence oracle for the natural corpus: the identical
    // winnow-positions -> df-cap -> anchor -> verify -> extend pipeline in
    // SQL (hash60 re-derived from md5 hex). The backward/forward
    // first-mismatch scans cover exactly the valid extension range, with
    // out-of-bounds comparisons coalesced false — value-identical to the
    // Spark side's padded zip_with.
    "dedup_substring_docs" ->
      """WITH tok AS MATERIALIZED (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '[\t\n\x0B\f\r ]+') AS t FROM documents),
        |hs AS MATERIALIZED (
        |  SELECT doc_id, t, list_transform(range(1, len(t) - 1),
        |    i -> CAST(('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 15)) AS BIGINT)) AS hs
        |  FROM tok WHERE len(t) >= 6),
        |selpos AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, fp, pos FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(hs) - 2), i -> list_min(hs[i:i+3]))) AS fp,
        |      unnest(list_transform(range(1, len(hs) - 2),
        |        i -> CAST(i - 1 + list_position(hs[i:i+3], list_min(hs[i:i+3])) AS INT))) AS pos
        |    FROM hs) u),
        |dfc AS (SELECT fp FROM (SELECT fp, count(DISTINCT doc_id) AS df FROM selpos GROUP BY 1) x
        |        WHERE df <= 50),
        |kept AS MATERIALIZED (SELECT s.* FROM selpos s JOIN dfc USING (fp)),
        |anch AS MATERIALIZED (
        |  SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
        |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id),
        |ext AS MATERIALIZED (
        |  SELECT da, db, pa, pb,
        |    coalesce(nullif(list_position(list_transform(range(1, CAST(least(pa, pb) AS BIGINT)),
        |      j -> coalesce(ta[CAST(pa - j AS INT)] = tb[CAST(pb - j AS INT)], false)), false), 0) - 1,
        |      least(pa, pb) - 1) AS ext_l,
        |    coalesce(nullif(list_position(list_transform(range(1, CAST(greatest(len(ta) - pa - 1, len(tb) - pb - 1) + 1 AS BIGINT)),
        |      j -> coalesce(ta[CAST(pa + 2 + j AS INT)] = tb[CAST(pb + 2 + j AS INT)], false)), false), 0) - 1,
        |      least(len(ta) - pa, len(tb) - pb) - 2) AS ext_r
        |  FROM (
        |    SELECT an.da, an.db, an.pa, an.pb, x.t AS ta, y.t AS tb
        |    FROM anch an JOIN tok x ON x.doc_id = an.da JOIN tok y ON y.doc_id = an.db
        |    WHERE x.t[an.pa : an.pa + 2] = y.t[an.pb : an.pb + 2]) v)
        |SELECT DISTINCT da AS doc_a, db AS doc_b,
        |  CAST(pa - ext_l AS INT) AS start_a, CAST(pb - ext_l AS INT) AS start_b,
        |  CAST(ext_l + 3 + ext_r AS INT) AS run_len
        |FROM ext WHERE ext_l + 3 + ext_r >= 6""".stripMargin,
    // ... and the rewrite: spans union'd per later-doc, removal by position
    // anti-join, in-order reassembly
    "dedup_substring_rewrite" ->
      (s"""WITH $substringRunsCtes,
        |spans AS (SELECT doc_b AS doc_id, start_b, run_len FROM runs WHERE run_len >= 6),
        |cov AS (SELECT DISTINCT doc_id, unnest(range(start_b, start_b + run_len)) AS p FROM spans),
        |kept AS (
        |  SELECT t.doc_id, t.p, t.tok FROM pos t
        |  LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.p
        |  WHERE c.doc_id IS NULL)
        |SELECT d.doc_id,
        |  CAST(len(d.toks) AS INT) AS n_tokens,
        |  CAST(len(d.toks) - count(k.p) AS INT) AS n_removed,
        |  coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '') AS text_clean
        |FROM docs d LEFT JOIN kept k ON k.doc_id = d.doc_id
        |GROUP BY d.doc_id, len(d.toks)""".stripMargin),
  )

  /** Oracles for the public scale-safe catalog, key-for-key with [[queries]]. */
  val oracleSql: Map[String, String] =
    allOracleSql.view.filterKeys(queries.contains).toMap

  /** Oracles for the fenced [[oracleBaselines]]. */
  val baselineOracleSql: Map[String, String] =
    allOracleSql.view.filterKeys(oracleBaselines.contains).toMap
}
