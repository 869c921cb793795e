package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Subword (BPE-style) tokenization, on-engine and oracle-twinned — the
  * upgrade from the `(length+3) div 4` token heuristic the curation entries
  * default to: sequence packing, chunk budgeting, and mixture maths should
  * count TOKENIZER tokens, because that is the unit the training job pays.
  * (Reference scope: tulip/relationalize has no tokenizer; this extends the
  * LLM-pipeline surface per the build brief.)
  *
  * The tokenizer is classic byte-pair-encoding restricted to the engine's
  * expression dialect so a DuckDB twin exists for the gate:
  *
  *  - LEARN ([[learnFrom]]): start from characters; each round counts every
  *    adjacent symbol pair (weighted by word frequency), picks the most
  *    frequent (ties: smallest "x y" key in UTF-8 byte order), records
  *    it, and merges ALL its occurrences in every word. Same-symbol pairs
  *    (x = x) are excluded: with x != y, occurrences cannot overlap, so
  *    "merge all occurrences" is a single data-parallel expression instead
  *    of a sequential left-to-right fold — the restriction that keeps both
  *    engines bit-identical. The corpus is touched once, by the vocab
  *    aggregation in Spark; its result is bounded by distinct words, not
  *    corpus size, so it is collected once and the rounds run as a plain
  *    driver loop over it (no Spark job per round).
  *  - APPLY ([[applyWords]]): GPT-2-style — repeatedly find the
  *    lowest-ranked merge whose pair is present and merge all its
  *    occurrences, up to [[ApplySteps]] rounds (each round strictly shrinks
  *    the word, so words up to [[ApplySteps]]+1 symbols always reach their
  *    fixpoint; longer words stop after [[ApplySteps]] merges — the cap is
  *    part of the spec and mirrored in the oracle). Applied to the DISTINCT
  *    word frame and joined back, so tokenization cost scales with the
  *    vocabulary, not the corpus.
  *
  * Scale shape: learning = one corpus aggregation + N driver-side rounds
  * over the collected vocab; application = one distinct + one equi-join +
  * one aggregation over the corpus, everything else vocab-sized. The
  * application steps' expressions sit behind `graft_barrier` so
  * CollapseProject cannot inline the splice expression (which references
  * its input ~7 times) into an exponential textual tree — the PCA chain
  * discipline.
  */
object BpeTokenizer {

  /** Merges learned per [[learnFrom]] run (and length of [[PinnedMerges]]).
    * 64 is where this corpus's gate entry sits: the synthetic `documents`
    * vocabulary is 31 distinct words (max length 8), and greedy BPE
    * EXHAUSTS it at 89 merges — there is no 256-merge table to learn here.
    * The Spark work is round-count-agnostic (one corpus aggregation; each
    * round is a driver pass over the collected vocab, and the loop exits on
    * exhaustion), so a production corpus dials `nMerges` to 10⁴–10⁵
    * directly; `Round9Spec` pins the exhaustion behavior by requesting 256
    * and asserting termination + greedy-prefix stability vs this table.
    */
  val NMerges = 64

  /** Merge rounds applied per word in [[applyWords]] — at most one RANK is
    * resolved per round (all its occurrences), so any word of up to
    * ApplySteps + 1 symbols fully converges. The corpus's longest word is
    * 8 characters (≤ 7 merges), so 8 steps reach every word's fixpoint
    * regardless of merge-table size.
    */
  val ApplySteps = 8

  /** The pinned merge table consumed by [[tokens]] and [[TokenCounter.Bpe]]:
    * the [[learnFrom]] output on the sf0.01 `documents` corpus (round-9
    * snapshot, 64 merges — its 24-merge prefix is the round-8 table:
    * greedy BPE is prefix-stable), embedded so application is
    * corpus-independent (the learn entry's oracle re-learns from whatever
    * corpus is present, so the GATE never depends on this snapshot matching
    * the current testdata). Each entry is the space-joined pair "x y" at
    * rank = position + 1.
    */
  val PinnedMerges: Seq[String] = Seq(
    "e r", "i n", "o w", "o r", "s t", "m er", "a t", "l u",
    "a r", "p ar", "j o", "jo in", "a s", "as h", "h ash", "r ow",
    "at c", "atc h", "b atch", "a n", "c an", "s can", "c o", "c u",
    "co lu", "colu m", "colum n", "cu st", "cust o", "custo mer", "f i", "fi l",
    "fil t", "filt er", "a l", "al l", "m all", "s mall", "g e", "l ow",
    "mer ge", "s low", "c t", "ct or", "d er", "e ctor", "or der", "v ector",
    "in e", "l ine", "a b", "ab l", "abl e", "at a", "d ata", "t able",
    "u p", "a g", "ag g", "a lu", "alu e", "v alue", "e y", "k ey")

  private def sq(s: String) = "'" + s.replace("'", "''") + "'"

  // ------------------------------------------------------------------
  // Spark-side fragments
  // ------------------------------------------------------------------

  /** Merge ALL occurrences of the pair (bx, by) in symbol array `ss` — the
    * non-overlap guarantee (bx != by) makes one per-index expression exact:
    * a position opens a merge (emit the joined symbol), closes one (emit
    * nothing), or passes through.
    */
  private def spliceSql(ss: String, bx: String, by: String): String =
    s"flatten(transform(sequence(1, size($ss)), i -> " +
      s"CASE WHEN i < size($ss) AND element_at($ss, i) = $bx AND element_at($ss, i + 1) = $by " +
      s"THEN array(concat(element_at($ss, i), element_at($ss, i + 1))) " +
      s"WHEN i > 1 AND element_at($ss, i - 1) = $bx AND element_at($ss, i) = $by " +
      s"THEN slice($ss, 1, 0) " +
      s"ELSE array(element_at($ss, i)) END))"

  /** Characters of `w` as array<string>. `sequence(1, 0)` would DESCEND, so
    * the empty-word case goes through greatest + slice.
    */
  private val charsSql =
    "slice(transform(sequence(1, greatest(length(w), 1)), i -> substring(w, i, 1)), 1, length(w))"

  /** BYTES of `w`'s UTF-8 encoding as array<string> (2-hex-char symbols) —
    * the GPT-2-style byte-level fallback alphabet: every word decomposes
    * regardless of script, multi-byte characters split into their bytes.
    * For pure-ASCII corpora the symbol stream is the character stream with
    * each symbol hex-spelled, and since fixed-width lowercase hex is
    * order-isomorphic to the byte values (and ' ' stays minimal), the
    * GREEDY MERGE SEQUENCE is identical to character-level learning
    * (spec-pinned) — the fallback changes nothing until non-ASCII text
    * actually arrives.
    */
  private val bytesSql =
    "slice(transform(sequence(1, greatest(octet_length(w), 1)), " +
      "i -> substring(lower(hex(CAST(w AS BINARY))), 2 * i - 1, 2)), 1, octet_length(w))"

  /** Rank of each adjacent pair of `ss` under the merge array `m` (1-based
    * rank; null = not a merge). Guarded for size < 2: `sequence` descends
    * and `element_at` past the end throws under ANSI.
    */
  private def ranksSql(ss: String, m: String): String =
    s"CASE WHEN size($ss) < 2 THEN CAST(array() AS ARRAY<INT>) " +
      s"ELSE transform(sequence(1, size($ss) - 1), i -> CAST(nullif(array_position($m, " +
      s"concat(element_at($ss, i), ' ', element_at($ss, i + 1))), 0) AS INT)) END"

  /** Apply [[PinnedMerges]]-style `merges` to a frame of distinct words
    * (column `w`) -> (w, n_sub). [[ApplySteps]] barriered projection rounds.
    */
  def applyWords(words: DataFrame, merges: Seq[String] = PinnedMerges,
                 alphabet: String = charsSql): DataFrame = {
    require(merges.nonEmpty && merges.forall(_.split(" ", -1).length == 2))
    graft.functions.GraftFunctions.registerAll(words.sparkSession)
    val m = merges.map(sq).mkString("array(", ", ", ")")
    val rp = ranksSql("ss", m)
    var f = words.selectExpr("w", s"graft_barrier($alphabet) AS ss")
    for (_ <- 1 to ApplySteps) {
      f = f
        .selectExpr("w", "ss", s"graft_barrier($rp) AS rp")
        .selectExpr("w", "ss", "array_min(rp) AS r",
          "CAST(array_position(rp, array_min(rp)) AS INT) AS pos")
        .selectExpr("w",
          "graft_barrier(CASE WHEN r IS NULL THEN ss ELSE " +
            spliceSql("ss", "element_at(ss, pos)", "element_at(ss, pos + 1)") +
            " END) AS ss")
    }
    f.selectExpr("w", "CAST(size(ss) AS INT) AS n_sub")
  }

  /** Learn [[NMerges]] merges from any frame with a text column: the vocab
    * aggregation runs once over the corpus in Spark, and the rounds (pair
    * count, argmax, merge) run in [[mergeRounds]] over the collected vocab.
    * Returns (rank INT, pair STRING, n BIGINT).
    */
  def learnFrom(docs: DataFrame, nMerges: Int = NMerges,
                alphabet: String = charsSql): DataFrame = {
    require(nMerges >= 1)
    val spark = docs.sparkSession
    val toks = Tokenize.Whitespace.sql("text")
    // the corpus aggregation is map-side parallel (partial counts combine
    // before the shuffle); its result is vocabulary-bounded (KBs to MBs at
    // any corpus scale), so one collect hands it to the merge loop
    val vocab = docs.selectExpr(s"explode($toks) AS w")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .selectExpr("cnt", s"$alphabet AS ss")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toArray))
    import spark.implicits._
    mergeRounds(vocab, nMerges).toDF("rank", "pair", "n").selectExpr(
      "CAST(rank AS INT) AS rank", "pair", "CAST(n AS BIGINT) AS n")
  }

  /** Up to `nMerges` greedy rounds over `(cnt, ss)` words, stopping when no
    * pair is left. A round counts every adjacent `x != y` pair weighted by
    * `cnt`, takes the highest count (ties: the smallest "x y" key in UTF-8
    * byte order, which is Spark's and DuckDB's string order; `String`'s
    * UTF-16 `compareTo` differs above U+FFFF), and merges it by
    * [[spliceSql]]'s per-index rule.
    */
  private def mergeRounds(vocab: Array[(Long, Array[String])],
                          nMerges: Int): Seq[(Int, String, Long)] = {
    var words = vocab
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var exhausted = false
    for (r <- 1 to nMerges if !exhausted) {
      val pairs = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((cnt, ss) <- words; i <- 0 until ss.length - 1 if ss(i) != ss(i + 1))
        pairs((ss(i), ss(i + 1))) = pairs.getOrElse((ss(i), ss(i + 1)), 0L) + cnt
      if (pairs.isEmpty) exhausted = true
      else {
        val n = pairs.valuesIterator.max
        val (bx, by) = pairs.iterator.collect { case (p, `n`) => p }
          .minBy { case (x, y) => UTF8String.fromString(s"$x $y") }
        merges += ((r, s"$bx $by", n))
        words = words.map { case (cnt, ss) => (cnt, splice(ss, bx, by)) }
      }
    }
    merges.toSeq
  }

  /** [[spliceSql]] on a driver-held word. */
  private def splice(ss: Array[String], bx: String, by: String): Array[String] =
    ss.indices.flatMap { i =>
      if (i + 1 < ss.length && ss(i) == bx && ss(i + 1) == by) Some(bx + by)
      else if (i > 0 && ss(i - 1) == bx && ss(i) == by) None
      else Some(ss(i))
    }.toArray

  /** Catalog entry: learn the merge table from `documents`. */
  def learn(s: SparkSession, dir: String): DataFrame =
    learnFrom(Tables(s, dir, "documents"))

  /** Merges learned by the BYTE-LEVEL gate entry (bounded below [[NMerges]]
    * — the byte alphabet is the capability under test, not a second large
    * table).
    */
  val ByteMerges = 32

  /** Byte-level learning over any (doc_id, text) frame — [[learnFrom]] on
    * the [[bytesSql]] fallback alphabet.
    */
  def learnBytesFrom(docs: DataFrame, nMerges: Int = ByteMerges): DataFrame =
    learnFrom(docs, nMerges, alphabet = bytesSql)

  /** Catalog entry: the byte-level merge table from `documents` — hex-pair
    * symbols ("65 72" = the bytes of "er"), oracle-re-learned in DuckDB
    * from the same byte alphabet.
    */
  def learnBytes(s: SparkSession, dir: String): DataFrame =
    learnBytesFrom(Tables(s, dir, "documents"))

  /** Byte-level application — [[applyWords]] on the fallback alphabet
    * (merge entries are hex-pair symbols).
    */
  def applyWordsBytes(words: DataFrame, merges: Seq[String]): DataFrame =
    applyWords(words, merges, alphabet = bytesSql)

  /** Byte merges learned over the GPT-2 PIECE vocabulary (round-9 snapshot
    * of [[learnBytesFrom]] on the pre-tokenized sf0.01 documents; 48
    * merges, hex-pair symbols). The table shows the real-GPT-2 signature
    * the whitespace tables cannot: leading-SPACE bytes merge into words
    * (rank 1 is "20 73" = " s"; " join" converges to one token) because
    * pieces carry their space. Max piece is 9 bytes, so [[ApplySteps]] = 8
    * fully converges every piece.
    */
  val PinnedByteMerges: Seq[String] = Seq(
    "20 73", "65 72", "69 6e", "6f 77",
    "6f 72", "6d 6572", "61 74", "6c 75",
    "20 63", "61 73", "20 62", "20 76",
    "61 72", "70 6172", "20 66", "20 61",
    "20 74", "6a 6f", "6a6f 696e", "6173 68",
    "68 617368", "20 6a6f696e", "73 74", "72 6f77",
    "6174 63", "617463 68", "61 6e", "63 616e",
    "6c75 6d", "6c756d 6e", "6f 6c756d6e", "6f 6d6572",
    "7374 6f6d6572", "75 73746f6d6572", "69 6c", "696c 74",
    "696c74 6572", "20 68617368", "61 6c", "616c 6c",
    "6d 616c6c", "20 726f77", "2073 63616e", "20 64",
    "2073 6d616c6c", "67 65", "6c 6f77", "6d6572 6765")

  /** Catalog entry: GPT-2-SHAPED tokenization end to end — the TRUE-
    * boundary pre-tokenizer ([[graft.ops.TextQueries.gpt2PiecesSqlOf]]:
    * base pattern + lookahead post-pass, round 10) feeds byte-level merges
    * applied WITHIN pieces (the composition of the two round-9 stages;
    * spaces travel inside pieces and merge into their words, exactly like
    * the real tokenizer). Applied to the DISTINCT
    * piece frame and joined back — cost scales with the piece vocabulary,
    * not the corpus. The oracle re-runs the identical pre-tokenize →
    * byte-alphabet → pinned-merge chain.
    */
  def gpt2Tokens(s: SparkSession, dir: String): DataFrame =
    gpt2TokensFrom(Tables(s, dir, "documents"))

  /** The GPT-2-shaped counting kernel over any (doc_id, text) frame. */
  def gpt2TokensFrom(docs: DataFrame,
                     merges: Seq[String] = PinnedByteMerges): DataFrame = {
    val tok = docs.selectExpr("doc_id",
      s"explode(${TextQueries.gpt2PiecesSqlOf("text")}) AS w")
    tok.join(applyWordsBytes(tok.select(col("w")).distinct(), merges), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_pieces"),
        sum(col("n_sub")).as("n_gpt2_tokens"))
  }

  /** Catalog entry: per-document subword counts under [[PinnedMerges]] —
    * (doc_id, n_words, n_bpe_tokens). The corpus is exploded twice (once
    * for the distinct vocab, once for the count join): at 100 TB,
    * re-running a map-only explode is the right trade against persisting
    * the exploded corpus.
    */
  def tokens(s: SparkSession, dir: String): DataFrame =
    tokensFrom(Tables(s, dir, "documents"))

  /** The counting kernel over any frame with (doc_id, text). */
  def tokensFrom(docs: DataFrame, merges: Seq[String] = PinnedMerges): DataFrame = {
    val toks = Tokenize.Whitespace.sql("text")
    val tok = docs.selectExpr("doc_id", s"explode($toks) AS w")
    tok.join(applyWords(tok.select(col("w")).distinct(), merges), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_words"), sum(col("n_sub")).as("n_bpe_tokens"))
  }

  /** The token-counter dial for the curation entries: given a docs frame,
    * project `keep` plus an `n_tok` BIGINT column. [[TokenCounter.Chars4]]
    * (the pinned default — every existing oracle computes it) estimates
    * ceil(len/4) per word as a pure expression; [[TokenCounter.Bpe]] counts
    * real [[PinnedMerges]] subwords via the vocab join.
    */
  sealed trait TokenCounter {
    def project(docs: DataFrame, keep: Seq[String]): DataFrame
  }
  object TokenCounter {
    case object Chars4 extends TokenCounter {
      def project(docs: DataFrame, keep: Seq[String]): DataFrame = {
        val toks = Tokenize.Whitespace.sql("text")
        docs.selectExpr(keep :+
          s"CAST(aggregate($toks, 0L, (acc, t) -> acc + (length(t) + 3) div 4) AS BIGINT) AS n_tok": _*)
      }
    }
    case object Bpe extends TokenCounter {
      def project(docs: DataFrame, keep: Seq[String]): DataFrame = {
        val toks = Tokenize.Whitespace.sql("text")
        val tok = docs.selectExpr(keep :+ s"explode($toks) AS w": _*)
        tok.join(applyWords(tok.select(col("w")).distinct()), Seq("w"))
          .groupBy(keep.map(col): _*)
          .agg(sum(col("n_sub")).as("n_tok"))
      }
    }
    /** GPT-2-SHAPED counter: pre-tokenizer pieces + byte merges within
      * pieces ([[PinnedByteMerges]]) — the unit a GPT-2-style training job
      * actually pays, leading spaces included. Same distinct-piece join
      * shape as [[Bpe]].
      */
    case object Gpt2 extends TokenCounter {
      def project(docs: DataFrame, keep: Seq[String]): DataFrame = {
        val pieces = expr(TextQueries.gpt2PiecesSqlOf("text"))
        val tok = docs.select(keep.map(col) :+ explode(pieces).as("w"): _*)
        tok.join(applyWordsBytes(tok.select(col("w")).distinct(), PinnedByteMerges), Seq("w"))
          .groupBy(keep.map(col): _*)
          .agg(sum(col("n_sub")).as("n_tok"))
      }
    }
  }

  // ------------------------------------------------------------------
  // DuckDB twins (generated with the same loops as the Spark chains)
  // ------------------------------------------------------------------

  private def duckSplice(ss: String, bx: String, by: String): String =
    s"flatten(list_transform(range(1, len($ss) + 1), i -> " +
      s"CASE WHEN i < len($ss) AND $ss[i] = $bx AND $ss[i+1] = $by THEN [$ss[i] || $ss[i+1]] " +
      s"WHEN i > 1 AND $ss[i-1] = $bx AND $ss[i] = $by THEN [] " +
      s"ELSE [$ss[i]] END))"

  /** DuckDB learn chain: one MATERIALIZED (pair count, argmax, merge) CTE
    * triple per round — `AS MATERIALIZED` everywhere or DuckDB's
    * single-reference CTE inlining re-expands the chain exponentially.
    */
  /** DuckDB twins of the two base alphabets. */
  private val duckCharsAlpha = "list_transform(range(1, length(w) + 1), i -> w[i])"
  private val duckBytesAlpha =
    "list_transform(range(1, octet_length(encode(w)) + 1), " +
      "i -> substr(lower(hex(encode(w))), CAST(2 * i - 1 AS INT), 2))"

  /** @param corpusCte optional extra CTE defining `source` (the rich arm);
    * @param source the table/CTE the token stream reads;
    * @param setup statements prefixed BEFORE the query — the 256-round
    *   rich chain exceeds DuckDB's default max_expression_depth of 1000
    *   (the 3-CTE-per-round chain, not the final union), so its oracle
    *   carries a `SET max_expression_depth` first statement (the gate
    *   harness executes oracles via duckdb-python `execute`, which runs
    *   `;`-separated statements and returns the last result — verified
    *   against the same duckdb 1.0.0 the driver uses).
    */
  private[ops] def learnOracle(nMerges: Int = NMerges,
                               alphabet: String = duckCharsAlpha,
                               corpusCte: String = "",
                               source: String = "documents",
                               setup: String = ""): String = {
    val ctes = scala.collection.mutable.ArrayBuffer.empty[String]
    if (corpusCte.nonEmpty) ctes += corpusCte
    ctes += """tok AS (SELECT unnest(regexp_split_to_array(trim(text), '[\t\n\x0B\f\r ]+')) AS w FROM """ + source + ")"
    ctes += s"""st0 AS MATERIALIZED (SELECT w, CAST(count(1) AS BIGINT) AS cnt,
        |  $alphabet AS ss FROM tok GROUP BY 1)""".stripMargin
    for (r <- 1 to nMerges) {
      val p = r - 1
      ctes += s"""pc$r AS MATERIALIZED (
        |  SELECT x || ' ' || y AS pr, x, y, sum(cnt) AS n FROM (
        |    SELECT cnt, unnest(list_transform(range(1, len(ss)), i -> ss[i])) AS x,
        |           unnest(list_transform(range(1, len(ss)), i -> ss[i+1])) AS y
        |    FROM st$p) t WHERE x <> y GROUP BY 1, 2, 3)""".stripMargin
      ctes += s"""b$r AS MATERIALIZED (SELECT $r AS rank, pr, x, y, n FROM pc$r
        |  ORDER BY n DESC, pr ASC LIMIT 1)""".stripMargin
      ctes += s"""st$r AS MATERIALIZED (
        |  SELECT w, cnt, CASE WHEN b.x IS NULL THEN ss ELSE ${duckSplice("ss", "b.x", "b.y")} END AS ss
        |  FROM st$p LEFT JOIN b$r b ON true)""".stripMargin
    }
    setup + "WITH " + ctes.mkString(",\n") +
      "\nSELECT CAST(rank AS INT) AS rank, pr AS pair, CAST(n AS BIGINT) AS n FROM (" +
      (1 to nMerges).map(r => s"SELECT rank, pr, n FROM b$r").mkString(" UNION ALL ") +
      ") u"
  }

  /** DuckDB apply chain over the distinct vocab -> `bpe_wc(w, n_sub)`;
    * shared by the tokens oracle, the BPE-dial curation oracles, and (with
    * the piece tokenizer + byte alphabet) the GPT-2 tokens oracle.
    */
  private[ops] def applyCtes(merges: Seq[String] = PinnedMerges,
      tokExpr: String = """unnest(regexp_split_to_array(trim(text), '[\t\n\x0B\f\r ]+'))""",
      alphabet: String = duckCharsAlpha): String = {
    val m = merges.map(sq).mkString("[", ", ", "]")
    val rp = s"list_transform(range(1, len(ss)), i -> nullif(list_position($m, ss[i] || ' ' || ss[i+1]), 0))"
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""btok AS (SELECT doc_id, lang, $tokExpr AS w FROM documents)""",
      s"""bs0 AS MATERIALIZED (SELECT w, $alphabet AS ss
        |  FROM (SELECT DISTINCT w FROM btok) v)""".stripMargin)
    for (u <- 1 to ApplySteps) {
      val p = u - 1
      ctes += s"""br$u AS MATERIALIZED (SELECT w, ss,
        |  list_min($rp) AS r, list_position($rp, list_min($rp)) AS pos FROM bs$p)""".stripMargin
      ctes += s"""bs$u AS MATERIALIZED (SELECT w,
        |  CASE WHEN r IS NULL THEN ss ELSE ${duckSplice("ss", "ss[pos]", "ss[pos+1]")} END AS ss
        |  FROM br$u)""".stripMargin
    }
    ctes += s"bpe_wc AS (SELECT w, CAST(len(ss) AS INT) AS n_sub FROM bs$ApplySteps)"
    ctes.mkString(",\n")
  }

  private[ops] def tokensOracle: String =
    "WITH " + applyCtes() + """
      |SELECT t.doc_id, CAST(count(1) AS INT) AS n_words,
      |  CAST(sum(c.n_sub) AS BIGINT) AS n_bpe_tokens
      |FROM btok t JOIN bpe_wc c USING (w) GROUP BY 1""".stripMargin

  /** The GPT-2 apply chain (piece tokenizer + byte alphabet + pinned byte
    * merges) through `bpe_wc` — shared by the tokens oracle and the
    * GPT-2-dial curation oracles.
    */
  private[ops] def gpt2ApplyCtes: String =
    applyCtes(PinnedByteMerges,
      s"unnest(${TextQueries.duckGpt2PiecesOf("text")})", duckBytesAlpha)

  private[ops] def gpt2TokensOracle: String =
    "WITH " + gpt2ApplyCtes + """
      |SELECT t.doc_id, CAST(count(1) AS INT) AS n_pieces,
      |  CAST(sum(c.n_sub) AS BIGINT) AS n_gpt2_tokens
      |FROM btok t JOIN bpe_wc c USING (w) GROUP BY 1""".stripMargin

  /** Merge budget of the rich-vocabulary arm: 256 LIVE merges (the
    * 31-word documents corpus exhausts at 89 — [[learnFrom]]'s exhaustion
    * pin). On [[graft.ops.TextQueries.richCorpus]]'s ~2048-word hex
    * dictionary the rank-256 pair still counts in the hundreds, so every
    * round does real frequency work over a ~2048-word vocab — the
    * vocabulary-scaled shape of production tokenizers (10^4-10^5 merges).
    */
  val RichMerges = 256

  /** Catalog entry: 256-merge BPE learn over the rich-vocabulary arm. */
  def learnRich(s: SparkSession, dir: String): DataFrame =
    learnFrom(TextQueries.richCorpus(s, dir), RichMerges)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bpe_learn" -> learn,
    "text_bpe_bytes_learn" -> learnBytes,
    "text_bpe_learn_rich" -> learnRich,
    "text_bpe_tokens" -> tokens,
    "text_bpe_gpt2" -> gpt2Tokens,
  )

  val oracleSql: Map[String, String] = Map(
    "text_bpe_learn" -> learnOracle(),
    "text_bpe_bytes_learn" -> learnOracle(ByteMerges, duckBytesAlpha),
    "text_bpe_learn_rich" -> learnOracle(RichMerges,
      corpusCte = TextQueries.duckRichCorpusCte, source = "rich",
      setup = "SET max_expression_depth TO 8192;\n"),
    "text_bpe_tokens" -> tokensOracle,
    "text_bpe_gpt2" -> gpt2TokensOracle,
  )
}
