package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  *   - brute-force cosine top-k: the exactness baseline. All vector math is
  *     done in DOUBLE via the codegen'd [[graft.functions.VecDot vec_dot]]
  *     expression — no UDFs, no interpreted higher-order lambdas in the pair
  *     loop. Output is (query, neighbor, rank): ranks are
  *     stable because random embeddings never produce sub-1e-12 similarity
  *     ties, while raw doubles would differ between engines in the last bit.
  *   - IVF-style bucketed ANN: coarse quantization by nearest of 8 data-derived
  *     centroids (the first 8 vectors), then top-k *within the probe bucket*.
  *     This is the 100 TB path: assignment is a broadcast map-side transform,
  *     the search join is blocked on the bucket id, never all-pairs.
  *
  * Queries are the vectors with vec_id < 10 (self excluded).
  */
object SimilarityQueries {

  /** Float -> double widening via Cast (codegen'd; `transform` with a lambda
    * would run interpreted). Exact: every float is representable as double.
    */
  private val toDouble = "CAST(embedding AS ARRAY<DOUBLE>)"

  /** All dot products go through the codegen'd
    * [[graft.functions.VecDot vec_dot]] expression — index-order
    * multiply-accumulate, bit-identical to the interpreted
    * `aggregate(zip_with(...))` chain it replaced (and to the DuckDB
    * oracles), at a fraction of the per-pair cost.
    */
  private def dot(a: String, b: String): String = s"vec_dot($a, $b)"

  /** Per-vector norm: `sqrt(vec_dot(a, a))` accumulates x*x in index order —
    * bit-identical to the single-pass fold it replaced.
    */
  private def norm(a: String): String = s"sqrt(vec_dot($a, $a))"

  /** Brute-force cosine top-k (k=5) for 10 query vectors.
    *
    * Norms are a per-vector quantity: they are computed ONCE per vector in
    * the projections BELOW the pair join (the join boundary stops
    * CollapseProject from inlining them into the per-pair similarity), so
    * each candidate pair evaluates exactly one higher-order fold (the dot)
    * instead of three.
    */
  def annBruteForce(s: SparkSession, dir: String): DataFrame =
    bruteForceFrom(embNormed(s, dir))

  /** The exact-search projection of the corpus: (vec_id, v, nv), the
    * widened vector and its norm, computed once per vector. Callers that
    * read it more than once put it behind their own persist barrier.
    */
  private def embNormed(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    Tables(s, dir, "embeddings").selectExpr("vec_id", s"$toDouble AS v")
      .selectExpr("vec_id", "v", s"${norm("v")} AS nv")
  }

  /** The brute-force kernel over any (vec_id, v, nv) frame — shared between
    * the standalone baseline, [[annRecall]]'s exact arm (which feeds it
    * the one persisted index projection instead of building a second one),
    * and [[annFiltered]] (which restricts `corpus` while drawing queries
    * from the unfiltered frame). ONE copy of the scoring/tie-break/top-5
    * kernel — the DuckDB oracles mirror exactly this expression.
    */
  private def bruteForceFrom(emb: DataFrame, corpus: DataFrame = null): DataFrame = {
    val cand = Option(corpus).getOrElse(emb)
    val queries = emb.filter(col("vec_id") < 10)
      .selectExpr("vec_id AS query_id", "v AS qv", "nv AS qnv")
    val sims = broadcast(queries).join(cand, col("vec_id") =!= col("query_id"))
      .selectExpr("query_id", "vec_id AS neighbor_id",
        s"${dot("qv", "v")} / (qnv * nv) AS sim")
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)
    sims.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rk"))
  }

  /** One approximate arm of a recall monitor: its top-5 `got`, the names of
    * its two output columns, and the exact top-5 it is scored against when
    * that is not the monitor's own truth (the delete monitor's before arm).
    * `A` is a DataFrame for [[recallAt]] and a CTE name for [[duckRecall]],
    * so a monitor reads the same on both sides.
    */
  private[ops] final case class RecallArm[A](got: A, hits: String = "hits",
      recall: String = "recall", truth: Option[A] = None)

  /** Recall@5 of approximate top-5 arms against an exact top-5, the one
    * measure every `ann_*_recall` monitor reports. For every query of
    * `truth` (query_id, neighbor_id) it emits, per arm, the hit count
    * (BIGINT) and hits / 5 (DOUBLE); a query with no hit reads 0 / 0.0, and
    * approximate rows outside the truth count for nothing. Plan: per arm a
    * left-semi join of the arm's truth on the arm, a `groupBy(query_id)`
    * count, then the distinct truth queries left-join each arm's counts.
    */
  private[ops] def recallAt(truth: DataFrame, arms: RecallArm[DataFrame]*): DataFrame = {
    val pair = Seq("query_id", "neighbor_id")
    val joined = arms.zipWithIndex.foldLeft(truth.select(col("query_id")).distinct()) {
      case (acc, (arm, i)) =>
        val hits = arm.truth.getOrElse(truth).select(pair.map(col): _*)
          .join(arm.got.select(pair.map(col): _*), pair, "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as(s"hits$i"))
        acc.join(hits, Seq("query_id"), "left")
    }
    joined.selectExpr("query_id" +: arms.zipWithIndex.flatMap { case (arm, i) =>
      Seq(s"CAST(coalesce(hits$i, 0) AS BIGINT) AS ${arm.hits}",
        s"CAST(coalesce(hits$i, 0) AS DOUBLE) / 5.0 AS ${arm.recall}")
    }: _*)
  }

  /** Metadata-FILTERED vector search — the production retrieval pattern
    * plain top-k misses: "nearest neighbors among documents matching a
    * predicate" (here `lang = 'en'`, joined from the documents table).
    * This is the PRE-filter strategy: the corpus is restricted by a semi
    * join on the metadata BEFORE any similarity math, so ranking quality
    * is exact over the eligible set (post-filtering a fixed top-k can
    * return fewer than k — or zero — eligible hits under a selective
    * predicate). Scale shape: the semi join is an equi-join on the id
    * (broadcastable when the eligible set is small, shuffle otherwise;
    * when the metadata lives in the vector table itself it collapses to a
    * pushed-down scan predicate), and the scoring pass is the same
    * broadcast-queries map-side pass as [[annBruteForce]] — against an
    * IVF/PQ index the same semi join restricts the candidate set after
    * bucket probing.
    */
  def annFiltered(s: SparkSession, dir: String): DataFrame = {
    val (keep, emb) = filteredSearchParts(s, dir)
    filteredTruthFrom(keep, emb)
  }

  /** Shared by [[annFiltered]] and [[annFilteredRecall]]: the eligible-id
    * frame and the normalized embedding frame — ONE definition, so the
    * monitor can never drift from the entry it monitors.
    */
  private def filteredSearchParts(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    (eligibleIds(s, dir), embNormed(s, dir))

  /** The eligibility predicate of the whole filtered-search family — the
    * ONE place the 'en' rule lives.
    */
  private def eligibleIds(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .filter(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))

  /** The PRE-filter exact top-5 over the eligible corpus — [[annFiltered]]'s
    * result and the recall monitor's ground truth.
    */
  private def filteredTruthFrom(keep: DataFrame, emb: DataFrame): DataFrame =
    bruteForceFrom(emb, corpus = emb.join(keep, Seq("vec_id"), "left_semi"))

  /** The recall monitor [[annFiltered]]'s Scaladoc promises: POST-filtering
    * a fixed unfiltered top-k starves under a selective predicate, while
    * PRE-filtering is exact over the eligible set (recall 1 by
    * construction — it IS the ground truth here). Per query: how many of
    * the pre-filter top-5 survive when the strategy is instead "take the
    * unfiltered top-5, then drop ineligible hits". An eligible neighbor
    * inside the unfiltered top-5 is necessarily inside the eligible top-5
    * (fewer than 5 candidates of ANY language beat it), so post_hits is
    * exactly the eligible count of the unfiltered top-5 — every non-'en'
    * row in that top-5 is an unrecoverable loss, which is the starvation
    * the row quantifies (0.0–0.8 on this corpus; never padded back).
    * Same broadcast-queries scoring kernel both strategies, one persisted
    * corpus pass shared.
    */
  def annFilteredRecall(s: SparkSession, dir: String): DataFrame = {
    val (keep, embRaw) = filteredSearchParts(s, dir)
    val emb = embRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val post = bruteForceFrom(emb)
      .join(broadcast(keep.withColumnRenamed("vec_id", "neighbor_id")),
        Seq("neighbor_id"), "left_semi")
    val recall = recallAt(filteredTruthFrom(keep, emb),
      RecallArm(post, hits = "post_hits", recall = "post_recall"))
    Lifecycle.released(recall, emb)
  }

  /** Filtered search on the IVF SCALE PATH: one index over the FULL corpus
    * serves every predicate (no per-predicate rebuild), the multi-probe
    * bucket selection depends only on the query, and the eligible-id semi
    * join restricts the probed candidates BEFORE the ranking pass
    * ([[ivfFrom]]'s `keep` arm). Emits the top-5 among eligible probed
    * candidates — the production ANN+metadata-filter pattern
    * [[annFiltered]]'s Scaladoc promises, with [[annFilteredIvfRecall]]
    * reporting its quality against the exact pre-filter truth.
    */
  def annFilteredIvf(s: SparkSession, dir: String,
                     cfg: IvfConfig = IvfConfig()): DataFrame = {
    val (emb, centroids) = buildIndex(s, dir, cfg)
    val out = ivfFrom(emb, centroids, cfg, keep = eligibleIds(s, dir))
    Lifecycle.released(out, emb, centroids)
  }

  /** Recall of the filtered-IVF search vs the exact pre-filter top-5 over
    * the eligible set: the quality dial a production deployment watches
    * when it tunes probes against a selective predicate (a filter shrinks
    * every probed bucket, so filtered recall needs MORE probes than the
    * unfiltered monitor suggests — this row is where that shows). Both
    * arms share one index build, the [[annRecall]] discipline.
    */
  def annFilteredIvfRecall(s: SparkSession, dir: String,
                           cfg: IvfConfig = IvfConfig()): DataFrame = {
    val (emb, centroids) = buildIndex(s, dir, cfg)
    val keep = eligibleIds(s, dir)
    val recall = recallAt(filteredTruthFrom(keep, emb),
      RecallArm(ivfFrom(emb, centroids, cfg, keep = keep)))
    Lifecycle.released(recall, emb, centroids)
  }

  // --- IVF with a real coarse quantizer -------------------------------

  /** IVF index configuration: centroid count, Lloyd refinement iterations,
    * and probe count. The defaults hold recall@5 >= 0.9 vs brute force on
    * the synthetic corpus (essentially unclustered random vectors — the
    * hardest case for IVF); clustered production data gets the same recall
    * from fewer probes. Probe count is the recall/cost dial, k the
    * bucket-size/build-cost dial; [[annRecall]] reports the recall of any
    * configuration continuously, per query.
    */
  final case class IvfConfig(k: Int = 8, iters: Int = 2, probes: Int = 3) {
    require(k > 0 && iters >= 0 && probes > 0)
  }

  /** Quantized vector: floor(x * 10000) per component. All quantizer math is
    * then *exact* int64 — component sums are order-independent (safe to
    * shuffle-aggregate) and every dot product stays < 2^53, so the one cast
    * to DOUBLE for the per-count mean score is exact too: DuckDB re-derives
    * centroid scores bit-identically, which is what makes a k-means
    * iteration oracle-checkable at all.
    */
  private val qExpr = "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT))"
  private def idot(a: String, b: String): String = s"vec_dot($a, $b)"

  /** Nearest-centroid assignment by mean-dot score (exact int dot / count),
    * lowest cid wins ties. Centroids are broadcast, and the argmax is a
    * `max_by` over a totally-ordered key (score, then -cid breaks ties
    * deterministically — identical to the row_number window it replaced):
    * a partial-aggregable groupBy, so the n x k score rows combine MAP-SIDE
    * to one row per vector before any shuffle — at corpus scale that beats
    * a window's full n x k shuffle + per-group sort. The per-vector payload
    * (v, q, nv) is constant within a group, so first() is value-
    * deterministic.
    */
  private def assignBuckets(emb: DataFrame, centroids: DataFrame): DataFrame =
    emb.crossJoin(broadcast(centroids))
      .selectExpr("vec_id", "v", "q", "nv", "cid",
        s"CAST(${idot("q", "s")} AS DOUBLE) / cnt AS score")
      .groupBy(col("vec_id"))
      .agg(
        first(col("v")).as("v"), first(col("q")).as("q"), first(col("nv")).as("nv"),
        expr("max_by(cid, named_struct('score', score, 'negcid', -cid))").as("bucket"))
      .select(col("vec_id"), col("v"), col("q"), col("nv"), col("bucket"))

  /** Centroid update: per-component exact int64 sums + member count. The
    * shuffle after partial aggregation is bounded by k x dim rows — the
    * classic distributed k-means update, corpus-size independent. A bucket
    * that empties simply drops (k shrinks deterministically).
    */
  private def recomputeCentroids(assigned: DataFrame): DataFrame =
    assigned.select(col("bucket"), posexplode(col("q")))
      .groupBy(col("bucket"), col("pos"))
      .agg(sum(col("col")).as("sm"), count(lit(1)).as("cnt"))
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(struct(col("pos"), col("sm")))).as("ps"),
        min(col("cnt")).as("cnt"))
      .selectExpr("bucket AS cid", "transform(ps, p -> p.sm) AS s", "cnt")

  /** IVF ANN with a real coarse quantizer: `cfg.k` centroids seeded from the
    * first k vectors, refined by `cfg.iters` deterministic Lloyd iterations
    * over the quantized vectors, then multi-probe search (nearest
    * `cfg.probes` buckets per query) with exact cosine ranking inside the
    * probed buckets — always bucket-blocked, never all-pairs. See
    * [[annRecall]] for the measured recall against [[annBruteForce]].
    */
  /** The trained model parameters of the similarity family — centroid
    * tables and PQ codebooks, k x dim / m x codes x subdim longs (KBs at any
    * corpus scale) — shared across the catalog entries that search one
    * logical index, via the blessed [[DriverMemo]] pattern (the PCA chain
    * precedent). A production session KEEPS its trained coarse quantizer —
    * it IS the stored index state ([[annIvfIncremental]] already freezes
    * it); re-deriving the Lloyd/codebook chain per entry re-ran a ~15-job
    * nested-broadcast cascade for bit-identical rows. The first consumer
    * pays the full chain (Bench archives it as the `cold` number); replays
    * are a local relation — statistics-bearing, trivially broadcastable,
    * nothing cached (CacheLifecycleSpec's contract).
    */
  private val indexMemo = new DriverMemo[(String, String)]

  private[graft] def indexMemoInvalidate(): Unit = indexMemo.invalidate()

  /** The IVF index's per-vector projection (vec_id, v, q, nv): widened,
    * quantized and norm, once per vector behind a persist barrier.
    */
  private def indexEmb(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    Tables(s, dir, "embeddings")
      .selectExpr("vec_id", s"$toDouble AS v", s"$qExpr AS q")
      .selectExpr("vec_id", "v", "q", s"${norm("v")} AS nv")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Shared IVF index build: [[indexEmb]], seeded centroids, `cfg.iters`
    * Lloyd rounds. Returns (emb [persisted], centroids [memoized local
    * relation]).
    */
  private def buildIndex(s: SparkSession, dir: String, cfg: IvfConfig): (DataFrame, DataFrame) = {
    val emb = indexEmb(s, dir)
    val centroids = indexMemo.cached(s, (dir, s"ivf-${cfg.k}-${cfg.iters}")) {
      var c = emb.filter(col("vec_id") < cfg.k)
        .selectExpr("vec_id AS cid", "q AS s", "CAST(1 AS BIGINT) AS cnt")
      for (_ <- 1 to cfg.iters)
        c = recomputeCentroids(assignBuckets(emb, c))
      c
    }
    (emb, centroids)
  }

  def annIvf(s: SparkSession, dir: String, cfg: IvfConfig = IvfConfig()): DataFrame = {
    val (emb, centroids) = buildIndex(s, dir, cfg)
    Lifecycle.released(ivfFrom(emb, centroids, cfg), emb, centroids)
  }

  /** Incremental IVF index maintenance — the continuously-ingesting shape
    * next to [[DedupQueries.dedupIncremental]]: the coarse quantizer is
    * built (seeded + Lloyd-refined) on the BASE corpus only, then each
    * arriving DELTA vector is assigned to its nearest frozen centroid with
    * one broadcast map-side pass. The delta path touches nothing but the
    * delta rows and the k x dim centroid table: no Lloyd re-run, no base
    * re-scan, no shuffle of anything corpus-sized — at 100 TB the stored
    * index state a production system keeps IS that bounded centroid table,
    * and this entry is the per-batch maintenance job that consumes it
    * (periodic re-clustering stays an offline [[annIvf]]-shaped rebuild).
    * Here the base split is `vec_id % deltaMod != deltaMod - 1` so the same
    * rule holds at every scale factor; the assignment score is the exact
    * int64 dot with ONE IEEE division (the house determinism rule), so the
    * per-vector (bucket, score) pair is hash-gated against DuckDB.
    */
  val DeltaMod = 5
  def annIvfIncremental(s: SparkSession, dir: String,
                        cfg: IvfConfig = IvfConfig(), deltaMod: Int = DeltaMod): DataFrame = {
    require(deltaMod >= 2, "deltaMod must be >= 2 (deltaMod - 1 selects the delta stratum)")
    val emb = indexEmb(s, dir)
    val base = emb.filter(col("vec_id") % deltaMod =!= (deltaMod - 1))
    // base-corpus quantizer, memoized like [[buildIndex]]'s (distinct key:
    // it is trained on the base stratum only)
    val frozen = indexMemo.cached(s, (dir, s"ivf-inc-${cfg.k}-${cfg.iters}-$deltaMod")) {
      var c = base.filter(col("vec_id") < cfg.k)
        .selectExpr("vec_id AS cid", "q AS s", "CAST(1 AS BIGINT) AS cnt")
      for (_ <- 1 to cfg.iters)
        c = recomputeCentroids(assignBuckets(base, c))
      c
    }
    val out = emb.filter(col("vec_id") % deltaMod === (deltaMod - 1))
      .crossJoin(broadcast(frozen))
      .selectExpr("vec_id", "cid", s"CAST(${idot("q", "s")} AS DOUBLE) / cnt AS score")
      .groupBy(col("vec_id"))
      .agg(expr("max_by(cid, named_struct('score', score, 'negcid', -cid))").as("bucket"),
        max(col("score")).as("score"))
      .selectExpr("vec_id", "CAST(bucket AS BIGINT) AS bucket", "score")
    Lifecycle.released(out, emb, frozen)
  }

  /** The multi-probe search over an already-built index. With `keep`, the
    * probed candidates are restricted to the eligible ids BEFORE ranking —
    * the filtered-search pattern on the IVF scale path: ONE index serves
    * every predicate (no per-predicate rebuild), the bucket probe depends
    * only on the query, and eligibility is an equi-semi-join on the
    * bucket-assigned rows (pushable below the scoring pass; broadcastable
    * when the eligible set is small, shuffle otherwise — the planner
    * decides from the dimension scan's stats).
    */
  private def ivfFrom(emb: DataFrame, centroids: DataFrame, cfg: IvfConfig,
                      keep: DataFrame = null,
                      preAssigned: DataFrame = null): DataFrame = {
    // preAssigned: search over a STORED assignment table (the delete-
    // maintenance path anti-joins it) instead of re-deriving the map-side
    // assignment; queries still come from `emb`, so passing a restricted
    // frame there restricts who searches
    val assignedAll = Option(preAssigned).getOrElse(assignBuckets(emb, centroids))
    val assigned = Option(keep)
      .map(k => assignedAll.join(k, Seq("vec_id"), "left_semi"))
      .getOrElse(assignedAll)
    val probes = emb.filter(col("vec_id") < 10).crossJoin(broadcast(centroids))
      .selectExpr("vec_id AS query_id", "v AS qv", "nv AS qnv", "cid",
        s"CAST(${idot("q", "s")} AS DOUBLE) / cnt AS score")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("cid").asc)))
      .filter(col("rk") <= cfg.probes)
      .select(col("query_id"), col("qv"), col("qnv"), col("cid").as("bucket"))
    val sims = broadcast(probes).join(assigned, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .selectExpr("query_id", "bucket", "vec_id AS neighbor_id",
        s"${dot("qv", "v")} / (qnv * nv) AS sim")
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)
    sims.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("bucket").cast("long").as("bucket"),
        col("neighbor_id"), col("rk"))
  }

  /** Recall accounting for the IVF index: per query, how many of the exact
    * brute-force top-5 the multi-probe IVF search recovered — the continuous
    * quality report a production deployment watches when it retunes
    * (k, iters, probes). Both arms share ONE index build: the persisted
    * per-vector projection (v, q, nv) and the refined centroids are computed
    * once and feed the exact scan and the multi-probe search — a recall
    * monitor that ran the embedding projection twice would double its own
    * cost for no information.
    */
  def annRecall(s: SparkSession, dir: String, cfg: IvfConfig = IvfConfig()): DataFrame = {
    val (emb, centroids) = buildIndex(s, dir, cfg)
    val recall = recallAt(bruteForceFrom(emb), RecallArm(ivfFrom(emb, centroids, cfg)))
    Lifecycle.released(recall, emb, centroids)
  }

  /** K-means cluster profile over the IVF buckets — the corpus-clustering
    * view of the same index (topic/domain balance reporting in a training
    * mix). Per-bucket stats are one bounded groupBy over the map-side
    * assignment; `sum_q1` (exact int64 sum of the first quantized
    * component) is the order-independent centroid witness that makes the
    * profile oracle-checkable.
    */
  def embKmeans(s: SparkSession, dir: String, cfg: IvfConfig = IvfConfig()): DataFrame = {
    val (emb, centroids) = buildIndex(s, dir, cfg)
    val profile = assignBuckets(emb, centroids)
      .selectExpr("CAST(bucket AS BIGINT) AS bucket", "vec_id", "element_at(q, 1) AS q1")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("min_vec"),
        max(col("vec_id")).as("max_vec"), sum(col("q1")).as("sum_q1"))
    Lifecycle.released(profile, emb, centroids)
  }

  // --- product quantization (ADC) --------------------------------------

  /** Product-quantization ANN (IVF-PQ's compression half): split each
    * 64-dim vector into 8 subspaces of 8 dims, learn 16 codewords per
    * subspace (one quantized-Lloyd round over the exact-int sub-vectors),
    * and store the corpus as 8 small codes per vector — a 32x memory
    * compression that is what actually fits a 100 TB corpus' index in
    * executor memory. Search is asymmetric distance computation: the query
    * precomputes a (subspace x codeword) term table — queries x 8 x 16 rows,
    * broadcast — and every corpus vector's score is the sum of 8 table
    * lookups; the full vectors are never touched after encoding.
    *
    * Determinism: sub-dots are exact int64 (quantized components), each
    * term does ONE IEEE division, and the 8 terms fold in subspace order
    * (`aggregate(sort_array(...))` here, `list_reduce(list(... ORDER BY
    * sub))` in the oracle) — bit-identical across engines, so the PQ top-5
    * itself is hash-gated, not just a recall bound. Recall on THIS corpus
    * is the documented PQ worst case (uniform random vectors have no
    * cluster structure for the codebook to exploit); [[annPqRecall]]
    * reports it per query, exactly.
    */
  def annPq(s: SparkSession, dir: String, cfg: PqConfig = PqConfig()): DataFrame = {
    val (subs, cb, top) = pqTop(s, dir, cfg)
    Lifecycle.released(top, subs, cb)
  }

  /** Per-query hits of the PQ top-5 against the exact brute-force top-5 —
    * exact values, oracle-reproduced (no threshold: random vectors are the
    * PQ worst case and the honest number IS the report).
    */
  def annPqRecall(s: SparkSession, dir: String, cfg: PqConfig = PqConfig()): DataFrame = {
    val (subs, cb, top) = pqTop(s, dir, cfg)
    val emb = embNormed(s, dir).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val recall = recallAt(bruteForceFrom(emb), RecallArm(top))
    Lifecycle.released(recall, subs, cb, emb)
  }

  /** Build the PQ index and run the ADC search; returns the persisted
    * barriers (sub-vectors, codebook) with the lazy top-5 frame so callers
    * control release. Kept `private[ops]` lazy for plan inspection.
    */
  /** PQ configuration: subspace count x codebook size is the
    * compression/recall dial (memory per vector = m codes; finer subspaces
    * or more codewords raise recall and cost). Subspace width is derived
    * from the fixed 64-dim corpus; defaults pin the catalog oracle.
    */
  final case class PqConfig(m: Int = 8, codes: Int = 16) {
    require(m > 0 && 64 % m == 0, "subspace count must divide the dimension")
    require(codes > 0)
    val subDim: Int = 64 / m
  }

  /** The PQ index pieces over the corpus: persisted sub-vectors and trained
    * codebook, plus the lazy encoded corpus (m codes per vector) and the
    * query ADC term table — shared by the pure-PQ search ([[pqTop]]) and
    * the combined IVF-pruned search ([[annIvfPq]]).
    */
  /** @param qSource optional (vec_id, q) frame to slice sub-vectors from —
    *                 [[annIvfPq]] passes the IVF build's persisted projection
    *                 so the corpus is scanned and quantized once, not twice.
    */
  private def pqIndex(s: SparkSession, dir: String, cfg: PqConfig,
      qSource: Option[DataFrame] = None): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.registerAll(s)
    // guard the memo invariant (round-12 advice): the codebook memo key
    // below deliberately omits qSource because every legal qSource is the
    // SAME qExpr projection of the same embeddings table — a caller passing
    // a differently-derived (vec_id, q) frame would silently replay a stale
    // codebook, so at least the shape contract is enforced here and the
    // derivation contract is documented on the parameter.
    qSource.foreach { src =>
      require(src.columns.sameElements(Array("vec_id", "q")),
        s"pqIndex qSource must be the IVF build's (vec_id, q) qExpr projection, " +
          s"got columns [${src.columns.mkString(", ")}]")
    }
    val subs = qSource.getOrElse(
        Tables(s, dir, "embeddings").selectExpr("vec_id", s"$qExpr AS q"))
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${cfg.m - 1}), j -> named_struct('sub', j, " +
          s"'qs', slice(q, j*${cfg.subDim}+1, ${cfg.subDim})))")).as("sj"))
      .selectExpr("vec_id", "sj.sub AS sub", "sj.qs AS qs")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one quantized-Lloyd round from the first-`codes` seed, per subspace
    val cb0 = subs.filter(col("vec_id") < cfg.codes)
      .selectExpr("sub", "vec_id AS code", "qs AS s", "CAST(1 AS BIGINT) AS cnt")
    def assign(cb: DataFrame): DataFrame =
      subs.join(broadcast(cb), Seq("sub"))
        .selectExpr("vec_id", "sub", "qs", "code",
          s"CAST(${idot("qs", "s")} AS DOUBLE) / cnt AS score")
        .groupBy(col("vec_id"), col("sub"))
        .agg(first(col("qs")).as("qs"),
          expr("max_by(code, named_struct('score', score, 'negcode', -code))").as("code"))
    // trained codebook, memoized (m x codes x subdim longs — KBs). The key
    // ignores qSource deliberately: both sources are the SAME qExpr over the
    // same embeddings table, so the sub-vector values (hence the trained
    // codebook) are bit-identical either way.
    val cb1 = indexMemo.cached(s, (dir, s"pq-${cfg.m}-${cfg.codes}")) {
      assign(cb0)
        .select(col("sub"), col("code"), posexplode(col("qs")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(sum(col("col")).as("sm"), count(lit(1)).as("cnt"))
        .groupBy(col("sub"), col("code"))
        .agg(sort_array(collect_list(struct(col("pos"), col("sm")))).as("ps"),
          min(col("cnt")).as("cnt"))
        .selectExpr("sub", "code", "transform(ps, p -> p.sm) AS s", "cnt")
    }
    val encoded = assign(cb1).select(col("vec_id"), col("sub"), col("code"))
    val qtab = subs.filter(col("vec_id") < 10).join(broadcast(cb1), Seq("sub"))
      .selectExpr("vec_id AS query_id", "sub", "code",
        s"CAST(${idot("qs", "s")} AS DOUBLE) / cnt AS term")
    (subs, cb1, encoded, qtab)
  }

  private[ops] def pqTop(s: SparkSession, dir: String,
      cfg: PqConfig = PqConfig()): (DataFrame, DataFrame, DataFrame) = {
    val (subs, cb1, encoded, qtab) = pqIndex(s, dir, cfg)
    val adc = encoded.join(broadcast(qtab), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(expr("aggregate(sort_array(collect_list(named_struct('sub', sub, 'term', term)))," +
        " CAST(0 AS DOUBLE), (acc, x) -> acc + x.term)").as("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id").asc)
    val top = adc.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rk").cast("int").as("rk"))
    (subs, cb1, top)
  }

  /** IVF-PQ: the two halves of a production vector index composed — the
    * coarse quantizer PRUNES (only the query's nearest `probes` buckets are
    * searched) and the product quantizer COMPRESSES (candidates are scored
    * from m codes via the broadcast ADC term table; full vectors are never
    * touched after encoding). This is the FAISS-style IVFPQ search shape at
    * 100 TB: per query the work is |probed buckets| x m table lookups, the
    * index state is k centroids + m x codes codewords + m codes per corpus
    * vector. Codes here are learned on the raw sub-vectors (not centroid
    * residuals): residual encoding would put a non-integral centroid mean
    * inside the quantized arithmetic and break the exact-int determinism
    * that lets the whole search be hash-gated against DuckDB — the pruning/
    * compression plan shape is identical, recall on clustered data differs
    * by a constant the recall entries already monitor.
    *
    * Plan shape: candidates = bucket-blocked equi-join (assigned x broadcast
    * probes), then the ADC expansion runs ONLY on candidate pairs
    * (cand join encoded on vec_id, m rows per candidate), then one
    * partial-aggregated fold per (query, candidate). Never all-pairs.
    */
  def annIvfPq(s: SparkSession, dir: String, ivfCfg: IvfConfig = IvfConfig(),
               pqCfg: PqConfig = PqConfig()): DataFrame = {
    val (barriers, _, top) = ivfPqTop(s, dir, ivfCfg, pqCfg)
    Lifecycle.released(top, barriers: _*)
  }

  /** Per-query hits of the composed IVF-PQ search against the exact
    * brute-force top-5 — the recall monitor for the production index shape
    * (its misses compound: a true neighbor outside the probed buckets OR
    * quantized away by the codebook). Shares the one persisted projection
    * with both arms.
    */
  def annIvfPqRecall(s: SparkSession, dir: String, ivfCfg: IvfConfig = IvfConfig(),
                     pqCfg: PqConfig = PqConfig()): DataFrame = {
    val (barriers, emb, top) = ivfPqTop(s, dir, ivfCfg, pqCfg)
    Lifecycle.released(recallAt(bruteForceFrom(emb), RecallArm(top)), barriers: _*)
  }

  /** The composed search: (persisted barriers, the shared per-vector
    * projection, the lazy IVF-pruned ADC top-5). With `keep`, the
    * bucket-assigned candidates are restricted to the eligible ids BEFORE
    * the probe join and the ADC ranking — the filtered-search pattern on
    * the full production index shape ([[ivfFrom]]'s `keep` arm composed
    * with PQ compression): ONE quantized index serves every predicate at
    * 100 TB memory budgets, no per-predicate rebuild, pre-filter not
    * post-filter top-k.
    */
  private def ivfPqTop(s: SparkSession, dir: String, ivfCfg: IvfConfig,
      pqCfg: PqConfig, keep: DataFrame = null): (Seq[DataFrame], DataFrame, DataFrame) = {
    val (emb, centroids) = buildIndex(s, dir, ivfCfg)
    val (subs, cb, encoded, qtab) =
      pqIndex(s, dir, pqCfg, qSource = Some(emb.select(col("vec_id"), col("q"))))
    val assignedAll = assignBuckets(emb, centroids).select(col("vec_id"), col("bucket"))
    val assigned = Option(keep)
      .map(k => assignedAll.join(k, Seq("vec_id"), "left_semi"))
      .getOrElse(assignedAll)
    val probes = emb.filter(col("vec_id") < 10).crossJoin(broadcast(centroids))
      .selectExpr("vec_id AS query_id", "cid",
        s"CAST(${idot("q", "s")} AS DOUBLE) / cnt AS score")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("cid").asc)))
      .filter(col("rk") <= ivfCfg.probes)
      .select(col("query_id"), col("cid").as("bucket"))
    val cand = assigned.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    val adc = cand.join(encoded, Seq("vec_id"))
      .join(broadcast(qtab), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(expr("aggregate(sort_array(collect_list(named_struct('sub', sub, 'term', term)))," +
        " CAST(0 AS DOUBLE), (acc, x) -> acc + x.term)").as("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id").asc)
    val top = adc.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rk").cast("int").as("rk"))
    (Seq(emb, centroids, subs, cb), emb, top)
  }

  /** SemDeDup's within-bucket pair cut τ: [[embSemanticDedup]]'s default,
    * [[ivfDeleteParts]]' delete stream and both of their oracles.
    */
  private final val SemDedupMinCosine = 0.4

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding corpus with the SAME
    * quantized k-means the IVF index uses, compare pairs only WITHIN a
    * cluster, and drop every vector that near-duplicates (cosine ≥ τ) an
    * earlier one — keep-smallest-id, the engine-wide deterministic
    * survivor rule (the paper keeps the member farthest from the
    * centroid; the survivor CHOICE is policy, the cluster-blocked
    * pruning shape is the operator). Output: one row per vector with its
    * cluster, its keeper (`dup_of`, null for survivors), and the kept
    * flag — the frame a curation pipeline anti-joins the corpus against.
    *
    * Scale shape: the pair join is cluster-blocked — per-cluster
    * all-pairs, never corpus all-pairs — and the cluster count `cfg.k` is
    * THE dial: SemDeDup at production scale runs ~100k clusters so each
    * bucket stays bounded (~corpus/k vectors); the quantized-Lloyd build
    * cost is the one [[buildIndex]] already pays for IVF, shared here.
    * The threshold comparison is the same exact-arithmetic cosine the
    * verified embedding-LSH dedup thresholds on (the corpus margin to
    * τ = 0.4 is 1.3e-4 — far above cross-engine ULP).
    */
  def embSemanticDedup(s: SparkSession, dir: String,
                       cfg: IvfConfig = IvfConfig(),
                       minCosine: Double = SemDedupMinCosine): DataFrame = {
    val (emb, centroids) = buildIndex(s, dir, cfg)
    val assigned = assignBuckets(emb, centroids)
      .select(col("vec_id"), col("bucket"), col("v"), col("nv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = assigned.as("a").join(assigned.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .filter(expr(s"${dot("a.v", "b.v")} / (a.nv * b.nv) >= $minCosine"))
      .select(col("b.vec_id").as("vec_id"), col("a.vec_id").as("anchor"))
    val dupOf = pairs.groupBy(col("vec_id")).agg(min(col("anchor")).as("dup_of"))
    val out = assigned.select(col("vec_id"), col("bucket").cast("long").as("bucket"))
      .join(dupOf, Seq("vec_id"), "left")
      .selectExpr("vec_id", "bucket", "dup_of", "dup_of IS NULL AS kept")
    Lifecycle.released(out, emb, centroids, assigned)
  }

  // --- delete-aware IVF maintenance -------------------------------------

  /** The extra delete stratum beyond the SemDeDup prunes: a curation batch
    * also deletes by policy (takedowns, licence expiry) — `vec_id % 17 == 3`
    * here, which deletes query vector 3 too, so query eviction is exercised.
    */
  private[ops] val DeletePolicyMod = 17

  /** The delete-maintenance building blocks shared by [[annIvfDelete]] and
    * [[annIvfDeleteRecall]]: ONE index build (emb projections + frozen
    * centroids + the stored assignment table), the delete stream (SemDeDup's
    * pruned ids composed with the policy stratum), and the post-delete index
    * state — `assigned ANTI-JOIN deleted`, the production maintenance op: no
    * Lloyd re-run, no codebook retrain, no corpus re-scan; at 100 TB the
    * stored assignment table is the index and this anti-join (or its
    * delete-vector/tombstone equivalent) is the whole job.
    */
  private def ivfDeleteParts(s: SparkSession, dir: String, cfg: IvfConfig)
      : (Seq[DataFrame], DataFrame, DataFrame, DataFrame) = {
    val (emb, centroids) = buildIndex(s, dir, cfg)
    val assigned = assignBuckets(emb, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // SemDeDup's pruned ids over the SAME assignment (embSemanticDedup's
    // pair rule, verbatim): the dedup pipeline's removals ARE the organic
    // delete stream an index maintainer consumes
    val pruned = assigned.as("a").join(assigned.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .filter(expr(s"${dot("a.v", "b.v")} / (a.nv * b.nv) >= $SemDedupMinCosine"))
      .select(col("b.vec_id").as("vec_id"))
    val deleted = pruned
      .unionAll(emb.filter(col("vec_id") % DeletePolicyMod === 3).select(col("vec_id")))
      .distinct()
    val embAlive = emb.join(deleted, Seq("vec_id"), "left_anti")
    val assignedAlive = assigned.join(deleted, Seq("vec_id"), "left_anti")
    (Seq(emb, centroids, assigned), centroids, embAlive, assignedAlive)
  }

  /** Catalog entry: multi-probe search over the POST-DELETE index — deleted
    * vectors can no longer be returned as neighbors, a deleted query vector
    * no longer searches, and the index was maintained by the anti-join
    * alone (frozen centroids, stored assignments). Oracle-gated by the full
    * re-derivation: Lloyd chain, assignment, the SemDeDup pair rule, the
    * policy stratum, the anti-join, and the probed top-5 over survivors.
    */
  def annIvfDelete(s: SparkSession, dir: String,
                   cfg: IvfConfig = IvfConfig()): DataFrame = {
    val (barriers, centroids, embAlive, assignedAlive) = ivfDeleteParts(s, dir, cfg)
    val top = ivfFrom(embAlive, centroids, cfg, preAssigned = assignedAlive)
    Lifecycle.released(top, barriers: _*)
  }

  /** Catalog entry: recall monitored BEFORE vs AFTER the deletes — the
    * quality row a maintainer watches to decide when accumulated deletes
    * warrant an offline re-cluster (deletes thin the probed buckets, so
    * recall can only be defended, never improved, by the anti-join). Per
    * surviving query: IVF-vs-exact hits over the full corpus and over the
    * post-delete corpus, both arms sharing the ONE index build.
    */
  def annIvfDeleteRecall(s: SparkSession, dir: String,
                         cfg: IvfConfig = IvfConfig()): DataFrame = {
    val (barriers, centroids, embAlive, assignedAlive) = ivfDeleteParts(s, dir, cfg)
    val (emb, assigned) = (barriers.head, barriers(2))
    // the after-arm truth supplies the query set: surviving queries only
    val out = recallAt(bruteForceFrom(embAlive),
      RecallArm(ivfFrom(emb, centroids, cfg, preAssigned = assigned),
        hits = "hits_before", recall = "recall_before", truth = Some(bruteForceFrom(emb))),
      RecallArm(ivfFrom(embAlive, centroids, cfg, preAssigned = assignedAlive),
        hits = "hits_after", recall = "recall_after"))
    Lifecycle.released(out, barriers: _*)
  }

  /** Filtered search on the full production index shape: IVF pruning + PQ
    * compression + the eligibility semi-join BEFORE ADC ranking — one
    * quantized index serving every predicate (the [[annFilteredIvf]]
    * pattern at IVF-PQ memory budgets: m codes per corpus vector, full
    * vectors never touched after encoding). Emits the top-5 among
    * eligible probed candidates; [[annFilteredIvfPqRecall]] reports its
    * quality against the exact pre-filter truth.
    */
  def annFilteredIvfPq(s: SparkSession, dir: String,
                       ivfCfg: IvfConfig = IvfConfig(),
                       pqCfg: PqConfig = PqConfig()): DataFrame = {
    val (barriers, _, top) = ivfPqTop(s, dir, ivfCfg, pqCfg, keep = eligibleIds(s, dir))
    Lifecycle.released(top, barriers: _*)
  }

  /** Recall of the filtered IVF-PQ search vs the exact PRE-filter top-5
    * over the eligible corpus — the compounded-miss monitor for the
    * production shape (a true eligible neighbor can be outside the probed
    * buckets, quantized away by the codebook, or both; a selective filter
    * shrinks every probed bucket, so this needs more probes than the
    * unfiltered [[annIvfPqRecall]] suggests). Both arms share the one
    * index build.
    */
  def annFilteredIvfPqRecall(s: SparkSession, dir: String,
                             ivfCfg: IvfConfig = IvfConfig(),
                             pqCfg: PqConfig = PqConfig()): DataFrame = {
    val keep = eligibleIds(s, dir)
    val (barriers, emb, top) = ivfPqTop(s, dir, ivfCfg, pqCfg, keep = keep)
    Lifecycle.released(recallAt(filteredTruthFrom(keep, emb), RecallArm(top)), barriers: _*)
  }

  /** Array-column surface: dimension, element extraction, label. */
  def embStats(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings").selectExpr(
      "vec_id", "size(embedding) AS dim",
      "element_at(embedding, 1) AS e1", "element_at(embedding, 64) AS e64",
      "label")

  /** Scalar (int8) quantization of the embedding corpus: per-dimension
    * min/max over the whole corpus, each component mapped to a 0–255 code —
    * the standard 4x memory shrink (float32 → uint8) applied to ANN index
    * state before the fancier PQ codebooks, plus the per-vector squared
    * reconstruction error (the fidelity monitor that says whether SQ8 is
    * enough or PQ/IVF-PQ is needed).
    *
    * Scale shape: pass 1 explodes by dimension and partial-aggregates
    * min/max map-side (the shuffle carries `dim` rows per partition); the
    * 64-dim stats collapse to ONE broadcast row. Pass 2 is a pure map-side
    * projection — no shuffle touches the corpus. Determinism: components
    * are quantized to the exact int64 grid (floor(x*10000), the IVF/
    * covariance grid), so codes are pure integer arithmetic
    * (`((q−min)·255) div range`, all operands non-negative — Spark `div`
    * and DuckDB `//` agree) and the reconstruction error is an exact
    * integer sum — both engines produce bit-identical rows. The codes
    * array sits behind a graft_barrier: inlined, the error lambda would
    * re-run the code transform per component (the CollapseProject hazard).
    * The public column is the ARRAY<BIGINT> code vector (the shape a
    * downstream index consumes); the row-oriented compare harness can't
    * sort/hash array cells, so the CATALOG entry projects the comma-joined
    * derivation `array_join(codes, ',')` instead — the verify-path detail
    * stays out of the library signature (round-9 ADVICE).
    */
  def embQuantize(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    val q = Tables(s, dir, "embeddings").selectExpr("vec_id", s"$qExpr AS qv")
    q.crossJoin(broadcast(sq8Stats(q)))
      .selectExpr("vec_id", "qv", "mins", "rngs",
        "graft_barrier(transform(sequence(0, size(qv) - 1), i -> " +
          "CASE WHEN rngs[i] = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE ((qv[i] - mins[i]) * 255) div rngs[i] END)) AS codes")
      .selectExpr("vec_id", "codes",
        "aggregate(transform(sequence(0, size(qv) - 1), i -> " +
          "CASE WHEN rngs[i] = 0 THEN CAST(0 AS BIGINT) ELSE " +
          "(qv[i] - (mins[i] + (codes[i] * rngs[i]) div 255)) * " +
          "(qv[i] - (mins[i] + (codes[i] * rngs[i]) div 255)) END), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x) AS sq_err")
  }

  /** [[embQuantize]]'s per-dimension statistics as ONE broadcastable row:
    * (mins, ranges) on the exact milli grid, from a single exploded
    * partial-aggregated pass over the quantized corpus.
    */
  private def sq8Stats(q: DataFrame): DataFrame =
    q.select(posexplode(col("qv")))
      .groupBy(col("pos")).agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
      .agg(sort_array(collect_list(struct(col("pos"), col("mn"), col("mx")))).as("ps"))
      .selectExpr("transform(ps, p -> p.mn) AS mins",
        "transform(ps, p -> p.mx - p.mn) AS rngs")

  /** SQ8-reconstructed corpus: the exact integer each 0–255 code decodes to
    * on the milli grid, widened to DOUBLE for the search dot products (the
    * values are integers ≤ 10⁴, so the widening — and every product/sum
    * downstream — is exact).
    */
  private def sq8Recon(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    val q = Tables(s, dir, "embeddings").selectExpr("vec_id", s"$qExpr AS qv")
    q.crossJoin(broadcast(sq8Stats(q)))
      .selectExpr("vec_id", "qv",
        "transform(sequence(0, size(qv) - 1), i -> " +
          "CASE WHEN rngs[i] = 0 THEN CAST(mins[i] AS DOUBLE) " +
          "ELSE CAST(mins[i] + ((((qv[i] - mins[i]) * 255) div rngs[i]) * rngs[i]) div 255 AS DOUBLE) END) AS rvd")
  }

  /** Asymmetric SQ8 search: top-5 cosine of each full-precision query
    * (exact milli grid) against the RECONSTRUCTED corpus — what an ANN
    * serving tier does after shrinking its index 4x with [[embQuantize]].
    * Every dot product is a sum of exact-integer-valued doubles (< 2⁵³),
    * so the scores — and the ranking — are bit-deterministic across
    * engines. The reconstructed frame is built once behind a persist
    * barrier; queries broadcast against it (one corpus pass, no shuffle).
    */
  def annSq8(s: SparkSession, dir: String): DataFrame = {
    val recon = sq8ReconNormed(s, dir)
    Lifecycle.released(sq8TopFrom(recon), recon)
  }

  private def sq8ReconNormed(s: SparkSession, dir: String): DataFrame =
    sq8Recon(s, dir)
      .selectExpr("vec_id", "qv", "rvd", s"${norm("rvd")} AS nr")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private def sq8TopFrom(recon: DataFrame): DataFrame = {
    val queries = recon.filter(col("vec_id") < 10)
      .selectExpr("vec_id AS query_id", "transform(qv, x -> CAST(x AS DOUBLE)) AS qd")
      .selectExpr("query_id", "qd", s"${norm("qd")} AS nq")
    val sims = broadcast(queries).join(recon, col("vec_id") =!= col("query_id"))
      .selectExpr("query_id", "vec_id AS neighbor_id",
        s"${dot("qd", "rvd")} / (nq * nr) AS sim")
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)
    sims.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rk").cast("int").as("rk"))
  }

  /** Per-query hits of the SQ8 top-5 against the exact brute-force top-5 —
    * the fidelity monitor paired with [[embQuantize]]'s reconstruction
    * error: SQ8 holds recall ~0.9+ on the random corpus where PQ's coarse
    * codebooks drop much lower, at 4x memory instead of PQ's 32x — the
    * measured trade the two entries exist to expose.
    */
  def annSq8Recall(s: SparkSession, dir: String): DataFrame = {
    val recon = sq8ReconNormed(s, dir)
    val emb = embNormed(s, dir).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val recall = recallAt(bruteForceFrom(emb), RecallArm(sq8TopFrom(recon)))
    Lifecycle.released(recall, recon, emb)
  }

  /** Matryoshka (prefix-dimension) search: rank ALL candidates by cosine
    * over only the first [[MatPrefixDim]] components, keep the top
    * [[MatCandidates]], then rerank just those with the exact full-dimension
    * cosine — the adaptive-retrieval pattern for nested (matryoshka-trained)
    * embeddings, where the leading components carry most of the signal. The
    * coarse pass touches every pair but at prefix/full of the compute per
    * pair, and carries only (query, neighbor, score) — the full vectors
    * rejoin for the bounded rerank set only. Coarse scores are exact-integer
    * sums on the milli grid; the rerank is the identical expression to
    * [[annBruteForce]] — bit-deterministic end to end.
    *
    * Honesty note: the synthetic corpus is random (NOT matryoshka-trained),
    * so a 16-dim prefix keeps only part of the rank signal — the recall
    * monitor reports exactly that, which is the signal it exists to surface
    * (on real nested embeddings the prefix is constructed to preserve it).
    */
  def annMatryoshka(s: SparkSession, dir: String): DataFrame = {
    val emb = matIndex(s, dir)
    Lifecycle.released(matTopFrom(emb), emb)
  }

  private val MatPrefixDim = 16
  private val MatCandidates = 20

  /** Per-vector matryoshka projections: full-precision vector + norm, and
    * the exact-int prefix slice (as doubles) + its norm — one persisted
    * corpus pass shared by the coarse and rerank stages.
    */
  private def matIndex(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    Tables(s, dir, "embeddings")
      .selectExpr("vec_id", s"$toDouble AS v", s"$qExpr AS qm")
      .selectExpr("vec_id", "v",
        s"transform(slice(qm, 1, $MatPrefixDim), x -> CAST(x AS DOUBLE)) AS p")
      .selectExpr("vec_id", "v", "p", s"${norm("v")} AS nv", s"${norm("p")} AS np")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  private def matTopFrom(emb: DataFrame): DataFrame = {
    val queries = emb.filter(col("vec_id") < 10)
      .selectExpr("vec_id AS query_id", "p AS qp", "np AS nqp")
    // coarse pass: prefix-dim cosine only; carries 3 narrow columns per pair
    val coarse = broadcast(queries).join(emb, col("vec_id") =!= col("query_id"))
      .selectExpr("query_id", "vec_id AS neighbor_id",
        s"${dot("qp", "p")} / (nqp * np) AS csim")
    val cw = Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("neighbor_id").asc)
    val cand = coarse.withColumn("crk", row_number().over(cw))
      .filter(col("crk") <= MatCandidates)
      .select(col("query_id"), col("neighbor_id"))
    // rerank: the bounded candidate set rejoins the full vectors
    val qFull = emb.filter(col("vec_id") < 10)
      .selectExpr("vec_id AS query_id", "v AS qv", "nv AS nq")
    val reranked = cand
      .join(emb.selectExpr("vec_id AS neighbor_id", "v", "nv"), "neighbor_id")
      .join(broadcast(qFull), "query_id")
      .selectExpr("query_id", "neighbor_id", s"${dot("qv", "v")} / (nq * nv) AS sim")
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)
    reranked.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rk").cast("int").as("rk"))
  }

  /** Recall@5 of the matryoshka two-stage search against brute force — the
    * prefix-fidelity dial's monitor (see [[annMatryoshka]]'s honesty note).
    */
  def annMatryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = matIndex(s, dir)
    val recall = recallAt(bruteForceFrom(emb.select(col("vec_id"), col("v"), col("nv"))),
      RecallArm(matTopFrom(emb)))
    Lifecycle.released(recall, emb)
  }

  /** Hybrid retrieval with reciprocal rank fusion — the modern RAG serving
    * stack's standard recipe: a LEXICAL arm (distinct-shared-token overlap
    * against the corpus postings — the exact-integer core of BM25-style
    * keyword match) and a VECTOR arm (exact cosine over the aligned
    * embeddings) each rank their top-20 per query, then RRF combines them:
    * `score = Σ 1/(60 + rank)` over the arms that returned the doc — the
    * rank-only fusion that needs no score calibration between
    * incommensurable arms (Cormack et al.'s k = 60). Top-10 fused results
    * per query doc.
    *
    * Determinism: lexical scores are exact integer counts, each RRF term is
    * ONE division of exact integers, and their sum is two IEEE adds written
    * identically in both engines; all ranks are row_numbers over fully
    * tie-broken orders. Scale shape: query tokens and query vectors
    * broadcast; the postings join is token-keyed (never all-pairs), the
    * vector arm is one corpus pass; the fusion join touches ≤ 40 rows per
    * query.
    */
  def searchHybridRrf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    graft.functions.GraftFunctions.registerAll(s)
    val post = Tables(s, dir, "documents")
      .selectExpr("doc_id",
        s"explode(array_distinct(split(trim(lower(text)), '[${Tokenize.WsClassSql}]+'))) AS token")
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds the query AND corpus sides
    val qtok = post.filter(col("doc_id") < 5)
      .selectExpr("doc_id AS query_id", "token")
    val lw = Window.partitionBy(col("query_id"))
      .orderBy(col("shared").desc, col("doc_id").asc)
    val lexTop = broadcast(qtok).join(post, Seq("token"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("lrk", row_number().over(lw))
      .filter(col("lrk") <= 20)
      .select(col("query_id"), col("doc_id"), col("lrk"))
    val emb = embNormed(s, dir).withColumnRenamed("vec_id", "doc_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val qv = emb.filter(col("doc_id") < 5)
      .selectExpr("doc_id AS query_id", "v AS qv", "nv AS qn")
    val vw = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("doc_id").asc)
    val vecTop = broadcast(qv).join(emb, col("doc_id") =!= col("query_id"))
      .selectExpr("query_id", "doc_id", s"${dot("qv", "v")} / (qn * nv) AS sim")
      .withColumn("vrk", row_number().over(vw))
      .filter(col("vrk") <= 20)
      .select(col("query_id"), col("doc_id"), col("vrk"))
    val fw = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    val out = lexTop.join(vecTop, Seq("query_id", "doc_id"), "full_outer")
      .selectExpr("query_id", "doc_id",
        "coalesce(CAST(1 AS DOUBLE) / (60 + lrk), CAST(0 AS DOUBLE)) + " +
          "coalesce(CAST(1 AS DOUBLE) / (60 + vrk), CAST(0 AS DOUBLE)) AS rrf")
      .withColumn("rk", row_number().over(fw).cast("int"))
      .filter(col("rk") <= 10)
      .select(col("query_id"), col("doc_id"), col("rk"), col("rrf"))
    Lifecycle.released(out, post, emb)
  }

  /** Exact covariance matrix of the embedding corpus — the one-pass
    * statistic behind PCA/whitening-based dimensionality reduction (the
    * standard preprocessing before IVF/PQ at corpus scale). Emits the upper
    * triangle (i <= j, dim*(dim+1)/2 cells) of the CENTERED covariance.
    *
    * Scale shape: each row explodes to its triangle cells, but partial
    * aggregation collapses them to (cells-per-partition) before the single
    * bounded shuffle — the classic map-side-combined moment accumulation; no
    * driver-side matrix, no second pass for the mean (centering uses the
    * n*Spp - Si*Sj identity). Determinism: components are quantized to
    * exact int64 (floor(x*10000), the same grid as the IVF quantizer), all
    * sums stay integral (|q| <= 1e4+1, so n*Spp < 2^63 up to ~10^10 rows),
    * and the only IEEE arithmetic is the final left-to-right division
    * chain — bit-identical in DuckDB. The quantized array sits behind a
    * graft_barrier: inlined into the cell lambda, the transform would
    * re-run per cell (64x work, the CollapseProject hazard).
    */
  def embCovariance(s: SparkSession, dir: String): DataFrame =
    embCovarianceFrom(Tables(s, dir, "embeddings"))

  /** The covariance kernel over any frame with an `embedding` array column.
    *
    * Shape: each row posexplodes by DIMENSION (dim rows per doc, not the
    * dim*(dim+1)/2 per-cell structs of the first formulation — 32x fewer
    * generated rows at dim 64), and each i-group accumulates the dim product
    * sums `sum(qi * q[j])` plus the dim plain sums `sum(q[j])` as flat
    * aggregate expressions. Because every i-group contains each document
    * exactly once, the plain sums ARE the global per-dimension sums — so
    * every output row carries all of s1..sdim locally and no second corpus
    * pass (and no persist) is needed for the centering terms. The shuffled
    * state is dim rows x ~2*dim longs — same bounded footprint, far fewer
    * exploded rows. All sums are exact int64; the division chain and the
    * upper-triangle output are byte-identical to the oracle's.
    */
  def embCovarianceFrom(emb: DataFrame, dim: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.registerAll(emb.sparkSession)
    val aggs = count(lit(1)).as("n") +:
      ((1 to dim).map(j => sum(expr(s"qi * element_at(q, $j)")).as(s"s$j")) ++
        (1 to dim).map(j => sum(expr(s"element_at(q, $j)")).as(s"t$j")))
    emb
      .selectExpr(
        "graft_barrier(transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT))) AS q")
      .selectExpr("posexplode(q) AS (p, qi)", "q")
      .groupBy(col("p"))
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr("p + 1 AS i", "n",
        s"array(${(1 to dim).map(j => s"s$j").mkString(", ")}) AS spps",
        s"array(${(1 to dim).map(j => s"t$j").mkString(", ")}) AS sjs")
      .selectExpr("i", "n", "sjs", "posexplode(spps) AS (pj, spp)")
      .filter("i <= pj + 1")
      .selectExpr("CAST(i AS INT) AS i", "CAST(pj + 1 AS INT) AS j", "n",
        "CAST(n * spp - element_at(sjs, i) * element_at(sjs, pj + 1) AS DOUBLE)" +
          " / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) / 1e8 AS cov")
  }

  /** Principal components of the embedding corpus by power iteration with
    * deflation — PCA solved ON the engine, no driver-side linear algebra.
    * The corpus is touched exactly once ([[embCovarianceFrom]]'s single
    * pass); everything above it operates on the 64x64 covariance — a
    * KB-sized STATISTIC, not data — collapsed into ONE single-row frame so
    * the entire iteration chain (12 matrix-vector steps per component,
    * normalizations, Rayleigh quotient, deflation between components) is a
    * single chain of projections evaluated in one task. This replaces the
    * round-6 shape of 2 bounded Spark jobs per iteration (~4 s of pure
    * job-launch overhead at sf0.1) with zero extra jobs — same arithmetic,
    * same oracle bytes.
    *
    * Determinism (the oracle re-runs the identical arithmetic): every
    * matrix-vector component and every norm is a LEFT-TO-RIGHT fold in
    * index order seeded with +0.0 (Spark `aggregate` init; DuckDB
    * `list_reduce(list_prepend(0.0, ...))`), so the IEEE result is
    * bit-identical regardless of convergence — the oracle does not need the
    * iteration to have converged, only to be the same computation. Sign
    * follows the fold deterministically (v0 = all-positive). Deflation is
    * `m[i][k] - ev * v[i] * v[k]`, multiplications left-to-right in both
    * engines.
    *
    * Every intermediate (w, v, deflated m) sits behind a graft_barrier:
    * CollapseProject would otherwise inline each alias into every reference
    * inside the next step's lambdas, re-expanding the whole chain per array
    * element — exponential work across 12 iterations.
    */
  private val pcaMvW =
    "transform(m, row -> aggregate(sequence(1, 64), CAST(0 AS DOUBLE), " +
      "(acc, k) -> acc + element_at(row, k) * element_at(v, k)))"

  /** One-row frame (column `m`: row-major 64x64 nested array) holding the
    * symmetrized covariance. The (j, i) twins are emitted inline so the
    * covariance subtree appears exactly once in the plan.
    */
  private def pcaMatrixRowFrom(emb: DataFrame): DataFrame =
    embCovarianceFrom(emb)
      .selectExpr(
        """explode(CASE WHEN i = j THEN array(struct(i AS a, j AS b, cov))
          |ELSE array(struct(i AS a, j AS b, cov), struct(j AS a, i AS b, cov)) END) AS c""".stripMargin)
      .select(col("c.a").as("i"), col("c.b").as("j"), col("c.cov").as("m"))
      .groupBy(col("i"))
      .agg(expr("transform(array_sort(collect_list(struct(j, m))), x -> x.m)").as("mr"))
      .groupBy()
      .agg(expr("transform(array_sort(collect_list(struct(i, mr))), x -> x.mr)").as("m"))

  /** `iters` power-iteration steps + Rayleigh quotient on the 1-row frame:
    * consumes column `m` (and passes through `carry`), emits `v` (the unit
    * eigenvector estimate) and `eigenvalue`.
    */
  private def pcaPowerSolve(df: DataFrame, iters: Int, carry: Seq[String]): DataFrame = {
    val keep = "m" +: carry
    var cur = df.selectExpr(keep :+ "transform(sequence(1, 64), k -> 0.125D) AS v": _*)
    for (_ <- 1 to iters) {
      cur = cur.selectExpr(keep :+ s"graft_barrier($pcaMvW) AS w": _*)
        .selectExpr(keep :+ ("graft_barrier(transform(w, x -> x / " +
          "sqrt(aggregate(w, CAST(0 AS DOUBLE), (acc, y) -> acc + y * y)))) AS v"): _*)
    }
    cur.selectExpr(keep :+ "v" :+ s"graft_barrier($pcaMvW) AS w": _*)
      .selectExpr(keep :+ "v" :+ ("aggregate(sequence(1, 64), CAST(0 AS DOUBLE), " +
        "(acc, k) -> acc + element_at(w, k) * element_at(v, k)) AS eigenvalue"): _*)
  }

  /** The full top-k chain: returns the 1-row frame with columns
    * v1..vk (unit eigenvectors) and ev1..evk (eigenvalues), deflating the
    * broadcast-sized matrix between components — never a second corpus pass.
    */
  private[graft] def pcaChainFrom(emb: DataFrame, k: Int, iters: Int = 12): DataFrame = {
    require(k >= 1 && k <= 64 && iters >= 1)
    graft.functions.GraftFunctions.registerAll(emb.sparkSession)
    var cur = pcaMatrixRowFrom(emb)
    var carry = Seq.empty[String]
    for (c <- 1 to k) {
      cur = pcaPowerSolve(cur, iters, carry)
        .selectExpr(("m" +: carry) :+ s"v AS v$c" :+ s"eigenvalue AS ev$c": _*)
      carry = carry ++ Seq(s"v$c", s"ev$c")
      if (c < k) {
        val deflate = "transform(sequence(1, 64), i -> transform(sequence(1, 64), " +
          s"k -> element_at(element_at(m, i), k) - ev$c * element_at(v$c, i) * element_at(v$c, k)))"
        cur = cur.selectExpr(s"graft_barrier($deflate) AS m" +: carry: _*)
      }
    }
    cur.selectExpr(carry: _*)
  }

  /** Session-scoped memo of the PCA chain's 1-row result: SEVEN catalog
    * entries consume the same (dir, k) chain (power/topk/project/
    * project_topk/whiten/reduced/recall), and round-7 profiling showed the
    * family spending ~19% of the whole benchmark recomputing it. The chain
    * output is a KB-sized statistic (k unit vectors + eigenvalues in one
    * row), so it is collected ONCE per (session, dir, k, iters) and
    * replayed as a local relation — the same driver-side-statistic
    * discipline as the doubling loops' convergence flags; no cached
    * partitions, nothing in the block store, bit-identical values (the
    * replay IS the computed row). A long-lived production session gets the
    * same economics: the first consumer pays the corpus pass, the rest
    * broadcast the statistic. The cache key holds the session reference, so
    * a new session (or new data under a NEW dir) recomputes; regenerating
    * data under the SAME dir inside one session is the one case that must
    * call [[pcaChainInvalidate]].
    */
  private val pcaChainMemo = new DriverMemo[(String, Int, Int)]

  private[graft] def pcaChainInvalidate(): Unit = pcaChainMemo.invalidate()

  /** The memoized chain for catalog entries (kernels over arbitrary frames
    * keep calling [[pcaChainFrom]] directly).
    */
  private def pcaChainCached(s: SparkSession, dir: String, k: Int,
                             iters: Int = 12): DataFrame =
    pcaChainMemo.cached(s, (dir, k, iters))(
      pcaChainFrom(Tables(s, dir, "embeddings"), k, iters))

  /** Top principal component: (i, loading, eigenvalue). */
  def embPcaPower(s: SparkSession, dir: String, iters: Int = 12): DataFrame =
    pcaChainCached(s, dir, k = 1, iters)
      .selectExpr("posexplode(v1) AS (p, loading)", "ev1 AS eigenvalue")
      .selectExpr("CAST(p + 1 AS INT) AS i", "loading", "eigenvalue")

  /** The kernel over any frame with an `embedding` array column (64-dim). */
  def embPcaPowerFrom(emb: DataFrame, iters: Int = 12): DataFrame =
    pcaChainFrom(emb, k = 1, iters)
      .selectExpr("posexplode(v1) AS (p, loading)", "ev1 AS eigenvalue")
      .selectExpr("CAST(p + 1 AS INT) AS i", "loading", "eigenvalue")

  /** Top-[[PcaK]] components via deflation: (comp, i, loading, eigenvalue) —
    * the multi-component surface production whitening/reduction needs.
    */
  val PcaK = 3
  def embPcaTopk(s: SparkSession, dir: String, k: Int = PcaK): DataFrame =
    pcaChainCached(s, dir, k)
      .selectExpr(s"explode(array(${(1 to k).map(c =>
        s"struct($c AS comp, v$c AS v, ev$c AS eigenvalue)").mkString(", ")})) AS e")
      .selectExpr("e.comp AS comp", "posexplode(e.v) AS (p, loading)", "e.eigenvalue AS eigenvalue")
      .selectExpr("comp", "CAST(p + 1 AS INT) AS i", "loading", "eigenvalue")

  /** Dimensionality reduction applied to the corpus: every embedding
    * projected onto the [[embPcaPower]] eigenvector — one broadcast of the
    * 64-double component vector, one codegen'd `vec_dot` pass over the
    * corpus (vec_dot accumulates left-to-right in index order, exactly the
    * oracle's seeded fold). In production this is the first column of the
    * PCA-reduced representation that shrinks downstream ANN/dedup state.
    */
  def embPcaProject(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    Tables(s, dir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .crossJoin(broadcast(pcaChainCached(s, dir, k = 1)))
      .selectExpr("vec_id", "vec_dot(v, v1) AS pc1")
  }

  /** The k-column reduction: pc1..pck from ONE broadcast of the chain's
    * final row — the representation that shrinks downstream ANN/dedup state
    * by 64/k while touching the corpus once.
    */
  def embPcaProjectTopk(s: SparkSession, dir: String, k: Int = PcaK): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    pcaReducedFrom(s, dir, k, Tables(s, dir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v"))
  }

  /** Any (vec_id, v) frame projected onto the top-k chain: pc1..pck. */
  private def pcaReducedFrom(s: SparkSession, dir: String, k: Int, v: DataFrame): DataFrame =
    v.crossJoin(broadcast(pcaChainCached(s, dir, k)))
      .selectExpr("vec_id" +: (1 to k).map(c => s"vec_dot(v, v$c) AS pc$c"): _*)

  /** PCA whitening: each component projection scaled by 1/sqrt(eigenvalue)
    * so the reduced representation has unit variance per axis — the
    * standard preprocessing that makes downstream cosine/L2 metrics
    * comparable across components. Same single chain + one corpus pass as
    * [[embPcaProjectTopk]]; the scale is `vec_dot(v, vc) / sqrt(evc)`
    * (division AFTER the fold, one extra IEEE op — bit-identical in DuckDB).
    */
  def embPcaWhiten(s: SparkSession, dir: String, k: Int = PcaK): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    Tables(s, dir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .crossJoin(broadcast(pcaChainCached(s, dir, k)))
      .selectExpr("vec_id" +: (1 to k).map(c => s"vec_dot(v, v$c) / sqrt(ev$c) AS w$c"): _*)
  }

  /** ANN in the PCA-reduced space — what the reduction is FOR: the
    * [[embPcaProjectTopk]] chain shrinks every vector 64 -> [[PcaK]]
    * doubles, and search runs on the reduced columns (dot product over k
    * components — plain left-to-right arithmetic, no fold needed). At
    * corpus scale the reduced projection is the materialized index: 64/k
    * less state to shuffle/broadcast than raw embeddings, which is the
    * entire point of on-engine PCA. The reduced frame is built ONCE
    * (persisted, Lifecycle-released) and self-joined: queries broadcast,
    * corpus side streamed — the same shape as [[annBruteForce]], labeled
    * the reduced-space exactness baseline (an IVF over reduced vectors
    * composes exactly like [[annIvf]]).
    */
  def annPcaReduced(s: SparkSession, dir: String, k: Int = PcaK): DataFrame = {
    val red = embPcaProjectTopk(s, dir, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Lifecycle.released(pcaTopFrom(red, k), red)
  }

  /** The reduced-space top-5 over a persisted pc1..pck frame: queries
    * broadcast, score = the k-term dot, fully tie-broken rank.
    */
  private def pcaTopFrom(red: DataFrame, k: Int): DataFrame = {
    val queries = red.filter(col("vec_id") < 10)
      .selectExpr("vec_id AS query_id" +: (1 to k).map(c => s"pc$c AS qc$c"): _*)
    val score = (1 to k).map(c => s"qc$c * pc$c").mkString(" + ")
    val sims = broadcast(queries).join(red, col("vec_id") =!= col("query_id"))
      .selectExpr("query_id", "vec_id AS neighbor_id", s"$score AS score")
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    sims.withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rk"))
  }

  /** Recall monitor for the reduced-space search — the same continuous
    * measurement the IVF/PQ arms ship: reduced top-5 vs full-space exact
    * cosine top-5 per query. On THIS corpus recall is honestly LOW: random
    * vectors have no low-rank structure, so 3 components capture little of
    * the cosine ordering — exactly the signal the monitor exists to
    * surface (a production embedding corpus IS low-rank; the monitor tells
    * you how many components the reduction can afford). Hash-gated like
    * `ann_pq_recall`: the per-query hit counts, not a threshold, are the
    * pinned output.
    */
  def annPcaRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = embNormed(s, dir).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val red = pcaReducedFrom(s, dir, PcaK, emb.select(col("vec_id"), col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Lifecycle.released(recallAt(bruteForceFrom(emb), RecallArm(pcaTopFrom(red, PcaK))), emb, red)
  }

  /** Non-default exercise config for the parameterized surface: fewer,
    * larger buckets, one Lloyd round, 2 probes.
    */
  val AltConfig: IvfConfig = IvfConfig(k = 4, iters = 1, probes = 2)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_bruteforce" -> annBruteForce,
    "ann_ivf" -> ((s, dir) => annIvf(s, dir)),
    "ann_recall" -> ((s, dir) => annRecall(s, dir)),
    "ann_recall_alt" -> ((s, dir) => annRecall(s, dir, AltConfig)),
    "emb_kmeans" -> ((s, dir) => embKmeans(s, dir)),
    "emb_stats" -> embStats,
    "ann_filtered" -> annFiltered,
    "ann_filtered_recall" -> annFilteredRecall,
    "ann_filtered_ivf" -> ((s, dir) => annFilteredIvf(s, dir)),
    "ann_filtered_ivf_recall" -> ((s, dir) => annFilteredIvfRecall(s, dir)),
    // verify-path projection: the harness hash can't sort array cells, so
    // the catalog row joins the code vector; the library call keeps the array
    "emb_quantize" -> ((s, dir) => embQuantize(s, dir)
      .selectExpr("vec_id", "array_join(codes, ',') AS codes", "sq_err")),
    "ann_sq8" -> annSq8,
    "ann_sq8_recall" -> annSq8Recall,
    "ann_matryoshka" -> annMatryoshka,
    "ann_matryoshka_recall" -> annMatryoshkaRecall,
    "search_hybrid_rrf" -> searchHybridRrf,
    "ann_pq" -> ((s, dir) => annPq(s, dir)),
    "ann_pq_recall" -> ((s, dir) => annPqRecall(s, dir)),
    "ann_ivfpq" -> ((s, dir) => annIvfPq(s, dir)),
    "ann_ivfpq_recall" -> ((s, dir) => annIvfPqRecall(s, dir)),
    "ann_filtered_ivfpq" -> ((s, dir) => annFilteredIvfPq(s, dir)),
    "ann_filtered_ivfpq_recall" -> ((s, dir) => annFilteredIvfPqRecall(s, dir)),
    "emb_semantic_dedup" -> ((s, dir) => embSemanticDedup(s, dir)),
    "ann_ivf_delete" -> ((s, dir) => annIvfDelete(s, dir)),
    "ann_ivf_delete_recall" -> ((s, dir) => annIvfDeleteRecall(s, dir)),
    "ann_ivf_incremental" -> ((s, dir) => annIvfIncremental(s, dir)),
    "emb_covariance" -> embCovariance,
    "emb_pca_power" -> ((s, dir) => embPcaPower(s, dir)),
    "emb_pca_project" -> embPcaProject,
    "emb_pca_topk" -> ((s, dir) => embPcaTopk(s, dir)),
    "emb_pca_project_topk" -> ((s, dir) => embPcaProjectTopk(s, dir)),
    "emb_pca_whiten" -> ((s, dir) => embPcaWhiten(s, dir)),
    "ann_pca_reduced" -> ((s, dir) => annPcaReduced(s, dir)),
    "ann_pca_recall" -> annPcaRecall,
  )

  private val duckV = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
  private def duckDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i]))"

  /** The widened corpus `e(vec_id, v)` the exact oracles rank over. */
  private val duckEmb = s"e AS (SELECT vec_id, $duckV AS v FROM embeddings)"

  /** The eligible ('en') ids — [[eligibleIds]] re-derived. */
  private val duckKeep = "keep AS (SELECT doc_id AS vec_id FROM documents WHERE lang = 'en')"

  /** DuckDB twin of [[bruteForceFrom]]: CTE `name(query_id, neighbor_id,
    * rk)`, the exact cosine top-5 of every query (vec_id < 10) of
    * `queries` over `corpus`, self excluded, ties to the lower id. Both
    * relations expose (vec_id, v).
    */
  private def duckExactTop(name: String, queries: String, corpus: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, rk FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${duckDot("q.v", "c.v")} / (sqrt(${duckDot("q.v", "q.v")}) * sqrt(${duckDot("c.v", "c.v")})) DESC,
       |        c.vec_id ASC) AS INT) AS rk
       |    FROM $queries q JOIN $corpus c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10) t
       |  WHERE rk <= 5)""".stripMargin

  /** The PRE-filter truth `truth` over the eligible corpus `c` — the
    * [[filteredTruthFrom]] twin; needs `e` and `keep` in scope.
    */
  private val duckFilteredTruth =
    s"""c AS (SELECT e.vec_id, e.v FROM e JOIN keep USING (vec_id)),
       |${duckExactTop("truth", "e", "c")}""".stripMargin

  /** DuckDB twin of [[recallAt]]: after the CTE chain `ctes`, each arm's
    * hit count of its truth CTE in its approximate CTE, then per query of
    * `truth` the hits (BIGINT) and hits / 5 (DOUBLE).
    */
  private def duckRecall(ctes: String, truth: String, arms: RecallArm[String]*): String = {
    val counts = arms.zipWithIndex.map { case (arm, i) =>
      s"""hit_counts$i AS (
         |  SELECT t.query_id, count(1) AS hits
         |  FROM ${arm.truth.getOrElse(truth)} t JOIN ${arm.got} a
         |    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |  GROUP BY 1)""".stripMargin
    }
    val cols = arms.zipWithIndex.map { case (arm, i) =>
      s"""  CAST(coalesce(h$i.hits, 0) AS BIGINT) AS ${arm.hits},
         |  CAST(coalesce(h$i.hits, 0) AS DOUBLE) / 5.0 AS ${arm.recall}""".stripMargin
    }
    s"""WITH $ctes,
       |${counts.mkString(",\n")}
       |SELECT qy.query_id,
       |${cols.mkString(",\n")}
       |FROM (SELECT DISTINCT query_id FROM $truth) qy
       |${arms.indices.map(i => s"LEFT JOIN hit_counts$i h$i ON h$i.query_id = qy.query_id").mkString("\n")}""".stripMargin
  }

  /** One DuckDB Lloyd step: assign by mean-dot (exact int dot cast DOUBLE /
    * count, cid-asc ties), then component sums + counts per bucket.
    */
  private def duckLloyd(prev: String, a: String, c: String, src: String = "e"): String =
    s"""$a AS (
       |  SELECT vec_id, v, q, bucket FROM (
       |    SELECT e.vec_id, e.v, e.q, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY CAST(${duckDot("e.q", "c.s")} AS DOUBLE) / c.cnt DESC, c.cid ASC) AS rk
       |    FROM $src e CROSS JOIN $prev c) t WHERE rk = 1),
       |$c AS (
       |  SELECT bucket AS cid, list(sm ORDER BY i) AS s, min(cn) AS cnt FROM (
       |    SELECT bucket, i, sum(q[i]) AS sm, count(1) AS cn
       |    FROM $a CROSS JOIN (SELECT unnest(range(1, 65)) AS i) GROUP BY 1, 2) t
       |  GROUP BY 1)""".stripMargin

  /** Shared CTE chain for the IVF oracle: quantized vectors, seeded
    * centroids, `cfg.iters` unrolled Lloyd iterations, final assignment,
    * multi-probe candidates ranked by exact cosine.
    */
  private def duckIvfCtes(cfg: IvfConfig, filtered: Boolean = false): String = {
    val lloyds = (1 to cfg.iters)
      .map(i => duckLloyd(s"c${i - 1}", s"a$i", s"c$i") + ",\n").mkString
    val cFinal = s"c${cfg.iters}"
    // the filtered variant restricts bucket-assigned candidates to the
    // eligible ids BEFORE ranking — ivfFrom's `keep` arm, re-derived
    val keepCte = if (filtered) s"$duckKeep,\n" else ""
    val assignedF = if (filtered)
      ",\nassigned_f AS (SELECT a.* FROM assigned a JOIN keep USING (vec_id))" else ""
    val candSrc = if (filtered) "assigned_f" else "assigned"
    s"""${keepCte}e AS (SELECT vec_id, $duckV AS v,
       |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, q AS s, CAST(1 AS BIGINT) AS cnt FROM e WHERE vec_id < ${cfg.k}),
       |${lloyds}assigned AS (
       |  SELECT vec_id, v, q, bucket FROM (
       |    SELECT e.vec_id, e.v, e.q, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY CAST(${duckDot("e.q", "c.s")} AS DOUBLE) / c.cnt DESC, c.cid ASC) AS rk
       |    FROM e CROSS JOIN $cFinal c) t WHERE rk = 1)$assignedF,
       |probes AS (
       |  SELECT query_id, qv, bucket FROM (
       |    SELECT e.vec_id AS query_id, e.v AS qv, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY CAST(${duckDot("e.q", "c.s")} AS DOUBLE) / c.cnt DESC, c.cid ASC) AS rk
       |    FROM e CROSS JOIN $cFinal c WHERE e.vec_id < 10) t WHERE rk <= ${cfg.probes}),
       |ivf_sims AS (
       |  SELECT p.query_id, p.bucket, a.vec_id AS neighbor_id,
       |    ${duckDot("p.qv", "a.v")} / (sqrt(${duckDot("p.qv", "p.qv")}) * sqrt(${duckDot("a.v", "a.v")})) AS sim
       |  FROM probes p JOIN $candSrc a ON a.bucket = p.bucket AND a.vec_id <> p.query_id),
       |ivf_top AS (
       |  SELECT query_id, bucket, neighbor_id, rk FROM (
       |    SELECT query_id, bucket, neighbor_id,
       |      CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rk
       |    FROM ivf_sims) t WHERE rk <= 5)""".stripMargin
  }

  /** The delete-maintenance oracle chain: the full-corpus index (Lloyd +
    * assignment), the SemDeDup pair rule + policy stratum as the delete
    * stream, the anti-join, and the post-delete probed top-5 — the
    * re-derivation of [[ivfDeleteParts]] + [[ivfFrom]]'s preAssigned arm.
    * Extends the IVF chain (`assigned` and the full-corpus `ivf_top`) with
    * `alive` and the post-delete `top_after`.
    */
  private def duckIvfDeleteCtes(cfg: IvfConfig): String = {
    val cFinal = s"c${cfg.iters}"
    s"""${duckIvfCtes(cfg)},
       |del_pairs AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb
       |  FROM assigned a JOIN assigned b
       |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE ${duckDot("a.v", "b.v")} /
       |    (sqrt(${duckDot("a.v", "a.v")}) * sqrt(${duckDot("b.v", "b.v")})) >= $SemDedupMinCosine),
       |del AS MATERIALIZED (
       |  SELECT DISTINCT vec_id FROM (
       |    SELECT vb AS vec_id FROM del_pairs
       |    UNION ALL SELECT vec_id FROM e WHERE vec_id % $DeletePolicyMod = 3) t),
       |alive AS MATERIALIZED (
       |  SELECT a.* FROM assigned a WHERE a.vec_id NOT IN (SELECT vec_id FROM del)),
       |probes_after AS (
       |  SELECT query_id, qv, bucket FROM (
       |    SELECT al.vec_id AS query_id, al.v AS qv, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY al.vec_id
       |        ORDER BY CAST(${duckDot("al.q", "c.s")} AS DOUBLE) / c.cnt DESC, c.cid ASC) AS rk
       |    FROM alive al CROSS JOIN $cFinal c WHERE al.vec_id < 10) t WHERE rk <= ${cfg.probes}),
       |sims_after AS (
       |  SELECT p.query_id, p.bucket, a.vec_id AS neighbor_id,
       |    ${duckDot("p.qv", "a.v")} / (sqrt(${duckDot("p.qv", "p.qv")}) * sqrt(${duckDot("a.v", "a.v")})) AS sim
       |  FROM probes_after p JOIN alive a ON a.bucket = p.bucket AND a.vec_id <> p.query_id),
       |top_after AS (
       |  SELECT query_id, bucket, neighbor_id, rk FROM (
       |    SELECT query_id, bucket, neighbor_id,
       |      CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rk
       |    FROM sims_after) t WHERE rk <= 5)""".stripMargin
  }

  /** The recall oracle for a given IVF config (shared by the default and
    * alternative catalog entries).
    */
  private def duckRecallSql(cfg: IvfConfig): String =
    duckRecall(s"${duckIvfCtes(cfg)},\n${duckExactTop("bf_top", "e", "e")}", "bf_top",
      RecallArm("ivf_top"))

  /** The incremental-maintenance oracle: quantizer trained on the base
    * stratum only (seeds + Lloyd over `b`), delta vectors assigned to the
    * frozen final centroids.
    */
  private def duckIvfIncrementalSql(cfg: IvfConfig, deltaMod: Int): String = {
    val lloyds = (1 to cfg.iters)
      .map(i => duckLloyd(s"c${i - 1}", s"a$i", s"c$i", src = "b") + ",\n").mkString
    val cFinal = s"c${cfg.iters}"
    s"""WITH e AS (SELECT vec_id, $duckV AS v,
       |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
       |  FROM embeddings),
       |b AS (SELECT * FROM e WHERE vec_id % $deltaMod <> ${deltaMod - 1}),
       |c0 AS (SELECT vec_id AS cid, q AS s, CAST(1 AS BIGINT) AS cnt FROM b WHERE vec_id < ${cfg.k}),
       |${lloyds}scored AS (
       |  SELECT d.vec_id, c.cid, CAST(${duckDot("d.q", "c.s")} AS DOUBLE) / c.cnt AS score
       |  FROM e d CROSS JOIN $cFinal c WHERE d.vec_id % $deltaMod = ${deltaMod - 1})
       |SELECT vec_id, CAST(cid AS BIGINT) AS bucket, score FROM (
       |  SELECT vec_id, cid, score,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid ASC) AS rk
       |  FROM scored) t WHERE rk = 1""".stripMargin
  }

  /** 8-dim sub-vector dot for the PQ oracle. */
  private def duckDot8(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 9), i -> $a[i] * $b[i]))"

  /** The PQ index chain WITHOUT the leading `e` CTE — reusable behind any
    * CTE set that already defines `e(vec_id, q, v)` (the IVF chain does, so
    * [[duckIvfPqSql]] composes prune + compress from one `e`).
    */
  private val duckPqIndexChain: String =
    s"""subs AS (SELECT vec_id, j AS sub, q[j*8+1 : j*8+8] AS qs
       |  FROM e CROSS JOIN (SELECT unnest(range(0, 8)) AS j)),
       |cb0 AS (SELECT sub, vec_id AS code, qs AS s, CAST(1 AS BIGINT) AS cnt
       |  FROM subs WHERE vec_id < 16),
       |pq_a1 AS (SELECT vec_id, sub, qs, code FROM (
       |  SELECT s.vec_id, s.sub, s.qs, c.code,
       |    row_number() OVER (PARTITION BY s.vec_id, s.sub
       |      ORDER BY CAST(${duckDot8("s.qs", "c.s")} AS DOUBLE) / c.cnt DESC, c.code ASC) AS rk
       |  FROM subs s JOIN cb0 c ON c.sub = s.sub) t WHERE rk = 1),
       |cb1 AS (SELECT sub, code, list(sm ORDER BY i) AS s, min(cn) AS cnt FROM (
       |  SELECT sub, code, i, sum(qs[i]) AS sm, count(1) AS cn
       |  FROM pq_a1 CROSS JOIN (SELECT unnest(range(1, 9)) AS i) GROUP BY 1, 2, 3) t GROUP BY 1, 2),
       |encoded AS (SELECT vec_id, sub, code FROM (
       |  SELECT s.vec_id, s.sub, c.code,
       |    row_number() OVER (PARTITION BY s.vec_id, s.sub
       |      ORDER BY CAST(${duckDot8("s.qs", "c.s")} AS DOUBLE) / c.cnt DESC, c.code ASC) AS rk
       |  FROM subs s JOIN cb1 c ON c.sub = s.sub) t WHERE rk = 1),
       |qtab AS (SELECT s.vec_id AS query_id, s.sub, c.code,
       |    CAST(${duckDot8("s.qs", "c.s")} AS DOUBLE) / c.cnt AS term
       |  FROM subs s JOIN cb1 c ON c.sub = s.sub WHERE s.vec_id < 10)""".stripMargin

  /** Shared CTE chain for the PQ oracles: exact-int sub-vectors, seeded
    * per-subspace codebooks, one Lloyd round, encoding, the query term
    * table, and the ADC top-5 (terms folded in subspace order via
    * list_reduce — the same left fold as the Spark aggregate()).
    */
  private val duckPqCtes: String =
    s"""e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q,
       |  $duckV AS v
       |  FROM embeddings),
       |$duckPqIndexChain,
       |adc AS (SELECT t.query_id, en.vec_id AS neighbor_id,
       |    list_reduce(list(t.term ORDER BY t.sub), (acc, x) -> acc + x) AS score
       |  FROM encoded en JOIN qtab t ON t.sub = en.sub AND t.code = en.code
       |  WHERE en.vec_id <> t.query_id GROUP BY 1, 2),
       |pq_top AS (SELECT query_id, neighbor_id, rk FROM (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id ASC) AS INT) AS rk
       |  FROM adc) t WHERE rk <= 5)""".stripMargin

  /** The composed IVF-PQ CTE chain (through `ivfpq_top`): IVF chain
    * (assigned + probes) and PQ chain (encoded + qtab) off the SAME `e`;
    * ADC restricted to the IVF-probed candidates. Shared by the search
    * oracle and its recall twin.
    */
  private lazy val duckIvfPqCtes: String = duckIvfPqCtesFor(filtered = false)

  /** The filtered variant sources candidates from `assigned_f` (the
    * eligible semi-join) — [[ivfPqTop]]'s `keep` arm re-derived.
    */
  private def duckIvfPqCtesFor(filtered: Boolean): String =
    s"""${duckIvfCtes(IvfConfig(), filtered)},
       |$duckPqIndexChain,
       |cand AS (
       |  SELECT p.query_id, a.vec_id FROM probes p
       |  JOIN ${if (filtered) "assigned_f" else "assigned"} a
       |    ON a.bucket = p.bucket AND a.vec_id <> p.query_id),
       |adcp AS (
       |  SELECT c.query_id, c.vec_id AS neighbor_id,
       |    list_reduce(list(t.term ORDER BY t.sub), (acc, x) -> acc + x) AS score
       |  FROM cand c
       |  JOIN encoded en ON en.vec_id = c.vec_id
       |  JOIN qtab t ON t.query_id = c.query_id AND t.sub = en.sub AND t.code = en.code
       |  GROUP BY 1, 2),
       |ivfpq_top AS (
       |  SELECT query_id, neighbor_id, rk FROM (
       |    SELECT query_id, neighbor_id,
       |      CAST(row_number() OVER (PARTITION BY query_id
       |        ORDER BY score DESC, neighbor_id ASC) AS INT) AS rk
       |    FROM adcp) t WHERE rk <= 5)""".stripMargin

  /** The covariance-cell derivation shared by the emb_covariance oracle and
    * the PCA oracle's matrix CTE (one source of truth for the cell math).
    */
  private val covCellsSql: String =
    """SELECT i, j, CAST(CAST(n AS BIGINT) * spp - si * sj AS DOUBLE)
      |    / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) / 1e8 AS cov
      |FROM (
      |  SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j,
      |    sum(q[p.i] * q[p.j]) AS spp, sum(q[p.i]) AS si, sum(q[p.j]) AS sj,
      |    count(1) AS n
      |  FROM (SELECT list_transform(embedding,
      |          x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
      |        FROM embeddings) e
      |  CROSS JOIN (
      |    SELECT a.i, b.j FROM (SELECT unnest(range(1, 65)) AS i) a,
      |                         (SELECT unnest(range(1, 65)) AS j) b
      |    WHERE a.i <= b.j) p
      |  GROUP BY 1, 2) z""".stripMargin

  private def sumFold(terms: String) =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $terms), (a, b) -> a + b)"

  /** The power-iteration CTE chain (through `ray(v, eigenvalue)`), shared by
    * the PCA oracle and the projection oracle.
    */
  private def pcaCtes(iters: Int): String = {
    val mv = (v: String) =>
      s"""SELECT list(wi ORDER BY i) AS w FROM (
         |  SELECT i, ${sumFold(s"list_transform(range(1, 65), k -> mr[k] * $v.v[k])")} AS wi
         |  FROM mr, $v) t""".stripMargin
    val steps = (1 to iters).map { t =>
      val prev = s"v${t - 1}"
      s"""w$t AS (${mv(prev)}),
         |v$t AS (SELECT list_transform(w, x -> x /
         |  sqrt(${sumFold("list_transform(w, y -> y * y)")})) AS v FROM w$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH cells AS ($covCellsSql),
       |m AS (SELECT i, j, cov FROM cells
       |      UNION ALL SELECT j AS i, i AS j, cov FROM cells WHERE i <> j),
       |mr AS (SELECT i, list(cov ORDER BY j) AS mr FROM m GROUP BY i),
       |v0 AS (SELECT list_transform(range(1, 65), k -> CAST(0.125 AS DOUBLE)) AS v),
       |$steps,
       |wf AS (${mv(s"v$iters")}),
       |ray AS (
       |  SELECT v$iters.v AS v,
       |    ${sumFold(s"list_transform(range(1, 65), k -> wf.w[k] * v$iters.v[k])")} AS eigenvalue
       |  FROM wf, v$iters)""".stripMargin
  }

  /** The multi-component (deflation) CTE chain through `ray1..rayK`. Every
    * step is `AS MATERIALIZED`: DuckDB 1.0 inlines single-reference CTEs, and
    * with deflation each component's chain references the previous
    * component's ENTIRE chain — inlined, the expansion is exponential in k
    * (the k=3 oracle never finished; materialized it runs in ~1 s).
    * Arithmetic is byte-identical to the Spark chain: same seeded folds,
    * deflation `mr[k] - ev * v[i] * v[k]` left-to-right.
    */
  private def pcaTopkCtes(k: Int, iters: Int): String = {
    def mv(mr: String, v: String) =
      s"""SELECT list(wi ORDER BY i) AS w FROM (
         |  SELECT i, ${sumFold(s"list_transform(range(1, 65), k -> mr[k] * $v.v[k])")} AS wi
         |  FROM $mr, $v) t""".stripMargin
    val comps = (1 to k).map { c =>
      val steps = (1 to iters).map { t =>
        s"""w${c}_$t AS MATERIALIZED (${mv(s"mr$c", s"v${c}_${t - 1}")}),
           |v${c}_$t AS MATERIALIZED (SELECT list_transform(w, x -> x /
           |  sqrt(${sumFold("list_transform(w, y -> y * y)")})) AS v FROM w${c}_$t)""".stripMargin
      }.mkString(",\n")
      val solve =
        s"""v${c}_0 AS (SELECT list_transform(range(1, 65), k -> CAST(0.125 AS DOUBLE)) AS v),
           |$steps,
           |wf$c AS MATERIALIZED (${mv(s"mr$c", s"v${c}_$iters")}),
           |ray$c AS MATERIALIZED (
           |  SELECT v${c}_$iters.v AS v,
           |    ${sumFold(s"list_transform(range(1, 65), k -> wf$c.w[k] * v${c}_$iters.v[k])")} AS eigenvalue
           |  FROM wf$c, v${c}_$iters)""".stripMargin
      val deflate = if (c < k)
        s""",
           |mr${c + 1} AS MATERIALIZED (
           |  SELECT mr$c.i AS i, list_transform(range(1, 65),
           |    k -> mr$c.mr[k] - ray$c.eigenvalue * ray$c.v[mr$c.i] * ray$c.v[k]) AS mr
           |  FROM mr$c, ray$c)""".stripMargin
      else ""
      solve + deflate
    }.mkString(",\n")
    s"""cells AS MATERIALIZED ($covCellsSql),
       |m AS (SELECT i, j, cov FROM cells
       |      UNION ALL SELECT j AS i, i AS j, cov FROM cells WHERE i <> j),
       |mr1 AS MATERIALIZED (SELECT i, list(cov ORDER BY j) AS mr FROM m GROUP BY i),
       |$comps""".stripMargin
  }

  /** DuckDB twin of [[embPcaTopk]]. */
  private def pcaTopkOracle(k: Int, iters: Int): String =
    s"""WITH ${pcaTopkCtes(k, iters)}
       |${(1 to k).map(c =>
      s"SELECT $c AS comp, CAST(kk AS INT) AS i, v[kk] AS loading, eigenvalue " +
        s"FROM ray$c, (SELECT unnest(range(1, 65)) AS kk)").mkString("\nUNION ALL\n")}""".stripMargin

  /** DuckDB twin of [[embPcaProjectTopk]]. */
  private def pcaProjectTopkOracle(k: Int, iters: Int): String =
    s"""WITH ${pcaTopkCtes(k, iters)}
       |SELECT vec_id,
       |${(1 to k).map(c =>
      s"  ${sumFold(s"list_transform(range(1, 65), k -> CAST(embedding[k] AS DOUBLE) * ray$c.v[k])")} AS pc$c")
      .mkString(",\n")}
       |FROM embeddings${(1 to k).map(c => s", ray$c").mkString}""".stripMargin

  /** DuckDB twin of [[embPcaWhiten]]. */
  private def pcaWhitenOracle(k: Int, iters: Int): String =
    s"""WITH ${pcaTopkCtes(k, iters)}
       |SELECT vec_id,
       |${(1 to k).map(c =>
      s"  ${sumFold(s"list_transform(range(1, 65), k -> CAST(embedding[k] AS DOUBLE) * ray$c.v[k])")} / sqrt(ray$c.eigenvalue) AS w$c")
      .mkString(",\n")}
       |FROM embeddings${(1 to k).map(c => s", ray$c").mkString}""".stripMargin

  /** The reduced-space search chain through `pca_top(query_id,
    * neighbor_id, rk)` — [[pcaTopFrom]] over the projected corpus.
    */
  private def pcaTopCtes(k: Int, iters: Int): String = {
    val projCols = (1 to k).map(c =>
      s"  ${sumFold(s"list_transform(range(1, 65), k -> CAST(embedding[k] AS DOUBLE) * ray$c.v[k])")} AS pc$c")
      .mkString(",\n")
    val score = (1 to k).map(c => s"q.qc$c * r.pc$c").mkString(" + ")
    s"""${pcaTopkCtes(k, iters)},
       |red AS MATERIALIZED (
       |  SELECT vec_id,
       |$projCols
       |  FROM embeddings${(1 to k).map(c => s", ray$c").mkString}),
       |q AS (SELECT vec_id AS query_id${(1 to k).map(c => s", pc$c AS qc$c").mkString}
       |      FROM red WHERE vec_id < 10),
       |pca_top AS (
       |  SELECT query_id, neighbor_id, rk FROM (
       |    SELECT q.query_id, r.vec_id AS neighbor_id,
       |      CAST(row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY $score DESC, r.vec_id ASC) AS INT) AS rk
       |    FROM q JOIN red r ON r.vec_id <> q.query_id) t WHERE rk <= 5)""".stripMargin
  }

  /** DuckDB twin of [[embPcaPower]]: the same left-to-right +0.0-seeded
    * folds, unrolled as `iters` chained CTEs.
    */
  private def pcaPowerOracle(iters: Int): String =
    s"""${pcaCtes(iters)}
       |SELECT CAST(k AS INT) AS i, v[k] AS loading, eigenvalue
       |FROM ray, (SELECT unnest(range(1, 65)) AS k)""".stripMargin

  /** DuckDB twin of [[embPcaProject]]. */
  private def pcaProjectOracle(iters: Int): String =
    s"""${pcaCtes(iters)}
       |SELECT vec_id,
       |  ${sumFold("list_transform(range(1, 65), k -> CAST(embedding[k] AS DOUBLE) * v[k])")} AS pc1
       |FROM embeddings, ray""".stripMargin

  /** Shared CTE chain for the SQ8 oracles: quantize → per-dim stats →
    * reconstruct → asymmetric top-5 (`sq_top`). Mirrors [[sq8Recon]] /
    * [[sq8TopFrom]] term for term; every value before the final cosine
    * division is an exact integer, so `//` vs `div` and list order are
    * immaterial.
    */
  private val sq8TopCtes: String =
    """q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |d AS (
      |  SELECT i.i AS dim, min(qv[i.i]) AS mn, max(qv[i.i]) AS mx
      |  FROM q CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i GROUP BY 1),
      |s AS (SELECT list(mn ORDER BY dim) AS mins, list(mx - mn ORDER BY dim) AS rngs FROM d),
      |r AS MATERIALIZED (
      |  SELECT vec_id, qv,
      |    list_transform(range(1, 65), i -> CASE WHEN rngs[i] = 0 THEN CAST(mins[i] AS DOUBLE)
      |      ELSE CAST(mins[i] + ((((qv[i] - mins[i]) * 255) // rngs[i]) * rngs[i]) // 255 AS DOUBLE) END) AS rvd
      |  FROM q CROSS JOIN s),
      |rn AS MATERIALIZED (
      |  SELECT vec_id, rvd, sqrt(list_sum(list_transform(range(1, 65), i -> rvd[i] * rvd[i]))) AS nr FROM r),
      |qq AS (
      |  SELECT vec_id AS query_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS qd FROM q WHERE vec_id < 10),
      |qn AS (SELECT query_id, qd, sqrt(list_sum(list_transform(range(1, 65), i -> qd[i] * qd[i]))) AS nq FROM qq),
      |sims AS (
      |  SELECT query_id, rn.vec_id AS neighbor_id,
      |    list_sum(list_transform(range(1, 65), i -> qd[i] * rvd[i])) / (nq * nr) AS sim
      |  FROM qn JOIN rn ON rn.vec_id <> qn.query_id),
      |sq_top AS MATERIALIZED (
      |  SELECT query_id, neighbor_id, rk FROM (
      |    SELECT query_id, neighbor_id,
      |      CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rk
      |    FROM sims) t WHERE rk <= 5)""".stripMargin

  /** Shared CTE chain for the matryoshka oracles: full + exact-int prefix
    * projections with norms → coarse prefix-cosine top-[[MatCandidates]] →
    * exact full-dimension rerank (`mat_top`). Mirrors [[matIndex]] /
    * [[matTopFrom]] term for term.
    */
  private val matTopCtes: String =
    s"""mq AS (
       |  SELECT vec_id, $duckV AS v,
       |    list_transform(list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT))[1:$MatPrefixDim],
       |      x -> CAST(x AS DOUBLE)) AS p
       |  FROM embeddings),
       |mn AS MATERIALIZED (
       |  SELECT vec_id, v, p,
       |    sqrt(${duckDot("v", "v")}) AS nv,
       |    sqrt(list_sum(list_transform(range(1, ${MatPrefixDim + 1}), i -> p[i] * p[i]))) AS np
       |  FROM mq),
       |mqq AS MATERIALIZED (
       |  SELECT vec_id AS query_id, p AS qp, np AS nqp, v AS qv, nv AS nq
       |  FROM mn WHERE vec_id < 10),
       |mcoarse AS (
       |  SELECT query_id, mn.vec_id AS neighbor_id,
       |    list_sum(list_transform(range(1, ${MatPrefixDim + 1}), i -> qp[i] * p[i])) / (nqp * np) AS csim
       |  FROM mqq JOIN mn ON mn.vec_id <> mqq.query_id),
       |mcand AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, neighbor_id ASC) AS crk
       |    FROM mcoarse) t WHERE crk <= $MatCandidates),
       |mrr AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    ${duckDot("q2.qv", "n2.v")} / (q2.nq * n2.nv) AS sim
       |  FROM mcand c JOIN mn n2 ON n2.vec_id = c.neighbor_id
       |  JOIN mqq q2 ON q2.query_id = c.query_id),
       |mat_top AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, rk FROM (
       |    SELECT query_id, neighbor_id,
       |      CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rk
       |    FROM mrr) t WHERE rk <= 5)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // RRF terms are single divisions of exact integers; ranks fully
    // tie-broken — both engines fuse identically
    "search_hybrid_rrf" ->
      s"""WITH post AS MATERIALIZED (
         |  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '[${Tokenize.WsClass}]+'))) AS token
         |  FROM documents),
         |qtok AS (SELECT doc_id AS query_id, token FROM post WHERE doc_id < 5),
         |lex AS (
         |  SELECT q.query_id, p.doc_id, count(1) AS shared
         |  FROM qtok q JOIN post p ON p.token = q.token AND p.doc_id <> q.query_id
         |  GROUP BY 1, 2),
         |lex_top AS MATERIALIZED (
         |  SELECT query_id, doc_id, lrk FROM (
         |    SELECT query_id, doc_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY shared DESC, doc_id ASC) AS lrk
         |    FROM lex) t WHERE lrk <= 20),
         |$duckEmb,
         |qv AS (SELECT vec_id AS query_id, v AS qvec FROM e WHERE vec_id < 5),
         |sims AS (
         |  SELECT query_id, e.vec_id AS doc_id,
         |    ${duckDot("qvec", "v")} / (sqrt(${duckDot("qvec", "qvec")}) * sqrt(${duckDot("v", "v")})) AS sim
         |  FROM qv JOIN e ON e.vec_id <> qv.query_id),
         |vec_top AS MATERIALIZED (
         |  SELECT query_id, doc_id, vrk FROM (
         |    SELECT query_id, doc_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id ASC) AS vrk
         |    FROM sims) t WHERE vrk <= 20),
         |fused AS (
         |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         |         coalesce(l.doc_id, v.doc_id) AS doc_id,
         |         coalesce(CAST(1 AS DOUBLE) / (60 + l.lrk), CAST(0 AS DOUBLE)) +
         |         coalesce(CAST(1 AS DOUBLE) / (60 + v.vrk), CAST(0 AS DOUBLE)) AS rrf
         |  FROM lex_top l FULL JOIN vec_top v
         |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
         |SELECT query_id, doc_id, rk, rrf FROM (
         |  SELECT query_id, doc_id,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS INT) AS rk,
         |    rrf
         |  FROM fused) t WHERE rk <= 10""".stripMargin,
    "ann_matryoshka" ->
      s"""WITH $matTopCtes
         |SELECT query_id, neighbor_id, rk FROM mat_top""".stripMargin,
    "ann_matryoshka_recall" -> duckRecall(
      s"$matTopCtes,\n$duckEmb,\n${duckExactTop("bf_top", "e", "e")}", "bf_top",
      RecallArm("mat_top")),
    "ann_pq" ->
      s"""WITH $duckPqCtes
         |SELECT query_id, neighbor_id, rk FROM pq_top""".stripMargin,
    "ann_pq_recall" -> duckRecall(s"$duckPqCtes,\n${duckExactTop("bf_top", "e", "e")}",
      "bf_top", RecallArm("pq_top")),
    // all-integer SQ8: codes and reconstruction error on the exact
    // floor(x*10000) grid — non-negative operands, so // matches Spark div
    "ann_sq8" ->
      s"""WITH $sq8TopCtes
         |SELECT query_id, neighbor_id, rk FROM sq_top""".stripMargin,
    "ann_sq8_recall" -> duckRecall(
      s"$sq8TopCtes,\n$duckEmb,\n${duckExactTop("bf_top", "e", "e")}", "bf_top",
      RecallArm("sq_top")),
    "emb_quantize" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |d AS (
        |  SELECT i.i AS dim, min(qv[i.i]) AS mn, max(qv[i.i]) AS mx
        |  FROM q CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
        |  GROUP BY 1),
        |s AS (
        |  SELECT list(mn ORDER BY dim) AS mins, list(mx - mn ORDER BY dim) AS rngs FROM d)
        |SELECT vec_id,
        |  array_to_string(list_transform(range(1, 65),
        |    i -> CASE WHEN rngs[i] = 0 THEN CAST(0 AS BIGINT)
        |              ELSE ((qv[i] - mins[i]) * 255) // rngs[i] END), ',') AS codes,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    i -> CASE WHEN rngs[i] = 0 THEN CAST(0 AS BIGINT) ELSE
        |      (qv[i] - (mins[i] + ((((qv[i] - mins[i]) * 255) // rngs[i]) * rngs[i]) // 255))
        |      * (qv[i] - (mins[i] + ((((qv[i] - mins[i]) * 255) // rngs[i]) * rngs[i]) // 255)) END)) AS BIGINT) AS sq_err
        |FROM q CROSS JOIN s""".stripMargin,
    // pre-filter semantics: rank over the eligible ('en') corpus only
    "ann_filtered" ->
      s"""WITH $duckKeep,
         |$duckEmb,
         |$duckFilteredTruth
         |SELECT query_id, neighbor_id, rk FROM truth""".stripMargin,
    // post-filter-the-unfiltered-top-5 measured against the pre-filter
    // ground truth (which has recall 1 by construction)
    "ann_filtered_recall" -> duckRecall(
      s"""$duckKeep,
         |$duckEmb,
         |$duckFilteredTruth,
         |${duckExactTop("utop", "e", "e")},
         |post AS (SELECT u.query_id, u.neighbor_id FROM utop u JOIN keep k ON k.vec_id = u.neighbor_id)""".stripMargin,
      "truth", RecallArm("post", hits = "post_hits", recall = "post_recall")),
    "ann_bruteforce" ->
      s"""WITH $duckEmb,
         |${duckExactTop("bf_top", "e", "e")}
         |SELECT query_id, neighbor_id, rk FROM bf_top""".stripMargin,
    "ann_ivf" ->
      s"""WITH ${duckIvfCtes(IvfConfig())}
         |SELECT query_id, CAST(bucket AS BIGINT) AS bucket, neighbor_id, rk
         |FROM ivf_top""".stripMargin,
    "ann_filtered_ivf" ->
      s"""WITH ${duckIvfCtes(IvfConfig(), filtered = true)}
         |SELECT query_id, CAST(bucket AS BIGINT) AS bucket, neighbor_id, rk
         |FROM ivf_top""".stripMargin,
    "ann_filtered_ivf_recall" -> duckRecall(
      s"${duckIvfCtes(IvfConfig(), filtered = true)},\n$duckFilteredTruth", "truth",
      RecallArm("ivf_top")),
    "ann_ivfpq" ->
      s"""WITH $duckIvfPqCtes
         |SELECT query_id, neighbor_id, rk FROM ivfpq_top""".stripMargin,
    "ann_filtered_ivfpq" ->
      s"""WITH ${duckIvfPqCtesFor(filtered = true)}
         |SELECT query_id, neighbor_id, rk FROM ivfpq_top""".stripMargin,
    // cluster-blocked near-dup pruning off the same verified k-means chain:
    // within-bucket pairs >= tau, keep-smallest-id survivor
    "emb_semantic_dedup" ->
      s"""WITH ${duckIvfCtes(IvfConfig())},
         |sd_pairs AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM assigned a JOIN assigned b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE ${duckDot("a.v", "b.v")} /
         |    (sqrt(${duckDot("a.v", "a.v")}) * sqrt(${duckDot("b.v", "b.v")})) >= $SemDedupMinCosine),
         |sd_dup AS (SELECT vb AS vec_id, min(va) AS dup_of FROM sd_pairs GROUP BY 1)
         |SELECT s.vec_id, CAST(s.bucket AS BIGINT) AS bucket, d.dup_of,
         |  d.dup_of IS NULL AS kept
         |FROM assigned s LEFT JOIN sd_dup d ON d.vec_id = s.vec_id""".stripMargin,
    // the post-delete probed top-5 off the anti-joined assignment table
    "ann_ivf_delete" ->
      s"""WITH ${duckIvfDeleteCtes(IvfConfig())}
         |SELECT query_id, CAST(bucket AS BIGINT) AS bucket, neighbor_id, rk
         |FROM top_after""".stripMargin,
    // recall before/after the deletes, exact truth recomputed per arm,
    // surviving queries only
    "ann_ivf_delete_recall" -> duckRecall(
      s"""${duckIvfDeleteCtes(IvfConfig())},
         |${duckExactTop("bf_b", "e", "e")},
         |${duckExactTop("bf_a", "alive", "alive")}""".stripMargin, "bf_a",
      RecallArm("ivf_top", hits = "hits_before", recall = "recall_before", truth = Some("bf_b")),
      RecallArm("top_after", hits = "hits_after", recall = "recall_after")),
    "ann_filtered_ivfpq_recall" -> duckRecall(
      s"${duckIvfPqCtesFor(filtered = true)},\n$duckFilteredTruth", "truth",
      RecallArm("ivfpq_top")),
    "ann_ivfpq_recall" -> duckRecall(s"$duckIvfPqCtes,\n${duckExactTop("bf_top", "e", "e")}",
      "bf_top", RecallArm("ivfpq_top")),
    "ann_recall" -> duckRecallSql(IvfConfig()),
    "ann_recall_alt" -> duckRecallSql(AltConfig),
    "ann_ivf_incremental" -> duckIvfIncrementalSql(IvfConfig(), DeltaMod),
    "emb_kmeans" ->
      s"""WITH ${duckIvfCtes(IvfConfig())}
         |SELECT CAST(bucket AS BIGINT) AS bucket, count(1) AS n_members,
         |  min(vec_id) AS min_vec, max(vec_id) AS max_vec,
         |  CAST(sum(q[1]) AS BIGINT) AS sum_q1
         |FROM assigned GROUP BY 1""".stripMargin,
    "emb_stats" ->
      """SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
        |  embedding[1] AS e1, embedding[64] AS e64, label
        |FROM embeddings""".stripMargin,
    "emb_pca_power" -> pcaPowerOracle(12),
    "emb_pca_project" -> pcaProjectOracle(12),
    "emb_pca_topk" -> pcaTopkOracle(PcaK, 12),
    "emb_pca_project_topk" -> pcaProjectTopkOracle(PcaK, 12),
    "emb_pca_whiten" -> pcaWhitenOracle(PcaK, 12),
    "ann_pca_reduced" ->
      s"WITH ${pcaTopCtes(PcaK, 12)}\nSELECT query_id, neighbor_id, rk FROM pca_top",
    "ann_pca_recall" -> duckRecall(
      s"${pcaTopCtes(PcaK, 12)},\n$duckEmb,\n${duckExactTop("bf_top", "e", "e")}", "bf_top",
      RecallArm("pca_top")),
    "emb_covariance" ->
      """WITH e AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
        |  FROM embeddings),
        |cells AS (
        |  SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j,
        |    sum(q[p.i] * q[p.j]) AS spp, sum(q[p.i]) AS si, sum(q[p.j]) AS sj,
        |    count(1) AS n
        |  FROM e CROSS JOIN (
        |    SELECT a.i, b.j FROM (SELECT unnest(range(1, 65)) AS i) a,
        |                         (SELECT unnest(range(1, 65)) AS j) b
        |    WHERE a.i <= b.j) p
        |  GROUP BY 1, 2)
        |SELECT i, j, CAST(n AS BIGINT) AS n,
        |  CAST(CAST(n AS BIGINT) * spp - si * sj AS DOUBLE)
        |    / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) / 1e8 AS cov
        |FROM cells""".stripMargin,
  )
}
