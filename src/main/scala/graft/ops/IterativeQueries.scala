package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Iterate-to-fixpoint query surface: the recursive-CTE workloads
  * (hierarchy resolution, transitive reachability) a warehouse answers with
  * `WITH RECURSIVE`, re-expressed as bounded-round distributed loops.
  *
  * The reference delegates recursion to the downstream warehouse (its DDL
  * targets Postgres/DuckDB, both recursive-CTE engines); Spark has no
  * recursive CTE, so the engine provides the standard substitute: pointer
  * doubling (path halving). Each round composes the ancestor pointer with
  * itself — `anc'(v) = anc(anc(v))`, `depth'(v) = depth(v) + depth(anc(v))`
  * — so a node at depth d resolves to its root in ceil(log2(d)) rounds, not
  * d rounds. At 100 TB that is the difference between ~40 shuffle rounds
  * for a billion-deep pathology and an unrunnable walk: every round is ONE
  * self-equi-join on the node id (shuffle on a long key), state is three
  * longs per vertex, and loop control collects only a 0/1 changed flag.
  *
  * Every loop here, and connected components in [[DedupQueries]], steps its
  * state through one [[Lifecycle.Generations]]: persist the next
  * generation, run the round's one materializing count, release the
  * predecessor, and re-wrap the frame from the materialized RDD on the
  * kernel's truncation cadence (every round for pagerank and k-core; every
  * [[JumpCheckpointInterval]] rounds here, whose self-join embeds the
  * previous generation's plan twice). Whatever a loop still holds is
  * released when it returns or throws.
  */
object IterativeQueries {

  private val JumpCheckpointInterval = 3

  /** Interval for REAL (RDD-graph) lineage truncation. The every-3-rounds
    * [[JumpCheckpointInterval]] rebuild resets only the LOGICAL plan; the
    * underlying RDD dependency graph still chains one generation to the
    * next, and task serialization walks it recursively — past ~50 rounds
    * that recursion overflows the stack. Legal forests converge in
    * O(log depth) rounds (≤ ~10 even for a 300-deep chain), so this
    * interval is unreachable on valid input; it exists so the PATHOLOGICAL
    * path (a cycle marching toward the depth-overflow guard at round 63)
    * dies with the contract's cycle error instead of a StackOverflowError
    * mid-serialization. [[Lifecycle.Generations.checkpoint]] applies the
    * Lifecycle rule (reliable with a checkpoint dir, else local); any blocks
    * the local branch leaves belong to an error path that ends in a throw.
    */
  private val DeepTruncateInterval = 24

  /** Hard cap on doubling rounds: depth doubles each round, so 64 rounds
    * resolve any acyclic chain shorter than 2^64 — unreachable for real
    * data. Hitting the cap therefore means the "forest" contract was
    * violated (a parent cycle): depth keeps growing and `changed` never
    * reaches 0, which without the cap would loop forever, burning a
    * shuffle + persist per round.
    */
  private val MaxDoublingRounds = 64

  /** Resolve every node to its tree root via pointer doubling.
    *
    * @param nodes (node: long, parent: long) — a forest: `parent == node`
    *              marks a root. Parents must themselves appear as nodes
    *              (a dangling parent freezes its children at the dangling
    *              id, like a recursive CTE that stops finding rows).
    * @return ((node, root, depth), rounds) — depth = edges walked to the
    *         root; rounds = doubling iterations to fixpoint, the observable
    *         the O(log depth) convergence spec pins.
    */
  private[graft] def resolveRootsWithRounds(nodes: DataFrame,
      maxRounds: Int = MaxDoublingRounds): (DataFrame, Int) =
    Lifecycle.generations(nodes.sparkSession) { g =>
      def cycle(detail: String) = new IllegalArgumentException(s"resolveRoots: $detail; " +
        "the contract requires a forest (parent == node marks a root)")
      // generation 0: roots point at themselves with depth 0 (composing with
      // a root's state is the identity, so fixpoint needs no special-casing)
      g.start(nodes.select(
          col("node"),
          col("parent").as("anc"),
          when(col("parent") === col("node"), lit(0L)).otherwise(lit(1L)).as("depth")),
        truncate = false, _.select(col("node"), col("anc"), col("depth")))
      var changed = 1L
      var rounds = 0
      while (changed > 0) {
        if (rounds >= maxRounds)
          throw cycle(s"no fixpoint after $maxRounds doubling rounds (the default cap " +
            "covers any acyclic depth < 2^64) — the parent graph has a cycle")
        rounds += 1
        // anc'(v) = anc(anc(v)); depth adds the jumped segment's length.
        // Left join + coalesce keeps rows whose ancestor id has no state row
        // (dangling parent) frozen instead of dropping them. A row changed
        // this round iff the jumped segment had NONZERO length (composing
        // with a root adds 0) — computable in the SAME projection, so the
        // convergence check is a filter, not a second join per round. The
        // nonzero (not positive) movement test and the `try_add` matter on a
        // cycle: depth doubles per round, so round 63 overflows 2^63 — under
        // ANSI mode a plain `+` would abort the job with an opaque
        // ArithmeticException, and pre-fix (with `> 0` movement) a wrapped
        // jump could read as "no movement" and exit with corrupted state.
        // `try_add` turns the overflow into a NULL depth in any ANSI setting;
        // depth counts edges, so a legal forest can never reach 2^63 of them
        // — a NULL depth is proof of a cycle and throws immediately rather
        // than waiting for the round cap.
        val state = g.current
        val next = state.as("x")
          .join(state.select(col("node").as("pnode"), col("anc").as("panc"),
              col("depth").as("pdepth")).as("p"),
            col("x.anc") === col("p.pnode"), "left")
          .select(col("x.node"),
            coalesce(col("p.panc"), col("x.anc")).as("anc"),
            expr("try_add(x.depth, coalesce(p.pdepth, 0L))").as("depth"),
            (coalesce(col("p.pdepth"), lit(0L)) =!= 0).as("moved"))
        // two full counts: the first materializes every partition, the
        // second answers convergence from the cache
        changed = g.advance(next, truncate = rounds % JumpCheckpointInterval == 0) { gen =>
          if (gen.filter(col("depth").isNull).count() > 0)
            throw cycle("depth overflow — path length exceeds 2^63 edges, " +
              "which only a cycle can produce")
          gen.filter(col("moved")).count()
        }
        if (rounds % DeepTruncateInterval == 0) g.checkpoint()
      }
      (g.released(g.current.select(col("node"), col("anc").as("root"),
        col("depth").cast("int").as("depth"))), rounds)
    }

  def resolveRoots(nodes: DataFrame): DataFrame = resolveRootsWithRounds(nodes)._1

  /** Catalog entry: resolve the part catalog's implicit binary hierarchy
    * (parent(k) = (k-1)/2 — a category tree keyed by arithmetic, so the
    * edge list is derived deterministically from testdata) to a FOREST cut
    * at the 8 top categories (p_partkey < 8): every part gets its
    * top-category root and its depth under it. The DuckDB oracle walks the
    * same chains with `WITH RECURSIVE` — the warehouse formulation this
    * operator replaces on Spark.
    */
  def hierarchy(s: SparkSession, dir: String): DataFrame =
    resolveRoots(
      Tables(s, dir, "part").select(
        col("p_partkey").as("node"),
        when(col("p_partkey") < 8, col("p_partkey"))
          .otherwise(expr("(p_partkey - 1) div 2")).as("parent")))

  /** What hierarchy resolution is FOR: subtree aggregation. Every part's
    * retail price rolls up to its top category — one groupBy on the
    * resolved root (the iterative walk replaces the per-level self-join
    * cascade a naive rollup would run). Decimal-exact sum, one bounded
    * shuffle after [[resolveRoots]].
    */
  def hierarchyRollup(s: SparkSession, dir: String): DataFrame =
    hierarchy(s, dir)
      .join(Tables(s, dir, "part").select(col("p_partkey"), col("p_retailprice")),
        col("node") === col("p_partkey"))
      .groupBy(col("root"))
      .agg(count(lit(1)).as("n_parts"), max(col("depth")).as("max_depth"),
        sum(col("p_retailprice").cast("decimal(18,2)")).cast("double").as("subtree_price"))

  /** Fixed-point iteration count for [[pagerank]] — enough rounds for the
    * rank ordering to stabilize on the test graph while keeping the oracle's
    * unrolled CTE chain small.
    */
  private val PagerankIters = 10

  /** Rank scale for [[pagerank]]'s fixed-point arithmetic: ranks live in
    * [0, 10^12] as BIGINTs, so every sum is exact and order-independent —
    * float PageRank can never hash-match across engines (sum order differs),
    * integer PageRank matches bit-for-bit.
    */
  private val PagerankScale = 1000000000000L

  /** PageRank over the part co-occurrence graph (parts are linked when they
    * appear in the same order — the "bought together" graph), the canonical
    * iterative-centrality workload a warehouse cannot express at all
    * (recursive CTEs forbid aggregation in the recursive arm; the reference
    * delegates even plain recursion to the downstream warehouse, see
    * `sql_dialects.py`). Damping 0.85, [[PagerankIters]] synchronous rounds,
    * all arithmetic in scaled-BIGINT fixed point ([[PagerankScale]]) with
    * floor division on non-negative values — Spark `div` and DuckDB `//`
    * agree exactly, so the DuckDB oracle (the same rounds unrolled as
    * MATERIALIZED CTEs) hash-matches bit-for-bit. The co-occurrence edge set
    * is symmetric, so every node has out-degree ≥ 1 — no dangling-mass
    * redistribution term needed.
    *
    * Scale shape: the edge frame (with its source's out-degree attached) is
    * shuffled onto `src` ONCE and persisted; each round is then one join
    * that reuses that partitioning (only the rank vector — one long per
    * node, orders of magnitude smaller than the edges — shuffles) plus one
    * partial-aggregated groupBy on `dst`. The graph-wide constants (node
    * count, teleport base) ride along as a broadcast 1-row frame, never a
    * driver scalar. Per-order edge fan-out is quadratic only in the order's
    * line count (bounded ≤ 7 in TPC-H shapes).
    */
  def pagerank(s: SparkSession, dir: String): DataFrame =
    pagerankFrom(coOccurrence(s, dir, "y != src"))

  /** The part co-occurrence edges of the pagerank kernels: every (src, dst)
    * pair of parts in one order that `keep` (a predicate over `src` and the
    * other part `y`) admits. Per-order pair expansion via ONE groupBy + a
    * DOUBLE explode instead of a self-join: the fact table is read and
    * shuffled once (a self-join reads it twice and sorts both sides);
    * fan-out is quadratic only in the order's line count (bounded ≤ 7 in
    * TPC-H shapes). Two flat Generate nodes (explode the set, then explode
    * the per-element filter) replace the earlier nested transform/flatten
    * lambda, which built an array-of-array-of-struct per order in the
    * interpreted HOF evaluator before exploding it. collect_set order is
    * partition-dependent, but the expansion is immediately distinct-ed into
    * a SET of pairs — order-independent by construction.
    */
  private[graft] def coOccurrence(s: SparkSession, dir: String, keep: String): DataFrame =
    Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(col("ps"), explode(col("ps")).as("src"))
      .select(col("src"), explode(expr(s"filter(ps, y -> $keep)")).as("dst"))
      .distinct()

  /** [[pagerank]]'s kernel over an arbitrary (src, dst) edge frame. The
    * edge set must contain every node as a source (symmetric edges satisfy
    * this) — PageRank without dangling-mass redistribution. Every
    * generation is materialized and re-wrapped (the directed kernel's
    * shape, adopted in round 10): the per-round rank vector is node-count
    * bounded, and as a materialized LogicalRDD it can be broadcast-hinted
    * below the [[BroadcastNodeCap]] dial — each round is then ONE map-side
    * pass over the once-partitioned edges plus a partial-aggregated
    * groupBy, with no per-round edge sort (the lazy 10-round chain
    * sort-merged the full edge frame every round: measured 11.6 -> ~6 s at
    * sf0.1). Above the dial the join falls back to shuffled form — only the
    * rank vector moves — and materialization doubles as lineage
    * truncation, the fault-tolerance checkpointing synchronous PageRank
    * wants at scale anyway.
    */
  private[graft] def pagerankFrom(edges: DataFrame,
      nodeCap: Long = BroadcastNodeCap): DataFrame =
    Lifecycle.generations(edges.sparkSession) { g =>
      val (edgesDeg, hinted) = pagerankPrepare(g, edges, nodeCap)
      for (_ <- 1 to PagerankIters)
        g.advance(pagerankRound(edgesDeg, g.current, hinted), truncate = true)(_.count())
      g.released(g.current.select(col("node").as("partkey"), col("rank").as("pr_fixed")))
    }

  /** [[pagerankFrom]]'s setup, shared with `PlanDump` and the plan specs:
    * returns the persisted edge frame and the broadcast dial, and leaves
    * generation 0 as `g.current`.
    *
    * Out-degree comes from a window over the SAME shuffle that co-locates
    * the edges on src — the edge build (an expensive self-join + distinct)
    * runs exactly once; a groupBy+join spelling would recompute it for each
    * join side and again for the constants frame below. The persisted frame
    * is then re-keyed on dst: the rank join is BROADCAST below the node dial
    * (src co-location buys nothing), while every round's contribution
    * aggregate groups by dst — caching on the aggregation key makes each
    * round's groupBy exchange-FREE (guide §2.4: establish the partitioning
    * once, reuse it every round), one build-time shuffle paid once against
    * one shuffle+stage barrier per round.
    */
  private[graft] def pagerankPrepare(g: Lifecycle.Generations, edges: DataFrame,
      nodeCap: Long = BroadcastNodeCap): (DataFrame, DataFrame => DataFrame) = {
    val edgesDeg = g.persist(edges
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src"))))
      .repartition(col("dst")))
    // graph-wide constants as a broadcast 1-row frame: n nodes, the teleport
    // base (1-d)/n, and the uniform initial rank — all in fixed point,
    // derived from the persisted frame (no re-derivation of the edge set).
    // Joined ONCE into generation 0 and carried as a column of the rank
    // vector from then on: a per-round crossJoin(consts) would re-run the
    // countDistinct over the full edge frame every round (one extra
    // edge-scan job per round at any scale, for a value that never changes).
    val consts = broadcast(edgesDeg.agg(countDistinct(col("src")).as("n")).select(
      expr(s"((CAST($PagerankScale AS BIGINT) * 15) div 100) div n").as("base"),
      expr(s"CAST($PagerankScale AS BIGINT) div n").as("init")))
    val init0 = g.start(edgesDeg.select(col("src").as("node")).distinct()
      .crossJoin(consts)
      .select(col("node"), col("init").as("rank"), col("base")), truncate = true)
    (edgesDeg, dial(init0.count() <= nodeCap))
  }

  /** The broadcast hint when `bcast`, else no hint. */
  private[graft] def dial(bcast: Boolean): DataFrame => DataFrame =
    if (bcast) broadcast(_) else identity

  /** One synchronous round: contribution aggregate over the once-partitioned
    * edges, teleport applied. `base` rides the rank vector (constant per
    * graph, so min() inside the contrib aggregate reproduces it exactly) —
    * no per-round consts re-derivation.
    */
  private[graft] def pagerankRound(edgesDeg: DataFrame, ranks: DataFrame,
      hinted: DataFrame => DataFrame): DataFrame =
    edgesDeg.join(hinted(ranks), col("src") === col("node"))
      .groupBy(col("dst"))
      .agg(sum(expr("rank div deg")).as("contrib"), min(col("base")).as("base"))
      .select(col("dst").as("node"),
        expr("base + (85 * contrib) div 100").as("rank"), col("base"))

  /** Round cap for [[pagerankDirected]] — the oracle unrolls exactly this
    * many rounds; the kernel may exit earlier at the EXACT integer fixpoint
    * (once a round changes no rank, every later round is a no-op — the
    * q_kcore proof shape, sound here because the arithmetic is pure
    * fixed-point integer).
    */
  private val PagerankDirectedIters = 12

  /** Node-count ceiling for broadcasting the per-round rank/contrib
    * vectors. Budgeted in BYTES of the built HashedRelation, not row
    * count: a broadcast long-keyed relation costs ~50-100 B/row
    * (UnsafeRow + map overhead), and the driver holds each round's build
    * until the ContextCleaner retires it — 512k rows keeps every build
    * under ~50 MB, safely inside default driver/executor broadcast
    * budgets even with a few generations in flight. Larger graphs keep
    * the shuffled join (only the rank vector moves).
    */
  private[ops] val BroadcastNodeCap = 512000L

  /** PageRank on a genuinely DIRECTED graph: the co-occurrence pairs
    * oriented low-key → high-key, so nodes that only ever appear as the
    * higher endpoint have out-degree 0 — real dangling sinks. Two things
    * [[pagerank]]'s symmetric kernel cannot handle, both standard for web-
    * scale crawl graphs:
    *
    *  - dangling-mass redistribution: each round collects the rank sitting
    *    on out-degree-0 nodes (ONE 1-row aggregate over the rank vector)
    *    and hands every node its `dm div n` share before damping —
    *    without it the sinks silently drain mass and ranks are wrong;
    *  - convergence early-exit: each round's projection carries a `moved`
    *    flag (new rank ≠ old rank), and the round-end count that
    *    materializes the generation doubles as the fixpoint check.
    *
    * All arithmetic stays scaled-BIGINT fixed point ([[PagerankScale]],
    * floor division on non-negatives), so the DuckDB oracle — the same
    * rounds unrolled with a per-round dangling-mass CTE — hash-matches
    * bit-for-bit, and the fixpoint is EXACT (integer equality), which is
    * what makes the early exit provably equivalent to the full unroll.
    *
    * Scale shape: identical to [[pagerank]] (edges+degree shuffled onto src
    * once and persisted; only the rank vector moves per round) plus one
    * 1-row aggregate per round; each generation is persisted, its
    * predecessor released, lineage truncated to a LogicalRDD (the vector
    * feeds the contrib join, the dangling aggregate, and the moved check).
    */
  def pagerankDirected(s: SparkSession, dir: String): DataFrame =
    pagerankDirectedFrom(s, coOccurrence(s, dir, "y > src"))._1

  /** [[pagerankDirected]]'s kernel over an arbitrary (src, dst) edge frame —
    * no out-degree precondition. Returns (ranks, roundsRun) so specs can
    * observe the early exit.
    */
  private[graft] def pagerankDirectedFrom(spark: SparkSession, edges: DataFrame,
      maxRounds: Int = PagerankDirectedIters,
      nodeCap: Long = BroadcastNodeCap): (DataFrame, Int) =
    Lifecycle.generations(spark) { g =>
      val sc = spark.sparkContext
      sc.setJobDescription("pagerank_directed: build edges+degrees")
      val (edgesDeg, hinted) = pagerankDirectedPrepare(g, edges, nodeCap)
      var round = 0
      var fixpoint = false
      while (round < maxRounds && !fixpoint) {
        round += 1
        sc.setJobDescription(s"pagerank_directed: round $round")
        // the count that materializes the generation answers "converged?"
        fixpoint = g.advance(pagerankDirectedRound(edgesDeg, g.current, hinted),
          truncate = true)(_.filter(col("moved")).count()) == 0
      }
      sc.setJobDescription("pagerank_directed: release")
      (g.released(g.current.select(col("node").as("partkey"), col("rank").as("pr_fixed"))),
        round)
    }

  /** [[pagerankDirectedFrom]]'s setup, shared with `PlanDump` and the plan
    * specs: returns the persisted edge frame and the broadcast dial, and
    * leaves generation 0 as `g.current`. The edges are cached re-keyed on
    * dst for the same reason as [[pagerankPrepare]]'s.
    */
  private[graft] def pagerankDirectedPrepare(g: Lifecycle.Generations, edges: DataFrame,
      nodeCap: Long = BroadcastNodeCap): (DataFrame, DataFrame => DataFrame) = {
    val edgesDeg = g.persist(edges
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src"))))
      .repartition(col("dst")))
    // node universe with out-degree (0 = dangling sink), one row per node
    val nodeDeg = g.persist(edgesDeg.select(col("src").as("node"), col("deg").as("odeg"))
      .unionAll(edgesDeg.select(col("dst").as("node"), lit(0L).as("odeg")))
      .groupBy(col("node")).agg(max(col("odeg")).as("odeg")))
    val consts = broadcast(nodeDeg.agg(count(lit(1)).as("n")).select(
      col("n"),
      expr(s"((CAST($PagerankScale AS BIGINT) * 15) div 100) div n").as("base"),
      expr(s"CAST($PagerankScale AS BIGINT) div n").as("init")))
    // `base` and `n` are joined once here and carried as columns of every
    // generation (constant per graph): a per-round crossJoin(consts) would
    // re-aggregate nodeDeg every round for values that never change
    g.start(nodeDeg.crossJoin(consts)
      .select(col("node"), col("odeg"), col("init").as("rank"), col("base"), col("n")),
      truncate = true)
    // the rank vector and the contrib frame are both NODE-count bounded,
    // but they surface as LogicalRDDs (no stats), so the planner would
    // sort-merge the full edge frame against them EVERY round. Below the
    // dial, hint them broadcast: the contrib join goes map-side over the
    // once-partitioned edges (per-round cost = one edge scan + a partial
    // agg, no per-round edge sort); above it — web-scale node counts — the
    // joins fall back to the shuffled form, where only the rank vector
    // moves. Same rows either way; this is the hint AQE would derive if
    // the generations carried statistics.
    (edgesDeg, dial(nodeDeg.count() <= nodeCap))
  }

  /** One synchronous directed round: dangling-mass 1-row broadcast,
    * contribution aggregate over the once-partitioned edges, teleport +
    * redistribution, moved flag. `base`/`n` ride the rank vector (constant
    * per graph) — no per-round consts re-derivation.
    */
  private[graft] def pagerankDirectedRound(edgesDeg: DataFrame, ranks: DataFrame,
      hinted: DataFrame => DataFrame): DataFrame = {
    // the mass stranded on sinks this round: 1-row, broadcast
    val dm = broadcast(ranks.filter(col("odeg") === 0)
      .agg(coalesce(sum(col("rank")), lit(0L)).as("dm")))
    val contrib = edgesDeg
      .join(hinted(ranks.select(col("node"), col("rank"))), col("src") === col("node"))
      .groupBy(col("dst")).agg(sum(expr("rank div deg")).as("contrib"))
    ranks.select(col("node"), col("odeg"), col("rank").as("prev"),
        col("base"), col("n"))
      .join(hinted(contrib), col("node") === col("dst"), "left")
      .crossJoin(dm)
      .select(col("node"), col("odeg"),
        expr("base + (85 * (coalesce(contrib, CAST(0 AS BIGINT)) + dm div n)) div 100")
          .as("rank"),
        col("prev"), col("base"), col("n"))
      .select(col("node"), col("odeg"), col("rank"),
        (col("rank") =!= col("prev")).as("moved"), col("base"), col("n"))
  }

  /** Per-node triangle counts + local clustering coefficient over the
    * strong part co-occurrence graph (parts co-appearing in ≥ 2 orders —
    * the support threshold keeps the graph at meaningful association
    * strength). The all-pairs-of-neighbors formulation is quadratic in
    * degree; this is the degree-ORIENTED formulation: orient every
    * undirected edge from its lower-(degree, id) endpoint to its higher
    * one, enumerate length-2 oriented paths, and close each against the
    * oriented edge set — every triangle is found exactly once, and the
    * path-join fan-out is bounded by the oriented out-degree, which the
    * orientation caps at O(sqrt(E)) per node (the classic O(E^1.5) bound;
    * a hub of degree d contributes paths only through its LOW-degree
    * incident edges, so power-law hubs stop being quadratic bombs).
    * All three triangle legs are equi-joins on node ids — shuffle-friendly,
    * no cross product (plan-pinned in LayoutSpec).
    *
    * Coefficient = 2·tri / (d·(d−1)) on exact integers, one IEEE division —
    * deterministic across engines.
    */
  def triangles(s: SparkSession, dir: String): DataFrame = {
    val (out, barriers) =
      trianglesPlan(Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")))
    Lifecycle.released(out, barriers: _*)
  }

  /** Strong (support ≥ 2) co-occurrence pairs, u < v: per-order ordered-pair
    * expansion via ONE groupBy + explode instead of a self-join (the fact
    * table is read and shuffled once, no join sorts); collect_set dedupes
    * parts within the order, so each pair appears exactly once per order
    * and the support count is a plain count — the self-join spelling
    * needed countDistinct(orderkey) here. Shared by [[triangles]] and
    * [[kcore]].
    */
  private def supportPairs(li: DataFrame): DataFrame =
    li.groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(col("ps"), explode(col("ps")).as("u"))
      .select(col("u"), explode(expr("filter(ps, y -> y > u)")).as("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("u"), col("v"))

  /** [[triangles]]' kernel over an (l_orderkey, l_partkey) frame, for plan
    * inspection. Not lazy: its dial counts materialize the `pe`, `deg` and
    * `ori` caches. The caller unpersists the returned barriers.
    */
  private[graft] def trianglesPlan(li: DataFrame): (DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.storage.StorageLevel
    // pe feeds BOTH the degree aggregate and the orientation join probe —
    // unpersisted it was computed twice (the groupBy+explode+groupBy
    // support-pair build is the query's most expensive subtree)
    val pe = supportPairs(li).persist(StorageLevel.MEMORY_AND_DISK)
    val deg = pe.select(col("u").as("node"))
      .unionAll(pe.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // deg is node-bounded but surfaces without usable stats below a cached
    // union, so the planner sort-merged pe against it twice — the pagerank
    // broadcast dial (eager count doubles as the persist materialization)
    val hintedDeg = dial(deg.count() <= BroadcastNodeCap)
    val lower = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val ori = pe
      .join(hintedDeg(deg.select(col("node").as("nu"), col("d").as("du"))), col("u") === col("nu"))
      .join(hintedDeg(deg.select(col("node").as("nv"), col("d").as("dv"))), col("v") === col("nv"))
      .select(when(lower, col("u")).otherwise(col("v")).as("s"),
        when(lower, col("v")).otherwise(col("u")).as("t"))
      .persist(StorageLevel.MEMORY_AND_DISK) // three join legs consume it
    // the closing legs re-sorted the cached `ori` once per leg (three
    // Sort + Exchange pairs); below the cap the path/closure legs broadcast
    // the oriented edge list instead (rows are two longs — the same
    // bytes-per-row budget as [[BroadcastNodeCap]]'s doc), and the whole
    // enumeration is one map-side stage over the cache. Above the cap the
    // legs fall back to the sort-merge form unchanged.
    val hintedOri = dial(ori.count() <= BroadcastNodeCap)
    val tri = ori.as("e1")
      .join(hintedOri(ori.as("e2")), col("e1.t") === col("e2.s"))
      .join(hintedOri(ori.as("e3")), col("e3.s") === col("e1.s") && col("e3.t") === col("e2.t"))
      .select(col("e1.s").as("x"), col("e1.t").as("y"), col("e2.t").as("z"))
    // ONE pass over the enumerated triangles: the unionAll-of-three-
    // projections spelling re-executed the three-leg join once per arm;
    // explode(array(x, y, z)) feeds the same multiset to the aggregate from
    // a single execution
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    val out = deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("d"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("d") > 1,
          (lit(2.0) * coalesce(col("n_tri"), lit(0L))) / (col("d") * (col("d") - 1)))
          .otherwise(lit(0.0)).as("clustering"))
    (out, Seq(pe, deg, ori))
  }

  /** Core threshold for [[kcore]] — on the support-2 co-occurrence graph
    * this peels ~half the nodes over ~11 rounds at sf0.01 (k=2 converges in
    * 4, k=4 empties the graph: the interesting regime).
    */
  private val KcoreK = 3

  /** Peeling-round cap for [[kcore]]; the oracle unrolls exactly this many (sf0.01: 11). */
  private val KcoreRounds = 12

  /** k-core decomposition of the strong co-occurrence graph — the density
    * peel that separates structurally-embedded nodes from hangers-on
    * (community cores, spam-subgraph mining; with [[pagerank]],
    * [[triangles]] and the connected-components family this completes the
    * aggregation-in-recursion graph set no recursive CTE can run):
    * repeatedly drop every node with fewer than k surviving neighbors
    * until nothing changes; report each survivor with its in-core degree.
    *
    * Scale shape: the symmetrized edges are partitioned on src ONCE and
    * persisted; the job that builds that cache counts their srcs (the
    * dial). Below `nodeCap` the survivors live on the DRIVER as a sorted
    * `Array[Long]` and each round is ONE plan-free job over the edge cache's rows
    * ([[kcoreDegrees]]) that collects the (survivor, degree) pairs; the
    * fixpoint round's pairs are the result, a local relation. Above it the
    * survivors are a persisted, lineage-truncated generation feeding two
    * shuffled semi joins. The survivor count is the fixpoint check
    * (S_r ⊆ S_{r-1}, so an unchanged size is an unchanged set; converged
    * rounds are no-ops, so exiting early cannot diverge from the oracle's
    * full unroll). Jobs are labelled `q_kcore: edges | round <r> | result`.
    */
  def kcore(s: SparkSession, dir: String): DataFrame =
    kcoreFrom(s, Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")))

  private[graft] def kcoreFrom(spark: SparkSession, li: => DataFrame, k: Int = KcoreK,
      maxRounds: Int = KcoreRounds, nodeCap: Long = BroadcastNodeCap): DataFrame =
    Lifecycle.generations(spark) { g =>
      def phase(p: String): Unit = spark.sparkContext.setJobDescription(s"q_kcore: $p")
      phase("edges")
      val edges = g.persist(kcoreEdges(li))
      // One job builds the cache and counts the nodes: the edges are
      // hash-partitioned on src, so per-partition distinct srcs sum exactly.
      // `sparkPlan` is the bare cache scan (`toRdd`'s adaptive wrapper would
      // build the cache in a job of its own). It runs in a SQL execution, as
      // a Dataset action does: outside one, the driver's codegen cache
      // missed on every call (new classes, cold JIT, +0.3 s task CPU).
      val (rows, n0) = SQLExecution.withNewExecutionId(edges.queryExecution) {
        val rows = edges.queryExecution.sparkPlan.execute()
        (rows, rows.mapPartitions(it => Iterator.single(it.map(_.getLong(0)).toSet.size.toLong))
          .collect().sum)
      }
      // true once the survivor count stops changing, false after maxRounds
      def peelToFixpoint(peel: () => Long, size: Long = n0, round: Int = 1): Boolean =
        round <= maxRounds && {
          phase(s"round $round")
          val cur = peel()
          cur == size || peelToFixpoint(peel, cur, round + 1)
        }
      if (n0 <= nodeCap) {
        var survivors: Option[Array[Long]] = None // round 1 keeps every edge
        var pairs = Array.empty[(Long, Long)]
        val fixpoint = peelToFixpoint { () =>
          pairs = kcoreDegrees(rows, survivors, k)
          survivors = Some(pairs.map(_._1))
          pairs.length
        }
        // an unchanged set means the last round counted the in-core
        // degrees; a maxRounds exit recounts over the final set
        if (!fixpoint) {
          phase("result")
          pairs = kcoreDegrees(rows, survivors, 0)
        }
        val schema = StructType(Seq(edges.schema("src").copy(name = "node"),
          StructField("core_deg", LongType, nullable = false)))
        val result = pairs.map { case (node, d) => Row(node, d) }
        spark.createDataFrame(java.util.Arrays.asList(result: _*), schema)
      } else {
        def degrees(surv: DataFrame): DataFrame = edges.join(surv, Seq("src"), "left_semi")
          .join(surv.select(col("src").as("dst")), Seq("dst"), "left_semi")
          .groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
        g.start(edges.select(col("src")).distinct(), truncate = true)
        peelToFixpoint(() => g.advance(degrees(g.current).filter(col("core_deg") >= k)
          .select(col("src")), truncate = true)(_.count()))
        phase("result")
        g.released(degrees(g.current).select(col("src").as("node"), col("core_deg")))
      }
    }

  /** [[kcore]]'s edges: (u, v) and (v, u) per support-2 pair from ONE
    * explode over one scan of the pair build, partitioned on src.
    */
  private def kcoreEdges(li: DataFrame): DataFrame =
    supportPairs(li)
      .select(explode(array(struct(col("u").as("src"), col("v").as("dst")),
        struct(col("v").as("src"), col("u").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .repartition(col("src"))

  /** A below-dial [[kcore]] round over the edge cache's `(src, dst)` rows:
    * (src, degree ≥ `min`) over the edges with both ends in the sorted
    * `survivors` (all when None), sorted by src. The cache is partitioned
    * on src, so each partition counts its srcs whole, and the array rides
    * the task binary: one job, no shuffle, no plan, nothing to release.
    */
  private def kcoreDegrees(edges: RDD[InternalRow], survivors: Option[Array[Long]],
      min: Int): Array[(Long, Long)] =
    edges.mapPartitions { rows =>
      val member = survivors.fold((_: Long) => true)(s => java.util.Arrays.binarySearch(s, _) >= 0)
      val deg = scala.collection.mutable.LongMap.empty[Long]
      rows.foreach { r =>
        val u = r.getLong(0)
        if (member(u) && member(r.getLong(1))) deg(u) = deg.getOrElse(u, 0L) + 1
      }
      deg.iterator.filter(_._2 >= min)
    }.collect().sortBy(_._1)

  /** The [[kcore]] rounds unrolled as a MATERIALIZED CTE chain (same
    * discipline as the pagerank oracle).
    */
  private def kcoreOracle: String = {
    val rounds = (1 to KcoreRounds).map { r =>
      s"""s$r AS MATERIALIZED (
         |  SELECT src AS node FROM e
         |  WHERE src IN (SELECT node FROM s${r - 1}) AND dst IN (SELECT node FROM s${r - 1})
         |  GROUP BY 1 HAVING count(1) >= $KcoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH pe AS MATERIALIZED (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v, count(DISTINCT a.l_orderkey) AS n
       |    FROM lineitem a JOIN lineitem b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |    GROUP BY 1, 2) t WHERE n >= 2),
       |e AS MATERIALIZED (SELECT u AS src, v AS dst FROM pe UNION ALL SELECT v, u FROM pe),
       |s0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
       |$rounds
       |SELECT src AS node, CAST(count(1) AS BIGINT) AS core_deg
       |FROM e
       |WHERE src IN (SELECT node FROM s$KcoreRounds)
       |  AND dst IN (SELECT node FROM s$KcoreRounds)
       |GROUP BY 1""".stripMargin
  }

  /** The same rounds as [[pagerank]], unrolled as a MATERIALIZED CTE chain
    * (DuckDB inlines single-reference CTEs — an un-materialized chain where
    * each round references the previous round's whole plan twice goes
    * exponential).
    */
  private def pagerankOracle: String = {
    val scale = s"CAST($PagerankScale AS BIGINT)"
    val base = s"(($scale * 15) // 100) // (SELECT n FROM nn)"
    val head = Seq(
      """edges AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey)""".stripMargin,
      "outdeg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
      "nn AS MATERIALIZED (SELECT count(*) AS n FROM outdeg)",
      s"r0 AS MATERIALIZED (SELECT src AS node, $scale // (SELECT n FROM nn) AS rank FROM outdeg)")
    val rounds = (0 until PagerankIters).map { t =>
      s"""r${t + 1} AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |         CAST($base + (85 * sum(r.rank // d.deg)) // 100 AS BIGINT) AS rank
         |  FROM edges e JOIN r$t r ON e.src = r.node JOIN outdeg d ON e.src = d.src
         |  GROUP BY e.dst)""".stripMargin
    }
    (head ++ rounds).mkString("WITH ", ",\n", "") +
      s"\nSELECT node AS partkey, rank AS pr_fixed FROM r$PagerankIters"
  }

  /** The same rounds as [[pagerankDirected]], unrolled with a per-round
    * dangling-mass CTE (the 1-row aggregate the Spark kernel broadcasts).
    * Exact-integer throughout, so extra Spark-side rounds past the fixpoint
    * (or the kernel's early exit before this unroll's depth) cannot
    * diverge.
    */
  private def pagerankDirectedOracle: String = {
    val scale = s"CAST($PagerankScale AS BIGINT)"
    val base = s"(($scale * 15) // 100) // (SELECT n FROM nn)"
    val head = Seq(
      """edges AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""".stripMargin,
      "outdeg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
      "nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
      "nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes)",
      """nd AS MATERIALIZED (
        |  SELECT n.node, coalesce(d.deg, 0) AS odeg
        |  FROM nodes n LEFT JOIN outdeg d ON d.src = n.node)""".stripMargin,
      s"r0 AS MATERIALIZED (SELECT node, $scale // (SELECT n FROM nn) AS rank FROM nodes)")
    val rounds = (1 to PagerankDirectedIters).map { t =>
      s"""d$t AS MATERIALIZED (
         |  SELECT coalesce(sum(r.rank), 0) AS dm
         |  FROM r${t - 1} r JOIN nd ON nd.node = r.node AND nd.odeg = 0),
         |c$t AS MATERIALIZED (
         |  SELECT e.dst AS node, sum(r.rank // o.deg) AS contrib
         |  FROM edges e JOIN r${t - 1} r ON e.src = r.node
         |  JOIN outdeg o ON o.src = e.src GROUP BY e.dst),
         |r$t AS MATERIALIZED (
         |  SELECT nd.node,
         |    CAST($base + (85 * (coalesce(c.contrib, 0) +
         |      (SELECT dm FROM d$t) // (SELECT n FROM nn))) // 100 AS BIGINT) AS rank
         |  FROM nd LEFT JOIN c$t c ON c.node = nd.node)""".stripMargin
    }
    (head ++ rounds).mkString("WITH ", ",\n", "") +
      s"\nSELECT node AS partkey, rank AS pr_fixed FROM r$PagerankDirectedIters"
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hierarchy" -> hierarchy,
    "q_hierarchy_rollup" -> hierarchyRollup,
    "q_pagerank" -> pagerank,
    "q_pagerank_directed" -> pagerankDirected,
    "q_kcore" -> kcore,
    "q_triangles" -> triangles,
  )

  val oracleSql: Map[String, String] = Map(
    "q_pagerank" -> pagerankOracle,
    "q_pagerank_directed" -> pagerankDirectedOracle,
    "q_kcore" -> kcoreOracle,
    "q_triangles" ->
      """WITH pe AS MATERIALIZED (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
        |deg AS MATERIALIZED (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT u AS node FROM pe UNION ALL SELECT v FROM pe) GROUP BY node),
        |ori AS MATERIALIZED (
        |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
        |              THEN e.u ELSE e.v END AS s,
        |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
        |              THEN e.v ELSE e.u END AS t
        |  FROM pe e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
        |tri AS MATERIALIZED (
        |  SELECT e1.s AS x, e1.t AS y, e2.t AS z
        |  FROM ori e1 JOIN ori e2 ON e1.t = e2.s
        |  JOIN ori e3 ON e3.s = e1.s AND e3.t = e2.t),
        |per_node AS MATERIALIZED (
        |  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |    SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri) GROUP BY node)
        |SELECT deg.node, deg.d,
        |       CAST(coalesce(p.n_tri, 0) AS BIGINT) AS n_tri,
        |       CASE WHEN deg.d > 1
        |            THEN (2.0 * coalesce(p.n_tri, 0)) / (deg.d * (deg.d - 1))
        |            ELSE CAST(0.0 AS DOUBLE) END AS clustering
        |FROM deg LEFT JOIN per_node p ON p.node = deg.node""".stripMargin,
    "q_hierarchy" ->
      """WITH RECURSIVE walk AS (
        |  SELECT p_partkey AS node, p_partkey AS anc, 0 AS d FROM part
        |  UNION ALL
        |  SELECT node, (anc - 1) // 2, d + 1 FROM walk WHERE anc >= 8
        |)
        |SELECT CAST(node AS BIGINT) AS node, CAST(anc AS BIGINT) AS root,
        |  CAST(d AS INT) AS depth
        |FROM walk WHERE anc < 8""".stripMargin,
    "q_hierarchy_rollup" ->
      """WITH RECURSIVE walk AS (
        |  SELECT p_partkey AS node, p_partkey AS anc, 0 AS d FROM part
        |  UNION ALL
        |  SELECT node, (anc - 1) // 2, d + 1 FROM walk WHERE anc >= 8
        |),
        |resolved AS (SELECT node, anc AS root, d AS depth FROM walk WHERE anc < 8)
        |SELECT CAST(r.root AS BIGINT) AS root, CAST(count(1) AS BIGINT) AS n_parts,
        |  CAST(max(r.depth) AS INT) AS max_depth,
        |  CAST(sum(CAST(p.p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS subtree_price
        |FROM resolved r JOIN part p ON p.p_partkey = r.node
        |GROUP BY r.root""".stripMargin,
  )
}
