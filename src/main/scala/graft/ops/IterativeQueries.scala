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
  * generation, run the round's one materializing check, release the
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

  /** Round caps of [[pagerank]] and [[pagerankDirected]]: each oracle
    * unrolls exactly this many rounds; the kernel may exit earlier at the
    * EXACT integer fixpoint (once a round moves no rank, every later round
    * is a no-op — the q_kcore proof shape, sound because the arithmetic is
    * pure fixed-point integer).
    */
  private val PagerankIters = 10
  private val PagerankDirectedIters = 12

  /** Rank scale of the PageRank fixed-point arithmetic: ranks live in
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
    * `sql_dialects.py`). Damping 0.85, at most [[PagerankIters]] synchronous
    * rounds of [[pagerankFrom]]. The edge set is symmetric, so no node is a
    * sink and the dangling mass is always 0.
    */
  def pagerank(s: SparkSession, dir: String): DataFrame =
    pagerankFrom(s, coOccurrence(s, dir, "y != src"), "q_pagerank", PagerankIters)._1

  /** PageRank on a genuinely DIRECTED graph: the co-occurrence pairs
    * oriented low-key → high-key, so nodes that only ever appear as the
    * higher endpoint have out-degree 0 — real dangling sinks, whose mass
    * [[pagerankFrom]] hands back to every node each round. At most
    * [[PagerankDirectedIters]] rounds.
    */
  def pagerankDirected(s: SparkSession, dir: String): DataFrame =
    pagerankFrom(s, coOccurrence(s, dir, "y > src"), "q_pagerank_directed",
      PagerankDirectedIters)._1

  /** The part co-occurrence edges of the pagerank entries: every (src, dst)
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

  /** The PageRank kernel over a set of distinct (src, dst) edges; a node
    * may have no out-edges (a dangling sink). Each round hands every node
    * the teleport base plus 85% of its in-neighbors' `rank div deg` and of
    * its `dm div n` share of the mass sitting on sinks, all in
    * scaled-BIGINT fixed point ([[PagerankScale]]) with floor division on
    * non-negative values — Spark `div`, Scala `/` and DuckDB `//` agree
    * exactly, so [[pagerankOracle]] (the same rounds unrolled as
    * MATERIALIZED CTEs) hash-matches bit-for-bit. The loop stops after
    * `maxRounds`, or at the exact fixpoint: the round that moves no rank.
    *
    * Every round is one [[Lifecycle.Generations]] step: persist, one
    * materializing check ([[pagerankCheck]]: the moved ranks and the next
    * round's dangling mass), release the predecessor, re-wrap. Jobs are
    * labelled `<entry>: edges | round <r> | result`. Returns the
    * (partkey, pr_fixed) ranks and the rounds run.
    */
  private[graft] def pagerankFrom(spark: SparkSession, edges: DataFrame, entry: String,
      maxRounds: Int, nodeCap: Long = BroadcastNodeCap): (DataFrame, Int) =
    Lifecycle.generations(spark) { g =>
      def phase(p: String): Unit = spark.sparkContext.setJobDescription(s"$entry: $p")
      phase("edges")
      val (graph, dm1) = pagerankPrepare(g, edges, nodeCap)
      // runs rounds from `round + 1` on; returns the last one run
      def rounds(dm: Long, round: Int): Int =
        if (round == maxRounds) round
        else {
          phase(s"round ${round + 1}")
          val (moved, next) = g.advance(pagerankRound(graph, g.current, dm), truncate = true)(
            pagerankCheck)
          if (moved == 0) round + 1 else rounds(next, round + 1)
        }
      val ran = rounds(dm1, 0)
      phase("result")
      (g.released(g.current.select(col("node").as("partkey"), col("rank").as("pr_fixed"))), ran)
    }

  /** [[pagerankFrom]]'s prepared graph: `edges` is the persisted edge frame
    * (src, dst, deg = src's out-degree, self), `hinted` the broadcast dial,
    * `n` the node count (1 on an empty graph, whose rounds run over no
    * rows) and `base` the teleport base.
    */
  private[graft] final case class PagerankGraph(edges: DataFrame,
      hinted: DataFrame => DataFrame, n: Long, base: Long)

  /** [[pagerankFrom]]'s setup, shared with `PlanDump` and the plan specs:
    * returns the prepared graph and round 1's dangling mass, and leaves
    * generation 0 (every node at rank `Scale div n`) as `g.current`.
    *
    * The edges are cached with one self row per node (src = dst = node,
    * `self`, its out-degree as `deg`, 0 on a sink), re-keyed on dst: a
    * round's `groupBy(dst)` is then exchange-free (guide §2.4: establish
    * the partitioning once, reuse it every round), and the self row brings
    * every node into it with its previous rank and out-degree, in-edges or
    * not. Both come from ONE aggregate per node (its out-neighbor list), so
    * the edge build runs once. One action builds the cache and counts the
    * nodes and sinks; the node count is the broadcast dial.
    */
  private[graft] def pagerankPrepare(g: Lifecycle.Generations, edges: DataFrame,
      nodeCap: Long = BroadcastNodeCap): (PagerankGraph, Long) = {
    val noNeighbor = lit(null).cast(edges.schema("dst").dataType)
    val cached = g.persist(edges
      .select(explode(array(struct(col("src").as("node"), col("dst").as("nbr")),
        struct(col("dst").as("node"), noNeighbor.as("nbr")))).as("e"))
      .groupBy(col("e.node").as("node"))
      .agg(collect_list(col("e.nbr")).as("out")) // drops the nulls: out-neighbors only
      .select(col("node").as("src"), size(col("out")).cast("bigint").as("deg"),
        posexplode(concat(array(col("node")), col("out"))))
      .select(col("src"), col("col").as("dst"), col("deg"), (col("pos") === 0).as("self"))
      .repartition(col("dst")))
    val nodes = cached.filter(col("self"))
    val stats = nodes.agg(count(lit(1)), count_if(col("deg") === 0)).collect().head
    val (nodeCount, sinks) = (stats.getLong(0), stats.getLong(1))
    val n = math.max(nodeCount, 1L)
    val init = PagerankScale / n
    g.start(nodes.crossJoin(constants(cached.sparkSession, "rank" -> init))
      .select(col("src").as("node"), col("rank")), truncate = true,
      _.select(col("node"), col("rank")))
    // the rank vector is node-count bounded, but it surfaces as a LogicalRDD
    // (no stats), so the planner would sort-merge the full edge frame
    // against it every round. Below the dial, hint it broadcast: the rank
    // join goes map-side over the once-partitioned edges; above it — web-
    // scale node counts — the join falls back to the shuffled form, where
    // only the rank vector moves. Same rows either way.
    (PagerankGraph(cached, dial(nodeCount <= nodeCap), n, PagerankScale * 15 / 100 / n),
      sinks * init)
  }

  /** The broadcast hint when `bcast`, else no hint. */
  private[graft] def dial(bcast: Boolean): DataFrame => DataFrame =
    if (bcast) broadcast(_) else identity

  /** A one-row local relation of BIGINT constants, for a cross join. Its
    * values reach the generated code as data: a `lit` is inlined, so every
    * new value would compile the round's classes again. The cartesian hint
    * keeps it off a broadcast, which would run a job of its own.
    */
  private def constants(spark: SparkSession, values: (String, Long)*): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(values.map(_._2): _*)),
      StructType(values.map(v => StructField(v._1, LongType, nullable = false))))
      .hint("shuffle_replicate_nl")

  /** One synchronous round over the prepared edges: the broadcast rank
    * join and one exchange-free `groupBy(dst)`, whose self rows give each
    * node its previous rank and out-degree. The teleport base and the
    * dangling share `dm div n` enter as [[constants]].
    */
  private[graft] def pagerankRound(graph: PagerankGraph, ranks: DataFrame, dm: Long): DataFrame =
    graph.edges.join(graph.hinted(ranks), col("src") === col("node"))
      .groupBy(col("dst"))
      .agg(sum(expr("if(self, 0, rank div deg)")).as("contrib"),
        sum(expr("if(self, rank, 0)")).as("prev"), sum(expr("if(self, deg, 0)")).as("odeg"))
      .crossJoin(constants(ranks.sparkSession, "base" -> graph.base, "share" -> dm / graph.n))
      .select(col("dst").as("node"), expr("base + (85 * (contrib + share)) div 100").as("rank"),
        col("prev"), col("odeg"))

  /** A generation's one materializing action: (ranks that moved, the mass
    * on sinks, which is the next round's dangling mass).
    */
  private def pagerankCheck(gen: DataFrame): (Long, Long) = {
    val r = gen.agg(count_if(col("rank") =!= col("prev")),
      coalesce(sum(expr("if(odeg = 0, rank, 0)")), lit(0L))).collect().head
    (r.getLong(0), r.getLong(1))
  }

  /** Node-count ceiling for broadcasting the per-round rank vector.
    * Budgeted in BYTES of the built HashedRelation, not row count: a
    * broadcast long-keyed relation costs ~50-100 B/row (UnsafeRow + map
    * overhead), and the driver holds each round's build until the
    * ContextCleaner retires it — 512k rows keeps every build under ~50 MB,
    * safely inside default driver/executor broadcast budgets even with a
    * few generations in flight. Larger graphs keep the shuffled join (only
    * the rank vector moves).
    */
  private[ops] val BroadcastNodeCap = 512000L

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

  /** [[pagerankFrom]]'s rounds over the co-occurrence pairs `a.l_partkey
    * <pairOp> b.l_partkey`, unrolled `rounds` deep as a MATERIALIZED CTE
    * chain (DuckDB inlines single-reference CTEs — an un-materialized chain
    * where each round references the previous round's whole plan twice goes
    * exponential), with a per-round dangling-mass CTE (0 on a symmetric
    * graph). Exact-integer throughout, so the kernel's early exit at the
    * fixpoint cannot diverge from the full unroll.
    */
  private def pagerankOracle(pairOp: String, rounds: Int): String = {
    val scale = s"CAST($PagerankScale AS BIGINT)"
    val base = s"(($scale * 15) // 100) // (SELECT n FROM nn)"
    val head = Seq(
      s"""edges AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey $pairOp b.l_partkey)""".stripMargin,
      "outdeg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
      "nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
      "nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes)",
      """nd AS MATERIALIZED (
        |  SELECT n.node, coalesce(d.deg, 0) AS odeg
        |  FROM nodes n LEFT JOIN outdeg d ON d.src = n.node)""".stripMargin,
      s"r0 AS MATERIALIZED (SELECT node, $scale // (SELECT n FROM nn) AS rank FROM nodes)")
    val unrolled = (1 to rounds).map { t =>
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
    (head ++ unrolled).mkString("WITH ", ",\n", "") +
      s"\nSELECT node AS partkey, rank AS pr_fixed FROM r$rounds"
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
    "q_pagerank" -> pagerankOracle("<>", PagerankIters),
    "q_pagerank_directed" -> pagerankOracle("<", PagerankDirectedIters),
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
