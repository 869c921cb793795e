package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Materialize-then-release for operators built around persist barriers.
  *
  * The fuzzy-dedup / ANN pipelines persist intermediates (tokenized docs,
  * signatures, band rows, the IVF index) because the candidate stage and the
  * verification stage both consume them — without the barrier the whole
  * upstream subtree re-executes per join side, and `CollapseProject` inlines
  * aliased expensive expressions per reference. But a lazily-returned result
  * can never safely unpersist its own inputs: the caller's action still needs
  * them. So every public catalog entry materializes its (small) result first
  * — a reliable checkpoint when the session has a checkpoint dir, else an
  * eager local checkpoint — and only then drops the persisted inputs. A
  * long-lived session composing catalog ops no longer accumulates cached
  * partitions until eviction pressure; `CacheLifecycleSpec` pins
  * `getPersistentRDDs.isEmpty` after every public query.
  *
  * The result is orders of magnitude smaller than the inputs for every
  * wrapped op (pairs / signatures / top-k vs the corpus), so the extra
  * write+read is noise next to the recompute the barrier avoids.
  *
  * Iterative kernels hold more than a fixed set of inputs: every round
  * persists a new generation and retires the previous one. [[Generations]]
  * is the per-generation half of this object, and [[generations]] the
  * scope that releases whatever a loop still holds when it returns or
  * throws.
  *
  * Fallback caveat: without a checkpoint dir, `localCheckpoint` itself keeps
  * the RESULT blocks cached until the DataFrame is GC'd (the ContextCleaner
  * releases them) — bounded by the result size, not the intermediates.
  * Reliable-checkpoint FILES outlive the DataFrame unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints` is enabled;
  * [[graft.LocalSession]] sets it (see README ops notes).
  */
object Lifecycle {

  /** Materialize `result`, then unpersist `inputs`. */
  def released(result: DataFrame, inputs: DataFrame*): DataFrame =
    releasedBy(result)(inputs.foreach(_.unpersist()))

  /** Materialize `result`, then run an arbitrary release action. The
    * release runs even when materialization throws (e.g. a frozen-schema
    * raise_error surfacing at execution): a failing query must not leave
    * its barriers cached either.
    */
  def releasedBy(result: DataFrame)(release: => Unit): DataFrame =
    try checkpointed(result) finally release

  /** `df` materialized with its lineage cut: a reliable checkpoint when the
    * session has a checkpoint dir, else an eager local checkpoint.
    */
  private def checkpointed(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      // Dataset.checkpoint(eager) runs TWO jobs — the eager count and the
      // checkpoint write — and the second recomputes the whole query
      // unless the plan is cached. Persist around the checkpoint so the
      // expensive pipeline executes once (the write job reads the cache),
      // then drop the cache: only the checkpoint files back the result.
      val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
      try cached.checkpoint(eager = true)
      finally cached.unpersist()
    } else df.localCheckpoint(eager = true)

  /** Runs one iterative loop over fresh [[Generations]]. Whether the loop
    * returns or throws, every frame the generations still hold is released
    * and the caller's job description (rounds relabel their jobs) is
    * restored.
    */
  def generations[A](spark: SparkSession)(loop: Generations => A): A = {
    val sc = spark.sparkContext
    val callerDescription = sc.getLocalProperty("spark.job.description")
    val g = new Generations(spark)
    try loop(g)
    finally {
      g.release()
      sc.setJobDescription(callerDescription)
    }
  }

  /** A loop's persisted state: the frames every round reads (edge caches),
    * the backing generation, and [[current]], the frame the next round
    * reads. Each round's [[advance]] persists the new generation, runs the
    * round's one materializing action, and only then releases the
    * predecessor — so no generation is recomputed and none outlives its
    * successor.
    *
    * A truncated generation is re-wrapped from its materialized RDD: the
    * logical plan resets to a LogicalRDD (self-joins otherwise embed the
    * previous plan twice per round and analysis goes exponential), while
    * the blocks stay owned by the backing generation, releasable and
    * recomputable through real lineage on eviction or task retry.
    */
  final class Generations private[Lifecycle] (spark: SparkSession) {
    private var barriers = List.empty[DataFrame]
    private var held = List.empty[DataFrame]
    private var view: DataFrame => DataFrame = identity
    private var reads: DataFrame = _

    /** The frame the next round reads. */
    def current: DataFrame = reads

    /** Persists `df` for the whole loop. */
    def persist(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      barriers ::= p
      p
    }

    /** Persists generation 0 and returns it; rounds read `view` of every
      * later generation. A second start keeps the earlier generation held
      * until the loop ends.
      */
    def start(gen0: DataFrame, truncate: Boolean,
        view: DataFrame => DataFrame = identity): DataFrame = {
      barriers :::= held
      this.view = view
      val g = gen0.persist(StorageLevel.MEMORY_AND_DISK)
      held = List(g)
      reads = if (truncate) rewrap(g) else g
      g
    }

    /** One generation step: persists `sides` (round-local barriers `next`
      * reads) and `next`, runs `check` on `next` as the round's one
      * materializing action, releases the predecessor and the sides, and
      * makes `next`'s view [[current]], re-wrapped when `truncate`. The
      * sides are persisted first, so `next`'s cached plan reads them from
      * the cache. Returns `check`'s value. `check` must materialize every
      * partition (a full count, not `limit(1)`): a partly built generation
      * is recomputed through the whole generation chain by the next round.
      */
    def advance[A](next: DataFrame, truncate: Boolean, sides: DataFrame*)(
        check: DataFrame => A): A = {
      val retiring = sides.map(_.persist(StorageLevel.MEMORY_AND_DISK)).toList ::: held
      val n = next.persist(StorageLevel.MEMORY_AND_DISK)
      held = n :: retiring
      val checked = check(n)
      retiring.foreach(_.unpersist())
      held = List(n)
      reads = if (truncate) rewrap(view(n)) else view(n)
      checked
    }

    /** Cuts [[current]]'s RDD lineage too, not only its logical plan: past
      * ~50 re-wraps task serialization walks the dependency chain deep
      * enough to overflow the stack.
      */
    def checkpoint(): Unit = reads = checkpointed(reads)

    /** Materializes the loop's `result`, then releases everything held. */
    def released(result: DataFrame): DataFrame = releasedBy(result)(release())

    private def rewrap(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)

    private[Lifecycle] def release(): Unit = {
      (held ::: barriers).foreach(_.unpersist())
      held = Nil
      barriers = Nil
    }
  }
}
