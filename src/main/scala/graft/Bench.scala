package graft

/** Per-query flight recorder (round-11 verdict ask): the driver's r11 run
  * measured one query 40x its builder/judge time with reruns exhausted, and
  * the archive — seconds + loadavg only — could not distinguish a GC storm
  * from spill from block-manager churn post-hoc. This listener aggregates
  * TaskMetrics across each query's measurement window so the NEXT anomaly is
  * self-diagnosing from the archived JSON alone.
  *
  * Counters are LongAdders (the listener bus delivers task-end events on its
  * own thread). The bus is asynchronous, so a few trailing events from query
  * N can land in query N+1's window — attribution slop of a handful of
  * tasks, fine for diagnostics, not for accounting.
  */
private final class BenchFlightRecorder extends org.apache.spark.scheduler.SparkListener {
  import java.util.concurrent.atomic.{LongAdder, AtomicLong}
  private val runMs, cpuMs, gcMs, spillBytes, shuffleBytes, tasks, evictions = new LongAdder
  private val peakExecMem = new AtomicLong(0L)

  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      tasks.increment()
      runMs.add(m.executorRunTime)
      cpuMs.add(m.executorCpuTime / 1000000L)
      gcMs.add(m.jvmGCTime)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
    }
  }

  /** Storage-level-NONE block updates = blocks dropped/evicted from the
    * block manager — the "persist eviction under a warm block store"
    * fingerprint the r11 anomaly hypothesis needed and the archive lacked.
    */
  override def onBlockUpdated(e: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit =
    if (!e.blockUpdatedInfo.storageLevel.isValid) evictions.increment()

  def reset(): Unit = {
    Seq(runMs, cpuMs, gcMs, spillBytes, shuffleBytes, tasks, evictions).foreach(_.reset())
    peakExecMem.set(0L)
  }

  /** [taskRunMs, taskCpuMs, gcMs, spillMB, shuffleMB, peakExecMemMB,
    * evictedBlocks, tasks] — the legend is archived as "tm_fields".
    */
  def snapshot(): Seq[Long] = Seq(
    runMs.sum, cpuMs.sum, gcMs.sum, spillBytes.sum >> 20, shuffleBytes.sum >> 20,
    peakExecMem.get >> 20, evictions.sum, tasks.sum)
}

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  *
  * Queries are forced through a `noop` sink write — unlike `count()`, this
  * defeats column pruning so the measured work includes every projected
  * expression (string funcs, minhash signatures, ...), not just row counting.
  */
object Bench {

  /** Representative heavy set: relationalize round-trips, the shuffle-bound
    * join/agg/window core, and the pipeline ops. The quadratic pair-oracles
    * (dedup_jaccard, simhash_pairs) are correctness checks, not throughput
    * paths, and stay out of the headline.
    */
  val headline: Seq[String] = Seq(
    "rel_flat", "rel_explode", "rel_choice",
    "q_filter_project", "q_agg_pricing", "q_agg_stats",
    "q_join_big", "q_join_star", "q_left_join", "q_full_outer", "q_theta_join",
    "q_merge_upsert", "q_histogram", "q_edit_distance", "q_tpch_q3", "q_tpch_q5", "q_tpch_q18",
    "q_tpch_q17", "q_tpch_q19", "q_tpch_q21", "q_string_agg", "q_mode", "q_lateral_topn",
    "q_tpch_q2", "q_tpch_q4", "q_tpch_q6", "q_tpch_q7", "q_tpch_q8", "q_tpch_q9",
    "q_tpch_q10", "q_tpch_q11", "q_tpch_q12", "q_tpch_q13", "q_tpch_q14", "q_tpch_q15",
    "q_tpch_q16", "q_tpch_q20", "q_tpch_q22",
    "q_window_running", "q_window_rank", "q_window_range", "q_sessionize", "q_session_window",
    "q_anomaly_mad", "q_forecast_seasonal", "q_growth", "q_funnel", "q_retention", "q_pivot",
    "q_scd2", "q_gapfill", "q_interval_merge", "q_cumulative_distinct", "q_cohort",
    "q_approx_distinct", "q_sketch_union", "q_approx_quantile", "q_heavy_hitters",
    "q_asof_join", "q_asof_nearest", "q_range_join", "q_grouping_id", "q_not_in",
    "q_fuzzy_join",
    "dedup_exact", "dedup_paragraph", "dedup_incremental", "dedup_bloom",
    "dedup_minhash_sig", "dedup_minhash_lsh", "dedup_embedding_lsh",
    "emb_dup_clusters", "q_dq_violations",
    "ann_bruteforce", "ann_filtered", "ann_ivf", "ann_ivf_incremental", "ann_recall", "ann_pq",
    "ann_ivfpq", "ann_pca_reduced", "ann_pca_recall",
    "q_agg_filter", "q_profile", "q_dq_report", "q_salted_join", "q_hierarchy",
    "q_ivm_join", "q_ivm_agg", "q_agg_corr", "q_regression", "q_ab_test", "q_merge_cdc", "q_temporal_join",
    "q_pagerank", "q_pagerank_directed", "q_triangles", "q_kcore", "q_zorder", "q_skyline", "rel_delete_cascade",
    "q_pseudonymize", "q_transition_matrix", "q_rfm", "q_gini",
    "doc_filter_quantile",
    "text_quality", "text_langid", "text_repetition", "text_tfidf", "text_vocab",
    "text_decontaminate", "text_decontaminate_bloom", "text_ngram_dup",
    "text_winnow", "text_winnow_pairs", "text_containment", "text_nfc_dedup", "dedup_substring",
    "dedup_substring_rewrite", "dedup_substring_docs",
    "text_quality_model", "text_lm_score", "text_pretokenize", "text_bpe_learn", "text_bpe_tokens",
    "text_bpe_bytes_learn", "text_bpe_gpt2",
    "text_quality_train", "text_quality_train_cg", "text_quality_trained",
    "doc_pack", "doc_pack_bpe", "doc_pack_gpt2", "doc_chunk", "doc_chunk_bpe", "doc_sample_stratified", "doc_sample_quota", "doc_sample_weighted",
    "doc_sample_quota_sharded", "doc_mix_report", "doc_mix_rates", "q_ewma", "q_holt",
    // doc_dedup_weights (like dedup_clusters / doc_split_grouped it composes)
    // stays out: its jaccard-prefix pair pipeline is output-bound on this
    // corpus's 40-word vocabulary (true pair set ~quadratic — see ROADMAP)
    "doc_upsample", "doc_shuffle_split", "doc_curate",
    "emb_kmeans", "emb_covariance", "emb_quantize", "ann_sq8", "ann_sq8_recall",
    "ann_matryoshka", "ann_matryoshka_recall", "search_hybrid_rrf", "emb_pca_power", "emb_pca_project",
    "emb_pca_topk", "emb_pca_project_topk", "emb_pca_whiten",
    "mm_features", "mm_ahash", "mm_phash", "mm_ahash_dedup", "mm_frame_dedup", "mm_decode",
    "mm_resize_real",
    // round 10: the filtered-search recall monitor and the rich-arm jaccard
    // measurement (linear true pairs — the NON-output-bound PPJoin number).
    // text_bpe_learn_rich stays out: it has text_bpe_learn's shape (one
    // corpus aggregation, then a driver merge loop over a vocab capped at
    // 2048 words), so it would time nothing text_bpe_learn does not.
    // stream_* entries stay out too: they time the gate staging harness
    // (write + availableNow drain), not an operator.
    "ann_filtered_recall", "dedup_jaccard_rich", "dedup_jaccard_rich_stats",
    "ann_filtered_ivf", "ann_filtered_ivf_recall",
    // round 11: the content-keyed rid round-trip and the filtered IVF-PQ
    // pair (the production index shape under a predicate)
    "rel_explode_content", "ann_filtered_ivfpq", "ann_filtered_ivfpq_recall",
    "emb_semantic_dedup", "text_gopher_quality", "text_gopher_repetition",
    // round 12: the production LSH dial (the 100 TB-safe config, now
    // hash-pinned), WAV audio decode, delete-aware IVF maintenance
    "dedup_embedding_lsh_prod", "mm_audio_decode",
    "ann_ivf_delete", "ann_ivf_delete_recall")

  /** Entries whose chain replays a [[graft.ops.DriverMemo]] statistic: the
    * median measures warm REPLAY (the policy the round-8 verdict asked
    * for), so the archive also carries run 0's time — measured truly cold
    * by invalidating every memo first — as "cold" (the round-9 verdict's
    * transparency ask: the median must not be misread as compute cost).
    */
  val memoized: Set[String] = Set(
    "dedup_substring", "dedup_substring_rewrite", "dedup_substring_docs",
    "emb_pca_power", "emb_pca_project", "emb_pca_topk", "emb_pca_project_topk",
    "emb_pca_whiten", "ann_pca_reduced", "ann_pca_recall",
    "text_quality_train", "text_quality_train_cg", "text_quality_trained",
    // round 12: the similarity family's trained model parameters (IVF
    // centroid tables, PQ codebooks) moved behind the same DriverMemo
    // pattern — every entry below replays them after its family's first
    // build, so each gets the forced-cold run-0 treatment too
    "ann_ivf", "ann_ivf_incremental", "ann_recall", "ann_pq", "ann_ivfpq",
    "ann_filtered_ivf", "ann_filtered_ivf_recall",
    "ann_filtered_ivfpq", "ann_filtered_ivfpq_recall",
    "emb_kmeans", "emb_semantic_dedup", "ann_ivf_delete", "ann_ivf_delete_recall")

  /** Timed runs per query; the reported time is the median, so one GC pause /
    * noisy-neighbor stall in the sandbox no longer poisons the recorded
    * number (two recorded rounds in a row disagreed with reruns by 5-10x;
    * round 5 still saw unchanged queries double between back-to-back totals
    * at 3 runs — 5 tightens the median).
    */
  val RunsPerQuery = 5

  /** Self-defense against load-polluted archives (rounds 5 AND 6 both
    * recorded garbage under external load — 8-17x inflation on unchanged
    * queries): a noisy-neighbor stall inflates SOME runs but rarely all, so
    * a median far above the fastest observed run is the fingerprint of
    * pollution, not of the query. When median > [[RerunRatio]] x min, the
    * whole measurement is retried (up to [[MaxReruns]] times) and the best
    * median wins; the per-query 1-min loadavg at measurement start is
    * archived in the JSON so a still-polluted number is self-identifying.
    */
  val RerunRatio = 3.0
  val MaxReruns = 2

  private def load1(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  def main(args: Array[String]): Unit = {
    // optional arg: comma-separated subset of the headline set (fast local
    // iteration on one query); the driver invokes with no args = full set
    val wanted = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val catalog = SparkEntry.queries
    val runnable = headline.filter(catalog.contains)
    // a typo must fail, not time nothing and print an empty total
    val unknown = wanted.getOrElse(Set.empty) -- runnable
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] not headline catalog entries: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // NOTE: do NOT lower spark.sql.files.maxPartitionBytes here: the sf0.1
    // parquet files are single-row-group, so smaller splits cannot
    // parallelize the scans, and empirically an 8 MB setting interacted
    // with AQE to serialize rel_explode's intermediate stages (88 s vs
    // 15 s cold). Parallelism begins at the first shuffle (32 partitions).
    // The session's checkpoint dir makes Lifecycle.released use reliable
    // checkpoints: the measured work includes the materialize-and-release
    // a production session pays.
    val spark = LocalSession(defaultCpus = "4")

    // JVM/codegen warmup outside the timed region
    spark.range(1000000).selectExpr("sum(id)").collect()

    val recorder = new BenchFlightRecorder
    spark.sparkContext.addSparkListener(recorder)

    // 1 untimed warm-up + RunsPerQuery timed runs: the first execution of a
    // query pays JIT/codegen warm-up that can dominate (measured 40x on
    // rel_explode) — a cost that amortizes to zero on any real corpus, so
    // steady-state is the honest throughput number. clearCache() between
    // runs keeps each run computing the full pipeline (only JVM-level warmth
    // persists).
    // each measure() call resets the flight recorder, so the archived
    // TaskMetrics window covers exactly the measurement block the archived
    // median came from (a rerun REPLACES the metrics with its own window —
    // the window that produced the number that ships)
    def measure(name: String): (Double, Double, Double, Seq[Double]) = {
      // memoized families: run 0 must actually COMPUTE (a prior family
      // member would otherwise have pre-filled the shared memo and "cold"
      // would silently read warm)
      if (memoized(name)) ops.DriverMemo.invalidateAll()
      recorder.reset()
      val raw = (0 to RunsPerQuery).map { run =>
        spark.catalog.clearCache() // isolate queries: no cross-query cache leaks
        val t0 = System.nanoTime()
        try catalog(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}") }
        val dt = (System.nanoTime() - t0) / 1e9
        // run 0 is JIT warm-up everywhere EXCEPT memoized entries, where
        // the invalidation above makes it the forced-cold compute run
        val label = if (run != 0) s"run$run" else if (memoized(name)) "cold" else "warm"
        System.err.println(f"[bench] $name%-20s $label $dt%8.2f s")
        dt
      }
      val times = raw.drop(1)
      (times.sorted.apply(times.length / 2), times.min, raw.head, raw)
    }

    // pollution fingerprint: median far above the fastest observed run
    def polluted(med: Double, floor: Double): Boolean =
      med > RerunRatio * floor && med - floor > 0.5
    val results = runnable.filter(n => wanted.forall(_.contains(n))).map { name =>
      val loadStart = load1()
      var (med, floor, cold, raw) = measure(name)
      // rerun guard: median >> fastest run = transient pollution, not the
      // query — retry, REPLACING the polluted measurement with the rerun's
      // own median (never best-of-N min: a genuinely bimodal query — e.g.
      // one that occasionally spills — must keep its real median, not its
      // fastest mode, or a regression hides). `floor` stays the global min
      // so a rerun that is wholly slow still reads as polluted and retries;
      // a query still polluted after MaxReruns is archived at its last
      // measured median and flagged in the JSON.
      var reruns = 0
      while (polluted(med, floor) && reruns < MaxReruns) {
        reruns += 1
        System.err.println(f"[bench] $name%-20s median $med%.2f s > ${RerunRatio}%.0fx floor $floor%.2f s — rerun $reruns (load ${load1()}%.2f)")
        val (m2, f2, c2, r2) = measure(name)
        med = m2
        floor = math.min(floor, f2)
        cold = math.min(cold, c2) // keep the least-polluted cold observation
        raw = r2
      }
      val exhausted = polluted(med, floor)
      if (exhausted)
        System.err.println(f"[bench] $name%-20s STILL polluted after $MaxReruns reruns — archiving median $med%.2f s (floor $floor%.2f s)")
      System.err.println(f"[bench] $name%-20s median $med%8.2f s" +
        (if (memoized(name)) f" (cold $cold%.2f s)" else ""))
      // tm snapshots the recorder AFTER the last measure() call for this
      // query: the archived metrics window is the one the archived median
      // (and its per-run walls) came from
      (name, med, loadStart, exhausted, cold, recorder.snapshot(), raw)
    }
    val qs = results.map { case (k, v, _, _, _, _, _) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val loads = results.map { case (k, _, l, _, _, _, _) => "\"" + k + f"\":$l%.2f" }.mkString("{", ",", "}")
    val flagged = results.collect { case (k, _, _, true, _, _, _) => "\"" + k + "\"" }.mkString("[", ",", "]")
    // cold = run 0 under a freshly invalidated memo, for DriverMemo families
    // only (everywhere else run 0 is JIT warm-up, not a meaningful number)
    val colds = results.collect { case (k, _, _, _, c, _, _) if memoized(k) =>
      "\"" + k + f"\":$c%.3f" }.mkString("{", ",", "}")
    // the flight recorder: per-query TaskMetrics aggregates over the
    // archived measurement window (legend in tm_fields) — GC storms, spill,
    // block-manager eviction churn, and task-count anomalies are now
    // readable straight from the archive
    val tmFields = """["task_run_ms","task_cpu_ms","gc_ms","spill_mb","shuffle_mb","peak_exec_mem_mb","evicted_blocks","tasks"]"""
    val tms = results.map { case (k, _, _, _, _, tm, _) =>
      "\"" + k + "\":" + tm.mkString("[", ",", "]") }.mkString("{", ",", "}")
    // per-run wall times for flagged queries only: a persistent anomaly's
    // modality (all-slow vs bimodal) is the first diagnostic question
    val flaggedRuns = results.collect { case (k, _, _, true, _, _, raw) =>
      "\"" + k + "\":" + raw.map(t => f"$t%.3f").mkString("[", ",", "]") }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // cold_total (round-12 verdict #9): the suite total with every memoized
    // entry's warm-replay median replaced by its forced-cold run-0 time, so
    // cross-round comparisons of the DriverMemo families are one-glance
    // honest (the warm median measures replay policy, not compute).
    val coldTotal = results.map { case (k, med, _, _, c, _, _) =>
      if (memoized(k)) c else med }.sum
    // honesty fields: totals recorded under external load are garbage (see
    // ROADMAP's bench cautions) — "loads" archives each query's 1-min load
    // average at measurement start (plus the run-level end value) so a
    // polluted number is self-identifying in the archived JSON;
    // "rerun_exhausted" lists queries whose median never came within
    // RerunRatio of their floor even after MaxReruns full re-measurements.
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"cold":$colds,"cold_total":$coldTotal%.3f,"loads":$loads,"tm_fields":$tmFields,"tm":$tms,"flagged_runs":$flaggedRuns,"rerun_exhausted":$flagged,"loadavg_end":${load1()}%.2f,"sf":"$sfDir"}"""
    // the full everything-included JSON is written to a local file first
    // (SPARK_GRAFT_BENCH_OUT fallback, kept from prior rounds)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")),
      line + "\n")
    catch { case e: Exception => System.err.println(s"[bench] could not write BENCH_LOCAL.json: ${e.getMessage}") }
    // Stdout line ORDER (round-12 verdict #1 — the driver's parser never got
    // per-query data in 4 rounds): diagnostics first, compact total line
    // next, and the contract line {"metric":"total",...,"queries":...} LAST,
    // so the genuinely final stdout line is the full per-query JSON
    // (build.sbt's StdoutOutput/showSuccess strip sbt's decoration around it).
    val flaggedTm = results.collect { case (k, _, _, true, _, tm, _) =>
      "\"" + k + "\":" + tm.mkString("[", ",", "]") }.mkString("{", ",", "}")
    println(f"""{"metric":"bench_diag","loads":$loads,"tm_fields":$tmFields,"tm":$tms,"flagged_tm":$flaggedTm,"sf":"$sfDir"}""")
    println(f"""{"metric":"total_tail","value":$total%.3f,"unit":"sec","n":${results.length},"cold_total":$coldTotal%.3f,"rerun_exhausted":$flagged,"flagged_runs":$flaggedRuns,"loadavg_end":${load1()}%.2f,"sf":"$sfDir"}""")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"cold":$colds,"cold_total":$coldTotal%.3f,"rerun_exhausted":$flagged,"loadavg_end":${load1()}%.2f,"sf":"$sfDir"}""")
    Console.out.flush()
    spark.stop()
  }
}
