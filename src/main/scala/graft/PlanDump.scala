package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dump `.explain("formatted")` for catalog queries to files — the committed
  * evidence for optimization-round plan claims (`plans/r12/<name>_<tag>.txt`).
  *
  * `sbt "runMain graft.PlanDump <tag> <outDir> <name>[,name...]"`
  *
  * Public catalog entries built around persist barriers EAGERLY materialize
  * and return a checkpointed LogicalRDD (see [[graft.ops.Lifecycle]]) — their
  * public plan is a stub. For those, this tool dumps the LAZY plan twin where
  * one exists (the kernel whose shape the optimization actually changed),
  * falling back to the public entry otherwise. The dumped text is the
  * pre-execution plan (`AdaptiveSparkPlan isFinalPlan=false` where AQE
  * applies), which pins Exchange count, join strategy, PushedFilters and
  * ReadSchema — the properties the round's claims cite.
  */
object PlanDump {

  /** Lazy-plan overrides for checkpointing entries; everything else resolves
    * through [[SparkEntry.queries]] (lazy for plain relational entries).
    */
  private def lazyPlans(s: SparkSession, dir: String): Map[String, () => DataFrame] = Map(
    "dedup_embedding_lsh" -> (() => ops.DedupQueries.dedupEmbeddingLshPlan(s, dir)._1),
    // iterative kernels: the plan that runs N times per query is the ROUND
    // plan over the prepared inputs, dumped as <name>_round
    "mm_ahash_dedup" -> (() => ops.MultimodalQueries.ahashDedupFrom(
      ops.Tables(s, dir, "documents")
        .selectExpr("doc_id", "CAST(text AS BINARY) AS media"))._1),
    "mm_frame_dedup" -> (() => ops.MultimodalQueries.frameDedupPlan(s, dir)._1),
    "q_pagerank_round" -> (() => ops.IterativeQueries.pagerankRoundPlan(s, dir)._1),
    "q_pagerank_directed_round" -> (() => ops.IterativeQueries.pagerankDirectedRoundPlan(s, dir)._1),
    // a below-dial k-core round (round 2) over the cached edges
    "q_kcore_round" -> { () =>
      val edges = ops.IterativeQueries.kcoreEdges(ops.Tables(s, dir, "lineitem")).persist()
      val round1 = ops.IterativeQueries.kcoreRound(edges).collect().map(_.getLong(0)).sorted
      ops.IterativeQueries.kcoreRound(ops.IterativeQueries.kcoreKept(edges, Some(round1)))
    },
    // r13: connected-components round over the embedding-LSH pair graph
    // (the emb_dup_clusters loop body) — propagate + doubling halves
    "emb_dup_clusters_propagate" -> (() => ops.DedupQueries.ccRoundPlan(s, dir)._1),
    "emb_dup_clusters_double" -> (() => ops.DedupQueries.ccRoundPlan(s, dir)._2),
    // r13: the triangles kernel (the public entry checkpoints)
    "q_triangles_kernel" -> (() => ops.IterativeQueries.trianglesPlan(
      ops.Tables(s, dir, "lineitem").select(
        org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("l_partkey")))._1),
    // r12-shape reconstruction of the Gopher-repetition gram pipeline
    // (commit e970b05, TextQueries.scala:103-117 + 132-143): the five
    // explode/groupBy/window/join arms the graft_gram_mass expression
    // replaced. Expressions copied verbatim from `git show e970b05`; the
    // before-entry persisted `tok` and Lifecycle-released, so the lazy
    // joined plan here IS the shape that executed above the cache.
    "text_gopher_repetition_r12shape" -> { () =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val toks = ops.Tokenize.Whitespace.sql("text")
      val tok = ops.Tables(s, dir, "documents")
        .selectExpr("doc_id", s"$toks AS t")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def gramCharMass(n: Int): org.apache.spark.sql.DataFrame = {
        val cnts = tok
          .filter(s"size(t) >= $n")
          .selectExpr("doc_id",
            s"explode(transform(sequence(1, size(t) - ${n - 1}), i -> array_join(slice(t, i, $n), ' '))) AS g")
          .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
        val top = cnts
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("doc_id")).orderBy(col("cnt").desc, col("g").asc)))
          .filter(col("rk") === 1)
          .selectExpr("doc_id", s"CAST(cnt * length(g) AS BIGINT) AS top${n}_chars")
        val dup = cnts.groupBy(col("doc_id"))
          .agg(expr(s"CAST(sum(IF(cnt >= 2, cnt * length(g), 0)) AS BIGINT) AS dup${n}_chars"))
        top.join(dup, Seq("doc_id"))
      }
      val base = tok
        .selectExpr("doc_id", "CAST(size(t) AS BIGINT) AS n_words",
          "CAST(aggregate(t, 0L, (a, x) -> a + length(x)) + size(t) - 1 AS BIGINT) AS total_chars")
      Seq(2, 3, 4, 5, 10).map(gramCharMass)
        .foldLeft(base)((acc, m) => acc.join(m, Seq("doc_id"), "left"))
    },
    // r12-shape reconstruction of the winnow fingerprint chain (commit
    // e970b05, TextQueries.scala:218-232): barriered interpreted-HOF gram
    // hashes + window minima + groupBy, replaced by graft_winnow_fps.
    "text_winnow_r12shape" -> { () =>
      import org.apache.spark.sql.functions._
      val toks = ops.Tokenize.Whitespace.sql("text")
      ops.Tables(s, dir, "documents")
        .selectExpr("doc_id", s"graft_barrier($toks) AS tks")
        .filter("size(tks) >= 6")
        .selectExpr("doc_id",
          "graft_barrier(transform(sequence(1, size(tks) - 2), " +
            "i -> hash60(array_join(slice(tks, i, 3), ' ')))) AS hs")
        .selectExpr("doc_id",
          "explode(transform(sequence(1, size(hs) - 3), " +
            "i -> array_min(slice(hs, i, 4)))) AS fp")
        .groupBy(col("doc_id"), col("fp"))
        .agg(count(lit(1)).as("n_windows"))
    },
    // r12-shape reconstruction of one CC round over the embedding-LSH pair
    // graph (commit e970b05, DedupQueries.scala:903-984): un-rekeyed edge
    // cache, raw-prop union, unhinted sort-merge joins.
    "emb_dup_clusters_round_r12shape" -> { () =>
      import org.apache.spark.sql.functions._
      import org.apache.spark.storage.StorageLevel
      val edges = ops.DedupQueries.dedupEmbeddingLsh(s, dir)
        .select(col("vec_a").as("src"), col("vec_b").as("dst"))
      val vertices = ops.Tables(s, dir, "embeddings").select(col("vec_id").as("id"))
      val sym = edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val touched = sym.select(col("src").as("id")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val gen0 = vertices.select(col("id"))
        .join(touched, Seq("id"), "left_semi")
        .select(col("id"), col("id").as("label"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      gen0.count()
      val labels = s.createDataFrame(gen0.rdd, gen0.schema)
      val prop = sym.join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
      val labelType = labels.schema("label").dataType
      val viaNeighbors = labels.select(col("id"), col("label"), col("label").as("old"))
        .union(prop.select(col("id"), col("label"), lit(null).cast(labelType).as("old")))
        .groupBy(col("id")).agg(min(col("label")).as("label"), min(col("old")).as("old"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      viaNeighbors.as("x")
        .join(viaNeighbors.select(col("id").as("pid"), col("label").as("plabel")).as("p"),
          col("x.label") === col("p.pid"), "left")
        .select(col("x.id"),
          least(col("x.label"), coalesce(col("p.plabel"), col("x.label"))).as("label"),
          col("x.old").as("old"))
    },
    // r12-shape reconstruction of the triangles kernel (commit e970b05,
    // IterativeQueries.scala:568-597): unpersisted pe, unhinted deg joins,
    // sort-merge closing legs, unionAll-of-three-projections per-node count.
    "q_triangles_kernel_r12shape" -> { () =>
      import org.apache.spark.sql.functions._
      import org.apache.spark.storage.StorageLevel
      val li = ops.Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      val pe = li.groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_partkey")).as("ps"))
        .select(col("ps"), explode(col("ps")).as("u"))
        .select(col("u"), explode(expr("filter(ps, y -> y > u)")).as("v"))
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
        .select(col("u"), col("v"))
      val deg = pe.select(col("u").as("node"))
        .unionAll(pe.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val lower = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
      val ori = pe
        .join(deg.select(col("node").as("nu"), col("d").as("du")), col("u") === col("nu"))
        .join(deg.select(col("node").as("nv"), col("d").as("dv")), col("v") === col("nv"))
        .select(when(lower, col("u")).otherwise(col("v")).as("s"),
          when(lower, col("v")).otherwise(col("u")).as("t"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val tri = ori.as("e1")
        .join(ori.as("e2"), col("e1.t") === col("e2.s"))
        .join(ori.as("e3"), col("e3.s") === col("e1.s") && col("e3.t") === col("e2.t"))
        .select(col("e1.s").as("x"), col("e1.t").as("y"), col("e2.t").as("z"))
      val perNode = tri.select(col("x").as("node"))
        .unionAll(tri.select(col("y").as("node")))
        .unionAll(tri.select(col("z").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      deg.join(perNode, Seq("node"), "left")
        .select(col("node"), col("d"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          when(col("d") > 1,
            (lit(2.0) * coalesce(col("n_tri"), lit(0L))) / (col("d") * (col("d") - 1)))
            .otherwise(lit(0.0)).as("clustering"))
    },
    // rich-arm Jaccard verification (lazy: candidates + verify join, the
    // part the graft_overlap change restructured)
    "dedup_jaccard_rich_verify" -> { () =>
      val (docs, cand) = ops.DedupQueries.jaccardPrefixCandidates(
        ops.TextQueries.richCorpus(s, dir))
      ops.DedupQueries.jaccardVerified(docs, cand)
        .filter(org.apache.spark.sql.functions.expr("inter * 2 >= union_sz"))
    },
    // r11-shape reconstruction of the same verify join (commit c3e5bee,
    // DedupQueries.scala:482-488): array_intersect evaluated per output
    // column. Expressions copied verbatim from `git show c3e5bee`.
    "dedup_jaccard_rich_verify_r11shape" -> { () =>
      val (docs, cand) = ops.DedupQueries.jaccardPrefixCandidates(
        ops.TextQueries.richCorpus(s, dir))
      import org.apache.spark.sql.functions.{col, expr}
      cand
        .join(docs.as("da"), col("doc_a") === col("da.doc_id"))
        .join(docs.as("db"), col("doc_b") === col("db.doc_id"))
        .selectExpr("doc_a", "doc_b",
          "CAST(size(array_intersect(da.tset, db.tset)) AS BIGINT) AS inter",
          "CAST(size(da.tset) + size(db.tset) - size(array_intersect(da.tset, db.tset)) AS BIGINT) AS union_sz")
        .filter(expr("inter * 2 >= union_sz"))
    },
    // r11-shape reconstruction of the pagerank round (commit c3e5bee,
    // IterativeQueries.scala:236-280): edges cached on the WINDOW's src
    // partitioning (no dst re-key) and per-round crossJoin(consts) — the
    // "before" evidence for the round-12 optimization, rebuilt here because
    // the plan-dump tooling postdates that commit. Expressions copied
    // verbatim from `git show c3e5bee`.
    "q_pagerank_round_r11shape" -> { () =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      import org.apache.spark.storage.StorageLevel
      val scale = 1000000000000L
      val li = ops.Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      val edges = li.groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_partkey")).as("ps"))
        .select(explode(expr(
          "flatten(transform(ps, x -> transform(filter(ps, y -> y != x), " +
            "y -> struct(x AS src, y AS dst))))")).as("e"))
        .select(col("e.src"), col("e.dst"))
        .distinct()
      val edgesDeg = edges
        .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src"))))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val consts = broadcast(edgesDeg.agg(countDistinct(col("src")).as("n")).select(
        expr(s"((CAST($scale AS BIGINT) * 15) div 100) div n").as("base"),
        expr(s"CAST($scale AS BIGINT) div n").as("init")))
      val init0 = edgesDeg.select(col("src").as("node")).distinct()
        .crossJoin(consts)
        .select(col("node"), col("init").as("rank"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      init0.count()
      val ranks = s.createDataFrame(init0.rdd, init0.schema)
      edgesDeg.join(broadcast(ranks), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(expr("rank div deg")).as("contrib"))
        .crossJoin(consts)
        .select(col("dst").as("node"),
          expr("base + (85 * contrib) div 100").as("rank"))
    },
  )

  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    java.nio.file.Files.createDirectories(outDir)
    val overrides = lazyPlans(spark, sfDir)
    names.foreach { name =>
      val df = overrides.get(name).map(_.apply())
        .getOrElse(SparkEntry.queries(name)(spark, sfDir))
      val text = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(outDir.resolve(s"${name}_$tag.txt"), text)
      System.err.println(s"[plandump] wrote ${name}_$tag.txt (${text.length} chars)")
    }
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(ckptDir.toFile)
  }
}
