package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dump `.explain("formatted")` for catalog queries to files — the committed
  * evidence for optimization-round plan claims (`plans/r12/<name>_<tag>.txt`).
  *
  * `sbt "runMain graft.PlanDump <tag> <outDir> <name>[,name...]"`
  *
  * Public catalog entries built around persist barriers EAGERLY materialize
  * and return a checkpointed LogicalRDD (see [[graft.ops.Lifecycle]]) — their
  * public plan is a stub. For those, this tool dumps the kernel or round
  * plan the entry actually runs, built from the same setup the entry uses,
  * falling back to the public entry otherwise. The dumped text is the
  * pre-execution plan (`AdaptiveSparkPlan isFinalPlan=false` where AQE
  * applies), which pins Exchange count, join strategy, PushedFilters and
  * ReadSchema — the properties the round's claims cite.
  */
object PlanDump {
  import org.apache.spark.sql.functions.col
  import ops.{DedupQueries => D, IterativeQueries => I}

  /** Kernel plans for checkpointing entries; everything else resolves
    * through [[SparkEntry.queries]] (lazy for plain relational entries).
    * Iterative kernels dump the ROUND plan over their prepared inputs as
    * `<name>_round`; the barriers those plans read are persisted through
    * `g`, which releases them after the dump.
    */
  private def kernelPlans(s: SparkSession, dir: String,
      g: ops.Lifecycle.Generations): Map[String, () => DataFrame] = {
    // one CC preparation (over the embedding-LSH pair graph, the
    // emb_dup_clusters loop body) feeds both halves of the round
    lazy val ccRound = {
      val edges = D.dedupEmbeddingLsh(s, dir).select(col("vec_a").as("src"), col("vec_b").as("dst"))
      val vertices = ops.Tables(s, dir, "embeddings").select(col("vec_id").as("id"))
      val (sym, _, hinted) = D.ccPrepare(g, edges, vertices)
      val labels = g.current
      val propagate = D.ccPropagate(sym, labels, hinted)
      // planned before the doubling step caches an equal plan as its input
      propagate.queryExecution.executedPlan
      (propagate, D.ccDouble(g.persist(D.ccPropagate(sym, labels, hinted)), hinted))
    }
    Map(
      "dedup_embedding_lsh" -> (() => D.dedupEmbeddingLshPlan(s, dir)._1),
      "mm_ahash_dedup" -> (() => ops.MultimodalQueries.ahashDedupFrom(
        ops.Tables(s, dir, "documents")
          .selectExpr("doc_id", "CAST(text AS BINARY) AS media"))._1),
      "mm_frame_dedup" -> (() => ops.MultimodalQueries.frameDedupPlan(s, dir)._1),
      "q_pagerank_round" -> { () =>
        val (graph, dm) = I.pagerankPrepare(g, I.coOccurrence(s, dir, "y != src"))
        I.pagerankRound(graph, g.current, dm)
      },
      "emb_dup_clusters_propagate" -> (() => ccRound._1),
      "emb_dup_clusters_double" -> (() => ccRound._2),
      // the triangles kernel (the public entry checkpoints)
      "q_triangles_kernel" -> { () =>
        val (out, barriers) = I.trianglesPlan(
          ops.Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")))
        barriers.foreach(g.persist)
        out
      },
      // rich-arm Jaccard verification (lazy: candidates + verify join, the
      // part the graft_overlap change restructured)
      "dedup_jaccard_rich_verify" -> { () =>
        val (docs, cand) = D.jaccardPrefixCandidates(ops.TextQueries.richCorpus(s, dir))
        D.jaccardVerified(docs, cand)
          .filter(org.apache.spark.sql.functions.expr("inter * 2 >= union_sz"))
      },
    )
  }

  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(defaultCpus = "32")
    java.nio.file.Files.createDirectories(outDir)
    ops.Lifecycle.generations(spark) { g =>
      val kernels = kernelPlans(spark, sfDir, g)
      names.foreach { name =>
        val df = kernels.get(name).map(_.apply())
          .getOrElse(SparkEntry.queries(name)(spark, sfDir))
        val text = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(outDir.resolve(s"${name}_$tag.txt"), text)
        System.err.println(s"[plandump] wrote ${name}_$tag.txt (${text.length} chars)")
      }
    }
    spark.stop()
  }
}
