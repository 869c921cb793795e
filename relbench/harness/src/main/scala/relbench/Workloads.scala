package relbench

import graft.core.{ChoiceSchema, Json}
import graft.relationalize.{RelationalizeSpark, Relationalizer}
import graft.sources.{Sinks, Sources}
import graft.streaming.StreamingRelationalize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one job hands back: facts the output check needs, and work to do
  * after the job's clock has stopped (result dumps for the oracle check).
  */
final case class JobResult(facts: Map[String, Any], afterTiming: () => Unit = () => ())

/** One benchmark workload: a complete job, run the way a user runs the
  * program, through its public calls only. Every call into a layer goes
  * through `t.span`, which times it when tracing is on.
  */
trait Workload {
  def job(out: String, t: Tracer): JobResult

  /** Single-thread timings of the relationalize kernel, no Spark. */
  def kernelProbe(): Map[String, Double] = Map.empty
}

object Workloads {
  /** Root table names; they match the generator in `relbench/gen.py`. */
  def apply(name: String, spark: SparkSession, input: String, out: String): Workload = name match {
    case "nested_docs" =>
      new RelationalizeJob(spark, input, "orders", ("orders_items", "items", "items__rid_"))
    case "drift_stream" => new DriftStreamJob(spark, input, "orders")
    case "catalog_iterative" => new CatalogJob(spark, input, out)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** All JSON lines of a file, or of every file in a directory (name order). */
  def readLines(input: String): IndexedSeq[String] = {
    val p = Paths.get(input)
    val files: Seq[Path] =
      if (Files.isDirectory(p)) Files.list(p).iterator().asScala.toSeq.sortBy(_.toString)
      else Seq(p)
    files.flatMap(f => Files.readAllLines(f, StandardCharsets.UTF_8).asScala).toIndexedSeq
  }

  /** [[Relationalizer.relationalizeLine]], [[ChoiceSchema.observe]] and
    * [[Json.writeTaggedRow]] over the workload's own documents on one thread:
    * the kernel cost pass 1 spreads over the task threads. One warm-up pass
    * over a quarter of the documents, then the median of three full passes.
    */
  def probeKernel(lines: IndexedSeq[String], name: String): Map[String, Double] = {
    def pass(docs: IndexedSeq[String]): (Long, Long, Long, Long) = {
      val t0 = System.nanoTime()
      val rows = docs.indices.map(i => Relationalizer.relationalizeLine(docs(i), name, s"0:$i"))
      val t1 = System.nanoTime()
      val schemas = mutable.Map.empty[String, ChoiceSchema]
      rows.foreach(_.foreach { case (table, row) =>
        schemas(table) = schemas.getOrElse(table, ChoiceSchema.empty).observe(row)
      })
      val t2 = System.nanoTime()
      var chars = 0L
      rows.foreach(_.foreach { case (_, row) => chars += Json.writeTaggedRow(row).length })
      val t3 = System.nanoTime()
      require(chars > 0)
      (t1 - t0, t2 - t1, t3 - t2, rows.map(_.size.toLong).sum)
    }
    pass(lines.take(lines.size / 4))
    val runs = (1 to 3).map(_ => pass(lines))
    def median(f: ((Long, Long, Long, Long)) => Long): Double = runs.map(f).sorted.apply(1) / 1e9
    val nRows = runs.head._4.toDouble
    Map(
      "kernel.docs_per_s" -> lines.size / median(_._1),
      "kernel.observe_rows_per_s" -> nRows / median(_._2),
      "kernel.write_rows_per_s" -> nRows / median(_._3),
      "kernel.rows_per_doc" -> nRows / lines.size)
  }
}

/** Batch relationalize: read JSONL, relationalize, write every table as
  * JSONL and the Postgres DDL, then the rid join-back of the root with one
  * child table: (child table, parent rid column, child rid column).
  *
  * Traced jobs materialize each converted table (persist + count) before
  * its sink write, so pass-2 conversion and the sink get separate spans;
  * untraced jobs hand the lazy table straight to the sink, as a user would.
  */
final class RelationalizeJob(spark: SparkSession, input: String, name: String,
                             joinBack: (String, String, String)) extends Workload {

  def job(out: String, t: Tracer): JobResult = {
    if (t.enabled) t.span("sources.scan")(Sources.jsonl(spark, input).count())
    val lines = Sources.jsonl(spark, input)
    val rel = t.span("rel.apply")(RelationalizeSpark(lines, name))
    try {
      rel.tables.toSeq.sortBy(_._1).foreach { case (table, df) =>
        val path = s"$out/tables/$table"
        if (t.enabled) {
          val conv = t.span("rel.pass2", Map("table" -> table)) {
            val c = df.persist(StorageLevel.MEMORY_AND_DISK)
            c.count()
            c
          }
          try t.span("sinks.write", Map("table" -> table))(Sinks.jsonl(conv, path))
          finally conv.unpersist(blocking = true)
        } else Sinks.jsonl(df, path)
      }
      t.span("core.ddl") {
        val dir = Files.createDirectories(Paths.get(out, "ddl"))
        rel.ddl().foreach { case (table, ddl) =>
          Files.write(dir.resolve(s"$table.sql"), ddl.getBytes(StandardCharsets.UTF_8))
        }
      }
      val (child, parentCol, ridCol) = joinBack
      val (p, c) = (rel(name), rel(child))
      val joined = t.span("rel.joinback")(p.join(c, p(parentCol) === c(ridCol)).count())
      JobResult(Map("joinback_rows" -> joined))
    } finally rel.release()
  }

  override def kernelProbe(): Map[String, Double] =
    Workloads.probeKernel(Workloads.readLines(input), name)
}

/** Streaming drain: a directory of JSONL files, one file per micro-batch,
  * into evolving parquet tables. The job ends when the stream has consumed
  * every file; the per-batch durations come from the query's progress.
  */
final class DriftStreamJob(spark: SparkSession, input: String, name: String) extends Workload {

  def job(out: String, t: Tracer): JobResult = {
    val lines = spark.readStream.option("maxFilesPerTrigger", "1").textFile(input)
    val query = t.span("stream.run") {
      val q = StreamingRelationalize.runToParquetEvolving(lines, name, s"$out/tables", s"$out/checkpoint")
      q.awaitTermination()
      q
    }
    val batches = query.recentProgress.filter(_.numInputRows > 0).map { p =>
      Map("batch" -> p.batchId, "s" -> p.batchDuration / 1e3, "rows" -> p.numInputRows)
    }.toSeq
    JobResult(Map("batches" -> batches))
  }

  override def kernelProbe(): Map[String, Double] =
    Workloads.probeKernel(Workloads.readLines(input), name)
}

/** Driver-latency-bound catalog entries, each forced through a `noop` sink.
  * Their results are dumped as parquet after the clock stops, for the DuckDB
  * oracle check.
  */
final class CatalogJob(spark: SparkSession, input: String, runDir: String) extends Workload {
  private val entries = Seq("q_kcore")

  locally {
    val oracle = entries.map(e => e -> graft.SparkEntry.oracleSql(e)).toMap
    Files.createDirectories(Paths.get(runDir))
    Files.write(Paths.get(runDir, "oracle_sql.json"), Harness.toJson(oracle).getBytes(StandardCharsets.UTF_8))
  }

  def job(out: String, t: Tracer): JobResult = {
    val results: Seq[(String, DataFrame)] = entries.map { e =>
      e -> t.span(s"ops.$e") {
        val df = graft.SparkEntry.queries(e)(spark, input)
        df.write.format("noop").mode("overwrite").save()
        df
      }
    }
    JobResult(Map.empty, () => results.foreach { case (e, df) =>
      df.write.mode("overwrite").parquet(s"$out/results/$e")
    })
  }
}
