package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (focused re-verify)
    val only: Option[Set[String]] = args.lift(2).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val live = SparkEntry.queries.keySet ++ SparkEntry.oracleBaselines.keySet
    // a typo must not run nothing and read as a clean 0-fail compare
    val unknown = only.getOrElse(Set.empty) -- live
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] unknown entries: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val spark = LocalSession(defaultCpus = "4")
    new java.io.File(outDir).mkdirs()
    // drop result dirs for queries outside this run's scope: renamed/removed
    // catalog entries, and — in focused mode — leftovers from earlier runs
    // (a stale dump would otherwise be compared as if this run produced it)
    val keep = only.getOrElse(live)
    Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !keep.contains(f.getName))
      .foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d))
    // the gate covers the public catalog AND the fenced quadratic baselines
    // (the latter are the equivalence anchors for the scale-safe paths)
    (SparkEntry.queries ++ SparkEntry.oracleBaselines)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries persist() intermediates (schema-fusion barriers etc.);
      // drop them between queries to bound memory across the whole catalog
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // focused mode dumps a subset, so emit only its oracles: the compare
    // script treats an oracle with no dump as a FAIL (a query that threw)
    val json = (SparkEntry.oracleSql ++ SparkEntry.baselineOracleSql)
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
