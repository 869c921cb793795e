package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Storage-layout techniques for the 100 TB posture, pinned against
  * regressions:
  *
  *   - **bucketed tables**: pre-hashing both join sides into the same
  *     bucket layout makes repeated large joins shuffle-FREE — the cost
  *     that dominates a fact-to-fact join at scale is paid once at write
  *     time and amortized over every subsequent join;
  *   - **partitioned writes**: a `partitionBy` layout turns a selective
  *     filter into directory pruning — the scan never opens the other
  *     partitions' files.
  */
class StorageLayoutSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private val warehouse = Files.createTempDirectory("graft-warehouse").toString

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", warehouse)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    // the 100 TB star-join essential: the fact side is partitioned by the
    // join key's dimension attribute, the dim filter is only known at run
    // time (after the broadcast build), and DPP turns it into partition
    // pruning on the fact scan — without it, every fact partition is read
    val factPath = s"$warehouse/fact_dpp"
    Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(factPath)
    import spark.implicits._
    // the dim needs a real selective predicate that SURVIVES optimization:
    // over a LocalRelation the filter constant-folds away and the
    // PartitionPruning rule sees no selective build side — so the dim is a
    // file source like any real dimension table
    val dimPath = s"$warehouse/dim_dpp"
    Seq(("A", "accepted"), ("N", "neutral"), ("R", "returned"))
      .toDF("flag", "label").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter($"label" === "accepted")
    val joined = spark.read.parquet(factPath)
      .join(dim, $"l_returnflag" === $"flag")
      .groupBy("label")
      .agg(org.apache.spark.sql.functions.sum("l_quantity").as("qty"))
    joined.collect()
    val exec = joined.queryExecution.executedPlan
    val p = exec.toString.split("== Initial Plan ==")(0)
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic pruning expression reached the fact scan:\n$p")
    // the scan must have read ONLY the matching partition's files; under
    // AQE the scan lives inside query-stage wrappers, which plain collect
    // treats as leaves — descend explicitly
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
    }.flatten
    val files = scans(exec)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("fact_dpp")))
      .map(_.metrics("numFiles").value)
    assert(files.nonEmpty, s"fact scan not found in:\n$exec")
    val all = spark.read.parquet(factPath).inputFiles.length
    assert(files.head < all,
      s"DPP read ${files.head} files but the table has $all — nothing was pruned")
  }

  test("bucketed tables join and aggregate with zero shuffle exchanges") {
    val orders = Tables(spark, dir, "orders")
    val customer = Tables(spark, dir, "customer")
    orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("orders_b")
    customer.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("customer_b")

    // force the sort-merge path (the broadcast plan would hide the layout win)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"),
          spark.table("orders_b")("o_custkey") === spark.table("customer_b")("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      joined.collect()
      // AQE's toString repeats the plan (Final + Initial) — assert on the
      // final section only
      val p = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(p.contains("SortMergeJoin"), s"expected sort-merge join:\n$p")
      // both sides read pre-bucketed: the join itself needs no Exchange; the
      // only shuffle is the final aggregation on the non-bucket key
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(exchanges <= 1, s"bucketed join must not shuffle its inputs:\n$p")
      assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
        s"scan did not use the bucket layout:\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("partitioned parquet layout prunes non-matching partitions at the scan") {
    val out = Files.createTempDirectory("graft-part").toString + "/events"
    Tables(spark, dir, "events").write.partitionBy("event_type")
      .mode("overwrite").parquet(out)
    val df = spark.read.parquet(out).filter("event_type = 'click'")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(event_type") &&
      p.contains("= click)"), s"no partition filters in:\n$p")
    // the scan must have opened only the click partition's files
    val scanned = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metrics("numFiles").value
    }.get
    val clickFiles = new java.io.File(s"$out/event_type=click")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(scanned == clickFiles, s"scanned $scanned files, click partition has $clickFiles")
    // and the pruned read returns exactly the filtered rows
    val expected = Tables(spark, dir, "events").filter("event_type = 'click'").count()
    assert(df.count() == expected)
  }

  test("compaction rewrites a small-files directory into target-sized clustered files") {
    import org.apache.spark.sql.functions.{col, input_file_name, min, max}
    val tiny = Files.createTempDirectory("graft-tiny").toString + "/events"
    Tables(spark, dir, "events").repartition(32)
      .write.mode("overwrite").parquet(tiny) // the streaming-sink pathology
    val smallFiles = new java.io.File(tiny).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(smallFiles >= 16, s"setup: expected many small files, got $smallFiles")

    val compacted = Files.createTempDirectory("graft-compact").toString + "/events"
    val src = spark.read.parquet(tiny)
    val (rows, files) = graft.sources.Sinks.compactParquet(
      src, compacted, targetRecordsPerFile = 500L, clusterCols = Seq("ts"))
    val out = spark.read.parquet(compacted)
    // file count lands near ceil(rows/target) — range boundaries are sampled,
    // so an uneven split can spill one extra file per partition (the
    // maxRecordsPerFile guard), but never anywhere near the input's count
    assert(rows == out.count())
    val ideal = (rows + 499) / 500
    assert(files >= ideal && files <= 2 * ideal,
      s"$files files for $rows rows at target 500 (ideal $ideal)")
    assert(files < smallFiles / 4, s"compaction barely reduced files: $smallFiles -> $files")
    // no file exceeds the record target
    val perFile = out.groupBy(input_file_name()).count().collect().map(_.getLong(1))
    assert(perFile.forall(_ <= 500L), s"file over target: ${perFile.mkString(",")}")
    // and the rewrite range-clustered on ts: per-file ranges are disjoint
    val ranges = out.groupBy(input_file_name().as("f"))
      .agg(min(col("ts").cast("long")).as("lo"), max(col("ts").cast("long")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"compacted file ranges overlap: ${ranges.toSeq}")
      case _ => ()
    }
    // contents survive bit-exactly (same multiset of rows)
    assert(src.exceptAll(out).isEmpty && out.exceptAll(src).isEmpty)
    // a URI destination: the written files are counted through its FileSystem
    val uriDir = new java.io.File(Files.createTempDirectory("graft-compact-uri").toFile, "events")
    val (uriRows, uriFiles) = graft.sources.Sinks.compactParquet(
      src, uriDir.toURI.toString, targetRecordsPerFile = 500L)
    assert(uriRows == rows)
    assert(uriFiles == uriDir.listFiles().count(_.getName.endsWith(".parquet")) && uriFiles > 0,
      s"$uriFiles files reported for ${uriDir.toURI}")
  }

  test("range-clustered write produces disjoint per-file key ranges") {
    import org.apache.spark.sql.functions.{col, min, max, input_file_name}
    // The time-series layout at 100 TB: repartitionByRange + sortWithinPartitions
    // at write time clusters each file on the key, so parquet min/max stats
    // (and any table format's file-level stats) can skip files for a range
    // predicate. Without it every file spans the whole key range and a
    // "last hour" query scans the entire table.
    val out = Files.createTempDirectory("graft-range").toString + "/orders"
    Tables(spark, dir, "orders")
      .repartitionByRange(4, col("o_orderdate"))
      .sortWithinPartitions("o_orderdate")
      .write.mode("overwrite").parquet(out)
    val ranges = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("o_orderdate").cast("timestamp").cast("long")).as("lo"),
        max(col("o_orderdate").cast("timestamp").cast("long")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(ranges.length >= 3, s"expected >=3 range files, got ${ranges.length}")
    ranges.sliding(2).foreach { case Array((_, hi), (lo2, _)) =>
      assert(hi <= lo2, s"file key ranges overlap: hi=$hi > next lo=$lo2 in ${ranges.toSeq}")
    }
    // a contrast control: the unclustered write's files all span ~the whole
    // range (every file's min is below every file's max-of-mins)
    val flat = Files.createTempDirectory("graft-flat").toString + "/orders"
    Tables(spark, dir, "orders").repartition(4)
      .write.mode("overwrite").parquet(flat)
    val flatRanges = spark.read.parquet(flat)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("o_orderdate").cast("timestamp").cast("long")).as("lo"),
        max(col("o_orderdate").cast("timestamp").cast("long")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val overlaps = flatRanges.sortBy(_._1).sliding(2)
      .count { case Array((_, hi), (lo2, _)) => hi > lo2 }
    assert(overlaps > 0, "control failed: hash-partitioned files came out disjoint")
  }

  test("z-order clustering keeps per-file ranges tight on BOTH dimensions") {
    import org.apache.spark.sql.functions._
    // Two uniform 16-bit dimensions; cluster by the Morton key. Each of the
    // 4 z-range files then covers ~a quadrant — tight min/max on BOTH
    // columns, so file skipping works for predicates on either. The 1-D
    // control (range-cluster on x alone) leaves y unconstrained per file.
    val dims = Tables(spark, dir, "orders")
      .select(pmod(hash(col("o_orderkey")), lit(65536)).cast("long").as("x"),
        pmod(hash(col("o_orderkey") * 31 + 7), lit(65536)).cast("long").as("y"))
    def spans(path: String): Array[(Double, Double)] =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(((max("x") - min("x")) / 65535.0).as("xs"),
          ((max("y") - min("y")) / 65535.0).as("ys"))
        .collect().map(r => (r.getDouble(1), r.getDouble(2)))

    val zout = Files.createTempDirectory("graft-z").toString + "/d"
    val zkey = graft.functions.GraftFunctions.zorderKey(
      org.apache.spark.sql.functions.col("x"), org.apache.spark.sql.functions.col("y"))
    dims.withColumn("z", zkey)
      .repartitionByRange(8, col("z")).sortWithinPartitions("z").drop("z")
      .write.mode("overwrite").parquet(zout)
    val zs = spans(zout)
    assert(zs.length >= 6, s"expected >=6 z files, got ${zs.length}")
    // Range cut points come from sampling, so a file can straddle a quadrant
    // boundary and span one dim fully — judge the LAYOUT by the average
    // worst-dimension span per file, which z-ordering keeps well under the
    // full square while 1-D clustering cannot.
    def avgMaxSpan(sp: Array[(Double, Double)]): Double =
      sp.map { case (xs, ys) => math.max(xs, ys) }.sum / sp.length
    val zAvg = avgMaxSpan(zs)
    assert(zAvg <= 0.75, s"z layout avg worst-dim span $zAvg — not clustered: ${zs.toSeq}")

    val xout = Files.createTempDirectory("graft-x").toString + "/d"
    dims.repartitionByRange(8, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xout)
    val xspans = spans(xout)
    val xAvg = avgMaxSpan(xspans)
    // control: x-clustering leaves y near-full per file
    assert(xAvg >= 0.9, s"x control avg worst-dim span $xAvg: ${xspans.toSeq}")
    assert(zAvg < xAvg, s"z layout ($zAvg) must beat 1-D clustering ($xAvg)")
  }
}
