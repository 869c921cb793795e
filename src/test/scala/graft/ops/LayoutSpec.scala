package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Layout + order-dependent analytics pins: the Morton interleave math, the
  * file-level pruning payoff of a Z-ordered write, skyline vs brute-force
  * domination (and its plan), and triangle counting.
  */
class LayoutSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def morton(x: Long, y: Long): Long =
    (0 until 16).foldLeft(0L) { (acc, i) =>
      acc | (((x >> i) & 1L) << (2 * i + 1)) | (((y >> i) & 1L) << (2 * i))
    }

  test("zvalue matches the reference Morton interleave bit-for-bit") {
    import spark.implicits._
    val samples = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (1234L, 5678L), (40000L, 7L), (2047L, 99L))
    val got = samples.toDF("x", "y")
      .select(col("x"), col("y"), LayoutQueries.zvalue("x", "y").as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (x, y, z) =>
      assert(z == morton(x, y), s"zvalue($x, $y) = $z, reference ${morton(x, y)}")
    }
  }

  test("z-order: a secondary-dimension predicate prunes files; a linear sort reads everything") {
    import spark.implicits._
    // sparse points over the FULL 16-bit plane (odd multipliers are
    // bijections mod 2^16, so both coordinates spread uniformly) — the
    // regime Z-order exists for. A lexicographic layout makes each file an
    // x-slab with unbounded y extent: any y-only predicate touches every
    // file. Z-ordered files cover compact boxes: the same predicate touches
    // only the files whose y-range intersects.
    val pts = (0 until 100000)
      .map(i => ((i.toLong * 48271) % 65536, (i.toLong * 16807 + 12345) % 65536))
      .toDF("x", "y")
    val tmp = Files.createTempDirectory("graft-zorder").toString
    LayoutQueries.zorderLayout(pts, "x", "y", 64).write.parquet(s"$tmp/z")
    pts.repartitionByRange(64, col("x"), col("y"))
      .sortWithinPartitions(col("x"), col("y"))
      .write.parquet(s"$tmp/linear")
    // per-file min/max footprint — what a reader's footer-stats skipping sees
    def footprints(path: String) = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("x").as("xmin"), max("x").as("xmax"),
        min("y").as("ymin"), max("y").as("ymax"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val zf = footprints(s"$tmp/z")
    val lf = footprints(s"$tmp/linear")
    assert(zf.length >= 32 && lf.length >= 32, s"${zf.length}/${lf.length} files written")
    // y-only slab, ~1.5% selective: candidate files under footer-stats skipping
    def candidates(fs: Array[(Long, Long, Long, Long)], lo: Long, hi: Long) =
      fs.count { case (_, _, ymin, ymax) => ymin <= hi && ymax >= lo }
    val (zc, lc) = (candidates(zf, 30000, 30999), candidates(lf, 30000, 30999))
    assert(lc == lf.length, s"linear layout should be un-prunable on y: $lc of ${lf.length}")
    assert(zc * 2 < lc, s"z-layout candidate files $zc not meaningfully below linear $lc")
    // and the structural reason: z-files bound y, linear files don't
    def meanYExtent(fs: Array[(Long, Long, Long, Long)]) =
      fs.map { case (_, _, ymin, ymax) => (ymax - ymin).toDouble }.sum / fs.length
    assert(meanYExtent(zf) < 0.5 * meanYExtent(lf),
      f"z y-extent ${meanYExtent(zf)}%.0f vs linear ${meanYExtent(lf)}%.0f")
  }

  test("skyline equals brute-force strict domination on points with ties and duplicates") {
    import spark.implicits._
    // deterministic pseudo-random points with engineered collisions: dup
    // pairs (count > 1), price ties with different sizes, size ties
    val pts = (0 until 300).map { i =>
      val price = (i * 37 % 50) * 1.5
      val size = (i * 91 % 40) + 1
      (price, size)
    } ++ Seq((0.0, 40), (0.0, 40), (1.5, 40))
    val df = pts.toDF("p_retailprice", "p_size")
    val tmp = Files.createTempDirectory("graft-sky").toString
    df.write.parquet(s"$tmp/part.parquet")
    val got = LayoutQueries.skyline(spark, tmp).collect()
      .map(r => (r.getDouble(0), r.getInt(1), r.getLong(2))).toSet
    val pairs = pts.groupBy(identity).map { case ((p, s), g) => (p, s, g.size.toLong) }.toSet
    def dom(q: (Double, Int, Long), p: (Double, Int, Long)) =
      q._1 <= p._1 && q._2 <= p._2 && (q._1 < p._1 || q._2 < p._2)
    val brute = pairs.filter(p => !pairs.exists(q => q != p && dom(q, p)))
    assert(got == brute,
      s"skyline mismatch: only-got=${(got -- brute).take(3)} only-brute=${(brute -- got).take(3)}")
  }

  test("skyline plans without any cross product and without a single global sort of the pairs") {
    val df = LayoutQueries.skyline(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"skyline leaked an all-pairs join:\n$plan")
    // the pair-level window must be keyed by partition id (parallel), never
    // an empty partitionBy over the full pair set
    assert(plan.contains("pid"), s"partition-local window key missing:\n$plan")
  }

  test("triangles: known-answer graph (one K3 at support 2, one triangle-free edge)") {
    import spark.implicits._
    // orders 1,2 each hold parts {1,2,3} -> K3 with pair support 2;
    // orders 3,4 each hold parts {4,5} -> one edge, no triangle; order 5's
    // single co-occurrence of {1,4} stays below the support threshold
    val li = (Seq(1L, 2L).flatMap(o => Seq(1L, 2L, 3L).map(p => (o, p))) ++
      Seq(3L, 4L).flatMap(o => Seq(4L, 5L).map(p => (o, p))) ++
      Seq((5L, 1L), (5L, 4L))).toDF("l_orderkey", "l_partkey")
    val (out, barriers) = IterativeQueries.trianglesPlan(li)
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    barriers.foreach(_.unpersist())
    val want = Set((1L, 2L, 1L, 1.0), (2L, 2L, 1L, 1.0), (3L, 2L, 1L, 1.0),
      (4L, 1L, 0L, 0.0), (5L, 1L, 0L, 0.0))
    assert(got == want, s"got $got")
  }

  test("triangles: every leg is an equi-join, never a cross product") {
    import spark.implicits._
    val li = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)).toDF("l_orderkey", "l_partkey")
    val (out, barriers) = IterativeQueries.trianglesPlan(li)
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    barriers.foreach(_.unpersist())
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"triangle enumeration leaked a cross product:\n$plan")
  }
}
