package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import graft.core.ChoiceSchema
import graft.relationalize.RelationalizeSpark
import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Layout invariance of the JSONL source: [[Sources.jsonl]] cuts a file
  * into line-aligned splits of near-equal size, one per core, and the
  * relational content of a relationalize run does not depend on where the
  * cuts fall. Rids are positional, so they may differ between layouts; the
  * rows joined back on them may not.
  */
class JsonlSplitSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private lazy val dir: Path = Files.createTempDirectory("graft-jsonl")

  /** About 2 MB of order documents: a natural key `id`, a nested struct,
    * an item array (some empty) and a field whose type varies per item.
    */
  private lazy val lines: Vector[String] = {
    val rnd = new scala.util.Random(7)
    Vector.tabulate(11500) { i =>
      val items = (0 until rnd.nextInt(4)).map { j =>
        val qty = rnd.nextInt(3) match {
          case 0 => rnd.nextInt(50).toString
          case 1 => "%.3f".formatLocal(java.util.Locale.ROOT, rnd.nextDouble() * 10)
          case _ => s""""q${rnd.nextInt(9)}""""
        }
        s"""{"sku":"s$i-$j","qty":$qty,"tags":["t${rnd.nextInt(5)}","u${rnd.nextInt(5)}"]}"""
      }
      s"""{"id":$i,"customer":{"name":"customer-${rnd.nextInt(500)}","tier":${rnd.nextInt(3)}},""" +
        s""""note":"${"x" * rnd.nextInt(60)}","items":[${items.mkString(",")}]}"""
    }
  }

  private lazy val file: String = {
    val p = dir.resolve("orders.jsonl")
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    p.toString
  }

  private def partitionBytes(ds: Dataset[String]): Seq[Long] =
    ds.rdd.mapPartitions(it => Iterator(it.map(_.getBytes(UTF_8).length + 1L).sum)).collect().toSeq

  test("a JSONL file reads as >= defaultParallelism even, line-aligned splits, in file order") {
    assert(Files.size(Path.of(file)) > 1800000L)
    val ds = Sources.jsonl(spark, file)
    val bytes = partitionBytes(ds)
    assert(bytes.size >= spark.sparkContext.defaultParallelism)
    assert(bytes.max.toDouble / bytes.min <= 1.5, s"partition bytes $bytes")
    assert(ds.collect().toVector == lines)
  }

  test("relationalized and joined back, the content does not depend on the split") {
    val even = Sources.jsonl(spark, file)
    val stock = spark.read.textFile(file)
    assert(even.rdd.getNumPartitions != stock.rdd.getNumPartitions, "the two reads must differ in layout")

    /** Every (order, item, tag) row without its rids, in a canonical order. */
    def content(ds: Dataset[String]): (Map[String, ChoiceSchema], Seq[String]) = {
      val rel = RelationalizeSpark(ds, "orders")
      try {
        val (o, i, t) = (rel("orders"), rel("orders_items"), rel("orders_items_tags"))
        val joined = o.join(i, o("items") === i("items__rid_"))
          .join(t, i("items_tags") === t("items_tags__rid_"))
          .drop("items", "items__rid_", "items_tags", "items_tags__rid_")
        val rows = joined.collect().map(_.toSeq.mkString("|")).sorted.toSeq
        // orders with no items survive only in the root table
        val roots = o.drop("items").collect().map(_.toSeq.mkString("|")).sorted.toSeq
        (rel.schemas, roots ++ rows)
      } finally rel.release()
    }

    val (evenSchemas, evenRows) = content(even)
    val (stockSchemas, stockRows) = content(stock)
    assert(evenSchemas == stockSchemas)
    assert(evenRows.size > lines.size)
    assert(evenRows == stockRows)
  }

  test("a directory of many small files is packed, not read as one partition per file") {
    val small = Files.createDirectories(dir.resolve("small"))
    lines.take(200).zipWithIndex.foreach { case (l, k) =>
      Files.write(small.resolve(f"part-$k%03d.jsonl"), (l + "\n").getBytes(UTF_8))
    }
    val ds = Sources.jsonl(spark, small.toString)
    assert(ds.rdd.getNumPartitions <= spark.read.textFile(small.toString).rdd.getNumPartitions)
    assert(ds.collect().toVector == lines.take(200))
  }

  test("a gzip file still reads, whole, as one partition") {
    val gz = dir.resolve("orders.jsonl.gz")
    val out = new GZIPOutputStream(Files.newOutputStream(gz))
    try out.write(lines.take(500).mkString("", "\n", "\n").getBytes(UTF_8)) finally out.close()
    val ds = Sources.jsonl(spark, gz.toString)
    assert(ds.rdd.getNumPartitions == 1)
    assert(ds.collect().toVector == lines.take(500))
  }
}
