package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import graft.relationalize.{RelationalizeOptions, RelationalizeSpark}
import graft.sources.Sources
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The evolving-schema sink over more than one table
  * ([[StreamingRelationalize.processEvolvingBatch]] runs one chain per
  * table, concurrently), and the frozen-schema streaming transform.
  *
  * The corpus has three tables: `orders`, its `items` child and their
  * `tags` grandchild. The second batch widens `code` on the root and `qty`
  * on the child from int to str; the grandchild does not change.
  */
class EvolvingSinkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[3]")
    .config("spark.sql.shuffle.partitions", "3")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val Tables = Set("orders", "orders_items", "orders_items_tags")
  /** The columns holding rids: positional, so they differ between a
    * streamed and a batch run of the same documents.
    */
  private val RidColumns = Seq("items", "items__rid_", "items_tags", "items_tags__rid_")

  private def doc(id: Int, code: String, qty: Int => String): String = {
    val items = (0 until id % 3).map(j =>
      s"""{"sku":"s$id-$j","qty":${qty(j)},"tags":["t$j","u${id % 2}"]}""")
    s"""{"id":$id,"code":$code,"customer":{"name":"c$id"},"items":[${items.mkString(",")}]}"""
  }
  private val batch1 = (1 to 8).map(i => doc(i, s"${i * 10}", j => s"$j"))
  private val batch2 = (9 to 14).map(i => doc(i, s""""c$i"""", j => s""""q$j""""))

  private def ds(docs: Seq[String]): Dataset[String] = Sources.fromIterable(spark, docs)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** Each table without its rid columns, and every (order, item, tag) row
    * joined back on the rids, so that a rid shared across batches shows.
    */
  private def content(table: String => DataFrame): Map[String, Seq[String]] = {
    val (o, i, t) = (table("orders"), table("orders_items"), table("orders_items_tags"))
    val perTable = Tables.toSeq.map { n =>
      val df = table(n)
      val cols = df.columns.filterNot(RidColumns.contains).sorted
      n -> rows(df.select(cols.head, cols.tail: _*))
    }
    val joined = o.join(i, o("items") === i("items__rid_"))
      .join(t, i("items_tags") === t("items_tags__rid_"))
      .drop(RidColumns: _*)
    val cols = joined.columns.sorted
    (perTable :+ ("joined" -> rows(joined.select(cols.head, cols.tail: _*)))).toMap
  }

  private def types(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.map(f => f.name -> f.dataType.simpleString).sorted.toSeq

  /** The sink under `out` equals the batch relationalize of `docs`. */
  private def assertEqualsBatchRun(out: String, docs: Seq[String]): Unit = {
    val batchRun = RelationalizeSpark(ds(docs), "orders")
    try {
      assert(batchRun.schemas.keySet == Tables)
      val streamed = Tables.map(t => t -> StreamingRelationalize.readTable(spark, out, t)).toMap
      Tables.foreach(t => assert(types(streamed(t)) == types(batchRun(t)), s"table $t"))
      val (got, want) = (content(streamed), content(batchRun(_)))
      assert(want("joined").nonEmpty)
      want.keys.foreach(k => assert(got(k) == want(k), s"$k differs"))
    } finally batchRun.release()
  }

  /** (batch, table, column, change, from, to, widening) per drift-log row. */
  private def driftRows(out: String, table: String): Set[Seq[Any]] =
    StreamingRelationalize.readDriftLog(spark, out, table).collect().map(_.toSeq).toSet

  private def write(path: Path, docs: Seq[String]): Unit =
    Files.write(path, docs.mkString("", "\n", "\n").getBytes(UTF_8))

  test("an empty batch writes no table, no schema and no drift log, and caches nothing") {
    val out = Files.createTempDirectory("graft-empty").resolve("out")
    StreamingRelationalize.processEvolvingBatch(ds(Seq.empty), 0L, "orders", out.toString)
    assert(!Files.exists(out), "an empty batch wrote to its sink")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("nested docs stream into three tables over two batches; each equals the batch run") {
    val tmp = Files.createTempDirectory("graft-multi")
    val in = Files.createDirectories(tmp.resolve("in"))
    write(in.resolve("part0.jsonl"), batch1)
    write(in.resolve("part1.jsonl"), batch2)
    // one file per micro-batch, in this order
    val now = System.currentTimeMillis()
    in.resolve("part0.jsonl").toFile.setLastModified(now - 10000)
    in.resolve("part1.jsonl").toFile.setLastModified(now)
    val out = tmp.resolve("out").toString
    val q = StreamingRelationalize.runToParquetEvolving(
      spark.readStream.option("maxFilesPerTrigger", "1").textFile(in.toString),
      "orders", out, tmp.resolve("ckpt").toString)
    q.awaitTermination(120000)
    assert(q.exception.isEmpty, q.exception)
    assert(q.recentProgress.count(_.numInputRows > 0) == 2)

    assertEqualsBatchRun(out, batch1 ++ batch2)
    assert(driftRows(out, "orders") ==
      Set(Seq(1L, "orders", "code", "retyped", "int", "c-int-str", true)))
    assert(driftRows(out, "orders_items") ==
      Set(Seq(1L, "orders_items", "items_qty", "retyped", "int", "c-int-str", true)))
    assert(driftRows(out, "orders_items_tags").isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("every job of a batch carries the caller's job group and a table label") {
    val out = Files.createTempDirectory("graft-labels").resolve("out").toString
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.properties.getProperty("spark.jobGroup.id"),
          e.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("evolving-sink-spec", "caller", interruptOnCancel = true)
      StreamingRelationalize.processEvolvingBatch(ds(batch1), 0L, "orders", out)
      StreamingRelationalize.processEvolvingBatch(ds(batch2), 1L, "orders", out)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      sc.clearJobGroup()
      // the listener bus delivers in order: once this job is seen, so are
      // all the batches' jobs
      sc.setJobGroup("sentinel", "sentinel")
      spark.range(1).collect()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.asScala.exists(_._1 == "sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally sc.removeSparkListener(listener)

    val seen = jobs.asScala.toSeq.filterNot(_._1 == "sentinel")
    assert(seen.nonEmpty)
    assert(seen.forall(_._1 == "evolving-sink-spec"), seen)
    val Label = """relationalize b([01]) (\S+): (schemas|migrate|drift-log|write)""".r
    val labels = seen.map {
      case (_, Label(b, t, step)) if Tables.contains(t) => (b, t, step)
      case (_, d) => fail(s"job without a table label: $d")
    }.toSet
    for (b <- Seq("0", "1"); t <- Tables) assert(labels.contains((b, t, "write")), (b, t))
    // batch 1 widens the root and the child: both migrate and log drift
    for (t <- Seq("orders", "orders_items"); step <- Seq("migrate", "drift-log"))
      assert(labels.contains(("1", t, step)), (t, step))
  }

  test("a migrating batch runs one migrate job per widened table: its rewrite, no inference") {
    val out = Files.createTempDirectory("graft-migrate-jobs").resolve("out").toString
    StreamingRelationalize.processEvolvingBatch(ds(batch1), 0L, "orders", out)
    val labels = graft.ops.KcoreSpec.jobDescriptions(spark) {
      StreamingRelationalize.processEvolvingBatch(ds(batch2), 1L, "orders", out)
    }
    // batch 1 widens the root and the child; the grandchild keeps its layout
    for (t <- Seq("orders", "orders_items"))
      assert(labels.count(_ == s"relationalize b1 $t: migrate") == 1, labels)
    assert(!labels.contains("relationalize b1 orders_items_tags: migrate"), labels)
    assertEqualsBatchRun(out, batch1 ++ batch2)
  }

  test("a failing table write fails the batch after the other tables finish; a replay converges") {
    val out = Files.createTempDirectory("graft-fail").resolve("out")
    // a regular file where the grandchild table's directory must go
    Files.createDirectories(out)
    val obstacle = out.resolve("orders_items_tags")
    Files.writeString(obstacle, "not a directory")

    val e = intercept[Throwable](
      StreamingRelationalize.processEvolvingBatch(ds(batch1), 0L, "orders", out.toString))
    val messages = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.toString).toSeq
    assert(messages.exists(_.contains("orders_items_tags")), messages)
    Seq("orders", "orders_items").foreach(t =>
      assert(Files.exists(out.resolve(s"$t/b0/_SUCCESS")), s"$t was not finished"))
    assert(spark.sharedState.cacheManager.isEmpty)

    Files.delete(obstacle)
    StreamingRelationalize.processEvolvingBatch(ds(batch1), 0L, "orders", out.toString)
    StreamingRelationalize.processEvolvingBatch(ds(batch2), 1L, "orders", out.toString)
    assertEqualsBatchRun(out.toString, batch1 ++ batch2)
  }

  test("frozen-schema streaming equals toDataFrame under the same schemas and rejects new types") {
    val tmp = Files.createTempDirectory("graft-frozen")
    val in = Files.createDirectories(tmp.resolve("in"))
    write(in.resolve("part0.jsonl"), batch1)
    val options = RelationalizeOptions(contentDocKeys = true)
    val emitted = RelationalizeSpark.emit(ds(batch1), "orders", options)
    val schemas = RelationalizeSpark.collectSchemas(emitted)
    assert(schemas.keySet == Tables)

    def drain(dir: Path, sinkPrefix: String): Map[String, DataFrame] = {
      val streams = StreamingRelationalize.withFrozenSchemas(
        spark.readStream.textFile(dir.toString), "orders", schemas, contentDocKeys = true)
      streams.map { case (t, df) =>
        val q = df.writeStream.format("memory").queryName(s"${sinkPrefix}_$t")
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination(120000) finally q.stop()
        t -> spark.table(s"${sinkPrefix}_$t")
      }
    }

    val streamed = drain(in, "frozen")
    Tables.foreach { t =>
      val want = RelationalizeSpark.toDataFrame(emitted, t, schemas(t))
      assert(types(streamed(t)) == types(want), t)
      assert(rows(streamed(t)) == rows(want), t)
    }

    // a str code is outside the frozen int column: the query must fail
    val bad = Files.createDirectories(tmp.resolve("bad"))
    write(bad.resolve("part0.jsonl"), batch2.take(1))
    val e = intercept[StreamingQueryException](drain(bad, "frozen_bad"))
    assert(e.getMessage.contains("not admitted"), e.getMessage)
  }
}
