package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GraftFunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftFunctions.registerAll(s)
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("a second registerAll replaces no function and logs nothing") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val registry = spark.sessionState.functionRegistry
    def registered = GraftFunctions.SqlFunctions.map { case (name, _) =>
      val id = FunctionIdentifier(name)
      registry.lookupFunction(id) -> registry.lookupFunctionBuilder(id)
    }
    val before = registered
    assert(before.forall { case (info, builder) => info.isDefined && builder.isDefined })
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val logger = LogManager.getLogger(registry.getClass.getName).asInstanceOf[Logger]
    val capture = new AbstractAppender("capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = logged.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    logger.addAppender(capture)
    try {
      GraftFunctions.registerAll(spark)
      assert(registered.zip(before).forall { case ((info, builder), (info0, builder0)) =>
        (info.get eq info0.get) && (builder.get eq builder0.get)
      })
      assert(logged.isEmpty, logged)
      // the capture does see a replacement
      val (name, builder) = GraftFunctions.SqlFunctions.head
      registry.createOrReplaceTempFunction(name, builder, "built-in")
      assert(logged.asScala.exists(_.contains("replaced a previously registered function")), logged)
    } finally {
      logger.removeAppender(capture)
      capture.stop()
    }
  }

  test("hash60 equals the portable md5-prefix composite (and survives codegen)") {
    import spark.implicits._
    val df = Seq("abc", "", "hello world", "日本語").toDF("s")
    val rows = df.selectExpr(
      "hash60(s) AS custom",
      "CAST(conv(substring(md5(CAST(s AS BINARY)), 1, 15), 16, 10) AS BIGINT) AS composite")
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("relationalize generator: LATERAL VIEW produces all tables with consistent rids") {
    import spark.implicits._
    Seq(
      """{"id": 1, "xs": [10, 20], "nested": {"a": "b"}}""",
      """{"id": 2, "xs": []}""").toDF("doc").createOrReplaceTempView("gen_docs")
    val out = spark.sql(
      "SELECT r.tbl, r.payload FROM gen_docs LATERAL VIEW relationalize(doc, 't') r AS tbl, payload")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.map(_._1).count(_ == "t") == 2)
    assert(out.map(_._1).count(_ == "t_xs") == 2)
    // parent rid in the root payload matches the child rows' __rid_
    val root1 = out.collect { case ("t", p) if p.contains("\"id\":1") => p }.head
    val rid = graft.core.Json.parseRow(root1)("xs").asInstanceOf[graft.core.JString].value
    val children = out.collect { case ("t_xs", p) => graft.core.Json.parseRow(p) }
    assert(children.forall(c => c("xs__rid_") == graft.core.JString(rid)))
    assert(children.map(_.apply("xs__val_")).toSet ==
      Set(graft.core.JLong(10), graft.core.JLong(20)))
    // struct flatten visible in the root payload
    assert(root1.contains("\"nested_a\":\"b\""))
  }

  test("vec_dot equals the interpreted aggregate(zip_with(...)) chain bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (0 until 200).map { i =>
      (i.toLong,
        Array.fill(64)(rnd.nextDouble() * 2 - 1),
        Array.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val cmp = df.selectExpr(
      "vec_dot(a, b) AS fast",
      "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS hof")
      .collect()
    // bit-identical, not approximately equal: same multiply-accumulate order
    cmp.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r.toString))
  }

  test("vec_dot on BIGINT arrays matches the integer fold; overflow raises like ANSI") {
    import spark.implicits._
    val df = Seq(
      (Array(1L, 2L, 3L), Array(4L, 5L, 6L)),
      (Array.empty[Long], Array.empty[Long])).toDF("a", "b")
    val cmp = df.selectExpr(
      "vec_dot(a, b) AS fast",
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v) AS hof")
      .collect()
    cmp.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // Spark 4 default is ANSI: the HOF multiply raises on long overflow, and
    // so must vec_dot (the quantized catalog dots are sized to never overflow)
    val big = Seq((Array(Long.MaxValue, 2L), Array(2L, 3L))).toDF("a", "b")
    intercept[Exception] {
      big.selectExpr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v) AS h").collect()
    }
    intercept[Exception] { big.selectExpr("vec_dot(a, b) AS d").collect() }
  }

  test("vec_dot null surface: null array, length mismatch, null element -> NULL") {
    val df = spark.sql(
      """SELECT
        |  vec_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS null_arr,
        |  vec_dot(array(1.0d, 2.0d), array(1.0d)) AS len_mismatch,
        |  vec_dot(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d)) AS null_elem,
        |  vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS ok""".stripMargin)
    val r = df.collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    assert(r.getDouble(3) == 11.0)
    // the HOF chain agrees on the null surface (mismatch pads with null)
    val hof = spark.sql(
      """SELECT aggregate(zip_with(array(1.0d, 2.0d), array(1.0d), (x, y) -> x * y),
        |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS h""".stripMargin).collect().head
    assert(hof.isNullAt(0))
  }

  test("vec_dot rejects mixed or unsupported element types at analysis") {
    val e = intercept[Exception] {
      spark.sql("SELECT vec_dot(array(1.0d), array(1L))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("vec_dot"))
  }

  test("zorderKey matches a reference Morton interleave and preserves locality") {
    import spark.implicits._
    def mortonRef(a: Long, b: Long): Long = {
      var z = 0L
      for (i <- 0 until 16)
        z |= (((a >> i) & 1L) << (2 * i + 1)) | (((b >> i) & 1L) << (2 * i))
      z
    }
    val samples = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (12345L, 54321L), (255L, 256L), (32768L, 1L), (70000L, -5L)) // clamped
    val got = samples.toDF("a", "b")
      .select(GraftFunctions.zorderKey(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0))
    val want = samples.map { case (a, b) =>
      mortonRef(math.min(math.max(a, 0L), 65535L), math.min(math.max(b, 0L), 65535L))
    }
    assert(got.toSeq == want, s"got ${got.toSeq}, want $want")
    // locality: points in the same quadrant sort together — the top two
    // interleaved bits ARE the quadrant id
    val q = ((x: Long, y: Long) => mortonRef(x, y) >> 30)
    assert(q(1000L, 2000L) == 0 && q(40000L, 50000L) == 3)
  }

  test("relationalize generator: null input yields no rows") {
    import spark.implicits._
    Seq[Option[String]](None, Some("""{"k": 1}""")).toDF("doc")
      .createOrReplaceTempView("gen_null")
    val n = spark.sql(
      "SELECT r.tbl FROM gen_null LATERAL VIEW relationalize(doc, 't') r AS tbl, payload").count()
    assert(n == 1)
  }
}
