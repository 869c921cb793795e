package graft.sources

import graft.relationalize.RelationalizeSpark
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The connector-shaped source/sink surface (SURVEY §2.1 S3/S4, §2.6 K7):
  * the engine-side semantics — distributed per-item fetch, extended-JSON
  * normalization, staged-gzip + statement-sequence load — with transports
  * faked (zero-egress container; the reference's own versions are example
  * scripts against live services).
  */
class ConnectorSurfaceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("S4: paged export fetches per item on executors and relationalizes") {
    // fake transport: an in-memory "API" keyed by item url
    val api = (1 to 25).map(i => s"api/item/$i" -> s"""{"id": $i, "tags": ["a$i", "b$i"]}""").toMap
    val lines = Sources.fromPagedExport(spark, api.keys.toSeq.sorted, api(_), parallelism = 4)
    assert(lines.rdd.getNumPartitions == 4)
    val res = RelationalizeSpark(lines, "items")
    assert(res("items").count() == 25)
    assert(res("items_tags").count() == 50)
  }

  test("S3: mongo extended JSON normalizes to the default=str export shape") {
    val ext =
      """{"_id": {"$oid": "65f0aa090c4877i1278d7a8b"}, "n": {"$numberLong": "92"},
        | "f": {"$numberDouble": "1.5"}, "big": {"$numberDecimal": "12345678901234567890.5"},
        | "at": {"$date": {"$numberLong": "1700000000000"}},
        | "iso": {"$date": "2024-01-01T00:00:00Z"},
        | "nested": {"ids": [{"$oid": "65f0aa090c4877i1278d7a8c"}], "plain": 7}}""".stripMargin.replace("\n", "")
    val out = MongoExtendedJson.normalize(ext)
    val node = graft.core.Json.parse(out)
    assert(node.get("_id").textValue() == "65f0aa090c4877i1278d7a8b")
    assert(node.get("n").longValue() == 92L)
    assert(node.get("f").doubleValue() == 1.5)
    assert(node.get("big").textValue() == "12345678901234567890.5")
    assert(node.get("at").textValue() == "2023-11-14T22:13:20Z")
    assert(node.get("iso").textValue() == "2024-01-01T00:00:00Z")
    // nested wrappers rewrite inside arrays/objects; plain values untouched
    assert(out.contains(""""ids":["65f0aa090c4877i1278d7a8c"]"""))
    assert(out.contains(""""plain":7"""))
    // already-plain export lines (json.dumps default=str) pass through
    val plain = """{"_id": "65f0", "when": "2024-01-01 00:00:00", "k": 1}"""
    assert(graft.core.Json.parse(MongoExtendedJson.normalize(plain)) ==
      graft.core.Json.parse(plain))
    // end-to-end: normalized export relationalizes with string _id column
    val res = RelationalizeSpark(
      Sources.fromMongoExport(Sources.fromIterable(spark, Seq(ext))), "coll")
    assert(res.schemas("coll").columns("_id").repr == "str")
    assert(res.schemas("coll").columns("n").repr == "int")
  }

  test("K7: redshift stage writes gzip JSONL and the statement plan matches the reference shape") {
    val docs = Seq("""{"id": 1, "v": 1.5}""", """{"id": 2, "v": null}""")
    val res = RelationalizeSpark(Sources.fromIterable(spark, docs), "t")
    val tmp = Files.createTempDirectory("graft-rs").toString
    Sinks.redshiftStage(res.tables, tmp)
    val back = spark.read.json(s"$tmp/t.json.gz")
    assert(back.count() == 2)
    assert(Files.list(java.nio.file.Paths.get(s"$tmp/t.json.gz")).toArray
      .exists(_.toString.endsWith(".gz")))

    val stmts = Sinks.redshiftLoadStatements(
      res.schemas, "bucket/prefix/", "analytics", "arn:aws:iam::0:role/load", "us-east-1")("t")
    assert(stmts(0) == """DROP TABLE IF EXISTS "analytics"."t";""")
    assert(stmts(1).startsWith("""CREATE TABLE IF NOT EXISTS "analytics"."t""""))
    assert(stmts(1).contains(""""id" BIGINT""") && stmts(1).contains(""""v" FLOAT"""))
    assert(stmts(2) ==
      """COPY "analytics"."t"
        |FROM 's3://bucket/prefix/t.json.gz'
        |iam_role 'arn:aws:iam::0:role/load'
        |region 'us-east-1'
        |FORMAT AS json 'auto ignorecase'
        |TRUNCATECOLUMNS
        |GZIP;""".stripMargin)
    assert(stmts(3) == """ANALYZE "analytics"."t";""")
    assert(stmts(4) == """SELECT COUNT(1) FROM "analytics"."t";""")

    // names from document keys holding `"` and `'` stay one identifier or
    // literal each
    val key = "t\"x'y"
    val odd = Sinks.redshiftLoadStatements(Map(key -> res.schemas("t")), "bucket/p'/",
      "ana\"lytics", "arn:aws:iam::0:role/it's", "us-east-1")(key)
    val table = """"ana""lytics"."t""x'y""""
    assert(odd(0) == s"DROP TABLE IF EXISTS $table;")
    assert(odd(1).startsWith(s"CREATE TABLE IF NOT EXISTS $table ("))
    assert(odd(2).startsWith(
      s"""COPY $table
        |FROM 's3://bucket/p''/t"x''y.json.gz'
        |iam_role 'arn:aws:iam::0:role/it''s'
        |""".stripMargin))
    assert(odd(3) == s"ANALYZE $table;")
    assert(odd(4) == s"SELECT COUNT(1) FROM $table;")
  }
}
