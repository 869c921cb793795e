package graft.sources

import graft.core.DuckDbDialect
import graft.core.SqlDialect.{qualified, quoteLiteral}
import graft.relationalize.RelationalizeSpark
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** K6 executed end-to-end: the reference's flagship warehouse load is
  * DROP -> CREATE -> COPY -> verify against Postgres
  * (`/root/reference/examples/full_pokemon_psql_pipeline.py:130-171`). No
  * JDBC driver exists in this environment, so the load half runs against
  * DuckDB — the same engine the oracle gate uses — driven through the DDL
  * this library generates (`ChoiceSchema.generateDdl(DuckDbDialect)`) and the
  * CSV files `Sinks.csv` writes. Row counts AND aggregate values are checked
  * back against the Spark DataFrames, closing the previously-untested half of
  * the K5+K6 pipeline. Document keys holding `"` and `'` name two of the
  * tables, so the load only runs if every statement quotes its names.
  */
class WarehouseLoadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("K6 e2e: DROP -> CREATE (generated DDL) -> COPY csv -> counts and sums match") {
    // mock-LMS corpus exercising bool, int, float, str, null, a choice column
    // (created_at int|str) and an exploded child table
    // plus keys holding `"` and `'`: their child tables are named
    // users_a"b and users_it's, which every statement must quote
    val docs = (0 until 60).map { i =>
      val createdAt = if (i % 3 == 0) s""""2024-01-0${i % 9 + 1}"""" else s"${1700000000L + i}"
      val email = if (i % 5 == 0) "null" else s""""u$i@x.com""""
      val enrollments = (0 until i % 4).map(j => s"""{"course_id": "c$j", "credits": $j}""").mkString(", ")
      val quotedKeys = if (i % 6 == 0) s""", "a\\"b": [$i], "it's": [$i, 1]""" else ""
      s"""{"user_id": "u$i", "created_at": $createdAt, "score": $i.5, "active": ${i % 2 == 0}, "email": $email, "enrollments": [$enrollments]$quotedKeys}"""
    }
    val res = RelationalizeSpark(Sources.fromIterable(spark, docs), "users")
    assert(res.tables.keySet == Set("users", "users_enrollments", "users_a\"b", "users_it's"))

    val tmp = Files.createTempDirectory("graft-wh").toString
    res.tables.foreach { case (t, df) => Sinks.csv(df, s"$tmp/csv/$t") }
    val ddls = res.ddl("main", DuckDbDialect)
    assert(ddls("users").contains("\"created_at_int\" BIGINT"))
    assert(ddls("users").contains("\"created_at_str\" VARCHAR"))
    assert(ddls("users").contains("\"score\" DOUBLE"))
    assert(ddls("users").contains("\"active\" BOOLEAN"))

    // the reference pipeline's statement sequence, per table
    val stmts = res.tables.keys.toSeq.sorted.flatMap { t =>
      Seq(
        s"DROP TABLE IF EXISTS ${qualified("main", t)};",
        ddls(t),
        s"COPY ${qualified("main", t)} FROM ${quoteLiteral(s"$tmp/csv/$t/*.csv")} (FORMAT CSV, HEADER);")
    }
    val payload = graft.core.Json.writeRow(Seq(
      "stmts" -> graft.core.JString(stmts.mkString("\u0000")),
      "checks" -> graft.core.JString(Seq(
        """SELECT count(*) FROM "main"."users"""",
        """SELECT count(*) FROM "main"."users_enrollments"""",
        """SELECT CAST(sum(created_at_int) AS BIGINT) FROM "main"."users"""",
        """SELECT CAST(sum(credits * 1) AS BIGINT) FROM (SELECT enrollments_credits AS credits FROM "main"."users_enrollments")""",
        """SELECT count(*) FROM "main"."users" WHERE active""",
        """SELECT count(*) FROM "main"."users" WHERE email IS NULL""",
        s"SELECT count(*) FROM ${qualified("main", "users_a\"b")}",
        s"SELECT count(*) FROM ${qualified("main", "users_it's")}").mkString("\u0000"))))
    Files.writeString(Paths.get(s"$tmp/load.json"), payload)
    val script =
      s"""import duckdb, json
         |spec = json.load(open('$tmp/load.json'))
         |con = duckdb.connect('$tmp/wh.duckdb')
         |for stmt in spec['stmts'].split('\\u0000'):
         |    con.execute(stmt)
         |print(json.dumps([con.execute(q).fetchone()[0] for q in spec['checks'].split('\\u0000')]))
         |""".stripMargin
    Files.writeString(Paths.get(s"$tmp/load.py"), script)
    val out = scala.sys.process.Process(Seq("python3", s"$tmp/load.py")).!!.trim
    val got = graft.core.Json.mapper.readTree(out)

    val users = res("users")
    val enr = res("users_enrollments")
    assert(got.get(0).longValue() == users.count())
    assert(got.get(1).longValue() == enr.count())
    val sparkSumCreated = users.agg(sum(col("created_at_int"))).head().getLong(0)
    assert(got.get(2).longValue() == sparkSumCreated)
    val sparkSumCredits = enr.agg(sum(col("enrollments_credits"))).head().getLong(0)
    assert(got.get(3).longValue() == sparkSumCredits)
    assert(got.get(4).longValue() == users.filter(col("active")).count())
    assert(got.get(5).longValue() == users.filter(col("email").isNull).count())
    assert(got.get(6).longValue() == res("users_a\"b").count() && got.get(6).longValue() == 10)
    assert(got.get(7).longValue() == res("users_it's").count() && got.get(7).longValue() == 20)
  }
}
