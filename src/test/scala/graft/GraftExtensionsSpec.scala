package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The extension-jar installation path: a session built with
  * `GraftExtensions` (the `spark.sql.extensions=graft.GraftExtensions`
  * config class) gets every SQL function and the parse-pruning rule with no
  * imperative registration call.
  */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .withExtensions(new GraftExtensions)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("functions resolve without registerAll") {
    Seq("hash60", "graft_barrier", "vec_dot", "graft_bloom_agg",
      "graft_might_contain", "relationalize").foreach { name =>
      assert(spark.sessionState.functionRegistry.functionExists(FunctionIdentifier(name)),
        s"$name not installed")
    }
    val Array(h) = spark.sql("SELECT hash60('abc')").collect().map(_.getLong(0))
    // bit-identical to the DuckDB derivation the catalog relies on
    assert(h == java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest("abc".getBytes).take(8).map("%02x".format(_)).mkString.take(15), 16))
    val Array(d) = spark.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .collect().map(_.getDouble(0))
    assert(d == 11.0)
  }

  test("every function in the shared table resolves in an extension-only session") {
    val names = graft.functions.GraftFunctions.SqlFunctions.map(_._1)
    assert(names.distinct.size == names.size, s"duplicate names in $names")
    val missing = names.filterNot(n =>
      spark.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not installed by GraftExtensions: $missing")
    // one of the functions the extension list used to miss, run end to end
    val Array(s) = spark.sql("SELECT byte_sum(CAST('ab' AS BINARY))").collect().map(_.getLong(0))
    assert(s == 97L + 98L)
  }

  test("generator and bloom work end-to-end in pure SQL") {
    spark.range(0, 100).selectExpr("id * 2 AS k").createOrReplaceTempView("ext_base")
    spark.range(0, 10).selectExpr("id * 3 AS k").createOrReplaceTempView("ext_delta")
    val hits = spark.sql(
      """SELECT k FROM ext_delta
        |WHERE graft_might_contain(
        |  (SELECT graft_bloom_agg(k, 1000L, 8000L) FROM ext_base), k)""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    // no false negatives: every multiple of 6 must be present
    assert(Set(0L, 6L, 12L, 18L, 24L).subsetOf(hits))

    val rel = spark.sql(
      """SELECT r.table, r.payload
        |FROM (SELECT '{"a": 1, "b": [2, 3]}' AS doc) d
        |LATERAL VIEW relationalize(doc, 'root') r""".stripMargin).collect()
    assert(rel.map(_.getString(0)).toSet == Set("root", "root_b"))
  }

  test("parse-pruning optimizer rule is installed") {
    val rules = spark.sessionState.optimizer.batches.flatMap(_.rules)
    assert(rules.contains(graft.relationalize.PruneBarrieredDecode))
  }
}
