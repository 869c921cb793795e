package graft.relationalize

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Settled probe: could Spark 4 `VariantType` (`parse_json` + `variant_get`)
  * replace the tagged-JSON `from_json` as the pass-2 payload representation?
  *
  * Neither is the payload any more: pass 1 writes a binary tagged row and
  * pass 2 decodes it in one pass per row ([[graft.relationalize.TaggedRow]],
  * [[graft.relationalize.DecodeTaggedRow]]), with no text parse at all. The
  * spec stays as a record of why variant was not chosen. It asserts the two
  * JSON extraction paths agree value-for-value on a wide object with a
  * narrow consumer, and prints relative timings to stderr:
  *   - correctness: variant_get with an explicit target type matches the
  *     pruned from_json extraction exactly on string/long fields;
  *   - cost: variant parses the FULL object into its binary encoding per
  *     row regardless of how few fields the consumer reads, while a pruned
  *     from_json (and now the decoder's pruned field list) skips the rest.
  */
class VariantProbeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    System.err.println(f"[variant-probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    r
  }

  test("variant_get extraction agrees with pruned from_json on the pass-2 payload shape") {
    val n = 200000L
    // 20-field payload, narrow 2-field consumer — the wide-table profile
    val docs = spark.range(n).selectExpr(
      """concat('{"a":"', CAST(id AS STRING), '","b":', CAST(id * 31 % 1000 AS STRING),
        |  ',"c":"x","d":1,"e":2,"f":3,"g":4,"h":5,"i":6,"j":7,"k":8,"l":9,"m":10,
        |  "n":11,"o":12,"p":13,"q":14,"r":15,"s":16,"t":17}')
        |  AS j""".stripMargin.replaceAll("\n\\s*", ""))
      .persist()
    docs.count()

    val viaPruned = docs.selectExpr(
      "from_json(j, 'a STRING, b BIGINT').a AS a",
      "from_json(j, 'a STRING, b BIGINT').b AS b")
    val viaVariant = docs.selectExpr(
      "CAST(variant_get(parse_json(j), '$.a') AS STRING) AS a",
      "CAST(variant_get(parse_json(j), '$.b') AS BIGINT) AS b")

    // correctness: bit-identical extraction
    val mismatches = viaPruned.exceptAll(viaVariant).count() +
      viaVariant.exceptAll(viaPruned).count()
    assert(mismatches == 0, s"$mismatches rows disagree between from_json and variant_get")

    // relative cost, for the ROADMAP record (not asserted)
    (1 to 2).foreach { round =>
      time(s"from_json pruned (r$round)") {
        viaPruned.write.format("noop").mode("overwrite").save()
      }
      time(s"parse_json+variant_get (r$round)") {
        viaVariant.write.format("noop").mode("overwrite").save()
      }
      time(s"from_json full 20-field (r$round)") {
        docs.selectExpr(
          "from_json(j, 'a STRING,b BIGINT,c STRING,d BIGINT,e BIGINT,f BIGINT,g BIGINT," +
            "h BIGINT,i BIGINT,j BIGINT,k BIGINT,l BIGINT,m BIGINT,n BIGINT,o BIGINT," +
            "p BIGINT,q BIGINT,r BIGINT,s BIGINT,t BIGINT') AS o")
          .selectExpr("o.a AS a", "o.b AS b")
          .write.format("noop").mode("overwrite").save()
      }
    }
    docs.unpersist()
  }
}
