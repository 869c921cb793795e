package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** BPE learning's driver-side merge loop: Spark runs only the vocab
  * aggregation, so the job count does not grow with the merge budget, and
  * count ties break in the binary (UTF-8) string order the DuckDB oracle
  * sorts by.
  */
class BpeLearnSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def learned(docs: org.apache.spark.sql.DataFrame, nMerges: Int) =
    BpeTokenizer.learnFrom(docs, nMerges).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq

  test("BPE learning runs the same Spark jobs for 4 and 64 merges") {
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents")
    learned(docs, 4) // warm-up, so both measured calls start from the same state
    def jobs(nMerges: Int): Int = {
      var rows = 0
      val n = KcoreSpec.record(spark) { rows = learned(docs, nMerges).size }.jobs.size
      assert(rows == nMerges, s"$nMerges merges asked, $rows learned")
      n
    }
    val (j4, j64) = (jobs(4), jobs(64))
    assert(j4 > 0 && j4 == j64, s"4 merges ran $j4 jobs, 64 merges ran $j64")
  }

  test("BPE learn breaks count ties by the UTF-8 bytes of the pair key") {
    import spark.implicits._
    // both pairs count 1; "a ｡" is EF BD A1 after "a ", the emoji pair
    // F0 9F 98 80, so the binary order puts the halfwidth stop first, where
    // UTF-16 `String.compareTo` (D83D < FF61) would pick the emoji pair
    val docs = Seq((1L, "a｡"), (2L, "a😀")).toDF("doc_id", "text")
    assert(learned(docs, BpeTokenizer.NMerges) ==
      Seq((1, "a ｡", 1L), (2, "a 😀", 1L)))
  }
}
