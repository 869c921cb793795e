package graft.relationalize

import graft.core._
import graft.sources.{Sinks, Sources}
import graft.streaming.StreamingRelationalize
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** End-to-end Spark tests: the distributed pipeline (emit -> infer -> convert),
  * the mock-LMS and README choice fixtures (FIXTURES.md §3-4), sinks, DDL,
  * and the streaming variant.
  */
class RelationalizeSparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def ds(docs: String*) = Sources.fromIterable(spark, docs)

  // single-line strings: these also serve as JSONL file content in the
  // streaming test, where an embedded newline would split a document
  private val lmsDocs = Seq(
    """{"user_id": "u1", "created_at": 1700000000, "name": "A", "email": "a@x.com", "enrollments": [{"course_id": "c1", "timestamp": 1}, {"course_id": "c2", "timestamp": 2}]}""",
    """{"user_id": "u2", "created_at": 1700000001, "name": "B", "email": "b@x.com", "enrollments": []}""")

  test("mock LMS end-to-end: users + users_enrollments with rid join (FIXTURES.md §3)") {
    val res = RelationalizeSpark(ds(lmsDocs: _*), "users")
    assert(res.tables.keySet == Set("users", "users_enrollments"))

    val users = res("users")
    assert(users.columns.sorted.toSeq == Seq("created_at", "email", "enrollments", "name", "user_id"))
    assert(users.count() == 2)
    // empty array still mints a dangling rid
    assert(users.filter(col("user_id") === "u2").select("enrollments").head().getString(0).startsWith("R_"))

    val enr = res("users_enrollments")
    assert(enr.columns.sorted.toSeq == Seq(
      "enrollments__index_", "enrollments__rid_", "enrollments_course_id", "enrollments_timestamp"))
    // rid referential integrity: join children back to u1
    val joined = users.join(enr, users("enrollments") === enr("enrollments__rid_"))
    assert(joined.count() == 2)
    assert(joined.filter(col("user_id") === "u1").count() == 2)

    // enrollments-per-user (the SURVEY §7 step-3 query)
    val counts = users.join(enr, users("enrollments") === enr("enrollments__rid_"), "left_outer")
      .groupBy(col("user_id")).agg(count(col("enrollments__rid_")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("u1" -> 2L, "u2" -> 0L))
  }

  test("README choice fixture: created_at int/str split, contact flatten, connections child") {
    val docs = ds(
      """{"id": 1, "created_at": "2021-01-01T00:00:00", "contact": {"email": "x@y.z"}, "connections": ["a", "b"]}""",
      """{"id": 2, "created_at": 1609459200000, "contact": {"email": "q@r.s", "phone": "123"}, "connections": []}""")
    val res = RelationalizeSpark(docs, "users")
    val users = res("users")
    assert(res.schemas("users").columns("created_at").repr == "c-int-str")
    assert(users.columns.sorted.toSeq == Seq(
      "connections", "contact_email", "contact_phone", "created_at_int", "created_at_str", "id"))
    val r1 = users.filter(col("id") === 1).head()
    assert(r1.getAs[String]("created_at_str") == "2021-01-01T00:00:00")
    assert(r1.getAs[Any]("created_at_int") == null)
    val r2 = users.filter(col("id") === 2).head()
    assert(r2.getAs[Long]("created_at_int") == 1609459200000L)
    assert(r2.getAs[Any]("contact_phone") == "123")
    assert(res("users_connections").count() == 2)
  }

  test("quarantine: a malformed line routes to _quarantine_; default still raises; rids don't shift") {
    val bad = """{"user_id": "u3", "name": BROKEN"""
    val docs = Seq(lmsDocs.head, bad, lmsDocs(1))
    // default = reference semantics: the job fails on the bad line
    intercept[org.apache.spark.SparkException] {
      RelationalizeSpark(ds(docs: _*), "users").tables("users").count()
    }
    // quarantine on: bad line is a queryable (_raw_, _error_) row; every
    // parseable doc is unaffected — its rid ordinal still counts the bad
    // line, so rids MATCH the failFast run over the good docs' positions
    val res = RelationalizeSpark(ds(docs: _*), "users",
      RelationalizeOptions(quarantine = true))
    assert(res.tables.keySet == Set("users", "users_enrollments",
      RelationalizeSpark.QuarantineTable))
    val q = res(RelationalizeSpark.QuarantineTable).collect()
    assert(q.length == 1)
    val qRow = q.head
    assert(qRow.getString(qRow.fieldIndex("_raw_")) == bad)
    assert(qRow.getString(qRow.fieldIndex("_error_")).nonEmpty)
    assert(res("users").count() == 2 && res("users_enrollments").count() == 2)
    res.release()
  }

  test("a failing schema collect leaves no cached emit behind") {
    spark.catalog.clearCache()
    intercept[org.apache.spark.SparkException] {
      RelationalizeSpark(ds(lmsDocs.head, """{"broken"""), "users")
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("distributed schema inference equals single-pass observation") {
    val docs = (0 until 100).map(i =>
      if (i % 3 == 0) s"""{"k": $i, "m": null}"""
      else if (i % 3 == 1) s"""{"k": "s$i", "m": true}"""
      else s"""{"k": $i.5}""")
    val emitted = RelationalizeSpark.emit(ds(docs: _*).repartition(7), "t")
    val inferred = RelationalizeSpark.collectSchemas(emitted)("t")
    val local = docs.foldLeft(ChoiceSchema.empty)((s, d) => s.observe(Json.parseRow(d)))
    assert(inferred.columns == local.columns)
    assert(inferred.columns("k").repr == "c-float-int-str")
    assert(inferred.columns("m").repr == "bool")
  }

  test("rids survive recomputation: join consistency without caching") {
    val docs = (0 until 50).map(i => s"""{"id": $i, "xs": [${i}, ${i + 1}]}""")
    val res = RelationalizeSpark(ds(docs: _*), "t")
    val joined = res("t").join(res("t_xs"), col("xs") === col("xs__rid_"))
    assert(joined.count() == 100) // every child row finds its parent
  }

  test("drop options applied to inferred schemas") {
    val docs = ds("""{"ok": 1, "bad@col": 2, "OK": 3, "gone": null}""")
    val res = RelationalizeSpark(docs, "t",
      RelationalizeOptions(dropNullColumns = true, dropSpecialCharColumns = true,
        dropDuplicateColumns = true))
    // the fused emit preserves observation order within a partition (merged
    // in partition-index order), so keep-first-duplicate matches the
    // reference's semantics: "ok" was observed before "OK"
    assert(res("t").columns.toSeq == Seq("ok"))
  }

  test("DDL generation for discovered tables (K5)") {
    val res = RelationalizeSpark(ds(lmsDocs: _*), "users")
    val ddl = res.ddl()("users_enrollments")
    assert(ddl.contains("CREATE TABLE IF NOT EXISTS \"public\".\"users_enrollments\""))
    assert(ddl.contains("\"enrollments_timestamp\" BIGINT"))
    assert(ddl.contains("\"enrollments_course_id\" VARCHAR(65535)"))
  }

  test("materialized path: partitionBy(table) write + pruned read-back") {
    val tmp = Files.createTempDirectory("graft-mat").toString
    val res = RelationalizeSpark(ds(lmsDocs: _*), "users",
      RelationalizeOptions(materializePath = Some(s"$tmp/emitted")))
    assert(res("users").count() == 2)
    assert(res("users_enrollments").count() == 2)
  }

  test("rid keys: unscoped positional keys COLLIDE across micro-batches; b<id>: scoping fixes it") {
    // rid = md5(docKey : ridOrdinal) is content-independent, and positional
    // coordinates restart every micro-batch — so two DIFFERENT docs at the
    // same (partition, ordinal) in different batches share a rid tree
    // unless the writer scopes keys by batch id (what runToParquetEvolving
    // does; gate row: stream_rel_explode)
    def rootRid(doc: String, prefix: String): String = {
      val res = RelationalizeSpark(ds(doc).repartition(1), "t",
        RelationalizeOptions(docKeyPrefix = prefix))
      try res("t").select(col("items")).head().getString(0)
      finally res.release()
    }
    val hazard1 = rootRid("""{"k":1,"items":[1]}""", "")
    val hazard2 = rootRid("""{"k":2,"items":[2]}""", "")
    assert(hazard1 == hazard2,
      "expected the pinned hazard: same positional coordinates => same rid")
    assert(rootRid("""{"k":1,"items":[1]}""", "b0:") !=
      rootRid("""{"k":2,"items":[2]}""", "b1:"),
      "batch-scoped keys must make cross-batch rids distinct")
    // replay stability: a crash-replayed batch keeps its id => same rids
    assert(rootRid("""{"k":1,"items":[1]}""", "b0:") ==
      rootRid("""{"k":1,"items":[1]}""", "b0:"))
  }

  test("materializeFilesPerTable: salted shuffle write equals uncapped, bounds files per table") {
    val tmp = Files.createTempDirectory("graft-mat-fpt").toString
    val docs = (0 until 40).map(i => s"""{"k":$i,"p${i % 4}":[$i,${i + 1}]}""")
    val plain = RelationalizeSpark(ds(docs: _*).repartition(8), "d",
      RelationalizeOptions(materializePath = Some(s"$tmp/plain")))
    val salted = RelationalizeSpark(ds(docs: _*).repartition(8), "d",
      RelationalizeOptions(materializePath = Some(s"$tmp/salted"),
        materializeFilesPerTable = 2))
    assert(plain.tables.keySet == salted.tables.keySet)
    plain.tables.keySet.foreach { t =>
      val a = plain(t).collect().map(_.toString).sorted.toSeq
      val b = salted(t).collect().map(_.toString).sorted.toSeq
      assert(a == b, s"table $t diverged under the salted materialization")
    }
    // the bound: each table partition dir holds at most filesPerTable
    // parquet files (8 input partitions would otherwise write up to 8)
    val dirs = new java.io.File(s"$tmp/salted").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("table="))
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val parts = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(parts <= 2, s"${d.getName} has $parts part files, expected <= 2")
    }
    val plainMax = new java.io.File(s"$tmp/plain").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("table="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).max
    assert(plainMax > 2, s"uncapped write should exceed the bound (got $plainMax)")
  }

  test("materialized path: empty input yields empty result, no read failure") {
    val tmp = Files.createTempDirectory("graft-mat-empty").toString
    val res = RelationalizeSpark(ds(), "users",
      RelationalizeOptions(materializePath = Some(s"$tmp/emitted")))
    assert(res.tables.isEmpty && res.schemas.isEmpty)
  }

  test("integral JSON literals beyond Long range become strings, not truncated") {
    val res = RelationalizeSpark(
      ds("""{"id": 123456789012345678901234567890, "ok": 7}"""), "big")
    val row = res("big").select(col("id"), col("ok")).head()
    assert(row.getString(0) == "123456789012345678901234567890")
    assert(row.getLong(1) == 7L)
  }

  test("row counts ride the marker rows: one per table, equal to each table's count") {
    // 3 partitions; a schema-map cap of 1 flushes after every row, so each
    // table's count is then folded from one marker row per row
    val docs = lmsDocs ++ Seq(
      """{"user_id": "u3", "enrollments": [{"course_id": "c3"}], "tags": ["a", "b", "c"]}""")
    val input = ds(docs: _*).repartition(3)
    val res = RelationalizeSpark(input, "users")
    try {
      assert(res.rowCounts.keySet == res.tables.keySet)
      res.tables.foreach { case (t, df) => assert(res.rowCounts(t) == df.count(), t) }
      assert(res.rowCounts == Map("users" -> 3L, "users_enrollments" -> 3L, "users_tags" -> 3L))
    } finally res.release()
    val capped = RelationalizeSpark.collectMarkers(
      RelationalizeSpark.emit(input, "users", RelationalizeOptions(), schemaMapCap = 1,
        chunkBudget = RelationalizeSpark.ChunkBudget))
    assert(capped.map { case (t, (_, n)) => t -> n } == res.rowCounts)
  }

  test("the schema collect runs as 'relationalize <name>: schemas' and restores the caller's label") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val labels = graft.ops.KcoreSpec.jobDescriptions(spark) {
        RelationalizeSpark(ds(lmsDocs: _*), "users").release()
        assert(sc.getLocalProperty("spark.job.description") == "caller")
      }
      assert(labels.nonEmpty && labels.forall(_ == "relationalize users: schemas"), labels)
    } finally sc.setJobDescription(null)
  }

  test("the materializePath write runs as 'relationalize <name>: materialize' and restores the caller's label") {
    val sc = spark.sparkContext
    val tmp = Files.createTempDirectory("graft-mat-label").toString
    sc.setJobDescription("caller")
    try {
      val labels = graft.ops.KcoreSpec.jobDescriptions(spark) {
        RelationalizeSpark(ds(lmsDocs: _*), "users",
          RelationalizeOptions(materializePath = Some(s"$tmp/emitted")))
        assert(sc.getLocalProperty("spark.job.description") == "caller")
      }
      assert(labels.contains("relationalize users: materialize"), labels)
      assert(labels.toSet ==
        Set("relationalize users: materialize", "relationalize users: schemas"), labels)
    } finally sc.setJobDescription(null)
  }

  test("an emit that flushes after every row yields the same tables, row by row in order") {
    val docs = lmsDocs ++ (0 until 40).map(i =>
      s"""{"user_id": "u$i", "n": $i, "enrollments": [{"course_id": "c$i"}, """ +
        s"""{"course_id": "d$i", "timestamp": $i}], "tags": ["a$i", "b", null]}""")
    val input = ds(docs: _*).repartition(3)
    def emitted(budget: Int) = RelationalizeSpark.emit(input, "users", RelationalizeOptions(),
      schemaMapCap = RelationalizeSpark.SchemaMapCap, chunkBudget = budget)
    def tables(budget: Int): Map[String, Seq[org.apache.spark.sql.Row]] = {
      val e = emitted(budget)
      RelationalizeSpark.collectSchemas(e).map { case (t, s) =>
        t -> RelationalizeSpark.toDataFrame(e, t, s).collect().toSeq
      }
    }
    val perRow = tables(1)
    assert(perRow.keySet == Set("users", "users_enrollments", "users_tags"))
    assert(perRow == tables(RelationalizeSpark.ChunkBudget))
    // a one-byte budget puts each row in a chunk of its own
    val chunks = emitted(1).filter(!col("table").startsWith(RelationalizeSpark.SchemaMarker))
    assert(chunks.count() == perRow.values.map(_.size).sum)
  }

  test("the cached emit of a repetitive corpus is at most half its TaggedRow bytes") {
    val docs = (0 until 3000).map(i =>
      s"""{"id": $i, "status": "shipped", "customer": {"name": "customer ${i % 50}", """ +
        s""""tier": "gold"}, "items": [{"sku": "sku-${i % 100}", "qty": ${i % 5}, """ +
        s""""price": 9.99}, {"sku": "sku-7", "qty": 1, "price": 19.5}]}""")
    val input = ds(docs: _*)
    val rowBytes = RelationalizeSpark.emit(input, "orders")
      .filter(!col("table").startsWith(RelationalizeSpark.SchemaMarker))
      .collect().flatMap(e => TaggedRow.unpack(e.payload)).map(_.length.toLong).sum
    spark.catalog.clearCache()
    val res = RelationalizeSpark(input, "orders")
    try {
      assert(res.rowCounts == Map("orders" -> 3000L, "orders_items" -> 6000L))
      val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      assert(cached > 0 && cached <= rowBytes / 2, s"cached $cached of $rowBytes row bytes")
    } finally res.release()
  }

  test("schema-map cap: extreme table fan-out with a tiny cap equals uncapped result") {
    // 120 docs, each fanning to distinct child tables -> ~360 distinct tables,
    // forced through a cap of 16 (mid-stream flushes every few documents)
    val docs = (0 until 120).map { i =>
      val arrays = (0 until 3).map(j => s""""arr_${i}_$j": [{"v": $i}, {"v": $j}]""").mkString(", ")
      s"""{"id": $i, $arrays}"""
    }
    val cappedEmit = RelationalizeSpark.emit(ds(docs: _*), "fan",
      RelationalizeOptions(), schemaMapCap = 16, chunkBudget = RelationalizeSpark.ChunkBudget)
    val capped = RelationalizeSpark.collectSchemas(cappedEmit)
    val uncapped = RelationalizeSpark(ds(docs: _*), "fan")
    assert(capped.keySet == uncapped.schemas.keySet)
    assert(capped.keySet.size == 361) // root + 360 child tables
    assert(capped.map { case (t, s) => t -> s.serialize } ==
      uncapped.schemas.map { case (t, s) => t -> s.serialize })
    // spot-check a child table decodes identically
    val t = "fan_arr_7_2"
    val cappedT = RelationalizeSpark.toDataFrame(cappedEmit, t, capped(t))
    assert(cappedT.columns.sameElements(uncapped(t).columns))
    assert(cappedT.count() == 2 && uncapped(t).count() == 2)
  }

  test("rid keys: positional docKeys re-key under a repartition (the pinned hazard)") {
    // same corpus, different partitioning -> different (pid, ordinal) keys ->
    // a different rid set (both docs mint an enrollments rid; u2's moves from
    // key "1:0" to "0:1"). This is the documented hazard contentDocKeys avoids.
    def parentRids(input: org.apache.spark.sql.Dataset[String]) =
      RelationalizeSpark(input, "users")("users")
        .select("enrollments").as[String](org.apache.spark.sql.Encoders.STRING)
        .collect().toSet
    val rids1 = parentRids(ds(lmsDocs: _*))          // local[2]: one doc per partition
    val rids2 = parentRids(ds(lmsDocs: _*).repartition(1))
    assert(rids1 != rids2, "positional rids unexpectedly survived a repartition")
  }

  test("rid keys: contentDocKeys are stable under repartition and keep the rid join") {
    val opts = RelationalizeOptions(contentDocKeys = true)
    def run(shuffled: Boolean) = {
      val input = if (shuffled) ds(lmsDocs: _*).repartition(7) else ds(lmsDocs: _*)
      val res = RelationalizeSpark(input, "users", opts)
      val joined = res("users").join(res("users_enrollments"),
        col("enrollments") === col("enrollments__rid_"))
      (res("users_enrollments")
         .select("enrollments__rid_").as[String](org.apache.spark.sql.Encoders.STRING)
         .collect().toSet,
       joined.count())
    }
    val (ridsPlain, joinPlain) = run(shuffled = false)
    val (ridsShuffled, joinShuffled) = run(shuffled = true)
    assert(ridsPlain == ridsShuffled, "content rids must not depend on partitioning")
    assert(joinPlain == 2 && joinShuffled == 2) // u1's two enrollments; u2's array is empty
  }

  test("rid keys: byte-identical duplicate documents share one rid tree under contentDocKeys") {
    val dup = lmsDocs.head
    val res = RelationalizeSpark(ds(dup, dup), "users",
      RelationalizeOptions(contentDocKeys = true))
    val rids = res("users").select(col("enrollments"))
      .as[String](org.apache.spark.sql.Encoders.STRING).collect()
    assert(rids.length == 2 && rids.distinct.length == 1,
      "duplicate documents must mint identical rids under content keys")
  }

  test("sinks: jsonl round-trip, csv header, NaN scrub (K1/K4/K8)") {
    val tmp = Files.createTempDirectory("graft-sink").toString
    val res = RelationalizeSpark(ds(lmsDocs: _*), "users")
    Sinks.jsonl(res("users"), s"$tmp/users_json")
    assert(spark.read.json(s"$tmp/users_json").count() == 2)
    Sinks.csv(res("users_enrollments"), s"$tmp/enr_csv")
    val back = spark.read.option("header", "true").csv(s"$tmp/enr_csv")
    assert(back.columns.sorted.toSeq == Seq(
      "enrollments__index_", "enrollments__rid_", "enrollments_course_id", "enrollments_timestamp"))
    import spark.implicits._
    val scrubbed = Sinks.scrubNaN(Seq((1, Double.NaN), (2, 1.5)).toDF("id", "v"))
    assert(scrubbed.filter(col("v").isNull).count() == 1)
  }

  test("streaming: availableNow file stream relationalizes to parquet tables") {
    val tmp = Files.createTempDirectory("graft-stream").toString
    val inDir = s"$tmp/in"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    Files.writeString(java.nio.file.Paths.get(s"$inDir/part0.jsonl"), lmsDocs.mkString("\n"))
    val lines = spark.readStream.textFile(inDir)
    val q = StreamingRelationalize.runToParquetEvolving(lines, "users", s"$tmp/out", s"$tmp/ckpt")
    q.awaitTermination(60000)
    assert(StreamingRelationalize.readTable(spark, s"$tmp/out", "users").count() == 2)
    assert(StreamingRelationalize.readTable(spark, s"$tmp/out", "users_enrollments").count() == 2)
  }

  test("streaming: frozen-schema convert rejects out-of-choice values at execution") {
    val schemas = Map("t" -> ChoiceSchema.empty.observe(Json.parseRow("""{"v": 1}""")))
    // batch-mode toDataFrame with frozen schema: a str value for an int column throws
    val emitted = RelationalizeSpark.emit(ds("""{"v": "oops"}"""), "t")
    val df = RelationalizeSpark.toDataFrame(emitted, "t", schemas("t"))
    // raise_error surfaces as a SparkThrowable (USER_RAISED_EXCEPTION)
    val e = intercept[Throwable](df.collect())
    assert(e.isInstanceOf[org.apache.spark.SparkThrowable])
    assert(e.getMessage.contains("not admitted"))
  }
}
