package graft.ops

import graft.core.ColType
import graft.relationalize.RelationalizeSpark
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Harness queries exercising the relationalize transform end-to-end against
  * DuckDB oracles. JSON documents are *constructed from the parquet tables
  * inside the query*, so the oracle can re-derive the expected output with
  * plain SQL (rids never cross the engine boundary — child rows are joined
  * back to their parents in Spark and exposed via natural keys).
  */
object RelationalizeQueries {

  /** Flatten a JSON column: events.props ({"k": int}) into typed columns. */
  def relFlat(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "events")
      .select(concat(lit("{\"event_id\":"), col("event_id"), lit(",\"props\":"), col("props"), lit("}")).as("doc"))
      .as(Encoders.STRING)
    val res = RelationalizeSpark(docs, "events")
    Lifecycle.releasedBy(res("events"))(res.release())
  }

  /** Nested array explode: per-order JSON docs with a lineitems array ->
    * child table with __index_, joined back to the parent via rid.
    */
  def relExplode(spark: SparkSession, dir: String): DataFrame = {
    val (df, res) = relExplodePlan(spark, dir)
    Lifecycle.releasedBy(df)(res.release())
  }

  /** One JSON document per lineitem order: `{"orderkey", "items": [{"l_linenumber",
    * "l_quantity"}, ...]}`, items sorted.
    */
  private def orderDocs(spark: SparkSession, dir: String): Dataset[String] =
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(col("l_linenumber"), col("l_quantity")))).as("items"))
      .select(to_json(struct(col("l_orderkey").as("orderkey"), col("items"))).as("doc"))
      .as(Encoders.STRING)

  /** Lazy plan + the result handle, for plan inspection and for
    * [[relExplode]]'s materialize-then-release wrapper.
    */
  private[graft] def relExplodePlan(
      spark: SparkSession, dir: String,
      options: graft.relationalize.RelationalizeOptions =
        graft.relationalize.RelationalizeOptions())
      : (DataFrame, graft.relationalize.RelationalizeResult) = {
    val res = RelationalizeSpark(orderDocs(spark, dir), "orders", options)
    val root = res("orders").select(col("orderkey"), col("items"))
    val child = res("orders_items")
    val joined = root.join(child, root("items") === child("items__rid_"))
      .select(col("orderkey"), col("items__index_"),
        col("items_l_linenumber"), col("items_l_quantity"))
    (joined, res)
  }

  /** [[relExplode]] through CONTENT-derived document keys
    * (`contentDocKeys = true`: rids key off md5(document text) instead of
    * the positional `(partitionId, ordinal)` default) — the
    * repartition-/recompute-stable rid variant ROADMAP's known-gaps entry
    * points to, here run through the full explode + rid join-back oracle.
    * Matching `rel_explode`'s oracle proves the content-keyed rid tree
    * carries the parent/child lineage end-to-end. Safe on this corpus
    * because each constructed document is unique (one per orderkey);
    * byte-identical duplicate documents would share one rid tree — the
    * documented trade (dedup first, or keep positional keys).
    * RelationalizeSparkSpec pins the hazard this variant removes: a
    * repartition between two positional-key emits re-keys rids and
    * silently orphans children, while content keys survive any split.
    */
  def relExplodeContent(spark: SparkSession, dir: String): DataFrame = {
    val (df, res) = relExplodePlan(spark, dir,
      graft.relationalize.RelationalizeOptions(contentDocKeys = true))
    Lifecycle.releasedBy(df)(res.release())
  }

  /** Deletion cascade through the relationalized table family — the
    * GDPR-/retention-shape every warehouse downstream of this transform
    * needs: given root documents to delete (here orderkey % 7 = 0), remove
    * their parent rows AND every child row, with the child side deleted
    * THROUGH THE RID LINEAGE (an anti join on the parent's synthetic
    * `items` rid against `items__rid_`), not by re-deriving from business
    * keys — proving the synthetic FK actually supports the cascade. Output
    * is the surviving parent-child join (the [[relExplode]] shape); the
    * oracle re-derives it relationally with the deleted keys filtered out,
    * so a cascade that orphaned or leaked any child row hash-mismatches.
    *
    * Scale shape: two anti joins (parent by key, child by rid — the rid set
    * is deletion-sized and broadcastable) on top of the relationalize
    * pipeline; no new shuffles beyond the joins.
    */
  def relDeleteCascade(spark: SparkSession, dir: String): DataFrame = {
    val res = RelationalizeSpark(orderDocs(spark, dir), "orders")
    val root = res("orders").select(col("orderkey"), col("items"))
    val child = res("orders_items")
    // the cascade: the deletion set's RIDs drive the child-side anti join
    val deadRids = root.filter(col("orderkey") % 7 === 0)
      .select(col("items").as("dead_rid"))
    val keptRoot = root.filter(col("orderkey") % 7 =!= 0)
    val keptChild = child.join(broadcast(deadRids),
      col("items__rid_") === col("dead_rid"), "left_anti")
    val joined = keptRoot.join(keptChild, keptRoot("items") === keptChild("items__rid_"))
      .select(col("orderkey"), col("items__index_"),
        col("items_l_linenumber"), col("items_l_quantity"))
    Lifecycle.releasedBy(joined)(res.release())
  }

  /** Choice-type split: a field that is int / str / null depending on the row
    * becomes v_int / v_str output columns.
    */
  def relChoice(spark: SparkSession, dir: String): DataFrame = {
    val docs = choiceDocs(spark, dir)
    val res = RelationalizeSpark(docs.as(Encoders.STRING), "events")
    Lifecycle.releasedBy(
      res("events").select(col("event_id"), col("v_int"), col("v_str")))(res.release())
  }

  /** Schema inference surfaced as rows: (column, coltype) for the choice
    * corpus — verifies the type lattice (observe + distributed merge) itself.
    */
  def relSchema(spark: SparkSession, dir: String): DataFrame = {
    val docs = choiceDocs(spark, dir)
    val schemas = RelationalizeSpark.collectSchemas(
      RelationalizeSpark.emit(docs.as(Encoders.STRING), "events"))
    import spark.implicits._
    schemas("events").columns.toSeq
      .map { case (c, t) => (c, t.repr) }
      .toDF("column", "coltype").orderBy("column")
  }

  /** Schema DRIFT report between two corpus snapshots — the evolution
    * dashboard a continuously-ingesting relationalize pipeline needs before
    * re-running DDL: infer the choice schema over the old and new snapshot
    * independently (the same distributed [[graft.relationalize.RelationalizeSpark.collectSchemas]]
    * merge as `rel_schema`), then full-outer-diff the column lattices —
    * `added` / `removed` / `changed` (type widened or narrowed, e.g.
    * int → c-int-str when a producer starts sending strings) / `same`.
    * The snapshots here are deterministic halves of the events stream with
    * a constructed regime change (a new bool field appears, a field is
    * dropped, an int field starts receiving strings). Schemas are KB-sized
    * driver statistics (the only collect the relationalizer does); the diff
    * itself is a local 2-frame join.
    */
  def relSchemaDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def infer(docs: DataFrame): Seq[(String, String)] =
      RelationalizeSpark.collectSchemas(
        RelationalizeSpark.emit(docs.as(Encoders.STRING), "events"))("events")
        .columns.toSeq.map { case (c, t) => (c, t.repr) }
    val (oldDocs, newDocs) = driftDocs(spark, dir)
    val oldDf = infer(oldDocs).toDF("column", "old_type")
    val newDf = infer(newDocs).toDF("column", "new_type")
    oldDf.join(newDf, Seq("column"), "full_outer")
      .select(col("column"), col("old_type"), col("new_type"),
        when(col("old_type").isNull, lit("added"))
          .when(col("new_type").isNull, lit("removed"))
          .when(col("old_type") === col("new_type"), lit("same"))
          .otherwise(lit("changed")).as("change"))
  }

  /** Warehouse MIGRATION generator — the ALTER-statement half of the
    * reference's DDL surface (`sql_dialects.py` renders CREATE TABLE; a
    * continuously-ingesting pipeline also needs the delta when the schema
    * drifts): diff the two snapshots' CONVERTED output columns (choice
    * columns expand to `<col>_<member>` exactly as `convert_object` writes
    * them) and emit `ADD COLUMN` DDL for new columns plus a retire notice
    * for vanished ones — e.g. an int column widening to c-int-str retires
    * `a` and adds `a_int` + `a_str`, the warehouse-side shape of the choice
    * split. Statements render through [[graft.core.PostgresDialect]]'s type
    * map; the DuckDB oracle re-derives the column diff AND the statement
    * strings. Schemas are KB-sized driver statistics; the diff is local.
    */
  def relMigrate(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.SqlDialect.quoteIdent
    import spark.implicits._
    def outTags(docs: DataFrame): Map[String, String] =
      RelationalizeSpark.collectSchemas(
        RelationalizeSpark.emit(docs.as(Encoders.STRING), "events"))("events")
        .outputTags
    val (oldDocs, newDocs) = driftDocs(spark, dir)
    val old = outTags(oldDocs)
    val nw = outTags(newDocs)
    val rows = (old.keySet ++ nw.keySet).toSeq.sorted.flatMap { c =>
      (old.get(c), nw.get(c)) match {
        case (None, Some(tag)) =>
          val t = graft.core.PostgresDialect.typeMapping(tag)
          Some((c, "added", s"""ALTER TABLE "public"."events" ADD COLUMN ${quoteIdent(c)} $t;"""))
        case (Some(_), None) =>
          Some((c, "removed", s"-- retire column ${quoteIdent(c)} (kept for backfill)"))
        case _ => None
      }
    }
    rows.toDF("column", "change", "stmt")
  }

  /** The constructed drift snapshots shared by [[relSchemaDrift]] and
    * [[relMigrate]]: a field dropped, a bool field added, an int field
    * starting to receive strings.
    */
  private def driftDocs(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables(spark, dir, "events")
    val oldDocs = ev.filter(col("event_id") % 2 === 0).select(
      concat(lit("{\"event_id\":"), col("event_id"),
        lit(",\"a\":"), col("event_id"),
        lit(",\"c\":\"t\"}")).as("doc"))
    val newDocs = ev.filter(col("event_id") % 2 === 1).select(
      concat(lit("{\"event_id\":"), col("event_id"), lit(",\"a\":"),
        when(col("event_id") % 3 === 1,
          concat(lit("\""), col("event_type"), lit("\"")))
          .otherwise(col("event_id").cast("string")),
        lit(",\"b\":true}")).as("doc"))
    (oldDocs, newDocs)
  }

  private def choiceDocs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events").select(
      concat(lit("{\"event_id\":"), col("event_id"), lit(",\"v\":"),
        when(col("event_id") % 3 === 0, col("event_id").cast("string"))
          .when(col("event_id") % 3 === 1, concat(lit("\""), col("event_type"), lit("\"")))
          .otherwise(lit("null")),
        lit("}")).as("doc"))

  /** The quarantine ingest policy exercised end-to-end against an oracle:
    * every 10th constructed doc is CORRUPTED (truncated mid-object), the
    * pipeline runs with `quarantine = true`, and the output proves both
    * halves of the contract — corrupted lines surface verbatim in the
    * quarantine table, every parseable doc still lands in its table. The
    * oracle re-derives both sets from the same construction rule.
    */
  def relQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "events")
      .select(
        when(col("event_id") % 10 === 7,
          concat(lit("{\"event_id\":"), col("event_id"), lit(",\"props\":")))
          // coalesce: Spark concat is null-propagating, so a null props would
          // otherwise null the whole doc (NPE in relationalizeLine) instead of
          // landing as a parseable {"props":null} — same guard as choiceDocs
          .otherwise(concat(lit("{\"event_id\":"), col("event_id"),
            lit(",\"props\":"), coalesce(col("props"), lit("null")), lit("}")))
          .as("doc"))
      .as(Encoders.STRING)
    val res = RelationalizeSpark(docs, "events",
      graft.relationalize.RelationalizeOptions(quarantine = true))
    val out = res(RelationalizeSpark.QuarantineTable)
      .selectExpr("'quarantined' AS kind", "_raw_ AS item")
      .unionAll(res("events").selectExpr("'kept' AS kind", "CAST(event_id AS STRING) AS item"))
    Lifecycle.releasedBy(out)(res.release())
  }

  /** DDL generation surfaced as (table_name, ddl) rows, fully oracle-gated:
    * the DuckDB oracle re-derives the choice lattice (the `rel_schema`
    * logic), expands choice columns to their `<col>_<member>` output names,
    * renders each through the same base-tag → Postgres-type map, and
    * assembles the identical `CREATE TABLE IF NOT EXISTS` text with
    * `string_agg` — sorted rendered column definitions, `"`-quoted
    * identifiers, the exact separator/newline layout of
    * [[graft.core.SqlDialect.createTable]] (reference semantics:
    * `sql_dialects.py:28-36`, column sort per `schema.py:141`).
    */
  def relDdl(spark: SparkSession, dir: String): DataFrame = {
    val docs = choiceDocs(spark, dir)
    val res = RelationalizeSpark(docs.as(Encoders.STRING), "events")
    import spark.implicits._
    val out = res.ddl().toSeq.map { case (t, d) => (t, d) }
      .toDF("table_name", "ddl").orderBy("table_name")
    res.release() // DDL derives from the (already collected) schemas alone
    out
  }

  /** The relationalize transform as a SQL generator (custom Catalyst
    * expression): LATERAL VIEW over constructed docs; the oracle rebuilds the
    * exact flat-row payload string.
    */
  def relSqlGenerator(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    Tables(spark, dir, "events")
      .selectExpr("concat('{\"event_id\":', event_id, ',\"props\":', props, '}') AS doc")
      .createOrReplaceTempView("rel_gen_docs")
    spark.sql(
      """SELECT r.tbl AS table_name, r.payload
        |FROM rel_gen_docs LATERAL VIEW relationalize(doc, 'events') r AS tbl, payload""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rel_sql_generator" -> relSqlGenerator,
    "rel_flat" -> relFlat,
    "rel_explode" -> relExplode,
    "rel_explode_content" -> relExplodeContent,
    "rel_delete_cascade" -> relDeleteCascade,
    "rel_choice" -> relChoice,
    "rel_schema" -> relSchema,
    "rel_schema_drift" -> relSchemaDrift,
    "rel_migrate" -> relMigrate,
    "rel_ddl" -> relDdl,
    "rel_quarantine" -> relQuarantine,
  )

  val oracleSql: Map[String, String] = Map(
    "rel_sql_generator" ->
      """SELECT 'events' AS table_name,
        |  '{"event_id":' || event_id || ',"props_k":' || CAST(json_extract_string(props, '$.k') AS BIGINT) || '}' AS payload
        |FROM events""".stripMargin,
    "rel_flat" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS props_k
        |FROM events""".stripMargin,
    // rel_explode's derivation with the deleted roots filtered out: an
    // orphaned or leaked child row after the rid-lineage cascade would
    // hash-mismatch
    "rel_delete_cascade" ->
      """SELECT l_orderkey AS orderkey,
        |       CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity) - 1 AS BIGINT) AS items__index_,
        |       CAST(l_linenumber AS BIGINT) AS items_l_linenumber,
        |       l_quantity AS items_l_quantity
        |FROM lineitem WHERE l_orderkey % 7 <> 0""".stripMargin,
    "rel_explode" ->
      """SELECT l_orderkey AS orderkey,
        |       CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity) - 1 AS BIGINT) AS items__index_,
        |       CAST(l_linenumber AS BIGINT) AS items_l_linenumber,
        |       l_quantity AS items_l_quantity
        |FROM lineitem""".stripMargin,
    // same derivation: the content-keyed rid tree must reproduce the
    // positional variant's answer exactly
    "rel_explode_content" ->
      """SELECT l_orderkey AS orderkey,
        |       CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity) - 1 AS BIGINT) AS items__index_,
        |       CAST(l_linenumber AS BIGINT) AS items_l_linenumber,
        |       l_quantity AS items_l_quantity
        |FROM lineitem""".stripMargin,
    "rel_choice" ->
      """SELECT event_id,
        |       CASE WHEN event_id % 3 = 0 THEN event_id END AS v_int,
        |       CASE WHEN event_id % 3 = 1 THEN event_type END AS v_str
        |FROM events""".stripMargin,
    "rel_schema" ->
      """WITH obs(col, t) AS (
        |  SELECT 'event_id', 'int' FROM events
        |  UNION ALL
        |  SELECT 'v', CASE WHEN event_id % 3 = 0 THEN 'int'
        |                   WHEN event_id % 3 = 1 THEN 'str'
        |                   ELSE 'none' END FROM events
        |), per AS (
        |  SELECT col, list_sort(list_filter(list(DISTINCT t), x -> x <> 'none')) AS ms
        |  FROM obs GROUP BY col
        |)
        |SELECT col AS "column",
        |       CASE WHEN len(ms) = 0 THEN 'none'
        |            WHEN len(ms) = 1 THEN ms[1]
        |            ELSE 'c-' || array_to_string(ms, '-') END AS coltype
        |FROM per ORDER BY col""".stripMargin,
    // the same lattice-merge logic as rel_schema's oracle, over both halves
    "rel_schema_drift" ->
      """WITH obs_old(col, t) AS (
        |  SELECT 'event_id', 'int' FROM events WHERE event_id % 2 = 0
        |  UNION ALL SELECT 'a', 'int' FROM events WHERE event_id % 2 = 0
        |  UNION ALL SELECT 'c', 'str' FROM events WHERE event_id % 2 = 0
        |), obs_new(col, t) AS (
        |  SELECT 'event_id', 'int' FROM events WHERE event_id % 2 = 1
        |  UNION ALL
        |  SELECT 'a', CASE WHEN event_id % 3 = 1 THEN 'str' ELSE 'int' END
        |  FROM events WHERE event_id % 2 = 1
        |  UNION ALL SELECT 'b', 'bool' FROM events WHERE event_id % 2 = 1
        |), po AS (
        |  SELECT col, CASE WHEN len(ms) = 0 THEN 'none'
        |                   WHEN len(ms) = 1 THEN ms[1]
        |                   ELSE 'c-' || array_to_string(ms, '-') END AS t
        |  FROM (SELECT col,
        |          list_sort(list_filter(list(DISTINCT t), x -> x <> 'none')) AS ms
        |        FROM obs_old GROUP BY col) x
        |), pn AS (
        |  SELECT col, CASE WHEN len(ms) = 0 THEN 'none'
        |                   WHEN len(ms) = 1 THEN ms[1]
        |                   ELSE 'c-' || array_to_string(ms, '-') END AS t
        |  FROM (SELECT col,
        |          list_sort(list_filter(list(DISTINCT t), x -> x <> 'none')) AS ms
        |        FROM obs_new GROUP BY col) x
        |)
        |SELECT coalesce(po.col, pn.col) AS "column",
        |       po.t AS old_type, pn.t AS new_type,
        |       CASE WHEN po.t IS NULL THEN 'added'
        |            WHEN pn.t IS NULL THEN 'removed'
        |            WHEN po.t = pn.t THEN 'same'
        |            ELSE 'changed' END AS change
        |FROM po FULL JOIN pn ON po.col = pn.col""".stripMargin,
    // the drift diff at CONVERTED-output-column granularity, statements
    // re-derived as strings — int widening to c-int-str retires `a` and
    // adds a_int + a_str
    "rel_migrate" ->
      """WITH obs_old(col, t) AS (
        |  SELECT 'event_id', 'int' FROM events WHERE event_id % 2 = 0
        |  UNION ALL SELECT 'a', 'int' FROM events WHERE event_id % 2 = 0
        |  UNION ALL SELECT 'c', 'str' FROM events WHERE event_id % 2 = 0
        |), obs_new(col, t) AS (
        |  SELECT 'event_id', 'int' FROM events WHERE event_id % 2 = 1
        |  UNION ALL
        |  SELECT 'a', CASE WHEN event_id % 3 = 1 THEN 'str' ELSE 'int' END
        |  FROM events WHERE event_id % 2 = 1
        |  UNION ALL SELECT 'b', 'bool' FROM events WHERE event_id % 2 = 1
        |), po AS (
        |  SELECT col, list_sort(list_filter(list(DISTINCT t), x -> x <> 'none')) AS ms
        |  FROM obs_old GROUP BY col),
        |pn AS (
        |  SELECT col, list_sort(list_filter(list(DISTINCT t), x -> x <> 'none')) AS ms
        |  FROM obs_new GROUP BY col),
        |oo AS (
        |  SELECT CASE WHEN len(ms) = 1 THEN col ELSE col || '_' || m END AS oc,
        |         CASE WHEN len(ms) = 1 THEN ms[1] ELSE m END AS tag
        |  FROM po, unnest(ms) AS u(m)),
        |onw AS (
        |  SELECT CASE WHEN len(ms) = 1 THEN col ELSE col || '_' || m END AS oc,
        |         CASE WHEN len(ms) = 1 THEN ms[1] ELSE m END AS tag
        |  FROM pn, unnest(ms) AS u(m)),
        |d AS (
        |  SELECT coalesce(oo.oc, onw.oc) AS "column", onw.tag AS ntag,
        |         CASE WHEN oo.oc IS NULL THEN 'added'
        |              WHEN onw.oc IS NULL THEN 'removed' ELSE 'same' END AS change
        |  FROM oo FULL JOIN onw ON oo.oc = onw.oc)
        |SELECT "column", change,
        |  CASE WHEN change = 'added' THEN
        |    'ALTER TABLE "public"."events" ADD COLUMN "' || replace("column", '"', '""') || '" ' ||
        |    CASE ntag WHEN 'int' THEN 'BIGINT' WHEN 'str' THEN 'VARCHAR(65535)'
        |              WHEN 'bool' THEN 'BOOLEAN' WHEN 'float' THEN 'FLOAT'
        |              WHEN 'datetime' THEN 'TIMESTAMP' ELSE 'BOOLEAN' END || ';'
        |  ELSE '-- retire column "' || replace("column", '"', '""') || '" (kept for backfill)' END AS stmt
        |FROM d WHERE change <> 'same'""".stripMargin,
    // the full DDL string re-assembled in SQL: lattice -> output columns ->
    // type map -> string_agg with the dialect's exact separator layout
    "rel_ddl" ->
      """WITH obs(col, t) AS (
        |  SELECT 'event_id', 'int' FROM events
        |  UNION ALL
        |  SELECT 'v', CASE WHEN event_id % 3 = 0 THEN 'int'
        |                   WHEN event_id % 3 = 1 THEN 'str'
        |                   ELSE 'none' END FROM events
        |), per AS (
        |  SELECT col, list_sort(list_filter(list(DISTINCT t), x -> x <> 'none')) AS ms
        |  FROM obs GROUP BY col
        |), oc AS (
        |  SELECT CASE WHEN len(ms) = 1 THEN col ELSE col || '_' || m END AS c,
        |         CASE WHEN len(ms) = 1 THEN ms[1] ELSE m END AS tag
        |  FROM per, unnest(ms) AS u(m)
        |), defs AS (
        |  SELECT '"' || c || '" ' ||
        |    CASE tag WHEN 'int' THEN 'BIGINT' WHEN 'str' THEN 'VARCHAR(65535)'
        |             WHEN 'bool' THEN 'BOOLEAN' WHEN 'float' THEN 'FLOAT'
        |             WHEN 'datetime' THEN 'TIMESTAMP' ELSE 'BOOLEAN' END AS coldef
        |  FROM oc)
        |SELECT 'events' AS table_name,
        |  'CREATE TABLE IF NOT EXISTS "public"."events" (' || chr(10) || '    ' ||
        |  string_agg(coldef, chr(10) || '    , ' ORDER BY coldef) || chr(10) || ');' AS ddl
        |FROM defs""".stripMargin,
    "rel_quarantine" ->
      """SELECT 'quarantined' AS kind,
        |  '{"event_id":' || event_id || ',"props":' AS item
        |FROM events WHERE event_id % 10 = 7
        |UNION ALL
        |SELECT 'kept', CAST(event_id AS VARCHAR) FROM events
        |WHERE event_id % 10 <> 7""".stripMargin,
  )
}
