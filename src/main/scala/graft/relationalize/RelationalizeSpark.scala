package graft.relationalize

import graft.core._
import org.apache.spark.TaskContext
import org.apache.spark.sql._
import org.apache.spark.sql.functions.{call_function, coalesce, col, lit, raise_error, timestamp_millis, when}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import java.nio.charset.StandardCharsets.UTF_8

/** One emitted row: destination table + a chunk of that table's rows as
  * [[TaggedRow]]s, which keep the bool/int/float/str tags the choice type
  * system needs (see [[graft.core.JValue]]); or a schema marker row (see
  * [[RelationalizeSpark.emit]]).
  */
final case class Emitted(table: String, payload: Array[Byte])

final case class RelationalizeOptions(
    dropNullColumns: Boolean = false,
    dropSpecialCharColumns: Boolean = false,
    dropDuplicateColumns: Boolean = false,
    /** When set, the emitted rows are written once to this path partitioned by
      * table and read back per table (partition-pruned). Preferred when the
      * document corpus is huge or fans out to many tables: each per-table
      * DataFrame then costs one pruned columnar read instead of a re-scan of
      * the full input. When None, the emitted dataset is cached in
      * memory/disk.
      */
    materializePath: Option[String] = None,
    /** When > 0 (with [[materializePath]]): shuffle the emitted rows by
      * `(table, hash(payload) % N)` before the `partitionBy(table)` write,
      * bounding the materialization at N files per table. Without it the
      * write creates up to (input partitions × tables) files — under wide
      * table fan-out (the GrowthCurve `rel` arm measured T = 1000 tables ×
      * 16 partitions) the per-file open/commit overhead dominates the
      * build wall. The cost is one full shuffle of the emitted data; the
      * salt keeps a skewed giant table spread over N tasks instead of
      * collapsing it to one.
      */
    materializeFilesPerTable: Int = 0,
    /** Rid key derivation. Default (`false`): `(partitionId, ordinal)` —
      * stable under task retries (Spark replays the same input split) but
      * NOT under a repartition or a recomputation that reorders rows within
      * a partition (e.g. a cache-evicted emit recomputed through an upstream
      * shuffle): rids would re-key, and two tables computed from different
      * recomputations could disagree on parent/child rids. `true`: keys are
      * md5(document text) — stable under any partitioning/recompute; the
      * trade-off is that byte-identical duplicate documents share one rid
      * tree, so a parent/child join multiplies across the duplicate set
      * (dedup duplicates first, or keep positional keys).
      */
    contentDocKeys: Boolean = false,
    /** Prepended verbatim to every positional `(partitionId, ordinal)`
      * docKey (ignored under [[contentDocKeys]]). A multi-batch STREAMING
      * sink needs it: partition ids and ordinals restart at zero every
      * micro-batch, so docs in different batches would otherwise share a
      * docKey — and therefore a rid tree — corrupting any parent/child
      * join-back over the accumulated sink. The streaming writers pass
      * `"b<batchId>:"`, which is also replay-stable (a crash-replayed
      * batch keeps its id, so rids stay idempotent like the writes).
      */
    docKeyPrefix: String = "",
    /** `false` (default, reference semantics: `json.loads` raises): one
      * malformed line fails the job — correct for curated inputs, fatal for
      * a 100 TB crawl where one bad row among billions kills hours of work.
      * `true`: unparseable lines route to the [[RelationalizeSpark.QuarantineTable]]
      * table as (_raw_, _error_) rows — the job completes, the bad rows stay
      * queryable/re-dressable, and every parseable document is unaffected
      * (rids don't shift: the ordinal still counts every input line).
      */
    quarantine: Boolean = false)

/** Result of relationalizing a document collection: one typed DataFrame per
  * discovered table plus its choice schema (for DDL / introspection), all
  * served from the one pass-1 emit this result owns.
  */
final case class RelationalizeResult(
    schemas: Map[String, ChoiceSchema],
    private val emitted: Dataset[Emitted],
    /** Rows per table, folded from the marker rows: no extra job. */
    rowCounts: Map[String, Long]) {

  lazy val tables: Map[String, DataFrame] =
    schemas.map { case (t, s) => t -> convert(t, s) }

  def apply(table: String): DataFrame = tables(table)

  /** Convert `table`'s emitted rows under a caller-chosen schema (e.g. one
    * merged with a stored schema) — see [[RelationalizeSpark.toDataFrame]].
    */
  def convert(table: String, schema: ChoiceSchema): DataFrame =
    RelationalizeSpark.toDataFrame(emitted, table, schema)

  def ddl(schemaName: String = "public", dialect: SqlDialect = PostgresDialect): Map[String, String] =
    schemas.map { case (t, s) => t -> s.generateDdl(t, schemaName, dialect) }

  /** Unpersist the cached pass-1 emit (no-op under `materializePath`, where
    * the emit lives in files instead of the block store). Call once the
    * per-table DataFrames have been consumed or materialized — afterwards
    * they still compute correctly but re-run pass 1 per action.
    */
  def release(): Unit = emitted.unpersist()
}

/** Distributed relationalize, Spark-first:
  *
  *   - '''pass 1''' ([[emit]]) — one narrow `mapPartitions` over the raw
  *     documents emits `(table, chunk)` rows, each an LZ4 block of one
  *     table's [[TaggedRow]]s, and observes every row
  *     into a per-partition choice schema as it is written; the only thing
  *     that reaches the driver is those per-table ''schemas'' (KB-sized marker
  *     rows), folded with the reference's own associative shard-merge
  *     (`relationalize/schema.py:259-302`) by [[collectSchemas]] — this
  *     holds at 100 TB: no data shuffle, driver state is only the schemas.
  *   - '''pass 2''' ([[toDataFrame]]) — per table, one filter on `table`, one
  *     [[UnpackTaggedChunk]] per chunk, one [[DecodeTaggedRow]] per row and
  *     a codegen'd routing projection into the choice-split output columns:
  *     no text parse. Tables are
  *     either served from a cached emitted dataset (small/medium corpora) or
  *     from a single `partitionBy(table)` parquet materialization
  *     (large corpora / wide table fan-out), so N tables never cost N scans of
  *     the input.
  *
  * Document keys for rid determinism are `(partitionId, ordinalInPartition)` —
  * stable under task retries because Spark replays the same input split, but
  * NOT under a caller repartition or an order-changing recompute; see
  * [[RelationalizeOptions.contentDocKeys]] for the content-derived
  * alternative and its duplicate-document trade-off.
  */
object RelationalizeSpark {

  /** Marker prefix distinguishing per-partition schema rows from data rows
    * in the fused emit (a control character never appears in table names).
    */
  val SchemaMarker = "\u0001"

  /** docKey factory honoring [[RelationalizeOptions.contentDocKeys]] and
    * [[RelationalizeOptions.docKeyPrefix]].
    */
  private def docKeyFn(options: RelationalizeOptions): (Int, Long, String) => String =
    if (options.contentDocKeys) (_, _, line) => Relationalizer.contentDocKey(line)
    else (pid, ordinal, _) => s"${options.docKeyPrefix}$pid:$ordinal"

  /** Destination table for unparseable lines under
    * [[RelationalizeOptions.quarantine]] — a NORMAL table (pass 2 serves it
    * like any other, so the bad rows are queryable), named outside the
    * reference's child-table naming scheme (`<name>_<path>`: a collision
    * would require relationalizing a collection literally named
    * `_quarantine_`).
    */
  val QuarantineTable = "_quarantine_"

  /** [[Relationalizer.relationalizeLine]] with the quarantine policy
    * applied. The error column carries the exception CLASS only — messages
    * embed parser positions and object identities, which would make the
    * emitted payload (and thus golden tests) input-layout-dependent; the
    * raw line is the actionable evidence anyway.
    */
  private def relLine(line: String, name: String, key: String,
                      quarantine: Boolean): Vector[(String, Relationalizer.FlatRow)] =
    if (!quarantine) Relationalizer.relationalizeLine(line, name, key)
    else
      try Relationalizer.relationalizeLine(line, name, key)
      catch {
        case scala.util.control.NonFatal(e) =>
          Vector((QuarantineTable, scala.collection.immutable.VectorMap[String, JValue](
            "_raw_" -> JString(line),
            "_error_" -> JString(e.getClass.getSimpleName))))
      }

  /** Max distinct tables held in a partition's local schema map before the
    * accumulated schemas are flushed as marker rows and the map cleared.
    */
  private[relationalize] val SchemaMapCap = 8192

  /** Uncompressed row bytes a pass-1 task holds before it flushes every
    * table's buffer as a chunk, whatever the table fan-out.
    */
  private[relationalize] val ChunkBudget = 1 << 20

  /** Pass 1: raw JSON lines -> emitted (table, chunk) rows. A task appends
    * each flat row to its table's buffer, and once it holds [[ChunkBudget]]
    * bytes (and at partition end) flushes every buffer as one chunk, so a
    * table's rows never share a cached row with another table's. Each
    * partition also observes every flat row into a local choice schema
    * ''before'' serialization (the reference's `on_object_write` fusion,
    * `relationalize.py:63`) and appends one [[SchemaMarker]]-prefixed row
    * per discovered table at partition end: `"<row count> <schema>"` as
    * UTF-8. Schema inference then costs a collect of
    * (partitions x tables) tiny rows — no second parse of any payload, no
    * aggregation job over the data; [[toDataFrame]]'s table filter drops the
    * marker rows.
    *
    * The per-partition schema map is bounded: when a partition has observed
    * [[SchemaMapCap]] distinct tables, the accumulated schemas are flushed as
    * marker rows mid-stream and the map is cleared. [[collectSchemas]]'
    * per-table `merge` is associative (the reference's own shard-merge
    * semantics), so multiple marker rows per (partition, table) fold to the
    * same schema — extreme table fan-out (millions of distinct child tables)
    * costs bounded executor memory instead of an unbounded map.
    */
  def emit(ds: Dataset[String], name: String,
           options: RelationalizeOptions = RelationalizeOptions()): Dataset[Emitted] =
    emit(ds, name, options, SchemaMapCap, ChunkBudget)

  /** [[emit]] with an explicit schema-map cap and chunk budget (specs force
    * flushes with them).
    */
  private[relationalize] def emit(ds: Dataset[String], name: String,
                                  options: RelationalizeOptions,
                                  schemaMapCap: Int, chunkBudget: Int): Dataset[Emitted] = {
    require(schemaMapCap > 0 && chunkBudget > 0)
    implicit val enc: Encoder[Emitted] = Encoders.product[Emitted]
    val key = docKeyFn(options)
    ds.mapPartitions { iter =>
      val pid = TaskContext.getPartitionId()
      var ordinal = -1L
      val chunker = new TaggedRow.Chunker(chunkBudget)
      val localSchemas = scala.collection.mutable.Map.empty[String, (ChoiceSchema, Long)]
      def flushSchemas(): Iterator[Emitted] = {
        val rows = localSchemas.toVector.map { case (t, (sch, n)) =>
          Emitted(s"$SchemaMarker$t", s"$n ${sch.serialize}".getBytes(UTF_8))
        }
        localSchemas.clear()
        rows.iterator
      }
      val dataRows = iter.flatMap { line =>
        ordinal += 1
        relLine(line, name, key(pid, ordinal, line), options.quarantine).iterator.flatMap {
          case (table, row) =>
            val (sch, n) = localSchemas.getOrElse(table, (ChoiceSchema.empty, 0L))
            localSchemas.update(table, (sch.observe(row), n + 1))
            val chunks = chunker.append(table, row).map(Emitted.tupled)
            if (localSchemas.size >= schemaMapCap) chunks ++ flushSchemas() else chunks
        }
      }
      // the trailing flatMap is only evaluated after dataRows is exhausted,
      // so the final flush sees every remaining row and table
      dataRows ++ Iterator.single(()).flatMap(_ =>
        chunker.flush().map(Emitted.tupled) ++ flushSchemas())
    }
  }

  /** The schema marker rows of an emit — the rows [[collectSchemas]]
    * collects. A narrow filter over pass 1: no exchange.
    */
  private[graft] def schemaRows(emitted: Dataset[Emitted]): Dataset[Emitted] =
    emitted.filter(col("table").startsWith(SchemaMarker))

  /** Collect + merge the per-partition schema marker rows of an [[emit]]. */
  def collectSchemas(emitted: Dataset[Emitted]): Map[String, ChoiceSchema] =
    collectMarkers(emitted).map { case (t, (s, _)) => t -> s }

  /** Per table: the merged schema and the summed row count of the markers. */
  private[relationalize] def collectMarkers(emitted: Dataset[Emitted]): Map[String, (ChoiceSchema, Long)] =
    schemaRows(emitted)
      .collect()
      .groupBy(_.table.stripPrefix(SchemaMarker))
      .map { case (t, rows) =>
        t -> rows.map(r => new String(r.payload, UTF_8).span(_ != ' '))
          .map { case (n, sch) => (ChoiceSchema.deserialize(sch.tail), n.toLong) }
          .reduce((x, y) => (x._1.merge(y._1), x._2 + y._2))
      }

  /** Pass-2: convert one table's emitted rows to a typed DataFrame.
    *
    * Expression-only — no lambda decode. The `table` filter keeps the
    * table's chunks, [[UnpackTaggedChunk]] yields their rows, and each row
    * record carries its
    * value's scalar tag (written in pass 1, where the tag was observed into
    * the schema anyway), so conversion is one [[DecodeTaggedRow]] with a
    * field per (column, tag) followed by a codegen'd routing projection: field
    * `k<sep>int` feeds output `k_int` of a choice column, `k<sep>int` IS
    * output `k` of an int column, etc. Fields for tags a schema column does
    * not admit exist only to be detected: a non-null there raises, matching
    * the reference's convert-time error on out-of-choice values
    * (`relationalize/schema.py:49-52`) — that is what makes frozen-schema
    * streaming fail loudly instead of silently nulling new choice members.
    *
    * Scale: the decode is one pass over the payload bytes and the projection
    * runs inside whole-stage codegen. The decode sits behind an
    * [[graft.functions.OptimizationBarrier]]: joins on converted columns would
    * otherwise push `IsNotNull` predicates through this projection and
    * re-evaluate it per guard branch per row (10 parses per payload, 25x wall
    * time on the explode round-trip, measured with `from_json`).
    */
  def toDataFrame(emitted: Dataset[Emitted], table: String, schema: ChoiceSchema): DataFrame = {
    import ColType._
    graft.functions.GraftFunctions.registerAll(emitted.sparkSession)
    val parsed = graft.functions.GraftFunctions.barrier(call_function("graft_decode_tagged",
      col("row"), lit(TaggedRow.fields(schema.columns.keys).json))).as("r")

    def fld(k: String, tag: String): Column = col("r").getField(Json.taggedKey(k, tag))
    // guard `value` with raises on tags the schema does not admit for k
    def guarded(k: String, ct: ColType, badTags: Seq[String], value: Column): Column =
      badTags.foldRight(value) { (t, v) =>
        when(fld(k, t).isNotNull, raise_error(
          lit(s"value type $t for column $k not admitted by schema type ${ct.repr}"))).otherwise(v)
      }

    val outputs: Seq[(String, Column)] = schema.columns.toSeq.flatMap { case (k, ct) =>
      ct match {
        case CChoice(ms) =>
          val members = ms.filter(_ != "none")
          val badTags = TaggedRow.Tags.filterNot(members.contains)
          members.zipWithIndex.map { case (m, i) =>
            val v = fld(k, m)
            s"${k}_$m" -> (if (i == 0) guarded(k, ct, badTags, v) else v)
          }
        case CFloat => // an int observed under a float-typed frozen schema widens
          Seq(k -> guarded(k, ct, Seq("bool", "str"),
            coalesce(fld(k, "float"), fld(k, "int").cast(DoubleType))))
        case CNone => // all-null column reads as its boolean placeholder type
          Seq(k -> guarded(k, ct, Seq("int", "float", "str"), fld(k, "bool")))
        case CDatetime => // only reachable via deserialized schemas (types.py:21)
          val s = fld(k, "str")
          val cast = s.cast(TimestampType)
          Seq(k -> guarded(k, ct, Seq("bool", "float"), coalesce(
            when(s.isNotNull && cast.isNull,
              raise_error(lit(s"unparseable timestamp in column $k"))).otherwise(cast),
            timestamp_millis(fld(k, "int")))))
        case t @ (CBool | CInt | CStr) =>
          Seq(k -> guarded(k, ct, TaggedRow.Tags.filterNot(_ == t.repr), fld(k, t.repr)))
        case CUnsupported(tag) =>
          throw new IllegalStateException(s"no Spark type for unsupported:$tag (column $k)")
      }
    }
    val byName = outputs.toMap
    emitted.filter(col("table") === table)
      .select(call_function("graft_unpack_tagged", col("payload")))
      .select(parsed)
      .select(schema.outputColumns.map(n => byName(n).as(n)): _*)
  }

  /** Full pipeline over a collection of raw JSON documents. */
  def apply(ds: Dataset[String], name: String,
            options: RelationalizeOptions = RelationalizeOptions()): RelationalizeResult =
    apply(ds, name, options, s"relationalize $name")

  /** [[apply]] with its jobs labelled `<label>: materialize` (the
    * [[RelationalizeOptions.materializePath]] write) and `<label>: schemas`.
    */
  private[graft] def apply(ds: Dataset[String], name: String, options: RelationalizeOptions,
                           label: String): RelationalizeResult = {
    val spark = ds.sparkSession
    val sc = spark.sparkContext
    val callerDescription = sc.getLocalProperty("spark.job.description")
    def labelled[A](step: String)(body: => A): A = {
      sc.setJobDescription(s"$label: $step")
      try body finally sc.setJobDescription(callerDescription)
    }
    val emitted: Dataset[Emitted] = options.materializePath match {
      case Some(path) =>
        val fresh = emit(ds, name, options)
        val toWrite =
          if (options.materializeFilesPerTable > 0)
            fresh.repartition(col("table"), org.apache.spark.sql.functions.pmod(
              org.apache.spark.sql.functions.hash(col("payload")),
              lit(options.materializeFilesPerTable)))
          else fresh
        labelled("materialize")(
          toWrite.write.mode(SaveMode.Overwrite).partitionBy("table").parquet(path))
        implicit val enc: Encoder[Emitted] = Encoders.product[Emitted]
        // explicit schema: an empty corpus writes no data files, and
        // schema inference on a data-file-less partitioned dir throws
        spark.read
          .schema(StructType(Seq(
            StructField("payload", BinaryType), StructField("table", StringType))))
          .parquet(path)
          .select(col("table").cast(StringType), col("payload")).as[Emitted]
      case None =>
        emit(ds, name, options).persist(StorageLevel.MEMORY_AND_DISK)
    }
    // a failed schema collect must not leave the emit cached: no result
    // (and so no release()) exists yet
    val raw =
      try labelled("schemas")(collectMarkers(emitted))
      catch { case e: Throwable => emitted.unpersist(); throw e }
    val schemas = raw.map { case (t, (s0, _)) =>
      var s = s0
      if (options.dropNullColumns) s = s.dropNullColumns._1
      if (options.dropSpecialCharColumns) s = s.dropSpecialCharColumns()._1
      if (options.dropDuplicateColumns) s = s.dropDuplicateColumns._1
      t -> s
    }
    RelationalizeResult(schemas, emitted, raw.map { case (t, (_, n)) => t -> n })
  }
}
