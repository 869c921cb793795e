package graft.streaming

import graft.core.{ChoiceSchema, ColType}
import graft.relationalize.{RelationalizeOptions, RelationalizeSpark}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql._
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming variant of relationalize.
  *
  * The flatten/explode transform itself is stateless and therefore fully
  * streaming-compatible — the batch pass 1 ([[RelationalizeSpark.emit]]) over
  * each micro-batch. Choice-schema inference is NOT (it is unbounded state:
  * the lattice only grows), exactly as noted in SURVEY §2.8. Two modes:
  *
  *   1. '''frozen schema''' ([[withFrozenSchemas]]): schemas inferred up front
  *      (e.g. from a batch sample or a prior run) are applied to every batch;
  *      values outside a frozen choice raise, like the reference's
  *      convert-time error.
  *   2. '''evolving schema''' ([[runToParquetEvolving]]): each micro-batch runs
  *      the batch pipeline ([[RelationalizeSpark.apply]]), merges its
  *      observed schemas into a durable store, migrates already-written
  *      parquet when a layout widens, and appends under the merged schema.
  */
object StreamingRelationalize {

  /** Frozen-schema streaming: convert each table's stream with a fixed choice
    * schema, returning one streaming DataFrame per table.
    *
    * Rid determinism within one micro-batch derives from (batch partition,
    * ordinal) like batch mode — but those coordinates RESTART every
    * micro-batch, so a sink that accumulates batches and join-backs rids
    * must not use positional keys bare: pass `contentDocKeys = true` here
    * (a pure streaming transform has no batch id to scope keys with), or
    * use [[runToParquetEvolving]], which scopes every positional key by
    * `"b<batchId>:"` automatically.
    */
  def withFrozenSchemas(lines: Dataset[String], name: String,
                        schemas: Map[String, ChoiceSchema],
                        contentDocKeys: Boolean = false): Map[String, DataFrame] = {
    val emitted = RelationalizeSpark.emit(lines, name,
      RelationalizeOptions(contentDocKeys = contentDocKeys))
    schemas.map { case (t, sch) => t -> RelationalizeSpark.toDataFrame(emitted, t, sch) }
  }

  // --- cross-batch schema evolution with sink migration -----------------

  /** Durable per-table schema registry under `outDir/_graft_schema/` — the
    * reference's serialized-schema re-merge across runs
    * (`relationalize/schema.py:259-302`, `examples/concurrency_example.py:80-96`)
    * applied to a streaming sink: each batch's observed schema is merged
    * into the stored one, and the store survives query restarts (Hadoop
    * FileSystem API, so it works on HDFS/S3A like the data itself).
    */
  private[graft] object SchemaStore {
    private def schemaPath(outDir: String, table: String) =
      new Path(s"$outDir/_graft_schema/$table.json")

    def load(spark: SparkSession, outDir: String, table: String): Option[ChoiceSchema] = {
      val p = schemaPath(outDir, table)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(ChoiceSchema.deserialize(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)))
        finally in.close()
      }
    }

    def save(spark: SparkSession, outDir: String, table: String, schema: ChoiceSchema): Unit = {
      val p = schemaPath(outDir, table)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write(schema.serialize.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  private[graft] val MigratingSuffix = "__migrating"
  private[graft] val RetiredSuffix = "__retired"

  /** Rewrite a parquet table written under `from`'s layout into `to`'s.
    *
    * `merge` only widens, so every old output column has a well-defined home
    * in the new layout: a scalar that became a choice moves under its member
    * name (`v` -> `v_int`), existing choice members keep their column, and
    * columns the new schema added read as null. Rewrites go to a sibling
    * directory first, then swap in with a TWO-rename sequence (live aside to
    * `__retired`, rewrite in, drop retired): a crash at any point leaves
    * either the old or the new copy intact for
    * [[recoverInterruptedMigration]] to roll forward or back — the live
    * directory is never the only copy being destroyed.
    *
    * Re-entrant: columns are bound against what the files actually contain,
    * not blindly against `from` — if a previous migration swapped in the new
    * layout but crashed before the schema store was updated, the re-run is
    * an identity rewrite instead of a read under the stale old layout (which
    * would silently null every moved column).
    */
  private[graft] def migrateParquet(spark: SparkSession, path: String,
                                    from: ChoiceSchema, to: ChoiceSchema): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverInterruptedMigration(fs, path)
    if (!fs.exists(p)) return
    val newStruct = to.toStructType
    val types = newStruct.fields.map(f => f.name -> f.dataType).toMap
    // recursive lookup: appended batches live in b<batchId> subdirectories
    // (the replay-idempotence layout); the rewrite flattens them
    val existing = spark.read.option("recursiveFileLookup", "true").parquet(path)
    val present = existing.columns.toSet
    val exprs = to.outputBindings.map { case (out, k, tag) =>
      val source: Option[String] =
        if (present.contains(out)) Some(out) // already in target layout
        else from.columns.get(k).flatMap {
          case ColType.CChoice(ms) => if (ms.contains(tag)) Some(s"${k}_$tag") else None
          case ColType.CNone => None // all-null placeholder: nothing to carry
          case t => if (t.repr == tag) Some(k) else None
        }.filter(present.contains)
      source.fold(lit(null).cast(types(out)))(c => col(c)).as(out)
    }
    val tmp = new Path(path + MigratingSuffix)
    val retired = new Path(path + RetiredSuffix)
    existing.select(exprs: _*)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // HDFS/S3A-style FileSystems signal rename failure by RETURNING FALSE,
    // not throwing. An unchecked false here would return normally, the
    // caller would persist the new schema, and the next append would mix
    // two layouts in one directory — fail the batch instead, so the
    // checkpoint does not commit and recovery rolls the swap forward/back.
    require(fs.rename(p, retired),
      s"migration swap failed: could not move $p aside to $retired")
    require(fs.rename(tmp, p),
      s"migration swap failed: could not move rewrite $tmp into $p")
    fs.delete(retired, true)
  }

  /** Self-heal the leftovers of an interrupted [[migrateParquet]] swap.
    * Idempotent; called per table at every batch start and at migration
    * entry. The swap's crash states map to exactly one action each:
    *
    *   - live missing + `__migrating` present: the rewrite completed and the
    *     old copy was moved aside — roll FORWARD (rename the rewrite in);
    *   - live missing + only `__retired` present: roll BACK (restore old);
    *   - live present + stale `__migrating`: a half-written rewrite — drop it
    *     (the next widening re-runs the rewrite from the live copy);
    *   - live present + stale `__retired`: the swap completed — drop the old.
    */
  private[graft] def recoverInterruptedMigration(fs: org.apache.hadoop.fs.FileSystem,
                                                path: String): Unit = {
    val p = new Path(path)
    val tmp = new Path(path + MigratingSuffix)
    val retired = new Path(path + RetiredSuffix)
    if (!fs.exists(p)) {
      // an unchecked false return would let the cleanup below delete the
      // ONLY surviving copy — abort recovery instead and leave the
      // leftovers for the next attempt (or an operator)
      if (fs.exists(tmp)) require(fs.rename(tmp, p),
        s"migration recovery failed: could not roll $tmp forward to $p")
      else if (fs.exists(retired)) require(fs.rename(retired, p),
        s"migration recovery failed: could not roll $retired back to $p")
    }
    if (fs.exists(retired)) fs.delete(retired, true)
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** Evolving-schema streaming into per-table parquet under `outDir/<t>/`:
    * each micro-batch's inferred schemas are merged into the durable
    * [[SchemaStore]]; when the merge widens a table's layout (a scalar
    * becomes a choice, a new column or member appears) the already-written
    * parquet is migrated BEFORE the batch appends, so the sink always holds
    * one consistent layout and the final tables equal a batch run over the
    * full corpus. Survives restarts: schema state is re-read per batch, and
    * every batch first self-heals any interrupted migration swap.
    *
    * Crash-safety ordering per table: recover -> migrate -> save schema ->
    * write. Saving BEFORE the write means a crash anywhere in the batch
    * leaves store >= file layout or an uncommitted checkpoint: the batch
    * replays with the same observed schemas, the migration re-runs (an
    * identity rewrite if it already swapped in), and the write lands in the
    * consistent layout.
    *
    * '''Replay idempotence''': each batch writes to the batch-id-
    * deterministic subpath `<table>/b<batchId>` with Overwrite, so the
    * foreachBatch at-least-once window (crash AFTER the write, before the
    * checkpoint commit) replays into the SAME subpath and overwrites instead
    * of duplicating — effectively-once output. A replayed widening batch is
    * safe too: its first attempt saved the merged schema before writing, so
    * the replay observes merged == stored, skips the migration, and
    * re-overwrites its own subpath. Read the sink through [[readTable]] (or
    * `option("recursiveFileLookup", "true")`): migrations flatten history
    * into the table root while later batches land in subdirectories.
    */
  def runToParquetEvolving(lines: Dataset[String], name: String, outDir: String,
                           checkpoint: String): StreamingQuery =
    lines.writeStream.foreachBatch { (batch: Dataset[String], batchId: Long) =>
      processEvolvingBatch(batch, batchId, name, outDir)
    }.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** One micro-batch of [[runToParquetEvolving]] — exposed so the replay
    * spec can invoke the same batch twice, exactly as the engine does after
    * a crash between the sink write and the checkpoint commit.
    */
  private[graft] def processEvolvingBatch(batch: Dataset[String], batchId: Long,
                                          name: String, outDir: String): Unit =
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      // batch-scoped docKeys: positional coordinates restart every batch,
      // so without the prefix two batches' docs could share a rid tree and
      // corrupt any join-back over the accumulated sink (gate-pinned by
      // stream_rel_explode); replay keeps the same id, so rids stay
      // idempotent like the b<batchId> data writes
      val result = RelationalizeSpark(batch, name,
        RelationalizeOptions(docKeyPrefix = s"b$batchId:"))
      try {
        result.schemas.foreach { case (t, observed) =>
          val tablePath = s"$outDir/$t"
          val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
          recoverInterruptedMigration(fs, tablePath)
          val prior = SchemaStore.load(spark, outDir, t)
          val merged = prior.fold(observed)(_.merge(observed))
          prior.filter(_.outputColumns != merged.outputColumns)
            .foreach(p => migrateParquet(spark, tablePath, p, merged))
          // drift log: every column-level change this batch caused, as an
          // auditable history next to the data (the streaming face of
          // rel_schema_drift — ChoiceSchema.diff is lattice-aware, so each
          // row carries the widening-vs-breaking verdict). Batch-id subpath
          // + Overwrite = replay-idempotent, same as the data writes.
          prior.map(_.diff(merged)).filter(_.nonEmpty).foreach { drifts =>
            import spark.implicits._
            drifts.map(d => (batchId, t, d.column, d.change,
                d.from.orNull, d.to.orNull, d.widening))
              .toDF("batch_id", "table", "column", "change",
                "from_type", "to_type", "widening")
              .coalesce(1)
              .write.mode(SaveMode.Overwrite).parquet(s"$outDir/_drift_log/$t/b$batchId")
          }
          SchemaStore.save(spark, outDir, t, merged)
          result.convert(t, merged)
            .write.mode(SaveMode.Overwrite).parquet(s"$tablePath/b$batchId")
        }
      } finally result.release()
    }

  /** Read a table written by [[runToParquetEvolving]]:
    * batch writes live in `b<batchId>` subdirectories (migrated history sits
    * flat in the root), so the listing must recurse.
    */
  def readTable(spark: SparkSession, outDir: String, table: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(s"$outDir/$table")

  /** Read a table's accumulated drift log (one row per column-level schema
    * change per batch, with the lattice widening-vs-breaking verdict).
    * Empty frame if no drift ever occurred.
    */
  def readDriftLog(spark: SparkSession, outDir: String, table: String): DataFrame = {
    val path = new Path(s"$outDir/_drift_log/$table")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path))
      spark.read.option("recursiveFileLookup", "true").parquet(path.toString)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("batch_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("table", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("column", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("change", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("from_type", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("to_type", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("widening", org.apache.spark.sql.types.BooleanType))))
  }
}
