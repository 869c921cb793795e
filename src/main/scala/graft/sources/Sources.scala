package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.io.compress.{CompressionCodecFactory, SplittableCompressionCodec}
import org.apache.hadoop.mapred.{InputSplit, JobConf}
import org.apache.hadoop.mapred.lib.{CombineFileSplit, CombineTextInputFormat}
import org.apache.hadoop.mapreduce.lib.input.FileInputFormat
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, isnan, when}
import org.apache.spark.sql.types.DoubleType

import scala.collection.mutable.ArrayBuffer

/** Sources (SURVEY §2.1): the reference ingests JSONL from local FS / S3 /
  * in-memory iterables. Spark equivalents, one per reference operator.
  *
  * Beyond the reference: parquet/ORC columnar round-trips (pushdown +
  * pruning pinned by FormatRoundTripSpec) and the `binaryFile` source as
  * the raw-media ingest path for the multimodal surface — all through
  * Spark's native readers, so they need no wrapper here.
  */
object Sources {

  /** S1: JSONL file(s) -> one raw line per row. `path` is a file, a
    * directory (read recursively, `_`/`.` names skipped), a glob or a
    * comma-separated list, local or `s3a://`; gzip is transparent. Lines
    * arrive unparsed so the relationalizer controls scalar typing (see
    * graft.core.JValue).
    *
    * Split policy ([[EvenLineInputFormat]]): the input's bytes are cut into
    * `defaultParallelism` line-aligned splits of near-equal size, each at
    * most `spark.sql.files.maxPartitionBytes`, in path then offset order.
    * Small files are packed together and a file that cannot be split (gzip)
    * stays whole. Spark's own file planner does not cut a split below
    * `spark.sql.files.openCostInBytes` (4 MB), so through it a few-MB JSONL
    * file is one or two partitions, and relationalize pass 1 (and every
    * pass-2 conversion of its cached emit) runs on one or two cores.
    *
    * Positional rids (`RelationalizeOptions.contentDocKeys = false`) follow
    * this split, so they change with the core count; content keys do not.
    */
  def jsonl(spark: SparkSession, path: String): Dataset[String] = {
    val job = new JobConf(spark.sessionState.newHadoopConf())
    org.apache.hadoop.mapred.FileInputFormat.setInputPaths(job, path)
    job.setBoolean(FileInputFormat.INPUT_DIR_RECURSIVE, true)
    job.setLong(FileInputFormat.SPLIT_MAXSIZE, spark.sessionState.conf.filesMaxPartitionBytes)
    val lines = spark.sparkContext
      .hadoopRDD(job, classOf[EvenLineInputFormat], classOf[LongWritable], classOf[Text],
        spark.sparkContext.defaultParallelism)
      .map(_._2.toString)
    lines.partitions // list and plan now, like spark.read: a missing path fails here
    spark.createDataset(lines)(Encoders.STRING)
  }

  /** S2: in-memory iterable (tests, small corpora). */
  def fromIterable(spark: SparkSession, docs: Seq[String]): Dataset[String] =
    spark.createDataset(docs)(Encoders.STRING)

  /** S4: paged/itemized API export. The reference fetches an index page and
    * then one document per item, serially on the driver
    * (`examples/full_pokemon_psql_pipeline.py:60-76`) — at scale the
    * per-item fetches ARE the parallel part, so here they run on executors:
    * item keys are distributed across `parallelism` partitions and `fetch`
    * (a serializable transport — an HTTP client in production, an injected
    * fake in tests: this container has zero egress) runs once per item.
    * Returns raw JSON lines, like every other source.
    */
  def fromPagedExport(spark: SparkSession, itemKeys: Seq[String],
                      fetch: String => String, parallelism: Int = 64): Dataset[String] =
    spark.createDataset(itemKeys)(Encoders.STRING)
      .repartition(math.max(1, math.min(parallelism, itemKeys.size)))
      .map(fetch)(Encoders.STRING)

  /** S3: MongoDB export normalization. The reference dumps a collection with
    * `json.dumps(document, default=str)` (`examples/full_mongodb_psql_pipeline.py:65-74`),
    * which flattens BSON types (ObjectId, datetime) to plain strings;
    * `mongoexport`-style dumps wrap them in canonical extended JSON instead
    * (`{"$oid": ...}`, `{"$date": ...}`, `{"$numberLong": ...}`). This
    * transform rewrites the wrappers to the same plain scalars so the
    * relationalizer sees one shape from either export path. The cluster
    * connection itself stays connector territory (SURVEY §2.1 scope call).
    */
  def fromMongoExport(lines: Dataset[String]): Dataset[String] =
    lines.map(MongoExtendedJson.normalize _)(Encoders.STRING)
}

/** Line-aligned text splits of near-equal size: the files' bytes, in path
  * order, are cut into `numSplits` ranges of `ceil(total / numSplits)` bytes
  * (at most `mapreduce.input.fileinputformat.split.maxsize`). A range may
  * span several small files; a file whose codec cannot split (gzip) goes
  * into one range whole. Each piece is read by Hadoop's line reader, which
  * skips a partial first line and finishes the last one, so every line is
  * read exactly once whatever the cut points.
  */
final class EvenLineInputFormat extends CombineTextInputFormat {
  override def getSplits(job: JobConf, numSplits: Int): Array[InputSplit] = {
    val codecs = new CompressionCodecFactory(job)
    val files = listStatus(job).filter(f => f.isFile && f.getLen > 0).sortBy(_.getPath.toString)
    val total = files.map(_.getLen).sum
    val n = math.max(1, numSplits)
    val target = math.max(1L,
      math.min(job.getLong(FileInputFormat.SPLIT_MAXSIZE, Long.MaxValue), (total + n - 1) / n))
    val splits = ArrayBuffer.empty[InputSplit]
    val pieces = ArrayBuffer.empty[(FileStatus, Long, Long)]
    var filled = 0L
    def close(): Unit = if (pieces.nonEmpty) {
      val (first, start, _) = pieces.head
      val hosts = first.getPath.getFileSystem(job)
        .getFileBlockLocations(first, start, 1).headOption.fold(Array.empty[String])(_.getHosts)
      splits += new CombineFileSplit(job, pieces.map(_._1.getPath).toArray,
        pieces.map(_._2).toArray, pieces.map(_._3).toArray, hosts)
      pieces.clear()
      filled = 0L
    }
    files.foreach { f =>
      val codec = codecs.getCodec(f.getPath)
      val splittable = codec == null || codec.isInstanceOf[SplittableCompressionCodec]
      var offset = 0L
      while (offset < f.getLen) {
        val take = if (splittable) math.min(f.getLen - offset, target - filled) else f.getLen
        pieces += ((f, offset, take))
        offset += take
        filled += take
        if (filled >= target) close()
      }
    }
    close()
    splits.toArray
  }
}

/** Canonical MongoDB extended-JSON -> plain-JSON rewriter (S3 support). */
object MongoExtendedJson extends Serializable {
  import com.fasterxml.jackson.databind.JsonNode
  import com.fasterxml.jackson.databind.node._

  def normalize(line: String): String = {
    val mapper = graft.core.Json.mapper
    mapper.writeValueAsString(rewrite(mapper.readTree(line)))
  }

  private def rewrite(n: JsonNode): JsonNode = n match {
    case o: ObjectNode if o.size == 1 && unwrap(o).isDefined => unwrap(o).get
    case o: ObjectNode =>
      val out = graft.core.Json.mapper.createObjectNode()
      o.properties().forEach(e => out.set[JsonNode](e.getKey, rewrite(e.getValue)))
      out
    case a: ArrayNode =>
      val out = graft.core.Json.mapper.createArrayNode()
      a.forEach(x => out.add(rewrite(x)))
      out
    case other => other
  }

  /** One extended-JSON wrapper -> plain scalar, mirroring `default=str`:
    * $oid -> hex string; $date -> ISO-8601 string; $numberLong/Int -> JSON
    * integer; $numberDouble -> JSON float; $numberDecimal -> string (digit
    * preservation, same policy as >Long integral literals).
    */
  private def unwrap(o: ObjectNode): Option[JsonNode] = {
    if (o.has("$oid")) Some(o.get("$oid"))
    else if (o.has("$date")) {
      val d = o.get("$date")
      if (d.isObject && d.has("$numberLong"))
        Some(TextNode.valueOf(
          java.time.Instant.ofEpochMilli(d.get("$numberLong").asText.toLong).toString))
      else Some(d)
    }
    else if (o.has("$numberLong")) Some(LongNode.valueOf(o.get("$numberLong").asText.toLong))
    else if (o.has("$numberInt")) Some(IntNode.valueOf(o.get("$numberInt").asText.toInt))
    else if (o.has("$numberDouble")) Some(DoubleNode.valueOf(o.get("$numberDouble").asText.toDouble))
    else if (o.has("$numberDecimal")) Some(o.get("$numberDecimal"))
    else None
  }
}

/** Sinks (SURVEY §2.6, K1-K8). Thin, explicit wrappers: each maps one
  * reference sink to the Spark writer that provides it, including the
  * NaN-scrubbing quirk of the S3/Redshift path.
  */
object Sinks {

  /** K1/K3: JSONL out (set codec "gzip" for the S3-style compressed path). */
  def jsonl(df: DataFrame, path: String, compression: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    compression.fold(w)(c => w.option("compression", c)).json(path)
  }

  /** K4: CSV with header; missing values render empty like csv.DictWriter. */
  def csv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** Columnar output (the engine-native path; not in the reference). */
  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Small-files compaction — the table-maintenance job every long-running
    * ingestion needs at scale: streaming sinks and over-parallel writers
    * leave directories of kilobyte files whose per-file open/footer cost
    * eventually dominates every scan. Rewrites the dataset into
    * ~`targetRecordsPerFile`-sized files; with `clusterCols` the rewrite
    * also range-clusters (repartitionByRange + sortWithinPartitions), so
    * compaction doubles as the stats-tightening pass that makes file-level
    * min/max skipping work (see StorageLayoutSpec's range-clustered pin).
    * `maxRecordsPerFile` guards the target even when the range partitioner
    * lands skewed key runs in one partition. The extra `count()` is one
    * metadata-cheap scan — the standard price of record-count-targeted
    * compaction (file-size-targeted variants read footers instead).
    * Returns (rows, filesWritten).
    */
  def compactParquet(df: DataFrame, path: String, targetRecordsPerFile: Long,
                     clusterCols: Seq[String] = Nil): (Long, Long) = {
    require(targetRecordsPerFile > 0)
    val rows = df.count()
    val nParts = math.max(1L, (rows + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
    val arranged =
      if (clusterCols.nonEmpty)
        df.repartitionByRange(nParts, clusterCols.map(col): _*)
          .sortWithinPartitions(clusterCols.map(col): _*)
      else df.repartition(nParts)
    arranged.write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", targetRecordsPerFile)
      .parquet(path)
    val dest = new Path(path)
    val files = dest.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
      .listStatus(dest).count(_.getPath.getName.endsWith(".parquet"))
    (rows, files.toLong)
  }

  /** K6: warehouse load via JDBC — DROP/CREATE (from the choice-schema DDL)
    * then batched insert, the Spark shape of the reference's
    * DROP -> CREATE -> COPY pipeline. Untested here (no JDBC driver in the
    * environment); the DDL side is covered by ChoiceSchemaSpec.
    */
  def jdbc(df: DataFrame, url: String, table: String,
           props: java.util.Properties = new java.util.Properties()): Unit =
    df.write.mode(SaveMode.Overwrite).jdbc(url, table, props)

  /** K7: Redshift load. The reference stages each table as gzip JSONL on S3
    * and runs DROP -> CREATE (generated DDL) -> COPY ... FORMAT AS json
    * 'auto ignorecase' TRUNCATECOLUMNS GZIP -> ANALYZE -> COUNT per table
    * (`examples/s3_redshift_example.py:138-170`). [[redshiftStage]] performs
    * the staging (NaN-scrubbed gzip JSONL, K3/K8 composed);
    * [[redshiftLoadStatements]] emits the exact statement sequence for any
    * Redshift connection (no JDBC driver ships in this container — the
    * statement shapes are golden-spec-checked, like K6's executed DuckDB
    * twin in WarehouseLoadSpec).
    */
  def redshiftStage(tables: Map[String, DataFrame], location: String): Unit =
    tables.foreach { case (t, df) =>
      jsonl(scrubNaN(df), s"$location/$t.json.gz", compression = Some("gzip"))
    }

  def redshiftLoadStatements(
      schemas: Map[String, graft.core.ChoiceSchema], s3Location: String,
      schemaName: String, iamRole: String, region: String): Map[String, Seq[String]] =
    schemas.map { case (t, sch) =>
      t -> Seq(
        s"""DROP TABLE IF EXISTS "$schemaName"."$t";""",
        sch.generateDdl(t, schemaName, graft.core.PostgresDialect),
        s"""COPY "$schemaName"."$t"
           |FROM 's3://$s3Location$t.json.gz'
           |iam_role '$iamRole'
           |region '$region'
           |FORMAT AS json 'auto ignorecase'
           |TRUNCATECOLUMNS
           |GZIP;""".stripMargin,
        s"""ANALYZE "$schemaName"."$t";""",
        s"""SELECT COUNT(1) FROM "$schemaName"."$t";""")
    }

  /** K8: NaN/Infinity scrub — the reference serializes them as JSON null
    * (`simplejson ignore_nan`); apply before any JSON sink.
    */
  def scrubNaN(df: DataFrame): DataFrame =
    df.schema.fields.filter(_.dataType == DoubleType).foldLeft(df) { (acc, f) =>
      acc.withColumn(f.name,
        when(isnan(col(f.name)) || col(f.name).isin(Double.PositiveInfinity, Double.NegativeInfinity), null)
          .otherwise(col(f.name)))
    }
}
