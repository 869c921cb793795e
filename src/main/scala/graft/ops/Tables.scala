package graft.ops

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table access for the driver testdata layout (TESTDATA.md). */
object Tables {

  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some testdata
    * generations and TIMESTAMP(MICROS, isAdjustedToUTC=false) in others, so
    * the read adapts to what the file actually contains:
    *   - NANOS: Spark's vectorized reader rejects it outright, so read raw
    *     nanos (legacy flag) and rebuild a microsecond TimestampType with
    *     exact integer math (`div`, not `/` — the nano epoch exceeds 2^53 so
    *     double division would lose precision), matching DuckDB's ns -> us
    *     truncation.
    *   - MICROS without UTC adjustment: Spark reads TIMESTAMP_NTZ; cast to
    *     TimestampType (every session here pins UTC), which preserves the
    *     wall-clock exactly as DuckDB's naive read does.
    * Either way callers see one schema: `ts TIMESTAMP` in UTC.
    */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = parquet(spark, s"$sfDir/$name.parquet")
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    } else {
      parquet(spark, s"$sfDir/$name.parquet")
    }

  /** A parquet read whose schema is one data file's footer, converted on the
    * driver as Spark's inference converts it (inference runs a one-task job
    * per read, and without `mergeSchema` it also reads one footer). The file
    * is `path` itself or, with `recursive`, the first data file under it in
    * listing order (`_` and `.` names skipped), and the read then recurses
    * too. Other directories, globs and data-less trees keep inference.
    */
  private[graft] def parquet(spark: SparkSession, path: String,
                             recursive: Boolean = false): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    def dataFile(st: FileStatus): Option[Path] =
      if (st.isFile) Some(st.getPath)
      else if (recursive) fs.listStatus(st.getPath).iterator
        .filterNot(c => "_.".contains(c.getPath.getName.head)).flatMap(dataFile).nextOption()
      else None
    val read = spark.read.option("recursiveFileLookup", recursive)
    Try(fs.getFileStatus(new Path(path))).toOption.flatMap(dataFile).fold(read.parquet(path)) { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      val footer = try new Footer(f, reader.getFooter) finally reader.close()
      read.schema(ParquetFileFormat.readSchemaFromFooter(footer,
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))).parquet(path)
    }
  }
}
