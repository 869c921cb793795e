package graft.ops

import scala.util.Try

import org.apache.hadoop.fs.Path
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

  /** A parquet read. When `path` is one file, its schema is the footer's,
    * converted on the driver as Spark's inference converts it (inference
    * runs a one-task job per read); directories and globs keep inference.
    */
  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    if (Try(p.getFileSystem(conf).getFileStatus(p).isFile).getOrElse(false)) {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      val footer = try new Footer(p, reader.getFooter) finally reader.close()
      spark.read.schema(ParquetFileFormat.readSchemaFromFooter(footer,
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))).parquet(path)
    } else spark.read.parquet(path)
  }
}
