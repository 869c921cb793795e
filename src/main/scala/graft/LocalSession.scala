package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The session every command-line main runs on: `local[N]` with N from
  * `SPARK_GRAFT_CPUS` (each main passes its own default), N shuffle
  * partitions, UTC, the UI off and WARN logging. AQE is on (Spark's
  * default).
  *
  * A checkpoint dir makes `Lifecycle.released` use RELIABLE checkpoints, so
  * every op's persisted intermediates are dropped eagerly (localCheckpoint
  * would keep the result blocks cached until GC). `cleanCheckpoints`
  * deletes a checkpoint's files when its DataFrame is GC'd; the temp dir
  * itself is deleted when the session stops.
  */
object LocalSession {
  def apply(defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
        org.apache.commons.io.FileUtils.deleteQuietly(ckptDir.toFile)
    })
    spark
  }
}
