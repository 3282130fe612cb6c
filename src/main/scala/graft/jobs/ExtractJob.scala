package graft.jobs

import org.apache.spark.sql.SparkSession
import graft.io.ParquetIO
import graft.model.Profiles
import graft.pipeline.Checkpoint

/** Production batch entry point (SURVEY §7.1 jobs/ExtractJob):
  *
  * {{{
  * spark-submit --class graft.jobs.ExtractJob ocrmainspark.jar \
  *   <pagesDir> <outDir> [profile=balanced] [buckets=64] [runId]
  * }}}
  *
  * Reads the pages table, runs the checkpointed exactly-once extraction
  * (resume-safe: re-launching after a failure processes only uncommitted
  * or drifted buckets), prints a one-line JSON summary.
  *
  * `profile` names the run (app name, default run id) but no longer changes
  * the checkpointed job: the extraction shuffle is keyed on the output
  * bucket, and the salt fan-out `saltBuckets` was the profile's only effect
  * on it.
  *
  * On a cluster this runs under whatever master spark-submit provides;
  * standalone (no master set) it falls back to local[*] for the sandbox.
  */
object ExtractJob {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: ExtractJob <pagesDir> <outDir> [profile] [buckets] [runId]")
      sys.exit(2)
    }
    val Array(pagesDir, outDir) = args.take(2)
    val profile = if (args.length > 2) args(2) else "balanced"
    val buckets = if (args.length > 3) args(3).toInt else 64
    val runId = if (args.length > 4) args(4) else s"extract-$profile"

    val builder = SparkSession.builder().appName(s"graft-extract-$profile")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    val spark = (if (sys.props.contains("spark.master") ||
                     sys.env.contains("SPARK_MASTER")) builder
                 else builder.master("local[*]")
                   .config("spark.sql.shuffle.partitions", 32)
                   .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val pages = ParquetIO.read(spark, pagesDir)
    val summary = Checkpoint.run(pages, outDir, ParquetIO,
      Profiles.forName(profile), runId, buckets)
    println(s"""{"job":"extract","run_id":"$runId","buckets_total":${summary.bucketsTotal},""" +
      s""""buckets_pending":${summary.bucketsPending},"buckets_committed":${summary.bucketsCommitted},""" +
      s""""rows_in":${summary.rowsIn},"bytes_in":${summary.bytesIn},"out":"${Checkpoint.dataPath(outDir)}"}""")
    spark.stop()
  }
}
