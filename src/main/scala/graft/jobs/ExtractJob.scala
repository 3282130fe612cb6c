package graft.jobs

import org.apache.spark.sql.SparkSession
import graft.io.ParquetIO
import graft.model.PipelineConf
import graft.pipeline.Checkpoint

/** Production batch entry point (SURVEY §7.1 jobs/ExtractJob):
  *
  * {{{
  * spark-submit --class graft.jobs.ExtractJob ocrmainspark.jar \
  *   <pagesDir> <outDir> [buckets=64] [runId=extract]
  * }}}
  *
  * Reads the pages table, runs the checkpointed exactly-once extraction
  * (resume-safe: re-launching after a failure processes only uncommitted
  * or drifted buckets), prints a one-line JSON summary. A `buckets` value
  * that is not a positive integer prints the usage line and exits 2.
  *
  * On a cluster this runs under whatever master spark-submit provides;
  * standalone (no master set) it falls back to local[*] for the sandbox.
  */
object ExtractJob {
  def main(args: Array[String]): Unit = {
    def usage(): Nothing = {
      System.err.println("usage: ExtractJob <pagesDir> <outDir> [buckets] [runId]")
      sys.exit(2)
    }
    if (args.length < 2) usage()
    val Array(pagesDir, outDir) = args.take(2)
    val buckets =
      if (args.length > 2) args(2).toIntOption.filter(_ > 0).getOrElse(usage())
      else 64
    val runId = if (args.length > 3) args(3) else "extract"

    val builder = SparkSession.builder().appName("graft-extract")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    val spark = (if (sys.props.contains("spark.master") ||
                     sys.env.contains("SPARK_MASTER")) builder
                 else builder.master("local[*]")
                   .config("spark.sql.shuffle.partitions", 32)
                   .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val pages = ParquetIO.read(spark, pagesDir)
    val summary = Checkpoint.run(pages, outDir, ParquetIO, PipelineConf(), runId, buckets)
    println(s"""{"job":"extract","run_id":"$runId","buckets_total":${summary.bucketsTotal},""" +
      s""""buckets_pending":${summary.bucketsPending},"buckets_committed":${summary.bucketsCommitted},""" +
      s""""rows_in":${summary.rowsIn},"bytes_in":${summary.bytesIn},"out":"${Checkpoint.dataPath(outDir)}"}""")
    spark.stop()
  }
}
