package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.pipeline.Extract

/** Incremental extraction via Structured Streaming (SURVEY §1.2: the
  * checkpoint/resume design is compatible with a `Trigger.AvailableNow`
  * incremental job — this is that job).
  *
  * Continuous-crawl shape: new page files land in `inDir`; each run drains
  * exactly the unseen files (AvailableNow), extracts with the same kernel
  * as the batch path, appends to `outDir`, and stops. Exactly-once comes
  * from Spark's streaming checkpoint (file-source offsets + file-sink
  * transaction log) — the batch-side manifest (pipeline.Checkpoint) covers
  * the reprocess-by-fingerprint case; this covers the append-only tail.
  */
object IncrementalExtract {

  def start(spark: SparkSession, inDir: String, outDir: String,
            checkpointDir: String): StreamingQuery = {
    graft.io.PathGuard.checkWritable(outDir)
    graft.io.PathGuard.checkWritable(checkpointDir)
    val pages = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[graft.model.Page].schema)
      .parquet(inDir)

    // same kernel, narrow plan: streaming file sources are already split
    // by file; no runtime shuffle in the hot path
    val extracted = Extract.runNarrow(pages).toDF()

    extracted.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Run one AvailableNow drain to completion; returns rows visible after. */
  def drainOnce(spark: SparkSession, inDir: String, outDir: String,
                checkpointDir: String): Long = {
    val q = start(spark, inDir, outDir, checkpointDir)
    q.awaitTermination()
    spark.read.parquet(outDir).count()
  }
}
