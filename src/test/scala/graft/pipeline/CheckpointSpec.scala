package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{ParquetIO, SyntheticPages}
import graft.model.PipelineConf

/** Exactly-once resume properties (FIXTURES.md §3.5: "re-running a killed
  * job from the manifest produces identical table contents").
  */
class CheckpointSpec extends AnyFunSuite {

  private val spark: SparkSession = graft.TestSpark.spark
  private val conf = PipelineConf(shufflePartitions = 8)

  private def freshDir(): String =
    Files.createTempDirectory("ckpt").toString

  /** Runs `body` and returns what it logged at WARN or above through
    * Checkpoint's log4j logger.
    */
  private def capturingLog[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{LogManager, core}
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new core.appender.AbstractAppender("checkpoint-capture", null, null,
        true, core.config.Property.EMPTY_ARRAY) {
      override def append(e: core.LogEvent): Unit =
        logged.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger("graft.pipeline.Checkpoint").asInstanceOf[core.Logger]
    logger.addAppender(appender)
    try (body, logged.toArray(Array.empty[String]).toSeq)
    finally { logger.removeAppender(appender); appender.stop() }
  }

  /** Data files per `bucket=k` directory of a checkpoint output. */
  private def dataFiles(out: String): Map[Int, Seq[String]] =
    new java.io.File(Checkpoint.dataPath(out)).listFiles()
      .filter(_.getName.startsWith("bucket="))
      .map(d => d.getName.stripPrefix("bucket=").toInt ->
        d.list().filter(f => f.startsWith("part-") && f.endsWith(".parquet")).toSeq)
      .toMap

  test("bucket-keyed shuffle: one data file per bucket, every url exactly once") {
    // one host holds ~20% of the rows; each bucket is still written by
    // exactly one task, so it gets exactly one file
    val pages = SyntheticPages.fromDocuments(spark, "/root/testdata/sf0.001").cache()
    val out = freshDir()
    val s = Checkpoint.run(pages, out, ParquetIO, conf, "one-file", numBuckets = 16)
    val files = dataFiles(out)
    assert(files.size == s.bucketsTotal && s.bucketsTotal == 16)
    assert(files.forall(_._2.length == 1), s"files per bucket: $files")
    val urls = spark.read.parquet(Checkpoint.dataPath(out)).groupBy("url").count()
    assert(urls.count() == pages.select("url").distinct().count())
    assert(urls.where(col("count") =!= 1).count() == 0, "a url written twice")
    pages.unpersist()
  }

  test("fewer buckets than tasks: a url sub-key keeps the kernel parallel, files <= P") {
    val pages = SyntheticPages.fromDocuments(spark, "/root/testdata/sf0.001")
    val out = freshDir()
    Checkpoint.run(pages, out, ParquetIO, conf, "sub-key", numBuckets = 4)
    val files = dataFiles(out).values.flatten.toSeq
    // a part file is named after the task that wrote it, and the kernel
    // runs in the writing task: distinct names = non-empty kernel tasks
    val tasks = files.map(_.split('-')(1)).distinct
    assert(tasks.length > 4, s"kernel tasks: $tasks")
    assert(files.length <= conf.shufflePartitions, s"data files: $files")
    assert(spark.read.parquet(Checkpoint.dataPath(out)).count() == pages.count())
  }

  test("bucket placement is at least as balanced as host salting on a skewed corpus") {
    import PipelineSpec.maxMean
    val pages = SyntheticPages.fromDocuments(spark, "/root/testdata/sf0.001").select("url").cache()
    val p = conf.shufflePartitions
    val heavy = Salting.detectHeavyHosts(pages, sampleFraction = 1.0)
    assert(heavy.nonEmpty, "the corpus must be host-skewed")
    val salted = maxMean(Salting.saltedRepartition(pages, p, heavy))
    Seq(16, 4).foreach { n =>
      val placed = Checkpoint.placeByBucket(
        pages.withColumn("bucket", Checkpoint.bucketCol(col("url"), n)), 0 until n, p)
      assert(maxMean(placed) <= salted, s"$n buckets: ${maxMean(placed)} vs salted $salted")
    }
    pages.unpersist()
  }

  test("full run commits all buckets; immediate re-run processes zero") {
    val out = freshDir()
    val pages = SyntheticPages.fromDocuments(spark, "/root/testdata/sf0.001").cache()
    val s1 = Checkpoint.run(pages, out, ParquetIO, conf, "run-1", numBuckets = 16)
    assert(s1.bucketsPending == s1.bucketsTotal)
    assert(spark.read.parquet(Checkpoint.dataPath(out)).count() == pages.count())

    val s2 = Checkpoint.run(pages, out, ParquetIO, conf, "run-2", numBuckets = 16)
    assert(s2.bucketsPending == 0)
    assert(s2.bucketsCommitted == s2.bucketsTotal)
    pages.unpersist()
  }

  test("partial first run resumes to identical contents as a one-shot run") {
    val pages = SyntheticPages.fromDocuments(spark, "/root/testdata/sf0.001").cache()

    // one-shot reference output
    val outFull = freshDir()
    Checkpoint.run(pages, outFull, ParquetIO, conf, "oneshot", numBuckets = 16)
    val full = spark.read.parquet(Checkpoint.dataPath(outFull))
      .select("url", "doc_id", "text", "status").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).sorted

    // "killed" first run: only half the buckets were fed in
    val outPart = freshDir()
    val half = pages.where(Checkpoint.bucketCol(col("url"), 16) < 8)
    Checkpoint.run(half, outPart, ParquetIO, conf, "killed-run", numBuckets = 16)
    val afterHalf = spark.read.parquet(Checkpoint.dataPath(outPart)).count()
    assert(afterHalf == half.count())

    // resume with the full input: only the missing buckets run
    val s = Checkpoint.run(pages, outPart, ParquetIO, conf, "resume-run", numBuckets = 16)
    assert(s.bucketsPending > 0 && s.bucketsPending < s.bucketsTotal,
      s"expected partial resume, got $s")

    val resumed = spark.read.parquet(Checkpoint.dataPath(outPart))
      .select("url", "doc_id", "text", "status").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).sorted
    assert(resumed.sameElements(full))
    pages.unpersist()
  }

  test("input drift in one bucket re-extracts exactly that bucket") {
    val pages = SyntheticPages.fromDocuments(spark, "/root/testdata/sf0.001").cache()
    val out = freshDir()
    Checkpoint.run(pages, out, ParquetIO, conf, "run-1", numBuckets = 16)

    // drift: swap in different html for the rows of one bucket
    val drifted = pages.withColumn("html",
      when(Checkpoint.bucketCol(col("url"), 16) === 3,
        lit("<html><body><p>changed content entirely</p></body></html>".getBytes("UTF-8")))
        .otherwise(col("html")))
    val s = Checkpoint.run(drifted, out, ParquetIO, conf, "run-2", numBuckets = 16)
    assert(s.bucketsPending == 1, s"expected exactly the drifted bucket, got $s")

    val changed = spark.read.parquet(Checkpoint.dataPath(out))
      .where(col("text") === "changed content entirely").count()
    val inBucket = pages.where(Checkpoint.bucketCol(col("url"), 16) === 3).count()
    assert(changed == inBucket)
    pages.unpersist()
  }

  test("same-length content drift re-extracts (fingerprint covers bytes, not length)") {
    // a re-crawl that replaces html with DIFFERENT bytes of the SAME length
    // was invisible to a (url, length) fingerprint — stale output survived
    val pages = SyntheticPages.fromDocuments(spark, "/root/testdata/sf0.001").cache()
    val out = freshDir()
    Checkpoint.run(pages, out, ParquetIO, conf, "run-1", numBuckets = 16)
    val mut = udf { (b: Array[Byte]) =>
      val c = b.clone() // flip one content byte, length unchanged
      if (c.length > 200) c(200) = (c(200) ^ 0x01).toByte
      c
    }
    val drifted = pages.withColumn("html",
      when(Checkpoint.bucketCol(col("url"), 16) === 5, mut(col("html")))
        .otherwise(col("html")))
    val s = Checkpoint.run(drifted, out, ParquetIO, conf, "run-2", numBuckets = 16)
    assert(s.bucketsPending == 1, s"same-length drift not detected: $s")
    pages.unpersist()
  }

  test("an added duplicate row pair re-extracts (xor cancellation caught by rows_in)") {
    // two IDENTICAL added rows xor-cancel in the bucket fingerprint; the
    // (fingerprint, rows_in) comparison still sees the drift
    val pages = SyntheticPages.fromDocuments(spark, "/root/testdata/sf0.001").cache()
    val out = freshDir()
    Checkpoint.run(pages, out, ParquetIO, conf, "run-1", numBuckets = 16)
    val inB = pages.where(Checkpoint.bucketCol(col("url"), 16) === 7).limit(1)
    val withDup = pages.unionAll(inB).unionAll(inB)
    val s = Checkpoint.run(withDup, out, ParquetIO, conf, "run-2", numBuckets = 16)
    assert(s.bucketsPending == 1, s"duplicate-pair drift not detected: $s")
    pages.unpersist()
  }

  test("in-place change of an even-multiplicity row group re-extracts (sum combiner)") {
    // a duplicate PAIR replaced by a different duplicate pair: xor is 0
    // before and after AND rows_in is unchanged — only the
    // multiplicity-sensitive decimal-sum combiner sees this drift
    val pages = SyntheticPages.fromDocuments(spark, "/root/testdata/sf0.001").cache()
    val inB = pages.where(Checkpoint.bucketCol(col("url"), 16) === 9).limit(1)
    val doubled = pages.unionAll(inB) // row appears twice → xor contribution 0
    val out = freshDir()
    Checkpoint.run(doubled, out, ParquetIO, conf, "run-1", numBuckets = 16)
    val mut = udf { (b: Array[Byte]) =>
      val c = b.clone()
      if (c.length > 300) c(300) = (c(300) ^ 0x02).toByte
      c
    }
    val urlB = inB.select("url").collect()(0).getString(0)
    val changed = doubled.withColumn("html",
      when(col("url") === urlB, mut(col("html"))).otherwise(col("html")))
    val s = Checkpoint.run(changed, out, ParquetIO, conf, "run-2", numBuckets = 16)
    assert(s.bucketsPending == 1, s"even-multiplicity in-place drift not detected: $s")
    pages.unpersist()
  }

  test("row deletion drift: a committed bucket gone from the input is tombstoned") {
    val pages = SyntheticPages.fromDocuments(spark, "/root/testdata/sf0.001").cache()
    val out = freshDir()
    Checkpoint.run(pages, out, ParquetIO, conf, "run-1", numBuckets = 16)

    // every row of bucket 3 disappears from the input
    val reduced = pages.where(Checkpoint.bucketCol(col("url"), 16) =!= 3).cache()
    val s2 = Checkpoint.run(reduced, out, ParquetIO, conf, "run-2", numBuckets = 16)
    assert(s2.bucketsPending == 0, s"no surviving bucket drifted: $s2")

    // stale data is gone: dataPath serves exactly the reduced input's rows
    val data = spark.read.parquet(Checkpoint.dataPath(out))
    assert(data.count() == reduced.count())
    assert(data.where(col("bucket") === 3).count() == 0)
    // tombstone row recorded for the deleted bucket
    val m = spark.read.parquet(Checkpoint.manifestPath(out))
    assert(m.where(col("bucket") === 3 && col("rows_in") === 0 &&
      col("job_run_id") === "run-2").count() == 1)

    // idempotent: a third run over the same reduced input adds nothing
    val mRows = m.count()
    Checkpoint.run(reduced, out, ParquetIO, conf, "run-3", numBuckets = 16)
    assert(spark.read.parquet(Checkpoint.manifestPath(out)).count() == mRows)

    // the bucket REAPPEARING in the input re-extracts (tombstone ≠ commit)
    val s4 = Checkpoint.run(pages, out, ParquetIO, conf, "run-4", numBuckets = 16)
    assert(s4.bucketsPending == 1, s"reappeared bucket must re-extract: $s4")
    assert(spark.read.parquet(Checkpoint.dataPath(out)).count() == pages.count())
    pages.unpersist(); reduced.unpersist()
  }

  test("EMPTY input is an upstream failure, not a mass deletion") {
    val pages = SyntheticPages.fromDocuments(spark, "/root/testdata/sf0.001").cache()
    val out = freshDir()
    Checkpoint.run(pages, out, ParquetIO, conf, "run-1", numBuckets = 16)
    val before = spark.read.parquet(Checkpoint.dataPath(out)).count()
    val mRows = spark.read.parquet(Checkpoint.manifestPath(out)).count()

    Checkpoint.run(pages.limit(0), out, ParquetIO, conf, "run-empty", numBuckets = 16)
    assert(spark.read.parquet(Checkpoint.dataPath(out)).count() == before,
      "empty input must not delete committed data")
    assert(spark.read.parquet(Checkpoint.manifestPath(out)).count() == mRows,
      "empty input must not tombstone")
    pages.unpersist()
  }

  test("re-run after a clock step-back still wins latest-wins (monotonic seq)") {
    import spark.implicits._
    val pages = SyntheticPages.fromDocuments(spark, "/root/testdata/sf0.001").cache()
    val out = freshDir()
    Checkpoint.run(pages, out, ParquetIO, conf, "run-1", numBuckets = 16)

    // simulate a run recorded under a WALL CLOCK far in the future: a stale
    // manifest row for bucket 3 with a bogus fingerprint and a huge seq.
    // Wall-clock ordering would let this row win over every later real run.
    val bogus = Seq((3, 12345L, 0L, 0L, 0L, "clock-skewed",
        System.currentTimeMillis() + 1000L * 86400 * 365))
      .toDF("bucket", "input_fingerprint", "rows_in", "bytes_in", "rows_out",
        "job_run_id", "committed_seq")
    bogus.write.mode("append").parquet(Checkpoint.manifestPath(out))

    // bucket 3's latest row is now the bogus one (rows_in = 0 → tombstone):
    // the next run must re-extract it AND its new row must OUTRANK the bogus
    // seq, otherwise every later run keeps re-extracting forever
    val s2 = Checkpoint.run(pages, out, ParquetIO, conf, "run-2", numBuckets = 16)
    assert(s2.bucketsPending == 1, s"skewed bucket must re-extract once: $s2")
    val s3 = Checkpoint.run(pages, out, ParquetIO, conf, "run-3", numBuckets = 16)
    assert(s3.bucketsPending == 0, s"monotonic seq must beat the skewed row: $s3")
    assert(spark.read.parquet(Checkpoint.dataPath(out)).count() == pages.count())
    pages.unpersist()
  }

  test("crash between data write and manifest append re-runs the bucket cleanly") {
    // the commit protocol's crash window: step 3 (dynamic partition
    // overwrite of the data) completed for SOME rows of a bucket, the job
    // died before step 4 (manifest append). The orphaned half-written
    // partition must be invisible to resume (no manifest row = not
    // committed) and must be OVERWRITTEN, not appended to, when the bucket
    // re-runs — final contents identical to a one-shot run, zero dupes.
    val pages = SyntheticPages.fromDocuments(spark, "/root/testdata/sf0.001").cache()
    val out = freshDir()
    // run 1 commits buckets 0-7 normally
    Checkpoint.run(pages.where(Checkpoint.bucketCol(col("url"), 16) < 8),
      out, ParquetIO, conf, "run-1", numBuckets = 16)

    // simulated crash of run 2: bucket 9's data partition half-written
    // (every other row), manifest never touched
    val b9 = pages.where(Checkpoint.bucketCol(col("url"), 16) === 9)
    // (salt the split hash: bucket-9 membership fixes xxhash64(url) mod 16,
    // so an unsalted parity test would select all-or-nothing)
    val halfB9 = Extract.runNarrow(
        b9.where(pmod(xxhash64(col("url"), lit(42)), lit(2)) === 0).select("url", "html"))
      .toDF()
      .withColumn("bucket", Checkpoint.bucketCol(col("url"), 16))
    graft.io.ParquetIO.overwritePartitions(halfB9, Checkpoint.dataPath(out), "bucket")
    val orphanRows = spark.read.parquet(Checkpoint.dataPath(out))
      .where(col("bucket") === 9).count()
    assert(orphanRows > 0 && orphanRows < b9.count(), "crash artifact present")
    val manifestRows = spark.read.parquet(Checkpoint.manifestPath(out)).count()

    // resume with the full input: every bucket >= 8 is pending (the orphan
    // claims nothing), bucket 9 is overwritten whole
    val s = Checkpoint.run(pages, out, ParquetIO, conf, "resume", numBuckets = 16)
    assert(s.bucketsPending == s.bucketsTotal - 8, s"orphan must not count: $s")
    val data = spark.read.parquet(Checkpoint.dataPath(out))
    assert(data.count() == pages.count(), "no dupes, no gaps")
    assert(data.where(col("bucket") === 9).count() == b9.count())
    assert(data.select("url").distinct().count() == pages.count())
    assert(spark.read.parquet(Checkpoint.manifestPath(out)).count() ==
      manifestRows + s.bucketsPending)
    pages.unpersist()
  }

  test("manifest carries lineage columns") {
    val out = freshDir()
    val pages = SyntheticPages.fromDocuments(spark, "/root/testdata/sf0.001")
    Checkpoint.run(pages, out, ParquetIO, conf, "lineage-run", numBuckets = 8)
    val m = spark.read.parquet(Checkpoint.manifestPath(out))
    assert(m.columns.toSet == Set("bucket", "input_fingerprint", "rows_in",
      "bytes_in", "rows_out", "job_run_id", "committed_seq", "fp_version"))
    assert(m.where(col("job_run_id") === "lineage-run").count() == 8)
    assert(m.where(col("fp_version") =!= Checkpoint.FingerprintVersion).count() == 0)
    val totals = m.agg(sum("rows_in")).collect()(0).getLong(0)
    assert(totals == 500L)
  }

  test("old version stamp with matching fingerprints stays committed (no spurious recompute)") {
    // a manifest whose fingerprints EQUAL the freshly computed ones but
    // whose stamp is old/absent (e.g. written after the v2 formula landed
    // but before the fp_version column existed — such rows read back as
    // v1) must NOT re-extract: fingerprint equality proves the values
    // came from the current formula, the stamp only labels mismatches
    import spark.implicits._
    val pages = SyntheticPages.fromDocuments(spark, "/root/testdata/sf0.001").cache()
    Seq(true, false).foreach { withColumn =>
      val out = freshDir()
      Checkpoint.run(pages, out, ParquetIO, conf, "v2-run", numBuckets = 8)
      // rewrite the manifest with an old stamp but the SAME fingerprints
      val m = spark.read.parquet(Checkpoint.manifestPath(out)).collect()
      val old = m.map(r => (r.getAs[Int]("bucket"), r.getAs[Long]("input_fingerprint"),
        r.getAs[Long]("rows_in"), r.getAs[Long]("bytes_in"), r.getAs[Long]("rows_out"),
        r.getAs[String]("job_run_id"), r.getAs[Long]("committed_seq")))
        .toSeq.toDF("bucket", "input_fingerprint", "rows_in", "bytes_in",
          "rows_out", "job_run_id", "committed_seq")
      val downgraded =
        if (withColumn) old.withColumn("fp_version", lit(1)) else old
      downgraded.write.mode("overwrite").parquet(Checkpoint.manifestPath(out))

      val s = Checkpoint.run(pages, out, ParquetIO, conf, "after-stamp-downgrade", numBuckets = 8)
      assert(s.bucketsPending == 0,
        s"matching fingerprints must stay committed regardless of stamp (withColumn=$withColumn): $s")
    }
    pages.unpersist()
  }

  test("fingerprint-version break re-extracts once, labeled, then settles") {
    // a manifest written under an OLDER fingerprint FORMULA (different
    // stored fingerprints, stamped v1) recomputes every bucket once, and
    // the log attributes the recompute to the format break rather than
    // letting it read as universal input drift; the follow-up run settles
    import spark.implicits._
    val pages = SyntheticPages.fromDocuments(spark, "/root/testdata/sf0.001").cache()
    val out = freshDir()
    Checkpoint.run(pages, out, ParquetIO, conf, "v2-run", numBuckets = 8)
    val m = spark.read.parquet(Checkpoint.manifestPath(out)).collect()
    val old = m.map(r => (r.getAs[Int]("bucket"), r.getAs[Long]("input_fingerprint") ^ 0x5aL,
      r.getAs[Long]("rows_in"), r.getAs[Long]("bytes_in"), r.getAs[Long]("rows_out"),
      r.getAs[String]("job_run_id"), r.getAs[Long]("committed_seq"), 1))
      .toSeq.toDF("bucket", "input_fingerprint", "rows_in", "bytes_in",
        "rows_out", "job_run_id", "committed_seq", "fp_version")
    old.write.mode("overwrite").parquet(Checkpoint.manifestPath(out))

    val (s, logged) = capturingLog(
      Checkpoint.run(pages, out, ParquetIO, conf, "after-break", numBuckets = 8))
    assert(s.bucketsPending == s.bucketsTotal,
      s"formula break must recompute all buckets: $s")
    assert(logged.exists(m => m.contains("fingerprint version") &&
        m.contains("8 pending bucket(s)")),
      s"recompute must be labeled as a format break, got: $logged")

    val s2 = Checkpoint.run(pages, out, ParquetIO, conf, "settled", numBuckets = 8)
    assert(s2.bucketsPending == 0, s"second run must settle: $s2")
    pages.unpersist()
  }
}
