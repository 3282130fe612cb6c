package graft.pipeline

import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.TableIO
import graft.model.PipelineConf

/** Exactly-once resumable extraction (north_rule: "resumable from checkpoint
  * with per-partition lineage + metrics"; SURVEY §7.2 step 8).
  *
  * Unit of commit = a URL-hash bucket (`pmod(xxhash64(url), numBuckets)`),
  * stable across runs and cluster sizes (unlike task partition ids). Each
  * bucket carries an order-independent, content-sensitive input
  * fingerprint (xxhash64 over the bucket's xor and decimal SUM of per-row
  * `xxhash64(url, html)`, compared together with rows_in) so resume
  * detects input drift — content changes, additions, deletions, duplicate
  * multiplicity — not just presence.
  *
  * Protocol (Parquet mode; Iceberg swaps in snapshot commits via TableIO):
  *   1. read manifest (if any) → committed (bucket, fingerprint) pairs;
  *   2. fingerprint current input per bucket; a bucket is DONE iff its
  *      manifest fingerprint equals the current one;
  *   3. extract only pending buckets, after one shuffle keyed on the
  *      bucket ([[placeByBucket]]): a bucket is extracted and written by
  *      one task (several when buckets are fewer than tasks), so each task
  *      opens one writer per bucket it holds and a cold run writes one
  *      data file per bucket. Write with dynamic partition overwrite keyed
  *      by bucket (idempotent under task retry AND under whole-job replay —
  *      a half-written bucket is simply overwritten);
  *   4. append manifest rows LAST (data-then-manifest ordering: a crash
  *      between 3 and 4 re-runs the bucket, never skips it).
  *
  * The reference's closest analogue is the status lifecycle
  * uploaded→processing→processed/error (models/common.py:13-20) held in an
  * in-memory dict (routers/files.py:70) that loses state on restart — the
  * manifest is that lifecycle made durable and partition-grained.
  */
object Checkpoint {

  private val log = LogManager.getLogger(getClass.getName.stripSuffix("$"))

  /** Version of the bucket-fingerprint FORMULA (not the data): bumped
    * whenever [[fingerprints]] changes what it hashes. The stamp does NOT
    * gate commit validity — a stored fingerprint equal to the freshly
    * computed one proves it came from the current formula (two formulas
    * collide only at 2^-64 odds), so such buckets stay committed even
    * under an old/absent stamp (e.g. a manifest written after the formula
    * change but before this column existed). Its job is to LABEL the
    * recompute a formula change causes: mismatching buckets stamped with
    * a different version are logged as an explicit format break instead
    * of reading as universal input drift. v1 = xxhash64 over per-bucket
    * xor of xxhash64(url, length); v2 = xor + decimal-sum of
    * xxhash64(url, html) compared together with rows_in (content- and
    * multiplicity-sensitive). Manifests without the column read as v1.
    */
  val FingerprintVersion = 2

  final case class RunSummary(
    bucketsTotal: Int, bucketsPending: Int, bucketsCommitted: Int,
    rowsIn: Long, rowsOut: Long, bytesIn: Long)

  def dataPath(outDir: String) = s"$outDir/data"
  def manifestPath(outDir: String) = s"$outDir/manifest"

  def bucketCol(url: org.apache.spark.sql.Column, numBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(url), lit(numBuckets.toLong)).cast("int")

  /** Fingerprints of the CURRENT input, one row per bucket. The row hash
    * covers the CONTENT, not just (url, length): a re-crawled page whose
    * new payload happens to match the old length must still re-extract.
    * The bucket fingerprint hashes BOTH order-independent combiners of the
    * row hashes:
    *  - `bit_xor`: cheap, but two identical rows cancel (an in-place
    *    change of an even-multiplicity row group is invisible to it);
    *  - decimal(38,0) `sum`: multiplicity-sensitive and overflow-free
    *    under ANSI mode (a long sum of hashes would throw
    *    ARITHMETIC_OVERFLOW; 10^12 rows × 2^63 still fits 38 digits).
    * Resume additionally compares rows_in.
    */
  def fingerprints(pages: DataFrame, numBuckets: Int): DataFrame =
    pages.select(bucketCol(col("url"), numBuckets).as("bucket"),
        xxhash64(col("url"), col("html")).as("h"),
        length(col("html")).cast("long").as("bytes"))
      .groupBy("bucket")
      .agg(expr("bit_xor(h)").as("hx"),
        sum(col("h").cast("decimal(38,0)")).as("hs"),
        count(lit(1)).as("rows_in"),
        sum("bytes").as("bytes_in"))
      .select(col("bucket"),
        xxhash64(col("hx"), col("hs").cast("string")).as("input_fingerprint"),
        col("rows_in"), col("bytes_in"))

  /** Places rows that carry `bucket` and `url` on `partitions` (P) tasks
    * for the partitioned write. The i-th of the k sorted `buckets` owns
    * tasks [i·P/k, (i+1)·P/k), at least one. With k ≥ P each bucket lands
    * in exactly one task and is written as one file. With k < P a second
    * url hash spreads each bucket over ⌊P/k⌋ or ⌈P/k⌉ tasks, so the kernel
    * keeps P tasks and the write opens at most P files; that hash is
    * murmur3 `hash`, because the bucket's own xxhash64 is constant mod n
    * within a bucket. Buckets are ranked rather than used as task ids so
    * that a resume of a few pending buckets also runs on P tasks. A heavy
    * host needs no salt here: a bucket is a url hash, so the host's rows
    * already spread over every bucket.
    */
  def placeByBucket(rows: DataFrame, buckets: Seq[Int], partitions: Int): DataFrame = {
    val k = buckets.length.toLong
    val first = Array.fill(buckets.max + 1)(0)
    val span = Array.fill(buckets.max + 1)(1)
    buckets.sorted.zipWithIndex.foreach { case (b, i) =>
      first(b) = (i * partitions / k).toInt
      span(b) = math.max(((i + 1) * partitions / k).toInt - first(b), 1)
    }
    def at(a: Array[Int]) = element_at(typedLit(a.toSeq), col("bucket") + 1)
    rows.repartitionById(partitions, at(first) + pmod(hash(col("url")), at(span)))
  }

  /** Run or resume. Returns the summary; output lands at dataPath(outDir). */
  def run(pages: DataFrame, outDir: String, io: TableIO, conf: PipelineConf,
          jobRunId: String, numBuckets: Int = 64): RunSummary = {
    val spark = pages.sparkSession
    import spark.implicits._

    val fps = fingerprints(pages, numBuckets).cache()
    // latest manifest row per bucket wins (re-extraction overwrites);
    // a tombstone row (rows_in = 0) means the bucket was deleted — it is
    // NOT an active commit, so a reappearing bucket re-extracts
    val manifestRows: Array[(Int, Long, Long, Long, Int)] =
      if (io.exists(spark, manifestPath(outDir))) {
        val m = io.readEvolving(spark, manifestPath(outDir))
        // manifests (or individual manifest FILES — readEvolving surfaces
        // pre-addition rows as null) written before the version column
        // existed are v1
        val versioned =
          if (m.columns.contains("fp_version"))
            m.withColumn("fp_version", coalesce(col("fp_version"), lit(1)))
          else m.withColumn("fp_version", lit(1))
        versioned
          .select("bucket", "input_fingerprint", "committed_seq", "rows_in", "fp_version")
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      } else Array.empty
    val latestRows: Map[Int, (Long, Long, Int)] =
      manifestRows.groupBy(_._1).map { case (b, rows) =>
        val latest = rows.maxBy(_._3)
        b -> (latest._2, latest._4, latest._5)
      }
    // MONOTONIC ordering seq: max(existing) + 1, never wall clock — two runs
    // in the same millisecond or a clock step backwards must not let an
    // older manifest row win latest-wins (that would silently skip a
    // re-extraction, or order a tombstone before the commit it supersedes)
    val nextSeq = (if (manifestRows.isEmpty) 0L
                   else manifestRows.iterator.map(_._3).max) + 1L
    // commit validity is fingerprint EQUALITY with the freshly computed
    // value — regardless of the stamped fp_version: two formula versions
    // only ever produce the same 64-bit value for the same input by a
    // 2^-64 coincidence, so a matching stored fingerprint means it was in
    // fact computed under the current formula (e.g. written after the
    // formula change but before the version column existed, where the
    // stamp coalesces to 1). The version stamp's job is to LABEL the
    // recompute a formula change causes — making it read as an explicit
    // format break in the log rather than universal "input drift" — not
    // to force recomputing buckets whose fingerprints still match.
    val committed: Map[Int, (Long, Long)] =
      latestRows.collect { case (b, (fp, rowsIn, _))
        if rowsIn > 0 => b -> (fp, rowsIn) }

    val current = fps.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val pending = current.filter { case (b, fp, rows, _) =>
      !committed.get(b).contains((fp, rows)) }
    val pendingBuckets = pending.map(_._1).toSet
    val versionBreak = latestRows.count { case (b, (_, rowsIn, fpv)) =>
      rowsIn > 0 && fpv != FingerprintVersion && pendingBuckets.contains(b) }
    if (versionBreak > 0)
      log.warn(s"$versionBreak pending bucket(s) were " +
        s"committed under fingerprint version != $FingerprintVersion " +
        "(formula change): re-extracting them once under the current formula")

    // input DRIFT the pending check cannot see: a bucket committed earlier
    // whose rows are now entirely GONE from the input.
    //
    //  - An EMPTY input is treated as an upstream failure, not as "every
    //    row was deleted": deletion needs positive evidence (a non-empty
    //    input missing the bucket), otherwise a transient 0-row read would
    //    wipe the whole output.
    //  - Ordering is manifest-FIRST (claim the deletion), then delete the
    //    data: a crash in between leaves a tombstoned-but-present bucket,
    //    which the re-clean below removes on the next run. The commit path
    //    is the opposite (data-then-manifest) because there the benign
    //    crash artifact is orphan data, here it would be a manifest that
    //    still claims a commit for data we already deleted.
    val currentBuckets = current.map(_._1).toSet
    val staleBuckets =
      if (current.isEmpty) Nil
      else committed.keySet.diff(currentBuckets).toSeq.sorted
    if (staleBuckets.nonEmpty) {
      val tomb = staleBuckets.map(b => (b, 0L, 0L, 0L))
        .toDF("bucket", "input_fingerprint", "rows_in", "bytes_in")
        .withColumn("rows_out", lit(0L))
        .withColumn("job_run_id", lit(jobRunId))
        .withColumn("committed_seq", lit(nextSeq))
        .withColumn("fp_version", lit(FingerprintVersion))
      io.write(tomb, manifestPath(outDir), SaveMode.Append)
    }
    // re-clean: every latest-tombstoned bucket (incl. ones just written and
    // any whose delete crashed mid-flight last run) — idempotent and
    // bounded by tombstone cardinality
    val tombstoned = latestRows.collect { case (b, (_, rowsIn, _)) if rowsIn == 0 => b }
    val toClean = (staleBuckets ++ tombstoned).distinct.filterNot(currentBuckets)
    if (toClean.nonEmpty)
      io.deletePartitions(spark, dataPath(outDir), "bucket", toClean.sorted)

    if (pendingBuckets.nonEmpty) {
      val todo = pages.select(col("url"), col("html"),
          bucketCol(col("url"), numBuckets).as("bucket"))
        .where(col("bucket").isin(pendingBuckets.toSeq: _*))
      val placed =
        if (conf.shufflePartitions > 0)
          placeByBucket(todo, pendingBuckets.toSeq, conf.shufflePartitions)
        else todo // pre-partitioned input, as in Extract.run
      // the bucket is recomputed after the narrow kernel, in the same task
      val extracted = Extract.runNarrow(placed).toDF()
        .withColumn("bucket", bucketCol(col("url"), numBuckets))
      // 3: data first (dynamic overwrite per bucket — idempotent)
      io.overwritePartitions(extracted, dataPath(outDir), "bucket")

      // 4: manifest last (nextSeq + 1: commits outrank this run's tombstones)
      val manifest = pending.toSeq.toDF("bucket", "input_fingerprint", "rows_in", "bytes_in")
        .withColumn("rows_out", col("rows_in")) // kernel is total: one row out per row in
        .withColumn("job_run_id", lit(jobRunId))
        .withColumn("committed_seq", lit(nextSeq + 1L))
        .withColumn("fp_version", lit(FingerprintVersion))
      io.write(manifest, manifestPath(outDir), SaveMode.Append)
    }

    val rowsIn = current.map(_._3).sum
    val bytesIn = current.map(_._4).sum
    fps.unpersist()
    RunSummary(current.length, pending.length, current.length - pending.length,
      rowsIn, rowsIn, bytesIn)
  }
}
