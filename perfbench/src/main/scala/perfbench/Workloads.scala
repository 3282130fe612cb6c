package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{ParquetIO, TableIO}
import graft.model.Profiles
import graft.ops.{Curation, Dedup, TextStats}
import graft.pipeline.{Checkpoint, Extract}

/** One timed job: its wall time, what its output check found wrong (empty
  * when the output is correct) and counts read off the output.
  */
final case class Outcome(jobS: Double, problems: Seq[String], facts: Map[String, Double]) {
  def ok: Boolean = problems.isEmpty
}

/** Set-up time is wall time minus the time spent checking outputs: the
  * checks are the benchmark's, not the program's.
  */
object Clock {
  private var excludedNs = 0L
  def excluded: Long = excludedNs
  def untimed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally excludedNs += System.nanoTime() - t0
  }
}

/** A workload: inputs made from the seed under `dir`, and a job that is
  * run, timed and checked once per call of [[runOnce]].
  */
abstract class Workload(val spark: SparkSession, val dir: String, val seed: Long) {
  def name: String
  /** Input documents of one job. */
  def docs: Long
  /** Checked runs before timing starts. In a fresh JVM the first
    * extraction job runs about 2.5 times slower than a warm one and the
    * second about 1.4 times; the first curation job about three times, and
    * the next few keep getting faster.
    */
  def warmupRuns: Int = 2
  /** Builds the inputs from the seed: documents and pages tables. Runs
    * once per set-up round.
    */
  def inputs(): Unit
  /** Builds what the job starts from beyond its inputs (a committed
    * output), then [[reload]]s. Runs once, in the first set-up round.
    */
  def snapshot(): Unit = reload()
  /** Derives the check state (expected counts, references) from the
    * inputs and snapshot already on disk: the 1-slot pass reuses the files
    * the 4-slot pass made.
    */
  def reload(): Unit = ()
  /** Restores per-run state (untimed), runs the job (timed, through `io`
    * where the job writes tables) and checks its output (untimed).
    */
  def runOnce(io: TableIO, runId: String): Outcome
  /** Pages table the job reads; the extraction probes read it too. */
  def pagesDir: String
  /** Checkpoint output holding the last committed extraction. */
  def outDir: String = s"$dir/out"
  /** Re-extraction counts of the last checkpoint run this workload made. */
  var lastRun: Map[String, Double] = Map.empty

  /** `drifted` counts the input rows whose content the run had not
    * committed before: every row on an empty output.
    */
  protected def noteRun(s: Checkpoint.RunSummary, facts: Map[String, Double],
                        drifted: Double): Unit =
    lastRun = Map("buckets_pending" -> s.bucketsPending.toDouble,
      "rows_reextracted" -> facts("rows_reextracted"), "drifted_rows" -> drifted)
  /** When set, the timed part of each run is a `job` span. */
  var tracer: Option[Tracer] = None

  /** Times `f` after a full collection, so the heap peak read after each
    * collection during `f` counts what `f` keeps and promotes, not garbage
    * earlier runs left in the old generation.
    */
  protected def timed[T](runId: String)(f: => T): (Double, T) = {
    Clock.untimed(System.gc())
    val t0 = System.nanoTime()
    val r = Heap.during(tracer.fold(f)(_.span("job", runId)(f)))
    ((System.nanoTime() - t0) / 1e9, r)
  }

  protected val docsDir = s"$dir/docs"
  protected val corpusPages = s"$dir/pages"

  protected def writeCorpus(): Unit = {
    expectedByInput.clear()
    Corpus.writeDocuments(spark, docsDir, seed, variant = 0)
    Corpus.writePages(spark, docsDir, corpusPages)
  }

  protected def checkpointRun(input: String, out: String, io: TableIO,
                              runId: String): (Double, Checkpoint.RunSummary) =
    timed(runId) {
      Checkpoint.run(ParquetIO.read(spark, input), out, io, Profiles.Balanced,
        runId, Corpus.NumBuckets)
    }

  /** (url, text) of each input pages table the checks met, as a local
    * table, with its urls: the checks read an input once per workload and
    * an output once per run, and join on the driver.
    */
  private val expectedByInput = mutable.HashMap[String, (DataFrame, Set[String])]()

  private def localCopy(df: DataFrame): (DataFrame, Array[Row]) = {
    val rows = df.collect()
    (spark.createDataFrame(rows.toSeq.asJava, df.schema), rows)
  }

  /** Output check of a checkpoint run into `out` whose input was the pages
    * table at `input`: every input url is present once, every text equals
    * its golden (`Extract.goldenMismatches`), and the rows measured per
    * bucket equal the manifest's `rows_in` for every active bucket.
    */
  private[perfbench] def checkExtract(out: String, input: String,
                             before: Map[String, Long]): (Seq[String], Map[String, Double]) = {
    val problems = mutable.ArrayBuffer[String]()
    val (expected, expectedUrls) = expectedByInput.getOrElseUpdate(input, {
      val (df, rows) = localCopy(ParquetIO.read(spark, input).select("url", "text"))
      (df, rows.map(_.getString(0)).toSet)
    })
    val (data, rows) = localCopy(ParquetIO.read(spark, Checkpoint.dataPath(out))
      .select("url", "bucket", "status", "text"))
    val urls = rows.map(_.getString(0))
    val seen = urls.toSet
    val missing = expectedUrls.count(!seen(_))
    val extra = urls.count(!expectedUrls(_)) + (urls.length - seen.size)
    val measured = rows.groupBy(_.getInt(1)).map { case (b, rs) => b -> rs.length.toLong }
    val rowsOut = rows.length.toLong
    val errorRows = rows.count(_.getString(2) == "error")
    val manifest = ParquetIO.readEvolving(spark, Checkpoint.manifestPath(out))
      .select("bucket", "rows_in", "committed_seq").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val latest = manifest.groupBy(_._1).map { case (b, rs) => b -> rs.maxBy(_._3) }
    val active = latest.collect { case (b, (_, rowsIn, _)) if rowsIn > 0 => b -> rowsIn }
    val badBuckets = (active.keySet ++ measured.keySet).count(b => active.get(b) != measured.get(b))
    if (badBuckets > 0)
      problems += s"$badBuckets bucket(s) hold a row count other than the manifest's rows_in"
    val mismatches = Extract.goldenMismatches(data, expected).count()
    if (mismatches > 0) problems += s"$mismatches golden mismatch(es)"
    if (missing > 0 || extra > 0 || rowsOut != expectedUrls.size)
      problems += s"output holds $rowsOut rows for ${expectedUrls.size} input rows " +
        s"($missing input urls missing, $extra urls not in the input)"
    val newestSeq = if (manifest.isEmpty) 0L else manifest.map(_._3).max
    (problems.toSeq, Map(
      "golden_mismatches" -> mismatches.toDouble,
      "error_doc_share" -> (if (rowsOut == 0) 0.0 else errorRows.toDouble / rowsOut),
      "output_files" -> (Files.parquetFiles(out).keySet -- before.keySet).size.toDouble,
      "rows_reextracted" -> manifest.filter(m => m._3 == newestSeq && m._2 > 0).map(_._2).sum.toDouble))
  }
}

/** `extract_cold`: the full checkpointed extraction into an empty output. */
final class ExtractCold(spark: SparkSession, dir: String, seed: Long)
    extends Workload(spark, dir, seed) {
  val name = "extract_cold"
  def pagesDir: String = corpusPages
  def docs: Long = Corpus.BaseDocs.toLong * Corpus.Replicas

  def inputs(): Unit = writeCorpus()

  def runOnce(io: TableIO, runId: String): Outcome = {
    Clock.untimed(Files.delete(outDir))
    val (jobS, s) = checkpointRun(pagesDir, outDir, io, runId)
    Clock.untimed {
      val (problems, facts) = checkExtract(outDir, pagesDir, Map.empty)
      noteRun(s, facts, s.rowsIn.toDouble)
      Outcome(jobS, problems, facts)
    }
  }
}

/** `extract_resume`: the same job over a re-crawl, started from a restored
  * copy of a committed cold output.
  */
final class ExtractResume(spark: SparkSession, dir: String, seed: Long)
    extends Workload(spark, dir, seed) {
  val name = "extract_resume"
  private val variantDocs = s"$dir/docs_recrawl"
  private val recrawl = s"$dir/recrawl"
  private val snapshotDir = s"$dir/snapshot"
  var drifted: Seq[Int] = Nil
  var vanished = -1
  private var driftedRows = 0L
  private var inputRows = 0L
  def pagesDir: String = recrawl
  def docs: Long = inputRows

  def inputs(): Unit = {
    writeCorpus()
    Corpus.writeDocuments(spark, variantDocs, seed, variant = 1)
    val (d, v) = Corpus.resumeBuckets(spark, corpusPages, seed)
    Corpus.writeRecrawl(spark, corpusPages, variantDocs, d, v, recrawl)
  }

  override def snapshot(): Unit = {
    Files.delete(snapshotDir)
    checkpointRun(corpusPages, snapshotDir, ParquetIO, "snapshot")
    Clock.untimed {
      val (problems, _) = checkExtract(snapshotDir, corpusPages, Map.empty)
      require(problems.isEmpty, s"snapshot output failed its check: ${problems.mkString("; ")}")
      reload()
    }
  }

  override def reload(): Unit = {
    val (d, v) = Corpus.resumeBuckets(spark, corpusPages, seed)
    drifted = d
    vanished = v
    driftedRows = Corpus.driftedRows(ParquetIO.read(spark, corpusPages),
      ParquetIO.read(spark, recrawl))
    inputRows = ParquetIO.read(spark, recrawl).count()
  }

  def runOnce(io: TableIO, runId: String): Outcome = {
    val before = Clock.untimed {
      Files.delete(outDir)
      Files.copyTree(snapshotDir, outDir)
      Files.parquetFiles(outDir)
    }
    val (jobS, s) = checkpointRun(recrawl, outDir, io, runId)
    Clock.untimed {
      val (problems0, facts) = checkExtract(outDir, recrawl, before)
      val problems = mutable.ArrayBuffer(problems0: _*)
      if (s.bucketsPending != drifted.size)
        problems += s"${s.bucketsPending} pending buckets, expected ${drifted.size}"
      if (Files.exists(s"${Checkpoint.dataPath(outDir)}/bucket=$vanished"))
        problems += s"vanished bucket $vanished was not tombstoned"
      noteRun(s, facts, driftedRows.toDouble)
      Outcome(jobS, problems.toSeq, facts)
    }
  }
}

/** `curate`: `Curation.curate` over `(doc_id, text)` of a committed cold
  * output. Checked against an exact reference built once per seed.
  */
final class Curate(spark: SparkSession, dir: String, seed: Long, recorded: Option[String])
    extends Workload(spark, dir, seed) {
  val name = "curate"
  override def warmupRuns: Int = 4
  private val input = s"$dir/curate_in"
  def pagesDir: String = corpusPages
  def docs: Long = Corpus.BaseDocs.toLong * Corpus.Replicas
  private var reference: CurateReference = _
  /** Digest of the first checked run; every later run must repeat it. */
  var digest: Option[String] = None
  var lastVerdicts: Array[(String, String)] = Array.empty
  private[perfbench] def check(verdicts: Array[(String, String)]): Seq[String] =
    reference.check(verdicts)

  def inputs(): Unit = writeCorpus()

  override def snapshot(): Unit = {
    Files.delete(outDir)
    val (_, s) = checkpointRun(corpusPages, outDir, ParquetIO, "curate-input")
    ParquetIO.read(spark, Checkpoint.dataPath(outDir)).select("doc_id", "text")
      .write.mode("overwrite").parquet(Files.writable(input))
    Clock.untimed {
      val (problems, facts) = checkExtract(outDir, corpusPages, Map.empty)
      require(problems.isEmpty, s"curate input failed its check: ${problems.mkString("; ")}")
      noteRun(s, facts, s.rowsIn.toDouble)
      reload()
    }
  }

  override def reload(): Unit = reference = CurateReference.build(spark, input)

  def runOnce(io: TableIO, runId: String): Outcome = {
    val (jobS, verdicts) = timed(runId) {
      Curation.curate(ParquetIO.read(spark, input))
        .select("doc_id", "verdict").collect().map(r => (r.getString(0), r.getString(1)))
    }
    Clock.untimed {
      lastVerdicts = verdicts
      val problems = mutable.ArrayBuffer(reference.check(verdicts): _*)
      val d = CurateReference.digest(verdicts)
      if (digest.exists(_ != d)) problems += s"verdict digest $d differs from the first run's ${digest.get}"
      if (recorded.exists(_ != d)) problems += s"verdict digest $d differs from the recorded ${recorded.get}"
      if (digest.isEmpty && problems.isEmpty) digest = Some(d)
      Outcome(jobS, problems.toSeq, Map(
        "losers" -> verdicts.count(_._2 == "dup").toDouble))
    }
  }
}

/** Exact reference for curation verdicts. Duplicate detection is exact
  * n-gram Jaccard over every pair sharing a shingle; the program finds
  * pairs by MinHash banding, so a pair between `dupTau` and 0.9 may be
  * missed. A `dup` verdict needs an exact partner at ≥ `dupTau` with a
  * smaller key; a doc with a smaller-keyed partner at ≥ 0.9 must be `dup`
  * unless its text is repeated so often that banding's bucket cap drops
  * it; every other verdict must follow the quality/language rules.
  */
final class CurateReference(ids: Array[String], bestSmaller: Array[Double],
                            crowded: Array[Boolean], rule: Array[String]) {
  private val index = ids.zipWithIndex.toMap

  def check(verdicts: Array[(String, String)]): Seq[String] = {
    val problems = mutable.ArrayBuffer[String]()
    if (verdicts.length != ids.length)
      problems += s"${verdicts.length} verdicts for ${ids.length} documents"
    val seen = new Array[Boolean](ids.length)
    var unknown, wrong = 0
    verdicts.foreach { case (id, v) =>
      index.get(id) match {
        case None => unknown += 1
        case Some(i) =>
          if (seen(i)) unknown += 1
          seen(i) = true
          val fine =
            if (v == "dup") bestSmaller(i) >= CurateReference.DupTau
            else !(bestSmaller(i) >= CurateReference.SureDup && !crowded(i)) && v == rule(i)
          if (!fine) wrong += 1
      }
    }
    if (unknown > 0) problems += s"$unknown verdict(s) for unknown or repeated doc_ids"
    if (wrong > 0) problems += s"$wrong verdict(s) disagree with the exact reference"
    problems.toSeq
  }
}

object CurateReference {
  val DupTau = 0.5
  val SureDup = 0.9
  val MinQuality = 60.0
  private val BucketCap = 32

  def build(spark: SparkSession, input: String): CurateReference = {
    val rows = ParquetIO.read(spark, input)
      .select(col("doc_id"), xxhash64(col("doc_id")), col("text"),
        TextStats.qualityScore(col("text")), TextStats.langId(col("text")))
      .collect()
    val n = rows.length
    val ids = rows.map(_.getString(0))
    val keys = rows.map(_.getLong(1))
    val sh = rows.map(r => Dedup.shingleArray(r.getString(2), 3))
    val rule = rows.map { r =>
      if (r.getDouble(3) < MinQuality) "low_quality"
      else if (r.getString(4) == "und") "lang" else "keep"
    }
    val postings = mutable.HashMap[Long, mutable.ArrayBuffer[Int]]()
    for (i <- 0 until n; h <- sh(i)) postings.getOrElseUpdate(h, mutable.ArrayBuffer()) += i
    val copies = sh.groupBy(a => a.toSeq).map { case (k, v) => k -> v.length }
    val crowded = sh.map(a => copies(a.toSeq) > BucketCap)
    val best = Array.fill(n)(0.0)
    val seen = new Array[Int](n)
    java.util.Arrays.fill(seen, -1)
    for (i <- 0 until n; h <- sh(i); j <- postings(h)) {
      if (seen(j) != i && keys(j) < keys(i)) {
        seen(j) = i
        val inter = Dedup.intersectSize(sh(i), sh(j))
        val jac = inter.toDouble / (sh(i).length + sh(j).length - inter)
        if (jac > best(i)) best(i) = jac
      }
    }
    new CurateReference(ids, best, crowded, rule)
  }

  /** Order-independent digest of (doc_id, verdict) pairs. */
  def digest(verdicts: Array[(String, String)]): String = {
    import scala.util.hashing.MurmurHash3
    var sum = 0L
    verdicts.foreach { case (id, v) =>
      val s = id + "\u0000" + v
      sum += (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
    }
    f"$sum%016x-${verdicts.length}%d"
  }
}
