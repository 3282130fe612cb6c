package perfbench

import java.lang.management.ManagementFactory
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.html.Boilerplate
import graft.io.{ParquetIO, TableIO}
import graft.model.Profiles
import graft.ops.{Dedup, TextStats}
import graft.pdf.{PdfExtractor, PdfObjects}
import graft.pipeline.{Checkpoint, Extract, Kernel, Salting}
import graft.text.Charsets

/** A timed interval around a call into one layer. Times are epoch
  * milliseconds, comparable with Spark's listener event times.
  */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Keeps spans in memory. The open span's id travels to Spark jobs as a
  * local property, so the listener can hang each job under its span.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 1
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def span[T](name: String, runId: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0)
    open = id :: open
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val start = nowMs
    try f finally {
      spans += Span(id, name, parent, runId, start, nowMs)
      open = open.tail
      sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.toString).orNull)
    }
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def seconds(name: String, runId: String = "probe"): Double =
    spans.filter(s => s.name == name && s.runId == runId).map(_.seconds).sum
}

object Tracer { val SpanKey = "perfbench.span" }

/** Per-job and per-stage counters, keyed by the span the job ran under. */
final case class JobRec(id: Int, span: Int, name: String, startMs: Long,
                        var endMs: Long, stages: Seq[Int])
final case class StageRec(runS: Double, cpuS: Double, gcS: Double, shuffleWriteB: Long,
                          spillB: Long, tasks: Int)

final class StageListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.HashMap[Int, StageRec]()
  val taskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  private val markers = mutable.HashSet[String]()
  private val markerJobs = mutable.HashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    p.flatMap(x => Option(x.getProperty(StageListener.MarkerKey))).foreach(markerJobs(e.jobId) = _)
    val span = p.flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toInt).getOrElse(0)
    val name = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = JobRec(e.jobId, span, name, e.time, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    markerJobs.remove(e.jobId).foreach(markers += _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages(i.stageId) = StageRec(m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
        m.jvmGCTime / 1e3, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, i.numTasks)
  }

  /** Blocks until every event posted before this call has been delivered:
    * runs a marker job and waits for its end event.
    */
  def drain(sc: SparkContext): Unit = {
    val token = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(StageListener.MarkerKey, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(StageListener.MarkerKey, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!synchronized(markers(token)) && System.nanoTime() < deadline) Thread.sleep(2)
  }
}

object StageListener { val MarkerKey = "perfbench.marker" }

/** [[ParquetIO]] with a span around every call the checkpoint makes. */
final class TracingIO(t: Tracer, runId: String) extends TableIO {
  def read(spark: SparkSession, table: String): DataFrame =
    t.span("io.read", runId)(ParquetIO.read(spark, table))
  override def readEvolving(spark: SparkSession, table: String): DataFrame =
    t.span("io.manifest_read", runId)(ParquetIO.readEvolving(spark, table))
  def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    t.span(if (table.endsWith("/manifest")) "io.manifest_write" else "io.write", runId)(
      ParquetIO.write(df, table, mode))
  def overwritePartitions(df: DataFrame, table: String, partitionCol: String): Unit =
    t.span("io.data_write", runId)(ParquetIO.overwritePartitions(df, table, partitionCol))
  def deletePartitions(spark: SparkSession, table: String, partitionCol: String,
                       keys: Seq[Int]): Unit =
    t.span("io.delete_partitions", runId)(ParquetIO.deletePartitions(spark, table, partitionCol, keys))
  def exists(spark: SparkSession, table: String): Boolean =
    t.span("io.exists", runId)(ParquetIO.exists(spark, table))
}

/** The traced pass: the workload's job without and with spans, then one
  * probe per layer, each a call into that layer's public function. Emits
  * the per-layer metrics into `out`, writes the spans to
  * `<work>/spans.jsonl` and returns the untraced and the traced runs.
  */
object Trace {
  def run(spark: SparkSession, w: Workload, slots: Int, seed: Long,
          work: String, out: mutable.Map[String, Any]): (Seq[Outcome], Seq[Outcome]) = {
    val sc = spark.sparkContext
    val t = new Tracer(sc)
    val listener = new StageListener
    val m = mutable.LinkedHashMap[String, (Double, String)]()
    val context = mutable.LinkedHashMap[String, (Double, String)]()
    def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
    def note(name: String, value: Double, unit: String): Unit = context(name) = (value, unit)

    // the workload's own job without and with tracing, interleaved A B A
    // so that JIT warm-up still under way weighs on both sides alike:
    // overhead, attribution, Spark counters
    val untraced, traced = mutable.ArrayBuffer[Outcome]()
    def plain(i: Int): Unit = untraced += w.runOnce(ParquetIO, s"run-$i")
    def spanned(i: Int): Unit = {
      sc.addSparkListener(listener)
      w.tracer = Some(t)
      try traced += w.runOnce(new TracingIO(t, s"traced-$i"), s"traced-$i")
      finally {
        w.tracer = None
        listener.drain(sc)
        sc.removeSparkListener(listener)
      }
    }
    plain(0); spanned(0); plain(1)
    sc.addSparkListener(listener)
    val jobSpans = t.named("job")
    // samples run.py reduces to metrics by their median
    val samples = mutable.LinkedHashMap[String, Seq[Double]](
      "untraced_job_s" -> untraced.filter(_.ok).map(_.jobS).toSeq,
      "traced_job_s" -> traced.filter(_.ok).map(_.jobS).toSeq,
      "trace.unattributed_share" -> jobSpans.map(js => unattributed(js, t, listener)))
    val jobIds = listener.synchronized {
      listener.jobs.values.filter(j => underAny(j.span, jobSpans.map(_.id).toSet, t)).map(_.id).toSeq
    }
    sparkCounters(listener, jobIds, jobSpans.size, put)

    // kernel layers, single-threaded over a seeded sample of the input
    val pages = ParquetIO.read(spark, w.pagesDir)
    val kernelModelS = kernelProbe(pages, seed, slots, put, note)

    // extraction and salting: the kernel stage into a no-op sink
    val heavy = t.span("salting.detect", "probe")(Salting.detectHeavyHosts(pages))
    put("salting.detect_s", t.seconds("salting.detect"), "s")
    note("salting.heavy_hosts", heavy.size, "count")
    t.span("extract.noop_sink", "probe") {
      Extract.runWithHosts(pages.select("url", "html"), Profiles.Balanced, heavy).toDF()
        .write.format("noop").mode("overwrite").save()
    }
    listener.drain(sc)
    val noopS = t.seconds("extract.noop_sink")
    put("extract.noop_sink_s", noopS, "s")
    samples("extract.task_ms") = busiestStageTaskMs(listener, t.named("extract.noop_sink").head.id)
    put("trace.kernel_model_s", kernelModelS, "s")
    put("trace.reconcile_ratio", kernelModelS / noopS, "ratio")

    // io: one traced checkpoint run of the same input into an empty output
    val probeOut = s"$work/probe_out"
    Files.delete(probeOut)
    t.span("checkpoint.run", "probe") {
      Checkpoint.run(pages, probeOut, new TracingIO(t, "probe"), Profiles.Balanced, "probe",
        Corpus.NumBuckets)
    }
    val written = Files.parquetFiles(probeOut)
    put("io.data_write_s", t.seconds("io.data_write") - noopS, "s")
    put("io.manifest_write_s", t.seconds("io.manifest_write"), "s")
    put("io.files_written", written.size, "count")
    put("io.mb_written", written.values.sum / 1048576.0, "MB")
    val statuses = ParquetIO.read(spark, Checkpoint.dataPath(probeOut))
      .agg(avg(when(col("status") === "error", 1.0).otherwise(0.0))).collect()
    put("extract.error_doc_share", statuses(0).getDouble(0), "ratio")
    Files.delete(probeOut)

    // checkpoint: fingerprinting the input, and the workload's committed output
    t.span("checkpoint.fingerprint", "probe")(Checkpoint.fingerprints(pages, Corpus.NumBuckets).collect())
    put("checkpoint.fingerprint_s", t.seconds("checkpoint.fingerprint"), "s")
    val manifest = t.span("checkpoint.manifest_read", "probe") {
      ParquetIO.readEvolving(spark, Checkpoint.manifestPath(w.outDir)).collect()
    }
    put("checkpoint.manifest_read_s", t.seconds("checkpoint.manifest_read"), "s")
    put("checkpoint.manifest_rows", manifest.length, "count")
    val copy = s"$work/tombstone"
    Files.delete(copy)
    Files.copyTree(Checkpoint.dataPath(w.outDir), copy)
    val bucket = new java.io.File(copy).list().filter(_.startsWith("bucket=")).min.stripPrefix("bucket=")
    t.span("checkpoint.tombstone", "probe") {
      ParquetIO.deletePartitions(spark, copy, "bucket", Seq(bucket.toInt))
    }
    Files.delete(copy)
    put("checkpoint.tombstone_s", t.seconds("checkpoint.tombstone"), "s")
    val reextracted = w.lastRun("rows_reextracted")
    val drifted = w.lastRun("drifted_rows")
    // fixed by the input on a cold run (every bucket pending, every row
    // re-extracted), so context rather than metrics; they vary on a resume
    note("checkpoint.buckets_pending", w.lastRun("buckets_pending"), "count")
    note("checkpoint.rows_reextracted", reextracted, "count")
    note("checkpoint.drifted_rows", drifted, "count")
    note("checkpoint.useful_reextract_ratio", drifted / reextracted, "ratio")

    dedupProbes(spark, t, w.outDir, put, note)
    listener.drain(sc)
    sc.removeSparkListener(listener)
    writeSpans(t, listener, s"$work/spans.jsonl")
    def render(xs: mutable.LinkedHashMap[String, (Double, String)]) =
      xs.map { case (k, (v, u)) => k -> Map("value" -> Some(v).filterNot(_.isNaN), "unit" -> u) }.toMap
    out("per_layer") = render(m)
    out("context") = render(context)
    out("samples") = samples
    (untraced.toSeq, traced.toSeq)
  }

  /** Share of a traced job's wall time covered by no child span: neither
    * a call the job made into `io` nor a Spark job it ran directly.
    */
  private def unattributed(job: Span, t: Tracer, l: StageListener): Double = {
    val kids = t.spans.filter(_.parent == job.id).map(s => (s.startMs, s.endMs)) ++
      l.synchronized(l.jobs.values.filter(_.span == job.id).map(j => (j.startMs.toDouble, j.endMs.toDouble)))
    val clipped = kids.map { case (a, b) => (math.max(a, job.startMs), math.min(b, job.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var reach = job.startMs
    clipped.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    1.0 - covered / (job.endMs - job.startMs)
  }

  private def underAny(span: Int, roots: Set[Int], t: Tracer): Boolean = {
    val parent = t.spans.iterator.map(s => s.id -> s.parent).toMap
    var s = span
    while (s != 0 && !roots(s)) s = parent.getOrElse(s, 0)
    s != 0
  }

  private def sparkCounters(l: StageListener, jobIds: Seq[Int], runs: Int,
                            put: (String, Double, String) => Unit): Unit = l.synchronized {
    val stageIds = jobIds.flatMap(l.jobs(_).stages).distinct
    val st = stageIds.flatMap(l.stages.get)
    val n = math.max(runs, 1).toDouble
    put("spark.executor_run_s", st.map(_.runS).sum / n, "s")
    put("spark.executor_cpu_s", st.map(_.cpuS).sum / n, "s")
    put("spark.gc_s", st.map(_.gcS).sum / n, "s")
    put("spark.shuffle_write_mb", st.map(_.shuffleWriteB).sum / 1048576.0 / n, "MB")
    put("spark.spill_mb", st.map(_.spillB).sum / 1048576.0 / n, "MB")
    put("spark.tasks", st.map(_.tasks).sum / n, "count")
    put("spark.jobs", jobIds.size / n, "count")
  }

  /** Task times (ms) of the busiest stage run under `span`. */
  private def busiestStageTaskMs(l: StageListener, span: Int): Seq[Double] = l.synchronized {
    val stageIds = l.jobs.values.filter(_.span == span).flatMap(_.stages).toSeq
    val busiest = stageIds.filter(l.stages.contains).maxByOption(l.stages(_).runS)
    busiest.flatMap(l.taskMs.get).map(_.map(_.toDouble).toSeq).getOrElse(Nil)
  }

  private val Threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** µs and allocated KB per document of `f` over `docs`, single-threaded
    * on the driver, after 100 ms of warm-up passes.
    */
  private def perDoc[A](docs: Seq[A])(f: A => Any): (Double, Double) = {
    if (docs.isEmpty) return (Double.NaN, Double.NaN)
    val warm = System.nanoTime()
    while (System.nanoTime() - warm < 100000000L) docs.foreach(f)
    var passes = 0
    val a0 = Threads.getCurrentThreadAllocatedBytes
    val t0 = System.nanoTime()
    while (passes < 3 || (System.nanoTime() - t0 < 200000000L && passes < 500)) {
      docs.foreach(f)
      passes += 1
    }
    val n = passes.toDouble * docs.size
    ((System.nanoTime() - t0) / 1e3 / n, (Threads.getCurrentThreadAllocatedBytes - a0) / 1024.0 / n)
  }

  /** Kernel layers per route over a seeded sample; returns the kernel-only
    * model of the extraction stage: Σ route µs/doc × route docs ÷ slots.
    */
  private def kernelProbe(pages: DataFrame, seed: Long, slots: Int,
                          put: (String, Double, String) => Unit,
                          note: (String, Double, String) => Unit): Double = {
    val all = pages.select("url", "html").collect().map(r => (Corpus.route(r.getString(0)), r.getAs[Array[Byte]](1)))
    val byRoute = all.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    val rng = new SplittableRandom(seed ^ 0x2545f491L)
    val sample = Corpus.Routes.map { r =>
      r -> Corpus.shuffled(byRoute.getOrElse(r, Seq.empty), rng).take(Trace.SamplePerRoute)
    }.toMap
    var model = 0.0
    Corpus.Routes.foreach { r =>
      val (us, kb) = perDoc(sample(r))(Kernel.extractOne)
      val docs = byRoute.getOrElse(r, Seq.empty).size
      put(s"kernel.$r.us_per_doc", us, "us")
      put(s"kernel.$r.alloc_kb_per_doc", kb, "KB")
      note(s"kernel.$r.doc_share", docs.toDouble / all.length, "ratio")
      if (docs > 0) model += us * docs
    }
    val html = sample("html")
    put("text.decode.us_per_doc", perDoc(html)(Charsets.decode)._1, "us")
    val decoded = html.map(Charsets.decode)
    put("html.segment.us_per_doc", perDoc(decoded)(d => Boilerplate.extractDecoded(d._2, d._1))._1, "us")
    val pdfs = Seq("pdf_native", "pdf_encrypted", "pdf_scanned", "pdf_error").flatMap(sample)
    put("pdf.parse.us_per_doc", perDoc(pdfs)(PdfObjects.parseAll)._1, "us")
    def beyondParse(docs: Seq[Array[Byte]]) =
      perDoc(docs)(PdfExtractor.extract)._1 - perDoc(docs)(PdfObjects.parseAll)._1
    put("pdf.layout.us_per_doc", beyondParse(sample("pdf_native") ++ sample("pdf_encrypted")), "us")
    put("ocr.page.us_per_doc", beyondParse(sample("pdf_scanned")), "us")
    model / slots / 1e6
  }

  val SamplePerRoute = 40

  /** The curation layers over `(doc_id, text)` of the committed output. */
  private def dedupProbes(spark: SparkSession, t: Tracer, outDir: String,
                          put: (String, Double, String) => Unit,
                          note: (String, Double, String) => Unit): Unit = {
    val docs = ParquetIO.read(spark, Checkpoint.dataPath(outDir)).select("doc_id", "text")
    val keyed = docs.select(xxhash64(col("doc_id")).as("cid"), col("text"))
    val scratch = t.span("dedup.scratch", "probe") {
      val s = Dedup.shingleSigSets(keyed, "cid", "text").persist()
      s.count()
      s
    }
    val pairs = t.span("dedup.banding", "probe") {
      val p = Dedup.bandedPairs(scratch.select("id", "sig")).persist()
      p.count()
      p
    }
    val candidates = pairs.count()
    val verified = t.span("dedup.verify", "probe") {
      Dedup.jaccardVerify(pairs, scratch, minEstJaccard = 0.3).collect()
    }
    pairs.unpersist()
    scratch.unpersist()
    val dups = verified.filter(_.getDouble(2) >= CurateReference.DupTau)
    t.span("textstats.score", "probe") {
      docs.select(TextStats.qualityScore(col("text")), TextStats.langId(col("text")))
        .write.format("noop").mode("overwrite").save()
    }
    put("dedup.scratch_s", t.seconds("dedup.scratch"), "s")
    put("dedup.banding_s", t.seconds("dedup.banding"), "s")
    put("dedup.candidate_pairs", candidates.toDouble, "count")
    put("dedup.verify_s", t.seconds("dedup.verify"), "s")
    note("dedup.dup_pairs", dups.length, "count")
    put("dedup.useful_pair_ratio", dups.length.toDouble / math.max(candidates, 1L), "ratio")
    put("textstats.score_s", t.seconds("textstats.score"), "s")
    note("curate.losers", dups.map(_.getLong(1)).distinct.length, "count")
  }

  private def writeSpans(t: Tracer, l: StageListener, path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      t.spans.sortBy(_.startMs).foreach { s =>
        w.println(Json.write(Map("kind" -> "span", "id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "run_id" -> s.runId, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      }
      l.synchronized(l.jobs.values.foreach { j =>
        w.println(Json.write(Map("kind" -> "spark_job", "id" -> j.id, "name" -> j.name,
          "parent" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs)))
      })
    } finally w.close()
  }
}
