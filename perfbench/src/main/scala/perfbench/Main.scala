package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import graft.io.ParquetIO

/** One benchmark pass in one JVM. `run.py` starts it and turns what it
  * prints into the benchmark's metrics.
  *
  * {{{
  * perfbench.Main <workload> <seed> <seconds> <mode> <slots> <workDir> <digests>
  * }}}
  *
  * `mode` is `measure` (set-up, then timed runs), `trace` (set-up, then
  * the traced pass of [[Trace]]), `scaling` (the 1-slot
  * pass: reuses the inputs a `trace` pass left in `workDir`, warms up,
  * one timed run) or `selftest` (the
  * checks of [[SelfTest]]; `workload` and `seconds` are ignored). `digests` is the file
  * of recorded curation digests. Prints one line `PERFBENCH {json}` with
  * the raw samples.
  */
object Main {
  val MinRuns = 4

  def main(args: Array[String]): Unit = {
    require(args.length == 7, "usage: Main <workload> <seed> <seconds> <mode> <slots> <workDir> <digests>")
    val Array(workload, seedS, secondsS, mode, slotsS, work, digests) = args
    require(Set("measure", "trace", "scaling", "selftest")(mode), s"unknown mode: $mode")
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val slots = slotsS.toInt
    Heap.install()
    val spark = session(slots, work)
    if (mode == "selftest") {
      val results = SelfTest.run(spark, work, seed)
      println("PERFBENCH " + Json.write(Map("selftest" -> results)))
      spark.stop()
      return
    }
    val dir = s"$work/data"
    val w = workload match {
      case "extract_cold" => new ExtractCold(spark, dir, seed)
      case "extract_resume" => new ExtractResume(spark, dir, seed)
      case "curate" => new Curate(spark, dir, seed, Recorded.digest(digests, seed))
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val out = mutable.LinkedHashMap[String, Any]()
    out ++= Seq("workload" -> w.name, "seed" -> seed, "slots" -> slots, "mode" -> mode)
    out("spark_conf") = spark.conf.getAll.filter { case (k, _) =>
      Seq("spark.master", "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
        "spark.sql.session.timeZone", "spark.ui.enabled").contains(k) }

    // set-up: wall time from JVM start to the first timed run, less the
    // output checks. It holds the JVM and Spark session start, the inputs,
    // the snapshot and the checked warm-up runs, so the timed runs see a
    // warm JIT. The 1-slot pass reuses the inputs a `trace` pass left.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val parts = mutable.LinkedHashMap[String, Double]()
    def part(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      val ex0 = Clock.excluded
      f
      parts(name) = (System.nanoTime() - t0 - (Clock.excluded - ex0)) / 1e9
    }
    parts("session") = (System.currentTimeMillis() - jvmStart) / 1e3
    if (mode == "scaling") part("reload")(w.reload())
    else {
      part("inputs")(w.inputs())
      part("snapshot")(w.snapshot())
    }
    // the traced and the 1-slot pass warm up less: together they must end
    // within one run's time limit
    val warmupRuns = mode match {
      case "measure" => w.warmupRuns
      case "trace" => math.min(w.warmupRuns, 2)
      case _ => 1
    }
    var warmup: Seq[Outcome] = Nil
    part("warmup") { warmup = measure(0, warmupRuns)(i => w.runOnce(ParquetIO, s"warmup-$i")) }
    out("setup_s") = (System.currentTimeMillis() - jvmStart) / 1e3 - Clock.excluded / 1e9
    out("setup_parts") = parts
    out("warmup_s") = warmup.map(_.jobS)

    Heap.reset()
    // the traced and the 1-slot pass time few runs: per-layer metrics
    // carry no bound, and a traced run must end within its time limit
    val (runs, traced) = mode match {
      case "measure" => (measure(seconds)(i => w.runOnce(ParquetIO, s"run-$i")), Nil)
      case "trace" => Trace.run(spark, w, slots, seed, work, out)
      case _ => (measure(0, 1)(i => w.runOnce(ParquetIO, s"run-$i")), Nil)
    }
    val collected = Heap.duringJobs
    out("peak_live_heap_mb") = collected.maxOption.map(_ / 1048576.0)
    out("job_collections") = collected.length
    out("untimed_s") = Clock.excluded / 1e9
    val all = warmup ++ runs ++ traced
    out("job_s") = runs.filter(_.ok).map(_.jobS)
    out("docs") = w.docs
    out("attempted") = all.length
    out("failed") = all.count(!_.ok)
    out("problems") = all.flatMap(_.problems).distinct
    val factNames = all.flatMap(_.facts.keys).distinct
    out("facts") = factNames.map(k => k -> runs.flatMap(_.facts.get(k))).toMap
    w match {
      case c: Curate => out("curate_digest") = c.digest
      case _ =>
    }
    println("PERFBENCH " + Json.write(out))
    spark.stop()
  }

  /** Runs until `seconds` have passed and at least `minRuns` ran. */
  def measure(seconds: Double, minRuns: Int = MinRuns)(run: Int => Outcome): Seq[Outcome] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer[Outcome]()
    while (out.length < minRuns || (System.nanoTime() - t0) / 1e9 < seconds)
      out += run(out.length)
    out.toSeq
  }

  /** The session `jobs.ExtractJob` builds when no master is set, with
    * `local[slots]` and every scratch path inside the work dir.
    */
  def session(slots: Int, work: String): SparkSession = {
    val spark = SparkSession.builder().appName("perfbench")
      .master(s"local[$slots]")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Largest heap occupancy right after a collection, over all collectors,
  * counting only collections that start while a timed job runs: the
  * output checks share the heap and must not count.
  */
object Heap {
  private val runtime = ManagementFactory.getRuntimeMXBean
  /** (collection start, heap used after it), both in ms of JVM uptime. */
  private val collections = new ConcurrentLinkedQueue[(Long, Long)]()
  private val windows = mutable.ArrayBuffer[(Long, Long)]()

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { gc =>
      gc.asInstanceOf[NotificationEmitter].addNotificationListener((n, _) => {
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          collections.add((info.getGcInfo.getStartTime, used))
        }
      }, null, null)
    }
  }

  /** Runs `f` as a timed job: collections starting in it count. */
  def during[T](f: => T): T = {
    val start = runtime.getUptime
    try f finally synchronized(windows += ((start, runtime.getUptime)))
  }

  def reset(): Unit = synchronized(windows.clear())

  /** Heap used after each collection that started in a timed job. */
  def duringJobs: Seq[Long] = synchronized {
    collections.asScala.collect { case (t, used) if windows.exists { case (a, b) => t > a && t <= b } => used }
      .toSeq
  }
}

/** Recorded curation digests, one `baseDocs seed digest` line each. */
object Recorded {
  def digest(file: String, seed: Long): Option[String] = {
    val f = new java.io.File(file)
    if (!f.exists()) None
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val key = Seq(Corpus.BaseDocs.toString, seed.toString)
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\\s+").toSeq).collectFirst { case Seq(n, s, d) if Seq(n, s) == key => d }
      finally src.close()
    }
  }
}

/** JSON lines of the harness, written with Spark's own Jackson. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def write(v: Any): String = mapper.writeValueAsString(v)
}
