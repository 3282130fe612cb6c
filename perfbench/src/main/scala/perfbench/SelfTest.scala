package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.io.ParquetIO
import graft.pipeline.Checkpoint

/** Checks of the harness's own output checks: each must pass on a correct
  * output and fail once a single output row is corrupted; the resume
  * snapshot must leave exactly the seeded pending buckets and one
  * tombstone. Returns one line per check, prefixed `ok` or `FAIL`.
  */
object SelfTest {
  def run(spark: SparkSession, work: String, seed: Long): Seq[String] = {
    val results = mutable.ArrayBuffer[String]()
    def expect(name: String, cond: Boolean, detail: => String): Unit =
      results += (if (cond) s"ok $name" else s"FAIL $name: $detail")

    val cold = new ExtractCold(spark, s"$work/cold", seed)
    cold.inputs()
    val o = cold.runOnce(ParquetIO, "selftest")
    expect("extract_cold output passes its check", o.ok, o.problems.mkString("; "))
    corruptOneText(spark, cold.outDir, work)
    val (problems, facts) = cold.checkExtract(cold.outDir, cold.pagesDir, Map.empty)
    expect("one corrupted text fails the extract check",
      facts("golden_mismatches") == 1.0 && problems.nonEmpty, problems.mkString("; "))

    val resume = new ExtractResume(spark, s"$work/resume", seed)
    resume.inputs()
    resume.snapshot()
    val r = resume.runOnce(ParquetIO, "selftest")
    expect("extract_resume output passes its check", r.ok, r.problems.mkString("; "))
    expect(s"resume leaves ${Corpus.DriftedBuckets} pending buckets",
      resume.lastRun("buckets_pending") == Corpus.DriftedBuckets, resume.lastRun.toString)
    val tomb = ParquetIO.readEvolving(spark, Checkpoint.manifestPath(resume.outDir))
      .where(col("rows_in") === 0).select("bucket").collect().map(_.getInt(0)).toSeq
    expect("resume tombstones exactly the vanished bucket",
      tomb == Seq(resume.vanished) &&
        !Files.exists(s"${Checkpoint.dataPath(resume.outDir)}/bucket=${resume.vanished}"),
      s"tombstones $tomb, vanished ${resume.vanished}")

    val curate = new Curate(spark, s"$work/curate", seed, None)
    curate.inputs()
    curate.snapshot()
    val c = curate.runOnce(ParquetIO, "selftest")
    expect("curate output passes its check", c.ok, c.problems.mkString("; "))
    val v = curate.lastVerdicts
    val flipped = v.updated(0, (v(0)._1, if (v(0)._2 == "dup") "keep" else "dup"))
    expect("one flipped verdict fails the curate check", curate.check(flipped).nonEmpty, "check passed")
    expect("one flipped verdict changes the digest",
      CurateReference.digest(flipped) != CurateReference.digest(v), "digest unchanged")
    results.toSeq
  }

  /** Appends a word to the text of one row of one bucket, in place. */
  private def corruptOneText(spark: SparkSession, out: String, work: String): Unit = {
    val data = Checkpoint.dataPath(out)
    val bucket = new java.io.File(data).list().filter(_.startsWith("bucket=")).min
    val dir = s"$data/$bucket"
    val rows = ParquetIO.read(spark, dir)
    val victim = rows.agg(min("url")).collect()(0).getString(0)
    val tmp = s"$work/corrupt"
    rows.withColumn("text", when(col("url") === victim, concat(col("text"), lit(" corrupted")))
        .otherwise(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(Files.writable(tmp))
    Files.delete(dir)
    require(new java.io.File(tmp).renameTo(new java.io.File(dir)), s"cannot move $tmp to $dir")
  }
}
