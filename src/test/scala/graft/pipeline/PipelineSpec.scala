package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.io.SyntheticPages
import graft.model.PipelineConf

/** End-to-end pipeline spec on sf0.001-derived synthetic pages:
  * the byte-identical golden gate (north_rule) plus scale-mechanics
  * properties (FIXTURES.md §3.5).
  */
class PipelineSpec extends AnyFunSuite {

  private val spark: SparkSession = graft.TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("golden gate: extracted text byte-identical per url, zero mismatches") {
    val pages = SyntheticPages.fromDocuments(spark, sfDir).cache()
    val extracted = Extract.run(pages, PipelineConf(shufflePartitions = 8)).toDF().cache()
    val total = pages.count()
    assert(total == 500)
    assert(extracted.count() == total)

    val mismatches = Extract.goldenMismatches(extracted, pages)
    val bad = mismatches.limit(5).collect()
    if (bad.nonEmpty) {
      bad.foreach { r =>
        val a = r.getAs[String]("actual"); val e = r.getAs[String]("expected")
        val diffAt = a.zip(e).indexWhere { case (x, y) => x != y }
        fail(s"golden mismatch url=${r.getAs[String]("url")} first_diff=$diffAt\n" +
          s"expected: ${e.take(200)}\nactual:   ${a.take(200)}")
      }
    }
    assert(mismatches.count() == 0)

    import org.apache.spark.sql.functions._
    // corpus mix is deterministic: doc ids 0..499, 2% broken (status=error,
    // empty golden), ~0.5% password-locked (typed error, empty golden), 2%
    // scanned (processed, empty golden), rest processed
    val ids = (0L until total)
    val nBroken = ids.count(SyntheticPages.isBrokenDoc)
    val nLocked = ids.count(SyntheticPages.isLockedDoc)
    val nScanned = ids.count(SyntheticPages.isScannedDoc)
    assert(nLocked > 0, "corpus must exercise the locked-refusal slice")
    val st = extracted.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st.getOrElse("processed", 0L) == total - nBroken - nLocked, s"statuses: $st")
    assert(st.getOrElse("error", 0L) == nBroken + nLocked, s"statuses: $st")
    val types = extracted.groupBy("doc_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types.getOrElse("scanned", 0L) == nScanned, s"types: $types")
    // PDFs routed: the %10 slot plus the scanned/broken carve-outs
    assert(types.filterKeys(k => k != "html").values.sum ==
      ids.count(i => SyntheticPages.isPdfDoc(i) || SyntheticPages.isScannedDoc(i) ||
        SyntheticPages.isBrokenDoc(i)).toLong, s"types: $types")
    pages.unpersist(); extracted.unpersist()
  }

  test("determinism: two runs produce identical output (f(x)==f(x))") {
    val pages = SyntheticPages.fromDocuments(spark, sfDir)
    val a = Extract.run(pages).toDF().select("url", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val b = Extract.run(pages).toDF().select("url", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("salting: heavy host detected and fanned out over salt buckets") {
    import org.apache.spark.sql.functions._
    val pages = SyntheticPages.fromDocuments(spark, sfDir)
    val heavy = Salting.detectHeavyHosts(pages, shareThreshold = 0.05, sampleFraction = 1.0)
    assert(heavy == Seq("big.example.com")) // ~20% of rows by construction

    val salts = pages.select(Salting.saltCol(col("url"), heavy).as("salt"),
        Salting.hostCol(col("url")).as("host"))
      .where(col("host") === "big.example.com")
      .select("salt").distinct().collect().map(_.getInt(0)).sorted
    assert(salts.length > 4, s"expected fan-out over salt buckets, got ${salts.toSeq}")

    // partition-size balance: max/mean ratio drops vs unsalted host partitioning
    val p = 16
    import PipelineSpec.maxMean
    val unsalted = pages.select("url").repartition(p, Salting.hostCol(col("url")))
    val salted = Salting.saltedRepartition(pages.select("url"), p, heavy)
    assert(maxMean(salted) < maxMean(unsalted))
  }

  test("salting: heavy-host collect is bounded by 1/threshold (distributed filter)") {
    val pages = SyntheticPages.fromDocuments(spark, sfDir)
    // strict share > th means at most floor(1/th) hosts can qualify; the
    // driver-side set must respect that bound even if EVERY host were heavy
    val th = 0.05
    val heavy = Salting.detectHeavyHosts(pages, shareThreshold = th, sampleFraction = 1.0)
    assert(heavy.length <= (1.0 / th).toInt, s"unbounded collect: ${heavy.length} hosts")
    // empty input degrades to Nil, not a crash
    assert(Salting.detectHeavyHosts(pages.where("url IS NULL")) == Nil)
  }

  test("doc_id matches Spark's own sha2(url, 256)") {
    import org.apache.spark.sql.functions._
    val pages = SyntheticPages.fromDocuments(spark, sfDir).limit(20)
    val extracted = Extract.run(pages, PipelineConf(shufflePartitions = 0)).toDF()
    val bad = extracted
      .where(col("doc_id") =!= sha2(col("url"), 256))
      .count()
    assert(bad == 0)
  }

  test("grid + Type0 PDFs flow through the Spark pipeline (E9/E8 at table level)") {
    import spark.implicits._
    import graft.pdf.MiniPdf
    val grid = MiniPdf.build(Seq(MiniPdf.gridStream(Seq(
      Seq("col1", "col2"), Seq("v1", "v2"), Seq("v3", "v4")), Seq(72, 220))))
    val type0 = MiniPdf.buildType0(Seq(("00480069", 72, 700)), "") // Identity "Hi"
    val pages = Seq(
      graft.model.Page("http://t.example/grid", new java.sql.Timestamp(0L), grid,
        "col1 col2\nv1 v2\nv3 v4", "es"),
      graft.model.Page("http://t.example/type0", new java.sql.Timestamp(0L), type0,
        "Hi", "es")).toDF()
    val out = graft.pipeline.Extract.runNarrow(pages).collect()
      .map(d => d.url -> d).toMap
    val g = out("http://t.example/grid")
    assert(g.status == "processed" && g.doc_type == "table_heavy")
    assert(g.tables.length == 1 && g.tables.head.data ==
      Seq(Seq("col1", "col2"), Seq("v1", "v2"), Seq("v3", "v4")))
    assert(g.text == "col1 col2\nv1 v2\nv3 v4")
    val t = out("http://t.example/type0")
    assert(t.status == "processed" && t.text == "Hi")
  }
}

object PipelineSpec {
  /** Placement balance: largest over mean row count of the non-empty partitions. */
  def maxMean(df: org.apache.spark.sql.DataFrame): Double = {
    val sizes = df.rdd.mapPartitions(it => Iterator(it.size)).collect().filter(_ > 0)
    sizes.max.toDouble / (sizes.sum.toDouble / sizes.length)
  }
}
