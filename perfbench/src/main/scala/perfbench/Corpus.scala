package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{ParquetIO, SyntheticPages}
import graft.pipeline.Checkpoint

/** Seeded inputs. Everything here is a pure function of the workload seed.
  *
  * The documents table has the shape of the test data's `documents.parquet`
  * (`doc_id, text, lang`): word texts over a small vocabulary, 60 words on
  * average. Document ids are contiguous, so the route mix that
  * [[SyntheticPages]] derives from `doc_id` mod 10/20/50/200 is the same for
  * every seed; the seed picks the texts. [[SyntheticPages.fromDocuments]]
  * turns the table into the pages table (`replicas` word-rotated variants
  * per document, one host holding ~20% of rows).
  */
object Corpus {
  /** 64 documents × 4 replicas = 256 pages: the largest corpus at which a
    * full benchmark session fits its time budget with room to spare
    * (measurements in README.md, "Session budget and corpus size"). The
    * harness self-test runs with fewer (`-Dperfbench.baseDocs`).
    */
  val BaseDocs: Int = sys.props.get("perfbench.baseDocs").map(_.toInt).getOrElse(64)
  val Replicas = 4
  val NumBuckets = 64
  val DriftedBuckets = NumBuckets / 16

  private val Vocab = Array("the", "a", "fast", "slow", "key", "order", "sort",
    "table", "scan", "merge", "part", "window", "small", "big", "hash", "join",
    "batch", "stream", "spark", "dup", "group", "query", "row", "data", "filter",
    "customer", "line", "value", "column", "agg", "vector")
  private val Langs = Array("en", "en", "en", "en", "es", "de", "fr", "zh",
    "en", "es", "de", "fr", "zh", "en", "fr", "de")

  /** Writes `<dir>/documents.parquet`; `variant` > 0 gives every document
    * a different text (the re-crawl of drifted buckets).
    */
  def writeDocuments(spark: SparkSession, dir: String, seed: Long, variant: Int): Unit = {
    import spark.implicits._
    val rows = (0 until BaseDocs).map { id =>
      val rng = new SplittableRandom(seed * 1000003L + variant * 7919L + id)
      val n = 30 + rng.nextInt(61)
      val text = Iterator.fill(n)(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
      (id.toLong, text, Langs(rng.nextInt(Langs.length)))
    }
    rows.toDF("doc_id", "text", "lang").coalesce(1)
      .write.mode("overwrite").parquet(Files.writable(s"$dir/documents.parquet"))
  }

  /** Pages table of a documents dir, written as Parquet at `out`. */
  def writePages(spark: SparkSession, docsDir: String, out: String): Unit =
    SyntheticPages.fromDocuments(spark, docsDir, Replicas)
      .write.mode("overwrite").parquet(Files.writable(out))

  /** Seeded choice, among the buckets `pages` fills, of those a re-crawl
    * changes and the one it drops.
    */
  def resumeBuckets(spark: SparkSession, pagesDir: String, seed: Long): (Seq[Int], Int) = {
    val present = ParquetIO.read(spark, pagesDir)
      .select(Checkpoint.bucketCol(col("url"), NumBuckets)).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    val perm = shuffled(present, new SplittableRandom(seed ^ 0x5bd1e995L))
    (perm.take(DriftedBuckets).sorted, perm(DriftedBuckets))
  }

  /** Re-crawl of `pages`: rows of the drifted buckets come from the
    * variant documents (new payloads and goldens), the vanished bucket's
    * rows are gone, every other row is unchanged.
    */
  def writeRecrawl(spark: SparkSession, pagesDir: String, variantDocsDir: String,
                   drifted: Seq[Int], vanished: Int, out: String): Unit = {
    val b = Checkpoint.bucketCol(col("url"), NumBuckets)
    val kept = ParquetIO.read(spark, pagesDir)
      .where(!b.isin(drifted :+ vanished: _*))
    val changed = SyntheticPages.fromDocuments(spark, variantDocsDir, Replicas)
      .where(b.isin(drifted: _*))
    kept.unionByName(changed).write.mode("overwrite").parquet(Files.writable(out))
  }

  /** Rows whose (url, html) differ between two pages tables: the re-crawl's
    * real drift, against which re-extracted rows are compared.
    */
  def driftedRows(before: DataFrame, after: DataFrame): Long = {
    val h = xxhash64(col("url"), col("html")).as("h")
    after.select(col("url"), h).except(before.select(col("url"), h)).count()
  }

  def shuffled[T](xs: Seq[T], rng: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** Route of a synthetic page, from the document id in its url. */
  def route(url: String): String = {
    val id = url.substring(url.lastIndexOf('/') + 1).toLong
    if (SyntheticPages.isScannedDoc(id)) "pdf_scanned"
    else if (SyntheticPages.isBrokenDoc(id)) "pdf_error"
    else if (SyntheticPages.isPdfDoc(id)) {
      if (SyntheticPages.isLockedDoc(id)) "pdf_error"
      else if (SyntheticPages.isEncryptedDoc(id)) "pdf_encrypted"
      else "pdf_native"
    } else "html"
  }

  val Routes = Seq("html", "pdf_native", "pdf_encrypted", "pdf_scanned", "pdf_error")
}
