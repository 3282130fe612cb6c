package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.model.{ExtractedDoc, PipelineConf}

/** The extraction pipeline (SURVEY §3 "Spark restatement"):
  *
  * {{{
  * pages
  *   .select(url, html)                      // column pruning: drop golden/lang early
  *   .repartition(P, host, salt)             // explicit partitioing + skew salting
  *   .mapPartitions(kernel)                  // E8/E10/E11/E12, parser reuse per partition
  * }}}
  *
  * The kernel stage is a typed mapPartitions closure (north_rule allows
  * "Catalyst-friendly expressions and typed mapPartitions closures") — one
  * JVM-heap pass per row, no Python, no UDF serialization. Rows shuffled
  * BEFORE parsing so only (url, html) bytes move; parsed structs never
  * shuffle (SURVEY §4 plan-hygiene item 4).
  */
object Extract {

  def run(pages: DataFrame, conf: PipelineConf = PipelineConf()): Dataset[ExtractedDoc] = {
    if (conf.shufflePartitions <= 0) runWithHosts(pages, conf, Nil) // pre-partitioned input
    else runWithHosts(pages, conf, Salting.detectHeavyHosts(pages))
  }

  /** Narrow variant for input that is already hash-distributed (bucketed
    * table / generator output): no heavy-host pass, no runtime shuffle.
    */
  def runNarrow(pages: DataFrame): Dataset[ExtractedDoc] =
    runWithHosts(pages, PipelineConf(shufflePartitions = 0), Nil)

  /** Variant with pre-detected heavy hosts: a caller that runs the salted
    * path repeatedly over one input (ScalingBench's timed windows) pays the
    * sampled detection pass once.
    */
  def runWithHosts(pages: DataFrame, conf: PipelineConf,
                   heavyHosts: Seq[String]): Dataset[ExtractedDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val narrow = pages.select("url", "html")
    val parted =
      if (conf.shufflePartitions > 0)
        Salting.saltedRepartition(narrow, conf.shufflePartitions, heavyHosts)
      else narrow
    parted.as[(String, Array[Byte])].mapPartitions { it =>
      val digest = java.security.MessageDigest.getInstance("SHA-256")
      it.map { case (url, html) => toDoc(url, html, digest) }
    }
  }

  /** Per-row kernel → output row. `digest` reused across the partition
    * (the Spark analogue of the reference's per-process adapter instance,
    * adapter_factory.py:22-35).
    */
  def toDoc(url: String, html: Array[Byte],
            digest: java.security.MessageDigest): ExtractedDoc = {
    val r = Kernel.extractOne(html)
    val wc =
      if (r.text.isEmpty) 0
      else {
        // len(text.split()) semantics (use_cases.py:196)
        var count = 0; var inWord = false; var i = 0
        while (i < r.text.length) {
          val ws = Character.isWhitespace(r.text.charAt(i))
          if (!ws && !inWord) count += 1
          inWord = !ws
          i += 1
        }
        count
      }
    ExtractedDoc(
      url = url,
      doc_id = sha256Hex(url, digest),
      doc_type = r.docType,
      text = r.text,
      spans = r.spans,
      tables = r.tables,
      confidence = r.confidence,
      page_count = r.pageCount,
      charset = r.charset,
      status = r.status,
      error = r.error,
      text_len = r.text.length,
      word_count = wc,
      metadata = r.metadata)
  }

  /** Deterministic id — replaces the reference's uuid4 (entities/document.py:42);
    * matches Spark's `sha2(url, 256)` and DuckDB's `sha256(url)` hex output.
    */
  def sha256Hex(s: String, digest: java.security.MessageDigest): String = {
    digest.reset()
    val h = digest.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(64)
    h.foreach { b => sb.append(Character.forDigit((b >> 4) & 0xF, 16)); sb.append(Character.forDigit(b & 0xF, 16)) }
    sb.toString
  }

  /** Golden verification join (SURVEY §2.5: the one join the target needs).
    * Returns per-url mismatch rows; empty ⇒ byte-identical gate passes.
    */
  def goldenMismatches(extracted: DataFrame, pages: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    extracted.select(col("url"), col("text").as("actual"))
      .join(pages.select(col("url"), col("text").as("expected")), Seq("url"))
      .where(not(col("actual") <=> col("expected")))
  }
}
