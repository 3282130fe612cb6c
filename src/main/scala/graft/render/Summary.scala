package graft.render

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Thresholds

/** Batch summary + catalog queries over the extracted table
  * (SURVEY A2/A4/L1-L4) — pure column expressions; the reference's
  * filesystem probing (routers/documents.py:411-427) becomes columns.
  */
object Summary {

  /** A2: markdown_generator.py:173-217 batch stats (true mean, SURVEY A1). */
  def batchSummary(extracted: DataFrame): DataFrame =
    extracted.agg(
      count(lit(1)).as("docs"),
      sum("page_count").as("total_pages"),
      round(avg("confidence"), 2).as("avg_confidence"),
      sum(when(col("status") === "error", 1L).otherwise(0L)).as("errors"),
      sum("text_len").as("total_chars"),
      sum("word_count").as("total_words"))

  /** A4: storage stats per doc_type (routers/status.py:159-169). */
  def storageStats(extracted: DataFrame): DataFrame =
    extracted.groupBy("doc_type")
      .agg(count(lit(1)).as("docs"),
        sum("text_len").as("text_bytes"),
        round(sum("text_len") / lit(1048576.0), 2).as("text_mb"))

  /** L1: list newest first with offset/limit (routers/documents.py:399-405;
    * bounds 1..100 enforced like documents.py:366).
    */
  def listDocuments(extracted: DataFrame, offset: Int, limit: Int): DataFrame = {
    val lim = math.max(1, math.min(limit, 100))
    extracted.orderBy(col("url").desc)
      .offset(math.max(offset, 0)).limit(lim)
      .select("url", "doc_id", "doc_type", "status", "confidence", "text_len")
  }

  /** L2: status filter (routers/files.py:110-112). */
  def filterByStatus(extracted: DataFrame, status: String): DataFrame =
    extracted.where(col("status") === lit(status))

  /** L3: engine/type substring + min-confidence filter (routers/system.py:339-343). */
  def filterByTypeAndConfidence(extracted: DataFrame, docType: String,
                                minConfidence: Double): DataFrame =
    extracted.where(col("doc_type").contains(docType) &&
      col("confidence") >= lit(minConfidence))

  /** L4: per-doc availability flags as columns, not filesystem probes. */
  def withAvailabilityFlags(extracted: DataFrame): DataFrame =
    extracted
      .withColumn("has_text", col("text_len") > 0)
      .withColumn("has_tables", size(col("tables")) > 0)
      .withColumn("is_empty", col("text_len") === 0 && size(col("tables")) === 0)
      .withColumn("is_high_quality", col("confidence") >= lit(Thresholds.HighQuality))
      .withColumn("meets_threshold", col("confidence") >= lit(Thresholds.MediumQuality))
}
