package graft.model

/** Row types of the pipeline (SURVEY.md §1; FIXTURES.md §1-2).
  *
  * `Page` mirrors BASELINE.json's input_hint exactly:
  * `(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)`;
  * `text` is the golden expected output for verification, never an input to
  * extraction.
  *
  * `ExtractedDoc` is the output row (FIXTURES.md §2): the three divergent
  * `Document` variants of the reference (domain/models/document.py:8-25,
  * domain/models.py:9-29, domain/entities/document.py:10-85) folded into one
  * deterministic schema — `doc_id = sha2(url,256)` replaces uuid4
  * (entities/document.py:42), timestamps are job-supplied, never `now()`.
  */
final case class Page(
  url: String,
  warc_ts: java.sql.Timestamp,
  html: Array[Byte],
  text: String,
  lang: String)

final case class SpanRow(page: Int, off: Int, len: Int)

final case class TableRow(data: Seq[Seq[String]], confidence: Double)

final case class ExtractedDoc(
  url: String,
  doc_id: String,
  doc_type: String,     // html | native_text | scanned | mixed | table_heavy | image_heavy
  text: String,         // blocks/pages joined "\n\n" — the byte-identical gate
  spans: Seq[SpanRow],
  tables: Seq[TableRow],
  confidence: Double,   // 0..100 (see Thresholds)
  page_count: Int,
  charset: String,
  status: String,       // processed | error (models/common.py:13-20 lifecycle)
  error: String,        // null unless status = error
  text_len: Int,
  word_count: Int,
  metadata: Map[String, String])

/** Pipeline configuration: the one setting the code reads, the kernel
  * stage's partition count. `0` runs the kernel on the input's own
  * partitioning (no runtime shuffle); `> 0` shuffles onto that many
  * partitions, keyed by (host, salt) in `Extract.run` and by output bucket
  * in `Checkpoint.run`.
  */
final case class PipelineConf(shufflePartitions: Int = 32)

/** Reference quality thresholds on the 0..100 confidence scale
  * (constants/__init__.py:12,15-16).
  */
object Thresholds {
  val MediumQuality = 60.0
  val HighQuality = 80.0
}

/** The reference's fast/balanced/high profiles (system_config.py:18-34)
  * set DPI, a confidence threshold and an engine, none of which this
  * rebuild reads; only the default configuration survives, by name.
  */
object Profiles {
  val Balanced = PipelineConf()
}
