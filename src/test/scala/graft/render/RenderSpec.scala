package graft.render

import org.scalatest.funsuite.AnyFunSuite
import graft.model.{ExtractedDoc, TableRow, Thresholds}

class RenderSpec extends AnyFunSuite {

  private val doc = ExtractedDoc(
    url = "https://h1.example.com/p/1", doc_id = "abc", doc_type = "html",
    text = "TITULO CORTO\n\nFirst paragraph here.\n\nSecond one.",
    spans = Nil, tables = Seq(TableRow(Seq(Seq("a", "b"), Seq("1", "2")), 1.0)),
    confidence = 91.5, page_count = 1, charset = "UTF-8", status = "processed",
    error = null, text_len = 47, word_count = 8, metadata = Map("title" -> "t"))

  test("markdown render is a pure function of row + pinned clock") {
    val a = Markdown.render(doc, "2024-01-01T00:00:00Z")
    val b = Markdown.render(doc, "2024-01-01T00:00:00Z")
    assert(a == b)
    assert(a.contains("# https://h1.example.com/p/1"))
    assert(a.contains("- **Confianza**: 91.50%"))
    assert(a.contains("- **Generado**: 2024-01-01T00:00:00Z"))
  }

  test("title heuristic: short all-caps line becomes heading (markdown_generator.py:93-96)") {
    val md = Markdown.render(doc, "t")
    assert(md.contains("### TITULO CORTO"))
    assert(md.contains("First paragraph here.\n\n"))
    assert(!md.contains("### First"))
  }

  test("pipe table render with ragged rows and pipe escaping") {
    val t = TableRow(Seq(Seq("h1", "h|2"), Seq("only")), 0.5)
    val md = Markdown.renderTable(t)
    assert(md ==
      "| h1 | h\\|2 |\n| --- | --- |\n| only |  |\n")
  }

  test("availability flags switch exactly at the Thresholds boundaries") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val confs = Seq(59.9, 60.0, 79.9, 80.0)
    val rows = confs.zipWithIndex.map { case (c, i) =>
      doc.copy(url = s"https://h1.example.com/p/$i", confidence = c) }
    val flags = Summary.withAvailabilityFlags(rows.toDS().toDF())
      .select("confidence", "meets_threshold", "is_high_quality").collect()
      .map(r => r.getDouble(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
    assert(flags.keySet == confs.toSet)
    confs.foreach { c =>
      assert(flags(c) == (c >= Thresholds.MediumQuality, c >= Thresholds.HighQuality), s"confidence $c")
    }
    assert(flags(59.9) == (false, false))
    assert(flags(60.0) == (true, false))
    assert(flags(79.9) == (true, false))
    assert(flags(80.0) == (true, true))
  }
}
