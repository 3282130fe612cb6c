package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Paragraph dedup + benchmark decontamination operator semantics. */
class CurationOpsSpec extends AnyFunSuite {
  private val spark = graft.TestSpark.spark
  import spark.implicits._

  test("curate keys string (sha256) doc ids internally, returns them verbatim") {
    // the pipeline's own doc_id is a sha256 hex string: casting to long
    // yields null and the typed shingle path dies — curate must key on a
    // hash internally and surface the original ids in the verdict
    import spark.implicits._
    val body = "the quick brown fox jumps over the lazy dog and keeps typing more words here " * 4
    val docs = Seq(
      ("a" * 64, body + "shared tail"),
      ("b" * 64, body + "shared tail"), // exact near-dup of the first
      ("c" * 64, "entirely unrelated document speaking about gardens rivers " +
        "mountains weather seasons harvests markets travels letters music " * 4))
      .toDF("doc_id", "text")
    val out = Curation.curate(docs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out.keySet == Set("a" * 64, "b" * 64, "c" * 64))
    assert(Seq(out("a" * 64), out("b" * 64)).count(_ == "dup") == 1,
      s"one of the identical pair must lose: $out")
    assert(out("c" * 64) != "dup")
  }

  test("curate keys numeric doc ids as long: one of a near-dup pair loses") {
    val body = "one two three four five six seven eight nine ten eleven " * 6
    val docs = Seq(
      (10L, body + "tail alpha"),
      (11L, body + "tail alpha"),  // near-dup pair: larger id loses
      (12L, "totally different content about rivers mountains weather " +
        "markets harvests travels letters music gardens seasons " * 5))
      .toDF("doc_id", "text")
    val v = Curation.curate(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(Seq(v(10L), v(11L)).count(_ == "dup") == 1, s"verdicts: $v")
    assert(v(12L) != "dup")
  }

  test("chunkWords: 12-word chunks, remainder kept, 1-based slicing") {
    val df = Seq("a b c", ("w " * 25).trim).toDF("t")
    val out = df.select(ParaDedup.chunkWords(col("t"), 12).as("c"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("a b c"))
    assert(out(1) == Seq(("w " * 12).trim, ("w " * 12).trim, "w"))
  }

  test("dedupParagraphs: first occurrence by (doc_id, pos) wins") {
    val df = Seq(
      (1L, Seq("alpha", "boiler", "beta")),
      (2L, Seq("boiler", "gamma")),
      (3L, Seq("gamma", "boiler", "gamma"))
    ).toDF("doc_id", "paras")
    val out = ParaDedup.dedupParagraphs(df, "doc_id", "paras")
      .orderBy("doc_id").collect()
    // doc 1 keeps everything (all first occurrences)
    assert(out(0).getAs[String]("clean_text") == "alpha\n\nboiler\n\nbeta")
    assert(out(0).getAs[Int]("n_kept") == 3)
    // doc 2: boiler seen in doc 1 -> dropped; gamma first here
    assert(out(1).getAs[String]("clean_text") == "gamma")
    assert(out(1).getAs[Int]("n_paras") == 2 && out(1).getAs[Int]("n_kept") == 1)
    // doc 3: gamma (doc 2) and boiler (doc 1) and its own second gamma all dropped
    assert(out(2).getAs[String]("clean_text") == "")
    assert(out(2).getAs[Int]("n_kept") == 0)
  }

  test("dedupParagraphs: intra-document repeats keep only the first") {
    val df = Seq((5L, Seq("x", "x", "y", "x"))).toDF("doc_id", "paras")
    val out = ParaDedup.dedupParagraphs(df, "doc_id", "paras").collect()(0)
    assert(out.getAs[String]("clean_text") == "x\n\ny")
    assert(out.getAs[Int]("n_paras") == 4 && out.getAs[Int]("n_kept") == 2)
  }

  test("dedupParagraphs: empty paragraphs ignored, partitioning-invariant") {
    val df = Seq((1L, Seq("", "a")), (2L, Seq("a", "", "b"))).toDF("doc_id", "paras")
    val a = ParaDedup.dedupParagraphs(df, "doc_id", "paras").orderBy("doc_id").collect()
    val b = ParaDedup.dedupParagraphs(df.repartition(7), "doc_id", "paras")
      .orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq)
    assert(a(0).getAs[Int]("n_paras") == 1) // the empty para never counted
  }

  test("decontam overlap: distinct shared grams counted once, clean docs zero") {
    val train = Seq(
      (1L, Seq("a b", "b c", "a b")),   // dup gram counts once
      (2L, Seq("z z")),
      (3L, Seq[String]())
    ).toDF("doc_id", "g8")
    val eval = Seq("a b", "q q").toDF("g")
    val out = Decontam.overlap(train, "g8", eval).orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSeq ==
      Seq((1L, 1, true), (2L, 0, false), (3L, 0, false)))
  }

  test("decontam plan broadcasts the eval side") {
    val train = (0L until 100L).map(i => (i, Seq(s"g$i"))).toDF("doc_id", "g8")
    val eval = Seq("g1", "g2").toDF("g")
    val plan = Decontam.overlap(train, "g8", eval).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }
}
