package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {

  private val spark = graft.TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
  private lazy val queryVec: Array[Double] = emb.where(col("vec_id") === 0)
    .select(col("embedding").cast("array<double>")).as[Array[Double]].head()

  test("brute-force cosine top-k: sane bounds, self excluded by filtering") {
    val top = Similarity.bruteForceTopK(emb.where(col("vec_id") =!= 0),
      "vec_id", "embedding", queryVec, 10).collect()
    assert(top.length == 10)
    val cos = top.map(_.getDouble(1))
    assert(cos.forall(c => c >= -1.0001 && c <= 1.0001))
    assert(cos.sameElements(cos.sorted.reverse))
  }

  test("zero-norm embeddings rank last (cosine 0), never NaN-top") {
    // a failed/padding embedding is all zeros; unguarded 0/0 = NaN sorts
    // ABOVE every double in Spark, topping every top-k
    val withZero = emb.select(col("vec_id"), col("embedding"))
      .unionAll(Seq((999999L, Array.fill(queryVec.length)(0f)))
        .toDF("vec_id", "embedding"))
    val top = Similarity.bruteForceTopK(withZero.where(col("vec_id") =!= 0),
      "vec_id", "embedding", queryVec, 10).collect()
    assert(!top.exists(_.getLong(0) == 999999L), "zero vector reached top-k")
    assert(top.forall(r => !r.getDouble(1).isNaN))
    val cosZero = withZero.where(col("vec_id") === 999999L)
      .select(Similarity.cosine(col("embedding"),
        lit(queryVec).cast("array<double>"))).head().getDouble(0)
    assert(cosZero == 0.0)
    // a NULL embedding stays NULL (sorts last), never a fabricated 0.0
    val nullRow = Seq((888888L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val cosNull = nullRow.select(Similarity.cosine(col("embedding"),
      lit(queryVec).cast("array<double>"))).head()
    assert(cosNull.isNullAt(0), s"null embedding got score $cosNull")
  }

  test("query vector finds itself with cosine ~1.0") {
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queryVec, 1).collect()
    assert(top(0).getAs[Number]("vec_id").longValue == 0L)
    assert(math.abs(top(0).getDouble(1) - 1.0) < 1e-9)
  }

  test("IVF with all lists probed == brute force; mean recall@8 ≥ 0.6") {
    val index = Similarity.buildIvf(emb, "vec_id", "embedding", numLists = 16)
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queryVec, 10)
      .collect().map(_.getAs[Number]("vec_id").longValue).toSet

    val full = Similarity.ivfTopK(index, queryVec, 10, nprobe = 16)
      .collect().map(_.getAs[Number]("id").longValue).toSet
    assert(full == bf, s"ivf full probe=$full bf=$bf")

    // recall of a SINGLE query at a fixed partial nprobe is a property of
    // the data draw, not the index (uniform-random vectors are IVF's worst
    // case: the round-6 regenerated corpus read 0.2 where the previous one
    // read 0.5+ at the same nprobe). Gate the MEAN over 10 query vectors at
    // half the lists probed instead — measured 0.72 on the current corpus.
    // Random placement reads ~nprobe/numLists = 0.5, so the gate sits a
    // clear margin above that null: a real locality claim.
    val queries = (0L until 10L).map { qid =>
      emb.where(col("vec_id") === qid)
        .select(col("embedding").cast("array<double>")).as[Array[Double]].head()
    }
    val recalls = queries.map { q =>
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
        .collect().map(_.getAs[Number]("vec_id").longValue).toSet
      val probed = Similarity.ivfTopK(index, q, 10, nprobe = 8)
        .collect().map(_.getAs[Number]("id").longValue).toSet
      probed.intersect(exact).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean recall@nprobe=8 = $mean (${recalls.mkString(",")})")
  }

  test("persisted IVF probe is a partition-pruned scan (only nprobe lists read)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val index = Similarity.buildIvf(emb, "vec_id", "embedding", numLists = 16)
    val tmp = java.nio.file.Files.createTempDirectory("ivf-plan").toString
    Similarity.writeIvf(index, tmp)
    val loaded = Similarity.loadIvf(spark, tmp)

    val nprobe = 4
    val probe = Similarity.ivfTopK(loaded, queryVec, 10, nprobe = nprobe)
    val fromDisk = probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inMem = Similarity.ivfTopK(index, queryVec, 10, nprobe = nprobe)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromDisk == inMem, "persisted probe diverged from in-memory probe")

    val plan = probe.queryExecution.executedPlan
    val scans = plan.collectLeaves().collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, s"no file scan in:\n$plan")
    assert(plan.toString.contains("PartitionFilters") &&
      plan.toString.contains("list_id"), s"probe filter not on the partition key:\n$plan")
    val partsRead = scans.map(_.selectedPartitions.partitionCount).sum
    assert(partsRead <= nprobe, s"probe read $partsRead partitions, expected <= $nprobe")
  }

  test("cosine near-dup pairs: planted near-identical vectors found") {
    val rnd = new scala.util.Random(7)
    def vec(): Array[Double] = Array.fill(32)(rnd.nextGaussian())
    val v = vec()
    val vNear = v.zipWithIndex.map { case (x, i) => x + (if (i == 0) 0.01 else 0.0) }
    val rows = ((100L, v) +: (101L, vNear) +:
      (1L to 60L).map(i => (i, vec()))).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(rows, "vec_id", "embedding", minCosine = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)), s"pairs=$pairs")
  }

  test("int8 quantization: scale, code sum, reconstruction error bound") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)),
      (2L, Seq(0.0f, 0.0f, 0.0f)) // all-zero: scale 0, everything 0
    ).toDF("vec_id", "embedding")
    val sc = Similarity.quantScale(col("embedding"))
    val out = df.select(col("vec_id"), sc.as("scale"),
        Similarity.quantCodeSum(col("embedding"), sc).as("qs"),
        Similarity.quantMaxErr(col("embedding"), sc).as("err"))
      .orderBy("vec_id").collect()
    assert(out(0).getDouble(1) == 1.0)
    // q = round(0.5*127)=64, round(-1*127)=-127, round(0.25*127)=32 → sum -31
    assert(out(0).getLong(2) == -31L)
    // max err bounded by half a quantization step: scale/254
    assert(out(0).getDouble(3) <= 1.0 / 254.0 + 1e-12)
    assert(out(1).getDouble(1) == 0.0 && out(1).getLong(2) == 0L &&
      out(1).getDouble(3) == 0.0)
  }

  test("rhp signature deterministic and locality-sensitive") {
    val rnd = new scala.util.Random(3)
    val v = Array.fill(64)(rnd.nextGaussian())
    assert(Similarity.rhpSignature(v, 64) == Similarity.rhpSignature(v.clone(), 64))
    val near = v.map(_ * 1.0001)
    val d = java.lang.Long.bitCount(
      Similarity.rhpSignature(Similarity.normalize(v), 64) ^
      Similarity.rhpSignature(Similarity.normalize(near), 64))
    assert(d <= 2)
  }
}
