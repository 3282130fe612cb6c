package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Thresholds

/** End-to-end training-data curation: the keep/drop decision that composes
  * the pipeline's quality, language and dedup signals into one labeled
  * verdict per document — the last stage before a corpus ships to training.
  *
  * Rules (first failing rule names the drop reason, deterministic order):
  *   1. `dup`         — the document loses exact n-gram dedup: some OTHER
  *                      doc with a smaller id matches at Jaccard ≥ dupTau
  *                      (min-id canonical keeps, all later members drop);
  *   2. `low_quality` — qualityScore < minQuality (default
  *                      `Thresholds.MediumQuality`);
  *   3. `lang`        — language ID is `und` (no stopword evidence);
  *   4. `keep`.
  *
  * Scale shape: quality/lang are narrow column exprs; the dup-loser set is
  * the LSH candidate pipeline at pair cardinality followed by one
  * left-anti-style join back to the corpus — never an all-pairs pass.
  *
  * OUTPUT SCHEMA VARIANCE: the verdict's `doc_id` column type follows the
  * input — `long` when `idCol` is numeric, the input's own type (e.g. a
  * sha256 hex string) otherwise. Callers unioning verdicts across
  * differently-typed corpora must cast explicitly. Non-numeric ids key the
  * dedup stack internally on `xxhash64(id)`: a 64-bit collision merges two
  * documents' dup identity, so at most one of them can be misflagged `dup`
  * (never the reverse — a keep is never manufactured). Expected collisions
  * are birthday-bounded at n²/2⁶⁵ (≈ 0.3 pairs at 10⁹·⁵ ≈ 3×10⁹ docs,
  * ≈ 270 pairs at 10¹¹ — i.e. a few hundred possibly-misflagged docs in a
  * hundred-billion-doc corpus); a corpus
  * where even that is unacceptable should pre-assign dense numeric ids
  * (e.g. `zipWithIndex` at ingest) rather than pay a string-keyed shuffle
  * through the whole shingle pipeline.
  */
object Curation {

  def curate(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
             dupTau: Double = 0.5,
             minQuality: Double = Thresholds.MediumQuality): DataFrame = {
    // the dedup stack keys on Long ids, but the pipeline's own doc_id is a
    // sha256 HEX STRING — casting that to long yields null and the typed
    // shingle path dies. Non-numeric ids key internally on xxhash64(id)
    // (deterministic; a 64-bit collision merely merges two docs' dup
    // identity) and the ORIGINAL id is returned in the verdict. The min-id
    // dup-canonical then follows hash order — arbitrary but stable.
    val idIsNumeric = docs.schema(idCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val key =
      if (idIsNumeric) col(idCol).cast("long") else xxhash64(col(idCol))
    val keyed = docs.select(key.as("__cid"), col(textCol))
    // one tokenize pass feeds the combined (sh, sig) scratch; the fused
    // jaccardVerify est-filters and exact-verifies in one pair pass
    val sc = Dedup.shingleSigSets(keyed, "__cid", textCol).persist()
    val verifiedAll = Dedup.jaccardVerify(Dedup.bandedPairs(sc.select("id", "sig")), sc,
      minEstJaccard = 0.3)
    // verified pairs are emitted with id_a < id_b, so id_b is the loser.
    // The loser set must be EAGERLY materialized with its lineage CUT
    // before the shingle scratch is unpersisted: a merely-persisted child
    // is invalidated by its parents' unpersist (the cache manager re-plans
    // dependent entries), which silently re-runs the whole candidate+verify
    // pipeline — shingle-less — inside the caller's first action (measured
    // 10× on the t05 benchmark). Checkpointing cuts the lineage: reliable
    // checkpoint() (replicated, survives executor loss) when the session
    // has a checkpoint dir — the production setting; pair it with
    // spark.cleaner.referenceTracking.cleanCheckpoints=true so per-call
    // checkpoint files are reclaimed when the result is GC'd — else
    // localCheckpoint(). The localCheckpoint fallback knowingly trades
    // executor-loss recoverability for correctness-at-speed: the
    // alternatives both fail worse (persist'd losers are invalidated by
    // the scratch unpersist and silently recompute shingle-less; keeping
    // the scratch cached leaks hundreds of MB per call into the caller's
    // session). Either way curate never leaks a cached frame.
    val verified = verifiedAll
      .where(col("jaccard") >= dupTau)
      .select(col("id_b").as("loser_id")).distinct()
    val losers =
      if (docs.sparkSession.sparkContext.getCheckpointDir.isDefined)
        verified.checkpoint()
      else verified.localCheckpoint()
    sc.unpersist()

    docs.select(
        (if (idIsNumeric) col(idCol).cast("long") else col(idCol)).as("doc_id"),
        key.as("__cid"),
        TextStats.qualityScore(col(textCol)).as("q"),
        TextStats.langId(col(textCol)).as("l"))
      .join(losers, col("__cid") === col("loser_id"), "left")
      .select(col("doc_id"),
        when(col("loser_id").isNotNull, lit("dup"))
          .when(col("q") < minQuality, lit("low_quality"))
          .when(col("l") === "und", lit("lang"))
          .otherwise(lit("keep")).as("verdict"))
      .withColumn("keep", col("verdict") === "keep")
  }
}
