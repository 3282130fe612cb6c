package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.SyntheticPages
import graft.pipeline.Extract
import graft.model.PipelineConf

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries run against the driver's parquet tables in `dir`
  * (TESTDATA.md: TPC-H-ish + events + documents + embeddings). The
  * extraction queries (x*) derive the synthetic pages table from
  * `documents.parquet` deterministically (SyntheticPages) — no external
  * data — and have no SQL oracle (extraction is not SQL-expressible;
  * the golden gate x02 IS the oracle). The q* queries each carry a DuckDB
  * oracle in `oracleSql` with identical column names/aliases.
  *
  * CACHE CONTRACT: the d04-d07 queries persist() their (shingle, signature) scratch
  * for the lifetime of the returned (lazy) DataFrame — unpersisting inside
  * the query would force a recompute at materialization. Callers running
  * many queries in one session (Bench, Verify) MUST
  * `spark.catalog.clearCache()` after materializing each result; both do.
  * One-shot library entry points that can materialize internally release
  * their own scratch (e.g. [[graft.ops.Curation.curate]]).
  */
object SparkEntry {

  /** Flagship: full extraction pipeline on sf0.001-derived pages. */
  def entry(spark: SparkSession): DataFrame = {
    val pages = SyntheticPages.fromDocuments(spark, "/root/testdata/sf0.001")
    Extract.run(pages, PipelineConf(shufflePartitions = 8)).toDF()
      .select("url", "doc_id", "doc_type", "status", "charset", "confidence",
        "page_count", "text_len", "word_count")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- extraction pipeline (SURVEY §2.2/2.3; golden gate) ----
    "x01_extract" -> ((s, dir) => {
      val pages = SyntheticPages.fromDocuments(s, dir)
      // generator output is already hash-distributed -> narrow pipeline
      Extract.runNarrow(pages).toDF()
        .select("url", "doc_id", "doc_type", "status", "charset", "confidence",
          "page_count", "text_len", "word_count")
        .orderBy("url")
    }),
    // golden gate at the given sf AND (when run at a smaller sf) at the
    // bench-scale sibling sf0.1 with the bench's 64-replica corpus — one
    // row per scale, so the correctness dump itself shows 320k/320k
    "x02_golden_check" -> ((s, dir) => {
      def gate(d: String, replicas: Int): DataFrame = {
        // persist: the gate consumes the generated pages TWICE — the
        // extraction branch reads (url, html), the expected branch
        // (url, text) — and without it the whole payload synthesis runs
        // once per branch. Same clearCache contract as the dedup scratch
        // (object scaladoc): Bench/Verify clear after materializing.
        val pages = SyntheticPages.fromDocuments(s, d, replicas).persist()
        val extracted = Extract.runNarrow(pages).toDF()
        extracted.select(col("url"), col("status"), col("text").as("actual"))
          .join(pages.select(col("url"), col("text").as("expected")), Seq("url"))
          .agg(
            count(lit(1)).as("total"),
            sum(when(col("status") === "processed", 1L).otherwise(0L)).as("processed"),
            sum(when(col("actual") <=> col("expected"), 1L).otherwise(0L)).as("matched"),
            sum(when(not(col("actual") <=> col("expected")), 1L).otherwise(0L)).as("mismatched"))
          .withColumn("scale", lit(s"$d x$replicas"))
          .select("scale", "total", "processed", "matched", "mismatched")
      }
      val sib = new java.io.File(new java.io.File(dir).getParentFile, "sf0.1")
      val runs = gate(dir, 1) +:
        (if (sib.isDirectory && sib.getPath != new java.io.File(dir).getPath)
           Seq(gate(sib.getPath, 64)) else Nil)
      runs.reduce(_ unionAll _)
    }),
    // oracle-checked since r4: doc_type/status/pages/text_len are re-derived
    // in SQL from the generator's modular rules (VERDICT r3 directive 5) —
    // this gates the whole classification ladder (scanned/native_text/mixed
    // thresholds, error lifecycle) and the page/char accounting, not just
    // rows>0
    "x03_type_counts" -> ((s, dir) => {
      val pages = SyntheticPages.fromDocuments(s, dir)
      Extract.runNarrow(pages).toDF()
        .groupBy("doc_type", "status")
        .agg(count(lit(1)).as("cnt"),
          sum("page_count").as("total_pages"),
          sum("text_len").as("total_chars"))
        .orderBy("doc_type", "status")
    }),

    "x04_batch_summary" -> ((s, dir) => {
      val pages = SyntheticPages.fromDocuments(s, dir)
      graft.render.Summary.batchSummary(Extract.runNarrow(pages).toDF())
    }),
    "x05_storage_stats" -> ((s, dir) => {
      val pages = SyntheticPages.fromDocuments(s, dir)
      graft.render.Summary.storageStats(Extract.runNarrow(pages).toDF())
        .orderBy("doc_type")
    }),
    // L3+L4: catalog filter by type substring + min confidence, with
    // availability flags (routers/system.py:339-343; documents.py:411-427)
    "x07_catalog_filters" -> ((s, dir) => {
      val pages = SyntheticPages.fromDocuments(s, dir)
      val ext = graft.render.Summary.withAvailabilityFlags(
        Extract.runNarrow(pages).toDF())
      graft.render.Summary.filterByTypeAndConfidence(ext, "native", 50.0)
        .groupBy("doc_type")
        .agg(count(lit(1)).as("docs"),
          sum(when(col("has_text"), 1L).otherwise(0L)).as("with_text"),
          sum(when(col("has_tables"), 1L).otherwise(0L)).as("with_tables"),
          sum(when(col("is_empty"), 1L).otherwise(0L)).as("empty_docs"))
        .orderBy("doc_type")
    }),
    // E9 rollup: extracted-table stats per doc type (HTML <table> + PDF grid)
    "x06_table_stats" -> ((s, dir) => {
      val pages = SyntheticPages.fromDocuments(s, dir)
      Extract.runNarrow(pages).toDF()
        .groupBy("doc_type")
        .agg(count(lit(1)).as("docs"),
          sum(size(col("tables"))).as("n_tables"),
          sum(when(size(col("tables")) > 0, 1L).otherwise(0L)).as("docs_with_tables"))
        .orderBy("doc_type")
    }),

    // ---- catalog / aggregation operators with DuckDB oracles ----
    // A1/A2 rollup (true mean replaces the reference's pairwise mean,
    // processing_metrics.py:25-28)
    "q01_pricing_rollup" -> ((s, dir) => {
      lineitem(s, dir).groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"))
    }),
    // L1 sort+limit catalog listing (routers/documents.py:399-405)
    "q02_events_topn" -> ((s, dir) => {
      events(s, dir).orderBy(col("ts").desc, col("event_id").desc)
        .limit(20).select("event_id", "event_type", "value")
    }),
    // L2 status filter + count (routers/files.py:110-112)
    "q03_click_users" -> ((s, dir) => {
      events(s, dir).where(col("event_type") === "click")
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
    }),
    // A3/A5 word/char counters (use_cases.py:196; entities/document.py:64-75)
    "q04_doc_stats" -> ((s, dir) => {
      documents(s, dir).select(col("doc_id"), col("n_chars"),
        length(col("text")).as("text_len"),
        when(length(trim(col("text"))) === 0, 0)
          .otherwise(size(split(trim(col("text")), "\\s+"))).as("word_count"))
    }),
    // exact dedup by content hash (training-data op; MD5 gate precedent
    // tests/validation_test.py:11-17)
    "q05_dedup_exact" -> ((s, dir) => {
      documents(s, dir).groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(count(lit(1)).as("cnt"))
    }),
    // K1 latest-wins window (SURVEY §2.5)
    "q06_latest_event" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
      events(s, dir).withColumn("rn", row_number().over(w))
        .where(col("rn") === 1).select("user_id", "event_id")
    }),
    // A4-style storage stats per group
    "q07_lang_stats" -> ((s, dir) => {
      documents(s, dir).groupBy("lang")
        .agg(count(lit(1)).as("cnt"), sum("n_chars").as("total_chars"))
    }),
    // the golden-verification join shape (broadcast dim)
    "q08_priority_revenue" -> ((s, dir) => {
      lineitem(s, dir).join(broadcast(orders(s, dir)),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"))
    }),
    // star join: fact shuffles once for the agg, both dims broadcast
    "q09_nation_revenue" -> ((s, dir) => {
      lineitem(s, dir)
        .join(broadcast(supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("cnt"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"))
    }),
    // dim-enriched rollup (broadcast dim + decimal-exact money sum)
    "q10_segment_orders" -> ((s, dir) => {
      orders(s, dir)
        .join(broadcast(customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("total"))
    }),
    // running aggregate window (explicit ROWS frame; decimal-exact)
    "q11_user_running_value" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir).select(col("event_id"), col("user_id"),
        sum(col("value").cast("decimal(18,4)")).over(w)
          .cast("double").as("running_value"))
    }),
    // share-of-total via unpartitioned window over a grouped rollup
    "q12_part_type_share" -> ((s, dir) => {
      part(s, dir).groupBy("p_type").agg(count(lit(1)).as("cnt"))
        .select(col("p_type"), col("cnt"),
          round(col("cnt") / sum("cnt").over(Window.partitionBy()), 6).as("share"))
    }),
    // time-bucketed rollup (string-stable month key; decimal-exact money)
    "q14_monthly_orders" -> ((s, dir) => {
      orders(s, dir)
        .groupBy(substring(col("o_orderdate").cast("string"), 1, 7).as("month"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("total"))
    }),
    // event-time windowing (the batch shape of CrawlStats.hostWindowCounts;
    // epoch-aligned 1h buckets == DuckDB time_bucket)
    "q15_hourly_events" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))
    }),
    // semi-structured extraction: events.props is a JSON string; parse it
    // with a typed schema (from_json inlines into the scan — codegen'd, no
    // UDF) and aggregate the extracted field. Oracle re-derives k by regexp
    // so it needs no JSON extension.
    "q16_event_props" -> ((s, dir) => {
      val k = from_json(col("props"), org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType)))).getField("k")
      events(s, dir)
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("int").as("events"),
          sum(col("k")).cast("bigint").as("k_sum"),
          round(avg(col("k")), 4).as("k_avg"),
          sum(when(col("k") >= 50, 1).otherwise(0)).cast("int").as("k_hi"))
        .orderBy("event_type")
    }),
    // top-k per group via a bounded typed Aggregator (map-side partial
    // top-2 per partition), NOT a row_number window: a window's sort
    // parallelism is bounded by the 25 distinct nations at any scale,
    // the aggregate's by input partitions. Same deterministic tiebreak
    // (c_acctbal DESC, c_custkey ASC) — oracle stays bit-exact.
    "q13_top_customers_per_nation" -> ((s, dir) => {
      import s.implicits._
      customer(s, dir)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
        .as[(Int, Long, Double)]
        .groupByKey(_._1)
        .mapValues { case (_, id, bal) => graft.ops.Scored(id, bal) }
        .agg(new graft.ops.TopKByScore(2).toColumn)
        .flatMap { case (nat, tops) =>
          tops.zipWithIndex.map { case (t, i) => (t.id, nat, t.score, i + 1) }
        }
        .toDF("c_custkey", "c_nationkey", "c_acctbal", "rk")
    }),

    // ---- training-data pipeline ops (text analysis / dedup / similarity /
    //      multimodal) ----
    "t01_token_stats" -> ((s, dir) => {
      import graft.ops.TextStats._
      documents(s, dir).select(col("doc_id"),
        tokenCountWs(col("text")).as("token_count_ws"),
        tokenCountBpe(col("text")).as("token_count_bpe"),
        charLen(col("text")).as("char_len"),
        spaceCount(col("text")).as("space_cnt"),
        digitCount(col("text")).as("digit_cnt"),
        punctCount(col("text")).as("punct_cnt"),
        upperCount(col("text")).as("upper_cnt"))
    }),
    "t02_quality" -> ((s, dir) => {
      import graft.ops.TextStats._
      documents(s, dir).select(col("doc_id"),
        round(qualityScore(col("text")), 6).as("quality_score"))
    }),
    "t03_langid" -> ((s, dir) => {
      import graft.ops.TextStats._
      documents(s, dir).select(col("doc_id"), col("lang"),
        langId(col("text")).as("lang_pred"))
    }),
    // fingerprint64 is xxhash64 (not reproducible in DuckDB), so the oracle
    // checks the property that matters: the fingerprint is INJECTIVE on the
    // corpus — distinct fingerprints == distinct normalized texts
    "t04_fingerprint" -> ((s, dir) => {
      import graft.ops.TextStats._
      documents(s, dir).agg(
        countDistinct(fingerprint64(col("text"))).as("distinct_fingerprints"),
        countDistinct(regexp_replace(lower(col("text")), "\\s+", " "))
          .as("distinct_norm_texts"),
        count(lit(1)).as("docs"))
    }),
    // the ship/drop verdict per document: dedup loser → low quality →
    // unknown language → keep (reference quality threshold 60)
    "t05_curation" -> ((s, dir) => {
      graft.ops.Curation.curate(documents(s, dir)).orderBy("doc_id")
    }),
    // PII redaction before training. The synthetic corpus carries no PII,
    // so the query PLANTS it deterministically from doc_id (same trick as
    // s04's planted near-dup pairs): docs with id%5==0 get an email,
    // id%7==0 an IPv4, id%11==0 a phone — the oracle plants identically and
    // both sides count + scrub, so zero-match trivial passes are impossible.
    "t06_pii_scrub" -> ((s, dir) => {
      import graft.ops.TextStats._
      val idStr = col("doc_id").cast("string")
      val planted = documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" mail user"), idStr, lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" from 10."), (col("doc_id") % 256).cast("string"), lit(".0.1"))).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            concat(lit(" call +1-555-"),
              lpad((col("doc_id") % 1000).cast("string"), 4, "0"))).otherwise(lit(""))
        ).as("ptext"))
      planted.select(col("doc_id"),
        emailCount(col("ptext")).as("email_cnt"),
        phoneCount(col("ptext")).as("phone_cnt"),
        ipCount(col("ptext")).as("ip_cnt"),
        scrubPii(col("ptext")).as("scrubbed"))
    }),
    // Gopher-style intra-doc repetition: dup n-gram fraction at n=2,3 plus
    // the integer gram counts (hash-exact evidence; the ratios are rounded)
    "t07_repetition" -> ((s, dir) => {
      import graft.ops.TextStats._
      documents(s, dir).select(col("doc_id"),
        size(wordNgrams(col("text"), 2)).as("n2_total"),
        size(array_distinct(wordNgrams(col("text"), 2))).as("n2_distinct"),
        round(dupNgramRatio(col("text"), 2), 6).as("dup2_ratio"),
        size(wordNgrams(col("text"), 3)).as("n3_total"),
        size(array_distinct(wordNgrams(col("text"), 3))).as("n3_distinct"),
        round(dupNgramRatio(col("text"), 3), 6).as("dup3_ratio"))
    }),
    // deterministic stratified sample (language mixing): keep iff
    // splitmix64(doc_id) mod 100 < rate(lang) — run-, partitioning- and
    // retry-stable, re-derivable by the SQL oracle
    "t08_stratified_sample" -> ((s, dir) => {
      graft.ops.Sampling.stratifiedSample(documents(s, dir), "doc_id", "lang")
        .withColumnRenamed("id", "doc_id").withColumnRenamed("stratum", "lang")
        .orderBy("doc_id")
    }),
    // C4-style paragraph dedup: documents carry no paragraph breaks, so
    // paragraphs are deterministic 12-word chunks PLUS planted cross-doc
    // boilerplate (a shared header on id%4==1, a shared footer on id%3==0
    // — planted identically in the oracle, so first-occurrence-wins
    // actually exercises: the shared paragraph survives only in its
    // first document)
    "t09_paragraph_dedup" -> ((s, dir) => {
      import graft.ops.ParaDedup._
      val hdr = "shared legal header follow the terms and conditions"
      val ftr = "subscribe to our newsletter for more updates today"
      val withParas = documents(s, dir).select(col("doc_id"),
        concat(
          when(col("doc_id") % 4 === 1, array(lit(hdr)))
            .otherwise(array().cast("array<string>")),
          chunkWords(col("text"), 12),
          when(col("doc_id") % 3 === 0, array(lit(ftr)))
            .otherwise(array().cast("array<string>"))
        ).as("paras"))
      dedupParagraphs(withParas, "doc_id", "paras").orderBy("doc_id")
    }),
    // benchmark decontamination: docs with id%97==13 form the "eval set";
    // training docs with id%31==7 get eval doc 13's first 12 words planted
    // (both sides plant identically), then any shared word 8-gram flags the
    // training doc — the eval n-gram set broadcasts (tiny next to the
    // corpus), the canonical production shape
    // Unicode normalization for curation: the same word with precomposed
    // vs combining accents would fingerprint/dedup differently, so text is
    // NFC-normalized before hashing and accent-folded for fuzzy matching.
    // Decomposed sequences are planted deterministically from the text's
    // own precomposed accents (é/ó/ü → base + combining mark, identically
    // on both sides); graft_nfc must recompose them back to the original
    // (restored = true wherever the source text is NFC). Both expressions
    // are native codegen'd Catalyst UnaryExpressions (GraftFunctions).
    "t11_normalize" -> ((s, dir) => {
      import graft.functions.GraftFunctions.{nfcNormalize, stripAccents}
      // the driver's documents are ASCII-only, so accents are PLANTED
      // identically on both sides (oracle: the same suffix via chr());
      // without the plant every row would be a zero-diff trivial pass
      val ptext = concat(col("text"),
        lit(" r\u00e9sum\u00e9 \u00f1o\u00f1o \u00fcber \u00c5ngstr\u00f6m"))
      val d = regexp_replace(regexp_replace(regexp_replace(ptext,
        "\u00e9", "e\u0301"), "\u00f3", "o\u0301"), "\u00fc", "u\u0308")
      documents(s, dir).select(
        col("doc_id"),
        length(d).cast("long").as("len_decomposed"),
        length(nfcNormalize(d)).cast("long").as("len_nfc"),
        (nfcNormalize(d) === ptext).as("restored"),
        length(stripAccents(ptext)).cast("long").as("len_folded"))
        .orderBy("doc_id")
    }),
    "t10_decontaminate" -> ((s, dir) => {
      import graft.ops.TextStats._
      val docs = documents(s, dir)
      val evalG = docs.where(col("doc_id") % 97 === 13)
        .select(explode(array_distinct(wordNgrams(col("text"), 8))).as("g"))
      val seed = docs.where(col("doc_id") === 13)
        .select(concat_ws(" ", slice(split(col("text"), " +"), 1, 12)).as("seed"))
      // LEFT join of the 1-row broadcast seed (not crossJoin): a scale
      // lacking doc 13 keeps every train row with seed = '' — exactly the
      // oracle's coalesce behavior
      val train = docs.where(col("doc_id") % 97 =!= 13)
        .join(broadcast(seed), lit(true), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 31 === 7,
            concat_ws(" ", col("text"), coalesce(col("seed"), lit(""))))
            .otherwise(col("text")).as("ptext"))
        .select(col("doc_id"), wordNgrams(col("ptext"), 8).as("g8"))
      graft.ops.Decontam.overlap(train, "g8", evalG).orderBy("doc_id")
    }),
    "d01_exact_dup_groups" -> ((s, dir) => {
      documents(s, dir)
        .groupBy(sha2(col("text").cast("binary"), 256).as("content_hash"))
        .agg(count(lit(1)).as("cnt"))
        .where(col("cnt") > 1)
    }),
    // same one-tokenize-pass discipline as d04-d07 (which persist the
    // combined (sh, sig) scratch; d02 outputs the ESTIMATE, so it only
    // needs signatures and persists just those).
    // The SIGNATURES are persisted (64 longs/doc — the cheap artifact),
    // because minhashCandidates reads them three times (banding + both
    // sides of the verify join): unpersisted, each read would re-tokenize
    // the corpus. Same clearCache contract as d04-d07 (object scaladoc).
    "d02_minhash_pairs" -> ((s, dir) => {
      val sigs = graft.ops.Dedup.signaturesFromSets(
        graft.ops.Dedup.shingleSets(documents(s, dir), "doc_id", "text")).persist()
      graft.ops.Dedup.minhashCandidates(sigs, minEstJaccard = 0.5)
        .orderBy("id_a", "id_b")
    }),
    "d03_simhash_pairs" -> ((s, dir) => {
      val hashes = graft.ops.Dedup.simhashes(documents(s, dir), "doc_id", "text")
      graft.ops.Dedup.simhashCandidates(hashes, maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),
    // one tokenize pass feeding ONE combined (sh, sig) scratch: banding
    // reads the signatures, and the fused jaccardVerify joins each pair
    // side once to est-filter AND exact-verify in the same pass (formerly
    // two persisted frames and two join pairs — signatures for the
    // estimate, shingle sets for the exact Jaccard)
    "d04_ngram_verified_dups" -> ((s, dir) => {
      val sc = graft.ops.Dedup.shingleSigSets(documents(s, dir), "doc_id", "text").persist()
      graft.ops.Dedup.jaccardVerify(
          graft.ops.Dedup.bandedPairs(sc.select("id", "sig")), sc, minEstJaccard = 0.3)
        .where(col("jaccard") >= 0.5).orderBy("id_a", "id_b")
    }),
    // clusters over EXACT-verified pairs (candidates → exact n-gram Jaccard
    // ≥ 0.5 → connected components), so the DuckDB oracle can recompute the
    // same components from exact all-pairs Jaccard + a recursive CTE
    "d05_dup_clusters" -> ((s, dir) => {
      val sc = graft.ops.Dedup.shingleSigSets(documents(s, dir), "doc_id", "text").persist()
      val verified = graft.ops.Dedup.jaccardVerify(
          graft.ops.Dedup.bandedPairs(sc.select("id", "sig")), sc, minEstJaccard = 0.3)
        .where(col("jaccard") >= 0.5).select("id_a", "id_b")
      graft.ops.Dedup.clusters(verified)
        .groupBy("cluster").agg(count(lit(1)).as("members"))
        .orderBy("cluster")
    }),
    // incremental dedup: NEW half of the corpus against the EXISTING half —
    // cross-set banding only (no new×new / old×old pairs), exact-verified
    "d07_incremental_dups" -> ((s, dir) => {
      val sc = graft.ops.Dedup.shingleSigSets(documents(s, dir), "doc_id", "text").persist()
      val cand = graft.ops.Dedup.acrossBandedPairs(
          sc.where(col("id") % 2 === 0).select("id", "sig"),
          sc.where(col("id") % 2 === 1).select("id", "sig"))
        .select(col("new_id").as("id_a"), col("old_id").as("id_b"))
      graft.ops.Dedup.jaccardVerify(cand, sc, minEstJaccard = 0.3)
        .where(col("jaccard") >= 0.5)
        .select(col("id_a").as("new_id"), col("id_b").as("old_id"), col("jaccard"))
        .orderBy("new_id", "old_id")
    }),
    // asymmetric containment dedup (doc-inside-doc), exact-verified at
    // candidate cardinality. Two candidate regimes, unioned: MinHash
    // banding covers high-Jaccard pairs; the sampled-shingle inverted
    // index covers small-in-large pairs whose tiny Jaccard symmetric
    // banding structurally misses (a contained doc's sampled shingles are
    // sampled in its container too).
    "d06_containment" -> ((s, dir) => {
      val sc = graft.ops.Dedup.shingleSigSets(documents(s, dir), "doc_id", "text").persist()
      graft.ops.Dedup.containmentVerified(sc, minEstJaccard = 0.3)
        .where(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= 0.9)
        .orderBy("id_a", "id_b")
    }),
    "s01_cosine_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).collect()(0)
        .getSeq[Double](0).toArray
      graft.ops.Similarity.bruteForceTopK(
          emb.where(col("vec_id") =!= 0), "vec_id", "embedding", q, 10)
        .select(col("vec_id"), round(col("cos"), 4).as("cos"))
    }),
    "s02_embedding_norms" -> ((s, dir) => {
      embeddings(s, dir).select(col("vec_id"),
        round(graft.ops.Similarity.norm(col("embedding")), 4).as("l2norm"))
    }),
    // int8 symmetric quantization — the 4× memory cut a 100 TB vector store
    // takes before ANN; scale, code mass and max reconstruction error are
    // re-derived by the oracle with the same double-precision formulas
    "s05_quantize_embeddings" -> ((s, dir) => {
      import graft.ops.Similarity._
      val sc = quantScale(col("embedding"))
      embeddings(s, dir)
        .select(col("vec_id"), sc.as("scale"),
          quantCodeSum(col("embedding"), sc).as("q_sum"),
          quantMaxErr(col("embedding"), sc).as("q_max_err"))
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          col("q_sum"), round(col("q_max_err"), 6).as("q_max_err"))
        .orderBy("vec_id")
    }),
    // IVF over the PERSISTED list_id-partitioned layout: build → write →
    // load → probe, so the driver exercises the partition-pruned scan path
    // (the 100 TB shape), not just the in-memory index. The test corpus is
    // uniform-random (IVF's worst case — no cluster structure) and the
    // oracle is EXACT brute-force top-10, so the probe covers all 16 lists:
    // on the round-6 regenerated corpus nprobe=12 reads recall 0.8/1.0/0.6
    // at sf0.001/0.01/0.1 (RecallProbe) — any partial probe is a red oracle
    // waiting for the next regeneration. Pruned-probe recall stays gated in
    // SimilaritySpec (mean recall@nprobe=8 over 10 queries ≥ 0.6).
    "s03_ivf_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).collect()(0)
        .getSeq[Double](0).toArray
      val index = graft.ops.Similarity.buildIvf(emb, "vec_id", "embedding", numLists = 16)
      // deterministic per-sf path, overwritten each run (a fresh temp dir
      // per invocation would leak a full index copy every bench round);
      // keyed by Spark application id so two concurrent drivers on one
      // host never race on the same index files
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-ivf-" +
        s.sparkContext.applicationId + "-" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      graft.ops.Similarity.writeIvf(index, tmp)
      val loaded = graft.ops.Similarity.loadIvf(s, tmp)
      graft.ops.Similarity.ivfTopK(loaded, q, 10, nprobe = 16)
        .select(col("id"), round(col("cos"), 4).as("cos"))
    }),
    // Embedding near-dup over embeddings ∪ perturbed copies (vec_id+100000,
    // every element +0.001): the base corpus has NO pairs above cos 0.52, so
    // the 500 planted ~0.999 pairs make the answer non-empty and the exact
    // all-pairs DuckDB oracle meaningful. LSH candidates are exact-verified;
    // the planted pairs sit far above the banding recall floor.
    "s04_cosine_near_dups" -> ((s, dir) => {
      // base ∪ perturbed built in ONE scan (explode of a 2-element array) —
      // a union of two projections would read the corpus twice
      val both = embeddings(s, dir).select(explode(array(
          struct(col("vec_id").cast("long").as("vec_id"),
            col("embedding").cast("array<double>").as("embedding")),
          struct((col("vec_id").cast("long") + 100000L).as("vec_id"),
            transform(col("embedding").cast("array<double>"), x => x + lit(0.001))
              .as("embedding")))).as("r"))
        .select(col("r.vec_id").as("vec_id"), col("r.embedding").as("embedding"))
      graft.ops.Similarity.cosineNearDupPairs(
          both, "vec_id", "embedding", minCosine = 0.9)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
        .orderBy("id_a", "id_b")
    }),
    // REAL-decode gate: every kind's features come from decoded pixels/
    // samples/frames, and the oracle re-derives the raw histogram COUNTS in
    // SQL from the splitmix64 generator contract — a decode regression
    // (wrong pixel, wrong frame sampled, wrong bin) breaks the hash match.
    // byte_len is deliberately absent (PNG encoding is encoder-dependent).
    "m01_multimodal_features" -> ((s, dir) => {
      val assets = graft.ops.Multimodal.synthesize(documents(s, dir))
      graft.ops.Multimodal.extractFeatures(assets)
        .select(col("doc_id"), col("kind"), col("frames_sampled"),
          col("width"), col("height"),
          array_join(transform(col("hist"), _.cast("string")), ",").as("feat_hist"))
        .orderBy("doc_id")
    }),
    // decode-gated metadata: n_units is MEASURED (javax.sound PCM frame
    // count / GMJ1 container frame count), the oracle re-derives the
    // generator's formulas in splitmix64 SQL
    "m02_multimodal_meta" -> ((s, dir) => {
      // kind is a pure function of the id (synthesize: id%3 → image/audio/
      // video), but the mapPartitions generator is opaque to Catalyst, so
      // the kind filter below cannot push past it on its own — without the
      // manual pushdown every image PNG is synthesized only to be dropped.
      // The `kind =!= "image"` filter stays as the semantic guard: if the
      // pushdown predicate ever drifted from the generator's rotation the
      // result would lose rows and the oracle would catch it, never gain
      // spurious ones.
      graft.ops.Multimodal.decodedMeta(
          graft.ops.Multimodal.synthesize(
            documents(s, dir).where(col("doc_id") % 3 =!= 0)))
        .where(col("kind") =!= "image")
        .orderBy("doc_id")
    }),
  )

  /** Unsigned HUGEINT literal list for oracles that re-derive JVM hashes. */
  private def hugeList(a: Array[Long]): String =
    a.map(v => s"CAST(${java.lang.Long.toUnsignedString(v)} AS HUGEINT)")
      .mkString("[", ",", "]")

  /** splitmix64(x) as ONE DuckDB HUGEINT expression (mod-2^64 arithmetic;
    * each 64×64-bit multiply split into 32-bit halves so the 128-bit
    * HUGEINT never overflows). Intermediate stages are bound exactly once
    * via single-element list_transform lambdas, keeping the expression
    * linear instead of exponentially duplicated — usable inside other
    * lambdas (per-pixel / per-sample derivations).
    */
  private def sm64(x: String): String = {
    val M = "18446744073709551616"
    def mulmod(a: String, k: String) =
      s"((($a // 4294967296) * $k) % $M * 4294967296 % $M + ((($a) % 4294967296) * $k) % $M) % $M"
    val s1 = s"(CAST($x AS HUGEINT) + 11400714819323198485) % $M"
    val s2 = mulmod("xor(z1, z1 // 1073741824)", "13787848793156543929")
    val s3 = mulmod("xor(z2, z2 // 134217728)", "10723151780598845931")
    s"list_transform([$s1], z1 -> list_transform([$s2], z2 -> " +
      s"list_transform([$s3], z3 -> xor(z3, z3 // 2147483648))[1])[1])[1]"
  }

  /** Luminance bin (0..15) of a 24-bit RGB value — the exact integer math
    * of Multimodal.decodeImageCounts ((299r+587g+114b)/1000, then >>4).
    */
  private def lumBin(v: String): String =
    s"list_transform([$v], q -> ((((q % 16777216) // 65536) * 299 + " +
      s"(((q % 16777216) // 256) % 256) * 587 + ((q % 16777216) % 256) * 114) " +
      s"// 1000) // 16)[1]"

  /** 16 bin counts of a bin list, comma-joined (integer-exact compare). */
  private def histCsv(bins: String): String =
    s"array_to_string(list_transform(generate_series(0, 15), " +
      s"b -> len(list_filter($bins, v -> v = b))), ',')"

  /** m01 oracle: the full multimodal feature pipeline re-derived in SQL —
    * per-pixel splitmix64 → luminance bins for images, per-sample 16-bit
    * bins for audio, and for video the SAME per-pixel derivation over the
    * 4 sampled frame indices floor(nf*k/4) of the nf-frame container.
    */
  private def m01OracleSql: String = {
    val imgBins = s"list_transform(generate_series(0, w*h - 1), p -> " +
      s"${lumBin(sm64("id*1000003 + (p // w)*131 + (p % w)"))})"
    // bins index SIGNED samples ((s+32768)>>12); on the unsigned 16-bit
    // value x that is (x//4096 + 8) mod 16
    val audBins = s"list_transform(generate_series(0, n - 1), i -> " +
      s"(((${sm64("id*999983 + i")} % 65536) // 4096) + 8) % 16)"
    val vidBins = s"flatten(list_transform(list_transform([0,1,2,3], " +
      s"k -> (nf * k) // 4), f -> list_transform(generate_series(0, 191), p -> " +
      s"${lumBin(sm64("id*7919 + f*100003 + (p // 16)*131 + (p % 16)"))})))"
    s"""WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
       |img AS (
       |  SELECT id, 16 + (id % 4) * 8 AS w, 12 + (id % 3) * 8 AS h
       |  FROM docs WHERE id % 3 = 0),
       |imgrows AS (
       |  SELECT id AS doc_id, 'image' AS kind, 0 AS frames_sampled,
       |    w AS width, h AS height, ${histCsv(imgBins)} AS feat_hist
       |  FROM img),
       |aud AS (
       |  SELECT id, CAST(400 + ${sm64("id")} % 1024 AS BIGINT) AS n
       |  FROM docs WHERE id % 3 = 1),
       |audrows AS (
       |  SELECT id AS doc_id, 'audio' AS kind, 0 AS frames_sampled,
       |    0 AS width, 0 AS height, ${histCsv(audBins)} AS feat_hist
       |  FROM aud),
       |vid AS (
       |  SELECT id, CAST(4 + ${sm64("id")} % 8 AS BIGINT) AS nf
       |  FROM docs WHERE id % 3 = 2),
       |vidrows AS (
       |  SELECT id AS doc_id, 'video' AS kind, 4 AS frames_sampled,
       |    16 AS width, 12 AS height, ${histCsv(vidBins)} AS feat_hist
       |  FROM vid)
       |SELECT doc_id, kind, CAST(frames_sampled AS INTEGER) AS frames_sampled,
       |  CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height, feat_hist
       |FROM (SELECT * FROM imgrows UNION ALL SELECT * FROM audrows
       |      UNION ALL SELECT * FROM vidrows)
       |ORDER BY doc_id""".stripMargin
  }

  /** x03/x05/x06 oracle scaffold: per-document (doc_type, status, pages,
    * text_len, n_tables) re-derived in SQL from the generator's modular
    * rules (SyntheticPages: %50==17 scanned, %50==41 broken, %200==99
    * locked-encrypted, %10==9 PDF — %20==19 of which ship encrypted but
    * decrypt text-transparently, %7==3 table, %4==1 Identity-H) plus the
    * extractor's OWN classification
    * thresholds (PdfExtractor: native_text iff avg span text/page > 100).
    * text_len is the GOLDEN length (the x02 gate proves text == golden), so
    * each component is a closed-form function of (doc_id, text, lang):
    *  - html: "Documento N" + 12-word paras joined "\n\n", +6 chars for the
    *    entity fixture when ≥ 2 paras, +accent word by lang;
    *  - pdf: words+safe-word → 8-word lines → 10-line pages; Identity-H
    *    single-page branch when id%4==1, id%7!=3 and all words are Latin-1;
    *    the %7==3 slot appends the ruled-table page "key value\nid N";
    *  - scanned: first 24 words filtered to the glyph set (≥1 [A-Za-z0-9]),
    *    6-word lines; "SCAN N" fallback when none survive;
    *  - broken: status error, everything zero.
    */
  private val ExtractDerivedCte: String =
    """WITH base AS (
      |  SELECT CAST(doc_id AS BIGINT) AS id,
      |    coalesce(text, '') AS text, coalesce(lang, 'en') AS lang
      |  FROM documents),
      |w AS (
      |  SELECT id, lang,
      |    CASE WHEN id % 50 = 17 THEN 'scanned'
      |         WHEN id % 50 = 41 THEN 'broken'
      |         WHEN id % 200 = 99 THEN 'locked'
      |         WHEN id % 10 = 9 THEN 'pdf' ELSE 'html' END AS route,
      |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS words,
      |    length(regexp_replace(text, '\s', '', 'g')) AS wchars,
      |    length(CAST(id AS VARCHAR)) AS idlen
      |  FROM base),
      |m AS (
      |  SELECT *,
      |    CASE lang WHEN 'es' THEN 11 WHEN 'de' THEN 8 WHEN 'fr' THEN 4
      |      WHEN 'en' THEN 5
      |      WHEN 'zh' THEN CASE WHEN route = 'pdf' THEN 14 ELSE 4 END
      |      ELSE 5 END AS alen,
      |    len(words) + 1 AS nw
      |  FROM w),
      |htmlrows AS (
      |  SELECT id, 'html' AS doc_type, 'processed' AS status, 1 AS pages,
      |    (10 + idlen) + 2 * npar + (wchars + alen) + (nw - npar)
      |      + CASE WHEN npar >= 2 THEN 6 ELSE 0 END AS tlen,
      |    CASE WHEN id % 7 = 3 THEN 1 ELSE 0 END AS ntab,
      |    -- E12 for real: 100*keptNonWs/totalNonWs. kept = h1 title + paras
      |    -- (incl. the 3-char 'A&B' entity fixture when >= 2 paras); the
      |    -- generator's boilerplate blocks are a 101-non-ws-char constant
      |    -- (header 11 + nav 24 + related-links 16 + aside 32 + footer 18)
      |    100.0 * ((9 + idlen) + (wchars + alen) + CASE WHEN npar >= 2 THEN 3 ELSE 0 END)
      |      / (((9 + idlen) + (wchars + alen) + CASE WHEN npar >= 2 THEN 3 ELSE 0 END) + 101)
      |      AS conf,
      |    2 + nw + CASE WHEN npar >= 2 THEN 3 ELSE 0 END AS words,
      |    CASE WHEN lang = 'zh' THEN 'UTF-8'
      |         WHEN id % 4 = 2 THEN 'windows-1252'
      |         WHEN id % 4 = 3 THEN 'ISO-8859-1' ELSE 'UTF-8' END AS charset
      |  FROM (SELECT *, (nw + 11) // 12 AS npar FROM m WHERE route = 'html')),
      |pdfm AS (
      |  SELECT *, npg0 + CASE WHEN id % 7 = 3 THEN 1 ELSE 0 END AS npg,
      |    (id % 4 = 1 AND id % 7 <> 3
      |     AND len(list_filter(words, x -> regexp_matches(x, '[^ -ÿ]'))) = 0) AS t0
      |  FROM (SELECT *, (nw + 7) // 8 AS nl, ((nw + 7) // 8 + 9) // 10 AS npg0
      |        FROM m WHERE route = 'pdf')),
      |pdfrows AS (
      |  SELECT id,
      |    CASE WHEN (tlen - 2 * (pages - 1)) > 100 * pages
      |         THEN 'native_text' ELSE 'mixed' END AS doc_type,
      |    'processed' AS status, pages, tlen,
      |    CASE WHEN id % 7 = 3 THEN 1 ELSE 0 END AS ntab,
      |    100.0 AS conf, words, 'pdf' AS charset
      |  FROM (
      |    SELECT id, CASE WHEN t0 THEN 1 ELSE npg END AS pages,
      |      CASE WHEN t0 THEN (wchars + alen) + (nw - nl) + (nl - 1)
      |           ELSE (wchars + alen) + (nw - nl) + (nl - npg0) + 2 * (npg - 1)
      |             + CASE WHEN id % 7 = 3 THEN 13 + idlen ELSE 0 END
      |      END AS tlen,
      |      nw + CASE WHEN id % 7 = 3 THEN 4 ELSE 0 END AS words
      |    FROM pdfm)),
      |scrows AS (
      |  SELECT id, 'scanned' AS doc_type, 'processed' AS status, 1 AS pages,
      |    CASE WHEN knw = 0 THEN 5 + idlen
      |         ELSE kchars + (knw - nlines) + (nlines - 1) END AS tlen,
      |    0 AS ntab,
    |    -- the alien-face slices (generator: typeset slot with (v/4)%4=0
      |    -- or fixed slot with (v/4)%4=2; native DPI; lossless encodings
      |    -- only) read every glyph '?' -> matchRate 0 -> conf 0; text
      |    -- LENGTH and word count are invariant under the '?' map
      |    CASE WHEN (((id // 50) % 4 = 2 AND ((id // 50) // 4) % 4 = 0)
      |               OR ((id // 50) % 4 = 0 AND ((id // 50) // 4) % 4 = 2))
      |              AND (id // 50) % 7 NOT IN (5, 6)
      |              AND (id // 50) % 5 NOT IN (2, 4)
      |         THEN 0.0 ELSE 100.0 END AS conf,
      |    CASE WHEN knw = 0 THEN 2 ELSE knw END AS words,
      |    'pdf' AS charset
      |  FROM (
      |    SELECT id, idlen, len(kw) AS knw, (len(kw) + 5) // 6 AS nlines,
      |      coalesce(list_sum(list_transform(kw, x -> length(x))), 0) AS kchars
      |    FROM (
      |      SELECT id, idlen,
      |        list_filter(
      |          list_transform(words[1:24],
      |            x -> regexp_replace(x, '[^A-Za-z0-9.,:;!?''"()-]', '', 'g')),
      |          x -> regexp_matches(x, '[A-Za-z0-9]')) AS kw
      |      FROM m WHERE route = 'scanned'))),
      |brrows AS (
      |  SELECT id, 'pdf' AS doc_type, 'error' AS status, 0 AS pages,
      |    0 AS tlen, 0 AS ntab, 0.0 AS conf, 0 AS words, 'pdf' AS charset
      |  FROM m WHERE route = 'broken'),
      |lockrows AS (
      |  -- %200==99: AES-256 under a non-empty user password — typed
      |  -- pdf_encrypted_locked refusal, same accounting shape as broken
      |  SELECT id, 'pdf' AS doc_type, 'error' AS status, 0 AS pages,
      |    0 AS tlen, 0 AS ntab, 0.0 AS conf, 0 AS words, 'pdf' AS charset
      |  FROM m WHERE route = 'locked'),
      |alldocs AS (
      |  SELECT * FROM htmlrows UNION ALL SELECT * FROM pdfrows
      |  UNION ALL SELECT * FROM scrows UNION ALL SELECT * FROM brrows
      |  UNION ALL SELECT * FROM lockrows)
      |""".stripMargin

  /** Shared SQL: doc_id → word-3-gram shingle FNV-64 hashes / token hashes
    * (the exact `Dedup.fnv64` fold, mod-2^64 in HUGEINT).
    *
    * CORPUS ASSUMPTION (BMP, simple casing): the Scala side folds UTF-16
    * code units (`String.charAt`) and lowercases via `java.lang.String`,
    * this SQL folds Unicode CODEPOINTS and lowercases via DuckDB `lower()`.
    * The two agree on every BMP character with 1:1 lowercase mapping —
    * which covers the driver's generated corpus — but would diverge on
    * astral-plane characters (emoji, CJK ext-B: one codepoint vs two
    * surrogate units) and special casings (e.g. İ). A corpus needing those
    * would fold surrogate units in the SQL instead; the operators
    * themselves are unaffected (both sides of every pair hash the same way).
    */
  private val FnvFold =
    """list_reduce(
      |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
      |        list_transform(split(__S__, ''), c -> CAST(unicode(c) AS HUGEINT))),
      |      (acc, c) -> (xor(acc, c) * 1099511628211) % 18446744073709551616)""".stripMargin

  /** d02 oracle: the FULL MinHash-LSH pipeline re-derived in SQL —
    * shingle FNV hashes → 64 affine min-hashes (signed min via sign-bit
    * flip; 64×64-bit modular multiply split into 32-bit halves so the
    * 128-bit HUGEINT never overflows) → 16-band FNV bucket keys → bucket
    * join (2..64 clamp) → slot-equality Jaccard estimate ≥ 0.5. Seeds are
    * generated from Dedup's own arrays.
    */
  private def d02OracleSql: String = {
    val (sa, sb) = graft.ops.Dedup.seeds(64)
    val (al, bl) = (hugeList(sa), hugeList(sb))
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), x -> x <> '') AS t
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
       |         ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
       |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
       |  FROM toks
       |), hashed AS (
       |  SELECT doc_id, list_transform(s, sg -> ${FnvFold.replace("__S__", "sg")}) AS hs
       |  FROM sh
       |), sig AS (
       |  SELECT doc_id, list_transform(generate_series(1, 64), k ->
       |      xor(list_reduce(list_transform(hs, h ->
       |            xor(((((h // 4294967296) * $al[k]) % 18446744073709551616 * 4294967296)
       |                   % 18446744073709551616
       |                 + ((h % 4294967296) * $al[k]) % 18446744073709551616
       |                 + $bl[k]) % 18446744073709551616,
       |                CAST(9223372036854775808 AS HUGEINT))),
       |          (x, y) -> least(x, y)),
       |        CAST(9223372036854775808 AS HUGEINT))) AS sg
       |  FROM hashed
       |), banded AS (
       |  SELECT doc_id, band,
       |    list_reduce(
       |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |        list_slice(sg, band * 4 + 1, band * 4 + 4)),
       |      (acc, s) -> (xor(acc, s) * 1099511628211) % 18446744073709551616) AS bkey
       |  FROM sig, (SELECT unnest(range(16)) AS band)
       |), buckets AS (
       |  SELECT band, bkey, list_sort(list(doc_id)) AS ids
       |  FROM banded GROUP BY band, bkey
       |  HAVING count(*) BETWEEN 2 AND 64
       |), pairs AS (
       |  SELECT DISTINCT ia AS id_a, ib AS id_b
       |  FROM buckets, unnest(ids) AS ta(ia), unnest(ids) AS tb(ib)
       |  WHERE ia < ib
       |)
       |SELECT CAST(p.id_a AS BIGINT) AS id_a, CAST(p.id_b AS BIGINT) AS id_b,
       |  list_sum(list_transform(generate_series(1, 64),
       |    k -> CASE WHEN sa.sg[k] = sb.sg[k] THEN 1 ELSE 0 END))::DOUBLE / 64 AS est_jaccard
       |FROM pairs p
       |JOIN sig sa ON sa.doc_id = p.id_a
       |JOIN sig sb ON sb.doc_id = p.id_b
       |WHERE list_sum(list_transform(generate_series(1, 64),
       |    k -> CASE WHEN sa.sg[k] = sb.sg[k] THEN 1 ELSE 0 END))::DOUBLE / 64 >= 0.5
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** d03 oracle: SimHash re-derived in SQL — per-token FNV hashes → 64
    * majority-vote bits → 4×16-bit chunk keys → bucket join (2..256 clamp)
    * → popcount(xor) hamming ≤ 3.
    */
  private def d03OracleSql: String =
    s"""WITH toksall AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), x -> x <> '') AS t
       |  FROM documents
       |), th AS (
       |  SELECT doc_id, len(t) AS n,
       |    list_transform(t, w -> ${FnvFold.replace("__S__", "w")}) AS hs
       |  FROM toksall
       |), sim AS (
       |  SELECT doc_id,
       |    list_sum(list_transform(generate_series(0, 63), b ->
       |      CASE WHEN 2 * len(list_filter(hs, h -> (h // (CAST(1 AS HUGEINT) << b)) % 2 = 1)) > n
       |           THEN (CAST(1 AS HUGEINT) << b) ELSE CAST(0 AS HUGEINT) END)) AS sh
       |  FROM th
       |), banded AS (
       |  SELECT doc_id, sh, chunk, (sh // (CAST(1 AS HUGEINT) << (chunk * 16))) % 65536 AS ckey
       |  FROM sim, (SELECT unnest(range(4)) AS chunk)
       |), buckets AS (
       |  SELECT chunk, ckey, list_sort(list({'id': doc_id, 'h': sh})) AS members
       |  FROM banded GROUP BY chunk, ckey
       |  HAVING count(*) BETWEEN 2 AND 256
       |), pairs AS (
       |  SELECT DISTINCT ma.id AS id_a, ma.h AS h_a, mb.id AS id_b, mb.h AS h_b
       |  FROM buckets, unnest(members) AS ta(ma), unnest(members) AS tb(mb)
       |  WHERE ma.id < mb.id
       |)
       |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       |  CAST(len(list_filter(generate_series(0, 63),
       |    b -> (xor(h_a, h_b) // (CAST(1 AS HUGEINT) << b)) % 2 = 1)) AS INTEGER) AS hamming
       |FROM pairs
       |WHERE len(list_filter(generate_series(0, 63),
       |    b -> (xor(h_a, h_b) // (CAST(1 AS HUGEINT) << b)) % 2 = 1)) <= 3
       |ORDER BY id_a, id_b""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // per-document oracle over the WHOLE extraction surface: url (host
    // rules), deterministic sha-256 doc_id, classification, charset
    // rotation, real confidence (bit-exact double formula), page/char/word
    // accounting — 500 rows hash-compared; text bytes themselves are
    // x02's golden gate
    "x01_extract" -> (ExtractDerivedCte +
      """SELECT
        |  'https://' || CASE WHEN id % 5 = 0 THEN 'big.example.com'
        |    ELSE 'h' || CAST(id % 97 AS VARCHAR) || '.example.com' END
        |    || '/p/' || CAST(id AS VARCHAR) AS url,
        |  sha256('https://' || CASE WHEN id % 5 = 0 THEN 'big.example.com'
        |    ELSE 'h' || CAST(id % 97 AS VARCHAR) || '.example.com' END
        |    || '/p/' || CAST(id AS VARCHAR)) AS doc_id,
        |  doc_type, status, charset,
        |  CAST(conf AS DOUBLE) AS confidence,
        |  CAST(pages AS INTEGER) AS page_count,
        |  CAST(tlen AS INTEGER) AS text_len,
        |  CAST(words AS INTEGER) AS word_count
        |FROM alldocs ORDER BY url""".stripMargin),
    "x04_batch_summary" -> (ExtractDerivedCte +
      """SELECT count(*) AS docs,
        |  CAST(sum(pages) AS BIGINT) AS total_pages,
        |  round(avg(conf), 2) AS avg_confidence,
        |  CAST(count(*) FILTER (status = 'error') AS BIGINT) AS errors,
        |  CAST(sum(tlen) AS BIGINT) AS total_chars,
        |  CAST(sum(words) AS BIGINT) AS total_words
        |FROM alldocs""".stripMargin),
    "x07_catalog_filters" -> (ExtractDerivedCte +
      """SELECT doc_type, count(*) AS docs,
        |  CAST(count(*) FILTER (tlen > 0) AS BIGINT) AS with_text,
        |  CAST(count(*) FILTER (ntab > 0) AS BIGINT) AS with_tables,
        |  CAST(count(*) FILTER (tlen = 0 AND ntab = 0) AS BIGINT) AS empty_docs
        |FROM alldocs
        |WHERE doc_type LIKE '%native%' AND conf >= 50.0
        |GROUP BY doc_type ORDER BY doc_type""".stripMargin),
    "x03_type_counts" -> (ExtractDerivedCte +
      """SELECT doc_type, status, count(*) AS cnt,
        |  CAST(sum(pages) AS BIGINT) AS total_pages,
        |  CAST(sum(tlen) AS BIGINT) AS total_chars
        |FROM alldocs GROUP BY doc_type, status
        |ORDER BY doc_type, status""".stripMargin),
    "x05_storage_stats" -> (ExtractDerivedCte +
      """SELECT doc_type, count(*) AS docs,
        |  CAST(sum(tlen) AS BIGINT) AS text_bytes,
        |  round(sum(tlen) / 1048576.0, 2) AS text_mb
        |FROM alldocs GROUP BY doc_type ORDER BY doc_type""".stripMargin),
    "x06_table_stats" -> (ExtractDerivedCte +
      """SELECT doc_type, count(*) AS docs,
        |  CAST(sum(ntab) AS BIGINT) AS n_tables,
        |  CAST(count(*) FILTER (ntab > 0) AS BIGINT) AS docs_with_tables
        |FROM alldocs GROUP BY doc_type ORDER BY doc_type""".stripMargin),
    "d02_minhash_pairs" -> d02OracleSql,
    "d03_simhash_pairs" -> d03OracleSql,
    "m01_multimodal_features" -> m01OracleSql,
    // decode-gated metadata: Spark MEASURES n_units (PCM frame count /
    // container frame count); the oracle re-derives the generator formulas
    "m02_multimodal_meta" ->
      s"""WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents WHERE doc_id % 3 <> 0),
         |sm AS (SELECT id, ${sm64("id")} AS v FROM docs)
         |SELECT id AS doc_id,
         |  CASE WHEN id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         |  CAST(CASE WHEN id % 3 = 1 THEN ((400 + v % 1024) * 1000) // 8000
         |            ELSE 2000 + (id % 30) * 1000 END AS INTEGER) AS duration_ms,
         |  CAST(CASE WHEN id % 3 = 1 THEN 400 + v % 1024
         |            ELSE 4 + v % 8 END AS BIGINT) AS n_units
         |FROM sm ORDER BY doc_id""".stripMargin,
    // INTEGER casts: Spark length()/size() are int32 — match the width
    "t01_token_stats" ->
      """SELECT doc_id,
        | CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS INTEGER) AS token_count_ws,
        | CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS token_count_bpe,
        | CAST(length(text) AS INTEGER) AS char_len,
        | CAST(length(text) - length(regexp_replace(text, '[ \t\r\n]', '', 'g')) AS INTEGER) AS space_cnt,
        | CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INTEGER) AS digit_cnt,
        | CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS INTEGER) AS punct_cnt,
        | CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS INTEGER) AS upper_cnt
        |FROM documents""".stripMargin,
    "t02_quality" ->
      """SELECT doc_id, round(
        |  greatest(0.0,
        |    least(length(text) / 500.0, 1.0) * 30.0
        |    + least((CASE WHEN length(trim(text)) = 0 THEN 0
        |             ELSE length(regexp_split_to_array(trim(text), '\s+')) END) / 80.0, 1.0) * 30.0
        |    + 40.0
        |    - least((length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')))
        |            / greatest(length(text), 1.0) * 100.0, 20.0)
        |    - least((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
        |            / greatest(length(text), 1.0) * 50.0, 10.0)
        |    - least((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))
        |            / greatest(length(text), 1.0) * 50.0, 10.0)
        |  ), 6) AS quality_score
        |FROM documents""".stripMargin,
    "d01_exact_dup_groups" ->
      """SELECT sha256(text) AS content_hash, count(*) AS cnt
        |FROM documents GROUP BY 1 HAVING count(*) > 1""".stripMargin,
    // exact all-pairs word-3-gram Jaccard >= 0.5 (same tokenizer class and
    // set semantics as Dedup.shingleSet); the Spark side reaches the same
    // answer through MinHash-LSH candidates + exact verification — recall
    // is exact on this corpus (all true pairs sit at J >= 0.9)
    "d04_ngram_verified_dups" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
        |  FROM toks)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b,
        |    len(list_intersect(a.s, b.s))::DOUBLE /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id) p
        |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    // exact cross-half n-gram Jaccard >= 0.5 (even doc_ids = "new" crawl
    // increment, odd = existing corpus)
    "d07_incremental_dups" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
        |  FROM toks)
        |SELECT new_id, old_id, jaccard FROM (
        |  SELECT CAST(a.doc_id AS BIGINT) AS new_id, CAST(b.doc_id AS BIGINT) AS old_id,
        |    len(list_intersect(a.s, b.s))::DOUBLE /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1) p
        |WHERE jaccard >= 0.5 ORDER BY new_id, old_id""".stripMargin,
    // exact all-pairs n-gram containment (both directions) at the 0.9 gate
    "d06_containment" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
        |  FROM toks)
        |SELECT id_a, id_b, cont_a_in_b, cont_b_in_a FROM (
        |  SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b,
        |    len(list_intersect(a.s, b.s))::DOUBLE / len(a.s) AS cont_a_in_b,
        |    len(list_intersect(a.s, b.s))::DOUBLE / len(b.s) AS cont_b_in_a
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id) p
        |WHERE greatest(cont_a_in_b, cont_b_in_a) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    // connected components over the same exact-verified pair set, via a
    // recursive transitive-closure CTE; cluster id = min member id
    "d05_dup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
        |  FROM toks),
        |pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b,
        |      len(list_intersect(a.s, b.s))::DOUBLE /
        |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id) p
        |  WHERE jaccard >= 0.5),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node)
        |SELECT cluster, count(*) AS members FROM (
        |  SELECT node, min(lbl) AS cluster FROM reach GROUP BY node) q
        |GROUP BY cluster ORDER BY cluster""".stripMargin,
    // same stopword-argmax heuristic, alphabetical tie-break, zh via CJK
    // ratio, und on zero hits
    "t03_langid" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    regexp_split_to_array(lower(text), '[^\p{L}]+') AS toks,
        |    CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS cjk
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, lang, cjk,
        |    len(list_filter(['der','die','und','das','nicht','von','sie','ist','des','sich','mit','dem','dass','er','ein'], w -> list_contains(toks, w))) AS h_de,
        |    len(list_filter(['the','and','of','to','in','is','that','it','was','for','with','are','this','have','not'], w -> list_contains(toks, w))) AS h_en,
        |    len(list_filter(['el','la','de','que','y','los','del','las','por','un','una','con','para','es','su'], w -> list_contains(toks, w))) AS h_es,
        |    len(list_filter(['le','la','les','des','est','et','une','dans','qui','que','pour','sur','pas','au','avec'], w -> list_contains(toks, w))) AS h_fr
        |  FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN cjk > 0.05 THEN 'zh'
        |       WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
        |       WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
        |       WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
        |       WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |FROM h""".stripMargin,
    // composed verdict: dup losers from exact all-pairs Jaccard (min-id
    // canonical keeps), quality and language from the t02/t03 expressions
    "t05_curation" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
        |  FROM toks),
        |losers AS (
        |  SELECT DISTINCT id_b AS loser_id FROM (
        |    SELECT CAST(b.doc_id AS BIGINT) AS id_b,
        |      len(list_intersect(a.s, b.s))::DOUBLE /
        |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id) p
        |  WHERE jaccard >= 0.5),
        |feats AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    greatest(0.0,
        |      least(length(text) / 500.0, 1.0) * 30.0
        |      + least((CASE WHEN length(trim(text)) = 0 THEN 0
        |               ELSE length(regexp_split_to_array(trim(text), '\s+')) END) / 80.0, 1.0) * 30.0
        |      + 40.0
        |      - least((length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')))
        |              / greatest(length(text), 1.0) * 100.0, 20.0)
        |      - least((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
        |              / greatest(length(text), 1.0) * 50.0, 10.0)
        |      - least((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))
        |              / greatest(length(text), 1.0) * 50.0, 10.0)) AS q,
        |    regexp_split_to_array(lower(text), '[^\p{L}]+') AS ltoks,
        |    CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS cjk
        |  FROM documents),
        |langed AS (
        |  SELECT doc_id, q,
        |    CASE WHEN cjk > 0.05 THEN 'zh'
        |         WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
        |         WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
        |         WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
        |         WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
        |         ELSE 'fr' END AS l
        |  FROM (
        |    SELECT doc_id, q, cjk,
        |      len(list_filter(['der','die','und','das','nicht','von','sie','ist','des','sich','mit','dem','dass','er','ein'], w -> list_contains(ltoks, w))) AS h_de,
        |      len(list_filter(['the','and','of','to','in','is','that','it','was','for','with','are','this','have','not'], w -> list_contains(ltoks, w))) AS h_en,
        |      len(list_filter(['el','la','de','que','y','los','del','las','por','un','una','con','para','es','su'], w -> list_contains(ltoks, w))) AS h_es,
        |      len(list_filter(['le','la','les','des','est','et','une','dans','qui','que','pour','sur','pas','au','avec'], w -> list_contains(ltoks, w))) AS h_fr
        |    FROM feats) h)
        |SELECT f.doc_id,
        |  CASE WHEN lo.loser_id IS NOT NULL THEN 'dup'
        |       WHEN f.q < 60.0 THEN 'low_quality'
        |       WHEN f.l = 'und' THEN 'lang'
        |       ELSE 'keep' END AS verdict,
        |  (CASE WHEN lo.loser_id IS NOT NULL THEN 'dup'
        |        WHEN f.q < 60.0 THEN 'low_quality'
        |        WHEN f.l = 'und' THEN 'lang'
        |        ELSE 'keep' END = 'keep') AS keep
        |FROM langed f LEFT JOIN losers lo ON f.doc_id = lo.loser_id
        |ORDER BY f.doc_id""".stripMargin,
    // plants the same deterministic PII the Spark query plants (id%5 email,
    // id%7 IPv4, id%11 phone), then counts and scrubs with the same regexes
    "t06_pii_scrub" ->
      s"""WITH planted AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 5 = 0
        |            THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0
        |            THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0
        |            THEN ' call +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 4, '0') ELSE '' END
        |    AS ptext
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(ptext, '${graft.ops.TextStats.EmailRe}')) AS INTEGER) AS email_cnt,
        |  CAST(len(regexp_extract_all(ptext, '${graft.ops.TextStats.PhoneRe}')) AS INTEGER) AS phone_cnt,
        |  CAST(len(regexp_extract_all(ptext, '${graft.ops.TextStats.Ipv4Re}')) AS INTEGER) AS ip_cnt,
        |  regexp_replace(regexp_replace(regexp_replace(ptext,
        |    '${graft.ops.TextStats.EmailRe}', '<EMAIL>', 'g'),
        |    '${graft.ops.TextStats.PhoneRe}', '<PHONE>', 'g'),
        |    '${graft.ops.TextStats.Ipv4Re}', '<IP>', 'g') AS scrubbed
        |FROM planted""".stripMargin,
    // same tokenization as t05's shingle CTE; n-gram lists rebuilt by index
    "t07_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 2 THEN []::VARCHAR[]
        |         ELSE list_transform(generate_series(1, len(t) - 1),
        |                i -> t[i] || ' ' || t[i+1]) END AS g2,
        |    CASE WHEN len(t) < 3 THEN []::VARCHAR[]
        |         ELSE list_transform(generate_series(1, len(t) - 2),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS g3
        |  FROM toks)
        |SELECT doc_id,
        |  CAST(len(g2) AS INTEGER) AS n2_total,
        |  CAST(len(list_distinct(g2)) AS INTEGER) AS n2_distinct,
        |  round(CASE WHEN len(g2) = 0 THEN 0.0
        |        ELSE 1.0 - len(list_distinct(g2))::DOUBLE / len(g2)::DOUBLE END, 6) AS dup2_ratio,
        |  CAST(len(g3) AS INTEGER) AS n3_total,
        |  CAST(len(list_distinct(g3)) AS INTEGER) AS n3_distinct,
        |  round(CASE WHEN len(g3) = 0 THEN 0.0
        |        ELSE 1.0 - len(list_distinct(g3))::DOUBLE / len(g3)::DOUBLE END, 6) AS dup3_ratio
        |FROM g""".stripMargin,
    // the keep decision re-derived: splitmix64(doc_id) mod 100 < rate(lang)
    "t08_stratified_sample" ->
      s"""SELECT doc_id, lang FROM documents
        |WHERE (${sm64("doc_id")}) % 100 <
        |  CASE lang WHEN 'en' THEN 50 WHEN 'es' THEN 80 WHEN 'de' THEN 80
        |            WHEN 'fr' THEN 80 WHEN 'zh' THEN 30 ELSE 5 END
        |ORDER BY doc_id""".stripMargin,
    // paragraphs re-derived (12-word chunks + identical planted header/
    // footer); first-occurrence-wins re-derived as a window — the oracle
    // needs correctness, not the skew-safe agg+join the Spark side uses
    "t09_paragraph_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, str_split_regex(text, ' +') AS w FROM documents),
        |paras AS (
        |  SELECT doc_id,
        |    list_concat(
        |      CASE WHEN doc_id % 4 = 1
        |           THEN ['shared legal header follow the terms and conditions']
        |           ELSE []::VARCHAR[] END,
        |      list_concat(
        |        list_transform(generate_series(0, (len(w) - 1) // 12),
        |          i -> array_to_string(w[i*12+1 : i*12+12], ' ')),
        |        CASE WHEN doc_id % 3 = 0
        |             THEN ['subscribe to our newsletter for more updates today']
        |             ELSE []::VARCHAR[] END))
        |    AS p
        |  FROM w),
        |expl0 AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(p)),
        |      i -> {'pos': i - 1, 'para': p[i]})) AS u
        |  FROM paras),
        |expl AS (
        |  SELECT doc_id, u.pos AS pos, u.para AS para
        |  FROM expl0 WHERE u.para <> ''),
        |marked AS (
        |  SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) = 1 AS kept
        |  FROM expl)
        |SELECT doc_id,
        |  CAST(count(*) AS INTEGER) AS n_paras,
        |  CAST(count(*) FILTER (kept) AS INTEGER) AS n_kept,
        |  coalesce(string_agg(para, chr(10) || chr(10) ORDER BY pos)
        |             FILTER (kept), '') AS clean_text
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same deterministic decomposition, DuckDB's own nfc_normalize /
    // strip_accents as the independent normalizer
    "t11_normalize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    text || ' r' || chr(233) || 'sum' || chr(233) || ' ' ||
        |      chr(241) || 'o' || chr(241) || 'o ' || chr(252) || 'ber ' ||
        |      chr(197) || 'ngstr' || chr(246) || 'm' AS ptext
        |  FROM documents),
        |dd AS (
        |  SELECT doc_id, ptext,
        |    replace(replace(replace(ptext,
        |      chr(233), 'e' || chr(769)), chr(243), 'o' || chr(769)),
        |      chr(252), 'u' || chr(776)) AS d
        |  FROM m)
        |SELECT doc_id,
        |  length(d) AS len_decomposed,
        |  length(nfc_normalize(d)) AS len_nfc,
        |  nfc_normalize(d) = ptext AS restored,
        |  length(strip_accents(ptext)) AS len_folded
        |FROM dd ORDER BY doc_id""".stripMargin,
    // eval set + planted seed re-derived; overlap = distinct shared 8-grams
    "t10_decontaminate" ->
      """WITH seed AS (
        |  SELECT array_to_string(str_split_regex(text, ' +')[1:12], ' ') AS s
        |  FROM documents WHERE doc_id = 13),
        |train AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 31 = 7
        |         THEN text || ' ' || coalesce((SELECT s FROM seed), '')
        |         ELSE text END AS ptext
        |  FROM documents WHERE doc_id % 97 <> 13),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(ptext), '[^\p{L}\p{N}]+'),
        |                x -> x <> '') AS t
        |  FROM train),
        |g8 AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 8 THEN []::VARCHAR[]
        |         ELSE list_distinct(list_transform(generate_series(1, len(t) - 7),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |                  || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]))
        |    END AS g
        |  FROM toks),
        |etoks AS (
        |  SELECT list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
        |                     x -> x <> '') AS t
        |  FROM documents WHERE doc_id % 97 = 13),
        |eg AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest(CASE WHEN len(t) < 8 THEN []::VARCHAR[]
        |      ELSE list_transform(generate_series(1, len(t) - 7),
        |             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |               || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7])
        |    END) AS g FROM etoks)),
        |hits AS (
        |  SELECT doc_id, CAST(count(*) AS INTEGER) AS overlap_cnt
        |  FROM (SELECT doc_id, unnest(g) AS gg FROM g8) u
        |  JOIN eg ON u.gg = eg.g
        |  GROUP BY doc_id)
        |SELECT t.doc_id,
        |  coalesce(h.overlap_cnt, 0) AS overlap_cnt,
        |  coalesce(h.overlap_cnt, 0) > 0 AS contaminated
        |FROM train t LEFT JOIN hits h ON t.doc_id = h.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    // injectivity check: xxhash64 itself is not reproducible in DuckDB, but
    // "one fingerprint per distinct normalized text" is
    "t04_fingerprint" ->
      """SELECT
        | count(DISTINCT regexp_replace(lower(text), '\s+', ' ', 'g')) AS distinct_fingerprints,
        | count(DISTINCT regexp_replace(lower(text), '\s+', ' ', 'g')) AS distinct_norm_texts,
        | count(*) AS docs FROM documents""".stripMargin,
    "s02_embedding_norms" ->
      """SELECT vec_id,
        | round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 4) AS l2norm
        |FROM embeddings""".stripMargin,
    // int8 symmetric quantization re-derived with the same double formulas
    "s05_quantize_embeddings" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS m
        |  FROM embeddings)
        |SELECT vec_id,
        |  round(m, 6) AS scale,
        |  CASE WHEN m = 0 THEN 0
        |       ELSE CAST(list_sum(list_transform(v,
        |              x -> CAST(round(x * 127.0 / m) AS BIGINT))) AS BIGINT)
        |  END AS q_sum,
        |  CASE WHEN m = 0 THEN 0.0
        |       ELSE round(list_max(list_transform(v,
        |              x -> abs(x - round(x * 127.0 / m) * m / 127.0))), 6)
        |  END AS q_max_err
        |FROM e ORDER BY vec_id""".stripMargin,
    // exact top-10 (query vector included, cos(q,q)=1 ranks first): IVF at
    // nprobe=12/16 must reproduce it bit-exactly while scanning only the
    // probed lists
    // the top-10 SET is selected on the EXACT cosine (inner LIMIT), like
    // the Spark side — ordering by the rounded value could pick a
    // different boundary row when two cosines differ only past 4 decimals
    "s03_ivf_topk" ->
      """SELECT id, round(cos, 4) AS cos FROM (
        |  SELECT CAST(e.vec_id AS BIGINT) AS id,
        |    coalesce(list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[])
        |      / nullif(sqrt(list_sum(list_transform(e.embedding::DOUBLE[], x -> x * x)))
        |         * sqrt(list_sum(list_transform(q.embedding::DOUBLE[], x -> x * x))), 0), 0) AS cos
        |  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |  ORDER BY cos DESC, id LIMIT 10) t""".stripMargin,
    // exact all-pairs cosine >= 0.9 over the same augmented corpus the Spark
    // query builds (base ∪ +0.001-perturbed copies at vec_id+100000)
    "s04_cosine_near_dups" ->
      """WITH c AS (
        |  SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT CAST(vec_id AS BIGINT) + 100000,
        |         list_transform(embedding::DOUBLE[], x -> x + 0.001) FROM embeddings)
        |SELECT id_a, id_b, round(cos, 4) AS cos FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    coalesce(list_dot_product(a.v, b.v)
        |      / nullif(sqrt(list_sum(list_transform(a.v, x -> x * x)))
        |         * sqrt(list_sum(list_transform(b.v, x -> x * x))), 0), 0) AS cos
        |  FROM c a JOIN c b ON a.vec_id < b.vec_id) p
        |WHERE cos >= 0.9 ORDER BY id_a, id_b""".stripMargin,
    "s01_cosine_topk" ->
      """SELECT vec_id, round(cos, 4) AS cos FROM (
        |  SELECT e.vec_id,
        |    coalesce(list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[])
        |      / nullif(sqrt(list_sum(list_transform(e.embedding::DOUBLE[], x -> x * x)))
        |         * sqrt(list_sum(list_transform(q.embedding::DOUBLE[], x -> x * x))), 0), 0) AS cos
        |  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |  WHERE e.vec_id <> 0
        |  ORDER BY cos DESC, e.vec_id LIMIT 10) t""".stripMargin,
    "q01_pricing_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        | round(sum(l_quantity), 2) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_events_topn" ->
      "SELECT event_id, event_type, value FROM events ORDER BY ts DESC, event_id DESC LIMIT 20",
    "q03_click_users" ->
      "SELECT user_id, count(*) AS cnt FROM events WHERE event_type = 'click' GROUP BY user_id",
    "q04_doc_stats" ->
      """SELECT doc_id, n_chars, CAST(length(text) AS INTEGER) AS text_len,
        | CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS INTEGER) AS word_count
        |FROM documents""".stripMargin,
    "q05_dedup_exact" ->
      "SELECT md5(text) AS h, count(*) AS cnt FROM documents GROUP BY 1",
    "q06_latest_event" ->
      """SELECT user_id, event_id FROM (
        |  SELECT user_id, event_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin,
    // DuckDB types sum(BIGINT) as HUGEINT; cast to match Spark's BIGINT sum.
    "q07_lang_stats" ->
      "SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents GROUP BY lang",
    "q08_priority_revenue" ->
      """SELECT o_orderpriority, count(*) AS cnt,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q09_nation_revenue" ->
      """SELECT n_name, count(*) AS cnt,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q10_segment_orders" ->
      """SELECT c_mktsegment, count(*) AS cnt,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q11_user_running_value" ->
      """SELECT event_id, user_id,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
        |   PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM events""".stripMargin,
    "q12_part_type_share" ->
      """SELECT p_type, cnt, round(cnt / sum(cnt) OVER (), 6) AS share
        |FROM (SELECT p_type, count(*) AS cnt FROM part GROUP BY p_type)""".stripMargin,
    "q14_monthly_orders" ->
      """SELECT substring(CAST(o_orderdate AS VARCHAR), 1, 7) AS month,
        | count(*) AS cnt,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,
    "q15_hourly_events" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
        | count(*) AS cnt,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q13_top_customers_per_nation" ->
      """SELECT c_custkey, c_nationkey, c_acctbal, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT c_custkey, c_nationkey, c_acctbal,
        |         row_number() OVER (PARTITION BY c_nationkey
        |                            ORDER BY c_acctbal DESC, c_custkey) AS rk
        |  FROM customer) t WHERE rk <= 2""".stripMargin,
    // the JSON field re-derived by regexp (no JSON extension needed)
    "q16_event_props" ->
      """WITH e AS (
        |  SELECT event_type,
        |         TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) AS k
        |  FROM events)
        |SELECT event_type,
        |  CAST(count(*) AS INTEGER) AS events,
        |  CAST(sum(k) AS BIGINT) AS k_sum,
        |  round(avg(k), 4) AS k_avg,
        |  CAST(count(*) FILTER (k >= 50) AS INTEGER) AS k_hi
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
  )

  private def lineitem(s: SparkSession, dir: String) = s.read.parquet(s"$dir/lineitem.parquet")
  private def supplier(s: SparkSession, dir: String) = s.read.parquet(s"$dir/supplier.parquet")
  private def nation(s: SparkSession, dir: String) = s.read.parquet(s"$dir/nation.parquet")
  private def customer(s: SparkSession, dir: String) = s.read.parquet(s"$dir/customer.parquet")
  private def part(s: SparkSession, dir: String) = s.read.parquet(s"$dir/part.parquet")
  private def orders(s: SparkSession, dir: String) = s.read.parquet(s"$dir/orders.parquet")
  private def events(s: SparkSession, dir: String) = s.read.parquet(s"$dir/events.parquet")
  private def documents(s: SparkSession, dir: String) = s.read.parquet(s"$dir/documents.parquet")
  private def embeddings(s: SparkSession, dir: String) = s.read.parquet(s"$dir/embeddings.parquet")
}
