package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit hash-partitioning + skewed-host salting (north_rule; SURVEY §4
  * custom-work item 2).
  *
  * Web-crawl rows are heavily host-skewed (one host can be 20%+ of a crawl).
  * Plan: derive `host = parse_url(url, 'HOST')`; detect heavy hitters with a
  * cheap column-pruned sampled count; give each heavy host `SaltBuckets`
  * sub-keys (`pmod(xxhash64(url), S)`), everything else salt 0; repartition
  * on `(host, salt)`. AQE skew handling remains the backstop for residual
  * skew; this bounds the worst partition BEFORE the expensive extraction
  * stage rather than after a skewed shuffle materializes.
  */
object Salting {

  /** Sub-keys per heavy host. */
  val SaltBuckets = 8

  def hostCol(url: Column): Column = parse_url(url, lit("HOST"))

  /** Hosts whose row share exceeds `shareThreshold` in a sampled scan.
    * Column-pruned: reads only `url`. Deterministic sample seed.
    *
    * The threshold filter runs DISTRIBUTED: the driver never sees the full
    * distinct-host set (10^7-10^8 hosts on a real crawl), only the hosts
    * above the share threshold — at most floor(1/shareThreshold) rows by
    * construction, since each must hold > shareThreshold of the total.
    */
  def detectHeavyHosts(pages: DataFrame, shareThreshold: Double = 0.05,
                       sampleFraction: Double = 0.1): Seq[String] = {
    val sampled =
      if (sampleFraction >= 1.0) pages.select("url")
      else pages.select("url").sample(withReplacement = false, sampleFraction, seed = 42L)
    // ONE scan of the input: the total comes from the (persisted) per-host
    // aggregate — a separate count() action re-scanned the raw projection
    // (and re-generated payloads on the synthetic source) on every run
    val grouped = sampled
      .groupBy(hostCol(col("url")).as("host"))
      .agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      val total = grouped.agg(coalesce(sum("cnt"), lit(0L)))
        .collect()(0).getLong(0).toDouble
      if (total == 0) return Nil
      grouped
        .where(col("cnt") > lit(shareThreshold * total) && col("host").isNotNull)
        .select("host")
        .collect().map(_.getString(0)).toSeq.sorted
    } finally grouped.unpersist()
  }

  /** Salt column: heavy hosts fan out over `SaltBuckets`, others stay 0. */
  def saltCol(url: Column, heavyHosts: Seq[String]): Column =
    if (heavyHosts.isEmpty) lit(0)
    else when(hostCol(url).isin(heavyHosts: _*),
      pmod(xxhash64(url), lit(SaltBuckets.toLong)).cast("int")).otherwise(lit(0))

  /** Repartition on (host, salt): co-locates a host's rows (politeness /
    * downstream host-level aggregation) while bounding the heavy hosts.
    */
  def saltedRepartition(pages: DataFrame, partitions: Int,
                        heavyHosts: Seq[String]): DataFrame =
    pages.repartition(partitions, hostCol(col("url")), saltCol(col("url"), heavyHosts))
}
