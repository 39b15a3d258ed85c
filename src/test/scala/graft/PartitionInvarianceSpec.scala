package graft

/** Results must not depend on the shuffle partitioning — the property the
  * DECIMAL-aggregate/round-before-rank discipline exists to guarantee
  * (a plan that sums raw doubles or ranks unrounded scores would flip
  * values or rows between 7 and 32 partitions, and between local[32]
  * and 1000 executors).
  */
class PartitionInvarianceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val probes = Seq(
    "q1_pricing_summary",    // decimal aggregation
    "cdc_lww_state_wide",    // max_by over wide structs
    "dedup_minhash_lsh",     // min partial aggs + bucket join
    "text_tfidf_top_terms",  // log scores, rounded before ranking
    "events_percentiles",    // exact interpolated percentiles
    "text_unigram_logprob",  // ln means, rounded
    "text_boilerplate",      // span df + per-doc rollup
    "emb_cluster_profile",   // decimal mean + struct-min tie-break
    "cdc_gtid_frontier",     // island coalescing + string fold
    "emb_kmeans_refine",     // decimal dimension means + ordered rebuild
    "dedup_clusters",        // iterative star-contraction fixpoint
    "events_anomaly",        // decimal moments + division-free sigma test
    "events_rolling_avg",    // decimal RANGE-window sums
    "ann_pq_adc",            // fixed-order ADC sum, rounded before rank
    "text_contamination_bloom", // bit_or word fold + candidate counts
    "q11_important_parts",   // scalar probe + decimal share threshold
    "q21_sole_blame",        // conditional distinct + min-over-case
    "cdc_scd2_history",      // per-key interval chaining
    "cdc_snapshot_diff",     // conditional max_by dual images
    "cdc_time_weighted_avg", // decimal exposure integral
    "dedup_prefix_join",     // df-ordered prefixes + exact verify
    "quality_psi_drift",     // broadcast ranges + smoothed ln sum
    "part_price_slope",      // decimal sufficient statistics
    "mm_phash_dedup",        // decode-side signatures + banded verify
    "text_weighted_sample",  // rounded ES keys, ordered take
    "events_top_paths")      // packed session keys, distinct support

  test("query results are identical under 7 and 32 shuffle partitions") {
    val conf = spark.conf
    val original = conf.get("spark.sql.shuffle.partitions")
    def runAll(): Map[String, Seq[String]] =
      probes.map { name =>
        spark.catalog.clearCache()
        name -> SparkEntry.queries(name)(spark, dir).collect().map(_.toString).toSeq
      }.toMap
    try {
      conf.set("spark.sql.shuffle.partitions", "7")
      val at7 = runAll()
      conf.set("spark.sql.shuffle.partitions", "32")
      val at32 = runAll()
      for (name <- probes)
        assert(at7(name) == at32(name), s"$name diverges across partitionings")
    } finally conf.set("spark.sql.shuffle.partitions", original)
  }
}
