package perfbench

/** The catalog rows each read workload runs in every pass. */
object Rows {
  val analytics: Seq[String] = Seq(
    "q02_pricing_summary", "q07_quartile_bucket", "q11_star_join_revenue",
    "q27_welch_ttest", "q50_fpgrowth_rules", "q78_chi2_independence")

  val dedupSearch: Seq[String] = Seq(
    "q31_dedup_exact", "q34_simhash", "q35_ann_cosine", "q39_fingerprint",
    "q88_embed_quantize", "q128_bpe_count", "q140_bpe_byte_pretok")
}
