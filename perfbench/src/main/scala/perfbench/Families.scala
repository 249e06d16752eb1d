package perfbench

/** The 31 headline queries of `graft.Bench`, grouped into the four operator
  * families whose time sums the curation workload reports.
  */
object Families {

  val All: Seq[(String, Seq[String])] = Seq(
    "rel_stats" -> Seq("q1_pricing_summary", "j1_inner_join",
      "a1_replicate_summary", "a10_spearman", "f10_zscore_trainonly"),
    "windows_asof" -> Seq("j8_asof_join", "w_sessionize", "w_backfill",
      "w1_topk_per_group"),
    "text_curation" -> Seq("txt_token_stats", "txt_langid", "txt_tfidf_topk",
      "txt_unigram_nll", "txt_quality_classifier", "txt_c4_clean",
      "txt_gopher_gate", "txt_pii_redact", "m_token_budget_skew",
      "m_pack_sequences", "m_temperature_sample", "curation_funnel"),
    "dedup_sim" -> Seq("dd_exact", "dd_ngram_jaccard", "dd_minhash_lsh",
      "dd_simhash", "dd_line_dedup", "dd_decontaminate", "dd_semantic",
      "ann_brute_topk", "ann_ivf_topk", "sim_lsh_neardup"))

  def familyOf: Map[String, String] =
    All.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap

  /** `graft.Bench`'s headline list, in its order. It is private there, so it
    * is read by reflection: the benchmark follows the engine's list instead
    * of keeping a copy that could drift.
    */
  def headline(): Seq[String] = {
    val m = graft.Bench.getClass.getDeclaredMethods
      .find(_.getName.endsWith("HeadlineQueries"))
      .getOrElse(throw new IllegalStateException(
        "graft.Bench has no HeadlineQueries list"))
    m.setAccessible(true)
    m.invoke(graft.Bench).asInstanceOf[Seq[String]]
  }

  /** Every problem with the family table against the engine: a headline
    * query in no family or in two, a family entry that is not a headline
    * query, or a name the query registry does not resolve. Empty when sound.
    */
  def problems(headline: Seq[String], registry: Set[String]): Seq[String] = {
    val listed = All.flatMap(_._2)
    val dupHeadline = headline.diff(headline.distinct).distinct
      .map(q => s"duplicate headline query $q")
    val dupFamily = listed.diff(listed.distinct).distinct
      .map(q => s"query $q is in more than one family")
    val unfiled = headline.distinct.filterNot(listed.contains)
      .map(q => s"headline query $q is in no family")
    val extra = listed.distinct.filterNot(headline.contains)
      .map(q => s"family query $q is not a headline query")
    val unresolved = listed.distinct.filterNot(registry.contains)
      .map(q => s"query $q does not resolve in SparkEntry.queries")
    dupHeadline ++ dupFamily ++ unfiled ++ extra ++ unresolved
  }
}
