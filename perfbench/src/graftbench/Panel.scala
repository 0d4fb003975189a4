package graftbench

/** Which queries the benchmark runs. */
object Panel {

  /** The document-curation chain, in dependency order: acquisition
    * funnel → dedup cascade → quality filter → tokenize → pack.
    */
  val chain: Seq[String] = Seq("q_acquisition_funnel", "q_dedup_cascade",
    "q_quality_filters", "q_bpe_stats", "q_pack_stats")

  /** Queries whose output content legitimately varies between two
    * executions on the same input; only their row counts are compared.
    * Each was seen to change its digest across repeated executions.
    */
  val rowsOnly: Set[String] = Set.empty
}
