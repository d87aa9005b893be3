package graftbench

/** The benchmark's workloads. */
object Workloads {

  /** Catalog queries of the `corpus` workload: 17 of the 73 queries of the
    * corpus-pipeline modules (text, tokenizer, similarity, pipeline,
    * multimodal), about as many per module as the module's share of the 73.
    * The subset keeps the whole catalog's split between construction and
    * execution (measured warm at sf0.01: 0.48 of the time and 234 of 486
    * jobs are construction; the subset: 0.48 and 61 of 119) and each
    * module's mean query time. It holds the two heaviest builders
    * (q_corpus_build, q_neardup_components, ~20 construction jobs each) and
    * the two unpartitioned windows (q_importance_weights,
    * q_logreg_ngram_step).
    */
  val corpus: Seq[String] = Seq(
    // similarity
    "q_corpus_build", "q_neardup_components", "q_ngram_jaccard", "q_ann_cosine",
    "q_embed_centroid", "q_pq_encode",
    // text
    "q_logreg_ngram_step", "q_bm25", "q_wordcount", "q_pii_redact", "q_sql_functions",
    // tokenizer
    "q_bpe_encode", "q_bpe_pairs",
    // pipeline
    "q_importance_weights", "q_top_tokens", "q_domain_mix",
    // multimodal
    "q_media_quarantine")

  val names: Seq[String] = Seq("corpus", "pubsub")
}
