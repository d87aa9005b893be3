package graftbench

import graft.queries._

/** The catalog modules the corpus workload's queries come from, by name. */
object Catalog {
  val modules: Seq[(String, Map[String, QueryDef])] = Seq(
    "text" -> TextQueries.defs,
    "tokenizer" -> TokenizerQueries.defs,
    "similarity" -> SimilarityQueries.defs,
    "pipeline" -> PipelineQueries.defs,
    "multimodal" -> MultimodalQueries.defs)

  val moduleNames: Seq[String] = modules.map(_._1)

  def moduleOf(query: String): String =
    modules.collectFirst { case (m, defs) if defs.contains(query) => m }
      .getOrElse(throw new NoSuchElementException(s"no catalog query $query"))
}
