package graft
package registry

/** Every registry query, one module object per library module. */
object Registry {
  val modules: Seq[Module] = Seq(RelationalQueries, TextQueries, SimilarityQueries,
    DedupQueries, CorpusQueries, StreamingQueries, MultimodalQueries,
    FunctionsQueries, QualityQueries, SourcesQueries, GraphsQueries)

  lazy val all: Seq[Query] = unique(modules.flatMap(_.queries))

  /** `qs`, after checking that no two queries share a name. */
  private[graft] def unique(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate registry query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }
}
