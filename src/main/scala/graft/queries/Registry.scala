package graft.queries

/** Single place that assembles every declared query family into the
  * driver contract maps (SparkEntry.queries / SparkEntry.oracleSql).
  */
object Registry {
  def all: Seq[QueryDef] =
    CoreQueries.defs ++ TelemetryQueries.defs ++ TpchQueries.defs ++
      DedupQueries.defs ++ AnnQueries.defs ++ TextQueries.defs ++
      CurationQueries.defs ++ MultimodalQueries.defs

  /** Collapse SQL whitespace so oracle_sql.json stays one-line-friendly. */
  private def squash(sql: String): String =
    sql.replaceAll("\\s+", " ").trim

  lazy val queries = all.map(q => q.name -> q.build).toMap
  lazy val oracleSql = all.flatMap(q => q.oracle.map(o => q.name -> squash(o))).toMap
}
