package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalogue entry: a Spark query over a testdata sf directory plus
  * (when SQL-expressible) the equivalent ANSI SQL the driver runs in
  * DuckDB as the oracle. Keeping both halves in one value prevents the
  * queries/oracleSql maps from drifting apart.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
)

object QueryCatalog {
  /** The query families, in stable catalogue order. */
  def groups: Seq[(String, Seq[Q])] = Seq(
    "relational" -> graft.operators.RelationalQueries.all,
    "geo" -> graft.operators.GeoQueries.all,
    "dedup" -> graft.operators.DedupQueries.all,
    "text" -> graft.operators.TextQueries.all,
    "similarity" -> graft.operators.SimilarityQueries.all,
    "multimodal" -> graft.operators.MultimodalQueries.all,
    "events" -> graft.operators.EventQueries.all,
    "url" -> graft.operators.UrlQueries.all,
    "extra" -> graft.operators.ExtraQueries.all,
    "graph" -> graft.operators.GraphQueries.all,
    "pipeline" -> graft.operators.PipelineQueries.all,
  )

  /** Every query of every family, in stable order. Every fn is wrapped
    * to register the engine's custom SQL functions on the session
    * first (idempotent, microseconds): several operators reference
    * them inside `expr(...)` strings and higher-order-function
    * lambdas, where only the session FunctionRegistry can resolve
    * them.
    */
  def all: Seq[Q] = groups.flatMap(_._2).map(q => q.copy(fn = (s, d) => {
    graft.functions.exprs.register(s)
    q.fn(s, d)
  }))
}
