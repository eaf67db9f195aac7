package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.registry.Registry

/** Query entry points — see SURVEY.md §7.
  *
  * Every operator family from SURVEY.md §2 (scans, projections, scalar
  * functions, aggregations, the join/set-op query algebra, sort/top-k/
  * pagination, the CNF front-end) plus the LLM-pipeline extensions
  * (dedup, similarity, text analysis, multimodal, sessionization) has a
  * row in [[graft.registry.Registry]], each with its DuckDB oracle.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("search_cnf")(spark, "/root/testdata/sf0.001")

  /** Name → run view of the registry. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.specs.map(q => q.name -> q.run).toMap
}
