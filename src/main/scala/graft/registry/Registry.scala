package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry row: `run` builds the query over (session, sf dir), and
  * `oracle` is DuckDB SQL computing the same rows (same column names,
  * deterministic values) over the same parquet tables.
  */
final case class QuerySpec(name: String,
                           run: (SparkSession, String) => DataFrame,
                           oracle: String)

/** Every row, one family file per operator family. Verify, Bench
  * and `SparkEntry.queries` all read this one list.
  */
object Registry {
  val specs: Seq[QuerySpec] =
    IndexQueries.specs ++ SearchQueries.specs ++ FormatQueries.specs ++
      RelationalQueries.specs ++ TableQueries.specs ++ GraphQueries.specs ++
      EventQueries.specs ++ DedupQueries.specs ++ SimilarityQueries.specs ++
      TextQueries.specs ++ MediaQueries.specs

  require(specs.map(_.name).distinct.size == specs.size,
    "duplicate row names: " +
      specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }.mkString(", "))
}
