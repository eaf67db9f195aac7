package graft.search

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** Cross-session query-result cache — the Spark restatement of the
  * reference's MapFile memo keyed by the lowercased query string
  * (`util/CorpusFetcher.java:24,31-71`, X2 in SURVEY.md §2.8).
  *
  * A keyed point store: each query owns one entry directory
  * `<path>/qhash=<h>/query=<escaped q>/` of `(doc_id LONG, score DOUBLE)`
  * parquet files, escaped as Spark's partitioned writer escapes partition
  * values, so `spark.read.parquet(path)` still reads the whole cache as
  * one table partitioned by `(qhash, query)`. An entry exists once its
  * write job committed (its `_SUCCESS` marker): a probe is one
  * file-system lookup and a hit reads that one directory, the
  * reference's MapFile point-get (`util/CorpusFetcher.java:47-51`).
  * Within a session, `SparkEntry`'s persisted index makes recomputation
  * cheap; this memo is for the reference-parity cross-process case.
  */
final class QueryCache(spark: SparkSession, path: String) {

  private def entry(query: String): Path = {
    val q = query.toLowerCase
    val h = math.abs(q.hashCode % 64)
    new Path(new Path(path, ExternalCatalogUtils.getPartitionPathString("qhash", h.toString)),
      ExternalCatalogUtils.getPartitionPathString("query", q))
  }

  /** A committed entry, re-ranked (score desc, doc_id asc): parquet read
    * order is not the write order, and callers ([[SearchEngine.page]])
    * rely on the ranked contract. A corrupt entry fails when read.
    */
  private def read(dir: Path): DataFrame =
    spark.read.schema("doc_id LONG, score DOUBLE").parquet(dir.toString)
      .orderBy(desc("score"), asc("doc_id"))

  /** Probe: None exactly when the query has no committed entry (a
    * directory a crashed `put` left without its commit marker is a
    * miss). Runs no Spark job.
    */
  def get(query: String): Option[DataFrame] = {
    val dir = entry(query)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(dir, "_SUCCESS"))) Some(read(dir)) else None
  }

  /** Store a ranked result, replacing only this query's entry: a re-put
    * is idempotent and other queries' entries are untouched. An empty
    * result commits an empty entry, the reference's count-0
    * `SearchResult`. (Two writers committing the SAME query at the same
    * instant race on its directory — acceptable for a memo whose entries
    * are recomputable.)
    */
  def put(query: String, ranked: DataFrame): Unit =
    ranked.select(col("doc_id").cast("long"), col("score").cast("double"))
      .write.mode("overwrite").parquet(entry(query).toString)

  /** Memoized search: probe, else evaluate via [[SearchEngine.search]],
    * store, and return the entry just committed — the reference's
    * `isInCache` / `writeQueryToCache` flow
    * (`code/query/QueryMapred.java:224-236`).
    */
  def searchCached(query: String, index: DataFrame, docs: DataFrame,
                   stopWords: Set[String] = Set.empty): DataFrame =
    get(query).getOrElse {
      put(query, SearchEngine.search(query, index, docs, stopWords))
      read(entry(query))
    }
}
