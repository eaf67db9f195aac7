package graft.search

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Cross-session query-result cache — the Spark restatement of the
  * reference's MapFile memo keyed by the lowercased query string
  * (`util/CorpusFetcher.java:24,31-71`, X2 in SURVEY.md §2.8).
  *
  * A keyed point store: each query owns one entry directory
  * `<path>/qhash=<h>/query=<escaped q>/` holding one `(doc_id LONG,
  * score DOUBLE)` parquet file, escaped as Spark's partitioned writer
  * escapes partition values, so `spark.read.parquet(path)` still reads
  * the whole cache as one table partitioned by `(qhash, query)`. The
  * driver writes an entry itself, with no Spark job: the part file
  * first, then its `_SUCCESS` marker, so an entry exists once its marker
  * does. A probe is one file-system lookup and a hit reads that one
  * directory, the reference's MapFile point-get
  * (`util/CorpusFetcher.java:47-51`). Within a session, the registry's
  * persisted index makes recomputation cheap; this memo is for the
  * reference-parity cross-process case.
  *
  * A miss collects its whole ranking to the driver, as the reference's
  * driver reads back the whole `SearchResult`: a ranking larger than
  * `spark.driver.maxResultSize` fails the search loudly.
  */
final class QueryCache(spark: SparkSession, path: String) {

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  private[graft] def entry(query: String): Path = {
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
    spark.read.schema(QueryCache.Schema).parquet(dir.toString)
      .orderBy(desc("score"), asc("doc_id"))

  /** Probe: None exactly when the query has no committed entry (a
    * directory a crashed `put` left without its commit marker is a
    * miss). Runs no Spark job.
    */
  def get(query: String): Option[DataFrame] = {
    val dir = entry(query)
    val fs = dir.getFileSystem(hadoopConf)
    if (fs.exists(new Path(dir, "_SUCCESS"))) Some(read(dir)) else None
  }

  /** Store a result, replacing only this query's entry: a re-put is
    * idempotent and other queries' entries are untouched. An empty
    * result commits an empty entry, the reference's count-0
    * `SearchResult`. The rows are collected and written by the driver.
    * (Two writers committing the SAME query at the same instant race on
    * its directory — acceptable for a memo whose entries are
    * recomputable.)
    */
  def put(query: String, ranked: DataFrame): Unit =
    commit(query, ranked.select(col("doc_id").cast("long"), col("score").cast("double")).collect())

  /** The one entry writer: delete the entry, write its rows as one
    * parquet part file of `optional` columns (as Spark writes them), then
    * the `_SUCCESS` marker that makes it visible to [[get]].
    */
  private def commit(query: String, rows: Array[Row]): Unit = {
    val dir = entry(query)
    val fs = dir.getFileSystem(hadoopConf)
    fs.delete(dir, true)
    val file = new Path(dir, s"part-00000-${UUID.randomUUID}-c000.snappy.parquet")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, hadoopConf))
      .withConf(hadoopConf)
      .withType(QueryCache.FileSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try {
      val groups = new SimpleGroupFactory(QueryCache.FileSchema)
      rows.foreach { r =>
        val g = groups.newGroup()
        if (!r.isNullAt(0)) g.append("doc_id", r.getLong(0))
        if (!r.isNullAt(1)) g.append("score", r.getDouble(1))
        writer.write(g)
      }
    } finally writer.close()
    fs.create(new Path(dir, "_SUCCESS"), true).close()
  }

  /** Memoized search: probe, else evaluate the ranking once
    * ([[SearchEngine.searchMany]]'s plan, no global sort), rank it on
    * the driver, commit it, and return it as a local DataFrame — the
    * reference's `isInCache` / `writeQueryToCache` flow
    * (`code/query/QueryMapred.java:224-236`). A hit stays a lazy read of
    * the entry; a miss is the evaluation's jobs and nothing more.
    */
  def searchCached(query: String, index: DataFrame, docs: DataFrame,
                   stopWords: Set[String] = Set.empty): DataFrame =
    get(query).getOrElse {
      val rows = SearchEngine.searchMany(Seq(query), index, docs, stopWords)
        .select(col("doc_id"), col("score")).collect()
        .sorted(SearchEngine.RankOrder)
      commit(query, rows)
      spark.createDataFrame(rows.toSeq.asJava, QueryCache.Schema)
    }
}

object QueryCache {

  /** An entry's rows, as Spark reads them back. */
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("score", DoubleType)))

  private val FileSchema = MessageTypeParser.parseMessageType(
    "message spark_schema { optional int64 doc_id; optional double score; }")
}
