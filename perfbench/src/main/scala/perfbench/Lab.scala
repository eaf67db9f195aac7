package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.ops.{Dedup, TextAnalysis}
import graft.search.{Indexer, QueryCache, QueryCompiler, QueryParser, SearchEngine}

object Fs {
  def delete(path: String): Unit = {
    val f = new File(path)
    if (f.exists())
      Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(p => Files.deleteIfExists(p))
  }
}

object Lab {
  final case class Built(path: String, stopWords: Seq[String], digest: Oracles.IndexDigest)

  /** The data files of a parquet table directory. */
  def parquetFiles(path: String): Seq[File] =
    Option(new File(path).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  final case class Issue(query: String, repeat: Boolean, rows: Vector[Oracles.PageRow])

  final case class DedupOut(exact: Seq[(Long, Long)], pairs: Seq[(Long, Long, Double)],
                            labels: Seq[(Long, Long)], repTokens: Seq[(Long, Long)],
                            spans: Seq[(Long, Long, Long)])
}

/** The operations the workloads time, each a sequence of public library
  * calls. With tracing on, each call gets its own span; where a library
  * call hides several layers (`QueryCache.searchCached`) or leaves work
  * lazy (`Indexer.postings`, page render), the traced form makes the same
  * calls one at a time so each can be timed.
  */
final class Lab(val spark: SparkSession, val corpus: Corpus, val work: Path, val trace: Trace) {
  import Lab._

  private def dir(name: String): String = work.resolve(name).toString

  val docsPath: String = dir("docs")
  val pagesPath: String = dir("pages")

  /** Write the corpus at rest: `(doc_id, text)` for indexing and dedup,
    * `(doc_id, content)` with a title line for page rendering. One file
    * per core, so scans start in parallel. */
  def writeCorpus(): Unit = {
    import spark.implicits._
    val rows = corpus.docs.toSeq.map(d => (d.id, d.text))
    val parts = spark.sparkContext.defaultParallelism
    rows.toDF("doc_id", "text").repartition(parts, col("doc_id"))
      .write.mode("overwrite").parquet(docsPath)
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), concat(lit("doc-"), col("doc_id").cast("string"), lit("\n"),
        col("text")).as("content"))
      .repartition(parts, col("doc_id"))
      .write.mode("overwrite").parquet(pagesPath)
  }

  lazy val docs: DataFrame = spark.read.parquet(docsPath)
  lazy val pages: DataFrame = spark.read.parquet(pagesPath)
  lazy val stopSet: Set[String] = QueryParser.stemmedStopWords(corpus.stopWords)


  // ---------- build ----------

  /** Cold index build: stop words, postings, range-partitioned write,
    * then the written index is read back and digested for the check. */
  def build(path: String): Built = trace("build.op") {
    Fs.delete(path)
    val stop = trace("Indexer.stopWordList")(Indexer.stopWordList(docs, Sizes.StopWords))
    val postings = Indexer.postings(docs, stop)
    // traced only: the lazy postings DAG run alone, so its cost has a span
    if (trace.enabled)
      trace("Indexer.postings")(postings.write.format("noop").mode("overwrite").save())
    trace("Indexer.writeIndex")(Indexer.writeIndex(postings, path))
    val digest = trace("Indexer.readIndex")(
      Oracles.indexDigest(Indexer.readIndex(spark, path), corpus.docs.length.toLong))
    Built(path, stop, digest)
  }

  // ---------- search ----------

  private val pageSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("score", DoubleType)))

  private def pageRows(rendered: DataFrame): Vector[Oracles.PageRow] =
    rendered.select("doc_id", "score", "title", "snippet").collect().toVector
      .map(r => Oracles.PageRow(r.getLong(0), r.getDouble(1), r.getString(2), r.getString(3)))

  /** One issue of a query: `QueryCache.searchCached`, page 1, render,
    * collect. `repeat` says whether the query was issued before; the
    * traced form labels the issue by whether the cache answered. */
  def issue(cache: QueryCache, index: DataFrame, query: String, repeat: Boolean): Issue =
    if (!trace.enabled) {
      val ranked = cache.searchCached(query, index, docs, stopSet)
      Issue(query, repeat, pageRows(
        SearchEngine.renderCorpusPage(SearchEngine.page(ranked, 1), pages, query)))
    } else trace.labeled {
      tracedTerms(trace.request) = leafTerms(query)
      trace("QueryParser.parse")(new QueryParser(stopSet).parse(query.toLowerCase))
      // QueryCache.searchCached's body, one call per span
      val probe = trace.labeled(cache.get(query))(
        p => if (p.isDefined) "QueryCache.get_hit" else "QueryCache.get_miss")
      val ranked = probe.getOrElse {
        val r = trace("SearchEngine.search")(SearchEngine.search(query, index, docs, stopSet))
        // the lazy ranking evaluated on its own (searchCached evaluates it
        // inside put), so the join tree has a span and put only writes
        val evaluated = trace("query.exec")(r.localCheckpoint(true))
        trace("QueryCache.put")(cache.put(query, evaluated))
        trace("QueryCache.reprobe")(cache.get(query)).getOrElse(evaluated)
      }
      // page 1 read back from the cache, on a miss as on a hit
      val page = trace("QueryCache.read")(SearchEngine.page(ranked, 1).collect())
      val rows = trace("render")(pageRows(SearchEngine.renderCorpusPage(
        spark.createDataFrame(page.toSeq.asJava, pageSchema), pages, query)))
      (Issue(query, repeat, rows), probe.isDefined)
    }(x => if (x._2) "search.hit" else "search.miss")._1

  /** The index rows of the given terms, collected for the in-memory oracle. */
  def slice(index: DataFrame, terms: Seq[String]): Seq[(String, Long, Double, Seq[Int])] =
    if (terms.isEmpty) Seq.empty
    else index.filter(col("term").isin(terms.distinct: _*))
      .select("term", "doc_id", "score", "positions").collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getSeq[Int](3)))

  def leafTerms(query: String): Vector[String] =
    QueryCompiler.leafTerms(new QueryParser(stopSet).parse(query.toLowerCase)).distinct

  // ---------- batch ----------

  /** Traced runs only: the query terms of each traced issue, by request
    * id, and the logical plan size of each `searchMany` result. */
  val tracedTerms = scala.collection.mutable.HashMap.empty[Long, Seq[String]]
  val planNodes = scala.collection.mutable.ArrayBuffer.empty[Int]

  /** `SearchEngine.searchMany` over the batch, top 10 per query collected. */
  def batch(index: DataFrame, queries: Seq[String]): Map[String, Vector[(Long, Double)]] =
    trace("batch.op") {
      val tagged = trace("searchMany")(SearchEngine.searchMany(queries, index, docs, stopSet))
      if (trace.enabled) planNodes += tagged.queryExecution.analyzed.collect { case p => p }.length
      val byRank = Window.partitionBy("query").orderBy(desc("score"), asc("doc_id"))
      val rows = trace("searchMany.exec")(tagged
        .withColumn("rn", row_number().over(byRank))
        .filter(col("rn") <= SearchEngine.PageSize)
        .select("query", "doc_id", "score", "rn").collect())
      val top = rows.toVector.groupBy(_.getString(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2)))
      }
      queries.map(q => q -> top.getOrElse(q, Vector.empty)).toMap
    }

  /** The single-query path's page 1, for the batch cross-check. */
  def single(index: DataFrame, query: String): Vector[(Long, Double)] =
    SearchEngine.page(SearchEngine.search(query, index, docs, stopSet), 1)
      .collect().toVector.map(r => (r.getLong(0), r.getDouble(1)))

  // ---------- dedup ----------

  /** LLM-data preparation: exact dedup, verified MinHash LSH pairs, their
    * connected components, repetition statistics and span dedup. */
  def dedup(input: DataFrame): DedupOut = trace("dedup.op") {
    val exact = trace("Dedup.exact")(Dedup.exact(input)
      .select("keeper_id", "n_copies").collect().toSeq.map(r => (r.getLong(0), r.getLong(1))))
    val (pairsDf, pairs) = trace("Dedup.minHashLshVerified") {
      val p = Dedup.minHashLshVerified(input, minJ = Sizes.MinJaccard)
      (p, p.select("doc_a", "doc_b", "jaccard").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    }
    val labels = trace("Dedup.clusters")(Dedup.clusters(pairsDf)
      .select("doc_id", "cluster_id").collect().toSeq.map(r => (r.getLong(0), r.getLong(1))))
    val rep = trace("TextAnalysis.repetitionStats")(TextAnalysis.repetitionStats(input)
      .select("doc_id", "n_tokens").collect().toSeq.map(r => (r.getLong(0), r.getLong(1))))
    val span = trace("TextAnalysis.spanDedup")(TextAnalysis.spanDedup(input)
      .select("doc_id", "n_tokens", "n_removed").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    DedupOut(exact, pairs, labels, rep, span)
  }

  // ---------- kernels (traced run only) ----------

  /** Each tokenizer/stemmer kernel alone over the corpus into a noop
    * sink; its input is materialized first so the kernel dominates. */
  def kernels(reps: Int): Unit = {
    val lowered = docs.select(lower(col("text")).as("t")).localCheckpoint(true)
    val tokens = lowered.select(explode(graft.functions.DelimTokens.of(col("t"), enDash = false))
      .as("tok")).localCheckpoint(true)
    for (_ <- 0 until reps) {
      trace("DelimTokens")(lowered.select(graft.functions.DelimTokens.of(col("t"), enDash = false))
        .write.format("noop").mode("overwrite").save())
      trace("PorterStem")(tokens.select(graft.functions.PorterStem.stemCol(col("tok")))
        .write.format("noop").mode("overwrite").save())
    }
  }
}
