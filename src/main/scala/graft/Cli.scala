package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.search.{Indexer, QueryParser, SearchEngine}

/** CLI entry points mirroring the reference's four mains (SURVEY.md §3):
  * index construction, query execution, and document fetch, over the
  * driver test tables.
  */
object Cli {

  private[graft] def session(name: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName(name)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The stemmed stop words [[IndexBuild]] persisted next to the index.
    * No file means the index was built without stop words (IndexBuild
    * writes none for a count of 0); a file that is present but cannot
    * be read fails the query rather than silently dropping the list.
    */
  private[graft] def stopWords(spark: SparkSession, indexPath: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath.stopwords")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) Set.empty
    else QueryParser.stemmedStopWords(
      spark.read.parquet(p.toString).collect().map(_.getString(0)).toSeq)
  }

  /** The page [[Search]] renders for a requested `page` of a ranking
    * with `totalPages` pages: below 1 clamps to the first page, past the
    * last (or past [[SearchEngine.MaxPages]]) to the last one.
    */
  private[graft] def pageToRender(page: Int, totalPages: Long): Int = {
    val last = math.max(math.min(totalPages, SearchEngine.MaxPages.toLong), 1L).toInt
    math.min(math.max(page, 1), last)
  }
}

/** Index build: corpus -> stop words -> TF-IDF posting table, written
  * range-partitioned + sorted by term (the reference's
  * `InvertedIndexMapred.main`, 10 output files + boundary file —
  * Parquet stats replace the boundary file).
  *
  * Usage: `runMain graft.IndexBuild <sfDir> <indexPath> [stopWordCount]`
  */
object IndexBuild {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, indexPath) = args.take(2)
    val stopN = if (args.length > 2) args(2).toInt else 0
    val spark = Cli.session("graft-index-build")
    val docs = Indexer.documents(spark, sfDir)
    val sw = Indexer.stopWordList(docs, stopN)
    if (sw.nonEmpty) {
      // persist the stop-word list next to the index, one word per row
      import spark.implicits._
      sw.toDF().withColumnRenamed("value", "word").coalesce(1)
        .write.mode("overwrite").parquet(s"$indexPath.stopwords")
    }
    Indexer.writeIndex(Indexer.postings(docs, sw), indexPath)
    println(s"indexed ${Indexer.readIndex(spark, indexPath).count()} postings -> $indexPath")
    spark.stop()
  }
}

/** Query execution against a materialized index: parse -> evaluate ->
  * rank -> paginate -> fetch page docs -> snippet/highlight, printed in
  * the reference's result format: `count/pages`, then per-doc blocks
  * `docId\ntitle\nsnippet$RST$` (reference `util/CorpusFetcher
  * .java:91-111`).
  *
  * Usage: `runMain graft.Search <sfDir> <indexPath> <query> [page]`
  */
object Search {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, indexPath, query) = args.take(3)
    val page = if (args.length > 3) args(3).toInt else 1
    val spark = Cli.session("graft-search")
    val docs = Indexer.documents(spark, sfDir)
    val index = Indexer.readIndex(spark, indexPath)
    val sw = Cli.stopWords(spark, indexPath)

    val ranked = SearchEngine.search(query, index, docs, sw)
    // Bounded driver memory: the total hit count is an aggregate (no
    // rows cross the driver) and only the one rendered page is ever
    // collected — a 100 TB result set cannot OOM the CLI; MaxPages just
    // caps how deep pagination may reach.
    val total = ranked.count()
    val totalPages = (total + SearchEngine.PageSize - 1) / SearchEngine.PageSize
    println(s"$total/$totalPages")
    val pageDf = SearchEngine.page(ranked, Cli.pageToRender(page, totalPages))
    // stored-corpus view: first line is the title (reference convention).
    // Derived directly from the documents table — same page frame the
    // XML path produces (titles are "doc-<id>" by the dump convention),
    // without serializing to <page> XML and re-parsing it (one fewer
    // scan; byte-identical output, checked on the smoke corpus).
    val corpus = graft.sources.Corpus.split(
      docs.select(col("doc_id"),
        concat(lit("doc-"), col("doc_id")).as("title"), col("text")), "text")
    SearchEngine.renderCorpusPage(pageDf, corpus, query).collect().foreach { r =>
      print(s"${r.getLong(0)}\n${r.getString(2)}\n${r.getString(3)}$$RST$$")
    }
    println()
    spark.stop()
  }
}

/** Point lookup of one document with entity decode — the reference's
  * `DocGetter.main` (`code/query/DocGetter.java:10-25`).
  *
  * Usage: `runMain graft.DocGetter <sfDir> <docId>`
  */
object DocGetter {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, docId) = args.take(2)
    val spark = Cli.session("graft-doc-getter")
    SearchEngine.fetchDoc(Indexer.documents(spark, sfDir), docId.toLong)
      .collect().foreach(r => println(r.getString(1)))
    spark.stop()
  }
}
