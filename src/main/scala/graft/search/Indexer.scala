package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Index-construction pipeline: the Spark restatement of the reference's
  * four chained MapReduce mains (corpus split, doc count, word count /
  * stop words, inverted index — SURVEY.md §3.1). The six jobs collapse
  * into one lazy DataFrame DAG with three shuffles: token aggregation,
  * document-frequency join, and the range partition of the final write.
  *
  * Physical index layout is the EXPLODED posting table
  * `(term STRING, doc_id LONG, tf LONG, positions ARRAY<INT>, df LONG,
  * score DOUBLE)` rather than the reference's `term -> PostingList` blob
  * (`util/PostingList.java:36-41`): at 100 TB a hot term's posting list
  * must not be required to fit in one row; Parquet's delta/RLE encodings
  * replace the reference's hand-rolled gap encoding
  * (`code/inverted/InvertedIndexMapred.java:134-140`), and the Parquet
  * page index of a `repartitionByRange($"term")`, term-sorted layout
  * replaces its TotalOrderPartitioner boundary file (`:296-306`): each
  * page of at most [[PageRows]] rows carries its term `[min, max]`, so a
  * pushed `term = t` decodes only the pages that can hold `t`. A pushed
  * Parquet `In` is tested against the set's min and max only, so the
  * query side has each term pushed as its own equality instead
  * ([[QueryCompiler.equalsAny]]).
  */
object Indexer {

  /** Row limit of an index page: the granularity of term pruning. A
    * single-term read decodes at most `ceil(df / PageRows) + 1` pages.
    * Parquet's default is 20,000 rows; 5,000 decodes a quarter of that
    * for 1% more index bytes, where 2,000 rows grow the index by half.
    */
  val PageRows = 5000

  /** Documents table of the driver corpus: (doc_id, text, lang, source, n_chars). */
  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** Global document count as a 1-row DataFrame — the reference's
    * DocCountMapred single-reducer job (`code/doccount/DocCountMapred
    * .java:25-62`) becomes a distributed partial-aggregated count.
    */
  def docCount(docs: DataFrame): DataFrame =
    docs.agg(count("*").as("doc_num"))

  /** Word counts over the word-count tokenizer (its delimiter set differs
    * from the index tokenizer by an en-dash — reference
    * `code/wordcount/WordCountMapred.java:41`), dropping all-digit tokens.
    * Spark performs the map-side combine (partial HashAggregate) the
    * reference wires in explicitly (`:140-141`).
    */
  def wordCounts(docs: DataFrame): DataFrame =
    Analyzer.tokenize(docs, "text", Seq("doc_id"), Analyzer.WordCountDelimRegex)
      .filter(!col("token").rlike("^[0-9]+$"))
      .groupBy(col("token").as("word"))
      .agg(count("*").as("cnt"))

  /** Top-`n` stop words by count (reference's bounded-heap single reducer,
    * `code/wordcount/WordCountMapred.java:88-114`, NUM_STOP_WORD=100).
    * Deterministic tie-break on the word itself. Distributed top-k: Spark
    * plans `orderBy.limit` as per-partition TakeOrdered + driver merge,
    * never a single-reducer global sort.
    */
  def stopWords(docs: DataFrame, n: Int): DataFrame =
    wordCounts(docs).orderBy(desc("cnt"), asc("word")).limit(n)

  /** Collected stop-word list (tiny: <= n strings) for broadcast into the
    * token filter — the Spark analogue of the reference re-reading the
    * stop-word file in task `setup()` (`code/inverted/InvertedIndexMapred
    * .java:87-103`).
    */
  def stopWordList(docs: DataFrame, n: Int): Seq[String] =
    if (n <= 0) Seq.empty
    else stopWords(docs, n).collect().map(_.getString(0)).toSeq

  /** `(doc_id, pos, token, term)` — tokenized, filtered, stemmed term
    * occurrences. Stop words are tested on the UNSTEMMED lowercase token,
    * exactly like the reference (`code/inverted/InvertedIndexMapred
    * .java:76-80` filters then stems). `stem = false` keeps raw tokens as
    * terms (used by the SQL-oracle rows; the stemmer is pinned by unit
    * vectors instead).
    */
  def termOccurrences(docs: DataFrame, stopWords: Seq[String],
                      stem: Boolean = true): DataFrame = {
    val toks = Analyzer.tokenize(docs, "text", Seq("doc_id"))
      .filter(Analyzer.isIndexableToken(col("token")))
    val kept =
      if (stopWords.isEmpty) toks
      else toks.filter(!col("token").isin(stopWords: _*))
    kept.withColumn("term",
      if (stem) Analyzer.stemCol(col("token")) else col("token"))
  }

  /** Term-frequency + sorted absolute positions per (term, doc):
    * reference TermFreqReducer (`code/inverted/InvertedIndexMapred
    * .java:106-145`). Positions stay absolute — Parquet's
    * DELTA_BINARY_PACKED makes the reference's manual gap encoding
    * redundant.
    */
  def termDocStats(docs: DataFrame, stopWords: Seq[String],
                   stem: Boolean = true): DataFrame =
    termOccurrences(docs, stopWords, stem)
      .groupBy("term", "doc_id")
      .agg(count("*").as("tf"),
           sort_array(collect_list(col("pos"))).as("positions"))

  /** Full posting table with document frequency and TF-IDF score
    * `(1 + log10(tf)) * ln(docNum / df)` — note the mixed log bases, a
    * contractual quirk of the reference (`code/inverted/InvertedIndexMapred
    * .java:215-221`).
    *
    * df is computed as a separate aggregate joined back on `term` (rather
    * than a window over the term partition) so AQE's skew-join handling
    * can split hot terms at scale; docNum rides in via a broadcast of a
    * 1-row aggregate, keeping the whole DAG lazy.
    */
  def postings(docs: DataFrame, stopWords: Seq[String] = Seq.empty,
               stem: Boolean = true): DataFrame =
    postingsFromStats(termDocStats(docs, stopWords, stem), docCount(docs))

  /** Score derivation over an at-rest `(term, doc_id, tf, positions)`
    * stats table: df as aggregate + join (AQE skew-splittable), docNum
    * (a 1-row DataFrame) broadcast. Shared by the full build, the
    * incremental path, and streaming maintenance — the stats table is
    * the one artifact that has to persist; scores are always derivable
    * from it in one aggregate + join.
    */
  def postingsFromStats(stats: DataFrame, docNum: DataFrame): DataFrame = {
    val dfPerTerm = stats.groupBy("term").agg(count("*").as("df"))
    stats
      .join(dfPerTerm, "term")
      .crossJoin(broadcast(docNum))
      .withColumn("score",
        (lit(1.0) + log10(col("tf"))) * log(col("doc_num") / col("df")))
      .select("term", "doc_id", "tf", "positions", "df", "score")
  }

  /** Incremental index maintenance (append-only): given the persisted
    * per-(term, doc) stats of the already-indexed corpus and a batch of
    * NEW documents, produce the posting table of the combined corpus
    * without re-reading a single old document. The reference rebuilds
    * the whole index per run; at 100 TB the per-document work
    * (tokenize, stem, position-collect) dominates and is done here only
    * for the new batch — the df/docNum re-aggregation that follows is
    * one count per (term, doc) key over the compact stats table, not a
    * corpus re-scan. Scores must still be recomputed globally because
    * every TF-IDF weight depends on df and docNum, which is why the
    * at-rest layout to keep is the SCORE-FREE stats table
    * ([[termDocStats]]) plus the doc count, not the posting table.
    *
    * `oldDocCount` is the document count of `oldStats`' corpus.
    * Deletions/updates are out of scope (append-only contract).
    */
  def incrementalPostings(oldStats: DataFrame, oldDocCount: Long,
                          newDocs: DataFrame, stopWords: Seq[String] = Seq.empty,
                          stem: Boolean = true): DataFrame =
    postingsFromStats(
      oldStats.unionByName(termDocStats(newDocs, stopWords, stem)),
      docCount(newDocs).select((col("doc_num") + oldDocCount).as("doc_num")))

  /** Materialize the index range-partitioned and sorted by term: the
    * Spark equivalent of the reference's 10 TotalOrderPartitioner output
    * files + boundary file (`code/inverted/InvertedIndexMapred
    * .java:288,296-306`). Pages hold at most [[PageRows]] rows, and
    * their page-index `[min, max]` of `term` prunes a query down to the
    * pages of its terms (SURVEY.md §2.8 X1) when each term is pushed as
    * its own equality; a pushed `In` prunes only to the pages between
    * its smallest and largest term.
    */
  def writeIndex(index: DataFrame, path: String, numPartitions: Int = 10): Unit =
    index
      .repartitionByRange(numPartitions, col("term"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite")
      .option("parquet.page.row.count.limit", PageRows.toString)
      .parquet(path)

  def readIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
