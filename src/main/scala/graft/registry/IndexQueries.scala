package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.Indexer

/** Indexing rows: tokenization, corpus aggregates, and the TF-IDF / BM25
  * posting tables the search rows rank from.
  *
  * Stemmed-posting rows are oracle-checkable because on this corpus the
  * Porter stem map is injective over the 31-word vocabulary, so
  * stemmed-term statistics equal raw-token statistics; the stemmer
  * itself is pinned by unit vectors instead (PorterStemmerSpec).
  */
object IndexQueries {
  import Shared._

  /** The oracle of `tfidf_postings`; by design also the oracle of
    * `postings_incremental`.
    */
  private val TfidfPostingsOracle: String =
    (OracleTfidfCte +
      """SELECT tf.term, tf.doc_id, tf.tf, dfreq.df,
        |       round((1 + log10(tf.tf)) * ln(CAST(n.doc_num AS DOUBLE) / dfreq.df), 4) AS score
        |FROM tf JOIN dfreq USING (term) CROSS JOIN n""").stripMargin

  /** Word counts over the word-count delimiter set (en dash included),
    * digits-only tokens dropped: `word_count`, and `top_words` ranked.
    */
  private val OracleWordCountSql: String =
    """WITH toks0 AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
      |    '[ \t\r\n,.:;''"()\[\]{}/<>!?|\-—–#$&=_*+]+'), x -> x <> '') AS arr
      |  FROM documents
      |), toks AS (SELECT unnest(arr) AS word FROM toks0)
      |SELECT word, count(*) AS cnt FROM toks
      |WHERE NOT regexp_matches(word, '^[0-9]+$')
      |GROUP BY 1""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("corpus_project", (s, dir) =>
      t(s, dir, "documents").select("doc_id", "text").dropDuplicates("doc_id"),
      oracle = "SELECT doc_id, text FROM documents"),
    QuerySpec("tokenize_pos", (s, dir) =>
      graft.search.Analyzer.tokenize(t(s, dir, "documents"), "text", Seq("doc_id")),
      oracle = (OracleTfidfCte + "SELECT doc_id, pos, token FROM toks")),
    QuerySpec("doc_count", (s, dir) =>
      Indexer.docCount(t(s, dir, "documents")),
      oracle = "SELECT count(*) AS doc_num FROM documents"),
    QuerySpec("word_count", (s, dir) =>
      Indexer.wordCounts(t(s, dir, "documents")),
      oracle = OracleWordCountSql),
    QuerySpec("top_words", (s, dir) =>
      Indexer.stopWords(t(s, dir, "documents"), 100),
      oracle = OracleWordCountSql + " ORDER BY cnt DESC, word ASC LIMIT 100"),
    QuerySpec("term_freq", (s, dir) =>
      Indexer.termDocStats(t(s, dir, "documents"), Seq.empty, stem = false)
        .select("term", "doc_id", "tf"),
      oracle = (OracleTfidfCte + "SELECT term, doc_id, tf FROM tf")),
    QuerySpec("tfidf_postings", (s, dir) =>
      cachedRawIndex(s, dir)
        .select(col("term"), col("doc_id"), col("tf"), col("df"),
          round(col("score"), 4).as("score")),
      oracle = TfidfPostingsOracle),
    // incremental maintenance: 80% of the corpus is "already indexed"
    // (only its compact per-(term,doc) stats survive), the other 20%
    // arrives as a new batch — the output must equal a full rebuild
    // over everything, so the oracle is tfidf_postings' SQL verbatim
    QuerySpec("postings_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      val oldDocs = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val newDocs = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      Indexer.incrementalPostings(
          Indexer.termDocStats(oldDocs, Seq.empty, stem = false),
          oldDocs.count(), newDocs, stem = false)
        .select(col("term"), col("doc_id"), col("tf"), col("df"),
          round(col("score"), 4).as("score"))
    },
      // identical to tfidf_postings: incremental maintenance must be
      // indistinguishable from a full rebuild over the combined corpus
      oracle = TfidfPostingsOracle),
    QuerySpec("bm25_postings", (s, dir) =>
      graft.search.Scoring.bm25Postings(t(s, dir, "documents"), stem = false)
        .select(col("term"), col("doc_id"), col("tf"), col("df"), col("dl"),
          round(col("score"), 4).as("score")),
      oracle = (OracleTfidfCte +
        """, dls AS (SELECT doc_id, count(*) AS dl FROM kept GROUP BY 1),
          |g AS (SELECT avg(dl) AS avgdl, count(*) AS doc_num FROM dls)
          |SELECT tf.term, tf.doc_id, tf.tf, dfreq.df, dls.dl,
          |  round(ln(1.0 + (g.doc_num - dfreq.df + 0.5) / (dfreq.df + 0.5))
          |    * (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dls.dl / g.avgdl)), 4) AS score
          |FROM tf JOIN dfreq USING (term) JOIN dls USING (doc_id) CROSS JOIN g""").stripMargin),
    QuerySpec("postings_stemmed", (s, dir) =>
      cachedIndex(s, dir)
        .select(col("term"), col("doc_id"), col("tf"), col("df"),
          round(col("score"), 4).as("score")),
      // corpus-specific oracle: the 31-word vocabulary's Porter stems as
      // a CASE map (the stemmer itself is pinned by 41 unit vectors and
      // the reference differential harness)
      oracle = ("""WITH toks0 AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text),
        |           '[ \t\r\n,.:;''"()\[\]{}/<>!?|\-—#$&=_*+]+'), x -> x <> '') AS arr
        |  FROM documents
        |), toks AS (
        |  SELECT doc_id, arr[i] AS token
        |  FROM toks0, unnest(generate_series(1, len(arr))) AS u(i)
        |), kept AS (
        |  SELECT doc_id,
        |    CASE token WHEN 'customer' THEN 'custom' WHEN 'merge' THEN 'merg'
        |      WHEN 'value' THEN 'valu' WHEN 'query' THEN 'queri'
        |      WHEN 'table' THEN 'tabl' WHEN 'key' THEN 'kei'
        |      ELSE token END AS term
        |  FROM toks
        |  WHERE regexp_matches(token, '^[a-z0-9]+$')
        |    AND NOT regexp_matches(token, '^[0-9]+$')
        |), tf AS (
        |  SELECT term, doc_id, count(*) AS tf FROM kept GROUP BY 1, 2
        |), dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS doc_num FROM documents)
        |SELECT tf.term, tf.doc_id, tf.tf, dfreq.df,
        |       round((1 + log10(tf.tf)) * ln(CAST(n.doc_num AS DOUBLE) / dfreq.df), 4) AS score
        |FROM tf JOIN dfreq USING (term) CROSS JOIN n""").stripMargin),
    // operational monitoring over the built index: one aggregate row
    // (stem map is injective on this corpus, so stemmed counts equal
    // raw-token counts — same argument as postings_stemmed)
    QuerySpec("index_stats", (s, dir) =>
      cachedIndex(s, dir).agg(
        countDistinct("term").as("n_terms"),
        count(lit(1)).cast("long").as("n_postings"),
        max("df").as("max_df"),
        sum("tf").cast("long").as("total_tf")),
      oracle = (OracleTfidfCte +
        """SELECT
          |  (SELECT CAST(count(DISTINCT term) AS BIGINT) FROM tf) AS n_terms,
          |  (SELECT CAST(count(*) AS BIGINT) FROM tf) AS n_postings,
          |  (SELECT CAST(max(df) AS BIGINT) FROM dfreq) AS max_df,
          |  (SELECT CAST(sum(tf) AS BIGINT) FROM tf) AS total_tf""").stripMargin),
    // ctype "text": cleaned string (entities decoded); ctype "html":
    // displayable variant, entities stay encoded on disk. Both store the
    // title as the record's first line.
    QuerySpec("corpus_split_text", (s, dir) =>
      graft.sources.Corpus.split(
        graft.sources.XmlScan.parsePages(
          graft.sources.XmlScan.toPageXml(t(s, dir, "documents"))), "text"),
      oracle = ("SELECT doc_id, 'doc-' || CAST(doc_id AS VARCHAR) || chr(10) || " +
        "replace(replace(text, '&#60;', '<'), '&#62;', '>') AS content FROM documents")),
    QuerySpec("corpus_split_html", (s, dir) =>
      graft.sources.Corpus.split(
        graft.sources.XmlScan.parsePages(
          graft.sources.XmlScan.toPageXml(t(s, dir, "documents"))), "html"),
      oracle = ("SELECT doc_id, 'doc-' || CAST(doc_id AS VARCHAR) || chr(10) || text " +
        "AS content FROM documents")),
    QuerySpec("doc_titles", (s, dir) =>
      graft.sources.Corpus.split(
        graft.sources.XmlScan.parsePages(
          graft.sources.XmlScan.toPageXml(t(s, dir, "documents"))), "text")
        .select(col("doc_id"),
          graft.sources.Corpus.titleOf(col("content")).as("title")),
      oracle = "SELECT doc_id, 'doc-' || CAST(doc_id AS VARCHAR) AS title FROM documents")
  )
}
