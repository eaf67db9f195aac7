package graft.search

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end batch search: the Spark restatement of the reference's
  * query lifecycle (`code/query/QueryMapred.java:207-239` +
  * `util/CorpusFetcher.java:73-118`): parse -> prune -> evaluate the
  * boolean algebra as per-document score expressions -> rank ->
  * paginate -> fetch docs -> snippet and highlight. Like the reference's
  * single query job, one call is one pruned index scan whatever the
  * number of queries; pagination is a window over an already
  * top-k-limited result, never a global single-partition sort of the full
  * result set.
  */
object SearchEngine {

  val PageSize = 10      // util/SearchResult.java:42
  val MaxPages = 100     // deepest page the CLI renders
  val SnippetRange = 300 // util/CorpusFetcher.java:123

  /** Run a CNF query against a posting table, returning
    * `(doc_id, score)` ranked by score descending (doc_id ascending as a
    * deterministic tie-break — the reference's stable sort keeps docId
    * order on ties, `util/PostingList.java:160-166`).
    *
    * A top-level negated result (e.g. the query `not a`) resolves against
    * the corpus — the universe the reference leaves implicit (SURVEY.md
    * §2.5); score 0 since negated docs carry none.
    *
    * The index may be an AT-REST parquet posting table (the reference's
    * persisted term-partitioned index, `code/query/QueryMapred.java:
    * 126-162`): the `term IN (...)` filter then pushes into the scan and
    * the term-range layout prunes it to the query's files via footer
    * min/max stats — the reference's query-time partition pruning. A
    * query whose AND order depends on document frequencies
    * ([[QueryCompiler.needsStats]]) also reads a DERIVED index in the
    * stats fetch, so callers cache one that is costly to recompute.
    */
  def search(query: String, index: DataFrame, docs: DataFrame,
             stopWords: Set[String] = Set.empty): DataFrame =
    evaluate(Seq(query), index, docs, stopWords)
      .select(col("doc_id"), col("score"))
      .orderBy(desc("score"), asc("doc_id"))

  /** Batch retrieval: `(query, doc_id, score)` for every distinct query,
    * evaluated in the same single pass as [[search]] — one `term IN
    * (...)` scan for the union of the batch's terms, at most one stats
    * fetch (for the queries whose AND order needs it), and a fixed number
    * of jobs for any batch size (the reference runs a full
    * MapReduce job per query, `code/query/QueryMapred.java`). An empty
    * batch yields an empty tagged result.
    */
  def searchMany(queries: Seq[String], index: DataFrame, docs: DataFrame,
                 stopWords: Set[String] = Set.empty): DataFrame =
    evaluate(queries.distinct, index, docs, stopWords)

  /** The one search plan: group each document's postings for the batch's
    * terms into a map ([[QueryCompiler.postingMaps]]), compute one
    * nullable score column per query, and explode the non-null
    * `(query, score)` pairs. Negated-root queries read the maps
    * left-joined from `docs` (a null score there means "in the result",
    * with score 0); stop-word-only roots contribute no rows.
    */
  private def evaluate(queries: Seq[String], index: DataFrame, docs: DataFrame,
                       stopWords: Set[String]): DataFrame = {
    val parser = new QueryParser(stopWords)
    val asts = queries.map(q => q -> parser.parse(q.toLowerCase))
    val stats = QueryCompiler.termStats(index,
      asts.map(_._2).filter(QueryCompiler.needsStats).flatMap(QueryCompiler.leafTerms))
    val nodes = asts.map { case (q, ast) =>
      q -> QueryCompiler.compile(ast, col("postings"), stats) }
    val byDoc = QueryCompiler.postingMaps(index, asts.map(_._2))
    def tagged(base: DataFrame, scores: Seq[(String, Column)]): Option[DataFrame] =
      if (scores.isEmpty) None
      else Some(base
        .select(col("doc_id"), explode(array(scores.map { case (q, s) =>
          struct(lit(q).as("query"), s.as("score")) }: _*)).as("hit"))
        .filter(col("hit.score").isNotNull)
        .select(col("hit.query").as("query"), col("doc_id"), col("hit.score").as("score")))
    val positive = tagged(byDoc,
      nodes.collect { case (q, n) if n.tpe == 0 => q -> n.score })
    val negated = tagged(docs.select("doc_id").join(byDoc, Seq("doc_id"), "left"),
      nodes.collect { case (q, n) if n.tpe == 1 => q -> when(n.score.isNull, lit(0.0)) })
    (positive ++ negated).reduceOption(_ unionByName _).getOrElse(
      docs.sparkSession.range(0)
        .select(lit("").as("query"), col("id").as("doc_id"), lit(0.0).as("score")))
  }

  /** Prefix query (`spar*` style — the Lucene-PrefixQuery extension the
    * reference's grammar lacks): expand the prefix against the INDEX's
    * term dictionary — no stemming of the prefix, standard
    * expanded-term semantics — and score each doc as the n-ary OR of
    * its matching terms (OR = sum, F5), with the distinct matched-term
    * count alongside.
    *
    * Built for the AT-REST index: `term.startsWith(prefix)` is a
    * `StringStartsWith` predicate Spark pushes into the parquet scan,
    * and on [[Indexer.writeIndex]]'s term-range-partitioned,
    * term-sorted layout the footer min/max stats prune every file
    * outside the `[prefix, prefix∞)` range — the same boundary-file
    * pruning the reference applies to point terms
    * (`code/query/QueryMapred.java:126-162`), extended to the RANGE
    * predicate class the range partitioning exists for. The group-by
    * shuffles only the pruned slice. The index has one row per
    * (term, doc), so `count(*)` is the distinct matched-term count.
    */
  def searchPrefix(prefix: String, index: DataFrame): DataFrame = {
    require(prefix.nonEmpty,
      "searchPrefix: empty prefix would scan and sum the whole index")
    index.filter(col("term").startsWith(prefix))
      .groupBy("doc_id")
      .agg(sum("score").as("score"), count(lit(1)).as("n_terms"))
      .orderBy(desc("score"), asc("doc_id"))
  }

  /** One result page (1-based `page`): top `page*PageSize` rows only are
    * ever sorted/collected (TakeOrdered), then the window numbers that
    * small prefix. Mirrors `SearchResult` paging + overflow clamp to the
    * last page (`util/SearchResult.java:33-46`, `util/CorpusFetcher
    * .java:88` — clamping is the caller's job here via `count`).
    */
  def page(ranked: DataFrame, page: Int): DataFrame = {
    val w = Window.orderBy(desc("score"), asc("doc_id"))
    ranked.limit(page * PageSize)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > (page - 1) * PageSize)
      .drop("rn")
  }

  /** F7: HTML entity decode of the stored-HTML corpus variant
    * (`util/CorpusFetcher.java:255`).
    */
  def entityDecode(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(c, "&#60;", "<"), "&#62;", ">")

  /** F9: snippet extraction (`util/CorpusFetcher.java:120-194`): find the
    * up-to-3rd occurrence of each highlight word, open a +/-(300/k)-char
    * window around each hit, coalesce overlapping windows into intervals,
    * clamp to the content bounds, join with "...".
    */
  private[graft] def snippetOf(content: String, highlights: Seq[String]): String = {
    if (content == null) return null
    val lower = content.toLowerCase
    val hits = highlights.flatMap { h =>
      val i = ordinalIndexOf(lower, h, 3)
      if (i >= 0) Some(i) else None
    }.sorted
    if (hits.isEmpty)
      return (if (content.length < SnippetRange) content
              else content.substring(0, SnippetRange) + "...").replaceAll("\n", "")
    val wordRange = SnippetRange / hits.length
    val intervals = Vector.newBuilder[(Int, Int)]
    var i = 0
    while (i < hits.length) {
      val curStart = hits(i) - wordRange / 2
      var curEnd = hits(i) + wordRange / 2
      while (i + 1 < hits.length && hits(i + 1) - wordRange / 2 < curEnd) {
        curEnd = hits(i + 1) + wordRange / 2
        i += 1
      }
      intervals += ((curStart, curEnd))
      i += 1
    }
    val sb = new StringBuilder
    for ((s0, e0) <- intervals.result()) {
      var s = s0; var e = e0
      if (s < 0) { e += -s; s = 0 }
      if (e > content.length - 1) {
        s -= e - content.length - 1
        if (s < 0) s = 0
        e = content.length - 1
      }
      if (s != 0) sb.append("...")
      sb.append(content.substring(s, e + 1))
      if (e != content.length - 1) sb.append("...")
    }
    sb.toString.replaceAll("\n", "")
  }

  /** F8: index of the min(n, occurrences)-th occurrence of `substr`
    * (`util/CorpusFetcher.java:230-238`).
    */
  private[search] def ordinalIndexOf(str: String, substr: String, n: Int): Int = {
    var last = -1
    var pos = str.indexOf(substr)
    var left = n
    while ({ left -= 1; left > 0 } && pos != -1) {
      last = pos
      pos = str.indexOf(substr, pos + 1)
    }
    if (pos == -1) last else pos
  }

  /** F10: wrap each highlight word (and its Capitalized form) in the
    * reference's yellow span (`util/CorpusFetcher.java:121-122,186-190`).
    * Words are literals: a query word such as `(data` or `a$b` is
    * quoted, never read as regex or replacement syntax.
    */
  private[graft] def highlightWrap(text: String, highlights: Seq[String]): String = {
    val start = "<span style=\"background-color: #FFFF00\">"
    val end = "</span>"
    def wrap(s: String, w: String): String =
      s.replaceAll("\\b" + Pattern.quote(w) + "\\b",
        Matcher.quoteReplacement(start + w + end))
    var result = text
    for (h <- highlights if h.nonEmpty) {
      result = wrap(result, h)
      result = wrap(result, h.substring(0, 1).toUpperCase + h.substring(1))
    }
    result
  }

  /** Page render as the native codegen'd [[graft.functions.SnippetHighlight]]
    * expression (NULL content -> NULL, same as the old closure UDF).
    */
  private def snippetCol(content: org.apache.spark.sql.Column,
                         highlights: Seq[String]): org.apache.spark.sql.Column =
    graft.functions.SnippetHighlight.of(content,
      array(highlights.map(lit): _*).cast("array<string>"))

  /** J9 + F9/F10/F11: join a ranked page with the corpus (the result side
    * is tiny -> broadcast, the reference's loop of MapFile point-gets)
    * and render highlighted snippets.
    */
  def renderPage(pageDf: DataFrame, docs: DataFrame, query: String): DataFrame = {
    val highlights = QueryParser.highlightWords(query)
    docs.join(broadcast(pageDf), "doc_id")
      .select(col("doc_id"), col("score"),
        snippetCol(col("text"), highlights).as("snippet"))
      .orderBy(desc("score"), asc("doc_id"))
  }

  /** Render a page against a STORED corpus `(doc_id, content)` where the
    * first line is the title (the reference's on-disk convention,
    * `util/CorpusFetcher.java:106-107`): extract the title, snippet the
    * body. Returns `(doc_id, score, title, snippet)`.
    */
  def renderCorpusPage(pageDf: DataFrame, corpus: DataFrame, query: String): DataFrame = {
    val highlights = QueryParser.highlightWords(query)
    val title = graft.sources.Corpus.titleOf(col("content"))
    val body = graft.sources.Corpus.bodyOf(col("content"))
    corpus.join(broadcast(pageDf), "doc_id")
      .select(col("doc_id"), col("score"), title.as("title"),
        snippetCol(body, highlights).as("snippet"))
      .orderBy(desc("score"), asc("doc_id"))
  }

  /** S8: point lookup of one document — pushdown predicate on the corpus
    * Parquet replaces the reference's MapFile get
    * (`util/CorpusFetcher.java:246-258`).
    */
  def fetchDoc(docs: DataFrame, docId: Long): DataFrame =
    docs.filter(col("doc_id") === docId)
      .select(col("doc_id"), entityDecode(col("text")).as("text"))
}
