package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.search.{PostingAlgebra, QueryParser, SearchEngine}

/** The output checks. Each returns `None` when the output is right and
  * `Some(reason)` when it is not, so a failed check can be counted and
  * shown. They take collected results, so `SelfTest` can hand them
  * deliberately corrupted ones.
  */
object Oracles {

  /** Relative tolerance for scores: the join tree and the in-memory
    * algebra multiply and add the same numbers in different orders. */
  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  // ---------- build ----------

  /** Row count and XOR of per-row xxhash64(term, doc_id, tf, positions, df)
    * of a posting table, plus the largest distance of a stored score from
    * `(1 + log10 tf) * ln(N / df)`. */
  final case class IndexDigest(rows: Long, xor: Long, maxScoreError: Double)

  def indexDigest(index: DataFrame, nDocs: Long): IndexDigest = {
    val r = index.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("term"), col("doc_id"), col("tf"),
          col("positions"), col("df"))), lit(0L)),
        coalesce(max(abs(col("score") - (lit(1.0) + log10(col("tf"))) *
          log(lit(nDocs.toDouble) / col("df")))), lit(0.0)))
      .head()
    IndexDigest(r.getLong(0), r.getLong(1), r.getDouble(2))
  }

  /** The digest the generator predicts, computed with Spark's own
    * xxhash64 so it matches `indexDigest` row for row. */
  def expectedDigest(corpus: Corpus): IndexDigest = {
    var rows = 0L
    var xor = 0L
    val intArray = ArrayType(IntegerType, containsNull = false)
    for ((term, ps) <- corpus.postings) {
      val t = UTF8String.fromString(term)
      val df = ps.length.toLong
      for ((doc, positions) <- ps) {
        var h = XxHash64Function.hash(t, StringType, 42L)
        h = XxHash64Function.hash(doc, LongType, h)
        h = XxHash64Function.hash(positions.length.toLong, LongType, h)
        h = XxHash64Function.hash(new GenericArrayData(positions.map(Int.box)), intArray, h)
        h = XxHash64Function.hash(df, LongType, h)
        rows += 1
        xor ^= h
      }
    }
    IndexDigest(rows, xor, 0.0)
  }

  /** A build: its stop words and its read-back index digest. */
  def checkBuild(corpus: Corpus, expected: IndexDigest, stopWords: Seq[String],
                 got: IndexDigest): Option[String] =
    if (stopWords != corpus.stopWords) Some("stop-word list differs from the generator's")
    else checkIndex(expected, got)

  def checkIndex(expected: IndexDigest, got: IndexDigest): Option[String] =
    if (got.rows != expected.rows) Some(s"index has ${got.rows} rows, expected ${expected.rows}")
    else if (got.xor != expected.xor) Some("index postings differ from the generator's")
    else if (!(got.maxScoreError <= 1e-9)) Some(s"score off the tf-idf formula by ${got.maxScoreError}")
    else None

  // ---------- search and batch ----------

  /** A collected term slice of the index: term -> postings sorted the way
    * `PostingAlgebra` expects (doc ids as strings, positions as deltas). */
  def algebraIndex(rows: Seq[(String, Long, Double, Seq[Int])]): Map[String, Vector[PostingAlgebra.Posting]] =
    rows.groupBy(_._1).map { case (term, rs) =>
      term -> rs.map { case (_, doc, score, pos) =>
        val abs = pos.toVector.sorted
        val deltas = abs.indices.map(i => if (i == 0) abs(0) else abs(i) - abs(i - 1)).toVector
        PostingAlgebra.Posting(doc.toString, score, deltas)
      }.sortBy(_.docId).toVector
    }

  /** The full ranking the in-memory algebra gives: score descending,
    * doc id ascending. */
  def ranking(query: String, stopWords: Set[String],
              slice: Map[String, Vector[PostingAlgebra.Posting]]): Vector[(Long, Double)] = {
    val ast = new QueryParser(stopWords).parse(query.toLowerCase)
    val w = PostingAlgebra.evaluate(ast, slice)
    require(w.tpe == 0, s"query '$query' does not resolve to a positive result")
    w.postings.map(p => (p.docId.toLong, p.score))
      .sortBy { case (d, s) => (-s, d) }
  }

  /** A ranked list of (doc id, score) against the oracle's ranking: the
    * first `k` entries, tied scores allowed to swap. */
  def checkTop(oracle: Vector[(Long, Double)], got: Seq[(Long, Double)], k: Int): Option[String] = {
    val want = oracle.take(k)
    val byDoc = oracle.toMap
    if (got.length != want.length) return Some(s"${got.length} results, expected ${want.length}")
    if (got.map(_._1).distinct.length != got.length) return Some("a document appears twice")
    for (((d, s), i) <- got.zipWithIndex) {
      if (!byDoc.get(d).exists(close(_, s))) return Some(s"doc $d score $s is not the oracle's")
      if (!close(want(i)._2, s)) return Some(s"rank ${i + 1} has score $s, expected ${want(i)._2}")
    }
    None
  }

  final case class PageRow(docId: Long, score: Double, title: String, snippet: String)

  private val SpanStart = "<span style=\"background-color: #FFFF00\">"
  private val SpanEnd = "</span>"

  /** `search_snippets`' invariants, for any query: every highlight word
    * found in the body is highlighted, the de-markup'd snippet stays
    * within the renderer's window bound, and every "..."-separated
    * fragment is a verbatim piece of the body. */
  def checkSnippet(query: String, body: String, snippet: String): Option[String] = {
    val words = QueryParser.highlightWords(query).filter(_.nonEmpty)
    val present = words.distinct.filter(w => (" " + body + " ").matches(s"(?s).*\\b$w\\b.*"))
    val missing = present.filterNot(w => snippet.contains(SpanStart + w + SpanEnd))
    if (missing.nonEmpty) return Some(s"snippet lacks highlight of ${missing.mkString(",")}")
    val plain = snippet.replace(SpanStart, "").replace(SpanEnd, "")
    // one window per highlight word found, repeats included, each at most
    // SnippetRange / windows + 1 chars with an ellipsis on either side
    val windows = math.max(1, words.count(present.contains))
    if (plain.length > SearchEngine.SnippetRange + 7 * windows)
      return Some(s"snippet of ${plain.length} chars exceeds the window bound")
    // the corpus never has two periods in a row, so a run of three or more
    // is the renderer's ellipsis, perhaps next to a sentence's full stop
    plain.split("\\.{3,}").find(f => f.nonEmpty && !body.contains(f))
      .map(f => s"snippet fragment '${f.take(40)}' is not in the document")
  }

  def checkPage(query: String, oracle: Vector[(Long, Double)], page: Seq[PageRow],
                body: Long => String): Option[String] =
    checkTop(oracle, page.map(r => (r.docId, r.score)), SearchEngine.PageSize).orElse(
      page.iterator.map { r =>
        if (r.title != s"doc-${r.docId}") Some(s"doc ${r.docId} has title '${r.title}'")
        else checkSnippet(query, body(r.docId), r.snippet)
      }.collectFirst { case Some(e) => e })

  /** A cache hit must return exactly the page its miss returned. */
  def checkHit(miss: Seq[PageRow], hit: Seq[PageRow]): Option[String] =
    if (miss == hit) None else Some("cache hit returned a different page than its miss")

  // ---------- dedup ----------

  def shingles(corpus: Corpus, doc: Long, n: Int = 3): Set[String] = {
    val t = corpus.docs(doc.toInt).tokens.map(corpus.vocab(_))
    t.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val common = a.count(b.contains)
    common.toDouble / (a.size + b.size - common)
  }

  /** `Dedup.exact`: one group per distinct text, keeper = smallest id. */
  def checkExact(corpus: Corpus, groups: Seq[(Long, Long)]): Option[String] = {
    val want = corpus.docs.groupBy(_.text).values
      .map(ds => (ds.map(_.id).min, ds.length.toLong)).toSet
    if (groups.toSet == want && groups.length == want.size) None
    else Some(s"exact dedup found ${groups.length} groups, expected ${want.size}")
  }

  /** Every planted pair at or above `minJ` is reported, and every reported
    * pair's Jaccard, recomputed here, is the one reported and passes. */
  def checkPairs(corpus: Corpus, pairs: Seq[(Long, Long, Double)], minJ: Double): Option[String] = {
    val sh = mutable.HashMap.empty[Long, Set[String]]
    def s(d: Long) = sh.getOrElseUpdate(d, shingles(corpus, d))
    val found = pairs.map(p => (p._1, p._2)).toSet
    if (found.size != pairs.length) return Some("a pair is reported twice")
    corpus.plantedPairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .find { case (a, b) => jaccard(s(a), s(b)) >= minJ && !found.contains((a, b)) }
      .map { case (a, b) => s"planted pair ($a, $b) not found" }
      .orElse(pairs.collectFirst {
        case (a, b, j) if !(a < b) || !close(jaccard(s(a), s(b)), j) || j < minJ =>
          s"pair ($a, $b) reported at $j, recomputed ${jaccard(s(a), s(b))}"
      })
  }

  /** `Dedup.clusters`: each node of the pair graph labeled with the
    * smallest id of its connected component. */
  def checkClusters(pairs: Seq[(Long, Long)], labels: Seq[(Long, Long)]): Option[String] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.toVector.map(d => (d, find(d))).toSet
    if (labels.toSet == want && labels.length == want.size) None
    else Some(s"clusters labeled ${labels.length} nodes, expected ${want.size}")
  }

  /** `TextAnalysis.repetitionStats` and `spanDedup` count every token, and
    * `spanDedup` removes all of a document that has a verbatim copy. */
  def checkTextStats(corpus: Corpus, repTokens: Seq[(Long, Long)],
                     span: Seq[(Long, Long, Long)]): Option[String] = {
    val n = corpus.docs.map(d => d.id -> d.tokens.length.toLong).toMap
    val copies = corpus.docs.groupBy(_.text).values.filter(_.length > 1).flatten.map(_.id).toSet
    if (repTokens.length != n.size || repTokens.exists { case (d, k) => n(d) != k })
      Some("repetitionStats token counts differ from the corpus")
    else if (span.length != n.size || span.exists { case (d, k, _) => n(d) != k })
      Some("spanDedup token counts differ from the corpus")
    else span.collectFirst {
      case (d, k, removed) if copies(d) && removed != k => s"spanDedup kept text of copied doc $d"
    }
  }
}
