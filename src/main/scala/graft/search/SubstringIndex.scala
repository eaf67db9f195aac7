package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Trigram substring index: makes `LIKE '%needle%'` an index probe
  * instead of a full corpus scan — the pg_trgm / code-search design
  * (public: PostgreSQL pg_trgm, Google Code Search trigram paper).
  *
  * Build: every document contributes its distinct lowercase character
  * n-grams → a `(gram, doc_id)` posting table, written like the term
  * index (range-partitioned by gram, min/max footer stats prune
  * probes). Corpus-linear size, one shuffle to build.
  *
  * Query: a literal needle of length >= n REQUIRES each of its
  * consecutive n-grams, so candidates = docs containing ALL of them —
  * a broadcast semi-join of the (tiny) needle-gram set against the
  * posting table + a per-doc gram count, then ONE exact
  * `contains` verify over just the candidate rows. At 100 TB the
  * expensive scan happens once at build; a probe touches the needle's
  * gram partitions and verifies a candidate set that rare trigrams
  * have already cut to near the true answer. Needles shorter than n
  * have no gram to require — that IS a corpus scan, and `search`
  * falls back to one explicitly rather than pretending to prune.
  */
object SubstringIndex {

  /** Distinct lowercase n-gram postings `(gram, doc_id)`. Sliding
    * windows are generated map-side (`transform` over an index
    * `sequence` — codegen'd, no UDF); `array_distinct` collapses
    * within-doc repeats BEFORE the explode so the shuffle carries each
    * (doc, gram) once, not once per occurrence.
    */
  def trigramPostings(docs: DataFrame, n: Int = 3): DataFrame = {
    require(n >= 2, s"n must be >= 2: $n")
    docs.select(col("doc_id"), lower(col("text")).as("__t"))
      .select(col("doc_id"),
        explode(array_distinct(when(length(col("__t")) >= n,
            expr(s"transform(sequence(1, length(__t) - ${n - 1}), " +
              s"i -> substring(__t, i, $n))"))
          .otherwise(array().cast("array<string>")))).as("gram"))
  }

  /** The needle's required gram set (consecutive windows, deduped).
    * Empty when the needle is shorter than n.
    */
  def requiredGrams(needle: String, n: Int = 3): Seq[String] =
    needle.toLowerCase.sliding(n).filter(_.length == n).toSeq.distinct

  /** Candidate doc ids: contain ALL required grams. The gram set is
    * needle-sized — always broadcast; the posting join partial-
    * aggregates per doc before the count check.
    */
  def candidates(postings: DataFrame, needle: String, n: Int = 3): DataFrame = {
    val grams = requiredGrams(needle, n)
    require(grams.nonEmpty,
      s"needle '$needle' is shorter than the gram width $n — no gram to " +
        "require; use SubstringIndex.search, which scan-falls-back explicitly")
    val spark = postings.sparkSession
    import spark.implicits._
    val need = grams.toDF("gram")
    postings.join(broadcast(need), "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") === grams.size)
      .select("doc_id")
  }

  /** Exact substring search: candidate probe + `contains` verify, or
    * an explicit corpus scan when the needle is too short to index.
    * Output is exactly the brute-force `LIKE '%needle%'` row set.
    */
  def search(docs: DataFrame, postings: DataFrame, needle: String,
             n: Int = 3): DataFrame = {
    val verified =
      if (requiredGrams(needle, n).isEmpty) docs
      else docs.join(candidates(postings, needle, n), "doc_id")
    verified
      .filter(contains(lower(col("text")), lit(needle.toLowerCase)))
      .select(col("doc_id"))
  }

  /** Incremental index maintenance — the substring sibling of the term
    * index's `incrementalPostings`: fold a batch of new or re-ingested
    * documents into an existing posting table WITHOUT re-gramming the
    * corpus. The batch's doc ids are anti-joined out of the existing
    * postings (an update replaces the doc's grams; for a brand-new id
    * the anti-join is a no-op), then the batch's own postings union
    * in. Because [[trigramPostings]] emits each (doc, gram) exactly
    * once with no cross-doc state, postings are a disjoint per-doc
    * union — so the merge is EXACTLY the full rebuild over
    * (old \ batch) ∪ batch, proven by the merge-equals-rebuild spec.
    * At 100 TB an append re-grams only the batch and streams the
    * existing index through one anti-join (batch id set broadcast-
    * sized); nothing corpus-sized shuffles.
    */
  def mergePostings(existing: DataFrame, newDocs: DataFrame,
                    n: Int = 3): DataFrame = {
    val newIds = newDocs.select("doc_id").distinct()
    existing.join(newIds, Seq("doc_id"), "left_anti")
      .unionByName(trigramPostings(newDocs, n))
  }

  /** At-rest incremental maintenance: read the existing index, merge
    * the batch ([[mergePostings]]), write the result to a FRESH path
    * in the same range-partitioned layout — same atomic-swap contract
    * as [[graft.ops.Maintenance.compactParquet]] (never overwrite the
    * directory being probed).
    */
  def mergeIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                 outPath: String, newDocs: DataFrame, n: Int = 3,
                 numFiles: Int = 64): Unit =
    writeIndex(mergePostings(spark.read.parquet(path), newDocs, n),
      outPath, numFiles)

  /** Write the posting table at rest, range-partitioned and sorted by
    * gram — the same layout contract as the term index
    * ([[Indexer]] writeIndex): each parquet file covers a narrow gram
    * range, so its footer min/max statistics prune probes down to the
    * needle's gram files. Build once, probe forever.
    */
  def writeIndex(postings: DataFrame, path: String, numFiles: Int = 64): Unit =
    postings.repartitionByRange(numFiles, col("gram"))
      .sortWithinPartitions("gram")
      .write.mode("overwrite").parquet(path)

  /** Probe the at-rest index: the needle's gram set becomes one pushed
    * `gram = g` equality per gram ([[QueryCompiler.equalsAny]]) that
    * REACHES THE SCAN (PushedFilters, asserted by spec), so the footer
    * and page `[min, max]` of `gram` prune a probe to the files and
    * pages of its own grams, never the whole index. A needle of 13
    * characters or more has over 10 grams, which an `isin` would push
    * as Parquet's `In`: its page index is tested only against the set's
    * min and max. Same all-grams-required candidate semantics as
    * [[candidates]].
    */
  def probeIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                 needle: String, n: Int = 3): DataFrame = {
    val grams = requiredGrams(needle, n)
    require(grams.nonEmpty,
      s"needle '$needle' is shorter than the gram width $n")
    spark.read.parquet(path)
      .filter(QueryCompiler.equalsAny(col("gram"), grams))
      .groupBy("doc_id").agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") === grams.size)
      .select("doc_id")
  }

  /** `LIKE`-pattern search over the same index: `%`-wildcard patterns
    * (e.g. `%merge%batch%`) probe with the union of every literal
    * segment's required grams — each segment must appear somewhere, so
    * ALL segment grams are required — then one `like` verify on the
    * candidates enforces order and adjacency. BOTH wildcards break a
    * literal segment: `_` matches any one character, so the literal
    * runs around it (`a_c` → `a`, `c`) are what must appear verbatim —
    * treating `_` as a gram character would demand the three-char
    * gram `a_c` literally and silently drop true matches. Segments
    * shorter than the gram width contribute no grams; if NO segment
    * is indexable the probe degenerates to the explicit scan, same
    * policy as [[search]]. The pattern must carry its own leading/
    * trailing `%` if substring (not whole-string) semantics are
    * wanted — this is SQL LIKE, verbatim. Escape sequences are NOT
    * supported (`\` in the pattern is rejected): the gram deriver
    * would read an escaped wildcard as a wildcard while the `like`
    * verify reads it as a literal, and the two must agree.
    */
  def searchLike(docs: DataFrame, postings: DataFrame, pattern: String,
                 n: Int = 3): DataFrame = {
    require(!pattern.contains("\\"),
      s"LIKE pattern '$pattern' contains an escape character — escape " +
        "sequences are not supported by the trigram probe")
    val lowered = pattern.toLowerCase
    val grams = lowered.split(Array('%', '_')).filter(_.nonEmpty).toSeq
      .flatMap(requiredGrams(_, n)).distinct
    val verified =
      if (grams.isEmpty) docs
      else {
        val spark = postings.sparkSession
        import spark.implicits._
        val need = grams.toDF("gram")
        val cand = postings.join(broadcast(need), "gram")
          .groupBy("doc_id").agg(count(lit(1)).as("__hits"))
          .filter(col("__hits") === grams.size)
          .select("doc_id")
        docs.join(cand, "doc_id")
      }
    verified.filter(lower(col("text")).like(lowered)).select(col("doc_id"))
  }
}
