package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.{Indexer, SearchEngine}
import graft.streaming.StreamingOps

/** Retrieval rows: the boolean CNF algebra, phrase proximity, pagination
  * and snippets, substring and prefix search, and the at-rest and
  * streaming-maintained index variants. Scores rest on the same
  * stem-map injectivity as [[IndexQueries]].
  */
object SearchQueries {
  import Shared._

  /** Trigram posting table, one per (session, sf dir) — the substring
    * analogue of the term index cache: the corpus-sized build is paid
    * once, every `search_substring` probe is a broadcast semi-join.
    */
  private def trigramIndex(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.getOrElseUpdate(s, dir, "trigramIndex",
      graft.search.SubstringIndex.trigramPostings(t(s, dir, "documents"))
        .persist())

  /** The AT-REST variant: gram-range-partitioned parquet written once
    * per (session, sf dir); probes read it back with the gram IN-filter
    * pushed to the scan — the layout a 100 TB deployment keeps.
    */
  private def trigramDiskIndex(s: SparkSession, dir: String): String =
    atRest(s, dir, "trigramDiskIndex", "trgm") { p =>
      graft.search.SubstringIndex.writeIndex(
        graft.search.SubstringIndex.trigramPostings(t(s, dir, "documents")),
        p, numFiles = 16)
    }

  /** Streaming-maintained stats table, one per (session, sf dir): the
    * corpus staged as two parquet batch files through the REAL
    * checkpointed [[StreamingOps.streamingIndexMaintenance]] lineage,
    * then the first batch RE-EMITTED as a brand-new file into the
    * resumed query — a cross-version redelivery — so the at-rest table
    * carries duplicate `(term, doc_id)` rows and
    * [[StreamingOps.servedPostings]]'s dedup is load-bearing in the
    * oracle check, not decorative.
    */
  private def streamedStats(s: SparkSession, dir: String): String =
    ArtifactStore.getOrElseUpdate(s, dir, "streamedStats", {
      val root = annTmp()
      val in = s"$root/in"; val stats = s"$root/stats"; val ckpt = s"$root/ckpt"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val docs = t(s, dir, "documents")
      def stage(name: String, df: DataFrame): Unit = {
        val tmp = s"$root/__tmp_$name"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(part.toPath,
          java.nio.file.Paths.get(in, s"$name.parquet"))
      }
      def run(): Unit = {
        val q = StreamingOps.streamingIndexMaintenance(s, in, stats,
          checkpointDir = Some(ckpt))
        try q.processAllAvailable() finally q.stop()
      }
      val b0 = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      stage("b0", b0)
      stage("b1", docs.filter(pmod(col("doc_id"), lit(2)) =!= 0))
      run()
      stage("b2_redelivered", b0)
      run()
      stats
    })

  /** The reference's HEADLINE physical artifact at rest: the stemmed
    * posting table written term-range-partitioned + term-sorted once
    * per (session, sf dir) via [[Indexer.writeIndex]] (the Spark form
    * of the TotalOrderPartitioner output + boundary file,
    * `code/inverted/InvertedIndexMapred.java:288,296-306`). Queries
    * read it back FRESH — `search_and_at_rest` proves query-time
    * partition pruning on the persisted layout, not a session cache.
    */
  private def invertedDiskIndex(s: SparkSession, dir: String): String =
    atRest(s, dir, "invertedDiskIndex", "inverted") { p =>
      Indexer.writeIndex(Indexer.postings(t(s, dir, "documents")), p)
    }

  private def searchScores(s: SparkSession, dir: String, q: String): DataFrame = {
    val docs = t(s, dir, "documents")
    SearchEngine.search(q, cachedIndex(s, dir), docs)
      .select(col("doc_id"), round(col("score"), 4).as("score"))
  }

  /** The oracle of `search_and`; by design also the oracle of
    * `search_streamed_index`, `search_and_at_rest`.
    */
  private val SearchAndOracle: String =
    (OracleTfidfCte +
      """SELECT a.doc_id, round(a.score * b.score, 4) AS score
        |FROM sc a JOIN sc b USING (doc_id)
        |WHERE a.term = 'spark' AND b.term = 'data'""").stripMargin

  /** The oracle of `search_phrase`; by design also the oracle of
    * `search_phrase_at_rest`.
    */
  private val SearchPhraseOracle: String =
    (OracleTfidfCte +
      """, dist AS (
        |  SELECT p1.doc_id, min(abs(p1.pos - p2.pos)) AS d
        |  FROM kept p1 JOIN kept p2 USING (doc_id)
        |  WHERE p1.token = 'spark' AND p2.token = 'data'
        |  GROUP BY 1)
        |SELECT a.doc_id,
        |       round(CASE WHEN dist.d IS NOT NULL
        |         THEN pow(a.score * b.score, 1.0 + 1.0 / dist.d)
        |         ELSE a.score * b.score END, 4) AS score
        |FROM sc a JOIN sc b USING (doc_id) LEFT JOIN dist USING (doc_id)
        |WHERE a.term = 'spark' AND b.term = 'data'""").stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("doc_fetch", (s, dir) =>
      SearchEngine.fetchDoc(t(s, dir, "documents"), 42L),
      oracle = ("SELECT doc_id, replace(replace(text, '&#60;', '<'), '&#62;', '>') AS text " +
        "FROM documents WHERE doc_id = 42")),
    // per-document top-5 TF-IDF keywords: doc_id-partitioned window
    // (millions of small partitions, no global sort), raw-score ranks
    // with term tie-break — reproducible across engines
    QuerySpec("doc_keywords", (s, dir) =>
      graft.search.Scoring.docKeywords(cachedRawIndex(s, dir), 5),
      oracle = (OracleTfidfCte +
        """, ranked AS (
          |  SELECT doc_id, term, score,
          |         row_number() OVER (PARTITION BY doc_id
          |                            ORDER BY score DESC, term) AS rank
          |  FROM sc)
          |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
          |       round(score, 4) AS score
          |FROM ranked WHERE rank <= 5""").stripMargin),
    // related-document retrieval: TF-IDF cosine of every doc against
    // doc 42's term vector, sparse posting-join algebra (no dense
    // vectors, no embedding model)
    QuerySpec("search_more_like_this", (s, dir) =>
      graft.search.Scoring.moreLikeThis(cachedRawIndex(s, dir), 42L, 10)
        .select(col("doc_id"), round(col("cosine"), 4).as("cosine")),
      oracle = (OracleTfidfCte +
        """, q AS (SELECT term, score AS qw FROM sc WHERE doc_id = 42),
          |nr AS (SELECT doc_id, sqrt(sum(score * score)) AS nrm
          |       FROM sc GROUP BY 1),
          |qn AS (SELECT sqrt(sum(qw * qw)) AS qnorm FROM q),
          |dots AS (SELECT sc.doc_id, sum(sc.score * q.qw) AS dot
          |         FROM sc JOIN q USING (term)
          |         WHERE sc.doc_id <> 42 GROUP BY 1
          |         HAVING sum(sc.score * q.qw) > 0)
          |SELECT d.doc_id, round(d.dot / (nr.nrm * qn.qnorm), 4) AS cosine
          |FROM dots d JOIN nr USING (doc_id) CROSS JOIN qn
          |ORDER BY d.dot / (nr.nrm * qn.qnorm) DESC, d.doc_id
          |LIMIT 10""").stripMargin),
    // hybrid retrieval: BM25 keyword ranking + embedding-cosine ranking
    // fused by reciprocal ranks (RRF) — both candidate lists are
    // pool-bounded TakeOrdered plans, the fusion join sees <= 2*pool
    // rows; vec_id 0 is the query vector itself and is excluded
    QuerySpec("search_hybrid", (s, dir) =>
      graft.search.Scoring.hybridRrf(t(s, dir, "documents"),
        t(s, dir, "embeddings").filter(col("vec_id") =!= 0),
        Seq("spark", "data"), queryVec(s, dir), k = 10),
      // ranks are computed over 4-decimal-rounded scores with doc_id
      // tie-break (deterministic across engines); pool = 100 per
      // modality, RRF c = 60, fused top 10
      oracle = (OracleTfidfCte +
        """, dls AS (SELECT doc_id, count(*) AS dl FROM kept GROUP BY 1),
          |g AS (SELECT avg(dl) AS avgdl, count(*) AS doc_num FROM dls),
          |bm AS (
          |  SELECT tf.term, tf.doc_id,
          |    ln(1.0 + (g.doc_num - dfreq.df + 0.5) / (dfreq.df + 0.5))
          |      * (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dls.dl / g.avgdl)) AS score
          |  FROM tf JOIN dfreq USING (term) JOIN dls USING (doc_id) CROSS JOIN g
          |  WHERE tf.term IN ('spark', 'data')),
          |bmdoc AS (
          |  SELECT doc_id, round(sum(score), 4) AS bm25
          |  FROM bm GROUP BY 1 HAVING count(*) = 2),
          |trank AS (
          |  SELECT doc_id, text_rank FROM (
          |    SELECT doc_id,
          |           row_number() OVER (ORDER BY bm25 DESC, doc_id) AS text_rank
          |    FROM bmdoc) WHERE text_rank <= 100),
          |vcos AS (
          |  SELECT e.vec_id AS doc_id,
          |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
          |           CAST(q.embedding AS DOUBLE[])), 4) AS cos
          |  FROM embeddings e,
          |       (SELECT embedding FROM embeddings WHERE vec_id = 0) q
          |  WHERE e.vec_id <> 0),
          |vrank AS (
          |  SELECT doc_id, vec_rank FROM (
          |    SELECT doc_id,
          |           row_number() OVER (ORDER BY cos DESC, doc_id) AS vec_rank
          |    FROM vcos) WHERE vec_rank <= 100)
          |SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
          |       round(COALESCE(1.0 / (60 + t.text_rank), 0) +
          |             COALESCE(1.0 / (60 + v.vec_rank), 0), 6) AS rrf,
          |       CAST(t.text_rank AS BIGINT) AS text_rank,
          |       CAST(v.vec_rank AS BIGINT) AS vec_rank
          |FROM trank t FULL OUTER JOIN vrank v ON t.doc_id = v.doc_id
          |ORDER BY rrf DESC, COALESCE(t.doc_id, v.doc_id) LIMIT 10""").stripMargin),
    QuerySpec("search_bm25", (s, dir) => {
      // BM25 ranking for "spark data": per-term scores SUM over the
      // query's terms (standard BM25 combination)
      val sc = graft.search.Scoring.bm25Postings(t(s, dir, "documents"))
      sc.filter(col("term").isin("spark", "data"))
        .groupBy("doc_id")
        .agg(round(sum("score"), 4).as("score"), count("*").as("n_terms"))
        .filter(col("n_terms") === 2) // conjunctive: both terms present
        .drop("n_terms")
    },
      oracle = (OracleTfidfCte +
        """, dls AS (SELECT doc_id, count(*) AS dl FROM kept GROUP BY 1),
          |g AS (SELECT avg(dl) AS avgdl, count(*) AS doc_num FROM dls),
          |bm AS (
          |  SELECT tf.term, tf.doc_id,
          |    ln(1.0 + (g.doc_num - dfreq.df + 0.5) / (dfreq.df + 0.5))
          |      * (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dls.dl / g.avgdl)) AS score
          |  FROM tf JOIN dfreq USING (term) JOIN dls USING (doc_id) CROSS JOIN g
          |  WHERE tf.term IN ('spark', 'data'))
          |SELECT doc_id, round(sum(score), 4) AS score
          |FROM bm GROUP BY 1 HAVING count(*) = 2""").stripMargin),
    QuerySpec("search_and", (s, dir) => searchScores(s, dir, "spark and data"),
      oracle = SearchAndOracle),
    // the reference's headline PHYSICAL behavior driven on a query row:
    // score from the PERSISTED term-range-partitioned index
    // ([[invertedDiskIndex]]) through a fresh readIndex: the query's
    // one `term IN (...)` filter pushes into the parquet scan and
    // footer min/max stats on the term-sorted layout skip the files
    // other terms live in — the Spark form of query-time pruning over
    // the boundary-file layout
    // (code/query/QueryMapred.java:126-162). RoundTwentyThreeSpec
    // asserts non-empty term PushedFilters on THIS entry's plan;
    // values = search_and exactly (same oracle SQL)
    QuerySpec("search_and_at_rest", (s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = Indexer.readIndex(s, invertedDiskIndex(s, dir))
      SearchEngine.search("spark and data", idx, docs)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    },
      // identical semantics to search_and — the entry differs only in the
      // PHYSICAL read path (persisted term-partitioned index, lazy pruned
      // scans), which must not change a single value
      oracle = SearchAndOracle),
    // streaming maintenance SERVING an oracle-checked search: the
    // corpus arrives through the real checkpointed
    // streamingIndexMaintenance lineage (two staged batches + batch 0
    // re-emitted as a brand-new file into the resumed query — a
    // cross-version redelivery), and the query runs over
    // servedPostings. Scores must equal search_and's oracle EXACTLY:
    // the maintained at-rest stats, the redelivery dedup, and the
    // served df/docNum derivation are all load-bearing — the index a
    // 100 TB pipeline actually serves from is the one streaming
    // maintains
    QuerySpec("search_streamed_index", (s, dir) => {
      val served = StreamingOps.servedPostings(s, streamedStats(s, dir))
      SearchEngine.search("spark and data", served, t(s, dir, "documents"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    },
      // identical semantics to search_and — the entry differs only in
      // WHO BUILT the index (the checkpointed streaming maintenance
      // lineage, redelivered batch included), which must not change a
      // single value
      oracle = SearchAndOracle),
    QuerySpec("search_or", (s, dir) => searchScores(s, dir, "spark or data"),
      oracle = (OracleTfidfCte +
        """SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
          |       round(COALESCE(a.score, 0) + COALESCE(b.score, 0), 4) AS score
          |FROM (SELECT * FROM sc WHERE term = 'spark') a
          |FULL OUTER JOIN (SELECT * FROM sc WHERE term = 'data') b
          |  ON a.doc_id = b.doc_id""").stripMargin),
    QuerySpec("search_and_not", (s, dir) => searchScores(s, dir, "spark and not data"),
      oracle = (OracleTfidfCte +
        """SELECT a.doc_id, round(a.score, 4) AS score
          |FROM sc a
          |WHERE a.term = 'spark' AND NOT EXISTS (
          |  SELECT 1 FROM sc b WHERE b.term = 'data' AND b.doc_id = a.doc_id)""").stripMargin),
    // N queries evaluated in one pass over one pruned scan of the
    // shared session index (the reference pays a full MapReduce
    // pipeline per query)
    QuerySpec("search_batch", (s, dir) => {
      val ranked = SearchEngine.searchMany(
        Seq("spark and data", "spark or data"),
        cachedIndex(s, dir), t(s, dir, "documents"))
      ranked.select(col("query"), col("doc_id"),
        round(col("score"), 4).as("score"))
    },
      // UNION ALL of the search_and / search_or oracles verbatim,
      // tagged by query string
      oracle = (OracleTfidfCte +
        """SELECT 'spark and data' AS query, q1.doc_id, q1.score FROM (
          |  SELECT a.doc_id, round(a.score * b.score, 4) AS score
          |  FROM sc a JOIN sc b USING (doc_id)
          |  WHERE a.term = 'spark' AND b.term = 'data') q1
          |UNION ALL
          |SELECT 'spark or data' AS query, q2.doc_id, q2.score FROM (
          |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
          |         round(COALESCE(a.score, 0) + COALESCE(b.score, 0), 4) AS score
          |  FROM (SELECT * FROM sc WHERE term = 'spark') a
          |  FULL OUTER JOIN (SELECT * FROM sc WHERE term = 'data') b
          |    ON a.doc_id = b.doc_id) q2""").stripMargin),
    QuerySpec("search_cnf", (s, dir) =>
      searchScores(s, dir, "(spark or data) and join and not dup"),
      oracle = (OracleTfidfCte +
        """, ors AS (
          |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
          |         COALESCE(a.score, 0) + COALESCE(b.score, 0) AS score
          |  FROM (SELECT * FROM sc WHERE term = 'spark') a
          |  FULL OUTER JOIN (SELECT * FROM sc WHERE term = 'data') b
          |    ON a.doc_id = b.doc_id)
          |SELECT o.doc_id, round(o.score * j.score, 4) AS score
          |FROM ors o JOIN sc j ON j.term = 'join' AND j.doc_id = o.doc_id
          |WHERE NOT EXISTS (
          |  SELECT 1 FROM sc d WHERE d.term = 'dup' AND d.doc_id = o.doc_id)""").stripMargin),
    // trigram substring index (pg_trgm / code-search design): LIKE
    // '%needle%' as a bounded index probe — broadcast the needle's gram
    // set against the session-cached posting table, require ALL grams
    // per doc, exact contains-verify only the candidates. Output is
    // exactly the brute-force LIKE row set (the oracle computes it)
    QuerySpec("search_substring", (s, dir) =>
      graft.search.SubstringIndex.search(
        t(s, dir, "documents"), trigramIndex(s, dir), "merge batch"),
      oracle = """SELECT doc_id FROM documents
        |WHERE position('merge batch' IN lower(text)) > 0""".stripMargin),
    // %-wildcard LIKE over the same trigram index: every literal
    // segment's grams are required, the like verify enforces order
    QuerySpec("search_like", (s, dir) =>
      graft.search.SubstringIndex.searchLike(
        t(s, dir, "documents"), trigramIndex(s, dir), "%merge batch%fast%"),
      oracle = """SELECT doc_id FROM documents
        |WHERE lower(text) LIKE '%merge batch%fast%'""".stripMargin),
    // the AT-REST probe path: parquet index written once per session,
    // the needle's grams pushed as an IN-filter into the scan (footer
    // min/max pruning), exact contains verify on candidates — output
    // identical to the in-memory probe and to brute force
    QuerySpec("search_substring_at_rest", (s, dir) =>
      t(s, dir, "documents")
        .join(graft.search.SubstringIndex.probeIndex(
          s, trigramDiskIndex(s, dir), "window sort"), "doc_id")
        .filter(contains(lower(col("text")), lit("window sort")))
        .select(col("doc_id")),
      oracle = """SELECT doc_id FROM documents
        |WHERE position('window sort' IN lower(text)) > 0""".stripMargin),
    // incremental maintenance of the trigram index (the substring
    // sibling of postings_incremental): 80% of the corpus is "already
    // indexed" — with the doc_id%10==2 slice indexed from a STALE
    // truncated revision — and the batch re-ingests those updated docs
    // plus the 20% new ones. mergePostings re-grams ONLY the batch and
    // anti-joins its ids out of the old postings, so a probe through
    // the merged index must equal brute-force LIKE over the TRUE
    // corpus (the oracle); the merge-equals-rebuild spec pins exact
    // posting-set equality
    QuerySpec("substring_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      val stale = pmod(col("doc_id"), lit(10)) === 2
      val baseDocs = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .select(col("doc_id"),
          when(stale, substring(col("text"), 1, 40))
            .otherwise(col("text")).as("text"))
      val batch = docs.filter(
        pmod(col("doc_id"), lit(5)) === 0 || stale)
      val merged = graft.search.SubstringIndex.mergePostings(
        graft.search.SubstringIndex.trigramPostings(baseDocs), batch)
      graft.search.SubstringIndex.search(docs, merged, "hash join")
    },
      oracle = """SELECT doc_id FROM documents
        |WHERE position('hash join' IN lower(text)) > 0""".stripMargin),
    QuerySpec("search_phrase", (s, dir) => searchScores(s, dir, "spark data"),
      oracle = SearchPhraseOracle),
    // the PROXIMITY path over the persisted index: positions read back
    // from parquet carry containsNull=true, so this row drives the
    // native MinTokenDistance kernel's defined null-skip semantics
    // against real at-rest arrays (not just the session-cached ones);
    // same oracle as search_phrase — the physical read path must not
    // move a value
    QuerySpec("search_phrase_at_rest", (s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = Indexer.readIndex(s, invertedDiskIndex(s, dir))
      SearchEngine.search("spark data", idx, docs)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    },
      // search_phrase verbatim — the at-rest variant differs only in the
      // physical read path (lazy pruned scans over the persisted index)
      oracle = SearchPhraseOracle),
    // prefix query over the PERSISTED index — the RANGE-predicate class
    // the term-range partitioning exists for: `term LIKE 's%'` reaches
    // the scan as a pushed StringStartsWith, and the boundary-file
    // layout prunes every file outside [s, t) via footer min/max stats
    // (the reference prunes point terms the same way,
    // code/query/QueryMapred.java:126-162; a range is the natural
    // extension its TotalOrderPartitioner layout supports). "s" expands
    // to six index terms (scan slow small sort spark stream — all
    // Porter fixed points, so the raw-token oracle is exact); score =
    // n-ary OR (sum, F5) with the matched-term count alongside
    QuerySpec("search_prefix_at_rest", (s, dir) => {
      val idx = Indexer.readIndex(s, invertedDiskIndex(s, dir))
      SearchEngine.searchPrefix("s", idx)
        .select(col("doc_id"), round(col("score"), 4).as("score"),
          col("n_terms"))
    },
      // six-term n-ary OR via prefix expansion; sum over ≤ 6 per-doc
      // scores rounds identically across engines (same argument as
      // search_bm25's round(sum(...), 4))
      oracle = (OracleTfidfCte +
        """SELECT doc_id, round(sum(score), 4) AS score,
          |       CAST(count(*) AS BIGINT) AS n_terms
          |FROM sc WHERE term LIKE 's%' GROUP BY 1""").stripMargin),
    QuerySpec("search_not_or", (s, dir) =>
      searchScores(s, dir, "join and not (spark or data)"),
      oracle = (OracleTfidfCte +
        """SELECT j.doc_id, round(j.score, 4) AS score
          |FROM sc j
          |WHERE j.term = 'join'
          |  AND NOT EXISTS (SELECT 1 FROM sc a
          |    WHERE a.term = 'spark' AND a.doc_id = j.doc_id)
          |  AND NOT EXISTS (SELECT 1 FROM sc b
          |    WHERE b.term = 'data' AND b.doc_id = j.doc_id)""").stripMargin),
    // the full reference stop-word flow: derive top-2 stop words from the
    // corpus (A1+O1), build the index excluding them, neutralize them at
    // parse time (Q4) — "join" is rank-1, so it becomes an identity
    // operand and the query degenerates to "spark"
    QuerySpec("search_stopword_drop", (s, dir) => {
      val docs = t(s, dir, "documents")
      val sw = Indexer.stopWordList(docs, 2)
      val idx = Indexer.postings(docs, sw)
      SearchEngine.search("spark and join", idx, docs,
        graft.search.QueryParser.stemmedStopWords(sw))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    },
      // top-2 stop words are 'join','hash' (by count desc, word asc);
      // both are neutralized identity operands, leaving plain "spark" —
      // whose tf/df/docNum are unaffected by removing other terms
      oracle = (OracleTfidfCte +
        "SELECT doc_id, round(score, 4) AS score FROM sc WHERE term = 'spark'")),
    QuerySpec("search_page1", (s, dir) => {
      val docs = t(s, dir, "documents")
      val ranked = SearchEngine.search("spark and data", cachedIndex(s, dir), docs)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(desc("score"), asc("doc_id"))
      SearchEngine.page(ranked, 1)
    },
      oracle = (OracleTfidfCte +
        """SELECT a.doc_id, round(a.score * b.score, 4) AS score
          |FROM sc a JOIN sc b USING (doc_id)
          |WHERE a.term = 'spark' AND b.term = 'data'
          |ORDER BY score DESC, doc_id ASC LIMIT 10""").stripMargin),
    // the snippet renderer, oracled by INVARIANTS over the real rendered
    // string instead of a verbatim corpus pin: the page-1 doc set is the
    // same SQL ranking search_page1 asserts, and per doc (a) every
    // positive query term appears highlighted, (b) the de-markup'd
    // snippet stays within the reference's window bound, (c) every
    // "..."-separated fragment is a verbatim substring of the document.
    // The DuckDB row is (doc_id, TRUE, TRUE, TRUE, TRUE) over the ranked
    // page — a real SQL oracle; the renderer's exact output shape stays
    // pinned by the PresentationSpec unit vectors.
    QuerySpec("search_snippets", (s, dir) => {
      val docs = t(s, dir, "documents")
      val q = "spark and data"
      val ranked = SearchEngine.search(q, cachedIndex(s, dir), docs)
      val rendered = SearchEngine.renderPage(SearchEngine.page(ranked, 1), docs, q)
        .select(col("doc_id"), col("snippet"))
      val stripped = replace(replace(col("snippet"),
        lit("<span style=\"background-color: #FFFF00\">")), lit("</span>"))
      rendered.join(docs.select(col("doc_id"), col("text")), "doc_id")
        .select(col("doc_id"),
          // lower() first: the renderer highlights case-insensitively
          // (">Spark</span>" is a correct rendering), so the invariant
          // must not depend on the corpus text's case
          lower(col("snippet")).contains(">spark</span>").as("has_spark"),
          lower(col("snippet")).contains(">data</span>").as("has_data"),
          (length(stripped) <= lit(SearchEngine.SnippetRange + 16)).as("len_ok"),
          forall(split(stripped, "\\.\\.\\."), seg =>
            replace(col("text"), lit("\n")).contains(seg)).as("from_doc"))
    },
      // the page-1 doc set (search_page1's ranking) with every snippet
      // invariant required TRUE — a real SQL oracle over the rendered
      // output's properties (was a verbatim corpus pin before r5)
      oracle = (OracleTfidfCte +
        """SELECT a.doc_id, TRUE AS has_spark, TRUE AS has_data,
          |       TRUE AS len_ok, TRUE AS from_doc
          |FROM sc a JOIN sc b USING (doc_id)
          |WHERE a.term = 'spark' AND b.term = 'data'
          |ORDER BY a.score * b.score DESC, doc_id ASC LIMIT 10""").stripMargin)
  )
}
