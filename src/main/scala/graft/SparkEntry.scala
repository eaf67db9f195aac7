package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{AnnIndex, Dedup, EventAnalytics, Graph, Maintenance, Multimodal, ScalableRank, Similarity, Skew, TextAnalysis}
import graft.search.{Indexer, SearchEngine}
import graft.sources.Tables
import graft.streaming.StreamingOps

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator family from SURVEY.md §2 (scans, projections, scalar
  * functions, aggregations, the join/set-op query algebra, sort/top-k/
  * pagination, the CNF front-end) plus the LLM-pipeline extensions
  * (dedup, similarity, text analysis, multimodal, sessionization) has a
  * `queries` entry; the SQL-expressible ones carry a DuckDB oracle in
  * `oracleSql` (same column names, deterministic values).
  *
  * Search-score queries are oracle-checkable because on this corpus the
  * Porter stem map is injective over the 31-word vocabulary, so
  * stemmed-term statistics equal raw-token statistics; the stemmer
  * itself is pinned by unit vectors instead (PorterStemmerSpec).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables(s, dir, name)

  /** DuckDB CTE body (no WITH keyword) computing 3-gram shingles, doc
    * shingle-set sizes, and pairwise intersection counts — shared by the
    * exact-Jaccard pair oracle and the cluster oracle built on it.
    */
  /** Mixture recipe for `text_mixture_sample`: exact per-source take
    * counts (src10 larger than any sf0.01 stratum — kept whole; strata
    * outside the recipe drop). The oracle CASE is built from this same
    * map so query and oracle cannot drift.
    */
  private val MixTargets: Map[String, Long] =
    ((0 to 9).map(i => s"src$i" -> 10L) ++
      Seq("src10" -> 1000L, "src11" -> 25L)).toMap

  /** Split recipe for `text_split_assign`; the oracle CASE below is
    * built from the same list AND the same double-summed cumulative
    * thresholds (0.8 + 0.1 != 0.9 in IEEE — both sides must use the
    * identical scanLeft sum).
    */
  private val SplitSpec: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  private def splitCase: String = {
    val whens = TextAnalysis.splitThresholds(SplitSpec).dropRight(1)
      .map { case (n, u) => s"WHEN md5(CAST(doc_id AS VARCHAR)) < '$u' THEN '$n'" }
      .mkString(" ")
    // NULL guard mirrors splitAssign: a NULL key gets a NULL split,
    // never the remainder label the CASE's ELSE would hand it
    s"CASE WHEN doc_id IS NULL THEN NULL $whens ELSE '${SplitSpec.last._1}' END"
  }

  private def mixTargetCase: String =
    "CASE source " + MixTargets.toSeq.sortBy(_._1)
      .map { case (s, n) => s"WHEN '$s' THEN $n" }
      .mkString(" ") + " ELSE 0 END"

  /** Shared by dedup_incremental and dedup_incremental_bloom (the Bloom
    * prefilter cannot change the classification — no false negatives,
    * and positives are exact-confirmed by the join).
    */
  private val OracleIncrementalSql: String =
    """WITH c AS (SELECT DISTINCT md5(text) AS digest FROM documents
      |           WHERE doc_id < 250),
      |b AS (
      |  SELECT doc_id, md5(text) AS digest FROM documents WHERE doc_id >= 250
      |  UNION ALL
      |  SELECT doc_id + 1000, md5(text) FROM documents WHERE doc_id < 30
      |  UNION ALL
      |  SELECT doc_id + 2000, md5(text) FROM documents
      |  WHERE doc_id >= 250 AND doc_id < 260),
      |f AS (SELECT digest, min(doc_id) AS first_id FROM b GROUP BY 1)
      |SELECT b.doc_id, b.digest,
      |  CASE WHEN c.digest IS NOT NULL THEN 'dup_corpus'
      |       WHEN b.doc_id > f.first_id THEN 'dup_batch'
      |       ELSE 'new' END AS status
      |FROM b LEFT JOIN c USING (digest) JOIN f USING (digest)""".stripMargin

  /** Winnowing (k=4, w=4) fingerprint selection, shared by
    * text_winnowing and dedup_winnow_pairs. Same fixed-width
    * (md5hex || 10^10-pos) encoding as the Spark side: lexicographic
    * min = (hash ASC, pos DESC), the robust-winnowing rightmost-min
    * tie rule.
    */
  private val OracleWinnowCte: String =
    """t0 AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
      |g AS (
      |  SELECT doc_id, i AS pos, len(arr) - 3 AS ng,
      |         md5(array_to_string(arr[i : i + 3], ' ')) ||
      |           lpad(CAST(10000000000 - i AS VARCHAR), 10, '0') AS m
      |  FROM t0, unnest(generate_series(1, len(arr) - 3)) AS u(i)
      |  WHERE len(arr) >= 4),
      |sel AS (
      |  SELECT doc_id, pos, ng,
      |         min(m) OVER (PARTITION BY doc_id ORDER BY pos
      |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mm
      |  FROM g),
      |win AS (
      |  SELECT DISTINCT doc_id,
      |    CAST(10000000000 - CAST(substr(mm, 33, 10) AS BIGINT) AS INT) AS pos,
      |    substr(mm, 1, 32) AS fp
      |  FROM sel WHERE pos <= greatest(ng - 3, 1))""".stripMargin

  private val OracleNgramCte: String =
    """toks0 AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
      |    '[ \t\r\n,.:;''"()\[\]{}/<>!?|\-—#$&=_*+]+'), x -> x <> '') AS arr
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |         array_to_string(arr[i : i + 2], ' ') AS shingle
      |  FROM toks0, unnest(generate_series(1, greatest(len(arr) - 2, 1))) AS u(i)
      |  WHERE len(arr) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** [[OracleNgramCte]] with the corpus swapped for another CTE/table —
    * the incremental-clusters oracle shingles a UNION corpus.
    */
  private def ngramCteOver(src: String): String =
    OracleNgramCte.replace("FROM documents)", s"FROM $src)")

  /** The raw-token DuckDB CTE mirroring Indexer.postings (minus
    * stemming): tokenize with the reference delimiter set, 1-based
    * positions over non-empty tokens, alnum/digit filters, tf, df,
    * docNum, TF-IDF with mixed log bases.
    */
  private val OracleTfidfCte: String =
    """WITH toks0 AS (
      |  SELECT doc_id,
      |         list_filter(regexp_split_to_array(lower(text),
      |           '[ \t\r\n,.:;''"()\[\]{}/<>!?|\-—#$&=_*+]+'), x -> x <> '') AS arr
      |  FROM documents
      |), toks AS (
      |  SELECT doc_id, i AS pos, arr[i] AS token
      |  FROM toks0, unnest(generate_series(1, len(arr))) AS u(i)
      |), kept AS (
      |  SELECT doc_id, pos, token FROM toks
      |  WHERE regexp_matches(token, '^[a-z0-9]+$')
      |    AND NOT regexp_matches(token, '^[0-9]+$')
      |), tf AS (
      |  SELECT token AS term, doc_id, count(*) AS tf FROM kept GROUP BY 1, 2
      |), dfreq AS (
      |  SELECT term, count(*) AS df FROM tf GROUP BY 1
      |), n AS (
      |  SELECT count(*) AS doc_num FROM documents
      |), sc AS (
      |  SELECT tf.term, tf.doc_id,
      |         (1 + log10(tf.tf)) * ln(CAST(n.doc_num AS DOUBLE) / dfreq.df) AS score
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
      |)
      |""".stripMargin

  /** Exact pair list at minJ=0.2 (LSH only generates candidates; the
    * exact Jaccard decides membership) — shared by `dedup_minhash` and
    * `dedup_minhash_incremental`, whose outputs must be identical.
    */
  private val OracleMinhashPairsSql: String =
    """WITH toks0 AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
      |    '[ \t\r\n,.:;''"()\[\]{}/<>!?|\-—#$&=_*+]+'), x -> x <> '') AS arr
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |         array_to_string(arr[i : i + 2], ' ') AS shingle
      |  FROM toks0, unnest(generate_series(1, greatest(len(arr) - 2, 1))) AS u(i)
      |  WHERE len(arr) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |       CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.2""".stripMargin

  /** Unrolled power-iteration oracle ([[graft.ops.Similarity.powerIteration]]
    * with iterations=3, backScale=1e4, d=64): every contraction is a
    * floor-scaled integer sum, so the replay is bit-exact — see the
    * operator's scaladoc for the arithmetic discipline.
    */
  private val OraclePowerIterSql: String = {
    def step(k: Int, rDef: String): String =
      s"""r$k AS ($rDef),
         |s$k AS (SELECT dims.i AS i,
         |  CAST(sum(CAST(floor(e.emb[dims.i] * (r$k.r / 1e9) * 1e4) AS BIGINT)) AS BIGINT) AS s
         |  FROM e JOIN r$k USING (vec_id), dims GROUP BY 1),
         |n$k AS (SELECT sqrt(CAST(CAST(sum(CAST(s AS HUGEINT) * s) AS BIGINT) AS DOUBLE)) AS nrm FROM s$k),
         |v$k AS (SELECT i, CAST(s AS DOUBLE) / (SELECT nrm FROM n$k) AS v FROM s$k)""".stripMargin
    val later = (2 to 3).map { k =>
      step(k,
        s"""SELECT vec_id,
           |  CAST(sum(CAST(floor(e.emb[v${k - 1}.i] * v${k - 1}.v * 1e9) AS BIGINT)) AS BIGINT) AS r
           |  FROM e, v${k - 1} GROUP BY 1""".stripMargin)
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |dims AS (SELECT CAST(unnest(generate_series(1, 64)) AS INT) AS i),
       |${step(1, "SELECT vec_id, CAST(floor(emb[1] * 1e9) AS BIGINT) AS r FROM e")},
       |$later
       |SELECT CAST(i - 1 AS INT) AS dim, v AS component FROM v3""".stripMargin
  }

  /** Retrieval-eval oracle, generated from the SAME integer discount
    * tables as [[graft.ops.Similarity.retrievalEval]] (k=10, queries =
    * vec_id < 8, relevance = same label) — metric doubles compare
    * with `==`.
    */
  private val OracleRetrievalEvalSql: String = {
    val d = graft.ops.Similarity.ndcgDiscountsMicro(10)
    val p = graft.ops.Similarity.ndcgIdealPrefixMicro(10)
    val dCase = d.zipWithIndex
      .map { case (v, i) => s"WHEN ${i + 1} THEN $v" }.mkString(" ")
    val pCase = p.zipWithIndex
      .map { case (v, i) => s"WHEN ${i + 1} THEN $v" }.mkString(" ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
       |           FROM embeddings),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb, label AS q_label
       |      FROM e WHERE vec_id < 8),
       |scored AS (
       |  SELECT q.q_id, q.q_label, e.vec_id, e.label,
       |         list_cosine_similarity(e.emb, q.q_emb) AS cos
       |  FROM e, q WHERE e.vec_id <> q.q_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |             ORDER BY cos DESC, vec_id) AS rank FROM scored),
       |topk AS (SELECT * FROM ranked WHERE rank <= 10),
       |lc AS (SELECT label, count(*) AS n_label FROM e GROUP BY 1),
       |ag AS (SELECT q_id, q_label,
       |         CAST(coalesce(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits,
       |         min(CASE WHEN label = q_label THEN rank END) AS first_rel,
       |         CAST(coalesce(sum(CASE WHEN label = q_label THEN (CASE rank $dCase END) END), 0) AS BIGINT) AS dcg
       |       FROM topk GROUP BY 1, 2)
       |SELECT q_id, hits, CAST(n_label - 1 AS BIGINT) AS n_rel,
       |       CAST(hits AS DOUBLE) / 10 AS precision_at_k,
       |       CASE WHEN n_label - 1 = 0 THEN 0.0
       |            ELSE CAST(hits AS DOUBLE) / (n_label - 1) END AS recall_at_k,
       |       CASE WHEN first_rel IS NULL THEN 0.0
       |            ELSE 1.0 / first_rel END AS mrr,
       |       CASE WHEN n_label - 1 = 0 THEN 0.0
       |            ELSE CAST(dcg AS DOUBLE) /
       |                 (CASE least(n_label - 1, 10) $pCase END) END AS ndcg_at_k
       |FROM ag JOIN lc ON lc.label = ag.q_label""".stripMargin
  }

  /** Unrolled logistic-regression-training oracle
    * ([[graft.ops.TextAnalysis.trainLogReg]] with iterations=3,
    * lr=0.5, label = lang='en'): fast-sigmoid squashing and
    * floor-scaled integer gradient sums make each round bit-exact —
    * weight doubles compare with `==`.
    */
  private def oracleLogRegCte(iterations: Int, lr: String): String = {
    def iter(k: Int): String =
      s"""e$k AS (SELECT q.*, (0.5 + 0.5 * (z / (1.0 + abs(z)))) - y AS err
         |  FROM (SELECT f.*, (w.a0 * f0 + w.a1 * f1 + w.a2 * f2 + w.a3 * f3) AS z
         |        FROM f, w${k - 1} w) q),
         |g$k AS (SELECT count(*) AS n,
         |  sum(CAST(floor(err * f0 * 1e6) AS BIGINT)) AS g0,
         |  sum(CAST(floor(err * f1 * 1e6) AS BIGINT)) AS g1,
         |  sum(CAST(floor(err * f2 * 1e6) AS BIGINT)) AS g2,
         |  sum(CAST(floor(err * f3 * 1e6) AS BIGINT)) AS g3 FROM e$k),
         |w$k AS (SELECT
         |  w.a0 - $lr * (CAST(g.g0 AS DOUBLE) / 1e6 / g.n) AS a0,
         |  w.a1 - $lr * (CAST(g.g1 AS DOUBLE) / 1e6 / g.n) AS a1,
         |  w.a2 - $lr * (CAST(g.g2 AS DOUBLE) / 1e6 / g.n) AS a2,
         |  w.a3 - $lr * (CAST(g.g3 AS DOUBLE) / 1e6 / g.n) AS a3
         |  FROM w${k - 1} w, g$k g)""".stripMargin
    s"""WITH f AS (SELECT
       |  CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |  1.0 AS f0,
       |  n_chars / 1000.0 AS f1,
       |  len(list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '')) / 100.0 AS f2,
       |  CASE WHEN n_chars = 0 THEN 0.0
       |       ELSE CAST(length(regexp_replace(coalesce(text, ''), '[^0-9]', '', 'g')) AS DOUBLE) / n_chars
       |  END AS f3
       |FROM documents),
       |w0 AS (SELECT 0.0 AS a0, 0.0 AS a1, 0.0 AS a2, 0.0 AS a3),
       |${(1 to iterations).map(iter).mkString(",\n")}""".stripMargin
  }

  private val OracleTrainLogRegSql: String =
    oracleLogRegCte(3, "0.5") + """
      |SELECT 0 AS feature, a0 AS weight FROM w3
      |UNION ALL SELECT 1, a1 FROM w3
      |UNION ALL SELECT 2, a2 FROM w3
      |UNION ALL SELECT 3, a3 FROM w3""".stripMargin

  /** Calibration oracle: the shared unrolled-training CTE (trained
    * harder — 6 rounds at lr 5 — so scores actually spread across
    * buckets), one scoring pass with the 6-dp-rounded fast-sigmoid
    * probability, centile buckets.
    */
  private val OracleCalibrationSql: String =
    oracleLogRegCte(6, "5.0") + """,
      |scored AS (
      |  SELECT y, round((0.5 + 0.5 * (z / (1.0 + abs(z)))), 6) AS p
      |  FROM (SELECT f.*, (w.a0 * f0 + w.a1 * f1 + w.a2 * f2 + w.a3 * f3) AS z
      |        FROM f, w6 w) q)
      |SELECT CAST(floor(p * 100) AS INT) AS bucket,
      |       CAST(count(*) AS BIGINT) AS n,
      |       sum(y) / count(*) AS mean_label,
      |       round(avg(p), 6) AS mean_prob
      |FROM scored GROUP BY 1""".stripMargin

  /** The exact-arithmetic Lloyd training unrolled for DuckDB (shared
    * by `sim_kmeans`, `sim_cluster_quality` and the IVF probe oracle):
    * seed assignment (`a1`) → per-round integer-scaled centroid update
    * (`uI` → `cI`) → re-assignment (`a{I+1}`); argmax over
    * 9-dp-rounded cosines, ties to the smaller centroid id — the
    * bit-portable grid `kMeansExactModel` computes on. After `rounds`
    * updates the final assignment is `a{rounds+1}` and the trained
    * centroids `c{rounds}`. `where` filters the source corpus (the
    * IVF index excludes the query vector). Dims fixed at 64 (the
    * driver embeddings table).
    */
  private def oracleLloydCte(k: Int, rounds: Int, where: String = ""): String = {
    def assignCte(i: Int, cents: String): String =
      s"""a${i}r AS (
         |  SELECT e.vec_id, c.c_id,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY round(list_cosine_similarity(e.emb, c.cvec), 9)
         |             DESC, c.c_id ASC) AS rn
         |  FROM e CROSS JOIN $cents c),
         |a$i AS (SELECT vec_id, c_id AS cluster FROM a${i}r WHERE rn = 1)""".stripMargin
    def updateCte(i: Int, prev: String): String =
      s"""u$i AS (
         |  SELECT a$i.cluster, t.i AS dim,
         |         CAST(sum(CAST(floor(e.emb[t.i] * 1e9) AS BIGINT)) AS BIGINT) AS s,
         |         count(*) AS n
         |  FROM a$i JOIN e USING (vec_id),
         |       unnest(generate_series(1, 64)) AS t(i)
         |  GROUP BY 1, 2),
         |c${i}new AS (
         |  SELECT cluster AS c_id,
         |         list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e9
         |              ORDER BY dim) AS cvec
         |  FROM u$i GROUP BY 1),
         |c$i AS (
         |  SELECT p.c_id, COALESCE(n.cvec, p.cvec) AS cvec
         |  FROM $prev p LEFT JOIN c${i}new n USING (c_id))""".stripMargin
    val head =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |           FROM embeddings$where),
         |seeds AS (SELECT vec_id AS c_id, emb AS cvec FROM e
         |          ORDER BY vec_id LIMIT $k)""".stripMargin
    def centsFor(i: Int): String = if (i == 1) "seeds" else s"c${i - 1}"
    val parts = (1 to rounds).flatMap(i =>
      Seq(assignCte(i, centsFor(i)), updateCte(i, centsFor(i)))) :+
      assignCte(rounds + 1, centsFor(rounds + 1))
    (head +: parts).mkString(",\n")
  }

  private val OracleKmeansCte: String = oracleLloydCte(4, 1)

  /** Quote-level containment-decontamination oracle: shingle both
    * splits (corpus with the planted quotes, held-out), count common
    * shingles per cross pair, divide by the HELD-OUT doc's shingle
    * count — exact integer division, no rounding. Template-substituted
    * (not interpolated) so the tokenizer regex keeps its backslashes.
    */
  private val OracleCrossContainmentSql: String = {
    def shingleCte(src: String, t: String, sh: String): String =
      """@T AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |    '[ \t\r\n,.:;''"()\[\]{}/<>!?|\-—#$&=_*+]+'), x -> x <> '') AS arr
        |  FROM @SRC),
        |@SH AS (
        |  SELECT DISTINCT doc_id,
        |         array_to_string(arr[i : i + 2], ' ') AS shingle
        |  FROM @T, unnest(generate_series(1, greatest(len(arr) - 2, 1))) AS u(i)
        |  WHERE len(arr) >= 3)""".stripMargin
        .replace("@SRC", src).replace("@T", t).replace("@SH", sh)
    """WITH held AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 7),
      |corpus AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id < 5
      |              THEN text || ' ' || (SELECT text FROM documents WHERE doc_id = 7)
      |              ELSE text END AS text
      |  FROM documents WHERE doc_id % 97 <> 7),
      |""".stripMargin +
      shingleCte("corpus", "ta", "sha") + ",\n" +
      shingleCte("held", "tb", "shb") + ",\n" +
      """szb AS (SELECT doc_id, count(*) AS n_sh FROM shb GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      |  FROM sha a JOIN shb b ON a.shingle = b.shingle
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |       CAST(n_common AS DOUBLE) / szb.n_sh AS containment
      |FROM inter JOIN szb ON szb.doc_id = doc_b
      |WHERE CAST(n_common AS DOUBLE) / szb.n_sh >= 0.6""".stripMargin
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("search_cnf")(spark, "/root/testdata/sf0.001")

  /** Per-(session, sf dir) memo for session-scoped artifacts (built
    * index, ANN layout, near-dup pair list). NOT a WeakHashMap: a
    * cached DataFrame strongly references its own SparkSession, and a
    * WeakHashMap value that refers to its key pins the entry forever
    * (its javadoc's documented trap) — eviction instead happens by
    * dropping entries whose SparkContext has stopped, checked on every
    * access.
    */
  private final class SessionCache[V] {
    private val m =
      new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), V]()
    def getOrElseUpdate(s: SparkSession, dir: String, build: => V): V = {
      val it = m.keySet.iterator()
      while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
      val k = (s, dir)
      val existing = m.get(k)
      if (existing != null) existing
      else {
        // build OUTSIDE the map's bin lock: these builds run minutes of
        // Spark jobs, and computeIfAbsent would block every other key
        // hashing to the bin for the duration. A racing duplicate build
        // is possible (same as TrieMap.getOrElseUpdate) and harmless —
        // first writer wins, the loser's artifact is just dropped.
        val v = build
        val prev = m.putIfAbsent(k, v)
        if (prev != null) prev else v
      }
    }
  }

  /** Materialized-index cache, one per (session, sf dir): the Spark
    * analogue of the reference's persisted inverted index + query cache
    * (SURVEY.md §2.8 X2) — queries hit a built index, they don't re-run
    * the indexing pipeline. First search query in a session pays the
    * build; the rest reuse the in-memory columnar cache.
    */
  private val indexCache = new SessionCache[DataFrame]

  private def cachedIndex(s: SparkSession, dir: String): DataFrame =
    indexCache.getOrElseUpdate(s, dir,
      Indexer.postings(t(s, dir, "documents")).persist())

  /** Unstemmed posting table, one per (session, sf dir): the raw-term
    * sibling of [[cachedIndex]] — tfidf_postings, doc_keywords and
    * search_more_like_this all read the same stem=false table.
    */
  private val rawIndexCache = new SessionCache[DataFrame]

  private def cachedRawIndex(s: SparkSession, dir: String): DataFrame =
    rawIndexCache.getOrElseUpdate(s, dir,
      Indexer.postings(t(s, dir, "documents"), stem = false).persist())

  /** ANN index at rest, one per (session, sf dir): LSH signatures and
    * the IVF assignment persisted once (signature/centroid/assignment
    * precomputed — VERDICT r1 #6), then every probe reads the stored
    * layout: the IVF probe is a cluster-partition-pruned scan. The
    * query vector (vec_id 0) is excluded at build time so probes rank
    * only the corpus.
    */
  // one cache per index kind: a probe builds ONLY its own artifact (an
  // LSH-only iteration must not pay PQ training)
  private val lshCache = new SessionCache[String]
  private val ivfCache = new SessionCache[AnnIndex.IvfModel]
  private val pqCache = new SessionCache[AnnIndex.PqModel]

  private def annCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").filter(col("vec_id") =!= 0)

  /** Trade-graph chunked adjacency, one per (session, sf dir): four
    * graph queries (pagerank, personalized pagerank, label propagation,
    * BFS) iterate over the SAME undirected customer-supplier graph, so
    * the edge-sized fold (orders ⨝ lineitem → distinct symmetrized
    * edges → adjacency chunks) is paid once per session and every
    * algorithm starts from the checkpointed node-sized adjacency. At
    * 100 TB the fold dominates a 3-round node-sized iteration — this
    * turns four edge shuffles into one.
    */
  private val adjCache = new SessionCache[DataFrame]

  private def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
  }

  private def tradeAdjacency(s: SparkSession, dir: String): DataFrame =
    adjCache.getOrElseUpdate(s, dir,
      Graph.chunkedAdjacency(tradeEdges(s, dir)))

  /** Strong-trade pair counts, one per (session, sf dir): the
    * edge-sized orders ⨝ lineitem join folded to per-(customer,
    * supplier) trade counts. Connected components (n ≥ 4) and k-core
    * (n ≥ 3) consume the SAME fold at different strength thresholds,
    * so the join + aggregate is paid once and each query is a filter
    * of the checkpointed pair-sized table — the threshold filter
    * happens after the fold either way, so sharing it changes no
    * rows. Node encoding custkey*2 / suppkey*2+1 keeps ids disjoint
    * and integer so min-label component ids stay oracle-expressible.
    */
  private val tradePairCache = new SessionCache[DataFrame]

  private def tradePairCounts(s: SparkSession, dir: String): DataFrame =
    tradePairCache.getOrElseUpdate(s, dir, {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy((col("o_custkey") * 2).cast("long").as("src"),
          (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint()
    })

  /** Distinct (order, part) basket pairs, one per (session, sf dir):
    * the lineitem-sized scan + distinct shuffle feeding BOTH
    * co-purchase projections (triangles' bipartite projection and the
    * related-items neighborhood Jaccard). The downstream ops re-group
    * the checkpointed distinct set (pair-sized), never re-scan
    * lineitem.
    */
  private val basketPairCache = new SessionCache[DataFrame]

  private def basketPairs(s: SparkSession, dir: String): DataFrame =
    basketPairCache.getOrElseUpdate(s, dir,
      t(s, dir, "lineitem")
        .select(col("l_orderkey").as("g"), col("l_partkey").as("i"))
        .distinct()
        .localCheckpoint())

  /** Trigram posting table, one per (session, sf dir) — the substring
    * analogue of the term index cache: the corpus-sized build is paid
    * once, every `search_substring` probe is a broadcast semi-join.
    */
  private val trigramCache = new SessionCache[DataFrame]

  private def trigramIndex(s: SparkSession, dir: String): DataFrame =
    trigramCache.getOrElseUpdate(s, dir,
      graft.search.SubstringIndex.trigramPostings(t(s, dir, "documents"))
        .persist())

  /** The AT-REST variant: gram-range-partitioned parquet written once
    * per (session, sf dir); probes read it back with the gram IN-filter
    * pushed to the scan — the layout a 100 TB deployment keeps.
    */
  private val trigramDiskCache = new SessionCache[String]

  private def trigramDiskIndex(s: SparkSession, dir: String): String =
    trigramDiskCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/trgm"
      graft.search.SubstringIndex.writeIndex(
        graft.search.SubstringIndex.trigramPostings(t(s, dir, "documents")),
        p, numFiles = 16)
      p
    })

  /** The full IVF maintenance lifecycle at rest, one per (session,
    * sf dir): exact-Lloyd train on the 80% base split → write the
    * cluster-partitioned layout → classify the 20% batch against the
    * TRAINED centroids (no retrain) → physically APPEND the batch as
    * new files into the same partitions ([[AnnIndex.ivfAppend]]).
    * `sim_ivf_appended_probe` probes the merged layout.
    */
  private val ivfApdCache = new SessionCache[AnnIndex.IvfModel]

  private def ivfAppendedIndex(s: SparkSession, dir: String): AnnIndex.IvfModel =
    ivfApdCache.getOrElseUpdate(s, dir, {
      val e = t(s, dir, "embeddings")
      val base = e.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      // vec_id 0 is the query vector: it rides in the %5==0 split, so
      // exclude it from the append or the probe would rank the query
      // against itself
      val batch = e.filter(
        pmod(col("vec_id"), lit(5)) === 0 && col("vec_id") =!= 0)
      val model = AnnIndex.ivfWriteExact(base, s"${annTmp()}/ivf_apd",
        k = 8, rounds = 1)
      AnnIndex.ivfAppend(model, batch)
      model
    })

  /** Keys erased by the targeted-delete lifecycle — contiguous low ids,
    * so on the 10-file doc_id-range layout they all live in the first
    * file(s) and the delete rewrites those alone (the spec asserts the
    * rest stay byte-identical).
    */
  private[graft] val DeletedKeys = Seq(7L, 8L, 42L)

  /** The targeted-delete lifecycle at rest, one per (session, sf dir):
    * documents written doc_id-range-partitioned + sorted (10 files),
    * then [[DeletedKeys]] erased via [[Maintenance.deleteWhere]] —
    * copy-on-write, only the files whose key range holds a hit are
    * rewritten. `q_targeted_delete` reads the post-delete layout.
    */
  private val deletedDocsCache = new SessionCache[String]

  private def deletedDocsLayout(s: SparkSession, dir: String): String =
    deletedDocsCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/docs_del"
      t(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .repartitionByRange(10, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(p)
      graft.ops.Maintenance.deleteWhere(s, p, "doc_id", DeletedKeys)
      p
    })

  /** The transaction-log table lifecycle, one per (session, sf dir):
    * two appends (80% then 20% of documents), a logged copy-on-write
    * delete of [[DeletedKeys]], then compaction-as-commit — four
    * versions, every one still time-travel readable because commits
    * never touch existing data files. `q_timetravel` reads v1 (full
    * corpus, pre-delete) and head (post-delete, post-compaction) in
    * one result.
    */
  private val txlogCache = new SessionCache[String]

  private def txlogTable(s: SparkSession, dir: String): String =
    txlogCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txtable"
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.append(s, p,
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
      graft.ops.TxLog.append(s, p,
        docs.filter(pmod(col("doc_id"), lit(5)) === 0))
      graft.ops.TxLog.deleteWhere(s, p, "doc_id", DeletedKeys)
      graft.ops.TxLog.compact(s, p, targetBytes = 16L << 20)
      p
    })

  /** The merge-on-read delete lifecycle, one per (session, sf dir):
    * documents appended doc_id-range-clustered (8 files), then every
    * doc_id ≡ 3 (mod 19) erased via [[graft.ops.TxLog.deleteWhereDv]]
    * — ONE tiny deletion-vector sidecar committed, ZERO data files
    * rewritten (the scattered-delete shape where copy-on-write would
    * rewrite all 8 range files) — then compaction, which purges the
    * mask physically. `q_table_dv_delete` time-travels to the masked
    * dv version through the purge; `q_table_dv_cdc` diffs the dv
    * interval, whose FILE set is unchanged — the deletes are visible
    * only through the mask algebra.
    */
  private val txlogDvCache = new SessionCache[(String, Long)]

  private def txlogDvTable(s: SparkSession, dir: String): (String, Long) =
    txlogDvCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txdv"
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.append(s, p,
        docs.repartitionByRange(8, col("doc_id"))
          .sortWithinPartitions("doc_id"))
      val keys = docs.filter(pmod(col("doc_id"), lit(19)) === 3)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      val dvV = graft.ops.TxLog.deleteWhereDv(s, p, "doc_id", keys)
      graft.ops.TxLog.compact(s, p, targetBytes = 16L << 20)
      (p, dvV)
    })

  /** A lang-clustered txlog table, one per (session, sf dir): one
    * append, range-partitioned + sorted on the STRING column `lang`,
    * so the commit's footer sweep records per-file string `[min,max]`
    * and a lang slice prunes to the overlapping files before any
    * listing or footer I/O — the category/language/date-partition
    * skipping shape. `q_table_skipping_str` reads the `de..en` slice.
    */
  private val txlogLangCache = new SessionCache[String]

  private def txlogLangTable(s: SparkSession, dir: String): String =
    txlogLangCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txlang"
      graft.ops.TxLog.init(p)
      graft.ops.TxLog.append(s, p,
        t(s, dir, "documents").select("doc_id", "lang", "n_chars")
          .repartitionByRange(5, col("lang"), col("doc_id"))
          .sortWithinPartitions("lang", "doc_id"))
      p
    })

  /** The null-skipping lifecycle, one per (session, sf dir): two
    * single-file appends of documents split by doc_id parity — the
    * EVEN file's `lang_opt` is entirely NULL, the ODD file's is fully
    * populated — so the commit footer sweep records per-file null
    * counts next to the `[min,max]` stats, and an `IS NOT NULL` read
    * prunes the all-null file (an `IS NULL` read prunes the other)
    * before any listing or footer I/O. `q_table_skipping_null` reads
    * the `IS NOT NULL` slice.
    */
  private val txlogNullCache = new SessionCache[String]

  private def txlogNullTable(s: SparkSession, dir: String): String =
    txlogNullCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txnull"
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.append(s, p,
        docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          .withColumn("lang_opt", lit(null).cast("string"))
          .select("doc_id", "lang_opt", "n_chars").coalesce(1))
      graft.ops.TxLog.append(s, p,
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .withColumn("lang_opt", col("lang"))
          .select("doc_id", "lang_opt", "n_chars").coalesce(1))
      p
    })

  /** The partitioned-table lifecycle, one per (session, sf dir): two
    * appends of documents (split by doc_id parity, 2 input tasks each)
    * HIVE-PARTITIONED on `lang` via [[graft.ops.TxLog.appendPartitioned]]
    * — files land under `data/lang=<v>/`, each commit records its
    * files' partition values in the log — then a copy-on-write delete
    * of [[DeletedKeys]] (whose rewrite outputs carry no partition
    * metadata: conservative reads, exercised deliberately).
    * `q_table_partitioned` reads the `lang = 'en'` partition with the
    * other partitions pruned FROM THE LOG before any listing (the spec
    * asserts the files-opened count).
    */
  private val txlogPartCache = new SessionCache[String]

  private def txlogPartTable(s: SparkSession, dir: String): String =
    txlogPartCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txpart"
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.appendPartitioned(s, p,
        docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          .repartition(2, col("doc_id")), Seq("lang"))
      graft.ops.TxLog.appendPartitioned(s, p,
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .repartition(2, col("doc_id")), Seq("lang"))
      graft.ops.TxLog.deleteWhere(s, p, "doc_id", DeletedKeys)
      // partition-scoped OPTIMIZE (the Delta OPTIMIZE ... WHERE
      // shape): the fr partition compacts Z-ordered WITH its
      // partition metadata carried onto the outputs; every other
      // partition's files are untouched on disk
      graft.ops.TxLog.optimizePartition(s, p, Map("lang" -> "fr"),
        Seq("doc_id"), numFiles = 1)
      p
    })

  /** The SQL-DML lifecycle, one per (session, sf dir): after a seed
    * append through the writer API (an empty table has no relation to
    * bind INSERT INTO against — documented edge), every mutation runs
    * in PURE SQL through the graft_table catalog: INSERT INTO
    * (residue-1, one append commit), INSERT OVERWRITE (residue-2, the
    * logged overwrite), INSERT INTO again (residue-0) — four
    * versions, each a real commit through the full constraint/stats/
    * schema machinery, the overwritten v1 still time-travel readable
    * FROM SQL. `q_table_sql_dml` reads head + v1 in one result.
    */
  private val txlogDmlCache = new SessionCache[String]

  private def txlogDmlTable(s: SparkSession, dir: String): String =
    txlogDmlCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txdml"
      graft.ops.TxLog.init(p)
      s.conf.set("spark.sql.catalog.graft_table",
        "graft.sources.GraftCatalog")
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .write.format("graft-table").mode("append").save(p) // v0
      docs.createOrReplaceTempView("graft_dml_src")
      s.sql(s"INSERT INTO graft_table.`$p` SELECT doc_id, lang, " +
        "n_chars FROM graft_dml_src WHERE doc_id % 3 = 1") // v1
      s.sql(s"INSERT OVERWRITE graft_table.`$p` SELECT doc_id, lang, " +
        "n_chars FROM graft_dml_src WHERE doc_id % 3 = 2") // v2
      s.sql(s"INSERT INTO graft_table.`$p` SELECT doc_id, lang, " +
        "n_chars FROM graft_dml_src WHERE doc_id % 3 = 0") // v3
      p
    })

  /** The SQL-DELETE lifecycle, one per (session, sf dir): a
    * lang-clustered seed append through the writer (5 range files, so
    * the commit records per-file string `[min,max]`), then a pure-SQL
    * `DELETE FROM ... WHERE lang = 'fr' AND doc_id >= 100` through the
    * graft_table catalog — one copy-on-write commit
    * ([[graft.ops.TxLog.deleteWherePredicate]]) whose hit discovery
    * runs through the connector's own log-stats-pruned scan, so only
    * the fr-overlapping files rewrite (spec-asserted on this
    * lifecycle's own log); NULL-predicate rows survive by SQL DELETE
    * semantics, and the pre-delete state stays time-travel readable
    * FROM SQL. `q_table_sql_delete` reads head + the v0 fr slice in
    * one result.
    */
  private val txlogSqlDelCache = new SessionCache[String]

  private def txlogSqlDelTable(s: SparkSession, dir: String): String =
    txlogSqlDelCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txsqldel"
      graft.ops.TxLog.init(p)
      s.conf.set("spark.sql.catalog.graft_table",
        "graft.sources.GraftCatalog")
      t(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .repartitionByRange(5, col("lang"), col("doc_id"))
        .sortWithinPartitions("lang", "doc_id")
        .write.format("graft-table").mode("append").save(p) // v0
      s.sql(s"DELETE FROM graft_table.`$p` " +
        "WHERE lang = 'fr' AND doc_id >= 100") // v1
      p
    })

  private[graft] def txlogSqlDelRootForSpec(s: SparkSession,
                                            dir: String): String =
    txlogSqlDelTable(s, dir)

  /** The SQL-UPDATE lifecycle, one per (session, sf dir): a
    * doc_id-range-clustered seed append (4 files) through the writer,
    * then a pure-SQL `UPDATE ... SET lang = 'up', n_chars = -n_chars
    * WHERE doc_id % 13 = 5` through the DSv2 row-level machinery —
    * ONE merge-on-read commit ([[graft.ops.TxLog.commitRowDelta]]):
    * the matched rows' physical (file, position) addresses become a
    * deletion-vector sidecar and the new images appended files, NO
    * live data file rewritten (spec-asserted on this lifecycle's own
    * log — the at-scale answer to a scattered UPDATE on 100 TB).
    * `q_table_sql_update` reads head + the intact v0 in one result.
    */
  private val txlogSqlUpdCache = new SessionCache[String]

  private def txlogSqlUpdTable(s: SparkSession, dir: String): String =
    txlogSqlUpdCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txsqlupd"
      graft.ops.TxLog.init(p)
      s.conf.set("spark.sql.catalog.graft_table",
        "graft.sources.GraftCatalog")
      t(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.format("graft-table").mode("append").save(p) // v0
      s.sql(s"UPDATE graft_table.`$p` SET lang = 'up', " +
        "n_chars = -n_chars WHERE doc_id % 13 = 5") // v1
      p
    })

  private[graft] def txlogSqlUpdRootForSpec(s: SparkSession,
                                            dir: String): String =
    txlogSqlUpdTable(s, dir)

  /** The SQL-MERGE lifecycle, one per (session, sf dir): the even
    * half of documents seeded through the writer, then one pure-SQL
    * `MERGE INTO` from the mod-3 residue re-langed 'mg' — matched
    * keys (doc_id ≡ 0 mod 6) update MERGE-ON-READ (masked + re-added,
    * no file rewritten), unmatched keys (odd multiples of 3) insert —
    * all in ONE commit through the delta row-level machinery.
    * `q_table_sql_merge` reads the diverged head.
    */
  private val txlogSqlMergeCache = new SessionCache[String]

  private def txlogSqlMergeTable(s: SparkSession, dir: String): String =
    txlogSqlMergeCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txsqlmerge"
      graft.ops.TxLog.init(p)
      s.conf.set("spark.sql.catalog.graft_table",
        "graft.sources.GraftCatalog")
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .repartitionByRange(2, col("doc_id"))
        .write.format("graft-table").mode("append").save(p) // v0
      docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .withColumn("lang", lit("mg"))
        .createOrReplaceTempView("graft_sql_merge_src")
      s.sql(s"MERGE INTO graft_table.`$p` t " +
        "USING graft_sql_merge_src s ON t.doc_id = s.doc_id " +
        "WHEN MATCHED THEN UPDATE SET t.lang = s.lang " +
        "WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars) " +
        "VALUES (s.doc_id, s.lang, s.n_chars)") // v1
      p
    })

  /** The SQL-CALL maintenance lifecycle, one per (session, sf dir):
    * seed append (v0, 4 files), merge-on-read delete of doc_id ≡ 2
    * (mod 7) (v1), then the whole maintenance ladder in PURE SQL
    * through `CALL graft_table.system.*` — purge_masks (v2, the
    * masked files rewrite without their masked rows), optimize (v3,
    * Z-order to 2 files), restore to the dv version (v4, pure
    * metadata, same rows) — then a SQL DELETE of the de rows (v5),
    * and finally CALL checkpoint + CALL vacuum(retain_from => 3),
    * which TRUNCATES v0–v2: the surviving reads go through the
    * vacuum checkpoint's carried state. `q_table_sql_maintenance`
    * reads head + VERSION AS OF 3 in one result — the time travel
    * lands on a post-truncation version resolved from the
    * checkpoint carry.
    */
  private val txlogSqlMaintCache = new SessionCache[String]

  private def txlogSqlMaintTable(s: SparkSession, dir: String): String =
    txlogSqlMaintCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txsqlmaint"
      graft.ops.TxLog.init(p)
      s.conf.set("spark.sql.catalog.graft_table",
        "graft.sources.GraftCatalog")
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      docs.repartition(4, col("doc_id"))
        .write.format("graft-table").mode("append").save(p) // v0
      val keys = docs.filter(pmod(col("doc_id"), lit(7)) === 2)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      graft.ops.TxLog.deleteWhereDv(s, p, "doc_id", keys) // v1
      s.sql(s"CALL graft_table.system.purge_masks(table => '$p', " +
        "min_fraction => 0.01)") // v2
      s.sql(s"CALL graft_table.system.optimize(table => '$p', " +
        "zorder_by => 'doc_id', num_files => 2)") // v3
      s.sql(s"CALL graft_table.system.restore(table => '$p', " +
        "version => 1)") // v4
      s.sql(s"DELETE FROM graft_table.`$p` WHERE lang = 'de'") // v5
      s.sql(s"CALL graft_table.system.checkpoint(table => '$p')")
      // force: the fixture's commits are seconds old, which the
      // default retention window (correctly) refuses to truncate —
      // this bench row exercises the reclamation path itself
      s.sql(s"CALL graft_table.system.vacuum(table => '$p', " +
        "retain_from => 3, force => true)")
      p
    })

  /** The SQL schema-evolution lifecycle, one per (session, sf dir):
    * the even docs seeded through the writer (v0), then pure-SQL
    * `ALTER TABLE ... ADD COLUMN quality BIGINT` — ONE data-free
    * metadata commit recording the widened schema in the log
    * ([[graft.ops.TxLog.addColumns]]; at 100 TB adding a column must
    * cost one KB-scale log write, never a data pass) — then a SQL
    * INSERT supplying the new column (v2). `q_table_sql_alter` reads
    * the head: pre-evolution rows surface quality = NULL (the
    * evolution contract), inserted rows their values.
    */
  private val txlogSqlAlterCache = new SessionCache[String]

  private def txlogSqlAlterTable(s: SparkSession, dir: String): String =
    txlogSqlAlterCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txsqlalter"
      graft.ops.TxLog.init(p)
      s.conf.set("spark.sql.catalog.graft_table",
        "graft.sources.GraftCatalog")
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .write.format("graft-table").mode("append").save(p) // v0
      s.sql(s"ALTER TABLE graft_table.`$p` ADD COLUMN quality BIGINT") // v1
      docs.createOrReplaceTempView("graft_sql_alter_src")
      s.sql(s"INSERT INTO graft_table.`$p` SELECT doc_id, lang, " +
        "n_chars, n_chars % 100 AS quality " +
        "FROM graft_sql_alter_src WHERE doc_id % 2 = 1") // v2
      p
    })

  /** The PRUNED-PLANNING lifecycle, one per (session, sf dir): an
    * 8-range-file doc_id layout, a COLUMNAR checkpoint (per-file
    * state in the parquet sidecar), then a deletion-vector delete of
    * the five smallest ids as the post-checkpoint suffix.
    * `q_table_pruned_scan` reads it with the prune threshold lowered
    * to 4, so the relation plans through
    * [[graft.sources.GraftPrunedFileIndex]] — the million-file path
    * (live set STREAMED from the sidecar, suffix folded on top, DV
    * masks applied) — oracle-checked end-to-end every round.
    */
  private val txlogPrunedCache = new SessionCache[String]

  private def txlogPrunedTable(s: SparkSession, dir: String): String =
    txlogPrunedCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txpruned"
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.append(s, p,
        docs.orderBy("doc_id").repartitionByRange(8, col("doc_id"))) // v0
      graft.ops.TxLog.checkpoint(p) // columnar sidecar at v0
      val victims = docs.select("doc_id").orderBy("doc_id").limit(5)
        .collect().map(_.getLong(0)).toSeq
      graft.ops.TxLog.deleteWhereDv(s, p, "doc_id", victims) // v1 suffix
      p
    })

  /** The COLUMN-MAPPING lifecycle, one per (session, sf dir): all
    * docs seeded through the writer (v0), then pure-SQL
    * `RENAME COLUMN n_chars TO body_chars` (v1) and
    * `DROP COLUMN lang` (v2) — each ONE data-free metadata commit
    * ([[graft.ops.TxLog.renameColumn]]/[[graft.ops.TxLog.dropColumns]]:
    * the logical name changes or leaves; the PHYSICAL parquet name in
    * the immutable files stays — the 100 TB rename) — then a SQL
    * INSERT under the mapped shape (v3) and a RE-ADD of the dropped
    * name (v4: fresh physical name, so the dropped column's stored
    * bytes can never resurface). `q_table_sql_colmap` reads the head
    * (old values under the new name, re-added `lang` NULL everywhere)
    * UNION the v0 time travel (the original names — the mapping is
    * per-version).
    */
  private val txlogSqlColmapCache = new SessionCache[String]

  private def txlogSqlColmapTable(s: SparkSession, dir: String): String =
    txlogSqlColmapCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txsqlcolmap"
      graft.ops.TxLog.init(p)
      s.conf.set("spark.sql.catalog.graft_table",
        "graft.sources.GraftCatalog")
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .write.format("graft-table").mode("append").save(p) // v0
      s.sql(s"ALTER TABLE graft_table.`$p` " +
        "RENAME COLUMN n_chars TO body_chars") // v1
      s.sql(s"ALTER TABLE graft_table.`$p` DROP COLUMN lang") // v2
      docs.createOrReplaceTempView("graft_sql_colmap_src")
      s.sql(s"INSERT INTO graft_table.`$p` SELECT doc_id, " +
        "n_chars AS body_chars FROM graft_sql_colmap_src " +
        "WHERE doc_id % 2 = 1") // v3
      s.sql(s"ALTER TABLE graft_table.`$p` ADD COLUMN lang STRING") // v4
      p
    })

  /** The TYPE-WIDENING lifecycle, one per (session, sf dir): the even
    * docs seeded with `nc` as INT (v0), pure-SQL
    * `ALTER COLUMN nc TYPE BIGINT` (v1 — ONE data-free metadata
    * commit: the int32 parquet files stay, the logical type widens,
    * reads upcast per file inside the parquet scan), then a SQL
    * INSERT of values only a BIGINT can hold (v2). `q_table_sql_
    * colwiden` reads the head (both widths coexisting) UNION the v0
    * time travel (its own INT schema, cast for the union).
    */
  private val txlogWidenCache = new SessionCache[String]

  private def txlogWidenTable(s: SparkSession, dir: String): String =
    txlogWidenCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txwiden"
      graft.ops.TxLog.init(p)
      s.conf.set("spark.sql.catalog.graft_table",
        "graft.sources.GraftCatalog")
      val docs = t(s, dir, "documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("int").as("nc"))
      docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .write.format("graft-table").mode("append").save(p) // v0 (int)
      s.sql(s"ALTER TABLE graft_table.`$p` " +
        "ALTER COLUMN nc TYPE BIGINT") // v1
      docs.createOrReplaceTempView("graft_sql_widen_src")
      s.sql(s"INSERT INTO graft_table.`$p` SELECT doc_id, lang, " +
        "CAST(nc AS BIGINT) + 3000000000 AS nc " +
        "FROM graft_sql_widen_src WHERE doc_id % 2 = 1") // v2 (long)
      p
    })

  /** The RETENTION-CLAMPED vacuum lifecycle, one per (session, sf
    * dir): all docs seeded (v0), a deletion-vector delete of the
    * mod-10 keys (v1), then a NON-forced `vacuum(retainFrom = tip)` —
    * every commit is seconds old, so the 7-day retention window
    * CLAMPS the truncation floor back to v0 (WARN, checkpoint at the
    * clamped floor, nothing a pinned reader could lose).
    * `q_table_purge_clamped` reads the head UNION the v0 time travel
    * the clamp preserved — the safe-by-default reclamation path,
    * bench-visible every round (q_table_purge exercises the forced
    * path).
    */
  private val txlogVacClampCache = new SessionCache[String]

  /** The HIDDEN-PARTITION-TRANSFORM lifecycle, one per (session, sf
    * dir): the even half of `events` seeded through
    * [[graft.ops.TxLog.appendTransformPartitioned]] under
    * `days(ts) + bucket(8, user_id)` (v0 — the derived values
    * partition the layout but never appear in the logical schema),
    * then the odd half through SQL `INSERT INTO` (v1 — the catalog
    * write path re-derives the hidden layout). The input is
    * pre-partitioned by day so each (day, bucket) directory gets ~one
    * file — the shape whose per-file stats make BOTH rewrites
    * selective. `q_table_hidden_partition` filters on the SOURCE
    * columns only (a ts window; a user_id point probe): the planner
    * rewrites those into hidden partition-value predicates at
    * file-skipping time ([[graft.ops.PartitionTransforms]]), and the
    * oracle replays the same SQL over the raw `events` table.
    */
  private val txlogHiddenPartCache = new SessionCache[String]

  private def txlogHiddenPartTable(s: SparkSession, dir: String): String =
    txlogHiddenPartCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txhiddenpart"
      graft.ops.TxLog.init(p)
      s.conf.set("spark.sql.catalog.graft_table",
        "graft.sources.GraftCatalog")
      val evs = graft.sources.Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type")
      graft.ops.TxLog.appendTransformPartitioned(s, p,
        evs.filter(pmod(col("event_id"), lit(2)) === 0)
          .repartition(8, to_date(col("ts"))),
        Seq("days(ts)", "bucket(8,user_id)")) // v0
      evs.createOrReplaceTempView("graft_hidden_part_src")
      s.sql(s"INSERT INTO graft_table.`$p` SELECT event_id, ts, " +
        "user_id, event_type " +
        "FROM graft_hidden_part_src WHERE event_id % 2 = 1") // v1
      p
    })

  private def txlogVacClampTable(s: SparkSession, dir: String): String =
    txlogVacClampCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txvacclamp"
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.append(s, p, docs.coalesce(2)) // v0
      val keys = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      graft.ops.TxLog.deleteWhereDv(s, p, "doc_id", keys) // v1
      val tip = graft.ops.TxLog.versions(p).max
      graft.ops.TxLog.vacuum(p, retainFrom = tip): Unit // clamps to v0
      p
    })

  /** The split-read lifecycle, one per (session, sf dir): a 4-file
    * doc_id-range layout with a deletion-vector delete of the FIVE
    * SMALLEST doc_ids — the mask lands entirely in file 1, so the
    * connector read exercises [[graft.sources.MaskedTableSplit]]
    * every round: the three clean files take the stock COLUMNAR
    * parquet path, only the masked file pays the row-filter reader
    * (the RoundThirty spec asserts the plan shape; this row pins the
    * semantics through the oracle).
    */
  private val txlogDvSplitCache = new SessionCache[String]

  private def txlogDvSplitTable(s: SparkSession, dir: String): String =
    txlogDvSplitCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txdvsplit"
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.append(s, p,
        docs.repartitionByRange(4, col("doc_id"))
          .sortWithinPartitions("doc_id")) // v0
      val victims = docs.select("doc_id").orderBy("doc_id").limit(5)
        .collect().map(_.getLong(0)).toSeq
      graft.ops.TxLog.deleteWhereDv(s, p, "doc_id", victims) // v1
      p
    })

  /** The partitioned SQL-UPDATE lifecycle, one per (session, sf dir):
    * a lang-partitioned seed ([[graft.ops.TxLog.appendPartitioned]] —
    * partition values in the log), then a pure-SQL UPDATE of ONE
    * partition. The merge-on-read commit re-stages its insert images
    * through the hive-layout writer, so the new files are
    * partition-pure with values RE-RECORDED — partition pruning stays
    * exact and bounded across the mutation, and the recorded values
    * are what lets a concurrent UPDATE of a DIFFERENT partition land
    * without a conflict (the optimistic-concurrency scope).
    * `q_table_sql_update_part` reads the head.
    */
  private val txlogSqlUpdPartCache = new SessionCache[String]

  private def txlogSqlUpdPartTable(s: SparkSession, dir: String): String =
    txlogSqlUpdPartCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txsqlupdpart"
      graft.ops.TxLog.init(p)
      s.conf.set("spark.sql.catalog.graft_table",
        "graft.sources.GraftCatalog")
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.appendPartitioned(s, p,
        docs.repartition(2, col("doc_id")), Seq("lang")) // v0
      s.sql(s"UPDATE graft_table.`$p` SET n_chars = -n_chars " +
        "WHERE lang = 'en'") // v1
      p
    })

  /** The batch-writer lifecycle, one per (session, sf dir), driven
    * ENTIRELY through the DataFrameWriter surface: an append commit
    * (residue-0 docs), an atomic INSERT OVERWRITE replacing the live
    * set (residue-1), then another append (residue-2) — three
    * versions, the overwritten v0 still time-travel readable.
    * `q_table_overwrite` reads head + v0 in one result.
    */
  private val txlogWriteCache = new SessionCache[String]

  private def txlogWriteTable(s: SparkSession, dir: String): String =
    txlogWriteCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txwrite"
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .write.format("graft-table").mode("append").save(p)
      docs.filter(pmod(col("doc_id"), lit(3)) === 1)
        .write.format("graft-table").mode("overwrite").save(p)
      docs.filter(pmod(col("doc_id"), lit(3)) === 2)
        .write.format("graft-table").mode("append").save(p)
      p
    })

  /** Spec accessors: the lifecycle roots the driver rows read, so the
    * specs can assert the PHYSICAL claims (files opened, partition
    * metadata) on the very tables the oracle-checked entries use.
    */
  private[graft] def txlogNullRootForSpec(s: SparkSession,
                                          dir: String): String =
    txlogNullTable(s, dir)

  private[graft] def txlogPartRootForSpec(s: SparkSession,
                                          dir: String): String =
    txlogPartTable(s, dir)

  /** The shallow-clone branch, one per (session, sf dir): the dv
    * table cloned ZERO-COPY at its dv version (the clone's v0 just
    * references the source's files + mask — its own data dir starts
    * empty), then a MERGE on the clone updates lang for doc_id ≡ 1
    * (mod 31) — matched keys rewrite INTO the clone's root, dv-deleted
    * keys in that residue re-enter as appends, and the SOURCE is never
    * touched. `q_table_clone` reads the diverged branch head.
    */
  private val txlogCloneCache = new SessionCache[String]

  private def txlogCloneTable(s: SparkSession, dir: String): String =
    txlogCloneCache.getOrElseUpdate(s, dir, {
      val (src, dvV) = txlogDvTable(s, dir)
      val p = s"${annTmp()}/txclone"
      graft.ops.TxLog.clone(s, src, p, Some(dvV))
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.upsert(s, p,
        docs.filter(pmod(col("doc_id"), lit(31)) === 1)
          .withColumn("lang", lit("cl")), "doc_id")
      p
    })

  /** The mask-purge lifecycle, one per (session, sf dir): two
    * single-file appends split by doc_id parity, every doc_id ≡ 0
    * (mod 10) erased merge-on-read (masking ~20% of the EVEN file,
    * nothing in the odd one), then [[graft.ops.TxLog.purgeMasks]] at
    * threshold 0.1 — the heavily masked file rewrites without its
    * masked rows, the odd file stays byte-identical, the mask
    * retires. `q_table_purge` reads the purged head.
    */
  private val txlogPurgeCache = new SessionCache[String]

  private def txlogPurgeTable(s: SparkSession, dir: String): String =
    txlogPurgeCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txpurge"
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.append(s, p,
        docs.filter(pmod(col("doc_id"), lit(2)) === 0).coalesce(1))
      graft.ops.TxLog.append(s, p,
        docs.filter(pmod(col("doc_id"), lit(2)) === 1).coalesce(1))
      val keys = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      graft.ops.TxLog.deleteWhereDv(s, p, "doc_id", keys)
      val v = graft.ops.TxLog.purgeMasks(s, p, minFraction = 0.1)
      require(v.nonEmpty, "purge lifecycle: threshold crossed by design")
      p
    })

  /** The RESTORE lifecycle, one per (session, sf dir): documents
    * appended range-clustered (v0), doc_id ≡ 5 (mod 23) erased
    * merge-on-read (v1), doc_id ≡ 7 (mod 23) erased copy-on-write
    * (v2 — rewrites retire part of v1's mask coverage), compaction
    * (v3 — retires the rest), then RESTORE TO v1 (v4): the original
    * files come back and v1's deletion-vector mask is REPUBLISHED,
    * all pure metadata. `q_table_restore` reads the restored head
    * (the copy-on-write delete and the compaction are undone, the dv
    * delete is back in force); `q_table_restore_cdc` diffs the
    * restore interval — exactly the copy-on-write-deleted rows
    * return as inserts.
    */
  private val txlogRestoreCache = new SessionCache[(String, Long)]

  private def txlogRestoreTable(s: SparkSession, dir: String)
      : (String, Long) =
    txlogRestoreCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txrestore"
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.append(s, p,
        docs.repartitionByRange(8, col("doc_id"))
          .sortWithinPartitions("doc_id"))
      def keysMod(r: Long) = docs
        .filter(pmod(col("doc_id"), lit(23)) === r)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      val dvV = graft.ops.TxLog.deleteWhereDv(s, p, "doc_id", keysMod(5))
      graft.ops.TxLog.deleteWhere(s, p, "doc_id", keysMod(7))
      graft.ops.TxLog.compact(s, p, targetBytes = 16L << 20)
      val rv = graft.ops.TxLog.restore(s, p, dvV)
      (p, rv)
    })

  /** The logged-MERGE lifecycle, one per (session, sf dir): documents
    * appended key-clustered (range layout, so the merge's stats-pruned
    * hit discovery touches few files), then one [[graft.ops.TxLog
    * .upsert]] commit (10% of keys updated in place + 2% new keys
    * appended), then an `OPTIMIZE ZORDER` commit — which must be
    * logically invisible, so `q_txlog_merge`'s oracle pins the merge
    * AND the optimize in one read.
    */
  private val txlogMergeCache = new SessionCache[String]

  private def txlogMergeTable(s: SparkSession, dir: String): String =
    txlogMergeCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txmerge"
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.append(s, p,
        docs.repartitionByRange(8, col("doc_id"))
          .sortWithinPartitions("doc_id"))
      val updates = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
        .withColumn("lang", lit("xx"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(50)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            lit("new").as("lang"), col("n_chars")))
      graft.ops.TxLog.upsert(s, p, updates, "doc_id")
      graft.ops.TxLog.optimize(s, p, Seq("doc_id"), numFiles = 4)
      p
    })

  /** The MinHash dedup index lifecycle at rest, one per (session, sf
    * dir) — the third index family physically completed next to the
    * inverted index and IVF: build the rep-level artifacts (dict /
    * membership / banded buckets / verified rep pairs) from the 80%
    * base split via [[Dedup.minhashIndexWrite]], then route the 20%
    * batch against the stored digests and bucket index and APPEND the
    * delta as `gen=1` partition files ([[Dedup.minhashIndexAppend]] —
    * batch-only per-doc work, candidate-only re-reads).
    * `dedup_minhash_incremental` serves the full pair list from the
    * updated layout.
    */
  private val minhashDiskCache = new SessionCache[String]

  private def minhashDiskIndex(s: SparkSession, dir: String): String =
    minhashDiskCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/minhash"
      val docs = t(s, dir, "documents")
      Dedup.minhashIndexWrite(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        p, n = 3, numHashes = 32, bands = 32, minJ = 0.2,
        maxBucket = 16, minBands = 2)
      Dedup.minhashIndexAppend(s, p,
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), docs,
        n = 3, numHashes = 32, bands = 32, minJ = 0.2,
        maxBucket = 16, minBands = 2)
      p
    })

  /** Streaming-maintained stats table, one per (session, sf dir): the
    * corpus staged as two parquet batch files through the REAL
    * checkpointed [[StreamingOps.streamingIndexMaintenance]] lineage,
    * then the first batch RE-EMITTED as a brand-new file into the
    * resumed query — a cross-version redelivery — so the at-rest table
    * carries duplicate `(term, doc_id)` rows and
    * [[StreamingOps.servedPostings]]'s dedup is load-bearing in the
    * oracle check, not decorative.
    */
  private val streamStatsCache = new SessionCache[String]

  private def streamedStats(s: SparkSession, dir: String): String =
    streamStatsCache.getOrElseUpdate(s, dir, {
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

  /** Streamed consumption of a txlog table, one per (session, sf dir):
    * what a downstream pipeline actually RECEIVES from the
    * `graft-table` streaming source, landed as two parquet feeds.
    *
    * `feed_append` (append-only consumer, attached from v0): initial
    * snapshot, two incremental appends, and a compaction interval in
    * the middle that must contribute ZERO rows — exactly-once is in
    * the oracle hash, a re-emitted row would flip it. The consumer
    * detaches before any data-changing commit.
    *
    * `feed_cdc` (cdc consumer, `startingVersion=0`,
    * `maxVersionsPerTrigger=1` so every commit is its own
    * micro-batch): replays the WHOLE lifecycle including the
    * copy-on-write delete — the change feed carries each slice's
    * inserts exactly once plus exactly the deleted rows as deletes.
    */
  private val txlogStreamCache = new SessionCache[String]

  private def txlogStreamFeeds(s: SparkSession, dir: String): String =
    txlogStreamCache.getOrElseUpdate(s, dir, {
      val root = annTmp()
      val table = s"$root/table"
      graft.ops.TxLog.init(table)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      def slice(k: Int) = docs.filter(pmod(col("doc_id"), lit(4)) === k)
      // the CHECK gate is load-bearing on every commit below (and the
      // cdc replay proves a metadata-only version 0 is a clean empty
      // batch, not an error)
      graft.ops.TxLog.addConstraint(s, table, "doc_id_present",
        "doc_id IS NOT NULL AND n_chars >= 0")                      // v0
      graft.ops.TxLog.append(s, table, slice(0))                    // v1
      val qA = s.readStream.format("graft-table").load(table)
        .writeStream.format("parquet")
        .option("path", s"$root/feed_append")
        .option("checkpointLocation", s"$root/ckpt_append").start()
      try {
        qA.processAllAvailable()
        graft.ops.TxLog.append(s, table, slice(1))                  // v2
        qA.processAllAvailable()
        graft.ops.TxLog.compact(s, table, targetBytes = 16L << 20)  // v3
        qA.processAllAvailable()
        graft.ops.TxLog.append(s, table, slice(2))                  // v4
        qA.processAllAvailable()
      } finally qA.stop()
      // data-changing commits land AFTER the append-only consumer
      // detached (it would — correctly — refuse them)
      graft.ops.TxLog.deleteWhere(s, table, "doc_id", DeletedKeys)  // v5
      graft.ops.TxLog.append(s, table, slice(3))                    // v6
      val qC = s.readStream.format("graft-table")
        .option("cdc", "true").option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1").load(table)
        .writeStream.format("parquet")
        .option("path", s"$root/feed_cdc")
        .option("checkpointLocation", s"$root/ckpt_cdc").start()
      try qC.processAllAvailable() finally qC.stop()
      root
    })

  /** A txlog lifecycle with a file-count-deterministic layout (every
    * stage coalesced), one per (session, sf dir) — the table behind
    * `q_table_history`, whose ledger (op, file counts, footer-exact
    * row stats) is read back through the `graft-table-history`
    * DataSource V2 connector. Deleted keys are all ≡0 mod 3, so the
    * delete's copy-on-write rewrite hits exactly v0's one file.
    */
  private val txlogHistoryCache = new SessionCache[String]

  private def txlogHistoryTable(s: SparkSession, dir: String): String =
    txlogHistoryCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/txhist"
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.append(s, p,
        docs.filter(pmod(col("doc_id"), lit(3)) === 0).coalesce(1))  // v0
      graft.ops.TxLog.append(s, p,
        docs.filter(pmod(col("doc_id"), lit(3)) === 1).coalesce(1))  // v1
      graft.ops.TxLog.deleteWhere(s, p, "doc_id", Seq(3L, 9L, 27L))  // v2
      graft.ops.TxLog.compact(s, p, targetBytes = 1L << 30)          // v3
      graft.ops.TxLog.optimize(s, p, Seq("doc_id"), numFiles = 2)    // v4
      p
    })

  /** The reference's HEADLINE physical artifact at rest: the stemmed
    * posting table written term-range-partitioned + term-sorted once
    * per (session, sf dir) via [[Indexer.writeIndex]] (the Spark form
    * of the TotalOrderPartitioner output + boundary file,
    * `code/inverted/InvertedIndexMapred.java:288,296-306`). Queries
    * read it back FRESH — `search_and_at_rest` proves query-time
    * partition pruning on the persisted layout, not a session cache.
    */
  private val invertedDiskCache = new SessionCache[String]

  private def invertedDiskIndex(s: SparkSession, dir: String): String =
    invertedDiskCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/inverted"
      Indexer.writeIndex(Indexer.postings(t(s, dir, "documents")), p)
      p
    })

  private def annTmp(): String =
    java.nio.file.Files.createTempDirectory("graft-ann-").toString

  private val orcCache = new SessionCache[String]

  /** Documents written ORC once per (session, sf dir) — the at-rest
    * artifact behind `orc_roundtrip`. Lives under a `graft-ann-` temp
    * dir so the path normalizes out of plan fingerprints like every
    * other session artifact.
    */
  private def orcStore(s: SparkSession, dir: String): String =
    orcCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/docs_orc"
      t(s, dir, "documents").select("doc_id", "lang", "text")
        .write.mode("overwrite").orc(p)
      p
    })

  private def lshIndex(s: SparkSession, dir: String): String =
    lshCache.getOrElseUpdate(s, dir, {
      val p = s"${annTmp()}/lsh"
      AnnIndex.lshWrite(annCorpus(s, dir), p, planes = AnnPlanes)
      p
    })

  private def ivfIndex(s: SparkSession, dir: String): AnnIndex.IvfModel =
    ivfCache.getOrElseUpdate(s, dir,
      AnnIndex.ivfWrite(annCorpus(s, dir), s"${annTmp()}/ivf", k = IvfClusters))

  private def pqIndex(s: SparkSession, dir: String): AnnIndex.PqModel =
    pqCache.getOrElseUpdate(s, dir,
      AnnIndex.pqWrite(annCorpus(s, dir), s"${annTmp()}/pq"))

  private val AnnPlanes = 12
  private val IvfClusters = 16

  /** Embedding near-dup pair list, one per (session, sf dir): banded
    * hyperplane-LSH candidates + exact cosine verify computed ONCE for
    * both consumers (the pair query and the semantic-dedup endgame).
    * Eager localCheckpoint: the pair list is tiny and the memo must
    * hold materialized blocks, not a lazy plan.
    */
  private val embPairsCache = new SessionCache[DataFrame]

  private def cachedEmbPairs(s: SparkSession, dir: String): DataFrame =
    embPairsCache.getOrElseUpdate(s, dir,
      Dedup.embeddingNearDupBanded(t(s, dir, "embeddings"), minCos = 0.4,
        planesPerTable = 3, tables = 32).localCheckpoint(true))

  /** Near-dup pair list, one per (session, sf dir): the dedup pipeline
    * computes the verified pair list ONCE and both consumers (connected
    * components, keep-best keeper selection) read it — exactly how a
    * production dedup run is staged. No persist(): ngramJaccard returns
    * an eagerly localCheckpoint'd result (materialized blocks), so
    * memoizing the DataFrame is enough.
    */
  private val pairsCache = new SessionCache[DataFrame]

  /** Corpus word-3-gram shingle table, one per (session, sf dir): at
    * scale the corpus tokenize+shingle pass IS the dedup cost, and
    * four consumers need the same table (the pair self-join, fuzzy
    * decontamination, containment, the incremental-clusters cross
    * probe) — build it once, like the posting index.
    */
  private val shingleCache = new SessionCache[DataFrame]

  private def cachedShingles(s: SparkSession, dir: String): DataFrame =
    shingleCache.getOrElseUpdate(s, dir,
      Dedup.shingles(t(s, dir, "documents"), 3).localCheckpoint(true))

  private def cachedPairs(s: SparkSession, dir: String): DataFrame =
    pairsCache.getOrElseUpdate(s, dir,
      Dedup.ngramJaccardFromShingles(cachedShingles(s, dir),
        minJ = 0.05, maxShingleFreq = 2000))

  /** Cluster labeling over the cached pair list, one per (session, sf
    * dir): connected components is O(log n) checkpointed rounds —
    * worth paying once, not once per consumer (dedup_clusters,
    * dedup_keep_best both read it; the label table is node-sized).
    */
  private val clustersCache = new SessionCache[DataFrame]

  private def cachedClusters(s: SparkSession, dir: String): DataFrame =
    clustersCache.getOrElseUpdate(s, dir,
      Dedup.clusters(cachedPairs(s, dir)).localCheckpoint())

  /** Base-half cluster labels for the incremental-CC entry: in
    * production these are YESTERDAY'S at-rest label table (the thing
    * the incremental fold exists to avoid recomputing), so the session
    * holds them once — the same modeling as the graph family's
    * prebuilt adjacency. Node-sized.
    */
  private val baseLabelsCache = new SessionCache[DataFrame]

  private def cachedBaseLabels(s: SparkSession, dir: String,
                               half: Long): DataFrame =
    baseLabelsCache.getOrElseUpdate(s, dir,
      // EQUIVALENCE ASSUMPTION: base labels are derived by filtering
      // the FULL-corpus cachedPairs (whose hot-shingle guard prunes at
      // maxShingleFreq=2000 over the whole corpus). A pair whose common
      // shingles are hot corpus-wide but cool within the base half
      // could be pruned here yet survive a base-only build — on this
      // corpus no shingle is near the guard in either scope (verified
      // by the green oracle), and at production scale "yesterday's
      // labels" come from yesterday's own run anyway; build from
      // base-restricted shingles if standalone parity ever matters.
      Dedup.clusters(cachedPairs(s, dir)
          .filter(col("doc_a") < half && col("doc_b") < half)
          .select("doc_a", "doc_b"))
        .localCheckpoint())

  private def queryVec(s: SparkSession, dir: String): Seq[Double] =
    t(s, dir, "embeddings").filter(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble)

  private def searchScores(s: SparkSession, dir: String, q: String): DataFrame = {
    val docs = t(s, dir, "documents")
    SearchEngine.search(q, cachedIndex(s, dir), docs)
      .select(col("doc_id"), round(col("score"), 4).as("score"))
  }

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans / projections / row transforms (S, P) ----
    "corpus_project" -> ((s, dir) =>
      t(s, dir, "documents").select("doc_id", "text").dropDuplicates("doc_id")),
    "doc_fetch" -> ((s, dir) =>
      SearchEngine.fetchDoc(t(s, dir, "documents"), 42L)),
    "tokenize_pos" -> ((s, dir) =>
      graft.search.Analyzer.tokenize(t(s, dir, "documents"), "text", Seq("doc_id"))),

    // ---- aggregations (A1-A4) ----
    "doc_count" -> ((s, dir) =>
      Indexer.docCount(t(s, dir, "documents"))),
    "word_count" -> ((s, dir) =>
      Indexer.wordCounts(t(s, dir, "documents"))),
    "top_words" -> ((s, dir) =>
      Indexer.stopWords(t(s, dir, "documents"), 100)),
    "term_freq" -> ((s, dir) =>
      Indexer.termDocStats(t(s, dir, "documents"), Seq.empty, stem = false)
        .select("term", "doc_id", "tf")),
    "tfidf_postings" -> ((s, dir) =>
      cachedRawIndex(s, dir)
        .select(col("term"), col("doc_id"), col("tf"), col("df"),
          round(col("score"), 4).as("score"))),
    // per-document top-5 TF-IDF keywords: doc_id-partitioned window
    // (millions of small partitions, no global sort), raw-score ranks
    // with term tie-break — reproducible across engines
    "doc_keywords" -> ((s, dir) =>
      graft.search.Scoring.docKeywords(cachedRawIndex(s, dir), 5)),
    // related-document retrieval: TF-IDF cosine of every doc against
    // doc 42's term vector, sparse posting-join algebra (no dense
    // vectors, no embedding model)
    "search_more_like_this" -> ((s, dir) =>
      graft.search.Scoring.moreLikeThis(cachedRawIndex(s, dir), 42L, 10)
        .select(col("doc_id"), round(col("cosine"), 4).as("cosine"))),
    // hybrid retrieval: BM25 keyword ranking + embedding-cosine ranking
    // fused by reciprocal ranks (RRF) — both candidate lists are
    // pool-bounded TakeOrdered plans, the fusion join sees <= 2*pool
    // rows; vec_id 0 is the query vector itself and is excluded
    "search_hybrid" -> ((s, dir) =>
      graft.search.Scoring.hybridRrf(t(s, dir, "documents"),
        t(s, dir, "embeddings").filter(col("vec_id") =!= 0),
        Seq("spark", "data"), queryVec(s, dir), k = 10)),
    // incremental maintenance: 80% of the corpus is "already indexed"
    // (only its compact per-(term,doc) stats survive), the other 20%
    // arrives as a new batch — the output must equal a full rebuild
    // over everything, so the oracle is tfidf_postings' SQL verbatim
    "postings_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val oldDocs = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val newDocs = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      Indexer.incrementalPostings(
          Indexer.termDocStats(oldDocs, Seq.empty, stem = false),
          oldDocs.count(), newDocs, stem = false)
        .select(col("term"), col("doc_id"), col("tf"), col("df"),
          round(col("score"), 4).as("score"))
    }),
    "bm25_postings" -> ((s, dir) =>
      graft.search.Scoring.bm25Postings(t(s, dir, "documents"), stem = false)
        .select(col("term"), col("doc_id"), col("tf"), col("df"), col("dl"),
          round(col("score"), 4).as("score"))),
    "search_bm25" -> ((s, dir) => {
      // BM25 ranking for "spark data": per-term scores SUM over the
      // query's terms (standard BM25 combination)
      val sc = graft.search.Scoring.bm25Postings(t(s, dir, "documents"))
      sc.filter(col("term").isin("spark", "data"))
        .groupBy("doc_id")
        .agg(round(sum("score"), 4).as("score"), count("*").as("n_terms"))
        .filter(col("n_terms") === 2) // conjunctive: both terms present
        .drop("n_terms")
    }),
    "postings_stemmed" -> ((s, dir) =>
      cachedIndex(s, dir)
        .select(col("term"), col("doc_id"), col("tf"), col("df"),
          round(col("score"), 4).as("score"))),

    // ---- boolean retrieval: the set-op algebra (J1-J8, F3, F5) ----
    "search_and" -> ((s, dir) => searchScores(s, dir, "spark and data")),
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
    "search_and_at_rest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = Indexer.readIndex(s, invertedDiskIndex(s, dir))
      SearchEngine.search("spark and data", idx, docs)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
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
    "search_streamed_index" -> ((s, dir) => {
      val served = StreamingOps.servedPostings(s, streamedStats(s, dir))
      SearchEngine.search("spark and data", served, t(s, dir, "documents"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    "search_or" -> ((s, dir) => searchScores(s, dir, "spark or data")),
    "search_and_not" -> ((s, dir) => searchScores(s, dir, "spark and not data")),
    // operational monitoring over the built index: one aggregate row
    // (stem map is injective on this corpus, so stemmed counts equal
    // raw-token counts — same argument as postings_stemmed)
    "index_stats" -> ((s, dir) =>
      cachedIndex(s, dir).agg(
        countDistinct("term").as("n_terms"),
        count(lit(1)).cast("long").as("n_postings"),
        max("df").as("max_df"),
        sum("tf").cast("long").as("total_tf"))),
    // N queries evaluated in one pass over one pruned scan of the
    // shared session index (the reference pays a full MapReduce
    // pipeline per query)
    "search_batch" -> ((s, dir) => {
      val ranked = SearchEngine.searchMany(
        Seq("spark and data", "spark or data"),
        cachedIndex(s, dir), t(s, dir, "documents"))
      ranked.select(col("query"), col("doc_id"),
        round(col("score"), 4).as("score"))
    }),
    "search_cnf" -> ((s, dir) =>
      searchScores(s, dir, "(spark or data) and join and not dup")),
    // trigram substring index (pg_trgm / code-search design): LIKE
    // '%needle%' as a bounded index probe — broadcast the needle's gram
    // set against the session-cached posting table, require ALL grams
    // per doc, exact contains-verify only the candidates. Output is
    // exactly the brute-force LIKE row set (the oracle computes it)
    "search_substring" -> ((s, dir) =>
      graft.search.SubstringIndex.search(
        t(s, dir, "documents"), trigramIndex(s, dir), "merge batch")),
    // %-wildcard LIKE over the same trigram index: every literal
    // segment's grams are required, the like verify enforces order
    "search_like" -> ((s, dir) =>
      graft.search.SubstringIndex.searchLike(
        t(s, dir, "documents"), trigramIndex(s, dir), "%merge batch%fast%")),
    // the AT-REST probe path: parquet index written once per session,
    // the needle's grams pushed as an IN-filter into the scan (footer
    // min/max pruning), exact contains verify on candidates — output
    // identical to the in-memory probe and to brute force
    "search_substring_at_rest" -> ((s, dir) =>
      t(s, dir, "documents")
        .join(graft.search.SubstringIndex.probeIndex(
          s, trigramDiskIndex(s, dir), "window sort"), "doc_id")
        .filter(contains(lower(col("text")), lit("window sort")))
        .select(col("doc_id"))),
    // incremental maintenance of the trigram index (the substring
    // sibling of postings_incremental): 80% of the corpus is "already
    // indexed" — with the doc_id%10==2 slice indexed from a STALE
    // truncated revision — and the batch re-ingests those updated docs
    // plus the 20% new ones. mergePostings re-grams ONLY the batch and
    // anti-joins its ids out of the old postings, so a probe through
    // the merged index must equal brute-force LIKE over the TRUE
    // corpus (the oracle); the merge-equals-rebuild spec pins exact
    // posting-set equality
    "substring_incremental" -> ((s, dir) => {
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
    }),
    "search_phrase" -> ((s, dir) => searchScores(s, dir, "spark data")),
    // the PROXIMITY path over the persisted index: positions read back
    // from parquet carry containsNull=true, so this row drives the
    // native MinTokenDistance kernel's defined null-skip semantics
    // against real at-rest arrays (not just the session-cached ones);
    // same oracle as search_phrase — the physical read path must not
    // move a value
    "search_phrase_at_rest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = Indexer.readIndex(s, invertedDiskIndex(s, dir))
      SearchEngine.search("spark data", idx, docs)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
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
    "search_prefix_at_rest" -> ((s, dir) => {
      val idx = Indexer.readIndex(s, invertedDiskIndex(s, dir))
      SearchEngine.searchPrefix("s", idx)
        .select(col("doc_id"), round(col("score"), 4).as("score"),
          col("n_terms"))
    }),
    "search_not_or" -> ((s, dir) =>
      searchScores(s, dir, "join and not (spark or data)")),
    // the full reference stop-word flow: derive top-2 stop words from the
    // corpus (A1+O1), build the index excluding them, neutralize them at
    // parse time (Q4) — "join" is rank-1, so it becomes an identity
    // operand and the query degenerates to "spark"
    "search_stopword_drop" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sw = Indexer.stopWordList(docs, 2)
      val idx = Indexer.postings(docs, sw)
      SearchEngine.search("spark and join", idx, docs,
        graft.search.QueryParser.stemmedStopWords(sw))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),

    // ---- ranking / pagination (O4, O6) ----
    "search_page1" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ranked = SearchEngine.search("spark and data", cachedIndex(s, dir), docs)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(desc("score"), asc("doc_id"))
      SearchEngine.page(ranked, 1)
    }),

    // the snippet renderer, oracled by INVARIANTS over the real rendered
    // string instead of a verbatim corpus pin: the page-1 doc set is the
    // same SQL ranking search_page1 asserts, and per doc (a) every
    // positive query term appears highlighted, (b) the de-markup'd
    // snippet stays within the reference's window bound, (c) every
    // "..."-separated fragment is a verbatim substring of the document.
    // The DuckDB row is (doc_id, TRUE, TRUE, TRUE, TRUE) over the ranked
    // page — a real SQL oracle; the renderer's exact output shape stays
    // pinned by the PresentationSpec unit vectors.
    "search_snippets" -> ((s, dir) => {
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
    }),

    // ---- XML tag-delimited scan (S1/S2) ----
    "xml_roundtrip" -> ((s, dir) =>
      graft.sources.XmlScan.parsePages(
        graft.sources.XmlScan.toPageXml(t(s, dir, "documents")))),
    // JSONL codec round trip (the ingest format LLM corpora actually
    // ship in): to_json → from_json under the explicit schema, a
    // map-only codegen'd round trip — any escaping/unicode/null
    // asymmetry between the two directions breaks the hash
    "jsonl_roundtrip" -> ((s, dir) =>
      graft.sources.DelimitedScan.parseJsonl(
        graft.sources.DelimitedScan.toJsonl(t(s, dir, "documents")))),
    // CSV dialect round trip: RFC quote-doubling, embedded delimiters/
    // quotes survive because a per-row codec never line-splits
    "csv_roundtrip" -> ((s, dir) =>
      graft.sources.DelimitedScan.parseCsvLines(
        graft.sources.DelimitedScan.toCsvLines(t(s, dir, "documents")))),
    // ORC round trip AT REST: documents written columnar-ORC once per
    // session, then a pruned+filtered read back — the second built-in
    // columnar at-rest format next to Parquet (same writer/reader API
    // at 100 TB; predicate pushdown + column pruning on the ORC scan
    // are plan-asserted in RoundTwentyTwoSpec)
    "orc_roundtrip" -> ((s, dir) =>
      s.read.orc(orcStore(s, dir))
        .filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id"), md5(col("text")).as("digest"))),

    // ---- corpus_type split + title-as-first-line (reference parity) ----
    // ctype "text": cleaned string (entities decoded); ctype "html":
    // displayable variant, entities stay encoded on disk. Both store the
    // title as the record's first line.
    "corpus_split_text" -> ((s, dir) =>
      graft.sources.Corpus.split(
        graft.sources.XmlScan.parsePages(
          graft.sources.XmlScan.toPageXml(t(s, dir, "documents"))), "text")),
    "corpus_split_html" -> ((s, dir) =>
      graft.sources.Corpus.split(
        graft.sources.XmlScan.parsePages(
          graft.sources.XmlScan.toPageXml(t(s, dir, "documents"))), "html")),
    "doc_titles" -> ((s, dir) =>
      graft.sources.Corpus.split(
        graft.sources.XmlScan.parsePages(
          graft.sources.XmlScan.toPageXml(t(s, dir, "documents"))), "text")
        .select(col("doc_id"),
          graft.sources.Corpus.titleOf(col("content")).as("title"))),

    // ---- relational coverage on the TPC-H-ish tables ----
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          count("*").as("count_order"))),
    "q_join3" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_custkey", "c_mktsegment")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"), count("*").as("n_items"))
    }),
    // typed Dataset cogroup (KeyValueGroupedDataset.cogroup): per-key
    // reconciliation with an imperative typed function — the
    // Dataset[T]/Encoder surface. Same shuffle shape as a join (both
    // sides hash on the key; per-key memory = that key's rows, bounded
    // by orders-per-customer); the fold inside the function replaces a
    // join + aggregate pair. Iterator order within a key is undefined,
    // so the double fold rounds at 2 dp like every revenue aggregate
    "q_cogroup" -> ((s, dir) => {
      import s.implicits._
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").cast("long"), col("c_acctbal").cast("double"))
        .as[(Long, Double)]
      val ords = t(s, dir, "orders")
        .select(col("o_custkey").cast("long"), col("o_totalprice").cast("double"))
        .as[(Long, Double)]
      cust.groupByKey(_._1).cogroup(ords.groupByKey(_._1)) { (k, cs, os) =>
        val c = cs.toSeq
        if (c.isEmpty) Iterator.empty
        else {
          var n = 0L; var tot = 0.0
          os.foreach { o => n += 1L; tot += o._2 }
          Iterator((k, c.head._2, n, tot))
        }
      }.toDF("c_custkey", "acctbal", "n_orders", "total_spent")
        .select(col("c_custkey"), col("acctbal"), col("n_orders"),
          round(col("total_spent"), 2).as("total_spent"))
    }),
    "q_broadcast_join" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val l = t(s, dir, "lineitem")
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count("*").as("n_items"))
    }),
    "q_semi_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem").filter(col("l_quantity") >= 49)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice")
    }),
    "q_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),
    "q_full_outer" -> ((s, dir) => {
      val cs = t(s, dir, "customer").groupBy(col("c_nationkey").as("nationkey"))
        .agg(count("*").as("n_cust"))
      val ss = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nationkey"))
        .agg(count("*").as("n_supp"))
      cs.join(ss, Seq("nationkey"), "full_outer")
        .select(col("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
    }),
    "q_union_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val hi = o.filter(col("o_totalprice") > 200000)
        .select(col("o_custkey"), col("o_totalprice").as("v"))
      val lo = o.filter(col("o_totalprice") < 50000)
        .select(col("o_custkey"), col("o_totalprice").as("v"))
      hi.unionByName(lo).groupBy("o_custkey")
        .agg(round(sum("v"), 2).as("total"), count("*").as("n"))
    }),
    "q_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(round(sum("l_extendedprice"), 2).as("sum_price"), count("*").as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("sum_price"), col("n"))),
    "q_approx_sketch" -> ((s, dir) =>
      // HLL sketch + exact median. The HLL estimate is engine-specific
      // but partitioning-INVARIANT (registers merge by max), so the row
      // set is corpus-pinnable (PinnedOracles); percentile_approx is NOT
      // invariant (quantile-summary partials depend on split count), so
      // the median column is the exact percentile instead.
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct("l_partkey").as("approx_parts"),
          round(percentile(col("l_extendedprice"), lit(0.5)), 2)
            .as("median_price"))),
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count("*").as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("sum_qty"), col("n"))),
    // arbitrary GROUPING SETS (the general form cube/rollup specialize):
    // three explicit levels, null-marked like SQL. sum(l_quantity) is a
    // sum of integer-valued doubles — exact, hence order-invariant
    "q_grouping_sets" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"))),
    // pivot: one column per o_orderstatus value, count per cell
    // (explicit value list keeps the plan single-pass — no distinct
    // scan — and the schema static); absent combos coalesce to 0
    "q_pivot" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O"),
          coalesce(col("P"), lit(0L)).as("P"))),
    // exact grouped quantiles (the approx sketch has q_approx_sketch):
    // sort-based percentile, partitioning-invariant; l_quantity is
    // integer-valued so the interpolation is engine-exact
    "q_group_quantiles" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(percentile(col("l_quantity"), lit(0.25)).as("q1"),
          percentile(col("l_quantity"), lit(0.5)).as("med"),
          percentile(col("l_quantity"), lit(0.75)).as("q3"),
          min("l_quantity").as("qmin"), max("l_quantity").as("qmax"))),
    // EXACT global quantiles by distributed selection: histogram pass
    // + targeted in-bucket pick — no global sort, no full-rank pass,
    // unlike percentile (single-task) or percentile_approx (inexact)
    "q_exact_quantile" -> ((s, dir) =>
      ScalableRank.globalQuantiles(t(s, dir, "lineitem"),
        "l_extendedprice", Seq(0.25, 0.5, 0.75), bucketWidth = 1000.0)),
    // global total-order analytics WITHOUT the single-partition sort
    // Spark plans for ORDER-BY-only windows: two-level bucketed rank
    // (ScalableRank), bit-identical to row_number/ntile
    "q_global_rank" -> ((s, dir) =>
      ScalableRank.globalRowNumber(
        t(s, dir, "documents").select("doc_id", "n_chars"),
        "n_chars", "doc_id", bucketWidth = 256)),
    "q_ntile" -> ((s, dir) =>
      ScalableRank.globalNtile(
        t(s, dir, "documents").select("doc_id", "n_chars"),
        10, "n_chars", "doc_id", bucketWidth = 256)),
    // deterministic per-epoch training-order shuffle: pseudorandom but
    // reproducible global positions via the same two-level prefix sum
    // (no single-partition sort); the order is md5-keyed so any engine
    // reproduces it
    "text_global_shuffle" -> ((s, dir) =>
      ScalableRank.deterministicShuffle(
        t(s, dir, "documents").select("doc_id"), "doc_id", seed = 42)),
    // SCD-1 MERGE INTO as one full outer join: update, delete, and
    // insert rows applied to a snapshot in a single pass. The change
    // batch is derived deterministically from customer so every merge
    // case occurs
    "q_upsert" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      val changes =
        c.filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), col("c_name"),
            (col("c_acctbal") + 100.0).as("c_acctbal"),
            lit(false).as("_deleted"))
        .unionByName(c.filter(col("c_custkey") % 10 === 1)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            lit(true).as("_deleted")))
        .unionByName(c.filter(col("c_custkey") % 10 === 2)
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            concat(lit("copy of "), col("c_name")).as("c_name"),
            lit(0.0).as("c_acctbal"), lit(false).as("_deleted")))
      Maintenance.upsert(c, changes, Seq("c_custkey"))
    }),
    // Pearson correlation per return flag from EXACT decimal moments:
    // decimal sums are partitioning-invariant, the final formula runs
    // in double over exact inputs — bit-reproducible with NO rounding
    "q_stats_corr" -> ((s, dir) =>
      graft.ops.Stats.pearson(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_quantity", "l_extendedprice")),
    // 7-day trailing moving average of daily order revenue: the window
    // runs over the DAILY aggregate (calendar-bounded, documented) and
    // the frame sum is an exact decimal — no rounding needed
    "q_moving_avg" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"))
      graft.ops.Stats.movingAverage(daily, "day", "revenue", 7)
        .select(col("day"), col("revenue").cast("double").as("revenue"),
          col("moving_avg"))
    }),
    // RANGE frame (vs q_moving_avg's ROWS frame): trailing 30 VALUE
    // days of revenue per day — gaps in the calendar shrink the frame,
    // they don't stretch it; exact decimal frame sum, cast at the end
    "q_range_frame" -> ((s, dir) => {
      val w = Window.orderBy(col("epoch_day"))
        .rangeBetween(-29, Window.currentRow)
      t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"))
        .withColumn("epoch_day", datediff(col("day"), lit("1970-01-01")))
        .withColumn("rev30",
          sum(col("revenue").cast("decimal(18,2)")).over(w).cast("double"))
        .select(col("day"), col("revenue").cast("double").as("revenue"),
          col("rev30"))
    }),
    // trailing 28-day z-score over daily revenue — anomaly detection
    // for pipeline monitoring; the current row is excluded from its
    // own baseline, moments are exact decimals (no rounding at all)
    "q_anomaly" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"))
      graft.ops.Stats.movingZScore(daily, "day", "revenue", 28)
        .select(col("day"), col("revenue").cast("double").as("revenue"),
          col("z"))
    }),
    // declarative quality gate: 7 constraint checks over orders in ONE
    // aggregation pass + one anti-join (referential integrity vs
    // customer); unique:o_custkey is the deliberate failing check
    "q_quality_audit" -> ((s, dir) => {
      import graft.ops.Quality
      import graft.ops.Quality._
      Quality.audit(t(s, dir, "orders"), Seq(
        NotNull("o_custkey"),
        Unique("o_orderkey"),
        Unique("o_custkey"),
        InRange("o_totalprice", 0.0, 600000.0),
        Satisfies("status_known",
          col("o_orderstatus").isin("F", "O", "P"), 1.0),
        Satisfies("recent",
          col("o_orderdate") >= lit("1995-01-01").cast("timestamp"), 0.3),
        ForeignKey("o_custkey", t(s, dir, "customer"), "c_custkey")))
    }),
    // data-quality audit: per-column row/null/distinct counts + string
    // min/max in one pass (ints/dates/strings only — float rendering
    // is engine-specific)
    "q_profile" -> ((s, dir) =>
      Maintenance.profile(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_shipdate", "l_returnflag"))),
    // unpivot/melt: wide measure columns to (measure, val) rows —
    // pure row expansion, no shuffle, scales with the scan
    "q_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem").unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "measure", "val")),
    // explicit cross join (the one join type not yet covered): tiny
    // dimension x dimension, the only legitimate cross-join shape
    "q_cross_join" -> ((s, dir) =>
      t(s, dir, "region").select(col("r_name"))
        .crossJoin(t(s, dir, "nation").select(col("n_name")))),
    // set operators beyond UNION: INTERSECT / EXCEPT with their SQL
    // distinct semantics
    "q_set_ops" -> ((s, dir) => {
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      val open = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "O").select("o_custkey")
      urgent.intersect(open).withColumn("op", lit("both"))
        .unionByName(urgent.except(open).withColumn("op", lit("urgent_only")))
    }),
    // exact distinct aggregation (two-phase under the hood)
    "q_count_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("n_parts"),
          countDistinct("l_suppkey").as("n_supps"),
          count(lit(1)).as("n_rows"))),
    // edit distance (near-dup titles/headers): classic DP levenshtein,
    // identical across engines on these ASCII prefixes
    "text_edit_distance" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        levenshtein(substring(col("text"), 1, 40),
          substring(regexp_replace(col("text"), "a", "o"), 1, 40))
          .as("edit_dist"))),
    // explicit skew mitigation, oracle-checked equal to the plain forms:
    // salted join (hot keys split across saltFactor reducers, right side
    // replicated) and two-phase salted aggregation (sum of
    // integer-valued doubles -> exact, order-invariant)
    "q_skew_join" -> ((s, dir) =>
      Skew.saltedJoin(
        t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus"),
        t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        "o_custkey", saltFactor = 8)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "c_mktsegment")),
    "q_skew_agg" -> ((s, dir) =>
      Skew.saltedAggregate(t(s, dir, "lineitem"),
        "l_returnflag", "l_quantity", saltFactor = 8)),
    // temporal projections: calendar parts + hour bounds per day
    "q_date_parts" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(year(col("ts")).as("y"), month(col("ts")).as("m"),
          dayofmonth(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"), min(hour(col("ts"))).as("min_h"),
          max(hour(col("ts"))).as("max_h"))),
    // Z-order (Morton) key over two join/filter dimensions — the
    // multi-dim clustering key Maintenance.zorderLayout writes by.
    // Oracle-checked per row; the layout itself (range partition +
    // in-file sort + footer-stats pruning) is asserted in a spec
    "q_zorder" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))
        .withColumn("zkey", Maintenance.zorderKey(
          pmod(col("l_partkey"), lit(65536L)),
          pmod(col("l_suppkey"), lit(65536L))))),
    // targeted-rewrite delete (GDPR erasure): three doc_ids removed
    // from the doc_id-range-partitioned layout by rewriting ONLY the
    // file(s) whose key range holds them ([[Maintenance.deleteWhere]],
    // copy-on-write) — the entry reads the post-delete table, so the
    // oracle's NOT IN asserts both halves: the keys are gone AND every
    // other row survived the swap untouched. The physical claim (hit
    // discovery stats-pruned, untouched files byte-identical) is
    // spec-asserted on the same layout
    "q_targeted_delete" -> ((s, dir) =>
      s.read.parquet(deletedDocsLayout(s, dir))
        .select("doc_id", "lang", "n_chars")),
    // transaction-log table: one result spanning two snapshots of the
    // SAME at-rest table — v1 (time travel: the full pre-delete
    // corpus, still readable because the logged delete removed files
    // from the LOG, not the disk) and head (after the copy-on-write
    // delete and a compaction commit, which must be logically
    // invisible). The oracle's two branches pin both
    // both snapshots read through the graft-table DSv1 connector (the
    // Delta shape: HadoopFsRelation over a log-backed FileIndex) —
    // versionAsOf pins the pre-delete version, the head read resolves
    // the tip; same rows as the TxLog.snapshot API, same oracle
    "q_timetravel" -> ((s, dir) => {
      val p = txlogTable(s, dir)
      s.read.format("graft-table").option("versionAsOf", "1").load(p)
        .select("doc_id").withColumn("snap", lit("v1"))
        .unionByName(
          s.read.format("graft-table").load(p)
            .select("doc_id").withColumn("snap", lit("head")))
    }),
    // merge-on-read delete: every doc_id ≡ 3 (mod 19) is gone from the
    // read, but the commit wrote only a (file, row-position) sidecar —
    // zero data files rewritten (the spec asserts byte-identity; at
    // 100 TB this is the difference between a KB and rewriting every
    // file a scattered delete touches). The read is a time travel TO
    // the dv version through a later compaction that purged the mask —
    // so it also pins that purge left history intact
    // read through the graft-table connector at the dv version: the
    // mask is applied INSIDE the parquet scan (row-index based, no
    // plan rewrite) — the oracle pins merge-on-read semantics through
    // the connector's own read path every round
    "q_table_dv_delete" -> ((s, dir) => {
      val (p, dvV) = txlogDvTable(s, dir)
      s.read.format("graft-table")
        .option("versionAsOf", dvV.toString).load(p)
        .select("doc_id", "lang", "n_chars")
    }),
    // CDC over the dv interval: the file set did NOT change (that is
    // the point of merge-on-read), so the deletes are visible only
    // through the mask diff — newly masked positions joined back to
    // their rows. Exactly the deleted keys, no inserts
    "q_table_dv_cdc" -> ((s, dir) => {
      val (p, dvV) = txlogDvTable(s, dir)
      graft.ops.TxLog.changesBetween(s, p, dvV - 1, dvV)
        .select("doc_id", "lang", "n_chars", "change")
    }),
    // data skipping on a STRING column from the log's recorded
    // per-file [min,max]: the lang-clustered layout serves the de..en
    // slice from the overlapping files only, pruned before any
    // listing or footer I/O (the spec asserts the file count; the
    // oracle pins the row semantics)
    // the same slice as an ORDINARY filter on the connector read: the
    // GraftFileIndex prunes files from the log's recorded per-file
    // string [min,max] at plan time — no snapshotSliceStr call, the
    // user predicate alone drives the skipping (spec asserts the file
    // count on this entry's own plan)
    "q_table_skipping_str" -> ((s, dir) =>
      s.read.format("graft-table").load(txlogLangTable(s, dir))
        .filter(col("lang") >= "de" && col("lang") <= "en")
        .select("doc_id", "lang", "n_chars")),
    // IS NOT NULL data skipping from the log's per-file null counts
    // (recorded in the same commit footer sweep as the [min,max]
    // stats): the all-null file cannot serve a single row and is
    // pruned before any listing or footer I/O — the spec asserts the
    // single input file, the oracle pins the row semantics
    "q_table_skipping_null" -> ((s, dir) =>
      graft.ops.TxLog.snapshotSliceNull(s, txlogNullTable(s, dir),
          "lang_opt", isNull = false)
        .select("doc_id", "lang_opt", "n_chars")),
    // hive-partitioned txlog table read THROUGH THE CONNECTOR: an
    // ordinary .filter(lang = 'en') on format("graft-table"), with
    // every other partition pruned by the GraftFileIndex from the
    // LOG's recorded per-file partition values before any listing —
    // no snapshotPartition call, the user predicate alone drives the
    // pruning. The copy-on-write delete's rewrite outputs carry no
    // partition metadata and are conservatively read (their footer
    // lang [min,max] may still prune them; the predicate re-applies;
    // the spec asserts the files-opened bounds on this entry's own
    // plan, the oracle pins the rows)
    "q_table_partitioned" -> ((s, dir) =>
      s.read.format("graft-table").load(txlogPartTable(s, dir))
        .filter(col("lang") === "en")
        .select("doc_id", "lang", "n_chars")),
    // the batch WRITE surface: append / atomic INSERT OVERWRITE /
    // append through df.write.format("graft-table"), read back with
    // the overwritten v0 still time-travel readable — one result pins
    // the whole writer lifecycle
    // partition-scoped OPTIMIZE, read through the connector: the fr
    // partition was compacted Z-ordered with its partition metadata
    // re-recorded on the output, so an ordinary .filter(lang = 'fr')
    // prunes to (about) the one rewritten file from the log alone —
    // and must see exactly the same rows as before the maintenance
    "q_table_optimize_part" -> ((s, dir) =>
      s.read.format("graft-table").load(txlogPartTable(s, dir))
        .filter(col("lang") === "fr")
        .select("doc_id", "lang", "n_chars")),
    "q_table_overwrite" -> ((s, dir) => {
      val p = txlogWriteTable(s, dir)
      s.read.format("graft-table").load(p)
        .select("doc_id", "lang", "n_chars").withColumn("snap", lit("head"))
        .unionByName(
          s.read.format("graft-table").option("versionAsOf", "0").load(p)
            .select("doc_id", "lang", "n_chars")
            .withColumn("snap", lit("v0")))
    }),
    // the SQL SURFACE of the table: PURE SQL end to end — the
    // `USING graft-table` DDL binds the table through the connector's
    // RelationProvider (versionAsOf time travel included — spec), and
    // the SELECT's WHERE plans through the SAME GraftFileIndex,
    // pruning files from the log's recorded per-file string [min,max]
    // exactly like the DataFrame path (spec-asserted on this entry's
    // own executed plan). Direct `format`.`path` queries are a
    // file-source-only Spark feature; the DDL route is the V1
    // connector's SQL front door
    "q_table_sql" -> ((s, dir) => {
      val p = txlogLangTable(s, dir)
      s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_lang_table " +
        s"USING `graft-table` OPTIONS (path '$p')")
      s.sql("SELECT doc_id, lang, n_chars FROM graft_lang_table " +
        "WHERE lang = 'en'")
    }),
    // the WHOLE mutation lifecycle in pure SQL through the DSv2
    // catalog: INSERT INTO commits, INSERT OVERWRITE is the logged
    // overwrite, and the overwritten state time-travels back via
    // VERSION AS OF — head (residues 2 and 0) + v1 (residues 0 and 1)
    // in one result, every mutation a real commit through the log
    "q_table_sql_dml" -> ((s, dir) => {
      val p = txlogDmlTable(s, dir)
      s.sql(s"SELECT doc_id, lang, n_chars, 'head' AS snap " +
        s"FROM graft_table.`$p` " +
        "UNION ALL " +
        "SELECT doc_id, lang, n_chars, 'v1' AS snap " +
        s"FROM graft_table.`$p` VERSION AS OF 1")
    }),
    // SQL UPDATE through the catalog: one MERGE-ON-READ commit — the
    // matched rows masked by physical (file, pos), the new images
    // appended, zero live files rewritten (spec) — with the pre-update
    // state still time-travel readable from SQL
    "q_table_sql_update" -> ((s, dir) => {
      val p = txlogSqlUpdTable(s, dir)
      s.sql(s"SELECT doc_id, lang, n_chars, 'head' AS snap " +
        s"FROM graft_table.`$p` " +
        "UNION ALL " +
        "SELECT doc_id, lang, n_chars, 'v0' AS snap " +
        s"FROM graft_table.`$p` VERSION AS OF 0")
    }),
    // SQL MERGE INTO through the catalog: matched keys update
    // merge-on-read, unmatched keys insert, one commit
    "q_table_sql_merge" -> ((s, dir) => {
      val p = txlogSqlMergeTable(s, dir)
      s.sql(s"SELECT doc_id, lang, n_chars FROM graft_table.`$p`")
    }),
    // the maintenance ladder in pure SQL (CALL graft_table.system.*):
    // purge, optimize, restore, checkpoint, vacuum — head = the dv
    // delete's survivors minus the SQL-deleted de rows; VERSION AS OF
    // 3 rides the vacuum checkpoint's carried state (v0-v2 truncated)
    "q_table_sql_maintenance" -> ((s, dir) => {
      val p = txlogSqlMaintTable(s, dir)
      s.sql(s"SELECT doc_id, lang, n_chars, 'head' AS snap " +
        s"FROM graft_table.`$p` " +
        "UNION ALL " +
        "SELECT doc_id, lang, n_chars, 'v3' AS snap " +
        s"FROM graft_table.`$p` VERSION AS OF 3")
    }),
    // SQL ALTER TABLE ADD COLUMN through the catalog: one data-free
    // metadata commit widens the log-recorded schema (no data pass —
    // the 100 TB ALTER), pre-evolution rows read the new column as
    // NULL, a later SQL INSERT supplies it
    "q_table_sql_alter" -> ((s, dir) => {
      val p = txlogSqlAlterTable(s, dir)
      s.sql(s"SELECT doc_id, lang, n_chars, quality " +
        s"FROM graft_table.`$p`")
    }),
    // SQL RENAME/DROP COLUMN through the catalog (column mapping):
    // each a data-free metadata commit — stored values surface under
    // the renamed name, the dropped-then-re-added column reads NULL
    // (fresh physical name; the old bytes never resurface), and v0
    // still time-travels under its ORIGINAL names
    // the MILLION-FILE planning path, oracle-gated at small scale:
    // with the prune threshold lowered, the relation plans through
    // GraftPrunedFileIndex (live set streamed from the checkpoint
    // sidecar, the DV-delete suffix folded on top) — results must be
    // byte-identical to the eager path's
    "q_table_pruned_scan" -> ((s, dir) => {
      val p = txlogPrunedTable(s, dir)
      s.conf.set("spark.graft.plan.pruneFileThreshold", "4")
      try s.read.format("graft-table").load(p)
        .select("doc_id", "lang", "n_chars")
      finally s.conf.unset("spark.graft.plan.pruneFileThreshold")
    }),
    "q_table_sql_colmap" -> ((s, dir) => {
      val p = txlogSqlColmapTable(s, dir)
      s.sql(s"SELECT doc_id, body_chars, lang, 'head' AS snap " +
        s"FROM graft_table.`$p` " +
        "UNION ALL " +
        "SELECT doc_id, n_chars AS body_chars, lang, 'v0' AS snap " +
        s"FROM graft_table.`$p` VERSION AS OF 0")
    }),
    // SQL ALTER COLUMN TYPE widening (int -> long, one data-free
    // metadata commit): the head reads int32 and int64 files side by
    // side (per-file upcast inside the scan), v0 time-travels under
    // its own INT schema
    "q_table_sql_colwiden" -> ((s, dir) => {
      val p = txlogWidenTable(s, dir)
      s.sql(s"SELECT doc_id, lang, nc, 'head' AS snap " +
        s"FROM graft_table.`$p` " +
        "UNION ALL " +
        "SELECT doc_id, lang, CAST(nc AS BIGINT) AS nc, 'v0' AS snap " +
        s"FROM graft_table.`$p` VERSION AS OF 0")
    }),
    // the retention-CLAMPED (non-forced) vacuum: reclamation asked to
    // truncate the tip, the 7-day window clamped it to v0 — the head
    // reads the dv delete, and the v0 the clamp protected still
    // time-travels
    // HIDDEN partition transforms (Iceberg-style): the table is laid
    // out by days(ts) + bucket(8, user_id), the query filters on the
    // SOURCE columns only — a ts window aggregation plus a user point
    // probe, both pruned through the rewritten hidden partition
    // predicates (spec asserts the file bounds); SQL INSERT supplied
    // half the rows through the layout-re-deriving catalog path
    "q_table_hidden_partition" -> ((s, dir) => {
      val p = txlogHiddenPartTable(s, dir)
      s.sql("SELECT event_type, COUNT(*) AS n, " +
        "CAST(SUM(user_id) AS BIGINT) AS su " +
        s"FROM graft_table.`$p` " +
        "WHERE ts >= TIMESTAMP'2024-01-10 00:00:00' " +
        "AND ts < TIMESTAMP'2024-01-15 00:00:00' " +
        "GROUP BY event_type " +
        "UNION ALL " +
        "SELECT 'user42' AS event_type, COUNT(*) AS n, " +
        "CAST(SUM(event_id) AS BIGINT) AS su " +
        s"FROM graft_table.`$p` WHERE user_id = 42")
    }),
    "q_table_purge_clamped" -> ((s, dir) => {
      val p = txlogVacClampTable(s, dir)
      s.sql(s"SELECT doc_id, lang, n_chars, 'head' AS snap " +
        s"FROM graft_table.`$p` " +
        "UNION ALL " +
        "SELECT doc_id, lang, n_chars, 'v0' AS snap " +
        s"FROM graft_table.`$p` VERSION AS OF 0")
    }),
    // merge-on-read delete confined to ONE of four range files: the
    // connector read splits at plan time — three files columnar, the
    // masked one row-filtered — and must read exactly the survivors
    "q_table_dv_split" -> ((s, dir) =>
      s.read.format("graft-table").load(txlogDvSplitTable(s, dir))
        .select("doc_id", "lang", "n_chars")),
    // SQL UPDATE of ONE partition of a partitioned table: the
    // merge-on-read insert images re-stage partition-pure with their
    // values re-recorded in the log, so partition pruning stays exact
    // across the mutation (spec asserts the pruning bound)
    "q_table_sql_update_part" -> ((s, dir) => {
      val p = txlogSqlUpdPartTable(s, dir)
      s.sql(s"SELECT doc_id, lang, n_chars FROM graft_table.`$p`")
    }),
    // SQL DELETE FROM through the catalog: one copy-on-write commit,
    // hit files discovered through the connector's own stats-pruned
    // scan (only the fr-overlapping range files rewrote — spec), the
    // deleted fr rows still time-travel readable from SQL
    "q_table_sql_delete" -> ((s, dir) => {
      val p = txlogSqlDelTable(s, dir)
      s.sql(s"SELECT doc_id, lang, n_chars, 'head' AS snap " +
        s"FROM graft_table.`$p` " +
        "UNION ALL " +
        "SELECT doc_id, lang, n_chars, 'v0' AS snap " +
        s"FROM graft_table.`$p` VERSION AS OF 0 WHERE lang = 'fr'")
    }),
    // shallow clone + MERGE on the branch: the clone reads the
    // source's masked files zero-copy, the merge's rewrites land under
    // the clone's own root (the source stays byte-identical — spec),
    // and dv-deleted keys in the update residue re-enter as appends
    "q_table_clone" -> ((s, dir) =>
      graft.ops.TxLog.snapshot(s, txlogCloneTable(s, dir))
        .select("doc_id", "lang", "n_chars")),
    // deletion-vector maintenance: the heavily masked file rewrote
    // without its masked rows (threshold policy), the lightly-touched
    // file never moved — the purged head must read exactly what the
    // mask read
    "q_table_purge" -> ((s, dir) =>
      graft.ops.TxLog.snapshot(s, txlogPurgeTable(s, dir))
        .select("doc_id", "lang", "n_chars")),
    // RESTORE TABLE TO VERSION as a commit: a copy-on-write delete and
    // a compaction are UNDONE by pure metadata (the immutable files
    // come back, the target's deletion-vector mask is republished) —
    // the at-scale answer to "a bad job deleted the wrong rows in a
    // 100 TB table". The head must equal the dv version exactly
    "q_table_restore" -> ((s, dir) => {
      val (p, _) = txlogRestoreTable(s, dir)
      graft.ops.TxLog.snapshot(s, p)
        .select("doc_id", "lang", "n_chars")
    }),
    // CDC across the restore interval: exactly the rows the undone
    // copy-on-write delete had removed come back as inserts — computed
    // from the log's file-and-mask algebra, never a table rescan
    "q_table_restore_cdc" -> ((s, dir) => {
      val (p, rv) = txlogRestoreTable(s, dir)
      graft.ops.TxLog.changesBetween(s, p, rv - 1, rv)
        .select("doc_id", "lang", "n_chars", "change")
    }),
    // MERGE INTO + OPTIMIZE as commits: updates replace same-key rows,
    // new keys append, and the Z-order rewrite that follows must not
    // move a value — one snapshot read pins all three commits
    "q_txlog_merge" -> ((s, dir) =>
      graft.ops.TxLog.snapshot(s, txlogMergeTable(s, dir))
        .select("doc_id", "lang", "n_chars")),
    // the Delta CDF contract over the merge interval: the commit
    // recorded its key column, so the removed-and-re-added residue-3
    // keys pair into update_preimage/update_postimage rows (old lang /
    // 'xx'), while the genuinely new +1000000 keys stay inserts — the
    // oracle computes the pre/post pairs from first principles
    "q_table_merge_cdc" -> ((s, dir) =>
      graft.ops.TxLog.changesBetweenCdc(s, txlogMergeTable(s, dir), 0L, 1L)
        .select("doc_id", "lang", "n_chars", "change_type")),
    // log-based CDC from v0 (the 80% base append) to head: the second
    // append surfaces as inserts, the copy-on-write delete as exactly
    // its three deleted rows, and the compaction commit cancels out of
    // the net file algebra entirely — all computed from the files the
    // log says changed, never a table rescan
    "q_table_changes" -> ((s, dir) => {
      val p = txlogTable(s, dir)
      graft.ops.TxLog.changesBetween(s, p, 0L,
          graft.ops.TxLog.resolve(p).version)
        .select("doc_id", "lang", "n_chars", "change")
    }),
    // the table consumed AS A STREAM (graft-table source, offsets =
    // commit versions): the at-rest feed a downstream pipeline
    // actually received — snapshot + two incremental appends, with a
    // compaction interval that must contribute NOTHING (exactly-once
    // is in the oracle hash)
    "q_table_stream_read" -> ((s, dir) => {
      val p = txlogStreamFeeds(s, dir)
      s.read.parquet(s"$p/feed_append").select("doc_id", "lang", "n_chars")
    }),
    // the cdc consumer's change feed over the same lifecycle, one
    // commit per micro-batch: every slice's inserts exactly once, the
    // copy-on-write delete as exactly its (present) keys, compaction
    // silent — log-based CDC through the streaming surface
    "q_table_cdc_feed" -> ((s, dir) => {
      val p = txlogStreamFeeds(s, dir)
      s.read.parquet(s"$p/feed_cdc")
        .select("doc_id", "lang", "n_chars", "change")
    }),
    // DESCRIBE HISTORY through the DataSource V2 connector: per-commit
    // op + file counts + footer-exact row stats, column-pruned (the
    // adds/removes path arrays are never materialized)
    "q_table_history" -> ((s, dir) =>
      s.read.format("graft-table-history").load(txlogHistoryTable(s, dir))
        .select("version", "op", "n_adds", "n_removes",
          "rows_added", "rows_removed")),
    // data skipping from the LOG's recorded per-file [min,max]: the
    // head of the history table is two Z-ordered files, and this
    // narrow doc_id slice opens only the low-range one — file pruning
    // decided before any listing or footer I/O (the spec asserts the
    // single input file; the oracle pins the row semantics)
    // data skipping from an ORDINARY user filter through the
    // graft-table connector: the narrow doc_id slice of the Z-ordered
    // head opens only the low-range file, pruned by the FileIndex from
    // the log's [min,max] before any listing or footer I/O — plus the
    // standard parquet PushedFilters inside the surviving file
    "q_table_skipping" -> ((s, dir) =>
      s.read.format("graft-table").load(txlogHistoryTable(s, dir))
        .filter(col("doc_id") >= 0L && col("doc_id") <= 100L)
        .select("doc_id", "lang", "n_chars")),
    // PageRank power iteration (3 rounds, d=0.85) over the undirected
    // customer-supplier trade graph; each round is one edge-join +
    // one aggregation with a checkpointed rank vector (flat plans) —
    // the link-authority primitive next to dedup's connected components
    "q_pagerank" -> ((s, dir) => {
      val edges = tradeEdges(s, dir)
      Graph.pageRank(edges, iterations = 3,
        prebuiltAdj = Some(tradeAdjacency(s, dir)))
        .select(col("node"), round(col("rank"), 8).as("rank"))
    }),
    // personalized PageRank: teleport mass concentrated on the
    // custkey%50 seed customers — proximity-to-seed ranking over the
    // same chunked-adjacency scaffold (node-sized rounds)
    "q_ppr" -> ((s, dir) => {
      val edges = tradeEdges(s, dir)
      val sources = t(s, dir, "orders").filter(col("o_custkey") % 50 === 0)
        .select(concat(lit("c"), col("o_custkey")).as("node")).distinct()
      Graph.personalizedPageRank(edges, sources, iterations = 3,
        prebuiltAdj = Some(tradeAdjacency(s, dir)))
        .select(col("node"), round(col("rank"), 8).as("rank"))
    }),
    // synchronous label propagation (2 rounds) over the same trade
    // graph — deterministic argmax (count desc, label asc), per-round
    // shuffles node-sized, hub argmax split across hash buckets
    "q_label_prop" -> ((s, dir) => {
      Graph.labelPropagation(tradeEdges(s, dir), iterations = 2,
        prebuiltAdj = Some(tradeAdjacency(s, dir)))
    }),
    // multi-source BFS over the trade graph: hop distance from the
    // custkey%50 seed customers, 3 frontier rounds — each round joins
    // the chunked adjacency with the FRONTIER only (node-sized
    // shuffles, checkpointed state, early exit on empty frontier)
    "q_bfs_dist" -> ((s, dir) => {
      val sources = t(s, dir, "orders").filter(col("o_custkey") % 50 === 0)
        .select(concat(lit("c"), col("o_custkey")).as("node")).distinct()
      Graph.bfsDistances(tradeEdges(s, dir), sources, maxDepth = 3,
        prebuiltAdj = Some(tradeAdjacency(s, dir)))
    }),
    // connected components over the STRONG trade graph (pairs that
    // traded >= 4 line items — 73 components at sf0.01, not one giant
    // blob); node encoding custkey*2 / suppkey*2+1 keeps ids disjoint
    // and integer so the min-label component id is oracle-expressible
    "q_connected_components" -> ((s, dir) =>
      Graph.connectedComponents(tradePairCounts(s, dir)
        .filter(col("n") >= 4).select("src", "dst"))),
    // per-node triangle count + local clustering coefficient of the
    // repeat-co-purchase graph (parts co-ordered in >= 2 baskets);
    // degree-ordered orientation bounds the wedge join at m^1.5
    "q_triangles" -> ((s, dir) => {
      // basketPairs is already distinct + checkpointed (session-shared):
      // skip the operator's internal (g, i) de-dup shuffle
      val co = Graph.bipartiteProject(basketPairs(s, dir),
        "g", "i", maxFanout = 1000, minShared = 2L, assumeDistinct = true)
      Graph.triangleCounts(
        co.select(col("item_a").as("src"), col("item_b").as("dst")))
    }),
    // k-core peeling (k=3, 3 bounded rounds) over the n>=3 strong trade
    // graph: per round one node-sized degree aggregate + two edge-sized
    // semi-joins, checkpointed state, early exit at the fixpoint;
    // oracle = 3 unrolled peel rounds
    "q_kcore" -> ((s, dir) =>
      Graph.kCore(tradePairCounts(s, dir)
        .filter(col("n") >= 3).select("src", "dst"), k = 3, maxRounds = 3)),
    // "bought together" top-100: part pairs by basket-neighborhood
    // Jaccard (int-derived IEEE division — reproducible unrounded, so
    // the top-k cut is deterministic without a rounding grid)
    "q_graph_related" -> ((s, dir) =>
      // basketPairs is already distinct + checkpointed (session-shared)
      Graph.relatedByNeighbors(basketPairs(s, dir),
        "g", "i", k = 100, minShared = 2L, assumeDistinct = true)),
    // running aggregate + lag. The synthetic lineitem has NO unique
    // (orderkey, linenumber) key (unlike real TPC-H), so the ORDER BY
    // lists enough columns for a total order — full rows are unique —
    // keeping the window deterministic; l_quantity is integer-valued so
    // the running double sum is exact at any partitioning
    "q_running_total" -> ((s, dir) => {
      val order = Window.partitionBy("l_suppkey")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax", "l_shipdate")
      val w = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem").select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        sum("l_quantity").over(w).as("running_qty"),
        lag("l_quantity", 1).over(order).as("prev_qty"))
    }),
    // SQL-layer subqueries: correlated EXISTS (Catalyst decorrelates to
    // a semi join) + an uncorrelated scalar subquery (broadcast 1-row).
    // count(*) per customer stays exact-integer throughout
    "q_subqueries" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_sq")
      t(s, dir, "orders").createOrReplaceTempView("orders_sq")
      s.sql("""
        SELECT c_custkey, c_name,
               (SELECT count(*) FROM orders_sq o
                WHERE o.o_custkey = c.c_custkey) AS n_orders
        FROM customer_sq c
        WHERE EXISTS (SELECT 1 FROM orders_sq o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')""")
    }),
    "q_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .orderBy(desc("price"), asc("o_orderkey"))
        .limit(100)),
    "q_window_topn" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val w = Window.partitionBy("l_suppkey")
        .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))
      l.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("l_suppkey"), col("rn"), col("l_orderkey"),
          round(col("l_extendedprice"), 2).as("price"))
    }),

    // ---- temporal / events ----
    "q_events_window" -> ((s, dir) =>
      StreamingOps.windowedCounts(t(s, dir, "events"))
        // NTZ at the output boundary: session is UTC, so wall time equals
        // the oracle's naive timestamps
        .select(col("window_start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n_events"),
          round(col("total_value"), 2).as("total_value"))),
    // strict-order funnel view -> click -> purchase: greedy earliest
    // match per step, one user-keyed aggregate per step; counts stay
    // distributed (union of 1-row aggregates)
    "q_funnel" -> ((s, dir) =>
      EventAnalytics.funnel(t(s, dir, "events"),
        Seq("view", "click", "purchase"))),
    // weekly cohort retention: cohort = Monday-truncated first-event
    // week; exact integer day math for the offset
    "q_retention" -> ((s, dir) =>
      EventAnalytics.retention(t(s, dir, "events"))),
    // first-order Markov transition matrix: per-user lead() window
    // (user-bounded partitions), then a |types|²-row normalize — the
    // conditional probability is an exact-integer IEEE division
    "q_event_transitions" -> ((s, dir) =>
      EventAnalytics.transitions(t(s, dir, "events"))),
    // interval islands: ship-to-delivery spans [shipdate,
    // shipdate + quantity days] merged per supplier into maximal
    // covered windows — one key-bounded window + one aggregate
    "q_interval_merge" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val iv = l.select(col("l_suppkey"),
        col("l_shipdate").cast("date").as("s"),
        date_add(col("l_shipdate").cast("date"),
          col("l_quantity").cast("int")).as("e"))
      graft.ops.TemporalJoins.mergeIntervals(iv, Seq("l_suppkey"), "s", "e")
    }),
    // incremental aggregate maintenance: the pre/post-cutoff halves are
    // aggregated separately and state-merged — output ≡ the one-pass
    // recompute (the oracle) because (count, sum) states merge exactly
    // over a disjoint row split (l_quantity is integer-valued)
    "q_agg_incremental" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      def state(df: DataFrame) = df.groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
      Maintenance.mergeCountSum(
        state(l.filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))),
        state(l.filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))),
        Seq("l_suppkey"), "n", "sum_qty")
    }),
    // incremental COUNT(DISTINCT) maintenance: per-priority KMV sketch
    // states built on the odd/even orderkey halves, merged, then read.
    // At this scale every group holds < k=4096 distinct hashes, so the
    // state IS the distinct set and the merged estimate EQUALS the
    // exact one-pass COUNT(DISTINCT) (the oracle); at 100 TB the same
    // state saturates into a (k-1)/θ sketch with ~1.6% error instead
    // of a corpus rescan
    "q_distinct_incremental" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      def state(df: DataFrame) =
        Maintenance.kmvState(df, Seq("o_orderpriority"), "o_custkey", k = 4096)
      val merged = Maintenance.mergeKmv(
        state(o.filter(col("o_orderkey") % 2 === 0)),
        state(o.filter(col("o_orderkey") % 2 === 1)),
        Seq("o_orderpriority"))
      Maintenance.kmvDistinct(merged, Seq("o_orderpriority"))
    }),
    "q_sessionize" -> ((s, dir) =>
      StreamingOps.sessionizeBatch(t(s, dir, "events"), 30L * 60 * 1000)
        .select(col("user_id"),
          col("session_start").cast("timestamp_ntz").as("session_start"),
          col("session_end").cast("timestamp_ntz").as("session_end"),
          col("n_events"), round(col("total_value"), 2).as("total_value"))),
    "q_sessionize_native" -> ((s, dir) =>
      StreamingOps.sessionizeNative(t(s, dir, "events"), "30 minutes")
        .select(col("user_id"),
          col("session_start").cast("timestamp_ntz").as("session_start"),
          col("session_end_gap").cast("timestamp_ntz").as("session_end_gap"),
          col("n_events"), round(col("total_value"), 2).as("total_value"))),
    "q_events_json" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count("*").as("n"))),

    // ---- dedup family ----
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"))),
    // bounded default posture: shingles in more than maxShingleFreq docs
    // are dropped from CANDIDATE GENERATION (the k^2-per-hot-shingle
    // guard); the bound sits far above this corpus's max shingle
    // frequency, so the result here is still exact (oracle-green) while
    // the 20x-duplicated stress corpus exercises the guard
    // (Scratch stress:jaccard). Pass Int.MaxValue to opt into exact mode.
    // same (n, minJ, maxShingleFreq) as the session pair cache — read
    // it instead of re-deriving the identical pair list
    "dedup_ngram_jaccard" -> ((s, dir) => cachedPairs(s, dir)),
    // ASYMMETRIC containment near-dup (doc-in-doc): quote/subset
    // contamination scores near-zero Jaccard but 1.0 containment. Ten
    // planted half-prefix docs (ids above max(doc_id) at any scale
    // factor) guarantee non-vacuous subset pairs; both directions are
    // exact integer divisions, so no rounding is needed
    "dedup_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "n_chars")
      val maxId = docs.agg(max("doc_id")).first().getAs[Number](0).longValue
      val planted = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + maxId + 1).as("doc_id"),
          expr("substring(text, 1, cast(floor(n_chars / 2) as int))").as("text"))
      // per-doc shingles union cleanly: the session corpus table plus
      // a fresh (tiny) planted-batch build — no second corpus pass
      Dedup.containmentFromShingles(
        cachedShingles(s, dir).unionByName(
          Dedup.shingles(planted, 3).localCheckpoint(true)),
        minC = 0.5)
    }),
    // LSH banding proposes candidates, exact Jaccard decides: the output
    // is the exact pair list at minJ (oracle = the DuckDB pair list), the
    // cost profile is the banded candidate shuffle. Identical shingle
    // sets collapse to one representative first (recall 1 for duplicate
    // mass by construction); candidate generation is then bounded two
    // ways: buckets holding > 16 distinct sets are dropped, and a pair
    // must agree on >= 2 of the 32 1-row bands. Recall: P(miss at
    // jaccard j) <= P(Binomial(32, j) < 2) = 0.71% at the j=0.2 cliff —
    // and this corpus sits nowhere near it (every true pair has j >= 0.8
    // and >= 26 agreeing bands; the sweep in Scratch minhash-bucketstats
    // misses 0/256 at sf0.1, 0/25 at sf0.01; the oracle row asserts
    // exactness end-to-end).
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minHashLshVerified(t(s, dir, "documents"), n = 3, numHashes = 32,
        bands = 32, minJ = 0.2, maxBucket = 16, minBands = 2)),
    // the incremental lifecycle of the same dedup, served from the
    // at-rest index ([[minhashDiskIndex]]): base built from 80% of the
    // corpus, the 20% batch routed against the stored digest dict +
    // bucket index and physically appended (gen=1 files), the pair
    // list expanded from the updated membership/reppairs artifacts —
    // same oracle as dedup_minhash, so append ≡ rebuild is
    // oracle-gated every round, not just spec'd
    "dedup_minhash_incremental" -> ((s, dir) =>
      Dedup.minhashServePairs(s, minhashDiskIndex(s, dir))),
    // maxHamming 3 = the recall bound of the 4x16-bit-chunk candidate
    // generation (pigeonhole); above 3 the output would silently
    // under-approximate
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simHashPairs(t(s, dir, "documents"), n = 2, maxHamming = 3)),
    // banded hyperplane LSH candidates + exact cosine verification: the
    // output is the exact pair list at minCos (same oracle SQL as the
    // exact variant), the candidate generation stays a bounded bucket
    // join. Table/plane counts sized so the miss probability of a true
    // pair at cosine 0.4 is < 0.1% (asserted exact by the oracle row).
    "dedup_embedding" -> ((s, dir) =>
      cachedEmbPairs(s, dir)
        .select(col("vec_a"), col("vec_b"), round(col("cosine"), 4).as("cosine"))),
    // the PRODUCTION-threshold variant: at minCos=0.9 eight planes per
    // table prune where three can't — measured at sf0.1 (2000 vectors,
    // 1,999,000 pairs): 272,212 candidates (13.6%) vs 1,957,513 (98%)
    // for the 3-plane config, which at a 0.4 threshold on near-random
    // vectors is intrinsic (a random pair hits one 3-plane table with
    // p=1/8, so 32 tables catch 98.6% of ALL pairs — low thresholds
    // simply do not prune; see NOTES). 32 tables hold the strict
    // entry's recall bound at 1-(1-(1-acos(0.9)/pi)^8)^32 = 99.998%.
    // This corpus's embeddings are near-random (max pairwise cosine
    // 0.60), so on the raw table the >= 0.9 result is legitimately
    // empty — which made the oracle row vacuous (VERDICT r5). The query
    // therefore PLANTS near-dups derived inside the query itself: every
    // vec_id % 100 == 3 vector gets a twin (id + 100000) with the FIRST
    // component negated — sign flip is exact in float, so both engines
    // see bit-identical inputs, and cos(orig, twin) = 1 - 2·e0²/‖e‖²
    // lands in [0.92, 0.997] on this corpus (≥ 0.9 with margin, checked
    // against the brute-force DuckDB oracle). Twin-twin and twin-other
    // cosines mirror the original near-random pairs (< 0.9), so the
    // exact answer is exactly the five planted pairs — the oracle row
    // now asserts a NON-EMPTY pair set at the production threshold; the
    // clustered-vector spec (RoundEightSpec) still pins the capability
    // on a denser geometry.
    "dedup_embedding_strict" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      // twin ids live ABOVE the real id range at every scale factor:
      // the offset is derived from max(vec_id), not a hard-coded bound
      // that a bigger corpus would collide with (the oracle derives
      // the identical offset with a scalar subquery)
      val off = e.agg(max("vec_id")).first().getAs[Number](0).longValue + 1L
      val planted = e.filter(col("vec_id") % 100 === 3)
        .select((col("vec_id") + off).as("vec_id"),
          concat(array(negate(element_at(col("embedding"), 1))),
            slice(col("embedding"), lit(2), size(col("embedding")) - 1))
            .as("embedding"))
      Dedup.embeddingNearDupBanded(e.unionByName(planted), minCos = 0.9,
        planesPerTable = 8, tables = 32)
        .select(col("vec_a"), col("vec_b"), round(col("cosine"), 4).as("cosine"))
    }),
    "dedup_embedding_exact" -> ((s, dir) =>
      Dedup.embeddingNearDupExact(t(s, dir, "embeddings"), minCos = 0.4)
        .select(col("vec_a"), col("vec_b"), round(col("cosine"), 4).as("cosine"))),
    // connected components over the exact near-dup pair list: the dedup
    // endgame (keep doc_id == cluster_id). Large-star/small-star, O(log
    // n) relational rounds, no adjacency list ever materialized.
    "dedup_clusters" -> ((s, dir) => cachedClusters(s, dir)),
    // SemDeDup-style semantic dedup endgame: connected components over
    // the EXACT embedding near-dup pair list (banded hyperplane-LSH
    // candidates, exact cosine verify), one representative per cluster
    // (latest vec_id wins — the deterministic "keep newest" policy)
    "dedup_embedding_semantic" -> ((s, dir) =>
      Dedup.clusters(cachedEmbPairs(s, dir), "vec_a", "vec_b")
        .groupBy("cluster_id")
        .agg(max("doc_id").as("keeper_id"), count(lit(1)).as("n_members"))),
    // the TRUE SemDeDup shape (cluster-partitioned pair search): the
    // oracle-exact k-means partitions the corpus (k=8, 1 round) and
    // near-dups are searched WITHIN clusters only — the pair join is
    // bounded by sum(|cluster|^2), never n^2, and at 100 TB each
    // cluster partition dedups independently. The oracle replays
    // training AND pruning end-to-end (shared unrolled-Lloyd CTE).
    // Complements dedup_embedding_semantic (LSH-banded candidates +
    // CC): LSH bounds by bucket caps, SemDeDup by the trained
    // partition (cross-cluster misses = the documented recall cost).
    "dedup_semdedup" -> ((s, dir) =>
      Similarity.semDedup(t(s, dir, "embeddings"), k = 8, rounds = 1,
        minCos = 0.4)),
    // the dedup endgame as one query: cluster the near-dup pairs, then
    // keep the best member per cluster (longest text, doc_id tiebreak)
    "dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cl = cachedClusters(s, dir)
      val w = Window.partitionBy("cluster_id")
        .orderBy(desc("n_chars"), asc("doc_id"))
      cl.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rn", row_number().over(w))
        .groupBy("cluster_id")
        .agg(max(when(col("rn") === 1, col("doc_id"))).as("keeper_id"),
          count("*").as("n_members"))
    }),

    // ---- temporal joins ----
    // as-of join (latest view before each purchase, per user): ONE
    // union+window shuffle on user_id — no range probe, no cross join
    "q_asof_join" -> ((s, dir) => {
      val e = graft.sources.Tables.events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val views = e.filter(col("event_type") === "view")
        .select("user_id", "ts", "event_id", "value")
      graft.ops.TemporalJoins.asOfJoin(purchases, views,
          keys = Seq("user_id"), tsCol = "ts",
          rightPayload = Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("asof_ts").cast("timestamp_ntz").as("asof_ts"),
          col("asof_event_id"), col("asof_value"))
    }),
    // forward as-of (first purchase at-or-after each signup, per user):
    // same single window pass, descending order
    "q_asof_forward" -> ((s, dir) => {
      val e = graft.sources.Tables.events(s, dir)
      val signups = e.filter(col("event_type") === "signup")
        .select("event_id", "user_id", "ts", "value")
      val purchases = e.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      graft.ops.TemporalJoins.asOfJoin(signups, purchases,
          keys = Seq("user_id"), tsCol = "ts",
          rightPayload = Seq("event_id", "value"), direction = "forward")
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("asof_ts").cast("timestamp_ntz").as("asof_ts"),
          col("asof_event_id"), col("asof_value"))
    }),
    // nearest as-of (closest view in EITHER direction per purchase,
    // ties backward): still one shuffle+sort — both candidates come
    // from two frames over the same ascending window order
    "q_asof_nearest" -> ((s, dir) => {
      val e = graft.sources.Tables.events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val views = e.filter(col("event_type") === "view")
        .select("user_id", "ts", "event_id", "value")
      graft.ops.TemporalJoins.asOfJoin(purchases, views,
          keys = Seq("user_id"), tsCol = "ts",
          rightPayload = Seq("event_id", "value"), direction = "nearest")
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("asof_ts").cast("timestamp_ntz").as("asof_ts"),
          col("asof_event_id"), col("asof_value"))
    }),
    // range join (pairs of same-user events within 6 hours): bucket-bin
    // equi-join + exact predicate, never a per-user cross product
    "q_range_join" -> ((s, dir) => {
      val e = graft.sources.Tables.events(s, dir)
        .select("user_id", "event_id", "ts")
      graft.ops.TemporalJoins.rangeJoin(e, e, keys = Seq("user_id"),
          tsCol = "ts", maxGapUs = 6L * 3600 * 1000000)
        .select(col("user_id"), col("event_id_a"), col("event_id_b"),
          col("gap_us"))
    }),

    // ---- similarity search ----
    // int8-quantized scan (4x less memory bandwidth — the 100 TB ANN
    // bottleneck) ranks candidates, exact re-rank of the top 50 returns
    // the true-metric top-10; equals brute force on this corpus
    // (Scratch quanttopk sweep), so it shares brute force's oracle
    "sim_quantized_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qVec = e.filter(col("vec_id") === 0).select("embedding")
        .first().getSeq[Float](0).map(_.toDouble)
      Similarity.quantizedTopK(e.filter(col("vec_id") =!= 0), qVec, 10,
          rerank = 50)
        .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
    }),
    // product-quantization ANN probing the PERSISTED (vec_id,
    // embedding, codes) table: the ADC cut's scan column-prunes to the
    // 16-byte codes (16x scan-width vs the float vectors — the 100 TB
    // win), exact re-rank of the top 300 returns the true top-10.
    // rerank sits at 1.5x the measured exactness threshold on the
    // worst corpus (sf0.1 needs 200; near-random vectors are the hard
    // case for coarse quantizers — same intrinsic ceiling as
    // IVF/low-threshold LSH here), so it shares brute force's oracle
    "sim_pq_topk" -> ((s, dir) => {
      val pq = pqIndex(s, dir)
      AnnIndex.pqTopK(s, pq, queryVec(s, dir), 10, rerank = 300)
        .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
    }),
    "sim_topk_brute" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // limit(1): vec_id is unique so this is a no-op on the data, but
      // it puts a PROVABLE 1-row bound on the broadcast side — the
      // plan audit verifies the bound instead of trusting the filter
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb")).limit(1)
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(Similarity.cosineCol(col("embedding"), col("q_emb")), 4).as("cosine"))
        .orderBy(desc("cosine"), asc("vec_id"))
        .limit(10)
    }),
    // the SQL extension surface end-to-end: GraftExtensions' native
    // Catalyst expressions (graft_cosine / graft_dot) driven through
    // spark.sql over a temp view — the exact path a SQL-only user
    // takes (install() registers on the live session; builder-time
    // withExtensions is spec-covered). Brute-force top-10 semantics,
    // so the oracle is the same SQL DuckDB runs natively; the added
    // norm column pushes graft_dot through the same plan
    "q_sql_native" -> ((s, dir) => {
      GraftExtensions.install(s)
      t(s, dir, "embeddings").createOrReplaceTempView("graft_emb")
      s.sql(
        """SELECT e.vec_id,
          |       round(graft_cosine(e.embedding, q.embedding), 4) AS cosine,
          |       round(sqrt(graft_dot(e.embedding, e.embedding)), 4) AS norm
          |FROM graft_emb e,
          |     (SELECT embedding FROM graft_emb WHERE vec_id = 0 LIMIT 1) q
          |WHERE e.vec_id <> 0
          |ORDER BY cosine DESC, e.vec_id ASC LIMIT 10""".stripMargin)
    }),
    // probes against the PERSISTED signature table (no per-query
    // signature recompute); the bit-diff radius is sized so the pruned
    // candidate set provably contains the true top-10 on this corpus —
    // the oracle row asserts exact agreement with brute force
    "sim_lsh_topk" -> ((s, dir) => {
      val lshPath = lshIndex(s, dir)
      AnnIndex.lshTopK(s, lshPath, queryVec(s, dir), 10,
        planes = AnnPlanes, maxBitDiff = 8)
        .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
    }),
    // probes the persisted cluster-partitioned IVF layout: the scan
    // reads only nProbe cluster directories (PartitionFilters —
    // asserted in RoundTwoSpec and on this entry's own plan in
    // RoundTwentyOneSpec); the oracle REPLAYS train + probe as an
    // unrolled exact-Lloyd CTE (unpinned in r8), so recall gaps vs
    // brute force no longer force a pinned result
    "sim_ivf_topk" -> ((s, dir) => {
      val ivf = ivfIndex(s, dir)
      AnnIndex.ivfTopK(s, ivf, queryVec(s, dir), 10, nProbe = 6)
        .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
    }),
    // IVF/index MAINTENANCE: a NEW vector batch routes against the
    // already-trained centroids (no retrain, no old-corpus re-read) —
    // the assignment a 100 TB layout appends as new cluster-partition
    // files. Train on the 80% base (exact Lloyd, k=8, 1 round),
    // classify the 20% batch by broadcast nearest-centroid argmax;
    // the oracle replays training AND the out-of-fold assignment.
    "sim_ivf_incremental" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val base = e.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val batch = e.filter(pmod(col("vec_id"), lit(5)) === 0)
      val (_, cents) = Similarity.kMeansExactModel(base, k = 8, rounds = 1)
      import s.implicits._
      val centsDf = cents.toSeq.map { case (cid, v) => (cid, v.toSeq) }
        .toDF("cluster", "centroid")
      Similarity.assignToCentroids(batch, centsDf)
    }),
    // the lifecycle COMPLETED physically: probe the layout AFTER the
    // batch was appended as new cluster-partition files — base ∪ delta
    // served by one pruned scan (PartitionFilters asserted on this
    // entry's plan in RoundTwentyThreeSpec), no retrain anywhere. The
    // oracle replays base training (unrolled Lloyd), the batch's
    // out-of-fold 4-dp argmax, AND the probe over their union
    "sim_ivf_appended_probe" -> ((s, dir) =>
      AnnIndex.ivfTopK(s, ivfAppendedIndex(s, dir), queryVec(s, dir),
          10, nProbe = 4)
        .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))),
    // nearest-centroid assignment (k-means E step): 8 fixed centroids
    // broadcast, per-vector argmax over exactly k rounded cosines
    "sim_cluster_assign" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // limit(8) is a no-op (vec_id unique) that makes the broadcast
      // side's model-sized bound provable at plan time
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cluster"), col("embedding").as("centroid"))
        .limit(8)
      Similarity.assignToCentroids(e, cents)
    }),
    "sim_knn_label" -> ((s, dir) =>
      Similarity.knnWithinLabel(t(s, dir, "embeddings"), 3)
        .select(col("vec_a"), col("vec_b"), round(col("cosine"), 4).as("cosine"))),
    // BATCH ANN over the persisted PQ codes: top-10 per query for a
    // query TABLE in one distributed plan (broadcast partial-dot join
    // + per-query rank windows — no per-query driver constants, no
    // per-query jobs); exact re-rank per query, brute-force oracle
    "sim_pq_batch" -> ((s, dir) => {
      val pq = pqIndex(s, dir)
      val at = s.read.parquet(pq.path)
      val queries = t(s, dir, "embeddings")
        .filter(col("vec_id") <= 2)
        .select(col("vec_id").as("q_id"), col("embedding"))
      Similarity.pqBatchTopK(at.select("vec_id", "codes"),
          at.select("vec_id", "embedding"), queries, pq.codebooks,
          topK = 10, rerank = 300)
        .select(col("q_id"), col("vec_id"), col("rank"),
          round(col("cosine"), 4).as("cosine"))
    }),

    // ---- text analysis ----
    "text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents"))),
    "text_token_counts" -> ((s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents"))),
    "text_lang_id" -> ((s, dir) =>
      TextAnalysis.languageId(t(s, dir, "documents"))),
    "text_digest" -> ((s, dir) =>
      TextAnalysis.contentDigest(t(s, dir, "documents"))),
    // PII redaction over text with deterministic synthetic PII appended
    // (the corpus itself has none): the scrub itself is the operator
    // under test, the append just gives it something to find
    "text_scrub_pii" -> ((s, dir) =>
      TextAnalysis.scrubPii(
          t(s, dir, "documents").withColumn("text",
            concat(col("text"), lit(" Contact user"),
              col("doc_id").cast("string"),
              lit("@example.com or 10.0."),
              pmod(col("doc_id"), lit(256)).cast("string"),
              lit(".7 or +1 555 01"),
              pmod(col("doc_id"), lit(100)).cast("string"),
              lit(" now"))))
        .select("doc_id", "clean_text")),
    // sliding-window chunking (40-token windows, 8-token overlap) —
    // the LLM-training prep op; one row per chunk, no shuffle
    "text_chunks" -> ((s, dir) =>
      TextAnalysis.chunk(t(s, dir, "documents"), maxTokens = 40, overlap = 8)
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("chunk_text"), col("n_tokens").cast("long").as("n_tokens"))),
    // reproducible 25% sample keyed on doc_id: membership is a pure
    // function of the key (portable md5 threshold), never of
    // partitioning or corpus size
    // exact systematic PPS sample: 100 equally-spaced picks over the
    // cumulative token-count line in doc_id order — pure integer
    // arithmetic (no transcendental random keys), bit-reproducible on
    // any engine, sum(n_picks) = 100 exactly
    "text_pps_sample" -> ((s, dir) => {
      val weighted = t(s, dir, "documents").select(col("doc_id"),
        size(filter(split(col("text"), " ", -1), w => w =!= ""))
          .cast("long").as("n_tokens"))
      ScalableRank.ppsSample(weighted, "n_tokens", k = 100, keyCol = "doc_id")
    }),
    // Efraimidis-Spirakis weighted sampling without replacement:
    // top-100 by ln(u)/w key (u deterministic from md5, ln rounded
    // to 8dp BEFORE the weight division for cross-engine ranks);
    // plans as TakeOrdered, never a global sort
    "text_weighted_sample" -> ((s, dir) =>
      TextAnalysis.weightedSample(t(s, dir, "documents"),
          "doc_id", "n_chars", k = 100, salt = "es1")
        .select("doc_id", "n_chars", "es_key")),
    "text_hash_sample" -> ((s, dir) =>
      TextAnalysis.hashSample(t(s, dir, "documents"), "doc_id", rate = 0.25)
        .select("doc_id", "lang", "source")),
    // rebalancing sample: downsample the dominant strata, keep rare
    // ones whole — same portable membership rule, per-stratum threshold
    "text_stratified_sample" -> ((s, dir) =>
      TextAnalysis.stratifiedHashSample(t(s, dir, "documents"),
          "doc_id", "lang", rates = Map("en" -> 0.1, "de" -> 0.5),
          defaultRate = 1.0)
        .select("doc_id", "lang", "source")),
    // per-domain cap (C4-style): keep at most 40 docs per language in
    // reproducible hash order, with per-key ranks — the hub-safe
    // two-window top-k (bucket thin, then rank ≤ k·buckets survivors),
    // never a full sort of a hot domain's partition
    "text_domain_cap" -> ((s, dir) =>
      ScalableRank.perKeyTopK(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          md5(concat(col("doc_id").cast("string"), lit(":17"))).as("__h")),
        Seq("lang"), Seq(col("__h").asc), "doc_id", k = 40)
        .select(col("lang"), col("doc_id"), col("rank"))),
    // sequence packing: where each doc lands in the ctx-window stream.
    // bucketSize 64 forces many buckets at sf0.01 so the two-level
    // prefix sum is exercised against the single-window oracle
    "text_pack_sequences" -> ((s, dir) =>
      TextAnalysis.packSequences(t(s, dir, "documents"),
        ctxLen = 512, bucketSize = 64)),
    // exact-count mixture: take exactly N docs per source in
    // reproducible hash order; sources outside the recipe are dropped
    "text_mixture_sample" -> ((s, dir) =>
      TextAnalysis.mixtureTake(t(s, dir, "documents"), "source", MixTargets)
        .select("doc_id", "lang", "source")),
    // the packed-batch work order: which docs fill each ctx window,
    // with per-doc token occupancy
    "text_pack_manifest" -> ((s, dir) =>
      TextAnalysis.packManifest(t(s, dir, "documents"),
        ctxLen = 512, bucketSize = 64)),
    // the materialized training stream: each ctx window's text
    // assembled from its docs' fragments in stream order
    "text_pack_emit" -> ((s, dir) =>
      TextAnalysis.packEmit(t(s, dir, "documents"),
        ctxLen = 512, bucketSize = 64)),
    // disjoint+complete train/val/test assignment from md5 ranges:
    // stable under corpus growth, reproducible across engines
    "text_split_assign" -> ((s, dir) =>
      TextAnalysis.splitAssign(t(s, dir, "documents"), SplitSpec)
        .select("doc_id", "split")),
    // the prep pipeline composed end-to-end in ONE lazy DAG: normalize
    // -> quality gate -> exact-dedup keeper -> reproducible 50% sample.
    // Catalyst fuses the scan/projection chain; the only shuffles are
    // the dedup groupBy and its join
    "text_filter_pipeline" -> ((s, dir) => {
      val d = TextAnalysis.normalizeText(t(s, dir, "documents"))
        .select(col("doc_id"), col("norm_text").as("text"))
      val q = TextAnalysis.qualityScore(d).filter(col("quality") >= 0.6)
      val keepers = Dedup.exact(d).select(col("keeper_id").as("doc_id"))
      TextAnalysis.hashSample(q.join(keepers, "doc_id"), "doc_id", rate = 0.5)
        .select("doc_id", "n_tokens", "quality")
    }),
    "corpus_token_stats" -> ((s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents"))
        .join(t(s, dir, "documents").select("doc_id", "lang", "source"), "doc_id")
        .groupBy("lang", "source")
        .agg(count("*").as("n_docs"),
          sum("ws_tokens").as("total_ws_tokens"),
          sum("bpe_tokens").as("total_bpe_tokens"))),
    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprints(t(s, dir, "documents"))),
    // Gopher-style repetition metrics: top token / top bigram /
    // duplicate-trigram fractions per document, all exact count ratios
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(t(s, dir, "documents"))),
    // corpus-level exact line dedup (boilerplate removal). The corpus
    // is single-line word soup, so the entry synthesizes line structure
    // first — one line per 10 whitespace tokens (the dedup itself is
    // the operator under test; the split just gives it lines, same
    // pattern as text_scrub_pii's synthetic PII)
    "dedup_lines" -> ((s, dir) =>
      TextAnalysis.dedupLines(
        TextAnalysis.synthesizeLines(t(s, dir, "documents"), 10))),
    // benchmark decontamination: flag docs sharing a 5-gram with the
    // held-out "benchmark" subset (doc_id % 97 == 7) — broadcast join
    // of benchmark shingles against the corpus shingle scan
    "text_contamination" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.benchmarkContamination(
        d.filter(pmod(col("doc_id"), lit(97)) =!= 7),
        d.filter(pmod(col("doc_id"), lit(97)) === 7), n = 5)
    }),
    // FUZZY decontamination: near-dup Jaccard between the corpus and the
    // held-out split — catches paraphrased leakage the exact-shingle
    // check above misses; held-out shingles broadcast, the corpus is
    // never shuffled on shingle keys
    "text_fuzzy_contamination" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // shingles are per-doc, so the session shingle table filters to
      // the corpus split instead of re-tokenizing it
      Dedup.crossJaccardFromShingles(
        cachedShingles(s, dir).filter(pmod(col("doc_id"), lit(97)) =!= 7),
        d.filter(pmod(col("doc_id"), lit(97)) === 7), n = 3, minJ = 0.02)
    }),
    // quote-level decontamination: corpus docs CONTAINING a held-out
    // doc — a benchmark item pasted inside a long article scores ~0
    // Jaccard but containment ~1. Five corpus docs get held-out doc 7
    // appended, so the entry is non-vacuous at any scale factor;
    // containment = n_common / |held-out shingles| is an exact
    // integer division
    "text_containment_contamination" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val quoted = d.filter(col("doc_id") === 7)
        .select("text").first().getString(0)
      val corpus = d.filter(pmod(col("doc_id"), lit(97)) =!= 7)
        .select(col("doc_id"),
          when(col("doc_id") < 5, concat(col("text"), lit(" "), lit(quoted)))
            .otherwise(col("text")).as("text"))
      Dedup.crossContainment(corpus,
        d.filter(pmod(col("doc_id"), lit(97)) === 7), n = 3, minC = 0.6)
    }),
    // append-only exact dedup: docs < 250 are the at-rest corpus; the
    // arriving batch is the rest plus deterministic re-ingested copies
    // (+1000 = copies of corpus docs, +2000 = copies of batch docs) so
    // every status value actually occurs
    "dedup_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("doc_id") < 250)
      val batch = d.filter(col("doc_id") >= 250).select("doc_id", "text")
        .unionByName(d.filter(col("doc_id") < 30)
          .select((col("doc_id") + 1000).as("doc_id"), col("text")))
        .unionByName(d.filter(col("doc_id") >= 250 && col("doc_id") < 260)
          .select((col("doc_id") + 2000).as("doc_id"), col("text")))
      Dedup.incrementalExact(
        corpus.select(md5(col("text")).as("digest")), batch)
    }),
    // the same append-only classification with the at-rest probe join
    // Bloom-pruned: output-identical to dedup_incremental (same oracle
    // SQL), but only the Bloom-positive batch slice joins the at-rest
    // digest table — the per-batch cost a 100 TB corpus actually pays
    "dedup_incremental_bloom" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("doc_id") < 250)
        .select(md5(col("text")).as("digest"))
      val batch = d.filter(col("doc_id") >= 250).select("doc_id", "text")
        .unionByName(d.filter(col("doc_id") < 30)
          .select((col("doc_id") + 1000).as("doc_id"), col("text")))
        .unionByName(d.filter(col("doc_id") >= 250 && col("doc_id") < 260)
          .select((col("doc_id") + 2000).as("doc_id"), col("text")))
      val bloom = Dedup.digestBloom(corpus, expectedItems = 300)
      Dedup.incrementalExactBloom(corpus, bloom, batch)
    }),
    // exact duplicate-span removal: strip every 8-token span occurring
    // in >= 2 docs, rebuild the survivors (substring dedup)
    "text_span_dedup" -> ((s, dir) =>
      TextAnalysis.spanDedup(t(s, dir, "documents"), k = 8)),
    // canonical normalization: NFC (native Catalyst expression) +
    // control-char strip + whitespace collapse. The corpus is ASCII,
    // so denormalized unicode / controls / space runs are appended
    // deterministically to give the normalizer real work
    "text_normalize" -> ((s, dir) =>
      TextAnalysis.normalizeText(
        t(s, dir, "documents").withColumn("text",
          concat(col("text"),
            // decomposed e+combining-acute / A+combining-ring (NFC must
            // compose them), a C0 control char, a tab, a space run
            lit("  cafe\u0301 \u0001ctl\there A\u030A"))))
        .select("doc_id", "norm_text")),
    // BPE training statistics pass: adjacent char-pair counts weighted
    // by word frequency. The corpus-sized work is ONE word-count
    // aggregate; the pair explode runs on the vocabulary table
    "text_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(
        TextAnalysis.wordFrequencies(t(s, dir, "documents")))),
    // length-distribution report: fixed-width histogram over n_chars —
    // the standard pre-training corpus length audit. Exact integer bin
    // counts, one partial-aggregated pass
    "text_length_hist" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(floor(col("n_chars") / lit(256)).as("bucket"))
        .agg(count(lit(1)).as("n"), min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))),
    // sketch-accelerated EXACT top-k words: Misra-Gries candidates per
    // partition + exact count of candidates only — the giant
    // distinct-key shuffle never happens; completeness is runtime-
    // checked (kth count vs N/capacity) with a full-agg fallback
    "top_words_sketch" -> ((s, dir) =>
      graft.ops.HeavyHitters.topK(
        t(s, dir, "documents")
          .select(explode(split(col("text"), " ", -1)).as("w"))
          .filter(col("w") =!= "").select(lower(col("w")).as("word")),
        "word", k = 25, capacity = 1024)
        .select(col("key").as("word"), col("n"))),
    // incremental top-k maintenance: mergeable Misra-Gries states
    // built on the odd/even doc_id halves, merged, then read exactly —
    // history is never re-sketched (only the bounded-key exact
    // candidate count touches the full corpus), completing the
    // mergeable-state family (KMV = distinct, histogram = quantiles,
    // MG = top-k). The read is EXACT (candidates + verify + fallback),
    // so the oracle is the plain top-k
    "q_topk_incremental" -> ((s, dir) => {
      // the token stream is NOT materialized: like topK's raw key
      // stream, re-deriving the cheap explode per pass costs less than
      // caching a corpus-sized intermediate (measured ~equal at sf0.1,
      // and the 100 TB answer is categorical)
      val words = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(col("text"), " ", -1)).as("w"))
        .filter(col("w") =!= "")
        .select(col("doc_id"), lower(col("w")).as("word"))
      def state(half: DataFrame) =
        graft.ops.HeavyHitters.mgState(half, "word", capacity = 1024)
      val merged = graft.ops.HeavyHitters.mergeMg(
        state(words.filter(col("doc_id") % 2 === 0)),
        state(words.filter(col("doc_id") % 2 === 1)), capacity = 1024)
      graft.ops.HeavyHitters.topKFromState(merged, words, "word",
          k = 25, capacity = 1024)
        .select(col("key").as("word"), col("n"))
    }),
    // unigram-LM quality score (CCNet-style perplexity filter with a
    // unigram model): mean log10 token probability per doc. Rounded to
    // 6 decimals: the avg's summation order is partitioning-dependent
    // at ~1e-13 while the round grid is 1e-6
    "text_unigram_logprob" -> ((s, dir) =>
      TextAnalysis.unigramLogProb(t(s, dir, "documents"))
        .select(col("doc_id"), round(col("avg_logprob"), 6).as("avg_logprob"))),
    // bigram-LM quality score: mean conditional log-prob over in-doc
    // bigrams under the corpus MLE — the next rung above the unigram
    // score; round(6) since double-sum order is partitioning-dependent
    "text_bigram_logprob" -> ((s, dir) =>
      TextAnalysis.bigramLogProb(t(s, dir, "documents"))
        .select(col("doc_id"),
          round(col("avg_bigram_logprob"), 6).as("avg_bigram_logprob"))),
    // Stupid Backoff scoring under a HELD-OUT LM (the src0-src9 half,
    // selected by length(source) = 4): seen bigrams score the
    // conditional MLE, unseen ones back off to 0.4 · unigram, OOV
    // takes pseudo-count 0.5 — round(6) absorbs cross-engine log10
    // last-ulp differences (the bigram_logprob precedent)
    "text_stupid_backoff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.stupidBackoff(d, d.filter(length(col("source")) === 4))
        .select(col("doc_id"),
          round(col("avg_backoff_logprob"), 6).as("avg_backoff_logprob"),
          col("n_backoff"))
    }),
    // PMI collocation mining (multi-word-expression discovery): corpus
    // bigrams with freq >= 5 scored log10(p(ab)/(p(a)p(b))); per-row
    // arithmetic on exact counts, round(6) only to absorb cross-engine
    // log10 last-ulp differences
    "text_collocations" -> ((s, dir) =>
      TextAnalysis.collocations(t(s, dir, "documents"), minFreq = 5L)
        .select(col("bigram"), col("freq"), round(col("pmi"), 6).as("pmi"))),
    // hashing-trick linear classifier inference (fastText-shaped):
    // broadcast model-sized weight table, one per-doc mean aggregate;
    // the demo weights are a deterministic function of the feature id
    // so the oracle can rebuild the identical model
    "text_classifier_score" -> ((s, dir) =>
      TextAnalysis.classifierScore(t(s, dir, "documents"),
          TextAnalysis.hashedWeights(s, 4096), dim = 4096)
        .select(col("doc_id"), round(col("prob"), 6).as("prob"))),
    // distributed full-batch logistic-regression TRAINING (the learn
    // step whose inference twin is classifierScore): 3 GD rounds, one
    // corpus aggregation per round, model-sized driver state. Fast
    // sigmoid + floor-scaled integer gradients make every round
    // bit-exact cross-engine — the oracle replays the rounds unrolled
    // and the weight doubles compare with ==
    "text_train_logreg" -> ((s, dir) =>
      TextAnalysis.trainLogReg(t(s, dir, "documents"),
        when(col("lang") === "en", 1.0).otherwise(0.0))),
    // reliability-diagram calibration of the trained filter: centile
    // buckets of the 6-dp fast-sigmoid probability vs the empirical
    // positive rate — the table a production threshold is read off.
    // Empirical rates are exact integer divisions; the oracle shares
    // the unrolled-training CTE
    "text_classifier_calibration" -> ((s, dir) =>
      TextAnalysis.calibrationReport(t(s, dir, "documents"),
        when(col("lang") === "en", 1.0).otherwise(0.0),
        iterations = 6, lr = 5.0)),
    // DSIR importance log-weights: target = the English slice; one
    // conditional aggregation builds both unigram LMs, vocabulary-sized
    // model tables, per-doc sum of the smoothed log-likelihood ratio
    "text_dsir_weights" -> ((s, dir) =>
      TextAnalysis.dsirWeights(t(s, dir, "documents"),
          col("lang") === "en")
        .select(col("doc_id"),
          round(col("dsir_logweight"), 6).as("dsir_logweight"))),
    // full winnowing (MOSS) fingerprint selection: min-hash of each
    // w-window of word-k-gram hashes, rightmost-min tie rule — pure
    // map-side HOF algebra, portable md5-hex ordering
    "text_winnowing" -> ((s, dir) =>
      TextAnalysis.winnow(t(s, dir, "documents"), k = 4, w = 4)),
    // the MOSS detection step: partial-overlap candidate pairs sharing
    // >= 2 winnowing fingerprints, corpus-boilerplate fingerprints
    // capped out of the self-join (bounded candidate generation)
    "dedup_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowPairs(t(s, dir, "documents"),
        k = 4, w = 4, minShared = 2, maxFpFreq = 64)),
    // SymSpell fuzzy self-join: complete deletion-neighborhood
    // candidates + exact Levenshtein verify, so the output IS the
    // brute-force pair list (the oracle) while the cost is a banded
    // equi-join on deletion keys. failOnDrop: the DuckDB oracle IS the
    // brute force, so a fired hot-bucket cap must error loudly here,
    // never surface as an unexplained hash mismatch
    "q_fuzzy_join" -> ((s, dir) =>
      Dedup.fuzzyPairs(t(s, dir, "part"), "p_name", maxDist = 2,
        failOnDrop = true)),

    // incremental quantile maintenance: exact fixed-width bucket states
    // built INDEPENDENTLY on a 3/4 base and 1/4 delta split, merged
    // (bucket-sized shuffle), quantiles read from the merged state. The
    // oracle computes the same quantiles from the FULL table — passing
    // means merge(state(base), state(delta)) ≡ state(base ∪ delta),
    // the property percentile_approx's split-dependent partials lack
    "q_hist_quantile_incremental" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val base = Maintenance.histogramState(
        l.filter(col("l_orderkey") % 4 =!= 0), "l_extendedprice", 1000.0)
      val delta = Maintenance.histogramState(
        l.filter(col("l_orderkey") % 4 === 0), "l_extendedprice", 1000.0)
      Maintenance.histogramQuantiles(
        Maintenance.mergeHistograms(base, delta),
        Seq(0.25, 0.5, 0.75))
    }),
    // SCD-2 history maintenance: one change batch versioned into a
    // valid_from/valid_to history — changed keys close + re-insert,
    // value-identical changes are no-ops (idempotent replay), new keys
    // insert, closed history carries without shuffling. The oracle
    // enumerates the same four branches independently.
    "q_scd2" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val d = (x: String) => lit(java.sql.Date.valueOf(x))
      val history = c.select(col("c_custkey"), col("c_mktsegment"),
          col("c_nationkey"), d("2024-01-01").as("valid_from"),
          lit(null).cast("date").as("valid_to"))
        .unionByName(c.filter(col("c_custkey") % 20 === 7)
          .select(col("c_custkey"), lit("OLD").as("c_mktsegment"),
            col("c_nationkey"), d("2023-01-01").as("valid_from"),
            d("2024-01-01").as("valid_to")))
      val changes = c.filter(col("c_custkey") % 10 === 3)
        .select(col("c_custkey"), lit("UPDATED").as("c_mktsegment"),
          col("c_nationkey"), d("2024-06-01").as("ts"))
        .unionByName(c.filter(col("c_custkey") % 10 === 4)
          .select(col("c_custkey"), col("c_mktsegment"),
            col("c_nationkey"), d("2024-06-01").as("ts")))
        .unionByName(c.filter(col("c_custkey") % 50 === 0)
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            lit("NEW").as("c_mktsegment"), col("c_nationkey"),
            d("2024-06-01").as("ts")))
      // dates rendered as strings for the cross-engine compare (pandas
      // reads Spark DATE as objects but DuckDB DATE as datetime64);
      // failOnOutOfOrder: the ordering precondition is audited, not
      // assumed — an out-of-order batch fails loudly here
      Maintenance.scd2Apply(history, changes, Seq("c_custkey"),
        failOnOutOfOrder = true)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"),
          col("valid_from").cast("string").as("valid_from"),
          col("valid_to").cast("string").as("valid_to"))
    }),

    // ---- multimodal plumbing ----
    "media_stats" -> ((s, dir) =>
      Multimodal.mediaStats(Multimodal.syntheticMedia(t(s, dir, "documents")))
        .select(col("kind"), col("n_assets"), col("total_bytes"),
          round(col("avg_bytes"), 4).as("avg_bytes"))),
    "media_frames" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val media = Multimodal.syntheticMedia(t(s, dir, "documents"))
        .as[Multimodal.MediaRecord]
      Multimodal.sampleFrames(media, 30).groupBy("media_id")
        .agg(count("*").as("n_sampled"))
    }),
    "media_features" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val media = Multimodal.syntheticMedia(t(s, dir, "documents"))
        .as[Multimodal.MediaRecord]
      Multimodal.extractFeatures(media, 64, 64)
        .select(col("media_id"), col("kind"), col("byte_len"))
    }),
    // REAL container-level video indexing (closes the r5 video stub):
    // each video-kind row is serialized into a structurally valid
    // MJPEG-AVI (RIFF writer) with n_frames frames of deterministic
    // sizes 10 + (id+i) % 50, then AviContainer.frameIndex WALKS the
    // RIFF chunk tree (movi LIST, ##dc chunks, WORD padding) — no pixel
    // decode — and the oracle independently predicts per-media frame
    // count + total frame bytes. A wrong size field, missed pad byte,
    // or mis-nested LIST shifts every later offset and breaks the sums.
    "media_video_frames" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val mkAvi = udf { (id: Long, n: Int, w: Int, h: Int) =>
        val frames = (0 until n).map { i =>
          val len = 10 + ((id + i) % 50).toInt
          Array.tabulate[Byte](len)(j => ((id + i + j) & 0xff).toByte)
        }
        Multimodal.AviContainer.write(frames, w, h)
      }
      val media = Multimodal.syntheticMedia(t(s, dir, "documents"))
        .filter(col("kind") === "video")
        .withColumn("payload",
          mkAvi(col("media_id"), col("n_frames"), col("width"), col("height")))
        .as[Multimodal.MediaRecord]
      Multimodal.videoFrameIndex(media)
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"),
          sum("byte_len").as("total_frame_bytes"))
    }),
    // REAL per-frame PIXEL decode (closes the r6 "no JDK video codec"
    // stub for MJPEG): each video row becomes an MJPEG-AVI whose
    // SAMPLED frames (every 30th) are real JPEGs of deterministic dims
    // 16+(id+i)%16 x 16+(id+i)%12 (unsampled frames are junk bytes the
    // decoder must never touch), then videoFrameDecode walks the
    // container and ImageIO-decodes just the sampled byte ranges. The
    // oracle predicts the DECODED dimensions — a stub echoing metadata
    // or a decode of the wrong byte range cannot match.
    "media_video_decode" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val mkAvi = udf { (id: Long, n: Int, w: Int, h: Int) =>
        val frames = (0 until n).map { i =>
          if (i % 30 == 0)
            Multimodal.MediaCodec.syntheticJpegFrame(
              16 + ((id + i) % 16).toInt, 16 + ((id + i) % 12).toInt, id + i)
          else Array.tabulate[Byte](4)(j => ((id + i + j) & 0xff).toByte)
        }
        Multimodal.AviContainer.write(frames, w, h)
      }
      val media = Multimodal.syntheticMedia(t(s, dir, "documents"))
        .filter(col("kind") === "video")
        .withColumn("payload",
          mkAvi(col("media_id"), col("n_frames"), col("width"), col("height")))
        .as[Multimodal.MediaRecord]
      Multimodal.videoFrameDecode(media, 30)
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_decoded"),
          sum("width").as("sum_width"),
          sum("height").as("sum_height"))
    }),
    // resize stage end-to-end: synthetic payloads are not decodable
    // images, so the metadata-scaling stub path runs (the real ImageIO
    // path is pinned by RoundTwoSpec's PNG round-trip tests) — its
    // output dims/byte counts are pure arithmetic, hence oracle-checkable
    "media_resize" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val media = Multimodal.syntheticMedia(t(s, dir, "documents"))
        .as[Multimodal.MediaRecord]
      Multimodal.resizeImages(media, 64, 64)
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          length(col("payload")).as("byte_len"))
    }),
    // ---- round-7 additions ----
    // Oracle-exact Lloyd k-means (seeds = 4 smallest vec_ids, one
    // integer-scaled centroid update, argmax over 9-dp-rounded
    // cosines): the DuckDB oracle replays the identical round unrolled
    // — the clustering itself is oracle-checked, not just spec-pinned
    "sim_kmeans" -> ((s, dir) =>
      Similarity.kMeansExact(t(s, dir, "embeddings"), k = 4, rounds = 1)),
    // per-cluster quality audit over the same exact clustering (the
    // SemDeDup check before trusting a corpus partition): count, mean
    // and min centroid cosine per cluster — model-sized broadcast join
    // + one cluster-keyed aggregate
    "sim_cluster_quality" -> ((s, dir) =>
      Similarity.clusterQuality(t(s, dir, "embeddings"), k = 4, rounds = 1)),
    // MMR diversity re-ranking: top-20 cosine pool, greedy 5-pick with
    // λ=0.7 / diversity 0.3 — the DuckDB oracle replays the greedy
    // selection unrolled step by step (same device as sim_kmeans), so
    // the SELECTION ORDER is oracle-checked, not just the pool
    "sim_mmr_rerank" -> ((s, dir) =>
      Similarity.mmrRerank(t(s, dir, "embeddings").filter(col("vec_id") =!= 0),
        queryVec(s, dir), poolSize = 20, k = 5)),
    // retrieval-quality eval of the exact cosine ranking vs label
    // ground truth (precision/recall/MRR/NDCG@10 per query): the eval
    // harness run before trusting an ANN layout or a new encoder. All
    // metric arithmetic is exact cross-engine (integer hits/ranks,
    // single divisions, integer-tabulated NDCG discounts shared with
    // the generated oracle)
    "sim_retrieval_eval" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.retrievalEval(e, e.filter(col("vec_id") < 8), k = 10)
    }),
    // dominant singular direction by bit-portable power iteration:
    // floor-scaled integer contractions make every round exactly
    // associative-commutative, so the DuckDB oracle replays all three
    // rounds unrolled and the doubles compare with == (the kMeansExact
    // discipline extended to distributed linear algebra)
    "sim_power_iteration" -> ((s, dir) =>
      Similarity.powerIteration(t(s, dir, "embeddings"), iterations = 3)),
    // Incremental connected components: the base half's pair list is
    // contracted to its label table once; a delta batch (rest of the
    // corpus + planted copies of base docs, ids above max(doc_id) at
    // ANY scale factor) contributes only its delta-touching pairs.
    // Star edges from the labels preserve base connectivity exactly,
    // so merge ≡ rebuild — the oracle computes clusters of the FULL
    // union from scratch. Pair generation models true incrementality:
    // the corpus pair list is the SESSION-CACHED artifact shared with
    // dedup_ngram_jaccard/dedup_clusters/dedup_keep_best (built once
    // per session, like the at-rest pair store a production run reads),
    // and only the 10-doc planted batch is shingled fresh — a
    // crossJaccard with the batch broadcast (its designed use) plus
    // the batch's intra pairs. Replaced the previous base/cross/intra
    // triple shingle build (11.8 s bench median, half the corpus
    // broadcast as "held-out")
    "dedup_clusters_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val maxId = docs.agg(max("doc_id")).first().getAs[Number](0).longValue
      val half = maxId / 2
      val planted = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + maxId + 1).as("doc_id"), col("text"))
      val pairs = cachedPairs(s, dir).select("doc_a", "doc_b")
        .unionByName(Dedup.crossJaccardFromShingles(
            cachedShingles(s, dir), planted, 3, 0.05)
          .select("doc_a", "doc_b"))
        .unionByName(Dedup.ngramJaccard(planted, 3, 0.05)
          .select("doc_a", "doc_b"))
      val deltaPairs = pairs.filter(col("doc_a") >= half || col("doc_b") >= half)
      Dedup.clustersIncremental(cachedBaseLabels(s, dir, half), deltaPairs)
    }),
    // CCNet head/middle/tail perplexity thirds over the bigram-LM
    // score — the published quality-bucketing design; tertiles via the
    // scalable NTILE (no single-partition sort)
    "text_perplexity_buckets" -> ((s, dir) =>
      TextAnalysis.perplexityBuckets(t(s, dir, "documents"))),
    // Keyed diff of two snapshot versions: delta-sized audit output
    // (added / removed / changed + which columns), one full outer join
    "q_snapshot_diff" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
      val newSnap = c.filter(col("c_custkey") % 10 =!= 1)
        .select(col("c_custkey"), col("c_name"),
          when(col("c_custkey") % 10 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")).as("c_acctbal"),
          when(col("c_custkey") % 10 === 2, (col("c_nationkey") + 1) % 25)
            .otherwise(col("c_nationkey")).as("c_nationkey"))
        .unionByName(c.filter(col("c_custkey") % 10 === 3)
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            concat(lit("clone of "), col("c_name")).as("c_name"),
            lit(0.0).as("c_acctbal"), col("c_nationkey")))
      Maintenance.snapshotDiff(c, newSnap, Seq("c_custkey"))
    }),
    // Target-size compaction plan over the documents "file" listing:
    // bin = floor(exclusive running byte sum / 8 KiB), running sum via
    // the two-level prefix-sum scaffold (no global-ORDER window)
    "q_compaction_plan" -> ((s, dir) =>
      Maintenance.compactionPlan(
        t(s, dir, "documents")
          .select(col("doc_id"), octet_length(col("text")).as("sz")),
        "doc_id", "sz", targetBytes = 8192)
        .select(col("doc_id"), col("bytes"), col("bin")))
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for ops whose semantics are not
    * SQL-expressible (stemmed postings, LSH/minhash internals, the
    * heuristic language scorer, xxhash fingerprints, media features) —
    * those are covered by unit/property tests instead.
    */
  def oracleSql: Map[String, String] = PinnedOracles.sql ++ Map(
    "corpus_project" ->
      "SELECT doc_id, text FROM documents",
    "doc_fetch" ->
      ("SELECT doc_id, replace(replace(text, '&#60;', '<'), '&#62;', '>') AS text " +
        "FROM documents WHERE doc_id = 42"),
    "tokenize_pos" ->
      (OracleTfidfCte + "SELECT doc_id, pos, token FROM toks"),
    "doc_count" ->
      "SELECT count(*) AS doc_num FROM documents",
    "word_count" ->
      ("""WITH toks0 AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |    '[ \t\r\n,.:;''"()\[\]{}/<>!?|\-—–#$&=_*+]+'), x -> x <> '') AS arr
        |  FROM documents
        |), toks AS (SELECT unnest(arr) AS word FROM toks0)
        |SELECT word, count(*) AS cnt FROM toks
        |WHERE NOT regexp_matches(word, '^[0-9]+$')
        |GROUP BY 1""").stripMargin,
    "top_words" ->
      ("""WITH toks0 AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |    '[ \t\r\n,.:;''"()\[\]{}/<>!?|\-—–#$&=_*+]+'), x -> x <> '') AS arr
        |  FROM documents
        |), toks AS (SELECT unnest(arr) AS word FROM toks0)
        |SELECT word, count(*) AS cnt FROM toks
        |WHERE NOT regexp_matches(word, '^[0-9]+$')
        |GROUP BY 1 ORDER BY cnt DESC, word ASC LIMIT 100""").stripMargin,
    "term_freq" ->
      (OracleTfidfCte + "SELECT term, doc_id, tf FROM tf"),
    "tfidf_postings" ->
      (OracleTfidfCte +
        """SELECT tf.term, tf.doc_id, tf.tf, dfreq.df,
          |       round((1 + log10(tf.tf)) * ln(CAST(n.doc_num AS DOUBLE) / dfreq.df), 4) AS score
          |FROM tf JOIN dfreq USING (term) CROSS JOIN n""").stripMargin,
    "doc_keywords" ->
      (OracleTfidfCte +
        """, ranked AS (
          |  SELECT doc_id, term, score,
          |         row_number() OVER (PARTITION BY doc_id
          |                            ORDER BY score DESC, term) AS rank
          |  FROM sc)
          |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
          |       round(score, 4) AS score
          |FROM ranked WHERE rank <= 5""").stripMargin,
    "search_more_like_this" ->
      (OracleTfidfCte +
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
          |LIMIT 10""").stripMargin,
    "bm25_postings" ->
      (OracleTfidfCte +
        """, dls AS (SELECT doc_id, count(*) AS dl FROM kept GROUP BY 1),
          |g AS (SELECT avg(dl) AS avgdl, count(*) AS doc_num FROM dls)
          |SELECT tf.term, tf.doc_id, tf.tf, dfreq.df, dls.dl,
          |  round(ln(1.0 + (g.doc_num - dfreq.df + 0.5) / (dfreq.df + 0.5))
          |    * (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dls.dl / g.avgdl)), 4) AS score
          |FROM tf JOIN dfreq USING (term) JOIN dls USING (doc_id) CROSS JOIN g""").stripMargin,
    "search_bm25" ->
      (OracleTfidfCte +
        """, dls AS (SELECT doc_id, count(*) AS dl FROM kept GROUP BY 1),
          |g AS (SELECT avg(dl) AS avgdl, count(*) AS doc_num FROM dls),
          |bm AS (
          |  SELECT tf.term, tf.doc_id,
          |    ln(1.0 + (g.doc_num - dfreq.df + 0.5) / (dfreq.df + 0.5))
          |      * (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dls.dl / g.avgdl)) AS score
          |  FROM tf JOIN dfreq USING (term) JOIN dls USING (doc_id) CROSS JOIN g
          |  WHERE tf.term IN ('spark', 'data'))
          |SELECT doc_id, round(sum(score), 4) AS score
          |FROM bm GROUP BY 1 HAVING count(*) = 2""").stripMargin,
    "search_hybrid" ->
      // ranks are computed over 4-decimal-rounded scores with doc_id
      // tie-break (deterministic across engines); pool = 100 per
      // modality, RRF c = 60, fused top 10
      (OracleTfidfCte +
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
          |ORDER BY rrf DESC, COALESCE(t.doc_id, v.doc_id) LIMIT 10""").stripMargin,
    "postings_stemmed" ->
      // corpus-specific oracle: the 31-word vocabulary's Porter stems as
      // a CASE map (the stemmer itself is pinned by 41 unit vectors and
      // the reference differential harness)
      ("""WITH toks0 AS (
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
        |FROM tf JOIN dfreq USING (term) CROSS JOIN n""").stripMargin,
    "search_and" ->
      (OracleTfidfCte +
        """SELECT a.doc_id, round(a.score * b.score, 4) AS score
          |FROM sc a JOIN sc b USING (doc_id)
          |WHERE a.term = 'spark' AND b.term = 'data'""").stripMargin,
    // identical semantics to search_and — the entry differs only in
    // WHO BUILT the index (the checkpointed streaming maintenance
    // lineage, redelivered batch included), which must not change a
    // single value
    "search_streamed_index" ->
      (OracleTfidfCte +
        """SELECT a.doc_id, round(a.score * b.score, 4) AS score
          |FROM sc a JOIN sc b USING (doc_id)
          |WHERE a.term = 'spark' AND b.term = 'data'""").stripMargin,
    // identical semantics to search_and — the entry differs only in the
    // PHYSICAL read path (persisted term-partitioned index, lazy pruned
    // scans), which must not change a single value
    "search_and_at_rest" ->
      (OracleTfidfCte +
        """SELECT a.doc_id, round(a.score * b.score, 4) AS score
          |FROM sc a JOIN sc b USING (doc_id)
          |WHERE a.term = 'spark' AND b.term = 'data'""").stripMargin,
    "search_or" ->
      (OracleTfidfCte +
        """SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
          |       round(COALESCE(a.score, 0) + COALESCE(b.score, 0), 4) AS score
          |FROM (SELECT * FROM sc WHERE term = 'spark') a
          |FULL OUTER JOIN (SELECT * FROM sc WHERE term = 'data') b
          |  ON a.doc_id = b.doc_id""").stripMargin,
    "index_stats" ->
      (OracleTfidfCte +
        """SELECT
          |  (SELECT CAST(count(DISTINCT term) AS BIGINT) FROM tf) AS n_terms,
          |  (SELECT CAST(count(*) AS BIGINT) FROM tf) AS n_postings,
          |  (SELECT CAST(max(df) AS BIGINT) FROM dfreq) AS max_df,
          |  (SELECT CAST(sum(tf) AS BIGINT) FROM tf) AS total_tf""").stripMargin,
    "search_batch" ->
      // UNION ALL of the search_and / search_or oracles verbatim,
      // tagged by query string
      (OracleTfidfCte +
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
          |    ON a.doc_id = b.doc_id) q2""").stripMargin,
    "search_and_not" ->
      (OracleTfidfCte +
        """SELECT a.doc_id, round(a.score, 4) AS score
          |FROM sc a
          |WHERE a.term = 'spark' AND NOT EXISTS (
          |  SELECT 1 FROM sc b WHERE b.term = 'data' AND b.doc_id = a.doc_id)""").stripMargin,
    "search_cnf" ->
      (OracleTfidfCte +
        """, ors AS (
          |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
          |         COALESCE(a.score, 0) + COALESCE(b.score, 0) AS score
          |  FROM (SELECT * FROM sc WHERE term = 'spark') a
          |  FULL OUTER JOIN (SELECT * FROM sc WHERE term = 'data') b
          |    ON a.doc_id = b.doc_id)
          |SELECT o.doc_id, round(o.score * j.score, 4) AS score
          |FROM ors o JOIN sc j ON j.term = 'join' AND j.doc_id = o.doc_id
          |WHERE NOT EXISTS (
          |  SELECT 1 FROM sc d WHERE d.term = 'dup' AND d.doc_id = o.doc_id)""").stripMargin,
    "search_substring" ->
      """SELECT doc_id FROM documents
        |WHERE position('merge batch' IN lower(text)) > 0""".stripMargin,
    "search_like" ->
      """SELECT doc_id FROM documents
        |WHERE lower(text) LIKE '%merge batch%fast%'""".stripMargin,
    "search_substring_at_rest" ->
      """SELECT doc_id FROM documents
        |WHERE position('window sort' IN lower(text)) > 0""".stripMargin,
    "substring_incremental" ->
      """SELECT doc_id FROM documents
        |WHERE position('hash join' IN lower(text)) > 0""".stripMargin,
    "q_hist_quantile_incremental" ->
      """WITH st AS (
        |  SELECT CAST(floor(l_extendedprice / 1000) AS BIGINT) AS bucket,
        |         count(*) AS n
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT sum(n) AS total FROM st),
        |cum AS (SELECT bucket, sum(n) OVER (ORDER BY bucket) AS c FROM st),
        |qs(q) AS (VALUES (0.25), (0.5), (0.75))
        |SELECT CAST(q AS DOUBLE) AS q,
        |       (SELECT min(bucket) FROM cum, tot
        |        WHERE cum.c >= ceil(q * tot.total)) * 1000.0 AS value_lo
        |FROM qs""".stripMargin,
    // the four SCD-2 branches enumerated directly: carried closed rows,
    // closed-out changed rows, surviving current rows (incl. the %10=4
    // no-op batch), new versions + first versions of new keys
    "q_scd2" ->
      """SELECT c_custkey, 'OLD' AS c_mktsegment, c_nationkey,
        |       '2023-01-01' AS valid_from, '2024-01-01' AS valid_to
        |FROM customer WHERE c_custkey % 20 = 7
        |UNION ALL
        |SELECT c_custkey, c_mktsegment, c_nationkey,
        |       '2024-01-01', '2024-06-01'
        |FROM customer WHERE c_custkey % 10 = 3
        |UNION ALL
        |SELECT c_custkey, c_mktsegment, c_nationkey,
        |       '2024-01-01', CAST(NULL AS VARCHAR)
        |FROM customer WHERE c_custkey % 10 <> 3
        |UNION ALL
        |SELECT c_custkey, 'UPDATED', c_nationkey, '2024-06-01',
        |       CAST(NULL AS VARCHAR)
        |FROM customer WHERE c_custkey % 10 = 3
        |UNION ALL
        |SELECT c_custkey + 1000000, 'NEW', c_nationkey,
        |       '2024-06-01', CAST(NULL AS VARCHAR)
        |FROM customer WHERE c_custkey % 50 = 0""".stripMargin,
    "search_phrase" ->
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
          |WHERE a.term = 'spark' AND b.term = 'data'""").stripMargin,
    // search_phrase verbatim — the at-rest variant differs only in the
    // physical read path (lazy pruned scans over the persisted index)
    "search_phrase_at_rest" ->
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
          |WHERE a.term = 'spark' AND b.term = 'data'""").stripMargin,
    // six-term n-ary OR via prefix expansion; sum over ≤ 6 per-doc
    // scores rounds identically across engines (same argument as
    // search_bm25's round(sum(...), 4))
    "search_prefix_at_rest" ->
      (OracleTfidfCte +
        """SELECT doc_id, round(sum(score), 4) AS score,
          |       CAST(count(*) AS BIGINT) AS n_terms
          |FROM sc WHERE term LIKE 's%' GROUP BY 1""").stripMargin,
    "search_not_or" ->
      (OracleTfidfCte +
        """SELECT j.doc_id, round(j.score, 4) AS score
          |FROM sc j
          |WHERE j.term = 'join'
          |  AND NOT EXISTS (SELECT 1 FROM sc a
          |    WHERE a.term = 'spark' AND a.doc_id = j.doc_id)
          |  AND NOT EXISTS (SELECT 1 FROM sc b
          |    WHERE b.term = 'data' AND b.doc_id = j.doc_id)""").stripMargin,
    "search_stopword_drop" ->
      // top-2 stop words are 'join','hash' (by count desc, word asc);
      // both are neutralized identity operands, leaving plain "spark" —
      // whose tf/df/docNum are unaffected by removing other terms
      (OracleTfidfCte +
        "SELECT doc_id, round(score, 4) AS score FROM sc WHERE term = 'spark'"),
    "corpus_token_stats" ->
      """SELECT d.lang, d.source, count(*) AS n_docs,
        |  CAST(sum(len(list_filter(regexp_split_to_array(d.text, '\s+'),
        |    x -> x <> ''))) AS BIGINT) AS total_ws_tokens,
        |  CAST(sum(len(regexp_extract_all(d.text,
        |    '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]'))) AS BIGINT) AS total_bpe_tokens
        |FROM documents d GROUP BY 1, 2""".stripMargin,
    "search_page1" ->
      (OracleTfidfCte +
        """SELECT a.doc_id, round(a.score * b.score, 4) AS score
          |FROM sc a JOIN sc b USING (doc_id)
          |WHERE a.term = 'spark' AND b.term = 'data'
          |ORDER BY score DESC, doc_id ASC LIMIT 10""").stripMargin,
    "search_snippets" ->
      // the page-1 doc set (search_page1's ranking) with every snippet
      // invariant required TRUE — a real SQL oracle over the rendered
      // output's properties (was a verbatim corpus pin before r5)
      (OracleTfidfCte +
        """SELECT a.doc_id, TRUE AS has_spark, TRUE AS has_data,
          |       TRUE AS len_ok, TRUE AS from_doc
          |FROM sc a JOIN sc b USING (doc_id)
          |WHERE a.term = 'spark' AND b.term = 'data'
          |ORDER BY a.score * b.score DESC, doc_id ASC LIMIT 10""").stripMargin,
    "xml_roundtrip" ->
      ("SELECT doc_id, 'doc-' || CAST(doc_id AS VARCHAR) AS title, text " +
        "FROM documents"),
    // codec round trips must reproduce the table bit-for-bit
    "jsonl_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "csv_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "orc_roundtrip" ->
      // identity through the ORC write/read: the digest of what comes
      // back must equal the digest of what went in
      "SELECT doc_id, md5(text) AS digest FROM documents WHERE doc_id % 7 = 0",
    "corpus_split_text" ->
      ("SELECT doc_id, 'doc-' || CAST(doc_id AS VARCHAR) || chr(10) || " +
        "replace(replace(text, '&#60;', '<'), '&#62;', '>') AS content FROM documents"),
    "corpus_split_html" ->
      ("SELECT doc_id, 'doc-' || CAST(doc_id AS VARCHAR) || chr(10) || text " +
        "AS content FROM documents"),
    "doc_titles" ->
      "SELECT doc_id, 'doc-' || CAST(doc_id AS VARCHAR) AS title FROM documents",
    "sim_lsh_topk" ->
      // the LSH probe returns the exact top-10 (candidate radius covers
      // the true neighbors on this corpus) -> brute-force SQL is the oracle
      """SELECT e.vec_id,
        |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |         CAST(q.embedding AS DOUBLE[])), 4) AS cosine
        |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY cosine DESC, e.vec_id ASC LIMIT 10""".stripMargin,
    "dedup_minhash" -> OracleMinhashPairsSql,
    // append ≡ rebuild: the incremental lifecycle must reproduce the
    // exact full-corpus pair list
    "dedup_minhash_incremental" -> OracleMinhashPairsSql,
    "dedup_embedding" ->
      // exact pair list at minCos=0.4 (banded LSH generates candidates;
      // the exact cosine decides membership)
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |         CAST(b.embedding AS DOUBLE[])), 4) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])) >= 0.4""".stripMargin,
    "dedup_embedding_strict" ->
      // exact brute-force pair list at the production threshold over the
      // corpus PLUS the planted first-component-negated twins — the five
      // (orig, twin) pairs are the full answer, so the row is non-vacuous
      """WITH planted AS (
        |  SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS vec_id,
        |         list_prepend(-embedding[1], embedding[2:]) AS embedding
        |  FROM embeddings WHERE vec_id % 100 = 3
        |), alle AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id, embedding FROM planted
        |)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |         CAST(b.embedding AS DOUBLE[])), 4) AS cosine
        |FROM alle a JOIN alle b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])) >= 0.9""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= '1998-09-02'
        |GROUP BY 1, 2""".stripMargin,
    "q_join3" ->
      """SELECT c_custkey, c_mktsegment,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin,
    "q_broadcast_join" ->
      """SELECT p_brand, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin,
    // the typed cogroup computes exactly a left-join + aggregate
    "q_cogroup" ->
      """SELECT c_custkey, c_acctbal AS acctbal,
        |       CAST(count(o_custkey) AS BIGINT) AS n_orders,
        |       round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin,
    "q_semi_join" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity >= 49)""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q_full_outer" ->
      """SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
        |       COALESCE(c.n_cust, 0) AS n_cust,
        |       COALESCE(s.n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
        |      FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supp
        |      FROM supplier GROUP BY 1) s
        |  ON c.nationkey = s.nationkey""".stripMargin,
    "q_union_agg" ->
      """WITH u AS (
        |  SELECT o_custkey, o_totalprice AS v FROM orders WHERE o_totalprice > 200000
        |  UNION ALL
        |  SELECT o_custkey, o_totalprice AS v FROM orders WHERE o_totalprice < 50000)
        |SELECT o_custkey, round(sum(v), 2) AS total, count(*) AS n
        |FROM u GROUP BY 1""".stripMargin,
    "dedup_embedding_exact" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |         CAST(b.embedding AS DOUBLE[])), 4) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])) >= 0.4""".stripMargin,
    "dedup_embedding_semantic" ->
      // same exact pair list as dedup_embedding_exact, transitive
      // closure, then the keep-newest representative per component
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |          CAST(b.embedding AS DOUBLE[])) >= 0.4),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |      UNION SELECT doc_b, doc_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        |       FROM reach GROUP BY a)
        |SELECT cluster_id, max(doc_id) AS keeper_id, count(*) AS n_members
        |FROM cl GROUP BY 1""".stripMargin,
    // HYBRID oracle: the median half is REAL DuckDB SQL (quantile_cont
    // matches Spark's linearly-interpolated exact percentile); only the
    // HLL estimate rides on a pinned VALUES join — DuckDB's approx HLL
    // uses different registers, so Spark's 1947-vs-2000-exact value is
    // engine-specific but partitioning-invariant (registers merge by
    // max), pinned at sf0.01
    "q_approx_sketch" ->
      """SELECT m.l_returnflag,
        |       CAST(h.approx_parts AS BIGINT) AS approx_parts,
        |       m.median_price
        |FROM (SELECT l_returnflag,
        |        round(quantile_cont(l_extendedprice, 0.5), 2) AS median_price
        |      FROM lineitem GROUP BY l_returnflag) m
        |JOIN (VALUES ('N', 1947), ('R', 1947), ('A', 1947))
        |  AS h(l_returnflag, approx_parts)
        |  ON m.l_returnflag = h.l_returnflag""".stripMargin,
    "q_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS l_linestatus,
        |       round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders
        |ORDER BY price DESC, o_orderkey ASC LIMIT 100""".stripMargin,
    "q_window_topn" ->
      """SELECT l_suppkey, rn, l_orderkey, round(l_extendedprice, 2) AS price
        |FROM (SELECT l_suppkey, l_orderkey, l_extendedprice,
        |        row_number() OVER (PARTITION BY l_suppkey
        |          ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rn
        |      FROM lineitem)
        |WHERE rn <= 3""".stripMargin,
    "q_events_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_funnel" ->
      // same greedy earliest-match recurrence, one CTE per step
      """WITH s0 AS (SELECT user_id, min(ts) AS t FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (SELECT e.user_id, min(e.ts) AS t
        |       FROM events e JOIN s0 ON e.user_id = s0.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t
        |       FROM events e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1)
        |SELECT 0 AS step_index, 'view' AS step, count(*) AS n_users FROM s0
        |UNION ALL SELECT 1, 'click', count(*) FROM s1
        |UNION ALL SELECT 2, 'purchase', count(*) FROM s2""".stripMargin,
    "q_retention" ->
      """WITH w AS (SELECT DISTINCT user_id,
        |             CAST(date_trunc('week', ts) AS DATE) AS wk
        |           FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_week FROM w GROUP BY 1)
        |SELECT cohort_week,
        |       CAST(date_diff('day', cohort_week, wk) // 7 AS INT)
        |         AS week_offset,
        |       count(DISTINCT w.user_id) AS n_users
        |FROM w JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "q_event_transitions" ->
      """WITH nx AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS n
        |      FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |       CAST(n AS DOUBLE) /
        |         CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM c""".stripMargin,
    "q_interval_merge" ->
      """WITH iv AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS s,
        |         CAST(l_shipdate AS DATE) + CAST(l_quantity AS INT) AS e
        |  FROM lineitem),
        |f AS (
        |  SELECT l_suppkey, s, e,
        |         CASE WHEN s > coalesce(max(e) OVER (PARTITION BY l_suppkey
        |                ORDER BY s, e
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |              DATE '0001-01-01') THEN 1 ELSE 0 END AS nw
        |  FROM iv),
        |g AS (
        |  SELECT *, sum(nw) OVER (PARTITION BY l_suppkey ORDER BY s, e
        |              ROWS UNBOUNDED PRECEDING) AS span
        |  FROM f)
        |SELECT l_suppkey, min(s) AS span_start, max(e) AS span_end,
        |       CAST(count(*) AS BIGINT) AS n_intervals
        |FROM g GROUP BY l_suppkey, span""".stripMargin,
    "q_agg_incremental" ->
      """SELECT l_suppkey, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin,
    // below saturation the KMV state is the exact distinct set, so the
    // incremental estimate must EQUAL the one-pass COUNT(DISTINCT)
    "q_distinct_incremental" ->
      """SELECT o_orderpriority,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct
        |FROM orders GROUP BY 1""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, value,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |           OR epoch_ms(ts) - epoch_ms(prev_ts) >= 1800000
        |         THEN 1 ELSE 0 END AS is_start
        |  FROM e),
        |g AS (
        |  SELECT *, sum(is_start) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM f)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM g GROUP BY user_id, session_seq""".stripMargin,
    "q_sessionize_native" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, value,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |           OR epoch_ms(ts) - epoch_ms(prev_ts) >= 1800000
        |         THEN 1 ELSE 0 END AS is_start
        |  FROM e),
        |g AS (
        |  SELECT *, sum(is_start) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM f)
        |SELECT user_id, min(ts) AS session_start,
        |       max(ts) + INTERVAL 30 MINUTE AS session_end_gap,
        |       count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM g GROUP BY user_id, session_seq""".stripMargin,
    "q_events_json" ->
      """SELECT event_type,
        |       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |       count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_ngram_jaccard" ->
      ("WITH " + OracleNgramCte + "\n" +
        """SELECT doc_a, doc_b,
        |       CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.05""".stripMargin),
    "dedup_containment" ->
      // both containment directions are exact integer divisions; the
      // planted half-prefix docs replicate the Spark-side planting
      ("""WITH alldocs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
        |         substr(text, 1, CAST(floor(n_chars / 2) AS BIGINT)) AS text
        |  FROM documents WHERE doc_id < 10),
        |""".stripMargin + ngramCteOver("alldocs") + "\n" +
        """SELECT doc_a, doc_b,
        |       CAST(n_common AS DOUBLE) / sa.n_sh AS containment_a,
        |       CAST(n_common AS DOUBLE) / sb.n_sh AS containment_b
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE greatest(CAST(n_common AS DOUBLE) / sa.n_sh,
        |               CAST(n_common AS DOUBLE) / sb.n_sh) >= 0.5""".stripMargin),
    "dedup_clusters" ->
      // transitive closure of the exact pair list (tiny components at
      // oracle scale), then min reachable id per node
      ("WITH RECURSIVE " + OracleNgramCte + ",\n" +
        """pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.05),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |      UNION SELECT doc_b, doc_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
        |SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a""".stripMargin),
    "dedup_keep_best" ->
      ("WITH RECURSIVE " + OracleNgramCte + ",\n" +
        """pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.05),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |      UNION SELECT doc_b, doc_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
        |r AS (SELECT cl.cluster_id, cl.doc_id, d.n_chars,
        |        row_number() OVER (PARTITION BY cl.cluster_id
        |          ORDER BY d.n_chars DESC, cl.doc_id ASC) AS rn
        |      FROM cl JOIN documents d USING (doc_id))
        |SELECT cluster_id, max(CASE WHEN rn = 1 THEN doc_id END) AS keeper_id,
        |       count(*) AS n_members
        |FROM r GROUP BY cluster_id""".stripMargin),
    "text_chunks" ->
      // starts capped at len - overlap so the last window always adds
      // new tokens (mirrors TextAnalysis.chunk)
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS arr
        |  FROM documents)
        |SELECT doc_id, (s - 1) // 32 AS chunk_id,
        |       array_to_string(arr[s : s + 39], ' ') AS chunk_text,
        |       least(40, len(arr) - s + 1) AS n_tokens
        |FROM t, unnest(generate_series(1, greatest(len(arr) - 8, 1), 32)) AS u(s)
        |WHERE len(arr) > 0""".stripMargin,
    "q_asof_join" ->
      """SELECT l.event_id, l.user_id, l.ts, r.ts AS asof_ts,
        |       r.event_id AS asof_event_id, r.value AS asof_value
        |FROM (SELECT * FROM events WHERE event_type='purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='view') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,
    "q_asof_forward" ->
      """SELECT l.event_id, l.user_id, l.ts, r.ts AS asof_ts,
        |       r.event_id AS asof_event_id, r.value AS asof_value
        |FROM (SELECT * FROM events WHERE event_type='signup') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='purchase') r
        |  ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin,
    // DuckDB has no nearest ASOF: compose the backward and forward
    // ASOF joins and pick the closer (ties backward — same rule as the
    // operator)
    "q_asof_nearest" ->
      """SELECT l.event_id, l.user_id, l.ts,
        |  CASE WHEN b.ts IS NOT NULL AND (f.ts IS NULL OR
        |         date_diff('microsecond', b.ts, l.ts) <=
        |         date_diff('microsecond', l.ts, f.ts))
        |       THEN b.ts ELSE f.ts END AS asof_ts,
        |  CASE WHEN b.ts IS NOT NULL AND (f.ts IS NULL OR
        |         date_diff('microsecond', b.ts, l.ts) <=
        |         date_diff('microsecond', l.ts, f.ts))
        |       THEN b.event_id ELSE f.event_id END AS asof_event_id,
        |  CASE WHEN b.ts IS NOT NULL AND (f.ts IS NULL OR
        |         date_diff('microsecond', b.ts, l.ts) <=
        |         date_diff('microsecond', l.ts, f.ts))
        |       THEN b.value ELSE f.value END AS asof_value
        |FROM (SELECT * FROM events WHERE event_type='purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='view') b
        |  ON l.user_id = b.user_id AND l.ts >= b.ts
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='view') f
        |  ON l.user_id = f.user_id AND l.ts <= f.ts""".stripMargin,
    "q_range_join" ->
      """SELECT a.user_id, a.event_id AS event_id_a, b.event_id AS event_id_b,
        |       date_diff('microsecond', a.ts, b.ts) AS gap_us
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |WHERE b.ts > a.ts AND date_diff('microsecond', a.ts, b.ts) <= 21600000000""".stripMargin,
    "text_scrub_pii" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    text || ' Contact user' || doc_id || '@example.com or 10.0.' || (doc_id % 256) || '.7 or +1 555 01' || (doc_id % 100) || ' now',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '[IP]', 'g'),
        |    '\+?[0-9][0-9()./ -]{5,}[0-9]', '[PHONE]', 'g') AS clean_text
        |FROM documents""".stripMargin,
    "text_pps_sample" ->
      // same two floor divisions: f(x) = (2kx + W - 1) // 2W, picks =
      // f(cum + w) - f(cum), all BIGINT (DuckDB sums cast out of
      // HUGEINT)
      """WITH w AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split(text, ' '),
        |           x -> x <> '')) AS BIGINT) AS weight
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, weight,
        |         CAST(COALESCE(sum(weight) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS cum,
        |         CAST(sum(weight) OVER () AS BIGINT) AS tw
        |  FROM w)
        |SELECT * FROM (
        |  SELECT doc_id, weight,
        |         CAST((200 * (cum + weight) + tw - 1) // (2 * tw)
        |           - (200 * cum + tw - 1) // (2 * tw) AS BIGINT) AS n_picks
        |  FROM c)
        |WHERE n_picks >= 1""".stripMargin,
    "text_hash_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE md5('' || CAST(doc_id AS VARCHAR)) < '40000000000000000000000000000000'""".stripMargin,
    "text_stratified_sample" ->
      // thresholds are the exact binary expansions of the double rates
      // (hexThreshold): 0.1 -> 1999...a000..., 0.5 -> 8000..., 1.0 -> ffff...
      """SELECT doc_id, lang, source FROM documents
        |WHERE md5('' || CAST(doc_id AS VARCHAR)) <
        |  CASE WHEN lang = 'en' THEN '1999999999999a000000000000000000'
        |       WHEN lang = 'de' THEN '80000000000000000000000000000000'
        |       ELSE 'ffffffffffffffffffffffffffffffff' END""".stripMargin,
    "text_domain_cap" ->
      """SELECT lang, doc_id, rank FROM (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':17'), doc_id)
        |           AS rank
        |  FROM documents)
        |WHERE rank <= 40""".stripMargin,
    "text_weighted_sample" ->
      // same exact u = (h + 0.5)/2^32, ln rounded to 8dp BEFORE the
      // weight division (ln differs by 1 ulp between libm and the JVM
      // on ~0.1% of inputs; the rounded value is engine-identical and
      // the division of identical doubles is bit-exact)
      """SELECT doc_id, n_chars,
        |  round(ln((CAST('0x' || substr(md5('es1' || CAST(doc_id AS VARCHAR)), 1, 8)
        |                 AS BIGINT) + 0.5) / 4294967296.0), 8)
        |    / CAST(n_chars AS DOUBLE) AS es_key
        |FROM documents WHERE n_chars > 0
        |ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin,
    "postings_incremental" ->
      // identical to tfidf_postings: incremental maintenance must be
      // indistinguishable from a full rebuild over the combined corpus
      (OracleTfidfCte +
        """SELECT tf.term, tf.doc_id, tf.tf, dfreq.df,
          |       round((1 + log10(tf.tf)) * ln(CAST(n.doc_num AS DOUBLE) / dfreq.df), 4) AS score
          |FROM tf JOIN dfreq USING (term) CROSS JOIN n""").stripMargin,
    "sim_quantized_topk" ->
      // identical to sim_topk_brute: the quantized candidate cut must
      // be invisible after exact re-ranking
      """SELECT e.vec_id,
        |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |         CAST(q.embedding AS DOUBLE[])), 4) AS cosine
        |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY cosine DESC, e.vec_id ASC LIMIT 10""".stripMargin,
    "q_exact_quantile" ->
      // the value at row ceil(q*n) of the sorted column; ties don't
      // matter (the value at a fixed rank is tie-invariant)
      """WITH o AS (
        |  SELECT l_extendedprice,
        |         row_number() OVER (ORDER BY l_extendedprice) AS rn
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM o),
        |ks AS (SELECT CAST(q AS DOUBLE) AS q,
        |              CAST(ceil(q * n.n) AS BIGINT) AS k
        |       FROM (VALUES (0.25), (0.5), (0.75)) v(q), n)
        |SELECT ks.q, o.l_extendedprice
        |FROM ks JOIN o ON o.rn = ks.k""".stripMargin,
    "sim_cluster_assign" ->
      """SELECT vec_id, cluster, cos FROM (
        |  SELECT e.vec_id, c.vec_id AS cluster,
        |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |           CAST(c.embedding AS DOUBLE[])), 4) AS cos,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |             CAST(c.embedding AS DOUBLE[])), 4) DESC, c.vec_id) AS rn
        |  FROM embeddings e CROSS JOIN
        |       (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) c) t
        |WHERE rn = 1""".stripMargin,
    "sim_topk_brute" ->
      """SELECT e.vec_id,
        |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |         CAST(q.embedding AS DOUBLE[])), 4) AS cosine
        |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY cosine DESC, e.vec_id ASC LIMIT 10""".stripMargin,
    "q_sql_native" ->
      """SELECT e.vec_id,
        |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |         CAST(q.embedding AS DOUBLE[])), 4) AS cosine,
        |       round(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |         CAST(e.embedding AS DOUBLE[]))), 4) AS norm
        |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY cosine DESC, e.vec_id ASC LIMIT 10""".stripMargin,
    "sim_pq_topk" ->
      // identical to sim_topk_brute: the ADC candidate cut must be
      // invisible after exact re-ranking
      """SELECT e.vec_id,
        |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |         CAST(q.embedding AS DOUBLE[])), 4) AS cosine
        |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY cosine DESC, e.vec_id ASC LIMIT 10""".stripMargin,
    "sim_pq_batch" ->
      // per-query brute force: the batch ADC cut must be invisible
      // after the per-query exact re-rank
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
        |           FROM embeddings WHERE vec_id <= 2),
        |s AS (SELECT q_id, e.vec_id,
        |        list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |          CAST(q_emb AS DOUBLE[])) AS cos
        |      FROM embeddings e, q WHERE e.vec_id <> 0),
        |r AS (SELECT q_id, vec_id,
        |        row_number() OVER (PARTITION BY q_id
        |          ORDER BY round(cos, 4) DESC, vec_id ASC) AS rk, cos
        |      FROM s)
        |SELECT q_id, vec_id, CAST(rk AS INT) AS rank, round(cos, 4) AS cosine
        |FROM r WHERE rk <= 10""".stripMargin,
    "text_token_counts" ->
      """SELECT doc_id,
        |       len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS ws_tokens,
        |       len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]')) AS bpe_tokens
        |FROM documents""".stripMargin,
    "text_digest" ->
      "SELECT doc_id, md5(text) AS digest FROM documents",
    "sim_knn_label" ->
      """WITH pairs AS (
        |  SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) AS cosine
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT vec_a, vec_b, cosine,
        |    row_number() OVER (PARTITION BY vec_a
        |      ORDER BY cosine DESC, vec_b ASC) AS rn
        |  FROM pairs)
        |SELECT vec_a, vec_b, round(cosine, 4) AS cosine
        |FROM ranked WHERE rn <= 3""".stripMargin,
    "media_frames" ->
      """SELECT doc_id AS media_id,
        |       CAST((doc_id % 300) // 30 + 1 AS BIGINT) AS n_sampled
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin,
    // predicts the AVI round trip in closed form: the container walk
    // must surface exactly n_frames chunks whose sizes are the writer's
    // deterministic 10 + (id+i) % 50 — wrong padding/nesting breaks it
    "media_video_frames" ->
      """SELECT d.doc_id AS media_id,
        |       CAST(count(*) AS BIGINT) AS n_frames,
        |       CAST(sum(10 + (d.doc_id + g.i) % 50) AS BIGINT) AS total_frame_bytes
        |FROM documents d, generate_series(0, 299) g(i)
        |WHERE d.doc_id % 3 = 2 AND g.i <= d.doc_id % 300
        |GROUP BY 1""".stripMargin,
    // predicts the PIXEL-decoded dims of every sampled MJPEG frame in
    // closed form — only a real JPEG decode of the correctly-sliced
    // chunk bytes reproduces them
    "media_video_decode" ->
      """SELECT d.doc_id AS media_id,
        |       CAST(count(*) AS BIGINT) AS n_decoded,
        |       CAST(sum(16 + (d.doc_id + g.i) % 16) AS BIGINT) AS sum_width,
        |       CAST(sum(16 + (d.doc_id + g.i) % 12) AS BIGINT) AS sum_height
        |FROM documents d, generate_series(0, 299, 30) g(i)
        |WHERE d.doc_id % 3 = 2 AND g.i <= d.doc_id % 300
        |GROUP BY 1""".stripMargin,
    "media_features" ->
      """SELECT doc_id AS media_id,
        |       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |       CAST(octet_length(encode(text)) AS INT) AS byte_len
        |FROM documents""".stripMargin,
    "text_lang_id" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |    '[ \t\r\n,.:;''"()\[\]{}/<>!?|\-—#$&=_*+]+'), x -> x <> '') AS arr
        |  FROM documents),
        |profiles(lang, words) AS (VALUES
        |  ('de', ['der','die','und','das','ist','nicht','von','mit','ein','zu']),
        |  ('en', ['the','and','of','to','a','in','is','that','for','with']),
        |  ('es', ['el','la','de','que','y','los','en','un','es','por']),
        |  ('fr', ['le','la','et','les','des','est','pas','une','dans','que']),
        |  ('zh', ['de','shi','le','zai','you','wo','ta','men','zhe','bu'])),
        |scored AS (
        |  SELECT t.doc_id, p.lang,
        |    CAST(len(list_filter(t.arr, x -> list_contains(p.words, x))) AS DOUBLE)
        |      / greatest(len(t.arr), 1) AS score
        |  FROM toks t CROSS JOIN profiles p),
        |best AS (
        |  SELECT doc_id, lang, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
        |  FROM scored)
        |SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang
        |FROM best WHERE rn = 1""".stripMargin,
    "text_quality" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text),
        |      '[ \t\r\n,.:;''"()\[\]{}/<>!?|\-—#$&=_*+]+'), x -> x <> '')) AS DOUBLE) AS ntoks,
        |    CAST(length(text) AS DOUBLE) AS nchars,
        |    CAST(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS DOUBLE) AS alnum,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text),
        |      '[ \t\r\n,.:;''"()\[\]{}/<>!?|\-—#$&=_*+]+'),
        |      x -> list_contains(['the','and','of','to','a','in','is','that','for','with'], x))) AS DOUBLE) AS stophits
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(ntoks AS BIGINT) AS n_tokens,
        |  round(alnum / greatest(nchars, 1.0), 4) AS alnum_ratio,
        |  round(stophits / greatest(ntoks, 1.0), 4) AS stopword_ratio,
        |  round(nchars / greatest(ntoks, 1.0), 4) AS mean_token_len,
        |  round(least(ntoks / 64.0, 1.0) * 0.25
        |    + (alnum / greatest(nchars, 1.0)) * 0.25
        |    + least(stophits / greatest(ntoks, 1.0) * 4.0, 1.0) * 0.25
        |    + least(nchars / greatest(ntoks, 1.0) / 8.0, 1.0) * 0.25, 4) AS quality
        |FROM q""".stripMargin,
    "media_resize" ->
      // stub-path arithmetic: aspect-preserving scale into a 64x64 box
      // applied to image-kind metadata and payload length (Scala .toInt
      // truncates -> trunc)
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |         WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    CAST(octet_length(encode(text)) AS INT) AS len,
        |    CAST(doc_id % 640 + 16 AS INT) AS w,
        |    CAST(doc_id % 480 + 16 AS INT) AS h
        |  FROM documents),
        |s AS (
        |  SELECT *, least(64.0 / greatest(w, 1), 64.0 / greatest(h, 1)) AS scale
        |  FROM m)
        |SELECT media_id, kind,
        |  CASE WHEN kind = 'image'
        |       THEN GREATEST(1, CAST(trunc(w * scale) AS INT)) ELSE w END AS width,
        |  CASE WHEN kind = 'image'
        |       THEN GREATEST(1, CAST(trunc(h * scale) AS INT)) ELSE h END AS height,
        |  CASE WHEN kind = 'image'
        |       THEN LEAST(len, GREATEST(1, CAST(trunc(len * scale) AS INT)))
        |       ELSE len END AS byte_len
        |FROM s""".stripMargin,
    "media_stats" ->
      """SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |       count(*) AS n_assets,
        |       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |       round(avg(octet_length(encode(text))), 4) AS avg_bytes
        |FROM documents GROUP BY 1""".stripMargin,
    "text_repetition" ->
      // all ratios are single IEEE divisions of exact integer counts —
      // bit-identical across engines, no rounding
      """WITH toks0 AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |    '[ \t\r\n,.:;''"()\[\]{}/<>!?|\-—#$&=_*+]+'), x -> x <> '') AS arr
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, 1 AS n, arr[i] AS gram
        |  FROM toks0, unnest(generate_series(1, len(arr))) AS u(i)
        |  UNION ALL
        |  SELECT doc_id, 2 AS n, array_to_string(arr[i : i + 1], ' ') AS gram
        |  FROM toks0, unnest(generate_series(1, len(arr) - 1)) AS u(i)
        |  UNION ALL
        |  SELECT doc_id, 3 AS n, array_to_string(arr[i : i + 2], ' ') AS gram
        |  FROM toks0, unnest(generate_series(1, len(arr) - 2)) AS u(i)),
        |c AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN n = 1 THEN c END) AS BIGINT) AS n_tokens,
        |  CAST(max(CASE WHEN n = 1 THEN c END) AS DOUBLE)
        |    / sum(CASE WHEN n = 1 THEN c END) AS top_token_frac,
        |  CAST(max(CASE WHEN n = 2 THEN c END) AS DOUBLE)
        |    / sum(CASE WHEN n = 2 THEN c END) AS top_bigram_frac,
        |  CAST(coalesce(sum(CASE WHEN n = 3 AND c > 1 THEN c END), 0) AS DOUBLE)
        |    / sum(CASE WHEN n = 3 THEN c END) AS dup_trigram_frac
        |FROM c GROUP BY doc_id""".stripMargin,
    "dedup_lines" ->
      // same 10-token line synthesis as the entry, then first-occurrence
      // line dedup and per-doc text rebuild
      """WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
        |l AS (
        |  SELECT doc_id, i + 1 AS line_no,
        |         array_to_string(arr[(i * 10 + 1) : (i * 10 + 10)], ' ') AS line
        |  FROM t0, unnest(generate_series(0,
        |    CAST(floor((len(arr) - 1) / 10.0) AS BIGINT))) AS u(i)),
        |r AS (SELECT doc_id, line_no, line,
        |        row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
        |      FROM l)
        |SELECT doc_id, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CASE WHEN sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0
        |       THEN string_agg(CASE WHEN rn = 1 THEN line END, chr(10)
        |                       ORDER BY line_no)
        |  END AS clean_text
        |FROM r GROUP BY doc_id""".stripMargin,
    "text_containment_contamination" -> OracleCrossContainmentSql,
    "text_fuzzy_contamination" ->
      """WITH toks0 AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |    '[ \t\r\n,.:;''"()\[\]{}/<>!?|\-—#$&=_*+]+'), x -> x <> '') AS arr
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         array_to_string(arr[i : i + 2], ' ') AS shingle
        |  FROM toks0, unnest(generate_series(1, greatest(len(arr) - 2, 1))) AS u(i)
        |  WHERE len(arr) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |  WHERE a.doc_id % 97 <> 7 AND b.doc_id % 97 = 7
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |       CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.02""".stripMargin,
    "text_contamination" ->
      """WITH toks0 AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |    '[ \t\r\n,.:;''"()\[\]{}/<>!?|\-—#$&=_*+]+'), x -> x <> '') AS arr
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(arr[i : i + 4], ' ') AS shingle
        |  FROM toks0, unnest(generate_series(1, greatest(len(arr) - 4, 0))) AS u(i)),
        |b AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 7)
        |SELECT sh.doc_id, count(*) AS n_contaminated
        |FROM sh JOIN b USING (shingle)
        |WHERE sh.doc_id % 97 <> 7
        |GROUP BY 1""".stripMargin,
    "text_normalize" ->
      // chr(769)=U+0301 combining acute, chr(1)=C0 control, chr(9)=tab,
      // chr(778)=U+030A combining ring — same synthetic suffix as the
      // entry; nfc_normalize is DuckDB's ICU NFC
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(
        |    nfc_normalize(text || '  cafe' || chr(769) || ' ' || chr(1) ||
        |                  'ctl' || chr(9) || 'here A' || chr(778)),
        |    '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
        |    '[ \t]+', ' ', 'g')) AS norm_text
        |FROM documents""".stripMargin,
    "text_bpe_pairs" ->
      """WITH words AS (
        |  SELECT lower(w) AS word, count(*) AS freq
        |  FROM documents, unnest(string_split(text, ' ')) AS t(w)
        |  WHERE w <> '' GROUP BY 1),
        |ex AS (
        |  SELECT word, freq, unnest(generate_series(1, len(word) - 1)) AS i
        |  FROM words WHERE len(word) >= 2)
        |SELECT substr(word, i, 2) AS pair,
        |       CAST(sum(freq) AS BIGINT) AS pair_count
        |FROM ex GROUP BY 1""".stripMargin,
    "text_length_hist" ->
      """SELECT CAST(floor(n_chars / 256.0) AS BIGINT) AS bucket,
        |       count(*) AS n, min(n_chars) AS min_chars,
        |       max(n_chars) AS max_chars
        |FROM documents GROUP BY 1""".stripMargin,
    "top_words_sketch" ->
      // the oracle is the PLAIN top-k: the sketch only proposes, the
      // output contract is exact; kth-boundary ties break by word asc
      // in both engines
      """WITH toks AS (
        |  SELECT lower(w) AS word
        |  FROM documents, unnest(string_split(text, ' ')) AS t(w)
        |  WHERE w <> '')
        |SELECT word, CAST(count(*) AS BIGINT) AS n
        |FROM toks GROUP BY 1
        |ORDER BY n DESC, word LIMIT 25""".stripMargin,
    // the merged-state read is exact (candidates + verify + fallback),
    // so the incremental maintenance path must EQUAL the plain top-k
    "q_topk_incremental" ->
      """WITH toks AS (
        |  SELECT lower(w) AS word
        |  FROM documents, unnest(string_split(text, ' ')) AS t(w)
        |  WHERE w <> '')
        |SELECT word, CAST(count(*) AS BIGINT) AS n
        |FROM toks GROUP BY 1
        |ORDER BY n DESC, word LIMIT 25""".stripMargin,
    "text_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, lower(w) AS word
        |  FROM documents, unnest(string_split(text, ' ')) AS t(w)
        |  WHERE w <> ''),
        |freqs AS (SELECT word, count(*) AS freq FROM toks GROUP BY 1),
        |tot AS (SELECT count(*) AS total FROM toks)
        |SELECT doc_id,
        |       round(avg(log10(CAST(freq AS DOUBLE) / total)), 6)
        |         AS avg_logprob
        |FROM toks JOIN freqs USING (word), tot
        |GROUP BY 1""".stripMargin,
    "text_bigram_logprob" ->
      """WITH t0 AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split(text, ' '), w -> lower(w)),
        |                w -> w <> '') AS arr
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, arr[i] || ' ' || arr[i + 1] AS bigram
        |  FROM t0, unnest(generate_series(1, len(arr) - 1)) AS u(i)
        |  WHERE len(arr) >= 2),
        |counts AS (SELECT bigram, count(*) AS freq FROM bi GROUP BY 1),
        |ctx AS (
        |  SELECT bigram, freq,
        |         sum(freq) OVER (PARTITION BY string_split(bigram, ' ')[1])
        |           AS ctx_total
        |  FROM counts)
        |SELECT doc_id,
        |       round(avg(log10(CAST(freq AS DOUBLE) / ctx_total)), 6)
        |         AS avg_bigram_logprob
        |FROM bi JOIN ctx USING (bigram)
        |GROUP BY 1""".stripMargin,
    "text_collocations" ->
      // identical tokenization to text_bigram_logprob; PMI is the same
      // IEEE expression order as the Spark side, totals cast out of
      // DuckDB's HUGEINT sum
      """WITH t0 AS (
        |  SELECT list_filter(list_transform(string_split(text, ' '),
        |           w -> lower(w)), w -> w <> '') AS arr
        |  FROM documents),
        |uni AS (SELECT t AS word, count(*) AS f
        |        FROM t0, unnest(arr) AS u(t) GROUP BY 1),
        |nu AS (SELECT CAST(sum(f) AS BIGINT) AS n_uni FROM uni),
        |bi AS (SELECT arr[i] || ' ' || arr[i + 1] AS bigram,
        |              count(*) AS freq
        |       FROM t0, unnest(generate_series(1, len(arr) - 1)) AS u(i)
        |       WHERE len(arr) >= 2 GROUP BY 1),
        |nb AS (SELECT CAST(sum(freq) AS BIGINT) AS n_bi FROM bi),
        |sel AS (SELECT bigram, freq FROM bi WHERE freq >= 5)
        |SELECT bigram, freq,
        |       round(log10((CAST(freq AS DOUBLE) / n_bi) /
        |               ((CAST(f1.f AS DOUBLE) / n_uni) *
        |                (CAST(f2.f AS DOUBLE) / n_uni))), 6) AS pmi
        |FROM sel
        |JOIN uni f1 ON f1.word = string_split(sel.bigram, ' ')[1]
        |JOIN uni f2 ON f2.word = string_split(sel.bigram, ' ')[2]
        |CROSS JOIN nu CROSS JOIN nb""".stripMargin,
    "text_train_logreg" -> OracleTrainLogRegSql,
    "text_classifier_calibration" -> OracleCalibrationSql,
    "text_classifier_score" ->
      // the weight table is rebuilt from the same deterministic formula
      // and the same portable md5-based feature hash the Spark side uses
      """WITH toks AS (
        |  SELECT doc_id, lower(t) AS word
        |  FROM documents,
        |       unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS u(t)),
        |feats AS (
        |  SELECT doc_id,
        |         CAST('0x' || substr(md5(word), 1, 8) AS BIGINT) % 4096 AS fid
        |  FROM toks),
        |w AS (
        |  SELECT f AS fid,
        |         CAST((f * 2654435761) % 10007 AS DOUBLE) / 10007.0 - 0.5 AS weight
        |  FROM range(4096) t(f))
        |SELECT doc_id,
        |       round(1.0 / (1.0 + exp(-(sum(weight) / count(*)))), 6) AS prob
        |FROM feats JOIN w USING (fid)
        |GROUP BY 1""".stripMargin,
    "text_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, lang = 'en' AS is_tgt, lower(t) AS word
        |  FROM documents,
        |       unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS u(t)),
        |vocab AS (
        |  SELECT word, count(*) AS raw_ct,
        |         sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS tgt_ct
        |  FROM toks GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(raw_ct) AS DOUBLE) AS raw_total,
        |         CAST(sum(tgt_ct) AS DOUBLE) AS tgt_total,
        |         CAST(count(*) AS DOUBLE) AS vsize
        |  FROM vocab),
        |scored AS (
        |  SELECT word,
        |         log10((tgt_ct + 0.5) / (tgt_total + 0.5 * vsize)) -
        |         log10((raw_ct + 0.5) / (raw_total + 0.5 * vsize)) AS llr
        |  FROM vocab CROSS JOIN tot)
        |SELECT doc_id, round(sum(llr), 6) AS dsir_logweight
        |FROM toks JOIN scored USING (word)
        |GROUP BY 1""".stripMargin,
    "text_winnowing" ->
      ("WITH " + OracleWinnowCte + "\n" +
        "SELECT doc_id, pos, fp FROM win"),
    "dedup_winnow_pairs" ->
      ("WITH " + OracleWinnowCte + ",\n" +
        """fps AS (SELECT DISTINCT doc_id, fp FROM win),
        |keep AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 64),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |      FROM fps a JOIN fps b USING (fp) JOIN keep USING (fp)
        |      WHERE a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared
        |FROM p GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),
    "q_fuzzy_join" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM n a JOIN n b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin,
    "text_stupid_backoff" ->
      // identical tokenization + expression shapes as the Spark side;
      // sums cast out of HUGEINT before any double math
      """WITH t0 AS (
        |  SELECT doc_id, length(source) AS slen,
        |    list_filter(list_transform(string_split(text, ' '), w -> lower(w)),
        |                w -> w <> '') AS arr
        |  FROM documents),
        |bilm AS (
        |  SELECT arr[i] || ' ' || arr[i + 1] AS bigram, count(*) AS cab
        |  FROM t0, unnest(generate_series(1, len(arr) - 1)) AS u(i)
        |  WHERE len(arr) >= 2 AND slen = 4 GROUP BY 1),
        |ctx AS (
        |  SELECT bigram, cab,
        |         sum(cab) OVER (PARTITION BY string_split(bigram, ' ')[1])
        |           AS ctxt
        |  FROM bilm),
        |unilm AS (SELECT t AS word, count(*) AS cb
        |          FROM t0, unnest(arr) AS u(t) WHERE slen = 4 GROUP BY 1),
        |n AS (SELECT coalesce(CAST(sum(cb) AS BIGINT), 1) AS nn FROM unilm),
        |bi AS (
        |  SELECT doc_id, arr[i] || ' ' || arr[i + 1] AS bigram
        |  FROM t0, unnest(generate_series(1, len(arr) - 1)) AS u(i)
        |  WHERE len(arr) >= 2)
        |SELECT bi.doc_id,
        |       round(avg(CASE WHEN c.cab IS NOT NULL
        |         THEN log10(CAST(c.cab AS DOUBLE) / c.ctxt)
        |         ELSE log10(0.4 * coalesce(CAST(u.cb AS DOUBLE), 0.5) / n.nn)
        |         END), 6) AS avg_backoff_logprob,
        |       CAST(sum(CASE WHEN c.cab IS NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_backoff
        |FROM bi
        |LEFT JOIN ctx c USING (bigram)
        |LEFT JOIN unilm u ON u.word = string_split(bi.bigram, ' ')[2]
        |CROSS JOIN n
        |GROUP BY 1""".stripMargin,
    "text_global_shuffle" ->
      """SELECT doc_id,
        |       CAST(row_number() OVER (
        |         ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id)
        |         AS BIGINT) AS shuffle_pos
        |FROM documents""".stripMargin,
    "q_upsert" ->
      """WITH c AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |ch AS (
        |  SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal,
        |         false AS del
        |  FROM c WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal, true FROM c
        |  WHERE c_custkey % 10 = 1
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'copy of ' || c_name, 0.0, false
        |  FROM c WHERE c_custkey % 10 = 2)
        |SELECT coalesce(ch.c_custkey, c.c_custkey) AS c_custkey,
        |       CASE WHEN ch.c_custkey IS NOT NULL THEN ch.c_name
        |            ELSE c.c_name END AS c_name,
        |       CASE WHEN ch.c_custkey IS NOT NULL THEN ch.c_acctbal
        |            ELSE c.c_acctbal END AS c_acctbal
        |FROM c FULL OUTER JOIN ch ON c.c_custkey = ch.c_custkey
        |WHERE NOT coalesce(ch.del, false)""".stripMargin,
    "q_stats_corr" ->
      // same exact-decimal moments, same double formula — unrounded.
      // Moments cross to double VIA VARCHAR: DuckDB's direct
      // decimal->double cast is 1 ulp off correctly-rounded on
      // int128-backed decimals; strtod (and Java BigDecimal) round
      // correctly, so the string hop makes the doubles bit-identical
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(19,4))) AS sx,
        |    sum(CAST(l_extendedprice AS DECIMAL(19,4))) AS sy,
        |    sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS sxx,
        |    sum(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS syy,
        |    sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS sxy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE) > 0
        |        AND CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE) > 0
        |       THEN (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
        |            / (sqrt(CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
        |               * sqrt(CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE)))
        |  END AS corr
        |FROM m""".stripMargin,
    "q_moving_avg" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT day, CAST(rev AS DOUBLE) AS revenue,
        |  CAST(sum(CAST(rev AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / count(*) OVER w AS moving_avg
        |FROM daily
        |WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_range_frame" ->
      // RANGE frame on the integer epoch-day key; frame sums stay
      // below 2^53 raw so the direct decimal->double cast is exact
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |d2 AS (SELECT day, rev,
        |         datediff('day', DATE '1970-01-01', day) AS epoch_day
        |       FROM daily)
        |SELECT day, CAST(rev AS DOUBLE) AS revenue,
        |  CAST(sum(CAST(rev AS DECIMAL(18,2)))
        |         OVER (ORDER BY epoch_day
        |               RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
        |       AS DOUBLE) AS rev30
        |FROM d2""".stripMargin,
    "q_anomaly" ->
      // same exact decimal frame moments; sums and the daily revenue
      // cross to double via VARCHAR (the correctly-rounded bridge —
      // both are int128-backed decimals)
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |m AS (
        |  SELECT day, CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS revenue,
        |    count(rev) OVER w AS n,
        |    CAST(CAST(sum(CAST(rev AS DECIMAL(19,2))) OVER w AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(sum(CAST(rev AS DECIMAL(19,2)) * CAST(rev AS DECIMAL(19,2))) OVER w AS VARCHAR) AS DOUBLE) AS sxx
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING))
        |SELECT day, revenue,
        |  CASE WHEN n >= 28 AND CAST(n AS DOUBLE) * sxx - sx * sx > 0
        |       THEN (revenue - sx / CAST(n AS DOUBLE))
        |            / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
        |                   / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
        |  END AS z
        |FROM m""".stripMargin,
    "q_bfs_dist" ->
      // three unrolled frontier rounds over the undirected trade
      // graph; seeds = custkey%50 customers that have orders
      """WITH e0 AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |und AS (SELECT src, dst FROM e0
        |        UNION SELECT dst AS src, src AS dst FROM e0),
        |d0 AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS node
        |       FROM orders WHERE o_custkey % 50 = 0),
        |d1 AS (SELECT DISTINCT u.dst AS node FROM und u
        |       JOIN d0 ON u.src = d0.node
        |       WHERE u.dst NOT IN (SELECT node FROM d0)),
        |d2 AS (SELECT DISTINCT u.dst AS node FROM und u
        |       JOIN d1 ON u.src = d1.node
        |       WHERE u.dst NOT IN (SELECT node FROM d0 UNION ALL
        |                           SELECT node FROM d1)),
        |d3 AS (SELECT DISTINCT u.dst AS node FROM und u
        |       JOIN d2 ON u.src = d2.node
        |       WHERE u.dst NOT IN (SELECT node FROM d0 UNION ALL
        |                           SELECT node FROM d1 UNION ALL
        |                           SELECT node FROM d2))
        |SELECT node, CAST(0 AS BIGINT) AS dist FROM d0
        |UNION ALL SELECT node, 1 FROM d1
        |UNION ALL SELECT node, 2 FROM d2
        |UNION ALL SELECT node, 3 FROM d3""".stripMargin,
    "q_quality_audit" ->
      // same metric formulas, same IEEE divisions of exact counts;
      // empty-table guard (CASE den=0) mirrors Quality.frac
      """SELECT 'not_null:o_custkey' AS "check",
        |  CASE WHEN count(*) = 0 THEN 1.0
        |       ELSE CAST(count(o_custkey) AS DOUBLE) / count(*) END AS metric,
        |  (CASE WHEN count(*) = 0 THEN 1.0
        |        ELSE CAST(count(o_custkey) AS DOUBLE) / count(*) END) >= 1.0 AS passed
        |FROM orders
        |UNION ALL
        |SELECT 'unique:o_orderkey',
        |  CASE WHEN count(o_orderkey) = 0 THEN 1.0
        |       ELSE CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(o_orderkey) END,
        |  (CASE WHEN count(o_orderkey) = 0 THEN 1.0
        |        ELSE CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(o_orderkey) END) = 1.0
        |FROM orders
        |UNION ALL
        |SELECT 'unique:o_custkey',
        |  CASE WHEN count(o_custkey) = 0 THEN 1.0
        |       ELSE CAST(count(DISTINCT o_custkey) AS DOUBLE) / count(o_custkey) END,
        |  (CASE WHEN count(o_custkey) = 0 THEN 1.0
        |        ELSE CAST(count(DISTINCT o_custkey) AS DOUBLE) / count(o_custkey) END) = 1.0
        |FROM orders
        |UNION ALL
        |SELECT 'in_range:o_totalprice',
        |  CASE WHEN count(o_totalprice) = 0 THEN 1.0
        |       ELSE CAST(count(CASE WHEN o_totalprice BETWEEN 0.0 AND 600000.0
        |                            THEN 1 END) AS DOUBLE) / count(o_totalprice) END,
        |  (CASE WHEN count(o_totalprice) = 0 THEN 1.0
        |        ELSE CAST(count(CASE WHEN o_totalprice BETWEEN 0.0 AND 600000.0
        |                             THEN 1 END) AS DOUBLE) / count(o_totalprice) END) = 1.0
        |FROM orders
        |UNION ALL
        |SELECT 'satisfies:status_known',
        |  CASE WHEN count(*) = 0 THEN 1.0
        |       ELSE CAST(count(CASE WHEN o_orderstatus IN ('F', 'O', 'P')
        |                            THEN 1 END) AS DOUBLE) / count(*) END,
        |  (CASE WHEN count(*) = 0 THEN 1.0
        |        ELSE CAST(count(CASE WHEN o_orderstatus IN ('F', 'O', 'P')
        |                             THEN 1 END) AS DOUBLE) / count(*) END) >= 1.0
        |FROM orders
        |UNION ALL
        |SELECT 'satisfies:recent',
        |  CASE WHEN count(*) = 0 THEN 1.0
        |       ELSE CAST(count(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01'
        |                            THEN 1 END) AS DOUBLE) / count(*) END,
        |  (CASE WHEN count(*) = 0 THEN 1.0
        |        ELSE CAST(count(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01'
        |                             THEN 1 END) AS DOUBLE) / count(*) END) >= 0.3
        |FROM orders
        |UNION ALL
        |SELECT 'foreign_key:o_custkey',
        |  CAST(count(*) AS DOUBLE),
        |  CAST(count(*) AS DOUBLE) = 0.0
        |FROM orders o
        |WHERE o.o_custkey IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM customer c
        |                  WHERE c.c_custkey = o.o_custkey)""".stripMargin,
    "q_profile" -> {
      val cols = Seq("l_orderkey", "l_linenumber", "l_shipdate", "l_returnflag")
      cols.map { c =>
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_val,
           |  CAST(max($c) AS VARCHAR) AS max_val
           |FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n")
    },
    "q_zorder" -> {
      // per-row 16-bit interleave spelled out as shift/mask terms (no
      // grouping: lineitem rows are not unique on any short key)
      val terms = (0 until 16).flatMap { i => Seq(
        s"((((l_partkey % 65536) >> $i) & 1) << ${2 * i + 1})",
        s"((((l_suppkey % 65536) >> $i) & 1) << ${2 * i})")
      }
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  CAST(${terms.mkString(" + ")} AS BIGINT) AS zkey
         |FROM lineitem""".stripMargin
    },
    // survivors of the copy-on-write erase — NOT IN checks both the
    // removal and the untouched remainder
    "q_targeted_delete" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id NOT IN (7, 8, 42)""".stripMargin,
    // v1 = pre-delete corpus via time travel; head = post-delete,
    // post-compaction (the compaction commit must not move a row)
    "q_timetravel" ->
      """SELECT doc_id, 'v1' AS snap FROM documents
        |UNION ALL
        |SELECT doc_id, 'head' AS snap FROM documents
        |WHERE doc_id NOT IN (7, 8, 42)""".stripMargin,
    // the masked snapshot: everything except the dv-deleted residue
    // class — independent of how the mask is stored or purged
    "q_table_dv_delete" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 19 <> 3""".stripMargin,
    // the dv interval's change feed: exactly the masked keys as
    // deletes, nothing inserted
    "q_table_dv_cdc" ->
      """SELECT doc_id, lang, n_chars, 'delete' AS change FROM documents
        |WHERE doc_id % 19 = 3""".stripMargin,
    // the string slice's semantics, independent of which files were
    // pruned (ASCII-only values, so DuckDB's and Spark's string
    // orders agree)
    "q_table_skipping_str" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang >= 'de' AND lang <= 'en'""".stripMargin,
    // the IS NOT NULL slice's semantics: exactly the odd-parity rows
    // (the even file's lang_opt is entirely NULL and contributes
    // nothing, pruned or not)
    "q_table_skipping_null" ->
      """SELECT doc_id, lang AS lang_opt, n_chars FROM documents
        |WHERE doc_id % 2 = 1""".stripMargin,
    // the partition slice's semantics: the 'en' rows minus the
    // targeted-delete keys, independent of which files were pruned
    "q_table_partitioned" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'en' AND doc_id NOT IN (7, 8, 42)""".stripMargin,
    // the fr partition after its scoped optimize: same rows as any
    // time (the maintenance is logically a no-op), minus the
    // targeted-delete keys
    "q_table_optimize_part" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'fr' AND doc_id NOT IN (7, 8, 42)""".stripMargin,
    // the writer lifecycle's semantics: head = the overwrite's
    // residue-1 rows plus the later residue-2 append; v0 = the
    // overwritten residue-0 append, intact under time travel
    "q_table_overwrite" ->
      """SELECT doc_id, lang, n_chars, 'head' AS snap FROM documents
        |WHERE doc_id % 3 <> 0
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'v0' AS snap FROM documents
        |WHERE doc_id % 3 = 0""".stripMargin,
    // the SQL-by-path read is the whole single-append table filtered
    // to one language — pruning is the plan's business, not the rows'
    "q_table_sql" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'en'""".stripMargin,
    // the SQL DML lifecycle's semantics: head = the INSERT OVERWRITE's
    // residue-2 rows plus the later residue-0 INSERT; v1 = the seed
    // append plus the first INSERT, intact under SQL time travel
    "q_table_sql_dml" ->
      """SELECT doc_id, lang, n_chars, 'head' AS snap FROM documents
        |WHERE doc_id % 3 <> 1
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'v1' AS snap FROM documents
        |WHERE doc_id % 3 <> 2""".stripMargin,
    // the SQL UPDATE lifecycle's semantics: head = the mod-13
    // residue-5 rows re-langed and negated, everything else intact;
    // v0 = the seed, intact under SQL time travel
    "q_table_sql_update" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 13 = 5 THEN 'up' ELSE lang END AS lang,
        |       CASE WHEN doc_id % 13 = 5 THEN -n_chars
        |            ELSE n_chars END AS n_chars,
        |       'head' AS snap
        |FROM documents
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'v0' AS snap FROM documents""".stripMargin,
    // the split-read lifecycle's semantics: everything but the five
    // smallest doc_ids (doc_id is unique and non-null)
    "q_table_dv_split" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id NOT IN (
        |  SELECT doc_id FROM documents ORDER BY doc_id LIMIT 5)""".stripMargin,
    // the partitioned SQL UPDATE's semantics: the en partition's
    // n_chars negated, every other partition intact
    "q_table_sql_update_part" ->
      """SELECT doc_id, lang,
        |       CASE WHEN lang = 'en' THEN -n_chars
        |            ELSE n_chars END AS n_chars
        |FROM documents""".stripMargin,
    // the SQL ALTER lifecycle's semantics: the even seed predates the
    // column (NULL by the evolution contract), the odd INSERT supplies
    // it
    "q_table_sql_alter" ->
      """SELECT doc_id, lang, n_chars, CAST(NULL AS BIGINT) AS quality
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, lang, n_chars, n_chars % 100 AS quality
        |FROM documents WHERE doc_id % 2 = 1""".stripMargin,
    // the column-mapping lifecycle's semantics: at the head every row
    // carries its n_chars under the RENAMED name and the dropped-
    // then-re-added lang is NULL (fresh physical name); v0 replays
    // the even seed under the original names
    "q_table_sql_colmap" ->
      """SELECT doc_id, n_chars AS body_chars,
        |       CAST(NULL AS VARCHAR) AS lang, 'head' AS snap
        |FROM documents
        |UNION ALL
        |SELECT doc_id, n_chars AS body_chars, lang, 'v0' AS snap
        |FROM documents WHERE doc_id % 2 = 0""".stripMargin,
    // the widening lifecycle's semantics: the even seed keeps its int
    // values (read wide), the odd insert landed shifted past the
    // int32 range, and v0 replays the even seed
    "q_table_sql_colwiden" ->
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS nc,
        |       'head' AS snap
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, lang,
        |       CAST(n_chars AS BIGINT) + 3000000000 AS nc,
        |       'head' AS snap
        |FROM documents WHERE doc_id % 2 = 1
        |UNION ALL
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS nc,
        |       'v0' AS snap
        |FROM documents WHERE doc_id % 2 = 0""".stripMargin,
    // the hidden-partition lifecycle's semantics: v0 (even ids,
    // transform append) plus v1 (odd ids, SQL INSERT) reassemble the
    // whole events table, so the window aggregation and the point
    // probe replay directly over the source
    "q_table_hidden_partition" ->
      """SELECT event_type, COUNT(*) AS n,
        |       CAST(SUM(user_id) AS BIGINT) AS su
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type
        |UNION ALL
        |SELECT 'user42' AS event_type, COUNT(*) AS n,
        |       CAST(SUM(event_id) AS BIGINT) AS su
        |FROM events WHERE user_id = 42""".stripMargin,
    // the clamped-vacuum lifecycle's semantics: head = the dv
    // delete's survivors; v0 = everything (the retention clamp
    // refused to truncate it)
    "q_table_purge_clamped" ->
      """SELECT doc_id, lang, n_chars, 'head' AS snap FROM documents
        |WHERE doc_id % 10 <> 0
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'v0' AS snap
        |FROM documents""".stripMargin,
    // the pruned-planning lifecycle's semantics: everything but the
    // five smallest ids (masked by the suffix's deletion vector)
    "q_table_pruned_scan" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id NOT IN (
        |  SELECT doc_id FROM documents ORDER BY doc_id LIMIT 5)""".stripMargin,
    // the SQL MERGE lifecycle's semantics: the even seed with mod-3
    // keys re-langed (matched updates), plus the odd multiples of 3
    // inserted as 'mg'
    "q_table_sql_merge" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 3 = 0 THEN 'mg' ELSE lang END AS lang,
        |       n_chars
        |FROM documents
        |WHERE doc_id % 2 = 0 OR doc_id % 3 = 0""".stripMargin,
    // the CALL-maintenance lifecycle's semantics: every maintenance
    // commit (purge/optimize/restore) is logically a no-op on the dv
    // delete's survivors; head additionally lost the SQL-deleted de
    // rows (NULL-lang rows would survive — COALESCE spelling)
    "q_table_sql_maintenance" ->
      """SELECT doc_id, lang, n_chars, 'head' AS snap FROM documents
        |WHERE doc_id % 7 <> 2 AND COALESCE(lang <> 'de', TRUE)
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'v3' AS snap FROM documents
        |WHERE doc_id % 7 <> 2""".stripMargin,
    // the SQL DELETE lifecycle's semantics: head = the survivors of
    // DELETE WHERE lang = 'fr' AND doc_id >= 100 (rows where the
    // predicate is NULL survive — hence the COALESCE spelling); v0 =
    // the pre-delete fr slice, intact under SQL time travel
    "q_table_sql_delete" ->
      """SELECT doc_id, lang, n_chars, 'head' AS snap FROM documents
        |WHERE COALESCE(NOT (lang = 'fr' AND doc_id >= 100), TRUE)
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'v0' AS snap FROM documents
        |WHERE lang = 'fr'""".stripMargin,
    // the branch head: the dv mask (mod-19 residue 3) carried over,
    // the merge re-langs residue-1-mod-31 keys in place and re-adds
    // the masked ones in that residue
    "q_table_clone" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 31 = 1 THEN 'cl' ELSE lang END AS lang,
        |       n_chars
        |FROM documents
        |WHERE doc_id % 19 <> 3 OR doc_id % 31 = 1""".stripMargin,
    // the purged head: the mod-10 residue-0 rows are gone — whether a
    // rewrite dropped them physically or the mask still hides them is
    // the layout's business, not the reader's
    "q_table_purge" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 10 <> 0""".stripMargin,
    // the restored head: the dv delete (mod-23 residue 5) is back in
    // force, the undone copy-on-write delete (residue 7) is not
    "q_table_restore" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 23 <> 5""".stripMargin,
    // the restore interval's change feed: the copy-on-write-deleted
    // rows return as inserts, nothing falls out
    "q_table_restore_cdc" ->
      """SELECT doc_id, lang, n_chars, 'insert' AS change FROM documents
        |WHERE doc_id % 23 = 7""".stripMargin,
    // merge semantics spelled out: updated keys take the new lang, new
    // keys append, everything else unchanged — and the optimize commit
    // after the merge must leave all of it untouched
    "q_txlog_merge" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 10 = 3 THEN 'xx' ELSE lang END AS lang,
        |       n_chars
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id, 'new' AS lang, n_chars
        |FROM documents WHERE doc_id % 50 = 0""".stripMargin,
    // the merge interval's CDF from first principles: every residue-3
    // key pairs its original row (preimage) with the re-langed row
    // (postimage); the +1000000 keys never existed before — inserts;
    // nothing is deleted. (No original lang is 'xx', so no pre/post
    // row can coincide.)
    "q_table_merge_cdc" ->
      """SELECT doc_id, lang, n_chars,
        |       'update_preimage' AS change_type
        |FROM documents WHERE doc_id % 10 = 3
        |UNION ALL
        |SELECT doc_id, 'xx' AS lang, n_chars,
        |       'update_postimage' AS change_type
        |FROM documents WHERE doc_id % 10 = 3
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id, 'new' AS lang, n_chars,
        |       'insert' AS change_type
        |FROM documents WHERE doc_id % 50 = 0""".stripMargin,
    // v0→head net change: the 20% append inserts (none of the deleted
    // keys are ≡0 mod 5, so no overlap), the delete removes its three
    // rows, the compaction contributes nothing
    "q_table_changes" ->
      """SELECT doc_id, lang, n_chars, 'insert' AS change FROM documents
        |WHERE doc_id % 5 = 0
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'delete' AS change FROM documents
        |WHERE doc_id IN (7, 8, 42)""".stripMargin,
    // the append-only consumer saw slices 0..2 exactly once each (the
    // compaction interval nets to zero rows); the delete and slice 3
    // landed after it detached
    "q_table_stream_read" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 4 IN (0, 1, 2)""".stripMargin,
    // the cdc replay: every slice inserted exactly once; deletes are
    // the keys PRESENT at delete time (7 ≡ 3 mod 4 was not yet
    // appended, so only 8 and 42 fall)
    "q_table_cdc_feed" ->
      """SELECT doc_id, lang, n_chars, 'insert' AS change FROM documents
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'delete' AS change FROM documents
        |WHERE doc_id IN (7, 8, 42) AND doc_id % 4 <> 3""".stripMargin,
    // the ledger recomputed from first principles: per-version op and
    // file counts follow from the coalesced layout, and the row stats
    // are slice counts over documents (3, 9, 27 are the deleted keys,
    // all ≡0 mod 3 — the rewrite touches only v0's file)
    "q_table_history" ->
      """WITH n0 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents
        |            WHERE doc_id % 3 = 0),
        |     n1 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents
        |            WHERE doc_id % 3 = 1)
        |SELECT CAST(0 AS BIGINT) AS version, 'append' AS op,
        |       CAST(1 AS INTEGER) AS n_adds, CAST(0 AS INTEGER) AS n_removes,
        |       (SELECT c FROM n0) AS rows_added,
        |       CAST(0 AS BIGINT) AS rows_removed
        |UNION ALL
        |SELECT 1, 'append', 1, 0, (SELECT c FROM n1), 0
        |UNION ALL
        |SELECT 2, 'delete', 1, 1, (SELECT c FROM n0) - 3, (SELECT c FROM n0)
        |UNION ALL
        |SELECT 3, 'compact', 1, 2,
        |       (SELECT c FROM n0) + (SELECT c FROM n1) - 3,
        |       (SELECT c FROM n0) + (SELECT c FROM n1) - 3
        |UNION ALL
        |SELECT 4, 'optimize', 2, 1,
        |       (SELECT c FROM n0) + (SELECT c FROM n1) - 3,
        |       (SELECT c FROM n0) + (SELECT c FROM n1) - 3""".stripMargin,
    // the slice's semantics, independent of which files were pruned:
    // table = documents with doc_id % 3 in (0, 1) minus the deleted
    // keys (3, 9, 27), sliced to doc_id <= 100
    "q_table_skipping" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id <= 100 AND doc_id % 3 IN (0, 1)
        |  AND doc_id NOT IN (3, 9, 27)""".stripMargin,
    "q_pagerank" ->
      // three unrolled power-iteration rounds; (1.0 - 0.85) is spelled
      // as the same IEEE subtraction the Spark side computes
      """WITH e0 AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |und AS (SELECT src, dst FROM e0
        |        UNION SELECT dst AS src, src AS dst FROM e0),
        |deg AS (SELECT src, count(*) AS outdeg FROM und GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM deg),
        |r0 AS (SELECT src AS node, 1.0 / nn AS rank FROM deg, n),
        |r1 AS (SELECT u.dst AS node,
        |              (1.0 - 0.85) / min(n.nn) + 0.85 * sum(r.rank / d.outdeg) AS rank
        |       FROM und u JOIN r0 r ON u.src = r.node
        |                  JOIN deg d ON u.src = d.src CROSS JOIN n
        |       GROUP BY u.dst),
        |r2 AS (SELECT u.dst AS node,
        |              (1.0 - 0.85) / min(n.nn) + 0.85 * sum(r.rank / d.outdeg) AS rank
        |       FROM und u JOIN r1 r ON u.src = r.node
        |                  JOIN deg d ON u.src = d.src CROSS JOIN n
        |       GROUP BY u.dst),
        |r3 AS (SELECT u.dst AS node,
        |              (1.0 - 0.85) / min(n.nn) + 0.85 * sum(r.rank / d.outdeg) AS rank
        |       FROM und u JOIN r2 r ON u.src = r.node
        |                  JOIN deg d ON u.src = d.src CROSS JOIN n
        |       GROUP BY u.dst)
        |SELECT node, round(rank, 8) AS rank FROM r3""".stripMargin,
    "q_ppr" ->
      // personalized teleport: (1.0 - 0.85) / |S| on seed nodes, 0
      // elsewhere — the same IEEE expressions the Scala side computes
      """WITH e0 AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |und AS (SELECT src, dst FROM e0
        |        UNION SELECT dst AS src, src AS dst FROM e0),
        |deg AS (SELECT src, count(*) AS outdeg FROM und GROUP BY 1),
        |s AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS node
        |      FROM orders WHERE o_custkey % 50 = 0),
        |sn AS (SELECT CAST(count(*) AS DOUBLE) AS sn FROM s),
        |r0 AS (SELECT d.src AS node,
        |              CASE WHEN s.node IS NOT NULL THEN 1.0 / sn.sn
        |                   ELSE 0.0 END AS rank
        |       FROM deg d LEFT JOIN s ON d.src = s.node CROSS JOIN sn),
        |r1 AS (SELECT c.node,
        |              CASE WHEN s.node IS NOT NULL
        |                   THEN (1.0 - 0.85) / sn.sn ELSE 0.0 END
        |              + 0.85 * c.contrib AS rank
        |       FROM (SELECT u.dst AS node, sum(r.rank / d.outdeg) AS contrib
        |             FROM und u JOIN r0 r ON u.src = r.node
        |                        JOIN deg d ON u.src = d.src
        |             GROUP BY u.dst) c
        |       LEFT JOIN s ON c.node = s.node CROSS JOIN sn),
        |r2 AS (SELECT c.node,
        |              CASE WHEN s.node IS NOT NULL
        |                   THEN (1.0 - 0.85) / sn.sn ELSE 0.0 END
        |              + 0.85 * c.contrib AS rank
        |       FROM (SELECT u.dst AS node, sum(r.rank / d.outdeg) AS contrib
        |             FROM und u JOIN r1 r ON u.src = r.node
        |                        JOIN deg d ON u.src = d.src
        |             GROUP BY u.dst) c
        |       LEFT JOIN s ON c.node = s.node CROSS JOIN sn),
        |r3 AS (SELECT c.node,
        |              CASE WHEN s.node IS NOT NULL
        |                   THEN (1.0 - 0.85) / sn.sn ELSE 0.0 END
        |              + 0.85 * c.contrib AS rank
        |       FROM (SELECT u.dst AS node, sum(r.rank / d.outdeg) AS contrib
        |             FROM und u JOIN r2 r ON u.src = r.node
        |                        JOIN deg d ON u.src = d.src
        |             GROUP BY u.dst) c
        |       LEFT JOIN s ON c.node = s.node CROSS JOIN sn)
        |SELECT node, round(rank, 8) AS rank FROM r3""".stripMargin,
    "q_label_prop" ->
      // two unrolled synchronous LPA rounds; argmax = (count DESC,
      // label ASC) row_number, the same deterministic rule as the
      // Spark side
      """WITH e0 AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |und AS (SELECT src, dst FROM e0
        |        UNION SELECT dst AS src, src AS dst FROM e0),
        |c1 AS (SELECT u.dst AS node, u.src AS label, count(*) AS c
        |       FROM und u GROUP BY 1, 2),
        |l1 AS (SELECT node, label FROM (
        |         SELECT node, label,
        |                row_number() OVER (PARTITION BY node
        |                  ORDER BY c DESC, label) AS rn
        |         FROM c1) WHERE rn = 1),
        |c2 AS (SELECT u.dst AS node, l.label, count(*) AS c
        |       FROM und u JOIN l1 l ON u.src = l.node GROUP BY 1, 2),
        |l2 AS (SELECT node, label FROM (
        |         SELECT node, label,
        |                row_number() OVER (PARTITION BY node
        |                  ORDER BY c DESC, label) AS rn
        |         FROM c2) WHERE rn = 1)
        |SELECT node, label FROM l2""".stripMargin,
    "q_connected_components" ->
      // min-reachable-label components via transitive closure; the
      // Spark side's large/small-star rounds converge to the same
      // smallest-reachable-id labeling
      """WITH RECURSIVE p AS (
        |  SELECT CAST(o_custkey * 2 AS BIGINT) AS src,
        |         CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst, count(*) AS n
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        |e0 AS (SELECT src, dst FROM p WHERE n >= 4),
        |e AS (SELECT src AS a, dst AS b FROM e0
        |      UNION SELECT dst, src FROM e0),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
        |SELECT a AS node, least(a, min(b)) AS component
        |FROM reach GROUP BY a""".stripMargin,
    "q_triangles" ->
      // same degree-ordered orientation as the Spark side: edge
      // directed low (degree, node) -> high, wedge pairs ordered the
      // same way, one closing-edge join; coefficient is the identical
      // IEEE expression (2.0 * t / (d * (d - 1)))
      """WITH b AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |           FROM lineitem),
        |kept AS (SELECT g FROM b GROUP BY g
        |         HAVING count(*) BETWEEN 2 AND 1000),
        |c AS (SELECT b.g, b.i FROM b JOIN kept USING (g)),
        |co AS (SELECT a.i AS pa, b2.i AS pb
        |       FROM c a JOIN c b2 ON a.g = b2.g AND a.i < b2.i
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT pa AS x, pb AS y FROM co
        |        UNION ALL SELECT pb, pa FROM co),
        |deg AS (SELECT x AS node, count(*) AS d FROM sym GROUP BY 1),
        |orient AS (
        |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND co.pa < co.pb)
        |              THEN co.pa ELSE co.pb END AS src,
        |         CASE WHEN da.d < db.d OR (da.d = db.d AND co.pa < co.pb)
        |              THEN co.pb ELSE co.pa END AS dst
        |  FROM co JOIN deg da ON da.node = co.pa
        |          JOIN deg db ON db.node = co.pb),
        |od AS (SELECT o.src, o.dst, d.d AS dd
        |       FROM orient o JOIN deg d ON d.node = o.dst),
        |tri AS (
        |  SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
        |  FROM od o1 JOIN od o2 ON o1.src = o2.src
        |    AND (o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst))
        |  JOIN orient o3 ON o3.src = o1.dst AND o3.dst = o2.dst),
        |pn AS (SELECT node, count(*) AS triangles FROM (
        |         SELECT u AS node FROM tri
        |         UNION ALL SELECT v FROM tri
        |         UNION ALL SELECT w FROM tri)
        |       GROUP BY 1)
        |SELECT deg.node, deg.d AS degree,
        |       COALESCE(pn.triangles, 0) AS triangles,
        |       CASE WHEN deg.d >= 2
        |            THEN 2.0 * COALESCE(pn.triangles, 0) / (deg.d * (deg.d - 1))
        |            ELSE 0.0 END AS clustering_coeff
        |FROM deg LEFT JOIN pn ON pn.node = deg.node""".stripMargin,
    "q_kcore" ->
      // 3 unrolled peel rounds; extra rounds past the fixpoint are
      // no-ops, so the bounded form is exactly comparable
      """WITH tr AS (SELECT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |            GROUP BY 1, 2 HAVING count(*) >= 3),
        |e0 AS (SELECT src, dst FROM tr UNION SELECT dst, src FROM tr),
        |k0 AS (SELECT src FROM e0 GROUP BY src HAVING count(*) >= 3),
        |e1 AS (SELECT e.src, e.dst FROM e0 e
        |       WHERE e.src IN (SELECT src FROM k0)
        |         AND e.dst IN (SELECT src FROM k0)),
        |k1 AS (SELECT src FROM e1 GROUP BY src HAVING count(*) >= 3),
        |e2 AS (SELECT e.src, e.dst FROM e1 e
        |       WHERE e.src IN (SELECT src FROM k1)
        |         AND e.dst IN (SELECT src FROM k1)),
        |k2 AS (SELECT src FROM e2 GROUP BY src HAVING count(*) >= 3),
        |e3 AS (SELECT e.src, e.dst FROM e2 e
        |       WHERE e.src IN (SELECT src FROM k2)
        |         AND e.dst IN (SELECT src FROM k2))
        |SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |FROM e3 GROUP BY 1""".stripMargin,
    "q_graph_related" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |           FROM lineitem),
        |kept AS (SELECT g FROM b GROUP BY g
        |         HAVING count(*) BETWEEN 2 AND 10000),
        |c AS (SELECT b.g, b.i FROM b JOIN kept USING (g)),
        |ideg AS (SELECT i, count(*) AS d FROM c GROUP BY 1),
        |co AS (SELECT a.i AS item_a, b2.i AS item_b, count(*) AS shared
        |       FROM c a JOIN c b2 ON a.g = b2.g AND a.i < b2.i
        |       GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT item_a, item_b, shared,
        |       CAST(shared AS DOUBLE) / (da.d + db.d - shared) AS jaccard
        |FROM co JOIN ideg da ON da.i = item_a
        |        JOIN ideg db ON db.i = item_b
        |ORDER BY jaccard DESC, item_a, item_b
        |LIMIT 100""".stripMargin,
    "dedup_incremental" -> OracleIncrementalSql,
    // the Bloom-pruned variant is output-identical BY CONSTRUCTION
    // (no false negatives; positives exact-confirmed) — same oracle
    "dedup_incremental_bloom" -> OracleIncrementalSql,
    "text_span_dedup" ->
      """WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
        |sp AS (
        |  SELECT doc_id, i AS s, array_to_string(arr[i : i + 7], ' ') AS span
        |  FROM t0, unnest(generate_series(1, len(arr) - 7)) AS u(i)),
        |d AS (SELECT span FROM sp GROUP BY span
        |      HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (
        |  SELECT DISTINCT sp.doc_id, p
        |  FROM sp JOIN d USING (span),
        |       unnest(generate_series(sp.s, sp.s + 7)) AS g(p)),
        |tok AS (
        |  SELECT doc_id, i AS p, arr[i] AS tokval
        |  FROM t0, unnest(generate_series(1, len(arr))) AS u(i)),
        |kept AS (
        |  SELECT t.doc_id, t.p, t.tokval
        |  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
        |  WHERE c.p IS NULL),
        |k2 AS (SELECT doc_id, count(*) AS n_kept,
        |         string_agg(tokval, ' ' ORDER BY p) AS clean_text
        |       FROM kept GROUP BY doc_id)
        |SELECT t0.doc_id, CAST(len(t0.arr) AS BIGINT) AS n_tokens,
        |  CAST(len(t0.arr) - coalesce(k2.n_kept, 0) AS BIGINT) AS n_removed,
        |  k2.clean_text
        |FROM t0 LEFT JOIN k2 USING (doc_id)""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |       sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_returnflag), ())""".stripMargin,
    "text_filter_pipeline" ->
      """WITH nrm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |      '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'), '[ \t]+', ' ', 'g')) AS text
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text),
        |      '[ \t\r\n,.:;''"()\[\]{}/<>!?|\-—#$&=_*+]+'), x -> x <> '')) AS DOUBLE) AS ntoks,
        |    CAST(length(text) AS DOUBLE) AS nchars,
        |    CAST(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS DOUBLE) AS alnum,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text),
        |      '[ \t\r\n,.:;''"()\[\]{}/<>!?|\-—#$&=_*+]+'),
        |      x -> list_contains(['the','and','of','to','a','in','is','that','for','with'], x))) AS DOUBLE) AS stophits
        |  FROM nrm),
        |scored AS (
        |  SELECT doc_id, CAST(ntoks AS BIGINT) AS n_tokens,
        |    round(least(ntoks / 64.0, 1.0) * 0.25
        |      + (alnum / greatest(nchars, 1.0)) * 0.25
        |      + least(stophits / greatest(ntoks, 1.0) * 4.0, 1.0) * 0.25
        |      + least(nchars / greatest(ntoks, 1.0) / 8.0, 1.0) * 0.25, 4) AS quality
        |  FROM q),
        |k AS (SELECT min(doc_id) AS doc_id FROM nrm GROUP BY md5(text))
        |SELECT s.doc_id, s.n_tokens, s.quality
        |FROM scored s JOIN k USING (doc_id)
        |WHERE s.quality >= 0.6
        |  AND md5('' || CAST(s.doc_id AS VARCHAR)) <
        |      '80000000000000000000000000000000'""".stripMargin,
    "q_cross_join" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation",
    "q_set_ops" ->
      """WITH urgent AS (SELECT o_custkey FROM orders
        |               WHERE o_orderpriority = '1-URGENT'),
        |open_o AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |SELECT o_custkey, 'both' AS op
        |FROM (SELECT o_custkey FROM urgent INTERSECT SELECT o_custkey FROM open_o)
        |UNION ALL
        |SELECT o_custkey, 'urgent_only' AS op
        |FROM (SELECT o_custkey FROM urgent EXCEPT SELECT o_custkey FROM open_o)""".stripMargin,
    "q_count_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1""".stripMargin,
    "text_edit_distance" ->
      """SELECT doc_id,
        |  CAST(levenshtein(substr(text, 1, 40),
        |    substr(regexp_replace(text, 'a', 'o', 'g'), 1, 40)) AS INT)
        |    AS edit_dist
        |FROM documents""".stripMargin,
    "q_skew_join" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "q_skew_agg" ->
      """SELECT l_returnflag, sum(l_quantity) AS sum_l_quantity,
        |       count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_date_parts" ->
      """SELECT year(ts) AS y, month(ts) AS m, day(ts) AS d,
        |       count(*) AS n, min(hour(ts)) AS min_h, max(hour(ts)) AS max_h
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "q_running_total" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  sum(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity,
        |             l_extendedprice, l_discount, l_tax, l_shipdate
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty,
        |  lag(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity,
        |             l_extendedprice, l_discount, l_tax, l_shipdate) AS prev_qty
        |FROM lineitem""".stripMargin,
    "q_subqueries" ->
      """SELECT c_custkey, c_name,
        |       (SELECT count(*) FROM orders o
        |        WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS P
        |FROM orders GROUP BY 1""".stripMargin,
    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""".stripMargin,
    // single global window in the oracle; the Spark side must reproduce
    // it with its two-level bucketed scan (bucketSize 64 in the entry)
    "text_pack_sequences" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
        |  FROM toks)
        |SELECT doc_id, n_tokens, start_tok,
        |       CAST(start_tok // 512 AS BIGINT) AS seq_first,
        |       CAST((start_tok + n_tokens - 1) // 512 AS BIGINT) AS seq_last,
        |       CAST((start_tok + n_tokens - 1) // 512 - start_tok // 512 + 1 AS BIGINT) AS n_seqs
        |FROM cum WHERE n_tokens > 0""".stripMargin,
    "text_mixture_sample" ->
      s"""SELECT doc_id, lang, source FROM (
         |  SELECT doc_id, lang, source,
         |         ROW_NUMBER() OVER (PARTITION BY source
         |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= $mixTargetCase""".stripMargin,
    "text_pack_manifest" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
        |  FROM toks),
        |packed AS (
        |  SELECT doc_id, n_tokens, start_tok,
        |         start_tok // 512 AS seq_first,
        |         (start_tok + n_tokens - 1) // 512 AS seq_last
        |  FROM cum WHERE n_tokens > 0)
        |SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
        |       CAST(LEAST((seq_id + 1) * 512, start_tok + n_tokens)
        |            - GREATEST(seq_id * 512, start_tok) AS BIGINT) AS seq_tokens
        |FROM (SELECT doc_id, n_tokens, start_tok,
        |             unnest(generate_series(seq_first, seq_last)) AS seq_id
        |      FROM packed)""".stripMargin,
    "text_split_assign" ->
      s"SELECT doc_id, $splitCase AS split FROM documents",
    // DuckDB list_slice is 1-based with INCLUSIVE end: begin gs-S+1,
    // end ge-S reproduce Spark's slice(start, length) exactly
    "text_pack_emit" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |counts AS (
        |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
        |cum AS (
        |  SELECT doc_id, t, n_tokens,
        |         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
        |  FROM counts),
        |packed AS (
        |  SELECT doc_id, t, n_tokens, start_tok,
        |         start_tok // 512 AS seq_first,
        |         (start_tok + n_tokens - 1) // 512 AS seq_last
        |  FROM cum WHERE n_tokens > 0),
        |expl AS (
        |  SELECT doc_id, t, n_tokens, start_tok,
        |         unnest(generate_series(seq_first, seq_last)) AS seq_id
        |  FROM packed),
        |frags AS (
        |  SELECT seq_id, start_tok,
        |         list_slice(t,
        |           CAST(GREATEST(seq_id * 512, start_tok) - start_tok + 1 AS BIGINT),
        |           CAST(LEAST((seq_id + 1) * 512, start_tok + n_tokens) - start_tok AS BIGINT)) AS frag
        |  FROM expl)
        |SELECT CAST(seq_id AS BIGINT) AS seq_id,
        |       CAST(SUM(len(frag)) AS BIGINT) AS seq_tokens,
        |       array_to_string(flatten(list(frag ORDER BY start_tok)), ' ') AS seq_text
        |FROM frags GROUP BY seq_id""".stripMargin,
    "q_group_quantiles" ->
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.25) AS q1,
        |       quantile_cont(l_quantity, 0.5) AS med,
        |       quantile_cont(l_quantity, 0.75) AS q3,
        |       min(l_quantity) AS qmin, max(l_quantity) AS qmax
        |FROM lineitem GROUP BY 1""".stripMargin,
    // NULLS FIRST mirrors ScalableRank (= Spark's window default);
    // DuckDB's bare ORDER BY would sort NULL keys last
    "q_global_rank" ->
      """SELECT doc_id, n_chars,
        |       CAST(row_number() OVER (ORDER BY n_chars NULLS FIRST, doc_id) AS BIGINT) AS rk
        |FROM documents""".stripMargin,
    "q_ntile" ->
      """SELECT doc_id, n_chars,
        |       CAST(ntile(10) OVER (ORDER BY n_chars NULLS FIRST, doc_id) AS INT) AS tile
        |FROM documents""".stripMargin,
    // ---- round-7 additions ----
    // the greedy MMR selection, unrolled: each step scores the
    // remaining pool as 0.7*qcos - 0.3*max(cos to selected) over
    // 4-dp-rounded cosines, ties to the smaller vec_id
    "sim_mmr_rerank" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id = 0),
        |pool AS (
        |  SELECT e.vec_id,
        |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.e), 4) AS qcos,
        |         CAST(e.embedding AS DOUBLE[]) AS emb
        |  FROM embeddings e, q WHERE e.vec_id <> 0
        |  ORDER BY qcos DESC, e.vec_id LIMIT 20),
        |pw AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |         round(list_cosine_similarity(a.emb, b.emb), 4) AS pcos
        |  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
        |p1 AS (SELECT vec_id, 0.7 * qcos AS score FROM pool ORDER BY score DESC, vec_id LIMIT 1),
        |sel1 AS (SELECT vec_id FROM p1),
        |p2 AS (
        |  SELECT p.vec_id, 0.7 * p.qcos - 0.3 * (SELECT max(pcos) FROM pw
        |      WHERE pw.va = p.vec_id AND pw.vb IN (SELECT vec_id FROM sel1)) AS score
        |  FROM pool p WHERE p.vec_id NOT IN (SELECT vec_id FROM sel1)
        |  ORDER BY score DESC, p.vec_id LIMIT 1),
        |sel2 AS (SELECT vec_id FROM sel1 UNION ALL SELECT vec_id FROM p2),
        |p3 AS (
        |  SELECT p.vec_id, 0.7 * p.qcos - 0.3 * (SELECT max(pcos) FROM pw
        |      WHERE pw.va = p.vec_id AND pw.vb IN (SELECT vec_id FROM sel2)) AS score
        |  FROM pool p WHERE p.vec_id NOT IN (SELECT vec_id FROM sel2)
        |  ORDER BY score DESC, p.vec_id LIMIT 1),
        |sel3 AS (SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM p3),
        |p4 AS (
        |  SELECT p.vec_id, 0.7 * p.qcos - 0.3 * (SELECT max(pcos) FROM pw
        |      WHERE pw.va = p.vec_id AND pw.vb IN (SELECT vec_id FROM sel3)) AS score
        |  FROM pool p WHERE p.vec_id NOT IN (SELECT vec_id FROM sel3)
        |  ORDER BY score DESC, p.vec_id LIMIT 1),
        |sel4 AS (SELECT vec_id FROM sel3 UNION ALL SELECT vec_id FROM p4),
        |p5 AS (
        |  SELECT p.vec_id, 0.7 * p.qcos - 0.3 * (SELECT max(pcos) FROM pw
        |      WHERE pw.va = p.vec_id AND pw.vb IN (SELECT vec_id FROM sel4)) AS score
        |  FROM pool p WHERE p.vec_id NOT IN (SELECT vec_id FROM sel4)
        |  ORDER BY score DESC, p.vec_id LIMIT 1)
        |SELECT 1 AS mmr_rank, vec_id, score FROM p1
        |UNION ALL SELECT 2, vec_id, score FROM p2
        |UNION ALL SELECT 3, vec_id, score FROM p3
        |UNION ALL SELECT 4, vec_id, score FROM p4
        |UNION ALL SELECT 5, vec_id, score FROM p5""".stripMargin,
    "sim_power_iteration" -> OraclePowerIterSql,
    "sim_retrieval_eval" -> OracleRetrievalEvalSql,
    "sim_kmeans" ->
      (OracleKmeansCte + "\nSELECT vec_id, cluster FROM a2"),
    // per-cluster audit over the SAME replayed Lloyd round: member
    // count, mean (round 6 — double-sum order) and min (exact on the
    // 9-dp grid) cosine to the trained centroid
    "sim_cluster_quality" ->
      (OracleKmeansCte + "\n" +
        """SELECT a2.cluster, CAST(count(*) AS BIGINT) AS n_members,
        |       round(avg(round(list_cosine_similarity(e.emb, c.cvec), 9)), 6) AS mean_cos,
        |       min(round(list_cosine_similarity(e.emb, c.cvec), 9)) AS min_cos
        |FROM a2 JOIN e USING (vec_id) JOIN c1 c ON c.c_id = a2.cluster
        |GROUP BY 1""".stripMargin),
    // SemDeDup replayed end-to-end: the k=8 unrolled-Lloyd training,
    // then within-cluster pairs on the 4-dp cosine grid and the
    // min-id keeper rule
    "dedup_semdedup" ->
      (oracleLloydCte(8, 1) + ",\n" +
        """pairs AS (
        |  SELECT ab.vec_id AS vec_id, ab.cluster AS cluster,
        |         aa.vec_id AS kept_cand,
        |         round(list_cosine_similarity(ea.emb, eb.emb), 4) AS cos
        |  FROM a2 aa JOIN a2 ab ON aa.cluster = ab.cluster
        |       AND aa.vec_id < ab.vec_id
        |  JOIN e ea ON ea.vec_id = aa.vec_id
        |  JOIN e eb ON eb.vec_id = ab.vec_id
        |  WHERE round(list_cosine_similarity(ea.emb, eb.emb), 4) >= 0.4),
        |r AS (SELECT vec_id, cluster, kept_cand, cos,
        |             row_number() OVER (PARTITION BY vec_id
        |                                ORDER BY kept_cand) AS rn
        |      FROM pairs)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |       CAST(cluster AS BIGINT) AS cluster,
        |       CAST(kept_cand AS BIGINT) AS kept_by, cos
        |FROM r WHERE rn = 1""".stripMargin),
    // maintenance assignment replayed: train on the base split (the
    // shared unrolled-Lloyd CTE with a WHERE), then the batch's
    // out-of-fold 4-dp-rounded argmax against the trained centroids
    "sim_ivf_incremental" ->
      (oracleLloydCte(8, 1, " WHERE vec_id % 5 <> 0") + ",\n" +
        """batch AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS bemb
        |           FROM embeddings WHERE vec_id % 5 = 0),
        |r AS (
        |  SELECT b.vec_id, c.c_id AS cluster,
        |         round(list_cosine_similarity(b.bemb, c.cvec), 4) AS cos,
        |         row_number() OVER (PARTITION BY b.vec_id
        |           ORDER BY round(list_cosine_similarity(b.bemb, c.cvec), 4)
        |             DESC, c.c_id ASC) AS rn
        |  FROM batch b CROSS JOIN c1 c)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |       CAST(cluster AS BIGINT) AS cluster, cos
        |FROM r WHERE rn = 1""".stripMargin),
    // the COMPLETED maintenance lifecycle replayed: base training (the
    // shared unrolled-Lloyd CTE, 9-dp argmax), the appended batch's
    // out-of-fold 4-dp argmax, then the probe over base ∪ delta —
    // centroid ranking on the 9-dp grid, member re-rank on the 4-dp
    // grid, exactly the Scala read over the physically-merged layout
    "sim_ivf_appended_probe" ->
      (oracleLloydCte(8, 1, " WHERE vec_id % 5 <> 0") + ",\n" +
        """batch AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS bemb
        |           FROM embeddings WHERE vec_id % 5 = 0 AND vec_id <> 0),
        |br AS (
        |  SELECT b.vec_id, c.c_id AS cluster,
        |         row_number() OVER (PARTITION BY b.vec_id
        |           ORDER BY round(list_cosine_similarity(b.bemb, c.cvec), 4)
        |             DESC, c.c_id ASC) AS rn
        |  FROM batch b CROSS JOIN c1 c),
        |assign AS (
        |  SELECT vec_id, cluster FROM a2
        |  UNION ALL SELECT vec_id, cluster FROM br WHERE rn = 1),
        |allv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |         FROM embeddings WHERE vec_id <> 0),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id = 0),
        |probe AS (
        |  SELECT c.c_id FROM c1 c, q
        |  ORDER BY round(list_cosine_similarity(c.cvec, q.qv), 9) DESC,
        |           c.c_id ASC
        |  LIMIT 4)
        |SELECT v.vec_id,
        |       round(list_cosine_similarity(v.emb, q.qv), 4) AS cosine
        |FROM allv v JOIN assign USING (vec_id), q
        |WHERE cluster IN (SELECT c_id FROM probe)
        |ORDER BY cosine DESC, v.vec_id ASC LIMIT 10""".stripMargin),
    // the IVF serving path replayed END-TO-END (unpinned in r8): the
    // same unrolled exact-Lloyd training (k=16, 2 rounds, query vector
    // excluded — AnnIndex.ivfWrite's defaults), then the probe ranks
    // the TRAINED centroids against the query on the identical
    // 9-dp-rounded cosine grid, keeps nProbe=6 clusters, and exact-
    // ranks only their members — the oracle proves training, cluster
    // ranking, partition restriction and re-rank all at once
    "sim_ivf_topk" ->
      (oracleLloydCte(16, 2, " WHERE vec_id <> 0") + ",\n" +
        """q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |       FROM embeddings WHERE vec_id = 0),
        |probe AS (
        |  SELECT c.c_id FROM c2 c, q
        |  ORDER BY round(list_cosine_similarity(c.cvec, q.qv), 9) DESC,
        |           c.c_id ASC
        |  LIMIT 6)
        |SELECT e.vec_id,
        |       round(list_cosine_similarity(e.emb, q.qv), 4) AS cosine
        |FROM e JOIN a3 USING (vec_id), q
        |WHERE cluster IN (SELECT c_id FROM probe)
        |ORDER BY cosine DESC, e.vec_id ASC LIMIT 10""".stripMargin),
    "dedup_clusters_incremental" ->
      // full-recompute clusters over the UNION corpus (originals +
      // planted copies of doc_id < 10 at max(doc_id)+1 offset) — the
      // merge path must equal this exactly
      ("WITH RECURSIVE uni AS (\n" +
        "  SELECT doc_id, text FROM documents\n" +
        "  UNION ALL\n" +
        "  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text\n" +
        "  FROM documents WHERE doc_id < 10),\n" +
        ngramCteOver("uni") + ",\n" +
        """pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.05),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |      UNION SELECT doc_b, doc_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
        |SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a""".stripMargin),
    "text_perplexity_buckets" ->
      // the text_bigram_logprob score + SQL NTILE tertiles over
      // (logprob, doc_id); tile 3 = highest logprob = head
      """WITH t0 AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split(text, ' '), w -> lower(w)),
        |                w -> w <> '') AS arr
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, arr[i] || ' ' || arr[i + 1] AS bigram
        |  FROM t0, unnest(generate_series(1, len(arr) - 1)) AS u(i)
        |  WHERE len(arr) >= 2),
        |counts AS (SELECT bigram, count(*) AS freq FROM bi GROUP BY 1),
        |ctx AS (
        |  SELECT bigram, freq,
        |         sum(freq) OVER (PARTITION BY string_split(bigram, ' ')[1])
        |           AS ctx_total
        |  FROM counts),
        |lp AS (
        |  SELECT doc_id,
        |         round(avg(log10(CAST(freq AS DOUBLE) / ctx_total)), 6)
        |           AS logprob
        |  FROM bi JOIN ctx USING (bigram)
        |  GROUP BY 1),
        |nt AS (SELECT doc_id, logprob,
        |              ntile(3) OVER (ORDER BY logprob, doc_id) AS tile
        |       FROM lp)
        |SELECT doc_id, logprob,
        |       CASE tile WHEN 3 THEN 'head' WHEN 2 THEN 'middle'
        |                 ELSE 'tail' END AS bucket
        |FROM nt""".stripMargin,
    "q_snapshot_diff" ->
      // keyed full-outer diff; changed_cols = sorted comma-joined
      // value columns whose values differ (NULL-safe)
      """WITH o AS (SELECT c_custkey, c_name, c_acctbal, c_nationkey
        |           FROM customer),
        |n AS (
        |  SELECT c_custkey, c_name,
        |         CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0
        |              ELSE c_acctbal END AS c_acctbal,
        |         CASE WHEN c_custkey % 10 = 2 THEN (c_nationkey + 1) % 25
        |              ELSE c_nationkey END AS c_nationkey
        |  FROM customer WHERE c_custkey % 10 <> 1
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'clone of ' || c_name, 0.0, c_nationkey
        |  FROM customer WHERE c_custkey % 10 = 3)
        |SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
        |  CASE WHEN o.c_custkey IS NULL THEN 'added'
        |       WHEN n.c_custkey IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status,
        |  CASE WHEN o.c_custkey IS NOT NULL AND n.c_custkey IS NOT NULL THEN
        |    concat_ws(',',
        |      CASE WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal
        |           THEN 'c_acctbal' END,
        |      CASE WHEN o.c_name IS DISTINCT FROM n.c_name
        |           THEN 'c_name' END,
        |      CASE WHEN o.c_nationkey IS DISTINCT FROM n.c_nationkey
        |           THEN 'c_nationkey' END)
        |  END AS changed_cols
        |FROM o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey
        |WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
        |   OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
        |   OR o.c_name IS DISTINCT FROM n.c_name
        |   OR o.c_nationkey IS DISTINCT FROM n.c_nationkey""".stripMargin,
    "q_compaction_plan" ->
      // bin = floor(exclusive running byte sum / 8 KiB) in doc_id
      // order; strlen = DuckDB byte length = Spark octet_length
      """WITH p AS (
        |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS bytes,
        |         CAST(COALESCE(SUM(strlen(text)) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS pfx
        |  FROM documents)
        |SELECT doc_id, bytes,
        |       CAST(floor(pfx / 8192.0) AS BIGINT) AS bin
        |FROM p""".stripMargin
  )
}
