package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ShutdownDelete

import graft.search.Indexer

/** Table access, session artifacts and oracle CTEs used by more than one
  * family; everything used by one family lives in that family's file.
  */
object Shared {
  private[registry] def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables(s, dir, name)

  /** Winnowing (k=4, w=4) fingerprint selection, shared by
    * text_winnowing and dedup_winnow_pairs. Same fixed-width
    * (md5hex || 10^10-pos) encoding as the Spark side: lexicographic
    * min = (hash ASC, pos DESC), the robust-winnowing rightmost-min
    * tie rule.
    */
  private[registry] val OracleWinnowCte: String =
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

  /** The raw-token DuckDB CTE mirroring Indexer.postings (minus
    * stemming): tokenize with the reference delimiter set, 1-based
    * positions over non-empty tokens, alnum/digit filters, tf, df,
    * docNum, TF-IDF with mixed log bases.
    */
  private[registry] val OracleTfidfCte: String =
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
  private[registry] def oracleLloydCte(k: Int, rounds: Int, where: String = ""): String = {
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

  /** Materialized-index cache, one per (session, sf dir): the Spark
    * analogue of the reference's persisted inverted index + query cache
    * (SURVEY.md §2.8 X2) — queries hit a built index, they don't re-run
    * the indexing pipeline. First search query in a session pays the
    * build; the rest reuse the in-memory columnar cache.
    */
  private[registry] def cachedIndex(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.getOrElseUpdate(s, dir, "cachedIndex",
      Indexer.postings(t(s, dir, "documents")).persist())

  /** Unstemmed posting table, one per (session, sf dir): the raw-term
    * sibling of [[cachedIndex]] — tfidf_postings, doc_keywords and
    * search_more_like_this all read the same stem=false table.
    */
  private[registry] def cachedRawIndex(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.getOrElseUpdate(s, dir, "cachedRawIndex",
      Indexer.postings(t(s, dir, "documents"), stem = false).persist())

  /** A fresh `graft-ann-<n>` temp dir, deleted when the JVM exits. */
  private[registry] def annTmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-ann-").toString
    ShutdownDelete.register(d)
    d
  }

  /** A session artifact at rest, one per (session, sf dir): `write`
    * fills directory `sub` of a fresh [[annTmp]] dir (a prefix plan
    * fingerprints normalize away) and the store keeps the path as `name`.
    */
  private[graft] def atRest(s: SparkSession, dir: String, name: String,
                            sub: String)(write: String => Unit): String =
    ArtifactStore.getOrElseUpdate(s, dir, name, {
      val p = s"${annTmp()}/$sub"
      write(p)
      p
    })

  private[registry] def queryVec(s: SparkSession, dir: String): Seq[Double] =
    t(s, dir, "embeddings").filter(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble)
}
