package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity, TextAnalysis}

/** Deduplication rows: exact, shingle-Jaccard, MinHash, SimHash,
  * embedding and incremental dedup, plus the decontamination rows that
  * run on the same shingle machinery.
  */
object DedupQueries {
  import Shared._

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

  /** DuckDB CTE body (no WITH keyword) computing 3-gram shingles, doc
    * shingle-set sizes, and pairwise intersection counts — shared by the
    * exact-Jaccard pair oracle and the cluster oracle built on it.
    */
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

  /** After [[OracleNgramCte]]'s CTEs: `pairs` at Jaccard >= 0.05 and
    * `reach(a, b)`, their transitive closure (needs `WITH RECURSIVE`).
    */
  private val OracleReachCte: String =
    """pairs AS (
      |  SELECT doc_a, doc_b FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.05),
      |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |      UNION SELECT doc_b, doc_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM e
      |  UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)""".stripMargin

  /** Shingle pairs with Jaccard >= `minJ` over [[OracleNgramCte]]. */
  private def oracleJaccardPairs(minJ: String): String =
    "WITH " + OracleNgramCte + "\n" +
      s"""SELECT doc_a, doc_b,
         |       CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= $minJ""".stripMargin

  /** Exact pair list at minJ=0.2 (LSH only generates candidates; the
    * exact Jaccard decides membership) — shared by `dedup_minhash` and
    * `dedup_minhash_incremental`, whose outputs must be identical.
    */
  private val OracleMinhashPairsSql: String = oracleJaccardPairs("0.2")

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
  private def minhashDiskIndex(s: SparkSession, dir: String): String =
    atRest(s, dir, "minhashDiskIndex", "minhash") { p =>
      val docs = t(s, dir, "documents")
      Dedup.minhashIndexWrite(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        p, n = 3, numHashes = 32, bands = 32, minJ = 0.2,
        maxBucket = 16, minBands = 2)
      Dedup.minhashIndexAppend(s, p,
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), docs,
        n = 3, numHashes = 32, bands = 32, minJ = 0.2,
        maxBucket = 16, minBands = 2)
    }

  /** Embedding near-dup pair list, one per (session, sf dir): banded
    * hyperplane-LSH candidates + exact cosine verify computed ONCE for
    * both consumers (the pair query and the semantic-dedup endgame).
    * Eager localCheckpoint: the pair list is tiny and the memo must
    * hold materialized blocks, not a lazy plan.
    */
  private def cachedEmbPairs(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.getOrElseUpdate(s, dir, "cachedEmbPairs",
      Dedup.embeddingNearDupBanded(t(s, dir, "embeddings"), minCos = 0.4,
        planesPerTable = 3, tables = 32).localCheckpoint(true))

  /** Corpus word-3-gram shingle table, one per (session, sf dir): at
    * scale the corpus tokenize+shingle pass IS the dedup cost, and
    * four consumers need the same table (the pair self-join, fuzzy
    * decontamination, containment, the incremental-clusters cross
    * probe) — build it once, like the posting index.
    */
  private def cachedShingles(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.getOrElseUpdate(s, dir, "cachedShingles",
      Dedup.shingles(t(s, dir, "documents"), 3).localCheckpoint(true))

  /** Near-dup pair list, one per (session, sf dir): the dedup pipeline
    * computes the verified pair list ONCE and both consumers (connected
    * components, keep-best keeper selection) read it — exactly how a
    * production dedup run is staged. No persist(): ngramJaccard returns
    * an eagerly localCheckpoint'd result (materialized blocks), so
    * memoizing the DataFrame is enough.
    */
  private def cachedPairs(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.getOrElseUpdate(s, dir, "cachedPairs",
      Dedup.ngramJaccardFromShingles(cachedShingles(s, dir),
        minJ = 0.05, maxShingleFreq = 2000))

  /** Cluster labeling over the cached pair list, one per (session, sf
    * dir): connected components is O(log n) checkpointed rounds —
    * worth paying once, not once per consumer (dedup_clusters,
    * dedup_keep_best both read it; the label table is node-sized).
    */
  private def cachedClusters(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.getOrElseUpdate(s, dir, "cachedClusters",
      Dedup.clusters(cachedPairs(s, dir)).localCheckpoint())

  /** Base-half cluster labels for the incremental-CC entry: in
    * production these are YESTERDAY'S at-rest label table (the thing
    * the incremental fold exists to avoid recomputing), so the session
    * holds them once — the same modeling as the graph family's
    * prebuilt adjacency. Node-sized.
    */
  private def cachedBaseLabels(s: SparkSession, dir: String,
                               half: Long): DataFrame =
    ArtifactStore.getOrElseUpdate(s, dir, "cachedBaseLabels",
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

  /** The oracle of `dedup_embedding`; by design also the oracle of
    * `dedup_embedding_exact`.
    */
  private val EmbeddingPairsOracle: String =
    // exact pair list at minCos=0.4 (banded LSH generates candidates;
    // the exact cosine decides membership)
    """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |         CAST(b.embedding AS DOUBLE[])), 4) AS cosine
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |        CAST(b.embedding AS DOUBLE[])) >= 0.4""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dedup_exact", (s, dir) =>
      Dedup.exact(t(s, dir, "documents")),
      oracle = """SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin),
    // bounded default posture: shingles in more than maxShingleFreq docs
    // are dropped from CANDIDATE GENERATION (the k^2-per-hot-shingle
    // guard); the bound sits far above this corpus's max shingle
    // frequency, so the result here is still exact (oracle-green) while
    // the 20x-duplicated stress corpus exercises the guard
    // (Scratch stress:jaccard). Pass Int.MaxValue to opt into exact mode.
    // same (n, minJ, maxShingleFreq) as the session pair cache — read
    // it instead of re-deriving the identical pair list
    QuerySpec("dedup_ngram_jaccard", (s, dir) => cachedPairs(s, dir),
      oracle = oracleJaccardPairs("0.05")),
    // ASYMMETRIC containment near-dup (doc-in-doc): quote/subset
    // contamination scores near-zero Jaccard but 1.0 containment. Ten
    // planted half-prefix docs (ids above max(doc_id) at any scale
    // factor) guarantee non-vacuous subset pairs; both directions are
    // exact integer divisions, so no rounding is needed
    QuerySpec("dedup_containment", (s, dir) => {
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
    },
      // both containment directions are exact integer divisions; the
      // planted half-prefix docs replicate the Spark-side planting
      oracle = ("""WITH alldocs AS (
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
        |               CAST(n_common AS DOUBLE) / sb.n_sh) >= 0.5""".stripMargin)),
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
    QuerySpec("dedup_minhash", (s, dir) =>
      Dedup.minHashLshVerified(t(s, dir, "documents"), n = 3, numHashes = 32,
        bands = 32, minJ = 0.2, maxBucket = 16, minBands = 2),
      oracle = OracleMinhashPairsSql),
    // the incremental lifecycle of the same dedup, served from the
    // at-rest index ([[minhashDiskIndex]]): base built from 80% of the
    // corpus, the 20% batch routed against the stored digest dict +
    // bucket index and physically appended (gen=1 files), the pair
    // list expanded from the updated membership/reppairs artifacts —
    // same oracle as dedup_minhash, so append ≡ rebuild is
    // oracle-gated every round, not just spec'd
    QuerySpec("dedup_minhash_incremental", (s, dir) =>
      Dedup.minhashServePairs(s, minhashDiskIndex(s, dir)),
      // append ≡ rebuild: the incremental lifecycle must reproduce the
      // exact full-corpus pair list
      oracle = OracleMinhashPairsSql),
    // maxHamming 3 = the recall bound of the 4x16-bit-chunk candidate
    // generation (pigeonhole); above 3 the output would silently
    // under-approximate
    QuerySpec("dedup_simhash", (s, dir) =>
      Dedup.simHashPairs(t(s, dir, "documents"), n = 2, maxHamming = 3),
      oracle = PinnedOracles.sql("dedup_simhash")),
    // banded hyperplane LSH candidates + exact cosine verification: the
    // output is the exact pair list at minCos (same oracle SQL as the
    // exact variant), the candidate generation stays a bounded bucket
    // join. Table/plane counts sized so the miss probability of a true
    // pair at cosine 0.4 is < 0.1% (asserted exact by the oracle row).
    QuerySpec("dedup_embedding", (s, dir) =>
      cachedEmbPairs(s, dir)
        .select(col("vec_a"), col("vec_b"), round(col("cosine"), 4).as("cosine")),
      oracle = EmbeddingPairsOracle),
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
    QuerySpec("dedup_embedding_strict", (s, dir) => {
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
    },
      // exact brute-force pair list at the production threshold over the
      // corpus PLUS the planted first-component-negated twins — the five
      // (orig, twin) pairs are the full answer, so the row is non-vacuous
      oracle = """WITH planted AS (
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
        |        CAST(b.embedding AS DOUBLE[])) >= 0.9""".stripMargin),
    QuerySpec("dedup_embedding_exact", (s, dir) =>
      Dedup.embeddingNearDupExact(t(s, dir, "embeddings"), minCos = 0.4)
        .select(col("vec_a"), col("vec_b"), round(col("cosine"), 4).as("cosine")),
      oracle = EmbeddingPairsOracle),
    // connected components over the exact near-dup pair list: the dedup
    // endgame (keep doc_id == cluster_id). Large-star/small-star, O(log
    // n) relational rounds, no adjacency list ever materialized.
    QuerySpec("dedup_clusters", (s, dir) => cachedClusters(s, dir),
      // transitive closure of the exact pair list (tiny components at
      // oracle scale), then min reachable id per node
      oracle = ("WITH RECURSIVE " + OracleNgramCte + ",\n" +
        OracleReachCte +
        "\nSELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a")),
    // SemDeDup-style semantic dedup endgame: connected components over
    // the EXACT embedding near-dup pair list (banded hyperplane-LSH
    // candidates, exact cosine verify), one representative per cluster
    // (latest vec_id wins — the deterministic "keep newest" policy)
    QuerySpec("dedup_embedding_semantic", (s, dir) =>
      Dedup.clusters(cachedEmbPairs(s, dir), "vec_a", "vec_b")
        .groupBy("cluster_id")
        .agg(max("doc_id").as("keeper_id"), count(lit(1)).as("n_members")),
      // same exact pair list as dedup_embedding_exact, transitive
      // closure, then the keep-newest representative per component
      oracle = """WITH RECURSIVE pairs AS (
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
        |FROM cl GROUP BY 1""".stripMargin),
    // the TRUE SemDeDup shape (cluster-partitioned pair search): the
    // oracle-exact k-means partitions the corpus (k=8, 1 round) and
    // near-dups are searched WITHIN clusters only — the pair join is
    // bounded by sum(|cluster|^2), never n^2, and at 100 TB each
    // cluster partition dedups independently. The oracle replays
    // training AND pruning end-to-end (shared unrolled-Lloyd CTE).
    // Complements dedup_embedding_semantic (LSH-banded candidates +
    // CC): LSH bounds by bucket caps, SemDeDup by the trained
    // partition (cross-cluster misses = the documented recall cost).
    QuerySpec("dedup_semdedup", (s, dir) =>
      Similarity.semDedup(t(s, dir, "embeddings"), k = 8, rounds = 1,
        minCos = 0.4),
      // SemDeDup replayed end-to-end: the k=8 unrolled-Lloyd training,
      // then within-cluster pairs on the 4-dp cosine grid and the
      // min-id keeper rule
      oracle = (oracleLloydCte(8, 1) + ",\n" +
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
        |FROM r WHERE rn = 1""".stripMargin)),
    // the dedup endgame as one query: cluster the near-dup pairs, then
    // keep the best member per cluster (longest text, doc_id tiebreak)
    QuerySpec("dedup_keep_best", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cl = cachedClusters(s, dir)
      val w = Window.partitionBy("cluster_id")
        .orderBy(desc("n_chars"), asc("doc_id"))
      cl.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rn", row_number().over(w))
        .groupBy("cluster_id")
        .agg(max(when(col("rn") === 1, col("doc_id"))).as("keeper_id"),
          count("*").as("n_members"))
    },
      oracle = ("WITH RECURSIVE " + OracleNgramCte + ",\n" +
        OracleReachCte + """,
        |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
        |r AS (SELECT cl.cluster_id, cl.doc_id, d.n_chars,
        |        row_number() OVER (PARTITION BY cl.cluster_id
        |          ORDER BY d.n_chars DESC, cl.doc_id ASC) AS rn
        |      FROM cl JOIN documents d USING (doc_id))
        |SELECT cluster_id, max(CASE WHEN rn = 1 THEN doc_id END) AS keeper_id,
        |       count(*) AS n_members
        |FROM r GROUP BY cluster_id""".stripMargin)),
    // corpus-level exact line dedup (boilerplate removal). The corpus
    // is single-line word soup, so the entry synthesizes line structure
    // first — one line per 10 whitespace tokens (the dedup itself is
    // the operator under test; the split just gives it lines, same
    // pattern as text_scrub_pii's synthetic PII)
    QuerySpec("dedup_lines", (s, dir) =>
      TextAnalysis.dedupLines(
        TextAnalysis.synthesizeLines(t(s, dir, "documents"), 10)),
      // same 10-token line synthesis as the entry, then first-occurrence
      // line dedup and per-doc text rebuild
      oracle = """WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
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
        |FROM r GROUP BY doc_id""".stripMargin),
    // benchmark decontamination: flag docs sharing a 5-gram with the
    // held-out "benchmark" subset (doc_id % 97 == 7) — broadcast join
    // of benchmark shingles against the corpus shingle scan
    QuerySpec("text_contamination", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.benchmarkContamination(
        d.filter(pmod(col("doc_id"), lit(97)) =!= 7),
        d.filter(pmod(col("doc_id"), lit(97)) === 7), n = 5)
    },
      oracle = """WITH toks0 AS (
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
        |GROUP BY 1""".stripMargin),
    // FUZZY decontamination: near-dup Jaccard between the corpus and the
    // held-out split — catches paraphrased leakage the exact-shingle
    // check above misses; held-out shingles broadcast, the corpus is
    // never shuffled on shingle keys
    QuerySpec("text_fuzzy_contamination", (s, dir) => {
      val d = t(s, dir, "documents")
      // shingles are per-doc, so the session shingle table filters to
      // the corpus split instead of re-tokenizing it
      Dedup.crossJaccardFromShingles(
        cachedShingles(s, dir).filter(pmod(col("doc_id"), lit(97)) =!= 7),
        d.filter(pmod(col("doc_id"), lit(97)) === 7), n = 3, minJ = 0.02)
    },
      oracle = """WITH toks0 AS (
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
        |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.02""".stripMargin),
    // quote-level decontamination: corpus docs CONTAINING a held-out
    // doc — a benchmark item pasted inside a long article scores ~0
    // Jaccard but containment ~1. Five corpus docs get held-out doc 7
    // appended, so the entry is non-vacuous at any scale factor;
    // containment = n_common / |held-out shingles| is an exact
    // integer division
    QuerySpec("text_containment_contamination", (s, dir) => {
      val d = t(s, dir, "documents")
      val quoted = d.filter(col("doc_id") === 7)
        .select("text").first().getString(0)
      val corpus = d.filter(pmod(col("doc_id"), lit(97)) =!= 7)
        .select(col("doc_id"),
          when(col("doc_id") < 5, concat(col("text"), lit(" "), lit(quoted)))
            .otherwise(col("text")).as("text"))
      Dedup.crossContainment(corpus,
        d.filter(pmod(col("doc_id"), lit(97)) === 7), n = 3, minC = 0.6)
    },
      oracle = OracleCrossContainmentSql),
    // append-only exact dedup: docs < 250 are the at-rest corpus; the
    // arriving batch is the rest plus deterministic re-ingested copies
    // (+1000 = copies of corpus docs, +2000 = copies of batch docs) so
    // every status value actually occurs
    QuerySpec("dedup_incremental", (s, dir) => {
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("doc_id") < 250)
      val batch = d.filter(col("doc_id") >= 250).select("doc_id", "text")
        .unionByName(d.filter(col("doc_id") < 30)
          .select((col("doc_id") + 1000).as("doc_id"), col("text")))
        .unionByName(d.filter(col("doc_id") >= 250 && col("doc_id") < 260)
          .select((col("doc_id") + 2000).as("doc_id"), col("text")))
      Dedup.incrementalExact(
        corpus.select(md5(col("text")).as("digest")), batch)
    },
      oracle = OracleIncrementalSql),
    // the same append-only classification with the at-rest probe join
    // Bloom-pruned: output-identical to dedup_incremental (same oracle
    // SQL), but only the Bloom-positive batch slice joins the at-rest
    // digest table — the per-batch cost a 100 TB corpus actually pays
    QuerySpec("dedup_incremental_bloom", (s, dir) => {
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
    },
      // the Bloom-pruned variant is output-identical BY CONSTRUCTION
      // (no false negatives; positives exact-confirmed) — same oracle
      oracle = OracleIncrementalSql),
    // the MOSS detection step: partial-overlap candidate pairs sharing
    // >= 2 winnowing fingerprints, corpus-boilerplate fingerprints
    // dropped by a bounded per-fingerprint collect (no self-join)
    QuerySpec("dedup_winnow_pairs", (s, dir) =>
      Dedup.winnowPairs(t(s, dir, "documents"),
        k = 4, w = 4, minShared = 2, maxFpFreq = 64),
      oracle = ("WITH " + OracleWinnowCte + ",\n" +
        """fps AS (SELECT DISTINCT doc_id, fp FROM win),
        |keep AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 64),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |      FROM fps a JOIN fps b USING (fp) JOIN keep USING (fp)
        |      WHERE a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared
        |FROM p GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)),
    // SymSpell fuzzy self-join: complete deletion-neighborhood
    // candidates + exact Levenshtein verify, so the output IS the
    // brute-force pair list (the oracle) while the cost is a banded
    // equi-join on deletion keys. failOnDrop: the DuckDB oracle IS the
    // brute force, so a fired hot-bucket cap must error loudly here,
    // never surface as an unexplained hash mismatch
    QuerySpec("q_fuzzy_join", (s, dir) =>
      Dedup.fuzzyPairs(t(s, dir, "part"), "p_name", maxDist = 2,
        failOnDrop = true),
      oracle = """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM n a JOIN n b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin),
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
    QuerySpec("dedup_clusters_incremental", (s, dir) => {
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
    },
      // full-recompute clusters over the UNION corpus (originals +
      // planted copies of doc_id < 10 at max(doc_id)+1 offset) — the
      // merge path must equal this exactly
      oracle = ("WITH RECURSIVE uni AS (\n" +
        "  SELECT doc_id, text FROM documents\n" +
        "  UNION ALL\n" +
        "  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text\n" +
        "  FROM documents WHERE doc_id < 10),\n" +
        ngramCteOver("uni") + ",\n" +
        OracleReachCte +
        "\nSELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a"))
  )
}
