package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{AnnIndex, Similarity}

/** Similarity-search rows: brute-force, LSH, IVF and product-quantized
  * top-k, k-means, and retrieval evaluation.
  */
object SimilarityQueries {
  import Shared._

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

  private val OracleKmeansCte: String = oracleLloydCte(4, 1)

  private def annCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").filter(col("vec_id") =!= 0)

  /** The full IVF maintenance lifecycle at rest, one per (session,
    * sf dir): exact-Lloyd train on the 80% base split → write the
    * cluster-partitioned layout → classify the 20% batch against the
    * TRAINED centroids (no retrain) → physically APPEND the batch as
    * new files into the same partitions ([[AnnIndex.ivfAppend]]).
    * `sim_ivf_appended_probe` probes the merged layout.
    */
  private def ivfAppendedIndex(s: SparkSession, dir: String): AnnIndex.IvfModel =
    ArtifactStore.getOrElseUpdate(s, dir, "ivfAppendedIndex", {
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

  /** ANN index at rest, one per (session, sf dir): LSH signatures and
    * the IVF assignment persisted once (signature/centroid/assignment
    * precomputed — VERDICT r1 #6), then every probe reads the stored
    * layout: the IVF probe is a cluster-partition-pruned scan. The
    * query vector (vec_id 0) is excluded at build time so probes rank
    * only the corpus.
    */
  // one store entry per index kind: a probe builds ONLY its own
  // artifact (an LSH-only iteration must not pay PQ training)
  private def lshIndex(s: SparkSession, dir: String): String =
    atRest(s, dir, "lshIndex", "lsh") { p =>
      AnnIndex.lshWrite(annCorpus(s, dir), p, planes = AnnPlanes)
    }

  private def ivfIndex(s: SparkSession, dir: String): AnnIndex.IvfModel =
    ArtifactStore.getOrElseUpdate(s, dir, "ivfIndex",
      AnnIndex.ivfWrite(annCorpus(s, dir), s"${annTmp()}/ivf", k = IvfClusters))

  private def pqIndex(s: SparkSession, dir: String): AnnIndex.PqModel =
    ArtifactStore.getOrElseUpdate(s, dir, "pqIndex",
      AnnIndex.pqWrite(annCorpus(s, dir), s"${annTmp()}/pq"))

  private val AnnPlanes = 12

  private val IvfClusters = 16

  /** The oracle of `sim_topk_brute`; by design also the oracle of
    * `sim_lsh_topk`, `sim_quantized_topk`, `sim_pq_topk`.
    */
  private val TopKCosineOracle: String =
    """SELECT e.vec_id,
      |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |         CAST(q.embedding AS DOUBLE[])), 4) AS cosine
      |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      |WHERE e.vec_id <> 0
      |ORDER BY cosine DESC, e.vec_id ASC LIMIT 10""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // int8-quantized scan (4x less memory bandwidth — the 100 TB ANN
    // bottleneck) ranks candidates, exact re-rank of the top 50 returns
    // the true-metric top-10; equals brute force on this corpus
    // (Scratch quanttopk sweep), so it shares brute force's oracle
    QuerySpec("sim_quantized_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val qVec = e.filter(col("vec_id") === 0).select("embedding")
        .first().getSeq[Float](0).map(_.toDouble)
      Similarity.quantizedTopK(e.filter(col("vec_id") =!= 0), qVec, 10,
          rerank = 50)
        .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
    },
      // identical to sim_topk_brute: the quantized candidate cut must
      // be invisible after exact re-ranking
      oracle = TopKCosineOracle),
    // product-quantization ANN probing the PERSISTED (vec_id,
    // embedding, codes) table: the ADC cut's scan column-prunes to the
    // 16-byte codes (16x scan-width vs the float vectors — the 100 TB
    // win), exact re-rank of the top 300 returns the true top-10.
    // rerank sits at 1.5x the measured exactness threshold on the
    // worst corpus (sf0.1 needs 200; near-random vectors are the hard
    // case for coarse quantizers — same intrinsic ceiling as
    // IVF/low-threshold LSH here), so it shares brute force's oracle
    QuerySpec("sim_pq_topk", (s, dir) => {
      val pq = pqIndex(s, dir)
      AnnIndex.pqTopK(s, pq, queryVec(s, dir), 10, rerank = 300)
        .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
    },
      // identical to sim_topk_brute: the ADC candidate cut must be
      // invisible after exact re-ranking
      oracle = TopKCosineOracle),
    QuerySpec("sim_topk_brute", (s, dir) => {
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
    },
      oracle = TopKCosineOracle),
    // probes against the PERSISTED signature table (no per-query
    // signature recompute); the bit-diff radius is sized so the pruned
    // candidate set provably contains the true top-10 on this corpus —
    // the oracle row asserts exact agreement with brute force
    QuerySpec("sim_lsh_topk", (s, dir) => {
      val lshPath = lshIndex(s, dir)
      AnnIndex.lshTopK(s, lshPath, queryVec(s, dir), 10,
        planes = AnnPlanes, maxBitDiff = 8)
        .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
    },
      // the LSH probe returns the exact top-10 (candidate radius covers
      // the true neighbors on this corpus) -> brute-force SQL is the oracle
      oracle = TopKCosineOracle),
    // probes the persisted cluster-partitioned IVF layout: the scan
    // reads only nProbe cluster directories (PartitionFilters —
    // asserted in RoundTwoSpec and on this entry's own plan in
    // RoundTwentyOneSpec); the oracle REPLAYS train + probe as an
    // unrolled exact-Lloyd CTE (unpinned in r8), so recall gaps vs
    // brute force no longer force a pinned result
    QuerySpec("sim_ivf_topk", (s, dir) => {
      val ivf = ivfIndex(s, dir)
      AnnIndex.ivfTopK(s, ivf, queryVec(s, dir), 10, nProbe = 6)
        .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
    },
      // the IVF serving path replayed END-TO-END (unpinned in r8): the
      // same unrolled exact-Lloyd training (k=16, 2 rounds, query vector
      // excluded — AnnIndex.ivfWrite's defaults), then the probe ranks
      // the TRAINED centroids against the query on the identical
      // 9-dp-rounded cosine grid, keeps nProbe=6 clusters, and exact-
      // ranks only their members — the oracle proves training, cluster
      // ranking, partition restriction and re-rank all at once
      oracle = (oracleLloydCte(16, 2, " WHERE vec_id <> 0") + ",\n" +
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
        |ORDER BY cosine DESC, e.vec_id ASC LIMIT 10""".stripMargin)),
    // IVF/index MAINTENANCE: a NEW vector batch routes against the
    // already-trained centroids (no retrain, no old-corpus re-read) —
    // the assignment a 100 TB layout appends as new cluster-partition
    // files. Train on the 80% base (exact Lloyd, k=8, 1 round),
    // classify the 20% batch by broadcast nearest-centroid argmax;
    // the oracle replays training AND the out-of-fold assignment.
    QuerySpec("sim_ivf_incremental", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val base = e.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val batch = e.filter(pmod(col("vec_id"), lit(5)) === 0)
      val (_, cents) = Similarity.kMeansExactModel(base, k = 8, rounds = 1)
      import s.implicits._
      val centsDf = cents.toSeq.map { case (cid, v) => (cid, v.toSeq) }
        .toDF("cluster", "centroid")
      Similarity.assignToCentroids(batch, centsDf)
    },
      // maintenance assignment replayed: train on the base split (the
      // shared unrolled-Lloyd CTE with a WHERE), then the batch's
      // out-of-fold 4-dp-rounded argmax against the trained centroids
      oracle = (oracleLloydCte(8, 1, " WHERE vec_id % 5 <> 0") + ",\n" +
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
        |FROM r WHERE rn = 1""".stripMargin)),
    // the lifecycle COMPLETED physically: probe the layout AFTER the
    // batch was appended as new cluster-partition files — base ∪ delta
    // served by one pruned scan (PartitionFilters asserted on this
    // entry's plan in RoundTwentyThreeSpec), no retrain anywhere. The
    // oracle replays base training (unrolled Lloyd), the batch's
    // out-of-fold 4-dp argmax, AND the probe over their union
    QuerySpec("sim_ivf_appended_probe", (s, dir) =>
      AnnIndex.ivfTopK(s, ivfAppendedIndex(s, dir), queryVec(s, dir),
          10, nProbe = 4)
        .select(col("vec_id"), round(col("cosine"), 4).as("cosine")),
      // the COMPLETED maintenance lifecycle replayed: base training (the
      // shared unrolled-Lloyd CTE, 9-dp argmax), the appended batch's
      // out-of-fold 4-dp argmax, then the probe over base ∪ delta —
      // centroid ranking on the 9-dp grid, member re-rank on the 4-dp
      // grid, exactly the Scala read over the physically-merged layout
      oracle = (oracleLloydCte(8, 1, " WHERE vec_id % 5 <> 0") + ",\n" +
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
        |ORDER BY cosine DESC, v.vec_id ASC LIMIT 10""".stripMargin)),
    // nearest-centroid assignment (k-means E step): 8 fixed centroids
    // broadcast, per-vector argmax over exactly k rounded cosines
    QuerySpec("sim_cluster_assign", (s, dir) => {
      val e = t(s, dir, "embeddings")
      // limit(8) is a no-op (vec_id unique) that makes the broadcast
      // side's model-sized bound provable at plan time
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cluster"), col("embedding").as("centroid"))
        .limit(8)
      Similarity.assignToCentroids(e, cents)
    },
      oracle = """SELECT vec_id, cluster, cos FROM (
        |  SELECT e.vec_id, c.vec_id AS cluster,
        |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |           CAST(c.embedding AS DOUBLE[])), 4) AS cos,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |             CAST(c.embedding AS DOUBLE[])), 4) DESC, c.vec_id) AS rn
        |  FROM embeddings e CROSS JOIN
        |       (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) c) t
        |WHERE rn = 1""".stripMargin),
    QuerySpec("sim_knn_label", (s, dir) =>
      Similarity.knnWithinLabel(t(s, dir, "embeddings"), 3)
        .select(col("vec_a"), col("vec_b"), round(col("cosine"), 4).as("cosine")),
      oracle = """WITH pairs AS (
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
        |FROM ranked WHERE rn <= 3""".stripMargin),
    // BATCH ANN over the persisted PQ codes: top-10 per query for a
    // query TABLE in one distributed plan (broadcast partial-dot join
    // + per-query rank windows — no per-query driver constants, no
    // per-query jobs); exact re-rank per query, brute-force oracle
    QuerySpec("sim_pq_batch", (s, dir) => {
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
    },
      // per-query brute force: the batch ADC cut must be invisible
      // after the per-query exact re-rank
      oracle = """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
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
        |FROM r WHERE rk <= 10""".stripMargin),
    // Oracle-exact Lloyd k-means (seeds = 4 smallest vec_ids, one
    // integer-scaled centroid update, argmax over 9-dp-rounded
    // cosines): the DuckDB oracle replays the identical round unrolled
    // — the clustering itself is oracle-checked, not just spec-pinned
    QuerySpec("sim_kmeans", (s, dir) =>
      Similarity.kMeansExact(t(s, dir, "embeddings"), k = 4, rounds = 1),
      oracle = (OracleKmeansCte + "\nSELECT vec_id, cluster FROM a2")),
    // per-cluster quality audit over the same exact clustering (the
    // SemDeDup check before trusting a corpus partition): count, mean
    // and min centroid cosine per cluster — model-sized broadcast join
    // + one cluster-keyed aggregate
    QuerySpec("sim_cluster_quality", (s, dir) =>
      Similarity.clusterQuality(t(s, dir, "embeddings"), k = 4, rounds = 1),
      // per-cluster audit over the SAME replayed Lloyd round: member
      // count, mean (round 6 — double-sum order) and min (exact on the
      // 9-dp grid) cosine to the trained centroid
      oracle = (OracleKmeansCte + "\n" +
        """SELECT a2.cluster, CAST(count(*) AS BIGINT) AS n_members,
        |       round(avg(round(list_cosine_similarity(e.emb, c.cvec), 9)), 6) AS mean_cos,
        |       min(round(list_cosine_similarity(e.emb, c.cvec), 9)) AS min_cos
        |FROM a2 JOIN e USING (vec_id) JOIN c1 c ON c.c_id = a2.cluster
        |GROUP BY 1""".stripMargin)),
    // MMR diversity re-ranking: top-20 cosine pool, greedy 5-pick with
    // λ=0.7 / diversity 0.3 — the DuckDB oracle replays the greedy
    // selection unrolled step by step (same device as sim_kmeans), so
    // the SELECTION ORDER is oracle-checked, not just the pool
    QuerySpec("sim_mmr_rerank", (s, dir) =>
      Similarity.mmrRerank(t(s, dir, "embeddings").filter(col("vec_id") =!= 0),
        queryVec(s, dir), poolSize = 20, k = 5),
      // the greedy MMR selection, unrolled: each step scores the
      // remaining pool as 0.7*qcos - 0.3*max(cos to selected) over
      // 4-dp-rounded cosines, ties to the smaller vec_id
      oracle = """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id = 0),
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
        |UNION ALL SELECT 5, vec_id, score FROM p5""".stripMargin),
    // retrieval-quality eval of the exact cosine ranking vs label
    // ground truth (precision/recall/MRR/NDCG@10 per query): the eval
    // harness run before trusting an ANN layout or a new encoder. All
    // metric arithmetic is exact cross-engine (integer hits/ranks,
    // single divisions, integer-tabulated NDCG discounts shared with
    // the generated oracle)
    QuerySpec("sim_retrieval_eval", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.retrievalEval(e, e.filter(col("vec_id") < 8), k = 10)
    },
      oracle = OracleRetrievalEvalSql),
    // dominant singular direction by bit-portable power iteration:
    // floor-scaled integer contractions make every round exactly
    // associative-commutative, so the DuckDB oracle replays all three
    // rounds unrolled and the doubles compare with == (the kMeansExact
    // discipline extended to distributed linear algebra)
    QuerySpec("sim_power_iteration", (s, dir) =>
      Similarity.powerIteration(t(s, dir, "embeddings"), iterations = 3),
      oracle = OraclePowerIterSql)
  )
}
