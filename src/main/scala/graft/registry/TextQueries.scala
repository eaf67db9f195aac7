package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, ScalableRank, TextAnalysis}

/** Text-analysis rows: quality signals, sampling, packing, language
  * models, classifiers and frequency sketches.
  */
object TextQueries {
  import Shared._

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

  /** The oracle of `top_words_sketch`; by design also the oracle of
    * `q_topk_incremental`.
    */
  private val TopWordsOracle: String =
    // the oracle is the PLAIN top-k: the sketch only proposes, the
    // output contract is exact; kth-boundary ties break by word asc
    // in both engines
    """WITH toks AS (
      |  SELECT lower(w) AS word
      |  FROM documents, unnest(string_split(text, ' ')) AS t(w)
      |  WHERE w <> '')
      |SELECT word, CAST(count(*) AS BIGINT) AS n
      |FROM toks GROUP BY 1
      |ORDER BY n DESC, word LIMIT 25""".stripMargin

  /** DuckDB `WITH` head shared by the bigram-LM oracles: `bi` each
    * doc's bigrams over lower-cased space tokens, `ctx` each bigram's
    * count with its first word's total.
    */
  private val OracleBigramCte: String =
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
      |  FROM counts)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // deterministic per-epoch training-order shuffle: pseudorandom but
    // reproducible global positions via the same two-level prefix sum
    // (no single-partition sort); the order is md5-keyed so any engine
    // reproduces it
    QuerySpec("text_global_shuffle", (s, dir) =>
      ScalableRank.deterministicShuffle(
        t(s, dir, "documents").select("doc_id"), "doc_id", seed = 42),
      oracle = """SELECT doc_id,
        |       CAST(row_number() OVER (
        |         ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id)
        |         AS BIGINT) AS shuffle_pos
        |FROM documents""".stripMargin),
    // edit distance (near-dup titles/headers): classic DP levenshtein,
    // identical across engines on these ASCII prefixes
    QuerySpec("text_edit_distance", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        levenshtein(substring(col("text"), 1, 40),
          substring(regexp_replace(col("text"), "a", "o"), 1, 40))
          .as("edit_dist")),
      oracle = """SELECT doc_id,
        |  CAST(levenshtein(substr(text, 1, 40),
        |    substr(regexp_replace(text, 'a', 'o', 'g'), 1, 40)) AS INT)
        |    AS edit_dist
        |FROM documents""".stripMargin),
    QuerySpec("text_quality", (s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents")),
      oracle = """WITH q AS (
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
        |FROM q""".stripMargin),
    QuerySpec("text_token_counts", (s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents")),
      oracle = """SELECT doc_id,
        |       len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS ws_tokens,
        |       len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]')) AS bpe_tokens
        |FROM documents""".stripMargin),
    QuerySpec("text_lang_id", (s, dir) =>
      TextAnalysis.languageId(t(s, dir, "documents")),
      oracle = """WITH toks AS (
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
        |FROM best WHERE rn = 1""".stripMargin),
    QuerySpec("text_digest", (s, dir) =>
      TextAnalysis.contentDigest(t(s, dir, "documents")),
      oracle = "SELECT doc_id, md5(text) AS digest FROM documents"),
    // PII redaction over text with deterministic synthetic PII appended
    // (the corpus itself has none): the scrub itself is the operator
    // under test, the append just gives it something to find
    QuerySpec("text_scrub_pii", (s, dir) =>
      TextAnalysis.scrubPii(
          t(s, dir, "documents").withColumn("text",
            concat(col("text"), lit(" Contact user"),
              col("doc_id").cast("string"),
              lit("@example.com or 10.0."),
              pmod(col("doc_id"), lit(256)).cast("string"),
              lit(".7 or +1 555 01"),
              pmod(col("doc_id"), lit(100)).cast("string"),
              lit(" now"))))
        .select("doc_id", "clean_text"),
      oracle = """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    text || ' Contact user' || doc_id || '@example.com or 10.0.' || (doc_id % 256) || '.7 or +1 555 01' || (doc_id % 100) || ' now',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '[IP]', 'g'),
        |    '\+?[0-9][0-9()./ -]{5,}[0-9]', '[PHONE]', 'g') AS clean_text
        |FROM documents""".stripMargin),
    // sliding-window chunking (40-token windows, 8-token overlap) —
    // the LLM-training prep op; one row per chunk, no shuffle
    QuerySpec("text_chunks", (s, dir) =>
      TextAnalysis.chunk(t(s, dir, "documents"), maxTokens = 40, overlap = 8)
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("chunk_text"), col("n_tokens").cast("long").as("n_tokens")),
      // starts capped at len - overlap so the last window always adds
      // new tokens (mirrors TextAnalysis.chunk)
      oracle = """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS arr
        |  FROM documents)
        |SELECT doc_id, (s - 1) // 32 AS chunk_id,
        |       array_to_string(arr[s : s + 39], ' ') AS chunk_text,
        |       least(40, len(arr) - s + 1) AS n_tokens
        |FROM t, unnest(generate_series(1, greatest(len(arr) - 8, 1), 32)) AS u(s)
        |WHERE len(arr) > 0""".stripMargin),
    // reproducible 25% sample keyed on doc_id: membership is a pure
    // function of the key (portable md5 threshold), never of
    // partitioning or corpus size
    // exact systematic PPS sample: 100 equally-spaced picks over the
    // cumulative token-count line in doc_id order — pure integer
    // arithmetic (no transcendental random keys), bit-reproducible on
    // any engine, sum(n_picks) = 100 exactly
    QuerySpec("text_pps_sample", (s, dir) => {
      val weighted = t(s, dir, "documents").select(col("doc_id"),
        size(filter(split(col("text"), " ", -1), w => w =!= ""))
          .cast("long").as("n_tokens"))
      ScalableRank.ppsSample(weighted, "n_tokens", k = 100, keyCol = "doc_id")
    },
      // same two floor divisions: f(x) = (2kx + W - 1) // 2W, picks =
      // f(cum + w) - f(cum), all BIGINT (DuckDB sums cast out of
      // HUGEINT)
      oracle = """WITH w AS (
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
        |WHERE n_picks >= 1""".stripMargin),
    // Efraimidis-Spirakis weighted sampling without replacement:
    // top-100 by ln(u)/w key (u deterministic from md5, ln rounded
    // to 8dp BEFORE the weight division for cross-engine ranks);
    // plans as TakeOrdered, never a global sort
    QuerySpec("text_weighted_sample", (s, dir) =>
      TextAnalysis.weightedSample(t(s, dir, "documents"),
          "doc_id", "n_chars", k = 100, salt = "es1")
        .select("doc_id", "n_chars", "es_key"),
      // same exact u = (h + 0.5)/2^32, ln rounded to 8dp BEFORE the
      // weight division (ln differs by 1 ulp between libm and the JVM
      // on ~0.1% of inputs; the rounded value is engine-identical and
      // the division of identical doubles is bit-exact)
      oracle = """SELECT doc_id, n_chars,
        |  round(ln((CAST('0x' || substr(md5('es1' || CAST(doc_id AS VARCHAR)), 1, 8)
        |                 AS BIGINT) + 0.5) / 4294967296.0), 8)
        |    / CAST(n_chars AS DOUBLE) AS es_key
        |FROM documents WHERE n_chars > 0
        |ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin),
    QuerySpec("text_hash_sample", (s, dir) =>
      TextAnalysis.hashSample(t(s, dir, "documents"), "doc_id", rate = 0.25)
        .select("doc_id", "lang", "source"),
      oracle = """SELECT doc_id, lang, source FROM documents
        |WHERE md5('' || CAST(doc_id AS VARCHAR)) < '40000000000000000000000000000000'""".stripMargin),
    // rebalancing sample: downsample the dominant strata, keep rare
    // ones whole — same portable membership rule, per-stratum threshold
    QuerySpec("text_stratified_sample", (s, dir) =>
      TextAnalysis.stratifiedHashSample(t(s, dir, "documents"),
          "doc_id", "lang", rates = Map("en" -> 0.1, "de" -> 0.5),
          defaultRate = 1.0)
        .select("doc_id", "lang", "source"),
      // thresholds are the exact binary expansions of the double rates
      // (hexThreshold): 0.1 -> 1999...a000..., 0.5 -> 8000..., 1.0 -> ffff...
      oracle = """SELECT doc_id, lang, source FROM documents
        |WHERE md5('' || CAST(doc_id AS VARCHAR)) <
        |  CASE WHEN lang = 'en' THEN '1999999999999a000000000000000000'
        |       WHEN lang = 'de' THEN '80000000000000000000000000000000'
        |       ELSE 'ffffffffffffffffffffffffffffffff' END""".stripMargin),
    // per-domain cap (C4-style): keep at most 40 docs per language in
    // reproducible hash order, with per-key ranks — the hub-safe
    // two-window top-k (bucket thin, then rank ≤ k·buckets survivors),
    // never a full sort of a hot domain's partition
    QuerySpec("text_domain_cap", (s, dir) =>
      ScalableRank.perKeyTopK(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          md5(concat(col("doc_id").cast("string"), lit(":17"))).as("__h")),
        Seq("lang"), Seq(col("__h").asc), "doc_id", k = 40)
        .select(col("lang"), col("doc_id"), col("rank")),
      oracle = """SELECT lang, doc_id, rank FROM (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':17'), doc_id)
        |           AS rank
        |  FROM documents)
        |WHERE rank <= 40""".stripMargin),
    // sequence packing: where each doc lands in the ctx-window stream.
    // bucketSize 64 forces many buckets at sf0.01 so the two-level
    // prefix sum is exercised against the single-window oracle
    QuerySpec("text_pack_sequences", (s, dir) =>
      TextAnalysis.packSequences(t(s, dir, "documents"),
        ctxLen = 512, bucketSize = 64),
      // single global window in the oracle; the Spark side must reproduce
      // it with its two-level bucketed scan (bucketSize 64 in the entry)
      oracle = """WITH toks AS (
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
        |FROM cum WHERE n_tokens > 0""".stripMargin),
    // exact-count mixture: take exactly N docs per source in
    // reproducible hash order; sources outside the recipe are dropped
    QuerySpec("text_mixture_sample", (s, dir) =>
      TextAnalysis.mixtureTake(t(s, dir, "documents"), "source", MixTargets)
        .select("doc_id", "lang", "source"),
      oracle = s"""SELECT doc_id, lang, source FROM (
         |  SELECT doc_id, lang, source,
         |         ROW_NUMBER() OVER (PARTITION BY source
         |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= $mixTargetCase""".stripMargin),
    // the packed-batch work order: which docs fill each ctx window,
    // with per-doc token occupancy
    QuerySpec("text_pack_manifest", (s, dir) =>
      TextAnalysis.packManifest(t(s, dir, "documents"),
        ctxLen = 512, bucketSize = 64),
      oracle = """WITH toks AS (
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
        |      FROM packed)""".stripMargin),
    // the materialized training stream: each ctx window's text
    // assembled from its docs' fragments in stream order
    QuerySpec("text_pack_emit", (s, dir) =>
      TextAnalysis.packEmit(t(s, dir, "documents"),
        ctxLen = 512, bucketSize = 64),
      // DuckDB list_slice is 1-based with INCLUSIVE end: begin gs-S+1,
      // end ge-S reproduce Spark's slice(start, length) exactly
      oracle = """WITH toks AS (
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
        |FROM frags GROUP BY seq_id""".stripMargin),
    // disjoint+complete train/val/test assignment from md5 ranges:
    // stable under corpus growth, reproducible across engines
    QuerySpec("text_split_assign", (s, dir) =>
      TextAnalysis.splitAssign(t(s, dir, "documents"), SplitSpec)
        .select("doc_id", "split"),
      oracle = s"SELECT doc_id, $splitCase AS split FROM documents"),
    // the prep pipeline composed end-to-end in ONE lazy DAG: normalize
    // -> quality gate -> exact-dedup keeper -> reproducible 50% sample.
    // Catalyst fuses the scan/projection chain; the only shuffles are
    // the dedup groupBy and its join
    QuerySpec("text_filter_pipeline", (s, dir) => {
      val d = TextAnalysis.normalizeText(t(s, dir, "documents"))
        .select(col("doc_id"), col("norm_text").as("text"))
      val q = TextAnalysis.qualityScore(d).filter(col("quality") >= 0.6)
      val keepers = Dedup.exact(d).select(col("keeper_id").as("doc_id"))
      TextAnalysis.hashSample(q.join(keepers, "doc_id"), "doc_id", rate = 0.5)
        .select("doc_id", "n_tokens", "quality")
    },
      oracle = """WITH nrm AS (
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
        |      '80000000000000000000000000000000'""".stripMargin),
    QuerySpec("corpus_token_stats", (s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents"))
        .join(t(s, dir, "documents").select("doc_id", "lang", "source"), "doc_id")
        .groupBy("lang", "source")
        .agg(count("*").as("n_docs"),
          sum("ws_tokens").as("total_ws_tokens"),
          sum("bpe_tokens").as("total_bpe_tokens")),
      oracle = """SELECT d.lang, d.source, count(*) AS n_docs,
        |  CAST(sum(len(list_filter(regexp_split_to_array(d.text, '\s+'),
        |    x -> x <> ''))) AS BIGINT) AS total_ws_tokens,
        |  CAST(sum(len(regexp_extract_all(d.text,
        |    '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]'))) AS BIGINT) AS total_bpe_tokens
        |FROM documents d GROUP BY 1, 2""".stripMargin),
    QuerySpec("text_fingerprint", (s, dir) =>
      TextAnalysis.fingerprints(t(s, dir, "documents")),
      oracle = PinnedOracles.sql("text_fingerprint")),
    // Gopher-style repetition metrics: top token / top bigram /
    // duplicate-trigram fractions per document, all exact count ratios
    QuerySpec("text_repetition", (s, dir) =>
      TextAnalysis.repetitionStats(t(s, dir, "documents")),
      // all ratios are single IEEE divisions of exact integer counts —
      // bit-identical across engines, no rounding
      oracle = """WITH toks0 AS (
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
        |FROM c GROUP BY doc_id""".stripMargin),
    // exact duplicate-span removal: strip every 8-token span occurring
    // in >= 2 docs, rebuild the survivors (substring dedup)
    QuerySpec("text_span_dedup", (s, dir) =>
      TextAnalysis.spanDedup(t(s, dir, "documents"), k = 8),
      oracle = """WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
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
        |FROM t0 LEFT JOIN k2 USING (doc_id)""".stripMargin),
    // canonical normalization: NFC (native Catalyst expression) +
    // control-char strip + whitespace collapse. The corpus is ASCII,
    // so denormalized unicode / controls / space runs are appended
    // deterministically to give the normalizer real work
    QuerySpec("text_normalize", (s, dir) =>
      TextAnalysis.normalizeText(
        t(s, dir, "documents").withColumn("text",
          concat(col("text"),
            // decomposed e+combining-acute / A+combining-ring (NFC must
            // compose them), a C0 control char, a tab, a space run
            lit("  cafe\u0301 \u0001ctl\there A\u030A"))))
        .select("doc_id", "norm_text"),
      // chr(769)=U+0301 combining acute, chr(1)=C0 control, chr(9)=tab,
      // chr(778)=U+030A combining ring — same synthetic suffix as the
      // entry; nfc_normalize is DuckDB's ICU NFC
      oracle = """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(
        |    nfc_normalize(text || '  cafe' || chr(769) || ' ' || chr(1) ||
        |                  'ctl' || chr(9) || 'here A' || chr(778)),
        |    '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
        |    '[ \t]+', ' ', 'g')) AS norm_text
        |FROM documents""".stripMargin),
    // BPE training statistics pass: adjacent char-pair counts weighted
    // by word frequency. The corpus-sized work is ONE word-count
    // aggregate; the pair explode runs on the vocabulary table
    QuerySpec("text_bpe_pairs", (s, dir) =>
      TextAnalysis.bpePairCounts(
        TextAnalysis.wordFrequencies(t(s, dir, "documents"))),
      oracle = """WITH words AS (
        |  SELECT lower(w) AS word, count(*) AS freq
        |  FROM documents, unnest(string_split(text, ' ')) AS t(w)
        |  WHERE w <> '' GROUP BY 1),
        |ex AS (
        |  SELECT word, freq, unnest(generate_series(1, len(word) - 1)) AS i
        |  FROM words WHERE len(word) >= 2)
        |SELECT substr(word, i, 2) AS pair,
        |       CAST(sum(freq) AS BIGINT) AS pair_count
        |FROM ex GROUP BY 1""".stripMargin),
    // length-distribution report: fixed-width histogram over n_chars —
    // the standard pre-training corpus length audit. Exact integer bin
    // counts, one partial-aggregated pass
    QuerySpec("text_length_hist", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(floor(col("n_chars") / lit(256)).as("bucket"))
        .agg(count(lit(1)).as("n"), min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars")),
      oracle = """SELECT CAST(floor(n_chars / 256.0) AS BIGINT) AS bucket,
        |       count(*) AS n, min(n_chars) AS min_chars,
        |       max(n_chars) AS max_chars
        |FROM documents GROUP BY 1""".stripMargin),
    // sketch-accelerated EXACT top-k words: Misra-Gries candidates per
    // partition + exact count of candidates only — the giant
    // distinct-key shuffle never happens; completeness is runtime-
    // checked (kth count vs N/capacity) with a full-agg fallback
    QuerySpec("top_words_sketch", (s, dir) =>
      graft.ops.HeavyHitters.topK(
        t(s, dir, "documents")
          .select(explode(split(col("text"), " ", -1)).as("w"))
          .filter(col("w") =!= "").select(lower(col("w")).as("word")),
        "word", k = 25, capacity = 1024)
        .select(col("key").as("word"), col("n")),
      oracle = TopWordsOracle),
    // incremental top-k maintenance: mergeable Misra-Gries states
    // built on the odd/even doc_id halves, merged, then read exactly —
    // history is never re-sketched (only the bounded-key exact
    // candidate count touches the full corpus), completing the
    // mergeable-state family (KMV = distinct, histogram = quantiles,
    // MG = top-k). The read is EXACT (candidates + verify + fallback),
    // so the oracle is the plain top-k
    QuerySpec("q_topk_incremental", (s, dir) => {
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
    },
      // the merged-state read is exact (candidates + verify + fallback),
      // so the incremental maintenance path must EQUAL the plain top-k
      oracle = TopWordsOracle),
    // unigram-LM quality score (CCNet-style perplexity filter with a
    // unigram model): mean log10 token probability per doc. Rounded to
    // 6 decimals: the avg's summation order is partitioning-dependent
    // at ~1e-13 while the round grid is 1e-6
    QuerySpec("text_unigram_logprob", (s, dir) =>
      TextAnalysis.unigramLogProb(t(s, dir, "documents"))
        .select(col("doc_id"), round(col("avg_logprob"), 6).as("avg_logprob")),
      oracle = """WITH toks AS (
        |  SELECT doc_id, lower(w) AS word
        |  FROM documents, unnest(string_split(text, ' ')) AS t(w)
        |  WHERE w <> ''),
        |freqs AS (SELECT word, count(*) AS freq FROM toks GROUP BY 1),
        |tot AS (SELECT count(*) AS total FROM toks)
        |SELECT doc_id,
        |       round(avg(log10(CAST(freq AS DOUBLE) / total)), 6)
        |         AS avg_logprob
        |FROM toks JOIN freqs USING (word), tot
        |GROUP BY 1""".stripMargin),
    // bigram-LM quality score: mean conditional log-prob over in-doc
    // bigrams under the corpus MLE — the next rung above the unigram
    // score; round(6) since double-sum order is partitioning-dependent
    QuerySpec("text_bigram_logprob", (s, dir) =>
      TextAnalysis.bigramLogProb(t(s, dir, "documents"))
        .select(col("doc_id"),
          round(col("avg_bigram_logprob"), 6).as("avg_bigram_logprob")),
      oracle = OracleBigramCte + """
        |SELECT doc_id,
        |       round(avg(log10(CAST(freq AS DOUBLE) / ctx_total)), 6)
        |         AS avg_bigram_logprob
        |FROM bi JOIN ctx USING (bigram)
        |GROUP BY 1""".stripMargin),
    // Stupid Backoff scoring under a HELD-OUT LM (the src0-src9 half,
    // selected by length(source) = 4): seen bigrams score the
    // conditional MLE, unseen ones back off to 0.4 · unigram, OOV
    // takes pseudo-count 0.5 — round(6) absorbs cross-engine log10
    // last-ulp differences (the bigram_logprob precedent)
    QuerySpec("text_stupid_backoff", (s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.stupidBackoff(d, d.filter(length(col("source")) === 4))
        .select(col("doc_id"),
          round(col("avg_backoff_logprob"), 6).as("avg_backoff_logprob"),
          col("n_backoff"))
    },
      // identical tokenization + expression shapes as the Spark side;
      // sums cast out of HUGEINT before any double math
      oracle = """WITH t0 AS (
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
        |GROUP BY 1""".stripMargin),
    // PMI collocation mining (multi-word-expression discovery): corpus
    // bigrams with freq >= 5 scored log10(p(ab)/(p(a)p(b))); per-row
    // arithmetic on exact counts, round(6) only to absorb cross-engine
    // log10 last-ulp differences
    QuerySpec("text_collocations", (s, dir) =>
      TextAnalysis.collocations(t(s, dir, "documents"), minFreq = 5L)
        .select(col("bigram"), col("freq"), round(col("pmi"), 6).as("pmi")),
      // identical tokenization to text_bigram_logprob; PMI is the same
      // IEEE expression order as the Spark side, totals cast out of
      // DuckDB's HUGEINT sum
      oracle = """WITH t0 AS (
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
        |CROSS JOIN nu CROSS JOIN nb""".stripMargin),
    // hashing-trick linear classifier inference (fastText-shaped):
    // broadcast model-sized weight table, one per-doc mean aggregate;
    // the demo weights are a deterministic function of the feature id
    // so the oracle can rebuild the identical model
    QuerySpec("text_classifier_score", (s, dir) =>
      TextAnalysis.classifierScore(t(s, dir, "documents"),
          TextAnalysis.hashedWeights(s, 4096), dim = 4096)
        .select(col("doc_id"), round(col("prob"), 6).as("prob")),
      // the weight table is rebuilt from the same deterministic formula
      // and the same portable md5-based feature hash the Spark side uses
      oracle = """WITH toks AS (
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
        |GROUP BY 1""".stripMargin),
    // distributed full-batch logistic-regression TRAINING (the learn
    // step whose inference twin is classifierScore): 3 GD rounds, one
    // corpus aggregation per round, model-sized driver state. Fast
    // sigmoid + floor-scaled integer gradients make every round
    // bit-exact cross-engine — the oracle replays the rounds unrolled
    // and the weight doubles compare with ==
    QuerySpec("text_train_logreg", (s, dir) =>
      TextAnalysis.trainLogReg(t(s, dir, "documents"),
        when(col("lang") === "en", 1.0).otherwise(0.0)),
      oracle = OracleTrainLogRegSql),
    // reliability-diagram calibration of the trained filter: centile
    // buckets of the 6-dp fast-sigmoid probability vs the empirical
    // positive rate — the table a production threshold is read off.
    // Empirical rates are exact integer divisions; the oracle shares
    // the unrolled-training CTE
    QuerySpec("text_classifier_calibration", (s, dir) =>
      TextAnalysis.calibrationReport(t(s, dir, "documents"),
        when(col("lang") === "en", 1.0).otherwise(0.0),
        iterations = 6, lr = 5.0),
      oracle = OracleCalibrationSql),
    // DSIR importance log-weights: target = the English slice; one
    // conditional aggregation builds both unigram LMs, vocabulary-sized
    // model tables, per-doc sum of the smoothed log-likelihood ratio
    QuerySpec("text_dsir_weights", (s, dir) =>
      TextAnalysis.dsirWeights(t(s, dir, "documents"),
          col("lang") === "en")
        .select(col("doc_id"),
          round(col("dsir_logweight"), 6).as("dsir_logweight")),
      oracle = """WITH toks AS (
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
        |GROUP BY 1""".stripMargin),
    // full winnowing (MOSS) fingerprint selection: min-hash of each
    // w-window of word-k-gram hashes, rightmost-min tie rule — pure
    // map-side HOF algebra, portable md5-hex ordering
    QuerySpec("text_winnowing", (s, dir) =>
      TextAnalysis.winnow(t(s, dir, "documents"), k = 4, w = 4),
      oracle = ("WITH " + OracleWinnowCte + "\n" +
        "SELECT doc_id, pos, fp FROM win")),
    // CCNet head/middle/tail perplexity thirds over the bigram-LM
    // score — the published quality-bucketing design; tertiles via the
    // scalable NTILE (no single-partition sort)
    QuerySpec("text_perplexity_buckets", (s, dir) =>
      TextAnalysis.perplexityBuckets(t(s, dir, "documents")),
      // the text_bigram_logprob score + SQL NTILE tertiles over
      // (logprob, doc_id); tile 3 = highest logprob = head
      oracle = OracleBigramCte + """,
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
        |FROM nt""".stripMargin)
  )
}
