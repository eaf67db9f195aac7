package graft.ops

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

import graft.search.Analyzer

/** Deduplication operators for large-scale training-data pipelines
  * (BASELINE north-star extensions — no reference counterpart; designed
  * partition-parallel for 100 TB posture: every candidate-generation
  * step is a groupBy/join on a bounded key, never an n^2 cross join).
  */
object Dedup {

  /** Exact dedup: hash-groupBy on content digest. Returns one row per
    * distinct text with the kept (minimum) doc_id and the duplicate
    * count. Map-side partial aggregation makes this one shuffle on the
    * 32-hex-char digest regardless of document size.
    */
  def exact(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count("*").as("n_copies"))

  /** All word-`n`-gram shingles of a token array (with repeats), as a
    * column expression. Only valid start positions are generated (docs
    * shorter than n tokens yield an empty array). `toks` must be a plain
    * column REFERENCE, not the tokenizer expression itself — a non-leaf
    * expression inside the transform lambda would be re-evaluated per
    * array element (quadratic per document).
    */
  private def shingleArray(toks: Column, n: Int): Column =
    when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** See [[Analyzer.spread]] — tokenize/shingle work must not inherit a
    * single-row-group input's one-partition layout, especially with no
    * downstream shuffle before a checkpoint.
    */
  private def spread(docs: DataFrame): DataFrame = Analyzer.spread(docs)

  /** Word-`n`-gram shingles of a document, distinct, as one row per
    * shingle: `(doc_id, shingle STRING)`. Built from codegen'd
    * higher-order array functions — no UDF, and dedup happens INSIDE the
    * row (`array_distinct` before the explode): all shingles of a doc
    * live in one array, so per-(doc, shingle) distinctness never needs a
    * shuffle.
    */
  def shingles(docs: DataFrame, n: Int, textCol: String = "text"): DataFrame =
    spread(docs).select(col("doc_id"), Analyzer.tokensCol(col(textCol)).as("__toks"))
      .select(col("doc_id"),
        explode(array_distinct(shingleArray(col("__toks"), n))).as("shingle"))

  /** Each document's distinct shingle SET as one sorted array row:
    * `(doc_id, sh ARRAY<STRING>)`. Sorted so the array is a canonical
    * set key — two documents have equal `sh` iff their shingle sets are
    * equal — usable directly as a groupBy/partitionBy key. No shuffle of
    * shingle data (tokenize/shingle/dedup all inside the row); docs with
    * fewer than `n` tokens yield an empty array.
    */
  def shingleSets(docs: DataFrame, n: Int, textCol: String = "text"): DataFrame =
    spread(docs).select(col("doc_id"), Analyzer.tokensCol(col(textCol)).as("__toks"))
      .select(col("doc_id"),
        sort_array(array_distinct(shingleArray(col("__toks"), n))).as("sh"))

  /** Exact n-gram Jaccard similarity for all pairs sharing at least one
    * shingle, expressed relationally (self-equi-join on the shingle key +
    * re-aggregation) so it shuffles on shingle/doc keys instead of
    * enumerating the n^2 document pairs. Returns
    * `(doc_a, doc_b, jaccard)` with doc_a < doc_b and jaccard >= minJ.
    *
    * Scale note: a stop-shingle appearing in k docs contributes k^2 join
    * rows; `maxShingleFreq` drops such super-frequent shingles from
    * CANDIDATE GENERATION only (a standard LSH-side guard) — the Jaccard
    * of a proposed pair is still computed over the FULL shingle sets, so
    * guarded values equal exact values and a pair is missed only if it
    * shares exclusively hot shingles. With the default Int.MaxValue the
    * single self-join exact path runs instead.
    */
  def ngramJaccard(docs: DataFrame, n: Int, minJ: Double,
                   maxShingleFreq: Int = Int.MaxValue): DataFrame =
    // the shingle table feeds the guard probe, both join sides, and the
    // size aggregate — eager localCheckpoint computes the
    // tokenize+explode+distinct once instead of once per consumer
    // (blocks are GC-reclaimed; see clusters for why not persist())
    ngramJaccardFromShingles(shingles(docs, n).localCheckpoint(true),
      minJ, maxShingleFreq)

  /** [[ngramJaccard]] over a PREBUILT (doc_id, shingle) table — the
    * session-shared-artifact entry point: one corpus shingle pass can
    * feed the self-join pairs, cross-corpus decontamination, and
    * containment scoring instead of each rebuilding it. The caller
    * owns materialization (pass an eagerly checkpointed table).
    */
  def ngramJaccardFromShingles(sh: DataFrame, minJ: Double,
                               maxShingleFreq: Int = Int.MaxValue): DataFrame =
    selfOverlap(sh, maxShingleFreq)
      .withColumn("jaccard", jaccardCol(col("n_common"), col("na"), col("nb")))
      .filter(col("jaccard") >= minJ)
      .select("doc_a", "doc_b", "jaccard")
      // checkpoint the SMALL result so the returned plan stops
      // referencing the big shingle-table blocks — they become
      // GC-reclaimable now instead of living as long as the result plan
      .localCheckpoint(true)

  /** Shingle Jaccard `|A ∩ B| / |A ∪ B|` from the intersection size and
    * both set sizes — one division, the same arithmetic in the self
    * ([[ngramJaccardFromShingles]]), cross ([[crossJaccardFromShingles]])
    * and MinHash ([[verifyPairs]]) paths, so a pair's jaccard does not
    * depend on which path scored it.
    */
  private def jaccardCol(nCommon: Column, na: Column, nb: Column): Column =
    nCommon.cast("double") / (na + nb - nCommon)

  /** The self-overlap scaffold of [[ngramJaccardFromShingles]] and
    * [[containmentFromShingles]]: `(doc_a < doc_b, n_common, na, nb)`
    * for every pair sharing a shingle, with both docs' shingle counts.
    * Adaptive: when the guard is off OR no shingle actually exceeds it
    * (one cheap aggregation to check — planning-time statistics, like
    * the search compiler's df fetch), the single self-join exact path
    * runs; the two-phase candidates+verify shape is only paid when hot
    * shingles exist and the k^2 blowup is real.
    */
  private def selfOverlap(sh: DataFrame, maxShingleFreq: Int): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count("*").as("n_shingles"))
    val hot = sh.groupBy("shingle").agg(count("*").as("freq"))
      .filter(col("freq") > maxShingleFreq)
    val inter =
      if (maxShingleFreq == Int.MaxValue || hot.isEmpty)
        exactPairCommonCounts(sh)
      else guardedPairCommonCounts(sh, hot)
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_shingles", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_shingles", "nb"), "doc_b")
  }

  /** Exact per-pair common-shingle counts: one self-equi-join on the
    * shingle key. `(doc_a < doc_b, n_common)`.
    */
  private def exactPairCommonCounts(sh: DataFrame): DataFrame =
    sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count("*").as("n_common"))

  /** Guarded per-pair common-shingle counts: hot shingles are dropped
    * from CANDIDATE GENERATION only — the anti-joined self-join
    * proposes pairs (bounded: <= maxShingleFreq^2 rows per shingle)
    * and the true overlap is then computed over the FULL shingle sets
    * via a pair-bounded join (cost = candidates x doc size, never the
    * hot shingle's k^2). The hot list is small, so it broadcasts.
    */
  private def guardedPairCommonCounts(sh: DataFrame,
                                      hot: DataFrame): DataFrame = {
    val filtered = sh.join(broadcast(hot.select("shingle")), Seq("shingle"), "left_anti")
    val candidates = filtered.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(filtered.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val bSide = sh.select(col("doc_id").as("b_id"), col("shingle").as("b_sh"))
    candidates
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(bSide, col("doc_b") === col("b_id") && col("shingle") === col("b_sh"))
      .groupBy("doc_a", "doc_b").agg(count("*").as("n_common"))
  }

  /** ASYMMETRIC near-dup: shingle CONTAINMENT (Broder 1997's other
    * resemblance measure) — `C(A in B) = |sh(A) ∩ sh(B)| / |sh(A)|`.
    * Jaccard misses doc-in-doc relationships (a tweet quoted inside an
    * article scores near 0 Jaccard but 1.0 containment), which is
    * exactly the shape of quote/boilerplate/subset contamination in a
    * training corpus. Emits one row per unordered pair with BOTH
    * directions scored, keeping pairs where either direction reaches
    * `minC`.
    *
    * Same scale shape as [[ngramJaccard]] (shared candidate machinery):
    * bounded-key shingle equi-join, optional hot-shingle cap that drops
    * ubiquitous shingles from candidate generation only — surviving
    * pairs always score their TRUE containment from full shingle sets.
    */
  def containmentPairs(docs: DataFrame, n: Int, minC: Double,
                       maxShingleFreq: Int = Int.MaxValue): DataFrame =
    containmentFromShingles(shingles(docs, n).localCheckpoint(true),
      minC, maxShingleFreq)

  /** [[containmentPairs]] over a prebuilt shingle table (see
    * [[ngramJaccardFromShingles]]).
    */
  def containmentFromShingles(sh: DataFrame, minC: Double,
                              maxShingleFreq: Int = Int.MaxValue): DataFrame =
    selfOverlap(sh, maxShingleFreq)
      .withColumn("containment_a", col("n_common").cast("double") / col("na"))
      .withColumn("containment_b", col("n_common").cast("double") / col("nb"))
      .filter(greatest(col("containment_a"), col("containment_b")) >= minC)
      .select("doc_a", "doc_b", "containment_a", "containment_b")
      .localCheckpoint(true)

  /** Cross-corpus near-dup Jaccard — FUZZY decontamination: every
    * (corpus doc, held-out doc) pair with shingle Jaccard >= `minJ`.
    * The exact-overlap check ([[benchmarkContamination]]) misses
    * paraphrased/partially-rewritten benchmark leakage; this catches
    * any pair sharing enough n-gram mass, with the exact Jaccard as
    * the score.
    *
    * Scale shape: the held-out side is benchmark-sized by definition,
    * so its shingle table BROADCASTS — the 100 TB corpus is scanned
    * once and never shuffled on shingle keys; only candidate (doc_a,
    * doc_b) rows reach the pair aggregate, partial-aggregated
    * map-side. Anything big enough to break the broadcast is not a
    * held-out set — dedup corpora against each other with
    * [[ngramJaccard]] on their union instead.
    *
    * @return (doc_a = corpus doc, doc_b = held-out doc, jaccard)
    */
  /** @param maxHeldoutDf candidate-generation guard: a shingle present
    *   in MORE than this many held-out docs multiplies every matching
    *   corpus row by its held-out df — benchmark boilerplate ("of the",
    *   shared prompts) is exactly such a shingle, and at corpus scale
    *   the fanout is the whole cost. Over-cap shingles are dropped from
    *   CANDIDATE GENERATION ONLY; surviving candidates get their TRUE
    *   Jaccard from the full shingle sets, so any pair sharing at least
    *   one sub-cap shingle is scored exactly. Only pairs whose ENTIRE
    *   overlap is ubiquitous boilerplate are lost — the same documented
    *   trade as [[ngramJaccard]]'s `maxShingleFreq`. Adaptive: when no
    *   held-out shingle exceeds the cap (one held-out-sized aggregate
    *   to check), the single-phase exact path runs unchanged.
    */
  def crossJaccard(corpus: DataFrame, heldout: DataFrame, n: Int,
                   minJ: Double, maxHeldoutDf: Int = 1000): DataFrame =
    crossJaccardFromShingles(shingles(corpus, n), heldout, n, minJ,
      maxHeldoutDf)

  /** [[crossJaccard]] with a PREBUILT corpus shingle table (see
    * [[ngramJaccardFromShingles]]) — at 100 TB the corpus shingle pass
    * IS the cost, so a session/pipeline that also self-joins the same
    * shingles must not pay it twice.
    */
  def crossJaccardFromShingles(shA: DataFrame, heldout: DataFrame, n: Int,
                               minJ: Double, maxHeldoutDf: Int = 1000): DataFrame = {
    val (inter, sizesA, sizesB) = crossScaffold(shA, heldout, n, maxHeldoutDf)
    inter
      .join(sizesA.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .join(broadcast(sizesB.withColumnRenamed("doc_id", "doc_b")), "doc_b")
      .withColumn("jaccard", jaccardCol(col("n_common"), col("na"), col("nb")))
      .filter(col("jaccard") >= minJ)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Quote-level decontamination: corpus documents CONTAINING a
    * held-out document — `C(B in A) = |sh(A) ∩ sh(B)| / |sh(B)| >=
    * minC` with `B` held-out. A benchmark item quoted verbatim inside
    * a much longer training document scores near-ZERO Jaccard (the
    * union is dominated by the article) but containment ~1 — the
    * leakage shape [[crossJaccard]]'s symmetric score misses.
    * Completes the decontamination ladder: exact shingle overlap →
    * fuzzy Jaccard → asymmetric containment. Same scale shape as
    * [[crossJaccard]] (held-out side broadcast, corpus never shuffled
    * on shingle keys, hot-shingle candidate cap with TRUE score from
    * the full sets).
    *
    * @return (doc_a = corpus doc, doc_b = held-out doc, containment)
    */
  def crossContainment(corpus: DataFrame, heldout: DataFrame, n: Int,
                       minC: Double, maxHeldoutDf: Int = 1000): DataFrame =
    crossContainmentFromShingles(shingles(corpus, n), heldout, n, minC,
      maxHeldoutDf)

  /** [[crossContainment]] with a prebuilt corpus shingle table (see
    * [[ngramJaccardFromShingles]]).
    */
  def crossContainmentFromShingles(shA: DataFrame, heldout: DataFrame,
                                   n: Int, minC: Double,
                                   maxHeldoutDf: Int = 1000): DataFrame = {
    val (inter, _, sizesB) = crossScaffold(shA, heldout, n, maxHeldoutDf)
    inter
      .join(broadcast(sizesB.withColumnRenamed("doc_id", "doc_b")), "doc_b")
      .withColumn("containment",
        col("n_common").cast("double") / col("nb"))
      .filter(col("containment") >= minC)
      .select("doc_a", "doc_b", "containment")
  }

  /** Shared cross-corpus machinery of [[crossJaccardFromShingles]] and
    * [[crossContainmentFromShingles]]: per-pair common-shingle counts
    * (single-phase broadcast join, or the two-phase candidates+verify
    * shape when a held-out shingle exceeds `maxHeldoutDf`) plus both
    * sides' per-doc shingle counts.
    */
  private def crossScaffold(shA: DataFrame, heldout: DataFrame, n: Int,
                            maxHeldoutDf: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    // consumed repeatedly (guard probe, join sides, sizes): the
    // held-out table is small, so an eager checkpoint is cheap and
    // stops repeated tokenization
    val shB = shingles(heldout, n).localCheckpoint(true)
    val sizesA = shA.groupBy("doc_id").agg(count(lit(1)).as("na"))
    val sizesB = shB.groupBy("doc_id").agg(count(lit(1)).as("nb"))
    val dfB = shB.groupBy("shingle").agg(count(lit(1)).as("__df"))
    val guardTriggers = !dfB.filter(col("__df") > maxHeldoutDf).isEmpty
    val inter =
      if (!guardTriggers) {
        shA.select(col("doc_id").as("doc_a"), col("shingle"))
          .join(broadcast(
            shB.select(col("doc_id").as("doc_b"), col("shingle"))),
            Seq("shingle"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
      } else {
        // two-phase: candidates from sub-cap shingles (fanout <= cap
        // per corpus shingle row), TRUE n_common from the full sets —
        // both phases broadcast the held-out side; the corpus is still
        // never shuffled on shingle keys
        val rare = shB.join(broadcast(
            dfB.filter(col("__df") <= maxHeldoutDf).select("shingle")),
          Seq("shingle"))
        val candidates = shA.select(col("doc_id").as("doc_a"), col("shingle"))
          .join(broadcast(rare.select(col("doc_id").as("doc_b"), col("shingle"))),
            Seq("shingle"))
          .select("doc_a", "doc_b").distinct()
        val bSide = shB.select(col("doc_id").as("__b_id"),
          col("shingle").as("__b_sh"))
        candidates
          .join(shA.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
          .join(broadcast(bSide),
            col("doc_b") === col("__b_id") && col("shingle") === col("__b_sh"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
      }
    (inter, sizesA, sizesB)
  }

  /** Per-document shingle set with its canonical 128-bit set digest:
    * `(doc_id, sh, nsh, k)` where `k = md5` of the length-prefixed
    * join of the sorted set (`<len>:<shingle>` per element, netstring
    * style — injective for ANY shingle content, including tokens that
    * carry control bytes the delimiter regex does not strip) and
    * `nsh = size(sh)`. Two documents share `k` iff their shingle sets
    * are identical, up to the 128-bit digest-collision assumption —
    * the same identity-by-digest assumption [[exact]]
    * makes for whole texts. The digest replaces the previous
    * ARRAY<STRING>-keyed window: grouping now shuffles and compares
    * 32-hex keys instead of sorting every partition by a multi-KB
    * string array (measured ~2× on the set-collapse stage), and the
    * group-min aggregation is a codegen'd fixed-width hash aggregate
    * instead of a window sort.
    */
  private def keyedSets(docs: DataFrame, n: Int): DataFrame =
    // no size(sh) > 0 filter HERE: a filter below the projection gets
    // pushed under it, inlining the tokenizer expression into the
    // shingle transform lambda — re-tokenizing per array element
    // (measured 6× slower). Shingle-less docs ride through as one
    // digest group and are excluded AFTER the checkpoint barrier, where
    // `nsh` is a materialized column.
    shingleSets(docs, n).select(col("doc_id"), col("sh"),
      size(col("sh")).as("nsh"),
      setDigest(col("sh")).as("k"))

  /** Injective 128-bit digest of a sorted string array: md5 over the
    * netstring-style `<len>:<element>` concatenation — unambiguous for
    * ANY element content (a plain separator join is not, when elements
    * can contain the separator). Shared by [[keyedSets]] and the
    * Scratch profile/stress mirrors.
    */
  def setDigest(sh: Column): Column =
    md5(array_join(transform(sh, s => concat(length(s), lit(":"), s)), ""))

  /** MinHash LSH with EXACT verification: LSH banding proposes candidate
    * pairs (bounded-key bucket shuffle, no all-pairs), then the true
    * n-gram Jaccard is computed for just those pairs and filtered at
    * `minJ`. This is the production dedup shape — cheap approximate
    * candidate generation, exact decision — and its output is the exact
    * pair list (SQL-expressible), provided the banding's recall at `minJ`
    * covers every true pair.
    *
    * Exact-duplicate mass is factored out BEFORE the LSH: documents with
    * identical shingle sets collapse to one representative (a narrow
    * min-aggregate on the 128-bit set digest — see [[keyedSets]] — then
    * one join to tag every doc with its rep). Within-group pairs
    * are emitted directly at Jaccard 1.0 and cross-group pairs expand
    * from verified representative pairs (identical sets ⇒ identical
    * Jaccard), both output-bounded — so a 20×-duplicated corpus costs
    * the same LSH as its deduplicated base, and recall for duplicate
    * mass is exactly 1 by construction, not probabilistic.
    *
    * Bounded candidate generation, two independent guards:
    * (a) `maxBucket` — buckets holding more than `maxBucket` DISTINCT
    * shingle sets are dropped, capping the per-bucket pair fanout at
    * maxBucket·(maxBucket-1)/2 (candidates ≤ bands·reps·(maxBucket-1)/2
    * overall); (b) `minBands` — a pair must agree on at least
    * `minBands` bands, which cuts the one-lucky-min-hash noise floor
    * (6.5× fewer candidates on the sf0.1 corpus at minBands=2 vs 1).
    *
    * Recall argument for a true non-identical pair at Jaccard j with
    * 1-row bands: each band agrees independently with probability j, so
    * P(miss) ≤ P(Binomial(bands, j) < minBands) — at j=0.2, bands=32:
    * 0.08% for minBands=1, 0.71% for minBands=2; at j=0.5 both are
    * < 1e-7 — plus the cap term: an agreeing band is dropped only when
    * its shared min-hash shingle is the signature minimum of > maxBucket
    * distinct shingle sets (corpus boilerplate), the same failure class
    * [[ngramJaccard]]'s maxShingleFreq guard documents. On the test
    * corpora both guards sit far from the cliff: every true pair has
    * j ≥ 0.8 and agrees on ≥ 26 of 32 bands, max bucket size is 22, and
    * the (cap, minBands) sweep misses 0 of 256 true pairs at sf0.1 /
    * 0 of 25 at sf0.01 (Scratch minhash-bucketstats; the oracle row
    * asserts exactness end-to-end).
    *
    * The pipeline is the at-rest lifecycle's ([[minhashIndexWrite]],
    * [[minhashServePairs]]) stage for stage, held in memory: rep
    * grouping ([[repGroups]]), banding ([[bandedBuckets]]), capped
    * candidates ([[cappedKeyPairs]]), verification ([[verifyPairs]])
    * and rep expansion ([[expandRepPairs]]). The per-doc shingle array
    * must fit in executor memory — true for documents; for book-length
    * texts use [[ngramJaccard]]'s exploded form.
    */
  def minHashLshVerified(docs: DataFrame, n: Int = 3, numHashes: Int = 32,
                         bands: Int = 32, minJ: Double = 0.2,
                         maxBucket: Int = 16, minBands: Int = 1): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(minBands >= 1 && minBands <= bands, "minBands must be in [1, bands]")
    val groups = repGroups(keyedSets(docs, n).localCheckpoint(true))
    val reps = repSets(groups)
    val repPairs = verifyPairs(bucketCandidates(
      bandedBuckets(reps, numHashes, bands), maxBucket, minBands), reps, minJ)
    // eager localCheckpoint: the pair list is tiny, and it lets the big
    // intermediate be unpersisted HERE instead of leaking into the
    // CacheManager for the rest of the session (persist() is never
    // auto-cleaned; checkpoint blocks are GC-reclaimed by the
    // ContextCleaner once the result is unreachable)
    expandRepPairs(repPairs, groups).localCheckpoint(true)
  }

  /** Rep grouping: every non-empty document of a MATERIALIZED
    * [[keyedSets]] table tagged with its group's representative, the
    * smallest doc_id per set digest — `(k, doc_id, sh, nsh, rep)`. The
    * group-min is a fixed-width codegen hash aggregate over
    * `(k, doc_id)` (the arrays never enter its shuffle); at small scale
    * AQE broadcasts it into the rep-tag join, at scale that join sorts
    * on the 32-hex digest, never the array. The input must be a
    * checkpoint: shingle-less docs (fewer than n tokens) are excluded
    * against its materialized `nsh`, never below the tokenizer
    * projection (see [[keyedSets]]). Blocks are GC-reclaimed once the
    * result drops the reference; a columnar persist() of these
    * mostly-array rows measured ~2 s slower at sf0.1.
    */
  private def repGroups(keyed: DataFrame): DataFrame =
    keyed.join(keyed.groupBy("k").agg(min("doc_id").as("rep")), "k")
      .filter(col("nsh") > 0)

  /** One row per distinct non-empty shingle set of [[repGroups]]:
    * `(rep, k, sh)`.
    */
  private def repSets(groups: DataFrame): DataFrame =
    groups.filter(col("doc_id") === col("rep")).select("rep", "k", "sh")

  /** Banded min-hash bucket rows `(rep, band, bucket)` for rep shingle
    * sets `(rep, sh)` — the one banding of both lifecycles, so a bucket
    * is a pure function of (set, band) and base/delta banding agree by
    * construction (a delta rep lands in exactly the bucket a full
    * rebuild would put it in).
    *
    * Each shingle string is hashed ONCE to its 64-bit key; the
    * per-hash-function minima are computed from the keys in ONE native
    * pass
    * ([[graft.functions.MinHashMinima]], values bit-equal to
    * `array_min(transform(hs, h => xxhash64(h, i)))`, spec-pinned) and
    * bound once per row (an inline subtree would be duplicated per
    * band); band b's bucket hashes its `numHashes/bands` consecutive
    * minima as an array. The recall argument (P(band agrees) = j per
    * 1-row band) is hash-independent; the bucket-cap margins were
    * measured on this draw (Scratch minhash-bucketstats: 0 missed true
    * pairs, min agreeing bands 22/32, max bucket 20).
    */
  private def bandedBuckets(reps: DataFrame, numHashes: Int,
                            bands: Int): DataFrame = {
    val rows = numHashes / bands
    reps.select(col("rep"), transform(col("sh"), s => xxhash64(s)).as("__hs"))
      .select(col("rep"),
        graft.functions.MinHashMinima.of(col("__hs"), numHashes).as("__mins"))
      .select(col("rep"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)), bnd =>
          xxhash64(slice(col("__mins"), bnd * rows + 1, lit(rows)), bnd)))
        .as(Seq("band", "bucket")))
      .select("rep", "band", "bucket")
  }

  /** Capped-key pair generator: the ids of each `keys` group folded into
    * one sorted array, keys of size 2..`cap` kept (a HAVING on the array
    * size), all ordered pairs exploded MAP-SIDE and counted per pair —
    * `(a < b, nCol)` for pairs sharing at least `minCount` keys. One
    * aggregate instead of a size aggregate + cap join + key self-join;
    * per-key pair fanout is bounded by cap·(cap-1)/2. Hub safety: the
    * collect is SIZE-BOUNDED at `cap + 1`, and `id` must be distinct
    * within a key, so the collected size is min(true size, cap + 1)
    * and the HAVING keeps exactly the keys an unbounded collect would
    * — a corpus-boilerplate key shared by millions of ids tops out at
    * cap + 1 buffer elements.
    */
  private def cappedKeyPairs(rows: DataFrame, keys: Seq[String], id: String,
                             cap: Int, a: String, b: String, nCol: String,
                             minCount: Int): DataFrame =
    rows.groupBy(keys.head, keys.tail: _*)
      .agg(sort_array(graft.functions.BoundedCollectList.of(
        col(id), cap + 1)).as("__ids"))
      .filter(size(col("__ids")).between(2, cap))
      .select(explode(orderedIdPairs(col("__ids"))).as("__p"))
      .select(col("__p.a").as(a), col("__p.b").as(b))
      .groupBy(a, b)
      .agg(count(lit(1)).as(nCol))
      .filter(col(nCol) >= minCount)

  /** All ordered pairs (a < b) of a sorted distinct id array. */
  private def orderedIdPairs(ids: Column): Column =
    flatten(transform(sequence(lit(1), size(ids) - 1),
      i => transform(sequence(i + 1, size(ids)),
        j => struct(element_at(ids, i).as("a"),
          element_at(ids, j).as("b")))))

  /** Candidate rep pairs of one banded population: [[cappedKeyPairs]]
    * over `(band, bucket)` (one rep per bucket and band, so the pair
    * count is the agreeing-band count), `minBands` agreeing bands.
    */
  private def bucketCandidates(banded: DataFrame, maxBucket: Int,
                               minBands: Int): DataFrame =
    cappedKeyPairs(banded, Seq("band", "bucket"), "rep", maxBucket,
      "rep_a", "rep_b", "__nb", minBands).select("rep_a", "rep_b")

  /** Bucket-capped, minBands-filtered candidate rep pairs between
    * `probe` banded rows and `all` banded rows (probe ⊆ all; at least
    * one side of every pair is a probe rep) — the append path, which
    * must not pair base reps with each other. Caps are computed over
    * `all` — the post-append population — so the kept-bucket decision
    * is EXACTLY the one a full rebuild would make. `countDistinct`
    * on band de-duplicates the probe×all double-count when both reps
    * of a pair are probes (a pair shares at most one bucket per band,
    * so distinct-band count = agreeing-band count, the same statistic
    * [[bucketCandidates]] thresholds).
    */
  private def cappedCandidates(probe: DataFrame, all: DataFrame,
                               maxBucket: Int, minBands: Int): DataFrame = {
    val keptBuckets = all.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucket)
      .select("band", "bucket")
    val keptAll = all.join(keptBuckets, Seq("band", "bucket"), "left_semi")
    val keptProbe = probe.join(keptBuckets, Seq("band", "bucket"), "left_semi")
    keptProbe.select(col("band"), col("bucket"), col("rep").as("pa"))
      .join(keptAll.select(col("band"), col("bucket"), col("rep").as("pb")),
        Seq("band", "bucket"))
      .filter(col("pa") =!= col("pb"))
      .select(least(col("pa"), col("pb")).as("rep_a"),
        greatest(col("pa"), col("pb")).as("rep_b"), col("band"))
      .groupBy("rep_a", "rep_b").agg(countDistinct("band").as("__nb"))
      .filter(col("__nb") >= minBands)
      .select("rep_a", "rep_b")
  }

  /** Exact-Jaccard verification of candidate rep pairs against a
    * shingle-set lookup `(rep, sh)`: the two shingle SETS intersected
    * per pair (codegen'd `array_intersect` after two id-equi-joins,
    * cost bounded by the candidate count, never a corpus-wide shingle
    * self-join), scored by [[jaccardCol]], kept at `minJ`. The one
    * verifier of the in-memory and at-rest lifecycles.
    */
  private def verifyPairs(cand: DataFrame, shTbl: DataFrame,
                          minJ: Double): DataFrame =
    cand
      .join(shTbl.select(col("rep").as("rep_a"), col("sh").as("sh_a")), "rep_a")
      .join(shTbl.select(col("rep").as("rep_b"), col("sh").as("sh_b")), "rep_b")
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        jaccardCol(col("n_common"), size(col("sh_a")), size(col("sh_b"))))
      .filter(col("jaccard") >= minJ)
      .select("rep_a", "rep_b", "jaccard")

  /** Rep expansion: verified rep pairs `(rep_a, rep_b, jaccard)` to all
    * member pairs over a membership table `(doc_id, rep)` — cross pairs
    * inherit the reps' jaccard (identical sets), same-group pairs are
    * exact duplicates at 1.0. Both joins fan out only to rows that ARE
    * the output.
    */
  private def expandRepPairs(repPairs: DataFrame, members: DataFrame): DataFrame = {
    val crossPairs = repPairs
      .join(members.select(col("rep").as("rep_a"), col("doc_id").as("da")),
        "rep_a")
      .join(members.select(col("rep").as("rep_b"), col("doc_id").as("db")),
        "rep_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jaccard"))
    val withinPairs = members.select(col("rep"), col("doc_id").as("doc_a"))
      .join(members.select(col("rep"), col("doc_id").as("doc_b")), "rep")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(1.0).as("jaccard"))
    crossPairs.unionByName(withinPairs)
  }

  // ---------- MinHash LSH index at rest (incremental lifecycle) ----

  private def writeGen(df: DataFrame, dir: String, gen: Int): Unit =
    df.withColumn("gen", lit(gen))
      .write.mode(if (gen == 0) "overwrite" else "append")
      .partitionBy("gen").parquet(dir)

  /** Build the at-rest MinHash dedup index of a corpus under `path` —
    * the third index family to get the full persisted lifecycle next
    * to the inverted index ([[graft.search.Indexer.writeIndex]]) and
    * IVF ([[AnnIndex.ivfWriteExact]]). Four artifacts, all rep-level
    * (exact-duplicate mass collapsed, as in [[minHashLshVerified]]),
    * each written `partitionBy(gen)` so later appends land as new
    * `gen=N` partition files without touching the base:
    *
    *  - `dict`       (k, rep): 128-bit set digest → representative —
    *                 the routing table a delta batch matches against;
    *  - `membership` (doc_id, rep): every non-empty doc's group;
    *  - `banded`     (rep, band, bucket): the LSH bucket index;
    *  - `reppairs`   (rep_a, rep_b, jaccard): verified near-dup rep
    *                 pairs at `minJ`.
    *
    * The stages are [[minHashLshVerified]]'s own: [[repGroups]],
    * [[bandedBuckets]] (checkpointed: it is written and probed),
    * [[bucketCandidates]] and [[verifyPairs]]; [[minhashServePairs]]
    * is its [[expandRepPairs]].
    *
    * What is deliberately NOT stored: shingle arrays. At 100 TB the
    * set payloads dwarf the index; verification re-derives shingles
    * only for candidate docs ([[minhashIndexAppend]]), the same
    * "re-read only candidates" posture as the reference's doc fetch.
    */
  def minhashIndexWrite(docs: DataFrame, path: String, n: Int = 3,
                        numHashes: Int = 32, bands: Int = 32,
                        minJ: Double = 0.2, maxBucket: Int = 16,
                        minBands: Int = 1): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val groups = repGroups(keyedSets(docs, n).localCheckpoint(true))
    val reps = repSets(groups)
    writeGen(reps.select("k", "rep"), s"$path/dict", 0)
    writeGen(groups.select("doc_id", "rep"), s"$path/membership", 0)
    val banded = bandedBuckets(reps, numHashes, bands).localCheckpoint(true)
    writeGen(banded, s"$path/banded", 0)
    writeGen(verifyPairs(bucketCandidates(banded, maxBucket, minBands),
      reps, minJ), s"$path/reppairs", 0)
  }

  /** Route a NEW batch against the at-rest index and physically append
    * the delta — per-document work (tokenize, shingle, min-hash) for
    * the batch only, never a base re-scan:
    *
    *  1. batch sets matching a stored digest ADOPT the existing rep
    *     (identical set ⇒ identical jaccard to everything — their
    *     pairs come free through the membership expansion);
    *  2. genuinely new sets form new groups ([[repGroups]]), are banded,
    *     and appended into `banded` as a new `gen=N` generation;
    *  3. candidates = new reps × post-append population, with bucket
    *     caps computed over the SAME post-append banded table a full
    *     rebuild would see. Pairs persisted by EARLIER generations are
    *     not retroactively re-capped: if a batch pushes a bucket past
    *     `maxBucket`, a from-scratch rebuild would drop that bucket's
    *     candidates while the index keeps its already-verified pairs —
    *     strictly MORE recall, never less, and every kept pair is
    *     exact-verified at `minJ`, so the output stays a subset of the
    *     true pair list either way (on the test corpora the caps sit
    *     far from this edge and append ≡ rebuild exactly — the oracle
    *     row asserts it every round);
    *  4. verification re-derives shingle sets from `corpus` for the
    *     candidate reps ONLY (a bounded semi-join re-read, not a
    *     corpus scan);
    *  5. the new verified pairs append into `reppairs`.
    *
    * After the append, [[minhashServePairs]] over the updated layout
    * equals a full rebuild's pair list — the oracle row checks it
    * against the exact SQL pair list every round.
    */
  def minhashIndexAppend(spark: org.apache.spark.sql.SparkSession,
                         path: String, batch: DataFrame, corpus: DataFrame,
                         n: Int = 3, numHashes: Int = 32, bands: Int = 32,
                         minJ: Double = 0.2, maxBucket: Int = 16,
                         minBands: Int = 1): Unit = {
    // each append is its own generation — a second batch must not
    // re-probe (and re-append) the first batch's pairs
    val nextGen = {
      import scala.jdk.CollectionConverters._
      val d = java.nio.file.Paths.get(s"$path/banded")
      val s = java.nio.file.Files.list(d)
      try 1 + s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("gen="))
        .map(_.stripPrefix("gen=").toInt).max
      finally s.close()
    }
    val dict = spark.read.parquet(s"$path/dict")
    // eager checkpoint first: an nsh filter directly on the lazy
    // projection would be pushed under it and inline the tokenizer
    // into the predicate (the measured-6× trap — see keyedSets)
    val nonEmptyB = keyedSets(batch, n).localCheckpoint(true)
      .filter(col("nsh") > 0)
    val adopted = nonEmptyB.join(dict.select("k", "rep"), "k")
      .select("doc_id", "rep")
    val newGroups = repGroups(
      nonEmptyB.join(dict.select("k"), Seq("k"), "left_anti")).localCheckpoint(true)
    writeGen(adopted.unionByName(newGroups.select("doc_id", "rep")),
      s"$path/membership", nextGen)
    val newReps = repSets(newGroups)
    writeGen(newReps.select("k", "rep"), s"$path/dict", nextGen)
    writeGen(bandedBuckets(newReps, numHashes, bands), s"$path/banded",
      nextGen)
    // candidates over the POST-APPEND at-rest bucket index: the delta
    // probes what the layout now physically holds
    val allBanded = spark.read.parquet(s"$path/banded")
    val cand = cappedCandidates(allBanded.filter(col("gen") === nextGen),
      allBanded, maxBucket, minBands).localCheckpoint(true)
    val candIds = cand.select(col("rep_a").as("doc_id"))
      .unionByName(cand.select(col("rep_b").as("doc_id"))).distinct()
    val shTbl = keyedSets(
        corpus.join(candIds, Seq("doc_id"), "left_semi"), n)
      .select(col("doc_id").as("rep"), col("sh"))
    writeGen(verifyPairs(cand, shTbl, minJ), s"$path/reppairs", nextGen)
  }

  /** Serve the full near-dup pair list from the at-rest index alone:
    * [[expandRepPairs]] of the verified rep pairs over the membership
    * table. Pure joins over the two narrow persisted artifacts; after
    * [[minhashIndexAppend]] the served list covers base∪batch with no
    * recomputation — the same serve-from-what-the-pipeline-maintains
    * posture as `search_streamed_index`.
    */
  def minhashServePairs(spark: org.apache.spark.sql.SparkSession,
                        path: String): DataFrame = {
    val membership = spark.read.parquet(s"$path/membership")
      .select("doc_id", "rep")
    expandRepPairs(spark.read.parquet(s"$path/reppairs")
      .select("rep_a", "rep_b", "jaccard"), membership)
  }

  /** SimHash: 64-bit weighted-majority fingerprint of a document's
    * shingle hashes. For each bit position, sum +1/-1 votes across
    * shingles; the sign of the sum is the bit. Near-dups = fingerprints
    * within `maxHamming` — candidates found by matching on any of the
    * four 16-bit chunks (pigeonhole: hamming <= 3 implies one chunk is
    * identical).
    */
  def simHash(docs: DataFrame, n: Int = 2): DataFrame = {
    val sh = shingles(docs, n)
      .withColumn("h", xxhash64(col("shingle")))
    // vote(+1/-1) per bit, summed per document, then sign -> bit
    val bitVotes = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$b")
    }
    sh.groupBy("doc_id").agg(bitVotes.head, bitVotes.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(b =>
          when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
          .reduce((a: Column, c: Column) => a.bitwiseOR(c)).as("simhash"))
  }

  /** SimHash via the typed [[SimHashAggregator]] — bit-identical to
    * [[simHash]] (equivalence-tested), one buffer pass instead of a
    * 64-aggregate-expression plan. Production path.
    */
  def simHashAgg(docs: DataFrame, n: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    shingles(docs, n)
      .select(col("doc_id"), col("shingle")).as[(Long, String)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new SimHashAggregator().toColumn)
      .toDF("doc_id", "simhash")
  }

  /** SimHash near-dup pairs within `maxHamming` bits, candidate-generated
    * by 16-bit chunk equality (4 buckets per doc — a bounded-key shuffle,
    * no cross join).
    */
  def simHashPairs(docs: DataFrame, n: Int = 2, maxHamming: Int = 3): DataFrame = {
    val fp = simHashAgg(docs, n)
    val chunked = fp.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("chunk", "chunk_val")))
    val l = chunked.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("doc_a"), col("simhash").as("fp_a"))
    val r = chunked.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("doc_b"), col("simhash").as("fp_b"))
    l.join(r, Seq("chunk", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact embedding near-dup: all pairs with cosine >= minCos by
    * full pairwise comparison — the correctness baseline the LSH variant
    * approximates. O(n^2/2) pairs: fine for re-ranking a pruned bucket
    * or a small corpus; use [[embeddingNearDupBanded]] at scale.
    */
  def embeddingNearDupExact(embeddings: DataFrame, minCos: Double): DataFrame = {
    val l = embeddings.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val r = embeddings.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    l.crossJoin(r)
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        Similarity.cosineCol(col("emb_a"), col("emb_b")).as("cosine"))
      .filter(col("cosine") >= minCos)
  }

  /** Embedding near-dup: pairs of vectors with cosine similarity >=
    * minCos. Candidates come from random-hyperplane LSH buckets
    * (deterministic planes from xxhash64 of (vec position, plane id)), so
    * the join key is a bounded bucket signature, not an n^2 cross join;
    * exact cosine verifies each candidate.
    */
  /** Banded (multi-table) hyperplane LSH near-dup with exact
    * verification: `tables` independent signatures of `planesPerTable`
    * bits each; vectors agreeing on ANY full table's bits become a
    * candidate pair (shuffle key = (table, bucket)); exact cosine then
    * decides. A true pair at cosine c is missed by one table with
    * probability 1-(1-acos(c)/pi)^planesPerTable and must be missed by
    * all `tables` independently — banding trades a tables-fold candidate
    * increase for recall, exactly like MinHash bands. The embedding rides
    * through the explode for locality (tables x duplication); at 100 TB
    * store `(table, bucket, vec_id)` and join embeddings back by id.
    */
  def embeddingNearDupBanded(embeddings: DataFrame, minCos: Double,
                             planesPerTable: Int = 4, tables: Int = 8): DataFrame = {
    // all tables x planes signatures in ONE native kernel pass per row
    // (the plane matrix is hashed once per executor, not per row) —
    // bit-identical to per-table Similarity.hyperplaneSignature
    // (equivalence-tested in RoundTwoSpec)
    val sigTables = graft.functions.VectorExpressions
      .hyperplaneSignatures(col("embedding"), planesPerTable, tables)
    // The bucket join carries only ids: vectors are NOT duplicated
    // through the tables-fold explode, the distinct dedups narrow
    // (vec_a, vec_b) rows, and the exact cosine is computed once per
    // UNIQUE candidate pair after joining the embeddings back.
    val buckets = embeddings
      .select(col("vec_id"), posexplode(sigTables).as(Seq("tbl", "bucket")))
    val candidates = buckets
      .select(col("tbl"), col("bucket"), col("vec_id").as("vec_a"))
      .join(buckets.select(col("tbl"), col("bucket"), col("vec_id").as("vec_b")),
        Seq("tbl", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
      .distinct()
    candidates
      .join(embeddings.select(col("vec_id").as("vec_a"),
        col("embedding").as("emb_a")), "vec_a")
      .join(embeddings.select(col("vec_id").as("vec_b"),
        col("embedding").as("emb_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        Similarity.cosineCol(col("emb_a"), col("emb_b")).as("cosine"))
      .filter(col("cosine") >= minCos)
  }

  /** Connected components over a near-dup pair list: every document in
    * `pairs` is labeled with the smallest doc id reachable through any
    * chain of pairs (`cluster_id`) — the dedup endgame: keep
    * `doc_id == cluster_id`, drop the rest.
    *
    * Alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"): converges in O(log n) rounds
    * and every round is pure relational algebra — a per-node min
    * aggregation joined back to the edge list. No adjacency lists are
    * ever collected (a hot node's neighborhood stays distributed), so a
    * 100 TB pair list with billion-node components shuffles bounded
    * rows per round. Each round's edge set is eagerly localCheckpointed
    * — truncating both lineage and the logical plan — and nothing
    * crosses the driver but the convergence counter.
    */
  def clusters(pairs: DataFrame, aCol: String = "doc_a",
               bCol: String = "doc_b", maxIter: Int = 25): DataFrame = {
    // invariant through every round: edges directed high -> low (u > v).
    // localCheckpoint (NOT persist): it truncates the logical plan, so
    // round N+1 plans against a LogicalRDD instead of re-analyzing an
    // exponentially nesting join tree, and its blocks are reclaimed by
    // the ContextCleaner once unreferenced — persist() would both leak
    // (CacheManager holds strong refs) and blow up planning time.
    var edges = pairs
      .select(greatest(col(aCol), col(bCol)).cast("long").as("u"),
        least(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var edgeCount = edges.count()
    val nodes = edges.select(col("u").as("doc_id"))
      .unionByName(edges.select(col("v").as("doc_id")))
      .distinct()
      .localCheckpoint(true)

    // large-star over the symmetric view: for each node u, connect every
    // LARGER neighbor v to m = min(N(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      sym.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // small-star over the directed (u > v) view: connect u and every
    // smaller neighbor to m = min(N(u) ∪ {u}) = min over the v's
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      val viaNeighbors = e.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val viaSelf = mins.select(col("u"), col("m").as("v"))
      viaNeighbors.unionByName(viaSelf)
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nextCount = next.count()
      // set-difference emptiness via LEFT ANTI join: both sides are
      // distinct (smallStar ends in .distinct()), so anti-join
      // emptiness ≡ exceptAll emptiness — without exceptAll's
      // union/count-tagging/generate plan (one hash join vs three
      // extra operators, only probed on count-equal rounds)
      converged = nextCount == edgeCount &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      // round k is materialized and the probe is done: round k-1's
      // blocks are dead NOW, not at the next GC (r15, guide §5 —
      // suite-long accumulation of dead round states inflates
      // neighboring queries)
      Graph.dropRoundState(edges)
      edges = next
      edgeCount = nextCount
      iter += 1
    }
    // a non-star edge set would emit duplicate doc_ids with conflicting
    // labels downstream — refuse to return one (rounds needed is
    // O(log n), so maxIter=25 covers any physically storable graph)
    if (!converged)
      throw new IllegalStateException(
        s"clusters did not converge after $maxIter large/small-star rounds")
    // at convergence every edge is (node, root); roots label themselves
    val labels = nodes
      .join(edges.withColumnRenamed("u", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("v"), col("doc_id")).as("cluster_id"))
      .localCheckpoint(true)
    // the label table is materialized: the node table and the final
    // star edges are dead
    Graph.dropRoundState(nodes)
    Graph.dropRoundState(edges)
    labels
  }

  /** Incremental connected components — the cluster-maintenance form
    * of [[clusters]] for a continuously-ingesting near-dup pipeline:
    * instead of re-running candidate generation + star contraction
    * over the whole corpus when a batch arrives, fold the EXISTING
    * label table and only the DELTA-touching pairs.
    *
    * The base pair list is equivalence-preserved by its label table:
    * `doc_id -> cluster_id` star edges reproduce exactly the base
    * connectivity (every member reaches its cluster min in one hop),
    * so `clusters(starEdges ∪ newPairs) = clusters(basePairs ∪
    * newPairs)` — merge ≡ rebuild, with the base side shrunk from
    * edge-sized to node-sized and already contracted to depth 1
    * (fewer star rounds). `newPairs` must be every qualifying pair
    * with at least one endpoint in the batch (the batch×corpus cross
    * pairs — [[crossJaccard]] with the batch as the broadcast side —
    * plus the batch's intra pairs via [[ngramJaccard]]); pairs wholly
    * inside the old corpus are already folded into the labels.
    *
    * Scale: the 100 TB corpus is never re-shuffled on shingle keys —
    * candidate generation touches the batch (and one corpus scan for
    * the cross pairs); contraction shuffles node-sized label edges
    * plus the delta. A batch with no qualifying pairs costs one
    * batch-sized scan.
    */
  def clustersIncremental(baseLabels: DataFrame, newPairs: DataFrame,
                          aCol: String = "doc_a", bCol: String = "doc_b",
                          maxIter: Int = 25): DataFrame = {
    val starEdges = baseLabels
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(aCol), col("cluster_id").as(bCol))
    clusters(starEdges.unionByName(newPairs.select(aCol, bCol)),
      aCol, bCol, maxIter)
  }

  /** Append-only exact dedup — the incremental form of [[exact]] for a
    * continuously-ingesting pipeline: given the at-rest digest table of
    * the already-ingested corpus, classify each arriving document as
    * `new`, `dup_corpus` (digest already at rest), or `dup_batch`
    * (duplicate of an earlier row in the same batch; the smallest
    * doc_id is the batch's keeper and stays `new`). Only `new` rows'
    * digests need appending to the digest table afterwards.
    *
    * Cost: one digest scan of the BATCH plus a left join against the
    * digest table on the digest key — old documents are never re-read
    * (the digest table is the compact at-rest artifact, same role as
    * the incremental index's stats table).
    */
  def incrementalExact(oldDigests: DataFrame, newDocs: DataFrame,
                       textCol: String = "text"): DataFrame =
    classifyDigests(oldDigests, newDocs, textCol)(
      _.join(_, Seq("digest"), "left"))

  /** The classifier of [[incrementalExact]] and [[incrementalExactBloom]]:
    * `probe(d, atRest)` left-joins the batch digests `(doc_id, digest)`
    * to the at-rest flags `(digest, __at_rest = true)`; the rest — the
    * invalid-row split, the digest, the in-batch keeper and the status
    * rule — is shared.
    */
  private def classifyDigests(oldDigests: DataFrame, newDocs: DataFrame,
                              textCol: String)(
      probe: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    // NULL text would make md5 NULL and silently vanish through the
    // digest joins — classify those rows explicitly instead of losing
    // them (every arriving doc must leave with a status)
    val invalid = newDocs.filter(col(textCol).isNull)
      .select(col("doc_id"), lit(null).cast("string").as("digest"),
        lit("invalid").as("status"))
    val d = newDocs.filter(col(textCol).isNotNull)
      .select(col("doc_id"), md5(col(textCol)).as("digest"))
    val firstInBatch = d.groupBy("digest").agg(min("doc_id").as("first_id"))
    probe(d, oldDigests.select(col("digest"), lit(true).as("__at_rest")).distinct())
      .join(firstInBatch, Seq("digest"))
      .select(col("doc_id"), col("digest"),
        when(col("__at_rest"), "dup_corpus")
          .when(col("doc_id") > col("first_id"), "dup_batch")
          .otherwise("new").as("status"))
      .unionByName(invalid)
  }

  /** Partial-overlap candidate pairs by shared winnowing fingerprints —
    * the MOSS detection step on top of [[TextAnalysis.winnow]]: two
    * documents pair when they share at least `minShared` distinct
    * selected fingerprints. Winnowing's guarantee makes this a
    * PARTIAL-overlap detector (any shared run of >= w+k-1 tokens
    * shares a fingerprint), where [[minHashLshVerified]] targets
    * whole-document similarity — plagiarism/quotation/boilerplate
    * detection rather than near-dup collapse.
    *
    * Bounded candidate generation, the MinHash bucket generator
    * ([[cappedKeyPairs]]) keyed on the fingerprint: fingerprints
    * hitting more than `maxFpFreq` distinct documents are dropped
    * (corpus-universal boilerplate — each survivor key yields at most
    * maxFpFreq·(maxFpFreq-1)/2 pairs), and only ids are carried. Output
    * `(doc_a, doc_b, n_shared)`.
    *
    * Matching is EXACT on raw single-space tokens (the [[winnow]] /
    * spanDedup convention), unlike the shingle family's
    * `Analyzer.tokensCol` normalization (lowercase, delimiter strip) —
    * deliberate: verbatim-copy detection wants byte-exact runs. For
    * case/punctuation-robust matching, normalize the text column
    * first (e.g. [[TextAnalysis.normalizeText]] + `lower`).
    */
  def winnowPairs(docs: DataFrame, k: Int = 4, w: Int = 4,
                  minShared: Int = 2, maxFpFreq: Int = 64): DataFrame = {
    require(minShared >= 1 && maxFpFreq >= 2,
      s"need minShared >= 1, maxFpFreq >= 2; got $minShared, $maxFpFreq")
    // a fingerprint can be selected at several positions of one doc —
    // pair counting wants distinct (doc, fp); the winnowing scan has
    // one consumer, so nothing is materialized between scan and result
    cappedKeyPairs(TextAnalysis.winnow(docs, k, w)
        .select(col("doc_id"), col("fp")).distinct(),
      Seq("fp"), "doc_id", maxFpFreq, "doc_a", "doc_b", "n_shared", minShared)
  }

  /** Build the reusable Bloom-filter artifact over the at-rest digest
    * table for [[incrementalExactBloom]]: one partial-aggregated scan,
    * built once per corpus epoch and reused across every arriving
    * batch (persist it driver-side or re-broadcast per job). Size the
    * filter from the digest count: ~1.2 GB per 10^9 digests at 1% fpp
    * — executor-memory scale well past billion-document corpora.
    *
    * Uses Spark's NATIVE `BloomFilterAggregate` (the expression behind
    * runtime row-group filters) over `xxhash64(digest)` instead of
    * `df.stat.bloomFilter` — the returned serialized binary is probed
    * by the codegen'd `BloomFilterMightContain` expression, so the
    * whole membership path stays inside whole-stage codegen (no
    * ScalaUDF). Build and probe hash identically (xxhash64), so the
    * no-false-negative contract is preserved. Requests larger than the
    * runtime-filter session caps temporarily raise those caps so the
    * aggregate cannot silently shrink the filter — see the inline
    * comment.
    */
  def digestBloom(oldDigests: DataFrame, expectedItems: Long,
                  fpp: Double = 0.01): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    // BloomFilterAggregate SILENTLY caps its size at the runtime-filter
    // session confs (maxNumItems 4e6 / maxNumBits 6.7e7 by default —
    // Math.min in the aggregate, no error; df.stat.bloomFilter
    // delegates to the SAME aggregate in Spark 4, so it offers no
    // escape): a billion-digest corpus would get an 8 MB filter whose
    // fpp saturates toward 1, quietly degrading the probe pruning to
    // "probe everything". Raise the caps to cover the request for the
    // duration of the build, restoring them after. (Both must rise
    // together: a capped item count with uncapped bits would mis-size
    // the hash-function count.) The bump is session-visible while the
    // one aggregate job runs; it only LOOSENS an upper bound on any
    // concurrently-planned runtime filter, never tightens one.
    // The whole set/build/restore window is serialized under a
    // JVM-global lock: two concurrent builds on one session would
    // otherwise race (one call's finally-restore re-caps the other's
    // in-flight build, turning a valid request into the require()
    // failure below). Builds on DIFFERENT sessions sharing the JVM
    // serialize too — cheaper than reasoning about which SessionConf
    // instances alias, and an epoch-level artifact build is not a
    // hot path.
    val out = Dedup.BloomBuildLock.synchronized {
      val conf = oldDigests.sparkSession.conf
      val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
      val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
      val (oldItems, oldBits) = (conf.get(itemsKey), conf.get(bitsKey))
      val bumped = expectedItems > oldItems.toLong || numBits > oldBits.toLong
      if (bumped) {
        conf.set(itemsKey, math.max(expectedItems, oldItems.toLong).toString)
        conf.set(bitsKey, math.max(numBits, oldBits.toLong).toString)
      }
      try {
        val agg = new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(
            org.apache.spark.sql.GraftSqlBridge.expression(
              xxhash64(col("digest"))),
            Literal(expectedItems), Literal(numBits))
          .toAggregateExpression()
        val bin = oldDigests.filter(col("digest").isNotNull)
          .select(org.apache.spark.sql.GraftSqlBridge.column(agg).as("bf"))
          .head().getAs[Array[Byte]](0)
        if (bin != null) bin
        else { // empty at-rest corpus: a valid always-negative filter
          val bos = new java.io.ByteArrayOutputStream()
          org.apache.spark.util.sketch.BloomFilter
            .create(math.max(expectedItems, 1L), fpp).writeTo(bos)
          bos.toByteArray
        }
      } finally if (bumped) {
        conf.set(itemsKey, oldItems)
        conf.set(bitsKey, oldBits)
      }
    }
    // degrade LOUDLY, never silently: verify the BUILT filter kept the
    // requested size (the sketch rounds bits UP to a word multiple, so
    // < numBits can only mean the aggregate capped it — concurrent
    // builds are serialized by BloomBuildLock above, so the remaining
    // causes are an out-of-band conf write or a future Spark hardening
    // the caps). A shrunken filter has saturated fpp and would quietly
    // un-prune every probe.
    val builtBits = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(out)).bitSize()
    require(builtBits >= numBits,
      s"digestBloom: built filter has $builtBits bits < requested " +
        s"$numBits (the session runtime-filter caps shrank it — " +
        "something re-capped spark.sql.optimizer.runtime.bloomFilter." +
        "maxNumBits/maxNumItems during the build)")
    out
  }

  /** Serializes [[digestBloom]]'s conf-bump/build/restore window —
    * see the inline comment there.
    */
  private[graft] object BloomBuildLock

  /** Codegen'd membership probe against a [[digestBloom]] artifact:
    * `might_contain(<filter literal>, xxhash64(digest))`.
    */
  def bloomMightContain(bloom: Array[Byte], digest: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    org.apache.spark.sql.GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        Literal(bloom, org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.GraftSqlBridge.expression(xxhash64(digest))))
  }

  /** [[incrementalExact]] with the at-rest probe join pruned by a Bloom
    * filter over the corpus digests — output-identical (Bloom has no
    * false negatives, and positives are exact-confirmed by the join),
    * but only the Bloom-POSITIVE slice of the batch enters the join
    * against the huge at-rest digest table. For the common
    * mostly-novel batch, the join's batch side shrinks to roughly
    * (true dups + fpp * new), so the shuffle that classifies a batch
    * is bounded by its duplicate mass, not its size. Pair with a
    * digest table bucketed on `digest` at rest
    * ([[graft.ops.Bucketing]]) and the at-rest side never reshuffles
    * either.
    *
    * The membership probe is the native `BloomFilterMightContain`
    * expression over the serialized filter literal ([[bloomMightContain]])
    * — a single codegen'd boolean per row, no ScalaUDF anywhere in the
    * plan (the filter binary ships with the plan exactly like Spark's
    * own injected runtime filters).
    */
  def incrementalExactBloom(oldDigests: DataFrame,
                            bloom: Array[Byte],
                            newDocs: DataFrame,
                            textCol: String = "text"): DataFrame =
    classifyDigests(oldDigests, newDocs, textCol) { (d, atRest) =>
      // the probe rides on the digest COLUMN in a separate projection,
      // so the in-batch keeper aggregation's lineage never evaluates it;
      // Bloom negatives are definitively new-to-corpus and skip the join
      val dm = d.withColumn("__maybe", bloomMightContain(bloom, col("digest")))
      dm.filter(col("__maybe")).join(atRest, Seq("digest"), "left")
        .unionByName(dm.filter(!col("__maybe"))
          .withColumn("__at_rest", lit(null).cast("boolean")))
    }

  /** Benchmark-contamination check (the decontamination pass every
    * LLM-training pipeline runs): flag corpus documents sharing at
    * least one word-`n`-gram with a held-out benchmark/eval set, with
    * the number of distinct benchmark shingles each document hits.
    *
    * Benchmark sets are small relative to the corpus (thousands of
    * eval items vs billions of documents), so the distinct benchmark
    * shingle table broadcasts and the check costs one map-side
    * broadcast join over the corpus shingle scan — no shuffle of
    * corpus data at all. For a benchmark too large to broadcast, drop
    * the [[broadcast]] hint and let the planner shuffle on the shingle
    * key (still linear).
    */
  def benchmarkContamination(corpus: DataFrame, benchmark: DataFrame,
                             n: Int = 5, textCol: String = "text"): DataFrame = {
    val corpusSh = shingles(corpus, n, textCol)
    val benchSh = shingles(benchmark, n, textCol).select("shingle").distinct()
    // shingles() is already distinct per (doc_id, shingle), so count(*)
    // counts distinct benchmark shingles hit
    corpusSh.join(broadcast(benchSh), Seq("shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
  }

  /** Fuzzy self-join by symmetric deletes (SymSpell): every pair of
    * distinct `nameCol` values within Levenshtein distance `maxDist`
    * (1 or 2) — record linkage / typo clustering without the O(n²)
    * all-pairs distance matrix.
    *
    * Candidate generation is COMPLETE: if lev(a, b) <= d, an optimal
    * alignment lets each side delete at most d characters (a deletes
    * its substituted/deleted positions, b its substituted/inserted
    * ones) to reach a common string, so a and b share a key in their
    * depth-d deletion neighborhoods. The output is therefore exactly
    * the brute-force pair list (the oracle is the naive quadratic
    * form); the cost profile is the banded equi-join on deletion keys
    * — |name| + |name|²/2 keys per distinct name at d=2, bounded
    * candidates per key.
    *
    * `maxBucket` drops deletion keys shared by more than that many
    * names (the hot-bucket k² guard, same policy as `maxShingleFreq`
    * in [[ngramJaccard]]); a dropped key can lose pairs, so the bound
    * is a documented recall trade only when it actually fires — size
    * it above the expected bucket maximum for exact output. When it
    * DOES fire, the drop is loud, not silent: the dropped-key count is
    * logged to stderr, and `failOnDrop = true` turns it into an error
    * — use that wherever the exact-equals-brute-force contract is
    * load-bearing (the correctness oracle does).
    *
    * `maxNameLen` bounds the per-row candidate blow-up: at d=2 a name
    * of length L explodes into O(L²) keys (O(L³) bytes), so an
    * unbounded nameCol could blow executor memory on one row. Names
    * longer than the bound fail fast with a clear message — fuzzy
    * matching on kilobyte strings wants shingle Jaccard
    * ([[ngramJaccard]]), not symmetric deletes.
    */
  def fuzzyPairs(df: DataFrame, nameCol: String, maxDist: Int = 2,
                 maxBucket: Long = 100000L,
                 maxNameLen: Int = 256,
                 failOnDrop: Boolean = false): DataFrame = {
    require(maxDist == 1 || maxDist == 2, s"maxDist must be 1 or 2: $maxDist")
    require(maxNameLen >= 1, s"maxNameLen must be >= 1: $maxNameLen")
    val lenBound = maxNameLen // avoid capturing `this` in the udf closure
    val deleteNeighborhood = udf { (s: String) =>
      if (s == null) Seq.empty[String]
      else {
        if (s.length > lenBound) throw new IllegalArgumentException(
          s"fuzzyPairs: name of length ${s.length} exceeds maxNameLen=" +
            s"$lenBound — the depth-$maxDist deletion neighborhood is " +
            "O(len^2) keys/row; raise maxNameLen deliberately or use " +
            "ngramJaccard for long strings")
        val out = scala.collection.mutable.LinkedHashSet(s)
        for (i <- s.indices) out += s.substring(0, i) + s.substring(i + 1)
        if (maxDist >= 2)
          for (v <- out.toList; i <- v.indices)
            out += v.substring(0, i) + v.substring(i + 1)
        out.toSeq
      }
    }
    val names = df.select(col(nameCol).as("name")).distinct()
      .withColumn("__v", explode(deleteNeighborhood(col("name"))))
      .localCheckpoint() // consumed 3x: bucket count + both join sides
    val keyCounts = names.groupBy("__v").agg(count(lit(1)).as("__n"))
      .localCheckpoint() // consumed twice: the drop probe + the keep set
    // the exact-output claim is CHECKED, not assumed: count the dropped
    // hot keys (group-sized aggregate, one extra scan of a checkpointed
    // key table) and surface any loss
    val dropped = keyCounts.filter(col("__n") > maxBucket).count()
    if (dropped > 0) {
      val msg = s"fuzzyPairs: $dropped deletion key(s) exceeded " +
        s"maxBucket=$maxBucket and were dropped from candidate " +
        "generation — pairs may be missing; raise maxBucket for exact output"
      if (failOnDrop) throw new IllegalStateException(msg)
      else System.err.println(s"[graft] WARN $msg")
    }
    val okKeys = keyCounts.filter(col("__n") <= maxBucket).select("__v")
    val nv = names.join(okKeys, "__v")
    nv.select(col("__v"), col("name").as("name_a"))
      .join(nv.select(col("__v"), col("name").as("name_b")), Seq("__v"))
      .filter(col("name_a") < col("name_b"))
      .select("name_a", "name_b").distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
  }
}
