package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.search.Analyzer

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, fingerprinting. All single-pass
  * column algebra over the documents scan — no shuffle except the
  * aggregations a caller adds.
  */
object TextAnalysis {

  /** Common-word profiles for the n-gram/heuristic language scorer.
    * Deliberately tiny: real pipelines plug in fastText-style models via
    * the same interface (score per language -> argmax).
    */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "for", "with"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "von", "mit", "ein", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "pas", "une", "dans", "que"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un", "es", "por"),
    "zh" -> Seq("de", "shi", "le", "zai", "you", "wo", "ta", "men", "zhe", "bu")
  )

  /** Language ID: fraction of tokens hitting each language's common-word
    * profile; argmax wins, ties break alphabetically, no hits -> "und".
    */
  def languageId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = col("__toks") // project the token array once, not per profile
    val scores = LangProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(
        (size(filter(toks, t => t.isin(words.map(w => lit(w)): _*)))
          .cast("double") / greatest(size(toks), lit(1))).as("score"),
        lit(lang).as("lang"))
    }
    docs.select(col("doc_id"), Analyzer.tokensCol(col(textCol)).as("__toks"))
      .select(col("doc_id"),
        when(array_max(array(scores: _*)).getField("score") > 0,
          // array_max on structs compares (score, lang) lexicographically:
          // highest score wins, alphabetically-last lang breaks ties
          array_max(array(scores: _*)).getField("lang"))
          .otherwise(lit("und")).as("pred_lang"))
  }

  /** Quality score in [0,1]: blend of length, alphanumeric ratio,
    * stop-word presence, and mean token length — the standard cheap
    * heuristics (C4/Gopher-style) as pure column algebra.
    * Emits the component columns too so thresholds stay debuggable.
    */
  def qualityScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val docsWithToks = docs.withColumn("__toks", Analyzer.tokensCol(col(textCol)))
    val text = col(textCol)
    val toks = col("__toks")
    val nChars = length(text).cast("double")
    val nToks = size(toks).cast("double")
    val alnum = length(regexp_replace(text, "[^a-zA-Z0-9]", "")).cast("double")
    val stopHits = size(filter(toks,
      t => t.isin(LangProfiles("en").map(lit): _*))).cast("double")
    docsWithToks.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      round(alnum / greatest(nChars, lit(1.0)), 4).as("alnum_ratio"),
      round(stopHits / greatest(nToks, lit(1.0)), 4).as("stopword_ratio"),
      round(nChars / greatest(nToks, lit(1.0)), 4).as("mean_token_len"),
      round(
        least(nToks / 64.0, lit(1.0)) * 0.25
          + (alnum / greatest(nChars, lit(1.0))) * 0.25
          + least(stopHits / greatest(nToks, lit(1.0)) * 4.0, lit(1.0)) * 0.25
          + least(nChars / greatest(nToks, lit(1.0)) / 8.0, lit(1.0)) * 0.25,
        4).as("quality"))
  }

  /** Token counts: whitespace tokens and a BPE-ish regex token count
    * (`\p{L}+|\p{N}+|[^\p{L}\p{N}\s]`), both codegen'd.
    */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      size(filter(split(col(textCol), "\\s+"), t => length(t) > 0)).as("ws_tokens"),
      size(regexp_extract_all(col(textCol),
        lit("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"), lit(0))).as("bpe_tokens"))

  /** Rolling-hash document fingerprint (winnowing-style): the minimum of
    * xxhash64 over the document's word 4-grams — robust to small edits,
    * one aggregation.
    */
  def fingerprints(docs: DataFrame, n: Int = 4): DataFrame =
    Dedup.shingles(docs, n)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .groupBy("doc_id").agg(min("h").as("fingerprint"))

  /** Full winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    * SIGMOD '03 — the MOSS algorithm) over word `k`-grams: slide a
    * window of `w` consecutive gram hashes over each document and keep
    * the minimum hash of every window, rightmost position on hash
    * ties ("robust winnowing"). Output `(doc_id, pos, fp)` — the
    * distinct selected `(position, hash)` fingerprints. Guarantee: any
    * shared token run of >= `w + k - 1` tokens between two documents
    * yields at least one shared fingerprint, while only ~`2/(w+1)` of
    * gram hashes are kept — the standard index for partial-overlap /
    * plagiarism-style detection where [[fingerprints]]' single global
    * min is too coarse and full shingle sets too large.
    *
    * Engine-portable hash: the gram hash is md5 hex (identical in any
    * engine), and the window minimum runs on `md5hex || (10^10 - pos)`
    * zero-padded — a fixed-width encoding whose lexicographic order is
    * exactly (hash ASC, pos DESC), so the tie rule costs nothing.
    *
    * Scale: entirely map-side — per-document HOF column algebra, NO
    * shuffle, no per-doc window exec; cost is O(grams * (k + w)) per
    * document. The gram-hash array is let-bound as a lambda variable
    * (single-element `transform`) rather than a projected column:
    * CollapseProject would inline a named projection into the window
    * lambda and re-hash every gram per window — the quadratic
    * pushdown-into-HOF trap (NOTES round-9).
    */
  def winnow(docs0: DataFrame, k: Int = 4, w: Int = 4,
             textCol: String = "text"): DataFrame = {
    require(k > 0 && w > 0, s"need k > 0, w > 0; got k=$k, w=$w")
    val docs = graft.search.Analyzer.spread(docs0)
    val toks = col("__toks")
    val big = 10000000000L // > any token position; keeps the suffix 10 digits
    val encExpr = when(size(toks) >= k,
        transform(sequence(lit(1), size(toks) - (k - 1)),
          i => concat(md5(concat_ws(" ", slice(toks, i, lit(k)))),
            lpad((lit(big) - i).cast("string"), 10, "0"))))
      .otherwise(array().cast("array<string>"))
    docs
      .select(col("doc_id"), split(col(textCol), " ").as("__toks"))
      .select(col("doc_id"),
        explode(transform(array(encExpr), enc =>
          when(size(enc) > 0,
            array_distinct(transform(
              sequence(lit(1), greatest(size(enc) - (w - 1), lit(1))),
              j => array_min(slice(enc, j, lit(w))))))
            .otherwise(array().cast("array<string>"))).getItem(0)).as("m"))
      .select(col("doc_id"),
        (lit(big) - substring(col("m"), 33, 10).cast("long")).cast("int")
          .as("pos"),
        substring(col("m"), 1, 32).as("fp"))
  }

  /** Exact content digest (md5 of the raw text) — the degenerate
    * fingerprint used by exact dedup; kept as its own operator for the
    * oracle row.
    */
  /** Sliding-window document chunking — the standard LLM-training prep
    * op: whitespace tokens re-joined into windows of `maxTokens` tokens
    * starting every `maxTokens - overlap` tokens (the last window may
    * be shorter; a document shorter than one window yields one chunk).
    * Pure column algebra (`split`/`sequence`/`slice`), one row per
    * chunk `(doc_id, chunk_id, chunk_text, n_tokens)`, no shuffle —
    * scales with the scan.
    */
  def chunk(docs: DataFrame, maxTokens: Int, overlap: Int,
            textCol: String = "text"): DataFrame = {
    require(maxTokens > 0 && overlap >= 0 && overlap < maxTokens,
      s"need 0 <= overlap < maxTokens, got maxTokens=$maxTokens overlap=$overlap")
    val step = maxTokens - overlap
    val toks = col("__toks")
    docs
      .select(col("doc_id"),
        filter(split(col(textCol), "\\s+"), t => length(t) > 0).as("__toks"))
      .select(col("doc_id"),
        toks,
        // one start per window; a start must introduce at least one NEW
        // token (start < size - overlap, except start 0), else the last
        // window would be pure overlap — duplicated training text
        posexplode(when(size(toks) > 0,
            sequence(lit(0), greatest(size(toks) - overlap - 1, lit(0)), lit(step)))
          .otherwise(array().cast("array<int>"))).as(Seq("chunk_id", "start")))
      .select(col("doc_id"), col("chunk_id"),
        concat_ws(" ", slice(toks, col("start") + 1, lit(maxTokens))).as("chunk_text"),
        least(lit(maxTokens), size(toks) - col("start")).as("n_tokens"))
  }

  /** PII patterns for [[scrubPii]], applied in order. RE2-compatible
    * (no backreferences or lookaround) so the same patterns run
    * unchanged on engines with RE2-family regex (and in the DuckDB
    * oracle). Email is scrubbed before phone so an address's digit runs
    * can't half-match the phone pattern.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "[EMAIL]",
    "([0-9]{1,3}\\.){3}[0-9]{1,3}" -> "[IP]",
    "\\+?[0-9][0-9()./ -]{5,}[0-9]" -> "[PHONE]"
  )

  /** Scrub PII (emails, IPv4 addresses, phone-like digit runs) from a
    * text column — the redaction pass a training-data pipeline runs
    * before anything else sees the text. Pure codegen'd
    * `regexp_replace` chain: single pass per pattern, no UDF, scales
    * with the scan.
    */
  def scrubPii(docs: DataFrame, textCol: String = "text",
               outCol: String = "clean_text"): DataFrame = {
    val scrubbed = PiiPatterns.foldLeft(col(textCol)) {
      case (c, (pattern, replacement)) => regexp_replace(c, pattern, replacement)
    }
    docs.withColumn(outCol, scrubbed)
  }

  /** Deterministic hash sampling: keep a row iff the md5 hex digest of
    * its key is lexicographically below the `rate` quantile of the hex
    * space. Partitioning-invariant and engine-portable (md5 of the same
    * string is the same everywhere — the sample is reproducible across
    * engines and runs, unlike `DataFrame.sample`), and stable under
    * corpus growth: a row's membership never changes as other rows
    * arrive, so incremental 100 TB ingestion keeps a consistent sample.
    * `salt` decorrelates independent samples of the same keys.
    */
  def hashSample(df: DataFrame, keyCol: String, rate: Double,
                 salt: String = ""): DataFrame = {
    require(rate >= 0 && rate <= 1, s"rate must be in [0,1], got $rate")
    df.filter(md5(concat(lit(salt), col(keyCol).cast("string"))) <
      lit(hexThreshold(rate)))
  }

  /** Efraimidis–Spirakis weighted sampling without replacement (A-ES,
    * IPL 2006): each row draws `key = ln(u) / w` from a deterministic
    * per-key uniform `u` and keeps the k LARGEST keys — selection
    * probability proportional to weight, single pass, and the top-k
    * plans as per-partition TakeOrdered + driver merge (never a global
    * sort). The quality-weighted corpus subsample: weight by token
    * count, quality score, or importance weight.
    *
    * Engine portability: `u = (h + 0.5) / 2³²` from the first 8 md5
    * hex digits is EXACT double arithmetic, but `ln` is only
    * 1-ulp-accurate and measurably differs between libm and the JVM
    * (~0.1 % of inputs), so the key rounds `ln(u)` to 8 decimals
    * FIRST and then divides by the weight — the division of identical
    * doubles by an identical weight is bit-exact, so ranks reproduce
    * (ties break on the key column). Zero/negative weights are
    * excluded (a zero weight must never be sampled; ln(u)/0 would be
    * -Inf-vs-NaN noise instead).
    */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
                     k: Int, salt: String = ""): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val h = conv(substring(
      md5(concat(lit(salt), col(keyCol).cast("string"))), 1, 8), 16, 10)
      .cast("long")
    val u = (h + lit(0.5)) / lit(4294967296.0)
    df.filter(col(weightCol) > 0)
      .withColumn("es_key", round(log(u), 8) / col(weightCol).cast("double"))
      .orderBy(col("es_key").desc, col(keyCol))
      .limit(k)
  }

  /** Stratified hash sampling: per-stratum rates (e.g. downsample the
    * dominant language, keep the rare ones whole) with the same
    * portable, partitioning-invariant membership rule as
    * [[hashSample]]. Strata missing from `rates` use `defaultRate`.
    * The rate map is tiny and rides into codegen as a CASE chain — no
    * join, no UDF.
    */
  def stratifiedHashSample(df: DataFrame, keyCol: String, strataCol: String,
                           rates: Map[String, Double], defaultRate: Double,
                           salt: String = ""): DataFrame = {
    (rates.values ++ Seq(defaultRate)).foreach(r =>
      require(r >= 0 && r <= 1, s"rates must be in [0,1], got $r"))
    val threshold = rates.toSeq.sortBy(_._1).foldLeft(
      lit(hexThreshold(defaultRate))) { case (acc, (stratum, rate)) =>
        when(col(strataCol) === stratum, lit(hexThreshold(rate))).otherwise(acc)
    }
    df.filter(md5(concat(lit(salt), col(keyCol).cast("string"))) < threshold)
  }

  /** The 32-hex-char string t such that P[md5 hex < t] = rate under a
    * uniform digest. Exposed so an external oracle can use the same
    * literal.
    */
  def hexThreshold(rate: Double): String = {
    val full = BigInt(1) << 128
    // exact arithmetic: java.math.BigDecimal(double) is the exact binary
    // expansion and its context-free multiply never rounds — Scala's
    // default DECIMAL128 context would round 39-digit products and make
    // the threshold depend on context defaults
    val cut = BigInt(new java.math.BigDecimal(rate)
      .multiply(new java.math.BigDecimal(full.bigInteger)).toBigInteger)
    val hex = cut.min(full - 1).max(BigInt(0)).toString(16)
    ("0" * (32 - hex.length)) + hex
  }

  def contentDigest(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), md5(col(textCol)).as("digest"))

  /** Gopher-style repetition metrics per document: fraction of tokens
    * taken by the most frequent token / bigram, and the fraction of
    * trigram instances that are repeats within the document — the
    * standard cheap signals for machine-generated or boilerplate text.
    *
    * Every metric is a function of ONE document, so the ideal plan has
    * ZERO shuffles (guide §1.1): each gram size's stats are computed
    * in-row by a codegen'd run-length fold over the doc's SORTED gram
    * array (equal grams are adjacent after the sort — max run length =
    * top-gram count, summed >1 runs = duplicated-instance count).
    * This replaces the previous explode → (doc, n, gram) count →
    * (doc) re-aggregate shape, which shuffled ~3x the corpus token
    * count twice; now nothing crosses the wire but the per-doc result
    * row, and cost scales with the scan. All ratios are exact
    * integer-count divisions (bit-identical across engines, no
    * rounding needed; equivalence with the exploded form is spec'd).
    */
  def repetitionStats(docs0: DataFrame, textCol: String = "text"): DataFrame = {
    val docs = graft.search.Analyzer.spread(docs0)
    val toks = col("__toks")
    def gramArr(n: Int): Column =
      if (n == 1) toks
      else when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
        .otherwise(array().cast("array<string>"))
    // run-length fold over the sorted gram array:
    // (best = longest run, dups = sum of run lengths over runs > 1)
    def runStats(gcol: Column): Column = {
      val zero = struct(lit(null).cast("string").as("prev"),
        lit(0L).as("run"), lit(0L).as("best"), lit(0L).as("dups"))
      def closedRunDups(st: Column): Column =
        st.getField("dups") + when(st.getField("run") > 1,
          st.getField("run")).otherwise(lit(0L))
      aggregate(sort_array(gcol), zero,
        (st, x) => {
          val same = x <=> st.getField("prev")
          struct(x.as("prev"),
            when(same, st.getField("run") + 1).otherwise(lit(1L)).as("run"),
            when(same, st.getField("best"))
              .otherwise(greatest(st.getField("best"), st.getField("run")))
              .as("best"),
            when(same, st.getField("dups")).otherwise(closedRunDups(st))
              .as("dups"))
        },
        st => struct(
          greatest(st.getField("best"), st.getField("run")).as("best"),
          closedRunDups(st).as("dups")))
    }
    docs
      // token-less docs produced no exploded rows in the exploded
      // shape and stay excluded. r15: the emptiness test runs on the
      // RAW text (`has at least one non-delimiter char` ⟺
      // `size(toks) > 0`, Analyzer.HasTokenRegex) so the pushed scan
      // filter is one cheap regex — the former `.filter(size(toks) >
      // 0)` was pushed below the projection as a DUPLICATE of the
      // full tokenizer expression, running the split twice per doc
      .filter(col(textCol).rlike(Analyzer.HasTokenRegex))
      .select(col("doc_id"), Analyzer.tokensCol(col(textCol)).as("__toks"))
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        runStats(gramArr(1)).as("s1"),
        when(size(toks) >= 2, size(toks) - 1).cast("long").as("n_bigrams"),
        runStats(gramArr(2)).as("s2"),
        when(size(toks) >= 3, size(toks) - 2).cast("long").as("n_trigrams"),
        runStats(gramArr(3)).as("s3"))
      .select(col("doc_id"), col("n_tokens"),
        (col("s1.best").cast("double") / col("n_tokens")).as("top_token_frac"),
        (when(col("n_bigrams").isNotNull, col("s2.best")).cast("double") /
          col("n_bigrams")).as("top_bigram_frac"),
        (col("s3.dups").cast("double") / col("n_trigrams"))
          .as("dup_trigram_frac"))
  }

  /** Re-segment single-line text into one line per `tokensPerLine`
    * whitespace tokens. Gives line-based operators line structure on
    * corpora that have none; shared by the `dedup_lines` query entry,
    * its DuckDB oracle's mirrored SQL, and the `stress:lines` mode so
    * the three can never drift apart.
    */
  def synthesizeLines(docs: DataFrame, tokensPerLine: Int,
                      textCol: String = "text"): DataFrame = {
    require(tokensPerLine > 0, s"tokensPerLine must be positive, got $tokensPerLine")
    val toks = col("__toks")
    docs.select(col("doc_id"), split(col(textCol), " ").as("__toks"))
      .select(col("doc_id"),
        array_join(transform(
          sequence(lit(0),
            floor((size(toks) - 1) / lit(tokensPerLine)).cast("int")),
          i => concat_ws(" ",
            slice(toks, i * tokensPerLine + 1, lit(tokensPerLine)))), "\n")
          .as(textCol))
  }

  /** Corpus-level exact line dedup (RefinedWeb/CCNet-style boilerplate
    * removal): a line instance survives iff it is the FIRST occurrence
    * of that exact line across the whole corpus, ordered by
    * `(doc_id, line_no)`. Returns one row per document with the
    * rebuilt text (`NULL` when nothing survived), plus kept/total line
    * counts.
    *
    * First-occurrence is computed as `min(struct(doc_id, line_no))`
    * per line — an aggregate + join rather than a `row_number` window,
    * because partial aggregation bounds the hot keys (a boilerplate
    * line appearing 10^8 times at 100 TB collapses map-side) and AQE
    * can split the skewed join, while a window would put each hot
    * line's whole partition on one task.
    */
  def dedupLines(docs0: DataFrame, textCol: String = "text",
                 lineSep: String = "\n"): DataFrame = {
    val docs = graft.search.Analyzer.spread(docs0)
    // first-occurrence bookkeeping is keyed on the md5 LINE DIGEST:
    // the aggregate's shuffle carries (digest, doc_id, line_no) — the
    // line text itself crosses the wire only for the join + rebuild,
    // one full-text shuffle fewer than grouping on the raw string
    // (guide §2.3; md5 identity, the [[graft.ops.Dedup.exact]] class)
    val lines = docs
      .select(col("doc_id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(lineSep)))
          .as(Seq("idx", "line")))
      .select(col("doc_id"), (col("idx") + 1).as("line_no"), col("line"),
        md5(col("line")).as("__h"))
    val first = lines.select(col("__h"), col("doc_id"), col("line_no"))
      .groupBy("__h")
      .agg(min(struct(col("doc_id"), col("line_no"))).as("first_at"))
    lines.join(first, "__h")
      .withColumn("keep",
        struct(col("doc_id"), col("line_no")) === col("first_at"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sort_array(collect_list(when(col("keep"),
          struct(col("line_no"), col("line"))))).as("__kept"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        when(col("n_kept") > 0,
          array_join(transform(col("__kept"), s => s.getField("line")), lineSep))
          .as("clean_text"))
  }

  /** Exact duplicate-span removal (the substring-dedup pass of
    * "Deduplicating Training Data Makes Language Models Better"): any
    * `k`-token span whose exact text occurs in at least `minDocs`
    * distinct documents is boilerplate; every token position covered
    * by such a span is removed and the document is rebuilt from the
    * survivors. Returns `(doc_id, n_tokens, n_removed, clean_text)`
    * with `clean_text` NULL when nothing survives.
    *
    * Shape: one posexplode to spans, a `(span -> distinct-doc count)`
    * aggregate (two-phase, partial map-side), a join back on the span
    * key (fanout 1 per occurrence), then duplicated starts merged into
    * DISJOINT covered intervals per document (islands via a doc-keyed
    * window — partition size bounded by the doc's own length, no hot
    * key) before the higher-order-function mask. Disjoint intervals of
    * width >= k mean at most n_tokens/k interval checks per token, so
    * the mask stays near-linear even when every span is duplicated
    * (the boilerplate-heavy case this operator exists for).
    * Suffix-array implementations find spans of ANY length; fixed-k
    * covering spans is the standard scalable approximation (any
    * duplicated run >= k tokens is fully covered by its k-windows, so
    * the removed set is identical for runs >= k).
    */
  def spanDedup(docs0: DataFrame, k: Int = 8, minDocs: Int = 2,
                textCol: String = "text"): DataFrame = {
    require(k > 0 && minDocs >= 2, s"need k > 0, minDocs >= 2; got $k, $minDocs")
    // forced spread: the k-gram explode + interval mask dominate the
    // text shuffle even on a tiny corpus (measured 30% at sf0.1)
    val docs = graft.search.Analyzer.spread(docs0, minBytesPerPartition = 0L)
    val toks = col("__toks")
    val tokenized = docs.select(col("doc_id"), split(col(textCol), " ").as("__toks"))
    // spans ride the wire as 128-bit md5 digests, never as text: the
    // k-token span string (~50-100 B) is only ever USED as an equality
    // key, so the digest is shuffled instead (guide §2.3 — shuffle
    // keys, not payloads; same md5 identity assumption as
    // [[graft.ops.Dedup.exact]] / setDigest)
    val spans = tokenized
      .select(col("doc_id"), toks,
        posexplode(when(size(toks) >= k,
            transform(sequence(lit(0), size(toks) - k),
              i => md5(concat_ws(" ", slice(toks, i + 1, lit(k))))))
          .otherwise(array().cast("array<string>"))).as(Seq("start", "span")))
      .select(col("doc_id"), col("start"), col("span"))
    val dupSpans = spans.groupBy("span")
      .agg(countDistinct("doc_id").as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("span")
    // merge overlapping/adjacent [start, start+k) windows into islands:
    // a start past the running max end opens a new interval
    val byStart = Window.partitionBy("doc_id").orderBy("start")
    val runningEnd = max(col("start") + k)
      .over(byStart.rowsBetween(Window.unboundedPreceding, -1))
    val intervals = spans.join(dupSpans, Seq("span"))
      .select(col("doc_id"), col("start"))
      .withColumn("new_island",
        when(runningEnd.isNull || col("start") > runningEnd, 1).otherwise(0))
      .withColumn("island", sum(col("new_island")).over(byStart))
      .groupBy(col("doc_id"), col("island"))
      .agg(min("start").as("s"), max(col("start") + k).as("e"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("intervals"))
    tokenized.join(intervals, Seq("doc_id"), "left")
      .select(col("doc_id"), toks,
        coalesce(col("intervals"), array().cast("array<struct<s:int,e:int>>"))
          .as("ivs"))
      .select(col("doc_id"), toks,
        filter(sequence(lit(0), size(toks) - 1),
          i => !exists(col("ivs"),
            v => i >= v.getField("s") && i < v.getField("e"))).as("keep"))
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        (size(toks) - size(col("keep"))).cast("long").as("n_removed"),
        when(size(col("keep")) > 0,
          concat_ws(" ", transform(col("keep"), i => element_at(toks, i + 1))))
          .as("clean_text"))
  }

  /** Sequence packing — where each document lands when the corpus is
    * concatenated in `doc_id` order and split into fixed `ctxLen`-token
    * training sequences: global token start offset, first/last sequence
    * id spanned, sequence count. Token-empty documents occupy no
    * sequence and are dropped.
    *
    * The global prefix sum is a two-level scan, NOT one global window
    * (which would move the whole corpus to a single partition): an
    * explicit `doc_id DIV bucketSize` bucket gives a within-bucket
    * running sum (shuffle on bucket, parallel across buckets), bucket
    * totals aggregate to one tiny row per bucket whose own prefix sum
    * runs over thousands of rows, and the per-bucket offsets broadcast
    * back. At 100 B docs and bucketSize 2^20 the single-partition step
    * sees ~100k rows of two longs — trivially driver-scale — while the
    * corpus-sized work stays fully parallel.
    *
    * The window branch and the bucket-totals branch each count tokens
    * from the text scan (two scans of the text column). At 100 TB,
    * materialize the two-long token-count projection once (persist or
    * a parquet side table) and call [[packSequencesFromCounts]] on it —
    * the heavy text scan then runs once. Requires a unique `doc_id`
    * (ties would share a running-sum value).
    */
  def packSequences(docs: DataFrame, ctxLen: Int, bucketSize: Long = 1L << 20,
                    textCol: String = "text"): DataFrame =
    packSequencesFromCounts(
      docs.select(col("doc_id"),
        size(filter(split(col(textCol), "\\s+"), t => length(t) > 0))
          .cast("long").as("n_tokens")),
      ctxLen, bucketSize)

  /** [[packSequences]] over a precomputed `(doc_id, n_tokens)` table —
    * the at-scale entry point: count once, pack from the narrow table.
    * NULL `doc_id` rows have no place in the doc_id-ordered stream and
    * are dropped; duplicate doc_ids violate the unique-key precondition
    * (RANGE-frame peers would share a running sum — overlapping
    * ranges), as everywhere in this engine.
    */
  def packSequencesFromCounts(counts: DataFrame, ctxLen: Int,
                              bucketSize: Long = 1L << 20): DataFrame =
    packPrefix(
      counts.select(col("doc_id"), col("n_tokens").cast("long")),
      ctxLen, bucketSize)
      .select(col("doc_id"), col("n_tokens"), col("start_tok"),
        col("seq_first"), col("seq_last"),
        (col("seq_last") - col("seq_first") + 1).as("n_seqs"))

  /** Shared core of the packing family: global offsets + spanned
    * sequence range for any frame carrying `doc_id` and `n_tokens`
    * (extra columns ride through — [[packEmit]] keeps its token arrays
    * aboard instead of re-joining them).
    */
  private def packPrefix(withCounts: DataFrame, ctxLen: Int,
                         bucketSize: Long): DataFrame = {
    require(ctxLen > 0, s"ctxLen must be positive, got $ctxLen")
    require(bucketSize > 0, s"bucketSize must be positive, got $bucketSize")
    ScalableRank.exclusivePrefixSum(
        withCounts.filter(col("doc_id").isNotNull),
        expr(s"doc_id DIV $bucketSize"), Seq(col("doc_id")), col("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumnRenamed("__prefix", "start_tok")
      .withColumn("seq_first", expr(s"start_tok DIV $ctxLen"))
      .withColumn("seq_last", expr(s"(start_tok + n_tokens - 1) DIV $ctxLen"))
  }

  /** Exact-count mixture sampling — compose a training mix by taking,
    * per stratum (source, domain, ...), exactly `targets(stratum)`
    * documents (fewer only if the stratum is smaller), chosen in the
    * reproducible hash order `md5(salt || key)` with the key as tie
    * break. Unlike the rate-based [[stratifiedHashSample]] this hits
    * requested counts exactly — the contract data-mixing recipes are
    * written in. Strata absent from `targets` take `defaultTarget`
    * (default 0: not in the recipe, not in the mix).
    *
    * One shuffle, on the stratum key. A dominant stratum makes that
    * window skewed; at 100 TB pre-thin it with [[hashSample]] at a rate
    * safely above target/count, then trim exactly here — the window
    * then ranks only the ~target survivors.
    */
  def mixtureTake(df: DataFrame, strataCol: String, targets: Map[String, Long],
                  keyCol: String = "doc_id", defaultTarget: Long = 0L,
                  salt: String = ""): DataFrame = {
    (targets.values ++ Seq(defaultTarget)).foreach(n =>
      require(n >= 0, s"targets must be non-negative, got $n"))
    // NULL keys have no hash position in the ranking and would tie
    // nondeterministically — they are never selected
    val keyed = df.filter(col(keyCol).isNotNull)
    // with defaultTarget 0, strata outside the recipe contribute
    // nothing: drop them BEFORE the shuffle, not after the window
    val candidates =
      if (defaultTarget == 0L)
        keyed.filter(col(strataCol).isin(targets.keys.toSeq: _*))
      else keyed
    val order = Window.partitionBy(strataCol)
      .orderBy(md5(concat(lit(salt), col(keyCol).cast("string"))), col(keyCol))
    val target = targets.toSeq.sortBy(_._1).foldLeft(lit(defaultTarget)) {
      case (acc, (stratum, n)) =>
        when(col(strataCol) === stratum, lit(n)).otherwise(acc)
    }
    candidates.withColumn("__rk", row_number().over(order))
      .filter(col("__rk") <= target).drop("__rk")
  }

  /** The packed-batch manifest — the inverse view of [[packSequences]]:
    * one row per (sequence, document) occupancy, with how many of the
    * sequence's `ctxLen` tokens the document fills. This is the actual
    * work order a training loader consumes ("sequence 17 = tail of doc
    * 40, all of doc 41, head of doc 42"). Row expansion is bounded: a
    * doc spanning k sequences emits k rows, total rows =
    * total_tokens/ctxLen + n_docs. Same shuffles as [[packSequences]].
    */
  def packManifest(docs: DataFrame, ctxLen: Int, bucketSize: Long = 1L << 20,
                   textCol: String = "text"): DataFrame =
    packSequences(docs, ctxLen, bucketSize, textCol)
      .select(col("doc_id"), col("n_tokens"), col("start_tok"),
        explode(sequence(col("seq_first"), col("seq_last"))).as("seq_id"))
      .select(col("seq_id"), col("doc_id"),
        // the doc's token range clipped to this sequence's window
        (least((col("seq_id") + 1) * ctxLen, col("start_tok") + col("n_tokens"))
          - greatest(col("seq_id") * ctxLen, col("start_tok"))).as("seq_tokens"))

  /** Materialized training sequences — the final step of the packing
    * pipeline: each `ctxLen`-token window's text, assembled from its
    * documents' fragments in stream order. One extra shuffle beyond
    * [[packSequences]] (fragments group by `seq_id`), and the rows it
    * moves are bounded: total_tokens/ctxLen + n_docs fragments. The
    * last sequence may be short; every other one is exactly `ctxLen`
    * tokens.
    */
  def packEmit(docs: DataFrame, ctxLen: Int, bucketSize: Long = 1L << 20,
               textCol: String = "text"): DataFrame = {
    // the token arrays ride the prefix-sum frame (packPrefix keeps
    // extra columns) — no third tokenize pass, no corpus-wide re-join
    val toks = docs.select(col("doc_id"),
      filter(split(col(textCol), "\\s+"), t => length(t) > 0).as("__toks"))
    val packed = packPrefix(
        toks.withColumn("n_tokens", size(col("__toks")).cast("long")),
        ctxLen, bucketSize)
      .select(col("n_tokens"), col("start_tok"), col("__toks"),
        explode(sequence(col("seq_first"), col("seq_last"))).as("seq_id"))
    val gs = greatest(col("seq_id") * ctxLen, col("start_tok"))
    val ge = least((col("seq_id") + 1) * ctxLen, col("start_tok") + col("n_tokens"))
    packed
      .select(col("seq_id"), col("start_tok"),
        slice(col("__toks"), (gs - col("start_tok") + 1).cast("int"),
          (ge - gs).cast("int")).as("frag"))
      .groupBy("seq_id")
      .agg(sum(size(col("frag"))).cast("long").as("seq_tokens"),
        array_join(
          flatten(transform(
            sort_array(collect_list(struct(col("start_tok"), col("frag")))),
            s => s.getField("frag"))), " ").as("seq_text"))
  }

  /** Deterministic train/validation/test split: every document gets
    * exactly one split label from disjoint md5 ranges (same portable
    * membership rule as [[hashSample]]), so the assignment is complete,
    * disjoint, reproducible across engines and partitionings, and
    * stable under corpus growth — a document's split never changes
    * when other documents arrive. Fractions must sum to at most 1;
    * any remainder falls into the last named split.
    */
  def splitAssign(df: DataFrame, splits: Seq[(String, Double)],
                  keyCol: String = "doc_id", salt: String = ""): DataFrame = {
    val h = md5(concat(lit(salt), col(keyCol).cast("string")))
    val label = splitThresholds(splits).dropRight(1)
      .foldRight(lit(splits.last._1): Column) { case ((name, upper), acc) =>
        when(h < upper, lit(name)).otherwise(acc)
      }
    // a NULL key has no hash position: NULL split, never a silent
    // landing in the remainder split — filter or repair upstream
    df.withColumn("split",
      when(col(keyCol).isNull, lit(null: String)).otherwise(label))
  }

  /** The `(name, cumulative md5 upper bound)` list [[splitAssign]]
    * labels by — exposed so an external oracle builds its CASE from
    * the SAME thresholds (including the exact IEEE cumulative sums:
    * 0.8 + 0.1 != 0.9 in doubles). The last split's bound absorbs any
    * remainder.
    */
  def splitThresholds(splits: Seq[(String, Double)]): Seq[(String, String)] = {
    require(splits.nonEmpty, "need at least one split")
    require(splits.forall(_._2 >= 0), "split fractions must be non-negative")
    require(splits.map(_._2).sum <= 1.0 + 1e-9,
      s"split fractions must sum to <= 1, got ${splits.map(_._2).sum}")
    val uppers = splits.scanLeft(0.0)(_ + _._2).tail
      .map(c => hexThreshold(math.min(1.0, c)))
    splits.map(_._1).zip(uppers)
  }

  /** Canonical text normalization: Unicode NFC (native expression —
    * see [[graft.functions.NfcNormalize]]), strip C0 control chars and
    * DEL (newline and tab survive the strip; tab then collapses), and
    * collapse space/tab runs. Run before any hashing or dedup so that
    * NFC-equal texts hash equal. Pure codegen'd single pass, scales
    * with the scan.
    */
  def normalizeText(docs: DataFrame, textCol: String = "text",
                    outCol: String = "norm_text"): DataFrame =
    docs.withColumn(outCol,
      trim(regexp_replace(regexp_replace(
        graft.functions.NfcNormalize.nfc(col(textCol)),
        "[\\x00-\\x08\\x0B-\\x1F\\x7F]", ""),
        "[ \\t]+", " ")))

  // ---- BPE tokenizer training ------------------------------------

  /** Corpus word-frequency table `(word, freq)`: plain whitespace
    * split, lowercased, empties dropped. This is the ONLY corpus-sized
    * pass BPE training makes — one hash aggregate with map-side
    * partial aggregation; everything after runs on the distinct-word
    * (vocabulary-sized) table, which at 100 TB is millions of rows,
    * not trillions of tokens.
    */
  def wordFrequencies(docs: DataFrame, textCol: String = "text"): DataFrame =
    graft.search.Analyzer.spread(docs)
      .select(explode(split(col(textCol), " ", -1)).as("w"))
      .filter(col("w") =!= "")
      .select(lower(col("w")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Adjacent character-pair counts weighted by word frequency — the
    * statistics pass of BPE iteration 0 (symbols = characters). Pure
    * column algebra: a `transform(sequence)` HOF explodes each word's
    * `len-1` pairs, one partial-aggregated sum per pair. Runs on the
    * vocabulary table, so the explode fan-out is bounded by word
    * length, never corpus size.
    */
  def bpePairCounts(words: DataFrame): DataFrame =
    words.filter(length(col("word")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"
      )).as("pair"))
      .groupBy("pair").agg(sum("freq").as("pair_count"))

  /** Distributed BPE training: `merges` greedy merge rounds over the
    * corpus vocabulary. Each round is two small Spark jobs on the
    * cached vocabulary table — a weighted pair count + an argmax
    * (`TakeOrdered`, ties broken lexicographically so the result is
    * deterministic) — and a symbol-rewrite expression; only the single
    * winning pair crosses the driver per round. The reference pipeline
    * has no tokenizer training; this is the standard scale design
    * (Sennrich et al. 2016 learn_bpe, re-expressed relationally).
    *
    * Word boundaries are hard (no cross-word pairs, no end-of-word
    * marker — a caller wanting GPT-style `</w>` appends it to `word`
    * first). Returns the learned merge list in order.
    */
  def bpeTrain(docs: DataFrame, merges: Int,
               textCol: String = "text"): Seq[(String, String)] = {
    require(merges >= 0, s"merges must be non-negative, got $merges")
    val spark = docs.sparkSession
    import org.apache.spark.storage.StorageLevel
    var vocab = wordFrequencies(docs, textCol)
      .select(split(col("word"), "").as("symbols"), col("freq"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val learned = scala.collection.mutable.ListBuffer.empty[(String, String)]
    try {
      var i = 0
      var dry = false
      while (i < merges && !dry) {
        val top = vocab.filter(size(col("symbols")) >= 2)
          .select(col("freq"), explode(expr(
            """transform(sequence(0, size(symbols) - 2),
              |  i -> struct(symbols[i] AS l, symbols[i + 1] AS r))""".stripMargin
          )).as("pair"))
          .groupBy(col("pair.l").as("l"), col("pair.r").as("r"))
          .agg(sum("freq").as("n"))
          .orderBy(col("n").desc, col("l"), col("r"))
          .limit(1).collect()
        if (top.isEmpty) dry = true
        else {
          val (l, r) = (top(0).getString(0), top(0).getString(1))
          learned += ((l, r))
          val rewritten = vocab
            .select(mergeRewrite("symbols", l, r).as("symbols"), col("freq"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          rewritten.count() // materialize before unpersisting the parent
          vocab.unpersist()
          vocab = rewritten
          i += 1
        }
      }
      learned.toList
    } finally vocab.unpersist()
  }

  /** Greedy leftmost non-overlapping rewrite of adjacent `(l, r)` to
    * the merged symbol `l+r` in a symbol-array column — exactly
    * learn_bpe's merge semantics — as one `aggregate()` HOF carrying
    * (emitted prefix, pending symbol). One pass over a short array,
    * no shuffle.
    */
  private[graft] def mergeRewrite(symbolsCol: String, l: String, r: String): Column =
    expr(
      s"""aggregate($symbolsCol,
         |  named_struct('out', CAST(array() AS ARRAY<STRING>),
         |    'pend', CAST(NULL AS STRING)),
         |  (acc, s) -> CASE
         |    WHEN acc.pend IS NULL
         |      THEN named_struct('out', acc.out, 'pend', s)
         |    WHEN acc.pend = ${sqlLit(l)} AND s = ${sqlLit(r)}
         |      THEN named_struct(
         |        'out', array_append(acc.out, ${sqlLit(l + r)}),
         |        'pend', CAST(NULL AS STRING))
         |    ELSE named_struct('out', array_append(acc.out, acc.pend),
         |      'pend', s) END,
         |  acc -> CASE WHEN acc.pend IS NULL THEN acc.out
         |    ELSE array_append(acc.out, acc.pend) END)""".stripMargin)

  /** Apply a learned merge list to the vocabulary: the whole list runs
    * as ONE executor-side pass per word (a UDF closing over the merge
    * array — broadcast with the task, one greedy leftmost rewrite per
    * merge, identical semantics to [[mergeRewrite]], equivalence-
    * tested). Returns `(word, freq, tokens ARRAY<STRING>)`, no shuffle.
    *
    * Deliberately NOT the chained-HOF form (`merges.foldLeft` of
    * [[mergeRewrite]] projections): Catalyst collapses that chain into
    * one expression whose depth grows linearly with the merge count, so
    * a realistic 10k–50k-merge tokenizer blows up analysis time and
    * interpreted-eval depth long before the data is touched. The HOF
    * stays the right tool where [[bpeTrain]] uses it — exactly one
    * merge per round.
    */
  def bpeSegmentVocab(words: DataFrame,
                      merges: Seq[(String, String)]): DataFrame = {
    val mergeArr: Array[(String, String)] = merges.toArray
    val segment = udf { (syms: Seq[String]) =>
      if (syms == null) null
      else {
        var cur = syms.toArray
        var m = 0
        while (m < mergeArr.length) {
          val (l, r) = mergeArr(m)
          val out = new Array[String](cur.length)
          var i = 0
          var j = 0
          while (i < cur.length) {
            if (i + 1 < cur.length && cur(i) == l && cur(i + 1) == r) {
              out(j) = l + r; i += 2
            } else { out(j) = cur(i); i += 1 }
            j += 1
          }
          cur = if (j < cur.length) java.util.Arrays.copyOf(out, j) else out
          m += 1
        }
        cur.toSeq
      }
    }
    words.withColumn("tokens", segment(split(col("word"), "")))
  }

  /** Encode the corpus with a learned BPE merge list. The per-word
    * merge work happens once per DISTINCT word (on the segmented
    * vocabulary), never per token: the token stream only pays a word →
    * tokens equi-join and an order-restoring re-assembly keyed on
    * doc_id. Returns `(doc_id, tokens ARRAY<STRING>)` with tokens in
    * document order.
    */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
                textCol: String = "text"): DataFrame = {
    val vocabToks = bpeSegmentVocab(wordFrequencies(docs, textCol), merges)
      .select("word", "tokens")
    val encoded = graft.search.Analyzer.spread(docs).select(col("doc_id"),
        posexplode(split(col(textCol), " ", -1)).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
      .select(col("doc_id"), col("pos"), lower(col("w")).as("word"))
      .join(vocabToks, "word")
      .groupBy("doc_id")
      .agg(flatten(expr(
        "transform(array_sort(collect_list(struct(pos, tokens))), x -> x.tokens)"
      )).as("tokens"))
    // token-less docs (empty/whitespace-only text) still get a row with
    // an empty token array — every input doc_id appears in the output
    docs.select("doc_id").join(encoded, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("tokens"), expr("CAST(array() AS ARRAY<STRING>)"))
          .as("tokens"))
  }

  /** Mean unigram log10-probability per document — the classic cheap
    * LM-quality filter (CCNet-style, with a unigram model in place of
    * KenLM): score(doc) = avg over tokens of log10(freq(word) /
    * total_tokens). EXACTLY two corpus passes: the vocabulary
    * aggregate, then the token → vocab equi-join with a per-doc
    * partial-aggregated avg. The grand total rides on the vocab table
    * via an unpartitioned window — that single-partition pass sees only
    * the (word, freq) aggregate, never the corpus (a third
    * `freqs.agg(sum)` subtree would re-run the whole corpus scan:
    * Catalyst does not share subtrees across a crossJoin).
    */
  def unigramLogProb(docs0: DataFrame, textCol: String = "text"): DataFrame = {
    val docs = graft.search.Analyzer.spread(docs0)
    val words = docs.select(col("doc_id"),
        explode(split(col(textCol), " ", -1)).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"), lower(col("w")).as("word"))
    val freqs = wordFrequencies(docs, textCol)
      .withColumn("total", sum("freq").over(Window.partitionBy()))
    words.join(freqs, "word")
      .groupBy("doc_id")
      .agg(avg(log10(col("freq").cast("double") / col("total")))
        .as("avg_logprob"))
  }

  /** Lowercased single-space tokens of a text column, empty tokens
    * dropped: the token stream of the bigram LM family
    * ([[bigramLogProb]], [[stupidBackoff]], [[collocations]]).
    */
  private def lowerTokens(text: Column): Column =
    filter(transform(split(text, " ", -1), w => lower(w)), w => w =!= "")

  /** The in-order bigrams (`"a b"`) of a token-array column REFERENCE
    * (`zip_with` of the two shifted slices); fewer than two tokens give
    * an empty array. Both slices reference the column several times,
    * which keeps CollapseProject from inlining the tokenizer (alias used
    * more than once); the zip_with lambda touches only its own
    * variables.
    */
  private def bigramArray(toks: Column): Column =
    when(size(toks) >= 2,
        zip_with(slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))

  /** One `(doc_id, bigram)` row per in-doc bigram of [[lowerTokens]]. */
  private def bigramStream(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col("doc_id"), lowerTokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), explode(bigramArray(col("__toks"))).as("bigram"))

  /** Mean bigram conditional log10-probability per document — one step
    * up from [[unigramLogProb]] on the cheap-LM quality ladder:
    * score(doc) = avg over in-doc bigrams (a b) of
    * log10(c(a b) / c(a *)) under the corpus MLE (every scored bigram
    * was observed, so no smoothing is needed for finiteness).
    *
    * Corpus passes: the bigram lists are built map-side from each
    * document's token array (`zip_with` of the two shifted slices — no
    * positions shuffle, no self-join), aggregated once into the bigram
    * table; the per-context total `c(a *)` rides on that aggregate via
    * a window partitioned by the context word (vocabulary-sized input,
    * properly partitioned); the score join re-reads the bigram rows.
    * Documents with fewer than two tokens have no bigrams and drop out
    * (same contract as a doc with no tokens in [[unigramLogProb]]).
    */
  def bigramLogProb(docs0: DataFrame, textCol: String = "text"): DataFrame = {
    val bi = bigramStream(graft.search.Analyzer.spread(docs0), textCol)
    val counts = bi.groupBy("bigram").agg(count(lit(1)).as("freq"))
      .withColumn("ctx_total", sum("freq").over(
        Window.partitionBy(split(col("bigram"), " ").getItem(0))))
    bi.join(counts, "bigram")
      .groupBy("doc_id")
      .agg(avg(log10(col("freq").cast("double") / col("ctx_total")))
        .as("avg_bigram_logprob"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): rank every
    * document by its LM score ([[bigramLogProb]]) and split the corpus
    * into equal thirds — `head` (highest log-prob = lowest perplexity,
    * the cleanest slice), `middle`, `tail` (the noisiest, typically
    * dropped or down-weighted when building a training mix). CCNet
    * computes the thirds PER LANGUAGE over a wiki-trained 5-gram LM;
    * the bucketing mechanics here are the published design with this
    * library's in-corpus bigram LM as the scorer (compose with
    * [[stupidBackoff]] for a held-out LM, or `groupBy(lang)` upstream
    * for per-language thirds).
    *
    * The tertile split is [[ScalableRank.globalNtileBy]] — SQL-NTILE
    * arithmetic over the scalable two-level prefix-sum order, never a
    * single-partition sort of the corpus. Order is (logprob ROUNDED
    * to 6 dp, doc_id): the rounding makes the rank order engine-
    * portable (the `text_bigram_logprob` precedent), the unique
    * doc_id makes it total. Docs with fewer than two tokens have no
    * score and drop (the [[bigramLogProb]] contract).
    *
    * @return (doc_id, logprob, bucket ∈ {head, middle, tail})
    */
  def perplexityBuckets(docs: DataFrame,
                        textCol: String = "text"): DataFrame = {
    val lp = bigramLogProb(docs, textCol)
      .select(col("doc_id"), round(col("avg_bigram_logprob"), 6).as("logprob"))
    ScalableRank.globalNtileBy(lp, 3,
      Seq(col("logprob").asc, col("doc_id").asc),
      floor(col("logprob") * 10), outCol = "tile")
      .withColumn("bucket",
        when(col("tile") === 3, "head")
          .when(col("tile") === 2, "middle")
          .otherwise("tail"))
      .select("doc_id", "logprob", "bucket")
  }

  /** Stupid Backoff (Brants et al. 2007) bigram scoring against a
    * HELD-OUT language model: each in-doc bigram (a b) scores
    * `log10(c(a b) / c(a ·))` when the LM saw the bigram, else backs
    * off to `log10(alpha · c(b) / N)` (unigram MLE, `alpha = 0.4`);
    * an OOV continuation word takes pseudo-count 0.5. Unlike
    * [[bigramLogProb]] the LM corpus (`lmDocs0`) is distinct from the
    * scored corpus, so the backoff path actually fires — the standard
    * "score candidate data under a clean-reference LM" quality filter.
    *
    * Corpus passes: one bigram aggregate + one unigram aggregate over
    * the LM slice (map-side list building, vocabulary-sized outputs;
    * context totals and N ride on those aggregates via
    * vocabulary-partitioned / single-tiny-partition windows), then one
    * scored-corpus bigram stream LEFT-joined against both tables.
    * Docs with fewer than two tokens drop (the [[bigramLogProb]]
    * contract).
    *
    * @return (doc_id, avg_backoff_logprob, n_backoff) — n_backoff is
    *         the count of bigrams that took the backoff path
    */
  def stupidBackoff(docs0: DataFrame, lmDocs0: DataFrame,
                    alpha: Double = 0.4,
                    textCol: String = "text"): DataFrame = {
    val lmDocs = graft.search.Analyzer.spread(lmDocs0)
    val biLm = bigramStream(lmDocs, textCol)
      .groupBy("bigram").agg(count(lit(1)).as("__cab"))
      .withColumn("__ctx", sum("__cab").over(
        Window.partitionBy(split(col("bigram"), " ").getItem(0))))
    val uniLm = lmDocs.select(explode(lowerTokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("__cb"))
      .localCheckpoint() // consumed twice: the N total + the score join
    // N as a broadcast 1-row aggregate of the vocabulary-sized table
    // (never an unpartitioned window over the scored stream); 1-token
    // floor keeps the expression total on an empty LM
    val nTotal = uniLm.agg(coalesce(sum("__cb"), lit(1L)).as("__n"))
    bigramStream(graft.search.Analyzer.spread(docs0), textCol)
      .join(biLm, Seq("bigram"), "left")
      .withColumn("word", split(col("bigram"), " ").getItem(1))
      .join(uniLm, Seq("word"), "left")
      .crossJoin(broadcast(nTotal))
      .withColumn("__term", when(col("__cab").isNotNull,
          log10(col("__cab").cast("double") / col("__ctx")))
        .otherwise(log10(
          lit(alpha) * coalesce(col("__cb").cast("double"), lit(0.5)) /
            col("__n"))))
      .groupBy("doc_id")
      .agg(avg(col("__term")).as("avg_backoff_logprob"),
        sum(when(col("__cab").isNull, 1L).otherwise(0L)).as("n_backoff"))
  }

  /** Collocation mining by pointwise mutual information: for every
    * corpus bigram with `freq >= minFreq`,
    * `pmi = log10( p(ab) / (p(a)·p(b)) )` with p(ab) = f_ab / N_bigrams
    * and p(x) = f_x / N_tokens — high-PMI bigrams are the multi-word
    * expressions ("new york") a tokenizer or phrase index should treat
    * as units.
    *
    * Scale posture: two map-only corpus scans (unigram and bigram
    * explodes — stateless tokenization recomputes; nothing corpus-sized
    * is ever materialized) partial-aggregate down to the two
    * VOCABULARY-sized count tables, which are localCheckpointed — they
    * each have multiple consumers (totals + joins) and a lazy re-read
    * would re-run the corpus explode per consumer. The corpus totals
    * ride as broadcast 1-row aggregates of the checkpointed vocab
    * tables, never through the driver. PMI itself is pure per-row
    * arithmetic on exact integer counts — no summation-order
    * sensitivity (log10 of an int-derived ratio).
    *
    * @return (bigram, freq, pmi) for bigrams with freq >= minFreq
    */
  def collocations(docs0: DataFrame, textCol: String = "text",
                   minFreq: Long = 5L): DataFrame = {
    require(minFreq >= 1, s"minFreq must be >= 1: $minFreq")
    val tokenized = graft.search.Analyzer.spread(docs0)
      .select(lowerTokens(col(textCol)).as("__toks"))
    val uni = tokenized.select(explode(col("__toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("f"))
      .localCheckpoint() // 3 consumers: total + both PMI joins
    val uniTotal = uni.agg(sum("f").as("n_uni"))
    val bi0 = tokenized.select(explode(bigramArray(col("__toks"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("freq"))
      .localCheckpoint() // 2 consumers: total (unfiltered) + minFreq cut
    val biTotal = bi0.agg(sum("freq").as("n_bi"))
    val bi = bi0.filter(col("freq") >= minFreq)
    bi
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("word").as("w1"), col("f").as("f1")), "w1")
      .join(uni.select(col("word").as("w2"), col("f").as("f2")), "w2")
      .crossJoin(broadcast(uniTotal))
      .crossJoin(broadcast(biTotal))
      .select(col("bigram"), col("freq"),
        log10((col("freq").cast("double") / col("n_bi")) /
          ((col("f1").cast("double") / col("n_uni")) *
            (col("f2").cast("double") / col("n_uni")))).as("pmi"))
  }

  /** Portable hashed-feature index: first 8 hex chars of md5 as an
    * unsigned 32-bit value, mod `dim`. Any engine with md5 reproduces
    * it (DuckDB: `CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) % dim`),
    * unlike Spark's xxhash64/Murmur which are engine-specific. Used by
    * the hashing-trick classifier features below.
    */
  def hashFeature(c: Column, dim: Int): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long") % dim

  /** Deterministic demo weight table for [[classifierScore]]:
    * weight(f) = ((f * 2654435761) mod 10007) / 10007 - 0.5 — a
    * Weyl-ish spread over [-0.5, 0.5) that any engine can recompute.
    * A real deployment would load learned fastText/regression weights
    * here; the inference path is identical.
    */
  def hashedWeights(spark: org.apache.spark.sql.SparkSession,
                    dim: Int): DataFrame =
    spark.range(dim).select(col("id").as("fid"),
      (((col("id") * lit(2654435761L)) % 10007L).cast("double") / 10007.0
        - 0.5).as("weight"))

  /** fastText-style linear quality-classifier INFERENCE over
    * hashing-trick bag-of-words features: each token hashes to one of
    * `dim` feature ids ([[hashFeature]]); the document margin is the
    * MEAN of the matched feature weights (fastText's average-of-input-
    * vectors with a 1-d "vector"), squashed through a sigmoid.
    *
    * Scale posture: the weight table is model-sized (`dim` rows) and
    * broadcast — the corpus-sized token stream never shuffles for the
    * join; the per-doc mean is ONE hash aggregation with map-side
    * partial combine. This is the shape of every cheap learned quality
    * filter in a training-data pipeline (fastText lid/quality, logistic
    * spam scores): score = sigmoid(w . phi(doc) + b).
    *
    * Documents with no tokens have no features and drop out (same
    * contract as [[unigramLogProb]]).
    */
  def classifierScore(docs0: DataFrame, weights: DataFrame,
                      bias: Double = 0.0, dim: Int = 4096,
                      textCol: String = "text"): DataFrame = {
    val docs = graft.search.Analyzer.spread(docs0)
    val feats = docs.select(col("doc_id"),
        explode(split(col(textCol), " ", -1)).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"), hashFeature(lower(col("w")), dim).as("fid"))
    feats.join(broadcast(weights), "fid")
      .groupBy("doc_id")
      .agg((sum("weight") / count(lit(1)) + bias).as("margin"))
      .select(col("doc_id"),
        (lit(1.0) / (lit(1.0) + exp(-col("margin")))).as("prob"))
  }

  /** DSIR importance log-weights (Xie et al. 2023, "Data Selection
    * with Importance Resampling"): score each raw document by how much
    * more likely its tokens are under the TARGET distribution than
    * under the RAW corpus distribution —
    * log w(doc) = sum over tokens of
    * log10 p_tgt(tok) - log10 p_raw(tok), with add-alpha smoothing
    * over the SHARED vocabulary (so unseen-in-target tokens are finite
    * penalties, not -inf). Resampling then keeps docs proportionally
    * to exp(log w) — the sampling itself is [[hashSample]] /
    * [[mixtureTake]] territory; this computes the weights.
    *
    * Scale posture: ONE corpus-sized aggregation builds both unigram
    * models at once (conditional count on the target flag — the target
    * corpus is a subset, so one scan suffices); totals and vocabulary
    * size ride on the vocabulary-sized aggregate via unpartitioned
    * windows (never over the corpus); the score join re-reads tokens
    * once with a per-doc partial-aggregated sum. Two corpus passes
    * total, model tables stay vocabulary-sized.
    */
  def dsirWeights(docs0: DataFrame, isTarget: Column, alpha: Double = 0.5,
                  textCol: String = "text"): DataFrame = {
    val docs = graft.search.Analyzer.spread(docs0)
    val words = docs.select(col("doc_id"), isTarget.as("is_tgt"),
        explode(split(col(textCol), " ", -1)).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"), col("is_tgt"), lower(col("w")).as("word"))
    val vocab = words.groupBy("word").agg(
      count(lit(1)).as("raw_ct"),
      sum(when(col("is_tgt"), 1L).otherwise(0L)).as("tgt_ct"))
    val all = Window.partitionBy()
    val scored = vocab.select(col("word"),
        col("raw_ct"), col("tgt_ct"),
        sum("raw_ct").over(all).as("raw_total"),
        sum("tgt_ct").over(all).as("tgt_total"),
        count(lit(1)).over(all).as("vsize"))
      .select(col("word"),
        (log10((col("tgt_ct") + alpha) / (col("tgt_total") + lit(alpha) * col("vsize"))) -
          log10((col("raw_ct") + alpha) / (col("raw_total") + lit(alpha) * col("vsize"))))
          .as("llr"))
    words.join(scored, "word")
      .groupBy("doc_id")
      .agg(sum("llr").as("dsir_logweight"))
  }

  /** Distributed full-batch logistic-regression TRAINING for a cheap
    * quality/language filter — the learn step whose inference twin is
    * [[classifierScore]]. Four exact-rational document features (bias,
    * chars/1000, words/100, digit ratio) against a 0/1 label column;
    * `iterations` rounds of gradient descent where each round is ONE
    * corpus-sized aggregation producing a 4-long gradient — the
    * textbook distributed-LR shape (k passes over data, model-sized
    * driver state, broadcast weights).
    *
    * Bit-portable by construction (the [[graft.ops.Similarity.powerIteration]]
    * discipline): the squashing function is the FAST SIGMOID
    * `σ̃(z) = 0.5 + 0.5·z/(1+|z|)` — same shape and gradient sign as
    * the logistic, but built only from +,*,/,abs so no cross-engine
    * `exp` ulp question exists; per-row error×feature products are
    * floor-scaled to integers before summation (associative-
    * commutative exactly — partitioning cannot change a bit); the
    * weight update is one fixed double expression both engines
    * execute identically. The `text_train_logreg` DuckDB oracle
    * replays all rounds unrolled and compares weights with `==`.
    *
    * `labelCol` must already be a 0.0/1.0 DOUBLE column (the caller
    * decides null semantics). Returns `(feature, weight)` — one row
    * per feature index.
    */
  /** The exact-rational feature projection shared by [[trainLogReg]]
    * and [[calibrationReport]]: `(y, f0 bias, f1 chars/1000,
    * f2 words/100, f3 digit ratio)` — every value is an integer or a
    * single division of integers, so both engines hold identical
    * doubles.
    */
  private[graft] def logRegFeatures(docs: DataFrame, labelCol: Column): DataFrame = {
    val text = coalesce(col("text"), lit(""))
    docs.select(
      labelCol.cast("double").as("y"),
      lit(1.0).as("f0"),
      (col("n_chars") / lit(1000.0)).as("f1"),
      (size(filter(split(text, " ", -1), w => w =!= lit("")))
        / lit(100.0)).as("f2"),
      when(col("n_chars") === 0, 0.0)
        .otherwise(length(regexp_replace(text, "[^0-9]", "")).cast("double")
          / col("n_chars")).as("f3"))
  }

  /** Fast-sigmoid margin/probability columns for a weight vector (the
    * inference twin of one [[trainLogReg]] round's forward pass).
    */
  private def fastSigmoid(z: Column): Column =
    lit(0.5) + lit(0.5) * (z / (lit(1.0) + abs(z)))

  private def marginCol(w: Array[Double]): Column =
    lit(w(0)) * col("f0") + lit(w(1)) * col("f1") +
      lit(w(2)) * col("f2") + lit(w(3)) * col("f3")

  /** [[trainLogReg]] returning the raw weight vector (driver-side
    * model) instead of a DataFrame.
    */
  def trainLogRegWeights(docs: DataFrame, labelCol: Column,
                         iterations: Int = 3, lr: Double = 0.5): Array[Double] =
    // features materialized ONCE: every iteration re-reads the narrow
    // (y, f0..f3) frame instead of re-running the text-derived feature
    // projection (split + digit regex over the raw corpus) per round
    // (guide §1.2/§5: k passes over 40 bytes/doc, not k corpus scans;
    // checkpoint blocks are GC-reclaimed once the weights are out)
    trainOnFeatures(
      logRegFeatures(docs, labelCol).localCheckpoint(true), iterations, lr)

  /** Gradient-descent loop over a MATERIALIZED feature frame — the
    * shared core of [[trainLogRegWeights]] and [[calibrationReport]]
    * (which scores off the same materialized features).
    */
  private def trainOnFeatures(f: DataFrame,
                              iterations: Int, lr: Double): Array[Double] = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    var w = Array.fill(4)(0.0)
    for (_ <- 1 to iterations) {
      val err = fastSigmoid(marginCol(w)) - col("y")
      val grads = f.select(col("f0"), col("f1"), col("f2"), col("f3"),
          err.as("err"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("err") * col("f0") * lit(1e6))).as("g0"),
          sum(floor(col("err") * col("f1") * lit(1e6))).as("g1"),
          sum(floor(col("err") * col("f2") * lit(1e6))).as("g2"),
          sum(floor(col("err") * col("f3") * lit(1e6))).as("g3"))
        .first()
      val n = grads.getLong(0)
      require(n > 0, "trainLogReg needs a non-empty corpus")
      w = Array.tabulate(4)(j =>
        w(j) - lr * (grads.getLong(j + 1).toDouble / 1e6 / n))
    }
    w
  }

  def trainLogReg(docs: DataFrame, labelCol: Column, iterations: Int = 3,
                  lr: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainLogRegWeights(docs, labelCol, iterations, lr)
      .zipWithIndex.map { case (wj, j) => (j, wj) }.toSeq
      .toDF("feature", "weight")
  }

  /** Calibration (reliability-diagram) report for the trained filter:
    * train [[trainLogReg]]'s model, score every document with the
    * fast-sigmoid probability ROUNDED to 6 dp, bucket into
    * `prob ∈ [b/100, (b+1)/100)` CENTILES (the decile convention
    * collapses to one row when a weak model concentrates its scores —
    * the finer grid keeps the report informative), and report per
    * bucket the
    * count, the empirical positive rate and the mean predicted
    * probability — a well-calibrated filter has `mean_label ≈
    * mean_prob` per bucket, and a threshold picked off this table has
    * a known precision. One extra corpus pass after training; the
    * empirical rate is an exact integer division, the mean probability
    * rounds at 6 dp (double-sum order).
    */
  def calibrationReport(docs: DataFrame, labelCol: Column,
                        iterations: Int = 3, lr: Double = 0.5): DataFrame = {
    // one feature materialization feeds training AND scoring — the
    // pre-r14 shape re-derived the text features iterations+1 times
    val f = logRegFeatures(docs, labelCol).localCheckpoint(true)
    val w = trainOnFeatures(f, iterations, lr)
    val scored = f
      .select(col("y"), round(fastSigmoid(marginCol(w)), 6).as("p"))
      .withColumn("bucket", floor(col("p") * 100).cast("int"))
    scored.groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        (sum(col("y")) / count(lit(1))).as("mean_label"),
        round(avg(col("p")), 6).as("mean_prob"))
  }

  /** SQL string literal with quotes/backslashes escaped (merge symbols
    * may contain either once user text gets exotic).
    */
  private def sqlLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
}
