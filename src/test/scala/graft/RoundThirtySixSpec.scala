package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{BoundedCollectList, DelimTokens}
import graft.ops.{Dedup, Graph, TextAnalysis}
import graft.search.Analyzer

/** Round-36 (optimization round r15) equivalence pins: operators whose
  * INTERNALS changed for hub safety / per-row cost must produce
  * bit-identical results to the shapes they replaced. Each test
  * reconstructs the OLD shape inline (frozen copy) and diffs it
  * against the operator on inputs that exercise the edge cases.
  */
class RoundThirtySixSpec extends SparkSuite {

  // ---------------------------------------------------------- tokenizer

  /** The pre-r15 regex tokenizer — the reference DelimTokens must match
    * bit-for-bit.
    */
  private def tokensRegex(text: org.apache.spark.sql.Column,
                          delimRegex: String) =
    filter(split(lower(text), delimRegex), t => length(t) > 0)

  private val adversarial = Seq(
    "", " ", "----", "—", "–", "a", "A—B–C",
    "hello world", "  leading and trailing  ", "tab\tand\nnewline\rhere",
    "a-b_c+d=e*f#g$h&i", "(parens)[brackets]{braces}<angles>",
    "quotes'and\"quotes", "mixed:punct;every,where.end!",
    "unicode é ü ß ñ 中文 токен", "ΣΙΣΥΦΟΣ ΟΔΟΣ", // final-sigma lowering
    "em—dash–en", "|||", "a||b", "?!.,;:", "num8er5 123 4x",
    "ends with delim.", ".starts with delim", "é—è",
    "–—–", "a–b", "surrogate 😀 emoji")

  test("DelimTokens ≡ filter(split(lower, regex)) — adversarial strings") {
    import spark.implicits._
    val df = adversarial.toDF("text")
    for ((regex, enDash) <- Seq(
        (Analyzer.IndexDelimRegex, false),
        (Analyzer.WordCountDelimRegex, true))) {
      val got = df.select(col("text"),
        DelimTokens.of(lower(col("text")), enDash).as("toks"))
      val want = df.select(col("text"),
        tokensRegex(col("text"), regex).as("toks"))
      assertSameRows(got, want)
    }
  }

  test("DelimTokens ≡ filter(split(lower, regex)) — full sf0.01 corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    for ((regex, enDash) <- Seq(
        (Analyzer.IndexDelimRegex, false),
        (Analyzer.WordCountDelimRegex, true))) {
      val diff = docs.select(col("doc_id"),
          DelimTokens.of(lower(col("text")), enDash).as("got"),
          tokensRegex(col("text"), regex).as("want"))
        .filter(!(col("got") <=> col("want")))
      assert(diff.isEmpty, s"tokenizer mismatch for $regex")
    }
    // null text propagates as null, like the column form
    val nulls = docs.select(DelimTokens.of(lower(lit(null)
      .cast("string")), enDash = false).as("t"))
    assert(nulls.filter(col("t").isNotNull).isEmpty)
  }

  test("tokensCol falls back to the regex path for a custom delimiter") {
    import spark.implicits._
    val df = Seq("a1b23c", "11", "abc").toDF("text")
    val got = df.select(Analyzer.tokensCol(col("text"), "[0-9]+").as("t"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(got === Seq(Seq("a", "b", "c"), Nil, Seq("abc")))
  }

  // ------------------------------------------- repetitionStats emptiness

  test("HasTokenRegex ⟺ size(tokensCol) > 0 — adversarial + corpus") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("text"))
      .unionByName(adversarial.toDF("text"))
    val diff = docs.select(col("text"),
        col("text").rlike(Analyzer.HasTokenRegex).as("got"),
        (size(Analyzer.tokensCol(col("text"))) > 0).as("want"))
      .filter(!(col("got") <=> col("want")))
    assert(diff.isEmpty)
  }

  test("repetitionStats evaluates the tokenizer ONCE per row") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val plan = TextAnalysis.repetitionStats(docs)
      .queryExecution.executedPlan.toString
    val n = "(?i)delimtokens".r.findAllIn(plan).size
    assert(n === 1, s"expected exactly one tokenizer call in plan, got $n")
  }

  // ------------------------------------------------ bounded collect_list

  test("BoundedCollectList buffer never exceeds its limit") {
    val agg = BoundedCollectList(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.LongType, nullable = false),
      limit = 17)
    var buf = agg.createAggregationBuffer()
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    var i = 0L
    while (i < 100000L) { // a synthetic hub key: 100k distinct members
      row.update(0, java.lang.Long.valueOf(i))
      buf = agg.update(buf, row)
      assert(buf.size <= 17)
      i += 1
    }
    assert(buf.size === 17)
    // merge of two saturated partials stays bounded
    val merged = agg.merge(buf, agg.deserialize(agg.serialize(buf)))
    assert(merged.size === 17)
    // round-trip through the shuffle format is bounded too
    assert(agg.deserialize(agg.serialize(merged)).size === 17)
  }

  test("bounded collect: distinct inputs ⇒ size = min(count, limit), " +
    "kept keys have full contents") {
    import spark.implicits._
    val df = (0 until 5).flatMap(g => (0 until (g + 1) * 3)
      .map(i => (g, i.toLong))).toDF("g", "v")
    val got = df.groupBy("g")
      .agg(sort_array(BoundedCollectList.of(col("v"), 7)).as("vs"))
    val want = df.groupBy("g")
      .agg(sort_array(collect_list(col("v"))).as("vs"))
    // keys at or under the cap (6): identical contents; over: exactly 7
    assertSameRows(got.filter(size(col("vs")) <= 6),
      want.filter(size(col("vs")) <= 6))
    assert(got.filter(size(col("vs")) > 6)
      .filter(size(col("vs")) =!= 7).isEmpty)
    assert(got.filter(size(col("vs")) === 7).count() ===
      want.filter(size(col("vs")) > 6).count())
  }

  // ------------------------------------ bipartiteProject / pairCounts

  /** The pre-r15 shape: unbounded collect_set + single-row
    * flatten(transform(transform)) pair expansion.
    */
  private def bipartiteProjectOld(pairs: DataFrame, maxFanout: Int,
                                  minShared: Long): DataFrame = {
    val sets = pairs.select(col("g").as("__g"), col("i").as("__i"))
      .distinct()
      .groupBy("__g")
      .agg(sort_array(collect_set(col("__i"))).as("items"))
      .filter(size(col("items")).between(2, maxFanout))
    val pairsExpr = flatten(transform(
      sequence(lit(1), size(col("items")) - 1),
      i => transform(sequence(i + 1, size(col("items"))),
        j => struct(element_at(col("items"), i).as("item_a"),
          element_at(col("items"), j).as("item_b")))))
    sets.select(explode(pairsExpr).as("p"))
      .groupBy(col("p.item_a").as("item_a"), col("p.item_b").as("item_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  test("bipartiteProject ≡ old shape, incl. a hub group over the cap") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val normal = (0 until 400).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextLong(30).toLong))
    // one hub group with 200 members (cap = 64 ⇒ dropped), one group
    // exactly AT the cap (kept), one just over (dropped)
    val hub = (0 until 200).map(i => (1000L, 1000L + i))
    val atCap = (0 until 64).map(i => (2000L, 2000L + i))
    val overCap = (0 until 65).map(i => (3000L, 3000L + i))
    val df = (normal ++ hub ++ atCap ++ overCap).toDF("g", "i")
    for (minShared <- Seq(1L, 2L)) {
      val got = Graph.bipartiteProject(df, "g", "i", maxFanout = 64,
        minShared = minShared)
      assertSameRows(got, bipartiteProjectOld(df, 64, minShared))
      // assumeDistinct over an already-distinct frame: same rows
      val gotAd = Graph.bipartiteProject(df.distinct(), "g", "i",
        maxFanout = 64, minShared = minShared, assumeDistinct = true)
      assertSameRows(gotAd, bipartiteProjectOld(df, 64, minShared))
    }
  }

  test("pairCounts two-step explode bounds per-row structs " +
    "(plan has two Generates, no flatten)") {
    import spark.implicits._
    val df = (0 until 100).map(i => (i.toLong % 10, i.toLong)).toDF("g", "i")
    val plan = Graph.bipartiteProject(df, "g", "i", maxFanout = 1000)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("flatten"),
      "single-row fanout² flatten should be gone")
    assert("(?i)generate".r.findAllIn(plan).size >= 2)
  }

  // ---------------------------------------------------- winnowPairs

  /** The pre-r15 winnowPairs shape (unbounded collect_list). */
  private def winnowPairsOld(docs: DataFrame, k: Int, w: Int,
                             minShared: Int, maxFpFreq: Int): DataFrame = {
    val idPairs = (ids: org.apache.spark.sql.Column) =>
      flatten(transform(sequence(lit(1), size(ids) - 1),
        i => transform(sequence(i + 1, size(ids)),
          j => struct(element_at(ids, i).as("a"),
            element_at(ids, j).as("b")))))
    TextAnalysis.winnow(docs, k, w)
      .select(col("doc_id"), col("fp")).distinct()
      .groupBy("fp")
      .agg(sort_array(collect_list(col("doc_id"))).as("__ids"))
      .filter(size(col("__ids")).between(2, maxFpFreq))
      .select(explode(idPairs(col("__ids"))).as("__p"))
      .select(col("__p.a").as("doc_a"), col("__p.b").as("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  test("winnowPairs ≡ old shape on the sf0.001 corpus + a boilerplate fp") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // plant shared boilerplate so some fingerprint crosses a small cap
    val boiler = docs.limit(12).select(
      (col("doc_id") + lit(100000L)).as("doc_id"),
      concat(lit("common shared boilerplate prefix text here always "),
        col("text")).as("text"))
    val all = docs.select("doc_id", "text").unionByName(boiler)
    for (cap <- Seq(8, 64)) {
      assertSameRows(
        Dedup.winnowPairs(all, k = 4, w = 4, minShared = 2, maxFpFreq = cap),
        winnowPairsOld(all, 4, 4, 2, cap))
    }
  }

  // ------------------------------------------------- minhash candidates

  test("minHashLshVerified pair list unchanged by the bounded collect " +
    "(vs exact ngramJaccard ground truth)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lsh = Dedup.minHashLshVerified(docs, n = 3, numHashes = 32,
      bands = 32, minJ = 0.2, maxBucket = 16, minBands = 2)
    val exact = Dedup.ngramJaccard(docs, 3, 0.2)
    // candidates-only machinery: the verified pair list must equal the
    // exact self-join pair list on this corpus (the r14 recall margin)
    assertSameRows(
      lsh.select(col("doc_a"), col("doc_b"), round(col("jaccard"), 9)),
      exact.select(col("doc_a"), col("doc_b"), round(col("jaccard"), 9)))
  }

  // ------------------------------------------------ round-state cleanup

  test("graph loops drop dead round-state blocks eagerly") {
    import spark.implicits._
    val edges = (0 until 300).map(i => (i.toLong, (i % 37).toLong * 7))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val sc = spark.sparkContext
    def persisted(): Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val before = persisted()
    val ranks = Graph.pageRank(edges, iterations = 4)
    ranks.write.format("noop").mode("overwrite").save()
    val added = (persisted() -- before).size
    // chunkedAdjacency keeps its result (und is dropped), plus the
    // FINAL round's state: 2 live checkpoints. Without the eager
    // per-round drop this is 4 + iterations.
    assert(added <= 3, s"expected <= 3 live checkpoints, got $added")
    assert(ranks.count() > 0)
  }
}
