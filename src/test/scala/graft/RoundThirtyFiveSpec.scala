package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis

/** Round-35 (optimization round r14) equivalence pins: operators whose
  * INTERNALS changed for plan shape — fewer shuffles / cheaper
  * operators — must produce bit-identical results to the shapes they
  * replaced. Each test reconstructs the OLD shape inline (frozen
  * copy) and diffs it against the operator on inputs that exercise
  * the edge cases the rewrite touches.
  */
class RoundThirtyFiveSpec extends SparkSuite {

  /** The pre-r14 exploded repetitionStats shape (explode all gram
    * sizes, two shuffled aggregations) — the reference the in-row
    * run-length fold must match bit-for-bit.
    */
  private def repetitionStatsExploded(docs0: DataFrame): DataFrame = {
    val docs = graft.search.Analyzer.spread(docs0)
    val toks = col("__toks")
    def grams(n: Int) =
      if (n == 1) transform(toks, t => struct(lit(1).as("n"), t.as("gram")))
      else when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => struct(lit(n).as("n"),
            concat_ws(" ", slice(toks, i + 1, lit(n))).as("gram"))))
        .otherwise(array().cast("array<struct<n:int,gram:string>>"))
    docs
      .select(col("doc_id"), graft.search.Analyzer.tokensCol(col("text")).as("__toks"))
      .select(col("doc_id"), explode(concat(grams(1), grams(2), grams(3))).as("g"))
      .select(col("doc_id"), col("g.n").as("n"), col("g.gram").as("gram"))
      .groupBy("doc_id", "n", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum(when(col("n") === 1, col("c"))).as("n_tokens"),
        max(when(col("n") === 1, col("c"))).as("top_token"),
        sum(when(col("n") === 2, col("c"))).as("n_bigrams"),
        max(when(col("n") === 2, col("c"))).as("top_bigram"),
        sum(when(col("n") === 3, col("c"))).as("n_trigrams"),
        sum(when(col("n") === 3 && col("c") > 1, col("c"))).as("dup_trigrams"))
      .select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        (col("top_token").cast("double") / col("n_tokens")).as("top_token_frac"),
        (col("top_bigram").cast("double") / col("n_bigrams")).as("top_bigram_frac"),
        (coalesce(col("dup_trigrams"), lit(0L)).cast("double") / col("n_trigrams"))
          .as("dup_trigram_frac"))
  }

  test("repetitionStats run-length fold ≡ exploded two-aggregate shape") {
    val s = spark
    import s.implicits._
    // edge cases: empty text (must vanish), 1 token (null bi/tri),
    // 2 tokens (null tri), all-same tokens (maximal runs), punctuation
    // (tokenizer drops to empty), ties between gram counts, and a
    // repeated-trigram tail
    val docs = Seq(
      (1L, "a a a b"),
      (2L, "x y x y x y"),
      (3L, "only"),
      (4L, ""),
      (5L, "p q"),
      (6L, "z z z z z z z"),
      (7L, ",,, ..."),
      (8L, "m n m n o m n m n o m n"),
      (9L, "t1 t2 t3 t4 t5 t6 t1 t2 t3 t4 t5 t6")
    ).toDF("doc_id", "text")
    val neu = TextAnalysis.repetitionStats(docs)
    val old = repetitionStatsExploded(docs)
    assert(neu.schema.map(f => (f.name, f.dataType)) ===
      old.schema.map(f => (f.name, f.dataType)))
    val n = neu.collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val o = old.collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(n.keySet === o.keySet)
    n.keySet.foreach(k => assert(n(k) === o(k), s"doc $k"))
    // zero exchanges in the new plan: the whole point of the rewrite
    val exchanges = neu.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    assert(exchanges === 0, "repetitionStats must not shuffle")
  }

  test("labelPropagation min-struct argmax ≡ two-window argmax (ties)") {
    val s = spark
    import s.implicits._
    // a node with a TIED neighbor-label multiset must adopt the
    // smallest label; string labels exercise the struct ordering
    val edges = Seq(
      ("h", "a"), ("h", "b"), // h sees {a, b} once each -> adopts "a"
      ("a", "b"),             // triangle-ish mass
      ("h", "c"), ("c", "a")  // and a second tie layer
    ).toDF("src", "dst")
    val got = graft.ops.Graph.labelPropagation(edges, iterations = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // synchronous round 1 by hand over the undirected graph:
    // N(h)={a,b,c} all count 1 -> "a"; N(a)={h,b,c} -> "b"? no:
    // counts all 1 -> smallest label "b"|{h,b,c} -> "b"; N(b)={h,a} -> "a";
    // N(c)={h,a} -> "a"
    assert(got("h") === "a")
    assert(got("a") === "b")
    assert(got("b") === "a")
    assert(got("c") === "a")
  }

  test("relatedByNeighbors single-aggregate shape matches re-derived naive") {
    val s = spark
    import s.implicits._
    // groups: g1={1,2,3}, g2={1,2}, g3={2,3}, g4={1..5} (capped out at
    // maxFanout=4), g5={7} (dropped, <2 items), plus duplicate input
    // rows that the assumeDistinct=false path must collapse
    val pairs = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L), (10L, 1L),
      (20L, 1L), (20L, 2L),
      (30L, 2L), (30L, 3L),
      (40L, 1L), (40L, 2L), (40L, 3L), (40L, 4L), (40L, 5L),
      (50L, 7L)
    ).toDF("g", "i")
    def naive(maxFanout: Int): Map[(Long, Long), (Long, Double)] = {
      val rows = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).distinct
      val byG = rows.groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted)
        .filter { case (_, is) => is.length >= 2 && is.length <= maxFanout }
        .toMap
      val deg = byG.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val co = byG.values.toSeq.flatMap(is =>
        for (a <- is.toSeq; b <- is.toSeq if a < b) yield (a, b))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      co.map { case ((a, b), sh) =>
        (a, b) -> (sh, sh.toDouble / (deg(a) + deg(b) - sh)) }.toMap
    }
    for (assume <- Seq(false, true)) {
      // assumeDistinct=true is only valid on distinct input
      val input = if (assume) pairs.distinct() else pairs
      val got = graft.ops.Graph.relatedByNeighbors(input, "g", "i",
          k = 100, maxFanout = 4, minShared = 1L, assumeDistinct = assume)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      assert(got === naive(4), s"assumeDistinct=$assume")
    }
  }

  test("MinHashMinima ≡ array_min(transform(hs, h => xxhash64(h, i))) per i") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50)(Seq.fill(1 + rnd.nextInt(40))(rnd.nextLong())) ++
      Seq(Seq(0L), Seq(Long.MinValue, Long.MaxValue))
    val df = rows.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("id", "hs")
    val numHashes = 32
    val colForm = df.select(col("id"),
      transform(sequence(lit(0), lit(numHashes - 1)),
        i => array_min(transform(col("hs"), h => xxhash64(h, i)))).as("m"))
    val native = df.select(col("id"),
      graft.functions.MinHashMinima.of(col("hs"), numHashes).as("m"))
    val a = colForm.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b = native.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(a === b)
    // empty array -> all-null minima, like array_min(empty) = NULL
    val empty = Seq((0L, Seq.empty[Long])).toDF("id", "hs")
    val e = empty.select(
      graft.functions.MinHashMinima.of(col("hs"), 4).as("m")).collect()(0)
    assert(e.getSeq[Any](0) === Seq(null, null, null, null))
  }

  test("clusters anti-join convergence probe still converges and labels") {
    val s = spark
    import s.implicits._
    // two chains + an isolated pair; min-label components
    val pairs = Seq((5L, 4L), (4L, 3L), (9L, 8L), (2L, 1L))
      .toDF("doc_a", "doc_b")
    val got = graft.ops.Dedup.clusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(5L -> 3L, 4L -> 3L, 3L -> 3L,
      9L -> 8L, 8L -> 8L, 2L -> 1L, 1L -> 1L))
  }
}
