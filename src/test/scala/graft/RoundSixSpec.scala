package graft

import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis

/** Round-6 surface: sequence packing (two-level prefix sum) and
  * exact-count mixture sampling.
  */
class RoundSixSpec extends SparkSuite {

  // ---- sequence packing ----

  private def toksDoc(id: Long, n: Int) = (id, Seq.fill(n)("w").mkString(" "))

  test("packSequences offsets are the doc_id-ordered running sum") {
    import spark.implicits._
    // token counts 3,5,0,4,7 -> starts 0,3,8(skipped: empty),8,12
    val docs = Seq(toksDoc(1, 3), toksDoc(2, 5), (3L, ""), toksDoc(4, 4),
      toksDoc(5, 7)).toDF("doc_id", "text")
    val out = TextAnalysis.packSequences(docs, ctxLen = 5, bucketSize = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "start_tok", "seq_first", "seq_last", "n_seqs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (1L, 3L, 0L, 0L, 0L, 1L),   // tokens [0,3)   in seq 0
      (2L, 5L, 3L, 0L, 1L, 2L),   // tokens [3,8)   span seqs 0-1
      (4L, 4L, 8L, 1L, 2L, 2L),   // tokens [8,12)  span seqs 1-2
      (5L, 7L, 12L, 2L, 3L, 2L))) // tokens [12,19) span seqs 2-3
  }

  test("packSequences is bucket-size invariant and partitioning invariant") {
    import spark.implicits._
    val docs = (1L to 100L).map(i => toksDoc(i, (i % 13).toInt))
      .toDF("doc_id", "text")
    def run(bucket: Long, parts: Int) =
      TextAnalysis.packSequences(docs.repartition(parts), ctxLen = 7,
          bucketSize = bucket)
        .orderBy("doc_id").collect().toSeq
    val base = run(1L << 20, 4) // one bucket: degenerate single window
    assert(run(3, 4) == base)   // 34 buckets
    assert(run(3, 1) == base)
    assert(run(1, 7) == base)   // one bucket per doc: pure prefix join
  }

  test("packSequences total tokens equal the last doc's end offset") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => toksDoc(i, (i % 7).toInt + 1))
      .toDF("doc_id", "text")
    val out = TextAnalysis.packSequences(docs, ctxLen = 11, bucketSize = 8)
    val total = out.agg(sum("n_tokens")).collect()(0).getLong(0)
    val lastEnd = out.orderBy(col("start_tok").desc).limit(1)
      .select(col("start_tok") + col("n_tokens")).collect()(0).getLong(0)
    assert(total == lastEnd)
  }

  test("packSequencesFromCounts equals packSequences on the counted projection") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => toksDoc(i, (i % 5).toInt)).toDF("doc_id", "text")
    val counts = docs.select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), t => length(t) > 0))
          .cast("long").as("n_tokens"))
      .localCheckpoint(true) // the at-scale shape: count once, pack narrow
    val a = TextAnalysis.packSequences(docs, 7, 4)
      .orderBy("doc_id").collect().toSeq
    val b = TextAnalysis.packSequencesFromCounts(counts, 7, 4)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("packEmit sequences concatenate back to the doc_id-ordered corpus") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "d e f g h"), (3L, ""), (4L, "i j"),
      (5L, "k l m n o p q")).toDF("doc_id", "text")
    val seqs = TextAnalysis.packEmit(docs, ctxLen = 4, bucketSize = 2)
      .orderBy("seq_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(seqs.toSeq == Seq(
      (0L, 4L, "a b c d"), (1L, 4L, "e f g h"), (2L, 4L, "i j k l"),
      (3L, 4L, "m n o p"), (4L, 1L, "q")))
    // reconstruction: all full windows, short tail, lossless stream
    assert(seqs.map(_._3).mkString(" ") == "a b c d e f g h i j k l m n o p q")
  }

  // ---- exact-count mixture ----

  test("mixtureTake hits exact per-stratum counts, capped by stratum size") {
    import spark.implicits._
    val docs = (1L to 90L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "source")
    val out = TextAnalysis.mixtureTake(docs, "source",
      Map("s0" -> 10L, "s1" -> 100L)) // s2 absent -> dropped
    val counts = out.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("s0" -> 10L, "s1" -> 30L))
  }

  test("mixtureTake is partitioning invariant and prefix-monotone") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, s"s${i % 4}")).toDF("doc_id", "source")
    def ids(df: org.apache.spark.sql.DataFrame, targets: Map[String, Long]) =
      TextAnalysis.mixtureTake(df, "source", targets)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val take10 = ids(docs, Map("s0" -> 10L, "s1" -> 10L))
    assert(ids(docs.repartition(13), Map("s0" -> 10L, "s1" -> 10L)) == take10)
    // growing a target only adds documents (hash order is a fixed ranking)
    val take20 = ids(docs, Map("s0" -> 20L, "s1" -> 10L))
    assert(take10.subsetOf(take20) && take20.size == take10.size + 10)
  }

  // ---- pack manifest ----

  test("packManifest partitions each sequence's token budget exactly") {
    import spark.implicits._
    val docs = Seq(toksDoc(1, 3), toksDoc(2, 5), toksDoc(3, 4), toksDoc(4, 9))
      .toDF("doc_id", "text") // 21 tokens, ctx 5 -> seqs 0..4
    val m = TextAnalysis.packManifest(docs, ctxLen = 5, bucketSize = 2)
    val bySeq = m.groupBy("seq_id").agg(sum("seq_tokens").as("filled"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every sequence is exactly full except the last (21 = 4*5 + 1)
    assert(bySeq == Map(0L -> 5L, 1L -> 5L, 2L -> 5L, 3L -> 5L, 4L -> 1L))
    // per-doc occupancy sums back to the doc's token count
    val byDoc = m.groupBy("doc_id").agg(sum("seq_tokens").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc == Map(1L -> 3L, 2L -> 5L, 3L -> 4L, 4L -> 9L))
  }

  // ---- split assignment ----

  test("splitAssign is complete, disjoint, and stable under corpus growth") {
    import spark.implicits._
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val small = (1L to 200L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val grown = (1L to 400L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    def assign(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.splitAssign(df, splits)
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = assign(small)
    assert(a.size == 200 && a.values.toSet.subsetOf(Set("train", "val", "test")))
    val b = assign(grown)
    // growth never reassigns an existing document
    assert(a.forall { case (id, s) => b(id) == s })
    // rough proportions (md5 is uniform; 400 docs)
    val frac = b.values.count(_ == "train").toDouble / b.size
    assert(frac > 0.7 && frac < 0.9, s"train fraction $frac")
  }

  test("splitAssign rejects fractions summing over 1") {
    import spark.implicits._
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextAnalysis.splitAssign(docs, Seq("a" -> 0.8, "b" -> 0.3))
    }
  }

  // ---- scalable global rank / ntile ----

  test("globalRowNumber and globalNtile match the single-window forms") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 157L).map(i => (i, (i * 37) % 19)).toDF("id", "k")
    val w = Window.orderBy(col("k"), col("id"))
    val wantRk = df.withColumn("rk", row_number().over(w).cast("long"))
      .orderBy("id").collect().toSeq
    val gotRk = graft.ops.ScalableRank
      .globalRowNumber(df, "k", "id", bucketWidth = 4)
      .orderBy("id").select("id", "k", "rk").collect().toSeq
    assert(gotRk == wantRk)
    for (tiles <- Seq(1, 7, 10, 157, 200)) {
      val want = df.withColumn("tile", ntile(tiles).over(w))
        .orderBy("id").collect().toSeq
      val got = graft.ops.ScalableRank
        .globalNtile(df.repartition(11), tiles, "k", "id", bucketWidth = 4)
        .orderBy("id").select("id", "k", "tile").collect().toSeq
      assert(got == want, s"tiles=$tiles")
    }
  }

  test("globalRowNumber ranks NULL order keys first without dropping rows") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(1L)), (4L, None))
      .toDF("id", "k")
    val got = graft.ops.ScalableRank
      .globalRowNumber(df, "k", "id", bucketWidth = 2)
      .orderBy("id").select("id", "rk").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    // Spark window default: ASC NULLS FIRST, tie-broken by id
    val want = df.withColumn("rk",
        row_number().over(Window.orderBy(col("k").asc_nulls_first, col("id")))
          .cast("long"))
      .orderBy("id").select("id", "rk").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == want && got.toMap == Map(1L -> 4L, 2L -> 1L, 3L -> 3L, 4L -> 2L))
  }

  test("globalRowNumber rejects a non-integral order column") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "k")
    intercept[IllegalArgumentException] {
      graft.ops.ScalableRank.globalRowNumber(df, "k", "id")
    }
  }

  test("mixtureTake never selects NULL-key rows; splitAssign labels them NULL") {
    import spark.implicits._
    val docs = ((1L to 30L).map(i => Some(i) -> "s0") ++
      Seq((None: Option[Long]) -> "s0")).toDF("doc_id", "source")
    val picked = TextAnalysis.mixtureTake(docs, "source", Map("s0" -> 31L))
    assert(picked.count() == 30 &&
      picked.filter(col("doc_id").isNull).count() == 0)
    val labeled = TextAnalysis.splitAssign(docs, Seq("train" -> 0.5, "test" -> 0.5))
    assert(labeled.filter(col("doc_id").isNull).select("split")
      .collect().map(_.isNullAt(0)).toSeq == Seq(true))
    assert(labeled.filter(col("doc_id").isNotNull)
      .filter(col("split").isNull).count() == 0)
  }

  // ---- optimizer rule ----

  test("NfcIdempotence collapses nested graft_nfc to a single pass") {
    import spark.implicits._
    import graft.functions.NfcNormalize
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.NfcIdempotence
    try {
      // spark.range source: a local Seq would be folded away whole by
      // ConvertToLocalRelation before the pass count can be observed
      val s0 = concat(lit("caf\u00e9 "), col("id").cast("string")).as("s")
      val df = spark.range(2).select(s0)
        .select(NfcNormalize.nfc(NfcNormalize.nfc(NfcNormalize.nfc(col("s")))).as("n"))
      val passes = df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect { case e: NfcNormalize => e }.size).sum
      }.sum
      assert(passes == 1, s"expected 1 NfcNormalize, got $passes")
      assert(df.collect().map(_.getString(0)).sorted.toSeq ==
        Seq("caf\u00e9 0", "caf\u00e9 1"))
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.NfcIdempotence)
    }
  }

  test("mixtureTake rejects negative targets") {
    import spark.implicits._
    val docs = Seq((1L, "a")).toDF("doc_id", "source")
    intercept[IllegalArgumentException] {
      TextAnalysis.mixtureTake(docs, "source", Map("a" -> -1L))
    }
  }
}
