package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.HeavyHitters

/** Round-20 surface: mergeable Misra-Gries top-k states (the third
  * member of the mergeable-state family after the KMV distinct sketch
  * and the exact-histogram quantile state).
  */
class RoundTwentySpec extends SparkSuite {

  /** Skewed synthetic key stream: key `k` (0-based) appears with
    * multiplicity ~ n/(k+1) (Zipf-ish), plus a long uniform tail.
    */
  private def zipfKeys(n: Int, hot: Int, seed: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    val rows = (0 until n).map { i =>
      val r = rnd.nextDouble()
      val k = if (r < 0.7) (rnd.nextInt(hot) min (rnd.nextInt(hot))) // skew to low ids
              else hot + rnd.nextInt(n / 4 + 1) // tail
      (i.toLong, s"k$k")
    }
    rows.toDF("row_id", "word").repartition(7)
  }

  private def plainTopK(df: DataFrame, k: Int): Seq[(String, Long)] =
    df.groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(k).collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  private def readTopK(state: DataFrame, raw: DataFrame, k: Int,
                       capacity: Int): Seq[(String, Long)] =
    HeavyHitters.topKFromState(state, raw, "word", k, capacity)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  test("merged MG state reads the exact top-k at any split") {
    val df = zipfKeys(20000, 40, seed = 11)
    val want = plainTopK(df, 15)
    for (seed <- Seq(1, 2, 3)) {
      val split = pmod(xxhash64(col("row_id"), lit(seed)), lit(2))
      val a = HeavyHitters.mgState(df.filter(split === 0), "word", 256)
      val b = HeavyHitters.mgState(df.filter(split === 1), "word", 256)
      val merged = HeavyHitters.mergeMg(a, b, 256)
      assert(readTopK(merged, df, 15, 256) === want, s"split seed $seed")
    }
  }

  test("MG state respects the capacity bound and carries the exact total") {
    val df = zipfKeys(30000, 60, seed = 7)
    val st = HeavyHitters.mgState(df, "word", capacity = 128)
    val counters = st.filter(col("key").isNotNull).collect()
    assert(counters.length <= 128)
    val total = st.filter(col("key").isNull)
      .agg(sum("cnt")).first().getLong(0)
    assert(total === df.count())
  }

  test("counter deficit bound: true - est in [0, N/(capacity+1)] after a merge") {
    val df = zipfKeys(20000, 30, seed = 23)
    val cap = 200
    val split = pmod(xxhash64(col("row_id")), lit(2))
    val merged = HeavyHitters.mergeMg(
      HeavyHitters.mgState(df.filter(split === 0), "word", cap),
      HeavyHitters.mgState(df.filter(split === 1), "word", cap), cap)
    val n = df.count()
    val truth = df.groupBy("word").agg(count(lit(1)).as("true_n"))
    val joined = merged.filter(col("key").isNotNull)
      .join(truth, col("key") === col("word"))
      .select(col("key"), col("cnt"), col("true_n")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val deficit = r.getLong(2) - r.getLong(1)
      assert(deficit >= 0L, s"over-estimate for ${r.getString(0)}")
      assert(deficit <= n / (cap + 1) + 1,
        s"deficit bound broken for ${r.getString(0)}: $deficit > ${n / (cap + 1)}")
    }
    // completeness: every key with true count > N/(cap+1) is a candidate
    val bound = n.toDouble / (cap + 1)
    val mustHave = truth.filter(col("true_n") > bound)
      .select(col("word")).collect().map(_.getString(0)).toSet
    val have = merged.filter(col("key").isNotNull)
      .select("key").collect().map(_.getString(0)).toSet
    assert(mustHave.subsetOf(have))
  }

  test("streaming MG state reads the exact top-k; replay rewrites identical versions") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    val base = tmpDir("graft-stream-mg-")
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    val all = zipfKeys(8000, 25, seed = 31).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    all.grouped(4000).zipWithIndex.foreach { case (rows, i) =>
      val tmp = s"$base/half$i"
      rows.toDF("row_id", "word").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, Paths.get(in, s"batch$i.parquet"))
    }
    val stateSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("cnt",
        org.apache.spark.sql.types.LongType)))
    val q = graft.streaming.StreamingOps.streamingTopKState(
      spark, in, s"$base/state", "word", capacity = 256,
      checkpointDir = Some(s"$base/ckpt"))
    try q.processAllAvailable() finally q.stop()
    def state() = graft.streaming.StreamingOps
      .currentSnapshot(spark, s"$base/state", stateSchema)
    def stateSet() = state().collect()
      .map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    val allDf = all.toDF("row_id", "word")
    assert(readTopK(state(), allDf, 12, 256) === plainTopK(allDf, 12))
    // replay without the checkpoint: every version is batch-owned and
    // rewrites deterministically — the state is bit-identical
    val before = stateSet()
    val q2 = graft.streaming.StreamingOps.streamingTopKState(
      spark, in, s"$base/state", "word", capacity = 256)
    try q2.processAllAvailable() finally q2.stop()
    assert(stateSet() === before)
    // total row equals every row ever streamed
    assert(state().filter(col("key").isNull)
      .agg(sum("cnt")).first().getLong(0) === all.length.toLong)
  }

  private def syntheticEmbeddings(n: Int, d: Int, seed: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    // low-rank + noise: a clear dominant direction along u
    val u = Array.tabulate(d)(i => math.sin(i + 1.0))
    val un = math.sqrt(u.map(x => x * x).sum)
    val rows = (0 until n).map { i =>
      val w = rnd.nextGaussian() * 3.0
      val vec = Array.tabulate(d)(j =>
        (w * u(j) / un + rnd.nextGaussian() * 0.3).toFloat)
      (i.toLong, vec.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("power iteration: partitioning-invariant, unit output, finds the dominant direction") {
    val df = syntheticEmbeddings(400, 16, seed = 3)
    def run(parts: Int) =
      graft.ops.Similarity.powerIteration(df.repartition(parts), iterations = 5)
        .orderBy("dim").collect().map(_.getDouble(1))
    val a = run(1)
    val b = run(13)
    assert(a.toSeq === b.toSeq, "bit-identical across partitionings")
    val norm = math.sqrt(a.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-9)
    // agreement with an exact double-precision driver-side power
    // iteration on the same data (floor truncation is ~1e-4 relative)
    val x = df.orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    var v = Array.tabulate(16)(i => if (i == 0) 1.0 else 0.0)
    for (_ <- 1 to 5) {
      val s = new Array[Double](16)
      x.foreach { row =>
        val r = row.indices.map(i => row(i) * v(i)).sum
        row.indices.foreach(i => s(i) += row(i) * r)
      }
      val nn = math.sqrt(s.map(t => t * t).sum)
      v = s.map(_ / nn)
    }
    val cosAgainstExact = math.abs(a.zip(v).map { case (p, q) => p * q }.sum)
    assert(cosAgainstExact > 0.999, s"cos vs exact iteration = $cosAgainstExact")
  }

  test("power iteration overflow guard fails loudly instead of wrapping") {
    val df = syntheticEmbeddings(4000, 8, seed = 9)
    val e = intercept[IllegalArgumentException] {
      graft.ops.Similarity.powerIteration(df, iterations = 1, backScale = 1e15)
    }
    assert(e.getMessage.contains("backScale"))
  }

  test("retrieval eval: hand-checked metrics, bucket-count invariant") {
    val s = spark
    import s.implicits._
    // 1-d embeddings: ranking by cosine = ranking by sign match, with
    // vec_id tie-breaks; query 0 (label 0, +1). Corpus: vec 1..6
    // alternate labels; positives 1,3,5 (cos=1), negatives 2,4,6 (cos=-1)
    val rows = (0L to 6L).map(i =>
      (i, Seq(if (i % 2 == 0 && i > 0) -1.0f else 1.0f), (i % 2).toInt match {
        case _ if i == 0 => 0
        case x => if (x == 1) 0 else 1 // odd ids share label 0 with the query
      }))
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = graft.ops.Similarity.retrievalEval(
        df, df.filter(col("vec_id") === 0), k = 4)
      .collect().head
    // ranking: cos=1 group first by vec_id (1,3,5) then cos=-1 (2,4,6);
    // top-4 = [1,3,5,2] -> hits=3, n_rel=3, first_rel=1
    assert(out.getAs[Long]("hits") === 3L)
    assert(out.getAs[Long]("n_rel") === 3L)
    assert(out.getAs[Double]("precision_at_k") === 0.75)
    assert(out.getAs[Double]("recall_at_k") === 1.0)
    assert(out.getAs[Double]("mrr") === 1.0)
    // the 3 relevant docs hold ranks 1..3, so DCG = IDCG(3): ndcg = 1
    val d = graft.ops.Similarity.ndcgDiscountsMicro(4)
    val p = graft.ops.Similarity.ndcgIdealPrefixMicro(4)
    assert(p(2) === d(0) + d(1) + d(2))
    assert(out.getAs[Double]("ndcg_at_k") === 1.0)

    // two-phase bucketing is a pure plan choice: any bucket count
    // returns identical rows
    val e = syntheticEmbeddings(300, 8, seed = 17)
      .withColumn("label", pmod(col("vec_id"), lit(5)).cast("int"))
    def runB(b: Int) = graft.ops.Similarity.retrievalEval(
        e, e.filter(col("vec_id") < 6), k = 10, buckets = b)
      .orderBy("q_id").collect().map(_.toSeq).toSeq
    assert(runB(1) === runB(32))
  }

  test("logreg training: partitioning-invariant, learns a separable signal, null-safe") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(41)
    // digit-heavy docs are labeled 1: f3 (digit ratio) separates
    val rows = (0 until 300).map { i =>
      val digits = if (i % 2 == 0) "12345 678 90 " * 4 else ""
      val words = Seq.fill(5 + rnd.nextInt(10))("word").mkString(" ")
      val text = digits + words
      (i.toLong, text, if (i % 2 == 0) "en" else "de", "src0",
        text.length.toLong)
    } :+ ((300L, null.asInstanceOf[String], null.asInstanceOf[String], "src1", 0L))
    val docs = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val label = when(col("lang") === "en", 1.0).otherwise(0.0)
    def weights(parts: Int) = graft.ops.TextAnalysis.trainLogReg(
        docs.repartition(parts), label, iterations = 4)
      .orderBy("feature").collect().map(_.getDouble(1))
    val w = weights(1)
    assert(w.toSeq === weights(11).toSeq, "bit-identical across partitionings")
    assert(w(3) > 0, s"digit-ratio weight should be positive: ${w.toSeq}")
    // the trained model separates better than chance on its own data
    val scored = docs.select(label.as("y"),
      (lit(w(0)) + lit(w(1)) * (col("n_chars") / 1000.0) +
        lit(w(2)) * (size(split(coalesce(col("text"), lit("")), " ", -1)) / 100.0) +
        lit(w(3)) * when(col("n_chars") === 0, 0.0)
          .otherwise(length(regexp_replace(coalesce(col("text"), lit("")),
            "[^0-9]", "")).cast("double") / col("n_chars"))).as("z"))
    val acc = scored.select(avg(when((col("z") >= 0) === (col("y") === 1.0), 1.0)
      .otherwise(0.0))).first().getDouble(0)
    assert(acc > 0.9, s"train accuracy $acc")
  }

  test("containment catches doc-in-doc pairs that Jaccard misses") {
    val s = spark
    import s.implicits._
    val quote = "the quick brown fox jumps over the lazy dog tonight"
    val article = (1 to 40).map(i => s"segment$i filler$i word$i").mkString(" ") +
      " " + quote + " " + (41 to 80).map(i => s"segment$i filler$i word$i").mkString(" ")
    val docs = Seq((1L, quote), (2L, article), (3L, "unrelated text entirely about ships"))
      .toDF("doc_id", "text")
    val cont = graft.ops.Dedup.containmentPairs(docs, n = 3, minC = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(cont.length === 1)
    val (a, b, ca, cb) = cont.head
    assert((a, b) === (1L, 2L))
    assert(ca === 1.0, "every quote shingle appears in the article")
    assert(cb < 0.3, "the article is not contained in the quote")
    // the same pair scores low Jaccard: the symmetric measure misses it
    val j = graft.ops.Dedup.ngramJaccard(docs, n = 3, minJ = 0.0)
      .filter(col("doc_a") === 1 && col("doc_b") === 2)
      .collect().head.getDouble(2)
    assert(j < 0.3, s"jaccard should be small: $j")
    // hot-shingle guard: identical output when every pair still shares
    // a sub-cap shingle
    val guarded = graft.ops.Dedup.containmentPairs(docs, n = 3, minC = 0.9,
      maxShingleFreq = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(guarded.toSet === cont.toSet)
  }

  test("native PorterStem expression: equals the Scala stemmer, null-safe, UDF-free plan, SQL-registered") {
    val s = spark
    import s.implicits._
    val words = Seq("running", "caresses", "ponies", "relational", "rate",
      "agreed", "feed", "sky", "123", "x1y2z3", "", "a", "traditional",
      "probate", "controllable", "roll") ++
      (1 to 200).map(i => scala.util.Random.alphanumeric.take(i % 12 + 1)
        .mkString.toLowerCase)
    val df = (words.map(Option(_)) :+ None).toDF("w")
    val got = df.select(graft.functions.PorterStem.stemCol(col("w")).as("t"))
      .collect().map(r => Option(r.getString(0)))
    val want = (words.map(w => Option(graft.functions.PorterStemmer.stem(w)))
      :+ None)
    assert(got.toSeq === want)
    // the postings build plans no ScalaUDF: stemming is native codegen
    val docs = Seq((1L, "running ponies agreed")).toDF("doc_id", "text")
    val plan = graft.search.Indexer.postings(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"postings plan still has a UDF:\n$plan")
    // SQL surface
    graft.GraftExtensions.install(s)
    assert(s.sql("SELECT graft_stem('running') AS t").first().getString(0) === "run")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT graft_stem('a', 'b')").collect()
    }
    assert(err.getMessage.contains("exactly 1 argument"))
  }

  test("nearest as-of: picks the closer side, per-side tolerance, backward ties") {
    val s = spark
    import s.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val left = Seq((1L, 1, ts(100)), (2L, 1, ts(200)), (3L, 2, ts(50)))
      .toDF("id", "k", "ts")
    val right = Seq(
      (1, ts(90), "b90"), // 10s before left 100
      (1, ts(104), "f104"), // 4s after left 100 -> nearer, forward wins
      (1, ts(195), "b195"), (1, ts(205), "f205"), // equidistant at 200 -> backward
      (2, ts(10), "b10") // only backward for left 50
    ).toDF("k", "ts", "tag")
    def run(tol: Option[org.apache.spark.sql.Column]) =
      graft.ops.TemporalJoins.asOfJoin(left, right, Seq("k"), "ts",
          Seq("tag"), direction = "nearest", tolerance = tol)
        .orderBy("id").collect()
        .map(r => Option(r.getAs[String]("asof_tag"))).toSeq
    assert(run(None) === Seq(Some("f104"), Some("b195"), Some("b10")))
    // per-side tolerance: 30s nulls the id=3 backward-only match (40s
    // away) but must NOT shadow in-tolerance matches elsewhere
    assert(run(Some(expr("INTERVAL 30 SECONDS"))) ===
      Seq(Some("f104"), Some("b195"), None))
    // tolerance that excludes backward but keeps forward: the pick must
    // happen AFTER per-side bounding (5s: b90 is 10s away, f104 is 4s)
    val tight = graft.ops.TemporalJoins.asOfJoin(
        left.filter(col("id") === 1), right.filter(col("tag") === "b90"),
        Seq("k"), "ts", Seq("tag"), direction = "nearest",
        tolerance = Some(expr("INTERVAL 5 SECONDS")))
      .collect().map(r => Option(r.getAs[String]("asof_tag"))).toSeq
    assert(tight === Seq(None))
  }

  test("cluster quality audit: partitions the corpus, bounds hold, tight clusters score high") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    // two well-separated directions -> 2 tight clusters
    val rows = (0 until 200).map { i =>
      val base = if (i % 2 == 0) Array(1.0, 0.0, 0.0, 0.0)
                 else Array(0.0, 1.0, 0.0, 0.0)
      (i.toLong, base.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = graft.ops.Similarity.clusterQuality(df, k = 2, rounds = 2)
      .collect()
    assert(q.map(_.getAs[Long]("n_members")).sum === 200L)
    q.foreach { r =>
      assert(r.getAs[Double]("mean_cos") >= r.getAs[Double]("min_cos"))
      assert(r.getAs[Double]("mean_cos") > 0.95,
        s"tight synthetic cluster should score high: $r")
    }
  }

  test("mergeable-state family: three-way chained merges match any grouping") {
    val s = spark
    import s.implicits._
    val df = zipfKeys(9000, 30, seed = 19)
    val cap = 256
    val thirds = (0 to 2).map(i => df.filter(pmod(col("row_id"), lit(3)) === i))
    def st(d: org.apache.spark.sql.DataFrame) =
      HeavyHitters.mgState(d, "word", cap)
    // MG: ((a+b)+c) and (a+(b+c)) both read the exact top-k
    val leftAssoc = HeavyHitters.mergeMg(
      HeavyHitters.mergeMg(st(thirds(0)), st(thirds(1)), cap), st(thirds(2)), cap)
    val rightAssoc = HeavyHitters.mergeMg(
      st(thirds(0)), HeavyHitters.mergeMg(st(thirds(1)), st(thirds(2)), cap), cap)
    val want = plainTopK(df, 12)
    assert(readTopK(leftAssoc, df, 12, cap) === want)
    assert(readTopK(rightAssoc, df, 12, cap) === want)
    // KMV: both groupings equal the single-build state exactly
    val vals = df.select(lit("g").as("k"),
      pmod(xxhash64(col("row_id")), lit(997)).as("v"))
    val parts = (0 to 2).map(i =>
      vals.filter(pmod(col("v"), lit(3)) === i))
    def kst(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Maintenance.kmvState(d, Seq("k"), "v", k = 64)
    def kset(st: graft.ops.Maintenance.KmvState) =
      st.mins.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val kLeft = graft.ops.Maintenance.mergeKmv(
      graft.ops.Maintenance.mergeKmv(kst(parts(0)), kst(parts(1)), Seq("k")),
      kst(parts(2)), Seq("k"))
    val kRight = graft.ops.Maintenance.mergeKmv(kst(parts(0)),
      graft.ops.Maintenance.mergeKmv(kst(parts(1)), kst(parts(2)), Seq("k")),
      Seq("k"))
    val kFull = kset(kst(vals))
    assert(kset(kLeft) === kFull)
    assert(kset(kRight) === kFull)
  }

  test("cross-containment decontamination catches quoted held-out docs that Jaccard misses") {
    val s = spark
    import s.implicits._
    val bench = "what is the capital of france answer paris of course"
    val article = (1 to 50).map(i => s"tok$i word$i filler$i").mkString(" ") +
      " " + bench + " " + (51 to 100).map(i => s"tok$i word$i filler$i").mkString(" ")
    val corpus = Seq((1L, article), (2L, "nothing related here at all today"))
      .toDF("doc_id", "text")
    val held = Seq((100L, bench)).toDF("doc_id", "text")
    val hits = graft.ops.Dedup.crossContainment(corpus, held, n = 3, minC = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.toSeq === Seq((1L, 100L, 1.0)))
    // the same pair is invisible to the symmetric fuzzy check at any
    // usable threshold
    val j = graft.ops.Dedup.crossJaccard(corpus, held, n = 3, minJ = 0.0)
      .filter(col("doc_a") === 1).collect().head.getDouble(2)
    assert(j < 0.1, s"jaccard should be tiny: $j")
    // hot-shingle guard parity: capping still finds the pair exactly
    val guarded = graft.ops.Dedup.crossContainment(corpus, held, n = 3,
      minC = 0.9, maxHeldoutDf = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(guarded.toSeq === hits.toSeq)
  }

  test("undersized capacity falls back to the full aggregation, still exact") {
    val df = zipfKeys(5000, 25, seed = 5)
    // capacity 4 cannot cover rank 10 on this distribution: the read
    // must detect the void guarantee and still return the exact answer
    val st = HeavyHitters.mgState(df, "word", capacity = 4)
    assert(readTopK(st, df, 10, 4) === plainTopK(df, 10))
  }
}
