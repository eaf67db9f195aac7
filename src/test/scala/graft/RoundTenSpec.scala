package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Maintenance, ScalableRank, TextAnalysis}

/** Round-10 surface: winnowing fingerprints, SCD-1 upsert,
  * deterministic global shuffle, Bloom-pruned incremental dedup,
  * bigram-LM scoring.
  */
class RoundTenSpec extends SparkSuite {

  // ---- winnowing ----

  /** Naive reference: full winnowing (robust tie rule — rightmost
    * minimum) over word k-grams with the same md5-hex hash order.
    */
  private def naiveWinnow(text: String, k: Int, w: Int): Set[(Int, String)] = {
    val toks = text.split(" ", -1).toVector
    if (toks.length < k) return Set.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val grams = (0 to toks.length - k)
      .map(i => (i + 1, h(toks.slice(i, i + k).mkString(" ")))).toVector
    val anchors = 1 to math.max(grams.length - w + 1, 1)
    anchors.map { j =>
      val win = grams.slice(j - 1, j - 1 + w)
      // min hash; rightmost position on ties
      win.minBy { case (pos, hash) => (hash, -pos) }
    }.toSet
  }

  private def winnowed(df: DataFrame): Map[Long, Set[(Int, String)]] =
    df.collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getString(2))))
      .groupBy(_._1).map { case (id, rs) => (id, rs.map(_._2).toSet) }

  test("winnow matches the naive reference on random word soup") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docs = (1L to 40L).map { id =>
      val n = 1 + rnd.nextInt(30)
      (id, Vector.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    for ((k, w) <- Seq((4, 4), (3, 5), (2, 2))) {
      val got = winnowed(TextAnalysis.winnow(
        docs.toDF("doc_id", "text"), k = k, w = w))
      val want = docs.map { case (id, t) => (id, naiveWinnow(t, k, w)) }
        .filter(_._2.nonEmpty).toMap
      assert(got == want, s"mismatch at k=$k w=$w")
    }
  }

  test("winnow guarantee: a shared run of >= w+k-1 tokens shares a fingerprint") {
    import spark.implicits._
    val shared = "one two three four five six seven" // 7 tokens = w+k-1 at 4,4
    val docs = Seq(
      (1L, s"aa bb cc $shared dd ee"),
      (2L, s"xx $shared yy zz qq rr ss")).toDF("doc_id", "text")
    val fps = winnowed(TextAnalysis.winnow(docs, k = 4, w = 4))
    val common = fps(1L).map(_._2) intersect fps(2L).map(_._2)
    assert(common.nonEmpty)
  }

  test("winnow edge cases: short docs, G < w, empty text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"),        // < k tokens: no grams, no rows
      (2L, "a b c d e"),    // G=2 < w: one window over all grams
      (3L, "")).toDF("doc_id", "text")
    val got = winnowed(TextAnalysis.winnow(docs, k = 4, w = 4))
    assert(!got.contains(1L) && !got.contains(3L))
    assert(got(2L) == naiveWinnow("a b c d e", 4, 4))
    assert(got(2L).size == 1)
  }

  test("winnowPairs matches a naive shared-fingerprint count and honors the cap") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("red", "blue", "green", "gold", "gray", "teal", "pink")
    def soup(n: Int) = Vector.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    // some docs share a long run (guaranteed shared fingerprints)
    val run = "k1 k2 k3 k4 k5 k6 k7 k8 k9"
    val texts = (1L to 12L).map(id => (id, soup(15))) ++
      Seq((20L, s"${soup(6)} $run ${soup(4)}"), (21L, s"$run ${soup(8)}"))
    val docs = texts.toDF("doc_id", "text")
    val naiveFps = texts.map { case (id, t) => (id, naiveWinnow(t, 4, 4).map(_._2)) }
    val fpDocs = naiveFps.flatMap { case (id, fs) => fs.map(f => (f, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def naivePairs(cap: Int, minShared: Int) = {
      val kept = fpDocs.filter(_._2.size <= cap)
      val counts = kept.values.toSeq
        .flatMap(ds => for (a <- ds; b <- ds if a < b) yield (a, b))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      counts.filter(_._2 >= minShared)
        .map { case ((a, b), n) => (a, b, n) }.toSet
    }
    for ((cap, minShared) <- Seq((64, 2), (3, 1))) {
      val got = Dedup.winnowPairs(docs, k = 4, w = 4,
          minShared = minShared, maxFpFreq = cap)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == naivePairs(cap, minShared), s"cap=$cap minShared=$minShared")
    }
    // the shared-run docs must pair (winnowing guarantee: run >= w+k-1)
    assert(naivePairs(64, 2).exists(p => p._1 == 20L && p._2 == 21L) ==
      Dedup.winnowPairs(docs, 4, 4, 2, 64).as[(Long, Long, Long)]
        .collect().exists(p => p._1 == 20L && p._2 == 21L))
  }

  // ---- upsert ----

  test("upsert applies update, delete, insert, and carries the rest") {
    import spark.implicits._
    val snap = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val changes = Seq(
      (1L, "a2", 11.0, false),  // update
      (2L, "b", 20.0, true),    // delete
      (4L, "d", 40.0, false),   // insert
      (9L, "x", 0.0, true))     // delete of absent key: no-op
      .toDF("k", "name", "bal", "_deleted")
    val got = Maintenance.upsert(snap, changes, Seq("k"))
      .as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "a2", 11.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("upsert treats a NULL delete flag as upsert, never as carry") {
    import spark.implicits._
    val snap = Seq((1L, "a")).toDF("k", "v")
    val changes = Seq((1L, "a2")).toDF("k", "v")
      .withColumn("_deleted", lit(null).cast("boolean"))
    val got = Maintenance.upsert(snap, changes, Seq("k"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a2")))
  }

  test("streamingUpsert maintains the SCD-1 snapshot across batches and replay") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val base = tmpDir("graft-stream-ups-")
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    val snap = s"$base/snap"
    val b0 = Seq(
      (1L, "v1", 1L, false), (2L, "v2", 1L, false),
      (3L, "v3", 1L, false), (4L, "v4", 1L, false))
      .toDF("k", "v", "seq", "_deleted")
    val b1 = Seq(
      (1L, "v1b", 2L, false),  // update
      (2L, "v2", 2L, true),    // delete
      (3L, "v3b", 2L, false),  // superseded within the batch...
      (3L, "v3b", 3L, true),   // ...by this delete (latest-per-key)
      (5L, "v5", 2L, false))   // insert
      .toDF("k", "v", "seq", "_deleted")
    val b2 = Seq(
      (1L, "stale", 1L, false), // older than the applied seq 2: no-op
      (4L, "v4", 0L, true),     // STALE delete: must not kill k4
      (5L, "v5b", 3L, false))   // genuinely newer: applies
      .toDF("k", "v", "seq", "_deleted")
    Seq(b0, b1, b2).zipWithIndex.foreach { case (df, i) =>
      val tmp = s"$base/half$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, Paths.get(in, s"batch$i.parquet"))
    }
    val snapSchema = org.apache.spark.sql.types.StructType(
      b0.schema.filterNot(_.name == "_deleted"))
    val q = graft.streaming.StreamingOps.streamingUpsert(
      spark, in, snap, Seq("k"), "seq",
      checkpointDir = Some(s"$base/ckpt"))
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    def current() = graft.streaming.StreamingOps
      .currentSnapshot(spark, snap, snapSchema)
      .select("k", "v", "seq").as[(Long, String, Long)].collect().toSet
    val want = Set((1L, "v1b", 2L), (4L, "v4", 1L), (5L, "v5b", 3L))
    assert(current() == want)
    // the snapshot equals the seq-guarded batch upsert chain
    val sq = Some("seq")
    val chained = graft.ops.Maintenance.upsert(
      graft.ops.Maintenance.upsert(
        graft.ops.Maintenance.upsert(
          spark.createDataFrame(spark.sparkContext
            .emptyRDD[org.apache.spark.sql.Row], snapSchema),
          b0, Seq("k"), seqCol = sq),
        // batch 1 reduced to latest-per-key by hand
        b1.filter(!(col("k") === 3 && col("seq") === 2)), Seq("k"),
        seqCol = sq),
      b2, Seq("k"), seqCol = sq)
      .select("k", "v", "seq").as[(Long, String, Long)].collect().toSet
    assert(chained == want)
    // replay WITHOUT the checkpoint: batch ids restart at 0, each
    // version is rewritten from its same predecessor — idempotent
    val q2 = graft.streaming.StreamingOps.streamingUpsert(
      spark, in, snap, Seq("k"), "seq")
    try q2.processAllAvailable() finally q2.stop()
    assert(current() == want)
  }

  // ---- deterministic shuffle ----

  test("deterministicShuffle is bit-identical to the window row_number form") {
    val docs = graft.search.Indexer.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id")
    val h = md5(concat(col("doc_id").cast("string"), lit(":42")))
    val want = docs.withColumn("shuffle_pos",
      row_number().over(Window.orderBy(h, col("doc_id"))).cast("long"))
    val got = ScalableRank.deterministicShuffle(docs, "doc_id", seed = 42)
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("deterministicShuffle: different seeds give different orders, same seed stable") {
    val docs = graft.search.Indexer.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id")
    def posMap(seed: Long): Map[Long, Long] =
      ScalableRank.deterministicShuffle(docs, "doc_id", seed)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val a = posMap(1)
    assert(posMap(1) == a)
    assert(posMap(2) != a)
    // a permutation: positions are exactly 1..n
    assert(a.values.toSeq.sorted == (1L to a.size).toSeq)
  }

  // ---- product quantization ----

  test("pqTopK equals brute force after exact re-rank; codes are m ints < k") {
    import graft.ops.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
    val qVec = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") === 0).select("embedding")
      .first().getSeq[Float](0).map(_.toDouble)
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e4))).toSet
    val got = ranked(Similarity.pqTopK(e, qVec, 10, rerank = 300))
    val want = ranked(Similarity.bruteForceTopK(e, qVec, 10))
    assert(got == want)
    val (codes, codebooks) = Similarity.pqTrainEncode(e, m = 16, k = 32)
    assert(codebooks.length == 16 && codebooks.forall(_.length == 32))
    assert(codebooks.flatten.forall(_.length == 4)) // 64 dims / 16 subspaces
    val c = codes.select(col("codes")).collect().map(_.getSeq[Int](0))
    assert(c.forall(cs => cs.length == 16 && cs.forall(x => x >= 0 && x < 32)))
    assert(codes.count() == e.count())
  }

  test("persisted PQ probe equals the fresh path; ADC scan prunes to the codes column") {
    import graft.ops.{AnnIndex, Similarity}
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
    val qVec = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") === 0).select("embedding")
      .first().getSeq[Float](0).map(_.toDouble)
    val path = tmpDir("graft-pq-") + "/pq"
    AnnIndex.pqWrite(e, path)
    // reload from disk: the codebooks round-trip through parquet
    val model = AnnIndex.pqLoad(spark, path)
    val probe = AnnIndex.pqTopK(spark, model, qVec, 10, rerank = 300)
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e4))).toSet
    assert(ranked(probe) == ranked(Similarity.bruteForceTopK(e, qVec, 10)))
    // the candidate (ADC) stage's scan of the index table must NOT read
    // the wide embedding column — column pruning is the scan-width win.
    // (executedPlan is the AQE wrapper; its string carries the final
    // plan's FileScans after the collect above finalized it)
    val plan = probe.queryExecution.executedPlan.toString
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(readSchemas.exists(s => s.contains("codes") && !s.contains("embedding")),
      s"no codes-only scan found; ReadSchemas: ${readSchemas.mkString(" | ")}")
  }

  test("pqBatchTopK equals per-query brute force at sf0.1 (the worst corpus)") {
    import graft.ops.Similarity
    val all = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val e = all.filter(col("vec_id") =!= 0)
    val (codes, cbs) = Similarity.pqTrainEncode(e, m = 16, k = 32)
    val queries = all.filter(col("vec_id") <= 2)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val got = Similarity.pqBatchTopK(codes, e, queries, cbs, 10, rerank = 300)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        math.round(r.getDouble(3) * 1e4))).toSet
    val want = queries.collect().flatMap { qr =>
      val qid = qr.getLong(0)
      val qv = qr.getSeq[Float](1).map(_.toDouble)
      Similarity.bruteForceTopK(e, qv, 10).collect().zipWithIndex.map {
        case (r, i) =>
          (qid, r.getLong(0), i + 1, math.round(r.getDouble(1) * 1e4))
      }
    }.toSet
    assert(got == want)
  }

  // ---- Bloom-pruned incremental dedup ----

  test("incrementalExactBloom output-matches incrementalExact and prunes the probe") {
    import spark.implicits._
    val corpusDocs = (1L to 200L).map(i => (i, s"corpus doc $i"))
    val corpus = corpusDocs.toDF("doc_id", "text")
      .select(md5(col("text")).as("digest"))
    // batch: 30 re-ingested dups, 170 novel, 5 within-batch dups, 1 null
    val batch = ((1L to 30L).map(i => (i + 1000, s"corpus doc $i")) ++
      (1L to 170L).map(i => (i + 2000, s"novel doc $i")) ++
      (1L to 5L).map(i => (i + 3000, s"novel doc $i")))
      .toDF("doc_id", "text")
      .unionByName(Seq((4000L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val bloom = Dedup.digestBloom(corpus, expectedItems = 200, fpp = 0.001)
    val got = Dedup.incrementalExactBloom(corpus, bloom, batch)
      .as[(Long, Option[String], String)].collect().toSet
    val want = Dedup.incrementalExact(corpus, batch)
      .as[(Long, Option[String], String)].collect().toSet
    assert(got == want)
    assert(got.count(_._3 == "dup_corpus") == 30)
    assert(got.count(_._3 == "invalid") == 1)
    // the filter genuinely prunes: at fpp 0.001 (essentially) only the
    // 30 true dups survive the Bloom probe out of 205 non-null rows
    val surviving = batch.filter(col("text").isNotNull)
      .select(md5(col("text")).as("digest"))
      .filter(Dedup.bloomMightContain(bloom, col("digest")))
      .count()
    assert(surviving < 40, s"bloom should prune the novel mass, got $surviving")
    // the probe is the native might_contain expression — no ScalaUDF
    val plan = Dedup.incrementalExactBloom(corpus, bloom, batch)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"bloom probe still plans a UDF:\n$plan")
  }

  // ---- bigram log-prob ----

  test("bigramLogProb matches a naive bigram MLE") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b c"),
      (2L, "a b"),
      (3L, "c a  b"),  // double space: empty token filtered before pairing
      (4L, "solo"))    // < 2 tokens: no row
      .toDF("doc_id", "text")
    val toks = Map(1L -> Seq("a", "b", "a", "b", "c"), 2L -> Seq("a", "b"),
      3L -> Seq("c", "a", "b"))
    val bis = toks.view.mapValues(ts => ts.zip(ts.tail).map { case (x, y) => s"$x $y" })
    val all = bis.values.flatten.toSeq
    val freq = all.groupBy(identity).view.mapValues(_.size).toMap
    val ctx = all.groupBy(_.split(" ")(0)).view.mapValues(_.size).toMap
    val want = bis.map { case (id, bs) =>
      (id, bs.map(b => math.log10(freq(b).toDouble / ctx(b.split(" ")(0))))
        .sum / bs.size)
    }.toMap
    val got = TextAnalysis.bigramLogProb(docs)
      .as[(Long, Double)].collect().toMap
    assert(got.keySet == want.keySet)
    for ((id, v) <- want) assert(math.abs(got(id) - v) < 1e-12, s"doc $id")
  }
}
