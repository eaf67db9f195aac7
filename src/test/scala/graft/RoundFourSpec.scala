package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TemporalJoins, TextAnalysis}

/** Round-4 surface: as-of join, binned range join, connected-component
  * dedup clusters, PII scrubbing, deterministic hash sampling.
  */
class RoundFourSpec extends SparkSuite {

  lazy val events: DataFrame = graft.sources.Tables.events(spark, testdata)

  // ---- as-of join ----

  /** Reference as-of semantics, computed the slow way: inequality join +
    * keep the max right ts per left row. Quadratic — only for the test.
    */
  private def asOfNaive(left: DataFrame, right: DataFrame): DataFrame = {
    val l = left.select(col("event_id"), col("user_id"), col("ts"))
    val r = right.select(col("user_id").as("r_user"), col("ts").as("r_ts"),
      col("event_id").as("r_id"), col("value").as("r_value"))
    val best = l.join(r, col("user_id") === col("r_user") && col("r_ts") <= col("ts"))
      .groupBy("event_id").agg(max("r_ts").as("best_ts"))
    l.join(best, Seq("event_id"), "left")
      .join(r, col("user_id") === col("r_user") && col("best_ts") === col("r_ts"), "left")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("r_ts").as("asof_ts"), col("r_id").as("asof_event_id"),
        col("r_value").as("asof_value"))
  }

  test("asOfJoin backward matches the naive inequality-join reference") {
    val purchases = events.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val views = events.filter(col("event_type") === "view")
      .select("user_id", "ts", "event_id", "value")
    val fast = TemporalJoins.asOfJoin(purchases, views,
        keys = Seq("user_id"), tsCol = "ts",
        rightPayload = Seq("event_id", "value"))
      .select("event_id", "user_id", "ts", "asof_ts", "asof_event_id", "asof_value")
    val slow = asOfNaive(purchases, views)
    assert(fast.count() == purchases.count()) // left join: every left row kept
    assert(fast.exceptAll(slow).count() == 0 && slow.exceptAll(fast).count() == 0)
  }

  test("asOfJoin forward = backward on negated timestamps") {
    import spark.implicits._
    val l = Seq((1L, 10L), (1L, 20L), (2L, 15L)).toDF("k", "t")
      .select(col("k"), timestamp_micros(col("t")).as("ts"))
    val r = Seq((1L, 5L, "a"), (1L, 12L, "b"), (1L, 20L, "c"), (2L, 30L, "d"))
      .toDF("k", "t", "v")
      .select(col("k"), timestamp_micros(col("t")).as("ts"), col("v"))
    val fwd = TemporalJoins.asOfJoin(l, r, Seq("k"), "ts", Seq("v"),
        direction = "forward")
      .select(col("k"), col("ts"), col("asof_v"))
      .collect().map(x => (x.getLong(0), x.get(1).toString, x.getString(2))).toSet
    // k=1,t=10 -> earliest r.ts >= 10 is 12 ("b"); t=20 -> 20 itself ("c");
    // k=2,t=15 -> 30 ("d")
    assert(fwd.map(x => (x._1, x._3)) == Set((1L, "b"), (1L, "c"), (2L, "d")))
    // ties: a right row at exactly left's ts is visible in BOTH directions
    val bwd = TemporalJoins.asOfJoin(l, r, Seq("k"), "ts", Seq("v"))
      .select(col("k"), col("asof_v")).collect()
      .map(x => (x.getLong(0), x.getString(1))).toSet
    assert(bwd == Set((1L, "a"), (1L, "c")) || bwd.contains((1L, "c")))
  }

  test("asOfJoin tolerance nulls out stale matches") {
    import spark.implicits._
    val l = Seq((1L, 100L)).toDF("k", "t")
      .select(col("k"), timestamp_micros(col("t") * 1000000).as("ts"))
    val r = Seq((1L, 10L, "old")).toDF("k", "t", "v")
      .select(col("k"), timestamp_micros(col("t") * 1000000).as("ts"), col("v"))
    val loose = TemporalJoins.asOfJoin(l, r, Seq("k"), "ts", Seq("v"),
      tolerance = Some(expr("INTERVAL 2 MINUTES")))
    val tight = TemporalJoins.asOfJoin(l, r, Seq("k"), "ts", Seq("v"),
      tolerance = Some(expr("INTERVAL 10 SECONDS")))
    assert(loose.filter(col("asof_v") === "old").count() == 1)
    assert(tight.count() == 1 && tight.filter(col("asof_v").isNull).count() == 1)
  }

  test("asOfJoin picks the latest right ROW even when a payload field is null") {
    import spark.implicits._
    val l = Seq((1L, 30L)).toDF("k", "t")
      .select(col("k"), timestamp_micros(col("t")).as("ts"))
    val r = Seq((1L, 10L, Some("early")), (1L, 20L, None: Option[String]))
      .toDF("k", "t", "v")
      .select(col("k"), timestamp_micros(col("t")).as("ts"), col("v"))
    val out = TemporalJoins.asOfJoin(l, r, Seq("k"), "ts", Seq("v"))
      .select(col("asof_v"), unix_micros(col("asof_ts")).as("us")).collect()(0)
    // the ts=20 row wins even though its payload is null — a naive
    // last(value, ignoreNulls) would wrongly surface "early"
    assert(out.get(0) == null)
    assert(out.getLong(1) == 20L)
  }

  test("asOfJoin: NULL keys and NULL timestamps never match (SQL semantics)") {
    import spark.implicits._
    val l = Seq((Option(1L), Option(30L)), (None: Option[Long], Option(30L)),
        (Option(1L), None: Option[Long]))
      .toDF("k", "t")
      .select(col("k"), timestamp_micros(col("t")).as("ts"))
    val r = Seq((Option(1L), Option(10L), "ok"),
        (None: Option[Long], Option(5L), "nullkey"),
        (Option(1L), None: Option[Long], "nullts"))
      .toDF("k", "t", "v")
      .select(col("k"), timestamp_micros(col("t")).as("ts"), col("v"))
    val out = TemporalJoins.asOfJoin(l, r, Seq("k"), "ts", Seq("v"))
      .select(col("k"), col("ts"), col("asof_v")).collect()
    // left (1, 30) -> right (1, 10, "ok"); never "nullts"/"nullkey"
    assert(out.count(x => x.getString(2) == "ok") == 1)
    // left rows with NULL key or NULL ts match nothing
    assert(out.count(_.isNullAt(2)) == 2)
  }

  // ---- range join ----

  test("rangeJoin equals the naive inequality join") {
    val e = events.select("user_id", "event_id", "ts")
    val fast = TemporalJoins.rangeJoin(e, e, Seq("user_id"), "ts",
        maxGapUs = 6L * 3600 * 1000000)
      .select("user_id", "event_id_a", "event_id_b", "gap_us")
    val a = e.select(col("user_id"), col("event_id").as("event_id_a"),
      col("ts").as("ts_a"))
    val b = e.select(col("user_id").as("u2"), col("event_id").as("event_id_b"),
      col("ts").as("ts_b"))
    val slow = a.join(b, col("user_id") === col("u2"))
      .withColumn("gap_us", unix_micros(col("ts_b")) - unix_micros(col("ts_a")))
      .filter(col("gap_us") > 0 && col("gap_us") <= 6L * 3600 * 1000000)
      .select("user_id", "event_id_a", "event_id_b", "gap_us")
    assert(fast.count() > 0)
    assert(fast.exceptAll(slow).count() == 0 && slow.exceptAll(fast).count() == 0)
  }

  test("rangeJoin plans as a shuffle join, not BroadcastNestedLoop") {
    val e = events.select("user_id", "event_id", "ts")
    val plan = TemporalJoins.rangeJoin(e, e, Seq("user_id"), "ts", 1000000L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"))
  }

  test("stream-stream interval join matches the batch rangeJoin") {
    val e = events.select("user_id", "event_id", "ts")
    val batch = graft.ops.TemporalJoins.rangeJoin(e, e, Seq("user_id"), "ts",
        maxGapUs = 6L * 3600 * 1000000)
      .select("user_id", "event_id_a", "event_id_b", "gap_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val dir = tmpDir("graft-rj-stream-")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$testdata/events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(dir).schema
    def stream() = graft.sources.Tables.normalizeEventTs(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(dir))
      .select("user_id", "event_id", "ts")
    val q = graft.streaming.StreamingOps.streamRangeJoin(
        stream(), stream(), Seq("user_id"), "ts")
      .select("user_id", "event_id_a", "event_id_b", "gap_us")
      .writeStream.format("memory").queryName("rj_stream_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("rj_stream_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  // ---- dedup clusters ----

  test("clusters labels every component with its minimum id") {
    import spark.implicits._
    // two components {1,2,3,9} (chain) and {5,6}, plus a long path
    // 100..120 that needs multiple star rounds to collapse
    val pairs = (Seq((2L, 1L), (2L, 3L), (3L, 9L), (5L, 6L)) ++
      (100L until 120L).map(i => (i, i + 1))).toDF("doc_a", "doc_b")
    val got = Dedup.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L && got(9L) == 1L)
    assert(got(5L) == 5L && got(6L) == 5L)
    assert((100L to 120L).forall(got(_) == 100L))
    assert(got.size == 27)
  }

  test("clusters of an empty pair list is empty") {
    import spark.implicits._
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.clusters(pairs).count() == 0)
  }

  test("clusters agrees with the per-pair transitive closure on real near-dups") {
    val docs = graft.search.Indexer.documents(spark, testdata)
    val pairs = Dedup.ngramJaccard(docs, n = 3, minJ = 0.05)
      .select("doc_a", "doc_b").persist()
    val got = Dedup.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // every pair's endpoints share a cluster, and each cluster id is a
    // member of its own cluster
    val ps = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ps.forall { case (x, y) => got(x) == got(y) })
    assert(got.values.toSet.forall(cid => got(cid) == cid))
    pairs.unpersist()
  }

  // ---- real audio codec (javax.sound.sampled) ----

  test("audio codec decodes a real PCM WAV; undecodable bytes keep the stub") {
    import javax.sound.sampled._
    // 0.5 s of a 440 Hz sine at 8 kHz mono 16-bit, amplitude 0.5
    val rate = 8000f; val n = 4000; val amp = 0.5
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = (math.sin(2 * math.Pi * 440 * i / rate) * amp * 32767).toInt
      pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray

    val feats = graft.ops.Multimodal.MediaCodec.decodeAudio(wav).get
    assert(feats(0) == 8000f && feats(1) == 1f && feats(2) == 4000f)
    assert(math.abs(feats(3) - 0.5f) < 1e-3) // duration
    // RMS of a sine = amp/sqrt(2)
    assert(math.abs(feats(4) - amp / math.sqrt(2)) < 0.01)
    assert(feats(5) <= amp + 0.01 && feats(5) > amp * 0.95) // peak
    // non-audio bytes fall back to the deterministic stub
    val junk = "not a wav".getBytes
    assert(graft.ops.Multimodal.MediaCodec.decodeAudio(junk).isEmpty)
    assert(graft.ops.Multimodal.MediaCodec.audioFeaturesOrStub(junk, 16000)
      .sameElements(graft.ops.Multimodal.MediaCodec.decodeImageStub(junk, 16000, 1)))
  }

  // ---- sources: JSON-lines ingestion ----

  test("jsonl round trip: documents survive write/read with explicit schema") {
    val docs = graft.search.Indexer.documents(spark, testdata)
    val dir = tmpDir("graft-jsonl-")
    docs.write.mode("overwrite").json(dir)
    // explicit schema: schema inference is a second full read at scale
    val back = spark.read.schema(docs.schema).json(dir)
    assert(back.exceptAll(docs).count() == 0 && docs.exceptAll(back).count() == 0)
  }

  // ---- PII scrub + hash sample ----

  test("chunk: sliding windows cover the doc with the requested overlap") {
    import spark.implicits._
    val doc = (1 to 10).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, doc), (2L, "solo"), (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.chunk(df, maxTokens = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val doc1 = out.filter(_._1 == 1L).sortBy(_._2)
    // starts at 0,3,6: windows of 4 with 1-token overlap; a start at 9
    // would be pure overlap (only w10, already covered) and is dropped
    assert(doc1.map(_._3).toSeq == Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    assert(doc1.map(_._4).toSeq == Seq(4, 4, 4))
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, "solo", 1)))
    assert(!out.exists(_._1 == 3L)) // empty doc -> no chunks
    // every token of the source appears in some chunk
    val covered = doc1.flatMap(_._3.split(" ")).toSet
    assert(covered == doc.split(" ").toSet)
  }

  test("scrubPii masks emails, IPs and phone numbers") {
    import spark.implicits._
    val df = Seq(
      "mail bob.smith+x@corp.example.org end",
      "ip 10.255.3.77 end",
      "call +1 (555) 010-7788 end",
      "clean text stays").toDF("text")
    val out = TextAnalysis.scrubPii(df).select("clean_text")
      .collect().map(_.getString(0))
    assert(out(0) == "mail [EMAIL] end")
    assert(out(1) == "ip [IP] end")
    assert(out(2) == "call [PHONE] end")
    assert(out(3) == "clean text stays")
  }

  test("incrementalPostings equals a full rebuild (stemmed path)") {
    val docs = graft.search.Indexer.documents(spark, testdata)
    val oldDocs = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val newDocs = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val sw = Seq("the", "and", "of")
    val inc = graft.search.Indexer.incrementalPostings(
      graft.search.Indexer.termDocStats(oldDocs, sw),
      oldDocs.count(), newDocs, sw)
    val full = graft.search.Indexer.postings(docs, sw)
    assert(inc.exceptAll(full).count() == 0 && full.exceptAll(inc).count() == 0)
  }

  test("stratifiedHashSample applies per-stratum rates, default elsewhere") {
    val docs = graft.search.Indexer.documents(spark, testdata)
    val out = TextAnalysis.stratifiedHashSample(docs, "doc_id", "lang",
      rates = Map("en" -> 0.0), defaultRate = 1.0)
    assert(out.filter(col("lang") === "en").count() == 0)
    val nonEn = docs.filter(col("lang") =!= "en").count()
    assert(out.count() == nonEn)
    // within a stratum, membership is the same function as hashSample
    val half = TextAnalysis.stratifiedHashSample(docs, "doc_id", "lang",
        rates = Map("en" -> 0.5), defaultRate = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val flat = TextAnalysis.hashSample(docs, "doc_id", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(half == flat)
  }

  test("quantizedTopK equals brute force after exact re-rank") {
    val emb = spark.read.parquet(s"$testdata/embeddings.parquet")
    val qVec = emb.filter(col("vec_id") === 0).select("embedding")
      .first().getSeq[Float](0).map(_.toDouble)
    val rest = emb.filter(col("vec_id") =!= 0)
    val fast = graft.ops.Similarity.quantizedTopK(rest, qVec, 10, rerank = 50)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
    val brute = graft.ops.Similarity.bruteForceTopK(rest, qVec, 10)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
    assert(fast.exceptAll(brute).count() == 0 &&
      brute.exceptAll(fast).count() == 0)
  }

  test("quantize: dequantization error is bounded by scale/2 per component") {
    val emb = spark.read.parquet(s"$testdata/embeddings.parquet").limit(50)
    val bad = graft.ops.Similarity.quantize(emb)
      .select(explode(zip_with(col("embedding"),
        transform(col("q_vec"), q => q.cast("double") * col("q_scale")),
        (x, deq) => abs(x.cast("double") - deq) > col("q_scale") * 0.5 + 1e-12))
        .as("violation"))
      .filter(col("violation")).count()
    assert(bad == 0)
  }

  test("hashSample is a stable subset, monotone in rate") {
    val docs = graft.search.Indexer.documents(spark, testdata)
    val s10 = TextAnalysis.hashSample(docs, "doc_id", 0.10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s50 = TextAnalysis.hashSample(docs, "doc_id", 0.50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val n = docs.count().toDouble
    assert(s10.subsetOf(s50)) // growing the rate only ever adds rows
    assert(math.abs(s50.size / n - 0.5) < 0.15)
    assert(TextAnalysis.hashSample(docs, "doc_id", 0.0).count() == 0)
    assert(TextAnalysis.hashSample(docs, "doc_id", 1.0).count() == n)
    // a salt draws a different (but still deterministic) sample
    val salted = TextAnalysis.hashSample(docs, "doc_id", 0.50, salt = "s1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(salted != s50)
    assert(TextAnalysis.hexThreshold(0.25) ==
      "40000000000000000000000000000000")
  }
}
