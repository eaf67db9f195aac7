package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.Multimodal
import graft.ops.Multimodal.AviContainer

/** Round-16 surface: the RIFF/AVI container codec (real chunk walk, no
  * pixel decode) and its Spark plumbing.
  */
class RoundSixteenSpec extends SparkSuite {

  private def frames(ns: Int*): Seq[Array[Byte]] =
    ns.zipWithIndex.map { case (n, i) =>
      Array.tabulate[Byte](n)(j => ((i * 31 + j) & 0xff).toByte)
    }

  test("AVI round trip: every frame indexed with exact offset and bytes") {
    val fs = frames(10, 25, 40, 7)
    val avi = AviContainer.write(fs, 320, 240)
    val idx = AviContainer.frameIndex(avi).get
    assert(idx.map(_._1) === Seq(0, 1, 2, 3))
    assert(idx.map(_._3) === fs.map(_.length))
    // the offsets must address the ORIGINAL frame bytes inside the file
    idx.zip(fs).foreach { case ((_, off, len), f) =>
      assert(avi.slice(off.toInt, off.toInt + len).toSeq === f.toSeq)
    }
  }

  test("odd-sized frames are WORD-padded but sizes stay exact") {
    // all odd lengths: a walker that forgets the pad byte desyncs after
    // the first frame and misreads every later fourcc
    val fs = frames(3, 5, 7, 9, 11)
    val idx = AviContainer.frameIndex(AviContainer.write(fs, 16, 16)).get
    assert(idx.map(_._3) === Seq(3, 5, 7, 9, 11))
  }

  test("zero-frame and single-frame containers index cleanly") {
    assert(AviContainer.frameIndex(AviContainer.write(Nil, 16, 16)).get.isEmpty)
    val one = AviContainer.frameIndex(AviContainer.write(frames(13), 16, 16)).get
    assert(one.map(_._3) === Seq(13))
  }

  test("non-AVI payloads return None, truncated AVI returns the safe prefix") {
    assert(AviContainer.frameIndex("not a movie".getBytes).isEmpty)
    assert(AviContainer.frameIndex(Array[Byte](1, 2, 3)).isEmpty)
    // RIFF but not AVI
    val wav = "RIFF".getBytes ++ Array[Byte](4, 0, 0, 0) ++ "WAVE".getBytes
    assert(AviContainer.frameIndex(wav).isEmpty)
    val full = AviContainer.write(frames(20, 20, 20), 16, 16)
    val idxFull = AviContainer.frameIndex(full).get
    assert(idxFull.length === 3)
    // cut inside the third frame: the walk keeps the two complete ones
    val cut = full.take(idxFull(2)._2.toInt + 5)
    val idxCut = AviContainer.frameIndex(cut).get
    assert(idxCut.length === 2)
    assert(idxCut === idxFull.take(2))
  }

  test("SubstringIndex equals brute-force LIKE on adversarial corpora") {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    // repeats, shared grams, case differences, needle at ends, 1-char
    // docs (no gram at all), gram-superset-but-no-substring docs
    val docs = Seq(
      (1L, "abcabcabc"), (2L, "ABCABC"), (3L, "xxabcx"), (4L, "abc"),
      (5L, "a"), (6L, "bcab"), (7L, "cabba"), (8L, "acbacb"),
      (9L, "zzzabczzz"), (10L, "ab")).toDF("doc_id", "text")
    val postings = graft.search.SubstringIndex.trigramPostings(docs)
    for (needle <- Seq("abc", "abca", "bca", "ABC", "cab", "acb")) {
      val got = graft.search.SubstringIndex.search(docs, postings, needle)
        .collect().map(_.getLong(0)).toSet
      val want = docs.filter(lower(col("text"))
          .contains(needle.toLowerCase)).collect().map(_.getLong(0)).toSet
      assert(got === want, s"needle $needle")
    }
  }

  test("SubstringIndex short needles fall back to an explicit scan") {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    val docs = Seq((1L, "xyz"), (2L, "zzz"), (3L, "aZb")).toDF("doc_id", "text")
    val postings = graft.search.SubstringIndex.trigramPostings(docs)
    assert(graft.search.SubstringIndex.requiredGrams("ab").isEmpty)
    val got = graft.search.SubstringIndex.search(docs, postings, "Z")
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 2L, 3L))
    // candidates() refuses un-indexable needles rather than scanning
    intercept[IllegalArgumentException] {
      graft.search.SubstringIndex.candidates(postings, "ab")
    }
  }

  test("SubstringIndex candidates are a superset of the exact answer") {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (1L to 200L).map(i =>
      (i, (0 until 30).map(_ => "abcd" (rnd.nextInt(4))).mkString))
      .toDF("doc_id", "text")
    val postings = graft.search.SubstringIndex.trigramPostings(docs)
    val needle = "abca"
    val cand = graft.search.SubstringIndex.candidates(postings, needle)
      .collect().map(_.getLong(0)).toSet
    val exact = docs.filter(col("text").contains(needle))
      .collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(cand))
    val got = graft.search.SubstringIndex.search(docs, postings, needle)
      .collect().map(_.getLong(0)).toSet
    assert(got === exact)
  }

  test("searchLike equals brute-force LIKE, falls back on gram-less patterns") {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "beta alpha"), (3L, "ALPHA GAMMA"),
      (4L, "gam ma alpha beta"), (5L, "betagamma"), (6L, "x")
    ).toDF("doc_id", "text")
    val postings = graft.search.SubstringIndex.trigramPostings(docs)
    // '_' patterns: the any-char wildcard must BREAK the literal
    // segment for gram derivation ("gam_ma" requires "gam" and "ma",
    // not the literal gram "m_m") or true matches drop — doc 4
    // ("gam ma alpha beta") matches "%gam_ma%" only if '_' segments
    val pats = Seq("%alpha%gamma%", "%beta%", "%gamma", "alpha%",
      "%a%b%", "%zz%", "%gam_ma%", "%alpha_beta%", "%bet_%", "_lpha%",
      "%al_ha_gamma%")
    for (pat <- pats) {
      val got = graft.search.SubstringIndex.searchLike(docs, postings, pat)
        .collect().map(_.getLong(0)).toSet
      val want = docs.filter(lower(col("text")).like(pat.toLowerCase))
        .collect().map(_.getLong(0)).toSet
      assert(got === want, s"pattern $pat")
    }
    // escape sequences would desync gram derivation from the verify —
    // rejected loudly, not silently wrong
    intercept[IllegalArgumentException] {
      graft.search.SubstringIndex.searchLike(docs, postings, "%100\\%%")
    }
  }

  test("substring probe plans a broadcast of the needle grams, not a shuffle") {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    val docs = (1L to 50L).map(i => (i, s"document number $i payload"))
      .toDF("doc_id", "text")
    val postings = graft.search.SubstringIndex.trigramPostings(docs)
    val plan = graft.search.SubstringIndex
      .candidates(postings, "document number")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected a broadcast join for the gram set, got:\n$plan")
  }

  test("scd2Apply versions changes, no-ops identical rows, keeps closed history") {
    val s = spark
    import s.implicits._
    def dt(x: String) = java.sql.Date.valueOf(x)
    val history = Seq(
      ("a", Option("v1"), dt("2024-01-01"), Option.empty[java.sql.Date]),
      ("a", Option("v0"), dt("2023-01-01"), Option(dt("2024-01-01"))),
      ("b", Option("w1"), dt("2024-01-01"), Option.empty[java.sql.Date]),
      ("c", Option.empty[String], dt("2024-01-01"), Option.empty[java.sql.Date])
    ).toDF("k", "v", "valid_from", "valid_to")
    val changes = Seq(
      ("a", Option("v2"), dt("2024-06-01")), // changed -> close + insert
      ("b", Option("w1"), dt("2024-06-01")), // identical -> no-op
      ("c", Option("x1"), dt("2024-06-01")), // NULL -> value transition
      ("d", Option("z1"), dt("2024-06-01")) // brand-new key
    ).toDF("k", "v", "ts")
    val out = graft.ops.Maintenance.scd2Apply(history, changes, Seq("k"))
    val rows = out.collect().map(r => (r.getString(0), Option(r.getString(1)),
      r.getDate(2).toString, Option(r.getDate(3)).map(_.toString))).toSet
    assert(rows === Set(
      ("a", Some("v0"), "2023-01-01", Some("2024-01-01")),
      ("a", Some("v1"), "2024-01-01", Some("2024-06-01")),
      ("a", Some("v2"), "2024-06-01", None),
      ("b", Some("w1"), "2024-01-01", None),
      ("c", None, "2024-01-01", Some("2024-06-01")),
      ("c", Some("x1"), "2024-06-01", None),
      ("d", Some("z1"), "2024-06-01", None)))
    // idempotent replay: applying the same batch again changes nothing
    val replay = graft.ops.Maintenance.scd2Apply(out, changes, Seq("k"))
      .collect().map(r => (r.getString(0), Option(r.getString(1)),
        r.getDate(2).toString, Option(r.getDate(3)).map(_.toString))).toSet
    assert(replay === rows)
    // interval integrity: exactly one current row per live key
    val currents = rows.toSeq.filter(_._4.isEmpty).groupBy(_._1)
    assert(currents.values.forall(_.size == 1))
  }

  test("streamingScd2 maintains the versioned history across batches and replay") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    val base = tmpDir("graft-stream-scd2-")
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    val hist = s"$base/hist"
    val b0 = Seq((1L, "v1", 10L), (2L, "v2", 10L)).toDF("k", "v", "ts")
    val b1 = Seq(
      (1L, "v1b", 20L), // change -> close + new version
      (2L, "v2", 20L), // identical -> no-op
      (3L, "v3a", 19L), // superseded within the batch (latest-per-key)...
      (3L, "v3", 20L)) // ...by this row
      .toDF("k", "v", "ts")
    Seq(b0, b1).zipWithIndex.foreach { case (df, i) =>
      val tmp = s"$base/half$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, Paths.get(in, s"batch$i.parquet"))
    }
    val histSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("valid_from",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("valid_to",
        org.apache.spark.sql.types.LongType)))
    val q = graft.streaming.StreamingOps.streamingScd2(
      spark, in, hist, Seq("k"), checkpointDir = Some(s"$base/ckpt"))
    try q.processAllAvailable() finally q.stop()
    def current() = graft.streaming.StreamingOps
      .currentSnapshot(spark, hist, histSchema)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    val want = Set(
      (1L, "v1", 10L, Some(20L)), (1L, "v1b", 20L, None),
      (2L, "v2", 10L, None),
      (3L, "v3", 20L, None))
    assert(current() === want)
    // replay WITHOUT the checkpoint: versions are rewritten from the
    // same predecessors — history unchanged
    val q2 = graft.streaming.StreamingOps.streamingScd2(
      spark, in, hist, Seq("k"))
    try q2.processAllAvailable() finally q2.stop()
    assert(current() === want)
  }

  test("crossJaccard equals the union-corpus pair list restricted to cross pairs") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "pack my box with five dozen liquor jugs right now"),
      (3L, "the quick brown fox leaps over the lazy dog today"),
      (4L, "completely unrelated text about spark query planning")
    ).toDF("doc_id", "text")
    val heldout = Seq(
      (101L, "the quick brown fox jumps over the lazy dog today"),
      (102L, "spark query planning text completely different here")
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.crossJaccard(corpus, heldout, n = 3, minJ = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = graft.ops.Dedup
      .ngramJaccard(corpus.unionByName(heldout), n = 3, minJ = 0.1)
      .filter(col("doc_a") <= 4 && col("doc_b") >= 101)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === want)
    assert(got.exists { case (a, b, j) => a == 1L && b == 101L && j == 1.0 })
    // the held-out shingle table must broadcast, never shuffle the corpus
    val plan = graft.ops.Dedup.crossJaccard(corpus, heldout, n = 3, minJ = 0.1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("at-rest substring index probe pushes the gram IN-filter to the scan") {
    val s = spark
    import s.implicits._
    val docs = (1L to 100L).map(i => (i, s"payload text number $i here"))
      .toDF("doc_id", "text")
    val dir = tmpDir("graft-trgm-")
    graft.search.SubstringIndex.writeIndex(
      graft.search.SubstringIndex.trigramPostings(docs), s"$dir/idx",
      numFiles = 8)
    val probe = graft.search.SubstringIndex.probeIndex(spark, s"$dir/idx",
      "payload text")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(gram"), plan)
    // probe candidates verify to the exact answer
    val got = docs.join(probe, "doc_id")
      .filter(lower(col("text")).contains("payload text"))
      .count()
    assert(got === 100L)
  }

  test("pruneSnapshotVersions keeps the newest complete versions only") {
    val s = spark
    import s.implicits._
    val base = tmpDir("graft-prune-")
    val df = Seq((1L, "x")).toDF("k", "v")
    for (i <- 0L to 4L) df.write.mode("overwrite").parquet(s"$base/version=$i")
    // fake a crashed half-write: version=5 without _SUCCESS
    df.write.mode("overwrite").parquet(s"$base/version=5")
    new java.io.File(s"$base/version=5/_SUCCESS").delete()
    // and a stale old half-write: version=-1 pre-dating everything
    df.write.mode("overwrite").parquet(s"$base/version=-1")
    new java.io.File(s"$base/version=-1/_SUCCESS").delete()
    val deleted = graft.streaming.StreamingOps
      .pruneSnapshotVersions(spark, base, keepLast = 2)
    assert(deleted === Seq(-1L, 0L, 1L, 2L))
    val left = new java.io.File(base).listFiles().map(_.getName).toSet
    // newest two complete versions kept; the NEWER half-write (maybe a
    // write in flight) untouched
    assert(left === Set("version=3", "version=4", "version=5"))
    // current snapshot still reads the newest complete version
    val cur = graft.streaming.StreamingOps.currentSnapshot(spark, base,
      df.schema).collect()
    assert(cur.length === 1)
  }

  test("crossJaccard hot-shingle guard keeps exact scores for rare-shingle pairs") {
    val s = spark
    import s.implicits._
    // every held-out doc shares the boilerplate prefix (its shingles are
    // over-cap at maxHeldoutDf=2); each also has a distinctive tail
    val boiler = "the quick brown fox jumps over"
    val corpus = Seq(
      (1L, s"$boiler alpha beta gamma delta"),
      (2L, s"$boiler epsilon zeta eta theta"),
      (3L, s"$boiler only boilerplate here now")
    ).toDF("doc_id", "text")
    val heldout = Seq(
      (101L, s"$boiler alpha beta gamma delta"),
      (102L, s"$boiler epsilon zeta eta theta"),
      (103L, s"$boiler iota kappa lambda mu")
    ).toDF("doc_id", "text")
    val exact = graft.ops.Dedup
      .crossJaccard(corpus, heldout, n = 3, minJ = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val guarded = graft.ops.Dedup
      .crossJaccard(corpus, heldout, n = 3, minJ = 0.3, maxHeldoutDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the true near-dup pairs (1,101) and (2,102) share RARE shingles,
    // so the guard finds them and scores them with the FULL overlap
    // (boilerplate included) — identical to the unguarded exact run
    assert(guarded.map(t => (t._1, t._2)) === Set((1L, 101L), (2L, 102L)))
    assert(guarded === exact.filter(t => Set((1L, 101L), (2L, 102L))((t._1, t._2))))
    // the unguarded run ALSO surfaces boilerplate-only pairs (doc 3 x
    // everything) — exactly the pairs the guard documents away
    assert(exact.map(t => (t._1, t._2)).contains((3L, 103L)))
  }

  test("AVI round trip holds under randomized frame counts and sizes") {
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 25) {
      val fs = (0 until rnd.nextInt(20)).map { i =>
        Array.tabulate[Byte](rnd.nextInt(200))(j => ((i * 7 + j) & 0xff).toByte)
      }
      val avi = AviContainer.write(fs, 1 + rnd.nextInt(64), 1 + rnd.nextInt(64))
      val idx = AviContainer.frameIndex(avi).get
      assert(idx.length === fs.length)
      idx.zip(fs).foreach { case ((no, off, len), f) =>
        assert(len === f.length)
        assert(avi.slice(off.toInt, off.toInt + len).toSeq === f.toSeq, s"frame $no")
      }
    }
  }

  test("scd2Apply over a random change sequence keeps one current row per key") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(99)
    def dt(day: Int) = java.sql.Date.valueOf(f"2024-01-$day%02d")
    var history = Seq.empty[(String, String, java.sql.Date, Option[java.sql.Date])]
      .toDF("k", "v", "valid_from", "valid_to")
    val liveKeys = scala.collection.mutable.Map.empty[String, String]
    for (day <- 2 to 9) {
      val batch = (1 to 5).map { _ =>
        val k = s"k${rnd.nextInt(6)}"
        (k, s"v${rnd.nextInt(4)}", dt(day))
      }.groupBy(_._1).map(_._2.last).toSeq // unique per key, latest wins
      batch.foreach { case (k, v, _) => liveKeys(k) = v }
      history = graft.ops.Maintenance.scd2Apply(
        history, batch.toDF("k", "v", "ts"), Seq("k"))
    }
    val rows = history.collect().map(r => (r.getString(0), r.getString(1),
      r.getDate(2), Option(r.getDate(3))))
    // exactly one current row per live key, with the latest value
    val current = rows.filter(_._4.isEmpty)
    assert(current.map(_._1).toSet === liveKeys.keySet)
    assert(current.groupBy(_._1).values.forall(_.length == 1))
    current.foreach { case (k, v, _, _) => assert(liveKeys(k) === v) }
    // closed intervals are well-formed and non-overlapping per key
    rows.groupBy(_._1).values.foreach { versions =>
      val sorted = versions.sortBy(_._3.getTime)
      sorted.sliding(2).foreach {
        case Array((_, _, _, Some(to)), (_, _, from, _)) =>
          assert(!from.before(to)) // next version starts at/after the close
        case _ =>
      }
    }
  }

  test("histogram state is split-invariant; quantiles bound the exact value") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(21)
    val values = (1 to 2000).map(_ => rnd.nextDouble() * 5000)
    val df = values.toDF("x")
    val width = 100.0
    val full = graft.ops.Maintenance.histogramState(df, "x", width)
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(seed)
      val mask = values.map(_ => r.nextBoolean())
      val a = values.zip(mask).filter(_._2).map(_._1).toDF("x")
      val b = values.zip(mask).filterNot(_._2).map(_._1).toDF("x")
      val merged = graft.ops.Maintenance.mergeHistograms(
        graft.ops.Maintenance.histogramState(a, "x", width),
        graft.ops.Maintenance.histogramState(b, "x", width))
      assert(merged.buckets.except(full.buckets).isEmpty &&
        full.buckets.except(merged.buckets).isEmpty,
        s"split seed $seed")
    }
    // the q-quantile read is the true quantile's bucket lower bound:
    // value_lo <= exact < value_lo + width
    val got = graft.ops.Maintenance
      .histogramQuantiles(full, Seq(0.25, 0.5, 0.75))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val sorted = values.sorted
    for ((q, lo) <- got) {
      val exact = sorted(math.ceil(q * sorted.size).toInt - 1)
      assert(lo <= exact && exact < lo + width, s"q=$q lo=$lo exact=$exact")
    }
  }

  test("KMV distinct state: merge equals rebuild at any split; exact below k, bounded above") {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    import graft.ops.Maintenance
    val rnd = new scala.util.Random(7)
    // group g0 stays below k (exact regime); g1/g2 saturate the sketch
    val rows = (1 to 5000).map { i =>
      val g = i % 3
      (s"g$g", rnd.nextInt(if (g == 0) 40 else if (g == 1) 800 else 2500))
    }
    val df = rows.toDF("k", "v")
    val full = Maintenance.kmvState(df, Seq("k"), "v", k = 64)
    for (seed <- 1 to 3) {
      val r2 = new scala.util.Random(seed)
      val flags = rows.map(_ => r2.nextBoolean())
      val a = rows.zip(flags).collect { case (r, true) => r }.toDF("k", "v")
      val b = rows.zip(flags).collect { case (r, false) => r }.toDF("k", "v")
      val merged = Maintenance.mergeKmv(
        Maintenance.kmvState(a, Seq("k"), "v", 64),
        Maintenance.kmvState(b, Seq("k"), "v", 64), Seq("k"))
      assert(merged.mins.except(full.mins).isEmpty &&
        full.mins.except(merged.mins).isEmpty, s"split seed $seed")
    }
    // mismatched k must be rejected, same contract as mergeHistograms
    intercept[IllegalArgumentException] {
      Maintenance.mergeKmv(full,
        Maintenance.kmvState(df, Seq("k"), "v", 128), Seq("k"))
    }
    val est = Maintenance.kmvDistinct(full, Seq("k")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = rows.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    assert(est("g0") === truth("g0").toLong) // below k: exact, not approximate
    for (g <- Seq("g1", "g2")) { // saturated: ~4 standard errors
      val rel = math.abs(est(g).toDouble / truth(g) - 1)
      assert(rel < 4.0 / math.sqrt(62.0),
        s"$g est=${est(g)} true=${truth(g)} rel=$rel")
    }
  }

  test("MJPEG pixel decode: sampled frames decode to their exact dims") {
    // real JPEGs at sampled positions, junk elsewhere — the decoder
    // must slice exactly the sampled chunks and pixel-decode them
    val dims = Seq((17, 23), (31, 19), (24, 24), (40, 16), (16, 40))
    val fs = dims.zipWithIndex.flatMap { case ((w, h), i) =>
      Multimodal.MediaCodec.syntheticJpegFrame(w, h, i.toLong) ::
        List.fill(2)(Array[Byte](1, 2, 3)) // junk frames, never sampled
    }
    val avi = AviContainer.write(fs, 64, 64)
    val got = AviContainer.decodeSampledFrames(avi, 3).get
    assert(got.map(_._1) === Seq(0, 3, 6, 9, 12))
    assert(got.map { case (_, img) => (img.getWidth, img.getHeight) } === dims)
    // non-JPEG sampled chunks skip cleanly instead of throwing
    val junkAvi = AviContainer.write(frames(8, 8, 8), 16, 16)
    assert(AviContainer.decodeSampledFrames(junkAvi, 1).get.isEmpty)
    // non-AVI bytes: None, same contract as frameIndex
    assert(AviContainer.decodeSampledFrames("nope".getBytes, 1).isEmpty)
  }

  test("videoFrameDecode emits decoded dims per sampled frame, skips non-AVI") {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    val avi1 = AviContainer.write(Seq(
      Multimodal.MediaCodec.syntheticJpegFrame(20, 10, 1L),
      Array[Byte](9, 9), // unsampled junk
      Multimodal.MediaCodec.syntheticJpegFrame(12, 34, 2L)), 64, 64)
    val media = Seq(
      Multimodal.MediaRecord(1L, "video", avi1, 64, 64, 0, 3),
      Multimodal.MediaRecord(2L, "video", "garbage".getBytes, 8, 8, 0, 5)).toDS()
    val got = Multimodal.videoFrameDecode(media, 2).collect().sortBy(_.frame_no)
    assert(got.toSeq === Seq(
      Multimodal.DecodedFrame(1L, 0, 20, 10),
      Multimodal.DecodedFrame(1L, 2, 12, 34)))
  }

  test("sampleFrames uses real container frame sizes for AVI payloads") {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    val avi = AviContainer.write(frames(10, 25, 40, 7, 13, 9), 16, 16)
    val media = Seq(
      Multimodal.MediaRecord(1L, "video", avi, 16, 16, 0, 6)).toDS()
    val got = Multimodal.sampleFrames(media, 2).collect().sortBy(_.frame_no)
    // frames 0, 2, 4 with their TRUE chunk sizes, not payload/n_frames
    assert(got.map(f => (f.frame_no, f.byte_len)).toSeq === Seq((0, 10), (2, 40), (4, 13)))
  }

  test("videoFrameIndex filters non-AVI rows and preserves per-media counts") {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    val media = Seq(
      Multimodal.MediaRecord(1L, "video", AviContainer.write(frames(4, 6), 8, 8),
        8, 8, 0, 2),
      Multimodal.MediaRecord(2L, "video", "garbage".getBytes, 8, 8, 0, 5),
      Multimodal.MediaRecord(3L, "video", AviContainer.write(frames(9), 8, 8),
        8, 8, 0, 1)).toDS()
    val got = Multimodal.videoFrameIndex(media).collect()
      .groupBy(_.media_id).view.mapValues(_.map(_.byte_len).sorted.toSeq).toMap
    assert(got === Map(1L -> Seq(4, 6), 3L -> Seq(9)))
  }
}
