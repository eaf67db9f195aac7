package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity, TemporalJoins}

/** Round-22 surface: edge fixes from review — Bloom sizing past the
  * runtime-filter conf caps, the shared 4-dp grid on every ANN final
  * cut, NaN-safe IVF probe ranking, orderable-payload detection in the
  * as-of tie key, and balanced-paren plan canonicalization.
  */
class RoundTwentyTwoSpec extends SparkSuite {

  test("digestBloom keeps its requested size past the runtime-filter caps") {
    val s = spark
    import s.implicits._
    val digests = (1 to 500).map(i => s"doc-$i").toDF("digest")
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val (oldItems, oldBits) = (s.conf.get(itemsKey), s.conf.get(bitsKey))
    try {
      // shrink the session caps far below the request: the native
      // aggregate would SILENTLY build a 64-bit filter (Math.min
      // against the conf) whose fpp saturates — the fallback must
      // honor the requested sizing instead
      s.conf.set(itemsKey, "100")
      s.conf.set(bitsKey, "64")
      val bin = Dedup.digestBloom(digests, expectedItems = 10000, fpp = 0.01)
      val bf = org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(bin))
      assert(bf.bitSize() > 64,
        s"filter was capped to ${bf.bitSize()} bits — conf cap leaked in")
      // no false negatives: every inserted digest is bloom-positive
      // through the same codegen'd probe the batch path plans
      val neg = digests
        .filter(!Dedup.bloomMightContain(bin, col("digest"))).count()
      assert(neg === 0L, s"$neg false negatives")
      // and the filter actually prunes: disjoint probes mostly miss
      val misses = (1 to 500).map(i => s"other-$i").toDF("digest")
        .filter(!Dedup.bloomMightContain(bin, col("digest"))).count()
      assert(misses > 450L, s"only $misses of 500 disjoint probes pruned")
    } finally {
      s.conf.set(itemsKey, oldItems)
      s.conf.set(bitsKey, oldBits)
    }
  }

  test("ANN final cut decides 4-dp ties on the oracle grid (smaller vec_id)") {
    val s = spark
    import s.implicits._
    // ids 2 and 3 straddle the k-th slot within 5e-5: raw cosines
    // 0.249996 (id 2) < 0.250004 (id 3), both 0.2500 on the 4-dp grid.
    // The SQL oracles rank `round(cos, 4) DESC, vec_id ASC`, keeping
    // id 2 — a raw-double cut would keep id 3 and hash-mismatch.
    def unit(c: Double): Array[Float] =
      Array(c.toFloat, math.sqrt(1.0 - c * c).toFloat, 0.0f)
    val emb = Seq(
      (1L, unit(0.9)),
      (2L, unit(0.249996)),
      (3L, unit(0.250004))).toDF("vec_id", "embedding")
    val q = Seq(1.0, 0.0, 0.0)
    val brute = Similarity.bruteForceTopK(emb, q, 2)
      .collect().map(_.getLong(0)).toSeq
    assert(brute === Seq(1L, 2L), s"brute cut off-grid: $brute")
    // same grid through the IVF path (k=1: single cluster, all probed)
    val ivf = Similarity.ivfTopK(emb, q, 2, k = 1, nProbe = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(ivf === Seq(1L, 2L), s"ivf cut off-grid: $ivf")
  }

  test("probeOrder ranks degenerate (NaN-cosine) pairs last, no crash") {
    val cents = Array(
      (10L, Array(0.0, 0.0)), // zero centroid: cosine NaN vs any query
      (11L, Array(1.0, 0.0)),
      (12L, Array(0.0, 1.0)))
    val order = Similarity.probeOrder(cents, Seq(1.0, 0.0))
    assert(order.head === 11L && order.last === 10L, order.toString)
    // zero-norm QUERY: every cosine NaN — deterministic id order, no
    // NumberFormatException from BigDecimal(NaN)
    val allNaN = Similarity.probeOrder(cents, Seq(0.0, 0.0))
    assert(allNaN === Seq(10L, 11L, 12L), allNaN.toString)
  }

  test("as-of joins accept a non-orderable (map) payload column") {
    val s = spark
    import s.implicits._
    val l = Seq((1L, 100L), (1L, 200L)).toDF("k", "sec")
      .select(col("k"), col("sec"), timestamp_seconds(col("sec")).as("ts"))
    val r = Seq((1L, 50L, "x"), (1L, 150L, "y")).toDF("k", "sec", "v")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"),
        map(lit("tag"), col("v")).as("attrs"))
    // a MAP payload cannot be a sort key: the join must still run
    // (tie pick on duplicate (k, ts) right rows is partition-order
    // for such payloads — the documented fallback), not fail analysis
    val want = Map(
      // left 100: back=50s("x"), fwd=150s("y") — nearest ties to back
      "backward" -> Map(100L -> "x", 200L -> "y"),
      "forward" -> Map(100L -> "y", 200L -> null),
      "nearest" -> Map(100L -> "x", 200L -> "y"))
    for (dir <- Seq("backward", "forward", "nearest")) {
      val got = TemporalJoins.asOfJoin(l, r, Seq("k"), "ts", Seq("attrs"),
          direction = dir)
        .select(col("sec"), col("asof_attrs")("tag").as("tag"))
        .collect().map(x => (x.getLong(0), x.getString(1))).toMap
      assert(got === want(dir), s"$dir: $got")
    }
  }

  test("ORC at-rest round trip pushes filters and prunes columns") {
    val s = spark
    // drive the REGISTERED entry, not a copy — the plan assertions
    // must fail if the entry itself ever drifts (added column, a
    // cache() blocking pushdown, ...)
    val back = SparkEntry.queries("orc_roundtrip")(s, "/root/testdata/sf0.001")
    assert(back.count() > 0)
    // the ORC scan must carry the pushed residual (isnotnull at
    // minimum) and read ONLY the two referenced columns of the
    // 3-column at-rest table — lang never leaves disk
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id)]"), plan)
    assert(plan.contains("struct<doc_id:bigint,text:string>"), plan)
  }

  test("binaryFile ingest classifies real containers by magic bytes") {
    import graft.ops.Multimodal
    val s = spark
    val dir = java.nio.file.Paths.get(tmpDir("graft-media-"))
    // real PNG (JDK encoder)
    val img = new java.awt.image.BufferedImage(4, 3,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(1, 1, 0xff8800)
    val pngOut = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", pngOut)
    java.nio.file.Files.write(dir.resolve("a.png"), pngOut.toByteArray)
    // real 8 kHz 16-bit mono WAV (JDK encoder) — extension lies (.dat)
    val pcm = Array.tabulate[Byte](1600)(i => (i % 64).toByte)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, pcm.length / 2)
    val wavOut = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wavOut)
    java.nio.file.Files.write(dir.resolve("b.dat"), wavOut.toByteArray)
    // real MJPEG-AVI container (the codec's own writer)
    java.nio.file.Files.write(dir.resolve("c.avi"),
      Multimodal.AviContainer.write(
        Seq(Array.tabulate[Byte](9)(_.toByte)), 16, 16))
    // junk bytes
    java.nio.file.Files.write(dir.resolve("d.bin"),
      Array[Byte](1, 2, 3, 4, 5, 6, 7, 8))
    val media = Multimodal.ingestBinaryFiles(s, dir.toString + "/*")
    val kinds = media.collect().map(m =>
      (m.payload.length, m.kind)).toMap // payload len distinguishes files
    assert(media.count() === 4)
    assert(kinds.values.toSet === Set("image", "audio", "video", "binary"))
    // the ingested table drives the REAL codecs end-to-end: the WAV's
    // feature vector carries its true sample rate in slot 0
    implicit val sp: SparkSession = s
    val feats = Multimodal.extractFeatures(media, 2, 2).collect()
    val audioFeat = feats.find(_.kind == "audio").get.feature
    assert(audioFeat(0) === 8000f, audioFeat.toSeq.toString)
  }

  test("plan canonicalization survives parens inside hashpartitioning args") {
    val a = "Exchange hashpartitioning(cast(k# as bigint), " +
      "knownfloatingpointnormalized(v#), 32), ENSURE_REQUIREMENTS"
    val b = "Exchange hashpartitioning(knownfloatingpointnormalized(v#), " +
      "cast(k# as bigint), 32), ENSURE_REQUIREMENTS"
    assert(Bench.canonicalizeLists(a) === Bench.canonicalizeLists(b))
    // content is preserved, only order is canonical
    assert(Bench.canonicalizeLists(a).contains("cast(k# as bigint)"))
    // bracket lists with comma-bearing calls stay intact item-wise
    val c = "HashAggregate(keys=[b#, a#], functions=[sum(if((gid = N)) x# else null)])"
    val d = "HashAggregate(keys=[a#, b#], functions=[sum(if((gid = N)) x# else null)])"
    assert(Bench.canonicalizeLists(c) === Bench.canonicalizeLists(d))
    assert(Bench.canonicalizeLists(c)
      .contains("sum(if((gid = N)) x# else null)"))
    // top-level split respects nesting depth
    assert(Bench.splitTopLevel("cast(k# as bigint), f(a#, b#), 32") ===
      Seq("cast(k# as bigint)", "f(a#, b#)", "32"))
    // NESTED bracket lists (Expand's group-of-lists): the outer pass
    // must treat each already-canonicalized inner list as one item,
    // not shred it at its commas
    val e1 = "Expand [[a#, null, N], [null, b#, N]], [a#, b#, gid#]"
    val e2 = "Expand [[null, b#, N], [a#, null, N]], [b#, a#, gid#]"
    assert(Bench.canonicalizeLists(e1) === Bench.canonicalizeLists(e2))
    // inner lists survive intact (items sorted; the N placeholder maps
    // to G on Expand lines — see the gid-neutralization cases below)
    assert(Bench.canonicalizeLists(e1).contains("[G, a#, null]"),
      Bench.canonicalizeLists(e1))
    // Expand's POSITIONAL gid binding (which distinct column lands in
    // group 1 vs 2 is exprId-order = run identity — observed flipping
    // q_quality_audit's fingerprint between identical-HEAD runs). The
    // gid literal's POSITION inside each group is exprId-order as
    // well (raw plans emit it mid-list: [null, null, 1, ..., a#L]),
    // so the erasure must be item-structural, not a leading anchor —
    // the two bindings below canonicalize identically
    val g1 = "Expand [[null, x#, 0, null, a#L, b#L], " +
      "[null, null, 1, null, a#L], [null, null, 2, null, b#L]], " +
      "[x#, gid#, a#L, b#L]"
    val g2 = "Expand [[null, x#, 0, null, a#L, b#L], " +
      "[null, null, 1, null, b#L], [null, null, 2, null, a#L]], " +
      "[x#, gid#, a#L, b#L]"
    assert(Bench.canonicalizeLists(g1) === Bench.canonicalizeLists(g2))
    assert(!Bench.canonicalizeLists(g1).matches(".*[\\[, ]\\d+[,\\]].*"),
      Bench.canonicalizeLists(g1))
    // a list-FINAL gid goes through the earlier `, N]` rewrite instead
    // of the digit map — both positions must land on the same "G"
    // (N vs G would re-split the fingerprint by gid position)
    val h1 = "Expand [[a#L, null, 1], [b#L, null, 2]], [gid#, a#L, b#L]"
    val h2 = "Expand [[a#L, 1, null], [b#L, 2, null]], [gid#, a#L, b#L]"
    assert(Bench.canonicalizeLists(h1) === Bench.canonicalizeLists(h2))
  }

  test("q_quality_audit's Expand plan normalizes gid-neutral") {
    val s = spark
    val df = SparkEntry.queries("q_quality_audit")(s, "/root/testdata/sf0.001")
    val np = Bench.normalizedPlan(df)
    val expandLines = np.linesIterator.filter(_.contains("Expand")).toSeq
    assert(expandLines.nonEmpty, np.take(400))
    // no bare integer item may survive in any bracket list of an
    // Expand line — a left-over gid literal is run identity and
    // flipped this query's fingerprint between identical-HEAD runs
    expandLines.foreach { l =>
      assert(!l.replaceAll("\\(.*?\\)", "").matches(".*[\\[, ]\\d+[,\\]].*"), l)
      // the erased gid shows up as a standalone G item (list-delimited,
      // not merely any capital G on the line)
      assert(l.matches(".*[\\[, ]G[,\\]].*"), l)
    }
    // and the fingerprint is invariant to session expression count —
    // the burn shifts every exprId, which is what reorders the raw
    // gid binding between runs
    val fresh = s.newSession()
    val fp1 = Bench.fingerprint(
      SparkEntry.queries("q_quality_audit")(fresh, "/root/testdata/sf0.001"))
    val burned = s.newSession()
    (1 to 40).foreach { i =>
      import burned.implicits._
      Seq((i.toLong, i.toString)).toDF("a", "b")
        .select((col("a") + i).as("c"), upper(col("b")).as("d"))
        .queryExecution.executedPlan
    }
    val fp2 = Bench.fingerprint(
      SparkEntry.queries("q_quality_audit")(burned, "/root/testdata/sf0.001"))
    assert(fp1 === fp2, "q_quality_audit fingerprint shifted with exprId count")
  }
}
