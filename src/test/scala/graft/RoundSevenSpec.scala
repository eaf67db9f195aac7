package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{Maintenance, TextAnalysis}

/** Round-7 surface: distributed BPE training and Z-order layout. */
class RoundSevenSpec extends SparkSuite {

  // ---- BPE ----

  /** Naive in-memory learn_bpe (Sennrich et al. 2016): the executable
    * spec bpeTrain must match. Greedy leftmost non-overlapping merges,
    * argmax ties broken lexicographically.
    */
  private def naiveBpe(corpus: Seq[String], merges: Int): Seq[(String, String)] = {
    var vocab: Map[Vector[String], Long] = corpus
      .flatMap(_.split(" ", -1)).filter(_.nonEmpty).map(_.toLowerCase)
      .groupBy(identity).map { case (w, ws) => (w.map(_.toString).toVector, ws.size.toLong) }
    val learned = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var continueLoop = true
    for (_ <- 1 to merges if continueLoop) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.isEmpty) continueLoop = false
      else {
        val best = counts.toSeq.minBy { case ((l, r), n) => (-n, l, r) }._1
        learned += best
        vocab = vocab.groupMapReduce { case (syms, _) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == best._1 && syms(i + 1) == best._2) {
              out += (best._1 + best._2); i += 2
            } else { out += syms(i); i += 1 }
          }
          out.result()
        }(_._2)(_ + _)
      }
    }
    learned.toList
  }

  test("bpeTrain matches the naive reference on a hand corpus") {
    import spark.implicits._
    val corpus = Seq("low low low low low", "lower lower", "newest newest",
      "newest newest newest newest", "widest widest widest")
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(docs, merges = 8)
    assert(got == naiveBpe(corpus, 8))
    // classic result: 'es'/'est' family and 'lo'/'low' family emerge
    assert(got.take(2).toSet.subsetOf(Set(("e", "s"), ("es", "t"), ("l", "o"))))
  }

  test("bpeTrain matches the naive reference on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val corpus = Seq.fill(30)(
        Seq.fill(rnd.nextInt(8) + 1)(
          Seq.fill(rnd.nextInt(5) + 1)("abcd" (rnd.nextInt(4))).mkString
        ).mkString(" "))
      val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      assert(TextAnalysis.bpeTrain(docs, merges = 5) == naiveBpe(corpus, 5),
        s"trial $trial")
    }
  }

  test("bpeTrain stops early when no pairs remain") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text") // 1-char words only
    assert(TextAnalysis.bpeTrain(docs, merges = 5) == Nil)
  }

  test("bpePairCounts weights pairs by word frequency") {
    import spark.implicits._
    val docs = Seq((1L, "ab ab ba"), (2L, "ab abc")).toDF("doc_id", "text")
    val got = TextAnalysis.bpePairCounts(
      TextAnalysis.wordFrequencies(docs))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // words: ab x3, ba x1, abc x1 -> pairs ab:3+1, ba:1, bc:1
    assert(got == Map("ab" -> 4L, "ba" -> 1L, "bc" -> 1L))
  }

  /** Naive encode with a learned merge list: per word, apply merges in
    * order (greedy leftmost), then concatenate per doc in token order.
    */
  private def naiveEncode(corpus: Seq[String],
                          merges: Seq[(String, String)]): Map[Int, Vector[String]] = {
    def segment(w: String): Vector[String] =
      merges.foldLeft(w.map(_.toString).toVector) { case (syms, (l, r)) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += syms(i); i += 1 }
        }
        out.result()
      }
    corpus.zipWithIndex.map { case (t, i) =>
      i -> t.split(" ", -1).filter(_.nonEmpty).map(_.toLowerCase)
        .toVector.flatMap(segment)
    }.toMap
  }

  test("bpeEncode matches the naive reference and preserves token order") {
    import spark.implicits._
    // includes a token-less doc: it must still appear, with zero tokens
    val corpus = Seq("low lower lowest", "newest newest low", "wide widest", "  ")
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, merges = 6)
    val got = TextAnalysis.bpeEncode(docs, merges)
      .collect().map(r => r.getLong(0).toInt -> r.getSeq[String](1).toVector)
      .toMap
    assert(got == naiveEncode(corpus, merges))
    // round trip: concatenating a doc's tokens reproduces its words
    val joined = got(0).mkString
    assert(joined == "lowlowerlowest")
  }

  test("unigramLogProb: uniform corpus scores log10(freq/total) exactly") {
    import spark.implicits._
    // 4 'a' + 4 'b' tokens -> p=0.5 for both words in every doc
    val docs = Seq((1L, "a b a b"), (2L, "b a b a")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(docs)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got.keySet == Set(1L, 2L))
    got.values.foreach(v => assert(math.abs(v - math.log10(0.5)) < 1e-12))
    // rarer words score lower: a doc of hapaxes vs a doc of the mode
    val skew = Seq((1L, "x x x x x x"), (2L, "q r s")).toDF("doc_id", "text")
    val s2 = TextAnalysis.unigramLogProb(skew)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(s2(2L) < s2(1L))
  }

  // ---- more-like-this (sparse TF-IDF cosine) ----

  test("moreLikeThis ranks the near-duplicate first and skips disjoint docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"), // shares 3 of 4 terms with doc 1
      (3L, "alpha zeta eta theta"),     // shares 1 term
      (4L, "omega psi chi")             // shares nothing
    ).toDF("doc_id", "text")
    val p = graft.search.Indexer.postings(docs, stem = false)
    val got = graft.search.Scoring.moreLikeThis(p, 1L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // doc 4 shares no term: absent; 2 beats 3; self excluded
    assert(got.map(_._1).toSeq == Seq(2L, 3L))
    assert(got(0)._2 > got(1)._2)
    assert(got.forall { case (_, c) => c > 0 && c <= 1.0 + 1e-9 })
  }

  test("moreLikeThis plans joins, never a cartesian product over postings") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"w$i w${i % 7} shared tok${i % 3}"))
      .toDF("doc_id", "text")
    val p = graft.search.Indexer.postings(docs, stem = false)
    val plan = graft.search.Scoring.moreLikeThis(p, 1L, 5)
      .queryExecution.executedPlan.toString
    // the only cross join is the 1-row qNorm broadcast; the posting
    // self-join must stay a key join
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  // ---- sketch-accelerated exact top-k ----

  test("HeavyHitters.topK equals the plain aggregation on a skewed stream") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // Zipf-ish: key i appears ~ 5000/i times, plus a long flat tail
    val rows = (1 to 60).flatMap(i => Seq.fill(5000 / i)(s"k$i")) ++
      (1 to 3000).map(i => s"tail${rnd.nextInt(100000)}")
    val df = rnd.shuffle(rows).toDF("word").repartition(7)
    val plain = df.groupBy("word").count()
      .orderBy(col("count").desc, col("word")).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val fast = graft.ops.HeavyHitters.topK(df, "word", 10, capacity = 256)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(fast == plain)
    // partitioning invariance
    val fast1 = graft.ops.HeavyHitters.topK(df.repartition(1), "word", 10,
      capacity = 256).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(fast1 == plain)
  }

  test("HeavyHitters.topK falls back to exact aggregation on a flat key space") {
    import spark.implicits._
    // all-distinct keys: no key reaches N/capacity, guarantee void —
    // the fallback must still return the exact (tie-broken) top-k
    val df = (1 to 5000).map(i => f"u$i%05d").toDF("word").repartition(5)
    val got = graft.ops.HeavyHitters.topK(df, "word", 5, capacity = 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == (1 to 5).map(i => (f"u$i%05d", 1L)))
  }

  test("misraGriesKeys never drops a key above the frequency threshold") {
    val stream = Seq.fill(400)("hot") ++ (1 to 600).map(i => s"x$i")
    val rnd = new scala.util.Random(3)
    for (_ <- 1 to 5) {
      val kept = graft.ops.HeavyHitters
        .misraGriesKeys(rnd.shuffle(stream).iterator, capacity = 16).toSet
      // hot has share 0.4 > 1/17 — must survive any arrival order
      assert(kept.contains("hot"))
      assert(kept.size <= 16)
    }
  }

  // ---- real multi-frame decode (animated GIF) ----

  /** A real animated GIF with `n` 8x8 frames, written via the JDK's
    * GIF ImageWriter sequence API.
    */
  private def animatedGif(n: Int): Array[Byte] = {
    import javax.imageio.ImageIO
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    val w = ImageIO.getImageWritersByFormatName("gif").next()
    w.setOutput(ios)
    w.prepareWriteSequence(null)
    for (i <- 0 until n) {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(i * 20 % 256, 60, 120)); g.fillRect(0, 0, 8, 8)
      g.dispose()
      w.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    w.endWriteSequence(); w.dispose(); ios.close()
    bos.toByteArray
  }

  test("sampleFrames decodes REAL frames from an animated GIF payload") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val gif = animatedGif(10)
    val media = Seq(
      graft.ops.Multimodal.MediaRecord(1L, "video", gif, 8, 8, 0, 999),
      // non-GIF payload: metadata stub path (n_frames = 6)
      graft.ops.Multimodal.MediaRecord(2L, "video",
        Array[Byte](1, 2, 3, 4, 5, 6, 7, 8), 0, 0, 0, 6)).toDS()
    val frames = graft.ops.Multimodal.sampleFrames(media, everyN = 3)
      .collect().groupBy(_.media_id)
    // real container: 10 frames in the GIF (NOT the 999 in metadata),
    // stride 3 -> frames 0,3,6,9, each a non-empty PNG encoding
    assert(frames(1L).map(_.frame_no).sorted.toSeq == Seq(0, 3, 6, 9))
    frames(1L).foreach(f => assert(f.byte_len > 50))
    // stub path still strides the metadata count
    assert(frames(2L).map(_.frame_no).sorted.toSeq == Seq(0, 3))
  }

  // ---- streaming dedup with drifting duplicate timestamps ----

  test("streamingDedupWithinWatermark collapses duplicates with DIFFERENT ts") {
    val sfDir = "/root/testdata/sf0.001"
    val streamDir = java.nio.file.Paths.get(tmpDir("graft_ddww_"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(streamDir.toString).schema
    val stream = graft.sources.Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(streamDir.toString))
    // duplicate every event with a DRIFTED timestamp (+1s): the ts-in-key
    // dedup would keep both copies; within-watermark dedup must not
    val drifted = stream.unionByName(
      stream.withColumn("ts", col("ts") + expr("INTERVAL 1 SECOND")))
    val q = graft.streaming.StreamingOps
      .streamingDedupWithinWatermark(drifted, Seq("event_id"), "1 hour")
      .writeStream.format("memory").queryName("ddww_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val n = spark.table("ddww_test").count()
      val expected = graft.sources.Tables.events(spark, sfDir).count()
      assert(n == expected)
    } finally q.stop()
  }

  // ---- Z-order ----

  /** Scala reference interleave for the spec. */
  private def zref(xs: Seq[Long]): Long = {
    val n = xs.length
    var acc = 0L
    for ((x, j) <- xs.zipWithIndex; i <- 0 until 16) {
      val clamped = math.min(math.max(x, 0L), 65535L)
      acc |= (((clamped >> i) & 1L) << (i * n + (n - 1 - j)))
    }
    acc
  }

  test("zorderKey matches the reference interleave, incl. clamping") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq((0L, 0L), (65535L, 65535L), (-5L, 70000L), (1L, 2L)) ++
      Seq.fill(50)((rnd.nextLong() % 100000, rnd.nextLong() % 100000))
    val got = rows.toDF("x", "y")
      .withColumn("z", Maintenance.zorderKey(col("x"), col("y")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (x, y, z) => assert(z == zref(Seq(x, y)), s"($x,$y)") }
  }

  test("zorderKey three columns stays positive and injective on clamped input") {
    import spark.implicits._
    val rows = for (x <- 0L to 7L; y <- 0L to 7L; w <- 0L to 7L) yield (x, y, w)
    val got = rows.toDF("x", "y", "w")
      .withColumn("z", Maintenance.zorderKey(col("x"), col("y"), col("w")))
      .collect().map(_.getLong(3))
    assert(got.forall(_ >= 0))
    assert(got.distinct.length == rows.length)
  }

  test("zorderLayout narrows per-file ranges in BOTH dimensions") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(20000)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val df = rows.toDF("x", "y")
    val dir = tmpDir("graft-zorder-")
    Maintenance.zorderLayout(df, Seq("x", "y"), numFiles = 16)
      .write.mode("overwrite").parquet(dir)
    // per-file (max-min) spread in each dim: a z-ordered layout confines
    // each of 16 files to roughly a 1/4 x 1/4 tile (spread ~16k); an
    // unsorted write leaves every file spanning ~the full 65536 range
    val spreads = spark.read.parquet(dir)
      .withColumn("f", input_file_name())
      .groupBy("f")
      .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(spreads.length == 16)
    val avgX = spreads.map(_._1).sum / spreads.length
    val avgY = spreads.map(_._2).sum / spreads.length
    assert(avgX < 30000, s"avg x-spread $avgX not clustered")
    assert(avgY < 30000, s"avg y-spread $avgY not clustered")
    // and the layout is lossless
    assert(spark.read.parquet(dir).count() == rows.length)
  }
}
