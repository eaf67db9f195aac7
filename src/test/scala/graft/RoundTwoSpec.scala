package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{AnnIndex, Dedup, Multimodal, Similarity}
import graft.search.Indexer
import graft.sources.{Corpus, XmlScan}

/** Round-2 surface: gzip dump ingestion, the real ImageIO codec path,
  * the persisted (at-rest) ANN layouts, verified dedup variants, and the
  * corpus_type / title-as-first-line conventions.
  */
class RoundTwoSpec extends SparkSuite {

  lazy val embeddings: DataFrame =
    spark.read.parquet(s"$testdata/embeddings.parquet")

  // ---- S1/S2 edge: gzip (non-seekable) dump ingestion ----
  // The reference's XMLInputFormat handles compressed, non-splittable
  // streams by giving the whole file to one reader
  // (util/XMLInputFormat.java:132-162). Spark's text source does the
  // same for .gz: one partition per file, records still split on the
  // </page> delimiter.
  test("gz dump: single-split read, parse parity with the plain dump") {
    val pages = XmlScan.toPageXml(documents.limit(50)).select("value")
      .collect().map(_.getString(0))
    val dir = tmpDir("graft-gz-")
    val gzPath = s"$dir/dump.xml.gz"
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(gzPath))
    out.write(pages.mkString.getBytes("UTF-8"))
    out.close()

    val records = spark.read.option("lineSep", "</page>").text(gzPath)
      .filter(length(trim(col("value"))) > 0)
    assert(records.rdd.getNumPartitions == 1,
      "a .gz file must be one non-splittable partition")
    val parsed = XmlScan.parsePages(records)
    val direct = XmlScan.parsePages(
      XmlScan.toPageXml(documents.limit(50)))
    assert(parsed.count() == 50)
    assert(parsed.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(parsed).count() == 0)
  }

  // ---- Multimodal: the ImageIO path is real ----
  private def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    Multimodal.MediaCodec.encodePng(img)
  }

  test("ImageIO decode: real PNG bytes produce real dims and channel means") {
    val bytes = pngBytes(100, 40, 0xff0000) // solid red
    val img = Multimodal.MediaCodec.decodeImage(bytes)
    assert(img.isDefined && img.get.getWidth == 100 && img.get.getHeight == 40)
    val f = Multimodal.MediaCodec.imageFeatures(img.get, 64, 64)
    // aspect-preserving into 64x64: 100x40 -> 64x25
    assert(f(0) == 64.0f && f(1) == 25.0f)
    assert(f(2) > 0.99f && f(3) < 0.01f && f(4) < 0.01f) // red channel
    assert(f(6) == 100.0f && f(7) == 40.0f)              // source dims
  }

  test("ImageIO resize: decode -> scale -> PNG re-encode roundtrip") {
    val bytes = pngBytes(200, 100, 0x00ff00)
    val Some((resized, w, h)) = Multimodal.MediaCodec.resizeImage(bytes, 64, 64)
    assert(w == 64 && h == 32)
    val back = Multimodal.MediaCodec.decodeImage(resized)
    assert(back.isDefined && back.get.getWidth == 64 && back.get.getHeight == 32)
  }

  test("ImageIO fallback: non-image bytes take the deterministic stub") {
    val junk = "not an image".getBytes("UTF-8")
    assert(Multimodal.MediaCodec.decodeImage(junk).isEmpty)
    val f1 = Multimodal.MediaCodec.imageFeaturesOrStub(junk, 64, 64)
    val f2 = Multimodal.MediaCodec.decodeImageStub(junk, 64, 64)
    assert(f1.sameElements(f2))
  }

  test("resizeImages Dataset path: real PNG payloads are transcoded") {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", pngBytes(128, 64, 0x0000ff), 128, 64, 0, 0),
      Multimodal.MediaRecord(2L, "audio", Array[Byte](1, 2, 3), 0, 0, 16000, 0)
    ).toDS()
    val out = Multimodal.resizeImages(media, 32, 32).collect()
      .map(m => m.media_id -> m).toMap
    assert(out(1L).width == 32 && out(1L).height == 16)
    val dec = Multimodal.MediaCodec.decodeImage(out(1L).payload)
    assert(dec.isDefined && dec.get.getWidth == 32)
    assert(out(2L).payload.length == 3) // non-image untouched
  }

  // ---- ANN at rest ----
  test("persisted IVF probe: partition-pruned scan of <= nProbe clusters") {
    val path = tmpDir("graft-ivf-") + "/ivf"
    val e = embeddings.filter(col("vec_id") =!= 0)
    val model = AnnIndex.ivfWrite(e, path, k = 8)
    val q = embeddings.filter(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble)
    val probe = AnnIndex.ivfTopK(spark, model, q, 5, nProbe = 2)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "probe must prune on cluster dirs")
    assert(plan.contains("cluster"), "partition filter must target cluster")
    // the pruned scan reads at most nProbe of the k cluster directories
    val scanned = probe.queryExecution.executedPlan.collectLeaves()
      .collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }.sum
    assert(scanned <= 2, s"expected <= 2 cluster partitions, scanned $scanned")
    assert(probe.count() == 5)
  }

  test("persisted IVF model reload round-trips centroids") {
    val path = tmpDir("graft-ivf-") + "/ivf"
    val e = embeddings.filter(col("vec_id") =!= 0)
    val written = AnnIndex.ivfWrite(e, path, k = 4)
    val loaded = AnnIndex.ivfLoad(spark, path)
    assert(loaded.centroids.length == written.centroids.length)
    for (((ca, va), (cb, vb)) <- written.centroids.sortBy(_._1)
           .zip(loaded.centroids.sortBy(_._1))) {
      assert(ca == cb)
      assert(va.zip(vb).forall { case (x, y) => math.abs(x - y) < 1e-12 })
    }
  }

  test("persisted LSH probe: stored signatures, exact top-k on this corpus") {
    val path = tmpDir("graft-lsh-") + "/lsh"
    val e = embeddings.filter(col("vec_id") =!= 0)
    AnnIndex.lshWrite(e, path, planes = 12)
    val q = embeddings.filter(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble)
    val lsh = AnnIndex.lshTopK(spark, path, q, 10, planes = 12, maxBitDiff = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.bruteForceTopK(e, q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(lsh.sameElements(brute),
      "maxBitDiff=8 radius must contain the true top-10 on the test corpus")
  }

  test("IVF probe recall: >= 5 of true top-10 with nProbe=6 of 16") {
    val path = tmpDir("graft-ivf-") + "/ivf"
    val e = embeddings.filter(col("vec_id") =!= 0)
    val model = AnnIndex.ivfWrite(e, path, k = 16)
    val q = embeddings.filter(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble)
    val ivf = AnnIndex.ivfTopK(spark, model, q, 10, nProbe = 6)
      .collect().map(_.getLong(0)).toSet
    val brute = Similarity.bruteForceTopK(e, q, 10)
      .collect().map(_.getLong(0)).toSet
    assert((ivf & brute).size >= 5, s"recall ${(ivf & brute).size}/10")
  }

  // ---- native hyperplane kernel == column algebra ----
  test("HyperplaneSignatures native kernel is bit-identical to the column form") {
    val p = 3; val tables = 5
    val native = embeddings.select(col("vec_id"),
      graft.functions.VectorExpressions
        .hyperplaneSignatures(col("embedding"), p, tables).as("sigs"))
    val columnar = embeddings.select(col("vec_id"),
      array((0 until tables).map(t =>
        Similarity.hyperplaneSignature(col("embedding"), p,
          planeOffset = t * p)): _*).as("sigs"))
    assert(native.exceptAll(columnar).count() == 0 &&
      columnar.exceptAll(native).count() == 0)
  }

  test("graft_hyperplane_sigs callable from SQL via extensions") {
    // injectFunction needs builder-time extensions; the live-session
    // registry path exercises the same expression builder
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_hyperplane_sigs",
      graft.GraftExtensions.hyperplaneSigsBuilder, "scala_udf")
    embeddings.limit(5).createOrReplaceTempView("emb_ext_test")
    val viaSql = spark.sql(
      "SELECT vec_id, graft_hyperplane_sigs(embedding, 3, 4, 0) AS sigs FROM emb_ext_test")
    val viaApi = embeddings.limit(5).select(col("vec_id"),
      graft.functions.VectorExpressions
        .hyperplaneSignatures(col("embedding"), 3, 4).as("sigs"))
    assert(viaSql.exceptAll(viaApi).count() == 0 &&
      viaApi.exceptAll(viaSql).count() == 0)
  }

  test("graft_hyperplane_sigs rejects a column-reference shape arg with a clear message") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_hyperplane_sigs",
      graft.GraftExtensions.hyperplaneSigsBuilder, "scala_udf")
    embeddings.limit(5).createOrReplaceTempView("emb_ext_test")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      // vec_id as the planes arg is a column reference → not foldable
      spark.sql(
        "SELECT graft_hyperplane_sigs(embedding, vec_id, 4) FROM emb_ext_test").collect()
    }
    assert(ex.getMessage.contains(
      "graft_hyperplane_sigs argument 2 must be an integer literal"))
    assert(ex.getCondition == "USER_RAISED_EXCEPTION")
  }

  // ---- verified dedup variants ----
  test("minHashLshVerified returns the exact Jaccard pair list") {
    val v = Dedup.minHashLshVerified(documents, n = 3, numHashes = 32,
      bands = 32, minJ = 0.2)
    val e = Dedup.ngramJaccard(documents, n = 3, minJ = 0.2)
    assert(v.exceptAll(e).count() == 0 && e.exceptAll(v).count() == 0)
  }

  test("embeddingNearDupBanded returns the exact cosine pair list") {
    val v = Dedup.embeddingNearDupBanded(embeddings, minCos = 0.4,
      planesPerTable = 3, tables = 32)
    val e = Dedup.embeddingNearDupExact(embeddings, minCos = 0.4)
    assert(v.exceptAll(e).count() == 0 && e.exceptAll(v).count() == 0)
  }

  test("ngramJaccard guard bounds candidate generation on a hot-shingle corpus") {
    import spark.implicits._
    // 40 docs sharing one hot 3-gram prefix; exactly one true near-dup pair
    val texts = (0 until 40).map(i => s"alpha beta gamma unique$i token$i word$i") ++
      Seq("x y z alpha beta gamma delta", "x y z alpha beta gamma delta")
    val hot = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val guarded = Dedup.ngramJaccard(hot, n = 3, minJ = 0.9, maxShingleFreq = 10)
    val exact = Dedup.ngramJaccard(hot, n = 3, minJ = 0.9)
    // the duplicate pair shares unique shingles (freq 2 <= guard), so the
    // guard drops only the hot shingle's k^2 candidates, not the answer
    assert(guarded.count() == exact.count())
  }

  // ---- streaming top-k terms ----
  test("streaming word counts match batch; top-k = the batch stop words") {
    val batch = Indexer.wordCounts(documents).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val streamDir = tmpDir("graft-wc-stream-")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$testdata/documents.parquet"),
      java.nio.file.Paths.get(streamDir, "documents.parquet"))
    val q = graft.streaming.StreamingOps.streamingWordCounts(spark, streamDir)
      .writeStream.format("memory").queryName("wc_stream_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("wc_stream_test").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(streamed == batch)
      // trending-terms surface: top-10 of the running counts equals the
      // batch stop-word list
      val topStream = spark.table("wc_stream_test")
        .orderBy(desc("cnt"), asc("word")).limit(10).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val topBatch = Indexer.stopWords(documents, 10).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(topStream == topBatch)
    } finally q.stop()
  }

  // ---- corpus_type + title-as-first-line ----
  test("corpus split: text decodes entities, html keeps them; title is line 1") {
    import spark.implicits._
    val pages = Seq((7L, "doc-7", "a &#60;b&#62; c")).toDF("doc_id", "title", "text")
    val text = Corpus.split(pages, "text").collect()(0).getString(1)
    val html = Corpus.split(pages, "html").collect()(0).getString(1)
    assert(text == "doc-7\na <b> c")
    assert(html == "doc-7\na &#60;b&#62; c")
    val roundTrip = Corpus.split(pages, "html")
      .select(Corpus.titleOf(col("content")).as("t"),
        Corpus.bodyOf(col("content")).as("b"),
        Corpus.serve(col("content")).as("served")).collect()(0)
    assert(roundTrip.getString(0) == "doc-7")
    assert(roundTrip.getString(1) == "a &#60;b&#62; c")
    assert(roundTrip.getString(2) == "doc-7\na <b> c")
  }
}
