package graft

import org.apache.spark.sql.functions._

import graft.functions.NfcNormalize
import graft.ops.{Dedup, TextAnalysis}

/** Round-5 surface: repetition metrics, corpus line dedup, benchmark
  * decontamination, native NFC normalization, grouping sets / pivot.
  */
class RoundFiveSpec extends SparkSuite {

  // ---- repetition metrics ----

  test("repetitionStats computes top-gram and duplicate-trigram fractions") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b"),             // top token 3/4; bigrams: "a a" x2, "a b" -> 2/3
      (2L, "x y x y x y"),         // trigrams: "x y x" x2, "y x y" x2 -> dup 4/4
      (3L, "only")                 // single token: no bigrams/trigrams
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) == 4 && math.abs(r(1L).getDouble(2) - 0.75) < 1e-15)
    assert(math.abs(r(1L).getDouble(3) - 2.0 / 3.0) < 1e-15)
    assert(r(1L).getDouble(4) == 0.0) // "a a a","a a b" both unique
    assert(r(2L).getDouble(4) == 1.0) // every trigram instance is a repeat
    assert(r(3L).getLong(1) == 1 && r(3L).isNullAt(3) && r(3L).isNullAt(4))
  }

  // ---- corpus line dedup ----

  test("dedupLines keeps only first occurrences and rebuilds text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x\ny"),
      (2L, "x\nz"),
      (3L, "x\ny")                  // full duplicate of doc 1 -> nothing kept
    ).toDF("doc_id", "text")
    val r = TextAnalysis.dedupLines(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) == 2 && r(1L).getLong(2) == 2 &&
      r(1L).getString(3) == "x\ny")
    assert(r(2L).getLong(2) == 1 && r(2L).getString(3) == "z")
    assert(r(3L).getLong(2) == 0 && r(3L).isNullAt(3))
  }

  test("dedupLines keeps the first instance of a line repeated within one doc") {
    import spark.implicits._
    val docs = Seq((5L, "b\nb\nc")).toDF("doc_id", "text")
    val r = TextAnalysis.dedupLines(docs).collect()(0)
    assert(r.getLong(1) == 3 && r.getLong(2) == 2 && r.getString(3) == "b\nc")
  }

  // ---- benchmark contamination ----

  test("benchmarkContamination flags exactly the docs sharing an n-gram") {
    import spark.implicits._
    val bench = Seq((100L, "one two three four five six")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "zz one two three four five yy"),   // shares "one two three four five"
      (2L, "totally different words here entirely now"),
      (3L, "one two three four five six seven") // shares both benchmark 5-grams
    ).toDF("doc_id", "text")
    val r = Dedup.benchmarkContamination(corpus, bench, n = 5).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 1L, 3L -> 2L))
  }

  // ---- property tests: random corpora vs naive references ----

  test("property: spanDedup matches a naive reference on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = Array("a", "b", "c", "d")
    val k = 3
    for (_ <- 1 to 4) {
      val corpus = (1L to 8L).map(id =>
        (id, Seq.fill(1 + rnd.nextInt(24))(vocab(rnd.nextInt(vocab.length)))
          .mkString(" ")))
      // naive reference: spans per doc, distinct-doc counts, coverage
      val spansOf = corpus.map { case (id, text) =>
        id -> text.split(" ").sliding(k).map(_.mkString(" ")).zipWithIndex.toSeq
      }.toMap
      val spanDocs = spansOf.toSeq
        .flatMap { case (id, sp) => sp.map { case (s, _) => (s, id) } }
        .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).distinct.size }
      val want = corpus.map { case (id, text) =>
        val toks = text.split(" ")
        val covered = if (toks.length < k) Set.empty[Int]
        else spansOf(id).collect {
          case (s, i) if spanDocs(s) >= 2 => i until i + k
        }.flatten.toSet
        val kept = toks.indices.filterNot(covered).map(toks)
        (id, toks.length.toLong, covered.size.toLong,
          if (kept.isEmpty) null else kept.mkString(" "))
      }.toSet
      val got = TextAnalysis.spanDedup(corpus.toDF("doc_id", "text"), k = k)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getString(3))).toSet
      assert(got == want)
    }
  }

  test("property: dedupLines matches a naive first-occurrence reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val lines = Array("l1", "l2", "l3")
    for (_ <- 1 to 4) {
      val corpus = (1L to 6L).map(id =>
        (id, Seq.fill(1 + rnd.nextInt(5))(lines(rnd.nextInt(lines.length)))
          .mkString("\n")))
      val seen = scala.collection.mutable.Set.empty[String]
      val want = corpus.sortBy(_._1).map { case (id, text) =>
        val ls = text.split("\n", -1)
        val kept = ls.filter(l => seen.add(l))
        (id, ls.length.toLong, kept.length.toLong,
          if (kept.isEmpty) null else kept.mkString("\n"))
      }.toSet
      val got = TextAnalysis.dedupLines(corpus.toDF("doc_id", "text"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getString(3))).toSet
      assert(got == want)
    }
  }

  // ---- incremental exact dedup ----

  test("incrementalExact classifies new / dup_corpus / dup_batch") {
    import spark.implicits._
    val atRest = Seq("old one", "old two").toDF("text")
      .select(md5(col("text")).as("digest"))
    val batch = Seq(
      (10L, "fresh a"),
      (11L, "old one"),   // at rest -> dup_corpus
      (12L, "fresh b"),
      (13L, "fresh a"),   // earlier in batch -> dup_batch
      (14L, "old one")    // at rest wins over batch-first -> dup_corpus
    ).toDF("doc_id", "text")
    val r = graft.ops.Dedup.incrementalExact(atRest, batch).collect()
      .map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(r == Map(10L -> "new", 11L -> "dup_corpus", 12L -> "new",
      13L -> "dup_batch", 14L -> "dup_corpus"))
  }

  // ---- exact duplicate-span removal ----

  test("spanDedup strips cross-doc duplicated k-token spans, keeps the rest") {
    import spark.implicits._
    val span = "a b c d e f g h" // 8 tokens, appears in docs 1, 2, 4
    val docs = Seq(
      (1L, s"$span unique1 tail"),
      (2L, s"x $span y"),
      (3L, "completely different words only here"),
      (4L, span)
    ).toDF("doc_id", "text")
    val r = TextAnalysis.spanDedup(docs, k = 8).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) == 10 && r(1L).getLong(2) == 8 &&
      r(1L).getString(3) == "unique1 tail")
    assert(r(2L).getLong(2) == 8 && r(2L).getString(3) == "x y")
    assert(r(3L).getLong(2) == 0 &&
      r(3L).getString(3) == "completely different words only here")
    assert(r(4L).getLong(2) == 8 && r(4L).isNullAt(3))
  }

  test("spanDedup covers a duplicated run longer than k completely") {
    import spark.implicits._
    // 12-token duplicated run: all five 8-windows are shared, so the
    // full run is covered in both docs
    val run = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12"
    val docs = Seq((1L, s"$run alpha"), (2L, s"beta $run")).toDF("doc_id", "text")
    val r = TextAnalysis.spanDedup(docs, k = 8).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(2) == 12 && r(1L).getString(3) == "alpha")
    assert(r(2L).getLong(2) == 12 && r(2L).getString(3) == "beta")
  }

  test("spanDedup minDocs=3 ignores spans shared by only two docs") {
    import spark.implicits._
    val span = "s1 s2 s3 s4 s5 s6 s7 s8"
    val docs = Seq((1L, s"$span a"), (2L, s"$span b"), (3L, "other c")).toDF("doc_id", "text")
    val r2 = TextAnalysis.spanDedup(docs, k = 8, minDocs = 3)
    assert(r2.agg(sum("n_removed")).collect()(0).getLong(0) == 0)
    val r3 = TextAnalysis.spanDedup(docs.union(
      Seq((4L, s"c $span")).toDF("doc_id", "text")), k = 8, minDocs = 3)
    assert(r3.agg(sum("n_removed")).collect()(0).getLong(0) == 24)
  }

  test("dedupLines honors a custom line separator") {
    import spark.implicits._
    val docs = Seq((1L, "p||q"), (2L, "p||r")).toDF("doc_id", "text")
    val r = TextAnalysis.dedupLines(docs, lineSep = "||").collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getString(3) == "p||q" && r(2L).getString(3) == "r")
  }

  // ---- NFC normalization ----

  test("NfcNormalize composes decomposed sequences (codegen path)") {
    import spark.implicits._
    val df = Seq(
      ("café", "café"),       // e + combining acute -> é
      ("Ångström", "Ångström"),
      ("plain ascii", "plain ascii"),
      (null.asInstanceOf[String], null.asInstanceOf[String])
    ).toDF("raw", "want")
    val got = df.select(NfcNormalize.nfc(col("raw")).as("got"), col("want"))
    assert(got.filter(
      (col("got") =!= col("want")) ||
        (col("got").isNull =!= col("want").isNull)).count() == 0)
  }

  test("NfcNormalize interpreted eval matches the codegen result") {
    import org.apache.spark.unsafe.types.UTF8String
    val expr = graft.functions.NfcNormalize(
      org.apache.spark.sql.catalyst.expressions.Literal(
        UTF8String.fromString("café"),
        org.apache.spark.sql.types.StringType))
    assert(expr.eval(null).asInstanceOf[UTF8String].toString == "café")
    // already-NFC input returns the SAME object (allocation-free path)
    val ascii = UTF8String.fromString("plain")
    assert(new graft.functions.NfcKernel().normalize(ascii) eq ascii)
  }

  test("graft_nfc callable from SQL via the function registry") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_nfc",
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.NfcNormalize(children.head), "scala_udf")
    val out = spark.sql("SELECT graft_nfc('café') AS s").collect()(0).getString(0)
    assert(out == "café")
  }

  test("graft_nfc rejects wrong arity and non-string args at analysis time") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_nfc", GraftExtensions.nfcBuilder, "scala_udf")
    val arity = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_nfc('a', 'b')").collect()
    }
    assert(arity.getMessage.contains("graft_nfc takes exactly 1 argument"))
    val typed = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_nfc(array(1, 2))").collect()
    }
    assert(typed.getMessage.contains("graft_nfc requires a STRING argument"))
    // NULL literal stays accepted (NullType) and yields NULL
    assert(spark.sql("SELECT graft_nfc(NULL) AS s").collect()(0).isNullAt(0))
  }

  test("incrementalExact reports NULL-text rows as invalid, never drops them") {
    import spark.implicits._
    val atRest = Seq("old").toDF("text").select(md5(col("text")).as("digest"))
    val batch = Seq((1L, "fresh"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val r = graft.ops.Dedup.incrementalExact(atRest, batch).collect()
      .map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(r == Map(1L -> "new", 2L -> "invalid"))
  }

  test("normalizeText strips controls, collapses whitespace, trims") {
    import spark.implicits._
    val docs = Seq((1L, " ab\tc  d ")).toDF("doc_id", "text")
    val r = TextAnalysis.normalizeText(docs).collect()(0).getString(2)
    assert(r == "ab c d")
  }

  // ---- source/sink round trips: CSV, ORC ----

  test("csv round trip: documents survive write/read with explicit schema") {
    val docs = sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val dir = tmpDir("graft-csv-")
    // quote/escape defaults handle embedded commas/quotes; header keeps
    // the file self-describing, the explicit schema avoids an inference
    // pass (a second full read at scale)
    docs.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.schema(docs.schema).option("header", "true").csv(dir)
    assert(back.exceptAll(docs).count() == 0 && docs.exceptAll(back).count() == 0)
  }

  test("orc round trip: documents survive write/read") {
    val docs = sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val dir = tmpDir("graft-orc-")
    docs.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.exceptAll(docs).count() == 0 && docs.exceptAll(back).count() == 0)
  }

  // ---- small-files compaction ----

  test("compactParquet bin-packs small files without losing rows") {
    val docs = sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val base = tmpDir("graft-compact-")
    docs.repartition(50).write.mode("overwrite").parquet(s"$base/small")
    val (_, before) = graft.ops.Maintenance.parquetStats(spark, s"$base/small")
    assert(before == 50)
    val (total, _) = graft.ops.Maintenance.parquetStats(spark, s"$base/small")
    graft.ops.Maintenance.compactParquet(spark, s"$base/small",
      s"$base/packed", targetBytes = total) // everything fits one target file
    val (_, after) = graft.ops.Maintenance.parquetStats(spark, s"$base/packed")
    assert(after < 5)
    val packed = spark.read.parquet(s"$base/packed")
    assert(packed.exceptAll(docs).count() == 0 &&
      docs.exceptAll(packed).count() == 0)
  }

  // ---- grouping sets / pivot ----

  test("groupingSets levels partition the total row count") {
    val li = sources.Tables(spark, "/root/testdata/sf0.001", "lineitem")
    val total = li.count()
    val gs = SparkEntry.queries("q_grouping_sets")(spark, "/root/testdata/sf0.001")
    val byLevel = gs.select(
      when(col("l_returnflag").isNull, "all")
        .when(col("l_linestatus").isNull, "flag").otherwise("both").as("level"),
      col("n_rows"))
      .groupBy("level").agg(sum("n_rows").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLevel("all") == total && byLevel("flag") == total &&
      byLevel("both") == total)
  }

  // ---- batch search ----

  test("searchMany equals the per-query searches, tagged by query") {
    val docs = sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val idx = search.Indexer.postings(docs)
    val qs = Seq("spark and data", "spark or data")
    val batch = search.SearchEngine.searchMany(qs, idx, docs)
    qs.foreach { q =>
      val single = search.SearchEngine.search(q, idx, docs)
        .select(col("doc_id"), col("score"))
      val tagged = batch.filter(col("query") === q).select("doc_id", "score")
      assert(tagged.exceptAll(single).count() == 0 &&
        single.exceptAll(tagged).count() == 0)
    }
  }

  test("searchMany of an empty batch returns an empty tagged result") {
    val docs = sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val idx = search.Indexer.postings(docs)
    val r = search.SearchEngine.searchMany(Seq.empty, idx, docs)
    assert(r.columns.toSeq == Seq("query", "doc_id", "score") && r.count() == 0)
  }

  // ---- streaming index maintenance ----

  test("streaming index maintenance equals a full batch rebuild") {
    import java.nio.file.{Files, Paths}
    val docs = sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val base = tmpDir("graft-stream-idx-")
    val streamDir = s"$base/in"; Files.createDirectories(Paths.get(streamDir))
    val statsPath = s"$base/stats"
    // two arrival batches: even docs land first, odd docs second
    Seq(0, 1).foreach { par =>
      val tmp = s"$base/half$par"
      docs.filter(pmod(col("doc_id"), lit(2)) === par)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, Paths.get(streamDir, s"batch$par.parquet"))
    }
    val ckpt = s"$base/ckpt"
    val q = graft.streaming.StreamingOps
      .streamingIndexMaintenance(spark, streamDir, statsPath,
        checkpointDir = Some(ckpt))
    try q.processAllAvailable() finally q.stop()
    // >1 micro-batch actually ran (maxFilesPerTrigger=1 -> 2 files = 2)
    assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    def stats() = graft.streaming.StreamingOps.maintainedStats(spark, statsPath)
    val maintained = search.Indexer.postingsFromStats(stats(),
      search.Indexer.docCount(spark.read.parquet(streamDir)))
    val rebuilt = search.Indexer.postings(docs)
    assert(maintained.exceptAll(rebuilt).count() == 0 &&
      rebuilt.exceptAll(maintained).count() == 0)
    val nStats = stats().count()
    // restart from the same checkpoint: offsets are recorded, nothing
    // is reprocessed, the stats table is unchanged
    val q2 = graft.streaming.StreamingOps
      .streamingIndexMaintenance(spark, streamDir, statsPath,
        checkpointDir = Some(ckpt))
    try q2.processAllAvailable() finally q2.stop()
    assert(stats().count() == nStats)
    // restart WITHOUT the checkpoint: everything replays, but each
    // batch overwrites its own batch=<id> dir -> still no duplicates
    val q3 = graft.streaming.StreamingOps
      .streamingIndexMaintenance(spark, streamDir, statsPath)
    try q3.processAllAvailable() finally q3.stop()
    assert(stats().count() == nStats &&
      stats().exceptAll(search.Indexer.termDocStats(docs, Seq.empty)).count() == 0)
    // compacting the batch=<id> layout: recursive stats see the files,
    // the ownership column drops, rows survive
    val (bytes, files) = graft.ops.Maintenance.parquetStats(spark, statsPath)
    assert(bytes > 0 && files >= 2)
    graft.ops.Maintenance.compactParquet(spark, statsPath, s"$base/packed",
      targetBytes = bytes, dropColumns = Seq("batch"))
    val packed = spark.read.parquet(s"$base/packed")
    assert(packed.exceptAll(stats()).count() == 0 &&
      stats().exceptAll(packed).count() == 0)
  }

  test("streamingCleanIngest lands only new docs; replays rewrite identically") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val base = tmpDir("graft-ingest-")
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    def land(name: String, mtime: Long, rows: Seq[(Long, Option[String])]): Unit = {
      val tmp = s"$base/$name-tmp"
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = Paths.get(in, s"$name.parquet")
      Files.copy(part.toPath, dst)
      // strictly increasing mtimes pin the file->batch order, which
      // forced (checkpoint-deleted) replay idempotency depends on
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    land("b0", 1000000, Seq(
      (1L, Some("alpha text one")), (2L, Some("beta text two"))))
    land("b1", 2000000, Seq(
      (102L, Some("alpha text one")),                   // dup of doc 1
      (6L, Some("gamma three")), (106L, Some("gamma three")))) // in-batch dup
    land("b2", 3000000, Seq(
      (206L, Some("gamma three")),                      // dup of doc 6
      (9L, Some("delta four")),
      (999L, None)))                                    // NULL text -> reject
    val clean = s"$base/clean"; val rejects = s"$base/rejects"
    val digests = s"$base/digests"
    val schema = spark.read.parquet(s"$in/b0.parquet").schema
    def run(): Unit = {
      // default checkpoint: co-located at <digests>/_checkpoint
      val q = graft.streaming.StreamingOps.streamingCleanIngest(
        spark, in, clean, rejects, digests, schema = Some(schema))
      try q.processAllAvailable() finally q.stop()
    }
    run()
    def ids(path: String) = graft.streaming.StreamingOps
      .cleanCorpus(spark, path, schema).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids(clean) == Set(1L, 2L, 6L, 9L))
    assert(ids(rejects) == Set(999L)) // quarantined, not dropped
    // resume from the co-located checkpoint: nothing reprocessed
    run()
    assert(ids(clean) == Set(1L, 2L, 6L, 9L))
    // forced full replay (checkpoint deleted): same file order (pinned
    // mtimes), each batch excludes its own digests -> identical rewrite
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rm); p.delete()
    }
    rm(new java.io.File(s"$digests/_checkpoint"))
    run()
    assert(ids(clean) == Set(1L, 2L, 6L, 9L) && ids(rejects) == Set(999L))
  }

  test("maintainedStats on a not-yet-written path is an empty stats table") {
    val missing = tmpDir("graft-missing-") + "/never_written"
    val r = graft.streaming.StreamingOps.maintainedStats(spark, missing)
    assert(r.count() == 0 &&
      r.columns.toSeq == Seq("term", "doc_id", "tf", "positions"))
  }

  test("pivot cells sum to the orders row count") {
    val o = sources.Tables(spark, "/root/testdata/sf0.001", "orders")
    val p = SparkEntry.queries("q_pivot")(spark, "/root/testdata/sf0.001")
    val cells = p.select((col("F") + col("O") + col("P")).as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    assert(cells == o.count())
  }
}
