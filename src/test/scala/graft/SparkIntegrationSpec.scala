package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Multimodal
import graft.search._
import graft.streaming.StreamingOps

/** End-to-end Spark tests on sf0.001: the distributed query compiler
  * against the in-memory algebra (same inputs, same outputs), streaming
  * vs batch parity, index write/read with pushdown, multimodal plumbing.
  */
class SparkIntegrationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  lazy val docs: DataFrame = Indexer.documents(spark, sfDir)
  lazy val index: DataFrame = Indexer.postings(docs).cache()

  test("driver smoke: entry returns rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** The in-memory reference algebra's answer for `query`, fed with the
    * collected postings of its terms (delta-encoded, string-docId,
    * docId-sorted lists).
    */
  def localAlgebra(query: String, stopWords: Set[String]): PostingAlgebra.Wrapped = {
    val ast = new QueryParser(stopWords).parse(query.toLowerCase)
    val terms = QueryCompiler.leafTerms(ast)
    val local = index.filter(col("term").isin(terms.distinct: _*))
      .select("term", "doc_id", "score", "positions").collect()
      .groupBy(_.getString(0))
      .map { case (term, rows) =>
        term -> rows.map { r =>
          val abs = r.getSeq[Int](3).toVector
          val deltas = abs.zip(0 +: abs.dropRight(1)).map { case (a, b) => a - b }
          (r.getLong(1), r.getDouble(2), deltas)
        }.sortBy(_._1).toVector
          .map { case (id, s, d) => PostingAlgebra.Posting(f"$id%06d", s, d) }
      }
    PostingAlgebra.evaluate(ast, local)
  }

  def assertSameScores(got: Map[Long, Double], want: PostingAlgebra.Wrapped,
                       query: String): Unit = {
    val wantScores = want.postings.map(p => (p.docId.toLong, p.score)).toMap
    assert(got.keySet == wantScores.keySet, s"doc sets for '$query'")
    for ((id, s) <- wantScores)
      assert(math.abs(got(id) - s) < 1e-9 ||
        (s.isInfinity && got(id).isInfinity), s"score of doc $id for '$query'")
  }

  /** Evaluate a query both ways — the compiled score expression over the
    * per-document posting maps, and the in-memory reference algebra fed
    * with the SAME postings — and demand the same wrapper type and
    * identical (doc_id, score) sets.
    */
  def checkAgainstLocal(query: String, stopWords: Set[String] = Set.empty): Unit = {
    val ast = new QueryParser(stopWords).parse(query.toLowerCase)
    val expected = localAlgebra(query, stopWords)
    val stats = QueryCompiler.termStats(index, QueryCompiler.leafTerms(ast))
    val node = QueryCompiler.compile(ast, col("postings"), stats)
    assert(node.tpe == expected.tpe, s"wrapper type for '$query'")
    val got = QueryCompiler.postingMaps(index, Seq(ast))
      .select(col("doc_id"), node.score.as("score"))
      .filter(col("score").isNotNull)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assertSameScores(got, expected, query)
  }

  test("distributed compiler matches in-memory algebra on real corpus") {
    checkAgainstLocal("spark and data")
    checkAgainstLocal("spark or data")
    checkAgainstLocal("spark and not data")
    checkAgainstLocal("(spark or data) and join and not dup")
    checkAgainstLocal("join and not (spark or data)")
    checkAgainstLocal("spark data") // phrase: proximity path
    checkAgainstLocal("fast key order") // 3-word phrase
    checkAgainstLocal("spark and missingterm or data")
    checkAgainstLocal("the and spark", stopWords = Set("the"))
    // NOT_OR over a stop word flips type 2 -> -1 (reference quirk kept);
    // the -1 wrapper must fall through the dispatch like the reference's
    checkAgainstLocal("spark and not (the)", stopWords = Set("the"))
    checkAgainstLocal("not (the) or data", stopWords = Set("the"))
  }

  test("ngram jaccard: maxShingleFreq guard drops hot shingles from candidates") {
    val exact = graft.ops.Dedup.ngramJaccard(docs, 3, 0.0).count()
    // guard at a freq the corpus exceeds -> strictly fewer candidates
    val guarded = graft.ops.Dedup.ngramJaccard(docs, 3, 0.0, maxShingleFreq = 2).count()
    assert(guarded < exact)
    // guard above any real frequency -> identical to exact
    val loose = graft.ops.Dedup.ngramJaccard(docs, 3, 0.0,
      maxShingleFreq = 1000000).count()
    assert(loose == exact)
  }

  /** `n` seeded random CNF queries over a small vocabulary: phrases,
    * negated words, (negated) disjunctions, a missing term, a stop word.
    */
  def randomQueries(n: Int, seed: Long): Seq[String] = {
    val rng = new scala.util.Random(seed)
    val words = Vector("spark", "data", "join", "dup", "merge", "query",
      "fast", "zzzmissing", "the")
    def word() = words(rng.nextInt(words.length))
    def literal(): String = rng.nextInt(4) match {
      case 0 => "not " + word()
      case 1 => word() + " " + word() // phrase
      case _ => word()
    }
    def clause(): String = rng.nextInt(3) match {
      case 0 =>
        val c = "(" + Seq.fill(1 + rng.nextInt(2))(literal()).mkString(" or ") + ")"
        if (rng.nextBoolean()) "not " + c else c
      case _ => literal()
    }
    Seq.fill(n)(Seq.fill(1 + rng.nextInt(2))(clause()).mkString(" and "))
  }

  lazy val randomQueries: Seq[String] = randomQueries(12, 13)

  test("distributed compiler matches in-memory algebra on random queries") {
    for (q <- randomQueries) checkAgainstLocal(q, stopWords = Set("the"))
  }

  test("one searchMany call matches the in-memory algebra on every query") {
    val stop = Set("the")
    // the last three have an AND whose df order matters (3 operands, or
    // a -1 operand), so the stats fetch runs inside evaluate
    val qs = randomQueries ++
      Seq("not spark", "the", "and", "spark and not (the)",
        "fast key order", "spark and data and join", "data and not (the)")
    val batch = SearchEngine.searchMany(qs, index, docs, stop).collect()
      .groupBy(_.getString(0))
      .map { case (q, rows) => q -> rows.map(r => (r.getLong(1), r.getDouble(2))).toMap }
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = qs.map(q => q -> localAlgebra(q, stop)).toMap
    // the batch mixes positive, negated and stop-word-only roots
    assert(Set(0, 1, 2).subsetOf(expected.values.map(_.tpe).toSet))
    for (q <- qs) {
      val got = batch.getOrElse(q, Map.empty[Long, Double])
      expected(q).tpe match {
        case 0 => assertSameScores(got, expected(q), q)
        case 1 =>
          val negated = expected(q).postings.map(_.docId.toLong).toSet
          assert(got == (all diff negated).map(_ -> 0.0).toMap, s"complement for '$q'")
        case _ => assert(got.isEmpty, s"stop-word-only '$q' must match nothing")
      }
    }
  }

  test("searchMany evaluates a repeated query once") {
    val one = SearchEngine.searchMany(Seq("spark or data"), index, docs)
    val twice = SearchEngine.searchMany(Seq("spark or data", "spark or data"), index, docs)
    assert(twice.count() == one.count())
    assert(twice.exceptAll(one).isEmpty && one.exceptAll(twice).isEmpty)
  }

  /** The number of Spark jobs `body` starts. */
  def jobsDuring(body: => Unit): Int = {
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val Fence = "graft.test.fence"
    // one entry per job start, true for the fence jobs below: listener
    // events arrive in order, so once a fence is seen every job started
    // before it has been counted
    val started = new LinkedBlockingQueue[java.lang.Boolean]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(Option(e.properties).exists(_.getProperty(Fence) != null))
    }
    def jobsUntilFence(): Int = {
      sc.setLocalProperty(Fence, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Fence, null)
      var n = 0
      var fence = false
      while (!fence) {
        val e = started.poll(60, TimeUnit.SECONDS)
        assert(e != null, "job start events stopped arriving")
        if (e) fence = true else n += 1
      }
      n
    }
    sc.addSparkListener(listener)
    try {
      jobsUntilFence()
      body
      jobsUntilFence()
    }
    finally sc.removeSparkListener(listener)
  }

  test("searchMany runs the same number of Spark jobs for 1 and 24 queries") {
    def jobsFor(qs: Seq[String]): Int =
      jobsDuring(SearchEngine.searchMany(qs, index, docs).collect())
    // 24 positive queries: every pair of 8 words joined by and / or / a
    // phrase, so the batch touches every path of the positive algebra
    val words = Seq("spark", "data", "join", "dup", "merge", "query", "fast", "key")
    val many = words.combinations(2).toSeq.take(8).flatMap { case Seq(a, b) =>
      Seq(s"$a and $b", s"$a or $b", s"$a $b") }
    assert(many.distinct.length == 24)
    val one = jobsFor(Seq("spark and data"))
    assert(one > 0 && one == jobsFor(many))
  }

  test("search plans with no Spark job unless an AND needs df order") {
    assert(jobsDuring(SearchEngine.search("spark and data", index, docs)) == 0)
    assert(jobsDuring(SearchEngine.search("spark data", index, docs)) == 0)
    // a 3-word phrase and an AND with a -1 operand fetch the term stats
    assert(jobsDuring(SearchEngine.search("fast key order", index, docs)) > 0)
    assert(jobsDuring(SearchEngine.search("spark and not (the)", index, docs,
      Set("the"))) > 0)
  }

  test("needsStats: with no stats needed, the df order cannot change a result") {
    val stop = Set("the")
    val parser = new QueryParser(stop)
    // the grammar seldom puts a -1 operand after a positive one, so the
    // ANDs whose order matters are also given by hand: should needsStats
    // miss them, their unordered compile differs from the df-ordered one
    val ordered = Seq("spark and not (the)", "data and not (the)",
      "fast key order", "spark and data and join")
    val asts = (randomQueries(200, 29) ++ ordered).distinct.map(q => q -> parser.parse(q))
    val free = asts.filterNot { case (_, ast) => QueryCompiler.needsStats(ast) }
    assert(free.length > 100 && ordered.forall(q => !free.exists(_._1 == q)))
    val terms = free.flatMap { case (_, ast) => QueryCompiler.leafTerms(ast) }.distinct
    val trueDf = QueryCompiler.termStats(index, terms)
    // rank 0 = rarest; reversed, the most frequent term gets est 0
    val byDf = terms.sortBy(t => (trueDf.getOrElse(t, 0L), t))
    val reversed = byDf.zipWithIndex.map { case (t, i) => t -> (byDf.length - 1 - i).toLong }.toMap
    val maps = Seq(trueDf, reversed, Map.empty[String, Long])
    val cols = for ((_, ast) <- free; stats <- maps)
      yield QueryCompiler.compile(ast, col("postings"), stats).score
    val rows = QueryCompiler.postingMaps(index, free.map(_._2))
      .select(col("doc_id") +: cols.zipWithIndex.map { case (c, i) => c.as(s"s$i") }: _*)
      .collect()
    for (((q, _), k) <- free.zipWithIndex) {
      def scores(m: Int): Set[(Long, Double)] = rows.flatMap { r =>
        val i = 1 + k * maps.length + m
        if (r.isNullAt(i)) None else Some(r.getLong(0) -> r.getDouble(i))
      }.toSet
      assert(scores(1) == scores(0), s"reversed df order changed '$q'")
      assert(scores(2) == scores(0), s"unordered compile changed '$q'")
    }
  }

  test("top-level negated query resolves against the corpus") {
    val ranked = SearchEngine.search("not spark", index, docs)
    val withSpark = index.filter(col("term") === "spark")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = ranked.collect().map(_.getLong(0)).toSet
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == (all diff withSpark))
  }

  test("pagination: page 2 is rows 11-20 of the ranking") {
    val ranked = SearchEngine.search("spark or data", index, docs)
      .select(col("doc_id"), round(col("score"), 6).as("score"))
    val all = ranked.collect().map(r => (r.getLong(0), r.getDouble(1)))
    val p2 = SearchEngine.page(ranked, 2).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(p2.toSeq == all.slice(10, 20).toSeq)
  }

  test("index write/read round trip prunes on term") {
    val path = "/tmp/graft_test_index"
    Indexer.writeIndex(index, path, numPartitions = 4)
    val re = Indexer.readIndex(spark, path)
    assert(re.count() == index.count())
    val plan = re.filter(col("term") === "spark").queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(term), EqualTo(term,spark)]"),
      s"term filter should push to parquet:\n$plan")
  }

  test("streaming windowed counts match batch") {
    val batch = StreamingOps.windowedCounts(
      graft.sources.Tables.events(spark, sfDir)).collect()
    // file-stream sources require a directory: stage the single file
    val streamDir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val q = StreamingOps.streamingWindowedCounts(spark, streamDir.toString)
      .writeStream.format("memory").queryName("win_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("win_test").collect()
      assert(streamed.map(_.toString).sorted.toSeq ==
        batch.map(_.toString).sorted.toSeq)
    } finally q.stop()
  }

  test("session_window sessionization matches the window-function form") {
    val gapMs = 30L * 60 * 1000
    val ev = graft.sources.Tables.events(spark, sfDir)
    val native = StreamingOps.sessionizeNative(ev, "30 minutes").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime - gapMs, r.getLong(3),
        math.round(r.getDouble(4) * 100)))
      .toSet
    val batch = StreamingOps.sessionizeBatch(ev, gapMs).collect()
      .map(r => (r.getLong(0), r.getTimestamp(2).getTime,
        r.getTimestamp(3).getTime, r.getLong(4), math.round(r.getDouble(5) * 100)))
      .toSet
    assert(native == batch)

    // streaming smoke: same aggregation under a watermark, append mode
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sess_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(streamDir.toString).schema
    val stream = graft.sources.Tables.normalizeEventTs(
        spark.readStream.schema(schema).parquet(streamDir.toString))
      .withWatermark("ts", "1 minute")
    val q = StreamingOps.sessionizeNative(stream, "30 minutes")
      .writeStream.format("memory").queryName("sess_native")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("sess_native").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime - gapMs, r.getLong(3),
          math.round(r.getDouble(4) * 100)))
        .toSet
      assert(emitted.nonEmpty)
      assert(emitted.subsetOf(batch)) // only watermark-finalized sessions emit
    } finally q.stop()
  }

  test("stateful sessionize (flatMapGroupsWithState) matches window-function form") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val events = graft.sources.Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamingOps.Event]
    val gap = 30L * 60 * 1000
    val stateful = StreamingOps.sessionize(events, gap).collect()
      .map(x => (x.user_id, x.session_start.getTime, x.session_end.getTime,
        x.n_events, math.round(x.total_value * 100)))
    val batch = StreamingOps.sessionizeBatch(
      graft.sources.Tables.events(spark, sfDir), gap).collect()
      .map(r => (r.getLong(0), r.getTimestamp(2).getTime, r.getTimestamp(3).getTime,
        r.getLong(4).toInt, math.round(r.getDouble(5) * 100)))
    // stateful emits only CLOSED sessions (the final open session per user
    // stays in state) — every emitted session must appear in the batch set
    val batchSet = batch.toSet
    assert(stateful.nonEmpty)
    stateful.foreach(sess => assert(batchSet.contains(sess), s"session $sess"))
    // per user, stateful emits exactly (batch sessions - 1 open session)
    val openPerUser = stateful.groupBy(_._1).view.mapValues(_.length).toMap
    val batchPerUser = batch.groupBy(_._1).view.mapValues(_.length).toMap
    for ((u, n) <- openPerUser) assert(n == batchPerUser(u) - 1)
  }

  test("plan quality: broadcasts, TakeOrdered top-k, no cartesian joins") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

    // top-k must be TakeOrdered (per-partition k + driver merge), never a
    // global sort followed by limit
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
    assert(plan("sim_topk_brute").contains("TakeOrderedAndProject"))
    // dimension joins broadcast
    assert(plan("q_join3").contains("BroadcastHashJoin"))
    assert(plan("q_broadcast_join").contains("BroadcastHashJoin"))
    // candidate-generation joins are equi-joins on bounded keys — a
    // CartesianProduct anywhere in the dedup family is a scale bug
    for (q <- Seq("dedup_ngram_jaccard", "dedup_minhash", "dedup_simhash",
        "dedup_embedding")) {
      assert(!plan(q).contains("CartesianProduct"), s"$q plans a cross join")
    }
    // search evaluates the algebra per document over one grouped scan:
    // above the session-cached index, a positive query plans no join
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case _ => p.children.flatMap(nodes)
    })
    val searchPlan = SparkEntry.queries("search_and")(spark, sfDir)
      .queryExecution.executedPlan
    assert(nodes(searchPlan).collect { case j: BaseJoinExec => j }.isEmpty,
      s"search_and plans a join:\n$searchPlan")
  }

  test("bucketed tables join and aggregate without a shuffle exchange") {
    import graft.ops.Bucketing
    val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    Bucketing.writeBucketed(l, "li_bucketed", "l_orderkey", 4)
    Bucketing.writeBucketed(
      o.withColumnRenamed("o_orderkey", "l_orderkey"), "ord_bucketed",
      "l_orderkey", 4)
    val lb = Bucketing.read(spark, "li_bucketed")
    val ob = Bucketing.read(spark, "ord_bucketed")
    // at bench scale the planner prefers broadcast; disable it so the
    // bucketed sort-merge path (the 100 TB shape) is what gets planned
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // co-located join: same key, same bucket count -> no shuffle
      val joined = lb.join(ob, "l_orderkey")
      assert(Bucketing.isShuffleFree(joined), joined.queryExecution.executedPlan)
      assert(joined.count() ==
        l.join(o, l("l_orderkey") === o("o_orderkey")).count())
      // groupBy on the bucket key -> no shuffle either
      val agg = lb.groupBy("l_orderkey").count()
      assert(Bucketing.isShuffleFree(agg), agg.queryExecution.executedPlan)
      // control: the same join on the un-bucketed parquet DOES shuffle
      val plain = l.join(o.withColumnRenamed("o_orderkey", "l_orderkey"),
        "l_orderkey")
      assert(!Bucketing.isShuffleFree(plain))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("IVF top-k recalls most of brute-force top-k") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0).select("embedding")
      .first().getSeq[Float](0).map(_.toDouble)
    val rest = e.filter(col("vec_id") =!= 0)
    val brute = graft.ops.Similarity.bruteForceTopK(rest, q, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = graft.ops.Similarity.ivfTopK(rest, q, 10, k = 8, nProbe = 4)
      .collect().map(_.getLong(0)).toSet
    assert(ivf.size == 10)
    assert((brute intersect ivf).size >= 5,
      s"IVF recall too low: $ivf vs $brute")
    // determinism: same call twice -> same result
    val ivf2 = graft.ops.Similarity.ivfTopK(rest, q, 10, k = 8, nProbe = 4)
      .collect().map(_.getLong(0)).toSet
    assert(ivf == ivf2)
  }

  test("salted join and salted aggregate match their unsalted forms") {
    val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val r = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = l.join(r, "l_orderkey").count()
    assert(graft.ops.Skew.saltedJoin(l, r, "l_orderkey", 8).count() == plain)
    val plainAgg = l.groupBy("l_orderkey")
      .agg(sum("l_quantity").as("sum_l_quantity"), count("*").as("n"))
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getLong(2))).toSet
    val salted = graft.ops.Skew.saltedAggregate(l, "l_orderkey", "l_quantity", 8)
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getLong(2))).toSet
    assert(salted.map(t => (t._1, t._3)) == plainAgg.map(t => (t._1, t._3)))
    // double sums may differ in combination order; compare rounded
    assert(salted.map(t => (t._1, math.round(t._2 * 100))) ==
      plainAgg.map(t => (t._1, math.round(t._2 * 100))))
  }

  test("streaming dedup drops duplicate keys within the watermark") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_dedup_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(streamDir.toString).schema
    val stream = graft.sources.Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(streamDir.toString))
    // duplicate every event by unioning with itself
    val doubled = stream.unionByName(stream)
    val q = StreamingOps.streamingDedup(doubled, Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val n = spark.table("dedup_test").count()
      val expected = graft.sources.Tables.events(spark, sfDir).count()
      assert(n == expected)
    } finally q.stop()
  }

  test("multimodal resize clamps to target box; frame sampling strides") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val media = Multimodal.syntheticMedia(docs).as[Multimodal.MediaRecord]
    val resized = Multimodal.resizeImages(media, 32, 32).collect()
    resized.filter(_.kind == "image").foreach { m =>
      assert(m.width <= 32 && m.height <= 32 && m.width >= 1 && m.height >= 1)
    }
    // non-images pass through untouched
    val origByIds = media.collect().map(m => m.media_id -> m).toMap
    resized.filter(_.kind != "image").foreach(m =>
      assert(m.width == origByIds(m.media_id).width))
    val frames = Multimodal.sampleFrames(media, 30).collect()
    assert(frames.nonEmpty)
    val perVideo = frames.groupBy(_.media_id)
    media.filter(_.kind == "video").collect().foreach { m =>
      val expected = (m.n_frames + 29) / 30
      assert(perVideo(m.media_id).length == expected, s"media ${m.media_id}")
    }
  }

  test("multimodal feature extraction is deterministic and schema-stable") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val media = Multimodal.syntheticMedia(docs).as[Multimodal.MediaRecord]
    val f1 = Multimodal.extractFeatures(media, 64, 64).collect()
      .sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media, 64, 64).collect()
      .sortBy(_.media_id)
    assert(f1.length == docs.count())
    assert(f1.map(_.feature.toSeq).toSeq == f2.map(_.feature.toSeq).toSeq)
    assert(f1.forall(_.feature.length == 8))
  }

  test("query cache: miss computes and stores, hit returns same result") {
    val path = java.nio.file.Files.createTempDirectory("graft_qcache").toString + "/cache"
    val cache = new QueryCache(spark, path)
    assert(cache.get("spark and data").isEmpty)
    val first = cache.searchCached("spark and data", index, docs)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(cache.get("spark and data").isDefined)
    assert(cache.get("SPARK AND DATA").isDefined) // keyed lowercased
    val second = cache.searchCached("spark and data", index, docs)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(first == second && first.nonEmpty)
    // re-put is idempotent (dynamic partition overwrite, no dup rows)
    cache.put("spark and data",
      SearchEngine.search("spark and data", index, docs))
    assert(cache.get("spark and data").get.count() == first.size)
    // hit comes back ranked: must agree with the live search order
    val live = SearchEngine.search("spark and data", index, docs)
      .collect().map(_.getLong(0)).toSeq
    val hit = cache.get("spark and data").get.collect().map(_.getLong(0)).toSeq
    assert(hit == live)
  }

  /** A fresh, not yet created cache directory. */
  def newCachePath(): String =
    java.nio.file.Files.createTempDirectory("graft_qcache").toString + "/cache"

  /** Every file under `root` named by `p`. */
  def filesUnder(root: String)(p: String => Boolean): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.filter(f => p(f.getFileName.toString)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
    finally s.close()
  }

  def pairs(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("query cache: a hit's probe runs no Spark job") {
    val cache = new QueryCache(spark, newCachePath())
    assert(jobsDuring(assert(cache.get("spark and data").isEmpty)) == 0)
    cache.searchCached("spark and data", index, docs)
    assert(jobsDuring(assert(cache.get("spark and data").isDefined)) == 0)
  }

  test("query cache: an entry without its commit marker is a miss") {
    val path = newCachePath()
    val cache = new QueryCache(spark, path)
    val first = pairs(cache.searchCached("spark and data", index, docs))
    // a crashed put: part files written, job never committed
    val markers = filesUnder(path)(_ == "_SUCCESS")
    assert(markers.length == 1)
    java.nio.file.Files.delete(markers.head)
    assert(filesUnder(path)(_.startsWith("part-")).nonEmpty)
    assert(cache.get("spark and data").isEmpty)
    // the next search rewrites and commits the entry
    assert(pairs(cache.searchCached("spark and data", index, docs)) == first)
    assert(cache.get("spark and data").isDefined)
  }

  test("query cache: a committed but corrupt entry fails on read") {
    val path = newCachePath()
    val cache = new QueryCache(spark, path)
    cache.put("spark and data", SearchEngine.search("spark and data", index, docs))
    val parts = filesUnder(path)(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach(f => java.nio.file.Files.write(f, "not parquet".getBytes))
    val hit = cache.get("spark and data")
    assert(hit.isDefined)
    intercept[org.apache.spark.SparkException](hit.get.collect())
  }

  test("query cache: an empty result is cached as an empty entry") {
    val cache = new QueryCache(spark, newCachePath())
    assert(cache.searchCached("zzzmissing", index, docs).collect().isEmpty)
    assert(cache.get("zzzmissing").map(_.count()) == Some(0L))
    // the repeat is answered by the entry: an index that fails whenever it
    // is scanned is never read
    val poisoned = index.filter(raise_error(lit("index scanned")).isNull)
    assert(cache.searchCached("zzzmissing", poisoned, docs).collect().isEmpty)
  }

  test("query cache: keys escape like partition values and read as one table") {
    import spark.implicits._
    val path = newCachePath()
    val cache = new QueryCache(spark, path)
    val queries = Seq("Spark/Data", "a:b and c", "100% (sure)", "x=y or Z", "Mixed Case")
    val entries = queries.zipWithIndex.map { case (q, i) =>
      q -> Seq((i.toLong, 1.0 + i), (i + 10L, 0.5)) }
    for ((q, es) <- entries) cache.put(q, es.toDF("doc_id", "score"))
    for ((q, es) <- entries) {
      assert(pairs(cache.get(q).get) == es, s"round trip of '$q'")
      assert(pairs(cache.get(q.toUpperCase).get) == es, s"upper-case key of '$q'")
    }
    // the whole cache is one table partitioned by (qhash, query)
    val all = spark.read.parquet(path)
    assert(all.select("query").distinct().as[String].collect().toSet ==
      queries.map(_.toLowerCase).toSet)
    assert(all.count() == entries.map(_._2.length).sum)
    // and its entry directories are the ones Spark's partitioned writer
    // makes for the same keys
    val written = newCachePath()
    entries.map { case (q, es) =>
      val k = q.toLowerCase
      es.toDF("doc_id", "score").withColumn("query", lit(k))
        .withColumn("qhash", lit(math.abs(k.hashCode % 64)))
    }.reduce(_ unionByName _)
      .write.partitionBy("qhash", "query").parquet(written)
    def entryDirs(root: String): Set[String] =
      filesUnder(root)(_.startsWith("part-")).map(f =>
        java.nio.file.Paths.get(root).relativize(f.getParent).toString).toSet
    assert(entryDirs(path) == entryDirs(written))
  }

  test("search compiler runs unchanged over a BM25-scored index") {
    val bm25Idx = graft.search.Scoring.bm25Postings(docs)
    val tfidfDocs = SearchEngine.search("spark and data", index, docs)
      .collect().map(_.getLong(0)).toSet
    val bm25Ranked = SearchEngine.search("spark and data", bm25Idx, docs)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // same boolean semantics (doc sets), different scorer
    assert(bm25Ranked.map(_._1).toSet == tfidfDocs)
    assert(bm25Ranked.forall(_._2 > 0))
  }

  test("xml scan: file ingestion via lineSep record delimiter") {
    val dir = java.nio.file.Files.createTempDirectory("graft_xml")
    val xml = graft.sources.XmlScan.toPageXml(docs.limit(20))
      .collect().map(_.getString(1)).mkString("\n")
    java.nio.file.Files.writeString(dir.resolve("dump.xml"), xml)
    // the real ingestion path: record-delimited text scan, one row per
    // <page> block (reference XMLInputFormat semantics)
    val records = spark.read.option("lineSep", "</page>")
      .text(dir.resolve("dump.xml").toString)
      .filter(length(trim(col("value"))) > 0)
    val parsed = graft.sources.XmlScan.parsePages(records).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    val orig = docs.limit(20).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(parsed == orig)
  }

  test("xml scan: page records round-trip through tag extraction") {
    val back = graft.sources.XmlScan.parsePages(
      graft.sources.XmlScan.toPageXml(docs)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val orig = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), s"doc-${r.getLong(0)}", r.getString(1)))
    assert(back.sortBy(_._1).toSeq == orig.sortBy(_._1).toSeq)
  }

  test("extensions: graft_cosine / graft_dot callable from SQL") {
    // injectFunction path needs builder-time extensions; registering on
    // the live session's registry exercises the same builders
    val ext = new GraftExtensions
    val reg = spark.sessionState.functionRegistry
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    reg.createOrReplaceTempFunction("graft_cosine",
      exprs => graft.functions.CosineSimilarity(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_dot",
      exprs => graft.functions.DotProduct(exprs(0), exprs(1)), "scala_udf")
    spark.read.parquet(s"$sfDir/embeddings.parquet").createOrReplaceTempView("emb")
    val r = spark.sql(
      """SELECT graft_cosine(embedding, embedding) AS c,
        |       graft_dot(embedding, embedding) AS d
        |FROM emb LIMIT 5""".stripMargin).collect()
    assert(r.forall(row => math.abs(row.getDouble(0) - 1.0) < 1e-9))
    assert(r.forall(row => row.getDouble(1) > 0))
  }

  test("native cosine expression is bit-identical to column algebra") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q"))
    val hof = aggregate(zip_with(col("embedding"), col("q"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x) /
      (sqrt(aggregate(transform(col("embedding"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x)) *
       sqrt(aggregate(transform(col("q"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x)))
    val both = e.crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.VectorExpressions.cosine(col("embedding"), col("q")).as("native"),
        hof.as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"vec ${r.getLong(0)}: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }
    // null inputs propagate
    val nullRes = e.limit(1)
      .select(graft.functions.VectorExpressions.cosine(
        lit(null).cast("array<float>"), col("embedding")).as("c"))
      .collect()(0)
    assert(nullRes.isNullAt(0))
    // a null ELEMENT also propagates, matching zip_with semantics
    val withNullElem = e.limit(1).select(
      graft.functions.VectorExpressions.cosine(
        array(lit(1.0f), lit(null).cast("float")), col("embedding")).as("c"),
      graft.functions.VectorExpressions.dot(
        array(lit(1.0f), lit(null).cast("float")), col("embedding")).as("d"))
      .collect()(0)
    assert(withNullElem.isNullAt(0) && withNullElem.isNullAt(1))
  }

  test("typed SimHash aggregator is bit-identical to the column form") {
    val colFp = graft.ops.Dedup.simHash(docs, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val aggFp = graft.ops.Dedup.simHashAgg(docs, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(colFp.nonEmpty && aggFp == colFp)
  }

  test("typed MinHash aggregator is bit-identical to the column form") {
    val colSigs = graft.ops.Dedup.minHashSignatures(docs, 3, 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val aggSigs = graft.ops.Dedup.minHashSignaturesAgg(docs, 3, 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    assert(colSigs.nonEmpty)
    assert(aggSigs.keySet == colSigs.keySet)
    for ((id, sig) <- colSigs) assert(aggSigs(id) == sig, s"doc $id")
  }

  test("minhash estimated jaccard tracks exact jaccard on candidates") {
    val exact = graft.ops.Dedup.ngramJaccard(docs, 3, 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val est = graft.ops.Dedup.minHashLsh(docs, 3, 32, 8, 0.0).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(est.nonEmpty)
    for (((a, b), e) <- est) {
      val ex = exact.getOrElse((a, b), 0.0)
      assert(math.abs(e - ex) < 0.45, s"pair ($a,$b): est $e vs exact $ex")
    }
  }
}
