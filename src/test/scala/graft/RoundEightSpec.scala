package graft

import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Round-8 surface: bounded MinHash-LSH candidate generation
  * (exact-set collapse, bucket cap, minimum agreeing bands).
  */
class RoundEightSpec extends SparkSuite {

  /** Brute-force exact Jaccard pairs over word 3-gram shingle sets. */
  private def naivePairs(texts: Seq[(Long, String)], minJ: Double): Set[(Long, Long, Double)] = {
    def sh(t: String): Set[String] = {
      val toks = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toVector
      (if (toks.length < 3) Vector.empty
       else toks.sliding(3).map(_.mkString(" ")).toVector).toSet
    }
    val sets = texts.map { case (id, t) => (id, sh(t)) }.filter(_._2.nonEmpty)
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      if j >= minJ
    } yield (a, b, j)).toSet
  }

  private def collected(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("minHashLshVerified finds every duplicate pair even when duplicate groups dwarf the bucket cap") {
    import spark.implicits._
    // 30 copies of one text (group size 30 >> maxBucket 4) + a near-dup
    // pair + unrelated docs: the exact-set collapse must carry the
    // duplicate mass past the cap with recall 1
    val texts: Seq[(Long, String)] =
      (0L until 30L).map(i => (i, "the quick brown fox jumps over the lazy dog tonight")) ++
      Seq(
        (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (101L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (200L, "completely different words about spark shuffles and joins"),
        (201L, "short"))
    val docs = texts.toDF("doc_id", "text")
    val got = collected(Dedup.minHashLshVerified(docs, n = 3, numHashes = 32,
      bands = 32, minJ = 0.2, maxBucket = 4, minBands = 2))
    assert(got == naivePairs(texts, 0.2))
    // the duplicate group alone contributes 30*29/2 pairs at jaccard 1.0
    assert(got.count(_._3 == 1.0) >= 435)
  }

  test("minHashLshVerified respects the bucket cap: boilerplate-only buckets generate no candidates") {
    import spark.implicits._
    // every doc shares ONE hot shingle ("alpha beta gamma") but is
    // otherwise unique; with maxBucket smaller than the corpus, any
    // band whose min lands on the hot shingle is dropped, and since no
    // true pair exists at minJ the output must be empty (a cross join
    // would instead have to consider all 40*39/2 pairs)
    val texts: Seq[(Long, String)] = (0L until 40L).map(i =>
      (i, s"alpha beta gamma unique$i token$i word$i extra$i more$i"))
    val got = Dedup.minHashLshVerified(texts.toDF("doc_id", "text"),
      n = 3, numHashes = 32, bands = 32, minJ = 0.5, maxBucket = 8, minBands = 2)
    assert(got.count() == 0)
  }

  test("minHashLshVerified matches ngramJaccard on the test corpus at the entry's config") {
    val docs = graft.search.Indexer.documents(spark, "/root/testdata/sf0.001")
    val v = Dedup.minHashLshVerified(docs, n = 3, numHashes = 32,
      bands = 32, minJ = 0.2, maxBucket = 16, minBands = 2)
    val e = Dedup.ngramJaccard(docs, n = 3, minJ = 0.2)
    assert(v.exceptAll(e).count() == 0 && e.exceptAll(v).count() == 0)
  }

  test("embeddingNearDupBanded at the production threshold (0.9, 8 planes, 32 tables) is exact on a clustered corpus") {
    import spark.implicits._
    // deterministic clustered vectors: 5 cluster centers, 8 members each
    // at cosine >= ~0.99 to their center (small deterministic
    // perturbation), plus 60 unrelated vectors — the >= 0.9 pair set is
    // the within-cluster pairs, exactly
    def unit(seed: Int, dim: Int): Array[Double] = {
      val v = Array.tabulate(dim)(j =>
        (((seed * 2654435761L + j * 40503L) % 1000003L).toDouble / 1000003.0) - 0.5)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val dim = 16
    val clustered = for {
      c <- 0 until 5; m <- 0 until 8
      base = unit(c + 1, dim)
      noise = unit(1000 + c * 8 + m, dim)
    } yield ((c * 8 + m).toLong,
      base.zip(noise).map { case (b, e) => (b + 0.05 * e).toFloat }.toSeq)
    val loose = (0 until 60).map(i =>
      ((1000 + i).toLong, unit(5000 + i, dim).map(_.toFloat).toSeq))
    val emb = (clustered ++ loose).toDF("vec_id", "embedding")
    val banded = graft.ops.Dedup.embeddingNearDupBanded(emb, minCos = 0.9,
      planesPerTable = 8, tables = 32)
    val exact = graft.ops.Dedup.embeddingNearDupExact(emb, minCos = 0.9)
    assertSameRows(banded, exact)
    // the clusters are real: every within-cluster pair is present
    assert(exact.count() >= 5 * (8 * 7) / 2)
  }

  test("bpeSegmentVocab (executor-side pass) matches the chained mergeRewrite HOF") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val words = Seq(("lowest", 5L), ("lower", 3L), ("newest", 7L),
      ("wideness", 2L), ("a", 1L), ("lle", 4L)).toDF("word", "freq")
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "s"), ("es", "t"),
      ("n", "e"), ("l", "l"))
    val viaUdf = TextAnalysis.bpeSegmentVocab(words, merges)
    // the reference semantics: one greedy leftmost HOF rewrite per merge
    val viaHof = merges.foldLeft(words.withColumn("tokens", split(col("word"), ""))) {
      case (df, (l, r)) => df.withColumn("tokens",
        TextAnalysis.mergeRewrite("tokens", l, r))
    }
    assert(viaUdf.exceptAll(viaHof).count() == 0 &&
      viaHof.exceptAll(viaUdf).count() == 0)
  }

  test("bpeSegmentVocab handles a long merge list without plan blowup") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val words = Seq(("aaaaaaaaaa", 2L)).toDF("word", "freq")
    // 2000 merges would be a 2000-deep expression in the chained-HOF
    // form; the executor-side pass must stay flat and fast
    val merges = Seq(("a", "a")) ++ (1 to 1999).map(i => (s"x$i", s"y$i"))
    val got = TextAnalysis.bpeSegmentVocab(words, merges)
      .select("tokens").as[Seq[String]].head()
    assert(got == Seq("aa", "aa", "aa", "aa", "aa"))
  }

  test("zorderKey sends NULL dimensions to the minimum corner, not the max") {
    import spark.implicits._
    import graft.ops.Maintenance
    val df = Seq((Some(3L), Some(5L)), (None, Some(5L)), (Some(3L), None),
      (Option.empty[Long], Option.empty[Long])).toDF("x", "y")
    val keys = df.select(Maintenance.zorderKey(col("x"), col("y")).as("k"))
      .as[Long].collect()
    val kBoth = keys(0)
    assert(keys(3) == 0L)           // all-null row = origin
    assert(keys(1) < kBoth && keys(2) < kBoth) // null dim zeroes its bits
    // and equals the key with the null dimension replaced by 0
    val zeroX = df.select(Maintenance.zorderKey(lit(0L), col("y")).as("k"))
      .as[Long].collect()(1)
    assert(keys(1) == zeroX)
  }

  test("setDigest is injective where a separator join is not") {
    import spark.implicits._
    // both sets join to the same string under any single-separator
    // scheme when elements may contain the separator; the length
    // prefix keeps them apart
    val a = Seq("x\u0000y", "z")
    val b = Seq("x", "y\u0000z")
    val got = Seq((1L, a), (2L, b)).toDF("doc_id", "sh")
      .select(Dedup.setDigest(col("sh")).as("k")).as[String].collect()
    assert(got(0) != got(1))
    // and equal sets digest equal
    val same = Seq((1L, a), (2L, a)).toDF("doc_id", "sh")
      .select(Dedup.setDigest(col("sh")).as("k")).as[String].collect()
    assert(same(0) == same(1))
  }

  test("zorderKey treats cast-to-null values like NULL (minimum corner)") {
    import spark.implicits._
    import graft.ops.Maintenance
    // under ANSI (the default) a malformed cast throws loudly — fine;
    // this guards the ANSI-off deployments where it yields null instead
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val df = Seq(("abc", "5"), ("3", "5")).toDF("x", "y")
      val keys = df.select(Maintenance.zorderKey(col("x"), col("y")).as("k"))
        .as[Long].collect()
      // non-numeric x casts to null -> contributes 0, same as lit(0)
      val zeroX = df.select(Maintenance.zorderKey(lit(0L), col("y")).as("k"))
        .as[Long].collect()(0)
      assert(keys(0) == zeroX && keys(0) < keys(1))
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("spread leaves frames with exchange lineage untouched even when forced") {
    import graft.search.Analyzer
    val docs = graft.search.Indexer.documents(spark, "/root/testdata/sf0.001")
    val agged = docs.groupBy("doc_id").agg(first("text").as("text")).coalesce(1)
    val out = Analyzer.spread(agged, minBytesPerPartition = 0L)
    // not repartitioned: the upstream aggregate's shuffle already owns
    // the layout, and probing .rdd under AQE would run it eagerly
    assert(out.queryExecution.logical eq agged.queryExecution.logical)
  }

  test("spread is size-gated: tiny inputs pass through, forced spread repartitions") {
    import graft.search.Analyzer
    val docs = graft.search.Indexer.documents(spark, "/root/testdata/sf0.001")
    val small = docs.coalesce(1)
    // a few-hundred-KB single partition is far under the 64 MiB gate:
    // the shuffle would cost more than the parallelism buys
    assert(Analyzer.spread(small).rdd.getNumPartitions == 1)
    // forced (minBytesPerPartition = 0) spreads to defaultParallelism
    assert(Analyzer.spread(small, minBytesPerPartition = 0L)
      .rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    // already-parallel inputs are untouched even when forced
    val wide = docs.repartition(spark.sparkContext.defaultParallelism + 4)
    assert(Analyzer.spread(wide, minBytesPerPartition = 0L)
      .rdd.getNumPartitions == spark.sparkContext.defaultParallelism + 4)
  }

  test("shingles and shingleSets agree (explode of the set array = distinct shingle rows)") {
    val docs = graft.search.Indexer.documents(spark, "/root/testdata/sf0.001").limit(100)
    val viaRows = Dedup.shingles(docs, 3)
    val viaSets = Dedup.shingleSets(docs, 3)
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
    assertSameRows(viaRows, viaSets)
    // set arrays are canonical: sorted, no duplicates
    val bad = Dedup.shingleSets(docs, 3).filter(
      col("sh") =!= sort_array(array_distinct(col("sh")))).count()
    assert(bad == 0)
  }
}
