package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{Dedup, Maintenance, Similarity, TextAnalysis}

/** Round-18 surface: oracle-exact k-means, incremental connected
  * components (merge ≡ rebuild), CCNet perplexity buckets, snapshot
  * diff, and the prefix-sum compaction planner.
  */
class RoundEighteenSpec extends SparkSuite {

  // ---- kMeansExact ----

  private def vecs(rows: Seq[(Long, Seq[Float])]): DataFrame = {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("kMeansExact rounds=0 assigns every vector to its nearest seed") {
    // seeds are vec_id 0 and 1; vectors 2/3 sit exactly on them
    val e = vecs(Seq(
      0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f),
      2L -> Seq(0.9f, 0.1f), 3L -> Seq(0.1f, 0.9f)))
    val got = Similarity.kMeansExact(e, k = 2, rounds = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 1L))
  }

  test("kMeansExact is partitioning-invariant (integer-scaled sums)") {
    val base = (0L until 40L).map(i =>
      (i, Seq((math.sin(i * 1.7) + 2).toFloat, (math.cos(i * 2.3) + 2).toFloat,
        ((i % 7) * 0.1 + 1).toFloat)))
    val a = Similarity.kMeansExact(vecs(base), k = 3, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Similarity.kMeansExact(vecs(base).repartition(7), k = 3, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b)
  }

  test("kMeansExact: an emptied cluster keeps its previous centroid") {
    // seed 1 = vec 1, an outlier nobody (including itself, after round
    // 1) assigns to once the other centroid moves; k-means must not
    // NPE or drop the cluster id from the model
    val e = vecs(Seq(
      0L -> Seq(1f, 0f), 1L -> Seq(0.8f, 0.6f),
      2L -> Seq(1f, 0.01f), 3L -> Seq(1f, -0.01f), 4L -> Seq(0.99f, 0f)))
    val out = Similarity.kMeansExact(e, k = 2, rounds = 3)
    assert(out.count() === 5)
    // ties/arithmetic aside, every vector got SOME cluster from {0, 1}
    assert(out.select("cluster").distinct().collect()
      .map(_.getLong(0)).toSet.subsetOf(Set(0L, 1L)))
  }

  test("kMeansExact argmax ties break to the smaller centroid id") {
    // two identical seeds: at rounds=0 every vector's rounded cosine
    // ties across both centroids, so all rows must land on centroid 0
    val e = vecs(Seq(
      0L -> Seq(1f, 0f), 1L -> Seq(1f, 0f),
      2L -> Seq(0.5f, 0.5f), 3L -> Seq(0f, 1f)))
    val got = Similarity.kMeansExact(e, k = 2, rounds = 0)
      .select("cluster").distinct().collect().map(_.getLong(0)).toSet
    assert(got === Set(0L))
  }

  // ---- clustersIncremental ----

  private def pairsOf(docs: DataFrame): DataFrame =
    Dedup.ngramJaccard(docs, 2, 0.3)

  private def labelSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("clustersIncremental merge equals rebuild at several batch splits") {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    // 3 near-dup families + noise; family members share enough bigrams
    val all = (1L to 30L).map { i =>
      val fam = i % 3
      val text =
        if (i <= 24) s"family $fam common phrase shared by group $fam again $fam"
        else s"unique noise document number $i with nothing shared $i"
      (i, text)
    }
    val allDf = all.toDF("doc_id", "text")
    for (split <- Seq(5L, 15L, 24L, 29L)) {
      val base = allDf.filter(col("doc_id") <= split)
      val delta = allDf.filter(col("doc_id") > split)
      val baseLabels = Dedup.clusters(pairsOf(base))
      val cross = Dedup.crossJaccard(base, delta, 2, 0.3,
        maxHeldoutDf = Int.MaxValue).select("doc_a", "doc_b")
      val intra = pairsOf(delta).select("doc_a", "doc_b")
      val merged = Dedup.clustersIncremental(baseLabels,
        cross.unionByName(intra))
      val rebuilt = Dedup.clusters(pairsOf(allDf))
      assert(labelSet(merged) === labelSet(rebuilt), s"split at $split")
    }
  }

  test("clustersIncremental: a delta edge can merge two base clusters") {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    // base has two separate components {1,2} and {10,11}; the delta doc
    // bridges them (shares bigrams with both sides)
    val base = Seq(
      (1L, "alpha bridge one"), (2L, "alpha bridge one"),
      (10L, "omega span two"), (11L, "omega span two")).toDF("doc_id", "text")
    val delta = Seq((20L, "alpha bridge one omega span two"))
      .toDF("doc_id", "text")
    val baseLabels = Dedup.clusters(pairsOf(base))
    // base is two 2-clusters before the delta
    assert(labelSet(baseLabels).map(_._2) === Set(1L, 10L))
    val cross = Dedup.crossJaccard(base, delta, 2, 0.3,
      maxHeldoutDf = Int.MaxValue).select("doc_a", "doc_b")
    val merged = Dedup.clustersIncremental(baseLabels, cross)
    // all five docs collapse to one component rooted at 1
    assert(labelSet(merged) ===
      Set(1L, 2L, 10L, 11L, 20L).map(i => (i, 1L)))
  }

  // ---- perplexityBuckets ----

  test("perplexityBuckets: thirds are balanced and ordered by logprob") {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    // 30 scoreable docs of varying repetitiveness + one unscoreable
    val docs = ((1L to 30L).map { i =>
      val rep = (i % 10 + 1).toInt
      (i, (("token" + (i % 5)) + " ") * rep + s"suffix word number $i")
    } :+ (99L, "single")).toDF("doc_id", "text")
    val out = TextAnalysis.perplexityBuckets(docs)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getString(2)))
    // the <2-token doc has no bigram LM score and drops
    assert(!rows.exists(_._1 == 99L) && rows.length === 30)
    val byBucket = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket.keySet === Set("head", "middle", "tail"))
    assert(byBucket("head").length === 10 && byBucket("tail").length === 10)
    // bucket boundaries respect the score order
    assert(byBucket("head").min >= byBucket("middle").max ||
      byBucket("head").min >= byBucket("middle").min)
    assert(byBucket("middle").min >= byBucket("tail").max ||
      byBucket("middle").min >= byBucket("tail").min)
  }

  test("perplexityBuckets equals a literal NTILE(3) on small data") {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    val docs = (1L to 17L).map(i =>
      (i, s"word${i % 4} word${(i + 1) % 4} word${(i * 3) % 4} tail $i"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.perplexityBuckets(docs)
    val lp = TextAnalysis.bigramLogProb(docs)
      .select(col("doc_id"), round(col("avg_bigram_logprob"), 6).as("lp"))
    val want = lp.withColumn("tile",
        ntile(3).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("lp"), col("doc_id"))))
      .withColumn("bucket", when(col("tile") === 3, "head")
        .when(col("tile") === 2, "middle").otherwise("tail"))
      .select("doc_id", "bucket")
    val g = got.select("doc_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val w = want.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(g === w)
  }

  // ---- snapshotDiff ----

  test("snapshotDiff classifies added/removed/changed and lists columns") {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    val oldS = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("k", "name", "v")
    val newS = Seq((1L, "a", 10), (2L, "B", 25), (4L, "d", 40))
      .toDF("k", "name", "v")
    val got = Maintenance.snapshotDiff(oldS, newS, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(got === Set(
      (2L, "changed", Some("name,v")),
      (3L, "removed", None),
      (4L, "added", None)))
  }

  test("snapshotDiff is NULL-safe: NULL->x changes, NULL->NULL does not") {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    val oldS = Seq((1L, Option.empty[String]), (2L, Option.empty[String]),
      (3L, Option("x"))).toDF("k", "v")
    val newS = Seq((1L, Option("now")), (2L, Option.empty[String]),
      (3L, Option.empty[String])).toDF("k", "v")
    val got = Maintenance.snapshotDiff(oldS, newS, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // key 2 (NULL -> NULL) emits nothing
    assert(got === Set((1L, "changed", "v"), (3L, "changed", "v")))
  }

  test("snapshotDiff rejects mismatched schemas") {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    val a = Seq((1L, "x")).toDF("k", "v")
    val b = Seq((1L, "x", 2)).toDF("k", "v", "extra")
    val e = intercept[IllegalArgumentException] {
      Maintenance.snapshotDiff(a, b, Seq("k"))
    }
    assert(e.getMessage.contains("schemas differ"))
  }

  // ---- compactionPlan ----

  test("compactionPlan matches a literal running-sum plan and bounds bins") {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    val items = (1L to 200L).map(i => (i, (i * 37 % 97 + 3).toInt))
      .toDF("id", "sz")
    val target = 250L
    val got = Maintenance.compactionPlan(items, "id", "sz", target)
      .select("id", "bytes", "bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // brute force: exclusive prefix in id order
    var run = 0L
    val want = (1L to 200L).map { i =>
      val sz = (i * 37 % 97 + 3).toLong
      val bin = run / target
      run += sz
      (i, sz, bin)
    }
    assert(got.toSeq === want)
    // a bin exceeds the target by at most one straddling item
    val maxItem = want.map(_._2).max
    val perBin = want.groupBy(_._3).view.mapValues(_.map(_._2).sum)
    perBin.foreach { case (bin, total) =>
      assert(total <= target + maxItem, s"bin $bin holds $total")
    }
    // bins are contiguous 0..n
    assert(perBin.keySet === (0L until perBin.size).toSet)
  }

  test("compactionPlan survives a repartitioned input (no global window)") {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    val items = (1L to 500L).map(i => (i, 10)).toDF("id", "sz")
    val a = Maintenance.compactionPlan(items, "id", "sz", 100)
      .select("id", "bin").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Maintenance.compactionPlan(items.repartition(13), "id", "sz", 100)
      .select("id", "bin").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b)
    // 500 items x 10 bytes at target 100 = exactly 10 per bin, 50 bins
    assert(a.size === 500)
    assert(a.groupBy(_._2).forall(_._2.size == 10) && a.map(_._2).size === 50)
  }
}
