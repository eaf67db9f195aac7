package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.AnnIndex

/** Round-23 surface: the persisted term-partitioned inverted index
  * driven through a driver query row (pruning asserted on its own
  * plan), the physically-completed IVF append lifecycle, streaming
  * index maintenance serving search with batch parity after a
  * cross-version redelivery, and null-element hardening of the two
  * public native kernels.
  */
class RoundTwentyThreeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def testdata: String =
    sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.001"

  test("search_and_at_rest (the driver entry itself) pushes the term filter " +
      "into the persisted index scan") {
    val df = SparkEntry.queries("search_and_at_rest")(spark, testdata)
    val plan = df.queryExecution.executedPlan.toString
    // the query reads the term-range layout in one scan; its
    // term IN (...) predicate must reach the scan (PushedFilters),
    // where footer min/max stats on the term-sorted files give the
    // reference's query-time partition pruning
    // (code/query/QueryMapred.java:126-162)
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*[Tt]erm.*"),
      s"expected a term PushedFilters on the at-rest index scan:\n$plan")
    // and no checkpoint barrier hides the scan: the at-rest path must
    // NOT materialize the slice into an in-memory table
    assert(!plan.contains("Scan ExistingRDD"),
      "at-rest search must read the parquet layout lazily, " +
        "not a checkpointed slice")
    // value parity with the session-cached path is pinned by the
    // shared search_and oracle; here just require a non-trivial result
    assert(df.count() > 0)
  }

  test("sim_ivf_appended_probe (the driver entry itself) prunes cluster " +
      "partitions over the base∪delta layout") {
    val df = SparkEntry.queries("sim_ivf_appended_probe")(spark, testdata)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*cluster.*"),
      s"expected cluster PartitionFilters in the appended-probe scan:\n$plan")
    assert(df.count() === 10)
  }

  test("search_phrase_at_rest drives proximity over parquet-read positions " +
      "with exact cached-path parity") {
    // the at-rest read hands MinTokenDistance containsNull=true arrays
    // (parquet's array schema) — the kernel's null-skip semantics must
    // leave every proximity-boosted score identical to the
    // session-cached path
    def rows(name: String): Set[(Long, Double)] =
      SparkEntry.queries(name)(spark, testdata)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val atRest = rows("search_phrase_at_rest")
    assert(atRest.nonEmpty)
    assert(atRest === rows("search_phrase"))
    val plan = SparkEntry.queries("search_phrase_at_rest")(spark, testdata)
      .queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*[Tt]erm.*"))
  }

  test("ivfAppend lands the delta physically: base∪delta served by one " +
      "pruned layout, no retrain") {
    val s = spark
    import s.implicits._
    // 3 well-separated directions in 4-d so the k=3 exact-Lloyd seeds
    // (vec_ids 1,2,3 — one per direction) each own a cluster
    def vec(axis: Int, wobble: Double): Seq[Double] =
      (0 until 4).map(d => if (d == axis) 1.0 else wobble)
    val base = (1L to 18L).map(i =>
      (i, vec((i % 3).toInt, 0.01 * (i % 5)))).toDF("vec_id", "embedding")
    val batch = (21L to 26L).map(i =>
      (i, vec((i % 3).toInt, 0.015 * (i % 4)))).toDF("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("graft-ivfapd-").toString + "/ivf"
    val model = AnnIndex.ivfWriteExact(base, path, k = 3, rounds = 1)
    AnnIndex.ivfAppend(model, batch)

    // the layout now physically contains base + delta
    val at = spark.read.parquet(path)
    assert(at.count() === 18 + 6)
    // the appended rows are inside real cluster partitions, and each
    // batch vector shares the cluster of same-axis base vectors (the
    // clusters separate by construction)
    // the partition directory column reads back via type inference
    // (INT here) — normalize to long for the comparisons
    val byCluster = at.select(col("vec_id"), col("cluster").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (21L to 26L).foreach { i =>
      val sameAxisBase = (1L to 18L).filter(_ % 3 == i % 3)
      assert(sameAxisBase.map(byCluster).distinct.size === 1)
      assert(byCluster(i) === byCluster(sameAxisBase.head),
        s"appended vec $i must route to its direction's cluster")
    }
    // a probe over the merged layout still prunes directories and can
    // surface an APPENDED row: query along axis 0 with nProbe=1
    val probe = AnnIndex.ivfTopK(spark, model, vec(0, 0.0), topK = 24,
      nProbe = 1)
    val probePlan = probe.queryExecution.executedPlan.toString
    assert(probePlan.matches("(?s).*PartitionFilters: \\[[^\\]]*cluster.*"))
    val ids = probe.collect().map(_.getLong(0)).toSet
    assert(ids.exists(_ >= 21L), s"probe must see appended rows: $ids")
    assert(ids.exists(_ <= 18L), s"probe must still see base rows: $ids")
    // no retrain happened: the centroids on disk are the BASE-trained
    // ones (ivfAppend never touches <path>.centroids)
    val storedCents = AnnIndex.ivfLoad(spark, path).centroids
    assert(storedCents.map(_._1).toSeq === model.centroids.map(_._1).toSeq)
    assert(storedCents.zip(model.centroids).forall {
      case ((_, a), (_, b)) => a.toSeq == b.toSeq })
  }

  /** Write one parquet FILE into a streaming source dir. */
  private def stage(dir: String, name: String,
                    df: org.apache.spark.sql.DataFrame): Unit = {
    import java.nio.file.{Files, Paths}
    val tmp = s"$dir/__tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, Paths.get(dir, s"$name.parquet"))
  }

  test("streaming-maintained index serves search with exact batch parity " +
      "after a cross-version redelivery") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-serve-").toString
    val in = s"$root/docs-in"; Files.createDirectories(Paths.get(in))
    val statsPath = s"$root/stats"; val ckpt = s"$root/ckpt"

    // two document batches over a small vocabulary; every doc has
    // indexable terms (servedPostings' doc_num counts indexed docs)
    val batch0 = (1L to 40L).map(i =>
      (i, s"alpha ${if (i % 2 == 0) "beta" else "gamma"} delta word$i"))
    val batch1 = (41L to 70L).map(i =>
      (i, s"beta ${if (i % 3 == 0) "alpha" else "epsilon"} word$i"))
    stage(in, "batch0", batch0.toDF("doc_id", "text"))
    stage(in, "batch1", batch1.toDF("doc_id", "text"))

    def runMaintenance(): Unit = {
      val q = graft.streaming.StreamingOps.streamingIndexMaintenance(
        spark, in, statsPath, checkpointDir = Some(ckpt))
      try q.processAllAvailable() finally q.stop()
    }
    runMaintenance()
    // cross-version redelivery: an at-least-once upstream re-emits
    // batch0 as a brand-new file; the resumed query folds it as a NEW
    // batch, landing duplicate (term, doc_id) stats rows at rest
    stage(in, "batch2_redelivered", batch0.toDF("doc_id", "text"))
    runMaintenance()

    // serve: search over the maintained table must EXACTLY equal the
    // same search over a from-scratch batch rebuild of the true corpus
    val docs = (batch0 ++ batch1).toDF("doc_id", "text")
    val served = graft.streaming.StreamingOps.servedPostings(spark, statsPath)
    def scores(index: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      graft.search.SearchEngine.search("alpha and beta", index, docs)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = scores(served)
    val want = scores(graft.search.Indexer.postings(docs))
    assert(got.nonEmpty, "the conjunctive query must match some docs")
    assert(got === want,
      "served scores must be bit-identical to the batch rebuild")
    // the duplicate stats rows are really at rest (the dedup is doing
    // work, not vacuously passing)
    val statRows = graft.streaming.StreamingOps
      .maintainedStats(spark, statsPath)
    assert(statRows.count() >
      statRows.dropDuplicates("term", "doc_id").count(),
      "redelivery must have landed duplicate (term, doc_id) rows")
  }

  test("graft_min_token_distance skips NULL array elements (public SQL surface)") {
    val s = spark
    GraftExtensions.install(s)
    // nulls sit where sort_array puts them (front) and mid-list; the
    // kernel must step over them, never read a null slot as 0
    val r = s.sql(
      """SELECT graft_min_token_distance(array(1, NULL, 7), array(NULL, 5)) AS d,
        |       graft_min_token_distance(array(CAST(NULL AS INT)),
        |                                array(3)) AS all_null,
        |       graft_min_token_distance(array(10, 20), array(13)) AS plain
        |""".stripMargin).collect()(0)
    assert(r.getInt(0) === 2)        // |7-5| beats |1-5|
    assert(r.isNullAt(1))            // no non-null elements -> NULL
    assert(r.getInt(2) === 3)
  }

  test("graft_snippet filters NULL highlight elements (public SQL surface)") {
    val s = spark
    GraftExtensions.install(s)
    val both = s.sql(
      """SELECT graft_snippet('alpha beta gamma', array('alpha', NULL)) AS a,
        |       graft_snippet('alpha beta gamma', array('alpha')) AS b
        |""".stripMargin).collect()(0)
    assert(!both.isNullAt(0), "null highlight element must not NPE")
    assert(both.getString(0) === both.getString(1),
      "a NULL element must render exactly like its absence")
  }
}
