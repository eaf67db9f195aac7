package graft

import org.apache.spark.sql.functions._

import graft.ops.{Graph, Quality, Stats, TextAnalysis}
import graft.search.{Indexer, Scoring}

/** Round-13 surface: per-doc TF-IDF keywords, declarative quality
  * audit, multi-source BFS, exact-moment statistics.
  */
class RoundThirteenSpec extends SparkSuite {

  // ---- docKeywords ----

  test("docKeywords ranks per-doc terms by score with term tie-break") {
    val s = spark
    import s.implicits._
    // doc 1: "rare" appears once in the corpus (high idf), "common" in
    // all docs (idf 0); doc 1 repeats "boost" (tf lift)
    val docs = Seq(
      (1L, "rare boost boost common alpha"),
      (2L, "common alpha beta"),
      (3L, "common beta gamma")).toDF("doc_id", "text")
    val postings = Indexer.postings(docs, stem = false)
    val got = Scoring.docKeywords(postings, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    // per-doc expected order: doc 1 rare/boost both score
    // (1+log10(tf))*ln(3/df): rare = 1*ln(3) = 1.0986,
    // boost = (1+log10(2))*ln(3) = 1.429 -> boost rank 1, rare rank 2
    assert(got.contains((1L, 1L, "boost")) && got.contains((1L, 2L, "rare")))
    // every doc emits at most k rows, ranks are 1-based contiguous
    val byDoc = Scoring.docKeywords(postings, 2)
      .groupBy("doc_id").agg(collect_list("rank").as("rs"))
      .collect().map(_.getSeq[Long](1).sorted)
    assert(byDoc.forall(rs => rs == (1L to rs.size).toSeq && rs.size <= 2))
  }

  test("docKeywords equals a naive per-doc top-k over the posting table") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "spark data engine spark"),
      (2L, "data quality spark audit"),
      (3L, "quality audit gate"),
      (4L, "engine gate spark data")).toDF("doc_id", "text")
    val postings = Indexer.postings(docs, stem = false)
    val naive = postings
      .collect()
      .map(r => (r.getLong(1), r.getString(0), r.getDouble(5)))
      .groupBy(_._1)
      .flatMap { case (doc, rows) =>
        rows.toSeq.sortBy { case (_, term, score) => (-score, term) }
          .take(3).zipWithIndex
          .map { case ((d, t, sc), i) =>
            (d, i + 1L, t,
              BigDecimal(sc).setScale(4, BigDecimal.RoundingMode.HALF_UP)
                .toDouble) }
      }.toSet
    val got = Scoring.docKeywords(postings, 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    assert(got === naive)
  }

  // ---- Quality.audit ----

  test("audit computes metrics and verdicts for every check kind") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (Some(1L), Some(10.0), "a"),
      (Some(2L), Some(20.0), "b"),
      (Some(2L), Some(999.0), "a"),
      (None, Some(30.0), "c")).toDF("k", "v", "tag")
    val dim = Seq(1L, 2L).toDF("id")
    import Quality._
    val got = Quality.audit(rows, Seq(
      NotNull("k", 0.5),
      NotNull("k", 0.9),
      Unique("k"),
      InRange("v", 0.0, 100.0),
      Satisfies("tag_a", col("tag") === "a", 0.5),
      ForeignKey("k", dim, "id")))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2)))
    assert(got.length === 6)
    val byIdx = got.toIndexedSeq
    assert(byIdx(0) === (("not_null:k", 0.75, true)))
    assert(byIdx(1) === (("not_null:k", 0.75, false)))
    assert(byIdx(2) === (("unique:k", 2.0 / 3.0, false)))
    assert(byIdx(3) === (("in_range:v", 0.75, false)))
    assert(byIdx(4) === (("satisfies:tag_a", 0.5, true)))
    assert(byIdx(5) === (("foreign_key:k", 0.0, true)))
  }

  test("audit flags foreign-key violations and ignores null keys") {
    val s = spark
    import s.implicits._
    val rows = Seq(Some(1L), Some(7L), Some(7L), None).toDF("k")
    val dim = Seq(1L, 2L).toDF("id")
    import Quality._
    val got = Quality.audit(rows, Seq(ForeignKey("k", dim, "id")))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2)))
    // the two k=7 rows violate; the NULL row is ignored
    assert(got.toSeq === Seq(("foreign_key:k", 2.0, false)))
  }

  // ---- bfsDistances ----

  test("bfsDistances labels hop distance and stops at maxDepth") {
    val s = spark
    import s.implicits._
    // path 1-2-3-4-5, separate component 10-11, isolated source 99
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("src", "dst")
    val sources = Seq(1L, 99L).toDF("node")
    val got = Graph.bfsDistances(edges, sources, maxDepth = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // depth capped at 2: nodes 4, 5 unreached; component {10,11}
    // unreachable; isolated source 99 still present at 0
    assert(got === Map(1L -> 0L, 99L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("bfsDistances takes the shortest of multiple source paths") {
    val s = spark
    import s.implicits._
    // ring 1-2-3-4-5-6-1 with sources at 1 and 4: max dist is 1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 1L)).toDF("src", "dst")
    val got = Graph.bfsDistances(edges, Seq(1L, 4L).toDF("node"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 4L -> 0L, 2L -> 1L, 3L -> 1L,
      5L -> 1L, 6L -> 1L))
  }

  // ---- Stats ----

  test("pearson matches Spark's builtin corr and nulls zero variance") {
    val s = spark
    import s.implicits._
    val rows = Seq(("a", 1.0, 2.0), ("a", 2.0, 4.5), ("a", 3.0, 5.5),
      ("a", 4.0, 9.0), ("b", 1.0, 7.0), ("b", 2.0, 7.0))
      .toDF("g", "x", "y")
    val got = Stats.pearson(rows, Seq("g"), "x", "y")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val builtin = rows.filter(col("g") === "a")
      .agg(corr("x", "y")).collect()(0).getDouble(0)
    assert(math.abs(got("a").get - builtin) < 1e-12)
    assert(got("b").isEmpty) // y has zero variance
  }

  test("movingAverage matches a naive trailing-window mean") {
    val s = spark
    import s.implicits._
    val vals = Seq(10.0, 20.0, 5.0, 45.0, 100.0, 2.5, 7.5)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("t", "v")
    val got = Stats.movingAverage(df, "t", "v", 3)
      .orderBy("t").collect().map(_.getDouble(2)).toSeq
    val naive = vals.indices.map { i =>
      val w = vals.slice(math.max(0, i - 2), i + 1); w.sum / w.size
    }
    assert(got.zip(naive).forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("movingZScore matches a naive trailing-window z computation") {
    val s = spark
    import s.implicits._
    val vals = Seq(10.0, 12.0, 11.0, 13.0, 9.0, 50.0, 11.0, 12.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("t", "v")
    val got = Stats.movingZScore(df, "t", "v", 3)
      .orderBy("t").collect()
      .map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    val naive = vals.indices.map { i =>
      if (i < 3) None
      else {
        val w = vals.slice(i - 3, i)
        val mean = w.sum / 3
        val sd = math.sqrt(w.map(x => (x - mean) * (x - mean)).sum / 2)
        if (sd > 0) Some((vals(i) - mean) / sd) else None
      }
    }
    got.zip(naive).foreach {
      case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9)
      case (a, b)             => assert(a.isEmpty && b.isEmpty)
    }
    // the spike at index 5 is the clear anomaly
    assert(got(5).get > 10)
  }

  test("personalizedPageRank concentrates rank near the seed set") {
    val s = spark
    import s.implicits._
    // barbell: seed side {1,2,3} triangle - bridge - far side {4,5,6}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 4L)).toDF("src", "dst")
    val got = Graph.personalizedPageRank(edges, Seq(1L).toDF("node"),
      iterations = 8).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // total mass conserved (symmetrized graph, no dangling nodes)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    // the seed outranks everything; its neighbors outrank the far side
    assert(got(1L) === got.values.max)
    assert(math.min(got(2L), got(3L)) > math.max(got(5L), got(6L)))
  }

  test("weightedSample selects heavier rows more often and is exact-k") {
    val s = spark
    import s.implicits._
    // 50 heavy rows (w=100) vs 950 light rows (w=1): a 30-row sample
    // must over-represent the heavy minority
    val rows = (0L until 1000L).map(i =>
      (i, if (i < 50) 100L else 1L)).toDF("id", "w")
    val got = TextAnalysis.weightedSample(rows, "id", "w", 30, salt = "t")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 30)
    val heavy = got.count(_._2 == 100L)
    // expected heavy share ~ 50*100/(50*100+950) = 84%; demand > half
    assert(heavy > 15, s"heavy rows sampled: $heavy of 30")
    // deterministic: same salt reproduces the identical sample
    val again = TextAnalysis.weightedSample(rows, "id", "w", 30, salt = "t")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === again.toSeq)
    // zero-weight rows can never be sampled
    val withZero = (0L until 10L).map(i => (i, if (i == 0) 0L else 1L))
      .toDF("id", "w")
    val z = TextAnalysis.weightedSample(withZero, "id", "w", 10, salt = "t")
      .collect().map(_.getLong(0))
    assert(z.length === 9 && !z.contains(0L))
  }

  test("streamingQualityGate admits clean batches, quarantines violators") {
    import java.nio.file.{Files, Paths}
    val s = spark
    import s.implicits._
    val base = tmpDir("graft-qgate-")
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    def land(name: String, mtime: Long,
             rows: Seq[(Option[Long], Double)]): Unit = {
      val tmp = s"$base/$name-tmp"
      rows.toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = Paths.get(in, s"$name.parquet")
      Files.copy(part.toPath, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    land("b0", 1000000, Seq((Some(1L), 5.0), (Some(2L), 7.0)))   // clean
    land("b1", 2000000, Seq((Some(3L), 5.0), (None, 900.0)))     // null key + range
    val accept = s"$base/accept"; val quar = s"$base/quarantine"
    val audit = s"$base/audit"
    val schema = spark.read.parquet(s"$in/b0.parquet").schema
    import Quality._
    val q = graft.streaming.StreamingOps.streamingQualityGate(
      spark, in, accept, quar, audit,
      Seq(NotNull("k"), InRange("v", 0.0, 100.0)), schema = Some(schema))
    try q.processAllAvailable() finally q.stop()
    val accepted = spark.read.parquet(accept)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(accepted === Set(1L, 2L))
    val quarantined = spark.read.parquet(quar)
      .select("v").collect().map(_.getDouble(0)).toSet
    assert(quarantined === Set(5.0, 900.0))
    // the audit table records both batches' verdicts
    val verdicts = spark.read.parquet(audit)
      .select(col("batch").cast("long"), col("check"), col("passed"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      .toSet
    assert(verdicts === Set(
      (0L, "not_null:k", true), (0L, "in_range:v", true),
      (1L, "not_null:k", false), (1L, "in_range:v", false)))
  }

  test("audit passes vacuously on an empty table") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Option[Long], Option[Double])].toDF("k", "v")
    import Quality._
    val got = Quality.audit(empty, Seq(
      NotNull("k"), Unique("k"), InRange("v", 0.0, 1.0),
      Satisfies("never", col("k") > 100, 1.0)))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2)))
    assert(got.forall { case (_, m, p) => m === 1.0 && p })
  }
}
