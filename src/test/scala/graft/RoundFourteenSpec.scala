package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.{EventAnalytics, Graph, Maintenance, ScalableRank, TemporalJoins}

/** Round-14 surface: Markov event transitions, interval islands,
  * incremental aggregate maintenance.
  */
class RoundFourteenSpec extends SparkSuite {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // ---- transitions ----

  test("transitions counts per-user consecutive pairs and normalizes") {
    val s = spark
    import s.implicits._
    // user 1: a -> b -> a ; user 2: a -> a  => from a: {b:1, a:1}, from b: {a:1}
    val events = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "a"),
      (1L, ts("2024-01-01 00:01:00"), 2L, "b"),
      (1L, ts("2024-01-01 00:02:00"), 3L, "a"),
      (2L, ts("2024-01-01 00:00:00"), 4L, "a"),
      (2L, ts("2024-01-01 00:03:00"), 5L, "a"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = EventAnalytics.transitions(events)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      ("a", "b") -> ((1L, 0.5)),
      ("a", "a") -> ((1L, 0.5)),
      ("b", "a") -> ((1L, 1.0))))
  }

  test("transitions orders ties by the tie column, probabilities sum to 1") {
    val s = spark
    import s.implicits._
    // same timestamp: event_id breaks the tie, so the sequence is a,b,c
    val events = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10L, "a"),
      (1L, ts("2024-01-01 00:00:00"), 11L, "b"),
      (1L, ts("2024-01-01 00:00:00"), 12L, "c"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val rows = EventAnalytics.transitions(events).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("a", "b"), ("b", "c")))
    val perFrom = EventAnalytics.transitions(events)
      .groupBy("from_type").agg(sum("p").as("tot")).collect()
    assert(perFrom.forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-12))
  }

  // ---- mergeIntervals ----

  test("mergeIntervals collapses overlapping and touching spans") {
    val s = spark
    import s.implicits._
    val iv = Seq(
      // key 1: [1,5] [3,8] touch-> [10,10] [10,12] -> two spans
      (1L, 1, 5), (1L, 3, 8), (1L, 10, 10), (1L, 10, 12),
      // key 2: closed-interval semantics: [1,2] and [2,3] share a point
      (2L, 1, 2), (2L, 2, 3), (2L, 5, 6))
      .toDF("k", "s", "e")
    val got = TemporalJoins.mergeIntervals(iv, Seq("k"), "s", "e")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      (1L, 1, 8, 2L), (1L, 10, 12, 2L),
      (2L, 1, 3, 2L), (2L, 5, 6, 1L)))
  }

  test("mergeIntervals covered length equals brute-force point union") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val iv = (1 to 200).map { _ =>
      val k = rnd.nextInt(3).toLong
      val start = rnd.nextInt(60)
      (k, start, start + rnd.nextInt(8))
    }
    val df = iv.toDF("k", "s", "e")
    val spans = TemporalJoins.mergeIntervals(df, Seq("k"), "s", "e").collect()
    // spans of one key never overlap, and their point coverage matches
    val byKey = spans.groupBy(_.getLong(0))
    for ((k, rows) <- byKey) {
      val sorted = rows.map(r => (r.getInt(1), r.getInt(2))).sortBy(_._1)
      assert(sorted.sliding(2).forall {
        case Array((_, e1), (s2, _)) => s2 > e1
        case _ => true
      })
      val covered = sorted.flatMap { case (a, b) => a to b }.toSet
      val brute = iv.filter(_._1 == k).flatMap { case (_, a, b) => a to b }.toSet
      assert(covered == brute, s"key $k coverage mismatch")
    }
    // n_intervals adds up to the input count per key
    for ((k, rows) <- byKey)
      assert(rows.map(_.getLong(3)).sum == iv.count(_._1 == k))
  }

  // ---- mergeCountSum ----

  test("mergeCountSum of a disjoint split equals the full recompute") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 500).map(i => (rnd.nextInt(20).toLong, (rnd.nextInt(50) + 1).toDouble))
    val df = rows.toDF("k", "v")
    def state(d: org.apache.spark.sql.DataFrame) =
      d.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("total"))
    // split on an arbitrary predicate; halves are disjoint and complete
    val merged = Maintenance.mergeCountSum(
      state(df.filter(col("v") <= 25)), state(df.filter(col("v") > 25)),
      Seq("k"), "n", "total")
    val full = state(df)
    assert(merged.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ==
      full.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
  }

  test("mergeCountSum keeps groups present on only one side") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, 3L, 10.0), (2L, 1L, 5.0)).toDF("k", "n", "total")
    val delta = Seq((2L, 2L, 7.0), (3L, 4L, 1.0)).toDF("k", "n", "total")
    val got = Maintenance.mergeCountSum(base, delta, Seq("k"), "n", "total")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 3L, 10.0), (2L, 3L, 12.0), (3L, 4L, 1.0)))
  }

  // ---- kCore ----

  /** Brute-force peel to the fixpoint on in-memory pairs. */
  private def bruteKCore(edges: Seq[(Long, Long)], k: Int,
                         rounds: Int): Map[Long, Int] = {
    var e = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    var r = 0
    var changed = true
    while (r < rounds && changed) {
      r += 1
      val deg = e.groupBy(_._1).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val next = e.filter { case (a, b) => keep(a) && keep(b) }
      changed = next.size != e.size
      e = next
    }
    e.groupBy(_._1).view.mapValues(_.size).toMap
  }

  test("kCore matches a brute-force peel on a random graph") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5)
    val edges = (1 to 150).map(_ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }.distinct
    val df = edges.toDF("src", "dst")
    for (k <- Seq(2, 3, 4); rounds <- Seq(1, 3)) {
      val got = Graph.kCore(df, k, rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1).toInt)).toMap
      assert(got == bruteKCore(edges, k, rounds), s"k=$k rounds=$rounds")
    }
  }

  test("kCore of a triangle plus pendant drops only the pendant at k=2") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.kCore(df, k = 2, maxRounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (2L, 2L), (3L, 2L)))
  }

  // ---- perKeyTopK ----

  test("perKeyTopK equals the naive per-key window at any bucket count") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (1 to 400).map(i =>
      (s"k${rnd.nextInt(4)}", i.toLong, rnd.nextInt(1000)))
    val df = rows.toDF("key", "id", "score")
    val naive = rows.groupBy(_._1).flatMap { case (k, rs) =>
      rs.sortBy(r => (r._3, r._2)).take(7).zipWithIndex
        .map { case ((key, id, sc), i) => (key, id, sc, i + 1) }
    }.toSet
    for (buckets <- Seq(1, 8, 64)) {
      val got = ScalableRank.perKeyTopK(df, Seq("key"),
          Seq(col("score").asc), "id", k = 7, buckets = buckets)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)))
        .toSet
      assert(got == naive, s"buckets=$buckets")
    }
  }
}
