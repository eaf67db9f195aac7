package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.{EventAnalytics, Graph, ScalableRank, TextAnalysis}

/** Round-12 surface: connected-components façade, bipartite
  * co-occurrence projection, degree-ordered triangle counting,
  * neighborhood-Jaccard related items, PMI collocations.
  */
class RoundTwelveSpec extends SparkSuite {

  // deterministic pseudo-random edge list (no Random: reproducible)
  private def synthEdges(n: Int, m: Int): Seq[(Long, Long)] =
    (0 until m).map { i =>
      val a = (i * 2654435761L) % n
      val b = (i * 40503L + 7) % n
      (a, b)
    }

  // ---- connected components ----

  test("connectedComponents labels each node with min reachable id") {
    val s = spark
    import s.implicits._
    // components {1,2,3}, {10,11}, self-loop 20 dropped, {30,31,32,33}
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (20L, 20L),
      (30L, 31L), (31L, 32L), (32L, 33L), (33L, 30L))
    val got = Graph.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L))
  }

  // ---- bipartite projection ----

  private def naiveProject(pairs: Seq[(String, Long)], cap: Int,
                           minShared: Long): Map[(Long, Long), Long] = {
    val sets = pairs.distinct.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.sorted)
      .filter { case (_, is) => is.size >= 2 && is.size <= cap }
    val counts = scala.collection.mutable.Map.empty[(Long, Long), Long]
    for ((_, is) <- sets; i <- is.indices; j <- (i + 1) until is.size)
      counts((is(i), is(j))) = counts.getOrElse((is(i), is(j)), 0L) + 1L
    counts.filter(_._2 >= minShared).toMap
  }

  test("bipartiteProject matches naive pair counting; hub cap drops groups") {
    val s = spark
    import s.implicits._
    val pairs = (0 until 200).map(i =>
      (s"g${i % 23}", (i * 7919L) % 40)) ++
      // a hub group with 10 items (over cap 8) plus a duplicate pair
      (0 until 10).map(i => ("hub", 100L + i)) :+ ("g1", (7919L % 40))
    for ((cap, minShared) <- Seq((8, 1L), (8, 2L), (1000, 1L))) {
      val got = Graph.bipartiteProject(pairs.toDF("g", "i"), "g", "i",
          maxFanout = cap, minShared = minShared)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got === naiveProject(pairs, cap, minShared),
        s"cap=$cap minShared=$minShared")
      if (cap == 8)
        assert(!got.keys.exists { case (a, b) => a >= 100L || b >= 100L },
          "hub group must be dropped")
    }
  }

  // ---- triangle counting ----

  private def naiveTriangles(edges: Seq[(Long, Long)])
      : Map[Long, (Long, Long, Double)] = {
    val canon = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val nodes = canon.flatMap(e => Seq(e._1, e._2)).distinct
    val adj = nodes.map(v => v -> canon.collect {
      case (a, b) if a == v => b
      case (a, b) if b == v => a
    }.toSet).toMap
    val triCount = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    val es = canon.toSet
    for ((a, b) <- canon; c <- nodes if c > b)
      if (es.contains((a, c)) && es.contains((b, c))) {
        triCount(a) += 1; triCount(b) += 1; triCount(c) += 1
      }
    nodes.map { v =>
      val d = adj(v).size.toLong
      val t = triCount(v)
      val coeff = if (d >= 2) 2.0 * t / (d * (d - 1)) else 0.0
      v -> (d, t, coeff)
    }.toMap
  }

  test("triangleCounts matches brute-force enumeration") {
    val s = spark
    import s.implicits._
    // hand case: K4 plus a pendant and an isolated edge
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (8L, 9L))
    // plus a denser pseudo-random graph (dup edges + self loops mixed in)
    val rand = synthEdges(30, 150)
    for (edges <- Seq(k4, rand)) {
      val got = Graph.triangleCounts(edges.toDF("src", "dst"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getDouble(3)))).toMap
      assert(got === naiveTriangles(edges))
    }
  }

  test("triangleCounts on a triangle-free bipartite graph is all zero") {
    val s = spark
    import s.implicits._
    val edges = for (a <- 0L to 4L; b <- 10L to 13L) yield (a, b)
    val got = Graph.triangleCounts(edges.toDF("src", "dst")).collect()
    assert(got.length === 9)
    assert(got.forall(r => r.getLong(2) == 0L && r.getDouble(3) == 0.0))
  }

  // ---- related by neighbors ----

  test("relatedByNeighbors ranks pairs by neighborhood Jaccard") {
    val s = spark
    import s.implicits._
    // degrees: d1=3 (a,b,c), d2=2 (a,b), d3=2 (c,d), d4=1 (d)
    val pairs = Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L),
      ("c", 1L), ("c", 3L), ("d", 3L), ("d", 4L))
    val got = Graph.relatedByNeighbors(pairs.toDF("g", "i"), "g", "i",
        k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.head === ((1L, 2L, 2L, 2.0 / 3.0)))
    val asMap = got.map(t => (t._1, t._2) -> t._4).toMap
    assert(asMap((1L, 3L)) === 1.0 / 4.0) // d1=3, d3=2, shared 1
    assert(asMap((3L, 4L)) === 1.0 / 2.0)
    // sorted by jaccard desc then keys
    assert(got.map(_._4).sliding(2).forall(w => w(0) >= w(1)))
  }

  // ---- funnel ----

  test("funnel counts greedy earliest-match step completion") {
    val s = spark
    import s.implicits._
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    val events = Seq(
      // u1 completes a->b->c in order
      (1L, "a", ts(0)), (1L, "b", ts(1)), (1L, "c", ts(2)),
      // u2 has b BEFORE a, then no later b: stops after a
      (2L, "b", ts(0)), (2L, "a", ts(1)), (2L, "c", ts(2)),
      // u3 completes with interleaved noise and late events
      (3L, "x", ts(0)), (3L, "a", ts(5)), (3L, "b", ts(5)), // tie: NOT after
      (3L, "b", ts(6)), (3L, "c", ts(7)),
      // u4 never does step a
      (4L, "b", ts(0)), (4L, "c", ts(1)))
      .toDF("user_id", "event_type", "ts")
    val got = EventAnalytics.funnel(events, Seq("a", "b", "c"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got === Seq((0, "a", 3L), (1, "b", 2L), (2, "c", 2L)))
  }

  // ---- retention ----

  test("retention cohorts by first week with integer offsets") {
    val s = spark
    import s.implicits._
    // 2024-01-01 is a Monday
    def day(d: Int) = Timestamp.valueOf(f"2024-01-${d}%02d 10:00:00")
    val events = Seq(
      (1L, day(1)), (1L, day(2)),          // w0 twice -> one w0 row
      (1L, day(9)),                        // w1
      (2L, day(3)),                        // w0 only
      (3L, day(10)), (3L, day(22)))        // cohort w1, active offset 2
      .toDF("user_id", "ts")
    val got = EventAnalytics.retention(events)
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      ("2024-01-01", 0) -> 2L, ("2024-01-01", 1) -> 1L,
      ("2024-01-08", 0) -> 1L, ("2024-01-08", 2) -> 1L))
  }

  // ---- PPS systematic sampling ----

  private def naivePps(weights: Seq[(Long, Long)], k: Int)
      : Map[Long, Long] = {
    val total = weights.map(_._2).sum
    var cum = 0L
    val picks = scala.collection.mutable.Map.empty[Long, Long]
    for ((id, w) <- weights.sortBy(_._1)) {
      // picks j with cum <= (2j+1)*total/(2k) < cum + w, exactly
      val n = (0 until k).count { j =>
        val pos2 = (2L * j + 1) * total // position * 2k
        2L * k * cum <= pos2 && pos2 < 2L * k * (cum + w)
      }
      if (n > 0) picks(id) = n.toLong
      cum += w
    }
    picks.toMap
  }

  test("ppsSample matches the exact systematic grid and sums to k") {
    val s = spark
    import s.implicits._
    val weights = Seq((1L, 5L), (2L, 0L), (3L, 100L), (4L, 1L),
      (5L, 17L), (6L, 3L), (7L, 0L), (8L, 41L))
    for (k <- Seq(1, 3, 10, 50)) {
      val got = ScalableRank.ppsSample(weights.toDF("doc_id", "w"), "w",
          k, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got === naivePps(weights, k), s"k=$k")
      assert(got.values.sum === k.toLong, s"k=$k total")
      assert(!got.contains(2L) && !got.contains(7L), "zero weight picked")
    }
    // all-zero weights: no picks, no divide-by-zero
    val empty = ScalableRank.ppsSample(
      Seq((1L, 0L), (2L, 0L)).toDF("doc_id", "w"), "w", 5, "doc_id")
    assert(empty.count() === 0L)
  }

  // ---- PMI collocations ----

  test("collocations computes textbook PMI on a tiny corpus") {
    val s = spark
    import s.implicits._
    // "x y" appears 3 times, tokens: x:3 y:3 z:2 -> 8 tokens, 6 bigrams
    val docs = Seq((1L, "x y z x y"), (2L, "x y z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.collocations(docs, minFreq = 2L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    val pXY = 3.0 / 6.0
    val expected = math.log10(pXY / ((3.0 / 8.0) * (3.0 / 8.0)))
    assert(got("x y")._1 === 3L)
    assert(math.abs(got("x y")._2 - expected) < 1e-12)
    assert(got("y z")._1 === 2L)
    assert(!got.contains("z x")) // freq 1 < minFreq
  }
}
