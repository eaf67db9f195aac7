package graft

import org.apache.spark.sql.functions._

import graft.ops.{Graph, ScalableRank, TextAnalysis}
import graft.search.Scoring

/** Round-11 surface: PageRank power iteration, hashing-trick
  * classifier inference, DSIR importance weights, hybrid (RRF)
  * retrieval.
  */
class RoundElevenSpec extends SparkSuite {

  // ---- PageRank ----

  /** Naive reference: dense power iteration over the symmetrized
    * adjacency, same update rule.
    */
  private def naivePageRank(edges: Seq[(String, String)], iters: Int,
                            d: Double = 0.85): Map[String, Double] = {
    val und = (edges ++ edges.map { case (a, b) => (b, a) }).distinct
    val nodes = und.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
    val out = und.groupBy(_._1).map { case (k, v) => k -> v.size }
    val n = nodes.size
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val contrib = und.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / out(src) }.sum
      }
      r = nodes.map(v => v -> ((1.0 - d) / n + d * contrib.getOrElse(v, 0.0))).toMap
    }
    r
  }

  test("pageRank matches the naive dense power iteration") {
    val s = spark
    import s.implicits._
    // a hub (a), a chain, and a triangle — distinct degrees throughout
    val edges = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("d", "e"),
      ("e", "f"), ("x", "y"), ("y", "z"), ("z", "x"))
    val got = Graph.pageRank(edges.toDF("src", "dst"), iterations = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = naivePageRank(edges, 3)
    assert(got.keySet === want.keySet)
    for ((k, v) <- want) assert(math.abs(got(k) - v) < 1e-12, s"node $k")
  }

  test("pageRank is invariant to adjacency chunking (maxFanout=1)") {
    val s = spark
    import s.implicits._
    val edges = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("d", "e"),
      ("e", "f"), ("x", "y"), ("y", "z"), ("z", "x"))
    val got = Graph.pageRank(edges.toDF("src", "dst"), iterations = 3,
        maxFanout = 1L) // every neighbor in its own chunk row
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = naivePageRank(edges, 3)
    assert(got.keySet === want.keySet)
    for ((k, v) <- want) assert(math.abs(got(k) - v) < 1e-12, s"node $k")
  }

  test("pageRank rank vector sums to 1 after every iteration count") {
    val s = spark
    import s.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c"))
    for (it <- 1 to 3) {
      val total = Graph.pageRank(edges.toDF("src", "dst"), it)
        .agg(sum("rank")).collect()(0).getDouble(0)
      assert(math.abs(total - 1.0) < 1e-9, s"iterations=$it sum=$total")
    }
  }

  // ---- label propagation ----

  /** Naive reference: synchronous LPA, argmax by (count desc, label
    * asc), neighbors only (self excluded until adopted).
    */
  private def naiveLpa(edges: Seq[(String, String)],
                       iters: Int): Map[String, String] = {
    val und = (edges ++ edges.map { case (a, b) => (b, a) }).distinct
    val nodes = und.flatMap { case (a, b) => Seq(a, b) }.distinct
    val inN = und.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    var lab = nodes.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      lab = nodes.map { v =>
        val counts = inN(v).map(lab).groupBy(identity)
          .map { case (l, o) => (l, o.size) }
        v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    lab
  }

  test("labelPropagation matches the naive synchronous reference") {
    val s = spark
    import s.implicits._
    // two triangles joined by one bridge edge — communities should
    // separate; plus a pendant node
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("p", "q"), ("q", "r"), ("r", "p"), ("c", "p"), ("a", "t"))
    for (iters <- 1 to 3) {
      val got = Graph.labelPropagation(edges.toDF("src", "dst"), iters)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got === naiveLpa(edges, iters), s"iters=$iters")
    }
  }

  // ---- classifier inference ----

  private def md5Feature(tok: String, dim: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(tok.getBytes("UTF-8")).map("%02x".format(_))
      .mkString.take(8)
    java.lang.Long.parseLong(hex, 16) % dim
  }

  test("classifierScore matches a naive per-doc computation") {
    val s = spark
    import s.implicits._
    val dim = 64
    val docs = Seq((1L, "the quick brown fox"), (2L, "lazy dog"),
      (3L, "the the the")).toDF("doc_id", "text")
    val weights = TextAnalysis.hashedWeights(s, dim)
    val w = weights.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = TextAnalysis.classifierScore(docs, weights, dim = dim)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((id, text) <- Seq((1L, "the quick brown fox"), (2L, "lazy dog"),
        (3L, "the the the"))) {
      val toks = text.split(" ").filter(_.nonEmpty).map(_.toLowerCase)
      val margin = toks.map(t => w(md5Feature(t, dim))).sum / toks.length
      val want = 1.0 / (1.0 + math.exp(-margin))
      assert(math.abs(got(id) - want) < 1e-12, s"doc $id")
    }
  }

  test("classifierScore drops token-less documents (unigramLogProb contract)") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "some words"), (2L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.classifierScore(docs,
      TextAnalysis.hashedWeights(s, 16), dim = 16)
    assert(got.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L))
  }

  // ---- DSIR weights ----

  test("dsirWeights matches the naive smoothed log-likelihood ratio") {
    val s = spark
    import s.implicits._
    val rows = Seq((1L, "a b a", true), (2L, "b c", false),
      (3L, "a c c d", true), (4L, "d d", false))
    val docs = rows.toDF("doc_id", "text", "tgt")
    val alpha = 0.5
    val toks = rows.flatMap { case (id, t, tgt) =>
      t.split(" ").filter(_.nonEmpty).map(w => (id, w.toLowerCase, tgt))
    }
    val vocab = toks.map(_._2).distinct
    val rawCt = toks.groupBy(_._2).map { case (w, v) => w -> v.size.toDouble }
    val tgtCt = vocab.map(w =>
      w -> toks.count(x => x._2 == w && x._3).toDouble).toMap
    val rawTotal = toks.size.toDouble
    val tgtTotal = toks.count(_._3).toDouble
    val vs = vocab.size.toDouble
    def llr(w: String): Double =
      math.log10((tgtCt(w) + alpha) / (tgtTotal + alpha * vs)) -
        math.log10((rawCt(w) + alpha) / (rawTotal + alpha * vs))
    val got = TextAnalysis.dsirWeights(docs, col("tgt") === true, alpha)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((id, t, _) <- rows) {
      val want = t.split(" ").filter(_.nonEmpty).map(w => llr(w.toLowerCase)).sum
      assert(math.abs(got(id) - want) < 1e-12, s"doc $id")
    }
    // target docs should on average score higher than non-target docs
    val tgtMean = rows.filter(_._3).map(r => got(r._1)).sum / 2
    val rawMean = rows.filterNot(_._3).map(r => got(r._1)).sum / 2
    assert(tgtMean > rawMean)
  }

  // ---- exact global quantiles ----

  test("globalQuantiles picks the value at rank ceil(q*n) for any bucket width") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    // duplicates, negatives, and a null — exclusion + ties covered
    val vals = Seq.fill(500)(math.floor(rnd.nextDouble() * 200 - 100) / 4.0)
    val df = (vals.map(Option(_)) :+ Option.empty[Double]).toDF("v")
    val sorted = vals.sorted
    val qs = Seq(0.01, 0.25, 0.5, 0.75, 1.0)
    val want = qs.map(q =>
      q -> sorted(math.ceil(q * vals.size).toLong.toInt - 1)).toMap
    for (width <- Seq(0.1, 7.0, 1000.0)) {
      val got = ScalableRank.globalQuantiles(df, "v", qs, width)
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      assert(got === want, s"width=$width")
    }
  }

  test("globalQuantiles second scan touches only target buckets") {
    val s = spark
    import s.implicits._
    val df = (1 to 1000).map(_.toDouble).toDF("v")
    val plan = ScalableRank.globalQuantiles(df, "v", Seq(0.5), 100.0)
      .queryExecution.executedPlan.toString
    // the in-bucket selection join must broadcast the tiny target list
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  // ---- nearest-centroid assignment ----

  test("assignToCentroids matches the naive argmax with id tie-break") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    val embs = (0L until 40L).map(i => (i, vec()))
    val cents = (0L until 5L).map(i => (i, vec()))
    val got = graft.ops.Similarity.assignToCentroids(
        embs.toDF("vec_id", "embedding"),
        cents.toDF("cluster", "centroid"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    for ((id, e) <- embs) {
      val scored = cents.map { case (c, ce) =>
        (c, BigDecimal(cos(e, ce))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      val best = scored.minBy { case (c, v) => (-v, c) }
      assert(got(id)._1 === best._1, s"vec $id")
      assert(math.abs(got(id)._2 - best._2) < 1e-9, s"vec $id cos")
    }
  }

  // ---- hybrid RRF retrieval ----

  test("hybridRrf fuses the two rankings by reciprocal rank") {
    val s = spark
    import s.implicits._
    // doc 1 is the keyword hit, doc 2 the vector hit, doc 3 both
    val docs = Seq(
      (1L, "spark data spark data spark"),
      (2L, "merge sort window"),
      (3L, "spark data row"),
      (4L, "key value store")).toDF("doc_id", "text")
    val emb = Seq(
      (1L, Array(0.1f, 0.9f)), (2L, Array(1.0f, 0.02f)),
      (3L, Array(0.9f, 0.1f)), (4L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Scoring.hybridRrf(docs, emb, Seq("spark", "data"),
      Seq(1.0, 0.0), k = 4, pool = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // text ranking (conjunctive spark+data): docs {1, 3}; vector
    // ranking by cosine to (1,0): 2 > 3 > 1 > 4
    def rrf(tr: Option[Int], vr: Option[Int]): Double =
      BigDecimal(tr.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        vr.map(r => 1.0 / (60 + r)).getOrElse(0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 1 repeats the terms -> text rank 1; doc 3 text rank 2;
    // vector ranks by cosine to (1,0): 2 > 3 > 1 > 4
    assert(got(1L) === rrf(Some(1), Some(3)))
    assert(got(3L) === rrf(Some(2), Some(2)))
    assert(got(2L) === rrf(None, Some(1)))
    assert(got(4L) === rrf(None, Some(4)))
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
    // docs in both lists must outrank docs in only one list
    for (both <- Seq(1L, 3L); single <- Seq(2L, 4L))
      assert(got(both) > got(single), s"$both vs $single")
  }

  test("hybridRrf candidate lists plan as TakeOrderedAndProject (pool-bounded)") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "spark data")).toDF("doc_id", "text")
    val emb = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val plan = Scoring.hybridRrf(docs, emb, Seq("spark"), Seq(1.0, 0.0),
      k = 5, pool = 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"candidate generation should be TakeOrdered, got:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }
}
