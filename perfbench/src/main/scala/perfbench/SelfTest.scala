package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._

import graft.search.{Indexer, QueryCache}

/** The benchmark's own tests: seeded inputs repeat byte for byte, every
  * oracle accepts the real output and rejects a corrupted one, and the
  * metric names the benchmark emits are the ones `BENCHMARK.json` lists.
  *
  * Usage: `python3 perfbench/run.py --selftest`, from the root of a checkout.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Exception => System.err.println(e); false }
    if (!pass) failures += 1
    println(s"${if (pass) "ok  " else "FAIL"} $name")
  }

  private def rejects(name: String)(verdict: => Option[String]): Unit =
    check(s"rejects $name")(verdict.isDefined)

  private def accepts(name: String)(verdict: => Option[String]): Unit =
    check(s"accepts $name") {
      verdict.foreach(e => System.err.println(s"  $e"))
      verdict.isEmpty
    }

  def main(argv: Array[String]): Unit = {
    inputs()
    names()
    oracles()
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def inputs(): Unit = {
    val a = Corpus.generate(7)
    val b = Corpus.generate(7)
    check("same seed gives byte-identical documents")(
      a.docs.map(_.text).sameElements(b.docs.map(_.text)) && a.plantedPairs == b.plantedPairs)
    check("same seed gives the same query stream")(
      new QueryStream(a, 7).take(60) == new QueryStream(b, 7).take(60))
    check("another seed gives other documents")(
      !Corpus.generate(8).docs.map(_.text).sameElements(a.docs.map(_.text)))
    check("vocabulary words stem to themselves")(
      a.vocab.forall(w => graft.functions.PorterStemmer.stem(w) == w))
    check("corpus has the stated size and planted duplicates")(
      a.docs.length == Sizes.Docs && a.plantedPairs.nonEmpty &&
        a.docs.forall(d => d.tokens.length >= Sizes.MinTokens && d.tokens.length <= Sizes.MaxTokens))
  }

  private def names(): Unit = {
    val json = new ObjectMapper().readTree(Paths.get("BENCHMARK.json").toFile)
    def list(key: String) = json.get(key).elements().asScala.toSeq
    check("BENCHMARK.json lists the workloads the benchmark runs")(
      list("workloads").map(_.get("name").asText) == Main.Workloads)
    check("BENCHMARK.json lists the end-to-end metrics with their units")(
      list("end_to_end").map(m => m.get("name").asText -> m.get("unit").asText) == Main.EndToEnd)
    check("BENCHMARK.json lists the per-layer metrics with their units")(
      list("per_layer").map(m => m.get("name").asText -> m.get("unit").asText) == LayerMetrics.Units)
    val layers = new ObjectMapper().readTree(Paths.get("perfbench", "layers.json").toFile)
    val sizes = layers.get("sizes")
    check("layers.json states the generator's sizes")(
      sizes.get("docs").asInt == Sizes.Docs && sizes.get("vocabulary").asInt == Sizes.Vocabulary &&
        sizes.get("stop_words").asInt == Sizes.StopWords &&
        sizes.get("zipf_exponent").asDouble == Sizes.ZipfExponent &&
        sizes.get("batch_k").asInt == Sizes.BatchK &&
        sizes.get("round_queries").asInt == Sizes.RoundQueries)
    check("layers.json maps every per-layer metric")(
      layers.get("metrics").fieldNames().asScala.toSet == LayerMetrics.Units.map(_._1).toSet)
  }

  private def oracles(): Unit = {
    val work = Paths.get(".bench_build", "perfbench", s"selftest-${ProcessHandle.current().pid()}")
      .toAbsolutePath
    Files.createDirectories(work)
    val spark = Main.session(work)
    try {
      // a fifth of the workloads' corpus: the checks do not depend on size
      val corpus = Corpus.generate(11, Sizes.Docs / 5)
      val lab = new Lab(spark, corpus, work, new Trace(spark.sparkContext, enabled = false))
      lab.writeCorpus()
      val n = corpus.docs.length.toLong

      // build
      val built = lab.build(work.resolve("index").toString)
      val expected = Oracles.expectedDigest(corpus)
      accepts("the built index")(Oracles.checkIndex(expected, built.digest))
      check("stop words match the generator's")(built.stopWords == corpus.stopWords)
      val index = Indexer.readIndex(spark, built.path)
      val rows = index.orderBy("term", "doc_id").limit(100).collect()
      val a = rows(0)
      val b = rows.find(_.getAs[Double]("score") != a.getAs[Double]("score")).get
      val swapped = index.withColumn("score",
        when(col("term") === a.getAs[String]("term") && col("doc_id") === a.getAs[Long]("doc_id"),
          lit(b.getAs[Double]("score")))
          .when(col("term") === b.getAs[String]("term") && col("doc_id") === b.getAs[Long]("doc_id"),
            lit(a.getAs[Double]("score")))
          .otherwise(col("score")))
      rejects("an index with two scores swapped")(
        Oracles.checkIndex(expected, Oracles.indexDigest(swapped, n)))
      rejects("an index with a posting dropped")(Oracles.checkIndex(expected,
        Oracles.indexDigest(index.filter(!(col("term") === a.getAs[String]("term") &&
          col("doc_id") === a.getAs[Long]("doc_id"))), n)))

      // search
      val stream = new QueryStream(corpus, 11)
      val qs = stream.take(QueryStream.Shapes)
      val cache = new QueryCache(spark, work.resolve("cache").toString)
      val slice = Oracles.algebraIndex(lab.slice(index, qs.flatMap(lab.leafTerms)))
      val body = (d: Long) => corpus.docs(d.toInt).text
      val pages = qs.map(q => q -> lab.issue(cache, index, q, repeat = false).rows).toMap
      val hits = qs.map(q => q -> lab.issue(cache, index, q, repeat = true).rows).toMap
      for (q <- qs) {
        accepts(s"the page of '$q'")(Oracles.checkPage(q, Oracles.ranking(q, lab.stopSet, slice), pages(q), body))
        accepts(s"the cache hit of '$q'")(Oracles.checkHit(pages(q), hits(q)))
      }
      val (q, page) = pages.toSeq.sortBy(_._1)
        .find(_._2.map(_.score).distinct.length >= 2)
        .getOrElse(sys.error("no page with two distinct scores to corrupt"))
      val oracle = Oracles.ranking(q, lab.stopSet, slice)
      val i = page.indexWhere(_.score != page.head.score)
      val swappedPage = page.updated(0, page(0).copy(score = page(i).score))
        .updated(i, page(i).copy(score = page(0).score))
      rejects("a page with two scores swapped")(Oracles.checkPage(q, oracle, swappedPage, body))
      rejects("a page with a document dropped")(Oracles.checkPage(q, oracle, page.tail, body))
      rejects("a page whose snippet lost its highlights")(Oracles.checkPage(q, oracle,
        page.map(r => r.copy(snippet = r.snippet.replace("<span", "<spam"))), body))
      val other = pages.find(_._1 != q).get._2
      rejects("a stale cache page")(Oracles.checkHit(page, other))

      // batch
      val top = lab.batch(index, qs)
      for (x <- qs) accepts(s"the batch top 10 of '$x'")(
        Oracles.checkTop(Oracles.ranking(x, lab.stopSet, slice), top(x), 10))
      val got = top(q)
      rejects("a batch top 10 with two scores swapped")(Oracles.checkTop(oracle,
        got.updated(0, (got(0)._1, got(i)._2)).updated(i, (got(i)._1, got(0)._2)), 10))
      rejects("a batch top 10 with a document dropped")(Oracles.checkTop(oracle, got.tail, 10))

      // dedup
      val d = lab.dedup(lab.docs)
      accepts("exact dedup groups")(Oracles.checkExact(corpus, d.exact))
      accepts("near-duplicate pairs")(Oracles.checkPairs(corpus, d.pairs, Sizes.MinJaccard))
      accepts("cluster labels")(Oracles.checkClusters(d.pairs.map(p => (p._1, p._2)), d.labels))
      accepts("text statistics")(Oracles.checkTextStats(corpus, d.repTokens, d.spans))
      val planted = corpus.plantedPairs.map { case (x, y) => (math.min(x, y), math.max(x, y)) }.toSet
      val (keep, drop) = d.pairs.partition(p => !planted((p._1, p._2)))
      check("a planted pair to drop")(drop.nonEmpty)
      rejects("pairs missing a planted pair")(Oracles.checkPairs(corpus, keep ++ drop.tail, Sizes.MinJaccard))
      rejects("a pair with a wrong Jaccard")(Oracles.checkPairs(corpus,
        d.pairs.updated(0, d.pairs(0).copy(_3 = d.pairs(0)._3 * 0.9)), Sizes.MinJaccard))
      rejects("a wrong cluster label")(Oracles.checkClusters(d.pairs.map(p => (p._1, p._2)),
        d.labels.updated(0, (d.labels(0)._1, d.labels(0)._1 + 1000000L))))
      rejects("exact groups with one dropped")(Oracles.checkExact(corpus, d.exact.tail))
      rejects("a span dedup that kept a copied document")(Oracles.checkTextStats(corpus, d.repTokens,
        d.spans.map { case (x, k, r) => (x, k, if (r == k) 0L else r) }))
    } finally {
      spark.stop()
      Fs.delete(work.toString)
    }
  }
}
