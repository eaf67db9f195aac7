package perfbench

/** Per-layer metrics from a traced run, each a median over the spans of
  * one kind (one per operation). `layers.json` says which end-to-end
  * metric, on which workload, each one should move.
  */
object LayerMetrics {

  /** Every per-layer metric with its unit, in report order. */
  val Units: Seq[(String, String)] = Seq(
    "DelimTokens.ms" -> "ms", "PorterStem.ms" -> "ms",
    "Indexer.stopWordList.ms" -> "ms", "Indexer.postings.ms" -> "ms",
    "Indexer.postings.shuffle_bytes" -> "bytes",
    "Indexer.writeIndex.ms" -> "ms", "Indexer.writeIndex.files" -> "count",
    "Indexer.writeIndex.bytes" -> "bytes", "Indexer.writeIndex.bytes_per_input_byte" -> "ratio",
    "build.gc_ms" -> "ms", "build.tasks" -> "count",
    "QueryParser.parse.us" -> "us",
    "SearchEngine.search.driver_ms" -> "ms", "SearchEngine.search.job_ms" -> "ms",
    "SearchEngine.search.jobs" -> "count",
    "query.exec_ms" -> "ms", "query.jobs" -> "count", "query.shuffle_bytes" -> "bytes",
    "render.ms" -> "ms",
    "index.bytes_read" -> "bytes", "index.bytes_read_ratio" -> "ratio",
    "index.rows_read_per_result" -> "ratio",
    "QueryCache.get_hit.ms" -> "ms", "QueryCache.get_miss.ms" -> "ms",
    "QueryCache.put.ms" -> "ms", "QueryCache.read.ms" -> "ms", "QueryCache.hit_ratio" -> "ratio",
    "search.gc_ms" -> "ms", "search.tasks" -> "count",
    "searchMany.driver_ms" -> "ms", "searchMany.jobs" -> "count",
    "searchMany.exec_ms" -> "ms", "searchMany.plan_nodes" -> "count",
    "searchMany.shuffle_bytes" -> "bytes",
    "batch.gc_ms" -> "ms", "batch.tasks" -> "count",
    "Dedup.exact.ms" -> "ms", "Dedup.minHashLshVerified.ms" -> "ms",
    "Dedup.clusters.ms" -> "ms", "Dedup.clusters.jobs" -> "count",
    "TextAnalysis.repetitionStats.ms" -> "ms", "TextAnalysis.spanDedup.ms" -> "ms",
    "dedup.shuffle_bytes" -> "bytes", "dedup.spill_bytes" -> "bytes",
    "dedup.gc_ms" -> "ms", "dedup.tasks" -> "count")

  def fill(res: Result, trace: Trace, lab: Lab): Unit = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def ms(name: String): Double = med(trace.named(name).map(_.ms))
    def per(name: String)(f: trace.Work => Double): Double =
      med(trace.named(name).map(s => f(trace.inclusive(s))))
    // a mean, not a median: most short operations see no collection at all
    def gc(spans: Seq[trace.Span]): Double =
      if (spans.isEmpty) 0.0 else spans.map(_.gcMs.toDouble).sum / spans.length

    m("DelimTokens.ms") = ms("DelimTokens")
    m("PorterStem.ms") = ms("PorterStem")

    m("Indexer.stopWordList.ms") = ms("Indexer.stopWordList")
    m("Indexer.postings.ms") = ms("Indexer.postings")
    m("Indexer.postings.shuffle_bytes") = per("Indexer.postings")(_.shuffleWrite.toDouble)
    m("Indexer.writeIndex.ms") = ms("Indexer.writeIndex")
    val indexFiles = Lab.parquetFiles(lab.work.resolve("index").toString)
    val indexBytes = indexFiles.map(_.length).sum.toDouble
    m("Indexer.writeIndex.files") = indexFiles.length
    m("Indexer.writeIndex.bytes") = indexBytes
    m("Indexer.writeIndex.bytes_per_input_byte") = indexBytes / lab.corpus.textBytes
    m("build.gc_ms") = gc(trace.named("build.op"))
    m("build.tasks") = per("build.op")(_.tasks.toDouble)

    m("QueryParser.parse.us") = ms("QueryParser.parse") * 1000.0
    val searches = trace.named("SearchEngine.search")
    m("SearchEngine.search.driver_ms") = med(searches.map(s => s.ms - trace.jobMs(s)))
    m("SearchEngine.search.job_ms") = med(searches.map(trace.jobMs))
    m("SearchEngine.search.jobs") = per("SearchEngine.search")(_.jobs.toDouble)
    m("query.exec_ms") = ms("query.exec")
    m("query.jobs") = per("query.exec")(_.jobs.toDouble)
    m("query.shuffle_bytes") = per("query.exec")(_.shuffleWrite.toDouble)
    m("render.ms") = ms("render")
    // the paper's term-range pruning: index bytes and rows the query's
    // scan read, against the index size and the rows of its terms
    m("index.bytes_read") = med(searches.map(s => trace.inclusive(s).scanBytes.toDouble))
    m("index.bytes_read_ratio") = med(searches.map(s => trace.inclusive(s).scanBytes / indexBytes))
    m("index.rows_read_per_result") = med(searches.flatMap { s =>
      val useful = lab.tracedTerms.getOrElse(s.request, Nil)
        .map(t => lab.corpus.postings.get(t).map(_.length).getOrElse(0)).sum
      if (useful == 0) None else Some(trace.inclusive(s).scanRecords.toDouble / useful)
    })
    m("QueryCache.get_hit.ms") = ms("QueryCache.get_hit")
    m("QueryCache.get_miss.ms") = ms("QueryCache.get_miss")
    m("QueryCache.put.ms") = ms("QueryCache.put")
    m("QueryCache.read.ms") = ms("QueryCache.read")
    val hits = trace.named("QueryCache.get_hit").length
    val misses = trace.named("QueryCache.get_miss").length
    m("QueryCache.hit_ratio") = if (hits + misses == 0) 0.0 else hits.toDouble / (hits + misses)
    val issues = trace.named("search.miss") ++ trace.named("search.hit")
    m("search.gc_ms") = gc(issues)
    m("search.tasks") = med(issues.map(s => trace.inclusive(s).tasks.toDouble))

    val many = trace.named("searchMany")
    m("searchMany.driver_ms") = med(many.map(s => s.ms - trace.jobMs(s)))
    m("searchMany.jobs") = per("searchMany")(_.jobs.toDouble)
    m("searchMany.exec_ms") = ms("searchMany.exec")
    m("searchMany.plan_nodes") = med(lab.planNodes.toSeq.map(_.toDouble))
    m("searchMany.shuffle_bytes") = per("batch.op")(_.shuffleWrite.toDouble)
    m("batch.gc_ms") = gc(trace.named("batch.op"))
    m("batch.tasks") = per("batch.op")(_.tasks.toDouble)

    m("Dedup.exact.ms") = ms("Dedup.exact")
    m("Dedup.minHashLshVerified.ms") = ms("Dedup.minHashLshVerified")
    m("Dedup.clusters.ms") = ms("Dedup.clusters")
    m("Dedup.clusters.jobs") = per("Dedup.clusters")(_.jobs.toDouble)
    m("TextAnalysis.repetitionStats.ms") = ms("TextAnalysis.repetitionStats")
    m("TextAnalysis.spanDedup.ms") = ms("TextAnalysis.spanDedup")
    m("dedup.shuffle_bytes") = per("dedup.op")(_.shuffleWrite.toDouble)
    m("dedup.spill_bytes") = per("dedup.op")(_.spill.toDouble)
    m("dedup.gc_ms") = gc(trace.named("dedup.op"))
    m("dedup.tasks") = per("dedup.op")(_.tasks.toDouble)

    val units = Units.toMap
    require(m.keySet == units.keySet, s"per-layer metrics out of step: ${m.keySet.diff(units.keySet) ++ units.keySet.diff(m.keySet)}")
    for ((k, u) <- Units) res.metrics(k) = (m(k), u)
  }
}
