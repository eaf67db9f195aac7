package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.search.{Indexer, QueryCache}

/** Host evidence recorded with every run. */
object Host {
  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), "UTF-8") catch { case _: Exception => "" }

  def nproc: Int = Runtime.getRuntime.availableProcessors()
  def loadavg: String = read("/proc/loadavg").trim.split(" ").take(3).mkString(" ")
  /** Hypervisor steal ticks, the 8th field of /proc/stat's cpu line. */
  def steal: Long = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
    .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)
  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  /** Bytes each live thread has allocated so far, by thread id. */
  def allocated(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadAllocatedBytes(ids)).filter(_._2 >= 0).toMap
  }
  /** Heap bytes allocated by all threads since `before`; Spark's executor
    * threads are pooled, so few allocations die with their thread. */
  def allocatedSince(before: Map[Long, Long]): Long =
    allocated().iterator.map { case (id, b) => b - before.getOrElse(id, 0L) }.sum
  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb: Double = read("/proc/self/status").linesIterator
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** Timings of one kind of operation: successful samples only, failures
  * counted against the attempts. `allocMb` holds every attempted
  * operation's heap allocation, by op index; `okAllocMb` the successful. */
final class Samples {
  val ms = mutable.ArrayBuffer.empty[Double]
  val allocMb = mutable.HashMap.empty[Int, Double]
  val okAllocMb = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  val reasons = mutable.ArrayBuffer.empty[String]

  /** Op `i` passed its checks in `opMs`. */
  def ok(i: Int, opMs: Double): Unit = {
    ms += opMs
    okAllocMb += allocMb(i)
  }

  def fail(reason: String): Unit = {
    failed += 1
    if (reasons.length < 20) reasons += reason
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  /** The highest percentile with at least ten samples beyond it, with the
    * percentile itself; NaN when there are fewer than eleven samples. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.length < 11) (Double.NaN, Double.NaN)
    else {
      val s = xs.sorted
      val idx = s.length - 11
      (s(idx), 100.0 * (idx + 1) / s.length)
    }
}

/** Runs one workload and prints the result line.
  *
  * Usage: `Main --workload <search|batch> --seed <n>
  * --seconds <s> --trace <0|1>`, from the root of the checkout.
  */
object Main {
  val Workloads = Seq("search", "batch")
  /** The traced run's lifecycle. The index build and the dedup operators
    * have no untraced workload of their own (see layers.json): they are
    * measured here, layer by layer. */
  val Phases = Seq("build", "search", "batch", "dedup")
  val EndToEnd = Seq("setup_s" -> "s", "p50_ms" -> "ms", "items_per_s" -> "1/s",
    "alloc_mb_per_op" -> "MB", "peak_rss_mb" -> "MB")
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val a = Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      })
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  /** Spark task slots. The loops are latency-bound (one client, per-job
    * costs dominate), and on a shared virtual machine every further slot
    * wakes another idle vCPU per stage, each wake-up a chance for the
    * hypervisor to run another tenant first. In alternating runs on a
    * busy host, the search miss median ranged 1007-1483 ms with local[4]
    * and 968-1176 ms with local[1] (layers.json, "jvm_basis"). */
  val Cores = 1

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = try parse(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    val out = Paths.get(".bench_build", "perfbench").toAbsolutePath
    val work = out.resolve(s"work-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val hostStart = Map("loadavg" -> Host.loadavg, "steal_ticks" -> Host.steal)
    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val run = new Run(spark, args, work, sessionS)
    val code = try {
      val r = run.go()
      val hostEnd = Map("loadavg" -> Host.loadavg, "steal_ticks" -> Host.steal)
      val record = Json.obj(
        "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
        "trace" -> args.trace, "nproc" -> Host.nproc,
        "spark_master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "host_start" -> hostStart, "host_end" -> hostEnd,
        "sizes" -> Json.Raw(Run.sizesJson),
        "correct" -> (r.failed == 0), "attempted" -> r.attempted, "failed" -> r.failed,
        "failures" -> r.reasons, "metrics" -> r.metrics.map { case (k, (v, _)) => k -> v }.toMap,
        "detail" -> r.detail.toMap,
        "spans" -> Json.Raw(r.spansJson))
      val runs = out.resolve("runs")
      Files.createDirectories(runs)
      Files.write(runs.resolve(
        s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}-${System.currentTimeMillis()}.json"),
        record.getBytes("UTF-8"))
      System.err.println(s"perfbench: ${args.workload} seed=${args.seed} trace=${args.trace} " +
        s"nproc=${Host.nproc} master=${spark.sparkContext.master} " +
        s"load=${hostStart("loadavg")} -> ${hostEnd("loadavg")} " +
        s"steal=${hostStart("steal_ticks")} -> ${hostEnd("steal_ticks")} " +
        r.detail.map { case (k, v) => s"$k=$v" }.mkString(" "))
      r.reasons.foreach(x => System.err.println(s"perfbench: FAILED $x"))
      val metrics = r.metrics.map { case (k, (v, unit)) =>
        k -> Json.Raw(Json.obj("value" -> v, "unit" -> unit))
      }
      println(Json.obj("correct" -> (r.failed == 0), "attempted" -> r.attempted,
        "failed" -> r.failed, "metrics" -> scala.collection.immutable.ListMap(metrics.toSeq: _*)))
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally {
      spark.stop()
      Fs.delete(work.toString)
    }
    sys.exit(code)
  }
}

/** What a run reports. `metrics` maps a name to (value, unit). */
final class Result {
  var attempted = 0
  var failed = 0
  val reasons = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  var spansJson = "[]"

  def add(s: Samples): Unit = {
    attempted += s.attempted
    failed += s.failed
    reasons ++= s.reasons
  }

  /** The set-up index build, counted as one checked operation. */
  def add(error: Option[String]): Unit = {
    attempted += 1
    error.foreach { e => failed += 1; reasons += s"set-up index: $e" }
  }
}

object Run {
  def sizesJson: String = Json.obj(
    "docs" -> Sizes.Docs, "vocabulary" -> Sizes.Vocabulary,
    "tokens_per_doc" -> Seq(Sizes.MinTokens, Sizes.MaxTokens),
    "zipf_exponent" -> Sizes.ZipfExponent, "stop_words" -> Sizes.StopWords,
    "near_dup_rate" -> Sizes.NearDupRate, "exact_dup_rate" -> Sizes.ExactDupRate,
    "batch_k" -> Sizes.BatchK, "round_queries" -> Sizes.RoundQueries,
    "min_jaccard" -> Sizes.MinJaccard)
}

/** One run: set-up, then the timed loop, then the checks. */
final class Run(spark: SparkSession, args: Main.Args, work: Path, sessionS: Double) {

  private val untraced = new Trace(spark.sparkContext, enabled = false)
  private val trace = new Trace(spark.sparkContext, enabled = args.trace)
  private val t0 = System.nanoTime()
  private def nowMs = System.nanoTime() / 1e6

  /** Runs `op` until `seconds` have passed, at least `minOps` ran, and the
    * op count is a multiple of `whole`. Each op is timed alone, and its heap
    * allocation counted outside the timed span; a throwing op counts as
    * failed. */
  private def loop[T](seconds: Double, minOps: Int, samples: Samples, whole: Int = 1)(
      op: Int => T): Vector[(Int, Double, T)] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = Vector.newBuilder[(Int, Double, T)]
    var i = 0
    while (i < minOps || System.nanoTime() < deadline || i % whole != 0) {
      samples.attempted += 1
      val heap = Host.allocated()
      val a = nowMs
      try {
        val r = op(i)
        val ms = nowMs - a
        samples.allocMb(i) = Host.allocatedSince(heap) / 1048576.0
        out += ((i, ms, r))
      } catch {
        case e: Exception => samples.fail(s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      i += 1
    }
    out.result()
  }

  /** Set-up: the corpus generated and written at rest, repeated
    * `Main.SetupReps` times; then, once, the at-rest index built and an
    * untimed warm-up of the workload's operation. Returns the last lab,
    * its index, the set-up seconds (the median repetition plus the
    * once-only part), and what is wrong with the index, if anything. */
  private def setup(workload: String): (Lab, DataFrame, Double, Option[String]) = {
    var lab: Lab = null
    val reps = for (rep <- 0 until Main.SetupReps) yield {
      val a = nowMs
      lab = new Lab(spark, Corpus.generate(args.seed), work.resolve(s"setup-$rep"), untraced)
      lab.writeCorpus()
      nowMs - a
    }
    val expected = Oracles.expectedDigest(lab.corpus)
    val a = nowMs
    val built = lab.build(lab.work.resolve("index").toString)
    val index = Indexer.readIndex(spark, built.path)
    val indexMs = nowMs - a
    val warm = new QueryStream(lab.corpus, args.seed + 1)
    workload match {
      // the JIT needs several operations' worth of planning before op
      // times settle: a search round, six batch calls (a run's first
      // few calls are up to a third slower)
      case "search" =>
        val cache = new QueryCache(spark, lab.work.resolve("warm-cache").toString)
        for (q <- warm.take(Sizes.RoundQueries); repeat <- Seq(false, true)) lab.issue(cache, index, q, repeat)
      case "batch" => for (_ <- 0 until 6) lab.batch(index, warm.take(Sizes.BatchK))
    }
    val onceMs = nowMs - a
    System.err.println(f"perfbench: setup reps ${reps.map(x => f"$x%.0f").mkString(" ")} ms, " +
      f"index $indexMs%.0f ms, warm-up ${onceMs - indexMs}%.0f ms")
    (lab, index, (Stats.median(reps) + onceMs) / 1000.0,
      Oracles.checkBuild(lab.corpus, expected, built.stopWords, built.digest))
  }

  def go(): Result = {
    val res = new Result
    if (!args.trace) {
      val (lab, index, setupS, indexError) = setup(args.workload)
      val (samples, itemsPerS, extra) = runWorkload(args.workload, lab, index, args.seconds)
      res.add(samples)
      res.add(indexError)
      val okMs = samples.ms.toSeq
      res.metrics("setup_s") = (sessionS + setupS, "s")
      res.metrics("p50_ms") = (Stats.median(okMs), "ms")
      res.metrics("items_per_s") = (itemsPerS, "1/s")
      res.metrics("alloc_mb_per_op") = (Stats.median(samples.okAllocMb.toSeq), "MB")
      res.metrics("peak_rss_mb") = (Host.peakRssMb, "MB")
      res.detail("session_s") = sessionS
      res.detail("op_ms") = okMs.map(x => math.round(x))
      extra.foreach { case (k, v) => res.detail(k) = v }
      require(res.metrics.keys.toSeq == Main.EndToEnd.map(_._1) &&
        res.metrics.values.map(_._2).toSeq == Main.EndToEnd.map(_._2),
        "end-to-end metrics out of step with Main.EndToEnd")
    } else traced(res)
    res
  }

  /** Items handled per second of operation time. */
  private def rate(itemsPerOp: Double, ms: Seq[Double]): Double =
    itemsPerOp * ms.length / (ms.sum / 1000.0)

  /** The timed loop of one workload and its checks. Returns the samples of
    * the workload's unit operation, items handled per second, and extra
    * figures for the run record. */
  private def runWorkload(workload: String, lab: Lab, index: DataFrame, seconds: Double,
                          minOps: Int = 1): (Samples, Double, Map[String, Any]) = {
    val corpus = lab.corpus
    val samples = new Samples
    workload match {
      case "build" =>
        val expected = Oracles.expectedDigest(corpus)
        val runs = loop(seconds, minOps, samples) { i =>
          val b = lab.build(lab.work.resolve(s"build-$i").toString)
          Fs.delete(b.path)
          b
        }
        for ((i, ms, b) <- runs) {
          Oracles.checkBuild(corpus, expected, b.stopWords, b.digest) match {
            case Some(e) => samples.fail(s"build $i: $e")
            case None => samples.ok(i, ms)
          }
        }
        (samples, rate(corpus.docs.length, samples.ms.toSeq), Map.empty)

      case "search" =>
        val stream = new QueryStream(corpus, args.seed)
        // each round: a fresh cache and R distinct queries; query j is
        // issued again after query j + 2's first issue
        val r = Sizes.RoundQueries
        val schedule = (0 until r).flatMap(j => (j, false) +: (if (j >= 2) Seq((j - 2, true)) else Nil)) ++
          Seq((r - 2, true), (r - 1, true))
        var round = -1
        var cache: QueryCache = null
        var qs: Vector[String] = Vector.empty
        // whole rounds only, so every query shape is issued as often
        val issues = loop(seconds, minOps, samples, whole = schedule.length) { i =>
          val k = i % schedule.length
          if (k == 0) {
            round += 1
            cache = new QueryCache(spark, lab.work.resolve(s"cache-$round").toString)
            qs = stream.take(r)
          }
          val (j, repeat) = schedule(k)
          trace.request = i
          (cache, lab.issue(cache, index, qs(j), repeat))
        }
        trace.request = -1L
        // untimed: each repeated query must be in its round's cache, or the
        // repeat may have been recomputed rather than served from it
        val uncached = issues.collect {
          case (i, _, (c, is)) if is.repeat && c.get(is.query).isEmpty => i
        }.toSet
        val slice = Oracles.algebraIndex(lab.slice(index, issues.flatMap(x => lab.leafTerms(x._3._2.query))))
        val body = corpus.docs.map(_.text)
        val firstPage = mutable.HashMap.empty[String, Vector[Oracles.PageRow]]
        val hitMs = mutable.ArrayBuffer.empty[Double]
        for ((i, ms, (_, is)) <- issues) {
          val err = firstPage.get(is.query) match {
            case _ if uncached(i) => Some("repeated query is not in the cache")
            case Some(first) if is.repeat => Oracles.checkHit(first, is.rows)
            case _ => Oracles.checkPage(is.query, Oracles.ranking(is.query, lab.stopSet, slice),
              is.rows, d => body(d.toInt))
          }
          err match {
            case Some(e) => samples.fail(s"issue $i '${is.query}': $e")
            case None =>
              if (!is.repeat) { firstPage(is.query) = is.rows; samples.ok(i, ms) }
              else hitMs += ms
          }
        }
        // the workload's unit operation is a query's first issue (a miss);
        // items per second are issues served when each query is issued
        // twice, from the miss and hit medians, so where the deadline cuts
        // the miss/hit schedule does not move it
        val missMs = samples.ms.toSeq
        val (tail, pct) = Stats.tail(missMs)
        (samples, 2000.0 / (Stats.median(missMs) + Stats.median(hitMs.toSeq)), Map(
          "miss_tail_ms" -> tail, "miss_tail_percentile" -> pct, "misses" -> missMs.length,
          "hit_p50_ms" -> Stats.median(hitMs.toSeq), "hit_ms" -> hitMs.map(x => math.round(x))))

      case "batch" =>
        val stream = new QueryStream(corpus, args.seed)
        val calls = loop(seconds, minOps, samples) { _ =>
          val qs = stream.take(Sizes.BatchK)
          (qs, lab.batch(index, qs))
        }
        val slice = Oracles.algebraIndex(lab.slice(index,
          calls.flatMap(_._3._1.flatMap(lab.leafTerms))))
        for ((i, ms, (qs, top)) <- calls) {
          val err = qs.iterator.map(q =>
            Oracles.checkTop(Oracles.ranking(q, lab.stopSet, slice), top(q), 10).map(e => s"'$q': $e"))
            .collectFirst { case Some(e) => e }
            .orElse(if (i > 0) None else qs.take(2).iterator.map(q =>
              Oracles.checkTop(lab.single(index, q), top(q), 10)
                .map(e => s"'$q' differs from the single-query path: $e"))
              .collectFirst { case Some(e) => e })
          err match {
            case Some(e) => samples.fail(s"batch $i: $e")
            case None => samples.ok(i, ms)
          }
        }
        (samples, rate(Sizes.BatchK, samples.ms.toSeq), Map.empty)

      case "dedup" =>
        val runs = loop(seconds, minOps, samples)(_ => lab.dedup(lab.docs))
        for ((i, ms, d) <- runs) {
          val err = Oracles.checkExact(corpus, d.exact)
            .orElse(Oracles.checkPairs(corpus, d.pairs, Sizes.MinJaccard))
            .orElse(Oracles.checkClusters(d.pairs.map(p => (p._1, p._2)), d.labels))
            .orElse(Oracles.checkTextStats(corpus, d.repTokens, d.spans))
          err match {
            case Some(e) => samples.fail(s"dedup $i: $e")
            case None => samples.ok(i, ms)
          }
        }
        (samples, rate(corpus.docs.length, samples.ms.toSeq), Map.empty)
    }
  }

  /** The traced run: the workload's set-up, then the whole lifecycle
    * (build, search, batch, dedup, kernels) with every call in a span. The
    * named workload's phase comes first and runs for the full `--seconds`,
    * as in an untraced run, so the two can be compared for the tracing
    * overhead; the others run one operation (search: one round).
    * Per-layer metrics are per-operation medians. */
  private def traced(res: Result): Unit = {
    val (lab0, index, _, indexError) = setup(args.workload)
    res.add(indexError)
    val lab = new Lab(spark, lab0.corpus, lab0.work, trace)
    val e2e = mutable.LinkedHashMap.empty[String, Any]
    for (w <- args.workload +: Main.Phases.filter(_ != args.workload)) {
      val secs = if (w == args.workload) args.seconds else 0.0
      val minOps = if (w == "search") 2 * Sizes.RoundQueries else 1
      val (samples, itemsPerS, extra) = runWorkload(w, lab, index, secs, minOps)
      res.add(samples)
      e2e(s"$w.p50_ms") = Stats.median(samples.ms.toSeq)
      e2e(s"$w.items_per_s") = itemsPerS
      extra.foreach { case (k, v) => e2e(s"$w.$k") = v }
    }
    lab.kernels(3)
    trace.flush()
    LayerMetrics.fill(res, trace, lab)
    res.detail ++= e2e
    res.spansJson = trace.toJson(t0)
  }
}
