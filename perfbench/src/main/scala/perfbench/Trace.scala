package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into each layer, kept in memory and
  * written out at the end. A SparkListener attributes every job, and the
  * tasks of its stages, to the span open on the driver when the job was
  * submitted: the span id rides along as a job-group-style local property,
  * so attribution is exact even though listener events arrive late.
  *
  * A disabled trace runs each body and records nothing.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  final class Span(val id: Int, var name: String, val parent: Int, val request: Long,
                   val startNs: Long, val startMs: Long, val gcStartMs: Long) {
    var endNs: Long = -1L
    var endMs: Long = -1L
    var gcEndMs: Long = -1L
    def ms: Double = (endNs - startNs) / 1e6
    /** GC time of the whole JVM during the span: in local mode the
      * executors share the driver's JVM. */
    def gcMs: Long = gcEndMs - gcStartMs
  }

  /** Spark work attributed to one span (its own, not its children's). */
  final class Work {
    var jobs = 0
    var tasks = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var scanBytes = 0L
    var scanRecords = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  /** Spans opened while this is set share it as their request id. */
  var request: Long = -1L

  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val fileScanStages = ConcurrentHashMap.newKeySet[Int]()
  private val work = new ConcurrentHashMap[Int, Work]()
  @volatile private var sentinelDone = -1L

  private def workOf(span: Int): Work = work.computeIfAbsent(span, _ => new Work)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(SpanProperty))).foreach { s =>
        val span = s.toInt
        jobSpan.put(e.jobId, span)
        jobStartMs.put(e.jobId, e.time)
        e.stageInfos.foreach { st =>
          stageSpan.put(st.stageId, span)
          if (st.rddInfos.exists(_.name == "FileScanRDD")) fileScanStages.add(st.stageId)
        }
        val w = workOf(span)
        w.synchronized { w.jobs += 1 }
      }
      props.flatMap(p => Option(p.getProperty(SentinelProperty)))
        .foreach(s => jobSpan.put(e.jobId, -1 - s.toInt))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val span = jobSpan.getOrDefault(e.jobId, Int.MinValue)
      if (span >= 0) {
        val w = workOf(span)
        w.synchronized { w.jobIntervals += ((jobStartMs.get(e.jobId), e.time)) }
      } else if (span != Int.MinValue) sentinelDone = -1L - span
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.getOrDefault(e.stageId, -1)
      val m = e.taskMetrics
      if (span >= 0 && m != null) {
        val w = workOf(span)
        w.synchronized {
          w.tasks += 1
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.diskBytesSpilled
          if (fileScanStages.contains(e.stageId)) {
            w.scanBytes += m.inputMetrics.bytesRead
            w.scanRecords += m.inputMetrics.recordsRead
          }
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  private def setProperty(): Unit =
    sc.setLocalProperty(SpanProperty, open.headOption.map(_.id.toString).orNull)

  /** Run `body` inside a span named by its result. */
  def labeled[T](body: => T)(name: T => String): T =
    if (!enabled) body
    else {
      val s = new Span(spans.length, "", open.headOption.map(_.id).getOrElse(-1),
        request, System.nanoTime(), System.currentTimeMillis(), gcTotalMs())
      spans += s
      open = s :: open
      setProperty()
      try {
        val r = body
        s.name = name(r)
        r
      } catch {
        case e: Throwable => s.name = "failed"; throw e
      } finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.gcEndMs = gcTotalMs()
        open = open.tail
        setProperty()
      }
    }

  def apply[T](name: String)(body: => T): T = labeled(body)(_ => name)

  /** Wait until the listener has seen every job submitted so far: a
    * marked job runs last, and the bus delivers events in order. */
  def flush(): Unit = if (enabled) {
    val mark = System.nanoTime() & 0x3fffffffL
    sc.setLocalProperty(SpanProperty, null)
    sc.setLocalProperty(SentinelProperty, mark.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SentinelProperty, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (sentinelDone != mark && System.nanoTime() < deadline) Thread.sleep(5)
    require(sentinelDone == mark, "the Spark listener bus did not drain")
  }

  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** A span's Spark work including its descendants'. */
  def inclusive(s: Span): Work = {
    val out = new Work
    def add(x: Span): Unit = {
      Option(work.get(x.id)).foreach { w =>
        out.jobs += w.jobs; out.tasks += w.tasks
        out.shuffleRead += w.shuffleRead; out.shuffleWrite += w.shuffleWrite
        out.spill += w.spill; out.scanBytes += w.scanBytes; out.scanRecords += w.scanRecords
        out.jobIntervals ++= w.jobIntervals
      }
      children.getOrElse(x.id, Nil).foreach(add)
    }
    add(s)
    out
  }

  /** Wall time of the span during which at least one of its jobs ran. */
  def jobMs(s: Span): Double = {
    val iv = inclusive(s).jobIntervals
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    covered.toDouble
  }

  /** Duration minus the time its child spans cover. */
  def selfMs(s: Span): Double =
    s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum

  def named(name: String): Seq[Span] = spans.toSeq.filter(_.name == name)

  def toJson(t0Ns: Long): String = spans.map { s =>
    val w = Option(work.get(s.id)).getOrElse(new Work)
    Json.obj(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
      "start_ms" -> (s.startNs - t0Ns) / 1e6, "end_ms" -> (s.endNs - t0Ns) / 1e6,
      "self_ms" -> selfMs(s), "jobs" -> w.jobs, "tasks" -> w.tasks, "gc_ms" -> s.gcMs,
      "shuffle_read_bytes" -> w.shuffleRead, "shuffle_write_bytes" -> w.shuffleWrite,
      "spill_bytes" -> w.spill, "scan_bytes" -> w.scanBytes, "scan_records" -> w.scanRecords)
  }.mkString("[\n", ",\n", "\n]")
}

object Trace {
  private val collectors = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala

  def gcTotalMs(): Long = collectors.map(_.getCollectionTime.max(0L)).sum

  val SpanProperty = "perfbench.span"
  val SentinelProperty = "perfbench.sentinel"
}

/** Just enough JSON for the result line and the run record. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case raw: Raw => raw.json
    case other => quote(other.toString)
  }
  final case class Raw(json: String)
  def obj(kv: (String, Any)*): String = value(scala.collection.immutable.ListMap(kv: _*))
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
