package graft

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ShutdownDelete
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TxLog
import graft.sources.Tables

/** The one Spark fixture of the test suites. All suites of a test run
  * share one JVM and so one session: `local[4]`, 4 shuffle partitions,
  * UTC, no UI, and the `graft_table` SQL catalog registered. A test
  * that needs another SQL setting sets it and restores it afterwards.
  */
trait SparkSuite extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.graft_table", "graft.sources.GraftCatalog")
    .getOrCreate()

  /** The smallest scale factor of the test data. */
  def testdata: String =
    sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.001"

  /** A fresh temp directory, deleted when the JVM exits. */
  def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toString
    ShutdownDelete.register(d)
    d
  }

  /** A fresh temp directory holding an empty transaction-log table. */
  def tableDir(prefix: String): String = {
    val d = tmpDir(prefix)
    TxLog.init(d)
    d
  }

  /** Read once per suite: a fresh read would run a job, and search specs
    * count the jobs a query runs.
    */
  lazy val documents: DataFrame = Tables(spark, testdata, "documents")

  /** The columns of `documents` the table-format specs write. */
  def docs: DataFrame = documents.select("doc_id", "lang", "n_chars")

  def idSet(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  /** The job starts and task ends of the Spark jobs `body` runs, in
    * order, after the task end of the fence job that opens them (it
    * reads no input). A fence job before and after `body` bounds them:
    * listener events arrive in order, so once the closing fence has
    * started, every event of an earlier job has been seen.
    */
  def sparkEventsDuring(body: => Unit): Seq[SparkListenerEvent] = {
    val sc = spark.sparkContext
    val Fence = "graft.test.fence"
    val events = new LinkedBlockingQueue[SparkListenerEvent]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = events.put(e)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = events.put(e)
    }
    def isFence(e: SparkListenerEvent): Boolean = e match {
      case s: SparkListenerJobStart => Option(s.properties).exists(_.getProperty(Fence) != null)
      case _                        => false
    }
    def eventsUntilFence(): Seq[SparkListenerEvent] = {
      sc.setLocalProperty(Fence, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Fence, null)
      Iterator.continually(events.poll(60, TimeUnit.SECONDS)).map { e =>
        assert(e != null, "listener events stopped arriving")
        e
      }.takeWhile(!isFence(_)).toList
    }
    sc.addSparkListener(listener)
    try {
      eventsUntilFence()
      body
      eventsUntilFence()
    }
    finally sc.removeSparkListener(listener)
  }

  /** Same column names and types, and the same rows as multisets. */
  def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema.map(f => (f.name, f.dataType)) ===
      b.schema.map(f => (f.name, f.dataType)))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
