package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TxLog

/** The table layer's shared machinery: one file-skipping walk for the
  * TxLog reads and the `graft-table` connector, one commit-retry loop
  * for the non-derived writers, and the streaming change feed's output
  * schema.
  */
class TableLayerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toString
    TxLog.init(d)
    d
  }

  /** Slice `i` of 4: keys [50i, 50i+50), strings `s%03d` in key order,
    * `n` NULL on the even slices, partition value `p` = a/b by parity.
    */
  private def slice(i: Int): DataFrame =
    spark.range(50L * i, 50L * (i + 1)).select(
      col("id").as("k"),
      format_string("s%03d", col("id")).as("s"),
      (if (i % 2 == 0) lit(null).cast("string")
       else concat(lit("n"), col("id").cast("string"))).as("n"),
      lit(if (i % 2 == 0) "a" else "b").as("p"))

  private def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def rec(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => rec(a.executedPlan)
      case s: FileSourceScanExec => Seq(s)
      case other =>
        other.children.flatMap(rec) ++ other.subqueries.flatMap(rec)
    }
    rec(df.queryExecution.executedPlan)
  }

  /** Names of the files a connector scan opens: its own file index
    * listed with the filters the scan passes it.
    */
  private def connectorFiles(df: DataFrame): Set[String] =
    scans(df).flatMap(s => s.relation.location
        .listFiles(s.partitionFilters, s.dataFilters))
      .flatMap(_.files).map(_.getPath.getName).toSet

  private def names(paths: Seq[String]): Set[String] =
    paths.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet

  private def keys(df: DataFrame): Seq[Long] =
    df.select("k").collect().map(_.getLong(0)).toSeq.sorted

  /** Every predicate class, TxLog read vs connector read of `root`. */
  private def assertSameSkipping(root: String, pruned: Boolean): Unit = {
    val conn = spark.read.format("graft-table").load(root)
    val index = conn.queryExecution.analyzed.collectFirst {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          r: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
          _, _, _, _) => r.location
    }.get
    assert(index.isInstanceOf[graft.sources.GraftPrunedFileIndex] ===
      pruned, s"planning path of $root: $index")
    val all = TxLog.resolve(root).files.size
    val classes: Seq[(String, DataFrame, Column)] = Seq(
      ("int range", TxLog.snapshotSlice(spark, root, "k", 60L, 120L),
        col("k") >= 60L && col("k") <= 120L),
      ("string range",
        TxLog.snapshotSliceStr(spark, root, "s", "s060", "s120"),
        col("s") >= "s060" && col("s") <= "s120"),
      ("IS NULL", TxLog.snapshotSliceNull(spark, root, "n", isNull = true),
        col("n").isNull),
      ("IS NOT NULL",
        TxLog.snapshotSliceNull(spark, root, "n", isNull = false),
        col("n").isNotNull),
      ("partition equality",
        TxLog.snapshotPartition(spark, root, Map("p" -> "b")),
        col("p") === "b"))
    classes.foreach { case (what, viaLog, pred) =>
      val viaConn = conn.filter(pred)
      val logFiles = names(viaLog.inputFiles.toSeq)
      assert(logFiles === connectorFiles(viaConn), s"$what files")
      assert(logFiles.size < all, s"$what must skip some of $all files")
      assert(keys(viaLog) === keys(viaConn), s"$what rows")
    }
    val ks = Seq(3L, 77L, 160L)
    val viaConn = conn.filter(col("k").isin(ks: _*))
    val logFiles = names(TxLog.keyCandidates(spark, root,
      TxLog.resolve(root), "k", ks))
    assert(logFiles === connectorFiles(viaConn), "key IN files")
    assert(logFiles.size < all, s"key IN must skip some of $all files")
    assert(keys(viaConn) === ks)
  }

  test("TxLog reads and graft-table reads skip the same files for every " +
      "predicate class, on the eager and the pruned planning path") {
    val ident = tmpDir("tlident")
    (0 until 4).foreach(i =>
      TxLog.appendPartitioned(spark, ident, slice(i).coalesce(1), Seq("p")))
    val bucketed = tmpDir("tlbucket")
    (0 until 4).foreach(i =>
      TxLog.appendTransformPartitioned(spark, bucketed,
        slice(i).coalesce(1), Seq("bucket(4,k)")))
    Seq(ident, bucketed).foreach { root =>
      assertSameSkipping(root, pruned = false)
      TxLog.checkpoint(root)
      spark.conf.set("spark.graft.plan.pruneFileThreshold", "1")
      try assertSameSkipping(root, pruned = true)
      finally spark.conf.unset("spark.graft.plan.pruneFileThreshold")
    }
  }

  test("a commit refused by a future writer protocol fails by name and " +
      "leaves no staged file, on every writer that retries at the tip") {
    val root = tmpDir("tlproto")
    TxLog.append(spark, root, slice(0))
    Files.writeString(Paths.get(f"$root/_txlog/${1}%08d.json"),
      """{"v":1,"op":"set-protocol","adds":[],"removes":[],""" +
        """"rows":0,"rowsRemoved":0,"protocol":{"r":1,"w":2}}""")
    def dataFiles(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(Paths.get(root, "data"))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.toString).toSet
      finally s.close()
    }
    val before = dataFiles()
    val writers: Seq[(String, () => Any)] = Seq(
      "append" -> (() => TxLog.append(spark, root, slice(1))),
      "appendPartitioned" -> (() =>
        TxLog.appendPartitioned(spark, root, slice(1), Seq("p"))),
      "appendTransformPartitioned" -> (() =>
        TxLog.appendTransformPartitioned(spark, root, slice(1),
          Seq("bucket(4,k)"))),
      "commitBatch" -> (() => TxLog.commitBatch(spark, root, slice(1), 7L)),
      "addConstraint" -> (() =>
        TxLog.addConstraint(spark, root, "k_nonneg", "k >= 0")))
    writers.foreach { case (what, write) =>
      val e = intercept[IllegalStateException](write())
      assert(e.getMessage.contains("requires writer protocol 2"),
        s"$what: ${e.getMessage}")
      assert(dataFiles() === before, s"$what leaked staged files")
    }
    assert(TxLog.versions(root) === Seq(0L, 1L))
  }

  test("a metadata commit that loses its version race to a set-protocol " +
      "commit re-checks the writer protocol before it retries") {
    val root = tmpDir("tlprotorace")
    TxLog.append(spark, root, slice(0)) // v0
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    graft.ops.TxIo.wrapper = inner => new DelegatingIo(inner) {
      override def putIfAbsent(path: String, content: String): Unit = {
        // a newer binary claims the version first, demanding writer 2
        if (path.startsWith(root) && path.contains("_txlog/") &&
            !path.contains(".checkpoint.") &&
            fired.compareAndSet(false, true))
          inner.putIfAbsent(path,
            """{"v":1,"op":"set-protocol","adds":[],"removes":[],""" +
              """"rows":0,"rowsRemoved":0,"protocol":{"r":1,"w":2}}""")
        inner.putIfAbsent(path, content)
      }
    }
    val e =
      try intercept[IllegalStateException] {
        TxLog.addConstraint(spark, root, "k_nonneg", "k >= 0")
      } finally graft.ops.TxIo.wrapper = identity
    assert(e.getMessage.contains("requires writer protocol 2"),
      e.getMessage)
    assert(TxLog.versions(root) === Seq(0L, 1L))
    assert(TxLog.constraints(root).isEmpty)
  }

  /** Pass-through TxIo for targeted interception. */
  private class DelegatingIo(inner: graft.ops.TxIo)
      extends graft.ops.TxIo {
    override def putIfAbsent(path: String, content: String): Unit =
      inner.putIfAbsent(path, content)
    override def read(path: String): String = inner.read(path)
    override def list(dir: String): Seq[String] = inner.list(dir)
    override def listRecursive(dir: String): Seq[String] =
      inner.listRecursive(dir)
    override def exists(path: String): Boolean = inner.exists(path)
    override def mkdirs(dir: String): Unit = inner.mkdirs(dir)
    override def delete(path: String): Unit = inner.delete(path)
    override def deleteIfExists(path: String): Unit =
      inner.deleteIfExists(path)
    override def deleteRecursive(dir: String): Unit =
      inner.deleteRecursive(dir)
    override def move(src: String, dst: String): Unit =
      inner.move(src, dst)
    override def size(path: String): Long = inner.size(path)
    override def mtime(path: String): Long = inner.mtime(path)
  }

  test("every part file of a cdc change feed has one schema, whatever " +
      "the batch (metadata-only, snapshot, insert or delete interval)") {
    val table = tmpDir("tlcdc")
    val out = Files.createTempDirectory("tlcdcfeed").toString
    TxLog.addConstraint(spark, table, "k_nonneg", "k >= 0") // v0
    TxLog.append(spark, table, slice(0).select("k", "s"))   // v1
    TxLog.append(spark, table, slice(1).select("k", "s"))   // v2
    TxLog.deleteWhere(spark, table, "k", Seq(3L, 60L))       // v3
    val q = spark.readStream.format("graft-table")
      .option("cdc", "true").option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "1").load(table)
      .writeStream.format("parquet")
      .option("path", s"$out/feed")
      .option("checkpointLocation", s"$out/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val parts = Files.list(Paths.get(out, "feed")).toArray.toSeq
      .map(_.toString).filter(_.endsWith(".parquet"))
    assert(parts.size > 1)
    // the footers themselves: a plain parquet read widens every column
    // to nullable, while the feed directory's read (through the sink's
    // metadata log) takes one part file's schema as it stands
    val schemas = parts.map { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p),
          new org.apache.hadoop.conf.Configuration()))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }.distinct
    assert(schemas.size === 1, schemas.mkString("\n"))
    val feed = spark.read.parquet(s"$out/feed")
    assert(!feed.schema("change").nullable)
    assert(feed.filter(col("change") === "delete").count() === 2L)
  }
}
