package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}

import graft.ops.TxLog

/** Round-25 surface: streaming READS of the transaction-log table —
  * the `graft-table` V1 streaming source (offsets = commit versions,
  * initial snapshot + log-interval increments, append-only guard, CDC
  * mode, checkpoint recovery, admission control) — plus the commit
  * ledger (`op` + footer-exact row stats) those reads are driven by.
  */
class RoundTwentyFiveSpec extends SparkSuite {

  private def ids(a: Long, b: Long): Set[Long] =
    idSet(docs.filter(col("doc_id") >= a && col("doc_id") < b))

  // ---------------- commit ledger ----------------

  test("the commit ledger records op + footer-exact row stats per version") {
    val root = tmpDir("t25-ledger")
    TxLog.init(root)
    val d = docs
    TxLog.append(spark, root, d.filter(col("doc_id") < 200))
    TxLog.deleteWhere(spark, root, "doc_id", Seq(5L, 6L))
    TxLog.compact(spark, root, targetBytes = 64L << 20)
    TxLog.upsert(spark, root,
      d.filter(col("doc_id") === 3L).withColumn("lang", lit("xx")), "doc_id")
    TxLog.optimize(spark, root, Seq("doc_id"), numFiles = 2)

    val h = TxLog.history(root)
    assert(h.map(_.version) === Seq(0L, 1L, 2L, 3L, 4L))
    assert(h.map(_.op) === Seq("append", "delete", "compact", "merge",
      "optimize"))
    val n0 = d.filter(col("doc_id") < 200).count()
    // append: all staged rows, nothing removed
    assert(h(0).rows === Some(n0) && h(0).rowsRemoved === Some(0L))
    // delete: the rewrite drops exactly the two hit rows
    assert(h(1).rowsRemoved.get - h(1).rows.get === 2L)
    // compact: logically a no-op — rows in == rows out
    assert(h(2).rows === h(2).rowsRemoved)
    assert(h(2).rows === Some(n0 - 2))
    // merge of one existing key: survivors + 1 update vs the hit files
    assert(h(3).rows === h(3).rowsRemoved)
    // optimize: logically a no-op over the full live set
    assert(h(4).rows === h(4).rowsRemoved)
    assert(h(4).rows === Some(n0 - 2))
    assert(h.forall(_.batchId.isEmpty))
  }

  test("streaming commits carry their batch id in the ledger") {
    val root = tmpDir("t25-ledger-bid")
    TxLog.init(root)
    TxLog.commitBatch(spark, root, docs.limit(5), batchId = 7L)
    val h = TxLog.history(root)
    assert(h.head.op === "streaming-append")
    assert(h.head.batchId === Some(7L))
  }

  // ---------------- graft-table streaming source ----------------

  test("graft-table stream: initial snapshot, per-commit increments, " +
      "compaction silence, exactly-once content") {
    val root = tmpDir("t25-stream")
    val ckpt = tmpDir("t25-stream-ckpt")
    TxLog.init(root)
    val d = docs
    TxLog.append(spark, root, d.filter(col("doc_id") < 300))

    val q = spark.readStream.format("graft-table").load(root)
      .writeStream.format("memory").queryName("t25_stream")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(idSet(spark.table("t25_stream")) === ids(0, 300))

      TxLog.append(spark, root,
        d.filter(col("doc_id") >= 300 && col("doc_id") < 500))
      q.processAllAvailable()
      assert(idSet(spark.table("t25_stream")) === ids(0, 500))

      // a compaction interval is logically empty: nothing re-emitted
      TxLog.compact(spark, root, targetBytes = 64L << 20)
      q.processAllAvailable()
      assert(spark.table("t25_stream").count() === ids(0, 500).size)

      TxLog.append(spark, root,
        d.filter(col("doc_id") >= 500 && col("doc_id") < 600))
      q.processAllAvailable()
      val got = spark.table("t25_stream")
      assert(idSet(got) === ids(0, 600))
      // exactly once: multiset, not just set
      assert(got.count() === ids(0, 600).size)
    } finally q.stop()
  }

  test("graft-table stream: checkpoint recovery resumes at the " +
      "committed version — only new commits are emitted") {
    val root = tmpDir("t25-resume")
    val ckpt = tmpDir("t25-resume-ckpt")
    TxLog.init(root)
    val d = docs
    TxLog.append(spark, root, d.filter(col("doc_id") < 300))

    // foreachBatch, not the memory sink: memory does not support
    // checkpoint recovery, and recovery is exactly what this test is
    val gotA = scala.collection.mutable.Set.empty[Long]
    val q1 = spark.readStream.format("graft-table").load(root)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        gotA.synchronized { gotA ++= idSet(b) }: Unit
      }
      .option("checkpointLocation", ckpt).start()
    try {
      q1.processAllAvailable()
      assert(gotA.toSet === ids(0, 300))
    } finally q1.stop()

    // commits while the stream is DOWN
    TxLog.append(spark, root,
      d.filter(col("doc_id") >= 300 && col("doc_id") < 450))

    // a fresh buffer: whatever lands here came from the RESUMED
    // offsets, so the initial snapshot must NOT be replayed
    val gotB = scala.collection.mutable.Set.empty[Long]
    val q2 = spark.readStream.format("graft-table").load(root)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        gotB.synchronized { gotB ++= idSet(b) }: Unit
      }
      .option("checkpointLocation", ckpt).start()
    try {
      q2.processAllAvailable()
      assert(gotB.toSet === ids(300, 450))
    } finally q2.stop()
  }

  test("graft-table stream is append-only by default: a delete commit " +
      "fails the stream loudly, naming the cdc escape hatch") {
    val root = tmpDir("t25-guard")
    val ckpt = tmpDir("t25-guard-ckpt")
    TxLog.init(root)
    TxLog.append(spark, root, docs.filter(col("doc_id") < 200))

    val q = spark.readStream.format("graft-table").load(root)
      .writeStream.format("memory").queryName("t25_guard")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      TxLog.deleteWhere(spark, root, "doc_id", Seq(7L))
      val e = intercept[Exception] { q.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(m =>
        m.contains("append-only") && m.contains("cdc")))
    } finally q.stop()
  }

  test("graft-table stream in cdc mode delivers the delete feed and " +
      "reconstructs the table net of changes") {
    val root = tmpDir("t25-cdc")
    val ckpt = tmpDir("t25-cdc-ckpt")
    TxLog.init(root)
    val d = docs
    TxLog.append(spark, root, d.filter(col("doc_id") < 300))

    val q = spark.readStream.format("graft-table")
      .option("cdc", "true").load(root)
      .writeStream.format("memory").queryName("t25_cdc")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      // the initial snapshot arrives as inserts
      assert(spark.table("t25_cdc").groupBy("change").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap ===
        Map("insert" -> ids(0, 300).size.toLong))

      TxLog.deleteWhere(spark, root, "doc_id", Seq(5L, 6L, 7L))
      TxLog.append(spark, root,
        d.filter(col("doc_id") >= 300 && col("doc_id") < 400))
      q.processAllAvailable()

      val feed = spark.table("t25_cdc")
      assert(idSet(feed.filter(col("change") === "delete")) ===
        Set(5L, 6L, 7L))
      // net reconstruction == the table's live snapshot
      val net = feed.groupBy("doc_id").agg(
        sum(when(col("change") === "insert", 1).otherwise(-1)).as("n"))
        .filter(col("n") > 0)
      assert(idSet(net) === idSet(TxLog.snapshot(spark, root)))
    } finally q.stop()
  }

  test("graft-table stream with startingVersion skips the snapshot and " +
      "starts at that commit") {
    val root = tmpDir("t25-sv")
    val ckpt = tmpDir("t25-sv-ckpt")
    TxLog.init(root)
    val d = docs
    TxLog.append(spark, root, d.filter(col("doc_id") < 100)) // v0
    TxLog.append(spark, root,
      d.filter(col("doc_id") >= 100 && col("doc_id") < 200)) // v1
    TxLog.append(spark, root,
      d.filter(col("doc_id") >= 200 && col("doc_id") < 250)) // v2

    val q = spark.readStream.format("graft-table")
      .option("startingVersion", "1").load(root)
      .writeStream.format("memory").queryName("t25_sv")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(idSet(spark.table("t25_sv")) === ids(100, 250))
    } finally q.stop()
  }

  test("filter-metadata truncation drift normalizes out of plan " +
      "fingerprints (the r9 q_asof_forward solo-vs-suite flip)") {
    // the same id-erased scan line as Spark abbreviates it under two
    // exprId regimes: small ids (cut falls late) vs wide suite-grown
    // ids (cut falls early, mid-token)
    val late = "+- FileScan parquet [e#L] Batched: true, DataFilters: " +
      "[isnotnull(event_type#), isnotnull(ts#), (event_type# = " +
      "purchase), isnotnull(user_id#L), ..., Format: Parquet, " +
      "PartitionFilters: [], PushedFilters: [IsNotNull(event_type)]"
    val early = "+- FileScan parquet [e#L] Batched: true, DataFilters: " +
      "[isnotnull(event_type#), isnotnull(ts#), (event_type# = pur..., " +
      "Format: Parquet, PartitionFilters: [], PushedFilters: " +
      "[IsNotNull(event_type)]"
    assert(Bench.recutFilterMetadata(late) ===
      Bench.recutFilterMetadata(early))
    // the full PushedFilters text survives — it carries the signal
    assert(Bench.recutFilterMetadata(late)
      .contains("PushedFilters: [IsNotNull(event_type)]"))
  }

  test("a standalone checkpoint bounds replay without removing history") {
    val root = tmpDir("t25-cp")
    TxLog.init(root)
    val d = docs
    (0 until 6).foreach(i => TxLog.append(spark, root,
      d.filter(col("doc_id") >= i * 30 && col("doc_id") < (i + 1) * 30)))
    TxLog.deleteWhere(spark, root, "doc_id", Seq(10L))
    val before = (0L to 6L).map(v =>
      idSet(TxLog.snapshot(spark, root, Some(v))))

    assert(TxLog.checkpoint(root) === 6L)
    // every version — including those BELOW the checkpoint — resolves
    // to exactly what it did before (vacuum is the only thing that
    // truncates, and it was never called)
    val after = (0L to 6L).map(v =>
      idSet(TxLog.snapshot(spark, root, Some(v))))
    assert(after === before)
    // and the checkpoint is the replay base: a commit after it still
    // lands on top correctly
    TxLog.append(spark, root,
      d.filter(col("doc_id") >= 180 && col("doc_id") < 200))
    assert(idSet(TxLog.snapshot(spark, root)) ===
      (ids(0, 200) - 10L))
  }

  test("CHECK constraints gate commits: violating appends, merges, and " +
      "streaming batches are rejected loudly with staged files cleaned") {
    val root = tmpDir("t25-check")
    TxLog.init(root)
    val d = docs
    TxLog.append(spark, root, d.filter(col("doc_id") < 100))
    val vSet = TxLog.addConstraint(spark, root, "chars_positive",
      "n_chars > 0 AND lang IS NOT NULL")
    assert(TxLog.constraints(root) ===
      Map("chars_positive" -> "n_chars > 0 AND lang IS NOT NULL"))
    // a metadata commit is logically invisible to CDC
    assert(TxLog.changesBetween(spark, root, vSet - 1, vSet).count() === 0)

    def dataFiles: Int =
      new java.io.File(s"$root/data").listFiles().length

    // violating append: rejected, named, counted, staged files gone
    val before = dataFiles
    val tip = TxLog.resolve(root).version
    val e = intercept[IllegalArgumentException] {
      TxLog.append(spark, root, d.filter(col("doc_id") >= 100)
        .limit(20).withColumn("n_chars", lit(-1)))
    }
    assert(e.getMessage.contains("chars_positive") &&
      e.getMessage.contains("20 row(s)"))
    assert(dataFiles === before)
    assert(TxLog.resolve(root).version === tip)

    // NULL is a violation (the CHECK contract), not a pass
    intercept[IllegalArgumentException] {
      TxLog.append(spark, root, d.limit(5)
        .withColumn("lang", lit(null).cast("string")))
    }

    // a clean append still lands; a violating MERGE does not
    TxLog.append(spark, root,
      d.filter(col("doc_id") >= 100 && col("doc_id") < 150))
    intercept[IllegalArgumentException] {
      TxLog.upsert(spark, root, d.filter(col("doc_id") === 3)
        .withColumn("n_chars", lit(0)), "doc_id")
    }

    // a violating streaming batch is rejected AND not marked committed
    // — the fixed retry of the same batch id can land
    intercept[IllegalArgumentException] {
      TxLog.commitBatch(spark, root,
        d.limit(3).withColumn("n_chars", lit(-5)), batchId = 99L)
    }
    assert(!TxLog.committedBatchIds(root).contains(99L))
    assert(TxLog.commitBatch(spark, root, d.limit(3), batchId = 99L).nonEmpty)

    // a constraint the existing data violates is never recorded
    intercept[IllegalArgumentException] {
      TxLog.addConstraint(spark, root, "impossible", "n_chars > 1000000")
    }
    assert(!TxLog.constraints(root).contains("impossible"))

    // dropped by commit: the gate opens, the ledger shows the ops
    TxLog.dropConstraint(root, "chars_positive")
    TxLog.append(spark, root, d.limit(2).withColumn("n_chars", lit(-1)))
    val ops = TxLog.history(root).map(_.op)
    assert(ops.contains("set-constraint") && ops.contains("drop-constraint"))
  }

  test("log-recorded file stats prune a sliced read to the overlapping " +
      "files, conservatively reading stat-less files") {
    val root = tmpDir("t25-skip")
    TxLog.init(root)
    val d = docs
    // three key-clustered files: doc_id ranges [0,99], [100,199],
    // [200,299]
    (0 until 3).foreach(i => TxLog.append(spark, root,
      d.filter(col("doc_id") >= i * 100 && col("doc_id") < (i + 1) * 100)
        .coalesce(1)))

    // the stats landed in the log with the true per-file ranges
    val st = TxLog.fileStats(root)
    assert(st.size === 3)
    assert(st.values.map(_("doc_id")).toSet ===
      Set((0L, 99L), (100L, 199L), (200L, 299L)))

    // a slice inside the middle file opens ONLY that file
    val slice = TxLog.snapshotSlice(spark, root, "doc_id", 120L, 150L)
    assert(slice.inputFiles.length === 1)
    assert(idSet(slice) === ids(120, 151))
    // exact parity with the unpruned filter
    assert(slice.exceptAll(TxLog.snapshot(spark, root)
      .filter(col("doc_id") >= 120 && col("doc_id") <= 150)).count() === 0)

    // a disjoint slice reads nothing but keeps the schema
    val empty = TxLog.snapshotSlice(spark, root, "doc_id", 5000L, 6000L)
    assert(empty.count() === 0)
    assert(empty.columns.toSeq === Seq("doc_id", "lang", "n_chars"))

    // a file with NO stats for the column (all-null chunk) is
    // conservatively kept and its rows filter away normally
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val nullDf = spark.createDataFrame(
      java.util.Arrays.asList(Row(null, "zz", 7L), Row(null, "zz", 8L)),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("n_chars", LongType))))
    TxLog.append(spark, root, nullDf.coalesce(1))
    val afterNull = TxLog.snapshotSlice(spark, root, "doc_id", 120L, 150L)
    assert(afterNull.inputFiles.length === 2) // middle file + null file
    assert(idSet(afterNull) === ids(120, 151))

    // stats survive compaction (the packed file gets fresh ranges) and
    // slicing after a vacuum (stat-less checkpoint-carried files) stays
    // correct, just unpruned
    TxLog.compact(spark, root, targetBytes = 1L << 30)
    assert(idSet(TxLog.snapshotSlice(spark, root, "doc_id", 120L, 150L))
      === ids(120, 151))
    TxLog.vacuum(root, retainFrom = TxLog.resolve(root).version,
      force = true)
    assert(idSet(TxLog.snapshotSlice(spark, root, "doc_id", 120L, 150L))
      === ids(120, 151))
  }

  test("q_table_skipping (the driver entry itself) opens only the " +
      "low-range z-ordered file") {
    // the entry reads through the graft-table connector since r10:
    // pruning happens in GraftFileIndex.listFiles at execution, so the
    // claim is asserted on the executed scan's numFiles metric
    // (df.inputFiles reports the UNPRUNED live set by FileIndex
    // contract); RoundTwentySevenSpec holds the PushedFilters half
    val df = SparkEntry.queries("q_table_skipping")(spark, testdata)
    // collect() on the frame's OWN QueryExecution: count() would spawn
    // a separate one and leave this plan's scan metrics unpopulated
    assert(df.collect().nonEmpty)
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => scans(a.executedPlan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(scans)
      }
    val files = scans(df.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    assert(files === 1L, s"expected 1 pruned input file, read $files")
  }

  test("review edges: schema-evolved batch NULLs violate CHECK, " +
      "unknown ops fail the append-only stream closed, startingVersion " +
      "past the tip is named, Long-extreme version filters stay exact") {
    val root = tmpDir("t25-edges")
    TxLog.init(root)
    val d = docs
    TxLog.append(spark, root, d.filter(col("doc_id") < 50))
    TxLog.addConstraint(spark, root, "pos", "n_chars > 0")

    // a batch LACKING the constrained column: NULL violates (CHECK
    // semantics), staged files cleaned, no analysis error escapes
    val before = new java.io.File(s"$root/data").listFiles().length
    val e1 = intercept[IllegalArgumentException] {
      TxLog.append(spark, root,
        d.filter(col("doc_id") >= 50).limit(4).select("doc_id", "lang"))
    }
    assert(e1.getMessage.contains("pos") &&
      e1.getMessage.contains("4 row(s)"))
    assert(new java.io.File(s"$root/data").listFiles().length === before)

    // an op outside the known row-preserving set fails the
    // append-only stream CLOSED instead of silently dropping rows —
    // it must land in an INCREMENTAL interval (the initial snapshot
    // is net content by design and re-emits no history)
    val ckpt1 = tmpDir("t25-edges-ckpt1")
    val q = spark.readStream.format("graft-table").load(root)
      .writeStream.format("memory").queryName("t25_edges")
      .option("checkpointLocation", ckpt1).start()
    try {
      q.processAllAvailable()
      TxLog.writeCommit(root, 2L, Seq.empty, Seq.empty, op = "rewrite")
      val e2 = intercept[Exception] { q.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      // the guard fires on the (0, 2] interval holding the unknown op
      assert(messages(e2).exists(_.contains("unknown op")) ||
        messages(e2).exists(_.contains("rewrite")))
    } finally q.stop()

    // startingVersion far past the tip dies naming the option
    val e3 = intercept[Exception] {
      val q2 = spark.readStream.format("graft-table")
        .option("startingVersion", "10").load(root)
        .writeStream.format("memory").queryName("t25_edges_sv")
        .option("checkpointLocation", tmpDir("t25-edges-ckpt2")).start()
      try q2.processAllAvailable() finally q2.stop()
    }
    def messages3(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages3(t.getCause)
    assert(messages3(e3).exists(_.contains("startingVersion 10")))

    // Long-extreme bounds stay residual filters, never wrap
    val hist = spark.read.format("graft-table-history").load(root)
    assert(hist.filter(col("version") < Long.MinValue).count() === 0)
    assert(hist.filter(col("version") > Long.MaxValue).count() === 0)
  }

  test("a CHECK constraint survives vacuum truncating its own commit") {
    val root = tmpDir("t25-check-vac")
    TxLog.init(root)
    val d = docs
    TxLog.append(spark, root, d.filter(col("doc_id") < 50))       // v0
    TxLog.addConstraint(spark, root, "pos", "n_chars > 0")        // v1
    TxLog.append(spark, root,
      d.filter(col("doc_id") >= 50 && col("doc_id") < 100))       // v2
    // truncate past the set-constraint commit itself
    TxLog.vacuum(root, retainFrom = 2L, force = true)
    assert(!TxLog.versions(root).contains(1L))
    // the contract crossed the truncation via the checkpoint
    assert(TxLog.constraints(root) === Map("pos" -> "n_chars > 0"))
    intercept[IllegalArgumentException] {
      TxLog.append(spark, root, d.limit(3).withColumn("n_chars", lit(-1)))
    }
  }

  test("concurrent appenders never lose a commit: version races " +
      "converge to one contiguous log") {
    val root = tmpDir("t25-race")
    TxLog.init(root)
    val d = docs
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = 8
    val rounds = 4
    val fs = (0 until writers).map { w =>
      Future {
        (0 until rounds).map { r =>
          TxLog.append(spark, root, d
            .filter(col("doc_id") >= (w * rounds + r) * 10 &&
              col("doc_id") < (w * rounds + r) * 10 + 10))
        }
      }
    }
    val versions = Await.result(Future.sequence(fs), 5.minutes).flatten
    // every writer got its own slot: all 32 versions, no gaps, no reuse
    assert(versions.sorted === (0L until (writers * rounds)))
    assert(TxLog.versions(root) === (0L until (writers * rounds)))
    assert(TxLog.history(root).forall(_.op === "append"))
    // and no rows were lost or duplicated in the races
    val snap = TxLog.snapshot(spark, root)
    assert(snap.count() === writers * rounds * 10)
    assert(idSet(snap) === ids(0, writers * rounds * 10))
  }

  test("vacuum vs stream cursor: retention at the cursor resumes " +
      "cleanly; vacuum past it fails the resumed batch loudly") {
    val root = tmpDir("t25-vac")
    val ckpt = tmpDir("t25-vac-ckpt")
    TxLog.init(root)
    val d = docs
    (0 until 4).foreach(i => TxLog.append(spark, root,
      d.filter(col("doc_id") >= i * 50 && col("doc_id") < (i + 1) * 50)))

    val got = scala.collection.mutable.Set.empty[Long]
    def run(): Unit = {
      val q = spark.readStream.format("graft-table").load(root)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          got.synchronized { got ++= idSet(b) }: Unit
        }
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run() // cursor now at v3
    assert(got.toSet === ids(0, 200))

    // a vacuum that respects the cursor: time travel below 3 dies,
    // but the stream's next interval (3, 4] replays fine
    TxLog.vacuum(root, retainFrom = 3L, force = true)
    TxLog.append(spark, root,
      d.filter(col("doc_id") >= 200 && col("doc_id") < 220)) // v4
    run()
    assert(got.toSet === ids(0, 220))

    // a vacuum PAST the cursor (retainFrom = 5 after the cursor's 4):
    // the resumed interval needs version 4 and must fail loudly, not
    // silently skip rows
    TxLog.append(spark, root,
      d.filter(col("doc_id") >= 220 && col("doc_id") < 230)) // v5
    TxLog.vacuum(root, retainFrom = 5L, force = true)
    TxLog.append(spark, root,
      d.filter(col("doc_id") >= 230 && col("doc_id") < 240)) // v6
    val e = intercept[Exception] {
      val q = spark.readStream.format("graft-table").load(root)
        .writeStream
        .foreachBatch { (_: DataFrame, _: Long) => (): Unit }
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("not in txlog")))
  }

  test("medallion chain: bronze txlog → graft-table stream → derived " +
      "silver txlog, incremental propagation surviving a restart") {
    val bronze = tmpDir("t25-bronze")
    val silver = tmpDir("t25-silver")
    val ckpt = tmpDir("t25-medallion-ckpt")
    TxLog.init(bronze); TxLog.init(silver)
    val d = docs
    def slice(k: Int): DataFrame =
      d.filter(col("doc_id") % 4 === k && col("doc_id") < 400)
    def refine(df: DataFrame): DataFrame =
      df.filter(col("n_chars") > 50)
        .withColumn("lang", upper(col("lang")))
    def silverIds: Set[Long] = idSet(TxLog.snapshot(spark, silver))
    def wantIds(ks: Int*): Set[Long] =
      ks.flatMap(k => idSet(refine(slice(k)))).toSet

    TxLog.append(spark, bronze, slice(0))
    // the chain composes declaratively through the graft-table SINK
    // (StreamSinkProvider wrapping the idempotent commitBatch) — no
    // hand-written foreachBatch
    def startSilver() =
      refine(spark.readStream.format("graft-table").load(bronze))
        .writeStream.format("graft-table")
        .option("checkpointLocation", ckpt)
        .start(silver)

    val sq = startSilver()
    try {
      sq.processAllAvailable()
      assert(silverIds === wantIds(0))

      // two appends and a compaction land in bronze; the silver table
      // must advance by exactly the refined increments (compaction
      // interval: nothing)
      TxLog.append(spark, bronze, slice(1))
      TxLog.compact(spark, bronze, targetBytes = 64L << 20)
      TxLog.append(spark, bronze, slice(2))
      sq.processAllAvailable()
      assert(silverIds === wantIds(0, 1, 2))
      assert(TxLog.snapshot(spark, silver).count() ===
        wantIds(0, 1, 2).size)
    } finally sq.stop()

    // bronze keeps moving while silver is down; the restarted chain
    // resumes from BOTH checkpointed cursors (bronze offset in the
    // stream checkpoint, batch ids in silver's ledger)
    TxLog.append(spark, bronze, slice(3))
    val sq2 = startSilver()
    try {
      sq2.processAllAvailable()
      assert(silverIds === wantIds(0, 1, 2, 3))
      assert(TxLog.snapshot(spark, silver).count() ===
        wantIds(0, 1, 2, 3).size)
      // every silver version is an idempotent streaming commit
      assert(TxLog.history(silver).forall(_.op === "streaming-append"))
    } finally sq2.stop()
  }

  // ---------------- graft-table-history (DataSource V2) ----------------

  private def historyTable(prefix: String): String = {
    val root = tmpDir(prefix)
    TxLog.init(root)
    val d = docs
    TxLog.append(spark, root, d.filter(col("doc_id") < 200))            // v0
    TxLog.append(spark, root,
      d.filter(col("doc_id") >= 200 && col("doc_id") < 350))            // v1
    TxLog.deleteWhere(spark, root, "doc_id", Seq(5L, 6L))               // v2
    TxLog.compact(spark, root, targetBytes = 64L << 20)                 // v3
    TxLog.commitBatch(spark, root,
      d.filter(col("doc_id") >= 350 && col("doc_id") < 360), 11L)       // v4
    root
  }

  test("graft-table-history batch read matches the ledger exactly") {
    val root = historyTable("t25-hist")
    val got = spark.read.format("graft-table-history").load(root)
      .orderBy("version")
      .select("version", "op", "n_adds", "n_removes", "rows_added",
        "rows_removed", "batch_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getLong(6))))
    val want = TxLog.history(root).map(ci => (ci.version, ci.op,
      ci.adds.size, ci.removes.size, ci.rows, ci.rowsRemoved, ci.batchId))
    assert(got.toSeq === want)
    assert(got.map(_._2).toSeq ===
      Seq("append", "append", "delete", "compact", "streaming-append"))
    assert(got.last._7 === Some(11L))
  }

  test("graft-table-history pushes version bounds into the listing and " +
      "prunes columns — both visible in the executed plan") {
    val root = historyTable("t25-hist-push")
    val df = spark.read.format("graft-table-history").load(root)
      .filter(col("version") >= 1 && col("version") <= 3)
      .select("version", "op")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("versionBounds=[1, 3]"), plan)
    assert(plan.contains("cols=[version,op]"), plan)
    assert(df.orderBy("version").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "append"), (2L, "delete"), (3L, "compact")))

    // equality pins both bounds
    val eq = spark.read.format("graft-table-history").load(root)
      .filter(col("version") === 2)
    assert(eq.queryExecution.executedPlan.toString
      .contains("versionBounds=[2, 2]"))
    assert(eq.select("op").head().getString(0) === "delete")
  }

  test("graft-table-history answers COUNT/MIN/MAX(version) from the " +
      "listing alone — proven on a corrupted ledger — and pushes LIMIT") {
    val root = historyTable("t25-hist-agg")
    def hist = spark.read.format("graft-table-history").load(root)

    val agg = hist.agg(count(lit(1)).as("n"), min("version").as("lo"),
      max("version").as("hi"))
    assert(agg.queryExecution.executedPlan.toString
      .contains("pushedAggregates=[count,min,max]"))
    assert(agg.head() === org.apache.spark.sql.Row(5L, 0L, 4L))

    // bounds compose with the pushed aggregate
    val bounded = hist.filter(col("version") >= 2).agg(count(lit(1)))
    assert(bounded.head().getLong(0) === 3L)

    // LIMIT opens only the first N commit files
    val lim = hist.orderBy("version").limit(2)
    val limPlan = spark.read.format("graft-table-history").load(root)
      .limit(2).queryExecution.executedPlan.toString
    assert(limPlan.contains("pushedLimit=2"), limPlan)
    assert(lim.collect().map(_.getLong(0)).toSeq === Seq(0L, 1L))

    // the proof the aggregate never opens a commit file: corrupt one
    // on disk — row reads must now fail, the pushed count must not
    Files.writeString(
      java.nio.file.Paths.get(root, "_txlog", "00000002.json"),
      "this is not a commit")
    assert(hist.agg(count(lit(1))).head().getLong(0) === 5L)
    intercept[Exception] { hist.select("op").collect() }
  }

  test("graft-table-history streams the ledger with offsets = versions") {
    val root = tmpDir("t25-hist-stream")
    val ckpt = tmpDir("t25-hist-stream-ckpt")
    TxLog.init(root)
    val d = docs
    TxLog.append(spark, root, d.filter(col("doc_id") < 100))

    val q = spark.readStream.format("graft-table-history").load(root)
      .writeStream.format("memory").queryName("t25_hist_stream")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("t25_hist_stream").select("version", "op")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((0L, "append")))

      TxLog.deleteWhere(spark, root, "doc_id", Seq(1L))
      TxLog.compact(spark, root, targetBytes = 64L << 20)
      q.processAllAvailable()
      val feed = spark.table("t25_hist_stream").orderBy("version")
      // exactly one event per commit — the ledger stream double-counts
      // nothing even though processAllAvailable triggered repeatedly
      assert(feed.select("version", "op").collect().map(r =>
        (r.getLong(0), r.getString(1))).toSeq ===
        Seq((0L, "append"), (1L, "delete"), (2L, "compact")))
    } finally q.stop()
  }

  test("maxVersionsPerTrigger bounds each micro-batch's commit span") {
    val root = tmpDir("t25-rate")
    val ckpt = tmpDir("t25-rate-ckpt")
    TxLog.init(root)
    val d = docs
    (0 until 6).foreach(i => TxLog.append(spark, root,
      d.filter(col("doc_id") >= i * 50 && col("doc_id") < (i + 1) * 50)))

    val q = spark.readStream.format("graft-table")
      .option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "2").load(root)
      .writeStream.format("memory").queryName("t25_rate")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(idSet(spark.table("t25_rate")) === ids(0, 300))
      // 6 commits / 2 per trigger = 3 batches, each ending on an even
      // version boundary
      val ends = q.recentProgress.toSeq
        .filter(_.numInputRows > 0)
        .map(_.sources.head.endOffset.trim.toLong)
      assert(ends === Seq(1L, 3L, 5L))
    } finally q.stop()
  }
}
