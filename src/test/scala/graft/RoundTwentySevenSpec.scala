package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.TxLog

/** Round-27 surface, part 1: the transaction log's operational safety
  * fixes — vacuum vs in-flight staging, the streaming idempotency
  * ledger surviving log truncation, and change feeds over fully
  * deleted snapshots.
  */
class RoundTwentySevenSpec extends SparkSuite {

  test("vacuum spares a concurrent writer's never-published staged " +
      "file until the age grace, while still reclaiming truncated " +
      "versions' files immediately") {
    val root = tmpDir("txvacstage")
    TxLog.init(root)
    TxLog.append(spark, root, docs.limit(50).coalesce(1)) // v0
    TxLog.append(spark, root, docs.limit(80).coalesce(1)) // v1
    TxLog.compact(spark, root, 1L << 30) // v2: removes v0+v1 files
    // simulate another writer mid-commit: stage() has already moved
    // its file under data/, but its commit has not published yet
    val inFlight = Paths.get(root, "data/part-deadbeef-00000.parquet")
    Files.writeString(inFlight, "not-yet-committed")
    val reclaimed = TxLog.vacuum(root, retainFrom = 2L, force = true)
    // the two files the compaction removed are unreferenced AND were
    // published by truncated commits -> reclaimed; the in-flight file
    // was never published and is younger than the grace -> spared
    assert(reclaimed === 2)
    assert(Files.exists(inFlight),
      "vacuum deleted a concurrent writer's staged file")
    // a dead writer's leftovers ARE garbage once they age out
    val reclaimed2 = TxLog.vacuum(root, retainFrom = 2L,
      stagedGraceMillis = 0L, force = true)
    assert(reclaimed2 === 1)
    assert(!Files.exists(inFlight))
    // the table itself is intact
    assert(TxLog.snapshot(spark, root).count() === 130L)
  }

  test("checkpoint carries the streaming batch-id ledger across a " +
      "vacuum that truncates the streaming commits themselves") {
    val root = tmpDir("txbatchids")
    TxLog.init(root)
    assert(TxLog.commitBatch(spark, root, docs.limit(10), 0L) === Some(0L))
    assert(TxLog.commitBatch(spark, root, docs.limit(20), 1L) === Some(1L))
    TxLog.append(spark, root, docs.limit(5)) // v2
    // truncate past both streaming commits
    TxLog.vacuum(root, retainFrom = 2L, force = true)
    assert(TxLog.versions(root) === Seq(2L))
    // the ledger survives via the checkpoint's batchIds carry...
    assert(TxLog.committedBatchIds(root) === Set(0L, 1L))
    // ...so a checkpoint-recovery replay of batch 1 is a no-op, not a
    // double commit
    assert(TxLog.commitBatch(spark, root, docs.limit(20), 1L) === None)
    assert(TxLog.snapshot(spark, root).count() === 35L)
  }

  test("the full table lifecycle runs over the Hadoop FileSystem " +
      "metadata plane (file: root -> HadoopTxIo, exclusive-create " +
      "publishes)") {
    // an explicit file: scheme routes every metadata operation through
    // the Hadoop FileSystem implementation — the same code path an
    // hdfs:// or object-store root takes, minus the network
    val root = "file:" + tmpDir("txhadoop")
    TxLog.init(root)
    val base = docs.filter(col("doc_id") < 100)
    val ids = base.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val v0 = TxLog.append(spark, root,
      base.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions("doc_id"))
    assert(v0 === 0L)
    TxLog.addConstraint(spark, root, "chars_nonneg", "n_chars >= 0")
    // merge-on-read delete of 5 scattered keys, via the Hadoop plane
    val doomed = ids.grouped(ids.size / 5).map(_.head).take(5).toSeq
    val dvV = TxLog.deleteWhereDv(spark, root, "doc_id", doomed)
    val n = ids.size.toLong
    assert(TxLog.snapshot(spark, root).count() === n - 5)
    // upsert through the same plane: 10 keys, exactly one of them
    // (doomed.head = ids.head) dv-deleted and re-entering as an append
    val upsKeys = ids.take(10)
    val ups = base.filter(col("doc_id").isin(upsKeys: _*))
      .withColumn("n_chars", lit(7L))
    TxLog.upsert(spark, root, ups, "doc_id")
    val snap = TxLog.snapshot(spark, root)
    assert(snap.filter(col("n_chars") === 7L).count() === 10L)
    assert(snap.count() === n - 5 + 1)
    // optimize + time travel + CDC all replay the Hadoop-written log
    TxLog.optimize(spark, root, Seq("doc_id"), 2)
    assert(TxLog.snapshot(spark, root, Some(dvV)).count() === n - 5)
    assert(TxLog.changesBetween(spark, root, dvV - 1, dvV)
      .filter(col("change") === "delete").count() === 5L)
    // checkpoint + clone + restore + vacuum: the remaining TxIo verbs
    TxLog.checkpoint(root)
    val cloneRoot = "file:" + tmpDir("txhadoopclone")
    // clone target must not pre-exist as an inited root
    TxLog.clone(spark, root, s"$cloneRoot/branch")
    assert(TxLog.snapshot(spark, s"$cloneRoot/branch").count() === n - 4)
    val rv = TxLog.restore(spark, root, dvV)
    assert(TxLog.snapshot(spark, root).count() === n - 5)
    assert(TxLog.vacuum(root, rv, force = true) > 0)
    assert(TxLog.snapshot(spark, root).count() === n - 5)
    // the constraint still gates after all of it
    intercept[IllegalArgumentException] {
      TxLog.append(spark, root, docs.limit(1)
        .withColumn("n_chars", lit(-1L)))
    }
  }

  // ---------------- graft-table batch connector ----------------

  /** Executed FileSourceScanExec leaves of `df` (collect() first so
    * the adaptive plan is final), with subqueries included.
    */
  private def leafScans(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    df.collect()
    def rec(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => rec(a.executedPlan)
      case s: FileSourceScanExec => Seq(s)
      case other =>
        other.children.flatMap(rec) ++
          other.subqueries.flatMap(rec)
    }
    rec(df.queryExecution.executedPlan)
  }

  private def filesRead(df: DataFrame): Long =
    leafScans(df).map(_.metrics("numFiles").value).sum

  test("q_table_skipping (the driver entry itself): an ordinary user " +
      "filter through the graft-table connector prunes to one file " +
      "from the log's [min,max] AND reaches the parquet scan as " +
      "PushedFilters") {
    val df = SparkEntry.queries("q_table_skipping")(spark, testdata)
    val scans = leafScans(df)
    assert(scans.size === 1)
    // the head of the lifecycle table is two Z-ordered files; the
    // narrow doc_id slice must open only the low-range one — decided
    // by GraftFileIndex from the LOG, before any footer I/O
    assert(scans.head.metrics("numFiles").value === 1L,
      s"expected 1 file after log-stats pruning:\n${scans.head}")
    val planText = df.queryExecution.executedPlan.toString
    assert(planText.matches("(?s).*PushedFilters: \\[[^\\]]*doc_id.*"),
      s"expected doc_id PushedFilters on the connector scan:\n$planText")
    assert(df.count() > 0)
  }

  test("q_table_skipping_str (the driver entry itself): the string " +
      "range filter prunes files via the connector's FileIndex") {
    val df = SparkEntry.queries("q_table_skipping_str")(spark, testdata)
    val n = filesRead(df)
    assert(n < 5, s"expected the de..en slice to prune some of the 5 " +
      s"lang-range files, read $n")
    // row parity with the explicit snapshotSliceStr API
    val viaApi = graft.ops.TxLog
      .snapshotSliceStr(spark, txlogLangRootForSpec(), "lang", "de", "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(idSet(df.select("doc_id")) === viaApi)
  }

  // build the same lang table the SparkEntry helper builds, for parity
  // reads (the entry caches per session+dir; calling the entry twice
  // reuses the same root, so reconstructing here is only for the API
  // comparison)
  private var langRoot: Option[String] = None

  private def txlogLangRootForSpec(): String = langRoot.getOrElse {
    val p = tmpDir("t27lang")
    TxLog.init(p)
    TxLog.append(spark, p,
      graft.sources.Tables(spark, testdata, "documents")
        .select("doc_id", "lang", "n_chars")
        .repartitionByRange(5, col("lang"), col("doc_id"))
        .sortWithinPartitions("lang", "doc_id"))
    langRoot = Some(p)
    p
  }

  test("q_timetravel (the driver entry itself) reads both versions " +
      "through the connector with API parity") {
    val df = SparkEntry.queries("q_timetravel")(spark, testdata)
    assert(df.filter(col("snap") === "v1").count() > 0)
    assert(df.filter(col("snap") === "head").count() > 0)
  }

  test("the connector applies deletion-vector masks inside the scan, " +
      "also under a pushed filter (row positions stay exact through " +
      "row-group skipping)") {
    val root = tmpDir("t27dv")
    TxLog.init(root)
    TxLog.append(spark, root,
      docs.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions("doc_id"))
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val doomed = ids.zipWithIndex.collect {
      case (id, i) if i % 17 == 3 => id
    }.toSeq
    val dvV = TxLog.deleteWhereDv(spark, root, "doc_id", doomed)
    assert(TxLog.resolve(root, Some(dvV)).dvFiles.nonEmpty)
    val viaConn = spark.read.format("graft-table")
      .option("versionAsOf", dvV.toString).load(root)
    val viaApi = TxLog.snapshot(spark, root, Some(dvV))
    assert(idSet(viaConn) === idSet(viaApi))
    assert(viaConn.count() === docs.count() - doomed.size)
    // a selective filter must not desynchronize mask positions
    val lo = ids(ids.length / 3); val hi = ids(2 * ids.length / 3)
    val f = col("doc_id") >= lo && col("doc_id") <= hi
    assert(idSet(viaConn.filter(f)) === idSet(viaApi.filter(f)))
  }

  test("connector time-travel options: timestampAsOf resolves through " +
      "versionAt; both options together are rejected") {
    val root = tmpDir("t27ts")
    TxLog.init(root)
    TxLog.append(spark, root, docs.filter(col("doc_id") < 50))
    val now = System.currentTimeMillis() + 60000
    val viaTs = spark.read.format("graft-table")
      .option("timestampAsOf", now.toString).load(root)
    assert(viaTs.count() === docs.filter(col("doc_id") < 50).count())
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-table")
        .option("versionAsOf", "0").option("timestampAsOf", now.toString)
        .load(root)
    }
    assert(e.getMessage.contains("at most one"))
  }

  test("IS NOT NULL skipping: the q_table_skipping_null entry reads " +
      "one file, and the connector prunes the all-null file from the " +
      "log's null counts") {
    val df = SparkEntry.queries("q_table_skipping_null")(spark, testdata)
    // the API path: prunedSlice listed only the populated file
    assert(df.inputFiles.length === 1,
      s"expected the all-null file pruned, read ${df.inputFiles.length}")
    // the connector path: same pruning from an ordinary IS NOT NULL
    val root = registry.TableQueries.txlogNullTable(spark, testdata)
    val conn = spark.read.format("graft-table").load(root)
      .filter(col("lang_opt").isNotNull)
    assert(filesRead(conn) === 1L)
    val connNull = spark.read.format("graft-table").load(root)
      .filter(col("lang_opt").isNull)
    assert(filesRead(connNull) === 1L)
    assert(connNull.count() ===
      docs.filter(pmod(col("doc_id"), lit(2)) === 0).count())
  }

  test("q_table_partitioned (the driver entry itself): partitions " +
      "prune from the log before listing; rewrite outputs without " +
      "partition metadata are conservatively read") {
    val df = SparkEntry.queries("q_table_partitioned")(spark, testdata)
    val root = registry.TableQueries.txlogPartTable(spark, testdata)
    val parts = TxLog.filePartitions(root)
    val live = TxLog.resolve(root).files
    val en = live.count(f => parts.get(f).exists(_.get("lang").contains("en")))
    val bare = live.count(f => !parts.contains(f))
    val total = live.size
    assert(en > 0 && en + bare < total,
      s"layout not partition-prunable: en=$en bare=$bare total=$total")
    // the entry now IS the connector read (round-11 closure): files
    // opened = the en partition + at most the (conservative) bare
    // rewrite outputs, every other partition pruned from the log
    // before listing. May prune HARDER than en + bare: the rewrite
    // outputs carry no partition metadata but DO carry footer
    // [min,max] lang stats, which the FileIndex also consults
    // (numFiles metric, not inputFiles — a FileIndex reports the
    // unpruned live set there by contract)
    val connFiles = filesRead(df)
    assert(connFiles >= en.toLong && connFiles <= (en + bare).toLong,
      s"expected between $en and ${en + bare} files, read $connFiles " +
        s"of $total")
    // row parity with the explicit partition-slice API
    assert(idSet(df) === idSet(
      TxLog.snapshotPartition(spark, root, Map("lang" -> "en"))))
    // and partition metadata reads back exactly
    assert(TxLog.partitionColumns(root) === Seq("lang"))
  }

  test("multi-column partitioned appends nest hive dirs in declaration " +
      "order and prune on any prefix of the partition filter") {
    val root = tmpDir("t27part2")
    TxLog.init(root)
    val d = docs.withColumn("parity",
      when(pmod(col("doc_id"), lit(2)) === 0, "even").otherwise("odd"))
    TxLog.appendPartitioned(spark, root, d, Seq("lang", "parity"))
    assert(TxLog.partitionColumns(root) === Seq("lang", "parity"))
    val parts = TxLog.filePartitions(root)
    val live = TxLog.resolve(root).files
    assert(live.forall(f => f.contains("/lang=") && f.contains("/parity=")))
    assert(live.forall(f => parts(f).keySet === Set("lang", "parity")))
    // full partition filter: exactly that leaf's files
    val leaf = TxLog.snapshotPartition(spark, root,
      Map("lang" -> "en", "parity" -> "odd"))
    val wantLeaf = live.filter(f => parts(f) ==
      Map("lang" -> "en", "parity" -> "odd"))
    assert(leaf.inputFiles.length === wantLeaf.size && wantLeaf.nonEmpty)
    assert(idSet(leaf) === idSet(docs.filter(col("lang") === "en" &&
      pmod(col("doc_id"), lit(2)) === 1)))
    // prefix filter: every parity under one lang
    val pref = TxLog.snapshotPartition(spark, root, Map("lang" -> "de"))
    assert(pref.inputFiles.length ===
      live.count(f => parts(f).get("lang").contains("de")))
    assert(idSet(pref) === idSet(docs.filter(col("lang") === "de")))
    // NULL partition values are rejected loudly, nothing committed
    val before = TxLog.resolve(root).version
    intercept[IllegalArgumentException] {
      TxLog.appendPartitioned(spark, root,
        d.withColumn("lang", lit(null).cast("string")).limit(3),
        Seq("lang", "parity"))
    }
    assert(TxLog.resolve(root).version === before)
  }

  test("the connector reads a shallow clone: relative ../src/data " +
      "references resolve through the FileIndex, masks and partition " +
      "metadata included") {
    val src = tmpDir("t27connclone-src")
    TxLog.init(src)
    TxLog.appendPartitioned(spark, src,
      docs.repartition(2, col("doc_id")), Seq("lang"))
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    TxLog.deleteWhereDv(spark, src, "doc_id", ids.take(7).toSeq)
    val dst = tmpDir("t27connclone-dst") + "/branch"
    TxLog.clone(spark, src, dst)
    val conn = spark.read.format("graft-table").load(dst)
    // zero-copy references + the source's mask, through the connector
    assert(idSet(conn) === ids.drop(7).toSet)
    // the carried partition metadata prunes on the clone too
    val en = spark.read.format("graft-table").load(dst)
      .filter(col("lang") === "en")
    assert(idSet(en) ===
      idSet(docs.filter(col("lang") === "en")) -- ids.take(7))
    assert(filesRead(en) < TxLog.resolve(dst).files.size.toLong)
  }

  test("the DV mask growth guard: reads fail loudly past " +
      "spark.graft.dv.maxRows, naming purgeMasks as the remedy") {
    val root = tmpDir("t27dvguard")
    TxLog.init(root)
    TxLog.append(spark, root,
      docs.repartitionByRange(2, col("doc_id"))
        .sortWithinPartitions("doc_id"))
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    TxLog.deleteWhereDv(spark, root, "doc_id", ids.take(20).toSeq)
    try {
      spark.conf.set("spark.graft.dv.maxRows", "5")
      val e = intercept[IllegalStateException] {
        TxLog.snapshot(spark, root).count()
      }
      assert(e.getMessage.contains("purgeMasks"))
      assert(e.getMessage.contains("un-purged"))
      // purging IS the remedy: after it, the same gate passes
      spark.conf.set("spark.graft.dv.maxRows", "5")
      TxLog.purgeMasks(spark, root, minFraction = 0.0001)
      assert(TxLog.snapshot(spark, root).count() ===
        docs.count() - 20)
    } finally spark.conf.unset("spark.graft.dv.maxRows")
  }

  test("changesBetweenCdc pairs a merge's removed-and-re-added keys " +
      "into update pre/post images; non-merge intervals degrade to " +
      "plain insert/delete") {
    val root = tmpDir("t27mergecdc")
    TxLog.init(root)
    val base = docs.filter(col("doc_id") < 200)
    TxLog.append(spark, root,
      base.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions("doc_id")) // v0
    val updates = base.filter(col("doc_id") % 7 === 2)
      .withColumn("lang", lit("up"))
      .unionByName(base.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 5000L).as("doc_id"),
          lit("nw").as("lang"), col("n_chars")))
    TxLog.upsert(spark, root, updates, "doc_id") // v1 (merge)
    val cdc = TxLog.changesBetweenCdc(spark, root, 0L, 1L)
    val updCount = base.filter(col("doc_id") % 7 === 2).count()
    val newCount = base.filter(col("doc_id") % 40 === 0).count()
    assert(cdc.filter(col("change_type") === "update_preimage")
      .count() === updCount)
    assert(cdc.filter(col("change_type") === "update_postimage")
      .count() === updCount)
    assert(cdc.filter(col("change_type") === "update_postimage" &&
      col("lang") =!= "up").count() === 0L)
    assert(cdc.filter(col("change_type") === "insert").count() ===
      newCount)
    assert(cdc.filter(col("change_type") === "delete").count() === 0L)
    // pre/post pair on the SAME keys
    assert(idSet(cdc.filter(col("change_type") === "update_preimage")) ===
      idSet(cdc.filter(col("change_type") === "update_postimage")))
    // a non-merge interval: plain inserts, no pairing attempted
    TxLog.deleteWhere(spark, root, "doc_id", Seq(base.select(min("doc_id"))
      .collect().head.getLong(0))) // v2
    val cdc2 = TxLog.changesBetweenCdc(spark, root, 1L, 2L)
    assert(cdc2.filter(col("change_type") === "delete").count() === 1L)
    assert(cdc2.filter(col("change_type")
      .startsWith("update")).count() === 0L)
  }

  test("the log records the table schema (the Delta metadata action): " +
      "evolution widens it, checkpoints carry it across vacuum, " +
      "restore rolls it back, and the connector plans from it") {
    val root = tmpDir("t27schema")
    TxLog.init(root)
    val a = docs.filter(col("doc_id") < 30)
    TxLog.append(spark, root, a) // v0
    assert(TxLog.tableSchema(root).get.fieldNames.toSeq ===
      Seq("doc_id", "lang", "n_chars"))
    TxLog.append(spark, root, a.withColumn("extra", lit(1L))) // v1
    assert(TxLog.tableSchema(root).get.fieldNames.contains("extra"))
    // the schema action time-travels: v0's recorded schema is narrow
    assert(!TxLog.tableSchema(root, Some(0L)).get
      .fieldNames.contains("extra"))
    // the connector plans from the recorded schema; pre-evolution
    // files null-fill the new column
    val conn = spark.read.format("graft-table").load(root)
    assert(conn.schema.fieldNames.toSet ===
      TxLog.tableSchema(root).get.fieldNames.toSet)
    assert(conn.filter(col("extra").isNull).count() === 30L)
    assert(conn.count() === 60L)
    // a row-preserving rewrite records no schema action; vacuum
    // truncates the commits that DID record it — the checkpoint
    // carries the action across
    TxLog.compact(spark, root, 1L << 30) // v2
    TxLog.vacuum(root, retainFrom = 2L, force = true)
    assert(TxLog.tableSchema(root).get.fieldNames.contains("extra"))
    // restore rolls the schema action back with the data
    val root2 = tmpDir("t27schema2")
    TxLog.init(root2)
    TxLog.append(spark, root2, a) // v0
    TxLog.append(spark, root2, a.withColumn("extra", lit(2L))) // v1
    TxLog.restore(spark, root2, 0L) // v2
    assert(!TxLog.tableSchema(root2).get.fieldNames.contains("extra"))
    assert(!spark.read.format("graft-table").load(root2)
      .schema.fieldNames.contains("extra"))
  }

  test("optimizePartition rewrites ONE partition's files, carries the " +
      "partition metadata onto the outputs, and leaves every other " +
      "partition byte-identical") {
    val root = tmpDir("t27optpart")
    TxLog.init(root)
    TxLog.appendPartitioned(spark, root,
      docs.repartition(4, col("doc_id")), Seq("lang"))
    val before = TxLog.resolve(root)
    val partsBefore = TxLog.filePartitions(root)
    val othersBefore = before.files.filterNot(f =>
      partsBefore.get(f).exists(_.get("lang").contains("en")))
    val sums = othersBefore.map(f =>
      f -> java.nio.file.Files.size(java.nio.file.Paths.get(root, f))).toMap
    val v = TxLog.optimizePartition(spark, root,
      Map("lang" -> "en"), Seq("doc_id"), numFiles = 1)
    // the en partition is now 1 file that still carries its values
    val partsAfter = TxLog.filePartitions(root)
    val after = TxLog.resolve(root)
    val enAfter = after.files.filter(f =>
      partsAfter.get(f).exists(_.get("lang").contains("en")))
    assert(enAfter.size === 1)
    // pruning still works across the maintenance: the slice opens
    // exactly the rewritten file
    val slice = TxLog.snapshotPartition(spark, root, Map("lang" -> "en"))
    assert(slice.inputFiles.length === 1)
    assert(idSet(slice) === idSet(docs.filter(col("lang") === "en")))
    // other partitions untouched on disk
    othersBefore.foreach { f =>
      assert(after.files.contains(f))
      assert(java.nio.file.Files.size(
        java.nio.file.Paths.get(root, f)) === sums(f))
    }
    // logically a no-op: the optimize interval's change feed is empty
    assert(TxLog.changesBetween(spark, root, v - 1, v).count() === 0L)
  }

  test("the batch writer: append / atomic overwrite / ErrorIfExists / " +
      "Ignore land as commits, overwrite deactivates active masks, " +
      "history stays time-travel readable") {
    val root = tmpDir("t27write") + "/t"
    val a = docs.filter(col("doc_id") < 100)
    val b = docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
    a.write.format("graft-table").mode("append").save(root) // v0
    // a dv delete so the overwrite has a mask to deactivate
    val someIds = a.select("doc_id").limit(5)
      .collect().map(_.getLong(0)).toSeq
    TxLog.deleteWhereDv(spark, root, "doc_id", someIds) // v1
    assert(TxLog.resolve(root).dvFiles.nonEmpty)
    b.write.format("graft-table").mode("overwrite").save(root) // v2
    assert(TxLog.resolve(root).dvFiles.isEmpty,
      "overwrite must deactivate the previous masks")
    assert(idSet(spark.read.format("graft-table").load(root)) === idSet(b))
    // the pre-overwrite (masked) version still time-travels exactly
    assert(idSet(spark.read.format("graft-table")
      .option("versionAsOf", "1").load(root)) ===
      idSet(a) -- someIds)
    // ErrorIfExists refuses a table with commits; Ignore is a no-op
    intercept[IllegalStateException] {
      a.write.format("graft-table").mode("errorifexists").save(root)
    }
    a.write.format("graft-table").mode("ignore").save(root)
    assert(idSet(spark.read.format("graft-table").load(root)) === idSet(b))
    // and the whole lifecycle is ordinary commits in the ledger
    assert(TxLog.history(root).map(_.op) ===
      Seq("append", "delete-dv", "overwrite"))
  }

  test("the cdcImages stream delivers update pre/post images for a " +
      "merge commit, exactly once") {
    val root = tmpDir("t27cdcimg")
    val out = tmpDir("t27cdcimg-out")
    val ckpt = tmpDir("t27cdcimg-ckpt")
    TxLog.init(root)
    val base = docs.filter(col("doc_id") < 120)
    TxLog.append(spark, root, base) // v0
    val q = spark.readStream.format("graft-table")
      .option("cdc", "true").option("cdcImages", "true")
      .load(root)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      TxLog.upsert(spark, root,
        base.filter(col("doc_id") % 11 === 4)
          .withColumn("lang", lit("uu")), "doc_id") // v1 merge
      q.processAllAvailable()
    } finally q.stop()
    val feed = spark.read.parquet(out)
    val nUpd = base.filter(col("doc_id") % 11 === 4).count()
    assert(feed.filter(col("change_type") === "insert").count() ===
      base.count()) // the v0 snapshot batch
    assert(feed.filter(col("change_type") === "update_preimage")
      .count() === nUpd)
    assert(feed.filter(col("change_type") === "update_postimage" &&
      col("lang") === "uu").count() === nUpd)
  }

  test("changesBetween over a fully-deleted snapshot returns the " +
      "empty change set, not a no-live-files error") {
    val root = tmpDir("txemptycdc")
    TxLog.init(root)
    val ids = docs.limit(5).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    TxLog.append(spark, root, docs.limit(5).coalesce(1)) // v0
    val v = TxLog.deleteWhere(spark, root, "doc_id", ids) // v1: all gone
    assert(TxLog.resolve(root, Some(v)).files.isEmpty)
    val diff = TxLog.changesBetween(spark, root, v, v)
    assert(diff.count() === 0L)
    // schema still aligned to the table's shape (derived from the
    // nearest version that HAS files)
    assert(diff.columns.toSeq ===
      Seq("doc_id", "lang", "n_chars", "change"))
    // and the delete interval itself still reports its deletes
    val del = TxLog.changesBetween(spark, root, 0L, v)
    assert(del.filter(col("change") === "delete").count() === 5L)
  }
}
