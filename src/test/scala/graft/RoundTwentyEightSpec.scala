package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{TxIo, TxLog}

/** Round-28 surface: the checkpointed skipping index (connector
  * planning is O(checkpoint interval), stats survive vacuum), the
  * per-commit CDC pairing, race-loser staged-file cleanup, zero-byte
  * tip quarantine, and the pure-SQL read surface.
  */
class RoundTwentyEightSpec extends SparkSuite {

  private def leafScans(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    df.collect()
    def rec(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => rec(a.executedPlan)
      case s: FileSourceScanExec => Seq(s)
      case other =>
        other.children.flatMap(rec) ++ other.subqueries.flatMap(rec)
    }
    rec(df.queryExecution.executedPlan)
  }

  private def filesRead(df: DataFrame): Long =
    leafScans(df).map(_.metrics("numFiles").value).sum

  test("connector planning is O(checkpoint interval): a read replays " +
      "checkpoint + suffix and never touches a commit below the " +
      "newest checkpoint") {
    val root = tmpDir("t28cp")
    TxLog.init(root)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    // 12 range-disjoint single-file appends (v0..v11), then a manual
    // checkpoint, then 3 more (v12..v14) — the suffix
    val chunks = ids.grouped(math.max(1, ids.length / 12)).toSeq.take(12)
    chunks.foreach { c =>
      TxLog.append(spark, root,
        docs.filter(col("doc_id") >= c.head && col("doc_id") <= c.last)
          .coalesce(1))
    }
    val cpV = TxLog.checkpoint(root) // at v11
    assert(cpV === chunks.size - 1L)
    // suffix commits stay range-disjoint from chunk 2, so the pruning
    // assertion below isolates the checkpoint-carried stats
    val extra = docs.filter(col("doc_id") >= chunks.last.head)
    (0 until 3).foreach(_ => TxLog.append(spark, root, extra.coalesce(1)))
    // count every metadata READ below; scope to this root only (the
    // wrapper is global and other code may touch other tables)
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    TxIo.wrapper = inner => new DelegatingIo(inner) {
      override def read(path: String): String = {
        if (path.startsWith(root)) reads.add(path)
        inner.read(path)
      }
    }
    try {
      // cold cache: the replay must be EXACTLY one checkpoint read
      // plus the suffix commits — never a commit below the checkpoint
      TxLog.clearEntryCache()
      def plan(): Unit = {
        val df = spark.read.format("graft-table").load(root)
          .filter(col("doc_id") >= chunks(2).head &&
            col("doc_id") <= chunks(2).last)
        assert(filesRead(df) === 1L,
          "log-stats pruning must open exactly the one overlapping file")
      }
      plan()
      import scala.jdk.CollectionConverters._
      val commitVs = reads.asScala.toSeq
        .filter(p => p.contains("_txlog/") && p.endsWith(".json") &&
          !p.contains(".checkpoint."))
        .map(p => p.substring(p.lastIndexOf('/') + 1)
          .stripSuffix(".json").toLong).toSet
      assert(commitVs.nonEmpty && commitVs.forall(_ > cpV),
        s"planning read commits $commitVs — versions <= $cpV must come " +
          "from the checkpoint carry, not per-commit reads")
      val cpReads = reads.asScala.count(_.contains(".checkpoint."))
      assert(cpReads === 1,
        s"planning must replay from the checkpoint EXACTLY ONCE per " +
          s"session (saw $cpReads reads) — the parsed-entry cache owns " +
          "repeats")
      // warm cache: planning the same version again costs ZERO log
      // reads — entries are immutable once published, so a session
      // must never re-read or re-parse them
      reads.clear()
      plan()
      assert(reads.asScala.isEmpty,
        s"re-planning a cached version re-read ${reads.asScala.toSeq}")
      // the streaming idempotence ledger replays the same way — a
      // continuously ingesting table must not pay O(all commits)
      // reads per micro-batch
      reads.clear()
      TxLog.committedBatchIds(root)
      val ledgerVs = reads.asScala.toSeq
        .filter(p => p.contains("_txlog/") && p.endsWith(".json") &&
          !p.contains(".checkpoint."))
        .map(p => p.substring(p.lastIndexOf('/') + 1)
          .stripSuffix(".json").toLong).toSet
      assert(ledgerVs.forall(_ > cpV),
        s"ledger read commits $ledgerVs below the checkpoint $cpV")
    } finally TxIo.wrapper = identity
  }

  test("the skipping index survives vacuum truncation through the " +
      "checkpoint carry: stats, partition values, and partition " +
      "columns all outlive their commits") {
    val root = tmpDir("t28vac")
    TxLog.init(root)
    val d = docs.withColumn("parity",
      when(pmod(col("doc_id"), lit(2)) === 0, "even").otherwise("odd"))
    TxLog.appendPartitioned(spark, root, d, Seq("lang")) // v0
    TxLog.append(spark, root, d.limit(7).coalesce(1)) // v1
    TxLog.vacuum(root, retainFrom = 1L, force = true) // truncates v0
    assert(TxLog.versions(root) === Seq(1L))
    // the partitioned append's metadata lives on in the checkpoint
    assert(TxLog.partitionColumns(root) === Seq("lang"))
    val live = TxLog.resolve(root).files
    val parts = TxLog.filePartitions(root)
    assert(live.count(parts.contains) === live.size - 1,
      "every v0 file keeps its partition values across the truncation")
    val st = TxLog.fileStats(root)
    assert(live.forall(st.contains),
      "every live file keeps its [min,max] stats across the truncation")
    // and the connector still prunes from them: one partition + the
    // (conservative) v1 file at most
    val en = live.count(f => parts.get(f).exists(_.get("lang")
      .contains("en")))
    val conn = spark.read.format("graft-table").load(root)
      .filter(col("lang") === "en")
    assert(filesRead(conn) <= en + 1L)
    assert(idSet(conn) === idSet(d.filter(col("lang") === "en")
      .unionByName(d.limit(7).filter(col("lang") === "en"))))
  }

  test("per-commit CDC: a merge's update images never pair with an " +
      "unrelated delete + re-append of the same key elsewhere in the " +
      "interval") {
    val root = tmpDir("t28cdc")
    TxLog.init(root)
    val base = docs.filter(col("doc_id") < 300)
    TxLog.append(spark, root,
      base.repartitionByRange(2, col("doc_id"))
        .sortWithinPartitions("doc_id")) // v0
    val ids = base.select("doc_id").collect().map(_.getLong(0)).sorted
    val k = ids.head
    TxLog.deleteWhere(spark, root, "doc_id", Seq(k)) // v1: k out
    TxLog.append(spark, root, base.filter(col("doc_id") === k)
      .withColumn("lang", lit("re"))) // v2: k back, unrelated to any merge
    val mergeRows = base.filter(col("doc_id") % 13 === 5 &&
      col("doc_id") =!= k)
    TxLog.upsert(spark, root,
      mergeRows.withColumn("lang", lit("mg")), "doc_id") // v3: merge
    val cdc = TxLog.changesBetweenCdc(spark, root, 0L, 3L)
    // key k: one delete (v1) + one insert (v2, lang 're') — the merge
    // at v3 must NOT capture it as an update pair (the r10
    // interval-level pairing would have)
    val kRows = cdc.filter(col("doc_id") === k)
    assert(kRows.filter(col("change_type").startsWith("update"))
      .count() === 0L,
      "an unrelated delete+re-append paired into update images")
    assert(kRows.filter(col("change_type") === "delete").count() === 1L)
    assert(kRows.filter(col("change_type") === "insert" &&
      col("lang") === "re").count() === 1L)
    // the merge's own keys pair exactly
    val m = mergeRows.count()
    assert(cdc.filter(col("change_type") === "update_preimage")
      .count() === m)
    assert(cdc.filter(col("change_type") === "update_postimage" &&
      col("lang") === "mg").count() === m)
    assert(idSet(cdc.filter(col("change_type") === "update_preimage")) ===
      idSet(cdc.filter(col("change_type") === "update_postimage")))
  }

  test("an optimizePartition that races a CONFLICTING winner (one of " +
      "its partition's files removed under it) fails loudly and " +
      "cleans up its staged files; re-deriving then succeeds") {
    val root = tmpDir("t28race")
    TxLog.init(root)
    TxLog.appendPartitioned(spark, root,
      docs.repartition(2, col("doc_id")), Seq("lang")) // v0
    def dataFiles(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(Paths.get(root, "data"))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.toString).toSet
      finally s.close()
    }
    val before = dataFiles()
    // a live file of the partition the optimize rewrites — the winner
    // removing it makes the loser's derivation stale (not re-stampable)
    val victim = TxLog.filePartitions(root)
      .collectFirst { case (f, kv) if kv.get("lang").contains("en") => f }
      .get
    val fired = new AtomicBoolean(false)
    TxIo.wrapper = inner => new DelegatingIo(inner) {
      override def putIfAbsent(path: String, content: String): Unit = {
        if (path.startsWith(root) && path.contains("_txlog/") &&
            !path.contains(".checkpoint.") &&
            fired.compareAndSet(false, true)) {
          val v = path.substring(path.lastIndexOf('/') + 1)
            .stripSuffix(".json").toLong
          inner.putIfAbsent(path,
            s"""{"v":$v,"op":"delete","adds":[],""" +
              s""""removes":["$victim"],"rows":0,"rowsRemoved":0}""")
        }
        inner.putIfAbsent(path, content)
      }
    }
    try {
      val e = intercept[IllegalStateException] {
        TxLog.optimizePartition(spark, root, Map("lang" -> "en"),
          Seq("doc_id"), numFiles = 1)
      }
      assert(e.getMessage.contains("conflict"))
    } finally TxIo.wrapper = identity
    assert(dataFiles() === before,
      "the loser's staged z-order outputs must not orphan")
    // the loud-conflict contract: re-derive and retry — now it lands
    // (against the post-winner state, which excludes the victim)
    TxLog.optimizePartition(spark, root, Map("lang" -> "en"),
      Seq("doc_id"), numFiles = 1)
    assert(idSet(TxLog.snapshot(spark, root)) ===
      idSet(TxLog.snapshot(spark, root, Some(1L))))
  }

  test("an optimizePartition that races a DISJOINT winner (a pure " +
      "append) re-stamps at the next version and lands — optimistic " +
      "concurrency, the appended file simply stays un-optimized") {
    val root = tmpDir("t28race3")
    TxLog.init(root)
    TxLog.appendPartitioned(spark, root,
      docs.repartition(2, col("doc_id")), Seq("lang")) // v0
    val fired = new AtomicBoolean(false)
    TxIo.wrapper = inner => new DelegatingIo(inner) {
      override def putIfAbsent(path: String, content: String): Unit = {
        if (path.startsWith(root) && path.contains("_txlog/") &&
            !path.contains(".checkpoint.") &&
            fired.compareAndSet(false, true)) {
          val v = path.substring(path.lastIndexOf('/') + 1)
            .stripSuffix(".json").toLong
          inner.putIfAbsent(path,
            s"""{"v":$v,"op":"append","adds":[],"removes":[],""" +
              """"rows":0,"rowsRemoved":0}""")
        }
        inner.putIfAbsent(path, content)
      }
    }
    try {
      val v = TxLog.optimizePartition(spark, root, Map("lang" -> "en"),
        Seq("doc_id"), numFiles = 1)
      assert(v === 2L, "the loser must serialize AFTER the winner")
    } finally TxIo.wrapper = identity
    assert(idSet(TxLog.snapshot(spark, root)) === idSet(docs))
    // partition metadata re-recorded on the rewritten outputs
    val parts = TxLog.filePartitions(root)
    val live = TxLog.resolve(root).files
    assert(live.forall(f => parts.get(f).exists(_.get("lang").nonEmpty)))
  }

  test("a lost overwrite race cleans up the loser's staged files and " +
      "leaves the table untouched") {
    val root = tmpDir("t28race2")
    TxLog.init(root)
    TxLog.append(spark, root, docs.limit(40).coalesce(1)) // v0
    def dataFiles(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(Paths.get(root, "data"))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.toString).toSet
      finally s.close()
    }
    val before = dataFiles()
    val fired = new AtomicBoolean(false)
    TxIo.wrapper = inner => new DelegatingIo(inner) {
      override def putIfAbsent(path: String, content: String): Unit = {
        if (path.startsWith(root) && path.contains("_txlog/") &&
            !path.contains(".checkpoint.") &&
            fired.compareAndSet(false, true)) {
          val v = path.substring(path.lastIndexOf('/') + 1)
            .stripSuffix(".json").toLong
          inner.putIfAbsent(path,
            s"""{"v":$v,"op":"append","adds":[],"removes":[],""" +
              """"rows":0,"rowsRemoved":0}""")
        }
        inner.putIfAbsent(path, content)
      }
    }
    try intercept[IllegalStateException] {
      TxLog.overwrite(spark, root, docs.limit(10))
    } finally TxIo.wrapper = identity
    assert(dataFiles() === before)
    assert(TxLog.snapshot(spark, root).count() === 40L)
  }

  test("a zero-byte tip commit (crashed publisher) fails loudly " +
      "within the grace and is quarantined after it, freeing the " +
      "version slot") {
    val root = tmpDir("t28zero")
    TxLog.init(root)
    TxLog.append(spark, root, docs.limit(20).coalesce(1)) // v0
    TxLog.append(spark, root, docs.limit(30).coalesce(1)) // v1
    val claim = Paths.get(root, "_txlog/00000002.json")
    Files.createFile(claim)
    // young claim: the publisher may still be flushing — loud + retry
    val e = intercept[IllegalStateException] { TxLog.resolve(root) }
    assert(e.getMessage.contains("zero-byte"))
    val old = TxLog.zeroByteTipGraceMillis
    try {
      TxLog.zeroByteTipGraceMillis = 0L
      // aged out: quarantined, the slot is reusable — no bricked table
      // (the new commit legitimately reoccupies the claimed name)
      val v = TxLog.append(spark, root, docs.limit(5).coalesce(1))
      assert(v === 2L)
      assert(Files.size(claim) > 0L,
        "the freed slot holds the new writer's real commit")
      import scala.jdk.CollectionConverters._
      val log = Files.list(Paths.get(root, "_txlog"))
      val q = try log.iterator().asScala
        .map(_.getFileName.toString).toList finally log.close()
      assert(q.exists(_.startsWith(".quarantine-")),
        "the dead claim is preserved for forensics, not deleted")
      assert(TxLog.snapshot(spark, root).count() === 55L)
    } finally TxLog.zeroByteTipGraceMillis = old
  }

  test("checkpoint-carried index ≡ whole-log replay: every version's " +
      "skipping index, ledger, constraints, and schema match a " +
      "checkpoint-free twin replaying the same commits") {
    val root = tmpDir("t28equiv")
    TxLog.init(root)
    val d = docs
    // a mixed lifecycle crossing TWO checkpoints, with a restore that
    // re-adds files PAST a checkpoint (the nastiest carry case)
    TxLog.appendPartitioned(spark, root,
      d.filter(col("doc_id") < 200), Seq("lang")) // v0
    TxLog.append(spark, root, d.filter(col("doc_id") >= 200 &&
      col("doc_id") < 300).coalesce(1)) // v1
    TxLog.addConstraint(spark, root, "chars_ok", "n_chars >= 0") // v2
    // deletes hit the PLAIN v1 file only, so the partitioned files
    // keep their metadata for the scoped optimize below
    TxLog.deleteWhere(spark, root, "doc_id", Seq(205L, 207L)) // v3
    TxLog.commitBatch(spark, root, d.filter(col("doc_id") >= 300 &&
      col("doc_id") < 350).coalesce(1), 42L) // v4
    TxLog.deleteWhereDv(spark, root, "doc_id", Seq(211L, 213L)) // v5
    TxLog.checkpoint(root) // cp@5
    TxLog.optimizePartition(spark, root, Map("lang" -> "en"),
      Seq("doc_id"), numFiles = 1) // v6: drops en files from live set
    TxLog.restore(spark, root, 5L) // v7: re-adds them PAST the cp
    TxLog.upsert(spark, root, d.filter(col("doc_id") % 97 === 3)
      .withColumn("lang", lit("up")), "doc_id") // v8
    TxLog.checkpoint(root) // cp@8
    TxLog.append(spark, root, d.filter(col("doc_id") >= 350 &&
      col("doc_id") < 380).coalesce(1)) // v9
    // the twin: the SAME commit files, no checkpoints — its every
    // index read is the full-log replay the carry must reproduce
    val twin = tmpDir("t28equiv-twin")
    TxLog.init(twin)
    import scala.jdk.CollectionConverters._
    val logS = Files.list(Paths.get(root, "_txlog"))
    try logS.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".json") &&
        !p.getFileName.toString.contains(".checkpoint.") &&
        !p.getFileName.toString.startsWith("."))
      .foreach(p => Files.copy(p,
        Paths.get(twin, "_txlog", p.getFileName.toString)))
    finally logS.close()
    def liveIdx(r: String, v: Long) = {
      val live = TxLog.resolve(r, Some(v)).files.toSet
      val i = TxLog.skippingIndex(r, Some(v))
      (i.int.view.filterKeys(live).toMap,
        i.str.view.filterKeys(live).toMap,
        i.nulls.view.filterKeys(live).toMap,
        i.parts.view.filterKeys(live).toMap)
    }
    TxLog.versions(root).foreach { v =>
      assert(TxLog.resolve(root, Some(v)).files.toSet ===
        TxLog.resolve(twin, Some(v)).files.toSet, s"live set @ v$v")
      assert(liveIdx(root, v) === liveIdx(twin, v),
        s"skipping index @ v$v")
      assert(TxLog.partitionColumns(root, Some(v)) ===
        TxLog.partitionColumns(twin, Some(v)), s"partCols @ v$v")
      assert(TxLog.tableSchema(root, Some(v)) ===
        TxLog.tableSchema(twin, Some(v)), s"schema @ v$v")
    }
    assert(TxLog.committedBatchIds(root) ===
      TxLog.committedBatchIds(twin))
    assert(TxLog.constraints(root) === TxLog.constraints(twin))
    // the restore's re-adds kept their partition metadata even though
    // they re-entered the live set after the checkpoint
    val parts = TxLog.filePartitions(root)
    val reAdded = TxLog.resolve(root).files
      .filter(_.contains("/lang="))
    assert(reAdded.nonEmpty && reAdded.forall(parts.contains),
      "restored partitioned files keep their partition values")
  }

  test("q_table_sql (the driver entry itself): the pure-SQL route " +
      "(USING graft-table DDL + SELECT) plans through the " +
      "GraftFileIndex and prunes from the log's string stats") {
    val df = SparkEntry.queries("q_table_sql")(spark, testdata)
    // the lang table is 5 lang-range files; the 'en' equality must
    // prune some of them from the log before listing
    val n = filesRead(df)
    assert(n < 5, s"expected the SQL WHERE to prune the 5-file " +
      s"lang-range layout, read $n")
    assert(idSet(df) === idSet(docs.filter(col("lang") === "en")))
  }

  test("CREATE TEMPORARY VIEW ... USING graft-table reaches the same " +
      "relation, including versionAsOf time travel") {
    val root = tmpDir("t28sqlview")
    TxLog.init(root)
    val a = docs.filter(col("doc_id") < 60)
    val b = docs.filter(col("doc_id") >= 60 && col("doc_id") < 90)
    TxLog.append(spark, root, a) // v0
    TxLog.append(spark, root, b) // v1
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW t28_v0 " +
      s"USING `graft-table` OPTIONS (path '$root', versionAsOf '0')")
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW t28_head " +
      s"USING `graft-table` OPTIONS (path '$root')")
    assert(idSet(spark.table("t28_v0")) === idSet(a))
    assert(idSet(spark.table("t28_head")) === idSet(a) ++ idSet(b))
    // and the view composes with ordinary SQL
    assert(spark.sql(
      "SELECT count(*) AS n FROM t28_head WHERE doc_id < 60")
      .collect().head.getLong(0) === a.count())
  }

  test("the graft_table SQL catalog: SELECT by root path, VERSION AS " +
      "OF / TIMESTAMP AS OF time travel, DV masks applied, and " +
      "log-bypassing DDL refused") {
    val root = tmpDir("t28catalog")
    TxLog.init(root)
    val a = docs.filter(col("doc_id") < 80)
    TxLog.append(spark, root,
      a.repartitionByRange(2, col("doc_id"))
        .sortWithinPartitions("doc_id")) // v0
    val ids = a.select("doc_id").collect().map(_.getLong(0)).sorted
    TxLog.deleteWhereDv(spark, root, "doc_id", ids.take(5).toSeq) // v1
    spark.conf.set("spark.sql.catalog.graft_table",
      "graft.sources.GraftCatalog")
    // head: the DV mask applies through the catalog's V1Scan bridge
    assert(idSet(spark.sql(
      s"SELECT doc_id FROM graft_table.`$root`")) ===
      ids.drop(5).toSet)
    // VERSION AS OF: the pre-delete snapshot, via pure SQL
    assert(idSet(spark.sql(
      s"SELECT doc_id FROM graft_table.`$root` VERSION AS OF 0")) ===
      ids.toSet)
    // TIMESTAMP AS OF (micros → versionAt lookup): a future stamp
    // resolves to the tip
    val future = new java.sql.Timestamp(System.currentTimeMillis()
      + 60000).toString
    assert(idSet(spark.sql(
      s"SELECT doc_id FROM graft_table.`$root` " +
        s"TIMESTAMP AS OF '$future'")) === ids.drop(5).toSet)
    // filters compose (and replay onto the inner relation's FileIndex)
    val hi = ids.drop(5).max
    assert(idSet(spark.sql(
      s"SELECT doc_id FROM graft_table.`$root` WHERE doc_id < $hi")) ===
      ids.drop(5).toSet - hi)
    // log-bypassing DDL is refused loudly, naming the writer API
    val e = intercept[UnsupportedOperationException] {
      spark.sql(s"DROP TABLE graft_table.`$root`")
    }
    assert(e.getMessage.contains("commit log is refused"))
  }

  test("checkpoint-carry fuzz: random append/delete/dv-delete/compact/" +
      "restore ops with RANDOM CHECKPOINTS track the model at every " +
      "version, match a checkpoint-free twin, and survive a vacuum") {
    val rnd = new scala.util.Random(20260816L)
    val root = tmpDir("t28fuzz") + "/t"
    TxLog.init(root)
    val s = spark
    import s.implicits._
    var nextId = 0L
    val history = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    var live = Set.empty[Long]
    (0 until 32).foreach { _ =>
      rnd.nextInt(8) match {
        case 0 | 1 | 2 => // append 1..40 fresh ids
          val k = 1 + rnd.nextInt(40)
          val ids = (nextId until nextId + k).toSet
          nextId += k
          TxLog.append(spark, root, ids.toSeq.sorted.toDF("doc_id"))
          live ++= ids
          history += live
        case 3 if live.nonEmpty => // copy-on-write delete
          val victims = rnd.shuffle(live.toSeq).take(1 + rnd.nextInt(4))
          TxLog.deleteWhere(spark, root, "doc_id", victims)
          live --= victims
          history += live
        case 4 if live.nonEmpty => // merge-on-read delete (mask)
          val victims = rnd.shuffle(live.toSeq).take(1 + rnd.nextInt(4))
          TxLog.deleteWhereDv(spark, root, "doc_id", victims)
          live --= victims
          history += live
        case 5 if live.nonEmpty => // compact: logical no-op, purges masks
          TxLog.compact(spark, root, 1L << 20)
          history += live
        case 6 if history.nonEmpty => // checkpoint at a random version
          TxLog.checkpoint(root,
            Some(rnd.nextInt(history.size).toLong)): Unit
        case 7 if history.size >= 2 &&
            history(rnd.nextInt(history.size)).nonEmpty =>
          // restore to a random NON-EMPTY earlier version
          val tgt = rnd.shuffle(history.indices.toList)
            .find(v => history(v).nonEmpty).get
          TxLog.restore(spark, root, tgt.toLong)
          live = history(tgt)
          history += live
        case _ => ()
      }
      if (live.nonEmpty)
        assert(TxLog.snapshot(spark, root).select("doc_id")
          .collect().map(_.getLong(0)).toSet === live)
    }
    assert(history.size >= 16, "fuzz must exercise a real op mix")
    // every historical version replays to its model state THROUGH the
    // interleaved checkpoints
    history.zipWithIndex.foreach { case (expect, v) =>
      if (expect.nonEmpty)
        assert(TxLog.snapshot(spark, root, Some(v.toLong))
          .select("doc_id").collect().map(_.getLong(0)).toSet === expect,
          s"version $v must replay to its model state")
    }
    // checkpoint-free twin: identical live sets and (live-restricted)
    // skipping indexes at every version
    val twin = tmpDir("t28fuzz-twin") + "/t"
    TxLog.init(twin)
    import scala.jdk.CollectionConverters._
    val logS = Files.list(Paths.get(root, "_txlog"))
    try logS.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".json") &&
        !p.getFileName.toString.contains(".checkpoint.") &&
        !p.getFileName.toString.startsWith("."))
      .foreach(p => Files.copy(p,
        Paths.get(twin, "_txlog", p.getFileName.toString)))
    finally logS.close()
    TxLog.versions(root).foreach { v =>
      val a = TxLog.resolve(root, Some(v))
      val b = TxLog.resolve(twin, Some(v))
      assert(a.files.toSet === b.files.toSet, s"live set @ v$v")
      assert(a.dvFiles.toSet === b.dvFiles.toSet, s"dv set @ v$v")
      val liveF = a.files.toSet
      val ia = TxLog.skippingIndex(root, Some(v))
      val ib = TxLog.skippingIndex(twin, Some(v))
      assert(ia.int.view.filterKeys(liveF).toMap ===
        ib.int.view.filterKeys(liveF).toMap, s"int stats @ v$v")
      assert(ia.nulls.view.filterKeys(liveF).toMap ===
        ib.nulls.view.filterKeys(liveF).toMap, s"null stats @ v$v")
    }
    // and the whole thing survives a mid-history vacuum
    val keep = history.size / 2
    if (history(keep).nonEmpty) {
      TxLog.vacuum(root, keep.toLong, force = true)
      assert(TxLog.snapshot(spark, root).select("doc_id")
        .collect().map(_.getLong(0)).toSet === live)
      val st = TxLog.fileStats(root)
      assert(TxLog.resolve(root).files.forall(st.contains),
        "stats survive the vacuum through the checkpoint carry")
    }
  }

  test("SQL DML through the catalog: INSERT INTO appends one commit, " +
      "INSERT OVERWRITE is the logged overwrite, writes to a pinned " +
      "version are refused, and constraints still gate") {
    val root = tmpDir("t28dml")
    TxLog.init(root)
    TxLog.append(spark, root, docs.filter(col("doc_id") < 50)) // v0
    TxLog.addConstraint(spark, root, "chars_ok", "n_chars >= 0") // v1
    spark.conf.set("spark.sql.catalog.graft_table",
      "graft.sources.GraftCatalog")
    docs.createOrReplaceTempView("graft_lang_src")
    val t = s"graft_table.`$root`"
    // INSERT INTO = one append commit through the log
    spark.sql(s"INSERT INTO $t SELECT doc_id + 1000 AS doc_id, lang, " +
      "n_chars FROM graft_lang_src WHERE doc_id < 20")
    assert(TxLog.history(root).map(_.op).last === "append")
    assert(spark.sql(s"SELECT count(*) AS n FROM $t")
      .collect().head.getLong(0) === 70L)
    // the constraint gates SQL inserts exactly like every writer
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $t SELECT doc_id, lang, " +
        "-1L AS n_chars FROM graft_lang_src WHERE doc_id < 3")
    }
    assert(e.getMessage.contains("chars_ok"))
    assert(spark.sql(s"SELECT count(*) AS n FROM $t")
      .collect().head.getLong(0) === 70L)
    // INSERT OVERWRITE = the logged INSERT OVERWRITE; history intact
    spark.sql(s"INSERT OVERWRITE $t SELECT doc_id, lang, n_chars " +
      "FROM graft_lang_src WHERE doc_id >= 400")
    assert(TxLog.history(root).map(_.op).last === "overwrite")
    assert(idSet(spark.sql(s"SELECT doc_id FROM $t")) ===
      idSet(docs.filter(col("doc_id") >= 400)))
    // the overwritten state still time-travels from SQL
    assert(spark.sql(s"SELECT count(*) AS n FROM $t VERSION AS OF 2")
      .collect().head.getLong(0) === 70L)
    // a pinned version refuses writes loudly
    val e2 = intercept[Exception] {
      spark.sql(s"INSERT INTO $t VERSION AS OF 0 " +
        "SELECT * FROM graft_lang_src LIMIT 1")
    }
    assert(e2.getMessage.contains("pinned") ||
      e2.getMessage.toLowerCase.contains("version"))
  }

  test("snapshot isolation: a connector frame pins its version at " +
      "load time — commits landing afterwards never tear into it") {
    val root = tmpDir("t28iso")
    TxLog.init(root)
    TxLog.append(spark, root, docs.filter(col("doc_id") < 100)) // v0
    val pinned = spark.read.format("graft-table").load(root)
    // a writer lands between plan and execute — twice, with a delete
    TxLog.append(spark, root,
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)) // v1
    TxLog.deleteWhere(spark, root, "doc_id", Seq(3L)) // v2
    assert(pinned.count() === 100L,
      "the pinned frame must read exactly its load-time snapshot")
    assert(idSet(pinned) === idSet(docs.filter(col("doc_id") < 100)))
    // a FRESH read sees the new tip
    assert(spark.read.format("graft-table").load(root).count() === 149L)
  }

  test("q_table_optimize_part (the driver entry itself) reads through " +
      "the connector and prunes to (about) the one rewritten file") {
    val df = SparkEntry.queries("q_table_optimize_part")(spark, testdata)
    val root = registry.TableQueries.txlogPartTable(spark, testdata)
    val parts = TxLog.filePartitions(root)
    val live = TxLog.resolve(root).files
    val fr = live.count(f => parts.get(f).exists(_.get("lang")
      .contains("fr")))
    val bare = live.count(f => !parts.contains(f))
    assert(fr === 1, "the scoped optimize leaves one fr file")
    val n = filesRead(df)
    assert(n >= fr.toLong && n <= (fr + bare).toLong,
      s"expected between $fr and ${fr + bare} files, read $n of " +
        s"${live.size}")
    assert(idSet(df) === idSet(
      TxLog.snapshotPartition(spark, root, Map("lang" -> "fr"))))
  }
}
