package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Maintenance}
import graft.search.Indexer

/** Round-24 surface: range-predicate pruning over the persisted
  * term-partitioned index (prefix search), the copy-on-write targeted
  * delete (untouched files byte-identical), and the at-rest MinHash
  * dedup index lifecycle (build → route → append → serve ≡ rebuild).
  */
class RoundTwentyFourSpec extends SparkSuite {

  // ---------------- search_prefix_at_rest ----------------

  test("search_prefix_at_rest (the driver entry itself) pushes the " +
      "StartsWith range predicate into the persisted index scan") {
    val df = SparkEntry.queries("search_prefix_at_rest")(spark, testdata)
    val plan = df.queryExecution.executedPlan.toString
    // the range-predicate class the term-range layout exists for:
    // LIKE 's%' must reach the parquet scan as StringStartsWith, where
    // footer min/max stats on the term-sorted files prune everything
    // outside [s, t)
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*StringStartsWith\\(term,s\\).*"),
      s"expected StringStartsWith(term,s) pushed into the index scan:\n$plan")
    assert(!plan.contains("Scan ExistingRDD"),
      "the at-rest prefix query must read the parquet layout lazily")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // "s" expands to six index terms; no doc can match more
    assert(rows.map(_.getLong(2)).max <= 6L)
  }

  test("searchPrefix equals the by-hand n-ary OR over the same index") {
    val idx = Indexer.postings(documents)
    val got = graft.search.SearchEngine.searchPrefix("s", idx)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val want = idx
      .filter(col("term").isin("scan", "slow", "small", "sort", "spark", "stream"))
      .groupBy("doc_id")
      .agg(sum("score").as("score"), count(lit(1)).as("n_terms"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  // ---------------- targeted-rewrite delete ----------------

  private def sha256(p: java.nio.file.Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
  }

  private def parquetChecksums(dir: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> sha256(p)).toMap
  }

  test("deleteWhere rewrites only the files holding hits; every other " +
      "file stays byte-identical") {
    val p = tmpDir("graft-del-") + "/t"
    documents.select("doc_id", "lang", "n_chars")
      .repartitionByRange(10, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.parquet(p)
    val before = parquetChecksums(p)
    assert(before.size == 10)
    // hit discovery is a stats-pruned scan: the IN predicate reaches
    // the parquet reader
    val discovery = spark.read.parquet(p)
      .filter(col("doc_id").isin(7L, 8L, 42L))
      .select(col("_metadata.file_path"))
    val dPlan = discovery.queryExecution.executedPlan.toString
    assert(dPlan.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(doc_id.*"),
      s"expected In(doc_id, ...) pushed into the discovery scan:\n$dPlan")

    val res = Maintenance.deleteWhere(spark, p, "doc_id", Seq(7L, 8L, 42L))
    assert(res.rowsDeleted === 3L)
    assert(res.filesTotal === 10)
    // 500 ids over 10 range files: 7, 8, 42 all live in the first file
    assert(res.filesRewritten === 1,
      s"contiguous low keys must rewrite one range file, got $res")
    val after = parquetChecksums(p)
    // untouched files keep name AND bytes; rewritten originals are gone
    val untouched = before.keySet.intersect(after.keySet)
    assert(untouched.size === before.size - res.filesRewritten)
    untouched.foreach(f => assert(before(f) === after(f),
      s"untouched file $f must stay byte-identical"))
    assert((after.keySet -- before.keySet).forall(_.startsWith("part-del-")))
    // the table itself: keys gone, everything else intact
    val left = spark.read.parquet(p)
    assert(left.filter(col("doc_id").isin(7L, 8L, 42L)).count() === 0)
    assert(left.count() === documents.count() - 3)
  }

  test("deleteWhere with no hits is a physical no-op") {
    val p = tmpDir("graft-del-") + "/t"
    documents.select("doc_id", "lang")
      .repartitionByRange(4, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.parquet(p)
    val before = parquetChecksums(p)
    val res = Maintenance.deleteWhere(spark, p, "doc_id", Seq(1000000L))
    assert(res === Maintenance.DeleteResult(4, 0, 0L))
    assert(parquetChecksums(p) === before)
  }

  // ---------------- at-rest MinHash incremental lifecycle ----------------

  test("minhash index append ≡ rebuild: the served pair list equals " +
      "minHashLshVerified over the full corpus, and the delta is " +
      "physically at rest as gen=1 files") {
    val p = tmpDir("graft-mh-") + "/mh"
    val base = documents.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val batch = documents.filter(pmod(col("doc_id"), lit(5)) === 0)
    Dedup.minhashIndexWrite(base, p, n = 3, numHashes = 32, bands = 32,
      minJ = 0.2, maxBucket = 16, minBands = 2)
    val gen0 = Seq("dict", "membership", "banded", "reppairs")
      .map(a => a -> parquetChecksums(s"$p/$a/gen=0")).toMap
    Dedup.minhashIndexAppend(spark, p, batch, documents, n = 3, numHashes = 32,
      bands = 32, minJ = 0.2, maxBucket = 16, minBands = 2)
    // the delta landed as new gen=1 partition files; gen=0 untouched
    Seq("dict", "membership", "banded", "reppairs").foreach { a =>
      assert(parquetChecksums(s"$p/$a/gen=0") === gen0(a),
        s"append must not rewrite base artifact $a")
      assert(Files.exists(Paths.get(s"$p/$a/gen=1")),
        s"append must land gen=1 files in $a")
    }
    // routing: every appended dict digest is genuinely new, and every
    // non-empty batch doc is in the membership exactly once
    val dict = spark.read.parquet(s"$p/dict")
    val g0k = dict.filter(col("gen") === 0).select("k")
    val g1k = dict.filter(col("gen") === 1).select("k")
    assert(g1k.join(g0k, Seq("k"), "left_semi").count() === 0,
      "a batch set matching a stored digest must adopt, not re-insert")
    val membership = spark.read.parquet(s"$p/membership")
    assert(membership.groupBy("doc_id").count().filter(col("count") > 1)
      .count() === 0)
    // serve ≡ rebuild, exactly (same jaccard arithmetic on both paths)
    def key(df: DataFrame): Map[(Long, Long), Double] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val served = key(Dedup.minhashServePairs(spark, p))
    val rebuilt = key(Dedup.minHashLshVerified(documents, n = 3, numHashes = 32,
      bands = 32, minJ = 0.2, maxBucket = 16, minBands = 2))
    assert(served === rebuilt, "same pairs, each with an identical jaccard")
    assert(served.nonEmpty)
    // serve right after a write whose bucket cap fires: the written
    // pairs drop exactly the buckets the in-memory pipeline drops
    val q = tmpDir("graft-mh-cap-") + "/mh"
    Dedup.minhashIndexWrite(documents, q, maxBucket = 2, minBands = 1)
    assert(spark.read.parquet(s"$q/banded").groupBy("band", "bucket").count()
      .filter(col("count") > 2).count() > 0, "the cap must fire")
    val capped = key(Dedup.minhashServePairs(spark, q))
    assert(capped.nonEmpty)
    assert(capped === key(Dedup.minHashLshVerified(documents, maxBucket = 2, minBands = 1)))
  }

  // ---------------- transaction-log table ----------------

  test("txlog lifecycle: atomic commits, time travel, logged delete " +
      "keeps history, compaction is logically invisible, vacuum " +
      "reclaims with a retention floor") {
    import graft.ops.TxLog
    val root = tmpDir("graft-txlog-") + "/t"
    TxLog.init(root)
    val d = documents.select("doc_id", "lang")
    val v0 = TxLog.append(spark, root, d.filter(col("doc_id") < 400))
    val v1 = TxLog.append(spark, root, d.filter(col("doc_id") >= 400))
    assert((v0, v1) === (0L, 1L))
    val n = d.count()
    assert(TxLog.snapshot(spark, root, Some(0L)).count() === 400)
    assert(TxLog.snapshot(spark, root).count() === n)

    val beforeDelete = TxLog.resolve(root).files
    val v2 = TxLog.deleteWhere(spark, root, "doc_id", Seq(7L, 8L, 42L))
    assert(v2 === 2L)
    assert(TxLog.snapshot(spark, root).count() === n - 3)
    // the logged delete removed files from the LOG only: v1 still
    // reads the full pre-delete corpus off the same disk
    beforeDelete.foreach(f =>
      assert(Files.exists(Paths.get(root, f)), s"history file $f must stay"))
    assert(TxLog.snapshot(spark, root, Some(1L)).count() === n)

    val v3 = TxLog.compact(spark, root, targetBytes = 64L << 20)
    assert(v3 === 3L)
    val head = TxLog.resolve(root)
    assert(head.files.size === 1, s"compaction must bin-pack: $head")
    // logically invisible: same rows before and after the compaction
    def ids(v: Long): Set[Long] = TxLog.snapshot(spark, root, Some(v))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(3) === ids(2))
    assert(!ids(3).contains(7L))

    // a concurrent writer racing to an existing version must fail
    // loudly, not overwrite the commit
    val e = intercept[IllegalStateException] {
      TxLog.writeCommit(root, 3L, Seq.empty, Seq.empty)
    }
    assert(e.getMessage.contains("conflict"))

    // vacuum to the compacted version: pre-compaction files go,
    // head still reads, vacuumed versions refuse loudly
    val removed = TxLog.vacuum(root, retainFrom = 3L, force = true)
    assert(removed > 0)
    assert(TxLog.snapshot(spark, root).count() === n - 3)
    assert(intercept[IllegalArgumentException] {
      TxLog.snapshot(spark, root, Some(1L))
    }.getMessage.contains("not in txlog"))
  }

  test("streamingAppend commits each micro-batch atomically and " +
      "replays idempotently (exactly-once table semantics)") {
    import graft.ops.TxLog
    val root0 = tmpDir("graft-txstream-")
    val in = s"$root0/in"; val table = s"$root0/t"; val ckpt = s"$root0/ckpt"
    Files.createDirectories(Paths.get(in))
    TxLog.init(table)
    val d = documents.select("doc_id", "lang")
    def stageFile(name: String, df: DataFrame): Unit = {
      val tmp = s"$root0/__$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, Paths.get(in, s"$name.parquet"))
    }
    stageFile("b0", d.filter(col("doc_id") < 250))
    stageFile("b1", d.filter(col("doc_id") >= 250))
    val stream = spark.readStream.schema(d.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = TxLog.streamingAppend(stream, table, ckpt)
    try q.processAllAvailable() finally q.stop()
    assert(TxLog.snapshot(spark, table).count() === d.count())
    val vBefore = TxLog.resolve(table).version
    assert(vBefore === 1L, "two files at one per trigger = two commits")
    val usedIds = TxLog.committedBatchIds(table)
    assert(usedIds === Set(0L, 1L))
    // a re-delivered batch (same batchId, fresh frame) must be a no-op
    assert(TxLog.commitBatch(spark, table,
      d.filter(col("doc_id") < 250), usedIds.max).isEmpty)
    assert(TxLog.resolve(table).version === vBefore)
    assert(TxLog.snapshot(spark, table).count() === d.count())
    // a genuinely new batch commits
    assert(TxLog.commitBatch(spark, table,
      d.filter(col("doc_id") === 0), 99L).contains(2L))
    assert(TxLog.snapshot(spark, table).count() === d.count() + 1)
  }

  test("changesBetween reads changed files only and reports net row " +
      "changes: compaction intervals are empty, delete intervals are " +
      "exactly the deleted rows") {
    import graft.ops.TxLog
    val root = tmpDir("graft-txcdc-") + "/t"
    TxLog.init(root)
    val d = documents.select("doc_id", "lang")
    TxLog.append(spark, root, d.filter(col("doc_id") < 400))
    TxLog.append(spark, root, d.filter(col("doc_id") >= 400))
    TxLog.deleteWhere(spark, root, "doc_id", Seq(5L))
    TxLog.compact(spark, root, 64L << 20)
    assert(TxLog.changesBetween(spark, root, 2L, 3L).count() === 0,
      "a compaction moves rows between files but changes nothing")
    val del = TxLog.changesBetween(spark, root, 1L, 2L).collect()
    assert(del.length === 1 && del(0).getLong(0) === 5L &&
      del(0).getString(2) === "delete")
    val full = TxLog.changesBetween(spark, root, 0L, 3L)
    assert(full.filter(col("change") === "insert").count() === 100)
    assert(full.filter(col("change") === "delete").collect()
      .map(_.getLong(0)).toSeq === Seq(5L))
  }

  test("txlog schema evolution: a commit may add columns — old files " +
      "read them as null, time travel keeps the old shape, CDC spans " +
      "the change") {
    import graft.ops.TxLog
    val root = tmpDir("graft-txschema-") + "/t"
    TxLog.init(root)
    TxLog.append(spark, root,
      documents.select("doc_id", "lang").filter(col("doc_id") < 100))
    TxLog.append(spark, root,
      documents.select("doc_id", "lang", "n_chars").filter(col("doc_id") >= 100))
    val head = TxLog.snapshot(spark, root)
    assert(head.columns.sorted.toSeq === Seq("doc_id", "lang", "n_chars"))
    assert(head.filter(col("doc_id") < 100 && col("n_chars").isNull)
      .count() === 100)
    assert(head.filter(col("doc_id") >= 100 && col("n_chars").isNotNull)
      .count() === 400)
    assert(TxLog.snapshot(spark, root, Some(0L)).columns.sorted.toSeq ===
      Seq("doc_id", "lang"))
    val ch = TxLog.changesBetween(spark, root, 0L, 1L)
    assert(ch.columns.contains("n_chars"))
    assert(ch.filter(col("change") === "insert").count() === 400)
    assert(ch.filter(col("change") === "delete").count() === 0)
  }

  test("txlog upsert rewrites only key-hit files and optimize is a " +
      "logically empty commit that re-clusters the layout") {
    import graft.ops.TxLog
    val root = tmpDir("graft-txmerge-") + "/t"
    TxLog.init(root)
    val d = documents.select("doc_id", "lang")
    TxLog.append(spark, root,
      d.repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id"))
    val filesV0 = TxLog.resolve(root).files.toSet
    assert(filesV0.size === 8)
    val s = spark
    import s.implicits._
    // two updated keys in the same low range file + one brand-new key
    val updates = Seq((3L, "up"), (7L, "up"), (9999L, "new"))
      .toDF("doc_id", "lang")
    val v1 = TxLog.upsert(spark, root, updates, "doc_id")
    val rewritten = filesV0 -- TxLog.resolve(root).files.toSet
    assert(rewritten.size === 1,
      s"keys 3 and 7 live in one range file; got $rewritten")
    val head = TxLog.snapshot(spark, root)
    assert(head.count() === d.count() + 1)
    assert(head.filter(col("doc_id").isin(3L, 7L, 9999L))
      .select("lang").collect().map(_.getString(0)).toSet === Set("up", "new"))
    // CDC over the merge interval: exactly the replaced + new rows
    val ch = TxLog.changesBetween(spark, root, 0L, v1)
    assert(ch.filter(col("change") === "insert").count() === 3)
    assert(ch.filter(col("change") === "delete").count() === 2)

    val v2 = TxLog.optimize(spark, root, Seq("doc_id"), numFiles = 3)
    assert(TxLog.resolve(root).files.size === 3)
    assert(TxLog.changesBetween(spark, root, v1, v2).count() === 0,
      "optimize must be logically invisible")
    assert(TxLog.snapshot(spark, root).count() === d.count() + 1)
  }

  test("q_txlog_merge (the driver entry itself) pins the merge and the " +
      "optimize in one snapshot") {
    val df = SparkEntry.queries("q_txlog_merge")(spark, testdata)
    val n = documents.count()
    assert(df.count() === n + n / 50)
    assert(df.filter(col("lang") === "xx").count() === n / 10)
  }

  test("vacuum to a NON-compaction version checkpoints the live set " +
      "first — retained snapshots keep files added by truncated commits") {
    import graft.ops.TxLog
    val root = tmpDir("graft-txvac-") + "/t"
    TxLog.init(root)
    val d = documents.select("doc_id", "lang")
    TxLog.append(spark, root, d.filter(col("doc_id") < 100))
    TxLog.append(spark, root, d.filter(col("doc_id") >= 100))
    // retainFrom=1 is a plain append: v1's live set still references
    // v0's files, whose commit is about to be truncated
    val removed = TxLog.vacuum(root, retainFrom = 1L, force = true)
    assert(removed === 0, "every data file is still referenced")
    assert(TxLog.snapshot(spark, root, Some(1L)).count() === d.count(),
      "the checkpoint must preserve v0's files in v1's replay")
    assert(TxLog.snapshot(spark, root).count() === d.count())
    // and the log keeps working past the checkpoint
    TxLog.append(spark, root, d.filter(col("doc_id") === 0))
    assert(TxLog.snapshot(spark, root).count() === d.count() + 1)
  }

  test("compact and deleteWhere keep evolved columns: the only copy of " +
      "a schema-evolved row must survive a rewrite") {
    import graft.ops.TxLog
    val root = tmpDir("graft-txevo-") + "/t"
    TxLog.init(root)
    TxLog.append(spark, root,
      documents.select("doc_id", "lang").filter(col("doc_id") < 100))
    TxLog.append(spark, root,
      documents.select("doc_id", "lang", "n_chars").filter(col("doc_id") >= 100))
    TxLog.compact(spark, root, 64L << 20)
    val afterCompact = TxLog.snapshot(spark, root)
    assert(afterCompact.columns.contains("n_chars"),
      "compaction must not sample a pre-evolution footer for the schema")
    assert(afterCompact.filter(col("n_chars").isNotNull).count() === 400)
    TxLog.deleteWhere(spark, root, "doc_id", Seq(150L))
    val afterDelete = TxLog.snapshot(spark, root)
    assert(afterDelete.filter(col("n_chars").isNotNull).count() === 399)
  }

  test("deleteWhere keeps NULL-key rows in rewritten files (both the " +
      "flat and the logged form)") {
    import graft.ops.{Maintenance, TxLog}
    val s = spark
    import s.implicits._
    val withNulls = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "b"), (null, "null-row-1"), (3L, "c"),
      (null, "null-row-2"))
      .toDF("doc_id", "lang")
    // flat form
    val p = tmpDir("graft-delnull-") + "/t"
    withNulls.coalesce(1).write.parquet(p)
    val res = Maintenance.deleteWhere(spark, p, "doc_id", Seq(2L))
    assert(res.rowsDeleted === 1)
    val left = spark.read.parquet(p)
    assert(left.count() === 4)
    assert(left.filter(col("doc_id").isNull).count() === 2,
      "NULL-key rows must survive the rewrite")
    // logged form
    val root = tmpDir("graft-txnull-") + "/t"
    TxLog.init(root)
    TxLog.append(spark, root, withNulls.coalesce(1))
    TxLog.deleteWhere(spark, root, "doc_id", Seq(2L))
    val tleft = TxLog.snapshot(spark, root)
    assert(tleft.count() === 4)
    assert(tleft.filter(col("doc_id").isNull).count() === 2)
  }

  test("a second minhash append is its own generation: no re-probed " +
      "pairs, serve still equals the full rebuild") {
    val p = tmpDir("graft-mh2-") + "/mh"
    val b0 = documents.filter(pmod(col("doc_id"), lit(5)).isin(1L, 2L, 3L))
    val b1 = documents.filter(pmod(col("doc_id"), lit(5)) === 4)
    val b2 = documents.filter(pmod(col("doc_id"), lit(5)) === 0)
    Dedup.minhashIndexWrite(b0, p, n = 3, numHashes = 32, bands = 32,
      minJ = 0.2, maxBucket = 16, minBands = 2)
    Dedup.minhashIndexAppend(spark, p, b1, b0.unionByName(b1), n = 3,
      numHashes = 32, bands = 32, minJ = 0.2, maxBucket = 16, minBands = 2)
    Dedup.minhashIndexAppend(spark, p, b2, documents, n = 3,
      numHashes = 32, bands = 32, minJ = 0.2, maxBucket = 16, minBands = 2)
    assert(Files.exists(Paths.get(s"$p/banded/gen=2")),
      "the second append must land as its own generation")
    val served = Dedup.minhashServePairs(spark, p)
    assert(served.groupBy("doc_a", "doc_b").count()
      .filter(col("count") > 1).count() === 0,
      "a re-probed earlier generation would duplicate pairs")
    val rebuilt = Dedup.minHashLshVerified(documents, n = 3, numHashes = 32,
      bands = 32, minJ = 0.2, maxBucket = 16, minBands = 2)
    assertSameRows(served, rebuilt)
  }

  test("changesBetween over an interval touching only pre-evolution " +
      "files still returns the table's current schema") {
    import graft.ops.TxLog
    val root = tmpDir("graft-txcdcevo-") + "/t"
    TxLog.init(root)
    TxLog.append(spark, root, documents.select("doc_id", "lang")
      .filter(col("doc_id") < 100).coalesce(1))
    TxLog.append(spark, root,
      documents.select("doc_id", "lang", "n_chars").filter(col("doc_id") >= 100))
    val v2 = TxLog.deleteWhere(spark, root, "doc_id", Seq(5L))
    val ch = TxLog.changesBetween(spark, root, 1L, v2)
    assert(ch.columns.contains("n_chars"),
      "CDC must come back in the table's shape, not the changed files'")
    val del = ch.filter(col("change") === "delete").collect()
    assert(del.map(_.getLong(0)).toSeq === Seq(5L))
    assert(ch.select("doc_id", "lang", "n_chars", "change").count() === 1)
  }

  test("txlog differential fuzz: 40 random append/delete/compact ops " +
      "track an in-memory model at head AND at every historical version") {
    import graft.ops.TxLog
    val rnd = new scala.util.Random(20260815L)
    val root = tmpDir("graft-txfuzz-") + "/t"
    TxLog.init(root)
    val s = spark
    import s.implicits._
    var nextId = 0L
    // model: the expected id set after each committed version
    val history = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    var live = Set.empty[Long]
    (0 until 40).foreach { _ =>
      rnd.nextInt(4) match {
        case 0 | 1 => // append 1..50 fresh ids
          val k = 1 + rnd.nextInt(50)
          val ids = (nextId until nextId + k).toSet
          nextId += k
          TxLog.append(spark, root,
            ids.toSeq.sorted.toDF("doc_id"))
          live ++= ids
          history += live
        case 2 if live.nonEmpty => // delete up to 5 existing ids
          val victims = rnd.shuffle(live.toSeq).take(1 + rnd.nextInt(5))
          TxLog.deleteWhere(spark, root, "doc_id", victims)
          live --= victims
          history += live
        case 3 if live.nonEmpty => // compact (logical no-op)
          TxLog.compact(spark, root, 1L << 20)
          history += live
        case _ => // delete/compact on an empty table: skip
      }
      // head always matches the model
      if (live.nonEmpty)
        assert(TxLog.snapshot(spark, root).select("doc_id")
          .collect().map(_.getLong(0)).toSet === live)
    }
    // every historical version still replays to its recorded state
    history.zipWithIndex.foreach { case (expect, v) =>
      if (expect.nonEmpty)
        assert(TxLog.snapshot(spark, root, Some(v.toLong)).select("doc_id")
          .collect().map(_.getLong(0)).toSet === expect,
          s"version $v must replay to its model state")
      assert(TxLog.resolve(root, Some(v.toLong)).version === v.toLong)
    }
    assert(history.size >= 20, "fuzz must exercise a real op mix")
  }

  test("q_timetravel (the driver entry itself) reads two versions of " +
      "one at-rest table") {
    val df = SparkEntry.queries("q_timetravel")(spark, testdata)
    val bySnap = df.groupBy("snap").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val n = documents.count()
    assert(bySnap === Map("v1" -> n, "head" -> (n - 3)))
  }

  test("dedup_minhash_incremental (the driver entry itself) matches " +
      "dedup_minhash exactly") {
    def rows(name: String): Set[(Long, Long, Double)] =
      SparkEntry.queries(name)(spark, testdata)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inc = rows("dedup_minhash_incremental")
    assert(inc.nonEmpty)
    assert(inc === rows("dedup_minhash"))
  }
}
