package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.ops.TxLog

/** Round-26 surface: MERGE-ON-READ deletes (deletion vectors) in the
  * transaction log — the scale-critical complement to copy-on-write:
  * a scattered delete publishes one tiny (file, row-position) sidecar
  * and rewrites ZERO data files; readers apply the mask transparently;
  * rewrites purge it physically; history, CDC, streaming, checkpoint,
  * and vacuum all stay coherent with it.
  */
class RoundTwentySixSpec extends SparkSuite {

  private def sha256(p: java.nio.file.Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
  }

  private def dataChecksums(root: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(root, "data")
    Files.list(dir).iterator().asScala
      .map(p => p.getFileName.toString -> sha256(p)).toMap
  }

  /** A fresh table: docs appended doc_id-range-clustered as 8 files. */
  private def freshTable(prefix: String): String = {
    val root = tmpDir(prefix)
    TxLog.init(root)
    TxLog.append(spark, root,
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id"))
    root
  }

  /** Keys scattered across the whole doc_id range — a copy-on-write
    * delete of these would rewrite (nearly) every range file.
    */
  private def scatteredKeys(n: Int): Seq[Long] =
    docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
      .grouped(math.max(1, docs.count().toInt / n)).map(_.head)
      .take(n).toSeq

  // ---------------- the mask itself ----------------

  test("deleteWhereDv masks the rows logically while rewriting ZERO " +
      "data files — every pre-delete byte identical, one sidecar added") {
    val root = freshTable("t26-dv")
    val before = dataChecksums(root)
    val keys = scatteredKeys(6)
    assert(keys.size === 6)

    val v = TxLog.deleteWhereDv(spark, root, "doc_id", keys)

    // logical: exactly the keyed rows are gone
    assert(idSet(TxLog.snapshot(spark, root)) ===
      idSet(docs) -- keys)
    // physical: the live file set did not move, no data file changed
    val snap = TxLog.resolve(root)
    assert(snap.files.toSet === TxLog.resolve(root, Some(0L)).files.toSet,
      "a dv delete must not add or remove live data files")
    val after = dataChecksums(root)
    before.foreach { case (name, sum) =>
      assert(after(name) === sum, s"data file $name was rewritten")
    }
    // exactly one new on-disk file: the dv sidecar, and it is tiny
    val newFiles = after.keySet -- before.keySet
    assert(newFiles.size === 1 && newFiles.head.startsWith("dv-"),
      s"expected one dv sidecar, got $newFiles")
    assert(Files.size(Paths.get(root, "data", newFiles.head)) < 16 * 1024)
    assert(snap.dvFiles === Seq(s"data/${newFiles.head}"))
    // ledger: the op is named and the logical count is exact
    val ci = TxLog.commitInfoAt(root, v)
    assert(ci.op === "delete-dv")
    assert(ci.rowsRemoved === Some(keys.size.toLong))
    assert(ci.adds.isEmpty && ci.removes.isEmpty)
  }

  test("time travel: the pre-delete version still reads the unmasked " +
      "rows; the dv version is masked") {
    val root = freshTable("t26-tt")
    val keys = scatteredKeys(4)
    val v = TxLog.deleteWhereDv(spark, root, "doc_id", keys)
    assert(idSet(TxLog.snapshot(spark, root, Some(0L))) === idSet(docs))
    assert(idSet(TxLog.snapshot(spark, root, Some(v))) ===
      idSet(docs) -- keys)
  }

  test("a second dv delete unions with the first; re-deleting an " +
      "already-masked key is idempotent and not double-counted") {
    val root = freshTable("t26-union")
    val k1 = scatteredKeys(4)
    TxLog.deleteWhereDv(spark, root, "doc_id", k1)
    val fresh = (idSet(docs) -- k1).toSeq.sorted.take(2)
    val v2 = TxLog.deleteWhereDv(spark, root, "doc_id", k1.take(2) ++ fresh)
    // only the two genuinely new rows count in the ledger
    assert(TxLog.commitInfoAt(root, v2).rowsRemoved === Some(2L))
    assert(idSet(TxLog.snapshot(spark, root)) ===
      idSet(docs) -- k1 -- fresh)
    assert(TxLog.resolve(root).dvFiles.size === 2)
  }

  test("snapshotSlice applies the mask on its log-stats-pruned read") {
    val root = freshTable("t26-slice")
    val all = docs.select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0))
    val lo = all.head
    val hi = all(all.length / 4)
    val inRange = all.filter(k => k >= lo && k <= hi)
    val key = inRange(inRange.length / 2)
    TxLog.deleteWhereDv(spark, root, "doc_id", Seq(key))
    val got = idSet(TxLog.snapshotSlice(spark, root, "doc_id", lo, hi))
    assert(got === inRange.toSet - key)
  }

  // ---------------- interplay with the rewrite paths ----------------

  test("a copy-on-write delete AFTER a dv delete neither resurrects " +
      "masked rows nor miscounts hits") {
    val root = freshTable("t26-cow")
    val ks = scatteredKeys(8)
    val (dvKeys, cowKeys) = ks.splitAt(4)
    TxLog.deleteWhereDv(spark, root, "doc_id", dvKeys)
    val v = TxLog.deleteWhere(spark, root, "doc_id", cowKeys)
    assert(idSet(TxLog.snapshot(spark, root)) ===
      idSet(docs) -- dvKeys -- cowKeys)
    assert(TxLog.commitInfoAt(root, v).rowsRemoved.isDefined)
    // the survivor rewrite retired every touched file's mask coverage;
    // re-deleting a dv key must find nothing new
    val v2 = TxLog.deleteWhereDv(spark, root, "doc_id", dvKeys)
    assert(TxLog.commitInfoAt(root, v2).rowsRemoved === Some(0L))
  }

  test("MERGE INTO after a dv delete does not resurrect masked rows") {
    val root = freshTable("t26-merge")
    val ks = scatteredKeys(4)
    TxLog.deleteWhereDv(spark, root, "doc_id", ks)
    val updKey = (idSet(docs) -- ks).toSeq.sorted.head
    val updates = docs.filter(col("doc_id") === updKey)
      .withColumn("lang", lit("xx"))
    TxLog.upsert(spark, root, updates, "doc_id")
    val snap = TxLog.snapshot(spark, root)
    assert(idSet(snap) === idSet(docs) -- ks)
    assert(snap.filter(col("doc_id") === updKey)
      .select("lang").collect().map(_.getString(0)).toSeq === Seq("xx"))
  }

  test("compaction purges the mask physically: the dv retires from the " +
      "live state, rows stay correct, and the dv VERSION still masks") {
    val root = freshTable("t26-compact")
    val ks = scatteredKeys(4)
    val dvV = TxLog.deleteWhereDv(spark, root, "doc_id", ks)
    assert(TxLog.resolve(root).dvFiles.nonEmpty)
    TxLog.compact(spark, root, targetBytes = 64L << 20)
    assert(TxLog.resolve(root).dvFiles.isEmpty,
      "compaction rewrote every covered file; the dv must retire")
    assert(idSet(TxLog.snapshot(spark, root)) === idSet(docs) -- ks)
    // the sidecar file stays on disk for time travel until vacuum
    assert(idSet(TxLog.snapshot(spark, root, Some(dvV))) ===
      idSet(docs) -- ks)
  }

  // ---------------- CDC ----------------

  test("changesBetween over a dv interval reports exactly the masked " +
      "rows as deletes; dv→compact nets to zero; the full span is clean") {
    val root = freshTable("t26-cdc")
    val ks = scatteredKeys(5)
    val dvV = TxLog.deleteWhereDv(spark, root, "doc_id", ks)
    val compV = TxLog.compact(spark, root, targetBytes = 64L << 20)

    val dvDiff = TxLog.changesBetween(spark, root, dvV - 1, dvV)
    assert(dvDiff.filter(col("change") === "insert").count() === 0L)
    assert(idSet(dvDiff.filter(col("change") === "delete")) === ks.toSet)

    // the compaction interval is logically empty even though every
    // file moved — the masked rows were already gone on BOTH sides
    assert(TxLog.changesBetween(spark, root, dvV, compV).count() === 0L)

    // v0 → head span: the masked rows fall out as deletes (they were
    // present at v0), the survivors cancel through the compaction
    val span = TxLog.changesBetween(spark, root, 0L, compV)
    assert(span.filter(col("change") === "insert").count() === 0L)
    assert(idSet(span.filter(col("change") === "delete")) === ks.toSet)
  }

  // ---------------- streaming ----------------

  test("the append-only graft-table stream refuses a delete-dv commit " +
      "loudly; a cdc stream delivers its deletes") {
    val root = freshTable("t26-stream")
    val ckpt = tmpDir("t26-stream-ckpt")
    val q = spark.readStream.format("graft-table").load(root)
      .writeStream.format("memory").queryName("t26_guard")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val ks = scatteredKeys(3)
      TxLog.deleteWhereDv(spark, root, "doc_id", ks)
      val e = intercept[Exception] { q.processAllAvailable() }
      assert(e.getMessage.contains("cdc") ||
        Option(e.getCause).exists(_.getMessage.contains("cdc")),
        s"the failure must name the cdc escape hatch: ${e.getMessage}")
    } finally q.stop()

    val ks2 = idSet(TxLog.snapshot(spark, root)).toSeq.sorted.take(2)
    val ckpt2 = tmpDir("t26-cdc-ckpt")
    val q2 = spark.readStream.format("graft-table").option("cdc", "true")
      .load(root)
      .writeStream.format("memory").queryName("t26_cdc")
      .option("checkpointLocation", ckpt2).start()
    try {
      q2.processAllAvailable()
      TxLog.deleteWhereDv(spark, root, "doc_id", ks2)
      q2.processAllAvailable()
      val feed = spark.sql(
        "SELECT doc_id, change FROM t26_cdc WHERE change = 'delete'")
        .collect().map(r => r.getLong(0)).toSet
      assert(feed === ks2.toSet,
        "the cdc stream must deliver exactly the dv-deleted keys")
    } finally q2.stop()
  }

  // ---------------- checkpoint + vacuum ----------------

  test("vacuum retains the sidecar with the versions that mask with it " +
      "(checkpoint carries the dv state across log truncation), and a " +
      "later vacuum past the purge reclaims it") {
    val root = freshTable("t26-vacuum")
    val ks = scatteredKeys(4)
    val dvV = TxLog.deleteWhereDv(spark, root, "doc_id", ks)
    TxLog.vacuum(root, retainFrom = dvV, force = true)
    // the delete-dv commit itself survived (dvV >= retainFrom), but
    // resolve now starts from the checkpoint — the masks must hold
    assert(idSet(TxLog.snapshot(spark, root, Some(dvV))) ===
      idSet(docs) -- ks)
    assert(idSet(TxLog.snapshot(spark, root)) === idSet(docs) -- ks)
    val dvName = TxLog.resolve(root).dvFiles.head
    assert(Files.exists(Paths.get(root, dvName)))

    // vacuum again with retainFrom past the dv commit: the mask state
    // is carried ONLY by the checkpoint now — still correct
    val compV = TxLog.compact(spark, root, targetBytes = 64L << 20)
    TxLog.vacuum(root, retainFrom = compV, force = true)
    assert(idSet(TxLog.snapshot(spark, root)) === idSet(docs) -- ks)
    assert(!Files.exists(Paths.get(root, dvName)),
      "after the purge nothing references the sidecar; vacuum reclaims it")
  }

  test("checkpoint alone (no vacuum) reproduces the masked state when " +
      "resolve replays from it") {
    val root = freshTable("t26-ckpt")
    val ks = scatteredKeys(3)
    val dvV = TxLog.deleteWhereDv(spark, root, "doc_id", ks)
    TxLog.checkpoint(root, Some(dvV))
    // resolve at dvV now starts from the checkpoint (newest cp <= v)
    assert(TxLog.resolve(root, Some(dvV)).dvFiles.size === 1)
    assert(idSet(TxLog.snapshot(spark, root, Some(dvV))) ===
      idSet(docs) -- ks)
  }

  // ---------------- mask maintenance ----------------

  test("purgeMasks rewrites only files past the masked-fraction " +
      "threshold; lightly masked files stay masked and byte-identical") {
    val root = tmpDir("t26-purge")
    TxLog.init(root)
    // two explicit single-file appends: file A small (heavily masked
    // below), file B the rest (one masked row)
    val sorted = docs.orderBy("doc_id").collect().map(_.getLong(0))
    val aKeys = sorted.take(6)
    val inA = col("doc_id").isin(aKeys.toIndexedSeq: _*)
    TxLog.append(spark, root, docs.filter(inA).coalesce(1))
    TxLog.append(spark, root, docs.filter(!inA).coalesce(1))
    // mask 50% of file A's rows, one row of file B
    val dvKeys = aKeys.take(3) :+ sorted.last
    TxLog.deleteWhereDv(spark, root, "doc_id", dvKeys.toIndexedSeq)
    val before = dataChecksums(root)

    val v = TxLog.purgeMasks(spark, root, minFraction = 0.3)
    assert(v.nonEmpty)
    val ci = TxLog.commitInfoAt(root, v.get)
    assert(ci.op === "purge")
    assert(ci.removes.size === 1, "only the heavily masked file rewrites")
    // the lightly masked file is untouched on disk and STILL masked
    val untouched = TxLog.resolve(root).files.map(fileNameOf(_)).toSet --
      ci.adds.map(fileNameOf(_)).toSet
    untouched.foreach(n => assert(dataChecksums(root)(n) === before(n)))
    assert(TxLog.resolve(root).dvFiles.nonEmpty)
    assert(idSet(TxLog.snapshot(spark, root)) === idSet(docs) -- dvKeys)
    // logically a no-op
    assert(TxLog.changesBetween(spark, root, v.get - 1, v.get)
      .count() === 0L)
    // file B's single masked row sits far below the threshold — the
    // second purge commits nothing
    assert(TxLog.purgeMasks(spark, root, minFraction = 0.3).isEmpty)
  }

  private def fileNameOf(rel: String): String =
    Paths.get(rel).getFileName.toString

  // ---------------- restore ----------------

  test("restore is a pure-metadata undo: a bad copy-on-write delete " +
      "rolls back with zero data writes, and CDC round-trips to empty") {
    val root = freshTable("t26-restore")
    val ks = scatteredKeys(5)
    val before = dataChecksums(root)
    TxLog.deleteWhere(spark, root, "doc_id", ks) // v1: the "bad" delete
    val rv = TxLog.restore(spark, root, 0L)      // v2: undo it
    assert(idSet(TxLog.snapshot(spark, root)) === idSet(docs))
    // nothing new under data/ except the delete's own rewrites — the
    // restore itself staged nothing
    val ci = TxLog.commitInfoAt(root, rv)
    assert(ci.op === "restore")
    val newFiles = dataChecksums(root).keySet -- before.keySet
    assert(newFiles.forall(f =>
      TxLog.commitInfoAt(root, 1L).adds.contains(s"data/$f")),
      "restore must not write data files of its own")
    // the undone interval is still time-travel readable
    assert(idSet(TxLog.snapshot(spark, root, Some(1L))) ===
      idSet(docs) -- ks)
    // CDC: the restore interval brings exactly the deleted rows back;
    // the full round trip v0 → restored head is EMPTY
    val diff = TxLog.changesBetween(spark, root, 1L, rv)
    assert(diff.filter(col("change") === "delete").count() === 0L)
    assert(idSet(diff.filter(col("change") === "insert")) === ks.toSet)
    assert(TxLog.changesBetween(spark, root, 0L, rv).count() === 0L)
  }

  test("restore republishes the target's deletion-vector mask after a " +
      "rewrite fully retired it, and mask-shrink CDC reports returns") {
    val root = freshTable("t26-restore-dv")
    val ks = scatteredKeys(4)
    val dvV = TxLog.deleteWhereDv(spark, root, "doc_id", ks) // v1
    val compV = TxLog.compact(spark, root, 64L << 20)        // v2
    assert(TxLog.resolve(root).dvFiles.isEmpty)
    val rv = TxLog.restore(spark, root, dvV)                 // v3
    // the mask is active again — the head equals the dv version
    assert(TxLog.resolve(root).dvFiles.nonEmpty)
    assert(idSet(TxLog.snapshot(spark, root)) === idSet(docs) -- ks)
    assert(TxLog.changesBetween(spark, root, dvV, rv).count() === 0L)
    // compact → restore: the compacted file falls out, the originals
    // return (still masked) — logically empty either way
    assert(TxLog.changesBetween(spark, root, compV, rv).count() === 0L)

    // now restore to v0 — pure mask SHRINK on the (restored) common
    // files: the dv-deleted rows come back as inserts
    val rv2 = TxLog.restore(spark, root, 0L)
    assert(idSet(TxLog.snapshot(spark, root)) === idSet(docs))
    val back = TxLog.changesBetween(spark, root, rv, rv2)
    assert(back.filter(col("change") === "delete").count() === 0L)
    assert(idSet(back.filter(col("change") === "insert")) === ks.toSet)
  }

  test("restore validates only the constraints added AFTER the target " +
      "and fails loudly when the restored rows violate one") {
    val root = freshTable("t26-restore-c")
    val ks = scatteredKeys(3)
    TxLog.deleteWhere(spark, root, "doc_id", ks) // v1
    // this constraint holds NOW (the ks rows are gone) but the v0 rows
    // violate it — restoring v0 must be rejected
    TxLog.addConstraint(spark, root, "no_restored_keys",
      s"doc_id <> ${ks.head}")
    val e = intercept[IllegalArgumentException] {
      TxLog.restore(spark, root, 0L)
    }
    assert(e.getMessage.contains("no_restored_keys"))
    // with the constraint dropped the same restore lands
    TxLog.dropConstraint(root, "no_restored_keys")
    TxLog.restore(spark, root, 0L)
    assert(idSet(TxLog.snapshot(spark, root)) === idSet(docs))
  }

  test("a constraint REDEFINED under the same name since the target " +
      "still gates the restore (the diff is on name+expr, not name)") {
    val root = freshTable("t26-restore-redef")
    val ks = scatteredKeys(3)
    TxLog.addConstraint(spark, root, "gate", "n_chars >= 0") // v1, holds
    TxLog.deleteWhere(spark, root, "doc_id", ks)             // v2
    // redefinition passes NOW (the ks rows are gone) but the v1 rows
    // violate it — restoring v1 must be rejected, not silently landed
    TxLog.addConstraint(spark, root, "gate", s"doc_id <> ${ks.head}")
    val e = intercept[IllegalArgumentException] {
      TxLog.restore(spark, root, 1L)
    }
    assert(e.getMessage.contains("gate"))
  }

  test("restore refuses a target whose files vacuum reclaimed") {
    val root = freshTable("t26-restore-v")
    val ks = scatteredKeys(3)
    TxLog.deleteWhere(spark, root, "doc_id", ks)    // v1 rewrites hits
    val compV = TxLog.compact(spark, root, 64L << 20) // v2
    TxLog.vacuum(root, retainFrom = compV, force = true)
    // v0/v1 commits are truncated — restore fails on the version check
    val e = intercept[IllegalArgumentException] {
      TxLog.restore(spark, root, 1L)
    }
    assert(e.getMessage.contains("not in txlog"))
  }

  // ---------------- shallow clone ----------------

  test("clone references the source's files and mask state zero-copy; " +
      "the branches then diverge without touching each other") {
    val src = freshTable("t26-clone-src")
    val ks = scatteredKeys(4)
    val dvV = TxLog.deleteWhereDv(spark, src, "doc_id", ks)
    val srcBytes = dataChecksums(src)

    val dst = tmpDir("t26-clone-dst") + "/branch"
    TxLog.clone(spark, src, dst, Some(dvV))
    // zero-copy: the clone's data dir is EMPTY, yet it reads the
    // masked source snapshot
    assert(Files.list(Paths.get(dst, "data")).count() === 0L)
    assert(idSet(TxLog.snapshot(spark, dst)) === idSet(docs) -- ks)

    // diverge the clone: a copy-on-write delete rewrites INTO the
    // clone's root; the source is byte-identical and logically intact
    val more = (idSet(docs) -- ks).toSeq.sorted.take(2)
    TxLog.deleteWhere(spark, dst, "doc_id", more)
    assert(idSet(TxLog.snapshot(spark, dst)) === idSet(docs) -- ks -- more)
    assert(dataChecksums(src) === srcBytes)
    assert(idSet(TxLog.snapshot(spark, src)) === idSet(docs) -- ks)
    assert(Files.list(Paths.get(dst, "data")).count() > 0L,
      "the clone's rewrite must land under the clone's root")

    // ... and the source diverges without affecting the clone
    val srcMore = (idSet(docs) -- ks -- more).toSeq.sorted.takeRight(1)
    TxLog.deleteWhereDv(spark, src, "doc_id", srcMore)
    assert(idSet(TxLog.snapshot(spark, dst)) === idSet(docs) -- ks -- more)
  }

  test("clone carries the skipping stats and constraints; its vacuum " +
      "reclaims only clone-local files") {
    val src = tmpDir("t26-clone2-src") + "/t"
    TxLog.init(src)
    TxLog.append(spark, src,
      docs.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions("doc_id"))
    TxLog.addConstraint(spark, src, "pos_chars", "n_chars >= 0")
    val dst = tmpDir("t26-clone2-dst") + "/b"
    TxLog.clone(spark, src, dst)

    // stats carried: a narrow slice on the clone opens < all 4 files
    val all = docs.select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0))
    val slice = TxLog.snapshotSlice(spark, dst, "doc_id",
      all.head, all(all.length / 8))
    assert(slice.inputFiles.length < 4)
    assert(idSet(slice) ===
      all.filter(k => k >= all.head && k <= all(all.length / 8)).toSet)

    // constraints carried: the violating append is rejected on the
    // CLONE (and was never a source commit)
    assert(TxLog.constraints(dst).contains("pos_chars"))
    val e = intercept[IllegalArgumentException] {
      TxLog.append(spark, dst,
        docs.limit(1).withColumn("n_chars", lit(-1L)))
    }
    assert(e.getMessage.contains("pos_chars"))

    // clone-local vacuum: append + compact on the clone, vacuum at the
    // tip — source files all survive (reclaim lists only dst/data)
    TxLog.append(spark, dst, docs.limit(3))
    val cv = TxLog.compact(spark, dst, 64L << 20)
    TxLog.vacuum(dst, retainFrom = cv, force = true)
    assert(idSet(TxLog.snapshot(spark, src)) === idSet(docs),
      "the clone's vacuum must never reclaim source files")
    assert(TxLog.snapshot(spark, dst).count() === docs.count() + 3)
  }

  // ---------------- timestamp time travel ----------------

  test("TIMESTAMP AS OF resolves by monotonized commit mtimes: exact " +
      "boundaries, skewed clocks, and a too-early timestamp fails loud") {
    import java.nio.file.attribute.FileTime
    val root = tmpDir("t26-tsasof")
    TxLog.init(root)
    val sorted = docs.orderBy("doc_id").collect().map(_.getLong(0))
    TxLog.append(spark, root, docs)                              // v0
    TxLog.deleteWhere(spark, root, "doc_id", Seq(sorted.head))   // v1
    TxLog.deleteWhereDv(spark, root, "doc_id", Seq(sorted.last)) // v2
    def setT(v: Long, t: Long): Unit =
      Files.setLastModifiedTime(
        Paths.get(root, "_txlog", f"$v%08d.json"), FileTime.fromMillis(t))
    setT(0L, 1000L); setT(1L, 2000L); setT(2L, 3000L)
    assert(TxLog.versionAt(root, 1000L) === 0L) // boundary inclusive
    assert(TxLog.versionAt(root, 1999L) === 0L)
    assert(TxLog.versionAt(root, 2500L) === 1L)
    assert(TxLog.versionAt(root, 9999L) === 2L)
    assert(idSet(TxLog.snapshotAt(spark, root, 1500L)) === idSet(docs))
    assert(idSet(TxLog.snapshotAt(spark, root, 9999L)) ===
      idSet(docs) -- Seq(sorted.head, sorted.last))
    val e = intercept[IllegalArgumentException] {
      TxLog.versionAt(root, 999L)
    }
    assert(e.getMessage.contains("at or before"))
    // clock skew: v1 stamped AFTER v2 — the running max keeps version
    // order authoritative (v2 never resolves earlier than v1)
    setT(1L, 5000L)
    assert(TxLog.versionAt(root, 4000L) === 0L)
    assert(TxLog.versionAt(root, 5000L) === 2L)
  }

  // ---------------- string data skipping ----------------

  test("commits record string [min,max] for safe values and a string " +
      "slice prunes files by the log alone") {
    val root = tmpDir("t26-strskip")
    TxLog.init(root)
    TxLog.append(spark, root,
      docs.repartitionByRange(5, col("lang"), col("doc_id"))
        .sortWithinPartitions("lang", "doc_id"))
    val st = TxLog.fileStatsStr(root)
    assert(st.nonEmpty && st.values.forall(_.contains("lang")))
    val nFiles = TxLog.resolve(root).files.size
    val slice = TxLog.snapshotSliceStr(spark, root, "lang", "de", "en")
    assert(slice.inputFiles.length < nFiles,
      s"the de..en slice must open fewer than all $nFiles files")
    val want = idSet(docs.filter(col("lang") >= "de" && col("lang") <= "en"))
    assert(idSet(slice) === want && want.nonEmpty)
    // the entry itself (sf-dir fixture) prunes too — through the
    // graft-table connector since r10, so the claim lives on the
    // executed scan's numFiles metric (RoundTwentySevenSpec)
    val entry = SparkEntry.queries("q_table_skipping_str")(spark, testdata)
    entry.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => scans(a.executedPlan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(scans)
      }
    assert(scans(entry.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum < 5L)
  }

  test("string stats refuse unsafe values (quotes/non-ASCII) and a " +
      "stat-less column is conservatively read, never mis-pruned") {
    val root = tmpDir("t26-strsafe")
    TxLog.init(root)
    TxLog.append(spark, root,
      docs.limit(4).withColumn("tag",
        concat(lit("x\""), col("doc_id").cast("string"))))
    // the unsafe quote means tag has NO recorded range...
    assert(TxLog.fileStatsStr(root).values.forall(!_.contains("tag")))
    // ...and a slice on it still returns exact rows (full read)
    val got = TxLog.snapshotSliceStr(spark, root, "tag", "x", "x~")
      .count()
    assert(got === 4L)
  }

  // ---------------- schema evolution ----------------

  test("a schema-evolving append after a dv delete keeps the mask and " +
      "merges the schema") {
    val root = freshTable("t26-evolve")
    val ks = scatteredKeys(3)
    TxLog.deleteWhereDv(spark, root, "doc_id", ks)
    TxLog.append(spark, root,
      docs.limit(1)
        .select(lit(9999999L).as("doc_id"), lit("zz").as("lang"),
          lit(1L).as("n_chars"), lit(0.25).as("quality")))
    val snap = TxLog.snapshot(spark, root)
    assert(snap.columns.contains("quality"))
    assert(idSet(snap) === (idSet(docs) -- ks) + 9999999L)
  }
}
