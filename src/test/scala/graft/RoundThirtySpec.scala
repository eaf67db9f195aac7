package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.TableHarness.{chain, raceAtV1}
import graft.ops.TxLog

/** Round-30 surface: the COLUMNAR checkpoint (per-file planning state
  * in a parquet sidecar, table-level state in a KB-scale JSON half),
  * the parsed-entry cache behind it, and their scale posture — a
  * 120k-file table's checkpoint round-trips through the sidecar
  * without ever materializing an O(table) JSON string on the driver.
  */
class RoundThirtySpec extends SparkSuite {

  test("a checkpoint writes its per-file state to a parquet sidecar " +
      "and keeps the JSON half KB-scale (no adds list, no stats " +
      "bodies); replay equivalence holds against the commit suffix") {
    val root = tmpDir("t30cp")
    TxLog.init(root)
    val d = docs.withColumn("parity",
      when(pmod(col("doc_id"), lit(2)) === 0, "even").otherwise("odd"))
    TxLog.appendPartitioned(spark, root, d, Seq("lang")) // v0
    TxLog.append(spark, root, d.limit(17).coalesce(1)) // v1
    TxLog.append(spark, root, d.limit(5).coalesce(1)) // v2
    // the full pre-checkpoint index, straight from the commits
    val before = (TxLog.resolve(root).files.toSet,
      TxLog.fileStats(root), TxLog.fileStatsStr(root),
      TxLog.fileNullStats(root), TxLog.filePartitions(root),
      TxLog.partitionColumns(root))
    val v = TxLog.checkpoint(root)
    assert(Files.exists(java.nio.file.Paths.get(
      TxLog.checkpointSidecarPath(root, v))),
      "columnar checkpoint must publish a parquet sidecar")
    val jsonLen = Files.size(java.nio.file.Paths.get(
      s"$root/_txlog/" + f"$v%08d.checkpoint.json"))
    val json = Files.readString(java.nio.file.Paths.get(
      s"$root/_txlog/" + f"$v%08d.checkpoint.json"))
    assert(json.contains("\"cpq\":1"))
    assert(!json.contains("\"stats\""), "per-file stats belong to the " +
      "sidecar, not the JSON half")
    assert(!json.contains("data/part-"), "the live-file list belongs " +
      "to the sidecar, not the JSON half")
    assert(jsonLen < 4096, s"JSON half is $jsonLen bytes — it must " +
      "stay KB-scale however many files the table holds")
    // a fresh replay THROUGH the checkpoint reproduces the index
    // exactly (cache cleared so the sidecar read is the real path)
    TxLog.clearEntryCache()
    val after = (TxLog.resolve(root).files.toSet,
      TxLog.fileStats(root), TxLog.fileStatsStr(root),
      TxLog.fileNullStats(root), TxLog.filePartitions(root),
      TxLog.partitionColumns(root))
    assert(after === before,
      "checkpoint replay must equal the commit-suffix replay")
    // and the data reads the same
    assert(idSet(TxLog.snapshot(spark, root)) ===
      idSet(d.unionByName(d.limit(17)).unionByName(d.limit(5))))
  }

  test("the sidecar round-trips a 120k-file skipping index without " +
      "an O(table) JSON string (the 100k-file planning posture)") {
    val root = tmpDir("t30big")
    TxLog.init(root)
    val n = 120000
    val files = (0 until n).map(i => f"data/part-synth-$i%06d.parquet")
    val int = files.zipWithIndex.map { case (f, i) =>
      f -> Map("doc_id" -> (i.toLong * 100, i.toLong * 100 + 99))
    }.toMap
    val str = files.zipWithIndex.map { case (f, i) =>
      f -> Map("lang" -> (s"aa${i % 50}", s"zz${i % 50}"))
    }.toMap
    val nulls = files.zipWithIndex.map { case (f, i) =>
      f -> (100L, Map("title" -> (i % 7).toLong))
    }.toMap
    val parts = files.zipWithIndex.map { case (f, i) =>
      f -> Map("shard" -> s"s${i % 16}")
    }.toMap
    val t0 = System.nanoTime()
    TxLog.writeCheckpointSidecar(root, 0L, files, int, str, nulls, parts)
    val side = TxLog.readCheckpointSidecar(root, 0L)
    val ms = (System.nanoTime() - t0) / 1000000
    assert(side.adds.toSet === files.toSet)
    assert(side.intStats === int)
    assert(side.strStats === str)
    assert(side.nstats === nulls)
    assert(side.parts === parts)
    // the sidecar is compact columnar state, not a JSON blob: the
    // equivalent hand-rolled JSON for 120k files is tens of MB
    val bytes = Files.size(java.nio.file.Paths.get(
      TxLog.checkpointSidecarPath(root, 0L)))
    assert(bytes < (16L << 20), s"sidecar is $bytes bytes for $n files")
    info(s"120k-file sidecar: $bytes bytes, round-trip ${ms}ms")
  }

  test("two UPDATEs on DISJOINT partitions race and BOTH land, " +
      "serialized — the loser re-stamps without re-running discovery") {
    val s = spark
    val root = tmpDir("t30upd")
    TxLog.init(root)
    TxLog.appendPartitioned(s, root,
      docs.repartition(2, col("doc_id")), Seq("lang")) // v0
    raceAtV1(root,
      winner = { s.sql(s"UPDATE graft_table.`$root` " +
        "SET n_chars = -7 WHERE lang = 'en'"): Unit }) {
      s.sql(s"UPDATE graft_table.`$root` " +
        "SET n_chars = -9 WHERE lang = 'fr'")
    }
    // both commits landed: v1 = winner (en), v2 = loser (fr)
    assert(TxLog.resolve(root).version === 2L)
    val out = s.read.format("graft-table").load(root)
    assert(out.filter(col("lang") === "en" &&
      col("n_chars") =!= -7).count() === 0L)
    assert(out.filter(col("lang") === "fr" &&
      col("n_chars") =!= -9).count() === 0L)
    assert(idSet(out) === idSet(docs))
    // serializability cross-check: replaying the two updates in commit
    // order over the base equals the head
    val expect = docs.withColumn("n_chars",
      when(col("lang") === "en", lit(-7L))
        .when(col("lang") === "fr", lit(-9L))
        .otherwise(col("n_chars")))
    assert(out.select("doc_id", "lang", "n_chars").exceptAll(
      expect.select("doc_id", "lang", "n_chars")).count() === 0L)
    // no staged leftovers from the re-stamp
    val leftovers = Files.list(java.nio.file.Paths.get(root))
      .toArray.map(_.toString).filter(_.contains("_staged"))
    assert(leftovers.isEmpty, leftovers.toSeq.toString)
  }

  test("two OVERLAPPING DELETEs race and the loser still fails " +
      "loudly (its hit files were rewritten under it)") {
    val s = spark
    val root = tmpDir("t30del")
    TxLog.init(root)
    TxLog.append(s, root, docs.coalesce(1)) // v0: one file — total overlap
    val e = intercept[Exception] {
      raceAtV1(root,
        winner = { s.sql(s"DELETE FROM graft_table.`$root` " +
          "WHERE doc_id % 2 = 0"): Unit }) {
        s.sql(s"DELETE FROM graft_table.`$root` WHERE doc_id % 3 = 0")
      }
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("conflict")), chain(e).mkString(" | "))
    // only the winner landed; the loser's staged survivors cleaned up
    assert(TxLog.resolve(root).version === 1L)
    assert(idSet(TxLog.snapshot(s, root)) ===
      idSet(docs.filter(col("doc_id") % 2 =!= 0)))
    val leftovers = Files.list(java.nio.file.Paths.get(root))
      .toArray.map(_.toString).filter(_.contains("_staged"))
    assert(leftovers.isEmpty, leftovers.toSeq.toString)
  }

  test("UPDATE on a partitioned table re-records partition values on " +
      "its insert files — connector partition pruning stays exact " +
      "and bounded across the mutation") {
    val s = spark
    val root = tmpDir("t30part")
    TxLog.init(root)
    TxLog.appendPartitioned(s, root,
      docs.repartition(2, col("doc_id")), Seq("lang")) // v0
    s.sql(s"UPDATE graft_table.`$root` SET n_chars = 0 " +
      "WHERE lang = 'en'")
    // every live file carries partition metadata — including the
    // UPDATE's insert images (re-staged partition-pure)
    val parts = TxLog.filePartitions(root)
    val live = TxLog.resolve(root).files
    assert(live.forall(f => parts.get(f).exists(_.contains("lang"))),
      s"files without partition metadata: " +
        live.filterNot(f => parts.get(f).exists(_.contains("lang"))))
    // pruning bound: a fr-only read opens no en file (v0's fr files
    // only — the update touched none of them)
    val frFiles = live.count(f => parts(f).get("lang").contains("fr"))
    val conn = s.read.format("graft-table").load(root)
      .filter(col("lang") === "fr")
    conn.collect()
    def filesRead(df: DataFrame): Long = {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      def rec(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => rec(a.executedPlan)
        case sc: FileSourceScanExec => Seq(sc)
        case other =>
          other.children.flatMap(rec) ++ other.subqueries.flatMap(rec)
      }
      rec(df.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
    }
    assert(filesRead(conn) === frFiles.toLong,
      "the UPDATE's en insert files must prune out of a fr read")
    // and the masked en read is exact
    assert(s.read.format("graft-table").load(root)
      .filter(col("lang") === "en" && col("n_chars") =!= 0)
      .count() === 0L)
  }

  test("stress: 8 CONCURRENT UPDATEs, one per partition, all land " +
      "under optimistic concurrency — the serialized result is exact") {
    val s = spark
    val root = tmpDir("t30race8")
    TxLog.init(root)
    val seeded = docs.withColumn("shard", pmod(col("doc_id"), lit(8)))
    TxLog.appendPartitioned(s, root,
      seeded.repartition(4, col("doc_id")), Seq("shard")) // v0
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { i =>
      new Thread(() =>
        try s.sql(s"UPDATE graft_table.`$root` " +
          s"SET n_chars = ${-(i + 1)} WHERE shard = $i"): Unit
        catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(errs.isEmpty, errs.toArray.mkString(" | "))
    // every writer landed: 8 commits after the seed, in SOME order
    assert(TxLog.resolve(root).version === 8L)
    val out = s.read.format("graft-table").load(root)
      .select("doc_id", "lang", "n_chars")
    val expect = seeded.withColumn("n_chars", -(col("shard") + 1))
      .select("doc_id", "lang", "n_chars")
    assert(out.exceptAll(expect).count() === 0L)
    assert(out.count() === docs.count())
  }

  test("ALTER TABLE ADD COLUMN is ONE data-free metadata commit: " +
      "old rows read NULL, a later INSERT supplies values, duplicate " +
      "adds and non-ADD ALTERs refuse") {
    val s = spark
    val root = tmpDir("t30alter")
    TxLog.init(root)
    TxLog.append(s, root, docs.limit(40).coalesce(1)) // v0
    s.sql(s"ALTER TABLE graft_table.`$root` ADD COLUMN quality BIGINT")
    // v1 is metadata-only: same live files, a set-schema ledger row
    val info = TxLog.commitInfoAt(root, 1L)
    assert(info.op === "set-schema")
    assert(info.adds.isEmpty && info.removes.isEmpty)
    assert(TxLog.resolve(root).files ===
      TxLog.resolve(root, Some(0L)).files)
    // pre-evolution rows surface the new column as NULL
    val head0 = s.sql(s"SELECT doc_id, quality FROM graft_table.`$root`")
    assert(head0.count() === 40L)
    assert(head0.filter(col("quality").isNotNull).count() === 0L)
    // the DataFrame API read agrees with the connector: the added
    // column surfaces as NULL there too (log schema, not footer merge)
    val api = TxLog.snapshot(s, root)
    assert(api.columns.contains("quality"))
    assert(api.filter(col("quality").isNotNull).count() === 0L)
    // an INSERT supplies it; the mix reads exactly
    s.sql(s"INSERT INTO graft_table.`$root` VALUES (900001, 'xx', 5, 77)")
    val head = s.sql(
      s"SELECT doc_id, quality FROM graft_table.`$root`")
    assert(head.count() === 41L)
    assert(head.filter(col("quality") === 77).count() === 1L)
    assert(head.filter(col("quality").isNull).count() === 40L)
    // duplicate ADD refuses loudly
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    val dup = intercept[Exception](s.sql(
      s"ALTER TABLE graft_table.`$root` ADD COLUMN quality BIGINT"))
    assert(chain(dup).exists(_.contains("already exists")),
      chain(dup).mkString(" | "))
    // the rest of ALTER still refuses (no log bypass) — DROP/RENAME
    // became supported column-mapping verbs in round 13, so the
    // refused shape here is a TYPE change
    val retype = intercept[Exception](s.sql(
      s"ALTER TABLE graft_table.`$root` ALTER COLUMN quality TYPE INT"))
    assert(chain(retype).exists(m => m.contains("refused") ||
      m.contains("COLUMN only") || m.contains("not supported")),
      chain(retype).mkString(" | "))
    // modifiers the log cannot honor refuse LOUDLY, never drop
    // silently: NOT NULL (existing rows would violate it from birth)
    // and FIRST/AFTER (added columns append last)
    val nn = intercept[Exception](s.sql(
      s"ALTER TABLE graft_table.`$root` ADD COLUMN nn BIGINT NOT NULL"))
    assert(chain(nn).exists(_.contains("NOT NULL")),
      chain(nn).mkString(" | "))
    val pos = intercept[Exception](s.sql(
      s"ALTER TABLE graft_table.`$root` ADD COLUMN p2 BIGINT FIRST"))
    assert(chain(pos).exists(_.contains("FIRST/AFTER")),
      chain(pos).mkString(" | "))
    // the schema action survives a checkpoint + vacuum truncation
    TxLog.append(s, root, s.sql(
      s"SELECT * FROM graft_table.`$root` LIMIT 1")) // v3
    TxLog.vacuum(root, retainFrom = 3L, force = true)
    assert(s.sql(s"SELECT quality FROM graft_table.`$root`")
      .count() === 42L)
  }

  test("a masked table's connector read splits at plan time: the " +
      "unmasked files take the stock COLUMNAR parquet path, only the " +
      "masked files pay the row-filter reader — results exact") {
    val root = tmpDir("t30split")
    TxLog.init(root)
    // 4 range files; mask rows in exactly one of them
    TxLog.append(spark, root, docs.repartitionByRange(4, col("doc_id"))
      .sortWithinPartitions("doc_id"))
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val victims = ids.take(5).toSeq
    TxLog.deleteWhereDv(spark, root, "doc_id", victims)
    val df = spark.read.format("graft-table").load(root)
      .select("doc_id", "lang")
    df.collect()
    import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def all(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case other => other +: other.children.flatMap(all)
    }
    val nodes = all(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[UnionExec]),
      "masked read must split into a union of batch + row branches")
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    assert(scans.size === 2, s"expected 2 scans, got ${scans.size}")
    val (batchScans, rowScans) = scans.partition(_.supportsColumnar)
    assert(batchScans.size === 1 && rowScans.size === 1,
      "exactly one columnar (unmasked) and one row (masked) branch")
    assert(batchScans.head.metrics("numFiles").value === 3L,
      "the unmasked branch reads the three mask-free files")
    assert(rowScans.head.metrics("numFiles").value === 1L,
      "the masked branch reads only the masked file")
    assert(nodes.count(_.isInstanceOf[ColumnarToRowExec]) === 1,
      "ColumnarToRow on the unmasked branch ONLY")
    // exactness: masked rows absent, everything else intact
    assert(idSet(df) === ids.toSet -- victims)
    // and file skipping still prunes per branch: a predicate landing
    // entirely in unmasked range reads one file total
    val hi = docs.filter(col("doc_id") >= ids(ids.length / 2))
      .select("doc_id", "lang")
    val pruned = spark.read.format("graft-table").load(root)
      .filter(col("doc_id") >= ids(ids.length / 2)).select("doc_id", "lang")
    pruned.collect()
    val prunedScans = all(pruned.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
    assert(prunedScans.map(_.metrics("numFiles").value).sum <= 2L,
      "log-stats pruning must keep working inside both branches")
    assert(idSet(pruned) === idSet(hi) -- victims)
  }

  test("planning is LISTING-FREE when every live file's size is " +
      "log-recorded: statuses fabricate from the log, survive vacuum " +
      "through the sidecar, and size-less legacy commits fall back") {
    val root = tmpDir("t30nolist")
    TxLog.init(root)
    TxLog.append(spark, root, docs.repartitionByRange(3, col("doc_id")))
    TxLog.append(spark, root, docs.limit(9).coalesce(1))
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def indexOf(df: DataFrame): graft.sources.GraftFileIndex =
      df.queryExecution.analyzed.collectFirst {
        case lr: LogicalRelation =>
          lr.relation.asInstanceOf[HadoopFsRelation].location
            .asInstanceOf[graft.sources.GraftFileIndex]
      }.get
    val df = spark.read.format("graft-table").load(root)
    val idx = indexOf(df)
    assert(idx.usedLogSizes,
      "a fresh table's every commit records sizes — planning must " +
        "fabricate statuses from the log, zero storage round trips")
    // the fabricated sizes are the REAL sizes
    val actual = TxLog.resolve(root).files
      .map(f => Files.size(java.nio.file.Paths.get(root, f))).sum
    assert(idx.sizeInBytes === actual)
    assert(idSet(df) === idSet(docs))
    // the carry: after checkpoint + vacuum the sizes ride the sidecar
    TxLog.append(spark, root, docs.limit(3).coalesce(1))
    TxLog.vacuum(root, retainFrom = 2L, force = true)
    val df2 = spark.read.format("graft-table").load(root)
    assert(indexOf(df2).usedLogSizes,
      "sizes must survive vacuum truncation through the checkpoint " +
        "sidecar")
    assert(idSet(df2) === idSet(docs))
    // a legacy size-less commit (hand-written, pre-#bytes grammar)
    // falls back to the batched listing — conservative, never wrong
    val legacy = tmpDir("t30legacy")
    TxLog.init(legacy)
    val donor = TxLog.resolve(root).files.head
    Files.copy(java.nio.file.Paths.get(root, donor),
      java.nio.file.Paths.get(legacy, "data", "part-legacy.parquet"))
    Files.writeString(
      java.nio.file.Paths.get(legacy, "_txlog", "00000000.json"),
      """{"v":0,"op":"append","adds":["data/part-legacy.parquet"],""" +
        """"removes":[],"rows":1,"rowsRemoved":0}""")
    val df3 = spark.read.format("graft-table").load(legacy)
    assert(!indexOf(df3).usedLogSizes,
      "a size-less commit must take the listing fallback")
    assert(df3.count() > 0L)
  }

  test("the CDC fold costs O(interval) metadata reads for a " +
      "50-commit request — one running snapshot, not two resolves " +
      "per commit") {
    val root = tmpDir("t30cdc")
    TxLog.init(root)
    val rows = docs.limit(100).coalesce(1).cache()
    rows.count()
    (0 until 50).foreach(i =>
      TxLog.append(spark, root,
        rows.filter(col("doc_id") % 50 === i).coalesce(1)))
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    TxLog.clearEntryCache()
    val prev = graft.ops.TxIo.wrapper
    graft.ops.TxIo.wrapper = inner => new DelegatingIo(inner) {
      override def read(path: String): String = {
        if (path.startsWith(root)) reads.add(path)
        inner.read(path)
      }
    }
    val cdc =
      try TxLog.changesBetweenCdc(spark, root, 0L, 49L)
      finally graft.ops.TxIo.wrapper = prev
    import scala.jdk.CollectionConverters._
    val logReads = reads.asScala.count(_.contains("_txlog/"))
    assert(logReads <= 60,
      s"a 50-commit CDC request performed $logReads metadata reads — " +
        "the fold must be O(interval), one read per commit")
    // and the feed is right: every appended row after v0, as an insert
    assert(cdc.filter(col("change_type") === "insert").count() ===
      rows.filter(col("doc_id") % 50 =!= 0).count())
    assert(cdc.filter(col("change_type") =!= "insert").count() === 0L)
  }
}
