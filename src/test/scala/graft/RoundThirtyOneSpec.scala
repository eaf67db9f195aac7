package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.TableHarness.{chain, raceAtV1}
import graft.ops.TxLog

/** Round-31 surface: the vacuum retention window (a reader pinned at
  * a recent version can never lose files mid-read to a concurrent
  * vacuum), checkpoint-format versioning (a rolled-back binary must
  * refuse, not misread, a newer sidecar), entry-cache observability,
  * and the pure-ADD schema-conflict relaxation (a concurrent
  * ALTER TABLE ADD COLUMN no longer forces derived mutations to
  * re-derive).
  */
class RoundThirtyOneSpec extends SparkSuite {

  // ---------------- vacuum retention window ----------------

  test("a reader pinned at a recent version survives a vacuum issued " +
      "during its scan (default retention clamps); force keeps " +
      "today's immediate-reclaim behavior") {
    val root = tmpDir("t31ret")
    TxLog.init(root)
    TxLog.append(spark, root, docs.limit(60).coalesce(1)) // v0
    TxLog.compact(spark, root, 1L << 30) // v1: removes v0's file
    TxLog.append(spark, root, docs.limit(10).coalesce(1)) // v2
    // a reader plans against v0 (its file is only referenced by v0,
    // which a retainFrom = 2 vacuum would truncate)...
    val pinned = TxLog.snapshot(spark, root, Some(0L))
    // ...and a vacuum lands mid-scan. All three commits are seconds
    // old — inside the default retention window — so the floor clamps
    // to 0 and nothing the pinned reader needs is reclaimed
    val removed = TxLog.vacuum(root, retainFrom = 2L)
    assert(removed === 0,
      "vacuum must not reclaim files of versions inside retention")
    assert(TxLog.versions(root) === Seq(0L, 1L, 2L),
      "retention must clamp the truncation floor, not just file removal")
    assert(pinned.count() === 60L,
      "the pinned reader must complete after the clamped vacuum")
    // the operator's explicit override keeps the old contract exactly
    val forced = TxLog.vacuum(root, retainFrom = 2L, force = true)
    assert(forced === 1, "force must reclaim v0's unreferenced file")
    assert(TxLog.versions(root) === Seq(2L))
    intercept[Exception] { TxLog.snapshot(spark, root, Some(0L)) }
  }

  test("retention is commit AGE: versions older than the window " +
      "truncate without force, younger ones are protected") {
    val root = tmpDir("t31age")
    TxLog.init(root)
    TxLog.append(spark, root, docs.limit(20).coalesce(1)) // v0
    TxLog.compact(spark, root, 1L << 30) // v1
    TxLog.append(spark, root, docs.limit(5).coalesce(1)) // v2
    // age v0 out of a 1-hour window; v1/v2 stay young
    val v0 = java.nio.file.Paths.get(root, "_txlog", "00000000.json")
    Files.setLastModifiedTime(v0,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    // asking to truncate v0 AND v1: v1 is young, so the floor clamps
    // to 1 — v0 (old) truncates, v1 survives
    val removed = TxLog.vacuum(root, retainFrom = 2L,
      retentionMillis = 60L * 60 * 1000)
    assert(removed === 1, "v0's file is unreferenced from v1 on and " +
      "its commit aged out — it must be reclaimed")
    assert(TxLog.versions(root) === Seq(1L, 2L),
      "the young v1 must survive; the aged v0 must truncate")
    assert(TxLog.snapshot(spark, root, Some(1L)).count() === 20L)
  }

  // ---------------- checkpoint format versioning ----------------

  test("a FUTURE checkpoint format (cpq=2) refuses loudly by name — " +
      "never replayed as an empty live set") {
    val root = tmpDir("t31cpq")
    TxLog.init(root)
    TxLog.append(spark, root, docs.limit(30).coalesce(1)) // v0
    TxLog.append(spark, root, docs.limit(7).coalesce(1)) // v1
    // a newer binary wrote a checkpoint this reader does not
    // understand
    Files.writeString(
      java.nio.file.Paths.get(root, "_txlog", "00000001.checkpoint.json"),
      """{"v":1,"cpq":2,"adds":[],"removes":[],"cset":{}}""")
    TxLog.clearEntryCache()
    val e = intercept[Exception] { TxLog.resolve(root) }
    assert(chain(e).exists(_.contains("unsupported checkpoint format " +
      "cpq=2")), chain(e).mkString(" | "))
    // and reads below the alien checkpoint still work (they resolve
    // through the commit prefix, never through it)
    assert(TxLog.snapshot(spark, root, Some(0L)).count() === 30L)
  }

  // ---------------- entry-cache observability ----------------

  test("entry-cache stats count hits and misses; CALL cache_stats " +
      "surfaces them in SQL") {
    val s = spark
    val root = tmpDir("t31stats")
    TxLog.init(root)
    TxLog.append(spark, root, docs.limit(10).coalesce(1)) // v0
    TxLog.checkpoint(root)
    TxLog.clearEntryCache()
    val (h0, m0, _) = TxLog.entryCacheStats
    TxLog.resolve(root) // cold: parses checkpoint (+ suffix)
    val (h1, m1, _) = TxLog.entryCacheStats
    assert(m1 > m0, "a cold resolve must record cache misses")
    TxLog.resolve(root) // warm: zero parses
    val (h2, m2, _) = TxLog.entryCacheStats
    assert(h2 > h1, "a warm resolve must record cache hits")
    assert(m2 === m1, "a warm resolve must not re-parse")
    val row = s.sql("CALL graft_table.system.cache_stats()").collect()
    assert(row.length === 1)
    assert(row.head.getLong(0) >= h2 - h0)
  }

  // ---------------- pruned checkpoint-sidecar planning ----------------

  test("a 500k-file table plans a selective query by STREAMING the " +
      "sidecar — only the matching fraction of file entries is ever " +
      "materialized on the driver, and suffix removes/adds apply") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val root = tmpDir("t31huge")
    TxLog.init(root)
    val n = 500000
    val files = (0 until n).map(i => f"data/part-synth-$i%06d.parquet")
    val int = files.zipWithIndex.map { case (f, i) =>
      f -> Map("doc_id" -> (i.toLong * 100, i.toLong * 100 + 99))
    }.toMap
    val nulls = files.map(f => f -> (100L, Map.empty[String, Long])).toMap
    val parts = files.zipWithIndex.map { case (f, i) =>
      f -> Map("shard" -> s"s${i % 16}")
    }.toMap
    val sizes = files.map(f => f -> 1024L).toMap
    TxLog.writeCheckpointSidecar(root, 0L, files, int, Map.empty,
      nulls, parts, sizes)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("shard", StringType)))
    val b64 = java.util.Base64.getEncoder.encodeToString(
      schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val txdir = java.nio.file.Paths.get(root, "_txlog")
    Files.writeString(txdir.resolve("00000000.json"),
      """{"v":0,"op":"append","adds":[],"removes":[],""" +
        """"rows":0,"rowsRemoved":0}""")
    Files.writeString(txdir.resolve("00000000.checkpoint.json"),
      s"""{"v":0,"cpq":1,"adds":[],"removes":[],"cset":{},""" +
        s""""schema":"$b64","tfiles":$n,"tbytes":${n * 1024L}}""")
    // a suffix commit removes file 0 — the pruned listing must apply
    // it without materializing the base
    Files.writeString(txdir.resolve("00000001.json"),
      s"""{"v":1,"op":"delete","adds":[],""" +
        s""""removes":["${files.head}"],"rows":0,"rowsRemoved":100}""")
    TxLog.clearEntryCache()
    val df = spark.read.format("graft-table").load(root)
    val fsRel = df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
    }.get
    assert(fsRel.location.isInstanceOf[graft.sources.GraftPrunedFileIndex],
      s"a $n-file sidecar must take the pruned planning path, got " +
        fsRel.location.getClass.getName)
    assert(fsRel.schema.fieldNames.toSeq === Seq("doc_id", "shard"))
    // selective plan: one file's range admits doc_id = 12345600
    TxLog.SidecarScanStats.reset()
    val attr = AttributeReference("doc_id", LongType)()
    val hit = fsRel.location.listFiles(Nil,
      Seq(EqualTo(attr, Literal(123456L * 100))))
    assert(hit.head.files.length === 1,
      s"exactly one file's [min,max] admits the key")
    assert(TxLog.SidecarScanStats.rowsScanned.get() === n.toLong,
      "the scan streams every sidecar row once")
    assert(TxLog.SidecarScanStats.entriesRetained.get() === 1L,
      "only the MATCHING file's entry may be materialized — " +
        s"retained ${TxLog.SidecarScanStats.entriesRetained.get()}")
    // the suffix REMOVE applies: file 0's range admits doc_id = 50,
    // but v1 removed it
    val gone = fsRel.location.listFiles(Nil,
      Seq(EqualTo(attr, Literal(50L))))
    assert(gone.head.files.isEmpty,
      "a file removed by a suffix commit must not be listed")
    // an unfiltered listing yields the full live set (all statuses
    // fabricated from log-recorded sizes — no storage I/O for files
    // that do not exist on disk)
    val all = fsRel.location.listFiles(Nil, Nil)
    assert(all.head.files.length === n - 1)
    assert(all.head.files.map(_.getLen).sum === (n - 1) * 1024L)
    // sizeInBytes answers from the JSON-recorded totals (tbytes),
    // never a per-query scan
    TxLog.SidecarScanStats.reset()
    assert(fsRel.location.sizeInBytes === n * 1024L)
    assert(TxLog.SidecarScanStats.rowsScanned.get() === 0L,
      "sizeInBytes must come from the checkpoint JSON's totals")
    // and a string/partition-value predicate prunes by shard too
    TxLog.SidecarScanStats.reset()
    val shard = AttributeReference("shard", StringType)()
    val s3 = fsRel.location.listFiles(Nil,
      Seq(EqualTo(shard, Literal(org.apache.spark.unsafe.types
        .UTF8String.fromString("s3"), StringType))))
    assert(s3.head.files.length === n / 16 - (if (0 % 16 == 3) 1 else 0))
    assert(TxLog.SidecarScanStats.entriesRetained.get() === (n / 16).toLong)
  }

  test("keyed-delete hit discovery on a 500k-file table STREAMS the " +
      "sidecar: only the admitting candidates' paths materialize, " +
      "never the full stats map") {
    val root = tmpDir("t31keys")
    TxLog.init(root)
    val n = 500000
    val files = (0 until n).map(i => f"data/part-synth-$i%06d.parquet")
    val int = files.zipWithIndex.map { case (f, i) =>
      f -> Map("doc_id" -> (i.toLong * 100, i.toLong * 100 + 99))
    }.toMap
    val sizes = files.map(f => f -> 1024L).toMap
    TxLog.writeCheckpointSidecar(root, 0L, files, int, Map.empty,
      Map.empty, Map.empty, sizes)
    val txdir = java.nio.file.Paths.get(root, "_txlog")
    Files.writeString(txdir.resolve("00000000.json"),
      """{"v":0,"op":"append","adds":[],"removes":[],""" +
        """"rows":0,"rowsRemoved":0}""")
    Files.writeString(txdir.resolve("00000000.checkpoint.json"),
      """{"v":0,"cpq":1,"adds":[],"removes":[],"cset":{},""" +
        s""""tfiles":$n,"tbytes":${n * 1024L}}""")
    TxLog.clearEntryCache()
    TxLog.SidecarScanStats.reset()
    // three keys landing in two distinct files' ranges
    val snap = TxLog.Snapshot(0L, Seq.empty)
    val cands = TxLog.keyCandidates(spark, root, snap, "doc_id",
      Seq(100L, 150L, 4200L))
    assert(cands.toSet === Set(files(1), files(42)),
      s"got $cands")
    assert(TxLog.SidecarScanStats.rowsScanned.get() === n.toLong)
    assert(TxLog.SidecarScanStats.entriesRetained.get() === 2L,
      "only the admitting files' entries may be materialized")
    // the generalized candidate surface drives the slice reads the
    // same way: an int-range predicate over the shared view
    TxLog.SidecarScanStats.reset()
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThanOrEqual, LessThanOrEqual, Literal}
    import org.apache.spark.sql.types.LongType
    val docId = AttributeReference("doc_id", LongType)()
    val sliceCands = TxLog.candidatesWhere(
      TxLog.statsSource(spark, root, snap),
      Seq(GreaterThanOrEqual(docId, Literal(700L)),
        LessThanOrEqual(docId, Literal(850L)))).map(_.path)
    assert(sliceCands.toSet === Set(files(7), files(8)))
    assert(TxLog.SidecarScanStats.entriesRetained.get() === 2L)
  }

  test("pruned planning END-TO-END on a real table (threshold " +
      "lowered): results exact, DV masks apply, suffix appends land, " +
      "time travel reads through the pruned index") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    spark.conf.set("spark.graft.plan.pruneFileThreshold", "5")
    try {
      val root = tmpDir("t31e2e")
      TxLog.init(root)
      TxLog.append(spark, root, docs.orderBy("doc_id")
        .repartitionByRange(8, col("doc_id"))) // v0: 8 range files
      TxLog.checkpoint(root) // columnar checkpoint at v0 (8 > 5 rows)
      val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
      TxLog.deleteWhereDv(spark, root, "doc_id", ids.take(3).toSeq) // v1
      TxLog.append(spark, root, docs.limit(0) // v2: suffix add
        .unionByName(spark.range(1).select(
          lit(777777L).as("doc_id"), lit("zz").as("lang"),
          lit(9L).as("n_chars"))).coalesce(1))
      def index(df: DataFrame) = df.queryExecution.analyzed.collectFirst {
        case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
      }.get
      val df = spark.read.format("graft-table").load(root)
      assert(index(df).isInstanceOf[graft.sources.GraftPrunedFileIndex],
        "the lowered threshold must route this table to the pruned path")
      // exact head semantics through the pruned index: DV mask applied,
      // suffix append visible
      val expect = idSet(docs).diff(ids.take(3).toSet) + 777777L
      assert(idSet(df) === expect)
      // a selective read prunes to one base file and stays exact
      val one = df.filter(col("doc_id") === ids.last)
      assert(idSet(one) === Set(ids.last))
      // time travel below the suffix reads through the same machinery
      val v0 = spark.read.format("graft-table")
        .option("versionAsOf", "0").load(root)
      assert(index(v0).isInstanceOf[graft.sources.GraftPrunedFileIndex])
      assert(idSet(v0) === idSet(docs))
      // and agrees with the eager DataFrame API read
      assert(idSet(TxLog.snapshot(spark, root)) === expect)
      // COLUMN MAPPING × pruned planning: a rename is one metadata
      // commit; the pruned relation maps the stored physical column
      // back to the new logical name and filters on it correctly
      TxLog.renameColumn(spark, root, "n_chars", "nc") // v3
      val df3 = spark.read.format("graft-table").load(root)
      assert(index(df3).isInstanceOf[graft.sources.GraftPrunedFileIndex])
      assert(df3.schema.fieldNames.toSeq === Seq("doc_id", "lang", "nc"))
      val want = docs.filter(col("doc_id") === ids.last)
        .head.getAs[Long]("n_chars")
      assert(df3.filter(col("doc_id") === ids.last)
        .head.getAs[Long]("nc") === want)
      assert(df3.filter(col("nc") === want).count() >= 1L)
      assert(idSet(df3) === expect)
    } finally spark.conf.unset("spark.graft.plan.pruneFileThreshold")
  }

  test("INCREMENTAL checkpoint (prior sidecar streamed through, " +
      "suffix applied) is equivalent to a full rebuild: same live " +
      "set, same skipping index, same DV/constraint carry") {
    val prevT = TxLog.checkpointStreamThreshold
    TxLog.checkpointStreamThreshold = 1L
    try {
      val root = tmpDir("t31inccp")
      TxLog.init(root)
      val d = docs.withColumn("parity",
        when(pmod(col("doc_id"), lit(2)) === 0, "even").otherwise("odd"))
      TxLog.appendPartitioned(spark, root, d, Seq("lang")) // v0
      TxLog.checkpoint(root) // base checkpoint (full path — no prior)
      TxLog.addConstraint(spark, root, "chars_pos", "n_chars >= 0") // v1
      TxLog.append(spark, root, d.limit(17).coalesce(1)) // v2
      TxLog.compact(spark, root, 1L << 30) // v3: removes all prior files
      val ids = docs.select("doc_id").orderBy("doc_id")
        .limit(3).collect().map(_.getLong(0)).toSeq
      TxLog.deleteWhereDv(spark, root, "doc_id", ids) // v4: live DV
      TxLog.append(spark, root, d.limit(5).coalesce(1)) // v5
      // the index as replayed from base checkpoint + suffix —
      // restricted to LIVE files: only live paths are ever looked up,
      // and the suffix replay legitimately keeps dead files' stats in
      // its merged maps while a checkpoint carries live-only
      def capture() = {
        val live = TxLog.resolve(root).files.toSet
        def liveOnly[V](m: Map[String, V]): Map[String, V] =
          m.view.filterKeys(live).toMap
        (live, TxLog.resolve(root).dvFiles.toSet,
          liveOnly(TxLog.fileStats(root)),
          liveOnly(TxLog.fileStatsStr(root)),
          liveOnly(TxLog.fileNullStats(root)),
          liveOnly(TxLog.filePartitions(root)),
          TxLog.partitionColumns(root), TxLog.constraints(root),
          idSet(TxLog.snapshot(spark, root)))
      }
      val before = capture()
      // incremental checkpoint at the tip: the base sidecar STREAMS
      // through (nothing retained), the suffix's removes/adds apply
      TxLog.SidecarScanStats.reset()
      val v = TxLog.checkpoint(root)
      assert(TxLog.SidecarScanStats.rowsScanned.get() > 0,
        "the incremental path must stream the prior sidecar")
      assert(TxLog.SidecarScanStats.entriesRetained.get() === 0L,
        "the incremental write must not materialize base entries")
      // everything replays identically THROUGH the new checkpoint
      TxLog.clearEntryCache()
      assert(capture() === before,
        "incremental checkpoint must equal the suffix replay")
      // and the JSON half records the live-set totals
      val json = Files.readString(java.nio.file.Paths.get(
        s"$root/_txlog/" + f"$v%08d.checkpoint.json"))
      assert(json.contains("\"tfiles\":" + before._1.size))
      assert(json.contains("\"chars_pos\""),
        "the constraint set must carry into the incremental checkpoint")
      // time travel below the new checkpoint still works
      assert(idSet(TxLog.snapshot(spark, root, Some(2L))) === idSet(
        d.unionByName(d.limit(17))))
    } finally TxLog.checkpointStreamThreshold = prevT
  }

  test("a 500k-file checkpoint advances INCREMENTALLY: the new " +
      "sidecar is written as a stream with the suffix's remove " +
      "applied — no O(table) state on the driver") {
    val root = tmpDir("t31incbig")
    TxLog.init(root)
    val n = 500000
    val files = (0 until n).map(i => f"data/part-synth-$i%06d.parquet")
    val int = files.zipWithIndex.map { case (f, i) =>
      f -> Map("doc_id" -> (i.toLong * 100, i.toLong * 100 + 99))
    }.toMap
    val sizes = files.map(f => f -> 1024L).toMap
    TxLog.writeCheckpointSidecar(root, 0L, files, int, Map.empty,
      Map.empty, Map.empty, sizes)
    val txdir = java.nio.file.Paths.get(root, "_txlog")
    Files.writeString(txdir.resolve("00000000.json"),
      """{"v":0,"op":"append","adds":[],"removes":[],""" +
        """"rows":0,"rowsRemoved":0}""")
    Files.writeString(txdir.resolve("00000000.checkpoint.json"),
      """{"v":0,"cpq":1,"adds":[],"removes":[],"cset":{},""" +
        s""""tfiles":$n,"tbytes":${n * 1024L}}""")
    Files.writeString(txdir.resolve("00000001.json"),
      s"""{"v":1,"op":"delete","adds":[],""" +
        s""""removes":["${files.head}"],"rows":0,"rowsRemoved":100}""")
    TxLog.clearEntryCache()
    TxLog.SidecarScanStats.reset()
    val t0 = System.nanoTime()
    TxLog.checkpoint(root, Some(1L)) // 500k ≥ default threshold
    val ms = (System.nanoTime() - t0) / 1000000
    assert(TxLog.SidecarScanStats.entriesRetained.get() === 0L,
      "the incremental write must retain nothing")
    assert(TxLog.sidecarRowCount(root, 1L) === n - 1L,
      "the suffix remove must apply in the stream")
    val json = Files.readString(txdir.resolve("00000001.checkpoint.json"))
    assert(json.contains("\"tfiles\":" + (n - 1)))
    assert(json.contains("\"tbytes\":" + (n - 1) * 1024L))
    info(s"500k-file incremental checkpoint in ${ms}ms")
    // and the pruned planner keys off the NEW checkpoint: the removed
    // file's key range now yields no candidate
    val cands = TxLog.keyCandidates(spark, root,
      TxLog.Snapshot(1L, Seq.empty), "doc_id", Seq(50L))
    assert(cands.isEmpty)
  }

  test("two concurrent ADD COLUMNs of DIFFERENT columns both land " +
      "(the widening recomputes per attempt); an overlapping-name " +
      "re-add still fails loudly") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val root = tmpDir("t31addx2")
    TxLog.init(root)
    TxLog.append(spark, root, docs.limit(10).coalesce(1)) // v0
    raceAtV1(root,
      winner = { TxLog.addColumns(spark, root,
        Seq(StructField("alpha", LongType))): Unit }) {
      TxLog.addColumns(spark, root, Seq(StructField("beta", StringType)))
    }
    assert(TxLog.resolve(root).version === 2L)
    val st = TxLog.tableSchema(root).get
    assert(st.fieldNames.contains("alpha") &&
      st.fieldNames.contains("beta"),
      s"both racing ADDs must land: ${st.fieldNames.toSeq}")
    // overlapping name: the loser's recomputed widening sees the
    // winner's column and refuses (fresh table — the race harness
    // pins the v1 slot)
    val root2 = tmpDir("t31adddup")
    TxLog.init(root2)
    TxLog.append(spark, root2, docs.limit(10).coalesce(1)) // v0
    val e = intercept[Exception] {
      raceAtV1(root2,
        winner = { TxLog.addColumns(spark, root2,
          Seq(StructField("gamma", LongType))): Unit }) {
        TxLog.addColumns(spark, root2, Seq(StructField("gamma", LongType)))
      }
    }
    assert(chain(e).exists(_.contains("already exists")),
      chain(e).mkString(" | "))
  }

  test("a derived mutation racing a PURE-ADD schema winner re-stamps " +
      "and both land: the UPDATE applies, the added column reads NULL") {
    import org.apache.spark.sql.types.{LongType, StructField}
    val s = spark
    val root = tmpDir("t31addvsupd")
    TxLog.init(root)
    TxLog.appendPartitioned(s, root,
      docs.repartition(2, col("doc_id")), Seq("lang")) // v0
    raceAtV1(root,
      winner = { TxLog.addColumns(s, root,
        Seq(StructField("quality", LongType))): Unit }) {
      s.sql(s"UPDATE graft_table.`$root` SET n_chars = -3 " +
        "WHERE lang = 'en'")
    }
    // winner = v1 (set-schema), loser re-stamped at v2
    assert(TxLog.resolve(root).version === 2L)
    val out = s.read.format("graft-table").load(root)
    assert(out.filter(col("lang") === "en" &&
      col("n_chars") =!= -3).count() === 0L)
    assert(out.schema.fieldNames.contains("quality"),
      "the ADD COLUMN must survive the loser's re-stamp")
    assert(out.filter(col("quality").isNotNull).count() === 0L,
      "no row supplied the added column yet")
    assert(idSet(out) === idSet(docs))
  }
}
