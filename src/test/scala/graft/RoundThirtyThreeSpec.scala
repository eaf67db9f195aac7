package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.TableHarness.chain
import graft.ops.TxLog

/** Round-33 surface, part 1: the log's FORWARD-COMPATIBILITY and
  * metadata-hygiene contracts.
  *
  *  - Protocol action (Delta's reader/writer feature gate): the commit
  *    grammar tolerates unknown JSON keys, so a future replay-relevant
  *    action would be silently DROPPED by an old binary — the protocol
  *    action makes the table refuse such a binary BY NAME, on reads
  *    and writes independently, and the demand survives a vacuum
  *    truncation via the checkpoint carry.
  *  - Mapping-metadata hygiene: a frame read from a column-mapped
  *    table carries `graft.physical` field metadata; recording that
  *    verbatim into ANOTHER table's schema would bind logical names to
  *    physical names the new table's files never stored and the column
  *    would silently read NULL (data loss). Every externally-supplied
  *    schema is stripped.
  *  - Orphan-sidecar totals: an incremental checkpoint that finds the
  *    sidecar already published must recompute tfiles/tbytes from the
  *    published bytes — recording 0/0 would make the pruned planner
  *    report ~0 sizeInBytes and Spark could broadcast a huge table.
  *  - Auto-checkpoint cadence on EVERY commit path: a merge/delete-
  *    heavy table must not grow an unbounded replay suffix just
  *    because nothing ever appended.
  */
class RoundThirtyThreeSpec extends SparkSuite {

  private def seed(n: Int = 20): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"w$i")).toDF("k", "w")
  }

  private def rawCommit(root: String, v: Long, body: String): Unit = {
    val p = Paths.get(f"$root/_txlog/$v%08d.json")
    Files.write(p, body.getBytes("UTF-8")): Unit
  }

  test("a table demanding a FUTURE reader protocol fails reads AND " +
      "writes by name; a future WRITER protocol alone still reads") {
    val root = tableDir("t33proto")
    TxLog.append(spark, root, seed())
    // a newer binary recorded a protocol this one does not understand
    rawCommit(root, 1,
      """{"v":1,"op":"set-protocol","adds":[],"removes":[],""" +
        """"rows":0,"rowsRemoved":0,"protocol":{"r":2,"w":2}}""")
    val er = intercept[IllegalStateException] {
      TxLog.snapshot(spark, root).count()
    }
    assert(chain(er).exists(_.contains("requires reader protocol 2")),
      chain(er).mkString(" | "))
    val ew = intercept[IllegalStateException] {
      TxLog.append(spark, root, seed(2))
    }
    // the write path resolves/validates first, so either gate naming
    // the protocol is acceptable — it must be the protocol refusal,
    // not a generic failure
    assert(chain(ew).exists(m => m.contains("requires reader protocol") ||
      m.contains("requires writer protocol")), chain(ew).mkString(" | "))

    // writer-only demand: reads keep working, commits refuse
    val root2 = tableDir("t33protow")
    TxLog.append(spark, root2, seed())
    rawCommit(root2, 1,
      """{"v":1,"op":"set-protocol","adds":[],"removes":[],""" +
        """"rows":0,"rowsRemoved":0,"protocol":{"r":1,"w":2}}""")
    assert(TxLog.snapshot(spark, root2).count() === 20L)
    val ew2 = intercept[IllegalStateException] {
      TxLog.deleteWhere(spark, root2, "k", Seq(1L))
    }
    assert(chain(ew2).exists(_.contains("requires writer protocol 2")),
      chain(ew2).mkString(" | "))
    // time travel BELOW the demand still reads: the gate is the
    // version's own protocol, not the tip's
    assert(TxLog.snapshot(spark, root, Some(0L)).count() === 20L)
  }

  test("upgradeProtocol refuses demands this binary cannot honor, " +
      "never downgrades, and the checkpoint carries the demand " +
      "across a vacuum truncation") {
    val root = tableDir("t33protoup")
    TxLog.append(spark, root, seed())
    val e = intercept[IllegalArgumentException] {
      TxLog.upgradeProtocol(root, 2, 2)
    }
    assert(e.getMessage.contains("cannot demand protocol"))
    // impersonate a newer binary (test seam) to record (1,2)
    TxLog.SupportedWriterProtocol = 2L
    try {
      TxLog.upgradeProtocol(root, 1, 2): Unit
      TxLog.append(spark, root, seed(3)) // newer binary still writes
      // attempt a downgrade — the recorded demand keeps the max
      TxLog.upgradeProtocol(root, 1, 1): Unit
      val tip = TxLog.versions(root).max
      TxLog.checkpoint(root, Some(tip)): Unit
      // truncate the set-protocol commits themselves
      TxLog.vacuum(root, tip, force = true): Unit
      TxLog.invalidateCaches(root)
    } finally TxLog.SupportedWriterProtocol = 1L
    // the old binary reads fine but must refuse writes — the demand
    // now lives only in the checkpoint carry
    assert(TxLog.snapshot(spark, root).count() === 23L)
    val ew = intercept[IllegalStateException] {
      TxLog.append(spark, root, seed(1))
    }
    assert(chain(ew).exists(_.contains("requires writer protocol 2")),
      chain(ew).mkString(" | "))
  }

  test("a frame read from a column-mapped table does not leak its " +
      "physical mapping into a NEW table's recorded schema (append, " +
      "overwrite, addColumns)") {
    import spark.implicits._
    val src = tableDir("t33mapsrc")
    TxLog.append(spark, src,
      (0L until 10L).map(i => (i, s"v$i")).toDF("k", "payload"))
    TxLog.renameColumn(spark, src, "payload", "body"): Unit
    // the CONNECTOR read carries the mapping metadata on its schema
    // (TxLog.snapshot already projects the clean logical shape)
    val mapped = spark.read.format("graft-table").load(src)
    assert(mapped.schema.fields.exists(_.metadata
      .contains("graft.physical")), "fixture: mapping metadata expected")

    // first append to a NEW table: files store LOGICAL names, so a
    // verbatim-recorded mapping would read `body` as NULL everywhere
    val dst = tableDir("t33mapdst")
    TxLog.append(spark, dst, mapped)
    val got = TxLog.snapshot(spark, dst)
    // the RECORDED schema action is what drives the mapping — it must
    // be stripped (Spark's parquet writer still serializes field
    // metadata into file footers, which is inert: columnMapping is
    // derived from the recorded schema only)
    assert(TxLog.tableSchema(dst).get.fields
      .forall(!_.metadata.contains("graft.physical")),
      "recorded schema must be mapping-stripped")
    assert(got.filter(col("body").isNotNull).count() === 10L,
      "renamed column must round-trip values, not NULLs")

    // INSERT OVERWRITE of an existing table with a mapped frame
    val dst2 = tableDir("t33mapow")
    TxLog.append(spark, dst2, (0L until 3L).map(i => (i, s"x$i"))
      .toDF("k", "body"))
    TxLog.overwrite(spark, dst2, mapped): Unit
    val got2 = TxLog.snapshot(spark, dst2)
    assert(got2.filter(col("body").isNotNull).count() === 10L)
    assert(TxLog.tableSchema(dst2).get.fields.forall(
      !_.metadata.contains("graft.physical")))

    // addColumns with a field lifted from the mapped schema: the
    // stale physical name must not ride along
    val dst3 = tableDir("t33mapadd")
    TxLog.append(spark, dst3, (0L until 3L).toDF("k"))
    TxLog.addColumns(spark, dst3,
      Seq(mapped.schema.fields.find(_.name == "body").get)): Unit
    TxLog.append(spark, dst3,
      Seq((100L, "fresh")).toDF("k", "body"))
    assert(TxLog.snapshot(spark, dst3)
      .filter(col("body") === "fresh").count() === 1L)
  }

  test("incremental checkpoint over an ORPHAN sidecar records the " +
      "published totals, never 0/0") {
    import spark.implicits._
    val root = tableDir("t33orphan")
    val prior = TxLog.checkpointStreamThreshold
    TxLog.checkpointStreamThreshold = 1L
    try {
      TxLog.append(spark, root, (0L until 50L).toDF("k"))
      TxLog.checkpoint(root, Some(0L)): Unit
      TxLog.append(spark, root, (50L until 60L).toDF("k"))
      // simulate a crashed prior attempt at v1: sidecar published,
      // JSON half missing (exactly the orphan shape checkpoint()
      // documents)
      TxLog.checkpoint(root, Some(1L)): Unit
      val json = Paths.get(f"$root/_txlog/${1L}%08d.checkpoint.json")
      val body = new String(Files.readAllBytes(json), "UTF-8")
      Files.delete(json)
      TxLog.invalidateCaches(root)
      // the retry must reuse the orphan bytes and re-derive totals
      TxLog.checkpoint(root, Some(1L)): Unit
      val body2 = new String(Files.readAllBytes(json), "UTF-8")
      assert(body2.contains("\"tfiles\":") &&
        !body2.contains("\"tfiles\":0,"),
        s"orphan retry recorded empty totals: $body2")
      // determinism: identical totals to the uninterrupted write
      def tot(s: String): String =
        s.split("\"tfiles\"")(1).takeWhile(_ != '}')
      assert(tot(body2) === tot(body))
    } finally TxLog.checkpointStreamThreshold = prior
  }

  test("ALTER COLUMN TYPE widening: int->long is ONE data-free " +
      "metadata commit; pre-widen files upcast per file, time travel " +
      "reads v0 as int, and guards refuse loudly") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val s = spark
    val root = tableDir("t33widen")
    TxLog.append(spark, root,
      (0 until 10).map(i => (i, s"w$i")).toDF("n", "w")) // n: INT, v0
    val files0 = TxLog.resolve(root).files.toSet
    s.sql(s"ALTER TABLE graft_table.`$root` ALTER COLUMN n TYPE BIGINT")
    assert(TxLog.resolve(root).files.toSet === files0,
      "widening must not touch a data file")
    // a value only a LONG can hold lands next to the int32 files
    TxLog.append(spark, root, Seq((5000000000L, "big")).toDF("n", "w"))
    val head = TxLog.snapshot(spark, root)
    assert(head.schema("n").dataType === LongType)
    assert(head.count() === 11L)
    assert(head.agg(sum("n")).head.getLong(0) === 45L + 5000000000L,
      "pre-widen int32 values must upcast, not null out")
    assert(head.filter(col("n") === 5000000000L).count() === 1L)
    assert(head.filter(col("n") === 3L).count() === 1L)
    // the connector path (vectorized reader + pushed filters) too
    val conn = spark.read.format("graft-table").load(root)
    assert(conn.schema("n").dataType === LongType)
    assert(conn.count() === 11L)
    assert(conn.filter(col("n") === 5000000000L).count() === 1L)
    assert(conn.filter(col("n") <= 3L).count() === 4L)
    // SQL reads through the catalog
    assert(s.sql(s"SELECT sum(n) FROM graft_table.`$root`")
      .head.getLong(0) === 45L + 5000000000L)
    // time travel below the widen reads v0's own (int) schema
    val v0 = TxLog.snapshot(spark, root, Some(0L))
    assert(v0.schema("n").dataType === IntegerType)
    assert(v0.count() === 10L)
    // a mutation crossing the width boundary: the survivor rewrite of
    // an int32 file lands wide, values intact
    TxLog.deleteWhere(spark, root, "n", Seq(3L)): Unit
    val after = TxLog.snapshot(spark, root)
    assert(after.count() === 10L)
    assert(after.agg(sum("n")).head.getLong(0) === 42L + 5000000000L)
    // guards: narrowing, non-numeric, unknown column — all loud
    val e1 = intercept[Exception] {
      TxLog.widenColumnType(spark, root, "n", IntegerType)
    }
    assert(chain(e1).exists(_.contains("only widening")))
    val e2 = intercept[Exception] {
      TxLog.widenColumnType(spark, root, "w",
        org.apache.spark.sql.types.DoubleType)
    }
    assert(chain(e2).exists(_.contains("only widening")))
    intercept[Exception] {
      TxLog.widenColumnType(spark, root, "nope", LongType)
    }: Unit

    // float -> double, same contract
    val root2 = tableDir("t33widenf")
    TxLog.append(spark, root2,
      (0 until 5).map(i => (i.toLong, i * 1.5f)).toDF("k", "x"))
    TxLog.widenColumnType(spark, root2, "x",
      org.apache.spark.sql.types.DoubleType): Unit
    TxLog.append(spark, root2, Seq((99L, 2.5d)).toDF("k", "x"))
    val f = TxLog.snapshot(spark, root2)
    assert(f.schema("x").dataType ===
      org.apache.spark.sql.types.DoubleType)
    assert(f.count() === 6L)
    assert(math.abs(f.agg(sum("x")).head.getDouble(0) -
      (0 + 1.5 + 3.0 + 4.5 + 6.0 + 2.5)) < 1e-9)
  }

  test("sidecar pushdown: a selective query over a 500k-file table " +
      "decodes only the matching ROW GROUPS of the sorted sidecar, " +
      "not every row") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val root = tableDir("t33rg")
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
    // the synopsis the real checkpoint() derives from this schema:
    // (doc_id, int) then (shard, string) — and small row groups so
    // skipping is observable
    val priorRg = TxLog.sidecarRowGroupBytes
    TxLog.sidecarRowGroupBytes = 64L * 1024
    try {
      TxLog.writeCheckpointSidecar(root, 0L, files, int, Map.empty,
        nulls, parts, sizes,
        syn = TxLog.SidecarSynopsis(
          Seq(("doc_id", true), ("shard", false))))
    } finally TxLog.sidecarRowGroupBytes = priorRg
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
    TxLog.clearEntryCache()
    val df = spark.read.format("graft-table").load(root)
    val loc = df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }.get
    assert(loc.isInstanceOf[graft.sources.GraftPrunedFileIndex])
    // point query: the sidecar is SORTED by doc_id min, so the one
    // matching row lives in one contiguous row group
    TxLog.SidecarScanStats.reset()
    val attr = AttributeReference("doc_id", LongType)()
    val hit = loc.listFiles(Nil,
      Seq(EqualTo(attr, Literal(123456L * 100))))
    assert(hit.head.files.length === 1)
    val total = TxLog.SidecarScanStats.rowGroupsTotal.get()
    val opened = TxLog.SidecarScanStats.rowGroupsOpened.get()
    assert(total >= 20L,
      s"fixture must span many row groups to prove skipping (got $total)")
    assert(opened <= (total / 10).max(2L),
      s"a point query must DECODE a small fraction of row groups: " +
        s"opened $opened of $total")
    assert(TxLog.SidecarScanStats.rowsScanned.get() < (n / 10).toLong,
      "the record filter must drop non-matching rows before decode: " +
        s"scanned ${TxLog.SidecarScanStats.rowsScanned.get()}")
    assert(TxLog.SidecarScanStats.entriesRetained.get() === 1L)
    // a range query opens the contiguous run, still a fraction
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, GreaterThanOrEqual, LessThan}
    TxLog.SidecarScanStats.reset()
    val range = loc.listFiles(Nil, Seq(CAnd(
      GreaterThanOrEqual(attr, Literal(100000L * 100)),
      LessThan(attr, Literal(101000L * 100)))))
    assert(range.head.files.length === 1000)
    assert(TxLog.SidecarScanStats.rowGroupsOpened.get() <
      TxLog.SidecarScanStats.rowGroupsTotal.get() / 4)
    // a string (partition-value) predicate cannot row-group-skip
    // (shards interleave every group) but must stay CORRECT through
    // the record filter
    TxLog.SidecarScanStats.reset()
    val shard = AttributeReference("shard", StringType)()
    val s3 = loc.listFiles(Nil,
      Seq(EqualTo(shard, Literal(org.apache.spark.unsafe.types
        .UTF8String.fromString("s3"), StringType))))
    assert(s3.head.files.length === n / 16)
    // an UNFILTERED listing still yields everything
    val all = loc.listFiles(Nil, Nil)
    assert(all.head.files.length === n)
  }

  test("EVERY commit path auto-checkpoints on the cadence: an " +
      "append-free merge/delete workload keeps the replay suffix " +
      "bounded") {
    import spark.implicits._
    val root = tableDir("t33cadence")
    val prior = TxLog.CheckpointInterval
    TxLog.CheckpointInterval = 8L
    try {
      TxLog.append(spark, root,
        (0L until 40L).map(i => (i, i * 10)).toDF("k", "v"))
      // 20 commits, none of them appends: alternating keyed deletes
      // and single-key upserts
      (1 to 10).foreach { i =>
        TxLog.deleteWhere(spark, root, "k", Seq(i.toLong)): Unit
        TxLog.upsert(spark, root,
          Seq((100L + i, 7L)).toDF("k", "v"), "k"): Unit
      }
      val tip = TxLog.versions(root).max
      val cps = Files.list(Paths.get(s"$root/_txlog")).toArray
        .map(_.toString).filter(_.endsWith(".checkpoint.json"))
        .map(p => p.split("/").last.takeWhile(_ != '.').toLong).sorted
      assert(cps.nonEmpty, "no auto-checkpoint fired")
      assert(tip - cps.max < TxLog.CheckpointInterval,
        s"replay suffix ${tip - cps.max} exceeds the cadence window " +
          s"(tip $tip, newest checkpoint ${cps.max})")
      // and the table still reads correctly through the checkpoints
      val got = TxLog.snapshot(spark, root)
      assert(got.count() === 40L) // 40 - 10 deleted + 10 upsert-new
    } finally TxLog.CheckpointInterval = prior
  }
}
