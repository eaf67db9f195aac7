package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.TableHarness.{chain, raceAtV1}
import graft.ops.TxLog

/** Round-32 surface: COLUMN MAPPING — SQL RENAME/DROP COLUMN as
  * single data-free metadata commits (the logical name changes or
  * leaves; the physical parquet name in the immutable data files
  * stays), completing the ALTER surface ADD COLUMN opened. The
  * invariants under test: reads map physical -> logical everywhere
  * (connector, snapshot, slices, CDC), writes land physical names
  * (appends, UPDATE deltas, rewrites), the skipping index stays keyed
  * correctly post-rename, time travel across a rename reads each
  * version's own names, and a re-added name can never resurrect a
  * dropped column's stored bytes.
  */
class RoundThirtyTwoSpec extends SparkSuite {

  test("SQL RENAME + DROP COLUMN are data-free metadata commits; " +
      "reads map stored physical names to the new logical names, " +
      "INSERT lands physical, time travel reads each version's own " +
      "schema") {
    val s = spark
    val root = tmpDir("t32colmap")
    TxLog.init(root)
    TxLog.append(s, root, docs.limit(40).coalesce(1)) // v0
    val dataFilesBefore = TxLog.resolve(root).files.toSet
    // RENAME n_chars -> body_chars: one metadata commit, no data move
    s.sql(s"ALTER TABLE graft_table.`$root` " +
      "RENAME COLUMN n_chars TO body_chars") // v1
    assert(TxLog.resolve(root).files.toSet === dataFilesBefore,
      "RENAME COLUMN must not touch a data file")
    val renamed = s.read.format("graft-table").load(root)
    assert(renamed.schema.fieldNames.toSeq ===
      Seq("doc_id", "lang", "body_chars"))
    // the stored values surface under the new name, connector + API
    assert(renamed.filter(col("body_chars") <= 0).count() === 0L)
    assert(renamed.agg(sum("body_chars")).head.getLong(0) ===
      docs.limit(40).agg(sum("n_chars")).head.getLong(0))
    assert(TxLog.snapshot(s, root).schema.fieldNames.toSeq ===
      Seq("doc_id", "lang", "body_chars"))
    // DROP lang: metadata only; the stored bytes go invisible
    s.sql(s"ALTER TABLE graft_table.`$root` DROP COLUMN lang") // v2
    assert(TxLog.resolve(root).files.toSet === dataFilesBefore,
      "DROP COLUMN must not touch a data file")
    val dropped = s.read.format("graft-table").load(root)
    assert(dropped.schema.fieldNames.toSeq === Seq("doc_id", "body_chars"))
    // INSERT through SQL post-mapping: lands physical names — all
    // files still read coherently
    s.sql(s"INSERT INTO graft_table.`$root` VALUES (90001, 777)") // v3
    val afterIns = s.read.format("graft-table").load(root)
    assert(afterIns.count() === 41L)
    assert(afterIns.filter(col("doc_id") === 90001)
      .head.getLong(1) === 777L)
    // SQL aggregation over the renamed column (the stored physical
    // column feeds it positionally)
    assert(s.sql(s"SELECT count(*) FROM graft_table.`$root` " +
      "WHERE body_chars = 777").head.getLong(0) === 1L)
    // time travel ACROSS the rename: v0 reads the original names
    val v0 = s.read.format("graft-table").option("versionAsOf", "0")
      .load(root)
    assert(v0.schema.fieldNames.toSeq === Seq("doc_id", "lang", "n_chars"))
    assert(v0.count() === 40L)
    // the log's history shows three metadata-or-data commits
    assert(TxLog.resolve(root).version === 3L)
  }

  test("re-ADDing a dropped column's name binds a FRESH physical " +
      "name — the dropped column's stored bytes can never resurface") {
    val s = spark
    val root = tmpDir("t32reAdd")
    TxLog.init(root)
    TxLog.append(s, root, docs.limit(10).coalesce(1)) // v0
    s.sql(s"ALTER TABLE graft_table.`$root` DROP COLUMN n_chars") // v1
    s.sql(s"ALTER TABLE graft_table.`$root` " +
      "ADD COLUMN n_chars BIGINT") // v2: same logical name, fresh phys
    val out = s.read.format("graft-table").load(root)
    assert(out.schema.fieldNames.toSeq === Seq("doc_id", "lang", "n_chars"))
    assert(out.filter(col("n_chars").isNotNull).count() === 0L,
      "the re-added column must read NULL — not the dropped bytes")
    // and the DataFrame API agrees
    assert(TxLog.snapshot(s, root)
      .filter(col("n_chars").isNotNull).count() === 0L)
    // a new INSERT supplies values under the fresh physical name
    s.sql(s"INSERT INTO graft_table.`$root` VALUES (90002, 'xx', 5)")
    assert(s.read.format("graft-table").load(root)
      .filter(col("n_chars") === 5).count() === 1L)
  }

  test("skipping index and row-level ops stay keyed correctly " +
      "post-rename: file pruning on the renamed column, UPDATE and " +
      "DV DELETE through SQL, merge and compaction round-trips") {
    val s = spark
    val root = tmpDir("t32ops")
    TxLog.init(root)
    // doc_id-clustered layout: 4 files with disjoint ranges
    TxLog.append(s, root,
      docs.orderBy("doc_id").repartitionByRange(4, col("doc_id"))) // v0
    s.sql(s"ALTER TABLE graft_table.`$root` " +
      "RENAME COLUMN doc_id TO document_id") // v1
    // pruning on the RENAMED column: the stats are keyed by the
    // physical name; the mapping must route the lookup
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
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val narrow = s.read.format("graft-table").load(root)
      .filter(col("document_id") === ids.head)
    narrow.collect()
    assert(filesRead(narrow) === 1L,
      "stats pruning must keep working on the renamed column")
    // SQL UPDATE keyed on the renamed column (merge-on-read delta)
    s.sql(s"UPDATE graft_table.`$root` SET n_chars = -1 " +
      s"WHERE document_id = ${ids.head}") // v2
    val upd = s.read.format("graft-table").load(root)
    assert(upd.filter(col("document_id") === ids.head)
      .head.getAs[Long]("n_chars") === -1L)
    assert(upd.count() === ids.length.toLong)
    // DV delete through the Scala API on the renamed key
    TxLog.deleteWhereDv(s, root, "document_id", Seq(ids.last)) // v3
    assert(s.read.format("graft-table").load(root).count() ===
      ids.length.toLong - 1)
    // merge (copy-on-write upsert) on the renamed key
    import s.implicits._
    val updates = Seq((ids(1), "zz", 999L))
      .toDF("document_id", "lang", "n_chars")
    TxLog.upsert(s, root, updates, "document_id") // v4
    val merged = s.read.format("graft-table").load(root)
    assert(merged.filter(col("document_id") === ids(1))
      .head.getAs[Long]("n_chars") === 999L)
    // compaction rewrites through the mapping (reads logical, writes
    // physical) — the table reads identically after
    val before = merged.orderBy("document_id").collect().toSeq
    TxLog.compact(s, root, 1L << 30) // v5
    val after = s.read.format("graft-table").load(root)
      .orderBy("document_id").collect().toSeq
    assert(after === before, "compaction must round-trip the mapping")
    // CDC across the interval names columns logically
    val cdc = TxLog.changesBetweenCdc(s, root, 1L, 4L)
    assert(cdc.columns.contains("document_id"))
    assert(cdc.filter(col("change_type") === "update_postimage" &&
      col("n_chars") === 999L).count() === 1L)
    // snapshotSlice on the renamed column prunes + filters
    val slice = TxLog.snapshotSlice(s, root, "document_id",
      ids(2), ids(2))
    assert(idSet(slice.withColumnRenamed("document_id", "doc_id"))
      === Set(ids(2)))
  }

  test("mapping-mode guards refuse loudly: partition-column rename, " +
      "rename onto an existing or live-physical name, constrained " +
      "drop, and implicit write-side evolution") {
    val s = spark
    val root = tmpDir("t32guards")
    TxLog.init(root)
    TxLog.appendPartitioned(s, root, docs.limit(30), Seq("lang")) // v0
    // partition column: refused (values are directory-encoded)
    assert(chain(intercept[Exception] {
      s.sql(s"ALTER TABLE graft_table.`$root` RENAME COLUMN lang TO l2")
    }).exists(_.contains("partition column")))
    assert(chain(intercept[Exception] {
      s.sql(s"ALTER TABLE graft_table.`$root` DROP COLUMN lang")
    }).exists(_.contains("partition column")))
    // rename onto an existing logical name
    assert(chain(intercept[Exception] {
      s.sql(s"ALTER TABLE graft_table.`$root` " +
        "RENAME COLUMN n_chars TO doc_id")
    }).exists(_.contains("already exists")))
    // constrained column: neither renameable nor droppable
    TxLog.addConstraint(s, root, "pos_chars", "n_chars >= 0")
    assert(chain(intercept[Exception] {
      s.sql(s"ALTER TABLE graft_table.`$root` " +
        "RENAME COLUMN n_chars TO m_chars")
    }).exists(_.contains("pos_chars")))
    assert(chain(intercept[Exception] {
      s.sql(s"ALTER TABLE graft_table.`$root` DROP COLUMN n_chars")
    }).exists(_.contains("pos_chars")))
    TxLog.dropConstraint(root, "pos_chars")
    // turn mapping mode on, then implicit evolution refuses
    s.sql(s"ALTER TABLE graft_table.`$root` " +
      "RENAME COLUMN n_chars TO m_chars")
    val widened = docs.limit(3)
      .withColumnRenamed("n_chars", "m_chars")
      .withColumn("extra", lit(1L))
    val e = intercept[Exception] { TxLog.append(s, root, widened) }
    assert(chain(e).exists(_.contains("ALTER TABLE ADD COLUMN first")),
      chain(e).mkString(" | "))
    // ...while the declared shape appends fine
    TxLog.append(s, root,
      docs.limit(3).withColumnRenamed("n_chars", "m_chars"))
    assert(s.read.format("graft-table").load(root).count() === 33L)
    // a renamed-away name can be renamed BACK (old physical is live
    // under the new logical, so 'n_chars' is free again as logical —
    // but renaming m_chars to a LIVE PHYSICAL name is refused)
    assert(chain(intercept[Exception] {
      s.sql(s"ALTER TABLE graft_table.`$root` " +
        "RENAME COLUMN doc_id TO n_chars")
    }).exists(_.contains("live physical")))
  }

  test("overwrite of a MAPPED table validates constraints against " +
      "the new frame's OWN names (no stale physical mapping)") {
    val s = spark
    val root = tmpDir("t32ovw")
    TxLog.init(root)
    TxLog.append(s, root, docs.limit(20).coalesce(1)) // v0
    s.sql(s"ALTER TABLE graft_table.`$root` " +
      "RENAME COLUMN n_chars TO m_chars") // v1: mapping on
    TxLog.addConstraint(s, root, "pos_m", "m_chars >= 0") // v2
    // a VALID overwrite under the new logical names must pass the
    // gate — its staged files carry the frame's own names, not the
    // old physical mapping
    val fresh = docs.limit(7).withColumnRenamed("n_chars", "m_chars")
    TxLog.overwrite(s, root, fresh) // v3
    val out = s.read.format("graft-table").load(root)
    assert(out.count() === 7L)
    assert(out.filter(col("m_chars") < 0).count() === 0L)
    // and a VIOLATING overwrite still rejects loudly
    val bad = fresh.withColumn("m_chars", lit(-1L))
    val e = intercept[Exception] { TxLog.overwrite(s, root, bad) }
    assert(chain(e).exists(_.contains("pos_m")), chain(e).mkString(" | "))
    assert(s.read.format("graft-table").load(root).count() === 7L)
  }

  test("RESTORE across a rename boundary republishes that version's " +
      "OWN schema: the mapping is per-version metadata like " +
      "everything else") {
    val s = spark
    val root = tmpDir("t32restmap")
    TxLog.init(root)
    TxLog.append(s, root, docs.limit(12).coalesce(1)) // v0: doc_id,lang,n_chars
    s.sql(s"ALTER TABLE graft_table.`$root` " +
      "RENAME COLUMN n_chars TO nc") // v1 (data-free)
    s.sql(s"INSERT INTO graft_table.`$root` VALUES (91000, 'aa', 4)") // v2
    s.sql(s"ALTER TABLE graft_table.`$root` DROP COLUMN lang") // v3
    // restore to v1: the insert's file drops out, the schema is v1's
    // (renamed, lang still present)
    TxLog.restore(s, root, 1L) // v4
    val out = s.read.format("graft-table").load(root)
    assert(out.schema.fieldNames.toSeq === Seq("doc_id", "lang", "nc"))
    assert(out.count() === 12L)
    assert(out.filter(col("doc_id") === 91000).count() === 0L,
      "the post-rename insert must drop out of the restored head")
    assert(out.filter(col("nc").isNull || col("lang").isNull)
      .count() === 0L,
      "restored rows keep their stored values under the v1 mapping")
    // and the pre-rename version still reads its own names
    val v0 = s.read.format("graft-table")
      .option("versionAsOf", "0").load(root)
    assert(v0.schema.fieldNames.toSeq === Seq("doc_id", "lang", "n_chars"))
  }

  test("a CDC interval crossing a rename reports ONE coherent column " +
      "under the interval-head name (physical-name alignment — no " +
      "null-filled halves)") {
    val s = spark
    val root = tmpDir("t32cdcmap")
    TxLog.init(root)
    TxLog.append(s, root, docs.limit(6).coalesce(1)) // v0
    s.sql(s"INSERT INTO graft_table.`$root` VALUES (92000, 'aa', 1)") // v1
    s.sql(s"ALTER TABLE graft_table.`$root` " +
      "RENAME COLUMN n_chars TO nc") // v2 (touches no files — no feed)
    s.sql(s"INSERT INTO graft_table.`$root` VALUES (92001, 'bb', 2)") // v3
    val cdc = TxLog.changesBetweenCdc(s, root, 0L, 3L)
    assert(cdc.columns.contains("nc") && !cdc.columns.contains("n_chars"),
      s"the feed speaks the HEAD name only: ${cdc.columns.toSeq}")
    // v1's PRE-rename insert reports its stored value under the head
    // name — no spurious nulls on either side of the boundary
    val r1 = cdc.filter(col("doc_id") === 92000).head
    assert(r1.getAs[Long]("nc") === 1L)
    val r3 = cdc.filter(col("doc_id") === 92001).head
    assert(r3.getAs[Long]("nc") === 2L)
    assert(cdc.filter(col("nc").isNull).count() === 0L,
      "a rename boundary must not null-fill the feed")
    assert(cdc.filter(col("change_type") =!= "insert").count() === 0L)
    // a downstream MERGE can consume the feed as one schema: every
    // row of the interval carries (doc_id, lang, nc, change_type)
    assert(cdc.columns.sorted.toSeq ===
      Seq("change_type", "doc_id", "lang", "nc"))
  }

  test("a derived mutation racing a RENAME (non-pure-add schema " +
      "winner) still fails loudly and cleans up") {
    val s = spark
    val root = tmpDir("t32race")
    TxLog.init(root)
    TxLog.append(s, root, docs.coalesce(1)) // v0
    val e = intercept[Exception] {
      raceAtV1(root,
        winner = { TxLog.renameColumn(s, root, "n_chars", "nc"): Unit }) {
        s.sql(s"DELETE FROM graft_table.`$root` WHERE doc_id % 2 = 0")
      }
    }
    assert(chain(e).exists(_.contains("conflict")), chain(e).mkString(" | "))
    assert(TxLog.resolve(root).version === 1L)
    assert(TxLog.tableSchema(root).get.fieldNames.contains("nc"))
    val leftovers = Files.list(java.nio.file.Paths.get(root))
      .toArray.map(_.toString).filter(_.contains("_staged"))
    assert(leftovers.isEmpty, leftovers.toSeq.toString)
  }
}
