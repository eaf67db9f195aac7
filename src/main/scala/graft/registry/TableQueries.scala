package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Maintenance

/** Table-format and maintenance rows: the transaction-log table lifecycles
  * (time travel, deletion vectors, SQL DML, column mapping, CDC,
  * streaming reads) and the incremental-maintenance operators. Each
  * lifecycle is built once per (session, sf dir) in [[ArtifactStore]].
  */
object TableQueries {
  import Shared._

  /** Keys erased by the targeted-delete lifecycle — contiguous low ids,
    * so on the 10-file doc_id-range layout they all live in the first
    * file(s) and the delete rewrites those alone (the spec asserts the
    * rest stay byte-identical).
    */
  private val DeletedKeys = Seq(7L, 8L, 42L)

  /** The targeted-delete lifecycle at rest, one per (session, sf dir):
    * documents written doc_id-range-partitioned + sorted (10 files),
    * then [[DeletedKeys]] erased via [[Maintenance.deleteWhere]] —
    * copy-on-write, only the files whose key range holds a hit are
    * rewritten. `q_targeted_delete` reads the post-delete layout.
    */
  private def deletedDocsLayout(s: SparkSession, dir: String): String =
    atRest(s, dir, "deletedDocsLayout", "docs_del") { p =>
      t(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .repartitionByRange(10, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(p)
      graft.ops.Maintenance.deleteWhere(s, p, "doc_id", DeletedKeys)
    }

  /** The transaction-log table lifecycle, one per (session, sf dir):
    * two appends (80% then 20% of documents), a logged copy-on-write
    * delete of [[DeletedKeys]], then compaction-as-commit — four
    * versions, every one still time-travel readable because commits
    * never touch existing data files. `q_timetravel` reads v1 (full
    * corpus, pre-delete) and head (post-delete, post-compaction) in
    * one result.
    */
  private def txlogTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogTable", "txtable") { p =>
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.append(s, p,
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
      graft.ops.TxLog.append(s, p,
        docs.filter(pmod(col("doc_id"), lit(5)) === 0))
      graft.ops.TxLog.deleteWhere(s, p, "doc_id", DeletedKeys)
      graft.ops.TxLog.compact(s, p, targetBytes = 16L << 20)
    }

  /** The merge-on-read delete lifecycle, one per (session, sf dir):
    * documents appended doc_id-range-clustered (8 files), then every
    * doc_id ≡ 3 (mod 19) erased via [[graft.ops.TxLog.deleteWhereDv]]
    * — ONE tiny deletion-vector sidecar committed, ZERO data files
    * rewritten (the scattered-delete shape where copy-on-write would
    * rewrite all 8 range files) — then compaction, which purges the
    * mask physically. `q_table_dv_delete` time-travels to the masked
    * dv version through the purge; `q_table_dv_cdc` diffs the dv
    * interval, whose FILE set is unchanged — the deletes are visible
    * only through the mask algebra.
    */
  private def txlogDvTable(s: SparkSession, dir: String): (String, Long) =
    ArtifactStore.getOrElseUpdate(s, dir, "txlogDvTable", {
      val p = s"${annTmp()}/txdv"
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.append(s, p,
        docs.repartitionByRange(8, col("doc_id"))
          .sortWithinPartitions("doc_id"))
      val keys = docs.filter(pmod(col("doc_id"), lit(19)) === 3)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      val dvV = graft.ops.TxLog.deleteWhereDv(s, p, "doc_id", keys)
      graft.ops.TxLog.compact(s, p, targetBytes = 16L << 20)
      (p, dvV)
    })

  /** A lang-clustered txlog table, one per (session, sf dir): one
    * append, range-partitioned + sorted on the STRING column `lang`,
    * so the commit's footer sweep records per-file string `[min,max]`
    * and a lang slice prunes to the overlapping files before any
    * listing or footer I/O — the category/language/date-partition
    * skipping shape. `q_table_skipping_str` reads the `de..en` slice.
    */
  private def txlogLangTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogLangTable", "txlang") { p =>
      graft.ops.TxLog.init(p)
      graft.ops.TxLog.append(s, p,
        t(s, dir, "documents").select("doc_id", "lang", "n_chars")
          .repartitionByRange(5, col("lang"), col("doc_id"))
          .sortWithinPartitions("lang", "doc_id"))
    }

  /** The null-skipping lifecycle, one per (session, sf dir): two
    * single-file appends of documents split by doc_id parity — the
    * EVEN file's `lang_opt` is entirely NULL, the ODD file's is fully
    * populated — so the commit footer sweep records per-file null
    * counts next to the `[min,max]` stats, and an `IS NOT NULL` read
    * prunes the all-null file (an `IS NULL` read prunes the other)
    * before any listing or footer I/O. `q_table_skipping_null` reads
    * the `IS NOT NULL` slice.
    */
  private[graft] def txlogNullTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogNullTable", "txnull") { p =>
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.append(s, p,
        docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          .withColumn("lang_opt", lit(null).cast("string"))
          .select("doc_id", "lang_opt", "n_chars").coalesce(1))
      graft.ops.TxLog.append(s, p,
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .withColumn("lang_opt", col("lang"))
          .select("doc_id", "lang_opt", "n_chars").coalesce(1))
    }

  /** The partitioned-table lifecycle, one per (session, sf dir): two
    * appends of documents (split by doc_id parity, 2 input tasks each)
    * HIVE-PARTITIONED on `lang` via [[graft.ops.TxLog.appendPartitioned]]
    * — files land under `data/lang=<v>/`, each commit records its
    * files' partition values in the log — then a copy-on-write delete
    * of [[DeletedKeys]] (whose rewrite outputs carry no partition
    * metadata: conservative reads, exercised deliberately).
    * `q_table_partitioned` reads the `lang = 'en'` partition with the
    * other partitions pruned FROM THE LOG before any listing (the spec
    * asserts the files-opened count).
    */
  private[graft] def txlogPartTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogPartTable", "txpart") { p =>
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.appendPartitioned(s, p,
        docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          .repartition(2, col("doc_id")), Seq("lang"))
      graft.ops.TxLog.appendPartitioned(s, p,
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .repartition(2, col("doc_id")), Seq("lang"))
      graft.ops.TxLog.deleteWhere(s, p, "doc_id", DeletedKeys)
      // partition-scoped OPTIMIZE (the Delta OPTIMIZE ... WHERE
      // shape): the fr partition compacts Z-ordered WITH its
      // partition metadata carried onto the outputs; every other
      // partition's files are untouched on disk
      graft.ops.TxLog.optimizePartition(s, p, Map("lang" -> "fr"),
        Seq("doc_id"), numFiles = 1)
    }

  /** The SQL-DML lifecycle, one per (session, sf dir): after a seed
    * append through the writer API (an empty table has no relation to
    * bind INSERT INTO against — documented edge), every mutation runs
    * in PURE SQL through the graft_table catalog: INSERT INTO
    * (residue-1, one append commit), INSERT OVERWRITE (residue-2, the
    * logged overwrite), INSERT INTO again (residue-0) — four
    * versions, each a real commit through the full constraint/stats/
    * schema machinery, the overwritten v1 still time-travel readable
    * FROM SQL. `q_table_sql_dml` reads head + v1 in one result.
    */
  private def txlogDmlTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogDmlTable", "txdml") { p =>
      graft.ops.TxLog.init(p)
      s.conf.set("spark.sql.catalog.graft_table",
        "graft.sources.GraftCatalog")
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .write.format("graft-table").mode("append").save(p) // v0
      docs.createOrReplaceTempView("graft_dml_src")
      s.sql(s"INSERT INTO graft_table.`$p` SELECT doc_id, lang, " +
        "n_chars FROM graft_dml_src WHERE doc_id % 3 = 1") // v1
      s.sql(s"INSERT OVERWRITE graft_table.`$p` SELECT doc_id, lang, " +
        "n_chars FROM graft_dml_src WHERE doc_id % 3 = 2") // v2
      s.sql(s"INSERT INTO graft_table.`$p` SELECT doc_id, lang, " +
        "n_chars FROM graft_dml_src WHERE doc_id % 3 = 0") // v3
    }

  /** The SQL-DELETE lifecycle, one per (session, sf dir): a
    * lang-clustered seed append through the writer (5 range files, so
    * the commit records per-file string `[min,max]`), then a pure-SQL
    * `DELETE FROM ... WHERE lang = 'fr' AND doc_id >= 100` through the
    * graft_table catalog — one copy-on-write commit
    * ([[graft.ops.TxLog.deleteWherePredicate]]) whose hit discovery
    * runs through the connector's own log-stats-pruned scan, so only
    * the fr-overlapping files rewrite (spec-asserted on this
    * lifecycle's own log); NULL-predicate rows survive by SQL DELETE
    * semantics, and the pre-delete state stays time-travel readable
    * FROM SQL. `q_table_sql_delete` reads head + the v0 fr slice in
    * one result.
    */
  private[graft] def txlogSqlDelTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogSqlDelTable", "txsqldel") { p =>
      graft.ops.TxLog.init(p)
      s.conf.set("spark.sql.catalog.graft_table",
        "graft.sources.GraftCatalog")
      t(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .repartitionByRange(5, col("lang"), col("doc_id"))
        .sortWithinPartitions("lang", "doc_id")
        .write.format("graft-table").mode("append").save(p) // v0
      s.sql(s"DELETE FROM graft_table.`$p` " +
        "WHERE lang = 'fr' AND doc_id >= 100") // v1
    }

  /** The SQL-UPDATE lifecycle, one per (session, sf dir): a
    * doc_id-range-clustered seed append (4 files) through the writer,
    * then a pure-SQL `UPDATE ... SET lang = 'up', n_chars = -n_chars
    * WHERE doc_id % 13 = 5` through the DSv2 row-level machinery —
    * ONE merge-on-read commit ([[graft.ops.TxLog.commitRowDelta]]):
    * the matched rows' physical (file, position) addresses become a
    * deletion-vector sidecar and the new images appended files, NO
    * live data file rewritten (spec-asserted on this lifecycle's own
    * log — the at-scale answer to a scattered UPDATE on 100 TB).
    * `q_table_sql_update` reads head + the intact v0 in one result.
    */
  private[graft] def txlogSqlUpdTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogSqlUpdTable", "txsqlupd") { p =>
      graft.ops.TxLog.init(p)
      s.conf.set("spark.sql.catalog.graft_table",
        "graft.sources.GraftCatalog")
      t(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.format("graft-table").mode("append").save(p) // v0
      s.sql(s"UPDATE graft_table.`$p` SET lang = 'up', " +
        "n_chars = -n_chars WHERE doc_id % 13 = 5") // v1
    }

  /** The SQL-MERGE lifecycle, one per (session, sf dir): the even
    * half of documents seeded through the writer, then one pure-SQL
    * `MERGE INTO` from the mod-3 residue re-langed 'mg' — matched
    * keys (doc_id ≡ 0 mod 6) update MERGE-ON-READ (masked + re-added,
    * no file rewritten), unmatched keys (odd multiples of 3) insert —
    * all in ONE commit through the delta row-level machinery.
    * `q_table_sql_merge` reads the diverged head.
    */
  private def txlogSqlMergeTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogSqlMergeTable", "txsqlmerge") { p =>
      graft.ops.TxLog.init(p)
      s.conf.set("spark.sql.catalog.graft_table",
        "graft.sources.GraftCatalog")
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .repartitionByRange(2, col("doc_id"))
        .write.format("graft-table").mode("append").save(p) // v0
      docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .withColumn("lang", lit("mg"))
        .createOrReplaceTempView("graft_sql_merge_src")
      s.sql(s"MERGE INTO graft_table.`$p` t " +
        "USING graft_sql_merge_src s ON t.doc_id = s.doc_id " +
        "WHEN MATCHED THEN UPDATE SET t.lang = s.lang " +
        "WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars) " +
        "VALUES (s.doc_id, s.lang, s.n_chars)") // v1
    }

  /** The SQL-CALL maintenance lifecycle, one per (session, sf dir):
    * seed append (v0, 4 files), merge-on-read delete of doc_id ≡ 2
    * (mod 7) (v1), then the whole maintenance ladder in PURE SQL
    * through `CALL graft_table.system.*` — purge_masks (v2, the
    * masked files rewrite without their masked rows), optimize (v3,
    * Z-order to 2 files), restore to the dv version (v4, pure
    * metadata, same rows) — then a SQL DELETE of the de rows (v5),
    * and finally CALL checkpoint + CALL vacuum(retain_from => 3),
    * which TRUNCATES v0–v2: the surviving reads go through the
    * vacuum checkpoint's carried state. `q_table_sql_maintenance`
    * reads head + VERSION AS OF 3 in one result — the time travel
    * lands on a post-truncation version resolved from the
    * checkpoint carry.
    */
  private def txlogSqlMaintTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogSqlMaintTable", "txsqlmaint") { p =>
      graft.ops.TxLog.init(p)
      s.conf.set("spark.sql.catalog.graft_table",
        "graft.sources.GraftCatalog")
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      docs.repartition(4, col("doc_id"))
        .write.format("graft-table").mode("append").save(p) // v0
      val keys = docs.filter(pmod(col("doc_id"), lit(7)) === 2)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      graft.ops.TxLog.deleteWhereDv(s, p, "doc_id", keys) // v1
      s.sql(s"CALL graft_table.system.purge_masks(table => '$p', " +
        "min_fraction => 0.01)") // v2
      s.sql(s"CALL graft_table.system.optimize(table => '$p', " +
        "zorder_by => 'doc_id', num_files => 2)") // v3
      s.sql(s"CALL graft_table.system.restore(table => '$p', " +
        "version => 1)") // v4
      s.sql(s"DELETE FROM graft_table.`$p` WHERE lang = 'de'") // v5
      s.sql(s"CALL graft_table.system.checkpoint(table => '$p')")
      // force: the fixture's commits are seconds old, which the
      // default retention window (correctly) refuses to truncate —
      // this bench row exercises the reclamation path itself
      s.sql(s"CALL graft_table.system.vacuum(table => '$p', " +
        "retain_from => 3, force => true)")
    }

  /** The SQL schema-evolution lifecycle, one per (session, sf dir):
    * the even docs seeded through the writer (v0), then pure-SQL
    * `ALTER TABLE ... ADD COLUMN quality BIGINT` — ONE data-free
    * metadata commit recording the widened schema in the log
    * ([[graft.ops.TxLog.addColumns]]; at 100 TB adding a column must
    * cost one KB-scale log write, never a data pass) — then a SQL
    * INSERT supplying the new column (v2). `q_table_sql_alter` reads
    * the head: pre-evolution rows surface quality = NULL (the
    * evolution contract), inserted rows their values.
    */
  private def txlogSqlAlterTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogSqlAlterTable", "txsqlalter") { p =>
      graft.ops.TxLog.init(p)
      s.conf.set("spark.sql.catalog.graft_table",
        "graft.sources.GraftCatalog")
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .write.format("graft-table").mode("append").save(p) // v0
      s.sql(s"ALTER TABLE graft_table.`$p` ADD COLUMN quality BIGINT") // v1
      docs.createOrReplaceTempView("graft_sql_alter_src")
      s.sql(s"INSERT INTO graft_table.`$p` SELECT doc_id, lang, " +
        "n_chars, n_chars % 100 AS quality " +
        "FROM graft_sql_alter_src WHERE doc_id % 2 = 1") // v2
    }

  /** The PRUNED-PLANNING lifecycle, one per (session, sf dir): an
    * 8-range-file doc_id layout, a COLUMNAR checkpoint (per-file
    * state in the parquet sidecar), then a deletion-vector delete of
    * the five smallest ids as the post-checkpoint suffix.
    * `q_table_pruned_scan` reads it with the prune threshold lowered
    * to 4, so the relation plans through
    * [[graft.sources.GraftPrunedFileIndex]] — the million-file path
    * (live set STREAMED from the sidecar, suffix folded on top, DV
    * masks applied) — oracle-checked end-to-end every round.
    */
  private def txlogPrunedTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogPrunedTable", "txpruned") { p =>
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.append(s, p,
        docs.orderBy("doc_id").repartitionByRange(8, col("doc_id"))) // v0
      graft.ops.TxLog.checkpoint(p) // columnar sidecar at v0
      val victims = docs.select("doc_id").orderBy("doc_id").limit(5)
        .collect().map(_.getLong(0)).toSeq
      graft.ops.TxLog.deleteWhereDv(s, p, "doc_id", victims) // v1 suffix
    }

  /** The COLUMN-MAPPING lifecycle, one per (session, sf dir): all
    * docs seeded through the writer (v0), then pure-SQL
    * `RENAME COLUMN n_chars TO body_chars` (v1) and
    * `DROP COLUMN lang` (v2) — each ONE data-free metadata commit
    * ([[graft.ops.TxLog.renameColumn]]/[[graft.ops.TxLog.dropColumns]]:
    * the logical name changes or leaves; the PHYSICAL parquet name in
    * the immutable files stays — the 100 TB rename) — then a SQL
    * INSERT under the mapped shape (v3) and a RE-ADD of the dropped
    * name (v4: fresh physical name, so the dropped column's stored
    * bytes can never resurface). `q_table_sql_colmap` reads the head
    * (old values under the new name, re-added `lang` NULL everywhere)
    * UNION the v0 time travel (the original names — the mapping is
    * per-version).
    */
  private def txlogSqlColmapTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogSqlColmapTable", "txsqlcolmap") { p =>
      graft.ops.TxLog.init(p)
      s.conf.set("spark.sql.catalog.graft_table",
        "graft.sources.GraftCatalog")
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .write.format("graft-table").mode("append").save(p) // v0
      s.sql(s"ALTER TABLE graft_table.`$p` " +
        "RENAME COLUMN n_chars TO body_chars") // v1
      s.sql(s"ALTER TABLE graft_table.`$p` DROP COLUMN lang") // v2
      docs.createOrReplaceTempView("graft_sql_colmap_src")
      s.sql(s"INSERT INTO graft_table.`$p` SELECT doc_id, " +
        "n_chars AS body_chars FROM graft_sql_colmap_src " +
        "WHERE doc_id % 2 = 1") // v3
      s.sql(s"ALTER TABLE graft_table.`$p` ADD COLUMN lang STRING") // v4
    }

  /** The TYPE-WIDENING lifecycle, one per (session, sf dir): the even
    * docs seeded with `nc` as INT (v0), pure-SQL
    * `ALTER COLUMN nc TYPE BIGINT` (v1 — ONE data-free metadata
    * commit: the int32 parquet files stay, the logical type widens,
    * reads upcast per file inside the parquet scan), then a SQL
    * INSERT of values only a BIGINT can hold (v2). `q_table_sql_
    * colwiden` reads the head (both widths coexisting) UNION the v0
    * time travel (its own INT schema, cast for the union).
    */
  private def txlogWidenTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogWidenTable", "txwiden") { p =>
      graft.ops.TxLog.init(p)
      s.conf.set("spark.sql.catalog.graft_table",
        "graft.sources.GraftCatalog")
      val docs = t(s, dir, "documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("int").as("nc"))
      docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .write.format("graft-table").mode("append").save(p) // v0 (int)
      s.sql(s"ALTER TABLE graft_table.`$p` " +
        "ALTER COLUMN nc TYPE BIGINT") // v1
      docs.createOrReplaceTempView("graft_sql_widen_src")
      s.sql(s"INSERT INTO graft_table.`$p` SELECT doc_id, lang, " +
        "CAST(nc AS BIGINT) + 3000000000 AS nc " +
        "FROM graft_sql_widen_src WHERE doc_id % 2 = 1") // v2 (long)
    }

  /** The HIDDEN-PARTITION-TRANSFORM lifecycle, one per (session, sf
    * dir): the even half of `events` seeded through
    * [[graft.ops.TxLog.appendTransformPartitioned]] under
    * `days(ts) + bucket(8, user_id)` (v0 — the derived values
    * partition the layout but never appear in the logical schema),
    * then the odd half through SQL `INSERT INTO` (v1 — the catalog
    * write path re-derives the hidden layout). The input is
    * pre-partitioned by day so each (day, bucket) directory gets ~one
    * file — the shape whose per-file stats make BOTH rewrites
    * selective. `q_table_hidden_partition` filters on the SOURCE
    * columns only (a ts window; a user_id point probe): the planner
    * rewrites those into hidden partition-value predicates at
    * file-skipping time ([[graft.ops.PartitionTransforms]]), and the
    * oracle replays the same SQL over the raw `events` table.
    */
  private def txlogHiddenPartTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogHiddenPartTable", "txhiddenpart") { p =>
      graft.ops.TxLog.init(p)
      s.conf.set("spark.sql.catalog.graft_table",
        "graft.sources.GraftCatalog")
      val evs = graft.sources.Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type")
      graft.ops.TxLog.appendTransformPartitioned(s, p,
        evs.filter(pmod(col("event_id"), lit(2)) === 0)
          .repartition(8, to_date(col("ts"))),
        Seq("days(ts)", "bucket(8,user_id)")) // v0
      evs.createOrReplaceTempView("graft_hidden_part_src")
      s.sql(s"INSERT INTO graft_table.`$p` SELECT event_id, ts, " +
        "user_id, event_type " +
        "FROM graft_hidden_part_src WHERE event_id % 2 = 1") // v1
    }

  /** The RETENTION-CLAMPED vacuum lifecycle, one per (session, sf
    * dir): all docs seeded (v0), a deletion-vector delete of the
    * mod-10 keys (v1), then a NON-forced `vacuum(retainFrom = tip)` —
    * every commit is seconds old, so the 7-day retention window
    * CLAMPS the truncation floor back to v0 (WARN, checkpoint at the
    * clamped floor, nothing a pinned reader could lose).
    * `q_table_purge_clamped` reads the head UNION the v0 time travel
    * the clamp preserved — the safe-by-default reclamation path,
    * bench-visible every round (q_table_purge exercises the forced
    * path).
    */
  private def txlogVacClampTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogVacClampTable", "txvacclamp") { p =>
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.append(s, p, docs.coalesce(2)) // v0
      val keys = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      graft.ops.TxLog.deleteWhereDv(s, p, "doc_id", keys) // v1
      val tip = graft.ops.TxLog.versions(p).max
      graft.ops.TxLog.vacuum(p, retainFrom = tip): Unit // clamps to v0
    }

  /** The split-read lifecycle, one per (session, sf dir): a 4-file
    * doc_id-range layout with a deletion-vector delete of the FIVE
    * SMALLEST doc_ids — the mask lands entirely in file 1, so the
    * connector read exercises [[graft.sources.MaskedTableSplit]]
    * every round: the three clean files take the stock COLUMNAR
    * parquet path, only the masked file pays the row-filter reader
    * (the RoundThirty spec asserts the plan shape; this row pins the
    * semantics through the oracle).
    */
  private def txlogDvSplitTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogDvSplitTable", "txdvsplit") { p =>
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.append(s, p,
        docs.repartitionByRange(4, col("doc_id"))
          .sortWithinPartitions("doc_id")) // v0
      val victims = docs.select("doc_id").orderBy("doc_id").limit(5)
        .collect().map(_.getLong(0)).toSeq
      graft.ops.TxLog.deleteWhereDv(s, p, "doc_id", victims) // v1
    }

  /** The partitioned SQL-UPDATE lifecycle, one per (session, sf dir):
    * a lang-partitioned seed ([[graft.ops.TxLog.appendPartitioned]] —
    * partition values in the log), then a pure-SQL UPDATE of ONE
    * partition. The merge-on-read commit re-stages its insert images
    * through the hive-layout writer, so the new files are
    * partition-pure with values RE-RECORDED — partition pruning stays
    * exact and bounded across the mutation, and the recorded values
    * are what lets a concurrent UPDATE of a DIFFERENT partition land
    * without a conflict (the optimistic-concurrency scope).
    * `q_table_sql_update_part` reads the head.
    */
  private def txlogSqlUpdPartTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogSqlUpdPartTable", "txsqlupdpart") { p =>
      graft.ops.TxLog.init(p)
      s.conf.set("spark.sql.catalog.graft_table",
        "graft.sources.GraftCatalog")
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.appendPartitioned(s, p,
        docs.repartition(2, col("doc_id")), Seq("lang")) // v0
      s.sql(s"UPDATE graft_table.`$p` SET n_chars = -n_chars " +
        "WHERE lang = 'en'") // v1
    }

  /** The batch-writer lifecycle, one per (session, sf dir), driven
    * ENTIRELY through the DataFrameWriter surface: an append commit
    * (residue-0 docs), an atomic INSERT OVERWRITE replacing the live
    * set (residue-1), then another append (residue-2) — three
    * versions, the overwritten v0 still time-travel readable.
    * `q_table_overwrite` reads head + v0 in one result.
    */
  private def txlogWriteTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogWriteTable", "txwrite") { p =>
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .write.format("graft-table").mode("append").save(p)
      docs.filter(pmod(col("doc_id"), lit(3)) === 1)
        .write.format("graft-table").mode("overwrite").save(p)
      docs.filter(pmod(col("doc_id"), lit(3)) === 2)
        .write.format("graft-table").mode("append").save(p)
    }

  /** The shallow-clone branch, one per (session, sf dir): the dv
    * table cloned ZERO-COPY at its dv version (the clone's v0 just
    * references the source's files + mask — its own data dir starts
    * empty), then a MERGE on the clone updates lang for doc_id ≡ 1
    * (mod 31) — matched keys rewrite INTO the clone's root, dv-deleted
    * keys in that residue re-enter as appends, and the SOURCE is never
    * touched. `q_table_clone` reads the diverged branch head.
    */
  private def txlogCloneTable(s: SparkSession, dir: String): String =
    ArtifactStore.getOrElseUpdate(s, dir, "txlogCloneTable", {
      val (src, dvV) = txlogDvTable(s, dir)
      val p = s"${annTmp()}/txclone"
      graft.ops.TxLog.clone(s, src, p, Some(dvV))
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.upsert(s, p,
        docs.filter(pmod(col("doc_id"), lit(31)) === 1)
          .withColumn("lang", lit("cl")), "doc_id")
      p
    })

  /** The mask-purge lifecycle, one per (session, sf dir): two
    * single-file appends split by doc_id parity, every doc_id ≡ 0
    * (mod 10) erased merge-on-read (masking ~20% of the EVEN file,
    * nothing in the odd one), then [[graft.ops.TxLog.purgeMasks]] at
    * threshold 0.1 — the heavily masked file rewrites without its
    * masked rows, the odd file stays byte-identical, the mask
    * retires. `q_table_purge` reads the purged head.
    */
  private def txlogPurgeTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogPurgeTable", "txpurge") { p =>
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.append(s, p,
        docs.filter(pmod(col("doc_id"), lit(2)) === 0).coalesce(1))
      graft.ops.TxLog.append(s, p,
        docs.filter(pmod(col("doc_id"), lit(2)) === 1).coalesce(1))
      val keys = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      graft.ops.TxLog.deleteWhereDv(s, p, "doc_id", keys)
      val v = graft.ops.TxLog.purgeMasks(s, p, minFraction = 0.1)
      require(v.nonEmpty, "purge lifecycle: threshold crossed by design")
    }

  /** The RESTORE lifecycle, one per (session, sf dir): documents
    * appended range-clustered (v0), doc_id ≡ 5 (mod 23) erased
    * merge-on-read (v1), doc_id ≡ 7 (mod 23) erased copy-on-write
    * (v2 — rewrites retire part of v1's mask coverage), compaction
    * (v3 — retires the rest), then RESTORE TO v1 (v4): the original
    * files come back and v1's deletion-vector mask is REPUBLISHED,
    * all pure metadata. `q_table_restore` reads the restored head
    * (the copy-on-write delete and the compaction are undone, the dv
    * delete is back in force); `q_table_restore_cdc` diffs the
    * restore interval — exactly the copy-on-write-deleted rows
    * return as inserts.
    */
  private def txlogRestoreTable(s: SparkSession, dir: String)
      : (String, Long) =
    ArtifactStore.getOrElseUpdate(s, dir, "txlogRestoreTable", {
      val p = s"${annTmp()}/txrestore"
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.append(s, p,
        docs.repartitionByRange(8, col("doc_id"))
          .sortWithinPartitions("doc_id"))
      def keysMod(r: Long) = docs
        .filter(pmod(col("doc_id"), lit(23)) === r)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      val dvV = graft.ops.TxLog.deleteWhereDv(s, p, "doc_id", keysMod(5))
      graft.ops.TxLog.deleteWhere(s, p, "doc_id", keysMod(7))
      graft.ops.TxLog.compact(s, p, targetBytes = 16L << 20)
      val rv = graft.ops.TxLog.restore(s, p, dvV)
      (p, rv)
    })

  /** The logged-MERGE lifecycle, one per (session, sf dir): documents
    * appended key-clustered (range layout, so the merge's stats-pruned
    * hit discovery touches few files), then one [[graft.ops.TxLog
    * .upsert]] commit (10% of keys updated in place + 2% new keys
    * appended), then an `OPTIMIZE ZORDER` commit — which must be
    * logically invisible, so `q_txlog_merge`'s oracle pins the merge
    * AND the optimize in one read.
    */
  private def txlogMergeTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogMergeTable", "txmerge") { p =>
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.append(s, p,
        docs.repartitionByRange(8, col("doc_id"))
          .sortWithinPartitions("doc_id"))
      val updates = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
        .withColumn("lang", lit("xx"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(50)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            lit("new").as("lang"), col("n_chars")))
      graft.ops.TxLog.upsert(s, p, updates, "doc_id")
      graft.ops.TxLog.optimize(s, p, Seq("doc_id"), numFiles = 4)
    }

  /** Streamed consumption of a txlog table, one per (session, sf dir):
    * what a downstream pipeline actually RECEIVES from the
    * `graft-table` streaming source, landed as two parquet feeds.
    *
    * `feed_append` (append-only consumer, attached from v0): initial
    * snapshot, two incremental appends, and a compaction interval in
    * the middle that must contribute ZERO rows — exactly-once is in
    * the oracle hash, a re-emitted row would flip it. The consumer
    * detaches before any data-changing commit.
    *
    * `feed_cdc` (cdc consumer, `startingVersion=0`,
    * `maxVersionsPerTrigger=1` so every commit is its own
    * micro-batch): replays the WHOLE lifecycle including the
    * copy-on-write delete — the change feed carries each slice's
    * inserts exactly once plus exactly the deleted rows as deletes.
    */
  private def txlogStreamFeeds(s: SparkSession, dir: String): String =
    ArtifactStore.getOrElseUpdate(s, dir, "txlogStreamFeeds", {
      val root = annTmp()
      val table = s"$root/table"
      graft.ops.TxLog.init(table)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      def slice(k: Int) = docs.filter(pmod(col("doc_id"), lit(4)) === k)
      // the CHECK gate is load-bearing on every commit below (and the
      // cdc replay proves a metadata-only version 0 is a clean empty
      // batch, not an error)
      graft.ops.TxLog.addConstraint(s, table, "doc_id_present",
        "doc_id IS NOT NULL AND n_chars >= 0")                      // v0
      graft.ops.TxLog.append(s, table, slice(0))                    // v1
      val qA = s.readStream.format("graft-table").load(table)
        .writeStream.format("parquet")
        .option("path", s"$root/feed_append")
        .option("checkpointLocation", s"$root/ckpt_append").start()
      try {
        qA.processAllAvailable()
        graft.ops.TxLog.append(s, table, slice(1))                  // v2
        qA.processAllAvailable()
        graft.ops.TxLog.compact(s, table, targetBytes = 16L << 20)  // v3
        qA.processAllAvailable()
        graft.ops.TxLog.append(s, table, slice(2))                  // v4
        qA.processAllAvailable()
      } finally qA.stop()
      // data-changing commits land AFTER the append-only consumer
      // detached (it would — correctly — refuse them)
      graft.ops.TxLog.deleteWhere(s, table, "doc_id", DeletedKeys)  // v5
      graft.ops.TxLog.append(s, table, slice(3))                    // v6
      val qC = s.readStream.format("graft-table")
        .option("cdc", "true").option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1").load(table)
        .writeStream.format("parquet")
        .option("path", s"$root/feed_cdc")
        .option("checkpointLocation", s"$root/ckpt_cdc").start()
      try qC.processAllAvailable() finally qC.stop()
      root
    })

  /** A txlog lifecycle with a file-count-deterministic layout (every
    * stage coalesced), one per (session, sf dir) — the table behind
    * `q_table_history`, whose ledger (op, file counts, footer-exact
    * row stats) is read back through the `graft-table-history`
    * DataSource V2 connector. Deleted keys are all ≡0 mod 3, so the
    * delete's copy-on-write rewrite hits exactly v0's one file.
    */
  private def txlogHistoryTable(s: SparkSession, dir: String): String =
    atRest(s, dir, "txlogHistoryTable", "txhist") { p =>
      graft.ops.TxLog.init(p)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxLog.append(s, p,
        docs.filter(pmod(col("doc_id"), lit(3)) === 0).coalesce(1))  // v0
      graft.ops.TxLog.append(s, p,
        docs.filter(pmod(col("doc_id"), lit(3)) === 1).coalesce(1))  // v1
      graft.ops.TxLog.deleteWhere(s, p, "doc_id", Seq(3L, 9L, 27L))  // v2
      graft.ops.TxLog.compact(s, p, targetBytes = 1L << 30)          // v3
      graft.ops.TxLog.optimize(s, p, Seq("doc_id"), numFiles = 2)    // v4
    }

  /** The oracle of `q_table_dv_split`; by design also the oracle of
    * `q_table_pruned_scan`.
    */
  // the split-read lifecycle's semantics: everything but the five
  // smallest doc_ids (doc_id is unique and non-null)
  private val PrunedScanOracle: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id NOT IN (
      |  SELECT doc_id FROM documents ORDER BY doc_id LIMIT 5)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // SCD-1 MERGE INTO as one full outer join: update, delete, and
    // insert rows applied to a snapshot in a single pass. The change
    // batch is derived deterministically from customer so every merge
    // case occurs
    QuerySpec("q_upsert", (s, dir) => {
      val c = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      val changes =
        c.filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), col("c_name"),
            (col("c_acctbal") + 100.0).as("c_acctbal"),
            lit(false).as("_deleted"))
        .unionByName(c.filter(col("c_custkey") % 10 === 1)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            lit(true).as("_deleted")))
        .unionByName(c.filter(col("c_custkey") % 10 === 2)
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            concat(lit("copy of "), col("c_name")).as("c_name"),
            lit(0.0).as("c_acctbal"), lit(false).as("_deleted")))
      Maintenance.upsert(c, changes, Seq("c_custkey"))
    },
      oracle = """WITH c AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |ch AS (
        |  SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal,
        |         false AS del
        |  FROM c WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal, true FROM c
        |  WHERE c_custkey % 10 = 1
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'copy of ' || c_name, 0.0, false
        |  FROM c WHERE c_custkey % 10 = 2)
        |SELECT coalesce(ch.c_custkey, c.c_custkey) AS c_custkey,
        |       CASE WHEN ch.c_custkey IS NOT NULL THEN ch.c_name
        |            ELSE c.c_name END AS c_name,
        |       CASE WHEN ch.c_custkey IS NOT NULL THEN ch.c_acctbal
        |            ELSE c.c_acctbal END AS c_acctbal
        |FROM c FULL OUTER JOIN ch ON c.c_custkey = ch.c_custkey
        |WHERE NOT coalesce(ch.del, false)""".stripMargin),
    // data-quality audit: per-column row/null/distinct counts + string
    // min/max in one pass (ints/dates/strings only — float rendering
    // is engine-specific)
    QuerySpec("q_profile", (s, dir) =>
      Maintenance.profile(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_shipdate", "l_returnflag")),
      oracle = {
        val cols = Seq("l_orderkey", "l_linenumber", "l_shipdate", "l_returnflag")
        cols.map { c =>
          s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n,
             |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS min_val,
             |  CAST(max($c) AS VARCHAR) AS max_val
             |FROM lineitem""".stripMargin
        }.mkString("\nUNION ALL\n")
      }),
    // Z-order (Morton) key over two join/filter dimensions — the
    // multi-dim clustering key Maintenance.zorderLayout writes by.
    // Oracle-checked per row; the layout itself (range partition +
    // in-file sort + footer-stats pruning) is asserted in a spec
    QuerySpec("q_zorder", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))
        .withColumn("zkey", Maintenance.zorderKey(
          pmod(col("l_partkey"), lit(65536L)),
          pmod(col("l_suppkey"), lit(65536L)))),
      oracle = {
        // per-row 16-bit interleave spelled out as shift/mask terms (no
        // grouping: lineitem rows are not unique on any short key)
        val terms = (0 until 16).flatMap { i => Seq(
          s"((((l_partkey % 65536) >> $i) & 1) << ${2 * i + 1})",
          s"((((l_suppkey % 65536) >> $i) & 1) << ${2 * i})")
        }
        s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           |  CAST(${terms.mkString(" + ")} AS BIGINT) AS zkey
           |FROM lineitem""".stripMargin
      }),
    // targeted-rewrite delete (GDPR erasure): three doc_ids removed
    // from the doc_id-range-partitioned layout by rewriting ONLY the
    // file(s) whose key range holds them ([[Maintenance.deleteWhere]],
    // copy-on-write) — the entry reads the post-delete table, so the
    // oracle's NOT IN asserts both halves: the keys are gone AND every
    // other row survived the swap untouched. The physical claim (hit
    // discovery stats-pruned, untouched files byte-identical) is
    // spec-asserted on the same layout
    QuerySpec("q_targeted_delete", (s, dir) =>
      s.read.parquet(deletedDocsLayout(s, dir))
        .select("doc_id", "lang", "n_chars"),
      // survivors of the copy-on-write erase — NOT IN checks both the
      // removal and the untouched remainder
      oracle = """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id NOT IN (7, 8, 42)""".stripMargin),
    // transaction-log table: one result spanning two snapshots of the
    // SAME at-rest table — v1 (time travel: the full pre-delete
    // corpus, still readable because the logged delete removed files
    // from the LOG, not the disk) and head (after the copy-on-write
    // delete and a compaction commit, which must be logically
    // invisible). The oracle's two branches pin both
    // both snapshots read through the graft-table DSv1 connector (the
    // Delta shape: HadoopFsRelation over a log-backed FileIndex) —
    // versionAsOf pins the pre-delete version, the head read resolves
    // the tip; same rows as the TxLog.snapshot API, same oracle
    QuerySpec("q_timetravel", (s, dir) => {
      val p = txlogTable(s, dir)
      s.read.format("graft-table").option("versionAsOf", "1").load(p)
        .select("doc_id").withColumn("snap", lit("v1"))
        .unionByName(
          s.read.format("graft-table").load(p)
            .select("doc_id").withColumn("snap", lit("head")))
    },
      // v1 = pre-delete corpus via time travel; head = post-delete,
      // post-compaction (the compaction commit must not move a row)
      oracle = """SELECT doc_id, 'v1' AS snap FROM documents
        |UNION ALL
        |SELECT doc_id, 'head' AS snap FROM documents
        |WHERE doc_id NOT IN (7, 8, 42)""".stripMargin),
    // merge-on-read delete: every doc_id ≡ 3 (mod 19) is gone from the
    // read, but the commit wrote only a (file, row-position) sidecar —
    // zero data files rewritten (the spec asserts byte-identity; at
    // 100 TB this is the difference between a KB and rewriting every
    // file a scattered delete touches). The read is a time travel TO
    // the dv version through a later compaction that purged the mask —
    // so it also pins that purge left history intact
    // read through the graft-table connector at the dv version: the
    // mask is applied INSIDE the parquet scan (row-index based, no
    // plan rewrite) — the oracle pins merge-on-read semantics through
    // the connector's own read path every round
    QuerySpec("q_table_dv_delete", (s, dir) => {
      val (p, dvV) = txlogDvTable(s, dir)
      s.read.format("graft-table")
        .option("versionAsOf", dvV.toString).load(p)
        .select("doc_id", "lang", "n_chars")
    },
      // the masked snapshot: everything except the dv-deleted residue
      // class — independent of how the mask is stored or purged
      oracle = """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 19 <> 3""".stripMargin),
    // CDC over the dv interval: the file set did NOT change (that is
    // the point of merge-on-read), so the deletes are visible only
    // through the mask diff — newly masked positions joined back to
    // their rows. Exactly the deleted keys, no inserts
    QuerySpec("q_table_dv_cdc", (s, dir) => {
      val (p, dvV) = txlogDvTable(s, dir)
      graft.ops.TxLog.changesBetween(s, p, dvV - 1, dvV)
        .select("doc_id", "lang", "n_chars", "change")
    },
      // the dv interval's change feed: exactly the masked keys as
      // deletes, nothing inserted
      oracle = """SELECT doc_id, lang, n_chars, 'delete' AS change FROM documents
        |WHERE doc_id % 19 = 3""".stripMargin),
    // data skipping on a STRING column from the log's recorded
    // per-file [min,max]: the lang-clustered layout serves the de..en
    // slice from the overlapping files only, pruned before any
    // listing or footer I/O (the spec asserts the file count; the
    // oracle pins the row semantics)
    // the same slice as an ORDINARY filter on the connector read: the
    // GraftFileIndex prunes files from the log's recorded per-file
    // string [min,max] at plan time — no snapshotSliceStr call, the
    // user predicate alone drives the skipping (spec asserts the file
    // count on this entry's own plan)
    QuerySpec("q_table_skipping_str", (s, dir) =>
      s.read.format("graft-table").load(txlogLangTable(s, dir))
        .filter(col("lang") >= "de" && col("lang") <= "en")
        .select("doc_id", "lang", "n_chars"),
      // the string slice's semantics, independent of which files were
      // pruned (ASCII-only values, so DuckDB's and Spark's string
      // orders agree)
      oracle = """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang >= 'de' AND lang <= 'en'""".stripMargin),
    // IS NOT NULL data skipping from the log's per-file null counts
    // (recorded in the same commit footer sweep as the [min,max]
    // stats): the all-null file cannot serve a single row and is
    // pruned before any listing or footer I/O — the spec asserts the
    // single input file, the oracle pins the row semantics
    QuerySpec("q_table_skipping_null", (s, dir) =>
      graft.ops.TxLog.snapshotSliceNull(s, txlogNullTable(s, dir),
          "lang_opt", isNull = false)
        .select("doc_id", "lang_opt", "n_chars"),
      // the IS NOT NULL slice's semantics: exactly the odd-parity rows
      // (the even file's lang_opt is entirely NULL and contributes
      // nothing, pruned or not)
      oracle = """SELECT doc_id, lang AS lang_opt, n_chars FROM documents
        |WHERE doc_id % 2 = 1""".stripMargin),
    // hive-partitioned txlog table read THROUGH THE CONNECTOR: an
    // ordinary .filter(lang = 'en') on format("graft-table"), with
    // every other partition pruned by the GraftFileIndex from the
    // LOG's recorded per-file partition values before any listing —
    // no snapshotPartition call, the user predicate alone drives the
    // pruning. The copy-on-write delete's rewrite outputs carry no
    // partition metadata and are conservatively read (their footer
    // lang [min,max] may still prune them; the predicate re-applies;
    // the spec asserts the files-opened bounds on this entry's own
    // plan, the oracle pins the rows)
    QuerySpec("q_table_partitioned", (s, dir) =>
      s.read.format("graft-table").load(txlogPartTable(s, dir))
        .filter(col("lang") === "en")
        .select("doc_id", "lang", "n_chars"),
      // the partition slice's semantics: the 'en' rows minus the
      // targeted-delete keys, independent of which files were pruned
      oracle = """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'en' AND doc_id NOT IN (7, 8, 42)""".stripMargin),
    // the batch WRITE surface: append / atomic INSERT OVERWRITE /
    // append through df.write.format("graft-table"), read back with
    // the overwritten v0 still time-travel readable — one result pins
    // the whole writer lifecycle
    // partition-scoped OPTIMIZE, read through the connector: the fr
    // partition was compacted Z-ordered with its partition metadata
    // re-recorded on the output, so an ordinary .filter(lang = 'fr')
    // prunes to (about) the one rewritten file from the log alone —
    // and must see exactly the same rows as before the maintenance
    QuerySpec("q_table_optimize_part", (s, dir) =>
      s.read.format("graft-table").load(txlogPartTable(s, dir))
        .filter(col("lang") === "fr")
        .select("doc_id", "lang", "n_chars"),
      // the fr partition after its scoped optimize: same rows as any
      // time (the maintenance is logically a no-op), minus the
      // targeted-delete keys
      oracle = """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'fr' AND doc_id NOT IN (7, 8, 42)""".stripMargin),
    QuerySpec("q_table_overwrite", (s, dir) => {
      val p = txlogWriteTable(s, dir)
      s.read.format("graft-table").load(p)
        .select("doc_id", "lang", "n_chars").withColumn("snap", lit("head"))
        .unionByName(
          s.read.format("graft-table").option("versionAsOf", "0").load(p)
            .select("doc_id", "lang", "n_chars")
            .withColumn("snap", lit("v0")))
    },
      // the writer lifecycle's semantics: head = the overwrite's
      // residue-1 rows plus the later residue-2 append; v0 = the
      // overwritten residue-0 append, intact under time travel
      oracle = """SELECT doc_id, lang, n_chars, 'head' AS snap FROM documents
        |WHERE doc_id % 3 <> 0
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'v0' AS snap FROM documents
        |WHERE doc_id % 3 = 0""".stripMargin),
    // the SQL SURFACE of the table: PURE SQL end to end — the
    // `USING graft-table` DDL binds the table through the connector's
    // RelationProvider (versionAsOf time travel included — spec), and
    // the SELECT's WHERE plans through the SAME GraftFileIndex,
    // pruning files from the log's recorded per-file string [min,max]
    // exactly like the DataFrame path (spec-asserted on this entry's
    // own executed plan). Direct `format`.`path` queries are a
    // file-source-only Spark feature; the DDL route is the V1
    // connector's SQL front door
    QuerySpec("q_table_sql", (s, dir) => {
      val p = txlogLangTable(s, dir)
      s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_lang_table " +
        s"USING `graft-table` OPTIONS (path '$p')")
      s.sql("SELECT doc_id, lang, n_chars FROM graft_lang_table " +
        "WHERE lang = 'en'")
    },
      // the SQL-by-path read is the whole single-append table filtered
      // to one language — pruning is the plan's business, not the rows'
      oracle = """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'en'""".stripMargin),
    // the WHOLE mutation lifecycle in pure SQL through the DSv2
    // catalog: INSERT INTO commits, INSERT OVERWRITE is the logged
    // overwrite, and the overwritten state time-travels back via
    // VERSION AS OF — head (residues 2 and 0) + v1 (residues 0 and 1)
    // in one result, every mutation a real commit through the log
    QuerySpec("q_table_sql_dml", (s, dir) => {
      val p = txlogDmlTable(s, dir)
      s.sql(s"SELECT doc_id, lang, n_chars, 'head' AS snap " +
        s"FROM graft_table.`$p` " +
        "UNION ALL " +
        "SELECT doc_id, lang, n_chars, 'v1' AS snap " +
        s"FROM graft_table.`$p` VERSION AS OF 1")
    },
      // the SQL DML lifecycle's semantics: head = the INSERT OVERWRITE's
      // residue-2 rows plus the later residue-0 INSERT; v1 = the seed
      // append plus the first INSERT, intact under SQL time travel
      oracle = """SELECT doc_id, lang, n_chars, 'head' AS snap FROM documents
        |WHERE doc_id % 3 <> 1
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'v1' AS snap FROM documents
        |WHERE doc_id % 3 <> 2""".stripMargin),
    // SQL UPDATE through the catalog: one MERGE-ON-READ commit — the
    // matched rows masked by physical (file, pos), the new images
    // appended, zero live files rewritten (spec) — with the pre-update
    // state still time-travel readable from SQL
    QuerySpec("q_table_sql_update", (s, dir) => {
      val p = txlogSqlUpdTable(s, dir)
      s.sql(s"SELECT doc_id, lang, n_chars, 'head' AS snap " +
        s"FROM graft_table.`$p` " +
        "UNION ALL " +
        "SELECT doc_id, lang, n_chars, 'v0' AS snap " +
        s"FROM graft_table.`$p` VERSION AS OF 0")
    },
      // the SQL UPDATE lifecycle's semantics: head = the mod-13
      // residue-5 rows re-langed and negated, everything else intact;
      // v0 = the seed, intact under SQL time travel
      oracle = """SELECT doc_id,
        |       CASE WHEN doc_id % 13 = 5 THEN 'up' ELSE lang END AS lang,
        |       CASE WHEN doc_id % 13 = 5 THEN -n_chars
        |            ELSE n_chars END AS n_chars,
        |       'head' AS snap
        |FROM documents
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'v0' AS snap FROM documents""".stripMargin),
    // SQL MERGE INTO through the catalog: matched keys update
    // merge-on-read, unmatched keys insert, one commit
    QuerySpec("q_table_sql_merge", (s, dir) => {
      val p = txlogSqlMergeTable(s, dir)
      s.sql(s"SELECT doc_id, lang, n_chars FROM graft_table.`$p`")
    },
      // the SQL MERGE lifecycle's semantics: the even seed with mod-3
      // keys re-langed (matched updates), plus the odd multiples of 3
      // inserted as 'mg'
      oracle = """SELECT doc_id,
        |       CASE WHEN doc_id % 3 = 0 THEN 'mg' ELSE lang END AS lang,
        |       n_chars
        |FROM documents
        |WHERE doc_id % 2 = 0 OR doc_id % 3 = 0""".stripMargin),
    // the maintenance ladder in pure SQL (CALL graft_table.system.*):
    // purge, optimize, restore, checkpoint, vacuum — head = the dv
    // delete's survivors minus the SQL-deleted de rows; VERSION AS OF
    // 3 rides the vacuum checkpoint's carried state (v0-v2 truncated)
    QuerySpec("q_table_sql_maintenance", (s, dir) => {
      val p = txlogSqlMaintTable(s, dir)
      s.sql(s"SELECT doc_id, lang, n_chars, 'head' AS snap " +
        s"FROM graft_table.`$p` " +
        "UNION ALL " +
        "SELECT doc_id, lang, n_chars, 'v3' AS snap " +
        s"FROM graft_table.`$p` VERSION AS OF 3")
    },
      // the CALL-maintenance lifecycle's semantics: every maintenance
      // commit (purge/optimize/restore) is logically a no-op on the dv
      // delete's survivors; head additionally lost the SQL-deleted de
      // rows (NULL-lang rows would survive — COALESCE spelling)
      oracle = """SELECT doc_id, lang, n_chars, 'head' AS snap FROM documents
        |WHERE doc_id % 7 <> 2 AND COALESCE(lang <> 'de', TRUE)
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'v3' AS snap FROM documents
        |WHERE doc_id % 7 <> 2""".stripMargin),
    // SQL ALTER TABLE ADD COLUMN through the catalog: one data-free
    // metadata commit widens the log-recorded schema (no data pass —
    // the 100 TB ALTER), pre-evolution rows read the new column as
    // NULL, a later SQL INSERT supplies it
    QuerySpec("q_table_sql_alter", (s, dir) => {
      val p = txlogSqlAlterTable(s, dir)
      s.sql(s"SELECT doc_id, lang, n_chars, quality " +
        s"FROM graft_table.`$p`")
    },
      // the SQL ALTER lifecycle's semantics: the even seed predates the
      // column (NULL by the evolution contract), the odd INSERT supplies
      // it
      oracle = """SELECT doc_id, lang, n_chars, CAST(NULL AS BIGINT) AS quality
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, lang, n_chars, n_chars % 100 AS quality
        |FROM documents WHERE doc_id % 2 = 1""".stripMargin),
    // SQL RENAME/DROP COLUMN through the catalog (column mapping):
    // each a data-free metadata commit — stored values surface under
    // the renamed name, the dropped-then-re-added column reads NULL
    // (fresh physical name; the old bytes never resurface), and v0
    // still time-travels under its ORIGINAL names
    // the MILLION-FILE planning path, oracle-gated at small scale:
    // with the prune threshold lowered, the relation plans through
    // GraftPrunedFileIndex (live set streamed from the checkpoint
    // sidecar, the DV-delete suffix folded on top) — results must be
    // byte-identical to the eager path's
    QuerySpec("q_table_pruned_scan", (s, dir) => {
      val p = txlogPrunedTable(s, dir)
      s.conf.set("spark.graft.plan.pruneFileThreshold", "4")
      try s.read.format("graft-table").load(p)
        .select("doc_id", "lang", "n_chars")
      finally s.conf.unset("spark.graft.plan.pruneFileThreshold")
    },
      // the pruned-planning lifecycle's semantics: everything but the
      // five smallest ids (masked by the suffix's deletion vector)
      oracle = PrunedScanOracle),
    QuerySpec("q_table_sql_colmap", (s, dir) => {
      val p = txlogSqlColmapTable(s, dir)
      s.sql(s"SELECT doc_id, body_chars, lang, 'head' AS snap " +
        s"FROM graft_table.`$p` " +
        "UNION ALL " +
        "SELECT doc_id, n_chars AS body_chars, lang, 'v0' AS snap " +
        s"FROM graft_table.`$p` VERSION AS OF 0")
    },
      // the column-mapping lifecycle's semantics: at the head every row
      // carries its n_chars under the RENAMED name and the dropped-
      // then-re-added lang is NULL (fresh physical name); v0 replays
      // the even seed under the original names
      oracle = """SELECT doc_id, n_chars AS body_chars,
        |       CAST(NULL AS VARCHAR) AS lang, 'head' AS snap
        |FROM documents
        |UNION ALL
        |SELECT doc_id, n_chars AS body_chars, lang, 'v0' AS snap
        |FROM documents WHERE doc_id % 2 = 0""".stripMargin),
    // SQL ALTER COLUMN TYPE widening (int -> long, one data-free
    // metadata commit): the head reads int32 and int64 files side by
    // side (per-file upcast inside the scan), v0 time-travels under
    // its own INT schema
    QuerySpec("q_table_sql_colwiden", (s, dir) => {
      val p = txlogWidenTable(s, dir)
      s.sql(s"SELECT doc_id, lang, nc, 'head' AS snap " +
        s"FROM graft_table.`$p` " +
        "UNION ALL " +
        "SELECT doc_id, lang, CAST(nc AS BIGINT) AS nc, 'v0' AS snap " +
        s"FROM graft_table.`$p` VERSION AS OF 0")
    },
      // the widening lifecycle's semantics: the even seed keeps its int
      // values (read wide), the odd insert landed shifted past the
      // int32 range, and v0 replays the even seed
      oracle = """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS nc,
        |       'head' AS snap
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, lang,
        |       CAST(n_chars AS BIGINT) + 3000000000 AS nc,
        |       'head' AS snap
        |FROM documents WHERE doc_id % 2 = 1
        |UNION ALL
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS nc,
        |       'v0' AS snap
        |FROM documents WHERE doc_id % 2 = 0""".stripMargin),
    // the retention-CLAMPED (non-forced) vacuum: reclamation asked to
    // truncate the tip, the 7-day window clamped it to v0 — the head
    // reads the dv delete, and the v0 the clamp protected still
    // time-travels
    // HIDDEN partition transforms (Iceberg-style): the table is laid
    // out by days(ts) + bucket(8, user_id), the query filters on the
    // SOURCE columns only — a ts window aggregation plus a user point
    // probe, both pruned through the rewritten hidden partition
    // predicates (spec asserts the file bounds); SQL INSERT supplied
    // half the rows through the layout-re-deriving catalog path
    QuerySpec("q_table_hidden_partition", (s, dir) => {
      val p = txlogHiddenPartTable(s, dir)
      s.sql("SELECT event_type, COUNT(*) AS n, " +
        "CAST(SUM(user_id) AS BIGINT) AS su " +
        s"FROM graft_table.`$p` " +
        "WHERE ts >= TIMESTAMP'2024-01-10 00:00:00' " +
        "AND ts < TIMESTAMP'2024-01-15 00:00:00' " +
        "GROUP BY event_type " +
        "UNION ALL " +
        "SELECT 'user42' AS event_type, COUNT(*) AS n, " +
        "CAST(SUM(event_id) AS BIGINT) AS su " +
        s"FROM graft_table.`$p` WHERE user_id = 42")
    },
      // the hidden-partition lifecycle's semantics: v0 (even ids,
      // transform append) plus v1 (odd ids, SQL INSERT) reassemble the
      // whole events table, so the window aggregation and the point
      // probe replay directly over the source
      oracle = """SELECT event_type, COUNT(*) AS n,
        |       CAST(SUM(user_id) AS BIGINT) AS su
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type
        |UNION ALL
        |SELECT 'user42' AS event_type, COUNT(*) AS n,
        |       CAST(SUM(event_id) AS BIGINT) AS su
        |FROM events WHERE user_id = 42""".stripMargin),
    QuerySpec("q_table_purge_clamped", (s, dir) => {
      val p = txlogVacClampTable(s, dir)
      s.sql(s"SELECT doc_id, lang, n_chars, 'head' AS snap " +
        s"FROM graft_table.`$p` " +
        "UNION ALL " +
        "SELECT doc_id, lang, n_chars, 'v0' AS snap " +
        s"FROM graft_table.`$p` VERSION AS OF 0")
    },
      // the clamped-vacuum lifecycle's semantics: head = the dv
      // delete's survivors; v0 = everything (the retention clamp
      // refused to truncate it)
      oracle = """SELECT doc_id, lang, n_chars, 'head' AS snap FROM documents
        |WHERE doc_id % 10 <> 0
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'v0' AS snap
        |FROM documents""".stripMargin),
    // merge-on-read delete confined to ONE of four range files: the
    // connector read splits at plan time — three files columnar, the
    // masked one row-filtered — and must read exactly the survivors
    QuerySpec("q_table_dv_split", (s, dir) =>
      s.read.format("graft-table").load(txlogDvSplitTable(s, dir))
        .select("doc_id", "lang", "n_chars"),
      oracle = PrunedScanOracle),
    // SQL UPDATE of ONE partition of a partitioned table: the
    // merge-on-read insert images re-stage partition-pure with their
    // values re-recorded in the log, so partition pruning stays exact
    // across the mutation (spec asserts the pruning bound)
    QuerySpec("q_table_sql_update_part", (s, dir) => {
      val p = txlogSqlUpdPartTable(s, dir)
      s.sql(s"SELECT doc_id, lang, n_chars FROM graft_table.`$p`")
    },
      // the partitioned SQL UPDATE's semantics: the en partition's
      // n_chars negated, every other partition intact
      oracle = """SELECT doc_id, lang,
        |       CASE WHEN lang = 'en' THEN -n_chars
        |            ELSE n_chars END AS n_chars
        |FROM documents""".stripMargin),
    // SQL DELETE FROM through the catalog: one copy-on-write commit,
    // hit files discovered through the connector's own stats-pruned
    // scan (only the fr-overlapping range files rewrote — spec), the
    // deleted fr rows still time-travel readable from SQL
    QuerySpec("q_table_sql_delete", (s, dir) => {
      val p = txlogSqlDelTable(s, dir)
      s.sql(s"SELECT doc_id, lang, n_chars, 'head' AS snap " +
        s"FROM graft_table.`$p` " +
        "UNION ALL " +
        "SELECT doc_id, lang, n_chars, 'v0' AS snap " +
        s"FROM graft_table.`$p` VERSION AS OF 0 WHERE lang = 'fr'")
    },
      // the SQL DELETE lifecycle's semantics: head = the survivors of
      // DELETE WHERE lang = 'fr' AND doc_id >= 100 (rows where the
      // predicate is NULL survive — hence the COALESCE spelling); v0 =
      // the pre-delete fr slice, intact under SQL time travel
      oracle = """SELECT doc_id, lang, n_chars, 'head' AS snap FROM documents
        |WHERE COALESCE(NOT (lang = 'fr' AND doc_id >= 100), TRUE)
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'v0' AS snap FROM documents
        |WHERE lang = 'fr'""".stripMargin),
    // shallow clone + MERGE on the branch: the clone reads the
    // source's masked files zero-copy, the merge's rewrites land under
    // the clone's own root (the source stays byte-identical — spec),
    // and dv-deleted keys in the update residue re-enter as appends
    QuerySpec("q_table_clone", (s, dir) =>
      graft.ops.TxLog.snapshot(s, txlogCloneTable(s, dir))
        .select("doc_id", "lang", "n_chars"),
      // the branch head: the dv mask (mod-19 residue 3) carried over,
      // the merge re-langs residue-1-mod-31 keys in place and re-adds
      // the masked ones in that residue
      oracle = """SELECT doc_id,
        |       CASE WHEN doc_id % 31 = 1 THEN 'cl' ELSE lang END AS lang,
        |       n_chars
        |FROM documents
        |WHERE doc_id % 19 <> 3 OR doc_id % 31 = 1""".stripMargin),
    // deletion-vector maintenance: the heavily masked file rewrote
    // without its masked rows (threshold policy), the lightly-touched
    // file never moved — the purged head must read exactly what the
    // mask read
    QuerySpec("q_table_purge", (s, dir) =>
      graft.ops.TxLog.snapshot(s, txlogPurgeTable(s, dir))
        .select("doc_id", "lang", "n_chars"),
      // the purged head: the mod-10 residue-0 rows are gone — whether a
      // rewrite dropped them physically or the mask still hides them is
      // the layout's business, not the reader's
      oracle = """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 10 <> 0""".stripMargin),
    // RESTORE TABLE TO VERSION as a commit: a copy-on-write delete and
    // a compaction are UNDONE by pure metadata (the immutable files
    // come back, the target's deletion-vector mask is republished) —
    // the at-scale answer to "a bad job deleted the wrong rows in a
    // 100 TB table". The head must equal the dv version exactly
    QuerySpec("q_table_restore", (s, dir) => {
      val (p, _) = txlogRestoreTable(s, dir)
      graft.ops.TxLog.snapshot(s, p)
        .select("doc_id", "lang", "n_chars")
    },
      // the restored head: the dv delete (mod-23 residue 5) is back in
      // force, the undone copy-on-write delete (residue 7) is not
      oracle = """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 23 <> 5""".stripMargin),
    // CDC across the restore interval: exactly the rows the undone
    // copy-on-write delete had removed come back as inserts — computed
    // from the log's file-and-mask algebra, never a table rescan
    QuerySpec("q_table_restore_cdc", (s, dir) => {
      val (p, rv) = txlogRestoreTable(s, dir)
      graft.ops.TxLog.changesBetween(s, p, rv - 1, rv)
        .select("doc_id", "lang", "n_chars", "change")
    },
      // the restore interval's change feed: the copy-on-write-deleted
      // rows return as inserts, nothing falls out
      oracle = """SELECT doc_id, lang, n_chars, 'insert' AS change FROM documents
        |WHERE doc_id % 23 = 7""".stripMargin),
    // MERGE INTO + OPTIMIZE as commits: updates replace same-key rows,
    // new keys append, and the Z-order rewrite that follows must not
    // move a value — one snapshot read pins all three commits
    QuerySpec("q_txlog_merge", (s, dir) =>
      graft.ops.TxLog.snapshot(s, txlogMergeTable(s, dir))
        .select("doc_id", "lang", "n_chars"),
      // merge semantics spelled out: updated keys take the new lang, new
      // keys append, everything else unchanged — and the optimize commit
      // after the merge must leave all of it untouched
      oracle = """SELECT doc_id,
        |       CASE WHEN doc_id % 10 = 3 THEN 'xx' ELSE lang END AS lang,
        |       n_chars
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id, 'new' AS lang, n_chars
        |FROM documents WHERE doc_id % 50 = 0""".stripMargin),
    // the Delta CDF contract over the merge interval: the commit
    // recorded its key column, so the removed-and-re-added residue-3
    // keys pair into update_preimage/update_postimage rows (old lang /
    // 'xx'), while the genuinely new +1000000 keys stay inserts — the
    // oracle computes the pre/post pairs from first principles
    QuerySpec("q_table_merge_cdc", (s, dir) =>
      graft.ops.TxLog.changesBetweenCdc(s, txlogMergeTable(s, dir), 0L, 1L)
        .select("doc_id", "lang", "n_chars", "change_type"),
      // the merge interval's CDF from first principles: every residue-3
      // key pairs its original row (preimage) with the re-langed row
      // (postimage); the +1000000 keys never existed before — inserts;
      // nothing is deleted. (No original lang is 'xx', so no pre/post
      // row can coincide.)
      oracle = """SELECT doc_id, lang, n_chars,
        |       'update_preimage' AS change_type
        |FROM documents WHERE doc_id % 10 = 3
        |UNION ALL
        |SELECT doc_id, 'xx' AS lang, n_chars,
        |       'update_postimage' AS change_type
        |FROM documents WHERE doc_id % 10 = 3
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id, 'new' AS lang, n_chars,
        |       'insert' AS change_type
        |FROM documents WHERE doc_id % 50 = 0""".stripMargin),
    // log-based CDC from v0 (the 80% base append) to head: the second
    // append surfaces as inserts, the copy-on-write delete as exactly
    // its three deleted rows, and the compaction commit cancels out of
    // the net file algebra entirely — all computed from the files the
    // log says changed, never a table rescan
    QuerySpec("q_table_changes", (s, dir) => {
      val p = txlogTable(s, dir)
      graft.ops.TxLog.changesBetween(s, p, 0L,
          graft.ops.TxLog.resolve(p).version)
        .select("doc_id", "lang", "n_chars", "change")
    },
      // v0→head net change: the 20% append inserts (none of the deleted
      // keys are ≡0 mod 5, so no overlap), the delete removes its three
      // rows, the compaction contributes nothing
      oracle = """SELECT doc_id, lang, n_chars, 'insert' AS change FROM documents
        |WHERE doc_id % 5 = 0
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'delete' AS change FROM documents
        |WHERE doc_id IN (7, 8, 42)""".stripMargin),
    // the table consumed AS A STREAM (graft-table source, offsets =
    // commit versions): the at-rest feed a downstream pipeline
    // actually received — snapshot + two incremental appends, with a
    // compaction interval that must contribute NOTHING (exactly-once
    // is in the oracle hash)
    QuerySpec("q_table_stream_read", (s, dir) => {
      val p = txlogStreamFeeds(s, dir)
      s.read.parquet(s"$p/feed_append").select("doc_id", "lang", "n_chars")
    },
      // the append-only consumer saw slices 0..2 exactly once each (the
      // compaction interval nets to zero rows); the delete and slice 3
      // landed after it detached
      oracle = """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 4 IN (0, 1, 2)""".stripMargin),
    // the cdc consumer's change feed over the same lifecycle, one
    // commit per micro-batch: every slice's inserts exactly once, the
    // copy-on-write delete as exactly its (present) keys, compaction
    // silent — log-based CDC through the streaming surface
    QuerySpec("q_table_cdc_feed", (s, dir) => {
      val p = txlogStreamFeeds(s, dir)
      s.read.parquet(s"$p/feed_cdc")
        .select("doc_id", "lang", "n_chars", "change")
    },
      // the cdc replay: every slice inserted exactly once; deletes are
      // the keys PRESENT at delete time (7 ≡ 3 mod 4 was not yet
      // appended, so only 8 and 42 fall)
      oracle = """SELECT doc_id, lang, n_chars, 'insert' AS change FROM documents
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'delete' AS change FROM documents
        |WHERE doc_id IN (7, 8, 42) AND doc_id % 4 <> 3""".stripMargin),
    // DESCRIBE HISTORY through the DataSource V2 connector: per-commit
    // op + file counts + footer-exact row stats, column-pruned (the
    // adds/removes path arrays are never materialized)
    QuerySpec("q_table_history", (s, dir) =>
      s.read.format("graft-table-history").load(txlogHistoryTable(s, dir))
        .select("version", "op", "n_adds", "n_removes",
          "rows_added", "rows_removed"),
      // the ledger recomputed from first principles: per-version op and
      // file counts follow from the coalesced layout, and the row stats
      // are slice counts over documents (3, 9, 27 are the deleted keys,
      // all ≡0 mod 3 — the rewrite touches only v0's file)
      oracle = """WITH n0 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents
        |            WHERE doc_id % 3 = 0),
        |     n1 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents
        |            WHERE doc_id % 3 = 1)
        |SELECT CAST(0 AS BIGINT) AS version, 'append' AS op,
        |       CAST(1 AS INTEGER) AS n_adds, CAST(0 AS INTEGER) AS n_removes,
        |       (SELECT c FROM n0) AS rows_added,
        |       CAST(0 AS BIGINT) AS rows_removed
        |UNION ALL
        |SELECT 1, 'append', 1, 0, (SELECT c FROM n1), 0
        |UNION ALL
        |SELECT 2, 'delete', 1, 1, (SELECT c FROM n0) - 3, (SELECT c FROM n0)
        |UNION ALL
        |SELECT 3, 'compact', 1, 2,
        |       (SELECT c FROM n0) + (SELECT c FROM n1) - 3,
        |       (SELECT c FROM n0) + (SELECT c FROM n1) - 3
        |UNION ALL
        |SELECT 4, 'optimize', 2, 1,
        |       (SELECT c FROM n0) + (SELECT c FROM n1) - 3,
        |       (SELECT c FROM n0) + (SELECT c FROM n1) - 3""".stripMargin),
    // data skipping from the LOG's recorded per-file [min,max]: the
    // head of the history table is two Z-ordered files, and this
    // narrow doc_id slice opens only the low-range one — file pruning
    // decided before any listing or footer I/O (the spec asserts the
    // single input file; the oracle pins the row semantics)
    // data skipping from an ORDINARY user filter through the
    // graft-table connector: the narrow doc_id slice of the Z-ordered
    // head opens only the low-range file, pruned by the FileIndex from
    // the log's [min,max] before any listing or footer I/O — plus the
    // standard parquet PushedFilters inside the surviving file
    QuerySpec("q_table_skipping", (s, dir) =>
      s.read.format("graft-table").load(txlogHistoryTable(s, dir))
        .filter(col("doc_id") >= 0L && col("doc_id") <= 100L)
        .select("doc_id", "lang", "n_chars"),
      // the slice's semantics, independent of which files were pruned:
      // table = documents with doc_id % 3 in (0, 1) minus the deleted
      // keys (3, 9, 27), sliced to doc_id <= 100
      oracle = """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id <= 100 AND doc_id % 3 IN (0, 1)
        |  AND doc_id NOT IN (3, 9, 27)""".stripMargin),
    // incremental aggregate maintenance: the pre/post-cutoff halves are
    // aggregated separately and state-merged — output ≡ the one-pass
    // recompute (the oracle) because (count, sum) states merge exactly
    // over a disjoint row split (l_quantity is integer-valued)
    QuerySpec("q_agg_incremental", (s, dir) => {
      val l = t(s, dir, "lineitem")
      def state(df: DataFrame) = df.groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
      Maintenance.mergeCountSum(
        state(l.filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))),
        state(l.filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))),
        Seq("l_suppkey"), "n", "sum_qty")
    },
      oracle = """SELECT l_suppkey, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin),
    // incremental COUNT(DISTINCT) maintenance: per-priority KMV sketch
    // states built on the odd/even orderkey halves, merged, then read.
    // At this scale every group holds < k=4096 distinct hashes, so the
    // state IS the distinct set and the merged estimate EQUALS the
    // exact one-pass COUNT(DISTINCT) (the oracle); at 100 TB the same
    // state saturates into a (k-1)/θ sketch with ~1.6% error instead
    // of a corpus rescan
    QuerySpec("q_distinct_incremental", (s, dir) => {
      val o = t(s, dir, "orders")
      def state(df: DataFrame) =
        Maintenance.kmvState(df, Seq("o_orderpriority"), "o_custkey", k = 4096)
      val merged = Maintenance.mergeKmv(
        state(o.filter(col("o_orderkey") % 2 === 0)),
        state(o.filter(col("o_orderkey") % 2 === 1)),
        Seq("o_orderpriority"))
      Maintenance.kmvDistinct(merged, Seq("o_orderpriority"))
    },
      // below saturation the KMV state is the exact distinct set, so the
      // incremental estimate must EQUAL the one-pass COUNT(DISTINCT)
      oracle = """SELECT o_orderpriority,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct
        |FROM orders GROUP BY 1""".stripMargin),
    // incremental quantile maintenance: exact fixed-width bucket states
    // built INDEPENDENTLY on a 3/4 base and 1/4 delta split, merged
    // (bucket-sized shuffle), quantiles read from the merged state. The
    // oracle computes the same quantiles from the FULL table — passing
    // means merge(state(base), state(delta)) ≡ state(base ∪ delta),
    // the property percentile_approx's split-dependent partials lack
    QuerySpec("q_hist_quantile_incremental", (s, dir) => {
      val l = t(s, dir, "lineitem")
      val base = Maintenance.histogramState(
        l.filter(col("l_orderkey") % 4 =!= 0), "l_extendedprice", 1000.0)
      val delta = Maintenance.histogramState(
        l.filter(col("l_orderkey") % 4 === 0), "l_extendedprice", 1000.0)
      Maintenance.histogramQuantiles(
        Maintenance.mergeHistograms(base, delta),
        Seq(0.25, 0.5, 0.75))
    },
      oracle = """WITH st AS (
        |  SELECT CAST(floor(l_extendedprice / 1000) AS BIGINT) AS bucket,
        |         count(*) AS n
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT sum(n) AS total FROM st),
        |cum AS (SELECT bucket, sum(n) OVER (ORDER BY bucket) AS c FROM st),
        |qs(q) AS (VALUES (0.25), (0.5), (0.75))
        |SELECT CAST(q AS DOUBLE) AS q,
        |       (SELECT min(bucket) FROM cum, tot
        |        WHERE cum.c >= ceil(q * tot.total)) * 1000.0 AS value_lo
        |FROM qs""".stripMargin),
    // SCD-2 history maintenance: one change batch versioned into a
    // valid_from/valid_to history — changed keys close + re-insert,
    // value-identical changes are no-ops (idempotent replay), new keys
    // insert, closed history carries without shuffling. The oracle
    // enumerates the same four branches independently.
    QuerySpec("q_scd2", (s, dir) => {
      val c = t(s, dir, "customer")
      val d = (x: String) => lit(java.sql.Date.valueOf(x))
      val history = c.select(col("c_custkey"), col("c_mktsegment"),
          col("c_nationkey"), d("2024-01-01").as("valid_from"),
          lit(null).cast("date").as("valid_to"))
        .unionByName(c.filter(col("c_custkey") % 20 === 7)
          .select(col("c_custkey"), lit("OLD").as("c_mktsegment"),
            col("c_nationkey"), d("2023-01-01").as("valid_from"),
            d("2024-01-01").as("valid_to")))
      val changes = c.filter(col("c_custkey") % 10 === 3)
        .select(col("c_custkey"), lit("UPDATED").as("c_mktsegment"),
          col("c_nationkey"), d("2024-06-01").as("ts"))
        .unionByName(c.filter(col("c_custkey") % 10 === 4)
          .select(col("c_custkey"), col("c_mktsegment"),
            col("c_nationkey"), d("2024-06-01").as("ts")))
        .unionByName(c.filter(col("c_custkey") % 50 === 0)
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            lit("NEW").as("c_mktsegment"), col("c_nationkey"),
            d("2024-06-01").as("ts")))
      // dates rendered as strings for the cross-engine compare (pandas
      // reads Spark DATE as objects but DuckDB DATE as datetime64);
      // failOnOutOfOrder: the ordering precondition is audited, not
      // assumed — an out-of-order batch fails loudly here
      Maintenance.scd2Apply(history, changes, Seq("c_custkey"),
        failOnOutOfOrder = true)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"),
          col("valid_from").cast("string").as("valid_from"),
          col("valid_to").cast("string").as("valid_to"))
    },
      // the four SCD-2 branches enumerated directly: carried closed rows,
      // closed-out changed rows, surviving current rows (incl. the %10=4
      // no-op batch), new versions + first versions of new keys
      oracle = """SELECT c_custkey, 'OLD' AS c_mktsegment, c_nationkey,
        |       '2023-01-01' AS valid_from, '2024-01-01' AS valid_to
        |FROM customer WHERE c_custkey % 20 = 7
        |UNION ALL
        |SELECT c_custkey, c_mktsegment, c_nationkey,
        |       '2024-01-01', '2024-06-01'
        |FROM customer WHERE c_custkey % 10 = 3
        |UNION ALL
        |SELECT c_custkey, c_mktsegment, c_nationkey,
        |       '2024-01-01', CAST(NULL AS VARCHAR)
        |FROM customer WHERE c_custkey % 10 <> 3
        |UNION ALL
        |SELECT c_custkey, 'UPDATED', c_nationkey, '2024-06-01',
        |       CAST(NULL AS VARCHAR)
        |FROM customer WHERE c_custkey % 10 = 3
        |UNION ALL
        |SELECT c_custkey + 1000000, 'NEW', c_nationkey,
        |       '2024-06-01', CAST(NULL AS VARCHAR)
        |FROM customer WHERE c_custkey % 50 = 0""".stripMargin),
    // Keyed diff of two snapshot versions: delta-sized audit output
    // (added / removed / changed + which columns), one full outer join
    QuerySpec("q_snapshot_diff", (s, dir) => {
      val c = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
      val newSnap = c.filter(col("c_custkey") % 10 =!= 1)
        .select(col("c_custkey"), col("c_name"),
          when(col("c_custkey") % 10 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")).as("c_acctbal"),
          when(col("c_custkey") % 10 === 2, (col("c_nationkey") + 1) % 25)
            .otherwise(col("c_nationkey")).as("c_nationkey"))
        .unionByName(c.filter(col("c_custkey") % 10 === 3)
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            concat(lit("clone of "), col("c_name")).as("c_name"),
            lit(0.0).as("c_acctbal"), col("c_nationkey")))
      Maintenance.snapshotDiff(c, newSnap, Seq("c_custkey"))
    },
      // keyed full-outer diff; changed_cols = sorted comma-joined
      // value columns whose values differ (NULL-safe)
      oracle = """WITH o AS (SELECT c_custkey, c_name, c_acctbal, c_nationkey
        |           FROM customer),
        |n AS (
        |  SELECT c_custkey, c_name,
        |         CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0
        |              ELSE c_acctbal END AS c_acctbal,
        |         CASE WHEN c_custkey % 10 = 2 THEN (c_nationkey + 1) % 25
        |              ELSE c_nationkey END AS c_nationkey
        |  FROM customer WHERE c_custkey % 10 <> 1
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'clone of ' || c_name, 0.0, c_nationkey
        |  FROM customer WHERE c_custkey % 10 = 3)
        |SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
        |  CASE WHEN o.c_custkey IS NULL THEN 'added'
        |       WHEN n.c_custkey IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status,
        |  CASE WHEN o.c_custkey IS NOT NULL AND n.c_custkey IS NOT NULL THEN
        |    concat_ws(',',
        |      CASE WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal
        |           THEN 'c_acctbal' END,
        |      CASE WHEN o.c_name IS DISTINCT FROM n.c_name
        |           THEN 'c_name' END,
        |      CASE WHEN o.c_nationkey IS DISTINCT FROM n.c_nationkey
        |           THEN 'c_nationkey' END)
        |  END AS changed_cols
        |FROM o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey
        |WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
        |   OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
        |   OR o.c_name IS DISTINCT FROM n.c_name
        |   OR o.c_nationkey IS DISTINCT FROM n.c_nationkey""".stripMargin),
    // Target-size compaction plan over the documents "file" listing:
    // bin = floor(exclusive running byte sum / 8 KiB), running sum via
    // the two-level prefix-sum scaffold (no global-ORDER window)
    QuerySpec("q_compaction_plan", (s, dir) =>
      Maintenance.compactionPlan(
        t(s, dir, "documents")
          .select(col("doc_id"), octet_length(col("text")).as("sz")),
        "doc_id", "sz", targetBytes = 8192)
        .select(col("doc_id"), col("bytes"), col("bin")),
      // bin = floor(exclusive running byte sum / 8 KiB) in doc_id
      // order; strlen = DuckDB byte length = Spark octet_length
      oracle = """WITH p AS (
        |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS bytes,
        |         CAST(COALESCE(SUM(strlen(text)) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS pfx
        |  FROM documents)
        |SELECT doc_id, bytes,
        |       CAST(floor(pfx / 8192.0) AS BIGINT) AS bin
        |FROM p""".stripMargin)
  )
}
