package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.TableHarness.chain
import graft.ops.{TxIo, TxLog}
import graft.sources.GraftSqlTable

/** Round-29 surface: SQL `DELETE FROM` through the DSv2 catalog —
  * the general predicate copy-on-write delete
  * ([[TxLog.deleteWherePredicate]]), its connector-pruned hit
  * discovery, SQL NULL-predicate semantics, and the exact-vs-pruning
  * filter conversion split.
  */
class RoundTwentyNineSpec extends SparkSuite {

  test("SQL DELETE FROM deletes exactly the predicate's rows as one " +
      "commit; the pre-delete version stays time-travel readable") {
    val p = tmpDir("sqldel")
    TxLog.init(p)
    TxLog.append(spark, p, docs)
    val all = idSet(docs)
    val fr = idSet(docs.filter(col("lang") === "fr"))
    assert(fr.nonEmpty && fr != all)

    spark.sql(s"DELETE FROM graft_table.`$p` WHERE lang = 'fr'")

    assert(idSet(spark.read.format("graft-table").load(p)) === (all -- fr))
    // one delete commit on top of the append
    assert(TxLog.resolve(p).version === 1L)
    // time travel to v0 still sees every row
    assert(idSet(spark.read.format("graft-table")
      .option("versionAsOf", "0").load(p)) === all)
  }

  test("DELETE hit discovery is pruned by the log's skipping index: " +
      "on a lang-clustered table only the overlapping files rewrite") {
    val p = tmpDir("sqldelprune")
    TxLog.init(p)
    TxLog.append(spark, p,
      docs.repartitionByRange(5, col("lang"), col("doc_id"))
        .sortWithinPartitions("lang", "doc_id"))
    val before = TxLog.resolve(p).files.toSet
    assert(before.size >= 4, s"want a multi-file table, got $before")

    spark.sql(s"DELETE FROM graft_table.`$p` WHERE lang = 'fr'")

    val after = TxLog.resolve(p).files.toSet
    // untouched files survive by IDENTITY — only the files whose
    // recorded string [min,max] admits 'fr' were rewritten
    val untouched = before.intersect(after)
    assert(untouched.nonEmpty,
      s"stats pruning failed: every file rewrote ($before -> $after)")
    assert((before -- after).size < before.size)
    // and the rows are right
    assert(idSet(spark.read.format("graft-table").load(p)) ===
      idSet(docs.filter(col("lang") =!= "fr")))
  }

  test("SQL DELETE keeps NULL-predicate rows (WHERE cond IS TRUE " +
      "semantics) and composes with deletion-vector masks") {
    val p = tmpDir("sqldelnull")
    TxLog.init(p)
    // lang_opt: NULL on even ids, real on odd ids — one file so the
    // same file holds masked rows, NULL-predicate rows, and hits
    TxLog.append(spark, p,
      docs.withColumn("lang_opt",
          when(pmod(col("doc_id"), lit(2)) === 1, col("lang")))
        .select("doc_id", "lang_opt", "n_chars").coalesce(1))
    val ids = idSet(docs)
    // mask a few rows merge-on-read first: the SQL DELETE's rewrite
    // must not resurrect them
    val masked = ids.filter(_ % 97 == 3)
    assert(masked.nonEmpty)
    TxLog.deleteWhereDv(spark, p, "doc_id", masked.toSeq.sorted)

    val frOdd = idSet(docs.filter(col("lang") === "fr")
      .filter(pmod(col("doc_id"), lit(2)) === 1))
    spark.sql(s"DELETE FROM graft_table.`$p` WHERE lang_opt = 'fr'")

    // survivors: everything except the dv-masked rows and the TRUE
    // hits — every even row (lang_opt NULL ⇒ predicate NULL) survives
    assert(idSet(spark.read.format("graft-table").load(p)) ===
      (ids -- masked -- frOdd))
  }

  test("DELETE FROM with no WHERE empties the head but the history " +
      "survives; a version-pinned relation refuses the delete") {
    val p = tmpDir("sqldelall")
    TxLog.init(p)
    TxLog.append(spark, p, docs.limit(100).coalesce(1))

    // a version-pinned relation refuses the delete (the SQL grammar
    // has no DELETE ... VERSION AS OF — exercise the catalog surface
    // the way a pinned table object would be handed one)
    val pinned = new graft.sources.GraftCatalog()
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty[String], p), "0")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsDelete]
    val e = intercept[Exception] {
      pinned.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.GreaterThan("doc_id", 0L)))
    }
    assert(e.getMessage.contains("read-only"), e.getMessage)

    val dataBefore = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$p/data")).toArray.length
    spark.sql(s"DELETE FROM graft_table.`$p`")
    assert(spark.read.format("graft-table").load(p).count() === 0L)
    assert(TxLog.resolve(p).files.isEmpty)
    assert(spark.read.format("graft-table")
      .option("versionAsOf", "0").load(p).count() === 100L)
    // delete-all is PURE METADATA: no rewrite, no new data files, and
    // the old bytes stay on disk for the time travel above
    val hist = TxLog.history(p).last
    assert(hist.op === "delete" && hist.adds.isEmpty &&
      hist.removes.size === 1)
    // the ledger count comes from the LOG's recorded per-file rows
    // (no footer sweep) and is still exact
    assert(hist.rowsRemoved.contains(100L))
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(s"$p/data"))
      .toArray.length === dataBefore)

    // SQL TRUNCATE routes through the same metadata-only commit
    spark.sql(s"TRUNCATE TABLE graft_table.`$p`")
    assert(TxLog.history(p).last.adds.isEmpty)
  }

  test("metadata DELETE on a schema-evolved table: a predicate on the " +
      "evolved column resolves against files that predate it") {
    val p = tmpDir("sqldelevolve")
    TxLog.init(p)
    val base = docs.limit(100)
    base.coalesce(1)
      .write.format("graft-table").mode("append").save(p) // v0: 3 cols
    base.filter(col("doc_id") < 0).withColumn("score", lit(2.0))
      .write.format("graft-table").mode("append").save(p) // v1: +score
    TxLog.append(spark, p, // v2: evolved rows, score populated
      docs.filter(col("doc_id") >= 1000 && col("doc_id") < 1050)
        .withColumn("score", lit(7.0)))

    // IS NULL on the evolved column is exactly translatable → the
    // metadata copy-on-write path; the v0 file carries no `score`
    // column physically, and its survivor rewrite must still resolve
    spark.sql(s"DELETE FROM graft_table.`$p` " +
      "WHERE score IS NULL AND doc_id < 50")

    val out = spark.read.format("graft-table").load(p)
      .select("doc_id", "score").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val baseIds = idSet(base)
    assert(out.keySet === baseIds.filter(_ >= 50) ++
      idSet(docs.filter(col("doc_id") >= 1000 && col("doc_id") < 1050)))
    assert(out.forall { case (id, s) =>
      if (id >= 1000) s.contains(7.0) else s.isEmpty })
  }

  test("exact conversion refuses what pruning relaxes: And keeps the " +
      "convertible side only in pruning mode, and Not of a relaxed " +
      "And never converts (superset complement = subset)") {
    import org.apache.spark.sql.sources._
    // a shape convert() has no case for (collation-aware equality —
    // replaying it as plain === would compare with the WRONG collation)
    val unconvertible: Filter = CollatedEqualTo("a", "x",
      org.apache.spark.sql.types.StringType)
    val and = And(EqualTo("lang", "fr"), unconvertible)
    assert(GraftSqlTable.filterColumn(and).isDefined) // superset prune
    assert(GraftSqlTable.exactFilterColumn(and).isEmpty) // exact: no
    // Not(relaxed And) must refuse in BOTH modes — replaying
    // not(lang = 'fr') for NOT(lang = 'fr' AND u) would over-prune
    assert(GraftSqlTable.filterColumn(Not(and)).isEmpty)
    assert(GraftSqlTable.exactFilterColumn(Not(and)).isEmpty)
    // fully convertible shapes convert in both modes
    val ok = And(EqualTo("lang", "fr"), GreaterThan("doc_id", 10L))
    assert(GraftSqlTable.filterColumn(ok).isDefined)
    assert(GraftSqlTable.exactFilterColumn(ok).isDefined)
  }

  test("the q_table_sql_delete lifecycle's own log shows the pruned " +
      "rewrite: only the fr-overlapping range files left the live set") {
    val p = registry.TableQueries.txlogSqlDelTable(spark, testdata)
    val v0 = TxLog.resolve(p, Some(0L)).files.toSet
    val head = TxLog.resolve(p).files.toSet
    val removed = v0 -- head
    assert(removed.nonEmpty, "the DELETE rewrote nothing")
    assert(removed.size < v0.size,
      s"stats pruning failed: every v0 file rewrote ($v0)")
    assert(v0.intersect(head).nonEmpty) // untouched files, by identity
  }

  test("SQL CALL drives the maintenance lifecycle: checkpoint, " +
      "compact, optimize, restore, purge_masks, clone, vacuum — each " +
      "one logged commit returning its version as a row") {
    val p = tmpDir("sqlproc")
    TxLog.init(p)
    TxLog.append(spark, p, docs.repartition(4, col("doc_id")))
    val all = idSet(docs)

    def call1(sql: String): Option[Long] = {
      val r = spark.sql(sql).collect()
      assert(r.length === 1, s"$sql returned ${r.toSeq}")
      if (r.head.isNullAt(0)) None else Some(r.head.getLong(0))
    }

    // checkpoint at the tip
    assert(call1(s"CALL graft_table.system.checkpoint(table => '$p')")
      === Some(0L))

    // compact the 4 small files into one logically no-op commit
    assert(call1(s"CALL graft_table.system.compact(table => '$p', " +
      "target_bytes => 134217728)") === Some(1L))
    assert(TxLog.resolve(p).files.size === 1)
    assert(idSet(spark.read.format("graft-table").load(p)) === all)

    // a dv delete, then purge below/above threshold
    val masked = all.filter(_ % 5 == 0)
    TxLog.deleteWhereDv(spark, p, "doc_id", masked.toSeq.sorted) // v2
    assert(call1(s"CALL graft_table.system.purge_masks(table => '$p', " +
      "min_fraction => 0.99)").isEmpty) // nothing crossed: NULL, no commit
    assert(TxLog.resolve(p).version === 2L)
    assert(call1(s"CALL graft_table.system.purge_masks(table => '$p', " +
      "min_fraction => 0.05)") === Some(3L))
    assert(idSet(spark.read.format("graft-table").load(p)) === (all -- masked))

    // optimize (whole table), then restore to the masked version
    assert(call1(s"CALL graft_table.system.optimize(table => '$p', " +
      "zorder_by => 'doc_id', num_files => 2)") === Some(4L))
    assert(call1(s"CALL graft_table.system.restore(table => '$p', " +
      "version => 2)") === Some(5L))
    assert(idSet(spark.read.format("graft-table").load(p)) === (all -- masked))

    // clone the head zero-copy, positionally (version default = tip)
    val branch = tmpDir("sqlprocclone") + "/b"
    assert(call1(s"CALL graft_table.system.clone('$p', '$branch')")
      === Some(0L))
    assert(idSet(spark.read.format("graft-table").load(branch))
      === (all -- masked))

    // vacuum with an explicit retention floor truncates older history
    val removed = spark.sql("CALL graft_table.system.vacuum(" +
      s"table => '$p', retain_from => 5, force => true)").collect()
    assert(removed.length === 1 && removed.head.getInt(0) >= 1)
    assert(TxLog.versions(p).head === 5L)
    assert(idSet(spark.read.format("graft-table").load(p)) === (all -- masked))

    // unknown procedure and wrong namespace refuse loudly (Spark
    // wraps the catalog's error as FAILED_TO_LOAD_ROUTINE — the
    // specific refusal rides the cause chain)
    def chain(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(chain(intercept[Exception](
      spark.sql(s"CALL graft_table.system.drop_table(t => '$p')")))
      .exists(_.contains("no procedure")))
    assert(chain(intercept[Exception](
      spark.sql(s"CALL graft_table.admin.vacuum(table => '$p', " +
        "retain_from => 5)")))
      .exists(_.contains("system")))
  }

  test("CALL optimize with a partition scope rewrites only the named " +
      "partition and re-records its partition metadata") {
    val p = tmpDir("sqlprocpart")
    TxLog.init(p)
    TxLog.appendPartitioned(spark, p,
      docs.repartition(2, col("doc_id")), Seq("lang"))
    val before = TxLog.resolve(p).files.toSet

    val v = spark.sql(s"CALL graft_table.system.optimize(table => '$p', " +
      "zorder_by => 'doc_id', num_files => 1, partition => 'lang=fr')")
      .collect().head.getLong(0)
    assert(v === 1L)

    val after = TxLog.resolve(p).files.toSet
    assert((before -- after).forall(_.contains("lang=fr")))
    assert((after -- before).size === 1)
    // the rewritten file carries the fr partition metadata again
    val parts = TxLog.filePartitions(p)
    assert((after -- before).forall(f =>
      parts.get(f).exists(_.get("lang").contains("fr"))))
    assert(idSet(spark.read.format("graft-table").load(p)) === idSet(docs))
  }

  test("metadata columns: _file and _pos are queryable from SQL, and " +
      "on a masked table survivors keep their PHYSICAL positions") {
    val p = tmpDir("rlmeta")
    TxLog.init(p)
    TxLog.append(spark, p, docs.limit(100).coalesce(1))
    val rows = spark.sql(
      s"SELECT doc_id, _file, _pos FROM graft_table.`$p`").collect()
    assert(rows.length === 100)
    assert(rows.forall(_.getString(1).endsWith(".parquet")))
    assert(rows.map(_.getLong(2)).toSet === (0L until 100L).toSet)
    // mask two physical rows merge-on-read: the survivors' reported
    // positions must stay physical (skipped, not renumbered)
    val byPos = rows.sortBy(_.getLong(2)).map(_.getLong(0))
    TxLog.deleteWhereDv(spark, p, "doc_id",
      Seq(byPos(0), byPos(5)).sorted)
    val after = spark.sql(s"SELECT _pos FROM graft_table.`$p`")
      .collect().map(_.getLong(0)).toSet
    assert(after === (0L until 100L).toSet -- Set(0L, 5L))
  }

  test("SQL UPDATE is one merge-on-read commit: old positions masked, " +
      "new rows appended, NO live data file rewritten") {
    val p = tmpDir("rlupd")
    TxLog.init(p)
    TxLog.append(spark, p,
      docs.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions("doc_id"))
    val before = TxLog.resolve(p).files.toSet

    spark.sql(s"UPDATE graft_table.`$p` SET lang = 'xx' " +
      "WHERE doc_id % 10 = 3")

    val snap = TxLog.resolve(p)
    assert(snap.version === 1L)
    // merge-on-read: every pre-update file is STILL live (masked, not
    // rewritten); the new rows are appended files
    assert(before.subsetOf(snap.files.toSet))
    assert(snap.dvFiles.nonEmpty)
    val out = spark.read.format("graft-table").load(p)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) ->
        (if (r.getLong(0) % 10 == 3) "xx" else r.getString(1))).toMap
    assert(out === expect)
    // the pre-update state stays time-travel readable
    assert(spark.read.format("graft-table").option("versionAsOf", "0")
      .load(p).filter(col("lang") === "xx").count() === 0L)
  }

  test("SQL MERGE INTO: matched rows update merge-on-read, unmatched " +
      "rows insert — one commit") {
    val p = tmpDir("rlmerge")
    TxLog.init(p)
    TxLog.append(spark, p, docs.filter(col("doc_id") < 400).coalesce(2))
    val srcDf = docs.filter(col("doc_id") >= 200)
      .withColumn("lang", lit("mg"))
    srcDf.createOrReplaceTempView("rl_merge_src")
    val before = TxLog.resolve(p).files.toSet

    spark.sql(s"MERGE INTO graft_table.`$p` t " +
      "USING rl_merge_src s ON t.doc_id = s.doc_id " +
      "WHEN MATCHED THEN UPDATE SET t.lang = s.lang " +
      "WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars) " +
      "VALUES (s.doc_id, s.lang, s.n_chars)")

    val snap = TxLog.resolve(p)
    assert(snap.version === 1L)
    assert(before.subsetOf(snap.files.toSet)) // nothing rewritten
    val out = spark.read.format("graft-table").load(p)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = docs.select("doc_id", "lang").collect().map { r =>
      val id = r.getLong(0)
      id -> (if (id >= 200) "mg" else r.getString(1))
    }.toMap
    assert(out === expect)
  }

  test("DELETE routes by predicate shape: a translatable WHERE stays " +
      "the metadata copy-on-write delete; a non-translatable WHERE " +
      "goes row-level and writes a deletion vector instead of " +
      "rewriting files") {
    val p = tmpDir("rlroute")
    TxLog.init(p)
    TxLog.append(spark, p, docs.coalesce(2))
    val all = idSet(docs)
    val v0Files = TxLog.resolve(p).files.toSet

    // non-translatable (modulo): row-level → dv commit, zero file churn
    spark.sql(s"DELETE FROM graft_table.`$p` WHERE doc_id % 7 = 2")
    val v1 = TxLog.resolve(p)
    assert(v1.files.toSet === v0Files, "row-level delete rewrote files")
    assert(v1.dvFiles.nonEmpty)
    val after1 = all.filterNot(_ % 7 == 2)
    assert(idSet(spark.read.format("graft-table").load(p)) === after1)

    // translatable (equality): the metadata SupportsDelete path — the
    // hit files REWRITE (copy-on-write) and no new mask appears
    val dvBefore = v1.dvFiles.toSet
    spark.sql(s"DELETE FROM graft_table.`$p` WHERE lang = 'fr'")
    val v2 = TxLog.resolve(p)
    assert(v2.files.toSet !== v1.files.toSet,
      "metadata delete should have rewritten the hit files")
    assert(v2.dvFiles.toSet.subsetOf(dvBefore), "unexpected new mask")
    assert(idSet(spark.read.format("graft-table").load(p)) ===
      idSet(docs.filter(col("lang") =!= "fr")).intersect(after1))
  }

  test("SQL UPDATE on an already-masked table: surviving rows update, " +
      "masked rows stay deleted (never resurrected), one combined mask") {
    val p = tmpDir("rlupdmask")
    TxLog.init(p)
    TxLog.append(spark, p, docs.limit(200).coalesce(1))
    val ids = idSet(docs.limit(200))
    val masked = ids.filter(_ % 11 == 4)
    assert(masked.nonEmpty)
    TxLog.deleteWhereDv(spark, p, "doc_id", masked.toSeq.sorted) // v1

    spark.sql(s"UPDATE graft_table.`$p` SET n_chars = -1 " +
      "WHERE doc_id % 3 = 0") // v2: same file holds masked + updated

    val out = spark.read.format("graft-table").load(p)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet === (ids -- masked))
    assert(out.forall { case (id, n) => (id % 3 == 0) == (n == -1L) })
  }

  test("a row-level write that loses its version race to a " +
      "CONFLICTING winner (the base file removed under it) fails " +
      "loudly and leaves no staged files or sidecar behind") {
    val p = tmpDir("rlrace")
    TxLog.init(p)
    TxLog.append(spark, p, docs.limit(100).coalesce(1))
    val baseFile = TxLog.resolve(p).files.head
    // deterministic racing winner: when the UPDATE's commit publish
    // arrives for version 1, a commit REMOVING the file the UPDATE's
    // mask targets lands there first — not re-stampable, the masked
    // positions are stale
    val prev = TxIo.wrapper
    TxIo.wrapper = inner => new DelegatingIo(inner) {
      override def putIfAbsent(path: String, content: String): Unit = {
        if (path.startsWith(p) && path.endsWith("00000001.json") &&
            !content.contains("\"op\":\"append\""))
          inner.putIfAbsent(path,
            s"""{"v":1,"op":"delete","adds":[],""" +
              s""""removes":["$baseFile"],"rows":0,"rowsRemoved":0}""")
        inner.putIfAbsent(path, content)
      }
    }
    try {
      val e = intercept[Exception](
        spark.sql(s"UPDATE graft_table.`$p` SET lang = 'xx' " +
          "WHERE doc_id % 2 = 0"))
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).toSeq
      assert(chain(e).exists(_.contains("conflict")),
        chain(e).mkString(" | "))
    } finally TxIo.wrapper = prev
    // loser cleaned up: no staged dirs, no orphan part/dv files beyond
    // v0's single (now logically removed) data file
    val snap = TxLog.resolve(p)
    assert(snap.version === 1L && snap.files.isEmpty &&
      snap.dvFiles.isEmpty)
    val leftovers = java.nio.file.Files.list(
        java.nio.file.Paths.get(p)).toArray.map(_.toString)
      .filter(_.contains("_staged"))
    assert(leftovers.isEmpty, leftovers.toSeq.toString)
    val dataFiles = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$p/data")).toArray.map(_.toString)
    assert(dataFiles.length === 1, dataFiles.toSeq.toString)
  }

  test("a row-level write that loses its version race to a DISJOINT " +
      "winner (a data-free commit) re-stamps at the next version and " +
      "lands — optimistic concurrency") {
    val p = tmpDir("rlrace2")
    TxLog.init(p)
    TxLog.append(spark, p, docs.limit(100).coalesce(1))
    val fired = new AtomicBoolean(false)
    val prev = TxIo.wrapper
    TxIo.wrapper = inner => new DelegatingIo(inner) {
      override def putIfAbsent(path: String, content: String): Unit = {
        if (path.startsWith(p) && path.endsWith("00000001.json") &&
            !content.contains("\"op\":\"append\"") &&
            fired.compareAndSet(false, true))
          inner.putIfAbsent(path,
            """{"v":1,"op":"append","adds":[],"removes":[],""" +
              """"rows":0,"rowsRemoved":0}""")
        inner.putIfAbsent(path, content)
      }
    }
    try spark.sql(s"UPDATE graft_table.`$p` SET lang = 'xx' " +
      "WHERE doc_id % 2 = 0")
    finally TxIo.wrapper = prev
    // the UPDATE serialized AFTER the winner: v1 = winner, v2 = update
    assert(TxLog.resolve(p).version === 2L)
    val out = spark.read.format("graft-table").load(p)
    assert(out.filter(col("doc_id") % 2 === 0 &&
      col("lang") =!= "xx").count() === 0L)
    assert(out.count() === 100L)
    val leftovers = java.nio.file.Files.list(
        java.nio.file.Paths.get(p)).toArray.map(_.toString)
      .filter(_.contains("_staged"))
    assert(leftovers.isEmpty, leftovers.toSeq.toString)
  }

  test("constraints gate SQL UPDATE's re-inserted rows like any append") {
    val p = tmpDir("rlconstraint")
    TxLog.init(p)
    TxLog.append(spark, p, docs.limit(100).coalesce(1))
    TxLog.addConstraint(spark, p, "n_chars_nonneg", "n_chars >= 0")
    val e = intercept[Exception](
      spark.sql(s"UPDATE graft_table.`$p` SET n_chars = -5 " +
        "WHERE doc_id % 2 = 0"))
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("n_chars_nonneg")),
      chain(e).mkString(" | "))
    // rejected atomically: no new version, no mutation
    assert(TxLog.resolve(p).version === 1L)
    assert(spark.read.format("graft-table").load(p)
      .filter(col("n_chars") < 0).count() === 0L)
  }

  test("CDC over a SQL UPDATE interval reports the old rows out and " +
      "the new rows in") {
    val p = tmpDir("rlcdc")
    TxLog.init(p)
    TxLog.append(spark, p, docs.limit(100).coalesce(1))
    val ids = idSet(docs.limit(100))
    val hit = ids.filter(_ % 9 == 1)
    assert(hit.nonEmpty)
    spark.sql(s"UPDATE graft_table.`$p` SET lang = 'up' " +
      "WHERE doc_id % 9 = 1")
    val ch = TxLog.changesBetween(spark, p, 0L, 1L)
      .select("doc_id", "lang", "change").collect()
    val dels = ch.filter(_.getString(2) == "delete")
      .map(_.getLong(0)).toSet
    val ins = ch.filter(_.getString(2) == "insert")
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dels === hit)
    assert(ins.keySet === hit && ins.values.forall(_ == "up"))
  }

  test("the q_table_sql_update lifecycle's own log shows merge-on-read: " +
      "every seed file still live, the update is mask + appends") {
    val p = registry.TableQueries.txlogSqlUpdTable(spark, testdata)
    val v0 = TxLog.resolve(p, Some(0L)).files.toSet
    val head = TxLog.resolve(p)
    assert(head.version === 1L)
    assert(v0.subsetOf(head.files.toSet),
      s"the SQL UPDATE rewrote live files: ${v0 -- head.files.toSet}")
    assert(head.dvFiles.nonEmpty, "no deletion vector published")
    assert((head.files.toSet -- v0).nonEmpty, "no new images appended")
  }

  test("model fuzz: random SQL mutation + maintenance lifecycles " +
      "match an in-memory model at every committed version, and time " +
      "travel replays every recorded state") {
    val rnd = new scala.util.Random(20260816L)
    def readState(p: String, v: Option[Long]): Map[Long, (String, Long)] = {
      val r = spark.read.format("graft-table")
      v.foreach(x => r.option("versionAsOf", x.toString))
      r.load(p).select("doc_id", "lang", "n_chars").collect()
        .map(row => row.getLong(0) ->
          (row.getString(1), row.getLong(2))).toMap
    }
    for (iter <- 0 until 2) {
      val p = tmpDir(s"rlfuzz$iter")
      TxLog.init(p)
      var model = Map.empty[Long, (String, Long)]
      var nextId = 0L
      def freshRows(n: Int, lang: String): Seq[(Long, String, Long)] = {
        val rows = (0 until n).map { i =>
          (nextId + i, lang, rnd.nextInt(1000).toLong)
        }
        nextId += n
        rows
      }
      def viewOf(rows: Seq[(Long, String, Long)], name: String): Unit = {
        import spark.implicits._
        rows.toDF("doc_id", "lang", "n_chars")
          .createOrReplaceTempView(name)
      }
      // seed through the writer
      locally {
        import spark.implicits._
        val rows = freshRows(80, "s0")
        rows.toDF("doc_id", "lang", "n_chars").coalesce(2)
          .write.format("graft-table").mode("append").save(p)
        model = rows.map(r => r._1 -> (r._2, r._3)).toMap
      }
      val states = scala.collection.mutable.Buffer[
        (Long, Map[Long, (String, Long)])]()
      states += TxLog.resolve(p).version -> model

      for (step <- 0 until 10) {
        val opCase = rnd.nextInt(9)
        info(s"fuzz iter=$iter step=$step case=$opCase v=" +
          TxLog.resolve(p).version)
        opCase match {
          case 0 => // SQL INSERT INTO
            val rows = freshRows(rnd.nextInt(20) + 1, s"i$step")
            viewOf(rows, "rl_fuzz_src")
            spark.sql(s"INSERT INTO graft_table.`$p` " +
              "SELECT doc_id, lang, n_chars FROM rl_fuzz_src")
            model ++= rows.map(r => r._1 -> (r._2, r._3))
          case 1 => // row-level DELETE (modulo — never translatable)
            val k = rnd.nextInt(5) + 2
            val r0 = rnd.nextInt(k)
            spark.sql(s"DELETE FROM graft_table.`$p` " +
              s"WHERE doc_id % $k = $r0")
            model = model.filterNot { case (id, _) => id % k == r0 }
          case 2 => // metadata DELETE (range — translatable)
            val cut = rnd.nextLong(nextId + 1)
            spark.sql(s"DELETE FROM graft_table.`$p` " +
              s"WHERE doc_id >= $cut")
            model = model.filter { case (id, _) => id < cut }
          case 3 => // SQL UPDATE
            val k = rnd.nextInt(5) + 2
            val r0 = rnd.nextInt(k)
            spark.sql(s"UPDATE graft_table.`$p` SET lang = 'u$step', " +
              s"n_chars = n_chars + 1 WHERE doc_id % $k = $r0")
            model = model.map {
              case (id, (_, n)) if id % k == r0 =>
                id -> (s"u$step", n + 1)
              case other => other
            }
          case 4 => // MERGE INTO: update half the survivors + inserts
            val upd = model.keys.toSeq.sorted
              .filter(_ => rnd.nextBoolean())
              .map(id => (id, s"m$step", model(id)._2 + 100))
            val ins = freshRows(rnd.nextInt(10) + 1, s"m$step")
            viewOf(rnd.shuffle(upd ++ ins), "rl_fuzz_src")
            spark.sql(s"MERGE INTO graft_table.`$p` t " +
              "USING rl_fuzz_src s ON t.doc_id = s.doc_id " +
              "WHEN MATCHED THEN UPDATE SET t.lang = s.lang, " +
              "t.n_chars = s.n_chars " +
              "WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars) " +
              "VALUES (s.doc_id, s.lang, s.n_chars)")
            model ++= (upd ++ ins).map(r => r._1 -> (r._2, r._3))
          case 5 => // maintenance: compact or optimize (model no-op)
            if (model.nonEmpty) {
              if (rnd.nextBoolean())
                spark.sql("CALL graft_table.system.compact(" +
                  s"table => '$p', target_bytes => 134217728)")
              else
                spark.sql("CALL graft_table.system.optimize(" +
                  s"table => '$p', zorder_by => 'doc_id', " +
                  "num_files => 2)")
            }
          case 6 => // maintenance: purge_masks / checkpoint (no-op)
            if (rnd.nextBoolean())
              spark.sql("CALL graft_table.system.purge_masks(" +
                s"table => '$p', min_fraction => 0.3)")
            else
              spark.sql("CALL graft_table.system.checkpoint(" +
                s"table => '$p')")
          case 7 => // TRUNCATE: metadata-only empty head
            spark.sql(s"TRUNCATE TABLE graft_table.`$p`")
            model = Map.empty
          case 8 => // RESTORE to a random earlier state (model rollback)
            val head = TxLog.resolve(p).version
            val candidates = states.filter { case (v, m) =>
              v < head && m.nonEmpty
            }
            if (candidates.nonEmpty) {
              val (v, m) = candidates(rnd.nextInt(candidates.size))
              spark.sql("CALL graft_table.system.restore(" +
                s"table => '$p', version => $v)")
              model = m
            }
        }
        assert(readState(p, None) === model,
          s"iter=$iter step=$step head mismatch")
        states += TxLog.resolve(p).version -> model
      }
      // time travel: every recorded state replays exactly (dedupe —
      // a below-threshold purge records no new version)
      states.groupBy(_._1).foreach { case (v, ss) =>
        assert(readState(p, Some(v)) === ss.last._2,
          s"iter=$iter time travel to v$v mismatch")
      }
      // schema-evolution tail: ALTER ADD COLUMN must not disturb any
      // recorded state (pure metadata), the new column reads NULL on
      // every surviving row, and a full-arity INSERT supplies it
      spark.sql(s"ALTER TABLE graft_table.`$p` ADD COLUMN extra BIGINT")
      assert(readState(p, None) === model,
        s"iter=$iter head changed across ALTER")
      val head = spark.read.format("graft-table").load(p)
      assert(head.columns.contains("extra"))
      assert(head.filter(col("extra").isNotNull).count() === 0L)
      spark.sql(s"INSERT INTO graft_table.`$p` " +
        s"VALUES (${nextId}, 'alt', 1, 42)")
      val post = spark.read.format("graft-table").load(p)
      assert(post.filter(col("extra") === 42).count() === 1L)
      assert(post.count() === model.size + 1L)
      // ... and the pre-ALTER states still time-travel exactly
      states.groupBy(_._1).foreach { case (v, ss) =>
        assert(readState(p, Some(v)) === ss.last._2,
          s"iter=$iter post-ALTER time travel to v$v mismatch")
      }
      // column-mapping tail: RENAME + DROP COLUMN are pure metadata —
      // every row keeps its values under the new name, the dropped
      // column vanishes, mutation through the mapping works, and
      // pre-mapping versions still replay under their OWN names
      val modelPlus = model + (nextId -> ("alt", 1L))
      spark.sql(s"ALTER TABLE graft_table.`$p` " +
        "RENAME COLUMN n_chars TO chars2")
      spark.sql(s"ALTER TABLE graft_table.`$p` DROP COLUMN extra")
      val mapped = spark.read.format("graft-table").load(p)
      assert(mapped.columns.toSeq === Seq("doc_id", "lang", "chars2"))
      val mappedState = mapped.collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(mappedState === modelPlus,
        s"iter=$iter values must survive RENAME/DROP unchanged")
      spark.sql(s"UPDATE graft_table.`$p` SET chars2 = -5 " +
        s"WHERE doc_id = $nextId")
      assert(spark.read.format("graft-table").load(p)
        .filter(col("doc_id") === nextId)
        .head.getAs[Long]("chars2") === -5L)
      states.groupBy(_._1).foreach { case (v, ss) =>
        assert(readState(p, Some(v)) === ss.last._2,
          s"iter=$iter post-mapping time travel to v$v mismatch")
      }
      // type-widening tail: ALTER COLUMN TYPE is pure metadata — the
      // pre-widen int32 file upcasts in the reader, a post-widen
      // value only a long can hold lands next to it, and every
      // earlier state still time-travels exactly
      spark.sql(s"ALTER TABLE graft_table.`$p` ADD COLUMN small INT")
      spark.sql(s"INSERT INTO graft_table.`$p` " +
        s"VALUES (${nextId + 1}, 'wi', 7, 123)")
      spark.sql(s"ALTER TABLE graft_table.`$p` " +
        "ALTER COLUMN small TYPE BIGINT")
      spark.sql(s"INSERT INTO graft_table.`$p` " +
        s"VALUES (${nextId + 2}, 'wi', 8, 6000000000)")
      val widened = spark.read.format("graft-table").load(p)
      assert(widened.schema("small").dataType ===
        org.apache.spark.sql.types.LongType)
      assert(widened.filter(col("small") === 123L).count() === 1L,
        s"iter=$iter pre-widen int32 value must upcast, not null out")
      assert(widened.filter(col("small") === 6000000000L)
        .count() === 1L)
      states.groupBy(_._1).foreach { case (v, ss) =>
        assert(readState(p, Some(v)) === ss.last._2,
          s"iter=$iter post-widen time travel to v$v mismatch")
      }
    }
  }

  test("a small UPDATE consolidates its task-fanned insert files into " +
      "ONE new image file; CALL history shows the whole ledger") {
    val p = tmpDir("rlsmall")
    TxLog.init(p)
    TxLog.append(spark, p, docs.repartition(8, col("doc_id")))
    val seed = TxLog.resolve(p).files.toSet

    // 8 input files → 8 write tasks, but the new images are tiny:
    // exactly ONE consolidated add must publish
    spark.sql(s"UPDATE graft_table.`$p` SET lang = 'c' " +
      "WHERE doc_id % 4 = 1")
    val head = TxLog.resolve(p)
    val newFiles = head.files.toSet -- seed
    assert(newFiles.size === 1, s"expected 1 consolidated add: $newFiles")
    assert(seed.subsetOf(head.files.toSet))
    val out = spark.read.format("graft-table").load(p)
      .filter(col("lang") === "c").count()
    assert(out === idSet(docs).count(_ % 4 == 1))
    // no consolidation staging leftovers
    assert(!java.nio.file.Files.list(java.nio.file.Paths.get(p))
      .toArray.map(_.toString).exists(_.contains("_staged")))

    // the ledger in SQL: seed append + the update-dv commit
    val hist = spark.sql(
      s"CALL graft_table.system.history(table => '$p')").collect()
    assert(hist.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((0L, "append"), (1L, "update-dv")))
    assert(hist(1).getLong(4) === out) // rows added by the update
    assert(hist(1).getLong(5) === out) // rows masked by the update
  }

  test("an append-only table stream refuses a SQL UPDATE's commit " +
      "loudly (fail-closed op guard); the cdc stream consumes it") {
    val p = tmpDir("rlstream")
    TxLog.init(p)
    TxLog.append(spark, p, docs.limit(100).coalesce(1))
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq

    // both streams up BEFORE the update, so the commit arrives as an
    // INCREMENTAL interval: the append-only one must fail the op
    // guard loudly, the cdc one must consume the change feed
    val out = new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.Row]
    val q = spark.readStream.format("graft-table").load(p)
      .writeStream
      .foreachBatch((df: DataFrame, _: Long) =>
        out.synchronized { out ++= df.collect() }: Unit)
      .option("checkpointLocation", tmpDir("rlstream-ckpt")).start()
    val cdcOut = new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.Row]
    val qc = spark.readStream.format("graft-table")
      .option("cdc", "true").load(p)
      .writeStream
      .foreachBatch((df: DataFrame, _: Long) =>
        cdcOut.synchronized { cdcOut ++= df.collect() }: Unit)
      .option("checkpointLocation", tmpDir("rlstream-cdc-ckpt")).start()
    try {
      q.processAllAvailable()
      qc.processAllAvailable()
      assert(out.size === 100)
      cdcOut.clear() // keep only the update interval's feed

      spark.sql(s"UPDATE graft_table.`$p` SET lang = 'st' " +
        "WHERE doc_id % 2 = 0")

      val e = intercept[Exception](q.processAllAvailable())
      assert(chain(e).exists(m => m.contains("append-only") &&
        m.contains("update-dv")), chain(e).mkString(" | "))
      qc.processAllAvailable()
    } finally { q.stop(); qc.stop() }
    val upd = cdcOut.filter(r => r.getAs[String]("change") == "delete")
      .map(_.getAs[Long]("doc_id"))
    assert(upd.nonEmpty && upd.forall(_ % 2 == 0))
    val ins = cdcOut.filter(r => r.getAs[String]("change") == "insert")
    assert(ins.nonEmpty && ins.forall(_.getAs[String]("lang") == "st"))
  }

  test("MERGE INTO clause zoo: WHEN MATCHED DELETE, conditional " +
      "UPDATE, and WHEN NOT MATCHED BY SOURCE all land in one commit") {
    val p = tmpDir("rlmergezoo")
    TxLog.init(p)
    TxLog.append(spark, p, docs.filter(col("doc_id") < 300).coalesce(2))
    val tgt = idSet(docs.filter(col("doc_id") < 300))
    // source: ids in [100, 400)
    docs.filter(col("doc_id") >= 100 && col("doc_id") < 400)
      .withColumn("lang", lit("zz"))
      .createOrReplaceTempView("rl_zoo_src")

    spark.sql(s"MERGE INTO graft_table.`$p` t " +
      "USING rl_zoo_src s ON t.doc_id = s.doc_id " +
      "WHEN MATCHED AND t.doc_id % 2 = 0 THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET t.lang = s.lang " +
      "WHEN NOT MATCHED BY SOURCE AND t.doc_id < 50 THEN DELETE")

    assert(TxLog.resolve(p).version === 1L) // ONE commit
    val out = spark.read.format("graft-table").load(p)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = docs.filter(col("doc_id") < 300)
      .select("doc_id", "lang").collect().flatMap { r =>
        val id = r.getLong(0)
        val matched = id >= 100 && id < 300
        if (matched && id % 2 == 0) None // matched delete
        else if (matched) Some(id -> "zz") // matched update
        else if (id < 50) None // not-matched-by-source delete
        else Some(id -> r.getString(1))
      }.toMap
    assert(out === expect)
    assert(tgt.nonEmpty) // sanity: the target wasn't empty
  }

  test("SQL UPDATE on a schema-evolved table: pre-evolution rows " +
      "update with the new column read as null") {
    val p = tmpDir("rlevolve")
    TxLog.init(p)
    val base = docs.limit(100)
    base.select("doc_id", "lang", "n_chars").coalesce(1)
      .write.format("graft-table").mode("append").save(p) // v0: 3 cols
    base.limit(0).withColumn("score", lit(1.5))
      .write.format("graft-table").mode("append").save(p) // v1: +score
    val ids = idSet(base)

    spark.sql(s"UPDATE graft_table.`$p` SET lang = 'ev' " +
      "WHERE doc_id % 2 = 0") // over the evolved 4-col schema

    val out = spark.read.format("graft-table").load(p)
      .select("doc_id", "lang", "score").collect()
    assert(out.map(_.getLong(0)).toSet === ids)
    assert(out.forall(r => (r.getLong(0) % 2 == 0) ==
      (r.getString(1) == "ev")))
    assert(out.forall(_.isNullAt(2))) // score stayed null everywhere
  }

  test("catalog column pruning: COUNT(*) (empty required schema) and " +
      "single-column SELECTs plan and answer correctly") {
    val p = tmpDir("rlprune")
    TxLog.init(p)
    TxLog.append(spark, p, docs.limit(150).coalesce(1))
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_table.`$p`")
      .collect().head.getLong(0) === 150L)
    assert(spark.sql(
        s"SELECT sum(n_chars) AS s FROM graft_table.`$p`")
      .collect().head.getLong(0) ===
      docs.limit(150).agg(sum("n_chars")).collect().head.getLong(0))
    // and on a masked table (row-based reader path)
    TxLog.deleteWhereDv(spark, p, "doc_id",
      idSet(docs.limit(150)).toSeq.sorted.take(10))
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_table.`$p`")
      .collect().head.getLong(0) === 140L)
  }

  test("TRUNCATE TABLE and DESCRIBE work through the catalog: " +
      "truncate is one logged commit (history intact), describe " +
      "names the log-recorded schema") {
    val p = tmpDir("rltrunc")
    TxLog.init(p)
    TxLog.append(spark, p, docs.limit(100).coalesce(1))

    val desc = spark.sql(s"DESCRIBE TABLE graft_table.`$p`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.get("doc_id").contains("bigint"))
    assert(desc.get("lang").contains("string"))
    assert(desc.get("n_chars").contains("bigint"))

    spark.sql(s"TRUNCATE TABLE graft_table.`$p`")
    assert(spark.read.format("graft-table").load(p).count() === 0L)
    assert(TxLog.resolve(p).version === 1L)
    assert(spark.read.format("graft-table").option("versionAsOf", "0")
      .load(p).count() === 100L)
  }

  test("_metadata.file_path over a PARTIALLY masked table (masked + " +
      "unmasked files in one scan) reads safely — the owned-row copy " +
      "regression found by the model fuzz") {
    import spark.implicits._
    val p = tmpDir("rlownedrow")
    TxLog.init(p)
    (0L until 80L).map(i => (i, s"l$i", i * 3))
      .toDF("doc_id", "lang", "n_chars").coalesce(2)
      .write.format("graft-table").mode("append").save(p)
    // the UPDATE masks the two seed files and appends an UNMASKED
    // image file — the mixed reader split inside one scan
    spark.sql(s"UPDATE graft_table.`$p` SET lang = 'u' " +
      "WHERE doc_id % 5 = 0")
    val withFilter = spark.read.format("graft-table").load(p)
      .filter(col("doc_id") >= 40)
      .select(col("_metadata.file_path")).distinct().collect()
    assert(withFilter.length >= 2) // seed file + image file
    val noFilter = spark.read.format("graft-table").load(p)
      .select(col("_metadata.file_path")).distinct().collect()
    assert(noFilter.length === 3)
    // and the metadata DELETE that first exposed it completes exactly
    spark.sql(s"DELETE FROM graft_table.`$p` WHERE doc_id >= 40")
    assert(spark.read.format("graft-table").load(p).count() === 40L)
  }

  test("constraints via CALL: add_constraint gates later SQL inserts " +
      "and updates, drop_constraint retires the gate") {
    val p = tmpDir("rlconsproc")
    TxLog.init(p)
    TxLog.append(spark, p, docs.limit(50).coalesce(1))
    assert(spark.sql("CALL graft_table.system.add_constraint(" +
      s"table => '$p', name => 'pos_chars', expr => 'n_chars >= 0')")
      .collect().head.getLong(0) === 1L)

    docs.limit(5).withColumn("n_chars", lit(-1L))
      .createOrReplaceTempView("rl_cons_bad")
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    val e = intercept[Exception](spark.sql(
      s"INSERT INTO graft_table.`$p` SELECT * FROM rl_cons_bad"))
    assert(chain(e).exists(_.contains("pos_chars")), chain(e).mkString("|"))
    assert(TxLog.resolve(p).version === 1L) // nothing landed

    spark.sql("CALL graft_table.system.drop_constraint(" +
      s"table => '$p', name => 'pos_chars')") // v2
    spark.sql(s"INSERT INTO graft_table.`$p` SELECT * FROM rl_cons_bad")
    assert(spark.read.format("graft-table").load(p)
      .filter(col("n_chars") < 0).count() === 5L)
  }

  test("row-level UPDATE composes with hive-partitioned tables: the " +
      "partition column survives in the new images (conservative " +
      "metadata, correct rows)") {
    val p = tmpDir("rlpart")
    TxLog.init(p)
    TxLog.appendPartitioned(spark, p,
      docs.repartition(2, col("doc_id")), Seq("lang"))
    val seed = TxLog.resolve(p).files.toSet

    spark.sql(s"UPDATE graft_table.`$p` SET n_chars = -1 " +
      "WHERE lang = 'fr' AND doc_id % 2 = 0")

    val head = TxLog.resolve(p)
    assert(seed.subsetOf(head.files.toSet)) // merge-on-read held
    val out = spark.read.format("graft-table").load(p)
      .select("doc_id", "lang", "n_chars").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val expect = docs.collect().map { r =>
      val (id, lang, n) = (r.getLong(0), r.getString(1), r.getLong(2))
      id -> (lang, if (lang == "fr" && id % 2 == 0) -1L else n)
    }.toMap
    assert(out === expect)
  }

  test("deleteWherePredicate composes with hive-partitioned tables: " +
      "partition metadata prunes the discovery and the partition " +
      "columns survive in the rewritten files") {
    val p = tmpDir("sqldelpart")
    TxLog.init(p)
    TxLog.appendPartitioned(spark, p,
      docs.repartition(2, col("doc_id")), Seq("lang"))
    val before = TxLog.resolve(p).files.toSet

    // delete HALF of one partition — the partition filter prunes the
    // discovery to lang=fr files, the doc_id bound keeps survivors
    val frIds = idSet(docs.filter(col("lang") === "fr"))
    val cut = frIds.toSeq.sorted.apply(frIds.size / 2)
    TxLog.deleteWherePredicate(spark, p,
      col("lang") === "fr" && col("doc_id") < cut)

    val after = TxLog.resolve(p).files.toSet
    val untouched = before.intersect(after)
    // every non-fr partition file is untouched on disk
    assert((before -- after).forall(_.contains("lang=fr")),
      s"non-fr files rewrote: ${(before -- after).filterNot(_.contains("lang=fr"))}")
    assert(untouched.exists(!_.contains("lang=fr")))
    // rows: fr below the cut gone, everything else intact (partition
    // column still present and correct in the rewritten files)
    val out = spark.read.format("graft-table").load(p)
    assert(idSet(out) === idSet(docs) -- frIds.filter(_ < cut))
    assert(out.filter(col("lang").isNull).count() === 0L)
  }
}
