package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{PartitionTransforms, TxLog}

/** Round-34 surface: HIDDEN partition transforms (Iceberg-style).
  *
  * The table is laid out by derived values — `days(ts)`,
  * `bucket(n,user_id)`, `truncate(w,code)` — that never appear in the
  * logical schema; queries keep filtering on the SOURCE columns and
  * the planner rewrites those filters into partition predicates at
  * file-skipping time. The tests pin:
  *  - value parity (every read equals the unpartitioned frame);
  *  - hidden-column invisibility on snapshot AND SQL reads;
  *  - file pruning through the EAGER index (day ranges, bucket
  *    equality — the case `[min,max]` stats cannot discriminate);
  *  - row-group skipping through the PRUNED sidecar path (the
  *    synopsis carries partition columns);
  *  - SQL INSERT INTO re-deriving the layout;
  *  - the guards: spec re-declaration, identity/transform mixing,
  *    renaming/dropping a transform source, NULL sources.
  */
class RoundThirtyFourSpec extends SparkSuite {

  // 2024-01-01T00:00:00Z in epoch millis; deterministic event frame
  // spanning `days` days, a few events per (day, user)
  private val Day0Millis = 1704067200000L

  private def events(nDays: Int, nUsers: Int,
                     perDay: Int = 8): DataFrame = {
    import spark.implicits._
    val rows = for {
      d <- 0 until nDays
      i <- 0 until perDay
    } yield {
      // users spread sparsely (multiples of 1000) so per-file
      // [min,max] ranges are WIDE — the regime where range stats stop
      // discriminating point lookups and bucketing has to win
      val user = ((d * perDay + i) % nUsers) * 1000
      val ts = new Timestamp(
        Day0Millis + d * 86400000L + i * 3600000L + 1234L)
      (d.toLong * 100 + i, ts, user.toLong, s"k${i % 3}")
    }
    rows.toDF("event_id", "ts", "user_id", "kind")
  }

  private def filesRead(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    df.collect()
    def rec(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => rec(a.executedPlan)
      case sc: FileSourceScanExec => Seq(sc)
      case other =>
        other.children.flatMap(rec) ++ other.subqueries.flatMap(rec)
    }
    rec(df.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
  }

  test("transform spec parse/canonicalize round trip + validation") {
    assert(PartitionTransforms.parse("days(ts)").spec === "days(ts)")
    assert(PartitionTransforms.parse("bucket(16, user_id)").spec ===
      "bucket(16,user_id)")
    assert(PartitionTransforms.parse("truncate(4,code)").hiddenName ===
      "_tp_trunc_code")
    intercept[IllegalArgumentException](
      PartitionTransforms.parse("months(ts)"))
    intercept[IllegalArgumentException](
      PartitionTransforms.parse("bucket(0,x)"))
  }

  test("days+bucket layout: value parity, hidden columns invisible " +
      "on snapshot and SQL reads") {
    val s = spark
    val root = tableDir("tp-basic")
    val df = events(nDays = 6, nUsers = 12)
    TxLog.appendTransformPartitioned(s, root, df,
      Seq("days(ts)", "bucket(4,user_id)"))

    // the log records the spec and the hidden partition columns
    assert(TxLog.partitionTransforms(root) ===
      Seq("days(ts)", "bucket(4,user_id)"))
    assert(TxLog.partitionColumns(root) ===
      Seq("_tp_days_ts", "_tp_bucket_user_id"))
    // every file carries both hidden partition values
    val parts = TxLog.filePartitions(root)
    assert(parts.nonEmpty)
    assert(parts.values.forall(m =>
      m.contains("_tp_days_ts") && m.contains("_tp_bucket_user_id")))

    // snapshot: exact logical schema (no _tp_ leak), exact values
    val snap = TxLog.snapshot(s, root)
    assert(snap.columns.toSeq === df.columns.toSeq)
    assert(snap.count() === df.count())
    assert(snap.exceptAll(df).isEmpty && df.exceptAll(snap).isEmpty)

    // connector + SQL: same schema, same values
    val conn = s.read.format("graft-table").load(root)
    assert(conn.columns.toSeq === df.columns.toSeq)
    assert(conn.exceptAll(df).isEmpty)
    val viaSql = s.sql(
      s"SELECT * FROM graft_table.`$root` WHERE user_id = 3")
    assert(viaSql.columns.toSeq === df.columns.toSeq)
    assert(viaSql.count() === df.filter(col("user_id") === 3).count())
  }

  test("day-range and bucket-equality filters prune files through " +
      "the eager index, with exact value parity") {
    val s = spark
    val root = tableDir("tp-prune")
    // one input partition -> one file per (day, bucket) dir holding
    // that bucket's FULL user set for the day: wide per-file ranges,
    // the regime where bucketing must out-prune [min,max] stats
    val df = events(nDays = 8, nUsers = 16, perDay = 16).coalesce(1)
    TxLog.appendTransformPartitioned(s, root, df,
      Seq("days(ts)", "bucket(4,user_id)"))
    val parts = TxLog.filePartitions(root)
    val total = parts.size

    // a two-day window: only files of those day buckets are read
    val lo = new Timestamp(Day0Millis + 2 * 86400000L)
    val hi = new Timestamp(Day0Millis + 4 * 86400000L)
    val dayFiles = parts.count { case (_, m) =>
      val d = m("_tp_days_ts").toLong - 1000000L - 19723L
      d == 2L || d == 3L
    }
    assert(dayFiles > 0 && dayFiles < total)
    val ranged = s.read.format("graft-table").load(root)
      .filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
    assert(filesRead(ranged) === dayFiles.toLong,
      s"expected the $dayFiles files of days 2..3 out of $total")
    assert(ranged.count() ===
      df.filter(col("ts") >= lit(lo) && col("ts") < lit(hi)).count())

    // bucket equality: the key's own bucket AND the ordinary
    // [min,max] stats both prune — the read must hit exactly their
    // intersection, and the bucket must cut files the ranges alone
    // would admit (the high-cardinality case stats cannot win)
    val idx = TxLog.skippingIndex(root, None)
    def bvalOf(u: Long): String = s.sql(
      s"SELECT format_string('%05d', pmod(xxhash64(CAST($u AS BIGINT)), 4))")
      .head().getString(0)
    def statsAdmit(u: Long)(f: String): Boolean =
      idx.int.get(f).flatMap(_.get("user_id"))
        .forall { case (mn, mx) => u >= mn && u <= mx }
    def expectedFor(u: Long): Int = parts.count { case (f, m) =>
      m("_tp_bucket_user_id") == bvalOf(u) && statsAdmit(u)(f)
    }

    // a PRESENT key: exact files = its bucket ∧ its stats ranges
    val u = 7000L
    val bucketFiles = parts.count(_._2("_tp_bucket_user_id") == bvalOf(u))
    assert(bucketFiles > 0 && bucketFiles < total)
    val eq = s.read.format("graft-table").load(root)
      .filter(col("user_id") === u)
    assert(filesRead(eq) === expectedFor(u).toLong,
      s"expected bucket∧stats ${expectedFor(u)} files out of $total")
    assert(eq.count() === df.filter(col("user_id") === u).count() &&
      eq.count() > 0)

    // an ABSENT key inside most files' wide [min,max]: range stats
    // admit many files, the bucket rewrite cuts them — the
    // high-cardinality point-lookup case stats cannot win
    val ua = 7500L
    val statsOnlyA = parts.keys.count(statsAdmit(ua))
    val expectedA = expectedFor(ua)
    assert(expectedA < statsOnlyA,
      s"bucket pruning must cut beyond the min/max stats " +
        s"($expectedA vs stats-only $statsOnlyA)")
    val probe = s.read.format("graft-table").load(root)
      .filter(col("user_id") === ua)
    assert(filesRead(probe) === expectedA.toLong)
    assert(probe.count() === 0L)

    // combined: day window AND key — the intersection of all three
    val both = s.read.format("graft-table").load(root)
      .filter(col("ts") >= lit(lo) && col("ts") < lit(hi) &&
        col("user_id") === u)
    val bothFiles = parts.count { case (f, m) =>
      val d = m("_tp_days_ts").toLong - 1000000L - 19723L
      (d == 2L || d == 3L) && m("_tp_bucket_user_id") == bvalOf(u) &&
        statsAdmit(u)(f)
    }
    assert(filesRead(both) === bothFiles.toLong)
    assert(both.count() === df.filter(
      col("ts") >= lit(lo) && col("ts") < lit(hi) &&
        col("user_id") === u).count())
  }

  test("truncate(2,code) prunes prefix ranges and equality; unsafe " +
      "partition values refuse loudly") {
    val s = spark
    import s.implicits._
    val root = tableDir("tp-trunc")
    val df = Seq(
      ("aa1", 1L), ("aa2", 2L), ("ab1", 3L), ("ba1", 4L),
      ("bb7", 5L), ("ca0", 6L), ("cb2", 7L), ("cc3", 8L))
      .toDF("code", "v").repartition(2)
    TxLog.appendTransformPartitioned(s, root, df, Seq("truncate(2,code)"))
    val parts = TxLog.filePartitions(root)
    val snap = TxLog.snapshot(s, root)
    assert(snap.columns.toSeq === Seq("code", "v"))
    assert(snap.exceptAll(df).isEmpty)

    val eq = s.read.format("graft-table").load(root)
      .filter($"code" === "bb7")
    val bbFiles = parts.count(_._2("_tp_trunc_code") == "bb")
    assert(filesRead(eq) === bbFiles.toLong)
    assert(eq.count() === 1L)

    val range = s.read.format("graft-table").load(root)
      .filter($"code" >= "b" && $"code" < "c")
    val bFiles = parts.count { case (_, m) =>
      val p = m("_tp_trunc_code"); p >= "b" && p <= "c"
    }
    assert(filesRead(range) === bFiles.toLong)
    assert(range.count() === 2L)

    // a value outside the partition grammar must refuse, not encode
    val root2 = tableDir("tp-trunc-bad")
    val bad = Seq(("sp ace", 1L)).toDF("code", "v")
    val e = intercept[Exception](
      TxLog.appendTransformPartitioned(s, root2, bad,
        Seq("truncate(4,code)")))
    assert(e.getMessage != null)
  }

  test("SQL INSERT INTO re-derives the hidden layout; pruning stays " +
      "exact across the mixed commits") {
    val s = spark
    val root = tableDir("tp-insert")
    TxLog.appendTransformPartitioned(s, root, events(3, 6),
      Seq("days(ts)", "bucket(4,user_id)"))
    val before = TxLog.filePartitions(root).keySet
    s.sql(s"INSERT INTO graft_table.`$root` VALUES " +
      "(9001, TIMESTAMP'2024-01-02 05:00:00', 3, 'kx')")
    val parts = TxLog.filePartitions(root)
    val fresh = parts.keySet -- before
    assert(fresh.nonEmpty, "INSERT INTO must land partitioned files")
    assert(fresh.forall(f => parts(f).contains("_tp_days_ts") &&
      parts(f).contains("_tp_bucket_user_id")),
      "SQL-inserted files must carry the hidden partition values")
    // the inserted row is found through a pruned read
    val hit = s.read.format("graft-table").load(root)
      .filter(col("event_id") === 9001L)
    assert(hit.count() === 1L)
    // and a day-2 point read prunes to day-2 files only
    val day2 = s.read.format("graft-table").load(root)
      .filter(col("ts") >= lit(new Timestamp(Day0Millis + 86400000L)) &&
        col("ts") < lit(new Timestamp(Day0Millis + 2 * 86400000L)))
    val d2Files = parts.count(
      _._2.get("_tp_days_ts").contains("%07d".format(19724L + 1000000L)))
    assert(filesRead(day2) === d2Files.toLong)
  }

  test("pruned planning path: the sidecar synopsis carries the hidden " +
      "partition columns — a selective day query skips row groups " +
      "and materializes only its own files") {
    val s = spark
    val root = tableDir("tp-sidecar")
    val old = TxLog.sidecarRowGroupBytes
    TxLog.sidecarRowGroupBytes = 2048L
    try {
      TxLog.appendTransformPartitioned(s, root, events(60, 16, 24),
        Seq("days(ts)", "bucket(4,user_id)"))
      TxLog.checkpoint(root)
      val total = TxLog.filePartitions(root).size
      s.conf.set("spark.graft.plan.pruneFileThreshold", "1")
      try {
        TxLog.SidecarScanStats.reset()
        val lo = new Timestamp(Day0Millis + 5 * 86400000L)
        val hi = new Timestamp(Day0Millis + 6 * 86400000L)
        val q = s.read.format("graft-table").load(root)
          .filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
        val n = q.count()
        assert(n === events(60, 16, 24)
          .filter(col("ts") >= lit(lo) && col("ts") < lit(hi)).count())
        val retained = TxLog.SidecarScanStats.entriesRetained.get()
        val scanned = TxLog.SidecarScanStats.rowsScanned.get()
        val rgTotal = TxLog.SidecarScanStats.rowGroupsTotal.get()
        val rgOpened = TxLog.SidecarScanStats.rowGroupsOpened.get()
        assert(retained > 0 && retained < total.toLong,
          s"day-5 read must retain only its files ($retained/$total)")
        assert(rgTotal > 1L,
          s"fixture must span multiple sidecar row groups ($rgTotal)")
        assert(rgOpened < rgTotal,
          s"the day predicate must skip sidecar row groups " +
            s"($rgOpened/$rgTotal opened)")
        assert(scanned < total.toLong,
          s"the record filter must drop non-matching sidecar rows " +
            s"before decode ($scanned/$total)")
      } finally s.conf.unset("spark.graft.plan.pruneFileThreshold")
    } finally TxLog.sidecarRowGroupBytes = old
  }

  test("guards: spec re-declaration, identity mixing, source " +
      "rename/drop, appendPartitioned on a transform table") {
    val s = spark
    val root = tableDir("tp-guards")
    TxLog.appendTransformPartitioned(s, root, events(2, 4),
      Seq("days(ts)", "bucket(4,user_id)"))

    // later appends inherit (Nil) or must repeat the spec verbatim
    TxLog.appendTransformPartitioned(s, root, events(2, 4))
    assert(intercept[IllegalArgumentException](
      TxLog.appendTransformPartitioned(s, root, events(2, 4),
        Seq("days(ts)", "bucket(8,user_id)")))
      .getMessage.contains("evolution"))
    // identity-partitioned append refuses on a transform table
    assert(intercept[IllegalArgumentException](
      TxLog.appendPartitioned(s, root, events(2, 4), Seq("kind")))
      .getMessage.contains("transform"))
    // a transform append refuses on an identity-partitioned table
    val idRoot = tableDir("tp-guards-id")
    TxLog.appendPartitioned(s, idRoot, events(2, 4), Seq("kind"))
    assert(intercept[IllegalArgumentException](
      TxLog.appendTransformPartitioned(s, idRoot, events(2, 4),
        Seq("days(ts)")))
      .getMessage.contains("identity-partitioned"))

    // transform sources can never be renamed or dropped
    assert(intercept[IllegalArgumentException](
      TxLog.renameColumn(s, root, "ts", "when"))
      .getMessage.contains("transform"))
    assert(intercept[IllegalArgumentException](
      TxLog.dropColumns(s, root, Seq("user_id")))
      .getMessage.contains("transform"))
    // non-source columns keep the full ALTER surface (mapping mode)
    TxLog.renameColumn(s, root, "kind", "category")
    val renamed = s.read.format("graft-table").load(root)
    assert(renamed.columns.contains("category") &&
      !renamed.columns.contains("kind"))
    assert(renamed.count() === events(2, 4).count() * 2)

    // NULL transform sources refuse loudly
    import s.implicits._
    val nullRoot = tableDir("tp-guards-null")
    val withNull = Seq((1L, Option.empty[Timestamp], 2L, "k"))
      .toDF("event_id", "ts", "user_id", "kind")
    intercept[Exception](TxLog.appendTransformPartitioned(
      s, nullRoot, withNull, Seq("days(ts)")))
  }

  test("row-level SQL UPDATE on a transform table re-derives the " +
      "hidden layout for its insert images") {
    val s = spark
    val root = tableDir("tp-rowlevel")
    TxLog.appendTransformPartitioned(s, root, events(4, 8),
      Seq("days(ts)", "bucket(4,user_id)"))
    val before = TxLog.filePartitions(root).keySet
    s.sql(s"UPDATE graft_table.`$root` SET kind = 'upd' " +
      "WHERE event_id = 101")
    val parts = TxLog.filePartitions(root)
    val fresh = parts.keySet -- before
    assert(fresh.nonEmpty, "the UPDATE must stage insert images")
    assert(fresh.forall(f => parts(f).contains("_tp_days_ts") &&
      parts(f).contains("_tp_bucket_user_id")),
      "row-level insert images must carry the hidden partition values")
    val after = s.read.format("graft-table").load(root)
    assert(after.filter(col("kind") === "upd").count() === 1L)
    assert(after.count() === events(4, 8).count())
    assert(after.columns.toSeq === Seq("event_id", "ts", "user_id", "kind"))
  }

  test("clone carries the transform spec: the clone prunes and " +
      "inherits the layout on its own appends") {
    val s = spark
    val src = tableDir("tp-clone-src")
    TxLog.appendTransformPartitioned(s, src, events(4, 8),
      Seq("days(ts)"))
    val dst = tableDir("tp-clone-dst")
    TxLog.clone(s, src, dst)
    assert(TxLog.partitionTransforms(dst) === Seq("days(ts)"))
    // the clone reads the source's files under the logical schema
    val cloned = s.read.format("graft-table").load(dst)
    assert(cloned.columns.toSeq === Seq("event_id", "ts", "user_id", "kind"))
    assert(cloned.count() === events(4, 8).count())
    // and a clone-local append inherits the spec (Nil = recorded)
    TxLog.appendTransformPartitioned(s, dst, events(1, 8))
    assert(s.read.format("graft-table").load(dst).count() ===
      events(4, 8).count() + events(1, 8).count())
  }

  test("time travel and vacuum keep the spec: v0 reads under the " +
      "original schema, the checkpoint carries ptspec") {
    val s = spark
    val root = tableDir("tp-carry")
    TxLog.appendTransformPartitioned(s, root, events(3, 6),
      Seq("days(ts)"))                                   // v0
    TxLog.appendTransformPartitioned(s, root, events(3, 6)) // v1
    TxLog.checkpoint(root)
    TxLog.vacuum(root, retainFrom = 1, force = true)
    // the spec survives the truncation through the checkpoint
    assert(TxLog.partitionTransforms(root) === Seq("days(ts)"))
    // and a new append still inherits it
    TxLog.appendTransformPartitioned(s, root, events(1, 6))
    val parts = TxLog.filePartitions(root)
    assert(parts.values.forall(_.contains("_tp_days_ts")))
    val all = s.read.format("graft-table").load(root)
    assert(all.count() === events(3, 6).count() * 2 +
      events(1, 6).count())
  }
}
