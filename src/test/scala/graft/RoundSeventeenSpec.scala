package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Maintenance

/** Round-17 surface: incremental trigram-index maintenance (merge ≡
  * rebuild), the SCD-2 out-of-order batch audit, and width-checked
  * histogram states.
  */
class RoundSeventeenSpec extends SparkSuite {

  private def postingSet(df: DataFrame): Set[(Long, String)] =
    df.select(col("doc_id"), col("gram")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("trigram mergePostings equals a full rebuild (insert + update + carry)") {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    // old corpus: docs 1-6, where doc 4's indexed text is a STALE
    // revision; the batch re-ingests doc 4 (update) and adds 7-8
    val oldDocs = Seq(
      (1L, "alpha beta gamma"), (2L, "beta alpha"), (3L, "gamma ray"),
      (4L, "stale text that will be replaced"), (5L, "sort merge"),
      (6L, "ab") // shorter than the gram width: zero postings
    ).toDF("doc_id", "text")
    val batch = Seq(
      (4L, "fresh text entirely different grams"),
      (7L, "hash join probe"), (8L, "x")
    ).toDF("doc_id", "text")
    val truth = oldDocs.filter(col("doc_id") =!= 4L).unionByName(batch)
    val merged = graft.search.SubstringIndex.mergePostings(
      graft.search.SubstringIndex.trigramPostings(oldDocs), batch)
    val rebuilt = graft.search.SubstringIndex.trigramPostings(truth)
    assert(postingSet(merged) === postingSet(rebuilt))
    // no stale gram survives the update
    assert(!postingSet(merged).contains((4L, "sta")))
  }

  test("at-rest mergeIndex round-trips and keeps probe ≡ brute force") {
    implicit val sp: SparkSession = spark
    import sp.implicits._
    val dir = tmpDir("graft-trgm-inc-")
    val oldDocs = (1L to 60L).map(i => (i, s"payload number $i sort merge"))
      .toDF("doc_id", "text")
    val batch = ((61L to 80L).map(i => (i, s"fresh batch row $i hash join")) ++
      Seq((7L, "rewritten seven hash join"))).toDF("doc_id", "text")
    graft.search.SubstringIndex.writeIndex(
      graft.search.SubstringIndex.trigramPostings(oldDocs), s"$dir/v1", 4)
    graft.search.SubstringIndex.mergeIndex(spark, s"$dir/v1", s"$dir/v2",
      batch, numFiles = 4)
    val truth = oldDocs.filter(col("doc_id") =!= 7L).unionByName(batch)
    assert(postingSet(spark.read.parquet(s"$dir/v2")) ===
      postingSet(graft.search.SubstringIndex.trigramPostings(truth)))
    val got = truth
      .join(graft.search.SubstringIndex.probeIndex(spark, s"$dir/v2",
        "hash join"), "doc_id")
      .filter(contains(lower(col("text")), lit("hash join")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = truth.filter(lower(col("text")).contains("hash join"))
      .collect().map(_.getLong(0)).toSet
    assert(got === want && got.nonEmpty)
  }

  test("scd2Apply failOnOutOfOrder rejects a batch that would cross intervals") {
    val s = spark
    import s.implicits._
    def dt(x: String) = java.sql.Date.valueOf(x)
    val history = Seq(
      ("a", "v1", dt("2024-06-01"), Option.empty[java.sql.Date]),
      ("b", "w1", dt("2024-01-01"), Option.empty[java.sql.Date])
    ).toDF("k", "v", "valid_from", "valid_to")
    // key a's change predates its current valid_from → crossed interval
    val bad = Seq(("a", "v2", dt("2024-03-01")), ("b", "w2", dt("2024-07-01")))
      .toDF("k", "v", "ts")
    val e = intercept[IllegalArgumentException] {
      Maintenance.scd2Apply(history, bad, Seq("k"),
        failOnOutOfOrder = true)
    }
    assert(e.getMessage.contains("out-of-order"))
    // the unaudited path (default) still computes — the audit is opt-in
    assert(Maintenance.scd2Apply(history, bad, Seq("k")).count() > 0)
    // an in-order batch passes the audit and versions correctly
    val good = Seq(("a", "v2", dt("2024-08-01")), ("c", "x1", dt("2024-08-01")))
      .toDF("k", "v", "ts")
    val out = Maintenance.scd2Apply(history, good, Seq("k"),
      failOnOutOfOrder = true)
    assert(out.filter(col("valid_to").isNull).count() === 3) // a', b, c
    // interval integrity: per key, closed rows chain [from, to) with to
    // <= the next from, and exactly one current row
    val rows = out.filter(col("k") === "a")
      .orderBy("valid_from").collect()
    assert(rows.map(r => Option(r.getDate(3)).map(_.toString).orNull).toSeq
      === Seq("2024-08-01", null))
  }

  test("scd2Apply out-of-order audit ignores value-identical (no-op) changes") {
    val s = spark
    import s.implicits._
    def dt(x: String) = java.sql.Date.valueOf(x)
    val history = Seq(("a", "v1", dt("2024-06-01"), Option.empty[java.sql.Date]))
      .toDF("k", "v", "valid_from", "valid_to")
    // a REPLAYED identical change with an old ts is idempotent — it
    // writes nothing, so it must not trip the audit
    val replay = Seq(("a", "v1", dt("2024-01-01"))).toDF("k", "v", "ts")
    val out = Maintenance.scd2Apply(history, replay, Seq("k"),
      failOnOutOfOrder = true)
    assert(out.count() === 1)
  }

  test("histogram states carry their width; mismatched widths refuse to merge") {
    val s = spark
    import s.implicits._
    val a = (1 to 100).map(_.toDouble).toDF("v")
    val b = (50 to 200).map(_.toDouble).toDF("v")
    val sa = Maintenance.histogramState(a, "v", 10.0)
    val sb = Maintenance.histogramState(b, "v", 10.0)
    val merged = Maintenance.mergeHistograms(sa, sb)
    // merge ≡ recompute over the union, at this split
    val full = Maintenance.histogramState(a.unionByName(b), "v", 10.0)
    val m = merged.buckets.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val f = full.buckets.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === f)
    val e = intercept[IllegalArgumentException] {
      Maintenance.mergeHistograms(sa, Maintenance.histogramState(b, "v", 5.0))
    }
    assert(e.getMessage.contains("width"))
    // quantile reads take the width FROM the state — no drifting param
    val qs = Maintenance.histogramQuantiles(merged, Seq(0.5)).collect()
    assert(qs.length === 1)
  }
}
