package graft

import org.apache.spark.sql.functions._

import graft.ops.Maintenance
import graft.sources.DelimitedScan

/** Round-19 surface: JSONL/CSV line codecs and the streaming KMV
  * distinct-count driver.
  */
class RoundNineteenSpec extends SparkSuite {

  private def codecDocs = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "plain text", "en", "src0", 10L),
      (2L, "comma, \"quoted\", and\nnewline", "en", "src1", 27L),
      (3L, "unicode é中文 and a tab\there", "und", "src2", 24L),
      (4L, null.asInstanceOf[String], null.asInstanceOf[String], "src3", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0),
      Option(r.getString(1)), Option(r.getString(2)),
      Option(r.getString(3)), r.getLong(4))).toSet

  test("JSONL and CSV line codecs round-trip hostile values exactly") {
    val want = asSet(codecDocs)
    assert(asSet(DelimitedScan.parseJsonl(DelimitedScan.toJsonl(codecDocs))) === want)
    assert(asSet(DelimitedScan.parseCsvLines(DelimitedScan.toCsvLines(codecDocs))) === want)
  }

  test("at-rest JSONL: explicit-schema read reproduces the table, bad lines quarantine") {
    val base = tmpDir("graft-jsonl-")
    DelimitedScan.writeJsonl(codecDocs, s"$base/docs")
    val back = DelimitedScan.readJsonl(spark, s"$base/docs")
    assert(asSet(back) === asSet(codecDocs))
    // corrupt line: all-null row, not a task failure
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/docs/zz-corrupt.json"), "{not json]\n")
    val withBad = DelimitedScan.readJsonl(spark, s"$base/docs")
    assert(withBad.count() === codecDocs.count() + 1)
    assert(withBad.filter(col("doc_id").isNull).count() === 1)
  }

  test("MMR re-ranking demotes near-duplicates that plain top-k keeps") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (1L, Array(0.9f, 0.4359f, 0.0f)), // closest to q (qcos 0.9)
      (2L, Array(0.9f, 0.436f, 0.0f)), // near-dup of 1 — 2nd by cosine
      (3L, Array(0.8f, -0.6f, 0.0f))) // diverse (qcos 0.8, far from 1)
      .toDF("vec_id", "embedding")
    val q = Seq(1.0, 0.0, 0.0)
    // plain top-2 keeps the near-dup pair
    val top2 = graft.ops.Similarity.bruteForceTopK(emb, q, 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top2 === Seq(1L, 2L))
    // MMR's diversity term swaps the redundant 2 for the diverse 3
    val mmr = graft.ops.Similarity.mmrRerank(emb, q, poolSize = 3, k = 2)
      .orderBy("mmr_rank").collect().map(_.getLong(1)).toSeq
    assert(mmr === Seq(1L, 3L))
    // scores decrease along the ranking and rank 1 is pure relevance
    val scored = graft.ops.Similarity.mmrRerank(emb, q, poolSize = 3, k = 3)
      .orderBy("mmr_rank").collect().map(r => (r.getInt(0), r.getDouble(2)))
    assert(scored.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("streaming KMV distinct state equals the batch-free sketch; replay-safe") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    val base = tmpDir("graft-stream-kmv-")
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    val all = (1 to 600).map(i => (s"g${i % 2}", i % 97))
    val halves = all.grouped(300).toSeq
    halves.zipWithIndex.foreach { case (rows, i) =>
      val tmp = s"$base/half$i"
      rows.toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, Paths.get(in, s"batch$i.parquet"))
    }
    val stateSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.LongType)))
    val q = graft.streaming.StreamingOps.streamingDistinctCount(
      spark, in, s"$base/state", Seq("k"), "v", k = 32,
      checkpointDir = Some(s"$base/ckpt"))
    try q.processAllAvailable() finally q.stop()
    def stateSet() = graft.streaming.StreamingOps
      .currentSnapshot(spark, s"$base/state", stateSchema)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val full = Maintenance.kmvState(all.toDF("k", "v"), Seq("k"), "v", 32)
      .mins.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(stateSet() === full)
    // replay without the checkpoint: versions rewrite identically and
    // re-merging already-seen rows is a no-op — state unchanged
    val q2 = graft.streaming.StreamingOps.streamingDistinctCount(
      spark, in, s"$base/state", Seq("k"), "v", k = 32)
    try q2.processAllAvailable() finally q2.stop()
    assert(stateSet() === full)
    // the saturated estimate stays in the sketch's error band (k=32,
    // 97 true distinct per group)
    val est = Maintenance.kmvDistinct(Maintenance.KmvState(32,
        graft.streaming.StreamingOps.currentSnapshot(
          spark, s"$base/state", stateSchema)), Seq("k"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    for ((g, e) <- est)
      assert(math.abs(e.toDouble / 97 - 1) < 4.0 / math.sqrt(30.0),
        s"$g est=$e")
  }
}
