package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.ops.{Dedup, Maintenance}

/** Round-15 surface: the type-exact / null-safe mergeCountSum contract
  * and fuzzyPairs' loud hot-bucket + name-length guards.
  */
class RoundFifteenSpec extends SparkSuite {

  // ---- mergeCountSum: exact types ----

  test("mergeCountSum keeps a LONG sum state long and exact above 2^53") {
    val s = spark
    import s.implicits._
    // 2^53 + 1 is not representable as double: a lossy double round-trip
    // would corrupt the merged sum
    val big = (1L << 53) + 1L
    val base = Seq(("a", 1L, big), ("b", 1L, 10L)).toDF("k", "n", "total")
    val delta = Seq(("a", 1L, 1L), ("c", 1L, 7L)).toDF("k", "n", "total")
    val merged = Maintenance.mergeCountSum(base, delta, Seq("k"))
    assert(merged.schema("total").dataType === LongType)
    assert(merged.schema("n").dataType === LongType)
    val m = merged.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2))).toMap
    assert(m("a") === ((2L, big + 1L)))
    assert(m("b") === ((1L, 10L)))
    assert(m("c") === ((1L, 7L)))
  }

  test("mergeCountSum preserves a DECIMAL sum state's exact type and value") {
    val s = spark
    import s.implicits._
    val base = Seq(("a", 1L, "12345678901234567.89"), ("b", 2L, "0.01"))
      .toDF("k", "n", "t")
      .select(col("k"), col("n"),
        col("t").cast(DecimalType(28, 2)).as("total"))
    val delta = Seq(("a", 1L, "0.11")).toDF("k", "n", "t")
      .select(col("k"), col("n"),
        col("t").cast(DecimalType(28, 2)).as("total"))
    val merged = Maintenance.mergeCountSum(base, delta, Seq("k"))
    assert(merged.schema("total").dataType === DecimalType(28, 2))
    val m = merged.collect()
      .map(r => r.getString(0) -> r.getDecimal(2).toPlainString).toMap
    assert(m("a") === "12345678901234568.00")
    assert(m("b") === "0.01")
  }

  test("mergeCountSum merges NULL group keys into one row (null-safe join)") {
    val s = spark
    import s.implicits._
    val base = Seq((Option("a"), 1L, 5.0), (Option.empty[String], 2L, 10.0))
      .toDF("k", "n", "total")
    val delta = Seq((Option.empty[String], 3L, 1.0)).toDF("k", "n", "total")
    val merged = Maintenance.mergeCountSum(base, delta, Seq("k"))
    val rows = merged.collect()
      .map(r => Option(r.getString(0)) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.size === 2) // NOT three: the null keys matched
    assert(rows(None) === ((5L, 11.0)))
    assert(rows(Some("a")) === ((1L, 5.0)))
  }

  test("mergeCountSum split-vs-recompute equality holds with a null key") {
    val s = spark
    import s.implicits._
    val rows = Seq((Option("x"), 3L), (Option("x"), 4L),
      (Option.empty[String], 5L), (Option.empty[String], 6L), (Option("y"), 1L))
      .toDF("k", "v")
    val agg = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("total"))
    val full = agg(rows).collect()
      .map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    val merged = Maintenance.mergeCountSum(
      agg(rows.limit(2)), agg(rows.except(rows.limit(2))), Seq("k"))
      .collect()
      .map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    assert(merged === full)
  }

  // ---- fuzzyPairs guards ----

  test("fuzzyPairs failOnDrop errors when the hot-bucket cap fires") {
    val s = spark
    import s.implicits._
    // 4 names sharing the deletion key "ab" (and more): maxBucket=2 fires
    val names = Seq("ab", "abc", "abd", "abe").toDF("name")
    val ex = intercept[IllegalStateException] {
      Dedup.fuzzyPairs(names, "name", maxDist = 1, maxBucket = 2,
        failOnDrop = true).collect()
    }
    assert(ex.getMessage.contains("maxBucket"))
  }

  test("fuzzyPairs without failOnDrop still completes when the cap fires") {
    val s = spark
    import s.implicits._
    val names = Seq("ab", "abc", "abd", "abe").toDF("name")
    // dropped keys may lose pairs, but the call must not throw
    val got = Dedup.fuzzyPairs(names, "name", maxDist = 1, maxBucket = 2)
      .collect()
    assert(got.forall(r => r.getInt(2) <= 1))
  }

  test("fuzzyPairs rejects names longer than maxNameLen") {
    val s = spark
    import s.implicits._
    val names = Seq("ok", "x" * 50).toDF("name")
    val ex = intercept[SparkException] {
      Dedup.fuzzyPairs(names, "name", maxDist = 2, maxNameLen = 10).collect()
    }
    assert(ex.getMessage.contains("maxNameLen") ||
      Option(ex.getCause).exists(_.getMessage.contains("maxNameLen")))
  }

  test("fuzzyPairs on in-bound names equals brute force (guards are no-ops)") {
    val s = spark
    import s.implicits._
    val names = Seq("kettle", "kettles", "cattle", "settle", "rattle",
      "bottle", "kettle")
    val df = names.toDF("name")
    val got = Dedup.fuzzyPairs(df, "name", maxDist = 2, failOnDrop = true)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val distinct = names.distinct
    val want = (for {
      a <- distinct; b <- distinct if a < b && lev(a, b) <= 2
    } yield (a, b)).toSet
    assert(got === want)
  }

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }
}
