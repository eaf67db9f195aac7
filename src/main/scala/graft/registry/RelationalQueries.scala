package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{ScalableRank, Skew}
import graft.sources.Tables

/** Relational coverage on the TPC-H-ish tables: joins, set ops, grouping
  * sets, windows, quantiles, skew handling and SQL-text queries.
  */
object RelationalQueries {
  import Shared._

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q1_agg", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          count("*").as("count_order")),
      oracle = """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= '1998-09-02'
        |GROUP BY 1, 2""".stripMargin),
    QuerySpec("q_join3", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_custkey", "c_mktsegment")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"), count("*").as("n_items"))
    },
      oracle = """SELECT c_custkey, c_mktsegment,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin),
    // typed Dataset cogroup (KeyValueGroupedDataset.cogroup): per-key
    // reconciliation with an imperative typed function — the
    // Dataset[T]/Encoder surface. Same shuffle shape as a join (both
    // sides hash on the key; per-key memory = that key's rows, bounded
    // by orders-per-customer); the fold inside the function replaces a
    // join + aggregate pair. Iterator order within a key is undefined,
    // so the double fold rounds at 2 dp like every revenue aggregate
    QuerySpec("q_cogroup", (s, dir) => {
      import s.implicits._
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").cast("long"), col("c_acctbal").cast("double"))
        .as[(Long, Double)]
      val ords = t(s, dir, "orders")
        .select(col("o_custkey").cast("long"), col("o_totalprice").cast("double"))
        .as[(Long, Double)]
      cust.groupByKey(_._1).cogroup(ords.groupByKey(_._1)) { (k, cs, os) =>
        val c = cs.toSeq
        if (c.isEmpty) Iterator.empty
        else {
          var n = 0L; var tot = 0.0
          os.foreach { o => n += 1L; tot += o._2 }
          Iterator((k, c.head._2, n, tot))
        }
      }.toDF("c_custkey", "acctbal", "n_orders", "total_spent")
        .select(col("c_custkey"), col("acctbal"), col("n_orders"),
          round(col("total_spent"), 2).as("total_spent"))
    },
      // the typed cogroup computes exactly a left-join + aggregate
      oracle = """SELECT c_custkey, c_acctbal AS acctbal,
        |       CAST(count(o_custkey) AS BIGINT) AS n_orders,
        |       round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin),
    QuerySpec("q_broadcast_join", (s, dir) => {
      val p = t(s, dir, "part")
      val l = t(s, dir, "lineitem")
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count("*").as("n_items"))
    },
      oracle = """SELECT p_brand, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin),
    QuerySpec("q_semi_join", (s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem").filter(col("l_quantity") >= 49)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice")
    },
      oracle = """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity >= 49)""".stripMargin),
    QuerySpec("q_anti_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    },
      oracle = """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),
    QuerySpec("q_full_outer", (s, dir) => {
      val cs = t(s, dir, "customer").groupBy(col("c_nationkey").as("nationkey"))
        .agg(count("*").as("n_cust"))
      val ss = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nationkey"))
        .agg(count("*").as("n_supp"))
      cs.join(ss, Seq("nationkey"), "full_outer")
        .select(col("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
    },
      oracle = """SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
        |       COALESCE(c.n_cust, 0) AS n_cust,
        |       COALESCE(s.n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
        |      FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supp
        |      FROM supplier GROUP BY 1) s
        |  ON c.nationkey = s.nationkey""".stripMargin),
    QuerySpec("q_union_agg", (s, dir) => {
      val o = t(s, dir, "orders")
      val hi = o.filter(col("o_totalprice") > 200000)
        .select(col("o_custkey"), col("o_totalprice").as("v"))
      val lo = o.filter(col("o_totalprice") < 50000)
        .select(col("o_custkey"), col("o_totalprice").as("v"))
      hi.unionByName(lo).groupBy("o_custkey")
        .agg(round(sum("v"), 2).as("total"), count("*").as("n"))
    },
      oracle = """WITH u AS (
        |  SELECT o_custkey, o_totalprice AS v FROM orders WHERE o_totalprice > 200000
        |  UNION ALL
        |  SELECT o_custkey, o_totalprice AS v FROM orders WHERE o_totalprice < 50000)
        |SELECT o_custkey, round(sum(v), 2) AS total, count(*) AS n
        |FROM u GROUP BY 1""".stripMargin),
    QuerySpec("q_cube", (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(round(sum("l_extendedprice"), 2).as("sum_price"), count("*").as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("sum_price"), col("n")),
      oracle = """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS l_linestatus,
        |       round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),
    QuerySpec("q_approx_sketch", (s, dir) =>
      // HLL sketch + exact median. The HLL estimate is engine-specific
      // but partitioning-INVARIANT (registers merge by max), so the row
      // set is corpus-pinnable (PinnedOracles); percentile_approx is NOT
      // invariant (quantile-summary partials depend on split count), so
      // the median column is the exact percentile instead.
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct("l_partkey").as("approx_parts"),
          round(percentile(col("l_extendedprice"), lit(0.5)), 2)
            .as("median_price")),
      // HYBRID oracle: the median half is REAL DuckDB SQL (quantile_cont
      // matches Spark's linearly-interpolated exact percentile); only the
      // HLL estimate rides on a pinned VALUES join — DuckDB's approx HLL
      // uses different registers, so Spark's 1947-vs-2000-exact value is
      // engine-specific but partitioning-invariant (registers merge by
      // max), pinned at sf0.01
      oracle = """SELECT m.l_returnflag,
        |       CAST(h.approx_parts AS BIGINT) AS approx_parts,
        |       m.median_price
        |FROM (SELECT l_returnflag,
        |        round(quantile_cont(l_extendedprice, 0.5), 2) AS median_price
        |      FROM lineitem GROUP BY l_returnflag) m
        |JOIN (VALUES ('N', 1947), ('R', 1947), ('A', 1947))
        |  AS h(l_returnflag, approx_parts)
        |  ON m.l_returnflag = h.l_returnflag""".stripMargin),
    QuerySpec("q_rollup", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count("*").as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("sum_qty"), col("n")),
      oracle = """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),
    // arbitrary GROUPING SETS (the general form cube/rollup specialize):
    // three explicit levels, null-marked like SQL. sum(l_quantity) is a
    // sum of integer-valued doubles — exact, hence order-invariant
    QuerySpec("q_grouping_sets", (s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty")),
      oracle = """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |       sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_returnflag), ())""".stripMargin),
    // pivot: one column per o_orderstatus value, count per cell
    // (explicit value list keeps the plan single-pass — no distinct
    // scan — and the schema static); absent combos coalesce to 0
    QuerySpec("q_pivot", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O"),
          coalesce(col("P"), lit(0L)).as("P")),
      oracle = """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS P
        |FROM orders GROUP BY 1""".stripMargin),
    // exact grouped quantiles (the approx sketch has q_approx_sketch):
    // sort-based percentile, partitioning-invariant; l_quantity is
    // integer-valued so the interpolation is engine-exact
    QuerySpec("q_group_quantiles", (s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(percentile(col("l_quantity"), lit(0.25)).as("q1"),
          percentile(col("l_quantity"), lit(0.5)).as("med"),
          percentile(col("l_quantity"), lit(0.75)).as("q3"),
          min("l_quantity").as("qmin"), max("l_quantity").as("qmax")),
      oracle = """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.25) AS q1,
        |       quantile_cont(l_quantity, 0.5) AS med,
        |       quantile_cont(l_quantity, 0.75) AS q3,
        |       min(l_quantity) AS qmin, max(l_quantity) AS qmax
        |FROM lineitem GROUP BY 1""".stripMargin),
    // EXACT global quantiles by distributed selection: histogram pass
    // + targeted in-bucket pick — no global sort, no full-rank pass,
    // unlike percentile (single-task) or percentile_approx (inexact)
    QuerySpec("q_exact_quantile", (s, dir) =>
      ScalableRank.globalQuantiles(t(s, dir, "lineitem"),
        "l_extendedprice", Seq(0.25, 0.5, 0.75), bucketWidth = 1000.0),
      // the value at row ceil(q*n) of the sorted column; ties don't
      // matter (the value at a fixed rank is tie-invariant)
      oracle = """WITH o AS (
        |  SELECT l_extendedprice,
        |         row_number() OVER (ORDER BY l_extendedprice) AS rn
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM o),
        |ks AS (SELECT CAST(q AS DOUBLE) AS q,
        |              CAST(ceil(q * n.n) AS BIGINT) AS k
        |       FROM (VALUES (0.25), (0.5), (0.75)) v(q), n)
        |SELECT ks.q, o.l_extendedprice
        |FROM ks JOIN o ON o.rn = ks.k""".stripMargin),
    // global total-order analytics WITHOUT the single-partition sort
    // Spark plans for ORDER-BY-only windows: two-level bucketed rank
    // (ScalableRank), bit-identical to row_number/ntile
    QuerySpec("q_global_rank", (s, dir) =>
      ScalableRank.globalRowNumber(
        t(s, dir, "documents").select("doc_id", "n_chars"),
        "n_chars", "doc_id", bucketWidth = 256),
      // NULLS FIRST mirrors ScalableRank (= Spark's window default);
      // DuckDB's bare ORDER BY would sort NULL keys last
      oracle = """SELECT doc_id, n_chars,
        |       CAST(row_number() OVER (ORDER BY n_chars NULLS FIRST, doc_id) AS BIGINT) AS rk
        |FROM documents""".stripMargin),
    QuerySpec("q_ntile", (s, dir) =>
      ScalableRank.globalNtile(
        t(s, dir, "documents").select("doc_id", "n_chars"),
        10, "n_chars", "doc_id", bucketWidth = 256),
      oracle = """SELECT doc_id, n_chars,
        |       CAST(ntile(10) OVER (ORDER BY n_chars NULLS FIRST, doc_id) AS INT) AS tile
        |FROM documents""".stripMargin),
    // Pearson correlation per return flag from EXACT decimal moments:
    // decimal sums are partitioning-invariant, the final formula runs
    // in double over exact inputs — bit-reproducible with NO rounding
    QuerySpec("q_stats_corr", (s, dir) =>
      graft.ops.Stats.pearson(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_quantity", "l_extendedprice"),
      // same exact-decimal moments, same double formula — unrounded.
      // Moments cross to double VIA VARCHAR: DuckDB's direct
      // decimal->double cast is 1 ulp off correctly-rounded on
      // int128-backed decimals; strtod (and Java BigDecimal) round
      // correctly, so the string hop makes the doubles bit-identical
      oracle = """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(19,4))) AS sx,
        |    sum(CAST(l_extendedprice AS DECIMAL(19,4))) AS sy,
        |    sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS sxx,
        |    sum(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS syy,
        |    sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS sxy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE) > 0
        |        AND CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE) > 0
        |       THEN (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
        |            / (sqrt(CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
        |               * sqrt(CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE)))
        |  END AS corr
        |FROM m""".stripMargin),
    // 7-day trailing moving average of daily order revenue: the window
    // runs over the DAILY aggregate (calendar-bounded, documented) and
    // the frame sum is an exact decimal — no rounding needed
    QuerySpec("q_moving_avg", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"))
      graft.ops.Stats.movingAverage(daily, "day", "revenue", 7)
        .select(col("day"), col("revenue").cast("double").as("revenue"),
          col("moving_avg"))
    },
      oracle = """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT day, CAST(rev AS DOUBLE) AS revenue,
        |  CAST(sum(CAST(rev AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / count(*) OVER w AS moving_avg
        |FROM daily
        |WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin),
    // RANGE frame (vs q_moving_avg's ROWS frame): trailing 30 VALUE
    // days of revenue per day — gaps in the calendar shrink the frame,
    // they don't stretch it; exact decimal frame sum, cast at the end
    QuerySpec("q_range_frame", (s, dir) => {
      val w = Window.orderBy(col("epoch_day"))
        .rangeBetween(-29, Window.currentRow)
      t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"))
        .withColumn("epoch_day", datediff(col("day"), lit("1970-01-01")))
        .withColumn("rev30",
          sum(col("revenue").cast("decimal(18,2)")).over(w).cast("double"))
        .select(col("day"), col("revenue").cast("double").as("revenue"),
          col("rev30"))
    },
      // RANGE frame on the integer epoch-day key; frame sums stay
      // below 2^53 raw so the direct decimal->double cast is exact
      oracle = """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |d2 AS (SELECT day, rev,
        |         datediff('day', DATE '1970-01-01', day) AS epoch_day
        |       FROM daily)
        |SELECT day, CAST(rev AS DOUBLE) AS revenue,
        |  CAST(sum(CAST(rev AS DECIMAL(18,2)))
        |         OVER (ORDER BY epoch_day
        |               RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
        |       AS DOUBLE) AS rev30
        |FROM d2""".stripMargin),
    // trailing 28-day z-score over daily revenue — anomaly detection
    // for pipeline monitoring; the current row is excluded from its
    // own baseline, moments are exact decimals (no rounding at all)
    QuerySpec("q_anomaly", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"))
      graft.ops.Stats.movingZScore(daily, "day", "revenue", 28)
        .select(col("day"), col("revenue").cast("double").as("revenue"),
          col("z"))
    },
      // same exact decimal frame moments; sums and the daily revenue
      // cross to double via VARCHAR (the correctly-rounded bridge —
      // both are int128-backed decimals)
      oracle = """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |m AS (
        |  SELECT day, CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS revenue,
        |    count(rev) OVER w AS n,
        |    CAST(CAST(sum(CAST(rev AS DECIMAL(19,2))) OVER w AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(sum(CAST(rev AS DECIMAL(19,2)) * CAST(rev AS DECIMAL(19,2))) OVER w AS VARCHAR) AS DOUBLE) AS sxx
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING))
        |SELECT day, revenue,
        |  CASE WHEN n >= 28 AND CAST(n AS DOUBLE) * sxx - sx * sx > 0
        |       THEN (revenue - sx / CAST(n AS DOUBLE))
        |            / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
        |                   / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
        |  END AS z
        |FROM m""".stripMargin),
    // declarative quality gate: 7 constraint checks over orders in ONE
    // aggregation pass + one anti-join (referential integrity vs
    // customer); unique:o_custkey is the deliberate failing check
    QuerySpec("q_quality_audit", (s, dir) => {
      import graft.ops.Quality
      import graft.ops.Quality._
      Quality.audit(t(s, dir, "orders"), Seq(
        NotNull("o_custkey"),
        Unique("o_orderkey"),
        Unique("o_custkey"),
        InRange("o_totalprice", 0.0, 600000.0),
        Satisfies("status_known",
          col("o_orderstatus").isin("F", "O", "P"), 1.0),
        Satisfies("recent",
          col("o_orderdate") >= lit("1995-01-01").cast("timestamp"), 0.3),
        ForeignKey("o_custkey", t(s, dir, "customer"), "c_custkey")))
    },
      // same metric formulas, same IEEE divisions of exact counts;
      // empty-table guard (CASE den=0) mirrors Quality.frac
      oracle = """SELECT 'not_null:o_custkey' AS "check",
        |  CASE WHEN count(*) = 0 THEN 1.0
        |       ELSE CAST(count(o_custkey) AS DOUBLE) / count(*) END AS metric,
        |  (CASE WHEN count(*) = 0 THEN 1.0
        |        ELSE CAST(count(o_custkey) AS DOUBLE) / count(*) END) >= 1.0 AS passed
        |FROM orders
        |UNION ALL
        |SELECT 'unique:o_orderkey',
        |  CASE WHEN count(o_orderkey) = 0 THEN 1.0
        |       ELSE CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(o_orderkey) END,
        |  (CASE WHEN count(o_orderkey) = 0 THEN 1.0
        |        ELSE CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(o_orderkey) END) = 1.0
        |FROM orders
        |UNION ALL
        |SELECT 'unique:o_custkey',
        |  CASE WHEN count(o_custkey) = 0 THEN 1.0
        |       ELSE CAST(count(DISTINCT o_custkey) AS DOUBLE) / count(o_custkey) END,
        |  (CASE WHEN count(o_custkey) = 0 THEN 1.0
        |        ELSE CAST(count(DISTINCT o_custkey) AS DOUBLE) / count(o_custkey) END) = 1.0
        |FROM orders
        |UNION ALL
        |SELECT 'in_range:o_totalprice',
        |  CASE WHEN count(o_totalprice) = 0 THEN 1.0
        |       ELSE CAST(count(CASE WHEN o_totalprice BETWEEN 0.0 AND 600000.0
        |                            THEN 1 END) AS DOUBLE) / count(o_totalprice) END,
        |  (CASE WHEN count(o_totalprice) = 0 THEN 1.0
        |        ELSE CAST(count(CASE WHEN o_totalprice BETWEEN 0.0 AND 600000.0
        |                             THEN 1 END) AS DOUBLE) / count(o_totalprice) END) = 1.0
        |FROM orders
        |UNION ALL
        |SELECT 'satisfies:status_known',
        |  CASE WHEN count(*) = 0 THEN 1.0
        |       ELSE CAST(count(CASE WHEN o_orderstatus IN ('F', 'O', 'P')
        |                            THEN 1 END) AS DOUBLE) / count(*) END,
        |  (CASE WHEN count(*) = 0 THEN 1.0
        |        ELSE CAST(count(CASE WHEN o_orderstatus IN ('F', 'O', 'P')
        |                             THEN 1 END) AS DOUBLE) / count(*) END) >= 1.0
        |FROM orders
        |UNION ALL
        |SELECT 'satisfies:recent',
        |  CASE WHEN count(*) = 0 THEN 1.0
        |       ELSE CAST(count(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01'
        |                            THEN 1 END) AS DOUBLE) / count(*) END,
        |  (CASE WHEN count(*) = 0 THEN 1.0
        |        ELSE CAST(count(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01'
        |                             THEN 1 END) AS DOUBLE) / count(*) END) >= 0.3
        |FROM orders
        |UNION ALL
        |SELECT 'foreign_key:o_custkey',
        |  CAST(count(*) AS DOUBLE),
        |  CAST(count(*) AS DOUBLE) = 0.0
        |FROM orders o
        |WHERE o.o_custkey IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM customer c
        |                  WHERE c.c_custkey = o.o_custkey)""".stripMargin),
    // unpivot/melt: wide measure columns to (measure, val) rows —
    // pure row expansion, no shuffle, scales with the scan
    QuerySpec("q_unpivot", (s, dir) =>
      t(s, dir, "lineitem").unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "measure", "val"),
      oracle = """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""".stripMargin),
    // explicit cross join (the one join type not yet covered): tiny
    // dimension x dimension, the only legitimate cross-join shape
    QuerySpec("q_cross_join", (s, dir) =>
      t(s, dir, "region").select(col("r_name"))
        .crossJoin(t(s, dir, "nation").select(col("n_name"))),
      oracle = "SELECT r_name, n_name FROM region CROSS JOIN nation"),
    // set operators beyond UNION: INTERSECT / EXCEPT with their SQL
    // distinct semantics
    QuerySpec("q_set_ops", (s, dir) => {
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      val open = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "O").select("o_custkey")
      urgent.intersect(open).withColumn("op", lit("both"))
        .unionByName(urgent.except(open).withColumn("op", lit("urgent_only")))
    },
      oracle = """WITH urgent AS (SELECT o_custkey FROM orders
        |               WHERE o_orderpriority = '1-URGENT'),
        |open_o AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |SELECT o_custkey, 'both' AS op
        |FROM (SELECT o_custkey FROM urgent INTERSECT SELECT o_custkey FROM open_o)
        |UNION ALL
        |SELECT o_custkey, 'urgent_only' AS op
        |FROM (SELECT o_custkey FROM urgent EXCEPT SELECT o_custkey FROM open_o)""".stripMargin),
    // exact distinct aggregation (two-phase under the hood)
    QuerySpec("q_count_distinct", (s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("n_parts"),
          countDistinct("l_suppkey").as("n_supps"),
          count(lit(1)).as("n_rows")),
      oracle = """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1""".stripMargin),
    // explicit skew mitigation, oracle-checked equal to the plain forms:
    // salted join (hot keys split across saltFactor reducers, right side
    // replicated) and two-phase salted aggregation (sum of
    // integer-valued doubles -> exact, order-invariant)
    QuerySpec("q_skew_join", (s, dir) =>
      Skew.saltedJoin(
        t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus"),
        t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        "o_custkey", saltFactor = 8)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "c_mktsegment"),
      oracle = """SELECT o_orderkey, o_custkey, o_orderstatus, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin),
    QuerySpec("q_skew_agg", (s, dir) =>
      Skew.saltedAggregate(t(s, dir, "lineitem"),
        "l_returnflag", "l_quantity", saltFactor = 8),
      oracle = """SELECT l_returnflag, sum(l_quantity) AS sum_l_quantity,
        |       count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin),
    // temporal projections: calendar parts + hour bounds per day
    QuerySpec("q_date_parts", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(year(col("ts")).as("y"), month(col("ts")).as("m"),
          dayofmonth(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"), min(hour(col("ts"))).as("min_h"),
          max(hour(col("ts"))).as("max_h")),
      oracle = """SELECT year(ts) AS y, month(ts) AS m, day(ts) AS d,
        |       count(*) AS n, min(hour(ts)) AS min_h, max(hour(ts)) AS max_h
        |FROM events GROUP BY 1, 2, 3""".stripMargin),
    // running aggregate + lag. The synthetic lineitem has NO unique
    // (orderkey, linenumber) key (unlike real TPC-H), so the ORDER BY
    // lists enough columns for a total order — full rows are unique —
    // keeping the window deterministic; l_quantity is integer-valued so
    // the running double sum is exact at any partitioning
    QuerySpec("q_running_total", (s, dir) => {
      val order = Window.partitionBy("l_suppkey")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax", "l_shipdate")
      val w = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem").select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        sum("l_quantity").over(w).as("running_qty"),
        lag("l_quantity", 1).over(order).as("prev_qty"))
    },
      oracle = """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  sum(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity,
        |             l_extendedprice, l_discount, l_tax, l_shipdate
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty,
        |  lag(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity,
        |             l_extendedprice, l_discount, l_tax, l_shipdate) AS prev_qty
        |FROM lineitem""".stripMargin),
    // SQL-layer subqueries: correlated EXISTS (Catalyst decorrelates to
    // a semi join) + an uncorrelated scalar subquery (broadcast 1-row).
    // count(*) per customer stays exact-integer throughout
    QuerySpec("q_subqueries", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_sq")
      t(s, dir, "orders").createOrReplaceTempView("orders_sq")
      s.sql("""
        SELECT c_custkey, c_name,
               (SELECT count(*) FROM orders_sq o
                WHERE o.o_custkey = c.c_custkey) AS n_orders
        FROM customer_sq c
        WHERE EXISTS (SELECT 1 FROM orders_sq o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')""")
    },
      oracle = """SELECT c_custkey, c_name,
        |       (SELECT count(*) FROM orders o
        |        WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')""".stripMargin),
    QuerySpec("q_topk", (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .orderBy(desc("price"), asc("o_orderkey"))
        .limit(100),
      oracle = """SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders
        |ORDER BY price DESC, o_orderkey ASC LIMIT 100""".stripMargin),
    QuerySpec("q_window_topn", (s, dir) => {
      val l = t(s, dir, "lineitem")
      val w = Window.partitionBy("l_suppkey")
        .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))
      l.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("l_suppkey"), col("rn"), col("l_orderkey"),
          round(col("l_extendedprice"), 2).as("price"))
    },
      oracle = """SELECT l_suppkey, rn, l_orderkey, round(l_extendedprice, 2) AS price
        |FROM (SELECT l_suppkey, l_orderkey, l_extendedprice,
        |        row_number() OVER (PARTITION BY l_suppkey
        |          ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rn
        |      FROM lineitem)
        |WHERE rn <= 3""".stripMargin),
    // the SQL extension surface end-to-end: GraftExtensions' native
    // Catalyst expressions (graft_cosine / graft_dot) driven through
    // spark.sql over a temp view — the exact path a SQL-only user
    // takes (install() registers on the live session; builder-time
    // withExtensions is spec-covered). Brute-force top-10 semantics,
    // so the oracle is the same SQL DuckDB runs natively; the added
    // norm column pushes graft_dot through the same plan
    QuerySpec("q_sql_native", (s, dir) => {
      GraftExtensions.install(s)
      t(s, dir, "embeddings").createOrReplaceTempView("graft_emb")
      s.sql(
        """SELECT e.vec_id,
          |       round(graft_cosine(e.embedding, q.embedding), 4) AS cosine,
          |       round(sqrt(graft_dot(e.embedding, e.embedding)), 4) AS norm
          |FROM graft_emb e,
          |     (SELECT embedding FROM graft_emb WHERE vec_id = 0 LIMIT 1) q
          |WHERE e.vec_id <> 0
          |ORDER BY cosine DESC, e.vec_id ASC LIMIT 10""".stripMargin)
    },
      oracle = """SELECT e.vec_id,
        |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |         CAST(q.embedding AS DOUBLE[])), 4) AS cosine,
        |       round(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |         CAST(e.embedding AS DOUBLE[]))), 4) AS norm
        |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY cosine DESC, e.vec_id ASC LIMIT 10""".stripMargin)
  )
}
