package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.scalatest.funsuite.AnyFunSuite

/** Suite-wide plan regression gate: NO `SparkEntry.queries` entry may
  * plan a CartesianProduct or BroadcastNestedLoopJoin, except the
  * entries that are cartesian BY CONTRACT (labeled all-pairs baselines
  * and the intentional cross-join demo). A future edit that silently
  * turns an equi-join into a nested-loop — a dropped join key, a
  * non-equi predicate, a missed broadcast — fails here, at plan time,
  * before it ever becomes a scale incident.
  *
  * Detection walks the physical plan TREE (node classes, descending
  * through the AQE wrapper), not the plan string — an operator name
  * that happens to contain "CartesianProduct" can't false-positive.
  * For BNLJ-allowlisted entries the BUILD SIDE is verified from the
  * plan itself (`maxRows` of its logical link, or a literal
  * LocalTableScan's row count) to be a ≤[[PlanAuditSpec.ScalarRowBound]]-row
  * relation — the "it's just a broadcast scalar" claim is checked,
  * not trusted from a comment. Both allowlists must be subsets of
  * `SparkEntry.queries.keySet`, so a renamed entry can't silently
  * keep (or lose) its exemption.
  *
  * Plans are built (analysis + optimization + physical planning) but
  * never executed; entries that eagerly materialize session caches
  * while CONSTRUCTING their DataFrame do run those small jobs at the
  * smallest scale factor — that is the same work Verify does, just
  * tiny. The testdata root follows the Bench/Verify env convention
  * (`SPARK_GRAFT_TESTDATA`, default `/root/testdata`).
  */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Cartesian by documented contract, not by accident. */
  private val cartesianByContract = Set(
    "q_cross_join", // the cross-join operator demo itself
    "dedup_embedding_exact", // labeled all-pairs oracle baseline (scale-gated out of bench)
    "dedup_embedding_strict" // brute-force-equal banded path verifies vs planted twins
  )

  // entries that broadcast 1-row frames (corpus stats, a query vector)
  // or model-sized tables (centroids) via crossJoin — their plans
  // contain BroadcastNestedLoopJoin whose BUILD side the test below
  // verifies to be bounded, so they are a broadcast of a scalar /
  // model, not a scale risk
  private val scalarBroadcastOk = Set(
    "tfidf_postings", "bm25_postings", "search_bm25", "doc_keywords",
    "search_more_like_this", "postings_incremental",
    "postings_stemmed", "search_cnf", "search_phrase", "search_and",
    "search_or", "search_and_not", "search_not_or", "search_page1",
    "search_snippets", "search_stopword_drop", "search_batch",
    "search_streamed_index", // 1-row docNum frame of the lazily served index
    "dedup_keep_best", "text_dsir_weights", "text_classifier_score",
    "index_stats", // 1-row doc-count frame crossed into the stats row
    "q_exact_quantile", // 1-row total-count frame drives bucket targets
    "q_profile", // 1-row distinct-count branches crossed back together
    "q_quality_audit", // 1-row audit metrics crossed into check rows
    "search_hybrid", // one query vector + 1-row corpus stats
    "sim_cluster_assign", // broadcast centroid table (model-sized)
    "sim_ivf_incremental", // broadcast trained-centroid table (8 rows)
    "sim_topk_brute", // one query vector crossed into the scan
    "q_sql_native", // same query-vector scalar, through the SQL surface
    "text_collocations", // 1-row corpus token total for PMI
    "text_stupid_backoff", // 1-row corpus total for backoff normalization
    "q_hist_quantile_incremental") // 1-row histogram total drives the rank

  /** Largest build side still credibly "a scalar / model, not data":
    * covers the 1-row stat frames and the centroid/codebook tables.
    */
  private val ScalarRowBound = 64L

  private def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p +: (p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case _ => p.children.flatMap(allNodes)
    })

  /** Provable row bound of a plan subtree, if the plan carries one:
    * the logical link's `maxRows` (global aggregates report 1), or a
    * LocalTableScan's literal row count.
    */
  private def provenMaxRows(p: SparkPlan): Option[Long] = p match {
    case l: org.apache.spark.sql.execution.LocalTableScanExec =>
      Some(l.rows.length.toLong)
    case _ =>
      p.logicalLink.flatMap(_.maxRows)
        .orElse(p.children match {
          // pass-through nodes (project/exchange/filter drop maxRows
          // links sometimes): a single child's bound bounds the parent
          case Seq(only) => provenMaxRows(only)
          case _ => None
        })
  }

  /** Entries whose plans may still contain a ScalaUDF, by documented
    * contract — ONLY the two video entries, whose UDF is the synthetic
    * MJPEG-AVI WRITER (`mkAvi` — test-fixture input synthesis, since
    * the driver corpus ships no real video binary), not the container
    * walk / pixel decode under test. Every actual operator path —
    * search scoring, page rendering (native `SnippetHighlight`),
    * Bloom-pruned incremental dedup — must plan UDF-free (native
    * codegen expressions).
    */
  private val scalaUdfByContract = Set(
    "media_video_decode", "media_video_frames")

  test("allowlists only name live queries (a rename can't orphan an exemption)") {
    val keys = SparkEntry.queries.keySet
    val stale = (cartesianByContract ++ scalarBroadcastOk ++ scalaUdfByContract)
      .filterNot(keys)
    assert(stale.isEmpty, s"allowlisted names not in SparkEntry.queries: $stale")
  }

  test("no query outside the presentation allowlist plans a ScalaUDF") {
    val dir = sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata") +
      "/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if scalaUdfByContract.contains(name) => None
      case (name, fn) =>
        val planned =
          try Right(allNodes(fn(spark, dir).queryExecution.executedPlan))
          catch { case e: Throwable => Left(s"PLANNING FAILED: $e") }
        planned match {
          case Left(err) => Some(name -> err)
          case Right(nodes) =>
            val udfs = nodes.flatMap(_.expressions).flatMap(_.collect {
              case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
            })
            if (udfs.nonEmpty)
              Some(name -> s"plans ScalaUDF: ${udfs.map(_.udfName).distinct}")
            else None
        }
    }
    assert(offenders.isEmpty,
      offenders.map { case (n, why) => s"$n: $why" }.mkString("\n"))
  }

  test("no query plans an accidental cartesian / nested-loop join; " +
      "allowlisted BNLJ build sides are provably scalar-sized") {
    val dir = sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata") +
      "/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if cartesianByContract.contains(name) => None
      case (name, fn) =>
        val planned =
          try Right(allNodes(fn(spark, dir).queryExecution.executedPlan))
          catch { case e: Throwable => Left(s"PLANNING FAILED: $e") }
        val nodes = planned.getOrElse(Seq.empty)
        val cartesian = nodes.exists(_.isInstanceOf[CartesianProductExec])
        val bnljs = nodes.collect { case b: BroadcastNestedLoopJoinExec => b }
        if (planned.isLeft) Some(name -> planned.left.toOption.get)
        else if (cartesian) Some(name -> "CartesianProduct")
        else if (bnljs.nonEmpty && !scalarBroadcastOk.contains(name))
          Some(name -> "BroadcastNestedLoopJoin (not allowlisted)")
        else {
          // the allowlist's claim, verified from the plan: every BNLJ
          // build side must carry a proven row bound <= ScalarRowBound
          val unbounded = bnljs.flatMap { b =>
            val build = b.buildSide match {
              case BuildLeft => b.left
              case BuildRight => b.right
            }
            provenMaxRows(build) match {
              case Some(n) if n <= ScalarRowBound => None
              case bound => Some(s"build side bound $bound: ${build.nodeName}")
            }
          }
          if (unbounded.nonEmpty)
            Some(name -> s"BNLJ build side not provably scalar: ${unbounded.mkString("; ")}")
          else None
        }
    }
    assert(offenders.isEmpty,
      offenders.map { case (n, why) => s"$n: $why" }.mkString("\n"))
  }
}
