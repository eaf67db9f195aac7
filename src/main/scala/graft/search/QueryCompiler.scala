package graft.search

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Distributed query evaluation: folds a [[QueryAst]] into ONE nullable
  * per-document score expression carrying the reference's
  * negation-aware set algebra (`util/QueryParser.java:122-139,281-298`).
  * The reference evaluates its algebra pointwise per document in a
  * single reducer (`code/query/QueryMapred.java:89-98`); here each
  * document's postings for the query terms are grouped into one map
  * `term -> (score, positions)` ([[postingMaps]]) and the algebra
  * becomes an expression over that map, so any number of queries
  * evaluate in one pass over one pruned scan:
  *
  *   - a posting list is a score column; null = "not in the list"
  *   - posting intersect (AND)     -> `s1 * s2` (null unless both) (J1)
  *   - posting merge (OR)          -> `coalesce(s1 + s2, s1, s2)` (J2, J7)
  *   - posting difference (AND NOT)-> `when(s2.isNull, s1)` (J3)
  *   - De Morgan combines          -> compile-time type dispatch (J4, J5);
  *     wrapper types are data-independent, so the whole dispatch happens
  *     at plan-construction time — no type column ever exists at runtime.
  *
  * Cardinality-based AND ordering (J6, `util/QueryParser.java:159-164`)
  * uses per-term document frequencies fetched in ONE tiny aggregate over
  * the pruned index slice — statistics cross the driver, postings never
  * do — and only for a query where the order can change the result
  * ([[needsStats]]); any other query plans with no Spark job at all.
  *
  * Score algebra: AND = product (with phrase-proximity boost when both
  * sides still carry positions), OR = sum. Positions survive exactly one
  * combine, so proximity only fires inside a multi-word phrase — same as
  * the reference (see [[PostingAlgebra]]).
  */
object QueryCompiler {
  import QueryAst._

  val PhraseFactor = 1.0 // util/QueryParser.java:45

  /** A compiled subtree: polarity type (0 normal / 1 negated / 2 stop
    * word), its posting list as a per-document score expression (null =
    * the document is not in the list), the leaf's positions while they
    * are still attached, and an upper-bound cardinality estimate used
    * for AND ordering.
    */
  final case class Node(tpe: Int, score: Column, positions: Option[Column], est: Long)

  private val noPostings: Column = lit(null).cast("double")

  /** J1: AND = product, proximity-boosted `pow(s1*s2, phraseFactor +
    * 1/minDist)` when both operands still carry positions
    * (`util/QueryParser.java:194-258`).
    */
  private def intersect(a: Node, b: Node): Column = {
    val product = a.score * b.score
    (a.positions, b.positions) match {
      case (Some(p1), Some(p2)) =>
        val d = graft.functions.MinTokenDistance.of(p1, p2)
        // d = 0 (same position, e.g. phrase "w w") must give exponent
        // 1/0 = Infinity like plain-double arithmetic; ANSI mode throws
        // DIVIDE_BY_ZERO even for doubles, so the zero case branches
        // before any division
        val invD = when(d === 0, lit(Double.PositiveInfinity))
          .otherwise(lit(1.0) / d.cast("double"))
        when(d.isNotNull, pow(product, lit(PhraseFactor) + invD)).otherwise(product)
      case _ => product
    }
  }

  /** J2: OR = union of the lists; matched documents sum scores
    * (`util/QueryParser.java:300-325`).
    */
  private def merge(a: Node, b: Node): Column =
    coalesce(a.score + b.score, a.score, b.score)

  /** J3: AND NOT = `a`'s documents absent from `b` (`util/QueryParser.java:173-192`). */
  private def difference(a: Node, b: Node): Column =
    when(b.score.isNull, a.score)

  /** J4: negation-aware AND type dispatch (`util/QueryParser.java:122-139`). */
  private def combineAnd(a: Node, b: Node): Node =
    if (a.tpe == 2 && b.tpe == 2) a
    else if (a.tpe == 2) b
    else if (b.tpe == 2) a
    else if (a.tpe == 1 && b.tpe == 1) Node(1, merge(a, b), None, a.est + b.est)
    else if (a.tpe == 0 && b.tpe == 0) Node(0, intersect(a, b), None, math.min(a.est, b.est))
    else if (a.tpe == 1) Node(0, difference(b, a), None, b.est)
    else Node(0, difference(a, b), None, a.est)

  /** J5: negation-aware OR type dispatch (`util/QueryParser.java:281-298`). */
  private def combineOr(a: Node, b: Node): Node =
    if (a.tpe == 2 && b.tpe == 2) a
    else if (a.tpe == 2) b
    else if (b.tpe == 2) a
    else if (a.tpe == 1 && b.tpe == 1) Node(1, intersect(a, b), None, math.min(a.est, b.est))
    else if (a.tpe == 0 && b.tpe == 0) Node(0, merge(a, b), None, a.est + b.est)
    else if (a.tpe == 1) Node(1, difference(a, b), None, a.est)
    else Node(1, difference(b, a), None, b.est)

  private def stripPositions(n: Node): Node = n.copy(positions = None)

  /** J6: n-ary AND, smallest-estimated-first left fold. */
  private def nAryAnd(ns: Vector[Node]): Node =
    if (ns.length == 1) stripPositions(ns.head)
    else ns.sortBy(_.est).reduceLeft(combineAnd)

  /** J7: n-ary OR, the reference's balanced binary merge tree
    * (`util/QueryParser.java:267-279`), exactly as [[PostingAlgebra.nAryOr]].
    */
  private def nAryOr(ns: Vector[Node]): Node =
    if (ns.length == 1) stripPositions(ns.head)
    else {
      val m = ns.length / 2
      combineOr(nAryOr(ns.take(m)), nAryOr(ns.drop(m)))
    }

  /** Every index term mentioned by the query (used for the pruning
    * semi-filter and the stats fetch — reference
    * `code/query/QueryMapred.java:56-77,126-162`).
    */
  def leafTerms(ast: QueryAst): Vector[String] = ast match {
    case Word(t)       => Vector(t)
    case ExceptWord(t) => Vector(t)
    case StopWord      => Vector.empty
    case And(cs)       => cs.flatMap(leafTerms)
    case Or(cs, _)     => cs.flatMap(leafTerms)
  }

  /** The terms whose positions the algebra can read: leaves that are
    * direct operands of a multi-operand AND, i.e. words of a multi-word
    * phrase. Every other leaf loses its positions before any combine.
    */
  private def phraseTerms(ast: QueryAst): Vector[String] = ast match {
    case And(cs) if cs.length > 1 =>
      cs.collect { case Word(t) => t; case ExceptWord(t) => t } ++ cs.flatMap(phraseTerms)
    case And(cs)   => cs.flatMap(phraseTerms)
    case Or(cs, _) => cs.flatMap(phraseTerms)
    case _         => Vector.empty
  }

  /** Whether some n-ary AND's df order can change the query's result,
    * decided from the data-independent wrapper types: an AND of 3 or more
    * operands (the order picks the pair that keeps phrase positions, and
    * the product's rounding), or one with a -1 operand (a negated group
    * of stop words only), where the J4 dispatch is not symmetric. Every
    * other AND evaluates identically in either order, so its query
    * compiles without [[termStats]].
    */
  def needsStats(ast: QueryAst): Boolean = ast match {
    case And(cs) =>
      cs.length > 2 ||
        (cs.length == 2 && cs.exists(c => compile(c, noPostings, Map.empty).tpe == -1)) ||
        cs.exists(needsStats)
    case Or(cs, _) => cs.exists(needsStats)
    case _         => false
  }

  /** Values of an `In` that Spark pushes to Parquet as one equality per
    * value: the default of `spark.sql.parquet.pushdown.inFilterThreshold`.
    */
  private val PushedEqualities = 10

  /** `c IN (values)`, in a form that Spark pushes to Parquet as one
    * `c = v` equality per value, whose page index then keeps only the
    * pages whose `[min, max]` can hold some value. Same rows as `isin`:
    * a null `c` never matches.
    *
    * Up to [[PushedEqualities]] values this is `isin` itself. Above it,
    * Spark pushes an `isin` as Parquet's `In`, which the page index
    * tests only against the set's own min and max: a batch would read
    * every page between its smallest and its largest term. So a larger
    * set is also ANDed with an OR of hash-set tests of at most
    * [[PushedEqualities]] sorted values each, each pushed as
    * equalities; Parquet keeps the pages that both pushed filters keep.
    * The row-level filter tests the whole set first, so the
    * OR runs only for matching rows, and its generated code grows by one
    * set lookup per ten values: a plain OR of 190 equalities compiles to
    * a method over the JIT's 8,000-byte limit and runs interpreted.
    */
  private[search] def equalsAny(c: Column, values: Seq[String]): Column = {
    val vs = values.distinct
    def inSet(g: Seq[String]): Column = GraftSqlBridge.column(
      InSet(GraftSqlBridge.expression(c), g.map(UTF8String.fromString).toSet))
    def anyOf(sets: IndexedSeq[Column]): Column =
      if (sets.length == 1) sets.head
      else {
        val (l, r) = sets.splitAt(sets.length / 2)
        anyOf(l) || anyOf(r)
      }
    if (vs.length <= PushedEqualities) c.isin(vs: _*)
    else c.isin(vs: _*) && anyOf(vs.sorted.grouped(PushedEqualities).map(inSet).toIndexedSeq)
  }

  /** Per-term document frequencies for the query's terms: one small
    * aggregate over the index pages that hold them ([[equalsAny]]).
    */
  def termStats(index: DataFrame, terms: Seq[String]): Map[String, Long] =
    if (terms.isEmpty) Map.empty
    else index.filter(equalsAny(col("term"), terms))
      .groupBy("term").agg(count("*").as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** `(doc_id, postings)` for every document holding a term of `asts`,
    * where `postings` is a `map<term, struct<score, positions>>` over a
    * posting table with schema `(term, doc_id, score, positions, ...)`
    * holding one row per (term, doc). The term filter is the
    * reference's mapper-side semi-filter (J8/X1): one pushed equality
    * per term ([[equalsAny]]), so a scan of the at-rest index decodes
    * only the pages that hold the batch's terms, whatever the batch
    * size. Positions are kept only for phrase words, so the group-by
    * shuffles scores alone for every other term.
    */
  def postingMaps(index: DataFrame, asts: Seq[QueryAst]): DataFrame = {
    val terms = asts.flatMap(leafTerms).distinct
    val withPositions = asts.flatMap(phraseTerms).distinct
    index.filter(equalsAny(col("term"), terms))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("term"),
        struct(col("score").as("score"),
          when(col("term").isin(withPositions: _*), col("positions"))
            .as("positions"))))).as("postings"))
  }

  /** Compile a parsed query to its score expression over a
    * [[postingMaps]] column.
    */
  def compile(ast: QueryAst, postings: Column, stats: Map[String, Long]): Node = {
    def leaf(tpe: Int, term: String): Node = {
      val posting = postings.getItem(term)
      Node(tpe, posting.getField("score"), Some(posting.getField("positions")),
        stats.getOrElse(term, 0L))
    }
    // a query that is nothing but connectives ("and") parses to a
    // zero-child node (Java split of an exact match is an empty array);
    // degrade to an empty result instead of the reference's crash
    val emptyNode = Node(0, noPostings, None, 0L)
    def go(a: QueryAst): Node = a match {
      case Word(t)       => leaf(0, t)
      case ExceptWord(t) => leaf(1, t)
      case StopWord      => Node(2, noPostings, None, 0L)
      case And(cs) => if (cs.isEmpty) emptyNode else nAryAnd(cs.map(go))
      case Or(cs, negated) =>
        if (cs.isEmpty) emptyNode
        else {
          val r = nAryOr(cs.map(go))
          if (negated) r.copy(tpe = 1 - r.tpe) else r
        }
    }
    go(ast)
  }
}
