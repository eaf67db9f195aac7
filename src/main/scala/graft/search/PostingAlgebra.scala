package graft.search

/** In-memory posting-list set algebra — the executable semantics spec of
  * the reference's boolean evaluator (`util/QueryParser.java:96-335`).
  *
  * This is NOT the distributed execution path (that is
  * [[QueryCompiler]], which folds the same algebra into per-document
  * score expressions); it exists (a) to pin the reference's golden
  * fixture (`util/QueryParser.java:375-388`) in a unit test, and (b) to
  * serve as the brute-force oracle for property tests of that compiler.
  *
  * Wrapper types (`util/QueryParser.java:63-70`): 0 = normal (documents
  * must appear), 1 = negated (documents must NOT appear), 2 = stop word
  * (identity operand, dropped).
  */
object PostingAlgebra {

  /** One posting. `positions` are DELTA-encoded gaps exactly like the
    * reference index (`code/inverted/InvertedIndexMapred.java:134-140`);
    * doc ids are strings compared lexicographically
    * (`util/PostingList.java:124-126`) — both quirks kept here because
    * this class mirrors the reference bit-for-bit.
    */
  final case class Posting(docId: String, score: Double, positions: Vector[Int] = Vector.empty)

  final case class Wrapped(tpe: Int, postings: Vector[Posting])

  val PhraseFactor = 1.0 // util/QueryParser.java:45

  /** Parse the reference's posting-list string codec
    * `docId:score:p1,p2|docId:...` (`util/PostingList.java:40-41,85-112`).
    */
  def parsePostingList(s: String): Vector[Posting] =
    if (s.isEmpty) Vector.empty
    else s.split("\\|").toVector.map { p =>
      val parts = p.split(":")
      val positions =
        if (parts.length < 3) Vector.empty[Int]
        else parts(2).split(",").toVector.map(_.toInt)
      Posting(parts(0), parts(1).toDouble, positions)
    }

  /** Exact min token distance between two ABSOLUTE position lists (the
    * index stores absolute positions; Parquet handles delta encoding).
    * Two-pointer scan — the clean form of the reference's skip-ahead walk
    * over gap lists (`util/QueryParser.java:210-248`). This Scala form is
    * the executable SPEC; the plan uses the codegen'd
    * [[graft.functions.MinTokenDistance]] expression (equivalence is
    * property-tested), keeping every phrase-AND inside whole-stage
    * codegen — no ScalaUDF remains anywhere in the query hot path.
    */
  def minDistanceAbs(a: Seq[Int], b: Seq[Int]): Option[Int] = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return None
    var i = 0; var j = 0; var best = Int.MaxValue
    while (i < a.length && j < b.length) {
      val d = math.abs(a(i) - b(j))
      if (d < best) best = d
      if (a(i) < b(j)) i += 1 else j += 1
    }
    if (best == Int.MaxValue) None else Some(best)
  }

  /** [[minDistanceAbs]] over two occurrence lists given as deltas (the
    * reference's posting codec), decoded to absolute positions first.
    */
  def minDistance(deltas1: Vector[Int], deltas2: Vector[Int]): Option[Int] =
    minDistanceAbs(deltas1.scanLeft(0)(_ + _).tail, deltas2.scanLeft(0)(_ + _).tail)

  /** AND of two posting lists: sort-merge inner join on docId; matched
    * score = `pow(s1*s2, phraseFactor + 1/minDist)` when both sides carry
    * positions, plain product otherwise (`util/QueryParser.java:194-258`).
    * Output postings carry no positions — position data survives exactly
    * one combine, like the reference.
    */
  def intersect(as: Vector[Posting], bs: Vector[Posting]): Vector[Posting] = {
    val out = Vector.newBuilder[Posting]
    var i = 0; var j = 0
    while (i < as.length && j < bs.length) {
      val cmp = as(i).docId.compareTo(bs(j).docId)
      if (cmp < 0) i += 1
      else if (cmp > 0) j += 1
      else {
        val l = as(i); val r = bs(j)
        val score = minDistance(l.positions, r.positions) match {
          case Some(d) => math.pow(l.score * r.score, PhraseFactor + 1.0 / d)
          case None    => l.score * r.score
        }
        out += Posting(l.docId, score)
        i += 1; j += 1
      }
    }
    out.result()
  }

  /** OR of two posting lists: full-outer sort-merge; matched rows sum
    * scores (`util/QueryParser.java:300-325`).
    */
  def merge(as: Vector[Posting], bs: Vector[Posting]): Vector[Posting] = {
    val out = Vector.newBuilder[Posting]
    var i = 0; var j = 0
    while (i < as.length || j < bs.length) {
      if (i == as.length) { out += bs(j).copy(positions = Vector.empty); j += 1 }
      else if (j == bs.length) { out += as(i).copy(positions = Vector.empty); i += 1 }
      else {
        val cmp = as(i).docId.compareTo(bs(j).docId)
        if (cmp < 0) { out += Posting(as(i).docId, as(i).score); i += 1 }
        else if (cmp > 0) { out += Posting(bs(j).docId, bs(j).score); j += 1 }
        else {
          out += Posting(as(i).docId, as(i).score + bs(j).score)
          i += 1; j += 1
        }
      }
    }
    out.result()
  }

  /** AND NOT: left-anti sort-merge (`util/QueryParser.java:173-192`). */
  def difference(as: Vector[Posting], bs: Vector[Posting]): Vector[Posting] = {
    val out = Vector.newBuilder[Posting]
    var i = 0; var j = 0
    while (i < as.length) {
      if (j == bs.length) { out += Posting(as(i).docId, as(i).score); i += 1 }
      else {
        val cmp = as(i).docId.compareTo(bs(j).docId)
        if (cmp < 0) { out += Posting(as(i).docId, as(i).score); i += 1 }
        else if (cmp > 0) j += 1
        else { i += 1; j += 1 }
      }
    }
    out.result()
  }

  /** Negation-aware AND combine — the De Morgan type dispatch of
    * `util/QueryParser.java:122-139`. Stop-word operands (type 2) are
    * identity elements.
    */
  def combineAnd(a: Wrapped, b: Wrapped): Wrapped =
    if (a.tpe == 2 && b.tpe == 2) Wrapped(2, Vector.empty)
    else if (a.tpe == 2) b
    else if (b.tpe == 2) a
    else if (a.tpe == 1 && b.tpe == 1) Wrapped(1, merge(a.postings, b.postings))
    else if (a.tpe == 0 && b.tpe == 0) Wrapped(0, intersect(a.postings, b.postings))
    else if (a.tpe == 1) Wrapped(0, difference(b.postings, a.postings))
    else Wrapped(0, difference(a.postings, b.postings))

  /** Negation-aware OR combine (`util/QueryParser.java:281-298`). */
  def combineOr(a: Wrapped, b: Wrapped): Wrapped =
    if (a.tpe == 2 && b.tpe == 2) Wrapped(2, Vector.empty)
    else if (a.tpe == 2) b
    else if (b.tpe == 2) a
    else if (a.tpe == 1 && b.tpe == 1) Wrapped(1, intersect(a.postings, b.postings))
    else if (a.tpe == 0 && b.tpe == 0) Wrapped(0, merge(a.postings, b.postings))
    else if (a.tpe == 1) Wrapped(1, difference(a.postings, b.postings))
    else Wrapped(1, difference(b.postings, a.postings))

  private def stripPositions(w: Wrapped): Wrapped =
    Wrapped(w.tpe, w.postings.map(p => Posting(p.docId, p.score)))

  /** n-ary AND: operands sorted smallest-first (cardinality-based join
    * reordering, `util/QueryParser.java:148-171`), then a left fold. A
    * single operand is copied WITHOUT positions (`:152-160`) — which is
    * why proximity scoring only ever fires inside a multi-word phrase.
    */
  def nAryAnd(ws: Vector[Wrapped]): Wrapped =
    if (ws.isEmpty) Wrapped(0, Vector.empty)
    else if (ws.length == 1) stripPositions(ws.head)
    else ws.sortBy(_.postings.length).reduceLeft(combineAnd)

  /** n-ary OR: balanced binary merge tree (`util/QueryParser.java:267-279`);
    * a single operand is copied without positions.
    */
  def nAryOr(ws: Vector[Wrapped]): Wrapped =
    if (ws.isEmpty) Wrapped(0, Vector.empty) // reference crashes here; degrade
    else if (ws.length == 1) stripPositions(ws.head)
    else {
      val mid = ws.length / 2
      combineOr(nAryOr(ws.take(mid)), nAryOr(ws.drop(mid)))
    }

  /** Recursive evaluation of a parsed query against an in-memory index —
    * reference `Query.evaluate` (`util/QueryParser.java:96-120`). A term
    * missing from the index contributes an empty list (`:102-103`).
    */
  def evaluate(ast: QueryAst, index: Map[String, Vector[Posting]]): Wrapped = ast match {
    case QueryAst.Word(t)       => Wrapped(0, index.getOrElse(t, Vector.empty))
    case QueryAst.ExceptWord(t) => Wrapped(1, index.getOrElse(t, Vector.empty))
    case QueryAst.StopWord      => Wrapped(2, Vector.empty)
    case QueryAst.And(cs)       => nAryAnd(cs.map(evaluate(_, index)))
    case QueryAst.Or(cs, negated) =>
      val r = nAryOr(cs.map(evaluate(_, index)))
      if (negated) r.copy(tpe = 1 - r.tpe) else r
  }

  /** Rank by score descending; stable, so equal scores keep docId order
    * (`util/PostingList.java:160-166` uses a stable sort).
    */
  def rank(w: Wrapped): Vector[Posting] = w.postings.sortBy(p => -p.score)
}
