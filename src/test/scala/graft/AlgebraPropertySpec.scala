package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.search.PostingAlgebra._

/** Property-style tests: the sort-merge set algebra against brute-force
  * set semantics on random docId-sorted posting lists (SURVEY.md §5
  * item 3). Deterministic seed so failures reproduce.
  */
class AlgebraPropertySpec extends AnyFunSuite {

  val rng = new scala.util.Random(42)

  /** Random posting list over a docId universe of 0..30; docIds are
    * zero-padded so string order == numeric order.
    */
  def randomList(): Vector[Posting] =
    (0 to 30).filter(_ => rng.nextBoolean()).toVector
      .map(id => Posting(f"$id%03d", (rng.nextInt(1000) + 1) / 100.0))

  def cases: Seq[(Vector[Posting], Vector[Posting])] =
    Seq.fill(200)((randomList(), randomList()))

  test("intersect = set intersection; scores multiply; output sorted") {
    for ((a, b) <- cases) {
      val got = intersect(a, b)
      assert(got.map(_.docId).toSet == (a.map(_.docId).toSet intersect b.map(_.docId).toSet))
      val as = a.map(p => p.docId -> p.score).toMap
      val bs = b.map(p => p.docId -> p.score).toMap
      got.foreach(p => assert(math.abs(p.score - as(p.docId) * bs(p.docId)) < 1e-12))
      assert(got.map(_.docId) == got.map(_.docId).sorted)
    }
  }

  test("merge = set union; matched scores sum; output sorted") {
    for ((a, b) <- cases) {
      val got = merge(a, b)
      assert(got.map(_.docId).toSet == (a.map(_.docId).toSet union b.map(_.docId).toSet))
      val as = a.map(p => p.docId -> p.score).toMap.withDefaultValue(0.0)
      val bs = b.map(p => p.docId -> p.score).toMap.withDefaultValue(0.0)
      got.foreach(p => assert(math.abs(p.score - (as(p.docId) + bs(p.docId))) < 1e-12))
      assert(got.map(_.docId) == got.map(_.docId).sorted)
    }
  }

  test("difference = set minus; output sorted") {
    for ((a, b) <- cases) {
      val got = difference(a, b)
      assert(got.map(_.docId).toSet == (a.map(_.docId).toSet diff b.map(_.docId).toSet))
      assert(got.map(_.docId) == got.map(_.docId).sorted)
    }
  }

  test("De Morgan: -A and -B has the same docs as -(A or B)") {
    for ((a, b) <- cases) {
      val viaAnd = combineAnd(Wrapped(1, a), Wrapped(1, b))
      val viaOr = combineOr(Wrapped(0, a), Wrapped(0, b))
      assert(viaAnd.tpe == 1)
      assert(viaAnd.postings.map(_.docId) == viaOr.postings.map(_.docId))
    }
  }

  test("De Morgan: -A or -B has the same docs as -(A and B)") {
    for ((a, b) <- cases) {
      val viaOr = combineOr(Wrapped(1, a), Wrapped(1, b))
      val viaAnd = combineAnd(Wrapped(0, a), Wrapped(0, b))
      assert(viaOr.tpe == 1)
      assert(viaOr.postings.map(_.docId) == viaAnd.postings.map(_.docId))
    }
  }

  test("stop-word operands are identities under both combines") {
    for ((a, _) <- cases) {
      val sw = Wrapped(2, Vector.empty)
      assert(combineAnd(Wrapped(0, a), sw).postings == a)
      assert(combineOr(Wrapped(0, a), sw).postings == a)
    }
  }
}
