package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.search.PostingAlgebra._
import graft.search.QueryAst._
import graft.search.QueryParser

/** Golden semantics test: the reference's only executable fixture
  * (`util/QueryParser.java:375-388`) plus the parser edge cases called
  * out in its changelog (`util/QueryParser.java:12-21`) and the De Morgan
  * type-combination table (`:122-139,281-298`).
  */
class QueryAlgebraSpec extends AnyFunSuite {

  /** Fixture index, posting-list string codec `docId:score:p1,p2|...`
    * with delta-encoded positions (`util/QueryParser.java:379-382`).
    */
  val fixtureIndex: Map[String, Vector[Posting]] = Map(
    "vanilla" -> parsePostingList("1:2.0:1,5|2:2.0:4,10"),
    "chocolate" -> parsePostingList("1:2.0:2,6|2:2.0:6,12|4:4.0:1,2"),
    "strawberri" -> parsePostingList("1:1.4:3,4|2:1.4:8,14|4:2.0:1,2"),
    "cake" -> parsePostingList("1:1.4:3,4|2:1.4:8,14|4:2.0:1,2")
  )

  test("golden fixture: (vanilla or not chocolate cake) and (strawberry)") {
    val ast = new QueryParser(Set.empty)
      .parse("(vanilla or not chocolate cake) and (strawberry)")
    val result = evaluate(ast, fixtureIndex)
    // Trace (mirrors the reference evaluator):
    //  - "not chocolate cake" is an EXCEPT_WORD leaf with the UNSTEMMED
    //    term "chocolate cake" -> not in the index -> empty, type 1.
    //  - OR(vanilla[type0], empty[type1]) = type1 difference(empty, vanilla)
    //    -> empty, type 1.
    //  - AND(empty[type1], strawberri[type0]) = difference(strawberri, empty)
    //    -> the full strawberri list, type 0.
    assert(result.tpe == 0)
    val ranked = rank(result)
    assert(ranked.map(p => (p.docId, p.score)) ==
      Vector(("4", 2.0), ("1", 1.4), ("2", 1.4)))
  }

  test("phrase proximity: two-word phrase boosts by min distance") {
    // "chocolate cake" as a true phrase (both terms in index).
    val ast = And(Vector(Word("chocolate"), Word("cake")))
    val result = evaluate(ast, fixtureIndex)
    assert(result.tpe == 0)
    // doc 1: chocolate abs {2,8}, cake abs {3,7} -> minDist 1
    //   score = pow(2.0*1.4, 1 + 1/1) = 2.8^2
    // doc 2: chocolate abs {6,18}, cake abs {8,22} -> minDist 2
    //   score = pow(2.8, 1.5)
    // doc 4: chocolate abs {1,3}, cake abs {1,3} -> minDist 0 -> 1/0 = Inf
    val byDoc = result.postings.map(p => p.docId -> p.score).toMap
    assert(math.abs(byDoc("1") - math.pow(2.8, 2.0)) < 1e-9)
    assert(math.abs(byDoc("2") - math.pow(2.8, 1.5)) < 1e-9)
    assert(byDoc("4").isInfinity) // minDist 0: reference divides by zero too
  }

  test("parser: \\b boundaries — words containing 'or'/'and' are not split") {
    val ast = new QueryParser(Set.empty).parse("normal and brand")
    assert(ast == And(Vector(
      Or(Vector(And(Vector(Word("normal")))), negated = false),
      Or(Vector(And(Vector(Word("brand")))), negated = false))))
  }

  test("parser: not(A or B) becomes a negated OR clause") {
    val ast = new QueryParser(Set.empty).parse("not (vanilla or chocolate)")
    assert(ast == And(Vector(
      Or(Vector(And(Vector(Word("vanilla"))), And(Vector(Word("chocol")))),
        negated = true))))
  }

  test("parser: 'A and B or not C' — not-literal is a word, never a phrase") {
    val ast = new QueryParser(Set.empty).parse("apple and banana or not cherry pie")
    assert(ast == And(Vector(
      Or(Vector(And(Vector(Word("appl")))), negated = false),
      Or(Vector(
        And(Vector(Word("banana"))),
        ExceptWord("cherry pie") // un-stemmed, multi-word, contractual quirk
      ), negated = false))))
  }

  test("parser: stop words become identity leaves") {
    val sw = QueryParser.stemmedStopWords(Seq("the", "a"))
    val ast = new QueryParser(sw).parse("the vanilla")
    assert(ast == And(Vector(Or(Vector(
      And(Vector(StopWord, Word("vanilla")))), negated = false))))
  }

  test("De Morgan type table: AND") {
    val a = Wrapped(0, parsePostingList("1:1.0|2:2.0"))
    val b = Wrapped(0, parsePostingList("2:3.0|3:4.0"))
    val na = Wrapped(1, a.postings)
    val nb = Wrapped(1, b.postings)
    val sw = Wrapped(2, Vector.empty)
    // A and B -> intersect
    assert(combineAnd(a, b).tpe == 0)
    assert(combineAnd(a, b).postings.map(_.docId) == Vector("2"))
    assert(combineAnd(a, b).postings.head.score == 6.0)
    // -A and -B -> -(A merge B)
    val r2 = combineAnd(na, nb)
    assert(r2.tpe == 1 && r2.postings.map(_.docId) == Vector("1", "2", "3"))
    assert(r2.postings(1).score == 5.0) // merged doc 2 sums 2+3
    // -A and B -> B - A
    val r3 = combineAnd(na, b)
    assert(r3.tpe == 0 && r3.postings.map(_.docId) == Vector("3"))
    // A and -B -> A - B
    val r4 = combineAnd(a, nb)
    assert(r4.tpe == 0 && r4.postings.map(_.docId) == Vector("1"))
    // stop words are identities
    assert(combineAnd(sw, b) eq b)
    assert(combineAnd(a, sw) eq a)
    assert(combineAnd(sw, sw).tpe == 2)
  }

  test("De Morgan type table: OR") {
    val a = Wrapped(0, parsePostingList("1:1.0|2:2.0"))
    val b = Wrapped(0, parsePostingList("2:3.0|3:4.0"))
    val na = Wrapped(1, a.postings)
    val nb = Wrapped(1, b.postings)
    val sw = Wrapped(2, Vector.empty)
    // A or B -> merge, scores sum
    val r1 = combineOr(a, b)
    assert(r1.tpe == 0 && r1.postings.map(p => (p.docId, p.score)) ==
      Vector(("1", 1.0), ("2", 5.0), ("3", 4.0)))
    // -A or -B -> -(A intersect B)
    val r2 = combineOr(na, nb)
    assert(r2.tpe == 1 && r2.postings.map(_.docId) == Vector("2"))
    // -A or B -> -(A - B)
    val r3 = combineOr(na, b)
    assert(r3.tpe == 1 && r3.postings.map(_.docId) == Vector("1"))
    // A or -B -> -(B - A)
    val r4 = combineOr(a, nb)
    assert(r4.tpe == 1 && r4.postings.map(_.docId) == Vector("3"))
    assert(combineOr(sw, b) eq b)
    assert(combineOr(sw, sw).tpe == 2)
  }

  test("missing term evaluates to an empty posting list") {
    val r = evaluate(And(Vector(Word("zzz"), Word("vanilla"))), fixtureIndex)
    assert(r.tpe == 0 && r.postings.isEmpty)
  }

  test("minDistance on delta-encoded lists") {
    // abs a = {1,3,4,5,10,11}; abs b = {7,12} -> min |11-12| = 1
    assert(minDistance(Vector(1, 2, 1, 1, 5, 1), Vector(7, 5)) == Some(1))
    assert(minDistance(Vector.empty, Vector(1)) == None)
    assert(minDistance(Vector(5), Vector(5)) == Some(0))
  }
}
