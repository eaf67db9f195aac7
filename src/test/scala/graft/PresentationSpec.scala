package graft.search

import org.scalatest.funsuite.AnyFunSuite

/** Presentation-layer semantics against reference fixtures: the
  * SearchResult codec round trip (`util/SearchResult.java:123-127`),
  * ordinal indexOf, snippet windowing, highlight-word derivation
  * (`util/CorpusFetcher.java:120-238`).
  */
class PresentationSpec extends AnyFunSuite {

  test("SearchResult codec round trip (reference fixture)") {
    val r = SearchResult.decode("12;1,2,3,4,5,6,7;4,23,34,23,1")
    assert(r.count == 12)
    assert(r.pages == Vector(Vector(1L, 2, 3, 4, 5, 6, 7), Vector(4L, 23, 34, 23, 1)))
    assert(r.encode == "12;1,2,3,4,5,6,7;4,23,34,23,1")
    // overflow clamps to last page; 1-based addressing
    assert(r.page(1) == Vector(1L, 2, 3, 4, 5, 6, 7))
    assert(r.page(9) == Vector(4L, 23, 34, 23, 1))
    assert(SearchResult.fromRanked(12, (1L to 17L)).pages.map(_.length) == Vector(10, 7))
  }

  test("ordinalIndexOf: min(n, occurrences)-th occurrence") {
    // 3rd occurrence when present
    assert(SearchEngine.ordinalIndexOf("a b a b a", "a", 3) == 8)
    // fewer than n occurrences -> last one
    assert(SearchEngine.ordinalIndexOf("a b a", "a", 3) == 4)
    assert(SearchEngine.ordinalIndexOf("x a x", "a", 3) == 2)
    // absent -> -1
    assert(SearchEngine.ordinalIndexOf("xyz", "a", 3) == -1)
  }

  test("snippet: no hits truncates to 300 chars with ellipsis") {
    val long = "z" * 400
    val s = SearchEngine.snippetOf(long, Seq("missing"))
    assert(s == "z" * 300 + "...")
    val short = "short content"
    assert(SearchEngine.snippetOf(short, Seq("missing")) == short)
  }

  test("snippet: windows merge around hits and clamp to bounds") {
    val content = ("x" * 50) + "needle" + ("y" * 400)
    val s = SearchEngine.snippetOf(content, Seq("needle"))
    assert(s.contains("needle"))
    // one hit -> window of ~300 around position 50: starts at content head
    assert(s.length <= 310)
    // hit at position 0 clamps left without losing width
    val s2 = SearchEngine.snippetOf("needle" + ("y" * 400), Seq("needle"))
    assert(s2.startsWith("needle"))
    assert(s2.endsWith("..."))
  }

  test("highlight wrap marks word and Capitalized form") {
    val out = SearchEngine.highlightWrap("Spark and spark and sparkle", Seq("spark"))
    val span = "<span style=\"background-color: #FFFF00\">"
    assert(out.contains(span + "spark</span>"))
    assert(out.contains(span + "Spark</span>"))
    assert(out.contains("sparkle")) // \b boundary: no partial-word wrap
    assert(!out.contains(span + "sparkle"))
  }

  test("highlight wrap treats query words as literals, not regex") {
    val span = "<span style=\"background-color: #FFFF00\">"
    // an unbalanced paren reaches the highlights and must not throw
    assert(QueryParser.highlightWords("spark or (data").contains("(data"))
    assert(SearchEngine.highlightWrap("spark or (data", Seq("(data")) ==
      "spark or (data")
    // a regex group must not match (and rewrap) the bare word
    assert(SearchEngine.highlightWrap("big data", Seq("(data)")) == "big data")
    // $ and \ are literal in both pattern and replacement
    assert(SearchEngine.highlightWrap("x a$b y", Seq("a$b")) ==
      "x " + span + "a$b</span> y")
    assert(SearchEngine.highlightWrap("x a\\b y", Seq("a\\b")) ==
      "x " + span + "a\\b</span> y")
  }

  test("highlight words: positive literals only, double negation flips") {
    // un-negated words kept, 'not x' dropped
    assert(QueryParser.highlightWords("vanilla and not chocolate") == Vector("vanilla"))
    // negated clause: only its not-literals are positive
    assert(QueryParser.highlightWords("not (vanilla or not chocolate)") ==
      Vector("chocolate"))
    // phrase words all kept
    assert(QueryParser.highlightWords("vanilla cake") == Vector("vanilla", "cake"))
  }
}
