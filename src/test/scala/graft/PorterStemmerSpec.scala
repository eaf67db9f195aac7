package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PorterStemmer

/** Vectors from the reference stemmer's own doc examples
  * (`util/Stemmer.java:206-226`) plus classic Porter-paper cases.
  */
class PorterStemmerSpec extends AnyFunSuite {

  val vectors = Seq(
    "caresses" -> "caress",
    "ponies" -> "poni",
    "ties" -> "ti",
    "caress" -> "caress",
    "cats" -> "cat",
    "feed" -> "feed",
    "agreed" -> "agre",
    "disabled" -> "disabl",
    "matting" -> "mat",
    "mating" -> "mate",
    "meeting" -> "meet",
    "milling" -> "mill",
    "messing" -> "mess",
    "meetings" -> "meet",
    // Porter-paper step examples
    "relational" -> "relat",
    "conditional" -> "condit",
    "rational" -> "ration",
    "valenci" -> "valenc",
    "hesitanci" -> "hesit",
    "digitizer" -> "digit",
    "conformabli" -> "conform",
    "radicalli" -> "radic",
    "differentli" -> "differ",
    "vileli" -> "vile",
    "analogousli" -> "analog",
    "vietnamization" -> "vietnam",
    "predication" -> "predic",
    "operator" -> "oper",
    "feudalism" -> "feudal",
    "decisiveness" -> "decis",
    "hopefulness" -> "hope",
    "callousness" -> "callous",
    "formaliti" -> "formal",
    "sensitiviti" -> "sensit",
    "sensibiliti" -> "sensibl",
    "triplicate" -> "triplic",
    "formative" -> "form",
    "formalize" -> "formal",
    "electriciti" -> "electr",
    "electrical" -> "electr",
    "hopeful" -> "hope",
    "goodness" -> "good",
    "revival" -> "reviv",
    "allowance" -> "allow",
    "inference" -> "infer",
    "airliner" -> "airlin",
    "gyroscopic" -> "gyroscop",
    "adjustable" -> "adjust",
    "defensible" -> "defens",
    "irritant" -> "irrit",
    "replacement" -> "replac",
    "adjustment" -> "adjust",
    "dependent" -> "depend",
    "adoption" -> "adopt",
    "homologou" -> "homolog",
    "communism" -> "commun",
    "activate" -> "activ",
    "angulariti" -> "angular",
    "homologous" -> "homolog",
    "effective" -> "effect",
    "bowdlerize" -> "bowdler",
    "probate" -> "probat",
    "rate" -> "rate",
    "cease" -> "ceas",
    "controll" -> "control",
    "roll" -> "roll",
    // query-domain words
    "strawberry" -> "strawberri",
    "chocolate" -> "chocol",
    "vanilla" -> "vanilla",
    "cake" -> "cake",
    // length <= 2: unchanged (reference stems only when k > 1)
    "a" -> "a",
    "is" -> "is",
    "by" -> "by"
  )

  test("Porter stemmer matches reference vectors") {
    for ((in, want) <- vectors)
      assert(PorterStemmer.stem(in) == want, s"stem($in)")
  }

  test("stemmer is idempotent-safe on empty and digits") {
    assert(PorterStemmer.stem("") == "")
    assert(PorterStemmer.stem("123") == "123")
    assert(PorterStemmer.stem("x1y2z3") == "x1y2z3")
  }
}
