package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.functions.PorterStemmer

/** The stated sizes of the generated inputs. Every workload runs on the
  * same corpus, so the workloads differ only in the layers they drive.
  * `layers.json` repeats these numbers, with the measurements that fixed
  * them; `SelfTest` checks that it does.
  */
object Sizes {
  val Docs = 10000
  val Vocabulary = 5000
  val MinTokens = 50
  val MaxTokens = 300
  val ZipfExponent = 1.0
  /** `Indexer.stopWordList(docs, StopWords)`: the hottest words are
    * dropped from the index; 100 is the reference's NUM_STOP_WORD. */
  val StopWords = 100
  /** Share of documents that are an edited copy of an earlier document. */
  val NearDupRate = 0.02
  /** Share of a near copy's tokens that are replaced. */
  val EditRate = 0.04
  /** Share of documents that are a verbatim copy of an earlier document. */
  val ExactDupRate = 0.01
  /** Share of tokens followed by a comma or a full stop. */
  val PunctRate = 0.06
  /** Queries per `searchMany` call: one of each query shape, so every call
    * plans the same mix. */
  val BatchK = QueryStream.Shapes
  /** Distinct queries per search round, one of each shape; the cache is
    * emptied per round, so its size does not depend on how many rounds
    * fit in a run. */
  val RoundQueries = QueryStream.Shapes
  /** `Dedup.minHashLshVerified`'s default Jaccard threshold. */
  val MinJaccard = 0.2
}

/** One generated document: `tokens` index into the vocabulary, and
  * position p (1-based) of the analyzer is `tokens(p - 1)`.
  */
final case class Doc(id: Long, tokens: Array[Int], text: String)

/** A seeded corpus: Zipf term frequencies over a vocabulary of Porter
  * stemmer fixed points, with planted near and exact duplicates. Because
  * every vocabulary word stems to itself and every token is a word, the
  * generator knows each posting's tf, df and positions exactly.
  */
final class Corpus private (val seed: Long, val vocab: Array[String],
                            val docs: Array[Doc],
                            val plantedPairs: Vector[(Long, Long)]) {

  /** Total token count per vocabulary index. */
  lazy val counts: Array[Long] = {
    val c = new Array[Long](vocab.length)
    for (d <- docs; t <- d.tokens) c(t) += 1
    c
  }

  /** The words `Indexer.stopWordList(docs, Sizes.StopWords)` must return:
    * the most frequent tokens, ties broken on the word. */
  lazy val stopWords: Vector[String] =
    vocab.indices.filter(counts(_) > 0)
      .sortBy(i => (-counts(i), vocab(i))).take(Sizes.StopWords)
      .map(vocab(_)).toVector

  private lazy val stopSet: Set[String] = stopWords.toSet

  /** Expected postings per indexed term, ascending doc id:
    * (doc id, 1-based positions). */
  lazy val postings: Map[String, Vector[(Long, Array[Int])]] = {
    val out = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Long, Array[Int])]]
    for (d <- docs) {
      val byTerm = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuilder.ofInt]
      var p = 0
      while (p < d.tokens.length) {
        val t = d.tokens(p)
        if (!stopSet.contains(vocab(t)))
          byTerm.getOrElseUpdate(t, new mutable.ArrayBuilder.ofInt) += (p + 1)
        p += 1
      }
      for ((t, ps) <- byTerm)
        out.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += ((d.id, ps.result()))
    }
    out.map { case (t, v) => vocab(t) -> v.toVector }.toMap
  }

  /** Indexed terms by descending df, ties on the word. */
  lazy val termsByDf: Vector[String] =
    postings.toVector.sortBy { case (t, ps) => (-ps.length, t) }.map(_._1)

  lazy val textBytes: Long =
    docs.iterator.map(_.text.getBytes("UTF-8").length.toLong).sum
}

object Corpus {

  private val Consonants = "bcdfghjklmpqrstvwxz"
  private val Vowels = "aeiouy"
  /** Words of the highlight markup `<span style="background-color: ...">`:
    * a vocabulary word equal to one would be re-wrapped inside the markup. */
  private val Markup = Set("span", "style", "background", "color")

  /** A word qualifies if it stems to itself (so term = token), is not a
    * query connective and contains none (the highlight parser splits
    * on plain "and"/"or"), and is not highlight markup. */
  private def qualifies(w: String): Boolean =
    PorterStemmer.stem(w) == w && !w.contains("and") && !w.contains("or") &&
      !w.contains("not") && !Markup.contains(w)

  /** `n` distinct words, none a substring of another. Substring-freedom
    * makes the snippet renderer's substring search land on whole words,
    * so every highlighted word's occurrence is predictable. */
  def vocabulary(n: Int, rng: SplittableRandom): Array[String] = {
    val words = mutable.ArrayBuffer.empty[String]
    val taken = mutable.HashSet.empty[String]
    val inner = mutable.HashSet.empty[String] // substrings of taken words
    while (words.length < n) {
      val len = 5 + rng.nextInt(5)
      val sb = new StringBuilder
      var i = 0
      while (i < len) {
        val pool = if (i % 2 == 0) Consonants else Vowels
        sb += pool.charAt(rng.nextInt(pool.length))
        i += 1
      }
      val w = sb.toString
      val subs = for (a <- 0 until len; b <- a + 5 to len if b - a < len)
        yield w.substring(a, b)
      if (qualifies(w) && !taken.contains(w) && !inner.contains(w) &&
          !subs.exists(taken.contains)) {
        words += w; taken += w; inner ++= subs
      }
    }
    words.toArray
  }

  /** Cumulative Zipf weights over ranks 1..n. */
  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  private def draw(cdf: Array[Double], rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private def render(tokens: Array[Int], vocab: Array[String],
                     rng: SplittableRandom): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < tokens.length) {
      if (i > 0) sb += ' '
      sb ++= vocab(tokens(i))
      if (rng.nextDouble() < Sizes.PunctRate) sb += (if (rng.nextBoolean()) ',' else '.')
      i += 1
    }
    sb.toString
  }

  def generate(seed: Long, nDocs: Int = Sizes.Docs): Corpus = {
    val rng = new SplittableRandom(seed)
    val vocab = vocabulary(Sizes.Vocabulary, rng.split())
    val cdf = zipfCdf(vocab.length, Sizes.ZipfExponent)
    val docRng = rng.split()
    val docs = new Array[Doc](nDocs)
    val planted = Vector.newBuilder[(Long, Long)]
    for (i <- 0 until nDocs) {
      val u = docRng.nextDouble()
      docs(i) =
        if (i > 0 && u < Sizes.ExactDupRate) {
          val src = docs(docRng.nextInt(i))
          planted += ((src.id, i.toLong))
          src.copy(id = i.toLong)
        } else if (i > 0 && u < Sizes.ExactDupRate + Sizes.NearDupRate) {
          val src = docs(docRng.nextInt(i))
          planted += ((src.id, i.toLong))
          val tokens = src.tokens.map(t =>
            if (docRng.nextDouble() < Sizes.EditRate) draw(cdf, docRng) else t)
          Doc(i.toLong, tokens, render(tokens, vocab, docRng))
        } else {
          val len = Sizes.MinTokens + docRng.nextInt(Sizes.MaxTokens - Sizes.MinTokens + 1)
          val tokens = Array.fill(len)(draw(cdf, docRng))
          Doc(i.toLong, tokens, render(tokens, vocab, docRng))
        }
    }
    new Corpus(seed, vocab, docs, planted.result())
  }
}

/** The seeded CNF query stream. Queries cycle through six shapes, so any
  * run of consecutive queries mixes them the same way whatever the seed:
  * a word; a two-word phrase; an OR of three words; an AND of two words;
  * a word AND (a word OR NOT a hot word); a word AND NOT (a OR b). Terms
  * come from three df bands (hot, mid-frequency, rare) and the seed picks
  * them. Each query is built around a witness document that satisfies it,
  * so no page is empty and every repeat is a cache hit; every query starts
  * with a positive clause, so no result resolves against the whole corpus.
  * Queries are distinct across the stream, so a first issue is a miss.
  */
final class QueryStream(corpus: Corpus, seed: Long) {
  private val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
  private val byDf = corpus.termsByDf
  private val bands = Vector(byDf.take(100), byDf.slice(100, 1000), byDf.drop(1000))
  private val (hot, mid, rare) = (bands(0), bands(1), bands(2))
  private val stop = corpus.stopWords.toSet
  private val seen = mutable.HashSet.empty[String]
  private var shape = 0

  private def pick(v: Vector[String]): String = v(rng.nextInt(v.length))
  private def band(): Vector[String] = bands(rng.nextInt(3))

  /** One query of the current shape around a random witness document, or
    * None when the document has no material for it. */
  private def attempt(): Option[String] = {
    val d = corpus.docs(rng.nextInt(corpus.docs.length))
    val words = d.tokens.map(corpus.vocab(_)).filterNot(stop)
    val has = words.toSet
    // a word of the witness, from the band if it has one there
    def in(b: Vector[String]): String = {
      val inBand = b.filter(has)
      if (inBand.nonEmpty) pick(inBand) else words(rng.nextInt(words.length))
    }
    // a word of the band that the witness lacks
    def out(b: Vector[String]): String = {
      var w = pick(b)
      while (has(w)) w = pick(b)
      w
    }
    val phrases = d.tokens.indices.dropRight(1)
      .map(p => (corpus.vocab(d.tokens(p)), corpus.vocab(d.tokens(p + 1))))
      .filter { case (a, b) => a != b && !stop(a) && !stop(b) }
    if (words.isEmpty || phrases.isEmpty) None
    else Some(shape match {
      case 0 => in(if (rng.nextBoolean()) hot else mid)
      case 1 => val (a, b) = phrases(rng.nextInt(phrases.length)); s"$a $b"
      case 2 => s"${in(mid)} or ${pick(mid)} or ${pick(rare)}"
      case 3 => s"${in(hot)} and ${in(band())}"
      case 4 => s"${in(mid)} and ${in(band())} or not ${out(hot)}"
      case _ => s"${in(hot)} and not (${out(band())} or ${out(band())})"
    })
  }

  def next(): String = {
    var q: Option[String] = None
    while (q.isEmpty) q = attempt().filter(seen.add)
    shape = (shape + 1) % QueryStream.Shapes
    q.get
  }

  def take(n: Int): Vector[String] = Vector.fill(n)(next())
}

object QueryStream {
  val Shapes = 6
}
