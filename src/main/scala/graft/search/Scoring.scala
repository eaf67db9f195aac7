package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Ranking functions over the posting statistics. The reference ships
  * only its TF-IDF variant (mixed log bases, `code/inverted/
  * InvertedIndexMapred.java:215-221`, kept in [[Indexer.postings]]);
  * BM25 (Robertson et al.) is the standard alternative a modern engine
  * offers — same inputs (tf, df, docNum) plus document length.
  */
object Scoring {

  val K1 = 1.2
  val B = 0.75

  /** Lucene-style BM25 idf: `ln(1 + (N - df + 0.5) / (df + 0.5))`. */
  def bm25Idf(docNum: Column, df: Column): Column =
    log(lit(1.0) + (docNum - df + 0.5) / (df + 0.5))

  /** BM25 term score given term frequency, document length, and the
    * corpus average document length.
    */
  def bm25Term(tf: Column, dl: Column, avgdl: Column,
               docNum: Column, df: Column): Column =
    bm25Idf(docNum, df) * (tf * (K1 + 1.0)) /
      (tf + lit(K1) * (lit(1.0) - B + lit(B) * dl / avgdl))

  /** BM25-scored posting table
    * `(term, doc_id, tf, positions, df, dl, score)` from a documents
    * table — the same DAG as [[Indexer.postings]] plus one per-doc
    * length aggregate (`dl = sum(tf)`, i.e. total kept tokens) and the
    * 1-row avgdl broadcast. Carries positions and one row per
    * (term, doc), so [[SearchEngine.search]] evaluates the full boolean
    * algebra (including phrase proximity) over it unchanged.
    */
  def bm25Postings(docs: DataFrame, stopWords: Seq[String] = Seq.empty,
                   stem: Boolean = true): DataFrame = {
    val stats = Indexer.termDocStats(docs, stopWords, stem)
    val dl = stats.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dfPerTerm = stats.groupBy("term").agg(count("*").as("df"))
    val globals = dl.agg(avg("dl").as("avgdl"),
      count("*").as("doc_num"))
    // dl is one row per document — large at scale, so a plain shuffle
    // join on doc_id (AQE decides); only the 1-row globals broadcast
    stats.join(dfPerTerm, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(globals))
      .select(col("term"), col("doc_id"), col("tf"), col("positions"),
        col("df"), col("dl"),
        bm25Term(col("tf"), col("dl"), col("avgdl"),
          col("doc_num"), col("df")).as("score"))
  }

  /** "More like this": top-k documents ranked by TF-IDF cosine against
    * one document's term-weight vector — related-document retrieval
    * over the same posting table the boolean engine uses, no embedding
    * model required. The query vector is ONE document's postings (tiny
    * → broadcast); the corpus side pays one semi-joined scan of the
    * posting table for the dot products plus one per-doc norm
    * aggregate. Sparse algebra throughout — the (term, doc) posting
    * relation IS the sparse matrix, no dense vectors ever materialize,
    * so a hot term never concentrates on one executor beyond its
    * posting rows.
    */
  def moreLikeThis(postings: DataFrame, docId: Long, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q = postings.filter(col("doc_id") === docId)
      .select(col("term"), col("score").as("qw"))
    val qNorm = q.agg(sqrt(sum(col("qw") * col("qw"))).as("qnorm"))
    val norms = postings.groupBy("doc_id")
      .agg(sqrt(sum(col("score") * col("score"))).as("nrm"))
    postings.filter(col("doc_id") =!= docId)
      .join(broadcast(q), "term")
      .groupBy("doc_id").agg(sum(col("score") * col("qw")).as("dot"))
      // dot > 0 also guards the division: an all-zero-score doc (every
      // term in every document -> idf 0) has nrm = 0, and 0/0 = NaN
      // would sort ABOVE every real cosine in a descending order
      .filter(col("dot") > 0)
      .join(norms, "doc_id")
      .crossJoin(broadcast(qNorm))
      .select(col("doc_id"),
        (col("dot") / (col("nrm") * col("qnorm"))).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id"))
      .limit(k)
  }

  /** Top-`k` TF-IDF keywords per document — the classic document
    * summarization / tagging primitive over the same posting table the
    * search engine uses. Output `(doc_id, rank, term, score)`, rank
    * 1-based by descending score with the term as the deterministic
    * tie-break.
    *
    * Scale posture: the window is partitioned by `doc_id` — millions of
    * small partitions, never a global sort; each partition holds one
    * document's postings (bounded by that document's vocabulary). The
    * rank filter keeps `k` rows per doc, so output is corpus-sized ×
    * k, and the raw (unrounded) score is what ranks — posting scores
    * are bit-reproducible across engines (the tfidf_postings oracle
    * hash-matches them), so no pre-round is needed for portable ranks.
    */
  def docKeywords(postings: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    postings
      .select(col("doc_id"), col("term"), col("score"),
        row_number().over(byDoc).as("rank"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("term"), round(col("score"), 4).as("score"))
  }

  /** Hybrid retrieval: BM25 keyword ranking fused with embedding-cosine
    * ranking by reciprocal-rank fusion (Cormack et al. 2009):
    * rrf(d) = sum over rankings of 1 / (c + rank(d)), missing from a
    * ranking contributes 0. RRF needs only RANKS, so the two scores
    * never have to be calibrated against each other — the standard
    * first-stage retriever for RAG-style pipelines (keyword recall +
    * semantic recall in one list).
    *
    * Scale posture: each modality produces a `pool`-bounded candidate
    * list via `orderBy.limit` — planned as per-partition TakeOrdered +
    * driver merge, never a global sort of the corpus. The rank windows
    * and the fusion join then run over at most `2 * pool` rows (the
    * single-partition window is pool-bounded by construction). Scores
    * are rounded to 4 decimals BEFORE ranking so ranks are reproducible
    * across engines (ties break on doc_id).
    *
    * BM25 side is conjunctive over `terms` (every term present), the
    * same contract as the `search_bm25` entry it shares statistics
    * with.
    */
  def hybridRrf(docs: DataFrame, embeddings: DataFrame,
                terms: Seq[String], query: Seq[Double], k: Int,
                pool: Int = 100, c: Int = 60,
                stem: Boolean = true): DataFrame = {
    require(k >= 1 && pool >= k, s"need pool >= k >= 1: k=$k pool=$pool")
    require(terms.nonEmpty, "hybridRrf needs at least one query term")
    val byText = Window.orderBy(col("bm25").desc, col("doc_id"))
    val text = bm25Postings(docs, stem = stem)
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id")
      .agg(round(sum("score"), 4).as("bm25"), count(lit(1)).as("__nt"))
      .filter(col("__nt") === terms.size)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(pool)
      .select(col("doc_id"), row_number().over(byText).as("text_rank"))
    val q = array(query.map(lit): _*)
    val byVec = Window.orderBy(col("cos").desc, col("doc_id"))
    val vec = embeddings
      .select(col("vec_id").as("doc_id"),
        round(Similarity.cosineCol(col("embedding"), q), 4).as("cos"))
      .orderBy(col("cos").desc, col("doc_id"))
      .limit(pool)
      .select(col("doc_id"), row_number().over(byVec).as("vec_rank"))
    text.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(coalesce(lit(1.0) / (col("text_rank") + c), lit(0.0)) +
          coalesce(lit(1.0) / (col("vec_rank") + c), lit(0.0)), 6).as("rrf"),
        col("text_rank").cast("long").as("text_rank"),
        col("vec_rank").cast("long").as("vec_rank"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }
}
