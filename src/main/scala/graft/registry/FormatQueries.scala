package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-format round trips: XML, JSON lines, CSV and ORC. */
object FormatQueries {
  import Shared._

  /** Documents written ORC once per (session, sf dir) — the at-rest
    * artifact behind `orc_roundtrip`. Lives under a `graft-ann-` temp
    * dir so the path normalizes out of plan fingerprints like every
    * other session artifact.
    */
  private def orcStore(s: SparkSession, dir: String): String =
    atRest(s, dir, "orcStore", "docs_orc") { p =>
      t(s, dir, "documents").select("doc_id", "lang", "text")
        .write.mode("overwrite").orc(p)
    }

  /** The oracle of `jsonl_roundtrip`; by design also the oracle of
    * `csv_roundtrip`.
    */
  // codec round trips must reproduce the table bit-for-bit
  private val RoundtripOracle: String =
    "SELECT doc_id, text, lang, source, n_chars FROM documents"

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("xml_roundtrip", (s, dir) =>
      graft.sources.XmlScan.parsePages(
        graft.sources.XmlScan.toPageXml(t(s, dir, "documents"))),
      oracle = ("SELECT doc_id, 'doc-' || CAST(doc_id AS VARCHAR) AS title, text " +
        "FROM documents")),
    // JSONL codec round trip (the ingest format LLM corpora actually
    // ship in): to_json → from_json under the explicit schema, a
    // map-only codegen'd round trip — any escaping/unicode/null
    // asymmetry between the two directions breaks the hash
    QuerySpec("jsonl_roundtrip", (s, dir) =>
      graft.sources.DelimitedScan.parseJsonl(
        graft.sources.DelimitedScan.toJsonl(t(s, dir, "documents"))),
      oracle = RoundtripOracle),
    // CSV dialect round trip: RFC quote-doubling, embedded delimiters/
    // quotes survive because a per-row codec never line-splits
    QuerySpec("csv_roundtrip", (s, dir) =>
      graft.sources.DelimitedScan.parseCsvLines(
        graft.sources.DelimitedScan.toCsvLines(t(s, dir, "documents"))),
      oracle = RoundtripOracle),
    // ORC round trip AT REST: documents written columnar-ORC once per
    // session, then a pruned+filtered read back — the second built-in
    // columnar at-rest format next to Parquet (same writer/reader API
    // at 100 TB; predicate pushdown + column pruning on the ORC scan
    // are plan-asserted in RoundTwentyTwoSpec)
    QuerySpec("orc_roundtrip", (s, dir) =>
      s.read.orc(orcStore(s, dir))
        .filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id"), md5(col("text")).as("digest")),
      // identity through the ORC write/read: the digest of what comes
      // back must equal the digest of what went in
      oracle = "SELECT doc_id, md5(text) AS digest FROM documents WHERE doc_id % 7 = 0")
  )
}
