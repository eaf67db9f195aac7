package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.registry.Registry
/** Correctness dump: each registry row's result → parquet, plus its
  * oracle in oracle_sql.json, for the DuckDB compare (tools/check_oracle.py). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_ONLY=a,b,c: restrict to the named queries for
    // local iteration; the driver never sets it (runs everything).
    // Set-but-empty collapses to unset — a wrapper exporting "" must
    // not silently verify zero queries and look green
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    // fail fast on names that match nothing — a typo must not silently
    // verify zero queries and exit green
    only.foreach { names =>
      val unknown = names.diff(Registry.specs.map(_.name).toSet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_VERIFY_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    Registry.specs
      .filter(q => only.forall(_.contains(q.name)))
      .foreach { q =>
      try q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = Registry.specs
      .map(r => s"${q(r.name)}: ${q(r.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
