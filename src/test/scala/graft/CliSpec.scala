package graft

import java.nio.file.{Files, Path}

import graft.search.SearchEngine

/** `graft.Search`'s stop-word list: absent means none, present is read,
  * and a list that is present but unreadable fails loudly. Its page:
  * clamped to the first and to the last page.
  */
class CliSpec extends SparkSuite {

  private def indexPath(): String =
    tmpDir("graft-cli-spec-") + "/idx"

  test("stop words: no list next to the index means none") {
    assert(Cli.stopWords(spark, indexPath()) == Set.empty)
  }

  test("stop words: a present list is read and stemmed") {
    val idx = indexPath()
    val s = spark
    import s.implicits._
    Seq("the", "running").toDF("word").coalesce(1)
      .write.parquet(s"$idx.stopwords")
    assert(Cli.stopWords(spark, idx) == Set("the", "run"))
  }

  test("stop words: a corrupt list fails instead of reading as none") {
    val idx = indexPath()
    Files.write(Path.of(s"$idx.stopwords"), "not parquet".getBytes("UTF-8"))
    intercept[Exception](Cli.stopWords(spark, idx))
  }

  test("page: below 1 renders the first page, past the last the last") {
    assert(Cli.pageToRender(0, 5) == 1)
    assert(Cli.pageToRender(-10, 5) == 1)
    assert(Cli.pageToRender(3, 5) == 3)
    assert(Cli.pageToRender(9, 5) == 5)
    assert(Cli.pageToRender(2, 0) == 1)
    assert(Cli.pageToRender(Int.MaxValue, Long.MaxValue) == SearchEngine.MaxPages)
    // the library itself refuses a page below 1 and names it
    val e = intercept[IllegalArgumentException](
      SearchEngine.page(spark.range(3).toDF("doc_id"), 0))
    assert(e.getMessage.contains("page must be at least 1: 0"))
  }
}
