package graft

import java.nio.file.{Files, Path}

/** `graft.Search`'s stop-word list: absent means none, present is read,
  * and a list that is present but unreadable fails loudly.
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
}
