package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.SparkListenerTaskEnd
import org.apache.spark.sql.functions._

import graft.search.{Indexer, SearchEngine, SubstringIndex}

/** Term pruning down to the page: an at-rest scan decodes only the
  * Parquet pages that can hold the query's terms (or a needle's grams),
  * for any number of them, and the index is written in pages of at most
  * [[Indexer.PageRows]] rows.
  */
class IndexPagesSpec extends SparkSuite {

  private val P = Indexer.PageRows

  /** Input records read by the tasks of the jobs `body` runs: the rows
    * the Parquet reader decoded, before any row-level filter.
    */
  def recordsReadDuring(body: => Unit): Long =
    sparkEventsDuring(body).collect {
      case e: SparkListenerTaskEnd if e.taskMetrics != null => e.taskMetrics.inputMetrics.recordsRead
    }.sum

  /** One Parquet page of `column`: its file, rows and `[min, max]`. */
  case class Page(file: String, rows: Long, min: String, max: String)

  /** The pages of `column` in the part files under `dir`, read from
    * their offset and column indexes.
    */
  def pages(dir: String, column: String): Seq[Page] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    def utf8(b: java.nio.ByteBuffer): String = UTF_8.decode(b.duplicate()).toString
    root.getFileSystem(conf).listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .flatMap { p =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        try reader.getFooter.getBlocks.asScala.toSeq.flatMap { block =>
          val chunk = block.getColumns.asScala.find(_.getPath.toDotString == column).get
          val offsets = reader.readOffsetIndex(chunk)
          val bounds = reader.readColumnIndex(chunk)
          (0 until offsets.getPageCount).map { i =>
            Page(p.getName,
              offsets.getLastRowIndex(i, block.getRowCount) - offsets.getFirstRowIndex(i) + 1,
              utf8(bounds.getMinValues.get(i)), utf8(bounds.getMaxValues.get(i)))
          }
        }
        finally reader.close()
      }
  }

  /** 400,000 postings: 2,000 terms `t0000`..`t1999` (stemming leaves
    * them as they are), each in 200 documents, in 2 term-range files.
    */
  lazy val indexDir: String = {
    val dir = tmpDir("graft-index-pages-") + "/idx"
    val postings = spark.range(400000L).select(
      format_string("t%04d", (col("id") / 200).cast("int")).as("term"),
      (col("id") % 200).as("doc_id"), lit(1L).as("tf"),
      array(lit(0)).as("positions"), lit(200L).as("df"), lit(1.0).as("score"))
    Indexer.writeIndex(postings, dir, numPartitions = 2)
    dir
  }

  test("index pages hold at most PageRows rows") {
    val ps = pages(indexDir, "term")
    assert(ps.map(_.rows).sum == 400000L)
    assert(ps.forall(_.rows <= P), ps)
    assert(ps.groupBy(_.file).values.forall(_.length > 1), "a file of one page pins nothing")
  }

  test("a batch of more than 10 terms decodes only the pages of its terms") {
    val index = Indexer.readIndex(spark, indexDir)
    // 11 terms of the first page of the first file, 1 of the last page
    // of the last: an IN over them would decode every page in between
    val terms = (0 until 11).map(i => f"t$i%04d") :+ "t1999"
    val df = index.filter(col("term").isin(terms: _*)).groupBy("term").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df.size == terms.length)
    var hits: Array[(String, Long)] = Array.empty
    val read = recordsReadDuring {
      hits = SearchEngine.searchMany(terms, index, spark.range(0).toDF("doc_id"))
        .groupBy("query").count().collect().map(r => r.getString(0) -> r.getLong(1))
    }
    assert(hits.toMap == df)
    val bound = terms.map(t => (math.ceil(df(t).toDouble / P).toLong + 1) * P).sum
    assert(read <= bound, s"decoded $read rows, bound $bound")
  }

  test("a long needle's probe reads only the pages of its grams") {
    // 4,000 documents of grams over m..r, and 5 that hold the needle,
    // whose 14 grams start with a..e or are `zzz`: two gram files of
    // several pages each, where an IN over the grams would read every
    // page between `aaa` and `zzz`
    val needle = "aaabaacaadaaezzz"
    val filler = "mnopqr"
    val rnd = new scala.util.Random(7)
    val s = spark
    import s.implicits._
    val docs = ((1L to 4000L).map(i =>
        i -> Seq.fill(60)(filler(rnd.nextInt(filler.length))).mkString) ++
      (4001L to 4005L).map(i => i -> s"x $needle y")).toDF("doc_id", "text")
    val dir = tmpDir("graft-gram-pages-") + "/idx"
    SubstringIndex.writeIndex(SubstringIndex.trigramPostings(docs), dir, numFiles = 2)
    val grams = SubstringIndex.requiredGrams(needle)
    assert(grams.length > 10)
    val ps = pages(dir, "gram")
    val needed = ps.filter(p => grams.exists(g => p.min <= g && g <= p.max))
    assert(needed.length < ps.length / 2, ps)
    var found: Set[Long] = Set.empty
    val read = recordsReadDuring {
      found = SubstringIndex.probeIndex(spark, dir, needle)
        .collect().map(_.getLong(0)).toSet
    }
    assert(found == (4001L to 4005L).toSet)
    assert(read <= needed.map(_.rows).sum,
      s"read $read rows; the ${needed.length} pages of the needle's grams, in " +
        s"${needed.map(_.file).distinct.length} files, hold ${needed.map(_.rows).sum} " +
        s"of ${ps.map(_.rows).sum}")
  }
}
