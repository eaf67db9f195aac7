package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StreamingFrame
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ops.TxLog

/** Structured-Streaming READ side of the [[graft.ops.TxLog]] table —
  * the lakehouse "stream the table" shape (Delta's streaming source):
  * offsets are COMMIT VERSIONS, so a micro-batch is an exact,
  * replayable log interval, not a file listing heuristic.
  *
  *  - First batch: the full snapshot at the stream's start version
  *    (or, with `startingVersion`, every change from that version on —
  *    no initial snapshot).
  *  - Every later batch: [[TxLog.changesBetween]] over the offset
  *    interval — computed from the CHANGED FILES the log names, so a
  *    batch costs O(change), never a table rescan; compaction and
  *    OPTIMIZE intervals net out to zero rows and are never re-emitted.
  *  - Append-only by default: an interval whose commits include a
  *    data-changing op (`delete` / `merge`) fails LOUDLY — silently
  *    dropping or double-emitting changed rows is how downstream
  *    training sets rot. Opt into `cdc = true` to receive the full
  *    change feed instead, with a `change` column (`insert`/`delete`).
  *  - Deterministic replay: a batch is a pure function of the log, so
  *    checkpoint recovery re-reads exactly the same rows ([[TxLog]]
  *    data files are immutable until an explicit vacuum, which is the
  *    documented retention contract).
  *  - `maxVersionsPerTrigger` bounds how many commits one micro-batch
  *    may cover (admission control for a backlogged stream).
  *
  * Registered as `graft-table` (META-INF services):
  * `spark.readStream.format("graft-table").load(root)`. The same
  * short name also serves BATCH reads with time travel and log-stats
  * file skipping ([[GraftTableRelationBuilder]]) and the streaming
  * SINK ([[GraftTableSink]] — exactly-once commits via the log's
  * batch-id ledger), so the one format string covers the full
  * read/write/stream surface of the table.
  */
class GraftTableSourceProvider extends StreamSourceProvider
    with RelationProvider with CreatableRelationProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  /** Batch write: `df.write.format("graft-table").mode(...).save(root)`
    * — Append commits a new version ([[TxLog.append]]), Overwrite
    * replaces the live set atomically ([[TxLog.overwrite]], history
    * intact), ErrorIfExists/Ignore key off whether the root has any
    * committed version. Every mode lands as ONE commit with the full
    * constraint/stats/ledger machinery of the log.
    */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val root = GraftTableSource.rootOf(parameters)
    val exists = TxLog.isTable(root)
    mode match {
      case SaveMode.Append =>
        if (!exists) TxLog.init(root)
        TxLog.append(data.sparkSession, root, data): Unit
      case SaveMode.Overwrite =>
        if (!exists) TxLog.init(root)
        TxLog.overwrite(data.sparkSession, root, data): Unit
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"graft-table at $root already has commits " +
            "(mode = ErrorIfExists)")
        TxLog.init(root)
        TxLog.append(data.sparkSession, root, data): Unit
      case SaveMode.Ignore =>
        if (!exists) {
          TxLog.init(root)
          TxLog.append(data.sparkSession, root, data): Unit
        }
    }
    createRelation(sqlContext, parameters)
  }

  /** Batch read: `spark.read.format("graft-table").load(root)` with
    * optional versionAsOf / timestampAsOf — see
    * [[GraftTableRelationBuilder]].
    */
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String])
      : BaseRelation =
    GraftTableRelationBuilder.createRelation(sqlContext, parameters)

  /** Streaming sink: `df.writeStream.format("graft-table")
    * .start(root)` — each micro-batch is one atomic, idempotent
    * commit.
    */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft-table sink: partitionBy is not supported; use " +
        "TxLog.appendPartitioned for partitioned batch loads")
    require(outputMode == OutputMode.Append(),
      s"graft-table sink supports Append output mode, got $outputMode " +
        "(route aggregations through foreachBatch + TxLog.upsert)")
    new GraftTableSink(GraftTableSource.rootOf(parameters))
  }

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) =
    (shortName(), GraftTableSource.schemaFor(sqlContext, schema, parameters))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): Source =
    new GraftTableSource(sqlContext, schema, parameters)
}

object GraftTableSource {
  private[sources] def opt(parameters: Map[String, String],
                           key: String): Option[String] =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase(key) => v
    }

  private[sources] def rootOf(parameters: Map[String, String]): String =
    opt(parameters, "path").getOrElse(
      throw new IllegalArgumentException(
        "graft-table source requires a path: .load(tableRoot)"))

  /** Table schema at the latest version (+ the `change` column in cdc
    * mode). A user-supplied schema wins — the way to stream a table
    * whose latest snapshot is momentarily empty.
    */
  /** The change-feed column a cdc stream appends: `change`
    * (insert/delete) by default, `change_type` (Delta CDF vocabulary,
    * incl. update pre/post images) with `cdcImages = true`.
    */
  private[sources] def feedCol(parameters: Map[String, String])
      : Option[String] = {
    val cdc = opt(parameters, "cdc").exists(_.toBoolean)
    val images = opt(parameters, "cdcImages").exists(_.toBoolean)
    require(!images || cdc,
      "graft-table: cdcImages = true requires cdc = true")
    if (images) Some("change_type") else if (cdc) Some("change") else None
  }

  private[sources] def schemaFor(sqlContext: SQLContext,
                                 user: Option[StructType],
                                 parameters: Map[String, String])
      : StructType = {
    val root = rootOf(parameters)
    // the log-recorded schema action when present — one metadata read,
    // no footer sweep, and no mask construction just to name columns
    val base = user.getOrElse(TxLog.tableSchema(root).getOrElse(
      TxLog.snapshot(sqlContext.sparkSession, root).schema))
    feedCol(parameters) match {
      case Some(fc) =>
        // loud, not silent: the feed column would otherwise OVERWRITE
        // a same-named data column in every batch
        require(!base.fieldNames.contains(fc),
          s"cdc mode reserves the '$fc' column name, but the table at " +
            s"$root already has one")
        // every change row names its kind: non-null, so each batch —
        // the empty first one included — writes the same schema
        StructType(base.fields :+ StructField(fc, StringType,
          nullable = false))
      case None => base
    }
  }
}

class GraftTableSource(sqlContext: SQLContext,
                       userSchema: Option[StructType],
                       parameters: Map[String, String]) extends Source {
  import GraftTableSource._

  private val spark = sqlContext.sparkSession
  private val root = rootOf(parameters)
  private val cdc = opt(parameters, "cdc").exists(_.toBoolean)
  private val cdcImages = opt(parameters, "cdcImages").exists(_.toBoolean)
  private val startingVersion =
    opt(parameters, "startingVersion").map(_.toLong)
  private val maxVersionsPerTrigger =
    opt(parameters, "maxVersionsPerTrigger").map(_.toLong)
  maxVersionsPerTrigger.foreach(m => require(m > 0,
    s"maxVersionsPerTrigger must be positive: $m"))
  startingVersion.foreach(sv => require(sv >= 0,
    s"startingVersion must be >= 0: $sv"))

  override val schema: StructType =
    schemaFor(sqlContext, userSchema, parameters)

  /** Newest version this source has handed out in a batch — the base
    * the per-trigger version budget counts from. Recovery populates it:
    * Spark replays the last checkpointed batch through [[getBatch]]
    * before asking for a new offset.
    */
  private var lastBatchEnd: Option[Long] = None

  // a plain class, NOT a case class: the Offset base compares offsets
  // by their json, and a case-class equals would stop matching the
  // SerializedOffset a checkpoint recovery hands back
  private class VersionOffset(v: Long) extends Offset {
    override def json: String = v.toString
  }
  private def VersionOffset(v: Long) = new VersionOffset(v)

  private def versionOf(o: Offset): Long = o.json.trim.toLong

  override def getOffset: Option[Offset] = {
    val vs = TxLog.versions(root)
    if (vs.isEmpty) return None
    val latest = vs.max
    // tip+1 is legal ("only future commits"); anything further is a
    // typo'd option, and letting it reach changesBetween would kill
    // the query with an error that never mentions startingVersion
    startingVersion.filter(_ > latest + 1).foreach(sv =>
      throw new IllegalArgumentException(
        s"startingVersion $sv is past the log tip $latest of $root " +
          s"(use at most ${latest + 1} to consume only future commits)"))
    val capped = (maxVersionsPerTrigger, batchBase) match {
      case (Some(m), Some(base)) => math.min(latest, base + m)
      case _ => latest
    }
    // never regress below what a previous batch already covered
    val end = math.max(capped, lastBatchEnd.getOrElse(Long.MinValue))
    if (lastBatchEnd.contains(end)) None else Some(VersionOffset(end))
  }

  /** Where the next trigger's version budget starts counting: the last
    * batch end, or (fresh start in `startingVersion` mode) just before
    * that version. A fresh default-mode start has no base — the first
    * batch is the snapshot, taken whole.
    */
  private def batchBase: Option[Long] =
    lastBatchEnd.orElse(startingVersion.map(_ - 1))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endV = versionOf(end)
    lastBatchEnd = Some(math.max(endV, lastBatchEnd.getOrElse(Long.MinValue)))
    val batch = start.map(versionOf) match {
      case Some(fromV) => changes(fromV, endV)
      case None =>
        startingVersion match {
          case Some(sv) if sv > 0 => changes(sv - 1, endV)
          // sv = 0 and the default both start from "nothing": the net
          // content at endV IS the change set since before version 0.
          // An empty-at-endV table (e.g. a metadata-only commit like
          // set-constraint at version 0) is a legitimate empty batch,
          // not an error, shaped exactly by the source schema
          case _ if TxLog.resolve(root, Some(endV)).files.isEmpty =>
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
              schema)
          case _ =>
            val snap = TxLog.snapshot(spark, root, Some(endV))
            GraftTableSource.feedCol(parameters)
              .fold(snap)(fc => snap.withColumn(fc, lit("insert")))
        }
    }
    StreamingFrame(align(batch))
  }

  /** The (fromV, toV] interval as rows. Append-only mode refuses
    * data-changing commits LOUDLY (the log's `op` field names them —
    * a metadata check, no data read); compaction/optimize intervals
    * are logically empty and pass through as zero rows.
    */
  private def changes(fromV: Long, toV: Long): DataFrame = {
    if (!cdc) {
      // fail CLOSED: only ops known to preserve rows pass; anything
      // else — delete, merge, or an op this reader does not know
      // (op-less legacy commits read back as "unknown") — fails loudly
      // rather than silently dropping its changed rows
      // "purge" rewrites files whose deletion-vector mask crossed a
      // threshold: the masked rows were already logically gone, so the
      // interval is row-preserving like a compaction
      val rowPreserving = Set("append", "streaming-append", "compact",
        "optimize", "purge", "set-constraint", "drop-constraint")
      val changing = TxLog.versions(root)
        .filter(v => v > fromV && v <= toV)
        .map(v => (v, TxLog.commitInfoAt(root, v).op))
        .filterNot { case (_, op) => rowPreserving.contains(op) }
      if (changing.nonEmpty) throw new IllegalStateException(
        s"graft-table stream over $root is append-only but commits " +
          s"${changing.mkString(", ")} change existing rows (or carry " +
          "an unknown op); restart with .option(\"cdc\", \"true\") to " +
          "consume the change feed")
    }
    if (cdcImages)
      // the Delta-CDF-shaped feed: merge intervals pair their
      // removed-and-re-added keys into update pre/post images
      TxLog.changesBetweenCdc(spark, root, fromV, toV)
    else {
      val diff = TxLog.changesBetween(spark, root, fromV, toV)
      if (cdc) diff
      else diff.filter(col("change") === "insert").drop("change")
    }
  }

  /** Project every batch onto the SOURCE's fixed schema: an interval
    * older than a column's arrival null-fills it; a column added after
    * the stream started is ignored until a restart picks up the new
    * schema — the same restart contract Delta's source has.
    */
  private def align(df: DataFrame): DataFrame =
    df.select(schema.fields.toIndexedSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}
