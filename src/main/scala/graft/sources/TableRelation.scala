package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.TxLog

/** The BATCH read side of the [[graft.ops.TxLog]] table as a first-
  * class Spark data source — the Delta architecture in miniature:
  *
  * {{{
  * spark.read.format("graft-table")
  *   .option("versionAsOf", 3)         // or timestampAsOf (millis)
  *   .load(tableRoot)
  *   .filter($"doc_id" <= 100)         // ANY user filter prunes files
  * }}}
  *
  * The relation is a standard `HadoopFsRelation` over Spark's own
  * vectorized parquet reader — full codegen, standard parquet footer
  * pushdown (`PushedFilters` in the plan) — with TWO custom pieces:
  *
  *  - [[GraftFileIndex]]: file listing comes from the LOG's resolved
  *    snapshot, and `listFiles` prunes it with the log-recorded
  *    per-file `[min,max]` (int + safe-string), null-count, and
  *    partition-value metadata against the query's own data filters —
  *    data skipping from ANY predicate, before any listing or footer
  *    I/O, not just the `snapshotSlice(col, lo, hi)` API;
  *  - [[GraftParquetFileFormat]]: when the snapshot carries active
  *    deletion vectors, each reader asks parquet for the real row
  *    index of every row (the `_tmp_metadata_row_index` machinery, so
  *    row-group/page skipping cannot desynchronize positions) and
  *    drops masked rows INSIDE the scan — merge-on-read semantics with
  *    no plan rewrite, the same shape as Delta's DV-aware file format.
  *
  * Time travel: `versionAsOf` pins a committed version,
  * `timestampAsOf` (epoch millis) resolves through
  * [[TxLog.versionAt]]'s monotonized commit-mtime lookup; at most one
  * of the two may be set.
  *
  * LISTING-FREE PLANNING CAVEATS (the deliberate Delta-style
  * trade-offs): when every live file's size is log-recorded, planning
  * performs ZERO storage round trips — consequently
  * `_metadata.file_modification_time` reports the ADDING commit's
  * publish time (checkpoint-carried files: the checkpoint's), an
  * approximation within a checkpoint interval of the real write time,
  * NOT a storage stat; and a file reclaimed by a concurrent
  * `TxLog.vacuum` fails loudly mid-READ instead of at plan time
  * (inside the vacuum retention window this is unreachable — see
  * [[TxLog.vacuum]]). Consumers needing true storage mtimes should
  * stat the paths in `inputFiles` themselves.
  */
private[sources] object GraftTableRelationBuilder {
  import GraftTableSource.opt

  def createRelation(sqlContext: SQLContext,
                     parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = GraftTableSource.rootOf(parameters)
    val versionAsOf = opt(parameters, "versionAsOf").map(_.toLong)
    val timestampAsOf = opt(parameters, "timestampAsOf").map(_.toLong)
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "graft-table: set at most one of versionAsOf / timestampAsOf")
    val version = versionAsOf
      .orElse(timestampAsOf.map(TxLog.versionAt(root, _)))
    // PRUNED planning for million-file tables: when the version bases
    // on a columnar checkpoint whose sidecar crosses the threshold,
    // the live set is never materialized on the driver — listFiles
    // streams the sidecar and retains only the files the query's own
    // predicate admits ([[GraftPrunedFileIndex]]). Requires the log-
    // recorded schema (every table past its first checkpoint since
    // schema recording has one); anything else takes the eager path.
    val threshold = spark.conf
      .getOption("spark.graft.plan.pruneFileThreshold")
      .map(_.toLong).getOrElse(100000L)
    TxLog.prunedPlanInfo(root, version, threshold) match {
      case Some(pi) if TxLog.tableSchema(root, Some(pi.version)).isDefined =>
        val schema = TxLog.tableSchema(root, Some(pi.version)).get
        relationOver(spark, root,
          new GraftPrunedFileIndex(spark, root, pi), schema, pi.dvFiles)
      case _ =>
        val snap = TxLog.resolve(root, version)
        val paths = snap.files.map(f => s"$root/$f")
        // the table schema from the LOG's recorded schema action — one
        // metadata read, no footer sweep of the live set (the 100 TB
        // planning cost this action exists to remove). Tables whose
        // commits predate schema recording fall back to the footer-
        // merged schema; either way evolution reads missing columns as
        // null. An EMPTY live set (everything deleted / overwritten
        // away) is a legitimate head — it reads as zero rows — but only
        // the log can name its schema: with no files there is no
        // footer to fall back to
        val schema = TxLog.tableSchema(root, Some(snap.version)).getOrElse {
          require(snap.files.nonEmpty,
            s"version ${snap.version} of $root has no live files and no " +
              "log-recorded schema to shape an empty relation")
          spark.read.option("mergeSchema", "true").parquet(paths: _*).schema
        }
        relationOver(spark, root, new GraftFileIndex(spark, root, snap),
          schema, snap.dvFiles)
    }
  }

  /** The shared relation tail: DV-mask broadcast + HadoopFsRelation
    * over either file index.
    */
  private def relationOver(spark: SparkSession, root: String,
                           index: FileIndex,
                           schema: StructType,
                           dvFiles: Seq[String]): BaseRelation = {
    // the active masks as (file name -> sorted row positions), KB-
    // scale by the purge/compaction contract (see TxLog.applyDvMask);
    // shipped to readers as an explicit BROADCAST — one copy per
    // executor via the torrent protocol, instead of riding every
    // task's serialized reader closure
    TxLog.dvGuard(spark, root, dvFiles)
    val mask: Map[String, Array[Long]] =
      if (dvFiles.isEmpty) Map.empty
      else spark.read.parquet(dvFiles.map(f => s"$root/$f"): _*)
        .select("file", "pos").distinct().collect()
        .groupBy(_.getString(0))
        .map { case (f, rows) => f -> rows.map(_.getLong(1)).sorted }
    val maskBc = spark.sparkContext.broadcast(mask)
    // a masked table arms the plan-time batch/row split on this
    // session (idempotent): unmasked files regain columnar reads
    // through it — see [[MaskedTableSplit]]
    if (mask.nonEmpty) MaskedTableSplit.ensureInstalled(spark)
    HadoopFsRelation(
      location = index,
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new GraftParquetFileFormat(maskBc,
        TxLog.columnMapping(schema)),
      options = Map("mergeSchema" -> "true"))(spark)
  }
}

/** File listing from the transaction log: the live set of one resolved
  * snapshot, pruned in `listFiles` by the log's recorded per-file
  * stats against the query's data filters. Skipping is always
  * conservative — a file without usable stats for a referenced column
  * is kept, and Spark re-applies the full predicate to every row — so
  * pruning is an optimization, never the filter.
  */
class GraftFileIndex(spark: SparkSession, root: String,
                     snap: TxLog.Snapshot) extends FileIndex {

  /** The snapshot's live files / session — what [[MaskedTableSplit]]
    * needs to partition the scan, and [[restrictTo]] to rebuild the
    * halves.
    */
  private[sources] def liveFiles: Seq[String] = snap.files
  private[sources] def session: SparkSession = spark

  /** This index restricted to a subset of the snapshot's files — same
    * version, same skipping stats (entry-cached, so the rebuild costs
    * no metadata I/O), listing only the subset.
    */
  private[sources] def restrictTo(files: Seq[String]): GraftFileIndex =
    new GraftFileIndex(spark, root, snap.copy(files = files))

  // all four skipping indexes from ONE replay of checkpoint + suffix
  // at the snapshot's own version — O(checkpoint interval) metadata
  // reads, the same cost resolve pays, however long the log has lived
  private val idx = TxLog.skippingIndex(root, Some(snap.version))
  private val stats = new TxLog.IndexStats(root, snap.version, snap.files,
    idx)

  /** Did this index plan WITHOUT touching storage? True when every
    * live file's size is log-recorded (commits since the size action
    * + checkpoint carry) — the 1M-file planning posture: zero
    * listStatus round trips, statuses fabricated from the log,
    * exactly Delta's listing-free planning. Exposed for specs.
    */
  private[graft] val usedLogSizes: Boolean = {
    val sizes = idx.sizes
    snap.files.nonEmpty && snap.files.forall(sizes.contains)
  }

  // file statuses for split planning: fabricated from the LOG's
  // recorded sizes when every live file has one (no storage I/O at
  // all — a concurrently vacuumed file then fails loudly in the
  // reader instead of at plan time, the same contract Delta has);
  // otherwise one statusful listing, BATCHED by parent directory —
  // one listStatus per directory, O(directories) round trips, not
  // O(live files). Fabricated mtimes are the ADDING commit's publish
  // time (checkpoint-carried files: the checkpoint's) — the
  // approximation `_metadata.file_modification_time` reports when no
  // storage stat happened, within a checkpoint interval of the real
  // write time
  private val statuses: Seq[(String, FileStatus)] =
    if (usedLogSizes) {
      val sizes = idx.sizes
      val mtimes = idx.mtimes
      snap.files.sorted.map(f =>
        f -> new FileStatus(sizes(f), false, 1, 128L << 20,
          mtimes.getOrElse(f, 0L), new Path(s"$root/$f")))
    } else GraftPrunedFileIndex.listBatched(spark, root, snap.files)
      .sortBy(_._1) // deterministic listing order

  override def rootPaths: Seq[Path] = Seq(new Path(root))

  override def partitionSchema: StructType = StructType(Nil)

  override def sizeInBytes: Long = statuses.map(_._2.getLen).sum

  override def inputFiles: Array[String] =
    statuses.map(_._2.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val kept = TxLog.candidatesWhere(stats, dataFilters).map(_.path).toSet
    Seq(PartitionDirectory(InternalRow.empty,
      statuses.collect { case (f, st) if kept(f) => st }.toArray))
  }
}

/** The MILLION-FILE planning path: a [[org.apache.spark.sql.execution.datasources.FileIndex]]
  * that never materializes the live set. Where [[GraftFileIndex]]
  * loads the whole skipping index eagerly (right for the thousands-
  * of-files common case — and what masked-table splitting needs),
  * this index holds only the SUFFIX state (commits after the base
  * checkpoint — small by the checkpoint cadence) and answers
  * `listFiles` by STREAMING the checkpoint sidecar, retaining exactly
  * the files the query's own filters admit: the Delta move of pushing
  * the query's partition/stats predicates into the checkpoint read.
  * A selective query over a 1M-file table costs one sidecar stream
  * (MBs, row-at-a-time) and holds the matching fraction of entries;
  * the EntryCache is never asked to host an O(table) LogEntry at all.
  * Chosen by `createRelation` when the sidecar row count crosses
  * `spark.graft.plan.pruneFileThreshold` (default 100k).
  */
class GraftPrunedFileIndex(spark: SparkSession, root: String,
                           pi: TxLog.PrunedPlanInfo) extends FileIndex {

  // last-wins liveness + suffix-recorded stats of every path a
  // suffix commit touched ([[TxLog.suffixStateOf]] — shared with the
  // keyed mutation paths): absent = the checkpoint's verdict stands,
  // true = live with suffix stats, false = removed
  private val sfx = TxLog.suffixStateOf(pi.suffix)
  private val stats = new TxLog.SidecarStats(root, pi, sfx)

  override def rootPaths: Seq[Path] = Seq(new Path(root))

  override def partitionSchema: StructType = StructType(Nil)

  // from the checkpoint JSON's recorded totals (one cached sweep on
  // pre-totals checkpoints) + suffix deltas — never a per-query scan.
  // DELIBERATE OVERESTIMATE: suffix commits record sizes only for
  // their own adds, so a suffix REMOVE of a checkpoint-base file (the
  // common delete/compact case) subtracts nothing here — looking the
  // removed bytes up would cost the sidecar scan this field exists to
  // avoid. Overestimating is the safe direction for a planner input:
  // it can only suppress a broadcast that might have been legal,
  // never broadcast a table that is too big; the next checkpoint's
  // recorded totals re-tighten it.
  override lazy val sizeInBytes: Long = {
    val removedB = sfx.touched.collect { case (p, false) => p }
      .map(p => sfx.idx.sizes.getOrElse(p, 0L)).sum
    TxLog.sidecarTotalBytes(root, pi.cp) - removedB +
      sfx.live.map(p => sfx.idx.sizes.getOrElse(p, 0L)).sum
  }

  override def inputFiles: Array[String] = {
    val out = Array.newBuilder[String]
    TxLog.scanCheckpointSidecar(root, pi.cp) { fe =>
      if (!sfx.touched.contains(fe.path)) out += s"$root/${fe.path}"
      false
    }
    out ++= sfx.live.map(p => s"$root/$p")
    out.result()
  }

  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    // base: the sidecar streamed with the query's predicate pushed
    // into the parquet read itself ([[graft.ops.SidecarPushdown]]):
    // row groups the sidecar's own statistics refute are never
    // decoded, so a selective query over a sorted 10M-row sidecar
    // costs a footer read plus the matching groups, and only the
    // survivors materialize; then the suffix-added files
    val (sized, unsized) = TxLog.candidatesWhere(stats, dataFilters,
      pushdown = true).partition(_.bytes.isDefined)
    // legacy files without log-recorded sizes: one batched listing
    // per parent directory, never one stat per file
    val fallback = GraftPrunedFileIndex.listBatched(spark, root,
      unsized.map(_.path)).map(_._2)
    Seq(PartitionDirectory(InternalRow.empty, (sized.map(c =>
      new FileStatus(c.bytes.get, false, 1, 128L << 20, c.mtime,
        new Path(s"$root/${c.path}"))) ++ fallback).toArray))
  }
}

private[sources] object GraftPrunedFileIndex {
  /** Statuses for files whose sizes the log does not record: one
    * listStatus per parent DIRECTORY (O(directories) round trips).
    * A listed-but-missing live file fails loudly — vacuumed under a
    * concurrent reader.
    */
  def listBatched(spark: SparkSession, root: String,
                  files: Seq[String]): Seq[(String, FileStatus)] =
    if (files.isEmpty) Seq.empty
    else {
      val conf = spark.sessionState.newHadoopConf()
      files.groupBy(f => f.take(f.lastIndexOf('/').max(0)))
        .toSeq.sortBy(_._1).flatMap { case (dir, fs) =>
          val dirPath = new Path(s"$root/$dir")
          val listed = dirPath.getFileSystem(conf).listStatus(dirPath)
            .map(st => st.getPath.getName -> st).toMap
          fs.sorted.map { f =>
            val name = f.substring(f.lastIndexOf('/') + 1)
            f -> listed.getOrElse(name,
              throw new IllegalStateException(
                s"live file $f of $root is missing on storage " +
                  "(vacuumed concurrently?)"))
          }
        }
    }
}

/** Spark's parquet format with the table's deletion-vector masks
  * applied INSIDE the scan. `maskBc` broadcasts (data-file NAME →
  * sorted masked row positions) — one copy per executor, not one per
  * task closure. When the mask is empty this is exactly
  * ParquetFileFormat; when not, the reader SPLITS PER FILE:
  *
  *  - a file with no active mask entry takes the base reader with no
  *    row-index column decoded;
  *  - a masked file's reader appends parquet's row-index column to the
  *    read schema (real positions, immune to row-group/page skipping
  *    by pushed filters), drops masked rows, and projects the column
  *    back off.
  *
  * EVERY per-file path emits OWNED UnsafeRow copies — with batching
  * off the readers yield ColumnarBatchRow VIEWS over a recycled
  * batch, and the row-based metadata-column machinery can hold one
  * across a batch boundary (fuzz-caught NPE). Do NOT "optimize" the
  * unmasked branch back to a raw passthrough.
  *
  * Batch (columnar) output is disabled on masked tables as a whole:
  * one FileSourceScanExec's readers must all yield the same shape, so
  * a per-file batch/row mix is not expressible in a V1 scan — but with
  * `supportBatch` off Spark's parquet reader still DECODES through the
  * vectorized path and iterates rows off the column batches, so the
  * cost is the lost batch-at-a-time codegen, not vectorized decode.
  */
class GraftParquetFileFormat(
    maskBc: org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]],
    mapping: Map[String, String] = Map.empty)
    extends ParquetFileFormat {

  /** Masked data-file NAMES — [[MaskedTableSplit]]'s partition key. */
  private[sources] def maskedNames: Set[String] = maskBc.value.keySet

  /** logical -> physical column mapping — [[MaskedTableSplit]] hands
    * it to the clean half's format.
    */
  private[sources] def colMapping: Map[String, String] = mapping

  // under column mapping, the PHYSICAL parquet layer (read schema,
  // pushed footer filters) speaks physical names; the rows come back
  // POSITIONALLY, so nothing above the reader changes
  private def physFields(st: StructType): StructType =
    if (mapping.isEmpty) st
    else StructType(st.fields.map(f =>
      mapping.get(f.name).map(p => f.copy(name = p)).getOrElse(f)))

  /** A pushed filter with attribute names translated to physical —
    * None drops the filter (pushdown is an optimization; Spark
    * re-applies the exact predicate above the scan).
    */
  private def physFilter(f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.{sources => sf}
    def ph(a: String): String = mapping.getOrElse(a, a)
    f match {
      case sf.EqualTo(a, v) => Some(sf.EqualTo(ph(a), v))
      case sf.EqualNullSafe(a, v) => Some(sf.EqualNullSafe(ph(a), v))
      case sf.GreaterThan(a, v) => Some(sf.GreaterThan(ph(a), v))
      case sf.GreaterThanOrEqual(a, v) =>
        Some(sf.GreaterThanOrEqual(ph(a), v))
      case sf.LessThan(a, v) => Some(sf.LessThan(ph(a), v))
      case sf.LessThanOrEqual(a, v) => Some(sf.LessThanOrEqual(ph(a), v))
      case sf.In(a, vs) => Some(sf.In(ph(a), vs))
      case sf.IsNull(a) => Some(sf.IsNull(ph(a)))
      case sf.IsNotNull(a) => Some(sf.IsNotNull(ph(a)))
      case sf.StringStartsWith(a, v) =>
        Some(sf.StringStartsWith(ph(a), v))
      case sf.StringEndsWith(a, v) => Some(sf.StringEndsWith(ph(a), v))
      case sf.StringContains(a, v) => Some(sf.StringContains(ph(a), v))
      case sf.And(l, r) =>
        for { a <- physFilter(l); b <- physFilter(r) } yield sf.And(a, b)
      case sf.Or(l, r) =>
        for { a <- physFilter(l); b <- physFilter(r) } yield sf.Or(a, b)
      case sf.Not(c) => physFilter(c).map(sf.Not)
      case sf.AlwaysTrue() => Some(f)
      case sf.AlwaysFalse() => Some(f)
      case _ => None
    }
  }

  // ParquetFileFormat.equals is class-based — two Graft formats with
  // DIFFERENT masks would compare equal and could alias in plan/scan
  // reuse. Reference equality keeps every masked relation distinct.
  override def equals(other: Any): Boolean = other match {
    case g: GraftParquetFileFormat => g eq this
    case _ => false
  }
  override def hashCode(): Int = System.identityHashCode(this)

  override def supportBatch(sparkSession: SparkSession,
                            schema: StructType): Boolean =
    maskBc.value.isEmpty && super.supportBatch(sparkSession, schema)

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : PartitionedFile => Iterator[InternalRow] = {
    // column mapping: the parquet layer reads PHYSICAL names; the
    // output rows are positional, so the logical plan above is
    // untouched (the row-index temp column is not a table column and
    // never maps)
    val pData = physFields(dataSchema)
    val pReq = physFields(requiredSchema)
    val pFilters =
      if (mapping.isEmpty) filters else filters.flatMap(physFilter)
    if (maskBc.value.isEmpty)
      return super.buildReaderWithPartitionValues(sparkSession,
        pData, partitionSchema, pReq, pFilters, options,
        hadoopConf)
    // unmasked files in a masked table: the plain reader, untouched
    val basePlain = super.buildReaderWithPartitionValues(sparkSession,
      pData, partitionSchema, pReq, pFilters, options,
      hadoopConf)
    // the query may ALREADY request the row-index column (a selected
    // `_metadata.row_index`, or the row-level-operation scan's `_pos`)
    // — reuse it for the mask filter instead of appending a duplicate
    val existingIdx = pReq.fieldNames.indexOf(
      ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME)
    // the row-index request column: the TEMPORARY name is what the
    // readers' row-index generators recognize, and it must be NULLABLE
    // — the reader rejects a required-but-absent column as a data
    // error before the generator ever runs
    val withIdx =
      if (existingIdx >= 0) pReq
      else StructType(pReq.fields :+ StructField(
        ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType,
        nullable = true))
    val baseMasked = super.buildReaderWithPartitionValues(sparkSession,
      pData, partitionSchema, withIdx, pFilters, options, hadoopConf)
    val idxAt = if (existingIdx >= 0) existingIdx else pReq.length
    // EVERY per-file path emits OWNED UnsafeRow copies: with batching
    // off the readers emit ColumnarBatchRow VIEWS over a recycled
    // batch, and downstream metadata-column machinery (FileScanRDD's
    // joined row) may hold one across a batch boundary — reading a
    // freed vector NPEs (fuzz-caught). The strip projection doubles as
    // that copy for masked files; unmasked files (and masked files
    // whose query owns the row-index column) pay an identity copy.
    // The batch-output path of unmasked TABLES is untouched
    val dataTypes = pReq.fields.map(_.dataType)
    val localMask = maskBc // the broadcast HANDLE rides the closure
    def identityProj(types: Array[org.apache.spark.sql.types.DataType]) =
      UnsafeProjection.create(types.zipWithIndex.map { case (dt, i) =>
        BoundReference(i, dt, nullable = true): Expression
      }.toIndexedSeq)
    (file: PartitionedFile) => {
      val name = file.toPath.getName
      localMask.value.get(name) match {
        case None =>
          basePlain(file).map(identityProj(dataTypes))
        case Some(m) =>
          // one projection serves both shapes: when the query already
          // owns the row-index column, requiredSchema == withIdx and
          // this is the identity copy; when the column was appended,
          // reading indices 0..n-1 strips it
          baseMasked(file).filter(r =>
              java.util.Arrays.binarySearch(m, r.getLong(idxAt)) < 0)
            .map(identityProj(dataTypes))
      }
    }
  }
}

/** The Structured-Streaming WRITE side: each micro-batch becomes one
  * atomic, idempotent commit via [[TxLog.commitBatch]] — the medallion
  * chain composes as
  * `df.writeStream.format("graft-table").start(root)` with exactly-
  * once table semantics across restarts (replayed batch ids are
  * no-ops against the log's ledger). Append output mode only: the
  * log's streaming contract is append-is-a-commit; aggregations
  * should flow through foreachBatch + upsert.
  */
class GraftTableSink(root: String)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the incoming frame is the streaming micro-batch plan; re-wrap it
    // as a batch frame over the SAME physical rows before handing it
    // to the log's writer (the standard V1 sink move)
    val batch = org.apache.spark.sql.graft.StreamingFrame.unstream(data)
    TxLog.commitBatch(batch.sparkSession, root, batch, batchId): Unit
  }

  override def toString: String = s"GraftTableSink($root)"
}
