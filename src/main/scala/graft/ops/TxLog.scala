package graft.ops

import java.nio.file.{FileAlreadyExistsException, Paths}
import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{expressions => ex}
import org.apache.spark.sql.functions._

/** A minimal parquet transaction log — the Delta/Iceberg commit shape
  * scaled down to its load-bearing core, built to make table mutation
  * SAFE at 100 TB where "overwrite the directory" is not:
  *
  *  - every mutation (append / delete / compact) stages its data files
  *    first, then publishes them with ONE atomic write of a tiny JSON
  *    commit file — readers see the table before the commit or after
  *    it, never a half-written directory;
  *  - commits never modify or remove existing DATA files (copy-on-
  *    write), so any historical version remains readable: a snapshot
  *    at version v replays the log prefix ≤ v ([[snapshot]] — time
  *    travel);
  *  - two writers racing to the same version collide on the commit
  *    file's exclusive publish ([[TxIo.putIfAbsent]] — link(2)
  *    locally, `FileSystem.create(overwrite = false)` on HDFS/object
  *    stores) and the loser fails LOUDLY with a conflict — optimistic
  *    concurrency, not silent last-writer-wins;
  *  - storage is reclaimed only by an explicit [[vacuum]] with a
  *    retention floor, the same separation Delta draws between logical
  *    delete and physical removal.
  *
  * The log directory holds one `%08d.json` file per version; data
  * files live under `data/` with UUID names (immutable once
  * published). At this scale a JSON-lines log is exactly what Delta
  * ships; checkpoint compaction of the log itself is out of scope —
  * the per-commit cost here is O(files touched), not O(table).
  */
object TxLog {

  private def logDir(root: String) = s"$root/_txlog"
  private def dataDir(root: String) = s"$root/data"

  /** The metadata-plane I/O for `root` — POSIX link-atomic for local
    * paths, the Hadoop `FileSystem` API (exclusive `create`) for any
    * other scheme. See [[TxIo]] for the publish-atomicity contract and
    * the object-store consistency assumptions.
    */
  private def io(root: String): TxIo = TxIo.forRoot(root)

  /** Live data files (relative paths) of the table at `version`
    * (latest when None), with the version actually resolved. Replays
    * add/remove actions in commit order — order matters because a
    * compaction removes files an earlier commit added. `dvFiles` are
    * the deletion-vector sidecars whose masks still apply to at least
    * one live file ([[deleteWhereDv]]) — a reader must anti-join them.
    */
  final case class Snapshot(version: Long, files: Seq[String],
                            dvFiles: Seq[String] = Seq.empty)

  /** Create an empty table root (no versions yet). Re-initing a
    * DELETED root drops any parsed entries cached for its previous
    * incarnation — the (size, mtime) identity alone could collide on
    * a same-shape recreate over a coarse-mtime store.
    */
  def init(root: String): Unit = {
    invalidateCaches(root)
    io(root).mkdirs(logDir(root))
    io(root).mkdirs(dataDir(root))
  }

  /** All data files under `data/` as root-relative paths, recursing
    * into partition subdirectories (`data/lang=en/...`).
    */
  private def listDataFiles(root: String): Seq[String] =
    io(root).listRecursive(dataDir(root)).map("data/" + _)

  private def commitPath(root: String, v: Long): String =
    f"${logDir(root)}/$v%08d.json"

  private def checkpointPath(root: String, v: Long): String =
    f"${logDir(root)}/$v%08d.checkpoint.json"

  /** The columnar checkpoint's parquet sidecar: one row per live
    * file (path, row count, per-column [min,max] / null-count /
    * partition-value). The JSON half keeps only the KB-scale
    * table-level state — schema, constraints, DV state, batch ids,
    * partition columns — plus the `"cpq":1` marker; at 100k–1M live
    * files the per-file state is a compact columnar read instead of
    * a 100 MB JSON string regex-swept on the driver per planned
    * query (Delta's parquet checkpoint, scaled to this log).
    */
  private[graft] def checkpointSidecarPath(root: String, v: Long): String =
    f"${logDir(root)}/$v%08d.checkpoint.parquet"

  /** Parse one checkpoint from disk (cache miss path — see
    * [[checkpointEntry]]). A columnar checkpoint's JSON half carries
    * only the table-level state plus a `"cpq":1` marker; the per-file
    * live set, stats, null counts, and partition values stream out of
    * its parquet sidecar ([[readCheckpointSidecar]]) — no
    * O(live files) JSON string is ever materialized on the driver.
    */
  private def loadCheckpoint(root: String, v: Long): LogEntry = {
    // the JSON half loads through its own cache entry
    // ([[checkpointJsonEntry]]) so metadata-only readers and this full
    // load share ONE on-disk read per checkpoint per session
    val e = checkpointJsonEntry(root, v)
    if (!e.columnar) e
    else {
      val side = readCheckpointSidecar(root, v)
      e.copy(adds = side.adds, intStats = side.intStats,
        strStats = side.strStats, nstats = side.nstats,
        sizes = side.sizes, parts = side.parts)
    }
  }

  /** How long a zero-byte TIP commit may sit before it is quarantined.
    * [[HadoopTxIo.putIfAbsent]] reserves the commit name with an
    * exclusive create and only then writes the content — a publisher
    * that crashes in that window leaves a zero-byte file that claims
    * the version forever. A zero-byte tip younger than the grace may
    * be a live publisher still flushing: readers fail LOUDLY (and
    * transiently — retry) rather than quarantine a commit in flight.
    * Test seam; operationally the close() latency is milliseconds, so
    * a minute of grace is orders of magnitude past any live flush.
    */
  private[graft] var zeroByteTipGraceMillis: Long = 60000L

  private def versionsOnDisk(root: String): Seq[Long] = {
    val vs = io(root).list(logDir(root))
      .filter(n => n.endsWith(".json") && !n.endsWith(".checkpoint.json")
        && !n.startsWith("."))
      .map(_.stripSuffix(".json").toLong).sorted
    if (vs.isEmpty) return vs
    // a zero-byte commit can never be valid (every real commit is a
    // non-empty JSON object), and it can only be the TIP: writers
    // resolve before committing, and resolve fails loudly on an
    // unparseable commit, so nobody ever builds PAST one. Quarantine
    // an aged-out claim (rename to a dot-name all listings skip) so
    // the version slot frees up instead of bricking the table
    val tip = commitPath(root, vs.last)
    val tipSize = try io(root).size(tip) catch { case _: Exception => -1L }
    if (tipSize != 0L) return vs
    val age = try System.currentTimeMillis() - io(root).mtime(tip)
      catch { case _: Exception => -1L }
    if (age >= zeroByteTipGraceMillis) {
      try io(root).move(tip, f"${logDir(root)}/.quarantine-${vs.last}%08d" +
        s".json-${UUID.randomUUID().toString.take(8)}")
      catch {
        case e: Exception =>
          // a racing quarantiner winning is fine (the claim is gone);
          // a claim that persists through a failed move must not
          // recurse forever — surface the real obstruction
          if (io(root).exists(tip)) throw new IllegalStateException(
            s"commit $tip is an aged-out zero-byte claim that could " +
              "not be quarantined; remove it manually", e)
      }
      versionsOnDisk(root) // re-list: the slot is free (or freed by the racer)
    } else throw new IllegalStateException(
      s"commit $tip is zero-byte: its publisher crashed mid-publish or " +
        "is still flushing; retry the read — the dead claim is " +
        s"quarantined automatically after ${zeroByteTipGraceMillis} ms")
  }

  private def checkpointsOnDisk(root: String): Seq[Long] =
    io(root).list(logDir(root))
      .filter(n => n.endsWith(".checkpoint.json") && !n.startsWith("."))
      .map(_.stripSuffix(".checkpoint.json").toLong).sorted

  // data-file names are UUID-based and commit JSON is hand-rolled, so
  // the path grammar is locked down at write time — a quote or comma
  // in a path would corrupt the log
  private val SafePath = "[A-Za-z0-9._/\\-=]+".r

  // the ops a commit can record (Delta's commitInfo operation field,
  // reduced to this log's vocabulary); locked down like paths are —
  // the JSON is hand-rolled
  private val SafeOp = "[a-z-]+".r

  // partition VALUES appear both in data-file paths (data/lang=en/...)
  // and in the hand-rolled commit JSON, so they take the intersection
  // grammar: no '/', no '=', no quotes, no spaces ([[appendPartitioned]]
  // additionally rejects NULL partition values loudly)
  private val SafePartValue = "[A-Za-z0-9._\\-]{1,64}".r

  // canonical partition-transform spec strings ("days(ts)",
  // "bucket(16,user_id)") — names ride the safe-name grammar, the
  // only extra characters are the call shape's
  private val SafeTransformSpec = "[A-Za-z0-9_]+\\([A-Za-z0-9_,]+\\)".r

  // the hand-rolled JSON's TOP-LEVEL keys. A user COLUMN with one of
  // these names would emit `"batchId":3`-shaped fragments inside the
  // stats/nstats/parts objects, and the findFirstMatchIn sweeps that
  // parse commit text could pick the fragment up as the real field
  // (e.g. a null-count for a column literally named `batchId` read
  // back as a streaming ledger entry). So reserved names are simply
  // never recorded in the per-column indexes (conservative reads,
  // never wrong ones), and partition columns reject them loudly —
  // a partition column named `dv` would otherwise fabricate a
  // deletion-vector action out of its `"dv":"<value>"` pair.
  private[graft] val ReservedKeys = Set(
    "v", "op", "adds", "removes", "rows", "rowsRemoved", "batchId",
    "batchIds", "mergeKey", "schema", "dv", "dvCovers", "dvDrops",
    "dvs", "stats", "nstats", "parts", "partCols", "ptspec", "cset",
    "cname",
    "cexpr", "cpq", "tbytes", "tfiles")

  /** A column name that may appear as a key inside the hand-rolled
    * commit/checkpoint JSON: the safe grammar minus the reserved
    * top-level vocabulary.
    */
  private def safeColName(name: String): Boolean =
    SafeName.matches(name) && !ReservedKeys(name)

  /** Exact row count of staged parquet files from their FOOTERS — the
    * commit-time stats a lakehouse log carries. O(files touched) like
    * the commit itself: a footer read is a few KB regardless of file
    * size, so logging row counts costs nothing even when the files
    * hold millions of rows. Removed files are copy-on-write survivors
    * still on disk, so their footers are readable too.
    */
  private def parquetRows(root: String, files: Seq[String]): Long =
    {
      val conf = new org.apache.hadoop.conf.Configuration()
      files.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$root/$f"), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    }

  /** Row count of `files` from the LOG's recorded per-file counts
    * where available, footers only for the remainder — the ledger's
    * `rowsRemoved` for an optimize/compact/delete of N files must not
    * cost N footer round trips when the log already knows every
    * count.
    */
  private def recordedRows(root: String, files: Seq[String]): Long = {
    if (files.isEmpty) return 0L
    val counted = fileNullStats(root)
    val (known, unknown) = files.partition(counted.contains)
    known.map(f => counted(f)._1).sum +
      (if (unknown.isEmpty) 0L else parquetRows(root, unknown))
  }

  /** One file set's footer metadata: exact row count plus per-file,
    * per-column `[min, max]` for integer and (safe-grammar) string
    * columns, per-file per-column NULL counts, and per-file row
    * counts (the pair that makes `IS NULL` / `IS NOT NULL` skipping
    * decidable: nulls == 0 skips `IS NULL`, nulls == rows skips
    * `IS NOT NULL`).
    */
  private[graft] final case class FileMeta(
      rows: Long,
      intStats: Map[String, Map[String, (Long, Long)]],
      strStats: Map[String, Map[String, (String, String)]],
      nullStats: Map[String, Map[String, Long]] = Map.empty,
      fileRows: Map[String, Long] = Map.empty,
      fileBytes: Map[String, Long] = Map.empty)

  // string stat VALUES land in the hand-rolled commit JSON, so only
  // values in this grammar are recorded (no quotes, no backslashes,
  // ASCII only — so the byte order parquet compared by matches the
  // string order readers prune by); anything else is simply not
  // recorded, which readers treat as "cannot skip" — always correct
  private val SafeStatValue = "[A-Za-z0-9._/\\-= ]{0,64}".r

  /** Footer metadata of staged files: the exact row count PLUS
    * per-column `[min, max]` for top-level integer and string columns
    * — read in the SAME footer open as the row count, so logging
    * data-skipping stats costs no extra I/O at commit time. Integer
    * values JSON-round-trip exactly; strings are recorded only when
    * they fit [[SafeStatValue]] (id, category, language, date-ish
    * columns — what a lakehouse prunes on). Timestamp-annotated INT64
    * is excluded (its raw long is a representation detail, not a
    * user-facing value).
    */
  private def parquetMeta(root: String, files: Seq[String]): FileMeta = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation.{
      IntLogicalTypeAnnotation, StringLogicalTypeAnnotation}
    val conf = new org.apache.hadoop.conf.Configuration()
    var rows = 0L
    val stats = Map.newBuilder[String, Map[String, (Long, Long)]]
    val strStats = Map.newBuilder[String, Map[String, (String, String)]]
    val nullStats = Map.newBuilder[String, Map[String, Long]]
    val fileRows = Map.newBuilder[String, Long]
    val fileBytes = Map.newBuilder[String, Long]
    files.foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$root/$f"), conf)
      // the file SIZE rides the same footer open — recorded in the
      // log so planning can fabricate its listing (see
      // GraftFileIndex): at 1M live files, zero storage round trips
      // instead of one listStatus per directory per planned query
      fileBytes += f -> in.getLength
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        rows += r.getRecordCount
        fileRows += f -> r.getRecordCount
        val byCol = scala.collection.mutable.Map.empty[String, (Long, Long)]
        val byColS =
          scala.collection.mutable.Map.empty[String, (String, String)]
        // null counts land for EVERY safe-named primitive column —
        // they are type-agnostic; a row group whose footer lacks the
        // count poisons that column's entry (a partial sum would be a
        // WRONG count, not a conservative one)
        val byColN = scala.collection.mutable.Map.empty[String, Long]
        val nullPoisoned = scala.collection.mutable.Set.empty[String]
        // a column with UNUSABLE stats in any row group (absent, or a
        // string value outside the grammar) must not keep a partial
        // range from the other groups — that would be a WRONG range,
        // not a conservative one. An all-null group is different: it
        // contributes no values, so the other groups' range IS the
        // file's range — it neither widens nor poisons
        val poisoned = scala.collection.mutable.Set.empty[String]
        def poison(name: String): Unit = {
          poisoned += name
          byCol -= name
          byColS -= name: Unit
        }
        r.getFooter.getBlocks.asScala.foreach { b =>
          b.getColumns.asScala.foreach { c =>
            val name = c.getPath.toDotString
            val pt = c.getPrimitiveType
            if (safeColName(name) && !nullPoisoned(name)) {
              val st0 = c.getStatistics
              if (st0 == null || !st0.isNumNullsSet) {
                nullPoisoned += name
                byColN -= name: Unit
              } else byColN(name) = byColN.getOrElse(name, 0L) +
                st0.getNumNulls
            }
            val intLike =
              (pt.getPrimitiveTypeName == INT64 ||
                pt.getPrimitiveTypeName == INT32) &&
                (pt.getLogicalTypeAnnotation == null ||
                  pt.getLogicalTypeAnnotation
                    .isInstanceOf[IntLogicalTypeAnnotation])
            val strLike = pt.getPrimitiveTypeName == BINARY &&
              pt.getLogicalTypeAnnotation
                .isInstanceOf[StringLogicalTypeAnnotation]
            val st = c.getStatistics
            if ((intLike || strLike) && safeColName(name) &&
                !poisoned(name)) {
              if (st == null || st.isEmpty) poison(name)
              else if (!st.hasNonNullValue) () // all-null group
              else if (intLike) {
                val mn = st.genericGetMin.asInstanceOf[Number].longValue()
                val mx = st.genericGetMax.asInstanceOf[Number].longValue()
                byCol(name) = byCol.get(name)
                  .fold((mn, mx))(p =>
                    (math.min(p._1, mn), math.max(p._2, mx)))
              } else {
                val mn = st.genericGetMin
                  .asInstanceOf[org.apache.parquet.io.api.Binary]
                  .toStringUsingUTF8
                val mx = st.genericGetMax
                  .asInstanceOf[org.apache.parquet.io.api.Binary]
                  .toStringUsingUTF8
                if (SafeStatValue.matches(mn) && SafeStatValue.matches(mx))
                  byColS(name) = byColS.get(name)
                    .fold((mn, mx))(p =>
                      (if (mn < p._1) mn else p._1,
                        if (mx > p._2) mx else p._2))
                else poison(name)
              }
            }
          }
        }
        if (byCol.nonEmpty) stats += f -> byCol.toMap
        if (byColS.nonEmpty) strStats += f -> byColS.toMap
        if (byColN.nonEmpty) nullStats += f -> byColN.toMap
      } finally r.close()
    }
    FileMeta(rows, stats.result(), strStats.result(),
      nullStats.result(), fileRows.result(), fileBytes.result())
  }

  /** `knownMeta`/`knownRowsRemoved` let retry loops pass the footer
    * metadata computed before their first attempt — the staged file
    * set is invariant across version races, so re-reading every footer
    * per lost race would be pure waste.
    */
  private[graft] def writeCommit(root: String, version: Long,
                                 adds: Seq[String],
                                 removes: Seq[String],
                                 op: String = "append",
                                 batchId: Option[Long] = None,
                                 knownMeta: Option[FileMeta] = None,
                                 knownRowsRemoved: Option[Long] = None,
                                 dv: Option[(String, Seq[String])] = None,
                                 dvDrops: Seq[String] = Seq.empty,
                                 dvSet: Seq[(String, Seq[String])] =
                                   Seq.empty,
                                 parts: Map[String, Map[String, String]] =
                                   Map.empty,
                                 partCols: Seq[String] = Seq.empty,
                                 ptspec: Seq[String] = Seq.empty,
                                 mergeKey: Option[String] = None,
                                 schema: Option[
                                   org.apache.spark.sql.types.StructType] =
                                   None)
      : Unit = {
    checkProtocolWrite(root)
    (adds ++ removes).foreach(p =>
      require(SafePath.matches(p), s"unsafe path in commit: $p"))
    require(SafeOp.matches(op), s"unsafe op in commit: $op")
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val bid = batchId.map(b => s""","batchId":$b""").getOrElse("")
    // a merge commit names its key column, so CDC readers can pair its
    // removed-and-re-added keys into update pre/post images
    val mk = mergeKey.map { k =>
      require(SafeName.matches(k), s"unsafe merge key in commit: $k")
      s""","mergeKey":"$k""""
    }.getOrElse("")
    // the table SCHEMA as of this commit (Delta's metadata action):
    // recorded by the commits that can change it, so readers resolve
    // the schema from ONE log read instead of a footer sweep of every
    // live file — at 100 TB that sweep is the planning bottleneck.
    // Base64 of StructType.json keeps the hand-rolled grammar safe
    val schemaJson = schema.map { st =>
      val b64 = java.util.Base64.getEncoder.encodeToString(
        st.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      s""","schema":"$b64""""
    }.getOrElse("")
    // a deletion-vector commit names its sidecar and the data files it
    // covers — covers let resolve() retire the DV once every covered
    // file is rewritten out of the live set
    val dvJson = dv.map { case (p, covers) =>
      require(SafePath.matches(p), s"unsafe dv path in commit: $p")
      covers.foreach(c =>
        require(SafePath.matches(c), s"unsafe dv cover in commit: $c"))
      s""","dv":"$p","dvCovers":${arr(covers)}"""
    }.getOrElse("")
    // a restore commit deactivates masks published after its target
    // (`dvDrops`) and republishes the target's mask state (`dvSet`) —
    // pure metadata, the sidecar bytes already exist
    (dvDrops ++ dvSet.flatMap { case (p, cov) => p +: cov }).foreach(p =>
      require(SafePath.matches(p), s"unsafe dv path in commit: $p"))
    val dvDropsJson =
      if (dvDrops.isEmpty) "" else s""","dvDrops":${arr(dvDrops)}"""
    val dvSetJson =
      if (dvSet.isEmpty) ""
      else ""","dvs":""" + dvSet.map { case (p, cov) =>
        s""""$p":${arr(cov)}"""
      }.mkString("{", ",", "}")
    val meta = knownMeta.getOrElse(parquetMeta(root, adds))
    val rowsRemoved = knownRowsRemoved.getOrElse(recordedRows(root, removes))
    val statsJson = statsJsonFrag(meta.intStats, meta.strStats)
    // partition metadata: the table's declared partition columns and
    // each file's partition values — the Delta shape, pruned from the
    // LOG before any listing. Both are grammar-locked like everything
    // else in the hand-rolled JSON; a per-file object whose body is
    // exclusively "name":"value" pairs is uniquely a parts object (the
    // [min,max] stats bodies always carry brackets, nstats bodies
    // start with "#rows")
    partCols.foreach(c =>
      require(safeColName(c), s"unsafe partition column: $c"))
    parts.foreach { case (f, kv) =>
      require(SafePath.matches(f), s"unsafe path in parts: $f")
      kv.foreach { case (c, v) =>
        require(safeColName(c), s"unsafe partition column: $c")
        require(SafePartValue.matches(v),
          s"unsafe partition value for $c: '$v'")
      }
    }
    val partColsJson =
      if (partCols.isEmpty) "" else s""","partCols":${arr(partCols)}"""
    // the table's hidden partition-transform spec (Iceberg's
    // partition spec re-expressed): canonical `kind(args)` strings,
    // grammar-locked like every other hand-rolled value
    ptspec.foreach(s => require(SafeTransformSpec.matches(s),
      s"unsafe partition transform spec: '$s'"))
    val ptspecJson =
      if (ptspec.isEmpty) "" else s""","ptspec":${arr(ptspec)}"""
    val partsJson = partsJsonFrag(parts)
    val nstatsJson = nstatsJsonFrag(
      meta.fileRows.map { case (f, r) =>
        f -> (r, meta.nullStats.getOrElse(f, Map.empty))
      }, meta.fileBytes)
    publishCommit(root, version,
      s"""{"v":$version,"op":"$op","adds":${arr(adds)},""" +
        s""""removes":${arr(removes)},"rows":${meta.rows},""" +
        s""""rowsRemoved":$rowsRemoved$bid$mk$schemaJson$dvJson""" +
        s"""$dvDropsJson$dvSetJson$partColsJson$ptspecJson$partsJson""" +
        s"""$statsJson$nstatsJson}""")
  }

  /** Per-file `[min,max]` stats as a `,"stats":{...}` JSON fragment
    * (integers bare, strings quoted), shared by commits and
    * checkpoints. Sorted for deterministic bytes; empty input emits
    * nothing.
    */
  private def statsJsonFrag(
      int: Map[String, Map[String, (Long, Long)]],
      str: Map[String, Map[String, (String, String)]]): String = {
    val statFiles = (int.keySet ++ str.keySet).toSeq.sorted
    if (statFiles.isEmpty) ""
    else ""","stats":""" + statFiles.map { f =>
      val ints = int.getOrElse(f, Map.empty).toSeq.sortBy(_._1)
        .map { case (c, (mn, mx)) => s""""$c":[$mn,$mx]""" }
      val strs = str.getOrElse(f, Map.empty).toSeq.sortBy(_._1)
        .map { case (c, (mn, mx)) => s""""$c":["$mn","$mx"]""" }
      s""""$f":""" + (ints ++ strs).mkString("{", ",", "}")
    }.mkString("{", ",", "}")
  }

  /** Per-file row/byte + null counts as a `,"nstats":{...}` fragment
    * — the IS NULL / IS NOT NULL half of the skipping index plus the
    * listing-free planning sizes. The `"#rows"`/`"#bytes"` markers
    * are outside both the column-name and path grammars, so they can
    * never collide with either. Files with neither per-column counts
    * nor a size are omitted.
    */
  private def nstatsJsonFrag(
      nulls: Map[String, (Long, Map[String, Long])],
      bytes: Map[String, Long] = Map.empty): String = {
    val files = (nulls.keySet.filter(f => nulls(f)._2.nonEmpty) ++
      bytes.keySet).toSeq.sorted.distinct
    if (files.isEmpty) ""
    else ""","nstats":""" + files.map { f =>
      val rowsPart = nulls.get(f).map { case (r, _) =>
        s""""#rows":$r""" }.toSeq
      val bytesPart = bytes.get(f).map(b => s""""#bytes":$b""").toSeq
      val cols = nulls.get(f).map(_._2).getOrElse(Map.empty)
        .toSeq.sortBy(_._1)
        .map { case (c, n) => s""""$c":$n""" }
      s""""$f":""" + ((rowsPart ++ bytesPart ++ cols)
        .mkString("{", ",", "}"))
    }.mkString("{", ",", "}")
  }

  /** Per-file partition values as a `,"parts":{...}` fragment — see
    * [[writeCommit]] for the shape-uniqueness argument (a per-file
    * object whose body is exclusively `"name":"value"` pairs).
    */
  private def partsJsonFrag(
      parts: Map[String, Map[String, String]]): String =
    if (parts.isEmpty) ""
    else ""","parts":""" + parts.toSeq.sortBy(_._1).map { case (f, kv) =>
      s""""$f":""" + kv.toSeq.sortBy(_._1)
        .map { case (c, v) => s""""$c":"$v"""" }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")

  /** Run a derived mutation's single commit attempt; when it loses its
    * version race (the loud-conflict contract — the caller saw a
    * snapshot and must re-derive, not re-stamp), the loser's staged
    * files are removed before the conflict propagates. Without this a
    * lost OPTIMIZE/overwrite race would orphan a full rewrite's worth
    * of data files until a vacuum's staging-grace sweep found them.
    */
  private def commitOrCleanup[A](root: String, staged: Seq[String])
                                (commit: => A): A =
    try commit
    catch {
      case e: IllegalStateException =>
        staged.foreach(f => io(root).deleteIfExists(s"$root/$f"))
        throw e
    }

  /** A derived mutation's declared read/write scope — what
    * [[commitDerived]]'s conflict detection reasons over on a lost
    * version race.
    *
    *  - `readFiles`: the live files whose ROWS the derivation
    *    actually depends on — the hit files of a delete/merge, the
    *    DV-covered files of a row-level write, the whole live set of
    *    a layout rewrite. Files the discovery provably cleared (log
    *    stats said no match; the scan found no hit) are NOT read
    *    dependencies: a winner rewriting them cannot change the
    *    loser's outcome.
    *  - `rowSelecting`: true when the mutation selects rows by a
    *    predicate/key set, so a winner's NEWLY added rows could have
    *    matched — a layout no-op (optimize/compact/purge) adds no new
    *    rows and sets this false.
    *  - `partitionEq`: partition-column equalities the predicate
    *    IMPLIES (e.g. `WHERE p = 'a' AND x < 9` implies p = 'a').
    *    A winner's added file whose log-recorded partition value
    *    provably differs on one of them cannot hold a matching row.
    */
  private[graft] final case class DerivedScope(
      readFiles: Set[String],
      rowSelecting: Boolean,
      partitionEq: Map[String, String] = Map.empty)

  /** A literal the log can compare against its directory-name-string
    * partition values EXACTLY: strings and integrals only (a float's
    * render could disagree with the stored segment and fabricate
    * disjointness).
    */
  private def partLitStr(value: Any): Option[String] = value match {
    case null => None
    case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
    case s: String => Some(s)
    case i: java.lang.Integer => Some(i.toString)
    case i: java.lang.Long => Some(i.toString)
    case i: java.lang.Short => Some(i.toString)
    case _ => None
  }

  /** The partition-column equalities `expr` IMPLIES: top-level
    * conjuncts of the shape `partCol = literal`. Sound for conflict
    * detection because a conjunct must hold for EVERY matching row —
    * unrecognized shapes just contribute nothing (conservative).
    */
  private[graft] def partitionEqOf(
      expr: org.apache.spark.sql.catalyst.expressions.Expression,
      partCols: Seq[String]): Map[String, String] = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, Literal}
    def nameOf(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(a.name)
      case _ => None
    }
    def walk(e: Expression): Map[String, String] = e match {
      case And(l, r) => walk(l) ++ walk(r)
      case EqualTo(a, l: Literal) =>
        nameOf(a).filter(partCols.contains)
          .flatMap(n => partLitStr(l.value).map(n -> _)).toMap
      case EqualTo(l: Literal, a) => walk(EqualTo(a, l))
      case _ => Map.empty
    }
    walk(expr)
  }

  /** [[partitionEqOf]] over the DSv2 pushed-filter shape. */
  private[graft] def partitionEqOfFilters(
      filters: Seq[org.apache.spark.sql.sources.Filter],
      partCols: Seq[String]): Map[String, String] = {
    import org.apache.spark.sql.sources
    def walk(f: sources.Filter): Map[String, String] = f match {
      case sources.And(l, r) => walk(l) ++ walk(r)
      case sources.EqualTo(a, v) if partCols.contains(a) =>
        partLitStr(v).map(a -> _).toMap
      case _ => Map.empty
    }
    filters.flatMap(walk).toMap
  }

  /** Is `winner` a set-schema commit that ONLY appended new fields —
    * the prior recorded schema an exact field prefix (name, type,
    * nullability, metadata) of the new one? Field-identity changes
    * (rename via mapping metadata, drop, retype) fail the prefix
    * test and stay conflicting. Conservative on any decode problem.
    */
  private def isPureAddSchema(root: String, winner: LogEntry): Boolean =
    winner.version > 0 && winner.schemaB64.exists { b64 =>
      try {
        val w = org.apache.spark.sql.types.DataType.fromJson(
          new String(java.util.Base64.getDecoder.decode(b64),
            java.nio.charset.StandardCharsets.UTF_8))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        tableSchema(root, Some(winner.version - 1)).exists { prev =>
          w.fields.length > prev.fields.length &&
            prev.fields.zip(w.fields).forall { case (a, b) => a == b }
        }
      } catch { case _: Exception => false }
    }

  /** Why `winner` forces the loser to re-derive — or None when the
    * loser's commit is safe to re-stamp at the next version (the
    * Delta commit-protocol conflict rules, scaled to this log's
    * action vocabulary, at WriteSerializable strength).
    */
  private def conflictReason(root: String, winner: LogEntry,
                             removes: Seq[String],
                             dvTargets: Seq[String],
                             scope: DerivedScope,
                             loserSetsSchema: Boolean): Option[String] = {
    val v = winner.version
    // whole-snapshot invalidations and table-contract changes: never
    // re-stampable — the loser derived against a world that is gone
    if (winner.op == "overwrite" || winner.op == "restore")
      return Some(s"a ${winner.op} landed at v$v")
    if (winner.dvDrops.nonEmpty || winner.dvState.nonEmpty)
      return Some(s"v$v rewrote the table's deletion-vector state")
    if (winner.op == "set-constraint" || winner.op == "drop-constraint")
      return Some(s"v$v changed the table's constraint set")
    if (winner.op == "set-schema") {
      // a PURE widening (ALTER TABLE ADD COLUMN: the prior schema is
      // an exact field prefix of the new one) cannot invalidate a
      // derived mutation that records no schema action of its own —
      // existing rows read the added column as NULL whether the
      // loser's rewrite lands before or after it. Every other schema
      // action (rename/drop/retype — field identity changes) stays
      // fatal: the loser derived and staged rows under a schema that
      // is gone.
      if (loserSetsSchema || !isPureAddSchema(root, winner))
        return Some(s"v$v changed the table's schema")
    }
    // newest schema action wins on replay: re-stamping the loser's
    // recorded schema over a winner's would shadow the winner's
    if (loserSetsSchema && winner.schemaB64.nonEmpty)
      return Some(s"v$v recorded a schema action the loser's would shadow")
    val loserTouch = scope.readFiles ++ removes ++ dvTargets
    val removed = winner.removes.filter(loserTouch)
    if (removed.nonEmpty)
      return Some(s"v$v removed files the loser read or rewrites " +
        s"(${removed.take(3).mkString(", ")}${if (removed.sizeIs > 3) ", …" else ""})")
    val wMasks = winner.dv.map(_._2).getOrElse(Seq.empty).filter(loserTouch)
    if (wMasks.nonEmpty)
      return Some(s"v$v masked rows in files the loser read or rewrites " +
        s"(${wMasks.take(3).mkString(", ")}${if (wMasks.sizeIs > 3) ", …" else ""})")
    if (scope.rowSelecting && winner.adds.nonEmpty) {
      // a layout rewrite re-homes rows that already existed at the
      // loser's base — every one of them lives in a file the rules
      // above adjudicated; only a commit that can introduce NEW rows
      // threatens a predicate/key-selecting loser
      val layoutOnly = winner.op == "optimize" || winner.op == "compact" ||
        winner.op == "purge"
      val partitionDisjoint = scope.partitionEq.nonEmpty &&
        winner.adds.forall(f => winner.parts.get(f).exists(pv =>
          scope.partitionEq.exists { case (c, pe) =>
            pv.get(c).exists(_ != pe)
          }))
      if (!layoutOnly && !partitionDisjoint)
        return Some(s"v$v added files that may hold rows matching the " +
          "loser's predicate")
    }
    None
  }

  /** Publish a DERIVED mutation with OPTIMISTIC CONCURRENCY: attempt
    * `baseVersion + 1`; on a lost version race, read the winners'
    * commits and — when every one is provably disjoint from this
    * mutation's declared [[DerivedScope]] — re-attempt at the new tip
    * WITHOUT re-running discovery or rewrites (the Delta commit
    * protocol: two UPDATEs on disjoint partitions both land,
    * serialized). Any non-disjoint winner keeps the loud-conflict
    * contract: staged files are cleaned up and the caller must
    * re-derive. At 100 TB this is the difference between "concurrent
    * maintenance and mutation work" and "one writer at a time":
    * discovery + rewrite cost O(touched data), the re-stamp costs one
    * metadata read per winner.
    */
  private[graft] def commitDerived(root: String, baseVersion: Long,
      adds: Seq[String], removes: Seq[String], op: String,
      scope: DerivedScope, staged: Seq[String],
      dv: Option[(String, Seq[String])] = None,
      parts: Map[String, Map[String, String]] = Map.empty,
      partCols: Seq[String] = Seq.empty,
      mergeKey: Option[String] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      knownMeta: Option[FileMeta] = None,
      knownRowsRemoved: Option[Long] = None): Long = {
    val dvTargets = dv.map(_._2).getOrElse(Seq.empty)
    // footer metadata computed once — the staged files are invariant
    // across re-stamps
    val meta = knownMeta.getOrElse(parquetMeta(root, adds))
    val rowsRemoved = knownRowsRemoved.getOrElse(recordedRows(root, removes))
    var base = baseVersion
    var attempts = 0
    val MaxRetries = 20
    def cleanupAndFail(e: Throwable, detail: String): Nothing = {
      staged.foreach(f => io(root).deleteIfExists(s"$root/$f"))
      throw new IllegalStateException(
        s"txlog conflict: $op on $root lost its version race and " +
          s"cannot be re-stamped ($detail); re-derive from the new " +
          "snapshot and retry", e)
    }
    while (true) {
      val next = base + 1
      try {
        writeCommit(root, next, adds, removes, op = op, dv = dv,
          parts = parts, partCols = partCols, mergeKey = mergeKey,
          schema = schema, knownMeta = Some(meta),
          knownRowsRemoved = Some(rowsRemoved))
        maybeAutoCheckpoint(root, next)
        return next
      } catch {
        case e: CommitConflict =>
          attempts += 1
          if (attempts > MaxRetries)
            cleanupAndFail(e, s"$MaxRetries consecutive races")
          // the analysis itself can fail transiently (a zero-byte tip
          // still flushing, a winner commit mid-publish, an
          // eventually-consistent store not listing the winner yet) —
          // retry it briefly with bounded backoff before converting a
          // benign race into a full re-derivation; the staged files
          // must not leak through that path either, and a final
          // analysis failure surfaces under the loud-conflict message
          // contract, not as a raw parse/listing error
          val AnalysisRetries = 4
          def analyzeOnce(): (Long, Option[String]) = {
            val vsNow = versionsOnDisk(root)
            val t = vsNow.lastOption.getOrElse(-1L)
            if (t < next)
              throw new IllegalStateException(
                "the winning commit is not visible in the listing yet")
            else (t, vsNow.filter(v => v >= next && v <= t)
              .iterator.map(commitEntry(root, _))
              .flatMap(w => conflictReason(root, w, removes, dvTargets,
                scope, schema.isDefined))
              .nextOption())
          }
          val (tip, reason) = {
            var out: Option[(Long, Option[String])] = None
            var tries = 0
            while (out.isEmpty) {
              try out = Some(analyzeOnce())
              catch {
                // only NON-fatal failures are retried: an OOM or an
                // interrupt must surface immediately (still cleaning
                // up the staged files), never be slept through
                case t if !scala.util.control.NonFatal(t) =>
                  staged.foreach(f => io(root).deleteIfExists(s"$root/$f"))
                  throw t
                case t: Throwable =>
                  tries += 1
                  if (tries > AnalysisRetries)
                    cleanupAndFail(t, "the conflict analysis failed " +
                      s"$tries times (${t.getMessage})")
                  try Thread.sleep(25L << tries)
                  catch {
                    case ie: InterruptedException =>
                      // restore the flag for the caller's own checks
                      Thread.currentThread().interrupt()
                      cleanupAndFail(ie,
                        "interrupted during conflict-analysis backoff")
                  }
              }
            }
            out.get
          }
          reason match {
            case Some(r) => cleanupAndFail(e, r)
            case None => base = tip // disjoint — serialize after them
          }
        case e: IllegalStateException =>
          staged.foreach(f => io(root).deleteIfExists(s"$root/$f"))
          throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The version-race signal: `version` was committed concurrently.
    * An [[IllegalStateException]] so existing loud-conflict handling
    * (and its "conflict" message contract) is unchanged; its own type
    * so the optimistic retry in [[commitDerived]] can catch EXACTLY
    * the race and never a genuine corruption error.
    */
  private[graft] final class CommitConflict(version: Long, cause: Throwable)
      extends IllegalStateException(
        s"txlog conflict: version $version was committed concurrently; " +
          "re-resolve the snapshot and retry", cause)

  private def publishCommit(root: String, version: Long,
                            json: String): Unit = {
    // exclusive, atomic publish — link(2) locally, exclusive
    // FileSystem.create on HDFS/object stores; see [[TxIo]]
    try io(root).putIfAbsent(commitPath(root, version), json)
    catch {
      case e: FileAlreadyExistsException =>
        throw new CommitConflict(version, e)
    }
  }

  /** One commit or checkpoint, fully parsed — every field any log
    * index reads. Parsed ONCE per on-disk file (see [[EntryCache]])
    * with a REAL JSON parser (Jackson, already on Spark's classpath):
    * the regex sweeps this replaces had to discriminate the
    * `stats`/`nstats`/`parts`/`cset`/`dvs` objects by body SHAPE,
    * which re-opened a collision audit every time the commit grammar
    * gained a key — structural parsing retires that risk class
    * entirely (the writer grammar stays hand-rolled and locked; only
    * the read side changed).
    */
  private[graft] final case class LogEntry(
      version: Long,
      op: String,
      adds: Seq[String],
      removes: Seq[String],
      rows: Option[Long],
      rowsRemoved: Option[Long],
      batchId: Option[Long],
      batchIds: Seq[Long],
      mergeKey: Option[String],
      schemaB64: Option[String],
      dv: Option[(String, Seq[String])],
      dvDrops: Seq[String],
      dvState: Seq[(String, Seq[String])],
      partCols: Option[Seq[String]],
      // the hidden partition-transform spec in force from this commit
      // on ([[PartitionTransforms]]) — like partCols, latest wins
      ptspec: Option[Seq[String]] = None,
      intStats: Map[String, Map[String, (Long, Long)]],
      strStats: Map[String, Map[String, (String, String)]],
      nstats: Map[String, (Long, Map[String, Long])],
      sizes: Map[String, Long],
      parts: Map[String, Map[String, String]],
      cset: Option[Map[String, String]],
      cname: Option[String],
      cexpr: Option[String],
      // live-set totals a columnar checkpoint records in its JSON
      // half, so the pruned planner answers sizeInBytes without a
      // sidecar scan
      tbytes: Option[Long] = None,
      tfiles: Option[Long] = None,
      // the (minReader, minWriter) protocol this commit demands of
      // every later reader/writer — the feature gate that makes the
      // otherwise-additive commit grammar SAFELY extensible
      protocol: Option[(Long, Long)] = None,
      columnar: Boolean = false,
      // the PUBLISH time of the on-disk file this entry parsed from
      // (the cache key's mtime) — the listing-free planner's
      // modification-time approximation for the entry's adds
      sourceMtime: Long = 0L)

  private val entryMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private[graft] def parseEntry(json: String): LogEntry = {
    import scala.jdk.CollectionConverters._
    import com.fasterxml.jackson.databind.JsonNode
    val n = entryMapper.readTree(json)
    require(n != null && n.isObject, "not a log entry (not a JSON object)")
    def field(k: String): Option[JsonNode] = Option(n.get(k))
    def strSeq(node: JsonNode): Seq[String] =
      node.elements().asScala.map(_.asText()).toSeq
    def strArr(k: String): Seq[String] =
      field(k).map(strSeq).getOrElse(Seq.empty)
    def longOpt(k: String): Option[Long] =
      field(k).filter(_.isNumber).map(_.asLong())
    def strOpt(k: String): Option[String] =
      field(k).filter(_.isTextual).map(_.asText())
    // stats: {"file":{"col":[mn,mx],...}} — int vs string told apart
    // by the VALUE type, not by body shape
    val intStats = Map.newBuilder[String, Map[String, (Long, Long)]]
    val strStats = Map.newBuilder[String, Map[String, (String, String)]]
    field("stats").foreach(_.properties().asScala.foreach { e =>
      val ints = Map.newBuilder[String, (Long, Long)]
      val strs = Map.newBuilder[String, (String, String)]
      e.getValue.properties().asScala.foreach { c =>
        val a = c.getValue
        if (a.isArray && a.size() == 2) {
          if (a.get(0).isTextual)
            strs += c.getKey -> (a.get(0).asText(), a.get(1).asText())
          else ints += c.getKey -> (a.get(0).asLong(), a.get(1).asLong())
        }
      }
      val (i, s) = (ints.result(), strs.result())
      if (i.nonEmpty) intStats += e.getKey -> i
      if (s.nonEmpty) strStats += e.getKey -> s
    })
    // nstats: {"file":{"#rows":N,"#bytes":B,"col":nulls,...}} — the
    // # markers are outside the column grammar; bytes feed the
    // listing-free planner, rows+cols the null-skipping index
    val nstats = Map.newBuilder[String, (Long, Map[String, Long])]
    val sizes = Map.newBuilder[String, Long]
    field("nstats").foreach(_.properties().asScala.foreach { e =>
      Option(e.getValue.get("#bytes")).filter(_.isNumber)
        .foreach(b => sizes += e.getKey -> b.asLong())
      val rows = Option(e.getValue.get("#rows")).map(_.asLong())
      rows.foreach { r =>
        val cols = e.getValue.properties().asScala
          .filter(c => !c.getKey.startsWith("#") && c.getValue.isNumber)
          .map(c => c.getKey -> c.getValue.asLong()).toMap
        nstats += e.getKey -> (r, cols)
      }
    })
    // parts: {"file":{"col":"value",...}}
    val parts = Map.newBuilder[String, Map[String, String]]
    field("parts").foreach(_.properties().asScala.foreach { e =>
      parts += e.getKey -> e.getValue.properties().asScala
        .filter(_.getValue.isTextual)
        .map(c => c.getKey -> c.getValue.asText()).toMap
    })
    val dv = strOpt("dv").map(p => (p, strArr("dvCovers")))
    val dvState = field("dvs").map(_.properties().asScala
      .map(e => e.getKey -> strSeq(e.getValue)).toSeq)
      .getOrElse(Seq.empty)
    val cset = field("cset").map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap)
    LogEntry(
      version = longOpt("v").getOrElse(
        throw new IllegalStateException("log entry without a version")),
      op = strOpt("op").getOrElse("unknown"),
      adds = strArr("adds"),
      removes = strArr("removes"),
      rows = longOpt("rows"),
      rowsRemoved = longOpt("rowsRemoved"),
      batchId = longOpt("batchId"),
      batchIds = field("batchIds").map(
        _.elements().asScala.map(_.asLong()).toSeq).getOrElse(Seq.empty),
      mergeKey = strOpt("mergeKey"),
      schemaB64 = strOpt("schema"),
      dv = dv,
      dvDrops = strArr("dvDrops"),
      dvState = dvState,
      partCols = field("partCols").map(strSeq).filter(_.nonEmpty),
      ptspec = field("ptspec").map(strSeq).filter(_.nonEmpty),
      intStats = intStats.result(),
      strStats = strStats.result(),
      nstats = nstats.result(),
      sizes = sizes.result(),
      parts = parts.result(),
      cset = cset,
      cname = strOpt("cname"),
      cexpr = strOpt("cexpr"),
      tbytes = longOpt("tbytes"),
      tfiles = longOpt("tfiles"),
      protocol = field("protocol").filter(_.isObject).map { p =>
        def v(k: String): Long = Option(p.get(k)).filter(_.isNumber)
          .map(_.asLong()).getOrElse(1L)
        (v("r"), v("w"))
      },
      columnar = {
        // FORMAT COMPATIBILITY RULE: `cpq` versions the columnar-
        // checkpoint layout. A reader must refuse a cpq it does not
        // understand — treating an unknown-format checkpoint as a
        // plain JSON one would replay it with an EMPTY live set
        // (silent data loss), and guessing at the sidecar layout
        // could misread stats. Writers may bump cpq only together
        // with a reader that understands both the new version and
        // every older one.
        val cpq = longOpt("cpq")
        cpq.filter(_ != 1L).foreach { q =>
          throw new IllegalStateException(
            s"unsupported checkpoint format cpq=$q: this reader " +
              "understands cpq=1 only; refusing to misread a newer " +
              "checkpoint — upgrade the reader binary (a rolled-back " +
              "binary must never plan through a newer sidecar)")
        }
        cpq.contains(1L)
      })
  }

  /** Parsed-entry cache. Commits and checkpoints are IMMUTABLE once
    * published (exclusive create; quarantined claims are renamed, not
    * rewritten), so a parsed entry can be reused for the process
    * lifetime — planning a table version twice must not re-read and
    * re-parse the same checkpoint twice. Keys carry the file's
    * (size, mtime) identity, so the rare legitimate same-path content
    * change — a table root deleted and recreated, a test corrupting a
    * commit in place — misses the cache instead of serving stale
    * state. LRU-bounded: a long-lived session touching thousands of
    * tables evicts the cold entries, and the hot entry (the current
    * checkpoint) stays resident.
    */
  private final case class EntryKey(path: String, size: Long, mtime: Long)

  private object EntryCache {
    // WEIGHT-bounded, not count-bounded: one columnar-checkpoint entry
    // for a 100k-file table holds maps tens of MB large — a count
    // bound would hoard checkpoint-class entries until the driver
    // OOMs. The weight counts EVERY map entry the LogEntry holds,
    // nested per-column entries included (a wide-schema checkpoint
    // entry weighs its stats bodies, not just its file count), so the
    // bound tracks actual heap, bounded to a small fraction of driver
    // heap.
    private val MaxWeight = 4L << 20 // ~4M map entries ≈ a few hundred MB
    private var weight = 0L
    private val map =
      new java.util.LinkedHashMap[EntryKey, LogEntry](256, 0.75f, true)
    private val hitCount = new java.util.concurrent.atomic.AtomicLong
    private val missCount = new java.util.concurrent.atomic.AtomicLong
    private val evictCount = new java.util.concurrent.atomic.AtomicLong
    private val log = org.slf4j.LoggerFactory.getLogger("graft.ops.TxLog")
    private def nested[A](m: Map[String, Map[String, A]]): Long =
      m.size.toLong + m.valuesIterator.map(_.size.toLong).sum
    private def weightOf(e: LogEntry): Long =
      16L + e.adds.size + e.removes.size +
        nested(e.intStats) + nested(e.strStats) + nested(e.parts) +
        e.nstats.size +
        e.nstats.valuesIterator.map(_._2.size.toLong).sum +
        e.sizes.size
    def get(key: EntryKey)(load: => LogEntry): LogEntry = {
      val hit = map.synchronized(map.get(key))
      if (hit != null) { hitCount.incrementAndGet(); hit }
      else {
        missCount.incrementAndGet()
        val v = load
        map.synchronized {
          val prev = map.put(key, v)
          if (prev != null) weight -= weightOf(prev)
          weight += weightOf(v)
          val it = map.entrySet().iterator()
          while (weight > MaxWeight && it.hasNext) {
            val eldest = it.next()
            if (!(eldest.getKey eq key)) {
              weight -= weightOf(eldest.getValue)
              it.remove()
              // eviction must not be silent: a workload cycling more
              // hot checkpoint state than the weight bound holds will
              // thrash re-parses — surface the churn so the operator
              // sees it (and CALL ...cache_stats() quantifies it)
              val n = evictCount.incrementAndGet()
              if (n == 1L || n % 1024L == 0L)
                log.warn(s"txlog entry cache evicted $n entries so " +
                  "far; hot metadata exceeds the cache weight bound " +
                  "and planning is re-parsing checkpoints — consider " +
                  "fewer concurrently planned tables or more frequent " +
                  "vacuum/checkpoints")
            }
          }
        }
        v
      }
    }
    def invalidatePrefix(prefix: String): Unit = map.synchronized {
      val it = map.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.path.startsWith(prefix)) {
          weight -= weightOf(e.getValue)
          it.remove()
        }
      }
    }
    def stats: (Long, Long, Long) =
      (hitCount.get(), missCount.get(), evictCount.get())
    def clear(): Unit = map.synchronized { map.clear(); weight = 0L }
  }

  /** Test seam: drop every cached parsed entry. */
  private[graft] def clearEntryCache(): Unit = EntryCache.clear()

  /** Entry-cache (hits, misses, evictions) since process start — the
    * planning-path health signal (`CALL ...system.cache_stats()`): a
    * rising eviction count means hot checkpoint state exceeds the
    * cache's weight bound and plans are re-parsing metadata.
    */
  def entryCacheStats: (Long, Long, Long) = EntryCache.stats

  /** INVALIDATION CONTRACT of the parsed-entry cache: entries are
    * keyed by (path, size, mtime), which commits' and checkpoints'
    * publish-once immutability makes a sound identity — EXCEPT when a
    * table root is recreated in place without [[init]] (restored from
    * a backup, rewritten by an external tool) on a store whose mtime
    * granularity cannot distinguish the two incarnations. Any such
    * path must call this before reading, exactly as [[init]] does
    * internally; otherwise reads may serve the previous incarnation's
    * parsed state.
    */
  def invalidateCaches(root: String): Unit = {
    EntryCache.invalidatePrefix(logDir(root))
    // the sidecar row-count / byte-total caches share the (path,
    // size, mtime) identity and the same recreate-in-place caveat
    val prefix = logDir(root)
    sidecarRowCache.keySet.removeIf(_.path.startsWith(prefix)): Unit
    sidecarByteCache.keySet.removeIf(_.path.startsWith(prefix)): Unit
  }

  private def entryKey(root: String, path: String): EntryKey =
    EntryKey(path, io(root).size(path), io(root).mtime(path))

  private[graft] def commitEntry(root: String, v: Long): LogEntry = {
    val p = commitPath(root, v)
    val key = entryKey(root, p)
    EntryCache.get(key)(
      parseEntry(io(root).read(p)).copy(sourceMtime = key.mtime))
  }

  private def checkpointEntry(root: String, v: Long): LogEntry = {
    val p = checkpointPath(root, v)
    val key = entryKey(root, p)
    EntryCache.get(key)(
      loadCheckpoint(root, v).copy(sourceMtime = key.mtime))
  }

  /** The checkpoint's JSON HALF alone — table-level state (schema,
    * constraints, DV state, batch ids, partition columns) without
    * touching the per-file sidecar. Every metadata-only reader goes
    * through this: resolving a million-file table's SCHEMA must never
    * force the million-row sidecar onto the driver. Cached under its
    * own key (`#json` suffix — the same invalidatePrefix sweeps both).
    */
  private def checkpointJsonEntry(root: String, v: Long): LogEntry = {
    val p = checkpointPath(root, v)
    val k0 = entryKey(root, p)
    EntryCache.get(k0.copy(path = p + "#json"))(
      parseEntry(io(root).read(p)).copy(sourceMtime = k0.mtime))
  }

  /** Everything the PRUNED planning path needs without materializing
    * the live set: the resolved version, its base checkpoint, the
    * parsed suffix commits after it, the active DV sidecars (folded
    * from the checkpoint's JSON-half DV state + suffix — the live
    * set is not needed for mask retirement inside the suffix), and
    * the sidecar's row count.
    */
  private[graft] final case class PrunedPlanInfo(
      version: Long,
      cp: Long,
      cpMtime: Long,
      suffix: Seq[LogEntry],
      dvFiles: Seq[String],
      sidecarRows: Long)

  /** The active deletion-vector state at the end of `suffix`, folded
    * from a checkpoint's JSON-half carry WITHOUT the live set: inside
    * the suffix only removes / dvDrops / dv / dvState change it — the
    * same transitions [[applyEntryToState]] makes, minus the live
    * half the pruned paths exist to avoid materializing. Covers come
    * back sorted (the checkpoint-JSON shape).
    */
  private def dvStateFold(jsonE: LogEntry, suffix: Seq[LogEntry])
      : Seq[(String, Seq[String])] = {
    val dvs =
      scala.collection.mutable.LinkedHashMap.empty[String, Set[String]]
    jsonE.dvState.foreach { case (p, cov) => dvs(p) = cov.toSet }
    suffix.foreach { e =>
      e.removes.foreach { r =>
        if (dvs.nonEmpty) {
          dvs.mapValuesInPlace((_, cov) => cov - r)
          dvs.filterInPlace((_, cov) => cov.nonEmpty): Unit
        }
      }
      e.dvDrops.foreach(p => dvs -= p)
      e.dv.foreach { case (p, cov) =>
        dvs(p) = dvs.getOrElse(p, Set.empty) ++ cov
      }
      e.dvState.foreach { case (p, cov) => dvs(p) = cov.toSet }
    }
    dvs.toSeq.map { case (p, cov) => p -> cov.toSeq.sorted }
  }

  /** The pruned-plan decision: Some when `root`@`version` bases on a
    * COLUMNAR checkpoint whose sidecar holds at least `threshold`
    * rows (the scale at which whole-sidecar driver materialization
    * stops being acceptable) — None sends the caller down the
    * ordinary eager path. Cost: one footer read + O(suffix) cached
    * commit parses; the sidecar itself is NOT read here.
    */
  private[graft] def prunedPlanInfo(root: String, version: Option[Long],
                                    threshold: Long)
      : Option[PrunedPlanInfo] = {
    if (threshold <= 0) return None
    val vs = versionsOnDisk(root)
    if (vs.isEmpty) return None
    val upTo = version.getOrElse(vs.max)
    if (!vs.contains(upTo)) return None
    val cp = checkpointsOnDisk(root).filter(_ <= upTo).lastOption
      .filter(c => io(root).exists(checkpointSidecarPath(root, c)))
    cp.flatMap { c =>
      // threshold first, from the sidecar FOOTER alone: the common
      // small-table plan decides "eager" without even reading the
      // checkpoint JSON
      val n = sidecarRowCount(root, c)
      if (n < threshold) None
      else {
        val jsonE = checkpointJsonEntry(root, c)
        if (!jsonE.columnar) None
        else {
          checkProtocolRead(root, upTo)
          val suffix = vs.filter(v => v <= upTo && v > c)
            .map(commitEntry(root, _))
          Some(PrunedPlanInfo(upTo, c,
            io(root).mtime(checkpointPath(root, c)), suffix,
            dvStateFold(jsonE, suffix).map(_._1), n))
        }
      }
    }
  }

  /** Fold one log entry into the running (live set, active DVs)
    * state — the single replay step [[resolveState]] and the CDC
    * fold share. Action order matters and matches commit semantics:
    * removes retire mask coverage, a restore's dvDrops deactivate
    * BEFORE its dvState republishes (a path may be in both —
    * drop-then-set replaces), adds land, then the entry's own DV
    * action and carried DV state apply.
    */
  private def applyEntryToState(
      live: scala.collection.mutable.LinkedHashSet[String],
      dvs: scala.collection.mutable.LinkedHashMap[String, Set[String]],
      e: LogEntry): Unit = {
    e.removes.foreach { r =>
      live -= r
      if (dvs.nonEmpty) {
        dvs.mapValuesInPlace((_, cov) => cov - r)
        dvs.filterInPlace((_, cov) => cov.nonEmpty): Unit
      }
    }
    e.dvDrops.foreach(p => dvs -= p)
    e.adds.foreach(live += _)
    e.dv.foreach { case (p, cov) =>
      dvs(p) = dvs.getOrElse(p, Set.empty) ++ cov
    }
    e.dvState.foreach { case (p, cov) => dvs(p) = cov.toSet }
  }

  /** Full replay state at `upTo`: the live file set plus the active
    * deletion vectors with their still-live covers. A DV is retired the
    * moment its last covered file is rewritten out of the live set
    * (compaction / optimize / copy-on-write delete) — the rewrite read
    * applied the mask, so the survivors no longer need it.
    */
  private def resolveState(root: String, upTo: Long)
      : (Seq[String], Seq[(String, Seq[String])]) = {
    val vs = versionsOnDisk(root)
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    val dvs =
      scala.collection.mutable.LinkedHashMap.empty[String, Set[String]]
    val cp = checkpointsOnDisk(root).filter(_ <= upTo).lastOption
    cp.foreach(c => applyEntryToState(live, dvs, checkpointEntry(root, c)))
    vs.filter(v => v <= upTo && cp.forall(v > _))
      .foreach(v => applyEntryToState(live, dvs, commitEntry(root, v)))
    (live.toSeq, dvs.toSeq.map { case (p, cov) => p -> cov.toSeq.sorted })
  }

  /** Resolve the file set at `version` (latest when None): start from
    * the newest checkpoint at or below it (a [[vacuum]] writes one
    * before truncating the log, so the replay prefix is always
    * complete), then replay the commits after it.
    */
  def resolve(root: String, version: Option[Long] = None): Snapshot = {
    val vs = versionsOnDisk(root)
    require(vs.nonEmpty, s"txlog at $root has no commits")
    val upTo = version.getOrElse(vs.max)
    require(vs.contains(upTo), s"version $upTo not in txlog (have $vs)")
    checkProtocolRead(root, upTo)
    val (files, dvs) = resolveState(root, upTo)
    Snapshot(upTo, files, dvs.map(_._1))
  }

  private def fileNameOf(rel: String): String =
    rel.substring(rel.lastIndexOf('/') + 1)

  /** The union of the given deletion vectors as (file-name, position)
    * rows, de-duplicated — two DVs may mask the same row (idempotent
    * re-delete), and the mask is a set.
    */
  private def dvEntries(spark: SparkSession, root: String,
                        dvFiles: Seq[String]): DataFrame =
    spark.read.parquet(dvFiles.map(f => s"$root/$f"): _*)
      .select(col("file"), col("pos")).distinct()

  /** Apply a deletion-vector mask to a parquet SCAN (the frame must
    * still expose `_metadata` — call this directly on the read, before
    * any join/aggregate): anti-join on (file name, row position),
    * keyed by name because data-file names are UUID-unique and the
    * name dodges file-URI scheme variance. The DV side is broadcast:
    * its cardinality is rows logically deleted but not yet compacted
    * away, which the table's OPTIMIZE/compaction cadence bounds — a
    * mask too big to broadcast means compaction is overdue (the same
    * memory pressure a per-file DV bitmap reader has). Entries for
    * files outside the scan simply never match. `keepKeys = true`
    * leaves the `__dv_f`/`__dv_p` key columns on the output for
    * callers that need the surviving rows' positions.
    */
  /** The mask-size guard READ paths run before broadcasting a mask:
    * the broadcast is bounded by rows deleted-but-not-yet-purged, so
    * make the bound LOUD before it becomes a broadcast failure. Row
    * counts come from the sidecar FOOTERS (KB metadata reads, no job);
    * `spark.graft.dv.maxRows` turns the warning into a hard gate.
    * Maintenance paths (purgeMasks, compaction, rewrites) bypass it —
    * they ARE the remedy and must stay runnable past the threshold.
    */
  private[graft] def dvGuard(spark: SparkSession, root: String,
                             dvFiles: Seq[String]): Unit = {
    if (dvFiles.isEmpty) return
    val maskRows = parquetRows(root, dvFiles)
    spark.conf.getOption("spark.graft.dv.maxRows").map(_.toLong)
      .filter(maskRows > _).foreach { m =>
        throw new IllegalStateException(
          s"table at $root carries $maskRows un-purged deletion-" +
            s"vector rows (> spark.graft.dv.maxRows = $m); run " +
            "TxLog.purgeMasks (or compact/optimize) to retire masks " +
            "before reading")
      }
    val warnAt = spark.conf.getOption("spark.graft.dv.warnRows")
      .map(_.toLong).getOrElse(10000000L)
    if (maskRows > warnAt)
      org.slf4j.LoggerFactory.getLogger("graft.ops.TxLog").warn(
        s"table at $root carries $maskRows un-purged deletion-vector " +
          s"rows (warn threshold $warnAt); reads broadcast the mask — " +
          "schedule TxLog.purgeMasks or a compaction")
  }

  private[graft] def applyDvMask(spark: SparkSession, root: String,
                                 scan: DataFrame, dvFiles: Seq[String],
                                 keepKeys: Boolean = false,
                                 guard: Boolean = false): DataFrame = {
    def keyed(df: DataFrame): DataFrame = df
      .withColumn("__dv_f",
        element_at(split(col("_metadata.file_path"), "/"), -1))
      .withColumn("__dv_p", col("_metadata.row_index"))
    if (dvFiles.isEmpty) {
      if (keepKeys) keyed(scan) else scan
    } else {
      if (guard) dvGuard(spark, root, dvFiles)
      val dv = dvEntries(spark, root, dvFiles)
        .withColumnRenamed("file", "__dv_file")
        .withColumnRenamed("pos", "__dv_pos")
      val left = keyed(scan)
      val res = left.join(broadcast(dv),
        left("__dv_f") === dv("__dv_file") &&
          left("__dv_p") === dv("__dv_pos"),
        "left_anti")
      if (keepKeys) res else res.drop("__dv_f", "__dv_p")
    }
  }

  /** Read the table at `version` (latest when None) — time travel.
    * A fully-deleted snapshot has no files to infer a schema from, so
    * reading one is a loud error rather than a guessed-schema empty
    * frame. Deletion-vector masks active at that version are applied
    * transparently ([[applyDvMask]]).
    */
  def snapshot(spark: SparkSession, root: String,
               version: Option[Long] = None): DataFrame =
    snapshotImpl(spark, root, version, guard = true)

  /** [[snapshot]] with the DV-size guard optional: maintenance paths
    * (compaction, optimize, constraint validation) must stay runnable
    * past the guard threshold — they are the remedy.
    */
  private def snapshotImpl(spark: SparkSession, root: String,
                           version: Option[Long],
                           guard: Boolean): DataFrame =
    snapshotOfSnap(spark, root, resolve(root, version), guard)

  /** [[snapshotImpl]] over an ALREADY-resolved snapshot — the CDC fold
    * derives per-commit snapshots incrementally and must not pay a
    * fresh log replay to read each one.
    */
  private def snapshotOfSnap(spark: SparkSession, root: String,
                             snap: Snapshot, guard: Boolean): DataFrame = {
    require(snap.files.nonEmpty,
      s"version ${snap.version} of $root has no live files")
    // mergeSchema: commits may evolve the schema (append with new
    // columns); older files read the missing columns as null. At
    // production scale the merged schema would live IN the log
    // (Delta's metadata action) instead of being re-derived from
    // footers — the semantics are the same
    val masked = applyDvMask(spark, root,
      readRawFiles(spark, root, snap.files.map(f => s"$root/$f"),
        Some(snap.version)),
      snap.dvFiles, guard = guard)
    // a LOG-recorded column no live file carries yet (ALTER TABLE ADD
    // COLUMN before any data supplies it; a delete that retired every
    // file holding it) reads as NULL here exactly as it does through
    // the connector — alignment only ADDS columns, never drops or
    // reorders (a type-conflicted batch records no action, so the
    // footer view may legitimately be wider)
    tableSchema(root, Some(snap.version)) match {
      // mapping mode projects EXACTLY the logical schema (physical ->
      // logical rename + null-fill) so dropped columns' stored bytes
      // never resurface; unmapped tables keep the additive alignment
      case Some(st) if mappingMode(st) => projectLogical(masked, st)
      case Some(st) => alignToSchema(masked, st.fields.toSeq)
      case None => masked
    }
  }

  /** The log-recorded table schema in force at `version` (the tip when
    * None): the newest `schema` action at or below it, from commits or
    * checkpoint carry — ONE log read instead of a footer sweep of
    * every live file, which at 100 TB is the planning bottleneck this
    * action exists to remove (Delta's metadata action). None on tables
    * whose commits predate schema recording — readers fall back to the
    * footer-merged schema.
    */
  def tableSchema(root: String, version: Option[Long] = None)
      : Option[org.apache.spark.sql.types.StructType] = {
    val vs = versionsOnDisk(root)
    val cps = checkpointsOnDisk(root)
    if (vs.isEmpty && cps.isEmpty) return None
    val upTo = version.getOrElse((vs ++ cps).max)
    // newest action wins, and the backward commit scan STOPS at the
    // newest checkpoint (which carries the action): a long run of
    // maintenance commits (delete/compact/optimize record no schema)
    // must not cost O(versions) log reads per append attempt or
    // connector read — the checkpoint is the backstop
    val cp = cps.filter(_ <= upTo).lastOption
    val fromSuffix = vs.filter(v => v <= upTo && cp.forall(v > _))
      .reverse.iterator
      .map(v => commitEntry(root, v).schemaB64)
      .collectFirst { case Some(b) => b }
    val b64 = fromSuffix
      .orElse(cp.flatMap(c => checkpointJsonEntry(root, c).schemaB64))
      .orElse {
        // a checkpoint written before schema carry existed records no
        // action — fall back to the (still on-disk) commits below it
        cp.flatMap(c => vs.filter(_ <= c).reverse.iterator
          .map(v => commitEntry(root, v).schemaB64)
          .collectFirst { case Some(b) => b })
      }
    b64.map { s =>
      org.apache.spark.sql.types.DataType.fromJson(
        new String(java.util.Base64.getDecoder.decode(s),
          java.nio.charset.StandardCharsets.UTF_8))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }
  }

  /** Everything nullable at the top level — the shape a footer-merged
    * schema has (schema evolution means any file may lack any column),
    * so the recorded schema and the fallback agree.
    */
  private def asNullable(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      st.fields.map(_.copy(nullable = true)))

  /** `graft.physical` stripped from every field: an EXTERNALLY
    * supplied schema (a batch's `df.schema`, an overwrite's new shape)
    * may carry column-mapping metadata copied from some OTHER mapped
    * table the frame was read from. Recording it verbatim would bind
    * this table's logical names to physical parquet names its own
    * files never stored — the files hold the frame's LOGICAL names —
    * and the mapped column would silently read NULL everywhere (data
    * loss). Mapping metadata is trusted only when it originates from
    * THIS table's own recorded schema (rename/drop/addColumns stamp
    * it themselves).
    */
  private def stripMapping(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    if (!mappingMode(st)) st
    else org.apache.spark.sql.types.StructType(st.fields.map { f =>
      if (!f.metadata.contains(PhysicalNameKey)) f
      else f.copy(metadata = new org.apache.spark.sql.types
        .MetadataBuilder().withMetadata(f.metadata)
        .remove(PhysicalNameKey).build())
    })

  /** The schema a data commit records: the previously recorded schema
    * widened by the batch's NEW columns (parquet-mergeSchema's
    * top-level semantics; the schema never shrinks — Delta's
    * contract). A same-name type conflict records nothing, so readers
    * fall back to the footer sweep rather than trust a wrong action.
    * The batch side is mapping-stripped ([[stripMapping]]): only the
    * table's OWN recorded schema may speak for its physical layout.
    */
  private def mergedSchemaFor(root: String,
                              batch: org.apache.spark.sql.types.StructType)
      : Option[org.apache.spark.sql.types.StructType] = {
    val b = asNullable(stripMapping(batch))
    tableSchema(root) match {
      case None => Some(b)
      case Some(prev) =>
        val conflict = b.fields.exists(f =>
          prev.fields.exists(g => g.name == f.name &&
            g.dataType != f.dataType))
        if (conflict) None
        else Some(org.apache.spark.sql.types.StructType(prev.fields ++
          b.fields.filterNot(f => prev.fieldNames.contains(f.name))))
    }
  }

  /** Stage `df` as new immutable data files and return their relative
    * paths (not yet visible — publish via a commit).
    */
  private def stage(spark: SparkSession, root: String,
                    df: DataFrame, prep: Boolean = true): Seq[String] = {
    val uid = UUID.randomUUID().toString.take(8)
    val tmp = s"$root/_staged-$uid"
    (if (prep) stagePrep(root, df) else df).write.parquet(tmp)
    // zero-row task files (empty input partitions, a survivor rewrite
    // that kept nothing) are never published: at scale they are pure
    // listing/footer noise, and a delete of EVERY row should leave a
    // version with no live files, not one junk file
    val parts = io(root).list(tmp)
      .filter(_.endsWith(".parquet")).sorted
      .filter(p => parquetRows(root, Seq(s"_staged-$uid/$p")) > 0)
    val rels = parts.zipWithIndex.map { case (p, i) =>
      val rel = f"data/part-$uid-$i%05d.parquet"
      io(root).move(s"$tmp/$p", s"$root/$rel")
      rel
    }
    // the staging dir (with its _SUCCESS marker) is bookkeeping only
    io(root).list(tmp).foreach(n => io(root).delete(s"$tmp/$n"))
    io(root).delete(tmp)
    rels
  }

  /** The commit-retry loop of every writer that does not derive from a
    * snapshot (appends, streaming commits, metadata commits): `write`
    * publishes at the next version after the tip. A lost version race
    * runs `revalidate` and retries at the advanced tip. The 1000th race
    * (a pathological conflict stream must not spin forever) or any
    * other [[IllegalStateException]] (a protocol refusal, a corruption
    * error — retrying cannot fix it) removes the `staged` files and
    * fails. `replayed` is checked before each attempt: true drops the
    * staged files and commits nothing (None).
    */
  private def commitAtTip(root: String, op: String, staged: Seq[String],
                          revalidate: () => Unit = () => (),
                          replayed: () => Boolean = () => false)(
      write: Long => Unit): Option[Long] = {
    def dropStaged(): Unit =
      staged.foreach(f => io(root).deleteIfExists(s"$root/$f"))
    var out: Option[Option[Long]] = None
    var races = 0
    while (out.isEmpty) {
      val next = versionsOnDisk(root).lastOption.map(_ + 1).getOrElse(0L)
      if (replayed()) {
        dropStaged()
        out = Some(None)
      } else
        try {
          write(next)
          out = Some(Some(next))
        } catch {
          case e: CommitConflict =>
            races += 1
            if (races >= 1000) {
              dropStaged()
              throw new IllegalStateException(
                s"txlog $op at $root lost $races version races; giving up",
                e)
            }
            revalidate()
          case e: IllegalStateException =>
            dropStaged()
            throw e
        }
    }
    out.get.foreach(maybeAutoCheckpoint(root, _))
    out.get
  }

  /** Append `df` as a new version; returns the committed version.
    *
    * Appends never conflict SEMANTICALLY — two racing writers just
    * need distinct version slots. So the data is staged ONCE and the
    * commit retries at the advanced tip when it loses a version race
    * (the same loop [[commitBatch]] runs); mutations that DERIVE from
    * a snapshot (delete/upsert/compact/optimize) still fail loudly on
    * conflict, because their file sets may be stale — the caller must
    * re-derive, not re-stamp.
    */
  def append(spark: SparkSession, root: String, df: DataFrame): Long = {
    val adds = stage(spark, root, df)
    validateStaged(spark, root, adds, "append")
    val meta = parquetMeta(root, adds)
    // the commit that beat us may have been set-constraint: the gate
    // must hold for the version this batch will actually land at, not
    // the one it was first validated against
    commitAtTip(root, "append", adds,
        () => validateStaged(spark, root, adds, "append")) { next =>
      // merged schema recomputed per attempt: the commit that beat us
      // may have widened it
      writeCommit(root, next, adds, Seq.empty, op = "append",
        knownMeta = Some(meta), knownRowsRemoved = Some(0L),
        schema = mergedSchemaFor(root, df.schema))
    }.get
  }

  /** Append `df` HIVE-PARTITIONED by `partCols`: data files land under
    * `data/<col>=<value>/...`, the commit records each file's partition
    * values (and the table's partition columns) in the log, and
    * [[snapshotPartition]] / the `graft-table` connector prune whole
    * partitions FROM THE LOG before any listing — the Delta partition
    * shape. Two deliberate deviations from Hive, both scale-motivated:
    *
    *  - the partition columns STAY IN THE DATA FILES (the write
    *    partitions by hidden duplicates that `partitionBy` consumes),
    *    so every reader — snapshot, CDC, clone, a rewrite — reads a
    *    self-contained file with no partition-value reconstruction,
    *    and the per-file footer stats (min = max = value) make the
    *    partition prunable through the ORDINARY stats index too. A
    *    near-constant column is run-length dictionary noise on disk;
    *  - NULL partition values are rejected loudly (no
    *    `__HIVE_DEFAULT_PARTITION__`) — the log's path grammar could
    *    not round-trip them.
    *
    * Later rewrites (delete survivors, compaction) stage plain files;
    * their outputs simply carry no partition metadata — conservative
    * reads, never wrong ones. Returns the committed version.
    */
  def appendPartitioned(spark: SparkSession, root: String, df: DataFrame,
                        partCols: Seq[String]): Long = {
    require(partCols.nonEmpty, "appendPartitioned: empty partition cols")
    require(partitionTransforms(root).isEmpty,
      s"$root is partitioned by hidden transforms " +
        s"(${partitionTransforms(root).mkString(", ")}) — append " +
        "through appendTransformPartitioned so the layout stays " +
        "transform-pure")
    val moved = stagePartitioned(spark, root, df, partCols)
    val adds = moved.map(_._1)
    validateStaged(spark, root, adds, "partitioned append")
    val meta = parquetMeta(root, adds)
    commitAtTip(root, "partitioned append", adds,
        () => validateStaged(spark, root, adds, "partitioned append")) {
      next =>
        writeCommit(root, next, adds, Seq.empty, op = "append",
          knownMeta = Some(meta), knownRowsRemoved = Some(0L),
          parts = moved.toMap, partCols = partCols,
          schema = mergedSchemaFor(root, df.schema))
    }.get
  }

  /** Append `df` partitioned by HIDDEN TRANSFORMS of its own columns
    * ([[PartitionTransforms]] — `days(ts)`, `hours(ts)`,
    * `bucket(n,col)`, `truncate(w,col)`): the derived value
    * partitions the layout and is recorded per file like any
    * partition value, but it never appears in the table's logical
    * schema — queries keep filtering on the SOURCE column, and the
    * planner rewrites those filters into partition predicates at file-
    * skipping time (Iceberg's hidden partitioning, over the graft
    * log). `bucket` is the piece plain stats cannot replace: equality
    * pruning on a high-cardinality key whose per-file `[min,max]`
    * spans everything.
    *
    * The first transform append stamps the recorded schema into
    * column-mapping mode (identity mapping): the recorded schema —
    * not a footer merge — becomes the read authority, which is what
    * keeps the hidden column out of every read path (snapshot, SQL,
    * CDC, clone) without a special case per reader. The mapping-mode
    * write contract applies from then on: new columns arrive via
    * ALTER TABLE ADD COLUMN, not implicitly.
    *
    * The spec is declared on the first transform append and recorded
    * in the log (`ptspec`, checkpoint-carried); later appends either
    * repeat it verbatim or pass Nil to inherit. Changing the spec
    * refuses — partition-spec EVOLUTION is deliberately out of scope
    * (files from two specs would need per-file spec tracking to prune
    * correctly; Iceberg carries a spec-id per manifest for this).
    * Transform SOURCE columns can never be renamed or dropped
    * ([[renameColumn]]/[[dropColumns]] refuse by name), so the
    * recorded spec strings stay bindable forever. NULL source values
    * refuse loudly (a hidden partition value must exist for every
    * row). Returns the committed version.
    */
  def appendTransformPartitioned(spark: SparkSession, root: String,
                                 df: DataFrame,
                                 specs: Seq[String] = Seq.empty): Long = {
    require(partitionColumns(root).isEmpty ||
        partitionTransforms(root).nonEmpty,
      s"$root is identity-partitioned by " +
        s"(${partitionColumns(root).mkString(", ")}) — transform " +
        "partitioning cannot be layered onto it")
    val existing = partitionTransforms(root)
    val canonical =
      specs.map(s => PartitionTransforms.parse(s).spec)
    val declared =
      if (canonical.isEmpty) existing
      else {
        require(existing.isEmpty || existing == canonical,
          s"$root is already partitioned by " +
            s"(${existing.mkString(", ")}); re-declaring " +
            s"(${canonical.mkString(", ")}) would mix two layouts — " +
            "partition-spec evolution is not supported")
        canonical
      }
    require(declared.nonEmpty,
      "appendTransformPartitioned: no transform spec declared and " +
        s"none recorded for $root")
    val ts = declared.map(PartitionTransforms.parse)
    ts.foreach { t =>
      require(df.columns.contains(t.source),
        s"transform source column ${t.source} not in " +
          df.columns.mkString(", "))
      PartitionTransforms.validate(t,
        df.schema(t.source).dataType)
      require(!df.columns.contains(t.hiddenName),
        s"column ${t.hiddenName} collides with the hidden partition " +
          s"column of ${t.spec} — rename it")
      // a NULL source cannot produce a partition value; refuse with
      // the column named instead of stagePartitioned's generic
      // NULL-partition error
      require(safeColName(t.source),
        s"unsafe transform source column: ${t.source}")
    }
    val derive = ts.map(t =>
      t.hiddenName -> PartitionTransforms.column(t,
        df.schema(t.source).dataType))
    val moved = stagePartitioned(spark, root, df,
      ts.map(_.hiddenName), derive)
    val adds = moved.map(_._1)
    validateStaged(spark, root, adds, "transform-partitioned append")
    val meta = parquetMeta(root, adds)
    commitAtTip(root, "transform append", adds,
        () => validateStaged(spark, root, adds,
          "transform-partitioned append")) { next =>
      writeCommit(root, next, adds, Seq.empty, op = "append",
        knownMeta = Some(meta), knownRowsRemoved = Some(0L),
        parts = moved.toMap, partCols = ts.map(_.hiddenName),
        ptspec = declared,
        // mapping mode from the first transform commit: the recorded
        // schema is the read authority, the hidden column invisible on
        // every path
        schema = mergedSchemaFor(root, df.schema).map(stampPhysical))
    }.get
  }

  /** Stage `df` hive-partitioned by `partCols` under `data/` and
    * return each published file with its partition values — the
    * staging step [[appendPartitioned]] and the partitioned row-delta
    * adoption ([[commitRowDelta]]) share, so every write path of a
    * partitioned table produces PARTITION-PURE, log-annotated files
    * and partition pruning never degrades across mutations. Zero-row
    * task files are dropped; NULL partition values are rejected
    * loudly (the log's path grammar cannot round-trip them).
    */
  private def stagePartitioned(spark: SparkSession, root: String,
                               df: DataFrame, partCols: Seq[String],
                               derive: Seq[(String, org.apache.spark.sql
                                 .Column)] = Seq.empty)
      : Seq[(String, Map[String, String])] = {
    partCols.foreach { c =>
      require(safeColName(c), s"unsafe partition column: $c")
      require(df.columns.contains(c) || derive.exists(_._1 == c),
        s"partition column $c not in ${df.columns.mkString(", ")}")
    }
    val uid = UUID.randomUUID().toString.take(8)
    val tmp = s"$root/_staged-$uid"
    val dups = partCols.map(c => s"__pc_$c")
    // mapping prep first: partition columns are never renameable, so
    // their names (and the hidden __pc_ duplicates) are unaffected.
    // DERIVED columns (hidden partition transforms) are computed
    // after prep — they are not part of the batch's logical schema,
    // so stagePrep's mapping-mode evolution guard never sees them
    val derived = derive.foldLeft(stagePrep(root, df)) {
      case (d, (n, c)) => d.withColumn(n, c)
    }
    val staged = partCols.zip(dups).foldLeft(derived) {
      case (d, (c, dc)) => d.withColumn(dc, col(c))
    }
    staged.write.partitionBy(dups: _*).parquet(tmp)
    val leafFiles = io(root).listRecursive(tmp)
      .filter(_.endsWith(".parquet")).sorted
    val moved = leafFiles.zipWithIndex.map { case (rel, i) =>
      val dirs = rel.split("/").toSeq.init
      require(dirs.size == partCols.size,
        s"unexpected staging layout for $rel")
      val vals = partCols.zip(dirs).map { case (c, seg) =>
        require(seg.startsWith(s"__pc_$c="),
          s"unexpected staging dir $seg for partition column $c")
        val v = seg.stripPrefix(s"__pc_$c=")
        require(v != "__HIVE_DEFAULT_PARTITION__",
          s"NULL partition value in column $c; partition columns " +
            "must be non-null")
        require(SafePartValue.matches(v),
          s"unsafe partition value for $c: '$v'")
        c -> v
      }
      val dir = vals.map { case (c, v) => s"$c=$v" }.mkString("/")
      val target = f"data/$dir/part-$uid-$i%05d.parquet"
      if (parquetRows(root, Seq(s"_staged-$uid/$rel")) == 0L) None
      else {
        io(root).mkdirs(s"$root/data/$dir")
        io(root).move(s"$tmp/$rel", s"$root/$target")
        Some(target -> vals.toMap)
      }
    }.flatten
    io(root).deleteRecursive(tmp)
    moved
  }

  /** The table's declared partition columns at `version` (the tip when
    * None; the latest declaration wins; empty for an unpartitioned
    * table). Checkpoint + suffix replay like every other log index —
    * the declaration survives vacuum through the checkpoint carry.
    */
  def partitionColumns(root: String,
                       version: Option[Long] = None): Seq[String] = {
    // the declaration lives in the checkpoint's JSON HALF + commits —
    // resolving a million-file table's partition columns must never
    // force the per-file sidecar onto the driver
    val vs = versionsOnDisk(root)
    val cps = checkpointsOnDisk(root)
    if (vs.isEmpty && cps.isEmpty) return Seq.empty
    val upTo = version.getOrElse((vs ++ cps).max)
    val cp = cps.filter(_ <= upTo).lastOption
    val entries = cp.map(checkpointJsonEntry(root, _)).toSeq ++
      vs.filter(v => v <= upTo && cp.forall(v > _))
        .map(commitEntry(root, _))
    entries.flatMap(_.partCols).lastOption.getOrElse(Seq.empty)
  }

  /** The table's hidden partition-transform spec at `version` (the
    * tip when None; latest declaration wins; empty = no transforms).
    * Replays checkpoint JSON + suffix exactly like
    * [[partitionColumns]] — never the per-file sidecar.
    */
  def partitionTransforms(root: String,
                          version: Option[Long] = None): Seq[String] = {
    val vs = versionsOnDisk(root)
    val cps = checkpointsOnDisk(root)
    if (vs.isEmpty && cps.isEmpty) return Seq.empty
    val upTo = version.getOrElse((vs ++ cps).max)
    val cp = cps.filter(_ <= upTo).lastOption
    val entries = cp.map(checkpointJsonEntry(root, _)).toSeq ++
      vs.filter(v => v <= upTo && cp.forall(v > _))
        .map(commitEntry(root, _))
    entries.flatMap(_.ptspec).lastOption.getOrElse(Seq.empty)
  }

  /** Each file's log-recorded partition values. */
  def filePartitions(root: String): Map[String, Map[String, String]] =
    mergeOver(indexEntriesAtTip(root))(_.parts)

  /** All four skipping indexes — int/string ranges, null counts,
    * partition values — from ONE pass over the commit files. The
    * connector's FileIndex needs them together; four separate sweeps
    * of a long log would read every commit four times.
    */
  final case class SkippingIndex(
      int: Map[String, Map[String, (Long, Long)]],
      str: Map[String, Map[String, (String, String)]],
      nulls: Map[String, (Long, Map[String, Long])],
      parts: Map[String, Map[String, String]],
      sizes: Map[String, Long] = Map.empty,
      // per-file modification-time approximation: the publish time of
      // the commit that (last) added the file — checkpoint-carried
      // files get the checkpoint's own publish time (coarser but
      // monotone). What the listing-free planner reports as
      // `_metadata.file_modification_time` instead of a storage stat
      mtimes: Map[String, Long] = Map.empty) {
    /** File `f`'s stats in sidecar-row shape (absent = not recorded). */
    private[graft] def entry(f: String): FileEntry =
      FileEntry(f, rows = nulls.get(f).map(_._1), bytes = sizes.get(f),
        int = int.getOrElse(f, Map.empty),
        str = str.getOrElse(f, Map.empty),
        nulls = nulls.get(f).map(_._2).getOrElse(Map.empty),
        parts = parts.getOrElse(f, Map.empty))
  }

  /** All four indexes at `version` (the tip when None), replayed from
    * checkpoint + suffix like [[resolve]] — O(checkpoint interval)
    * metadata reads per planned query, and the stats survive a
    * [[vacuum]]'s log truncation through the checkpoint carry. Time
    * travel below the newest checkpoint replays an older checkpoint
    * (or the untruncated prefix), exactly like resolve does.
    */
  def skippingIndex(root: String,
                    version: Option[Long] = None): SkippingIndex = {
    indexOf(version match {
      case Some(v) => indexEntries(root, v)
      case None => indexEntriesAtTip(root)
    })
  }

  /** The last-wins fold of `entries`' recorded stats. */
  private def indexOf(entries: Seq[LogEntry]): SkippingIndex =
    SkippingIndex(mergeOver(entries)(_.intStats),
      mergeOver(entries)(_.strStats), mergeOver(entries)(_.nstats),
      mergeOver(entries)(_.parts), mergeOver(entries)(_.sizes),
      mergeOver(entries)(e =>
        e.adds.iterator.map(_ -> e.sourceMtime).toMap))

  /** Partition-pruned read: the snapshot restricted to the partitions
    * matching every `(column -> value)` pair in `eq`, with whole
    * partitions pruned FROM THE LOG before any listing or footer I/O —
    * at 100 TB a single-partition read of a 10k-partition table lists
    * 1/10k of the files. Files without partition metadata (plain
    * appends, rewrite outputs) are conservatively read; the predicate
    * re-applies exactly, so pruning is an optimization, never the
    * filter.
    */
  def snapshotPartition(spark: SparkSession, root: String,
                        eq: Map[String, String],
                        version: Option[Long] = None): DataFrame = {
    require(eq.nonEmpty, "snapshotPartition: empty partition filter")
    prunedSlice(spark, root, version, eq.toSeq.map { case (c, v) =>
      val l = ex.Literal(v)
      ex.EqualTo(statsAttr(root, c, version, l.dataType), l)
    }, eq.map { case (c, v) => col(c) === lit(v) }.reduce(_ && _))
  }

  /** INSERT OVERWRITE as a commit: `df` becomes the ENTIRE live set in
    * one atomic version — the previous files are removed (still
    * time-travel readable until [[vacuum]]) and every active deletion
    * vector is deactivated (nothing it masked is live any more). Fails
    * loudly on a version race like the other derived mutations: the
    * caller saw a snapshot and must re-decide, not re-stamp. Works on
    * an empty (just-inited) table as version 0.
    */
  def overwrite(spark: SparkSession, root: String, df: DataFrame): Long = {
    val cur =
      if (versionsOnDisk(root).nonEmpty) Some(resolve(root)) else None
    // no mapping prep: an overwrite DEFINES the new schema (mapping
    // mode off again — its files store the frame's own names)
    val adds = stage(spark, root, df, prep = false)
    validateStaged(spark, root, adds, "overwrite", prepped = false)
    val next = cur.map(_.version + 1).getOrElse(0L)
    commitOrCleanup(root, adds) {
      writeCommit(root, next, adds, cur.map(_.files).getOrElse(Seq.empty),
        op = "overwrite",
        dvDrops = cur.map(_.dvFiles).getOrElse(Seq.empty),
        // mapping-stripped: the files hold the frame's own (logical)
        // names, so a mapping copied from a source table would make
        // renamed columns read NULL — see [[stripMapping]]
        schema = Some(asNullable(stripMapping(df.schema))))
    }
    maybeAutoCheckpoint(root, next)
    next
  }

  /** Has `root` any committed version yet? (`false` for a bare or
    * never-inited directory — the SaveMode decisions of the batch
    * writer key off this.)
    */
  def isTable(root: String): Boolean =
    io(root).exists(logDir(root)) && versionsOnDisk(root).nonEmpty

  /** Delta-style periodic log checkpoint: every [[CheckpointInterval]]
    * commits, EVERY commit path (append, derived mutation, row-level
    * op, metadata) writes the replay base so snapshot and constraint
    * resolution stay O(interval) on a long-lived table however it is
    * written — a merge-heavy table must not grow an unbounded suffix
    * just because nothing ever appended. Cheap at any size now that
    * big checkpoints stream incrementally (prior sidecar through,
    * suffix applied). Data-free and race-safe (a concurrent loser is
    * a no-op). Test seam: specs shrink it to prove the cadence.
    */
  private[graft] var CheckpointInterval = 64L

  private def maybeAutoCheckpoint(root: String, version: Long): Unit =
    if (version > 0 && version % CheckpointInterval == 0)
      checkpoint(root, Some(version)): Unit

  /** Logged copy-on-write delete: the [[Maintenance.deleteWhere]]
    * mechanics (stats-pruned hit discovery, survivor rewrite of ONLY
    * the hit files) committed through the log instead of mutating the
    * directory — the removed files stay on disk, so every pre-delete
    * version remains time-travel readable until [[vacuum]].
    */
  def deleteWhere(spark: SparkSession, root: String, keyCol: String,
                  keys: Seq[Long]): Long = {
    require(keys.nonEmpty, "txlog deleteWhere: empty key list")
    val snap = resolve(root)
    val hit = col(keyCol).isin(keys: _*)
    // log-stats pre-prune: only files whose recorded [min,max] admits
    // at least one key can hold a hit — the discovery scan never even
    // LISTS the rest (on a key-clustered layout that is almost all of
    // them). Stat-less files are conservatively scanned.
    val candidates = keyCandidates(spark, root, snap, keyCol, keys)
    val next0 = snap.version + 1
    if (candidates.isEmpty) {
      writeCommit(root, next0, Seq.empty, Seq.empty, op = "delete")
      return next0
    }
    val abs = candidates.map(f => s"$root/$f")
    // mergeSchema on both reads: the table may be schema-evolved and a
    // sampled pre-evolution footer would silently drop newer columns
    // from the rewritten survivors. Both reads apply the active DV
    // masks: an unmasked read would count already-deleted rows as hits
    // and — fatally — RESURRECT them in the survivor rewrite
    val affectedAbs = toLogicalAt(root, applyDvMask(spark, root,
        readRawFiles(spark, root, abs, Some(snap.version))
          .withColumn("__path", col("_metadata.file_path")),
        snap.dvFiles), Some(snap.version))
      .filter(hit)
      .select(col("__path"))
      .distinct().collect().map(_.getString(0))
    val next = snap.version + 1
    if (affectedAbs.isEmpty) {
      writeCommit(root, next, Seq.empty, Seq.empty, op = "delete")
      return next
    }
    // NULL-safe survivor filter: `!isin` is NULL for a NULL key, and a
    // bare filter would silently erase NULL-key rows from the rewrite
    val adds = stage(spark, root,
      toLogicalAt(root, applyDvMask(spark, root,
        readRawFiles(spark, root, affectedAbs.toIndexedSeq,
          Some(snap.version)), snap.dvFiles),
        Some(snap.version))
        .filter(col(keyCol).isNull || !hit))
    val removes = affectedAbs.toSeq.map(relToRoot(root, _))
    // read scope: only the HIT files' rows shaped the survivors —
    // files outside `removes` either prune by stats or scanned clean,
    // so a winner touching them cannot change this delete's outcome;
    // a winner APPEND could hold matching keys (rowSelecting)
    commitDerived(root, snap.version, adds, removes, op = "delete",
      scope = DerivedScope(removes.toSet, rowSelecting = true),
      staged = adds)
  }

  /** Logged copy-on-write DELETE with an ARBITRARY row predicate — the
    * general form whose key-list contract [[deleteWhere]] special-cases,
    * and the engine behind SQL `DELETE FROM` through
    * [[graft.sources.GraftCatalog]]. Hit discovery runs THROUGH the
    * `graft-table` connector read pinned at the resolved version, so
    * the log's whole skipping index — per-file int/string `[min,max]`,
    * null counts, partition values — prunes candidate files for any
    * predicate shape the `GraftFileIndex` understands (the key-list
    * path hand-rolls only the int-range case), and active DV masks
    * apply inside the scan, so a masked row can neither count as a hit
    * nor be resurrected by the survivor rewrite. SQL DELETE semantics:
    * exactly the rows where `cond` IS TRUE are deleted — NULL-predicate
    * rows survive. Only the hit files rewrite; every other live file is
    * untouched on disk, and every pre-delete version stays time-travel
    * readable until [[vacuum]]. Returns the committed version.
    */
  def deleteWherePredicate(spark: SparkSession, root: String,
                           cond: Column): Long = {
    val snap = resolve(root)
    // only distinct hit-file paths come to the driver — bounded by the
    // live-file count, never by the number of deleted rows
    val affectedAbs = spark.read.format("graft-table")
      .option("versionAsOf", snap.version.toString).load(root)
      .filter(cond)
      .select(col("_metadata.file_path"))
      .distinct().collect().map(_.getString(0))
    val next = snap.version + 1
    if (affectedAbs.isEmpty) {
      writeCommit(root, next, Seq.empty, Seq.empty, op = "delete")
      return next
    }
    // survivor rewrite of ONLY the hit files, masked rows dropped (the
    // rewrite purges their vectors physically); rows where the
    // predicate is NULL are kept — a bare `!cond` would erase them.
    // The affected frame ALIGNS to the table's log-recorded schema
    // first: on a schema-evolved table the predicate may reference a
    // column no affected file physically carries (missing = NULL by
    // evolution semantics), and the raw footer-merged frame could not
    // resolve it
    val affected = toLogicalAt(root, applyDvMask(spark, root,
      readRawFiles(spark, root, affectedAbs.toIndexedSeq,
        Some(snap.version)), snap.dvFiles),
      Some(snap.version))
    val aligned = alignToSchema(affected,
      tableSchema(root, Some(snap.version))
        .map(_.fields.toSeq).getOrElse(Seq.empty))
    val adds = stage(spark, root, aligned.filter(cond.isNull || !cond))
    val removes = affectedAbs.toSeq.map(relToRoot(root, _))
    // read scope: the hit files (everything else scanned clean or was
    // stats-pruned); the predicate's implied partition equalities let
    // a provably-elsewhere concurrent append through
    commitDerived(root, snap.version, adds, removes, op = "delete",
      scope = DerivedScope(removes.toSet, rowSelecting = true,
        partitionEq = partitionEqOf(
          org.apache.spark.sql.GraftSqlBridge.expression(cond),
          partitionColumns(root))),
      staged = adds)
  }

  /** DELETE with no WHERE / SQL TRUNCATE: remove every live file from
    * the head by PURE METADATA — no data read, no rewrite, one commit
    * (at 100 TB the "delete everything" that should cost one log write
    * must not cost two full-table passes). Every pre-delete version
    * stays time-travel readable until [[vacuum]] — this is NOT a
    * reclamation. Returns the committed version.
    */
  def removeAll(root: String): Long = {
    val snap = resolve(root)
    val next = snap.version + 1
    // the ledger's rowsRemoved from the LOG's recorded per-file
    // counts ([[recordedRows]]) — a footer sweep would turn the
    // one-log-write TRUNCATE into a full-table metadata pass
    writeCommit(root, next, Seq.empty, snap.files, op = "delete",
      knownMeta = Some(FileMeta(0L, Map.empty, Map.empty)),
      knownRowsRemoved = Some(recordedRows(root, snap.files)))
    next
  }

  /** A scanned file URI as the log-relative path the commit stores —
    * `data/...` for the table's own files, a `../`-style path for
    * files a shallow [[clone]] references in its source (stripPrefix
    * would silently keep those ABSOLUTE and corrupt the remove
    * matching).
    */
  private def relToRoot(root: String, uri: String): String =
    relativize(root, uri)

  /** Scheme-agnostic relative path from `base` to `target` (both
    * directories/files on the SAME store): the `java.nio.Path`
    * relativize semantics, restated over URI segments so it works for
    * `hdfs://` / object-store paths too. `file:` and scheme-less paths
    * are the same store.
    */
  private def relativize(base: String, target: String): String = {
    def segs(s: String): (Option[String], Option[String], Seq[String]) = {
      val u = new org.apache.hadoop.fs.Path(s).toUri
      val scheme = Option(u.getScheme).filter(_ != "file")
      val path =
        if (scheme.isEmpty)
          Paths.get(u.getPath).toAbsolutePath.normalize.toString
        else u.getPath
      (scheme, Option(u.getAuthority).filter(_.nonEmpty),
        path.split("/").filter(_.nonEmpty).toSeq)
    }
    val (bs, ba, b) = segs(base)
    val (ts, ta, t) = segs(target)
    require(bs == ts && ba == ta,
      s"cannot relativize across stores: $base vs $target")
    val common = b.zip(t).takeWhile { case (x, y) => x == y }.length
    (Seq.fill(b.length - common)("..") ++ t.drop(common)).mkString("/")
  }

  /** Merge-on-read delete (deletion vectors): instead of rewriting
    * every file that holds a hit ([[deleteWhere]]'s copy-on-write), the
    * commit publishes a tiny SIDECAR of (file name, row position) pairs
    * and zero data files change — at 100 TB, erasing 1000 scattered
    * rows under copy-on-write rewrites ~1000 large files, while this
    * writes a few KB. Readers apply the mask transparently
    * ([[snapshot]] / [[snapshotSlice]] anti-join the broadcast DV set
    * on (file, `_metadata.row_index`)); rewrites ([[compact]] /
    * [[optimize]] / copy-on-write paths) read MASKED rows, so they
    * purge the vector physically and [[resolveState]] retires it once
    * its last covered file leaves the live set. Every pre-delete
    * version still time-travels to the unmasked rows, and [[vacuum]]
    * retains the sidecar with the versions that reference it. Hit
    * discovery is pre-pruned by the log's [[fileStats]] like the
    * copy-on-write path.
    */
  def deleteWhereDv(spark: SparkSession, root: String, keyCol: String,
                    keys: Seq[Long]): Long = {
    require(keys.nonEmpty, "txlog deleteWhereDv: empty key list")
    val snap = resolve(root)
    val candidates = keyCandidates(spark, root, snap, keyCol, keys)
    val next = snap.version + 1
    if (candidates.isEmpty) {
      writeCommit(root, next, Seq.empty, Seq.empty, op = "delete-dv")
      return next
    }
    // hits = rows matching a key that are not ALREADY masked (a
    // re-delete of a masked row must be idempotent, not double-counted
    // in the ledger); `isin` never matches NULL keys — correct DELETE
    // WHERE key IN (...) semantics
    val hits = toLogicalAt(root, applyDvMask(spark, root,
        readRawFiles(spark, root, candidates.map(f => s"$root/$f"),
          Some(snap.version)),
        snap.dvFiles, keepKeys = true), Some(snap.version))
      .filter(col(keyCol).isin(keys: _*))
      .select(col("__dv_f").as("file"), col("__dv_p").as("pos"))
    // ONE pass over the candidate data: write the sidecar first, then
    // derive the ledger stats (covers, hit count) by reading the
    // KB-scale sidecar back — never by re-running the discovery scan
    stageDvSidecar(spark, root, hits) match {
      case None =>
        writeCommit(root, next, Seq.empty, Seq.empty, op = "delete-dv")
        next
      case Some((dvRel, perFile)) =>
        val nameToRel = candidates.map(f => fileNameOf(f) -> f).toMap
        val covers = perFile.keys.map(nameToRel).toSeq.sorted
        // read scope: rows only in the covered files decided the mask
        commitDerived(root, snap.version, Seq.empty, Seq.empty,
          op = "delete-dv",
          scope = DerivedScope(covers.toSet, rowSelecting = true),
          staged = Seq(dvRel), dv = Some((dvRel, covers)),
          knownMeta = Some(FileMeta(0L, Map.empty, Map.empty)),
          knownRowsRemoved = Some(perFile.values.sum))
    }
  }

  /** `df` widened with the `fields` it lacks, each as a NULL cast —
    * the evolution contract (a column a file predates reads as NULL),
    * shared by the survivor rewrite, restore's constraint check, and
    * [[validateStaged]] so the alignment semantics live in one place.
    */
  private def alignToSchema(df: DataFrame,
      fields: Seq[org.apache.spark.sql.types.StructField]): DataFrame =
    fields.filterNot(f => df.columns.contains(f.name))
      .foldLeft(df)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))

  /** Stage a `(file NAME, position)` hits frame as ONE published
    * sidecar under `data/` and return it with its per-file-name mask
    * counts (None when the frame is empty — the sidecar is deleted).
    * Only (file, count) pairs come to the driver — bounded by the
    * touched-file count, never by the number of masked rows. Shared
    * by [[deleteWhereDv]] and [[commitRowDelta]] so the sidecar
    * grammar and staging hygiene live in one place.
    */
  private def stageDvSidecar(spark: SparkSession, root: String,
                             hits: DataFrame)
      : Option[(String, Map[String, Long])] = {
    val uid = UUID.randomUUID().toString.take(8)
    val tmp = s"$root/_staged-dv-$uid"
    hits.coalesce(1).sortWithinPartitions("file", "pos").write.parquet(tmp)
    val parts = io(root).list(tmp).filter(_.endsWith(".parquet"))
    require(parts.size == 1, s"dv stage produced ${parts.size} files")
    val dvRel = s"data/dv-$uid.parquet"
    io(root).move(s"$tmp/${parts.head}", s"$root/$dvRel")
    io(root).list(tmp).foreach(n => io(root).delete(s"$tmp/$n"))
    io(root).delete(tmp)
    val perFile = spark.read.parquet(s"$root/$dvRel")
      .groupBy("file").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (perFile.isEmpty) {
      io(root).delete(s"$root/$dvRel")
      None
    } else Some((dvRel, perFile))
  }

  /** Publish one ROW-LEVEL SQL write (UPDATE / MERGE INTO /
    * rewrite-based DELETE through [[graft.sources.GraftCatalog]]) as a
    * single MERGE-ON-READ commit: the tasks' insert files (written
    * under a staging dir by the DSv2 delta writers) are adopted into
    * `data/`, their deletion-vector fragments merge into ONE sidecar,
    * and mask + adds publish together — an UPDATE rewrites NO live
    * data file; it masks the old row positions and appends the new
    * rows, the shape [[deleteWhereDv]] + [[append]] would produce but
    * atomic in one version. Constraints gate the inserted rows exactly
    * like an append, the new files' stats/null-counts are recorded for
    * the skipping index, and the masked row count lands in the ledger.
    * The commit targets `baseVersion + 1` — the masked positions were
    * scanned against that snapshot — and on a lost version race the
    * optimistic-concurrency rules apply ([[commitDerived]]): winners
    * provably disjoint from the read files and mask targets (e.g. an
    * UPDATE of a DIFFERENT partition, `partitionEq`) re-stamp at the
    * new tip; anything else fails loudly and everything staged is
    * cleaned up. On a PARTITIONED table the insert images re-stage
    * through the hive-layout writer, so every new file is
    * partition-pure with its values re-recorded in the log —
    * partition pruning never degrades across UPDATE/MERGE.
    */
  private[graft] def commitRowDelta(spark: SparkSession, root: String,
                                    baseVersion: Long,
                                    stagedDataAbs: Seq[String],
                                    dvFragmentsAbs: Seq[String],
                                    op: String,
                                    partitionEq: Map[String, String] =
                                      Map.empty): Long = {
    val uid = UUID.randomUUID().toString.take(8)
    // small-update hygiene: the delta writers emit one insert file per
    // TASK, so a 1000-row UPDATE at 32-way parallelism would publish
    // 32 near-empty files — pure listing/footer noise at scale. Below
    // the bin-pack threshold the new images consolidate into one file
    // (reading KBs, driver-coordinated, no shuffle); a genuinely large
    // update keeps its task files as-is and compaction policy owns
    // them like any other append's output
    val SmallAddBytes = 32L << 20
    val rlcTmp = s"$root/_staged-rlc-$uid"
    val tablePartCols = partitionColumns(root, Some(baseVersion))
    val (adds, parts) =
      if (stagedDataAbs.nonEmpty && tablePartCols.nonEmpty) {
        // partitioned table: the insert images re-stage through the
        // SAME hive-layout writer every partitioned append uses —
        // partition-pure files, values re-recorded in the log. Small
        // updates consolidate to one file per touched partition
        val df0 = spark.read.option("mergeSchema", "true")
          .parquet(stagedDataAbs: _*)
        val df =
          if (stagedDataAbs.map(io(root).size).sum < SmallAddBytes)
            df0.coalesce(1)
          else df0
        // hidden-transform tables: the insert images carry only the
        // LOGICAL columns — re-derive the hidden partition values from
        // their sources exactly like appendTransformPartitioned does,
        // so a row-level UPDATE/MERGE keeps the layout transform-pure
        val derive = partitionTransforms(root, Some(baseVersion))
          .map(PartitionTransforms.parse)
          .map(t => t.hiddenName ->
            PartitionTransforms.column(t, df.schema(t.source).dataType))
        val moved =
          try stagePartitioned(spark, root, df, tablePartCols, derive)
          catch {
            case e: Throwable =>
              stagedDataAbs.foreach(io(root).deleteIfExists)
              throw e
          }
        stagedDataAbs.foreach(io(root).deleteIfExists)
        (moved.map(_._1), moved.toMap)
      } else if (stagedDataAbs.nonEmpty &&
          columnMappingAt(root).nonEmpty) {
        // mapping mode: the delta writer's task files carry LOGICAL
        // column names — re-stage through the physical-name writer so
        // every data file's stored names stay physical-invariant
        val df0 = spark.read.option("mergeSchema", "true")
          .parquet(stagedDataAbs: _*)
        val rels =
          try stage(spark, root, df0)
          catch {
            case e: Throwable =>
              stagedDataAbs.foreach(io(root).deleteIfExists)
              throw e
          }
        stagedDataAbs.foreach(io(root).deleteIfExists)
        (rels, Map.empty[String, Map[String, String]])
      } else {
        val rels =
          try {
            val staged =
              if (stagedDataAbs.size > 1 &&
                  stagedDataAbs.map(io(root).size).sum < SmallAddBytes) {
                spark.read.option("mergeSchema", "true")
                  .parquet(stagedDataAbs: _*).coalesce(1).write
                  .parquet(rlcTmp)
                stagedDataAbs.foreach(io(root).delete)
                val merged = io(root).list(rlcTmp)
                  .filter(_.endsWith(".parquet")).map(n => s"$rlcTmp/$n")
                require(merged.size == 1,
                  s"row-level consolidation produced ${merged.size} files")
                merged
              } else stagedDataAbs
            // adoption moves: a partial failure (one move throws
            // midway) must not orphan the already-moved part files
            // under data/ — no commit references them, the caller's
            // staging-dir cleanup cannot see them, and no sweeper owns
            // loose data/ files (same lost-race hygiene as
            // commitOrCleanup)
            val movedSoFar = Seq.newBuilder[String]
            try staged.sorted.zipWithIndex.map { case (src, i) =>
              val rel = f"data/part-$uid-$i%05d.parquet"
              io(root).move(src, s"$root/$rel")
              movedSoFar += rel
              rel
            } catch {
              case e: Throwable =>
                movedSoFar.result()
                  .foreach(f => io(root).deleteIfExists(s"$root/$f"))
                throw e
            }
          } finally {
            // success leaves only the _SUCCESS marker behind; a failed
            // consolidation must not orphan its partial output under
            // the table root (no sweeper owns _staged-rlc dirs)
            if (io(root).exists(rlcTmp)) io(root).deleteRecursive(rlcTmp)
          }
        (rels, Map.empty[String, Map[String, String]])
      }
    // constraint gate (deletes the adds itself on a violation)
    validateStaged(spark, root, adds, "row-level write")
    val nameToRel = resolve(root, Some(baseVersion)).files
      .map(f => fileNameOf(f) -> f).toMap
    val (dv, nDel) =
      if (dvFragmentsAbs.isEmpty) (None, 0L)
      else {
        // fragments → one sorted sidecar; distinct because a MERGE
        // source may address a target row more than once upstream of
        // Spark's own cardinality check modes
        stageDvSidecar(spark, root,
          spark.read.parquet(dvFragmentsAbs: _*)
            .select("file", "pos").distinct()) match {
          case None => (None, 0L)
          case Some((dvRel, perFile)) =>
            val covers = perFile.keys.map { name =>
              nameToRel.getOrElse(name, {
                adds.foreach(f => io(root).deleteIfExists(s"$root/$f"))
                io(root).delete(s"$root/$dvRel")
                throw new IllegalStateException(
                  s"row-level write to $root masks '$name', which is " +
                    s"not live at version $baseVersion")
              })
            }.toSeq.sorted
            (Some((dvRel, covers)), perFile.values.sum)
        }
      }
    // read scope: the DV-covered files (discovery scanned the pinned
    // snapshot; only covered files held matched rows). Two UPDATEs on
    // DISJOINT partitions both land — the loser re-stamps at the tip
    val committed = commitDerived(root, baseVersion, adds, Seq.empty,
      op = op,
      scope = DerivedScope(dv.map(_._2).getOrElse(Seq.empty).toSet,
        rowSelecting = true, partitionEq = partitionEq),
      staged = adds ++ dv.map(_._1).toSeq, dv = dv,
      parts = parts, knownRowsRemoved = Some(nDel))
    maybeAutoCheckpoint(root, committed)
    committed
  }

  /** Deletion-vector maintenance: rewrite ONLY the files whose masked
    * fraction reached `minFraction`, dropping their mask entries — the
    * policy knob that keeps merge-on-read reads cheap without paying a
    * full compaction. A file 50% logically deleted wastes half its
    * scan I/O on rows the mask discards, so it is worth rewriting; a
    * file with 3 masked rows out of a million is not. Per-file masked
    * counts come from the DV sidecars (tiny) and row counts from one
    * footer read per MASKED file (never the unmasked ones), so the
    * decision costs O(masked files). The commit is logically a no-op —
    * a [[changesBetween]] interval over it is empty — and resolve
    * retires the rewritten files' mask coverage. Returns the committed
    * version, or None when no file crossed the threshold (no empty
    * commit is written).
    */
  def purgeMasks(spark: SparkSession, root: String,
                 minFraction: Double): Option[Long] = {
    require(minFraction > 0 && minFraction <= 1,
      s"minFraction must be in (0, 1]: $minFraction")
    val snap = resolve(root)
    if (snap.dvFiles.isEmpty) return None
    // masked rows per file NAME — bounded by the covered-file count
    val maskedPerName = dvEntries(spark, root, snap.dvFiles)
      .groupBy("file").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val candidates = snap.files.filter { f =>
      maskedPerName.get(fileNameOf(f)).exists { masked =>
        masked.toDouble / parquetRows(root, Seq(f)) >= minFraction
      }
    }
    if (candidates.isEmpty) return None
    val adds = stage(spark, root,
      toLogicalAt(root, applyDvMask(spark, root,
        readRawFiles(spark, root, candidates.map(f => s"$root/$f"),
          Some(snap.version)),
        snap.dvFiles), Some(snap.version)))
    // layout no-op over the candidate files only: a concurrent append
    // or a disjoint mutation elsewhere must not force a re-purge
    Some(commitDerived(root, snap.version, adds, candidates, op = "purge",
      scope = DerivedScope(candidates.toSet, rowSelecting = false),
      staged = adds))
  }

  /** MERGE INTO as a commit (logged upsert): rows of `updates` replace
    * same-key rows, unmatched keys append — the most-used lakehouse
    * mutation, in its copy-on-write form. Only the files that CONTAIN
    * a matched key are rewritten (hit discovery is a stats-pruned
    * semi-join, so on a key-clustered layout — sorted or
    * [[optimize]]d — a small update touches a small file set); rows in
    * every other file are untouched on disk. `updates` must be unique
    * per key and share the table's schema (the caller pre-reduces a
    * CDC stream, same contract as [[Maintenance.upsert]]).
    */
  def upsert(spark: SparkSession, root: String, updates: DataFrame,
             keyCol: String): Long = {
    val snap = resolve(root)
    val keys = updates.select(keyCol).distinct()
    // _metadata resolves only on the scan itself — project it (and the
    // DV mask keys) before the semi-join. Masked rows are not hits and
    // must not survive into the rewrite
    val hitAbs = applyDvMask(spark, root,
        readRawFiles(spark, root, snap.files.map(f => s"$root/$f"),
          Some(snap.version))
          .select(col(physicalOf(root, keyCol, Some(snap.version)))
            .as(keyCol), col("_metadata.file_path").as("__f"),
            col("_metadata")),
        snap.dvFiles)
      .join(keys, Seq(keyCol), "left_semi")
      .select("__f").distinct().collect().map(_.getString(0))
    val survivors =
      if (hitAbs.isEmpty) updates.limit(0)
      else toLogicalAt(root, applyDvMask(spark, root,
        readRawFiles(spark, root, hitAbs.toIndexedSeq,
          Some(snap.version)), snap.dvFiles),
        Some(snap.version))
        .join(keys, Seq(keyCol), "left_anti")
    val adds = stage(spark, root, survivors.unionByName(updates))
    validateStaged(spark, root, adds, "merge")
    val removes = hitAbs.toSeq.map(relToRoot(root, _))
    // read scope: the hit files (every other live file was scanned and
    // held no matched key); a winner APPEND could hold matching keys
    commitDerived(root, snap.version, adds, removes, op = "merge",
      scope = DerivedScope(removes.toSet, rowSelecting = true),
      staged = adds, mergeKey = Some(keyCol),
      schema = mergedSchemaFor(root, updates.schema))
  }

  /** OPTIMIZE ZORDER BY as a commit: rewrite the live set Z-ordered on
    * `cols` ([[Maintenance.zorderLayout]]) and publish the layout
    * atomically — logically a no-op (a [[changesBetween]] over the
    * interval is empty), physically the clustering that makes later
    * key predicates, [[deleteWhere]] hit discovery, and [[upsert]]
    * rewrites prune to few files. History before the rewrite stays
    * readable.
    */
  def optimize(spark: SparkSession, root: String, cols: Seq[String],
               numFiles: Int): Long = {
    val snap = resolve(root)
    val adds = stage(spark, root, Maintenance.zorderLayout(
      snapshotImpl(spark, root, None, guard = false), cols, numFiles))
    // layout no-op over the whole live set: only a concurrent pure
    // append survives the disjointness check (and correctly so — its
    // file simply stays un-optimized)
    commitDerived(root, snap.version, adds, snap.files, op = "optimize",
      scope = DerivedScope(snap.files.toSet, rowSelecting = false),
      staged = adds)
  }

  /** OPTIMIZE scoped to a partition — the Delta `OPTIMIZE ... WHERE`
    * shape: rewrite ONLY the files whose log-recorded partition values
    * match every `(column -> value)` pair in `eq`, Z-ordered on
    * `cols`, and RE-RECORD the partition values on the outputs, so
    * partition pruning keeps working across maintenance (the global
    * [[optimize]] rewrites the whole table and its outputs carry no
    * partition metadata — correct but conservative). Every other
    * partition's files are untouched on disk. Logically a no-op like
    * any optimize: masked rows are dropped in the rewrite (never
    * resurrected) and the mask coverage of the rewritten files
    * retires. Returns the committed version.
    */
  def optimizePartition(spark: SparkSession, root: String,
                        eq: Map[String, String], cols: Seq[String],
                        numFiles: Int): Long = {
    require(eq.nonEmpty, "optimizePartition: empty partition filter")
    val snap = resolve(root)
    val parts = filePartitions(root)
    val hit = snap.files.filter(f => parts.get(f).exists(kv =>
      eq.forall { case (c, v) => kv.get(c).contains(v) }))
    require(hit.nonEmpty,
      s"no live files of $root carry partition values $eq")
    // the outputs inherit the partition metadata every input agrees
    // on (at minimum the eq columns, by selection)
    val common = hit.map(parts(_))
      .reduce((a, b) => a.filter { case (k, v) => b.get(k).contains(v) })
    val df = toLogicalAt(root, applyDvMask(spark, root,
      readRawFiles(spark, root, hit.map(f => s"$root/$f"),
        Some(snap.version)), snap.dvFiles),
      Some(snap.version))
    val adds = stage(spark, root,
      Maintenance.zorderLayout(df, cols, numFiles))
    // layout no-op over ONE partition's files: appends and mutations
    // of OTHER partitions proceed concurrently
    commitDerived(root, snap.version, adds, hit, op = "optimize",
      scope = DerivedScope(hit.toSet, rowSelecting = false),
      staged = adds, parts = adds.map(_ -> common).toMap)
  }

  /** Compaction as a commit: bin-pack the live files toward
    * `targetBytes` and publish the packed files while REMOVING every
    * previous live file — logically a no-op (same rows), physically
    * the small-file cure. History before the compaction stays
    * readable.
    */
  def compact(spark: SparkSession, root: String, targetBytes: Long): Long = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val snap = resolve(root)
    val total = snap.files.map(f => io(root).size(s"$root/$f")).sum
    val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    // snapshot(), not a raw read: the live set may be schema-evolved,
    // and compacting through a sampled pre-evolution footer would drop
    // the newer columns from the ONLY remaining copy of every row
    val adds = stage(spark, root,
      snapshotImpl(spark, root, None, guard = false).coalesce(n))
    commitDerived(root, snap.version, adds, snap.files, op = "compact",
      scope = DerivedScope(snap.files.toSet, rowSelecting = false),
      staged = adds)
  }

  /** RESTORE TABLE TO VERSION AS OF — undo as a commit: the live state
    * of `toVersion` is republished at the tip. Re-adds the files later
    * commits removed, removes files added since, deactivates every
    * deletion vector published after the target, and republishes the
    * target's mask state — all PURE METADATA (data files and sidecars
    * are immutable and still on disk until [[vacuum]]), so restoring a
    * 100 TB table after a bad delete/merge costs one footer sweep of
    * the re-added files, never a data rewrite. And because the restore
    * is itself just a commit: history after it is intact, time travel
    * INTO the undone interval still works, and [[changesBetween]] over
    * the restore interval reports exactly the rows that came back /
    * fell out (a restore round-trips CDC to empty). Constraints added
    * AFTER the target are validated against the restored rows first
    * (they never gated those rows); constraints the target already
    * passed are not re-scanned. Fails loudly if vacuum reclaimed a
    * file the target needs.
    */
  def restore(spark: SparkSession, root: String, toVersion: Long): Long = {
    val cur = resolve(root)
    require(toVersion <= cur.version,
      s"restore target $toVersion is past the tip ${cur.version}")
    require(versionsOnDisk(root).contains(toVersion),
      s"version $toVersion not in txlog (vacuumed?)")
    val (tFiles, tDvs) = resolveState(root, toVersion)
    (tFiles ++ tDvs.map(_._1)).foreach(f =>
      require(io(root).exists(s"$root/$f"),
        s"restore to $toVersion needs $f, which vacuum reclaimed; " +
          "the target is only logically present in the log"))
    val adds = tFiles.filterNot(cur.files.toSet).sorted
    val removes = cur.files.filterNot(tFiles.toSet).sorted
    // only the constraints that never gated the target's rows need a
    // validation scan — the common restore (no constraint churn since
    // the target) is zero-I/O beyond the re-added files' footers.
    // Diffed on (name, EXPR) pairs: a constraint REDEFINED under the
    // same name since the target never gated those rows either
    val newConstraints = (constraints(root).toSet --
      constraintsAt(root, toVersion).toSet).toMap
    if (newConstraints.nonEmpty && tFiles.nonEmpty) {
      val restored0 = toLogicalAt(root, applyDvMask(spark, root,
        readRawFiles(spark, root, tFiles.map(f => s"$root/$f"),
          Some(toVersion)),
        tDvs.map(_._1)), Some(toVersion))
      // the CHECK contract for a pre-evolution target: a column the
      // constraint references that the target lacks evaluates as NULL
      // (a counted violation), not an analysis error — same as
      // validateStaged. The current snapshot's schema names the
      // columns that could be missing
      val curCols =
        if (cur.files.nonEmpty)
          snapshotImpl(spark, root, None, guard = false).schema.fields.toSeq
        else Seq.empty
      val restored = alignToSchema(restored0, curCols)
      newConstraints.foreach { case (name, ex) =>
        val bad =
          try violations(restored, ex).count()
          catch {
            case e: org.apache.spark.sql.AnalysisException =>
              throw new IllegalArgumentException(
                s"restore to $toVersion cannot be validated against " +
                  s"constraint '$name' ($ex): it does not resolve " +
                  s"against the target's schema " +
                  s"(${e.getMessage.linesIterator.next()}); drop the " +
                  "constraint or pick a different target")
          }
        require(bad == 0L,
          s"restore to $toVersion would violate constraint '$name' " +
            s"($ex) on $bad row(s); drop the constraint or pick a " +
            "different target")
      }
    }
    // re-added files get their partition metadata RE-RECORDED from
    // the target's index: the re-adds may postdate the newest
    // checkpoint, whose carry only covers files live at checkpoint
    // time — without the re-record, partition pruning on restored
    // files would silently degrade to conservative reads (the stats
    // side re-records through the commit's own footer sweep already)
    val targetParts = skippingIndex(root, Some(toVersion)).parts
    writeCommit(root, cur.version + 1, adds, removes, op = "restore",
      dvDrops = cur.dvFiles, dvSet = tDvs,
      parts = adds.flatMap(f => targetParts.get(f).map(f -> _)).toMap,
      schema = tableSchema(root, Some(toVersion)))
    cur.version + 1
  }

  /** Shallow CLONE: a NEW table whose version 0 references the
    * source's live files (and deletion-vector mask state) at
    * `version` WITHOUT copying a byte — the zero-copy branch that
    * makes "test the migration on production data" an O(metadata)
    * operation at 100 TB. The clone's own commits (appends, deletes,
    * merges — their rewrites too) land under ITS root; the source is
    * never touched, and the clone's [[vacuum]] can only reclaim
    * clone-local files (the reclaim listing is the clone's own data
    * dir). Constraints active at the source version carry over as
    * metadata commits. Same caveat as Delta's shallow clone: vacuuming
    * the SOURCE below the cloned version breaks the clone's reads
    * loudly. Returns the clone's version 0.
    */
  def clone(spark: SparkSession, srcRoot: String, dstRoot: String,
            version: Option[Long] = None): Long = {
    val snap = resolve(srcRoot, version)
    require(snap.files.nonEmpty,
      s"version ${snap.version} of $srcRoot has no live files to clone")
    val (files, dvs) = resolveState(srcRoot, snap.version)
    require(!io(dstRoot).exists(logDir(dstRoot)) ||
      versionsOnDisk(dstRoot).isEmpty,
      s"clone target $dstRoot already has commits")
    init(dstRoot)
    val rel = relativize(dstRoot, srcRoot)
    val adds = files.map(f => s"$rel/$f")
    val dvSet = dvs.map { case (p, cov) =>
      (s"$rel/$p", cov.map(c => s"$rel/$c"))
    }
    // the footer sweep re-records the skipping stats under the
    // clone-relative keys — the clone prunes like the source did; the
    // source's partition metadata is carried the same way
    val srcParts = skippingIndex(srcRoot, Some(snap.version)).parts
    val parts = files.flatMap(f =>
      srcParts.get(f).map(kv => s"$rel/$f" -> kv)).toMap
    writeCommit(dstRoot, 0L, adds, Seq.empty, op = "clone", dvSet = dvSet,
      parts = parts,
      partCols = partitionColumns(srcRoot, Some(snap.version)),
      ptspec = partitionTransforms(srcRoot, Some(snap.version)),
      schema = tableSchema(srcRoot, Some(snap.version)))
    constraintsAt(srcRoot, snap.version).toSeq.sortBy(_._1)
      .foreach { case (n, ex) =>
        commitMetadata(dstRoot, () => s""""cname":"$n","cexpr":"$ex"""",
          "set-constraint"): Unit
      }
    0L
  }

  /** The entries the skipping-index readers replay: the newest
    * CHECKPOINT at or below `upTo` (which carries the live set's
    * per-file stats, null counts, and partition metadata — see
    * [[checkpoint]]) plus the commits after it, oldest first. This is
    * the same O(checkpoint interval) replay [[resolve]] does — on a
    * long-lived table with 10k commits between vacuums, the old
    * whole-log sweep cost 10k metadata reads PER PLANNED QUERY, the
    * exact planning bottleneck the checkpoint exists to remove; with
    * the [[EntryCache]] a version planned twice in one session costs
    * ZERO log reads the second time. Later entries override earlier
    * ones on key collision (restore re-records a re-added file's
    * stats), matching commit order.
    */
  private def indexEntries(root: String, upTo: Long): Seq[LogEntry] = {
    val cp = checkpointsOnDisk(root).filter(_ <= upTo).lastOption
    cp.map(checkpointEntry(root, _)).toSeq ++
      versionsOnDisk(root).filter(v => v <= upTo && cp.forall(v > _))
        .map(commitEntry(root, _))
  }

  private def indexEntriesAtTip(root: String): Seq[LogEntry] = {
    val vs = versionsOnDisk(root)
    val cps = checkpointsOnDisk(root)
    if (vs.isEmpty && cps.isEmpty) Seq.empty
    else indexEntries(root, (vs ++ cps).max)
  }

  /** The log's data-skipping index: per live-file, per integer-column
    * `[min, max]` as recorded at commit time. Files from pre-stats
    * commits (or carried across a vacuum by the checkpoint) simply
    * have no entry — readers treat that as "cannot skip".
    */
  def fileStats(root: String): Map[String, Map[String, (Long, Long)]] =
    mergeOver(indexEntriesAtTip(root))(_.intStats)

  /** Merge per-entry maps, seeding the fold with the FIRST entry's
    * map: that entry is usually the checkpoint carrying ~the whole
    * live set, and `bigMap ++ smallMap` is O(suffix) — seeding with
    * `Map.empty` would copy the checkpoint-sized map once per planned
    * query.
    */
  private def mergeOver[V](entries: Seq[LogEntry])(
      of: LogEntry => Map[String, V]): Map[String, V] =
    entries match {
      case head +: tail =>
        tail.foldLeft(of(head))((acc, e) => acc ++ of(e))
      case _ => Map.empty
    }

  /** The string half of the skipping index: per live-file, per
    * string-column `[min, max]` as recorded at commit time (values
    * outside the safe grammar were never recorded — those files have
    * no entry and are conservatively read).
    */
  def fileStatsStr(root: String)
      : Map[String, Map[String, (String, String)]] =
    mergeOver(indexEntriesAtTip(root))(_.strStats)

  /** The null half of the skipping index: per live-file `(rows,
    * column -> null count)` as recorded at commit time. Files from
    * pre-nstats commits have no entry — readers treat that as "cannot
    * skip".
    */
  def fileNullStats(root: String): Map[String, (Long, Map[String, Long])] =
    mergeOver(indexEntriesAtTip(root))(_.nstats)

  /** `IS NULL` / `IS NOT NULL` data skipping: the snapshot restricted
    * to rows where `colName` is (not) null, with files pruned by the
    * log-recorded null counts — a file with zero nulls cannot serve
    * `IS NULL`, a file whose null count equals its row count cannot
    * serve `IS NOT NULL`. Files without recorded null stats for
    * `colName` are conservatively read. Semantics are exactly
    * `snapshot(...).filter(col(colName).isNull / .isNotNull)`.
    */
  def snapshotSliceNull(spark: SparkSession, root: String, colName: String,
                        isNull: Boolean,
                        version: Option[Long] = None): DataFrame = {
    val a = statsAttr(root, colName, version,
      org.apache.spark.sql.types.NullType)
    prunedSlice(spark, root, version,
      Seq(if (isNull) ex.IsNull(a) else ex.IsNotNull(a)),
      if (isNull) col(colName).isNull else col(colName).isNotNull)
  }

  /** The shared prune-read-mask-filter pipeline of the slice reads:
    * files `prune` rejects are never listed or opened, the survivors
    * are read under the snapshot's DV masks, and `in` re-applies the
    * exact predicate (pruning is an optimization, not the filter).
    * Candidate discovery goes through [[candidatesWhere]], so past
    * the prune threshold a narrow slice of a million-file table
    * streams the checkpoint sidecar and materializes only its own
    * files' paths — the eager path (and its loud empty-table
    * contract) is kept below the threshold. On a pruned-scale table
    * whose slice is empty, the result is an empty frame shaped by the
    * log schema (never a loud error — counting live files would cost
    * the scan this path avoids).
    */
  private def prunedSlice(spark: SparkSession, root: String,
                          version: Option[Long],
                          prune: Seq[ex.Expression],
                          in: org.apache.spark.sql.Column): DataFrame = {
    val pruned =
      prunedPlanInfo(root, version, pruneThresholdOf(spark))
        .filter(pi => tableSchema(root, Some(pi.version)).isDefined)
    val (snapV, dvFiles, src) = pruned match {
      case Some(pi) => (pi.version, pi.dvFiles,
        new SidecarStats(root, pi, suffixStateOf(pi.suffix)))
      case None =>
        val snap = resolve(root, version)
        require(snap.files.nonEmpty,
          s"version ${snap.version} of $root has no live files")
        (snap.version, snap.dvFiles, statsSource(spark, root, snap))
    }
    val keepFiles = candidatesWhere(src, prune).map(_.path)
    if (keepFiles.isEmpty) {
      if (pruned.isEmpty)
        snapshotImpl(spark, root, version, guard = false)
          .filter(in).limit(0)
      else {
        val st = tableSchema(root, Some(snapV)).get
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          asNullable(st)).filter(in).limit(0)
      }
    } else toLogicalAt(root, applyDvMask(spark, root,
      readRawFiles(spark, root, keepFiles.map(f => s"$root/$f"),
        Some(snapV)), dvFiles,
      guard = true), Some(snapV))
      .filter(in)
  }

  /** [[snapshotSlice]] for a STRING column: the snapshot restricted to
    * `lo <= colName <= hi` with files pruned by the log-recorded
    * string ranges — the category/language/date-partition slice shape
    * (`lang BETWEEN 'de' AND 'en'` over a lang-clustered layout opens
    * only the overlapping files). Orders agree by construction: the
    * recorded values are ASCII-only, where parquet's unsigned byte
    * order, Spark's UTF8 order, and this method's String compare
    * coincide. Stat-less files are conservatively read.
    */
  def snapshotSliceStr(spark: SparkSession, root: String, colName: String,
                       lo: String, hi: String,
                       version: Option[Long] = None): DataFrame = {
    prunedSlice(spark, root, version,
      rangeOf(root, colName, version, ex.Literal(lo), ex.Literal(hi)),
      col(colName) >= lo && col(colName) <= hi)
  }

  /** Data-skipping read: the snapshot restricted to
    * `lo <= colName <= hi`, with files pruned by the LOG-RECORDED
    * stats BEFORE any listing or footer I/O — on a key-clustered
    * layout ([[optimize]]/sorted appends) a narrow slice of a huge
    * table opens only the files whose range overlaps, the same move
    * Delta's data skipping makes. Files without recorded stats for
    * `colName` are conservatively read (pre-stats commits,
    * checkpoint-carried files, all-null chunks). Semantics are exactly
    * `snapshot(...).filter(lo <= col && col <= hi)`.
    */
  def snapshotSlice(spark: SparkSession, root: String, colName: String,
                    lo: Long, hi: Long,
                    version: Option[Long] = None): DataFrame = {
    prunedSlice(spark, root, version,
      rangeOf(root, colName, version, ex.Literal(lo), ex.Literal(hi)),
      col(colName) >= lo && col(colName) <= hi)
  }

  /** `lo <= colName <= hi` as a skipping predicate. */
  private def rangeOf(root: String, colName: String,
                      version: Option[Long], lo: ex.Literal,
                      hi: ex.Literal): Seq[ex.Expression] = {
    val a = statsAttr(root, colName, version, lo.dataType)
    Seq(ex.GreaterThanOrEqual(a, lo), ex.LessThanOrEqual(a, hi))
  }

  /** Stream-source batch ids already committed to the log: the
    * commits' optional `batchId` fields UNIONED with every
    * checkpoint's carried `batchIds` set — the idempotency ledger for
    * [[streamingAppend]]. The checkpoint carry matters: a [[vacuum]]
    * that truncates past the last streaming commit would otherwise
    * erase the ledger, and a checkpoint-recovery replay of that batch
    * would land the same data twice.
    */
  def committedBatchIds(root: String): Set[Long] =
    committedBatchIdsUpTo(root, Long.MaxValue)

  private def committedBatchIdsUpTo(root: String, upTo: Long): Set[Long] = {
    // checkpoint + suffix, like every other log index: the newest
    // checkpoint records the COMPLETE ledger at its version
    // ([[checkpoint]] writes committedBatchIdsUpTo(v)), so only the
    // commits after it need reading — a continuously ingesting table
    // must not pay O(all commits) metadata reads PER MICRO-BATCH for
    // its idempotence check
    val cp = checkpointsOnDisk(root).filter(_ <= upTo).lastOption
    val fromCommits = versionsOnDisk(root)
      .filter(v => v <= upTo && cp.forall(v > _))
      .flatMap(v => commitEntry(root, v).batchId)
    val fromCheckpoint =
      cp.toSeq.flatMap(c => checkpointJsonEntry(root, c).batchIds)
    (fromCommits ++ fromCheckpoint).toSet
  }

  /** Commit one micro-batch idempotently: a batch id already present
    * in the log is a REPLAY (Structured Streaming re-delivers the
    * last batch after a failure) and must not land twice — the check
    * here plus the version-conflict guard in [[writeCommit]] give the
    * foreachBatch sink exactly-once table semantics, the same
    * txn-ledger idea as the Delta streaming sink. Returns the
    * committed version, or None when the batch was a replay.
    */
  def commitBatch(spark: SparkSession, root: String, batch: DataFrame,
                  batchId: Long): Option[Long] = {
    if (committedBatchIds(root).contains(batchId)) return None
    val adds = stage(spark, root, batch)
    validateStaged(spark, root, adds, "streaming commit")
    val meta = parquetMeta(root, adds)
    // the ledger check above is check-then-act: a replay racing the
    // original could pass it and land the batch twice at DIFFERENT
    // versions. Close the window with the commit file as the
    // serialization point — on a version conflict, re-read the ledger
    // (which now includes the racing commit) and either bail out as a
    // replay or retry at the advanced version — re-validating first,
    // since the winning commit may have been set-constraint
    commitAtTip(root, "streaming commit", adds,
        () => validateStaged(spark, root, adds, "streaming commit"),
        () => committedBatchIds(root).contains(batchId)) { next =>
      writeCommit(root, next, adds, Seq.empty, op = "streaming-append",
        batchId = Some(batchId), knownMeta = Some(meta),
        knownRowsRemoved = Some(0L),
        schema = mergedSchemaFor(root, batch.schema))
    }
  }

  /** Continuous ingestion INTO the log: every micro-batch becomes an
    * atomic, idempotent table version via [[commitBatch]]. Callers
    * own the query lifecycle (start/stop/await).
    */
  def streamingAppend(df: DataFrame, root: String,
                      checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatch(batch.sparkSession, root, batch, batchId): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Log-based change-data-capture between two versions: rows added
    * and removed, computed from the CHANGED FILES ONLY — the log names
    * exactly which files each interval touched, so the diff never
    * rescans the table (at 100 TB, diffing two snapshots by content is
    * a full double scan; diffing by log is proportional to the
    * change). The net multiset algebra `added \ removed` /
    * `removed \ added` makes rewrites that move rows between files —
    * compaction, copy-on-write survivor rewrites — cancel out, so a
    * compaction interval reports zero changes and a targeted delete
    * reports exactly the deleted rows.
    */
  def changesBetween(spark: SparkSession, root: String, fromV: Long,
                     toV: Long): DataFrame = {
    require(fromV <= toV, s"changesBetween: $fromV > $toV")
    changesBetweenCore(spark, root, resolve(root, Some(fromV)),
      resolve(root, Some(toV)), toV)
  }

  /** [[changesBetween]] with both endpoints ALREADY resolved — the
    * shape the CDC fold needs: it derives each commit's pre/post
    * snapshots by folding ONE running state forward across the
    * interval ([[changesBetweenCdc]]), so the per-commit diff must
    * not re-replay the log twice per commit.
    */
  private def changesBetweenCore(spark: SparkSession, root: String,
                                 fromS: Snapshot, toS: Snapshot,
                                 toV: Long): DataFrame = {
    // the empty change set still needs the table's SCHEMA, and toV may
    // have no live files (a fully-deleted table diffed against itself).
    // The LOG-RECORDED schema at toV is the right source: one metadata
    // read, and it can never leak a FUTURE column into the feed the way
    // "nearest version with files" could (a fully-deleted prefix used
    // to fall forward to a version ABOVE toV). Pre-schema-action tables
    // keep the file-bearing-version fallback
    def emptyChanges(): DataFrame = {
      tableSchema(root, Some(toV)) match {
        case Some(st) =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            asNullable(st)).withColumn("change", lit(""))
        case None =>
          val vs = versionsOnDisk(root)
          val src = vs.filter(_ <= toV).reverse
            .find(v => resolveState(root, v)._1.nonEmpty)
            .orElse(vs.filter(_ > toV)
              .find(v => resolveState(root, v)._1.nonEmpty))
          src match {
            case Some(v) => snapshotImpl(spark, root, Some(v),
              guard = false).limit(0).withColumn("change", lit(""))
            case None => spark.emptyDataFrame.withColumn("change", lit(""))
          }
      }
    }
    val from = fromS.files.toSet
    val to = toS.files.toSet
    val addedF = (to -- from).toSeq.sorted
    val removedF = (from -- to).toSeq.sorted
    // DV sidecars are immutable, so identical sidecar SETS mean
    // identical masks — the cheap no-DV-change test
    val dvChanged = fromS.dvFiles.toSet != toS.dvFiles.toSet
    if (addedF.isEmpty && removedF.isEmpty && !dvChanged)
      return emptyChanges()
    // the diff compares LOGICAL rows: each side's files are read under
    // that side's DV masks, so a merge-on-read delete reports exactly
    // its masked rows, and a later rewrite that purges the mask
    // physically (compaction of a masked file) nets to zero. Files are
    // keyed by NAME: data-file names are UUID-unique by construction,
    // and the name dodges the file-URI scheme variance of `file_path`
    def readSide(files: Seq[String], dv: Seq[String]): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(toLogicalAt(root, applyDvMask(spark, root,
        readRawFiles(spark, root, files.map(f => s"$root/$f"),
          Some(toV)), dv, guard = true),
        Some(toV)))
    val addedOpt = readSide(addedF, toS.dvFiles)
    val removedOpt = readSide(removedF, fromS.dvFiles)
    // mask deltas on files live at BOTH ends of the interval: changes
    // the file algebra alone cannot see (the file never moved). Growth
    // (a merge-on-read delete) surfaces as deletes; shrink (a restore
    // deactivating a later mask) surfaces as inserts — rows coming
    // back
    def maskDiffRows(aDvs: Seq[String], bDvs: Seq[String])
        : Option[DataFrame] =
      if (!dvChanged || aDvs.isEmpty) None
      else {
        import spark.implicits._
        val a = dvEntries(spark, root, aDvs)
        val diff =
          if (bDvs.isEmpty) a
          else a.exceptAll(dvEntries(spark, root, bDvs))
        val common = (from & to).toSeq.sorted
        val commonNames = common.map(fileNameOf).toDF("file")
        val gc = diff.join(broadcast(commonNames), Seq("file"), "left_semi")
        // the touched FILE list is driver-held (bounded by the file
        // count, like the snapshot's own file list), never the rows
        val touched = gc.select("file").distinct()
          .collect().map(_.getString(0)).toSet
        if (touched.isEmpty) None
        else {
          val paths = common.filter(f => touched(fileNameOf(f)))
          val rows = readRawFiles(spark, root,
            paths.map(f => s"$root/$f"), Some(toV))
            .withColumn("__dv_f",
              element_at(split(col("_metadata.file_path"), "/"), -1))
            .withColumn("__dv_p", col("_metadata.row_index"))
          val right = gc.withColumnRenamed("file", "__dv_file")
            .withColumnRenamed("pos", "__dv_pos")
          Some(toLogicalAt(root, rows.join(broadcast(right),
              rows("__dv_f") === right("__dv_file") &&
                rows("__dv_p") === right("__dv_pos"), "left_semi")
            .drop("__dv_f", "__dv_p"), Some(toV)))
        }
      }
    val grownOpt = maskDiffRows(toS.dvFiles, fromS.dvFiles)
    val shrunkOpt = maskDiffRows(fromS.dvFiles, toS.dvFiles)
    if (addedOpt.isEmpty && removedOpt.isEmpty && grownOpt.isEmpty &&
        shrunkOpt.isEmpty)
      return emptyChanges()
    // align to the TABLE's schema at toV, not the changed files': an
    // interval touching only pre-evolution files would otherwise come
    // back without the newer columns and break CDC consumers selecting
    // the table shape. (A fully-deleted toV has no schema to align to
    // — the changed-file schema is then all there is.)
    val tgt =
      if (toS.files.nonEmpty)
        snapshotOfSnap(spark, root, toS, guard = false).schema
      else (addedOpt.orElse(removedOpt).orElse(grownOpt)
        .orElse(shrunkOpt)).get.schema
    def align(df: DataFrame): DataFrame =
      df.select(tgt.fields.toIndexedSeq.map { f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    lazy val emptyTgt =
      align((addedOpt.orElse(removedOpt).orElse(grownOpt)
        .orElse(shrunkOpt)).get.limit(0))
    val added = (addedOpt.toSeq ++ shrunkOpt.toSeq).map(align)
      .reduceOption(_ unionByName _).getOrElse(emptyTgt)
    val removed = (removedOpt.toSeq ++ grownOpt.toSeq).map(align)
      .reduceOption(_ unionByName _).getOrElse(emptyTgt)
    added.exceptAll(removed).withColumn("change", lit("insert"))
      .unionByName(removed.exceptAll(added)
        .withColumn("change", lit("delete")))
  }

  /** [[changesBetween]] in the Delta Change Data Feed shape: a
    * `change_type` column with `insert` / `delete` /
    * `update_preimage` / `update_postimage`. A MERGE commit removes a
    * matched key's old row and re-adds its new one; the file algebra
    * alone reads that as delete+insert, but the merge commit RECORDS
    * its key column (`mergeKey`), so this feed pairs the two sides on
    * it: a key present in both the net-removed and net-added rows is
    * an UPDATE (old row = preimage, new row = postimage); keys on one
    * side only stay inserts/deletes. The feed is computed PER COMMIT
    * and unioned (Delta computes CDC per commit for the same reason):
    * pairing runs inside one commit's own diff, so a merge can never
    * pair its images with rows from an unrelated commit that touched
    * the same key elsewhere in the interval, and mixed-key merge
    * sequences pair each commit on its own key. Consequence of the
    * per-commit shape: changes that would cancel across the interval
    * (a delete at v+1, the same row re-appended at v+2) are REPORTED
    * by this feed, exactly like Delta's CDF — the plain
    * [[changesBetween]] keeps the interval-level net algebra. Rows a
    * merge rewrote without changing cancel out of that commit's net
    * algebra and are absent here (the log diff cannot see them;
    * Delta's CDC files record them — documented deviation).
    */
  def changesBetweenCdc(spark: SparkSession, root: String, fromV: Long,
                        toV: Long): DataFrame = {
    require(fromV <= toV, s"changesBetweenCdc: $fromV > $toV")
    // PER COMMIT, then union — the Delta CDC shape. Pairing inside one
    // commit's own diff means a merge's update images can NEVER pair
    // rows from unrelated commits that happen to share a key inside
    // the requested interval (a deleteWhere of key k at v+1 and a
    // plain re-append of k at v+2 are a delete and an insert, not a
    // fabricated update). The interval-level net algebra stays the
    // contract of the PLAIN feed ([[changesBetween]]); the CDF shape
    // reports each commit's own changes.
    val vs = versionsOnDisk(root).filter(v => v > fromV && v <= toV)
    // ONE running snapshot folded forward across the interval: the
    // state at fromV is resolved once and each commit's entry applies
    // incrementally, so a 50-commit CDC request costs O(interval)
    // metadata reads and O(interval) replay work TOTAL — not two
    // fresh checkpoint-deep resolves per commit
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    val dvs =
      scala.collection.mutable.LinkedHashMap.empty[String, Set[String]]
    val (f0, d0) = resolveState(root, fromV)
    f0.foreach(live += _)
    d0.foreach { case (p, cov) => dvs(p) = cov.toSet }
    def snapAt(v: Long): Snapshot =
      Snapshot(v, live.toSeq, dvs.keys.toSeq)
    var prev = snapAt(fromV)
    // RENAME boundaries: each commit's feed initially speaks that
    // commit's OWN logical names; physical parquet names are stable
    // across renames, so feed column c at v maps
    // (logical@v -> physical -> logical@toV) to the INTERVAL-HEAD
    // name. The union below then carries ONE coherent column through
    // a rename instead of null-filled halves under both names — a
    // downstream incremental MERGE consumes the head schema directly.
    // Columns whose physical the head no longer maps (dropped inside
    // the interval) keep their own names (null-filled, still
    // reported); a pathological rename web that would collide two
    // output names falls back to the commit's own names.
    val phys2head: Map[String, String] =
      tableSchema(root, Some(toV)).map(st =>
        st.fields.iterator.map(f => physicalNameOf(f) -> f.name).toMap)
        .getOrElse(Map.empty)
    def alignToHead(df: DataFrame, v: Long): DataFrame = {
      if (phys2head.isEmpty) return df
      val log2phys: Map[String, String] = tableSchema(root, Some(v))
        .map(st => st.fields.iterator
          .map(f => f.name -> physicalNameOf(f)).toMap)
        .getOrElse(Map.empty)
      val renamed = df.columns.map { c =>
        if (c == "change_type") c
        else phys2head.getOrElse(log2phys.getOrElse(c, c), c)
      }
      if (renamed.distinct.length != renamed.length) df
      else if (renamed.sameElements(df.columns)) df
      else df.toDF(renamed.toIndexedSeq: _*)
    }
    val feeds = vs.flatMap { v =>
      val e = commitEntry(root, v)
      // metadata-only commits (constraints) cannot change rows — skip
      // the diff entirely (the state they fold to is unchanged too)
      val touches = e.adds.nonEmpty || e.removes.nonEmpty ||
        e.dv.nonEmpty || e.dvDrops.nonEmpty || e.dvState.nonEmpty
      if (!touches) None
      else {
        applyEntryToState(live, dvs, e)
        val cur = snapAt(v)
        val out = alignToHead(
          cdcOfCommit(spark, root, prev, cur, e.mergeKey), v)
        prev = cur
        Some(out)
      }
    }
    if (feeds.isEmpty) {
      // empty interval: the (empty) plain diff carries the schema
      val d = changesBetween(spark, root, fromV, toV)
      return d.withColumnRenamed("change", "change_type").limit(0)
    }
    // schema evolution inside the interval: later commits may carry
    // columns earlier ones lack — null-fill across the union, BALANCED
    // pairwise (a 1000-commit interval must build a log-depth union
    // tree, not a 1000-deep left spine the analyzer walks per rule),
    // then keep change_type last for CDC consumers
    val u = balancedUnionByName(feeds)
    u.select((u.columns.filter(_ != "change_type").map(col) :+
      col("change_type")).toIndexedSeq: _*)
  }

  /** Pairwise (log-depth) `unionByName` with null-fill — a linear
    * fold builds a plan whose depth equals the input count, which the
    * analyzer and optimizer then walk per rule application.
    */
  private def balancedUnionByName(dfs: Seq[DataFrame]): DataFrame =
    if (dfs.sizeIs == 1) dfs.head
    else balancedUnionByName(dfs.grouped(2).map {
      case Seq(a, b) => a.unionByName(b, allowMissingColumns = true)
      case Seq(a) => a
    }.toSeq)

  /** One commit's CDF slice: the (prevV, v] diff, with the commit's
    * own `mergeKey` (if it is a merge) pairing its removed-and-re-added
    * keys into update pre/post images. Non-merge commits label plain
    * insert/delete.
    */
  private def cdcOfCommit(spark: SparkSession, root: String,
                          prevS: Snapshot, curS: Snapshot,
                          mergeKey: Option[String]): DataFrame = {
    val diff = changesBetweenCore(spark, root, prevS, curS, curS.version)
    val ins = diff.filter(col("change") === "insert").drop("change")
    val del = diff.filter(col("change") === "delete").drop("change")
    mergeKey match {
      case Some(k) =>
        val updKeys = ins.select(k).intersect(del.select(k))
        del.join(updKeys, Seq(k), "left_semi")
          .withColumn("change_type", lit("update_preimage"))
          .unionByName(ins.join(updKeys, Seq(k), "left_semi")
            .withColumn("change_type", lit("update_postimage")))
          .unionByName(ins.join(updKeys, Seq(k), "left_anti")
            .withColumn("change_type", lit("insert")))
          .unionByName(del.join(updKeys, Seq(k), "left_anti")
            .withColumn("change_type", lit("delete")))
          // semi-joins reorder the key column first; restore the
          // table's column order for CDC consumers
          .select((diff.columns.filter(_ != "change").map(col) :+
            col("change_type")).toIndexedSeq: _*)
      case None =>
        ins.withColumn("change_type", lit("insert"))
          .unionByName(del.withColumn("change_type", lit("delete")))
    }
  }

  // constraint names and expressions live in the hand-rolled commit
  // JSON, so both are grammar-locked at write time (no double quotes,
  // no backslashes — single-quoted SQL string literals are fine)
  private val SafeName = "[A-Za-z0-9_]+".r
  private val SafeExpr = "[A-Za-z0-9_ ><=!+\\-*/().,%'&|]+".r

  /** CHECK constraints currently in force: every `set-constraint`
    * commit ≤ the tip, minus later `drop-constraint`s (latest wins per
    * name). Read from the log, so a FRESH reader/writer session
    * enforces the same contract — the constraint is table metadata,
    * not session state.
    */
  def constraints(root: String): Map[String, String] =
    constraintsAt(root, versionsOnDisk(root).lastOption.getOrElse(-1L))

  /** Active constraints at `upTo`: start from the newest checkpoint's
    * recorded constraint set (a [[vacuum]] may have truncated the
    * set-constraint commits themselves — the checkpoint carries the
    * contract across the truncation), then fold the commits after it.
    */
  private def constraintsAt(root: String, upTo: Long): Map[String, String] = {
    val cp = checkpointsOnDisk(root).filter(_ <= upTo).lastOption
    val fromCp: Map[String, String] =
      cp.flatMap(c => checkpointJsonEntry(root, c).cset).getOrElse(Map.empty)
    versionsOnDisk(root)
      .filter(v => v <= upTo && cp.forall(v > _))
      .foldLeft(fromCp) { (acc, v) =>
        val e = commitEntry(root, v)
        (e.op, e.cname) match {
          case ("set-constraint", Some(n)) => acc + (n -> e.cexpr.get)
          case ("drop-constraint", Some(n)) => acc - n
          case _ => acc
        }
      }
  }

  // ---------- protocol action (reader/writer feature gates) ----------
  //
  // The commit grammar tolerates unknown JSON keys — additive
  // evolution is free — which means a future action type whose ABSENCE
  // from the replay corrupts state (a new kind of remove, a different
  // liveness rule) would be silently dropped by an old binary, not
  // refused. The checkpoint sidecar already has `cpq` for its own
  // layout; this is the same gate for the COMMIT grammar, Delta's
  // protocol action: a table records the minimum reader/writer
  // protocol it requires, every read path refuses BY NAME when the
  // table demands a newer reader, every write path when it demands a
  // newer writer. Tables with no protocol action are implicitly
  // (1, 1), so existing logs are untouched. A future library version
  // that adds a replay-relevant action must bump the demanded
  // protocol in the same commit that first uses it.

  /** The protocol versions THIS binary understands. Vars only as a
    * test seam — specs impersonate a newer binary to prove the
    * checkpoint carries the demand across a vacuum truncation; real
    * code must treat them as constants.
    */
  private[graft] var SupportedReaderProtocol = 1L
  private[graft] var SupportedWriterProtocol = 1L

  /** The protocol in force at `upTo`: the newest `set-protocol` commit
    * at or below it, seeded from the newest checkpoint's carried
    * protocol (a vacuum may truncate the set-protocol commit itself —
    * the checkpoint carries the demand across the truncation).
    */
  private[graft] def protocolAt(root: String, upTo: Long): (Long, Long) = {
    val cp = checkpointsOnDisk(root).filter(_ <= upTo).lastOption
    val fromCp = cp.flatMap(c => checkpointJsonEntry(root, c).protocol)
      .getOrElse((1L, 1L))
    versionsOnDisk(root)
      .filter(v => v <= upTo && cp.forall(v > _))
      .foldLeft(fromCp)((acc, v) =>
        commitEntry(root, v).protocol.getOrElse(acc))
  }

  /** Refuse to PLAN/READ a version demanding a newer reader. Runs in
    * [[resolve]] and [[prunedPlanInfo]], so every snapshot, connector
    * scan, mutation's base resolution, and pruned million-file plan
    * passes through it; the per-call cost is cached commit parses
    * over the post-checkpoint suffix — the same O(interval) the
    * resolve itself pays.
    */
  private def checkProtocolRead(root: String, upTo: Long): Unit = {
    val (r, _) = protocolAt(root, upTo)
    if (r > SupportedReaderProtocol)
      throw new IllegalStateException(
        s"table at $root requires reader protocol $r; this binary " +
          s"supports $SupportedReaderProtocol — upgrade the library " +
          "(refusing to replay a log written under a newer protocol: " +
          "its commits may carry actions this reader would silently " +
          "drop)")
  }

  /** Refuse to COMMIT against a table demanding a newer writer. Runs
    * in [[writeCommit]] and [[commitMetadata]] — the two publish
    * choke points every commit path funnels through.
    */
  private def checkProtocolWrite(root: String): Unit = {
    val tip = versionsOnDisk(root).lastOption.getOrElse(return)
    val (_, w) = protocolAt(root, tip)
    if (w > SupportedWriterProtocol)
      throw new IllegalStateException(
        s"table at $root requires writer protocol $w; this binary " +
          s"supports $SupportedWriterProtocol — upgrade the library " +
          "(a commit written under older rules could violate an " +
          "invariant the newer protocol's readers rely on)")
  }

  /** Raise the table's required protocol — ONE data-free metadata
    * commit. Only versions this binary itself understands may be
    * demanded (a writer cannot require of others what it cannot
    * honor), and the demand never lowers: recording keeps the
    * per-component max of the current and requested versions
    * (recomputed per attempt on a lost version race).
    */
  def upgradeProtocol(root: String, minReader: Long,
                      minWriter: Long): Long = {
    require(minReader >= 1 && minWriter >= 1,
      "protocol versions start at 1")
    require(minReader <= SupportedReaderProtocol &&
      minWriter <= SupportedWriterProtocol,
      s"cannot demand protocol ($minReader,$minWriter): this binary " +
        s"supports ($SupportedReaderProtocol,$SupportedWriterProtocol) " +
        "and must not require of others what it cannot honor")
    def frag(): String = {
      val tip = versionsOnDisk(root).lastOption.getOrElse(-1L)
      val (r0, w0) = if (tip < 0) (1L, 1L) else protocolAt(root, tip)
      s""""protocol":{"r":${math.max(r0, minReader)},""" +
        s""""w":${math.max(w0, minWriter)}}"""
    }
    commitMetadata(root, () => frag(), "set-protocol")
  }

  /** Add a CHECK constraint as a commit: from this version on, every
    * append / streaming commit / merge must satisfy `sqlExpr` row-wise
    * (NULL counts as a violation, the CHECK contract). EXISTING rows
    * are validated first — a constraint the table already violates is
    * rejected loudly, never recorded. The data-quality gate of a
    * continuously ingesting table: bad batches fail at the commit
    * boundary instead of poisoning downstream consumers.
    */
  def addConstraint(spark: SparkSession, root: String, name: String,
                    sqlExpr: String): Long = {
    require(SafeName.matches(name), s"unsafe constraint name: $name")
    require(SafeExpr.matches(sqlExpr), s"unsafe constraint expr: $sqlExpr")
    def validateExisting(): Unit =
      if (versionsOnDisk(root).nonEmpty && resolve(root).files.nonEmpty) {
        val bad = violations(
          snapshotImpl(spark, root, None, guard = false), sqlExpr).count()
        require(bad == 0L,
          s"constraint '$name' ($sqlExpr) is violated by $bad existing " +
            s"row(s) of $root; clean the table before adding it")
      }
    validateExisting()
    // re-validate after every lost version race: the commit that beat
    // us may have appended violating rows — recording the constraint
    // over them would create exactly the state the gate forbids
    commitMetadata(root,
      () => s""""cname":"$name","cexpr":"$sqlExpr"""", "set-constraint",
      onConflict = () => validateExisting())
  }

  /** Drop a CHECK constraint (by commit, like everything else). */
  def dropConstraint(root: String, name: String): Long = {
    require(SafeName.matches(name), s"unsafe constraint name: $name")
    require(constraints(root).contains(name),
      s"no active constraint '$name' on $root (have " +
        s"${constraints(root).keys.toSeq.sorted.mkString(", ")})")
    commitMetadata(root, () => s""""cname":"$name"""", "drop-constraint")
  }

  /** ALTER TABLE ... ADD COLUMN as a commit: the table's recorded
    * schema widens by `newFields` (each forced nullable — existing
    * rows read the new column as NULL, the evolution contract) in ONE
    * data-free metadata commit. No data file changes; the connector
    * and SQL catalog pick the widened schema up from the log's newest
    * schema action, exactly as they do for write-side evolution.
    * Same-name columns refuse loudly (including a same-type re-add —
    * ALTER must be explicit, not idempotent), and the widening is
    * recomputed per attempt on a lost version race (the winner may
    * itself have evolved the schema).
    */
  def addColumns(spark: SparkSession, root: String,
                 newFields: Seq[org.apache.spark.sql.types.StructField])
      : Long = {
    require(newFields.nonEmpty, "addColumns: no columns to add")
    require(newFields.map(_.name).distinct.size == newFields.size,
      s"duplicate column names in ${newFields.map(_.name)}")
    def widened(): org.apache.spark.sql.types.StructType = {
      val cur = tableSchema(root).getOrElse {
        val snap = resolve(root)
        require(snap.files.nonEmpty,
          s"$root has no recorded schema and no live files to derive " +
            "one from")
        spark.read.option("mergeSchema", "true")
          .parquet(snap.files.map(f => s"$root/$f"): _*).schema
      }
      newFields.foreach(f =>
        require(!cur.fieldNames.contains(f.name),
          s"column '${f.name}' already exists on $root"))
      val mapped = mappingMode(cur)
      // caller-supplied fields are mapping-stripped: a StructField
      // lifted from another mapped table's schema must not bind a
      // physical name this table's files never stored
      val clean = stripMapping(
        org.apache.spark.sql.types.StructType(newFields))
      org.apache.spark.sql.types.StructType(
        asNullable(cur).fields ++ clean.fields.map { f =>
          val g = f.copy(nullable = true)
          // mapping mode: a FRESH physical name, so re-adding a
          // dropped column's logical name can never resurrect its
          // stored bytes
          if (!mapped) g
          else g.copy(metadata = new org.apache.spark.sql.types
            .MetadataBuilder().withMetadata(g.metadata)
            .putString(PhysicalNameKey, freshPhysicalName()).build())
        })
    }
    commitMetadata(root, () => schemaFrag(widened()), "set-schema")
  }

  private def schemaFrag(st: org.apache.spark.sql.types.StructType)
      : String = {
    val b64 = java.util.Base64.getEncoder.encodeToString(
      st.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s""""schema":"$b64""""
  }

  // ------------- column mapping (RENAME / DROP COLUMN) -------------
  //
  // The Delta column-mapping idea scaled to this log: every field MAY
  // carry an explicit PHYSICAL parquet name in its StructField
  // metadata (`graft.physical`); absent means physical == logical.
  // Data files always store physical names — immutable once written —
  // so RENAME and DROP are single data-free set-schema commits:
  // RENAME changes the logical name and keeps the physical; DROP
  // removes the field (its stored column becomes invisible); a later
  // re-ADD of the same logical name binds a FRESH generated physical
  // name, so it can never resurrect the dropped column's bytes.
  // Readers map physical -> logical on every path ([[toLogicalDf]] /
  // the connector's requiredSchema translation); writers map logical
  // -> physical at the staging choke points ([[stagePrep]]). The
  // first RENAME/DROP stamps EVERY field with its explicit physical
  // name — mapping mode is one-way, which is what makes "was this
  // name ever dropped?" decidable without tombstones. Time travel is
  // untouched: the schema (and therefore the mapping) at any version
  // is that version's recorded action.
  //
  // Scope guards, all loud: partition columns cannot be renamed or
  // dropped (their values are directory-encoded under the physical
  // name); columns referenced by CHECK constraints cannot be renamed
  // or dropped (the expression would silently stop resolving); under
  // mapping mode a WRITE may not introduce new columns implicitly —
  // ALTER TABLE ADD COLUMN first (the write-side evolution shortcut
  // cannot know whether the new name collides with a dropped
  // column's stored bytes).

  /** Field-metadata key carrying a column's physical parquet name. */
  private[graft] val PhysicalNameKey = "graft.physical"

  private[graft] def physicalNameOf(
      f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalNameKey))
      f.metadata.getString(PhysicalNameKey)
    else f.name

  /** logical -> physical, only where they differ (empty = mapping is
    * the identity and every mapped path short-circuits away).
    */
  private[graft] def columnMapping(
      st: org.apache.spark.sql.types.StructType): Map[String, String] =
    st.fields.iterator.map(f => f.name -> physicalNameOf(f))
      .filter(p => p._1 != p._2).toMap

  private[graft] def columnMappingAt(root: String,
                                     version: Option[Long] = None)
      : Map[String, String] =
    tableSchema(root, version).map(columnMapping).getOrElse(Map.empty)

  /** Mapping mode: any field carries an explicit physical name. */
  private def mappingMode(
      st: org.apache.spark.sql.types.StructType): Boolean =
    st.fields.exists(_.metadata.contains(PhysicalNameKey))

  private def freshPhysicalName(): String =
    "gc_" + UUID.randomUUID().toString.replace("-", "").take(16)

  /** Every field stamped with its explicit physical name — the
    * one-way switch into mapping mode.
    */
  private def stampPhysical(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(st.fields.map { f =>
      if (f.metadata.contains(PhysicalNameKey)) f
      else f.copy(metadata = new org.apache.spark.sql.types
        .MetadataBuilder().withMetadata(f.metadata)
        .putString(PhysicalNameKey, f.name).build())
    })

  /** The physical stats/skipping-index key for a logical column. */
  private def physicalOf(root: String, c: String,
                         version: Option[Long] = None): String =
    columnMappingAt(root, version).getOrElse(c, c)

  private def requireNotConstrained(root: String, colName: String,
                                    verb: String): Unit = {
    val refs = constraints(root).filter { case (_, ex) =>
      ("\\b" + java.util.regex.Pattern.quote(colName) + "\\b").r
        .findFirstIn(ex).nonEmpty
    }
    require(refs.isEmpty,
      s"cannot $verb column '$colName' of $root: CHECK constraint(s) " +
        s"${refs.keys.toSeq.sorted.mkString(", ")} reference it; drop " +
        "them first")
  }

  /** Hidden-transform SOURCE columns pin their names: the recorded
    * spec strings (`days(ts)`) bind by name on every later write and
    * every filter rewrite, so renaming or dropping the source would
    * silently break the table's layout contract.
    */
  private def requireNotTransformSource(root: String, colName: String,
                                        verb: String): Unit = {
    val srcs = partitionTransforms(root)
      .flatMap(s => scala.util.Try(
        PartitionTransforms.parse(s)).toOption)
      .filter(_.source == colName)
    require(srcs.isEmpty,
      s"cannot $verb column '$colName' of $root: it is the source of " +
        s"partition transform(s) ${srcs.map(_.spec).mkString(", ")}")
  }

  private def recordedSchemaOrRefuse(root: String, verb: String)
      : org.apache.spark.sql.types.StructType =
    tableSchema(root).getOrElse(throw new IllegalStateException(
      s"$root has no log-recorded schema action; $verb requires one " +
        "(any append/overwrite with this library version records it)"))

  /** ALTER TABLE ... RENAME COLUMN as ONE data-free metadata commit:
    * the logical name changes, the physical parquet name stays — no
    * data pass at any scale. Recomputed per attempt on a lost
    * version race.
    */
  def renameColumn(spark: SparkSession, root: String, from: String,
                   to: String): Long = {
    require(safeColName(to), s"unsafe new column name: $to")
    def renamed(): org.apache.spark.sql.types.StructType = {
      val cur = recordedSchemaOrRefuse(root, "RENAME COLUMN")
      require(cur.fieldNames.contains(from),
        s"no column '$from' on $root")
      require(!cur.fieldNames.contains(to),
        s"column '$to' already exists on $root")
      require(!partitionColumns(root).contains(from),
        s"cannot rename partition column '$from': its values are " +
          "directory-encoded under the physical name")
      requireNotTransformSource(root, from, "rename")
      requireNotConstrained(root, from, "rename")
      val stamped = stampPhysical(asNullable(cur))
      // the new logical name must not shadow a LIVE physical name:
      // reads map physical -> logical, and a collision would make
      // that ambiguous
      require(!stamped.fields.exists(f => physicalNameOf(f) == to),
        s"cannot rename '$from' to '$to': '$to' is a live physical " +
          "column name in the data files")
      org.apache.spark.sql.types.StructType(stamped.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
    }
    commitMetadata(root, () => schemaFrag(renamed()), "set-schema")
  }

  /** ALTER TABLE ... DROP COLUMN as ONE data-free metadata commit:
    * the field leaves the schema; its stored bytes stay in the files,
    * invisible (reads never request the physical column) until
    * rewrites purge them. Recomputed per attempt on a lost race.
    */
  def dropColumns(spark: SparkSession, root: String,
                  names: Seq[String]): Long = {
    require(names.nonEmpty, "dropColumns: no columns to drop")
    require(names.distinct.size == names.size,
      s"duplicate column names in $names")
    def dropped(): org.apache.spark.sql.types.StructType = {
      val cur = recordedSchemaOrRefuse(root, "DROP COLUMN")
      names.foreach { n =>
        require(cur.fieldNames.contains(n), s"no column '$n' on $root")
        require(!partitionColumns(root).contains(n),
          s"cannot drop partition column '$n': the table's layout is " +
            "keyed on it")
        requireNotTransformSource(root, n, "drop")
        requireNotConstrained(root, n, "drop")
      }
      val rem = stampPhysical(asNullable(cur)).fields
        .filterNot(f => names.contains(f.name))
      require(rem.nonEmpty, s"cannot drop every column of $root")
      org.apache.spark.sql.types.StructType(rem)
    }
    commitMetadata(root, () => schemaFrag(dropped()), "set-schema")
  }

  /** ALTER TABLE ... ALTER COLUMN ... TYPE as ONE data-free metadata
    * commit, for WIDENING conversions only (byte < short < int < long;
    * float → double): the physical parquet type in the immutable data
    * files stays what each file stored, the LOGICAL type widens in the
    * recorded schema, and reads upcast per file inside Spark's parquet
    * reader (its type-widening support — the same mechanism Delta's
    * type widening rides). The commit stamps mapping mode: the
    * recorded schema becomes the read authority ([[readRawFiles]]
    * reads with the explicit physical schema — a footer MERGE would
    * refuse the mixed int32/int64 footers), which is also what makes
    * the log's skipping stats compare in the logical domain (int stats
    * are stored as longs at every width). Narrowing and incompatible
    * changes refuse loudly; partition columns refuse (their values are
    * directory-encoded and typed by the layout). Recomputed per
    * attempt on a lost version race.
    */
  def widenColumnType(spark: SparkSession, root: String, name: String,
                      to: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.types._
    def rank(dt: DataType): Option[Int] = dt match {
      case ByteType => Some(0)
      case ShortType => Some(1)
      case IntegerType => Some(2)
      case LongType => Some(3)
      case _ => None
    }
    def widens(from: DataType, t: DataType): Boolean = (from, t) match {
      case (FloatType, DoubleType) => true
      case _ =>
        (for { a <- rank(from); b <- rank(t) } yield a < b)
          .getOrElse(false)
    }
    def widened(): StructType = {
      val cur = recordedSchemaOrRefuse(root, "ALTER COLUMN TYPE")
      val f = cur.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column '$name' on $root"))
      require(widens(f.dataType, to),
        s"cannot alter column '$name' of $root from " +
          s"${f.dataType.simpleString} to ${to.simpleString}: only " +
          "widening conversions (byte<short<int<long, float->double) " +
          "are data-free — anything else would reinterpret or " +
          "truncate stored values")
      require(!partitionColumns(root).contains(name),
        s"cannot widen partition column '$name': its values are " +
          "directory-encoded and typed by the table layout")
      StructType(stampPhysical(asNullable(cur)).fields.map(g =>
        if (g.name == name) g.copy(dataType = to) else g))
    }
    commitMetadata(root, () => schemaFrag(widened()), "set-schema")
  }

  /** The staging choke point's mapping step: under mapping mode,
    * logical columns rename to their physical names and UNKNOWN
    * columns refuse loudly (write-side evolution cannot know whether
    * a new name collides with a dropped column's stored bytes — ALTER
    * TABLE ADD COLUMN assigns a fresh physical name instead). The
    * identity on every unmapped table.
    */
  private def stagePrep(root: String, df: DataFrame): DataFrame =
    tableSchema(root) match {
      case Some(s) if mappingMode(s) =>
        val unknown = df.columns.filterNot(s.fieldNames.contains)
        require(unknown.isEmpty,
          s"cannot write new column(s) ${unknown.mkString(", ")} to " +
            s"$root: the table uses column mapping (a RENAME/DROP " +
            "COLUMN happened) — ALTER TABLE ADD COLUMN first")
        toPhysicalDf(df, s)
      case _ => df
    }

  /** Rename `df`'s logical columns to their physical names (the
    * staging direction).
    */
  private def toPhysicalDf(df: DataFrame,
      st: org.apache.spark.sql.types.StructType): DataFrame = {
    val m = columnMapping(st)
    if (m.isEmpty) df
    else df.select(df.columns.toIndexedSeq.map(c =>
      m.get(c).map(p => col(c).as(p)).getOrElse(col(c))): _*)
  }

  /** Rename physical columns back to logical (the read direction) —
    * applied right after a raw file read (+ DV mask). Helper columns
    * (`__`-prefixed — mask keys, paths) pass through; anything else
    * that is not a CURRENT physical name is a dropped or renamed-away
    * column's stored bytes and is projected off (it must never shadow
    * a live logical name). The identity on every unmapped table.
    */
  /** RAW read of the given ABSOLUTE data-file paths. Under mapping
    * mode the read carries the EXPLICIT physical schema derived from
    * the recorded schema at `version` — physical names, logical
    * (possibly type-WIDENED) top-level types, no field metadata:
    * zero footer sweeps at plan time, and files written before an
    * ALTER COLUMN TYPE widening upcast INSIDE Spark's parquet reader
    * (int32→int64, float→double — the reader's type-widening support;
    * a footer MERGE would refuse the mixed footers outright). Dropped
    * columns' stored bytes are never requested. Unmapped tables keep
    * the footer-merged read: their footer view may legitimately be
    * wider than the recorded action (the documented type-conflict
    * fallback), and mapping mode — which refuses implicit evolution —
    * is what makes the recorded schema authoritative.
    */
  private def readRawFiles(spark: SparkSession, root: String,
                           abs: Seq[String],
                           version: Option[Long]): DataFrame =
    tableSchema(root, version) match {
      case Some(st) if mappingMode(st) =>
        val phys = org.apache.spark.sql.types.StructType(
          st.fields.map(f => org.apache.spark.sql.types.StructField(
            physicalNameOf(f), f.dataType, nullable = true)))
        spark.read.schema(phys).parquet(abs: _*)
      case _ =>
        spark.read.option("mergeSchema", "true").parquet(abs: _*)
    }

  private[graft] def toLogicalDf(df: DataFrame,
      st: org.apache.spark.sql.types.StructType): DataFrame = {
    val m = columnMapping(st)
    if (m.isEmpty) return df
    val phys2log = st.fields.iterator
      .map(f => physicalNameOf(f) -> f.name).toMap
    df.select(df.columns.toIndexedSeq.flatMap { c =>
      phys2log.get(c) match {
        case Some(l) if l == c => Some(col(c))
        case Some(l) => Some(col(c).as(l))
        case None if c.startsWith("__") => Some(col(c))
        case None => None // dead physical (dropped / renamed away)
      }
    }: _*)
  }

  /** [[toLogicalDf]] against the schema at `version` — the shape the
    * raw-read call sites use; the identity when no schema is
    * recorded.
    */
  private def toLogicalAt(root: String, df: DataFrame,
                          version: Option[Long]): DataFrame =
    tableSchema(root, version).map(toLogicalDf(df, _)).getOrElse(df)

  /** Project EXACTLY the logical schema (mapping-aware null-fill) —
    * what user-facing snapshot reads present under mapping mode, so
    * dropped columns' bytes can never resurface.
    */
  private def projectLogical(df: DataFrame,
      st: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(st.fields.toIndexedSeq.map { f =>
      val p = physicalNameOf(f)
      if (df.columns.contains(p)) col(p).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)

  /** Publish a data-free metadata commit through [[commitAtTip]]. */
  private def commitMetadata(root: String, fields: () => String,
                             op: String,
                             onConflict: () => Unit = () => ()): Long = {
    commitAtTip(root, op, Seq.empty, onConflict) { next =>
      // per attempt: the commit that beat us may have raised the
      // writer protocol
      checkProtocolWrite(root)
      publishCommit(root, next,
        s"""{"v":$next,"op":"$op","adds":[],"removes":[],""" +
          s""""rows":0,"rowsRemoved":0,${fields()}}""")
    }.get
  }

  /** Rows failing a CHECK expression — false OR NULL both violate. */
  private def violations(df: DataFrame, sqlExpr: String): DataFrame =
    df.filter(!coalesce(expr(sqlExpr).cast("boolean"), lit(false)))

  /** Validate freshly STAGED files (exactly the bytes that would land)
    * against the active constraints; on violation the staged files are
    * cleaned up and the commit never happens. Row-preserving rewrites
    * (delete survivors, compaction, optimize) are exempt — they move
    * rows, they don't admit new ones.
    */
  private def validateStaged(spark: SparkSession, root: String,
                             adds: Seq[String], context: String,
                             prepped: Boolean = true): Unit = {
    val cs = constraints(root)
    if (cs.isEmpty || adds.isEmpty) return
    val staged0 = spark.read.option("mergeSchema", "true")
      .parquet(adds.map(f => s"$root/$f"): _*)
    // prepped files store PHYSICAL names (written through stagePrep)
    // and must map back to logical before constraint expressions can
    // resolve; an overwrite's staged files carry the NEW frame's own
    // names — its schema action has not committed yet, so mapping
    // them through the OLD schema would null out any column whose
    // name a rename freed up, and a constraint on it would
    // mis-validate
    val staged =
      if (prepped) toLogicalAt(root, staged0, None) else staged0
    // CHECK semantics for a schema-evolved batch: a table column the
    // batch lacks evaluates as NULL — a counted violation, not an
    // analysis error (the log supports evolved appends, so constraints
    // must resolve against the TABLE's columns, not just the batch's)
    val tableCols =
      if (versionsOnDisk(root).nonEmpty && resolve(root).files.nonEmpty)
        snapshotImpl(spark, root, None, guard = false).schema.fields.toSeq
      else Seq.empty
    val df = alignToSchema(staged, tableCols)
    def reject(name: String, ex: String, why: String): Nothing = {
      adds.foreach(f => io(root).deleteIfExists(s"$root/$f"))
      throw new IllegalArgumentException(
        s"constraint '$name' ($ex) $why; the $context to $root was " +
          "rejected and its staged files removed")
    }
    cs.foreach { case (name, ex) =>
      val bad =
        try violations(df, ex).count()
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            reject(name, ex, s"does not resolve against the batch " +
              s"(${e.getMessage.linesIterator.next()})")
        }
      if (bad > 0) reject(name, ex, s"violated by $bad row(s)")
    }
  }

  /** One commit's full ledger entry — what `DESCRIBE HISTORY` exposes.
    * `rows`/`rowsRemoved` are the footer-exact counts logged at commit
    * time; absent on pre-stats commits (lenient parse), never guessed.
    */
  final case class CommitInfo(version: Long, op: String,
                              adds: Seq[String], removes: Seq[String],
                              rows: Option[Long], rowsRemoved: Option[Long],
                              batchId: Option[Long])

  /** Parse one commit's ledger entry. Per-version (not a whole-log
    * scan) so a distributed history reader can hand each executor its
    * own slice of commit files — see the `graft-table-history` source.
    */
  def commitInfoAt(root: String, version: Long): CommitInfo = {
    val e = commitEntry(root, version)
    CommitInfo(e.version, e.op, e.adds, e.removes, e.rows,
      e.rowsRemoved, e.batchId)
  }

  /** The commit ledger, oldest first (versions still on disk only —
    * vacuum truncates history by contract).
    */
  def history(root: String): Seq[CommitInfo] =
    versionsOnDisk(root).map(commitInfoAt(root, _))

  /** The version in force at wall-clock `tsMillis` — TIMESTAMP AS OF.
    * Publish times are the commit files' mtimes (set by the atomic
    * link at publish); like Delta, non-monotone raw times (clock skew,
    * a copied log) are monotonized by running max before the lookup,
    * so a later version never resolves to an earlier time. Loud when
    * `tsMillis` predates the first retained commit (vacuum truncates
    * history by contract).
    */
  def versionAt(root: String, tsMillis: Long): Long = {
    val vs = versionsOnDisk(root)
    require(vs.nonEmpty, s"txlog at $root has no commits")
    val mono = vs.scanLeft((-1L, Long.MinValue)) { case ((_, acc), v) =>
      val t = io(root).mtime(commitPath(root, v))
      (v, math.max(acc, t))
    }.drop(1)
    val sel = mono.filter(_._2 <= tsMillis)
    require(sel.nonEmpty,
      s"no commit of $root at or before t=$tsMillis " +
        s"(first retained commit is at t=${mono.head._2})")
    sel.last._1
  }

  /** Read the table as of wall-clock `tsMillis` — time travel by
    * timestamp ([[versionAt]] + [[snapshot]]).
    */
  def snapshotAt(spark: SparkSession, root: String,
                 tsMillis: Long): DataFrame =
    snapshot(spark, root, Some(versionAt(root, tsMillis)))

  /** Committed versions still on disk, ascending. */
  def versions(root: String): Seq[Long] = versionsOnDisk(root)

  /** Write a log checkpoint at `at` (the tip when None) WITHOUT
    * removing anything: [[resolve]] replays from the newest checkpoint
    * at or below its target, so a periodic checkpoint keeps snapshot
    * resolution O(commits since last checkpoint) instead of O(table
    * lifetime) — the Delta checkpoint-every-N-commits idea. Every
    * version stays readable (this is vacuum's checkpoint step alone,
    * decoupled from reclamation). Returns the checkpointed version.
    */
  /** Above this sidecar row count, [[checkpoint]] writes the new
    * checkpoint INCREMENTALLY: the prior sidecar streams through with
    * the suffix's removes/adds applied row-at-a-time, so
    * checkpointing a million-file table never materializes its live
    * set or skipping index on the driver (the write-side twin of the
    * pruned planning path). Test seam.
    */
  private[graft] var checkpointStreamThreshold: Long = 100000L

  def checkpoint(root: String, at: Option[Long] = None): Long = {
    val vs = versionsOnDisk(root)
    require(vs.nonEmpty, s"txlog at $root has no commits")
    val v = at.getOrElse(vs.max)
    require(vs.contains(v), s"version $v not in txlog (have $vs)")
    val cpPath = checkpointPath(root, v)
    if (!io(root).exists(cpPath)) {
      // incremental base: the newest PRIOR columnar checkpoint big
      // enough that re-materializing its whole state would hurt
      val incBase = checkpointsOnDisk(root).filter(_ < v)
        .filter(c => io(root).exists(checkpointSidecarPath(root, c)))
        .lastOption
        .filter(c => checkpointJsonEntry(root, c).columnar)
        .filter(c => sidecarRowCount(root, c) >= checkpointStreamThreshold)
      val (dvs, tfiles, tbytes) = incBase match {
        case Some(c) =>
          val suffix = vs.filter(x => x > c && x <= v)
            .map(commitEntry(root, _))
          val sfx = suffixStateOf(suffix)
          var nf = 0L
          var nb = 0L
          // synopsis at v: physical names are rename-stable, so base
          // rows re-encode their flat stats under the same entries;
          // base SORT order streams through unchanged (suffix adds
          // append at the tail — small by the checkpoint cadence)
          val syn = sidecarSynopsisAt(root, v)
          val wrote = withSidecarWriter(root, v, syn) { write =>
            // base rows stream through unless the suffix touched the
            // path (its final state, stats included, is the suffix's
            // to declare); nothing is ever held beyond one row
            scanCheckpointSidecar(root, c) { fe =>
              if (!sfx.touched.contains(fe.path)) {
                write(fe); nf += 1; nb += fe.bytes.getOrElse(0L)
              }
              false
            }
            sfx.live.foreach { f =>
              val fe = sfx.idx.entry(f)
              write(fe); nf += 1; nb += fe.bytes.getOrElse(0L)
            }
          }
          if (!wrote) {
            // the sidecar already existed when the writer opened — a
            // crashed prior attempt's orphan, or a concurrent
            // checkpointer publishing in the window since this call
            // started (content at a version is deterministic, so the
            // bytes are reused either way). The body never ran, so
            // the accumulated totals are zero/stale: recompute them
            // from the PUBLISHED bytes — recording tfiles:0/tbytes:0
            // would make the pruned planner report ~0 sizeInBytes and
            // Spark could broadcast a million-file table
            nf = 0L; nb = 0L
            scanCheckpointSidecar(root, v) { fe =>
              nf += 1; nb += fe.bytes.getOrElse(0L); false
            }
          }
          (dvStateFold(checkpointJsonEntry(root, c), suffix), nf, nb)
        case None =>
          val (files, dvs0) = resolveState(root, v)
          val live = files.toSet
          val idx = skippingIndex(root, Some(v))
          writeCheckpointSidecar(root, v, files,
            idx.int.filter(kv => live(kv._1)),
            idx.str.filter(kv => live(kv._1)),
            idx.nulls.filter(kv => live(kv._1)),
            idx.parts.filter(kv => live(kv._1)),
            idx.sizes.filter(kv => live(kv._1)),
            syn = sidecarSynopsisAt(root, v),
            // partition columns refuse rename, so logical == physical
            sortPartCols = partitionColumns(root, Some(v)))
          (dvs0, files.size.toLong,
            idx.sizes.filter(kv => live(kv._1)).values.sum)
      }
      def arr(xs: Seq[String]) =
        xs.map("\"" + _ + "\"").mkString("[", ",", "]")
      // the checkpoint carries the ACTIVE CONSTRAINT SET too: a later
      // vacuum may truncate the set-constraint commits themselves, and
      // the contract must survive the truncation
      val cset = constraintsAt(root, v)
        .map { case (n, e) => s""""$n":"$e"""" }.mkString("{", ",", "}")
      // ... and the active DELETION-VECTOR state (sidecar → covers),
      // for the same reason: the delete-dv commits may be truncated
      // while the masks they published still apply
      val dvsJson =
        if (dvs.isEmpty) ""
        else ""","dvs":""" + dvs.map { case (p, cov) =>
          s""""$p":${arr(cov)}"""
        }.mkString("{", ",", "}")
      // ... and the streaming-batch idempotency ledger at v: vacuum
      // may truncate the streaming commits themselves, and a replay of
      // a truncated batch must still read as a replay
      val bids = committedBatchIdsUpTo(root, v).toSeq.sorted
      val bidsJson =
        if (bids.isEmpty) ""
        else s""","batchIds":${bids.mkString("[", ",", "]")}"""
      // ... and the schema action, for the same reason
      val schemaJson = tableSchema(root, Some(v)).map { st =>
        val b64 = java.util.Base64.getEncoder.encodeToString(
          st.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        s""","schema":"$b64""""
      }.getOrElse("")
      // the PER-FILE state — the live set with its SKIPPING INDEX
      // (per-file [min,max] int + string, row/null counts, partition
      // values) — went to the COLUMNAR parquet sidecar above, one row
      // per live file: at 100k–1M files the planning state loads as a
      // compact columnar stream, never as an O(table) JSON string on
      // the driver (and past checkpointStreamThreshold it was WRITTEN
      // as a stream too — prior sidecar through, suffix applied). The
      // sidecar publishes FIRST (temp + atomic move), the JSON half
      // last — a crash between the two leaves an orphan sidecar no
      // reader ever resolves through, and the next checkpoint attempt
      // at the version reuses it (content at a version is
      // deterministic). With the carry, the connector's FileIndex and
      // every stats-pruned read replay checkpoint + suffix in
      // O(interval) exactly like resolve, and a vacuum's truncation
      // cannot drop the surviving files' stats. Dead files' entries
      // are not carried — only live files are ever looked up
      val pcs = partitionColumns(root, Some(v))
      val pcsJ = if (pcs.isEmpty) "" else s""","partCols":${arr(pcs)}"""
      // ... and the hidden-transform spec, which vacuum must not drop
      val pts = partitionTransforms(root, Some(v))
      val ptsJ = if (pts.isEmpty) "" else s""","ptspec":${arr(pts)}"""
      // ... and the demanded protocol: a vacuum may truncate the
      // set-protocol commit itself, and the gate must survive
      val (pr, pw) = protocolAt(root, v)
      val protoJ =
        if (pr == 1L && pw == 1L) ""
        else s""","protocol":{"r":$pr,"w":$pw}"""
      // live-set totals: the pruned planner's sizeInBytes from the
      // JSON half alone — no sidecar scan per planned query
      val totJ = s""","tfiles":$tfiles,"tbytes":$tbytes"""
      try io(root).putIfAbsent(cpPath,
        s"""{"v":$v,"cpq":1,"adds":[],"removes":[],""" +
          s""""cset":$cset$dvsJson$bidsJson$schemaJson$pcsJ$ptsJ""" +
          s"""$protoJ$totJ}""")
      catch {
        // checkpoint content at a version is deterministic: a racing
        // writer already published the same thing — the loser is a
        // clean no-op, not a failure
        case _: FileAlreadyExistsException => ()
      }
    }
    v
  }

  /** What [[readCheckpointSidecar]] streams back out of the parquet
    * half of a columnar checkpoint.
    */
  private[graft] final case class SidecarData(
      adds: Seq[String],
      intStats: Map[String, Map[String, (Long, Long)]],
      strStats: Map[String, Map[String, (String, String)]],
      nstats: Map[String, (Long, Map[String, Long])],
      parts: Map[String, Map[String, String]],
      sizes: Map[String, Long])

  /** The per-file planning stats a sidecar ALSO stores as FLAT
    * top-level columns, so the pruned planner can push its predicate
    * into the parquet read itself (row-group skip + record filter).
    * The repeated `cols` group cannot serve that purpose: parquet
    * row-group statistics on a repeated field mix every table
    * column's values together. One entry per stats-eligible field of
    * the table schema AT THE CHECKPOINT VERSION, in field order,
    * keyed by PHYSICAL name (stable across renames): `(phys, isInt)`.
    * The flat field names are index-based (`zi3n`/`zi3x` = int
    * min/max of entry 3, `zs3n`/`zs3x` = string min/max) — parquet
    * filter paths split on '.', so arbitrary column names cannot be
    * field names; reader and writer derive the SAME entry list from
    * the same recorded schema action, so indexes always agree.
    */
  private[graft] final case class SidecarSynopsis(
      cols: Seq[(String, Boolean)]) {
    def fieldLines: Seq[String] = cols.zipWithIndex.flatMap {
      case ((_, true), i) =>
        Seq(s"  optional int64 zi${i}n;", s"  optional int64 zi${i}x;")
      case ((_, false), i) =>
        Seq(s"  optional binary zs${i}n (UTF8);",
          s"  optional binary zs${i}x (UTF8);")
    }
  }

  /** Synopsis columns bounded: a 1000-column table's sidecar must not
    * carry 2000 flat stat columns — the first 64 stats-eligible
    * fields (schema order, partition columns included since they stay
    * in the schema) cover every realistic skipping key; predicates on
    * later columns simply don't push (the row-level filter above the
    * scan still applies exactly).
    */
  private[graft] val SynopsisMaxCols = 64

  /** The synopsis the sidecar at version `v` carries (empty when the
    * table has no recorded schema — pre-schema-action logs).
    * Deterministic from the recorded schema alone: the pruned reader
    * derives the identical list at plan time.
    */
  private[graft] def sidecarSynopsisAt(root: String, v: Long)
      : SidecarSynopsis = {
    import org.apache.spark.sql.types._
    val fromSchema = tableSchema(root, Some(v)) match {
      case None => Seq.empty
      case Some(st) =>
        st.fields.iterator.flatMap { f =>
          f.dataType match {
            case ByteType | ShortType | IntegerType | LongType =>
              Some((physicalNameOf(f), true))
            case StringType => Some((physicalNameOf(f), false))
            case _ => None
          }
        }.toSeq
    }
    // declared partition columns ride the synopsis too (string
    // entries; their flat values fall back to the per-file partition
    // value): for HIDDEN transform columns — which are deliberately
    // not in the recorded schema — this is what lets a rewritten
    // partition predicate skip sidecar row groups. Identity partition
    // columns are already in the schema list; dedupe keeps indices
    // stable for them. Both the writer and every reader derive this
    // same list from the same log state at `v`, so the zi/zs field
    // indices always agree.
    val have = fromSchema.map(_._1).toSet
    val fromParts = partitionColumns(root, Some(v))
      .filterNot(have).map(c => (c, false))
    SidecarSynopsis((fromSchema ++ fromParts)
      .take(SynopsisMaxCols))
  }

  /** The sidecar's parquet schema: one row per live file, its
    * per-column state as a repeated group (a column appears when it
    * has ANY recorded fact — int range, string range, null count, or
    * partition value), plus the FLAT synopsis columns the pushdown
    * filters against. Written and read with parquet-mr's Group API
    * driver-side: a checkpoint must be writable from [[vacuum]] and
    * [[checkpoint]] without a SparkSession, and KB-to-MB metadata
    * files do not need a cluster job.
    */
  private def sidecarSchemaWith(syn: SidecarSynopsis)
      : org.apache.parquet.schema.MessageType =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      ("""message graft_checkpoint {
        |  required binary path (UTF8);
        |  optional int64 rows;
        |  optional int64 bytes;
        |""".stripMargin +
        syn.fieldLines.mkString("", "\n", if (syn.cols.isEmpty) "" else "\n") +
        """  repeated group cols {
        |    required binary name (UTF8);
        |    optional int64 imin;
        |    optional int64 imax;
        |    optional binary smin (UTF8);
        |    optional binary smax (UTF8);
        |    optional int64 nulls;
        |    optional binary part (UTF8);
        |  }
        |}""".stripMargin))

  /** Sidecar row-group size: deliberately SMALL (vs parquet's 128 MB
    * default) so a selective pushdown can skip most of a big
    * sidecar's row groups — at ~100 B/row this is ~10k rows per
    * group, and a point query over a sorted 1M-file sidecar decodes
    * one group instead of one giant one. Var as a test seam.
    */
  private[graft] var sidecarRowGroupBytes: Long = 1L << 20

  /** Open a sidecar writer for version `v` (temp + atomic move, race
    * losers drop their copies) and run `body` with a row sink — the
    * shared plumbing of the map-built full path and the STREAMED
    * incremental path (which never holds the table's rows at once).
    * Returns false when the sidecar ALREADY existed and the body was
    * never run — the caller's derived totals are then stale and must
    * be recomputed from the published bytes (a crashed prior attempt
    * or a concurrent checkpointer may have published between the
    * caller's own existence probe and this call).
    */
  private def withSidecarWriter(root: String, v: Long,
      syn: SidecarSynopsis)(
      body: (FileEntry => Unit) => Unit): Boolean = {
    val target = checkpointSidecarPath(root, v)
    if (io(root).exists(target)) return false // complete by move-atomicity
    val tmp = s"$target.tmp-${UUID.randomUUID().toString.take(8)}"
    val conf = new org.apache.hadoop.conf.Configuration()
    val schema = sidecarSchemaWith(syn)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(new org.apache.hadoop.fs.Path(tmp), conf))
      .withType(schema)
      .withRowGroupSize(sidecarRowGroupBytes)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val factory =
      new org.apache.parquet.example.data.simple.SimpleGroupFactory(
        schema)
    try {
      try body(fe => writer.write(sidecarGroup(factory, fe, syn)))
      finally writer.close()
    } catch {
      // a failed write (disk full, IO error) must not orphan the tmp
      // under _txlog — nothing ever lists or reclaims tmp names
      case t: Throwable =>
        io(root).deleteIfExists(tmp)
        throw t
    }
    try io(root).move(tmp, target)
    catch {
      // a racing checkpointer moved first (local move raises
      // FileAlreadyExists; Hadoop rename-onto-existing reports
      // failure as IOException); content at a version is
      // deterministic, so the loser just drops its copy
      case _: FileAlreadyExistsException => io(root).deleteIfExists(tmp)
      case e: java.io.IOException =>
        io(root).deleteIfExists(tmp)
        if (!io(root).exists(target)) throw e
    }
    true
  }

  private def sidecarGroup(
      factory: org.apache.parquet.example.data.simple.SimpleGroupFactory,
      fe: FileEntry, syn: SidecarSynopsis)
      : org.apache.parquet.example.data.Group = {
    val g = factory.newGroup()
    g.append("path", fe.path)
    fe.rows.foreach(g.append("rows", _))
    fe.bytes.foreach(g.append("bytes", _))
    // the flat synopsis — MUST mirror the pruned index's per-file
    // View exactly (int from recorded int stats; string from string
    // stats, falling back to the partition value as a point range),
    // absent = null = always admitted by the pushdown
    syn.cols.zipWithIndex.foreach {
      case ((p, true), i) =>
        fe.int.get(p).foreach { case (mn, mx) =>
          g.append(s"zi${i}n", mn); g.append(s"zi${i}x", mx)
        }
      case ((p, false), i) =>
        fe.str.get(p).orElse(fe.parts.get(p).map(x => (x, x)))
          .foreach { case (mn, mx) =>
            g.append(s"zs${i}n", mn); g.append(s"zs${i}x", mx)
          }
    }
    val colNames = (fe.int.keySet ++ fe.str.keySet ++ fe.nulls.keySet ++
      fe.parts.keySet).toSeq.sorted
    colNames.foreach { c =>
      val cg = g.addGroup("cols")
      cg.append("name", c)
      fe.int.get(c).foreach { case (mn, mx) =>
        cg.append("imin", mn); cg.append("imax", mx)
      }
      fe.str.get(c).foreach { case (mn, mx) =>
        cg.append("smin", mn); cg.append("smax", mx)
      }
      fe.nulls.get(c).foreach(cg.append("nulls", _))
      fe.parts.get(c).foreach(cg.append("part", _))
    }
    g
  }

  /** One file's [[FileEntry]] assembled from the per-file maps — the
    * full (map-built) checkpoint path and the suffix half of the
    * incremental path.
    */
  private[graft] def writeCheckpointSidecar(
      root: String, v: Long, files: Seq[String],
      int: Map[String, Map[String, (Long, Long)]],
      str: Map[String, Map[String, (String, String)]],
      nulls: Map[String, (Long, Map[String, Long])],
      parts: Map[String, Map[String, String]],
      sizes: Map[String, Long] = Map.empty,
      syn: SidecarSynopsis = SidecarSynopsis(Seq.empty),
      sortPartCols: Seq[String] = Seq.empty): Unit =
    withSidecarWriter(root, v, syn) { write =>
      // CLUSTERED for row-group skipping: partition values first,
      // then the first int-synopsis column's min, path as the
      // deterministic tie-break (checkpoint content at a version must
      // stay deterministic — racing writers rely on it). A point or
      // range query then touches a contiguous run of row groups
      // instead of every group holding one matching row.
      val firstInt = syn.cols.collectFirst { case (p, true) => p }
      val idx = SkippingIndex(int, str, nulls, parts, sizes)
      files.map(idx.entry)
        .sortBy { fe =>
          (sortPartCols.map(c => fe.parts.getOrElse(c, ""))
            .mkString("\u0000"),
            firstInt.flatMap(p => fe.int.get(p).map(_._1))
              .getOrElse(Long.MaxValue),
            fe.path)
        }.foreach(write)
    }: Unit

  /** One sidecar row decoded — a single live file's planning state.
    * The unit of the PRUNED planning path: a selective query over a
    * million-file table materializes only the FileEntries its
    * predicate admits ([[scanCheckpointSidecar]]); everything else is
    * decoded transiently and dropped, never resident on the driver.
    */
  private[graft] final case class FileEntry(
      path: String,
      rows: Option[Long],
      bytes: Option[Long],
      int: Map[String, (Long, Long)],
      str: Map[String, (String, String)],
      nulls: Map[String, Long],
      parts: Map[String, String])

  /** Observability seam for the pruned planning path: how many
    * sidecar rows the last scans decoded vs how many survived the
    * predicate to be MATERIALIZED on the driver — the counting spec's
    * evidence that a selective plan holds the matching fraction, not
    * the table.
    */
  private[graft] object SidecarScanStats {
    val rowsScanned = new java.util.concurrent.atomic.AtomicLong
    val entriesRetained = new java.util.concurrent.atomic.AtomicLong
    // the pushdown's evidence: of the sidecar's row groups, how many
    // survived the parquet statistics filter and were actually
    // DECODED (scans without a pushdown open all of them)
    val rowGroupsTotal = new java.util.concurrent.atomic.AtomicLong
    val rowGroupsOpened = new java.util.concurrent.atomic.AtomicLong
    def reset(): Unit = {
      rowsScanned.set(0L); entriesRetained.set(0L)
      rowGroupsTotal.set(0L); rowGroupsOpened.set(0L)
    }
  }

  private def decodeSidecarRow(
      g: org.apache.parquet.example.data.Group): FileEntry = {
    val path = g.getString("path", 0)
    // an old-format sidecar (no bytes column) reads as absent —
    // planning falls back to a storage listing for those files
    val bytes =
      if (g.getType.containsField("bytes") &&
          g.getFieldRepetitionCount("bytes") > 0)
        Some(g.getLong("bytes", 0))
      else None
    val rows =
      if (g.getFieldRepetitionCount("rows") > 0)
        Some(g.getLong("rows", 0))
      else None
    val ints = Map.newBuilder[String, (Long, Long)]
    val strs = Map.newBuilder[String, (String, String)]
    val colNulls = Map.newBuilder[String, Long]
    val partVals = Map.newBuilder[String, String]
    (0 until g.getFieldRepetitionCount("cols")).foreach { i =>
      val cg = g.getGroup("cols", i)
      val name = cg.getString("name", 0)
      if (cg.getFieldRepetitionCount("imin") > 0)
        ints += name -> (cg.getLong("imin", 0), cg.getLong("imax", 0))
      if (cg.getFieldRepetitionCount("smin") > 0)
        strs += name -> (cg.getString("smin", 0),
          cg.getString("smax", 0))
      if (cg.getFieldRepetitionCount("nulls") > 0)
        colNulls += name -> cg.getLong("nulls", 0)
      if (cg.getFieldRepetitionCount("part") > 0)
        partVals += name -> cg.getString("part", 0)
    }
    FileEntry(path, rows, bytes, ints.result(), strs.result(),
      colNulls.result(), partVals.result())
  }

  /** STREAM the sidecar, materializing only the rows `keep` admits —
    * the Delta move for million-file tables: the query's own
    * partition/stats predicate pushes into the checkpoint read, so
    * planning a selective query holds the matching fraction of file
    * entries on the driver instead of parsing the whole sidecar into
    * one LogEntry (whose EntryCache weight bound could only convert
    * the resulting heap pressure into re-parse thrash). Row decode is
    * transient; non-matching entries are garbage immediately.
    *
    * `pushdown` pushes the predicate INTO the parquet read itself:
    * a (FilterPredicate over the flat synopsis columns, referenced
    * field names) pair — row groups the parquet statistics refute are
    * never decoded AT ALL (the sorted sidecar makes a selective
    * query's survivors contiguous), and the record filter drops
    * non-matching rows before Group assembly. The predicate must be
    * conservative (admit ⊇ `keep`'s admit) — `keep` remains the
    * authority on every surviving row. Sidecars written before the
    * synopsis existed (field check against the actual footer) scan
    * unfiltered.
    */
  private[graft] def scanCheckpointSidecar(root: String, v: Long,
      pushdown: Option[(org.apache.parquet.filter2.predicate.FilterPredicate,
        Set[String])] = None)(
      keep: FileEntry => Boolean): Seq[FileEntry] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val path = new org.apache.hadoop.fs.Path(checkpointSidecarPath(root, v))
    // the pushdown applies only when the footer actually carries every
    // referenced synopsis field (an old-format sidecar, or an orphan
    // written by an older binary, simply scans unfiltered); the same
    // footer pass records the row-group evidence for the counting spec
    val filter = pushdown.flatMap { case (pred, refs) =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(path, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val schema = r.getFooter.getFileMetaData.getSchema
        val names = (0 until schema.getFieldCount)
          .map(schema.getFieldName).toSet
        if (!refs.subsetOf(names)) None
        else {
          val blocks = r.getRowGroups
          val fc = org.apache.parquet.filter2.compat.FilterCompat.get(pred)
          val kept = org.apache.parquet.filter2.compat.RowGroupFilter
            .filterRowGroups(fc, blocks, schema)
          SidecarScanStats.rowGroupsTotal.addAndGet(blocks.size.toLong)
          SidecarScanStats.rowGroupsOpened.addAndGet(kept.size.toLong)
          Some(fc)
        }
      } finally r.close()
    }
    val builder = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
        path)
      .withConf(conf)
    val reader = filter.fold(builder)(builder.withFilter).build()
    val out = Seq.newBuilder[FileEntry]
    try {
      var g = reader.read()
      while (g != null) {
        val fe = decodeSidecarRow(g)
        SidecarScanStats.rowsScanned.incrementAndGet()
        if (keep(fe)) {
          SidecarScanStats.entriesRetained.incrementAndGet()
          out += fe
        }
        g = reader.read()
      }
    } finally reader.close()
    out.result()
  }

  /** Sidecar row count from the parquet FOOTER alone — the KB-scale
    * read the pruned-vs-full planning decision keys on; cached per
    * (path, size, mtime) like parsed entries.
    */
  private val sidecarRowCache =
    new java.util.concurrent.ConcurrentHashMap[EntryKey, java.lang.Long]

  private[graft] def sidecarRowCount(root: String, v: Long): Long = {
    val p = checkpointSidecarPath(root, v)
    val key = entryKey(root, p)
    Option(sidecarRowCache.get(key)).map(_.longValue()).getOrElse {
      val conf = new org.apache.hadoop.conf.Configuration()
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val n = try r.getRecordCount finally r.close()
      sidecarRowCache.put(key, n)
      n
    }
  }

  /** Total recorded bytes of the checkpoint's live set: from the JSON
    * half's `tbytes` when recorded (new checkpoints), else ONE cached
    * sidecar sweep (older checkpoints) — never a per-query scan.
    */
  private val sidecarByteCache =
    new java.util.concurrent.ConcurrentHashMap[EntryKey, java.lang.Long]

  private[graft] def sidecarTotalBytes(root: String, v: Long): Long =
    checkpointJsonEntry(root, v).tbytes.getOrElse {
      val key = entryKey(root, checkpointSidecarPath(root, v))
      Option(sidecarByteCache.get(key)).map(_.longValue()).getOrElse {
        var sum = 0L
        scanCheckpointSidecar(root, v) { fe =>
          sum += fe.bytes.getOrElse(0L); false
        }
        sidecarByteCache.put(key, sum)
        sum
      }
    }

  /** Last-wins fold of a post-checkpoint commit SUFFIX: per-path
    * liveness verdicts, the suffix-added live files in commit order,
    * and the suffix's own recorded stats — the small half of every
    * pruned (streamed-sidecar) metadata read, shared by the
    * connector's pruned file index and the keyed mutation paths.
    */
  private[graft] final case class SuffixState(
      touched: Map[String, Boolean],
      live: Seq[String],
      idx: SkippingIndex)

  private[graft] def suffixStateOf(suffix: Seq[LogEntry]): SuffixState = {
    val touched =
      scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    suffix.foreach { e =>
      e.removes.foreach { r => touched(r) = false; live -= r }
      e.adds.foreach { a => touched(a) = true; live += a }
    }
    SuffixState(touched.toMap, live.toSeq, indexOf(suffix))
  }

  private def pruneThresholdOf(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.plan.pruneFileThreshold")
      .map(_.toLong).getOrElse(100000L)

  /** Where a candidate walk reads the recorded stats of `root` at
    * `version`: the eager [[SkippingIndex]] over a resolved live set,
    * or a pruned plan's checkpoint sidecar (streamed, never
    * materialized) plus the post-checkpoint suffix. The column mapping
    * and the transform spec the walk applies resolve once per source.
    */
  private[graft] sealed abstract class StatsSource(val root: String,
                                                   val version: Long) {
    private[TxLog] lazy val colMap = columnMappingAt(root, Some(version))
    private[TxLog] lazy val ptspec =
      partitionTransforms(root, Some(version))
  }
  private[graft] final class IndexStats(root: String, version: Long,
      val files: Seq[String], val idx: SkippingIndex)
      extends StatsSource(root, version)
  private[graft] final class SidecarStats(root: String,
      val pi: PrunedPlanInfo, val sfx: SuffixState)
      extends StatsSource(root, pi.version)

  /** The source a TxLog read of `snap` walks: the streamed sidecar past
    * the prune threshold, the eager index below it.
    */
  private[graft] def statsSource(spark: SparkSession, root: String,
                                 snap: Snapshot): StatsSource =
    prunedPlanInfo(root, Some(snap.version), pruneThresholdOf(spark)) match {
      case Some(pi) => new SidecarStats(root, pi, suffixStateOf(pi.suffix))
      case None => new IndexStats(root, snap.version, snap.files,
        skippingIndex(root, Some(snap.version)))
    }

  /** A live file the walk kept, with what listing-free planning needs:
    * its log-recorded size (None = list it) and modification-time
    * approximation (the adding commit's or checkpoint's publish time).
    */
  private[graft] final case class Candidate(path: String,
                                            bytes: Option[Long],
                                            mtime: Long)

  /** The live files of `src` whose recorded stats admit every one of
    * `filters` ([[StatsPrune.mayMatch]]) — the one file-skipping walk of
    * the TxLog reads (slices, partition reads, keyed-delete discovery)
    * and of both `graft-table` file indexes. Filters name LOGICAL
    * columns; the walk maps them to the physical names the stats are
    * keyed by, and adds the predicates they imply on hidden partition
    * columns ([[PartitionTransforms.expand]]). Over a sidecar only the
    * admitted files' entries materialize on the driver; `pushdown` also
    * pushes the filters into the sidecar's parquet read
    * ([[SidecarPushdown]]), skipping whole row groups.
    */
  private[graft] def candidatesWhere(src: StatsSource,
      filters: Seq[ex.Expression],
      pushdown: Boolean = false): Seq[Candidate] = {
    val phys = (c: String) => src.colMap.getOrElse(c, c)
    val all = filters ++ PartitionTransforms.expand(filters, src.ptspec)
    def admits(fe: FileEntry): Boolean =
      all.forall(StatsPrune.mayMatch(fe, phys, _))
    def indexed(files: Seq[String], idx: SkippingIndex) =
      files.map(idx.entry).filter(admits).map(fe =>
        Candidate(fe.path, fe.bytes, idx.mtimes.getOrElse(fe.path, 0L)))
    src match {
      case s: IndexStats => indexed(s.files, s.idx)
      case s: SidecarStats =>
        val pd =
          if (pushdown) SidecarPushdown.translate(all, phys,
            sidecarSynopsisAt(src.root, s.pi.cp))
          else None
        // paths the suffix touched are skipped in the sidecar: their
        // final state, stats included, is the suffix's to declare
        scanCheckpointSidecar(src.root, s.pi.cp, pd) { fe =>
          !s.sfx.touched.contains(fe.path) && admits(fe)
        }.map(fe => Candidate(fe.path, fe.bytes, s.pi.cpMtime)) ++
          indexed(s.sfx.live, s.sfx.idx)
    }
  }

  /** `c` as an attribute of a TxLog read's skipping predicate: typed as
    * the recorded column when the log has a schema, else as the
    * predicate's literal (hand-built logs record none). A transform
    * rewrite only applies where the two types agree.
    */
  private def statsAttr(root: String, c: String, version: Option[Long],
                        litType: org.apache.spark.sql.types.DataType)
      : ex.AttributeReference =
    ex.AttributeReference(c,
      tableSchema(root, version).flatMap(_.find(_.name == c))
        .map(_.dataType).getOrElse(litType))()

  /** Candidate files for an INT-key hit discovery (`deleteWhere` /
    * `deleteWhereDv`): the files `keyCol IN keys` may match, stat-less
    * files conservatively kept.
    */
  private[graft] def keyCandidates(spark: SparkSession, root: String,
                                   snap: Snapshot, keyCol: String,
                                   keys: Seq[Long]): Seq[String] = {
    val key = statsAttr(root, keyCol, Some(snap.version),
      org.apache.spark.sql.types.LongType)
    candidatesWhere(statsSource(spark, root, snap),
      Seq(ex.In(key, keys.map(ex.Literal(_))))).map(_.path)
  }

  private[graft] def readCheckpointSidecar(root: String, v: Long): SidecarData = {
    val adds = Seq.newBuilder[String]
    val int = Map.newBuilder[String, Map[String, (Long, Long)]]
    val str = Map.newBuilder[String, Map[String, (String, String)]]
    val nstats = Map.newBuilder[String, (Long, Map[String, Long])]
    val parts = Map.newBuilder[String, Map[String, String]]
    val sizes = Map.newBuilder[String, Long]
    scanCheckpointSidecar(root, v)(_ => true).foreach { fe =>
      adds += fe.path
      fe.bytes.foreach(b => sizes += fe.path -> b)
      if (fe.int.nonEmpty) int += fe.path -> fe.int
      if (fe.str.nonEmpty) str += fe.path -> fe.str
      fe.rows.foreach(r => nstats += fe.path -> (r, fe.nulls))
      if (fe.parts.nonEmpty) parts += fe.path -> fe.parts
    }
    SidecarData(adds.result(), int.result(), str.result(),
      nstats.result(), parts.result(), sizes.result())
  }

  /** Default vacuum retention: versions younger than this are kept
    * readable regardless of the requested floor (Delta's
    * retention-hours guard). 7 days — long enough that any running
    * query or time-travel reader planned against a recent version
    * finishes before its files can be reclaimed.
    */
  val DefaultRetentionMillis: Long = 7L * 24 * 60 * 60 * 1000

  /** Physically remove data files unreferenced by every version >=
    * `retainFrom` (and drop the older commit files): the explicit,
    * retention-floored reclamation step. Returns the removed file
    * count. Before truncating the log, the FULL live set at
    * `retainFrom` is written as a checkpoint — without it, any
    * retained version still referencing a file added by a truncated
    * commit would silently lose it on replay (the prefix would be
    * gone). Time travel to versions >= `retainFrom` is unaffected;
    * older versions become unreadable BY CHOICE — that is the
    * contract's point.
    *
    * RETENTION WINDOW: versions whose commits are younger than
    * `retentionMillis` are retained even when `retainFrom` asks to
    * truncate them (the effective floor is lowered and the clamp is
    * logged) — a reader pinned at a recent version (time travel, a
    * long-running scan planned minutes ago) can never lose files
    * mid-read to a concurrent vacuum. `force = true` skips the check
    * and honors `retainFrom` exactly — the operator's explicit
    * "I know nothing is reading these versions".
    */
  def vacuum(root: String, retainFrom: Long,
             stagedGraceMillis: Long = 60L * 60 * 1000,
             retentionMillis: Long = DefaultRetentionMillis,
             force: Boolean = false): Int = {
    val vs = versionsOnDisk(root)
    require(vs.contains(retainFrom),
      s"retainFrom $retainFrom must be an existing version (have $vs)")
    val requested = retainFrom
    val retainEff =
      if (force) requested
      else {
        val cutoff = System.currentTimeMillis() - retentionMillis
        // the oldest version still inside the retention window; every
        // version from it on stays readable. Commit mtimes can be
        // non-monotone (clock skew) — taking the MINIMUM in-window
        // version errs toward retaining more, never less
        val protectedFloor = vs.find(v =>
          io(root).mtime(commitPath(root, v)) >= cutoff)
        protectedFloor.filter(_ < requested) match {
          case Some(p) =>
            org.slf4j.LoggerFactory.getLogger("graft.ops.TxLog").warn(
              s"vacuum of $root clamped retainFrom $requested -> $p: " +
                s"versions >= $p are younger than the retention " +
                s"window (${retentionMillis} ms); pass force = true " +
                "to truncate them anyway")
            p
          case None => requested
        }
      }
    val retainFromV = retainEff
    vacuumAt(root, retainFromV, stagedGraceMillis)
  }

  /** The reclamation step itself, at an already-retention-checked
    * floor — see [[vacuum]].
    */
  private def vacuumAt(root: String, retainFrom: Long,
                       stagedGraceMillis: Long): Int = {
    val vs = versionsOnDisk(root)
    // checkpoint first (replay base for every retained version)
    checkpoint(root, Some(retainFrom))
    // DV sidecars are referenced state like data files: dropping one
    // that a retained version still masks with would silently
    // resurrect its deleted rows
    val referenced = vs.filter(_ >= retainFrom)
      .flatMap { v =>
        val s = resolve(root, Some(v)); s.files ++ s.dvFiles
      }.toSet
    // every file any commit or checkpoint on disk ever PUBLISHED. A
    // data/ file outside this set was never committed: either a live
    // writer's in-flight staging ([[stage]] moves files under data/
    // BEFORE its commit publishes) or a dead writer's leftovers.
    // Racing a concurrent writer and deleting its staged files would
    // let its commit publish referencing now-missing bytes — silent
    // data loss — so never-published files are reclaimed only past an
    // age grace (Delta's retention-hours guard, scaled to staging)
    val everPublished = (
      vs.map(v => commitEntry(root, v)) ++
      checkpointsOnDisk(root).map(c => checkpointEntry(root, c)))
      .flatMap(e =>
        e.adds ++ e.dv.map(_._1).toSeq ++ e.dvState.map(_._1))
      .toSet
    val onDisk = listDataFiles(root)
    val now = System.currentTimeMillis()
    val doomed = onDisk.filterNot(referenced).filter { f =>
      everPublished(f) ||
        now - io(root).mtime(s"$root/$f") >= stagedGraceMillis
    }
    doomed.foreach(f => io(root).delete(s"$root/$f"))
    vs.filter(_ < retainFrom).foreach(v =>
      io(root).delete(commitPath(root, v)))
    checkpointsOnDisk(root).filter(_ < retainFrom).foreach { c =>
      io(root).delete(checkpointPath(root, c))
      io(root).deleteIfExists(checkpointSidecarPath(root, c))
    }
    doomed.size
  }
}

/** The one skipping predicate of the table layer: could a file with
  * the given recorded stats (a [[TxLog.FileEntry]], whatever its
  * source) hold a row satisfying `filter`? Unknown shapes and
  * stat-less columns answer true (read it) — pruning is an
  * optimization, never the filter. TxLog's reads and both
  * `graft-table` file indexes evaluate it through
  * [[TxLog.candidatesWhere]].
  */
private[graft] object StatsPrune {
  import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or, StartsWith}
  import org.apache.spark.sql.types.LongType
  import org.apache.spark.unsafe.types.UTF8String

  /** The column a comparison operand names: an attribute, or one under
    * a cast that only widens (order is preserved against the recorded
    * longs); anything else is conservatively opaque.
    */
  private[ops] def attrOf(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case Cast(a: AttributeReference, LongType, _, _) => Some(a.name)
    case _ => None
  }

  private[ops] def litLong(l: Literal): Option[Long] = l.value match {
    case null => None
    case x: java.lang.Long => Some(x)
    case x: java.lang.Integer => Some(x.toLong)
    case x: java.lang.Short => Some(x.toLong)
    case _ => None
  }

  /** `fe`'s stats are keyed by PHYSICAL column name; `filter` names
    * LOGICAL columns, mapped through `phys`. Absent stats cannot skip.
    */
  def mayMatch(fe: TxLog.FileEntry, phys: String => String,
               filter: Expression): Boolean = {
    def intRange(c: String): Option[(Long, Long)] = fe.int.get(phys(c))
    // partition values count as point ranges
    def strRange(c: String): Option[(String, String)] =
      fe.str.get(phys(c)).orElse(fe.parts.get(phys(c)).map(v => (v, v)))
    // (row count, null count) when both are recorded
    def nullCount(c: String): Option[(Long, Long)] =
      for { r <- fe.rows; n <- fe.nulls.get(phys(c)) } yield (r, n)
    def litStr(l: Literal): Option[String] = l.value match {
      case x: UTF8String => Some(x.toString)
      case _ => None
    }
    // can a value cmp v hold for some value in the recorded range?
    def cmp(attr: Expression, lit: Literal,
            intOk: ((Long, Long), Long) => Boolean,
            strOk: ((String, String), String) => Boolean): Boolean =
      attrOf(attr).forall { c =>
        val byInt = litLong(lit)
          .forall(x => intRange(c).forall(r => intOk(r, x)))
        val byStr = litStr(lit)
          .forall(x => strRange(c).forall(r => strOk(r, x)))
        byInt && byStr
      }
    def rec(filter: Expression): Boolean = filter match {
      case And(l, r) => rec(l) && rec(r)
      case Or(l, r) => rec(l) || rec(r)
      case EqualTo(a, l: Literal) =>
        cmp(a, l, { case ((mn, mx), x) => x >= mn && x <= mx },
          { case ((mn, mx), x) => x >= mn && x <= mx })
      case EqualTo(l: Literal, a) => rec(EqualTo(a, l))
      case EqualNullSafe(a, l: Literal) => rec(EqualTo(a, l))
      case EqualNullSafe(l: Literal, a) => rec(EqualTo(a, l))
      case GreaterThan(a, l: Literal) =>
        cmp(a, l, { case ((_, mx), x) => mx > x },
          { case ((_, mx), x) => mx > x })
      case GreaterThan(l: Literal, a) => rec(LessThan(a, l))
      case GreaterThanOrEqual(a, l: Literal) =>
        cmp(a, l, { case ((_, mx), x) => mx >= x },
          { case ((_, mx), x) => mx >= x })
      case GreaterThanOrEqual(l: Literal, a) =>
        rec(LessThanOrEqual(a, l))
      case LessThan(a, l: Literal) =>
        cmp(a, l, { case ((mn, _), x) => mn < x },
          { case ((mn, _), x) => mn < x })
      case LessThan(l: Literal, a) => rec(GreaterThan(a, l))
      case LessThanOrEqual(a, l: Literal) =>
        cmp(a, l, { case ((mn, _), x) => mn <= x },
          { case ((mn, _), x) => mn <= x })
      case LessThanOrEqual(l: Literal, a) =>
        rec(GreaterThanOrEqual(a, l))
      case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(x => rec(EqualTo(a, x.asInstanceOf[Literal])))
      case InSet(a, vs) =>
        vs.exists(x => rec(EqualTo(a, Literal.create(x, a.dataType))))
      case StartsWith(a, l: Literal) =>
        attrOf(a).forall { c =>
          litStr(l).forall { p =>
            strRange(c).forall { case (mn, mx) =>
              // some s in [mn,mx] starts with p  <=>  the range
              // overlaps [p, p + maxSuffix]
              mx >= p && mn <= p + "￿"
            }
          }
        }
      case IsNull(a) =>
        attrOf(a).forall(c => nullCount(c).forall { case (_, n) => n > 0 })
      case IsNotNull(a) =>
        attrOf(a).forall(c =>
          nullCount(c).forall { case (rows, n) => n < rows })
      case _ => true
    }
    rec(filter)
  }
}

/** Catalyst data filters translated to a parquet [[FilterPredicate]]
  * over the checkpoint sidecar's FLAT synopsis columns — what lets the
  * pruned planner skip whole sidecar ROW GROUPS instead of decoding
  * every row per planned query. Strictly CONSERVATIVE relative to
  * [[StatsPrune.mayMatch]]: anything not safely translatable (unknown
  * shapes, non-ASCII string literals — parquet compares binary columns
  * in unsigned BYTE order while StatsPrune compares in UTF-16 code
  * units, and the two orders agree only when one side is pure ASCII —
  * StartsWith, null checks) contributes "admit", and a row with no
  * recorded stats always survives (every leaf carries an IS NULL arm).
  * StatsPrune remains the authority on every row the filter yields.
  */
private[graft] object SidecarPushdown {
  import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
  import org.apache.parquet.io.api.Binary
  import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Or}
  import org.apache.spark.unsafe.types.UTF8String
  import StatsPrune.{attrOf, litLong}

  def translate(filters: Seq[Expression], phys: String => String,
                syn: TxLog.SidecarSynopsis)
      : Option[(FilterPredicate, Set[String])] = {
    if (filters.isEmpty || syn.cols.isEmpty) return None
    val intIdx = syn.cols.zipWithIndex.collect {
      case ((p, true), i) => p -> i
    }.toMap
    val strIdx = syn.cols.zipWithIndex.collect {
      case ((p, false), i) => p -> i
    }.toMap
    val refs = scala.collection.mutable.Set.empty[String]
    // ASCII literals only (the byte-order caveat above)
    def litStr(l: Literal): Option[String] = l.value match {
      case x: UTF8String =>
        val s = x.toString
        if (s.forall(_ < 0x80)) Some(s) else None
      case _ => None
    }
    // admit iff stats absent OR the [min,max] range satisfies
    // (loCond on zi{i}x / hiCond on zi{i}n) — the same shape as
    // StatsPrune's cmp, expressed against the flat columns
    def intLeaf(i: Int)(cond: (org.apache.parquet.filter2.predicate
        .Operators.LongColumn, org.apache.parquet.filter2.predicate
        .Operators.LongColumn) => FilterPredicate): FilterPredicate = {
      val (zn, zx) = (FilterApi.longColumn(s"zi${i}n"),
        FilterApi.longColumn(s"zi${i}x"))
      refs += s"zi${i}n"; refs += s"zi${i}x"
      FilterApi.or(FilterApi.eq(zn, null.asInstanceOf[java.lang.Long]),
        cond(zn, zx))
    }
    def strLeaf(i: Int)(cond: (org.apache.parquet.filter2.predicate
        .Operators.BinaryColumn, org.apache.parquet.filter2.predicate
        .Operators.BinaryColumn) => FilterPredicate): FilterPredicate = {
      val (zn, zx) = (FilterApi.binaryColumn(s"zs${i}n"),
        FilterApi.binaryColumn(s"zs${i}x"))
      refs += s"zs${i}n"; refs += s"zs${i}x"
      FilterApi.or(FilterApi.eq(zn, null.asInstanceOf[Binary]),
        cond(zn, zx))
    }
    def both(a: Option[FilterPredicate], b: Option[FilterPredicate])
        : Option[FilterPredicate] = (a, b) match {
      case (Some(x), Some(y)) => Some(FilterApi.and(x, y))
      case (x, y) => x.orElse(y)
    }
    // value-vs-range leaves per comparison kind; None = untranslatable
    // = admit. A numeric literal binds the int synopsis, an ASCII
    // string literal the string synopsis (mirrors StatsPrune's
    // byInt/byStr conjunction — at most one applies per literal).
    def cmpLeaf(attr: Expression, l: Literal,
                intC: (Long, org.apache.parquet.filter2.predicate
                  .Operators.LongColumn, org.apache.parquet.filter2
                  .predicate.Operators.LongColumn) => FilterPredicate,
                strC: (Binary, org.apache.parquet.filter2.predicate
                  .Operators.BinaryColumn, org.apache.parquet.filter2
                  .predicate.Operators.BinaryColumn) => FilterPredicate)
        : Option[FilterPredicate] =
      attrOf(attr).flatMap { c =>
        val p = phys(c)
        val viaInt = for {
          x <- litLong(l); i <- intIdx.get(p)
        } yield intLeaf(i)((zn, zx) => intC(x, zn, zx))
        val viaStr = for {
          s <- litStr(l); i <- strIdx.get(p)
        } yield strLeaf(i)((zn, zx) => strC(Binary.fromString(s), zn, zx))
        both(viaInt, viaStr)
      }
    def jl(x: Long): java.lang.Long = java.lang.Long.valueOf(x)
    def rec(e: Expression): Option[FilterPredicate] = e match {
      case And(l, r) => both(rec(l), rec(r))
      case Or(l, r) =>
        for { a <- rec(l); b <- rec(r) } yield FilterApi.or(a, b)
      case EqualTo(a, l: Literal) =>
        cmpLeaf(a, l,
          (x, zn, zx) => FilterApi.and(FilterApi.ltEq(zn, jl(x)),
            FilterApi.gtEq(zx, jl(x))),
          (b, zn, zx) => FilterApi.and(FilterApi.ltEq(zn, b),
            FilterApi.gtEq(zx, b)))
      case EqualTo(l: Literal, a) => rec(EqualTo(a, l))
      case EqualNullSafe(a, l: Literal) => rec(EqualTo(a, l))
      case EqualNullSafe(l: Literal, a) => rec(EqualTo(a, l))
      case GreaterThan(a, l: Literal) =>
        cmpLeaf(a, l, (x, _, zx) => FilterApi.gt(zx, jl(x)),
          (b, _, zx) => FilterApi.gt(zx, b))
      case GreaterThan(l: Literal, a) => rec(LessThan(a, l))
      case GreaterThanOrEqual(a, l: Literal) =>
        cmpLeaf(a, l, (x, _, zx) => FilterApi.gtEq(zx, jl(x)),
          (b, _, zx) => FilterApi.gtEq(zx, b))
      case GreaterThanOrEqual(l: Literal, a) =>
        rec(LessThanOrEqual(a, l))
      case LessThan(a, l: Literal) =>
        cmpLeaf(a, l, (x, zn, _) => FilterApi.lt(zn, jl(x)),
          (b, zn, _) => FilterApi.lt(zn, b))
      case LessThan(l: Literal, a) => rec(GreaterThan(a, l))
      case LessThanOrEqual(a, l: Literal) =>
        cmpLeaf(a, l, (x, zn, _) => FilterApi.ltEq(zn, jl(x)),
          (b, zn, _) => FilterApi.ltEq(zn, b))
      case LessThanOrEqual(l: Literal, a) =>
        rec(GreaterThanOrEqual(a, l))
      case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        vs.map(x => rec(EqualTo(a, x.asInstanceOf[Literal])))
          .reduce((l, r) => for { x <- l; y <- r }
            yield FilterApi.or(x, y))
      case InSet(a, vs) if vs.nonEmpty =>
        vs.toSeq.map(x =>
            rec(EqualTo(a, Literal.create(x, a.dataType))))
          .reduce((l, r) => for { x <- l; y <- r }
            yield FilterApi.or(x, y))
      case _ => None
    }
    // conjuncts translate independently — an untranslatable one just
    // drops out (it still applies through StatsPrune and the query's
    // own row-level filter)
    filters.flatMap(rec).reduceOption(FilterApi.and)
      .map(p => (p, refs.toSet))
  }
}
