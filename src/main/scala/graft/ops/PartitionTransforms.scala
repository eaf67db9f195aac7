package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Or => COr, XxHash64}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-style HIDDEN partition transforms: a table is laid out by a
  * DERIVED value (`days(ts)`, `bucket(16, user_id)`,
  * `truncate(4, code)`) while queries keep filtering on the SOURCE
  * column — the planner rewrites source-column predicates into
  * partition-value predicates and the ordinary stats/partition
  * skipping machinery prunes files. This is the 100 TB answer to the
  * classic Hive failure mode where users must know (and predicate on)
  * the physical partition column: here the layout is an internal
  * detail, and `bucket` gives equality pruning on high-cardinality
  * keys that `[min,max]` ranges cannot discriminate at all.
  *
  * Reference scope note: the reference engine (MapReduce-era Java)
  * has no table layout concept; this is part of the lakehouse
  * extension surface, modeled on Iceberg's partition-spec semantics
  * (public docs) re-expressed over the graft commit log.
  *
  * Transform values are encoded as STRINGS chosen so that UTF-16
  * code-unit order (what [[StatsPrune]] compares in)
  * equals the transform's natural order:
  *
  *  - `days`/`hours`: fixed-width zero-padded epoch bucket with a
  *    positive offset (`%07d`/`%09d`), CLAMPED into the padded domain
  *    — clamping keeps the encoding a total monotone function, so
  *    range rewrites stay conservative even for astronomically
  *    out-of-range timestamps. Bucket arithmetic is exact integer
  *    Column arithmetic (`pmod` + `div`), never a double division —
  *    micros near Long range would lose precision in a double.
  *  - `bucket`: `%05d` of `pmod(xxhash64(v), n)`. Integer sources
  *    hash CAST TO LONG on both the write and rewrite sides, so an
  *    `ALTER COLUMN TYPE` widening (int -> long) cannot split a key's
  *    hash across widths.
  *  - `truncate`: the raw string prefix (monotone under lexicographic
  *    order). Only sources whose values fit the partition-value
  *    grammar can use it — unsafe values refuse loudly at write time.
  *
  * Predicate rewriting is strictly CONSERVATIVE: equality/IN rewrite
  * for every transform; ranges rewrite only for the monotone ones
  * (`days`/`hours`/`truncate`), with strict bounds relaxed to
  * inclusive (`ts > v` implies `days(ts) >= days(v)`, not `>`);
  * anything else contributes nothing. The rewritten predicates are
  * used ONLY for file skipping — Spark still applies the query's own
  * filters to every row — so a missed rewrite costs I/O, never
  * correctness.
  */
object PartitionTransforms {

  /** Hidden partition columns are prefixed so they can never be
    * confused with user columns in file layouts (`_tp_...=<value>/`
    * directories) — and a real user column with a colliding name
    * refuses loudly at append.
    */
  val HiddenPrefix = "_tp_"

  sealed trait Transform {
    def source: String
    /** The canonical spec string recorded in the log. */
    def spec: String
    /** The hidden partition column this transform materializes. */
    def hiddenName: String
  }
  final case class Days(source: String) extends Transform {
    def spec = s"days($source)"
    def hiddenName = s"${HiddenPrefix}days_$source"
  }
  final case class Hours(source: String) extends Transform {
    def spec = s"hours($source)"
    def hiddenName = s"${HiddenPrefix}hours_$source"
  }
  final case class Bucket(n: Int, source: String) extends Transform {
    def spec = s"bucket($n,$source)"
    def hiddenName = s"${HiddenPrefix}bucket_$source"
  }
  final case class Truncate(w: Int, source: String) extends Transform {
    def spec = s"truncate($w,$source)"
    def hiddenName = s"${HiddenPrefix}trunc_$source"
  }

  private val DaysRe = """days\(([A-Za-z0-9_]+)\)""".r
  private val HoursRe = """hours\(([A-Za-z0-9_]+)\)""".r
  private val BucketRe = """bucket\((\d+),\s*([A-Za-z0-9_]+)\)""".r
  private val TruncRe = """truncate\((\d+),\s*([A-Za-z0-9_]+)\)""".r

  def parse(spec: String): Transform = spec.trim match {
    case DaysRe(c) => Days(c)
    case HoursRe(c) => Hours(c)
    case BucketRe(n, c) =>
      val k = n.toInt
      require(k >= 1 && k <= 99999,
        s"bucket count out of range in '$spec' (1..99999)")
      Bucket(k, c)
    case TruncRe(w, c) =>
      val k = w.toInt
      require(k >= 1 && k <= 64,
        s"truncate width out of range in '$spec' (1..64)")
      Truncate(k, c)
    case other => throw new IllegalArgumentException(
      s"unknown partition transform '$other' — supported: days(col), " +
        "hours(col), bucket(n,col), truncate(w,col)")
  }

  private val DayMicros = 86400000000L
  private val HourMicros = 3600000000L
  private val DayOffset = 1000000L
  private val DayMax = 9999999L
  private val HourOffset = 100000000L
  private val HourMax = 999999999L

  private def encodeDay(micros: Long): String =
    "%07d".format(math.min(DayMax,
      math.max(0L, Math.floorDiv(micros, DayMicros) + DayOffset)))

  private def encodeHour(micros: Long): String =
    "%09d".format(math.min(HourMax,
      math.max(0L, Math.floorDiv(micros, HourMicros) + HourOffset)))

  private def intLike(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Validate the transform against the source column's type — loud,
    * at append time, so a mis-declared spec never writes a file.
    */
  def validate(t: Transform, dt: DataType): Unit = t match {
    case Days(c) => require(dt == TimestampType,
      s"days($c) requires a TIMESTAMP column, got $dt")
    case Hours(c) => require(dt == TimestampType,
      s"hours($c) requires a TIMESTAMP column, got $dt")
    case Bucket(_, c) => require(intLike(dt) || dt == StringType,
      s"bucket(n,$c) requires an integer or string column, got $dt")
    case Truncate(_, c) => require(dt == StringType,
      s"truncate(w,$c) requires a STRING column, got $dt")
  }

  /** The derived write-side Column. `source` has already passed the
    * log's safe-name grammar (`[A-Za-z0-9_]+`), so interpolating it
    * into a SQL fragment cannot escape the expression.
    */
  def column(t: Transform, dt: DataType): Column = {
    // a NULL source has no partition value — fail the WRITE loudly
    // with the column named, distributed (no extra driver pass). A
    // null would otherwise format as junk ("   null") and fail much
    // later in the staging path's partition-value grammar check
    def guarded(body: String): Column = expr(
      s"CASE WHEN `${t.source}` IS NULL THEN raise_error(" +
        s"'NULL value in partition-transform source column " +
        s"${t.source} (${t.spec}): transform sources must be " +
        s"non-null') ELSE $body END")
    t match {
      case Days(c) =>
        val m = s"unix_micros(`$c`)"
        val d = s"(($m - pmod($m, ${DayMicros}L)) div ${DayMicros}L)"
        guarded(s"format_string('%07d', least(${DayMax}L, " +
          s"greatest(0L, $d + ${DayOffset}L)))")
      case Hours(c) =>
        val m = s"unix_micros(`$c`)"
        val h = s"(($m - pmod($m, ${HourMicros}L)) div ${HourMicros}L)"
        guarded(s"format_string('%09d', least(${HourMax}L, " +
          s"greatest(0L, $h + ${HourOffset}L)))")
      case Bucket(n, c) =>
        val v = if (intLike(dt)) s"cast(`$c` as bigint)" else s"`$c`"
        guarded(s"format_string('%05d', pmod(xxhash64($v), ${n}L))")
      case Truncate(w, c) =>
        guarded(s"substring(`$c`, 1, $w)")
    }
  }

  /** Driver-side transform of one predicate literal into the encoded
    * partition value; None = not applicable (type mismatch, null,
    * non-ASCII truncate literal) = no rewrite.
    */
  private def evalLit(t: Transform, dt: DataType,
                      value: Any): Option[String] = {
    if (value == null) return None
    def asLong: Option[Long] = value match {
      case x: java.lang.Long => Some(x)
      case x: java.lang.Integer => Some(x.toLong)
      case x: java.lang.Short => Some(x.toLong)
      case x: java.lang.Byte => Some(x.toLong)
      case _ => None
    }
    t match {
      case Days(_) if dt == TimestampType => asLong.map(encodeDay)
      case Hours(_) if dt == TimestampType => asLong.map(encodeHour)
      case Bucket(n, _) =>
        val hashed: Option[Long] =
          if (intLike(dt)) asLong.map(l =>
            XxHash64(Seq(Literal(l, LongType)), 42L)
              .eval(null).asInstanceOf[Long])
          else value match {
            case u: UTF8String =>
              Some(XxHash64(Seq(Literal(u, StringType)), 42L)
                .eval(null).asInstanceOf[Long])
            case _ => None
          }
        hashed.map(h => "%05d".format(Math.floorMod(h, n.toLong)))
      case Truncate(w, _) => value match {
        // ASCII only: the write side truncates by code POINT
        // (substring), the skipping compare runs on code UNITS —
        // the two agree only inside ASCII, same rule as the sidecar
        // pushdown's string leaves
        case u: UTF8String =>
          val s = u.toString
          if (s.forall(ch => ch < 0x80)) Some(s.take(w)) else None
        case _ => None
      }
      case _ => None
    }
  }

  private def monotone(t: Transform): Boolean = t match {
    case _: Bucket => false
    case _ => true
  }

  /** Rewrite one query filter against one transform into a predicate
    * on the hidden partition column, or None. The result is used for
    * FILE SKIPPING only — conservative by construction (equality maps
    * to equality; strict range bounds relax to inclusive because the
    * transform is many-to-one).
    */
  private def rewrite(e: Expression, t: Transform): Option[Expression] = {
    def hid = AttributeReference(t.hiddenName, StringType)()
    def enc(dt: DataType, v: Any): Option[Literal] =
      evalLit(t, dt, v).map(s =>
        Literal(UTF8String.fromString(s), StringType))
    // STRICT bounds tighten by one microsecond for the temporal
    // transforms before encoding (`ts < midnight` must not admit the
    // day that starts AT midnight): c < v  <=>  c <= v-1us at
    // microsecond granularity, so T(c) <= T(v-1us) — exact, not just
    // conservative, at bucket boundaries. Other transforms (and a
    // saturated Long) keep the inclusive relaxation.
    def encAdj(dt: DataType, v: Any, delta: Long): Option[Literal] = {
      val adjusted = (t, v) match {
        case (_: Days | _: Hours, x: java.lang.Long)
            if dt == TimestampType &&
              (delta <= 0L || x.longValue() != Long.MaxValue) &&
              (delta >= 0L || x.longValue() != Long.MinValue) =>
          java.lang.Long.valueOf(x.longValue() + delta)
        case _ => v
      }
      enc(dt, adjusted)
    }
    // the literal is encoded by its own type, so it must be the
    // column's: an analyzed filter always compares like types, a
    // TxLog read's hand-built one may not (a LONG key list against a
    // STRING column must not hash as a long)
    def src(a: Expression, litType: DataType): Boolean = a match {
      case ar: AttributeReference =>
        ar.name == t.source && ar.dataType == litType
      case _ => false
    }
    e match {
      case CAnd(l, r) =>
        (rewrite(l, t), rewrite(r, t)) match {
          case (Some(x), Some(y)) => Some(CAnd(x, y))
          case (x, y) => x.orElse(y)
        }
      case COr(l, r) =>
        for { x <- rewrite(l, t); y <- rewrite(r, t) } yield COr(x, y)
      case EqualTo(a, l: Literal) if src(a, l.dataType) =>
        enc(l.dataType, l.value).map(EqualTo(hid, _))
      case EqualTo(l: Literal, a) if src(a, l.dataType) =>
        enc(l.dataType, l.value).map(EqualTo(hid, _))
      case EqualNullSafe(a, l: Literal) if src(a, l.dataType) =>
        enc(l.dataType, l.value).map(EqualTo(hid, _))
      case EqualNullSafe(l: Literal, a) if src(a, l.dataType) =>
        enc(l.dataType, l.value).map(EqualTo(hid, _))
      case In(a, vs) if vs.nonEmpty &&
          vs.forall(v => v.isInstanceOf[Literal] && src(a, v.dataType)) =>
        // every member must encode, else the IN admits a value the
        // rewrite would wrongly prune on
        val encoded = vs.map { case l: Literal => enc(l.dataType, l.value) }
        if (encoded.exists(_.isEmpty)) None
        else Some(encoded.flatten
          .map(v => EqualTo(hid, v): Expression).reduce(COr(_, _)))
      case InSet(a, vs) if src(a, a.dataType) && vs.nonEmpty =>
        val dt = a.dataType
        val encoded = vs.toSeq.map(v => enc(dt, v))
        if (encoded.exists(_.isEmpty)) None
        else Some(encoded.flatten
          .map(v => EqualTo(hid, v): Expression).reduce(COr(_, _)))
      case GreaterThan(a, l: Literal) if src(a, l.dataType) && monotone(t) =>
        encAdj(l.dataType, l.value, 1L).map(GreaterThanOrEqual(hid, _))
      case GreaterThanOrEqual(a, l: Literal) if src(a, l.dataType) &&
          monotone(t) =>
        enc(l.dataType, l.value).map(GreaterThanOrEqual(hid, _))
      case LessThan(a, l: Literal) if src(a, l.dataType) && monotone(t) =>
        encAdj(l.dataType, l.value, -1L).map(LessThanOrEqual(hid, _))
      case LessThanOrEqual(a, l: Literal) if src(a, l.dataType) &&
          monotone(t) =>
        enc(l.dataType, l.value).map(LessThanOrEqual(hid, _))
      // literal-on-the-left range forms, mirrored
      case GreaterThan(l: Literal, a) if src(a, l.dataType) && monotone(t) =>
        encAdj(l.dataType, l.value, -1L).map(LessThanOrEqual(hid, _))
      case GreaterThanOrEqual(l: Literal, a) if src(a, l.dataType) &&
          monotone(t) =>
        enc(l.dataType, l.value).map(LessThanOrEqual(hid, _))
      case LessThan(l: Literal, a) if src(a, l.dataType) && monotone(t) =>
        encAdj(l.dataType, l.value, 1L).map(GreaterThanOrEqual(hid, _))
      case LessThanOrEqual(l: Literal, a) if src(a, l.dataType) &&
          monotone(t) =>
        enc(l.dataType, l.value).map(GreaterThanOrEqual(hid, _))
      case _ => None
    }
  }

  /** The extra skipping predicates a query's data filters imply on the
    * table's hidden partition columns — appended to the filters both
    * file indexes prune with (and fed to the sidecar row-group
    * pushdown, whose synopsis carries partition columns). Unparsable
    * spec entries contribute nothing (a newer writer's transform kind
    * degrades to no pruning, never to a wrong prune).
    */
  def expand(filters: Seq[Expression],
             specs: Seq[String]): Seq[Expression] =
    if (specs.isEmpty || filters.isEmpty) Seq.empty
    else {
      val ts = specs.flatMap(s =>
        scala.util.Try(parse(s)).toOption)
      for {
        f <- filters
        t <- ts
        r <- rewrite(f, t)
      } yield r
    }
}
