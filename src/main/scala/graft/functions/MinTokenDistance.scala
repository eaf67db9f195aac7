package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** The min-token-distance kernel behind [[MinTokenDistance]], shipped
  * to executors as a codegen reference object (the PorterStemKernel
  * pattern). Two-pointer scan over two ASCENDING absolute position
  * lists — the clean form of the reference's skip-ahead walk over gap
  * lists (`util/QueryParser.java:210-248`). NULL elements are SKIPPED
  * (defined, not assumed away): index-built position lists never
  * contain them, but the function is on the public SQL surface
  * (`graft_min_token_distance`) and a parquet round-trip reads arrays
  * back as containsNull=true — an unguarded `getInt` would silently
  * read a null slot as 0 and return a wrong distance. `sort_array`
  * puts nulls FIRST ascending, so real inputs keep the single-pass
  * two-pointer shape; arbitrary null placement is still correct
  * because every null slot is stepped over before it is read.
  */
final class MinTokenDistanceKernel extends Serializable {
  /** Returns the exact minimum |a_i - b_j| over the NON-NULL elements,
    * or -1 when either list has none (the SQL NULL sentinel — codegen
    * cannot return boxed null).
    */
  def minDist(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0; var j = 0; var best = Int.MaxValue
    while (i < n && a.isNullAt(i)) i += 1
    while (j < m && b.isNullAt(j)) j += 1
    while (i < n && j < m) {
      val x = a.getInt(i)
      val y = b.getInt(j)
      val d = if (x >= y) x - y else y - x
      if (d < best) best = d
      if (x < y) { i += 1; while (i < n && a.isNullAt(i)) i += 1 }
      else { j += 1; while (j < m && b.isNullAt(j)) j += 1 }
    }
    if (best == Int.MaxValue) -1 else best
  }
}

/** `(ARRAY<INT>, ARRAY<INT>) -> INT` exact min token distance as a
  * native Catalyst expression. This sits inside EVERY phrase-AND score
  * of the query compiler (reference proximity scoring,
  * `util/QueryParser.java:204-253`) — per matched document — so it
  * must live inside whole-stage codegen rather than behind a
  * `ScalaUDF` (which pays an ArrayData→Seq[Int] conversion plus the
  * null-wrapper closure per row and splits the codegen stage).
  * NULL when either input is NULL or either list is empty (the
  * "positions absent → no proximity boost" branch). Registered as
  * `graft_min_token_distance` in SQL via [[graft.GraftExtensions]].
  */
case class MinTokenDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  /** Nullable even over non-null inputs: an empty position list has no
    * distance (mirrors [[graft.search.QueryCompiler.minDistanceAbs]]'s
    * None).
    */
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_min_token_distance requires two ARRAY<INT> arguments, got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
    }

  @transient private lazy val kernel = new MinTokenDistanceKernel

  override def nullSafeEval(a: Any, b: Any): Any = {
    val d = kernel.minDist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (d < 0) null else d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val k = ctx.addReferenceObj("minDistKernel", kernel,
        classOf[MinTokenDistanceKernel].getName)
      val d = ctx.freshName("minDist")
      s"""int $d = $k.minDist($a, $b);
         |if ($d < 0) { ${ev.isNull} = true; } else { ${ev.value} = $d; }
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object MinTokenDistance {
  /** Column-API entry point. */
  def of(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      MinTokenDistance(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
