package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Z-order (Morton) interleaving for multi-dimensional data layout — the
  * clustering key behind "sorted by two columns at once" file layouts:
  * range-partition + sort by the interleaved key and BOTH dimensions get
  * locality, so min/max row-group stats prune selective filters on either
  * column (a plain sort gives this for the leading column only).
  *
  * Built entirely from codegen'd bitwise built-ins (shiftleft / & / |) —
  * no UDF, no custom Expression — and replayable bit-for-bit in the
  * DuckDB oracle via [[duckSql]]: the classic power-of-two magic-mask
  * spread, all in exact BIGINT arithmetic.
  *
  * [[interleave16]] takes the LOW 16 BITS of each dimension (callers
  * bucket wider domains first — e.g. `pmod(k, 65536)` or a range-rank);
  * two 16-bit dims → a 32-bit z-value. At 100 TB the op stays a narrow
  * projection; the layout win comes from `repartitionByRange(zval)` +
  * `sortWithinPartitions(zval)` before the write.
  */
object ZOrder {

  private val Masks = Seq(
    (8, 0x00FF00FFL),
    (4, 0x0F0F0F0FL),
    (2, 0x33333333L),
    (1, 0x55555555L))

  /** Spread the low 16 bits of `c` so bit i lands at position 2i. */
  private def spread(c: Column): Column =
    Masks.foldLeft(c.cast("long").bitwiseAND(lit(0xFFFFL))) {
      case (x, (sh, mask)) => x.bitwiseOR(shiftleft(x, sh)).bitwiseAND(lit(mask))
    }

  /** Morton code of (low 16 bits of x, low 16 bits of y): x in the even
    * bit positions, y in the odd.
    */
  def interleave16(x: Column, y: Column): Column =
    spread(x).bitwiseOR(shiftleft(spread(y), 1))

  /** Min-max stretch of a non-negative column into the full 16-bit
    * domain: `(c · 65536) div (maxVal + 1)`. Interleaving only helps when
    * BOTH dimensions occupy comparable bit widths — a dimension with few
    * distinct values contributes only low-order bits, and the z-order
    * degenerates to a plain sort on the wider column (measured: an
    * un-stretched suppkey pruned nothing). Production
    * layouts use a per-column range-bucket rank (the Delta/Iceberg
    * approach); min-max stretch is the cheap shuffle-free variant for
    * roughly-uniform keys. Exact integer arithmetic (`div`, never `/`).
    */
  def stretch16(c: Column, maxVal: Long): Column = {
    require(maxVal >= 0, s"maxVal must be non-negative, got $maxVal")
    call_function("div", c.cast("long") * lit(65536L), lit(maxVal + 1)).cast("long")
  }

  private def spreadSql(e: String): String =
    Masks.foldLeft(s"(($e)::BIGINT & 65535)") { case (x, (sh, mask)) =>
      s"(($x | ($x << $sh)) & $mask)"
    }

  /** DuckDB replay of [[interleave16]] — identical BIGINT mask/shift
    * chain (the sub-expression is duplicated textually; inputs should be
    * short column references).
    */
  def duckSql(xExpr: String, yExpr: String): String =
    s"(${spreadSql(xExpr)} | (${spreadSql(yExpr)} << 1))"
}

/** Hilbert-curve index of a 2-D grid cell — the data-layout sibling of
  * [[ZOrder]]: the Hilbert curve never makes the long diagonal jumps
  * Morton order does, so range scans over a rectangle touch fewer
  * contiguous key runs (measured by q307's locality audit). The state
  * rotation makes the mapping inherently sequential per level, so this
  * is a codegen'd Expression (a CASE-WHEN unroll of the 6-level loop
  * quadruples the expression tree per level); the DuckDB replay unrolls
  * the same loop as chained CTEs over the bounded cell frame.
  *
  * `order` is the bits per dimension (grid is 2^order × 2^order);
  * inputs are cell coordinates in [0, 2^order). The classic xy2d walk:
  * per level s = 2^(order-1) … 1, accumulate s²·((3·rx) xor ry) and
  * rotate/reflect the quadrant.
  */
case class HilbertIndex(left: Expression, right: Expression, order: Int)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert_index"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (bigint, bigint), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def nullSafeEval(a: Any, b: Any): Any =
    HilbertIndex.xy2d(order, a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.HilbertIndex.xy2d($order, $x, $y);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HilbertIndex {

  /** Inclusive valid range for the curve order: order<=0 would make
    * [[xy2d]] return 0 for every cell (the while loop never runs), and
    * order>=32 overflows s*s in the d accumulation — both silently
    * corrupt keys rather than erroring, so the bound is enforced at
    * every entry point (builder, apply, xy2d).
    */
  val MaxOrder: Int = 31

  private def requireOrder(order: Int): Unit =
    require(order >= 1 && order <= MaxOrder,
      s"hilbert_index order must be in [1, $MaxOrder], got $order")

  /** Shared implementation for eval + generated code (static forwarder). */
  def xy2d(order: Int, x0: Long, y0: Long): Long = {
    requireOrder(order)
    var x = x0
    var y = y0
    var d = 0L
    var s = 1L << (order - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) {
          x = s - 1 - x
          y = s - 1 - y
        }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  def apply(x: Column, y: Column, order: Int): Column = {
    requireOrder(order)
    Bridge.column(
      HilbertIndex(Bridge.expression(x), Bridge.expression(y), order))
  }

  /** SQL registration builder: `hilbert_index(x, y, order)` with a
    * literal `order` (the bit width is burned into the generated code).
    */
  def builder(es: Seq[Expression]): Expression = {
    val order = es(2).eval(null) match {
      case n: Number => n.intValue
      case other => throw new IllegalArgumentException(
        s"hilbert_index order must be an integer literal, got $other")
    }
    requireOrder(order)
    HilbertIndex(es(0), es(1), order)
  }

  /** DuckDB replay: the same loop unrolled as chained SELECTs. Returns
    * the SQL for one level step over a relation exposing (x, y, d) plus
    * passthrough columns; compose with [[duckLevels]].
    */
  def duckLevels(order: Int, src: String, passthrough: Seq[String]): String = {
    val pt = passthrough.mkString(", ")
    (0 until order).foldLeft(src) { (inner, lvl) =>
      val s = 1L << (order - 1 - lvl)
      s"""(SELECT $pt,
         |  CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN ${s - 1} - y
         |    ELSE y END ELSE x END AS x,
         |  CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN ${s - 1} - x
         |    ELSE x END ELSE y END AS y,
         |  d + ${s * s} * xor(3 * rx, ry) AS d
         |FROM (SELECT $pt, x, y, d,
         |    CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |    CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
         |  FROM $inner))""".stripMargin
    }
  }
}
