package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** `graft_zorder(x, y)`: the 2-D Morton (Z-order) key — bits of the two
  * 16-bit-masked ints interleaved (x in even positions, y in odd).
  *
  * Sorting or range-bucketing by this key clusters rows that are close
  * in BOTH dimensions into the same files, so per-file min/max column
  * stats stay tight on both columns at once and a 2-D predicate prunes
  * files — the data-layout move (Delta/Iceberg `ZORDER BY`) that makes
  * `WHERE x BETWEEN … AND y BETWEEN …` scans cheap at 100 TB, where a
  * single-column sort leaves the other column's stats useless.
  *
  * Bit-spreading uses the classic magic-number shifts (public Morton-code
  * construction), generated inline inside whole-stage codegen — no loop,
  * no fallback; the interpreted path shares [[ZOrder.spread16]] exactly.
  */
case class ZOrder2(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must be IntegerType (callers cast explicitly, like the other
  // graft expressions); values are masked to their low 16 bits
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    ZOrder.spread16(a.asInstanceOf[Int]) |
      (ZOrder.spread16(b.asInstanceOf[Int]) << 1)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val zx = ctx.freshName("zx")
      val zy = ctx.freshName("zy")
      s"""
         |long $zx = ((long) $a) & 0xFFFFL;
         |$zx = ($zx | ($zx << 8)) & 0x00FF00FFL;
         |$zx = ($zx | ($zx << 4)) & 0x0F0F0F0FL;
         |$zx = ($zx | ($zx << 2)) & 0x33333333L;
         |$zx = ($zx | ($zx << 1)) & 0x55555555L;
         |long $zy = ((long) $b) & 0xFFFFL;
         |$zy = ($zy | ($zy << 8)) & 0x00FF00FFL;
         |$zy = ($zy | ($zy << 4)) & 0x0F0F0F0FL;
         |$zy = ($zy | ($zy << 2)) & 0x33333333L;
         |$zy = ($zy | ($zy << 1)) & 0x55555555L;
         |${ev.value} = $zx | ($zy << 1);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ZOrder {
  /** Spread the low 16 bits of `v` to the even bit positions of a long. */
  def spread16(v: Int): Long = {
    var x = v.toLong & 0xFFFFL
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    x = (x | (x << 1)) & 0x55555555L
    x
  }

  def register(s: SparkSession): Unit =
    Registration.ensure(s, "graft_zorder", exprs => ZOrder2(exprs(0), exprs(1)))
}
