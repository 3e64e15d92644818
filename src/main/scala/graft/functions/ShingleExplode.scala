package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom table-generating function (UDTF surface, SURVEY.md §2.2 last
  * row): `shingle_explode(text, n)` emits one row per character n-gram
  * with its position — the lazy generator twin of the
  * `transform(sequence(...))` + `explode` composition used by the dedup
  * operators (graft/operators/Dedup.scala shingleSets).
  *
  * A Generator is the right extension point when one input row fans out
  * to many output rows and building the intermediate ARRAY per row (then
  * exploding it) would allocate the whole fan-out at once: this iterator
  * yields rows lazily, so peak memory per input row is O(n), not
  * O(len·n). Generators execute in `GenerateExec` outside whole-stage
  * codegen (CodegenFallback) — for hot paths the array+explode form can
  * still win; this is the API exemplar with the memory-shape advantage.
  *
  * Reference note: the closest reference analog is the per-line fan-out of
  * tasks (projectAdler Manager.java:279-283, one input line → one SQS task
  * message) — generators are the engine's declarative fan-out primitive.
  */
case class ShingleExplode(child: Expression, width: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, width)

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("shingle", StringType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = {
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"shingle_explode expects a STRING input, got ${child.dataType.sql}")
    else if (width.dataType != IntegerType || !width.foldable)
      TypeCheckResult.TypeCheckFailure(
        "shingle_explode expects a constant INT width")
    else if (width.eval() == null)
      // a foldable NULL would unbox to 0 and silently yield empty output;
      // reject it at analysis time instead
      TypeCheckResult.TypeCheckFailure(
        "shingle_explode width must not be NULL")
    else TypeCheckResult.TypeCheckSuccess
  }

  private lazy val n: Int = width.eval().asInstanceOf[Int]

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      // Code-point-aware: positions count characters (not UTF-16 code
      // units) and a shingle can never split a surrogate pair — matching
      // how the SQL oracle counts characters for non-BMP text.
      val cps = v.asInstanceOf[UTF8String].toString.codePoints().toArray
      if (n <= 0 || cps.length < n) Iterator.empty
      else (0 to cps.length - n).iterator.map { i =>
        InternalRow(i + 1, UTF8String.fromString(new String(cps, i, n)))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), width = newChildren(1))
}

object ShingleExplode {
  /** Session-local registration (the extensions class also injects it). */
  def register(s: SparkSession): Unit =
    Registration.ensure(s, "shingle_explode", exprs => ShingleExplode(exprs(0), exprs(1)))
}
