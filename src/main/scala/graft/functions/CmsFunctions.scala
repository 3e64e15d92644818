package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.CountMinSketch

/** `graft_cms_estimate(sketch, token)`: point-query Spark's own
  * Count-Min sketch (the binary `count_min_sketch(...)` aggregate
  * produces) for a string's estimated count. Spark ships the aggregate
  * as SQL but no estimator, so the sketch is write-only from SQL; this
  * closes the loop.
  *
  * The deserialized sketch is cached per expression instance keyed on
  * the incoming byte array's identity — the sketch arrives via a scalar
  * subquery, so every row of a task sees the same array and `readFrom`
  * runs once per task, not per row. CodegenFallback is the accepted
  * trade at both call sites: [[graft.operators.TextAnalysis.heavyHittersCms]]
  * queries only the CANDIDATE set (vocabulary-sized), and the gated LM
  * scale path ([[graft.operators.TextAnalysis.lmRareTrigram]],
  * `spark.graft.lm.cms`) deliberately pays one interpreted eval per
  * gram occurrence to REMOVE the stream-wide exchange it replaces —
  * a per-row hash beats shuffling the row.
  * Estimation hashes the same UTF-8 bytes the aggregate added, so
  * estimates are exact upper bounds for the aggregated column. */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  @transient private var cachedRef: AnyRef = _
  @transient private var cachedSketch: CountMinSketch = _

  override def nullSafeEval(sk: Any, v: Any): Any = {
    val bytes = sk.asInstanceOf[Array[Byte]]
    if (!(bytes eq cachedRef)) {
      cachedSketch = CountMinSketch.readFrom(bytes)
      cachedRef = bytes
    }
    cachedSketch.estimateCount(v.asInstanceOf[UTF8String].getBytes)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CmsFunctions {
  def register(s: SparkSession): Unit =
    Registration.ensure(s, "graft_cms_estimate", exprs => CmsEstimate(exprs(0), exprs(1)))
}
