package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `posting_explode(tokens)`: one row per DISTINCT token of a document
  * with its term frequency and ascending 0-based position list — the
  * per-document inverted-index row, computed inside the row.
  *
  * Why a Generator and not `posexplode` + `groupBy(token, doc)`: the
  * grouping key (token, doc_id) is nearly unique per position row for
  * natural text (tf ≈ 1), so the aggregation's exchange ships ONE ROW
  * PER TOKEN POSITION in document order — measured at the ×10 smoke
  * corpus as 401 of q_bm25_batch_indexed's 507 MiB of shuffle (NOTES
  * r19), 10× the size of the same logical content re-exchanged after
  * aggregation (sorted, dictionary-friendly). A document's positions
  * all live in its own row, so the aggregation needs no exchange at
  * all: this generator folds each doc's token→positions map in one
  * pass, and the postings build's only remaining exchange is the
  * 64-bucket layout repartition.
  *
  * Output is bit-equal to
  * `groupBy(token, doc_id, dl).agg(count(1) AS tf,
  * sort_array(collect_list(pos)) AS positions)` over
  * `posexplode(tokens)` — positions are appended in ascending scan
  * order, tf = positions.length, empty-string tokens group like any
  * other value, a NULL array emits nothing (PostingsIndexSpec pins the
  * equivalence over the fixture corpus).
  *
  * Reference note: the reference's per-line fan-out
  * (projectAdler Manager.java:279-283) is the closest analog of a
  * generator; this one fans out to the distinct-token count.
  */
case class PostingExplode(child: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child)

  override def elementSchema: StructType = StructType(Seq(
    StructField("token", StringType, nullable = true),
    StructField("tf", LongType, nullable = false),
    StructField("positions", ArrayType(LongType, containsNull = false),
      nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"posting_explode expects ARRAY<STRING>, got ${other.sql}")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      // insertion-ordered so output order is deterministic (first
      // occurrence order); keys are CLONED — getUTF8String returns a
      // view into the input row's buffer, which the execution engine
      // reuses across rows while this iterator is still being drained
      val acc = new java.util.LinkedHashMap[UTF8String, scala.collection.mutable.ArrayBuffer[Long]]()
      var i = 0
      while (i < n) {
        val tok = if (arr.isNullAt(i)) null else arr.getUTF8String(i).clone()
        val buf = acc.get(tok)
        if (buf == null) {
          val b = new scala.collection.mutable.ArrayBuffer[Long](4)
          b += i.toLong
          acc.put(tok, b)
        } else buf += i.toLong
        i += 1
      }
      val it = acc.entrySet().iterator()
      new Iterator[InternalRow] {
        def hasNext: Boolean = it.hasNext
        def next(): InternalRow = {
          val e = it.next()
          val ps = e.getValue
          InternalRow(e.getKey, ps.length.toLong,
            new GenericArrayData(ps.toArray))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

object PostingExplode {
  /** Session-local registration (idempotent). */
  def register(s: SparkSession): Unit =
    Registration.ensure(s, "posting_explode", exprs => PostingExplode(exprs(0)))
}
