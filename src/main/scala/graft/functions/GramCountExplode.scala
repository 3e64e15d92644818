package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** `gram_count_explode(tokens, w)`: one row per DISTINCT token `w`-gram
  * of a document with its 64-bit hash and within-doc occurrence count
  * — the per-document gram-count-index row, computed inside the row.
  *
  * Why a Generator and not gram positions + `groupBy(gh, doc_id)`: the
  * grouping key (gram hash, doc_id) is nearly unique per position row
  * for natural text (a 10-gram rarely repeats WITHIN a doc), so the
  * aggregation's exchange ships one row per gram POSITION — the same
  * combined-nothing smell [[PostingExplode]] killed in the postings
  * build (NOTES r19: 401 of 507 MiB), here owning the gram-index
  * build's first of two full-position exchanges (measured r20: the
  * build halved, 166.8 → 83.1 MiB at ×10, when this fold landed). A
  * document's grams all live in its own row, so the count needs no
  * exchange at all: this generator folds each doc's gram→count map in
  * one pass, and the gram-index build's only remaining exchange is the
  * 64-bucket layout repartition.
  *
  * Output is bit-equal to `groupBy(gh, doc_id).agg(count(1) AS cnt)`
  * over the positional form `explode(transform(sequence(1, n - w + 1),
  * i -> xxhash64(array_join(slice(toks, i, w), ' '))))` — `gh` is
  * Spark's `xxhash64` (seed 42) of the UTF-8 bytes of the space-joined
  * gram (null tokens skipped, matching `array_join`), rows come out in
  * first-occurrence order, a doc with fewer than `w` tokens (or a NULL
  * array) emits nothing. SpanIndexSpec pins the equivalence over the
  * fixture corpus plus planted repeat/short/empty docs.
  *
  * Reference note: the reference's per-line fan-out
  * (projectAdler Manager.java:279-283) is the closest analog of a
  * generator; this one fans out to the distinct-gram count.
  */
case class GramCountExplode(child: Expression, width: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, width)

  override def elementSchema: StructType = StructType(Seq(
    StructField("gh", LongType, nullable = false),
    StructField("cnt", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, width.dataType, width.foldable) match {
      case (ArrayType(StringType, _), IntegerType, true) =>
        TypeCheckResult.TypeCheckSuccess
      case (c, wd, f) => TypeCheckResult.TypeCheckFailure(
        s"gram_count_explode expects (ARRAY<STRING>, foldable INT), got " +
          s"(${c.sql}, ${wd.sql}${if (f) "" else ", non-foldable"})")
    }

  /** Spark's xxhash64 seed (XxHash64 expression default). */
  private val Seed = 42L

  @transient private lazy val w: Int = {
    val v = width.eval(null).asInstanceOf[Int]
    require(v >= 1, s"gram_count_explode width must be >= 1, got $v")
    v
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n < w) Iterator.empty
      else {
        // token bytes materialized once per doc (getUTF8String returns a
        // view into the row buffer — copy via getBytes before reuse)
        val toks = new Array[Array[Byte]](n)
        var i = 0
        while (i < n) {
          toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).getBytes
          i += 1
        }
        // insertion-ordered so output order is deterministic
        // (first-occurrence order, like the displaced groupBy's input)
        val acc = new java.util.LinkedHashMap[java.lang.Long, Array[Long]]()
        var buf = new Array[Byte](64)
        var s = 0
        while (s + w <= n) {
          // space-joined gram bytes, null tokens skipped — array_join
          // semantics, so gh is bit-equal to the positional form's
          // xxhash64 over the same UTF-8 bytes
          var len = 0
          var first = true
          var j = s
          while (j < s + w) {
            val t = toks(j)
            if (t != null) {
              val need = len + t.length + (if (first) 0 else 1)
              if (need > buf.length)
                buf = java.util.Arrays.copyOf(buf, math.max(need, buf.length * 2))
              if (!first) { buf(len) = ' '.toByte; len += 1 }
              System.arraycopy(t, 0, buf, len, t.length)
              len += t.length
              first = false
            }
            j += 1
          }
          val gh = java.lang.Long.valueOf(
            XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, Seed))
          val cur = acc.get(gh)
          if (cur == null) acc.put(gh, Array(1L)) else cur(0) += 1L
          s += 1
        }
        val it = acc.entrySet().iterator()
        new Iterator[InternalRow] {
          def hasNext: Boolean = it.hasNext
          def next(): InternalRow = {
            val e = it.next()
            InternalRow(e.getKey.longValue(), e.getValue()(0))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), width = newChildren(1))
}

object GramCountExplode {
  /** Session-local registration (idempotent). */
  def register(s: SparkSession): Unit =
    Registration.ensure(s, "gram_count_explode", exprs => GramCountExplode(exprs(0), exprs(1)))
}
