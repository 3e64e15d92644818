package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SQL-surface registration for Spark's Bloom-filter expressions.
  *
  * Spark ships `BloomFilterAggregate` / `BloomFilterMightContain` for its
  * own runtime-filter injection but does not register them as callable
  * SQL functions; [[graft.operators.Curation.contaminationBloom]] plants
  * the same sketch-and-probe shape EXPLICITLY (a scalar-subquery sketch
  * probed by a codegen'd predicate on the scan), so it registers them
  * under graft names. Both are Spark's own codegen'd implementations —
  * no UDF in the hot path.
  *
  *   graft_bloom_agg(xxhash64(col), estimatedItems, numBits) -> binary
  *   graft_might_contain(bloomBinary, xxhash64(col))         -> boolean
  */
object BloomFunctions {
  def register(s: SparkSession): Unit = {
    Registration.ensure(s, "graft_bloom_agg",
      exprs => new BloomFilterAggregate(exprs(0), exprs(1), exprs(2)))
    Registration.ensure(s, "graft_might_contain",
      exprs => BloomFilterMightContain(exprs(0), exprs(1)))
  }
}
