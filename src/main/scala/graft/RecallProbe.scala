package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{broadcast, col, expr, round, row_number, sqrt}

/** Brute-force ANN ground truth (not catalog queries, no oracle): the
  * exact top-k sets that ScaleSmoke's recall-at-scale rows and
  * IvfRecallGuardSpec compare the IVF/PQ serving faces against. The
  * Lloyd-depth recall trace and the 16-cell vs ⌈√N⌉-cell recall@10
  * sweep measured with these references are recorded in NOTES.md
  * ("IVF cell-scaling QUALITY — recall@10 table", round 18).
  */
object RecallProbe {

  /** Brute-force cosine top-k (excluding self) for the serve faces'
    * pinned 30-query batch — [[graft.operators.Similarity.knnBrute]]'s
    * kernel with the batch and k parameterized (that face pins qid < 20,
    * k = 5 for its oracle; the recall rows need the serving batch at
    * k = 10). */
  private[graft] def bruteTopK(spark: SparkSession, dir: String, k: Int): Set[(Long, Long)] = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.VectorFunctions.register(spark)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") < 30)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        sqrt(expr("vec_dot(embedding, embedding)")).as("qn"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      sqrt(expr("vec_dot(embedding, embedding)")).as("cn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    c.join(broadcast(q), col("qid") =!= col("cid"))
      .withColumn("sim", round(expr("vec_dot(qv, cv)") / (col("qn") * col("cn")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  /** Brute-force EXACT-L2 top-k (excluding self) for the same pinned
    * 30-query batch — the ground truth for the QUANTIZING faces'
    * recall rows (ScaleSmoke pqRecall): PQ/IVFPQ rank by ADC squared
    * distance, so their quality question is "how much does
    * quantization (and probing) disturb the exact-L2 ranking" — a
    * cosine truth would mix metric disagreement into the number for
    * non-normalized vectors. Same 6-dp rounding and id tie order as
    * the engine's kernels. */
  private[graft] def bruteTopKL2(spark: SparkSession, dir: String, k: Int): Set[(Long, Long)] = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.VectorFunctions.register(spark)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = e.filter(col("vec_id") < 30)
      .select(col("vec_id").as("qid"), col("emb").as("qv"))
    val c = e.select(col("vec_id").as("cid"), col("emb").as("cv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col("cid"))
    c.join(broadcast(q), col("qid") =!= col("cid"))
      .withColumn("d2", round(expr("vec_dist2_d(qv, cv)"), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }
}
