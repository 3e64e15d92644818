package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

/** Permanent plan-hygiene guard: a nested-loop or cartesian join appearing
  * in a catalog query that didn't deliberately choose one is exactly the
  * scale regression the 100 TB stance forbids — fail the suite, not the
  * cluster. */
class PlanHygieneSpec extends AnyFunSuite {
  lazy val spark = SparkSpecBase.session

  /** The queries where a nested loop IS the design:
    * - q_band_join: inequality join against a 5-row interval table;
    * - q_knn_brute: the deliberate brute-force baseline (queries broadcast);
    * - q_knn_ivf / q_knn_ivfpq: the 16-row centroid scoring cross
    *   product (= cell assignment; ivfpq composes the same quantizer);
    * - q_knn_classify: votes over q_knn_brute's output — inherits the
    *   brute baseline's broadcast scan by construction. */
  private val intendedNestedLoop =
    Set("q_band_join", "q_knn_brute", "q_knn_ivf", "q_knn_ivfpq",
      "q_knn_classify", "q_bitext_mine")

  /** Queries whose BUILD already executes jobs (sinks write, streams run,
    * eager caches materialize) — planning them here would re-run half of
    * Verify; their plans are covered by the explicit audits in NOTES.md. */
  private def skip(name: String): Boolean =
    name.startsWith("q_stream") || name.startsWith("q_sink") ||
      Set("q_source_binary", "q_partitioned_sink", "q_dedup_minhash",
        // same eager signature cache as q_dedup_minhash; its own
        // dedicated plan test below pins the WindowGroupLimit shape
        "q_dedup_minhash_topn", "q_dedup_ngram_topn",
        "q_dedup_containment_topn",
        "q_dedup_ngram", "q_dedup_clusters", "q_dedup_incremental",
        "q_knn_ivf", "q_knn_ivf_indexed", "q_knn_ivf_served",
        // scaled IVF: eager buildOnce + probed-cell collect at plan
        // time; its query×centroid broadcast scoring cross is the same
        // intended shape q_knn_ivf whitelists (≤ ⌈√N⌉ broadcast rows)
        "q_knn_ivf_scaled_served",
        "q_bm25_indexed", "q_bm25_served",
        "q_bm25_batch_indexed", "q_bm25_batch_served", "q_phrase_indexed",
        "q_phrase_served", "q_bm25_batch_shard_served",
        "q_span_removal_served", "q_span_dedup_served",
        "q_span_removal_shard_served", "q_span_dedup_shard_served",
        "q_dedup_incremental_served", "q_dedup_incremental_shard_served",
        "q_winnow_contamination_indexed", "q_winnow_contamination_served",
        "q_bucketed_join").contains(name)

  private def offenders(p: SparkPlan): Seq[String] = {
    val self = p match {
      case _: BroadcastNestedLoopJoinExec => Seq("BroadcastNestedLoopJoin")
      case _: CartesianProductExec => Seq("CartesianProduct")
      case _ => Nil
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    self ++ kids.flatMap(offenders)
  }

  test("topN pair face plans a partial per-group limit before the bucket exchange") {
    // the face's 100x claim: each map task forwards <= 5 rows per bucket
    // BEFORE the shuffle (Spark's InferWindowGroupLimit), so the exchange
    // never carries the full pair report. Measured x10: 16.8 MiB shuffle
    // write vs the bucketed face's 282 MiB — this pins the plan shape
    // that buys it. Both a Partial and a Final WindowGroupLimit must
    // plan, Partial below the exchange.
    val df = graft.operators.Dedup.dedupMinhashTopN(spark, SparkSpecBase.sf)
    try {
      val plan = df.queryExecution.executedPlan.toString
      val partials = "WindowGroupLimit".r.findAllIn(plan).size
      assert(plan.contains("Partial") && plan.contains("Final") && partials >= 2,
        s"expected Partial+Final WindowGroupLimit pair, got:\n${plan.take(4000)}")
    } finally CacheScope.releaseAll()
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    val s = spark
    import s.implicits._
    val prev = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> s.conf.getOption(k)).toMap
    try {
      // force a sort-merge join and make the skew detector fire at test
      // scale (the thresholds are the ONLY thing scaled down here — the
      // mechanism under test is the production one)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // one hot key carrying ~13MB of INCOMPRESSIBLE payload (shuffle
      // sizes are post-compression — a constant pad would vanish) against
      // a uniform tail
      val pad = org.apache.spark.sql.functions.repeat(
        org.apache.spark.sql.functions.md5(col("id").cast("string")), 8)
      val left = s.range(50000).select(lit(0L).as("k"), pad.as("payload"))
        .union(s.range(2000).select((col("id") % 100 + 1).as("k"), pad.as("payload")))
      val right = s.range(101).select(col("id").as("k"), col("id").as("v"))
      val joined = left.join(right, "k")
      // drive THIS QueryExecution instance (count() would build its own)
      // so AQE finalizes the inspected plan
      joined.queryExecution.toRdd.count()
      def findSkew(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
        val here = p match {
          case smj: org.apache.spark.sql.execution.joins.SortMergeJoinExec => smj.isSkewJoin
          case _ => false
        }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        here || kids.exists(findSkew)
      }
      assert(findSkew(joined.queryExecution.executedPlan),
        "expected AQE to mark the sort-merge join as a skew join:\n" +
          joined.queryExecution.executedPlan.toString.take(4000))
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("runtime Bloom-filter join pruning injects on a selective fact-fact join") {
    val s = spark
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> s.conf.getOption(k)).toMap
    try {
      // thresholds scaled to test data; the mechanism (a bloom filter built
      // from the selective side, pushed into the big side's scan) is the
      // production one — at 100 TB it prunes shuffle input, not just rows
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      val li = Tables.lineitem(s, SparkSpecBase.sf)
      val o = Tables.orders(s, SparkSpecBase.sf)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(o("o_orderpriority")).agg(org.apache.spark.sql.functions.count(lit(1)))
      val hasBloom = joined.queryExecution.optimizedPlan.toString
        .contains("bloom_filter_agg") ||
        joined.queryExecution.optimizedPlan.toString.contains("BloomFilterMightContain") ||
        joined.queryExecution.optimizedPlan.toString.contains("might_contain")
      assert(hasBloom,
        "expected a runtime bloom filter in the optimized plan:\n" +
          joined.queryExecution.optimizedPlan.toString.take(3000))
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("sorted single-file bucketed layout: SMJ with no exchange and no sort below it") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val df = operators.Relational3.bucketedJoin(spark, SparkSpecBase.sf)
    df.queryExecution.toRdd.count() // finalize THIS instance's AQE plan
    def descend(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(descend)
    }
    val all = descend(df.queryExecution.executedPlan)
    val smjs = all.collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, "bucketed join no longer plans a sort-merge join")
    val below = smjs.flatMap(j => j.children.flatMap(descend)).collect {
      case _: SortExec => "Sort"
      case _: ShuffleExchangeExec => "Exchange"
    }
    assert(below.isEmpty,
      s"bucket layout stopped propagating order/partitioning: $below")
  }

  test("no batch catalog query plans an unintended nested-loop or cartesian join") {
    val bad = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => skip(name) || intendedNestedLoop(name) }
      .flatMap { case (name, fn) =>
        val found = offenders(fn(spark, SparkSpecBase.sf).queryExecution.executedPlan)
        if (found.nonEmpty) Seq(s"$name: ${found.mkString(", ")}") else Nil
      }
    assert(bad.isEmpty, s"unintended join strategies:\n${bad.mkString("\n")}")
  }

  test("HOF-family filters never duplicate an expensive expression (the winnow-pushdown trap)") {
    // Round-10 pathology: explode(sel) made InferFiltersFromGenerate add a
    // size(sel)>0 predicate, and pushdown substituted the md5 gram-hash
    // transform SEVEN times (nested per-window) into one Filter condition
    // — O(m²·k) hash work per row, 971 s at sf0.1, caught only by the
    // bench. This walk turns that plan shape into a unit-test failure:
    // over the scan→HOF→generate family, any optimized-plan Filter whose
    // condition embeds more than one md5/conv/transform subtree is a
    // duplicated-evaluation regression. (One embedded copy would already
    // be waste; the generate-side queries are pinned at ZERO below via
    // the explode_outer restructure — see TextAnalysis.winnowSelectedOf.)
    import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, Conv, Expression, Md5}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val family = Seq("q_winnow_fingerprints", "q_winnow_matches",
      "q_winnow_contamination", "q_cdc_chunks",
      "q_cdc_dedup", "q_span_dedup", "q_span_removal", "q_udtf_shingles")
    def expensive(e: Expression): Int = {
      val self = e match {
        case _: Md5 | _: Conv | _: ArrayTransform => 1
        case _ => 0
      }
      self + e.children.map(expensive).sum
    }
    val bad = family.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, SparkSpecBase.sf)
        .queryExecution.optimizedPlan
      plan.collect { case f: Filter => name -> expensive(f.condition) }
        .filter(_._2 > 1)
        .map { case (n, c) => s"$n: Filter embedding $c expensive subtrees" }
    }
    assert(bad.isEmpty,
      s"expensive expressions duplicated into Filter conditions:\n${bad.mkString("\n")}")
    // the two winnow queries are pinned tighter: their restructure
    // guarantees NO expensive expression reaches any Filter at all
    val winnowLeaks = Seq("q_winnow_fingerprints", "q_winnow_matches",
      "q_winnow_contamination").flatMap { name =>
      SparkEntry.queries(name)(spark, SparkSpecBase.sf)
        .queryExecution.optimizedPlan
        .collect { case f: Filter => name -> expensive(f.condition) }
        .filter(_._2 > 0)
        .map { case (n, c) => s"$n: $c expensive subtrees in a Filter" }
    }
    assert(winnowLeaks.isEmpty,
      s"winnowing regressed — expensive work back inside a Filter:\n${winnowLeaks.mkString("\n")}")
  }

  test("global (unpartitioned) windows appear only over bounded bucket/vocab tables") {
    // WindowExec with an empty partitionSpec moves ALL rows to one
    // partition — the classic 100 TB serialization point. The engine's
    // two-phase pattern (bucket map-side, window the tiny bucket table,
    // broadcast back) means every global window in main runs over a
    // frame bounded BY CONSTRUCTION (≤257 quality buckets, per-source
    // aggregates). Pin that: any catalog query
    // planning a global window outside this allowlist is a regression —
    // either restructure it two-phase or, if its input is provably
    // bounded, add it here WITH the bound in a comment at the site.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val allowed = Map(
      "q_token_budget" -> "≤257 quality buckets",
      "q_mix_sources" -> "per-source aggregate (≤|sources| rows)",
      "q_mix_temperature" -> "per-source aggregate (≤|sources| rows)")
    val haveGlobal = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => skip(name) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, SparkSpecBase.sf).queryExecution.optimizedPlan
        val globals = plan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
        if (globals.nonEmpty) Seq(name) else Nil
      }.toSet
    val offenders = haveGlobal -- allowed.keySet
    assert(offenders.isEmpty,
      s"unaudited global windows (all-to-one-partition at scale): $offenders")
    // two-way: a stale allowlist entry is a dormant permission — prune it
    val stale = allowed.keySet -- haveGlobal
    assert(stale.isEmpty, s"allowlisted queries no longer plan a global window: $stale")
  }

  test("funnel plans without an Expand (no multi-distinct row multiplication)") {
    // four countDistincts over the windowed stream would plan an Expand
    // that quadruples the rows into the final exchange; the per-user
    // collapse makes every final count a plain count — assert the Expand
    // never comes back
    def expands(p: SparkPlan): Int = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      (if (p.isInstanceOf[org.apache.spark.sql.execution.ExpandExec]) 1 else 0) +
        kids.map(expands).sum
    }
    val plan = operators.EventsOps.funnel(spark, SparkSpecBase.sf)
      .queryExecution.executedPlan
    assert(expands(plan) === 0, s"funnel re-grew an Expand:\n$plan")
  }
}
