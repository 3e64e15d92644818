package graft

import java.security.MessageDigest

import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

import graft.operators.{Curation, TextAnalysis}

/** Independent oracles for the two count-based curation scores — each
  * test recomputes the full statistic driver-side from the raw text
  * (deliberate duplication: the guard shares no code with the engine
  * path, down to its own MD5 hex) and asserts exact equality, which is
  * the same bar the DuckDB gate holds them to at sf0.01. */
class LmDsirSpec extends SparkFunSuite {

  private def docs(d: String): Seq[(Long, String, String)] =
    Tables.documents(spark, d)
      .selectExpr("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

  private def toks(text: String): Seq[String] =
    text.toLowerCase.split(' ').filter(_.nonEmpty).toSeq

  // ------------------------------------------------------ rare trigrams

  test("lmRareTrigram equals a from-scratch trigram count at sf0.001") {
    val all = docs(sf)
    val tris = all.map { case (id, _, t) =>
      id -> toks(t).sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq
    }.filter(_._2.nonEmpty)
    val corpusCnt = tris.flatMap(_._2).groupBy(identity).map { case (g, o) => g -> o.size }
    val expected = tris.map { case (id, gs) =>
      val rare = gs.count(g => corpusCnt(g) <= 2)
      (id, gs.size.toLong, rare.toLong, rare.toDouble / gs.size <= 0.7)
    }.sortBy(_._1)

    val got = TextAnalysis.lmRareTrigram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(4))).toSeq
    assert(got === expected)
  }

  test("rare_rate is the 6dp rounding of n_rare/n_grams, in [0,1]") {
    TextAnalysis.lmRareTrigram(spark, "/root/testdata/sf0.01").collect().foreach { r =>
      val (n, rare, rate) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(rare >= 0 && rare <= n)
      assert(rate >= 0.0 && rate <= 1.0)
      assert(rate === BigDecimal.valueOf(rare.toDouble / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("CMS path is one-sided: n_grams identical, n_rare only shrinks, kept only grows") {
    for (d <- Seq(sf, "/root/testdata/sf0.01")) {
      val exact = TextAnalysis.lmRareTrigram(spark, d).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
      spark.conf.set("spark.graft.lm.cms", "true")
      val approx =
        try TextAnalysis.lmRareTrigram(spark, d).collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
        finally spark.conf.unset("spark.graft.lm.cms")
      assert(approx.keySet === exact.keySet, s"at $d")
      for ((id, (n, rare, kept)) <- exact) {
        val (nA, rareA, keptA) = approx(id)
        assert(nA === n, s"doc $id at $d: n_grams must not move")
        assert(rareA <= rare, s"doc $id at $d: CMS overestimates counts, so " +
          "a position can only flip rare→common")
        assert(!kept || keptA, s"doc $id at $d: kept set must only grow")
      }
    }
  }

  test("filterFunnel equals a from-scratch first-drop attribution at sf0.001") {
    val all = docs(sf)
    val tris = all.map { case (id, _, t) =>
      id -> toks(t).sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq
    }.filter(_._2.nonEmpty)
    val corpusCnt = tris.flatMap(_._2).groupBy(identity).map { case (g, o) => g -> o.size }
    val lmKept = tris.map { case (id, gs) =>
      id -> (gs.count(g => corpusCnt(g) <= 2).toDouble / gs.size <= 0.7)
    }.toMap
    def firstFail(id: Long, text: String): String = {
      val ws = text.split(" ", -1).toSeq
      val n = ws.size.toLong
      val stopHits = ws.count(Set("the", "a", "in", "of", "to"))
      val topTok = ws.distinct.map(t => ws.count(_ == t)).max
      val quality = BigDecimal.valueOf(
        math.min(1.0, text.length.toDouble / 400.0) * 0.5 +
          ws.distinct.size.toDouble / n * 0.5)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (!(n >= 20 && n <= 5000)) "len"
      else if (stopHits < 2) "stop"
      else if (quality < 0.5) "quality"
      else if (topTok.toDouble / n > 0.2) "rep"
      else if (!lmKept.getOrElse(id, true)) "lm"
      else "pass"
    }
    val stages = Seq("len", "stop", "quality", "rep", "lm", "pass")
    val expected = all.groupBy(_._2).map { case (src, ds) =>
      val byStage = ds.map { case (id, _, t) => firstFail(id, t) }
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      (src, ds.size.toLong, stages.map(st => byStage.getOrElse(st, 0L)))
    }.toSeq.sortBy(_._1)

    // columns: source, n_docs, drop_len, drop_stop, drop_quality,
    // drop_rep, drop_lm, n_survive
    val got = TextAnalysis.filterFunnel(spark, sf).collect().map { r =>
      val counts = (2 to 7).map(r.getLong)
      assert(counts.sum === r.getLong(1),
        s"source ${r.getString(0)}: drops + survivors must sum to n_docs")
      (r.getString(0), r.getLong(1), counts.toSeq)
    }.toSeq.sortBy(_._1)
    assert(got === expected)
  }

  // ---------------------------------------------------------------- DSIR

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def bucket(w: String): Long =
    java.lang.Long.parseLong(md5hex(w).take(6), 16) % 256

  test("dsirWeights equals a from-scratch fixed-point computation at sf0.001") {
    val all = docs(sf)
    val feat = all.flatMap { case (id, src, t) => toks(t).map(w => (id, src, bucket(w))) }
    val ratio = feat.groupBy(_._3).map { case (b, occ) =>
      val tc = occ.count(o => Set("src1", "src2", "src3")(o._2)).toLong
      b -> (1000000L * (tc + 1L)) / (occ.size.toLong + 1L)
    }
    val expected = feat.groupBy(_._1).map { case (id, occ) =>
      val w = occ.map(o => ratio(o._3)).sum
      (id, occ.size.toLong, w, w / occ.size)
    }.toSeq.sortBy(_._1)

    val got = Curation.dsirWeights(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
  }

  test("dsirSelect: two-phase bucket selection equals a global sort-take, per source") {
    for (d <- Seq(sf, "/root/testdata/sf0.01")) {
      val all = docs(d)
      val feat = all.flatMap { case (id, src, t) => toks(t).map(w => (id, src, bucket(w))) }
      val ratio = feat.groupBy(_._3).map { case (b, occ) =>
        val tc = occ.count(o => Set("src1", "src2", "src3")(o._2)).toLong
        b -> (1000000L * (tc + 1L)) / (occ.size.toLong + 1L)
      }
      val perDoc = feat.groupBy(_._1).map { case (id, occ) =>
        (id, occ.head._2, occ.map(o => ratio(o._3)).sum / occ.size)
      }.toSeq
      val quota = ((perDoc.size + 3) / 4).toLong
      val keptIds = perDoc.sortBy { case (id, _, avg) => (-avg, id) }
        .take(quota.toInt).map(_._1).toSet
      val expected = perDoc.groupBy(_._2).map { case (src, ds) =>
        (src, ds.size.toLong, ds.count(x => keptIds(x._1)).toLong)
      }.toSeq.sortBy(_._1)

      val got = operators.Curation.dsirSelect(spark, d).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      CacheScope.releaseAll()
      assert(got === expected, s"at $d")
    }
  }

  test("dsir scoring reads the ratio table as a literal: no join, no token explode") {
    val df = Curation.dsirWeights(spark, "/root/testdata/sf0.01")
    df.collect() // finalize AQE
    CacheScope.releaseAll()
    def descend(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children.flatMap(descend) ++ (p match {
        case a: AdaptiveSparkPlanExec => descend(a.executedPlan)
        case q: QueryStageExec        => descend(q.plan)
        case _                        => Nil
      }))
    val tokenStream = descend(df.queryExecution.executedPlan).filter {
      case _: BaseJoinExec | _: GenerateExec | _: BroadcastExchangeExec => true
      case _ => false
    }
    assert(tokenStream.isEmpty,
      "per-doc weights must be one narrow pass over the row, not a token stream:\n" +
        df.queryExecution.executedPlan.toString.take(3000))
  }
}
