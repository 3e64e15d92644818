package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** Adversarial hot-FINGERPRINT fixtures for the conf-gated winnowing
  * match guard (`spark.graft.winnow.maxDocsPerFp`) — the same input
  * hazard as an LSH hot bucket: one boilerplate fingerprint shared by m
  * docs makes the fp self-equi-join emit m²/2 pairs. The guard must
  * (a) bound the join by DROPPING hot fingerprints (MOSS's own
  * common-fragment elimination — a fragment in thousands of docs
  * identifies no specific pair), (b) leave cold fingerprints
  * bit-identical, and (c) be a provable no-op when the cap exceeds
  * every fingerprint's doc count (the adaptive probe runs the exact
  * unguarded plan), so the oracle-gated default semantics are
  * unchanged. */
class WinnowGuardSpec extends SparkFunSuite {

  /** Synthetic selection frame driven straight into the
    * [[TextAnalysis.winnowMatchesOf]] seam: 100 boilerplate docs all
    * sharing fps {1,2,3} (each fp hot: 100 docs), one cold pair
    * (1000, 1001) sharing fps {10,11,12} (each fp in 2 docs), and one
    * doc (2000) overlapping the cold pair on only 2 fps — below
    * minShared. */
  private lazy val selected = {
    import spark.implicits._
    val hot = (0L until 100L).flatMap(d => Seq(1L, 2L, 3L).map(fp => (d, fp, fp)))
    val cold = Seq(1000L, 1001L).flatMap(d => Seq(10L, 11L, 12L).map(fp => (d, fp, fp)))
    val sub = Seq(10L, 11L).map(fp => (2000L, fp, fp))
    (hot ++ cold ++ sub).toDF("doc_id", "pos", "fp")
  }

  private def pairs(cap: Int) =
    TextAnalysis.winnowMatchesOf(selected, minShared = 3, cap = cap).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"), r.getAs[Long]("n_shared")))
      .toSet

  test("hot fingerprints are dropped from pair counting; cold pairs survive exactly") {
    val guarded = pairs(cap = 50)
    // the 100-doc boilerplate group emits ZERO pairs — not 100·99/2
    assert(!guarded.exists { case (d1, d2, _) => d1 < 100L && d2 < 100L },
      "hot-fingerprint pairs leaked through the guard")
    // the cold pair is untouched: all 3 shared fps still counted
    assert(guarded === Set((1000L, 1001L, 3L)))
    CacheScope.releaseAll()
  }

  test("unguarded baseline goes quadratic on the same fixture (what the guard prevents)") {
    val unguarded = pairs(cap = 0)
    assert(unguarded.size === 100 * 99 / 2 + 1)
    assert(unguarded.contains((1000L, 1001L, 3L)))
  }

  test("cap above every fingerprint is set-identical to unguarded (adaptive cold path)") {
    val unguarded = pairs(cap = 0)
    val bigCap = pairs(cap = 1000000)
    assert(bigCap === unguarded)
    CacheScope.releaseAll()
  }

  test("cross-corpus contamination: a planted 12-token leak is caught with span positions") {
    import spark.implicits._
    // w + k − 1 = 12 shared tokens planted mid-doc on both sides; the
    // winnowing guarantee promises at least one shared fingerprint
    val leak = (1 to 12).map(i => s"lk$i").mkString(" ")
    val evalDocs = Seq( // doc_id % 97 == 0 by construction of the seam call
      0L -> s"ev1 ev2 ev3 $leak ev4 ev5 ev6 ev7 ev8")
      .toDF("doc_id", "text")
    val trainDocs = Seq(
      5L -> s"tr1 tr2 tr3 tr4 tr5 tr6 tr7 $leak tr8",
      6L -> "clean6a clean6b clean6c clean6d clean6e clean6f clean6g clean6h")
      .toDF("doc_id", "text")
    val got = operators.TextAnalysis.winnowContaminationOf(
      operators.TextAnalysis.winnowSelectedOf(spark, evalDocs),
      operators.TextAnalysis.winnowSelectedOf(spark, trainDocs),
      minShared = 1, cap = 0).collect()
    assert(got.map(r => (r.getAs[Long]("eval_id"), r.getAs[Long]("train_id")))
      .toSeq === Seq((0L, 5L)), "planted leak not caught (or a clean doc flagged)")
    val r = got.head
    assert(r.getAs[Long]("n_shared") >= 1L)
    // the shared fingerprint's gram sits inside the planted span: eval
    // leak starts at token 4 (1-based gram index ≥ 4), train at token 8
    assert(r.getAs[Long]("eval_first") >= 4L && r.getAs[Long]("train_first") >= 8L,
      s"span positions point outside the planted leak: $r")
  }

  test("contamination guard: cross-side hot fingerprint dropped, cold pair survives") {
    import spark.implicits._
    // fp 7 is shared by 50 eval docs and 60 train docs (110 > cap 50 →
    // 3000 pairs if unguarded); fps 10/11/12 link one cold pair
    val evalSel = ((0L until 50L).map(d => (d, 1L, 7L))
      ++ Seq(10L, 11L, 12L).map(fp => (900L, fp, fp))).toDF("doc_id", "pos", "fp")
    val trainSel = ((100L until 160L).map(d => (d, 1L, 7L))
      ++ Seq(10L, 11L, 12L).map(fp => (800L, fp, fp))).toDF("doc_id", "pos", "fp")
    def run(cap: Int) = operators.TextAnalysis
      .winnowContaminationOf(evalSel, trainSel, minShared = 3, cap = cap).collect()
      .map(r => (r.getAs[Long]("eval_id"), r.getAs[Long]("train_id"),
        r.getAs[Long]("n_shared"))).toSet
    assert(run(cap = 50) === Set((900L, 800L, 3L)),
      "hot cross-side fingerprint leaked through, or the cold pair was lost")
    // minShared=3 already hides the single-fp hot pairs from the
    // unguarded output too — the guard's job is the JOIN bound, so prove
    // cap-above-everything matches unguarded exactly
    assert(run(cap = 1000000) === run(cap = 0))
    CacheScope.releaseAll()
  }

  test("exact span extraction recovers a planted run with exact offsets and length") {
    import spark.implicits._
    // 14 planted tokens at eval offset 3 (0-based), train offset 7; a
    // second 5-token echo ('lk1..lk5' again) must NOT reach the report
    // (below minRun) — only the maximal 14-run does
    val leak = (1 to 14).map(i => s"lk$i").mkString(" ")
    val evalDocs = Seq(0L -> s"e1 e2 e3 $leak e4 e5 e6").toDF("doc_id", "text")
    val trainDocs = Seq(
      5L -> s"t1 t2 t3 t4 t5 t6 t7 $leak lk1 lk2 lk3 lk4 lk5 t8",
      6L -> "c1 c2 c3 c4 c5 c6 c7 c8").toDF("doc_id", "text")
    val pairs = Seq((0L, 5L)).toDF("eval_id", "train_id")
    val got = TextAnalysis.contaminationSpansOf(
      pairs, evalDocs, trainDocs, minRun = 12, cap = 0).collect()
      .map(r => (r.getAs[Long]("eval_id"), r.getAs[Long]("train_id"),
        r.getAs[Long]("eval_start"), r.getAs[Long]("train_start"),
        r.getAs[Long]("run_len")))
    assert(got.toSeq === Seq((0L, 5L, 3L, 7L, 14L)),
      s"planted span not recovered exactly: ${got.toSeq}")
  }

  test("span guard: a degenerate pair is declined, healthy pairs exact (adaptive)") {
    import spark.implicits._
    val run = (1 to 12).map(i => s"r$i").mkString(" ")
    // pair (0,5) healthy; pair (1,6) degenerate: 60×60 repeats of one
    // token → 3600 raw matches, over any small cap
    val evalDocs = Seq(
      0L -> s"a1 a2 $run a3", 1L -> Seq.fill(60)("x").mkString(" "))
      .toDF("doc_id", "text")
    val trainDocs = Seq(
      5L -> s"b1 $run b2", 6L -> Seq.fill(60)("x").mkString(" "))
      .toDF("doc_id", "text")
    val pairs = Seq((0L, 5L), (1L, 6L)).toDF("eval_id", "train_id")
    def spans(cap: Long) = TextAnalysis.contaminationSpansOf(
      pairs, evalDocs, trainDocs, minRun = 12, cap = cap).collect()
      .map(r => (r.getAs[Long]("eval_id"), r.getAs[Long]("train_id"))).toSet
    assert(spans(cap = 0) === Set((0L, 5L), (1L, 6L)),
      "unguarded must enumerate both (the degenerate pair has 60-runs)")
    assert(spans(cap = 1000) === Set((0L, 5L)),
      "guard must decline the degenerate pair and keep the healthy one exact")
    // cap above everything = unguarded exactly (adaptive cold path)
    assert(spans(cap = 1000000) === spans(cap = 0))
    CacheScope.releaseAll()
  }

  test("catalog contamination query is non-vacuous on the fixture") {
    // the round-11 gate hash-matched an EMPTY result (the %97 split
    // selected 6 docs, none sharing a fingerprint) — certify the widened
    // %7 split produces real cross-split pairs, so the oracle comparison
    // actually exercises the join, threshold, and position columns
    val rows = TextAnalysis.winnowContamination(spark, sf).collect()
    assert(rows.nonEmpty, "contamination gate is vacuous again at sf0.001")
    assert(rows.forall { r =>
      r.getAs[Long]("eval_id") % 7 == 0 && r.getAs[Long]("train_id") % 7 != 0 &&
        r.getAs[Long]("n_shared") >= 3 &&
        r.getAs[Long]("eval_first") >= 1 && r.getAs[Long]("train_first") >= 1
    })
  }

  test("conf wiring: winnow.maxDocsPerFp reaches winnowMatches; big cap equals default") {
    val default = TextAnalysis.winnowMatches(spark, sf).collect().map(_.toString).sorted.toSeq
    try withConf("spark.graft.winnow.maxDocsPerFp" -> "1000000") {
      val bigCap = TextAnalysis.winnowMatches(spark, sf).collect().map(_.toString).sorted.toSeq
      assert(bigCap === default)
    } finally CacheScope.releaseAll()
  }
}
