package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Curation}

class CurationSpec extends SparkFunSuite {

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(nodes)
  }

  test("epoch-shuffle write: 8 one-file shards, hash-sorted in-file, assignment preserved") {
    val root = TempDirs.scratch("graft_epoch_spec_")
    val out = root.resolve("ep1").toString
    val docs = Tables.documents(spark, sf)
    Curation.writeEpochShards(docs, "ep1", out)
    val shardDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard=")).sortBy(_.getName)
    assert(shardDirs.length === 8, s"expected 8 shard dirs, got ${shardDirs.length}")
    // repartition(col) routes each whole shard to one task → ONE file each
    val partFiles = shardDirs.map(_.listFiles().count(_.getName.startsWith("part-")))
    assert(partFiles.forall(_ === 1), s"files per shard: ${partFiles.mkString(",")}")
    // in-file order is the epoch hash — a single-file read preserves row
    // order, so collecting h must come back already sorted
    shardDirs.foreach { sd =>
      val hs = spark.read.parquet(sd.getAbsolutePath)
        .select(col("h")).collect().map(_.getString(0))
      assert(hs.sameElements(hs.sorted), s"${sd.getName} not hash-sorted in file")
    }
    // physical files carry exactly the logical assignment (count + id sum)
    val back = spark.read.parquet(out).groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("ids"))
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2)))).toMap
    val assigned = Curation.epochShuffleAssign(docs, "ep1").groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("ids"))
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(back === assigned, "written shards diverge from the assignment")
  }

  test("bloom-pruned contamination is bit-identical to the exact operator") {
    val exact = Corpus.contamination(spark, sf).collect().map(_.toString).toSeq
    val bloom = Curation.contaminationBloom(spark, sf).collect().map(_.toString).toSeq
    assert(bloom === exact)
    assert(bloom.nonEmpty)
  }

  test("bloom pass is a scalar-subquery sketch, not a nested-loop join") {
    val df = Curation.contaminationBloom(spark, sf)
    df.queryExecution.toRdd.count()
    val plan = nodes(df.queryExecution.executedPlan)
    assert(!plan.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      s"bloom sketch attached via BNLJ:\n${df.queryExecution.executedPlan}")
    // the probe predicate rides a Filter over the train side (printed as
    // `might_contain(Subquery ...)`) and the sketch is one aggregate
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("might_contain("),
      s"no bloom probe in the executed plan:\n$planStr")
    assert(planStr.contains("bloom_filter_agg("),
      s"no bloom sketch aggregate in the executed plan:\n$planStr")
  }

  test("weighted sampling: deterministic, monotone in the weight factor") {
    def keptBy(factor: Double): Long = {
      spark.conf.set("spark.graft.curation.weightFactor", factor.toString)
      try Curation.sampleWeighted(spark, sf).agg(sum(col("n_kept")))
        .head().getLong(0)
      finally spark.conf.unset("spark.graft.curation.weightFactor")
    }
    val total = Tables.documents(spark, sf).count()
    val base = keptBy(1.25)
    assert(base === keptBy(1.25), "hash gate is not deterministic")
    assert(base > 0 && base < total,
      s"factor 1.25 should thin the corpus, kept $base of $total")
    val tight = keptBy(0.5)
    val loose = keptBy(4.0)
    assert(tight < base && base < loose,
      s"kept counts not monotone: $tight (0.5) / $base (1.25) / $loose (4.0)")
    assert(loose === total, "factor 4.0 makes every rate 1.0 — all docs kept")
  }

  test("cluster representative is the member with the highest quality") {
    val reps = Curation.dedupRepresentative(spark, sf).collect()
    CacheScope.releaseAll()
    assert(reps.nonEmpty)
    assert(reps.map(_.getLong(0)).distinct.length === reps.length,
      "one representative per cluster")
    val members = graft.operators.Dedup.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    CacheScope.releaseAll()
    // replicate Spark's round(): BigDecimal.valueOf + HALF_UP (NOTES rule)
    val quality = graft.operators.TextAnalysis.qualityScore(spark, sf).collect()
      .map(r => r.getLong(0) -> java.math.BigDecimal.valueOf(r.getDouble(3))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()).toMap
    val byCluster = members.groupBy(_._2)
    for (r <- reps) {
      val (cid, rep, repQ) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val ms = byCluster(cid).map(_._1)
      assert(ms.contains(rep), s"rep $rep not a member of cluster $cid")
      assert(r.getLong(3) === ms.length.toLong, "cluster_size mismatch")
      val maxQ = ms.map(quality).max
      assert(math.abs(repQ - maxQ) < 1e-9,
        s"cluster $cid rep quality $repQ != member max $maxQ")
    }
  }

  test("two-input corpusDiff classifies adds/removes/changes across distinct frames") {
    import spark.implicits._
    val v1 = Seq(
      (1L, "web", "alpha"), (2L, "web", "bravo"),
      (3L, "books", "charlie"), (4L, "books", "delta"))
      .toDF("doc_id", "source", "text")
    val v2 = Seq(
      (1L, "web", "alpha"),          // unchanged
      (2L, "web", "bravo EDITED"),   // changed
      (4L, "books", "delta"),        // unchanged (3 removed)
      (5L, "books", "echo"))         // added
      .toDF("doc_id", "source", "text")
    val got = Curation.corpusDiff(v1, v2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(
      ("web", "unchanged", 1L), ("web", "changed", 1L),
      ("books", "removed", 1L), ("books", "unchanged", 1L),
      ("books", "added", 1L)))
  }

  test("token budget: two-phase bucket prefix equals the global-window greedy rule") {
    import org.apache.spark.sql.expressions.Window
    def withBudget[A](b: Long)(body: => A): A =
      try { spark.conf.set("spark.graft.curation.tokenBudget", b.toString); body }
      finally spark.conf.unset("spark.graft.curation.tokenBudget")
    // the reference semantics, computed the NON-scalable way: one window
    // over the global (quality desc, doc_id) order
    val globalGreedy = Tables.documents(spark, sf)
      .withColumn("ttr",
        expr("size(array_distinct(split(text, ' ')))").cast("double") /
          expr("size(split(text, ' '))"))
      .withColumn("quality",
        round(least(lit(1.0), length(col("text")).cast("double") / 400.0) * 0.5 +
          col("ttr") * 0.5, 6))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("tok_before", coalesce(
        sum(col("n_tokens")).over(
          Window.orderBy(col("quality").desc, col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    for (budget <- Seq(1L, 700L, 2000L, 1000000L)) {
      val expected = globalGreedy.filter(col("tok_before") < budget)
        .select(col("doc_id"), col("quality"), col("n_tokens"))
        .orderBy(col("doc_id")).collect().map(_.toString).toSeq
      val got = withBudget(budget)(
        Curation.tokenBudget(spark, sf).collect().map(_.toString).toSeq)
      CacheScope.releaseAll()
      assert(got === expected, s"budget $budget: two-phase != global window")
    }
    // budget 1 keeps exactly the single best doc; a huge budget keeps all
    assert(withBudget(1L)(Curation.tokenBudget(spark, sf).count()) === 1L)
    CacheScope.releaseAll()
    assert(withBudget(1000000L)(Curation.tokenBudget(spark, sf).count()) ===
      Tables.documents(spark, sf).count())
    CacheScope.releaseAll()
  }

  test("domain cap: bucketed prefix equals the per-source global window; caps hold") {
    import org.apache.spark.sql.expressions.Window
    def withCap[A](c: Long)(body: => A): A =
      try { spark.conf.set("spark.graft.curation.domainCapTokens", c.toString); body }
      finally spark.conf.unset("spark.graft.curation.domainCapTokens")
    val base = Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("tok_before", coalesce(
        sum(col("n_tokens")).over(
          Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    for (cap <- Seq(1L, 120L, 300L, 1000000L)) {
      val expected = base.filter(col("tok_before") < cap)
        .select(col("source"), col("doc_id"), col("n_tokens"))
        .orderBy(col("source"), col("doc_id")).collect().map(_.toString).toSeq
      val got = withCap(cap)(
        Curation.domainCap(spark, sf).collect().map(_.toString).toSeq)
      CacheScope.releaseAll()
      assert(got === expected, s"cap $cap: bucketed prefix != per-source window")
    }
    // every source's kept tokens stay under cap + its one overshooting doc
    val kept = withCap(120L)(Curation.domainCap(spark, sf).collect())
    CacheScope.releaseAll()
    kept.groupBy(_.getString(0)).foreach { case (src, rows) =>
      val toks = rows.map(_.getAs[Long]("n_tokens"))
      assert(toks.sum - toks.max < 120L,
        s"source $src blew the cap even before its boundary doc: ${toks.sum}")
    }
    // cap 1 keeps exactly one doc per source
    val one = withCap(1L)(Curation.domainCap(spark, sf).collect())
    CacheScope.releaseAll()
    assert(one.groupBy(_.getString(0)).values.forall(_.length == 1))
  }

  test("curation pipeline stages nest and reconcile with their home operators") {
    val d = "/root/testdata/sf0.01"
    val rows = Curation.curationPipeline(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    CacheScope.releaseAll()
    assert(rows.nonEmpty)
    // stages can only shrink, per source
    rows.foreach { case (src, nd, fp, el, kept) =>
      assert(fp <= nd && el <= fp && kept <= el, s"$src stages must nest")
    }
    // the filter stage agrees with q_filter_funnel's survivor column
    val survive = operators.TextAnalysis.filterFunnel(spark, d).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_survive")).toMap
    rows.foreach { case (src, _, fp, _, _) =>
      assert(fp === survive(src), s"$src filter stage drifted from the funnel")
    }
    // the quota is global: total kept = ceil(total eligible / 4)
    val elTot = rows.map(_._4).sum
    assert(rows.map(_._5).sum === (elTot + 3) / 4,
      "selection quota must be the DSIR top quartile of eligible docs")
    // and something survives each stage on the fixture
    assert(rows.map(_._3).sum > 0 && rows.map(_._4).sum > 0 && rows.map(_._5).sum > 0)
  }

  // ------------------------------------------- adversarial curation corpus

  /** A corpus built to break the fused vocabulary pass: an empty text,
    * all-space texts (every lowercased token empty — DSIR must drop
    * them), a one-token doc, empty tokens inside a doc, and İ (U+0130,
    * which lowercases to two chars) and word-final Σ (which lowercases
    * by context) inside phrases. The phrases repeat across docs so the
    * LM and repetition rules let most regular docs through, and the
    * target sources (src1–src3) lean on different phrases than the rest,
    * so the classifier has a signal to vote on. `w127` shares the empty
    * token's DSIR bucket (md5 prefix mod 256 = 140), so an empty token
    * counted into the ratio table would move a weight. */
  private lazy val adversarial: (String, Seq[(Long, String, String)]) = {
    val phrases = Seq(
      "the İstanbul ferry leaves at dawn",
      "a ΟΔΟΣ of old stone runs",
      "in the ΣΟΦΙΑ quarter KİTAP markets open",
      "to the harbour Σ boats return w127",
      "of every ΑΣ lamp lit",
      "Apple and apple differ in case",
      "winds carry salt over the roofs",
      "children chase gulls near a pier")
    val rnd = new scala.util.Random(11)
    val regular = (10L until 70L).map { id =>
      val src = s"src${1 + id % 5}"
      val lo = if (id % 5 < 3) 0 else 2
      val text = Seq.fill(5 + rnd.nextInt(4))(phrases(lo + rnd.nextInt(6))).mkString(" ")
      (id, src, text)
    }
    val edge = Seq(
      (1L, "src1", ""), (2L, "src4", "     "), (3L, "src2", "word"),
      (4L, "src5", " "), (5L, "src3", "İ Σ ΑΣ ΟΔΟΣ"),
      (6L, "src2", "the  a  in  of  to ΟΔΟΣ  İstanbul  ferry  leaves  at  dawn " +
        "winds carry salt over the roofs a ΟΔΟΣ of old stone runs"))
    val all = edge ++ regular
    import spark.implicits._
    val dir = TempDirs.scratch("graft_curation_adv_").toString
    all.map { case (id, src, t) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    (dir, all)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def dsirBucketOf(w: String): Long =
    java.lang.Long.parseLong(md5hex(w).take(6), 16) % 256

  test("per-token lower() buckets equal the split(lower(text)) stream on an adversarial corpus") {
    val (dir, _) = adversarial
    val bucket = "t -> conv(substring(md5(t), 1, 6), 16, 10) % 256"
    val streams = Tables.documents(spark, dir).selectExpr("doc_id",
      "filter(split(lower(text), ' '), t -> t != '') AS text_lower",
      "filter(transform(split(text, ' '), t -> lower(t)), t -> t != '') AS token_lower")
      .selectExpr("doc_id", "text_lower", "token_lower",
        s"transform(text_lower, $bucket) AS b_text",
        s"transform(token_lower, $bucket) AS b_token")
      .collect()
    assert(streams.length === adversarial._2.size)
    streams.foreach { r =>
      assert(r.getSeq[String](1) === r.getSeq[String](2), s"doc ${r.getLong(0)} tokens")
      assert(r.getSeq[String](3) === r.getSeq[String](4), s"doc ${r.getLong(0)} buckets")
    }
    // the hard cases really are in the stream: İ lowercases to i + U+0307
    // and a word-final Σ to ς
    val lowered = streams.flatMap(_.getSeq[String](1)).toSet
    assert(lowered.contains("i̇stanbul") && lowered.contains("οδος"))
  }

  test("classifier, DSIR weights and the pipeline equal from-scratch references on an adversarial corpus") {
    val (dir, all) = adversarial
    val target = Set("src1", "src2", "src3")
    def raw(t: String) = t.split(" ", -1).toSeq
    def low(t: String) = t.toLowerCase(java.util.Locale.ROOT).split(" ", -1).filter(_.nonEmpty).toSeq
    def utf8Lt(a: String, b: String) =
      java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8")) < 0

    // DSIR: hashed lowercase features, BigInt fixed point, empty docs drop
    val feat = all.flatMap { case (id, src, t) => low(t).map(w => (id, src, dsirBucketOf(w))) }
    val ratio = feat.groupBy(_._3).map { case (b, occ) =>
      val tc = occ.count(o => target(o._2))
      b -> (BigInt(1000000) * (tc + 1) / (occ.size + 1)).toLong
    }
    val dsir = feat.groupBy(_._1).map { case (id, occ) =>
      val w = occ.map(o => ratio(o._3)).sum
      id -> (occ.size.toLong, w, w / occ.size)
    }
    assert(!dsir.contains(1L) && !dsir.contains(2L) && !dsir.contains(4L))
    val gotDsir = SparkEntry.queries("q_dsir_weights")(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toSeq
    CacheScope.releaseAll()
    assert(gotDsir === dsir.toSeq.sortBy(_._1))

    // classifier: raw tokens (empty ones included), one ranking, ±8 votes
    val counts = all.flatMap { case (_, src, t) => raw(t).map(_ -> target(src)) }
      .groupBy(_._1).map { case (tok, occ) =>
        (tok, occ.count(_._2).toLong, occ.count(!_._2).toLong)
      }.toSeq
    val (pt, nt) = (counts.map(_._2).sum, counts.map(_._3).sum)
    val ranked = counts.map { case (tok, pc, nc) =>
      tok -> (BigInt(1000000) * (pc + 1) * (nt + 1) / (BigInt(nc + 1) * (pt + 1))).toLong
    }.sortWith { case ((ta, wa), (tb, wb)) => wa > wb || (wa == wb && utf8Lt(ta, tb)) }
      .map(_._1)
    val vote = ranked.zipWithIndex.map { case (tok, i) =>
      tok -> ((if (i < 8) 1 else 0) + (if (i >= ranked.size - 8) -1 else 0))
    }.filter(_._2 != 0).toMap
    val cls = all.map { case (id, _, t) =>
      val hits = raw(t).distinct.flatMap(vote.get)
      id -> (hits.count(_ > 0).toLong, hits.count(_ < 0).toLong)
    }.toMap
    val gotCls = SparkEntry.queries("q_quality_classifier")(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)), r.getLong(3), r.getBoolean(4)))
    CacheScope.releaseAll()
    assert(gotCls.map(r => (r._1, r._2)).toSeq === cls.toSeq.sortBy(_._1))
    assert(gotCls.forall { case (_, (vp, vn), sc, p) => sc == vp - vn && p == (sc > 0) })

    // the pipeline: funnel battery ∧ classifier vote, then the DSIR top
    // quartile of the eligible docs that carry a weight
    val tris = all.map { case (id, _, t) => id -> low(t).sliding(3).filter(_.size == 3).toSeq }
    val gramCnt = tris.flatMap(_._2).groupBy(identity).map { case (g, o) => g -> o.size }
    val lmKept = tris.filter(_._2.nonEmpty).map { case (id, gs) =>
      id -> (gs.count(gramCnt(_) <= 2).toDouble / gs.size <= 0.7)
    }.toMap
    def passes(id: Long, t: String): Boolean = {
      val ws = raw(t)
      val n = ws.size
      val quality = BigDecimal.valueOf(
        math.min(1.0, t.codePointCount(0, t.length).toDouble / 400.0) * 0.5 +
          ws.distinct.size.toDouble / n * 0.5)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      n >= 20 && n <= 5000 && ws.count(Set("the", "a", "in", "of", "to")) >= 2 &&
        quality >= 0.5 && ws.distinct.map(x => ws.count(_ == x)).max.toDouble / n <= 0.2 &&
        lmKept.getOrElse(id, true)
    }
    val rows = all.map { case (id, src, t) =>
      val f = passes(id, t)
      (id, src, f, f && cls(id)._1 > cls(id)._2)
    }
    val pool = rows.filter(r => r._4 && dsir.contains(r._1))
    val kept = pool.map(r => (r._1, dsir(r._1)._3)).sortBy { case (id, avg) => (-avg, id) }
      .take((pool.size + 3) / 4).map(_._1).toSet
    val pipe = rows.groupBy(_._2).map { case (src, rs) =>
      (src, rs.size.toLong, rs.count(_._3).toLong, rs.count(_._4).toLong,
        rs.count(r => kept(r._1)).toLong)
    }.toSeq.sortBy(_._1)
    val gotPipe = SparkEntry.queries("q_curation_pipeline")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    CacheScope.releaseAll()
    assert(gotPipe === pipe)
    assert(pipe.map(_._4).sum > 1 && pipe.map(_._5).sum > 0,
      s"the corpus must exercise every stage: $pipe")
  }
}
