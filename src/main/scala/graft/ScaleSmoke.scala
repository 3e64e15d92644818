package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-proof smoke: runs the heavy document/embedding query families
  * at the base fixture and at an N× corpus DERIVED from it, under the
  * `scale` profile, and prints per-query (base, scaled, ratio) JSON —
  * the evidence that the plan shapes stay ≲ linear in the data.
  *
  * The N× corpus is NOT naive replication (exact copies would inflate
  * the true duplicate-pair structure quadratically and any honest
  * dedup would rightly go superlinear on it). Each copy i is made a
  * DISJOINT sub-corpus:
  *  - documents: copy i's letters AND digits are mapped into their own
  *    36-char Unicode range (Latin Extended, 0x0100 + 36·i; copy 0
  *    verbatim).
  *    A bijective character map preserves within-copy structure EXACTLY
  *    at every granularity the engine fingerprints — duplicate groups,
  *    CHARACTER 3-gram shingle sets, token k-gram winnow selections,
  *    BM25 df/tf — and the DISJOINT ranges make cross-copy trigram
  *    collisions impossible, so true pair structure grows ×N, not ×N².
  *    (Two earlier schemes failed exactly there: token prefixes left
  *    cross-copy char-gram Jaccard at 0.42, and a Caesar rotation
  *    saturated the fixture's tiny ~25-letter trigram universe, both
  *    inflating the candidate stage of the shingle families
  *    quadratically.)
  *  - embeddings: dimensions are circularly rotated by i (copy 0
  *    verbatim), preserving norms and within-copy geometry exactly
  *    while decorrelating copies.
  * doc_id/vec_id shift by i·10⁹ so splits like `% 97` and `% 7` keep
  * proportional eval/train sides. Caveat: language-/stopword-sensitive
  * stages (the curation funnel's langID) see the shifted copies as
  * non-English and may route them down cheaper branches — their ratios
  * understate slightly; the pair-join families this smoke exists for
  * are unaffected.
  *
  * Usage: runMain graft.ScaleSmoke <baseSfDir> <factor> <workDir>
  *        [hot|buildonly|hotbuildonly|hotonly]
  * `hot` appends the planted boilerplate group and runs the guard phase;
  * `buildonly` writes the derived fixture and exits — the seam for
  * targeted re-measures (`SPARK_GRAFT_SF_DIR=<workDir> runMain graft.Bench
  * q_x q_y` with reps) without paying the full heavy-query smoke;
  * `hotbuildonly` writes the derived fixture WITH the planted hot group
  * and exits — so guarded-query re-measures (the queries the hot phase
  * exists for) can reproduce the exact hot fixture too;
  * `hotonly` rebuilds the derived fixture and runs ONLY the guard phase,
  * taking its no-hot denominators from a PRIOR fleet pass's persisted
  * `no_hot_sec.json` (SPARK_GRAFT_NO_HOT_FILE, required) — a hot
  * adjudication becomes a ~10-minute loop instead of a ~30-minute
  * fleet pass; the output rows carry the denominator file's path as
  * provenance (`no_hot_src`), so a cross-regime comparison is a read,
  * not a guess, and the standing hot prior is left untouched unless
  * SPARK_GRAFT_UPDATE_HOT_PRIORS=1 (an adjudication loop must not move
  * the baseline the next fleet run escalates against).
  *
  * SPARK_GRAFT_SMOKE_ONLY=q_a,q_b subsets the fleet to named heavy
  * queries (targeted ratio/expansion work at a second factor without
  * the full fleet); a subset run keeps its artifacts in workDir but
  * never updates the standing `SCALESMOKE_*_latest` mirrors — partial
  * maps must not become the next fleet run's escalation baseline.
  *
  * Outlier auto-escalation: the fleet pass is single-rep for breadth,
  * but this box's steal makes lone reps lie (round 14 re-adjudicated
  * three starred rows by hand). Set SPARK_GRAFT_PRIOR_RATIOS to the
  * prior round's ratio file (the `ratios.json` this run writes into
  * `workDir`, also mirrored best-effort to `SCALESMOKE_ratios_latest
  * .json` in cwd): any query whose single-rep ratio lands more than
  * 1.5× OFF its prior value — in either direction; a stolen base rep
  * deflates the ratio exactly as a stolen scaled rep inflates it — is
  * re-measured at reps=3 medians on both corpora before its row is
  * recorded (`"reps":3` marks rows whose re-measure completed; a
  * failed re-measure leaves reps:1 and warns). Unset, no escalation
  * happens — the table then carries single-rep caveats. The HOT phase
  * has the same contract against SPARK_GRAFT_PRIOR_HOT_RATIOS (the
  * `hot_ratios.json` a hot run writes, mirrored to
  * `SCALESMOKE_hot_ratios_latest.json`): a single-rep hot row whose
  * hot/no-hot ratio is >1.5× off its prior re-measures the hot side
  * at reps=3; `SPARK_GRAFT_HOT_REPS=3` skips the prior dance and
  * measures everything at reps=3 outright.
  */
object ScaleSmoke {

  /** Heavy families whose SCALE-PATH plans must stay ≲ linear. The
    * quadratic-by-contract oracle kernels (knn_brute, embed_neardup,
    * bitext_mine, semantic_dedup exact) are excluded: their cost is
    * the pair count, which the catalog documents as the reason the
    * `_lsh`/`_ivf` variants exist. */
  val heavyQueries: Seq[String] = Seq(
    "q_dedup_minhash", "q_dedup_minhash_bucketed",
    // bounded pair report (top-5 per bucket, <=320 rows at any corpus):
    // its ratio is the candidate pipeline's growth with output volume
    // and the gate's global sort taken out — the full face's 12.4 vs
    // bucketed 8.2 split, completed with an output-constant point
    "q_dedup_minhash_topn", "q_dedup_ngram_topn", "q_dedup_containment_topn",
    "q_dedup_ngram", "q_dedup_ngram_bucketed",
    "q_dedup_containment", "q_dedup_containment_bucketed",
    "q_dedup_clusters", "q_dedup_clusters_collapsed",
    "q_span_dedup", "q_cdc_dedup",
    "q_semantic_dedup_lsh", "q_knn_ivf_indexed",
    "q_winnow_fingerprints", "q_winnow_matches",
    "q_winnow_contamination", "q_winnow_contamination_indexed",
    "q_bm25_batch", "q_bm25_batch_indexed",
    "q_curation_pipeline", "q_repetition_filter", "q_bpe_merges",
    // the serve-only faces: their standing indexes are warmed on BOTH
    // corpora before the measured pass (main, below), so each ratio is
    // pure serving against a 1×-vs-N× index — the production question
    // ("does SERVING stay cheap as the index grows?") as a per-round
    // artifact with escalation priors, not a hand-run NOTES table
    "q_bm25_batch_served", "q_knn_ivf_served",
    "q_winnow_contamination_served",
    "q_span_removal_served", "q_span_dedup_served",
    "q_span_removal_shard_served", "q_span_dedup_shard_served",
    "q_dedup_incremental_served", "q_phrase_served", "q_bm25_served",
    // fixed-probe faces: pinned query panel / pinned ingest batch vs
    // the 1×-vs-N× standing index — the rows whose ratios measure pure
    // index-side growth (their full-probe twins' probes grow with the
    // fixture by construction)
    "q_bm25_batch_shard_served", "q_dedup_incremental_shard_served",
    // cell-count-scaled IVF serving: k = ceil(sqrt(N)) grows with the
    // corpus, so the probed INSET shrinks relative to the cell universe
    // — the pruning win the 16-cell oracle face can't show
    "q_knn_ivf_scaled_served")

  /** Build the N× derived fixture under `outDir` (documents +
    * embeddings; the heavy families read nothing else). */
  def buildScaled(s: SparkSession, baseDir: String, factor: Int,
      outDir: String): Unit = {
    val docs = s.read.parquet(s"$baseDir/documents.parquet")
    // letters AND digits: a digit in the base text would otherwise be
    // shared verbatim across copies, reintroducing exactly the
    // cross-copy shingle collisions the disjoint ranges exist to avoid
    // (the invariant is enforced by the map, not by fixture luck)
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    val n = alphabet.length
    val scaledDocs = (0 until factor).map { i =>
      val text =
        if (i == 0) col("text")
        else translate(col("text"), alphabet,
          (0 until n).map(k => (0x0100 + n * i + k).toChar).mkString)
      docs.select(
        (col("doc_id") + lit(i.toLong * 1000000000L)).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }.reduce(_ unionByName _)
    scaledDocs.write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val emb = s.read.parquet(s"$baseDir/embeddings.parquet")
    val scaledEmb = (0 until factor).map { i =>
      val rotated =
        if (i == 0) col("embedding")
        else expr(s"transform(sequence(1, size(embedding)), " +
          s"j -> element_at(embedding, ((j - 1 + $i) % size(embedding)) + 1))")
      emb.select(
        (col("vec_id") + lit(i.toLong * 1000000000L)).as("vec_id"),
        rotated.as("embedding"), col("label"))
    }.reduce(_ unionByName _)
    scaledEmb.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  /** Guard-engagement subset for `hot` mode: the pair-join families
    * whose degenerate-key guards must keep a planted 20k-doc
    * boilerplate group from going quadratic under the scale profile. */
  val guardedQueries: Seq[String] = Seq(
    "q_dedup_minhash", "q_dedup_clusters", "q_dedup_clusters_collapsed",
    "q_dedup_containment",
    "q_bm25_batch", "q_winnow_matches", "q_winnow_contamination")

  // far above any copy's id range (copy i shifts by i·1e9) so the
  // hot-pair counts below can never pick up ordinary cross-copy ids
  private val HotIdBase = 1000000000000L
  private val HotGroupSize = 20000L // > every scale-profile cap (10000)

  /** Append the hot group to a derived fixture: 20k EXACT copies of one
    * boilerplate paragraph — the pathological shape (one minhash bucket,
    * one winnow fingerprint set, shared by every copy) that would emit
    * ~2·10⁸ pairs through an unguarded pair join. */
  private def appendHotGroup(s: SparkSession, dir: String): Unit = {
    val boiler = "boiler plate disclaimer all rights reserved this " +
      "document is confidential and intended solely for the named " +
      "addressee do not distribute"
    s.range(HotGroupSize).select(
      (col("id") + HotIdBase).as("doc_id"),
      lit(boiler).as("text"), lit("en").as("lang"), lit("src1").as("source"),
      lit(boiler.length.toLong).as("n_chars"))
      .write.mode("append").parquet(s"$dir/documents.parquet")
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args(0)
    val factor = args(1).toInt
    val workDir = args(2)
    // fail fast on a typo'd mode: a silently-ignored 4th arg would run
    // the full multi-SF smoke instead of buildonly, or complete a smoke
    // that looks done but lacks the guard phase it was run for
    if (args.length > 3) require(
      Set("hot", "buildonly", "hotbuildonly", "hotonly").contains(args(3)),
      s"unknown mode '${args(3)}' (supported: hot, buildonly, hotbuildonly, hotonly)")
    val hotMode = args.length > 3 && args(3) == "hot"
    val buildOnly = args.length > 3 &&
      (args(3) == "buildonly" || args(3) == "hotbuildonly")
    val buildHot = args.length > 3 && args(3) == "hotbuildonly"
    val hotOnly = args.length > 3 && args(3) == "hotonly"
    // hotonly's denominators come from a prior fleet pass — resolve and
    // validate BEFORE paying the fixture build, so a typo'd path fails
    // in seconds, not minutes
    val hotOnlyNoHot: Option[(String, Map[String, Double])] =
      if (!hotOnly) None
      else {
        val path = sys.env.getOrElse("SPARK_GRAFT_NO_HOT_FILE",
          sys.error("hotonly mode requires SPARK_GRAFT_NO_HOT_FILE — the " +
            "no_hot_sec.json a prior fleet pass wrote (workDir or the " +
            "SCALESMOKE_no_hot_latest.json mirror)"))
        Some((path, loadNoHotFile(path)))
      }
    require(factor >= 2, "factor must be >= 2")
    // copy i maps the 36-char alphabet into [0x0100 + 36i, 0x0100 + 36i
    // + 35]; factor 14 is the last whose top copy stays below U+0300 —
    // beyond that the map enters combining diacritics (still bijective
    // and whitespace-free, but unaudited for the engine's text stages)
    require(factor <= 14,
      s"factor $factor exceeds the audited codepoint window (<= 14: " +
        "copies must stay below U+0300 combining diacritics)")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // explicit override for targeted experiments; when UNSET the smoke
    // sizes partitions to each measured corpus' bytes (below) — the
    // round-16 hot adjudication proved a count pinned to the base
    // corpus spills at ×10 (NOTES.md: 32 partitions 45.8–132.1 s,
    // 128 partitions 53.4 s with 6× tighter spread).
    // Validated HERE with the other arg checks: autoSizePartitions
    // re-reads the pin mid-run, and a non-integer value failing only
    // after the fixture build has been paid (minutes in) was ADVICE r18
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    require(scala.util.Try(shuffleParts.trim.toInt).toOption.exists(_ >= 1),
      s"SPARK_GRAFT_SHUFFLE_PARTITIONS must be a positive integer, got '$shuffleParts'")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.profile", "scale")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Bench.quietGlobalWindowWarnings()
    // setting spark.driver.memory here would be a no-op (the JVM is
    // already up): the heap comes from the launcher (sbt -J-Xmx /
    // SPARK_DRIVER_MEM). Verify instead of pretending to configure.
    val heapGiB = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    if (heapGiB < 12.0)
      System.err.println(f"[scale-smoke] WARNING: JVM max heap is only " +
        f"$heapGiB%.1f GiB — launch with SPARK_DRIVER_MEM>=16g for the 10x run")
    GraftConf.requireKnown(spark)
    buildScaled(spark, baseDir, factor, workDir)
    if (buildHot) appendHotGroup(spark, workDir)
    if (buildOnly) { spark.stop(); return }
    // per-query shuffle-byte accounting (free: two map updates per
    // stage) — the source of NOTES.md "Per-family shuffle expansion"
    val shuffleStats = ShuffleStats.install(spark.sparkContext)
    if (hotOnly) {
      val (srcPath, noHot) = hotOnlyNoHot.get
      System.err.println(s"[scale-smoke] hotonly: no-hot denominators " +
        s"from $srcPath (${noHot.size} rows)")
      // JVM/codegen warmup on the (pre-hot) derived fixture, so the
      // first single-rep hot row doesn't absorb JIT/classload cost —
      // the fleet pass's warmup, inherited
      SparkEntry.queries(guardedQueries.head)(spark, workDir).count()
      CacheScope.releaseAll(); spark.catalog.clearCache()
      hotPhase(spark, workDir, noHot, noHotSrc = srcPath,
        mirrorPriors = sys.env.get("SPARK_GRAFT_UPDATE_HOT_PRIORS").contains("1"))
      spark.stop(); return
    }
    // SPARK_GRAFT_SMOKE_ONLY=q_a,q_b subsets the fleet to named heavy
    // queries — the targeted-ratio seam (e.g. re-measuring the byte
    // movers at a second factor for the expansion trend) without paying
    // the full fleet. Unknown names fail fast; unset = whole fleet.
    val onlyEnv = sys.env.get("SPARK_GRAFT_SMOKE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    onlyEnv.foreach { names =>
      val unknown = names.diff(heavyQueries.toSet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_SMOKE_ONLY names not in heavyQueries: ${unknown.mkString(", ")}")
    }
    val selected = onlyEnv.fold(heavyQueries)(names => heavyQueries.filter(names))
    val qs = SparkEntry.queries.filter { case (n, _) => selected.contains(n) }
      .toSeq.sortBy(_._1)
    // JVM/codegen warmup: one throwaway query before the 1x pass, or the
    // first measured rows absorb JIT/classload cost and their ratios
    // read sub-1x in the NOTES table
    qs.headOption.foreach { case (_, fn) =>
      fn(spark, baseDir).count()
      CacheScope.releaseAll()
      spark.catalog.clearCache()
    }
    // warm the _served faces' standing indexes on BOTH corpora before
    // anything is timed: invoking the face runs its buildOnce prelude
    // eagerly, so the later measured rep pays pure serving (the build
    // cost is the _indexed twins' number; an unwarmed single-rep
    // "serve" reading would be build+serve mislabeled)
    qs.filter(_._1.endsWith("_served")).foreach { case (_, fn) =>
      Seq(baseDir, workDir).foreach { dir =>
        fn(spark, dir)
        CacheScope.releaseAll()
        spark.catalog.clearCache()
      }
    }
    autoSizePartitions(spark, baseDir)
    val (baseTimes, baseFails) = Bench.measure(spark, baseDir, reps = 1, qs)
    var baseShuffle = drainShuffle(shuffleStats)
    autoSizePartitions(spark, workDir)
    val (scaledTimes, scaledFails) = Bench.measure(spark, workDir, reps = 1, qs)
    var scaledShuffle = drainShuffle(shuffleStats)
    var bt = baseTimes.toMap
    var st = scaledTimes.toMap
    val reported = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(1)
    // outlier auto-escalation vs the prior round's ratios (see header)
    val prior = sys.env.get("SPARK_GRAFT_PRIOR_RATIOS")
      .map(readRatioFile).getOrElse(Map.empty)
    // TWO-sided: a steal-inflated BASE rep deflates the ratio just as a
    // steal-inflated scaled rep inflates it — both directions are
    // unverified single-rep numbers that would poison the persisted
    // priors for the next round's comparison
    val escalate = selected.filter { n =>
      (for (b <- bt.get(n); t <- st.get(n); p <- prior.get(n))
        yield t / b > p * 1.5 || t / b < p / 1.5).getOrElse(false)
    }
    // audit line: the measured-vs-prior pair per query, for every query
    // that HAS a prior — so a surprising (non-)escalation is a read of
    // the artifact, not a forensic reconstruction
    if (prior.nonEmpty)
      System.err.println("[scale-smoke] ratio-vs-prior: " + selected.sorted
        .flatMap { n =>
          for (b <- bt.get(n); t <- st.get(n); p <- prior.get(n))
            yield f"$n=${t / b}%.2f/p$p%.2f"
        }.mkString(" "))
    if (escalate.nonEmpty) {
      System.err.println(s"[scale-smoke] single-rep ratio off >1.5x from prior " +
        s"for ${escalate.mkString(", ")} — re-measuring at reps=3 medians")
      val eqs = qs.filter { case (n, _) => escalate.contains(n) }
      autoSizePartitions(spark, baseDir)
      val (b3, _) = Bench.measure(spark, baseDir, reps = 3, eqs)
      baseShuffle = baseShuffle ++ drainShuffle(shuffleStats)
      autoSizePartitions(spark, workDir)
      val (s3, _) = Bench.measure(spark, workDir, reps = 3, eqs)
      scaledShuffle = scaledShuffle ++ drainShuffle(shuffleStats)
      // only rows whose BOTH sides re-measured get the reps:3 label — a
      // re-measure that failed (time cap) must not stamp a single-rep
      // number as a 3-rep median, which would defeat the adjudication
      // guarantee this feature exists for. Merge the SAME set: a
      // one-sided merge would mix a 3-rep median with a 1-rep number in
      // a row labeled reps:1 and persist that mixed ratio as the next
      // round's escalation prior
      val ok = escalate.filter(n => b3.toMap.contains(n) && s3.toMap.contains(n))
      bt = bt ++ b3.toMap.filter { case (n, _) => ok.contains(n) }
      st = st ++ s3.toMap.filter { case (n, _) => ok.contains(n) }
      ok.foreach(n => reported(n) = 3)
      val unconfirmed = escalate.filterNot(ok.contains)
      if (unconfirmed.nonEmpty)
        System.err.println(s"[scale-smoke] reps=3 re-measure FAILED for " +
          s"${unconfirmed.mkString(", ")} — rows stay at reps:1, unverified")
    }
    val rows = selected.sorted.map { n =>
      val b = bt.get(n)
      val t = st.get(n)
      val ratio = for (x <- b; y <- t) yield y / x
      f"""{"query":"$n","base_sec":${b.map(v => f"$v%.2f").getOrElse("null")},""" +
        f""""scaled_sec":${t.map(v => f"$v%.2f").getOrElse("null")},""" +
        f""""ratio":${ratio.map(v => f"$v%.2f").getOrElse("null")},""" +
        f""""reps":${reported(n)}}"""
    }
    println(s"""{"factor":$factor,"base":"$baseDir",""" +
      s""""fails_base":${baseFails.size},"fails_scaled":${scaledFails.size},""" +
      s""""escalated":${escalate.size},"rows":[${rows.mkString(",")}]}""")
    // persist the final ratios so the NEXT run can escalate against them
    val ratioJson = selected.sorted.flatMap { n =>
      for (x <- bt.get(n); y <- st.get(n)) yield f""""$n":${y / x}%.2f"""
    }.mkString("{", ",", "}")
    // a SMOKE_ONLY subset run must not clobber the standing fleet
    // priors/mirrors with a partial map (the hotonly rule, applied to
    // every *_latest mirror); its artifacts still land in workDir
    val mirror = onlyEnv.isEmpty
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(workDir, "ratios.json"), ratioJson + "\n")
      if (mirror)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("SCALESMOKE_ratios_latest.json"), ratioJson + "\n")
    } catch { case scala.util.control.NonFatal(_) => () }
    // persist the no-hot scaled-side seconds: the denominators a later
    // `hotonly` run replays (provenance = this file's path)
    val noHotJson = selected.sorted.flatMap { n =>
      st.get(n).map(v => f""""$n":$v%.2f""")
    }.mkString("{", ",", "}")
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(workDir, "no_hot_sec.json"), noHotJson + "\n")
      if (mirror)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("SCALESMOKE_no_hot_latest.json"), noHotJson + "\n")
    } catch { case scala.util.control.NonFatal(_) => () }
    // input -> shuffle expansion per heavy family, both corpora: the
    // portable calibration evidence behind the 4 MiB/partition dial (a
    // deployment re-derives its own target from ITS expansion factors)
    val shufRows = selected.sorted.flatMap { n =>
      def side(m: Map[String, ShuffleStats.Totals], tag: String): Option[String] =
        m.get(n).map { t =>
          val in = t.inputBytes.get / 1048576.0
          val w = t.shuffleWriteBytes.get / 1048576.0
          val exp = if (t.inputBytes.get > 0)
            f"${t.shuffleWriteBytes.get.toDouble / t.inputBytes.get}%.3f" else "null"
          f""""${tag}_input_mb":$in%.1f,"${tag}_shuffle_write_mb":$w%.1f,"${tag}_expansion":$exp"""
        }
      (side(baseShuffle, "base"), side(scaledShuffle, "scaled")) match {
        case (None, None) => None
        case (b, t) => Some(s"""{"query":"$n",${(b.toSeq ++ t.toSeq).mkString(",")}}""")
      }
    }
    // corpus bytes for BOTH sides ride the artifact so a reader can
    // compute shuffle-per-corpus-byte factors from the artifact ALONE
    // (NOTES.md "Per-family shuffle expansion" is built from these fields)
    val corpusStanza =
      f""""base_corpus_mb":${corpusBytes(spark, baseDir) / 1048576.0}%.2f,""" +
        f""""scaled_corpus_mb":${corpusBytes(spark, workDir) / 1048576.0}%.2f"""
    val shufLine = s"""{"phase":"shuffle_profile",$corpusStanza,""" +
      s""""rows":[${shufRows.mkString(",")}]}"""
    println(shufLine)
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(workDir, "shuffle_profile.json"), shufLine + "\n")
      if (mirror)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("SCALESMOKE_shuffle_latest.json"), shufLine + "\n")
    } catch { case scala.util.control.NonFatal(_) => () }
    // recall-at-scale as a per-round artifact (VERDICT r18 #5): recall@10
    // of the two STANDING served-IVF indexes (the same buildOnce
    // artifacts the serve ratios above measured) at the catalog's pinned
    // nprobe=2, against brute-force ground truth on each face's own
    // 30-query batch, base and scaled — quality drift becomes a
    // round-over-round read like the serve ratios instead of a manual
    // RecallProbe run. IvfRecallGuardSpec stays the CI floor.
    val recallFaces = Seq(
      "q_knn_ivf_served" ->
        ((dir: String) => operators.Similarity.servedIvfIndexPath(spark, dir)),
      "q_knn_ivf_scaled_served" ->
        ((dir: String) => operators.Similarity.scaledServedIvfIndexPath(spark, dir)))
      .filter { case (n, _) => selected.contains(n) }
    if (recallFaces.nonEmpty || mirror) {
      val recRows = recallFaces.map { case (n, pathOf) =>
        def r(dir: String): Double = {
          val v = ivfRecall(spark, dir, pathOf(dir))
          CacheScope.releaseAll(); spark.catalog.clearCache()
          v
        }
        val (rb, rs2) = (r(baseDir), r(workDir))
        f"""{"face":"$n","nprobe":2,"truth":"cosine","base_recall":$rb%.4f,"scaled_recall":$rs2%.4f}"""
      } ++ pqRecallRows(spark, baseDir, workDir, ifMirror = mirror)
      val recLine = s"""{"phase":"ivf_recall","rows":[${recRows.mkString(",")}]}"""
      println(recLine)
      try {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(workDir, "ivf_recall.json"), recLine + "\n")
        if (mirror)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get("SCALESMOKE_recall_latest.json"), recLine + "\n")
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    if (baseFails.nonEmpty || scaledFails.nonEmpty)
      System.err.println(s"[scale-smoke] failures: base=$baseFails scaled=$scaledFails")
    if (hotMode) hotPhase(spark, workDir, st, mirrorPriors = mirror)
    spark.stop()
  }

  /** Recall@10 of a standing served-IVF index vs brute-force cosine
    * ground truth over the serve faces' pinned 30-query batch, through
    * the REAL pruned serving path ([[operators.Similarity
    * .knnFromIvfIndexSwept]] — partition-pruned cell scan, k widened
    * to 10). Deterministic given the index (pinned training knobs), so
    * a recall drop in the artifact is a code regression, never noise. */
  private[graft] def ivfRecall(spark: SparkSession, dir: String,
      indexPath: String, nprobe: Int = 2, k: Int = 10): Double = {
    val truth = RecallProbe.bruteTopK(spark, dir, k)
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < 30).select(col("vec_id"), col("embedding"))
    val (res, _) =
      operators.Similarity.knnFromIvfIndexSwept(queries, indexPath, nprobe, k)
    val got = res.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    truth.intersect(got).size.toDouble / truth.size
  }

  /** Recall rows for the QUANTIZING ANN faces (VERDICT r19 #5) — the
    * `ivf_recall` treatment extended to q_knn_pq / q_knn_ivfpq:
    * recall@10 of the ADC-ranked pipelines (codebook knobs pinned to
    * the catalog faces' oracle replay — first-16 seeds, zero PQ Lloyd
    * iters) against brute-force EXACT-L2 top-10 over the same 30-query
    * batch, base and scaled. L2 truth, not cosine: these faces rank by
    * ADC squared distance, so the line isolates quantization (+ probe)
    * loss instead of mixing in metric disagreement (see
    * [[RecallProbe.bruteTopKL2]]). Fleet-runs only (`ifMirror`): the
    * faces are not in [[heavyQueries]], so a subset run can't name
    * them, and partial artifacts must not feed the standing mirror.
    * IvfRecallGuardSpec pins the CI floors. */
  private def pqRecallRows(spark: SparkSession, baseDir: String,
      workDir: String, ifMirror: Boolean): Seq[String] = {
    if (!ifMirror) return Seq.empty
    val faces = Seq(
      "q_knn_pq" ->
        ((dir: String) => operators.Similarity.pqTopK(spark, dir, 10)),
      "q_knn_ivfpq" ->
        ((dir: String) => operators.Similarity.ivfPqTopK(spark, dir, 10)))
    faces.map { case (n, fn) =>
      def r(dir: String): Double = {
        val truth = RecallProbe.bruteTopKL2(spark, dir, 10)
        val got = fn(dir).collect()
          .map(x => (x.getAs[Long]("qid"), x.getAs[Long]("cid"))).toSet
        CacheScope.releaseAll(); spark.catalog.clearCache()
        truth.intersect(got).size.toDouble / truth.size
      }
      val (rb, rs2) = (r(baseDir), r(workDir))
      f"""{"face":"$n","k":10,"truth":"l2","base_recall":$rb%.4f,"scaled_recall":$rs2%.4f}"""
    }
  }

  /** Load + validate a `hotonly` denominator file: the flat
    * `{"q_name": no_hot_sec}` map a prior fleet pass persisted. Fails
    * fast — BEFORE the fixture build — when the file is missing,
    * malformed, or carries none of the guarded queries (the wrong
    * artifact, e.g. a ratios.json from a different era), because a hot
    * table silently full of null denominators would defeat the mode's
    * whole purpose. */
  private[graft] def loadNoHotFile(path: String): Map[String, Double] = {
    val m = readRatioFile(path)
    require(guardedQueries.exists(m.contains),
      s"no-hot file $path has no guarded-query rows — wrong file?")
    m
  }

  /** Drain the listener after a short settle: the bus is asynchronous,
    * but stage events trail the blocking noop action by milliseconds —
    * 2 s is generosity. A straggler arriving after the drain is dropped
    * (ShuffleStats clears the stage→group map with the snapshot), which
    * slightly undercounts rather than crediting one corpus pass's bytes
    * to the other. */
  private def drainShuffle(stats: ShuffleStats): Map[String, ShuffleStats.Totals] = {
    Thread.sleep(2000)
    stats.drain()
  }

  /** Bytes of the corpus tables the heavy families read (documents +
    * embeddings parquet under `dir` — the only tables this smoke's
    * fixtures carry). */
  private def corpusBytes(s: SparkSession, dir: String): Long = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq("documents.parquet", "embeddings.parquet").map { t =>
      val p = new org.apache.hadoop.fs.Path(root, t)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.sum
  }

  /** Hot-phase multiplier on [[GraftConf.sizedShufflePartitions]]: the
    * planted 20k-duplicate group grows the guarded families'
    * post-join/aggregate state ~4× past the per-partition comfort zone
    * at the floor count — a SKEW property of the phase (input bytes
    * barely move: 11.3 → 11.5 MiB), so the phase that plants the skew
    * sizes for it. Adjudication-derived and re-measured round 17 on
    * the hot fixture (reps=3 medians): hot q_bm25_batch 61.1 s with
    * 50.8–58.9+ s rep spread at 32 partitions vs 37.5 s TIGHT at ~128
    * (raw count; AQE initialPartitionNum=121 over 32 reads 42.9 s —
    * close, but the raw count wins, so the phase sets the raw conf). */
  private[graft] val HotShufflePartitionsFactor = 4

  /** Size `spark.sql.shuffle.partitions` to the corpus about to be
    * measured ([[GraftConf.sizedShufflePartitions]] × `factor`): at
    * fixture scale the rule lands on the CPU floor — the round-17 A/B
    * measured bytes-proportional over-partitioning as a 1.2–2.2×
    * REGRESSION on the mid-size pair families, so the floor IS the
    * right fleet count here — while a real cluster corpus lands in
    * the thousands-of-partitions regime. The hot guard phase passes
    * [[HotShufflePartitionsFactor]] for its planted skew. An explicit
    * SPARK_GRAFT_SHUFFLE_PARTITIONS wins: targeted experiments pin the
    * count, the unattended smoke sizes it. */
  private def autoSizePartitions(spark: SparkSession, dir: String,
      factor: Int = 1): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") match {
      case Some(v) => v.toInt // explicit pin: session already built with it
      case None =>
        val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
        val bytes = corpusBytes(spark, dir)
        // the hot-skew factor multiplies the SIZED count, then re-clamps
        // under the same cap the sizing rule documents — factor x cap
        // must not punch through the task-overhead bound
        val n = sizedWithFactor(bytes, cpus, GraftConf.DefaultShuffleTargetBytes, factor)
        spark.conf.set("spark.sql.shuffle.partitions", n.toString)
        System.err.println(f"[scale-smoke] sized spark.sql.shuffle.partitions=$n " +
          f"for $dir (${bytes / 1024.0 / 1024.0}%.1f MiB corpus, factor $factor)")
        n
    }

  /** The sized count x the hot-skew factor, RE-CLAMPED under the cap:
    * the factor exists to size for skew-grown aggregate state, not to
    * punch through the task-overhead bound (factor x cap partitions on
    * a TB corpus would be pure scheduling tax). ShuffleSizingSpec pins
    * the re-clamp. */
  private[graft] def sizedWithFactor(bytes: Long, cpus: Int,
      targetBytes: Long, factor: Int): Int =
    math.min(
      GraftConf.sizedShufflePartitions(bytes, cpus, targetBytes) * factor,
      GraftConf.DefaultShufflePartitionCap)

  /** JSON string literal with backslash/quote/control escaping — the
    * hot phase embeds a USER-SUPPLIED path (SPARK_GRAFT_NO_HOT_FILE) in
    * its output line, and an unescaped quote or backslash there would
    * hand downstream readers malformed JSON (ADVICE r18). */
  private[graft] def jsonStr(v: String): String =
    "\"" + v.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Parse a flat `{"q_name": ratio, ...}` file (the shape this object
    * writes) without a JSON dependency — regex over quoted-key:number
    * pairs; unreadable file or malformed content degrades to empty
    * (no escalation), never aborts the smoke. */
  private[graft] def readRatioFile(path: String): Map[String, Double] =
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
      """"([^"]+)"\s*:\s*([0-9]+(?:\.[0-9]+)?)""".r
        .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Guard-engagement phase: the 10× corpus PLUS the planted hot group,
    * guarded queries only, under the already-active scale profile. The
    * proof is two-sided: wall-clock stays near the no-hot run (the
    * guards drop/star-route the degenerate key instead of joining it
    * quadratically), and the reported hot-pair counts show WHAT each
    * guard did — winnow drops the boilerplate fingerprint outright
    * (0 hot-hot pairs), the LSH guard keeps the exact-dup group
    * connected through ~linear star edges. */
  /** Hot queries whose skew-grown aggregate state SPILLS at the floor
    * partition count — these measure at [[HotShufflePartitionsFactor]]×
    * the sized count; everything else measures at the fleet's floor so
    * the hot-vs-no-hot comparison is apples-to-apples. Adjudication-
    * derived (r16+r17, reps=3): q_bm25_batch's hot scoring aggregate at
    * 32 partitions reads 61.1 s with 50.8–132 s spread, 37.5–43 s
    * TIGHT at ~128; the non-spilling guarded rows at 128 instead pay
    * the same 1.3–2.5× over-partitioning tax the fleet A/B measured
    * (winnow hot 10.9 s at 128 vs ~4.3 s at 32 with 0 hot pairs) —
    * ONE phase-level count cannot measure both, so the sizing is
    * per-row. */
  private[graft] val HotSpillProne = Set("q_bm25_batch")

  /** Measure `subset` with per-row partition sizing: floor rows first,
    * spill-prone rows at the skew factor. Used by both the hot phase's
    * main pass and its escalation re-measure, so a re-measured row
    * always re-runs at ITS count. */
  private def measureHotSized(spark: SparkSession, workDir: String, reps: Int,
      subset: Seq[(String, (SparkSession, String) => DataFrame)],
      capture: (String, DataFrame) => Unit = (_, _) => ())
      : (Seq[(String, Seq[Bench.RepTiming])], Seq[String], Map[String, Int]) = {
    val (spill, floor) = subset.partition { case (n, _) => HotSpillProne(n) }
    val out = Seq.newBuilder[(String, Seq[Bench.RepTiming])]
    val bad = Seq.newBuilder[String]
    val parts = Map.newBuilder[String, Int]
    if (floor.nonEmpty) {
      val n = autoSizePartitions(spark, workDir)
      floor.foreach { case (q, _) => parts += q -> n }
      val (d, f) = Bench.measureDetailed(spark, workDir, reps, floor, capture)
      out ++= d; bad ++= f
    }
    if (spill.nonEmpty) {
      val n = autoSizePartitions(spark, workDir, HotShufflePartitionsFactor)
      spill.foreach { case (q, _) => parts += q -> n }
      val (d, f) = Bench.measureDetailed(spark, workDir, reps, spill, capture)
      out ++= d; bad ++= f
    }
    (out.result(), bad.result(), parts.result())
  }

  /** `mirrorPriors`: whether this phase's hot/no-hot ratios update the
    * STANDING escalation prior (`SCALESMOKE_hot_ratios_latest.json`).
    * True for the fleet-driven phase — the per-round measurement of
    * record. False for `hotonly`: an adjudication/experiment loop must
    * not move the baseline the next fleet run escalates against (its
    * ratios still land in `workDir/hot_ratios.json` for the reader).
    * Set SPARK_GRAFT_UPDATE_HOT_PRIORS=1 to promote a hotonly run's
    * ratios deliberately. */
  private def hotPhase(spark: SparkSession, workDir: String,
      noHot: Map[String, Double], noHotSrc: String = "fleet",
      mirrorPriors: Boolean = true): Unit = {
    appendHotGroup(spark, workDir)
    val qs = SparkEntry.queries.filter { case (n, _) => guardedQueries.contains(n) }
      .toSeq.sortBy(_._1)
    // reps dial for adjudication runs: the round-15 hot-phase bm25
    // growth question (73.5 vs 50.6 s) could not be answered because
    // the hot rows carried no box-state context — single-rep wall
    // clock with no steal column. Every row now records the catalog
    // bench's rep detail (per-rep seconds + 1-min load + /proc/stat
    // steal-seconds), so steal-vs-regression is a read here too.
    val reps = sys.env.getOrElse("SPARK_GRAFT_HOT_REPS", "1").toInt.max(1)
    // capture only stores the frame (it runs inside the timed window);
    // the hot-pair counts run after measurement
    val frames = scala.collection.mutable.Map.empty[String, DataFrame]
    var (detailed, fails, partsByQuery) = measureHotSized(spark, workDir, reps, qs,
      capture = (n, df) => { frames(n) = df; () })
    // hot-ratio escalation, the fleet pass's contract applied here:
    // SPARK_GRAFT_PRIOR_HOT_RATIOS points at a prior round's
    // hot_ratios.json (hot_sec / no_hot_sec per guarded query, written
    // below); a SINGLE-REP hot row whose ratio lands >1.5× off its
    // prior — either direction — re-measures the HOT side at reps=3
    // medians before being recorded (the no-hot denominator is the
    // fleet pass's own number, already under that pass's escalation).
    // The round-15 bm25 hot-growth question needed this by hand.
    val hotPrior = sys.env.get("SPARK_GRAFT_PRIOR_HOT_RATIOS")
      .map(readRatioFile).getOrElse(Map.empty)
    if (reps == 1 && hotPrior.nonEmpty) {
      val dm = detailed.toMap
      val escalate = guardedQueries.filter { n =>
        (for (rs <- dm.get(n); nh <- noHot.get(n); p <- hotPrior.get(n))
          yield { val r = Bench.medianRep(rs).totalSec / nh
            r > p * 1.5 || r < p / 1.5 }).getOrElse(false)
      }
      if (escalate.nonEmpty) {
        System.err.println(s"[scale-smoke] hot ratio off >1.5x from prior " +
          s"for ${escalate.mkString(", ")} — re-measuring at reps=3 medians")
        val (d3, _, _) = measureHotSized(spark, workDir, 3,
          qs.filter { case (n, _) => escalate.contains(n) })
        val d3m = d3.toMap
        detailed = detailed.map { case (n, rs) => n -> d3m.getOrElse(n, rs) }
        // a failed/partial re-measure must not pass silently as a
        // confirmed row — the fleet pass's unconfirmed contract
        val unconfirmed = escalate.filterNot(d3m.contains)
        if (unconfirmed.nonEmpty)
          System.err.println(s"[scale-smoke] hot reps=3 re-measure FAILED " +
            s"for ${unconfirmed.mkString(", ")} — rows stay at reps:1, unverified")
      }
    }
    val counted = frames.flatMap { case (n, df) =>
      Seq("d1" -> "d2", "eval_id" -> "train_id",
        "contained_id" -> "container_id", "qid" -> "doc_id")
        .find { case (a, b) =>
          df.columns.contains(a) && df.columns.contains(b) }
        .map { case (a, b) =>
          n -> df.filter(col(a) >= HotIdBase && col(b) >= HotIdBase).count() }
    }.toMap
    val tm = detailed.toMap
    val rows = guardedQueries.sorted.map { n =>
      val med = tm.get(n).map(Bench.medianRep)
      val repDetail = tm.get(n).map(_.map(r =>
        f"""{"sec":${r.totalSec}%.2f,"load1m":${r.load1m}%.2f,""" +
          f""""steal_sec":${r.stealSec}%.2f}""").mkString("[", ",", "]"))
      // "rep_detail" matches BENCH_full's vocabulary — the phase-level
      // "reps" int and the per-row detail array must not share a key
      // per-row "reps" (= rep_detail length) so an escalated row reads
      // reps:3 without consumers inferring it from the array — the
      // fleet pass's per-row label, mirrored (phase-level "reps" below
      // stays the ASKED count; this is the DELIVERED one)
      f"""{"query":"$n","no_hot_sec":${noHot.get(n).map(v => f"$v%.2f").getOrElse("null")},""" +
        f""""hot_sec":${med.map(r => f"${r.totalSec}%.2f").getOrElse("null")},""" +
        f""""hot_pairs":${counted.get(n).map(_.toString).getOrElse("null")},""" +
        // the partition count this row MEASURED AT — hot ratios are only
        // comparable across rounds at the same count (the r17 per-row
        // sizing change broke that silently; now it's in the row)
        f""""partitions":${partsByQuery.get(n).map(_.toString).getOrElse("null")},""" +
        f""""reps":${tm.get(n).map(_.length).getOrElse(0)},""" +
        f""""rep_detail":${repDetail.getOrElse("null")}}"""
    }
    println(s"""{"phase":"hot_guard","group_size":$HotGroupSize,""" +
      s""""reps":$reps,"no_hot_src":${jsonStr(noHotSrc)},""" +
      s""""fails":${fails.size},"rows":[${rows.mkString(",")}]}""")
    // persist hot/no-hot ratios so the NEXT hot run can escalate against
    // them (mirrors the fleet pass's ratios.json contract). The leading
    // _provenance_* stanza makes the standing mirror SELF-DESCRIBING —
    // round 18's hotonly demo overwrote the fleet baseline and the only
    // record was a NOTES admission. readRatioFile's quoted-key:number
    // regex skips the string entries, and no guarded query is named
    // "_provenance_reps", so escalation lookups are unaffected.
    val hotRatioJson = (Seq(
      s""""_provenance_mode":${jsonStr(if (noHotSrc == "fleet") "fleet" else "hotonly")}""",
      s""""_provenance_no_hot_src":${jsonStr(noHotSrc)}""",
      s""""_provenance_reps":$reps""") ++
      guardedQueries.sorted.flatMap { n =>
        for (rs <- tm.get(n); nh <- noHot.get(n) if nh > 0)
          yield f""""$n":${Bench.medianRep(rs).totalSec / nh}%.2f"""
      }).mkString("{", ",", "}")
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(workDir, "hot_ratios.json"), hotRatioJson + "\n")
      if (mirrorPriors)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("SCALESMOKE_hot_ratios_latest.json"),
          hotRatioJson + "\n")
      else
        System.err.println("[scale-smoke] standing hot prior NOT updated " +
          "(adjudication/subset run; ratios in workDir/hot_ratios.json; " +
          "hotonly promotes with SPARK_GRAFT_UPDATE_HOT_PRIORS=1)")
    } catch { case scala.util.control.NonFatal(_) => () }
    if (fails.nonEmpty)
      System.err.println(s"[scale-smoke] hot-phase failures: $fails")
  }
}
