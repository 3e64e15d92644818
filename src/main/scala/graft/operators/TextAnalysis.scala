package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis operators for a training-data pipeline over `documents`:
  * token/char statistics, language-ID heuristic, quality scoring, document
  * fingerprinting, and regex token counting.
  *
  * Everything is built from codegen'd builtins + higher-order array
  * functions — per-row narrow transforms, no shuffle, no UDFs: at 100 TB
  * these run at scan speed inside whole-stage codegen with column pruning
  * (only `doc_id`/`text`/`lang` are read).
  */
object TextAnalysis {

  /** [[graft.Tables.widen]]-floored documents scan: the token batteries
    * here are per-row HOF compute in the stage that reads the input, and
    * the single-row-group fixture files plan that stage as ONE task.
    * The widen gate is a no-op at real scale (scan partitions ≥ cores). */
  private def docsW(s: SparkSession, d: String): DataFrame =
    graft.Tables.widen(documents(s, d))

  /** Whitespace tokenization + char stats + type-token ratio. */
  def textStats(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        expr("size(split(text, ' '))").cast("long").as("n_tokens"),
        expr("size(array_distinct(split(text, ' ')))").cast("long").as("n_distinct"),
        (expr("size(array_distinct(split(text, ' ')))").cast("double") /
         expr("size(split(text, ' '))")).as("ttr"),
        ((length(col("text")) - (expr("size(split(text, ' '))") - lit(1))).cast("double") /
         expr("size(split(text, ' '))")).as("avg_token_len"))
      .orderBy(col("doc_id"))

  /** n-gram/stopword language-ID heuristic: rate of English function words
    * among tokens. (The synthetic corpus is English-vocab with random lang
    * labels, so this doubles as a mislabel detector.) */
  def langId(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("n_tokens", expr("size(split(text, ' '))"))
      .withColumn("en_hits",
        expr("size(filter(split(text, ' '), t -> t = 'the' OR t = 'a'))"))
      .select(
        col("doc_id"), col("lang"),
        col("en_hits").cast("long").as("en_hits"),
        (col("en_hits").cast("double") / col("n_tokens")).as("en_ratio"),
        when(col("en_hits").cast("double") / col("n_tokens") >= 0.05, "en")
          .otherwise("unk").as("predicted_lang"))
      .withColumn("label_agrees", col("predicted_lang") === col("lang"))
      .orderBy(col("doc_id"))

  /** Quality score: length saturation + lexical diversity, the standard
    * cheap pre-filter before expensive model-based scoring. */
  /** Per-source RELATIVE quality gate (the CCNet move): a doc passes if
    * its quality reaches its own source's P25 — absolute thresholds rot
    * as the corpus mix shifts; relative gates self-calibrate per domain.
    * The threshold is the DISCRETE P25 — the k-th smallest quality in the
    * source, k = ceil(n/4) — NOT an interpolated percentile: interpolation
    * arithmetic differs between engines in the last ulp (Spark's
    * `percentile` vs DuckDB's `quantile_cont` flipped a 6-dp boundary at
    * sf0.1), while a rank-selected member value is bit-identical by
    * construction, so `quality >= p25` can never disagree. The exact
    * rank selection is the oracle-able baseline; a 100 TB run swaps in an
    * approx_percentile sketch (one partial-agg exchange, same downstream
    * shape). The tiny per-source threshold table BROADCASTS back onto the
    * scan — the corpus itself never shuffles; the kept-mean is an
    * order-independent decimal sum divided once in doubles.
    *
    * `spark.graft.quality.approxThreshold=true` swaps the threshold
    * derivation for an `approx_percentile` sketch — ONE partial-agg
    * exchange over |sources| groups instead of a per-source full sort,
    * the shape a 100 TB corpus needs (the sort-based window materializes
    * and orders every source's docs just to pick one row). The sketch
    * threshold differs from the rank-selected one only within the
    * sketch's rank tolerance (QualityGateSpec bounds the flipped keep
    * decisions); the exact path stays the default because the DuckDB
    * oracle pins bit-identical thresholds. */
  def qualityGate(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val approx =
      graft.GraftConf.bool(s, "spark.graft.quality.approxThreshold", default = false)
    val q = docsW(s, d)
      .withColumn("ttr",
        expr("size(array_distinct(split(text, ' ')))").cast("double") /
          expr("size(split(text, ' '))"))
      .withColumn("quality",
        round(least(lit(1.0), length(col("text")).cast("double") / 400.0) * 0.5 +
          col("ttr") * 0.5, 6))
    val thr =
      if (approx)
        // accuracy 10000 → rank error ≤ n/10000 per source; still returns
        // a MEMBER value (the sketch stores observed values), so the
        // boundary comparison stays exact-equality-safe
        q.groupBy(col("source"))
          .agg(expr("approx_percentile(quality, 0.25, 10000)").as("p25"))
      else q
        .withColumn("qrn", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("quality"), col("doc_id"))))
        .withColumn("qn", count(lit(1)).over(Window.partitionBy(col("source"))))
        .filter(col("qrn") === ceil(col("qn") * 0.25).cast("long"))
        .select(col("source"), col("quality").as("p25"))
    q.join(broadcast(thr), "source")
      .withColumn("keep", col("quality") >= col("p25"))
      .groupBy(col("source"), col("p25"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        (sum(when(col("keep"), col("quality").cast(DecimalType(12, 6))))
          .cast("double") / sum(when(col("keep"), 1L).otherwise(0L)))
          .as("kept_quality_mean"))
      .select(col("source"), col("p25"), col("n_docs"),
        col("n_kept").cast("long").as("n_kept"), col("kept_quality_mean"))
      .orderBy(col("source"))
  }

  def qualityScore(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("n_chars_m", length(col("text")).cast("double"))
      .withColumn("ttr",
        expr("size(array_distinct(split(text, ' ')))").cast("double") /
        expr("size(split(text, ' '))"))
      .select(
        col("doc_id"),
        least(lit(1.0), col("n_chars_m") / 400.0).as("len_score"),
        col("ttr"),
        (least(lit(1.0), col("n_chars_m") / 400.0) * 0.5 + col("ttr") * 0.5).as("quality"))
      .orderBy(col("doc_id"))

  /** Document fingerprints: exact content hash + order-independent
    * bag-of-words hash (canonicalized sorted distinct tokens) — the key
    * primitive under exact/near dedup. */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        md5(col("text")).as("fp_exact"),
        md5(expr("array_join(array_sort(array_distinct(split(text, ' '))), ' ')")).as("fp_bow"))
      .orderBy(col("doc_id"))

  /** WINNOWING fingerprints (Schleimer, Wilkerson, Aiken — SIGMOD
    * 2003, the MOSS algorithm): hash every k-gram, slide a window of w
    * consecutive gram hashes, select each window's MINIMUM (rightmost
    * occurrence on ties — the paper's choice, which bounds fingerprint
    * density), dedupe selections. The guarantee that makes this the
    * span-level contamination primitive: any shared token run of length
    * ≥ w + k − 1 (here 12) is CAUGHT by at least one shared selected
    * fingerprint, while storage stays ~2/(w+1) of the gram count —
    * [[fingerprint]] is the whole-document key, this is the
    * local-match key between it and full n-gram overlap
    * ([[Corpus.contamination]]).
    *
    * k and w ride `spark.graft.winnow.gram` / `.window` (5 / 8,
    * oracle-pinned); gram hashes are the engine's 24-bit md5 prefix.
    * Docs shorter than k yield no grams (and no fingerprints); docs
    * with fewer than w grams winnow one degenerate window (the whole
    * gram list), so every doc with ≥ k tokens fingerprints. `pos` is
    * the 1-BASED k-gram index of the selected gram (unlike the repo's
    * 0-based token offsets elsewhere — phrase `first_pos`, CDC
    * `tok_start`); the 0-based token offset of the gram start is
    * pos − 1.
    *
    * Scale shape: gram hashing, window minima, and tie resolution are
    * ONE per-row higher-order-function projection ([[Corpus]]'s CDC
    * plan: scan → generate, no exchange); only the output sort pays. */
  def winnowFingerprints(s: SparkSession, d: String): DataFrame =
    winnowSelected(s, d).orderBy(col("doc_id"), col("pos"))

  private def winnowSelected(s: SparkSession, d: String): DataFrame =
    winnowSelectedOf(s, docsW(s, d))

  /** [[winnowFingerprints]]'s selection core over any (doc_id, text)
    * frame — the unit the guarantee test drives with synthetic shared
    * runs. Returns (doc_id, pos, fp), pos 1-based.
    *
    * PLAN-SHAPE CONSTRAINT (the round-10 971-second lesson): the
    * selection must reach the generator as ONE struct-array expression
    * exploded with `explode_outer`. With a plain `explode`,
    * `InferFiltersFromGenerate` adds a `size(sel) > 0` predicate that
    * predicate pushdown then rewrites below these projections,
    * substituting the `gh` alias SEVEN times (three per-window slice
    * references, nested) into one Filter condition — that filter
    * re-evaluates the full m-gram md5 array per window, per row:
    * O(m²·k) hash work per document where the honest pass is O(m·k)
    * (measured 89.5 s vs ~2.5 s for the same-shape CDC/span-dedup
    * siblings at sf0.01). The inference rule skips OUTER generates,
    * and the null-compaction filter below sits on the generator
    * OUTPUT, which cannot be pushed under the Generate — so `gh` is
    * evaluated exactly once per row. PlanHygieneSpec pins the
    * no-expensive-expression-in-any-Filter shape for the HOF family. */
  private[graft] def winnowSelectedOf(s: SparkSession, docs: DataFrame): DataFrame = {
    val k = graft.GraftConf.int(s, "spark.graft.winnow.gram", 5)
    val w = graft.GraftConf.int(s, "spark.graft.winnow.window", 8)
    require(k >= 1 && w >= 1, "winnow.gram and winnow.window must be >= 1")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("gh", expr(
        s"""CASE WHEN size(toks) >= $k THEN
           |  transform(sequence(1, size(toks) - $k + 1), i -> cast(conv(substr(
           |    md5(array_join(slice(toks, i, $k), ' ')), 1, 6), 16, 10) as bigint))
           |ELSE cast(array() as array<bigint>) END""".stripMargin))
      // rightmost-min via reverse + first-position: in window j..j+w-1,
      // selected = j - 1 + (w + 1 - pos_in_reversed(min)); windows and
      // slices clamp to m, so short docs winnow one degenerate window
      .withColumn("sel", expr(
        s"""CASE WHEN size(gh) = 0
           |  THEN cast(array() as array<struct<pos: bigint, fp: bigint>>)
           |ELSE transform(
           |  array_distinct(transform(sequence(1, greatest(size(gh) - $w + 1, 1)), j ->
           |    j - 1 + (least($w, size(gh)) + 1 -
           |      array_position(reverse(slice(gh, j, least($w, size(gh)))),
           |                     array_min(slice(gh, j, least($w, size(gh)))))))),
           |  p -> named_struct('pos', p, 'fp', element_at(gh, cast(p as int))))
           |END""".stripMargin))
      .select(col("doc_id"), explode_outer(col("sel")).as("s"))
      .filter(col("s").isNotNull)
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))
  }

  /** (`winnow.minShared`, `winnow.maxDocsPerFp`) of every winnow pair face. */
  private def winnowPairConfs(s: SparkSession): (Int, Int) = {
    val minShared = graft.GraftConf.int(s, "spark.graft.winnow.minShared", 3)
    require(minShared >= 1, "winnow.minShared must be >= 1")
    (minShared, graft.GraftConf.int(s, "spark.graft.winnow.maxDocsPerFp", 0))
  }

  /** `winnow.evalMod`: eval docs are `doc_id % evalMod = 0`. */
  private def winnowEvalMod(s: SparkSession): Int = {
    val evalMod = graft.GraftConf.int(s, "spark.graft.winnow.evalMod", 7)
    require(evalMod >= 2, "winnow.evalMod must be >= 2")
    evalMod
  }

  /** Fingerprint MATCH candidates: document pairs sharing ≥
    * `spark.graft.winnow.minShared` (3) distinct winnowed fingerprints
    * — MOSS's own pair report, and the span-contamination shortlist a
    * pipeline feeds into exact verification. Pair generation is an
    * equi-join on the fingerprint value — the inverted-index family
    * (one exchange keyed by fp, partial-agg'd pair counts).
    *
    * `spark.graft.winnow.maxDocsPerFp` (0 = unguarded; 10000 under the
    * `scale` profile) is the [[HotKeyJoin]] guard on fp: a boilerplate
    * fingerprint hotter than the cap is DROPPED from the join. Dropping (not
    * star-routing, as LSH does) is MOSS's own move — the paper ignores
    * fingerprints appearing in many submissions as boilerplate, since
    * a fragment shared by thousands of documents identifies no
    * specific pair. Hot fps no longer count toward n_shared — the
    * documented recall trade for never going quadratic (WinnowGuardSpec
    * pins the cold-path set equality). */
  def winnowMatches(s: SparkSession, d: String): DataFrame = {
    val (minShared, cap) = winnowPairConfs(s)
    winnowMatchesOf(winnowSelected(s, d), minShared, cap)
  }

  /** [[winnowMatches]]' pair core over any (doc_id, pos, fp) selection
    * frame — the guard's test seam. */
  private[graft] def winnowMatchesOf(
      selected: DataFrame, minShared: Int, cap: Int): DataFrame = {
    val fps = selected.select(col("doc_id"), col("fp")).distinct()
    def pairsOf(f: DataFrame) =
      f.as("a")
        .join(f.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
        .orderBy(col("d1"), col("d2"))
    // pinned: the guard's counting pass must not be a second corpus scan
    val pinned = HotKeyJoin.pinned(fps, cap)
    HotKeyJoin.hotKeys(pinned, Seq("fp"), cap) match {
      case None => pairsOf(pinned)
      case Some(hot) => pairsOf(HotKeyJoin.cold(pinned, hot, Seq("fp")))
    }
  }

  /** CROSS-CORPUS winnowing contamination: for every EVAL document (the
    * `doc_id % evalMod = 0` benchmark stand-in; `spark.graft.winnow
    * .evalMod`, default 7 — deliberately WIDER than the `% 97` split of
    * [[Corpus.contamination]] / [[Retrieval.bm25Batch]], because at the
    * oracle fixture `% 97` selects only 6 of 500 docs, none of which
    * shares a winnowed fingerprint, and the cross-engine gate
    * hash-matched an empty set; `% 7` yields 6/8/49 genuine pairs at
    * sf0.001/0.01/0.1 so the join, HAVING, and position columns are
    * actually exercised), the TRAIN documents sharing ≥
    * `spark.graft.winnow.minShared` winnowed fingerprints, with the
    * FIRST shared-fingerprint gram index on each side (1-based, per
    * [[winnowFingerprints]]). [[Corpus.contamination]]'s n-gram
    * containment says THAT a benchmark item leaks and
    * [[Retrieval.bm25Batch]] ranks WHAT to pull; this says WHERE — the
    * (eval_first, train_first) positions point a reviewer at the exact
    * spans, and the winnowing guarantee (any shared run of w+k−1 = 12
    * tokens shares a selected fingerprint) bounds what can hide.
    *
    * Scale shape: only winnow-SELECTED grams leave the row (~2/(w+1) of
    * the gram stream — the full containment query's cost savings), each
    * side collapses to one row per (doc, fp) map-side before the join,
    * and the join is fp-keyed — the inverted-index family. The pair
    * fan-out per fingerprint is |eval docs| × |train docs| sharing it,
    * so a fp hot on EITHER side blows up: `spark.graft.winnow
    * .maxDocsPerFp` counts over the two sides COMBINED and drops hot
    * fingerprints from both (same MOSS boilerplate-elimination trade
    * as [[winnowMatches]]). */
  def winnowContamination(s: SparkSession, d: String): DataFrame = {
    val (minShared, cap) = winnowPairConfs(s)
    val evalMod = winnowEvalMod(s)
    val docs = docsW(s, d)
    winnowContaminationOf(
      winnowSelectedOf(s, docs.filter(col("doc_id") % evalMod === 0)),
      winnowSelectedOf(s, docs.filter(col("doc_id") % evalMod =!= 0)),
      minShared, cap)
  }

  /** [[winnowContamination]]'s pair core over two (doc_id, pos, fp)
    * selection frames — the guard's test seam. */
  private[graft] def winnowContaminationOf(
      evalSel: DataFrame, trainSel: DataFrame,
      minShared: Int, cap: Int): DataFrame =
    contaminationPairs(sideFps(evalSel), sideFps(trainSel), minShared, cap)

  /** Map-side collapse to one row per (doc, fp) with the first selected
    * gram index — the frame the winnow INDEX persists and both
    * contamination faces join on. */
  private def sideFps(sel: DataFrame): DataFrame =
    sel.groupBy(col("doc_id"), col("fp")).agg(min(col("pos")).as("first_pos"))

  /** The shared pair tail over two COLLAPSED (doc_id, fp, first_pos)
    * frames: fp-keyed join, per-pair shared count + first positions,
    * threshold, with the combined-sides hot-fingerprint guard. */
  private def contaminationPairs(
      e: DataFrame, t: DataFrame, minShared: Int, cap: Int): DataFrame = {
    def pairsOf(e: DataFrame, t: DataFrame) =
      e.as("e").join(t.as("t"), col("e.fp") === col("t.fp"))
        .groupBy(col("e.doc_id").as("eval_id"), col("t.doc_id").as("train_id"))
        .agg(count(lit(1)).as("n_shared"),
          min(col("e.first_pos")).as("eval_first"),
          min(col("t.first_pos")).as("train_first"))
        .filter(col("n_shared") >= minShared)
        .orderBy(col("eval_id"), col("train_id"))
    val ec = HotKeyJoin.pinned(e, cap)
    val tc = HotKeyJoin.pinned(t, cap)
    HotKeyJoin.hotKeys(ec.select(col("fp")).union(tc.select(col("fp"))), Seq("fp"), cap) match {
      case None => pairsOf(ec, tc)
      case Some(hot) =>
        pairsOf(HotKeyJoin.cold(ec, hot, Seq("fp")), HotKeyJoin.cold(tc, hot, Seq("fp")))
    }
  }

  // ------------------------------------------------------------------
  // Persisted winnow-fingerprint index — the production face of
  // contamination forensics. [[winnowContamination]] re-winnows the
  // ENTIRE train corpus inside every query; at 100 TB that is a full
  // corpus pass per eval probe. A real deployment winnows the corpus
  // ONCE into a stored (doc_id, fp, first_pos) table and probes eval
  // sets against the files forever — the same index lifecycle as the
  // MinHash signature index ([[Dedup]]), the IVF cells ([[Similarity]])
  // and the postings index ([[Retrieval]]).
  // ------------------------------------------------------------------

  /** fp-hash partition count. The fp is already a uniform 24-bit md5
    * prefix, so `fp % 64` partitions evenly with no re-hash; a probe
    * whose fingerprints land in few buckets prunes the rest of the
    * index statically. 64 mirrors [[Retrieval.IndexBuckets]]. */
  private[graft] val WinnowBuckets = 64

  /** A winnow selection's index rows: the `fp % 64` bucket added. */
  private def winnowRows(sel: DataFrame): DataFrame =
    sel.withColumn("bucket", pmod(col("fp"), lit(WinnowBuckets.toLong)).cast("int"))

  /** Build the winnow-fingerprint index at `path`: the collapsed
    * (doc_id, fp, first_pos) selection, parquet PARTITIONED BY
    * `fp % 64` (probes prune to their fingerprints' buckets),
    * repartitioned so each bucket writes one file instead of one per
    * task, stamped with its (k, w) — an index winnowed at one (k, w) is
    * meaningless to a probe selected at another ([[PersistedIndex
    * .Winnow]]). */
  def writeWinnowIndex(s: SparkSession, d: String, path: String): Unit =
    writeWinnowIndexOf(docsW(s, d), path)

  /** [[writeWinnowIndex]] over any (doc_id, text) frame — the unit
    * [[winnowContaminationIndexed]] uses to index the train side only. */
  def writeWinnowIndexOf(docs: DataFrame, path: String): Unit =
    PersistedIndex.Winnow.write(
      winnowRows(winnowSelectionOf(docs)).repartition(WinnowBuckets, col("bucket")),
      path)

  /** Index GROWTH, replay-safe under at-least-once delivery
    * ([[PersistedIndex.grow]]): already indexed doc_ids are skipped,
    * fresh docs winnow and append into their bucket partitions. */
  def appendToWinnowIndex(batch: DataFrame, path: String): Unit =
    PersistedIndex.Winnow.grow(batch, path)(d => winnowRows(winnowSelectionOf(d)))

  /** Serve [[winnowContamination]] from a [[writeWinnowIndex]] table —
    * bit-equal by construction: the probe side winnows with the SAME
    * selection core and the pair tail is the SAME [[contaminationPairs]]
    * (WinnowIndexSpec asserts equality against the in-query face).
    *
    * Scan pruning: the probe's fingerprint BUCKETS are collected to the
    * driver — at most 64 ints regardless of probe size (unlike the bm25
    * term collect, which needs a conf cap) — and pushed as a literal
    * partition filter. A one-benchmark probe touches a handful of
    * bucket directories; a corpus-sized probe degrades gracefully to a
    * full (still column-pruned) index read. The train corpus is NEVER
    * re-winnowed here — that is the whole point of the index. */
  def contaminationFromIndex(evalDocs: DataFrame, indexPath: String): DataFrame = {
    val s = evalDocs.sparkSession
    PersistedIndex.Winnow.check(s, indexPath)
    val (minShared, cap) = winnowPairConfs(s)
    val e = graft.CacheScope.track(
      sideFps(winnowSelectedOf(s, evalDocs)).persist())
    val buckets = winnowRows(e).select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq // ≤ 64 rows by construction
    val t = s.read.parquet(indexPath)
      .filter(col("bucket").isin(buckets: _*))
      .select(col("doc_id"), col("fp"), col("first_pos"))
    contaminationPairs(e, t, minShared, cap)
  }

  /** Standing EVAL selection for the streaming monitor: the collapsed
    * (doc_id, fp, first_pos) frame of a benchmark set, built once per
    * session under the current (k, w) confs and probed by every
    * [[contaminationMonitorBatch]] call. Benchmark suites are small —
    * persist/broadcast-sized by contract. */
  def winnowSelectionOf(docs: DataFrame): DataFrame =
    sideFps(winnowSelectedOf(docs.sparkSession, docs))

  /** STREAMING contamination monitor — the foreachBatch body of a
    * continuous ingest pipeline ([[Dedup.dedupBatchAndGrowIndex]]'s
    * pattern, for benchmark leakage instead of duplication): winnow the
    * incoming TRAIN batch once, report which standing EVAL documents
    * share ≥ minShared fingerprints with it (the contamination columns,
    * positions included — data about to enter the corpus is flagged
    * BEFORE it trains anything), and append the batch's fingerprints to
    * the train winnow index so offline forensics
    * ([[contaminationFromIndex]]) stay complete without re-winnowing.
    *
    * Replay-safe under at-least-once foreachBatch: the report is a pure
    * function of (batch, evalSel) — a committed batch replays verbatim —
    * and the append is [[PersistedIndex.grow]], so nothing regrows. The
    * batch selection is lineage-truncated (computed once, not
    * re-winnowed for report and append separately); the index geometry
    * stamp is verified before anything runs. */
  def contaminationMonitorBatch(batch: DataFrame, evalSel: DataFrame,
      indexPath: String): DataFrame = {
    val s = batch.sparkSession
    PersistedIndex.Winnow.check(s, indexPath)
    val (minShared, cap) = winnowPairConfs(s)
    val sel = Dedup.truncateLineage(winnowSelectionOf(batch))
    val report = contaminationPairs(evalSel, sel, minShared, cap)
    PersistedIndex.Winnow.grow(sel, indexPath)(winnowRows)
    report
  }

  /** EXACT shared-span extraction — the verify stage MOSS runs after
    * fingerprint matching, and the last mile of the contamination
    * pipeline: for every pair [[winnowContamination]] flags, every
    * maximal shared contiguous token run of length ≥
    * `spark.graft.winnow.spanMinRun` (default 12 = w + k − 1, the
    * winnowing guarantee length), with exact 0-based token offsets on
    * both sides (the phrase/CDC offset convention, NOT winnow's
    * 1-based gram index) and the run length. Fingerprints say a pair
    * leaks and roughly where; this says exactly what to excise.
    *
    * Mechanism: token-position streams of the two sides join per
    * flagged pair on token equality; a match (i, j) lies on diagonal
    * i − j, and a shared run of length L is exactly L consecutive-i
    * matches on one diagonal — so runs fall out of the classic
    * gaps-and-islands grouping (i − row_number per (pair, diagonal)),
    * no alignment DP, no UDF.
    *
    * Scale shape: the flagged pair list (already thresholded by the
    * contamination gate) BROADCASTS into the token streams, so only
    * flagged docs' tokens survive the scan; the join is keyed
    * (doc, token) — the inverted-index family. Degenerate pairs (the
    * same token repeated m× on both sides → m² matches on m diagonals)
    * are the familiar hot-key shape: `spark.graft.winnow
    * .maxSpanMatchesPerPair` (0 = unguarded, the oracle default;
    * 1e6 under the scale profile) drops pairs whose raw match count
    * exceeds the cap from the SPAN report — they remain flagged by the
    * contamination gate itself; only their span enumeration is
    * declined (documented MOSS-style trade; [[HotKeyJoin]] keyed on
    * the pair). */
  def contaminationSpans(s: SparkSession, d: String): DataFrame = {
    val minRun = graft.GraftConf.int(s, "spark.graft.winnow.spanMinRun", 12)
    require(minRun >= 1, "winnow.spanMinRun must be >= 1")
    val cap = graft.GraftConf.long(s, "spark.graft.winnow.maxSpanMatchesPerPair", 0L)
    val evalMod = winnowEvalMod(s)
    val docs = docsW(s, d)
    contaminationSpansOf(
      winnowContamination(s, d).select(col("eval_id"), col("train_id")),
      docs.filter(col("doc_id") % evalMod === 0),
      docs.filter(col("doc_id") % evalMod =!= 0),
      minRun, cap)
  }

  /** [[contaminationSpans]]' core over an explicit flagged-pair frame
    * and two (doc_id, text) sides — the guard's and the planted-leak
    * spec's seam. */
  private[graft] def contaminationSpansOf(
      pairs: DataFrame, evalDocs: DataFrame, trainDocs: DataFrame,
      minRun: Int, cap: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def toks(docs: DataFrame, id: String, pos: String, tok: String) = docs
      .select(col("doc_id").as(id),
        posexplode(split(col("text"), " ")).as(Seq(pos, tok)))
    val m = toks(evalDocs, "eval_id", "i", "tok")
      .join(broadcast(pairs), "eval_id")
      .join(toks(trainDocs, "train_id", "j", "tok"), Seq("train_id", "tok"))
      .select(col("eval_id"), col("train_id"), col("i"), col("j"))
    def spansOf(mm: DataFrame) = mm
      .withColumn("diag", col("i") - col("j"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("eval_id"), col("train_id"), col("diag"))
          .orderBy(col("i"))))
      .groupBy(col("eval_id"), col("train_id"), col("diag"),
        (col("i") - col("rn")).as("grp"))
      .agg(count(lit(1)).as("run_len"),
        min(col("i")).cast("long").as("eval_start"),
        min(col("j")).cast("long").as("train_start"))
      .filter(col("run_len") >= minRun)
      .select(col("eval_id"), col("train_id"),
        col("eval_start"), col("train_start"), col("run_len"))
      .orderBy(col("eval_id"), col("train_id"),
        col("eval_start"), col("train_start"))
    val mc = HotKeyJoin.pinned(m, cap)
    val pair = Seq("eval_id", "train_id")
    HotKeyJoin.hotKeys(mc, pair, cap) match {
      case None => spansOf(mc)
      case Some(hot) => spansOf(HotKeyJoin.cold(mc, hot, pair))
    }
  }

  /** Catalog face: index the train side in scratch, probe the eval side
    * from the files — same oracle as the scan-side
    * [[winnowContamination]] (the persisted hop must be invisible). */
  def winnowContaminationIndexed(s: SparkSession, d: String): DataFrame = {
    val evalMod = winnowEvalMod(s)
    val path = PersistedIndex.Winnow.fresh(s, d, "train")
    val docs = docsW(s, d)
    writeWinnowIndexOf(docs.filter(col("doc_id") % evalMod =!= 0), path)
    contaminationFromIndex(
      docs.filter(col("doc_id") % evalMod === 0).select(col("doc_id"), col("text")),
      path)
  }

  /** Build count of the served face — ServedFacesSpec pins build-once. */
  private[graft] def servedBuilds = PersistedIndex.Winnow.builds("served_train")

  /** Catalog face: the SERVE-ONLY cost of the winnow-index lifecycle
    * (the [[graft.operators.Retrieval.bm25BatchServed]] pattern, third
    * index family), built by [[PersistedIndex.served]]; bench's median
    * (reps 2..n) is the pure probe cost. The train slice
    * (`winnow.evalMod`) rides the fingerprint beside the (k, w)
    * geometry; serve-time dials (`minShared`, `maxDocsPerFp`) don't
    * touch index content — correctly absent. Same oracle as
    * `q_winnow_contamination`, verbatim. */
  def winnowContaminationServed(s: SparkSession, d: String): DataFrame = {
    val evalMod = winnowEvalMod(s)
    val docs = docsW(s, d)
    val idx = PersistedIndex.Winnow.served(s, d, "served_train", s"evalMod=$evalMod")(p =>
      writeWinnowIndexOf(docs.filter(col("doc_id") % evalMod =!= 0), p))
    contaminationFromIndex(
      docs.filter(col("doc_id") % evalMod === 0).select(col("doc_id"), col("text")), idx)
  }

  /** Heavy hitters (tokens with ≥ 2% of all occurrences) via Count-Min
    * sketch pruning + exact verification. The sketch — Spark's own
    * `count_min_sketch` aggregate, queried through
    * [[graft.functions.CmsEstimate]] — only OVERestimates, so filtering
    * candidates on the estimate has no false negatives and the exact
    * HAVING above it makes the output bit-identical to the plain
    * heavy-hitter SQL the oracle runs; CMS false positives cost a little
    * verification work, never correctness (same prune-then-verify
    * contract as [[Curation.contaminationBloom]]).
    *
    * Scale shape: the sketch is one pass, a few hundred KB, and
    * MERGEABLE (partial-agg friendly); the estimator runs over the
    * candidate vocabulary, not the token stream. Candidate enumeration
    * has two conf-selected shapes with identical output:
    * default — distinct tokens (right for a bounded vocabulary);
    * `spark.graft.text.hhLocalCandidates=true` — per-partition local
    * heavy hitters, which bounds the candidate state per partition at a
    * 10⁹-token vocabulary where a global distinct would be the corpus.
    * The local test is `50·ln + 49 ≥ n_p` (ln = token's count in its
    * partition, n_p = the partition's total): if a token failed it in
    * EVERY partition, summing `50·ln < n_p − 49` over the P partitions
    * gives `50·c < N − 49·P ≤ N − 49`, i.e. `c < ⌈(N−49)/50⌉ ≤ N DIV
    * 50` — so no token meeting the global 2% threshold can be lost.
    * Both ln and n_p come from one per-partition aggregate evaluated
    * inside the query itself (no partition count is baked in at plan
    * build, so the guarantee holds whatever split planning the executed
    * scan gets). The sketch/verify stages are identical in both shapes. */
  def heavyHittersCms(s: SparkSession, d: String): DataFrame = {
    graft.functions.CmsFunctions.register(s)
    val toks = docsW(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
    toks.createOrReplaceTempView("graft_hh_tokens")
    val localCand =
      graft.GraftConf.bool(s, "spark.graft.text.hhLocalCandidates", default = false)
    val candSql =
      if (localCand)
        """SELECT DISTINCT token FROM (
          |    SELECT token, ln, SUM(ln) OVER (PARTITION BY pid) AS np
          |    FROM (SELECT spark_partition_id() AS pid, token, COUNT(*) AS ln
          |          FROM graft_hh_tokens GROUP BY spark_partition_id(), token))
          |  WHERE ln * 50L + 49L >= np""".stripMargin
      else
        "SELECT DISTINCT token FROM graft_hh_tokens"
    s.sql(
      s"""WITH thr AS (SELECT COUNT(*) DIV 50 AS t FROM graft_hh_tokens),
        |cand AS (
        |  SELECT token FROM ($candSql)
        |  WHERE graft_cms_estimate(
        |    (SELECT count_min_sketch(token, 0.0001d, 0.99d, 42) FROM graft_hh_tokens),
        |    token) >= (SELECT t FROM thr))
        |SELECT /*+ BROADCAST(cand) */ g.token, COUNT(*) AS n
        |FROM graft_hh_tokens g JOIN cand ON g.token = cand.token
        |GROUP BY g.token
        |HAVING COUNT(*) >= (SELECT t FROM thr)
        |ORDER BY g.token""".stripMargin)
  }

  /** Token counting three ways: whitespace, regex word tokens, and a
    * BPE-ish fixed-piece chunking ([a-z]{1,4} greedy pieces). */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        expr("size(split(text, ' '))").cast("long").as("n_ws_tokens"),
        expr("size(regexp_extract_all(text, '[a-z]+', 0))").cast("long").as("n_word_tokens"),
        expr("size(regexp_extract_all(text, '[a-z]{1,4}', 0))").cast("long").as("n_bpeish_pieces"))
      .orderBy(col("doc_id"))

  /** The end-to-end training-set selection the individual operators exist
    * for, composed as ONE declarative plan: language gate (en_ratio) ∧
    * quality gate ∧ exact-dedup canonical-row keep (min doc_id per
    * content fingerprint). Every gate is a codegen'd per-row
    * expression; the canonical row comes from a partial-agg over the
    * fingerprint (map-side combine collapses the exchange to distinct
    * fingerprints) joined back — NOT a `min over (partition by fp)`
    * window, because a document duplicated 10⁸ times lands its whole
    * fingerprint group in one window partition AQE cannot split, while
    * the skewed side of this join it can. */
  def trainingSelect(s: SparkSession, d: String): DataFrame = {
    val scored = docsW(s, d)
      .withColumn("n_tokens", expr("size(split(text, ' '))"))
      .withColumn("ttr",
        expr("size(array_distinct(split(text, ' ')))").cast("double") / col("n_tokens"))
      .withColumn("en_ratio",
        expr("size(filter(split(text, ' '), w -> w = 'the' OR w = 'a'))").cast("double") /
          col("n_tokens"))
      .withColumn("quality",
        least(lit(1.0), length(col("text")).cast("double") / 400.0) * 0.5 +
          col("ttr") * 0.5)
      .withColumn("fp", md5(col("text")))
    scored
      .join(scored.groupBy(col("fp")).agg(min(col("doc_id")).as("keep")), "fp")
      .filter(col("doc_id") === col("keep") &&
        col("quality") >= 0.5 && col("en_ratio") >= 0.05)
      .select(col("doc_id"), col("quality"), col("en_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition filter: fraction of word-2-grams taken by the
    * single most frequent 2-gram, plus the duplicate-word fraction —
    * the standard cheap signals for machine-generated/looped text. The
    * keep decision uses EXACT integer cross-multiplication
    * (`top2*100 <= tot2*6`), so there is no float rounding to diverge
    * between engines. Shape: one explode + two partial-agg shuffles
    * keyed by (doc, gram) then doc — uniform keys, scales linearly. */
  def repetitionFilter(s: SparkSession, d: String): DataFrame = {
    val grams = docsW(s, d)
      .select(col("doc_id"),
        explode(expr(
          """CASE WHEN size(split(text, ' ')) >= 2
            |  THEN transform(sequence(1, size(split(text, ' ')) - 1),
            |    i -> concat(element_at(split(text, ' '), i), ' ',
            |                element_at(split(text, ' '), i + 1)))
            |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(max(col("cnt")).as("top2"), sum(col("cnt")).as("tot2"))
    docsW(s, d)
      .select(col("doc_id"),
        expr("size(split(text, ' '))").cast("long").as("n_tokens"),
        expr("size(array_distinct(split(text, ' ')))").cast("long").as("n_distinct"))
      .join(grams, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("top2"), col("tot2"),
        (col("top2") * 100 <= col("tot2") * 6 &&
         (col("n_tokens") - col("n_distinct")) * 100 <= col("n_tokens") * 65)
          .as("keep"))
      .orderBy(col("doc_id"))
  }

  /** PII redaction: scrub emails and phone-shaped tokens with
    * `regexp_replace` before training. The corpus is synthetic word soup,
    * so deterministic PII is planted first (email/phone derived from
    * doc_id — every third doc gets each), then redacted; output carries the
    * md5 of the redacted text plus match counts, so an engine that missed
    * or over-matched a single occurrence fails the oracle. Patterns stay
    * inside the RE2 ∩ java.util.regex common subset (no lookaround), so
    * Spark and DuckDB agree byte-for-byte. Per-row codegen'd regex — scan
    * speed, no shuffle. */
  def piiRedact(s: SparkSession, d: String): DataFrame = {
    val emailRe = "[a-z0-9._]+@[a-z0-9.-]+"
    val phoneRe = "555-[0-9]{4}"
    docsW(s, d)
      .withColumn("pii_text", concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@mail.example")))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 1,
          concat(lit(" call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))))
      .select(col("doc_id"),
        md5(regexp_replace(regexp_replace(col("pii_text"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>")).as("redacted_md5"),
        regexp_count(col("pii_text"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("pii_text"), lit(phoneRe)).cast("long").as("n_phones"))
      .orderBy(col("doc_id"))
  }

  /** The custom Generator ([[graft.functions.ShingleExplode]], the UDTF
    * surface) driving a per-document shingle profile: generate lazily,
    * aggregate immediately — the fan-out never materializes as an array. */
  def udtfShingles(s: SparkSession, d: String): DataFrame = {
    graft.functions.ShingleExplode.register(s)
    docsW(s, d)
      .select(col("doc_id"), expr("shingle_explode(text, 4)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        countDistinct(col("shingle")).as("n_distinct"),
        min(col("shingle")).as("first_shingle"),
        max(col("pos")).cast("long").as("last_pos"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF-style salient terms over the corpus: one explode + one
    * partial-agg shuffle keyed by token, then TakeOrderedAndProject for
    * the top 20. IDF is the RATIO N/df rather than log(N/df) — log is not
    * a correctly-rounded IEEE op, so engines' libm disagreement could flip
    * a rounded digit; ratio arithmetic over exact integer counts is
    * bit-identical everywhere and preserves the same ranking (log is
    * monotone). N is a driver-side scalar aggregate (one count action,
    * the same pattern as the clustering fixpoint test — an aggregate, not
    * a row collect). */
  def tfidfTopTerms(s: SparkSession, d: String): DataFrame = {
    val nDocs = documents(s, d).count() // scalar count: no compute to widen
    docsW(s, d)
      .select(col("doc_id"), explode(expr("split(text, ' ')")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("total_cnt"),
        countDistinct(col("doc_id")).as("df"))
      .withColumn("tfidf",
        col("total_cnt").cast("double") * lit(nDocs.toDouble) / col("df"))
      .orderBy(col("tfidf").desc, col("token"))
      .limit(20)
  }

  /** BPE-style vocabulary induction, the data-side step: count adjacent
    * token pairs across the corpus and rank the top merge candidates —
    * exactly what each round of byte-pair-encoding training computes.
    * [[bpeMerges]] is the trainer loop built on this counting shape.
    * Ties break on the pair string, fully deterministic.
    *
    * Scale shape: one explode (n−1 pairs per doc) into one
    * partial-aggregated shuffle over the pair vocabulary, then a top-k
    * TakeOrderedAndProject — no corpus-sized sort, no window. The
    * size-2 guard respects the `sequence(1, 0)` descending gotcha
    * (NOTES determinism rules). */
  def vocabPairs(s: SparkSession, d: String): DataFrame =
    docsW(s, d)
      .select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))""".stripMargin))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)

  /** BPE TRAINER — 5 merge rounds over a one-pass distinct-document
    * HISTOGRAM (see [[bpeTrain]] for the Sennrich et al. shape). Each
    * round: count adjacent token pairs over the histogram weighted by
    * multiplicity (one explode + one partial-agg shuffle, the
    * [[vocabPairs]] shape), pick the most frequent pair (ties on the
    * pair string — one 1-row driver action, the same scalar-fixpoint
    * pattern as connected components), then apply the merge to the
    * HISTOGRAM only — the corpus is never rewritten during training.
    *
    * Merge application must be identical in both engines, so tokens ride
    * a delimited wire form: `|tok₁||tok₂||…|` (see [[wireSearch]]) — no
    * regex, no UDF. Nothing driver-side but the 1-row argmax. Output:
    * the 5 merge rules in training order with their support counts — the
    * vocabulary head a tokenizer trainer would persist. */
  def bpeMerges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeTrain(s, d, rounds = 5)._2.toDF("round", "pair", "n").orderBy(col("round"))
  }

  /** The shared trainer: returns (final encoded wire frame keyed by
    * doc_id, the merge table in training order).
    *
    * HISTOGRAM formulation (Sennrich et al. 2016's scalable shape): the
    * corpus is read ONCE into a (wire, cnt) histogram over distinct
    * documents, and every training round — pair counting, argmax, merge
    * application — runs over the histogram alone, weighting pair counts
    * by cnt. Merges can cross any within-document token boundary, so the
    * document is the merge-boundary unit here, exactly as the word is in
    * char-level BPE — the histogram is the corpus' distinct-document
    * table, and per-round cost is proportional to IT, not to the corpus
    * (on web-scale data with heavy duplication that is the difference
    * between 32k merge rounds × corpus rewrites and 32k rounds × a
    * dedup-sized frame). Identical merge table to the naive per-corpus
    * loop: summing per-wire pair counts weighted by multiplicity is the
    * same total as counting per document.
    *
    * Each round's histogram is lineage-truncated ([[Dedup.
    * truncateLineage]] — eager localCheckpoint, or reliable checkpoint
    * under `spark.graft.dedup.reliableCheckpoint`): the round-N plan
    * would otherwise embed every prior round's replace+regroup and
    * Catalyst analysis cost would grow per round. The merged wires are
    * re-grouped after each replace (two previously-distinct wires can
    * collapse once a pair is fused), so the histogram only ever shrinks.
    *
    * The corpus itself is rewritten exactly ONCE, after training: the
    * full merge table is applied as a chain of codegen'd replaces in a
    * single narrow pass (the broadcast-merge-map shape of a real
    * tokenizer trainer). */
  private def bpeTrain(s: SparkSession, d: String,
      rounds: Int): (DataFrame, Seq[(Long, String, Long)]) = {
    val corpusWire = docsW(s, d)
      .select(col("doc_id"),
        concat(lit("|"), expr("replace(text, ' ', '||')"), lit("|")).as("w"))
    // Lazy CACHE chain, not a per-round eager checkpoint: round r's
    // argmax job materializes hist_r's cache on the way (reading
    // hist_{r-1}'s cached blocks), so each round costs ONE job instead
    // of two. Earlier rounds' caches stay pinned until CacheScope
    // releases them (dedup-sized frames — a few MB for all rounds);
    // plan depth grows one replace+regroup layer per round — linear,
    // trivially analyzable at this trainer's round counts. A 32k-round
    // production trainer would re-introduce a checkpoint every few
    // hundred rounds; that cadence belongs to the deployment, not the
    // reference loop.
    var hist = graft.CacheScope.track(
      corpusWire.groupBy(col("w")).agg(count(lit(1)).as("cnt")).persist())
    val merges = collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    for (r <- 1 to rounds) {
      val best = hist
        .select(col("cnt"), expr(
          "split(substring(w, 2, length(w) - 2), '\\\\|\\\\|')").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("cnt"), explode(expr(
          """transform(sequence(1, size(toks) - 1),
            |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"""
            .stripMargin)).as("pair"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(1).collect()
      if (best.nonEmpty) {
        val (pair, n) = (best(0).getString(0), best(0).getLong(1))
        merges += ((r.toLong, pair, n))
        // lit() columns, not SQL literal splicing: token text never has
        // to survive a second trip through the SQL parser
        hist = graft.CacheScope.track(
          hist.select(
              org.apache.spark.sql.functions.replace(
                col("w"), lit(wireSearch(pair)), lit(wireTarget(pair))).as("w"),
              col("cnt"))
            .groupBy(col("w")).agg(sum(col("cnt")).as("cnt"))
            .persist())
      }
    }
    val wire = merges.foldLeft(corpusWire) { case (df, (_, pair, _)) =>
      df.select(col("doc_id"),
        org.apache.spark.sql.functions.replace(
          col("w"), lit(wireSearch(pair)), lit(wireTarget(pair))).as("w"))
    }
    (wire, merges.toSeq)
  }

  /** The winning pair (a, b) as its wire-form search/replacement strings:
    * `|a||b|` → `|a_b|`. Leftmost non-overlapping greedy replacement is
    * exactly what SQL `replace` does everywhere, and the shared `|`
    * delimiter between adjacent occurrences means "a a a" merges to
    * "a_a a" in both engines — true BPE greedy-scan semantics. */
  private def wireSearch(pair: String): String = "|" + pair.replace(" ", "||") + "|"
  private def wireTarget(pair: String): String = "|" + pair.replace(" ", "_") + "|"

  /** BPE ENCODE — apply the trained merge table to the corpus and report
    * the per-document compression: token count before/after and the
    * first encoded token (a cheap witness that merges actually landed
    * where they should). This is the tokenizer-application half of the
    * [[bpeMerges]] trainer: at 100 TB the merge table is the broadcast
    * artifact and encoding is a pure per-row map at scan speed — no
    * shuffle at all beyond the trainer's own counting rounds. */
  def bpeEncode(s: SparkSession, d: String): DataFrame = {
    val (wire, _) = bpeTrain(s, d, rounds = 5)
    docsW(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens_raw"))
      .join(wire, "doc_id")
      .withColumn("toks",
        expr("split(substring(w, 2, length(w) - 2), '\\\\|\\\\|')"))
      .select(col("doc_id"), col("n_tokens_raw"),
        size(col("toks")).cast("long").as("n_tokens_bpe"),
        element_at(col("toks"), 1).as("first_token"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style heuristic quality rules (Rae et al. 2021 §A.1.1, the
    * standard pre-model filter battery), adapted to the single-line
    * synthetic corpus: word-count bounds, mean-word-length bounds,
    * stopword-presence, and a top-token-fraction repetition cap. Each
    * rule is a per-doc boolean; the query reports per-source rule
    * failure counts and the surviving-doc count, which is what a
    * curation run actually monitors (per-domain rule hit rates tell you
    * which rule is eating which source).
    *
    * Scale shape: every rule is a codegen'd builtin over the row itself
    * (split + higher-order array fns — no shuffle, no UDF), then ONE
    * partial-agg exchange over |sources| groups. The top-token count is
    * O(|distinct| × n_tokens) per row — bounded by the doc, not the
    * corpus. Mean word length derives from exact integer arithmetic
    * (chars minus separators over token count) so the rule boundary
    * compares identical doubles in both engines. */
  def gopherFilter(s: SparkSession, d: String): DataFrame =
    docsW(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("mwl",
        (length(col("text")) - (col("n_words") - 1)).cast("double") / col("n_words"))
      .withColumn("stop_hits", expr(
        "size(filter(toks, t -> t IN ('the', 'a', 'in', 'of', 'to')))").cast("long"))
      .withColumn("top_tok", expr(
        "array_max(transform(array_distinct(toks), t -> size(filter(toks, x -> x = t))))")
        .cast("long"))
      .withColumn("r_len", col("n_words").between(20L, 5000L))
      .withColumn("r_word", col("mwl").between(2.0, 10.0))
      .withColumn("r_stop", col("stop_hits") >= 2L)
      .withColumn("r_rep", col("top_tok").cast("double") / col("n_words") <= 0.2)
      .withColumn("keep", col("r_len") && col("r_word") && col("r_stop") && col("r_rep"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(when(!col("r_len"), 1L).otherwise(0L)).as("fail_len"),
        sum(when(!col("r_word"), 1L).otherwise(0L)).as("fail_wordlen"),
        sum(when(!col("r_stop"), 1L).otherwise(0L)).as("fail_stop"),
        sum(when(!col("r_rep"), 1L).otherwise(0L)).as("fail_rep"))
      .orderBy(col("source"))

  /** N-gram NOVELTY score — the share of a document's distinct word
    * trigrams that appear in NO other document (corpus document
    * frequency 1). High novelty = fresh content; low novelty = the doc
    * is assembled from phrases the corpus already contains — the
    * cheap count-based complement to the MinHash/SimHash dedup family
    * (those find WHO you overlap with; this scores HOW MUCH of you is
    * boilerplate-by-phrase). Used as a curation signal in dedup-aware
    * sampling (keep novel docs at higher rates).
    *
    * Determinism: counts are integers end-to-end; the only float is the
    * final `n_unique / n_grams` — one IEEE division of two exact longs,
    * identical in any engine.
    *
    * Scale shape: distinct trigrams explode per doc (bounded by doc
    * length), document frequency comes from a PARTIAL-AGG over the gram
    * (map-side combine collapses the exchange to the distinct-gram set)
    * joined back onto the per-doc gram stream, then one
    * partial-aggregated exchange back on doc_id. The join form is
    * deliberate over a `count over (partition by gram)` window: a
    * boilerplate gram present in most documents inflates ONE window
    * partition that AQE cannot split, while the skewed side of this
    * sort-merge join it CAN — the inverted-index shuffle shape that
    * survives a 100 TB corpus. */
  def noveltyScore(s: SparkSession, d: String): DataFrame = {
    val sh = docsW(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        """transform(sequence(1, size(toks) - 2),
          |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1),
          |    ' ', element_at(toks, i + 2)))""".stripMargin))).as("gram"))
    sh.join(sh.groupBy(col("gram")).agg(count(lit(1)).as("df")), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_grams"), col("n_unique"),
        (col("n_unique").cast("double") / col("n_grams")).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** N-gram LANGUAGE-MODEL filter, the count-based CCNet/KenLM proxy:
    * score each document by the fraction of its word-trigram POSITIONS
    * whose corpus-wide occurrence count is ≤ 2 — a high rare-gram rate
    * means the doc is full of sequences the corpus LM has (almost) no
    * evidence for, the same signal a perplexity filter thresholds
    * (Wenzek et al. 2020 §4.3) without the held-out LM. Distinct from
    * [[noveltyScore]] on both axes: novelty counts DISTINCT grams with
    * document frequency 1 (boilerplate share), this counts every
    * OCCURRENCE against total corpus support (LM surprisal proxy).
    *
    * Determinism: counts are integers end-to-end; `rare_rate` is one
    * IEEE division of two exact longs rounded at 6 dp, and the `kept`
    * gate compares the UNROUNDED quotient — identical doubles in any
    * engine.
    *
    * Scale shape (exact path): one narrow explode (bounded by doc
    * length), corpus support counted by a PARTIAL-AGG on the gram
    * (collapses map-side to the distinct-gram set — the exchange
    * carries grams, not positions) joined back onto the position
    * stream, then one partial-aggregated exchange back on doc_id. The
    * join form is deliberate over a `count over (partition by g)`
    * window: a hot stop-phrase gram inflates ONE window partition and
    * AQE cannot split a window, but it CAN split the skewed side of
    * this sort-merge join — the only shape that survives a boilerplate
    * phrase with 10⁹ occurrences. (Costs a second narrow scan of the
    * text column; at any SF the avoided skew ceiling dominates.)
    *
    * Scale path (`spark.graft.lm.cms=true`): at 100 TB the exact path's
    * gram exchange shuffles every trigram POSITION; the gated path
    * replaces it with a Count-Min sketch — one sketch-merge aggregation
    * (collapses map-side, a few MB per task) plus a narrow re-scan that
    * point-queries the broadcast sketch, so NO exchange ever carries the
    * token stream. CMS never underestimates, so `rare` flips only from
    * true→false: per doc `n_rare_cms ≤ n_rare`, hence `kept_cms ⊇ kept`
    * — the approximation is one-sided (conservative: keeps more), the
    * property LmDsirSpec pins.
    *
    * `spark.graft.lm.rareCount` (default 2, the oracle's pin) is the
    * support threshold — the dial that must MOVE with corpus size: CMS
    * point queries carry +ε·N expected overestimate, so at 10^12 gram
    * positions a threshold of 2 is below the sketch's resolution and a
    * real run sets the threshold as a support quantile (e.g. "bottom
    * 0.1% of positions"), where the CMS error is relatively negligible.
    * The conf keeps that a session decision instead of an edit. */
  def lmRareTrigram(s: SparkSession, d: String): DataFrame = lmRareTrigramOf(docsW(s, d))

  /** [[lmRareTrigram]] over any `(doc_id, text)` frame. */
  private def lmRareTrigramOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val rareCount = graft.GraftConf.long(s, "spark.graft.lm.rareCount", 2L)
    val pos = docs
      .select(col("doc_id"),
        expr("filter(split(lower(text), ' '), t -> t != '')").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks) - 2),
          |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1),
          |    ' ', element_at(toks, i + 2)))""".stripMargin)).as("g"))
    val scored =
      if (graft.GraftConf.bool(s, "spark.graft.lm.cms", default = false)) {
        graft.functions.CmsFunctions.register(s)
        pos.createOrReplaceTempView("graft_lm_grams")
        s.sql(
          s"""SELECT doc_id, COUNT(*) AS n_grams,
            |  SUM(CASE WHEN est <= ${rareCount}L THEN 1L ELSE 0L END) AS n_rare
            |FROM (
            |  SELECT doc_id, graft_cms_estimate(
            |    (SELECT count_min_sketch(g, CAST(0.00002 AS DOUBLE),
            |                             CAST(0.999 AS DOUBLE), 42)
            |     FROM graft_lm_grams), g) AS est
            |  FROM graft_lm_grams)
            |GROUP BY doc_id""".stripMargin)
      } else
        pos
          .join(pos.groupBy(col("g")).agg(count(lit(1)).as("c")), "g")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("c") <= rareCount, 1L).otherwise(0L)).as("n_rare"))
    scored
      .select(col("doc_id"), col("n_grams"), col("n_rare"),
        round(col("n_rare").cast("double") / col("n_grams"), 6).as("rare_rate"),
        (col("n_rare").cast("double") / col("n_grams") <= lit(0.7)).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** FILTER FUNNEL — first-drop attribution across the curation filter
    * battery, per source: every document is charged to the FIRST stage
    * that drops it (length bounds → stopword evidence → quality score →
    * repetition cap → LM rare-trigram rate), so the per-stage columns
    * sum with `n_survive` to `n_docs` exactly. This is the monitoring
    * view a curation run ships next to its filters (the Dolma/RefinedWeb
    * reports are exactly this table): composed keep-rates
    * ([[trainingSelect]]) tell you how much survives; the funnel tells
    * you WHICH rule is eating WHICH source, which is what you tune.
    *
    * Rule definitions are shared verbatim with their home operators
    * ([[gopherFilter]] bounds, [[qualityScore]]'s 6-dp score,
    * [[lmRareTrigram]]'s kept gate — including its conf dials), so the
    * funnel can never drift from the filters it audits. Scale shape:
    * every stage but LM is a per-row codegen'd expression; the LM flag
    * joins the rare-trigram output back on doc_id (one exchange), then
    * ONE partial-agg exchange over |sources| groups. */
  def filterFunnel(s: SparkSession, d: String): DataFrame =
    funnelFlags(docsW(s, d))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("first_fail") === "len", 1L).otherwise(0L)).as("drop_len"),
        sum(when(col("first_fail") === "stop", 1L).otherwise(0L)).as("drop_stop"),
        sum(when(col("first_fail") === "quality", 1L).otherwise(0L)).as("drop_quality"),
        sum(when(col("first_fail") === "rep", 1L).otherwise(0L)).as("drop_rep"),
        sum(when(col("first_fail") === "lm", 1L).otherwise(0L)).as("drop_lm"),
        sum(when(col("first_fail") === "pass", 1L).otherwise(0L)).as("n_survive"))
      .orderBy(col("source"))

  /** The funnel's per-document verdict frame (doc_id, source,
    * first_fail) over a `documents` frame — shared by [[filterFunnel]]'s
    * aggregation and the end-to-end [[Curation.curationPipeline]], so
    * the composed pipeline can never drift from the audited battery.
    * `carry` adds named per-row columns over `text`, evaluated in the
    * same narrow pass before the LM join, so the join never carries the
    * text. */
  private[operators] def funnelFlags(docs: DataFrame,
      carry: Seq[(String, Column)] = Nil): DataFrame = {
    val lm = lmRareTrigramOf(docs).select(col("doc_id"), col("kept").as("r_lm"))
    docs
      .withColumns(carry.toMap)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("stop_hits", expr(
        "size(filter(toks, t -> t IN ('the', 'a', 'in', 'of', 'to')))").cast("long"))
      .withColumn("top_tok", expr(
        "array_max(transform(array_distinct(toks), t -> size(filter(toks, x -> x = t))))")
        .cast("long"))
      .withColumn("quality",
        round(least(lit(1.0), length(col("text")).cast("double") / 400.0) * 0.5 +
          expr("size(array_distinct(toks))").cast("double") / col("n_words") * 0.5, 6))
      .join(lm, Seq("doc_id"), "left")
      .withColumn("first_fail",
        when(!col("n_words").between(20L, 5000L), "len")
          .when(col("stop_hits") < 2L, "stop")
          .when(col("quality") < 0.5, "quality")
          .when(col("top_tok").cast("double") / col("n_words") > 0.2, "rep")
          .when(!coalesce(col("r_lm"), lit(true)), "lm")
          .otherwise("pass"))
      .select((Seq("doc_id", "source", "first_fail") ++ carry.map(_._1)).map(col): _*)
  }

  // --------------------------------------------------------------- wiring

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_novelty" -> (noveltyScore _),
    "q_gopher_filter" -> (gopherFilter _),
    "q_vocab_pairs" -> (vocabPairs _),
    "q_bpe_merges" -> (bpeMerges _),
    "q_bpe_encode" -> (bpeEncode _),
    "q_tfidf_top_terms" -> (tfidfTopTerms _),
    "q_lm_rare_trigram" -> (lmRareTrigram _),
    "q_filter_funnel" -> (filterFunnel _),
    "q_udtf_shingles" -> (udtfShingles _),
    "q_repetition_filter" -> (repetitionFilter _),
    "q_pii_redact" -> (piiRedact _),
    "q_training_select" -> (trainingSelect _),
    "q_text_stats" -> (textStats _),
    "q_lang_id" -> (langId _),
    "q_quality_score" -> (qualityScore _),
    "q_quality_gate" -> (qualityGate _),
    "q_fingerprint" -> (fingerprint _),
    "q_winnow_fingerprints" -> (winnowFingerprints _),
    "q_winnow_matches" -> (winnowMatches _),
    "q_winnow_contamination" -> (winnowContamination _),
    "q_winnow_contamination_indexed" -> (winnowContaminationIndexed _),
    "q_winnow_contamination_served" -> (winnowContaminationServed _),
    "q_contamination_spans" -> (contaminationSpans _),
    "q_token_count" -> (tokenCount _),
    "q_heavy_hitters_cms" -> (heavyHittersCms _)
  )

  // the wire delimiter, isolated so no generated line can start with a
  // bare '|' and trip a stripMargin (and initialized BEFORE the oracle
  // builder below — object vals initialize in source order)
  private val PIPE = "|"

  /** Shared by the `q_lm_rare_trigram` and `q_filter_funnel` oracles:
    * trigram positions, corpus counts, per-doc (n_grams, n_rare). */
  private val lmScoredCteSql =
    """toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, unnest(ts) AS w, unnest(range(1, len(ts) + 1)) AS i
      |  FROM toks),
      |tri AS (
      |  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
      |  FROM pos a
      |  JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |  JOIN pos c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
      |cnt AS (SELECT g, COUNT(*) AS c FROM tri GROUP BY g),
      |scored AS (
      |  SELECT tri.doc_id, COUNT(*) AS n_grams,
      |    CAST(SUM(CASE WHEN cnt.c <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
      |  FROM tri JOIN cnt USING (g) GROUP BY tri.doc_id)""".stripMargin

  /** The funnel battery to the per-document verdict `f(doc_id, source,
    * first_fail)` — shared by the `q_filter_funnel` oracle and
    * [[Curation]]'s `q_curation_pipeline` oracle, mirroring the
    * engine-side [[funnelFlags]] sharing. */
  private[operators] val funnelPassCteSql =
    s"""$lmScoredCteSql,
      |lmk AS (
      |  SELECT doc_id, CAST(n_rare AS DOUBLE) / n_grams <= 0.7 AS r_lm
      |  FROM scored),
      |m AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    len(list_filter(string_split(text, ' '),
      |        t -> t IN ('the', 'a', 'in', 'of', 'to'))) AS stop_hits,
      |    list_max(list_transform(list_distinct(string_split(text, ' ')),
      |      t -> len(list_filter(string_split(text, ' '), x -> x = t)))) AS top_tok,
      |    round(least(1.0, CAST(length(text) AS DOUBLE) / 400.0) * 0.5 +
      |      CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |        / len(string_split(text, ' ')) * 0.5, 6) AS quality
      |  FROM documents),
      |f AS (
      |  SELECT m.doc_id, m.source,
      |    CASE WHEN NOT (n_words BETWEEN 20 AND 5000) THEN 'len'
      |         WHEN NOT (stop_hits >= 2) THEN 'stop'
      |         WHEN NOT (quality >= 0.5) THEN 'quality'
      |         WHEN NOT (CAST(top_tok AS DOUBLE) / n_words <= 0.2) THEN 'rep'
      |         WHEN NOT COALESCE(lmk.r_lm, TRUE) THEN 'lm'
      |         ELSE 'pass' END AS first_fail
      |  FROM m LEFT JOIN lmk USING (doc_id))""".stripMargin

  /** Shared by the two winnowing oracles: k=5 gram hashes, w=8
    * rightmost-min window selection, deduped positions exploded. */
  private val winnowCteSql =
    """t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, n,
      |    CASE WHEN n >= 5 THEN
      |      list_transform(range(1, n - 5 + 2), i ->
      |        ('0x' || substr(md5(array_to_string(
      |          list_slice(toks, i, i + 5 - 1), ' ')), 1, 6))::BIGINT)
      |    ELSE [] END AS gh
      |  FROM t),
      |s AS (
      |  SELECT doc_id, gh, len(gh) AS m,
      |    CASE WHEN len(gh) = 0 THEN []
      |    ELSE list_distinct(list_transform(
      |      range(1, greatest(len(gh) - 8 + 1, 1) + 1), j ->
      |        j - 1 + (least(8, len(gh)) + 1 -
      |          list_position(
      |            list_reverse(list_slice(gh, j, j + least(8, len(gh)) - 1)),
      |            list_min(list_slice(gh, j, j + least(8, len(gh)) - 1))))))
      |    END AS sel
      |  FROM g),
      |sel_u AS (SELECT doc_id, gh, unnest(sel) AS u FROM s)""".stripMargin

  /** One oracle, two engine faces: [[winnowContamination]] (scan-side)
    * and [[winnowContaminationIndexed]] (persisted index) must both
    * match it — the index hop is invisible to results by contract. */
  private val winnowContaminationOracle =
    s"""WITH $winnowCteSql,
      |ev AS (SELECT doc_id, gh[u] AS fp, MIN(u) AS first_pos
      |       FROM sel_u WHERE doc_id % 7 = 0 GROUP BY doc_id, gh[u]),
      |tr AS (SELECT doc_id, gh[u] AS fp, MIN(u) AS first_pos
      |       FROM sel_u WHERE doc_id % 7 <> 0 GROUP BY doc_id, gh[u])
      |SELECT ev.doc_id AS eval_id, tr.doc_id AS train_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_shared,
      |  CAST(MIN(ev.first_pos) AS BIGINT) AS eval_first,
      |  CAST(MIN(tr.first_pos) AS BIGINT) AS train_first
      |FROM ev JOIN tr ON ev.fp = tr.fp
      |GROUP BY ev.doc_id, tr.doc_id HAVING COUNT(*) >= 3
      |ORDER BY eval_id, train_id""".stripMargin

  /** The [[bpeMerges]]/[[bpeEncode]] oracle CTE chain, generated (not
    * hand-copied ×5): per round k, `p_k` counts pairs over wire `w_k`,
    * `b_k` is the deterministic argmax, `w_{k+1}` applies the merge.
    * Scalar subqueries stand in for the engine's driver-collected
    * literal; `doc_id` rides the wire frames so the encode query can
    * join the final wire back to the corpus. */
  private def bpeCtes(rounds: Int): String = {
    def pairCtes(k: Int) =
      s"""p$k AS (
         |  SELECT p, COUNT(*) AS n FROM (
         |    SELECT unnest(list_transform(range(1, len(toks)),
         |      i -> toks[i] || ' ' || toks[i + 1])) AS p
         |    FROM (SELECT string_split(trim(w, '$PIPE'), '$PIPE$PIPE') AS toks
         |          FROM w$k) t) u
         |  GROUP BY p),
         |b$k AS (SELECT p, n FROM p$k ORDER BY n DESC, p LIMIT 1)""".stripMargin
    def nextW(k: Int) =
      s"""w${k + 1} AS (
         |  SELECT doc_id, replace(w,
         |    '$PIPE' || replace((SELECT p FROM b$k), ' ', '$PIPE$PIPE') || '$PIPE',
         |    '$PIPE' || replace((SELECT p FROM b$k), ' ', '_') || '$PIPE') AS w
         |  FROM w$k)""".stripMargin
    val chain = (0 until rounds).map(k =>
      pairCtes(k) + ",\n" + nextW(k)).mkString(",\n")
    s"WITH w0 AS (SELECT doc_id, '$PIPE' || replace(text, ' ', '$PIPE$PIPE') ||" +
      s" '$PIPE' AS w FROM documents),\n$chain"
  }

  private val bpeOracleSql: String = {
    val union = (0 until 5).map(k =>
      if (k == 0)
        "SELECT CAST(1 AS BIGINT) AS round, p AS pair, CAST(n AS BIGINT) AS n FROM b0"
      else s"SELECT ${k + 1}, p, n FROM b$k").mkString("\nUNION ALL ")
    s"${bpeCtes(5)}\nSELECT * FROM (\n$union\n) ORDER BY round"
  }

  private val bpeEncodeOracleSql: String =
    s"""${bpeCtes(5)}
       |SELECT d.doc_id,
       |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens_raw,
       |  CAST(len(string_split(trim(w.w, '$PIPE'), '$PIPE$PIPE')) AS BIGINT)
       |    AS n_tokens_bpe,
       |  string_split(trim(w.w, '$PIPE'), '$PIPE$PIPE')[1] AS first_token
       |FROM documents d JOIN w5 w ON d.doc_id = w.doc_id
       |ORDER BY d.doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_novelty" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS gram
        |  FROM t WHERE len(toks) >= 3),
        |w AS (
        |  SELECT doc_id, COUNT(*) OVER (PARTITION BY gram) AS df FROM sh)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
        |    AS novelty
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_gopher_filter" ->
      """WITH t AS (
        |  SELECT source, text, string_split(text, ' ') AS toks FROM documents),
        |m AS (
        |  SELECT source,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(len(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mwl,
        |    len(list_filter(toks, t -> t IN ('the', 'a', 'in', 'of', 'to'))) AS stop_hits,
        |    list_max(list_transform(list_distinct(toks),
        |      t -> len(list_filter(toks, x -> x = t)))) AS top_tok
        |  FROM t),
        |r AS (
        |  SELECT source,
        |    (n_words BETWEEN 20 AND 5000) AS r_len,
        |    (mwl BETWEEN 2.0 AND 10.0) AS r_word,
        |    (stop_hits >= 2) AS r_stop,
        |    (CAST(top_tok AS DOUBLE) / n_words <= 0.2) AS r_rep
        |  FROM m)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN r_len AND r_word AND r_stop AND r_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  CAST(SUM(CASE WHEN NOT r_len THEN 1 ELSE 0 END) AS BIGINT) AS fail_len,
        |  CAST(SUM(CASE WHEN NOT r_word THEN 1 ELSE 0 END) AS BIGINT) AS fail_wordlen,
        |  CAST(SUM(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop,
        |  CAST(SUM(CASE WHEN NOT r_rep THEN 1 ELSE 0 END) AS BIGINT) AS fail_rep
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    // the same 5 merge rounds unrolled: each round's argmax pair is a
    // scalar subquery, merge application is the same leftmost greedy
    // replace over the |tok₁||tok₂| wire form the engine uses
    "q_bpe_merges" -> bpeOracleSql,

    // the same trained merges APPLIED: the final wire joined back to the
    // corpus — token counts and the leading token must agree exactly
    "q_bpe_encode" -> bpeEncodeOracleSql,

    "q_vocab_pairs" ->
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |p AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS pair
        |  FROM t WHERE len(toks) >= 2)
        |SELECT pair, COUNT(*) AS n FROM p
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    "q_tfidf_top_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |cnt AS (
        |  SELECT token, COUNT(*) AS total_cnt, COUNT(DISTINCT doc_id) AS df
        |  FROM tok GROUP BY token),
        |n AS (SELECT COUNT(*) AS nd FROM documents)
        |SELECT token, total_cnt, df,
        |  CAST(total_cnt AS DOUBLE) * nd / df AS tfidf
        |FROM cnt, n
        |ORDER BY tfidf DESC, token LIMIT 20""".stripMargin,

    // docs with < 3 tokens produce no trigram positions and drop out of
    // the aggregation on both sides; `kept` compares the UNROUNDED
    // quotient so the gate and the reported rate can't disagree
    "q_lm_rare_trigram" ->
      s"""WITH $lmScoredCteSql
        |SELECT doc_id, n_grams, n_rare,
        |  round(CAST(n_rare AS DOUBLE) / n_grams, 6) AS rare_rate,
        |  CAST(n_rare AS DOUBLE) / n_grams <= 0.7 AS kept
        |FROM scored ORDER BY doc_id""".stripMargin,

    // the per-stage drop columns + n_survive sum to n_docs by
    // construction (CASE charges each doc exactly once); the lm flag is
    // LEFT-joined and COALESCEd true so a doc with no trigram positions
    // can only be charged to an earlier stage or pass
    "q_filter_funnel" ->
      s"""WITH $funnelPassCteSql
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN first_fail = 'len' THEN 1 ELSE 0 END) AS BIGINT) AS drop_len,
        |  CAST(SUM(CASE WHEN first_fail = 'stop' THEN 1 ELSE 0 END) AS BIGINT) AS drop_stop,
        |  CAST(SUM(CASE WHEN first_fail = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS drop_quality,
        |  CAST(SUM(CASE WHEN first_fail = 'rep' THEN 1 ELSE 0 END) AS BIGINT) AS drop_rep,
        |  CAST(SUM(CASE WHEN first_fail = 'lm' THEN 1 ELSE 0 END) AS BIGINT) AS drop_lm,
        |  CAST(SUM(CASE WHEN first_fail = 'pass' THEN 1 ELSE 0 END) AS BIGINT) AS n_survive
        |FROM f GROUP BY source ORDER BY source""".stripMargin,

    // docs shorter than 4 chars produce no rows and drop out of the
    // aggregation on both sides
    "q_udtf_shingles" ->
      """WITH g AS (
        |  SELECT doc_id, i AS pos, substr(text, i, 4) AS shingle
        |  FROM documents, LATERAL (SELECT unnest(range(1, len(text) - 2)) AS i)
        |  WHERE len(text) >= 4)
        |SELECT doc_id, COUNT(*) AS n_shingles,
        |  COUNT(DISTINCT shingle) AS n_distinct,
        |  MIN(shingle) AS first_shingle,
        |  CAST(MAX(pos) AS BIGINT) AS last_pos
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_repetition_filter" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(ts) >= 2
        |      THEN list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])
        |      ELSE [] END) AS gram
        |  FROM t),
        |c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
        |a AS (SELECT doc_id, MAX(cnt) AS top2, SUM(cnt) AS tot2 FROM c GROUP BY 1),
        |w AS (
        |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct
        |  FROM t)
        |SELECT w.doc_id, n_tokens, n_distinct,
        |  CAST(top2 AS BIGINT) AS top2, CAST(tot2 AS BIGINT) AS tot2,
        |  (top2 * 100 <= tot2 * 6 AND
        |   (n_tokens - n_distinct) * 100 <= n_tokens * 65) AS keep
        |FROM w JOIN a ON w.doc_id = a.doc_id
        |ORDER BY w.doc_id""".stripMargin,

    "q_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 3 = 0
        |       THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example'
        |       ELSE '' END) ||
        |    (CASE WHEN doc_id % 3 = 1
        |       THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |       ELSE '' END) AS pii_text
        |  FROM documents)
        |SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(pii_text, '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
        |    '555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5,
        |  CAST(len(regexp_extract_all(pii_text, '[a-z0-9._]+@[a-z0-9.-]+')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(pii_text, '555-[0-9]{4}')) AS BIGINT) AS n_phones
        |FROM p ORDER BY doc_id""".stripMargin,

    "q_training_select" ->
      """WITH t AS (
        |  SELECT doc_id, text, md5(text) AS fp,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS ttr,
        |    CAST(len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS en_ratio
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, fp, en_ratio,
        |    least(1.0, CAST(length(text) AS DOUBLE) / 400.0) * 0.5 + ttr * 0.5 AS quality
        |  FROM t),
        |k AS (
        |  SELECT doc_id, en_ratio, quality,
        |    MIN(doc_id) OVER (PARTITION BY fp) AS keep
        |  FROM q)
        |SELECT doc_id, quality, en_ratio
        |FROM k WHERE doc_id = keep AND quality >= 0.5 AND en_ratio >= 0.05
        |ORDER BY doc_id""".stripMargin,

    "q_text_stats" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) AS ttr,
        |  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      """SELECT doc_id, lang,
        |  CAST(en_hits AS BIGINT) AS en_hits,
        |  CAST(en_hits AS DOUBLE) / n_tokens AS en_ratio,
        |  CASE WHEN CAST(en_hits AS DOUBLE) / n_tokens >= 0.05 THEN 'en' ELSE 'unk' END AS predicted_lang,
        |  (CASE WHEN CAST(en_hits AS DOUBLE) / n_tokens >= 0.05 THEN 'en' ELSE 'unk' END) = lang AS label_agrees
        |FROM (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a')) AS en_hits,
        |    len(string_split(text, ' ')) AS n_tokens
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // the sketch only prunes; the exact count/HAVING decides, so the
    // oracle is the plain heavy-hitter SQL
    "q_heavy_hitters_cms" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |thr AS (SELECT COUNT(*) // 50 AS t FROM tok)
        |SELECT token, COUNT(*) AS n
        |FROM tok GROUP BY token
        |HAVING COUNT(*) >= (SELECT t FROM thr)
        |ORDER BY token""".stripMargin,

    "q_quality_gate" ->
      """WITH q AS (
        |  SELECT doc_id, source,
        |    round(least(1.0, CAST(length(text) AS DOUBLE) / 400.0) * 0.5 +
        |      CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |        / len(string_split(text, ' ')) * 0.5, 6) AS quality
        |  FROM documents),
        |r AS (
        |  SELECT source, quality,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality, doc_id) AS qrn,
        |    COUNT(*) OVER (PARTITION BY source) AS qn
        |  FROM q),
        |t AS (
        |  SELECT source, quality AS p25 FROM r
        |  WHERE qrn = CAST(ceil(qn * 0.25) AS BIGINT))
        |SELECT q.source, t.p25, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN q.quality >= t.p25 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN q.quality >= t.p25
        |    THEN CAST(q.quality AS DECIMAL(12,6)) END) AS DOUBLE)
        |    / SUM(CASE WHEN q.quality >= t.p25 THEN 1 ELSE 0 END) AS kept_quality_mean
        |FROM q JOIN t ON q.source = t.source
        |GROUP BY q.source, t.p25
        |ORDER BY q.source""".stripMargin,

    "q_quality_score" ->
      """SELECT doc_id,
        |  least(1.0, CAST(length(text) AS DOUBLE) / 400.0) AS len_score,
        |  ttr,
        |  least(1.0, CAST(length(text) AS DOUBLE) / 400.0) * 0.5 + ttr * 0.5 AS quality
        |FROM (
        |  SELECT doc_id, text,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) AS ttr
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id,
        |  md5(text) AS fp_exact,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp_bow
        |FROM documents ORDER BY doc_id""".stripMargin,

    // same k=5 gram hashes, w=8 rightmost-min window selection; DuckDB
    // list_slice takes an END index where Spark slice takes a LENGTH,
    // and both clamp past the list end
    "q_winnow_fingerprints" ->
      s"""WITH $winnowCteSql
        |SELECT doc_id, CAST(u AS BIGINT) AS pos, gh[u] AS fp
        |FROM sel_u ORDER BY doc_id, pos""".stripMargin,

    "q_winnow_matches" ->
      s"""WITH $winnowCteSql,
        |d AS (SELECT DISTINCT doc_id, gh[u] AS fp FROM sel_u)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM d a JOIN d b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 3
        |ORDER BY d1, d2""".stripMargin,

    // eval side = doc_id % 7 = 0 (winnow.evalMod default — wider than
    // the %97 contamination split so the fixture yields real pairs);
    // first_pos = min selected 1-based gram index per (doc, fp)
    "q_winnow_contamination" -> winnowContaminationOracle,

    // the persisted-index hop must be invisible: same oracle exactly
    "q_winnow_contamination_indexed" -> winnowContaminationOracle,
    "q_winnow_contamination_served" -> winnowContaminationOracle,

    // exact maximal shared runs for flagged pairs via the diagonal
    // gaps-and-islands grouping; 0-based token offsets; zipped unnest
    // gives DuckDB the (tok, pos) stream posexplode gives Spark
    "q_contamination_spans" ->
      s"""WITH $winnowCteSql,
        |ev AS (SELECT doc_id, gh[u] AS fp FROM sel_u
        |       WHERE doc_id % 7 = 0 GROUP BY doc_id, gh[u]),
        |tr AS (SELECT doc_id, gh[u] AS fp FROM sel_u
        |       WHERE doc_id % 7 <> 0 GROUP BY doc_id, gh[u]),
        |pairs AS (SELECT ev.doc_id AS eval_id, tr.doc_id AS train_id
        |          FROM ev JOIN tr ON ev.fp = tr.fp
        |          GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |ev_t AS (SELECT doc_id AS eval_id, unnest(toks) AS tok,
        |         unnest(range(0, n)) AS i FROM t WHERE doc_id % 7 = 0),
        |tr_t AS (SELECT doc_id AS train_id, unnest(toks) AS tok,
        |         unnest(range(0, n)) AS j FROM t WHERE doc_id % 7 <> 0),
        |m AS (SELECT p.eval_id, p.train_id, e.i, tt.j
        |      FROM pairs p JOIN ev_t e ON e.eval_id = p.eval_id
        |      JOIN tr_t tt ON tt.train_id = p.train_id AND tt.tok = e.tok),
        |runs AS (SELECT eval_id, train_id, i - j AS diag, i, j,
        |         ROW_NUMBER() OVER (PARTITION BY eval_id, train_id, i - j
        |                            ORDER BY i) AS rn FROM m)
        |SELECT eval_id, train_id,
        |  CAST(MIN(i) AS BIGINT) AS eval_start,
        |  CAST(MIN(j) AS BIGINT) AS train_start,
        |  CAST(COUNT(*) AS BIGINT) AS run_len
        |FROM runs GROUP BY eval_id, train_id, diag, i - rn
        |HAVING COUNT(*) >= 12
        |ORDER BY eval_id, train_id, eval_start, train_start""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_word_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT) AS n_bpeish_pieces
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
