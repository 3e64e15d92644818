package graft.operators

import graft.CacheScope
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-curation operators that COMPOSE the engine's primitives into
  * the decisions a training-data pipeline actually ships: which docs to
  * keep (quality-weighted sampling), which near-duplicate to keep
  * (cluster representative selection), and how to keep eval data out of
  * the training set when the eval gram set outgrows a broadcast hash
  * join (Bloom-pruned contamination). All three stay oracle-exact — the
  * sampling gates are md5-prefix integer comparisons and the Bloom pass
  * is a PRE-filter whose false positives are removed by an exact join.
  */
object Curation {

  private def confDouble(s: SparkSession, key: String, dflt: Double): Double =
    graft.GraftConf.double(s, key, dflt)

  private def confLong(s: SparkSession, key: String, dflt: Long): Long =
    graft.GraftConf.long(s, key, dflt)

  /** quality ∈ (0,1]: the same 6-dp-rounded length+TTR score the quality
    * gate uses ([[TextAnalysis.qualityGate]]) — one definition of
    * "quality" across the curation surface. */
  private def withQuality(df: DataFrame): DataFrame = df
    .withColumn("ttr",
      expr("size(array_distinct(split(text, ' ')))").cast("double") /
        expr("size(split(text, ' '))"))
    .withColumn("quality",
      round(least(lit(1.0), length(col("text")).cast("double") / 400.0) * 0.5 +
        col("ttr") * 0.5, 6))

  /** Quality-WEIGHTED deterministic sampling (the DCLM/FineWeb move):
    * instead of a hard quality cutoff, each doc's acceptance rate is
    * proportional to its quality — `rate = min(1, quality · factor)` —
    * so mid-quality docs thin out gradually rather than vanishing at a
    * boundary. Membership is the md5-prefix hash gate (partition-
    * invariant, re-ingest-stable, same 52-bit fixed-width HEX boundary
    * as [[Corpus.mixSources]] so both engines decide from the identical
    * integer). `factor` defaults to 1.25 (exactly representable, so
    * `quality · factor` is one identical IEEE multiply in both engines).
    *
    * Scale shape: the decision is a per-row expression on the scan — no
    * shuffle, no threshold table, nothing broadcast; only the per-source
    * summary exchanges, over |sources| groups. */
  def sampleWeighted(s: SparkSession, d: String): DataFrame = {
    val factor = confDouble(s, "spark.graft.curation.weightFactor", 1.25)
    require(factor > 0, "weightFactor must be positive")
    withQuality(documents(s, d))
      .withColumn("rate", least(lit(1.0), col("quality") * lit(factor)))
      .withColumn("kept", col("rate") >= 1.0 ||
        substring(md5(col("doc_id").cast("string")), 1, 13) <
          lpad(lower(hex(
            floor(col("rate") * lit(4503599627370496.0)).cast("long"))), 13, "0"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        (sum(when(col("kept"), col("quality").cast(DecimalType(12, 6))))
          .cast("double") /
          sum(when(col("kept"), 1L).otherwise(0L))).as("kept_quality_mean"))
      .select(col("source"), col("n_docs"),
        col("n_kept").cast("long").as("n_kept"), col("kept_quality_mean"))
      .orderBy(col("source"))
  }

  /** Token-budget corpus selection: keep the highest-quality documents
    * until a token budget fills — the "we can afford B training tokens,
    * which docs make the cut?" decision. Greedy rule: in (quality DESC,
    * doc_id) order, a doc is kept iff the token sum of everything BEFORE
    * it is `< budget` (same don't-split-documents prefix rule as
    * [[Corpus.seqPack]]; the budget overshoots by at most one doc).
    *
    * Scale shape — the reason this operator exists: the naive form is a
    * window over one GLOBAL order, which serializes the corpus through a
    * single partition. Instead, a two-phase distributed prefix sum:
    * (1) coarse-bucket docs by `floor(quality·256)` and aggregate token
    * sums per bucket (≤257 rows — the only whole-frame window runs over
    * THIS, for free); (2) broadcast the bucket prefix table back: buckets
    * wholly under budget keep every doc map-side (no shuffle, no window),
    * buckets wholly past it drop map-side, and only the one STRADDLE
    * bucket — ~1/256 of the corpus — pays an exact within-bucket window,
    * partitioned per bucket so even that parallelizes. Token sums are
    * longs throughout, so the two-phase split is bit-exact against the
    * oracle's single global window. */
  def tokenBudget(s: SparkSession, d: String): DataFrame = {
    val budget = confLong(s, "spark.graft.curation.tokenBudget", 2000L)
    tokenBudgetFrom(
      withQuality(documents(s, d))
        .select(col("doc_id"), col("quality"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
      budget)
  }

  /** Frame core behind [[tokenBudget]]: any `(doc_id, quality,
    * n_tokens)` frame — the unit the property suite drives with
    * adversarial qualities (bucket-edge values, mass ties) and
    * boundary-exact budgets. */
  private[graft] def tokenBudgetFrom(docsIn: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, "tokenBudget must be positive")
    val docs = CacheScope.track(
      docsIn
        .withColumn("bucket", floor(col("quality") * 256).cast("int"))
        .persist())
    // quality is monotone in bucket, so bucket-DESC prefix sums agree
    // with the global (quality DESC, doc_id) prefix restricted to whole
    // buckets; ≤257 rows flow through the whole-frame window.
    val buckets = docs.groupBy(col("bucket"))
      .agg(sum(col("n_tokens")).as("btok"))
      .withColumn("before_b", coalesce(
        sum(col("btok")).over(Window.orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val tagged = docs.join(broadcast(buckets), "bucket")
    val fullKeep = tagged.filter(col("before_b") + col("btok") <= budget)
    val straddle = tagged
      .filter(col("before_b") < budget && col("before_b") + col("btok") > budget)
      .withColumn("cum", sum(col("n_tokens")).over(
        Window.partitionBy(col("bucket"))
          .orderBy(col("quality").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("before_b") + col("cum") - col("n_tokens") < budget)
    fullKeep.select(col("doc_id"), col("quality"), col("n_tokens"))
      .unionByName(straddle.select(col("doc_id"), col("quality"), col("n_tokens")))
      .orderBy(col("doc_id"))
  }

  /** Per-domain token cap (the FineWeb/Dolma over-represented-domain
    * guard): every source keeps at most `capTokens` tokens, the docs
    * chosen hash-deterministically — in md5(doc_id) order, keep while
    * the source's token prefix is under the cap. Hash order makes the
    * cut a pure function of the ids: re-ingests, engine swaps, and
    * incremental appends keep the same docs (appends can only ADD docs
    * whose hash lands before the boundary — no reshuffling churn).
    *
    * Scale shape: the same two-phase distributed prefix sum as
    * [[tokenBudget]], per group — bucket by the hash's first byte
    * (256 buckets/source, consistent with the hash order by
    * construction), prefix the |sources|·256-row bucket table with a
    * window PARTITIONED by source (parallel across sources, 256 rows
    * each — never a corpus-sized order), and only each source's one
    * straddle bucket (~1/256 of it) pays an exact window. A source
    * whose whole bucket run is under the cap never shuffles at all. */
  def domainCap(s: SparkSession, d: String): DataFrame = {
    val cap = confLong(s, "spark.graft.curation.domainCapTokens", 300L)
    domainCapFrom(
      documents(s, d).select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")),
      cap)
  }

  /** Frame core behind [[domainCap]]: any `(source, doc_id, n_tokens)`
    * frame; the hash and its bucket derive from doc_id here so callers
    * can't desynchronize the order key from the bucket key. */
  private[graft] def domainCapFrom(docsIn: DataFrame, cap: Long): DataFrame = {
    require(cap > 0, "domainCapTokens must be positive")
    val docs = CacheScope.track(
      docsIn
        .withColumn("h", md5(col("doc_id").cast("string")))
        .withColumn("hb", substring(col("h"), 1, 2))
        .persist())
    val buckets = docs.groupBy(col("source"), col("hb"))
      .agg(sum(col("n_tokens")).as("btok"))
      .withColumn("before_b", coalesce(
        sum(col("btok")).over(Window.partitionBy(col("source"))
          .orderBy(col("hb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val tagged = docs.join(buckets, Seq("source", "hb"))
    val fullKeep = tagged.filter(col("before_b") + col("btok") <= cap)
    val straddle = tagged
      .filter(col("before_b") < cap && col("before_b") + col("btok") > cap)
      .withColumn("cum", sum(col("n_tokens")).over(
        Window.partitionBy(col("source"), col("hb"))
          .orderBy(col("h"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("before_b") + col("cum") - col("n_tokens") < cap)
    fullKeep.select(col("source"), col("doc_id"), col("n_tokens"))
      .unionByName(straddle.select(col("source"), col("doc_id"), col("n_tokens")))
      .orderBy(col("source"), col("doc_id"))
  }

  /** Near-dup cluster REPRESENTATIVE selection: dedup that keeps the
    * best member, not an arbitrary one. [[Dedup.dedupClusters]] already
    * labels connected components; this picks each cluster's highest-
    * quality doc (ties: smallest doc_id — fully deterministic) as the
    * survivor, the step that turns "here are the duplicate groups" into
    * "here is the kept corpus".
    *
    * Scale shape: the cluster table is pair-derived (orders of magnitude
    * smaller than the corpus); the quality join keys on doc_id and the
    * per-cluster argmax is one window over cluster-sized groups. The
    * corpus itself is scanned once for quality and never shuffled whole.
    * With `spark.graft.dedup.shareClusters=true` the cluster table is
    * reused from the snapshot [[Dedup.dedupClusters]] published instead
    * of re-running the whole MinHash→CC pipeline — the marginal cost of
    * representative selection then is one join plus one window. */
  def dedupRepresentative(s: SparkSession, d: String): DataFrame = {
    val clusters = Dedup.sharedClusters(s, d)
      .getOrElse(Dedup.dedupClusters(s, d))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    val q = withQuality(graft.Tables.widen(documents(s, d))).select(col("doc_id"), col("quality"))
    clusters.join(q, "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("quality").desc, col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("rep_doc"),
        col("quality").as("rep_quality"), col("cluster_size"),
        (col("cluster_size") - 1).cast("long").as("n_dropped"))
      .orderBy(col("cluster_id"))
  }

  /** Bloom-pruned eval-contamination join. [[Corpus.contamination]]
    * broadcasts the eval gram SET — right until the eval suite grows
    * past broadcast size. This variant broadcasts a BLOOM SKETCH of the
    * eval grams instead (bits, not rows — a scalar subquery computed
    * once, the same shape Spark's own runtime-filter injection plants),
    * drops ~all clean training grams at the scan, and then verifies the
    * survivors with an exact join, so Bloom false positives never reach
    * the result: output is bit-identical to the exact operator and
    * shares its oracle.
    *
    * Scale shape at 100 TB: the training side streams through a
    * codegen'd `might_contain` predicate (no shuffle, no broadcast hash
    * table of the full gram set); only Bloom survivors — contamination-
    * sized, not corpus-sized — reach the verify join. Here the verify
    * side still broadcasts; at real scale flip it to shuffle and the
    * sketch pruning is what keeps the shuffled train side tiny. */
  def contaminationBloom(s: SparkSession, d: String): DataFrame = {
    graft.functions.BloomFunctions.register(s)
    val gw = 3
    def grams(df: DataFrame, idAs: String) = df
      .select(col("doc_id").as(idAs), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= gw)
      .select(col(idAs), explode(
        expr(s"transform(sequence(1, size(toks) - ${gw - 1}), i -> md5(array_join(slice(toks, i, $gw), ' ')))"))
        .as("g"))
      .distinct()
    val docs = graft.Tables.widen(documents(s, d))
    grams(docs.filter(col("doc_id") % 97 === 0), "eval_doc")
      .createOrReplaceTempView("graft_contam_eval_g")
    grams(docs.filter(col("doc_id") % 97 =!= 0), "train_doc")
      .createOrReplaceTempView("graft_contam_train_g")
    s.sql(
      """SELECT /*+ BROADCAST(e) */ t.train_doc, e.eval_doc,
        |  COUNT(*) AS n_shared_grams
        |FROM (SELECT train_doc, g FROM graft_contam_train_g
        |      WHERE graft_might_contain(
        |        (SELECT graft_bloom_agg(xxhash64(g), 100000L, 800000L)
        |         FROM graft_contam_eval_g),
        |        xxhash64(g))) t
        |JOIN graft_contam_eval_g e ON t.g = e.g
        |GROUP BY t.train_doc, e.eval_doc
        |ORDER BY t.train_doc, e.eval_doc""".stripMargin)
  }

  /** Corpus snapshot diff — the dataset-versioning primitive: what
    * changed between corpus v1 and v2, per source? The comparison joins
    * doc ids and compares md5 FINGERPRINTS, never text — at 100 TB the
    * diff moves fixed-width hashes through one full-outer join and a
    * |sources×4|-group agg while the corpus bytes stay put. (v2 here is
    * derived deterministically from the same snapshot — docs `%7==0`
    * deleted, `%11==0` edited, `%13==0` cloned under a shifted id — so
    * the oracle can replay it; a real pipeline feeds two real
    * snapshots through the identical plan.) */
  def corpusDiff(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d) // diff joins md5 fingerprints: widen inside v-frames below
    val b = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          col("source"), col("text")))
    corpusDiff(docs, b)
  }

  /** The real two-snapshot entry point: diff ANY two corpus frames with
    * `(doc_id, source, text)` columns. The catalog query above delegates
    * here with its oracle-replayable derived v2; a pipeline passes two
    * actual snapshot reads. Only md5 fingerprints cross the join. */
  def corpusDiff(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(col("doc_id"), col("source").as("src_a"),
      md5(col("text")).as("fp_a"))
    val b = v2.select(col("doc_id"), col("source").as("src_b"),
      md5(col("text")).as("fp_b"))
    a.join(b, Seq("doc_id"), "full")
      .select(coalesce(col("src_a"), col("src_b")).as("source"),
        when(col("fp_a").isNull, "added")
          .when(col("fp_b").isNull, "removed")
          .when(col("fp_a") =!= col("fp_b"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("source"), col("status"))
  }

  /** Deterministic EPOCH SHUFFLE — training-order randomization as a
    * pure function of (seed, doc_id): each epoch re-keys the corpus by
    * `md5(seed || ':' || doc_id)` and shards on the hash. No RNG state,
    * no global sort, partition-count invariant: re-running the same seed
    * reproduces the exact assignment on any cluster, and the next epoch
    * is just the next seed. At 100 TB the physical form is one hash
    * exchange into shard files (`sortWithinPartitions(h)` at write time
    * gives the in-shard read order); there is nothing sequential anywhere.
    * The catalog query audits epoch "ep1" into 8 shards — per-shard doc
    * count, source spread, id checksum, hash range — which the oracle
    * replays bit-for-bit (md5 is md5 everywhere; the shard is the first
    * hash nibble halved, so no base conversion ambiguity). The seeded
    * general form is [[epochShuffleAssign]]. */
  def epochShuffle(s: SparkSession, d: String): DataFrame =
    epochShuffleAssign(documents(s, d), "ep1")
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("doc_id")).as("id_sum"),
        min(col("h")).as("h_min"),
        max(col("h")).as("h_max"))
      .orderBy(col("shard"))

  /** Seeded shard assignment over any frame with a `doc_id` column:
    * adds the epoch hash `h` and an 8-way `shard`. The shard is the
    * first hex nibble of the hash halved — uniform, engine-portable,
    * and cheap (no 52-bit conv needed for a fixed fan-out; widen via
    * `pmod(conv(substring(h,1,13),16,10), n)` if a run needs n ≠ 8). */
  private[graft] def epochShuffleAssign(docs: DataFrame, seed: String): DataFrame =
    docs.withColumn("h",
        md5(concat(lit(seed), lit(":"), col("doc_id").cast("string"))))
      .withColumn("shard",
        expr("CAST(CAST(conv(substring(h, 1, 1), 16, 10) AS INT) div 2 AS INT)"))

  /** EXECUTE the epoch-shuffle write [[epochShuffle]]'s scaladoc
    * promises: one hash exchange into per-shard directories, rows sorted
    * by the epoch hash within each shard file (the in-shard read order a
    * trainer consumes). `repartition(col("shard"))` routes every row of
    * a shard to one task, so each `shard=K/` directory holds exactly one
    * file — CurationSpec audits the 8 files and the in-file `h` order,
    * the same executed-proof discipline as `compactFiles`/`boxScanRows`. */
  private[graft] def writeEpochShards(docs: DataFrame, seed: String,
      path: String): Unit =
    epochShuffleAssign(docs, seed)
      .repartition(col("shard"))
      // shard leads the sort so FileFormatWriter's required
      // partition-column ordering is already satisfied — otherwise it
      // injects its own (unstable) sort on `shard` and scrambles `h`
      .sortWithinPartitions(col("shard"), col("h"))
      .write.partitionBy("shard").mode("overwrite").parquet(path)

  /** Catalog proof of the executed epoch write: shard the corpus to
    * disk, read the FILES back, and report the same per-shard audit as
    * [[epochShuffle]] — the oracle (which replays the assignment from
    * the original table) gates that the physical write moved every row
    * to its assigned shard and lost/duplicated nothing. */
  def epochWrite(s: SparkSession, d: String): DataFrame = {
    val out = graft.TempDirs.freshUnder("graft_epoch_",
      graft.TempDirs.sessionKey(s, d), "ep1").toString
    writeEpochShards(documents(s, d), "ep1", out)
    s.read.parquet(out)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("doc_id")).as("id_sum"),
        min(col("h")).as("h_min"),
        max(col("h")).as("h_max"))
      .orderBy(col("shard"))
  }

  /** Per-source quality CALIBRATION — map every doc's quality score to
    * its percent-rank WITHIN its source, so one keep-threshold means the
    * same thing for every source. Raw quality scores are not comparable
    * across sources (a web crawl's median differs from curated text);
    * thresholding the raw score over- or under-selects whole sources,
    * while thresholding the within-source quantile keeps the same
    * FRACTION of every source — the mixture-preserving cut a curation
    * pipeline actually wants (keep-fraction conf
    * `spark.graft.curation.calibrateKeep`, default top half).
    *
    * Scale shape — the reason this is not one `percent_rank()` window:
    * a per-source window sorts each source in ONE partition, and at
    * 100 TB a dominant source serializes the job. Same two-phase
    * distributed-rank trick as [[tokenBudgetFrom]]: quality is monotone
    * in `floor(quality·256)`, so a ≤257-row-per-source bucket table
    * (broadcast) carries the strictly-below-bucket counts, and each doc
    * pays only a row_number window partitioned by (source, bucket) —
    * parallel across 256·|sources| slices, bit-exact against the
    * oracle's single percent_rank window. */
  def qualityCalibrate(s: SparkSession, d: String): DataFrame =
    qualityCalibrateAt(s, d,
      confDouble(s, "spark.graft.curation.calibrateKeep", 0.5))

  /** Catalog entry: keep-threshold PINNED to the oracle's literal 0.5.
    * The conf-driven [[qualityCalibrate]] stays the library entry point,
    * but the oracle SQL hardcodes `>= 0.5`, so the correctness-checked
    * query must not drift with `spark.graft.curation.calibrateKeep` —
    * a non-default conf would silently diverge on `kept`. */
  def qualityCalibrateOracle(s: SparkSession, d: String): DataFrame =
    qualityCalibrateAt(s, d, 0.5)

  private def qualityCalibrateAt(
      s: SparkSession, d: String, cut: Double): DataFrame = {
    val docs = withQuality(documents(s, d))
      .select(col("doc_id"), col("source"), col("quality"))
      .withColumn("bucket", floor(col("quality") * 256).cast("int"))
    val buckets = docs.groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("bn"))
      .withColumn("below_b", coalesce(
        sum(col("bn")).over(Window.partitionBy(col("source"))
          .orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_src",
        sum(col("bn")).over(Window.partitionBy(col("source"))))
    docs.join(broadcast(buckets), Seq("source", "bucket"))
      .withColumn("rk", col("below_b") + row_number().over(
        Window.partitionBy(col("source"), col("bucket"))
          .orderBy(col("quality"), col("doc_id"))))
      .withColumn("pr",
        when(col("n_src") === 1, lit(0.0)).otherwise(
          (col("rk") - 1).cast("double") / (col("n_src") - 1)))
      .select(col("doc_id"), col("source"), col("quality"), col("pr"),
        (col("pr") >= cut).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** DSIR-style importance weights for TARGET-DOMAIN matching (Xie et
    * al. 2023, "Data Selection for Language Models via Importance
    * Resampling"): hash every token into one of 256 feature buckets,
    * estimate the target (here: sources src1–src3, the stand-in for
    * "looks like Wikipedia") and raw feature distributions, and score
    * each document by how much its features look drawn from the target.
    * The published method sums log(p/q) per feature and resamples with
    * Gumbel noise; this engine keeps the SAME two-distribution ratio
    * signal in exact fixed-point — per-bucket weight
    * `(1e6·(tc+1)) DIV (rc+1)` (add-one smoothed, floor-divided — no
    * float anywhere) summed per doc as a BIGINT — so the score is
    * bit-reproducible and oracle-checkable, and a deterministic
    * rank-by-weight replaces the noisy resample. `avg_weight_q6` (the
    * per-token mean, length-debiased) is the selection key a real run
    * thresholds.
    *
    * Scale shape: pass 1 is the shared vocabulary aggregation
    * ([[vocabOf]]), whose ratio table reaches the driver in one
    * ≤257-row collect (256 DSIR bucket rows plus the empty token). Pass
    * 2 is one narrow per-row projection reading that table as a
    * 256-element literal array — no explode, no join, no exchange. */
  def dsirWeights(s: SparkSession, d: String): DataFrame =
    dsirWeightsWithSource(s, d).drop("source").orderBy(col("doc_id"))

  /** The per-bucket q6 ratio over `tc`/`rc` count columns, shared with
    * the overflow property suite. DECIMAL numerator: in pure Long
    * `1e6·(tc+1)` wrapped silently at tc ≥ 9.2e12 — a ~10 PB bucket,
    * but a cliff with no guard; in decimal the product is exact and the
    * post-DIV quotient fits Long trivially (tc ≤ rc per bucket by
    * construction, so r_q6 ≤ 1e6, and the per-doc SUM of r_q6 is
    * ≤ 1e6·n_tokens — inside Long for any document under ~9e12
    * tokens). */
  private[graft] def dsirRatioQ6Expr =
    expr("(cast(1000000 as decimal(20,0)) * (tc + 1)) DIV (rc + 1)")

  /** DSIR's feature bucket of one lowercased token. */
  private def dsirBucket(w: Column): Column =
    conv(substring(md5(w), 1, 6), 16, 10).cast("long") % 256

  private case class Vocab(counts: DataFrame, pt: Long, nt: Long, ratioQ6: Array[Long])

  /** The corpus vocabulary, counted ONCE for the classifier and DSIR:
    * `counts(token, tot, pc, nc)` over the raw `split(text, ' ')` stream
    * (persisted: the vote takes re-read it), then one ≤257-row collect
    * of the class totals `(pt, nt)` and DSIR's `ratioQ6`. DSIR's
    * `split(lower(text), ' ')` stream is the raw stream mapped through
    * `lower` (lowercasing never makes or removes a space, and a space
    * ends every case context, word-final Σ included), so `rc(b) = Σ tot`
    * and `tc(b) = Σ pc` over the tokens whose non-empty `lower(token)`
    * hashes to b — exact integers. The empty token feeds only the
    * totals (null group). */
  private def vocabOf(docs: DataFrame): Vocab = {
    val counts = CacheScope.track(docs
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tot"), sum(when(col("source").isin("src1", "src2", "src3"), 1L)
        .otherwise(0L)).as("pc"))
      .withColumn("nc", col("tot") - col("pc"))
      .persist())
    val low = lower(col("token"))
    val rows = counts
      .groupBy(when(low =!= "", dsirBucket(low)).as("b"))
      .agg(sum(col("tot")).as("rc"), sum(col("pc")).as("tc"))
      .select(col("b"), col("rc"), col("tc"), dsirRatioQ6Expr.as("r_q6"))
      .collect()
    val ratioQ6 = new Array[Long](256)
    rows.filterNot(_.isNullAt(0)).foreach(r => ratioQ6(r.getLong(0).toInt) = r.getLong(3))
    Vocab(counts, rows.map(_.getLong(2)).sum,
      rows.map(r => r.getLong(1) - r.getLong(2)).sum, ratioQ6)
  }

  /** Per-row DSIR columns `n_tokens` and `weight` over `text`. */
  private def dsirCols(ratioQ6: Array[Long]): Seq[(String, Column)] = {
    val ws = filter(split(lower(col("text")), " "), _ =!= "")
    val r = typedLit(ratioQ6.toSeq)
    Seq("n_tokens" -> size(ws).cast("long"),
      "weight" -> aggregate(ws, lit(0L),
        (acc, w) => acc + element_at(r, dsirBucket(w).cast("int") + 1)))
  }

  /** Length-debiased weight; null for a doc with no non-empty token. */
  private def avgWeightQ6 = when(col("n_tokens") > 0, expr("weight DIV n_tokens"))

  /** [[dsirWeights]] core, keeping `source` for [[dsirSelect]]; a doc
    * whose lowercased tokens are all empty has no row. */
  private def dsirWeightsWithSource(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    graft.Tables.widen(docs)
      .withColumns(dsirCols(vocabOf(docs).ratioQ6).toMap)
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("weight"),
        avgWeightQ6.as("avg_weight_q6"))
  }

  /** DSIR SELECTION — the resampling half: keep the global top
    * ceil(n/4) documents by `avg_weight_q6` (ties on doc_id), report
    * per-source doc and kept counts. The report IS the method's
    * diagnostic: target-matched sources (src1–src3) should be enriched
    * well past 25%, the rest starved — domain shift made visible per
    * domain, which is what an operator watches before committing a mix.
    * Scale shape: [[dsirSelectFrom]]. */
  def dsirSelect(s: SparkSession, d: String): DataFrame =
    dsirSelectFrom(dsirWeightsWithSource(s, d))

  /** Frame core behind [[dsirSelect]]: any `(doc_id, source,
    * avg_weight_q6)` frame — the unit the property suite drives with
    * adversarial weights (all-tied mass in one straddle bucket,
    * bucket-boundary values, quota edges at tiny n).
    *
    * Scale shape: the naive form is `row_number()` over one GLOBAL
    * order. Instead coarse-bucket by `avg_weight_q6 DIV 1024` and
    * collect the bucket counts — ≤978 weight buckets for DSIR weights
    * (`avg_weight_q6` ≤ 1e6 as tc ≤ rc). The driver sets the quota and
    * decides per bucket: wholly inside keeps map-side, wholly outside
    * drops map-side, and only the straddle bucket pays a `row_number`
    * window. No global window, no join back to the docs. `DIV`
    * truncates toward zero, still monotone non-decreasing in the
    * weight, so the bucket-DESC prefix agrees with the global (weight
    * DESC, doc_id) order for ANY integer weights, negatives included. */
  private[graft] def dsirSelectFrom(weights: DataFrame): DataFrame =
    dsirKeep(weights.select(col("doc_id"), col("source"), col("avg_weight_q6")), lit(true))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("source"))

  /** `rows` plus `kept`: the top ceil(n/4) of the `pool` rows by
    * (avg_weight_q6 DESC, doc_id). Persisted: the bucket collect and the
    * returned plan both read it. */
  private def dsirKeep(rows: DataFrame, pool: Column): DataFrame = {
    val docs = CacheScope.track(rows.withColumn("in_pool", pool)
      .withColumn("bucket", expr("avg_weight_q6 DIV 1024")).persist())
    val buckets = docs.filter(col("in_pool")).groupBy(col("bucket")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._1)
    val quota = (buckets.map(_._2).sum + 3) / 4
    val before = buckets.scanLeft(0L)(_ + _._2)
    // the first bucket (weight-descending) the quota cannot hold whole:
    // every bucket above it is kept, its top `need` docs, nothing below
    val (cut, need) = buckets.indices.find(i => before(i) + buckets(i)._2 > quota)
      .map(i => (buckets(i)._1, quota - before(i))).getOrElse((Long.MinValue, 0L))
    val above = docs.withColumn("kept", col("in_pool") && col("bucket") > cut)
    val inCut = col("in_pool") && col("bucket") === cut
    if (need == 0) above
    else above.filter(!inCut).unionByName(docs.filter(inCut)
      .withColumn("kept", row_number().over(Window.partitionBy(col("bucket"))
        .orderBy(col("avg_weight_q6").desc, col("doc_id"))) <= need))
  }

  /** Discriminative-token quality classifier — the odds-ratio core of
    * the GPT-3/LLaMA-style "does this look like the reference corpus"
    * linear classifier, integer end-to-end so the oracle is bit-exact
    * (the [[dsirWeights]] fixed-point idiom; a float fastText here
    * would put transcendental logs on the gate surface).
    *
    * Train: per-token positive/negative occurrence counts against the
    * weak labels `source ∈ {src1,src2,src3}` (the same target set DSIR
    * uses — one notion of "reference corpus" across the selection
    * surface), add-one-smoothed rate ratio in q6 fixed point
    * `w_q6 = (1e6·(pc+1)·(nt+1)) DIV ((nc+1)·(pt+1))`. One ranking of
    * the vocab by (w_q6 DESC, token) picks the K most
    * positive-indicative tokens (vote +1) and the K most negative
    * (vote −1) — a SINGLE ordering, so the two sets are disjoint
    * whenever 2K ≤ |vocab| and a tie landing a token in both ranges
    * (only possible when 2K > |vocab|) cancels to vote 0 instead of
    * duplicating rows. Score: distinct-token presence votes summed per
    * doc (the classic keyword-vote classifier — presence, not counts,
    * so one spammy repetition can't flip a doc); `predicted` is
    * score > 0, ties conservatively negative.
    *
    * Scale shape: the vocab is COUNT-AGGREGATED once ([[vocabOf]]), the
    * only corpus-sized exchange. The driver collects the class totals
    * with DSIR's bucket table (≤257 rows) and the first and last K of
    * the ranking as two `orderBy(...).limit(K)` takes (≤2K vote tokens).
    * Scoring is one narrow per-row projection with the vote tokens as
    * an IN-set literal: no explode, no join, no exchange.
    * `spark.graft.classifier.vocabK` (default 8, oracle-pinned) is the
    * feature-budget dial. */
  def qualityClassifier(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val (pos, neg) = voteTokens(vocabOf(docs), s)
    docs.select(col("doc_id") +: voteCols(pos, neg).map { case (n, c) => c.as(n) }: _*)
      .withColumn("score", col("votes_pos") - col("votes_neg"))
      .withColumn("predicted", col("score") > 0)
      .orderBy(col("doc_id"))
  }

  /** The per-token odds-ratio weight over `pc`/`nc` count columns with
    * the (pt, nt) class totals as literals — shared with the overflow
    * property suite. DECIMAL numerator AND denominator: 1e6·(pc+1)·(nt+1)
    * breaks Long once per-token positive counts × total negative-class
    * tokens near 9e12 (pc ~1e5 with nt ~1e8 — a mid-size corpus, not an
    * edge case), and the ranking silently corrupts on wraparound.
    * DECIMAL(38,0) holds both products exactly for any counts below
    * ~1e16 each; the DIV returns the q6 weight to Long (< 1e6·(nt+1)
    * when pc ≤ pt). */
  private[graft] def classifierWq6Expr(pt: Long, nt: Long) =
    expr(s"(cast(1000000 as decimal(20,0)) * (pc + 1) * (${nt}L + 1)) DIV " +
      s"(cast(nc + 1 as decimal(20,0)) * (${pt}L + 1))")

  /** The (+1, −1) vote tokens: the first and the last K of the single
    * (w_q6 DESC, token) ranking; a token in both cancels. */
  private def voteTokens(v: Vocab, s: SparkSession): (Seq[String], Seq[String]) = {
    val k = graft.GraftConf.int(s, "spark.graft.classifier.vocabK", 8)
    require(k >= 1, "spark.graft.classifier.vocabK must be >= 1")
    val ranked = v.counts.select(col("token"), classifierWq6Expr(v.pt, v.nt).as("w_q6"))
    def take(order: Column*) =
      ranked.orderBy(order: _*).limit(k).collect().map(_.getString(0)).toSeq
    val top = take(col("w_q6").desc, col("token"))
    val bottom = take(col("w_q6").asc, col("token").desc)
    (top.diff(bottom), bottom.diff(top))
  }

  /** Per-row presence votes `votes_pos`/`votes_neg` over `text`. */
  private def voteCols(pos: Seq[String], neg: Seq[String]): Seq[(String, Column)] = {
    def votes(vs: Seq[String]) =
      size(array_distinct(filter(split(col("text"), " "), _.isin(vs: _*)))).cast("long")
    Seq("votes_pos" -> votes(pos), "votes_neg" -> votes(neg))
  }

  /** THE COMPOSED CURATION PIPELINE — the end-to-end flow a
    * pretraining data team actually ships, as one query: the funnel
    * battery ([[TextAnalysis.funnelFlags]] — len/stop/quality/rep/LM,
    * the exact expressions `q_filter_funnel` audits) gates into the
    * odds-ratio classifier vote ([[qualityClassifier]]), and the
    * surviving docs enter DSIR top-quartile selection
    * ([[dsirSelectFrom]]'s bucket split over [[dsirWeights]]' scores).
    * Output is the per-source monitoring table: how many docs, how many
    * past the filters, how many also classifier-positive, and how many
    * the importance-weighted quota finally kept.
    *
    * Every stage REUSES its home operator's code, so the composite
    * cannot drift from the pieces the gate checks one by one.
    *
    * Scale shape: one vocabulary aggregation serves the classifier and
    * DSIR. The driver collects the class totals with the DSIR bucket
    * table (≤257 DSIR bucket rows), the ±K vote tokens (≤2K vote
    * tokens) and the selection's bucket counts (≤978 weight buckets).
    * One narrow per-row pass computes the funnel battery, the votes,
    * `n_tokens`, `weight` and `avg_weight_q6`; the LM rare-trigram join
    * is the only other corpus-sized exchange. */
  def curationPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val vocab = vocabOf(docs)
    val (pos, neg) = voteTokens(vocab, s)
    val rows = TextAnalysis.funnelFlags(graft.Tables.widen(docs),
        voteCols(pos, neg) ++ dsirCols(vocab.ratioQ6))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        avgWeightQ6.as("avg_weight_q6"),
        (col("first_fail") === "pass").as("f_pass"),
        (col("first_fail") === "pass" && col("votes_pos") > col("votes_neg")).as("eligible"))
    dsirKeep(rows, col("eligible") && col("n_tokens") > 0)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("f_pass"), 1L).otherwise(0L)).as("n_filter_pass"),
        sum(when(col("eligible"), 1L).otherwise(0L)).as("n_eligible"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_curation_pipeline" -> (curationPipeline _),
    "q_quality_classifier" -> (qualityClassifier _),
    "q_quality_calibrate" -> (qualityCalibrateOracle _),
    "q_epoch_shuffle" -> (epochShuffle _),
    "q_epoch_write" -> (epochWrite _),
    "q_token_budget" -> (tokenBudget _),
    "q_domain_cap" -> (domainCap _),
    "q_sample_weighted" -> (sampleWeighted _),
    "q_dedup_representative" -> (dedupRepresentative _),
    "q_contamination_bloom" -> (contaminationBloom _),
    "q_corpus_diff" -> (corpusDiff _),
    "q_dsir_weights" -> (dsirWeights _),
    "q_dsir_select" -> (dsirSelect _))

  /** Shared by the two `q_dsir_*` oracles: hashed-bucket features, the
    * add-one-smoothed fixed-point ratio table, per-doc weights. */
  private val dsirCteSql =
    """feat AS (
      |  SELECT doc_id, source,
      |    ('0x' || substr(md5(tok), 1, 6))::BIGINT % 256 AS b
      |  FROM (SELECT doc_id, source,
      |          unnest(list_filter(string_split(lower(text), ' '),
      |                             t -> t <> '')) AS tok
      |        FROM documents)),
      |ratio AS (
      |  SELECT b,
      |    (1000000 * (CAST(SUM(CASE WHEN source IN ('src1', 'src2', 'src3')
      |                        THEN 1 ELSE 0 END) AS BIGINT) + 1))
      |      // (COUNT(*) + 1) AS r_q6
      |  FROM feat GROUP BY b),
      |w AS (
      |  SELECT feat.doc_id, ANY_VALUE(feat.source) AS source,
      |    COUNT(*) AS n_tokens,
      |    CAST(SUM(ratio.r_q6) AS BIGINT) AS weight,
      |    CAST(SUM(ratio.r_q6) AS BIGINT) // COUNT(*) AS avg_weight_q6
      |  FROM feat JOIN ratio USING (b)
      |  GROUP BY feat.doc_id)""".stripMargin

  private val qualitySql =
    """SELECT doc_id, source,
      |    round(least(1.0, CAST(length(text) AS DOUBLE) / 400.0) * 0.5 +
      |      CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |        / len(string_split(text, ' ')) * 0.5, 6) AS quality
      |  FROM documents""".stripMargin

  /** Shared by `q_epoch_shuffle` (assignment audit) and `q_epoch_write`
    * (the same audit read back from the physically written shard files —
    * any row the write lost, duplicated, or misrouted flips a column). */
  private val epochOracleSql =
    """WITH a AS (
      |  SELECT doc_id, source, md5('ep1:' || CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |b AS (
      |  SELECT *, CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) // 2
      |    AS INTEGER) AS shard FROM a)
      |SELECT shard, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT source) AS n_sources,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
      |  MIN(h) AS h_min, MAX(h) AS h_max
      |FROM b GROUP BY shard ORDER BY shard""".stripMargin

  /** The classifier to its per-document verdict `cls_out(doc_id,
    * votes_pos, votes_neg, score, predicted)` — shared by the
    * `q_quality_classifier` oracle and the `q_curation_pipeline`
    * oracle (CTE names cls_-prefixed so the composite can stack it
    * next to the funnel and DSIR chains without collisions). */
  private val classifierCteSql =
    """cls_t AS (
      |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |cls_c AS (
      |  SELECT token, CAST(COUNT(*) AS BIGINT) AS tot,
      |    CAST(SUM(CASE WHEN source IN ('src1', 'src2', 'src3')
      |             THEN 1 ELSE 0 END) AS BIGINT) AS pc
      |  FROM cls_t GROUP BY token),
      |cls_c2 AS (SELECT token, pc, tot - pc AS nc FROM cls_c),
      |cls_tl AS (
      |  SELECT CAST(SUM(pc) AS BIGINT) AS pt, CAST(SUM(nc) AS BIGINT) AS nt
      |  FROM cls_c2),
      |cls_w AS (
      |  SELECT token,
      |    (1000000 * (pc + 1) * (nt + 1)) // ((nc + 1) * (pt + 1)) AS w_q6
      |  FROM cls_c2, cls_tl),
      |cls_r AS (
      |  SELECT token,
      |    row_number() OVER (ORDER BY w_q6 DESC, token) AS rk,
      |    COUNT(*) OVER () AS v
      |  FROM cls_w),
      |cls_vocab AS (
      |  SELECT token, vote FROM (
      |    SELECT token,
      |      (CASE WHEN rk <= 8 THEN 1 ELSE 0 END)
      |        + (CASE WHEN rk > v - 8 THEN -1 ELSE 0 END) AS vote
      |    FROM cls_r) WHERE vote <> 0),
      |cls_sc AS (
      |  SELECT dt.doc_id,
      |    CAST(SUM(CASE WHEN vote > 0 THEN 1 ELSE 0 END) AS BIGINT) AS votes_pos,
      |    CAST(SUM(CASE WHEN vote < 0 THEN 1 ELSE 0 END) AS BIGINT) AS votes_neg
      |  FROM (SELECT DISTINCT doc_id, token FROM cls_t) dt
      |  JOIN cls_vocab USING (token) GROUP BY dt.doc_id),
      |cls_out AS (
      |  SELECT d.doc_id,
      |    COALESCE(cls_sc.votes_pos, 0) AS votes_pos,
      |    COALESCE(cls_sc.votes_neg, 0) AS votes_neg,
      |    COALESCE(cls_sc.votes_pos, 0) - COALESCE(cls_sc.votes_neg, 0) AS score,
      |    COALESCE(cls_sc.votes_pos, 0) - COALESCE(cls_sc.votes_neg, 0) > 0 AS predicted
      |  FROM documents d LEFT JOIN cls_sc ON d.doc_id = cls_sc.doc_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    // same single vocab ranking, same q6 odds ratio, same ±K vote
    // cancellation; zero-hit docs ride the LEFT join with 0/0/false
    "q_quality_classifier" ->
      s"""WITH $classifierCteSql
        |SELECT doc_id, votes_pos, votes_neg, score, predicted
        |FROM cls_out ORDER BY doc_id""".stripMargin,

    // the composed pipeline: funnel verdicts ∧ classifier vote gate the
    // DSIR top-quartile selection; single global window — semantically
    // the engine's driver-decided bucket split over eligible docs
    "q_curation_pipeline" ->
      s"""WITH ${graft.operators.TextAnalysis.funnelPassCteSql},
        |$classifierCteSql,
        |$dsirCteSql,
        |elig AS (
        |  SELECT f.doc_id, f.source,
        |    f.first_fail = 'pass' AS f_pass,
        |    (f.first_fail = 'pass' AND cls_out.predicted) AS eligible
        |  FROM f JOIN cls_out USING (doc_id)),
        |sel AS (
        |  SELECT w.doc_id, w.source, w.avg_weight_q6
        |  FROM w JOIN elig USING (doc_id) WHERE elig.eligible),
        |rsel AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (ORDER BY avg_weight_q6 DESC, doc_id) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM sel),
        |k AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept
        |  FROM rsel WHERE rn <= (n + 3) // 4 GROUP BY source),
        |agg AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN f_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_filter_pass,
        |    CAST(SUM(CASE WHEN eligible THEN 1 ELSE 0 END) AS BIGINT) AS n_eligible
        |  FROM elig GROUP BY source)
        |SELECT agg.source, agg.n_docs, agg.n_filter_pass, agg.n_eligible,
        |  COALESCE(k.n_kept, 0) AS n_kept
        |FROM agg LEFT JOIN k USING (source)
        |ORDER BY agg.source""".stripMargin,

    // replay the epoch hash and nibble-shard assignment verbatim
    "q_epoch_shuffle" -> epochOracleSql,
    "q_epoch_write" -> epochOracleSql,

    // single global window — semantically what the engine's two-phase
    // bucket prefix sum computes distributed
    "q_token_budget" ->
      s"""WITH q AS (
        |  SELECT doc_id,
        |    round(least(1.0, CAST(length(text) AS DOUBLE) / 400.0) * 0.5 +
        |      CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |        / len(string_split(text, ' ')) * 0.5, 6) AS quality,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, quality, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
        |  FROM q)
        |SELECT doc_id, quality, n_tokens FROM w
        |WHERE tok_before < 2000 ORDER BY doc_id""".stripMargin,

    // per-source global window — what the engine's per-source bucketed
    // prefix sum computes distributed
    "q_domain_cap" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |w AS (
        |  SELECT source, doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
        |  FROM t)
        |SELECT source, doc_id, n_tokens FROM w
        |WHERE tok_before < 300 ORDER BY source, doc_id""".stripMargin,

    "q_quality_calibrate" ->
      s"""WITH q AS (
        |  $qualitySql)
        |SELECT doc_id, source, quality,
        |  percent_rank() OVER (PARTITION BY source ORDER BY quality, doc_id)
        |    AS pr,
        |  percent_rank() OVER (PARTITION BY source ORDER BY quality, doc_id)
        |    >= 0.5 AS kept
        |FROM q ORDER BY doc_id""".stripMargin,

    "q_sample_weighted" ->
      s"""WITH q AS (
        |  $qualitySql),
        |k AS (
        |  SELECT doc_id, source, quality,
        |    least(CAST(1.0 AS DOUBLE), quality * CAST(1.25 AS DOUBLE)) AS rate
        |  FROM q),
        |f AS (
        |  SELECT source, quality,
        |    (rate >= 1.0 OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)
        |      < printf('%013x', CAST(floor(rate * CAST(4503599627370496 AS DOUBLE)) AS BIGINT))) AS kept
        |  FROM k)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN kept THEN CAST(quality AS DECIMAL(12,6)) END) AS DOUBLE)
        |    / SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS kept_quality_mean
        |FROM f GROUP BY source ORDER BY source""".stripMargin,

    // the cluster CTEs replicate q_dedup_clusters' oracle (same MinHash
    // parameters); the tail swaps min-id canonical for argmax-quality
    "q_dedup_representative" ->
      s"""WITH RECURSIVE sig AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 8), h ->
        |      list_min(list_transform(list_distinct(string_split(text, ' ')),
        |        t -> md5(t || '#' || CAST(h AS VARCHAR))))) AS s
        |  FROM documents),
        |bands AS (
        |  SELECT doc_id, b,
        |    md5(s[4*b+1] || s[4*b+2] || s[4*b+3] || s[4*b+4]) AS bucket
        |  FROM sig, range(0, 2) r(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
        |  FROM bands a JOIN bands c
        |    ON a.b = c.b AND a.bucket = c.bucket AND a.doc_id < c.doc_id),
        |p AS (
        |  SELECT d1, d2
        |  FROM cand JOIN sig x ON d1 = x.doc_id JOIN sig y ON d2 = y.doc_id
        |  WHERE list_sum(list_transform(range(0, 8),
        |    i -> CASE WHEN x.s[i+1] = y.s[i+1] THEN 1 ELSE 0 END)) >= 6),
        |edges AS (
        |  SELECT d1 AS src, d2 AS dst FROM p
        |  UNION ALL SELECT d2, d1 FROM p),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |reach(node, lbl) AS (
        |  SELECT node, node AS lbl FROM nodes
        |  UNION
        |  SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
        |cc AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
        |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id),
        |q AS (
        |  $qualitySql),
        |r AS (
        |  SELECT cc.cluster_id, cc.doc_id, sizes.cluster_size, q.quality,
        |    ROW_NUMBER() OVER (PARTITION BY cc.cluster_id
        |      ORDER BY q.quality DESC, cc.doc_id) AS rn
        |  FROM cc JOIN sizes USING (cluster_id) JOIN q USING (doc_id))
        |SELECT cluster_id, doc_id AS rep_doc, quality AS rep_quality,
        |  cluster_size, CAST(cluster_size - 1 AS BIGINT) AS n_dropped
        |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    "q_corpus_diff" ->
      """WITH a AS (
        |  SELECT doc_id, source AS src_a, md5(text) AS fp_a FROM documents),
        |b AS (
        |  SELECT doc_id, source AS src_b,
        |    md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS fp_b
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, source, md5(text)
        |  FROM documents WHERE doc_id % 13 = 0),
        |j AS (
        |  SELECT coalesce(a.src_a, b.src_b) AS source,
        |    CASE WHEN a.fp_a IS NULL THEN 'added'
        |         WHEN b.fp_b IS NULL THEN 'removed'
        |         WHEN a.fp_a <> b.fp_b THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM a FULL OUTER JOIN b USING (doc_id))
        |SELECT source, status, COUNT(*) AS n
        |FROM j GROUP BY source, status ORDER BY source, status""".stripMargin,

    // identical result to q_contamination: the Bloom pass only prunes,
    // the exact join decides
    "q_contamination_bloom" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |ix AS (
        |  SELECT doc_id, toks, unnest(range(1, n - 1)) AS i
        |  FROM t WHERE n >= 3),
        |g AS (
        |  SELECT DISTINCT doc_id,
        |    md5(array_to_string(list_slice(toks, i, i + 2), ' ')) AS g
        |  FROM ix),
        |e AS (SELECT doc_id AS eval_doc, g FROM g WHERE doc_id % 97 = 0),
        |tr AS (SELECT doc_id AS train_doc, g FROM g WHERE doc_id % 97 <> 0)
        |SELECT tr.train_doc, e.eval_doc, COUNT(*) AS n_shared_grams
        |FROM tr JOIN e ON tr.g = e.g
        |GROUP BY tr.train_doc, e.eval_doc
        |ORDER BY tr.train_doc, e.eval_doc""".stripMargin,

    // exact fixed-point throughout: the only division is integer floor
    // division, so every value is a BIGINT both engines compute
    // identically — no FP parity surface at all
    "q_dsir_weights" ->
      s"""WITH $dsirCteSql
        |SELECT doc_id, n_tokens, weight, avg_weight_q6
        |FROM w ORDER BY doc_id""".stripMargin,

    // single global window — semantically what the engine's two-phase
    // bucket split computes distributed
    "q_dsir_select" ->
      s"""WITH $dsirCteSql,
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (ORDER BY avg_weight_q6 DESC, doc_id) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM w)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN rn <= (n + 3) // 4 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept
        |FROM r GROUP BY source ORDER BY source""".stripMargin
  )
}
