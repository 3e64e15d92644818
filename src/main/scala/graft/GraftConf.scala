package graft

import org.apache.spark.sql.SparkSession

/** Central accessor for the engine's `spark.graft.*` conf surface.
  *
  * Two jobs:
  *
  *  1. **Fail-fast parsing.** Every numeric/boolean conf read routes
  *     through here, so a typo'd value fails immediately with the conf
  *     NAME in the message — not as a bare `NumberFormatException`
  *     surfacing from deep inside a running job hours later.
  *
  *  2. **The `scale` profile.** The scale-correct behaviors are
  *     individually conf-gated. The hot-key guards are result-identical
  *     on healthy input ([[graft.operators.HotKeyJoin]]) but stay off by
  *     default until their counting pass is costed — and a real
  *     deployment should not have to discover and flip four-plus confs.
  *     `spark.graft.profile=scale` layers [[scaleDefaults]] UNDER any
  *     explicitly-set conf: an explicit `spark.graft.*` value always wins,
  *     the profile fills the rest, and with no profile the hard defaults
  *     apply. The preset deliberately bundles only SAFETY/PERF switches:
  *
  *      - `spark.graft.lsh.maxBucket=10000` — degenerate-bucket guard on
  *        all four LSH band joins (MinHash and sign-LSH, one-shot and
  *        ingest). Result-identical on healthy input; on pathological
  *        input it trades non-identical hot-bucket near-dups for never
  *        going quadratic.
  *      - `spark.graft.semdedup.lsh=true` — semantic dedup takes its
  *        pairs from the sub-quadratic banded-LSH path (the documented
  *        recall trade a real corpus runs; equals the oracle-gated
  *        `q_semantic_dedup_lsh` entry exactly).
  *      - `spark.graft.dedup.reliableCheckpoint=true` — CC/lineage
  *        truncation via reliable `checkpoint()` instead of
  *        `localCheckpoint()`: result-identical, survives executor loss.
  *      - `spark.graft.dedup.shareClusters=true` — result-identical
  *        cross-query reuse of the cluster pipeline's snapshot.
  *      - `spark.graft.dedup.exactCollapse=true` — the cluster pipeline
  *        pre-collapses md5(text)-identical docs to their min-id
  *        representative BEFORE signatures/banding and reattaches
  *        members as rep→member edges into the same CC. Component
  *        partition and labels are provably identical when no LSH
  *        bucket is hot (identical docs share every band, so member
  *        edges replace pairs the band join would have emitted; labels
  *        are component minima either way); when exact-dup mass made a
  *        bucket hot, collapse is strictly BETTER — the bucket often
  *        stops being hot, so near-dup edges the guard would have
  *        dropped survive. Measured on the ×10 derived corpus at
  *        sf0.1 (reps=2 medians): −35% wall with a planted 20k-copy
  *        group (61.1 → 40.0 s), +10% on the dup-FREE variant (29.6 →
  *        32.7 s — the md5 exchange and rep semi-join buy nothing
  *        there). The preset keeps it on: real crawls carry 30–50%
  *        exact-dup mass, and the duplicate share of the MinHash
  *        aggregation — the pipeline's dominant cost — never runs.
  *        The dup-free overhead is bounded by an ADAPTIVE probe
  *        (`spark.graft.dedup.collapseMinDupFrac`, default 0.01): the
  *        md5 groupBy the collapse already executes yields the exact
  *        dup fraction as one scalar, and below the threshold the
  *        pipeline falls back to the uncollapsed plan —
  *        output-identical whenever no band bucket is hot (the same
  *        condition the collapse equivalence itself carries; under a
  *        hot bucket the routes differ exactly as exactCollapse
  *        on/off do), so always-on is non-regressing on dup-free
  *        corpora.
  *      - `spark.graft.index.compactEvery=64` — bound the signature /
  *        vector band index file counts under streaming ingest
  *        (result-identical; pure layout maintenance).
  *      - `spark.graft.lm.cms=true` — the LM rare-gram filter scores
  *        from a broadcast Count-Min sketch instead of shuffling every
  *        trigram position. One-sided approximation (CMS never
  *        underestimates a count): per doc `n_rare` can only shrink, so
  *        the kept set only GROWS — conservative for a keep-filter.
  *      - `spark.graft.containment.maxDocsPerShingle=10000` —
  *        hot-shingle guard on the containment prefix join. The prefix
  *        lemma is powerless against IDENTICAL shingle sets (a
  *        boilerplate group's rarest shingles are themselves hot), so
  *        the guard joins cold postings only and stars exact-identical
  *        all-hot groups to their minimum — result-identical on healthy
  *        input (adaptive probe, like `lsh.maxBucket`); on pathological
  *        input non-identical hot-shingle pairs are dropped.
  *      - `spark.graft.winnow.maxDocsPerFp=10000` — hot-fingerprint
  *        guard on the winnowing match join (the fp self-equi-join is
  *        the LSH hot-bucket shape: one boilerplate fingerprint shared
  *        by m docs emits m²/2 pairs). Result-identical on healthy
  *        input (adaptive probe, like `lsh.maxBucket`); on
  *        pathological input it drops boilerplate fingerprints from
  *        pair counting — MOSS's own common-fragment elimination.
  *      - `spark.graft.winnow.maxSpanMatchesPerPair=1000000` —
  *        degenerate-pair guard on exact span extraction (a token
  *        repeated m× on both sides of one flagged pair yields m²
  *        position matches). Result-identical on healthy pairs
  *        (adaptive probe); a pathological pair stays FLAGGED by the
  *        contamination gate — only its span enumeration is declined.
  *
  *     The LSH band GEOMETRY (`spark.graft.lsh.bands` / `.rowsPerBand`)
  *     is intentionally NOT in the preset: geometry is the recall DIAL
  *     of MinHash dedup — changing it changes which near-dups are found,
  *     a corpus-policy decision no profile should make implicitly.
  *
  * ProfileSpec pins the exact preset key set, the explicit-conf-wins
  * layering, and fixture equivalence for every conf whose equivalence is
  * claimed above.
  */
object GraftConf {

  val ProfileKey = "spark.graft.profile"

  /** Target of [[sizedShufflePartitions]]: the COMPRESSED parquet
    * input bytes whose derived shuffle state one partition should
    * carry (4 MiB input ≈ tens-to-hundreds of MB in flight after
    * decompression + token explosion). Deliberately sized
    * so LOCAL FIXTURES STAY AT THE CPU FLOOR: the round-17 A/B
    * (NOTES.md, reps=3 medians on the clean ×10 corpus) measured
    * bytes-proportional over-partitioning at 1.2–2.2× SLOWER across
    * the mid-size pair families (minhash 54→89 s, winnow_matches
    * 4.1→9.2 s at 121 vs 32 partitions; AQE coalescing does not
    * recover the map-side cost), while a TB-scale cluster input still
    * lands in the thousands-of-partitions regime this rule exists
    * for. The round-16 hot-fixture spill that motivated sizing is a
    * SKEW artifact, not a size artifact — the hot and no-hot ×10
    * corpora differ by 0.2 MiB of input yet want 4× different counts —
    * so the smoke's hot phase applies [[graft.ScaleSmoke
    * .HotShufflePartitionsFactor]] on top of this rule instead of
    * pretending bytes carry that signal. */
  val DefaultShuffleTargetBytes: Long = 4L * 1024 * 1024

  /** Upper clamp of [[sizedShufflePartitions]] — bounds task-scheduling
    * overhead. Exposed so callers that MULTIPLY the sized count (the
    * smoke's hot-skew factor) can re-clamp against the same bound. */
  val DefaultShufflePartitionCap: Int = 4096

  /** Shuffle-partition count sized to the corpus: ⌈inputBytes /
    * targetBytes⌉ clamped to [cpus, cap]. The floor keeps every core
    * busy AND is the measured-best count for fixture-scale corpora
    * (see [[DefaultShuffleTargetBytes]] — over-partitioning small
    * corpora costs 1.2–2.2×); the cap bounds task-scheduling overhead;
    * in between, partitions grow LINEARLY with data — the sizing a
    * cluster deployment applies by hand. ShuffleSizingSpec pins the
    * clamps, linearity, and both round-17 calibration points (fixture
    * → floor, TB-scale → thousands). */
  def sizedShufflePartitions(inputBytes: Long, cpus: Int,
      targetBytes: Long = DefaultShuffleTargetBytes,
      cap: Int = DefaultShufflePartitionCap): Int = {
    require(cpus >= 1, s"cpus must be >= 1, got $cpus")
    require(targetBytes >= 1, s"targetBytes must be >= 1, got $targetBytes")
    require(cap >= cpus, s"cap $cap must be >= cpus $cpus")
    val byBytes = math.ceil(math.max(inputBytes, 0L).toDouble / targetBytes)
    math.min(math.max(byBytes, cpus.toDouble), cap.toDouble).toInt
  }

  /** Conf values `spark.graft.profile=scale` implies when the conf is
    * not explicitly set. See the object doc for the per-key rationale. */
  val scaleDefaults: Map[String, String] = Map(
    "spark.graft.lsh.maxBucket" -> "10000",
    "spark.graft.containment.maxDocsPerShingle" -> "10000",
    "spark.graft.semdedup.lsh" -> "true",
    "spark.graft.dedup.reliableCheckpoint" -> "true",
    "spark.graft.dedup.shareClusters" -> "true",
    "spark.graft.dedup.exactCollapse" -> "true",
    "spark.graft.index.compactEvery" -> "64",
    "spark.graft.lm.cms" -> "true",
    "spark.graft.winnow.maxDocsPerFp" -> "10000",
    "spark.graft.winnow.maxSpanMatchesPerPair" -> "1000000")

  /** The layered string value for `key`: explicit conf > active profile
    * preset > None. An unknown profile name fails fast. */
  def get(s: SparkSession, key: String): Option[String] =
    s.conf.getOption(key).orElse {
      s.conf.getOption(ProfileKey) match {
        case None          => None
        case Some("scale") => scaleDefaults.get(key)
        case Some(other) => throw new IllegalArgumentException(
          s"$ProfileKey: unknown profile '$other' (supported: scale)")
      }
    }

  /** String conf: layered lookup with a hard default. Trimmed; an
    * empty/blank explicit value fails fast naming the conf (every
    * current string conf is a term list or phrase, where blank can
    * only be a mistake). */
  def str(s: SparkSession, key: String, default: String): String =
    get(s, key).map { v =>
      val t = v.trim
      if (t.isEmpty) throw new IllegalArgumentException(
        s"$key must be a non-empty string")
      t
    }.getOrElse(default)

  /** Integer conf with fail-fast parsing naming the conf. */
  def int(s: SparkSession, key: String, default: Int): Int =
    get(s, key).map { v =>
      try v.trim.toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$key must be an integer, got '$v'")
      }
    }.getOrElse(default)

  /** Long conf with fail-fast parsing naming the conf. */
  def long(s: SparkSession, key: String, default: Long): Long =
    get(s, key).map { v =>
      try v.trim.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$key must be an integer, got '$v'")
      }
    }.getOrElse(default)

  /** Double conf with fail-fast parsing naming the conf. */
  def double(s: SparkSession, key: String, default: Double): Double =
    get(s, key).map { v =>
      try v.trim.toDouble
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$key must be a number, got '$v'")
      }
    }.getOrElse(default)

  /** Boolean conf with fail-fast parsing naming the conf. */
  def bool(s: SparkSession, key: String, default: Boolean): Boolean =
    get(s, key).map { v =>
      v.trim.toLowerCase match {
        case "true"  => true
        case "false" => false
        case _ => throw new IllegalArgumentException(
          s"$key must be true or false, got '$v'")
      }
    }.getOrElse(default)

  /** Every conf key the engine reads — the typo firewall behind
    * [[requireKnown]]. Kept equal to the quoted `spark.graft.*`
    * literals in main source by ConfRegistrySpec's source scan, so
    * neither the registry nor the read sites can drift. */
  val KnownKeys: Set[String] = Set(
    "spark.graft.bench.queryTimeoutSec",
    "spark.graft.bitext.k",
    "spark.graft.cc.localMaxEdges",
    "spark.graft.bitext.minMargin",
    "spark.graft.checkpointDir",
    "spark.graft.classifier.vocabK",
    "spark.graft.containment.maxDocsPerShingle",
    "spark.graft.corpus.boilerBlock",
    "spark.graft.corpus.boilerDf",
    "spark.graft.corpus.cdcDivisor",
    "spark.graft.corpus.chunkStride",
    "spark.graft.corpus.chunkWindow",
    "spark.graft.corpus.contaminationGram",
    "spark.graft.corpus.lengthBatch",
    "spark.graft.corpus.lineBlock",
    "spark.graft.corpus.mixRatio",
    "spark.graft.corpus.packBudget",
    "spark.graft.corpus.packShards",
    "spark.graft.curation.calibrateKeep",
    "spark.graft.curation.domainCapTokens",
    "spark.graft.curation.tokenBudget",
    "spark.graft.curation.weightFactor",
    "spark.graft.dedup.collapseMinDupFrac",
    "spark.graft.dedup.exactCollapse",
    "spark.graft.dedup.reliableCheckpoint",
    "spark.graft.dedup.shareClusters",
    "spark.graft.index.compactEvery",
    "spark.graft.index.compactTargetBytes",
    "spark.graft.ivf.cells",
    "spark.graft.ivf.lloydIters",
    "spark.graft.ivf.nprobe",
    "spark.graft.ivf.objectiveEps",
    "spark.graft.ivf.seeding",
    "spark.graft.layout.compactTargetBytes",
    "spark.graft.lm.cms",
    "spark.graft.lm.rareCount",
    "spark.graft.lsh.bands",
    "spark.graft.lsh.maxBucket",
    "spark.graft.lsh.rowsPerBand",
    "spark.graft.pagerank.dangling",
    "spark.graft.pq.lloydIters",
    "spark.graft.profile",
    "spark.graft.quality.approxThreshold",
    "spark.graft.sampling.stratumK",
    "spark.graft.search.batchK",
    "spark.graft.search.maxQueryTerms",
    "spark.graft.search.phrase",
    "spark.graft.search.terms",
    "spark.graft.semdedup.lsh",
    "spark.graft.shingle.verifyBroadcastBytes",
    "spark.graft.span.minCut",
    "spark.graft.stream.statePartitions",
    "spark.graft.text.hhLocalCandidates",
    "spark.graft.topkPerGroup.maxBufferedRows",
    "spark.graft.winnow.evalMod",
    "spark.graft.winnow.gram",
    "spark.graft.winnow.maxDocsPerFp",
    "spark.graft.winnow.maxSpanMatchesPerPair",
    "spark.graft.winnow.minShared",
    "spark.graft.winnow.spanMinRun",
    "spark.graft.winnow.window")

  /** Fail fast on any `spark.graft.*` session conf the engine does not
    * read. A typo'd dial otherwise silently reverts to its default —
    * which for guard confs (`lsh.maxBucket`, `winnow.maxDocsPerFp`)
    * means an UNGUARDED production run that looks configured. Called by
    * the entry points (Verify, Bench, ScaleSmoke); library users call
    * it once after session setup. */
  def requireKnown(s: SparkSession): Unit = {
    val unknown = s.conf.getAll.keysIterator
      .filter(_.startsWith("spark.graft."))
      .filterNot(KnownKeys.contains).toSeq.sorted
    require(unknown.isEmpty,
      s"unknown spark.graft conf${if (unknown.size == 1) "" else "s"} " +
        s"(typo?): ${unknown.mkString(", ")}")
  }
}
