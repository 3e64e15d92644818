package graft.operators

import graft.GraftConf
import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus retrieval — the query-side face of the inverted index
  * [[Corpus.invertedIndex]] builds: BM25 ranked search and positional
  * phrase search. A pretraining pipeline runs these constantly — "show
  * me what the filter kept about X", contamination forensics ("which
  * training docs score highest against this benchmark question"), and
  * targeted corpus audits — so they belong in the engine next to the
  * index builder, not in a notebook.
  *
  * Numerics are FIXED-POINT BY DESIGN (the [[Curation]] DSIR
  * precedent): BM25 here is the exact rational form of
  * Okapi/Robertson with k1=1.2, b=0.75 cleared of denominators so
  * every intermediate is an integer — no float ever appears, so the
  * DuckDB oracle matches bit-for-bit and ranking ties break
  * deterministically. The idf is the Robertson ODDS
  * `(N - df + 1/2) / (df + 1/2)` kept as a q6 rational rather than its
  * log: log is monotone, so per-term ranking is unchanged, and the
  * cross-term sum trades log's tail compression for exactness — the
  * documented, tested engine contract (RetrievalSpec pins both the
  * algebra and the bounds).
  */
object Retrieval {

  /** Okapi BM25 top-20 over the document corpus for a conf-set term
    * list (`spark.graft.search.terms`, comma-separated; default
    * `spark,query,window` — oracle-pinned).
    *
    * The exact rational algebra, with `tf` the term count in a doc,
    * `dl` the doc length, `N` docs, `A` total corpus tokens
    * (avgdl = A/N), k1 = 6/5, b = 3/4:
    *
    * {{{
    * tf_part = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *         = 22·tf·A / (10·tf·A + 3·A + 9·dl·N)   — multiply through by 10·A
    * tf_q6   = (22_000_000·tf·A) DIV (10·tf·A + 3·A + 9·dl·N)   ∈ [0, 2_200_000)
    * idf_q6  = (1_000_000·(2·(N − df) + 1)) DIV (2·df + 1)      — odds, not log
    * score_q6 = Σ_terms (idf_q6 · tf_q6) DIV 1_000_000
    * }}}
    *
    * All operands positive, so Spark `DIV` (truncate) ≡ DuckDB `//`
    * (floor). Overflow bounds, per stage: every multi-factor product —
    * the tf side (22e6·tf·A, 10·tf·A, 9·dl·N in [[tfQ6Expr]]), the idf
    * numerator ([[idfQ6Expr]]), and the per-term idf_q6·tf_q6 — is
    * computed in DECIMAL (exact, no wraparound; in pure Long the tf
    * side wrapped silently once tf·A ≥ 4.2e11, a ~200 GB corpus at
    * tf=10). Only post-DIV quotients return to Long: tf_q6 < 2.2e6 by
    * construction, idf_q6 ≤ 1e6·(2N+1)/3 (inside Long for N < 1.4e13
    * docs), and the per-doc SUM of contributions < 2.2·idf_q6 ≈
    * 2.9e6·N stays inside Long for any N below ~10¹⁷/terms.
    * Q6OverflowSpec drives the expressions at 100-TB-scale (N, A)
    * against a BigInt reference.
    *
    * Scale shape: the ONLY corpus-wide work is one map-side-combined
    * agg for the two scalars (N, A), read in a PRELUDE job (one row to
    * the driver, then literals — the [[GraphOps]] |V|/dangling idiom;
    * a one-row broadcast join here would plan a nested-loop, which the
    * engine's hygiene bar bans). Everything else happens AFTER
    * `isin(terms)` cuts the token stream to query-term postings: tf/df
    * aggs and the final top-20 sort run on hit-sized data, not
    * corpus-sized. At 100 TB you'd serve the same algebra — and the
    * (N, A) scalars — from the persisted inverted index rather than
    * re-scanning text; this entry is the scan-side reference
    * semantics. */
  def bm25TopK(s: SparkSession, d: String): DataFrame = {
    val terms = confTerms(s)
    val docs = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val statsRow = docs.agg(count(lit(1)).as("n_d"), sum(col("dl")).as("a_l"))
      .collect()(0) // scalar prelude: one (N, A) row, never data
    val hits = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfs = hits.groupBy(col("token")).agg(count(lit(1)).as("df"))
    bm25ScoreFrom(hits, dfs, statsRow.getLong(0), statsRow.getLong(1))
  }

  private def confTerms(s: SparkSession): Seq[String] = {
    val terms = GraftConf.str(s, "spark.graft.search.terms", "spark,query,window")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(terms.nonEmpty, "spark.graft.search.terms must name at least one term")
    terms
  }

  private def confPhrase(s: SparkSession): Seq[String] = {
    val phrase = GraftConf.str(s, "spark.graft.search.phrase", "window fast query")
      .split(" ").filter(_.nonEmpty).toSeq
    require(phrase.length >= 2,
      "spark.graft.search.phrase must contain at least two tokens")
    phrase
  }

  /** The per-hit q6 expressions, shared by all four serve paths and the
    * overflow property suite ([[graft.Q6OverflowSpec]]). Inputs are the
    * hit columns `tf`/`dl`/`df` plus the (N, A) corpus scalars.
    *
    * DECIMAL(38,0) numerators AND denominators: in pure Long the tf
    * side (22e6·tf·A, 10·tf·A, 9·dl·N) silently wrapped once
    * tf·A ≥ 4.2e11 — a ~200 GB corpus at tf=10, far below the design
    * scale. In decimal the products are exact to 38 digits
    * (2.2e7 · tf ≤ 1e6 · A ≤ 1e15 ≈ 10^28 — no corpus approaches the
    * cap) and only the post-DIV quotients return to Long:
    * tf_q6 < 2.2e6 by construction, and idf_q6 ≤ 1e6·(2N+1)/3, inside
    * Long for N < 1.4e13 docs (a 100 TB corpus is ~1e11). */
  private[graft] def tfQ6Expr(nD: Long, aL: Long) =
    expr(s"(cast(22000000 as decimal(20,0)) * tf * ${aL}L) DIV " +
      s"(cast(10 as decimal(20,0)) * tf * ${aL}L + " +
      s"cast(3 as decimal(20,0)) * ${aL}L + " +
      s"cast(9 as decimal(20,0)) * dl * ${nD}L)")

  private[graft] def idfQ6Expr(nD: Long) =
    expr(s"(cast(1000000 as decimal(20,0)) * (2 * (${nD}L - df) + 1)) " +
      "DIV (2 * df + 1)")

  /** The q6 scoring tail shared by the scan path ([[bm25TopK]]) and the
    * index path ([[bm25FromIndex]]): `hits` = (doc_id, dl, token, tf)
    * already cut to query terms, `dfs` = (token, df) — term-count-sized,
    * broadcast. */
  private[graft] def bm25ScoreFrom(
      hits: DataFrame, dfs: DataFrame, nD: Long, aL: Long): DataFrame =
    hits
      .join(broadcast(dfs), "token")
      .withColumn("tf_q6", tfQ6Expr(nD, aL))
      .withColumn("idf_q6", idfQ6Expr(nD))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        // DECIMAL product: idf_q6·tf_q6 breaks Long near N ≈ 3e6 docs
        // (see the overflow-bounds scaladoc); DIV returns it to Long
        sum(expr("(cast(idf_q6 as decimal(20,0)) * tf_q6) DIV 1000000"))
          .as("score_q6"))
      .orderBy(col("score_q6").desc, col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("n_terms"), col("score_q6"))

  /** Positional phrase search: documents containing the exact token
    * sequence `spark.graft.search.phrase` (space-separated; default
    * `window fast query` — oracle-pinned), with match count and first
    * match position (0-based token offset).
    *
    * Plan: posexplode → `isin(phrase tokens)` cuts the position stream
    * to phrase-term postings; term k's positions are normalized to the
    * would-be START (`i − k`) and the k frames intersect through
    * (doc_id, start) hash equi-joins — the classic positional-index
    * phrase intersection, expressed relationally. Repeated tokens in
    * the phrase ("fast fast query") work unchanged: each k filters by
    * its own term against the shared postings.
    *
    * Scale shape: all joins run on postings of the PHRASE terms only —
    * for any selective phrase that is orders of magnitude below corpus
    * size, and the join keys are (doc_id, start) integers, so AQE can
    * split a stopword-term side if one term is hot. A production
    * deployment serves this from a posting table bucketed by token
    * (the [[Corpus.invertedIndex]] persisted shape plus positions);
    * the scan-side form here is the reference semantics for it. */
  def phraseSearch(s: SparkSession, d: String): DataFrame = {
    val phrase = confPhrase(s)
    val pos = graft.Tables.widen(documents(s, d))
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("i", "token")))
      .select(col("doc_id"), col("token"), col("i").cast("long").as("i"))
      .filter(col("token").isin(phrase.distinct: _*))
    phraseIntersectFrom(pos, phrase)
  }

  /** The position-intersection tail shared by the scan path
    * ([[phraseSearch]]) and the index path ([[phraseFromIndex]]):
    * `pos` = (doc_id, token, i) already cut to the phrase's tokens. */
  private def phraseIntersectFrom(pos: DataFrame, phrase: Seq[String]): DataFrame = {
    val anchor = pos.filter(col("token") === phrase.head)
      .select(col("doc_id"), col("i").as("start"))
    val matches = phrase.zipWithIndex.drop(1).foldLeft(anchor) {
      case (acc, (term, k)) =>
        acc.join(
          pos.filter(col("token") === term)
            .select(col("doc_id"), (col("i") - k).as("start")),
          Seq("doc_id", "start"))
    }
    matches.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("start")).as("first_pos"))
      .orderBy(col("doc_id"))
  }

  /** BATCH BM25 — every eval-set document (the `doc_id % 97 = 0`
    * benchmark stand-in, as in [[Corpus.contamination]]) retrieves its
    * top-k training documents by BM25 against the TRAINING side only.
    * This is the contamination-forensics / hard-negative-mining query a
    * pretraining pipeline runs right after the n-gram contamination
    * gate: overlap told you THAT something leaks, ranked retrieval
    * tells you WHAT to pull or mine ("which training docs score
    * highest against this benchmark item"). Same q6 rational algebra
    * as [[bm25TopK]]; stats (N, A) and df are computed over the
    * training corpus, the retrieval target.
    *
    * Scale shape: the query-term set is benchmark-sized, so it
    * BROADCASTS twice (a semi-join pruning the corpus token stream to
    * query terms before any agg, then the scoring join); per-query
    * top-k goes through the custom [[graft.plans.TopKPerGroupOp]]
    * spilling operator — a stopword-heavy benchmark item's candidate
    * set is corpus-sized, and "keep k per group" beats "sort
    * everything per group" exactly there. The rank window after it
    * touches ≤ k rows per query. `spark.graft.search.batchK`
    * (default 5, oracle-pinned) is the depth dial. */
  def bm25Batch(s: SparkSession, d: String): DataFrame = {
    val k = GraftConf.int(s, "spark.graft.search.batchK", 5)
    require(k >= 1, "spark.graft.search.batchK must be >= 1")
    graft.functions.PostingExplode.register(s)
    // UNWIDENED tokenization for the two scalar/benchmark-sized branches:
    // the (N, A) stats agg partial-aggregates in the scan stage and the
    // qterms explode is eval-slice-sized — widening them bought nothing
    // but re-paid the round-robin exchange of the corpus text once per
    // action (measured at ×10: the widen exchange was the single largest
    // shuffle writer of this face). Only the hits branch below — the
    // corpus-sized posting fold — is widened.
    val docs = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val train = docs.filter(col("doc_id") % 97 =!= 0)
    val statsRow = train.agg(count(lit(1)).as("n_d"), sum(col("dl")).as("a_l"))
      .collect()(0)
    // persisted: the scoring join AND the semi-join's term list both read
    // this benchmark-sized frame — without the cache the eval-side
    // tokenize ran once per broadcast (twice per query)
    val qterms = graft.CacheScope.track(
      docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"), explode(col("toks")).as("token"))
        .distinct().persist())
    // per-(doc, token) tf folded IN THE ROW (posting_explode — the
    // postings build's idiom): the old explode + groupBy(doc, dl, token)
    // exchanged one row per token OCCURRENCE (tf ≈ 1 for natural text,
    // so the aggregation combined ~nothing — the dominant share of this
    // face's 10.5×-corpus shuffle factor, GraftConf expansion map). With
    // the fold the hits frame never crosses an exchange at all: a doc's
    // rows stay in its scan partition, which is exactly the clustering
    // the (qid, doc_id) scoring aggregate needs — see bm25BatchScore's
    // partitionByDoc = false leg. Persisted: the dfs prelude and the
    // scoring pass both read it (one corpus fold, not two).
    val hits = graft.CacheScope.track(
      graft.Tables.widen(documents(s, d).filter(col("doc_id") % 97 =!= 0))
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("dl", size(col("toks")).cast("long"))
        .select(col("doc_id"), col("dl"), expr("posting_explode(toks)"))
        .select(col("token"), col("doc_id"), col("dl"), col("tf"))
        .join(broadcast(qterms.select(col("token")).distinct()),
          Seq("token"), "left_semi")
        .persist())
    val dfs = hits.groupBy(col("token")).agg(count(lit(1)).as("df"))
    bm25BatchScore(hits, dfs, qterms, statsRow.getLong(0), statsRow.getLong(1), k,
      partitionByDoc = false)
  }

  /** The batch scoring tail shared by the scan path ([[bm25Batch]]) and
    * the index path ([[bm25BatchFromIndex]]): per-(query, doc) q6 sums,
    * spilling per-query top-k, rank window over ≤ k rows per query. */
  private def bm25BatchScore(hits: DataFrame, dfs: DataFrame, qterms: DataFrame,
      nD: Long, aL: Long, k: Int, partitionByDoc: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // partitionByDoc — the INDEX path's leg: its hits arrive laid out by
    // token BUCKET, so a doc's rows are scattered across partitions and
    // the scoring aggregate's exchange would ship partial rows with each
    // (qid, doc) group duplicated once per partition it scored in —
    // measured at ×10 as 378 of q_bm25_batch_indexed's 507 MiB of
    // shuffle (NOTES r19). ONE up-front exchange of the narrow (token,
    // doc, dl, tf) rows keyed by doc_id fixes that:
    // HashPartitioning(doc_id) satisfies the aggregate's (qid, doc_id)
    // clustering (hash on a SUBSET of the group keys co-locates every
    // group), so the per-(query, doc) sum completes in place. The
    // partition count is PINNED to the session's shuffle.partitions: a
    // bare repartition(col) lets AQE coalesce this few-MB exchange to
    // ONE partition by advisory size, serializing the downstream query
    // fan-out + q6 scoring on one core (measured: serve 3.3 → 15 s at
    // sf0.1). The SCAN path passes false: posting_explode keeps a doc's
    // rows inside its scan partition, so the groups are already
    // partition-complete — the partial aggregate collapses the fan-out
    // in place and the final exchange ships ≤ one aggregated row per
    // (qid, doc), no up-front exchange needed at all.
    val placed =
      if (partitionByDoc)
        hits.repartition(
          hits.sparkSession.sessionState.conf.numShufflePartitions,
          col("doc_id"))
      else hits
    val scored = placed
      .join(broadcast(dfs), "token")
      .withColumn("tf_q6", tfQ6Expr(nD, aL))
      .withColumn("idf_q6", idfQ6Expr(nD))
      // DECIMAL product, as in bm25ScoreFrom: exact past the Long break
      .withColumn("contrib_q6",
        expr("(cast(idf_q6 as decimal(20,0)) * tf_q6) DIV 1000000"))
      .join(broadcast(qterms), "token")
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("contrib_q6")).as("score_q6"))
    graft.plans.TopKPerGroupOp.topK(scored, "qid", "score_q6", "doc_id", k)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("score_q6").desc, col("doc_id"))).cast("long"))
      .select(col("qid"), col("rank"), col("doc_id"),
        col("n_terms"), col("score_q6"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Serve [[bm25Batch]] from a postings index built over the RETRIEVAL
    * CORPUS (for the catalog face, the training side — the index must
    * not contain the benchmark docs, the same hygiene as the scan
    * path's train/eval split). The query frame's distinct terms come to
    * the driver (benchmark-sized: thousands of items × bounded distinct
    * terms — the IVF probed-cell idiom) and push bucket literals into
    * the partition filter; df and (N, A) come from the sidecars, so
    * NOTHING here re-reads corpus text. */
  def bm25BatchFromIndex(queryDocs: DataFrame, indexPath: String): DataFrame = {
    val s = queryDocs.sparkSession
    PersistedIndex.Postings.check(s, indexPath)
    val k = GraftConf.int(s, "spark.graft.search.batchK", 5)
    require(k >= 1, "spark.graft.search.batchK must be >= 1")
    val qterms = queryDocs
      .select(col("doc_id").as("qid"),
        explode(split(col("text"), " ")).as("token"))
      .distinct()
    // The distinct query-term list comes to the DRIVER (the IVF
    // probed-cell idiom) — sound because query frames are
    // benchmark-sized by contract. `spark.graft.search.maxQueryTerms`
    // makes that contract a fail-fast bound: a mis-pointed corpus-sized
    // "query" frame dies here with the conf named, instead of OOMing
    // the driver. limit(cap+1) bounds the collect itself, so even the
    // failing probe never materializes more than cap+1 rows.
    val maxTerms = GraftConf.int(s, "spark.graft.search.maxQueryTerms", 1000000)
    require(maxTerms >= 1, "spark.graft.search.maxQueryTerms must be >= 1")
    // maxTerms + 1 must not wrap negative at Int.MaxValue — the probe
    // limit saturates instead (the cap check below still fires exactly)
    val probeLimit = math.min(maxTerms.toLong + 1, Int.MaxValue.toLong).toInt
    val collected = qterms.select(col("token")).distinct()
      .limit(probeLimit).collect()
    require(collected.length <= maxTerms,
      s"bm25BatchFromIndex: query frame has more than $maxTerms distinct " +
        "terms (spark.graft.search.maxQueryTerms) — that is corpus-sized, " +
        "not benchmark-sized; index it and swap the sides, or raise the conf")
    val terms = collected.map(_.getString(0)).toSeq
    val buckets = terms.map(tokenBucket).distinct
    val meta = s.read.parquet(indexPath + "/_postings_meta")
      .select(col("n_d"), col("a_l")).collect()(0)
    val hits = s.read.parquet(indexPath)
      .filter(col("bucket").isin(buckets: _*) && col("token").isin(terms: _*))
      .select(col("token"), col("doc_id"), col("dl"), col("tf"))
    val dfs = s.read.parquet(indexPath + "/_postings_df")
      .filter(col("token").isin(terms: _*))
    bm25BatchScore(hits, dfs, qterms, meta.getLong(0), meta.getLong(1), k)
  }

  /** Catalog face: index the training side in scratch, retrieve for the
    * eval docs from the files — the same oracle as the scan-side
    * [[bm25Batch]] (the persisted hop must be invisible). */
  def bm25BatchIndexed(s: SparkSession, d: String): DataFrame = {
    val path = PersistedIndex.Postings.fresh(s, d, "train")
    val stagedTrain = documents(s, d).filter(col("doc_id") % 97 =!= 0)
    writePostingsIndexOf(stagedTrain, path)
    bm25BatchFromIndex(
      documents(s, d).filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"), col("text")),
      path)
  }

  /** Build count of the served face — lets ServedFacesSpec pin that the
    * session-cached index is built once, then only served. */
  private[graft] def servedBuilds = PersistedIndex.Postings.builds("served_train")

  /** Catalog face: the SERVE-ONLY cost of the postings lifecycle — the
    * production number. [[bm25BatchIndexed]] re-pays its index build
    * every invocation (honest for measuring the build, wrong for
    * measuring serving: bench's median then includes three builds);
    * this face serves a [[PersistedIndex.served]] artifact, so bench
    * reps 2..n measure pure serving — read it against
    * `q_bm25_batch_indexed`'s build+serve in the same run. The index
    * content depends only on (dataset, the %97 train split) — no confs.
    * Same oracle as `q_bm25_batch`, verbatim: the cached hop must stay
    * invisible in the result. */
  def bm25BatchServed(s: SparkSession, d: String): DataFrame =
    bm25BatchFromIndex(
      documents(s, d).filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"), col("text")),
      servedTrainPostings(s, d))

  /** The training-side postings index [[bm25BatchServed]] and
    * [[bm25BatchShardServed]] SHARE, built at most once per (session,
    * dataset) — one standing artifact, two probe shapes (the
    * [[servedFullPostings]] one-artifact-many-consumers contract). */
  private def servedTrainPostings(s: SparkSession, d: String): String =
    PersistedIndex.Postings.served(s, d, "served_train", "split=%97")(p =>
      writePostingsIndexOf(documents(s, d).filter(col("doc_id") % 97 =!= 0), p))

  /** The PINNED query panel of [[bm25BatchShardServed]]: eval docs
    * (`% 97 == 0`) below this id — 5 queries (0, 97, 194, 291, 388) at
    * every fixture SF and every derived scale corpus (copy i's ids
    * shift by i·10⁹, so only copy 0 contributes). Deliberately BELOW
    * the sf0.01 eval range (max eval id 485): the driver's oracle then
    * distinguishes this face from the full `_served` face instead of
    * replaying the identical panel. */
  private[graft] val BatchShardPanelMax = 485L

  /** The FIXED-PROBE production shape of batch retrieval — a pinned
    * query panel served against the standing training-side postings
    * index ([[Dedup.spanRemovalShardServed]]'s retrieval twin). The
    * full `q_bm25_batch_served` face's probe is the `% 97` eval slice,
    * which GROWS with the corpus — its ×10 serve ratio therefore
    * measures query-side growth, not the engine. A deployment's panel
    * (a benchmark suite, a alert query set) is fixed-size while the
    * index grows; this face's ×10 ratio is that number: pinned panel,
    * 1×-vs-N× standing index. Same SQL as `q_bm25_batch` with the one
    * panel predicate in the qterms CTE — per-qid results are
    * independent and train-side df/(N, A) don't depend on the panel,
    * so the rows are exactly the full face's restricted to the panel
    * (ServedFacesSpec asserts that identity). */
  def bm25BatchShardServed(s: SparkSession, d: String): DataFrame =
    bm25BatchFromIndex(
      documents(s, d)
        .filter(col("doc_id") % 97 === 0 && col("doc_id") < BatchShardPanelMax)
        .select(col("doc_id"), col("text")),
      servedTrainPostings(s, d))

  // ------------------------------------------------------------------
  // Persisted positional postings index — the production face of both
  // retrieval queries. The scan-side entries above re-derive postings
  // from text per query; at 100 TB that is a full-corpus pass per
  // search, so a real deployment builds the index ONCE and serves every
  // query from a partition-pruned slice of it (the [[Similarity]] IVF
  // index lifecycle, for text).
  // ------------------------------------------------------------------

  /** Token-hash partition count for the postings index. 64 directories
    * keeps term lookups to a 1/64 scan at any vocab size while staying
    * far from small-file territory at fixture scale; a 100 TB corpus
    * raises it with the same layout. */
  private[graft] val IndexBuckets = 64

  /** Driver-side twin of the engine's bucket expression
    * (`conv(substr(md5(token),1,6),16,10) % 64`) — serving computes the
    * query terms' buckets HERE so they can be pushed as literal
    * partition filters (the probe set is driver state, exactly like the
    * IVF probed-cell collect). PostingsIndexSpec pins the parity over
    * the whole vocab. */
  private[graft] def tokenBucket(token: String): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(token.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    (java.lang.Long.parseLong(hex.substring(0, 6), 16) % IndexBuckets).toInt
  }

  /** Postings rows for a (doc_id, text) frame: one row per (token, doc)
    * with tf, the doc's length, and the sorted 0-based position list —
    * everything both serving paths need, so neither ever re-reads text.
    * Positions make the index POSITIONAL (phrase queries); BM25 serving
    * never reads that column — parquet column pruning keeps the ranked
    * path paying only (token, doc_id, dl, tf). */
  private def postingsRows(docs: DataFrame): DataFrame = {
    // posting_explode folds each doc's token→positions map IN THE ROW,
    // replacing the posexplode + groupBy(token, doc) form whose
    // exchange shipped one row per token POSITION in document order —
    // 401 of this build's 507 MiB of ×10 shuffle (NOTES r19; tf ≈ 1
    // for natural text, so the aggregation combined nothing). The only
    // exchange left in the build is the 64-bucket layout repartition.
    graft.functions.PostingExplode.register(docs.sparkSession)
    // widen: tokenize + posting_explode is the scan stage's CPU
    graft.Tables.widen(docs)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("dl"), expr("posting_explode(toks)"))
      .withColumn("bucket",
        (conv(substring(md5(col("token")), 1, 6), 16, 10).cast("long")
          % IndexBuckets).cast("int"))
  }

  /** Build the postings index at `path`: parquet PARTITIONED BY the
    * token's md5 bucket (serving prunes to the query terms' buckets
    * statically), repartitioned so each bucket writes one file instead
    * of one per task. Sidecars (underscore convention — invisible to a
    * plain read of the index): the `_geometry` stamp ([[PersistedIndex
    * .Postings]]), `_postings_df` (vocab-sized document frequencies) and
    * `_postings_meta` (the one-row (N, A) corpus scalars BM25 needs).
    * Both are DERIVED state with one writer, [[writePostingsSidecars]],
    * so a crash between an append and its sidecar refresh is recovered
    * by calling [[refreshPostingsMeta]] again (idempotent), never by
    * re-ingesting. */
  def writePostingsIndex(s: SparkSession, d: String, path: String): Unit =
    writePostingsIndexOf(documents(s, d), path)

  /** [[writePostingsIndex]] over any (doc_id, text) frame — the unit
    * [[bm25BatchIndexed]] uses to index the training side only. */
  def writePostingsIndexOf(docs: DataFrame, path: String): Unit = {
    // sidecars from the SAME bucket-partitioned frame (the span-index
    // build's contract, writeGramIndexOf): the fresh build pays no
    // read-back of the files it just wrote
    val rows = postingsRows(docs)
      .repartition(IndexBuckets, col("bucket"))
      .persist()
    try {
      PersistedIndex.Postings.write(rows, path)
      writePostingsSidecars(rows, path)
    } finally rows.unpersist(blocking = false)
  }

  /** The one sidecar writer, over any postings frame. df counts rows
    * per token; (N, A) dedups (doc_id, dl) first because a doc
    * contributes one row per distinct token. */
  private def writePostingsSidecars(postings: DataFrame, path: String): Unit = {
    postings.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .coalesce(1)
      .write.mode("overwrite").parquet(path + "/_postings_df")
    postings.select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n_d"), sum(col("dl")).as("a_l"))
      .coalesce(1)
      .write.mode("overwrite").parquet(path + "/_postings_meta")
  }

  /** Rebuild both sidecars from the postings table (idempotent). */
  def refreshPostingsMeta(s: SparkSession, path: String): Unit =
    writePostingsSidecars(s.read.parquet(path), path)

  /** Index GROWTH, replay-safe under at-least-once delivery
    * ([[PersistedIndex.grow]]: doc_ids already indexed are skipped,
    * fresh docs append into their bucket partitions), then the derived
    * sidecars are refreshed. */
  def appendToPostingsIndex(batch: DataFrame, path: String): Unit = {
    PersistedIndex.Postings.grow(batch, path)(postingsRows)
    refreshPostingsMeta(batch.sparkSession, path)
  }

  /** Serve [[bm25TopK]] from a [[writePostingsIndex]] table —
    * bit-equal by construction (same q6 tail, same term semantics;
    * PostingsIndexSpec asserts it at two SFs). The scan is pruned TWICE:
    * the literal bucket filter prunes partitions statically (the plan
    * shows `PartitionFilters: [bucket IN (...)]`), and the token
    * predicate prunes row groups inside the surviving 1/64 slices. The
    * (N, A) scalars come from the one-row meta sidecar, NOT a corpus
    * pass. */
  def bm25FromIndex(s: SparkSession, indexPath: String): DataFrame = {
    PersistedIndex.Postings.check(s, indexPath)
    val terms = confTerms(s)
    val buckets = terms.map(tokenBucket).distinct
    val meta = s.read.parquet(indexPath + "/_postings_meta")
      .select(col("n_d"), col("a_l")).collect()(0)
    val hits = s.read.parquet(indexPath)
      .filter(col("bucket").isin(buckets: _*) && col("token").isin(terms: _*))
      .select(col("token"), col("doc_id"), col("dl"), col("tf"))
    val dfs = s.read.parquet(indexPath + "/_postings_df")
      .filter(col("token").isin(terms: _*))
    bm25ScoreFrom(hits, dfs, meta.getLong(0), meta.getLong(1))
  }

  /** Serve [[phraseSearch]] from the index: pruned read of the phrase
    * terms' postings, positions re-exploded, same intersection tail. */
  def phraseFromIndex(s: SparkSession, indexPath: String): DataFrame = {
    PersistedIndex.Postings.check(s, indexPath)
    val phrase = confPhrase(s)
    val buckets = phrase.distinct.map(tokenBucket).distinct
    val pos = s.read.parquet(indexPath)
      .filter(col("bucket").isin(buckets: _*)
        && col("token").isin(phrase.distinct: _*))
      .select(col("doc_id"), col("token"), explode(col("positions")).as("i"))
    phraseIntersectFrom(pos, phrase)
  }

  /** Catalog faces: build the index in a scratch directory, serve the
    * default query from it — oracle-checked against the SAME SQL as the
    * scan-side entries (the [[Similarity.knnIvfIndexed]] lifecycle). */
  // distinct sub names: sharing one subdir would let each face delete
  // the OTHER's still-readable index files at re-entry — the freshUnder
  // hazard is documented for same-face re-entry only, so keep it there
  def bm25Indexed(s: SparkSession, d: String): DataFrame = {
    val path = PersistedIndex.Postings.fresh(s, d, "idx_bm25")
    writePostingsIndex(s, d, path)
    bm25FromIndex(s, path)
  }

  def phraseIndexed(s: SparkSession, d: String): DataFrame = {
    val path = PersistedIndex.Postings.fresh(s, d, "idx_phrase")
    writePostingsIndex(s, d, path)
    phraseFromIndex(s, path)
  }

  /** Build count of the shared FULL-corpus served postings —
    * ServedFacesSpec pins build-once AND that the phrase and bm25
    * serve-only faces share ONE artifact. */
  private[graft] def fullServedBuilds = PersistedIndex.Postings.builds("served_full")

  /** The full-corpus postings index the two serve-only faces below
    * share ([[PersistedIndex.served]]) — ONE artifact, two consumers (a
    * search deployment serves ranked AND phrase queries from the same
    * postings; the per-invocation `_indexed` twins each rebuild their
    * own). The query terms and the phrase are serve-time dials,
    * correctly absent from the fingerprint. */
  private def servedFullPostings(s: SparkSession, d: String): String =
    PersistedIndex.Postings.served(s, d, "served_full")(p =>
      writePostingsIndexOf(documents(s, d), p))

  /** Catalog face: the SERVE-ONLY cost of the positional-postings
    * lifecycle for PHRASE search — `q_phrase_indexed` bills the
    * full-corpus build (≈1.8 of its ≈2.0 s at sf0.1) on every
    * invocation; bench's median here (reps 2..n warm) is the pure
    * pruned-read + position-intersection cost. Same oracle as
    * `q_phrase_search`, verbatim. */
  def phraseServed(s: SparkSession, d: String): DataFrame =
    phraseFromIndex(s, servedFullPostings(s, d))

  /** Serve-only BM25 top-k against the SAME shared full-corpus
    * postings — same oracle as `q_bm25_topk`, verbatim. */
  def bm25Served(s: SparkSession, d: String): DataFrame =
    bm25FromIndex(s, servedFullPostings(s, d))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bm25_topk" -> (bm25TopK _),
    "q_bm25_batch" -> (bm25Batch _),
    "q_bm25_batch_indexed" -> (bm25BatchIndexed _),
    "q_bm25_batch_served" -> (bm25BatchServed _),
    "q_bm25_batch_shard_served" -> (bm25BatchShardServed _),
    "q_phrase_search" -> (phraseSearch _),
    "q_bm25_indexed" -> (bm25Indexed _),
    "q_bm25_served" -> (bm25Served _),
    "q_phrase_indexed" -> (phraseIndexed _),
    "q_phrase_served" -> (phraseServed _))

  /** DuckDB mirrors of the fixed-point algebra above. The oracles pin
    * the conf DEFAULTS (terms `spark,query,window`, phrase
    * `window fast query`); `//` is DuckDB floor division ≡ Spark `DIV`
    * on these all-positive operands. */
  private val bm25OracleSql =
    """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_d,
        |    CAST(SUM(dl) AS BIGINT) AS a_l
        |  FROM docs),
        |hits AS (
        |  SELECT doc_id, dl, token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS token FROM docs)
        |  WHERE token IN ('spark', 'query', 'window')
        |  GROUP BY doc_id, dl, token),
        |dfs AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM hits GROUP BY token),
        |scored AS (
        |  SELECT h.doc_id,
        |    ((1000000 * (2 * (s.n_d - f.df) + 1)) // (2 * f.df + 1)
        |     * ((22000000 * h.tf * s.a_l)
        |        // (10 * h.tf * s.a_l + 3 * s.a_l + 9 * h.dl * s.n_d)))
        |      // 1000000 AS contrib_q6
        |  FROM hits h JOIN dfs f USING (token), stats s)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  CAST(SUM(contrib_q6) AS BIGINT) AS score_q6
        |FROM scored GROUP BY doc_id
        |ORDER BY score_q6 DESC, doc_id LIMIT 20""".stripMargin

  private val phraseOracleSql =
    """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(ts) AS token,
        |    unnest(range(1, len(ts) + 1)) AS i
        |  FROM toks),
        |t0 AS (SELECT doc_id, i - 1 AS start FROM pos WHERE token = 'window'),
        |t1 AS (SELECT doc_id, i - 2 AS start FROM pos WHERE token = 'fast'),
        |t2 AS (SELECT doc_id, i - 3 AS start FROM pos WHERE token = 'query'),
        |m AS (
        |  SELECT t0.doc_id, t0.start
        |  FROM t0 JOIN t1 USING (doc_id, start) JOIN t2 USING (doc_id, start))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |  CAST(MIN(start) AS BIGINT) AS first_pos
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // single per-qid window — semantically what the engine's spilling
  // top-k operator computes distributed; same q6 algebra on the
  // training side only
  private val bm25BatchOracleSql =
    """WITH docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |  FROM documents),
      |train AS (SELECT * FROM docs WHERE doc_id % 97 <> 0),
      |stats AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_d,
      |    CAST(SUM(dl) AS BIGINT) AS a_l
      |  FROM train),
      |qterms AS (
      |  SELECT DISTINCT doc_id AS qid, unnest(toks) AS token
      |  FROM docs WHERE doc_id % 97 = 0),
      |hits AS (
      |  SELECT doc_id, dl, token, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, dl, unnest(toks) AS token FROM train)
      |  WHERE token IN (SELECT token FROM qterms)
      |  GROUP BY doc_id, dl, token),
      |dfs AS (
      |  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM hits GROUP BY token),
      |scored AS (
      |  SELECT q.qid, h.doc_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_terms,
      |    CAST(SUM(
      |      ((1000000 * (2 * (s.n_d - f.df) + 1)) // (2 * f.df + 1)
      |       * ((22000000 * h.tf * s.a_l)
      |          // (10 * h.tf * s.a_l + 3 * s.a_l + 9 * h.dl * s.n_d)))
      |        // 1000000) AS BIGINT) AS score_q6
      |  FROM hits h JOIN dfs f USING (token)
      |  JOIN qterms q USING (token), stats s
      |  GROUP BY q.qid, h.doc_id),
      |ranked AS (
      |  SELECT qid, doc_id, n_terms, score_q6,
      |    row_number() OVER (PARTITION BY qid
      |      ORDER BY score_q6 DESC, doc_id) AS rank
      |  FROM scored)
      |SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id, n_terms, score_q6
      |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_bm25_topk" -> bm25OracleSql,
    "q_bm25_batch" -> bm25BatchOracleSql,
    "q_bm25_batch_indexed" -> bm25BatchOracleSql,
    "q_bm25_batch_served" -> bm25BatchOracleSql,
    // fixed-panel serving: the scan SQL verbatim with ONE panel
    // predicate in the qterms CTE — train-side stats/df CTEs are
    // untouched (df per token and (N, A) don't depend on the panel),
    // so this is the batch SQL a 5-query pinned panel would run.
    // Derived via OracleSql.mustReplace with the panel constant
    // interpolated: a base-SQL reformat or a constant change can't
    // silently diverge engine from oracle — the no-op replace throws
    // at object init (any spec touching this map).
    "q_bm25_batch_shard_served" -> OracleSql.mustReplace(bm25BatchOracleSql,
      "FROM docs WHERE doc_id % 97 = 0)",
      s"FROM docs WHERE doc_id % 97 = 0 AND doc_id < $BatchShardPanelMax)"),
    "q_phrase_search" -> phraseOracleSql,
    // the indexed/served faces replay the scan-side SQL: same semantics
    // — the index is a layout decision the oracle must not see
    "q_bm25_indexed" -> bm25OracleSql,
    "q_bm25_served" -> bm25OracleSql,
    "q_phrase_indexed" -> phraseOracleSql,
    "q_phrase_served" -> phraseOracleSql)
}
