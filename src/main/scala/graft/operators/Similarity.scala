package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Approximate-nearest-neighbor / similarity search over the `embeddings`
  * table (64-dim float vectors).
  *
  * Three tiers, mirroring how you'd actually run this at 100 TB:
  *  1. brute-force cosine top-k with the (small) query set **broadcast** —
  *     the correctness baseline; the scan side streams, never shuffles;
  *  2. sign-LSH (random-hyperplane family, here fixed axis hyperplanes for
  *     determinism): bucket join prunes the candidate space, turning the
  *     n×m cross product into per-bucket joins — this is the scale path;
  *  3. threshold self-join for embedding near-dedup.
  *
  * The dot product is a per-row `zip_with`+`aggregate` fold in double
  * precision — sequential and deterministic, so results are oracle-exact
  * after rounding to 6 decimals (which absorbs any last-ulp divergence
  * between engines' summation codepaths).
  */
object Similarity {

  /** The cosine in DuckDB SQL (explicit per-dimension fold — identical
    * math/order to the codegen'd [[graft.functions.FloatVecDot]] path). */
  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       | / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
       |  * sqrt(list_sum(list_transform(range(1, 65), i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))""".stripMargin

  /** Brute-force cosine top-5 for 20 query vectors: broadcast the queries,
    * stream the candidate scan, rank per query. */
  def knnBrute(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = embeddings(s, d)
    // norms are computed once per vector BEFORE the pair join (sqrt(na) is
    // the same double either way, so results stay bit-identical) — each
    // pair then costs one dot product instead of three.
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        sqrt(expr("vec_dot(embedding, embedding)")).as("qn"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      sqrt(expr("vec_dot(embedding, embedding)")).as("cn"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    c.join(broadcast(q), col("qid") =!= col("cid"))
      .withColumn("sim", round(expr("vec_dot(qv, cv)") / (col("qn") * col("cn")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("cid"), col("rn").cast("long").as("rn"), col("sim"))
      .orderBy(col("qid"), col("rn"))
  }

  /** Sign-LSH bucketed ANN: 4-bit bucket from the sign of axis
    * hyperplanes (dims 1/17/33/49), candidates restricted to the query's
    * bucket — the IVF-style scale path (deterministic planes → oracle-able). */
  def knnLsh(s: SparkSession, d: String): DataFrame = {
    def bucketOf(v: String): Column = concat(
      when(expr(s"element_at($v, 1)") >= 0f, "1").otherwise("0"),
      when(expr(s"element_at($v, 17)") >= 0f, "1").otherwise("0"),
      when(expr(s"element_at($v, 33)") >= 0f, "1").otherwise("0"),
      when(expr(s"element_at($v, 49)") >= 0f, "1").otherwise("0"))
    graft.functions.VectorFunctions.register(s)
    val e = embeddings(s, d)
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        bucketOf("embedding").as("bucket"),
        sqrt(expr("vec_dot(embedding, embedding)")).as("qn"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      bucketOf("embedding").as("cbucket"),
      sqrt(expr("vec_dot(embedding, embedding)")).as("cn"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    c.join(broadcast(q), col("bucket") === col("cbucket") && col("qid") =!= col("cid"))
      .withColumn("sim", round(expr("vec_dot(qv, cv)") / (col("qn") * col("cn")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("bucket"), col("cid"),
        col("rn").cast("long").as("rn"), col("sim"))
      .orderBy(col("qid"), col("rn"))
  }

  /** IVF-style ANN: a coarse quantizer partitions the corpus into cells;
    * queries probe their nprobe=2 nearest cells and rank only those
    * cells' members — the inverted-file layout ANN engines use at scale
    * (cell = posting list; at 100 TB each cell is a partition and probing
    * is partition pruning).
    *
    * The quantizer is seeded with the first 16 vectors and then refined by
    * ONE Lloyd step (assign → per-cell mean → re-assign), oracle-exactly:
    * the per-dimension mean is an integer sum of `floor(v·10⁶ + 0.5)`
    * quantities divided in IEEE doubles — no FP-summation-order
    * sensitivity, so the DuckDB oracle replays the learned centroids
    * bit-for-bit. (A plain double mean would depend on Spark's partial-agg
    * order and could not be oracle-checked.) Scale shape of the update:
    * explode to (cell, dim) → partial-aggregated shuffle of 16×64 rows —
    * constant-size exchange regardless of corpus size.
    *
    * What the Lloyd step guarantees — and what it doesn't: cosine
    * assignment + per-cell mean is spherical k-means (cosine is scale-
    * invariant in the centroid, so the plain mean ranks identically to the
    * normalized mean), which monotonically improves the quantizer
    * objective, the mean best-centroid cosine (SimilaritySpec asserts
    * this: 0.2449 → 0.3108 on the sf0.001 fixture). Recall@k is NOT
    * monotone in it on this corpus — the synthetic vectors are
    * near-isotropic (see [[embedNearDup]]'s Hamming spread measurement),
    * so probed-cell membership of true neighbors is chance; measured
    * recall@3 drifts 0.88→0.80 over iterations 0–4 at both sf0.001 and
    * sf0.01. One iteration is kept because the objective (what IVF cell
    * residency actually optimizes at 100 TB: vectors near their posting
    * list's centroid) improves 1.27×, while recall stays within noise of
    * the seed. On a corpus with real cluster structure both move together.
    *
    * Conf-gated quantizer upgrades (IvfSeedingSpec pins both; the catalog
    * default stays oracle-replayed): `spark.graft.ivf.seeding=kmeanspp`
    * switches to deterministic farthest-point seeding
    * ([[farthestPointSeeds]]), and `spark.graft.ivf.objectiveEps=<ε>`
    * turns `lloydIters` into a cap with an objective-delta early stop. */
  def knnIvf(s: SparkSession, d: String): DataFrame =
    knnIvfImpl(s, d,
      lloydIters = graft.GraftConf.int(s, "spark.graft.ivf.lloydIters", 1))

  /** Seed-only variant (no Lloyd step) — kept for the quantizer-quality
    * spec; not a catalog query. */
  private[graft] def knnIvfSeed(s: SparkSession, d: String): DataFrame =
    knnIvfImpl(s, d, lloydIters = 0)

  /** The scored-assignment frame (vec_id, embedding, nrm, cent_id, crk, cs)
    * for a given Lloyd depth — shared by [[knnIvfImpl]] and the
    * quantizer-objective spec (which averages `cs` at crk=1: the quantity
    * spherical k-means monotonically improves). Persisted + CacheScope-
    * tracked; caller releases via CacheScope. */
  private[graft] def ivfTop2(s: SparkSession, d: String, lloydIters: Int,
      seeding: String = null, objectiveEps: java.lang.Double = null,
      cells: java.lang.Integer = null): DataFrame =
    ivfModel(s, d, lloydIters, seeding, objectiveEps, cells)._2

  /** [[ivfTop2]] plus the trained centroid table (cent_id, cvec, cnrm) —
    * the model a persisted index stores ([[writeIvfIndex]]). */
  private[graft] def ivfModel(s: SparkSession, d: String, lloydIters: Int,
      seeding: String = null, objectiveEps: java.lang.Double = null,
      cells: java.lang.Integer = null)
      : (DataFrame, DataFrame) = {
    graft.functions.VectorFunctions.register(s)
    import org.apache.spark.sql.expressions.Window
    val e = embeddings(s, d)
    val base = e.select(col("vec_id"),
      col("embedding"), col("embedding").cast("array<double>").as("emb_d"),
      sqrt(expr("vec_dot(embedding, embedding)")).as("nrm"))
    // seed centroids, widened to double (exact) so the seed and learned
    // paths share one scoring kernel (vec_dot_d over a widened float
    // vector is bit-identical to vec_dot over the floats).
    //   first    — first 16 vectors: the oracle-pinned catalog default
    //              (the DuckDB oracle replays `vec_id < 16` verbatim)
    //   kmeanspp — deterministic farthest-point traversal (the k-means++
    //              hard-max variant): better-spread seeds → higher
    //              quantizer objective on clustered corpora. Not the
    //              default because the oracle would have to replay the
    //              16-step argmax recursion; IvfSeedingSpec pins its
    //              objective ≥ the default path's instead.
    // explicit params pin a caller to a quantizer config regardless of
    // session confs (knnIvfPq pins the oracle defaults); null = inherit
    // the session's spark.graft.ivf.* confs (knnIvf's behavior)
    val seedMode = Option(seeding)
      .getOrElse(graft.GraftConf.get(s, "spark.graft.ivf.seeding").getOrElse("first"))
    // cell count k — the scale dial of the coarse quantizer (posting
    // lists shrink as ~N/k, so a real deployment raises k with the
    // corpus: FAISS guidance is k ≈ √N). The oracle pins the default 16
    // (DuckDB replays `vec_id < 16` verbatim); explicit param > conf,
    // like the other quantizer knobs.
    val k = Option(cells).map(_.intValue)
      .getOrElse(graft.GraftConf.int(s, "spark.graft.ivf.cells", 16))
    require(k >= 1, s"spark.graft.ivf.cells must be >= 1, got $k")
    val seeds = seedMode match {
      case "kmeanspp" => farthestPointSeeds(base, k)
      case _ => base.filter(col("vec_id") < k)
        .select(col("vec_id").as("cent_id"), col("emb_d").as("cvec"),
          col("nrm").as("cnrm"))
    }
    // score every vector against the broadcast centroids; cell = argmax
    // cosine (rounded like every similarity in this module); keep top-2
    // so corpus assignment (crk=1) and query probes (crk<=2) share a pass
    def scoreTop2(cents: DataFrame): DataFrame =
      base.join(broadcast(cents))
        .withColumn("cs",
          round(expr("vec_dot_d(emb_d, cvec)") / (col("nrm") * col("cnrm")), 6))
        .withColumn("crk", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("cs").desc, col("cent_id"))))
        .filter(col("crk") <= 2)
        .select(col("vec_id"), col("embedding"), col("nrm"),
          col("cent_id"), col("crk"), col("cs"))
    // Lloyd steps. Per-dimension EXACT integer accumulation:
    // qv = floor(v·10⁶ + 0.5) (identical rounding both engines), mean
    // = CAST(Σqv AS DOUBLE) / CAST(n·10⁶ AS DOUBLE) — two exact
    // operands, one IEEE division → bit-identical centroids.
    def lloydStep(cents: DataFrame): DataFrame = {
      val a0 = scoreTop2(cents).filter(col("crk") === 1)
        .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))
      val dims = a0.select(col("cell"), posexplode(col("embedding")))
        .select(col("cell"), (col("pos") + 1).as("dim"),
          expr("CAST(floor(CAST(col AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT)").as("qv"))
      val upd = dims.groupBy(col("cell"), col("dim"))
        .agg(sum(col("qv")).as("sq"), count(lit(1)).as("n"))
        .select(col("cell"), col("dim"),
          (col("sq").cast("double") / (col("n") * 1000000L).cast("double")).as("cval"))
      upd.groupBy(col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(dim, cval))), x -> x.cval)")
          .as("cvec"))
        .select(col("cell").as("cent_id"), col("cvec"),
          sqrt(expr("vec_dot_d(cvec, cvec)")).as("cnrm"))
    }
    // spark.graft.ivf.objectiveEps > 0 turns lloydIters into a CAP with
    // an objective-delta stop: iterate until the quantizer objective
    // (mean best-centroid cosine — the quantity spherical k-means
    // monotonically improves) gains less than eps. Each check is one
    // scalar aggregate per iteration (MLlib-style convergence test,
    // O(1) driver data) — conf-gated, since the oracle pins the default
    // fixed-depth path.
    val eps = Option(objectiveEps).map(_.doubleValue)
      .getOrElse(graft.GraftConf.double(s, "spark.graft.ivf.objectiveEps", 0.0))
    def objective(cents: DataFrame): Double =
      scoreTop2(cents).filter(col("crk") === 1)
        .agg(avg(col("cs"))).head().getDouble(0)
    var cents = seeds
    if (eps > 0 && lloydIters > 0) {
      var prevObj = objective(cents)
      var it = 0
      var go = true
      while (go) {
        cents = lloydStep(cents)
        it += 1
        val obj = objective(cents)
        go = it < lloydIters && obj - prevObj >= eps
        prevObj = obj
      }
    } else {
      for (_ <- 1 to lloydIters) cents = lloydStep(cents)
    }
    // materialize the trained quantizer once: the centroid frame is ≤ k
    // rows, but its PLAN embeds the full corpus assignment of every
    // Lloyd step — without this cache, every later action that touches
    // `cents` (the final assignment's broadcast build AND the index
    // sidecar write in writeIvfIndexModel) re-trains the quantizer
    // end-to-end (measured r20: one extra full assignment pass per
    // index build).
    val centsM = graft.CacheScope.track(cents.persist())
    centsM.count()
    val top2 = scoreTop2(centsM).persist()
    graft.CacheScope.track(top2)
    top2.count()
    (centsM, top2)
  }

  /** IVF+PQ composed (the FAISS `IVF16,PQ8` architecture — what a
    * billion-vector index actually runs): the IVF coarse quantizer
    * (same oracle-pinned seeds + one Lloyd iteration as [[knnIvf]])
    * restricts each query to its 2 probed cells' members, and those
    * candidates are scored by PQ ADC table lookups ([[knnPq]]'s
    * codebooks) instead of full vectors. The two stages multiply:
    * probing reads ~nprobe/ncells of the corpus, ADC reads 8 B codes
    * instead of 256 B floats — together the difference between a scan
    * over everything and a scan over almost nothing. Both stages reuse
    * their standalone operators' oracle-exact machinery, so the
    * composition stays hash-checkable. */
  def knnIvfPq(s: SparkSession, d: String): DataFrame = ivfPqTopK(s, d, 3)

  /** [[knnIvfPq]] with the per-query depth parameterized — the catalog
    * face pins k = 3 for its oracle; the smoke's recall artifact ranks
    * the same probe+ADC pipeline at k = 10 (ScaleSmoke pqRecall). */
  private[graft] def ivfPqTopK(s: SparkSession, d: String, k: Int): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    import org.apache.spark.sql.expressions.Window
    // the composed oracle replays exactly one Lloyd iteration over the
    // first-16 seeds with no early stop — pin ALL quantizer knobs
    // explicitly so session confs (seeding/objectiveEps/cells) can't
    // silently diverge this query from its oracle
    val top2 = ivfTop2(s, d, lloydIters = 1, seeding = "first",
      objectiveEps = 0.0, cells = 16)
    val assigned = top2.filter(col("crk") === 1)
      .select(col("vec_id").as("cid"), col("cent_id").as("cell"))
    val qprobes = top2.filter(col("vec_id") < 30 && col("crk") <= 2)
      .select(col("vec_id").as("qid"), col("cent_id").as("cell"))
    val subs = pqSubs(s, d)
    val pcents = pqCodebooks(s, subs, 0)
    val codes = subs.join(broadcast(pcents), "s")
      .withColumn("d2", round(expr("vec_dist2_d(sub, cvec)"), 6))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(col("d2"), col("cent_id"))).as("m"))
      .select(col("vec_id").as("cid"), col("s"), col("m.cent_id").as("code"))
    val dtab = subs.filter(col("vec_id") < 30)
      .select(col("vec_id").as("qid"), col("s"), col("sub").as("qsub"))
      .join(broadcast(pcents), "s")
      .select(col("qid"), col("s"), col("cent_id").as("code"),
        round(expr("vec_dist2_d(qsub, cvec)"), 6).as("d2"))
    qprobes.join(assigned, "cell")
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"))
      .join(codes, "cid")
      .join(broadcast(dtab), Seq("qid", "s", "code"))
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("d2").cast(DecimalType(18, 6))).cast("double").as("adc_dist2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc_dist2"), col("cid"))))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("rn").cast("long").as("rn"),
        col("adc_dist2"))
      .orderBy(col("qid"), col("rn"))
  }

  /** Per-cell diagnostics over the trained IVF quantizer — the table an
    * index operator reads before retuning `nprobe`/recall on a
    * billion-vector deployment: cell population (posting-list length —
    * the scan cost of probing that cell), mean and minimum member cosine
    * to the centroid (cell coherence / radius), and the count of EDGE
    * vectors whose top-2 centroid margin is < 0.01 (vectors that flip
    * cells under retraining and are exactly the ones multi-probe exists
    * to rescue). All quantizer knobs are pinned to the oracle replay
    * (first-16 seeds, one Lloyd step) like [[knnIvfPq]], so session
    * confs can't diverge this face from `q_knn_ivf`'s trained model.
    *
    * Hash-exactness: means are exact-integer accumulated (qcs =
    * floor(cs·10⁶ + 0.5) as BIGINT, one IEEE division at the end — the
    * [[ivfModel]] Lloyd-step rule), and the edge test compares the
    * INTEGER quantities (q1 − q2 < 10⁴), so no float-boundary flake in
    * either engine. Scale shape: one pass over the already-persisted
    * top-2 assignment, a 16-group aggregate — free next to training. */
  def clusterProfile(s: SparkSession, d: String): DataFrame = {
    val top2 = ivfTop2(s, d, lloydIters = 1, seeding = "first",
      objectiveEps = 0.0, cells = 16)
    val q = top2.select(col("vec_id"), col("cent_id"), col("crk"),
      expr("CAST(floor(cs * 1000000.0D + 0.5D) AS BIGINT)").as("qcs"))
    val a1 = q.filter(col("crk") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"), col("qcs").as("q1"))
    val a2 = q.filter(col("crk") === 2)
      .select(col("vec_id"), col("qcs").as("q2"))
    a1.join(a2, Seq("vec_id"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("cell_size"),
        (sum(col("q1")).cast("double") /
          (count(lit(1)) * 1000000L).cast("double")).as("mean_cos"),
        (min(col("q1")).cast("double") / 1000000.0).as("min_cos"),
        sum(when(col("q1") - col("q2") < 10000L, 1L).otherwise(0L)).as("n_edge"))
      .orderBy(col("cell"))
  }

  /** (vec_id, s, sub): every vector split into its 8 double-typed
    * 8-dim subvectors — the frame both PQ stages run on. */
  private def pqSubs(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb_d"))
      .select(col("vec_id"), explode(expr(
        "transform(sequence(0, 7), s -> named_struct('s', s, 'sub', slice(emb_d, s*8+1, 8)))"))
        .as("x"))
      .select(col("vec_id"), col("x.s").as("s"), col("x.sub").as("sub"))

  /** Mean per-(vector, subspace) squared distance to the nearest
    * codebook entry after `iters` refinements — the PQ quantization
    * error PqSpec asserts monotone. */
  private[graft] def pqQuantError(s: SparkSession, d: String, iters: Int): Double = {
    graft.functions.VectorFunctions.register(s)
    val subs = pqSubs(s, d)
    subs.join(broadcast(pqCodebooks(s, subs, iters)), "s")
      .withColumn("d2", expr("vec_dist2_d(sub, cvec)"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(col("d2")).as("md"))
      .agg(avg(col("md")))
      .head().getDouble(0)
  }

  /** PQ codebooks after `iters` Lloyd refinements per subspace
    * (`spark.graft.pq.lloydIters`, default 0 = the oracle-pinned
    * first-16 seeds). The update is the IVF quantizer's integer-exact
    * per-dimension mean (`Σ floor(v·10⁶+0.5)` / `n·10⁶`) applied
    * independently in each of the 8 subspaces, so refined codebooks are
    * bit-replayable too; L2 assignment + mean update is textbook
    * k-means, monotone in the quantization error (PqSpec asserts). A
    * cell that loses every member keeps its previous centroid. Each
    * iteration is one corpus-codes pass + a 8×16×8-row update exchange
    * — constant-size regardless of corpus. */
  private def pqCodebooks(s: SparkSession, subs: DataFrame, iters: Int): DataFrame = {
    val seeds = subs.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("s"), col("sub").as("cvec"))
    var cents = seeds
    for (_ <- 1 to iters) {
      val assign = subs.join(broadcast(cents), "s")
        .withColumn("d2", round(expr("vec_dist2_d(sub, cvec)"), 6))
        .groupBy(col("vec_id"), col("s"))
        .agg(min(struct(col("d2"), col("cent_id"))).as("m"))
        .select(col("vec_id"), col("s"), col("m.cent_id").as("cell"))
      val upd = assign.join(subs, Seq("vec_id", "s"))
        .select(col("s"), col("cell"), posexplode(col("sub")))
        .select(col("s"), col("cell"), (col("pos") + 1).as("dim"),
          expr("CAST(floor(col * 1000000.0D + 0.5D) AS BIGINT)").as("qv"))
        .groupBy(col("s"), col("cell"), col("dim"))
        .agg(sum(col("qv")).as("sq"), count(lit(1)).as("n"))
        .select(col("s"), col("cell"), col("dim"),
          (col("sq").cast("double") / (col("n") * 1000000L).cast("double")).as("cval"))
        .groupBy(col("s"), col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(dim, cval))), x -> x.cval)")
          .as("cvec_new"))
      cents = cents.join(upd,
          cents("s") === upd("s") && cents("cent_id") === upd("cell"), "left")
        .select(cents("cent_id"), cents("s"),
          coalesce(col("cvec_new"), cents("cvec")).as("cvec"))
    }
    cents
  }

  /** Deterministic farthest-point seeding (the k-means++ hard-max
    * variant, MLlib-KMeans-shaped): seed 1 is the smallest `vec_id`;
    * each next seed is the vector whose best cosine to the chosen set is
    * LOWEST (i.e. angularly farthest), ties broken by smallest `vec_id`
    * — fully replayable, no RNG. The running best-cosine frame is
    * persisted once and updated by k−1 narrow one-row broadcast joins
    * (each new seed is a persisted 1-row frame, so nothing re-scans the
    * corpus per step and no vector data is collected to the driver);
    * `TakeOrderedAndProject` picks each argmin distributedly. */
  private def farthestPointSeeds(base: DataFrame, k: Int): DataFrame = {
    // Eager localCheckpoint (not persist) after every step: the
    // traversal is inherently recursive (seedᵢ selects from curᵢ, which
    // joins seedᵢ₋₁, which selects from curᵢ₋₁ ...), so without lineage
    // TRUNCATION the logical plan doubles per seed and overflows the
    // planner at k=16. Checkpointed blocks are freed by the
    // ContextCleaner once unreferenced.
    def seedOf(df: DataFrame): DataFrame =
      df.limit(1)
        .select(col("vec_id").as("cent_id"), col("emb_d").as("cvec"),
          col("nrm").as("cnrm"))
        .localCheckpoint(true)
    var cur = base.select(col("vec_id"), col("emb_d"), col("nrm"),
      lit(-2.0).as("maxcs")).localCheckpoint(true)
    var seed = seedOf(cur.orderBy(col("vec_id")))
    val seeds = scala.collection.mutable.ListBuffer(seed)
    for (_ <- 2 to k) {
      cur = cur.join(broadcast(seed.select(col("cvec"), col("cnrm"))))
        .withColumn("maxcs", greatest(col("maxcs"),
          round(expr("vec_dot_d(emb_d, cvec)") / (col("nrm") * col("cnrm")), 6)))
        .select(col("vec_id"), col("emb_d"), col("nrm"), col("maxcs"))
        .localCheckpoint(true)
      seed = seedOf(cur.orderBy(col("maxcs"), col("vec_id")))
      seeds += seed
    }
    seeds.reduce(_ union _)
  }

  private[graft] def knnIvfImpl(s: SparkSession, d: String, lloydIters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // nprobe: how many nearest cells a query probes (the recall/cost
    // knob every IVF engine exposes; the oracle pins the default 2)
    val nprobe = graft.GraftConf.int(s, "spark.graft.ivf.nprobe", 2)
    require(nprobe >= 1 && nprobe <= 2,
      s"nprobe must be in [1, 2] (scoreTop2 retains 2 cells), got $nprobe")
    val top2 = ivfTop2(s, d, lloydIters)
    val assigned = top2.filter(col("crk") === 1)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"),
        col("nrm").as("cnrm"), col("cent_id").as("cell"))
    val qprobes = top2.filter(col("vec_id") < 30 && col("crk") <= nprobe)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("qnrm"), col("cent_id").as("cell"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    assigned.join(qprobes, "cell")
      .filter(col("qid") =!= col("cid"))
      .withColumn("sim", round(expr("vec_dot(qemb, cemb)") / (col("qnrm") * col("cnrm")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("cid"), col("rn").cast("long").as("rn"), col("sim"))
      .orderBy(col("qid"), col("rn"))
  }

  /** Embedding near-duplicate pairs, EXACT, as a block-tile kernel.
    *
    * At this corpus's 0.35 threshold the vectors are near-isotropic —
    * qualifying pairs span every sign-LSH Hamming distance (measured: 46/
    * 91/91/38/5 across distances 0–4), so NO bucketing scheme can block an
    * exact threshold join; exact cosine-all-pairs on such data is
    * inherently O(n²) FLOPs. What CAN be fixed is the O(n²) *row*
    * materialization: the old `a.join(b, v1 < v2)` BroadcastNestedLoop
    * created one Spark row per candidate pair. Here the self-join is tiled
    * into B(B+1)/2 block pairs via *equi-joins* on generated tile keys;
    * each tile runs a tight primitive kernel (same double fold as
    * [[graft.functions.FloatVecDot]], norms hoisted) and emits ONLY
    * qualifying pairs — candidates never become rows.
    *
    * Scale: data moved is O(n·B) (each block joins B tiles), tasks are
    * O(B²) dense compute kernels — the standard exact all-pairs layout
    * (block matrix product). Pick B ≈ √(cluster cores); for genuinely
    * deduplicatable corpora (sim ≥ 0.9) use [[embedNearDupLsh]], which is
    * sub-quadratic. */
  def embedNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val B = 16
    val blocks = graft.Tables.widen(embeddings(s, d))
      .groupBy(pmod(hash(col("vec_id")), lit(B)).as("bid"))
      .agg(collect_list(struct(col("vec_id"), col("embedding"))).as("vecs"))
    val tiles = s.createDataset(
      for { i <- 0 until B; j <- i until B } yield (i, j)).toDF("bi", "bj")
    val tiled = blocks.select(col("bid").as("bi"), col("vecs").as("va"))
      .join(broadcast(tiles), "bi")
      .join(blocks.select(col("bid").as("bj"), col("vecs").as("vb")), "bj")
    // pinned-count repartition before the kernel: the tile frame is a few
    // MB, so AQE's size-based coalescing folds the join output to ONE
    // partition and serializes the O(n²/B²·d) per-tile kernel — the same
    // blind spot as the bm25 scoring fan-out (r19); the count is pinned so
    // the runtime cannot re-coalesce it. B(B+1)/2 tiles spread round-robin.
    val out = tiled.select(col("bi"), col("bj"), col("va"), col("vb"))
      .repartition(s.sparkContext.defaultParallelism)
      .flatMap { r =>
      def unpack(field: String) = {
        val rows = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](field)
        val ids = new Array[Long](rows.length)
        val vecs = new Array[Array[Float]](rows.length)
        val norms = new Array[Double](rows.length)
        var k = 0
        while (k < rows.length) {
          ids(k) = rows(k).getLong(0)
          vecs(k) = rows(k).getAs[scala.collection.Seq[Float]](1).toArray
          var sx = 0.0; var i = 0; val v = vecs(k)
          while (i < v.length) { sx += v(i).toDouble * v(i).toDouble; i += 1 }
          norms(k) = math.sqrt(sx)
          k += 1
        }
        (ids, vecs, norms)
      }
      val (aid, av, an) = unpack("va")
      val (bid, bv, bn) = unpack("vb")
      // Diagonal tiles see each unordered pair twice (x,y)/(y,x): keep the
      // strict id order. Off-diagonal tiles see it once, in whichever
      // orientation the ids hashed to: normalize to (min, max).
      val diagonal = r.getAs[Int]("bi") == r.getAs[Int]("bj")
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var x = 0
      while (x < aid.length) {
        var y = 0
        while (y < bid.length) {
          if (if (diagonal) aid(x) < bid(y) else aid(x) != bid(y)) {
            var sdot = 0.0; var i = 0
            val vx = av(x); val vy = bv(y)
            val n = math.min(vx.length, vy.length)
            while (i < n) { sdot += vx(i).toDouble * vy(i).toDouble; i += 1 }
            // identical rounding to Spark's round() / the DuckDB oracle
            val sim = java.math.BigDecimal.valueOf(sdot / (an(x) * bn(y)))
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
            if (sim >= 0.35) buf +=
              ((math.min(aid(x), bid(y)), math.max(aid(x), bid(y)), sim))
          }
          y += 1
        }
        x += 1
      }
      buf
    }
    out.toDF("v1", "v2", "sim").orderBy(col("v1"), col("v2"))
  }

  /** Sub-quadratic near-dup: banded sign-LSH candidate generation (8 bands
    * × 8 hyperplane bits = all 64 dims), verify candidates exactly. The
    * 100 TB path: explode → equi-join on (band, bucket) → distinct — the
    * same shape Spark ML's `approxSimilarityJoin` lowers to. Recall is
    * tunable by band shape: ≈93% at sim 0.9 (real duplicates); far lower at
    * this corpus's adversarial 0.35 threshold, which is WHY the exact tiled
    * kernel above also exists. The oracle replicates the banding, so the
    * gate stays exact. */
  def embedNearDupLsh(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    embedNearDupLshOf(embeddings(s, d), Dedup.lshMaxBucket(s))
  }

  /** 8-band × 8-bit sign-LSH band keys for a (vec_id, embedding) frame —
    * one row per (vec_id, band). Shared by the self-join
    * ([[embedNearDupLshOf]]), the incremental base-vs-delta join
    * ([[incrementalNearDup]]) and the persisted vector index
    * ([[writeVectorBandIndex]]). */
  private def signBands(e: DataFrame): DataFrame = {
    val bucketExprs = (0 until 8).map { t =>
      val bits = (1 to 8).map(i =>
        s"CASE WHEN element_at(embedding, ${t * 8 + i}) >= 0F THEN '1' ELSE '0' END")
      struct(lit(t).as("band"), expr(bits.mkString("concat(", ", ", ")")).as("bucket"))
    }
    e.select(col("vec_id"), explode(array(bucketExprs: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Exact-identity key of an embedding (md5 over the delimited float
    * renders) — the hot-bucket guard's equality-path key. */
  private val embedKey =
    expr("md5(concat_ws(',', transform(embedding, x -> CAST(x AS STRING))))")

  /** [[embedNearDupLsh]] over an arbitrary (vec_id, embedding) frame with
    * an explicit hot-bucket cap — the seam SimilaritySpec's adversarial
    * fixture drives. cap <= 0 = unguarded (the oracle's semantics);
    * cap > 0 applies the [[HotKeyJoin]] guard on (band, bucket): cold
    * rows joined pairwise, and vectors hot in ALL 8 bands routed to the
    * exact md5-equality path as a STAR to each identical-vector group's
    * min id (identical vectors share every bucket, so a group bigger than
    * cap is hot everywhere and keeps full recall; non-identical
    * hot-bucket pairs are the documented recall trade). Star candidates
    * still flow through the exact cosine verification below, so emitted
    * sims are computed, never assumed. */
  private[graft] def embedNearDupLshOf(e: DataFrame, cap: Int): DataFrame = {
    graft.functions.VectorFunctions.register(e.sparkSession)
    // the guarded plan reads bands from up to 5 branches — pinned (one
    // explode over the corpus) instead of re-derived per branch
    val bands = HotKeyJoin.pinned(signBands(e), cap)
    def bandJoin(b: DataFrame) =
      b.as("a")
        .join(b.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"))
    val rawCands = HotKeyJoin.hotKeys(bands, HotKeyJoin.BandKey, cap) match {
      case None => bandJoin(bands)
      case Some(hot) =>
        val keyed = HotKeyJoin.allBandsHot(bands, hot, "vec_id", 8).join(e, "vec_id")
          .select(col("vec_id"), embedKey.as("k"))
        bandJoin(HotKeyJoin.cold(bands, hot, HotKeyJoin.BandKey)).unionByName(
          HotKeyJoin.star(keyed, Seq("k"), "vec_id")
            .select(col("rep").as("v1"), col("vec_id").as("v2")))
    }
    val cands = rawCands.distinct()
    val withVec = cands
      .join(e.select(col("vec_id").as("v1"), col("embedding").as("e1"),
        sqrt(expr("vec_dot(embedding, embedding)")).as("n1")), "v1")
      .join(e.select(col("vec_id").as("v2"), col("embedding").as("e2"),
        sqrt(expr("vec_dot(embedding, embedding)")).as("n2")), "v2")
    withVec
      .withColumn("sim", round(expr("vec_dot(e1, e2)") / (col("n1") * col("n2")), 6))
      .filter(col("sim") >= 0.35)
      .select(col("v1"), col("v2"), col("sim"))
      .orderBy(col("v1"), col("v2"))
  }

  /** INCREMENTAL embedding near-dup — the ANN twin of
    * [[Dedup.dedupIncremental]]: a small arriving batch (delta) is
    * matched against the standing corpus (base) without ever re-running
    * base×base. The delta's sign-LSH band keys are BROADCAST against the
    * base bands, so the exchange cost is O(delta), not O(corpus);
    * candidates are verified with the exact cosine (computed, never
    * assumed), and each delta vector reports its canonical base match
    * (min vec_id at sim ≥ 0.35), its base near-dup count, the best
    * similarity, and an is_new flag — the admission decision of a
    * vector-dedup ingest pipeline. Honors the same
    * `spark.graft.lsh.maxBucket` hot-bucket guard as every other band
    * join (hot base buckets leave the join; delta vectors still find
    * exact-identical base vectors through the md5-equality path). */
  def embedNearDupIncremental(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = embeddings(s, d)
    incrementalNearDup(e.filter(col("vec_id") % 10 < 8),
      e.filter(col("vec_id") % 10 >= 8))
  }

  private[graft] def incrementalNearDup(
      base: DataFrame, delta: DataFrame): DataFrame =
    incrementalNearDupBands(signBands(base), base, delta)

  /** The match stage shared by [[embedNearDupIncremental]] (bands derived
    * in-query, oracle-replayable) and [[nearDupFromVectorIndex]] (bands +
    * vectors read from a persisted index). `baseVecs` must carry
    * (vec_id, embedding) for every id appearing in `baseBands`. */
  private def incrementalNearDupBands(baseBands: DataFrame,
      baseVecs: DataFrame, delta: DataFrame): DataFrame = {
    val s = baseVecs.sparkSession
    graft.functions.VectorFunctions.register(s)
    val cap = Dedup.lshMaxBucket(s)
    val db = signBands(delta)
    // bv != dv: a replayed micro-batch (at-least-once foreachBatch) whose
    // accepted vectors already reached the index must not self-match —
    // see the same guard in Dedup.incrementalMatch.
    def bandJoin(b: DataFrame) =
      b.as("a").join(broadcast(db.as("b")),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("bv"), col("b.vec_id").as("dv"))
    val rawCands = HotKeyJoin.hotKeys(baseBands, HotKeyJoin.BandKey, cap) match {
      case None => bandJoin(baseBands)
      case Some(hot) =>
        val hotKeyed = HotKeyJoin.allBandsHot(baseBands, hot, "vec_id", 8)
          .join(baseVecs, "vec_id")
          .select(col("vec_id").as("bv"), embedKey.as("k"))
        val deltaKeyed = delta.select(col("vec_id").as("dv"), embedKey.as("k"))
        val hotCands = hotKeyed.join(broadcast(deltaKeyed), "k")
          .filter(col("bv") =!= col("dv")) // replay self-match guard
          .select(col("bv"), col("dv"))
        bandJoin(HotKeyJoin.cold(baseBands, hot, HotKeyJoin.BandKey)).unionByName(hotCands)
    }
    val withVec = rawCands.distinct()
      .join(baseVecs.select(col("vec_id").as("bv"), col("embedding").as("e1"),
        sqrt(expr("vec_dot(embedding, embedding)")).as("n1")), "bv")
      .join(broadcast(delta.select(col("vec_id").as("dv"),
        col("embedding").as("e2"),
        sqrt(expr("vec_dot(embedding, embedding)")).as("n2"))), "dv")
      .withColumn("sim", round(expr("vec_dot(e1, e2)") / (col("n1") * col("n2")), 6))
      .filter(col("sim") >= 0.35)
    val matched = withVec.groupBy(col("dv"))
      .agg(min(col("bv")).as("matched_base"), count(lit(1)).as("n_base_dups"),
        max(col("sim")).as("best_sim"))
    delta.select(col("vec_id"))
      .join(matched, col("vec_id") === col("dv"), "left")
      .select(col("vec_id"), col("matched_base"),
        coalesce(col("n_base_dups"), lit(0L)).as("n_base_dups"),
        col("best_sim"),
        col("matched_base").isNull.as("is_new"))
      .orderBy(col("vec_id"))
  }

  /** One (vec_id, band, bucket, embedding) row per band — the single
    * index projection both the overwrite and append writers share (a
    * schema change here cannot diverge mixed-generation indexes). */
  private def vectorBandRows(e: DataFrame): DataFrame =
    signBands(e).join(e, "vec_id")
      .select(col("vec_id"), col("band"), col("bucket"), col("embedding"))

  /** Persist a VECTOR band index for a standing corpus: one row per
    * (vec_id, band) carrying the sign-LSH bucket AND the embedding. The
    * 8× embedding duplication trades storage for a self-contained index —
    * no join back to a vectors table at ingest time, and parquet column
    * pruning means the band-key scan never materializes the embedding
    * column until candidates exist. Appended per batch like
    * [[Dedup.appendToSignatureIndex]]. */
  def writeVectorBandIndex(e: DataFrame, path: String): Unit =
    PersistedIndex.VectorBand.write(vectorBandRows(e), path)

  /** [[embedNearDupIncremental]]'s production face: base bands + vectors
    * come from a [[writeVectorBandIndex]] table on disk; only the delta's
    * bands are derived in-query. Bit-equal to the in-query derivation —
    * band keys and cosines are per-row functions of the stored vectors
    * (SimilaritySpec asserts the equality). */
  def nearDupFromVectorIndex(delta: DataFrame, indexPath: String): DataFrame =
    nearDupAgainstIndex(delta, indexPath, excludeIds = None)

  /** [[nearDupFromVectorIndex]] with an optional base-side id exclusion —
    * the replay seam: [[nearDupBatchAndGrowIndex]] anti-joins the batch's
    * own vec_ids out of the index so a replayed batch cannot match its
    * own (or an accepted batch-mate's) prior append. */
  private def nearDupAgainstIndex(delta: DataFrame, indexPath: String,
      excludeIds: Option[DataFrame]): DataFrame = {
    PersistedIndex.VectorBand.check(delta.sparkSession, indexPath)
    val idxAll = delta.sparkSession.read.parquet(indexPath)
    val idx = excludeIds.fold(idxAll)(ex =>
      idxAll.join(broadcast(ex), Seq("vec_id"), "left_anti"))
    incrementalNearDupBands(
      idx.select(col("vec_id"), col("band"), col("bucket")),
      idx.filter(col("band") === 0).select(col("vec_id"), col("embedding")),
      delta)
  }

  /** Vector-index GROWTH step (the ANN twin of
    * [[Dedup.appendToSignatureIndex]]): append accepted vectors' band
    * rows as one parquet file per batch, skipping vectors already
    * indexed ([[PersistedIndex.grow]]). */
  def appendToVectorBandIndex(accepted: DataFrame, path: String): Unit =
    PersistedIndex.VectorBand.grow(accepted, path)(vectorBandRows)

  /** Full ANN-ingest micro-batch body (the vector twin of
    * [[Dedup.dedupBatchAndGrowIndex]]): match one arriving
    * (vec_id, embedding) batch against the index, then GROW the index
    * with the batch's accepted (is_new) vectors so the next batch
    * detects near-dups of this batch's novelties. REPLAY-SAFE the same
    * way as the text side: the batch's own vec_ids are anti-joined out
    * of the base before matching (so a replayed vector matches neither
    * its own prior append nor an accepted batch-mate's), and the append
    * anti-joins against ids already in the index — an at-least-once
    * foreachBatch re-run reports identical verdicts, even for a batch
    * carrying intra-batch near-dups, and appends nothing. The result is
    * eagerly materialized before the append (the match plan reads the
    * index files); keep-one-representative policy; intra-batch
    * duplicates are out of scope by design, as on the text side. */
  def nearDupBatchAndGrowIndex(batch: DataFrame, indexPath: String): DataFrame = {
    val result = Dedup.truncateLineage(nearDupAgainstIndex(
      batch, indexPath, excludeIds = Some(batch.select(col("vec_id")))))
    // `result` is already materialized, so neither the append nor a
    // compaction swap can invalidate it
    appendToVectorBandIndex(batch
      .join(result.filter(col("is_new")).select(col("vec_id")), "vec_id")
      .select(col("vec_id"), col("embedding")), indexPath)
    result
  }

  /** Persist an IVF index: posting lists as a parquet table PARTITIONED
    * BY cell (one directory per coarse cell — the on-disk form of a
    * FAISS inverted list), centroids in a `_ivf_centroids` subdirectory
    * (underscore-prefixed, so a plain parquet read of the posting-list
    * root ignores it — the same sidecar convention as the `_geometry`
    * stamp, [[PersistedIndex.Ivf]]).
    * Train once, serve many: the quantizer runs here, never at query
    * time. */
  def writeIvfIndex(s: SparkSession, d: String, path: String): Unit =
    writeIvfIndexModel(path, ivfModel(s, d,
      lloydIters = graft.GraftConf.int(s, "spark.graft.ivf.lloydIters", 1)))

  /** Persist a trained (centroids, top-2 assignment) pair as the cell-
    * partitioned posting-list layout — shared by the conf-shaped
    * [[writeIvfIndex]] and the pinned-knob scaled build
    * ([[knnIvfScaledServed]]). */
  private[graft] def writeIvfIndexModel(path: String,
      model: (DataFrame, DataFrame)): Unit = {
    val (cents, top2) = model
    // cell as INT, matching read-back partition-type inference, so a
    // probe-cell literal filter lands on the RAW partition column (a
    // cast on the attribute would defeat directory pruning); cell ids
    // are seed vec_ids < cells by construction
    PersistedIndex.Ivf.write(top2.filter(col("crk") === 1)
      .select(col("vec_id"), col("embedding"),
        col("cent_id").cast("int").as("cell")), path)
    // after the posting-list overwrite (which clears `path`), never before
    cents.write.mode("overwrite").parquet(path + "/_ivf_centroids")
  }

  /** Serve k-NN from a [[writeIvfIndex]] table: score the query batch
    * against the stored centroids (16 rows, broadcast), take each
    * query's `nprobe` nearest cells, and read ONLY those cells' posting
    * lists. Bit-equal to [[knnIvf]] on the same corpus/queries
    * (IvfIndexSpec asserts it): probe ranking and candidate cosines
    * replicate the in-query kernel expression for expression.
    *
    * The probed-cell set is collected to the driver (≤ 16 values — a
    * scalar read, like the BPE argmax) and pushed as a LITERAL partition
    * filter, so the scan prunes cell directories STATICALLY — the plan
    * shows `PartitionFilters: [cell IN (...)]` and scans ~nprobe/ncells
    * of the corpus. Dynamic partition pruning was measured NOT to fire
    * here (Spark's DPP heuristics want a selective dimension-side
    * predicate; a query batch is a tiny frame, not a filtered scan), and
    * an unpruned join would read every posting list — the literal
    * filter is what FAISS-style serving does anyway: the probe set IS
    * driver state. Per-QUERY pruning beyond the batch-union of cells is
    * the serving system's job (route each query to its cells); within
    * one Spark job the union is the right granularity. */
  /** The probe frame (qid, qemb, qnrm, cell) and the distinct probed-
    * cell set for a query batch against a stored quantizer — the first
    * half of [[knnFromIvfIndex]]. The probed-vs-universe fractions in
    * NOTES.md ("Round-17 IVF probed-vs-universe table") were measured
    * through it, so they are the serving path's own numbers. */
  private[graft] def ivfProbes(queries: DataFrame, indexPath: String)
      : (DataFrame, Array[Int]) = {
    val nprobe = graft.GraftConf.int(queries.sparkSession,
      "spark.graft.ivf.nprobe", 2)
    require(nprobe >= 1 && nprobe <= 2,
      s"nprobe must be in [1, 2], got $nprobe")
    ivfProbesN(queries, indexPath, nprobe)
  }

  /** [[ivfProbes]] with an EXPLICIT nprobe, uncapped — the entry of
    * [[knnFromIvfIndexSwept]] (recall@10 across nprobe 2/4/8: NOTES.md
    * "IVF cell-scaling QUALITY"). The catalog serving path stays
    * behind the conf'd, [1, 2]-capped [[ivfProbes]]: the oracle
    * replays nprobe=2 and the ServedPruningSpec INSET bound assumes it. */
  private[graft] def ivfProbesN(queries: DataFrame, indexPath: String,
      nprobe: Int): (DataFrame, Array[Int]) = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    PersistedIndex.Ivf.check(queries.sparkSession, indexPath)
    val probes = nearestCells(queries, indexPath, nprobe)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("qnrm"), col("cent_id").cast("int").as("cell"))
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0))
    (probes, cells)
  }

  /** Each (vec_id, embedding) row's `n` nearest STORED centroids,
    * ranked `crk` — the probe of a query and the frozen-quantizer cell
    * of an appended vector. */
  private def nearestCells(vectors: DataFrame, indexPath: String, n: Int): DataFrame = {
    val s = vectors.sparkSession
    graft.functions.VectorFunctions.register(s)
    import org.apache.spark.sql.expressions.Window
    vectors
      .select(col("vec_id"), col("embedding"),
        col("embedding").cast("array<double>").as("emb_d"),
        sqrt(expr("vec_dot(embedding, embedding)")).as("nrm"))
      .join(broadcast(s.read.parquet(indexPath + "/_ivf_centroids")))
      .withColumn("cs",
        round(expr("vec_dot_d(emb_d, cvec)") / (col("nrm") * col("cnrm")), 6))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cs").desc, col("cent_id"))))
      .filter(col("crk") <= n)
  }

  def knnFromIvfIndex(queries: DataFrame, indexPath: String): DataFrame = {
    val (probes, cells) = ivfProbes(queries, indexPath)
    serveFromIvf(queries.sparkSession, probes, cells, indexPath, topk = 3)
  }

  /** Measurement-only IVF serve with EXPLICIT nprobe and top-k, plus
    * the probed-cell count — behind ScaleSmoke's recall-at-scale rows,
    * IvfRecallGuardSpec, and NOTES.md's round-18 recall@10 table across
    * {16, ⌈√N⌉} cells × nprobe {2, 4, 8}. Not a catalog face:
    * the oracle pins nprobe ≤ 2 / k = 3; recall-vs-nprobe guidance
    * needs the rest of the dial. */
  private[graft] def knnFromIvfIndexSwept(queries: DataFrame,
      indexPath: String, nprobe: Int, topk: Int): (DataFrame, Int) = {
    val (probes, cells) = ivfProbesN(queries, indexPath, nprobe)
    (serveFromIvf(queries.sparkSession, probes, cells, indexPath, topk),
      cells.length)
  }

  /** The shared serve kernel: rank each probe frame's candidate cells'
    * members, keep top-k per query. */
  private def serveFromIvf(s: SparkSession, probes: DataFrame,
      cells: Array[Int], indexPath: String, topk: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val postings = s.read.parquet(indexPath)
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"),
        sqrt(expr("vec_dot(embedding, embedding)")).as("cnrm"), col("cell"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    postings.join(probes, "cell")
      .filter(col("qid") =!= col("cid"))
      .withColumn("sim",
        round(expr("vec_dot(qemb, cemb)") / (col("qnrm") * col("cnrm")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topk)
      .select(col("qid"), col("cid"), col("rn").cast("long").as("rn"), col("sim"))
      .orderBy(col("qid"), col("rn"))
  }

  /** IVF index GROWTH (the ANN-serving twin of
    * [[appendToVectorBandIndex]]): assign an arriving (vec_id,
    * embedding) batch to the STORED centroids — the quantizer is
    * frozen, the standard IVF ingest contract (FAISS `add` never
    * retrains; retraining is an offline rebuild) — and append the
    * rows into their cell partitions, replay-safely
    * ([[PersistedIndex.grow]]). */
  def appendToIvfIndex(batch: DataFrame, path: String): Unit =
    PersistedIndex.Ivf.grow(batch, path)(nearestCells(_, path, 1)
      .select(col("vec_id"), col("embedding"), col("cent_id").cast("int").as("cell")))

  /** Catalog face: build the IVF index in a scratch directory, then
    * serve the standard 30-query batch from it — the train-once /
    * query-from-disk lifecycle, oracle-checked against the same SQL
    * replay as the in-query [[knnIvf]]. */
  def knnIvfIndexed(s: SparkSession, d: String): DataFrame = {
    val path = PersistedIndex.Ivf.fresh(s, d, "ivf")
    writeIvfIndex(s, d, path)
    knnFromIvfIndex(
      embeddings(s, d).filter(col("vec_id") < 30)
        .select(col("vec_id"), col("embedding")),
      path)
  }

  /** Build count of the served face — ServedFacesSpec pins build-once. */
  private[graft] def servedBuilds = PersistedIndex.Ivf.builds("served_ivf")

  /** Catalog face: the SERVE-ONLY cost of the IVF lifecycle — the
    * production number ([[Retrieval.bm25BatchServed]]'s ANN twin):
    * [[writeIvfIndex]]'s table as a [[PersistedIndex.served]] artifact,
    * so bench's median (reps 2..n) IS the serving cost. Unlike the
    * postings index, the trained quantizer DEPENDS on confs
    * (`ivf.lloydIters`, `ivf.seeding`, `ivf.objectiveEps`, `ivf.cells`
    * — they shape the centroids, hence every posting list), so those
    * resolved values ride the fingerprint: a mid-session retune
    * rebuilds instead of serving the other model's index. (`ivf.nprobe`
    * is serve-time only — correctly absent.) Same oracle as
    * `q_knn_ivf`, verbatim. */
  def knnIvfServed(s: SparkSession, d: String): DataFrame =
    knnFromIvfIndex(
      embeddings(s, d).filter(col("vec_id") < 30)
        .select(col("vec_id"), col("embedding")),
      servedIvfIndexPath(s, d))

  /** The standing 16-cell (conf-shaped) served index's path — built at
    * most once per (session, dataset, knobs). Factored out so the
    * smoke's recall phase can probe THE standing artifact the serve
    * ratios measure, instead of training a twin. */
  private[graft] def servedIvfIndexPath(s: SparkSession, d: String): String =
    PersistedIndex.Ivf.served(s, d, "served_ivf",
      s"iters=${graft.GraftConf.int(s, "spark.graft.ivf.lloydIters", 1)}:" +
        s"seed=${graft.GraftConf.get(s, "spark.graft.ivf.seeding").getOrElse("first")}:" +
        s"eps=${graft.GraftConf.double(s, "spark.graft.ivf.objectiveEps", 0.0)}:" +
        s"cells=${graft.GraftConf.int(s, "spark.graft.ivf.cells", 16)}")(p =>
      writeIvfIndex(s, d, p))

  /** Corpus-scaled cell count for [[knnIvfScaledServed]]:
    * k = max(16, ⌈√N⌉) — the FAISS sizing guidance (posting lists
    * shrink as ~N/k, probe cost as ~nprobe·N/k), floored at the
    * catalog's oracle-pinned 16 so small fixtures stay comparable. */
  private[graft] def scaledCellCount(n: Long): Int =
    math.max(16L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt

  /** Build count of the scaled served face — ServedFacesSpec pins
    * build-once. */
  private[graft] def scaledServedBuilds = PersistedIndex.Ivf.builds("served_ivf_scaled")

  /** Memoized ⌈√N⌉ cell count per (sessionKey, embeddings fingerprint)
    * — see [[knnIvfScaledServed]]. */
  private val scaledKCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** The CELL-COUNT-SCALED serve face — the evidence that IVF partition
    * pruning GROWS with the corpus. `q_knn_ivf_served`'s quantizer is
    * oracle-pinned at 16 cells, so at fixture scale the 30-query batch
    * probes most or all of the cell universe and the pinned plan's
    * `cell INSET` prunes little; a real deployment raises k with N
    * (k ≈ √N) so each posting list stays bounded and the probed
    * fraction FALLS as the corpus grows. This face trains at
    * k = [[scaledCellCount]](N) — first-k seeds, one Lloyd step, no
    * early stop, all knobs pinned so the DuckDB oracle can replay the
    * training verbatim (the seed filter and the √N scalar are both
    * SQL) — and serves the standard 30-query batch from the
    * cell-partitioned files. The probed INSET stays ≤ 60 literals
    * (30 queries × nprobe 2) while the cell universe grows as √N:
    * 23 cells at sf0.01, 45 at sf0.1, 142 at the ×10 smoke corpus —
    * the shrinking probed/universe ratio IS the pruning win
    * (ServedPruningSpec asserts the bound, NOTES the measured table).
    * k is a function of N, hence of the embeddings files already in
    * the fingerprint; it rides the marker anyway so a human reading
    * the marker sees the trained shape.
    *
    * QUALITY at the pinned nprobe=2 (NOTES.md round-18 "IVF
    * cell-scaling QUALITY" table,
    * recall@10 vs brute ground truth on this face's own 30-query
    * batch): k=⌈√N⌉ reads 0.930 at sf0.1 (45 cells) and 0.953 at ×10
    * (142 cells) — ABOVE the 16-cell quantizer even at its nprobe=8
    * near-full scan (0.897/0.920) — and recall RISES with N while the
    * probed fraction FALLS (0.80 → 0.37): finer cells make each
    * query's 2 nearest cells a tighter true neighborhood, which is the
    * FAISS √N sizing rationale measured. Deployment guidance: keep
    * nprobe=2 as k scales with √N; raising nprobe buys ≤ 2 recall
    * points here (0.953 → 0.973 at nprobe=8) for ~4× the probe I/O —
    * spend cells, not probes. NOTES.md holds the full
    * {16, √N} × {nprobe 2/4/8} × {sf0.1, ×10} table. */
  def knnIvfScaledServed(s: SparkSession, d: String): DataFrame =
    knnFromIvfIndex(
      embeddings(s, d).filter(col("vec_id") < 30)
        .select(col("vec_id"), col("embedding")),
      scaledServedIvfIndexPath(s, d))

  /** The standing ⌈√N⌉-cell served index's path — built at most once
    * per (session, dataset, corpus). Factored out for the smoke's
    * recall phase, like [[servedIvfIndexPath]]. */
  private[graft] def scaledServedIvfIndexPath(s: SparkSession, d: String): String = {
    // k is memoized per (sessionKey, embeddings-files fingerprint): the
    // corpus count is a full-column-pruned scan, and paying it on every
    // WARM serve would dilute exactly the pinned-probe index-side-growth
    // signal this face exists to measure in ScaleSmoke. The fingerprint
    // covers the same file identity the buildOnce marker keys on, so a
    // changed corpus re-counts and a warm serve is count-free.
    // bound the memo (ADVICE r18: entries are tiny but accumulated for
    // the JVM's lifetime across sessions/corpora) — a long-lived
    // multi-tenant JVM resets the memo rather than growing it forever;
    // a reset only costs the next serve one column-pruned count
    if (scaledKCache.size > 4096) scaledKCache.clear()
    val k = scaledKCache.computeIfAbsent(
      graft.TempDirs.sessionKey(s, d) + "|" +
        graft.Tables.filesFingerprint(s, d, "embeddings"),
      _ => Integer.valueOf(scaledCellCount(embeddings(s, d).count()))).intValue
    PersistedIndex.Ivf.served(s, d, "served_ivf_scaled", s"cells=$k")(p =>
      writeIvfIndexModel(p, ivfModel(s, d, lloydIters = 1,
        seeding = "first", objectiveEps = 0.0, cells = k)))
  }

  /** SemDeDup-style SEMANTIC dedup: connected components over the
    * embedding near-dup graph, keep each component's minimum-id vector.
    * Where [[Dedup.dedupClusters]] clusters by TEXT overlap (MinHash),
    * this clusters by embedding cosine ≥ 0.35 — catching paraphrases and
    * translations that share no n-grams — and reuses the exact same
    * contracted min-label CC machinery ([[Dedup.connectedComponents]]),
    * so the convergence guarantee and the GraphX cross-validation carry
    * over. Every vector appears in the output (singletons are their own
    * kept cluster), so `keep` IS the dedup decision column.
    *
    * Scale shape: pair generation defaults to [[embedNearDup]]'s exact
    * blocked kernel (what the oracle replays); set
    * `spark.graft.semdedup.lsh=true` to take the pairs from
    * [[embedNearDupLsh]] instead — the sub-quadratic path a real corpus
    * runs, same (v1, v2) columns, same CC downstream. LSH recall at this
    * corpus's adversarial 0.35 threshold is low (SimilaritySpec measures
    * the cluster-level gap; at the 0.9-sim regime of true duplicates the
    * banding recovers ≈93% — NOTES.md, Round-7 changes), so the conf
    * trades completeness for the n² → n·candidates collapse exactly
    * like the `q_dedup_minhash`/`q_dedup_ngram` split. CC runs on the
    * pair-derived graph, orders of magnitude smaller than the corpus. */
  def semanticDedup(s: SparkSession, d: String): DataFrame = {
    val useLsh = graft.GraftConf.bool(s, "spark.graft.semdedup.lsh", default = false)
    semanticDedupFrom(s, d, useLsh)
  }

  /** [[semanticDedup]] pinned to the SUB-QUADRATIC banded-LSH pair source
    * — the path a real 100 TB corpus runs, surfaced as its own catalog
    * entry (`q_semantic_dedup_lsh`) so it sits inside the DuckDB hash
    * gate instead of only behind the conf: the oracle replays the banding
    * (the `q_embed_neardup_lsh` CTE) and the same recursive min-label CC,
    * so any drift in the banding, the candidate join, or the clustering
    * over LSH pairs fails the gate. */
  def semanticDedupLsh(s: SparkSession, d: String): DataFrame =
    semanticDedupFrom(s, d, useLsh = true)

  private def semanticDedupFrom(
      s: SparkSession, d: String, useLsh: Boolean): DataFrame = {
    val pairGen = if (useLsh) embedNearDupLsh _ else embedNearDup _
    val pairs = pairGen(s, d).select(col("v1").as("d1"), col("v2").as("d2"))
    val labels = Dedup.connectedComponents(pairs)
    val lab = embeddings(s, d).select(col("vec_id"))
      .join(labels.select(col("node").as("vec_id"), col("lbl")), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("lbl"), col("vec_id")).as("cluster_id"))
    val sizes = lab.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    lab.join(sizes, "cluster_id")
      .select(col("vec_id"), col("cluster_id"), col("cluster_size"),
        (col("vec_id") === col("cluster_id")).as("keep"))
      .orderBy(col("vec_id"))
  }

  /** Symmetric int8 quantization of the embedding column — the storage/
    * bandwidth play every large ANN deployment makes (4× smaller vectors,
    * SIMD-friendly dot products downstream). Per-vector scale = max |v|;
    * q_i = round(v_i · 127 / scale), spelled as `floor(x + 0.5)` so both
    * engines round identically (no round-half-even divergence). Everything
    * is per-row higher-order-function arithmetic in explicit DOUBLE — scan
    * speed, no shuffle, bit-identical across engines. */
  def embedQuantize(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .withColumn("scale_max",
        expr("array_max(transform(embedding, v -> abs(CAST(v AS DOUBLE))))"))
      .select(col("vec_id"),
        expr("size(embedding)").cast("long").as("n_dims"),
        col("scale_max"),
        // serialized, not a raw ARRAY<BIGINT>: the verification driver's
        // pandas hasher cannot sort ndarray cells, so arrays leave the
        // engine as delimited strings (catalog-wide rule, see CatalogSpec)
        expr("""CASE WHEN scale_max = 0.0D
               |  THEN array_join(transform(embedding, v -> '0'), ',')
               |  ELSE array_join(transform(embedding, v ->
               |    CAST(CAST(floor(CAST(v AS DOUBLE) * 127.0D / scale_max + 0.5D) AS BIGINT) AS STRING)), ',')
               |END""".stripMargin).as("q8_csv"),
        expr("""CASE WHEN scale_max = 0.0D THEN 0.0D
               |  ELSE array_max(transform(embedding, v ->
               |    abs(CAST(v AS DOUBLE) -
               |        CAST(floor(CAST(v AS DOUBLE) * 127.0D / scale_max + 0.5D) AS DOUBLE)
               |          * scale_max / 127.0D)))
               |END""".stripMargin).as("max_abs_err"))
      .orderBy(col("vec_id"))

  /** Product quantization with ADC scoring — the compression layer every
    * billion-vector ANN index runs on (FAISS `IVF…,PQ8`): the 64-dim
    * vector is split into 8 subspaces of 8 dims; each subspace gets a
    * 16-entry codebook (seeded deterministically with the first 16
    * vectors' subvectors, matching the IVF quantizer's oracle-pinned
    * seeding); a vector is stored as 8 four-bit codes — 256 B of floats
    * becomes 8 B of codes, the difference between an index that fits in
    * cluster RAM and one that doesn't. Queries score candidates with
    * Asymmetric Distance Computation: per query, ONE 8×16 lookup table
    * of exact subspace distances, then every candidate's distance is the
    * sum of 8 table lookups — no float vector is touched at scan time.
    *
    * Oracle-exactness: subspace distances are the same sequential
    * squared-diff fold in both engines ([[graft.functions.DoubleVecDistSq]]
    * vs `list_sum(list_transform(...))`), rounded at 6 dp; the ADC sum
    * runs through DECIMAL(18,6) so partial-agg order can't flip a bit
    * (NOTES double-aggregate rule). Code assignment ties break on the
    * smallest centroid id; ADC ties on the smallest candidate id.
    *
    * Scale shape: codebooks (128 rows) and per-query LUTs (30×8×16 rows)
    * BROADCAST; the corpus streams through the assignment join once and
    * the scoring join once; the only exchanges are the two hash aggs
    * (argmin-per-(vec,subspace) and sum-per-(query,candidate)). At real
    * scale the codes pivot to one row per vector and the LUT lookups
    * become a map-side expression; the long format here keeps every
    * intermediate oracle-replayable. */
  def knnPq(s: SparkSession, d: String): DataFrame = pqTopK(s, d, 3)

  /** [[knnPq]] with the per-query depth parameterized — the catalog
    * face pins k = 3 for its oracle; the smoke's recall artifact ranks
    * the same ADC pipeline at k = 10 (ScaleSmoke pqRecall). */
  private[graft] def pqTopK(s: SparkSession, d: String, k: Int): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    import org.apache.spark.sql.expressions.Window
    val subs = pqSubs(s, d)
    val cents = pqCodebooks(s, subs,
      graft.GraftConf.int(s, "spark.graft.pq.lloydIters", 0))
    // argmin with id tie-break as min-of-struct (lexicographic), NOT a
    // row_number window: the aggregate partial-combines map-side, so the
    // exchange carries corpus×8 groups instead of sorting the full
    // corpus×8×16 scored join output
    val codes = subs.join(broadcast(cents), "s")
      .withColumn("d2", round(expr("vec_dist2_d(sub, cvec)"), 6))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(col("d2"), col("cent_id"))).as("m"))
      .select(col("vec_id").as("cid"), col("s"), col("m.cent_id").as("code"))
    val dtab = subs.filter(col("vec_id") < 30)
      .select(col("vec_id").as("qid"), col("s"), col("sub").as("qsub"))
      .join(broadcast(cents), "s")
      .select(col("qid"), col("s"), col("cent_id").as("code"),
        round(expr("vec_dist2_d(qsub, cvec)"), 6).as("d2"))
    codes.join(broadcast(dtab), Seq("s", "code"))
      .filter(col("qid") =!= col("cid"))
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("d2").cast(DecimalType(18, 6))).cast("double").as("adc_dist2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc_dist2"), col("cid"))))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("rn").cast("long").as("rn"),
        col("adc_dist2"))
      .orderBy(col("qid"), col("rn"))
  }

  /** kNN label classification — the standard embedding-quality eval: each
    * query vector is assigned the MAJORITY label of its 5 brute-force
    * nearest neighbors (vote ties → smallest label, fully deterministic)
    * and compared to its own label. This is how a pipeline smoke-tests an
    * embedding column before spending GPU-hours on it: near-chance kNN
    * accuracy means the embeddings carry no label signal (true for this
    * isotropic synthetic fixture — the measurement, not a target).
    *
    * Scale shape: inherits [[knnBrute]]'s broadcast-scan (swap in the
    * IVF/PQ ladder for a billion-vector eval); the vote is one
    * partial-agg over queries×labels and the label joins are
    * broadcast-sized (one row per query). */
  def knnClassify(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = embeddings(s, d).select(col("vec_id"), col("label"))
    knnBrute(s, d)
      .join(labels.select(col("vec_id").as("cid"), col("label").as("nlabel")), "cid")
      .groupBy(col("qid"), col("nlabel"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("n_votes").desc, col("nlabel"))))
      .filter(col("rk") === 1)
      .join(labels.select(col("vec_id").as("qid"), col("label").as("true_label")), "qid")
      .select(col("qid"), col("true_label"), col("nlabel").as("pred_label"),
        col("n_votes"), (col("nlabel") === col("true_label")).as("correct"))
      .orderBy(col("qid"))
  }

  // --------------------------------------------------------------- wiring

  /** BITEXT MINING via the margin criterion (Artetxe & Schwenk 2019 —
    * the LASER/CCMatrix recipe): treat label<5 vs label≥5 as the two
    * languages' embedding spaces, score every cross pair, and accept
    * x→y only when cos(x,y) clearly beats BOTH vectors' neighborhoods:
    * `margin = 2·cos(x,y) / (avgTopK(x→B) + avgTopK(y→A))`. Absolute
    * cosine thresholds fail under hubness (some vectors are close to
    * everything); the ratio normalizes it out — the property that made
    * margin mining the standard for parallel-corpus extraction.
    *
    * Numerics: cosines land in q6 INTEGERS at the edge
    * (`round(cos·1e6)` — one rounding, exactly representable, so the
    * top-k SUMS are integer and order-independent; a double `avg` here
    * would put Spark-vs-DuckDB summation order on the gate). Margin is
    * then pure integer: `(2e6·c6) DIV (avgA + avgB)`, guarded to
    * strictly positive operands so Spark `DIV` (truncate) ≡ DuckDB `//`
    * (floor). `spark.graft.bitext.k` (4) and `.minMargin` (1_200_000 =
    * ratio 1.2) are oracle-pinned dials.
    *
    * Scale shape: this is the EXACT kernel — the oracle's semantics —
    * with the same broadcast-side pair generation as [[knnBrute]]; at
    * real corpus sizes the pair source swaps to the banded-LSH ladder
    * exactly like `q_semantic_dedup` → `q_semantic_dedup_lsh`, with
    * this margin tail unchanged (it only consumes (aid, bid, c6)). */
  def bitextMine(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    import org.apache.spark.sql.expressions.Window
    val k = graft.GraftConf.int(s, "spark.graft.bitext.k", 4)
    val minMargin = graft.GraftConf.long(s, "spark.graft.bitext.minMargin", 1200000L)
    // upper bound is the margin product's Long envelope: 2e6·k·c6 with
    // c6 ≤ 1e6 stays under 2⁶³ for k ≤ 1e6 (Q6OverflowSpec pins the
    // edge); a top-k beyond 1e6 neighbors is meaningless anyway
    require(k >= 1 && k <= 1000000,
      "spark.graft.bitext.k must be in [1, 1000000]")
    val e = graft.Tables.widen(embeddings(s, d))
    val a = e.filter(col("label") < 5)
      .select(col("vec_id").as("aid"), col("embedding").as("ae"),
        sqrt(expr("vec_dot(embedding, embedding)")).as("an"))
    val b = e.filter(col("label") >= 5)
      .select(col("vec_id").as("bid"), col("embedding").as("be"),
        sqrt(expr("vec_dot(embedding, embedding)")).as("bn"))
    val x = graft.CacheScope.track(b.join(broadcast(a))
      .withColumn("c6",
        round(expr("vec_dot(ae, be)") / (col("an") * col("bn")) * 1000000, 0)
          .cast("long"))
      .select(col("aid"), col("bid"), col("c6"))
      .persist())
    // margin = 2c / ((sa + sb)/k) rearranged to 2k·c/(sa + sb): the
    // top-k SUMS stay raw integers — no per-side division, so there is
    // no truncate-vs-floor seam anywhere (the single DIV is guarded to
    // positive operands below)
    val aSum = x
      .withColumn("rka", row_number().over(
        Window.partitionBy(col("aid")).orderBy(col("c6").desc, col("bid"))))
      .filter(col("rka") <= k)
      .groupBy(col("aid")).agg(sum(col("c6")).as("sa"))
    val bSum = x
      .withColumn("rkb", row_number().over(
        Window.partitionBy(col("bid")).orderBy(col("c6").desc, col("aid"))))
      .filter(col("rkb") <= k)
      .groupBy(col("bid")).agg(sum(col("c6")).as("sb"))
    x.join(aSum, "aid").join(bSum, "bid")
      .filter(col("c6") > 0 && (col("sa") + col("sb")) > 0)
      .withColumn("margin_q6", expr(s"(2000000 * $k * c6) DIV (sa + sb)"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("aid"))
          .orderBy(col("margin_q6").desc, col("bid"))))
      .filter(col("rn") === 1 && col("margin_q6") >= minMargin)
      .select(col("aid"), col("bid"), col("c6").as("c_q6"), col("margin_q6"))
      .orderBy(col("aid"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bitext_mine" -> (bitextMine _),
    "q_knn_classify" -> (knnClassify _),
    "q_embed_quantize" -> (embedQuantize _),
    "q_knn_brute" -> (knnBrute _),
    "q_knn_lsh" -> (knnLsh _),
    "q_knn_ivf" -> (knnIvf _),
    "q_knn_ivf_indexed" -> (knnIvfIndexed _),
    "q_knn_ivf_served" -> (knnIvfServed _),
    "q_knn_ivf_scaled_served" -> (knnIvfScaledServed _),
    "q_cluster_profile" -> (clusterProfile _),
    "q_knn_pq" -> (knnPq _),
    "q_knn_ivfpq" -> (knnIvfPq _),
    "q_embed_neardup" -> (embedNearDup _),
    "q_embed_neardup_lsh" -> (embedNearDupLsh _),
    "q_embed_neardup_incremental" -> (embedNearDupIncremental _),
    "q_semantic_dedup" -> (semanticDedup _),
    "q_semantic_dedup_lsh" -> (semanticDedupLsh _)
  )

  /** The IVF training replay (seed predicate parametrized — the catalog
    * default pins `vec_id < 16`, the scaled face computes k = ⌈√N⌉ in
    * SQL; one exact-integer Lloyd step, q6-cosine rescoring) up through
    * the per-vector assignment — shared verbatim by the `q_knn_ivf`
    * family and `q_cluster_profile` so the faces cannot drift on what
    * the trained quantizer IS. */
  private def ivfTrainCtesWith(seedPred: String) =
    s"""seeds AS (
        |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE $seedPred),
        |s0 AS (
        |  SELECT e.vec_id, c.cent_id,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(${cosSql("e.embedding", "c.cv")}, 6) DESC, c.cent_id) AS crk
        |  FROM embeddings e, seeds c),
        |a0 AS (SELECT vec_id, cent_id AS cell FROM s0 WHERE crk = 1),
        |dims AS (SELECT unnest(range(1, 65)) AS dim),
        |upd AS (
        |  SELECT a0.cell, t.dim,
        |    CAST(SUM(CAST(floor(CAST(e.embedding[t.dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sq,
        |    COUNT(*) AS n
        |  FROM a0 JOIN embeddings e ON e.vec_id = a0.vec_id, dims t
        |  GROUP BY a0.cell, t.dim),
        |cents AS (
        |  SELECT cell AS cent_id,
        |    list(CAST(sq AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) ORDER BY dim) AS cv
        |  FROM upd GROUP BY cell),
        |scored AS (
        |  SELECT e.vec_id, c.cent_id,
        |    round(${cosSql("e.embedding", "c.cv")}, 6) AS cs,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(${cosSql("e.embedding", "c.cv")}, 6) DESC, c.cent_id) AS crk
        |  FROM embeddings e, cents c),
        |assigned AS (
        |  SELECT vec_id AS cid, cent_id AS cell FROM scored WHERE crk = 1)""".stripMargin

  /** The catalog-default train CTEs (16 pinned cells) — shared by the
    * `q_knn_ivf` family and `q_cluster_profile`. */
  private val ivfTrainCtes = ivfTrainCtesWith("vec_id < 16")

  /** The √N-scaled seed predicate of `q_knn_ivf_scaled_served`,
    * replayed by DuckDB as the same scalar subquery the engine's
    * [[scaledCellCount]] prelude computes (IEEE sqrt/ceil on both
    * sides — exact at any realistic N). */
  private val scaledSeedPred = "vec_id < (SELECT GREATEST(16, " +
    "CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) FROM embeddings)"

  private def ivfOracleSqlWith(trainCtes: String) =
    s"""WITH $trainCtes,
        |qprobes AS (
        |  SELECT vec_id AS qid, cent_id AS cell FROM scored
        |  WHERE vec_id < 30 AND crk <= 2),
        |ranked AS (
        |  SELECT q.qid, a.cid,
        |    round(${cosSql("qe.embedding", "ce.embedding")}, 6) AS sim,
        |    ROW_NUMBER() OVER (PARTITION BY q.qid
        |      ORDER BY round(${cosSql("qe.embedding", "ce.embedding")}, 6) DESC, a.cid) AS rn
        |  FROM qprobes q
        |    JOIN assigned a ON a.cell = q.cell AND a.cid <> q.qid
        |    JOIN embeddings qe ON qe.vec_id = q.qid
        |    JOIN embeddings ce ON ce.vec_id = a.cid)
        |SELECT qid, cid, CAST(rn AS BIGINT) AS rn, sim
        |FROM ranked WHERE rn <= 3 ORDER BY qid, rn""".stripMargin

  private val ivfOracleSql = ivfOracleSqlWith(ivfTrainCtes)

  val oracle: Map[String, String] = Map(
    "q_embed_quantize" ->
      """WITH m AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS scale_max
        |  FROM embeddings)
        |SELECT e.vec_id,
        |  CAST(len(e.embedding) AS BIGINT) AS n_dims,
        |  m.scale_max,
        |  CASE WHEN m.scale_max = 0
        |    THEN array_to_string(list_transform(e.embedding, v -> '0'), ',')
        |    ELSE array_to_string(list_transform(e.embedding, v ->
        |      CAST(CAST(floor(CAST(v AS DOUBLE) * 127.0 / m.scale_max + 0.5) AS BIGINT) AS VARCHAR)), ',')
        |  END AS q8_csv,
        |  CASE WHEN m.scale_max = 0 THEN 0.0
        |    ELSE list_max(list_transform(e.embedding, v ->
        |      abs(CAST(v AS DOUBLE) -
        |          floor(CAST(v AS DOUBLE) * 127.0 / m.scale_max + 0.5)
        |            * m.scale_max / 127.0)))
        |  END AS max_abs_err
        |FROM embeddings e JOIN m ON e.vec_id = m.vec_id
        |ORDER BY e.vec_id""".stripMargin,

    "q_knn_pq" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
        |  FROM embeddings),
        |subs AS (
        |  SELECT vec_id, s, list_slice(emb, s*8+1, s*8+8) AS sub
        |  FROM e, (SELECT unnest(range(0, 8)) AS s) r),
        |cents AS (
        |  SELECT vec_id AS cent_id, s, sub AS cvec FROM subs WHERE vec_id < 16),
        |a AS (
        |  SELECT subs.vec_id, subs.s, cents.cent_id,
        |    ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.s
        |      ORDER BY round(list_sum(list_transform(range(1, 9),
        |        i -> (sub[i] - cvec[i]) * (sub[i] - cvec[i]))), 6), cents.cent_id) AS ark
        |  FROM subs JOIN cents ON subs.s = cents.s),
        |codes AS (SELECT vec_id AS cid, s, cent_id AS code FROM a WHERE ark = 1),
        |dtab AS (
        |  SELECT q.vec_id AS qid, q.s, c.cent_id AS code,
        |    round(list_sum(list_transform(range(1, 9),
        |      i -> (q.sub[i] - c.cvec[i]) * (q.sub[i] - c.cvec[i]))), 6) AS d2
        |  FROM subs q JOIN cents c ON q.s = c.s
        |  WHERE q.vec_id < 30),
        |sc AS (
        |  SELECT dtab.qid, codes.cid,
        |    CAST(SUM(CAST(dtab.d2 AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist2
        |  FROM codes JOIN dtab ON codes.s = dtab.s AND codes.code = dtab.code
        |  WHERE dtab.qid <> codes.cid
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT qid, cid, adc_dist2,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_dist2, cid) AS rn
        |  FROM sc)
        |SELECT qid, cid, CAST(rn AS BIGINT) AS rn, adc_dist2
        |FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,

    // same q6 cosine edge, raw top-k integer sums, single guarded
    // integer division — margin = 2k·c6/(sa+sb)
    "q_bitext_mine" ->
      s"""WITH a AS (
        |  SELECT vec_id AS aid, embedding AS ae FROM embeddings WHERE label < 5),
        |b AS (
        |  SELECT vec_id AS bid, embedding AS be FROM embeddings WHERE label >= 5),
        |x AS (
        |  SELECT aid, bid,
        |    CAST(round(${cosSql("ae", "be")} * 1000000, 0) AS BIGINT) AS c6
        |  FROM a, b),
        |ra AS (
        |  SELECT aid, bid, c6,
        |    row_number() OVER (PARTITION BY aid ORDER BY c6 DESC, bid) AS rka
        |  FROM x),
        |rb AS (
        |  SELECT aid, bid, c6,
        |    row_number() OVER (PARTITION BY bid ORDER BY c6 DESC, aid) AS rkb
        |  FROM x),
        |aa AS (
        |  SELECT aid, CAST(SUM(c6) AS BIGINT) AS sa
        |  FROM ra WHERE rka <= 4 GROUP BY aid),
        |bb AS (
        |  SELECT bid, CAST(SUM(c6) AS BIGINT) AS sb
        |  FROM rb WHERE rkb <= 4 GROUP BY bid),
        |m AS (
        |  SELECT x.aid, x.bid, x.c6,
        |    (2000000 * 4 * x.c6) // (aa.sa + bb.sb) AS margin_q6
        |  FROM x JOIN aa USING (aid) JOIN bb USING (bid)
        |  WHERE x.c6 > 0 AND aa.sa + bb.sb > 0),
        |best AS (
        |  SELECT aid, bid, c6, margin_q6,
        |    row_number() OVER (PARTITION BY aid
        |      ORDER BY margin_q6 DESC, bid) AS rn
        |  FROM m)
        |SELECT aid, bid, c6 AS c_q6, margin_q6
        |FROM best WHERE rn = 1 AND margin_q6 >= 1200000
        |ORDER BY aid""".stripMargin,

    "q_knn_brute" ->
      s"""WITH p AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    round(${cosSql("q.embedding", "c.embedding")}, 6) AS sim
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
        |r AS (SELECT qid, cid, sim,
        |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn FROM p)
        |SELECT qid, cid, CAST(rn AS BIGINT) AS rn, sim FROM r
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    // the brute top-5 CTE verbatim, then majority vote (ties -> smallest
    // label) against the query's own label
    "q_knn_classify" ->
      s"""WITH p AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    round(${cosSql("q.embedding", "c.embedding")}, 6) AS sim
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
        |r AS (SELECT qid, cid, sim,
        |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn FROM p),
        |v AS (
        |  SELECT r.qid, c.label AS nlabel, COUNT(*) AS n_votes
        |  FROM r JOIN embeddings c ON r.cid = c.vec_id
        |  WHERE r.rn <= 5 GROUP BY r.qid, c.label),
        |w AS (SELECT qid, nlabel, n_votes,
        |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY n_votes DESC, nlabel) AS rk
        |  FROM v)
        |SELECT w.qid, q.label AS true_label, w.nlabel AS pred_label,
        |  w.n_votes, (w.nlabel = q.label) AS correct
        |FROM w JOIN embeddings q ON w.qid = q.vec_id
        |WHERE w.rk = 1 ORDER BY w.qid""".stripMargin,

    "q_knn_lsh" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding,
        |    (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
        |     CASE WHEN embedding[17] >= 0 THEN '1' ELSE '0' END ||
        |     CASE WHEN embedding[33] >= 0 THEN '1' ELSE '0' END ||
        |     CASE WHEN embedding[49] >= 0 THEN '1' ELSE '0' END) AS bucket
        |  FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS qid, q.bucket AS bucket, c.vec_id AS cid,
        |    round(${cosSql("q.embedding", "c.embedding")}, 6) AS sim
        |  FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 50),
        |r AS (SELECT qid, bucket, cid, sim,
        |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn FROM p)
        |SELECT qid, bucket, cid, CAST(rn AS BIGINT) AS rn, sim FROM r
        |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,

    "q_knn_ivf" -> ivfOracleSql,

    // the indexed face is bit-equal to the in-query path by spec, so it
    // replays the SAME oracle — the DuckDB side has no notion of which
    // storage the engine served from
    "q_knn_ivf_indexed" -> ivfOracleSql,
    "q_knn_ivf_served" -> ivfOracleSql,
    // same training replay with the √N-scaled seed predicate — the
    // persisted hop and the cell-count dial must both be invisible in
    // what the trained quantizer IS at a given k
    "q_knn_ivf_scaled_served" -> ivfOracleSqlWith(
      ivfTrainCtesWith(scaledSeedPred)),

    // shares ivfTrainCtes verbatim with the q_knn_ivf family, so the
    // profile and the serving faces describe the SAME trained quantizer
    "q_cluster_profile" ->
      s"""WITH $ivfTrainCtes,
         |q AS (
         |  SELECT vec_id, cent_id, crk,
         |    CAST(floor(cs * 1000000.0 + 0.5) AS BIGINT) AS qcs
         |  FROM scored),
         |a1 AS (SELECT vec_id, cent_id AS cell, qcs AS q1 FROM q WHERE crk = 1),
         |a2 AS (SELECT vec_id, qcs AS q2 FROM q WHERE crk = 2)
         |SELECT a1.cell, COUNT(*) AS cell_size,
         |  CAST(CAST(SUM(q1) AS BIGINT) AS DOUBLE)
         |    / CAST(COUNT(*) * 1000000 AS DOUBLE) AS mean_cos,
         |  CAST(MIN(q1) AS DOUBLE) / 1000000.0 AS min_cos,
         |  CAST(SUM(CASE WHEN q1 - q2 < 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_edge
         |FROM a1 JOIN a2 USING (vec_id)
         |GROUP BY a1.cell ORDER BY a1.cell""".stripMargin,



    // the IVF chain (seeds..qprobes) and PQ chain (e..dtab) verbatim
    // from their standalone oracles, composed: candidates from probed
    // cells, distances from ADC lookups
    "q_knn_ivfpq" ->
      s"""WITH seeds AS (
        |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 16),
        |s0 AS (
        |  SELECT e.vec_id, c.cent_id,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(${cosSql("e.embedding", "c.cv")}, 6) DESC, c.cent_id) AS crk
        |  FROM embeddings e, seeds c),
        |a0 AS (SELECT vec_id, cent_id AS cell FROM s0 WHERE crk = 1),
        |dims AS (SELECT unnest(range(1, 65)) AS dim),
        |upd AS (
        |  SELECT a0.cell, t.dim,
        |    CAST(SUM(CAST(floor(CAST(e.embedding[t.dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sq,
        |    COUNT(*) AS n
        |  FROM a0 JOIN embeddings e ON e.vec_id = a0.vec_id, dims t
        |  GROUP BY a0.cell, t.dim),
        |cents AS (
        |  SELECT cell AS cent_id,
        |    list(CAST(sq AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) ORDER BY dim) AS cv
        |  FROM upd GROUP BY cell),
        |scored AS (
        |  SELECT e.vec_id, c.cent_id,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(${cosSql("e.embedding", "c.cv")}, 6) DESC, c.cent_id) AS crk
        |  FROM embeddings e, cents c),
        |assigned AS (
        |  SELECT vec_id AS cid, cent_id AS cell FROM scored WHERE crk = 1),
        |qprobes AS (
        |  SELECT vec_id AS qid, cent_id AS cell FROM scored
        |  WHERE vec_id < 30 AND crk <= 2),
        |emb AS (
        |  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
        |  FROM embeddings),
        |subs AS (
        |  SELECT vec_id, s, list_slice(emb, s*8+1, s*8+8) AS sub
        |  FROM emb, (SELECT unnest(range(0, 8)) AS s) r),
        |pc AS (
        |  SELECT vec_id AS cent_id, s, sub AS cvec FROM subs WHERE vec_id < 16),
        |pa AS (
        |  SELECT subs.vec_id, subs.s, pc.cent_id,
        |    ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.s
        |      ORDER BY round(list_sum(list_transform(range(1, 9),
        |        i -> (sub[i] - cvec[i]) * (sub[i] - cvec[i]))), 6), pc.cent_id) AS ark
        |  FROM subs JOIN pc ON subs.s = pc.s),
        |codes AS (SELECT vec_id AS cid, s, cent_id AS code FROM pa WHERE ark = 1),
        |dtab AS (
        |  SELECT q.vec_id AS qid, q.s, c.cent_id AS code,
        |    round(list_sum(list_transform(range(1, 9),
        |      i -> (q.sub[i] - c.cvec[i]) * (q.sub[i] - c.cvec[i]))), 6) AS d2
        |  FROM subs q JOIN pc c ON q.s = c.s
        |  WHERE q.vec_id < 30),
        |cand AS (
        |  SELECT q.qid, a.cid FROM qprobes q
        |  JOIN assigned a ON a.cell = q.cell AND a.cid <> q.qid),
        |sc AS (
        |  SELECT cand.qid, cand.cid,
        |    CAST(SUM(CAST(dtab.d2 AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist2
        |  FROM cand
        |  JOIN codes ON codes.cid = cand.cid
        |  JOIN dtab ON dtab.qid = cand.qid AND dtab.s = codes.s AND dtab.code = codes.code
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT qid, cid, adc_dist2,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_dist2, cid) AS rn
        |  FROM sc)
        |SELECT qid, cid, CAST(rn AS BIGINT) AS rn, adc_dist2
        |FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,

    // the neardup pair CTE verbatim, then recursive min-label reach +
    // singleton fill — mirrors q_dedup_representative's CC oracle shape
    "q_semantic_dedup" ->
      s"""WITH RECURSIVE p AS (
        |  SELECT a.vec_id AS d1, b.vec_id AS d2
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.35),
        |edges AS (
        |  SELECT d1 AS src, d2 AS dst FROM p
        |  UNION ALL SELECT d2, d1 FROM p),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |reach(node, lbl) AS (
        |  SELECT node, node AS lbl FROM nodes
        |  UNION
        |  SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
        |cc AS (SELECT node AS vec_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
        |allv AS (
        |  SELECT e.vec_id, COALESCE(cc.cluster_id, e.vec_id) AS cluster_id
        |  FROM embeddings e LEFT JOIN cc USING (vec_id)),
        |sizes AS (
        |  SELECT cluster_id, COUNT(*) AS cluster_size FROM allv GROUP BY cluster_id)
        |SELECT allv.vec_id, allv.cluster_id, sizes.cluster_size,
        |  (allv.vec_id = allv.cluster_id) AS keep
        |FROM allv JOIN sizes USING (cluster_id)
        |ORDER BY allv.vec_id""".stripMargin,

    "q_embed_neardup" ->
      s"""SELECT a.vec_id AS v1, b.vec_id AS v2,
        |  round(${cosSql("a.embedding", "b.embedding")}, 6) AS sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.35
        |ORDER BY v1, v2""".stripMargin,

    // the LSH banding CTE verbatim as the pair source, then the same
    // recursive min-label reach + singleton fill as q_semantic_dedup —
    // the sub-quadratic scale path, itself hash-gated
    "q_semantic_dedup_lsh" -> {
      val bucketSql = (1 to 8)
        .map(i => s"CASE WHEN a.embedding[t.band * 8 + $i] >= 0 THEN '1' ELSE '0' END")
        .mkString(" || ")
      s"""WITH RECURSIVE bands AS (
        |  SELECT a.vec_id, t.band, $bucketSql AS bucket
        |  FROM embeddings a, (SELECT unnest(range(8)) AS band) t),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
        |p AS (
        |  SELECT c.v1 AS d1, c.v2 AS d2
        |  FROM cand c
        |    JOIN embeddings a ON a.vec_id = c.v1
        |    JOIN embeddings b ON b.vec_id = c.v2
        |  WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.35),
        |edges AS (
        |  SELECT d1 AS src, d2 AS dst FROM p
        |  UNION ALL SELECT d2, d1 FROM p),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |reach(node, lbl) AS (
        |  SELECT node, node AS lbl FROM nodes
        |  UNION
        |  SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
        |cc AS (SELECT node AS vec_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
        |allv AS (
        |  SELECT e.vec_id, COALESCE(cc.cluster_id, e.vec_id) AS cluster_id
        |  FROM embeddings e LEFT JOIN cc USING (vec_id)),
        |sizes AS (
        |  SELECT cluster_id, COUNT(*) AS cluster_size FROM allv GROUP BY cluster_id)
        |SELECT allv.vec_id, allv.cluster_id, sizes.cluster_size,
        |  (allv.vec_id = allv.cluster_id) AS keep
        |FROM allv JOIN sizes USING (cluster_id)
        |ORDER BY allv.vec_id""".stripMargin
    },

    // base-vs-delta banding + exact cosine verification + per-delta-vector
    // report — the ANN twin of q_dedup_incremental's oracle
    "q_embed_neardup_incremental" -> {
      val bucketSql = (1 to 8)
        .map(i => s"CASE WHEN a.embedding[t.band * 8 + $i] >= 0 THEN '1' ELSE '0' END")
        .mkString(" || ")
      s"""WITH bands AS (
        |  SELECT a.vec_id, t.band, $bucketSql AS bucket
        |  FROM embeddings a, (SELECT unnest(range(8)) AS band) t),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS bv, y.vec_id AS dv
        |  FROM bands x JOIN bands y ON x.band = y.band AND x.bucket = y.bucket
        |  WHERE x.vec_id % 10 < 8 AND y.vec_id % 10 >= 8),
        |p AS (
        |  SELECT c.bv, c.dv, round(${cosSql("a.embedding", "b.embedding")}, 6) AS sim
        |  FROM cand c
        |    JOIN embeddings a ON a.vec_id = c.bv
        |    JOIN embeddings b ON b.vec_id = c.dv
        |  WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.35),
        |m AS (
        |  SELECT dv, MIN(bv) AS matched_base, COUNT(*) AS n_base_dups,
        |    MAX(sim) AS best_sim
        |  FROM p GROUP BY dv)
        |SELECT e.vec_id, m.matched_base,
        |  COALESCE(m.n_base_dups, 0) AS n_base_dups, m.best_sim,
        |  (m.matched_base IS NULL) AS is_new
        |FROM embeddings e LEFT JOIN m ON m.dv = e.vec_id
        |WHERE e.vec_id % 10 >= 8
        |ORDER BY e.vec_id""".stripMargin
    },

    "q_embed_neardup_lsh" -> {
      val bucketSql = (1 to 8)
        .map(i => s"CASE WHEN a.embedding[t.band * 8 + $i] >= 0 THEN '1' ELSE '0' END")
        .mkString(" || ")
      s"""WITH bands AS (
        |  SELECT a.vec_id, t.band, $bucketSql AS bucket
        |  FROM embeddings a, (SELECT unnest(range(8)) AS band) t),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
        |SELECT c.v1, c.v2, round(${cosSql("a.embedding", "b.embedding")}, 6) AS sim
        |FROM cand c
        |  JOIN embeddings a ON a.vec_id = c.v1
        |  JOIN embeddings b ON b.vec_id = c.v2
        |WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.35
        |ORDER BY v1, v2""".stripMargin
    }
  )
}
