package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Convergence-shape evidence for the contracted connected-components
  * loop: dense near-dup graphs (the common corpus shape) must converge in
  * a couple of rounds, and adversarial CHAIN graphs — the skew shape that
  * made plain min-label propagation O(diameter) and aborted at the round
  * cap — must converge in O(log diameter) rounds via pointer doubling.
  *
  * Small contracted graphs (≤ `spark.graft.cc.localMaxEdges`) are solved
  * by a driver-side union-find instead of the loop; the chain and clique
  * tests here FORCE the distributed path (conf 0) so their round bounds
  * stay pinned, and a dedicated test asserts the two routes are
  * label-identical.
  */
class CcSpec extends SparkFunSuite {

  private def pairsDf(rows: Seq[(Long, Long)]) = {
    import spark.implicits._
    rows.toDF("d1", "d2")
  }

  /** Run `body` with the driver-side union-find disabled, so the
    * distributed pointer-doubling loop is what executes; the conf's
    * prior value (if any) is restored afterwards. */
  private def distributedOnly[A](body: => A): A = {
    val key = "spark.graft.cc.localMaxEdges"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "0")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("path graph: O(log diameter) rounds, exact labels") {
    // a 200-node path with the component minimum at one END — the worst
    // case for min-label propagation (needs ~diameter rounds, which
    // overruns the 25-round cap and aborts); path halving must land it
    // in ~log2(200) ≈ 8 rounds plus the convergence-detection round
    val n = 200L
    val (labels, rounds) = distributedOnly(
      Dedup.connectedComponentsWithRounds(
        pairsDf((0L until n - 1).map(i => (i, i + 1)))))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheScope.releaseAll()
    assert(got.keySet === (0L until n).toSet)
    assert(got.values.forall(_ == 0L), "path not fully collapsed to its minimum")
    info(s"path(n=$n): $rounds fixpoint rounds")
    assert(rounds <= 14, s"chain convergence is not logarithmic: $rounds rounds")
  }

  test("two disjoint reversed chains keep separate minima") {
    // two components; ids interleaved so contraction can't rely on
    // contiguity. evens form one path, odds another.
    val evens = (0L until 120L).map(i => (2 * i, 2 * i + 2))
    val odds = (0L until 120L).map(i => (2 * i + 1, 2 * i + 3))
    val (labels, rounds) = distributedOnly(
      Dedup.connectedComponentsWithRounds(pairsDf(evens ++ odds)))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheScope.releaseAll()
    assert(got.filter(_._1 % 2 == 0).values.forall(_ == 0L))
    assert(got.filter(_._1 % 2 == 1).values.forall(_ == 1L))
    info(s"two chains(n=120 each): $rounds rounds")
    assert(rounds <= 14)
  }

  test("dense clique contracts before the loop: zero or near-zero rounds") {
    // pinned on the distributed route: the union-find route always
    // reports 0 rounds, which would make the bound below vacuous
    val nodes = 0L until 50L
    val clique = for (i <- nodes; j <- nodes if i < j) yield (i, j)
    val (labels, rounds) = distributedOnly(
      Dedup.connectedComponentsWithRounds(pairsDf(clique)))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheScope.releaseAll()
    assert(got.values.forall(_ == 0L))
    info(s"clique(n=50): $rounds rounds")
    assert(rounds <= 2, "dense graph should collapse in the level-1 contraction")
  }

  test("driver union-find and distributed loop are label-identical") {
    // mixed adversarial shape: a chain (contracted edges survive level 1),
    // a clique (collapses at level 1), a star, and id gaps — exercises
    // both routes on a graph where the contracted edge list is non-empty
    val chain = (100L until 160L).map(i => (i, i + 1))
    val clique = for (i <- 0L until 10L; j <- 0L until 10L if i < j) yield (i, j)
    val star = (500L until 520L).map(i => (300L, i))
    val pairs = chain ++ clique ++ star
    val (localL, localRounds) =
      Dedup.connectedComponentsWithRounds(pairsDf(pairs))
    val localGot = localL.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheScope.releaseAll()
    val (distL, _) = distributedOnly(
      Dedup.connectedComponentsWithRounds(pairsDf(pairs)))
    val distGot = distL.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheScope.releaseAll()
    assert(localRounds === 0, "small contracted graph must take the local route")
    assert(localGot === distGot)
    assert((100L to 160L).forall(localGot(_) == 100L))
    assert((0L until 10L).forall(localGot(_) == 0L))
    assert((500L until 520L).forall(localGot(_) == 300L) && localGot(300L) == 300L)
  }
}
