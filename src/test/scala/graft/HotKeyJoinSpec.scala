package graft

import java.util.concurrent.ConcurrentLinkedQueue

import graft.operators.HotKeyJoin
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.storage.StorageLevel

/** The shared hot-key guard's contract, below the eight join sites that
  * route through it: the cap boundary, composite keys, the job-free
  * `cap <= 0` route, and the hot frame's release. The sites' trades
  * (star vs drop) are pinned by the Lsh/Winnow/Containment guard specs. */
class HotKeyJoinSpec extends SparkFunSuite {

  /** Number of Spark jobs `body` starts. `body` runs in its own job
    * group (other suites' jobs are not counted); a sentinel job in a
    * second group runs last, and since the listener bus delivers in
    * order, once it is seen every job `body` started has been too. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val groups = new ConcurrentLinkedQueue[String]()
    val tag = s"hkj-${System.nanoTime()}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(tag + "-sentinel", "listener flush")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains(tag + "-sentinel") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(groups.contains(tag + "-sentinel"), "listener never saw the sentinel job")
      (out, groups.toArray.count(_ == tag))
    } finally sc.removeSparkListener(listener)
  }

  private def keyRows(hot: Option[org.apache.spark.sql.DataFrame]) =
    hot.map(_.collect().map(_.toSeq).toSet)

  test("cap <= 0 returns None and runs no Spark job") {
    import spark.implicits._
    val probe = Seq.fill(10)("k").toDF("fp")
    for (cap <- Seq(0L, -1L)) {
      val (hot, jobs) = jobsDuring(HotKeyJoin.hotKeys(probe, Seq("fp"), cap))
      assert(hot.isEmpty, s"cap $cap must be unguarded")
      assert(jobs === 0, s"cap $cap ran $jobs job(s)")
    }
    // the listener does see the probe once the guard is on
    val (hot, jobs) = jobsDuring(HotKeyJoin.hotKeys(probe, Seq("fp"), 5L))
    assert(keyRows(hot) === Some(Set(Seq("k"))))
    assert(jobs > 0, "guarded probe ran no job: the counter is blind")
    CacheScope.releaseAll()
  }

  test("a key with exactly cap rows is cold; cap + 1 rows is hot") {
    import spark.implicits._
    val probe = (Seq.fill(3)("a") ++ Seq.fill(4)("b")).toDF("fp")
    assert(keyRows(HotKeyJoin.hotKeys(probe, Seq("fp"), 3L)) === Some(Set(Seq("b"))))
    assert(HotKeyJoin.hotKeys(probe, Seq("fp"), 4L).isEmpty,
      "no key above the cap must leave the unguarded plan")
    val cold = HotKeyJoin.cold(probe, HotKeyJoin.hotKeys(probe, Seq("fp"), 3L).get, Seq("fp"))
    assert(cold.as[String].collect().toSeq === Seq.fill(3)("a"))
    CacheScope.releaseAll()
  }

  test("composite keys count the tuple, not each column") {
    import spark.implicits._
    // (band, bucket): bucket "x" has 4 rows over two bands, but only
    // (0, "x") has more than 2
    val bands = (Seq.fill(3)((0, "x")) ++ Seq((1, "x"), (0, "y"))).toDF("band", "bucket")
    assert(keyRows(HotKeyJoin.hotKeys(bands, HotKeyJoin.BandKey, 2L)) ===
      Some(Set(Seq(0, "x"))))
    // (eval_id, train_id): eval 1 has 3 matches over two trains
    val matches = (Seq.fill(3)((1L, 10L)) ++ Seq((1L, 11L), (1L, 11L), (2L, 10L)))
      .toDF("eval_id", "train_id")
    val pair = Seq("eval_id", "train_id")
    val hot = HotKeyJoin.hotKeys(matches, pair, 2L)
    assert(keyRows(hot) === Some(Set(Seq(1L, 10L))))
    assert(HotKeyJoin.cold(matches, hot.get, pair).as[(Long, Long)].collect().sorted.toSeq ===
      Seq((1L, 11L), (1L, 11L), (2L, 10L)))
    CacheScope.releaseAll()
  }

  test("the hot frame is persisted until CacheScope.releaseAll") {
    import spark.implicits._
    val hot = HotKeyJoin.hotKeys(Seq.fill(4)("k").toDF("fp"), Seq("fp"), 1L).get
    assert(hot.storageLevel !== StorageLevel.NONE, "hot frame not persisted")
    CacheScope.releaseAll()
    assert(hot.storageLevel === StorageLevel.NONE, "releaseAll left the hot frame cached")
  }
}
