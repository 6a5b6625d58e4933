package graft

import java.util.concurrent.{CyclicBarrier, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{PathFinder, PlanMemo}

/** The local-vs-distributed gate is session state
  * (`spark.graft.local.maxRows`): a session that lowers it must not flip
  * the branch another session in the same JVM takes, even while both
  * run the same kernel at the same time. */
class SessionGateSpec extends AnyFunSuite {

  test("two sessions, different gates, one kernel run concurrently: only " +
      "the gated-off session goes distributed and both match brute force") {
    val s1 = Fixture.init()
    val s2 = s1.newSession()
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L),
      (4L, 5L), (5L, 3L), (1L, 6L), (6L, 7L), (7L, 8L), (8L, 9L))
    val seeds = Seq(0L, 4L)
    val maxDepth = 3L
    val want = Fixture.bruteBfs(edges, seeds, maxDepth)
    def run(s: SparkSession): Seq[(Long, Long, Long)] = {
      import s.implicits._
      PathFinder.bfsDistances(s, edges.toDF("src", "dst"), seeds.toDF("id"),
          Some(maxDepth))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
    }
    PlanMemo.clearAll()
    try Fixture.withConf(s1)(Fixture.ForceDist) {
      val before = PathFinder.distEidMemo.builds
      // two threads released together by one barrier
      val pool = Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val start = new CyclicBarrier(2)
      val Seq(r1, r2) =
        try Seq(s1, s2).map(s => Future { start.await(); run(s) })
          .map(Await.result(_, 2.minutes))
        finally pool.shutdown()
      assert(PathFinder.distEidMemo.builds == before + 1,
        "only the session with the gate at 0 may build a distributed index")
      assert(r1 == r2, "the two branches disagree")
      assert(r1 == want, "results differ from brute force")
      assert(PathFinder.localMaxRows(s1) == 0L)
      assert(PathFinder.localMaxRows(s2) == 2000000L,
        "the other session must still read the default gate")
    } finally {
      PlanMemo.clearAll()
      OpCaches.releaseAll()
    }
    assert(PathFinder.localMaxRows(s1) == 2000000L,
      "the gated session must be back at the default")
  }
}
