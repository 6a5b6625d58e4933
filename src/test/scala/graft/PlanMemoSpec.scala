package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{PathFinder, PlanMemo}

/** The shared plan-keyed memo: semanticHash + session + slot index,
  * canonical plan + snapshot token proof, bounded LRU, and `release`
  * on every value the memo lets go of. */
class PlanMemoSpec extends AnyFunSuite {

  /** A memo whose `release` records what it was handed. */
  private def recording[V](capacity: Int): (PlanMemo[V], ArrayBuffer[V]) = {
    val released = ArrayBuffer.empty[V]
    val memo = new PlanMemo[V](capacity,
      v => released.synchronized { released += v; () })
    (memo, released)
  }

  test("equal plans hit; another slot or another plan misses") {
    val s = Fixture.init()
    val memo = new PlanMemo[String](4)
    def plan = s.range(10).toDF("id")
    assert(memo.getOrBuild(PlanMemo.id(plan), "x")("a") == "a")
    // a separately built but equal plan is served the stored value
    assert(memo.getOrBuild(PlanMemo.id(plan), "x")("b") == "a")
    assert(memo.hits == 1 && memo.misses == 1 && memo.builds == 1)
    assert(memo.get(PlanMemo.id(plan), "y").isEmpty)
    assert(memo.get(PlanMemo.id(s.range(11).toDF("id")), "x").isEmpty)
    assert(memo.misses == 3 && memo.size == 1)
  }

  test("an index collision with a different proof is a miss") {
    val memo = new PlanMemo[String](4)
    val a = new PlanMemo.Id("session", 42, "plan A")
    val b = new PlanMemo.Id("session", 42, "plan B")
    assert(a.key("x") == b.key("x"))
    memo.put(a, "x", "A's value")
    assert(memo.get(b, "x").isEmpty,
      "a 32-bit hash collision served another plan's value")
    assert(memo.get(a, "x").contains("A's value"))
  }

  test("two local frames of one schema and different rows, forced to " +
      "one index, miss instead of hitting") {
    val s = Fixture.init()
    import s.implicits._
    val memo = new PlanMemo[String](4)
    // the index a semanticHash collision would give both frames
    def forced(df: DataFrame) =
      new PlanMemo.Id("session", 42, PathFinder.planIdentity(df))
    memo.put(forced(Seq(1L, 2L).toDF("id")), "x", "rows 1, 2")
    assert(memo.get(forced(Seq(3L, 4L).toDF("id")), "x").isEmpty,
      "a same-schema local frame of other rows was served a stale entry")
    assert(memo.get(forced(Seq(2L, 1L).toDF("id")), "x").isEmpty,
      "the same rows in another order collect to other columns")
    assert(memo.get(forced(Seq(1L, 2L).toDF("id")), "x")
      .contains("rows 1, 2"))
  }

  test("an in-place parquet overwrite plus refreshByPath is a miss") {
    val s = Fixture.init()
    import s.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_memo")
      .resolve("t").toString
    Seq(1L, 2L).toDF("id").write.mode("overwrite").parquet(path)
    val memo = new PlanMemo[Long](4)
    val before = PlanMemo.id(s.read.parquet(path))
    memo.put(before, "n", 2L)
    assert(memo.get(PlanMemo.id(s.read.parquet(path)), "n").contains(2L))
    Seq(7L, 8L, 9L).toDF("id").write.mode("overwrite").parquet(path)
    s.catalog.refreshByPath(path)
    val after = PlanMemo.id(s.read.parquet(path))
    // same index: the re-read canonicalizes identically; only the
    // snapshot token in the proof sees the new files
    assert(after.key("n") == before.key("n"))
    assert(memo.get(after, "n").isEmpty,
      "a stale entry survived an in-place overwrite")
  }

  test("eviction, displacement and a lost build race each release " +
      "exactly once") {
    val (memo, released) = recording[String](2)
    def id(hash: Int, proof: String) = new PlanMemo.Id("s", hash, proof)
    // capacity eviction drops the least recently used entry
    memo.put(id(1, "p1"), "x", "one")
    memo.put(id(2, "p2"), "x", "two")
    assert(memo.get(id(1, "p1"), "x").contains("one"))
    memo.put(id(3, "p3"), "x", "three")
    assert(released == Seq("two") && memo.size == 2)
    // an entry with a different proof under the same index displaces it
    memo.put(id(1, "p1'"), "x", "one'")
    assert(released == Seq("two", "one"))
    assert(memo.get(id(1, "p1'"), "x").contains("one'"))
    // two concurrent builds of one key: both miss, one value is kept and
    // handed to both callers, the other is released
    val bothMissed = new CountDownLatch(2)
    def build(v: String): String = {
      bothMissed.countDown()
      assert(bothMissed.await(30, TimeUnit.SECONDS))
      v
    }
    val results = ArrayBuffer.empty[String]
    val threads = Seq("left", "right").map { v =>
      new Thread(() => {
        val r = memo.getOrBuild(id(4, "p4"), "x")(build(v))
        results.synchronized { results += r; () }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    assert(results.size == 2 && results.distinct.size == 1)
    val loser = if (results.head == "left") "right" else "left"
    assert(released.drop(2) == Seq("three", loser),
      "the race loser must be released, and nothing else but the " +
        "LRU entry it evicted")
    assert(memo.builds == 6)
    // clear releases each remaining entry once
    memo.clear()
    assert(released.drop(4).sorted == Seq("one'", results.head).sorted)
    assert(memo.size == 0)
  }

  test("two sessions building the same plan get separate entries and " +
      "never each other's persisted frame") {
    val s1 = Fixture.init()
    val s2 = s1.newSession()
    val (memo, released) = recording[DataFrame](4)
    def plan(s: org.apache.spark.sql.SparkSession) = s.range(100).toDF("id")
    val (id1, id2) = (PlanMemo.id(plan(s1)), PlanMemo.id(plan(s2)))
    assert(id1.proof == id2.proof && id1.key("x") != id2.key("x"))
    val f1 = memo.getOrBuild(id1, "x")(plan(s1).persist())
    val f2 = memo.getOrBuild(id2, "x")(plan(s2).persist())
    assert(memo.builds == 2 && memo.size == 2)
    assert(f1 ne f2)
    assert(f1.sparkSession eq s1)
    assert(f2.sparkSession eq s2)
    assert(memo.getOrBuild(PlanMemo.id(plan(s1)), "x")(fail()) eq f1)
    assert(memo.getOrBuild(PlanMemo.id(plan(s2)), "x")(fail()) eq f2)
    memo.clear()
    assert(released.toSet == Set(f1, f2))
    released.foreach(_.unpersist(false))
    // the real session edge index: one build per session, same answers
    // (the distributed branch forced in both sessions)
    PathFinder.distEidMemo.clear()
    def run(s: org.apache.spark.sql.SparkSession) =
      Fixture.withConf(s)(Fixture.ForceDist) {
        val edges = s.createDataFrame(Seq((0L, 1L), (1L, 2L), (2L, 0L)))
          .toDF("src", "dst")
        PathFinder.kShortestPaths(s, edges, s.range(1).toDF("id"), 1L,
          Some(2L), graft.pgq.PathMode.Walk, k = 1)
          .collect().map(_.mkString("|")).sorted.toSeq
      }
    try {
      val before = PathFinder.distEidMemo.builds
      val r1 = run(s1)
      val r2 = run(s2)
      assert(PathFinder.distEidMemo.builds == before + 2,
        "each session must build its own edge index")
      assert(r1 == r2 && r1.nonEmpty)
      assert(run(s1) == r1 && run(s2) == r2)
      assert(PathFinder.distEidMemo.builds == before + 2,
        "a repeat call in either session must hit its own index")
    } finally {
      PathFinder.distEidMemo.clear()
      OpCaches.releaseAll()
    }
  }
}
