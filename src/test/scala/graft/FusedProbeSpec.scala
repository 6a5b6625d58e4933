package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{Algorithms, PathFinder, PlanMemo}

/** Invariants of the strategy gate (`PathFinder.collectUnder`: one
  * memoized `limit(gate+1)` collect answers the gate AND is the local
  * kernel's input) and of the min-derived earliest-arrival start.
  *
  * The equivalence claims these tests pin:
  *  - localEdgePairs returns the COMPLETE cleaned edge multiset when
  *    under the gate (the limit(gate+1) collect truncates only over-gate
  *    inputs, which return None), and None when over;
  *  - earliestArrivalFromMin == earliestArrival(minTs) even when the
  *    global min ts rides a null-endpoint row (any start ≤ min usable
  *    ts admits the same temporal chains — arrivals are edge
  *    timestamps, never startTs itself);
  *  - an empty temporal graph yields an empty result, not an NPE.
  */
class FusedProbeSpec extends AnyFunSuite {
  import Fixture.withGate

  test("localEdgePairs under gate returns the complete cleaned multiset") {
    val s = Fixture.init()
    import s.implicits._
    val edges = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 3L), (1L, 2L), // duplicate must survive
      (null, 9L), (9L, null)        // null endpoints dropped pre-gate
    ).toDF("src", "dst")
    val got = PathFinder.localEdgePairs(edges)
    assert(got.isDefined)
    assert(got.get.sorted.toSeq == Seq((1L, 2L), (1L, 2L), (2L, 3L)))
  }

  test("localEdgePairs over gate returns None; restored gate collects") {
    val s = Fixture.init()
    import s.implicits._
    val edges = (1L to 50L).map(i => (i, i + 1)).toDF("src", "dst")
    try {
      withGate(s, 10L) {
        PlanMemo.clearAll()
        assert(PathFinder.localEdgePairs(edges).isEmpty)
      }
      PlanMemo.clearAll()
      val got = PathFinder.localEdgePairs(edges)
      assert(got.isDefined && got.get.length == 50)
    } finally PlanMemo.clearAll()
  }

  test("a memoized under-gate array does not answer a lowered gate") {
    val s = Fixture.init()
    import s.implicits._
    val edges = (1L to 20L).map(i => (i, i + 1)).toDF("src", "dst")
    try {
      PlanMemo.clearAll()
      assert(PathFinder.localEdgePairs(edges).isDefined) // memoize 20 rows
      withGate(s, 5L) {
        assert(PathFinder.localEdgePairs(edges).isEmpty,
          "memo hit must respect the CURRENT gate, not the one it was built under")
      }
    } finally PlanMemo.clearAll()
  }

  test("mid-tier probe (cap < rows <= gate) still returns the complete frame") {
    val s = Fixture.init()
    import org.apache.spark.sql.functions._
    // 300k rows: above the 262144-row cap of the former two-tier probe,
    // below the 2M gate — the one limit(gate+1) collect must return ALL
    // rows, not a prefix
    val n = 300000L
    val edges = s.range(n).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val got = PathFinder.localEdgePairs(edges)
    assert(got.isDefined && got.get.length == n,
      s"mid-tier collect must be complete (got ${got.map(_.length)})")
    // and over-gate stays None with the same input under a lowered gate
    try withGate(s, n - 1) {
      PlanMemo.clearAll()
      assert(PathFinder.localEdgePairs(edges).isEmpty)
    } finally PlanMemo.clearAll()
  }

  test("earliestArrivalFromMin == earliestArrival(minTs), null-row min included") {
    val s = Fixture.init()
    import s.implicits._
    // the GLOBAL min ts (5) rides a null-src row the kernels drop; the
    // usable min is 10 — both starts must produce identical results
    val edges = Seq[(java.lang.Long, java.lang.Long, java.lang.Long)](
      (null, 1L, 5L),
      (1L, 2L, 10L), (2L, 3L, 20L), (3L, 4L, 15L), // 15 < 20: not traversable after 2→3
      (1L, 5L, 30L)
    ).toDF("src", "dst", "ts")
    val seeds = Seq(1L).toDF("id")
    def sortRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(identity).toSeq
    val viaMin = sortRows(Algorithms.earliestArrival(edges, seeds, 5L, 4))
    val viaAuto = sortRows(Algorithms.earliestArrivalFromMin(edges, seeds, 4))
    assert(viaAuto == viaMin)
    assert(viaAuto == Seq((1L, 2L, 10L), (1L, 3L, 20L), (1L, 5L, 30L)))
  }

  test("duplicate-heavy vertices (raw rows > gate, distinct ids ≤ gate): " +
      "local == forced-distributed") {
    val s = Fixture.init()
    import s.implicits._
    // 40 raw vertex rows, 4 distinct ids, gate 8: the distinct-id gate
    // admits the LOCAL kernel where the replaced raw-row gate forced
    // distributed — the newly-admitted shape must agree with the
    // distributed branch (kernel-consistency contract, pinned here
    // without the scale harness)
    val vertices = (1L to 40L).map(i => i % 4 + 1).toDF("id")
    val edges = Seq((1L, 2L, 2.0), (2L, 3L, 1.0), (3L, 4L, 3.0),
      (4L, 1L, 1.0), (1L, 3L, 2.0)).toDF("src", "dst", "w")
    def run(): Seq[(Long, Double)] =
      Algorithms.weightedPageRank(vertices, edges, 0.85, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    try {
      PlanMemo.clearAll()
      val local = withGate(s, 8L)(run()) // raw 40 > 8, distinct 4 ≤ 8 → local
      PlanMemo.clearAll()
      val dist = withGate(s, 0L)(run()) // forced-distributed posture
      assert(local.map(_._1) == dist.map(_._1))
      local.zip(dist).foreach { case ((id, l), (_, d)) =>
        assert(math.abs(l - d) <= 1e-9 * math.max(1.0, math.abs(d)),
          s"rank diverged for id=$id: local=$l dist=$d")
      }
    } finally PlanMemo.clearAll()
  }

  test("wLPA |und| gate (raw clean > gate, aggregated und ≤ gate): " +
      "local == forced-distributed") {
    val s = Fixture.init()
    import s.implicits._
    // 30 parallel-edge rows collapse to 3 undirected pairs; gate 8
    // admits the local kernel on |und| where the replaced |clean| gate
    // forced distributed
    val edges = (1L to 30L).map { i =>
      val (a, b) = (i % 3 + 1, (i % 3 + 1) % 4 + 1)
      (a, b, 1.0)
    }.toDF("src", "dst", "w")
    val vertices = Seq(1L, 2L, 3L, 4L).toDF("id")
    def run(): Seq[(Long, Long)] =
      Algorithms.weightedLabelPropagation(vertices, edges, 4).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    try {
      PlanMemo.clearAll()
      val local = withGate(s, 8L)(run()) // raw 30 > 8, |und| 3 ≤ 8 → local
      PlanMemo.clearAll()
      val dist = withGate(s, 0L)(run())
      assert(local == dist)
    } finally PlanMemo.clearAll()
  }

  test("earliestArrivalFromMin on an empty graph is empty") {
    val s = Fixture.init()
    import s.implicits._
    val edges = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "ts")
    val seeds = Seq(1L, 2L).toDF("id")
    assert(Algorithms.earliestArrivalFromMin(edges, seeds, 4).count() == 0L)
  }
}
