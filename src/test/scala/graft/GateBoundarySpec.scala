package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{Algorithms, PathFinder}

/** Property checks at the local/distributed gate boundary: random small
  * edge multisets (duplicates and null endpoints included) with n cleaned
  * rows, gated at g ∈ {0, n−1, n, n+1}. The strategy gate must hand a
  * local kernel the COMPLETE cleaned multiset exactly when n ≤ g, and the
  * kernels must give the brute-force answer on both sides of g = n. */
class GateBoundarySpec extends AnyFunSuite {
  import Fixture._

  /** Vertices 0..5; at least 6 cleaned edges, so the distinct vertex ids
    * never outnumber them and g = n admits every local branch. */
  private val vertices = 0L to 5L

  private case class Graph(cleaned: Seq[(Long, Long)], nulls: Int) {
    def n: Int = cleaned.length
    def rows: Seq[(Option[Long], Option[Long])] =
      cleaned.map { case (a, b) => (Some(a), Some(b)) } ++
        Seq.tabulate(nulls)(i =>
          if (i % 2 == 0) (None, Some(i.toLong)) else (Some(i.toLong), None))
  }

  private val graphs: Gen[Graph] = for {
    n <- Gen.choose(6, 14)
    cleaned <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 5L)))
    nulls <- Gen.choose(0, 3)
  } yield Graph(cleaned, nulls)

  private def check(cases: Int)(prop: Prop): Unit = {
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(cases).withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  private def frame(g: Graph): DataFrame = {
    val s = init()
    import s.implicits._
    g.rows.toDF("src", "dst")
  }

  test("collectUnder returns the complete cleaned multiset iff n <= g") {
    check(25)(Prop.forAll(graphs) { g =>
      val edges = frame(g)
      val cleaned = edges.where(col("src").isNotNull && col("dst").isNotNull)
        .select(col("src").cast("long"), col("dst").cast("long"))
      Seq(0L, g.n - 1L, g.n.toLong, g.n + 1L).forall { cap =>
        val want = if (g.n <= cap) Some(g.cleaned.sorted) else None
        PathFinder.collectUnder(cleaned, cap).map(_.pairs.toSeq.sorted) ==
          want &&
          withGate(spark, cap)(PathFinder.localEdgePairs(edges))
            .map(_.toSeq.sorted) == want
      }
    })
  }

  test("BFS and WCC at g = n - 1 (distributed) and g = n (local) equal " +
      "brute force") {
    val seedSets = Gen.nonEmptyListOf(Gen.choose(0L, 5L)).map(_.take(3))
    check(6)(Prop.forAll(graphs, seedSets, Gen.choose(1L, 4L)) {
      (g, seeds, depth) =>
        val s = init()
        import s.implicits._
        val edges = frame(g)
        val bfsWant = bruteBfs(g.cleaned, seeds, depth)
        val wccWant = bruteWcc(g.cleaned)
        Seq(g.n - 1L, g.n.toLong).forall { gate =>
          withGate(spark, gate) {
            val bfs = PathFinder.bfsDistances(s, edges, seeds.toDF("id"),
                Some(depth))
              .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
              .toSeq.sorted
            val wcc = Algorithms.weaklyConnectedComponents(
                vertices.toDF("id"), edges)
              .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
            bfs == bfsWant && wcc == wccWant
          }
        }
    })
  }

  /** Component of every vertex (minimum member id) over the undirected
    * closure of `edges`. */
  private def bruteWcc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nbrs = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    vertices.map { v =>
      var seen = Set(v)
      var frontier = Set(v)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(nbrs.getOrElse(_, Nil)) -- seen
        seen ++= frontier
      }
      v -> seen.min
    }.toMap
  }
}
