package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{Algorithms, PathFinder}
import graft.pgq.PathMode

/** Property checks at the local/distributed gate boundary: random small
  * edge multisets (self-loops, parallel edges and null endpoints
  * included) with n cleaned rows, gated at g ∈ {0, n−1, n, n+1}. The
  * strategy gate must hand a local kernel the COMPLETE cleaned multiset
  * exactly when n ≤ g; BFS and WCC must give the brute-force answer on
  * both sides of g = n; and the path kernels (with and without declared
  * eids), cheapestRoutes, the three PageRanks, LCC and both label
  * propagations must return the same rows at g = n − 1 (distributed) and
  * g = n (local), n the rows of the frame each kernel gates, path arrays
  * included — which pins the local CSR's slot order to the distributed
  * dense-eid and min-struct tie-breaks. The compiler's array id
  * translation, whose join form runs only past the 65536-row local-map
  * cap, must equal its local-map form on random arrays and bijections. */
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

  /** The (src, dst) columns of a collect, zipped and sorted. */
  private def pairs(c: PathFinder.Columns): Seq[(Long, Long)] =
    c.longs(0).zip(c.longs(1)).toSeq.sorted

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
        PathFinder.collectUnder(cleaned, cap).map(pairs) == want &&
          withGate(spark, cap)(PathFinder.localEdgePairs(edges))
            .map(pairs) == want
      }
    })
  }

  test("BFS and WCC at g = n - 1 (distributed) and g = n (local) equal " +
      "brute force") {
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

  private val seedSets = Gen.nonEmptyListOf(Gen.choose(0L, 5L)).map(_.take(3))

  test("path kernels at g = n - 1 (distributed) and g = n (local) agree, " +
      "with and without declared eids") {
    check(4)(Prop.forAll(graphs, seedSets) { (g, seeds) =>
      val s = init()
      import s.implicits._
      val sd = seeds.toDF("id")
      Seq(frame(g), attributed(g).drop("w")).forall { edges =>
        agree(g.n) {
          Seq(PathFinder.shortestPaths(s, edges, sd, 0L, None),
            PathFinder.allShortestPaths(s, edges, sd, 0L, None),
            PathFinder.kShortestPaths(s, edges, sd, 1L, Some(3L),
              PathMode.Walk, 2),
            PathFinder.enumerateModePaths(s, edges, sd, 1L, Some(3L),
              PathMode.Trail))
        }
      }
    })
  }

  test("cheapestRoutes over parallel edges of different weight, fixed-" +
      "iteration PageRank and LCC at g = n - 1 and g = n agree") {
    check(4)(Prop.forAll(graphs, seedSets) { (g, seeds) =>
      val s = init()
      import s.implicits._
      val (sd, vs) = (seeds.toDF("id"), vertices.toDF("id"))
      // every edge twice: its later, parallel copy is the cheaper one
      val twice = g.copy(cleaned = g.cleaned ++ g.cleaned)
      agree(twice.n) {
        Seq(PathFinder.cheapestRoutes(s, attributed(twice).drop("eid"), sd),
          PathFinder.cheapestRoutes(s, attributed(twice), sd))
      } && {
        // with a null-dst row: a null endpoint never counts toward a degree
        // and never joins a domain
        val (edges, weighted) = (frame(g.copy(nulls = 3)),
          attributed(g.copy(nulls = 3)))
        // weighted LPA gates its summed undirected pairs, not the rows
        val pairs = g.cleaned.collect {
          case (a, b) if a != b => (a min b, a max b)
        }.distinct
        agree(g.n) {
          Seq(Algorithms.pageRank(vs, edges, fixedIter = Some(10)),
            Algorithms.localClusteringCoefficient(vs, edges),
            Algorithms.personalizedPageRank(vs, edges, sd, iters = 10),
            Algorithms.weightedPageRank(vs, weighted, iters = 10),
            Algorithms.labelPropagation(vs, edges))
        } && agree(pairs.length) {
          Seq(Algorithms.weightedLabelPropagation(vs, weighted))
        }
      }
    })
  }

  /** A random (`__from` → `__to`) bijection over ids 0..20 and rows of
    * `array<long>` id columns drawn from a small pool (so the join form
    * sees repeated arrays): null and empty arrays, null elements, mapped
    * ids in every slot (an odd, edge slot may equal some `__from`) and
    * ids absent from the map. */
  private val translations = for {
    n <- Gen.choose(0, 8)
    from <- Gen.pick(n, 0L to 20L)
    to <- Gen.pick(n, 100L to 140L)
    order <- Gen.long
    bij = from.toSeq.zip(new scala.util.Random(order).shuffle(to.toSeq))
    elem = Gen.frequency(1 -> Gen.const(None),
      4 -> Gen.oneOf(from.toSeq ++ Seq(50L)).map(Some(_)),
      2 -> Gen.choose(50L, 60L).map(Some(_)))
    arr = Gen.frequency(1 -> Gen.const(None), 1 -> Gen.const(Some(Nil)),
      6 -> Gen.choose(1, 7).flatMap(Gen.listOfN(_, elem)).map(Some(_)))
    pool <- Gen.choose(1, 5).flatMap(Gen.listOfN(_, arr))
    rows <- Gen.choose(1, 10).flatMap(Gen.listOfN(_, Gen.oneOf(pool)))
  } yield (bij, rows)

  test("array id translation: the join form equals the local-map form, " +
      "for all slots and for vertex slots only") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.compiler.GraphTableCompiler.{translateArrayJoin,
      translateLocal}
    check(12)(Prop.forAll(translations) { case (bij, arrays) =>
      val s = init()
      import s.implicits._
      val df = s.createDataFrame(
        s.sparkContext.parallelize(arrays.zipWithIndex.map { case (a, i) =>
          Row(i.toLong, a.map(_.map(_.map(Long.box).orNull)).orNull)
        }),
        StructType(Seq(StructField("row", LongType),
          StructField("ids", ArrayType(LongType)))))
      val m = bij.toDF("__from", "__to")
      Seq(false, true).forall { vertexSlotsOnly =>
        rows(translateArrayJoin(df, "ids", m, vertexSlotsOnly)) ==
          rows(translateLocal(df, "ids", bij.toMap, vertexSlotsOnly))
      }
    })
  }

  /** [[frame]] plus per-row `w` and `eid` columns that both fall along
    * the rows, so of two parallel edges the later one has the smaller eid
    * and is the cheaper one. */
  private def attributed(g: Graph): DataFrame = {
    val s = init()
    import s.implicits._
    g.rows.zipWithIndex.map { case ((a, b), i) =>
      (a, b, (g.rows.length - i).toDouble, 1000L - i)
    }.toDF("src", "dst", "w", "eid")
  }

  /** Every frame of `run`, built and collected at g = n − 1 (distributed)
    * and at g = n (local): equal rows, path arrays included, doubles
    * within 1e-9. */
  private def agree(n: Int)(run: => Seq[DataFrame]): Boolean = {
    val Seq(dist, local) = Seq(n - 1L, n.toLong).map(gate =>
      withGate(spark, gate)(run.map(rows)))
    dist.zip(local).forall { case (d, l) =>
      d.length == l.length && d.zip(l).forall { case (x, y) =>
        x.zip(y).forall {
          case (a: Double, b: Double) => math.abs(a - b) <= 1e-9
          case (a, b) => a == b
        }
      }
    }
  }

  /** A frame's rows as value lists, arrays as lists, sorted by their
    * non-double values. */
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.toList
      case v => v
    }).sortBy(_.filterNot(_.isInstanceOf[Double]).mkString(","))

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
