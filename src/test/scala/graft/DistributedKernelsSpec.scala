package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{Algorithms, PathFinder}
import graft.model.TableResolver

/** Forces the distributed DataFrame kernel paths (gates → 0) and replays
  * the same reference goldens the local kernels pass — both strategies
  * must be semantically identical. */
class DistributedKernelsSpec extends AnyFunSuite {
  import Fixture._

  private def withDistributed[T](body: => T): T =
    withConf(spark)(ForceDist)(body)

  test("compiler-embedded distributed kernel output survives constraint " +
      "propagation (localCheckpoint leak regression)") {
    // Spark's raw localCheckpoint snapshots origin-plan constraints into
    // LogicalRDD unfiltered; unioned per-level checkpoints embedded under
    // the compiler's outer joins then threw `key not found: dist#N` in
    // UnionBase.rewriteConstraints. CleanCheckpoint scrubs them — these
    // six queries are exactly the ones that failed before the scrub.
    val s = Fixture.init()
    withDistributed {
      for (q <- Seq("q11_varlen", "q12_shortest_path",
          "q37_varlen_undirected", "q46_multiseg_path",
          "q66_composite_path_vertices", "q76_composite_mixed_path")) {
        val n = SparkEntry.queries(q)(s, "/root/testdata/sf0.001")
          .queryExecution.toRdd.count()
        assert(n > 0, s"$q returned no rows on the distributed branch")
      }
    }
  }

  test("distributed BFS distances match goldens — shortest_path.test:61-82") {
    withDistributed {
      val s = init()
      import s.implicits._
      val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (3L, 0L), (1L, 2L),
        (1L, 3L), (2L, 3L), (4L, 3L)).toDF("src", "dst")
      val seeds = Seq(0L, 1L, 2L, 3L, 4L).toDF("id")
      val got = PathFinder.bfsDistances(s, edges, seeds, Some(3L))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .filter(t => t._3 >= 1).toSet
      // spot-check the reference's 16 golden (src,dst,dist) pairs
      assert(got.contains((4L, 0L, 2L)) && got.contains((4L, 2L, 3L)) &&
        got.contains((0L, 3L, 1L)) && got.contains((2L, 1L, 3L)))
      assert(got.size == 16)
    }
  }

  test("distributed shortest paths: endpoints + lengths consistent") {
    withDistributed {
      val s = init()
      import s.implicits._
      val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (3L, 0L), (1L, 2L),
        (1L, 3L), (2L, 3L), (4L, 3L)).toDF("src", "dst")
      val seeds = Seq(0L, 4L).toDF("id")
      val got = PathFinder.shortestPaths(s, edges, seeds, 1L, Some(3L))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getSeq[Long](3)))
      got.foreach { case (src, dst, dist, path) =>
        assert(path.head == src && path.last == dst)
        assert(path.length == 2 * dist + 1)
      }
      assert(got.count(_._1 == 0L) == 3)
      assert(got.count(_._1 == 4L) == 4) // 4→3(1), →0(2), →1(3), →2(3)
    }
  }

  test("parent-pointer shortest paths match the local kernel exactly, " +
      "including lexicographic tie-breaks") {
    val s = init()
    import s.implicits._
    // layered graph: many equal-length shortest paths per pair, explicit
    // eids — the distributed (parentRank, eid) tie-break must pick the
    // SAME lexicographically-minimal path arrays as the local kernel
    val rnd = new scala.util.Random(7)
    val edges = (for {
      l <- 0 until 4; i <- 0 until 4; j <- 0 until 4
    } yield (l * 10L + i, (l + 1) * 10L + j, rnd.nextInt(1000).toLong)) ++
      Seq((40L, 0L, 77L), (40L, 1L, 78L)) // back edges → cycles
    val eDF = edges.toDF("src", "dst", "eid")
    val seeds = Seq(0L, 1L, 12L, 40L).toDF("id")
    def run() = PathFinder.shortestPaths(s, eDF, seeds, 0L, Some(5L))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Long](3).toList)).toSet
    val local = run()
    val dist = withDistributed(run())
    assert(dist == local)
    assert(local.size > 20)
    // per-level frontier shuffles carry NO array columns (the path is
    // reconstructed after the traversal, not dragged through the BFS)
    val fs = PathFinder.lastPathFrontierSchema.get
    assert(fs.fields.forall(f =>
      !f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
      s"frontier schema carries an array: $fs")
    assert(!fs.fieldNames.contains("path"))
  }

  test("deep-chain shortest paths survive periodic seen-set checkpointing") {
    withDistributed {
      val s = init()
      import s.implicits._
      // 40 levels — crosses the every-16-levels re-checkpoint boundary
      val n = 40
      val eDF = (0 until n).map(i => (i.toLong, i + 1L, 1000L + i))
        .toDF("src", "dst", "eid")
      val seeds = Seq(0L).toDF("id")
      val got = PathFinder.shortestPaths(s, eDF, seeds, 2L, None)
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getSeq[Long](3).toList))
      assert(got.length == n - 1) // dist 2..n, lower bound drops dist 0,1
      val full = got.find(_._1 == n.toLong).get
      assert(full._2 == n.toLong && full._3.length == 2 * n + 1)
      assert(full._3 == (0 until n).flatMap(i =>
        List(i.toLong, 1000L + i)).toList :+ n.toLong)
      // distances too (separate kernel, same churn fix)
      val d = PathFinder.bfsDistances(s, eDF, seeds, None)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
      assert(d.size == n + 1 && d(40L) == 40L && d(0L) == 0L)
    }
  }

  test("distributed pagerank matches reference goldens") {
    withDistributed {
      val s = init()
      import s.implicits._
      val v = Seq(0L, 1L, 2L, 3L, 4L).toDF("id")
      val e = Seq((0L, 1L), (0L, 2L), (0L, 3L), (3L, 0L), (1L, 2L),
        (1L, 3L), (2L, 3L), (4L, 3L)).toDF("src", "dst")
      val got = Algorithms.pageRank(v, e).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val expect = Map(0L -> 0.30722555839452875, 1L -> 0.11534940106637968,
        2L -> 0.16437299553018173, 3L -> 0.32814638463154105,
        4L -> 0.028301886792456276)
      expect.foreach { case (k, vv) =>
        assert(math.abs(got(k) - vv) < 1e-5, s"node $k: ${got(k)}")
      }
    }
  }

  test("distributed WCC (pointer jumping) matches min-id components") {
    withDistributed {
      val s = init()
      import s.implicits._
      // two chains + an isolated vertex: 0-1-2-3, 10-11, 20
      val v = Seq(0L, 1L, 2L, 3L, 10L, 11L, 20L).toDF("id")
      val e = Seq((1L, 0L), (2L, 1L), (3L, 2L), (11L, 10L)).toDF("src", "dst")
      val got = Algorithms.weaklyConnectedComponents(v, e).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
        10L -> 10L, 11L -> 10L, 20L -> 20L))
    }
  }

  test("distributed SCC (trim + coloring + containment) matches Tarjan") {
    val s = init()
    import s.implicits._
    // two 3-cycles bridged one-way, a 2-cycle, a DAG tail, an isolate:
    // {0,1,2} → {3,4,5} (one-way bridge keeps them separate SCCs),
    // {10,11}, chain 20→21→22, isolate 30
    val v = (Seq(0L, 1L, 2L, 3L, 4L, 5L, 10L, 11L, 20L, 21L, 22L, 30L))
      .toDF("id")
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L),
      (3L, 4L), (4L, 5L), (5L, 3L), (10L, 11L), (11L, 10L),
      (20L, 21L), (21L, 22L)).toDF("src", "dst")
    val expect = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L,
      5L -> 3L, 10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 21L,
      22L -> 22L, 30L -> 30L)
    val local = Algorithms.stronglyConnectedComponents(v, e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == expect)
    val dist = withDistributed {
      Algorithms.stronglyConnectedComponents(v, e).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(dist == expect)
    // random digraphs: both strategies agree exactly
    for (seed <- 81L to 83L) {
      val rnd = new scala.util.Random(seed)
      val n = 10 + rnd.nextInt(8)
      val vs = (0L until n.toLong).toSeq
      val es = for {
        a <- vs; b <- vs if a != b && rnd.nextDouble() < 0.12
      } yield (a, b)
      val lv = Algorithms.stronglyConnectedComponents(
        vs.toDF("id"), es.toDF("src", "dst")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dv = withDistributed {
        Algorithms.stronglyConnectedComponents(
          vs.toDF("id"), es.toDF("src", "dst")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(lv == dv, s"(seed $seed)")
    }
  }

  test("Left-direction quantified edge with heterogeneous endpoint labels") {
    // (n:Nation)<-[e:InNation]-{1,1}(c:Customer): a sits on the edge's
    // DESTINATION side; regression for the seed/join role swap
    val s = init()
    val sf = "/root/testdata/sf0.001"
    val df = TradeGraph.graft(s, sf).graphTable(
      """trade MATCH p = ANY SHORTEST (n:Nation)<-[e:InNation]-{1,1}(c:Customer)
         WHERE n.n_nationkey = 3
         COLUMNS (n.n_nationkey AS nkey, c.c_custkey AS ckey,
                  path_length(p) AS dist)""")
    val got = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val expect = s.read.parquet(s"$sf/customer.parquet")
      .filter(org.apache.spark.sql.functions.col("c_nationkey") === 3)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(got.map(_._2).toSet == expect && got.forall(_._3 == 1L))
    assert(got.nonEmpty)
  }

  test("selective destination prunes BFS results (target set)") {
    val s = init()
    val sf = "/root/testdata/sf0.001"
    val df = TradeGraph.graft(s, sf).graphTable(
      """trade MATCH ANY SHORTEST (a:Nation)-[e:NationNext]->+(b:Nation WHERE b.n_nationkey = 15)
         WHERE a.n_regionkey = 0
         COLUMNS (a.n_nationkey AS src, b.n_nationkey AS dst)""")
    val got = df.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    // region-0 ring 0→5→10→15→20: every other region-0 nation reaches 15
    assert(got == Set((0, 15), (5, 15), (10, 15), (20, 15)))
    // identical through the distributed path (target semi-join)
    withDistributed {
      val got2 = TradeGraph.graft(s, sf).graphTable(
        """trade MATCH ANY SHORTEST (a:Nation)-[e:NationNext]->+(b:Nation WHERE b.n_nationkey = 15)
           WHERE a.n_regionkey = 0
           COLUMNS (a.n_nationkey AS src, b.n_nationkey AS dst)""")
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      assert(got2 == got)
    }
  }

  test("quantified edge inline WHERE constrains the traversed edge set") {
    val s = init()
    val sf = "/root/testdata/sf0.001"
    // region 0 ring is 0→5→10→15→20→0; forbidding edges into nation 5
    // removes 0's only out-edge, so nothing is reachable from 0
    val df = TradeGraph.graft(s, sf).graphTable(
      """trade MATCH p = ANY SHORTEST
           (a:Nation)-[e:NationNext WHERE e.dst <> 5]->{1,3}(b:Nation)
         WHERE a.n_nationkey = 0
         COLUMNS (b.n_nationkey AS dst, path_length(p) AS dist)""")
    assert(df.count() == 0)
    // sanity: without the edge filter the same query returns 3 rows
    val df2 = TradeGraph.graft(s, sf).graphTable(
      """trade MATCH p = ANY SHORTEST
           (a:Nation)-[e:NationNext]->{1,3}(b:Nation)
         WHERE a.n_nationkey = 0
         COLUMNS (b.n_nationkey AS dst, path_length(p) AS dist)""")
    assert(df2.count() == 3)
  }

  test("path functions allowed in the MATCH WHERE clause") {
    val s = init()
    val sf = "/root/testdata/sf0.001"
    val df = TradeGraph.graft(s, sf).graphTable(
      """trade MATCH p = ANY SHORTEST (a:Nation)-[e:NationNext]->{1,3}(b:Nation)
         WHERE path_length(p) <= 2
         COLUMNS (a.n_nationkey AS src, b.n_nationkey AS dst,
                  path_length(p) AS dist)""")
    val dists = df.collect().map(_.getLong(2))
    assert(dists.nonEmpty && dists.forall(_ <= 2L))
  }

  test("variable-length paths over STRING vertex keys (dense-id mapping)") {
    val s = init()
    import s.implicits._
    // name-keyed copy of the Student/know fixture
    Seq("Daniel", "Tavneet", "Gabor", "Peter", "David").toDF("name")
      .createOrReplaceTempView("person_n")
    Seq(("Daniel", "Tavneet"), ("Daniel", "Gabor"), ("Daniel", "Peter"),
      ("Peter", "Daniel"), ("Tavneet", "Gabor"), ("Tavneet", "Peter"),
      ("Gabor", "Peter"), ("David", "Peter"))
      .toDF("src_name", "dst_name").createOrReplaceTempView("know_n")
    val pgN = graft.model.PropertyGraph("pgn",
      Seq(graft.model.VertexTable("person_n", "PersonN", Seq("name"))),
      Seq(graft.model.EdgeTable("know_n", "KnowsN", Seq("src_name"),
        Seq("name"), "PersonN", Seq("dst_name"), Seq("name"), "PersonN")))
    val df = graft.compiler.GraphTableCompiler.compile(s,
      graft.pgq.MatchSpec("pgn",
        Seq(graft.pgq.PathPattern(Some("p"),
          Some(graft.pgq.SearchPrefix.AnyShortest), graft.pgq.PathMode.Walk,
          Seq(graft.pgq.VertexPattern(Some("a"), Some("PersonN"),
            where = Some("a.name = 'David'")),
            graft.pgq.EdgePattern(Some("k"), Some("KnowsN"),
              graft.pgq.EdgeDirection.Right,
              Some(graft.pgq.Quantifier(1, Some(3)))),
            graft.pgq.VertexPattern(Some("b"), Some("PersonN"))))),
        columns = Seq(graft.pgq.ColumnSpec("b.name", Some("b_name")),
          graft.pgq.ColumnSpec("path_length(p)", Some("dist")))),
      pgN, graft.model.TableResolver.catalog)
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).sorted
    // David -> Peter(1) -> Daniel(2) -> {Tavneet,Gabor}(3)
    assert(got.toSeq == Seq(("Daniel", 2L), ("Gabor", 3L), ("Peter", 1L),
      ("Tavneet", 3L)))
  }

  test("GraphX Pregel BFS agrees with the DataFrame/local kernels") {
    val s = init()
    import s.implicits._
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (3L, 0L), (1L, 2L),
      (1L, 3L), (2L, 3L), (4L, 3L)).toDF("src", "dst")
    val seeds = Seq(0L, 1L, 2L, 3L, 4L).toDF("id")
    val viaGraphX = graph.GraphXKernels.bfsDistances(s, edges, seeds, Some(3L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaDF = graph.PathFinder.bfsDistances(s, edges, seeds, Some(3L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaGraphX == viaDF)
  }

  test("GraphX BFS on the user graph matches the default kernel") {
    val s = init()
    val edges = TradeGraph.userEdges(s, "/root/testdata/sf0.001")
    val seeds = TradeGraph.events(s, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.col("user_id").as("id"))
      .filter(org.apache.spark.sql.functions.col("id") < 20).distinct()
    val viaGraphX = graph.GraphXKernels.bfsDistances(s, edges, seeds, Some(2L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaDefault = graph.PathFinder.bfsDistances(s, edges, seeds, Some(2L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaGraphX == viaDefault)
  }

  test("distributed cheapest paths (Bellman-Ford)") {
    withDistributed {
      val s = init()
      import s.implicits._
      // 1→2 (w10), 2→3 (w1), 1→3 (w20): cheapest 1→3 is 11 via 2
      val e = Seq((1L, 2L, 10.0), (2L, 3L, 1.0), (1L, 3L, 20.0))
        .toDF("src", "dst", "w")
      val seeds = Seq(1L).toDF("id")
      val got = PathFinder.cheapestPaths(s, e, seeds).collect()
        .map(r => (r.getLong(1), r.getDouble(2))).toMap
      assert(got == Map(1L -> 0.0, 2L -> 10.0, 3L -> 11.0))
    }
  }

  test("null edge endpoints are dropped identically on both strategies") {
    val s = init()
    import s.implicits._
    // nulls can never join (fixed-hop SQL semantics) — the kernels must
    // drop them too, not crash the local collect or fabricate id-0 edges
    val e = Seq((Some(0L), Some(1L)), (Some(1L), None), (None, Some(2L)))
      .toDF("src", "dst")
    val seeds = Seq(0L, 1L, 2L).toDF("id")
    def run() = PathFinder.bfsDistances(s, e, seeds, None)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val local = run()
    assert(local == withDistributed(run()))
    assert(local == Set((0L, 0L, 0L), (1L, 1L, 0L), (2L, 2L, 0L),
      (0L, 1L, 1L)))
  }

  test("ALL SHORTEST: duplicate physical edge rows are ONE parent on " +
      "both strategies") {
    val s = init()
    import s.implicits._
    // the edge 0→1 (eid 7) appears twice — a duplicated physical row, not
    // a parallel edge; ALL SHORTEST must emit its path once per strategy
    val e = Seq((0L, 1L, 7L), (0L, 1L, 7L), (0L, 2L, 8L), (2L, 1L, 9L))
      .toDF("src", "dst", "eid")
    val seeds = Seq(0L).toDF("id")
    def paths() = PathFinder.allShortestPaths(s, e, seeds, 1L, None)
      .collect().map(r => (r.getLong(1), r.getSeq[Long](3).toList)).toSeq
      .sortBy(_.toString)
    val local = paths()
    val dist = withDistributed(paths())
    assert(local == dist)
    assert(local.count(_._1 == 1L) == 1) // one shortest path 0→1, once
  }

  test("WALK enumeration rejects a negative upper bound like other modes") {
    val s = init()
    import s.implicits._
    val e = Seq((0L, 1L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("id")
    intercept[IllegalArgumentException] {
      PathFinder.enumerateModePaths(s, e, seeds, 0L, Some(-1L),
        graft.pgq.PathMode.Walk)
    }
  }

  test("cheapest ROUTES: distributed matches local, zero-weight cycle safe") {
    val s = init()
    import s.implicits._
    // weighted diamond + a zero-weight 2-cycle (5⇄6) that would loop a
    // parent relation without the hops tie-break; 1→3 cheapest is 11 via 2
    val e = Seq((1L, 2L, 10.0), (2L, 3L, 1.0), (1L, 3L, 20.0),
      (3L, 4L, 0.5), (1L, 5L, 1.0), (5L, 6L, 0.0), (6L, 5L, 0.0))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("id")
    def run() = PathFinder.cheapestRoutes(s, e, seeds).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getSeq[Long](3).toList))).toMap
    val local = run()
    val dist = withDistributed(run())
    assert(local == dist)
    // route structure: [v,e,…,v], endpoints right, odd length
    local.foreach { case ((src, dst), (_, path)) =>
      assert(path.head == src && path.last == dst && path.length % 2 == 1)
    }
    // cheapest 1→3 goes via 2 (cost 11, not the direct 20) and 1→4
    // extends it — vertex slots are positions 0,2,4,…
    assert(local((1L, 3L))._1 == 11.0)
    assert(local((1L, 3L))._2.grouped(2).map(_.head).toList ==
      List(1L, 2L, 3L))
    assert(local((1L, 4L))._1 == 11.5)
    assert(local((1L, 4L))._2.grouped(2).map(_.head).toList ==
      List(1L, 2L, 3L, 4L))
    // zero-weight cycle: 5 and 6 reached at cost 1.0 with FINITE paths —
    // the hops tie-break keeps the parent relation acyclic
    assert(local((1L, 5L)) ._1 == 1.0 && local((1L, 6L))._1 == 1.0)
    assert(local((1L, 6L))._2.grouped(2).map(_.head).toList ==
      List(1L, 5L, 6L))
  }

  test("null edge weights are dropped identically on both strategies") {
    val s = init()
    import s.implicits._
    // a null-weight edge is unusable, not free: the local kernel would
    // read it as 0.0 while the distributed min-struct sorts its null cost
    // first — both strategies must instead agree the edge does not exist
    val e = Seq((Some(1L), Some(2L), Some(10.0)),
      (Some(2L), Some(3L), None: Option[Double]),
      (Some(1L), Some(3L), Some(20.0))).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("id")
    def costs() = PathFinder.cheapestPaths(s, e, seeds).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toMap
    def routes() = PathFinder.cheapestRoutes(s, e, seeds).collect()
      .map(r => (r.getLong(1),
        (r.getDouble(2), r.getSeq[Long](3).toList))).toMap
    val lc = costs()
    val lr = routes()
    assert(lc == withDistributed(costs()))
    assert(lr == withDistributed(routes()))
    // 1→3 costs 20 via the direct edge — NOT 10 via the null-weight edge
    assert(lc == Map(1L -> 0.0, 2L -> 10.0, 3L -> 20.0))
    assert(lr(3L)._1 == 20.0 &&
      lr(3L)._2.grouped(2).map(_.head).toList == List(1L, 3L))
  }

  test("bidirectional target BFS matches the local kernel (incl. unreachable pairs)") {
    val s = init()
    import s.implicits._
    // branched graph: chain 0→1→2→3, side branch 1→10→11, island 20→21
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (1L, 10L), (10L, 11L),
      (20L, 21L)).toDF("src", "dst")
    val seeds = Seq(0L, 20L).toDF("id")
    val targets = Seq(3L, 11L, 21L, 0L).toDF("id")
    val local = PathFinder.bfsDistances(s, e, seeds, None, Some(targets))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dist = withDistributed {
      PathFinder.bfsDistances(s, e, seeds, None, Some(targets))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(dist == local)
    assert(dist == Set((0L, 0L, 0L), (0L, 3L, 3L), (0L, 11L, 3L),
      (20L, 21L, 1L)))
    // depth limit cuts long pairs in both strategies
    val dist2 = withDistributed {
      PathFinder.bfsDistances(s, e, seeds, Some(2L), Some(targets))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(dist2 == Set((0L, 0L, 0L), (20L, 21L, 1L)))
  }

  test("bidirectional target BFS settles early instead of expanding the component") {
    withDistributed {
      val s = init()
      import s.implicits._
      // chain 0→1→…→40; seed 0, target 1: unidirectional BFS walks 40
      // levels before the final semi-join, meet-in-the-middle settles
      // after one expansion
      val e = (0L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
      val seeds = Seq(0L).toDF("id")
      val targets = Seq(1L).toDF("id")
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      s.sparkContext.addSparkListener(listener)
      try {
        val got = PathFinder.bfsDistances(s, e, seeds, None, Some(targets))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
        assert(got == Set((0L, 1L, 1L)))
        Thread.sleep(1500)
        // one or two expansions ⇒ a handful of jobs; 40 unidirectional
        // levels would exceed this by an order of magnitude (31 = the
        // old 30 + the session edge index's one build-time sizing count)
        assert(jobs.get() < 31, s"ran ${jobs.get()} jobs")
      } finally s.sparkContext.removeSparkListener(listener)
    }
  }

  test("pagerank runs ONE stats action per iteration (fused dangling+delta)") {
    withDistributed {
      val s = init()
      import s.implicits._
      val v = (0L until 30L).toDF("id")
      val e = (0L until 29L).map(i => (i, i + 1)).toDF("src", "dst")
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      // AQE materializes each shuffle stage as its own job — disable so
      // the count reflects driver ACTIONS, which is what fusion reduces
      val aqe = s.conf.get("spark.sql.adaptive.enabled", "true")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.sparkContext.addSparkListener(listener)
      try {
        val n5 = {
          jobs.set(0)
          Algorithms.pageRank(v, e, fixedIter = Some(5)).count()
          Thread.sleep(1500); jobs.get()
        }
        val n10 = {
          jobs.set(0)
          Algorithms.pageRank(v, e, fixedIter = Some(10)).count()
          Thread.sleep(1500); jobs.get()
        }
        // marginal jobs per iteration: localCheckpoint materialization +
        // ONE fused stats action + the broadcast-exchange build the join
        // submits asynchronously = 3; the unfused dangling+delta form ran 4
        val perIter = (n10 - n5) / 5.0
        assert(perIter <= 3.2,
          s"pagerank marginal cost $perIter jobs/iteration (n5=$n5, n10=$n10)")
      } finally {
        s.sparkContext.removeSparkListener(listener)
        s.conf.set("spark.sql.adaptive.enabled", aqe)
      }
    }
  }

  test("distributed mode enumeration matches the local kernel exactly") {
    val s = init()
    import s.implicits._
    val eDF = Seq((0L, 1L, 0L), (0L, 2L, 1L), (0L, 3L, 2L), (1L, 2L, 3L),
      (1L, 3L, 4L), (2L, 3L, 5L), (3L, 0L, 6L), (4L, 3L, 7L))
      .toDF("src", "dst", "eid")
    val seeds = Seq(0L, 4L).toDF("id")
    import graft.pgq.PathMode
    for (mode <- Seq(PathMode.Trail, PathMode.Acyclic, PathMode.Simple)) {
      def run() = PathFinder.enumerateModePaths(s, eDF, seeds, 1L, None, mode)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getSeq[Long](3).toList)).toSet
      val local = run()
      val dist = withDistributed(run())
      assert(dist == local, s"mode $mode diverged")
      assert(local.nonEmpty)
      // every path respects the mode's visited-set invariant
      local.foreach { case (_, _, _, p) =>
        val vs = p.zipWithIndex.collect { case (v, i) if i % 2 == 0 => v }
        val es = p.zipWithIndex.collect { case (v, i) if i % 2 == 1 => v }
        mode match {
          case PathMode.Trail => assert(es.distinct.length == es.length)
          case PathMode.Acyclic => assert(vs.distinct.length == vs.length)
          case PathMode.Simple =>
            val interior = if (vs.head == vs.last) vs.init else vs
            assert(interior.distinct.length == interior.length)
          case _ => ()
        }
      }
    }
    // bounded WALK enumeration agrees too (and the row count is the walk
    // count, not the pair count)
    def walks() = PathFinder.enumerateModePaths(s, eDF, seeds, 1L, Some(3L),
      PathMode.Walk).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](3).toList)).toSet
    assert(withDistributed(walks()) == walks())
    // SHORTEST k: the pruned walk path and the mode-constrained path both
    // agree across strategies, and every pair carries ≤ k rows
    for ((mode, upper) <- Seq((PathMode.Walk, Some(3L)),
        (PathMode.Trail, None))) {
      def topk() = PathFinder.kShortestPaths(s, eDF, seeds, 1L, upper,
        mode, 2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getSeq[Long](3).toList)).toSet
      val localK = topk()
      assert(withDistributed(topk()) == localK, s"SHORTEST k $mode diverged")
      localK.groupBy(t => (t._1, t._2)).foreach { case (pair, ps) =>
        assert(ps.size <= 2, s"pair $pair has ${ps.size} rows")
      }
    }
  }

  test("distributed ALL SHORTEST matches the local kernel on a multi-path grid") {
    val s = init()
    import s.implicits._
    // 3×3 grid, edges right and down: the number of shortest (0,0)→(2,2)
    // paths is C(4,2)=6 — real parent fan-out in the backtrack
    def id(r: Long, c: Long) = r * 3 + c
    val edges = (for { r <- 0L until 3L; c <- 0L until 3L } yield {
      Seq((r, c, r, c + 1), (r, c, r + 1, c))
    }).flatten.filter(t => t._3 < 3 && t._4 < 3)
      .zipWithIndex
      .map { case ((r1, c1, r2, c2), i) => (id(r1, c1), id(r2, c2), i.toLong) }
    val eDF = edges.toDF("src", "dst", "eid")
    val seeds = Seq(0L).toDF("id")
    def run() = PathFinder.allShortestPaths(s, eDF, seeds, 0L, None)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Long](3).toList)).toSet
    val local = run()
    val dist = withDistributed(run())
    assert(dist == local)
    assert(local.count(t => t._2 == 8L) == 6) // six shortest corner paths
    assert(local.count(t => t._2 == 4L) == 2) // two to the center
    local.foreach { case (src, dst, d, p) =>
      assert(p.head == src && p.last == dst && p.length == 2 * d + 1)
    }
  }

  test("degree-ordered LCC handles a celebrity hub and credits all corners") {
    withDistributed {
      val s = init()
      import s.implicits._
      // star: hub 0 with 300 leaves, plus one leaf-leaf edge (1,2) forming
      // a single triangle {0,1,2}; the old Θ(Σd²) wedge join exploded on
      // the hub, the oriented join enumerates wedges at the LOW-rank corner
      val star = (1L to 300L).map(i => (0L, i))
      val e = (star :+ (1L, 2L)).toDF("src", "dst")
      val v = (0L to 300L).toDF("id")
      val got = Algorithms.localClusteringCoefficient(v, e).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // hub: links=2, d=300 → 2/(300·299); leaves 1,2: d=2 → 2/(2·1)=1.0
      assert(math.abs(got(0L) - 2.0 / (300.0 * 299.0)) < 1e-12)
      assert(got(1L) == 1.0 && got(2L) == 1.0)
      assert(got(3L) == 0.0 && got(300L) == 0.0)
    }
  }
}
