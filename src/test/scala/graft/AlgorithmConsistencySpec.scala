package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.Algorithms

/** Algorithm kernels vs independent test-side oracles on seeded random
  * graphs: WCC against a plain union-find written here, LCC against a
  * brute-force wedge count, PageRank against its conservation laws. The
  * oracles share no code with the kernels, so agreement is evidence, not
  * tautology (the fixed q15-q17 fixtures cover reference-exactness; this
  * covers the space of shapes). */
class AlgorithmConsistencySpec extends AnyFunSuite {

  import Fixture.withConf

  /** Runs `body` with every size-gated kernel forced distributed. */
  private def withDist[T](body: => T): T =
    withConf(Fixture.spark)(Fixture.ForceDist)(body)

  /** Turns off co-purchase's local kernel (its pair gate is its own). */
  private val NoLocalPairs = "spark.graft.copurchase.localMaxPairs" -> "0"

  /** Co-purchase memberships whose v no longer packs into 31 bits, so
    * the distributed branch runs the blocked join instead of the packed
    * streaming kernel; u, and so every output pair, is unchanged. */
  private def unpackableV(ms: Seq[(Long, Long)]): Seq[(Long, Long)] =
    ms.map { case (u, v) => (u, v + (1L << 31)) }

  private def randomGraph(seed: Long): (Seq[Long], Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val n = 8 + rnd.nextInt(10)
    val edges = for {
      s <- 0L until n.toLong; d <- 0L until n.toLong
      if s != d && rnd.nextDouble() < 0.18
    } yield (s, d)
    (0L until n.toLong, edges)
  }

  test("WCC matches a test-side union-find on random graphs") {
    val s = Fixture.init()
    import s.implicits._
    for (seed <- 11L to 16L) {
      val (vs, es) = randomGraph(seed)
      val got = Algorithms.weaklyConnectedComponents(
        vs.toDF("id"), es.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // oracle: naive union-find over the undirected edge set
      val parent = scala.collection.mutable.Map(vs.map(v => v -> v): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra) = rb
      }
      val oracle = vs.groupBy(v => find(v)) // component → members
      oracle.values.foreach { members =>
        // engine reports min-member id as the component id for every member
        val want = members.min
        members.foreach(m => assert(got(m) == want, s"(seed $seed, v $m)"))
      }
      assert(got.keySet == vs.toSet, s"(seed $seed)")
    }
  }

  test("LCC matches a brute-force wedge count on random graphs") {
    val s = Fixture.init()
    import s.implicits._
    for (seed <- 21L to 26L) {
      val (vs, es) = randomGraph(seed)
      val got = Algorithms.localClusteringCoefficient(
        vs.toDF("id"), es.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // oracle: undirected neighborhood, count linked neighbor pairs
      val nbr = vs.map(v => v ->
        es.collect { case (a, b) if a == v && b != v => b
                     case (a, b) if b == v && a != v => a }.toSet).toMap
      val linked = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
      vs.foreach { v =>
        val ns = nbr(v).toSeq
        val k = ns.length
        val expect =
          if (k < 2) 0.0
          else {
            val links = (for {
              i <- ns.indices; j <- (i + 1) until k
              if linked((ns(i), ns(j)))
            } yield 1).sum
            2.0 * links / (k.toLong * (k - 1))
          }
        assert(math.abs(got(v) - expect) < 1e-6,
          s"(seed $seed, v $v: got ${got(v)}, want $expect)")
      }
    }
  }

  test("triangleCounts matches brute-force triple enumeration on random graphs") {
    val s = Fixture.init()
    import s.implicits._
    for (seed <- 61L to 66L) {
      val (vs, es) = randomGraph(seed)
      val got = Algorithms.triangleCounts(
        vs.toDF("id"), es.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // oracle: test every unordered vertex triple against the undirected
      // edge set
      val linked = es.filter(e => e._1 != e._2)
        .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
      val triples = for {
        i <- vs.indices; j <- (i + 1) until vs.length
        k <- (j + 1) until vs.length
        if linked((vs(i), vs(j))) && linked((vs(i), vs(k))) &&
          linked((vs(j), vs(k)))
      } yield (vs(i), vs(j), vs(k))
      val expect = vs.map(v => v ->
        triples.count(t => t._1 == v || t._2 == v || t._3 == v).toLong).toMap
      assert(got == expect, s"(seed $seed)")
      // LCC consistency: links = 2·triangles on the same graph
      val lcc = Algorithms.localClusteringCoefficient(
        vs.toDF("id"), es.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val nbr = vs.map(v => v ->
        es.collect { case (a, b) if a == v && b != v => b
                     case (a, b) if b == v && a != v => a }.toSet).toMap
      vs.foreach { v =>
        val d = nbr(v).size
        if (d >= 2)
          assert(math.abs(lcc(v) -
            2.0 * expect(v) / (d.toLong * (d - 1))) < 1e-9,
            s"(seed $seed, v $v)")
      }
    }
  }

  test("triangle family: local edge-iterator kernel and distributed " +
      "wedge join agree on random graphs") {
    val s = Fixture.init()
    import s.implicits._
    for (seed <- 71L to 76L) {
      val (vs, es) = randomGraph(seed)
      val localTri = Algorithms.triangleCounts(
        vs.toDF("id"), es.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val distTri = withDist(Algorithms.triangleCounts(
        vs.toDF("id"), es.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(localTri == distTri, s"(seed $seed triangles)")
      val localLcc = Algorithms.localClusteringCoefficient(
        vs.toDF("id"), es.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val distLcc = withDist(Algorithms.localClusteringCoefficient(
        vs.toDF("id"), es.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
      assert(localLcc.keySet == distLcc.keySet, s"(seed $seed lcc keys)")
      localLcc.foreach { case (v, x) =>
        assert(math.abs(x - distLcc(v)) < 1e-12, s"(seed $seed, v $v)")
      }
    }
  }

  test("kCore: local peel and distributed restrict loop match a " +
      "brute-force fixpoint on random graphs") {
    val s = Fixture.init()
    import s.implicits._
    for (seed <- 81L to 86L; k <- Seq(2, 3)) {
      val (vs, es) = randomGraph(seed)
      // brute-force oracle: recompute undirected simple degrees over the
      // survivor set until nothing changes
      val und = es.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
      var surv = vs.toSet
      var changed = true
      while (changed) {
        val deg = surv.map(v => v -> und.count { case (a, b) =>
          (a == v && surv(b)) || (b == v && surv(a))
        }).toMap
        val next = surv.filter(deg(_) >= k)
        changed = next != surv
        surv = next
      }
      val expect = vs.map(v => v -> surv(v)).toMap
      val local = Algorithms.kCore(vs.toDF("id"), es.toDF("src", "dst"), k)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val dist = withDist(
        Algorithms.kCore(vs.toDF("id"), es.toDF("src", "dst"), k)
          .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap)
      assert(local == expect, s"(seed $seed k $k local)")
      assert(dist == expect, s"(seed $seed k $k dist)")
    }
  }

  test("harmonic centrality: both BFS branches match a brute-force " +
      "distance oracle on random digraphs") {
    val s = Fixture.init()
    import s.implicits._
    for (seed <- 91L to 94L) {
      val (vs, es) = randomGraph(seed)
      // Floyd-Warshall distances as the oracle
      val n = vs.length
      val idx = vs.zipWithIndex.toMap
      val INF = Int.MaxValue / 4
      val d = Array.fill(n, n)(INF)
      vs.foreach(v => d(idx(v))(idx(v)) = 0)
      es.foreach { case (a, b) =>
        d(idx(a))(idx(b)) = math.min(d(idx(a))(idx(b)), 1)
      }
      for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
        if (d(i)(k) + d(k)(j) < d(i)(j)) d(i)(j) = d(i)(k) + d(k)(j)
      val expect = vs.map { v =>
        val ds = vs.filter(u => u != v && d(idx(v))(idx(u)) < INF)
          .map(u => d(idx(v))(idx(u)))
        v -> ((ds.length.toLong, ds.map(_.toLong).sum, ds.map(1.0 / _).sum))
      }.toMap
      def run() = Algorithms.harmonicCentrality(
        vs.toDF("id"), es.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      def check(got: Map[Long, (Long, Long, Double)], tag: String): Unit = {
        assert(got.keySet == expect.keySet, s"(seed $seed $tag keys)")
        expect.foreach { case (v, (nr, sd, h)) =>
          val (gn, gs, gh) = got(v)
          assert(gn == nr && gs == sd && math.abs(gh - h) < 1e-6,
            s"(seed $seed $tag, v $v: got ($gn,$gs,$gh) want ($nr,$sd,$h))")
        }
      }
      check(run(), "local")
      check(withDist(run()), "dist")
    }
  }

  test("personalized PageRank: both branches match a naive iteration, " +
      "conserve mass, and keep non-reachable vertices at zero") {
    val s = Fixture.init()
    import s.implicits._
    for (seed <- 101L to 104L) {
      val (vs, es) = randomGraph(seed)
      val seedSet = vs.filter(_ % 3 == 0).toSet
      // naive oracle: the same fixed-point iteration written flat
      val n = vs.length
      val idx = vs.zipWithIndex.toMap
      val outDeg = new Array[Int](n)
      es.foreach { case (a, _) => outDeg(idx(a)) += 1 }
      val sv = vs.map(v =>
        if (seedSet(v)) 1.0 / seedSet.size else 0.0).toArray
      var r = sv.clone()
      for (_ <- 1 to 30) {
        val c = new Array[Double](n)
        es.foreach { case (a, b) =>
          c(idx(b)) += r(idx(a)) / outDeg(idx(a))
        }
        val dang = vs.indices.filter(outDeg(_) == 0).map(r).sum
        r = vs.indices.map(i =>
          0.15 * sv(i) + 0.85 * (c(i) + dang * sv(i))).toArray
      }
      def run() = Algorithms.personalizedPageRank(
        vs.toDF("id"), es.toDF("src", "dst"),
        seedSet.toSeq.toDF("id"))
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      def check(got: Map[Long, Double], tag: String): Unit = {
        assert(got.keySet == vs.toSet, s"(seed $seed $tag keys)")
        vs.foreach { v =>
          assert(math.abs(got(v) - r(idx(v))) < 1e-9,
            s"(seed $seed $tag v $v: ${got(v)} vs ${r(idx(v))})")
        }
        // restart-to-seeds conserves total mass
        assert(math.abs(got.values.sum - 1.0) < 1e-6, s"(seed $seed $tag)")
      }
      check(run(), "local")
      check(withDist(run()), "dist")
    }
  }

  test("SCC matches brute-force mutual reachability on random digraphs") {
    val s = Fixture.init()
    import s.implicits._
    for (seed <- 71L to 76L) {
      val (vs, es) = randomGraph(seed)
      val got = Algorithms.stronglyConnectedComponents(
        vs.toDF("id"), es.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // oracle: transitive closure by Floyd-Warshall-style saturation,
      // then component(v) = min over the mutually-reachable set
      val n = vs.length
      val idx = vs.zipWithIndex.toMap
      val reach = Array.fill(n, n)(false)
      es.foreach { case (a, b) => reach(idx(a))(idx(b)) = true }
      for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
        if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
      val expect = vs.map { v =>
        val i = idx(v)
        val mut = vs.filter(u => u == v ||
          (reach(i)(idx(u)) && reach(idx(u))(i)))
        v -> mut.min
      }.toMap
      assert(got == expect, s"(seed $seed)")
    }
  }

  test("PageRank conserves mass and ranks sources last on random graphs") {
    val s = Fixture.init()
    import s.implicits._
    for (seed <- 31L to 34L) {
      val (vs, es) = randomGraph(seed)
      val pr = Algorithms.pageRank(vs.toDF("id"), es.toDF("src", "dst"),
        phantomNodes = 0)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(pr.keySet == vs.toSet, s"(seed $seed)")
      // ranks are a probability distribution (dangling mass redistributed)
      assert(math.abs(pr.values.sum - 1.0) < 1e-4, s"(seed $seed)")
      assert(pr.values.forall(_ > 0), s"(seed $seed)")
      // a vertex with no in-edges can never out-rank one that receives
      // every vertex's teleport PLUS real in-flow from it
      val noIn = vs.filter(v => !es.exists(_._2 == v))
      noIn.foreach { v =>
        es.filter(_._1 == v).map(_._2).foreach { target =>
          assert(pr(v) < pr(target) + 1e-9,
            s"(seed $seed: source $v outranks its target $target)")
        }
      }
    }
  }

  test("deterministic walks: both branches agree and every step is a real " +
      "edge picked by the hash argmin; dead ends halt in place") {
    val s = Fixture.init()
    import s.implicits._
    // test-side hash oracle: an INDEPENDENT md5 route (hex via BigInteger
    // formatting, not the kernel's byte loop)
    def h(start: Long, r: Int, t: Int, d: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val dig = md.digest(s"$start:$r:$t:$d".getBytes("UTF-8"))
      String.format("%032x", new java.math.BigInteger(1, dig))
    }
    for (seed <- 201L to 204L) {
      val (vs, es) = randomGraph(seed)
      // add a guaranteed dead end: a fresh vertex with one in-edge only
      val sink = vs.max + 1
      val es2 = es :+ (vs.head -> sink)
      val vs2 = vs :+ sink
      val adj = es2.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      def run() = Algorithms.deterministicWalks(
          vs2.toDF("id"), es2.toDF("src", "dst"),
          walksPerStart = 2, steps = 5)
        .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2),
          x.getSeq[Long](3))).toSeq
      def check(got: Seq[(Long, Int, Long, Seq[Long])], tag: String): Unit = {
        assert(got.size == vs2.size * 2, s"(seed $seed $tag)")
        got.foreach { case (start, r, cur, path) =>
          assert(path.head == start && path.last == cur,
            s"(seed $seed $tag $start/$r endpoints)")
          // replay the walk with the test-side hash
          var exp = List(start)
          var t = 1
          var halted = false
          while (t <= 5 && !halted) {
            adj.get(exp.head) match {
              case Some(nbrs) =>
                exp = nbrs.map(d => (h(start, r, t, d), d)).min._2 :: exp
              case None => halted = true
            }
            t += 1
          }
          assert(path == exp.reverse, s"(seed $seed $tag $start/$r path)")
        }
      }
      val local = run()
      check(local, "local")
      val dist = withDist(run())
      check(dist, "dist")
      assert(local.sortBy(x => (x._1, x._2)) ==
        dist.sortBy(x => (x._1, x._2)), s"(seed $seed branches)")
    }
  }

  test("label propagation: both branches match a naive synchronous " +
      "update; a dense clique holds its label against one bridge") {
    val s = Fixture.init()
    import s.implicits._
    def naive(vs: Seq[Long], es: Seq[(Long, Long)],
        rounds: Int): Map[Long, Long] = {
      val und = es.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      val verts = (vs ++ und.flatMap(e => Seq(e._1, e._2))).distinct
      val adj = verts.map(v => v -> (und.collect {
        case (a, b) if a == v => b
        case (a, b) if b == v => a
      })).toMap
      var lab = verts.map(v => v -> v).toMap
      for (_ <- 1 to rounds) lab = verts.map { v =>
        val nbrs = adj(v)
        if (nbrs.isEmpty) v -> lab(v)
        else v -> nbrs.groupBy(lab).toSeq
          .map { case (l, g) => (-g.size, l) }.min._2
      }.toMap
      lab
    }
    for (seed <- 301L to 304L) {
      val (vs, es) = randomGraph(seed)
      val want = naive(vs, es, 5)
      def run() = Algorithms.labelPropagation(
          vs.toDF("id"), es.toDF("src", "dst"), rounds = 5)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(run() === want, s"(seed $seed local)")
      assert(withDist(run()) === want, s"(seed $seed dist)")
    }
    // two 5-cliques joined by one bridge: communities stay separate
    // (WCC would merge them — the discriminating semantics)
    val cliqueA = for (a <- 0L to 4L; b <- 0L to 4L if a < b) yield (a, b)
    val cliqueB = for (a <- 10L to 14L; b <- 10L to 14L if a < b) yield (a, b)
    val es2 = cliqueA ++ cliqueB :+ (4L -> 10L)
    val got = Algorithms.labelPropagation(
        (0L to 14L).filter(v => v <= 4 || v >= 10).toDF("id"),
        es2.toDF("src", "dst"), rounds = 6)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert((0L to 4L).map(got).toSet.size === 1)
    assert((10L to 14L).map(got).toSet.size === 1)
    assert(got(0L) !== got(14L), "bridge must not merge the cliques")
  }

  test("betweenness: both branches match an enumerate-all-shortest-paths " +
      "oracle on random digraphs; source sampling sums only those sources") {
    val s = Fixture.init()
    import s.implicits._
    // independent oracle: enumerate every shortest path by BFS-layered
    // DP-free expansion, then count interior occurrences / sigma_st —
    // no Brandes recurrence anywhere
    def oracle(vs: Seq[Long], es: Seq[(Long, Long)],
        sources: Seq[Long]): Map[Long, Double] = {
      val simple = es.filter(e => e._1 != e._2).distinct
      val adj = simple.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val verts = (vs ++ simple.flatMap(e => Seq(e._1, e._2))).distinct
      val b = scala.collection.mutable.Map(verts.map(_ -> 0.0): _*)
      for (src <- sources.distinct if verts.contains(src)) {
        // all shortest paths src→anything via breadth-layered expansion
        var layer = List(List(src))
        val seenDist = scala.collection.mutable.Map(src -> 0)
        val paths = scala.collection.mutable.ArrayBuffer[List[Long]]()
        var d = 0
        while (layer.nonEmpty) {
          d += 1
          val next = layer.flatMap { p =>
            adj.getOrElse(p.head, Nil)
              .filter(w => seenDist.getOrElse(w, d) >= d)
              .map(w => w :: p)
          }
          next.foreach(p => seenDist(p.head) = d)
          // keep only extensions that are still shortest to their head
          layer = next.filter(p => seenDist(p.head) == d)
          paths ++= layer
        }
        paths.groupBy(_.head).foreach { case (t, ps) if t != src =>
          val sigma = ps.size.toDouble
          ps.foreach(_.drop(1).dropRight(1).foreach(v => b(v) += 1.0 / sigma))
        case _ => ()
        }
      }
      b.toMap
    }
    for (seed <- 401L to 404L) {
      val (vs, es) = randomGraph(seed)
      val want = oracle(vs, es, vs)
      def run() = Algorithms.betweennessCentrality(
          vs.toDF("id"), es.toDF("src", "dst"))
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      def chk(got: Map[Long, Double], tag: String): Unit = {
        assert(got.keySet == want.keySet, s"(seed $seed $tag)")
        got.foreach { case (v, x) =>
          assert(math.abs(x - want(v)) < 1e-9,
            s"(seed $seed $tag v $v: $x vs ${want(v)})")
        }
      }
      chk(run(), "local")
      chk(withDist(run()), "dist")
      // sampled sources: partial sums over exactly those sources
      val sample = vs.filter(_ % 3 == 0)
      val wantS = oracle(vs, es, sample)
      val gotS = Algorithms.betweennessCentrality(
          vs.toDF("id"), es.toDF("src", "dst"),
          sources = Some(sample.toDF("id")))
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      gotS.foreach { case (v, x) =>
        assert(math.abs(x - wantS(v)) < 1e-9, s"(seed $seed sampled v $v)")
      }
    }
  }

  test("k-truss: both branches match a naive fixpoint; a star survives " +
      "k-core but not the truss") {
    val s = Fixture.init()
    import s.implicits._
    def naive(es: Seq[(Long, Long)], k: Int): Set[(Long, Long)] = {
      var cur = es.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
      var changed = true
      while (changed) {
        val adj = (cur.toSeq ++ cur.toSeq.map(e => (e._2, e._1)))
          .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }
        val keep = cur.filter { case (a, b) =>
          (adj(a) intersect adj(b)).size >= k - 2
        }
        changed = keep != cur
        cur = keep
      }
      cur
    }
    for (seed <- 601L to 604L; k <- Seq(3, 4)) {
      val (_, es) = randomGraph(seed)
      val want = naive(es, k)
      def run() = Algorithms.kTruss(es.toDF("src", "dst"), k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(run() === want, s"(seed $seed k=$k local)")
      assert(withDist(run()) === want, s"(seed $seed k=$k dist)")
    }
    // a star center has high degree (passes k-core at k=2) but zero
    // triangles — every truss at k >= 3 is empty; adding the (1,2,3)
    // triangle completes K4 on {0,1,2,3}, whose 6 edges all survive
    // while the pendant star arms (0,4..6) peel
    val star = (1L to 6L).map(i => (0L, i))
    assert(Algorithms.kTruss(star.toDF("src", "dst"), 3).count() == 0)
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L)) ++ star
    assert(Algorithms.kTruss(tri.toDF("src", "dst"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (2L, 3L), (1L, 3L)))
  }

  test("weighted PageRank: both branches match a naive weighted " +
      "iteration, conserve mass, and redistribute dangling uniformly") {
    val s = Fixture.init()
    import s.implicits._
    for (seed <- 901L to 904L) {
      val (vs, es0) = randomGraph(seed)
      val es = es0.zipWithIndex.map { case ((a, b), i) =>
        (a, b, ((i * 7) % 5 + 1).toDouble)
      }
      val n = vs.length
      val idx = vs.zipWithIndex.toMap
      val wOut = new Array[Double](n)
      es.foreach { case (a, _, w) => wOut(idx(a)) += w }
      var r = Array.fill(n)(1.0 / n)
      for (_ <- 1 to 30) {
        val c = new Array[Double](n)
        es.foreach { case (a, b, w) =>
          c(idx(b)) += r(idx(a)) * w / wOut(idx(a))
        }
        val dang = vs.indices.filter(wOut(_) == 0.0).map(r).sum
        r = vs.indices.map(i =>
          0.15 / n + 0.85 * (c(i) + dang / n)).toArray
      }
      def run() = Algorithms.weightedPageRank(
          vs.toDF("id"), es.toDF("src", "dst", "w"))
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      def chk(got: Map[Long, Double], tag: String): Unit = {
        assert(got.keySet == vs.toSet, s"(seed $seed $tag)")
        vs.foreach(v => assert(math.abs(got(v) - r(idx(v))) < 1e-9,
          s"(seed $seed $tag v $v)"))
        assert(math.abs(got.values.sum - 1.0) < 1e-6, s"(seed $seed $tag)")
      }
      chk(run(), "local")
      chk(withDist(run()), "dist")
    }
  }

  test("bipartite projection matches brute-force co-occurrence counts; " +
      "the hot-key cap drops capped keys' contributions only") {
    val s = Fixture.init()
    import s.implicits._
    val rnd = new scala.util.Random(801L)
    val ms = (for (u <- 0L until 20L; v <- 0L until 12L
      if rnd.nextDouble() < 0.3) yield (u, v)) ++ Seq((3L, 5L), (3L, 5L))
    val got = Algorithms.bipartiteProjection(ms.toDF("u", "v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // the size-gated LOCAL kernel (default on this fixture) must match
    // BOTH distributed branches exactly: the packed streaming kernel
    // (packable ids) and the r14 blocked-join plan, reached by offsetting
    // v past 31 bits — the membership stream no longer packs while u
    // (the output ids) still does, so the pair count stays packed
    val gotDist = withConf(s)(NoLocalPairs)(
      Algorithms.bipartiteProjection(ms.toDF("u", "v"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap)
    assert(gotDist == got, "local kernel diverged from distributed kernel")
    val gotJoin = withConf(s)(NoLocalPairs)(
      Algorithms.bipartiteProjection(unpackableV(ms).toDF("u", "v"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap)
    assert(gotJoin == got, "blocked-join branch diverged from kernels")
    val dm = ms.distinct
    val byV = dm.groupBy(_._2).map { case (v, xs) => v -> xs.map(_._1) }
    def brute(vs: Iterable[Seq[Long]]): Map[(Long, Long), Long] =
      vs.flatMap(us => for {
        i <- us.indices; j <- us.indices
        if us(i) < us(j)
      } yield (us(i), us(j))).groupBy(identity)
        .map { case (k, g) => k -> g.size.toLong }
    assert(got == brute(byV.values.map(_.sorted)))
    // cap = 3: v's with > 3 members contribute nothing; the rest must
    // reproduce the brute force over only the kept keys
    val capped = Algorithms.bipartiteProjection(ms.toDF("u", "v"),
        maxKeyDegree = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val keptV = byV.filter(_._2.size <= 3)
    assert(capped == brute(keptV.values.map(_.sorted)))
    // the distributed streaming kernel applies the cap per group too
    val cappedDist = withConf(s)(NoLocalPairs)(
      Algorithms.bipartiteProjection(ms.toDF("u", "v"), maxKeyDegree = 3L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap)
    assert(cappedDist == capped, "distKernel cap diverged from local cap")
    // minWeight prunes the tail exactly
    val pruned = Algorithms.bipartiteProjection(ms.toDF("u", "v"),
        minWeight = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(pruned == got.filter(_._2 >= 2L))
  }

  test("bipartite projection: a hot key spanning many blocks emits every " +
      "pair exactly once (blockSize invariance)") {
    val s = Fixture.init()
    import s.implicits._
    // one hot v with 60 members + background keys; blockSize 8 forces the
    // hot key across ceil(60/8) = 8 blocks -> 36 triangular join cells
    val ms = (0L until 60L).map(u => (u, 999L)) ++
      (for (u <- 0L until 20L; v <- 0L until 5L if (u + v) % 3 == 0)
        yield (u, v))
    // force the distributed BLOCKED-JOIN branch — that join is what this
    // test audits: the local kernel would answer the fixture first, and
    // the packed streaming kernel would answer it second unless v is
    // offset past 31 bits (u, the output ids, still packs)
    def run(rows: Seq[(Long, Long)], bs: Int) =
      Algorithms.bipartiteProjection(rows.toDF("u", "v"), blockSize = bs)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    val fine = withConf(s)(NoLocalPairs) {
      val fine = run(unpackableV(ms), 8)
      assert(fine == run(unpackableV(ms), 1024),
        "blocked split must be exactly-once")
      // and the packed streaming kernel must agree on the hot-key fixture
      assert(run(ms, 1024) == fine,
        "distKernel diverged from blocked join on the hot-key fixture")
      fine
    }
    // the hot key alone contributes C(60,2) = 1770 pairs of weight >= 1
    assert(fine.size >= 1770)
    assert(fine((0L, 1L)) >= 1L)
  }

  test("link prediction: maxDegree excludes over-cap wedge centers " +
      "(lower-bound contract) and blocking is exactly-once") {
    val s = Fixture.init()
    import s.implicits._
    // star hub 100 with spokes 10..39, plus a disjoint 4-clique on 0..3
    val es = (10L to 39L).map(sp => (100L, sp)) ++
      (for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j))
    val df = es.toDF("src", "dst")
    val full = Algorithms.linkPredictionScores(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: every spoke pair shares hub 100 -> C(30,2) pairs
    assert(full.count { case (a, b) => a >= 10L && b <= 39L } == 435)
    // cap below the hub degree: spoke pairs (only shared neighbor = hub)
    // disappear; clique pairs (centers of degree 3) survive untouched
    val capped = Algorithms.linkPredictionScores(df, maxDegree = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(!capped.keySet.exists { case (a, _) => a >= 10L },
      "spoke pairs must vanish under the hub cap")
    assert(capped.keySet == (for (i <- 0L to 3L; j <- 0L to 3L if i < j)
      yield (i, j)).toSet)
    // jaccard keeps FULL degrees: clique vertices have degree 3 (no hub
    // edge), so jaccard for (0,1) = 2 common / (3 + 3 - 2) = 0.5
    assert(math.abs(capped((0L, 1L))._2 - 0.5) < 1e-9)
    // blockSize invariance on the uncapped graph
    val fine = Algorithms.linkPredictionScores(df, blockSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val coarse = Algorithms.linkPredictionScores(df)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(fine == coarse)
  }

  test("OpCaches: tracked operator caches release on demand") {
    val s = Fixture.init()
    import s.implicits._
    graft.OpCaches.releaseAll()
    val es = (for (i <- 0L to 5L; j <- 0L to 5L if i < j) yield (i, j))
    // force the distributed branch — only it forms the tracked cache
    // (the size-gated local kernel never touches OpCaches)
    withDist(Algorithms.linkPredictionScores(es.toDF("src", "dst")).count())
    assert(graft.OpCaches.trackedCount >= 1)
    graft.OpCaches.releaseAll()
    assert(graft.OpCaches.trackedCount == 0)
  }

  test("OpCaches: distributed triangles and LCC release their caches") {
    val s = Fixture.init()
    import s.implicits._
    graft.OpCaches.releaseAll()
    // a triangle 0-1-2 with a pendant 3 and an isolated vertex 4
    val es = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L)).toDF("src", "dst")
    val vs = (0L to 4L).toDF("id")
    val before = s.sparkContext.getPersistentRDDs.keySet
    val tris = withDist(Algorithms.triangleCounts(vs, es).collect())
    // the undirected relation, the degrees and the oriented edges
    assert(graft.OpCaches.trackedCount == 3)
    val lcc = withDist(
      Algorithms.localClusteringCoefficient(vs, es).collect())
    assert(graft.OpCaches.trackedCount == 6)
    graft.OpCaches.releaseAll()
    assert(s.sparkContext.getPersistentRDDs.keySet == before)
    assert(tris.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 0L, 4L -> 0L))
    assert(lcc.map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(0L -> 1.0, 1L -> 1.0, 2L -> 1.0 / 3, 3L -> 0.0, 4L -> 0.0))
  }

  test("link prediction: distributed wedge join and local kernel agree " +
      "exactly (rounded doubles included)") {
    val s = Fixture.init()
    import s.implicits._
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getBoolean(5)))).toMap
    for (seed <- Seq(711L, 712L)) {
      val (_, es) = randomGraph(seed)
      val df = es.toDF("src", "dst")
      val local = snap(Algorithms.linkPredictionScores(df))
      val dist = withDist(snap(Algorithms.linkPredictionScores(df)))
      assert(local == dist, s"(seed $seed)")
      // the capped variants must agree too (centers over the cap drop)
      val localCap = snap(Algorithms.linkPredictionScores(df,
        maxDegree = 4L))
      val distCap = withDist(snap(Algorithms.linkPredictionScores(df,
        maxDegree = 4L)))
      assert(localCap == distCap, s"(seed $seed capped)")
    }
  }

  test("link-prediction scores match brute-force neighborhood math on " +
      "random graphs") {
    val s = Fixture.init()
    import s.implicits._
    for (seed <- 701L to 704L) {
      val (vs, es) = randomGraph(seed)
      val und = es.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      val adj = vs.map(v => v -> (und.collect {
        case (a, b) if a == v => b
        case (a, b) if b == v => a
      }.toSet)).toMap
      val got = Algorithms.linkPredictionScores(es.toDF("src", "dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4),
            r.getBoolean(5)))).toMap
      val want = (for {
        i <- vs.indices; j <- (i + 1) until vs.length
        a = vs(i); b = vs(j)
        cns = adj(a) intersect adj(b)
        if cns.nonEmpty
      } yield (a, b) -> ((cns.size.toLong,
        cns.size.toDouble / (adj(a).size + adj(b).size - cns.size),
        cns.toSeq.map(c => 1.0 / math.log(adj(c).size)).sum,
        und.contains((a, b))))).toMap
      assert(got.keySet == want.keySet, s"(seed $seed pairs)")
      want.foreach { case (k, (cn, j, aa, e)) =>
        val (gcn, gj, gaa, ge) = got(k)
        assert(gcn == cn && ge == e, s"(seed $seed $k)")
        assert(math.abs(gj - j) < 1e-6 && math.abs(gaa - aa) < 1e-6,
          s"(seed $seed $k floats)")
      }
    }
  }

  test("earliest arrival: both branches match a brute-force temporal-path " +
      "enumeration on random timestamped digraphs") {
    val s = Fixture.init()
    import s.implicits._
    // independent oracle: enumerate EVERY temporal path of <= maxHops
    // edges (no label pruning at all), take the min arrival per pair
    def oracle(es: Seq[(Long, Long, Long)], seeds: Seq[Long], t0: Long,
        maxHops: Int): Map[(Long, Long), Long] = {
      val best = scala.collection.mutable.Map[(Long, Long), Long]()
      def walk(s: Long, v: Long, arr: Long, hops: Int): Unit = {
        if (hops < maxHops)
          es.foreach { case (a, b, t) =>
            if (a == v && t >= arr) {
              if (s != b && best.get((s, b)).forall(t < _)) best((s, b)) = t
              walk(s, b, t, hops + 1)
            }
          }
      }
      seeds.foreach(se => walk(se, se, t0, 0))
      best.toMap
    }
    for (seed <- 501L to 504L) {
      val rnd = new scala.util.Random(seed)
      val n = 8 + rnd.nextInt(6)
      val es = for {
        a <- 0L until n.toLong; b <- 0L until n.toLong
        if a != b && rnd.nextDouble() < 0.2
      } yield (a, b, rnd.nextInt(50).toLong)
      val seeds = (0L until n.toLong).filter(_ % 2 == 0)
      val want = oracle(es, seeds, t0 = 5L, maxHops = 3)
      def run() = Algorithms.earliestArrival(
          es.toDF("src", "dst", "ts"), seeds.toDF("id"),
          startTs = 5L, maxHops = 3)
        .collect()
        .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
      assert(run() === want, s"(seed $seed local)")
      assert(withDist(run()) === want, s"(seed $seed dist)")
    }
  }

  test("weighted label propagation: both branches match a naive " +
      "weighted argmax; a heavy edge outvotes a count majority") {
    val s = Fixture.init()
    import s.implicits._
    def r9(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    def naive(vs: Seq[Long], es: Seq[(Long, Long, Double)],
        rounds: Int): Map[Long, Long] = {
      val und = es.filter(e => e._1 != e._2 && e._3 > 0)
        .groupBy(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        .map { case (k, g) => (k._1, k._2, g.map(_._3).sum) }.toSeq
      val verts = (vs ++ und.flatMap(e => Seq(e._1, e._2))).distinct
      val adj = verts.map(v => v -> (und.collect {
        case (a, b, w) if a == v => (b, w)
        case (a, b, w) if b == v => (a, w)
      })).toMap
      var lab = verts.map(v => v -> v).toMap
      for (_ <- 1 to rounds) lab = verts.map { v =>
        val nbrs = adj(v)
        if (nbrs.isEmpty) v -> lab(v)
        else v -> nbrs.groupBy(e => lab(e._1)).toSeq
          .map { case (l, g) => (-r9(g.map(_._2).sum), l) }.min._2
      }.toMap
      lab
    }
    for (seed <- 601L to 604L) {
      val rnd = new scala.util.Random(seed)
      val n = 8 + rnd.nextInt(8)
      // quarter-integer weights: every vote sum is exactly representable,
      // so the round-9 rank comparison cannot be order-sensitive
      val es = for {
        a <- 0L until n.toLong; b <- 0L until n.toLong
        if a != b && rnd.nextDouble() < 0.2
      } yield (a, b, (1 + rnd.nextInt(16)) / 4.0)
      val vs = 0L until n.toLong
      val want = naive(vs, es, 5)
      def run() = Algorithms.weightedLabelPropagation(
          vs.toDF("id"), es.toDF("src", "dst", "w"), rounds = 5)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(run() === want, s"(seed $seed local)")
      assert(withDist(run()) === want, s"(seed $seed dist)")
    }
    // star 0-(1,2,3): unweighted LPA ties 3 labels at count 1 and takes
    // the smallest (1); a heavy 0-3 edge makes the weighted pass pick 3
    val star = Seq((0L, 1L, 1.0), (0L, 2L, 1.0), (0L, 3L, 5.0))
    val vs4 = Seq(0L, 1L, 2L, 3L)
    val unw = Algorithms.labelPropagation(
        vs4.toDF("id"), star.map(e => (e._1, e._2)).toDF("src", "dst"),
        rounds = 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val wgt = Algorithms.weightedLabelPropagation(
        vs4.toDF("id"), star.toDF("src", "dst", "w"), rounds = 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(unw(0L) == 1L)
    assert(wgt(0L) == 3L)
    // null / non-positive weights drop at ingestion: only the real edge
    // votes remain
    val dirty = Seq((0L, 1L, -1.0), (0L, 2L, 0.0), (0L, 3L, 2.0))
    val cleaned = Algorithms.weightedLabelPropagation(
        vs4.toDF("id"), dirty.toDF("src", "dst", "w"), rounds = 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(cleaned(0L) == 3L && cleaned(3L) == 0L)
    assert(cleaned(1L) == 1L && cleaned(2L) == 2L)
  }

  test("modularity: two triangles + bridge score the textbook value; " +
      "the one-community assignment scores exactly zero") {
    val s = Fixture.init()
    import s.implicits._
    // triangles {0,1,2} and {3,4,5} joined by (2,3): m=7, each community
    // e_c=3, d_c=7 -> contribution 3/7 - (7/14)^2 = 0.178571
    val es = Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L), (3L, 5L),
      (4L, 5L), (2L, 3L), (3L, 2L), (1L, 1L)) // dup reverse + self-loop
    val edges = es.toDF("src", "dst")
    val comm = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L), (4L, 3L),
      (5L, 3L)).toDF("id", "community")
    val rows = Algorithms.modularity(edges, comm).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows(0L) === ((3L, 7L, 0.178571)))
    assert(rows(3L) === ((3L, 7L, 0.178571)))
    // trivial assignment: Q = m/m - (2m/2m)^2 = 0 exactly
    val one = Seq(0L, 1L, 2L, 3L, 4L, 5L).map(v => (v, 9L))
      .toDF("id", "community")
    val all = Algorithms.modularity(edges, one).collect()
    assert(all.length == 1)
    assert(all.head.getLong(1) == 7L && all.head.getLong(2) == 14L)
    assert(all.head.getDouble(3) == 0.0)
  }
}
