package graft.graph

import scala.collection.mutable

import graft.pgq.PathMode

/** Driver-local graph kernels for *small* graphs.
  *
  * The reference always runs its kernels over an in-memory CSR snapshot
  * (`compressed_sparse_row.hpp:25-47`) — that is exactly the right call
  * when the graph fits in one node's memory, and exactly wrong at 100 TB.
  * We therefore pick the strategy by statistics: graphs under the
  * size gates (see [[PathFinder.localMaxRows]]) run on these array kernels
  * (micro/small graphs cost milliseconds instead of one Spark job per BFS
  * level), larger graphs take the distributed DataFrame loops. Both paths
  * implement identical semantics; the gate only changes performance.
  */
private[graph] object LocalKernels {

  type Adj = mutable.LongMap[mutable.ArrayBuffer[(Long, Long)]] // v -> (dst, eid)

  def adjacency(edges: Array[(Long, Long, Long)]): Adj = {
    val adj: Adj = mutable.LongMap.empty
    edges.foreach { case (s, d, eid) =>
      adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += ((d, eid))
    }
    adj
  }

  /** Multi-source BFS shortest lengths — mirrors
    * [[PathFinder.bfsDistances]]. When `targets` is set, only rows ending
    * in a target are emitted and each per-seed search stops as soon as
    * every target is settled. */
  def bfsDistances(edges: Array[(Long, Long, Long)], seeds: Array[Long],
      maxDepth: Long,
      targets: Option[Set[Long]] = None): Array[(Long, Long, Long)] = {
    val adj = adjacency(edges)
    val out = mutable.ArrayBuffer[(Long, Long, Long)]()
    seeds.distinct.foreach { s =>
      val dist = mutable.LongMap[Long](s -> 0L)
      var remaining = targets.map(_ diff Set(s))
      var frontier = List(s)
      var d = 0L
      while (frontier.nonEmpty && d < maxDepth &&
          !remaining.exists(_.isEmpty)) {
        d += 1
        val next = mutable.ArrayBuffer[Long]()
        frontier.foreach { u =>
          adj.getOrElse(u, Nil).foreach { case (v, _) =>
            if (!dist.contains(v)) {
              dist(v) = d; next += v
              remaining = remaining.map(_ - v)
            }
          }
        }
        frontier = next.toList
      }
      dist.foreach { case (v, dd) =>
        if (targets.forall(_.contains(v))) out += ((s, v, dd))
      }
    }
    out.toArray
  }

  /** BFS with lexicographically-minimal interleaved `[v,e,v,…]` paths —
    * mirrors [[PathFinder.shortestPaths]] (same tie-break: at each level
    * the candidate path arrays are compared lexicographically). */
  def shortestPaths(edges: Array[(Long, Long, Long)], seeds: Array[Long],
      lower: Long, upper: Long): Array[(Long, Long, Long, Array[Long])] = {
    val adj = adjacency(edges)
    val out = mutable.ArrayBuffer[(Long, Long, Long, Array[Long])]()
    val ord = Ordering.Implicits.seqOrdering[Seq, Long]
    seeds.distinct.foreach { s =>
      val best = mutable.LongMap[Array[Long]](s -> Array(s))
      var frontier = List(s)
      var d = 0L
      while (frontier.nonEmpty && d < upper) {
        d += 1
        val cand = mutable.LongMap[Array[Long]]()
        frontier.foreach { u =>
          val base = best(u)
          adj.getOrElse(u, Nil).foreach { case (v, eid) =>
            if (!best.contains(v)) {
              val p = base :+ eid :+ v
              cand.get(v) match {
                case Some(q) if ord.lteq(q.toSeq, p.toSeq) => ()
                case _ => cand(v) = p
              }
            }
          }
        }
        frontier = cand.keys.toList
        cand.foreach { case (v, p) => best(v) = p }
      }
      best.foreach { case (v, p) =>
        val dist = (p.length - 1L) / 2
        if (dist >= lower) out += ((s, v, dist, p))
      }
    }
    out.toArray
  }

  /** Enumerate ALL mode-valid paths (one result per path — multiplicity
    * semantics, unlike the pair-deduped BFS kernels) — mirrors
    * [[PathFinder.enumerateModePaths]]. TRAIL forbids repeated edge ids,
    * ACYCLIC repeated vertices, SIMPLE repeated vertices except closing
    * back to the start (a closed path cannot extend further — any
    * continuation would make the start an interior repeat). WALK requires
    * a finite `upper` (the caller guards; on a cyclic graph the walk set
    * is infinite). Explicit stack, not recursion — ACYCLIC depth is
    * bounded by |V| and TRAIL by |E|, far past any safe JVM stack. */
  def enumeratePaths(edges: Array[(Long, Long, Long)], seeds: Array[Long],
      lower: Long, upper: Long, mode: PathMode)
      : Array[(Long, Long, Long, Array[Long])] = {
    require(mode != PathMode.Walk || upper != Long.MaxValue,
      "WALK enumeration needs a finite upper bound")
    val adj = adjacency(edges)
    val out = mutable.ArrayBuffer[(Long, Long, Long, Array[Long])]()
    final case class Frame(v: Long, path: Vector[Long], visV: Set[Long],
        visE: Set[Long], closed: Boolean)
    seeds.distinct.foreach { s =>
      val stack = mutable.Stack(
        Frame(s, Vector(s), Set(s), Set.empty, closed = false))
      while (stack.nonEmpty) {
        val f = stack.pop()
        val d = (f.path.length - 1L) / 2
        if (d >= lower) out += ((s, f.v, d, f.path.toArray))
        if (d < upper && !f.closed) {
          adj.getOrElse(f.v, Nil).foreach { case (w, eid) =>
            val closes = mode == PathMode.Simple && w == s
            val ok = mode match {
              case PathMode.Walk    => true
              case PathMode.Trail   => !f.visE(eid)
              case PathMode.Acyclic => !f.visV(w)
              case PathMode.Simple  => !f.visV(w) || closes
            }
            if (ok) stack.push(Frame(w, f.path :+ eid :+ w,
              f.visV + w, f.visE + eid, closed = closes))
          }
        }
      }
    }
    out.toArray
  }

  /** k-shortest WALKS (level-synchronous with a per-vertex top-k prune) —
    * mirrors the distributed prune in [[PathFinder.kShortestPaths]]. The
    * prune is sound because (dist, lexicographic-path) ordering is
    * extension-monotone: if k same-level paths to `v` beat P, their
    * extensions beat P's extensions, so P can never reach a final top-k.
    * (NOT valid under TRAIL/ACYCLIC/SIMPLE — a lex-worse partial path may
    * have a visited set that allows extensions the better ones lack — so
    * mode-constrained k-shortest enumerates unpruned instead.) */
  def kShortestWalks(edges: Array[(Long, Long, Long)], seeds: Array[Long],
      lower: Long, upper: Long, k: Int)
      : Array[(Long, Long, Long, Array[Long])] = {
    val adj = adjacency(edges)
    val ord = Ordering.Implicits.seqOrdering[Seq, Long]
    val out = mutable.ArrayBuffer[(Long, Long, Long, Array[Long])]()
    seeds.distinct.foreach { s =>
      var frontier: Map[Long, Seq[Vector[Long]]] = Map(s -> Seq(Vector(s)))
      if (lower <= 0L) out += ((s, s, 0L, Array(s)))
      var d = 0L
      while (frontier.nonEmpty && d < upper) {
        d += 1
        val cand = mutable.LongMap[mutable.ArrayBuffer[Vector[Long]]]()
        frontier.foreach { case (v, paths) =>
          adj.getOrElse(v, Nil).foreach { case (w, eid) =>
            val bucket = cand.getOrElseUpdate(w, mutable.ArrayBuffer.empty)
            paths.foreach(p => bucket += (p :+ eid :+ w))
          }
        }
        frontier = cand.map { case (w, ps) =>
          w -> ps.map(_.toSeq).sorted(ord).take(k).map(_.toVector).toSeq
        }.toMap
        if (d >= lower) frontier.foreach { case (w, ps) =>
          ps.foreach(p => out += ((s, w, d, p.toArray)))
        }
      }
    }
    out.toArray
  }

  /** ALL SHORTEST — every shortest `[v,e,…,v]` path per reached (src, dst)
    * pair (one row per path), mirrors [[PathFinder.allShortestPaths]].
    * BFS records ALL minimal parents per vertex; enumeration multiplies
    * the parent combinations out backwards. */
  def allShortestPaths(edges: Array[(Long, Long, Long)], seeds: Array[Long],
      lower: Long, upper: Long): Array[(Long, Long, Long, Array[Long])] = {
    val adj = adjacency(edges)
    val out = mutable.ArrayBuffer[(Long, Long, Long, Array[Long])]()
    seeds.distinct.foreach { s =>
      val dist = mutable.LongMap[Long](s -> 0L)
      // v -> all (parentV, eid) reaching v on some shortest path
      val parents = mutable.LongMap[mutable.ArrayBuffer[(Long, Long)]]()
      var frontier = List(s)
      var d = 0L
      while (frontier.nonEmpty && d < upper) {
        d += 1
        val level = mutable.LongMap[mutable.ArrayBuffer[(Long, Long)]]()
        frontier.foreach { u =>
          adj.getOrElse(u, Nil).foreach { case (v, eid) =>
            if (!dist.contains(v))
              level.getOrElseUpdate(v, mutable.ArrayBuffer.empty) += ((u, eid))
          }
        }
        // .distinct: duplicate physical edge rows (same src, dst AND eid)
        // are one parent alternative, matching the distributed twin's
        // distinct() — path multiplicity must not depend on the strategy
        level.foreach { case (v, ps) => dist(v) = d; parents(v) = ps.distinct }
        frontier = level.keys.toList
      }
      // iterative backtrack (no recursion — chains can be |V| deep):
      // partial = (terminal v, dist, current backtrack vertex, suffix)
      var partial = dist.toList.collect { case (v, dd) if dd >= lower =>
        (v, dd, v, Vector(v))
      }
      while (partial.nonEmpty) {
        val (doneP, openP) = partial.partition(p => p._4.length == 2 * p._2 + 1)
        doneP.foreach { case (v, dd, _, suf) => out += ((s, v, dd, suf.toArray)) }
        partial = openP.flatMap { case (v, dd, cur, suf) =>
          parents(cur).toSeq.map { case (pv, eid) =>
            (v, dd, pv, pv +: eid +: suf)
          }
        }
      }
    }
    out.toArray
  }

  /** Bellman-Ford — mirrors [[PathFinder.cheapestPaths]]. */
  def cheapestPaths(edges: Array[(Long, Long, Double)], seeds: Array[Long])
      : Array[(Long, Long, Double)] = {
    val out = mutable.ArrayBuffer[(Long, Long, Double)]()
    val adj = mutable.LongMap.empty[mutable.ArrayBuffer[(Long, Double)]]
    edges.foreach { case (s, d, w) =>
      adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += ((d, w))
    }
    seeds.distinct.foreach { s =>
      val dist = mutable.LongMap[Double](s -> 0.0)
      var changed = true
      // Bellman-Ford needs ≤ V-1 rounds on cycle-free-negative graphs; the
      // cap guards against negative cycles hanging the driver
      val maxRounds = adj.size + seeds.length + 2
      var round = 0
      while (changed && round < maxRounds) {
        round += 1
        changed = false
        dist.toArray.foreach { case (u, du) =>
          adj.getOrElse(u, Nil).foreach { case (v, w) =>
            val nd = du + w
            if (!dist.contains(v) || nd < dist(v)) { dist(v) = nd; changed = true }
          }
        }
      }
      if (changed)
        throw graft.model.GraphAnalysisException(
          "cheapest-path did not converge (negative cycle detected)")
      dist.foreach { case (v, c) => out += ((s, v, c)) }
    }
    out.toArray
  }

  /** Bellman-Ford with parent pointers + backtrack — cheapest ROUTES, the
    * path-carrying twin of [[cheapestPaths]] (the reference stops at
    * lengths, `cheapest_path_length.cpp:12-163` — reconstruction exceeds
    * parity). Tie-break: lexicographic-min (cost, hops, parentV, parentE),
    * the same order [[PathFinder.cheapestRoutes]]'s distributed min-struct
    * aggregation uses, so both strategies return identical routes. The
    * hops component makes the tie-break well-founded on zero-weight cycles
    * (a parent always has strictly smaller (cost, hops)).
    *
    * @param edges (src, dst, eid, w)
    * @return (seed, dst, cost, [v,e,…,v])
    */
  def cheapestRoutes(edges: Array[(Long, Long, Long, Double)],
      seeds: Array[Long]): Array[(Long, Long, Double, Array[Long])] = {
    val out = mutable.ArrayBuffer[(Long, Long, Double, Array[Long])]()
    val adj = mutable.LongMap.empty[mutable.ArrayBuffer[(Long, Long, Double)]]
    edges.foreach { case (s, d, eid, w) =>
      adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += ((d, eid, w))
    }
    seeds.distinct.foreach { s =>
      // v -> (cost, hops, parentV, parentE)
      val best = mutable.LongMap[(Double, Long, Long, Long)](
        s -> ((0.0, 0L, -1L, -1L)))
      var changed = true
      val maxRounds = adj.size + seeds.length + 2
      var round = 0
      while (changed && round < maxRounds) {
        round += 1
        changed = false
        best.toArray.foreach { case (u, (cu, hu, _, _)) =>
          adj.getOrElse(u, Nil).foreach { case (v, eid, w) =>
            val cand = (cu + w, hu + 1L, u, eid)
            val cur = best.get(v)
            val lt = cur.isEmpty || {
              val c = cur.get
              cand._1 < c._1 || (cand._1 == c._1 && (cand._2 < c._2 ||
                (cand._2 == c._2 && (cand._3 < c._3 ||
                  (cand._3 == c._3 && cand._4 < c._4)))))
            }
            if (lt) { best(v) = cand; changed = true }
          }
        }
      }
      if (changed)
        throw graft.model.GraphAnalysisException(
          "cheapest-route did not converge (negative cycle detected)")
      best.foreach { case (v, (c, h, _, _)) =>
        val path = mutable.ArrayBuffer[Long]()
        var cur = v
        var left = h
        while (left > 0) {
          val (_, _, pv, pe) = best(cur)
          path.prepend(cur); path.prepend(pe)
          cur = pv; left -= 1
        }
        path.prepend(s)
        out += ((s, v, c, path.toArray))
      }
    }
    out.toArray
  }

  /** PageRank — mirrors [[Algorithms.pageRank]] incl. the phantom-node
    * reference quirk and dangling redistribution. */
  def pageRank(vertexIds: Array[Long], edges: Array[(Long, Long)],
      damping: Double, tol: Double, maxIter: Int, fixedIter: Option[Int],
      phantomNodes: Int): Array[(Long, Double)] = {
    val ids = vertexIds.distinct
    val idx = ids.zipWithIndex.toMap
    val nReal = ids.length
    val n = nReal + phantomNodes.toDouble
    val outDeg = new Array[Long](nReal)
    edges.foreach { case (s, _) => idx.get(s).foreach(outDeg(_) += 1) }
    var rank = Array.fill(nReal)(1.0 / n)
    var phantomRank = 1.0 / n
    var iter = 0
    var delta = Double.MaxValue
    val iters = fixedIter.getOrElse(maxIter)
    while (iter < iters && (fixedIter.isDefined || delta > tol)) {
      iter += 1
      var dangling = phantomNodes * phantomRank
      var i = 0
      while (i < nReal) { if (outDeg(i) == 0) dangling += rank(i); i += 1 }
      val corr = dangling / n
      val inflow = new Array[Double](nReal)
      edges.foreach { case (s, d) =>
        (idx.get(s), idx.get(d)) match {
          case (Some(si), Some(di)) if outDeg(si) > 0 =>
            inflow(di) += rank(si) / outDeg(si)
          case _ => ()
        }
      }
      val next = Array.tabulate(nReal)(j =>
        (1.0 - damping) / n + damping * (inflow(j) + corr))
      val phantomNext = (1.0 - damping) / n + damping * corr
      delta = math.abs(phantomNext - phantomRank)
      var j = 0
      while (j < nReal) {
        delta = math.max(delta, math.abs(next(j) - rank(j))); j += 1
      }
      rank = next
      phantomRank = phantomNext
    }
    ids.zip(rank)
  }

  /** Iterative Tarjan SCC with min-member component ids — mirrors
    * [[Algorithms.stronglyConnectedComponents]]. Explicit DFS stack (no
    * recursion — a 10⁵-vertex path must not blow the JVM stack); the
    * domain is vertexIds ∪ edge endpoints, matching the distributed
    * propagation domain, with output restricted to vertexIds. */
  def scc(vertexIds: Array[Long], edges: Array[(Long, Long)])
      : Array[(Long, Long)] = {
    val adj = mutable.LongMap[mutable.ArrayBuffer[Long]]()
    val verts = mutable.LinkedHashSet[Long]()
    vertexIds.foreach(verts += _)
    edges.foreach { case (s, d) =>
      verts += s; verts += d
      adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d
    }
    val index = mutable.LongMap[Int]()
    val low = mutable.LongMap[Int]()
    val onStack = mutable.LongMap[Boolean]()
    val stack = mutable.ArrayBuffer[Long]()
    var counter = 0
    val comp = mutable.LongMap[Long]() // v -> min member of its SCC
    val empty = mutable.ArrayBuffer.empty[Long]
    verts.foreach { v0 =>
      if (!index.contains(v0)) {
        val dfs = mutable.ArrayBuffer[(Long, Int)]((v0, 0))
        while (dfs.nonEmpty) {
          val (v, ci) = dfs.last
          if (ci == 0) {
            index(v) = counter; low(v) = counter; counter += 1
            stack += v; onStack(v) = true
          }
          val ns = adj.getOrElse(v, empty)
          if (ci < ns.length) {
            dfs(dfs.length - 1) = (v, ci + 1)
            val w = ns(ci)
            if (!index.contains(w)) dfs += ((w, 0))
            else if (onStack.getOrElse(w, false))
              low(v) = math.min(low(v), index(w))
          } else {
            if (low(v) == index(v)) {
              val members = mutable.ArrayBuffer[Long]()
              var w = 0L
              while ({ w = stack.remove(stack.length - 1)
                       onStack(w) = false; members += w; w != v }) ()
              val m = members.min
              members.foreach(x => comp(x) = m)
            }
            dfs.remove(dfs.length - 1)
            if (dfs.nonEmpty)
              low(dfs.last._1) = math.min(low(dfs.last._1), low(v))
          }
        }
      }
    }
    vertexIds.map(v => (v, comp(v)))
  }

  /** Per-corner triangle counts over the deduplicated undirected relation
    * — mirrors [[Algorithms.triangleCounts]]'s degree-ordered semantics
    * exactly (orient each undirected edge from the lower-(deg, id) end,
    * find each triangle once at its (lowest, middle) oriented edge by
    * sorted-adjacency intersection, credit all three corners). The
    * intersections run in parallel across driver cores; the distributed
    * wedge join stays the strategy above the size gate.
    *
    * @return (id, deg, tris) for every vertex with ≥1 undirected neighbor
    */
  def triangles(edges: Array[(Long, Long)]): Array[(Long, Long, Long)] = {
    // canonical undirected pair set (self-loops never count as links)
    val und = mutable.HashSet[(Long, Long)]()
    edges.foreach { case (s, d) =>
      if (s != d) und += ((math.min(s, d), math.max(s, d)))
    }
    val ids = {
      val s = mutable.LongMap[Unit]()
      und.foreach { case (a, b) => s(a) = (); s(b) = () }
      s.keys.toArray
    }
    val idx = mutable.LongMap[Int]()
    ids.zipWithIndex.foreach { case (v, i) => idx(v) = i }
    val n = ids.length
    val deg = new Array[Int](n)
    und.foreach { case (a, b) => deg(idx(a)) += 1; deg(idx(b)) += 1 }
    // orientation rank: (deg, id) — identical to the DataFrame filter
    def ranksBelow(i: Int, j: Int): Boolean =
      deg(i) < deg(j) || (deg(i) == deg(j) && ids(i) < ids(j))
    val outDeg = new Array[Int](n)
    und.foreach { case (a, b) =>
      val (i, j) = (idx(a), idx(b))
      if (ranksBelow(i, j)) outDeg(i) += 1 else outDeg(j) += 1
    }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + outDeg(i); i += 1 }
    val adj = new Array[Int](off(n))
    val fill = java.util.Arrays.copyOf(off, n)
    und.foreach { case (a, b) =>
      val (ia, ib) = (idx(a), idx(b))
      val (lo, hi) = if (ranksBelow(ia, ib)) (ia, ib) else (ib, ia)
      adj(fill(lo)) = hi; fill(lo) += 1
    }
    i = 0
    while (i < n) {
      java.util.Arrays.sort(adj, off(i), off(i + 1)); i += 1
    }
    val tris = new java.util.concurrent.atomic.AtomicLongArray(n)
    java.util.stream.IntStream.range(0, n).parallel().forEach { u =>
      var p = off(u)
      while (p < off(u + 1)) {
        val v = adj(p)
        // two-pointer intersect N+(u) ∩ N+(v)
        var x = off(u); var y = off(v)
        while (x < off(u + 1) && y < off(v + 1)) {
          val (cu, cv) = (adj(x), adj(y))
          if (cu < cv) x += 1
          else if (cu > cv) y += 1
          else {
            tris.getAndIncrement(u); tris.getAndIncrement(v)
            tris.getAndIncrement(cu)
            x += 1; y += 1
          }
        }
        p += 1
      }
    }
    Array.tabulate(n)(k => (ids(k), deg(k).toLong, tris.get(k)))
  }

  /** Union-find WCC with min-member component ids — mirrors
    * [[Algorithms.weaklyConnectedComponents]]. */
  def wcc(vertexIds: Array[Long], edges: Array[(Long, Long)])
      : Array[(Long, Long)] = {
    val parent = mutable.LongMap[Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
      }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    vertexIds.foreach(v => parent.getOrElseUpdate(v, v))
    edges.foreach { case (s, d) =>
      parent.getOrElseUpdate(s, s)
      parent.getOrElseUpdate(d, d)
      union(s, d)
    }
    // component id = min over ALL members incl. pass-through endpoints
    // absent from vertexIds (matches the distributed propagation domain)
    val minOf = mutable.LongMap[Long]()
    parent.keys.toArray.foreach { v =>
      val r = find(v)
      minOf(r) = math.min(minOf.getOrElse(r, Long.MaxValue), v)
    }
    vertexIds.map(v => (v, minOf(find(v))))
  }

  /** Personalized PageRank with restart to a SEED set (textbook PPR:
    * teleport and dangling mass return to the seeds, uniformly), fixed
    * iteration count for SQL-replayability. Domain = vertexIds ∪ edge
    * endpoints. */
  def personalizedPageRank(vertexIds: Array[Long],
      edges: Array[(Long, Long)], seedSet: Set[Long], damping: Double,
      iters: Int): Array[(Long, Double)] = {
    val verts = mutable.LinkedHashSet[Long]()
    vertexIds.foreach(verts += _)
    edges.foreach { case (s, d) => verts += s; verts += d }
    val ids = verts.toArray
    val idx = mutable.LongMap[Int]()
    ids.zipWithIndex.foreach { case (v, i) => idx(v) = i }
    val n = ids.length
    val outDeg = new Array[Int](n)
    edges.foreach { case (s, _) => outDeg(idx(s)) += 1 }
    val sVec = new Array[Double](n)
    val nS = ids.count(seedSet.contains)
    require(nS > 0, "personalized PageRank requires at least one seed " +
      "vertex present in the graph")
    ids.zipWithIndex.foreach { case (v, i) =>
      if (seedSet.contains(v)) sVec(i) = 1.0 / nS
    }
    var r = sVec.clone()
    var it = 0
    while (it < iters) {
      val contrib = new Array[Double](n)
      edges.foreach { case (s, d) =>
        contrib(idx(d)) += r(idx(s)) / outDeg(idx(s))
      }
      var dangling = 0.0
      var i = 0
      while (i < n) { if (outDeg(i) == 0) dangling += r(i); i += 1 }
      val nr = new Array[Double](n)
      i = 0
      while (i < n) {
        nr(i) = (1.0 - damping) * sVec(i) +
          damping * (contrib(i) + dangling * sVec(i))
        i += 1
      }
      r = nr
      it += 1
    }
    ids.zip(r)
  }

  /** Fixed-k core membership by textbook peeling: repeatedly delete
    * vertices whose UNDIRECTED simple degree is below k (queue-driven,
    * O(V + E)). Self-loops never count. Domain = vertexIds ∪ edge
    * endpoints (the [[scc]] convention). */
  def kCore(vertexIds: Array[Long], edges: Array[(Long, Long)],
      k: Int): Array[(Long, Boolean)] = {
    val und = mutable.HashSet[(Long, Long)]()
    edges.foreach { case (s, d) =>
      if (s != d) und += ((math.min(s, d), math.max(s, d)))
    }
    val verts = mutable.LinkedHashSet[Long]()
    vertexIds.foreach(verts += _)
    und.foreach { case (a, b) => verts += a; verts += b }
    val adj = mutable.LongMap[mutable.ArrayBuffer[Long]]()
    und.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
    }
    val deg = mutable.LongMap[Int]()
    verts.foreach(v => deg(v) = adj.get(v).map(_.length).getOrElse(0))
    val removed = mutable.LongMap[Boolean]()
    val queue = mutable.ArrayDeque[Long]()
    verts.foreach(v => if (deg(v) < k) { queue += v; removed(v) = true })
    while (queue.nonEmpty) {
      val v = queue.removeHead()
      adj.get(v).foreach(_.foreach { n =>
        if (!removed.getOrElse(n, false)) {
          deg(n) -= 1
          if (deg(n) < k) { removed(n) = true; queue += n }
        }
      })
    }
    verts.toArray.map(v => (v, !removed.getOrElse(v, false)))
  }

  /** Weighted PageRank — the
    * [[graft.graph.Algorithms.weightedPageRank]] twin: contributions
    * split proportionally to edge weight (rank·w/W_out), dangling mass
    * (no out-edges / zero out-weight) redistributed uniformly; textbook
    * normalization, fixed iterations. Edges with null/≤0 weight are
    * dropped by the caller. */
  def weightedPageRank(vertexIds: Array[Long],
      edges: Array[(Long, Long, Double)], damping: Double,
      iters: Int): Array[(Long, Double)] = {
    val verts = mutable.LinkedHashSet[Long]()
    vertexIds.foreach(verts += _)
    edges.foreach { case (s, d, _) => verts += s; verts += d }
    val ids = verts.toArray
    val idx = mutable.LongMap[Int]()
    ids.zipWithIndex.foreach { case (v, i) => idx(v) = i }
    val n = ids.length
    val wOut = new Array[Double](n)
    edges.foreach { case (s, _, w) => wOut(idx(s)) += w }
    var r = Array.fill(n)(1.0 / n)
    var it = 0
    while (it < iters) {
      val contrib = new Array[Double](n)
      edges.foreach { case (s, d, w) =>
        contrib(idx(d)) += r(idx(s)) * w / wOut(idx(s))
      }
      var dangling = 0.0
      var i = 0
      while (i < n) { if (wOut(i) == 0.0) dangling += r(i); i += 1 }
      val nr = new Array[Double](n)
      i = 0
      while (i < n) {
        nr(i) = (1.0 - damping) / n + damping * (contrib(i) + dangling / n)
        i += 1
      }
      r = nr
      it += 1
    }
    ids.zip(r)
  }

  /** k-truss — the [[graft.graph.Algorithms.kTruss]] twin: the maximal
    * subgraph of the undirected simple graph in which every EDGE closes
    * ≥ k−2 triangles (with both other sides also in the subgraph).
    * Textbook peel: recompute per-edge support, drop under-supported
    * edges, repeat to fixpoint. */
  def kTruss(edges: Array[(Long, Long)], k: Int): Array[(Long, Long)] = {
    var cur = mutable.LinkedHashSet[(Long, Long)]()
    edges.foreach { case (s, d) =>
      if (s != d) cur += ((math.min(s, d), math.max(s, d)))
    }
    val need = k - 2
    var changed = true
    while (changed && cur.nonEmpty) {
      val adj = mutable.LongMap[mutable.HashSet[Long]]()
      cur.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, mutable.HashSet.empty) += b
        adj.getOrElseUpdate(b, mutable.HashSet.empty) += a
      }
      val keep = cur.filter { case (a, b) =>
        adj(a).count(adj(b).contains) >= need
      }
      changed = keep.size != cur.size
      cur = mutable.LinkedHashSet(keep.toSeq: _*)
    }
    cur.toArray
  }

  /** Earliest-arrival temporal reachability — the
    * [[graft.graph.Algorithms.earliestArrival]] twin. An edge (a, b, t)
    * is traversable from a state that arrived at `a` no later than `t`,
    * and traversing it sets the arrival at `b` to `t`; earliest arrival
    * minimizes over temporal paths of ≤ maxHops edges. Frontier-only
    * relaxation is sound because an earlier arrival admits a superset
    * of the later one's continuations. */
  def earliestArrival(edges: Array[(Long, Long, Long)], seeds: Array[Long],
      startTs: Long, maxHops: Int): Array[(Long, Long, Long)] = {
    val bySrc = edges.groupBy(_._1)
    val best = mutable.HashMap[(Long, Long), Long]()
    val ss = seeds.distinct.sorted
    ss.foreach(s => best((s, s)) = startTs)
    var frontier: Iterable[(Long, Long, Long)] = ss.map(s => (s, s, startTs))
    var hop = 0
    while (hop < maxHops && frontier.nonEmpty) {
      val next = mutable.HashMap[(Long, Long), Long]()
      frontier.foreach { case (s, v, arr) =>
        bySrc.getOrElse(v, Array.empty).foreach { case (_, d, t) =>
          if (t >= arr) {
            val k = (s, d)
            if (next.get(k).forall(t < _)) next(k) = t
          }
        }
      }
      val improved = next.filter { case (k, t) => best.get(k).forall(t < _) }
      improved.foreach { case (k, t) => best(k) = t }
      frontier = improved.map { case ((s, v), t) => (s, v, t) }
      hop += 1
    }
    best.iterator.collect { case ((s, v), t) if s != v => (s, v, t) }.toArray
  }

  /** Exact directed Brandes betweenness — the
    * [[graft.graph.Algorithms.betweennessCentrality]] twin. Unweighted
    * shortest paths over the simple digraph (parallel edges collapsed);
    * per source: BFS with path counts, then the dependency sweep in
    * reverse BFS order. B(v) sums δ_s(v) over the given sources
    * (all-sources = exact betweenness; a sample = the standard
    * estimator's partial sums, unscaled). */
  def betweenness(vertexIds: Array[Long], edges: Array[(Long, Long)],
      sources: Array[Long]): Array[(Long, Double)] = {
    val simple = mutable.LinkedHashSet[(Long, Long)]()
    edges.foreach { case (s, d) => if (s != d) simple += ((s, d)) }
    val verts = mutable.LinkedHashSet[Long]()
    vertexIds.foreach(verts += _)
    simple.foreach { case (a, b) => verts += a; verts += b }
    val adj = mutable.LongMap[mutable.ArrayBuffer[Long]]()
    simple.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
    }
    val b = mutable.LongMap[Double]().withDefaultValue(0.0)
    sources.distinct.foreach { s =>
      if (verts.contains(s)) {
        val dist = mutable.LongMap[Int]()
        val sigma = mutable.LongMap[Double]().withDefaultValue(0.0)
        val preds = mutable.LongMap[mutable.ArrayBuffer[Long]]()
        val order = mutable.ArrayBuffer[Long]()
        dist(s) = 0; sigma(s) = 1.0
        val queue = mutable.ArrayDeque[Long](s)
        while (queue.nonEmpty) {
          val v = queue.removeHead()
          order += v
          adj.get(v).foreach(_.foreach { w =>
            if (!dist.contains(w)) { dist(w) = dist(v) + 1; queue += w }
            if (dist(w) == dist(v) + 1) {
              sigma(w) += sigma(v)
              preds.getOrElseUpdate(w, mutable.ArrayBuffer.empty) += v
            }
          })
        }
        val delta = mutable.LongMap[Double]().withDefaultValue(0.0)
        order.reverseIterator.foreach { w =>
          preds.get(w).foreach(_.foreach { v =>
            delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
          })
          if (w != s) b(w) += delta(w)
        }
      }
    }
    verts.toArray.map(v => (v, b(v)))
  }

  /** Synchronous label propagation — the
    * [[graft.graph.Algorithms.labelPropagation]] twin. Undirected simple
    * neighborhoods (self-loops dropped, parallel edges collapsed); each
    * round every vertex adopts the most frequent neighbor label, ties to
    * the smallest label; isolated vertices keep their own. Fixed round
    * count, no convergence test — deterministic by construction. */
  def labelPropagation(vertexIds: Array[Long], edges: Array[(Long, Long)],
      rounds: Int): Array[(Long, Long)] = {
    val und = mutable.HashSet[(Long, Long)]()
    edges.foreach { case (s, d) =>
      if (s != d) und += ((math.min(s, d), math.max(s, d)))
    }
    val verts = mutable.LinkedHashSet[Long]()
    vertexIds.foreach(verts += _)
    und.foreach { case (a, b) => verts += a; verts += b }
    val adj = mutable.LongMap[mutable.ArrayBuffer[Long]]()
    und.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
    }
    var lab = mutable.LongMap[Long]()
    verts.foreach(v => lab(v) = v)
    var round = 0
    while (round < rounds) {
      val next = mutable.LongMap[Long]()
      verts.foreach { v =>
        adj.get(v) match {
          case Some(nbrs) if nbrs.nonEmpty =>
            val counts = mutable.LongMap[Int]()
            nbrs.foreach(n => counts(lab(n)) = counts.getOrElse(lab(n), 0) + 1)
            // max count, then min label
            next(v) = counts.toSeq.map { case (l, c) => (-c, l) }.min._2
          case _ => next(v) = lab(v)
        }
      }
      lab = next
      round += 1
    }
    verts.toArray.map(v => (v, lab(v)))
  }

  /** Weighted label propagation — the
    * [[graft.graph.Algorithms.weightedLabelPropagation]] twin. `und`
    * carries one row per UNORDERED pair with the already-combined
    * weight (the caller sums parallel edges); votes are weight sums per
    * label, rounded to 9 decimals before ranking exactly like the
    * distributed `round(sum(w), 9)` (Spark round = HALF_UP), ties to
    * the smallest label. */
  def weightedLabelPropagation(vertexIds: Array[Long],
      und: Array[(Long, Long, Double)],
      rounds: Int): Array[(Long, Long)] = {
    val verts = mutable.LinkedHashSet[Long]()
    vertexIds.foreach(verts += _)
    und.foreach { case (a, b, _) => verts += a; verts += b }
    val adj = mutable.LongMap[mutable.ArrayBuffer[(Long, Double)]]()
    und.foreach { case (a, b, w) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += ((b, w))
      adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += ((a, w))
    }
    def r9(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    var lab = mutable.LongMap[Long]()
    verts.foreach(v => lab(v) = v)
    var round = 0
    while (round < rounds) {
      val next = mutable.LongMap[Long]()
      verts.foreach { v =>
        adj.get(v) match {
          case Some(nbrs) if nbrs.nonEmpty =>
            val votes = mutable.LongMap[Double]()
            nbrs.foreach { case (n, w) =>
              votes(lab(n)) = votes.getOrElse(lab(n), 0.0) + w
            }
            // max rounded weight, then min label
            next(v) = votes.toSeq
              .map { case (l, wv) => (-r9(wv), l) }.min._2
          case _ => next(v) = lab(v)
        }
      }
      lab = next
      round += 1
    }
    verts.toArray.map(v => (v, lab(v)))
  }

  /** Deterministic hash-driven walks — the
    * [[graft.graph.Algorithms.deterministicWalks]] twin. Step t of walk
    * (start, r) moves to the out-neighbor d minimizing the md5 hex of
    * "start:r:t:d" (ties break on d, matching the distributed
    * min-struct); a vertex with no out-neighbors halts the walk in
    * place. */
  def deterministicWalks(edges: Array[(Long, Long)], starts: Array[Long],
      walksPerStart: Int, steps: Int): Array[(Long, Int, Long, Array[Long])] = {
    val adjM = mutable.LongMap[mutable.ArrayBuffer[Long]]()
    edges.foreach { case (s, d) =>
      adjM.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String): String = {
      md.reset()
      md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"${b & 0xff}%02x").mkString
    }
    val out = mutable.ArrayBuffer[(Long, Int, Long, Array[Long])]()
    for (s0 <- starts.distinct.sorted; r <- 0 until walksPerStart) {
      var cur = s0
      val path = mutable.ArrayBuffer[Long](s0)
      var halted = false
      var t = 1
      while (t <= steps && !halted) {
        adjM.get(cur) match {
          case Some(nbrs) if nbrs.nonEmpty =>
            cur = nbrs.iterator.map(d => (hex(s"$s0:$r:$t:$d"), d)).min._2
            path += cur
          case _ => halted = true
        }
        t += 1
      }
      out += ((s0, r, cur, path.toArray))
    }
    out.toArray
  }

  /** Link-prediction features — the
    * [[graft.graph.Algorithms.linkPredictionScores]] twin. Same
    * semantics as the distributed wedge join: undirected simple
    * neighbors (self-loops dropped, parallel edges collapsed), wedge
    * centers restricted to degree ≤ maxDegree, one (a, b) pair with
    * a < b per shared center; Jaccard denominators keep FULL degrees;
    * doubles rounded to 6 decimals with the distributed `round(x, 6)`
    * rule (BigDecimal HALF_UP). */
  /** Parallel co-purchase (bipartite-projection) pair counting over a
    * PACKED raw membership array — `v << 32 | u`, both ids in [0, 2^31),
    * the same 31-bit packability contract the distributed branch probes.
    * The in-memory analogue of the full distributed pipeline: one sort
    * clusters the v-groups (u ascending within each) AND absorbs the
    * DISTINCT step (in-place dedup of the sorted stream) and the hot-key
    * degree cap (over-cap groups skipped); every kept group's triangular
    * pairs write into DISJOINT ranges of one exactly-sized long array
    * (prefix offsets — no synchronization), a parallel sort clusters
    * equal pairs, and a run-length scan emits weights. The EXACT pair
    * volume is known from the degree histogram before any pair memory is
    * committed — None (fall back to the distributed branch) when it
    * exceeds `maxPairs`. `u_i < u_j` holds by the in-group sort — the
    * blockedBucketJoin pair convention. Mutates its input (sort+dedup
    * scratch); callers hand over a throwaway collect.
    *
    * @return Some((id_a, id_b, weight) with weight >= minWeight), or
    *         None when the pair volume exceeds the gate
    */
  def copurchaseCounts(packedRaw: Array[Long], minWeight: Long,
      maxKeyDegree: Long, maxPairs: Long)
      : Option[Array[(Long, Long, Long)]] = {
    if (packedRaw.isEmpty) return Some(Array.empty)
    java.util.Arrays.parallelSort(packedRaw)
    // in-place dedup of the sorted stream — the operator's DISTINCT
    // (u, v) step, absorbed into the sort the kernel needs anyway, so
    // the caller can hand over the RAW membership stream without paying
    // a distributed distinct shuffle first
    var n = 1
    var r = 1
    while (r < packedRaw.length) {
      if (packedRaw(r) != packedRaw(n - 1)) { packedRaw(n) = packedRaw(r); n += 1 }
      r += 1
    }
    val packed = packedRaw
    // group boundaries (v = high 32 bits changes); groups over the
    // degree cap are excluded wholesale — the hot-key anti-join's
    // semantics on the distinct stream
    val starts = new scala.collection.mutable.ArrayBuffer[Int]
    var i = 0
    var curV = Long.MinValue
    while (i < n) {
      val v = packed(i) >>> 32
      if (v != curV) { starts += i; curV = v }
      i += 1
    }
    starts += n
    val g0 = starts.toArray
    val keptGroups = (0 until g0.length - 1)
      .filter(gi => (g0(gi + 1) - g0(gi)).toLong <= maxKeyDegree).toArray
    val nGroups = keptGroups.length
    // exact pair offsets per kept group — also the pair-volume gate
    val off = new Array[Long](nGroups + 1)
    i = 0
    while (i < nGroups) {
      val d = (g0(keptGroups(i) + 1) - g0(keptGroups(i))).toLong
      off(i + 1) = off(i) + d * (d - 1) / 2
      i += 1
    }
    val total = off(nGroups)
    if (total > maxPairs || total > Int.MaxValue - 8) return None
    val pairs = new Array[Long](total.toInt)
    java.util.stream.IntStream.range(0, nGroups).parallel().forEach { ki =>
      val gi = keptGroups(ki)
      var w = off(ki).toInt
      var a = g0(gi)
      val end = g0(gi + 1)
      while (a < end) {
        val ua = packed(a) & 0xffffffffL
        var b = a + 1
        while (b < end) {
          pairs(w) = (ua << 32) | (packed(b) & 0xffffffffL)
          w += 1
          b += 1
        }
        a += 1
      }
    }
    java.util.Arrays.parallelSort(pairs)
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]
    i = 0
    while (i < pairs.length) {
      var j = i + 1
      while (j < pairs.length && pairs(j) == pairs(i)) j += 1
      if ((j - i).toLong >= minWeight)
        out += ((pairs(i) >>> 32, pairs(i) & 0xffffffffL, (j - i).toLong))
      i = j
    }
    Some(out.toArray)
  }

  def linkPredictionScores(edges: Array[(Long, Long)], maxDegree: Long)
      : Array[(Long, Long, Long, Double, Double, Boolean)] = {
    val adj = mutable.LongMap[mutable.SortedSet[Long]]()
    edges.foreach { case (a, b) =>
      if (a != b) {
        adj.getOrElseUpdate(a, mutable.SortedSet.empty[Long]) += b
        adj.getOrElseUpdate(b, mutable.SortedSet.empty[Long]) += a
      }
    }
    def r6(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    // pair -> (common-neighbor count, Σ 1/ln deg(center))
    val acc = mutable.HashMap[(Long, Long), (Long, Double)]()
    adj.foreach { case (c, nbrs) =>
      val d = nbrs.size
      if (d >= 2 && d <= maxDegree) {
        val inv = 1.0 / math.log(d.toDouble)
        val arr = nbrs.toArray // ascending — SortedSet
        var i = 0
        while (i < arr.length) {
          var j = i + 1
          while (j < arr.length) {
            val k = (arr(i), arr(j))
            val prev = acc.getOrElse(k, (0L, 0.0))
            acc(k) = (prev._1 + 1L, prev._2 + inv)
            j += 1
          }
          i += 1
        }
      }
    }
    acc.iterator.map { case ((a, b), (cn, aa)) =>
      val da = adj(a).size.toLong
      val db = adj(b).size.toLong
      (a, b, cn,
        r6(cn.toDouble / (da + db - cn).toDouble),
        r6(aa),
        adj(a).contains(b))
    }.toArray
  }
}
