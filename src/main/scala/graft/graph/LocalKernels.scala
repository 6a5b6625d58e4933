package graft.graph

import scala.collection.mutable

import graft.pgq.PathMode

/** Driver-local graph kernels for *small* graphs, every one over the
  * [[Csr]] built from a strategy gate's columns.
  *
  * The reference always runs its kernels over an in-memory CSR snapshot
  * (`compressed_sparse_row.hpp:25-47`) — exactly the right call when the
  * graph fits in one node's memory, and exactly wrong at 100 TB. graft
  * picks the strategy by size: inputs under the gate
  * ([[PathFinder.collectUnder]]) run here, on dense `Int` vertices and
  * primitive per-vertex arrays (milliseconds instead of one Spark job per
  * BFS level); larger inputs take the distributed DataFrame loops. Both
  * branches implement identical semantics, down to the tie-breaks on
  * original ids and eids (dense indices order like the ids they number);
  * the gate only changes performance.
  *
  * Seeded kernels expect their seeds among the CSR's vertices (callers
  * pass them as its extra ids). They allocate per-vertex arrays once per
  * call and reset only what a seed reached, so per-seed work stays
  * proportional to the reached set.
  */
private[graph] object LocalKernels {

  /** Multi-source BFS shortest lengths — mirrors
    * [[PathFinder.bfsDistances]]. When `targets` is set, only rows ending
    * in a target are emitted and each per-seed search stops as soon as
    * every target is settled. */
  def bfsDistances(g: Csr, seeds: Array[Long], maxDepth: Long,
      targets: Option[Set[Long]] = None): Array[(Long, Long, Long)] = {
    val out = mutable.ArrayBuffer[(Long, Long, Long)]()
    val dist = Array.fill(g.n)(-1)
    val queue = new Array[Int](g.n)
    seeds.distinct.foreach { s =>
      // targets not yet settled; -1 = no targets, never stop early
      var remaining = targets.fold(-1)(t => (t - s).size)
      queue(0) = g.index(s); dist(queue(0)) = 0
      var (head, tail) = (0, 1)
      while (head < tail && remaining != 0) {
        val u = queue(head); head += 1
        if (dist(u) < maxDepth) for (p <- g.off(u) until g.off(u + 1)) {
          val v = g.nbr(p)
          if (dist(v) < 0) {
            dist(v) = dist(u) + 1; queue(tail) = v; tail += 1
            if (targets.exists(_.contains(g.ids(v)))) remaining -= 1
          }
        }
      }
      for (v <- queue.take(tail)) {
        if (targets.forall(_.contains(g.ids(v))))
          out += ((s, g.ids(v), dist(v).toLong))
        dist(v) = -1
      }
    }
    out.toArray
  }

  /** BFS with lexicographically-minimal interleaved `[v,e,v,…]` paths —
    * mirrors [[PathFinder.shortestPaths]] (same tie-break). Each level is
    * kept in path order: a vertex's first discovery, scanning the previous
    * level in path order and each vertex's slots (least eid first among
    * parallel edges), is its minimal path, and a parent's new children
    * rank by (eid, id). `g` is the (src, dst[, eid]) view. */
  def shortestPaths(g: Csr, seeds: Array[Long], lower: Long, upper: Long)
      : Array[(Long, Long, Long, Array[Long])] = {
    val eid = g.eids(2)
    val out = mutable.ArrayBuffer[(Long, Long, Long, Array[Long])]()
    val dist = Array.fill(g.n)(-1)
    val via = new Array[Int](g.n) // the slot a vertex was reached by
    val pv = new Array[Int](g.n)
    val order = new Array[Int](g.n) // reached vertices, level by level
    seeds.distinct.foreach { s =>
      order(0) = g.index(s); dist(order(0)) = 0
      var (lo, hi) = (0, 1)
      while (lo < hi && dist(order(lo)) < upper) {
        var tail = hi
        for (u <- order.slice(lo, hi)) {
          val from = tail
          for (p <- g.off(u) until g.off(u + 1) if dist(g.nbr(p)) < 0) {
            val v = g.nbr(p)
            dist(v) = dist(u) + 1; via(v) = p; pv(v) = u
            order(tail) = v; tail += 1
          }
          order.slice(from, tail).sortBy(v => (eid(via(v)), v))
            .copyToArray(order, from)
        }
        lo = hi; hi = tail
      }
      for (v <- order.take(hi)) {
        if (dist(v) >= lower)
          out += ((s, g.ids(v), dist(v).toLong,
            backtrack(g, eid, s, v, dist(v), pv, via)))
        dist(v) = -1
      }
    }
    out.toArray
  }

  /** The `[s, e, …, v]` path of `hops` edges into `v`, following each
    * vertex's parent `pv` and the slot `via` it was reached by. */
  private def backtrack(g: Csr, eid: Array[Long], s: Long, v: Int,
      hops: Int, pv: Array[Int], via: Array[Int]): Array[Long] = {
    val path = new Array[Long](2 * hops + 1)
    var (cur, k) = (v, path.length - 1)
    while (k > 0) {
      path(k) = g.ids(cur); path(k - 1) = eid(via(cur))
      cur = pv(cur); k -= 2
    }
    path(0) = s
    path
  }

  /** Enumerate ALL mode-valid paths (one result per path — multiplicity
    * semantics, unlike the pair-deduped BFS kernels) — mirrors
    * [[PathFinder.enumerateModePaths]]. TRAIL forbids repeated edge ids,
    * ACYCLIC repeated vertices, SIMPLE repeated vertices except closing
    * back to the start (a closed path cannot extend further — any
    * continuation would make the start an interior repeat). WALK requires
    * a finite `upper` (the caller guards; on a cyclic graph the walk set
    * is infinite). Explicit stack, not recursion — ACYCLIC depth is
    * bounded by |V| and TRAIL by |E|, far past any safe JVM stack. `g` is
    * the (src, dst[, eid]) view. */
  def enumeratePaths(g: Csr, seeds: Array[Long], lower: Long, upper: Long,
      mode: PathMode): Array[(Long, Long, Long, Array[Long])] = {
    require(mode != PathMode.Walk || upper != Long.MaxValue,
      "WALK enumeration needs a finite upper bound")
    val eid = g.eids(2)
    val out = mutable.ArrayBuffer[(Long, Long, Long, Array[Long])]()
    final case class Frame(v: Int, path: Vector[Long], visV: Set[Int],
        visE: Set[Long], closed: Boolean)
    seeds.distinct.foreach { s =>
      val si = g.index(s)
      val stack = mutable.Stack(
        Frame(si, Vector(s), Set(si), Set.empty, closed = false))
      while (stack.nonEmpty) {
        val f = stack.pop()
        val d = (f.path.length - 1L) / 2
        if (d >= lower) out += ((s, g.ids(f.v), d, f.path.toArray))
        if (d < upper && !f.closed) {
          for (p <- g.off(f.v) until g.off(f.v + 1)) {
            val w = g.nbr(p)
            val closes = mode == PathMode.Simple && w == si
            val ok = mode match {
              case PathMode.Walk    => true
              case PathMode.Trail   => !f.visE(eid(p))
              case PathMode.Acyclic => !f.visV(w)
              case PathMode.Simple  => !f.visV(w) || closes
            }
            if (ok) stack.push(Frame(w, f.path :+ eid(p) :+ g.ids(w),
              f.visV + w, f.visE + eid(p), closed = closes))
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
    * mode-constrained k-shortest enumerates unpruned instead.) `g` is the
    * (src, dst[, eid]) view. */
  def kShortestWalks(g: Csr, seeds: Array[Long], lower: Long, upper: Long,
      k: Int): Array[(Long, Long, Long, Array[Long])] = {
    val eid = g.eids(2)
    val byEnd = Ordering.Tuple2(Ordering.Int,
      Ordering.Implicits.seqOrdering[Vector, Long])
    val out = mutable.ArrayBuffer[(Long, Long, Long, Array[Long])]()
    seeds.distinct.foreach { s =>
      var frontier = Array((g.index(s), Vector(s)))
      if (lower <= 0L) out += ((s, s, 0L, Array(s)))
      var d = 0L
      while (frontier.nonEmpty && d < upper) {
        d += 1
        val cand = (for ((v, path) <- frontier;
            p <- g.off(v) until g.off(v + 1))
          yield (g.nbr(p), path :+ eid(p) :+ g.ids(g.nbr(p)))).sorted(byEnd)
        // the k least walks into each vertex: a walk is among them iff
        // the walk k places before it ends elsewhere
        frontier = cand.indices.collect {
          case i if i < k || cand(i - k)._1 != cand(i)._1 => cand(i)
        }.toArray
        if (d >= lower) frontier.foreach { case (w, path) =>
          out += ((s, g.ids(w), d, path.toArray))
        }
      }
    }
    out.toArray
  }

  /** ALL SHORTEST — every shortest `[v,e,…,v]` path per reached (src, dst)
    * pair (one row per path), mirrors [[PathFinder.allShortestPaths]].
    * BFS records ALL minimal parents per vertex, as a linked list of
    * (parent, eid) entries; enumeration multiplies the parent
    * combinations out backwards. `g` is the (src, dst[, eid]) view. */
  def allShortestPaths(g: Csr, seeds: Array[Long], lower: Long,
      upper: Long): Array[(Long, Long, Long, Array[Long])] = {
    val eid = g.eids(2)
    val out = mutable.ArrayBuffer[(Long, Long, Long, Array[Long])]()
    val dist = Array.fill(g.n)(-1)
    val head = Array.fill(g.n)(-1) // a vertex's latest parent entry
    val order = new Array[Int](g.n)
    seeds.distinct.foreach { s =>
      val (pv, pe, next) = (mutable.ArrayBuilder.make[Int],
        mutable.ArrayBuilder.make[Long], mutable.ArrayBuilder.make[Int])
      order(0) = g.index(s); dist(order(0)) = 0
      var (lo, hi) = (0, 1)
      while (lo < hi && dist(order(lo)) < upper) {
        val d = dist(order(lo)) + 1
        var tail = hi
        for (u <- order.slice(lo, hi); p <- g.off(u) until g.off(u + 1)) {
          val v = g.nbr(p)
          // a duplicate physical edge row (same src, dst AND eid — its
          // slot follows the original's) is one parent alternative,
          // matching the distributed twin's distinct()
          val dup = p > g.off(u) && g.nbr(p - 1) == v && eid(p - 1) == eid(p)
          if ((dist(v) < 0 || dist(v) == d) && !dup) {
            if (dist(v) < 0) { dist(v) = d; order(tail) = v; tail += 1 }
            pv += u; pe += eid(p); next += head(v); head(v) = pv.length - 1
          }
        }
        lo = hi; hi = tail
      }
      val (pvs, pes, nexts) = (pv.result(), pe.result(), next.result())
      for (v <- order.take(hi)) {
        if (dist(v) >= lower) {
          // iterative backtrack (no recursion — chains can be |V| deep)
          val stack = mutable.Stack((v, Vector(g.ids(v))))
          while (stack.nonEmpty) {
            val (cur, suf) = stack.pop()
            if (suf.length == 2 * dist(v) + 1)
              out += ((s, g.ids(v), dist(v).toLong, suf.toArray))
            else {
              var e = head(cur)
              while (e >= 0) {
                stack.push((pvs(e), g.ids(pvs(e)) +: pes(e) +: suf))
                e = nexts(e)
              }
            }
          }
        }
      }
      for (v <- order.take(hi)) { dist(v) = -1; head(v) = -1 }
    }
    out.toArray
  }

  /** Bellman-Ford with parent pointers + backtrack — cheapest ROUTES, whose
    * costs are also [[PathFinder.cheapestPaths]]' local answer (the
    * reference stops at lengths, `cheapest_path_length.cpp:12-163` —
    * reconstruction exceeds parity). Tie-break: lexicographic-min
    * (cost, hops, parentV, parentE), the same order
    * [[PathFinder.cheapestRoutes]]'s distributed min-struct aggregation
    * uses, so both strategies return identical routes. The hops component
    * makes the tie-break well-founded on zero-weight cycles (a parent
    * always has strictly smaller (cost, hops)).
    *
    * @param g the (src, dst, w[, eid]) view
    * @return (seed, dst, cost, [v,e,…,v])
    */
  def cheapestRoutes(g: Csr, seeds: Array[Long])
      : Array[(Long, Long, Double, Array[Long])] = {
    val (w, eid) = (g.doubles(2), g.eids(3))
    val out = mutable.ArrayBuffer[(Long, Long, Double, Array[Long])]()
    // per reached vertex: (cost, hops, parent vertex, parent slot)
    val cost = new Array[Double](g.n)
    val hops = new Array[Int](g.n)
    val pv = new Array[Int](g.n)
    val pp = new Array[Int](g.n)
    val seen = new Array[Boolean](g.n)
    val reached = new Array[Int](g.n)
    val maxRounds = (0 until g.n).count(g.degree(_) > 0) + seeds.length + 2
    seeds.distinct.foreach { s =>
      val si = g.index(s)
      reached(0) = si; seen(si) = true; cost(si) = 0.0; hops(si) = 0
      var nReached = 1
      var changed = true
      var round = 0
      while (changed && round < maxRounds) {
        round += 1
        changed = false
        val from = reached.take(nReached)
        val (cu, hu) = (from.map(cost(_)), from.map(hops(_)))
        for (i <- from.indices; p <- g.off(from(i)) until g.off(from(i) + 1)) {
          val (u, v, c) = (from(i), g.nbr(p), cu(i) + w(p))
          val lt = !seen(v) || c < cost(v) || (c == cost(v) &&
            (hu(i) + 1 < hops(v) || (hu(i) + 1 == hops(v) &&
              (u < pv(v) || (u == pv(v) && eid(p) < eid(pp(v)))))))
          if (lt) {
            if (!seen(v)) { seen(v) = true; reached(nReached) = v; nReached += 1 }
            cost(v) = c; hops(v) = hu(i) + 1; pv(v) = u; pp(v) = p
            changed = true
          }
        }
      }
      if (changed)
        throw graft.model.GraphAnalysisException(
          "cheapest-path did not converge (negative cycle detected)")
      for (v <- reached.take(nReached)) {
        out += ((s, g.ids(v), cost(v),
          backtrack(g, eid, s, v, hops(v), pv, pp)))
        seen(v) = false
      }
    }
    out.toArray
  }

  /** The power iteration of the three PageRanks ([[Algorithms.pageRank]],
    * [[Algorithms.personalizedPageRank]], [[Algorithms.weightedPageRank]]),
    * whose distributed branches share one loop with this arithmetic. Rank
    * starts at `teleport` (by dense index); each iteration sets it to
    * `(1 − damping)·t(v) + damping·(inflow(v) + dangling·t(v))`. A vertex's
    * rank splits over its slots by `weight` / out-weight, which sums EVERY
    * slot (the reference's full out-degree), but only ranks inside
    * `domain` are read, so inflow to other vertices is lost. Dangling is the rank of the domain's zero-out-weight
    * vertices plus that of `phantomNodes` phantom slots (the reference
    * quirk): dangling, no in-edges, teleport 1/(|domain| + phantomNodes).
    * Stops after `iters` iterations, or once no rank moves more than `tol`.
    *
    * @return (id, rank) over `domain`
    */
  def pageRank(g: Csr, domain: Array[Int], weight: Int => Double,
      teleport: Array[Double], damping: Double, iters: Int,
      tol: Option[Double], phantomNodes: Int): Array[(Long, Double)] = {
    val wOut = Array.tabulate(g.n)(u =>
      (g.off(u) until g.off(u + 1)).map(weight).sum)
    val phantomT = 1.0 / (domain.length + phantomNodes)
    var (rank, phantomRank) = (teleport, phantomT)
    var (iter, delta) = (0, Double.MaxValue)
    while (iter < iters && tol.forall(delta > _)) {
      iter += 1
      val dangling = phantomNodes * phantomRank +
        domain.filter(wOut(_) == 0.0).map(rank(_)).sum
      val inflow = new Array[Double](g.n)
      for (u <- domain; p <- g.off(u) until g.off(u + 1))
        inflow(g.nbr(p)) += rank(u) * weight(p) / wOut(u)
      val next = Array.tabulate(g.n)(v => (1.0 - damping) * teleport(v) +
        damping * (inflow(v) + dangling * teleport(v)))
      val phantomNext =
        (1.0 - damping) * phantomT + damping * dangling * phantomT
      delta = domain.foldLeft(math.abs(phantomNext - phantomRank))((m, v) =>
        math.max(m, math.abs(next(v) - rank(v))))
      rank = next
      phantomRank = phantomNext
    }
    domain.map(v => (g.ids(v), rank(v)))
  }

  /** Iterative Tarjan SCC with min-member component ids — mirrors
    * [[Algorithms.stronglyConnectedComponents]]. Explicit DFS stack (no
    * recursion — a 10⁵-vertex path must not blow the JVM stack); the
    * domain is vertexIds ∪ edge endpoints, matching the distributed
    * propagation domain, with output restricted to the vertex ids
    * (`g.extra`). */
  def scc(g: Csr): Array[(Long, Long)] = {
    val index = Array.fill(g.n)(-1)
    val low = new Array[Int](g.n)
    val onStack = new Array[Boolean](g.n)
    val stack = new Array[Int](g.n)
    val comp = new Array[Int](g.n) // v -> min member of its SCC
    // DFS frames: vertex and its next slot
    val (dfsV, dfsP) = (new Array[Int](g.n), new Array[Int](g.n))
    var (counter, sp) = (0, 0)
    def visit(v: Int, top: Int): Unit = {
      dfsV(top) = v; dfsP(top) = g.off(v)
      index(v) = counter; low(v) = counter; counter += 1
      stack(sp) = v; sp += 1; onStack(v) = true
    }
    for (v0 <- 0 until g.n if index(v0) < 0) {
      var top = 0
      visit(v0, top)
      while (top >= 0) {
        val (v, p) = (dfsV(top), dfsP(top))
        if (p < g.off(v + 1)) {
          dfsP(top) = p + 1
          val w = g.nbr(p)
          if (index(w) < 0) { top += 1; visit(w, top) }
          else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          if (low(v) == index(v)) {
            val from = stack.lastIndexOf(v, sp - 1)
            val members = stack.slice(from, sp)
            val least = members.min
            members.foreach { x => onStack(x) = false; comp(x) = least }
            sp = from
          }
          top -= 1
          if (top >= 0) low(dfsV(top)) = math.min(low(dfsV(top)), low(v))
        }
      }
    }
    g.extra.map(v => (g.ids(v), g.ids(comp(v))))
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
  def triangles(g: Csr): Array[(Long, Long, Long)] = {
    val und = g.simple(symmetric = true)
    val n = und.n
    // orientation rank: (deg, id) — identical to the DataFrame filter
    def ranksBelow(i: Int, j: Int): Boolean =
      und.degree(i) < und.degree(j) ||
        (und.degree(i) == und.degree(j) && i < j)
    val off = new Array[Int](n + 1)
    for (i <- 0 until n)
      off(i + 1) = off(i) +
        (und.off(i) until und.off(i + 1)).count(p => ranksBelow(i, und.nbr(p)))
    val adj = new Array[Int](off(n))
    for (i <- 0 until n)
      (und.off(i) until und.off(i + 1)).map(und.nbr(_))
        .filter(ranksBelow(i, _)).sorted.copyToArray(adj, off(i))
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
    Array.tabulate(n)(k => (und.ids(k), und.degree(k).toLong, tris.get(k)))
  }

  /** Union-find WCC with min-member component ids — mirrors
    * [[Algorithms.weaklyConnectedComponents]]. Roots always link under the
    * smaller index, so a root IS its component's minimum over ALL members
    * incl. pass-through endpoints absent from the vertex ids (matches the
    * distributed propagation domain); output is the vertex ids. */
  def wcc(g: Csr): Array[(Long, Long)] = {
    val parent = Array.range(0, g.n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    for (u <- 0 until g.n; p <- g.off(u) until g.off(u + 1)) {
      val (a, b) = (find(u), find(g.nbr(p)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    g.extra.map(v => (g.ids(v), g.ids(find(v))))
  }

  /** Fixed-k core membership by textbook peeling: repeatedly delete
    * vertices whose UNDIRECTED simple degree is below k (queue-driven,
    * O(V + E)). Self-loops never count. Domain = vertexIds ∪ endpoints of
    * the undirected simple edges. */
  def kCore(g: Csr, k: Int): Array[(Long, Boolean)] = {
    val und = g.simple(symmetric = true)
    val deg = Array.tabulate(und.n)(und.degree)
    val removed = deg.map(_ < k)
    val queue = mutable.ArrayDeque.from(deg.indices.filter(removed(_)))
    while (queue.nonEmpty) {
      val v = queue.removeHead()
      for (p <- und.off(v) until und.off(v + 1); x = und.nbr(p) if !removed(x)) {
        deg(x) -= 1
        if (deg(x) < k) { removed(x) = true; queue += x }
      }
    }
    und.ids.zip(removed.map(!_))
  }

  /** k-truss — the [[graft.graph.Algorithms.kTruss]] twin: the maximal
    * subgraph of the undirected simple graph in which every EDGE closes
    * ≥ k−2 triangles (with both other sides also in the subgraph).
    * Textbook peel: recompute per-edge support, drop under-supported
    * edges, repeat to fixpoint.
    *
    * @return surviving edges, normalized (src < dst)
    */
  def kTruss(g: Csr, k: Int): Array[(Long, Long)] = {
    val und = g.simple(symmetric = true)
    val alive = Array.fill(und.m)(true) // per slot; both directions agree
    def slot(a: Int, b: Int): Int =
      java.util.Arrays.binarySearch(und.nbr, und.off(a), und.off(a + 1), b)
    // common alive neighbours of a and b: intersect the ascending slots
    def support(a: Int, b: Int): Int = {
      var (x, y, c) = (und.off(a), und.off(b), 0)
      while (x < und.off(a + 1) && y < und.off(b + 1)) {
        if (und.nbr(x) < und.nbr(y)) x += 1
        else if (und.nbr(x) > und.nbr(y)) y += 1
        else { if (alive(x) && alive(y)) c += 1; x += 1; y += 1 }
      }
      c
    }
    def edges = for (a <- 0 until und.n; p <- und.off(a) until und.off(a + 1)
      if alive(p) && und.nbr(p) > a) yield (a, und.nbr(p))
    var drop = edges.filter { case (a, b) => support(a, b) < k - 2 }
    while (drop.nonEmpty) {
      drop.foreach { case (a, b) =>
        alive(slot(a, b)) = false; alive(slot(b, a)) = false
      }
      drop = edges.filter { case (a, b) => support(a, b) < k - 2 }
    }
    edges.map { case (a, b) => (und.ids(a), und.ids(b)) }.toArray
  }

  /** Earliest-arrival temporal reachability — the
    * [[graft.graph.Algorithms.earliestArrival]] twin. An edge (a, b, t)
    * is traversable from a state that arrived at `a` no later than `t`,
    * and traversing it sets the arrival at `b` to `t`; earliest arrival
    * minimizes over temporal paths of ≤ maxHops edges. Frontier-only
    * relaxation is sound because an earlier arrival admits a superset
    * of the later one's continuations. `g` is the (src, dst, ts) view.
    *
    * @return (seed, v, arrival) for every reached v ≠ seed
    */
  def earliestArrival(g: Csr, seeds: Array[Long], startTs: Long,
      maxHops: Int): Array[(Long, Long, Long)] = {
    val ts = g.longs(2)
    val out = mutable.ArrayBuffer[(Long, Long, Long)]()
    val best = new Array[Long](g.n)
    val seen = new Array[Boolean](g.n)
    val reached = new Array[Int](g.n)
    // this hop's candidate arrivals
    val next = new Array[Long](g.n)
    val touched = new Array[Boolean](g.n)
    seeds.distinct.sorted.foreach { s =>
      val si = g.index(s)
      reached(0) = si; seen(si) = true; best(si) = startTs
      var nReached = 1
      var frontier = Array(si)
      var hop = 0
      while (hop < maxHops && frontier.nonEmpty) {
        val cand = mutable.ArrayBuilder.make[Int]
        for (v <- frontier; p <- g.off(v) until g.off(v + 1)
            if ts(p) >= best(v)) {
          val d = g.nbr(p)
          if (!touched(d)) { touched(d) = true; next(d) = ts(p); cand += d }
          else if (ts(p) < next(d)) next(d) = ts(p)
        }
        val hit = cand.result()
        hit.foreach(touched(_) = false)
        frontier = hit.filter(d => !seen(d) || next(d) < best(d))
        for (d <- frontier) {
          if (!seen(d)) { seen(d) = true; reached(nReached) = d; nReached += 1 }
          best(d) = next(d)
        }
        hop += 1
      }
      for (v <- reached.take(nReached)) {
        if (v != si) out += ((s, g.ids(v), best(v)))
        seen(v) = false
      }
    }
    out.toArray
  }

  /** Exact directed Brandes betweenness — the
    * [[graft.graph.Algorithms.betweennessCentrality]] twin. Unweighted
    * shortest paths over the simple digraph (parallel edges collapsed,
    * self-loops dropped); per source: BFS with path counts, then the
    * dependency sweep in reverse BFS order, each vertex summing over its
    * successors one level down. B(v) sums δ_s(v) over the given sources
    * (all-sources = exact betweenness; a sample = the standard
    * estimator's partial sums, unscaled). Domain = vertexIds ∪ endpoints
    * of the simple edges. */
  def betweenness(g: Csr, sources: Array[Long]): Array[(Long, Double)] = {
    val sg = g.simple(symmetric = false)
    val b = new Array[Double](sg.n)
    val dist = Array.fill(sg.n)(-1)
    val sigma = new Array[Double](sg.n)
    val delta = new Array[Double](sg.n)
    val order = new Array[Int](sg.n)
    for (s <- sources.distinct.map(sg.index) if s >= 0) {
      dist(s) = 0; sigma(s) = 1.0; order(0) = s
      var (head, tail) = (0, 1)
      while (head < tail) {
        val v = order(head); head += 1
        for (p <- sg.off(v) until sg.off(v + 1); w = sg.nbr(p)) {
          if (dist(w) < 0) { dist(w) = dist(v) + 1; order(tail) = w; tail += 1 }
          if (dist(w) == dist(v) + 1) sigma(w) += sigma(v)
        }
      }
      for (v <- order.take(tail).reverseIterator) {
        for (p <- sg.off(v) until sg.off(v + 1); w = sg.nbr(p)
            if dist(w) == dist(v) + 1)
          delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
        if (v != s) b(v) += delta(v)
      }
      for (v <- order.take(tail)) { dist(v) = -1; sigma(v) = 0.0; delta(v) = 0.0 }
    }
    sg.ids.zip(b)
  }

  /** Synchronous label propagation — the
    * [[graft.graph.Algorithms.labelPropagation]] twin. Undirected simple
    * neighborhoods (self-loops dropped, parallel edges collapsed); each
    * round every vertex adopts the most frequent neighbor label, ties to
    * the smallest label; isolated vertices keep their own. Fixed round
    * count, no convergence test — deterministic by construction. Domain
    * = vertexIds ∪ endpoints of the undirected simple edges. Shares
    * [[propagate]] with [[weightedLabelPropagation]]. */
  def labelPropagation(g: Csr, rounds: Int): Array[(Long, Long)] =
    propagate(g.simple(symmetric = true), _ => 1.0, identity, rounds)

  /** Weighted label propagation — the
    * [[graft.graph.Algorithms.weightedLabelPropagation]] twin. `g` is the
    * symmetric (a, b, w) view: both orientations of every unordered pair,
    * carrying the already-combined weight (the caller sums parallel
    * edges). Votes are weight sums per label, rounded to 9 decimals
    * before ranking exactly like the distributed `round(sum(w), 9)`
    * (Spark round = HALF_UP), ties to the smallest label. */
  def weightedLabelPropagation(g: Csr, rounds: Int): Array[(Long, Long)] = {
    val w = g.doubles(2)
    propagate(g, w(_), x => java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue(), rounds)
  }

  /** `rounds` synchronous rounds in which every vertex with neighbours
    * adopts the label of maximal `score(Σ weight)` over its slots, ties
    * to the smallest label — the twin of the vote loop both distributed
    * label propagations share. Labels are dense indices, so the smallest
    * label is the smallest id. */
  private def propagate(g: Csr, weight: Int => Double,
      score: Double => Double, rounds: Int): Array[(Long, Long)] = {
    var lab = Array.range(0, g.n)
    val votes = new Array[Double](g.n)
    for (_ <- 0 until rounds) {
      lab = Array.tabulate(g.n) { v =>
        val labels = (g.off(v) until g.off(v + 1)).map { p =>
          votes(lab(g.nbr(p))) += weight(p); lab(g.nbr(p))
        }.distinct
        val pick = labels.minByOption(l => (-score(votes(l)), l))
        labels.foreach(votes(_) = 0.0)
        pick.getOrElse(lab(v))
      }
    }
    g.ids.zip(lab.map(g.ids(_)))
  }

  /** Deterministic hash-driven walks — the
    * [[graft.graph.Algorithms.deterministicWalks]] twin. Step t of walk
    * (start, r) moves to the out-neighbor d minimizing the md5 hex of
    * "start:r:t:d" (ties break on d, matching the distributed
    * min-struct); a vertex with no out-neighbors halts the walk in
    * place. */
  def deterministicWalks(g: Csr, starts: Array[Long], walksPerStart: Int,
      steps: Int): Array[(Long, Int, Long, Array[Long])] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String): String = {
      md.reset()
      md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"${b & 0xff}%02x").mkString
    }
    for (s0 <- starts.distinct.sorted; r <- 0 until walksPerStart) yield {
      var cur = g.index(s0)
      val path = mutable.ArrayBuffer[Long](s0)
      var t = 1
      while (t <= steps && g.degree(cur) > 0) {
        cur = (g.off(cur) until g.off(cur + 1)).map(g.nbr(_))
          .minBy(d => (hex(s"$s0:$r:$t:${g.ids(d)}"), d))
        path += g.ids(cur)
        t += 1
      }
      (s0, r, g.ids(cur), path.toArray)
    }
  }

  /** Link-prediction features — the
    * [[graft.graph.Algorithms.linkPredictionScores]] twin. Same
    * semantics as the distributed wedge join: undirected simple
    * neighbors (self-loops dropped, parallel edges collapsed), wedge
    * centers restricted to degree ≤ maxDegree, one (a, b) pair with
    * a < b per shared center; Jaccard denominators keep FULL degrees;
    * doubles rounded to 6 decimals with the distributed `round(x, 6)`
    * rule (BigDecimal HALF_UP). */
  def linkPredictionScores(g: Csr, maxDegree: Long)
      : Array[(Long, Long, Long, Double, Double, Boolean)] = {
    val und = g.simple(symmetric = true)
    def r6(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    // packed pair a << 32 | b -> (common-neighbor count, Σ 1/ln deg(center))
    val acc = mutable.LongMap[(Long, Double)]()
    for (c <- 0 until und.n; d = und.degree(c) if d >= 2 && d <= maxDegree) {
      val inv = 1.0 / math.log(d.toDouble)
      for (x <- und.off(c) until und.off(c + 1);
          y <- x + 1 until und.off(c + 1)) {
        val k = (und.nbr(x).toLong << 32) | und.nbr(y)
        val (cn, aa) = acc.getOrElse(k, (0L, 0.0))
        acc(k) = (cn + 1L, aa + inv)
      }
    }
    acc.iterator.map { case (k, (cn, aa)) =>
      val (a, b) = ((k >>> 32).toInt, k.toInt)
      (und.ids(a), und.ids(b), cn,
        r6(cn.toDouble / (und.degree(a) + und.degree(b) - cn).toDouble),
        r6(aa),
        java.util.Arrays.binarySearch(und.nbr, und.off(a), und.off(a + 1), b) >= 0)
    }.toArray
  }

  /** Pair-volume bound of [[copurchaseCounts]]: 120M packed longs, about
    * 1 GB plus sort workspace, below the JVM's array-length limit. */
  private val copurchaseMaxPairs = 120000000L

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
    * exceeds [[copurchaseMaxPairs]]. `u_i < u_j` holds by the in-group
    * sort — the blockedBucketJoin pair convention. Mutates its input
    * (sort+dedup scratch); callers hand over a fresh array.
    *
    * @return Some((id_a, id_b, weight) with weight >= minWeight), or
    *         None when the pair volume exceeds the bound
    */
  def copurchaseCounts(packedRaw: Array[Long], minWeight: Long,
      maxKeyDegree: Long): Option[Array[(Long, Long, Long)]] = {
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
    if (total > copurchaseMaxPairs) return None
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
}
