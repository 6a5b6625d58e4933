package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model.{PropertyGraph, TableResolver}

/** Whole-graph algorithms with the semantics of the reference's scalar
  * kernels + table-function sugar (`pagerank`, `weakly_connected_component`,
  * `local_clustering_coefficient` — reference
  * `src/core/functions/scalar/{pagerank,weakly_connected_component,
  * local_clustering_coefficient}.cpp` and the table functions under
  * `src/core/functions/table/`).
  *
  * All DataFrame-native iterative jobs: partial aggregation (map-side
  * combine) on every step, `localCheckpoint` to cut lineage, no driver-side
  * materialization beyond scalar convergence stats — the shape that scales
  * to a real cluster.
  */
object Algorithms {

  /** The local branch of the (vertices, edges) kernels: `kernel` over the
    * CSR of the cleaned edge pairs and the distinct vertex ids when both
    * fit their gate (vertices: `vertexCap`, default the session gate),
    * None (→ the distributed branch) otherwise. Edges are gated first:
    * every kernel needs them, and a memoized verdict answers without a
    * job. */
  private def localGraph[A](vertices: DataFrame, edges: DataFrame,
      vertexCap: Option[Long] = None)(kernel: Csr => A): Option[A] =
    for {
      e <- PathFinder.localEdgePairs(edges)
      ids <- vertexCap.fold(PathFinder.localVertexIds(vertices))(
        PathFinder.localVertexIds(vertices, _))
    } yield kernel(Csr(e, ids))

  /** PageRank with the reference's constants (damping 0.85, ε = 1e-6,
    * dangling-mass redistribution — `pagerank.cpp:30-82`).
    *
    * Reference-compat quirk: the reference iterates over the CSR *offsets
    * array*, which is allocated with 2 padding slots (`pagerank.cpp:52-56`
    * loops `i < v_size` where v_size is the padded array length;
    * `csr_creation.cpp:14-41`). The padding slots behave as 2 phantom
    * dangling vertices, so effective N = |V| + 2 — verified numerically
    * against the goldens in `test/sql/scalar/pagerank.test:23-30`.
    * `phantomNodes = 0` gives textbook PageRank. Phantom ranks are identical
    * scalars (no in-edges), so they are tracked driver-side — zero extra
    * distributed work.
    *
    * @param vertices (id: long)
    * @param edges (src, dst) — directed
    * @param fixedIter if set, run exactly this many iterations (no ε test);
    *                  used by the deterministic verification queries
    * @return (id, pagerank: double)
    */
  def pageRank(vertices: DataFrame, edges: DataFrame,
      damping: Double = 0.85, tol: Double = 1e-6,
      maxIter: Int = 100, fixedIter: Option[Int] = None,
      phantomNodes: Int = 2): DataFrame = {
    val sp = vertices.sparkSession
    import sp.implicits._
    val (iters, stop) = (fixedIter.getOrElse(maxIter),
      Option.when(fixedIter.isEmpty)(tol))
    // small graphs: run the exact same iteration on driver arrays (the
    // reference's in-memory-kernel strategy, size-gated — see LocalKernels;
    // the vertex cap is 16× the path kernels' 4096-seed cap)
    localGraph(vertices, edges, vertexCap = Some(65536L)) { g =>
      val n = g.extra.length + phantomNodes.toDouble
      LocalKernels.pageRank(g, g.extra, _ => 1.0, Array.fill(g.n)(1.0 / n),
        damping, iters, stop, phantomNodes).toSeq.toDF("id", "pagerank")
    }.getOrElse {
      val v = PathFinder.dropNullIds(vertices).select(col("id")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n = v.count() + phantomNodes.toDouble
      val e = rankEdges(edges, lit(1.0))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val ranks = powerIteration(v.withColumn("t", lit(1.0 / n)), e,
        damping, iters, stop, phantomNodes)
      v.unpersist(); e.unpersist()
      ranks.select(col("id"), col("rank").as("pagerank"))
    }
  }

  /** The (src, dst, w) edges of the three PageRanks: long endpoints,
    * null ones dropped (they never join, and never count toward an
    * out-weight — the local branch's cleaned pairs drop them the same
    * way), and `w` as a double with null or non-positive weights dropped
    * (the cheapest-path convention; `lit(1.0)` keeps every edge). */
  private def rankEdges(edges: DataFrame, w: Column): DataFrame =
    edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), w.cast("double").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull && col("w") > 0)

  /** Vertex ids ∪ edge endpoints, as longs: the domain of the kernels
    * whose edges may leave the vertex set. */
  private def endpointDomain(vertices: DataFrame, e: DataFrame): DataFrame =
    PathFinder.dropNullIds(vertices).select(col("id").cast("long").as("id"))
      .union(e.select(col("src").as("id")))
      .union(e.select(col("dst").as("id")))
      .distinct()

  /** The power iteration of the three PageRanks — the distributed twin
    * of [[LocalKernels.pageRank]], with its arithmetic and rules. Each
    * iteration is one contribution join and (dst) shuffle, the checkpoint
    * of the next ranks, and ONE fused stats action over it returning the
    * next dangling mass and this iteration's convergence delta.
    *
    * @param domain (id, t): the ranked vertices and their teleport share,
    *               which is also the initial rank
    * @param e (src, dst, w) from [[rankEdges]]
    * @param tol None runs exactly `iters` iterations
    * @return (id, rank) over `domain`
    */
  private def powerIteration(domain: DataFrame, e: DataFrame,
      damping: Double, iters: Int, tol: Option[Double],
      phantomNodes: Int): DataFrame = {
    val wOut = e.groupBy(col("src").as("id")).agg(sum("w").as("wout"))
    var ranks = domain.join(wOut, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("wout"), lit(0.0)).as("wout"),
        col("t"), col("t").as("rank"))
      .transform(PathFinder.ckpt)
    val danglingMass =
      coalesce(sum(when(col("wout") === 0, col("rank"))), lit(0.0))
    // the initial dangling mass and the domain size in one startup
    // action; each iteration's stats action then keeps the mass current
    val start = ranks.agg(danglingMass, count(lit(1))).first()
    var dangling = start.getDouble(0)
    val phantomT = 1.0 / (start.getLong(1) + phantomNodes)
    var phantomRank = phantomT
    var (iter, delta) = (0, Double.MaxValue)
    while (iter < iters && tol.forall(delta > _)) {
      iter += 1
      // dangling mass redistributed by teleport (reference pagerank.cpp:50-71)
      val mass = dangling + phantomNodes * phantomRank
      val inflow = ranks.filter(col("wout") > 0)
        .join(e, ranks("id") === e("src"))
        .select(e("dst").as("id"),
          (col("rank") * e("w") / col("wout")).as("c"))
        .groupBy("id").agg(sum("c").as("inflow"))
      val next = ranks.join(inflow, Seq("id"), "left_outer")
        .select(col("id"), col("wout"), col("t"),
          (lit(1.0 - damping) * col("t") + lit(damping) *
            (coalesce(col("inflow"), lit(0.0)) + lit(mass) * col("t")))
            .as("rank"),
          col("rank").as("prev"))
        .transform(PathFinder.ckpt)
      val phantomNext = (1.0 - damping) * phantomT + damping * mass * phantomT
      // ONE fused action per iteration over the checkpointed result:
      // next iteration's dangling mass + this iteration's convergence
      // delta (two separate driver actions would be two extra full
      // passes over the rank table per iteration at scale)
      val stats = next.agg(danglingMass,
        max(abs(col("rank") - col("prev")))).first()
      dangling = stats.getDouble(0)
      if (tol.isDefined)
        delta = math.max(stats.getDouble(1),
          math.abs(phantomNext - phantomRank))
      phantomRank = phantomNext
      ranks = next.drop("prev")
    }
    ranks.select(col("id"), col("rank"))
  }

  /** Weakly connected components. The reference uses sequential union-find
    * (`weakly_connected_component.cpp:15-104`) whose root ids are
    * arbitrary; tests compare *grouping equivalence*. We use distributed
    * min-id label propagation over the undirected edge set, so the
    * component id is the canonical **minimum member id** — deterministic
    * and directly SQL-oracle-able.
    *
    * @return (id, component: long)
    */
  def weaklyConnectedComponents(vertices: DataFrame,
      edges: DataFrame): DataFrame = {
    val sp = vertices.sparkSession
    import sp.implicits._
    // small-graph strategy: union-find on driver arrays
    localGraph(vertices, edges) { g =>
      LocalKernels.wcc(g).toSeq.toDF("id", "component")
    }.getOrElse {
      val und = edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().persist(StorageLevel.MEMORY_AND_DISK)
      // propagate over vertices ∪ edge endpoints so components merge through
      // endpoints absent from `vertices` (matches the union-find local path);
      // output is restricted back to `vertices` at the end
      val domain = vertices.select(col("id"))
        .union(und.select(col("src").as("id")))
        .distinct()
      val comp = labelFixpoint(domain, und, largest = false)
      und.unpersist()
      comp.select(col("id"), col("lab").as("component"))
        .join(vertices.select(col("id")).distinct(), Seq("id"), "left_semi")
    }
  }

  /** WCC's min-id propagation and SCC's forward coloring: every vertex
    * of `ids` starts as its own label and each round takes the least
    * (`largest`: greatest) of its own and its in-neighbours' along `e`,
    * then pointer-jumps to its label's label, so labels reach the
    * extreme in O(log diameter) rounds instead of O(diameter). Labels
    * move one way, so a round that changes none is the fixpoint.
    *
    * @return (id, lab)
    */
  private def labelFixpoint(ids: DataFrame, e: DataFrame,
      largest: Boolean): DataFrame = {
    val pick: (Column, Column) => Column =
      if (largest) greatest(_, _) else least(_, _)
    var lab = ids.select(col("id"), col("id").as("lab"))
      .transform(PathFinder.ckpt)
    var changed = true
    while (changed) {
      // neighbor propagation (one hop)...
      val nbr = lab.join(e, lab("id") === e("src"))
        .select(e("dst").as("id"), col("lab"))
        .groupBy("id")
        .agg((if (largest) max("lab") else min("lab")).as("nl"))
      val step1 = lab.join(nbr, Seq("id"), "left_outer")
        .select(col("id"), pick(col("lab"), coalesce(col("nl"), col("lab")))
          .as("lab"))
      // ...then pointer jumping (label := label's label)
      val ptr = step1.select(col("id").as("pid"), col("lab").as("pl"))
      val next = step1.join(ptr, step1("lab") === ptr("pid"), "left_outer")
        .select(step1("id"),
          pick(step1("lab"), coalesce(col("pl"), step1("lab"))).as("lab"))
        .transform(PathFinder.ckpt)
      changed = !next
        .join(lab.select(col("id"), col("lab").as("prev")), Seq("id"))
        .filter(col("lab") =!= col("prev")).isEmpty
      lab = next
    }
    lab
  }

  /** Strongly connected components over the DIRECTED edge set (beyond
    * the reference's surface — WCC is its only component kernel).
    * Component id = canonical minimum member, same convention as
    * [[weaklyConnectedComponents]], so the output is directly
    * SQL-oracle-able via mutual reachability.
    *
    * Distributed strategy, the FW-BW/coloring family:
    *   1. TRIM to fixpoint: peel vertices that cannot lie on a cycle
    *      (no in-edge or no out-edge among the remaining vertices) —
    *      each is its own singleton SCC. Entire DAG-like regions drain
    *      here without running a single fixpoint, which is what bounds
    *      the outer loop for chain-shaped condensations.
    *   2. COLOR to fixpoint: propagate the maximum reaching id along
    *      forward edges, with pointer jumping (color also adopts
    *      color(color(v)) — reachability composes), so labels converge
    *      in O(log diameter) rounds, not O(diameter).
    *   3. CONTAIN: every root r (color(r) = r) is the maximum of its
    *      SCC, and SCC(r) = vertices of color r that reach r — a
    *      backward propagation restricted to the color class. All roots
    *      expand in parallel; found SCCs are removed and the outer loop
    *      repeats on what is left.
    * Every step is a join+agg over narrow (id, label) rows with
    * map-side combine; `localCheckpoint` cuts lineage per round.
    * Small graphs take the iterative-Tarjan array kernel instead
    * ([[LocalKernels.scc]]), size-gated like WCC.
    *
    * @param vertices (id) — output domain
    * @param edges (src, dst) — directed
    * @return (id, component: long)
    */
  def stronglyConnectedComponents(vertices: DataFrame,
      edges: DataFrame): DataFrame = {
    val sp = vertices.sparkSession
    import sp.implicits._
    localGraph(vertices, edges) { g =>
      LocalKernels.scc(g).toSeq.toDF("id", "component")
    }.getOrElse {
      // self-loops never change SCC membership; dedup once up front
      val e0 = loopFree(edges).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val domain = endpointDomain(vertices, e0)
      var remaining = domain.transform(graft.graph.PathFinder.ckpt)
      var e = e0.transform(graft.graph.PathFinder.ckpt)
      var assigned = Seq.empty[(Long, Long)].toDF("id", "root")
      var done = remaining.isEmpty
      while (!done) {
        // 1. TRIM to fixpoint
        var trimming = true
        while (trimming) {
          val core = e.select(col("src").as("id")).distinct()
            .join(e.select(col("dst").as("id")).distinct(), Seq("id"))
          val trimmed = remaining.join(core, Seq("id"), "left_anti")
          if (trimmed.isEmpty) trimming = false
          else {
            assigned = assigned
              .unionAll(trimmed.select(col("id"), col("id").as("root")))
              .transform(graft.graph.PathFinder.ckpt)
            remaining = remaining.join(core, Seq("id"), "left_semi")
              .transform(graft.graph.PathFinder.ckpt)
            e = restrict(e, remaining).transform(graft.graph.PathFinder.ckpt)
          }
        }
        if (remaining.isEmpty) done = true
        else {
          // 2. COLOR: forward max propagation + pointer jumping
          val color = labelFixpoint(remaining, e, largest = true)
            .withColumnRenamed("lab", "color")
          // 3. CONTAIN: backward growth from each root within its color
          var members = color.filter(col("color") === col("id"))
            .select(col("id"), col("id").as("root")).transform(graft.graph.PathFinder.ckpt)
          var growing = true
          while (growing) {
            val grow = e
              .join(members.select(col("id").as("dst"), col("root")),
                Seq("dst"))
              .select(col("src").as("id"), col("root"))
              .join(color, Seq("id"))
              .filter(col("color") === col("root"))
              .select(col("id"), col("root"))
              .join(members, Seq("id"), "left_anti")
              .distinct()
            if (grow.isEmpty) growing = false
            else members = members.unionAll(grow).transform(graft.graph.PathFinder.ckpt)
          }
          assigned = assigned.unionAll(members).transform(graft.graph.PathFinder.ckpt)
          remaining = remaining
            .join(members.select(col("id")), Seq("id"), "left_anti")
            .transform(graft.graph.PathFinder.ckpt)
          e = restrict(e, remaining).transform(graft.graph.PathFinder.ckpt)
          done = remaining.isEmpty
        }
      }
      e0.unpersist()
      // canonicalize: the root is the SCC's max; report the min member
      val canon = assigned.groupBy("root").agg(min("id").as("component"))
      assigned.join(canon, Seq("root"))
        .select(col("id"), col("component"))
        .join(vertices.select(col("id").cast("long").as("id")).distinct(),
          Seq("id"), "left_semi")
    }
  }

  /** The (src, dst) edges of `ed` with both endpoints among the ids of
    * `rem` — the peel step of SCC's trim and k-core. */
  private def restrict(ed: DataFrame, rem: DataFrame): DataFrame = ed
    .join(rem.select(col("id").as("src")), Seq("src"), "left_semi")
    .join(rem.select(col("id").as("dst")), Seq("dst"), "left_semi")
    .select(col("src"), col("dst"))

  /** The (src, dst) edges as long without self-loops, and so without
    * null endpoints (their inequality is null). */
  private def loopFree(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))

  /** Every unordered pair of distinct endpoints once, as long (a < b):
    * the undirected simple edges of label propagation, modularity,
    * k-core and k-truss. */
  private def simplePairs(edges: DataFrame): DataFrame =
    loopFree(edges)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Deduplicated undirected neighbor relation (both directions, self
    * loops dropped) — the domain LCC and triangle counting run over. */
  private def undirectedNbr(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")) // self-loops never count as links
      .distinct()

  /** Degree-ordered (node-iterator++) triangle enumeration: orient every
    * undirected edge from the lower-(degree, id)-ranked endpoint to the
    * higher, enumerate wedges only at each triangle's LOWEST-ranked
    * vertex, and close them against the oriented edge set. Wedge count is
    * Σ d_out(v)² with d_out = O(√m) — a celebrity vertex of degree 10⁶
    * contributes almost no wedges (its edges are oriented INTO it),
    * unlike the naive nbr⋈nbr⋈nbr which is Θ(Σ d²).
    *
    * The undirected relation, the degrees and the oriented edges are
    * cached for the query through [[graft.OpCaches]] (the result is lazy
    * over them), so the harness's per-query release drops them.
    *
    * @return (id, deg, tris) — per-corner triangle counts with the
    *         corner's undirected degree; vertices on no triangle have no
    *         row
    */
  private def cornerTriangles(edges: DataFrame): DataFrame = {
    val nbr = graft.OpCaches.track(undirectedNbr(edges))
    val deg = graft.OpCaches.track(
      nbr.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")))
    val ranked = nbr
      .join(deg.select(col("id").as("src"), col("deg").as("sdeg")),
        Seq("src"))
      .join(deg.select(col("id").as("dst"), col("deg").as("ddeg")),
        Seq("dst"))
    val oriented = graft.OpCaches.track(ranked.filter(
        col("sdeg") < col("ddeg") ||
        (col("sdeg") === col("ddeg") && col("src") < col("dst")))
      .select(col("src"), col("sdeg"), col("dst"), col("ddeg")))
    // wedges (u; a, b) with rank(a) < rank(b), closed iff oriented a→b
    val tris = oriented.as("x").join(oriented.as("y"),
        col("x.src") === col("y.src") &&
        (col("x.ddeg") < col("y.ddeg") ||
          (col("x.ddeg") === col("y.ddeg") && col("x.dst") < col("y.dst"))))
      .select(col("x.src").as("u"), col("x.sdeg").as("udeg"),
        col("x.dst").as("a"), col("x.ddeg").as("adeg"),
        col("y.dst").as("b"), col("y.ddeg").as("bdeg"))
      .join(oriented.as("z").select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"), "left_semi")
    // each triangle found exactly once → credit all three corners
    tris.select(explode(array(
        struct(col("u").as("id"), col("udeg").as("deg")),
        struct(col("a").as("id"), col("adeg").as("deg")),
        struct(col("b").as("id"), col("bdeg").as("deg")))).as("c"))
      .groupBy(col("c.id").as("id"), col("c.deg").as("deg"))
      .agg(count(lit(1)).as("tris"))
  }

  /** Per-vertex triangle participation counts (beyond the reference's
    * surface — it stops at LCC). Same degree-ordered enumeration as
    * [[localClusteringCoefficient]]; global triangle count =
    * Σ triangles / 3.
    *
    * @return (id, triangles: long) — 0 for triangle-free vertices
    */
  def triangleCounts(vertices: DataFrame, edges: DataFrame): DataFrame =
    vertices.select(col("id")).distinct()
      .join(triangleTable(edges), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("tris"), lit(0L)).as("triangles"))

  /** (id, deg, tris) per vertex; a vertex without a row is on no
    * triangle. Under the size gate the parallel in-memory edge-iterator
    * kernel ([[LocalKernels.triangles]], a row for every vertex with ≥1
    * undirected neighbor): intersections beat the wedge-join shuffle by
    * ~10× until the oriented edge set stops fitting driver memory, at
    * which point the degree-ordered wedge join ([[cornerTriangles]],
    * rows only for corners of a triangle) takes over. */
  private def triangleTable(edges: DataFrame): DataFrame = {
    val sp = edges.sparkSession
    import sp.implicits._
    PathFinder.localEdgePairs(edges).map(e =>
      LocalKernels.triangles(Csr(e)).toSeq.toDF("id", "deg", "tris")
    ).getOrElse(cornerTriangles(edges))
  }

  /** Local clustering coefficient — reference semantics
    * (`local_clustering_coefficient.cpp:11-72`): over the *deduplicated
    * undirected* neighbor relation, count directed neighbor→neighbor links
    * and divide by d·(d−1); degree < 2 ⇒ 0.0.
    *
    * @return (id, lcc: double)
    */
  def localClusteringCoefficient(vertices: DataFrame,
      edges: DataFrame): DataFrame =
    // the reference counts directed neighbor→neighbor links on the
    // doubled CSR, i.e. links = 2 · triangles(v)
    vertices.select(col("id")).distinct()
      .join(triangleTable(edges), Seq("id"), "left_outer")
      .select(col("id"),
        when(coalesce(col("deg"), lit(0L)) < 2, lit(0.0))
          .otherwise((col("tris") * 2).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"))
          .as("lcc"))

  /** Harmonic and closeness centrality from BFS distances (beyond the
    * reference's algorithm set): harmonic = Σ_{v reachable} 1/d(u, v)
    * (Marchiori-Latora — well-defined on disconnected graphs), closeness
    * = n_reached / Σ d (0 for vertices reaching nothing). Distances come
    * from the same batched MS-BFS kernel every path query uses
    * ([[PathFinder.bfsDistances]]), so the local/distributed strategy
    * gates apply unchanged.
    *
    * All-pairs exact centrality is O(V·E) however it is computed — at
    * corpus scale pass `seeds` with a vertex SAMPLE (the standard
    * estimator: centrality of the sampled vertices only, each still
    * exact over the full graph).
    *
    * @return (id, n_reached, sum_dist, harmonic, closeness) — one row
    *         per seed vertex (all vertices when `seeds` is None)
    */
  def harmonicCentrality(vertices: DataFrame, edges: DataFrame,
      seeds: Option[DataFrame] = None): DataFrame = {
    val spark = vertices.sparkSession
    val v = vertices.select(col("id")).distinct()
    val src = seeds.getOrElse(v).select(col("id"))
    val dists = PathFinder
      .bfsDistances(spark, edges, src, None)
      .filter(col("dist") > 0)
    val agg = dists.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("n_reached"),
        sum(col("dist")).as("sum_dist"),
        sum(lit(1.0) / col("dist")).as("harmonic"))
    src.distinct()
      .join(agg, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        coalesce(col("sum_dist"), lit(0L)).as("sum_dist"),
        round(coalesce(col("harmonic"), lit(0.0)), 6).as("harmonic"),
        round(when(coalesce(col("sum_dist"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("n_reached").cast("double") /
            col("sum_dist").cast("double")), 6).as("closeness"))
  }

  /** PERSONALIZED PageRank (beyond the reference's algorithm set):
    * teleport AND dangling mass restart at a seed set instead of
    * uniformly — the standard "relevance to these nodes" measure for
    * recommendation and graph feature pipelines. Fixed iteration count
    * so an SQL replay is value-exact; textbook normalization (no
    * phantom-slot quirk — that is [[pageRank]]'s reference-parity
    * concern). Small graphs run on driver arrays under the usual gates.
    * Both branches run [[pageRank]]'s power iteration with the seed
    * vector as the teleport.
    *
    * @return (id, ppr) over vertices ∪ edge endpoints
    */
  def personalizedPageRank(vertices: DataFrame, edges: DataFrame,
      seeds: DataFrame, damping: Double = 0.85,
      iters: Int = 30): DataFrame = {
    val sp = vertices.sparkSession
    import sp.implicits._
    def present(nS: Long): Unit = require(nS > 0, "personalized PageRank " +
      "requires at least one seed vertex present in the graph")
    localGraph(vertices, edges) { g =>
      PathFinder.localVertexIds(seeds).map { seedArr =>
        val seedSet = seedArr.toSet
        val nS = g.ids.count(seedSet.contains)
        present(nS)
        LocalKernels.pageRank(g, Array.range(0, g.n), _ => 1.0,
          g.ids.map(v => if (seedSet.contains(v)) 1.0 / nS else 0.0),
          damping, iters, None, 0).toSeq.toDF("id", "ppr")
      }
    }.flatten.getOrElse {
      val e = rankEdges(edges, lit(1.0))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val domain = endpointDomain(vertices, e)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val sd = seeds.select(col("id").cast("long").as("id")).distinct()
        .join(domain, Seq("id"), "left_semi")
      val nS = sd.count()
      present(nS)
      val ranks = powerIteration(domain
          .join(sd.withColumn("t", lit(1.0 / nS)), Seq("id"), "left_outer")
          .select(col("id"), coalesce(col("t"), lit(0.0)).as("t")),
        e, damping, iters, None, 0)
      domain.unpersist(); e.unpersist()
      ranks.select(col("id"), col("rank").as("ppr"))
    }
  }

  /** WEIGHTED PageRank (beyond the reference's algorithm set):
    * contributions split proportionally to edge weight
    * (rank·w / Σ_out w) instead of uniformly over out-edges — the
    * interaction-strength variant recommendation graphs want.
    * Textbook normalization, fixed iterations (SQL-replayable like
    * [[personalizedPageRank]]); edges with null or non-positive weight
    * are dropped at ingestion on BOTH strategies (the cheapest-path
    * convention); dangling mass (no out-edges or zero out-weight)
    * redistributes uniformly. The same power iteration as [[pageRank]]
    * on both branches, with the edge weight as the slot weight.
    *
    * @return (id, rank) over vertices ∪ edge endpoints
    */
  def weightedPageRank(vertices: DataFrame, edges: DataFrame,
      damping: Double = 0.85, iters: Int = 30): DataFrame = {
    val sp = vertices.sparkSession
    import sp.implicits._
    val e = rankEdges(edges, col("w"))
    // under the gate the collected rows ARE the kernel input
    val local = for {
      ec <- PathFinder.collectUnder(e, PathFinder.localMaxRows(sp))
      ids <- PathFinder.localVertexIds(vertices)
    } yield {
      val g = Csr(ec, ids)
      LocalKernels.pageRank(g, Array.range(0, g.n), g.doubles(2)(_),
        Array.fill(g.n)(1.0 / g.n), damping, iters, None, 0)
        .toSeq.toDF("id", "rank")
    }
    local.getOrElse {
      e.persist(StorageLevel.MEMORY_AND_DISK)
      val domain = endpointDomain(vertices, e)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n = domain.count().toDouble
      val ranks = powerIteration(domain.withColumn("t", lit(1.0 / n)), e,
        damping, iters, None, 0)
      domain.unpersist(); e.unpersist()
      ranks
    }
  }

  /** Bipartite co-occurrence projection (beyond the reference's
    * algorithm set): from (u, v) memberships, the weighted graph on the
    * u-side where weight(a, b) = |{v : (a,v) ∧ (b,v)}| — the
    * co-purchase / co-click / co-author graph-construction step feeding
    * every similarity and community pass downstream.
    *
    * Plan: dedup memberships, triangular blocked self-join on the
    * shared v ([[graft.ops.Dedup.blockedBucketJoin]] — a key's members
    * are row-numbered into blocks of `blockSize`, so per-task candidate
    * work is bounded by blockSize² no matter how hot the key), count
    * per oriented pair (map-side combinable). `maxKeyDegree` is now
    * purely an OUTPUT bound, not a straggler guard: a degree-d key
    * still emits ~d²/2 pairs, so keys above the cap are dropped before
    * the join (the [[graft.ops.Dedup.ngramJaccardPairs]] maxDocFreq
    * precedent: reported weights become lower bounds). The DEFAULT is
    * exact (no cap): task boundedness comes from the blocked join, so
    * the cap is a pure opt-in output bound for callers who would
    * rather drop a degree-d key's ~d²/2 pairs than materialize them
    * (10⁴ bounds a key to ~5·10⁷ pairs). `minWeight` prunes the long
    * tail after counting.
    *
    * Distributed KERNEL branch (round 15, guide §1.2/§2.3): when both
    * id spaces fit 31 bits, the whole distributed plan above is
    * replaced by two exchanges of bare packed longs plus streaming
    * per-partition kernels — hash-partition the raw memberships by v
    * and Tungsten-sort within partitions (the global DISTINCT collapses
    * to a consecutive-dup skip, because every copy of a (u, v) row
    * lands in v's partition), stream each v-group's d(d−1)/2 ordered
    * pairs from a per-group member buffer (memory O(max degree), not
    * O(pairs)), then hash-partition the pair stream by pair and count
    * RUNS of the sorted stream instead of hash-aggregating ~all-unique
    * keys (the r14 plan's hash table held one entry per pair — pure
    * spill pressure at 360M pairs). Exchange volume is identical to the
    * r14 plan's floor (the pair stream itself, NOTES 54); what changes
    * is per-task work: no Catalyst join row machinery, no
    * multi-million-entry aggregation hash maps, no block windows.
    * A hot key's d²/2 pair CPU lands in one task here (the blocked
    * join spread it) — acceptable because the member buffer is only
    * O(d) bytes and a degree so hot that d²/2 pairs straggle is already
    * an infeasible OUTPUT the degree cap exists for. Non-packable ids
    * take the r14 blocked-join plan.
    *
    * @return (id_a, id_b, weight) with id_a < id_b
    */
  def bipartiteProjection(memberships: DataFrame, minWeight: Long = 1L,
      maxKeyDegree: Long = Long.MaxValue, blockSize: Int = 1024): DataFrame = {
    require(minWeight >= 1, s"minWeight must be >= 1 (got $minWeight)")
    require(maxKeyDegree >= 2, s"maxKeyDegree must be >= 2")
    require(blockSize >= 2, s"blockSize must be >= 2 (got $blockSize)")
    val sp2 = memberships.sparkSession
    import sp2.implicits._
    val m0 = memberships.select(col("u").cast("long").as("u"),
        col("v").cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
    // Size-gated local strategy (the LocalKernels doctrine): the pair
    // stream is output-sized — mostly unique pairs, so neither partial
    // aggregation nor any exact prefilter shrinks it before the exchange
    // (NOTES item 54) — which makes the distributed floor ~Σd(d−1)/2
    // packed longs through one full shuffle plus the DISTINCT shuffle
    // that feeds it. When the RAW membership stream fits the driver and
    // both id spaces pack into 31 bits, a parallel in-memory kernel
    // absorbs distinct + degree cap + pair counting into two driver
    // sorts with ZERO exchanges — the strategy DuckDB's in-memory
    // aggregate wins with at the 10× point. Up to min(gate,
    // PathFinder.localMaxArrayRows) rows one gated collect is the
    // kernel's input. Past that a limit probe
    // would haul up to the cap's rows to the driver, re-evaluating the
    // join through CollectLimitExec's incremental job ladder, so ONE
    // aggregate scan (count + id ranges) over a membership frame cached
    // for just this attempt decides, and the packed collect reads the
    // cache. A membership is collected as one packed 8 B long, so that
    // cap is 8 × the session gate (16M at the default gate; sf1's q114,
    // about 6M memberships, keeps the kernel, NOTES item 75). The kernel
    // knows the EXACT pair volume from the degree histogram before
    // committing memory and returns None over its bound (fall through
    // to the distributed branch).
    def fits31(lo: Long, hi: Long): Boolean = lo >= 0L && hi < (1L << 31)
    val gate = PathFinder.localMaxRows(sp2)
    val (packed, streamable) =
      PathFinder.collectUnder(m0,
          math.min(gate, PathFinder.localMaxArrayRows)) match {
        case Some(c) =>
          val (u, v) = (c.longs(0), c.longs(1))
          val ok = c.length == 0 || fits31(u.min, u.max) && fits31(v.min, v.max)
          (Option.when(ok)(Array.tabulate(c.length)(i => v(i) << 32 | u(i))),
            c.length > 0 && ok)
        case None =>
          val m0c = m0.persist(StorageLevel.MEMORY_AND_DISK)
          try {
            val st = m0c.agg(count(lit(1)), min("u"), max("u"), min("v"),
              max("v")).first()
            val ok = fits31(st.getLong(1), st.getLong(2)) &&
              fits31(st.getLong(3), st.getLong(4))
            (Option.when(ok && st.getLong(0) <= 8L * gate)(m0c
                .select(shiftleft(col("v"), 32).bitwiseOR(col("u"))).as[Long]
                .collect()), ok)
          } finally m0c.unpersist(false)
      }
    val local = packed.flatMap(
      LocalKernels.copurchaseCounts(_, minWeight, maxKeyDegree))
    local.map(_.toSeq.toDF("id_a", "id_b", "weight")).getOrElse {
      // distributed KERNEL branch (scaladoc above): two bare packed-long
      // exchanges + streaming per-partition kernels when both id spaces
      // pack into 31 bits. Partition counts stay AQE/conf-derived
      // (repartition without an explicit N), never a local constant.
      if (streamable) {
        val capDeg = maxKeyDegree
        val minW = minWeight
        // pk ≥ 0 (both halves are 31-bit), so arithmetic shiftright on
        // the partitioning expression is the v value
        val byV = m0
          .select(shiftleft(col("v"), 32).bitwiseOR(col("u")).as("pk"))
          .repartition(shiftright(col("pk"), 32))
          .sortWithinPartitions("pk").as[Long]
        val pairs = byV.mapPartitions(it =>
          Algorithms.copurchasePairsStream(it, capDeg))
        pairs.repartition(col("value"))
          .sortWithinPartitions("value")
          .mapPartitions(it => Algorithms.packedRunCounts(it, minW))
          .toDF("id_a", "id_b", "weight")
      } else {
        val m = m0.distinct()
        // with an unbounded cap the hot-key frame is provably empty — skip
        // it, or the anti-join's broadcast side re-evaluates the whole
        // join+distinct pipeline just to find nothing
        val kept = graft.OpCaches.track(
          if (maxKeyDegree == Long.MaxValue) m.select(col("u").as("id"), col("v"))
          else {
            val hot = m.groupBy("v").agg(count(lit(1)).as("__d"))
              .filter(col("__d") > maxKeyDegree).select("v")
            // tracked cache: the dedup + hot-key pipeline feeds both blocked
            // self-join legs; the lazy result can't release it, so the
            // harness does via [[graft.OpCaches.releaseAll]].
            m.join(broadcast(hot), Seq("v"), "left_anti")
              .select(col("u").as("id"), col("v"))
          })
        val idr = kept.agg(min(col("id")).as("lo"), max(col("id")).as("hi"))
          .first()
        val packable = !idr.isNullAt(0) && idr.getLong(0) >= 0L &&
          idr.getLong(1) < (1L << 31)
        val joined = graft.ops.Dedup.blockedBucketJoin(kept, Seq("v"), blockSize)
        // Pair-count aggregation, exchange-shaped for an output-sized pair
        // stream: most generated pairs are UNIQUE, so a plain groupBy's
        // map-side partial aggregation builds multi-million-entry hash
        // tables that shrink ~nothing before the exchange — pure overhead
        // ahead of a full-volume shuffle. Repartition FIRST on the pair key
        // and aggregate once after the exchange; when both ids fit in 31
        // bits (probed on the cached frame) the pair packs into ONE long, so
        // the exchange carries bare 8-byte keys and the aggregation hashes
        // primitives. Measured at the 10× point: 13.3 s (SMJ + 2-col
        // groupBy) → ~6-8 s.
        val counted =
          if (packable)
            joined.select(shiftleft(col("x.id"), 32)
                .bitwiseOR(col("y.id")).as("__pk"))
              .repartition(col("__pk"))
              .groupBy("__pk").agg(count(lit(1)).as("weight"))
              .select(shiftright(col("__pk"), 32).as("id_a"),
                col("__pk").bitwiseAND(lit(0xffffffffL)).as("id_b"),
                col("weight"))
          else
            joined.select(col("x.id").as("id_a"), col("y.id").as("id_b"))
              .repartition(col("id_a"), col("id_b"))
              .groupBy("id_a", "id_b").agg(count(lit(1)).as("weight"))
        counted.filter(col("weight") >= minWeight)
      }
    }
  }

  /** Streaming pair emission over a v-sorted packed `(v<<32 | u)`
    * iterator — the per-partition generation kernel of
    * [[bipartiteProjection]]'s distributed branch. Consecutive-dup skip
    * IS the global DISTINCT (every copy of a (u, v) row hash-lands in
    * v's partition); groups over the degree cap drop wholesale (the
    * operator's output-bound semantics); each surviving group's
    * d(d−1)/2 ordered pairs (a < b — members ascend within a group)
    * stream lazily from an O(degree) member buffer. */
  private[graph] def copurchasePairsStream(it: Iterator[Long],
      maxKeyDegree: Long): Iterator[Long] = new Iterator[Long] {
    private var members = new Array[Long](64)
    private var m = 0
    private var i = 0
    private var j = 1
    private var pending = 0L
    private var hasPending = false

    private def append(u: Long): Unit = {
      if (m == members.length)
        members = java.util.Arrays.copyOf(members, m << 1)
      members(m) = u
      m += 1
    }

    private def readGroup(): Unit = {
      var cur = if (hasPending) pending else it.next()
      hasPending = false
      val v = cur >>> 32
      m = 0
      append(cur & 0xffffffffL)
      var done = false
      while (!done && it.hasNext) {
        val x = it.next()
        if ((x >>> 32) == v) {
          if (x != cur) { append(x & 0xffffffffL); cur = x }
        } else { pending = x; hasPending = true; done = true }
      }
      if (m.toLong > maxKeyDegree) m = 0 // capped group: drop wholesale
      i = 0
      j = 1
    }

    override def hasNext: Boolean = {
      while (i >= m - 1 && (hasPending || it.hasNext)) readGroup()
      i < m - 1
    }

    override def next(): Long = {
      if (!hasNext) throw new NoSuchElementException("pair stream drained")
      val p = (members(i) << 32) | members(j)
      j += 1
      if (j >= m) { i += 1; j = i + 1 }
      p
    }
  }

  /** Run-length counts over a sorted packed-pair iterator with the
    * minWeight filter applied in-stream — the final aggregation of
    * [[bipartiteProjection]]'s distributed branch without a hash map
    * (the pair stream is ~all-unique keys: a hash aggregate holds one
    * entry per pair, pure spill pressure). O(1) memory. */
  private[graph] def packedRunCounts(it: Iterator[Long], minWeight: Long)
      : Iterator[(Long, Long, Long)] = new Iterator[(Long, Long, Long)] {
    private var pending = 0L
    private var hasPending = false
    private var out: (Long, Long, Long) = _
    private var hasOut = false

    private def advance(): Unit = {
      hasOut = false
      while (!hasOut && (hasPending || it.hasNext)) {
        val p = if (hasPending) pending else it.next()
        hasPending = false
        var c = 1L
        var done = false
        while (!done && it.hasNext) {
          val x = it.next()
          if (x == p) c += 1
          else { pending = x; hasPending = true; done = true }
        }
        if (c >= minWeight) {
          out = (p >>> 32, p & 0xffffffffL, c)
          hasOut = true
        }
      }
    }
    advance()

    override def hasNext: Boolean = hasOut

    override def next(): (Long, Long, Long) = {
      if (!hasOut) throw new NoSuchElementException("run stream drained")
      val r = out
      advance()
      r
    }
  }

  /** Link-prediction scores (beyond the reference's algorithm set): for
    * every vertex pair sharing at least one undirected neighbor, the
    * three standard topology features — common-neighbor count, Jaccard
    * of the neighborhoods, and Adamic–Adar (Σ 1/ln deg(c) over common
    * neighbors c; a common neighbor always has degree ≥ 2, so ln never
    * vanishes) — plus an `is_edge` flag so candidate generation and
    * evaluation both read off one frame.
    *
    * Plan: ONE wedge join over the undirected simple neighbor relation
    * (a pair is generated once per shared neighbor and aggregated
    * map-side), degrees broadcast back onto the pair set; pairs with
    * no shared neighbor never materialize (score 0 by absence). Hub
    * contract: the wedge join runs as a triangular BLOCKED bucket join
    * on the shared-neighbor key ([[graft.ops.Dedup.blockedBucketJoin]],
    * per-task candidates ≤ blockSize² regardless of hub degree), and
    * `maxDegree` is an opt-in OUTPUT bound — the DEFAULT is exact. A
    * degree-d wedge center fans ~d²/2 pairs; callers who would rather
    * drop that mass than materialize it set a cap, and pairs whose
    * only shared neighbors are over-cap hubs then read as lower bounds
    * (the pair is absent); Adamic–Adar already weights a hub center by
    * 1/ln d, so the omitted mass is the least informative. Jaccard
    * denominators keep FULL degrees (hub neighbors still count toward
    * |N(a) ∪ N(b)|).
    *
    * @return (id_a, id_b, common_neighbors, jaccard, adamic_adar,
    *         is_edge) with id_a < id_b
    */
  def linkPredictionScores(edges: DataFrame, maxDegree: Long = Long.MaxValue,
      blockSize: Int = 1024): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2 (got $maxDegree)")
    require(blockSize >= 2, s"blockSize must be >= 2 (got $blockSize)")
    // the standard family size gate (kTruss/betweenness pattern): small
    // graphs answer from the driver kernel instead of paying the blocked
    // wedge join's 4+ exchanges (measured 1.6-1.9 s FLAT on a 25-vertex
    // graph at every sf — pure stage floor, not compute)
    val sp = edges.sparkSession
    import sp.implicits._
    PathFinder.localEdgePairs(edges).map { e =>
      LocalKernels.linkPredictionScores(Csr(e), maxDegree).toSeq
        .toDF("id_a", "id_b", "common_neighbors", "jaccard",
          "adamic_adar", "is_edge")
    }.getOrElse {
      // ONE definition of "undirected simple neighbors" shared with the
      // triangle/LCC family; a tracked cache because four consumers read
      // it (degrees, both wedge sides, the is_edge flag) and the lazy
      // result cannot release it — the harness does, via
      // [[graft.OpCaches.releaseAll]] (Verify/Bench call it per query).
      val nbr0 = graft.OpCaches.track(undirectedNbr(edges
          .select(col("src").cast("long").as("src"),
            col("dst").cast("long").as("dst"))))
      val nbr = nbr0.select(col("src").as("v"), col("dst").as("n"))
      val deg = nbr.groupBy(col("v")).agg(count(lit(1)).as("deg"))
      val wedgeIn = nbr
        .join(deg.filter(col("deg") <= maxDegree)
          .select(col("v").as("n"), col("deg").as("cdeg")), Seq("n"))
        .select(col("v").as("id"), col("n"), col("cdeg"))
      // repartition-first: the wedge stream is output-sized (mostly unique
      // pairs — the bipartiteProjection argument), so exchange the narrow
      // (id_a, id_b, cdeg) rows and aggregate once after, instead of a
      // no-shrink map-side partial aggregation ahead of the same shuffle
      val pairs = graft.ops.Dedup.blockedBucketJoin(wedgeIn, Seq("n"),
          blockSize)
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
          col("x.cdeg").as("__cdeg"))
        .repartition(col("id_a"), col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("common_neighbors"),
          sum(lit(1.0) / log(col("__cdeg").cast("double"))).as("__aa"))
      val out = pairs
        .join(deg.select(col("v").as("id_a"), col("deg").as("__da")),
          Seq("id_a"))
        .join(deg.select(col("v").as("id_b"), col("deg").as("__db")),
          Seq("id_b"))
        .join(nbr0.filter(col("src") < col("dst"))
          .select(col("src").as("id_a"), col("dst").as("id_b"),
            lit(true).as("__e")), Seq("id_a", "id_b"), "left_outer")
        .select(col("id_a"), col("id_b"), col("common_neighbors"),
          round(col("common_neighbors").cast("double") /
            (col("__da") + col("__db") - col("common_neighbors"))
              .cast("double"), 6).as("jaccard"),
          round(col("__aa"), 6).as("adamic_adar"),
          coalesce(col("__e"), lit(false)).as("is_edge"))
      out
    }
  }

  /** k-TRUSS (beyond the reference's algorithm set): the maximal
    * subgraph where every EDGE closes at least k−2 triangles — the
    * edge-level dense-region extractor one notch above [[kCore]]
    * (degree survives a star; triangle support does not). Peel rounds:
    * recompute per-edge support from the surviving edge set, drop
    * under-supported edges, repeat to fixpoint.
    *
    * At scale each round is one wedge join over the surviving
    * undirected edges (common-neighbor counts grouped per edge) plus a
    * semi-join filter, checkpointed per round; rounds = peel depth. A
    * hub vertex fans its wedge enumeration across the cluster like the
    * triangle family; the same degree-orientation trick applies if a
    * single hub ever dominates. Small graphs run the driver peel under
    * the usual gates.
    *
    * @return surviving edges, normalized (src < dst)
    */
  def kTruss(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3 (got $k)")
    val sp = edges.sparkSession
    import sp.implicits._
    PathFinder.localEdgePairs(edges).map { e =>
      LocalKernels.kTruss(Csr(e), k).toSeq.toDF("src", "dst")
    }.getOrElse {
      val need = k - 2
      var cur = simplePairs(edges).transform(PathFinder.ckpt)
      var changed = true
      while (changed) {
        val und = cur.select(col("a").as("u"), col("b").as("v"))
          .union(cur.select(col("b").as("u"), col("a").as("v")))
        val sup = cur.as("e")
          .join(und.as("x"), col("x.u") === col("e.a"))
          .join(und.as("y"), col("y.u") === col("e.b") &&
            col("y.v") === col("x.v"))
          .groupBy(col("e.a").as("a"), col("e.b").as("b"))
          .agg(count(lit(1)).as("sup"))
        val next = PathFinder.ckpt(
          sup.filter(col("sup") >= need).select("a", "b"))
        // limit-probe the drop instead of counting both sides fully
        changed = !cur.join(next, Seq("a", "b"), "left_anti")
          .limit(1).isEmpty
        cur = next
      }
      cur.select(col("a").as("src"), col("b").as("dst"))
    }
  }

  /** Earliest-arrival TEMPORAL reachability (beyond the reference's
    * algorithm set): over a temporal edge set (src, dst, ts), a path is
    * valid only if edge times never decrease — who could information
    * from a seed actually have REACHED, and when. Static reachability
    * (q13) over-reports: an edge that fired before the information
    * arrived cannot carry it. Arrival after traversing (a, b, t) is t;
    * earliest arrival minimizes over temporal paths of ≤ `maxHops`
    * edges.
    *
    * At scale each round is one frontier-edge join (ts ≥ arrival as a
    * residual on the equi-key) + a min aggregation + an improvement
    * anti-check against the running best — label-correcting
    * Bellman-Ford, rounds = maxHops or until no label improves.
    * Frontier-only relaxation is sound: an earlier arrival admits a
    * superset of a later arrival's continuations. Small graphs run the
    * driver kernel under the usual gates.
    *
    * @return (src, dst, arrival) for every seed-reached vertex (self
    *         rows excluded)
    */
  def earliestArrival(edges: DataFrame, seeds: DataFrame, startTs: Long,
      maxHops: Int = 16): DataFrame =
    earliestArrivalImpl(edges, seeds, Some(startTs), maxHops)

  /** [[earliestArrival]] with `startTs = min(ts)` over the usable edges,
    * derived INSIDE the strategy branches — the caller's separate
    * `agg(min).head()` was one more full evaluation of the (often
    * parse-heavy) temporal edge view before the kernel's own probe and
    * collect. Result-identical to `earliestArrival(e, s, minTs)` for the
    * global minimum over ANY superset of the usable edges: every arrival
    * value in the output is an edge timestamp (never `startTs` itself),
    * and any start ≤ min(usable ts) admits exactly the same first-hop
    * edges, hence the same temporal chains. */
  def earliestArrivalFromMin(edges: DataFrame, seeds: DataFrame,
      maxHops: Int = 16): DataFrame =
    earliestArrivalImpl(edges, seeds, None, maxHops)

  private def earliestArrivalImpl(edges: DataFrame, seeds: DataFrame,
      startTsOpt: Option[Long], maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 128,
      s"maxHops must be in [1, 128] (got $maxHops)")
    val sp = edges.sparkSession
    import sp.implicits._
    val clean = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("ts").cast("long").as("ts"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("ts").isNotNull)
    // under the gate the collected rows ARE the kernel input
    val local = for {
      ec <- PathFinder.collectUnder(clean, PathFinder.localMaxRows(sp))
      sArr <- PathFinder.localVertexIds(seeds)
    } yield {
      val ts = ec.longs(2)
      val start = startTsOpt.getOrElse(if (ts.isEmpty) 0L else ts.min)
      LocalKernels.earliestArrival(Csr(ec, sArr), sArr, start, maxHops)
        .toSeq.toDF("src", "dst", "arrival")
    }
    local.getOrElse {
      val startTs = startTsOpt.getOrElse {
        val minRow = clean.agg(min("ts")).head()
        if (minRow.isNullAt(0)) 0L else minRow.getLong(0)
      }
      val e = clean.persist(StorageLevel.MEMORY_AND_DISK)
      var arr = seeds.select(col("id").cast("long").as("s")).distinct()
        .select(col("s"), col("s").as("v"), lit(startTs).as("arr"))
        .transform(PathFinder.ckpt)
      var frontier = arr
      var hop = 0
      var done = frontier.isEmpty
      while (hop < maxHops && !done) {
        val relax = frontier.join(e,
            col("v") === e("src") && e("ts") >= col("arr"))
          .select(col("s"), e("dst").as("v"), e("ts").as("arr2"))
          .groupBy("s", "v").agg(min("arr2").as("arr2"))
        val improved = relax
          .join(arr.withColumnRenamed("arr", "__old"), Seq("s", "v"),
            "left_outer")
          .filter(col("__old").isNull || col("arr2") < col("__old"))
          .select(col("s"), col("v"), col("arr2").as("arr"))
          .transform(PathFinder.ckpt)
        if (improved.isEmpty) done = true
        else {
          arr = PathFinder.ckpt(arr.union(improved)
            .groupBy("s", "v").agg(min("arr").as("arr")))
          frontier = improved
        }
        hop += 1
      }
      e.unpersist()
      arr.filter(col("v") =!= col("s"))
        .select(col("s").as("src"), col("v").as("dst"),
          col("arr").as("arrival"))
    }
  }

  /** Betweenness centrality (beyond the reference's algorithm set): the
    * fraction of all-pairs shortest paths passing THROUGH each vertex —
    * the brokerage measure harmonic/closeness (q97) cannot see. Exact
    * directed Brandes over the simple digraph; `sources` restricts the
    * outer sum to a seed sample (the standard estimator at corpus scale
    * — partial sums, unscaled).
    *
    * Small graphs run driver Brandes under the usual gates. At scale:
    * a batched forward BFS carrying per-(source, vertex) shortest-path
    * COUNTS (one frontier-edge join + sigma sum per level), then the
    * dependency sweep runs the same levels in reverse (one join of each
    * level against its successor level per step). Rounds = 2 × diameter,
    * each a hash join the planner can shuffle freely — never a per-pair
    * path enumeration.
    *
    * @return (id, betweenness) over vertices ∪ edge endpoints
    */
  def betweennessCentrality(vertices: DataFrame, edges: DataFrame,
      sources: Option[DataFrame] = None): DataFrame = {
    val sp = vertices.sparkSession
    import sp.implicits._
    localGraph(vertices, edges) { g =>
      sources.fold(Option(g.extra.map(g.ids(_))))(PathFinder.localVertexIds)
        .map(sArr => LocalKernels.betweenness(g, sArr)
          .toSeq.toDF("id", "betweenness"))
    }.flatten.getOrElse {
      val srcDf = sources.getOrElse(vertices)
        .select(col("id").cast("long").as("id")).distinct()
      val e = loopFree(edges).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      // ckpt'd: the final result joins domain AFTER e.unpersist() — an
      // un-materialized domain would re-run the edge cleaning pipeline
      val domain = PathFinder.ckpt(endpointDomain(vertices, e))
      val srcs = srcDf.join(domain, Seq("id"), "left_semi")
      // forward: batched BFS carrying sigma (shortest-path counts)
      var frontier = srcs
        .select(col("id").as("s"), col("id").as("v"), lit(1.0).as("sigma"))
        .transform(PathFinder.ckpt)
      var acc = frontier.withColumn("dist", lit(0)).transform(PathFinder.ckpt)
      var maxLev = 0
      var done = frontier.isEmpty
      while (!done) {
        val nxt = frontier.join(e, col("v") === e("src"))
          .select(col("s"), e("dst").as("v"), col("sigma"))
          .groupBy("s", "v").agg(sum("sigma").as("sigma"))
          .join(acc.select("s", "v"), Seq("s", "v"), "left_anti")
          .transform(PathFinder.ckpt)
        if (nxt.isEmpty) done = true
        else {
          maxLev += 1
          acc = PathFinder.ckpt(acc.union(nxt.withColumn("dist", lit(maxLev))))
          frontier = nxt
        }
      }
      // backward: dependency sweep level by level (δ of level l needs only
      // level l+1 — the Brandes DAG edges are exactly dist(w) = dist(v)+1)
      var withDelta = acc.filter(col("dist") === maxLev)
        .withColumn("delta", lit(0.0))
        .transform(PathFinder.ckpt)
      for (l <- (maxLev - 1) to 0 by -1) {
        val cur = acc.filter(col("dist") === l)
        val nextLev = withDelta.filter(col("dist") === l + 1)
          .select(col("s").as("ws"), col("v").as("w"),
            col("sigma").as("wsigma"), col("delta").as("wdelta"))
        val contrib = cur.join(e, col("v") === e("src"))
          .join(nextLev, col("s") === col("ws") && e("dst") === col("w"))
          .select(col("s"), col("v"),
            (col("sigma") / col("wsigma") * (lit(1.0) + col("wdelta"))).as("c"))
          .groupBy("s", "v").agg(sum("c").as("delta"))
        val curD = cur.join(contrib, Seq("s", "v"), "left_outer")
          .select(col("s"), col("v"), col("sigma"), col("dist"),
            coalesce(col("delta"), lit(0.0)).as("delta"))
        withDelta = PathFinder.ckpt(withDelta.union(curD))
      }
      val out = withDelta.filter(col("v") =!= col("s"))
        .groupBy(col("v").as("id")).agg(sum("delta").as("b"))
      val res = domain.join(out, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("b"), lit(0.0)).as("betweenness"))
      e.unpersist()
      res
    }
  }

  /** Synchronous label-propagation communities (beyond the reference's
    * algorithm set): every vertex starts as its own label and each round
    * adopts the most frequent label among its UNDIRECTED simple
    * neighbors, ties to the smallest label; isolated vertices keep
    * their own. Fixed round count and deterministic tie-break, so an
    * SQL replay is value-exact (communities are NOT components: a dense
    * cluster holds its majority label against a single bridge edge,
    * where WCC would merge straight across).
    *
    * At scale it runs the vote loop it shares with
    * [[weightedLabelPropagation]]; small graphs run the driver kernel
    * under the usual gates.
    *
    * @return (id, community) over vertices ∪ edge endpoints
    */
  def labelPropagation(vertices: DataFrame, edges: DataFrame,
      rounds: Int = 6): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0 (got $rounds)")
    val sp = vertices.sparkSession
    import sp.implicits._
    localGraph(vertices, edges) { g =>
      LocalKernels.labelPropagation(g, rounds)
        .toSeq.toDF("id", "community")
    }.getOrElse {
      // its distinct undirected pairs, one vote each: round(Σ 1.0, 9)
      // of integer counts ranks like the count
      propagateLabels(vertices, simplePairs(edges).withColumn("w", lit(1.0)),
        rounds)
    }
  }

  /** Weighted synchronous label propagation (beyond the reference's
    * algorithm set): [[labelPropagation]] with votes weighted by edge
    * strength — each round a vertex adopts the label maximizing
    * Σ W(v, n) over neighbors n carrying that label, ties to the
    * smallest label; isolated vertices keep their own. The undirected
    * pair weight W(a, b) is the SUM of `w` over every input row between
    * a and b in either direction (parallel edges reinforce); null/≤0
    * weights drop at ingestion (the [[weightedPageRank]] /
    * cheapest-path convention), self-loops never vote. Fixed round
    * count, and vote totals round to 9 decimals BEFORE ranking (the
    * weighted-reservoir float discipline — integer-valued weights make
    * the comparison exact on any engine), so an SQL replay is
    * value-exact.
    *
    * At scale it runs the vote loop it shares with [[labelPropagation]]
    * over the summed pairs; small graphs run the driver kernel under the
    * usual gates.
    *
    * @return (id, community) over vertices ∪ edge endpoints
    */
  def weightedLabelPropagation(vertices: DataFrame, edges: DataFrame,
      rounds: Int = 6): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0 (got $rounds)")
    val sp = vertices.sparkSession
    import sp.implicits._
    val clean = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("double").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull && col("w") > 0 && col("src") =!= col("dst"))
    val und = clean
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .groupBy("a", "b").agg(sum("w").as("w"))
    // gate und — the frame the kernel actually consumes: gating
    // |und| ≤ the edge gate is more permissive than |clean| but equally
    // bounded, and both strategies agree by the kernel-consistency contract
    val local = for {
      uc <- PathFinder.collectUnder(und, PathFinder.localMaxRows(sp))
      ids <- PathFinder.localVertexIds(vertices)
    } yield {
      // both orientations of every unordered pair
      val (a, b, w) = (uc.longs(0), uc.longs(1), uc.doubles(2))
      val both = new PathFinder.Columns(2 * uc.length,
        Array(a ++ b, b ++ a, w ++ w))
      LocalKernels.weightedLabelPropagation(Csr(both, ids), rounds)
        .toSeq.toDF("id", "community")
    }
    local.getOrElse(propagateLabels(vertices, und, rounds))
  }

  /** The distributed vote loop of both label propagations: `rounds`
    * synchronous rounds over the undirected pairs `und` (a, b, w), in
    * which every vertex adopts the label maximizing `round(Σ w, 9)` over
    * its neighbours carrying it, ties to the smallest label; isolated
    * vertices keep their own. Each round is one label-to-neighbor join
    * plus two aggregations — per-(vertex, label) sums combine map-side,
    * so a hub's fan-in never concentrates in one task.
    *
    * @return (id, community) over vertices ∪ pair endpoints
    */
  private def propagateLabels(vertices: DataFrame, und: DataFrame,
      rounds: Int): DataFrame = {
    val nbr = und.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .union(und.select(col("b").as("src"), col("a").as("dst"), col("w")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val domain = vertices.select(col("id").cast("long").as("id"))
      .union(nbr.select(col("src").as("id")))
      .distinct()
    var lab = domain.withColumn("lab", col("id"))
      .transform(PathFinder.ckpt)
    for (_ <- 1 to rounds) {
      val msgs = nbr.join(lab, nbr("src") === lab("id"))
        .select(nbr("dst").as("id"), col("lab"), nbr("w"))
      val pick = msgs.groupBy("id", "lab")
        .agg(round(sum("w"), 9).as("wv"))
        .groupBy("id")
        .agg(min(struct((-col("wv")).as("nw"), col("lab"))).as("__m"))
        .select(col("id"), col("__m.lab").as("__new"))
      lab = lab.join(pick, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("__new"), col("lab")).as("lab"))
        .transform(PathFinder.ckpt)
    }
    nbr.unpersist()
    lab.select(col("id"), col("lab").as("community"))
  }

  /** Newman–Girvan modularity of a community assignment (beyond the
    * reference's algorithm set) — the quality score every community
    * pass ([[labelPropagation]], [[weightedLabelPropagation]], WCC cuts)
    * is judged by: per community c over the undirected SIMPLE graph,
    * `contribution(c) = e_c/m − (d_c/(2m))²` where m = |simple
    * undirected edges|, e_c = intra-community edges and d_c = Σ member
    * degrees; Q = Σ contributions (the trivial one-community assignment
    * scores exactly 0). Self-loops and duplicate/reverse edge rows
    * collapse in the dedup; vertices carry the community table's
    * assignment (edges whose endpoint has no assignment are not
    * counted into any e_c).
    *
    * Scale shape: one dedup of the edge set (tracked cache — it feeds
    * the scalar m, the degree aggregation, and the intra-edge join),
    * then two map-side-combinable aggregations and one broadcast-sized
    * join per community stat; m is the only driver scalar.
    *
    * @return (community, internal_edges, degree_sum, contribution)
    */
  def modularity(edges: DataFrame, communities: DataFrame): DataFrame = {
    val und = graft.OpCaches.track(simplePairs(edges))
    val m = und.count().toDouble
    require(m > 0, "modularity needs at least one undirected simple edge")
    val degs = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val lc = communities.select(col("id").cast("long").as("id"),
      col("community").cast("long").as("community"))
    val ec = und
      .join(lc.select(col("id").as("a"), col("community").as("__ca")),
        Seq("a"))
      .join(lc.select(col("id").as("b"), col("community").as("__cb")),
        Seq("b"))
      .filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    val dc = lc.join(degs, Seq("id"), "left_outer")
      .groupBy("community")
      .agg(sum(coalesce(col("deg"), lit(0L))).as("degree_sum"))
    dc.join(ec, Seq("community"), "left_outer")
      .select(col("community"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("degree_sum"),
        round(coalesce(col("internal_edges"), lit(0L)).cast("double") /
            lit(m) -
          pow(col("degree_sum").cast("double") / lit(2.0 * m), 2), 6)
          .as("contribution"))
  }

  /** Deterministic "random" walks (beyond the reference's algorithm
    * set): the DeepWalk/node2vec sampling pass of a graph-embedding
    * pipeline, with the randomness replaced by a portable hash so every
    * engine replays the identical walks — step t of walk (start, r)
    * moves to the out-neighbor d minimizing `md5('start:r:t:d')`
    * (uniform over neighbors, independent across walks/steps for
    * md5's purposes). A vertex with no out-neighbors halts its walk in
    * place.
    *
    * Small graphs run on driver arrays under the usual gates; at scale
    * each step is ONE equi-join of the walk frontier against the edge
    * table plus a min-struct aggregation per walk — walk state is
    * O(#walks · current length), never per-candidate, and a hub vertex
    * fans out only into the aggregation's map-side combine.
    *
    * @return (start, r, cur, path) — final vertex and full vertex path
    */
  def deterministicWalks(starts: DataFrame, edges: DataFrame,
      walksPerStart: Int = 1, steps: Int = 8): DataFrame = {
    require(walksPerStart >= 1, s"walksPerStart must be >= 1")
    require(steps >= 0, s"steps must be >= 0")
    val sp = starts.sparkSession
    import sp.implicits._
    val local = for {
      e <- PathFinder.localEdgePairs(edges)
      sArr <- PathFinder.localVertexIds(starts)
    } yield LocalKernels.deterministicWalks(Csr(e, sArr), sArr, walksPerStart,
      steps)
      .toSeq.toDF("start", "r", "cur", "path")
    local.getOrElse {
      // null endpoints and starts are dropped, as the local collects do
      val e = edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull)
        .persist(StorageLevel.MEMORY_AND_DISK)
      var w = PathFinder.dropNullIds(starts)
        .select(col("id").cast("long").as("start")).distinct()
        .crossJoin(sp.range(walksPerStart).select(col("id").cast("int").as("r")))
        .select(col("start"), col("r"), col("start").as("cur"),
          array(col("start")).as("path"))
        .transform(PathFinder.ckpt)
      for (t <- 1 to steps) {
        w = w.join(e, col("cur") === e("src"), "left_outer")
          .withColumn("__h", md5(concat_ws(":",
            col("start"), col("r"), lit(t), e("dst"))))
          .groupBy("start", "r", "cur", "path")
          .agg(min(struct(col("__h"), col("dst"))).as("__m"))
          .select(col("start"), col("r"),
            coalesce(col("__m.dst"), col("cur")).as("cur"),
            when(col("__m.dst").isNull, col("path"))
              .otherwise(concat(col("path"), array(col("__m.dst")))).as("path"))
          .transform(PathFinder.ckpt)
      }
      e.unpersist()
      w
    }
  }

  /** Fixed-k CORE membership (beyond the reference's algorithm set):
    * the k-core is the maximal subgraph in which every vertex has
    * UNDIRECTED simple degree ≥ k — the standard dense-region extractor
    * (spam rings, tightly-coupled entity clusters) that plain degree
    * filters miss because degrees must hold AFTER the sparse fringe is
    * removed.
    *
    * Small graphs run the O(V+E) queue peel on the driver
    * ([[LocalKernels.kCore]], the usual size gates); at scale the peel
    * is the SCC-style restrict loop — each round semi-joins edges to
    * the survivor set, recomputes degrees, and drops sub-k vertices,
    * checkpointing per round so lineage stays flat. Rounds needed =
    * peel DEPTH (how many removal waves cascade), not vertex count;
    * real graphs converge in a handful.
    *
    * @return (id, in_core) over vertices ∪ edge endpoints
    */
  def kCore(vertices: DataFrame, edges: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive (got $k)")
    val sp = vertices.sparkSession
    import sp.implicits._
    localGraph(vertices, edges) { g =>
      LocalKernels.kCore(g, k).toSeq.toDF("id", "in_core")
    }.getOrElse {
      // undirected simple view (canonical pair per edge, then both
      // orientations for degree counting)
      val pairs = simplePairs(edges)
      val und = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // checkpoint the domain itself: the final membership join reads it
      // AFTER und.unpersist(), and an un-truncated lineage would re-derive
      // the whole canonical-pair distinct from the raw edge scan
      val domain = vertices.select(col("id").cast("long").as("id"))
        .union(und.select(col("src").as("id")))
        .distinct()
        .transform(PathFinder.ckpt)
      var rem = domain
      var remCount = rem.count()
      var e = und
      var changed = remCount > 0
      while (changed) {
        val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
        val keep = rem.join(deg, Seq("id"), "left_outer")
          .filter(coalesce(col("d"), lit(0L)) >= k)
          .select(col("id"))
          .transform(PathFinder.ckpt)
        val n = keep.count()
        if (n == remCount) changed = false
        else {
          rem = keep
          remCount = n
          e = restrict(e, rem).transform(PathFinder.ckpt)
          changed = remCount > 0
        }
      }
      und.unpersist()
      domain
        .join(rem.select(col("id"), lit(true).as("__in")), Seq("id"),
          "left_outer")
        .select(col("id"), coalesce(col("__in"), lit(false)).as("in_core"))
    }
  }

  // ---- table-function sugar over a registered property graph (reference
  // `src/core/functions/table/{pagerank,weakly_connected_component,
  // local_clustering_coefficient}.cpp` scaffold) ----

  private def graphOf(spark: SparkSession, pg: PropertyGraph,
      resolver: TableResolver, vLabel: String, eLabel: String)
      : (DataFrame, DataFrame, String) = {
    val vt = pg.vertexLabel(vLabel)
    val et = pg.edgeLabel(eLabel)
    val key = vt.keyCols.head
    val v = resolver(spark, vt.tableName)
      .select(col(key).cast("long").as("id"))
    // reference parity: duplicate vertex keys break the dense CSR mapping
    // (csr_creation.cpp:121-125; non-unique-vertices.test:83 errors on
    // weakly_connected_component too)
    if (v.groupBy("id").agg(count(lit(1)).as("__c"))
        .filter(col("__c") > 1).limit(1).count() > 0)
      throw graft.model.GraphAnalysisException(
        "Non-existent/non-unique vertices detected. Make sure all " +
          "vertices referred by edge tables exist and are unique")
    // reference parity: the table functions build their CSR from a
    // sum(create_csr_vertex(...)) subquery that yields NULL over an empty
    // edge table, so the per-vertex scalar errors "CSR not found" — but
    // ONLY when it evaluates on at least one vertex row; an empty vertex
    // table short-circuits to an empty result first
    // (local_clustering_coefficient.test:26 vs :47-49)
    if (resolver(spark, et.tableName).limit(1).isEmpty &&
        !v.limit(1).isEmpty)
      throw graft.model.GraphAnalysisException(
        "CSR not found. Is the graph populated?")
    val e = resolver(spark, et.tableName).select(
      col(et.srcKeys.head).cast("long").as("src"),
      col(et.dstKeys.head).cast("long").as("dst"))
    (v, e, key)
  }

  def pagerank(spark: SparkSession, pg: PropertyGraph, resolver: TableResolver,
      vLabel: String, eLabel: String, fixedIter: Option[Int] = None)
      : DataFrame = {
    val (v, e, key) = graphOf(spark, pg, resolver, vLabel, eLabel)
    pageRank(v, e, fixedIter = fixedIter)
      .select(col("id").as(key), col("pagerank"))
  }

  def wcc(spark: SparkSession, pg: PropertyGraph, resolver: TableResolver,
      vLabel: String, eLabel: String): DataFrame = {
    val (v, e, key) = graphOf(spark, pg, resolver, vLabel, eLabel)
    weaklyConnectedComponents(v, e)
      .select(col("id").as(key), col("component").as("componentId"))
  }

  def lcc(spark: SparkSession, pg: PropertyGraph, resolver: TableResolver,
      vLabel: String, eLabel: String): DataFrame = {
    val (v, e, key) = graphOf(spark, pg, resolver, vLabel, eLabel)
    localClusteringCoefficient(v, e)
      .select(col("id").as(key), col("lcc"))
  }

  def scc(spark: SparkSession, pg: PropertyGraph, resolver: TableResolver,
      vLabel: String, eLabel: String): DataFrame = {
    val (v, e, key) = graphOf(spark, pg, resolver, vLabel, eLabel)
    stronglyConnectedComponents(v, e)
      .select(col("id").as(key), col("component").as("componentId"))
  }

  /** `triangle_counts(pg, v, e)` table function — beyond the reference
    * (which stops at LCC), same scaffold as [[scc]]. */
  def triangles(spark: SparkSession, pg: PropertyGraph,
      resolver: TableResolver, vLabel: String, eLabel: String): DataFrame = {
    val (v, e, key) = graphOf(spark, pg, resolver, vLabel, eLabel)
    triangleCounts(v, e).select(col("id").as(key), col("triangles"))
  }

  /** `k_core(pg, v, e, k)` table function (beyond the reference). */
  def kCoreTf(spark: SparkSession, pg: PropertyGraph,
      resolver: TableResolver, vLabel: String, eLabel: String,
      k: Int): DataFrame = {
    val (v, e, key) = graphOf(spark, pg, resolver, vLabel, eLabel)
    kCore(v, e, k).select(col("id").as(key), col("in_core"))
  }

  /** `harmonic_centrality(pg, v, e)` table function (beyond the
    * reference). */
  def harmonicTf(spark: SparkSession, pg: PropertyGraph,
      resolver: TableResolver, vLabel: String, eLabel: String): DataFrame = {
    val (v, e, key) = graphOf(spark, pg, resolver, vLabel, eLabel)
    harmonicCentrality(v, e)
      .select(col("id").as(key), col("n_reached"), col("sum_dist"),
        col("harmonic"), col("closeness"))
  }

  /** `k_truss(pg, v, e, k)` table function (beyond the reference). */
  def kTrussTf(spark: SparkSession, pg: PropertyGraph,
      resolver: TableResolver, vLabel: String, eLabel: String,
      k: Int): DataFrame = {
    val (_, e, key) = graphOf(spark, pg, resolver, vLabel, eLabel)
    kTruss(e, k).select(col("src").as(s"${key}_a"),
      col("dst").as(s"${key}_b"))
  }

  /** `betweenness_centrality(pg, v, e)` table function (beyond the
    * reference). */
  def betweennessTf(spark: SparkSession, pg: PropertyGraph,
      resolver: TableResolver, vLabel: String, eLabel: String): DataFrame = {
    val (v, e, key) = graphOf(spark, pg, resolver, vLabel, eLabel)
    betweennessCentrality(v, e).select(col("id").as(key), col("betweenness"))
  }

  /** `label_propagation(pg, v, e[, rounds])` table function (beyond the
    * reference). */
  def labelPropagationTf(spark: SparkSession, pg: PropertyGraph,
      resolver: TableResolver, vLabel: String, eLabel: String,
      rounds: Int): DataFrame = {
    val (v, e, key) = graphOf(spark, pg, resolver, vLabel, eLabel)
    labelPropagation(v, e, rounds).select(col("id").as(key), col("community"))
  }

  /** `random_walks(pg, v, e[, walksPerStart[, steps]])` table function
    * (beyond the reference); paths surface as comma-joined vertex-key
    * strings. */
  def walksTf(spark: SparkSession, pg: PropertyGraph,
      resolver: TableResolver, vLabel: String, eLabel: String,
      walksPerStart: Int, steps: Int): DataFrame = {
    val (v, e, key) = graphOf(spark, pg, resolver, vLabel, eLabel)
    deterministicWalks(v.select(col("id")), e, walksPerStart, steps)
      .select(col("start").as(key), col("r").as("walk"),
        col("cur").as("final_vertex"),
        concat_ws(",", transform(col("path"), _.cast("string"))).as("path"))
  }
}
