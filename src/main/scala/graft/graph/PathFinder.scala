package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model.GraphAnalysisException
import graft.pgq.{PathMode, PathPattern, SearchPrefix}

/** Distributed path-finding kernels.
  *
  * The reference implements these as in-process vectorized UDFs over a CSR
  * snapshot — multi-source BFS batched 512 lanes per pass
  * (`src/core/functions/scalar/iterativelength.cpp:34-143`, `LANE_LIMIT`
  * `duckpgq_utils.hpp:10`) and BFS-with-parent-pointers for path
  * reconstruction (`shortest_path.cpp:43-207`). The Spark-native analogue of
  * lane batching is a *single* level-synchronous BFS whose frontier carries
  * ALL source ids at once: one distributed join per level answers every
  * (src, dst) pair simultaneously — the batch width is unbounded instead
  * of 512.
  *
  * Scale posture (100 TB): every step is a shuffle-partitioned join/agg on
  * (src, dst) — no driver-side materialization; `localCheckpoint` cuts
  * lineage each level so plans stay constant-size; frontier dedup
  * (`groupBy` min) is the map-side-combinable analogue of the reference's
  * `seen` bitsets.
  */
object PathFinder {

  /** Strategy gate, a session conf: kernel inputs with at most this many
    * rows (edges, distinct vertex ids) run on the driver-local array
    * kernels ([[LocalKernels]]) — the analogue of the reference's
    * in-memory CSR, correct only because it is size-gated. Bigger inputs
    * take the distributed DataFrame loops; 0 forces every kernel
    * distributed. Read from the INPUT FRAME's session at probe time, so
    * two sessions in one JVM never flip each other's branches. */
  private[graft] val LocalMaxRowsKey = "spark.graft.local.maxRows"

  /** The [[LocalMaxRowsKey]] gate of `spark` (default 2M), clamped to
    * what a `limit(gate + 1)` probe can express. */
  private[graft] def localMaxRows(spark: SparkSession): Long =
    math.max(0L, math.min(Int.MaxValue - 1L,
      spark.conf.get(LocalMaxRowsKey, "2000000").toLong))

  /** Seed cap of the local path kernels. Only read once the edge gate
    * has passed, so `spark.graft.local.maxRows = 0` already forces every
    * seeded kernel distributed. */
  private val localMaxSeeds = 4096L

  /** Lineage-cutting checkpoint used by every iterative kernel:
    * `localCheckpoint` plus the constraint scrub of
    * [[org.apache.spark.sql.graft.CleanCheckpoint]] — the raw checkpoint
    * leaks origin-plan constraints referencing pre-projection attribute
    * ids, which breaks Union constraint rewriting when kernel output is
    * embedded under an outer join (the compiler always does). */
  private[graft] def ckpt(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.CleanCheckpoint.cleanLocalCheckpoint(df)

  /** Collected edge arrays by slot ("raw", "eid", "denseLocal"): the
    * analogue of the reference's per-session CSR reuse (a csr id, once
    * built, serves every subsequent query until delete_csr). Bounded to
    * 3 arrays ≤ the local gate each so the worst case stays a couple
    * hundred MB on a driver sized for local kernels. */
  private[graft] val edgeMemo = new PlanMemo[Array[(Long, Long, Long)]](3)

  /** Canonical plan identity, the [[PlanMemo]] proof: semanticHash's own
    * preimage, so equal strings ⇔ Spark considers the plans
    * semantically equal, plus the data-snapshot token. O(plan-size)
    * render, so [[PlanMemo.Id]] evaluates it only on an index hit or a
    * store.
    *
    * The canonicalized string alone is NOT enough for session-lived
    * memos: Spark compares file relations by their root paths, so a
    * re-read of the same directory after files were appended or
    * overwritten canonicalizes identically and would validate a stale
    * entry (stale collected arrays / id mappings = wrong results, not a
    * perf miss). [[dataSnapshotToken]] folds the LISTED FILES
    * (path, length, mtime) of every file-source leaf into the proof, so
    * the moment Spark's file index sees new data (fresh read or
    * `refreshByPath`) every memo keyed on the plan misses and rebuilds. */
  private[graft] def planIdentity(edges: org.apache.spark.sql.DataFrame)
      : String =
    edges.queryExecution.analyzed.canonicalized.toString +
      "#tok=" + dataSnapshotToken(edges)

  /** Per scan leaf of `df`: Some(files) for a file-source relation, read
    * from its file index's already-materialized listing (the statuses
    * Spark walked to plan the scan — no job), None for any other leaf,
    * a Failure when the index cannot be read. */
  private def leafFiles(df: DataFrame): Seq[scala.util.Try[Option[
      Seq[org.apache.spark.sql.execution.datasources.FileStatusWithMetadata]]]] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FileTable}
    df.queryExecution.analyzed.collectLeaves().map { leaf =>
      scala.util.Try(leaf match {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            Some(fs.location.listFiles(Nil, Nil).flatMap(_.files))
          case _ => None
        }
        case v2: DataSourceV2Relation => v2.table match {
          case ft: FileTable =>
            Some(ft.fileIndex.listFiles(Nil, Nil).flatMap(_.files))
          case _ => None
        }
        case _ => None
      })
    }
  }

  /** Monotonic salt for [[dataSnapshotToken]]'s failure path: a leaf
    * whose file index cannot be read contributes a NEVER-REPEATING value
    * instead of a constant, so a consistently-failing leaf still
    * invalidates (rather than silently re-validating) any memo entry
    * built over it. */
  private val tokenFailSalt = new java.util.concurrent.atomic.AtomicLong(1L)

  /** Order-independent fold of (path, length, modificationTime) over the
    * file listings of every file-source scan leaf — the data-snapshot
    * component of [[planIdentity]]. Non-file leaves (local relations,
    * RDD-backed checkpoints) contribute nothing — their canonicalized
    * form already changes with the data. An unreadable index contributes
    * a fresh [[tokenFailSalt]], so a failure forces a memo miss
    * (rebuild), never a stale hit. */
  private[graft] def dataSnapshotToken(df: org.apache.spark.sql.DataFrame)
      : Long =
    leafFiles(df).map {
      case scala.util.Success(files) =>
        files.fold(0L)(_.map { f =>
          var h = f.getPath.toString.hashCode.toLong * 0x9E3779B97F4A7C15L
          h ^= java.lang.Long.rotateLeft(f.getLen, 17)
          h ^ java.lang.Long.rotateLeft(f.getModificationTime, 41)
        }.sum)
      case scala.util.Failure(_) => tokenFailSalt.incrementAndGet()
    }.sum

  /** Total on-disk bytes behind a frame's file-source scan leaves, or
    * -1 when ANY leaf is not a file relation or cannot be listed (an
    * unknown size must never look small). Same listings
    * [[dataSnapshotToken]] folds — no Spark job. The MATCH compiler's
    * compile-time broadcast-side choice reads this: the decision input
    * is the actual data footprint, so it scales itself out of the way
    * (at 100 TB nothing qualifies). */
  private[graft] def relationFootprintBytes(
      df: org.apache.spark.sql.DataFrame): Long =
    leafFiles(df).foldLeft(0L) {
      case (total, scala.util.Success(Some(files))) if total >= 0 =>
        total + files.map(_.getLen).sum
      case _ => -1L
    }

  /** Exact-ish byte size of a frame whose every leaf is a driver-local
    * relation (the LOCAL kernel branches' output shape), or -1 when any
    * leaf is anything else — a distributed kernel result must never
    * look small. No job: LocalRelation statistics come from the rows
    * already on the driver. */
  private[graft] def localRelationBytes(
      df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    var total = BigInt(0)
    var ok = true
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lp: LocalRelation =>
        try total += lp.stats.sizeInBytes
        catch { case scala.util.control.NonFatal(_) => ok = false }
      case _ => ok = false
    }
    if (ok && total <= Long.MaxValue) total.toLong else -1L
  }

  /** Size-gate verdicts by gate value: the limit-probe executes the
    * (usually uncached) edge-view plan, so on the distributed branch —
    * where no edge-array memo entry ever forms — every query over the
    * same view re-paid the probe scan. The gate is the slot because
    * sessions lower [[LocalMaxRowsKey]] to force branches. */
  private val gateMemo = new PlanMemo[Boolean](8)

  /** Fused size gate + collect: ONE `limit(gate+1)` job answers the gate
    * AND, when under it, IS the memoized edge collect. The previous
    * count-probe evaluated the full edge plan just to learn the verdict,
    * and the under-gate collect then evaluated it AGAIN — 2× the scan on
    * every under-gate first touch (parse-heavy views like the
    * user-interaction graph paid ~0.3-0.5 s twice). An over-gate probe
    * hauls ≤ gate+1 narrow rows to the driver once per view per session
    * (the same bound the local kernels already accept for their collect;
    * with the gate forced to 0 — the forced-distributed posture — the
    * probe is `limit(1)`). Verdicts land in [[gateMemo]], under-gate
    * arrays in [[edgeMemo]]'s usual slot so [[collectEdges]] hits memo. */
  /** Row cap for the FUSED tier of the probe+collect strategy gates: a
    * probe may speculatively haul at most this many narrow rows to the
    * driver. Views bigger than the cap fall back to the legacy
    * count-then-collect shape — without the cap, an OVER-GATE view
    * (sf4's 4M-edge user graph) shipped gate+1 rows to the driver per
    * probe just to learn "distributed", where the count probe ships one
    * long. With the gate at 0 both tiers are `limit(1)`. */
  private[graft] val fusedProbeCap = 262144L

  /** Two-tier fused probe for ANY kernel-input frame: ONE limited
    * collect when the frame is small (Some(rows) IS the complete frame
    * — the common local-twin case), legacy count-then-collect between
    * the fuse cap and the gate, None over the gate with no gate-sized
    * driver haul. */
  private def probeRowsUnderGate(df: DataFrame, gate: Long)
      : Option[Array[org.apache.spark.sql.Row]] = {
    val cap = math.min(fusedProbeCap, gate)
    val head = df.limit(cap.toInt + 1).collect()
    if (head.length <= cap) Some(head)
    else if (cap >= gate) None // cap == gate: over-gate proven
    else {
      // mid-tier (cap < rows ≤ gate): the collect is LIMIT-bounded too,
      // so a nondeterministic frame or a data change between the count
      // and the collect can never haul more than gate+1 rows to the
      // driver — the same hard bound tier 1 has
      val full = df.limit(gate.toInt + 1).collect()
      if (full.length <= gate) Some(full) else None
    }
  }

  /** Row-probe memo for the direct [[probeRowsUnderGate]] callers
    * (weighted PR / wLPA / earliest arrival edge frames,
    * [[probeVertexIds]]): without it, a frame that passes its own gate
    * while the OTHER side's gate then fails re-hauls up to cap+1 rows to
    * the driver on EVERY call. Tier-1 positives (≤ fusedProbeCap rows)
    * and all negative verdicts are memoized; mid-tier positives
    * (cap < rows ≤ gate) are returned uncached — they are too heavy to
    * pin (up to 2M Row objects) and that tier keeps its pre-existing
    * per-call cost. Callers never mutate the shared array (they `.map`
    * it). */
  private val rowProbeMemo =
    new PlanMemo[Option[Array[org.apache.spark.sql.Row]]](4)

  private[graft] def probeRowsUnderGateMemo(df: DataFrame)
      : Option[Array[org.apache.spark.sql.Row]] = {
    val id = PlanMemo.id(df)
    val gate = localMaxRows(df.sparkSession)
    rowProbeMemo.get(id, gate).getOrElse {
      val res = probeRowsUnderGate(df, gate)
      if (res.forall(_.length <= fusedProbeCap))
        rowProbeMemo.put(id, gate, res)
      else res
    }
  }

  private def probeEdgesFused(e: DataFrame, withEid: Boolean)
      : Option[Array[(Long, Long, Long)]] = {
    val id = PlanMemo.id(e)
    val slot = if (withEid) "eid" else "raw"
    val gate = localMaxRows(e.sparkSession)
    // an array memoized under a higher gate must not answer a lower one
    edgeMemo.get(id, slot).filter(_.length <= gate).orElse {
      // only a negative verdict is read back: a positive one whose array
      // was evicted must re-collect anyway
      if (gateMemo.get(id, gate).contains(false)) None
      else {
        val probe = probeRowsUnderGate(
          if (withEid)
            e.select(col("src").cast("long"), col("dst").cast("long"),
              col("eid").cast("long"))
          else e.select(col("src").cast("long"), col("dst").cast("long")),
          gate)
        gateMemo.put(id, gate, probe.isDefined)
        probe.map { rows =>
          edgeMemo.put(id, slot,
            if (withEid)
              rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
            else rows.map(r => (r.getLong(0), r.getLong(1), 0L)))
        }
      }
    }
  }

  private def collectEdges(edges: org.apache.spark.sql.DataFrame,
      withEid: Boolean): Array[(Long, Long, Long)] =
    edgeMemo.getOrBuild(PlanMemo.id(edges), if (withEid) "eid" else "raw") {
      if (withEid)
        edges.select(col("src").cast("long"), col("dst").cast("long"),
          col("eid").cast("long")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      else
        edges.select(col("src").cast("long"), col("dst").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1), 0L))
    }

  /** Memoized (src, dst) collect sharing the kernel memo's "raw" slot —
    * call only under a size gate. */
  private[graph] def collectEdgePairs(edges: org.apache.spark.sql.DataFrame)
      : Array[(Long, Long)] =
    collectEdges(edges, withEid = false).map(t => (t._1, t._2))

  /** THE shared gate+collect for the driver-local kernel family
    * ([[Algorithms]]): one definition so the strategies can't diverge.
    * Null endpoints are dropped BEFORE the probe/collect — the
    * distributed branches drop them implicitly (equi-join semantics)
    * while a local collect would crash on Row.getLong(null) — and the
    * size gate answers from the kernel memo when possible (no job),
    * else the memoized limit-probe. Keying on the CLEANED plan also
    * lets the algorithm family share memo slots with the path kernels,
    * which always collect through [[dropNullEndpoints]].
    *
    * @return Some(pairs) ⇒ run the local kernel on the array;
    *         None ⇒ take the distributed branch */
  private[graft] def localEdgePairs(edges: DataFrame)
      : Option[Array[(Long, Long)]] =
    probeEdgesFused(dropNullEndpoints(edges), withEid = false)
      .map(_.map(t => (t._1, t._2)))

  private def collectSeeds(seeds: org.apache.spark.sql.DataFrame): Array[Long] =
    seeds.select(col("id").cast("long")).collect().map(_.getLong(0))

  /** Fused vertex-side gate + collect for the algorithm wrappers (the
    * [[probeSeeds]] pattern at the EDGE gate): Some(distinct ids) when
    * the distinct-id count is under [[LocalMaxRowsKey]], None otherwise —
    * ONE limited job instead of a count probe plus a second full
    * evaluation of the (often derived: events→distinct users) vertex
    * frame. Gating on the DISTINCT count is more permissive than the
    * raw-row gate it replaces but equally bounded: the collect never
    * hauls more than gate+1 ids, and both strategies compute the same
    * result by the kernel-consistency contract. */
  private[graft] def probeVertexIds(vertices: DataFrame)
      : Option[Array[Long]] =
    probeRowsUnderGateMemo(vertices.select(col("id").cast("long")).distinct())
      .map(_.map(_.getLong(0)))

  /** Null endpoints can never join (SQL semantics already drop them in
    * every fixed-hop pattern); the kernels drop them at ingestion so both
    * strategies agree — without this the local collect crashes with
    * ROW_VALUE_IS_NULL while the distributed joins silently skip the row. */
  private def dropNullEndpoints(e: DataFrame): DataFrame =
    e.where(col("src").isNotNull && col("dst").isNotNull)

  /** THE strategy gate every kernel shares — one definition so the probe
    * semantics can't drift between operators. Sizes are LIMIT-probes,
    * never full counts (at 100 TB a complete pass over the edge table
    * just to pick a strategy would itself be a major job). When edges and
    * seeds both fit under the local gates, the driver-local kernel runs
    * on collected arrays (memoized in [[edgeMemo]] — no persist needed,
    * the collect is one pass); otherwise the distributed branch runs,
    * fetching its edge frame from the memo-owned [[sessionEdgeIndex]]. */
  private def localOrElse(e: DataFrame, seeds: DataFrame)(
      local: Array[Long] => DataFrame)(
      distributed: => DataFrame): DataFrame = {
    // fused: the gate probe doubles as the (src, dst) collect the local
    // closures read back through [[collectEdges]]'s memo — weighted
    // closures that collect wider shapes still pay their own collect,
    // which is the same two evaluations they always paid, never more
    val eSmall = probeEdgesFused(e, withEid = false).isDefined
    // probe + collect fused: one limited collect instead of a count probe
    // followed by a second full evaluation of the seed plan (seeds are
    // often a filtered scan, not a cached view — two passes doubled it)
    val seedProbe = if (eSmall) probeSeeds(seeds) else None
    seedProbe match {
      case Some(seedArr) => local(seedArr)
      case None => distributed
    }
  }

  /** Seed probes by gate value: the probe is a real driver job per call,
    * and seed frames are often compiled subplans that repeat verbatim
    * across a query's quantifier splits AND across repeated queries —
    * q93's warm compile paid ~0.5 s of identical seed probes per call.
    * Kernels never mutate the shared array (`.distinct.sorted` copies). */
  private val seedMemo = new PlanMemo[Option[Array[Long]]](8)

  /** One `limit(localMaxSeeds+1)` collect: Some(ids) when under the gate,
    * None (→ distributed) otherwise. */
  private def probeSeeds(seeds: DataFrame): Option[Array[Long]] = {
    val gate = localMaxSeeds
    seedMemo.getOrBuild(PlanMemo.id(seeds), gate) {
      val arr = seeds.select(col("id").cast("long"))
        .limit(gate.toInt + 1).collect().map(_.getLong(0))
      if (arr.length <= gate) Some(arr) else None
    }
  }

  /** Gate + edge-IDENTITY provisioning for the path kernels: the local
    * branch collects the raw edge pairs and, when the plan carries no
    * declared eid column, assigns the dense (src,dst)-ranked ids ON THE
    * DRIVER — running [[Snapshot.denseEdgeIds]]'s distributed range-sort
    * + zipWithIndex just to collect the result back was pure overhead
    * when the array ends up driver-local anyway (it cost q55 a full sort
    * + persist + collect of the user graph per query). Identical id
    * assignment: rank by (src, dst), parallel edges distinct consecutive
    * ids, ties interchangeable. The distributed branch attaches
    * denseEdgeIds and persists, exactly as before. */
  private def withEids(spark: SparkSession, edges: DataFrame,
      seeds: DataFrame)(
      local: (Array[(Long, Long, Long)], Array[Long]) => DataFrame)(
      distributed: DataFrame => DataFrame): DataFrame = {
    val clean = dropNullEndpoints(edges)
    val hasEid = clean.columns.contains("eid")
    val eSmall = probeEdgesFused(clean, withEid = hasEid).isDefined
    val seedProbe = if (eSmall) probeSeeds(seeds) else None
    if (seedProbe.isDefined) {
      val arr = if (hasEid) collectEdges(clean, withEid = true)
        else edgeMemo.getOrBuild(PlanMemo.id(clean), "denseLocal") {
          denseEidsLocal(collectEdges(clean, withEid = false))
        }
      local(arr, seedProbe.get)
    } else {
      // memo-owned: the distributed branch receives a frame whose cache
      // lifecycle belongs to distEidMemo — callers must not unpersist or
      // OpCaches-track it (see sessionEdgeIndex)
      distributed(sessionEdgeIndex(spark, clean, "eid") {
        val e0 = if (hasEid) clean
          else Snapshot.denseEdgeIds(spark,
            clean.select(col("src"), col("dst")), Seq("src", "dst"))
        e0.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"),
          col("eid").cast("long").as("eid"))
      })
    }
  }

  /** Distributed twin of [[edgeMemo]]: persisted edge-index frames by
    * variant. The dense-eid range-sort + zipWithIndex over the full edge
    * set is the expensive, input-identical prefix of every distributed
    * path query (it cost q55 a full 4M-row sort + persist PER CALL at
    * sf4). Entries are persisted OUTSIDE OpCaches on purpose: the
    * harness's per-query releaseAll() tears down operator caches, but
    * the edge index is session state, same ownership rule as the ANN
    * index frames ([[graft.ops.Similarity]] buildIvfIndex). Every frame
    * the memo lets go of is unpersisted. */
  private[graft] val distEidMemo =
    new PlanMemo[DataFrame](4, df => { df.unpersist(false); () })

  /** Memo-owned SESSION EDGE INDEX for the distributed path kernels —
    * the distributed CSR. `build` shapes the columns (dense-eid
    * synthesis, casts); the index hash-partitions by `src` and sorts
    * within partitions, so every per-level frontier×e join clusters on
    * the cached partitioning + ordering and shuffles only the (small)
    * frontier, never the edge set (without this the per-level SMJ
    * re-exchanged + re-sorted all 4M edges PER LEVEL — the q55 sf4
    * wall). Build once, traverse many. Keyed on the PRE-BUILD input:
    * builds that synthesize eids create a new RDD-backed plan per call,
    * which would never hit. */
  private def sessionEdgeIndex(spark: SparkSession, clean: DataFrame,
      variant: String)(build: => DataFrame): DataFrame =
    distEidMemo.getOrBuild(PlanMemo.id(clean), variant) {
      val built = build
      // Size the index to the DATA, not the session width: a
      // session-width index (numShufflePartitions partitions) makes EVERY
      // per-level frontier join a session-width stage, so a ≤50-seed
      // depth-2 BFS pays 32 tasks × levels × stages of pure scheduling
      // (measured: q35 sf4 2.6-2.7 s at 32 partitions vs 1.7-2.1 s at 4 —
      // ProbeQ35). One count at build time (the edge view is typically
      // already cached) sizes partitions at ~1M edges (~16 MB) each,
      // floored at 4 for level parallelism and capped at the session
      // width — a 100 TB edge set still gets the full cluster width.
      val rowsPer = 1L << 20
      val confParts = spark.sessionState.conf.numShufflePartitions
      val n = built.count()
      val parts = math.max(math.min(confParts, 4),
        math.min(confParts.toLong, (n + rowsPer - 1) / rowsPer).toInt)
      built
        .repartition(parts, col("src"))
        .sortWithinPartitions("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** Driver-side twin of [[Snapshot.denseEdgeIds]] for already-collected
    * pairs: stable (src, dst) sort, index = id. */
  private def denseEidsLocal(
      arr: Array[(Long, Long, Long)]): Array[(Long, Long, Long)] = {
    val sorted = arr.sortBy(t => (t._1, t._2))
    Array.tabulate(sorted.length)(i =>
      (sorted(i)._1, sorted(i)._2, i.toLong))
  }

  /** Every mode/prefix the reference raises NotImplemented for
    * (`PGQCheckPathModeSupport` match.cpp:80-108; ALL SHORTEST /
    * SHORTEST k match.cpp:709-790) is implemented here — mode-valid
    * enumeration, all-minimal-parent BFS, pruned k-shortest — exceeding
    * reference parity; nothing is guarded any more. Kept as the single
    * seam for future prefix guards (pattern-shape restrictions live in
    * the compiler, which knows the element structure). */
  def checkSupported(p: PathPattern): Unit = ()

  /** Multi-source BFS shortest *lengths* — semantics of reference
    * `iterativelength` (0 when src=dst, absent row = unreachable,
    * iterativelength.cpp:12-143).
    *
    * @param edges (src: long, dst: long)
    * @param seeds (id: long) — BFS roots (all batched in one traversal)
    * @param maxDepth stop after this many levels (quantifier upper bound);
    *                 None = run to frontier exhaustion (≤ V levels)
    * @return (src, dst, dist) for every reached pair with dist ≤ maxDepth
    */
  def bfsDistances(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
      maxDepth: Option[Long]): DataFrame =
    bfsDistances(spark, edges, seeds, maxDepth, None)

  /** As above; when `targets` is set, only pairs whose `dst` is in the
    * target set are returned, and the search runs BIDIRECTIONALLY
    * (meet-in-the-middle, the distributed analogue of the reference's
    * `iterativelengthbidirectional`, iterativelength_bidirectional.cpp:43-153):
    * it stops as soon as every (seed, target) pair is settled instead of
    * expanding the seeds' full component — the selective-destination
    * optimization for IC13-shaped queries. */
  def bfsDistances(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
      maxDepth: Option[Long], targets: Option[DataFrame]): DataFrame = {
    val clean = dropNullEndpoints(edges.select(col("src"), col("dst")))
    localOrElse(clean, seeds) { seedArr =>
      import spark.implicits._
      LocalKernels.bfsDistances(
        collectEdges(clean, withEid = false), seedArr,
        maxDepth.getOrElse(Long.MaxValue),
        targets.map(t => collectSeeds(t.select(col(t.columns.head)
          .as("id"))).toSet))
        .toSeq.toDF("src", "dst", "dist")
    } {
    // memo-owned distributed CSR (see sessionEdgeIndex) — never
    // unpersisted here
    val e = sessionEdgeIndex(spark, clean, "pair")(clean)
    targets match {
      case Some(t) =>
        bidirectionalDistances(spark, e, seeds,
          t.select(col(t.columns.head).cast("long").as("id")),
          maxDepth.getOrElse(Long.MaxValue))
      case None =>
        // seen is a UNION of per-level checkpointed frontiers — never
        // re-materialized per level (the old per-level
        // `seen.union(fresh).localCheckpoint()` rewrote the whole
        // accumulated set every level: O(levels × |seen|) cache I/O on
        // deep graphs). Re-checkpoint only every `checkpointEvery` levels
        // to keep the union plan bounded.
        //
        // SMALL FINITE DEPTHS (quantifier bounds like *1..2) fuse into
        // ONE declarative plan instead: no per-level localCheckpoint
        // job, no isEmpty probe job — each level is a lazy persisted
        // frame (computed once, consumed by both the union and the next
        // level's join) and the single final action runs the whole
        // unrolled DAG. Cuts 2 driver jobs per level to zero.
        val limit = maxDepth.getOrElse(Long.MaxValue)
        val fused = limit <= fuseDepth
        def settle(df: DataFrame): DataFrame =
          if (fused) graft.OpCaches.track(df)
          else df.transform(graft.graph.PathFinder.ckpt)
        val seedRows = settle(seeds.select(col("id").as("src"),
          col("id").as("dst"), lit(0L).as("dist")).distinct())
        var seen = seedRows
        var frontier = seedRows
        var d = 0L
        var done = false
        while (!done && d < limit) {
          d += 1
          // dataset aliases, not bare frontier("dst")/e("src"): in the
          // fused path the frontier's LINEAGE contains e, and unaliased
          // attribute references trip DetectAmbiguousSelfJoin
          val next = frontier.as("__f").join(e.as("__e"),
              col("__f.dst") === col("__e.src"))
            .select(col("__f.src").as("src"), col("__e.dst").as("dst"))
            .groupBy("src", "dst").agg(lit(d).as("dist"))
          val fresh = settle(next.join(seen, Seq("src", "dst"), "left_anti"))
          if (!fused && fresh.isEmpty) done = true
          else {
            seen = seen.union(fresh)
            if (!fused && d % checkpointEvery == 0)
              seen = seen.transform(graft.graph.PathFinder.ckpt)
            frontier = fresh
          }
        }
        // e is memo-owned (sessionEdgeIndex): its cache outlives this
        // call by design — fused lazy results stay valid, and repeat
        // queries over the same edge view skip the index build
        seen
    }
    }
  }

  /** Accumulated seen-sets are unions of per-level checkpointed frontiers;
    * the union itself is re-checkpointed only this often, bounding plan
    * growth without rewriting O(|seen|) cache blocks every level. */
  private val checkpointEvery = 16

  /** Iterative kernels with a finite level bound at or below this fuse
    * ALL levels into one declarative plan (lazy persisted levels, no
    * per-level checkpoint or isEmpty jobs) — the common MATCH quantifier
    * bounds (*1..2, *1..3) pay one job instead of 2×levels. Above it,
    * plan depth and the lost early-exit stop paying for themselves. */
  private val fuseDepth = 4L

  /** Bidirectional multi-source × multi-target BFS. Forward frontiers are
    * labeled by seed origin, backward frontiers (over reversed edges) by
    * target origin; each level expands the SMALLER side. A (seed, target)
    * pair "meets" at any vertex in both seen-sets, and with the forward
    * side complete to depth f and backward to depth b, every pair with
    * true distance d ≤ f+b has a meet whose minimum sum is exactly d (a
    * shortest path splits as f′+b′ with f′ ≤ f, b′ ≤ b) — so a pair with
    * any meet is already exact, and the loop stops once every pair has
    * met, a side exhausts (that side's seen-set is then complete, making
    * all remaining reachable pairs meet immediately), or f+b reaches the
    * depth limit.
    *
    * @return (src, dst, dist) for every (seed, target) pair with
    *         dist ≤ limit
    */
  private def bidirectionalDistances(spark: SparkSession, e: DataFrame,
      seeds: DataFrame, targets: DataFrame, limit: Long): DataFrame = {
    val eRev = e.select(col("dst").as("src"), col("src").as("dst"))
    def expand(frontier: DataFrame, seen: DataFrame, edges: DataFrame,
        d: Long): DataFrame = {
      val next = frontier.join(edges, frontier("v") === edges("src"))
        .select(frontier("origin"), edges("dst").as("v"))
        .groupBy("origin", "v").agg(lit(d).as("d"))
      next.join(seen, Seq("origin", "v"), "left_anti").transform(graft.graph.PathFinder.ckpt)
    }
    var fSeen = seeds.select(col("id").as("origin"), col("id").as("v"),
      lit(0L).as("d")).distinct().transform(graft.graph.PathFinder.ckpt)
    var bSeen = targets.select(col("id").as("origin"), col("id").as("v"),
      lit(0L).as("d")).distinct().transform(graft.graph.PathFinder.ckpt)
    var fFront = fSeen
    var bFront = bSeen
    var fSize = fFront.count()
    var bSize = bFront.count()
    val nPairs = fSize * bSize
    var fD = 0L
    var bD = 0L
    def meets(front: DataFrame, otherSeen: DataFrame,
        frontIsFwd: Boolean): DataFrame =
      front.as("f").join(otherSeen.as("o"), col("f.v") === col("o.v"))
        .select((if (frontIsFwd) col("f.origin") else col("o.origin"))
          .as("s"),
          (if (frontIsFwd) col("o.origin") else col("f.origin")).as("t"))
        .distinct()
    // settled pairs accumulate INCREMENTALLY: a new meet always involves
    // the freshly-expanded frontier, so each level joins only that
    // frontier against the other side's seen-set (`met` itself is
    // bounded by nPairs rows)
    var met = meets(fFront, bSeen, frontIsFwd = true).transform(graft.graph.PathFinder.ckpt)
    var metCount = met.count()
    while (fSize > 0 && bSize > 0 && fD + bD < limit &&
        metCount < nPairs) {
      val fresh =
        if (fSize <= bSize) {
          fD += 1
          fFront = expand(fFront, fSeen, e, fD)
          fSize = fFront.count()
          if (fSize > 0) {
            fSeen = fSeen.union(fFront) // fFront already checkpointed
            if (fD % checkpointEvery == 0) fSeen = fSeen.transform(graft.graph.PathFinder.ckpt)
          }
          meets(fFront, bSeen, frontIsFwd = true)
        } else {
          bD += 1
          bFront = expand(bFront, bSeen, eRev, bD)
          bSize = bFront.count()
          if (bSize > 0) {
            bSeen = bSeen.union(bFront)
            if (bD % checkpointEvery == 0) bSeen = bSeen.transform(graft.graph.PathFinder.ckpt)
          }
          meets(bFront, fSeen, frontIsFwd = false)
        }
      met = met.union(fresh).distinct().transform(graft.graph.PathFinder.ckpt)
      metCount = met.count()
    }
    fSeen.as("f").join(bSeen.as("b"), col("f.v") === col("b.v"))
      .groupBy(col("f.origin").as("src"), col("b.origin").as("dst"))
      .agg(min(col("f.d") + col("b.d")).as("dist"))
      .filter(col("dist") <= limit)
  }

  /** BFS with path reconstruction — semantics of reference `shortestpath`
    * (`shortest_path.cpp:148-207`): returns for each reached (src, dst) the
    * interleaved `[v0, e0, v1, e1, …, vk]` id list; `src = dst` → `[src]`.
    * ANY-shortest tie-break: lexicographically smallest path (deterministic,
    * unlike the reference's arrival-order pick — documented divergence).
    *
    * @param edges (src, dst[, eid]); if `eid` is absent a dense per-edge
    *              rank ordered by (src, dst) is synthesized
    *              ([[Snapshot.denseEdgeIds]]) — multigraph parallel edges
    *              keep DISTINCT ids, mirroring the reference's physical
    *              edge rowids (shortest_path.cpp:212-217)
    */
  def shortestPaths(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
      lower: Long, upper: Option[Long]): DataFrame =
    withEids(spark, edges, seeds) { (earr, seedArr) =>
      import spark.implicits._
      LocalKernels.shortestPaths(
        earr, seedArr, lower, upper.getOrElse(Long.MaxValue))
        .toSeq.map(t => (t._1, t._2, t._3, t._4.toSeq))
        .toDF("src", "dst", "dist", "path")
    } (e => distributedShortestPaths(spark, e, seeds, lower, upper))

  private def distributedShortestPaths(spark: SparkSession, e: DataFrame,
      seeds: DataFrame, lower: Long, upper: Option[Long]): DataFrame = {
    // ---- parent-pointer BFS (reference shortest_path.cpp:148-204) ----
    // The traversal shuffles only NARROW rows: (src, v, rank, pv, pe).
    // Path arrays are rebuilt AFTER the traversal by backtracking the
    // parent pointers — the old form carried the growing [v,e,…] array
    // through every level's shuffle + min-aggregate, a shuffle-volume
    // multiplier ∝ path length at scale.
    //
    // ANY-shortest tie-break stays the lexicographically-smallest path
    // (deterministic, matching LocalKernels): `rank` orders each level's
    // vertices by their minimal path, and by induction comparing
    // (parentRank, eid) is exactly comparing the candidate full paths —
    // equal-length arrays compare prefix-first, and a path determines its
    // endpoint, so parent ranks order parent paths strictly.
    val limit = upper.getOrElse(Long.MaxValue)
    val seedRows = seeds.select(col("id").cast("long").as("src"))
      .distinct().transform(graft.graph.PathFinder.ckpt)
    var frontier = seedRows
      .select(col("src"), col("src").as("v"), lit(0L).as("rank"))
      .transform(graft.graph.PathFinder.ckpt)
    lastPathFrontierSchema = Some(frontier.schema)
    var seen = frontier.select("src", "v")
    val parentLevels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var d = 0L
    var done = false
    while (!done && d < limit) {
      d += 1
      val cand = frontier.join(e, frontier("v") === e("src"))
        .select(frontier("src").as("src"), e("dst").as("v"),
          frontier("rank").as("prank"), frontier("v").as("pv"),
          e("eid").as("pe"))
      // smallest parent per new vertex: structs compare field-by-field,
      // so min(struct(prank, pe, …)) is the lexicographic-min candidate
      val best = cand.join(seen, Seq("src", "v"), "left_anti")
        .groupBy("src", "v")
        .agg(min(struct(col("prank"), col("pe"), col("pv"))).as("b"))
        .select(col("src"), col("v"), col("b.prank").as("prank"),
          col("b.pe").as("pe"), col("b.pv").as("pv"))
      // level rank via range-sort + zipWithIndex: a global index ordered
      // by (src, prank, pe) ranks within each src too (only same-src
      // comparisons ever happen), without a single-task per-src window
      val ranked = rankByPathOrder(spark, best).transform(graft.graph.PathFinder.ckpt)
      if (ranked.isEmpty) done = true
      else {
        parentLevels += ranked.select(col("src"), col("v"), lit(d).as("k"),
          col("pv"), col("pe"))
        seen = seen.union(ranked.select("src", "v"))
        if (d % checkpointEvery == 0) seen = seen.transform(graft.graph.PathFinder.ckpt)
        frontier = ranked.select("src", "v", "rank")
      }
    }
    // ---- backtrack: rebuild [v0,e0,v1,…,vk] from parent pointers ----
    // Segments stay narrow during the walk; ONE final groupBy assembles
    // the arrays (sorted by depth k, each segment contributes [pv, pe]).
    val parents =
      if (parentLevels.isEmpty) null
      else parentLevels.reduce(_ union _)
        .persist(StorageLevel.MEMORY_AND_DISK)
    def seedPaths = seedRows.select(col("src"), col("src").as("dst"),
      lit(0L).as("dist"), array(col("src")).as("path"))
    val zero = if (lower <= 0L) Seq(seedPaths) else Nil
    val reconstructed =
      if (parents == null) Nil
      else {
        val segments = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        var active = parents.filter(col("k") >= lower)
          .select(col("src"), col("v").as("dst"), col("k").as("dist"),
            col("v").as("cur"))
          .transform(graft.graph.PathFinder.ckpt)
        while (!active.isEmpty) {
          val step = active.alias("a")
            .join(parents.alias("p"),
              col("a.src") === col("p.src") && col("a.cur") === col("p.v"))
            .select(col("a.src").as("src"), col("a.dst").as("dst"),
              col("a.dist").as("dist"), col("p.k").as("k"),
              col("p.pv").as("pv"), col("p.pe").as("pe"))
            .transform(graft.graph.PathFinder.ckpt)
          segments += step
          active = step.filter(col("k") > lit(1L))
            .select(col("src"), col("dst"), col("dist"),
              col("pv").as("cur"))
        }
        if (segments.isEmpty) Nil
        else Seq(segments.reduce(_ union _)
          .groupBy("src", "dst", "dist")
          .agg(sort_array(collect_list(
            struct(col("k"), col("pv"), col("pe")))).as("ss"))
          .select(col("src"), col("dst"), col("dist"),
            concat(
              flatten(transform(col("ss"),
                s => array(s.getField("pv"), s.getField("pe")))),
              array(col("dst"))).as("path")))
      }
    // e is memo-owned (distEidFrame) — no unpersist here
    (zero ++ reconstructed).reduceOption(_ union _)
      .getOrElse(seedPaths.limit(0)) // schema-correct empty result
  }

  /** Enumerate ALL mode-valid paths — one output row PER PATH (multiplicity
    * semantics; the pair-deduped kernels above implement the shortest-length
    * model instead). The reference raises NotImplemented for every non-WALK
    * path mode (`PGQCheckPathModeSupport` match.cpp:80-108); this kernel
    * implements the SQL/PGQ visited-set semantics directly:
    * TRAIL = no repeated edge id, ACYCLIC = no repeated vertex, SIMPLE =
    * no repeated vertex except closing back to the start (a closed path
    * cannot extend — the start would become an interior repeat).
    *
    * Unlike [[shortestPaths]], the frontier necessarily carries the path
    * array — each partial path IS distinct frontier state (the visited set
    * decides which expansions are legal), so the narrow parent-pointer
    * trick cannot apply; shuffle volume is proportional to the number of
    * live partial paths, which is the output's own lower bound. Unbounded
    * quantifiers terminate because the visited set strictly grows: ≤ |V|
    * levels for ACYCLIC/SIMPLE, ≤ |E| for TRAIL. WALK mode requires a
    * finite `upper` (on a cyclic graph the walk set is infinite) — used by
    * bounded-quantifier enumeration only.
    *
    * @param edges (src, dst, eid)
    * @return (src, dst, dist, path) — `path` interleaved `[v,e,…,v]`,
    *         one row per distinct mode-valid path with lower ≤ dist ≤ upper
    */
  def enumerateModePaths(spark: SparkSession, edges: DataFrame,
      seeds: DataFrame, lower: Long, upper: Option[Long],
      mode: PathMode, pruneK: Option[Int] = None): DataFrame = {
    require(upper.forall(_ >= 0), "negative upper bound")
    if (mode == PathMode.Walk && upper.isEmpty)
      throw GraphAnalysisException(
        "WALK enumeration needs a finite upper bound")
    withEids(spark, edges, seeds) { (earr, seedArr) =>
      // the per-vertex top-k prune is only sound for WALK (see
      // LocalKernels.kShortestWalks); mode-constrained sets are finite
      val res = (mode, pruneK) match {
        case (PathMode.Walk, Some(kk)) => LocalKernels.kShortestWalks(
          earr, seedArr, lower, upper.getOrElse(Long.MaxValue), kk)
        case _ => LocalKernels.enumeratePaths(
          earr, seedArr, lower, upper.getOrElse(Long.MaxValue), mode)
      }
      import spark.implicits._
      res.toSeq.map(t => (t._1, t._2, t._3, t._4.toSeq))
        .toDF("src", "dst", "dist", "path")
    } { e =>
    val limit = upper.getOrElse(Long.MaxValue)
    // SMALL FINITE BOUNDS fuse all levels into one declarative plan:
    // lazy persisted levels instead of per-level localCheckpoint, no
    // isEmpty probes — same shape as the bfsDistances fuse (see
    // fuseDepth). The caller's single action runs the unrolled DAG.
    val fused = limit <= fuseDepth
    def settle(df: DataFrame): DataFrame =
      if (fused) graft.OpCaches.track(df)
      else df.transform(graft.graph.PathFinder.ckpt)
    // the visited column tracks only what the mode consults (TRAIL: edge
    // ids; ACYCLIC/SIMPLE: vertices; WALK: nothing) — the path column
    // cannot serve double duty, vertex and edge ids interleave in it
    val needVisV = mode == PathMode.Acyclic || mode == PathMode.Simple
    val needVisE = mode == PathMode.Trail
    var frontier = settle(
      seeds.select(col("id").cast("long").as("src")).distinct()
      .select(Seq(col("src"), col("src").as("v"),
        array(col("src")).as("path")) ++
        (if (needVisV) Seq(array(col("src")).as("vis")) else Nil) ++
        (if (needVisE) Seq(array().cast("array<long>").as("vis")) else Nil)
        : _*))
    val emitted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def emit(df: DataFrame, d: Long): Unit =
      if (d >= lower) emitted += df.select(col("src"), col("v").as("dst"),
        lit(d).as("dist"), col("path"))
    emit(frontier, 0L)
    var d = 0L
    while ((fused || !frontier.isEmpty) && d < limit) {
      d += 1
      // dataset aliases (not frontier("v")/e("src")): the fused path's
      // frontier lineage contains e — see the bfsDistances note
      val cand = frontier.as("__f").join(e.as("__e"),
        col("__f.v") === col("__e.src"))
      val ok: Column = mode match {
        case PathMode.Walk    => lit(true)
        case PathMode.Trail   =>
          !array_contains(col("__f.vis"), col("__e.eid"))
        case PathMode.Acyclic =>
          !array_contains(col("__f.vis"), col("__e.dst"))
        case PathMode.Simple  =>
          !array_contains(col("__f.vis"), col("__e.dst")) ||
            col("__e.dst") === col("__f.src")
      }
      val nextRaw = cand.filter(ok)
        .select(Seq(col("__f.src").as("src"), col("__e.dst").as("v"),
          concat(col("__f.path"),
            array(col("__e.eid"), col("__e.dst"))).as("path")) ++
          (if (needVisV)
            Seq(concat(col("__f.vis"), array(col("__e.dst"))).as("vis"))
          else if (needVisE)
            Seq(concat(col("__f.vis"), array(col("__e.eid"))).as("vis"))
          else Nil): _*)
      // WALK k-shortest: keep only the k lexicographically-best paths per
      // (src, v) each level — sound by extension monotonicity (see
      // LocalKernels.kShortestWalks), and it bounds the frontier at
      // k·|V| rows instead of the full walk fan-out
      val next = (pruneK match {
        case Some(kk) if mode == PathMode.Walk =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("src", "v").orderBy("path")
          nextRaw.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") <= kk).drop("__rn")
        case _ => nextRaw
      })
      val settled = settle(next)
      emit(settled, d)
      // SIMPLE: paths that closed the cycle were emitted but are terminal
      // (rows in `next` always have an extension, so v === src means the
      // path just closed back to its start)
      frontier =
        if (mode == PathMode.Simple) settled.filter(col("v") =!= col("src"))
        else settled
    }
    val out = emitted.reduceOption(_ union _).getOrElse(
      frontier.select(col("src"), col("v").as("dst"), lit(0L).as("dist"),
        col("path")).limit(0))
    // e is memo-owned (distEidFrame): its cache outlives this call BY
    // DESIGN — fused lazy results stay valid, and repeat queries over
    // the same edge view skip the index build entirely
    out
    }
  }

  /** SHORTEST k — the k smallest mode-valid paths per (src, dst) pair
    * under (length, lexicographic-path) order, one row per path (the
    * reference raises NotImplemented, match.cpp:709-790). WALK mode
    * requires a finite upper bound (the admissible walk set must be
    * finite) and gets the per-level per-vertex top-k prune; the
    * visited-set modes enumerate their (finite) path sets and rank. */
  def kShortestPaths(spark: SparkSession, edges: DataFrame,
      seeds: DataFrame, lower: Long, upper: Option[Long],
      mode: PathMode, k: Int): DataFrame = {
    require(k >= 1, s"SHORTEST k needs k >= 1 (got $k)")
    if (mode == PathMode.Walk && upper.isEmpty)
      throw GraphAnalysisException(
        "SHORTEST k over path mode WALK needs a finite upper bound — " +
          "bound the quantifier or use a non-WALK path mode")
    val all = enumerateModePaths(spark, edges, seeds, lower, upper, mode,
      pruneK = Some(k))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src", "dst").orderBy(col("dist"), col("path"))
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** ALL SHORTEST — every shortest path per reached (src, dst) pair, one
    * row per path (the reference raises NotImplemented, match.cpp:709-790).
    * Same narrow parent-pointer BFS as [[shortestPaths]], except each
    * newly-reached vertex keeps ALL minimal parents instead of the
    * lexicographic minimum; the backtrack then joins each level against
    * the full parent relation, multiplying out every shortest combination.
    * The backtrack carries the growing suffix arrays — unavoidable here,
    * the distinct paths ARE the output — but the traversal itself still
    * shuffles only narrow rows.
    *
    * @param edges (src, dst[, eid]) — synthesized dense ids when absent
    * @return (src, dst, dist, path), one row per shortest path
    */
  def allShortestPaths(spark: SparkSession, edges: DataFrame,
      seeds: DataFrame, lower: Long, upper: Option[Long]): DataFrame = {
    withEids(spark, edges, seeds) { (earr, seedArr) =>
      import spark.implicits._
      LocalKernels.allShortestPaths(
        earr, seedArr, lower, upper.getOrElse(Long.MaxValue))
        .toSeq.map(t => (t._1, t._2, t._3, t._4.toSeq))
        .toDF("src", "dst", "dist", "path")
    } { e =>
    val limit = upper.getOrElse(Long.MaxValue)
    val seedRows = seeds.select(col("id").cast("long").as("src"))
      .distinct().transform(graft.graph.PathFinder.ckpt)
    var frontier = seedRows.select(col("src"), col("src").as("v"))
      .transform(graft.graph.PathFinder.ckpt)
    var seen = frontier
    val parentLevels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var d = 0L
    while (!frontier.isEmpty && d < limit) {
      d += 1
      // ALL minimal parents: every edge from the previous level into a
      // fresh vertex is part of some shortest path — no min-agg, only a
      // distinct against duplicate physical edge rows
      val cand = frontier.join(e, frontier("v") === e("src"))
        .select(frontier("src").as("src"), e("dst").as("v"),
          frontier("v").as("pv"), e("eid").as("pe"))
      val fresh = cand.join(seen, Seq("src", "v"), "left_anti")
        .distinct().transform(graft.graph.PathFinder.ckpt)
      if (fresh.isEmpty) frontier = fresh.limit(0)
      else {
        parentLevels += fresh.select(col("src"), col("v"), lit(d).as("k"),
          col("pv"), col("pe"))
        val newV = fresh.select("src", "v").distinct().transform(graft.graph.PathFinder.ckpt)
        seen = seen.union(newV)
        if (d % checkpointEvery == 0) seen = seen.transform(graft.graph.PathFinder.ckpt)
        frontier = newV
      }
    }
    def seedPaths = seedRows.select(col("src"), col("src").as("dst"),
      lit(0L).as("dist"), array(col("src")).as("path"))
    val zero = if (lower <= 0L) Seq(seedPaths) else Nil
    val reconstructed =
      if (parentLevels.isEmpty) Nil
      else {
        val parents = parentLevels.reduce(_ union _)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val done = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        // suffix starts [pv, pe, dst] at the terminal vertex and extends
        // leftward through every parent alternative (cartesian per level —
        // the path fan-out itself)
        var active = parents.filter(col("k") >= lower)
          .select(col("src"), col("v").as("dst"), col("k").as("dist"),
            lit(1L).as("back"), col("pv").as("cur"),
            array(col("pv"), col("pe"), col("v")).as("suf"))
          .transform(graft.graph.PathFinder.ckpt)
        while (!active.isEmpty) {
          val (fin, open) = (active.filter(col("back") === col("dist")),
            active.filter(col("back") < col("dist")))
          done += fin.select(col("src"), col("dst"), col("dist"),
            col("suf").as("path"))
          active = open.alias("a")
            .join(parents.alias("p"),
              col("a.src") === col("p.src") && col("a.cur") === col("p.v"))
            .select(col("a.src").as("src"), col("a.dst").as("dst"),
              col("a.dist").as("dist"), (col("a.back") + 1L).as("back"),
              col("p.pv").as("cur"),
              concat(array(col("p.pv"), col("p.pe")), col("a.suf"))
                .as("suf"))
            .transform(graft.graph.PathFinder.ckpt)
        }
        done.toSeq
      }
    // e is memo-owned (distEidFrame) — no unpersist here
    (zero ++ reconstructed).reduceOption(_ union _)
      .getOrElse(seedPaths.limit(0))
    }
  }

  /** Schema of the last distributed shortest-path frontier — test hook
    * asserting the per-level shuffle carries no path arrays. */
  @volatile private[graft] var lastPathFrontierSchema:
      Option[org.apache.spark.sql.types.StructType] = None

  /** Global dense rank ordered by (src, prank, pe) — deterministic (the
    * key is unique: a parent rank identifies one parent, an eid one edge)
    * and distributed: range-repartition + in-partition sort +
    * `zipWithIndex`, instead of a `Window.partitionBy(src)` that would
    * funnel each src's whole frontier through a single task. */
  private def rankByPathOrder(spark: SparkSession, best: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sorted = best
      .repartitionByRange(col("src"), col("prank"), col("pe"))
      .sortWithinPartitions("src", "prank", "pe")
    val schema = StructType(sorted.schema.fields :+
      StructField("rank", LongType, nullable = false))
    spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ i)
      }, schema)
  }

  /** Weighted cheapest-path distances — semantics of reference
    * `cheapest_path_length` (Bellman-Ford, `cheapest_path_length.cpp:12-163`;
    * int64 or double weights). Distributed relaxation until fixpoint.
    *
    * @param edges (src, dst, w) — w numeric (long or double)
    * @return (src, dst, cost)
    */
  def cheapestPaths(spark: SparkSession, edges: DataFrame,
      seeds: DataFrame): DataFrame = {
    // null weights are dropped with null endpoints: an unweighted edge is
    // unusable, not free — the local kernel would read it as 0.0 while the
    // distributed min-struct would sort its null cost FIRST, so the two
    // strategies would silently diverge on the same input
    val clean = dropNullEndpoints(
      edges.select(col("src"), col("dst"), col("w")))
      .filter(col("w").isNotNull)
    localOrElse(clean, seeds) { seedArr =>
      val earr = clean.select(col("src").cast("long"),
        col("dst").cast("long"), col("w").cast("double")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      import spark.implicits._
      LocalKernels.cheapestPaths(earr, seedArr).toSeq
        .toDF("src", "dst", "cost")
    } {
    // memo-owned distributed CSR (see sessionEdgeIndex)
    val e = sessionEdgeIndex(spark, clean, "wpair")(clean)
    var dist = seeds.select(col("id").as("src"), col("id").as("dst"),
      lit(0.0).cast("double").as("cost")).distinct().transform(graft.graph.PathFinder.ckpt)
    var changed = true
    var iter = 0
    // Bellman-Ford converges in ≤ V-1 rounds on negative-cycle-free graphs;
    // each round is one join + one map-side-combinable min agg. Hitting the
    // cap with work remaining means the result would be wrong — fail loud.
    val maxRounds = 1000
    while (changed && iter < maxRounds) {
      iter += 1
      val relaxed = dist.join(e, dist("dst") === e("src"))
        .select(dist("src"), e("dst").as("dst"),
          (dist("cost") + e("w").cast("double")).as("cost"))
      val next = dist.union(relaxed)
        .groupBy("src", "dst").agg(min("cost").as("cost"))
        .transform(graft.graph.PathFinder.ckpt)
      // converged iff no pair improved and no new pair appeared
      val improved = next.alias("n")
        .join(dist.alias("o"), Seq("src", "dst"), "left_outer")
        .filter(col("o.cost").isNull || col("n.cost") < col("o.cost"))
        .isEmpty
      changed = !improved
      dist = next
    }
    if (changed)
      throw GraphAnalysisException(
        s"cheapest-path did not converge within $maxRounds rounds " +
          "(negative cycle, or a longer chain than supported)")
    dist
    }
  }

  /** Weighted cheapest paths WITH route reconstruction — the path-carrying
    * twin of [[cheapestPaths]]. The reference stops at lengths
    * (`cheapest_path_length.cpp:12-163`); reconstruction exceeds parity.
    *
    * Same narrow-relaxation discipline as [[shortestPaths]]: the per-round
    * shuffle carries only (src, dst, cost, hops, parentV, parentE) — never
    * a growing array — and the route is rebuilt afterwards by backtracking
    * joins over the converged parent relation. Tie-break is the
    * lexicographic min-struct (cost, hops, parentV, parentE); the hops
    * component keeps the parent relation acyclic on zero-weight cycles
    * (every parent has strictly smaller (cost, hops)), so the backtrack
    * terminates in exactly `hops` joins.
    *
    * @param edges (src, dst, w[, eid]) — dense ids synthesized when absent
    * @return (src, dst, cost, path) with `path` interleaved `[v,e,…,v]`
    */
  def cheapestRoutes(spark: SparkSession, edges: DataFrame,
      seeds: DataFrame): DataFrame = {
    // see cheapestPaths: null weights dropped so both strategies agree
    val clean = dropNullEndpoints(edges).filter(col("w").isNotNull)
    // the dense-eid synthesis is shared by both branches so the id
    // assignment (and thus the (cost, hops, pv, pe) tie-break) cannot
    // drift between the local collect and the distributed relaxation
    def buildE: DataFrame = {
      val e0 = if (clean.columns.contains("eid")) clean
        else Snapshot.denseEdgeIds(spark,
          clean.select(col("src"), col("dst"), col("w")), Seq("src", "dst"))
      e0.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("double").as("w"),
        col("eid").cast("long").as("eid"))
    }
    localOrElse(clean, seeds) { seedArr =>
      val earr = buildE.select("src", "dst", "eid", "w").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      import spark.implicits._
      LocalKernels.cheapestRoutes(earr, seedArr).toSeq
        .map(t => (t._1, t._2, t._3, t._4.toSeq))
        .toDF("src", "dst", "cost", "path")
    } {
    // memo-owned distributed CSR (see sessionEdgeIndex)
    val e = sessionEdgeIndex(spark, clean, "weid")(buildE)
    // ---- distributed relaxation: narrow rows only ----
    var dist = seeds.select(col("id").cast("long").as("src")).distinct()
      .select(col("src"), col("src").as("dst"),
        lit(0.0).as("cost"), lit(0L).as("hops"),
        lit(-1L).as("pv"), lit(-1L).as("pe"))
      .transform(graft.graph.PathFinder.ckpt)
    var changed = true
    var iter = 0
    val maxRounds = 1000
    while (changed && iter < maxRounds) {
      iter += 1
      val relaxed = dist.join(e, dist("dst") === e("src"))
        .select(dist("src"), e("dst").as("dst"),
          (dist("cost") + e("w")).as("cost"),
          (dist("hops") + 1L).as("hops"),
          dist("dst").as("pv"), e("eid").as("pe"))
      val next = dist.union(relaxed)
        .groupBy("src", "dst")
        .agg(min(struct(col("cost"), col("hops"), col("pv"), col("pe")))
          .as("b"))
        .select(col("src"), col("dst"), col("b.cost").as("cost"),
          col("b.hops").as("hops"), col("b.pv").as("pv"),
          col("b.pe").as("pe"))
        .transform(graft.graph.PathFinder.ckpt)
      // converged iff no pair's FULL tuple improved and none appeared —
      // hops/parent churn after cost convergence must also settle, or the
      // backtrack would read a half-updated parent relation
      changed = !next.alias("n")
        .join(dist.alias("o"), Seq("src", "dst"), "left_outer")
        .filter(col("o.cost").isNull ||
          struct(col("n.cost"), col("n.hops"), col("n.pv"), col("n.pe")) =!=
          struct(col("o.cost"), col("o.hops"), col("o.pv"), col("o.pe")))
        .isEmpty
      dist = next
    }
    if (changed)
      throw GraphAnalysisException(
        s"cheapest-route did not converge within $maxRounds rounds " +
          "(negative cycle, or a longer chain than supported)")
    // ---- backtrack: extend suffixes leftward through the parent tree ----
    // dist is already localCheckpoint'd — block-manager-resident for the
    // repeated per-level joins; a persist on top would just leak
    val parents = dist
    val done = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    done += parents.filter(col("hops") === 0L)
      .select(col("src"), col("dst"), col("cost"),
        array(col("src")).as("path"))
    var active = parents.filter(col("hops") > 0L)
      .select(col("src"), col("dst"), col("cost"),
        (col("hops") - 1L).as("left"), col("pv").as("cur"),
        array(col("pv"), col("pe"), col("dst")).as("suf"))
      .transform(graft.graph.PathFinder.ckpt)
    while (!active.isEmpty) {
      val (fin, open) =
        (active.filter(col("left") === 0L), active.filter(col("left") > 0L))
      done += fin.select(col("src"), col("dst"), col("cost"),
        col("suf").as("path"))
      active = open.alias("a")
        .join(parents.alias("p"),
          col("a.src") === col("p.src") && col("a.cur") === col("p.dst"))
        .select(col("a.src").as("src"), col("a.dst").as("dst"),
          col("a.cost").as("cost"), (col("a.left") - 1L).as("left"),
          col("p.pv").as("cur"),
          concat(array(col("p.pv"), col("p.pe")), col("a.suf")).as("suf"))
        .transform(graft.graph.PathFinder.ckpt)
    }
    // e is memo-owned (sessionEdgeIndex) — no unpersist here
    done.reduce(_ union _)
    }
  }

  /** Reachability — semantics of reference `reachability`
    * (`reachability.cpp:165-254`): true iff a directed path exists
    * (0 hops ⇒ src = dst is reachable). */
  def reachablePairs(spark: SparkSession, edges: DataFrame,
      seeds: DataFrame): DataFrame =
    bfsDistances(spark, edges, seeds, None)
      .select(col("src"), col("dst"), lit(true).as("reachable"))
}
