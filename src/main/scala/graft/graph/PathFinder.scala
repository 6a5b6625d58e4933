package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model.GraphAnalysisException
import graft.pgq.PathMode

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
    * rows (edges, distinct vertex ids, quantile values; MinHash
    * documents, IVF vectors and co-purchase memberships up to
    * [[localMaxArrayRows]], memberships up to 8 × the gate past an
    * aggregate scan) run on driver-local array kernels ([[LocalKernels]],
    * MinHash's in [[graft.ops.Dedup]], IVF's in [[graft.ops.Similarity]])
    * — the analogue of the reference's in-memory CSR, correct only
    * because it is size-gated. Bigger inputs take the distributed
    * DataFrame loops; 0 forces every kernel distributed. Read from the
    * INPUT FRAME's session at probe time, so two sessions in one JVM
    * never flip each other's branches. */
  private[graft] val LocalMaxRowsKey = "spark.graft.local.maxRows"

  /** Row cap, below [[LocalMaxRowsKey]], of a local kernel whose
    * collected row carries a whole array (a MinHash document's hashed
    * shingle set, an IVF vector) or whose over-cap probe would haul a
    * limit prefix through the join feeding it (co-purchase): the gate's
    * 2M rows of 500 shingles would haul 8 GB, and 65536 such rows are
    * 256 MiB (65536 × 500 × 8 B), the resident-vertex cap of the MATCH
    * compiler. */
  private[graft] val localMaxArrayRows = 65536L

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
      "#tok=" + dataSnapshotToken(edges) + localRowsDigest(edges)

  /** Row count and SHA-256 of the rows of every local-relation leaf of
    * `df`, in leaf order. A canonicalized `LocalRelation` renders only its
    * output, so without this two same-schema `toDF` frames of different
    * rows would share one proof and only the 32-bit index would keep
    * their memo entries apart. O(rows) per render; [[PlanMemo.Id]]
    * renders a proof at most once, on an index hit or a store. */
  private def localRowsDigest(df: DataFrame): String = {
    import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection,
      UnsafeRow}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: LocalRelation =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        lazy val unsafe = UnsafeProjection.create(lr.schema)
        lr.data.foreach { r =>
          val u = r match {
            case u: UnsafeRow => u
            case other => unsafe(other)
          }
          md.update(java.nio.ByteBuffer.allocate(4)
            .putInt(u.getSizeInBytes).array())
          md.update(u.getBytes)
        }
        s"#local=${lr.data.length}:" +
          md.digest().map(b => f"${b & 0xff}%02x").mkString
    }.mkString
  }

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

  /** Rows of a collected frame, column-major: one primitive array per
    * long or double column (`Array[Long]` or `Array[Double]`), the layout
    * of the reference's CSR arrays — 8 bytes a cell where a boxed tuple
    * or a `Row` per row cost 100+. An edge view's columns become a
    * [[Csr]]. Any other column, and a long or double column holding a
    * null, is an `Array[Any]` of Catalyst values (null kept), read
    * through [[values]]; an `array<bigint>` or `array<double>` cell is a
    * compact `UnsafeArrayData` with its null elements kept (or null).
    * Shared through [[collectMemo]]: callers never mutate the arrays. */
  private[graft] final class Columns(val length: Int,
      private[graph] val cols: Array[AnyRef]) {
    def width: Int = cols.length
    def longs(j: Int): Array[Long] = cols(j).asInstanceOf[Array[Long]]
    def doubles(j: Int): Array[Double] = cols(j).asInstanceOf[Array[Double]]
    /** Column `j` as Catalyst values: a primitive column boxed (a fresh
      * array), a value column as stored. */
    def values(j: Int): Array[Any] = cols(j) match {
      case a: Array[Long] => a.map(x => x: Any)
      case a: Array[Double] => a.map(x => x: Any)
      case a: Array[Any] => a
      case other => throw new IllegalStateException(s"column $j: $other")
    }
    /** 8 B a primitive cell; a value cell counts its reference, object
      * header and, for strings, binaries and arrays, its bytes. */
    def bytes: Long = cols.map {
      case a: Array[Any] => a.foldLeft(0L) {
        case (n, s: org.apache.spark.unsafe.types.UTF8String) =>
          n + 32L + s.numBytes
        case (n, b: Array[Byte]) => n + 32L + b.length
        case (n, u: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData) =>
          n + 32L + u.getSizeInBytes
        case (n, _) => n + 24L
      }
      case _ => 8L * length
    }.sum
  }

  /** [[collectUnder]]'s verdicts keyed by (projected plan, cap) — None
    * over the cap, the complete rows under it.
    *
    * Bound: 48 entries and 512 MiB of column bytes (8 B a cell; a None
    * weighs nothing). At the default 2M gate the widest entry,
    * cheapestRoutes' (src, dst, w, eid), is 4 × 8 B × 2M = 64 MB, so the
    * worst case pins 8 of them: 512 MiB ≈ 537 MB. The MATCH compiler's
    * bijection maps are entries too, at most 65536 × 2 × 8 B = 1 MB
    * each. */
  private[graft] val collectMemo = new PlanMemo[Option[Columns]](48,
    weigh = _.fold(0L)(_.bytes), maxWeight = 512L << 20)

  /** Numbers, strings, booleans, dates, timestamps and binaries: the
    * column types [[collectUnder]] carries. */
  private[graft] def atomic(t: org.apache.spark.sql.types.DataType)
      : Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case _: NumericType | _: StringType | BooleanType | DateType |
          TimestampType | TimestampNTZType | BinaryType => true
      case _ => false
    }
  }

  /** THE strategy gate: Some(every row of `df`) iff `df` has at most
    * `cap` rows, else None (→ the distributed branch). One
    * `limit(cap + 1)` collect job per (plan, cap) and session answers the
    * verdict AND, under the cap, IS the local kernel's input: never a
    * full count (at 100 TB a pass over the input just to pick a strategy
    * would itself be a major job), and never more than cap + 1 rows on
    * the driver, even for a nondeterministic frame. Columns must be
    * atomic, `array<bigint>` without null elements (MinHash's hashed
    * shingle sets) or `array<double>` (IVF vectors); for arrays the
    * caller bounds `cap` by [[localMaxArrayRows]]. Kernels cast the long
    * or double projection they consume, other types come back as
    * Catalyst values ([[Columns]]). `cap` is clamped to
    * [0, Int.MaxValue − 1]. Without `memo` the rows are not kept: for a
    * caller whose own memo keeps what it derives from them (the MATCH
    * compiler's resident tables). */
  private[graft] def collectUnder(df: DataFrame, cap: Long,
      memo: Boolean = true): Option[Columns] = {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
      LongType}
    val types = df.schema.fields.map(_.dataType)
    require(types.forall {
        case ArrayType(LongType, false) | ArrayType(DoubleType, _) => true
        case t => atomic(t)
      },
      s"collectUnder needs atomic, array<bigint not null> or " +
        s"array<double> columns: ${df.schema.simpleString}")
    val c = math.max(0L, math.min(Int.MaxValue - 1L, cap))
    def collect: Option[Columns] = {
      val rows = df.limit(c.toInt + 1).collect()
      val n = rows.length
      if (n > c) None
      else Some(new Columns(n, types.zipWithIndex.map {
        case (DoubleType, j) if rows.forall(!_.isNullAt(j)) =>
          Array.tabulate(n)(rows(_).getDouble(j))
        case (LongType, j) if rows.forall(!_.isNullAt(j)) =>
          Array.tabulate(n)(rows(_).getLong(j))
        case (t: ArrayType, j) =>
          val toCatalyst = CatalystTypeConverters.createToCatalystConverter(t)
          val unsafe = UnsafeProjection.create(Array[DataType](t))
          Array.tabulate[Any](n)(i =>
            if (rows(i).isNullAt(j)) null
            else unsafe(InternalRow(toCatalyst(rows(i).get(j))))
              .getArray(0).copy())
        case (t, j) =>
          val toCatalyst =
            CatalystTypeConverters.createToCatalystConverter(t)
          Array.tabulate[Any](n)(i => toCatalyst(rows(i).get(j)))
      }))
    }
    if (memo) collectMemo.getOrBuild(PlanMemo.id(df), c)(collect) else collect
  }

  /** Null endpoints can never join (SQL semantics already drop them in
    * every fixed-hop pattern); the kernels drop them at ingestion so both
    * strategies agree — without this the local collect crashes with
    * ROW_VALUE_IS_NULL while the distributed joins silently skip the row. */
  private def dropNullEndpoints(e: DataFrame): DataFrame =
    e.where(col("src").isNotNull && col("dst").isNotNull)

  /** Null seed, target and vertex ids (column `c`) name no vertex: every
    * kernel drops them at ingestion, on both branches, like
    * [[dropNullEndpoints]] — without this the local collect crashes with
    * ROW_VALUE_IS_NULL while the distributed loops emit a null seed's
    * dist-0 row or rank a null vertex. */
  private[graft] def dropNullIds(ids: DataFrame, c: String = "id")
      : DataFrame =
    ids.where(col(c).isNotNull)

  /** The cleaned (src, dst) long view of an edge frame: ONE plan for the
    * [[Algorithms]] family, BFS and the unweighted path kernels, so they
    * share one [[collectMemo]] entry per edge frame. */
  private def edgePairs(edges: DataFrame): DataFrame =
    dropNullEndpoints(edges).select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))

  /** Some(cleaned (src, dst) columns) under [[LocalMaxRowsKey]], else
    * None. */
  private[graft] def localEdgePairs(edges: DataFrame): Option[Columns] =
    collectUnder(edgePairs(edges), localMaxRows(edges.sparkSession))

  /** Some(distinct long ids of `vertices`) when at most `cap` (default
    * [[LocalMaxRowsKey]]), else None. Gating the DISTINCT ids is more
    * permissive than a raw-row gate but equally bounded: the collect
    * never hauls more than cap + 1 ids. */
  private[graft] def localVertexIds(vertices: DataFrame): Option[Array[Long]] =
    localVertexIds(vertices, localMaxRows(vertices.sparkSession))

  private[graft] def localVertexIds(vertices: DataFrame, cap: Long)
      : Option[Array[Long]] =
    collectUnder(dropNullIds(vertices).select(col("id").cast("long"))
      .distinct(), cap)
      .map(_.longs(0))

  /** The gate of the seeded path kernels: Some((CSR, seed ids)) when
    * `edges` fits [[LocalMaxRowsKey]] and then `seeds` fits
    * [[localMaxSeeds]] — the driver-local kernel ([[LocalKernels]]) runs
    * on the CSR of exactly these columns, seeds among its vertices; None
    * takes the distributed branch, which fetches its edge frame from the
    * memo-owned [[sessionEdgeIndex]]. */
  private def localInputs(edges: DataFrame, seeds: DataFrame)
      : Option[(Csr, Array[Long])] =
    for {
      e <- collectUnder(edges, localMaxRows(edges.sparkSession))
      s <- collectUnder(dropNullIds(seeds).select(col("id").cast("long")),
        localMaxSeeds)
    } yield (Csr(e, s.longs(0)), s.longs(0))

  /** The path kernels' (src, dst[, eid]) long view: the declared `eid`
    * column when the edge frame has one, else just [[edgePairs]], whose
    * edges are numbered in (src, dst) order on both branches — a CSR slot
    * index locally, [[eidIndex]]'s range-sort distributed — so
    * multigraph parallel edges keep DISTINCT ids, mirroring the
    * reference's physical edge rowids. */
  private def eidView(edges: DataFrame): DataFrame =
    if (!edges.columns.contains("eid")) edgePairs(edges)
    else dropNullEndpoints(edges).select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("eid").cast("long").as("eid"))

  /** The memo-owned session edge index over an [[eidView]], dense ids
    * attached by a range-sort when none are declared. Callers must not
    * unpersist or OpCaches-track it (see [[sessionEdgeIndex]]). */
  private def eidIndex(spark: SparkSession, view: DataFrame): DataFrame =
    sessionEdgeIndex(spark, view, "eid") {
      if (view.columns.contains("eid")) view
      else Snapshot.denseEdgeIds(spark, view, Seq("src", "dst"))
    }

  /** Distributed twin of [[collectMemo]]: persisted edge-index frames by
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
      // (measured: q35 sf4 2.6-2.7 s at 32 partitions vs 1.7-2.1 s at
      // 4). One count at build time (the edge view is typically
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
    val local = for {
      (g, seedArr) <- localInputs(edgePairs(edges), seeds)
      // target ids are vertex ids: gated like them
      targetIds <- targets.fold(Option(Option.empty[Set[Long]]))(t =>
        collectUnder(dropNullIds(t, t.columns.head)
            .select(col(t.columns.head).cast("long")),
          localMaxRows(t.sparkSession)).map(c => Some(c.longs(0).toSet)))
    } yield {
      import spark.implicits._
      LocalKernels.bfsDistances(g, seedArr,
        maxDepth.getOrElse(Long.MaxValue), targetIds)
        .toSeq.toDF("src", "dst", "dist")
    }
    local.getOrElse {
    // memo-owned distributed CSR (see sessionEdgeIndex) — never
    // unpersisted here
    val clean = dropNullEndpoints(edges.select(col("src"), col("dst")))
    val e = sessionEdgeIndex(spark, clean, "pair")(clean)
    targets match {
      case Some(t) =>
        bidirectionalDistances(spark, e, dropNullIds(seeds),
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
        val seedRows = settle(dropNullIds(seeds).select(col("id").as("src"),
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
      lower: Long, upper: Option[Long]): DataFrame = {
    val view = eidView(edges)
    localInputs(view, seeds).map { case (g, seedArr) =>
      import spark.implicits._
      LocalKernels.shortestPaths(
        g, seedArr, lower, upper.getOrElse(Long.MaxValue))
        .toSeq.map(t => (t._1, t._2, t._3, t._4.toSeq))
        .toDF("src", "dst", "dist", "path")
    }.getOrElse(distributedShortestPaths(spark, eidIndex(spark, view), seeds,
      lower, upper))
  }

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
    val seedRows = dropNullIds(seeds).select(col("id").cast("long").as("src"))
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
    * @param topK Some(k): only the k least paths per (src, dst) under
    *             (dist, lexicographic path) order — [[kShortestPaths]];
    *             ranked on the driver by the local branch, by a window
    *             on the distributed one
    * @return (src, dst, dist, path) — `path` interleaved `[v,e,…,v]`,
    *         one row per distinct mode-valid path with lower ≤ dist ≤ upper
    */
  def enumerateModePaths(spark: SparkSession, edges: DataFrame,
      seeds: DataFrame, lower: Long, upper: Option[Long],
      mode: PathMode, topK: Option[Int] = None): DataFrame = {
    require(upper.forall(_ >= 0), "negative upper bound")
    if (mode == PathMode.Walk && upper.isEmpty)
      throw GraphAnalysisException(
        "WALK enumeration needs a finite upper bound")
    val view = eidView(edges)
    localInputs(view, seeds).map { case (g, seedArr) =>
      // the per-vertex top-k prune is only sound for WALK (see
      // LocalKernels.kShortestWalks); mode-constrained sets are finite
      val res = (mode, topK) match {
        case (PathMode.Walk, Some(kk)) => LocalKernels.kShortestWalks(
          g, seedArr, lower, upper.getOrElse(Long.MaxValue), kk)
        case _ => LocalKernels.enumeratePaths(
          g, seedArr, lower, upper.getOrElse(Long.MaxValue), mode)
      }
      val pathOrder = Ordering.Tuple2(Ordering.Long,
        Ordering.Implicits.seqOrdering[Seq, Long])
      import spark.implicits._
      topK.fold(res.iterator)(k => res.groupBy(t => (t._1, t._2))
          .valuesIterator.flatMap(_.sortBy(t => (t._3, t._4.toSeq))(pathOrder)
            .take(k)))
        .map(t => (t._1, t._2, t._3, t._4.toSeq)).toSeq
        .toDF("src", "dst", "dist", "path")
    }.getOrElse {
    val e = eidIndex(spark, view)
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
      dropNullIds(seeds).select(col("id").cast("long").as("src")).distinct()
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
      val next = (topK match {
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
    topK.fold(out) { k =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("src", "dst").orderBy(col("dist"), col("path"))
      out.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k).drop("__rn")
    }
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
    enumerateModePaths(spark, edges, seeds, lower, upper, mode,
      topK = Some(k))
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
    val view = eidView(edges)
    localInputs(view, seeds).map { case (g, seedArr) =>
      import spark.implicits._
      LocalKernels.allShortestPaths(
        g, seedArr, lower, upper.getOrElse(Long.MaxValue))
        .toSeq.map(t => (t._1, t._2, t._3, t._4.toSeq))
        .toDF("src", "dst", "dist", "path")
    }.getOrElse {
    val e = eidIndex(spark, view)
    val limit = upper.getOrElse(Long.MaxValue)
    val seedRows = dropNullIds(seeds).select(col("id").cast("long").as("src"))
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
        // one suffix [pv, pe, dst] per parent alternative of a terminal
        val paths = unwindRoutes(parents.filter(col("k") >= lower)
          .select(col("src"), col("v").as("dst"), col("k").as("dist"),
            (col("k") - 1L).as("left"), col("pv").as("cur"),
            array(col("pv"), col("pe"), col("v")).as("suf")),
          parents, "v", "dist")
        parents.unpersist()
        paths
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
    val view = clean.select(col("src").cast("long"), col("dst").cast("long"),
      col("w").cast("double"))
    localInputs(view, seeds).map { case (g, seedArr) =>
      import spark.implicits._
      LocalKernels.cheapestRoutes(g, seedArr).toSeq
        .map(r => (r._1, r._2, r._3)).toDF("src", "dst", "cost")
    }.getOrElse {
    // memo-owned distributed CSR (see sessionEdgeIndex)
    val e = sessionEdgeIndex(spark, clean, "wpair")(clean)
    var dist = dropNullIds(seeds).select(col("id").as("src"), col("id").as("dst"),
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
    val hasEid = edges.columns.contains("eid")
    val view = dropNullEndpoints(edges).filter(col("w").isNotNull)
      .select(Seq(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("double").as("w")) ++
        (if (hasEid) Seq(col("eid").cast("long").as("eid")) else Nil): _*)
    // without declared ids both branches rank edges by (src, dst, w) — a
    // CSR slot index locally — so the id assignment (and thus the
    // (cost, hops, pv, pe) tie-break) cannot drift between the local
    // kernel and the distributed relaxation
    localInputs(view, seeds).map { case (g, seedArr) =>
      import spark.implicits._
      LocalKernels.cheapestRoutes(g, seedArr).toSeq
        .map(t => (t._1, t._2, t._3, t._4.toSeq))
        .toDF("src", "dst", "cost", "path")
    }.getOrElse {
    // memo-owned distributed CSR (see sessionEdgeIndex)
    val e = sessionEdgeIndex(spark, view, "weid") {
      if (hasEid) view
      else Snapshot.denseEdgeIds(spark, view, Seq("src", "dst", "w"))
    }
    // ---- distributed relaxation: narrow rows only ----
    var dist = dropNullIds(seeds).select(col("id").cast("long").as("src"))
      .distinct()
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
    val routes = unwindRoutes(dist.filter(col("hops") > 0L)
      .select(col("src"), col("dst"), col("cost"),
        (col("hops") - 1L).as("left"), col("pv").as("cur"),
        array(col("pv"), col("pe"), col("dst")).as("suf")),
      dist, "dst", "cost")
    // e is memo-owned (sessionEdgeIndex) — no unpersist here
    (dist.filter(col("hops") === 0L).select(col("src"), col("dst"),
      col("cost"), array(col("src")).as("path")) +: routes).reduce(_ union _)
    }
  }

  /** The route unwind of [[allShortestPaths]] and [[cheapestRoutes]]:
    * each row (src, dst, `carry`, left, cur, suf) of `start` holds a path
    * suffix `suf` that begins at `cur` and still lacks `left` edges. A
    * round joins the unfinished rows to every parent alternative of
    * `cur` in `parents` (src, `at`, pv, pe) and prepends [pv, pe] — a
    * cartesian per level where a vertex keeps several parents, which is
    * the path fan-out itself — until no row lacks an edge.
    *
    * @return (src, dst, `carry`, path) frames, one per round
    */
  private def unwindRoutes(start: DataFrame, parents: DataFrame, at: String,
      carry: String): Seq[DataFrame] = {
    val done = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var active = start.transform(ckpt)
    while (!active.isEmpty) {
      done += active.filter(col("left") === 0L)
        .select(col("src"), col("dst"), col(carry), col("suf").as("path"))
      active = active.filter(col("left") > 0L).alias("a")
        .join(parents.alias("p"),
          col("a.src") === col("p.src") && col("a.cur") === col(s"p.$at"))
        .select(col("a.src").as("src"), col("a.dst").as("dst"),
          col(s"a.$carry").as(carry), (col("a.left") - 1L).as("left"),
          col("p.pv").as("cur"),
          concat(array(col("p.pv"), col("p.pe")), col("a.suf")).as("suf"))
        .transform(ckpt)
    }
    done.toSeq
  }

  /** Reachability — semantics of reference `reachability`
    * (`reachability.cpp:165-254`): true iff a directed path exists
    * (0 hops ⇒ src = dst is reachable). */
  def reachablePairs(spark: SparkSession, edges: DataFrame,
      seeds: DataFrame): DataFrame =
    bfsDistances(spark, edges, seeds, None)
      .select(col("src"), col("dst"), lit(true).as("reachable"))
}
