package graft.compiler

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._
import graft.pgq._
import graft.graph.{PathFinder, PlanMemo}

/** Compiles a [[MatchSpec]] (the SQL/PGQ `GRAPH_TABLE(... MATCH ...)` body)
  * to a plain DataFrame — the Spark-native analogue of the reference's
  * `PGQMatchFunction::MatchBindReplace` (`src/core/functions/table/match.cpp:969-1093`),
  * which compiles MATCH to relational SQL (cross joins + conjunctive WHERE).
  *
  * Spark-first difference: instead of emitting cross joins and relying on the
  * host to recover hash joins, we emit *explicit equi-joins* so Catalyst
  * starts from the right plan shape (broadcast/hash join selection, AQE skew
  * handling, predicate pushdown to the parquet scans all apply untouched).
  * Variable-length paths and ANY SHORTEST become a distance/path DataFrame
  * produced by a batched BFS kernel ([[graft.graph.PathFinder]]) joined into
  * the pattern — the plan-level mirror of the reference's CSR + scalar-UDF
  * predicate trick (match.cpp:673-707), minus the zero-row CTE plumbing that
  * Spark doesn't need (we control materialization order directly).
  */
object GraphTableCompiler {

  /** Non-unique-vertex probe verdicts by lower-cased key tuple. */
  private val uniqueKeyVerdicts = new PlanMemo[Boolean](64)

  /** Dense-id mapping frames (composite rowid maps, dense edge ids) by
    * tag, keyed on the BASE table plan. These were per-compile caches,
    * which made every graphTable() call (a) re-run the distinct+sort+
    * zipWithIndex jobs at COMPILE time and (b) produce a FRESH
    * RDD-backed plan, so every downstream plan-identity memo (edge
    * memo, gate memo, session edge index) missed on every call — the
    * measured q93 warm-compile wall was exactly these rebuild jobs.
    * Every frame the memo lets go of is unpersisted (lazy consumers
    * recompute — same contract as the session edge index). */
  private[graft] val idMapMemo =
    new PlanMemo[DataFrame](16, df => { df.unpersist(false); () })

  /** COLLECTED (`__from` → `__to`) bijection maps for the size-gated
    * local translation path, by gate value — Some(map) under the gate,
    * None (= use the distributed join pipeline) over it. Entries are
    * plain driver maps bounded by the gate. */
  private val localMapMemo = new PlanMemo[Option[Map[Long, Long]]](16)

  /** Row cap of the local translation path's collected maps. */
  private val localMapMaxRows = 65536L

  /** Size-gated driver collect of a two-long-column bijection frame:
    * Some(map) when the pair set fits [[localMapMaxRows]], else None. A
    * fused limit-probe + collect, memoized for the session — repeated
    * compiles (and the quantifier splits within one compile) pay ZERO
    * jobs after the first. */
  private def localPairMap(spark: SparkSession, m: DataFrame)
      : Option[Map[Long, Long]] = {
    val gate = localMapMaxRows
    localMapMemo.getOrBuild(PlanMemo.id(m), gate) {
      val rows = m.limit(gate.toInt + 1).collect()
      // Bijection contract, asserted at collect time: a null key/value
      // would unbox to 0L (a spurious 0 -> x mapping the join branch's
      // null-never-matches semantics would not emit), and a duplicate
      // __from would silently collapse to one entry where the join branch
      // emits both matches. Either defect → fall back to the join path.
      if (rows.length <= gate && rows.forall(r =>
          !r.isNullAt(0) && !r.isNullAt(1))) {
        val built = rows.iterator.map(r => r.getLong(0) -> r.getLong(1)).toMap
        if (built.size == rows.length) Some(built) else None
      } else None
    }
  }

  private def sessionIdMap(base: DataFrame, tag: String)(
      build: => DataFrame): DataFrame =
    idMapMemo.getOrBuild(PlanMemo.id(base), tag) {
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private final case class Binding(alias: String, isVertex: Boolean,
      table: String, keyCols: Seq[String] = Nil)

  /** One enumerated quantified segment of the current pattern, for the
    * mixed-pattern mode filters: the in-plan interleaved path column plus
    * the identity spaces its values live in. */
  private final case class ModeSeg(pathCol: String, et: EdgeTable,
      vtTable: String, refKeys: Seq[String], keyNumeric: Boolean,
      homo: Boolean, headAlias: String, tailAlias: String)

  /** Per-segment record for the PER-SEGMENT translation route (a named
    * path whose segments span more than one vertex-key space). Carries
    * what the assembly needs to build (a) the segment's string-surrogate
    * form — each segment through its OWN space — and (b) a CANONICAL
    * long-typed form for whole-path prefix ranking, where every vertex
    * slot of one TABLE is expressed in one chosen space so equal rows
    * compare equal and distinct rows never collide across spaces.
    * [[FixedRec]] builds both forms straight from its alias columns;
    * [[QuantRec]] names an in-plan segment column (string form via its
    * own mapping join for composite spaces, canonical form via a
    * vertex-slot bijection translation when its space is not the
    * table's canonical one). */
  private sealed trait SegRec
  private final case class FixedRec(strArr: org.apache.spark.sql.Column,
      aAlias: String, aTable: String, aKeys: Seq[String], aNum: Boolean,
      eid: org.apache.spark.sql.Column,
      bAlias: String, bTable: String, bKeys: Seq[String], bNum: Boolean)
      extends SegRec
  private final case class QuantRec(colName: String, table: String,
      keys: Seq[String], numeric: Boolean,
      ids: Option[(org.apache.spark.sql.DataFrame, Int)]) extends SegRec

  def compile(
      spark: SparkSession,
      spec: MatchSpec,
      pg: PropertyGraph,
      resolver: TableResolver): DataFrame = {

    var plan: DataFrame = null
    var anonCounter = 0

    // --- Compile-time broadcast-side choice (r15; guide §3.1/§3.2) ---
    // Catalyst's non-CBO size estimate for a JOIN node is the product of
    // its children, so an accumulated chain like customer⋈orders is never
    // estimated small enough to broadcast against the next big table: the
    // join plans as sort-merge and AQE converts it mid-query — after the
    // big side's map stage already wrote its shuffle. The compiler knows
    // more than Catalyst here: every chain join binds a fresh base table
    // on key equality, so the Σ of the bound tables' ON-DISK footer bytes
    // is a sound size signal for the accumulated side WHILE row counts
    // provably cannot multiply (tracked below). When a side's footprint
    // is under 64 MB on disk (far under the guide's "few hundred MB is
    // fine" and Spark's 8 GB broadcast cap), hint THAT side. The decision
    // input is the data's actual footprint, never a tuned constant: at
    // production scale no side qualifies and plans are unchanged.
    val broadcastMax = 64L * 1024 * 1024
    // Σ on-disk bytes of the tables joined into `plan`; -1 = unknown or
    // poisoned (kernel frames, cross joins, possible row multiplication,
    // or simply grown past broadcastMax — no future plan-side hint, so
    // stop paying for bound upkeep, including its uniqueness probes).
    // LAZY with force-once caching: the uniqueness probes that certify
    // row preservation run only when a LATER join actually consults the
    // bound — a terminal hop never pays for probes that only matter to
    // hops that never come.
    object footprintState {
      var planFootprintEval: () => Long = () => -1L
      var chainUniqueEval: () => Boolean = () => false
    }
    def planFootprint: Long = {
      val v = footprintState.planFootprintEval()
      footprintState.planFootprintEval = () => v
      v
    }
    def setPlanFootprint(v: Long): Unit =
      footprintState.planFootprintEval = () => v
    // every current plan row is a DISTINCT row of the last-bound vertex's
    // table — the precondition under which the NEXT edge join cannot
    // multiply rows beyond that edge's own row count
    def chainUnique: Boolean = {
      val v = footprintState.chainUniqueEval()
      footprintState.chainUniqueEval = () => v
      v
    }
    def setChainUnique(v: Boolean): Unit =
      footprintState.chainUniqueEval = () => v
    def chainUniqueLazy(f: () => Boolean): Unit =
      footprintState.chainUniqueEval = f
    /** The CURRENT chainUnique thunk — capture at join-emission time so
      * a preserved-thunk forced hops later reads the flag of ITS epoch,
      * not whatever a later hop installed. */
    def chainUniqueThunk: () => Boolean = footprintState.chainUniqueEval

    def tableFootprintBytes(tableName: String): Long =
      graft.graph.PathFinder.relationFootprintBytes(
        resolver(spark, tableName))

    /** Emit `plan ⋈ df` with a broadcast hint on a side whose footprint
      * bound qualifies. The LEAF side is preferred when it qualifies:
      * hinting a base table needs no uniqueness probes, so the
      * accumulated bound (and the probe jobs that keep it sound) is
      * forced ONLY when the incoming table is too big to broadcast —
      * i.e. exactly when the plan-side hint is the one that can save a
      * big-side shuffle. Callers advance or poison the bound with the
      * join's multiplicity knowledge. */
    def sizedJoin(df: DataFrame, cond: Column, dfBytes: Long): Unit = {
      val hintDf = dfBytes >= 0 && dfBytes <= broadcastMax
      val hintPlan = !hintDf && {
        val pB = planFootprint // forces the bound (and its lazy probes)
        pB >= 0 && pB <= broadcastMax
      }
      plan = (if (hintPlan) broadcast(plan) else plan)
        .join(if (hintDf) broadcast(df) else df, cond, "inner")
    }

    /** Advance the footprint bound past a join that added `addBytes` of
      * table data; `preserved` (lazy — usually a memoized uniqueness
      * probe) certifies the join could not multiply plan rows. Deferred:
      * `preserved` is forced only if a later join consults the bound. */
    def advanceFootprint(addBytes: Long, preserved: => Boolean): Unit = {
      // capture the PREVIOUS thunk, never force here: the whole chain of
      // bounds (and their uniqueness probes) evaluates only if a later
      // join actually consults it, and the force-once caching collapses
      // the chain after the first consult
      val prev = footprintState.planFootprintEval
      footprintState.planFootprintEval = () => {
        val base = prev()
        if (base < 0 || addBytes < 0) -1L
        else if (base + addBytes > broadcastMax) -1L
        else if (preserved) base + addBytes
        else -1L
      }
    }
    // varName -> binding (shared across comma-separated patterns, reference
    // match.cpp:982-989)
    val bindings = scala.collection.mutable.LinkedHashMap[String, Binding]()
    // pathVar -> path column name, for path column functions (A14)
    val pathCols = scala.collection.mutable.Map[String, String]()
    // varName(lowercased) -> plan alias, for vertex bindings FUSED into
    // their adjacent edge's frame (identity self-join elimination): the
    // variable has no aliased frame of its own, so every qualified
    // reference `v.prop` in WHERE/COLUMNS must be rewritten to the
    // carrying edge's alias
    val fusedAliases = scala.collection.mutable.Map[String, String]()

    /** `expr(sql)` with fused-binding qualifiers rewritten: any
      * `v.prop` where `v` is a fused vertex variable becomes
      * `edgeAlias.prop`. A no-op (plain `expr`) while nothing is fused —
      * the overwhelmingly common case. */
    def rexpr(sql: String): Column =
      if (fusedAliases.isEmpty) expr(sql)
      else {
        import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        val parsed =
          try spark.sessionState.sqlParser.parseExpression(sql)
          catch { case _: Exception => return expr(sql) }
        val rewritten = parsed.transform {
          case ua: UnresolvedAttribute if ua.nameParts.length >= 2 &&
              fusedAliases.contains(ua.nameParts.head.toLowerCase) =>
            UnresolvedAttribute(
              fusedAliases(ua.nameParts.head.toLowerCase) +: ua.nameParts.tail)
        }
        org.apache.spark.sql.graftbridge.Bridge.column(rewritten)
      }

    /** The VERTEX binding answering for plan alias `a`: normally the
      * binding named `a` (alias == name), but a vertex fused into an edge
      * frame answers for the EDGE's alias — prefer it over the edge's own
      * binding so mode filters compare vertex row identity. */
    def vertexBindingAt(a: String): Binding =
      bindings.get(a).filter(_.isVertex).getOrElse(
        bindings.values.find(b => b.isVertex && b.alias == a)
          .getOrElse(bindings(a)))

    def freshName(prefix: String): String = {
      anonCounter += 1; s"__${prefix}$anonCounter"
    }

    // Synthetic dense edge ids (`__geid`) for named paths over edge tables
    // with no declared edgeIdCol — the Spark analogue of the reference's
    // physical edge rowids in path arrays (shortest_path.cpp:212-217):
    // multigraph parallel edges keep distinct ids, and a given physical
    // edge carries the SAME id whether it is traversed by a fixed hop, a
    // quantified kernel, or either orientation of an undirected/reversed
    // view (the id is attached to the row before any view is built).
    // One ranking job per referenced table per compile — the counterpart
    // of the reference's per-query CSR build.
    val denseEidCache = scala.collection.mutable.Map[String, DataFrame]()
    def withDenseEid(et: EdgeTable): DataFrame =
      denseEidCache.getOrElseUpdate(et.tableName, {
        val df = resolver(spark, et.tableName)
        import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
        val sortable = df.schema.fields.collect {
          case f if !f.dataType.isInstanceOf[ArrayType] &&
            !f.dataType.isInstanceOf[MapType] &&
            !f.dataType.isInstanceOf[StructType] => f.name
        }.toSeq
        // keys first for a stable, meaningful order; remaining sortable
        // columns disambiguate parallel edges deterministically
        val order = (et.srcKeys ++ et.dstKeys ++ sortable).distinct
          .filter(sortable.contains)
        // session memo: same rationale as rowidMapping — a fresh
        // zipWithIndex RDD per compile re-paid the sort jobs and broke
        // downstream plan-identity memos
        sessionIdMap(df, "eid:" + order.mkString("\u0001")) {
          graft.graph.Snapshot.denseEdgeIds(spark, df, order, "__geid")
        }
      })

    /** Sub-label inheritance filter (reference match.cpp:278-296):
      * (discriminator & 2^idx) = 2^idx. Shared by vertex and edge tables
      * — the reference stores the discriminator fields on the common
      * table struct (property_graph_table.hpp:40-54). `qualifier` scopes
      * the column for already-aliased plans (re-labeled bindings). */
    def subLabelFilter(df: DataFrame, subLabels: Seq[String],
        discriminator: Option[String], label: Option[String],
        tableName: String, qualifier: Option[String] = None): DataFrame =
      label match {
        case Some(l) if subLabels.exists(_.equalsIgnoreCase(l)) =>
          val idx = subLabels.indexWhere(_.equalsIgnoreCase(l))
          val mask = 1L << idx
          val disc = discriminator.getOrElse(throw GraphAnalysisException(
            s"Label '$l' needs a discriminator column on '$tableName'"))
          val c = qualifier.map(q => col(s"$q.$disc")).getOrElse(col(disc))
          df.filter((c.bitwiseAND(lit(mask))) === lit(mask))
        case _ => df
      }

    /** DuckDB's `rowid` pseudo-column: tables registered through a
      * rowid-aware resolver (the sqllogictest session, or any user
      * resolver that appends one) carry a hidden `__rowid` column in
      * insertion order; expose it as `rowid` when the table has no real
      * column of that name (DuckDB's shadowing rule). Stars never expand
      * either spelling — see starCols. */
    def withRowid(df: DataFrame): DataFrame =
      if (df.columns.contains("__rowid") &&
          !df.columns.exists(_.equalsIgnoreCase("rowid")))
        df.withColumn("rowid", col("__rowid"))
      else df

    def vertexDF(v: VertexTable, label: Option[String]): DataFrame =
      subLabelFilter(withRowid(resolver(spark, v.tableName)), v.subLabels,
        v.discriminator, label, v.tableName)

    /** Bind a vertex pattern: join (or reuse) its table; returns alias.
      * `joinCond` builds the join condition given the final alias.
      * `hint` resolves a label-less vertex from its adjacent edge's
      * declared endpoint (the reference resolves unlabeled bindings the
      * same way — grammar permits omission, pgq.gram:54-63). */
    def bindVertex(vp: VertexPattern,
        joinCond: Option[String => Column],
        hint: Option[String] = None,
        fuse: Option[(String, String, Seq[String], Seq[String])] = None,
        boundRefKeys: Option[Seq[String]] = None)
        : String = {
      val name = vp.varName.getOrElse(freshName("v"))
      bindings.get(name) match {
        case Some(b) =>
          // repeated variable (cycles): reuse the alias; apply the join
          // condition plus any label/WHERE the re-occurrence carries
          joinCond.foreach(c => plan = plan.filter(c(b.alias)))
          vp.label.foreach { l =>
            val vt = pg.vertexLabel(l)
            if (vt.tableName != b.table)
              throw GraphAnalysisException(
                s"Variable '$name' is bound to '${b.table}' but re-labeled " +
                  s"'$l' (table '${vt.tableName}')")
            plan = subLabelFilter(plan, vt.subLabels, vt.discriminator,
              Some(l), vt.tableName, qualifier = Some(b.alias))
          }
          vp.where.foreach(w => plan = plan.filter(rexpr(w)))
          b.alias
        case None =>
          // label-less vertex: the adjacent edge's endpoint table, or the
          // graph's only vertex table when unambiguous
          val label = vp.label.orElse(hint).getOrElse(
            if (pg.vertexTables.length == 1) pg.vertexTables.head.label
            else throw GraphAnalysisException(
              s"Vertex '$name' needs a label (no adjacent edge determines " +
                "it and multiple vertex tables are registered)"))
          val vt = pg.vertexLabel(label)
          // Identity self-join fusion: when the adjacent edge's endpoint
          // columns ARE this vertex's key columns on the SAME table
          // (`orders.o_orderkey = orders.o_orderkey`) and the key is
          // unique (memoized probe), the join is the identity — serve
          // the vertex from the edge's own row instead of re-scanning
          // the table and self-joining. DuckDB's optimizer recovers this
          // from the reference's cross-join soup (SURVEY §4); Spark has
          // no self-join elimination, so the compiler must not emit it.
          // Qualified references `v.prop` rewrite to the edge alias
          // through [[rexpr]]/[[fusedAliases]].
          val fusible = fuse.exists { case (_, eTable, eKeys, eRefKeys) =>
            plan != null && vt.tableName == eTable &&
            eKeys.map(_.toLowerCase) == eRefKeys.map(_.toLowerCase) &&
            eRefKeys.map(_.toLowerCase) == vt.keyCols.map(_.toLowerCase) &&
            !hasDuplicateKeys(vt, vt.keyCols)
          }
          if (fusible) {
            val eAlias = fuse.get._1
            bindings(name) = Binding(eAlias, isVertex = true, vt.tableName,
              vt.keyCols)
            fusedAliases(name.toLowerCase) = eAlias
            // identity-join null semantics: a null endpoint key matches
            // no vertex row (same column on both sides of the eliminated
            // equality)
            vt.keyCols.foreach(k => plan = plan.filter(
              col(s"$eAlias.`${k.replace("`", "``")}`").isNotNull))
            plan = subLabelFilter(plan, vt.subLabels, vt.discriminator,
              vp.label, vt.tableName, qualifier = Some(eAlias))
            vp.where.foreach(w => plan = plan.filter(rexpr(w)))
            eAlias
          } else {
            var df = vertexDF(vt, vp.label).alias(name)
            vp.where.foreach(w => df = df.filter(expr(w)))
            bindings(name) = Binding(name, isVertex = true, vt.tableName,
              vt.keyCols)
            val vBytes = tableFootprintBytes(vt.tableName)
            (plan, joinCond) match {
              case (null, _) =>
                // chain head: one plan row per (distinct) table row
                setPlanFootprint(
                  if (vBytes >= 0 && vBytes <= broadcastMax) vBytes else -1L)
                setChainUnique(true)
                plan = df
              case (_, Some(c)) =>
                // vertex joined on its declared reference keys: rows
                // preserved iff those keys are unique on the table
                // (memoized probe, forced only while the bound is live)
                sizedJoin(df, c(name), vBytes)
                advanceFootprint(vBytes, boundRefKeys.exists(ks =>
                  !hasDuplicateKeysTable(vt.tableName, ks)))
              case (_, None) =>
                plan = plan.crossJoin(df)
                setPlanFootprint(-1L)
                setChainUnique(false)
            }
            name
          }
      }
    }

    /** Label-less edges resolve to the graph's only edge table when
      * unambiguous (mirrors the vertex-side hint resolution). */
    def resolveEdge(eName: String, label: Option[String]): EdgeTable =
      label match {
        case Some(l) => pg.edgeLabel(l)
        case None if pg.edgeTables.length == 1 => pg.edgeTables.head
        case None => throw GraphAnalysisException(
          s"Edge '$eName' needs a label (multiple edge tables registered)")
      }

    /** Edge sub-label inheritance filter — same bitmask semantics as
      * vertices (reference match.cpp:278-296; edge tables share the
      * discriminator fields, property_graph_table.hpp:40-54). */
    def edgeSubFilter(df: DataFrame, et: EdgeTable,
        label: Option[String]): DataFrame =
      subLabelFilter(df, et.subLabels, et.discriminator, label, et.tableName)

    /** Declared edge-id columns must be integral — casting a string id to
      * long would silently null every eid in the path arrays. */
    /** Case-insensitive schema lookup — declared keys may differ in case
      * from the physical column (`REFERENCES School (id)` vs column `Id`,
      * shortest_path.test:37; Spark SQL resolution is case-insensitive, so
      * Scala-side schema access must be too). */
    def fieldType(df: DataFrame, name: String)
        : org.apache.spark.sql.types.DataType =
      df.schema.find(_.name.equalsIgnoreCase(name))
        .getOrElse(df.schema(name)).dataType

    def requireIntegralEdgeId(et: EdgeTable, c: String): Unit =
      fieldType(resolver(spark, et.tableName), c) match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => ()
        case other => throw GraphAnalysisException(
          s"edgeIdCol '$c' of '${et.tableName}' must be an integral " +
            s"column (found $other)")
      }

    def requireUniqueKeys(vt: VertexTable, keys: Seq[String]): Unit =
      if (hasDuplicateKeys(vt, keys)) throw GraphAnalysisException(
        "Non-existent/non-unique vertices detected. Make sure all " +
          "vertices referred by edge tables exist and are unique for " +
          "path-finding queries")

    def hasDuplicateKeys(vt: VertexTable, keys: Seq[String]): Boolean =
      hasDuplicateKeysTable(vt.tableName, keys)

    def hasDuplicateKeysTable(tableName: String, keys: Seq[String])
        : Boolean = {
      val df = resolver(spark, tableName)
      // repeated queries over the same tables skip the probe job
      // entirely (it cost ~0.3 s of local-mode job overhead PER QUERY on
      // the composite-path bench set)
      GraphTableCompiler.uniqueKeyVerdicts.getOrBuild(PlanMemo.id(df),
          keys.map(_.toLowerCase).mkString(",")) {
        df.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("__c"))
          .filter(col("__c") > 1).limit(1).count() > 0
      }
    }

    def numericKey(vt: VertexTable, key: String): Boolean =
      fieldType(resolver(spark, vt.tableName), key) match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => true
        case _ => false
      }

    def keysEq(aAlias: String, aCols: Seq[String], bAlias: String,
        bCols: Seq[String]): Column =
      aCols.zip(bCols).map { case (ac, bc) =>
        col(s"$aAlias.$ac") === col(s"$bAlias.$bc")
      }.reduce(_ && _)

    /** Undirected edge view: original UNION ALL swapped src/dst
      * (reference `EdgeTypeAny` match.cpp:365-392). Requires both
      * endpoints in one key space — swapping src/dst values is meaningless
      * across different vertex tables/keys. */
    def undirectedView(df: DataFrame, et: EdgeTable): DataFrame = {
      val sVt = pg.vertexLabel(et.srcLabel)
      val dVt = pg.vertexLabel(et.dstLabel)
      if (sVt.tableName != dVt.tableName || et.srcRefKeys != et.dstRefKeys)
        throw GraphAnalysisException(
          s"Undirected edge '${et.label}' requires source and destination " +
            "to reference the same vertex table and keys")
      val swap = (et.srcKeys.zip(et.dstKeys) ++ et.dstKeys.zip(et.srcKeys)).toMap
      val swapped = df.select(df.columns.map { c =>
        swap.get(c).map(o => col(o).as(c)).getOrElse(col(c))
      }.toIndexedSeq: _*)
      df.unionByName(swapped)
    }

    // enumerated segments of the pattern being processed (cleared per
    // pattern; filled by bindPathEdge on the enumeration route)
    val currentModeSegs = scala.collection.mutable.ArrayBuffer[ModeSeg]()

    /** Translates an `array<long>` interleaved path column to stable
      * string surrogates: even (vertex) slots become the '|'-joined
      * declared key tuple looked up in the dense-rowid map `ids`
      * (`__raw` struct ↔ `__rowid`), odd (edge) slots the edge id as
      * text. Distributed — distinct arrays posexploded, joined, and
      * re-collected in slot order; the join-back on array equality is a
      * many-to-one attach, so row multiplicity is preserved. */
    def surrogatizeArrayCol(df: DataFrame, c: String, ids: DataFrame,
        nKeys: Int): DataFrame = {
      val surr = concat_ws("|", (0 until nKeys).map(i =>
        col("__raw").getField(s"_k$i").cast("string")): _*)
      val pos = df.select(col(c).as("__parr")).distinct()
        .select(col("__parr"),
          posexplode(col("__parr")).as(Seq("__pos", "__el")))
      val tr = pos
        .join(ids.select(col("__rowid").as("__el"), col("__raw")),
          Seq("__el"), "left")
        .withColumn("__s", when(col("__pos") % 2 === 1,
          col("__el").cast("string")).otherwise(surr))
      val arr = tr.groupBy("__parr")
        .agg(transform(
          array_sort(collect_list(struct(col("__pos"), col("__s")))),
          x => x.getField("__s")).as("__sparr"))
      df.join(arr, df(c) === arr("__parr"))
        .drop(c).drop("__parr")
        .withColumnRenamed("__sparr", c)
    }


    // set by bindPathEdge's composite-key branch when an ENUMERATION
    // pattern exposes element_id/vertices/edges: the per-segment arrays
    // must stay long-typed for the cross-element mode filters, so the
    // translation is deferred to the CONCATENATED path column (built
    // after the filters run). (ids, #key cols, vertex table, ref keys).
    var pendingPathSurrogate: Option[(DataFrame, Int, String, Seq[String])] =
      None

    /** Key tuple as a comparable struct with normalized field names (so
      * vertex-side and edge-side structs are type-equal for joins). */
    def keyStruct(cols: Seq[String], qual: Option[String]): Column =
      struct(cols.zipWithIndex.map { case (c, i) =>
        qual.map(q => col(s"$q.$c")).getOrElse(col(c)).as(s"_k$i")
      }: _*)

    // Dense rowids over the DISTINCT key tuples of one vertex table
    // (distributed sort + zipWithIndex — the Snapshot strategy; struct
    // sort order is field-by-field, deterministic). Memoized per
    // (table, keys): every quantified kernel, fixed hop and mode filter
    // that shares a key space MUST share one mapping, or dense ids
    // would not be comparable across elements.
    val rowidMaps =
      scala.collection.mutable.Map[(String, Seq[String]), DataFrame]()
    def rowidMapping(tableName: String, keys: Seq[String]): DataFrame =
      rowidMaps.getOrElseUpdate((tableName, keys), {
        // session memo: stable frame identity across compiles — without
        // it every call re-ran the sort+zipWithIndex jobs AND broke all
        // downstream plan-identity memos (fresh RDD plan per call)
        val base = resolver(spark, tableName)
        sessionIdMap(base, "rowid:" + keys.mkString("\u0001")) {
          val keyRows = base
            .select(keyStruct(keys, None).as("__raw")).distinct()
          spark.createDataFrame(
            keyRows.sort("__raw").rdd.zipWithIndex.map { case (r, i) =>
              org.apache.spark.sql.Row(r.get(0), i)
            },
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("__raw",
                keyRows.schema.head.dataType),
              org.apache.spark.sql.types.StructField("__rowid",
                org.apache.spark.sql.types.LongType, nullable = false))))
        }
      })

    // one dense-rowid column per (alias, key space), attached to the
    // plan by an inner join against the mapping (inner: kernels drop
    // null-key endpoints the same way)
    val aliasRowidCols =
      scala.collection.mutable.Map[(String, Seq[String]), String]()
    def attachAliasRowid(alias: String, keys: Seq[String],
        ids: DataFrame): String =
      aliasRowidCols.getOrElseUpdate((alias, keys), {
        val c = freshName(s"__rowid_$alias")
        plan = plan.join(
          ids.select(col("__raw"), col("__rowid").as(c)),
          keyStruct(keys, Some(alias)) === col("__raw")).drop("__raw")
        setPlanFootprint(-1L) // derived mapping frame: size unknown
        setChainUnique(false)
        c
      })

    /** Bijection between two vertex-identity SPACES of one table, built
      * through the table's own rows: (`__from` → `__to`) long pairs.
      * Numeric spaces use the raw key value, composite/non-numeric ones
      * their dense rowid from the shared memoized mapping. Both declared
      * key sets are unique over the table (kernel-verified for every
      * quantified segment), so the map is one row per table row and a
      * translation through it preserves multiplicity. */
    def spaceBijection(table: String,
        fromKeys: Seq[String], fromNumeric: Boolean,
        toKeys: Seq[String], toNumeric: Boolean): DataFrame = {
      def side(df: DataFrame, keys: Seq[String], numeric: Boolean,
          out: String): DataFrame =
        if (numeric) df.withColumn(out, col(keys.head).cast("long"))
        else df.join(rowidMapping(table, keys)
            .select(col("__raw"), col("__rowid").as(out)),
          keyStruct(keys, None) === col("__raw")).drop("__raw")
      side(side(resolver(spark, table), fromKeys, fromNumeric, "__from"),
        toKeys, toNumeric, "__to").select("__from", "__to")
    }

    /** Translates every slot of an `array<long>` id column through a
      * (`__from` → `__to`) map — distinct arrays posexploded, joined,
      * re-collected in slot order (the [[surrogatizeArrayCol]] shape).
      * Empty arrays survive (left join-back + coalesce); ids missing
      * from the map keep their value (cannot happen for table rows —
      * defensive only). */
    /** Local-map projection form of the array translations: when the
      * bijection fits the local gate ([[localPairMap]]) the whole
      * translate collapses to one codegen'd transform over an O(1)
      * hash-probe expression — zero joins, zero exchanges, no per-split
      * job fan-out (the join pipeline cost q93 ~2 s of driver
      * plan-building plus several tiny shuffle stages PER quantifier
      * split on a 25-row graph). The map rides the expression as an
      * opaque [[graft.functions.LongLongMap]] reference, NOT a MapType
      * literal: `element_at` on a map literal is a linear scan per slot
      * (65k comparisons worst-case at the default gate) and the literal
      * itself made plan canonicalization O(map). Null arrays become
      * empty arrays, ids missing from the map keep their value — the
      * join pipeline's exact semantics. */
    def translateLocal(df: DataFrame, c: String, m: Map[Long, Long],
        vertexSlotsOnly: Boolean): DataFrame = {
      import org.apache.spark.sql.graftbridge.Bridge
      val table = new graft.functions.LongLongMap(m)
      def look(x: Column): Column = Bridge.column(
        graft.functions.LongMapLookupOrSelf(Bridge.expression(x), table))
      val trans =
        if (vertexSlotsOnly)
          transform(col(c), (x, i) =>
            when(i % 2 === 0, look(x)).otherwise(x))
        else
          transform(col(c), x => look(x))
      df.withColumn(c,
        coalesce(trans, typedLit(Array.empty[Long])).cast("array<bigint>"))
    }

    def translateIdArray(df: DataFrame, c: String, m: DataFrame): DataFrame =
      localPairMap(spark, m) match {
        case Some(lm) => translateLocal(df, c, lm, vertexSlotsOnly = false)
        case None => translateIdArrayJoin(df, c, m)
      }

    def translateIdArrayJoin(df: DataFrame, c: String, m: DataFrame)
        : DataFrame = {
      val pos = df.select(col(c).as("__parr")).distinct()
        .select(col("__parr"),
          posexplode_outer(col("__parr")).as(Seq("__pos", "__el")))
      val tr = pos.join(m.select(col("__from").as("__el"), col("__to")),
          Seq("__el"), "left")
        .groupBy("__parr")
        .agg(expr("transform(array_sort(" +
          "filter(collect_list(struct(__pos, coalesce(__to, __el) AS __t))," +
          " x -> x.__pos IS NOT NULL)), x -> x.__t)").as("__tarr"))
      df.join(tr, df(c) === tr("__parr"), "left")
        .drop(c).drop("__parr")
        .withColumn(c, coalesce(col("__tarr"),
          expr("CAST(array() AS array<bigint>)")))
        .drop("__tarr")
    }

    /** [[translateIdArray]] restricted to VERTEX (even) slots of an
      * interleaved `[v, e, v, …]` path array — edge ids pass through
      * untouched (an edge id must never accidentally match a vertex
      * `__from` value). */
    def translateVertexSlots(df: DataFrame, c: String,
        m: DataFrame): DataFrame =
      localPairMap(spark, m) match {
        case Some(lm) => translateLocal(df, c, lm, vertexSlotsOnly = true)
        case None => translateVertexSlotsJoin(df, c, m)
      }

    def translateVertexSlotsJoin(df: DataFrame, c: String,
        m: DataFrame): DataFrame = {
      val pos = df.select(col(c).as("__parr")).distinct()
        .select(col("__parr"),
          posexplode_outer(col("__parr")).as(Seq("__pos", "__el")))
      val tr = pos.join(m.select(col("__from").as("__el"), col("__to")),
          Seq("__el"), "left")
        .withColumn("__t", when(col("__pos") % 2 === 0,
          coalesce(col("__to"), col("__el"))).otherwise(col("__el")))
        .groupBy("__parr")
        .agg(expr("transform(array_sort(" +
          "filter(collect_list(struct(__pos, __t))," +
          " x -> x.__pos IS NOT NULL)), x -> x.__t)").as("__tarr"))
      df.join(tr, df(c) === tr("__parr"), "left")
        .drop(c).drop("__parr")
        .withColumn(c, coalesce(col("__tarr"),
          expr("CAST(array() AS array<bigint>)")))
        .drop("__tarr")
    }

    /** One pattern = one dense-id space for its combined path column:
      * first registration wins, later ones must match or refuse. */
    def registerPendingSurrogate(ids: DataFrame, nKeys: Int,
        tableName: String, keys: Seq[String]): Unit =
      pendingPathSurrogate match {
        case Some((_, _, t0, k0)) if t0 != tableName || k0 != keys =>
          throw GraphAnalysisException(
            "element_id/vertices/edges over a pattern whose composite-key " +
              "elements bind DIFFERENT vertex tables or keys is not " +
              "supported — the combined path array would mix dense-id " +
              "spaces")
        case None =>
          pendingPathSurrogate = Some((ids, nKeys, tableName, keys))
        case _ => () // same space — one translation covers all
      }

    /** Does any COLUMNS/WHERE expression consume the path variable's
      * element identities (and so force surrogate translation)? */
    def pathExposed(p: PathPattern): Boolean = p.pathVar.exists { pv =>
      val r = s"(?i)(element_id|vertices|edges)\\s*\\(\\s*$pv\\s*\\)".r
      (spec.columns.map(_.expr) ++ spec.where.toSeq)
        .exists(t => r.findFirstIn(t).isDefined)
    }

    // set per pattern by processPattern: the pattern contains a fixed
    // hop whose path segment must ride dense rowids (composite or
    // non-numeric vertex keys). Exposing quantified segments then defer
    // their surrogate translation to the combined column even outside
    // enumeration — fixed and quantified segments must concatenate in
    // ONE type space.
    var deferFixedSurrogates = false

    // set per pattern by processPattern's pre-scan: the pattern's exposed
    // named path spans MORE THAN ONE vertex-key space and at least one of
    // them is composite/non-numeric. One combined translation (or one raw
    // long array) cannot represent that, so each segment translates to
    // string surrogates through its OWN space and the STRING arrays
    // concatenate — the per-segment-translation route. Whole-path prefix
    // ranking still runs on the long-typed combined array first (same
    // deterministic (length, lex) tie-break as the single-space route;
    // cross-space long comparisons are arbitrary but stable).
    var perSegSurrogates = false
    // per-segment translation recipes, parallel to processPattern's
    // segCols (filled by bindPathEdge / fixedSegment; consulted only when
    // perSegSurrogates)
    val segXlates = scala.collection.mutable.ArrayBuffer[SegRec]()

    /** '|'-joined declared-key surrogate of an already-joined vertex
      * alias — the same text [[surrogatizeArrayCol]] produces from the
      * dense-rowid mapping, built directly from the alias columns. */
    def aliasSurr(alias: String, keys: Seq[String]): Column =
      concat_ws("|", keys.map(k => col(s"$alias.$k").cast("string")): _*)

    // identity space of every segment feeding the current pattern's
    // combined path array: (vertex table, ref keys, numericRaw). Raw
    // numeric spaces may mix freely when exposed (the reference exposes
    // plain alias rowids across tables the same way, match.cpp:598-616);
    // a TRANSLATED (dense-rowid) space may not coexist with any other —
    // the combined column would run every slot through one mapping and
    // silently corrupt foreign slots.
    val segSpaces =
      scala.collection.mutable.Set[(String, Seq[String], Boolean)]()
    def checkOneTranslatedSpace(p: PathPattern): Unit =
      // the per-segment route translates each segment through its own
      // space — mixing is its whole point, nothing to refuse
      if (pathExposed(p) && !perSegSurrogates) pendingPathSurrogate match {
        case Some((_, _, tbl, keys)) =>
          // COMBINED translation runs every slot through one mapping —
          // any segment outside that space would be silently corrupted
          if (segSpaces.exists { case (t, k, _) => t != tbl || k != keys })
            throw GraphAnalysisException(
              "element_id/vertices/edges over a named path that mixes a " +
                "composite/non-numeric key space with any other key " +
                "space is not supported — the combined path array cannot " +
                "carry two id spaces (project the element columns " +
                "directly instead)")
        case None =>
          // per-kernel translation leaves composite segments as STRING
          // arrays; raw numeric segments stay long — the concat would
          // die with a type error, so refuse with semantics instead.
          // (Several composite spaces translated per-kernel are fine:
          // each segment carries its own surrogates.)
          if (segSpaces.exists(!_._3) && segSpaces.exists(_._3))
            throw GraphAnalysisException(
              "element_id/vertices/edges over a named path that mixes a " +
                "composite/non-numeric key space with a numeric key " +
                "space is not supported — the combined path array cannot " +
                "carry two id spaces (project the element columns " +
                "directly instead)")
      }

    // set per pattern by processPattern: a non-WALK path MODE combined
    // with a search PREFIX over a MIXED pattern compiles as ENUMERATION
    // (bindPathEdge routes every quantified segment through the
    // mode-valid path kernels) and the prefix is applied afterwards as a
    // WHOLE-PATH ranking over the endpoint partition — see
    // applyWholePathPrefix
    var enumPrefix = false

    def fixedEid(a: String, et: EdgeTable): Column = et.edgeIdCol match {
      case Some(c) => requireIntegralEdgeId(et, c); col(s"$a.$c").cast("long")
      case None => col(s"$a.__geid")
    }

    /** Cross-element distinctness filters for a MIXED pattern under a
      * non-WALK mode, prefix-less enumeration only (each plan row is one
      * concrete full path, so filtering rows IS whole-path mode
      * semantics). Decomposition: intra-segment validity comes from the
      * kernels (SIMPLE segments run ACYCLIC — an interior segment must
      * not close a cycle; the whole path's closing exemption lives in
      * the alias pair below); segment endpoints are ordinary vertex
      * aliases, so alias↔alias pairs cover endpoint↔endpoint, and
      * alias↔segment-INTERIOR plus interior↔interior overlap checks
      * cover the rest. Edge identities compare only within one edge
      * table (dense ids are per-table ranks); vertex identities need one
      * single-column NUMERIC key space (segment arrays carry long key
      * values). A zero-length segment merges its endpoints — one vertex
      * occurrence, not a repeat — so its own (head, tail) pair is
      * exempted while the segment is empty. */
    def applyMixedModeFilters(p: PathPattern, vPos: Seq[String],
        ePos: Seq[(String, EdgeTable)], segs: Seq[ModeSeg]): Unit = {
      def segEdges(s: ModeSeg): Column =
        expr(s"filter(${s.pathCol}, (x, i) -> i % 2 == 1)")
      def segVerts(s: ModeSeg): Column =
        expr(s"filter(${s.pathCol}, (x, i) -> i % 2 == 0)")
      def segInterior(s: ModeSeg): Column = {
        val vs = segVerts(s)
        slice(vs, lit(2), greatest(size(vs) - 2, lit(0)))
      }
      p.mode match {
        case PathMode.Trail =>
          for {
            i <- ePos.indices; j <- (i + 1) until ePos.length
            if ePos(i)._2.tableName == ePos(j)._2.tableName
          } plan = plan.filter(
            fixedEid(ePos(i)._1, ePos(i)._2) =!=
              fixedEid(ePos(j)._1, ePos(j)._2))
          for {
            s <- segs; (fa, fet) <- ePos
            if fet.tableName == s.et.tableName
          } plan = plan.filter(
            !array_contains(segEdges(s), fixedEid(fa, fet)))
          for {
            i <- segs.indices; j <- (i + 1) until segs.length
            if segs(i).et.tableName == segs(j).et.tableName
          } plan = plan.filter(
            !arrays_overlap(segEdges(segs(i)), segEdges(segs(j))))
        case PathMode.Acyclic | PathMode.Simple =>
          // composite / non-numeric segments carry dense rowids; vertex
          // identity against them goes through the SHARED rowid mapping
          // (aliases get a joined __rowid column). ANY segment whose
          // endpoints span different tables/keys has no single identity
          // space — refuse loudly (numeric too: an undirected bipartite
          // segment's interior would interleave two tables' raw ids and
          // alias-vs-interior checks would compare across tables).
          segs.find(s => !s.homo).foreach { _ =>
            throw GraphAnalysisException(
              s"Path mode ${p.mode} over a mixed pattern requires every " +
                "quantified segment to bind one vertex key space on both " +
                "endpoints (cross-element vertex identity is otherwise " +
                "ambiguous)")
          }
          val endpointPairs = segs.map(s => (s.headAlias, s.tailAlias))
          for {
            i <- vPos.indices; j <- (i + 1) until vPos.length
            if !(p.mode == PathMode.Simple && i == 0 && j == vPos.length - 1)
          } {
            val (bi, bj) =
              (vertexBindingAt(vPos(i)), vertexBindingAt(vPos(j)))
            if (bi.table == bj.table) {
              // both aliases carry FULL rows of the shared table, so row
              // identity can be compared on either declaration's key set
              // even when the two labels declare DIFFERENT keys — but
              // only if the chosen key set is UNIQUE over the table
              // (otherwise equality on it over-merges distinct rows);
              // same-declaration comparisons keep the historical
              // no-probe behavior
              if (bi.keyCols != bj.keyCols)
                pg.vertexTables.find(_.tableName == bi.table)
                  .foreach(vt => requireUniqueKeys(vt, bi.keyCols))
              val neq = !keysEq(vPos(i), bi.keyCols, vPos(j), bi.keyCols)
              val guard = segs.zip(endpointPairs).collectFirst {
                case (s, (h, t))
                    if (h == vPos(i) && t == vPos(j)) ||
                      (h == vPos(j) && t == vPos(i)) =>
                  size(col(s.pathCol)) === 1
              }
              plan = plan.filter(guard.map(_ || neq).getOrElse(neq))
            }
          }
          for {
            s <- segs; v <- vPos
            if vertexBindingAt(v).table == s.vtTable
          } {
            val vId =
              if (s.keyNumeric) col(s"$v.${s.refKeys.head}").cast("long")
              else col(attachAliasRowid(v, s.refKeys,
                rowidMapping(s.vtTable, s.refKeys)))
            plan = plan.filter(!array_contains(segInterior(s), vId))
          }
          for {
            i <- segs.indices; j <- (i + 1) until segs.length
            if segs(i).vtTable == segs(j).vtTable
          } {
            // interiors compare raw key values (numeric) or dense rowids
            // (composite). Same space: direct overlap. DIFFERENT key
            // declarations over the one table: translate segment j's
            // interior into segment i's identity space through the
            // table-row bijection, then compare — identity is the shared
            // physical row, not the declaration.
            if (segs(i).keyNumeric == segs(j).keyNumeric &&
                segs(i).refKeys == segs(j).refKeys)
              plan = plan.filter(
                !arrays_overlap(segInterior(segs(i)), segInterior(segs(j))))
            else {
              val m = spaceBijection(segs(i).vtTable,
                segs(j).refKeys, segs(j).keyNumeric,
                segs(i).refKeys, segs(i).keyNumeric)
              val (ci, cj) = (freshName("intr"), freshName("intr"))
              plan = plan.withColumn(ci, segInterior(segs(i)))
                .withColumn(cj, segInterior(segs(j)))
              plan = translateIdArray(plan, cj, m)
              plan = plan.filter(!arrays_overlap(col(ci), col(cj)))
                .drop(ci, cj)
            }
          }
        case PathMode.Walk => ()
      }
    }

    /** Pairwise distinctness filters realizing TRAIL / ACYCLIC / SIMPLE
      * over an ALL-FIXED pattern (quantified segments enforce their mode
      * inside the kernel instead): TRAIL = every pair of edge elements
      * over the same table must bind different physical edges (declared
      * edge-id or synthetic `__geid`); ACYCLIC = every pair of vertex
      * elements over the same table must bind different rows; SIMPLE =
      * ACYCLIC except the first/last pair, which may close a cycle.
      * Elements over different tables are distinct by construction.
      * A repeated binding variable collapses to `NOT (x = x)` = false —
      * exactly the semantics (a `(a)…(a)` cycle is never acyclic). */
    def applyFixedModeFilters(p: PathPattern, vPos: Seq[String],
        ePos: Seq[(String, EdgeTable)]): Unit = p.mode match {
      case PathMode.Trail =>
        def eid(a: String, et: EdgeTable): Column = et.edgeIdCol match {
          case Some(c) => requireIntegralEdgeId(et, c); col(s"$a.$c")
          case None => col(s"$a.__geid")
        }
        for {
          i <- ePos.indices; j <- (i + 1) until ePos.length
          if ePos(i)._2.tableName == ePos(j)._2.tableName
        } plan = plan.filter(
          eid(ePos(i)._1, ePos(i)._2) =!= eid(ePos(j)._1, ePos(j)._2))
      case PathMode.Acyclic | PathMode.Simple =>
        for {
          i <- vPos.indices; j <- (i + 1) until vPos.length
          // SIMPLE: the endpoints may coincide (closed path)
          if !(p.mode == PathMode.Simple && i == 0 && j == vPos.length - 1)
        } {
          val (bi, bj) = (vertexBindingAt(vPos(i)), vertexBindingAt(vPos(j)))
          if (bi.table == bj.table) {
            // different key DECLARATIONS over one table still identify
            // the same rows: compare on one declaration's key set (both
            // aliases carry the full row) — requiring that key set to be
            // unique when the declarations differ (equality on a
            // non-unique key would over-merge distinct rows)
            if (bi.keyCols != bj.keyCols)
              pg.vertexTables.find(_.tableName == bi.table)
                .foreach(vt => requireUniqueKeys(vt, bi.keyCols))
            plan = plan.filter(
              !keysEq(vPos(i), bi.keyCols, vPos(j), bi.keyCols))
          }
        }
      case PathMode.Walk => ()
    }

    /** Whole-path search-prefix semantics over a mixed-pattern
      * ENUMERATION (the `enumPrefix` route): by this point every plan row
      * is exactly one mode-valid full path (the kernels enumerate
      * per-segment mode-valid subpaths, the cross-element filters reject
      * invalid combinations), so ranking rows per (head, tail) endpoint
      * partition IS the SQL/PGQ prefix semantics. This is deliberately
      * NOT the per-segment composition used for WALK-mode prefixes
      * (reference CheckNamedSubpath, match.cpp:709-790): mode validity is
      * a cross-segment property, so the shortest mode-valid COMBINATION
      * need not be built from per-segment shortest paths — the standard's
      * whole-path reading is the only correct one, and the reference
      * refuses these entirely (match.cpp:80-108).
      *
      * Ranking runs on the long-typed interleaved arrays (the kernels'
      * identity space — any composite-key surrogate translation is
      * deferred until after this filter): ANY SHORTEST keeps the
      * (length, lex-path) minimum, ALL SHORTEST every minimum-length row,
      * SHORTEST k the k smallest DISTINCT paths by dense_rank (join
      * multiplicity from other patterns shares ranks, so duplicates never
      * consume k). The window partitions by endpoint keys — group sizes
      * are per-pair path counts, never the corpus. */
    def applyWholePathPrefix(p: PathPattern, pcol: String,
        vPos: Seq[String]): Unit = {
      import org.apache.spark.sql.expressions.Window
      val parts = Seq(vPos.head, vPos.last).flatMap { a =>
        val ks = bindings(a).keyCols
        require(ks.nonEmpty, s"vertex '$a' has no declared key columns")
        ks.map(k => col(s"$a.$k"))
      }
      val path = col(pcol)
      p.prefix.get match {
        case SearchPrefix.AnyShortest =>
          val pick = struct(size(path).as("_l"), path.as("_p"))
          val c = freshName("pmin")
          plan = plan
            .withColumn(c, min(pick).over(Window.partitionBy(parts: _*)))
            .filter(pick === col(c)).drop(c)
        case SearchPrefix.AllShortest =>
          val c = freshName("pmin")
          plan = plan
            .withColumn(c,
              min(size(path)).over(Window.partitionBy(parts: _*)))
            .filter(size(path) === col(c)).drop(c)
        case SearchPrefix.ShortestK(k) =>
          val c = freshName("prank")
          plan = plan
            .withColumn(c, dense_rank().over(Window.partitionBy(parts: _*)
              .orderBy(size(path).asc, path.asc)))
            .filter(col(c) <= k).drop(c)
      }
    }

    /** Process one alternating vertex/edge element list
      * (reference `ProcessPathList` match.cpp:792-885). For a named path,
      * every edge segment contributes a `[v, e, …, v]` id array — fixed hops
      * as 3-element lists from the join itself, quantified hops from the BFS
      * kernel — and the segments are concatenated dropping each subsequent
      * segment's overlapping head vertex, mirroring the reference's
      * `list_concat`/`array_pop_front` assembly (match.cpp:573-616). */
    def processPattern(p0: PathPattern): Unit = {
      // All-fixed multi-hop patterns under a search prefix that the
      // pair-dedup kernel route cannot express — TRAIL (needs per-hop
      // edge identities) and SHORTEST k (needs whole-path ranking) —
      // are routed through the named-path machinery with a HIDDEN path
      // variable: plain joins keep every hop's identity, the whole-path
      // prefix ranking below applies the search semantics, and the
      // synthetic column is simply never projected. This closes two of
      // §8's loud-error restrictions (the error text used to tell the
      // user to bind `p =` themselves).
      val p: PathPattern = {
        val allFixed = p0.elements.forall {
          case e: EdgePattern => e.quantifier.isEmpty
          case _ => true
        }
        val needsHidden = p0.pathVar.isEmpty && p0.prefix.isDefined &&
          allFixed && p0.elements.length > 3 &&
          (p0.mode == PathMode.Trail ||
            p0.prefix.exists {
              case SearchPrefix.ShortestK(_) => true
              case _ => false
            })
        val p0a = if (needsHidden) p0.copy(pathVar = Some(freshName("hidden")))
          else p0
        // a named path over a quantified pattern with no prefix and WALK
        // mode defaults to ANY SHORTEST — DuckDB's Kleene semantics is
        // shortest-per-pair (iterativelength), and the reference binds the
        // named path to that representative (`MATCH p = (a)-[k]->{1,3}(b)`
        // returns one shortest path per reachable pair,
        // complex_matching.test:327-340)
        val hasQuantified = p0a.elements.exists {
          case e: EdgePattern => e.quantifier.isDefined
          case _ => false
        }
        if (p0a.pathVar.isDefined && p0a.prefix.isEmpty &&
            p0a.mode == PathMode.Walk && hasQuantified)
          p0a.copy(prefix = Some(SearchPrefix.AnyShortest))
        else p0a
      }
      val quantifiedEdgeCount = p.elements.count {
        case e: EdgePattern => e.quantifier.isDefined
        case _ => false
      }
      val needPath = p.pathVar.isDefined &&
        (p.prefix.isDefined || p.mode != PathMode.Walk ||
          quantifiedEdgeCount == 0)
      if (needPath && pathCols.contains(p.pathVar.get))
        throw GraphAnalysisException(
          s"Path variable '${p.pathVar.get}' is bound twice")
      val elems = p.elements
      require(elems.nonEmpty && elems.head.isInstanceOf[VertexPattern],
        "pattern must start with a vertex")
      // Path-mode support matrix (the reference raises NotImplemented for
      // every non-WALK mode, match.cpp:80-108 — implementing them exceeds
      // parity): a single quantified segment is enforced inside the
      // kernel (visited-set BFS / shortest-walks-are-simple); an all-fixed
      // pattern by pairwise distinctness filters; a MIXED pattern (fixed +
      // quantified, or several quantified segments) is supported for
      // prefix-less ENUMERATION, where every output row is one concrete
      // full path and cross-element distinctness filters over the segment
      // arrays are exact whole-path semantics. A non-WALK mode UNDER a
      // search prefix rides the same enumeration (per-segment
      // representatives cannot express "exists a mode-valid combination",
      // so the prefix becomes a whole-path ranking AFTER the mode
      // filters — applyWholePathPrefix).
      val quantifiedEdges = quantifiedEdgeCount
      // edge tables of fixed edges bound through a shortest-semantics
      // kernel (search prefix without a named path, or SHORTEST k) —
      // those bindings collapse parallel edges and expose no edge
      // identity, so TRAIL is unenforceable iff a table repeats
      val fixedKernelTables = scala.collection.mutable.ArrayBuffer.empty[String]
      enumPrefix = p.mode != PathMode.Walk && p.prefix.isDefined &&
        quantifiedEdges > 0 && elems.length != 3
      currentModeSegs.clear()
      pendingPathSurrogate = None
      segSpaces.clear()
      segXlates.clear()
      // SHORTEST k over a MIXED pattern applies PER QUANTIFIED SEGMENT:
      // each segment contributes its k smallest subpaths given the
      // endpoint bindings — the same per-subpath composition the
      // reference's CheckNamedSubpath concatenation defines for ANY
      // SHORTEST (match.cpp:709-790) — while fixed hops keep ordinary
      // join multiplicity. Over a single fixed edge (no quantifier) the
      // kernel still ranks parallel edges (below).
      val kShortest = p.prefix.collect {
        case SearchPrefix.ShortestK(kk) => kk
      }
      // an ALL-FIXED multi-hop pattern under SHORTEST k has no kernel
      // anywhere to rank paths (fixed hops keep join multiplicity, the
      // per-segment composition above), so the k bound would silently
      // never apply — refuse loudly. A single fixed edge ranks its
      // parallel edges through the {1,1} kernel (below); mixed patterns
      // rank inside their quantified segments.
      // SHORTEST k over a multi-hop all-fixed pattern rides the
      // named-path whole-path ranking (explicit or hidden variable —
      // see the hidden-path rewrite above), so no refusal remains here.
      // pre-scan: will any fixed hop take the fixedSegment route with a
      // composite / non-numeric key space? Exposing quantified segments
      // must then defer their surrogate translation so fixed and
      // quantified segments concatenate in one (dense-rowid) type space.
      deferFixedSurrogates = (needPath || enumPrefix) && {
        var i = 1
        var found = false
        while (i < elems.length && !found) {
          val ep = elems(i).asInstanceOf[EdgePattern]
          if (ep.quantifier.isEmpty &&
              !(kShortest.isDefined && elems.length == 3)) {
            val et = resolveEdge(ep.varName.getOrElse("(edge)"), ep.label)
            val (aK, bK, aV, bV) = ep.direction match {
              case EdgeDirection.Left =>
                (et.dstRefKeys, et.srcRefKeys,
                  pg.vertexLabel(et.dstLabel), pg.vertexLabel(et.srcLabel))
              case _ =>
                (et.srcRefKeys, et.dstRefKeys,
                  pg.vertexLabel(et.srcLabel), pg.vertexLabel(et.dstLabel))
            }
            found = !(aK.length == 1 && numericKey(aV, aK.head)) ||
              !(bK.length == 1 && numericKey(bV, bK.head))
          }
          i += 2
        }
        found
      }
      // pre-scan: does the pattern's exposed path span MORE THAN ONE
      // vertex-key space, at least one of them composite/non-numeric?
      // Then no single translation (nor a raw long array) can represent
      // the combined column, and each segment translates through its own
      // space — the per-segment-translation route (segXlates recipes).
      perSegSurrogates = (needPath || enumPrefix) && pathExposed(p) && {
        val spaces =
          scala.collection.mutable.Set[(String, Seq[String], Boolean)]()
        var i = 1
        while (i < elems.length) {
          val ep = elems(i).asInstanceOf[EdgePattern]
          val et = resolveEdge(ep.varName.getOrElse("(edge)"), ep.label)
          val (aK, bK, aV, bV) = ep.direction match {
            case EdgeDirection.Left =>
              (et.dstRefKeys, et.srcRefKeys,
                pg.vertexLabel(et.dstLabel), pg.vertexLabel(et.srcLabel))
            case _ =>
              (et.srcRefKeys, et.dstRefKeys,
                pg.vertexLabel(et.srcLabel), pg.vertexLabel(et.dstLabel))
          }
          spaces += ((aV.tableName, aK,
            aK.length == 1 && numericKey(aV, aK.head)))
          spaces += ((bV.tableName, bK,
            bK.length == 1 && numericKey(bV, bK.head)))
          i += 2
        }
        spaces.exists(!_._3) && spaces.map(s => (s._1, s._2)).size > 1
      }
      // per-position alias info for the fixed-pattern mode filters
      val modeVertexPos = scala.collection.mutable.ArrayBuffer[String]()
      val modeEdgePos =
        scala.collection.mutable.ArrayBuffer[(String, EdgeTable)]()
      // a label-less head vertex resolves from the first edge's endpoint
      val headHint: Option[String] = elems.lift(1)
        .collect { case e: EdgePattern => e }
        .flatMap { e =>
          e.label.map(l => pg.edgeLabel(l))
            .orElse(if (pg.edgeTables.length == 1) Some(pg.edgeTables.head)
              else None)
            .map(et => e.direction match {
              case EdgeDirection.Left => et.dstLabel
              case _                  => et.srcLabel
            })
        }
      var prevV = bindVertex(elems.head.asInstanceOf[VertexPattern], None,
        headHint)
      modeVertexPos += prevV

      val segCols = scala.collection.mutable.ArrayBuffer[Column]()
      var i = 1
      while (i < elems.length) {
        val ep = elems(i).asInstanceOf[EdgePattern]
        val vp = elems(i + 1).asInstanceOf[VertexPattern]

        // TRAIL over a bidirectional FIXED edge: the traversed edge is the
        // FORWARD orientation's row (its eid sits in modeEdgePos via the
        // forward alias); the hidden reverse copy is an existence witness,
        // not a traversed edge — the same rule the quantified `<-[e]->`
        // kernel applies (path arrays carry the forward edge id), so fixed
        // and quantified bidirectional hops agree under TRAIL. Stored
        // reverse rows remain parallel distinct edges (bb2c319 semantics):
        // 0-3-0 over a 2-cycle IS a trail (two distinct stored rows), while
        // 0-3-0-3 repeats the forward row and is not.
        if (ep.quantifier.isDefined ||
            (kShortest.isDefined && elems.length == 3)) {
          // single-edge SHORTEST k routes even a fixed hop through the
          // kernel ({1,1}) — the plain join would emit ALL parallel
          // edges, not the top k. (In a mixed pattern a fixed hop keeps
          // join multiplicity: per-segment SHORTEST k semantics.)
          if (ep.quantifier.isEmpty)
            fixedKernelTables +=
              resolveEdge(ep.varName.getOrElse("(edge)"), ep.label).tableName
          val (bAlias, pcol) = bindPathEdge(p, ep, vp, prevV)
          pcol.foreach(c => segCols += col(c))
          prevV = bAlias
        } else if (needPath || enumPrefix) {
          // fixed hop inside a named path (or the enumPrefix route, whose
          // whole-path ranking needs every hop's segment even without a
          // path variable): ordinary join (multiplicity preserved, like
          // the reference's list_value over plain aliases) plus its
          // 3-element path segment
          val aAlias = prevV
          val (bAlias, eAlias, et) =
            bindFixedEdgeEx(ep, vp, prevV, withEid = true)
          segCols += fixedSegment(p, ep, et, aAlias, eAlias, bAlias)
          modeEdgePos += ((eAlias, et))
          prevV = bAlias
        } else if (p.prefix.isDefined) {
          // prefix without a path variable: shortest semantics dedup pairs.
          // A hop whose endpoints live in DIFFERENT key spaces (distinct
          // vertex tables or key columns) must NOT ride the kernel — one
          // shared id space would conflate e.g. Person 0 with School 0 and
          // the visited set would drop the real pair (shortest_path.test:37
          // `ANY SHORTEST (a:Person)-[s:StudyAt]->(b:School)`). The
          // reference only plans path-finding for quantified patterns
          // (match.cpp:673-707), so a heterogeneous fixed hop under a
          // prefix is a plain join there too.
          val et0 = resolveEdge(ep.varName.getOrElse("(edge)"), ep.label)
          val sameSpace =
            pg.vertexLabel(et0.srcLabel).tableName ==
              pg.vertexLabel(et0.dstLabel).tableName &&
            et0.srcRefKeys.map(_.toLowerCase) ==
              et0.dstRefKeys.map(_.toLowerCase)
          if (sameSpace) {
            fixedKernelTables += et0.tableName
            val (bAlias, _) = bindPathEdge(p, ep, vp, prevV)
            prevV = bAlias
          } else {
            val (bAlias, eAlias, et) = bindFixedEdgeEx(ep, vp, prevV,
              withEid = p.mode == PathMode.Trail)
            modeEdgePos += ((eAlias, et))
            prevV = bAlias
          }
        } else {
          val (bAlias, eAlias, et) = bindFixedEdgeEx(ep, vp, prevV,
            withEid = p.mode == PathMode.Trail, allowFuse = true)
          modeEdgePos += ((eAlias, et))
          prevV = bAlias
        }
        modeVertexPos += prevV
        i += 2
      }
      // all-fixed: pairwise filters, but only when NO kernel saw the
      // pattern (a kernel enforces the mode itself, including the
      // trivially-valid dist-0 self path that a pairwise a≠b filter would
      // wrongly kill). Mixed enumeration: cross-element filters over the
      // segment arrays (single-segment enumeration stays kernel-only).
      if (p.mode != PathMode.Walk) {
        if (quantifiedEdges == 0) {
          // TRAIL needs every edge's identity; shortest-semantics
          // bindings expose none — refuse loudly rather than silently
          // degrading to WALK. Vertex modes (ACYCLIC/SIMPLE) only compare
          // vertex aliases, which every binding route preserves, so their
          // filters apply under any prefix.
          // only a REPEATED table makes TRAIL non-vacuous: hops on
          // distinct edge tables can never bind the same physical edge
          if (p.mode == PathMode.Trail &&
              fixedKernelTables.groupBy(identity).exists(_._2.length >= 2))
            throw GraphAnalysisException(
              "TRAIL over an all-fixed pattern under a search prefix " +
                "collapses edge identities — bind a named path variable " +
                "(p = ANY SHORTEST …) or drop the prefix")
          applyFixedModeFilters(p, modeVertexPos.toSeq, modeEdgePos.toSeq)
        }
        else if ((p.prefix.isEmpty || enumPrefix) && elems.length != 3)
          applyMixedModeFilters(p, modeVertexPos.toSeq, modeEdgePos.toSeq,
            currentModeSegs.toSeq)
      }

      if (needPath || enumPrefix) {
        if (needPath && segCols.isEmpty)
          throw GraphAnalysisException(
            s"Named path '${p.pathVar.get}' must contain at least one edge")
        // a translated (dense-rowid) space cannot share the combined
        // array with any other space — refuse BEFORE the concat so the
        // user sees semantics, not a type error
        checkOneTranslatedSpace(p)
        def popFrontConcat(acc: Column, seg: Column): Column =
          // drop the segment's head vertex (shared with the previous
          // segment's tail) — array_pop_front analogue
          concat(acc, slice(seg, lit(2), greatest(size(seg) - 1, lit(0))))
        val needRank = enumPrefix ||
          (needPath && p.prefix.isDefined && quantifiedEdges == 0)
        val combined =
          if (perSegSurrogates && needRank) {
            // ranking needs CANONICAL vertex identities: with segments in
            // different key spaces of one table, raw mixed-space longs
            // could collide (a dense rowid equals an unrelated raw key)
            // or diverge (the same row under two declarations), merging
            // distinct paths or splitting one path's rank. Express every
            // vertex slot of a table in ONE chosen space — numeric
            // declaration if any segment uses one, else the first seen —
            // fixed hops straight from their alias columns, quantified
            // segments through the table-row bijection (vertex slots
            // only). The chosen key set must be unique whenever a
            // translation actually crosses spaces.
            require(segXlates.length == segCols.length,
              s"segment records out of sync: ${segXlates.length} != " +
                s"${segCols.length}")
            val spacesInOrder = segXlates.toSeq.flatMap {
              case FixedRec(_, _, at, ak, an, _, _, bt, bk, bn) =>
                Seq((at, ak, an), (bt, bk, bn))
              case QuantRec(_, t, k, n, _) => Seq((t, k, n))
            }
            val canon: Map[String, (Seq[String], Boolean)] =
              spacesInOrder.groupBy(_._1).map { case (t, ss) =>
                val pick = ss.find(_._3).map(s => (s._2, true))
                  .getOrElse((ss.head._2, false))
                if (ss.map(s => (s._2, s._3)).distinct.length > 1)
                  pg.vertexTables.find(_.tableName == t)
                    .foreach(vt => requireUniqueKeys(vt, pick._1))
                t -> pick
              }
            def aliasCanonId(alias: String, table: String): Column = {
              val (ck, cn) = canon(table)
              if (cn) col(s"$alias.${ck.head}").cast("long")
              else col(attachAliasRowid(alias, ck,
                rowidMapping(table, ck)))
            }
            val rankSegs: Seq[Column] = segXlates.toSeq.map {
              case FixedRec(_, aa, at, _, _, eid, ba, bt, _, _) =>
                array(aliasCanonId(aa, at), eid, aliasCanonId(ba, bt))
              case QuantRec(name, t, k, n, _) =>
                val (ck, cn) = canon(t)
                if (ck == k && cn == n) col(name)
                else {
                  val tmp = freshName("rankseg")
                  plan = plan.withColumn(tmp, col(name))
                  plan = translateVertexSlots(plan, tmp,
                    spaceBijection(t, k, n, ck, cn))
                  col(tmp)
                }
            }
            rankSegs.reduceLeft(popFrontConcat)
          } else segCols.toSeq.reduceLeft(popFrontConcat)
        val pcol = p.pathVar.map(pv => s"__path_$pv")
          .getOrElse(freshName("rankpath"))
        plan = plan.withColumn(pcol, combined)
        // whole-path prefix ranking runs BEFORE any surrogate translation
        // (the kernels' long-typed identity space gives deterministic
        // lexicographic tie-breaks; string surrogates would not).
        // It applies on the enumeration route AND on all-fixed named
        // paths under a prefix — there every row is one concrete path
        // and no kernel ranked anything, so ANY SHORTEST / SHORTEST k
        // must pick per endpoint pair here (reference pair semantics;
        // previously these rows kept raw join multiplicity)
        if (needRank)
          applyWholePathPrefix(p, pcol, modeVertexPos.toSeq)
        if (perSegSurrogates) {
          // per-segment-translation route (segments span several key
          // spaces): mode filters and ranking consumed the long-typed
          // arrays above; now each segment becomes its string-surrogate
          // form through its OWN space — fixed hops inline from their
          // alias columns, numeric quantified segments by element-wise
          // cast, composite quantified segments through their own
          // mapping join — and the STRING arrays re-concatenate into
          // the exposed path column
          require(segXlates.length == segCols.length,
            s"segment translation recipes out of sync: ${segXlates.length}" +
              s" != ${segCols.length}")
          val strSegs = segXlates.toSeq.map {
            case FixedRec(strArr, _, _, _, _, _, _, _, _, _) => strArr
            case QuantRec(name, _, _, true, _) =>
              transform(col(name), _.cast("string"))
            case QuantRec(name, _, _, false, Some((ids, n))) =>
              plan = surrogatizeArrayCol(plan, name, ids, n)
              col(name)
            case QuantRec(name, _, _, false, None) =>
              throw new IllegalStateException(
                s"composite segment '$name' lost its mapping")
          }
          val comb2 = strSegs.reduceLeft(popFrontConcat)
          plan = plan.withColumn(pcol, comb2)
        } else
        // deferred composite-key surrogate translation (enumeration
        // modes): the cross-element mode filters above consumed the
        // long-typed segment arrays; the exposed CONCATENATED column can
        // now safely become the string-surrogate form
        pendingPathSurrogate.foreach { case (ids, nKeys, _, _) =>
          plan = surrogatizeArrayCol(plan, pcol, ids, nKeys)
        }
        // OPT-IN DuckDB byte parity (`spark.graft.pathArrayRowids`):
        // the reference emits PHYSICAL 0-based rowids at vertex
        // positions of path arrays (match.cpp:503-506) where graft
        // emits the (stable, joinable) declared keys. With the flag set,
        // a single numeric key space, and a resolver that provides the
        // `__rowid` pseudo-column, even slots translate key → rowid.
        // Best-effort by design: composite/mixed/stringified spaces and
        // rowid-less resolvers keep declared keys.
        if (spark.conf.getOption("spark.graft.pathArrayRowids")
              .exists(_.equalsIgnoreCase("true")) &&
            !perSegSurrogates && pendingPathSurrogate.isEmpty) {
          val spaces = segSpaces.toSeq.distinct
          if (spaces.length == 1 && spaces.head._3) {
            val (tbl, keys, _) = spaces.head
            val src = resolver(spark, tbl)
            if (src.columns.contains("__rowid")) {
              val bij = src.select(
                col(keys.head).cast("long").as("__from"),
                col("__rowid").cast("long").as("__to"))
              plan = translateVertexSlots(plan, pcol, bij)
            }
          }
        }
        p.pathVar.foreach(pv => pathCols(pv) = pcol)
      }
    }

    /** Path segment of a fixed hop inside a named path: the reference's
      * `list_value(a.rowid, e.rowid, b.rowid)` (match.cpp:598-616), built
      * from the already-joined aliases. When no edge-id column is declared
      * the edge alias carries a synthetic dense id (`__geid`, see
      * [[withDenseEid]]) — the same id the quantified kernel uses, so mixed
      * fixed/quantified segments stay consistent and parallel edges stay
      * distinct. */
    def fixedSegment(p: PathPattern, ep: EdgePattern, et: EdgeTable,
        aAlias: String, eAlias: String, bAlias: String): Column = {
      val (aKeys, bKeys, aVt, bVt) = ep.direction match {
        case EdgeDirection.Left =>
          (et.dstRefKeys, et.srcRefKeys,
            pg.vertexLabel(et.dstLabel), pg.vertexLabel(et.srcLabel))
        case _ =>
          (et.srcRefKeys, et.dstRefKeys,
            pg.vertexLabel(et.srcLabel), pg.vertexLabel(et.dstLabel))
      }
      val eid: Column = et.edgeIdCol match {
        case Some(c) =>
          requireIntegralEdgeId(et, c)
          col(s"$eAlias.$c").cast("long")
        case None => col(s"$eAlias.__geid")
      }
      val aNum = aKeys.length == 1 && numericKey(aVt, aKeys.head)
      val bNum = bKeys.length == 1 && numericKey(bVt, bKeys.head)
      // a fixed hop's string and canonical ranking forms need no mapping
      // join: the aliases already carry every column of their table
      // (only consulted on the per-segment-translation route)
      segXlates += FixedRec(
        array(aliasSurr(aAlias, aKeys), eid.cast("string"),
          aliasSurr(bAlias, bKeys)),
        aAlias, aVt.tableName, aKeys, aNum, eid,
        bAlias, bVt.tableName, bKeys, bNum)
      if (aNum && bNum) {
        segSpaces += ((aVt.tableName, aKeys, true))
        segSpaces += ((bVt.tableName, bKeys, true))
        array(col(s"$aAlias.${aKeys.head}").cast("long"), eid,
          col(s"$bAlias.${bKeys.head}").cast("long"))
      } else {
        // composite / non-numeric keys ride dense rowids — the same
        // memoized mapping the quantified kernels use. Each SIDE uses its
        // own space: a homogeneous hop stays one comparable space (and,
        // off the per-segment route, one combined exposed translation —
        // registered below); a hop BRIDGING two spaces builds each slot
        // in its side's space, which the combined column only ever feeds
        // to the whole-path ranking (deterministic either way) — exposure
        // of a bridging hop always rides the per-segment route, where the
        // string form above is exact
        def sideId(alias: String, keys: Seq[String], vt: VertexTable,
            num: Boolean): Column =
          if (num) {
            segSpaces += ((vt.tableName, keys, true))
            col(s"$alias.${keys.head}").cast("long")
          } else {
            val ids = rowidMapping(vt.tableName, keys)
            segSpaces += ((vt.tableName, keys, false))
            if (pathExposed(p) && !perSegSurrogates)
              registerPendingSurrogate(ids, keys.length, vt.tableName, keys)
            col(attachAliasRowid(alias, keys, ids))
          }
        array(sideId(aAlias, aKeys, aVt, aNum), eid,
          sideId(bAlias, bKeys, bVt, bNum))
      }
    }

    /** Fixed-length edge hop: explicit equi-joins per direction
      * (reference A2-A5, match.cpp:365-444). */
    def bindFixedEdge(ep: EdgePattern, vp: VertexPattern,
        aAlias: String): String =
      bindFixedEdgeEx(ep, vp, aAlias)._1

    /** As [[bindFixedEdge]], additionally returning the edge alias and
      * resolved edge table (needed for named-path segment assembly).
      * `withEid` attaches the synthetic dense edge id (`__geid`) when the
      * table declares no edgeIdCol — named-path hops only. */
    def bindFixedEdgeEx(ep: EdgePattern, vp: VertexPattern,
        aAlias: String, withEid: Boolean = false,
        allowFuse: Boolean = false)
        : (String, String, EdgeTable) = {
      val eName = ep.varName.getOrElse(freshName("e"))
      val et = resolveEdge(eName, ep.label)
      if (bindings.contains(eName))
        throw GraphAnalysisException(s"Edge variable '$eName' is bound twice")
      bindings(eName) = Binding(eName, isVertex = false, et.tableName)

      val table = withRowid(
        if (withEid && et.edgeIdCol.isEmpty) withDenseEid(et)
        else resolver(spark, et.tableName))
      val baseDF = edgeSubFilter(table, et, ep.label)
      val eDF0 = ep.direction match {
        case EdgeDirection.Undirected => undirectedView(baseDF, et)
        case _                        => baseDF
      }
      var eDF = eDF0.alias(eName)
      ep.where.foreach(w => eDF = eDF.filter(expr(w)))

      // join edge to the already-bound vertex a
      val (condA: Column, aRefKeys: Seq[String]) = ep.direction match {
        case EdgeDirection.Left =>
          (keysEq(eName, et.dstKeys, aAlias, et.dstRefKeys), et.dstRefKeys)
        case _ => // Right / Undirected / Both: a is the source side
          (keysEq(eName, et.srcKeys, aAlias, et.srcRefKeys), et.srcRefKeys)
      }
      // broadcast-side choice + footprint upkeep: the edge join cannot
      // multiply plan rows iff every plan row is a distinct a-table row
      // (chainUnique) and the a-table is unique on the joined ref keys
      val eBytes = ep.direction match {
        case EdgeDirection.Right | EdgeDirection.Left =>
          tableFootprintBytes(et.tableName)
        case _ => -1L // undirected/both views double/semi-join the table
      }
      sizedJoin(eDF, condA, eBytes)
      val chainUniqueHere = chainUniqueThunk // this hop's epoch
      advanceFootprint(eBytes, chainUniqueHere() && {
        val aTable = vertexBindingAt(aAlias).table
        !hasDuplicateKeysTable(aTable, aRefKeys)
      })

      // join vertex b with the edge's other side
      val condB: String => Column = ep.direction match {
        case EdgeDirection.Left =>
          b => keysEq(eName, et.srcKeys, b, et.srcRefKeys)
        case _ =>
          b => keysEq(eName, et.dstKeys, b, et.dstRefKeys)
      }
      val bHint = ep.direction match {
        case EdgeDirection.Left => et.srcLabel
        case _                  => et.dstLabel
      }
      // identity-fusion candidate for the far vertex: the edge's b-side
      // endpoint/reference keys (never for Undirected — its view swaps
      // key columns, so the edge row is not the vertex row)
      val fuseInfo =
        if (allowFuse && ep.direction != EdgeDirection.Undirected)
          Some((eName, et.tableName,
            if (ep.direction == EdgeDirection.Left) et.srcKeys
            else et.dstKeys,
            if (ep.direction == EdgeDirection.Left) et.srcRefKeys
            else et.dstRefKeys))
        else None
      val bRefKeys = ep.direction match {
        case EdgeDirection.Left => et.srcRefKeys
        case _                  => et.dstRefKeys
      }
      val bAlias = bindVertex(vp, Some(condB), Some(bHint), fuseInfo,
        boundRefKeys = Some(bRefKeys))
      // the NEXT hop's join key is b's: plan rows stay distinct b-table
      // rows only when this edge's far-endpoint columns are unique on
      // the edge table (no fan-in) — the probe defers until a later hop
      // actually consults the bound (a terminal hop never pays it)
      chainUniqueLazy(() => {
        val bEdgeKeys = ep.direction match {
          case EdgeDirection.Left => et.srcKeys
          case _                  => et.dstKeys
        }
        !hasDuplicateKeysTable(et.tableName, bEdgeKeys)
      })

      // Bidirectional `<-[e]->`: additionally join a second copy of the edge
      // table in the reverse direction (reference `EdgeTypeLeftRight`
      // match.cpp:416-444 — multiplicity semantics preserved).
      if (ep.direction == EdgeDirection.Both) {
        val e2 = freshName("e")
        // the reverse copy matches the same labeled edge set: the
        // sub-label bitmask applies to it too (the element's inline WHERE
        // references the first alias and is hoisted there only, like the
        // reference's element-WHERE handling)
        val e2DF = edgeSubFilter(withRowid(resolver(spark, et.tableName)), et,
          ep.label).alias(e2)
        val cond = keysEq(e2, et.srcKeys, bAlias, et.srcRefKeys) &&
          keysEq(e2, et.dstKeys, aAlias, et.dstRefKeys)
        plan = plan.join(e2DF, cond, "inner")
        setPlanFootprint(-1L) // parallel reverse edges can multiply rows
        setChainUnique(false)
      }
      (bAlias, eName, et)
    }

    /** Variable-length / shortest-path hop: compute a (src, dst, dist[, path])
      * DataFrame with the BFS kernel and join it between a and b — the
      * Spark-plan mirror of reference `AddPathFinding` match.cpp:673-707 and
      * `CheckNamedSubpath`/shortest-path CTE :709-790. */
    def bindPathEdge(p: PathPattern, ep: EdgePattern, vp: VertexPattern,
        aAlias: String): (String, Option[String]) = {
      val et = resolveEdge(ep.varName.getOrElse("(edge)"), ep.label)
      val q = ep.quantifier.getOrElse(Quantifier(1, Some(1)))
      // reference guard (match.cpp:100-104, subpath_match.test): an
      // unbounded quantifier without a search prefix enumerates ALL
      // walks — infinite on any cyclic graph. A non-WALK mode makes the
      // set finite (visited sets strictly grow), which is exactly what
      // the reference's own error message suggests.
      if (q.upper.isEmpty && p.prefix.isEmpty && p.mode == PathMode.Walk)
        throw GraphAnalysisException(
          "ALL unbounded with path mode WALK is not possible as this " +
            "could lead to infinite results. Consider specifying an " +
            "upper bound or path mode other than WALK")
      val needPath = p.pathVar.isDefined &&
        (p.prefix.isDefined || p.mode != PathMode.Walk)
      // enumeration (non-WALK mode without a prefix, or the enumPrefix
      // route where the prefix ranks whole paths afterwards): one row PER
      // mode-valid path; ALL SHORTEST: one row per shortest path. Both
      // need edge identity for the arrays / TRAIL checks.
      val isEnum = p.mode != PathMode.Walk &&
        (p.prefix.isEmpty || enumPrefix)
      val isAllShortest = p.prefix.contains(SearchPrefix.AllShortest)
      val kOpt = p.prefix.collect { case SearchPrefix.ShortestK(kk) => kk }
      val needEid = needPath || isEnum || isAllShortest || kOpt.isDefined

      // Traversal endpoints. For a Left edge `(a)<-[e]-(b)` the pattern's
      // `a` sits on the edge's DESTINATION side (the traversal follows
      // reversed edges), so the key roles swap — the synthetic dense edge
      // id (`__geid`, [[withDenseEid]]) is attached to the row before any
      // direction handling, so it is orientation-independent and matches
      // what a fixed hop over the same physical edge emits.
      // The plan joins use the edge's declared reference keys, matching
      // bindFixedEdge (not the vertex tables' own key columns, which may
      // legitimately differ).
      // The edge's inline WHERE constrains the traversed edge set (same
      // hoisting as bindFixedEdge — the kernel must never walk excluded
      // edges). For Undirected the filter applies AFTER the orientation
      // doubling, exactly like bindFixedEdge, so the predicate sees both
      // orientations.
      val eName = ep.varName.getOrElse(freshName("e"))
      val baseTable = if (needEid && et.edgeIdCol.isEmpty) withDenseEid(et)
        else resolver(spark, et.tableName)
      val edgesRaw = edgeSubFilter(baseTable, et, ep.label)
      def applyWhere(df: DataFrame): DataFrame =
        ep.where.foldLeft(df.alias(eName))((d, w) => d.filter(expr(w)))
      val (aEdgeKeys, bEdgeKeys, aVt, aRefKeys, bVt, bRefKeys) =
        ep.direction match {
          case EdgeDirection.Left =>
            (et.dstKeys, et.srcKeys, pg.vertexLabel(et.dstLabel),
              et.dstRefKeys, pg.vertexLabel(et.srcLabel), et.srcRefKeys)
          case _ =>
            (et.srcKeys, et.dstKeys, pg.vertexLabel(et.srcLabel),
              et.srcRefKeys, pg.vertexLabel(et.dstLabel), et.dstRefKeys)
        }
      val edges = ep.direction match {
        case EdgeDirection.Undirected =>
          applyWhere(undirectedView(edgesRaw, et))
        case EdgeDirection.Both =>
          // a bidirectional step exists iff BOTH orientations exist — the
          // quantified extension of fixed-hop `<-[e]->` (reference
          // EdgeTypeLeftRight match.cpp:416-444; for quantified edges the
          // reference raises NotImplemented — this exceeds parity). The
          // traversed set is the forward rows semi-joined against their
          // reverses, so the kernel walks forward edges (and path arrays
          // carry the FORWARD edge id; with parallel reverse edges the
          // fixed-hop form would multiply rows, the kernel keeps one —
          // documented divergence). Requires one key space, like
          // undirected.
          val sVt2 = pg.vertexLabel(et.srcLabel)
          val dVt2 = pg.vertexLabel(et.dstLabel)
          if (sVt2.tableName != dVt2.tableName ||
              et.srcRefKeys != et.dstRefKeys)
            throw GraphAnalysisException(
              s"Bidirectional edge '${et.label}' requires source and " +
                "destination to reference the same vertex table and keys")
          val rev = edgesRaw.select(
            et.dstKeys.zipWithIndex.map { case (c, i) =>
              col(c).as(s"__rs$i")
            } ++ et.srcKeys.zipWithIndex.map { case (c, i) =>
              col(c).as(s"__rd$i")
            }: _*)
          val cond = et.srcKeys.zipWithIndex.map { case (c, i) =>
            edgesRaw(c) === rev(s"__rs$i")
          }.reduce(_ && _) && et.dstKeys.zipWithIndex.map { case (c, i) =>
            edgesRaw(c) === rev(s"__rd$i")
          }.reduce(_ && _)
          applyWhere(edgesRaw.join(rev, cond, "left_semi"))
        case _ => applyWhere(edgesRaw)
      }

      // Filter-before-pathfinding (SURVEY §4), extended to the whole
      // pattern prefix: seed the BFS from the DISTINCT `a` keys of the
      // partial plan, so everything accumulated so far — earlier fixed
      // hops, element WHEREs, sub-label masks, cross-pattern bindings —
      // prunes the seed set. An IC13-style selective prefix seeds a
      // handful of vertices instead of the whole vertex table; strictly
      // better than the reference, which runs the kernel over the full
      // a×b cross product.
      require(plan != null, "pattern prefix must be bound before a path edge")

      // Single-column numeric keys drive the long-typed kernels directly;
      // composite OR non-numeric keys map through dense rowids below —
      // the reference gets both cases for free because its kernels run on
      // physical rowids and CSR construction maps PK/FK tuples to them
      // (compressed_sparse_row.cpp:194-204,238-250).
      val keyIsNumeric = aRefKeys.length == 1 && bRefKeys.length == 1 &&
        numericKey(aVt, aRefKeys.head) && numericKey(bVt, bRefKeys.head)

      // the reference's CSR build refuses duplicate vertex keys for
      // path-finding queries (csr_creation.cpp:121-125,
      // non-unique-vertices.test:36-75) — a kernel over a non-injective
      // key space silently collapses duplicates, so raise the same loud
      // error. Fixed-hop joins (no kernel) legitimately keep duplicates.
      requireUniqueKeys(aVt, aRefKeys)
      requireUniqueKeys(bVt, bRefKeys)

      // declared edge identity rides into the kernels so path arrays carry
      // real edge ids (reference rowid analogue); otherwise the synthetic
      // dense id attached by withDenseEid. Declared ids must be numeric —
      // casting a string id to long would silently null every eid.
      val eidCols: Seq[Column] = et.edgeIdCol match {
        case Some(c) =>
          requireIntegralEdgeId(et, c)
          Seq(col(c).cast("long").as("eid"))
        case None if needEid => Seq(col("__geid").as("eid"))
        case None => Nil
      }
      // surrogate translation for exposed path arrays over composite /
      // non-numeric keys (set in the rowid branch below): identity
      // elsewhere
      var surrogatize: DataFrame => DataFrame = identity
      // kernel-frame byte accounting for the join-back broadcast hint:
      // extra bytes the fromRowid/surrogatize wrappers can add on top of
      // the kernel output (rowid attaches are unique-key joins bounded
      // by the mapping, itself bounded by its table's footprint); -1 =
      // unknown, never hint
      var joinedExtraBytes = 0L
      val (edgeList, seedList, fromRowid) =
        if (keyIsNumeric) {
          (edges.select(Seq(col(aEdgeKeys.head).cast("long").as("src"),
            col(bEdgeKeys.head).cast("long").as("dst")) ++ eidCols: _*),
            plan.select(col(s"$aAlias.${aRefKeys.head}").cast("long")
              .as("id")).distinct(),
            identity[DataFrame] _)
        } else {
          if (aVt.tableName != bVt.tableName || aRefKeys != bRefKeys)
            throw GraphAnalysisException(
              "variable-length paths over composite or non-numeric keys " +
                "require source and destination vertices from the same " +
                "table and key columns")
          // element_id/vertices/edges over composite/non-numeric keys:
          // the kernels run in dense-rowid space, so exposed arrays are
          // translated to STABLE SURROGATES (vertices → the '|'-joined
          // declared key tuple; edges → their edge id, which is the
          // declared id column when one exists). The reference leaks its
          // physical rowids here (match.cpp:731-788) — a surrogate
          // derived from declared keys survives reloads and engine
          // swaps. Search-prefix segments translate right after the
          // kernel; ENUMERATION segments must stay long-typed for the
          // cross-element mode filters, so their translation is deferred
          // to the concatenated path column (processPattern).
          val exposing = needPath && pathExposed(p)
          // shared dense-rowid space (memoized — fixed hops and mode
          // filters over the same (table, keys) use the SAME mapping)
          val ids = rowidMapping(aVt.tableName, aRefKeys)
          // edge-side key structs cast field-wise to the vertex key types
          // so the struct equality is exact (e.g. INT edge FK vs BIGINT
          // vertex PK)
          val vKeyTypes = aRefKeys.map(k =>
            fieldType(resolver(spark, aVt.tableName), k))
          def edgeKeyStruct(cols: Seq[String]): Column =
            struct(cols.zipWithIndex.map { case (c, i) =>
              col(c).cast(vKeyTypes(i)).as(s"_k$i")
            }: _*)
          // `__gsrc`/`__gdst` avoid colliding with edge tables whose key
          // columns are literally named src/dst
          val e = edges
            .join(ids.select(col("__raw"), col("__rowid").as("__gsrc")),
              edgeKeyStruct(aEdgeKeys) === col("__raw")).drop("__raw")
            .join(ids.select(col("__raw"), col("__rowid").as("__gdst")),
              edgeKeyStruct(bEdgeKeys) === col("__raw")).drop("__raw")
            .select(Seq(col("__gsrc").as("src"),
              col("__gdst").as("dst")) ++ eidCols: _*)
          val sd = plan
            .select(keyStruct(aRefKeys, Some(aAlias)).as("__raw")).distinct()
            .join(ids, Seq("__raw"))
            .select(col("__rowid").as("id"))
          if (exposing && perSegSurrogates) {
            // per-segment-translation route: the segment stays long-typed
            // through mode filters and ranking; its JoinStr recipe (above)
            // translates it through its OWN mapping at assembly
            ()
          } else if (exposing && (isEnum || deferFixedSurrogates)) {
            // defer: segment arrays feed long-typed mode filters first
            // (enumeration), or must concatenate with composite fixed-hop
            // segments that are long-typed dense rowids — either way the
            // COMBINED column translates once, after ranking/filters
            registerPendingSurrogate(ids, aRefKeys.length,
              aVt.tableName, aRefKeys)
          } else if (exposing) {
            surrogatize = df => surrogatizeArrayCol(df, "path", ids,
              aRefKeys.length)
            joinedExtraBytes = -1L // translation shape unaccounted
          }
          // the two rowid attaches are unique-key joins: rows preserved,
          // bytes bounded by the mapping (≤ its table's footprint) each
          if (joinedExtraBytes >= 0L) {
            val idsBound = tableFootprintBytes(aVt.tableName)
            joinedExtraBytes =
              if (idsBound >= 0L) 2L * idsBound else -1L
          }
          (e, sd, (df: DataFrame) => df
            .join(ids.select(col("__raw").as("__rawsrc"),
              col("__rowid").as("src")), Seq("src"))
            .join(ids.select(col("__raw").as("__rawdst"),
              col("__rowid").as("dst")), Seq("dst"))
            .drop("src", "dst")
            .withColumnRenamed("__rawsrc", "src")
            .withColumnRenamed("__rawdst", "dst"))
        }

      // per-segment path column; processPattern concatenates the segments
      // and registers the combined array under the path variable
      val segColOpt: Option[String] =
        if (needPath) Some(freshName(s"seg_${p.pathVar.get}_"))
        // enumeration always carries its path array: the mixed-pattern
        // mode filters consult it; the final COLUMNS projection drops it
        else if (isEnum) Some(freshName("modeseg"))
        else None
      if (segColOpt.isDefined) {
        if (keyIsNumeric) {
          segSpaces += ((aVt.tableName, aRefKeys, true))
          segSpaces += ((bVt.tableName, bRefKeys, true))
          // per-segment-translation route: numeric segments become
          // strings by an element-wise cast (raw keys and edge ids both
          // surface as their decimal text, matching aliasSurr)
          segXlates += QuantRec(segColOpt.get, aVt.tableName, aRefKeys,
            numeric = true, ids = None)
        } else {
          segSpaces += ((aVt.tableName, aRefKeys, false))
          // composite/non-numeric segments translate through their OWN
          // dense-rowid mapping at assembly time (memoized — same object
          // the kernel join below uses)
          segXlates += QuantRec(segColOpt.get, aVt.tableName, aRefKeys,
            numeric = false,
            ids = Some((rowidMapping(aVt.tableName, aRefKeys),
              aRefKeys.length)))
        }
      }
      // byte size of the raw kernel frame when it is a driver-local
      // relation (the LOCAL kernel branch): feeds the join-back
      // broadcast hint below; a distributed kernel result reads -1
      var kernelFrameBytes = -1L
      def sizedKernel(kf: DataFrame): DataFrame = {
        kernelFrameBytes = graft.graph.PathFinder.localRelationBytes(kf)
        kf
      }
      val joined =
        if (isEnum || isAllShortest || kOpt.isDefined) {
          // one row PER PATH (multiplicity semantics). Under ANY SHORTEST
          // a non-WALK mode is free — every shortest walk is vertex-simple
          // (a repeated vertex would contain a removable cycle), hence
          // trail/acyclic-valid — so only these cases need the
          // path-multiplicity kernels.
          // in a MIXED pattern a SIMPLE segment runs ACYCLIC: an interior
          // segment must not close a cycle; the whole path's closing
          // exemption is handled by the cross-element alias filters
          val segMode =
            if (p.mode == PathMode.Simple && p.elements.length != 3)
              PathMode.Acyclic
            else p.mode
          val paths = surrogatize(
            if (isEnum)
              fromRowid(sizedKernel(PathFinder.enumerateModePaths(spark,
                edgeList, seedList, q.lower, q.upper, segMode)))
            else if (kOpt.isDefined)
              fromRowid(sizedKernel(PathFinder.kShortestPaths(spark,
                edgeList, seedList, q.lower, q.upper, p.mode, kOpt.get)))
            else
              fromRowid(sizedKernel(PathFinder.allShortestPaths(spark,
                edgeList, seedList, q.lower, q.upper))))
          paths.select(Seq(col("src").as("__psrc"),
            col("dst").as("__pdst"),
            col("dist").as(freshName("dist"))) ++
            segColOpt.map(c => col("path").as(c)).toSeq: _*)
        } else if (needPath) {
          val paths = surrogatize(fromRowid(sizedKernel(
            PathFinder.shortestPaths(
              spark, edgeList, seedList, q.lower, q.upper))))
          paths.select(col("src").as("__psrc"), col("dst").as("__pdst"),
            col("path").as(segColOpt.get),
            col("dist").as(freshName("dist")))
        } else {
          // selective-destination pruning: if `b` carries an inline WHERE
          // or sub-label, restrict (and possibly early-stop) the BFS to
          // that target set — the distance join with b would drop other
          // rows anyway
          // pruning is best-effort: a WHERE referencing other pattern
          // variables can't filter a standalone vertex table — fall back
          // to no pruning (the plan-level join still applies it)
          val targetsOpt: Option[DataFrame] =
            if (keyIsNumeric && (vp.where.isDefined ||
                vp.label.exists(l =>
                  bVt.subLabels.exists(_.equalsIgnoreCase(l))))) {
              try {
                var tDF = vertexDF(bVt, vp.label)
                  .alias(vp.varName.getOrElse(freshName("t")))
                vp.where.foreach(w => tDF = tDF.filter(expr(w)))
                Some(tDF.select(col(bRefKeys.head).cast("long").as("id")))
              } catch {
                case _: org.apache.spark.sql.AnalysisException => None
              }
            } else None
          fromRowid(sizedKernel(PathFinder.bfsDistances(spark, edgeList,
            seedList, q.upper, targetsOpt))
            .filter(col("dist") >= q.lower &&
              q.upper.map(u => col("dist") <= u).getOrElse(lit(true))))
            .select(col("src").as("__psrc"), col("dst").as("__pdst"),
              col("dist").as(freshName("dist")))
        }

      val srcCond: Column =
        if (keyIsNumeric)
          col(s"$aAlias.${aRefKeys.head}").cast("long") === col("__psrc")
        else keyStruct(aRefKeys, Some(aAlias)) === col("__psrc")
      // join-back broadcast hint: a LOCAL kernel's result frame (plus
      // its bounded rowid attaches) under the footprint gate is hinted
      // as the build side — without it Catalyst's product estimate
      // plans TWO shuffle exchanges + sort-merge between, say, two
      // 100-row segment frames (the q93 ladder's only SMJ). Distributed
      // kernel frames read -1 and keep today's plan.
      val joinedBytes =
        if (kernelFrameBytes >= 0L && joinedExtraBytes >= 0L)
          kernelFrameBytes + joinedExtraBytes else -1L
      plan =
        if (joinedBytes >= 0L && joinedBytes <= broadcastMax)
          plan.join(broadcast(joined), srcCond, "inner")
        else plan.join(joined, srcCond, "inner")
      setPlanFootprint(-1L) // kernel frame: rows may multiply downstream
      setChainUnique(false)
      val bAlias = bindVertex(vp, Some(b =>
        if (keyIsNumeric)
          col(s"$b.${bRefKeys.head}").cast("long") === col("__pdst")
        else keyStruct(bRefKeys, Some(b)) === col("__pdst")), Some(bVt.label))
      plan = plan.drop("__psrc", "__pdst")
      if (isEnum) currentModeSegs += ModeSeg(segColOpt.get, et,
        aVt.tableName, aRefKeys, keyIsNumeric,
        aVt.tableName == bVt.tableName && aRefKeys == bRefKeys,
        aAlias, bAlias)
      (bAlias, segColOpt)
    }

    spec.patterns.foreach(processPattern)

    // Column-binding validation (reference `CheckColumnBinding`
    // match.cpp:925-967): any `binding.prop` reference in WHERE/COLUMNS
    // must be a registered property of that binding's table.
    def checkRefs(sql: String): Unit = {
      val e = try spark.sessionState.sqlParser.parseExpression(
          rewritePathFunctions(sql, pathCols.toMap))
        catch { case _: Exception => return }
      // registered property set of one binding; None = ALL COLUMNS
      // (unknowable without schema ⇒ unchecked, like the reference's
      // all-columns expansion)
      def registeredProps(b: Binding): Option[Seq[String]] = {
        // the rowid pseudo-column is always addressable when the resolver
        // carries one, even under a restricted PROPERTIES list (DuckDB
        // exposes rowid regardless of registered properties)
        def rowidProp: Seq[String] =
          if (resolver(spark, b.table).columns.contains("__rowid"))
            Seq("rowid") else Nil
        val r: Option[Seq[String]] =
          if (b.isVertex)
            pg.vertexTables.find(_.tableName == b.table)
              .map(v => if (v.properties.isEmpty) Nil
                else v.properties ++ v.keyCols ++ v.discriminator ++ rowidProp)
          else
            // edge key columns are NOT implicitly queryable — the
            // reference registers only the declared property list
            // (all_properties.test:83: `dst` errors while PROPERTIES
            // (src) makes `src` legal)
            pg.edgeTables.find(_.tableName == b.table)
              .map(e => if (e.properties.isEmpty) Nil
                else e.properties ++ rowidProp)
        r.filter(_.nonEmpty)
      }
      e.foreach {
        case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if ua.nameParts.length == 2 =>
          val (alias, prop) = (ua.nameParts.head, ua.nameParts(1))
          bindings.get(alias).foreach { b =>
            registeredProps(b) match {
              case Some(props) if !props.exists(_.equalsIgnoreCase(prop)) =>
                // reference echoes the reference text as written
                // (match.cpp:925-967: "Property p2.name is never
                // registered!" for qualified, bare name otherwise)
                throw GraphAnalysisException(
                  s"Property $alias.$prop is never registered!")
              case _ => ()
            }
          }
        case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if ua.nameParts.length == 1 =>
          // bare column: must be a registered property of SOME binding
          // (reference all_properties.test:83 `COLUMNS (dst)` errors).
          // Any ALL-COLUMNS binding makes the set unknowable → skip, and
          // path variables resolve through pathCols, not properties.
          val prop = ua.nameParts.head
          val perBinding = bindings.values.toSeq.map(registeredProps)
          val anyUnknowable = perBinding.exists(_.isEmpty)
          val known = perBinding.flatten.flatten
          if (!anyUnknowable && !pathCols.valuesIterator.toSeq
                .exists(_.equalsIgnoreCase(prop)) &&
              !known.exists(_.equalsIgnoreCase(prop)))
            throw GraphAnalysisException(
              s"Property $prop is never registered!")
        case _ => ()
      }
    }
    spec.where.foreach(checkRefs)
    spec.columns.foreach(c => if (!c.expr.trim.endsWith("*")) checkRefs(c.expr))

    // path column functions are legal in WHERE too (reference rewrites them
    // wherever they appear, match.cpp:731-788)
    spec.where.foreach(w =>
      plan = plan.filter(rexpr(rewritePathFunctions(w, pathCols.toMap))))

    // COLUMNS projection (reference match.cpp:1011-1087): star expansion,
    // path column functions, aliased expressions.
    val vertexAliases = bindings.collect {
      case (n, b) if b.isVertex && !n.startsWith("__") => n
    }.toSeq
    // star expansion honors the registered property subset (reference
    // match.cpp:1054-1080 expands against registered properties, so
    // PROPERTIES(...)/EXCEPT exclusions never leak through `*`)
    // property names are backtick-quoted so names with dots/spaces/reserved
    // words survive col()'s attribute parsing (generated_sql_quoting.test)
    def bq(c: String): String = s"`${c.replace("`", "``")}`"
    def starCols(alias: String): Seq[Column] =
      // case-insensitive lookup: Spark resolves alias qualifiers
      // case-insensitively, so `A.*` must hit binding `a`.
      // ALL-COLUMNS (empty properties) expands from the table's physical
      // schema, not `alias.*`, so synthetic plan columns (`__geid`) never
      // leak through a star
      // `__rowid` (and the derived `rowid` pseudo-column) never expand
      // through a star — DuckDB hides rowid from `*` too
      bindings.find(_._1.equalsIgnoreCase(alias)).map(_._2) match {
        case Some(b) if b.isVertex =>
          // qualify through the binding's PLAN alias — a fused vertex
          // has no frame of its own, its columns live on the edge alias
          pg.vertexTables.find(_.tableName == b.table) match {
            case Some(vt) if vt.properties.nonEmpty =>
              vt.properties.map(c => col(s"${b.alias}.${bq(c)}"))
            case _ => resolver(spark, b.table).columns.toSeq
              .filterNot(_.startsWith("__"))
              .map(c => col(s"${b.alias}.${bq(c)}"))
          }
        case Some(b) =>
          pg.edgeTables.find(_.tableName == b.table) match {
            case Some(et) if et.properties.nonEmpty =>
              et.properties.map(c => col(s"${b.alias}.${bq(c)}"))
            case _ => resolver(spark, b.table).columns.toSeq
              .filterNot(_.startsWith("__"))
              .map(c => col(s"${b.alias}.${bq(c)}"))
          }
        case None => Seq(col(s"$alias.*"))
      }
    // (column, known output name) — the name drives DuckDB-style `_1`
    // dedup below; None for stars/complex expressions (no dedup there)
    val cols: Seq[(Column, Option[String])] = spec.columns.flatMap { cs =>
      cs.expr.trim match {
        case "*" =>
          // default/bare star = all named vertex bindings' columns
          // (reference transform_pgq.cpp:310-322)
          vertexAliases.flatMap(starCols).map(_ -> None)
        case s if s.endsWith(".*") =>
          starCols(s.stripSuffix(".*").trim).map(_ -> None)
        case s if pathCols.keys.exists(_.equalsIgnoreCase(s)) &&
            cs.alias.isEmpty =>
          // a bare path variable is not projectable — reference binder
          // text (shortest_path.test:85, complex_matching.test:74); use
          // element_id(p)/vertices(p)/edges(p)
          throw GraphAnalysisException(s"Property $s is never registered!")
        case s if bindings.keys.exists(_.equalsIgnoreCase(s)) =>
          // bare element reference → whole row as a struct (reference
          // basic_match.test:309-323, SURVEY §1.2 struct-valued columns)
          val n = cs.alias.getOrElse(s)
          Seq(struct(starCols(s): _*).as(n) -> Some(n))
        case s =>
          val rewritten = rewritePathFunctions(s, pathCols.toMap)
          val c = rexpr(rewritten)
          val name = cs.alias.orElse {
            // `a.prop` / `prop`: the output name is the trailing
            // identifier, which is what downstream SQL references
            val idRe = "^[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)?$"
            if (s.matches(idRe)) Some(s.split("\\.").last) else None
          }
          Seq(cs.alias.map(c.as).getOrElse(
            if (rewritten == s) c else c.as(s)) -> name)
      }
    }
    // DuckDB disambiguates duplicate output names by suffixing `_1`, `_2`…
    // (`select id, id_1 from graph_table(… COLUMNS (p.id, p2.id))`,
    // nested_subquery.test:32) — mirror that so downstream SQL can
    // reference both.
    val seen = scala.collection.mutable.Map[String, Int]()
    val deduped = cols.map {
      case (c, None) => c
      case (c, Some(n)) =>
        val k = n.toLowerCase
        val cnt = seen.getOrElse(k, 0)
        seen(k) = cnt + 1
        if (cnt == 0) c else c.as(s"${n}_$cnt")
    }
    plan.select(deduped: _*)
  }

  /** Rewrites SQL/PGQ path column functions over a named path `p` into
    * expressions on the kernel-produced path array column (reference
    * match.cpp:731-788): `path_length(p)` → (len-1)/2, `vertices(p)` →
    * even positions, `edges(p)` → odd positions, `element_id(p)` → array. */
  private[graft] def rewritePathFunctions(
      s: String, pathCols: Map[String, String]): String = {
    var out = s
    pathCols.foreach { case (p, c) =>
      out = out
        .replaceAll(s"(?i)path_length\\s*\\(\\s*$p\\s*\\)",
          s"CAST((size($c) - 1) / 2 AS BIGINT)")
        .replaceAll(s"(?i)element_id\\s*\\(\\s*$p\\s*\\)", c)
        .replaceAll(s"(?i)vertices\\s*\\(\\s*$p\\s*\\)",
          s"filter($c, (x, i) -> i % 2 == 0)")
        .replaceAll(s"(?i)edges\\s*\\(\\s*$p\\s*\\)",
          s"filter($c, (x, i) -> i % 2 == 1)")
        // bare path-var reference (`COLUMNS (p, …)`): the whole
        // interleaved array — applied after the function forms so only
        // standalone mentions remain (not `x.p`, `p.x`, or `p(...)`)
        .replaceAll(s"(?i)(?<![A-Za-z0-9_.`'])$p(?![A-Za-z0-9_(.`'])", c)
    }
    out
  }
}
