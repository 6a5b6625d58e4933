package graft.compiler

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
  UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types.DataType

import graft.functions.LongLongMap
import graft.graph.{PathFinder, PlanMemo}
import graft.model._
import graft.pgq._

/** One end of a resolved edge pattern: the vertex table it binds, the
  * edge's key columns on this side and the vertex keys they reference.
  * `numeric` (a single integral key, so the long-typed kernels and raw
  * path slots apply) reads the table's schema, which may re-read file
  * footers — it is forced only where a lowering consults it, so a plain
  * fixed hop never pays for it. */
private[compiler] final class End(val vt: VertexTable,
    val edgeKeys: Seq[String], val refKeys: Seq[String],
    integral: (VertexTable, String) => Boolean) {
  lazy val numeric: Boolean =
    refKeys.length == 1 && integral(vt, refKeys.head)
  def table: String = vt.tableName
}

/** An edge pattern resolved once, before any frame is built: its edge
  * table and its two ends — `a` on the traversal side (the vertex bound
  * before the hop) and `b` the far one. */
private[compiler] final case class Hop(ep: EdgePattern, et: EdgeTable,
    a: End, b: End) {
  def quantified: Boolean = ep.quantifier.isDefined

  /** Both ends live in one vertex-key space: one table, and reference
    * keys equal under SQL's case-insensitive identifier rules (the DDL
    * accepts `REFERENCES P (id)` on one side and `(ID)` on the other).
    * Swapping or walking endpoints is meaningful only then. */
  def homogeneous: Boolean = a.table == b.table &&
    a.refKeys.map(_.toLowerCase) == b.refKeys.map(_.toLowerCase)

  /** A directed edge whose `a`-side keys are the keys they reference:
    * stored in `a`'s table (which the binding pass checks), it may answer
    * as `a`'s row. */
  def keyedByNear: Boolean = ep.direction != EdgeDirection.Undirected &&
    ep.direction != EdgeDirection.Both &&
    a.edgeKeys.map(_.toLowerCase) == a.refKeys.map(_.toLowerCase)
}

private[compiler] object Hop {
  /** Label-less edges resolve to the graph's only edge table when
    * unambiguous (mirrors the vertex-side hint resolution). For a Left
    * edge `(a)<-[e]-(b)` the pattern's `a` sits on the edge's
    * DESTINATION side; Right, Undirected and Both traverse from the
    * source. */
  def resolve(pg: PropertyGraph, ep: EdgePattern,
      integral: (VertexTable, String) => Boolean): Hop = {
    val et = ep.label match {
      case Some(l) => pg.edgeLabel(l)
      case None if pg.edgeTables.length == 1 => pg.edgeTables.head
      case None => throw GraphAnalysisException(
        s"Edge '${ep.varName.getOrElse("(edge)")}' needs a label " +
          "(multiple edge tables registered)")
    }
    val src = new End(pg.vertexLabel(et.srcLabel), et.srcKeys,
      et.srcRefKeys, integral)
    val dst = new End(pg.vertexLabel(et.dstLabel), et.dstKeys,
      et.dstRefKeys, integral)
    if (ep.direction == EdgeDirection.Left) Hop(ep, et, dst, src)
    else Hop(ep, et, src, dst)
  }
}

/** A path pattern resolved once: the pattern as lowered (see
  * [[Route.resolve]] for its two rewrites), its hops in order, whether
  * COLUMNS/WHERE consume the path's element identities (`exposed`: then
  * composite / non-numeric key spaces need surrogate translation), and
  * every per-pattern decision the lowering reads. */
private[compiler] final case class Route(p: PathPattern, hops: Seq[Hop],
    exposed: Boolean) {
  val quantified: Int = hops.count(_.quantified)

  /** The path variable binds a path column. */
  val needPath: Boolean = p.pathVar.isDefined &&
    (p.prefix.isDefined || p.mode != PathMode.Walk || quantified == 0)

  /** A non-WALK mode under a search prefix over a MIXED pattern compiles
    * as ENUMERATION (every quantified segment runs the mode-valid path
    * kernels) and the prefix is applied afterwards as a WHOLE-PATH
    * ranking over the endpoint partition. */
  val enumPrefix: Boolean = p.mode != PathMode.Walk && p.prefix.isDefined &&
    quantified > 0 && hops.length != 1

  /** SHORTEST k. Over a MIXED pattern it applies PER QUANTIFIED
    * SEGMENT: each segment contributes its k smallest subpaths given the
    * endpoint bindings — the per-subpath composition the reference's
    * CheckNamedSubpath concatenation defines for ANY SHORTEST
    * (match.cpp:709-790) — while fixed hops keep join multiplicity. A
    * single fixed edge ranks its parallel edges through the {1,1}
    * kernel; an all-fixed multi-hop pattern rides the whole-path ranking
    * under a hidden path variable ([[Route.resolve]]). */
  val kShortest: Option[Int] =
    p.prefix.collect { case SearchPrefix.ShortestK(k) => k }

  /** Every hop contributes a path segment: a named path, or the
    * enumPrefix route, whose whole-path ranking needs them all. */
  def segments: Boolean = needPath || enumPrefix

  /** The hop runs a path kernel: quantified; the single-edge SHORTEST k,
    * where a plain join would emit ALL parallel edges, not the top k; or
    * a fixed hop under a prefix off the segment route, where shortest
    * semantics dedup pairs. A fixed hop whose endpoints live in
    * DIFFERENT key spaces must NOT ride the kernel — one shared id space
    * would conflate e.g. Person 0 with School 0 and the visited set
    * would drop the real pair (shortest_path.test:37 `ANY SHORTEST
    * (a:Person)-[s:StudyAt]->(b:School)`); the reference plans
    * path-finding only for quantified patterns (match.cpp:673-707), so
    * it is a plain join there too. Fixed hops on a kernel collapse
    * parallel edges and expose no edge identity. */
  def viaKernel(h: Hop): Boolean =
    h.quantified || (kShortest.isDefined && hops.length == 1) ||
      (!segments && p.prefix.isDefined && h.homogeneous)

  /** Some fixed hop's segment rides dense rowids (composite or
    * non-numeric keys). Exposing quantified segments then defer their
    * surrogate translation to the combined column even outside
    * enumeration — fixed and quantified segments must concatenate in ONE
    * type space. */
  val deferFixed: Boolean = segments && hops.exists(h =>
    !viaKernel(h) && !(h.a.numeric && h.b.numeric))

  /** The exposed path spans MORE THAN ONE vertex-key space and at least
    * one of them is composite/non-numeric. One combined translation (or
    * one raw long array) cannot represent that, so each segment
    * translates to string surrogates through its OWN space and the
    * STRING arrays concatenate. Whole-path prefix ranking still runs on
    * the long-typed combined array first (same deterministic (length,
    * lex) tie-break as the single-space route; cross-space long
    * comparisons are arbitrary but stable). */
  val perSeg: Boolean = segments && exposed && {
    val ends = hops.flatMap(h => Seq(h.a, h.b))
    ends.exists(!_.numeric) &&
      ends.map(e => (e.table, e.refKeys)).distinct.length > 1
  }

  /** One row PER mode-valid path: a non-WALK mode without a prefix, or
    * the enumPrefix route. */
  def enumerates: Boolean =
    p.mode != PathMode.Walk && (p.prefix.isEmpty || enumPrefix)

  /** Kernels emit one row per path, not per endpoint pair. */
  def pathRows: Boolean = enumerates || kShortest.isDefined ||
    p.prefix.contains(SearchPrefix.AllShortest)

  /** Kernels and fixed hops must carry edge identities. */
  def needEid: Boolean = needPath || pathRows

  /** The combined path column is ranked per endpoint pair: on the
    * enumeration route, and on all-fixed named paths under a prefix,
    * where every row is one concrete path and no kernel ranked anything. */
  val needRank: Boolean =
    enumPrefix || (needPath && p.prefix.isDefined && quantified == 0)
}

private[compiler] object Route {
  /** Resolves `p0` over its already-resolved hops; `hiddenVar` names a
    * hidden path variable, `spec` is searched for path functions. */
  def resolve(p0: PathPattern, hops: Seq[Hop], spec: MatchSpec,
      hiddenVar: => String): Route = {
    val anyQuantified = hops.exists(_.quantified)
    // All-fixed multi-hop patterns under a search prefix that the
    // pair-dedup kernel route cannot express — TRAIL (needs per-hop
    // edge identities) and SHORTEST k (needs whole-path ranking) — are
    // routed through the named-path machinery with a HIDDEN path
    // variable: plain joins keep every hop's identity, the whole-path
    // prefix ranking applies the search semantics, and the synthetic
    // column is simply never projected.
    val needsHidden = p0.pathVar.isEmpty && p0.prefix.isDefined &&
      !anyQuantified && hops.length > 1 &&
      (p0.mode == PathMode.Trail ||
        p0.prefix.exists(_.isInstanceOf[SearchPrefix.ShortestK]))
    val p0a = if (needsHidden) p0.copy(pathVar = Some(hiddenVar)) else p0
    // a named path over a quantified pattern with no prefix and WALK
    // mode defaults to ANY SHORTEST — DuckDB's Kleene semantics is
    // shortest-per-pair (iterativelength), and the reference binds the
    // named path to that representative (`MATCH p = (a)-[k]->{1,3}(b)`
    // returns one shortest path per reachable pair,
    // complex_matching.test:327-340)
    val p =
      if (p0a.pathVar.isDefined && p0a.prefix.isEmpty &&
          p0a.mode == PathMode.Walk && anyQuantified)
        p0a.copy(prefix = Some(SearchPrefix.AnyShortest))
      else p0a
    val exposed = p.pathVar.exists { pv =>
      val r = s"(?i)(element_id|vertices|edges)\\s*\\(\\s*$pv\\s*\\)".r
      (spec.columns.map(_.expr) ++ spec.where.toSeq)
        .exists(t => r.findFirstIn(t).isDefined)
    }
    Route(p, hops, exposed)
  }
}

/** A driver-resident vertex table: the unique, non-null values `keys` of
  * its single integral key `key` (of type `keyType`), `index` mapping
  * each to its row, and `columns` (name, type, one Catalyst value per
  * row): the union of what the bindings over it have read besides the
  * key. */
private[compiler] final class ResidentTable(val key: String,
    val keyType: DataType, val keys: Array[Long], rows: Array[Long],
    val columns: Seq[(String, DataType, Array[Any])]) {
  val index = new LongLongMap(keys, rows)
  /** Lower-cased names of the columns it holds. */
  val holds: Set[String] =
    (key +: columns.map(_._1)).map(_.toLowerCase).toSet
}

private[graft] object ResidentTable {
  /** One entry per base table plan, key and cap, holding the union of
    * the reads asked so far (a wider ask collects the union and replaces
    * it); None (over the cap, a duplicate key) answers any reads. */
  private[graft] val memo = new PlanMemo[Option[ResidentTable]](16)

  /** The resident of `base` keyed on `key` holding at least `reads`
    * (lower-cased columns of `base`), or None — also when a read is not
    * atomic. The key, its null flag and the reads are ONE strategy-gate
    * collect of the base table ([[PathFinder.collectUnder]], unmemoized:
    * this memo keeps the rows); the null flag makes the uniqueness
    * verdict the probe's (null keys group together). */
  def apply(base: DataFrame, key: String, reads: Set[String],
      cap: Long): Option[ResidentTable] = {
    val (id, slot) = (PlanMemo.id(base), (key.toLowerCase, cap))
    val held = memo.get(id, slot)
    val all = reads ++ held.flatten.fold(Set.empty[String])(_.holds)
    val fields = base.schema.fields.toSeq.filter(f =>
      all(f.name.toLowerCase) && !f.name.equalsIgnoreCase(key))
      .sortBy(_.name.toLowerCase)
    if (!fields.forall(f => PathFinder.atomic(f.dataType))) None
    else if (held.exists(_.forall(r => reads.subsetOf(r.holds)))) held.get
    else {
      def quoted(c: String) = col(s"`${c.replace("`", "``")}`")
      val k = quoted(key)
      val frame = base.select(Seq(coalesce(k.cast("long"), lit(0L)),
        k.isNull.cast("long")) ++ fields.map(f => quoted(f.name)): _*)
      memo.put(id, slot, PathFinder.collectUnder(frame, cap, memo = false)
        .flatMap { c =>
          val (ks, isNull) = (c.longs(0), c.longs(1))
          val rows = ks.indices.filter(isNull(_) == 0L).toArray
          val keys = rows.map(ks)
          Option.when(ks.length - keys.length <= 1 &&
              keys.distinct.length == keys.length)(new ResidentTable(key,
            base.schema.find(_.name.equalsIgnoreCase(key)).get.dataType,
            keys, rows.map(_.toLong), fields.zipWithIndex.map {
              case (f, j) => (f.name, f.dataType, c.values(j + 2))
            }))
        }, replace = true)
    }
  }
}

/** How lowering binds one element, as the [[BindingPass]] decides it. */
private[compiler] sealed trait Access

private[compiler] object Access {
  /** A chain head's table starts the plan (later heads cross-join it). */
  case object Scan extends Access
  /** Joined on the hop's reference keys; also a repeated variable. */
  case object Join extends Access
  /** Answered by an adjacent element's row: a vertex by its edge's, an
    * edge by its bound `a` vertex's — one table, one unique key. */
  case object Fused extends Access
  /** Read off resident `res`: one lookup per row yields `reads`, the
    * columns read besides the key (a chain head: the key set). */
  final case class Resident(res: ResidentTable,
      reads: Seq[(String, DataType, Array[Any])]) extends Access {
    /** Lower-cased names of the columns the binding carries. */
    val carries: Set[String] =
      (res.key +: reads.map(_._1)).map(_.toLowerCase).toSet
  }
}

/** The accesses of one pattern's elements: `vertex(i)` for its i-th
  * vertex, `edge(k)` for its k-th hop's edge. */
private[compiler] final case class PatternAccess(vertex: IndexedSeq[Access],
    edge: IndexedSeq[Access])

/** The binding pass: before any frame is built, it parses every element
  * WHERE, the global WHERE and the COLUMNS texts once, takes for each
  * vertex the union of what is read of it, and picks each element's
  * [[Access]], so lowering only emits. `parse` is the compile's one
  * parse of a text (None when it does not parse), `table` resolves a
  * base table, `labelTable(vp, hint)` a vertex's label table (None where
  * lowering raises the error), `duplicates(table, keys)` is the memoized
  * uniqueness probe, `integral(table, column)` tells a column castable
  * to a long id, and `cap` bounds a resident's rows (min(65536, local
  * gate); 0 collects nothing). */
private[compiler] final class BindingPass(spec: MatchSpec,
    parse: String => Option[Expression], table: String => DataFrame,
    labelTable: (VertexPattern, Option[String]) => Option[VertexTable],
    duplicates: (String, Seq[String]) => Boolean,
    integral: (String, String) => Boolean, cap: Long) {

  private val globalTexts = spec.where.toSeq ++ spec.columns.map(_.expr)

  /** Variables by number of elements they name: a resident binds one. */
  private val occurrences: Map[String, Int] =
    spec.patterns.flatMap(_.elements).flatMap {
      case v: VertexPattern => v.varName
      case e: EdgePattern => e.varName
    }.groupBy(identity).map { case (n, ns) => n -> ns.length }

  private def lowerEq(xs: Seq[String], ys: Seq[String]): Boolean =
    xs.map(_.toLowerCase) == ys.map(_.toLowerCase)

  /** The lower-cased columns of `cols` (a table's lower-cased column
    * names) that `texts` read through variable `v`: `v.c` reads `c`; a
    * whole element `v`, a star over `v` or over everything, and a bare
    * column name of the table read every column. None when a text does
    * not parse. */
  private def reads(v: Option[String], texts: Seq[String],
      cols: Set[String]): Option[Set[String]] = {
    val vs = v.map(_.toLowerCase).toSet
    texts.foldLeft(Option(Set.empty[String])) { (acc, text) =>
      for (read <- acc; e <- parse(text)) yield read ++ e.collect {
        case ua: UnresolvedAttribute =>
          ua.nameParts.map(_.toLowerCase) match {
            case Seq(n) if vs(n) || cols(n) => cols
            case n +: c +: _ if vs(n) => Set(c)
            case _ => Set.empty[String]
          }
        case st: UnresolvedStar
            if st.target.forall(t => vs(t.head.toLowerCase)) => cols
      }.flatten
    }
  }

  /** What fixed hop `h`, fused onto its `a` vertex, reads of that table:
    * its far-side edge keys, its sub-label discriminator and whatever the
    * texts read through the edge variable. */
  private def edgeReads(h: Hop): Option[Set[String]] =
    reads(h.ep.varName, h.ep.where.toSeq ++ globalTexts,
      table(h.et.tableName).columns.map(_.toLowerCase).toSet)
      .map(_ ++ h.b.edgeKeys.map(_.toLowerCase) ++
      h.et.discriminator.filter(_ => h.ep.label.exists(l =>
        h.et.subLabels.exists(_.equalsIgnoreCase(l)))).map(_.toLowerCase))

  /** `vp`'s resident at hop end `e` of route `r` (`vt` its label's
    * table), or None. Always: `vp` is bound once, its label's table is
    * `e`'s, whose single integral key `e` references; the table has no
    * `__rowid` pseudo-column, the columns read are atomic, and its
    * non-null keys are unique and number at most `cap`. A path endpoint
    * (`fixed` None) also carries no sub-label, every hop touching its
    * table references that key, and no text reads any of its properties
    * but the key. A fixed hop's far vertex (`fixed` = that hop and the
    * next) is referenced from an integral edge column and carries what
    * the texts, its sub-label and the next hop read of it: the next hop's
    * reference keys and, when that edge fuses onto it, the edge's reads. */
  private def resident(vp: VertexPattern, vt: Option[VertexTable], e: End,
      r: Route, fixed: Option[(Hop, Option[Hop])]): Option[Access.Resident] = {
    val base = table(e.table)
    val key = e.refKeys.head
    val cols = base.columns.map(_.toLowerCase).toSet
    val own = vt.filter(_.tableName == e.table)
    val subLabeled = vp.label.exists(l =>
      own.exists(_.subLabels.exists(_.equalsIgnoreCase(l))))
    val texts = vp.where.toSeq ++ globalTexts
    val read: Option[Set[String]] = fixed match {
      case None =>
        reads(vp.varName, texts, cols).filter(rs => !subLabeled &&
          rs.subsetOf(Set(key.toLowerCase)) &&
          r.hops.flatMap(h => Seq(h.a, h.b)).forall(x =>
            x.table != e.table || lowerEq(x.refKeys, e.refKeys)))
      case Some((h, next)) =>
        val fuses = next.filter(n => !r.viaKernel(n) && n.keyedByNear &&
          n.et.tableName == e.table && lowerEq(n.a.refKeys, e.refKeys))
        val keyedByIntegral = h.ep.direction != EdgeDirection.Both &&
          integral(h.et.tableName, h.b.edgeKeys.head)
        for {
          rs <- reads(vp.varName, texts, cols)
          if keyedByIntegral
          edge <- fuses.fold(Option(Set.empty[String]))(edgeReads)
        } yield rs ++ edge ++
          own.flatMap(_.discriminator).filter(_ => subLabeled)
            .map(_.toLowerCase) ++
          next.toSeq.flatMap(_.a.refKeys.map(_.toLowerCase))
    }
    val eligible = cap > 0 && e.numeric &&
      vp.varName.forall(occurrences(_) == 1) &&
      own.exists(v => lowerEq(v.keyCols, e.refKeys)) && !cols("__rowid") &&
      read.exists(_.subsetOf(cols))
    if (!eligible) None
    else ResidentTable(base, key, read.get, cap).map(res =>
      Access.Resident(res, res.columns.filter(c =>
        read.get(c._1.toLowerCase))))
  }

  /** The accesses of `routes`, the patterns in lowering order. */
  def apply(routes: Seq[Route]): Seq[PatternAccess] = {
    // variable -> the label table of the vertex it first named (None: an
    // edge, or no resolvable label)
    val seen = mutable.Map[String, Option[VertexTable]]()
    routes.zipWithIndex.map { case (r, ri) =>
      val p = r.p
      val vps = p.elements.collect { case v: VertexPattern => v }
      // per vertex position: its label table and access
      val vs = mutable.ArrayBuffer[(Option[VertexTable], Access)]()
      val es = mutable.ArrayBuffer[Access]()
      def place(vp: VertexPattern, hint: Option[String])(
          pick: Option[VertexTable] => Access): Unit =
        vs += (vp.varName.flatMap(seen.get) match {
          case Some(vt) => (vt, Access.Join)
          case None =>
            val vt = labelTable(vp, hint)
            vp.varName.foreach(seen(_) = vt)
            (vt, pick(vt))
        })
      // WALK without a prefix or a path segment: fixed hops may fuse, and
      // without TRAIL an edge may answer as its `a` vertex
      val fuses = !r.segments && p.prefix.isEmpty
      place(vps.head, r.hops.headOption.map(_.a.vt.label)) { vt =>
        r.hops.headOption.filter(h => ri == 0 && r.viaKernel(h) &&
            h.a.numeric && h.b.numeric)
          .flatMap(h => resident(vps.head, vt, h.a, r, None))
          .getOrElse(Access.Scan)
      }
      r.hops.zipWithIndex.foreach { case (h, k) =>
        val (aVt, aAcc) = vs(k)
        val near = fuses && !r.viaKernel(h) && p.mode != PathMode.Trail &&
          h.keyedByNear && aVt.exists(v => v.tableName == h.et.tableName &&
            lowerEq(h.a.refKeys, v.keyCols)) && (aAcc match {
            case a: Access.Resident =>
              edgeReads(h).exists(_.subsetOf(a.carries))
            case _ => !duplicates(h.et.tableName, h.a.refKeys)
          })
        es += (if (near) Access.Fused else Access.Join)
        h.ep.varName.foreach(seen.getOrElseUpdate(_, None))
        place(vps(k + 1), Some(h.b.vt.label)) { vt =>
          // a far vertex never fuses onto an edge carried by a resident,
          // which holds only the columns the query reads of it
          val onto = fuses && h.ep.direction != EdgeDirection.Undirected &&
            !(near && aAcc.isInstanceOf[Access.Resident])
          val keyed = lowerEq(h.b.edgeKeys, h.b.refKeys)
          if (r.viaKernel(h))
            Option.when(h.a.numeric && h.b.numeric)(())
              .flatMap(_ => resident(vps(k + 1), vt, h.b, r, None))
              .getOrElse(Access.Join)
          else if (onto && keyed && vt.exists(v =>
              v.tableName == h.et.tableName &&
                lowerEq(h.b.refKeys, v.keyCols) &&
                !duplicates(v.tableName, v.keyCols)))
            Access.Fused
          else if (fuses && p.mode == PathMode.Walk &&
              !(onto && keyed && h.b.table == h.et.tableName))
            resident(vps(k + 1), vt, h.b, r, Some((h, r.hops.lift(k + 1))))
              .getOrElse(Access.Join)
          else Access.Join
        }
      }
      PatternAccess(vs.map(_._2).toIndexedSeq, es.toIndexedSeq)
    }
  }
}
