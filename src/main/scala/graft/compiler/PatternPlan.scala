package graft.compiler

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
