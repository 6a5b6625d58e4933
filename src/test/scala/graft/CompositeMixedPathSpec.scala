package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model._

/** Round-6 restriction closures: COMPOSITE-key fixed hops inside named
  * paths (previously "fixed hops in a named path require numeric vertex
  * keys") and cross-element vertex identity for ACYCLIC/SIMPLE over
  * mixed patterns with composite segments (previously required a
  * single-column numeric key space). Fixture: a 5-ring over composite
  * (grp, id) keys — out-degree 1, so every path is unique and exactly
  * value-checkable by hand.
  */
class CompositeMixedPathSpec extends AnyFunSuite {

  private def graftWithRing(): Graft = {
    val s = Fixture.init()
    import s.implicits._
    (0L to 4L).map(i => ("a", i, s"v$i")).toDF("grp", "id", "name")
      .createOrReplaceTempView("cvert")
    (0L to 4L).map(i => ("a", i, "a", (i + 1) % 5)).toDF(
      "src_g", "src_i", "dst_g", "dst_i")
      .createOrReplaceTempView("cring")
    val g = Graft(s, TableResolver.catalog)
    g.registry.create(s, PropertyGraph("cpg",
      vertexTables = Seq(VertexTable("cvert", "CV", Seq("grp", "id"))),
      edgeTables = Seq(EdgeTable("cring", "CR", Seq("src_g", "src_i"),
        Seq("grp", "id"), "CV", Seq("dst_g", "dst_i"), Seq("grp", "id"),
        "CV"))), TableResolver.catalog, orReplace = true)
    g
  }

  test("composite fixed hop in a named path: all-fixed ANY SHORTEST " +
      "with surrogate vertices") {
    val g = graftWithRing()
    val got = g.graphTable(
      """cpg MATCH p = ANY SHORTEST (x:CV WHERE x.id = 0)-[e:CR]->(y:CV)
         COLUMNS (x.id AS src, y.id AS dst, path_length(p) AS plen,
                  vertices(p) AS vpath)""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[String](3).mkString(","))).toSet
    assert(got == Set((0L, 1L, 1L, "a|0,a|1")))
  }

  test("composite MIXED fixed+quantified named path: one dense-id " +
      "space, one deferred translation") {
    val g = graftWithRing()
    val got = g.graphTable(
      """cpg MATCH p = ANY SHORTEST (x:CV WHERE x.id = 0)-[f:CR]->(m:CV)-[e:CR]->{1,2}(y:CV)
         COLUMNS (x.id AS src, m.id AS mid, y.id AS dst,
                  path_length(p) AS plen, vertices(p) AS vpath)""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getSeq[String](4).mkString(","))).toSet
    assert(got == Set(
      (0L, 1L, 2L, 2L, "a|0,a|1,a|2"),
      (0L, 1L, 3L, 3L, "a|0,a|1,a|2,a|3")))
  }

  test("the composite rowid map is built once per session: a repeat " +
      "compile of the same MATCH builds no id map") {
    val g = graftWithRing()
    val memo = graft.compiler.GraphTableCompiler.idMapMemo
    memo.clear()
    def compile() = g.graphTable(
      """cpg MATCH (x:CV WHERE x.id = 0)-[e:CR]->{1,2}(y:CV)
         COLUMNS (x.id AS src, y.id AS dst)""")
    val b0 = memo.builds
    compile()
    assert(memo.builds == b0 + 1, "a cold compile must build the id map")
    val warm = compile()
    assert(memo.builds == b0 + 1,
      "a warm compile re-built the id map — memo regressed")
    assert(warm.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((0L, 1L), (0L, 2L)))
  }

  test("ACYCLIC vs SIMPLE over a composite mixed pattern: the closing " +
      "walk discriminates") {
    val g = graftWithRing()
    // 1 fixed + {1,4} quantified = total lengths 2..5; the length-5 walk
    // closes the ring (y = x): excluded by ACYCLIC, kept by SIMPLE
    def rows(mode: String) = g.graphTable(
      s"""cpg MATCH p = $mode (x:CV)-[f:CR]->(m:CV)-[e:CR]->{1,4}(y:CV)
          COLUMNS (x.id AS src, y.id AS dst, path_length(p) AS plen,
                   vertices(p) AS vpath)""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[String](3).mkString(","))).toSet
    val ac = rows("ACYCLIC")
    val si = rows("SIMPLE")
    assert(ac.size == 15) // 5 starts x lengths {2,3,4}
    assert(si.size == 20) // + the closed length-5 walk per start
    assert(ac.subsetOf(si))
    assert((si -- ac).forall { case (s, d, l, _) => s == d && l == 5L })
    // spot-check one closed SIMPLE path's surrogates
    assert(si.contains((0L, 0L, 5L, "a|0,a|1,a|2,a|3,a|4,a|0")))
    // and one acyclic path's
    assert(ac.contains((2L, 0L, 3L, "a|2,a|3,a|4,a|0")))
  }

  test("TRAIL over a composite mixed pattern with a shared edge table") {
    val g = graftWithRing()
    // fixed hop and quantified tail share the cring table: TRAIL must
    // exclude the fixed edge from the tail. Out-degree 1: the tail can
    // only repeat the fixed edge after a full wrap (tail length 5 from
    // m re-traverses (x, m)'s edge at its last step)
    val got = g.graphTable(
      """cpg MATCH p = TRAIL (x:CV WHERE x.id = 0)-[f:CR]->(m:CV)-[e:CR]->{4,5}(y:CV)
         COLUMNS (x.id AS src, y.id AS dst, path_length(p) AS plen)""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // total length 5 (y = x: closes using 5 DISTINCT edges — a trail)
    // survives; total length 6 would repeat the fixed edge — excluded
    assert(got == Set((0L, 0L, 5L)))
  }

  test("named path bridging a numeric table into the composite ring: " +
      "per-segment surrogate translation (round-7 closure)") {
    val s = Fixture.init()
    import s.implicits._
    (0L to 4L).map(i => (i, s"n$i")).toDF("id", "name")
      .createOrReplaceTempView("nvert")
    (0L to 4L).map(i => (i, "a", i)).toDF("src_i", "dst_g", "dst_i")
      .createOrReplaceTempView("ncross")
    val g = graftWithRing()
    g.registry.create(s, PropertyGraph("bridge",
      vertexTables = Seq(
        VertexTable("nvert", "NV", Seq("id")),
        VertexTable("cvert", "CV", Seq("grp", "id"))),
      edgeTables = Seq(
        EdgeTable("ncross", "NC", Seq("src_i"), Seq("id"), "NV",
          Seq("dst_g", "dst_i"), Seq("grp", "id"), "CV"),
        EdgeTable("cring", "CR", Seq("src_g", "src_i"),
          Seq("grp", "id"), "CV", Seq("dst_g", "dst_i"), Seq("grp", "id"),
          "CV"))), TableResolver.catalog, orReplace = true)
    // previously refused ("one array cannot carry two id spaces"): now
    // each segment translates through its OWN space and the exposed
    // array mixes plain numeric text with '|'-joined composite tuples
    val got = g.graphTable(
      """bridge MATCH p = ANY SHORTEST (n:NV)-[c:NC]->(x:CV)-[e:CR]->{1,2}(y:CV)
         COLUMNS (n.id AS src, y.id AS dst, path_length(p) AS plen,
                  vertices(p) AS vpath)""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[String](3).mkString(","))).toSet
    assert(got.size == 10) // 5 starts x dists {2,3}
    assert(got.contains((0L, 1L, 2L, "0,a|0,a|1")))
    assert(got.contains((0L, 2L, 3L, "0,a|0,a|1,a|2")))
    assert(got.contains((4L, 1L, 3L, "4,a|4,a|0,a|1")))
  }

  /** Two key DECLARATIONS over ONE table (numeric `id` vs composite
    * (`grp`, `id`)) plus edges binding each — the round-7 fixture for
    * cross-space vertex identity (key-space bijection through the
    * shared table rows). All edges are the same ring step, so a pattern
    * of h total hops walks positions 0..h of the 5-ring. */
  private def graftTwoDecls(): Graft = {
    val s = Fixture.init()
    import s.implicits._
    (0L to 4L).map(i => ("a", i, s"v$i")).toDF("grp", "id", "name")
      .createOrReplaceTempView("cvert")
    (0L to 4L).map(i => ("a", i, "a", (i + 1) % 5)).toDF(
      "src_g", "src_i", "dst_g", "dst_i")
      .createOrReplaceTempView("cring")
    val g = Graft(s, TableResolver.catalog)
    g.registry.create(s, PropertyGraph("twodecl",
      vertexTables = Seq(
        VertexTable("cvert", "NV2", Seq("id")),
        VertexTable("cvert", "CV", Seq("grp", "id"))),
      edgeTables = Seq(
        EdgeTable("cring", "NR", Seq("src_i"), Seq("id"), "NV2",
          Seq("dst_i"), Seq("id"), "NV2"),
        EdgeTable("cring", "NB", Seq("src_i"), Seq("id"), "NV2",
          Seq("dst_g", "dst_i"), Seq("grp", "id"), "CV"),
        EdgeTable("cring", "CR", Seq("src_g", "src_i"),
          Seq("grp", "id"), "CV", Seq("dst_g", "dst_i"), Seq("grp", "id"),
          "CV"))), TableResolver.catalog, orReplace = true)
    g
  }

  test("ACYCLIC across segments bound through different key " +
      "declarations of one table: identity is the physical row " +
      "(round-7 closure)") {
    val g = graftTwoDecls()
    // {1,3} numeric + bridge + {1,3} composite on the 5-ring: total hops
    // h1+1+h2; ACYCLIC (all h+1 vertices distinct) iff h <= 4, so the
    // splits (1,1), (1,2), (2,1) survive per start. The 5..7-hop splits
    // revisit rows and must be excluded THROUGH the bijection — raw
    // value comparison would never see the repeat (different id spaces).
    val got = g.graphTable(
      """twodecl MATCH p = ACYCLIC (a:NV2)-[e:NR]->{1,3}(m:NV2)-[g:NB]->(c:CV)-[h:CR]->{1,3}(b:CV)
         COLUMNS (a.id AS src, m.id AS mid, c.id AS cn, b.id AS dst,
                  path_length(p) AS plen, vertices(p) AS vpath)""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getSeq[String](5).mkString(",")))
      .toSet
    assert(got.size == 15) // 5 starts x splits {(1,1),(1,2),(2,1)}
    assert(got.forall(_._5 <= 4L))
    // per-segment surrogates: numeric slots plain, composite slots
    // '|'-joined — across the enumeration route (translation deferred
    // past the cross-element mode filters)
    assert(got.contains((0L, 1L, 2L, 3L, 3L, "0,1,a|2,a|3")))
    assert(got.contains((0L, 1L, 2L, 4L, 4L, "0,1,a|2,a|3,a|4")))
    assert(got.contains((0L, 2L, 3L, 4L, 4L, "0,1,2,a|3,a|4")))
  }

  test("search prefix UNDER a mode over mixed key spaces: whole-path " +
      "ranking on the long arrays, then per-segment translation") {
    val g = graftTwoDecls()
    // SHORTEST 2 TRAIL over the cross-space pattern: enumeration + the
    // whole-path prefix ranking must run BEFORE the per-segment string
    // translation; on the out-degree-1 ring each (a, b) pair has exactly
    // one trail per split, so SHORTEST 2 keeps the 2 shortest distinct
    // paths per endpoint pair
    val got = g.graphTable(
      """twodecl MATCH p = SHORTEST 2 TRAIL (a:NV2)-[e:NR]->{1,3}(m:NV2)-[g:NB]->(c:CV)-[h:CR]->{1,3}(b:CV)
         COLUMNS (a.id AS src, b.id AS dst, path_length(p) AS plen,
                  vertices(p) AS vpath)""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[String](3).mkString(","))).toSet
    // per (a, b): total hops h ≡ dst - src (mod 5); splits (h1, 1, h2)
    // with h1, h2 in [1,3] give h in [3,7]; TRAIL on the 5-ring allows
    // h <= 5 (h = 5 closes with 5 distinct edges; h > 5 repeats one).
    // Ranking keeps the 2 smallest (length, lex) per pair.
    // a=0, b=3: h = 3 (splits (1,1)) — one path; h = 8 impossible
    //   → 1 row
    // a=0, b=0: h = 5 (splits (1,3),(2,2),(3,1)) — same vertex walk,
    //   same length, IDENTICAL vpath → dense ranks collapse to 1 → 3
    //   rows survive SHORTEST 2 (duplicates share a dense rank)
    val pair03 = got.filter(t => t._1 == 0L && t._2 == 3L)
    assert(pair03 == Set((0L, 3L, 3L, "0,1,a|2,a|3")))
    val pair00 = got.filter(t => t._1 == 0L && t._2 == 0L)
    assert(pair00 == Set((0L, 0L, 5L, "0,1,a|2,a|3,a|4,a|0"),
      (0L, 0L, 5L, "0,1,2,a|3,a|4,a|0"),
      (0L, 0L, 5L, "0,1,2,3,a|4,a|0")))
  }

  test("SIMPLE across key declarations: the closing walk's endpoint " +
      "pair compares through one declaration's key set") {
    val g = graftTwoDecls()
    def rows(mode: String) = g.graphTable(
      s"""twodecl MATCH $mode (a:NV2)-[e:NR]->{1,3}(m:NV2)-[g:NB]->(c:CV)-[h:CR]->{1,3}(b:CV)
          COLUMNS (a.id AS src, b.id AS dst)""")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val ac = rows("ACYCLIC")
    val si = rows("SIMPLE")
    // SIMPLE adds the 5-hop closing walks (splits (1,3), (2,2), (3,1)):
    // b IS a's row even though b binds CV and a binds NV2 — the
    // cross-declaration endpoint identity must both EXEMPT the closing
    // pair (SIMPLE) and EXCLUDE it (ACYCLIC)
    assert(ac.size == 15)
    assert(si.size == 30)
    val closing = si.groupBy(identity).map { case (k, v) => k -> v.size }
    assert((0L to 4L).forall(i => closing.getOrElse((i, i), 0) == 3))
  }

  test("cross-declaration identity refuses when the chosen key set is " +
      "non-unique (equality on it would over-merge distinct rows)") {
    val s = Fixture.init()
    import s.implicits._
    // two rows share name 'dup' — a (name)-keyed declaration is NOT a
    // row identity
    Seq(("a", 0L, "dup"), ("a", 1L, "dup"), ("a", 2L, "solo"))
      .toDF("grp", "id", "name").createOrReplaceTempView("dvert")
    Seq((0L, "a", 1L), (1L, "a", 2L)).toDF("src_i", "dst_g", "dst_i")
      .createOrReplaceTempView("dbridge")
    val g = Graft(s, TableResolver.catalog)
    g.registry.create(s, PropertyGraph("dupdecl",
      vertexTables = Seq(
        VertexTable("dvert", "DN", Seq("name")),
        VertexTable("dvert", "DC", Seq("grp", "id"))),
      edgeTables = Seq(
        EdgeTable("dbridge", "DB", Seq("src_i"), Seq("id"), "DN",
          Seq("dst_g", "dst_i"), Seq("grp", "id"), "DC"))),
      TableResolver.catalog, orReplace = true)
    val ex = intercept[GraphAnalysisException] {
      g.graphTable(
        """dupdecl MATCH ACYCLIC (a:DN)-[e:DB]->(b:DC)
           COLUMNS (a.id AS src, b.id AS dst)""")
    }
    assert(ex.getMessage.contains("non-unique"))
  }

  test("ACYCLIC over a mixed pattern with a heterogeneous NUMERIC " +
      "segment refuses loudly (review fix: && had silently relaxed ||)") {
    val s = Fixture.init()
    import s.implicits._
    (0L to 2L).map(i => (i, s"n$i")).toDF("id", "name")
      .createOrReplaceTempView("hnvert")
    (0L to 2L).map(i => (i, s"m$i")).toDF("id", "name")
      .createOrReplaceTempView("hmvert")
    (0L to 2L).map(i => (i, i)).toDF("src", "dst")
      .createOrReplaceTempView("hnm")
    (0L to 2L).map(i => (i, (i + 1) % 3)).toDF("src", "dst")
      .createOrReplaceTempView("hmn")
    val g = Graft(s, TableResolver.catalog)
    g.registry.create(s, PropertyGraph("hetero",
      vertexTables = Seq(
        VertexTable("hnvert", "HN", Seq("id")),
        VertexTable("hmvert", "HM", Seq("id"))),
      edgeTables = Seq(
        EdgeTable("hnm", "NM", Seq("src"), Seq("id"), "HN",
          Seq("dst"), Seq("id"), "HM"),
        EdgeTable("hmn", "MN", Seq("src"), Seq("id"), "HM",
          Seq("dst"), Seq("id"), "HN"))), TableResolver.catalog,
      orReplace = true)
    // the quantified segment binds HN on one end and HM on the other:
    // its interior would interleave two tables' raw numeric ids, so
    // alias-vs-interior identity is ambiguous — must refuse, not
    // silently compare across tables
    val ex = intercept[GraphAnalysisException] {
      g.graphTable(
        """hetero MATCH ACYCLIC (a:HN)-[e:NM]->{1,2}(b:HM)-[f:MN]->(c:HN)
           COLUMNS (a.id AS src, c.id AS dst)""")
    }
    assert(ex.getMessage.contains("one vertex key space"))
  }

  test("zero-length quantifier merges endpoints — composite keys too") {
    val g = graftWithRing()
    val got = g.graphTable(
      """cpg MATCH p = ACYCLIC (x:CV WHERE x.id = 1)-[f:CR]->(m:CV)-[e:CR]->{0,1}(y:CV)
         COLUMNS (x.id AS src, m.id AS mid, y.id AS dst,
                  path_length(p) AS plen)""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // {0,1}: y = m (one vertex occurrence, not a repeat) or one hop on
    assert(got == Set((1L, 2L, 2L, 1L), (1L, 2L, 3L, 2L)))
  }
}
