package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ddl.Introspect
import graft.graph.Algorithms
import graft.model._
import graft.pgq._
import graft.compiler.GraphTableCompiler

/** Empty-graph behavior (reference scalar empty-graph fixtures), shared
  * variables across comma-separated patterns, and introspection scans. */
class EdgeCasesSpec extends AnyFunSuite {
  import Fixture.{init, pg}

  test("algorithms on an empty graph return empty results — empty_pg tests") {
    val s = init()
    import s.implicits._
    val noV = Seq.empty[Long].toDF("id")
    val noE = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Algorithms.pageRank(noV, noE).count() == 0)
    assert(Algorithms.weaklyConnectedComponents(noV, noE).count() == 0)
    assert(Algorithms.localClusteringCoefficient(noV, noE).count() == 0)
  }

  test("edgeless graph: WCC gives singleton components, LCC all zero") {
    val s = init()
    import s.implicits._
    val v = Seq(1L, 2L, 3L).toDF("id")
    val noE = Seq.empty[(Long, Long)].toDF("src", "dst")
    val wcc = Algorithms.weaklyConnectedComponents(v, noE).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wcc == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    val lcc = Algorithms.localClusteringCoefficient(v, noE).collect()
      .map(_.getDouble(1))
    assert(lcc.forall(_ == 0.0))
  }

  test("multiple comma-separated patterns share bindings — multiple_graph_table.test") {
    val s = init()
    val df = GraphTableCompiler.compile(s, MatchSpec("pg",
      Seq(
        PathPattern(None, None, PathMode.Walk, Seq(
          VertexPattern(Some("a"), Some("Person")),
          EdgePattern(Some("k1"), Some("Knows"), EdgeDirection.Right),
          VertexPattern(Some("b"), Some("Person")))),
        PathPattern(None, None, PathMode.Walk, Seq(
          VertexPattern(Some("b"), Some("Person")),
          EdgePattern(Some("k2"), Some("Knows"), EdgeDirection.Right),
          VertexPattern(Some("c"), Some("Person"))))),
      columns = Seq(ColumnSpec("a.name", Some("a_name")),
        ColumnSpec("c.name", Some("c_name")))),
      pg, TableResolver.catalog)
    // must equal the single-pattern 2-hop
    val single = GraphTableCompiler.compile(s, MatchSpec("pg",
      Seq(PathPattern(None, None, PathMode.Walk, Seq(
        VertexPattern(Some("a"), Some("Person")),
        EdgePattern(Some("k1"), Some("Knows"), EdgeDirection.Right),
        VertexPattern(Some("b"), Some("Person")),
        EdgePattern(Some("k2"), Some("Knows"), EdgeDirection.Right),
        VertexPattern(Some("c"), Some("Person"))))),
      columns = Seq(ColumnSpec("a.name", Some("a_name")),
        ColumnSpec("c.name", Some("c_name")))),
      pg, TableResolver.catalog)
    val x = df.collect().map(r => (r.getString(0), r.getString(1))).sorted
    val y = single.collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(x.toSeq == y.toSeq && x.nonEmpty)
  }

  test("undirected hops over REFERENCES keys spelled in different case " +
      "match the consistently spelled graph") {
    // `REFERENCES Person (id)` on the source and `(ID)` on the destination
    // name one key space: SQL identifiers are case-insensitive
    val mixed = pg.copy(edgeTables = pg.edgeTables.map(e =>
      if (e.label == "Knows") e.copy(dstRefKeys = Seq("ID")) else e))
    def ids(g: PropertyGraph, q: Option[Quantifier]): Seq[(Long, Long)] =
      GraphTableCompiler.compile(init(), MatchSpec("pg",
        Seq(PathPattern(None, None, PathMode.Walk, Seq(
          VertexPattern(Some("a"), Some("Person")),
          EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Undirected, q),
          VertexPattern(Some("b"), Some("Person"))))),
        columns = Seq(ColumnSpec("a.id", Some("aid")),
          ColumnSpec("b.id", Some("bid")))), g, TableResolver.catalog)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    for (q <- Seq(None, Some(Quantifier(1, Some(2))))) {
      val want = ids(pg, q)
      assert(want.nonEmpty)
      assert(ids(mixed, q) == want)
    }
  }

  test("registry scans list tables and columns — getpgschema.test") {
    val s = init()
    assert(Introspect.vertexTableNames(s, pg).collect()
      .map(_.getString(1)).toSet == Set("Person", "School"))
    assert(Introspect.edgeTableNames(s, pg).collect()
      .map(_.getString(1)).toSet == Set("Knows", "StudyAt"))
    val vcols = Introspect.vertexColumnNames(s, pg, TableResolver.catalog)
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(vcols.contains(("Person", "name")))
    // School declares no properties → all columns
    assert(vcols.count(_._1 == "SCHOOL") == 0 ||
      vcols.count(_._1 == "School") == 3)
    val g = Graft(s, TableResolver.catalog)
    g.registry.create(s, pg, TableResolver.catalog, orReplace = true)
    assert(Introspect.showPropertyGraphs(s).collect()
      .map(_.getString(0)).contains("pg"))
  }

  test("empty documents: text stats degrade gracefully") {
    val s = init()
    import s.implicits._
    val df = Seq((1L, ""), (2L, "   "), (3L, "one two"))
      .toDF("doc_id", "text")
    val byId = graft.ops.TextAnalysis.documentStats(df, "text")
      .select("doc_id", "n_tokens", "lang_guess").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(byId(1L)._1 == 0L && byId(1L)._2 == "und")
    assert(byId(2L)._1 == 0L)
    assert(byId(3L)._1 == 2L)
  }

  test("named path with no edges raises a clear error") {
    val e = intercept[graft.model.GraphAnalysisException] {
      graft.compiler.GraphTableCompiler.compile(init(),
        graft.pgq.MatchSpec("pg", Seq(graft.pgq.PathPattern(Some("p"),
          Some(graft.pgq.SearchPrefix.AnyShortest), graft.pgq.PathMode.Walk,
          Seq(graft.pgq.VertexPattern(Some("a"), Some("Person"))))),
          columns = Seq(graft.pgq.ColumnSpec("a.id", Some("aid")))),
        pg, graft.model.TableResolver.catalog)
    }
    assert(e.msg.contains("at least one edge"))
  }
}
