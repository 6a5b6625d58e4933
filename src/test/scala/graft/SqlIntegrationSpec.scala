package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{GraphAnalysisException, TableResolver}
import graft.pgq.PgqParser

/** GRAPH_TABLE embedded in full SQL (reference `with_clause.test`,
  * `nested_subquery.test`, `copy_to_duckpgq.test`, `explain_duckpgq.test`)
  * + parser error guards (kleene_star.test error matrix). */
class SqlIntegrationSpec extends AnyFunSuite {

  private def mkGraft: Graft = {
    val s = Fixture.init()
    val g = Graft(s, TableResolver.catalog)
    g.registry.create(s, Fixture.pg, TableResolver.catalog, orReplace = true)
    g
  }

  test("GRAPH_TABLE inside WITH clause — with_clause.test") {
    val df = mkGraft.sqlGraph(
      """WITH friends AS (
           SELECT * FROM GRAPH_TABLE (pg
             MATCH (a:Person)-[k:Knows]->(b:Person)
             COLUMNS (a.name AS a_name, b.name AS b_name)) tmp
         )
         SELECT a_name, count(*) AS n FROM friends GROUP BY a_name
         ORDER BY n DESC, a_name""")
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.head == ("Daniel", 3L))
    assert(rows.length == 5)
  }

  test("GRAPH_TABLE in nested subquery + join — nested_subquery.test") {
    val df = mkGraft.sqlGraph(
      """SELECT s.a_name, x.cnt FROM
           (SELECT a_name, b_name FROM GRAPH_TABLE (pg
              MATCH (a:Person)-[k:Knows]->(b:Person)
              COLUMNS (a.name AS a_name, b.name AS b_name))) s
         JOIN (SELECT count(*) AS cnt FROM GRAPH_TABLE (pg
              MATCH (x:Person)-[k2:Knows]->(y:Person)
              COLUMNS (x.id AS xid))) x ON 1=1
         WHERE s.a_name = 'Daniel'""")
    val rows = df.collect()
    assert(rows.length == 3 && rows.forall(_.getLong(1) == 8L))
  }

  test("path modes and prefixes through the literal SQL text path") {
    // TRAIL enumeration in GRAPH_TABLE-in-SQL: count trails per length
    val trails = mkGraft.sqlGraph(
      """SELECT len, count(*) AS n FROM GRAPH_TABLE (pg
           MATCH p = TRAIL (a:Person WHERE a.name = 'Daniel')-[k:Knows]->{1,2}(b:Person)
           COLUMNS (path_length(p) AS len)) t
         GROUP BY len ORDER BY len""")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(trails == Seq((1L, 3L), (2L, 4L))) // hand-enumerated fixture set
    // path column functions work over enumeration paths too
    val withFns = mkGraft.sqlGraph(
      """SELECT * FROM GRAPH_TABLE (pg
           MATCH p = TRAIL (a:Person WHERE a.name = 'Daniel')-[k:Knows]->{1,2}(b:Person)
           COLUMNS (path_length(p) AS len, vertices(p) AS vp, edges(p) AS ep)) t""")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))
    assert(withFns.length == 7 && withFns.forall { case (len, vp, ep) =>
      vp.length == len + 1 && ep.length == len && ep.distinct == ep })
    // ALL SHORTEST emits one row per shortest path (multiplicity)
    val allsp = mkGraft.sqlGraph(
      """SELECT count(*) AS n FROM GRAPH_TABLE (pg
           MATCH p = ALL SHORTEST (a:Person WHERE a.name = 'Daniel')-[k:Knows]->{1,3}(b:Person)
           COLUMNS (b.id AS bid)) t""")
      .collect().head.getLong(0)
    assert(allsp == 3L) // 0→1, 0→2, 0→3 each have ONE shortest path
    // SHORTEST 2 caps each pair at two ranked walks
    val topk = mkGraft.sqlGraph(
      """SELECT bid, count(*) AS n FROM GRAPH_TABLE (pg
           MATCH p = SHORTEST 2 (a:Person WHERE a.name = 'Daniel')-[k:Knows]->{1,3}(b:Person)
           COLUMNS (b.id AS bid)) t
         GROUP BY bid""")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(topk == Map(0L -> 2L, 1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("unnamed GRAPH_TABLE subquery — unnamed_subquery.test") {
    val g = mkGraft
    // bare FROM GRAPH_TABLE(...) with no alias (unnamed_subquery.test:22-28)
    val bare = g.sqlGraph(
      """SELECT * FROM GRAPH_TABLE (pg
           MATCH (a:Person)-[k:Knows]->(b:Person)
           COLUMNS (a.name AS a_name, b.name AS b_name))
         ORDER BY a_name, b_name LIMIT 10""")
    assert(bare.count() == 8)
    // aliased form returns the identical relation (unnamed_subquery.test:40-46)
    val aliased = g.sqlGraph(
      """SELECT tmp.a_name, tmp.b_name FROM GRAPH_TABLE (pg
           MATCH (a:Person)-[k:Knows]->(b:Person)
           COLUMNS (a.name AS a_name, b.name AS b_name)) tmp
         ORDER BY a_name, b_name""")
    assert(bare.select("a_name", "b_name").collect().toSeq ==
      aliased.collect().toSeq)
  }

  test("WITH + GRAPH_TABLE + comma joins — with_statement_duckpgq.test") {
    val g = mkGraft
    // CTE scalar + GRAPH_TABLE + comma join, grouped (shape of
    // with_statement_duckpgq.test:17-40)
    val pct = g.sqlGraph(
      """WITH know_count AS (
           SELECT count(*) AS kc FROM GRAPH_TABLE (pg
             MATCH (x:Person)-[k0:Knows]->(y:Person)
             COLUMNS (x.id AS xid)) t0
         )
         SELECT a_name, count(*) / kc AS frac
         FROM GRAPH_TABLE (pg
           MATCH (a:Person)-[k:Knows]->(b:Person)
           COLUMNS (a.name AS a_name)) tmp, know_count
         GROUP BY a_name, kc ORDER BY frac DESC, a_name""")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(pct.head == ("Daniel", 0.375)) // 3 of 8 edges
    assert(math.abs(pct.map(_._2).sum - 1.0) < 1e-9)
    // comma-join order both ways: GRAPH_TABLE first, then a 1-row subquery
    // (with_statement_duckpgq.test:43-84) — row count is the product
    val gtFirst = g.sqlGraph(
      """SELECT * FROM GRAPH_TABLE (pg
           MATCH (m:Person) COLUMNS (m.id AS mid)) tmp,
           (SELECT id FROM student ORDER BY id LIMIT 1)""")
    val gtSecond = g.sqlGraph(
      """SELECT * FROM (SELECT id FROM student ORDER BY id LIMIT 1),
           GRAPH_TABLE (pg MATCH (m:Person) COLUMNS (m.id AS mid)) tmp""")
    assert(gtFirst.count() == 5 && gtSecond.count() == 5)
    assert(gtFirst.select("mid").collect().map(_.getLong(0)).sorted.toSeq ==
      gtSecond.select("mid").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("TRAIL under a prefix on an all-fixed pattern works WITHOUT a " +
      "path variable (hidden-path route, §8 restriction closed)") {
    val g = mkGraft
    // previously a loud error ("bind a named path variable"); the
    // compiler now binds a hidden one, so the fixed hops keep their
    // eids for the TRAIL filter and the whole-path ranking applies
    // ANY SHORTEST per endpoint pair
    val hidden = g.sqlGraph(
      """SELECT * FROM GRAPH_TABLE (pg
           MATCH ANY SHORTEST TRAIL (a:Person)-[k1:Knows]->(b:Person)-[k2:Knows]->(c:Person)
           COLUMNS (a.id AS aid, c.id AS cid)) t""")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hidden.nonEmpty)
    // ANY SHORTEST = exactly one surviving row per endpoint pair
    assert(hidden.length == hidden.distinct.length)
    // hops on DISTINCT edge tables can never repeat an edge — TRAIL is
    // vacuous there and the prefix form must keep working
    val ok = g.sqlGraph(
      """SELECT * FROM GRAPH_TABLE (pg
           MATCH ANY SHORTEST TRAIL (a:Person)-[k:Knows]->(b:Person)-[st:StudyAt]->(sc:School)
           COLUMNS (a.id AS aid, sc.id AS sid)) t""")
    assert(ok.count() > 0)
    // with a named path the fixed hops keep their eids and the TRAIL
    // filter applies: no row may bind the same physical edge twice —
    // and the hidden route must agree with the explicit one endpoint-
    // for-endpoint
    val rows = g.sqlGraph(
      """SELECT * FROM GRAPH_TABLE (pg
           MATCH p = ANY SHORTEST TRAIL (a:Person)-[k1:Knows]->(b:Person)-[k2:Knows]->(c:Person)
           COLUMNS (a.id AS aid, b.id AS bid, c.id AS cid, edges(p) AS ep)) t""")
      .collect()
    assert(rows.nonEmpty &&
      rows.forall(r => { val ep = r.getSeq[Long](3); ep.distinct == ep }))
    assert(rows.map(r => (r.getLong(0), r.getLong(2))).toSet ==
      hidden.toSet)
  }

  test("triangle_counts table function: SQL surface + default alias") {
    val g = mkGraft
    // Fixture Knows graph: per-person triangle participation, queried
    // through the same substitution strategy as pagerank/wcc/scc — the
    // bare call gets the 'triangles' default alias
    val got = g.sqlGraph(
      """SELECT s.name, t.triangles
         FROM triangle_counts('pg', 'Person', 'Knows') t
         JOIN student s ON s.id = t.id
         ORDER BY t.triangles DESC, s.name""")
    val rows = got.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.nonEmpty)
    // bare call → the 'triangles' default alias qualifies columns
    val aliased = g.sqlGraph(
      """SELECT triangles.id FROM triangle_counts('pg', 'Person', 'Knows')
         ORDER BY triangles.id""")
    assert(aliased.collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L))
    // oracle: brute-force count on the undirected deduped know edges
    val und = Fixture.spark.table("know")
      .select("src", "dst").collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)),
        (r.getLong(1), r.getLong(0))))
      .filter(p => p._1 != p._2).toSet
    val people = Fixture.spark.table("student").select("id", "name")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val ids = people.map(_._1)
    def tri(v: Long): Long = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      if a != v && b != v &&
        und((v, a)) && und((v, b)) && und((a, b))
    } yield 1).size.toLong
    val want = people.map { case (id, n) => (n, tri(id)) }
      .sortBy { case (n, t) => (-t, n) }
    assert(rows.toSeq == want.toSeq)
  }

  test("k_core and harmonic_centrality table functions: SQL surface, " +
      "default aliases, brute-force oracles") {
    val g = mkGraft
    // k_core on the Knows graph at k=2, via the same substitution
    // strategy; bare call → the 'kcore' default alias
    val core = g.sqlGraph(
      """SELECT kcore.id, kcore.in_core
         FROM k_core('pg', 'Person', 'Knows', 2) ORDER BY kcore.id""")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // oracle: brute-force peel on the undirected deduped know edges
    val und = Fixture.spark.table("know")
      .select("src", "dst").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1))))
      .filter(p => p._1 != p._2).toSet
    val ids = Fixture.spark.table("student").select("id")
      .collect().map(_.getLong(0)).toSet
    var surv = ids ++ und.flatMap(p => Seq(p._1, p._2))
    var changed = true
    while (changed) {
      val next = surv.filter(v => und.count { case (a, b) =>
        (a == v && surv(b)) || (b == v && surv(a))
      } >= 2)
      changed = next != surv
      surv = next
    }
    assert(core.keySet.nonEmpty)
    core.foreach { case (v, in) =>
      assert(in == surv(v), s"vertex $v kcore membership")
    }
    // harmonic_centrality with the 'harmonic' default alias; spot-check
    // a row against Algorithms directly (the TVF is a projection of it)
    val h = g.sqlGraph(
      """SELECT harmonic.id, harmonic.n_reached, harmonic.harmonic
         FROM harmonic_centrality('pg', 'Person', 'Knows')
         ORDER BY harmonic.id""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(h.nonEmpty && h.exists(_._2 > 0))
    // k_core with a missing k now fails the up-front arity check with a
    // usage string (the arity gate fires before the type check)
    val ex = intercept[GraphAnalysisException] {
      g.sqlGraph("SELECT * FROM k_core('pg', 'Person', 'Knows')")
    }
    assert(ex.getMessage.contains("k_core(pg, vertexLabel, edgeLabel, k)") &&
      ex.getMessage.contains("requires 4 arguments (got 3)"))
    // a non-integer k still reaches the documented type error
    val ex2 = intercept[GraphAnalysisException] {
      g.sqlGraph("SELECT * FROM k_core('pg', 'Person', 'Knows', 'two')")
    }
    assert(ex2.getMessage.contains("requires an integer k"))
  }

  test("label_propagation and random_walks table functions: SQL surface, " +
      "default aliases, kernel parity") {
    val g = mkGraft
    // bare call → the 'communities' default alias; parity vs the API
    val com = g.sqlGraph(
      """SELECT communities.id, communities.community
         FROM label_propagation('pg', 'Person', 'Knows', 4)
         ORDER BY communities.id""")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val v = Fixture.spark.table("student")
      .select(org.apache.spark.sql.functions.col("id"))
    val e = Fixture.spark.table("know")
    val want = graft.graph.Algorithms.labelPropagation(v, e, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    assert(com == want)
    // walks: every path starts at its start vertex and respects steps
    val w = g.sqlGraph(
      """SELECT walks.id, walks.walk, walks.final_vertex, walks.path
         FROM random_walks('pg', 'Person', 'Knows', 2, 3)""")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getString(3)))
    assert(w.map(x => (x._1, x._2)).toSet.size == w.length)
    w.foreach { case (start, _, fin, path) =>
      val hops = path.split(",").map(_.toLong)
      assert(hops.head == start && hops.last == fin && hops.length <= 4)
    }
    // a non-integer rounds argument raises the documented error
    val ex = intercept[GraphAnalysisException] {
      g.sqlGraph(
        "SELECT * FROM label_propagation('pg', 'Person', 'Knows', 'x')")
    }
    assert(ex.getMessage.contains("must be an integer"))
    // betweenness with the 'betweenness' default alias; parity vs the API
    val bc = g.sqlGraph(
      """SELECT betweenness.id, betweenness.betweenness
         FROM betweenness_centrality('pg', 'Person', 'Knows')
         ORDER BY betweenness.id""")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val wantBc = graft.graph.Algorithms.betweennessCentrality(v, e)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq.sortBy(_._1)
    assert(bc == wantBc && bc.exists(_._2 > 0))
    // k_truss with the 'ktruss' default alias; parity vs the API
    val kt = g.sqlGraph(
      """SELECT ktruss.id_a, ktruss.id_b
         FROM k_truss('pg', 'Person', 'Knows', 3)""")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantKt = graft.graph.Algorithms.kTruss(e, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kt == wantKt)
    val exKt = intercept[GraphAnalysisException] {
      g.sqlGraph("SELECT * FROM k_truss('pg', 'Person', 'Knows', 2)")
    }
    assert(exKt.getMessage.contains(">= 3"))
  }

  test("COPY TO csv — copy_to_duckpgq.test") {
    val dir = java.nio.file.Files.createTempDirectory("graft_copy").toString
    mkGraft.copyTo(
      """pg MATCH (a:Person)-[k:Knows]->(b:Person)
         COLUMNS (a.name AS a_name, b.name AS b_name)""", s"$dir/out")
    val back = Fixture.spark.read.option("header", "true").csv(s"$dir/out")
    assert(back.count() == 8)
  }

  test("EXPLAIN shows a join plan, no cartesian product — explain_duckpgq.test") {
    val plan = mkGraft.explain(
      """pg MATCH (a:Person)-[k:Knows]->(b:Person)
         COLUMNS (a.name AS a_name, b.name AS b_name)""")
    assert(plan.contains("Join") || plan.contains("HashJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  /** Runs `body` in a session built with the graft parser extension,
    * over a two-student graph `extpg`; restores the shared session. */
  private def withExtensionSession(
      body: org.apache.spark.sql.SparkSession => Unit): Unit = {
    val base = Fixture.init() // ensure the shared context exists
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      import s.implicits._
      Seq((0L, "Daniel"), (1L, "Tavneet")).toDF("id", "name")
        .createOrReplaceTempView("student")
      Seq((0L, 1L)).toDF("src", "dst").createOrReplaceTempView("know")
      val g = Graft(s, TableResolver.catalog)
      g.sql("""CREATE OR REPLACE PROPERTY GRAPH extpg
        VERTEX TABLES (student LABEL Person)
        EDGE TABLES (know SOURCE KEY (src) REFERENCES student (id)
          DESTINATION KEY (dst) REFERENCES student (id) LABEL Knows)""")
      body(s)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("SparkSessionExtensions parser override: literal spark.sql GRAPH_TABLE") {
    withExtensionSession { s =>
      val rows = s.sql(
        """SELECT a_name, b_name FROM GRAPH_TABLE (extpg
             MATCH (a:Person)-[k:Knows]->(b:Person)
             COLUMNS (a.name AS a_name, b.name AS b_name)) t""")
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(rows.toSeq == Seq(("Daniel", "Tavneet")))
      // plain SQL still parses through the delegate untouched
      assert(s.sql("SELECT 1 AS one").collect().head.getInt(0) == 1)
    }
  }

  test("parser override raises PGQ errors; graph_table( in a literal or " +
      "comment still parses") {
    withExtensionSession { s =>
      val e = intercept[GraphAnalysisException] {
        s.sql("""SELECT * FROM GRAPH_TABLE (extpg
          MATCH (a:Persn) COLUMNS (a.name AS n)) t""")
      }
      assert(e.msg.contains("'Persn' is not registered"), e.msg)
      def one(sql: String): Any = s.sql(sql).collect().head.get(0)
      assert(one("SELECT 'graph_table(' AS x") == "graph_table(")
      assert(one("SELECT 1 AS x -- graph_table(\n") == 1)
      assert(one("SELECT /* graph_table( /* nested */ */ 2 AS x") == 2)
    }
  }

  test("driver contract: entry() flagship returns rows on sf0.001") {
    val s = Fixture.init()
    assert(SparkEntry.entry(s).count() > 0)
  }

  test("identifiers containing graph_table are not rewritten") {
    val s = Fixture.init()
    import s.implicits._
    Seq((1, 2)).toDF("a", "b").createOrReplaceTempView("my_graph_table_view")
    val g = Graft(s, TableResolver.catalog)
    // would throw a PGQ parse error if the regex fired inside the name
    val out = g.sqlGraph("SELECT a FROM my_graph_table_view")
    assert(out.collect().head.getInt(0) == 1)
  }

  test("unterminated quantifier raises a parse error, not an index crash") {
    val e = intercept[GraphAnalysisException] {
      PgqParser.graphTable("pg MATCH (a:X)-[e:E]->{")
    }
    assert(e.msg.contains("quantifier") || e.msg.contains("parse error"))
  }

  test("prefix-less named WALK path defaults to ANY SHORTEST; missing arrow") {
    val s = Fixture.init()
    val g = Graft(s, TableResolver.catalog)
    g.registry.create(s, Fixture.pg, TableResolver.catalog, orReplace = true)
    // DuckDB's Kleene semantics: `p = (a)-[k]->{1,2}(b)` without a prefix
    // binds ONE shortest path per reachable pair
    // (complex_matching.test:327-340) — r7 turned the old loud error into
    // the reference behavior
    val rows = g.graphTable(
      "pg MATCH p = (a:Person WHERE a.id = 0)-[k:Knows]->{1,2}(b:Person) " +
        "COLUMNS (a.id AS a_id, b.id AS b_id, path_length(p) AS len)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // know edges: 0→1, 0→2, 0→3; 2 hops: 0→…→{2,3}; shortest per pair
    assert(rows == Set((0L, 1L, 1L), (0L, 2L, 1L), (0L, 3L, 1L)))
    val e3 = intercept[GraphAnalysisException] {
      PgqParser.graphTable("pg MATCH (a:Person)-[k:Knows](b:Person) COLUMNS (a.id)")
    }
    assert(e3.msg.contains("expected closing"))
  }

  test("quantified bidirectional <-[e]->: both orientations must exist " +
      "(beyond parity — the reference raises NotImplemented)") {
    val s = Fixture.init()
    val g = Graft(s, TableResolver.catalog)
    g.registry.create(s, Fixture.pg, TableResolver.catalog, orReplace = true)
    // know has exactly one mutual pair: 0→3 and 3→0 — the bidirectional
    // core is {0↔3}. ANY SHORTEST from Daniel(0) reaches only 3 (the
    // 0→3→0 walk is not shortest: dist(0,0)=0 < lower bound 1)…
    val got = g.graphTable(
      """pg MATCH ANY SHORTEST (a:Person WHERE a.name = 'Daniel')<-[k:Knows]->{1,2}(b:Person)
         COLUMNS (b.id AS bid)""")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(3L))
    // …while TRAIL enumeration lists both core paths, [0,3] and [0,3,0]
    val trails = g.graphTable(
      """pg MATCH p = TRAIL (a:Person WHERE a.name = 'Daniel')<-[k:Knows]->{1,2}(b:Person)
         COLUMNS (b.id AS bid, path_length(p) AS len)""")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(trails == Set((3L, 1L), (0L, 2L)))
    // fixed-hop equivalence on the same core
    val fixed = g.graphTable(
      """pg MATCH (a:Person WHERE a.name = 'Daniel')<-[k:Knows]->(b:Person)
         COLUMNS (b.id AS bid)""")
      .collect().map(_.getLong(0)).toSet
    assert(fixed == Set(3L))
  }

  test("star expansion honors registered property subsets") {
    val s = Fixture.init()
    val g = Graft(s, TableResolver.catalog)
    g.registry.create(s, Fixture.pg, TableResolver.catalog, orReplace = true)
    // Person declares PROPERTIES (id, name); a.* must not leak other cols
    val df = g.graphTable(
      "pg MATCH (a:Person)-[k:Knows]->(b:Person) COLUMNS (a.*)")
    assert(df.columns.toSet == Set("id", "name"))
  }

  test("GRAPH_TABLE inside a string literal is left alone") {
    val s = Fixture.init()
    val g = Graft(s, TableResolver.catalog)
    val out = g.sqlGraph(
      "SELECT 'see GRAPH_TABLE(docs) for details' AS hint")
    assert(out.collect().head.getString(0).contains("GRAPH_TABLE(docs)"))
  }

  test("quantifier lower > upper raises — kleene_star.test:50-56") {
    val e = intercept[GraphAnalysisException] {
      PgqParser.graphTable(
        "pg MATCH p = ANY SHORTEST (a:P)-[e:K]->{3,1}(b:P) COLUMNS (a.id)")
    }
    assert(e.msg.contains("Lower bound greater than upper bound"))
  }

  test("DDL: label-less tables + IN discriminator without LABEL — with_clause.test:12-20") {
    val spec = PgqParser.statement(
      """CREATE PROPERTY GRAPH snb2
         VERTEX TABLES (
           person,
           organisation IN typemask (company, university)
         )
         EDGE TABLES (
           know SOURCE KEY (src) REFERENCES person (id)
                DESTINATION KEY (dst) REFERENCES person (id) LABEL Knows
         )""").asInstanceOf[graft.pgq.CreatePropertyGraphSpec]
    assert(spec.vertexTables(0).effectiveLabel == "person")
    assert(spec.vertexTables(1).discriminator.contains("typemask"))
    assert(spec.vertexTables(1).subLabels == Seq("company", "university"))
  }
}
