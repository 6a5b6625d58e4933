package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.pgq._
import graft.compiler.GraphTableCompiler
import graft.graph.{Algorithms, PathFinder}

/** Replays the reference's canonical Student/know fixture and golden outputs
  * (reference `test/sql/pattern_matching/basic_match.test:10-35,86-181`,
  * `test/sql/path_finding/shortest_path.test`, `test/sql/scalar/...`). */
object Fixture {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def init(): SparkSession = {
    val s = spark
    s.sparkContext.setLogLevel("ERROR")
    import s.implicits._
    Seq((0L, "Daniel"), (1L, "Tavneet"), (2L, "Gabor"), (3L, "Peter"),
      (4L, "David")).toDF("id", "name").createOrReplaceTempView("student")
    Seq((0L, 1L, 10L), (0L, 2L, 11L), (0L, 3L, 12L), (3L, 0L, 13L),
      (1L, 2L, 14L), (1L, 3L, 15L), (2L, 3L, 16L), (4L, 3L, 17L))
      .toDF("src", "dst", "createdate").createOrReplaceTempView("know")
    Seq(("VU", 0L, "University"), ("UVA", 1L, "University"))
      .toDF("name", "id", "kind").createOrReplaceTempView("school")
    Seq((0L, 0L), (1L, 0L), (2L, 1L), (3L, 1L), (4L, 1L))
      .toDF("personid", "schoolid").createOrReplaceTempView("studyat")
    s
  }

  val pg: PropertyGraph = PropertyGraph("pg",
    vertexTables = Seq(
      VertexTable("student", "Person", Seq("id"), Seq("id", "name")),
      VertexTable("school", "School", Seq("id"))),
    edgeTables = Seq(
      EdgeTable("know", "Knows", Seq("src"), Seq("id"), "Person",
        Seq("dst"), Seq("id"), "Person"),
      EdgeTable("studyat", "StudyAt", Seq("personid"), Seq("id"), "Person",
        Seq("schoolid"), Seq("id"), "School")))

  def matchDF(spec: MatchSpec): DataFrame =
    GraphTableCompiler.compile(init(), spec, pg, TableResolver.catalog)

  /** Runs `body` with the given session confs set on `s`, then restores
    * each key's previous value (or unsets it when it had none). */
  def withConf[T](s: SparkSession)(kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Forces every size-gated kernel of `s` onto its distributed branch. */
  val ForceDist: (String, String) = "spark.graft.local.maxRows" -> "0"

  /** Runs `body` with the local-vs-distributed gate of `s` at `rows`. */
  def withGate[T](s: SparkSession, rows: Long)(body: => T): T =
    withConf(s)("spark.graft.local.maxRows" -> rows.toString)(body)

  /** Brute-force multi-source BFS, sorted: (seed, vertex, hops) for every
    * vertex within `maxDepth` hops of a seed, the seed itself at 0. */
  def bruteBfs(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxDepth: Long): Seq[(Long, Long, Long)] =
    seeds.distinct.flatMap { src =>
      var dist = Map(src -> 0L)
      var frontier = Set(src)
      var d = 0L
      while (frontier.nonEmpty && d < maxDepth) {
        d += 1
        frontier = edges.collect {
          case (a, b) if frontier(a) && !dist.contains(b) => b
        }.toSet
        dist ++= frontier.map(_ -> d)
      }
      dist.map { case (v, hops) => (src, v, hops) }
    }.sorted
}

class StudentFixtureSpec extends AnyFunSuite {
  import Fixture._

  private def names(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i =>
      String.valueOf(r.get(i)))).sorted(
      Ordering.Implicits.seqOrdering[Seq, String])

  test("directed match (a)-[k]->(b) with filter — basic_match.test:86-97") {
    val df = matchDF(MatchSpec("pg",
      Seq(PathPattern(None, None, PathMode.Walk, Seq(
        VertexPattern(Some("a"), Some("Person")),
        EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Right),
        VertexPattern(Some("b"), Some("Person"))))),
      where = Some("a.name = 'Daniel'"),
      columns = Seq(ColumnSpec("a.name", Some("a_name")),
        ColumnSpec("b.name", Some("b_name")))))
    assert(names(df) == Seq(
      Seq("Daniel", "Gabor"), Seq("Daniel", "Peter"), Seq("Daniel", "Tavneet")))
  }

  test("reverse match (a)<-[k]-(b) — basic_match.test:112-124") {
    val df = matchDF(MatchSpec("pg",
      Seq(PathPattern(None, None, PathMode.Walk, Seq(
        VertexPattern(Some("a"), Some("Person")),
        EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Left),
        VertexPattern(Some("b"), Some("Person"))))),
      where = Some("a.name = 'Peter'"),
      columns = Seq(ColumnSpec("b.name", Some("b_name")))))
    assert(names(df).flatten ==
      Seq("Daniel", "David", "Gabor", "Tavneet"))
  }

  test("undirected match (a)-[k]-(b) — basic_match.test:126-139") {
    val df = matchDF(MatchSpec("pg",
      Seq(PathPattern(None, None, PathMode.Walk, Seq(
        VertexPattern(Some("a"), Some("Person")),
        EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Undirected),
        VertexPattern(Some("b"), Some("Person"))))),
      where = Some("a.name = 'Peter'"),
      columns = Seq(ColumnSpec("b.name", Some("b_name")))))
    assert(names(df).flatten ==
      Seq("Daniel", "Daniel", "David", "Gabor", "Tavneet"))
  }

  test("bidirectional match (a)<-[k]->(b) — basic_match.test:141-149") {
    val df = matchDF(MatchSpec("pg",
      Seq(PathPattern(None, None, PathMode.Walk, Seq(
        VertexPattern(Some("a"), Some("Person")),
        EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Both),
        VertexPattern(Some("b"), Some("Person"))))),
      where = Some("a.name = 'Peter'"),
      columns = Seq(ColumnSpec("b.name", Some("b_name")))))
    assert(names(df).flatten == Seq("Daniel"))
  }

  test("3-hop cycle with repeated variable — basic_match.test:167-181") {
    val df = matchDF(MatchSpec("pg",
      Seq(PathPattern(None, None, PathMode.Walk, Seq(
        VertexPattern(Some("a"), Some("Person")),
        EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Right),
        VertexPattern(Some("b"), Some("Person")),
        EdgePattern(Some("k2"), Some("Knows"), EdgeDirection.Right),
        VertexPattern(Some("c"), Some("Person")),
        EdgePattern(Some("k3"), Some("Knows"), EdgeDirection.Right),
        VertexPattern(Some("a"), Some("Person"))))),
      columns = Seq(ColumnSpec("a.name", Some("a_name")),
        ColumnSpec("b.name", Some("b_name")),
        ColumnSpec("c.name", Some("c_name")))))
    // NOTE: the reference golden lists 5 rows, omitting the valid rotation
    // Tavneet→Peter→Daniel (edges (1,3),(3,0),(0,1) all exist) — a
    // repeated-binding quirk in DuckPGQ. Relational semantics (and a DuckDB
    // oracle over the equivalent join SQL) give all 6 rotations; we
    // implement the correct semantics.
    assert(names(df) == Seq(
      Seq("Daniel", "Gabor", "Peter"), Seq("Daniel", "Tavneet", "Peter"),
      Seq("Gabor", "Peter", "Daniel"), Seq("Peter", "Daniel", "Gabor"),
      Seq("Peter", "Daniel", "Tavneet"), Seq("Tavneet", "Peter", "Daniel")))
  }

  test("two-edge-table hop Person->School — basic_match.test:60-77") {
    val df = matchDF(MatchSpec("pg",
      Seq(PathPattern(None, None, PathMode.Walk, Seq(
        VertexPattern(Some("a"), Some("Person")),
        EdgePattern(Some("s"), Some("StudyAt"), EdgeDirection.Right),
        VertexPattern(Some("b"), Some("School"))))),
      where = Some("a.name = 'Daniel'"),
      columns = Seq(ColumnSpec("b.name", Some("school")))))
    assert(names(df).flatten == Seq("VU"))
  }

  test("aggregate inside COLUMNS — basic_match.test:246-254") {
    val df = matchDF(MatchSpec("pg",
      Seq(PathPattern(None, None, PathMode.Walk, Seq(
        VertexPattern(Some("a"), Some("Person")),
        EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Right),
        VertexPattern(Some("b"), Some("Person"))))),
      columns = Seq(ColumnSpec("count(*)", Some("n")))))
    assert(df.collect().head.getLong(0) == 8L)
  }

  test("variable-length {1,3} — shortest_path.test:61-82 pairs+lengths") {
    val df = matchDF(MatchSpec("pg",
      Seq(PathPattern(Some("p"), Some(SearchPrefix.AnyShortest),
        PathMode.Walk, Seq(
          VertexPattern(Some("a"), Some("Person")),
          EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Right,
            Some(Quantifier(1, Some(3)))),
          VertexPattern(Some("b"), Some("Person"))))),
      columns = Seq(ColumnSpec("path_length(p)", Some("len")),
        ColumnSpec("a.name", Some("name")),
        ColumnSpec("b.name", Some("b_name")))))
    val got = df.collect().toSeq
      .map(r => (r.getString(1), r.getString(2), r.getLong(0))).sorted
    val expect = Seq(
      ("Daniel", "Gabor", 1L), ("Daniel", "Peter", 1L), ("Daniel", "Tavneet", 1L),
      ("David", "Daniel", 2L), ("David", "Gabor", 3L), ("David", "Peter", 1L),
      ("David", "Tavneet", 3L),
      ("Gabor", "Daniel", 2L), ("Gabor", "Peter", 1L), ("Gabor", "Tavneet", 3L),
      ("Peter", "Daniel", 1L), ("Peter", "Gabor", 2L), ("Peter", "Tavneet", 2L),
      ("Tavneet", "Daniel", 2L), ("Tavneet", "Gabor", 1L), ("Tavneet", "Peter", 1L))
    assert(got == expect)
  }

  test("element_id(p) endpoints are vertex ids — shortest_path.test:47-59") {
    val df = matchDF(MatchSpec("pg",
      Seq(PathPattern(Some("p"), Some(SearchPrefix.AnyShortest),
        PathMode.Walk, Seq(
          VertexPattern(Some("a"), Some("Person"),
            where = Some("a.name = 'Daniel'")),
          EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Right,
            Some(Quantifier(1, Some(3)))),
          VertexPattern(Some("b"), Some("Person"))))),
      columns = Seq(ColumnSpec("element_id(p)", Some("p")),
        ColumnSpec("a.id", Some("aid")), ColumnSpec("b.id", Some("bid")))))
    df.collect().foreach { r =>
      val path = r.getSeq[Long](0)
      assert(path.head == r.getLong(1) && path.last == r.getLong(2))
      assert(path.length % 2 == 1)
    }
    assert(df.count() == 3)
  }

  test("pagerank matches reference goldens — scalar/pagerank.test:23-30") {
    val s = init()
    val got = Algorithms.pagerank(s, pg, TableResolver.catalog,
      "Person", "Knows").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expect = Map(0L -> 0.30722555839452875, 1L -> 0.11534940106637968,
      2L -> 0.16437299553018173, 3L -> 0.32814638463154105,
      4L -> 0.028301886792456276)
    expect.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) < 1e-5, s"node $k: ${got(k)} vs $v")
    }
  }

  test("wcc grouping equivalence — scalar/weakly_connected_component.test") {
    val s = init()
    val got = Algorithms.wcc(s, pg, TableResolver.catalog, "Person", "Knows")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // all five connected (golden: single component)
    assert(got.values.toSet.size == 1)
    assert(got.keySet == Set(0L, 1L, 2L, 3L, 4L))
  }

  test("lcc matches reference goldens — scalar/local_clustering_coefficient.test") {
    val s = init()
    val got = Algorithms.lcc(s, pg, TableResolver.catalog, "Person", "Knows")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expect = Map(0L -> 1.0, 1L -> 1.0, 2L -> 1.0, 3L -> 0.5, 4L -> 0.0)
    expect.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-9) }
  }

  test("kleene-star on empty edges yields self-paths — kleene_star.test:6-24") {
    val s = init()
    import s.implicits._
    Seq(1L, 2L, 3L).toDF("id").createOrReplaceTempView("nodes")
    Seq.empty[(Long, Long)].toDF("src", "dst")
      .createOrReplaceTempView("edges")
    val tpg = PropertyGraph("testgraph",
      Seq(VertexTable("nodes", "N", Seq("id"))),
      Seq(EdgeTable("edges", "E", Seq("src"), Seq("id"), "N",
        Seq("dst"), Seq("id"), "N")))
    val df = GraphTableCompiler.compile(s, MatchSpec("testgraph",
      Seq(PathPattern(Some("p"), Some(SearchPrefix.AnyShortest),
        PathMode.Walk, Seq(
          VertexPattern(Some("a"), Some("N")),
          EdgePattern(Some("e"), Some("E"), EdgeDirection.Right,
            Some(Quantifier(0, None))),
          VertexPattern(Some("b"), Some("N"))))),
      columns = Seq(ColumnSpec("a.id", Some("aid")),
        ColumnSpec("b.id", Some("bid")),
        ColumnSpec("path_length(p)", Some("len")))),
      tpg, TableResolver.catalog)
    val rows = df.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(rows == Seq((1L, 1L, 0L), (2L, 2L, 0L), (3L, 3L, 0L)))
  }

  test("SHORTEST k: top-k walks per pair by (length, lex) — top_k.test, " +
      "beyond parity (reference raises NotImplemented)") {
    val df = matchDF(MatchSpec("pg", Seq(PathPattern(Some("p"),
      Some(SearchPrefix.ShortestK(2)), PathMode.Walk, Seq(
        VertexPattern(Some("a"), Some("Person"),
          where = Some("a.name = 'Daniel'")),
        EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Right,
          Some(Quantifier(1, Some(3)))),
        VertexPattern(Some("b"), Some("Person"))))),
      columns = Seq(ColumnSpec("element_id(p)", Some("path")))))
    val got = df.collect().toSeq.map(_.getSeq[Long](0).toSeq).toSet
    // hand-enumerated: 2 best walks from Daniel(0) per destination
    assert(got == Set(
      Seq(0L, 0L, 1L), Seq(0L, 2L, 3L, 6L, 0L, 0L, 1L), // → 1
      Seq(0L, 1L, 2L), Seq(0L, 0L, 1L, 3L, 2L),         // → 2
      Seq(0L, 2L, 3L), Seq(0L, 0L, 1L, 4L, 3L),         // → 3
      Seq(0L, 2L, 3L, 6L, 0L), Seq(0L, 0L, 1L, 4L, 3L, 6L, 0L))) // → 0
  }

  test("SHORTEST k over WALK needs a bound; non-WALK modes do not") {
    intercept[GraphAnalysisException] {
      matchDF(MatchSpec("pg", Seq(PathPattern(Some("p"),
        Some(SearchPrefix.ShortestK(2)), PathMode.Walk, Seq(
          VertexPattern(Some("a"), Some("Person")),
          EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Right,
            Some(Quantifier(1, None))),
          VertexPattern(Some("b"), Some("Person")))))))
        .collect()
    }
    // SHORTEST 2 TRAIL unbounded: finite; to Peter(3) from Daniel the two
    // best trails are the direct edge and the lex-min 2-hop trail
    val df = matchDF(MatchSpec("pg", Seq(PathPattern(Some("p"),
      Some(SearchPrefix.ShortestK(2)), PathMode.Trail, Seq(
        VertexPattern(Some("a"), Some("Person"),
          where = Some("a.name = 'Daniel'")),
        EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Right,
          Some(Quantifier(1, None))),
        VertexPattern(Some("b"), Some("Person"),
          where = Some("b.name = 'Peter'"))))),
      columns = Seq(ColumnSpec("element_id(p)", Some("path")))))
    val got = df.collect().toSeq.map(_.getSeq[Long](0).toSeq).toSet
    assert(got == Set(Seq(0L, 2L, 3L), Seq(0L, 0L, 1L, 4L, 3L)))
  }

  // ---- path modes: the reference raises NotImplemented
  // (PGQCheckPathModeSupport match.cpp:80-108); these implement the SQL/PGQ
  // visited-set semantics — capability beyond parity. Expected sets are
  // hand-enumerated on the know graph; `know` declares no edgeIdCol, so
  // paths carry synthetic dense ids ranked by (src, dst):
  // 0→1(e0) 0→2(e1) 0→3(e2) 1→2(e3) 1→3(e4) 2→3(e5) 3→0(e6) 4→3(e7).

  private def modePaths(mode: PathMode, lower: Long, upper: Option[Long])
      : Set[Seq[Long]] = {
    val df = matchDF(MatchSpec("pg", Seq(PathPattern(Some("p"), None, mode,
      Seq(VertexPattern(Some("a"), Some("Person"),
          where = Some("a.name = 'Daniel'")),
        EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Right,
          Some(Quantifier(lower, upper))),
        VertexPattern(Some("b"), Some("Person"))))),
      columns = Seq(ColumnSpec("element_id(p)", Some("path")))))
    val rows = df.collect().toSeq.map(_.getSeq[Long](0).toSeq)
    assert(rows.distinct.length == rows.length,
      s"enumeration emitted duplicate paths: $rows")
    rows.toSet
  }

  test("TRAIL enumeration {1,2} from Daniel — one row per edge-distinct path") {
    assert(modePaths(PathMode.Trail, 1, Some(2)) == Set(
      Seq(0L, 0L, 1L), Seq(0L, 1L, 2L), Seq(0L, 2L, 3L),
      Seq(0L, 0L, 1L, 3L, 2L), Seq(0L, 0L, 1L, 4L, 3L),
      Seq(0L, 1L, 2L, 5L, 3L),
      Seq(0L, 2L, 3L, 6L, 0L))) // revisits vertex 0: legal for TRAIL
  }

  test("ACYCLIC enumeration {1,3} from Daniel — no repeated vertices") {
    assert(modePaths(PathMode.Acyclic, 1, Some(3)) == Set(
      Seq(0L, 0L, 1L), Seq(0L, 1L, 2L), Seq(0L, 2L, 3L),
      Seq(0L, 0L, 1L, 3L, 2L), Seq(0L, 0L, 1L, 4L, 3L),
      Seq(0L, 1L, 2L, 5L, 3L),
      Seq(0L, 0L, 1L, 3L, 2L, 5L, 3L)))
  }

  test("SIMPLE allows exactly the closing revisit; unbounded ACYCLIC terminates") {
    // SIMPLE {1,2} = ACYCLIC {1,2} plus the cycle back to the start
    assert(modePaths(PathMode.Simple, 1, Some(2)) ==
      modePaths(PathMode.Acyclic, 1, Some(2)) + Seq(0L, 2L, 3L, 6L, 0L))
    // unbounded enumeration is finite for non-WALK modes (visited sets
    // strictly grow) — previously an error, per the reference's own hint
    val unbounded = modePaths(PathMode.Acyclic, 1, None)
    assert(unbounded.contains(Seq(0L, 0L, 1L, 3L, 2L, 5L, 3L)))
    assert(unbounded.forall { p =>
      val vs = p.zipWithIndex.collect { case (v, i) if i % 2 == 0 => v }
      vs.distinct.length == vs.length
    })
  }

  test("fixed-pattern modes: pairwise distinctness filters") {
    def twoHop(mode: PathMode): Set[(Long, Long, Long)] =
      matchDF(MatchSpec("pg", Seq(PathPattern(None, None, mode, Seq(
        VertexPattern(Some("a"), Some("Person"),
          where = Some("a.name = 'Daniel'")),
        EdgePattern(Some("k1"), Some("Knows"), EdgeDirection.Right),
        VertexPattern(Some("b"), Some("Person")),
        EdgePattern(Some("k2"), Some("Knows"), EdgeDirection.Right),
        VertexPattern(Some("c"), Some("Person"))))),
        columns = Seq(ColumnSpec("a.id", Some("a")),
          ColumnSpec("b.id", Some("b")), ColumnSpec("c.id", Some("c")))))
        .collect().toSet.map((r: org.apache.spark.sql.Row) =>
          (r.getLong(0), r.getLong(1), r.getLong(2)))
    val walk = Set((0L, 1L, 2L), (0L, 1L, 3L), (0L, 2L, 3L), (0L, 3L, 0L))
    assert(twoHop(PathMode.Walk) == walk)
    assert(twoHop(PathMode.Trail) == walk) // all 2-hop edge pairs distinct
    assert(twoHop(PathMode.Acyclic) == walk - ((0L, 3L, 0L)))
    assert(twoHop(PathMode.Simple) == walk) // closing the cycle is legal
  }

  test("undirected TRAIL: orientation-independent eids forbid walking back " +
      "over the same physical edge") {
    val df = matchDF(MatchSpec("pg", Seq(PathPattern(Some("p"), None,
      PathMode.Trail, Seq(
        VertexPattern(Some("a"), Some("Person"),
          where = Some("a.name = 'David'")),
        EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Undirected,
          Some(Quantifier(1, Some(2)))),
        VertexPattern(Some("b"), Some("Person"))))),
      columns = Seq(ColumnSpec("element_id(p)", Some("path")))))
    val got = df.collect().toSeq.map(_.getSeq[Long](0).toSeq).toSet
    // David(4)'s only physical edge is 4→3 (e7); the undirected view
    // doubles it with the SAME id, so [4,7,3,7,4] is NOT a trail. From 3
    // the view has TWO distinct parallel edges to 0 (stored 3→0 e6 and
    // stored 0→3 e2) — both legal continuations and distinct trails.
    assert(got == Set(
      Seq(4L, 7L, 3L),
      Seq(4L, 7L, 3L, 6L, 0L), Seq(4L, 7L, 3L, 2L, 0L),
      Seq(4L, 7L, 3L, 4L, 1L), Seq(4L, 7L, 3L, 5L, 2L)))
  }

  test("bidirectional fixed-edge TRAIL: forward-row identity on the 0<->3 " +
      "2-cycle") {
    // `<-[e]->` traverses the FORWARD orientation's stored row; the hidden
    // reverse copy is an existence witness (the quantified bidirectional
    // rule). Only 0<->3 is mutual: hops alternate fwd 0→3 (e2) / fwd 3→0
    // (e6).
    def chain(mode: PathMode, hops: Int): Set[Seq[Long]] = {
      val elems = scala.collection.mutable.ArrayBuffer[PatternElement](
        VertexPattern(Some("v0"), Some("Person")))
      for (h <- 1 to hops) {
        elems += EdgePattern(Some(s"k$h"), Some("Knows"), EdgeDirection.Both)
        elems += VertexPattern(Some(s"v$h"), Some("Person"))
      }
      matchDF(MatchSpec("pg", Seq(PathPattern(None, None, mode,
        elems.toSeq)),
        columns = (0 to hops).map(i => ColumnSpec(s"v$i.id", Some(s"v$i")))))
        .collect().toSet.map((r: org.apache.spark.sql.Row) =>
          (0 to hops).map(r.getLong))
    }
    // 2 hops: 0-3-0 and 3-0-3 use two DISTINCT stored rows — legal trails
    val two = Set(Seq(0L, 3L, 0L), Seq(3L, 0L, 3L))
    assert(chain(PathMode.Walk, 2) == two)
    assert(chain(PathMode.Trail, 2) == two)
    // 3 hops: 0-3-0-3 repeats the forward row 0→3 — WALK keeps both
    // alternations, TRAIL excludes them all
    assert(chain(PathMode.Walk, 3) ==
      Set(Seq(0L, 3L, 0L, 3L), Seq(3L, 0L, 3L, 0L)))
    assert(chain(PathMode.Trail, 3).isEmpty)
  }

  test("repeated-binding cycles under modes: ACYCLIC empty, SIMPLE keeps them") {
    def cycle(mode: PathMode): Set[(Long, Long)] =
      matchDF(MatchSpec("pg", Seq(PathPattern(None, None, mode, Seq(
        VertexPattern(Some("a"), Some("Person")),
        EdgePattern(Some("k1"), Some("Knows"), EdgeDirection.Right),
        VertexPattern(Some("b"), Some("Person")),
        EdgePattern(Some("k2"), Some("Knows"), EdgeDirection.Right),
        VertexPattern(Some("a"), None)))), // repeated binding: closes cycle
        columns = Seq(ColumnSpec("a.id", Some("a")),
          ColumnSpec("b.id", Some("b")))))
        .collect().toSet.map((r: org.apache.spark.sql.Row) =>
          (r.getLong(0), r.getLong(1)))
    val walkCycles = cycle(PathMode.Walk)
    assert(walkCycles == Set((0L, 3L), (3L, 0L))) // the 0↔3 mutual pair
    // a (a)…(a) cycle is never acyclic — the filter reduces to false
    assert(cycle(PathMode.Acyclic).isEmpty)
    // SIMPLE exempts the closing endpoint pair
    assert(cycle(PathMode.Simple) == walkCycles)
    // TRAIL: the two edges are distinct rows — cycles stay
    assert(cycle(PathMode.Trail) == walkCycles)
  }

  test("MIXED fixed+quantified pattern under modes: cross-element filters") {
    // (Daniel)-[k1]->(b)-[k2]->{1,2}(c): the fixed hop's edge id must not
    // recur inside the segment (TRAIL), and no vertex may repeat across
    // the fixed alias and the segment interior (ACYCLIC/SIMPLE)
    def mixed(mode: PathMode): Set[Seq[Long]] =
      matchDF(MatchSpec("pg", Seq(PathPattern(Some("p"), None, mode, Seq(
        VertexPattern(Some("a"), Some("Person"),
          where = Some("a.name = 'Daniel'")),
        EdgePattern(Some("k1"), Some("Knows"), EdgeDirection.Right),
        VertexPattern(Some("b"), Some("Person")),
        EdgePattern(Some("k2"), Some("Knows"), EdgeDirection.Right,
          Some(Quantifier(1, Some(2)))),
        VertexPattern(Some("c"), Some("Person"))))),
        columns = Seq(ColumnSpec("element_id(p)", Some("path")))))
        .collect().toSeq.map(_.getSeq[Long](0).toSeq).toSet
    val trail = mixed(PathMode.Trail)
    assert(trail.size == 9)
    assert(!trail.contains(Seq(0L, 2L, 3L, 6L, 0L, 2L, 3L))) // k1 reused
    assert(trail.contains(Seq(0L, 2L, 3L, 6L, 0L, 0L, 1L))) // v-revisit OK
    val acyc = mixed(PathMode.Acyclic)
    assert(acyc == Set(Seq(0L, 0L, 1L, 3L, 2L), Seq(0L, 0L, 1L, 4L, 3L),
      Seq(0L, 0L, 1L, 3L, 2L, 5L, 3L), Seq(0L, 1L, 2L, 5L, 3L)))
    // SIMPLE = ACYCLIC + paths closing back to Daniel
    assert(mixed(PathMode.Simple) == acyc +
      Seq(0L, 0L, 1L, 4L, 3L, 6L, 0L) + Seq(0L, 1L, 2L, 5L, 3L, 6L, 0L) +
      Seq(0L, 2L, 3L, 6L, 0L))
  }

  test("search prefixes over MIXED patterns under non-WALK modes: " +
      "whole-path ranking over the enumeration") {
    // (Daniel)-[k1]->(b)-[k2]->{1,2}(c) — the mode-filtered enumerations
    // are pinned by the previous test; the prefix then ranks WHOLE paths
    // per (a, c) endpoint partition (NOT per-segment composition: mode
    // validity is cross-segment, so per-segment representatives can't
    // express "exists a mode-valid combination"). Expected sets are the
    // hand-ranked (length, lex-path) minima of those enumerations.
    def ranked(prefix: SearchPrefix, mode: PathMode): Set[Seq[Long]] =
      matchDF(MatchSpec("pg", Seq(PathPattern(Some("p"), Some(prefix), mode,
        Seq(VertexPattern(Some("a"), Some("Person"),
            where = Some("a.name = 'Daniel'")),
          EdgePattern(Some("k1"), Some("Knows"), EdgeDirection.Right),
          VertexPattern(Some("b"), Some("Person")),
          EdgePattern(Some("k2"), Some("Knows"), EdgeDirection.Right,
            Some(Quantifier(1, Some(2)))),
          VertexPattern(Some("c"), Some("Person"))))),
        columns = Seq(ColumnSpec("element_id(p)", Some("path")))))
        .collect().toSeq.map(_.getSeq[Long](0).toSeq).toSet
    // ACYCLIC groups: (0,2) has one path; (0,3) two at len 2, one at 3
    assert(ranked(SearchPrefix.AllShortest, PathMode.Acyclic) == Set(
      Seq(0L, 0L, 1L, 3L, 2L), Seq(0L, 0L, 1L, 4L, 3L),
      Seq(0L, 1L, 2L, 5L, 3L)))
    // ANY picks the lex-min of the two (0,3) shortest
    assert(ranked(SearchPrefix.AnyShortest, PathMode.Acyclic) == Set(
      Seq(0L, 0L, 1L, 3L, 2L), Seq(0L, 0L, 1L, 4L, 3L)))
    // TRAIL enumeration has 9 paths over 4 destination groups; k=2 keeps
    // 7 (drops the len-3 third-ranked of the (0,3) and (0,0) groups)
    assert(ranked(SearchPrefix.ShortestK(2), PathMode.Trail) == Set(
      Seq(0L, 0L, 1L, 3L, 2L), Seq(0L, 2L, 3L, 6L, 0L, 1L, 2L),
      Seq(0L, 0L, 1L, 4L, 3L), Seq(0L, 1L, 2L, 5L, 3L),
      Seq(0L, 2L, 3L, 6L, 0L, 0L, 1L), Seq(0L, 2L, 3L, 6L, 0L),
      Seq(0L, 0L, 1L, 4L, 3L, 6L, 0L)))
    // SIMPLE adds the closing-cycle group (0,0), whose shortest is the
    // 2-edge [0,2,3,6,0]
    assert(ranked(SearchPrefix.AllShortest, PathMode.Simple) == Set(
      Seq(0L, 0L, 1L, 3L, 2L), Seq(0L, 0L, 1L, 4L, 3L),
      Seq(0L, 1L, 2L, 5L, 3L), Seq(0L, 2L, 3L, 6L, 0L)))
    // no path variable: the ranking array is internal (here TRAIL whole-
    // path SHORTEST 1 per (a, c) — endpoint columns only)
    val noVar = matchDF(MatchSpec("pg", Seq(PathPattern(None,
      Some(SearchPrefix.ShortestK(1)), PathMode.Trail,
      Seq(VertexPattern(Some("a"), Some("Person"),
          where = Some("a.name = 'Daniel'")),
        EdgePattern(Some("k1"), Some("Knows"), EdgeDirection.Right),
        VertexPattern(Some("b"), Some("Person")),
        EdgePattern(Some("k2"), Some("Knows"), EdgeDirection.Right,
          Some(Quantifier(1, Some(2)))),
        VertexPattern(Some("c"), Some("Person"))))),
      columns = Seq(ColumnSpec("a.id", Some("a")),
        ColumnSpec("c.id", Some("c")))))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    // one row per destination group (ranked arrays never leak out)
    assert(noVar.sorted == Seq((0L, 0L), (0L, 1L), (0L, 2L), (0L, 3L)))
  }

  test("two {1,1} quantified segments enumerate like the fixed-fixed filters") {
    def seg2(mode: PathMode): Set[(Long, Long, Long)] =
      matchDF(MatchSpec("pg", Seq(PathPattern(None, None, mode, Seq(
        VertexPattern(Some("a"), Some("Person"),
          where = Some("a.name = 'Daniel'")),
        EdgePattern(Some("k1"), Some("Knows"), EdgeDirection.Right,
          Some(Quantifier(1, Some(1)))),
        VertexPattern(Some("b"), Some("Person")),
        EdgePattern(Some("k2"), Some("Knows"), EdgeDirection.Right,
          Some(Quantifier(1, Some(1)))),
        VertexPattern(Some("c"), Some("Person"))))),
        columns = Seq(ColumnSpec("a.id", Some("a")),
          ColumnSpec("b.id", Some("b")), ColumnSpec("c.id", Some("c")))))
        .collect().toSet.map((r: org.apache.spark.sql.Row) =>
          (r.getLong(0), r.getLong(1), r.getLong(2)))
    val walkSet = Set((0L, 1L, 2L), (0L, 1L, 3L), (0L, 2L, 3L), (0L, 3L, 0L))
    assert(seg2(PathMode.Trail) == walkSet)
    assert(seg2(PathMode.Acyclic) == walkSet - ((0L, 3L, 0L)))
    assert(seg2(PathMode.Simple) == walkSet)
  }

  test("ALL SHORTEST multiplies out every minimal parent combination") {
    val s = init()
    import s.implicits._
    // diamond: 0→1→3, 0→2→3 — two shortest 0→3 paths
    Seq(0L, 1L, 2L, 3L).toDF("id").createOrReplaceTempView("dnodes")
    Seq((0L, 1L, 100L), (0L, 2L, 101L), (1L, 3L, 102L), (2L, 3L, 103L))
      .toDF("src", "dst", "eid").createOrReplaceTempView("dedges")
    val dpg = PropertyGraph("diamond",
      Seq(VertexTable("dnodes", "N", Seq("id"))),
      Seq(EdgeTable("dedges", "E", Seq("src"), Seq("id"), "N",
        Seq("dst"), Seq("id"), "N", edgeIdCol = Some("eid"))))
    val df = GraphTableCompiler.compile(s, MatchSpec("diamond",
      Seq(PathPattern(Some("p"), Some(SearchPrefix.AllShortest),
        PathMode.Walk, Seq(
          VertexPattern(Some("a"), Some("N"), where = Some("a.id = 0")),
          EdgePattern(Some("e"), Some("E"), EdgeDirection.Right,
            Some(Quantifier(1, None))),
          VertexPattern(Some("b"), Some("N"))))),
      columns = Seq(ColumnSpec("element_id(p)", Some("path")))),
      dpg, TableResolver.catalog)
    val paths = df.collect().toSeq.map(_.getSeq[Long](0).toSeq).toSet
    assert(paths == Set(
      Seq(0L, 100L, 1L), Seq(0L, 101L, 2L),
      Seq(0L, 100L, 1L, 102L, 3L), Seq(0L, 101L, 2L, 103L, 3L)))
    assert(df.count() == 4) // both 0→3 shortest paths, one row each
  }

  test("declared edge-id column appears in path arrays — shortest_path.test:47-59 shape") {
    val s = init()
    val pgIds = PropertyGraph("pgids",
      Seq(VertexTable("student", "Person", Seq("id"), Seq("id", "name"))),
      Seq(EdgeTable("know", "Knows", Seq("src"), Seq("id"), "Person",
        Seq("dst"), Seq("id"), "Person", edgeIdCol = Some("createdate"))))
    val df = GraphTableCompiler.compile(s, MatchSpec("pgids",
      Seq(PathPattern(Some("p"), Some(SearchPrefix.AnyShortest),
        PathMode.Walk, Seq(
          VertexPattern(Some("a"), Some("Person"),
            where = Some("a.name = 'Daniel'")),
          EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Right,
            Some(Quantifier(1, Some(1)))),
          VertexPattern(Some("b"), Some("Person"))))),
      columns = Seq(ColumnSpec("element_id(p)", Some("p")),
        ColumnSpec("b.id", Some("bid")))),
      pgIds, TableResolver.catalog)
    val got = df.collect()
      .map(r => (r.getLong(1), r.getSeq[Long](0))).toMap
    // know rows: (0,1,cd=10),(0,2,cd=11),(0,3,cd=12) — edge ids are the
    // declared createdate values, vertices at even positions
    assert(got(1L) == Seq(0L, 10L, 1L))
    assert(got(2L) == Seq(0L, 11L, 2L))
    assert(got(3L) == Seq(0L, 12L, 3L))
  }

  test("bare element refs return row structs — basic_match.test:309-323") {
    val df = matchDF(MatchSpec("pg",
      Seq(PathPattern(None, None, PathMode.Walk, Seq(
        VertexPattern(Some("a"), Some("Person")),
        EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Right),
        VertexPattern(Some("b"), Some("Person"))))),
      where = Some("a.name = 'Daniel'"),
      columns = Seq(ColumnSpec("a"), ColumnSpec("k"), ColumnSpec("b"))))
    assert(df.columns.toSeq == Seq("a", "k", "b"))
    val rows = df.collect().map { r =>
      val a = r.getStruct(0); val k = r.getStruct(1); val b = r.getStruct(2)
      (a.getLong(0), a.getString(1), k.getLong(0), k.getLong(1),
        k.getLong(2), b.getString(1))
    }.sortBy(_._5)
    // golden rows for Daniel (basic_match.test:313-315)
    assert(rows.toSeq == Seq(
      (0L, "Daniel", 0L, 1L, 10L, "Tavneet"),
      (0L, "Daniel", 0L, 2L, 11L, "Gabor"),
      (0L, "Daniel", 0L, 3L, 12L, "Peter")))
  }

  test("multi-segment named path concatenates segments — match.cpp:573-616") {
    // fixed hop + quantified hop in ONE named path: the fixed hop
    // contributes [a, e, b], the kernel path loses its duplicated head
    val df = matchDF(MatchSpec("pg",
      Seq(PathPattern(Some("p"), Some(SearchPrefix.AnyShortest),
        PathMode.Walk, Seq(
          VertexPattern(Some("a"), Some("Person"),
            where = Some("a.name = 'Daniel'")),
          EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Right),
          VertexPattern(Some("b"), Some("Person")),
          EdgePattern(Some("k2"), Some("Knows"), EdgeDirection.Right,
            Some(Quantifier(1, Some(2)))),
          VertexPattern(Some("c"), Some("Person"))))),
      columns = Seq(ColumnSpec("b.id", Some("bid")),
        ColumnSpec("c.id", Some("cid")),
        ColumnSpec("path_length(p)", Some("plen")),
        ColumnSpec("vertices(p)", Some("vp")))))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getSeq[Long](3).mkString(","))).toSet
    assert(got == Set(
      (1L, 2L, 2L, "0,1,2"), (1L, 3L, 2L, "0,1,3"), (1L, 0L, 3L, "0,1,3,0"),
      (2L, 3L, 2L, "0,2,3"), (2L, 0L, 3L, "0,2,3,0"),
      (3L, 0L, 2L, "0,3,0"), (3L, 1L, 3L, "0,3,0,1"),
      (3L, 2L, 3L, "0,3,0,2")))
  }

  test("multi-segment element_id carries declared edge ids across segments") {
    val s = init()
    val pgIds = PropertyGraph("pgids2",
      Seq(VertexTable("student", "Person", Seq("id"), Seq("id", "name"))),
      Seq(EdgeTable("know", "Knows", Seq("src"), Seq("id"), "Person",
        Seq("dst"), Seq("id"), "Person", edgeIdCol = Some("createdate"))))
    val df = GraphTableCompiler.compile(s, MatchSpec("pgids2",
      Seq(PathPattern(Some("p"), Some(SearchPrefix.AnyShortest),
        PathMode.Walk, Seq(
          VertexPattern(Some("a"), Some("Person"),
            where = Some("a.name = 'Daniel'")),
          EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Right),
          VertexPattern(Some("b"), Some("Person")),
          EdgePattern(Some("k2"), Some("Knows"), EdgeDirection.Right,
            Some(Quantifier(1, Some(2)))),
          VertexPattern(Some("c"), Some("Person"))))),
      columns = Seq(ColumnSpec("b.id", Some("bid")),
        ColumnSpec("c.id", Some("cid")),
        ColumnSpec("element_id(p)", Some("path")))),
      pgIds, TableResolver.catalog)
    val got = df.collect().map(r => ((r.getLong(0), r.getLong(1)),
      r.getSeq[Long](2).mkString(","))).toMap
    // interleaved [v,e,v,…] with createdate edge ids, fixed+kernel segments
    assert(got == Map(
      (1L, 2L) -> "0,10,1,14,2", (1L, 3L) -> "0,10,1,15,3",
      (1L, 0L) -> "0,10,1,15,3,13,0",
      (2L, 3L) -> "0,11,2,16,3", (2L, 0L) -> "0,11,2,16,3,13,0",
      (3L, 0L) -> "0,12,3,13,0", (3L, 1L) -> "0,12,3,13,0,10,1",
      (3L, 2L) -> "0,12,3,13,0,11,2"))
  }

  test("label-less vertices resolve from the adjacent edge's endpoints") {
    val df = matchDF(MatchSpec("pg",
      Seq(PathPattern(None, None, PathMode.Walk, Seq(
        VertexPattern(Some("a"), None),
        EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Right),
        VertexPattern(Some("b"), None)))),
      where = Some("a.name = 'Daniel'"),
      columns = Seq(ColumnSpec("b.name", Some("b_name")))))
    assert(names(df).flatten == Seq("Gabor", "Peter", "Tavneet"))
  }

  test("fully bare pattern resolves when the graph has one edge table") {
    val s = init()
    val pg1 = PropertyGraph("pg1e",
      Seq(VertexTable("student", "Person", Seq("id"), Seq("id", "name"))),
      Seq(EdgeTable("know", "Knows", Seq("src"), Seq("id"), "Person",
        Seq("dst"), Seq("id"), "Person")))
    val df = GraphTableCompiler.compile(s, MatchSpec("pg1e",
      Seq(PathPattern(None, None, PathMode.Walk, Seq(
        VertexPattern(Some("a"), None),
        EdgePattern(Some("k"), None, EdgeDirection.Right),
        VertexPattern(Some("b"), None)))),
      columns = Seq(ColumnSpec("a.id", Some("aid")),
        ColumnSpec("b.id", Some("bid")))),
      pg1, TableResolver.catalog)
    assert(df.count() == 8)
  }

  test("SHORTEST k over a multi-hop ALL-FIXED pattern ranks whole paths " +
      "(§8 refusal closed — hidden/explicit path var route)") {
    // know 2-hop walks: 11 total, only (a=0, b=3) has two (via 1 and
    // via 2); SHORTEST 1 must keep the lexicographically-least (via 1)
    val df = matchDF(MatchSpec("pg", Seq(PathPattern(Some("p"),
      Some(SearchPrefix.ShortestK(1)), PathMode.Walk, Seq(
        VertexPattern(Some("a"), Some("Person")),
        EdgePattern(Some("k1"), Some("Knows"), EdgeDirection.Right),
        VertexPattern(Some("m"), Some("Person")),
        EdgePattern(Some("k2"), Some("Knows"), EdgeDirection.Right),
        VertexPattern(Some("b"), Some("Person"))))),
      columns = Seq(ColumnSpec("a.id", Some("aid")),
        ColumnSpec("m.id", Some("mid")), ColumnSpec("b.id", Some("bid")))))
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 10, s"got ${rows.length} rows")
    assert(rows.count { case (a, _, b) => a == 0L && b == 3L } == 1)
    assert(rows.contains((0L, 1L, 3L)) && !rows.contains((0L, 2L, 3L)))
    // and WITHOUT a path variable the hidden-path route gives the same
    // result set (the old loud error)
    val hidden = matchDF(MatchSpec("pg", Seq(PathPattern(None,
      Some(SearchPrefix.ShortestK(1)), PathMode.Walk, Seq(
        VertexPattern(Some("a"), Some("Person")),
        EdgePattern(Some("k1"), Some("Knows"), EdgeDirection.Right),
        VertexPattern(Some("m"), Some("Person")),
        EdgePattern(Some("k2"), Some("Knows"), EdgeDirection.Right),
        VertexPattern(Some("b"), Some("Person"))))),
      columns = Seq(ColumnSpec("a.id", Some("aid")),
        ColumnSpec("m.id", Some("mid")), ColumnSpec("b.id", Some("bid")))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hidden.toSet == rows.toSet)
  }

  test("ambiguous label-less edge still raises") {
    val e = intercept[GraphAnalysisException] {
      matchDF(MatchSpec("pg", Seq(PathPattern(None, None, PathMode.Walk,
        Seq(VertexPattern(Some("a"), Some("Person")),
          EdgePattern(Some("k"), None, EdgeDirection.Right),
          VertexPattern(Some("b"), Some("Person")))))))
    }
    assert(e.msg.contains("needs a label"))
  }

  /** The know fixture's dense edge ids: rank by (src, dst, createdate) —
    * the compiler's withDenseEid ordering for this table. */
  private def knowDenseIds: Map[(Long, Long), Long] =
    Seq((0L, 1L, 10L), (0L, 2L, 11L), (0L, 3L, 12L), (3L, 0L, 13L),
      (1L, 2L, 14L), (1L, 3L, 15L), (2L, 3L, 16L), (4L, 3L, 17L))
      .sortBy(e => (e._1, e._2, e._3)).zipWithIndex
      .map { case ((s, d, _), i) => (s, d) -> i.toLong }.toMap

  test("Left-direction eids identify the STORED edge in all segments") {
    // (a)<-[k]-(m)<-[k2]-{1,1}(b): traversal follows reversed edges, so a
    // combined path [v0, e0, v1, e1, v2] rides stored edges (v1→v0),
    // (v2→v1) — every eid must be the dense id of the stored edge
    // (reference paths carry physical rowids, shortest_path.cpp:212-217)
    // regardless of whether its segment was a fixed join or the kernel
    val s = init()
    val df = matchDF(MatchSpec("pg",
      Seq(PathPattern(Some("p"), Some(SearchPrefix.AnyShortest),
        PathMode.Walk, Seq(
          VertexPattern(Some("a"), Some("Person"),
            where = Some("a.id = 3")),
          EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Left),
          VertexPattern(Some("m"), Some("Person")),
          EdgePattern(Some("k2"), Some("Knows"), EdgeDirection.Left,
            Some(Quantifier(1, Some(1)))),
          VertexPattern(Some("b"), Some("Person"))))),
      columns = Seq(ColumnSpec("element_id(p)", Some("path")))))
    val rows = df.collect().map(_.getSeq[Long](0))
    assert(rows.nonEmpty)
    val ids = knowDenseIds
    rows.foreach { p =>
      var i = 0
      while (i + 2 < p.length) {
        // stored orientation for a Left hop: (v_{i+2} → v_i)
        assert(p(i + 1) == ids((p(i + 2), p(i))),
          s"eid mismatch at $i in ${p.mkString(",")}")
        i += 2
      }
    }
  }

  test("multigraph parallel edges keep DISTINCT eids in named paths") {
    // two (src,dst)-identical edges — the reference keeps them distinct
    // via physical edge rowids (shortest_path.cpp:212-217); synthetic
    // dense ids must too (an (src,dst) hash would collapse them)
    val s = init()
    import s.implicits._
    Seq((0L, 1L, 100L), (0L, 1L, 200L), (1L, 2L, 300L))
      .toDF("src", "dst", "createdate")
      .createOrReplaceTempView("know_multi")
    val mpg = PropertyGraph("pgm",
      vertexTables = Seq(
        VertexTable("student", "Person", Seq("id"), Seq("id", "name"))),
      edgeTables = Seq(
        EdgeTable("know_multi", "Knows", Seq("src"), Seq("id"), "Person",
          Seq("dst"), Seq("id"), "Person")))
    // fixed hop under SHORTEST 2: both parallel edges survive as
    // DISTINCT paths, each with its own eid (ANY SHORTEST would keep
    // only the lexicographically-least — whole-path ranking now applies
    // to fixed named paths too)
    val fixed = GraphTableCompiler.compile(s, MatchSpec("pgm",
      Seq(PathPattern(Some("p"), Some(SearchPrefix.ShortestK(2)),
        PathMode.Walk, Seq(
          VertexPattern(Some("a"), Some("Person"), where = Some("a.id = 0")),
          EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Right),
          VertexPattern(Some("b"), Some("Person"))))),
      columns = Seq(ColumnSpec("element_id(p)", Some("path")))),
      mpg, TableResolver.catalog)
    val eids = fixed.collect().map(_.getSeq[Long](0)).map(p => p(1)).sorted
    assert(eids.length == 2, s"expected 2 parallel-edge rows, got ${eids.length}")
    assert(eids.distinct.length == 2,
      s"parallel edges collapsed to one eid: ${eids.mkString(",")}")
    // sorted by (src, dst, createdate): (0,1,100)→0, (0,1,200)→1, (1,2,300)→2
    assert(eids.toSeq == Seq(0L, 1L))
    // ANY SHORTEST on the same fixed hop: pair-deduped to the min eid,
    // exactly like the quantified kernel below
    val anyFixed = GraphTableCompiler.compile(s, MatchSpec("pgm",
      Seq(PathPattern(Some("pa"), Some(SearchPrefix.AnyShortest),
        PathMode.Walk, Seq(
          VertexPattern(Some("a"), Some("Person"), where = Some("a.id = 0")),
          EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Right),
          VertexPattern(Some("b"), Some("Person"))))),
      columns = Seq(ColumnSpec("element_id(pa)", Some("path")))),
      mpg, TableResolver.catalog)
    val anyPaths = anyFixed.collect().map(_.getSeq[Long](0))
    assert(anyPaths.length == 1 && anyPaths.head == Seq(0L, 0L, 1L))
    // quantified kernel: ANY SHORTEST dedups the pair and picks the
    // lexicographically-minimal path — the LOWEST-ranked parallel edge
    val q = GraphTableCompiler.compile(s, MatchSpec("pgm",
      Seq(PathPattern(Some("p2"), Some(SearchPrefix.AnyShortest),
        PathMode.Walk, Seq(
          VertexPattern(Some("a"), Some("Person"), where = Some("a.id = 0")),
          EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Right,
            Some(Quantifier(1, Some(1)))),
          VertexPattern(Some("b"), Some("Person"))))),
      columns = Seq(ColumnSpec("element_id(p2)", Some("path")))),
      mpg, TableResolver.catalog)
    val qpaths = q.collect().map(_.getSeq[Long](0))
    assert(qpaths.length == 1 && qpaths.head == Seq(0L, 0L, 1L))
  }

  test("unregistered property raises — match.cpp:925-967") {
    val e = intercept[GraphAnalysisException] {
      matchDF(MatchSpec("pg", Seq(PathPattern(None, None, PathMode.Walk,
        Seq(VertexPattern(Some("a"), Some("Person")),
          EdgePattern(Some("k"), Some("Knows"), EdgeDirection.Right),
          VertexPattern(Some("b"), Some("Person"))))),
        columns = Seq(ColumnSpec("a.age", Some("age")))))
    }
    // qualified reference text, as the reference echoes it
    // (all_properties.test:62 "Property p2.name is never registered!")
    assert(e.msg.contains("Property a.age is never registered!"))
  }

  test("label suggestion errors — create_property_graph_info.hpp:146-212") {
    val e = intercept[GraphAnalysisException] {
      matchDF(MatchSpec("pg", Seq(PathPattern(None, None, PathMode.Walk,
        Seq(VertexPattern(Some("a"), Some("Persn")))))))
    }
    assert(e.msg.contains("Did you mean 'person'?"))
  }
}
