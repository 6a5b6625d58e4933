package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.model.TableResolver

/** Resident fixed-hop vertices and near-side identity fusion. A fixed
  * hop's far vertex over a small table with a unique single integral key
  * is read through in-plan lookups on the edge's key instead of a join,
  * and an edge stored in its source vertex's own table answers as that
  * vertex instead of self-joining it. Every case must return the rows of
  * the join plan (`spark.graft.local.maxRows = 0`, where the lookup cap
  * is 0): random vertex and edge tables with null keys, null and
  * dangling edge references, the cap at n − 1 and n, a duplicate key,
  * an `int` edge column referencing a `long` key, a sub-label, a string
  * key, and near-side fusion over a table with a duplicate key. Warm
  * queries in the benchmark's `one_hop` and `two_hop` shapes build with
  * no job and execute with exactly one, with no broadcast exchange and
  * no customer self-join. */
class FixedHopResidentSpec extends AnyFunSuite {
  import Fixture._

  private val sf = "/root/testdata/sf0.001"

  /** Vertex ids (plus a null-keyed row when `nullKey`, plus a repeat of
    * the first id when `dup`) and edges over ids 0..9, so references
    * outside the ids dangle. */
  private case class Graph(ids: Seq[Long], nullKey: Boolean, dup: Boolean,
      edges: Seq[(Option[Long], Option[Long])]) {
    def keys: Seq[Option[Long]] = ids.map(Option(_)) ++
      (if (nullKey) Seq(None) else Nil) ++
      (if (dup) Seq(Option(ids.head)) else Nil)
    /** Rows of the vertex table, which the lookup collects. */
    def n: Int = keys.length
  }

  private val graphs: Gen[Graph] = for {
    ids <- Gen.someOf(0L to 7L).map(_.toSeq.sorted).suchThat(_.length >= 2)
    nullKey <- Gen.oneOf(false, true)
    dup <- Gen.frequency(3 -> false, 1 -> true)
    m <- Gen.choose(3, 14)
    id = Gen.frequency(12 -> Gen.choose(0L, 9L).map(Option(_)),
      1 -> Gen.const(Option.empty[Long]))
    edges <- Gen.listOfN(m, Gen.zip(id, id))
  } yield Graph(ids, nullKey, dup, edges)

  private def check(cases: Int)(prop: Prop): Unit = {
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(cases).withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  /** Registers `g` as graph `fh`: vertex table `fv` (id, name, mask, nxt;
    * the mask bits are sub-labels `hot` and `cold`, `nxt` an `int`
    * column referencing the `long` id), edge table `fe` (src, dst,
    * weight), and `fs`, the same vertices keyed by the string `name`
    * with `fse` edges between names. */
  private def register(g: Graph): Graft = {
    val s = init()
    import s.implicits._
    g.keys.zipWithIndex.map { case (k, i) =>
      (k, s"n$i", (i % 3).toLong, Option((i + 2) % 10).filter(_ => i != 1))
    }.toDF("id", "name", "mask", "nxt").createOrReplaceTempView("fv")
    g.edges.zipWithIndex.map { case ((a, b), i) => (a, b, i * 1.5) }
      .toDF("src", "dst", "weight").createOrReplaceTempView("fe")
    g.keys.zipWithIndex.map { case (k, i) => (s"n$i", k) }
      .toDF("name", "id").createOrReplaceTempView("fs")
    g.edges.map { case (a, b) => (a.map(x => s"n$x"), b.map(x => s"n$x")) }
      .toDF("src", "dst").createOrReplaceTempView("fse")
    val gr = Graft(s, TableResolver.catalog)
    gr.sql("""CREATE OR REPLACE PROPERTY GRAPH fh
      VERTEX TABLES (fv LABEL V IN mask(hot, cold), fs LABEL S)
      EDGE TABLES (
        fe SOURCE KEY (src) REFERENCES fv (id)
          DESTINATION KEY (dst) REFERENCES fv (id) LABEL E,
        fv SOURCE KEY (id) REFERENCES fv (id)
          DESTINATION KEY (nxt) REFERENCES fv (id) LABEL N,
        fse SOURCE KEY (src) REFERENCES fs (name)
          DESTINATION KEY (dst) REFERENCES fs (name) LABEL SE)""")
    gr
  }

  /** The fixed-hop shapes: far vertices read through lookups (key only,
    * other columns, a WHERE, a sub-label, a chain of two), an `int` edge
    * column onto the `long` key with near-side fusion of the edge stored
    * in the vertex table, and a string key, which must stay a join. */
  private val templates = Seq(
    """fh MATCH (a:V)-[e:E]->(b:V) COLUMNS (a.id AS s, b.id AS d)""",
    """fh MATCH (a:V)-[e:E]->(b:V WHERE b.mask < 2)
       COLUMNS (a.name AS s, b.name AS d, e.weight AS w)""",
    """fh MATCH (a:V)-[e:E]->(b:hot)
       WHERE a.id <> b.id COLUMNS (a.id AS s, b.name AS d, b.mask AS m)""",
    """fh MATCH (a:V)-[e:E]->(b:V)-[f:E]->(c:V)
       COLUMNS (a.id AS s, b.name AS m, c.id AS d, c.nxt AS x)""",
    """fh MATCH (a:V)-[n:N]->(b:V) COLUMNS (a.id AS s, a.nxt AS x, b.*)""",
    """fh MATCH (a:V)-[e:E]->(b:V)-[n:N]->(c:V WHERE mask >= 1)
       COLUMNS (a.id AS s, b.id AS m, n.name AS nn, c.name AS d)""",
    """fh MATCH (a:S)-[e:SE]->(b:S) COLUMNS (a.id AS s, b.name AS d)""")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|")).sorted

  /** The rows of `q` at `gate`. */
  private def at(gr: Graft, q: String, gate: Long): Seq[String] =
    withGate(spark, gate)(rows(gr.graphTable(q)))

  /** Vertex aliases still joined as frames in `df`'s analyzed plan. */
  private def joined(df: DataFrame): Set[String] =
    df.queryExecution.analyzed.collect {
      case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        s.alias
    }.toSet

  test("resident fixed-hop vertices return the join plan's rows at the " +
      "cap and one under it: null keys, null and dangling references, " +
      "duplicate keys, int onto long, sub-labels, string keys") {
    check(8)(Prop.forAll(graphs) { g =>
      val gr = register(g)
      Prop.all(templates.map { q =>
        val want = at(gr, q, 0L)
        Seq(g.n - 1L, g.n.toLong).map { gate =>
          val got = at(gr, q, gate)
          (got == want) :| s"gate $gate: $q: ${got.take(4)} vs ${want.take(4)}"
        }.reduce(_ && _)
      }: _*)
    })
  }

  test("a resident vertex needs unique keys under the cap; a duplicate " +
      "key keeps the join, its rows multiplied") {
    val g = Graph(Seq(0L, 1L, 2L, 3L), nullKey = true, dup = false,
      Seq((Some(0L), Some(1L)), (Some(1L), Some(2L)), (Some(2L), Some(0L)),
        (Some(3L), None), (None, Some(1L)), (Some(1L), Some(9L))))
    val q = templates.head
    val gr = register(g)
    assert(!withGate(spark, g.n.toLong)(joined(gr.graphTable(q)))("b"))
    assert(withGate(spark, g.n - 1L)(joined(gr.graphTable(q)))("b"))
    assert(at(gr, q, g.n.toLong).count(_ == "2|0") == 1)
    val grDup = register(g.copy(dup = true))
    val dupRows = withGate(spark, 10L) {
      val df = grDup.graphTable(q)
      assert(joined(df)("b"), "a duplicate key must keep the join")
      rows(df)
    }
    assert(dupRows == at(grDup, q, 0L))
    // the edge 2 -> 0 reaches both rows of the duplicated id 0
    assert(dupRows.count(_ == "2|0") == 2, dupRows)
  }

  test("near-side fusion skips the self-join over a unique key and keeps " +
      "it over a duplicate one") {
    val g = Graph(Seq(0L, 1L, 2L, 3L, 4L), nullKey = true, dup = false,
      Seq((Some(0L), Some(1L))))
    val q = templates(4)
    def edgeAliases(df: DataFrame): Boolean = joined(df)("n")
    val gr = register(g)
    Seq(0L, 10L).foreach { gate =>
      assert(!withGate(spark, gate)(edgeAliases(gr.graphTable(q))),
        s"gate $gate: the N edge self-joined a unique key")
    }
    val grDup = register(g.copy(dup = true))
    Seq(0L, 10L).foreach { gate =>
      val df = withGate(spark, gate)(grDup.graphTable(q))
      assert(edgeAliases(df), s"gate $gate: fused over a duplicate key")
    }
    // duplicated id 0: both `a` rows join the edge row 0 -> 2
    val got = at(grDup, q, 10L)
    assert(got == at(grDup, q, 0L))
    assert(got.count(_.startsWith("0|")) == 2, got)
  }

  test("exchange and job budget: warm one-hop and two-hop trade queries " +
      "build with no job, execute with one, broadcast nothing and never " +
      "self-join customer") {
    val s = init()
    val gr = TradeGraph.graft(s, sf)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def oneHop(reg: Int, bal: Double): String =
      s"""trade MATCH (c:Customer)-[e:InNation]->(n:Nation)
          WHERE c.c_acctbal > $bal AND n.n_regionkey = $reg
          COLUMNS (c.c_custkey AS custkey, n.n_name AS nation)"""
    def twoHop(region: String, seg: String): String =
      s"""trade MATCH (c:Customer)-[e1:InNation]->(n:Nation)
            -[e2:InRegion]->(r:Region)
          WHERE r.r_name = '$region' AND c.c_mktsegment = '$seg'
          COLUMNS (c.c_custkey AS custkey, n.n_name AS nation)"""
    // warm: the lookups, the uniqueness verdicts and the scans' listings
    rows(gr.graphTable(oneHop(1, 1000.0)))
    rows(gr.graphTable(twoHop("ASIA", "BUILDING")))
    s.sparkContext.addSparkListener(listener)
    try {
      def counted[T](body: => T): (T, Int) = {
        Thread.sleep(200)
        val j0 = jobs.get()
        val out = body
        // listener events are posted asynchronously
        Thread.sleep(300)
        (out, jobs.get() - j0)
      }
      // fresh constants: new plans, same base tables
      Seq(oneHop(3, 2500.5), twoHop("EUROPE", "MACHINERY")).foreach { q =>
        val (df, built) = counted(gr.graphTable(q))
        val (got, ran) = counted(rows(df))
        assert(built == 0, s"building ran $built jobs: $q")
        assert(ran == 1, s"executing ran $ran jobs: $q")
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastExchange"), plan)
        assert("FileScan parquet [^\\n]*customer".r
          .findAllIn(plan).length == 1, plan)
        assert(got.nonEmpty && got == withConf(s)(ForceDist)(
          rows(gr.graphTable(q))), q)
      }
    } finally s.sparkContext.removeSparkListener(listener)
  }

  test("q7's chain of residents probes the nation and the region map once " +
      "per customer row each, over one customer scan with no exchange") {
    val s = init()
    val q7 = SparkEntry.queries("q7_match_2hop")
    val df = q7(s, sf)
    val plan = df.queryExecution.executedPlan
    val lookups = plan.collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case l: graft.functions.LongMapLookup => l })
    assert(lookups.map(_.columns.map(_._1)).sortBy(_.head) ==
      Seq(Seq("n_name", "n_regionkey"), Seq("r_name")), plan)
    assert(lookups.map(l => System.identityHashCode(l.table)).distinct
      .length == 2, plan)
    assert("FileScan parquet [^\\n]*customer".r
      .findAllIn(plan.toString).length == 1, plan)
    assert(!plan.toString.contains("Exchange"), plan)
    assert(rows(df) == withConf(s)(ForceDist)(rows(q7(s, sf))))
  }

  test("one resident per table and key: the three_hop and sublabel shapes " +
      "share one part entry, a wider read replacing the narrower one") {
    val s = init()
    val gr = TradeGraph.graft(s, sf)
    val threeHop = """trade MATCH (c:Customer)-[pl:Placed]->(o:Order)
        -[ct:Contains]->(p:Part)
      WHERE c.c_custkey BETWEEN 10 AND 160 AND o.o_totalprice > 1000.0
      COLUMNS (c.c_custkey AS custkey, o.o_orderkey AS orderkey,
               p.p_partkey AS partkey)"""
    val sublabel = """trade MATCH (o:Order)-[ct:OddLine]->(p:OddSizePart)
      WHERE o.o_totalprice > 100000.0
      COLUMNS (o.o_orderkey AS orderkey, p.p_partkey AS partkey,
               p.p_size AS size)"""
    val memo = graft.compiler.ResidentTable.memo
    memo.clear()
    val built = memo.builds
    Seq(threeHop, sublabel, threeHop, sublabel).foreach { q =>
      val got = rows(gr.graphTable(q))
      assert(got.nonEmpty && got == withConf(s)(ForceDist)(
        rows(gr.graphTable(q))), q)
    }
    assert(memo.size == 1, s"${memo.size} resident entries")
    // the narrow shape, run first, was widened once; nothing since built
    assert(memo.builds - built == 2, s"${memo.builds - built} builds")
  }
}
