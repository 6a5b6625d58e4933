package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{GraphAnalysisException, TableResolver}

/** Driver-resident path endpoints: a quantified path's endpoint whose
  * vertex table has a unique single integral key, no sub-label and no
  * property read but that key binds the table's key set on the driver
  * instead of joining the table back. Every case must return the rows of
  * the join plan (`spark.graft.local.maxRows = 0`, where the key-set cap
  * is 0 and every endpoint joins): random vertex tables over ids 0..7
  * with dangling edge endpoints and a null key, the key set exactly at
  * the cap and one over it, a duplicate key, and the shapes that must
  * stay a join. A warm resident query runs no job to build and at most
  * one to execute. */
class ResidentEndpointSpec extends AnyFunSuite {
  import Fixture._

  /** A vertex table (ids, plus one null-keyed row when `nullKey`) and
    * edges over ids 0..9, so endpoints outside the ids dangle. */
  private case class Graph(ids: Seq[Long], nullKey: Boolean,
      edges: Seq[(Option[Long], Option[Long])]) {
    def n: Int = ids.length
  }

  private val graphs: Gen[Graph] = for {
    ids <- Gen.someOf(0L to 7L).map(_.toSeq.sorted).suchThat(_.length >= 2)
    nullKey <- Gen.oneOf(false, true)
    m <- Gen.choose(3, 14)
    id = Gen.frequency(12 -> Gen.choose(0L, 9L).map(Option(_)),
      1 -> Gen.const(Option.empty[Long]))
    edges <- Gen.listOfN(m, Gen.zip(id, id))
  } yield Graph(ids, nullKey, edges)

  private def check(cases: Int)(prop: Prop): Unit = {
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(cases).withInitialSeed(Seed(20261018L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  /** Registers `g` as graph `rg`: vertex table `rv` (id, name, mask; the
    * mask bits are sub-labels `hot` and `cold`), edge table `re`. */
  private def register(g: Graph, dup: Boolean = false): Graft = {
    val s = init()
    import s.implicits._
    val keys = g.ids.map(Option(_)) ++
      (if (g.nullKey) Seq(None) else Nil) ++
      (if (dup) Seq(Option(g.ids.head)) else Nil)
    keys.zipWithIndex.map { case (k, i) => (k, s"n$i", (i % 3).toLong) }
      .toDF("id", "name", "mask").createOrReplaceTempView("rv")
    g.edges.toDF("src", "dst").createOrReplaceTempView("re")
    val gr = Graft(s, TableResolver.catalog)
    gr.sql("""CREATE OR REPLACE PROPERTY GRAPH rg
      VERTEX TABLES (rv LABEL V IN mask(hot, cold))
      EDGE TABLES (re SOURCE KEY (src) REFERENCES rv (id)
        DESTINATION KEY (dst) REFERENCES rv (id) LABEL E)""")
    gr
  }

  /** The path templates: every kernel route the compiler lowers, with
    * key predicates on one or both ends. */
  private def templates(g: Graph): Seq[String] = {
    val (s1, ss, ts) = (g.ids.head, g.ids.take(2).mkString(", "),
      g.ids.takeRight(3).mkString(", "))
    Seq(
      s"""rg MATCH p = ANY SHORTEST (a:V WHERE a.id IN ($ss))-[e:E]->{1,2}(b:V)
          COLUMNS (a.id AS src, b.id AS dst, path_length(p) AS d)""",
      s"""rg MATCH p = ANY SHORTEST (a:V WHERE a.id = $s1)-[e:E]->{1,3}
          (b:V WHERE b.id IN ($ts))
          COLUMNS (a.id AS src, b.id AS dst, path_length(p) AS d)""",
      s"""rg MATCH p = SHORTEST 2 (a:V WHERE a.id = $s1)-[e:E]->{1,2}
          (b:V WHERE b.id IN ($ts))
          COLUMNS (a.id, b.id, path_length(p) AS d, vertices(p) AS vs)""",
      s"""rg MATCH (a:V WHERE a.id IN ($ss))-[e:E]->{1,3}(b:V WHERE b.id IN ($ts))
          COLUMNS (a.id AS src, b.id AS dst)""",
      """rg MATCH p = ALL SHORTEST (a:V)-[e:E]->{0,2}(b:V)
          COLUMNS (a.id AS src, b.id AS dst, element_id(p) AS el)""",
      s"""rg MATCH p = TRAIL (a:V WHERE a.id IN ($ss))-[e:E]->{1,3}(b:V)
          COLUMNS (a.id AS src, b.id AS dst, edges(p) AS es)""",
      s"""rg MATCH (a:V WHERE a.id IN ($ss))-[e:E]->{1,2}(b:V)-[f:E]->(c:V)
          WHERE b.id <> c.id
          COLUMNS (a.id AS src, b.id AS mid, c.id AS dst)""")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  /** Path endpoints `a` and `b` joined back as vertex frames: a joined
    * endpoint is a frame aliased by its variable, a resident one is not.
    * Read only where the kernels run locally, whose results are local
    * relations (a distributed kernel's lazy plan may alias a target
    * frame `b` too). */
  private def joinedEnds(df: DataFrame): Int =
    df.queryExecution.analyzed.collect {
      case s: SubqueryAlias if s.alias == "a" || s.alias == "b" => s
    }.length

  /** Rows and joined endpoints at the default gate, where small key
    * sets are resident, and the rows at gate 0, where every endpoint
    * joins. */
  private def both(gr: Graft, q: String): (Seq[String], Int, Seq[String]) = {
    val df = gr.graphTable(q)
    (rows(df), joinedEnds(df),
      withConf(spark)(ForceDist)(rows(gr.graphTable(q))))
  }

  test("resident endpoints return the join plan's rows: dangling edge " +
      "endpoints, null keys and null edge endpoints, every kernel route") {
    check(6)(Prop.forAll(graphs) { g =>
      val gr = register(g)
      Prop.all(templates(g).map { q =>
        val (r, joined, d) = both(gr, q)
        (r == d && joined == 0) :|
          s"$q: ${r.take(5)} vs ${d.take(5)}, $joined joined"
      }: _*)
    })
  }

  test("key set exactly at the cap is resident, one over it joins; " +
      "the rows never change") {
    // at most n - 1 edges: the kernels stay local at both gates
    check(4)(Prop.forAll(graphs.map(g =>
        g.copy(nullKey = false, edges = g.edges.take(g.n - 1)))) { g =>
      val gr = register(g)
      val q = templates(g).head
      val want = withConf(spark)(ForceDist)(rows(gr.graphTable(q)))
      Prop.all(Seq(g.n.toLong -> 0, g.n - 1L -> 2).map { case (gate, ends) =>
        withGate(spark, gate) {
          val df = gr.graphTable(q)
          (rows(df) == want && joinedEnds(df) == ends) :|
            s"gate $gate: ${joinedEnds(df)} joined"
        }
      }: _*)
    })
  }

  test("a duplicate key still raises the non-unique-vertices error") {
    val gr = register(Graph(Seq(0L, 1L, 2L), nullKey = false,
      Seq((Some(0L), Some(1L)), (Some(1L), Some(2L)))), dup = true)
    Seq(None, Some(ForceDist)).foreach { conf =>
      val e = intercept[GraphAnalysisException](withConf(spark)(conf.toSeq: _*)(
        gr.graphTable(templates(Graph(Seq(0L, 1L, 2L), false, Nil)).head)))
      assert(e.getMessage.contains(
        "Non-existent/non-unique vertices detected"), e.getMessage)
    }
  }

  test("an endpoint whose WHERE or COLUMNS reads a non-key property, or " +
      "which carries a sub-label, stays a join") {
    val g = Graph(Seq(0L, 1L, 2L, 3L, 5L), nullKey = true,
      Seq((Some(0L), Some(1L)), (Some(1L), Some(2L)), (Some(2L), Some(3L)),
        (Some(3L), Some(0L)), (Some(1L), Some(5L)), (Some(5L), Some(7L))))
    val gr = register(g)
    // each query keeps exactly one of its two endpoints joined
    Seq(
      """rg MATCH p = ANY SHORTEST (a:V)-[e:E]->{1,2}(b:V)
         COLUMNS (a.name AS src, b.id AS dst)""",
      """rg MATCH p = ANY SHORTEST (a:V)-[e:E]->{1,2}(b:V WHERE b.name <> 'n1')
         COLUMNS (a.id AS src, b.id AS dst)""",
      """rg MATCH p = ANY SHORTEST (a:V)-[e:E]->{1,2}(b:V)
         WHERE a.mask > 0 COLUMNS (a.id AS src, b.id AS dst)""",
      """rg MATCH p = ANY SHORTEST (a:V)-[e:E]->{1,2}(b:V)
         COLUMNS (a.id AS src, b)""",
      """rg MATCH p = ANY SHORTEST (a:V)-[e:E]->{1,2}(b:V)
         COLUMNS (a.id AS src, b.*)""",
      """rg MATCH p = ANY SHORTEST (a:hot)-[e:E]->{1,2}(b:V)
         COLUMNS (a.id AS src, b.id AS dst)""",
      """rg MATCH p = ANY SHORTEST (a:V)-[e:E]->{1,2}(b:cold)
         COLUMNS (a.id AS src, b.id AS dst)"""
    ).foreach { q =>
      val (r, joined, d) = both(gr, q)
      assert(r == d, q)
      assert(joined == 1, s"$q: $joined joined")
    }
  }

  test("job budget: a warm resident ANY SHORTEST builds with no job and " +
      "executes with at most one") {
    val g = Graph((0L to 7L).toSeq, nullKey = false,
      (0L to 7L).flatMap(i => Seq((Some(i), Some((i + 1) % 8)),
        (Some(i), Some((i + 3) % 8)))))
    val gr = register(g)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def q(src: Seq[Int], dst: Seq[Int]): String =
      s"""rg MATCH p = ANY SHORTEST (a:V WHERE a.id IN (${src.mkString(", ")}))
            -[e:E]->{1,2}(b:V WHERE b.id IN (${dst.mkString(", ")}))
          COLUMNS (a.id AS src, b.id AS dst, path_length(p) AS d)"""
    // warm: the key set and the edge collect land in the gate's memo
    rows(gr.graphTable(q(Seq(0, 1), Seq(2, 3))))
    spark.sparkContext.addSparkListener(listener)
    try {
      def counted[T](body: => T): (T, Int) = {
        Thread.sleep(200)
        val j0 = jobs.get()
        val out = body
        // listener events are posted asynchronously
        Thread.sleep(300)
        (out, jobs.get() - j0)
      }
      // fresh constants: the seed and target sets are new plans
      val (df, built) = counted(gr.graphTable(q(Seq(4, 5), Seq(1, 6))))
      val (got, ran) = counted(rows(df))
      assert(built == 0, s"building ran $built jobs")
      assert(ran <= 1, s"executing ran $ran jobs")
      assert(got == withConf(spark)(ForceDist)(
        rows(gr.graphTable(q(Seq(4, 5), Seq(1, 6))))))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
