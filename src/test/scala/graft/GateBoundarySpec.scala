package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{Algorithms, PathFinder}
import graft.ops.Sampling
import graft.pgq.PathMode

/** Property checks at the local/distributed gate boundary: random small
  * edge multisets (self-loops, parallel edges and null endpoints
  * included) with n cleaned rows, gated at g ∈ {0, n−1, n, n+1}. The
  * strategy gate must hand a local kernel the COMPLETE cleaned multiset
  * exactly when n ≤ g; BFS, WCC, SCC and earliestArrivalFromMin must
  * give the brute-force answer on both sides of g = n, null seed, target
  * and vertex ids dropped on both; and the path kernels (with and
  * without declared eids), cheapestRoutes, the three PageRanks, LCC and
  * both label propagations must return the same rows at g = n − 1
  * (distributed) and g = n (local), n the rows of the frame each kernel
  * gates, path arrays included — which pins the local CSR's slot order
  * to the distributed dense-eid and min-struct tie-breaks. MinHash LSH
  * (documents) must also give the same rows on both sides of g = n,
  * co-purchase on both sides of its cap of 8 × g memberships and at
  * g = n, and MinHash past its 65536-document cap must take the bucket
  * join at any gate. k-truss, deterministic walks, earliest arrival from
  * a given start and exact quantiles must give the same rows at g = n − 1
  * and g = n, null ids dropped and an empty input empty, and all but the
  * walks the brute-force answer. The compiler's array id translation,
  * whose join form runs only past the 65536-row local-map cap, must
  * equal its local-map form on random arrays and bijections. IVF build,
  * search and one-shot top-k must give the same rows and column types at
  * g = n − 1 and g = n, n the corpus vectors with an id. */
class GateBoundarySpec extends AnyFunSuite {
  import Fixture._

  /** Vertices 0..5; at least 6 cleaned edges, so the distinct vertex ids
    * never outnumber them and g = n admits every local branch. */
  private val vertices = 0L to 5L

  private case class Graph(cleaned: Seq[(Long, Long)], nulls: Int) {
    def n: Int = cleaned.length
    def rows: Seq[(Option[Long], Option[Long])] =
      cleaned.map { case (a, b) => (Some(a), Some(b)) } ++
        Seq.tabulate(nulls)(i =>
          if (i % 2 == 0) (None, Some(i.toLong)) else (Some(i.toLong), None))
  }

  private val graphs: Gen[Graph] = for {
    n <- Gen.choose(6, 14)
    cleaned <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 5L)))
    nulls <- Gen.choose(0, 3)
  } yield Graph(cleaned, nulls)

  private def check(cases: Int)(prop: Prop): Unit = {
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(cases).withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  /** The (src, dst) columns of a collect, zipped and sorted. */
  private def pairs(c: PathFinder.Columns): Seq[(Long, Long)] =
    c.longs(0).zip(c.longs(1)).toSeq.sorted

  private def frame(g: Graph): DataFrame = {
    val s = init()
    import s.implicits._
    g.rows.toDF("src", "dst")
  }

  test("collectUnder returns the complete cleaned multiset iff n <= g") {
    check(25)(Prop.forAll(graphs) { g =>
      val edges = frame(g)
      val cleaned = edges.where(col("src").isNotNull && col("dst").isNotNull)
        .select(col("src").cast("long"), col("dst").cast("long"))
      Seq(0L, g.n - 1L, g.n.toLong, g.n + 1L).forall { cap =>
        val want = if (g.n <= cap) Some(g.cleaned.sorted) else None
        PathFinder.collectUnder(cleaned, cap).map(pairs) == want &&
          withGate(spark, cap)(PathFinder.localEdgePairs(edges))
            .map(pairs) == want
      }
    })
  }

  test("BFS and WCC at g = n - 1 (distributed) and g = n (local) equal " +
      "brute force") {
    check(6)(Prop.forAllNoShrink(graphs, seedSets, Gen.choose(1L, 4L)) {
      (g, seeds, depth) =>
        val s = init()
        import s.implicits._
        val edges = frame(g)
        val bfsWant = bruteBfs(g.cleaned, seeds, depth)
        val wccWant = bruteWcc(g.cleaned)
        Seq(g.n - 1L, g.n.toLong).forall { gate =>
          withGate(spark, gate) {
            val bfs = PathFinder.bfsDistances(s, edges, seeds.toDF("id"),
                Some(depth))
              .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
              .toSeq.sorted
            val wcc = Algorithms.weaklyConnectedComponents(
                vertices.toDF("id"), edges)
              .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
            bfs == bfsWant && wcc == wccWant
          }
        }
    })
  }

  private val seedSets = Gen.nonEmptyListOf(Gen.choose(0L, 5L)).map(_.take(3))

  test("path kernels at g = n - 1 (distributed) and g = n (local) agree, " +
      "with and without declared eids") {
    check(4)(Prop.forAll(graphs, seedSets) { (g, seeds) =>
      val s = init()
      import s.implicits._
      val sd = seeds.toDF("id")
      Seq(frame(g), attributed(g).drop("w")).forall { edges =>
        agree(g.n) {
          Seq(PathFinder.shortestPaths(s, edges, sd, 0L, None),
            PathFinder.allShortestPaths(s, edges, sd, 0L, None),
            PathFinder.kShortestPaths(s, edges, sd, 1L, Some(3L),
              PathMode.Walk, 2),
            PathFinder.enumerateModePaths(s, edges, sd, 1L, Some(3L),
              PathMode.Trail))
        }
      }
    })
  }

  test("cheapestRoutes over parallel edges of different weight, fixed-" +
      "iteration PageRank and LCC at g = n - 1 and g = n agree") {
    check(4)(Prop.forAll(graphs, seedSets) { (g, seeds) =>
      val s = init()
      import s.implicits._
      val (sd, vs) = (seeds.toDF("id"), vertices.toDF("id"))
      // every edge twice: its later, parallel copy is the cheaper one
      val twice = g.copy(cleaned = g.cleaned ++ g.cleaned)
      agree(twice.n) {
        Seq(PathFinder.cheapestRoutes(s, attributed(twice).drop("eid"), sd),
          PathFinder.cheapestRoutes(s, attributed(twice), sd))
      } && {
        // with a null-dst row: a null endpoint never counts toward a degree
        // and never joins a domain
        val (edges, weighted) = (frame(g.copy(nulls = 3)),
          attributed(g.copy(nulls = 3)))
        // weighted LPA gates its summed undirected pairs, not the rows
        val pairs = g.cleaned.collect {
          case (a, b) if a != b => (a min b, a max b)
        }.distinct
        agree(g.n) {
          Seq(Algorithms.pageRank(vs, edges, fixedIter = Some(10)),
            Algorithms.localClusteringCoefficient(vs, edges),
            Algorithms.personalizedPageRank(vs, edges, sd, iters = 10),
            Algorithms.weightedPageRank(vs, weighted, iters = 10),
            Algorithms.labelPropagation(vs, edges))
        } && agree(pairs.length) {
          Seq(Algorithms.weightedLabelPropagation(vs, weighted))
        }
      }
    })
  }

  test("null seed, target and vertex ids at g = n - 1 (distributed) and " +
      "g = n (local) are dropped on both branches") {
    check(4)(Prop.forAll(graphs, seedSets) { (g, seeds) =>
      val s = init()
      import s.implicits._
      val edges = frame(g)
      def ids(xs: Seq[Long]): DataFrame =
        (xs.map(Option(_)) :+ Option.empty[Long]).toDF("id")
      val (sd, vs) = (ids(seeds), ids(vertices))
      val bfsWant = bruteBfs(g.cleaned, seeds, 2)
        .map { case (a, b, d) => Seq(a, b, d) }.sortBy(_.mkString(","))
      agree(g.n) {
        Seq(PathFinder.bfsDistances(s, edges, sd, Some(2L)),
          PathFinder.reachablePairs(s, edges, sd),
          PathFinder.shortestPaths(s, edges, sd, 0L, None),
          PathFinder.bfsDistances(s, edges, sd, Some(3L),
            Some(ids(Seq(1L, 3L)))),
          Algorithms.weaklyConnectedComponents(vs, edges),
          Algorithms.pageRank(vs, edges, fixedIter = Some(10)))
      } && Seq(g.n - 1L, g.n.toLong).forall(gate => withGate(spark, gate)(
        rows(PathFinder.bfsDistances(s, edges, sd, Some(2L)))) == bfsWant)
    })
  }

  test("GRAPH_TABLE path query over a vertex table with a null key: the " +
      "default gate gives the forced-distributed rows") {
    val s = init()
    import s.implicits._
    Seq((Option(0L), "x"), (Option(1L), "y"), (Option(2L), "z"),
      (Option.empty[Long], "w")).toDF("id", "name")
      .createOrReplaceTempView("gnv")
    Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 2L)).toDF("src", "dst")
      .createOrReplaceTempView("gne")
    val gr = Graft(s, graft.model.TableResolver.catalog)
    gr.sql("""CREATE OR REPLACE PROPERTY GRAPH gng
      VERTEX TABLES (gnv LABEL V)
      EDGE TABLES (gne SOURCE KEY (src) REFERENCES gnv (id)
        DESTINATION KEY (dst) REFERENCES gnv (id) LABEL E)""")
    // reading a.name keeps `a` a join, so its seeds carry the null key
    Seq("a.id", "a.name").foreach { src =>
      val q = s"""gng MATCH p = ANY SHORTEST (a:V)-[x:E]->{0,2}(b:V)
        COLUMNS ($src AS s, b.id AS d, path_length(p) AS n)"""
      val got = rows(gr.graphTable(q))
      assert(got.length == 9, got)
      assert(got == withConf(s)(ForceDist)(rows(gr.graphTable(q))), q)
    }
  }

  test("SCC and earliestArrivalFromMin at g = n - 1 (distributed) and " +
      "g = n (local) equal brute force") {
    check(6)(Prop.forAllNoShrink(graphs, seedSets, Gen.choose(1, 3)) {
      (g, seeds, hops) =>
        val s = init()
        import s.implicits._
        val edges = frame(g)
        // a timestamp per row, every ninth row's null
        val timed = g.rows.zipWithIndex.map { case ((a, b), i) =>
          (a, b, Option(i * 7L % 5L).filter(_ => i % 9 != 8))
        }
        val usable = timed.collect {
          case (Some(a), Some(b), Some(t)) => (a, b, t)
        }
        val sccWant = bruteScc(g.cleaned)
        val eaWant = bruteEarliest(usable, seeds, hops)
        Seq(g.n - 1L, g.n.toLong).forall(gate => withGate(spark, gate)(
          Algorithms.stronglyConnectedComponents(vertices.toDF("id"), edges)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap) ==
          sccWant) &&
        Seq(usable.length - 1L, usable.length.toLong).forall(gate =>
          withGate(spark, gate)(rows(Algorithms.earliestArrivalFromMin(
            timed.toDF("src", "dst", "ts"), seeds.toDF("id"), hops))) ==
            eaWant)
    })
  }

  test("harmonic and betweenness centrality and k-core at g = n - 1 " +
      "(distributed) and g = n (local) agree and equal brute force") {
    check(6)(Prop.forAllNoShrink(graphs, Gen.choose(1, 3)) { (g, k) =>
      val s = init()
      import s.implicits._
      val (edges, vs) = (frame(g), vertices.toDF("id"))
      def run = Seq(Algorithms.harmonicCentrality(vs, edges),
        Algorithms.betweennessCentrality(vs, edges),
        Algorithms.kCore(vs, edges, k))
      val want = Seq(bruteHarmonic(g.cleaned), bruteBetweenness(g.cleaned),
        bruteKCore(g.cleaned, k))
      agree(g.n)(run) && Seq(g.n - 1L, g.n.toLong).forall { gate =>
        withGate(spark, gate)(run.map(rows)).zip(want).forall {
          case (got, w) => got.length == w.size && got.forall { r =>
            w.get(r.head.asInstanceOf[Long]).exists(x =>
              x.zip(r.tail).forall {
                case (a: Double, b: Double) => math.abs(a - b) <= 1e-6
                case (a, b) => a == b
              })
          }
        }
      }
    })
  }

  test("k-truss, deterministic walks, earliest arrival from a given " +
      "start and exact quantiles at g = n - 1 (distributed) and g = n " +
      "(local) agree and equal brute force; null ids dropped, empty input " +
      "empty") {
    check(4)(Prop.forAllNoShrink(graphs, seedSets, Gen.choose(3, 4),
        Gen.choose(1, 3), Gen.choose(0L, 4L)) { (g0, seeds, k, hops, start) =>
      val s = init()
      import s.implicits._
      // the empty graph too: its kernels see no row on either branch
      Prop.all(Seq(g0, Graph(Nil, g0.nulls)).map { g =>
        val edges = frame(g)
        val starts = (seeds.map(Option(_)) :+ None).toDF("id")
        // a timestamp per row, every ninth row's null
        val timed = g.rows.zipWithIndex.map { case ((a, b), i) =>
          (a, b, Option(i * 7L % 5L).filter(_ => i % 9 != 8))
        }
        val usable = timed.collect {
          case (Some(a), Some(b), Some(t)) => (a, b, t)
        }
        // quantile values: the source ids scaled, null where it is null
        val values = g.rows.map(_._1.map(_ * 1.5 + 0.25))
        val probs = Seq(0.1, 0.5, 0.9, 1.0)
        def quantiles = Sampling.exactQuantiles(values.toDF("v"), "v", probs)
          .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
          .toSeq.sorted
        val kept = values.flatten.length
        def at[T](n: Int)(run: => T): Seq[T] =
          Seq(n - 1L, n.toLong).map(gate => withGate(spark, gate)(run))
        (agree(g.n)(Seq(Algorithms.kTruss(edges, k),
            Algorithms.deterministicWalks(starts, edges, 2, 3))) :|
          s"${g.n} edges: k-truss or walks differ") &&
        (at(g.n)(rows(Algorithms.kTruss(edges, k)))
          .forall(_ == bruteKTruss(g.cleaned, k)) :| "k-truss") &&
        (at(usable.length)(rows(Algorithms.earliestArrival(
            timed.toDF("src", "dst", "ts"), starts, start, hops)))
          .forall(_ == bruteEarliest(usable, seeds, hops, Some(start))) :|
          "earliest arrival") &&
        (at(kept)(quantiles).forall(_ == bruteQuantiles(values.flatten,
          probs)) :| "quantiles")
      }: _*)
    })
  }

  /** A random (`__from` → `__to`) bijection over ids 0..20 and rows of
    * `array<long>` id columns drawn from a small pool (so the join form
    * sees repeated arrays): null and empty arrays, null elements, mapped
    * ids in every slot (an odd, edge slot may equal some `__from`) and
    * ids absent from the map. */
  private val translations = for {
    n <- Gen.choose(0, 8)
    from <- Gen.pick(n, 0L to 20L)
    to <- Gen.pick(n, 100L to 140L)
    order <- Gen.long
    bij = from.toSeq.zip(new scala.util.Random(order).shuffle(to.toSeq))
    elem = Gen.frequency(1 -> Gen.const(None),
      4 -> Gen.oneOf(from.toSeq ++ Seq(50L)).map(Some(_)),
      2 -> Gen.choose(50L, 60L).map(Some(_)))
    arr = Gen.frequency(1 -> Gen.const(None), 1 -> Gen.const(Some(Nil)),
      6 -> Gen.choose(1, 7).flatMap(Gen.listOfN(_, elem)).map(Some(_)))
    pool <- Gen.choose(1, 5).flatMap(Gen.listOfN(_, arr))
    rows <- Gen.choose(1, 10).flatMap(Gen.listOfN(_, Gen.oneOf(pool)))
  } yield (bij, rows)

  test("array id translation: the join form equals the local-map form, " +
      "for all slots and for vertex slots only") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.compiler.GraphTableCompiler.{translateArrayJoin,
      translateLocal}
    check(12)(Prop.forAll(translations) { case (bij, arrays) =>
      val s = init()
      import s.implicits._
      val df = s.createDataFrame(
        s.sparkContext.parallelize(arrays.zipWithIndex.map { case (a, i) =>
          Row(i.toLong, a.map(_.map(_.map(Long.box).orNull)).orNull)
        }),
        StructType(Seq(StructField("row", LongType),
          StructField("ids", ArrayType(LongType)))))
      val m = bij.toDF("__from", "__to")
      Seq(false, true).forall { vertexSlotsOnly =>
        rows(translateArrayJoin(df, "ids", m, vertexSlotsOnly)) ==
          rows(translateLocal(df, "ids", bij.toMap, vertexSlotsOnly))
      }
    })
  }

  /** Documents (id, text): 3–10 random texts over a 12-word vocabulary,
    * each followed by 0–2 near copies (one word replaced or appended),
    * about one id in eight and one text in eight null. */
  private val corpora: Gen[Seq[(Option[Long], Option[String])]] = {
    val words = Gen.oneOf("ant bee cat dog elk fox gnu hen ibis jay kid lark"
      .split(' ').toSeq)
    def copyOf(t: Seq[String]): Gen[Seq[String]] = for {
      i <- Gen.choose(0, t.length - 1); w <- words
      append <- Gen.oneOf(true, false)
    } yield if (append) t :+ w else t.updated(i, w)
    val family = for {
      n <- Gen.choose(4, 9); base <- Gen.listOfN(n, words)
      k <- Gen.choose(0, 2); copies <- Gen.listOfN(k, copyOf(base))
    } yield base +: copies
    for {
      fs <- Gen.choose(3, 10).flatMap(Gen.listOfN(_, family))
      texts = fs.flatten
      nullId <- Gen.listOfN(texts.length, Gen.choose(0, 7).map(_ == 0))
      nullText <- Gen.listOfN(texts.length, Gen.choose(0, 7).map(_ == 0))
    } yield texts.indices.map(i => (Option(i * 3L + 1).filterNot(_ => nullId(i)),
      Option(texts(i).mkString(" ")).filterNot(_ => nullText(i))))
  }

  /** MinHash pairs of `docs` at each gate: rows, column types, and
    * whether the call left a tracked cache (only the bucket join does,
    * so false means the local kernel answered). */
  private def minHashAt(docs: Seq[(Option[Long], Option[String])],
      maxBucketSize: Int, gates: Seq[Long])
      : Seq[(Seq[Seq[Any]], Seq[String], Boolean)] = {
    val s = init()
    import s.implicits._
    val df = docs.toDF("doc_id", "text")
    gates.map(gate => withGate(s, gate) {
      graft.OpCaches.releaseAll()
      val out = graft.ops.Dedup.minHashLshPairs(df, "doc_id", "text",
        shingleK = 2, numHashes = 8, bands = 4, threshold = 0.4,
        maxBucketSize = maxBucketSize)
      val got = (rows(out), out.schema.fields.map(_.dataType.simpleString)
        .toSeq, graft.OpCaches.trackedCount > 0)
      graft.OpCaches.releaseAll()
      got
    })
  }

  test("MinHash LSH at g = n - 1 (distributed), g = n and the default " +
      "gate (local) agree: planted near-duplicates, null ids and texts, " +
      "buckets over a small maxBucketSize") {
    var paired = 0
    check(10)(Prop.forAllNoShrink(corpora, Gen.choose(2, 4)) {
        (docs, small) =>
      Seq(20000, small).forall { maxBucket =>
        val n = docs.length.toLong
        // g = n takes the local kernel unless its kept buckets hold more
        // than n candidate pairs, so the default gate pins it too
        val Seq(dist, atN, default) =
          minHashAt(docs, maxBucket, Seq(n - 1, n, 2000000L))
        if (default._1.nonEmpty) paired += 1
        dist._3 && !default._3 && dist._1 == atN._1 &&
          dist._1 == default._1 && dist._2 == default._2
      }
    })
    assert(paired > 0, "no case found a near-duplicate pair")
  }

  test("MinHash LSH at g = n: within the candidate bound the local " +
      "kernel answers, past it the bucket join; a null id fills its " +
      "buckets; empty input is empty") {
    val text = "ant bee cat dog elk fox gnu hen ibis"
    val words = text.split(' ')
    // one near-duplicate pair among eight unrelated texts: at most four
    // candidate pairs (one per band), under the gate of ten documents
    val sparse = (Some(1L), Some(text)) +: (Some(2L), Some(text + " jay")) +:
      (0 until 8).map(i => (Option(10L + i),
        Option(words.map(w => s"$w$i").mkString(" "))))
    val Seq(sd, sl) = minHashAt(sparse, 20000, Seq(9L, 10L))
    assert(sd._3 && !sl._3 && sd == sl.copy(_3 = true))
    assert(sl._1.map(_.take(2)) == Seq(Seq(1L, 2L)))
    // six copies of one text: each band has one bucket of six, 4 × 15
    // candidate pairs past the gate of six, so g = n falls through
    val hot = (1L to 6L).map(i => (Option(i), Option(text)))
    val Seq(hd, hl) = minHashAt(hot, 20000, Seq(5L, 6L))
    assert(hd._3 && hl._3 && hd == hl && hl._1.length == 15)
    // a null id never pairs but still fills its buckets: three copies,
    // one without an id, overflow maxBucketSize = 2 in every band
    val crowded = Seq((Some(1L), Some(text)), (Some(2L), Some(text)),
      (None, Some(text)))
    val Seq(cd, cl) = minHashAt(crowded, 2, Seq(2L, 3L))
    assert(cd._3 && !cl._3 && cd._1.isEmpty && cl._1.isEmpty)
    val Seq(empty) = minHashAt(Nil, 20000, Seq(0L))
    assert(empty._1.isEmpty && !empty._3)
  }

  test("MinHash LSH past its document cap takes the bucket join at the " +
      "default gate; at the cap the local kernel answers the same pair") {
    import org.apache.spark.sql.functions.{concat, lit, when}
    val s = init()
    val cap = PathFinder.localMaxArrayRows
    // two copies of one text and unrelated three-word texts
    def corpus(n: Long): DataFrame = s.range(n).select(col("id").as("doc_id"),
      when(col("id") < 2, lit("ant bee cat dog")).otherwise(concat(
        lit("a"), col("id"), lit(" b"), col("id"), lit(" c"), col("id")))
        .as("text"))
    val Seq(over, at) = Seq(cap + 1, cap).map(n => withGate(s, 2000000L) {
      graft.OpCaches.releaseAll()
      val out = graft.ops.Dedup.minHashLshPairs(corpus(n), "doc_id", "text",
        shingleK = 2, numHashes = 8, bands = 4, threshold = 0.4)
      val got = (rows(out), graft.OpCaches.trackedCount > 0)
      graft.OpCaches.releaseAll()
      got
    })
    assert(over._2 && !at._2)
    assert(over._1 == Seq(Seq(0L, 1L, 1.0)) && at._1 == over._1)
  }

  /** Memberships (u, v): 3–20 rows over u in 0..5 and v in 0..3, about
    * one u and one v in eight null; `shift` offsets every non-null id. */
  private def memberships(shift: Long): Gen[Seq[(Option[Long], Option[Long])]] =
    Gen.choose(3, 20).flatMap(Gen.listOfN(_, for {
      u <- Gen.choose(0L, 5L); v <- Gen.choose(0L, 3L)
      nu <- Gen.choose(0, 7); nv <- Gen.choose(0, 7)
    } yield (Option(u + shift).filter(_ => nu > 0),
      Option(v + shift).filter(_ => nv > 0))))

  test("co-purchase past its cap of 8 × g memberships (distributed), " +
      "under it and under g itself (local) agrees: null u and v, " +
      "unpackable ids, a hot key under maxKeyDegree") {
    val s = init()
    import s.implicits._
    check(8)(Prop.forAllNoShrink(
        Gen.oneOf(0L, 1L << 31, -(1L << 40)).flatMap(memberships),
        Gen.choose(2L, 3L)) { (ms, maxDeg) =>
      val n = ms.count { case (u, v) => u.isDefined && v.isDefined }
      val df = ms.toDF("u", "v")
      // 8 × (g − 1) < n ≤ 8 × g: the aggregate decides at g, the gated
      // collect answers at n
      val g = (n + 7L) / 8L
      Seq(g, n.toLong).forall(local => agreeAt(g - 1L, local) {
        Seq(Algorithms.bipartiteProjection(df),
          Algorithms.bipartiteProjection(df, minWeight = 2L),
          Algorithms.bipartiteProjection(df, maxKeyDegree = maxDeg))
      })
    })
    // empty input: the gate of 0 admits it, so both read the kernel
    val empty = Seq.empty[(Long, Long)].toDF("u", "v")
    Seq(0L, 2000000L).foreach(gate => assert(withGate(s, gate)(
      Algorithms.bipartiteProjection(empty).collect()).isEmpty))
  }

  private type IvfRow = (Option[Long], Option[List[java.lang.Double]])

  /** 0–12 IVF corpus or query rows: an id in 0..20 and a vector of 0–3
    * dyadic components in [−2, 2], so every centroid mean is exact on
    * both branches; about one id, one vector and one component in eight
    * is null. */
  private val ivfRows: Gen[List[IvfRow]] =
    Gen.choose(0, 12).flatMap(Gen.listOfN(_, for {
      id <- Gen.choose(0L, 20L); nid <- Gen.choose(0, 7)
      nv <- Gen.choose(0, 7)
      comps <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, for {
        x <- Gen.choose(-8, 8); nx <- Gen.choose(0, 7)
      } yield if (nx > 0) java.lang.Double.valueOf(x / 4.0) else null))
    } yield (Option(id).filter(_ => nid > 0),
      Option(comps).filter(_ => nv > 0))))

  /** `rows` as (vec_id, embedding `array<float>`, as the benchmark's). */
  private def ivfFrame(rows: Seq[IvfRow]): DataFrame = {
    val s = init()
    import s.implicits._
    rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }

  /** Caller centroids for IVF: three dyadic vectors and a null id. */
  private def ivfCentroids: DataFrame = {
    val s = init()
    import s.implicits._
    Seq[(Option[Long], Seq[Double])]((Some(2L), Seq(1.0, 0.5)),
      (Some(0L), Seq(-1.0, 0.25, 2.0)), (Some(1L), Seq(0.0, -0.75)),
      (None, Seq(1.0, 1.0))).toDF("centroid_id", "vec")
  }

  /** Per IVF entry point — build + search, one-shot top-k with hash-mod
    * and with caller centroids — its rows and its column types, run at
    * `gate` with every cache released after. */
  private def ivfAt(gate: Long, corpus: DataFrame, queries: DataFrame,
      lists: Int, nprobe: Int, k: Int, cents: Option[DataFrame])
      : Seq[(Seq[Seq[Any]], Seq[String])] = withGate(spark, gate) {
    import graft.ops.Similarity
    def out(df: DataFrame) =
      (rows(df), df.schema.fields.map(_.dataType.simpleString).toSeq)
    val idx = Similarity.buildIvfIndex(corpus, lists, centroids = cents)
    try Seq(out(Similarity.searchIvf(idx, queries, k, nprobe)),
      out(Similarity.ivfTopK(queries, corpus, k, lists, nprobe,
        centroids = cents)))
    finally { idx.release(); graft.OpCaches.releaseAll() }
  }

  test("IVF build + search and one-shot top-k at g = n - 1 (distributed) " +
      "and g = n (local) agree: null ids, vectors and components in " +
      "corpus and queries, nprobe past the list count, caller centroids") {
    check(10)(Prop.forAllNoShrink(ivfRows, ivfRows, Gen.choose(1, 4),
        Gen.choose(1, 5), Gen.choose(1, 3), Gen.oneOf(false, true)) {
        (rows, qrows, lists, nprobe, k, given) =>
      val corpus = ivfFrame(rows)
      val n = rows.count(_._1.isDefined).toLong
      // at most n queries with distinct ids: of two query rows sharing an
      // id, the distributed probe window breaks a tie between them
      // arbitrarily
      val queries = ivfFrame(qrows.distinctBy(_._1).take(n.toInt))
      val cents = Option.when(given)(ivfCentroids)
      val Seq(dist, local) = Seq(n - 1, n).map(ivfAt(_, corpus, queries,
        lists, nprobe, k, cents))
      dist.zip(local).forall { case ((dr, dt), (lr, lt)) =>
        sameRows(dr, lr) && dt == lt }
    })
  }

  test("IVF: a query equidistant from two centroids probes the smaller " +
      "id at both gates; an empty corpus or query set answers nothing") {
    val s = init()
    import s.implicits._
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("centroid_id", "vec")
    val corpus = Seq((10L, Seq(2.0, 0.0)), (11L, Seq(0.0, 2.0)),
      (12L, Seq(1.0, 1.0))).toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") === 12L)
    // [1, 1] ties both centroids: it is listed under 0 and probes list 0
    val want = Seq(Seq[Any](12L, 10L, 1L, 0.707107))
    Seq(2L, 3L).foreach(gate => ivfAt(gate, corpus, queries, 2, 1, 3,
      Some(cents)).foreach { case (got, _) => assert(got == want, gate) })
    val empty = corpus.limit(0)
    Seq(0L, 2000000L).foreach { gate =>
      val outs = ivfAt(gate, empty, queries, 2, 2, 3, None) ++
        ivfAt(gate, corpus, empty, 2, 2, 3, None)
      assert(outs.forall(_._1.isEmpty), gate)
      assert(outs.map(_._2).distinct == Seq(
        Seq("bigint", "bigint", "bigint", "double")), gate)
    }
  }

  /** [[frame]] plus per-row `w` and `eid` columns that both fall along
    * the rows, so of two parallel edges the later one has the smaller eid
    * and is the cheaper one. */
  private def attributed(g: Graph): DataFrame = {
    val s = init()
    import s.implicits._
    g.rows.zipWithIndex.map { case ((a, b), i) =>
      (a, b, (g.rows.length - i).toDouble, 1000L - i)
    }.toDF("src", "dst", "w", "eid")
  }

  /** Every frame of `run`, built and collected at g = n − 1 (distributed)
    * and at g = n (local): equal rows, path arrays included, doubles
    * within 1e-9. */
  private def agree(n: Int)(run: => Seq[DataFrame]): Boolean =
    agreeAt(n - 1L, n.toLong)(run)

  /** [[agree]] at the given distributed and local gates. */
  private def agreeAt(distGate: Long, localGate: Long)
      (run: => Seq[DataFrame]): Boolean = {
    val Seq(dist, local) = Seq(distGate, localGate).map(gate =>
      withGate(spark, gate)(run.map(rows)))
    dist.zip(local).forall { case (d, l) => sameRows(d, l) }
  }

  /** Equal [[rows]], doubles within 1e-9. */
  private def sameRows(d: Seq[Seq[Any]], l: Seq[Seq[Any]]): Boolean =
    d.length == l.length && d.zip(l).forall { case (x, y) =>
      x.zip(y).forall {
        case (a: Double, b: Double) => math.abs(a - b) <= 1e-9
        case (a, b) => a == b
      }
    }

  /** A frame's rows as value lists, arrays as lists, sorted by their
    * non-double values. */
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.toList
      case v => v
    }).sortBy(_.filterNot(_.isInstanceOf[Double]).mkString(","))

  /** Vertices reachable from `v` along `edges` (v included). */
  private def reach(edges: Seq[(Long, Long)], v: Long): Set[Long] = {
    var seen = Set(v)
    var frontier = Set(v)
    while (frontier.nonEmpty) {
      frontier = edges.collect { case (a, b) if frontier(a) => b }.toSet -- seen
      seen ++= frontier
    }
    seen
  }

  /** Strong component of every vertex: its least mutually reachable
    * vertex. */
  private def bruteScc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val r = vertices.map(v => v -> reach(edges, v)).toMap
    vertices.map(v => v -> r(v).filter(u => r(u)(v)).min).toMap
  }

  /** Earliest arrival over temporal paths of at most `hops` edges with
    * non-decreasing times from `from` (default the least time), by
    * synchronous Bellman-Ford rounds: (seed, vertex, arrival) rows, seeds
    * excluded, as [[rows]] sorts them. */
  private def bruteEarliest(edges: Seq[(Long, Long, Long)], seeds: Seq[Long],
      hops: Int, from: Option[Long] = None): Seq[Seq[Any]] = {
    val start = from.getOrElse(if (edges.isEmpty) 0L else edges.map(_._3).min)
    seeds.distinct.flatMap { s =>
      var arr = Map(s -> start)
      (1 to hops).foreach { _ =>
        val prev = arr
        edges.foreach { case (a, b, t) =>
          if (prev.get(a).exists(t >= _) && arr.get(b).forall(t < _))
            arr += b -> t
        }
      }
      (arr - s).map { case (v, t) => Seq[Any](s, v, t) }
    }.sortBy(_.mkString(","))
  }

  /** The k-truss of the simple undirected graph of `edges` (self-loops
    * dropped, parallel and reverse edges one): edges peeled until each
    * closes at least k − 2 triangles, (src < dst) as [[rows]] sorts them. */
  private def bruteKTruss(edges: Seq[(Long, Long)], k: Int): Seq[Seq[Any]] = {
    var es = edges.collect { case (a, b) if a != b => (a min b, a max b) }.toSet
    var changed = true
    while (changed) {
      val adj = es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }
      val kept = es.filter { case (a, b) => (adj(a) & adj(b)).size >= k - 2 }
      changed = kept != es
      es = kept
    }
    es.toSeq.map { case (a, b) => Seq[Any](a, b) }.sortBy(_.mkString(","))
  }

  /** `quantile_disc` of `values` at each of `probs`: (p, the value at
    * rank ceil(p·n), n), none when there is no value. */
  private def bruteQuantiles(values: Seq[Double], probs: Seq[Double])
      : Seq[(Double, Double, Long)] = {
    val sorted = values.sorted
    if (sorted.isEmpty) Nil
    else probs.sorted.map(p => (p,
      sorted((math.ceil(p * sorted.length).toInt max 1) - 1),
      sorted.length.toLong))
  }

  /** Hop distance and shortest-path count of every vertex reachable
    * from `s` over the directed simple graph of `edges` (self-loops
    * dropped, parallel edges one). */
  private def bruteShortest(edges: Seq[(Long, Long)], s: Long)
      : Map[Long, (Int, Double)] = {
    val adj = edges.filter { case (a, b) => a != b }.distinct
      .groupMap(_._1)(_._2)
    var found = Map(s -> (0, 1.0))
    var frontier = Seq(s)
    while (frontier.nonEmpty) {
      val level = found(frontier.head)._1 + 1
      val next = frontier.flatMap(v => adj.getOrElse(v, Nil)
        .filterNot(found.contains).map(_ -> found(v)._2))
        .groupMapReduce(_._1)(_._2)(_ + _)
      found ++= next.map { case (w, c) => w -> (level, c) }
      frontier = next.keys.toSeq
    }
    found
  }

  /** Per vertex: (vertices reached, distance sum, Σ 1/distance, reached /
    * sum), the last two rounded to 6 places as `harmonicCentrality`
    * reports them. */
  private def bruteHarmonic(edges: Seq[(Long, Long)]): Map[Long, Seq[Any]] = {
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    vertices.map { v =>
      val d = bruteShortest(edges, v).values.map(_._1).filter(_ > 0).toSeq
      v -> Seq[Any](d.length.toLong, d.sum.toLong, r6(d.map(1.0 / _).sum),
        if (d.isEmpty) 0.0 else r6(d.length.toDouble / d.sum))
    }.toMap
  }

  /** Brandes' betweenness by its definition: Σ over ordered pairs (s, t)
    * of the share of shortest s→t paths through v, v ∉ {s, t}. */
  private def bruteBetweenness(edges: Seq[(Long, Long)])
      : Map[Long, Seq[Any]] = {
    val sp = vertices.map(v => v -> bruteShortest(edges, v)).toMap
    vertices.map { v =>
      v -> Seq[Any]((for {
        s <- vertices; t <- vertices if s != t && s != v && t != v
        (dst, cst) <- sp(s).get(t)
        (dsv, csv) <- sp(s).get(v)
        (dvt, cvt) <- sp(v).get(t) if dsv + dvt == dst
      } yield csv * cvt / cst).sum)
    }.toMap
  }

  /** k-core membership over the undirected simple graph, by peeling. */
  private def bruteKCore(edges: Seq[(Long, Long)], k: Int)
      : Map[Long, Seq[Any]] = {
    val nbrs = edges.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
    var alive = vertices.toSet
    var peeled = true
    while (peeled) {
      val drop = alive.filter(v =>
        nbrs.count { case (a, b) => a == v && alive(b) } < k)
      peeled = drop.nonEmpty
      alive --= drop
    }
    vertices.map(v => v -> Seq[Any](alive(v))).toMap
  }

  /** Component of every vertex (minimum member id) over the undirected
    * closure of `edges`. */
  private def bruteWcc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nbrs = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    vertices.map { v =>
      var seen = Set(v)
      var frontier = Set(v)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(nbrs.getOrElse(_, Nil)) -- seen
        seen ++= frontier
      }
      v -> seen.min
    }.toMap
  }
}
