package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.JsonEncoding
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

import graft.{Graft, OpCaches, TradeGraph}
import graft.graph.{Algorithms, PathFinder}
import graft.model.TableResolver
import graft.ops.{Dedup, OrderedJoins, Similarity}
import graft.pgq.PgqParser

/** One benchmark run in one JVM: set-up (repeated), then a closed loop
  * with one client thread over the seeded query stream, in whole rounds
  * until the measured time is used. Each query's rows are recorded for
  * the oracle right after it is timed, off the clock.
  *
  * Usage: `perfbench.Driver <spec.json> <out.json>`. The spec (written by
  * `run.py`) holds the generated queries, paths and flags; the output
  * holds raw latencies, the result rows of every query for the oracle
  * check, and — when traced — the per-layer metrics.
  */
object Driver {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(new File(args(0)))
    val out = new Driver(spec).run()
    // written before the session stops, so shutdown cannot lose it
    mapper.writeValue(new File(args(1)), out._1)
    out._2.stop()
  }

  /** The user graph's vertices: every user with an event. */
  def users(s: SparkSession, dir: String): DataFrame =
    TradeGraph.events(s, dir).select(col("user_id").as("id")).distinct()

  def now(): Long = System.nanoTime()
  def secs(ns: Long): Double = ns / 1e9
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}

final class Driver(spec: JsonNode) {
  import Driver._

  private val workload = spec.get("workload").asText
  private val dataDir = spec.get("data_dir").asText
  private val tmpDir = spec.get("tmp_dir").asText
  private val seconds = spec.get("seconds").asDouble
  private val tracer = new Tracer(spec.get("trace").asBoolean)
  /** The seed's queries in stream order: rounds of one per template. */
  private val pool = spec.get("queries").elements.asScala.toVector
  private val round = spec.get("round").asInt
  /** Whether the workload queries the user graph. */
  private val graphWork = workload == "analytics"

  private var spark: SparkSession = _
  private var g: Graft = _

  private val resolver: TableResolver = {
    val data = dataDir
    new TableResolver {
      def apply(s: SparkSession, t: String): DataFrame = t match {
        case "bench_users" => Driver.users(s, data)
        case "bench_uedges" => TradeGraph.userEdges(s, data)
        case other => TradeGraph.resolver(data)(s, other)
      }
    }
  }

  // ---------------------------------------------------------------- set-up

  private def startSession(): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmpDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmpDir/warehouse")
      // bound Spark's own job/stage/SQL status bookkeeping, which grows
      // with the number of queries run, out of retained_heap_mb
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  /** Registers the property graph the workload queries: `trade` through
    * the registry, the user graph through CREATE PROPERTY GRAPH text. */
  private def ddl(): Unit = {
    g = Graft(spark, resolver)
    if (workload == "match_interactive")
      g.registry.create(spark, TradeGraph.graph, resolver, orReplace = true)
    if (graphWork) g.sql(
      """CREATE OR REPLACE PROPERTY GRAPH ugraph
           VERTEX TABLES (bench_users LABEL U)
           EDGE TABLES (bench_uedges
             SOURCE KEY (src) REFERENCES bench_users (id)
             DESTINATION KEY (dst) REFERENCES bench_users (id) LABEL I)""")
  }

  /** Warm-up: first-touch reads of every table the workload uses. The
    * priming round after the set-ups warms the query code paths. */
  private def warm(): Unit =
    spec.get("tables").elements.asScala
      .foreach(t => resolver(spark, t.asText).queryExecution.toRdd.count())

  /** One set-up: session, DDL, warm-up. The first is timed from JVM
    * start; later ones restart the session in the same process. */
  private def setup(first: Boolean): ObjectNode = {
    val t0 =
      if (first) {
        val upMs = ManagementFactory.getRuntimeMXBean.getUptime
        now() - upMs * 1000000L
      } else {
        if (spark != null) spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        now()
      }
    startSession()
    tracer.attach(spark.sparkContext)
    val t1 = now()
    ddl()
    val t2 = now()
    warm()
    val t3 = now()
    val o = mapper.createObjectNode()
    o.put("session_s", secs(t1 - t0))
    o.put("ddl_s", secs(t2 - t1))
    o.put("warm_s", secs(t3 - t2))
    o.put("total_s", secs(t3 - t0))
    o
  }

  // --------------------------------------------------------------- queries

  private def longs(n: JsonNode): Seq[Long] = n.elements.asScala.map(_.asLong).toSeq

  private def idFrame(ids: Seq[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    ids.toDF("id")
  }

  /** Builds the DataFrame of one query through the layer it exercises;
    * the second element releases any index the query built. */
  private def build(q: JsonNode): (DataFrame, () => Unit) = {
    val none = () => ()
    def p(k: String) = q.get(k)
    def graph(body: => DataFrame) = (tracer.span("graph")(body), none)
    def ops(body: => DataFrame) = (tracer.span("ops")(body), none)
    lazy val uedges = TradeGraph.userEdges(spark, dataDir)
    def sampled = uedges.filter(
      (col("src") * 31L + col("dst")) % p("mod").asLong === p("rem").asLong)
    p("kind").asText match {
      case "gt" =>
        val ms = tracer.span("pgq")(PgqParser.graphTable(p("text").asText))
        (tracer.span("compiler")(g.compile(ms)), none)
      case "sqlgraph" =>
        (tracer.span("sqlgraph")(g.sqlGraph(p("text").asText)), none)
      case "bfs" =>
        graph(PathFinder.bfsDistances(spark, uedges, idFrame(longs(p("seeds"))),
          Some(p("depth").asLong)))
      case "reach" =>
        graph(PathFinder.reachablePairs(spark, uedges, idFrame(longs(p("seeds")))))
      case "pagerank" =>
        graph(Algorithms.pageRank(users(spark, dataDir), uedges,
          damping = p("damping").asDouble, fixedIter = Some(p("iters").asInt),
          phantomNodes = 0))
      case "wcc" =>
        graph(Algorithms.weaklyConnectedComponents(users(spark, dataDir), sampled))
      case "lcc" =>
        graph(Algorithms.localClusteringCoefficient(users(spark, dataDir), sampled))
      case "earliest" =>
        graph(Algorithms.earliestArrivalFromMin(
          TradeGraph.userTemporalEdges(spark, dataDir),
          idFrame(longs(p("seeds"))), maxHops = p("hops").asInt))
      case "copurchase" =>
        val m = resolver(spark, "orders")
          .filter(col("o_custkey").between(p("lo").asLong, p("hi").asLong))
          .join(resolver(spark, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("u"), col("l_partkey").as("v"))
        ops(Algorithms.bipartiteProjection(m, minWeight = p("min_weight").asLong))
      case "minhash" =>
        val docs = resolver(spark, "documents")
          .filter(col("doc_id").between(p("lo").asLong, p("hi").asLong))
        ops(Dedup.minHashLshPairs(docs, "doc_id", "text", shingleK = 3,
          numHashes = 16, bands = 4, threshold = p("threshold").asDouble))
      case "asof" =>
        val ev = TradeGraph.events(spark, dataDir)
          .filter(col("user_id") % p("mod").asLong === p("rem").asLong)
          .withColumn("ms", expr("ts DIV 1000000"))
          .filter(col("event_type").isin("purchase", "click"))
          .select(col("user_id"), col("ms"), col("event_type"), col("event_id"))
        val click = col("event_type") === "click"
        val tol = Some(p("tolerance_ms").asLong)
        // each purchase gets the last click before it and the first after
        ops {
          val back = OrderedJoins.asofSelfJoinBackward(ev, Seq("user_id"), "ms",
            click, Seq("ms" -> "c_ms", "event_id" -> "click_event"), tol)
          val fwd = OrderedJoins.asofSelfJoinForward(ev, Seq("user_id"), "ms",
            click, Seq("ms" -> "n_ms", "event_id" -> "next_click"), tol)
          back.filter(col("event_type") === "purchase")
            .join(fwd.select("event_id", "n_ms", "next_click"), "event_id")
            .select(col("user_id"), col("event_id").as("purchase_event"),
              col("click_event"), (col("ms") - col("c_ms")).as("gap_ms"),
              col("next_click"), (col("n_ms") - col("ms")).as("lead_ms"))
        }
      case "ivf" =>
        val corpus = resolver(spark, "embeddings")
        tracer.span("ops") {
          val idx = Similarity.buildIvfIndex(corpus, numCentroids = p("lists").asInt)
          val res = Similarity.searchIvf(idx,
            corpus.filter(col("vec_id").isin(longs(p("queries")): _*)),
            k = p("k").asInt, nprobe = p("nprobe").asInt)
          (res, () => idx.release())
        }
      case other => throw new IllegalArgumentException(s"unknown query kind $other")
    }
  }

  private def planCounts(df: DataFrame): (Int, Int) = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => s +: walk(s.plan)
      case r: ReusedExchangeExec => r +: walk(r.child)
      case o => o +: (o.children ++ o.subqueries).flatMap(walk)
    }
    val nodes = walk(df.queryExecution.executedPlan)
    (nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
      nodes.count(_.isInstanceOf[SortMergeJoinExec]))
  }

  // ------------------------------------------------------------ the loop

  private val verified = mutable.Set[String]()
  /** Verified result rows, one JSON object per line, streamed to disk so
    * they do not sit in the heap being measured. */
  private val verifyOut = mapper.getFactory.createGenerator(
    new File(spec.get("verify_path").asText), JsonEncoding.UTF8)
  private val planTotals = Array(0L, 0L)
  private var trackedSum, releaseNs = 0L

  /** Runs one query: build, plan, execute and collect its rows to the
    * driver (what `Dataset.collect` does), release what it built. */
  private def execute(q: JsonNode): (DataFrame, Array[InternalRow]) = {
    val (df, cleanup) = build(q)
    try {
      val plan = tracer.span("spark.plan")(df.queryExecution.executedPlan)
      (df, tracer.span("spark.exec")(plan.executeCollect()))
    } finally cleanup()
  }

  private def releaseCaches(): Unit = {
    trackedSum += OpCaches.trackedCount
    val t0 = now()
    OpCaches.releaseAll()
    releaseNs += now() - t0
  }

  private def jsonValue(v: Any): JsonNode = v match {
    case null => mapper.nullNode()
    case x: Double => mapper.getNodeFactory.numberNode(x)
    case x: Number => mapper.getNodeFactory.numberNode(x.longValue)
    case x: Boolean => mapper.getNodeFactory.booleanNode(x)
    case x: scala.collection.Seq[_] =>
      val a = mapper.createArrayNode(); x.foreach(e => a.add(jsonValue(e))); a
    case x => mapper.getNodeFactory.textNode(x.toString)
  }

  /** Records the rows of a query seen for the first time, for the
    * oracle check. Off the clock. */
  private def verify(q: JsonNode, result: (DataFrame, Array[InternalRow])): Unit = {
    val id = q.get("id").asText
    if (verified.add(id)) {
      val (df, rows) = result
      val o = mapper.createObjectNode()
      o.put("id", id)
      val cols = o.putArray("columns")
      df.columns.foreach(cols.add)
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      val arr = o.putArray("rows")
      rows.foreach { ir =>
        val r = toRow(ir).asInstanceOf[Row]
        val a = arr.addArray()
        (0 until r.length).foreach(i => a.add(jsonValue(r.get(i))))
      }
      mapper.writeTree(verifyOut, o)
      verifyOut.writeRaw('\n')
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  def run(): (ObjectNode, SparkSession) = {
    val out = mapper.createObjectNode()
    val setups = out.putArray("setups")
    val nSetups = spec.get("setups").asInt
    (0 until nSetups).foreach(i => setups.add(setup(first = i == 0)))

    // priming: one round of fixed-parameter twins of every template, so
    // the measured loop starts with warm code paths but cold results
    val primed = out.putArray("primed")
    val tPrime = now()
    spec.get("prime").elements.asScala.foreach { q =>
      val rec = primed.addObject().put("id", q.get("id").asText)
      try verify(q, execute(q))
      catch { case NonFatal(e) => rec.put("error", e.toString.take(500)) }
      finally OpCaches.releaseAll()
    }
    out.put("prime_s", secs(now() - tPrime))

    val records = out.putArray("queries")
    val budgetNs = (seconds * 1e9).toLong
    val gc0 = gcMs()
    var activeNs, activeCpuNs = 0L
    var i = 0
    // whole rounds only, so every run measures the same template mix
    while (i < pool.length && (activeNs < budgetNs || i % round != 0)) {
      val q = pool(i)
      tracer.query = i
      val cpu0 = cpuNs()
      val t0 = now()
      val rec = records.addObject()
      rec.put("id", q.get("id").asText)
      val result =
        try Some(execute(q))
        catch {
          case NonFatal(e) =>
            rec.put("error", e.toString.take(500))
            None
        } finally releaseCaches()
      val lat = now() - t0
      rec.put("lat_s", secs(lat)).put("ok", result.isDefined)
      tracer.query = -1
      if (tracer.on) result.foreach { r =>
        val (b, s) = planCounts(r._1)
        planTotals(0) += b; planTotals(1) += s
      }
      activeNs += now() - t0
      activeCpuNs += cpuNs() - cpu0
      result.foreach(verify(q, _))
      i += 1
    }
    val nq = i
    out.put("phase_s", secs(activeNs))
    out.put("cpu_s", secs(activeCpuNs))
    out.put("gc_s", (gcMs() - gc0) / 1000.0)
    if (tracer.on) out.set[JsonNode]("layers", layers(nq))
    // collections with pauses between them: Spark's ContextCleaner drops
    // unreferenced broadcast and shuffle blocks asynchronously after a GC
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    out.put("heap_mb", heap / 1048576.0)
    verifyOut.close()
    (out, spark)
  }

  // ------------------------------------------------------- trace summary

  private def layers(nq: Int): ObjectNode = {
    BusDrain(spark.sparkContext)
    val n = math.max(nq, 1).toDouble
    val mb = 1048576.0
    val spans = tracer.spanNs.filter(_._1._1 >= 0)
    def spanS(layer: String) = secs(spans.filter(_._1._2 == layer).values.sum)
    val jobs = tracer.jobs.filter { case (_, j) => j.query >= 0 }
    def jobsOf(ls: String*) = jobs.filter(j => ls.contains(j._2.layer))
    def jobS(ls: String*) = jobsOf(ls: _*).values.map(_.ms).sum / 1000.0
    def stagesOf(ids: collection.Set[Int]) =
      tracer.stages.values.filter(s => ids.contains(s.job))
    def sum(ss: Iterable[Tracer.Stage])(f: Tracer.Stage => Long) =
      ss.iterator.map(f).sum.toDouble
    val o = mapper.createObjectNode()
    def put(k: String, v: Double) = o.put(k, v)
    put("pgq.parse_s", spanS("pgq") / n)
    put("sqlgraph.rewrite_s", (spanS("sqlgraph") - jobS("sqlgraph")) / n)
    put("compiler.compile_s", (spanS("compiler") - jobS("compiler")) / n)
    put("compiler.jobs", jobsOf("compiler", "sqlgraph").size / n)
    put("compiler.job_s", jobS("compiler", "sqlgraph") / n)
    put("spark.plan_s", spanS("spark.plan") / n)
    put("spark.exec_s", spanS("spark.exec") / n)
    val sparkStages = stagesOf(jobsOf("spark.plan", "spark.exec").keySet)
    put("spark.jobs", jobsOf("spark.plan", "spark.exec").size / n)
    put("spark.stages", sparkStages.size / n)
    put("spark.tasks", sum(sparkStages)(_.taskMs.size.toLong) / n)
    put("spark.shuffle_read_mb", sum(sparkStages)(_.shuffleReadBytes) / mb / n)
    put("spark.shuffle_write_mb", sum(sparkStages)(_.shuffleWriteBytes) / mb / n)
    put("spark.broadcast_exchanges", planTotals(0) / n)
    put("spark.sort_merge_joins", planTotals(1) / n)
    for (layer <- Seq("graph", "ops")) {
      val js = jobsOf(layer)
      put(s"$layer.call_s", spanS(layer) / n)
      put(s"$layer.jobs", js.size / n)
      put(s"$layer.collected_mb", sum(stagesOf(js.keySet))(_.resultBytes) / mb / n)
      if (layer == "graph") put("graph.driver_s", (spanS(layer) - jobS(layer)) / n)
    }
    val all = stagesOf(jobs.keySet)
    put("spark.spill_mb", sum(all)(_.spillBytes) / mb / n)
    val skews = all.filter(_.taskMs.size >= 2).map { s =>
      val sorted = s.taskMs.sorted
      val med = math.max(median(sorted.map(_.toDouble).toSeq), 1.0)
      sorted.last / med
    }.toSeq
    put("spark.task_skew", if (skews.isEmpty) 1.0 else median(skews))
    put("spark.executor_cpu_s", sum(all)(_.cpuNs) / 1e9 / n)
    put("opcaches.tracked", trackedSum / n)
    put("opcaches.release_s", secs(releaseNs) / n)
    // per (layer, call site) job counts, for attribution beyond the means
    val sites = mapper.createObjectNode()
    jobs.values.groupBy(j => s"${j.layer} | ${j.callSite}").toSeq.sortBy(_._1)
      .foreach { case (k, js) =>
        sites.putObject(k).put("jobs", js.size).put("s", js.map(_.ms).sum / 1000.0)
      }
    o.set[JsonNode]("call_sites", sites)
    o.put("unattributed_jobs", tracer.jobs.values.count(_.layer == "unattributed"))
    o
  }
}
