package graft
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_EXTRA_CONF (see LocalSession) is echoed into the JSON
    // line so a certified artifact can never silently carry a
    // non-default conf; `spark.graft.local.maxRows=0` times the
    // distributed kernel branch
    val spark = LocalSession(32)
    // warmup: JVM/codegen/parquet-listing costs land here, not on the
    // first measured query. Timed and reported as "warmup_sec" in the
    // JSON line so A/B comparisons against benches without the same
    // warmup stay like-for-like (r14 advice).
    val warmT0 = System.nanoTime()
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().count()
      TradeGraph.graft(spark, sfDir)
      // first-touch parquet reads land here for EVERY table, not on
      // whichever query alphabetically touches it first — measured
      // numbers then time operators, not disk order
      new java.io.File(sfDir).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          try spark.read.parquet(f.getPath).queryExecution.toRdd.count()
          catch { case NonFatal(_) => () }
        }
      // Session-scoped graph artifacts are the analogue of the
      // reference's explicit CSR step (csr_creation: the CSR is built
      // once and reused until delete_csr; its benchmarks time kernels
      // against an existing CSR). Materialize the user-interaction edge
      // view and the kernels' collected edge arrays (PathFinder's
      // CSR-reuse memo) so measured queries time KERNELS, not the
      // one-time session build (~3 s of view build + codegen at sf1).
      import org.apache.spark.sql.functions.col
      val ue = TradeGraph.userEdges(spark, sfDir)
      val seed1 = spark.range(1).select(col("id"))
      // depth 1 (not 0): a 0-level BFS never joins the edge frame, so
      // the session edge index would be memoized but never MATERIALIZED
      // and the first measured query would pay the build
      graph.PathFinder.bfsDistances(spark, ue, seed1, Some(1L))
        .queryExecution.toRdd.count()
      graph.PathFinder.kShortestPaths(spark, ue, seed1, 0L, Some(1L),
        pgq.PathMode.Walk, k = 1).queryExecution.toRdd.count()
      // window/sort first-use costs (exec class loading + JIT): the
      // alphabetically-first measured query is q100's as-of window, which
      // otherwise pays ~2-3 s of plan-agnostic warmup its twin never sees
      // (probe: q100 first-run 4.0 s vs steady-state 1.0 s at sf4 with a
      // fully warm page cache)
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.sum
      spark.range(64).toDF("id")
        .withColumn("r", sum("id").over(
          Window.partitionBy(col("id") % 4).orderBy("id")))
        .queryExecution.toRdd.count()
      // MATCH-compile session metadata: the identity-fusion gate's
      // key-uniqueness verdict AND the footprint bound's row-preservation
      // verdicts are memoized one-job probes (the same class of session
      // artifact as the edge index above — catalog statistics, not
      // results). Compiling one 3-hop pattern here puts those probes in
      // warmup instead of on whichever MATCH query the bench order
      // happens to compile first (q42 paid +0.37 s for the fusion probe
      // at sf0.1 in r14; the r15 broadcast-side bound adds the chain
      // tables' uniqueness probes, forced lazily at the same compile).
      TradeGraph.graft(spark, sfDir).graphTable(
        """trade MATCH (c:Customer)-[pl:Placed]->(o:Order)-[ct:Contains]->(p:Part)
           COLUMNS (c.c_custkey AS k)""")
        .queryExecution.analyzed
    } catch { case NonFatal(_) => () }
    finally OpCaches.releaseAll()
    val warmupSec = (System.nanoTime() - warmT0) / 1e9
    // optional comma-separated subset (e.g. the data-scaling queries for
    // the sf1 slope run — the nation-graph toys don't grow with sf)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // materialize the EXECUTED plan's rows, not df.count(): count()
    // lets the optimizer prune every computed column from
    // projection-only queries, which would time the scan skeleton
    // instead of the operator. A failed query must be visibly failed in
    // the artifact, not a plausible-looking wall time.
    val results = LocalSession.eachQuery(spark, sfDir, only)((_, df) =>
        df.queryExecution.toRdd.count())
      .map { case (name, secs) => name -> secs.getOrElse(-1.0) }.toVector
    // r14-verdict item 1: the driver parses the bench JSON from the
    // tail of stdout; at full Double precision the 120-query line ran
    // ~4.5 KB and was truncated out of the capture window every round
    // (BENCH_r13/r14 parsed:null). Round per-query seconds to 3
    // decimals (1 ms — below run-to-run noise) so the whole line stays
    // ~3.3 KB. Locale.ROOT keeps the decimal point a '.' everywhere.
    def f3(v: Double): String =
      "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // q56's one-shot row replays the FULL index build per call (its
    // oracle demands it); the shape users actually run is build-once /
    // search-many. Report that split BESIDE the one-shot row, in the
    // same artifact at every SF: one timed IVF build + one timed
    // 20-query search batch against the prebuilt index (q56's exact
    // search parameters — k 5, nprobe 4 of 16 lists). Outside
    // `queries`/`value` so totals stay comparable across rounds.
    val annSplit =
      if (results.exists(_._1 == "q56_ivf_ann")) {
        try {
          import org.apache.spark.sql.functions.col
          val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
          val t0 = System.nanoTime()
          val idx = ops.Similarity.buildIvfIndex(e)
          val build = (System.nanoTime() - t0) / 1e9
          // the index's persisted frames are not OpCaches-tracked, so a
          // failed search must still release them — own try/finally
          try {
            val t1 = System.nanoTime()
            ops.Similarity.searchIvf(idx,
              e.filter(col("vec_id") < 20L), k = 5, nprobe = 4)
              .queryExecution.toRdd.count()
            val search = (System.nanoTime() - t1) / 1e9
            s""","ann_split":{"ivf_build":${f3(build)},"ivf_search":${f3(search)}}"""
          } finally idx.release()
        } catch {
          // a missing ann_split field in the artifact must be
          // attributable, not silent
          case NonFatal(t) =>
            System.err.println(s"WARN ann_split failed: $t")
            ""
        }
        finally OpCaches.releaseAll()
      } else ""
    val confTag = LocalSession.extraConf
      .map(c => s""","extra_conf":"${c.replace("\"", "'")}"""")
      .getOrElse("")
    val dist = graph.PathFinder.localMaxRows(spark) == 0L
    // self-diagnosis for anomalous runs (the r11 driver run recorded a
    // 22 s q56 that two exact-convention reproductions put at 1.5-1.8 s):
    // total JVM GC time separates box/memory-pressure noise from a real
    // plan regression without needing the box state back
    import scala.jdk.CollectionConverters._
    val gcMs = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","force_dist":$dist,"gc_ms":$gcMs,"warmup_sec":${f3(warmupSec)}$annSplit$confTag}"""
    // the JSON must be the LAST stdout line (build.sbt suppresses sbt's
    // trailing "[success]" banner for bench runs); print after
    // spark.stop() so no shutdown logging can land behind it, and in a
    // finally so a throwing stop cannot lose it
    try spark.stop()
    finally {
      println(line)
      System.out.flush()
    }
  }
}
