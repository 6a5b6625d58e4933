package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Diagnostic for the q35 sf4 creep (round-12 lead 3): does the bench
  * warmup's depth-1 BFS prime the session edge index q35 then hits?
  * Run manually: SPARK_GRAFT_PROBE_SF=/tmp/sf4gen sbt
  * 'testOnly graft.ProbeQ35'. Skipped unless the env var is set. */
class ProbeQ35 extends AnyFunSuite {
  test("q35 bench-shape: edge-index builds and walls") {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_PROBE_SF", "")
    assume(sfDir.nonEmpty, "set SPARK_GRAFT_PROBE_SF to run the probe")
    val s = Fixture.init()
    def builds = graph.PathFinder.distEidMemo.builds
    def time(label: String)(f: => Unit): Unit = {
      val b0 = builds
      val t0 = System.nanoTime()
      f
      println(f"PROBE35 $label: ${(System.nanoTime() - t0) / 1e9}%.2f s, " +
        s"builds ${builds - b0}")
    }
    // warmup shape (Bench.scala)
    val ue = TradeGraph.userEdges(s, sfDir)
    val seed1 = s.range(1).select(col("id"))
    time("warmup depth-1 bfs")(
      graph.PathFinder.bfsDistances(s, ue, seed1, Some(1L))
        .queryExecution.toRdd.count())
    OpCaches.releaseAll()
    // the measured query, twice
    time("q35 first")(
      SparkEntry.queries("q35_user_bfs")(s, sfDir)
        .queryExecution.toRdd.count())
    OpCaches.releaseAll()
    time("q35 second")(
      SparkEntry.queries("q35_user_bfs")(s, sfDir)
        .queryExecution.toRdd.count())
    OpCaches.releaseAll()
    // final adaptive plan of the measured query — what actually ran
    val qe = SparkEntry.queries("q35_user_bfs")(s, sfDir).queryExecution
    qe.toRdd.count()
    println("PROBE35 PLAN:\n" + qe.executedPlan.toString.take(6000))
    OpCaches.releaseAll()
  }
}
