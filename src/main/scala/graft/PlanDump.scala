package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import scala.util.control.NonFatal

/** Dumps `.explain("formatted")` for declared queries to files — the
  * optimization-round plan evidence (`plans/rNN/<query>_{before,after}.txt`).
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <q1,q2,...>
  * Env:   SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_EXTRA_CONF
  * ("before" plans are produced by flipping the optimization's conf gate
  * through SPARK_GRAFT_EXTRA_CONF, e.g.
  * `spark.graft.compiler.fuseIdentityJoins=false`).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: runMain graft.PlanDump <outDir> <suffix> <q1,q2,...>")
      sys.exit(2)
    }
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    graph.PathFinder.applyEnvGates()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";")
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        try spark.conf.set(k, v)
        catch { case NonFatal(e) =>
          System.err.println(s"WARN: extra conf $k=$v not applied: $e") }
      })
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"dumped $n -> $outDir/${n}_$suffix.txt")
      } finally OpCaches.releaseAll()
    }
    spark.stop()
  }
}
