package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dumps `.explain("formatted")` for declared queries to files — the
  * optimization-round plan evidence (`plans/rNN/<query>_{before,after}.txt`).
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <q1,q2,...>
  * Env:   SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_EXTRA_CONF
  * (conf overrides applied to the session, e.g.
  * `spark.graft.local.maxRows=0` dumps the distributed kernel plans).
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
    val spark = LocalSession(32)
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
