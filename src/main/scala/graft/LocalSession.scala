package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The `local[cpus]` session the driver mains (Bench, Verify, PlanDump)
  * run in.
  *
  * Env: `SPARK_GRAFT_CPUS` (cores and shuffle partitions, default per
  * caller) and `SPARK_GRAFT_EXTRA_CONF`, semicolon-separated `k=v`
  * runtime confs applied after start-up — e.g.
  * `spark.graft.local.maxRows=0` forces every size-gated kernel onto
  * its distributed branch. A key that is not runtime-settable warns
  * instead of aborting the run.
  */
private[graft] object LocalSession {
  val extraConf: Option[String] = sys.env.get("SPARK_GRAFT_EXTRA_CONF")

  def apply(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    extraConf.foreach(_.split(";").filter(_.contains("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      try spark.conf.set(k, v)
      catch { case NonFatal(e) =>
        System.err.println(s"WARN: extra conf $k=$v not applied: $e") }
    })
    spark
  }
}
