package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into graft's layers, plus the Spark
  * jobs, stages and tasks each span started.
  *
  * A span sets the `perfbench.span` local property to `<query>|<layer>`
  * while its body runs, so every job submitted from the client thread
  * carries the span that was open when it started; the listener keys all
  * job, stage and task data by that tag. With tracing off no listener is
  * registered and `span` only evaluates its body. Single client thread.
  */
final class Tracer(val on: Boolean) extends SparkListener {
  import Tracer._

  private var sc: SparkContext = _
  /** Measured-query index the spans belong to; -1 outside the measured
    * loop (setup, priming, verification). */
  var query: Int = -1
  private var open: List[String] = Nil
  /** (query, layer) → summed span wall time, ns. */
  val spanNs = mutable.Map[(Int, String), Long]().withDefaultValue(0L)

  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  val stages = mutable.LinkedHashMap[Int, Stage]()

  def attach(ctx: SparkContext): Unit = {
    sc = ctx
    if (on) ctx.addSparkListener(this)
  }

  def span[T](layer: String)(body: => T): T =
    if (!on) body
    else {
      val parent = open
      open = layer :: open
      sc.setLocalProperty(Key, s"$query|$layer")
      val t0 = System.nanoTime()
      try body
      finally {
        spanNs((query, layer)) += System.nanoTime() - t0
        open = parent
        sc.setLocalProperty(Key,
          parent.headOption.map(l => s"$query|$l").orNull)
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
    val (q, layer) = tag match {
      case Some(t) =>
        val Array(qs, l) = t.split("\\|", 2)
        (qs.toInt, l)
      case None => (-1, "unattributed")
    }
    val result = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = Job(q, layer, e.time, e.time, result)
    e.stageInfos.foreach(s => stageJob.getOrElseUpdate(s.stageId, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val job = stageJob.getOrElse(e.stageId, -1)
    val st = stages.getOrElseUpdate(e.stageId, Stage(job))
    st.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      st.cpuNs += m.executorCpuTime
      st.resultBytes += m.resultSize
      st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }
}

object Tracer {
  val Key = "perfbench.span"

  final case class Job(query: Int, layer: String, startMs: Long,
      var endMs: Long, callSite: String) {
    def ms: Long = endMs - startMs
  }

  final case class Stage(job: Int) {
    val taskMs = mutable.ArrayBuffer[Long]()
    var cpuNs, resultBytes, spillBytes = 0L
    var shuffleReadBytes, shuffleWriteBytes = 0L
  }
}
