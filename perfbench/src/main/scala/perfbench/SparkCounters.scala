package perfbench

import org.apache.spark.scheduler._
import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** Spark work attributed to one op: jobs carry the op id in their job
  * description, stages and tasks inherit it from their job.
  */
final class OpCounters {
  var jobs = 0
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var rowsRead = 0L
  var bytesRead = 0L
  /** (start, end) of each finished job, epoch ms. */
  val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  /** Task run times per stage, ms. */
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Double]]()
}

/** The benchmark's own listener: registered once per run, it counts
  * jobs, tasks, CPU, GC, shuffle, spill and scan volume per op.
  */
final class SparkCounters extends SparkListener {
  private val jobOp = TrieMap[Int, Long]()
  private val stageOp = TrieMap[Int, Long]()
  private val jobStart = TrieMap[Int, Long]()
  private val byOp = TrieMap[Long, OpCounters]()

  def of(op: Long): OpCounters = byOp.getOrElseUpdate(op, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    SparkCounters.opOf(e.properties).foreach { op =>
      jobOp(e.jobId) = op
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageOp(s) = op)
      val c = of(op)
      c.synchronized(c.jobs += 1)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    for (op <- jobOp.get(e.jobId); t0 <- jobStart.remove(e.jobId)) {
      val c = of(op)
      c.synchronized(c.jobSpans += ((t0, e.time)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = of(op)
      c.synchronized {
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.rowsRead += m.inputMetrics.recordsRead
        c.bytesRead += m.inputMetrics.bytesRead
        c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
          m.executorRunTime.toDouble
      }
    }
}

object SparkCounters {
  val Prefix = "perfbench-op-"

  def description(op: Long): String = s"$Prefix$op"

  private def opOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.description")))
      .filter(_.startsWith(Prefix))
      .flatMap(d => d.stripPrefix(Prefix).toLongOption)
}
