package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Engine counters for one measured window (one pass, one query rep). */
final case class Window(
    wallS: Double,
    jobs: Long,
    stages: Long,
    tasks: Long,
    cpuS: Double,
    runS: Double,
    gcS: Double,
    peakMemMb: Double,
    shuffleWriteRecords: Long,
    shuffleWriteBytes: Long,
    shuffleReadBytes: Long,
    spillBytes: Long,
    inputBytes: Long,
    inputRecords: Long,
    outputBytes: Long,
    driverIdleS: Double,
    taskSkew: Double)

object Window {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def medL(ws: Seq[Window], f: Window => Long): Long =
    math.round(median(ws.map(w => f(w).toDouble)))

  /** Field-wise median over repeated windows of the same work. */
  def medianOf(ws: Seq[Window]): Window = Window(
    median(ws.map(_.wallS)), medL(ws, _.jobs), medL(ws, _.stages),
    medL(ws, _.tasks), median(ws.map(_.cpuS)), median(ws.map(_.runS)),
    median(ws.map(_.gcS)), median(ws.map(_.peakMemMb)),
    medL(ws, _.shuffleWriteRecords), medL(ws, _.shuffleWriteBytes),
    medL(ws, _.shuffleReadBytes), medL(ws, _.spillBytes),
    medL(ws, _.inputBytes), medL(ws, _.inputRecords), medL(ws, _.outputBytes),
    median(ws.map(_.driverIdleS)), median(ws.map(_.taskSkew)))
}

/** SparkListener that accumulates task metrics, job intervals and
  * per-stage task durations, and cuts them into [[Window]]s around
  * measured calls. Windows must not overlap.
  */
final class EngineProbe extends SparkListener {
  private final class Acc {
    var jobs, stages, tasks, cpuNs, runMs, gcMs = 0L
    var swr, swb, srb, spill, inb, inr, outb = 0L
    var peak = 0L
  }
  private val acc = new Acc
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val taskDurations =
    mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  // (stage wall ms, task durations) of every completed stage
  private val stagesDone =
    mutable.ArrayBuffer.empty[(Long, Seq[Long])]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    acc.jobs += 1
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      acc.stages += 1
      val i = e.stageInfo
      val durs = taskDurations.remove((i.stageId, i.attemptNumber()))
        .map(_.toSeq).getOrElse(Nil)
      val wall = (for (s <- i.submissionTime; c <- i.completionTime)
        yield c - s).getOrElse(0L)
      stagesDone += ((wall, durs))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    acc.tasks += 1
    taskDurations.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      acc.cpuNs += m.executorCpuTime
      acc.runMs += m.executorRunTime
      acc.gcMs += m.jvmGCTime
      acc.peak = math.max(acc.peak, m.peakExecutionMemory)
      acc.swr += m.shuffleWriteMetrics.recordsWritten
      acc.swb += m.shuffleWriteMetrics.bytesWritten
      acc.srb += m.shuffleReadMetrics.totalBytesRead
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      acc.inb += m.inputMetrics.bytesRead
      acc.inr += m.inputMetrics.recordsRead
      acc.outb += m.outputMetrics.bytesWritten
    }
  }

  private def snapshot(): (Acc, Int, Int) = synchronized {
    val c = new Acc
    c.jobs = acc.jobs; c.stages = acc.stages; c.tasks = acc.tasks
    c.cpuNs = acc.cpuNs; c.runMs = acc.runMs; c.gcMs = acc.gcMs
    c.swr = acc.swr; c.swb = acc.swb; c.srb = acc.srb
    c.spill = acc.spill; c.inb = acc.inb; c.inr = acc.inr; c.outb = acc.outb
    acc.peak = 0L
    (c, jobIntervals.length, stagesDone.length)
  }

  /** Runs `body` and returns its result with the engine counters of
    * exactly the tasks it ran (the listener bus is drained on both
    * sides).
    */
  def measure[T](sc: SparkContext)(body: => T): (T, Window) = {
    org.apache.spark.graftbench.BusDrain(sc)
    val (c0, j0, s0) = snapshot()
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body
    val wallS = (System.nanoTime() - t0) / 1e9
    val t1ms = System.currentTimeMillis()
    org.apache.spark.graftbench.BusDrain(sc)
    val w = synchronized {
      val busyMs = unionMs(jobIntervals.slice(j0, jobIntervals.length)
        .map { case (a, b) => (math.max(a, t0ms), math.min(b, t1ms)) }
        .filter { case (a, b) => b > a }.toSeq)
      val stages = stagesDone.slice(s0, stagesDone.length)
      val skew =
        if (stages.isEmpty) 0.0
        else {
          val durs = stages.maxBy(_._1)._2.map(_.toDouble)
          if (durs.isEmpty) 0.0
          else {
            val med = Window.median(durs)
            durs.max / math.max(med, 1.0)
          }
        }
      Window(wallS, acc.jobs - c0.jobs, acc.stages - c0.stages,
        acc.tasks - c0.tasks, (acc.cpuNs - c0.cpuNs) / 1e9,
        (acc.runMs - c0.runMs) / 1e3, (acc.gcMs - c0.gcMs) / 1e3,
        acc.peak / (1024.0 * 1024.0), acc.swr - c0.swr, acc.swb - c0.swb,
        acc.srb - c0.srb, acc.spill - c0.spill, acc.inb - c0.inb,
        acc.inr - c0.inr, acc.outb - c0.outb,
        math.max(0.0, wallS - busyMs / 1e3), skew)
    }
    (out, w)
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
