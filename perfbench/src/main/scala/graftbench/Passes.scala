package graftbench

import java.nio.file.Path

/** Timed passes; a failed pass is counted and logged, not fatal. */
final case class Passes(windows: Seq[Window], attempted: Int, failed: Int) {
  def median: Window = Window.medianOf(windows)
}

/** Progress lines on stderr, stamped with seconds since JVM start. */
object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - t0) / 1e3}%7.2f $msg")
}

object Passes {
  /** Untimed passes before the timed ones in every workload: on a
    * 4-core host, passes keep getting faster (JIT) through the sixth or
    * seventh.
    */
  val WarmPasses = 3
  /** Input materializations per run; setup_s is their median. */
  val SetupReps = 9

  /** Runs `pass(i)` repeatedly for `seconds` (and at least `minPasses`
    * times), each inside its own engine-probe window.
    */
  def run(ctx: Ctx, seconds: Double, minPasses: Int)
      (pass: Int => Unit): Passes = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val ws = Seq.newBuilder[Window]
    var i = 0
    var failed = 0
    while (i < minPasses || System.nanoTime() < deadline) {
      try {
        ctx.tracer.foreach(_.beginPass(i))
        val w = ctx.probe.measure(ctx.spark.sparkContext)(pass(i))._2
        Log(f"pass $i: ${w.wallS}%.3f s")
        ws += w
      } catch {
        case e: Exception =>
          failed += 1
          Log(s"pass $i failed: ${e.toString.takeWhile(_ != '\n')}")
      }
      i += 1
    }
    Passes(ws.result(), i, failed)
  }

  /** Materializes a workload's inputs [[SetupReps]] times (each into a
    * fresh directory) and returns the median set-up time and the
    * directory of the last copy; the other copies are deleted.
    */
  def setup(ctx: Ctx)(materialize: Path => Unit): (Double, Path) = {
    val reps = SetupReps
    val times = (0 until reps).map { k =>
      val dir = ctx.work.resolve(s"input-$k")
      val t0 = System.nanoTime()
      materialize(dir)
      val t = (System.nanoTime() - t0) / 1e9
      Log(f"setup $k: $t%.3f s")
      if (k < reps - 1) Session.deleteTree(dir)
      t
    }
    (Window.median(times), ctx.work.resolve(s"input-${reps - 1}"))
  }

  /** Per-layer metrics every workload reports from its untraced passes. */
  def sparkLayers(w: Window, samples: Int): Map[String, Double] = Map(
    "pass_samples" -> samples.toDouble,
    "spark.jobs" -> w.jobs.toDouble,
    "spark.stages" -> w.stages.toDouble,
    "spark.tasks" -> w.tasks.toDouble,
    "spark.shuffle_write_records" -> w.shuffleWriteRecords.toDouble,
    "spark.shuffle_write_bytes" -> w.shuffleWriteBytes.toDouble,
    "spark.shuffle_read_bytes" -> w.shuffleReadBytes.toDouble,
    "spark.spill_bytes" -> w.spillBytes.toDouble,
    "spark.input_bytes" -> w.inputBytes.toDouble,
    "spark.output_bytes" -> w.outputBytes.toDouble,
    "spark.gc_s" -> w.gcS,
    "spark.run_s" -> w.runS,
    "spark.driver_idle_s" -> w.driverIdleS,
    "spark.task_skew" -> w.taskSkew,
    "spark.exec_mem_peak_mb" -> w.peakMemMb)

  /** End-to-end metrics shared by every workload. */
  def endToEnd(setupS: Double, w: Window, inputRows: Long,
      identity: Double, p: Passes): Map[String, Double] = Map(
    "setup_s" -> setupS,
    "pass_s" -> w.wallS,
    "rows_per_s" -> inputRows / w.wallS,
    "task_cpu_s" -> w.cpuS,
    "byte_identity_rate" -> identity,
    "ops_ok_ratio" -> (p.attempted - p.failed).toDouble / p.attempted)

  /** Single-thread microbenchmark: mean microseconds per item over
    * rounds of `items` until `seconds` have passed (median of rounds).
    */
  def usPerItem[A](items: Seq[A], seconds: Double)(f: A => Any): Double = {
    if (items.isEmpty) return 0.0
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val rounds = Seq.newBuilder[Double]
    var n = 0
    while (n < 3 || System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      items.foreach(f)
      rounds += (System.nanoTime() - t0) / 1e3 / items.length
      n += 1
    }
    Window.median(rounds.result())
  }
}
