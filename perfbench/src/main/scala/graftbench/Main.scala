package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** What a workload run hands back to [[Main]]. The run is correct when
  * `problems` is empty. `layers` may omit a per-layer metric whose
  * layer the workload never reaches; it is then reported as 0 (that
  * layer did no work).
  */
final case class Outcome(attempted: Int, failed: Int,
    endToEnd: Map[String, Double], layers: Map[String, Double],
    samples: Int, problems: Seq[String])

/** Everything a workload needs: the session, the engine probe, the
  * tracer (traced runs only) and its private scratch directory.
  */
final case class Ctx(spark: SparkSession, probe: EngineProbe,
    tracer: Option[Tracer], seed: Long, seconds: Double, work: Path,
    pins: Map[(String, String), Fingerprint]) {
  def traced: Boolean = tracer.isDefined
}

/** Benchmark JVM entry point:
  * `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --pins FILE --trace-out FILE`.
  * Prints one line `GRAFTBENCH_RESULT {json}` for perfbench/run.py.
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "pass_s" -> "s",
    "rows_per_s" -> "rows/s",
    "task_cpu_s" -> "s",
    "byte_identity_rate" -> "ratio",
    "ops_ok_ratio" -> "ratio")

  val PerLayer: Seq[(String, String)] = Seq(
    "pass_samples" -> "count",
    "extract.html_us_per_page" -> "us",
    "extract.pdf_us_per_page" -> "us",
    "extract.spark_s" -> "s",
    "extract.error_pages" -> "count",
    "rules.classify_us_per_page" -> "us",
    "rules.spark_s" -> "s",
    "pipeline.segments_s" -> "s",
    "pipeline.fields_s" -> "s",
    "pipeline.records_out" -> "count",
    "pipeline.scalar_us_per_page" -> "us",
    "pipeline.trace_overhead_s" -> "s",
    "io.wave_s" -> "s",
    "io.jobs_per_wave" -> "count",
    "io.read_amp" -> "ratio",
    "io.bytes_written" -> "B",
    "io.files_written" -> "count",
    "io.useful_ratio" -> "ratio",
    "io.buckets_recomputed_on_resume" -> "count",
    "io.stage_commit_s" -> "s",
    "io.stored_bytes_per_input_byte" -> "ratio",
    "curate.gate_s" -> "s",
    "curate.deboil_s" -> "s",
    "curate.exact_s" -> "s",
    "curate.neardup_s" -> "s",
    "curate.gate_rows_out" -> "count",
    "curate.deboil_rows_out" -> "count",
    "curate.exact_rows_out" -> "count",
    "curate.neardup_rows_out" -> "count") ++
    Catalog.Queries.map(q => s"catalog.${q}_s" -> "s") ++ Seq(
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.shuffle_write_records" -> "count",
    "spark.shuffle_write_bytes" -> "B",
    "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "spark.input_bytes" -> "B",
    "spark.output_bytes" -> "B",
    "spark.gc_s" -> "s",
    "spark.run_s" -> "s",
    "spark.driver_idle_s" -> "s",
    "spark.task_skew" -> "ratio",
    // max task peak execution memory: Spark grows it in whole pages, so
    // it steps with the input (16.5 or 32.5 MB by seed on curate_corpus)
    "spark.exec_mem_peak_mb" -> "MB")

  private val Workloads: Map[String, Ctx => Outcome] = Map(
    "extract_pages" -> Extract.pages,
    "curate_corpus" -> Curate.run)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    Log(s"start $workload")
    val spark = Session.build(work)
    Log("session up")
    val probe = new EngineProbe
    spark.sparkContext.addSparkListener(probe)
    val tracer = if (traced) Some(new Tracer) else None
    val ctx = Ctx(spark, probe, tracer, opt("seed").toLong,
      opt("seconds").toDouble, work, Fingerprint.readPins(Paths.get(opt("pins"))))
    val out =
      try run(ctx)
      finally {
        Log("workload done")
        tracer.foreach(_.write(Paths.get(opt("trace-out"))))
        spark.stop()
        Log("session stopped")
      }

    val wanted = if (traced) PerLayer else EndToEnd
    val got = if (traced) out.layers else out.endToEnd
    val unknown = got.keySet -- wanted.map(_._1)
    require(unknown.isEmpty, s"unregistered metrics: $unknown")
    if (!traced) {
      val missing = wanted.map(_._1).filterNot(got.contains)
      require(missing.isEmpty, s"end-to-end metrics not measured: $missing")
    }
    val metrics = wanted.map { case (name, unit) =>
      val v = got.getOrElse(name, 0.0)
      require(!v.isNaN && !v.isInfinite, s"$name is not finite: $v")
      s""""$name":{"value":$v,"unit":"$unit"}"""
    }.mkString("{", ",", "}")
    out.problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    println(s"""GRAFTBENCH_RESULT {"correct":${out.problems.isEmpty},""" +
      s""""attempted":${out.attempted},"failed":${out.failed},""" +
      s""""samples":${out.samples},"metrics":$metrics}""")
  }
}

object Session {

  /** Bench's session conf block (cpus = 4) plus SessionTuning, with
    * every scratch location inside the run's work directory.
    */
  def build(work: Path): SparkSession = {
    val cpus = 4
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.ops.SessionTuning(s)
    s
  }

  /** Drops every cached or checkpointed block (BenchScale's reset). */
  def releaseBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  def parquetFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .count(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .toLong

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
}
