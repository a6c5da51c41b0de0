package graft

import graft.gen.PagesGen
import graft.pipeline.ExtractionPipeline

/** Single-measurement helper: run the extraction pipeline once at a given
  * parallelism in a FRESH JVM (invoked per-level so the two scaling
  * measurements don't share JIT/GC state). Prints one JSON line.
  */
object BenchPipeline {
  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val n = args(1).toLong
    val boost = if (args.length > 2) args(2).toInt else 1
    val spark = GraftSession.local(cpus)
    // warmup (JIT + codegen), then measured run
    ExtractionPipeline.records(PagesGen.pages(spark, 500, 7, cpus, boost),
      partitions = cpus).count()
    val t0 = System.nanoTime()
    val cnt = ExtractionPipeline.records(PagesGen.pages(spark, n, 42, cpus, boost),
      partitions = cpus).count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"cpus":$cpus,"pages":$n,"records":$cnt,"sec":$sec%.3f,"docs_per_sec":${n / sec}%.1f}""")
    spark.stop()
  }
}
