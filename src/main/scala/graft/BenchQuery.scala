package graft

/** Single-query timing probe: `runMain graft.BenchQuery <sfDir> q98 q99 …`.
  * Same session config and warm-then-min-of-3 protocol as the Bench
  * headline loop, for isolating one query's cost while iterating
  * (Bench itself times the whole 60-query headline).
  */
object BenchQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BenchQuery <sfDir> <query>...")
    val sfDir = args(0)
    val spark = GraftSession.local(GraftSession.cpus)
    args.drop(1).foreach { prefix =>
      val name = SparkEntry.queries.keys.find(_.startsWith(prefix))
        .getOrElse(sys.error(s"no query matches '$prefix'"))
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // warm
      val probes = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name: first=${probes.head}%.3f s min3=${probes.min}%.3f s" +
        probes.map(p => f"$p%.2f").mkString("  [", ", ", "]"))
    }
    spark.stop()
  }
}
