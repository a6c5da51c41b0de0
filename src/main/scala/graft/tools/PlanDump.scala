package graft.tools

/** Dump `.explain("formatted")` for a list of queries to files:
  *   runMain graft.tools.PlanDump <outDir> <suffix> q95 q101 ...
  * writes <outDir>/<query>_<suffix>.txt for each query, planned in the
  * [[graft.GraftSession.local]] session (Bench's conf).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query>…")
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    args.drop(2).foreach { prefix =>
      val name = graft.SparkEntry.queries.keys.toSeq.sorted
        .find(_.startsWith(prefix))
        .getOrElse(sys.error(s"no query matches '$prefix'"))
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      println(s"wrote $outDir/${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
