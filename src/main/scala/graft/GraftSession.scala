package graft

import graft.ops.SessionTuning
import org.apache.spark.sql.SparkSession

/** The one session factory for the mains of this repo, so a harness and
  * the app it measures plan the same queries.
  *
  * [[local]] copies the conf block of `Bench.session` verbatim (Bench
  * and Verify build their own sessions and stay byte-identical; a
  * change to either block must be made in both). [[submit]] is the
  * spark-submit form that GraftApp and CurateApp share.
  */
object GraftSession {

  /** Threads of a local session: `SPARK_GRAFT_CPUS`, else every
    * processor this JVM sees.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cpus]` session with Bench's conf, WARN logging and
    * [[SessionTuning]]. `deploy` passes deployment-only settings
    * through (e.g. `spark.local.dir`); they must not change a plan.
    */
  def local(cpus: Int, deploy: (String, String)*): SparkSession =
    session(_
      .master(s"local[$cpus]")
      .appName(s"graft-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // split the pages scan finely enough to feed all threads (the
      // 128 MB default gives ~8 splits for the bench table → starved
      // local[32]); same rule as sizing input splits on a real cluster
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalesces shuffle reads down to minPartitionSize (1 MB
      // default) BEFORE parallelism once partitions are small — but
      // this engine's shuffles are deliberately THIN (ids + 32-bit
      // hashes standing in for text), so "1 MB" of candidate pairs is
      // ~50k rows of CPU-heavy exact-verify work squeezed onto 1-4
      // cores (measured: q95's 1M-pair block join ran 4-way). 64 KB
      // keeps thin stages at full parallelism; corpus-sized shuffles
      // never see this floor.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      // OFF: alias-substitution in constraint propagation goes
      // exponential on deep multi-referenced text-feature projections
      // (e.g. the curation gate) and we never benefit from inferred
      // filters; see Curation.curate scaladoc
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config(deploy.toMap))

  /** The spark-submit session of the apps: spark-submit provides
    * `spark.master`; a bare `runMain` falls back to `SPARK_MASTER`,
    * then `local[*]`, so the apps are drivable without a cluster too.
    */
  def submit(appName: String): SparkSession =
    session(_
      .config("spark.master",
        sys.props.getOrElse("spark.master",
          sys.env.getOrElse("SPARK_MASTER", "local[*]")))
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // OFF for the same reason as in [[local]]
      .config("spark.sql.constraintPropagation.enabled", "false"))

  private def session(
      conf: SparkSession.Builder => SparkSession.Builder): SparkSession = {
    val s = conf(SparkSession.builder()).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    SessionTuning(s)
    s
  }
}
