package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Session conf has one owner: the mains get their sessions from
  * [[GraftSession]], so a probe cannot time a plan the benchmark never
  * runs. Bench and Verify keep their own (frozen) blocks, and
  * BenchStandalone's session carries a real cluster's master and
  * executor settings.
  */
class SessionSitesSpec extends AnyFunSuite {
  private val Allowed = Set("Bench.scala", "Verify.scala",
    "BenchStandalone.scala", "GraftSession.scala")

  test("only GraftSession, Bench, Verify and BenchStandalone build sessions") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"no $root under ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    val sources = try walk.iterator().asScala.toList finally walk.close()
    val builders = sources
      .filter(_.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8")
        .contains("SparkSession.builder"))
      .map((p: Path) => p.getFileName.toString)
    assert(builders.nonEmpty)
    assert(builders.filterNot(Allowed).isEmpty,
      "build the session with GraftSession instead: " +
        builders.filterNot(Allowed).mkString(", "))
  }
}
