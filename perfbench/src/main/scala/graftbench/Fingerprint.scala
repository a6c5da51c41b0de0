package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Order-independent content fingerprint of a table: row count, XOR of
  * the row hashes, and the sum of the row hashes mod a prime (the sum
  * keeps duplicated rows visible, which XOR alone cancels).
  */
final case class Fingerprint(rows: Long, xor: Long, sum: Long) {
  override def toString: String = s"$rows $xor $sum"
}

object Fingerprint {
  /** The seed whose fingerprints are pinned in perfbench/pins.txt. */
  val PinnedSeed = 42L

  def of(df: DataFrame): Fingerprint = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.select(h.as("_h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("_h")), lit(0L)),
        coalesce(sum(pmod(col("_h"), lit(1000000007L))), lit(0L)))
      .first()
    Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Lines `<workload> <name> <rows> <xor> <sum>`; `#` starts a comment. */
  def readPins(p: Path): Map[(String, String), Fingerprint] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\\s+")
        require(f.length == 5, s"bad pin line: $l")
        (f(0), f(1)) -> Fingerprint(f(2).toLong, f(3).toLong, f(4).toLong)
      }.toMap

  /** Checks `got` against the pin for (workload, name) when the run
    * uses the pinned seed; returns a problem description on mismatch.
    */
  def checkPin(ctx: Ctx, workload: String, name: String,
      got: Fingerprint): Option[String] = {
    System.err.println(s"[perfbench] FINGERPRINT $workload $name $got")
    if (ctx.seed != PinnedSeed) None
    else ctx.pins.get((workload, name)) match {
      case Some(want) if want == got => None
      case Some(want) => Some(s"$workload $name: fingerprint $got, pinned $want")
      case None => Some(s"$workload $name: no pinned fingerprint")
    }
  }
}
