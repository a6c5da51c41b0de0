package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.gen.DocsGen
import graft.io.StagedJob
import graft.ops.Curation
import org.apache.spark.sql.functions.col

/** `curate_corpus`: the CurateApp path, `Curation.curateStaged` with
  * its defaults, over a seeded DocsGen corpus; every pass writes a
  * fresh output directory. Its traced run also times the heavy catalog
  * operators ([[Catalog]]).
  */
object Curate {
  val NDocs = 1000L
  // curateStaged's stage names under its default config
  val Stages = Seq("gate" -> "1_gate", "deboil" -> "2_deboil",
    "exact" -> "3_exact", "neardup" -> "4_neardup")

  /** DocsGen is a pure function of doc_id, so a seed selects a window
    * of `n` ids. Its planted periods (at most 256) are short against
    * the window, so every seed plants the same mix of duplicates.
    */
  def idOffset(seed: Long, n: Long): Long = Math.floorMod(seed, 1000L) * n

  private final case class Marker(rows: Long, seconds: Double)

  private def marker(out: Path, stage: String): Marker = {
    val s = new String(Files.readAllBytes(StagedJob.markerPath(out.toString, stage)),
      StandardCharsets.UTF_8)
    def num(k: String): Long =
      s""""$k":(\\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
        .getOrElse(throw new IllegalStateException(s"marker $stage lacks $k: $s"))
    Marker(num("rows"), (num("end_ms") - num("start_ms")) / 1e3)
  }

  val run: Ctx => Outcome = ctx => {
    val spark = ctx.spark
    val off = idOffset(ctx.seed, NDocs)
    val (setupS, dir) = Passes.setup(ctx) { d =>
      DocsGen.docs(spark, off + NDocs).where(col("doc_id") >= off)
        .write.parquet(d.toString)
    }
    val docs = spark.read.parquet(dir.toString)
    val fileBytes = Session.dirBytes(dir)
    def curate(out: Path): Unit =
      Curation.curateStaged(docs, "doc_id", "text", out.toString)

    (1 to Passes.WarmPasses).foreach { k =>
      val warm = ctx.work.resolve(s"warm-$k")
      curate(warm)
      Session.deleteTree(warm)
    }
    val outs = collection.mutable.ArrayBuffer.empty[Path]
    val p = Passes.run(ctx, ctx.seconds, minPasses = 3) { i =>
      val out = ctx.work.resolve(s"out-$i")
      ctx.tracer match {
        case Some(tr) => tr.span("curate")(curate(out))
        case None => curate(out)
      }
      outs += out
    }
    val w = p.median

    // checks (untimed): the funnel (rows per stage) is identical in
    // every pass, each stage's table is identical in the first and last
    // pass, and for the pinned seed equals the pinned fingerprint
    val markers = outs.toSeq.map(o => Stages.map { case (_, s) => marker(o, s) })
    val funnel = markers.map(_.map(_.rows))
    val funnelProblems =
      if (funnel.distinct.size == 1) Nil
      else Seq(s"curate funnel differs between passes: ${funnel.distinct}")
    val stageOk = Stages.map { case (name, stage) =>
      def fp(o: Path) = Fingerprint.of(spark.read.parquet(o.resolve(s"stage_$stage").toString))
      val a = fp(outs.head)
      val b = fp(outs.last)
      val pin = Fingerprint.checkPin(ctx, "curate_corpus", stage, a)
      val probs = (if (a == b) Nil else Seq(s"stage $stage differs between passes: $a vs $b")) ++ pin
      (name, probs)
    }
    val identity = stageOk.count(_._2.isEmpty).toDouble / Stages.length

    val (layers, more, catalogProblems) =
      if (!ctx.traced) (Map.empty[String, Double], Passes(Nil, 0, 0), Nil)
      else {
        val perStage = Stages.indices.flatMap { k =>
          val name = Stages(k)._1
          Seq(s"curate.${name}_s" -> Window.median(markers.map(_(k).seconds)),
            s"curate.${name}_rows_out" -> markers.head(k).rows.toDouble)
        }.toMap
        val stored = outs.toSeq.map(o => Session.dirBytes(o).toDouble)
        val files = outs.toSeq.map(o => Session.parquetFiles(o).toDouble)
        val (catalog, cp, cProblems) = Catalog.layers(ctx)
        (Passes.sparkLayers(w, p.windows.length) ++ perStage ++ catalog ++ Map(
          "io.stage_commit_s" -> Window.median(markers.map(_.map(_.seconds).sum)),
          "io.read_amp" -> w.inputRecords.toDouble / NDocs,
          "io.bytes_written" -> w.outputBytes.toDouble,
          "io.files_written" -> Window.median(files),
          "io.stored_bytes_per_input_byte" -> Window.median(stored) / fileBytes),
          cp, cProblems)
      }
    val problems = funnelProblems ++ stageOk.flatMap(_._2) ++ catalogProblems
    Outcome(p.attempted + more.attempted, p.failed + more.failed,
      Passes.endToEnd(setupS, w, NDocs, identity, p), layers,
      p.windows.length, problems)
  }
}
