package graftbench

import java.nio.file.Path

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global

import graft.extract.{ContentExtractor, PdfExtractor}
import graft.gen.PagesGen
import graft.io.TableIO
import graft.model.Page
import graft.pipeline.{ExtractionPipeline, ScalarEvaluator}
import graft.rules.{RuleSets, ScalarRules}
import org.apache.spark.sql.Dataset

/** `extract_pages`: the read-only records job over seeded pages, the
  * paper's headline. Its traced run also times each layer of the job,
  * the single-thread kernels, and the same pages through the resumable
  * bucket-wave write path, killed half way and resumed.
  */
object Extract {
  // 2000 seeded pages at boost 8 (~7.5 KB of HTML each on average)
  val NPages = 2000L
  val Boost = 8
  // two waves of 8 buckets; the kill lands after the first
  val Buckets = 16
  val WaveSize = 8
  val KillAfter = Buckets / 2
  private val rs = RuleSets.plugin

  private final case class Input(setupS: Double, pages: Dataset[Page],
      fileBytes: Long)

  private def input(ctx: Ctx): Input = {
    val spark = ctx.spark
    import spark.implicits._
    val (setupS, dir) = Passes.setup(ctx) { d =>
      PagesGen.pages(spark, NPages, ctx.seed, boost = Boost)
        .write.parquet(d.toString)
    }
    Input(setupS, spark.read.parquet(dir.toString).as[Page],
      Session.dirBytes(dir))
  }

  private def recordsPass(pages: Dataset[Page]): Unit =
    ExtractionPipeline.records(pages, rs)
      .write.format("noop").mode("overwrite").save()

  /** The records job with every layer boundary fenced by an eager
    * localCheckpoint, so each span times exactly its own layer.
    */
  private def layeredPass(ctx: Ctx, pages: Dataset[Page]): Unit = {
    val tr = ctx.tracer.get
    tr.span("pass") {
      val pt = tr.span("extract") {
        ExtractionPipeline.pageTexts(pages, needMain = false).localCheckpoint()
      }
      val cl = tr.span("rules") {
        ExtractionPipeline.classifyPages(pt, rs).localCheckpoint()
      }
      val sg = tr.span("segments") {
        ExtractionPipeline.segments(cl).localCheckpoint()
      }
      tr.span("fields") {
        ExtractionPipeline.recordsFromSegments(sg, rs)
          .write.format("noop").mode("overwrite").save()
      }
    }
    Session.releaseBlocks(ctx.spark)
  }

  /** Scalar twins of every page, computed on all cores. */
  private def twins(pages: Seq[Page]): Map[String, Canon.Twin] = {
    val chunks = pages.grouped(math.max(1, pages.length / 16)).toSeq
    val fs = chunks.map(c => Future(c.map(p => p.url -> Canon.twin(p, rs))))
    Await.result(Future.sequence(fs), Duration.Inf).flatten.toMap
  }

  private final case class Identity(rate: Double, records: Long,
      errorPages: Long, problems: Seq[String], local: Seq[Page],
      twins: Map[String, Canon.Twin])

  private def identity(ctx: Ctx, in: Input,
      records: org.apache.spark.sql.DataFrame): Identity = {
    Log("checks")
    val local = in.pages.collect().toSeq
    val tw = twins(local)
    Log("twins done")
    val recs = Canon.sparkRecords(records)
    val mains = Canon.sparkMainTexts(in.pages)
    val same = Canon.identicalPages(local, tw, recs, mains)
    val probs =
      if (same == local.length) Nil
      else Seq(s"${local.length - same} of ${local.length} pages differ from the scalar twin")
    Identity(same.toDouble / local.length, recs.values.map(_.length.toLong).sum,
      tw.values.count(_.error).toLong, probs, local, tw)
  }

  /** Per-layer metrics of the records job: traced layer spans,
    * single-thread kernel costs, and the traced-vs-untraced gap.
    */
  private def recordLayers(ctx: Ctx, in: Input, untracedS: Double)
      : Map[String, Double] = {
    Passes.run(ctx, ctx.seconds / 2, minPasses = 3)(_ => layeredPass(ctx, in.pages))
    val tr = ctx.tracer.get
    val sample = in.pages.collect().toSeq
    val (pdfs, htmls) = sample.filter(p => p.html != null && p.html.nonEmpty)
      .partition(p => PdfExtractor.isPdf(p.html))
    val mds = htmls.map(p => ContentExtractor.extract(p.html).page_md)
    Map(
      "extract.spark_s" -> tr.medianSeconds("extract"),
      "rules.spark_s" -> tr.medianSeconds("rules"),
      "pipeline.segments_s" -> tr.medianSeconds("segments"),
      "pipeline.fields_s" -> tr.medianSeconds("fields"),
      "pipeline.trace_overhead_s" -> (tr.medianSeconds("pass") - untracedS),
      "extract.html_us_per_page" ->
        Passes.usPerItem(htmls, 0.4)(p => ContentExtractor.extract(p.html)),
      "extract.pdf_us_per_page" ->
        Passes.usPerItem(pdfs, 0.4)(p => ContentExtractor.extract(p.html)),
      "rules.classify_us_per_page" ->
        Passes.usPerItem(mds, 0.4)(md => ScalarRules.classifyPage(md, rs)),
      "pipeline.scalar_us_per_page" ->
        Passes.usPerItem(sample, 0.4)(p => ScalarEvaluator.process(p, rs)))
  }

  /** The write path, run only in traced runs: an uninterrupted
    * runResumable (which also warms the write plans) as the reference,
    * then killed-and-resumed passes into fresh directories. Returns the
    * io-layer metrics and any lineage or identity problems.
    */
  private def resumableLayers(ctx: Ctx, in: Input, recordsS: Double,
      tw: Map[String, Canon.Twin], local: Seq[Page])
      : (Map[String, Double], Passes, Seq[String]) = {
    val ref = ctx.work.resolve("uninterrupted")
    TableIO.runResumable(in.pages, ref.toString, Buckets, WaveSize, rs)
    val want = TableIO.readLineage(ref.toString)
      .map { case (b, l) => b -> (l.status, l.outputRows, l.contentHash) }
    val outs = collection.mutable.ArrayBuffer.empty[(Path, Int)]
    val p = Passes.run(ctx, 0, minPasses = 2) { i =>
      val out = ctx.work.resolve(s"resumed-$i")
      outs += ((out, ctx.tracer.get.span("resumable")(killAndResume(in.pages, out))))
    }
    val w = p.median
    val lineageProblems = outs.toSeq.flatMap { case (out, resumed) =>
      val got = TableIO.readLineage(out.toString)
        .map { case (b, l) => b -> (l.status, l.outputRows, l.contentHash) }
      (if (got == want && want.size == Buckets) Nil
       else Seq(s"$out: resumed lineage differs from the uninterrupted run")) ++
        (if (resumed == Buckets - KillAfter) Nil
         else Seq(s"$out: resume committed $resumed buckets, expected ${Buckets - KillAfter}"))
    }
    val committed = Canon.sparkRecords(TableIO.readCommitted(ctx.spark, outs.head._1.toString))
    val differ = local.count(q => committed.getOrElse(q.url, Nil) != tw(q.url).records)
    val identityProblems =
      if (differ == 0) Nil
      else Seq(s"$differ pages: committed records differ from the scalar twin")
    val waves = outs.toSeq.flatMap { case (out, _) =>
      TableIO.readLineage(out.toString).values.groupBy(_.startedMs)
        .values.map(ls => (ls.map(_.finishedMs).max - ls.head.startedMs) / 1e3)
    }
    def med(f: Path => Double) = Window.median(outs.toSeq.map(o => f(o._1)))
    val layers = Map(
      "io.wave_s" -> Window.median(waves),
      "io.jobs_per_wave" -> w.jobs.toDouble / (Buckets / WaveSize),
      "io.read_amp" -> w.inputRecords.toDouble / NPages,
      "io.bytes_written" -> w.outputBytes.toDouble,
      "io.files_written" -> med(o => Session.parquetFiles(o).toDouble),
      "io.useful_ratio" -> recordsS / w.wallS,
      "io.buckets_recomputed_on_resume" -> Window.median(outs.toSeq.map(_._2.toDouble)),
      "io.stored_bytes_per_input_byte" -> med(o => Session.dirBytes(o).toDouble) / in.fileBytes)
    (layers, p, lineageProblems ++ identityProblems)
  }

  /** One killed-and-resumed run into a fresh `out`; returns the number
    * of buckets the resume committed.
    */
  private def killAndResume(pages: Dataset[Page], out: Path): Int = {
    try {
      TableIO.runResumable(pages, out.toString, Buckets, WaveSize, rs,
        failAfter = KillAfter)
      throw new IllegalStateException("the kill hook did not fire")
    } catch {
      case e: RuntimeException if e.getMessage.startsWith("injected failure") =>
    }
    TableIO.runResumable(pages, out.toString, Buckets, WaveSize, rs)
  }

  val pages: Ctx => Outcome = ctx => {
    val in = input(ctx)
    // warm: codegen, parquet footers, and JIT
    (1 to Passes.WarmPasses).foreach(_ => recordsPass(in.pages))
    val p = Passes.run(ctx, ctx.seconds, minPasses = 4)(_ => recordsPass(in.pages))
    val w = p.median
    val id = identity(ctx, in, ExtractionPipeline.records(in.pages, rs))
    val (layers, more, problems) =
      if (!ctx.traced) (Map.empty[String, Double], Passes(Nil, 0, 0), id.problems)
      else {
        val (io, rp, ioProblems) =
          resumableLayers(ctx, in, w.wallS, id.twins, id.local)
        (Passes.sparkLayers(w, p.windows.length) ++ recordLayers(ctx, in, w.wallS) ++
          io ++ Map(
            "extract.error_pages" -> id.errorPages.toDouble,
            "pipeline.records_out" -> id.records.toDouble),
          rp, id.problems ++ ioProblems)
      }
    Outcome(p.attempted + more.attempted, p.failed + more.failed,
      Passes.endToEnd(in.setupS, w, NPages, id.rate, p), layers,
      p.windows.length, problems)
  }
}
