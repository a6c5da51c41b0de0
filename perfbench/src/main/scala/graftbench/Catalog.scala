package graftbench

import graft.SparkEntry
import graft.gen.DocsGen
import org.apache.spark.sql.functions.col

/** The heavy catalog operators, timed in the traced run of
  * `curate_corpus` over a seeded documents/embeddings corpus built the
  * way BenchScale builds it. Each query is warmed (and fingerprinted)
  * right before its timed reps, as Bench does, so no query runs on
  * another's codegen cache.
  */
object Catalog {
  val Queries = Seq("q28_minhash_lsh", "q74_pagerank", "q97_bm25",
    "q103_ann_ivfpq", "q155_suffix_array", "q156_sa_dup_spans",
    "q158_lexrank", "q181_margin_ann")
  val NDocs = 400L
  // BenchScale's documents:embeddings ratio (5:2)
  val NVecs = NDocs * 2 / 5

  /** Per-query median seconds, the query runs made, and the problems
    * found (a fingerprint that differs from its pin).
    */
  def layers(ctx: Ctx): (Map[String, Double], Passes, Seq[String]) = {
    val spark = ctx.spark
    val off = Curate.idOffset(ctx.seed, NDocs)
    val dir = ctx.work.resolve("catalog").toString
    // ids are renumbered from 0: q103/q181 pick their query vectors by id
    DocsGen.documentsTable(spark, off + NDocs).where(col("doc_id") >= off)
      .withColumn("doc_id", col("doc_id") - off)
      .write.parquet(s"$dir/documents.parquet")
    DocsGen.embeddingsTable(spark, off + NVecs).where(col("vec_id") >= off)
      .withColumn("vec_id", col("vec_id") - off)
      .write.parquet(s"$dir/embeddings.parquet")
    val slice = ctx.seconds / Queries.length
    val per = Queries.map { q =>
      val fn = SparkEntry.queries(q)
      Session.releaseBlocks(spark)
      // the warm run doubles as the correctness fingerprint
      val fp = Fingerprint.of(fn(spark, dir))
      val reps = Passes.run(ctx, slice, minPasses = 1) { _ =>
        ctx.tracer.get.span(q) {
          fn(spark, dir).write.format("noop").mode("overwrite").save()
        }
      }
      (q, reps, Fingerprint.checkPin(ctx, "catalog", q, fp).toSeq)
    }
    val all = Passes(Nil, per.map(_._2.attempted).sum, per.map(_._2.failed).sum)
    (per.map { case (q, r, _) => s"catalog.${q}_s" -> r.median.wallS }.toMap,
      all, per.flatMap(_._3))
  }
}
