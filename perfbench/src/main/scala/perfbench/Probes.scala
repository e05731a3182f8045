package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions
import graft.operators.{Dedup, TextAnalysis}

/** Probes of the traced runs, outside the timed passes. */
object Probes {
  /** Iterative-fit rows too slow for a timed analytics pass: q105 (the
    * clustering pipeline with its Hartigan-Wong polish) and q106
    * (kernel-density naive Bayes), once each. Their outputs are checked
    * like any row's. */
  val FitRows = Seq("q105_center_unscale", "q106_kde_nb")

  def fits(ctx: Main.Ctx): Unit =
    ctx.extra("probe_ops") = FitRows.map { q =>
      ctx.trace.span("probe.fit", s"analytics/probe/$q")(Main.runRow(ctx, q, s"analytics/probe/$q"))
    }

  /** Kernel throughput probes of the traced dedup_search run: each forces
    * one expression over the staged documents or embeddings and reports
    * rows/s (median of three). */
  val Reps = 3
  val Replicas = 10  // copies of the input per probe, so a probe is mostly kernel time

  def kernels(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val reps = lit((1 to Replicas).toArray)
    val docs = graft.Tables(spark, ctx.dir, "documents").select("doc_id", "text")
      .withColumn("__r", explode(reps)).withColumn("__toks", split(col("text"), " "))
      .repartition(ctx.nproc).localCheckpoint()
    val vecs = graft.Tables(spark, ctx.dir, "embeddings")
      .select(col("embedding").cast("array<double>").as("v"))
      .withColumn("__r", explode(reps)).repartition(ctx.nproc).localCheckpoint()
    val rng = new scala.util.Random(7)
    val codebooks = Array.fill(8, 16, 8)(rng.nextGaussian())
    val probes: Seq[(String, () => DataFrame)] = Seq(
      "minhash" -> (() => docs.select(Dedup.minhashSignatureExpr(col("__toks")).as("s"))),
      "simhash" -> (() => docs.select(Dedup.simhash64("__toks").as("s"))),
      "bpe" -> (() => TextAnalysis.byteMergeTokenCount(docs, "doc_id", "text").select("bpe_tokens")),
      "dot" -> (() => vecs.select(VectorExpressions.dot(col("v"), col("v")).as("s"))),
      "pq_lut" -> (() => vecs.select(VectorExpressions.pqLut(col("v"), codebooks).as("s"))))
    val n = Map("docs" -> docs.count(), "vecs" -> vecs.count())
    probes.foreach { case (k, df) =>
      val rows = if (k == "dot" || k == "pq_lut") n("vecs") else n("docs")
      val rates = (1 to Reps).map { r =>
        val t0 = Clock.now
        ctx.trace.span(s"functions.$k", s"dedup_search/probe/$k/$r") {
          df().write.format("noop").mode("overwrite").save()
        }
        rows / ((Clock.now - t0) / 1e3)
      }.sorted
      ctx.extra += s"${k}_rows_per_s" -> rates(Reps / 2)
    }
  }
}
