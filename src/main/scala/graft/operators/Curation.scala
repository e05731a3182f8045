package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end curation chain a training-data user actually runs —
  * quality gate → (optional) bloom-tier benchmark decontamination →
  * exact dedup → mixture materialization — as ONE composition with
  * [[Staging.Mode]] threaded between the stages, so each stage's
  * survivors materialize once and feed the next stage instead of every
  * stage re-deriving the chain from the scan (the round-13 q126 row
  * deliberately re-derives so its oracle covers the raw composition;
  * this is the production entry point that composition was missing —
  * SURVEY.md's round-14 record has the staged-vs-re-derive gap (re-derive
  * 16.2/28.8 s vs staged 4.1/8.3 s at 10×/100×, outputs row-identical),
  * and q126 now drives THIS code under [[Staging.None]], so the entry
  * point itself replays against the full-chain DuckDB oracle).
  *
  * Stage semantics (each independently oracled by its own catalog row):
  *  - gate: keep docs with at least `minTokens` whitespace tokens
  *    (swap in [[TextAnalysis.subwordTokenCount]] upstream and pass its
  *    column as `massCol` to budget the mixture in subword units);
  *  - decontaminate: drop docs sharing any benchmark word `benchGramN`-
  *    gram ([[TextAnalysis.contaminationHitsBloom]] — the codegen bloom
  *    tier, output-identical to the exact tier);
  *  - dedup: exact-duplicate collapse to the min-id survivor
  *    ([[Dedup.exactGroups]]); for near-dup or quality-aware survivor
  *    selection run [[Dedup.keepCanonical]]/[[Dedup.keepBestCanonical]]
  *    between stages — the staged frames compose;
  *  - mix: [[Sampling.mixtureSample]] under `weights`/`budget` (rows,
  *    or `massCol` units).
  *
  * Returns every stage's frame, not counts: counting forces actions the
  * caller may not want (under [[Staging.None]] the frames stay lazy and
  * streaming-safe); staged frames make the counts cheap when wanted. */
object Curation {

  /** Each stage's surviving frame; `mixed` is the training set
    * (idCol, keyCol[, massCol], epoch). */
  final case class Stages(gated: DataFrame, clean: DataFrame,
                          unique: DataFrame, mixed: DataFrame)

  def pipeline(docs: DataFrame, idCol: String, textCol: String,
               keyCol: String, weights: Map[String, Double], budget: Long,
               minTokens: Int = 1,
               benchmark: Option[DataFrame] = None,
               benchGramN: Int = 5,
               massCol: String = "",
               maxEpochs: Int = 100,
               staging: Staging.Mode = Staging.Local): Stages = {
    val gated = staging(
      if (minTokens <= 1) docs
      else docs.filter(size(split(col(textCol), " ")) >= minTokens))
    val clean = benchmark match {
      case Some(b) =>
        val hits = TextAnalysis.contaminationHitsBloom(
          gated, b, idCol, textCol, n = benchGramN, staging = staging)
          .select(idCol)
        staging(gated.join(hits, Seq(idCol), "left_anti"))
      case None => gated
    }
    val keep = Dedup.exactGroups(clean, idCol, textCol)
      .select(col("keep_id").as(idCol))
    val unique = staging(clean.join(keep, Seq(idCol), "left_semi"))
    val mixCols =
      if (massCol.isEmpty) Seq(idCol, keyCol) else Seq(idCol, keyCol, massCol)
    val mixed = Sampling.mixtureSample(
      unique.select(mixCols.map(col): _*), keyCol, idCol,
      weights, budget, maxEpochs, massCol, staging)
    Stages(gated, clean, unique, mixed)
  }
}
