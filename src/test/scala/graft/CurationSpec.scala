package graft

import graft.operators.{Curation, Sampling, Staging, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Curation.pipeline — the staged composition entry point. The full
  * gate→decontaminate→dedup→mix chain replays against the q126 DuckDB
  * oracle (catalog) and the staged-vs-re-derive record (re-derive
  * 16.2/28.8 s vs staged 4.1/8.3 s at 10×/100×) is SURVEY.md's round-14
  * entry; this spec pins the optional paths: no
  * benchmark, subword massCol budgeting, and stage-frame composition.
  */
class CurationSpec extends AnyFunSuite {
  lazy val spark = Tables.session(4)
  val dir = "/root/testdata/sf0.001"

  private def docs = Tables(spark, dir, "documents")
    .select(col("doc_id"), col("source"), col("text"))

  test("no-benchmark path: clean == gated; dedup collapses planted clones; mix matches direct call") {
    val corp = docs.union(docs.filter(col("doc_id") % 3 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L))
    val w = (0 until 20).map(i => s"src$i" -> 1.0).toMap
    val st = Curation.pipeline(corp, "doc_id", "text", "source",
      w, budget = 400L, minTokens = 5, staging = Staging.Local)
    assert(st.clean.count() == st.gated.count(), "no benchmark => no decontamination")
    // every planted clone (same text, higher id) must be gone
    assert(st.unique.filter(col("doc_id") >= 1000000L).count() == 0)
    // the composition equals the hand-assembled mixture over the same survivors
    val direct = Sampling.mixtureSample(
      st.unique.select("doc_id", "source"), "source", "doc_id", w, 400L)
      .select("doc_id", "source", "epoch").collect().map(_.toString).sorted
    val got = st.mixed.select("doc_id", "source", "epoch")
      .collect().map(_.toString).sorted
    assert(got.sameElements(direct))
  }

  test("massCol path: mixture budgets in subword units end-to-end") {
    val counted = TextAnalysis.subwordTokenCount(docs, "doc_id", "text")
    val w = Map("src0" -> 0.5, "src1" -> 0.5)
    val st = Curation.pipeline(counted, "doc_id", "text", "source",
      w, budget = 9000L, massCol = "bpe_tokens", staging = Staging.Local)
    val direct = Sampling.mixtureSample(
      st.unique.select("doc_id", "source", "bpe_tokens"), "source", "doc_id",
      w, 9000L, massCol = "bpe_tokens")
      .select("doc_id", "source", "epoch").collect().map(_.toString).sorted
    val got = st.mixed.select("doc_id", "source", "epoch")
      .collect().map(_.toString).sorted
    assert(got.nonEmpty && got.sameElements(direct))
  }
}
