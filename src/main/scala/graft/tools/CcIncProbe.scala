package graft.tools

import graft.Tables
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Dev probe: incremental connected components vs the naive full re-run
  * — the group-sized consumer's member of the incremental quartet
  * (MinHash IncProbe, embedding EmbedIncProbe, containment
  * ContainIncProbe, SemDeDup SemIncProbe).
  *
  * Usage: runMain graft.tools.CcIncProbe <sfDir> [copies] [shardMod] [chainLen]
  *
  * The corpus graph derives deterministically from the documents table:
  * every doc id anchors a `chainLen`-node PATH component (d — d+100M —
  * d+200M — ...; default 8, diameter 7) — depth matters, because a full
  * CC re-run pays O(log diameter) rounds of corpus-scale shuffles +
  * checkpoints, while the incremental path sees every frozen component
  * COLLAPSED TO A STAR (members → label) whatever its original depth:
  * its subgraph converges in 2-3 rounds over touched rows only. The
  * corpus is id-shifted `copies` times for the ladder (components scale
  * linearly). The arriving shard adds one new node + edge to
  * every `shardMod`-th component — the quote-cluster arrival shape:
  * most components untouched, a thin slice re-propagated. Times, warm:
  *   frozen   batch CC over the corpus edges (amortized: the state the
  *            incremental path starts from, built once per corpus)
  *   delta    connectedComponentsIncremental(deltaOnly = true) — the
  *            per-shard cost a PERSISTED-labels pipeline pays: only the
  *            re-propagated rows are computed and materialized, the
  *            untouched corpus stays on disk (append-with-batch-id, read
  *            latest-wins — the index families' ingest discipline).
  *            When the symmetric shard + touched-star edge rows fit
  *            Dedup.ccLocalEdges, this arm measures the
  *            DRIVER-LOCAL union-find regime, not the round loop; raise
  *            `copies`/lower `shardMod` past the bound to time the loop
  *   inc-full full-mode incremental — the complete updated catalog
  *            re-materialized per shard; kept to show WHY delta is the
  *            pipeline shape (the O(corpus) union/anti-join dominates)
  *   full     connectedComponents(corpus ∪ shard edges) — the naive
  *            re-run the incremental path replaces
  * The claim being measured: delta tracks the TOUCHED-component count
  * (corpus/shardMod) while full re-pays every component every shard, so
  * the gap widens with both `copies` and `shardMod`. The incremental
  * output is equality-checked against batch-over-union (full mode
  * directly; delta mode via delta ∪ untouched) before timing is trusted.
  */
object CcIncProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val copies = args.drop(1).headOption.map(_.toInt).getOrElse(1)
    val shardMod = args.drop(2).headOption.map(_.toInt).getOrElse(40)
    val chainLen = args.drop(3).headOption.map(_.toInt).getOrElse(8)
    val spark = Tables.session(32)
    import spark.implicits._
    val baseIds = Tables(spark, dir, "documents").select(col("doc_id"))
    // id arithmetic derived from the DATA, not hardcoded (round-13
    // advisory): the copy stride comes from max(doc_id)+1 so copies
    // can never overlap, the per-chain-level stride must clear every
    // copied id, and the new-node offset sits one level past the
    // deepest chain level — all three require()d below so a collision
    // cannot silently misreport component/touched counts.
    val copyStride = baseIds.agg(max("doc_id")).head.getLong(0) + 1L
    val levelStride = 100000000L
    require(copies.toLong * copyStride <= levelStride,
      s"copies*stride = ${copies * copyStride} must stay under the " +
        s"chain-level stride $levelStride or chain levels collide")
    val newNodeOffset = chainLen.toLong * levelStride
    val ids = (0 until copies).map(k =>
      baseIds.select((col("doc_id") + k * copyStride).as("id")))
      .reduce(_ union _).localCheckpoint(true)
    val corpusEdges = (0 until chainLen - 1).map(k =>
      ids.select((col("id") + k * levelStride).as("a_id"),
        (col("id") + (k + 1) * levelStride).as("b_id")))
      .reduce(_ union _).localCheckpoint(true)
    // the new node attaches to the chain's DEEP end — farthest from the
    // component min, the worst case for a naive full re-run
    val shardEdges = ids.filter(pmod(col("id"), lit(shardMod)) === 0)
      .select((col("id") + newNodeOffset).as("a_id"),
        (col("id") + (chainLen - 1) * levelStride).as("b_id"))
      .localCheckpoint(true)
    val nComp = ids.count(); val nTouched = shardEdges.count()
    println(s"[ccinc] components=$nComp (chainLen=$chainLen) touched=$nTouched copies=$copies ($dir)")

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[ccinc] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    // warmup: JIT/codegen for the CC round plan
    Dedup.connectedComponents(corpusEdges.limit(2000), "a_id", "b_id").count()

    val frozen = time("frozen   (amortized, once per corpus)") {
      val l = Dedup.connectedComponents(corpusEdges, "a_id", "b_id")
        .localCheckpoint(true)
      l.count(); l
    }
    val delta = time("delta    (per-shard: touched rows only)") {
      val l = Dedup.connectedComponentsIncremental(frozen, shardEdges,
        "a_id", "b_id", deltaOnly = true).localCheckpoint(true)
      println(s"[ccinc]   -> ${l.count()} re-propagated rows")
      l
    }
    val inc = time("inc-full (complete catalog re-materialized)") {
      val l = Dedup.connectedComponentsIncremental(frozen, shardEdges,
        "a_id", "b_id").localCheckpoint(true)
      println(s"[ccinc]   -> ${l.count()} labeled nodes")
      l
    }
    val full = time("full     (naive re-run over corpus + shard)") {
      val l = Dedup.connectedComponents(corpusEdges.union(shardEdges),
        "a_id", "b_id").localCheckpoint(true)
      println(s"[ccinc]   -> ${l.count()} labeled nodes")
      l
    }
    val d1 = inc.exceptAll(full).count(); val d2 = full.exceptAll(inc).count()
    require(d1 == 0 && d2 == 0,
      s"incremental CC diverged from batch-over-union ($d1/$d2 rows)")
    // delta ∪ untouched == full — the persisted-table read contract
    val merged = delta.union(
      frozen.join(delta.select(col("id")), Seq("id"), "left_anti"))
    val d3 = merged.exceptAll(full).count(); val d4 = full.exceptAll(merged).count()
    require(d3 == 0 && d4 == 0,
      s"delta ∪ untouched diverged from batch-over-union ($d3/$d4 rows)")
    println("[ccinc] equality: incremental (both modes) == batch-over-union")
    spark.stop()
  }
}
