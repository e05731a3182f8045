package graft

import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the LLM-pipeline operators on hand-built corpora where
  * ground truth is known. */
class DedupSpec extends AnyFunSuite {
  lazy val spark = Tables.session(4)
  import spark.implicits._

  val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup
    (4L, "completely different words about spark engines and distributed queries here"),
    (5L, "another unrelated document discussing database optimizers and join plans")
  ).toDF("doc_id", "text")

  test("containment: prefix-filtered join == exact tier; excerpts found; semantics") {
    // excerpt of 4 (first half of its tokens): containment 1.0 into 4,
    // while Jaccard(excerpt, 4) is far below any useful threshold — the
    // case the resemblance-targeting MinHash paths structurally miss
    val excerpt = Seq((104L, "completely different words about spark")).toDF("doc_id", "text")
    val tiny = Seq((9L, "two words")).toDF("doc_id", "text") // < 3 tokens: no shingles
    val docs = corpus.union(excerpt).union(tiny)
    val exact = Dedup.containmentPairsExact(docs, "doc_id", "text", tau = 0.5)
      .orderBy("a_id", "b_id").collect()
    val pref = Dedup.containmentJoin(docs, "doc_id", "text", tau = 0.5)
      .orderBy("a_id", "b_id").collect()
    assert(pref.map(_.toString).sameElements(exact.map(_.toString)),
      s"prefix join diverges: exact=${exact.mkString(";")} pref=${pref.mkString(";")}")
    val asMap = exact.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // excerpt → source: full containment, one direction only at tau 0.5
    assert(asMap((104L, 4L)) == 1.0)
    assert(!asMap.contains((4L, 104L)), "long doc is not contained in its excerpt")
    // exact dups contain each other both ways at 1.0
    assert(asMap((1L, 2L)) == 1.0 && asMap((2L, 1L)) == 1.0)
    // sub-n-token doc is outside the containment universe
    assert(!exact.exists(r => r.getLong(0) == 9L || r.getLong(1) == 9L))
    // near-dup 1↔3: 11 shared of 12 distinct trigrams (only the final
    // "river bank today/tonight" trigram differs), fixed-point floored
    assert(asMap((1L, 3L)) == math.floor(11.0 / 12.0 * 1e6) / 1e6)
  }

  test("containment tiers agree on real documents with derived excerpts") {
    val base = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val excerpts = base.filter(col("doc_id") % 3 === 0)
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("text",
        expr("concat_ws(' ', slice(__toks, 1, CAST(size(__toks) DIV 2 AS INT)))"))
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
    val docs = base.union(excerpts)
    val exact = Dedup.containmentPairsExact(docs, "doc_id", "text", tau = 0.5)
      .orderBy("a_id", "b_id").collect()
    val pref = Dedup.containmentJoin(docs, "doc_id", "text", tau = 0.5)
      .orderBy("a_id", "b_id").collect()
    assert(exact.length >= excerpts.count(), "every excerpt must hit its source")
    assert(pref.map(_.toString).sameElements(exact.map(_.toString)),
      s"tiers diverge on real docs: exact=${exact.length} pref=${pref.length}")
    // budget guards refuse loudly, naming the scale path / the cap
    val eBig = intercept[IllegalArgumentException](
      Dedup.containmentPairsExact(docs, "doc_id", "text", 0.5, maxPairs = 10L))
    assert(eBig.getMessage.contains("containmentJoin"))
    val cBig = intercept[IllegalArgumentException](
      Dedup.containmentJoin(docs, "doc_id", "text", 0.5, maxCandidates = 10L))
    assert(cBig.getMessage.contains("budget"))
  }

  test("incremental containment collapse branches are row-identical on a clone-bearing corpus") {
    // groups of 3 identical texts (identical shingle sets) so the
    // forced-collapse branch really elects representatives and expands;
    // the forced-lean branch scores every member pair directly
    val b0 = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").filter(col("doc_id") < 120)
    val clones = b0
      .union(b0.withColumn("doc_id", col("doc_id") + 1000000L))
      .union(b0.withColumn("doc_id", col("doc_id") + 2000000L))
    val shard = b0.filter(col("doc_id") % 3 === 0)
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("text",
        expr("concat_ws(' ', slice(__toks, 1, CAST(size(__toks) DIV 2 AS INT)))"))
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
    val cIdx = Dedup.containmentIndex(clones, "doc_id", "text")
    val sIdx = Dedup.containmentIndex(shard, "doc_id", "text")
    val lean = Dedup.containmentJoinIncremental(sIdx, cIdx, tau = 0.5,
        collapsePairsPerDoc = Double.PositiveInfinity)
      .orderBy("a_id", "b_id").collect().map(_.toString)
    val coll = Dedup.containmentJoinIncremental(sIdx, cIdx, tau = 0.5,
        collapsePairsPerDoc = 0.0)
      .orderBy("a_id", "b_id").collect().map(_.toString)
    assert(lean.nonEmpty, "excerpt shard must contain into its clone sources")
    assert(coll.sameElements(lean),
      s"branch divergence: collapsed=${coll.length} lean=${lean.length}")
    // the FULL operator's branches on the same clone corpus ∪ shard
    val all = clones.union(shard)
    val fullLean = Dedup.containmentJoin(all, "doc_id", "text", tau = 0.5,
        collapsePairsPerDoc = Double.PositiveInfinity)
      .orderBy("a_id", "b_id").collect().map(_.toString)
    val fullColl = Dedup.containmentJoin(all, "doc_id", "text", tau = 0.5,
        collapsePairsPerDoc = 0.0)
      .orderBy("a_id", "b_id").collect().map(_.toString)
    assert(fullLean.nonEmpty)
    assert(fullColl.sameElements(fullLean),
      s"full-operator branch divergence: collapsed=${fullColl.length} lean=${fullLean.length}")
  }

  test("incremental containment == full run restricted to shard-touching pairs; gate == corpus direction") {
    val base = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val shard = base.filter(col("doc_id") % 3 === 0)
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("text",
        expr("concat_ws(' ', slice(__toks, 1, CAST(size(__toks) DIV 2 AS INT)))"))
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
    val cIdx = Dedup.containmentIndex(base, "doc_id", "text")
    val sIdx = Dedup.containmentIndex(shard, "doc_id", "text")
    val inc = Dedup.containmentJoinIncremental(sIdx, cIdx, tau = 0.5)
      .orderBy("a_id", "b_id").collect()
    val full = Dedup.containmentJoin(base.union(shard), "doc_id", "text", tau = 0.5)
      .filter(col("a_id") >= 20000000L || col("b_id") >= 20000000L)
      .orderBy("a_id", "b_id").collect()
    assert(inc.nonEmpty, "excerpt shard must contain into its sources")
    assert(inc.map(_.toString).sameElements(full.map(_.toString)),
      s"incremental diverges from full: inc=${inc.length} full=${full.length}")
    // every excerpt contains fully into its source (containment 1.0)
    val intoSource = inc.filter(r =>
      r.getLong(0) >= 20000000L && r.getLong(0) - 20000000L == r.getLong(1))
    assert(intoSource.nonEmpty && intoSource.forall(_.getDouble(2) == 1.0))
    // no corpus-internal pairs leak in
    assert(inc.forall(r => r.getLong(0) >= 20000000L || r.getLong(1) >= 20000000L))
    // the stateless gate == the incremental run's shard→corpus direction
    val gate = Dedup.containmentMatchCorpus(shard, "doc_id", "text", cIdx, tau = 0.5)
      .orderBy("a_id", "b_id").collect()
    val crossDir = inc.filter(r => r.getLong(0) >= 20000000L && r.getLong(1) < 20000000L)
    assert(gate.map(_.toString).sameElements(crossDir.map(_.toString)),
      s"gate diverges from incremental cross direction: gate=${gate.length} dir=${crossDir.length}")
    // two-batch folding: a second batch against the folded index equals
    // the full run over all three generations, restricted
    val batch2 = base.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 40000000L)
    val b2 = Dedup.containmentIndex(batch2, "doc_id", "text")
    val inc2 = Dedup.containmentJoinIncremental(b2, cIdx.union(sIdx), tau = 0.5)
      .orderBy("a_id", "b_id").collect()
    val full2 = Dedup.containmentJoin(base.union(shard).union(batch2),
        "doc_id", "text", tau = 0.5)
      .filter(col("a_id") >= 40000000L || col("b_id") >= 40000000L)
      .orderBy("a_id", "b_id").collect()
    assert(inc2.map(_.toString).sameElements(full2.map(_.toString)))
    // mismatched shingle families refuse loudly
    val n4 = Dedup.containmentIndex(shard, "doc_id", "text", n = 4)
    intercept[IllegalArgumentException](
      Dedup.containmentJoinIncremental(n4, cIdx, tau = 0.5))
    intercept[IllegalArgumentException](cIdx.union(n4))
    intercept[IllegalArgumentException](
      Dedup.containmentMatchCorpus(shard, "doc_id", "text", n4, tau = 0.5))
  }

  test("containmentEdgesIncremental: accumulated batch edges give the full pair graph's components, both branches") {
    // three arrival batches over a corpus with excerpt stars AND
    // identical-set clone groups, so the collapse branch's star/era
    // edges and the rep-level cross edges are all exercised
    val b0 = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").filter(col("doc_id") < 120)
    val clones = b0.filter(col("doc_id") < 40)
      .union(b0.filter(col("doc_id") < 40)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val excerpts = b0.filter(col("doc_id") % 3 === 0)
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("text",
        expr("concat_ws(' ', slice(__toks, 1, CAST(size(__toks) DIV 2 AS INT)))"))
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
    val all = b0.union(clones.filter(col("doc_id") >= 1000000L)).union(excerpts)
      .localCheckpoint(true)
    // batch split on a stable residue; batch 1 gets the CLONES so the
    // clone of a batch-0 doc arrives later (era-edge path), batch 2
    // gets the excerpts (cross-group path)
    val batches = Seq(
      all.filter(col("doc_id") < 1000000L),
      all.filter(col("doc_id") >= 1000000L && col("doc_id") < 20000000L),
      all.filter(col("doc_id") >= 20000000L))
    for (forcedRatio <- Seq(Double.PositiveInfinity, 0.0)) {
      var corpusIdx: Option[Dedup.ContainmentIndex] = None
      var edges = spark.emptyDataFrame.select(lit(0L).as("u"), lit(0L).as("v")).limit(0)
      batches.foreach { b =>
        val sIdx = Dedup.containmentIndex(b, "doc_id", "text")
        val cIdx = corpusIdx.getOrElse(Dedup.ContainmentIndex("doc_id", 3,
          sIdx.base.limit(0), sIdx.posting.limit(0)))
        edges = edges.union(Dedup.containmentEdgesIncremental(sIdx, cIdx,
          tau = 0.5, collapsePairsPerDoc = forcedRatio))
        corpusIdx = Some(cIdx.union(sIdx))
      }
      val incComps = Dedup.connectedComponents(edges.localCheckpoint(true), "u", "v")
        .orderBy("id").collect().map(_.toString)
      val fullPairs = Dedup.containmentJoin(all, "doc_id", "text", tau = 0.5)
        .select("a_id", "b_id")
      val fullComps = Dedup.connectedComponents(fullPairs, "a_id", "b_id")
        .orderBy("id").collect().map(_.toString)
      assert(fullComps.nonEmpty, "fixture must produce real components")
      assert(incComps.sameElements(fullComps),
        s"edge-mode components diverge (ratio=$forcedRatio): " +
          s"inc=${incComps.length} full=${fullComps.length}")
    }
  }

  test("exactGroups collapses exact duplicates to min id") {
    val g = Dedup.exactGroups(corpus, "doc_id", "text").collect()
    assert(g.length == 4)
    val dup = g.find(_.getAs[Long]("cnt") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("Staging modes are result-identical: Local == Reliable == None") {
    import graft.operators.Staging
    val docs2 = corpus.union(corpus.withColumn("doc_id", col("doc_id") + 100))
    def run(m: Staging.Mode) =
      Dedup.minhashLshPairs(docs2, "doc_id", "text", threshold = 0.5, staging = m)
        .orderBy("a_id", "b_id").collect().map(_.toString).toSeq
    val local = run(Staging.Local)
    assert(local.nonEmpty)
    assert(run(Staging.None) == local)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    assert(run(Staging.Reliable(ckpt)) == local)
    // the reliable mode actually wrote checkpoint data
    assert(new java.io.File(ckpt).listFiles().nonEmpty)
    // connectedComponents accepts a mode too (iterative staging path)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val viaNone = Dedup.connectedComponents(pairs, "a", "b", staging = Staging.None)
      .orderBy("id").collect().map(_.toString).toSeq
    val viaLocal = Dedup.connectedComponents(pairs, "a", "b")
      .orderBy("id").collect().map(_.toString).toSeq
    assert(viaNone == viaLocal)
  }

  test("requirePairBudget: exact count, passes at budget, refuses loudly past it") {
    // 2 blocks: x has 3 probe x 4 corpus = 12, y has 1 x 2 = 2 -> 14 pairs
    val probe = Seq(("x", 1L), ("x", 2L), ("x", 3L), ("y", 4L)).toDF("src", "id")
    val corp = (1L to 4L).map(("x", _)) ++ Seq(("y", 5L), ("y", 6L))
    val corpDf = corp.toDF("src", "id")
    Dedup.requirePairBudget(probe, corpDf, "src", maxPairs = 14L) // exact boundary passes
    val e = intercept[IllegalArgumentException](
      Dedup.requirePairBudget(probe, corpDf, "src", maxPairs = 13L))
    assert(e.getMessage.contains("14 candidate pairs"))
    assert(e.getMessage.contains("minhashLshPairs")) // names the scale path
    // disjoint blocks -> zero pairs, any budget passes
    Dedup.requirePairBudget(probe.filter($"src" === "y"),
      corpDf.filter($"src" === "x"), "src", maxPairs = 0L)
  }

  test("cosineDupPairs refuses past its all-pairs budget, names lshDupPairs") {
    val vecs = (0L until 10L).map(i => (i, Array(1.0f, i.toFloat)))
      .toDF("vec_id", "embedding")
    assert(Similarity.cosineDupPairs(vecs, "vec_id", "embedding", 0.99).count() >= 0)
    val e = intercept[IllegalArgumentException](
      Similarity.cosineDupPairs(vecs, "vec_id", "embedding", 0.99, maxPairs = 81L))
    assert(e.getMessage.contains("lshDupPairs"))
  }

  test("shingles + jaccard: identical docs 1.0, near-dups high, unrelated 0") {
    val sh = corpus.withColumn("toks", split(col("text"), " "))
      .withColumn("sh", Dedup.shingleExpr("toks"))
    val byId = sh.select("doc_id", "sh").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    def jac(a: Long, b: Long): Double = {
      val (x, y) = (byId(a).toSet, byId(b).toSet)
      x.intersect(y).size.toDouble / x.union(y).size
    }
    assert(jac(1, 2) == 1.0)
    assert(jac(1, 3) > 0.7)
    assert(jac(1, 4) == 0.0)
  }

  test("minhashLshPairs finds exact and near dups, skips unrelated") {
    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhashLshPairs collapse branches are row-identical on a dup-bearing corpus") {
    // corpus docs 1 and 2 are exact duplicates, so the forced-collapse
    // branch really elects a representative and expands, and the forced-
    // lean branch really bands both copies; outputs must match row for row
    val collapsed = Dedup.minhashLshPairs(corpus, "doc_id", "text",
        threshold = 0.5, collapsePairsPerDoc = 0.0)
      .orderBy("a_id", "b_id").collect().map(_.toString)
    val lean = Dedup.minhashLshPairs(corpus, "doc_id", "text",
        threshold = 0.5, collapsePairsPerDoc = Double.PositiveInfinity)
      .orderBy("a_id", "b_id").collect().map(_.toString)
    assert(collapsed.nonEmpty)
    assert(collapsed.sameElements(lean),
      s"branch divergence: collapsed=${collapsed.length} lean=${lean.length}")
    // the SimHash twin on the same corpus (docs 1/2 identical -> the
    // collapse branch really elects and expands; hamming 0 within group)
    val shColl = Dedup.simhashPairs(corpus, "doc_id", "text",
        collapsePairsPerDoc = 0.0)
      .orderBy("a_id", "b_id").collect().map(_.toString)
    val shLean = Dedup.simhashPairs(corpus, "doc_id", "text",
        collapsePairsPerDoc = Double.PositiveInfinity)
      .orderBy("a_id", "b_id").collect().map(_.toString)
    assert(shColl.nonEmpty)
    assert(shColl.sameElements(shLean),
      s"simhash branch divergence: collapsed=${shColl.length} lean=${shLean.length}")
  }

  test("native minhash kernel == pure-expression formulation") {
    val sh = corpus
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("__sh", Dedup.shingleExpr("__toks"))
    // include an empty-shingle row (short doc) to cover the sentinel path
    val withEmpty = sh.union(
      Seq((9L, "ab")).toDF("doc_id", "text")
        .withColumn("__toks", split(col("text"), " "))
        .withColumn("__sh", Dedup.shingleExpr("__toks")))
    val both = withEmpty.select(col("doc_id"),
      Dedup.minhashSignature(col("__sh")).as("native"),
      Dedup.minhashSignatureExpr(col("__sh")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("simhash: identical docs distance 0, unrelated far") {
    val sigs = corpus.withColumn("sig", Dedup.simhash64("split(text, ' ')"))
      .select("doc_id", "sig").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(4L)) > 10)
  }

  // shared fixture for the incremental-ingestion tests: corpus ids < 100,
  // shard ids >= 100; the shard carries exact dups of corpus docs (the
  // +100 copies), a fresh near-dup of doc 1, unrelated content, and a
  // sub-shingle short doc
  private lazy val incAll = corpus
    .union(corpus.withColumn("doc_id", col("doc_id") + 100))
    .union(Seq(
      (201L, "the quick brown fox jumps over the lazy dog near the river bank sunday"),
      (202L, "totally fresh shard content about streaming watermarks and state stores"),
      (203L, "ab")).toDF("doc_id", "text"))
  private lazy val incCorpus = incAll.filter(col("doc_id") < 100)
  private lazy val incShard = incAll.filter(col("doc_id") >= 100)

  test("incremental MinHash-LSH == full run restricted to shard-touching pairs") {
    val cIdx = Dedup.minhashIndex(incCorpus, "doc_id", "text")
    val sIdx = Dedup.minhashIndex(incShard, "doc_id", "text")
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inc = toSet(Dedup.minhashLshPairsIncremental(sIdx, cIdx, threshold = 0.5))
    val fullTouching = toSet(
      Dedup.minhashLshPairs(incAll, "doc_id", "text", threshold = 0.5)
        .filter(col("a_id") >= 100 || col("b_id") >= 100))
    assert(inc == fullTouching)
    // cross (corpus, shard) exact dup found at jaccard exactly 1.0;
    // shard-internal pair present; corpus-internal pairs absent
    assert(inc.contains((1L, 101L, 1.0)))
    assert(inc.contains((101L, 102L, 1.0)))
    assert(!inc.exists(p => p._1 < 100 && p._2 < 100))
    // the fresh shard near-dup of doc 1 is a cross pair, not 1.0
    assert(inc.exists(p => p._2 == 201L && p._3 >= 0.5 && p._3 < 1.0))
  }

  test("MinHashIndex.union folds a shard in for the next batch") {
    val folded = Dedup.minhashIndex(incCorpus, "doc_id", "text")
      .union(Dedup.minhashIndex(incShard, "doc_id", "text"))
    val batch2 = Seq(
      (301L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (302L, "entirely new second batch text with no relatives anywhere")).toDF("doc_id", "text")
    val b2Idx = Dedup.minhashIndex(batch2, "doc_id", "text")
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inc2 = toSet(Dedup.minhashLshPairsIncremental(b2Idx, folded, threshold = 0.5))
    val full2 = toSet(
      Dedup.minhashLshPairs(incAll.union(batch2), "doc_id", "text", threshold = 0.5)
        .filter(col("a_id") >= 300 || col("b_id") >= 300))
    assert(inc2 == full2)
    // 301 is an exact dup of 1, 2 and 101, 102; 302 matches nothing
    assert(inc2.contains((1L, 301L, 1.0)) && inc2.contains((101L, 301L, 1.0)))
    assert(!inc2.exists(p => p._1 == 302L || p._2 == 302L))
    // mismatched id columns refuse loudly
    val eIdx = Dedup.minhashIndex(batch2.withColumnRenamed("doc_id", "other"), "other", "text")
    intercept[IllegalArgumentException](Dedup.minhashLshPairsIncremental(eIdx, folded))
    intercept[IllegalArgumentException](folded.union(eIdx))
  }

  test("minhashLshMatchCorpus == the incremental run's cross leg, one row per pair") {
    val cIdx = Dedup.minhashIndex(incCorpus, "doc_id", "text")
    val rows = Dedup.minhashLshMatchCorpus(incShard, "doc_id", "text", cIdx, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exactly-once emission via the first-colliding-band predicate — no
    // duplicate (n_id, c_id) rows despite multi-band collisions
    assert(rows.length == rows.map(r => (r._1, r._2)).distinct.length)
    val m = rows.toSet
    // corpus ids < 100 <= shard ids, so the incremental cross pairs are
    // exactly the (a < 100, b >= 100) rows, reoriented to (shard, corpus)
    val sIdx = Dedup.minhashIndex(incShard, "doc_id", "text")
    val cross = Dedup.minhashLshPairsIncremental(sIdx, cIdx, threshold = 0.5)
      .filter(col("a_id") < 100 && col("b_id") >= 100)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2))).toSet
    assert(m == cross)
    assert(m.contains((101L, 1L, 1.0))) // shard copy matched to its corpus twin
    // LSH-parameter mismatch between shard call and corpus index refuses
    val otherIdx = Dedup.minhashIndex(incCorpus, "doc_id", "text", numPerms = 16)
    intercept[IllegalArgumentException](cIdx.union(otherIdx))
  }

  test("incremental SimHash == full run restricted to shard-touching pairs") {
    val cIdx = Dedup.simhashIndex(incCorpus, "doc_id", "text")
    val sIdx = Dedup.simhashIndex(incShard, "doc_id", "text")
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val inc = toSet(Dedup.simhashPairsIncremental(sIdx, cIdx, maxHamming = 3))
    val fullTouching = toSet(
      Dedup.simhashPairs(incAll, "doc_id", "text", maxHamming = 3)
        .filter(col("a_id") >= 100 || col("b_id") >= 100))
    assert(inc == fullTouching)
    assert(inc.contains((1L, 101L, 0))) // identical text -> Hamming 0 cross pair
    assert(!inc.exists(p => p._1 < 100 && p._2 < 100))
    // sig-keyed collapse branch parity (the corpus/shard share identical
    // texts, so forced collapse really elects and expands)
    val coll = toSet(Dedup.simhashPairsIncremental(sIdx, cIdx, maxHamming = 3,
      collapsePairsPerDoc = 0.0))
    val lean = toSet(Dedup.simhashPairsIncremental(sIdx, cIdx, maxHamming = 3,
      collapsePairsPerDoc = Double.PositiveInfinity))
    assert(coll == lean && lean == inc,
      s"branch divergence: collapsed=${coll.size} lean=${lean.size}")
  }

  test("simhashPairs recovers identical pair via chunk buckets") {
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  test("bruteForceTopK: self-similar vector ranks first") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f)),   // nearly same direction as 1
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 1), "vec_id", "embedding", k = 2)
      .orderBy("rn").collect()
    assert(top.head.getAs[Long]("c_id") == 2L)
    assert(top.head.getAs[Double]("cos") > 0.99)
  }

  test("langId picks the language with most stopword hits") {
    val df = Seq(
      (1L, "the cat sat on the mat and the dog"),
      (2L, "el gato y la casa de la playa que bonita"),
      (3L, "xyzzy qwerty asdf")).toDF("doc_id", "text")
    val got = df.withColumn("l", TextAnalysis.langId("text"))
      .select("doc_id", "l").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en")
    assert(got(2L) == "es")
    assert(got(3L) == "und")
  }

  test("scrubPii redacts emails/IPs/phones and counts match, clean text untouched") {
    val df = Seq(
      (1L, "reach alice.smith+work@sub.example.co.uk or +4915123456789 via 192.168.1.254 today"),
      (2L, "two mails a@b.io c@d.org one ip 10.0.0.1"),
      (3L, "nothing sensitive in here at all")).toDF("doc_id", "text")
    val counts = TextAnalysis.piiCounts(col("text"))
    val got = df.select(col("doc_id") +: (counts.map { case (n, c) => c.as(n) } :+
      TextAnalysis.scrubPii(col("text")).as("s")): _*)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toMap
    assert(got(1L)._1 == 1 && got(1L)._2 == 1 && got(1L)._3 == 1)
    assert(got(1L)._4 == "reach <EMAIL> or <PHONE> via <IP> today")
    assert(got(2L)._1 == 2 && got(2L)._2 == 1 && got(2L)._3 == 0)
    assert(got(3L) == ((0, 0, 0, "nothing sensitive in here at all")))
  }

  test("dedupLines keeps first occurrence in order and counts lines") {
    val df = Seq(
      (1L, "header\nbody one\nheader\nbody two\nfooter\nfooter"),
      (2L, "only line")).toDF("doc_id", "text")
    val got = TextAnalysis.dedupLines(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(got(1L)._1 == 6 && got(1L)._2 == 4)
    val expectedMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest("header\nbody one\nbody two\nfooter".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(got(1L)._3 == expectedMd5)
    assert(got(2L)._1 == 1 && got(2L)._2 == 1)
  }

  test("decodeFeatures is deterministic and fixed-dim") {
    val bin = graft.operators.Multimodal.binarize(corpus, "doc_id", "text")
    val f = graft.operators.Multimodal.decodeFeatures(bin, "doc_id", "bytes").collect()
    assert(f.length == 5)
    f.foreach(r => assert(r.getSeq[Double](1).length == 8))
    val f2 = graft.operators.Multimodal.decodeFeatures(bin, "doc_id", "bytes").collect()
    assert(f.map(_.toString).sorted.sameElements(f2.map(_.toString).sorted))
  }

  // components: {1,2,3,4} via chain 1-2-3-4 (diameter 3, needs real
  // propagation); {10,11,12} star centered on 12; {20,21} pair;
  // {30..39} a 10-node path — diameter 9 exercises the iteration loop
  // well past the trivial 1-2 rounds.
  lazy val ccFixture = (Seq((1L, 2L), (3L, 2L), (3L, 4L), (12L, 10L), (12L, 11L), (20L, 21L)) ++
    (30L until 39L).map(i => (i + 1, i))).toDF("a", "b")

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Runs `body` and returns its result with the number of `onRound`
    * calls it made: the driver-local CC regime makes exactly one, the
    * round loop at least two (a changed round plus the confirming one)
    * on any graph with an edge between distinct ids. */
  private def withRounds[A](body: (() => Unit) => A): (A, Int) = {
    var rounds = 0
    val out = body(() => rounds += 1)
    (out, rounds)
  }

  test("connectedComponents: chain, star, singleton-pair, deep path") {
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(Seq(1L, 2L, 3L, 4L).forall(got(_) == 1L))
      assert(Seq(10L, 11L, 12L).forall(got(_) == 10L))
      assert(Seq(20L, 21L).forall(got(_) == 20L))
      assert((30L to 39L).forall(got(_) == 30L))
      assert(got.size == 19)
    }
    import graft.operators.Staging
    val (local, rounds) = withRounds(r => Dedup.connectedComponents(ccFixture, "a", "b", onRound = r))
    assert(rounds == 1, "19 nodes sit far below the bound: the driver-local regime")
    check(local)
    val loop = Dedup.connectedComponents(ccFixture, "a", "b", localEdges = 0)
    check(loop)
    // the lazy mode keeps the distributed round loop, same rows
    val (none, noneRounds) = withRounds(r =>
      Dedup.connectedComponents(ccFixture, "a", "b", staging = Staging.None, onRound = r))
    assert(noneRounds > 1)
    assert(sortedRows(none) == sortedRows(local) && sortedRows(loop) == sortedRows(local))
  }

  test("driver-local CC: the 19-node fixture runs in at most 3 Spark jobs under Staging.Local") {
    val (got, jobs) = JobCount(spark, "dedupspec-cc-jobs")(
      Dedup.connectedComponents(ccFixture, "a", "b").collect())
    assert(got.length == 19)
    assert(jobs <= 3,
      s"driver-local CC ran $jobs jobs: staging + one collect should suffice")
  }

  test("driver-local CC bound: exactly ccLocalEdges rows stay on the driver, one more runs the round loop") {
    import graft.operators.Staging
    // a star of B/2 leaves is exactly B symmetric edge rows; a self-edge
    // on a separate node adds ONE row (its reverse is itself)
    val leaves = Dedup.ccLocalEdges / 2
    val star = spark.range(1, leaves + 1).select(lit(0L).as("a"), col("id").as("b"))
    val over = star.union(Seq((-7L, -7L)).toDF("a", "b"))
    val (atBound, r1) = withRounds(r => Dedup.connectedComponents(star, "a", "b", onRound = r))
    assert(r1 == 1, "exactly B edge rows must take the driver-local regime")
    val (pastBound, r2) = withRounds(r => Dedup.connectedComponents(over, "a", "b", onRound = r))
    assert(r2 > 1, "B + 1 edge rows must run the round loop")
    val (_, r3) = withRounds(r => Dedup.connectedComponents(over, "a", "b", onRound = r,
      localEdges = Int.MaxValue))
    assert(r3 > 1, "a caller may lower the bound but never raise it")
    assert(atBound.count() == leaves + 1 && atBound.filter(col("component") =!= 0L).count() == 0)
    val viaNone = Dedup.connectedComponents(over, "a", "b", staging = Staging.None)
    assert(pastBound.exceptAll(viaNone).count() == 0 && viaNone.exceptAll(pastBound).count() == 0)
    assert(pastBound.filter(col("id") === -7L).select("component").head().getLong(0) == -7L)
    assert(pastBound.join(atBound, Seq("id", "component"), "left_anti").count() == 1,
      "past the bound only the self-edge node is added")
  }

  test("driver-local CC edge cases match the round loop: empty, self-edges, null endpoints") {
    import graft.operators.Staging
    def frame(rows: Seq[(java.lang.Long, java.lang.Long)]) =
      spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (a, b) => org.apache.spark.sql.Row(a, b) }, 2),
        org.apache.spark.sql.types.StructType.fromDDL("a BIGINT, b BIGINT"))
    val L = (x: Long) => java.lang.Long.valueOf(x)
    // (name, edges, rows every regime must return, driver-local?)
    val cases = Seq(
      ("empty", Seq.empty[(java.lang.Long, java.lang.Long)], Seq.empty[String], true),
      ("self-edges", Seq((L(5), L(5)), (L(1), L(2)), (L(9), L(9))),
        Seq("[1,1]", "[2,1]", "[5,5]", "[9,9]"), true),
      // an edge with a NULL endpoint names no node (as in a SQL
      // equi-join): it is dropped, and its other endpoint appears only
      // through its remaining edges
      ("null endpoints", Seq((L(1), L(2)), (L(2), null), (null, L(6)), (L(6), L(5)),
        (null, null), (L(8), L(8))),
        Seq("[1,1]", "[2,1]", "[5,5]", "[6,5]", "[8,8]"), true),
      ("null-only", Seq((null, null)), Seq.empty[String], true))
    cases.foreach { case (name, rows, pinned, driverLocal) =>
      val (local, rounds) = withRounds(r =>
        Dedup.connectedComponents(frame(rows), "a", "b", onRound = r))
      if (driverLocal) assert(rounds == 1, s"$name: driver-local regime expected")
      val loop = Dedup.connectedComponents(frame(rows), "a", "b", localEdges = 0)
      val none = Dedup.connectedComponents(frame(rows), "a", "b", staging = Staging.None)
      assert(sortedRows(loop) == pinned.sorted, s"$name: round loop changed")
      assert(sortedRows(none) == pinned.sorted, s"$name: Staging.None changed")
      assert(sortedRows(local) == pinned.sorted, s"$name: default regime differs")
      // the incremental twin over an empty past takes the same rows, in
      // both regimes
      val past = Seq.empty[(Long, Long)].toDF("id", "component")
      val inc = Dedup.connectedComponentsIncremental(past, frame(rows), "a", "b")
      val incLoop = Dedup.connectedComponentsIncremental(past, frame(rows), "a", "b",
        localEdges = 0)
      assert(sortedRows(inc) == pinned.sorted, s"$name: incremental default regime")
      assert(sortedRows(incLoop) == pinned.sorted, s"$name: incremental round loop")
    }
  }

  test("incremental CC: the bound counts the sub-run's symmetric star + shard edge rows") {
    val old = (1L until 10L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val frozen = Dedup.connectedComponents(old, "a_id", "b_id")
    val fresh = Seq((10L, 50L), (60L, 61L)).toDF("a_id", "b_id")
    val full = Dedup.connectedComponents(old.union(fresh), "a_id", "b_id")
    // star of {1..10} on label 1: the self-edge 1-1 plus 9 members both
    // ways (19 rows), and the 2 shard edges both ways (4 rows) = 23 rows:
    // a bound of 23 fits, 22 does not
    Seq(23 -> 1, 22 -> 2).foreach { case (bound, minRounds) =>
      val (inc, rounds) = withRounds(r => Dedup.connectedComponentsIncremental(
        frozen, fresh, "a_id", "b_id", onRound = r, localEdges = bound))
      if (minRounds == 1) assert(rounds == 1, s"bound $bound: driver-local expected")
      else assert(rounds >= minRounds, s"bound $bound: round loop expected")
      assert(inc.exceptAll(full).count() == 0 && full.exceptAll(inc).count() == 0,
        s"bound $bound")
    }
  }

  test("incremental CC: a small shard closes on the driver in at most 4 Spark jobs") {
    // the small-input regime: stage the shard edges (count observed),
    // collect them, look up the touched labels and then the touched
    // components' members, close by union-find — the delta is a local
    // relation, so collecting it runs no job
    val old = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (70L, 71L)).toDF("a_id", "b_id")
    val frozen = Dedup.connectedComponents(old, "a_id", "b_id")
    val fresh = Seq((3L, 10L), (21L, 40L), (50L, 51L)).toDF("a_id", "b_id")
    val (got, jobs) = JobCount(spark, "dedupspec-cc-inc-jobs")(
      Dedup.connectedComponentsIncremental(frozen, fresh, "a_id", "b_id",
        deltaOnly = true).collect())
    assert(got.map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 1L, 2L -> 1L,
      3L -> 1L, 10L -> 1L, 11L -> 1L, 20L -> 20L, 21L -> 20L, 40L -> 20L, 50L -> 50L,
      51L -> 50L) && got.length == 10)
    assert(jobs <= 4, s"a small incremental CC run took $jobs jobs")
  }

  test("collectAtMost: one job whose one result task is all that reaches the driver") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    import graft.operators.Staging
    // 8 partitions of 12-13 rows: no partition alone passes a cap of 30,
    // all of them together do. Checkpointed, so the plan has no row
    // bound that would let the optimizer drop the limit
    val df = spark.range(0, 100, 1, 8).toDF("id").localCheckpoint()
    // (value, jobs, result tasks) of one lookup: a result task's output
    // is what the driver receives
    def lookup(tag: String, cap: Int) = {
      val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
      val shipping = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("spark.job.tags", "").split(",")
            .contains(tag))) e.stageIds.foreach(stages.add(_))
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskType == "ResultTask" && stages.contains(e.stageId)) shipping.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        // JobCount returns once every event of the block is delivered
        val (got, jobs) = JobCount(spark, tag)(Staging.collectAtMost(df, cap))
        (got, jobs, shipping.get)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val (all, allJobs, allTasks) = lookup("dedupspec-cap-fits", 100)
    assert(all.map(_.map(_.getLong(0)).sorted.toSeq) == Some(0L until 100L))
    assert(allJobs == 1 && allTasks == 1, s"fits: $allJobs jobs, $allTasks result tasks")
    Seq(99, 30).foreach { cap =>
      val (over, jobs, tasks) = lookup(s"dedupspec-cap-over-$cap", cap)
      assert(over.isEmpty, s"cap $cap: 100 rows do not fit")
      assert(jobs == 1 && tasks == 1, s"cap $cap: $jobs jobs, $tasks result tasks")
    }
  }

  test("connectedComponents closes a 200-node path within the log-round budget") {
    // diameter 199: plain hash-min would need ~199 rounds; path
    // compression must land well inside maxIter = 12 (2^12 >> 199).
    // 398 edge rows are under the driver-local bound, so the round loop
    // is forced with localEdges = 0
    val edges = (1000L until 1199L).map(i => (i + 1, i)).toDF("a", "b")
    val got = Dedup.connectedComponents(edges, "a", "b", maxIter = 12, localEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 200)
    assert(got.values.forall(_ == 1000L))
  }

  test("repetitionProfile: hand-computed fractions on a known document") {
    // lines: [a b a b, x, x] -> n=3, unique=2, dup_line_frac=1/3,
    // chars 7+1+1=9 of which the duplicated x lines cover 2 -> 2/9
    // toks: [a,b,a,b,x,x] -> 2-grams {a b:2, b a:1, b x:1, x x:1} ->
    // top 2/5; 3-grams all unique -> rep 0
    val df = Seq((1L, "a b a b\nx\nx")).toDF("doc_id", "t")
    val r = TextAnalysis.repetitionProfile(df, "doc_id", "t").collect()(0)
    assert(r.getAs[Int]("n_lines") == 3)
    assert(r.getAs[Double]("dup_line_frac") == 1.0 / 3)
    assert(r.getAs[Double]("dup_line_char_frac") == 2.0 / 9)
    assert(r.getAs[Double]("top_2gram_frac") == 2.0 / 5)
    assert(r.getAs[Double]("rep_3gram_frac") == 0.0)
    assert(r.getAs[Int]("pass_gate") == 0)
    // a clean document passes the gate
    val clean = Seq((2L, "one two three four five\nsix seven eight nine ten"))
      .toDF("doc_id", "t")
    val c = TextAnalysis.repetitionProfile(clean, "doc_id", "t").collect()(0)
    assert(c.getAs[Int]("pass_gate") == 1)
    assert(c.getAs[Double]("dup_line_frac") == 0.0)
  }

  test("contaminationHits: only docs sharing a 5-gram with the benchmark") {
    val bench = Seq(("alpha beta gamma delta epsilon zeta")).toDF("t")
    val docsDf = Seq(
      (1L, "intro words then alpha beta gamma delta epsilon closing"), // hit
      (2L, "completely unrelated text with many different words here"),
      (3L, "beta gamma delta epsilon zeta trailing tail")               // hit
    ).toDF("doc_id", "t")
    val hits = TextAnalysis.contaminationHits(docsDf, bench, "doc_id", "t")
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("n_hits")).toMap
    assert(hits.keySet == Set(1L, 3L))
    assert(hits(1L) == 1) // "alpha beta gamma delta epsilon"
    assert(hits(3L) == 1) // "beta gamma delta epsilon zeta"
  }

  test("contaminationHitsBloom == contaminationHits row-for-row; a saturated filter stays exact") {
    val bench = (0 until 8)
      .map(b => s"bench$b w${b}a w${b}b w${b}c w${b}d w${b}e extra$b tokens here")
      .toDF("t")
    val docsDf = (0L until 200L).map { i =>
      val planted =
        if (i % 5 == 0) s" bench${i % 8} w${i % 8}a w${i % 8}b w${i % 8}c w${i % 8}d"
        else ""
      (i, s"doc $i body t${i}a t${i}b t${i}c t${i}d t${i}e t${i}f$planted")
    }.toDF("doc_id", "t")
    val exact = TextAnalysis.contaminationHits(docsDf, bench, "doc_id", "t")
    val blm = TextAnalysis.contaminationHitsBloom(docsDf, bench, "doc_id", "t")
    assert(blm.exceptAll(exact).isEmpty && exact.exceptAll(blm).isEmpty,
      "bloom tier diverged from the exact tier")
    assert(exact.count() == 40L, "the planted contamination must all be found")
    // a deliberately SATURATED filter (64 bits for ~50 grams): the
    // prefilter passes nearly everything and the exact confirm join is
    // what keeps the contract — still row-identical
    val sat = TextAnalysis.contaminationHitsBloom(docsDf, bench, "doc_id", "t",
      fpp = 0.4, expectedGrams = 1L)
    assert(sat.exceptAll(exact).isEmpty && exact.exceptAll(sat).isEmpty,
      "saturated bloom tier diverged from the exact tier")
    // an empty benchmark yields an empty result, not a crash
    assert(TextAnalysis.contaminationHitsBloom(docsDf,
      Seq.empty[String].toDF("t"), "doc_id", "t").count() == 0L)
    // refusal contracts: fpp domain, and the 32 MB word-vector cap
    // refuses loudly instead of building an unbroadcastable filter
    assert(intercept[IllegalArgumentException] {
      TextAnalysis.contaminationHitsBloom(docsDf, bench, "doc_id", "t", fpp = 0.9)
    }.getMessage.contains("fpp"))
    assert(intercept[IllegalArgumentException] {
      TextAnalysis.contaminationHitsBloom(docsDf, bench, "doc_id", "t",
        fpp = 1e-9, expectedGrams = 1L << 40)
    }.getMessage.contains("32 MB"))
  }

  test("capPerKeyExact keeps exactly min(n, cap) per key; reruns pick identical rows") {
    import graft.operators.Sampling
    val df = (1L to 100L).map(i => (if (i <= 80) "big" else "small", i))
      .toDF("src", "id")
    val kept = Sampling.capPerKeyExact(df, "src", "id", cap = 10)
    val byKey = kept.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byKey == Map("big" -> 10L, "small" -> 10L)) // small has 20 > cap
    val again = Sampling.capPerKeyExact(df, "src", "id", cap = 10)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(again.sameElements(kept.select("id").collect().map(_.getLong(0)).sorted))
  }

  test("capPerKeyHash: deterministic subset, close to cap, all-kept when under cap") {
    import graft.operators.Sampling
    val df = (1L to 1000L).map(i => (if (i <= 900) "big" else "small", i))
      .toDF("src", "id")
    val kept = Sampling.capPerKeyHash(df, "src", "id", cap = 100)
    val byKey = kept.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // small (100 rows) is under the cap -> threshold covers the whole
    // range -> all kept; big is binomial(900, 1/9) around 100
    assert(byKey("small") == 100L)
    assert(byKey("big") > 60L && byKey("big") < 140L, s"got ${byKey("big")}")
    val again = Sampling.capPerKeyHash(df, "src", "id", cap = 100)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(again.sameElements(kept.select("id").collect().map(_.getLong(0)).sorted))
  }

  test("keepBestCanonical keeps the highest-score member per component; singletons survive; differs from min-id") {
    val docsDf = Seq(
      (1L, "a", 10.0), (2L, "a2", 30.0), (3L, "a3", 30.0), // 1-2-3 chain
      (4L, "b", 5.0), (5L, "b2", 9.0),                     // 4-5 pair
      (6L, "solo", 1.0)
    ).toDF("id", "t", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val kept = Dedup.keepBestCanonical(docsDf, "id", pairs, "a", "b", "score")
      .select("id").collect().map(_.getLong(0)).toSet
    // chain: max score 30.0 ties between 2 and 3 -> min id 2; pair: 5
    assert(kept == Set(2L, 5L, 6L), s"got $kept")
    val minId = Dedup.keepCanonical(docsDf, "id", pairs, "a", "b")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(minId == Set(1L, 4L, 6L), "min-id variant must differ")
    // kept rows carry their full original columns
    val row = Dedup.keepBestCanonical(docsDf, "id", pairs, "a", "b", "score")
      .filter($"id" === 2L).head()
    assert(row.getAs[String]("t") == "a2" && row.getAs[Double]("score") == 30.0)
  }

  test("signaturePairs == brute-force Hamming pairs; clone collapse branch row-identical") {
    // pseudo-random 64-bit signatures + planted near sigs (<=3 bit
    // flips) and far sigs — the dHash banding reuse must equal the
    // all-pairs Hamming filter exactly
    def sig(i: Long): Long = {
      var h = i * 0x9E3779B97F4A7C15L
      h ^= h >>> 32; h *= 0xBF58476D1CE4E5B9L; h ^= h >>> 29
      h
    }
    val rows = (0L until 60L).map(i => (i, sig(i))) ++
      (0L until 60L by 7L).map(i => (i + 100L, sig(i) ^ (1L << (i % 60).toInt))) ++ // 1 bit
      (0L until 60L by 11L).map(i => (i + 200L, sig(i) ^ 7L))                        // 3 bits
    val df = rows.toDF("id", "s")
    val got = Dedup.signaturePairs(df, "id", "s", maxHamming = 3)
      .select("a_id", "b_id", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = (for {
      (a, sa) <- rows; (b, sb) <- rows if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h)).toSet
    assert(brute.nonEmpty, "fixture must contain near pairs")
    assert(got == brute, s"banded pairs diverge: missing=${brute -- got} extra=${got -- brute}")
    // heavy exact-dup mass (re-encoded copies share a signature):
    // clone families trip the collapse branch, output identical
    val clones = rows ++ (0L until 60L).flatMap(i =>
      (1 to 5).map(k => (i + 300L * k, sig(i))))
    val cdf = clones.toDF("id", "s")
    val gotC = Dedup.signaturePairs(cdf, "id", "s", maxHamming = 3)
      .select("a_id", "b_id", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val bruteC = (for {
      (a, sa) <- clones; (b, sb) <- clones if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h)).toSet
    assert(gotC == bruteC,
      s"collapse branch diverges: missing=${(bruteC -- gotC).take(5)} extra=${(gotC -- bruteC).take(5)}")
    // and the collapse branch actually engaged (pair mass >= 2x rows)
    val dupPairs = clones.groupBy(_._2).values.map(g => g.size.toLong * (g.size - 1) / 2).sum
    assert(dupPairs > 2.0 * clones.size, "fixture must trip the collapse threshold")
    // the probe's boundary is strict: exactly `ratio` pairs per row
    // stays lean, one more pair collapses
    import graft.operators.Staging
    val probe = (keys: Seq[Int]) => Dedup.heavyDupMass(
      keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "k"),
      col("k"), Staging.Local, 1.0)
    assert(!probe(Seq(1, 1, 1, 1, 2, 3)), "6 pairs over 6 rows is not > 1.0 per row")
    assert(probe(Seq(1, 1, 1, 1, 2, 2)), "7 pairs over 6 rows is > 1.0 per row")
    // Staging.None and a streaming input never run an action: a key
    // that raises on evaluation and a stream (whose .head() throws)
    // both come back lean
    assert(!Dedup.heavyDupMass(cdf, raise_error(lit("probe ran")), Staging.None, 0.0))
    assert(!Dedup.heavyDupMass(spark.readStream.format("rate").load(),
      col("value"), Staging.Local, 0.0))
  }

  test("keepBestCanonical tolerates a caller column named 'component' and keeps it intact") {
    // the CC labels join in under a reserved __-name: a real caller
    // column called "component" must neither make the coalesce
    // ambiguous (AnalysisException) nor be silently dropped
    val docsDf = Seq(
      (1L, 10.0, "keep-me-1"), (2L, 30.0, "keep-me-2"),
      (3L, 1.0, "keep-me-3")
    ).toDF("id", "score", "component")
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val kept = Dedup.keepBestCanonical(docsDf, "id", pairs, "a", "b", "score")
    assert(kept.columns.toSeq == Seq("id", "score", "component"))
    val rows = kept.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(2)))
    assert(rows.toSeq == Seq((2L, "keep-me-2"), (3L, "keep-me-3")), rows.mkString(","))
  }

  test("negativeSample: k deterministic negatives per anchor, never self, pool-closed") {
    import graft.operators.Sampling
    val pool = (0L until 1000L).toDF("id")
    val anchors = pool.filter($"id" % 7 === 0)
    val out = Sampling.negativeSample(pool, anchors, "id", k = 3, buckets = 16)
    val rows = out.collect()
    // 143 anchors x 3 slots; no bucket of ~62 members can drop a probe
    assert(rows.length == 143 * 3)
    assert(rows.forall(r => r.getAs[Long]("neg_id") != r.getAs[Long]("anchor")))
    assert(rows.forall(r => (0L until 1000L).contains(r.getAs[Long]("neg_id"))))
    // pseudo-uniform spread: picks cover a wide slice of the pool
    assert(rows.map(_.getAs[Long]("neg_id")).distinct.length > 250)
    val again = Sampling.negativeSample(pool, anchors, "id", k = 3, buckets = 16)
      .collect().map(_.toString).sorted
    assert(again.sameElements(rows.map(_.toString).sorted))
  }

  test("negativeSample self-collision resolves to the in-bucket successor") {
    import graft.operators.Sampling
    // precomputed (mixedHash): on pool 0..39 with 4 buckets, anchor 1 /
    // slot 11 addresses its OWN (bucket, rank); the successor in bucket
    // (pos, id) order is 26 — the skip path must pick it, never self
    val pool = (0L until 40L).toDF("id")
    val anchors = Seq(1L).toDF("id")
    val out = Sampling.negativeSample(pool, anchors, "id", k = 24, buckets = 4)
      .collect().map(r => r.getAs[Int]("slot") -> r.getAs[Long]("neg_id")).toMap
    assert(out.size == 24) // no probe dropped
    assert(out(11) == 26L)
  }

  test("inverseSqrtFlatten keeps rarest source whole, cuts big source ~sqrt, reruns identical") {
    import graft.operators.Sampling
    // 1000 "big" rows vs 40 "small" -> big keeps ~sqrt(40/1000) = 20%
    val df = (1L to 1040L).map(i => (if (i <= 1000) "big" else "small", i))
      .toDF("src", "id")
    val kept = Sampling.inverseSqrtFlatten(df, "src", "id")
    val byKey = kept.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byKey("small") == 40L) // rarest: threshold = full hash range
    assert(byKey("big") > 120L && byKey("big") < 280L, s"got ${byKey("big")}") // ~200
    val again = Sampling.inverseSqrtFlatten(df, "src", "id")
      .select("id").collect().map(_.getLong(0)).sorted
    assert(again.sameElements(kept.select("id").collect().map(_.getLong(0)).sorted))
  }

  test("shardAssign: dense 1..n per shard, stable order, balanced-ish shards") {
    import graft.operators.Sampling
    val df = (0L until 800L).toDF("id")
    val out = Sampling.shardAssign(df, "id", shards = 8).collect()
    assert(out.length == 800)
    val byShard = out.groupBy(_.getAs[Int]("shard"))
    assert(byShard.keySet == (0 until 8).toSet)
    byShard.foreach { case (_, rows) =>
      val ords = rows.map(_.getAs[Long]("ord")).sorted
      assert(ords.sameElements(1L to rows.length)) // dense, gap-free rank
      assert(rows.length > 60 && rows.length < 140) // hash-balanced
    }
    val again = Sampling.shardAssign(df, "id", shards = 8).collect()
      .map(_.toString).sorted
    assert(again.sameElements(out.map(_.toString).sorted))
  }

  test("sourceDivergence: zero for a single source, positive for divergent ones") {
    // single source: P_s == P_corpus, every ln term is exactly ln(1) = 0
    val one = Seq(("s1", "a b a c"), ("s1", "b c a")).toDF("source", "text")
    val kl1 = TextAnalysis.sourceDivergence(one, "source", "text").collect()
    assert(kl1.length == 1 && kl1.head.getAs[Double]("kl") == 0.0)
    assert(kl1.head.getAs[Long]("n_tokens") == 7L)
    // matched vs divergent: s3 shares no tokens with s2 -> both diverge
    // from the pooled corpus, and the skewed one diverges MORE
    val two = Seq(
      ("s2", "a b a b a b a b"), ("s2", "a b a b"),
      ("s3", "z q z q")).toDF("source", "text")
    val m = TextAnalysis.sourceDivergence(two, "source", "text").collect()
      .map(r => r.getString(0) -> r.getAs[Double]("kl")).toMap
    assert(m("s2") > 0 && m("s3") > 0)
    assert(m("s3") > m("s2")) // minority source is farther from the pool
  }

  test("bigramNll: predictable transitions score low, unique ones high, 1-token docs dropped") {
    val c = Seq(
      (1L, "a b a b a b a b a b"),   // one dominant transition, fit on itself
      (2L, "p q r s t u v w x y"),   // every transition unique
      (3L, "solo")                    // no bigrams -> not emitted
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramNll(c, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(!out.contains(3L))
    assert(out(1L)._1 == 9 && out(2L)._1 == 9) // m - 1 bigrams each
    assert(out(1L)._2 < out(2L)._2, s"predictable doc must score lower: $out")
  }

  test("keepCanonical over LSH pairs drops all but one doc per dup cluster") {
    // corpus: 1==2 exact, 3 near-dup of both -> component {1,2,3}; 4 and
    // 5 unrelated singletons (never in pairs) survive untouched.
    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text", threshold = 0.5)
    val kept = Dedup.keepCanonical(corpus, "doc_id", pairs, "a_id", "b_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 5L))
  }

  test("connectedComponentsIncremental == batch CC over the union of all edges") {
    // frozen past: four small components and one untouched bystander
    val old = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (30L, 31L),
      (70L, 71L)).toDF("a_id", "b_id")
    val frozen = Dedup.connectedComponents(old, "a_id", "b_id")
    // the shard: merges {1,2,3} with {10,11}; grows {20,21} by a new
    // node; a brand-new component; a DEEP chain hanging off {30,31}
    // (exercises the subgraph CC's pointer jumping, not just stars)
    val fresh = Seq((3L, 10L), (21L, 40L), (50L, 51L), (31L, 60L),
      (60L, 61L), (61L, 62L), (62L, 63L)).toDF("a_id", "b_id")
    val inc = Dedup.connectedComponentsIncremental(frozen, fresh, "a_id", "b_id")
    val full = Dedup.connectedComponents(old.union(fresh), "a_id", "b_id")
    assert(inc.count() == full.count())
    assert(inc.exceptAll(full).count() == 0 && full.exceptAll(inc).count() == 0,
      "incremental labeling diverges from batch-over-union")
    // the same on the round loop (the graph is under the driver-local
    // bound, so localEdges = 0 forces it) on both sides
    val incLoop = Dedup.connectedComponentsIncremental(frozen, fresh, "a_id", "b_id",
      localEdges = 0)
    val fullLoop = Dedup.connectedComponents(old.union(fresh), "a_id", "b_id",
      localEdges = 0)
    assert(incLoop.exceptAll(fullLoop).count() == 0 && fullLoop.exceptAll(incLoop).count() == 0,
      "round-loop incremental labeling diverges from round-loop batch-over-union")
    assert(fullLoop.exceptAll(full).count() == 0 && full.exceptAll(fullLoop).count() == 0)
    // spot-check the semantics: merged components take the global min
    val byId = inc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(11L) == 1L, "merged component must relabel to the global min")
    assert(byId(40L) == 20L, "a new node attaches to the touched component's min")
    assert(byId(63L) == 30L, "a deep new chain propagates to the old min")
    assert(byId(71L) == 70L, "an untouched component keeps its frozen label")
    assert(byId(50L) == 50L && byId(51L) == 50L, "a brand-new component labels itself")
    // an empty shard is the identity
    val none = Dedup.connectedComponentsIncremental(frozen,
      Seq.empty[(Long, Long)].toDF("a_id", "b_id"), "a_id", "b_id")
    assert(none.exceptAll(frozen).count() == 0 &&
      frozen.exceptAll(none).count() == 0)
    // an empty past degenerates to batch CC of the shard alone
    val scratch = Dedup.connectedComponentsIncremental(
      Seq.empty[(Long, Long)].toDF("id", "component"), fresh, "a_id", "b_id")
    val direct = Dedup.connectedComponents(fresh, "a_id", "b_id")
    assert(scratch.exceptAll(direct).count() == 0 &&
      direct.exceptAll(scratch).count() == 0)
    // delta mode: ONLY the re-propagated rows (touched components' members
    // + new nodes — the persisted-labels append shape), and delta ∪
    // untouched-frozen == the full updated labeling
    val delta = Dedup.connectedComponentsIncremental(frozen, fresh,
      "a_id", "b_id", deltaOnly = true)
    val deltaIds = delta.collect().map(_.getLong(0)).toSet
    assert(deltaIds == Set(1L, 2L, 3L, 10L, 11L, 20L, 21L, 40L, 50L, 51L,
      30L, 31L, 60L, 61L, 62L, 63L),
      s"delta must cover exactly touched members + new nodes: $deltaIds")
    val merged = delta.union(
      frozen.join(delta.select(col("id")), Seq("id"), "left_anti"))
    assert(merged.exceptAll(full).count() == 0 &&
      full.exceptAll(merged).count() == 0,
      "delta ∪ untouched diverges from batch-over-union")
  }

  test("ccRepair: deleting a cut vertex SPLITS its component; repaired catalog == from-scratch CC over surviving pairs") {
    // {1..5} a path with cut vertex 3; {10,11,12} a triangle (deleting
    // 10 only shrinks — cycle edges keep 11-12 connected); {20,21} a
    // pair whose member 20 dies (21 is severed from every edge and must
    // LEAVE the catalog, as a from-scratch run never sees it); {30,31}
    // untouched bystander
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L), (30L, 31L))
      .toDF("a_id", "b_id")
    val labels = Dedup.connectedComponents(pairs, "a_id", "b_id")
    val dead = Seq(3L, 10L, 20L).toDF("doc_id")
    // the upstream families hide tombstoned ids from their pair views
    val surviving = pairs
      .filter(!col("a_id").isin(3L, 10L, 20L) && !col("b_id").isin(3L, 10L, 20L))
    val repaired = Dedup.ccRepair(labels, surviving, "a_id", "b_id",
      dead, "doc_id")
    val scratch = Dedup.connectedComponents(surviving, "a_id", "b_id")
    assert(repaired.exceptAll(scratch).count() == 0 &&
      scratch.exceptAll(repaired).count() == 0,
      "repaired catalog diverges from a from-scratch CC over surviving pairs")
    val byId = repaired.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(1L) == 1L && byId(2L) == 1L, "left split keeps the old min")
    assert(byId(4L) == 4L && byId(5L) == 4L,
      "right split must take a FRESH min-id label — the case a label-only patch cannot express")
    assert(byId(11L) == 11L && byId(12L) == 11L, "cycle survivors stay merged, relabeled")
    assert(byId(30L) == 30L && byId(31L) == 30L, "untouched component keeps its frozen label")
    assert(!byId.contains(3L) && !byId.contains(10L) && !byId.contains(20L),
      "deleted ids must leave the catalog")
    assert(!byId.contains(21L), "a member severed from every surviving edge leaves too")
    // the defensive scrub: a STALE pair listing (tombstones not yet
    // applied upstream) must not resurrect dead ids
    val viaStale = Dedup.ccRepair(labels, pairs, "a_id", "b_id", dead, "doc_id")
    assert(viaStale.exceptAll(scratch).count() == 0 &&
      scratch.exceptAll(viaStale).count() == 0,
      "a stale pair listing resurrected deleted ids")
    // deleting nothing is the identity
    val noop = Dedup.ccRepair(labels, pairs, "a_id", "b_id",
      Seq.empty[Long].toDF("doc_id"), "doc_id")
    assert(noop.exceptAll(labels).count() == 0 &&
      labels.exceptAll(noop).count() == 0)
  }
}
