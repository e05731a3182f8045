package graft

import graft.operators.{Dedup, Family, Similarity, Tombstones}
import graft.streaming.IngestLoop
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deletion semantics for the persisted index families: a tombstoned id
  * is invisible to every consumer of a loaded index from the moment
  * `Tombstones.add` commits (logical delete — no corpus-table rewrite),
  * and compaction folds the tombstones into a physical rewrite that
  * preserves the bucket layout and clears the set. */
class TombstoneSpec extends AnyFunSuite {
  lazy val spark = Tables.session(4)
  val dir = "/root/testdata/sf0.001"

  private def drop(names: String*): Unit =
    names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))

  private def idsDf(ids: Seq[Long], name: String) = {
    import spark.implicits._
    ids.toDF(name)
  }

  test("MinHash: tombstoned docs vanish from incremental pairs; compact is physical and layout-preserving") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val shard = docs.filter(col("doc_id") % 2 === 1)
    Dedup.saveMinhashIndex(Dedup.minhashIndex(corpus, "doc_id", "text"),
      "tb_mh", buckets = 8)
    try {
      val sIdx = Dedup.minhashIndex(shard, "doc_id", "text")
      val before = Dedup.minhashLshPairsIncremental(sIdx,
          Dedup.loadMinhashIndex(spark, "tb_mh"), threshold = 0.5)
        .collect().map(_.toString).toSet
      assert(before.nonEmpty, "fixture must produce shard-touching pairs")
      // delete every 4th corpus doc — including some pair participants
      val dead = corpus.filter(col("doc_id") % 8 === 0)
        .select("doc_id").collect().map(_.getLong(0))
      assert(dead.nonEmpty)
      Tombstones.add(idsDf(dead, "doc_id"), "doc_id", "tb_mh")
      // logical delete == mining against an index built without the dead docs
      val expected = Dedup.minhashLshPairsIncremental(sIdx,
          Dedup.minhashIndex(corpus.filter(col("doc_id") % 8 =!= 0), "doc_id", "text"),
          threshold = 0.5)
        .collect().map(_.toString).toSet
      val logical = Dedup.minhashLshPairsIncremental(sIdx,
          Dedup.loadMinhashIndex(spark, "tb_mh"), threshold = 0.5)
        .collect().map(_.toString).toSet
      assert(logical == expected,
        s"tombstone-filtered mining diverges: ${logical.size} vs ${expected.size}")
      // compaction: physical rewrite, tombstones cleared, results identical
      val rowsBefore = spark.table("tb_mh_shingles").count()
      Tombstones.compactMinhash(spark, "tb_mh", buckets = 8)
      assert(!spark.catalog.tableExists("tb_mh_tombstones"))
      assert(spark.table("tb_mh_shingles").count() == rowsBefore - dead.length)
      assert(spark.table("tb_mh_bands")
        .filter(col("doc_id").isin(dead: _*)).count() == 0)
      val physical = Dedup.minhashLshPairsIncremental(sIdx,
          Dedup.loadMinhashIndex(spark, "tb_mh"), threshold = 0.5)
        .collect().map(_.toString).toSet
      assert(physical == expected)
    } finally drop("tb_mh_bands", "tb_mh_shingles", "tb_mh_meta", "tb_mh_tombstones")
  }

  test("IVF-PQ: tombstoned candidates vanish from serving; compact preserves the ingest_batch partitioning") {
    val embs = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // grow the family through the ingest path so the codes table carries
    // the ingest_batch partition column compaction must preserve
    IngestLoop.ingestPqBatch(embs.filter(col("vec_id") % 2 === 0), 0L,
      "vec_id", "embedding", "tb_pq", nlist = 16, m = 8, ksub = 16,
      seed = 42L, buckets = 8)
    IngestLoop.ingestPqBatch(embs.filter(col("vec_id") % 2 === 1), 1L,
      "vec_id", "embedding", "tb_pq", nlist = 16, m = 8, ksub = 16,
      seed = 42L, buckets = 8)
    try {
      val queries = embs.filter(col("vec_id") < 10)
      val loaded0 = Similarity.loadPqIndex(spark, "tb_pq")
      val before = Similarity.ivfPqTopK(loaded0, embs, queries,
          "vec_id", "embedding", k = 5, nprobe = 8, refine = 8)
        .collect()
      // tombstone the top hit of every query — the strongest falsifier:
      // serving must re-rank, not just drop rows
      val dead = before.filter(_.getInt(3) == 1).map(_.getLong(1)).distinct.toSeq
      assert(dead.nonEmpty)
      Tombstones.add(idsDf(dead, "vec_id"), "vec_id", "tb_pq")
      val loaded = Similarity.loadPqIndex(spark, "tb_pq")
      val served = Similarity.ivfPqTopK(loaded, embs, queries,
          "vec_id", "embedding", k = 5, nprobe = 8, refine = 8)
        .orderBy("q_id", "rn").collect()
      assert(served.forall(r => !dead.contains(r.getLong(1))),
        "a tombstoned candidate survived into the served top-k")
      // == serving from the same model with the codes filtered manually
      val expected = Similarity.ivfPqTopK(
          loaded0.copy(codes = loaded0.codes.filter(!col("c_id").isin(dead: _*))),
          embs, queries, "vec_id", "embedding", k = 5, nprobe = 8, refine = 8)
        .orderBy("q_id", "rn").collect()
      assert(served.map(_.toString).sameElements(expected.map(_.toString)))
      // compact: physical, layout (ingest_batch + cell bucketing) kept
      val total = spark.table("tb_pq_codes").count()
      Tombstones.compactPq(spark, "tb_pq", buckets = 8)
      assert(!spark.catalog.tableExists("tb_pq_tombstones"))
      assert(spark.table("tb_pq_codes").count() == total - dead.length)
      assert(spark.table("tb_pq_codes").columns.contains("ingest_batch"))
      val after = Similarity.ivfPqTopK(Similarity.loadPqIndex(spark, "tb_pq"),
          embs, queries, "vec_id", "embedding", k = 5, nprobe = 8, refine = 8)
        .orderBy("q_id", "rn").collect()
      assert(after.map(_.toString).sameElements(served.map(_.toString)))
      // a replayed ingest batch may re-append dead rows — a fresh
      // tombstone keeps them invisible even though the batch re-ran
      Tombstones.add(idsDf(dead, "vec_id"), "vec_id", "tb_pq")
      IngestLoop.ingestPqBatch(embs.filter(col("vec_id") % 2 === 1), 1L,
        "vec_id", "embedding", "tb_pq", nlist = 16, m = 8, ksub = 16,
        seed = 42L, buckets = 8)
      val replay = Similarity.ivfPqTopK(Similarity.loadPqIndex(spark, "tb_pq"),
          embs, queries, "vec_id", "embedding", k = 5, nprobe = 8, refine = 8)
        .collect()
      assert(replay.forall(r => !dead.contains(r.getLong(1))))
    } finally drop("tb_pq_codes", "tb_pq_meta", "tb_pq_tombstones")
  }

  test("streaming corpus views (minhashCorpusBefore) respect tombstones: deleted docs emit no pairs") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val shard = docs.filter(col("doc_id") % 2 === 1)
    val pairsDir = java.nio.file.Files.createTempDirectory("tb_pairs").toString
    try {
      IngestLoop.ingestMinhashBatch(corpus, 0L, "doc_id", "text", "tb_il",
        pairsDir, threshold = 0.5, numPerms = 32, rowsPerBand = 4, buckets = 8)
      IngestLoop.ingestMinhashBatch(shard, 1L, "doc_id", "text", "tb_il",
        pairsDir, threshold = 0.5, numPerms = 32, rowsPerBand = 4, buckets = 8)
      val batch1 = spark.read.parquet(s"$pairsDir/ingest_batch=1")
      val batch1Count = batch1.count() // materialize before the replay overwrite
      // a pair touching the CORPUS side (even ids) — shard-shard pairs
      // are unaffected by corpus tombstones
      val somePair = batch1
        .filter(col("a_id") % 2 === 0 || col("b_id") % 2 === 0).head()
      val deadCorpusId = Seq(somePair.getLong(0), somePair.getLong(1))
        .filter(_ % 2 == 0).head
      Tombstones.add(idsDf(Seq(deadCorpusId), "doc_id"), "doc_id", "tb_il")
      // a replay of batch 1 now sees the corpus WITHOUT the dead doc
      IngestLoop.ingestMinhashBatch(shard, 1L, "doc_id", "text", "tb_il",
        pairsDir, threshold = 0.5, numPerms = 32, rowsPerBand = 4, buckets = 8)
      val after = spark.read.parquet(s"$pairsDir/ingest_batch=1")
      assert(after.filter(col("a_id") === deadCorpusId ||
        col("b_id") === deadCorpusId).count() == 0,
        "tombstoned corpus doc still emits pairs through the streaming corpus view")
      assert(after.count() < batch1Count)
    } finally drop("tb_il_bands", "tb_il_shingles", "tb_il_meta", "tb_il_tombstones")
  }

  test("SimHash / containment / sign-LSH / SemDeDup: load filters tombstones; compact is physical") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
      .limit(300)
    val embs = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    Dedup.saveSimhashIndex(Dedup.simhashIndex(docs, "doc_id", "text"),
      "tb_sh", buckets = 8)
    Dedup.saveContainmentIndex(Dedup.containmentIndex(docs, "doc_id", "text"),
      "tb_ct", buckets = 8)
    Similarity.saveEmbedIndex(Similarity.embedIndex(embs, "vec_id", "embedding"),
      "tb_em", buckets = 8)
    Similarity.saveSemIndex(Similarity.semIndex(embs, "vec_id", "embedding",
      threshold = 0.9), "tb_sm", buckets = 8)
    try {
      val deadDocs = docs.filter(col("doc_id") % 5 === 0)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      val deadVecs = embs.filter(col("vec_id") % 5 === 0)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      Tombstones.add(idsDf(deadDocs, "doc_id"), "doc_id", "tb_sh")
      Tombstones.add(idsDf(deadDocs, "doc_id"), "doc_id", "tb_ct")
      Tombstones.add(idsDf(deadVecs, "vec_id"), "vec_id", "tb_em")
      Tombstones.add(idsDf(deadVecs, "vec_id"), "vec_id", "tb_sm")
      assert(Dedup.loadSimhashIndex(spark, "tb_sh").chunked
        .filter(col("doc_id").isin(deadDocs: _*)).count() == 0)
      val ct = Dedup.loadContainmentIndex(spark, "tb_ct")
      assert(ct.base.filter(col("id").isin(deadDocs: _*)).count() == 0 &&
        ct.posting.filter(col("id").isin(deadDocs: _*)).count() == 0)
      val em = Similarity.loadEmbedIndex(spark, "tb_em")
      assert(em.vecs.filter(col("id").isin(deadVecs: _*)).count() == 0 &&
        em.hashed.filter(col("id").isin(deadVecs: _*)).count() == 0)
      assert(Similarity.loadSemIndex(spark, "tb_sm").docs
        .filter(col("id").isin(deadVecs: _*)).count() == 0)
      // compaction defaults to the meta-recorded bucket count (round 10)
      Tombstones.compactSimhash(spark, "tb_sh")
      Tombstones.compactContainment(spark, "tb_ct")
      Tombstones.compactEmbed(spark, "tb_em")
      Tombstones.compactSem(spark, "tb_sm")
      Seq("tb_sh", "tb_ct", "tb_em", "tb_sm").foreach(p =>
        assert(!spark.catalog.tableExists(s"${p}_tombstones")))
      assert(spark.table("tb_sh_chunked")
        .filter(col("doc_id").isin(deadDocs: _*)).count() == 0)
      assert(spark.table("tb_ct_base")
        .filter(col("id").isin(deadDocs: _*)).count() == 0)
      assert(spark.table("tb_em_vecs")
        .filter(col("id").isin(deadVecs: _*)).count() == 0)
      assert(spark.table("tb_sm_docs")
        .filter(col("id").isin(deadVecs: _*)).count() == 0)
    } finally drop("tb_sh_chunked", "tb_sh_meta", "tb_sh_tombstones",
      "tb_ct_base", "tb_ct_posting", "tb_ct_meta", "tb_ct_tombstones",
      "tb_em_vecs", "tb_em_hashed", "tb_em_meta", "tb_em_tombstones",
      "tb_sm_docs", "tb_sm_meta", "tb_sm_tombstones")
  }

  test("filter refuses past the broadcast budget, naming compact* as the remedy") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
      .limit(100)
    Dedup.saveMinhashIndex(Dedup.minhashIndex(docs, "doc_id", "text"),
      "tb_bg", buckets = 8)
    try {
      Tombstones.add(docs.filter(col("doc_id") % 3 === 0).select("doc_id"),
        "doc_id", "tb_bg")
      // within budget: the default load path still works
      assert(Dedup.loadMinhashIndex(spark, "tb_bg").shingles.count() > 0)
      // injected cap below the set size: loud refusal, remedy named
      val e = intercept[IllegalArgumentException] {
        Tombstones.filter(spark.table("tb_bg_shingles"), "doc_id", "tb_bg",
          maxTombstones = 5L).count()
      }
      assert(e.getMessage.contains("compact"),
        s"budget refusal must name the compact remedy: ${e.getMessage}")
      // compaction IS the remedy: set cleared, default load green again
      Tombstones.compactMinhash(spark, "tb_bg") // buckets from meta (round 10)
      assert(!spark.catalog.tableExists("tb_bg_tombstones"))
      assert(Tombstones.filter(spark.table("tb_bg_shingles"), "doc_id", "tb_bg",
        maxTombstones = 5L).count() > 0)
    } finally drop("tb_bg_bands", "tb_bg_shingles", "tb_bg_meta", "tb_bg_tombstones")
  }

  test("compaction self-heals from a crash between the temp write and the live overwrite") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
      .limit(200)
    Dedup.saveMinhashIndex(Dedup.minhashIndex(docs, "doc_id", "text"),
      "tb_cr", buckets = 8)
    try {
      val dead = docs.filter(col("doc_id") % 4 === 0)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      Tombstones.add(idsDf(dead, "doc_id"), "doc_id", "tb_cr")
      val liveRows = spark.table("tb_cr_shingles").count() - dead.length
      // simulate the crash window: survivors committed to the temp, the
      // drop+recreate of the live table begun (table gone) but not done
      spark.table("tb_cr_bands")
        .join(spark.table("tb_cr_tombstones").select(col("id").as("doc_id")),
          Seq("doc_id"), "left_anti")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "band", "bucket").sortBy("band", "bucket")
        .saveAsTable("tb_cr_bands__compact")
      spark.sql("DROP TABLE tb_cr_bands")
      // re-running the compaction recovers the live table from the temp
      // and completes the pass: tombstones cleared, deletion physical
      Tombstones.compactMinhash(spark, "tb_cr")
      assert(spark.catalog.tableExists("tb_cr_bands"))
      assert(!spark.catalog.tableExists("tb_cr_bands__compact"))
      assert(!spark.catalog.tableExists("tb_cr_tombstones"))
      assert(spark.table("tb_cr_bands")
        .filter(col("doc_id").isin(dead: _*)).count() == 0)
      assert(spark.table("tb_cr_shingles").count() == liveRows)
      // a STALE temp next to a PRESENT live table (crash before the live
      // overwrite of a later pass began) is dropped and the pass re-runs
      spark.table("tb_cr_bands").limit(1)
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "band", "bucket").sortBy("band", "bucket")
        .saveAsTable("tb_cr_bands__compact")
      Tombstones.compactMinhash(spark, "tb_cr")
      assert(!spark.catalog.tableExists("tb_cr_bands__compact"))
      assert(spark.table("tb_cr_shingles").count() == liveRows)
    } finally drop("tb_cr_bands", "tb_cr_shingles", "tb_cr_meta",
      "tb_cr_tombstones", "tb_cr_bands__compact")
  }

  test("ingest loop refuses a partial family that is not a torn first batch") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
      .limit(200)
    val pairsDir = java.nio.file.Files.createTempDirectory("tb_pf_pairs").toString
    try {
      IngestLoop.ingestMinhashBatch(docs.filter(col("doc_id") % 2 === 0), 0L,
        "doc_id", "text", "tb_pf", pairsDir, threshold = 0.5, numPerms = 32,
        rowsPerBand = 4, buckets = 8)
      IngestLoop.ingestMinhashBatch(docs.filter(col("doc_id") % 2 === 1), 1L,
        "doc_id", "text", "tb_pf", pairsDir, threshold = 0.5, numPerms = 32,
        rowsPerBand = 4, buckets = 8)
      // a crashed compaction's shape: one family table missing, batches
      // beyond 0 surviving elsewhere — the loop must NOT auto-drop the
      // accumulated index (the pre-round-10 behavior: silent data loss)
      spark.sql("DROP TABLE tb_pf_bands")
      val e = intercept[IllegalArgumentException] {
        IngestLoop.ingestMinhashBatch(docs.filter(col("doc_id") % 2 === 1), 2L,
          "doc_id", "text", "tb_pf", pairsDir, threshold = 0.5, numPerms = 32,
          rowsPerBand = 4, buckets = 8)
      }
      assert(e.getMessage.contains("PARTIAL") &&
        e.getMessage.contains("shingles"),
        s"partial-family refusal must name the surviving tables: ${e.getMessage}")
      assert(spark.catalog.tableExists("tb_pf_shingles"),
        "the surviving index table must not be auto-dropped")
    } finally drop("tb_pf_bands", "tb_pf_shingles", "tb_pf_meta",
      "tb_pf_tombstones")
  }

  test("ingest loop refuses a bucket count that disagrees with the family meta") {
    val embs = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    IngestLoop.ingestPqBatch(embs.filter(col("vec_id") % 2 === 0), 0L,
      "vec_id", "embedding", "tb_bk", nlist = 16, m = 8, ksub = 16,
      seed = 42L, buckets = 8)
    try {
      val e = intercept[IllegalArgumentException] {
        IngestLoop.ingestPqBatch(embs.filter(col("vec_id") % 2 === 1), 1L,
          "vec_id", "embedding", "tb_bk", nlist = 16, m = 8, ksub = 16,
          seed = 42L, buckets = 16)
      }
      assert(e.getMessage.contains("8") && e.getMessage.contains("16"),
        s"bucket disagreement must name both counts: ${e.getMessage}")
      // the recorded count keeps working
      IngestLoop.ingestPqBatch(embs.filter(col("vec_id") % 2 === 1), 1L,
        "vec_id", "embedding", "tb_bk", nlist = 16, m = 8, ksub = 16,
        seed = 42L, buckets = 8)
      // and compaction defaults to it (no caller-supplied layout)
      Tombstones.add(idsDf(Seq(0L, 2L), "vec_id"), "vec_id", "tb_bk")
      Tombstones.compactPq(spark, "tb_bk")
      assert(!spark.catalog.tableExists("tb_bk_tombstones"))
    } finally drop("tb_bk_codes", "tb_bk_meta", "tb_bk_tombstones")
  }

  test("budget counts DISTINCT ids: repeated adds of the same set do not inflate toward the cap") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
      .limit(100)
    Dedup.saveMinhashIndex(Dedup.minhashIndex(docs, "doc_id", "text"),
      "tb_di", buckets = 8)
    try {
      val dead = docs.filter(col("doc_id") % 3 === 0).select("doc_id")
      val nDead = dead.count()
      // three overlapping sweeps of the SAME ids: raw rows = 3x distinct
      (1 to 3).foreach(_ => Tombstones.add(dead, "doc_id", "tb_di"))
      assert(spark.table("tb_di_tombstones").count() == 3 * nDead)
      // a budget between distinct and raw: the load must PASS (the
      // round-11 advisory — raw counting refused loads whose actual
      // broadcast was far under budget)
      assert(Tombstones.filter(spark.table("tb_di_shingles"), "doc_id",
        "tb_di", maxTombstones = 2 * nDead).count() == docs.count() - nDead)
    } finally drop("tb_di_bands", "tb_di_shingles", "tb_di_meta",
      "tb_di_tombstones")
  }

  test("a family load runs the tombstone budget count once, not once per data table") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
      .limit(100)
    Dedup.saveMinhashIndex(Dedup.minhashIndex(docs, "doc_id", "text"),
      "tb_jc", buckets = 8)
    try {
      val dead = docs.filter(col("doc_id") % 3 === 0).select("doc_id")
      Tombstones.add(dead, "doc_id", "tb_jc")
      val (_, oneTable) = JobCount(spark, "tombstonespec-filter-jobs")(
        Tombstones.filter(spark.table("tb_jc_shingles"), "doc_id", "tb_jc"))
      val (Seq(bands, shingles), load) = JobCount(spark, "tombstonespec-load-jobs")(
        Family.MinHash.keyedOn("doc_id").load(spark, "tb_jc"))
      assert(oneTable > 0, "the budget check is a Spark job")
      assert(load == oneTable,
        s"the two-table load ran $load jobs where one budget check runs $oneTable")
      assert(shingles.count() == docs.count() - dead.count())
      assert(bands.join(dead, Seq("doc_id")).count() == 0)
    } finally drop("tb_jc_bands", "tb_jc_shingles", "tb_jc_meta", "tb_jc_tombstones")
  }

  test("an ingest batch on a tombstoned family runs the tombstone budget count once, not twice") {
    // the fence-held parameter check reads the meta row only; the one
    // budget count belongs to the mine's corpus view
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val pairsDir = java.nio.file.Files.createTempDirectory("tb_bc_pairs").toString
    def batch(bid: Long) = IngestLoop.ingestMinhashBatch(
      docs.filter(col("doc_id") % 2 === bid), bid, "doc_id", "text", "tb_bc",
      pairsDir, threshold = 0.5, numPerms = 32, rowsPerBand = 4, buckets = 8)
    try {
      batch(0L)
      Tombstones.add(docs.filter(col("doc_id") % 8 === 0).select("doc_id"), "doc_id", "tb_bc")
      val (_, counts) = JobCount.countsOver(spark, "tb_bc_tombstones")(batch(1L))
      assert(counts == 1, s"one batch ran $counts tombstone budget counts")
      assert(spark.read.parquet(s"$pairsDir/ingest_batch=1")
        .filter(col("a_id") % 8 === 0 || col("b_id") % 8 === 0).count() == 0)
    } finally drop("tb_bc_bands", "tb_bc_shingles", "tb_bc_meta", "tb_bc_tombstones")
  }

  test("deleteWhere: predicate sweep feeds the tombstones — swept ids vanish from pairs and serving") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val embs = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val shard = docs.filter(col("doc_id") % 2 === 1)
    Dedup.saveMinhashIndex(Dedup.minhashIndex(corpus, "doc_id", "text"),
      "tb_dw", buckets = 8)
    Similarity.savePqIndex(Similarity.pqIndex(embs, "vec_id", "embedding",
      nlist = 16, m = 8, ksub = 16, seed = 42L), "tb_dwpq", buckets = 8)
    try {
      // budget refusal happens BEFORE anything commits
      val e = intercept[IllegalArgumentException] {
        Tombstones.deleteWhere(corpus, "doc_id", "tb_dw",
          col("doc_id") % 8 === 0, maxTombstones = 3L)
      }
      assert(e.getMessage.contains("compact"),
        s"pre-commit budget refusal must name the remedy: ${e.getMessage}")
      assert(!spark.catalog.tableExists("tb_dw_tombstones"),
        "a refused sweep must commit nothing")
      // the sweep: count returned == distinct matching ids
      val n = Tombstones.deleteWhere(corpus, "doc_id", "tb_dw",
        col("doc_id") % 8 === 0)
      assert(n == corpus.filter(col("doc_id") % 8 === 0).count())
      // swept ids vanish from incremental pair mining
      val pairs = Dedup.minhashLshPairsIncremental(
        Dedup.minhashIndex(shard, "doc_id", "text"),
        Dedup.loadMinhashIndex(spark, "tb_dw"), threshold = 0.5)
      assert(pairs.filter(col("a_id") % 8 === 0 || col("b_id") % 8 === 0)
        .count() == 0)
      // ... and from ANN serving (the PQ family, swept by predicate)
      val nv = Tombstones.deleteWhere(embs, "vec_id", "tb_dwpq",
        col("vec_id") % 8 === 0)
      assert(nv == embs.filter(col("vec_id") % 8 === 0).count())
      val served = Similarity.ivfPqTopK(Similarity.loadPqIndex(spark, "tb_dwpq"),
        embs, embs.filter(col("vec_id") < 20), "vec_id", "embedding",
        k = 5, nprobe = 8, refine = 8)
      assert(served.filter(col("c_id") % 8 === 0).count() == 0)
      // an empty sweep is a no-op returning 0
      assert(Tombstones.deleteWhere(corpus, "doc_id", "tb_dw",
        col("doc_id") < 0) == 0L)
    } finally drop("tb_dw_bands", "tb_dw_shingles", "tb_dw_meta",
      "tb_dw_tombstones", "tb_dwpq_codes", "tb_dwpq_meta", "tb_dwpq_tombstones")
  }

  test("deleteWhere budget counts the distinct UNION: re-sweeping already-tombstoned ids cannot refuse an in-budget sweep") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
      .limit(100)
    Dedup.saveMinhashIndex(Dedup.minhashIndex(docs, "doc_id", "text"),
      "tb_db", buckets = 8)
    try {
      val dead = docs.filter(col("doc_id") % 3 === 0).select("doc_id")
      val nDead = dead.count()
      Tombstones.add(dead, "doc_id", "tb_db")
      // re-sweep the SAME ids with a budget of exactly the distinct set:
      // existing + n double-counting would read 2x and refuse; the
      // distinct union is exactly in budget and must commit
      val n = Tombstones.deleteWhere(docs, "doc_id", "tb_db",
        col("doc_id") % 3 === 0, maxTombstones = nDead)
      assert(n == nDead)
      assert(spark.table("tb_db_tombstones").select("id").distinct().count() == nDead)
      // a genuinely over-budget sweep still refuses pre-commit
      intercept[IllegalArgumentException] {
        Tombstones.deleteWhere(docs, "doc_id", "tb_db", lit(true),
          maxTombstones = nDead)
      }
      assert(spark.table("tb_db_tombstones").select("id").distinct().count() == nDead,
        "a refused sweep must commit nothing")
    } finally drop("tb_db_bands", "tb_db_shingles", "tb_db_meta",
      "tb_db_tombstones")
  }

  test("maintain: the engine-owned compaction policy — no-op below the budget fraction, compacts (and clears) above") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
      .limit(120)
    Dedup.saveMinhashIndex(Dedup.minhashIndex(docs, "doc_id", "text"),
      "tb_mt", buckets = 8)
    try {
      // no tombstones at all: nothing to do
      assert(!Tombstones.maintain(spark, "tb_mt"))
      val dead = docs.filter(col("doc_id") % 4 === 0).select("doc_id")
      val nDead = dead.count()
      Tombstones.add(dead, "doc_id", "tb_mt")
      // far below the fraction: no-op, the logical set stays
      assert(!Tombstones.maintain(spark, "tb_mt", fraction = 0.5,
        maxTombstones = 100 * nDead))
      assert(spark.catalog.tableExists("tb_mt_tombstones"))
      // at the fraction: the family's compact runs (kind inferred from
      // the signature table, layout from meta) and clears the set
      assert(Tombstones.maintain(spark, "tb_mt", fraction = 0.5,
        maxTombstones = 2 * nDead))
      assert(!spark.catalog.tableExists("tb_mt_tombstones"))
      assert(spark.table("tb_mt_shingles")
        .filter(col("doc_id") % 4 === 0).count() == 0,
        "maintain's compaction must be physical")
      // cleared: back to no-op
      assert(!Tombstones.maintain(spark, "tb_mt"))
    } finally drop("tb_mt_bands", "tb_mt_shingles", "tb_mt_meta",
      "tb_mt_tombstones")
  }

  test("clearOrphanLocation: adopts only a provably engine-written commits dir; anything else refuses loudly (round-14 advisory)") {
    import spark.implicits._
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val fsP = new org.apache.hadoop.fs.Path(wh)
    val fs = fsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // 1. a same-named directory that is NOT an engine commits mapping
    //    (could be a live foreign writer's table or user data): refuse,
    //    leave it untouched — the old behavior deleted it silently
    val foreign = new org.apache.hadoop.fs.Path(fsP, "tb_orph_commits")
    try {
      Seq((1L, "x")).toDF("some_id", "payload")
        .write.mode("overwrite").parquet(foreign.toString)
      assert(!spark.catalog.tableExists("tb_orph_commits"))
      val e = intercept[IllegalArgumentException](
        Tombstones.clearOrphanLocation(spark, "tb_orph_commits"))
      assert(e.getMessage.contains("refusing"), e.getMessage)
      assert(fs.exists(foreign),
        "a non-engine directory must survive the refusal intact")
      // 2. the true orphan state (ephemeral metastore lost the entry,
      //    dir carries exactly the engine's commits schema): cleared
      fs.delete(foreign, true)
      Seq(("loop-a", 0L, 0L, Seq.empty[Long]))
        .toDF("loop_id", "local_bid", "global_bid", "missing_below")
        .write.mode("overwrite").parquet(foreign.toString)
      // drop the _SUCCESS-style markers case too: schema check drives it
      Tombstones.clearOrphanLocation(spark, "tb_orph_commits")
      assert(!fs.exists(foreign),
        "a provably engine-written orphaned mapping must be cleared")
      // 3. cataloged table: no-op regardless of shape
      Seq((1L, 2L)).toDF("a", "b")
        .write.mode("overwrite").format("parquet").saveAsTable("tb_orph_commits")
      Tombstones.clearOrphanLocation(spark, "tb_orph_commits")
      assert(spark.catalog.tableExists("tb_orph_commits"))
    } finally {
      drop("tb_orph_commits")
      if (fs.exists(foreign)) fs.delete(foreign, true)
    }
  }
}
