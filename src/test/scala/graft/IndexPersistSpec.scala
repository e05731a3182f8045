package graft

import graft.operators.{Dedup, Family, Fence, Similarity, Tombstones}
import graft.queries.TextQueries
import graft.streaming.IngestLoop
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed persistence round-trip for the ingestion index types: each
  * family's index saves as bucketed Parquet tables, reloads purely by
  * catalog name (no lineage to the in-memory frames — what a new
  * session over the same warehouse would see), ingests a shard with
  * output identical to the in-memory index, and the candidate join
  * reads the corpus side CO-LOCATED — the only Exchange in the bare
  * candidate-join plan is the (small) shard side being hashed into the
  * corpus's bucketing, never the corpus itself. */
class IndexPersistSpec extends AnyFunSuite {
  lazy val spark = Tables.session(4)
  val dir = "/root/testdata/sf0.001"

  private def countExchanges(plan: String): Int =
    "(?<!Broadcast)Exchange".r.findAllIn(plan).length

  /** Run `mkJoin` with broadcast disabled, execute it, and assert the
    * corpus (bucketed) side never re-shuffles: exactly one Exchange —
    * the shard side conforming to the corpus bucketing. */
  private def assertOneShardExchange(mkJoin: => org.apache.spark.sql.DataFrame): Unit = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = mkJoin
      j.count()
      val plan = j.queryExecution.executedPlan.toString
      assert(countExchanges(plan) == 1,
        s"expected only the shard-side exchange:\n${plan.take(2000)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  private def drop(names: String*): Unit =
    names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))

  test("MinHashIndex: bucketed save/load round-trip, shard-only shuffle") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val shard = docs.filter(col("doc_id") % 2 === 1)
    val cIdx = Dedup.minhashIndex(corpus, "doc_id", "text")
    Dedup.saveMinhashIndex(cIdx, "mh_rt", buckets = 8)
    try {
      val loaded = Dedup.loadMinhashIndex(spark, "mh_rt")
      assert(loaded.idCol == "doc_id" && loaded.numPerms == cIdx.numPerms &&
        loaded.rowsPerBand == cIdx.rowsPerBand)
      val sIdx = Dedup.minhashIndex(shard, "doc_id", "text")
      val mem = Dedup.minhashLshPairsIncremental(sIdx, cIdx, threshold = 0.5)
        .orderBy("a_id", "b_id").collect().map(_.toString)
      val rel = Dedup.minhashLshPairsIncremental(sIdx, loaded, threshold = 0.5)
        .orderBy("a_id", "b_id").collect().map(_.toString)
      assert(rel.sameElements(mem),
        s"reloaded ingest diverges: mem=${mem.length} reloaded=${rel.length}")
      assertOneShardExchange(
        sIdx.bands.join(spark.table("mh_rt_bands"), Seq("band", "bucket")))
    } finally drop("mh_rt_bands", "mh_rt_shingles", "mh_rt_meta")
  }

  test("EmbedIndex: bucketed save/load round-trip, shard-only shuffle") {
    val embs = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val corpus = embs.filter(col("vec_id") % 2 === 0)
    val shard = embs.filter(col("vec_id") % 2 === 1)
    val cIdx = Similarity.embedIndex(corpus, "vec_id", "embedding", dim = 64)
    Similarity.saveEmbedIndex(cIdx, "em_rt", buckets = 8)
    try {
      val loaded = Similarity.loadEmbedIndex(spark, "em_rt")
      assert(loaded.idCol == "vec_id" && loaded.seed == cIdx.seed &&
        loaded.dim == cIdx.dim && loaded.numTables == cIdx.numTables)
      val sIdx = Similarity.embedIndex(shard, "vec_id", "embedding", dim = 64)
      val mem = Similarity.lshDupPairsIncremental(sIdx, cIdx, threshold = 0.9)
        .orderBy("a_id", "b_id").collect().map(_.toString)
      val rel = Similarity.lshDupPairsIncremental(sIdx, loaded, threshold = 0.9)
        .orderBy("a_id", "b_id").collect().map(_.toString)
      assert(rel.sameElements(mem),
        s"reloaded ingest diverges: mem=${mem.length} reloaded=${rel.length}")
      assertOneShardExchange(
        sIdx.hashed.join(spark.table("em_rt_hashed"), Seq("t", "h")))
    } finally drop("em_rt_hashed", "em_rt_vecs", "em_rt_meta")
  }

  test("SimHashIndex: bucketed save/load round-trip, shard-only shuffle") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val shard = docs.filter(col("doc_id") % 2 === 1)
    val cIdx = Dedup.simhashIndex(corpus, "doc_id", "text")
    Dedup.saveSimhashIndex(cIdx, "sh_rt", buckets = 8)
    try {
      val loaded = Dedup.loadSimhashIndex(spark, "sh_rt")
      assert(loaded.idCol == "doc_id")
      val sIdx = Dedup.simhashIndex(shard, "doc_id", "text")
      val mem = Dedup.simhashPairsIncremental(sIdx, cIdx, maxHamming = 3)
        .orderBy("a_id", "b_id").collect().map(_.toString)
      val rel = Dedup.simhashPairsIncremental(sIdx, loaded, maxHamming = 3)
        .orderBy("a_id", "b_id").collect().map(_.toString)
      assert(rel.sameElements(mem),
        s"reloaded ingest diverges: mem=${mem.length} reloaded=${rel.length}")
      assertOneShardExchange(
        sIdx.chunked.select(col("doc_id").as("s_id"), col("chunk"), col("ckey"))
          .join(spark.table("sh_rt_chunked").select(col("doc_id").as("c_id"),
            col("chunk"), col("ckey")), Seq("chunk", "ckey")))
    } finally drop("sh_rt_chunked", "sh_rt_meta")
  }

  test("PqIndex: bucketed save/load round-trip, probe-only shuffle") {
    val embs = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val q = embs.filter(col("vec_id") < 20)
    val idx = Similarity.pqIndex(embs, "vec_id", "embedding",
      nlist = 16, m = 16, ksub = 32)
    Similarity.savePqIndex(idx, "pq_rt", buckets = 8)
    try {
      val loaded = Similarity.loadPqIndex(spark, "pq_rt")
      assert(loaded.idCol == "vec_id" && loaded.m == idx.m &&
        loaded.ksub == idx.ksub && loaded.dim == idx.dim && loaded.seed == idx.seed)
      // trained model survives byte-exact (both coarse levels)
      assert(loaded.coarse.l1.map(_.toSeq).toSeq == idx.coarse.l1.map(_.toSeq).toSeq)
      assert(loaded.coarse.l2.map(_.toSeq).toSeq == idx.coarse.l2.map(_.toSeq).toSeq)
      assert(loaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
        idx.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
      val mem = Similarity.ivfPqTopK(idx, embs, q, "vec_id", "embedding",
        k = 10, nprobe = 6, refine = 8).orderBy("q_id", "rn").collect().map(_.toString)
      val rel = Similarity.ivfPqTopK(loaded, embs, q, "vec_id", "embedding",
        k = 10, nprobe = 6, refine = 8).orderBy("q_id", "rn").collect().map(_.toString)
      assert(rel.sameElements(mem),
        s"reloaded PQ serving diverges: mem=${mem.length} reloaded=${rel.length}")
      // ADC scan reads the codes side co-located: only the probe side
      // shuffles into the bucketing
      assertOneShardExchange(
        idx.codes.filter(col("c_id") < 50).select(col("c_id").as("p_id"), col("cell"))
          .join(spark.table("pq_rt_codes"), Seq("cell")))
    } finally drop("pq_rt_codes", "pq_rt_meta")
  }

  test("ContainmentIndex: bucketed save/load round-trip, shard-only shuffle") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val shard = docs.filter(col("doc_id") % 2 === 1)
    val cIdx = Dedup.containmentIndex(corpus, "doc_id", "text")
    Dedup.saveContainmentIndex(cIdx, "ct_rt", buckets = 8)
    try {
      val loaded = Dedup.loadContainmentIndex(spark, "ct_rt")
      assert(loaded.idCol == "doc_id" && loaded.n == cIdx.n)
      val sIdx = Dedup.containmentIndex(shard, "doc_id", "text")
      val mem = Dedup.containmentJoinIncremental(sIdx, cIdx, tau = 0.5)
        .orderBy("a_id", "b_id").collect().map(_.toString)
      val rel = Dedup.containmentJoinIncremental(sIdx, loaded, tau = 0.5)
        .orderBy("a_id", "b_id").collect().map(_.toString)
      assert(rel.sameElements(mem),
        s"reloaded ingest diverges: mem=${mem.length} reloaded=${rel.length}")
      assertOneShardExchange(
        sIdx.posting.join(spark.table("ct_rt_posting"), Seq("gram")))
      // mismatched shingle family refuses on load-and-join
      val n4 = Dedup.containmentIndex(shard, "doc_id", "text", n = 4)
      val e = intercept[IllegalArgumentException](
        Dedup.containmentJoinIncremental(n4, loaded, tau = 0.5))
      assert(e.getMessage.contains("widths differ"))
    } finally drop("ct_rt_posting", "ct_rt_base", "ct_rt_meta")
  }

  /** Registry drift: build a tiny `kind` family under `p` through its
    * public entry point, run its maintenance (a tombstone add and a
    * compaction, or the components fold), and check after each step
    * that every `<p>_*` catalog table is declared by the kind's
    * descriptor and that every declared data table and the meta exist.
    * Then leave the state a crashed run does — the signature table's
    * catalog entry gone but its warehouse directory left behind, and the
    * fence held — and check that [[TextQueries.resetFamily]] clears it
    * so a fresh build succeeds. */
  private def checkRegistry(kind: Family.Kind, p: String)(build: => Unit)(
      maintain: (() => Unit)*): Unit = {
    def assertDeclared(step: String): Unit = {
      val held = spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith(p + "_")).toSet
      val undeclared = held -- kind.declared(p)
      assert(undeclared.isEmpty,
        s"after $step, $p holds tables the ${kind.name} descriptor does not declare: $undeclared")
      (kind.tables(p) :+ Family.meta(p)).foreach(t =>
        assert(spark.catalog.tableExists(t), s"after $step, declared table $t is missing"))
    }
    TextQueries.resetFamily(spark, p)
    try {
      build
      assertDeclared("build")
      maintain.zipWithIndex.foreach { case (step, i) =>
        step()
        assertDeclared(s"maintenance step $i")
      }
      val sig = kind.signature(p)
      spark.sql(s"DROP TABLE $sig")
      val orphan = Family.location(spark, sig)
      val fs = orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(orphan)
      fs.create(new org.apache.hadoop.fs.Path(orphan, "part-00000.parquet")).close()
      Fence.acquire(spark, p, "crashedRun")
      TextQueries.resetFamily(spark, p)
      assert(!fs.exists(orphan), s"resetFamily left the orphaned directory $orphan")
      assert(Fence.holder(spark, p).isEmpty, "resetFamily left the fence held")
      build
      assertDeclared("rebuild after reset")
    } finally TextQueries.resetFamily(spark, p)
  }

  private def docs200 = Tables(spark, dir, "documents")
    .select(col("doc_id"), col("text")).filter(col("doc_id") < 200)
  private def embs200 = Tables(spark, dir, "embeddings")
    .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 200)
  private def tombstoneFirst(df: => org.apache.spark.sql.DataFrame, idCol: String,
                             p: String): () => Unit =
    () => Tombstones.add(df.select(idCol).orderBy(idCol).limit(1), idCol, p)

  test("registry: MinHash family tables are the declared ones; resetFamily clears a crashed run") {
    val p = "rgmh"
    checkRegistry(Family.MinHash, p)(
      Dedup.saveMinhashIndex(Dedup.minhashIndex(docs200, "doc_id", "text"), p, buckets = 4))(
      tombstoneFirst(docs200, "doc_id", p), () => Tombstones.compactMinhash(spark, p))
  }

  test("registry: SimHash family tables are the declared ones; resetFamily clears a crashed run") {
    val p = "rgsh"
    checkRegistry(Family.SimHash, p)(
      Dedup.saveSimhashIndex(Dedup.simhashIndex(docs200, "doc_id", "text"), p, buckets = 4))(
      tombstoneFirst(docs200, "doc_id", p), () => Tombstones.compactSimhash(spark, p))
  }

  test("registry: containment family (multi-writer ingest) tables are the declared ones; resetFamily clears a crashed run") {
    val p = "rgcn"
    val pairsDir = java.nio.file.Files.createTempDirectory("rgcn_pairs").toString
    checkRegistry(Family.Containment, p)(
      IngestLoop.ingestContainmentBatch(docs200, 0L, "doc_id", "text", p, pairsDir,
        tau = 0.5, n = 3, buckets = 4, loopId = "rgcn-loop", multiWriter = true))(
      tombstoneFirst(docs200, "doc_id", p), () => Tombstones.compactContainment(spark, p))
  }

  test("registry: sign-LSH family tables are the declared ones; resetFamily clears a crashed run") {
    val p = "rgem"
    checkRegistry(Family.Embed, p)(
      Similarity.saveEmbedIndex(
        Similarity.embedIndex(embs200, "vec_id", "embedding", dim = 64), p, buckets = 4))(
      tombstoneFirst(embs200, "vec_id", p), () => Tombstones.compactEmbed(spark, p))
  }

  test("registry: IVF-PQ family tables are the declared ones; resetFamily clears a crashed run") {
    val p = "rgpq"
    checkRegistry(Family.Pq, p)(
      Similarity.savePqIndex(Similarity.pqIndex(embs200, "vec_id", "embedding",
        nlist = 4, m = 8, ksub = 16), p, buckets = 4))(
      tombstoneFirst(embs200, "vec_id", p), () => Tombstones.compactPq(spark, p))
  }

  test("registry: SemDeDup family tables are the declared ones; resetFamily clears a crashed run") {
    val p = "rgsm"
    checkRegistry(Family.Sem, p)(
      Similarity.saveSemIndex(Similarity.semIndex(embs200, "vec_id", "embedding",
        threshold = 0.95, nlist = 4), p, buckets = 4))(
      tombstoneFirst(embs200, "vec_id", p), () => Tombstones.compactSem(spark, p))
  }

  test("registry: components family tables are the declared ones; resetFamily clears a crashed run") {
    val p = "rgcc"
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    checkRegistry(Family.Components, p)(
      IngestLoop.ingestCcBatch(pairs, 0L, "a", "b", p, buckets = 4))(
      () => IngestLoop.ingestCcBatch(Seq((3L, 7L)).toDF("a", "b"), 1L, "a", "b", p, buckets = 4),
      () => IngestLoop.compactCc(spark, p))
  }
}
