package graft

import graft.operators.{Similarity, Tombstones}
import graft.streaming.IngestLoop
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental SemDeDup contracts:
  *  - EXACT equivalence: with ids arriving in increasing order and no
  *    shard bridging two existing components (exact-clone shards can
  *    never bridge — a clone's edges are its source's edges), the
  *    incremental (id, cell, canonical, kept) rows across any shard
  *    split are row-identical to one batch semanticDedup over the
  *    union;
  *  - first-in-wins under a genuine bridge: existing survivors stay
  *    kept, only the bridge doc drops — the documented deviation from
  *    a batch re-run (which would merge under one survivor);
  *  - the pair-mass budget fires BEFORE any join is scheduled;
  *  - the ingest-loop twin: per-batch decisions against the persisted
  *    index == the in-memory incremental run, retry-idempotent, and
  *    tombstoned docs leave the comparison set.
  */
class SemDedupIncSpec extends AnyFunSuite {
  lazy val spark = Tables.session(4)
  val dir = "/root/testdata/sf0.001"

  private def drop(names: String*): Unit =
    names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))

  private def decisions(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select(col("id"), col("cell"), col("canonical"), col("kept"))
      .collect().map(_.toString).toSet

  test("incremental over 2 ordered shards == one batch semanticDedup on the union") {
    val embs = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 400)
    // two clone waves with strictly increasing ids: shard1 clones every
    // 3rd corpus doc, shard2 clones every 5th (overlap on multiples of
    // 15 exercises cross-shard transitive attachment)
    val corpus = embs
    val shard1 = embs.filter(col("vec_id") % 3 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val shard2 = embs.filter(col("vec_id") % 5 === 0)
      .withColumn("vec_id", col("vec_id") + 2000000L)
    val threshold = 0.9
    var idx = Similarity.semIndex(corpus, "vec_id", "embedding", threshold,
      nlist = 16)
    val d1 = Similarity.semanticDedupIncremental(shard1, "embedding", idx)
      .localCheckpoint(true)
    idx = idx.union(d1)
    val d2 = Similarity.semanticDedupIncremental(shard2, "embedding", idx)
      .localCheckpoint(true)
    idx = idx.union(d2)
    val batch = Similarity.semanticDedup(
      corpus.union(shard1).union(shard2), "vec_id", "embedding", threshold,
      nlist = 16)
      .select(col("vec_id").as("id"), col("cell"), col("canonical"), col("kept"))
    assert(decisions(idx.docs) == decisions(batch),
      "incremental decisions diverge from the batch run under ordered, bridge-free arrival")
    // every clone dropped onto its source's component
    assert(d1.filter(col("kept")).count() == 0 &&
      d2.filter(col("kept")).count() == 0,
      "an exact clone of an existing doc must always drop")
  }

  test("bridge doc: first-in-wins keeps both existing survivors; batch would merge") {
    import spark.implicits._
    // unit vectors: cos(A,B) = 0.8 < 0.9; M normalized midpoint has
    // cos ~0.95 to both — M bridges A and B
    val a = Seq(1.0, 0.0) ++ Seq.fill(6)(0.0)
    val b = Seq(0.8, 0.6) ++ Seq.fill(6)(0.0)
    val mRaw = a.zip(b).map { case (x, y) => x + y }
    val mn = math.sqrt(mRaw.map(x => x * x).sum)
    val m = mRaw.map(_ / mn)
    val corpus = Seq((1L, a), (2L, b)).toDF("vec_id", "embedding")
    val shard = Seq((3L, m)).toDF("vec_id", "embedding")
    val idx = Similarity.semIndex(corpus, "vec_id", "embedding",
      threshold = 0.9, nlist = 1)
    assert(idx.docs.filter(col("kept")).count() == 2) // A, B independent
    val dec = Similarity.semanticDedupIncremental(shard, "embedding", idx)
      .collect()
    assert(dec.length == 1)
    val r = dec.head
    assert(!r.getBoolean(5) && r.getLong(4) == 1L,
      s"bridge doc must drop onto the min existing canonical, got $r")
    val folded = idx.union(Similarity.semanticDedupIncremental(shard, "embedding", idx))
    assert(folded.docs.filter(col("kept")).count() == 2,
      "first-in-wins must not un-keep existing survivors")
    // the batch re-run merges all three under one survivor — the
    // documented difference
    val batch = Similarity.semanticDedup(corpus.union(shard), "vec_id",
      "embedding", threshold = 0.9, nlist = 1)
    assert(batch.filter(col("kept")).count() == 1)
  }

  test("clone-heavy shard: collapse branch output == forced direct branch") {
    val embs = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 200)
    val idx = Similarity.semIndex(embs, "vec_id", "embedding",
      threshold = 0.9, nlist = 16)
    // 5 identical clones per source vector, distinct ascending ids:
    // exactly 2.0 within-family pairs per row, which the probe's strict
    // test keeps on the direct branch at the default threshold — so the
    // collapse is forced with pairs-per-doc 0
    val shard = (1 to 5).map(i => embs.filter(col("vec_id") % 2 === 0)
        .withColumn("vec_id", col("vec_id") + i * 1000000L))
      .reduce(_ union _)
    val collapsed = decisions(
      Similarity.semanticDedupIncremental(shard, "embedding", idx,
        collapsePairsPerDoc = 0.0))
    val direct = decisions(
      Similarity.semanticDedupIncremental(shard, "embedding", idx,
        collapsePairsPerDoc = Double.MaxValue))
    assert(collapsed == direct,
      "collapse branch diverges from the direct incremental branch")
    assert(collapsed.nonEmpty)
  }

  test("pair-mass budget fires before the incremental joins") {
    val embs = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 200)
    val idx = Similarity.semIndex(embs, "vec_id", "embedding",
      threshold = 0.9, nlist = 16)
    val shard = embs.withColumn("vec_id", col("vec_id") + 1000000L)
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedupIncremental(shard, "embedding", idx, maxPairs = 10L)
    }
    assert(e.getMessage.contains("pair mass") && e.getMessage.contains("nlist"))
  }

  test("STREAMED sem ingestion over >=3 micro-batches == the sequential in-memory fold") {
    val embs = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 300)
    // three ordered waves: the corpus, then two clone shards
    val waves = Seq(
      embs,
      embs.filter(col("vec_id") % 3 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000L),
      embs.filter(col("vec_id") % 5 === 0)
        .withColumn("vec_id", col("vec_id") + 2000000L))
    val streamDir = java.nio.file.Files.createTempDirectory("semingest_src").toString
    waves.zipWithIndex.foreach { case (w, i) =>
      val tmp = java.nio.file.Files.createTempDirectory("sem_part").toString
      w.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      java.nio.file.Files.copy(part,
        java.nio.file.Paths.get(streamDir, s"w$i.parquet"))
      Thread.sleep(1100)
    }
    val ckpt = java.nio.file.Files.createTempDirectory("semingest_ckpt").toString
    val stream = spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    try {
      val q = IngestLoop.semIngest(stream, "vec_id", "embedding",
        prefix = "sem_st", checkpointDir = ckpt, threshold = 0.9, nlist = 16)
      q.awaitTermination()
      assert(spark.table("sem_st_docs").select("ingest_batch").distinct().count() >= 3)
      var mem = Similarity.semIndex(waves(0), "vec_id", "embedding",
        threshold = 0.9, nlist = 16)
      waves.drop(1).foreach { w =>
        mem = mem.union(Similarity.semanticDedupIncremental(w, "embedding", mem)
          .localCheckpoint(true))
      }
      assert(decisions(Similarity.loadSemIndex(spark, "sem_st").docs) ==
        decisions(mem.docs),
        "streamed sem ingestion diverges from the sequential in-memory fold")
    } finally drop("sem_st_docs", "sem_st_meta")
  }

  test("sem ingest loop: persisted-index decisions == in-memory; replay idempotent; tombstones respected") {
    val embs = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 300)
    val corpus = embs
    val shard = embs.filter(col("vec_id") % 4 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    try {
      IngestLoop.ingestSemBatch(corpus, 0L, "vec_id", "embedding", "sem_il",
        threshold = 0.9, nlist = 16, seed = 42L,
        maxPairs = 1000000000L, buckets = 8)
      IngestLoop.ingestSemBatch(shard, 1L, "vec_id", "embedding", "sem_il",
        threshold = 0.9, nlist = 16, seed = 42L,
        maxPairs = 1000000000L, buckets = 8)
      // == the in-memory two-step
      val mem0 = Similarity.semIndex(corpus, "vec_id", "embedding",
        threshold = 0.9, nlist = 16)
      val memAll = mem0.union(
        Similarity.semanticDedupIncremental(shard, "embedding", mem0))
      assert(decisions(Similarity.loadSemIndex(spark, "sem_il").docs) ==
        decisions(memAll.docs))
      // replay batch 1: table identical
      val before = spark.table("sem_il_docs").collect().map(_.toString).toSet
      IngestLoop.ingestSemBatch(shard, 1L, "vec_id", "embedding", "sem_il",
        threshold = 0.9, nlist = 16, seed = 42L,
        maxPairs = 1000000000L, buckets = 8)
      assert(spark.table("sem_il_docs").collect().map(_.toString).toSet == before)
      // tombstone a kept corpus doc that has a clone in a later batch:
      // a NEW clone of it no longer attaches to it
      val someKept = spark.table("sem_il_docs")
        .filter(col("kept") && col("ingest_batch") === 0 && col("id") % 4 === 0)
        .select("id").head().getLong(0)
      import spark.implicits._
      Tombstones.add(Seq(someKept).toDF("id"), "id", "sem_il")
      val idxAfter = Similarity.loadSemIndex(spark, "sem_il")
      assert(idxAfter.docs.filter(col("id") === someKept).count() == 0)
    } finally drop("sem_il_docs", "sem_il_meta", "sem_il_tombstones")
  }
}
