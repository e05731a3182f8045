package graft

import graft.operators.Dedup
import graft.streaming.IngestLoop
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end streaming ingestion loop: a readStream source drained as
  * ≥3 micro-batches through foreachBatch, each batch matching against
  * the RELOADED persisted index and appending itself as a new partition
  * of the bucketed index tables. Pins
  *  - the pair-set contract: union of per-batch pair outputs ==
  *    one batch minhashLshPairs run over the whole corpus;
  *  - the plan contract: after three append folds, a fresh shard's
  *    candidate join against the on-disk bands table still reads the
  *    corpus co-located (one shard-side Exchange, broadcast disabled);
  *  - retry idempotence: replaying a batch (the foreachBatch redelivery
  *    case) leaves both the pair output and the index byte-identical.
  */
class IngestLoopSpec extends AnyFunSuite {
  lazy val spark = Tables.session(4)
  val dir = "/root/testdata/sf0.001"

  private def stage(df: org.apache.spark.sql.DataFrame, streamDir: String,
                    name: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("ingest_part").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    java.nio.file.Files.copy(part, java.nio.file.Paths.get(streamDir, name))
  }

  private def drop(names: String*): Unit =
    names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))

  test("streamed MinHash ingestion over >=3 micro-batches == one batch full run") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    // id-shifted copy guarantees true near-dup pairs; the % 3 split
    // scatters each clone family across different micro-batches
    val corpus = docs.union(docs.withColumn("doc_id", col("doc_id") + 1000000L))
    val streamDir = java.nio.file.Files.createTempDirectory("ingest_src").toString
    (0 until 3).foreach { i =>
      stage(corpus.filter(col("doc_id") % 3 === i), streamDir, s"f$i.parquet")
      Thread.sleep(1100) // distinct mod-time second: one file per trigger
    }
    val pairsDir = java.nio.file.Files.createTempDirectory("ingest_pairs").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ingest_ckpt").toString
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    try {
      val q = IngestLoop.minhashIngest(stream, "doc_id", "text",
        prefix = "ing_mh", pairsDir = pairsDir, checkpointDir = ckpt)
      q.awaitTermination()
      // three files -> three foreachBatch invocations, each with its own
      // pair partition on disk
      val batchDirs = new java.io.File(pairsDir).listFiles()
        .filter(_.getName.startsWith("ingest_batch=")).map(_.getName).sorted
      assert(batchDirs.length >= 3, s"expected >=3 micro-batches, got ${batchDirs.toSeq}")
      // pair-set contract vs the batch full run
      val streamed = spark.read.parquet(pairsDir)
        .select("a_id", "b_id", "jaccard")
      val full = Dedup.minhashLshPairs(corpus, "doc_id", "text")
      assert(streamed.count() > 0, "clone families must produce pairs")
      assert(streamed.exceptAll(full).count() == 0 &&
        full.exceptAll(streamed).count() == 0,
        "streamed pair union diverges from the batch full run")
      // the index after the run IS the full corpus index: one more
      // incremental over a fresh shard must equal the same incremental
      // against an in-memory full-corpus index
      val shard = docs.limit(40)
        .withColumn("doc_id", col("doc_id") + 2000000L)
      val sIdx = Dedup.minhashIndex(shard, "doc_id", "text")
      val viaTables = Dedup.minhashLshPairsIncremental(sIdx,
        IngestLoop.minhashCorpusBefore(spark, "ing_mh", Long.MaxValue), threshold = 0.5)
      val viaMem = Dedup.minhashLshPairsIncremental(sIdx,
        Dedup.minhashIndex(corpus, "doc_id", "text"), threshold = 0.5)
      assert(viaTables.exceptAll(viaMem).count() == 0 &&
        viaMem.exceptAll(viaTables).count() == 0,
        "reloaded multi-partition index diverges from in-memory full index")
      // plan contract: corpus side co-located across the three appended
      // partitions — only the shard side shuffles
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val j = sIdx.bands.join(spark.table("ing_mh_bands"), Seq("band", "bucket"))
        j.count()
        val plan = j.queryExecution.executedPlan.toString
        val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(plan).length
        assert(exchanges == 1,
          s"expected only the shard-side exchange over the appended table:\n${plan.take(2000)}")
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    } finally drop("ing_mh_bands", "ing_mh_shingles", "ing_mh_meta")
  }

  test("a JSONL landing directory drives the MinHash ingest loop end-to-end") {
    import org.apache.spark.sql.types._
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.union(docs.withColumn("doc_id", col("doc_id") + 1000000L))
    // land three gzip JSONL shards (the real arrival shape: a finished
    // shard file dropped into the prefix), one micro-batch each
    val landing = java.nio.file.Files.createTempDirectory("jl_landing").toString
    (0 until 3).foreach { i =>
      val tmp = java.nio.file.Files.createTempDirectory("jl_shard").toString
      graft.operators.Jsonl.write(
        corpus.filter(col("doc_id") % 3 === i).coalesce(1), tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".json.gz")).head.toPath
      val landed = java.nio.file.Files.copy(part,
        java.nio.file.Paths.get(landing, s"shard$i.json.gz"))
      // distinct mod-time SECONDS pinned explicitly (not slept for —
      // round-11 advisory: the sleep was fragile on coarse-timestamp
      // filesystems), so maxFilesPerTrigger=1 sees three arrival times
      java.nio.file.Files.setLastModifiedTime(landed,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - (10 - i) * 2000L))
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val pairsDir = java.nio.file.Files.createTempDirectory("jl_pairs").toString
    val ckpt = java.nio.file.Files.createTempDirectory("jl_ckpt").toString
    try {
      val q = IngestLoop.minhashIngest(
        graft.operators.Jsonl.readStream(spark, landing, schema),
        "doc_id", "text", prefix = "ing_jl", pairsDir = pairsDir,
        checkpointDir = ckpt)
      q.awaitTermination()
      val batchDirs = new java.io.File(pairsDir).listFiles()
        .filter(_.getName.startsWith("ingest_batch=")).map(_.getName)
      assert(batchDirs.length >= 3, s"expected >=3 micro-batches, got ${batchDirs.toSeq}")
      // the JSONL hop must not perturb a single byte: the accumulated
      // pair set equals one batch run over the in-memory corpus
      val streamed = spark.read.parquet(pairsDir).select("a_id", "b_id", "jaccard")
      val full = Dedup.minhashLshPairs(corpus, "doc_id", "text")
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(full).count() == 0 &&
        full.exceptAll(streamed).count() == 0,
        "JSONL-landed pair union diverges from the batch full run")
    } finally drop("ing_jl_bands", "ing_jl_shingles", "ing_jl_meta")
  }

  test("streamed sign-LSH embedding ingestion over >=3 micro-batches == one batch full run") {
    import graft.operators.Similarity
    val embs = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val corpus = embs.union(embs.withColumn("vec_id", col("vec_id") + 10000000L))
    val streamDir = java.nio.file.Files.createTempDirectory("eingest_src").toString
    (0 until 3).foreach { i =>
      stage(corpus.filter(col("vec_id") % 3 === i), streamDir, s"f$i.parquet")
      Thread.sleep(1100)
    }
    val pairsDir = java.nio.file.Files.createTempDirectory("eingest_pairs").toString
    val ckpt = java.nio.file.Files.createTempDirectory("eingest_ckpt").toString
    val stream = spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    try {
      val q = IngestLoop.embedIngest(stream, "vec_id", "embedding", dim = 64,
        prefix = "ing_em", pairsDir = pairsDir, checkpointDir = ckpt)
      q.awaitTermination()
      val batchDirs = new java.io.File(pairsDir).listFiles()
        .filter(_.getName.startsWith("ingest_batch=")).map(_.getName)
      assert(batchDirs.length >= 3, s"expected >=3 micro-batches, got ${batchDirs.toSeq}")
      val streamed = spark.read.parquet(pairsDir).select("a_id", "b_id", "cos")
      val full = Similarity.lshDupPairs(corpus, "vec_id", "embedding", threshold = 0.9)
      assert(streamed.count() > 0, "clone pairs must exist")
      assert(streamed.exceptAll(full).count() == 0 &&
        full.exceptAll(streamed).count() == 0,
        "streamed embed pair union diverges from the batch full run")
    } finally drop("ing_em_hashed", "ing_em_vecs", "ing_em_meta")
  }

  test("replaying a micro-batch (foreachBatch redelivery) is idempotent") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.union(docs.withColumn("doc_id", col("doc_id") + 1000000L))
    val b0 = corpus.filter(col("doc_id") % 2 === 0)
    val b1 = corpus.filter(col("doc_id") % 2 === 1)
    val pairsDir = java.nio.file.Files.createTempDirectory("ingest_retry").toString
    def run(batch: org.apache.spark.sql.DataFrame, bid: Long): Unit =
      IngestLoop.ingestMinhashBatch(batch, bid, "doc_id", "text", "ing_rt",
        pairsDir, threshold = 0.5, numPerms = 32, rowsPerBand = 4, buckets = 8)
    try {
      run(b0, 0L)
      run(b1, 1L)
      def snapshot(): (Set[String], Set[String], Long) = (
        spark.read.parquet(pairsDir).collect().map(_.toString).toSet,
        spark.table("ing_rt_bands").collect().map(_.toString).toSet,
        spark.table("ing_rt_shingles").count())
      val before = snapshot()
      run(b1, 1L) // redelivery: same batch id replayed
      val after = snapshot()
      assert(after == before, "batch replay changed the pair output or the index")
    } finally drop("ing_rt_bands", "ing_rt_shingles", "ing_rt_meta")
  }

  test("a compaction racing the unfenced mine is caught by the generation check and re-mined") {
    import graft.operators.{Dedup, Tombstones}
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.union(docs.withColumn("doc_id", col("doc_id") + 1000000L))
    val b0 = corpus.filter(col("doc_id") % 2 === 0)
    val b1 = corpus.filter(col("doc_id") % 2 === 1)
    val pairsDir = java.nio.file.Files.createTempDirectory("ingest_gen").toString
    def run(batch: org.apache.spark.sql.DataFrame, bid: Long): Unit =
      IngestLoop.ingestMinhashBatch(batch, bid, "doc_id", "text", "ing_gc",
        pairsDir, threshold = 0.5, numPerms = 32, rowsPerBand = 4, buckets = 8)
    try {
      run(b0, 0L)
      // give the racing compaction a real rewrite: tombstone one clone
      // family (both members even => both in partition 0)
      val x = b0.select(min("doc_id")).head().getLong(0)
      import spark.implicits._
      Tombstones.add(Seq(x, x + 1000000L).toDF("doc_id"), "doc_id", "ing_gc")
      val gen0 = Tombstones.generation(spark, "ing_gc")
      // inject a full compaction between batch 1's pair publish and its
      // generation check — the window where a racing maintenance pass
      // invalidates the corpus reads the pairs were mined from
      var fired = 0
      IngestLoop.midMineProbe = p =>
        if (p == "ing_gc" && fired == 0) {
          fired += 1
          Tombstones.compactMinhash(spark, "ing_gc")
        }
      try run(b1, 1L) finally IngestLoop.midMineProbe = _ => ()
      assert(fired == 1, "the mid-mine compaction never ran")
      assert(IngestLoop.lastMineAttempts("ing_gc") == 2,
        s"generation check missed the racing compaction " +
          s"(attempts=${IngestLoop.lastMineAttempts("ing_gc")})")
      assert(Tombstones.generation(spark, "ing_gc") == gen0 + 1)
      // the settled batch-1 pairs == an incremental mine against the
      // post-compact corpus view (what the accepted re-mine saw)
      val expected = Dedup.minhashLshPairsIncremental(
        Dedup.minhashIndex(b1, "doc_id", "text"),
        IngestLoop.minhashCorpusBefore(spark, "ing_gc", 1L), threshold = 0.5)
      val actual = spark.read.parquet(s"$pairsDir/ingest_batch=1")
      assert(actual.count() > 0, "batch 1 must mine real pairs")
      assert(actual.exceptAll(expected).count() == 0 &&
        expected.exceptAll(actual).count() == 0,
        "re-mined pairs diverge from the post-compact corpus view")
      // no racing rewrite -> the mine settles first try
      run(corpus.limit(20).withColumn("doc_id", col("doc_id") + 2000000L), 2L)
      assert(IngestLoop.lastMineAttempts("ing_gc") == 1)
    } finally drop("ing_gc_bands", "ing_gc_shingles", "ing_gc_meta",
      "ing_gc_tombstones")
  }

  test("embed path: a compaction racing the unfenced mine re-mines too (generation check, vector twin)") {
    import graft.operators.{Similarity, Tombstones}
    val embs = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val corpus = embs.union(embs.withColumn("vec_id", col("vec_id") + 10000000L))
    val b0 = corpus.filter(col("vec_id") % 2 === 0)
    val b1 = corpus.filter(col("vec_id") % 2 === 1)
    val pairsDir = java.nio.file.Files.createTempDirectory("eingest_gen").toString
    def run(batch: org.apache.spark.sql.DataFrame, bid: Long): Unit =
      IngestLoop.ingestEmbedBatch(batch, bid, "vec_id", "embedding", "ing_eg",
        pairsDir, threshold = 0.9, bitsPerTable = 12, numTables = 4,
        seed = 42L, dim = 64, buckets = 8)
    try {
      run(b0, 0L)
      val x = b0.select(min("vec_id")).head().getLong(0)
      import spark.implicits._
      Tombstones.add(Seq(x, x + 10000000L).toDF("vec_id"), "vec_id", "ing_eg")
      val gen0 = Tombstones.generation(spark, "ing_eg")
      var fired = 0
      IngestLoop.midMineProbe = p =>
        if (p == "ing_eg" && fired == 0) {
          fired += 1
          Tombstones.compactEmbed(spark, "ing_eg")
        }
      try run(b1, 1L) finally IngestLoop.midMineProbe = _ => ()
      assert(fired == 1 && IngestLoop.lastMineAttempts("ing_eg") == 2,
        s"embed generation check missed the racing compaction " +
          s"(attempts=${IngestLoop.lastMineAttempts("ing_eg")})")
      assert(Tombstones.generation(spark, "ing_eg") == gen0 + 1)
      val expected = Similarity.lshDupPairsIncremental(
        Similarity.embedIndex(b1, "vec_id", "embedding", 12, 4, 42L, 64),
        IngestLoop.embedCorpusBefore(spark, "ing_eg", 1L), threshold = 0.9)
      val actual = spark.read.parquet(s"$pairsDir/ingest_batch=1")
      assert(actual.count() > 0)
      assert(actual.exceptAll(expected).count() == 0 &&
        expected.exceptAll(actual).count() == 0,
        "re-mined embed pairs diverge from the post-compact corpus view")
    } finally drop("ing_eg_hashed", "ing_eg_vecs", "ing_eg_meta",
      "ing_eg_tombstones")
  }

  test("streamed IVF-PQ serving-index ingestion == same-model batch encode; retry idempotent") {
    import graft.operators.Similarity
    val embs = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val corpus = embs.union(embs.withColumn("vec_id", col("vec_id") + 10000000L))
    val streamDir = java.nio.file.Files.createTempDirectory("pqingest_src").toString
    (0 until 3).foreach { i =>
      stage(corpus.filter(col("vec_id") % 3 === i), streamDir, s"f$i.parquet")
      Thread.sleep(1100)
    }
    val ckpt = java.nio.file.Files.createTempDirectory("pqingest_ckpt").toString
    val stream = spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    try {
      val q = IngestLoop.pqIngest(stream, "vec_id", "embedding",
        prefix = "ing_pq", checkpointDir = ckpt)
      q.awaitTermination()
      val loaded = Similarity.loadPqIndex(spark, "ing_pq")
      // >= 3 partitions appended, one per micro-batch
      val batches = loaded.codes.select("ingest_batch").distinct().count()
      assert(batches >= 3, s"expected >=3 ingest partitions, got $batches")
      // the streamed index's code set == encoding the WHOLE corpus
      // against the same (batch-0-trained) frozen model — per-batch
      // encode loses nothing and re-keys nothing
      val streamed = loaded.codes.select("c_id", "cell", "codes", "cn")
      val ref = Similarity.encodePq(corpus, "embedding", loaded)
        .select("c_id", "cell", "codes", "cn")
      assert(streamed.count() == ref.count())
      assert(streamed.exceptAll(ref).count() == 0 &&
        ref.exceptAll(streamed).count() == 0,
        "streamed code partitions diverge from the same-model batch encode")
      // serving parity: ADC top-k from the reloaded incremental index ==
      // from an in-memory index with the same model and codes
      val queries = corpus.filter(col("vec_id") < 20)
      val viaLoaded = Similarity.ivfPqTopK(loaded, corpus, queries,
          "vec_id", "embedding", k = 5, nprobe = 6, refine = 8)
        .orderBy("q_id", "rn").collect().map(_.toString)
      val viaRef = Similarity.ivfPqTopK(loaded.copy(codes = ref), corpus,
          queries, "vec_id", "embedding", k = 5, nprobe = 6, refine = 8)
        .orderBy("q_id", "rn").collect().map(_.toString)
      assert(viaLoaded.sameElements(viaRef),
        "reloaded incremental index serves differently from the batch encode")
      // retry idempotence: replaying a batch id leaves the table identical
      // (a replay is the SAME loop redelivering, so it carries the loop's
      // id — a foreign id would refuse, see the one-family-one-loop test)
      val before = spark.table("ing_pq_codes").collect().map(_.toString).toSet
      IngestLoop.ingestPqBatch(corpus.filter(col("vec_id") % 3 === 1), 1L,
        "vec_id", "embedding", "ing_pq", nlist = 16, m = 8, ksub = 16,
        seed = 42L, buckets = 8, loopId = ckpt)
      val after = spark.table("ing_pq_codes").collect().map(_.toString).toSet
      assert(after == before, "PQ batch replay changed the codes table")
    } finally drop("ing_pq_codes", "ing_pq_meta")
  }

  test("streamed ANN serving == per-batch ivfPqTopK; tombstones take effect between batches; replay idempotent") {
    import graft.operators.{Similarity, Tombstones}
    val embs = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    Similarity.savePqIndex(Similarity.pqIndex(embs, "vec_id", "embedding"),
      "srv_pq", buckets = 8)
    val streamDir = java.nio.file.Files.createTempDirectory("pqserve_src").toString
    (0 until 2).foreach { i =>
      stage(embs.filter(col("vec_id") % 2 === i && col("vec_id") < 30), streamDir,
        s"q$i.parquet")
      Thread.sleep(1100)
    }
    val ckpt = java.nio.file.Files.createTempDirectory("pqserve_ckpt").toString
    val stream = spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    try {
      val q = IngestLoop.pqServe(stream, "vec_id", "embedding", "srv_pq",
        vectors = embs, resultsTable = "srv_pq_results", checkpointDir = ckpt,
        k = 5, nprobe = 6, refine = 8)
      q.awaitTermination()
      val served = spark.table("srv_pq_results")
      assert(served.select("serve_batch").distinct().count() >= 2)
      // union of streamed answers == one batch run over all queries
      val expected = Similarity.ivfPqTopK(Similarity.loadPqIndex(spark, "srv_pq"),
          embs, embs.filter(col("vec_id") < 30), "vec_id", "embedding",
          k = 5, nprobe = 6, refine = 8)
        .orderBy("q_id", "rn").collect().map(_.toString)
      val got = served.select("q_id", "c_id", "cos", "rn")
        .orderBy("q_id", "rn").collect().map(_.toString)
      assert(got.sameElements(expected),
        "streamed serving diverges from the batch answer")
      // replay idempotence: re-running a batch id leaves results identical
      val before = served.collect().map(_.toString).toSet
      IngestLoop.servePqBatch(
        embs.filter(col("vec_id") % 2 === 1 && col("vec_id") < 30), 1L,
        "vec_id", "embedding", "srv_pq", embs, "srv_pq_results",
        k = 5, nprobe = 6, refine = 8)
      assert(spark.table("srv_pq_results").collect().map(_.toString).toSet == before)
      // a tombstone committed after those batches takes effect on the
      // NEXT served batch (index reloaded per batch)
      val dead = before.map(_.split(",")(1).trim.toLong).head
      import spark.implicits._
      Tombstones.add(Seq(dead).toDF("vec_id"), "vec_id", "srv_pq")
      IngestLoop.servePqBatch(embs.filter(col("vec_id") < 30), 2L,
        "vec_id", "embedding", "srv_pq", embs, "srv_pq_results",
        k = 5, nprobe = 6, refine = 8)
      val batch2 = spark.table("srv_pq_results")
        .filter(col("serve_batch") === 2)
      assert(batch2.filter(col("c_id") === dead).count() == 0,
        "tombstoned candidate served after deletion")
      assert(batch2.count() > 0)
    } finally drop("srv_pq_codes", "srv_pq_meta", "srv_pq_results", "srv_pq_tombstones")
  }

  test("a TORN first batch (partial table set) recovers on retry") {
    // batch 0 creates the family's tables sequentially (bands, shingles,
    // meta) — a crash between those writes leaves a strict subset behind.
    // The retry must detect the torn state, drop the stragglers, and
    // re-run as a clean first batch; the loop then continues and the
    // pair-set contract still holds.
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.union(docs.withColumn("doc_id", col("doc_id") + 1000000L))
    val b0 = corpus.filter(col("doc_id") % 2 === 0)
    val b1 = corpus.filter(col("doc_id") % 2 === 1)
    // both torn shapes the sequential write order can produce
    Seq(Seq("shingles", "meta"), Seq("meta")).foreach { missing =>
      val pairsDir = java.nio.file.Files.createTempDirectory("ingest_torn").toString
      def run(batch: org.apache.spark.sql.DataFrame, bid: Long): Unit =
        IngestLoop.ingestMinhashBatch(batch, bid, "doc_id", "text", "ing_tn",
          pairsDir, threshold = 0.5, numPerms = 32, rowsPerBand = 4, buckets = 8)
      try {
        run(b0, 0L) // a full batch 0...
        missing.foreach(t => spark.sql(s"DROP TABLE ing_tn_$t")) // ...torn down to a partial set
        run(b0, 0L) // the foreachBatch retry of batch 0
        run(b1, 1L)
        val streamed = spark.read.parquet(pairsDir).select("a_id", "b_id", "jaccard")
        val full = Dedup.minhashLshPairs(corpus, "doc_id", "text")
        assert(streamed.count() > 0)
        assert(streamed.exceptAll(full).count() == 0 &&
          full.exceptAll(streamed).count() == 0,
          s"pair set diverges after torn-batch recovery (missing=$missing)")
      } finally drop("ing_tn_bands", "ing_tn_shingles", "ing_tn_meta")
    }
  }

  test("components ingestion loop: pair shards fold into a latest-wins catalog == one batch CC; deltas are shard-sized; replay idempotent") {
    import spark.implicits._
    def edges(rows: Seq[(Long, Long)]) = rows.toDF("a_id", "b_id")
    // batch 0: sixty 2-node components (i — i+1M)
    val b0 = (0L until 60L).map(i => (i, i + 1000000L))
    // batch 1: every component grows by one node (touches all of them)
    val b1 = (0L until 60L).map(i => (i + 1000000L, i + 2000000L))
    // batch 2: merge component(i) with component(i+30) for i in
    // {0,10,20}, plus one brand-new pair — the thin-slice arrival shape
    val b2 = (0L until 30L by 10L).map(i => (i, i + 30L)) ++
      Seq((9000000L, 9000001L))
    val all = b0 ++ b1 ++ b2
    def run(rows: Seq[(Long, Long)], bid: Long): Unit =
      IngestLoop.ingestCcBatch(edges(rows), bid, "a_id", "b_id", "ing_cc",
        buckets = 4)
    try {
      run(b0, 0L); run(b1, 1L); run(b2, 2L)
      val streamed = IngestLoop.ccComponents(spark, "ing_cc")
      val full = Dedup.connectedComponents(edges(all), "a_id", "b_id")
      assert(streamed.count() == full.count())
      assert(streamed.exceptAll(full).count() == 0 &&
        full.exceptAll(streamed).count() == 0,
        "folded incremental catalog diverges from one batch CC over all edges")
      // the delta partitions are shard-sized: batch 2 re-propagated only
      // the six merged components (3 members each) + the new pair
      assert(spark.table("ing_cc_labels")
        .filter(col("ingest_batch") === 2).count() == 20)
      // replay batch 1 (foreachBatch redelivery): the catalog is identical
      val before = streamed.collect().map(_.toString).toSet
      run(b1, 1L)
      assert(IngestLoop.ccComponents(spark, "ing_cc")
        .collect().map(_.toString).toSet == before,
        "batch replay changed the components catalog")
    } finally drop("ing_cc_labels", "ing_cc_meta")
  }

  test("compactCc folds the delta log: catalog identical, superseded rows gone, the loop (and its replays) continue safely") {
    import spark.implicits._
    import graft.operators.{Fence, Tombstones}
    val p = "ing_cp"
    def edges(rows: Seq[(Long, Long)]) = rows.toDF("a_id", "b_id")
    def run(rows: Seq[(Long, Long)], bid: Long): Unit =
      IngestLoop.ingestCcBatch(edges(rows), bid, "a_id", "b_id", p, buckets = 4)
    // three shards that keep touching the SAME components — the hot-
    // component shape whose superseded rows compaction exists to fold
    val b0 = (0L until 30L).map(i => (i, i + 1000000L))
    val b1 = (0L until 30L).map(i => (i + 1000000L, i + 2000000L))
    val b2 = (0L until 30L).map(i => (i + 2000000L, i + 3000000L))
    val b3 = (0L until 10L).map(i => (i, i + 10L)) // merges after the fold
    try {
      run(b0, 0L); run(b1, 1L); run(b2, 2L)
      val before = IngestLoop.ccComponents(spark, p)
        .collect().map(_.toString).toSet
      val live = before.size.toLong
      val rowsBefore = spark.table(s"${p}_labels").count()
      assert(rowsBefore > live,
        s"the fixture must accumulate superseded rows ($rowsBefore vs $live)")
      IngestLoop.compactCc(spark, p)
      // catalog identical, debt zero, single floor partition
      assert(IngestLoop.ccComponents(spark, p)
        .collect().map(_.toString).toSet == before,
        "compaction changed the components catalog")
      assert(spark.table(s"${p}_labels").count() == live,
        "superseded rows must be physically gone")
      assert(spark.table(s"${p}_labels").select("ingest_batch").distinct()
        .collect().map(_.getLong(0)).toSeq == Seq(-1L),
        "the fold must land in the single floor partition")
      assert(!spark.catalog.tableExists(s"${p}_labels__compact"))
      // the crash-window replay: batch 2 committed to the table but not
      // the checkpoint, compaction folded it, the loop restarts and
      // redelivers bid=2 — drop-own-partition misses the floor and the
      // re-propagation against the folded view is idempotent
      run(b2, 2L)
      assert(IngestLoop.ccComponents(spark, p)
        .collect().map(_.toString).toSet == before,
        "a replayed folded batch must not perturb the catalog")
      // the loop continues: a post-compact shard merges components and
      // the catalog equals one batch CC over every edge ever seen
      run(b3, 3L)
      val full = Dedup.connectedComponents(edges(b0 ++ b1 ++ b2 ++ b3),
        "a_id", "b_id")
      val folded = IngestLoop.ccComponents(spark, p)
      assert(folded.exceptAll(full).count() == 0 &&
        full.exceptAll(folded).count() == 0,
        "post-compact appends diverge from one batch CC")
      // fence race, both orders: the loser refuses loudly, loses nothing
      Fence.acquire(spark, p, "compactCc")
      val e1 = intercept[IllegalStateException](run(b3, 4L))
      assert(e1.getMessage.contains("compactCc"))
      Fence.release(spark, p, "compactCc")
      Fence.acquire(spark, p, "ingestCcBatch bid=4")
      val e2 = intercept[IllegalStateException](IngestLoop.compactCc(spark, p))
      assert(e2.getMessage.contains("ingestCcBatch bid=4"))
      Fence.release(spark, p, "ingestCcBatch bid=4")
      // maintain owns the cadence: freshly folded -> below the fraction,
      // no-op; superseding shards re-accumulate debt -> compacts
      IngestLoop.compactCc(spark, p)
      assert(!Tombstones.maintain(spark, p, fraction = 0.5),
        "maintain must no-op below the superseded fraction")
      run(b1, 5L); run(b1, 6L) // same edges: pure superseded-row debt
      assert(Tombstones.maintain(spark, p, fraction = 0.3),
        "maintain must fold past the superseded fraction")
      assert(spark.table(s"${p}_labels").count() ==
        IngestLoop.ccComponents(spark, p).count())
    } finally {
      drop(s"${p}_labels", s"${p}_meta", s"${p}_labels__compact")
      graft.operators.Fence.forceRelease(spark, p)
    }
  }

  test("repairCc re-derives after upstream deletes: a cut-vertex delete splits in the PERSISTED catalog; the loop continues") {
    import spark.implicits._
    val p = "ing_rp"
    def edges(rows: Seq[(Long, Long)]) = rows.toDF("a_id", "b_id")
    def run(rows: Seq[(Long, Long)], bid: Long): Unit =
      IngestLoop.ingestCcBatch(edges(rows), bid, "a_id", "b_id", p, buckets = 4)
    // two shards build 20 five-node paths 5i-...-5i+4 (cut vertex 5i+2)
    val b0 = (0L until 100L by 5L).flatMap(i => Seq((i, i + 1), (i + 1, i + 2)))
    val b1 = (0L until 100L by 5L).flatMap(i => Seq((i + 2, i + 3), (i + 3, i + 4)))
    try {
      run(b0, 0L); run(b1, 1L)
      // upstream sweep: the cut vertices die; the surviving pair view is
      // what the (tombstoned) upstream families now serve
      val dead = (0L until 100L by 5L).map(_ + 2).toDF("doc_id")
      val surviving = edges(b0 ++ b1)
        .join(dead.select(col("doc_id").as("a_id")), Seq("a_id"), "left_anti")
        .join(dead.select(col("doc_id").as("b_id")), Seq("b_id"), "left_anti")
      IngestLoop.repairCc(spark, p, dead, "doc_id", surviving, "a_id", "b_id")
      val got = IngestLoop.ccComponents(spark, p)
      val scratch = Dedup.connectedComponents(surviving, "a_id", "b_id")
      assert(got.exceptAll(scratch).count() == 0 &&
        scratch.exceptAll(got).count() == 0,
        "persisted repaired catalog diverges from from-scratch CC over surviving pairs")
      // every path split in two: 40 components, the right halves on
      // FRESH min labels, the dead ids gone
      assert(got.select("component").distinct().count() == 40)
      assert(got.filter(col("id").isin((0L until 100L by 5L).map(_ + 2): _*))
        .count() == 0, "deleted ids must leave the persisted catalog")
      assert(spark.table(s"${p}_labels").select("ingest_batch").distinct()
        .collect().map(_.getLong(0)).toSeq == Seq(-1L),
        "the repair folds into the single floor partition")
      // the loop continues: a post-repair shard re-merges two halves
      run(Seq((0L, 4L)), 2L)
      val merged = IngestLoop.ccComponents(spark, p)
      val expect = Dedup.connectedComponents(
        surviving.union(edges(Seq((0L, 4L)))), "a_id", "b_id")
      assert(merged.exceptAll(expect).count() == 0 &&
        expect.exceptAll(merged).count() == 0,
        "post-repair appends diverge from batch CC over surviving ∪ new edges")
    } finally {
      drop(s"${p}_labels", s"${p}_meta", s"${p}_labels__compact")
      graft.operators.Fence.forceRelease(spark, p)
    }
  }

  test("STREAMED components ingestion over >=3 micro-batches == one batch CC over all pair shards") {
    import spark.implicits._
    // reuse the direct-batch test's graph, delivered as a real stream:
    // chains grow then merge across micro-batches
    val b0 = (0L until 60L).map(i => (i, i + 1000000L))
    val b1 = (0L until 60L).map(i => (i + 1000000L, i + 2000000L))
    val b2 = (0L until 30L by 10L).map(i => (i, i + 30L)) ++
      Seq((9000000L, 9000001L))
    val all = b0 ++ b1 ++ b2
    val streamDir = java.nio.file.Files.createTempDirectory("cc_src").toString
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      stage(b.toDF("a_id", "b_id"), streamDir, s"f$i.parquet")
      Thread.sleep(1100) // distinct mod-time second: one file per trigger
    }
    val ckpt = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    val stream = spark.readStream.schema("a_id LONG, b_id LONG")
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    try {
      val q = IngestLoop.ccIngest(stream, "a_id", "b_id",
        prefix = "ing_ccs", checkpointDir = ckpt, buckets = 4)
      q.awaitTermination()
      assert(spark.table("ing_ccs_labels")
        .select("ingest_batch").distinct().count() >= 3,
        "expected >=3 delta partitions, one per micro-batch")
      val streamed = IngestLoop.ccComponents(spark, "ing_ccs")
      val full = Dedup.connectedComponents(all.toDF("a_id", "b_id"),
        "a_id", "b_id")
      assert(streamed.exceptAll(full).count() == 0 &&
        full.exceptAll(streamed).count() == 0,
        "streamed components catalog diverges from one batch CC")
      // the loop bound itself to its checkpoint: a foreign batch refuses
      val e = intercept[IllegalArgumentException] {
        IngestLoop.ingestCcBatch(b2.toDF("a_id", "b_id"), 9L, "a_id", "b_id",
          "ing_ccs", buckets = 4, loopId = "/some/other/ckpt")
      }
      assert(e.getMessage.contains("bound to ingest loop"))
    } finally drop("ing_ccs_labels", "ing_ccs_meta")
  }

  test("a long CC ingest batch heartbeats per round: the fence staleness clock resets while the batch works") {
    import spark.implicits._
    // a chain past the driver-local edge bound (Dedup.ccLocalEdges rows,
    // each undirected edge counting twice), so the batch runs the round
    // loop: ~16 pointer-jump rounds, each a corpus-touching Spark job —
    // the long-batch shape whose fence silence the per-round beacon
    // exists to break (round 13; ingest batches previously beat only
    // between legs, so a long CC run read as a silent holder)
    val nodes = Dedup.ccLocalEdges / 2 + 1024L
    val chain = spark.range(0L, nodes - 1)
      .select(col("id").as("a_id"), (col("id") + 1L).as("b_id"))
    val p = "ing_hb"
    val fenceFile = java.nio.file.Paths.get(
      graft.operators.Fence.path(spark, p).toUri.getPath)
    val mtimes = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    @volatile var stop = false
    val watcher = new Thread(() => {
      while (!stop) {
        if (java.nio.file.Files.exists(fenceFile))
          try mtimes.add(java.nio.file.Files.getLastModifiedTime(fenceFile).toMillis)
          catch { case _: java.io.IOException => () } // released mid-sample
        Thread.sleep(5)
      }
    })
    watcher.start()
    try {
      IngestLoop.ingestCcBatch(chain, 0L, "a_id", "b_id", p, buckets = 4)
      stop = true; watcher.join()
      assert(mtimes.size >= 2,
        s"the fence must be re-stamped while the CC batch works " +
          s"(acquire + >=1 heartbeat), saw ${mtimes.size} distinct mtimes")
      assert(graft.operators.Fence.holder(spark, p).isEmpty,
        "the batch must still release its fence")
    } finally {
      stop = true
      drop("ing_hb_labels", "ing_hb_meta")
      graft.operators.Fence.forceRelease(spark, p)
    }
  }

  test("MULTI-WRITER: two PARALLEL real loops on one prefix == one batch full run; replay idempotent per loop; single-writer refused") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.union(docs.withColumn("doc_id", col("doc_id") + 1000000L))
    // loop A carries the even docs in two shards, loop B the odd in two
    // — clone families scatter across BOTH loops, so cross-loop pairs
    // exist and the global-bid ordering is what keeps them exactly-once
    val streamA = java.nio.file.Files.createTempDirectory("mw_a").toString
    val streamB = java.nio.file.Files.createTempDirectory("mw_b").toString
    Seq(0, 2).zipWithIndex.foreach { case (r, i) =>
      stage(corpus.filter(col("doc_id") % 4 === r), streamA, s"f$i.parquet") }
    Seq(1, 3).zipWithIndex.foreach { case (r, i) =>
      stage(corpus.filter(col("doc_id") % 4 === r), streamB, s"f$i.parquet") }
    val pairsDir = java.nio.file.Files.createTempDirectory("mw_pairs").toString
    val ckptA = java.nio.file.Files.createTempDirectory("mw_ckptA").toString
    val ckptB = java.nio.file.Files.createTempDirectory("mw_ckptB").toString
    def src(d: String) = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(d)
    // concurrent loops WAIT for the fence instead of dying with their
    // streaming query — the acquireWait shape multi-writer leans on
    spark.conf.set("spark.graft.fence.waitMs", "120000")
    try {
      val qa = IngestLoop.minhashIngest(src(streamA), "doc_id", "text",
        prefix = "ing_mw", pairsDir = pairsDir, checkpointDir = ckptA,
        multiWriter = true)
      val qb = IngestLoop.minhashIngest(src(streamB), "doc_id", "text",
        prefix = "ing_mw", pairsDir = pairsDir, checkpointDir = ckptB,
        multiWriter = true)
      qa.awaitTermination(); qb.awaitTermination()
      // four batches -> four GLOBAL partitions, no collisions
      assert(spark.table("ing_mw_bands").select("ingest_batch").distinct()
        .count() == 4, "each of the four batches must own a global partition")
      assert(spark.table("ing_mw_commits").count() == 4)
      // union of both loops' pair outputs == one batch run over everything
      val streamed = spark.read.parquet(pairsDir).select("a_id", "b_id", "jaccard")
      val full = Dedup.minhashLshPairs(corpus, "doc_id", "text")
      assert(streamed.count() > 0, "clone families must produce pairs")
      assert(streamed.exceptAll(full).count() == 0 &&
        full.exceptAll(streamed).count() == 0,
        "two-loop pair union diverges from the batch full run")
      // the folded index IS the full corpus index
      val shard = docs.limit(40).withColumn("doc_id", col("doc_id") + 2000000L)
      val sIdx = Dedup.minhashIndex(shard, "doc_id", "text")
      val viaTables = Dedup.minhashLshPairsIncremental(sIdx,
        IngestLoop.minhashCorpusBefore(spark, "ing_mw", Long.MaxValue), threshold = 0.5)
      val viaMem = Dedup.minhashLshPairsIncremental(sIdx,
        Dedup.minhashIndex(corpus, "doc_id", "text"), threshold = 0.5)
      assert(viaTables.exceptAll(viaMem).count() == 0 &&
        viaMem.exceptAll(viaTables).count() == 0,
        "multi-writer folded index diverges from the in-memory full index")
      // replay idempotence PER LOOP: redeliver each loop's local bid 1 —
      // the mapping is reused, so the tables and pairs stay identical
      def snapshot() = (
        spark.read.parquet(pairsDir).collect().map(_.toString).toSet,
        spark.table("ing_mw_bands").collect().map(_.toString).toSet,
        spark.table("ing_mw_commits").collect().map(_.toString).toSet)
      val before = snapshot()
      IngestLoop.ingestMinhashBatch(corpus.filter(col("doc_id") % 4 === 2), 1L,
        "doc_id", "text", "ing_mw", pairsDir, threshold = 0.5, numPerms = 32,
        rowsPerBand = 4, buckets = 8, loopId = ckptA, multiWriter = true)
      IngestLoop.ingestMinhashBatch(corpus.filter(col("doc_id") % 4 === 3), 1L,
        "doc_id", "text", "ing_mw", pairsDir, threshold = 0.5, numPerms = 32,
        rowsPerBand = 4, buckets = 8, loopId = ckptB, multiWriter = true)
      assert(snapshot() == before,
        "a replayed multi-writer batch changed the pairs, index, or mapping")
      // a single-writer loop cannot touch a multi-writer family
      val e = intercept[IllegalArgumentException] {
        IngestLoop.ingestMinhashBatch(docs.limit(10), 0L, "doc_id", "text",
          "ing_mw", pairsDir, threshold = 0.5, numPerms = 32,
          rowsPerBand = 4, buckets = 8, loopId = "/some/ckpt")
      }
      assert(e.getMessage.contains("multiWriter"), e.getMessage)
    } finally {
      spark.conf.unset("spark.graft.fence.waitMs")
      drop("ing_mw_bands", "ing_mw_shingles", "ing_mw_meta", "ing_mw_commits")
      graft.operators.Fence.forceRelease(spark, "ing_mw")
    }
  }

  test("MULTI-WRITER orphan compensation: a batch that crashed after assignment replays without losing cross pairs") {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.union(docs.withColumn("doc_id", col("doc_id") + 1000000L))
    val a0 = corpus.filter(col("doc_id") % 3 === 0)
    val a1 = corpus.filter(col("doc_id") % 3 === 1)
    val b0 = corpus.filter(col("doc_id") % 3 === 2)
    val pairsDir = java.nio.file.Files.createTempDirectory("mo_pairs").toString
    val ckptA = "/mw/ckptA"; val ckptB = "/mw/ckptB"
    def run(batch: org.apache.spark.sql.DataFrame, bid: Long, ckpt: String): Unit =
      IngestLoop.ingestMinhashBatch(batch, bid, "doc_id", "text", "ing_mo",
        pairsDir, threshold = 0.5, numPerms = 32, rowsPerBand = 4,
        buckets = 8, loopId = ckpt, multiWriter = true)
    try {
      run(a0, 0L, ckptA) // global 0, committed
      // loop A's (A,1) crashed AFTER assignment: the mapping row exists,
      // the partition does not — exactly the state resolveGlobalBid
      // leaves between its append and the batch's data writes
      Seq((ckptA, 1L, 1L, Seq.empty[Long]))
        .toDF("loop_id", "local_bid", "global_bid", "missing_below")
        .write.mode("append").format("parquet").saveAsTable("ing_mo_commits")
      // loop B lands while global 1 is an orphan: it records 1 as
      // missing (it provably cannot mine against it) and reads {0}
      run(b0, 0L, ckptB) // global 2
      val bRow = spark.table("ing_mo_commits")
        .filter(col("loop_id") === ckptB).head()
      assert(bRow.getAs[Long]("global_bid") == 2L)
      assert(bRow.getAs[scala.collection.Seq[Long]]("missing_below").toSeq == Seq(1L),
        "the later batch must record the orphan it could not see")
      // the orphan's replay: reuses global 1, COMPENSATES against 2 —
      // the cross pairs a plain <1 read would lose land here
      run(a1, 1L, ckptA)
      val streamed = spark.read.parquet(pairsDir).select("a_id", "b_id", "jaccard")
      val full = Dedup.minhashLshPairs(corpus, "doc_id", "text")
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(full).count() == 0 &&
        full.exceptAll(streamed).count() == 0,
        "orphan-replay pair union diverges from the batch full run " +
          "(cross pairs lost or duplicated)")
      // B's replay stays FROZEN: its view still excludes 1 (now present),
      // so its output is byte-identical and nothing double-emits
      val before = spark.read.parquet(pairsDir).collect().map(_.toString).toSet
      run(b0, 0L, ckptB)
      assert(spark.read.parquet(pairsDir).collect().map(_.toString).toSet == before,
        "a replay after the orphan's recovery must not re-see it")
    } finally {
      drop("ing_mo_bands", "ing_mo_shingles", "ing_mo_meta", "ing_mo_commits")
      graft.operators.Fence.forceRelease(spark, "ing_mo")
    }
  }

  test("one family, one loop: a second loop on the same prefix refuses loudly; rebind is the deliberate hand-off") {
    // batch ids are checkpoint-local: two loops on one prefix reuse bids
    // and the retry's drop-own-partition would clobber each other's
    // partitions even when the fence serializes them in TIME. The family
    // records its owning loop id (the checkpoint location) in meta, so
    // the second loop's FIRST micro-batch refuses — round 12.
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
      .limit(120)
    val streamA = java.nio.file.Files.createTempDirectory("twoloop_a").toString
    val streamB = java.nio.file.Files.createTempDirectory("twoloop_b").toString
    stage(docs.filter(col("doc_id") % 2 === 0), streamA, "a.parquet")
    stage(docs.filter(col("doc_id") % 2 === 1), streamB, "b.parquet")
    val pairsDir = java.nio.file.Files.createTempDirectory("twoloop_pairs").toString
    val ckptA = java.nio.file.Files.createTempDirectory("twoloop_ckptA").toString
    val ckptB = java.nio.file.Files.createTempDirectory("twoloop_ckptB").toString
    def src(d: String) = spark.readStream.schema("doc_id LONG, text STRING").parquet(d)
    try {
      val qa = IngestLoop.minhashIngest(src(streamA), "doc_id", "text",
        prefix = "ing_two", pairsDir = pairsDir, checkpointDir = ckptA)
      qa.awaitTermination()
      val afterA = spark.table("ing_two_shingles").count()
      assert(afterA > 0)
      // loop B, same family, its own checkpoint: first micro-batch refuses
      val qb = IngestLoop.minhashIngest(src(streamB), "doc_id", "text",
        prefix = "ing_two", pairsDir = pairsDir, checkpointDir = ckptB)
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        qb.awaitTermination())
      val msgs = Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("bound to ingest loop"),
        s"the second loop must refuse naming the binding: $msgs")
      // nothing half-committed by the refused loop, nothing of loop A lost
      assert(spark.table("ing_two_shingles").count() == afterA)
      assert(graft.operators.Fence.holder(spark, "ing_two").isEmpty,
        "the refused batch must release the fence")
      // the unit path refuses too, naming the remedy
      val e = intercept[IllegalArgumentException] {
        IngestLoop.ingestMinhashBatch(docs.limit(10), 1L, "doc_id", "text",
          "ing_two", pairsDir, threshold = 0.5, numPerms = 32,
          rowsPerBand = 4, buckets = 8, loopId = "/some/other/ckpt")
      }
      assert(e.getMessage.contains("rebind"), e.getMessage)
      // deliberate hand-off: rebind, then the new loop id continues the
      // bound loop's bid sequence and appends
      IngestLoop.rebind(spark, "ing_two", ckptB)
      IngestLoop.ingestMinhashBatch(docs.filter(col("doc_id") % 2 === 1), 1L,
        "doc_id", "text", "ing_two", pairsDir, threshold = 0.5,
        numPerms = 32, rowsPerBand = 4, buckets = 8, loopId = ckptB)
      assert(spark.table("ing_two_shingles")
        .filter(col("ingest_batch") === 1).count() > 0)
      // ...and the ORIGINAL loop id is now the foreign one
      intercept[IllegalArgumentException] {
        IngestLoop.ingestMinhashBatch(docs.limit(10), 2L, "doc_id", "text",
          "ing_two", pairsDir, threshold = 0.5, numPerms = 32,
          rowsPerBand = 4, buckets = 8, loopId = ckptA)
      }
    } finally {
      drop("ing_two_bands", "ing_two_shingles", "ing_two_meta")
      graft.operators.Fence.forceRelease(spark, "ing_two")
    }
  }

  test("MULTI-WRITER embed: two PARALLEL sign-LSH loops on one prefix == one batch full run; replay idempotent; single-writer refused") {
    import graft.operators.Similarity
    val embs = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val corpus = embs.union(embs.withColumn("vec_id", col("vec_id") + 10000000L))
    // clone families scatter across BOTH loops — cross-loop pairs exist,
    // so the global-bid ordering is what keeps them exactly-once
    val streamA = java.nio.file.Files.createTempDirectory("emw_a").toString
    val streamB = java.nio.file.Files.createTempDirectory("emw_b").toString
    Seq(0, 2).zipWithIndex.foreach { case (r, i) =>
      stage(corpus.filter(col("vec_id") % 4 === r), streamA, s"f$i.parquet") }
    Seq(1, 3).zipWithIndex.foreach { case (r, i) =>
      stage(corpus.filter(col("vec_id") % 4 === r), streamB, s"f$i.parquet") }
    val pairsDir = java.nio.file.Files.createTempDirectory("emw_pairs").toString
    val ckptA = java.nio.file.Files.createTempDirectory("emw_ckptA").toString
    val ckptB = java.nio.file.Files.createTempDirectory("emw_ckptB").toString
    def src(d: String) = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").parquet(d)
    spark.conf.set("spark.graft.fence.waitMs", "120000")
    try {
      val qa = IngestLoop.embedIngest(src(streamA), "vec_id", "embedding",
        dim = 64, prefix = "ing_emw", pairsDir = pairsDir,
        checkpointDir = ckptA, multiWriter = true)
      val qb = IngestLoop.embedIngest(src(streamB), "vec_id", "embedding",
        dim = 64, prefix = "ing_emw", pairsDir = pairsDir,
        checkpointDir = ckptB, multiWriter = true)
      qa.awaitTermination(); qb.awaitTermination()
      assert(spark.table("ing_emw_hashed").select("ingest_batch").distinct()
        .count() == 4, "each of the four batches must own a global partition")
      assert(spark.table("ing_emw_commits").count() == 4)
      // union of both loops' pair outputs == one batch run over everything
      val streamed = spark.read.parquet(pairsDir).select("a_id", "b_id", "cos")
      val full = Similarity.lshDupPairs(corpus, "vec_id", "embedding",
        threshold = 0.9)
      assert(streamed.count() > 0, "clone families must produce pairs")
      assert(streamed.exceptAll(full).count() == 0 &&
        full.exceptAll(streamed).count() == 0,
        "two-loop embed pair union diverges from the batch full run")
      // the folded index IS the full corpus index
      val shard = embs.limit(40).withColumn("vec_id", col("vec_id") + 20000000L)
      val sIdx = Similarity.embedIndex(shard, "vec_id", "embedding", 10, 8, 42L, 64)
      val viaTables = Similarity.lshDupPairsIncremental(sIdx,
        IngestLoop.embedCorpusBefore(spark, "ing_emw", Long.MaxValue),
        threshold = 0.9)
      val viaMem = Similarity.lshDupPairsIncremental(sIdx,
        Similarity.embedIndex(corpus, "vec_id", "embedding", 10, 8, 42L, 64),
        threshold = 0.9)
      assert(viaTables.exceptAll(viaMem).count() == 0 &&
        viaMem.exceptAll(viaTables).count() == 0,
        "multi-writer folded embed index diverges from the in-memory full index")
      // replay idempotence PER LOOP: redeliver each loop's local bid 1
      def snapshot() = (
        spark.read.parquet(pairsDir).collect().map(_.toString).toSet,
        spark.table("ing_emw_hashed").collect().map(_.toString).toSet,
        spark.table("ing_emw_commits").collect().map(_.toString).toSet)
      val before = snapshot()
      IngestLoop.ingestEmbedBatch(corpus.filter(col("vec_id") % 4 === 2), 1L,
        "vec_id", "embedding", "ing_emw", pairsDir, threshold = 0.9,
        bitsPerTable = 10, numTables = 8, seed = 42L, dim = 64, buckets = 8,
        loopId = ckptA, multiWriter = true)
      IngestLoop.ingestEmbedBatch(corpus.filter(col("vec_id") % 4 === 3), 1L,
        "vec_id", "embedding", "ing_emw", pairsDir, threshold = 0.9,
        bitsPerTable = 10, numTables = 8, seed = 42L, dim = 64, buckets = 8,
        loopId = ckptB, multiWriter = true)
      assert(snapshot() == before,
        "a replayed multi-writer embed batch changed the pairs, index, or mapping")
      // a single-writer loop cannot touch a multi-writer family
      val e = intercept[IllegalArgumentException] {
        IngestLoop.ingestEmbedBatch(embs.limit(10), 0L, "vec_id", "embedding",
          "ing_emw", pairsDir, threshold = 0.9, bitsPerTable = 10,
          numTables = 8, seed = 42L, dim = 64, buckets = 8,
          loopId = "/some/ckpt")
      }
      assert(e.getMessage.contains("multiWriter"), e.getMessage)
    } finally {
      spark.conf.unset("spark.graft.fence.waitMs")
      drop("ing_emw_hashed", "ing_emw_vecs", "ing_emw_meta", "ing_emw_commits")
      graft.operators.Fence.forceRelease(spark, "ing_emw")
    }
  }

  test("MULTI-WRITER PQ: parallel encode loops share one serving index; codes == frozen-model encode; replay idempotent; single-writer refused") {
    import graft.operators.Similarity
    val embs = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val corpus = embs.union(embs.withColumn("vec_id", col("vec_id") + 10000000L))
    // boot batch trains the quantizers (global 0); the two parallel
    // loops then ENCODE their shards against the frozen model — the
    // Faiss arrival shape with multiple encode streams
    val boot = corpus.filter(col("vec_id") % 3 === 0)
    val streamA = java.nio.file.Files.createTempDirectory("pmw_a").toString
    val streamB = java.nio.file.Files.createTempDirectory("pmw_b").toString
    stage(corpus.filter(col("vec_id") % 3 === 1), streamA, "f0.parquet")
    stage(corpus.filter(col("vec_id") % 3 === 2), streamB, "f0.parquet")
    val ckptA = java.nio.file.Files.createTempDirectory("pmw_ckptA").toString
    val ckptB = java.nio.file.Files.createTempDirectory("pmw_ckptB").toString
    def src(d: String) = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").parquet(d)
    spark.conf.set("spark.graft.fence.waitMs", "120000")
    try {
      IngestLoop.ingestPqBatch(boot, 0L, "vec_id", "embedding", "ing_pmw",
        nlist = 16, m = 8, ksub = 16, seed = 42L, buckets = 8,
        loopId = "/mw/pqboot", multiWriter = true)
      val qa = IngestLoop.pqIngest(src(streamA), "vec_id", "embedding",
        "ing_pmw", ckptA, multiWriter = true)
      val qb = IngestLoop.pqIngest(src(streamB), "vec_id", "embedding",
        "ing_pmw", ckptB, multiWriter = true)
      qa.awaitTermination(); qb.awaitTermination()
      // boot + one batch per loop: three collision-free global partitions
      assert(spark.table("ing_pmw_codes").select("ingest_batch").distinct()
        .count() == 3, "boot + two loops must each own a global partition")
      assert(spark.table("ing_pmw_commits").count() == 3)
      // the shared codes table IS the frozen-model encode of the corpus
      // (pqIndex and encodePq share encodeAgainst, so this is exact)
      val idx = Similarity.loadPqIndex(spark, "ing_pmw")
      val got = idx.codes.select("c_id", "cell", "codes", "cn")
      val want = Similarity.encodePq(corpus, "embedding", idx)
        .select("c_id", "cell", "codes", "cn")
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0,
        "multi-writer codes table diverges from the frozen-model encode")
      // replay idempotence: redeliver loop A's local bid 0 — the
      // mapping is reused, nothing moves
      def snapshot() = (
        spark.table("ing_pmw_codes").collect().map(_.toString).toSet,
        spark.table("ing_pmw_commits").collect().map(_.toString).toSet)
      val before = snapshot()
      IngestLoop.ingestPqBatch(corpus.filter(col("vec_id") % 3 === 1), 0L,
        "vec_id", "embedding", "ing_pmw", nlist = 16, m = 8, ksub = 16,
        seed = 42L, buckets = 8, loopId = ckptA, multiWriter = true)
      assert(snapshot() == before,
        "a replayed multi-writer PQ batch changed the codes or the mapping")
      // a single-writer loop cannot touch a multi-writer family
      val e = intercept[IllegalArgumentException] {
        IngestLoop.ingestPqBatch(embs.limit(10), 0L, "vec_id", "embedding",
          "ing_pmw", nlist = 16, m = 8, ksub = 16, seed = 42L, buckets = 8,
          loopId = "/some/ckpt")
      }
      assert(e.getMessage.contains("multiWriter"), e.getMessage)
    } finally {
      spark.conf.unset("spark.graft.fence.waitMs")
      drop("ing_pmw_codes", "ing_pmw_meta", "ing_pmw_commits")
      graft.operators.Fence.forceRelease(spark, "ing_pmw")
    }
  }

  test("streamed SIMHASH ingestion over >=3 micro-batches == one batch full run; replay idempotent") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.union(docs.withColumn("doc_id", col("doc_id") + 1000000L))
    val streamDir = java.nio.file.Files.createTempDirectory("shingest_src").toString
    (0 until 3).foreach { i =>
      stage(corpus.filter(col("doc_id") % 3 === i), streamDir, s"f$i.parquet")
      val f = java.nio.file.Paths.get(streamDir, s"f$i.parquet")
      java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - (10 - i) * 2000L))
    }
    val pairsDir = java.nio.file.Files.createTempDirectory("shingest_pairs").toString
    val ckpt = java.nio.file.Files.createTempDirectory("shingest_ckpt").toString
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    try {
      val q = IngestLoop.simhashIngest(stream, "doc_id", "text",
        prefix = "ing_sh", pairsDir = pairsDir, checkpointDir = ckpt)
      q.awaitTermination()
      val batchDirs = new java.io.File(pairsDir).listFiles()
        .filter(_.getName.startsWith("ingest_batch=")).map(_.getName)
      assert(batchDirs.length >= 3, s"expected >=3 micro-batches, got ${batchDirs.toSeq}")
      // pair-set contract: union of per-batch outputs == one batch run
      val streamed = spark.read.parquet(pairsDir).select("a_id", "b_id", "hamming")
      val full = Dedup.simhashPairs(corpus, "doc_id", "text")
      assert(streamed.count() > 0, "clone families must produce hamming-0 pairs")
      assert(streamed.exceptAll(full).count() == 0 &&
        full.exceptAll(streamed).count() == 0,
        "streamed simhash pair union diverges from the batch full run")
      // the folded index IS the full corpus index
      val shard = docs.limit(40).withColumn("doc_id", col("doc_id") + 2000000L)
      val sIdx = Dedup.simhashIndex(shard, "doc_id", "text")
      val viaTables = Dedup.simhashPairsIncremental(sIdx,
        IngestLoop.simhashCorpusBefore(spark, "ing_sh", Long.MaxValue))
      val viaMem = Dedup.simhashPairsIncremental(sIdx,
        Dedup.simhashIndex(corpus, "doc_id", "text"))
      assert(viaTables.exceptAll(viaMem).count() == 0 &&
        viaMem.exceptAll(viaTables).count() == 0,
        "reloaded multi-partition simhash index diverges from in-memory full index")
      // replay idempotence: redeliver local bid 2 (direct call, same loop id)
      def snapshot() = (
        spark.read.parquet(pairsDir).collect().map(_.toString).toSet,
        spark.table("ing_sh_chunked").collect().map(_.toString).toSet)
      val before = snapshot()
      IngestLoop.ingestSimhashBatch(corpus.filter(col("doc_id") % 3 === 2), 2L,
        "doc_id", "text", "ing_sh", pairsDir, maxHamming = 3, buckets = 8,
        loopId = ckpt)
      assert(snapshot() == before,
        "a replayed simhash batch changed the pair output or the index")
    } finally drop("ing_sh_chunked", "ing_sh_meta")
  }

  test("streamed CONTAINMENT ingestion over >=3 micro-batches == one batch full run; replay idempotent") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    // the q103 corpus shape: every-10th doc + its first-half excerpt, so
    // true containment-1.0 pairs exist and scatter across micro-batches
    val base = docs.filter(col("doc_id") % 10 === 0)
    val excerpts = base
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("text",
        expr("concat_ws(' ', slice(__toks, 1, CAST(size(__toks) DIV 2 AS INT)))"))
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
    val corpus = base.union(excerpts)
    val streamDir = java.nio.file.Files.createTempDirectory("cningest_src").toString
    (0 until 3).foreach { i =>
      stage(corpus.filter(col("doc_id") % 3 === i), streamDir, s"f$i.parquet")
      val f = java.nio.file.Paths.get(streamDir, s"f$i.parquet")
      java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - (10 - i) * 2000L))
    }
    val pairsDir = java.nio.file.Files.createTempDirectory("cningest_pairs").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cningest_ckpt").toString
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    try {
      val q = IngestLoop.containmentIngest(stream, "doc_id", "text",
        prefix = "ing_cn", pairsDir = pairsDir, checkpointDir = ckpt,
        tau = 0.5, n = 3)
      q.awaitTermination()
      val batchDirs = new java.io.File(pairsDir).listFiles()
        .filter(_.getName.startsWith("ingest_batch=")).map(_.getName)
      assert(batchDirs.length >= 3, s"expected >=3 micro-batches, got ${batchDirs.toSeq}")
      // containment is deterministic-complete: every ordered pair's later
      // endpoint's batch emits it, so the union == the full batch join,
      // not just a contract subset
      val streamed = spark.read.parquet(pairsDir)
        .select("a_id", "b_id", "containment")
      val full = Dedup.containmentJoin(corpus, "doc_id", "text", tau = 0.5)
      assert(streamed.count() > 0, "excerpts must produce containment-1.0 pairs")
      assert(streamed.filter(col("containment") === 1.0).count() > 0)
      assert(streamed.exceptAll(full).count() == 0 &&
        full.exceptAll(streamed).count() == 0,
        "streamed containment pair union diverges from the batch full run")
      // the folded index IS the full corpus index
      val shard = base.limit(20).withColumn("doc_id", col("doc_id") + 30000000L)
      val sIdx = Dedup.containmentIndex(shard, "doc_id", "text")
      val viaTables = Dedup.containmentJoinIncremental(sIdx,
        IngestLoop.containmentCorpusBefore(spark, "ing_cn", Long.MaxValue), tau = 0.5)
      val viaMem = Dedup.containmentJoinIncremental(sIdx,
        Dedup.containmentIndex(corpus, "doc_id", "text"), tau = 0.5)
      assert(viaTables.exceptAll(viaMem).count() == 0 &&
        viaMem.exceptAll(viaTables).count() == 0,
        "reloaded multi-partition containment index diverges from in-memory full index")
      // replay idempotence
      def snapshot() = (
        spark.read.parquet(pairsDir).collect().map(_.toString).toSet,
        spark.table("ing_cn_posting").collect().map(_.toString).toSet,
        spark.table("ing_cn_base").count())
      val before = snapshot()
      IngestLoop.ingestContainmentBatch(corpus.filter(col("doc_id") % 3 === 2), 2L,
        "doc_id", "text", "ing_cn", pairsDir, tau = 0.5, n = 3, buckets = 8,
        loopId = ckpt)
      assert(snapshot() == before,
        "a replayed containment batch changed the pair output or the index")
      // mismatched shingle width refuses loudly
      val e = intercept[IllegalArgumentException] {
        IngestLoop.ingestContainmentBatch(corpus.limit(5), 3L, "doc_id", "text",
          "ing_cn", pairsDir, tau = 0.5, n = 4, buckets = 8, loopId = ckpt)
      }
      assert(e.getMessage.contains("shingle width"), e.getMessage)
    } finally drop("ing_cn_posting", "ing_cn_base", "ing_cn_meta")
  }

  test("GROUP-SIZED containment ingestion: streamed edge deltas build the components catalog == batch CC over the full pair graph; replay idempotent; multiWriter refused") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 10 === 0)
    val excerpts = base
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("text",
        expr("concat_ws(' ', slice(__toks, 1, CAST(size(__toks) DIV 2 AS INT)))"))
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
    val corpus = base.union(excerpts)
    val streamDir = java.nio.file.Files.createTempDirectory("cngrp_src").toString
    (0 until 3).foreach { i =>
      stage(corpus.filter(col("doc_id") % 3 === i), streamDir, s"f$i.parquet")
      val f = java.nio.file.Paths.get(streamDir, s"f$i.parquet")
      java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - (10 - i) * 2000L))
    }
    val ckpt = java.nio.file.Files.createTempDirectory("cngrp_ckpt").toString
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    try {
      val q = IngestLoop.containmentIngest(stream, "doc_id", "text",
        prefix = "ing_cng", pairsDir = "", checkpointDir = ckpt,
        tau = 0.5, n = 3, groupsPrefix = "ing_cng_cc")
      q.awaitTermination()
      // the loop's durable output IS the components catalog — no pair
      // listing exists anywhere; it must equal batch CC over the full
      // qualifying pair graph
      val streamedComps = IngestLoop.ccComponents(spark, "ing_cng_cc")
        .collect().map(_.toString).toSet
      val fullPairs = Dedup.containmentJoin(corpus, "doc_id", "text", tau = 0.5)
        .select("a_id", "b_id")
      val batchComps = Dedup.connectedComponents(fullPairs, "a_id", "b_id")
        .select(col("id"), col("component")).collect().map(_.toString).toSet
      assert(batchComps.nonEmpty, "fixture must produce real components")
      assert(streamedComps == batchComps,
        s"group-mode catalog diverges: streamed=${streamedComps.size} batch=${batchComps.size}")
      // replay idempotence: re-running the last batch (foreachBatch
      // redelivery) must leave the folded catalog unchanged
      IngestLoop.ingestContainmentBatch(corpus.filter(col("doc_id") % 3 === 2), 2L,
        "doc_id", "text", "ing_cng", "", tau = 0.5, n = 3, buckets = 8,
        loopId = ckpt, groupsPrefix = "ing_cng_cc")
      val replayed = IngestLoop.ccComponents(spark, "ing_cng_cc")
        .collect().map(_.toString).toSet
      assert(replayed == streamedComps,
        "a replayed group-mode batch changed the components catalog")
      // multiWriter + groups is a contract violation (CC is
      // single-writer): refuse loudly, naming the fan-in topology
      val e = intercept[IllegalArgumentException] {
        IngestLoop.ingestContainmentBatch(corpus.limit(5), 3L, "doc_id", "text",
          "ing_cng", "", tau = 0.5, n = 3, buckets = 8, loopId = ckpt,
          multiWriter = true, groupsPrefix = "ing_cng_cc")
      }
      assert(e.getMessage.contains("single-writer"), e.getMessage)
    } finally drop("ing_cng_posting", "ing_cng_base", "ing_cng_meta",
      "ing_cng_cc_labels", "ing_cng_cc_meta")
  }

  test("MULTI-WRITER simhash + containment: two PARALLEL loops on one prefix == one batch full run; single-writer refused") {
    spark.conf.set("spark.graft.fence.waitMs", "120000")
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    try {
      // --- simhash: clone families scatter across BOTH loops
      val shCorpus = docs.union(docs.withColumn("doc_id", col("doc_id") + 1000000L))
      val shA = java.nio.file.Files.createTempDirectory("shmw_a").toString
      val shB = java.nio.file.Files.createTempDirectory("shmw_b").toString
      Seq(0, 2).zipWithIndex.foreach { case (r, i) =>
        stage(shCorpus.filter(col("doc_id") % 4 === r), shA, s"f$i.parquet") }
      Seq(1, 3).zipWithIndex.foreach { case (r, i) =>
        stage(shCorpus.filter(col("doc_id") % 4 === r), shB, s"f$i.parquet") }
      val shPairs = java.nio.file.Files.createTempDirectory("shmw_pairs").toString
      val shCkA = java.nio.file.Files.createTempDirectory("shmw_ckA").toString
      val shCkB = java.nio.file.Files.createTempDirectory("shmw_ckB").toString
      def src(d: String) = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(d)
      try {
        val qa = IngestLoop.simhashIngest(src(shA), "doc_id", "text",
          prefix = "ing_shmw", pairsDir = shPairs, checkpointDir = shCkA,
          multiWriter = true)
        val qb = IngestLoop.simhashIngest(src(shB), "doc_id", "text",
          prefix = "ing_shmw", pairsDir = shPairs, checkpointDir = shCkB,
          multiWriter = true)
        qa.awaitTermination(); qb.awaitTermination()
        assert(spark.table("ing_shmw_commits").count() == 4)
        val streamed = spark.read.parquet(shPairs).select("a_id", "b_id", "hamming")
        val full = Dedup.simhashPairs(shCorpus, "doc_id", "text")
        assert(streamed.count() > 0)
        assert(streamed.exceptAll(full).count() == 0 &&
          full.exceptAll(streamed).count() == 0,
          "two-loop simhash pair union diverges from the batch full run")
        val e = intercept[IllegalArgumentException] {
          IngestLoop.ingestSimhashBatch(docs.limit(5), 0L, "doc_id", "text",
            "ing_shmw", shPairs, maxHamming = 3, buckets = 8, loopId = "/x")
        }
        assert(e.getMessage.contains("multiWriter"), e.getMessage)
      } finally drop("ing_shmw_chunked", "ing_shmw_meta", "ing_shmw_commits")
      // --- containment: excerpts land on the OTHER loop than sources
      val base = docs.filter(col("doc_id") % 10 === 0)
      val excerpts = base
        .withColumn("__toks", split(col("text"), " "))
        .withColumn("text",
          expr("concat_ws(' ', slice(__toks, 1, CAST(size(__toks) DIV 2 AS INT)))"))
        .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
      val cnCorpus = base.union(excerpts)
      val cnA = java.nio.file.Files.createTempDirectory("cnmw_a").toString
      val cnB = java.nio.file.Files.createTempDirectory("cnmw_b").toString
      stage(base, cnA, "f0.parquet")
      stage(excerpts, cnB, "f0.parquet")
      val cnPairs = java.nio.file.Files.createTempDirectory("cnmw_pairs").toString
      val cnCkA = java.nio.file.Files.createTempDirectory("cnmw_ckA").toString
      val cnCkB = java.nio.file.Files.createTempDirectory("cnmw_ckB").toString
      try {
        val qa = IngestLoop.containmentIngest(src(cnA), "doc_id", "text",
          prefix = "ing_cnmw", pairsDir = cnPairs, checkpointDir = cnCkA,
          tau = 0.5, n = 3, multiWriter = true)
        val qb = IngestLoop.containmentIngest(src(cnB), "doc_id", "text",
          prefix = "ing_cnmw", pairsDir = cnPairs, checkpointDir = cnCkB,
          tau = 0.5, n = 3, multiWriter = true)
        qa.awaitTermination(); qb.awaitTermination()
        assert(spark.table("ing_cnmw_commits").count() == 2)
        val streamed = spark.read.parquet(cnPairs)
          .select("a_id", "b_id", "containment")
        val full = Dedup.containmentJoin(cnCorpus, "doc_id", "text", tau = 0.5)
        assert(streamed.count() > 0)
        assert(streamed.exceptAll(full).count() == 0 &&
          full.exceptAll(streamed).count() == 0,
          "two-loop containment pair union diverges from the batch full run")
        val e = intercept[IllegalArgumentException] {
          IngestLoop.ingestContainmentBatch(base.limit(5), 0L, "doc_id", "text",
            "ing_cnmw", cnPairs, tau = 0.5, n = 3, buckets = 8, loopId = "/x")
        }
        assert(e.getMessage.contains("multiWriter"), e.getMessage)
      } finally drop("ing_cnmw_posting", "ing_cnmw_base", "ing_cnmw_meta",
        "ing_cnmw_commits")
    } finally {
      spark.conf.unset("spark.graft.fence.waitMs")
      graft.operators.Fence.forceRelease(spark, "ing_shmw")
      graft.operators.Fence.forceRelease(spark, "ing_cnmw")
    }
  }

  test("auto-maintenance: spark.graft.maintain.fraction triggers the family compaction from inside the loop; pair output unchanged; everyBatches amortizes") {
    import graft.operators.Tombstones
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.union(docs.withColumn("doc_id", col("doc_id") + 1000000L))
    val b0 = corpus.filter(col("doc_id") % 2 === 0)
    val b1 = corpus.filter(col("doc_id") % 2 === 1)
    val b2 = corpus.limit(20).withColumn("doc_id", col("doc_id") + 2000000L)
    val pairsDir = java.nio.file.Files.createTempDirectory("automnt").toString
    def run(batch: org.apache.spark.sql.DataFrame, bid: Long): Unit =
      IngestLoop.ingestMinhashBatch(batch, bid, "doc_id", "text", "ing_am",
        pairsDir, threshold = 0.5, numPerms = 32, rowsPerBand = 4, buckets = 8)
    try {
      run(b0, 0L) // no maintain conf: loop behaves as before
      assert(!spark.catalog.tableExists("ing_am_tombstones"))
      // debt past the threshold: 4 dead ids, trigger at >= 8 * 0.5 = 4
      val dead = b0.select("doc_id").orderBy("doc_id").limit(4)
      Tombstones.add(dead, "doc_id", "ing_am")
      val gen0 = Tombstones.generation(spark, "ing_am")
      val pairs0 = spark.read.parquet(s"$pairsDir/ingest_batch=0")
        .collect().map(_.toString).toSet
      spark.conf.set("spark.graft.maintain.fraction", "0.5")
      spark.conf.set("spark.graft.maintain.maxTombstones", "8")
      run(b1, 1L)
      // the batch's post-publish check dispatched compactMinhash: the
      // tombstone set is cleared, the deletion is physical, and the
      // rewrite bumped the generation (so concurrent miners re-check)
      assert(!spark.catalog.tableExists("ing_am_tombstones"),
        "auto-maintenance must fold + clear the over-threshold tombstones")
      val deadIds = dead.collect().map(_.getLong(0)).toSet
      assert(spark.table("ing_am_shingles")
        .filter(col("doc_id").isin(deadIds.toSeq: _*)).count() == 0,
        "the folded deletion must be physical")
      assert(Tombstones.generation(spark, "ing_am") == gen0 + 1)
      // pair output unchanged: batch 0's published pairs untouched, and
      // batch 1's pairs equal a fresh incremental against the
      // post-compact corpus view
      assert(spark.read.parquet(s"$pairsDir/ingest_batch=0")
        .collect().map(_.toString).toSet == pairs0)
      val expected = Dedup.minhashLshPairsIncremental(
        Dedup.minhashIndex(b1, "doc_id", "text"),
        IngestLoop.minhashCorpusBefore(spark, "ing_am", 1L), threshold = 0.5)
      val actual = spark.read.parquet(s"$pairsDir/ingest_batch=1")
      assert(actual.count() > 0)
      assert(actual.exceptAll(expected).count() == 0 &&
        expected.exceptAll(actual).count() == 0,
        "auto-maintained batch pairs diverge from the corpus-view mine")
      // everyBatches amortization: debt present but the cadence defers
      // the check until the Nth batch
      Tombstones.add(dead, "doc_id", "ing_am")
      spark.conf.set("spark.graft.maintain.everyBatches", "2")
      run(b2, 2L)
      assert(spark.catalog.tableExists("ing_am_tombstones"),
        "the first batch under everyBatches=2 must defer the check")
      run(b2.withColumn("doc_id", col("doc_id") + 1000000L), 3L)
      assert(!spark.catalog.tableExists("ing_am_tombstones"),
        "the second batch must run the deferred check")
    } finally {
      spark.conf.unset("spark.graft.maintain.fraction")
      spark.conf.unset("spark.graft.maintain.maxTombstones")
      spark.conf.unset("spark.graft.maintain.everyBatches")
      drop("ing_am_bands", "ing_am_shingles", "ing_am_meta",
        "ing_am_tombstones")
    }
  }

  test("PQ ingest loop: the creating batch freezes the multi-assignment factor; later batches replicate against it") {
    import graft.operators.Similarity
    val embs = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val b0 = embs.filter(col("vec_id") % 2 === 0)
    val b1 = embs.filter(col("vec_id") % 2 === 1)
    try {
      IngestLoop.ingestPqBatch(b0, 0L, "vec_id", "embedding", "ing_pqa",
        nlist = 16, m = 8, ksub = 16, seed = 42L, buckets = 8, assign = 2)
      val idx = Similarity.loadPqIndex(spark, "ing_pqa")
      assert(idx.assign == 2, "creation must freeze the assignment factor")
      assert(spark.table("ing_pqa_codes").count() == 2L * b0.count())
      // a later batch encodes against the FROZEN model: replicated too,
      // regardless of the caller's (creation-only) assign argument
      IngestLoop.ingestPqBatch(b1, 1L, "vec_id", "embedding", "ing_pqa",
        nlist = 16, m = 8, ksub = 16, seed = 42L, buckets = 8)
      assert(spark.table("ing_pqa_codes")
        .filter(col("ingest_batch") === 1).count() == 2L * b1.count(),
        "later batches must replicate per the frozen factor")
      // serving through the grown index dedups the copies: <= k rows/query
      val q = embs.filter(col("vec_id") < 10)
      val served = Similarity.ivfPqTopK(Similarity.loadPqIndex(spark, "ing_pqa"),
        embs, q, "vec_id", "embedding", k = 5, nprobe = 6, refine = 8)
      assert(served.groupBy("q_id").count().agg(max("count")).head.getLong(0) <= 5)
    } finally drop("ing_pqa_codes", "ing_pqa_meta")
  }

  test("streamed SIGNATURE ingestion (media landing path) over >=3 micro-batches == one batch signaturePairs run; tombstone + compact work on the loop-built family") {
    import graft.operators.Tombstones
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    // precomputed 64-bit fingerprints (the media codec stages' output
    // shape); id-shifted clones share signatures exactly -> hamming 0
    val corpus = docs.union(docs.withColumn("doc_id", col("doc_id") + 1000000L))
      .select(col("doc_id").as("media_id"),
        graft.operators.Dedup.simhash64("split(text, ' ')").as("sig"))
      .localCheckpoint(true)
    val streamDir = java.nio.file.Files.createTempDirectory("sgingest_src").toString
    (0 until 3).foreach { i =>
      stage(corpus.filter(col("media_id") % 3 === i), streamDir, s"f$i.parquet")
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(streamDir, s"f$i.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - (10 - i) * 2000L))
    }
    val pairsDir = java.nio.file.Files.createTempDirectory("sgingest_pairs").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sgingest_ckpt").toString
    val stream = spark.readStream.schema("media_id LONG, sig LONG")
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    try {
      val q = IngestLoop.signatureIngest(stream, "media_id", "sig",
        prefix = "ing_sg", pairsDir = pairsDir, checkpointDir = ckpt)
      q.awaitTermination()
      val batchDirs = new java.io.File(pairsDir).listFiles()
        .filter(_.getName.startsWith("ingest_batch=")).map(_.getName)
      assert(batchDirs.length >= 3, s"expected >=3 micro-batches, got ${batchDirs.toSeq}")
      val streamed = spark.read.parquet(pairsDir).select("a_id", "b_id", "hamming")
      val full = Dedup.signaturePairs(corpus, "media_id", "sig")
      assert(streamed.count() > 0, "clone signatures must produce hamming-0 pairs")
      assert(streamed.exceptAll(full).count() == 0 &&
        full.exceptAll(streamed).count() == 0,
        "streamed signature pair union diverges from the batch full run")
      // the loop-built family IS a simhash family: tombstone + compact
      val dead = corpus.select(col("media_id")).orderBy("media_id").limit(3)
      Tombstones.add(dead, "media_id", "ing_sg")
      Tombstones.compactSimhash(spark, "ing_sg")
      val deadIds = dead.collect().map(_.getLong(0)).toSet
      assert(spark.table("ing_sg_chunked")
        .filter(col("media_id").isin(deadIds.toSeq: _*)).count() == 0,
        "compactSimhash must physically fold deletions on the signature family")
      // ...and a fresh incremental against the compacted corpus view works
      val shard = corpus.limit(20).withColumn("media_id", col("media_id") + 2000000L)
      val inc = Dedup.simhashPairsIncremental(
        Dedup.signatureIndex(shard, "media_id", "sig"),
        IngestLoop.simhashCorpusBefore(spark, "ing_sg", Long.MaxValue))
      assert(inc.count() > 0)
      assert(inc.filter(col("a_id").isin(deadIds.toSeq: _*) ||
        col("b_id").isin(deadIds.toSeq: _*)).count() == 0)
    } finally drop("ing_sg_chunked", "ing_sg_meta", "ing_sg_tombstones")
  }
  test("a crash between the overlapped appends replays to the clean-run state in EVERY family, bumping the generation once") {
    import graft.operators.Tombstones
    import spark.implicits._
    // ids 0 and 1 mod 4: half of each table, split by parity below
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 4 < 2)
    val texts = docs.union(docs.withColumn("doc_id", col("doc_id") + 1000000L))
    val embs = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") % 4 < 2)
    val vecs = embs.union(embs.withColumn("vec_id", col("vec_id") + 10000000L))
    val edges = Seq(
      (0L until 20L).map(i => (i, i + 1000000L)),
      (0L until 20L).map(i => (i + 1000000L, i + 2000000L)))
    def half(df: org.apache.spark.sql.DataFrame, id: String, bid: Long) =
      df.filter(col(id) % 2 === bid)
    // (family, data tables in append order, writes pairs, batch run)
    case class Fam(name: String, tables: Seq[String], pairs: Boolean,
                   run: (String, String, Long) => Unit)
    val fams = Seq(
      Fam("mh", Seq("bands", "shingles"), pairs = true, (p, d, bid) =>
        IngestLoop.ingestMinhashBatch(half(texts, "doc_id", bid), bid, "doc_id", "text",
          p, d, threshold = 0.5, numPerms = 32, rowsPerBand = 4, buckets = 4)),
      Fam("em", Seq("hashed", "vecs"), pairs = true, (p, d, bid) =>
        IngestLoop.ingestEmbedBatch(half(vecs, "vec_id", bid), bid, "vec_id", "embedding",
          p, d, threshold = 0.9, bitsPerTable = 12, numTables = 4, seed = 42L,
          dim = 64, buckets = 4)),
      Fam("pq", Seq("codes"), pairs = false, (p, _, bid) =>
        IngestLoop.ingestPqBatch(half(vecs, "vec_id", bid), bid, "vec_id", "embedding",
          p, nlist = 4, m = 8, ksub = 16, seed = 42L, buckets = 4)),
      Fam("sem", Seq("docs"), pairs = false, (p, _, bid) =>
        IngestLoop.ingestSemBatch(half(vecs, "vec_id", bid), bid, "vec_id", "embedding",
          p, threshold = 0.9, nlist = 4, seed = 42L, maxPairs = 1000000000L, buckets = 4)),
      Fam("cc", Seq("labels"), pairs = false, (p, _, bid) =>
        IngestLoop.ingestCcBatch(edges(bid.toInt).toDF("a_id", "b_id"), bid,
          "a_id", "b_id", p, buckets = 4)),
      Fam("sh", Seq("chunked"), pairs = true, (p, d, bid) =>
        IngestLoop.ingestSimhashBatch(half(texts, "doc_id", bid), bid, "doc_id", "text",
          p, d, maxHamming = 3, buckets = 4)),
      Fam("cn", Seq("posting", "base"), pairs = true, (p, d, bid) =>
        IngestLoop.ingestContainmentBatch(half(texts, "doc_id", bid), bid, "doc_id",
          "text", p, d, tau = 0.5, n = 3, buckets = 4)))
    fams.foreach { f =>
      val p = s"ing_ha_${f.name}"
      val pairsDir = java.nio.file.Files.createTempDirectory(s"ingest_ha_${f.name}").toString
      def snapshot(): Seq[Seq[String]] =
        (f.tables :+ "meta").map(t => spark.table(s"${p}_$t").collect().map(_.toString).toSeq.sorted) ++
          (if (f.pairs) Seq(spark.read.parquet(pairsDir).collect().map(_.toString).toSeq.sorted)
          else Nil)
      try {
        f.run(p, pairsDir, 0L)
        f.run(p, pairsDir, 1L)
        val clean = snapshot()
        val gen = Tombstones.generation(spark, p)
        // the crash window between the overlapped appends: batch 1's
        // partition landed in the LAST table but not in the ones before
        // it (a one-table family has no such window — its replay finds
        // the whole partition present)
        f.tables.init.foreach { t =>
          spark.sql(s"ALTER TABLE ${p}_$t DROP IF EXISTS PARTITION (ingest_batch=1)")
        }
        f.run(p, pairsDir, 1L) // the checkpoint's replay of batch 1
        assert(snapshot() == clean, s"${f.name}: the replay diverges from the clean run")
        assert(Tombstones.generation(spark, p) == gen + 1,
          s"${f.name}: a replay over a present partition must bump the generation exactly once")
      } finally drop((f.tables :+ "meta").map(t => s"${p}_$t"): _*)
    }
  }

  test("a refused batch restores the caller's job description (budget-refused containment mine)") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 10 === 0)
    val excerpts = docs
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("text",
        expr("concat_ws(' ', slice(__toks, 1, CAST(size(__toks) DIV 2 AS INT)))"))
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
    val pairsDir = java.nio.file.Files.createTempDirectory("ingest_label").toString
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("caller: outer phase")
    try {
      val e = intercept[IllegalArgumentException] {
        IngestLoop.ingestContainmentBatch(docs.union(excerpts), 0L, "doc_id", "text",
          "ing_lbl", pairsDir, tau = 0.5, n = 3, buckets = 4, maxCandidates = 1L)
      }
      assert(e.getMessage.contains("budget"), e.getMessage)
      assert(sc.getLocalProperty("spark.job.description") == "caller: outer phase",
        "the refused batch leaked its phase label onto the calling thread")
    } finally {
      sc.setJobDescription(prev)
      drop("ing_lbl_posting", "ing_lbl_base", "ing_lbl_meta")
    }
  }
}
