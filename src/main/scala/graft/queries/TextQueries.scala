package graft.queries

import graft.Tables
import graft.operators.{Curation, Dedup, Family, Fence, FitPool, Multimodal, Packing, Sampling, Similarity, Staging, TextAnalysis, Tombstones}
import graft.streaming.IngestLoop
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** LLM-training-data pipeline operators over the documents/embeddings
  * tables: dedup (exact, n-gram Jaccard, MinHash-LSH, SimHash,
  * embedding-cosine), similarity search (brute-force + LSH), text
  * analysis (quality, lang-ID, token counts, fingerprints), multimodal
  * binary plumbing. DuckDB oracles wherever list/lambda SQL can express
  * the same computation; signature-based ops are rows-only + ScalaTest.
  */
object TextQueries {

  private def docs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables(s, d, "documents")
  private def embs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables(s, d, "embeddings")

  /** The quote/excerpt corpus of the containment rows: the sources
    * (`doc_id % 10 = 0`) plus, at `doc_id + 20000000`, each source's
    * first half — its first `size DIV 2` space-separated tokens. */
  private def quoteCorpus(s: org.apache.spark.sql.SparkSession, d: String) = {
    val base = docs(s, d).filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    base.union(base
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("text",
        expr("concat_ws(' ', slice(__toks, 1, CAST(size(__toks) DIV 2 AS INT)))"))
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text")))
  }

  /** Reset the persisted index family under `prefix` for a query row
    * that rebuilds it on every run: drop every table any family kind
    * declares under the prefix ([[Family.declared]]), delete each one's
    * warehouse directory (a new session's in-memory catalog forgets a
    * table, but `saveAsTable` still refuses on the directory an earlier
    * session left), and force-release a writer fence a crashed run left
    * held. Valid ONLY for a caller that owns the prefix: unlike
    * [[Tombstones.clearOrphanLocation]] it deletes without checking whose
    * data the directory holds. */
  private[graft] def resetFamily(s: org.apache.spark.sql.SparkSession,
                                 prefix: String): Unit = {
    Family.declared(prefix).foreach { t =>
      if (s.catalog.tableExists(t)) s.sql(s"DROP TABLE $t")
      val loc = Family.location(s, t)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    Fence.forceRelease(s, prefix)
  }

  /** Land `frame` as three one-file parquet shards (split on
    * `idCol % 3`) in a fresh local landing directory, modified 2 s apart
    * in shard order, so a `maxFilesPerTrigger = 1` file stream drains
    * them as three micro-batches in a fixed order. `tag` names the
    * temporary directories. Returns the landing directory. */
  private def landShards(frame: org.apache.spark.sql.DataFrame, idCol: String,
                         tag: String): String = {
    val landing = java.nio.file.Files.createTempDirectory(tag + "_landing").toString
    (0 until 3).foreach { i =>
      val tmp = java.nio.file.Files.createTempDirectory(tag + "_shard").toString
      frame.filter(col(idCol) % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      val landed = java.nio.file.Files.copy(part,
        java.nio.file.Paths.get(landing, s"shard$i.parquet"))
      java.nio.file.Files.setLastModifiedTime(landed,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - (10 - i) * 2000L))
    }
    landing
  }

  /** q44/q46 contract row: ANN output vs the exact brute-force top-k on
    * the same (q_id, c_id, cos, rn) geometry, reduced to the invariants
    * DuckDB can oracle without reproducing seeded hash internals —
    * query-count parity, per-query row bound, ANN-best-cosine ≤
    * exact-best-cosine (identical 6-dp rounding on a candidate SUBSET,
    * so any violation is a scoring bug), and a mean-recall@k floor. */
  private def annContract(ann: org.apache.spark.sql.DataFrame,
                          exact: org.apache.spark.sql.DataFrame,
                          k: Int, minMeanRecall: Double): org.apache.spark.sql.DataFrame = {
    val hits = ann.join(exact.select("q_id", "c_id"), Seq("q_id", "c_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("__nh"))
    val ex = exact.groupBy("q_id").agg(count(lit(1)).as("__ne"), max("cos").as("__ebest"))
    val annAgg = ann.groupBy("q_id").agg(count(lit(1)).as("__na"), max("cos").as("__abest"))
    ex.join(hits, Seq("q_id"), "left").join(annAgg, Seq("q_id"), "left")
      .select(col("q_id"),
        (coalesce(col("__nh"), lit(0L)).cast("double") /
          least(col("__ne"), lit(k.toLong))).as("__r"),
        coalesce(col("__na"), lit(0L)).as("__na"),
        (coalesce(col("__abest"), lit(-1.0)) <= col("__ebest") + lit(1e-9)).as("__le"))
      .agg(count(lit(1)).as("n_queries"),
        max(col("__na")).as("__maxna"),
        min(col("__le").cast("int")).as("__allle"),
        avg(col("__r")).as("__mr"))
      .select(col("n_queries"), lit(k).as("k"),
        (col("__maxna") <= k).as("rows_le_k"),
        (col("__allle") === 1).as("ann_never_beats_exact"),
        (col("__mr") >= minMeanRecall).as("mean_recall_ok"))
  }

  val entries: Seq[(String, QueryDef)] = Seq(

    // ----------------------------------------------------------------
    // q31: exact dedup — one hash-groupBy on md5(text) (the only shuffle,
    // on a 16-byte key), keep-lowest-id policy.
    "q31_dedup_exact" -> QueryDef(
      fn = (s, d) =>
        Dedup.exactGroups(docs(s, d), "doc_id", "text")
          .orderBy("text_hash"),
      oracle = Some("""
        SELECT md5(text) AS text_hash, CAST(COUNT(*) AS BIGINT) AS cnt, MIN(doc_id) AS keep_id
        FROM documents GROUP BY md5(text) ORDER BY text_hash""")),

    // ----------------------------------------------------------------
    // q32: word-3-gram Jaccard near-dup, blocked by source (candidate
    // generation is block-local, never all-pairs); top-20 most similar
    // pairs. Shingling/intersection are pure array expressions.
    "q32_ngram_jaccard" -> QueryDef(
      fn = (s, d) => {
        val base = docs(s, d)
          .withColumn("toks", split(col("text"), " "))
          .withColumn("sh", Dedup.shingleExpr("toks"))
          .select(col("doc_id"), col("source"), col("sh"))
        val a = base.filter(col("doc_id") % 25 === 0)
          .select(col("doc_id").as("a_id"), col("source"), col("sh").as("a_sh"))
        val b = base.select(col("doc_id").as("b_id"), col("source"), col("sh").as("b_sh"))
        // exact-tier contract ENFORCED, not just documented: refuse past
        // the pair budget (two narrow count aggregates) instead of
        // scheduling a quadratic join; q33 is the banded scale path.
        // Budget sized for what this tier can actually MATERIALIZE, not
        // a token bound: the verify join shuffles ~2 KB of shingle
        // arrays per candidate pair, so 20 M pairs ≈ 40 GB of shuffle —
        // the measured ceiling before a 78 GB-scratch box spills to
        // death (the 100× fixture's ~500 M pairs did exactly that to
        // pre-collapse q33). 10× data emits ~5 M pairs and passes;
        // 30×+ correctly refuses with the q33 pointer. Cluster callers
        // with real aggregate scratch raise it.
        Dedup.requirePairBudget(a, b, "source", maxPairs = 20000000L)
        // broadcast the probe slice + spread the corpus side (round 16;
        // guide §2.5/§3.1): `source` has a handful of distinct values,
        // so the hash exchange landed the whole quadratic verify tier
        // on as many tasks as there are sources (measured: 1-task
        // 0.96 s jobs at sf0.1 while 31 cores idled). The every-25th
        // slice is broadcast-sized by construction; broadcasting it
        // removes the hot-key exchange entirely and the verify runs at
        // the spread corpus width. Row-identical output.
        val pairs = graft.operators.Staging.spread(b, col("b_id"))
          .join(broadcast(a), Seq("source"))
          .filter(col("b_id") > col("a_id"))
          .select(col("a_id"), col("b_id"),
            round(Dedup.jaccard(col("a_sh"), col("b_sh")), 4).as("jaccard"))
        // distributed top-k (TakeOrdered) first; the row_number window then
        // only sees 20 rows — no single-partition window over all pairs
        val top = pairs.orderBy(desc("jaccard"), asc("a_id"), asc("b_id")).limit(20)
        val w = Window.orderBy(desc("jaccard"), asc("a_id"), asc("b_id"))
        top.withColumn("rn", row_number().over(w))
          .select(col("a_id"), col("b_id"), col("jaccard"), col("rn").cast("int").as("rn"))
      },
      oracle = Some("""
        WITH base AS (
          SELECT doc_id, source,
                 list_distinct(list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS sh
          FROM documents),
        pairs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 ROUND(CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
                       (len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x)))), 4) AS jaccard
          FROM base a JOIN base b ON a.source = b.source AND b.doc_id > a.doc_id
          WHERE a.doc_id % 25 = 0),
        r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY jaccard DESC, a_id, b_id) AS rn FROM pairs)
        SELECT a_id, b_id, jaccard, CAST(rn AS INTEGER) AS rn FROM r WHERE rn <= 20
        ORDER BY rn""")),

    // ----------------------------------------------------------------
    // q33: MinHash + LSH banding near-dup. Candidates only from shared
    // band buckets (bounded fan-out), verified by exact Jaccard. The
    // corpus is unioned with an id-shifted copy so true duplicate pairs
    // exist at every scale. The banded run covers the FULL corpus (the
    // bench-relevant work); the emitted row is (round-5) its contract
    // against a 500-doc slice whose exact Jaccard pair set DuckDB
    // enumerates outright — candidate generation is pairwise (two docs
    // share a band bucket or not, independent of the rest of the
    // corpus), so the full-corpus output restricted to the slice equals
    // the slice's own LSH pair set:
    //   n_exact_slice      exact-tier pair count on the slice — a real
    //                      data-derived number DuckDB reproduces
    //   n_identical_slice  md5-equal pair count (ditto)
    //   precision_exact    every emitted slice pair IS an exact pair
    //                      (the verify step is exact Jaccard, so a
    //                      violation is a banding/verify bug)
    //   identical_all_found identical texts hash identically in every
    //                      band → found with probability 1 (theorem)
    //   recall_ok          |LSH ∩ exact| ≥ 0.8·n_exact on the slice
    //                      (near-dup pairs can miss every band; fixed
    //                      seed makes the value deterministic — the
    //                      bound holds at sf0.001/0.01/0.1/10×, where
    //                      the slice carries 250 identical + 0–44
    //                      natural near-dup pairs)
    // Pair-level output stays pinned by DedupSpec's exhaustive oracle.
    "q33_minhash_lsh" -> QueryDef(
      fn = (s, d) => {
        val base = docs(s, d).select(col("doc_id"), col("text"))
        val shifted = base.withColumn("doc_id", col("doc_id") + 10000000L)
        val corpus = base.union(shifted)
        val inSlice = (c: org.apache.spark.sql.Column) => pmod(c, lit(10000000L)) < 250
        val lshSlice = Dedup.minhashLshPairs(corpus, "doc_id", "text", threshold = 0.8)
          .filter(inSlice(col("a_id")) && inSlice(col("b_id")))
          .select("a_id", "b_id").localCheckpoint(true)
        // spread before checkpoint (round 16): the exact tier's
        // all-pairs jaccard runs on the probe side's partitioning —
        // unspread, the 125k-pair nested-loop verify ran as 2 tasks
        // (Staging.spread is a no-op once partitions >= cores)
        val slice = graft.operators.Staging.spread(
            corpus.filter(inSlice(col("doc_id"))), col("doc_id"))
          .withColumn("__toks", split(col("text"), " "))
          .select(col("doc_id"), col("text"), Dedup.shingleExpr("__toks").as("__sh"))
          .localCheckpoint(true)
        val a = slice.select(col("doc_id").as("a_id"), col("text").as("__ta"), col("__sh").as("__sa"))
        val b = slice.select(col("doc_id").as("b_id"), col("text").as("__tb"), col("__sh").as("__sb"))
        val allPairs = a.join(b, col("a_id") < col("b_id"))
        val exact = allPairs
          .filter(Dedup.jaccard(col("__sa"), col("__sb")) >= 0.8)
          .select("a_id", "b_id").localCheckpoint(true)
        val ident = allPairs.filter(md5(col("__ta")) === md5(col("__tb")))
          .select("a_id", "b_id")
        val hits = lshSlice.join(exact, Seq("a_id", "b_id"), "left_semi")
        val strays = lshSlice.join(exact, Seq("a_id", "b_id"), "left_anti")
        val missedIdent = ident.join(lshSlice, Seq("a_id", "b_id"), "left_anti")
        exact.agg(count(lit(1)).as("n_exact_slice"))
          .crossJoin(broadcast(ident.agg(count(lit(1)).as("n_identical_slice"))))
          .crossJoin(broadcast(hits.agg(count(lit(1)).as("__nh"))))
          .crossJoin(broadcast(strays.agg(count(lit(1)).as("__ns"))))
          .crossJoin(broadcast(missedIdent.agg(count(lit(1)).as("__nm"))))
          .select(col("n_exact_slice"), col("n_identical_slice"),
            (col("__ns") === 0L).as("precision_exact"),
            (col("__nm") === 0L).as("identical_all_found"),
            (col("__nh").cast("double") >= col("n_exact_slice") * lit(0.8)).as("recall_ok"))
      },
      oracle = Some("""
        WITH s0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10000000 < 250),
        u AS (SELECT doc_id, text FROM s0
              UNION ALL SELECT doc_id + 10000000, text FROM s0),
        base AS (
          SELECT doc_id, text,
                 list_distinct(list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS sh
          FROM u),
        p AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
                 (len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) AS j,
                 (md5(a.text) = md5(b.text)) AS ident
          FROM base a JOIN base b ON b.doc_id > a.doc_id)
        SELECT CAST(SUM(CASE WHEN j >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_slice,
               CAST(SUM(CASE WHEN ident THEN 1 ELSE 0 END) AS BIGINT) AS n_identical_slice,
               TRUE AS precision_exact, TRUE AS identical_all_found, TRUE AS recall_ok
        FROM p""")),

    // ----------------------------------------------------------------
    // q34: SimHash near-dup — 64-bit signature, 16-bit-chunk candidate
    // buckets, exact Hamming verify; same unioned corpus as q33. Same
    // round-5 contract shape, with a STRONGER theorem than q33's: a
    // pair within Hamming 3 differs in at most 3 of the 4 chunks, so at
    // least one chunk matches (pigeonhole) and candidate recall is
    // EXACTLY 1.0 — the emitted slice set must EQUAL the exact
    // Hamming-≤3 set computed all-pairs from the same signatures
    // (slice_equals_exact, both containments). DuckDB cannot compute
    // xxhash64 signatures, so the data-derived number it pins is the
    // md5-identical pair count (identical texts → identical signatures
    // → Hamming 0 ⊆ the emitted set).
    "q34_simhash" -> QueryDef(
      fn = (s, d) => {
        val base = docs(s, d).select(col("doc_id"), col("text"))
        val shifted = base.withColumn("doc_id", col("doc_id") + 10000000L)
        val corpus = base.union(shifted)
        val inSlice = (c: org.apache.spark.sql.Column) => pmod(c, lit(10000000L)) < 250
        val lshSlice = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
          .filter(inSlice(col("a_id")) && inSlice(col("b_id")))
          .select("a_id", "b_id").localCheckpoint(true)
        val slice = corpus.filter(inSlice(col("doc_id")))
          .select(col("doc_id"), col("text"),
            Dedup.simhash64("split(text, ' ')").as("__sig"))
          .localCheckpoint(true)
        val a = slice.select(col("doc_id").as("a_id"), col("text").as("__ta"), col("__sig").as("__ga"))
        val b = slice.select(col("doc_id").as("b_id"), col("text").as("__tb"), col("__sig").as("__gb"))
        val allPairs = a.join(b, col("a_id") < col("b_id"))
        val exact = allPairs
          .filter(Dedup.hamming(col("__ga"), col("__gb")) <= 3)
          .select("a_id", "b_id").localCheckpoint(true)
        val ident = allPairs.filter(md5(col("__ta")) === md5(col("__tb")))
          .select("a_id", "b_id")
        val strays = lshSlice.join(exact, Seq("a_id", "b_id"), "left_anti")
        val missed = exact.join(lshSlice, Seq("a_id", "b_id"), "left_anti")
        val missedIdent = ident.join(lshSlice, Seq("a_id", "b_id"), "left_anti")
        ident.agg(count(lit(1)).as("n_identical_slice"))
          .crossJoin(broadcast(strays.agg(count(lit(1)).as("__ns"))))
          .crossJoin(broadcast(missed.agg(count(lit(1)).as("__nm"))))
          .crossJoin(broadcast(missedIdent.agg(count(lit(1)).as("__ni"))))
          .select(col("n_identical_slice"),
            (col("__ns") === 0L && col("__nm") === 0L).as("slice_equals_exact"),
            (col("__ni") === 0L).as("identical_all_found"))
      },
      oracle = Some("""
        WITH s0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10000000 < 250),
        u AS (SELECT doc_id, text FROM s0
              UNION ALL SELECT doc_id + 10000000, text FROM s0)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_identical_slice,
               TRUE AS slice_equals_exact, TRUE AS identical_all_found
        FROM u a JOIN u b ON b.doc_id > a.doc_id AND md5(a.text) = md5(b.text)""")),

    // ----------------------------------------------------------------
    // q35: exact ANN — brute-force cosine top-10 for 5 query vectors
    // (query side broadcast; big side streams through one scan).
    "q35_ann_cosine" -> QueryDef(
      fn = (s, d) => {
        val e = embs(s, d)
        Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding")
          .orderBy("q_id", "rn")
      },
      oracle = Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                   WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
        q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
        c AS (SELECT vec_id AS c_id, v AS cv FROM e),
        s AS (SELECT q_id, c_id,
                ROUND(list_dot_product(qv, cv) /
                      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos
              FROM q CROSS JOIN c WHERE c_id <> q_id),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn FROM s)
        SELECT q_id, c_id, cos, CAST(rn AS INTEGER) AS rn FROM r WHERE rn <= 10
        ORDER BY q_id, rn""")),

    // ----------------------------------------------------------------
    // q36: text quality profile — single narrow projection, stays in
    // WholeStageCodegen, no shuffle.
    "q36_text_quality" -> QueryDef(
      fn = (s, d) =>
        TextAnalysis.qualityProfile(docs(s, d), "text", "doc_id").orderBy("doc_id"),
      oracle = Some("""
        SELECT doc_id,
               CAST(length(text) AS INTEGER) AS n_chars_calc,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
               ROUND(CAST(len(list_filter(string_split(text, ' '),
                 t -> t IN ('the', 'a', 'an', 'of', 'to', 'and', 'in', 'is', 'it', 'for'))) AS DOUBLE) /
                 len(string_split(text, ' ')), 6) AS stop_ratio,
               ROUND(CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS DOUBLE) /
                 len(string_split(text, ' ')), 4) AS mean_token_len
        FROM documents ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // q37: heuristic language ID (stopword-list argmax, pinned
    // precedence), aggregated to predicted-language counts.
    "q37_langid" -> QueryDef(
      fn = (s, d) =>
        TextAnalysis.withLangId(docs(s, d), "text")
          .groupBy("lang_pred").agg(count(lit(1)).as("cnt"))
          .orderBy("lang_pred"),
      oracle = Some("""
        WITH s AS (SELECT
            len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to'))) AS s_en,
            len(list_filter(string_split(text, ' '), t -> t IN ('el','la','de','y','que'))) AS s_es,
            len(list_filter(string_split(text, ' '), t -> t IN ('le','la','et','les','des'))) AS s_fr,
            len(list_filter(string_split(text, ' '), t -> t IN ('der','die','und','das','ein'))) AS s_de
          FROM documents),
        p AS (SELECT CASE
                WHEN s_en >= greatest(s_en, s_es, s_fr, s_de) AND s_en > 0 THEN 'en'
                WHEN s_es >= greatest(s_en, s_es, s_fr, s_de) AND s_es > 0 THEN 'es'
                WHEN s_fr >= greatest(s_en, s_es, s_fr, s_de) AND s_fr > 0 THEN 'fr'
                WHEN s_de >= greatest(s_en, s_es, s_fr, s_de) AND s_de > 0 THEN 'de'
                ELSE 'und' END AS lang_pred
              FROM s)
        SELECT lang_pred, CAST(COUNT(*) AS BIGINT) AS cnt FROM p
        GROUP BY lang_pred ORDER BY lang_pred""")),

    // ----------------------------------------------------------------
    // q38: token counting — whitespace vs regex ([a-z]+|[0-9]+) tokenizers.
    "q38_token_count" -> QueryDef(
      fn = (s, d) =>
        docs(s, d).select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).as("ws_tokens"),
          size(TextAnalysis.regexTokens(col("text"))).as("re_tokens"))
          .orderBy("doc_id"),
      oracle = Some("""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INTEGER) AS re_tokens
        FROM documents ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // q39: prefix fingerprint dedup groups (first-5-token md5).
    "q39_fingerprint" -> QueryDef(
      fn = (s, d) =>
        docs(s, d)
          .groupBy(TextAnalysis.prefixFingerprint("text").as("fp"))
          .agg(count(lit(1)).as("cnt"), min("doc_id").as("keep_id"))
          .orderBy("fp"),
      oracle = Some("""
        SELECT md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS fp,
               CAST(COUNT(*) AS BIGINT) AS cnt, MIN(doc_id) AS keep_id
        FROM documents GROUP BY 1 ORDER BY fp""")),

    // ----------------------------------------------------------------
    // q42: multimodal binary plumbing — opaque bytes + typed metadata
    // (mime, byte length, sha256 digest).
    "q42_multimodal_meta" -> QueryDef(
      fn = (s, d) =>
        Multimodal.binarize(docs(s, d), "doc_id", "text", mime = "text/plain")
          .select(col("doc_id"), col("media_meta.n_bytes").as("n_bytes"),
            col("media_meta.sha256").as("sha256"))
          .orderBy("doc_id"),
      oracle = Some("""
        SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
               sha256(text) AS sha256
        FROM documents ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // q43: stubbed decode/feature-extract via mapPartitions (per-partition
    // codec init; deterministic fake features — see Multimodal.FakeCodec).
    // Oracled: the fake features are byte[(i*31) mod len]/255, so the
    // original bytes are exactly recoverable (round(x*255)) and their
    // integer sum is SQL-expressible over the ASCII payload with ord();
    // feature_dim pins the UDF's batch shape.
    "q43_multimodal_decode" -> QueryDef(
      fn = (s, d) => {
        val bin = Multimodal.binarize(docs(s, d), "doc_id", "text")
        Multimodal.decodeFeatures(bin, "doc_id", "bytes")
          .select(col("doc_id"),
            expr("aggregate(features, 0L, (acc, x) -> acc + CAST(round(x * 255.0) AS BIGINT))")
              .as("byte_sum"),
            size(col("features")).as("feature_dim"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
               CAST(list_sum(list_transform(range(0, 8),
                 i -> ord(substring(text, ((i * 31) % length(text)) + 1, 1)))) AS BIGINT) AS byte_sum,
               8 AS feature_dim
        FROM documents ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // q44: LSH-bucketed ANN (seeded random projections, re-scored) — the
    // scale path of q35. The seeded hyperplanes make the neighbor lists
    // DuckDB-irreproducible, so (round-5) the query emits the ANN run's
    // oracle-checkable CONTRACT against the exact tier instead of the
    // lists themselves: both the LSH and the brute-force top-k EXECUTE
    // on the same geometry, and the output row pins
    //   n_queries        every vector queried (count parity with DuckDB)
    //   k                the requested depth
    //   rows_le_k        no query emits more than k neighbors
    //   ann_never_beats_exact  per query, the ANN best cosine ≤ the
    //                    exact best (ANN re-scores a candidate SUBSET
    //                    with identical rounding, so a violation means
    //                    a scoring bug, not a recall miss)
    //   mean_recall_ok   recall@5 vs exact averaged over all queries
    //                    ≥ 0.6 (measured 0.77–0.79 at sf0.001–10×;
    //                    bound leaves seed/data margin)
    // The neighbor lists themselves stay pinned in SessionIvfSpec.
    "q44_ann_lsh" -> QueryDef(
      fn = (s, d) => {
        val c500 = embs(s, d).filter(col("vec_id") < 500)
        val ann = Similarity.lshTopK(c500, "vec_id", "embedding", k = 5)
          .localCheckpoint(true) // feeds 3 aggregates below; don't re-run LSH per leg
        val exact = Similarity.bruteForceTopK(c500, c500, "vec_id", "embedding", k = 5)
          .localCheckpoint(true)
        annContract(ann, exact, k = 5, minMeanRecall = 0.6)
      },
      oracle = Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, 5 AS k, TRUE AS rows_le_k,
               TRUE AS ann_never_beats_exact, TRUE AS mean_recall_ok
        FROM embeddings WHERE vec_id < 500
          AND list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0""")),

    // ----------------------------------------------------------------
    // q46: IVF ANN (k-means cells + nprobe probing + exact re-score) —
    // the third similarity-search tier next to q35 (exact) and q44 (LSH).
    // Same round-5 contract shape as q44: seeded k-means cells make the
    // lists DuckDB-irreproducible, so the query emits the recall/bound
    // contract vs the exact tier (measured mean recall 0.68–0.98 at
    // sf0.001–10× with nprobe=6; 0.55 bound leaves margin). 50 queries
    // against the full corpus; lists pinned in SessionIvfSpec.
    "q46_ann_ivf" -> QueryDef(
      fn = (s, d) => {
        val e = embs(s, d)
        val q = e.filter(col("vec_id") < 50)
        val ann = Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 10, nprobe = 6)
          .localCheckpoint(true)
        val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
          .localCheckpoint(true)
        annContract(ann, exact, k = 10, minMeanRecall = 0.55)
      },
      oracle = Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, 10 AS k, TRUE AS rows_le_k,
               TRUE AS ann_never_beats_exact, TRUE AS mean_recall_ok
        FROM embeddings WHERE vec_id < 50
          AND list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0""")),

    // ----------------------------------------------------------------
    // q107: IVF-PQ ANN (round 8) — the fourth similarity tier: coarse
    // IVF routing + product-quantization codes + ADC scoring + bounded
    // exact refine (Jégou/Douze/Schmid IVFADC). The candidate scan
    // touches only the ~26-byte code rows; exact vectors are fetched for
    // refine*k survivors per query — the shape where [[ivfTopK]]'s
    // per-cell vector re-scan would dominate at 100 TB. Same contract
    // row as q44/q46 (seeded fits make lists DuckDB-irreproducible).
    //
    // Round 15: MULTI-ASSIGNMENT (assign=2 — each vector indexed in its
    // two nearest cells, serving dedups candidates at their best ADC).
    // The round-15 recall decomposition (BASELINE.md) showed the recall
    // loss was entirely boundary vectors in unprobed cells (refine=64
    // moved nothing, nprobe=16 hit 0.99), so replication is the lever — measured
    // mean recall@10 at (nprobe=6, refine=8): 0.88-1.00 across
    // sf0.001/0.01/0.1/100x, up from 0.70-0.74 single-assigned at the
    // SAME probed cell fraction. Floor raised 0.5 -> 0.75 accordingly.
    // Exhaustive-probe == brute-force equality (with duplicates
    // deduped) and the code ranges are pinned in SessionIvfSpec.
    "q107_ann_ivfpq" -> QueryDef(
      fn = (s, d) => {
        val e = embs(s, d)
        val q = e.filter(col("vec_id") < 50)
        // brute-force reference leg is independent of the index
        // build+serve leg — overlap them (guide §2.6)
        val (ann, exact) = FitPool.legs(s) { scope =>
          val exactLeg = scope.fork {
            Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
              .localCheckpoint(true)
          }
          val idx = Similarity.pqIndex(e, "vec_id", "embedding",
            nlist = 16, m = 16, ksub = 32, seed = 42L, assign = 2)
          (Similarity.ivfPqTopK(idx, e, q, "vec_id", "embedding",
              k = 10, nprobe = 6, refine = 8)
            .localCheckpoint(true), exactLeg.join())
        }
        annContract(ann, exact, k = 10, minMeanRecall = 0.75)
      },
      oracle = Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, 10 AS k, TRUE AS rows_le_k,
               TRUE AS ann_never_beats_exact, TRUE AS mean_recall_ok
        FROM embeddings WHERE vec_id < 50
          AND list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0""")),

    // ----------------------------------------------------------------
    // q110: IVF-PQ over the TWO-LEVEL coarse quantizer (round 9) — the
    // tier that breaks the nlist scale ceiling: 4096 cells from two
    // bounded Lloyd fits (level 2 trained on level-1 residuals, shared
    // across supers — the residual variant of the inverted multi-index,
    // Babenko/Lempitsky CVPR 2012), two-stage beam probing, no
    // nlist-sized literal or broadcast anywhere. nprobe keeps q107's
    // probed-corpus fraction (1536/4096 = 6/16 = 37.5%); recall@10 vs
    // exact measured 0.86-1.00 at sf0.001/0.01/0.1/100× (SURVEY.md §7) —
    // finer cells IMPROVE recall at fixed probe fraction, so the same
    // 0.5 bound has more margin than q107's. Exhaustive-probe == brute
    // force at nlist=4096 pinned in SessionIvfSpec.
    "q110_ann_ivfpq_hier" -> QueryDef(
      fn = (s, d) => {
        val e = embs(s, d)
        val q = e.filter(col("vec_id") < 50)
        // brute-force reference leg overlapped with build+serve (§2.6)
        val (ann, exact) = FitPool.legs(s) { scope =>
          val exactLeg = scope.fork {
            Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
              .localCheckpoint(true)
          }
          (Similarity.ivfPqTopK(e, q, "vec_id", "embedding",
              k = 10, nlist = 4096, nprobe = 1536, m = 16, ksub = 32,
              refine = 8, seed = 42L)
            .localCheckpoint(true), exactLeg.join())
        }
        annContract(ann, exact, k = 10, minMeanRecall = 0.5)
      },
      oracle = Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, 10 AS k, TRUE AS rows_le_k,
               TRUE AS ann_never_beats_exact, TRUE AS mean_recall_ok
        FROM embeddings WHERE vec_id < 50
          AND list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0""")),

    // ----------------------------------------------------------------
    // q108: semantic dedup (SemDeDup, Abbas et al. 2023) — cluster-local
    // transitive collapse of semantically-equivalent embeddings to one
    // canonical survivor. Seeded cells make the keep/drop sets
    // DuckDB-irreproducible, so (q107 discipline) the row pins the
    // oracle-checkable contract on a clone-bearing corpus (e ∪ shifted):
    //   n_docs              count parity with DuckDB (nonzero-norm ×2)
    //   drops_happened      clone pairs guarantee the collapse engaged
    //   dropped_witness_ok  every dropped doc's canonical is KEPT and
    //                       in the SAME cell
    //   kept_independent    no two kept docs in a cell still at
    //                       cos ≥ threshold (one survivor per component)
    // Exact-merge semantics and the budget guard pinned in SessionIvfSpec.
    "q108_semantic_dedup" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val e = embs(s, d).select(col("vec_id"), col("embedding"))
        val corpus = e.union(e.withColumn("vec_id", col("vec_id") + 10000000L))
        val out = Similarity.semanticDedup(corpus, "vec_id", "embedding",
          threshold = 0.9).localCheckpoint(true)
        val kept = out.filter(col("kept"))
        val nDocs = out.count()
        val nKept = kept.count()
        val witnessBad = out.filter(!col("kept"))
          .join(kept.select(col("vec_id").as("canonical"), col("cell").as("__kc")),
            Seq("canonical"), "left")
          .filter(col("__kc").isNull || col("__kc") =!= col("cell")).count()
        val keptVec = kept
          .join(corpus.select(col("vec_id"),
            Similarity.toDoubleArray(col("embedding")).as("__v")), Seq("vec_id"))
          .withColumn("__n", sqrt(Similarity.dot(col("__v"), col("__v"))))
        val ka = keptVec.select(col("cell"), col("vec_id").as("a_id"),
          col("__v").as("av"), col("__n").as("an"))
        val kb = keptVec.select(col("cell"), col("vec_id").as("b_id"),
          col("__v").as("bv"), col("__n").as("bn"))
        val keptEdges = ka.join(kb, Seq("cell")).filter(col("a_id") < col("b_id"))
          .filter(round(Similarity.dot(col("av"), col("bv")) /
            (col("an") * col("bn")), 6) >= 0.9).count()
        Seq((nDocs, nKept < nDocs, witnessBad == 0L, keptEdges == 0L))
          .toDF("n_docs", "drops_happened", "dropped_witness_ok", "kept_independent")
      },
      oracle = Some("""
        SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_docs, TRUE AS drops_happened,
               TRUE AS dropped_witness_ok, TRUE AS kept_independent
        FROM embeddings
        WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0""")),

    // ----------------------------------------------------------------
    // q111: INCREMENTAL semantic dedup (round 9) — SemDeDup as a
    // curation service: the corpus is decided once (semIndex: frozen
    // cells + per-doc keep/drop), then a clone shard with strictly
    // higher ids gets first-in-wins decisions against the index,
    // O(shard-touched cells) with the corpus never re-clustered. The
    // row pins the family's EXACT equivalence contract (ordered
    // bridge-free arrival — exact clones can never bridge):
    //   n_docs          count parity with DuckDB (nonzero-norm corpus
    //                   + nonzero-norm every-3rd shard)
    //   incr_eq_batch   folded incremental (id, cell, canonical, kept)
    //                   rows == one batch semanticDedup over the union
    //   clones_dropped  every exact clone of an existing doc dropped
    //   witness_ok      every dropped shard doc's canonical is kept,
    //                   in the same cell
    // Bridge first-in-wins semantics + the budget guard pinned in
    // SemDedupIncSpec.
    "q111_semantic_dedup_inc" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val e = embs(s, d).select(col("vec_id"), col("embedding"))
        val shard = e.filter(col("vec_id") % 3 === 0)
          .withColumn("vec_id", col("vec_id") + 10000000L)
        val built = Similarity.semIndex(e, "vec_id", "embedding", threshold = 0.9)
        val idx0 = built.copy(docs = built.docs.localCheckpoint(true))
        // incremental-fold leg and batch-over-union leg are independent
        // past the shared frozen index — overlap them (guide §2.6); the
        // equality compare and the emitted row read both legs' staged
        // results exactly as the sequential form did
        val (folded, witnessBad, decKept, batch) = FitPool.legs(s) { scope =>
          // the comparator quantizes with the INDEX's nlist: the
          // incremental path uses the frozen model, and auto-nlist would
          // resolve differently on the larger union at scale
          val batchLeg = scope.fork {
            Similarity.semanticDedup(e.union(shard), "vec_id",
                "embedding", threshold = 0.9, nlist = idx0.coarse.nlist)
              .select(col("vec_id").as("id"), col("cell"), col("canonical"), col("kept"))
              .localCheckpoint(true)
          }
          val dec = Similarity.semanticDedupIncremental(shard, "embedding", idx0)
            .localCheckpoint(true)
          val folded = idx0.union(dec).docs
            .select(col("id"), col("cell"), col("canonical"), col("kept"))
            .localCheckpoint(true)
          val kept = folded.filter(col("kept"))
          val witnessBad = dec.filter(!col("kept"))
            .select(col("id"), col("cell"), col("canonical"))
            .join(kept.select(col("id").as("canonical"), col("cell").as("__kc")),
              Seq("canonical"), "left")
            .filter(col("__kc").isNull || col("__kc") =!= col("cell")).count()
          (folded, witnessBad, dec.filter(col("kept")).count(), batchLeg.join())
        }
        val eq = QueryDef.sameMultiset(folded, batch)
        Seq((folded.count(), eq, decKept == 0L, witnessBad == 0L))
          .toDF("n_docs", "incr_eq_batch", "clones_dropped", "witness_ok")
      },
      oracle = Some("""
        SELECT CAST((SELECT COUNT(*) FROM embeddings
                     WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0)
                  + (SELECT COUNT(*) FROM embeddings
                     WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0
                       AND vec_id % 3 = 0) AS BIGINT) AS n_docs,
               TRUE AS incr_eq_batch, TRUE AS clones_dropped, TRUE AS witness_ok""")),

    // ----------------------------------------------------------------
    // q112: TOMBSTONE DELETION + COMPACTION lifecycle (round 10) — the
    // deletion seam of the persisted index families as ONE hashed
    // contract row, q101/q104 style. Inside the query: persist a MinHash
    // corpus index and an IVF-PQ serving index, tombstone a
    // DETERMINISTIC id set (every 8th id — DuckDB derives the same set),
    // then pin, per family:
    //   n_corpus_live        shingle rows after compaction == corpus
    //                        docs minus the deleted set (physical
    //                        deletion is exact; DuckDB count)
    //   n_codes_live         PQ code rows after compaction == nonzero-
    //                        norm vectors minus the deleted set
    //   pairs_eq_rebuild     incremental mining through the tombstone-
    //                        filtered load == mining against an index
    //                        REBUILT without the dead docs (logical
    //                        delete is exact), AND unchanged by the
    //                        physical compaction
    //   deleted_invisible    no emitted pair touches a dead id
    //   ann_eq_filtered      top-k serving through the tombstoned load
    //                        == serving with the codes filtered
    //                        manually (deletes re-RANK, not just drop
    //                        rows), AND identical after compaction
    //   ann_deleted_invisible no served neighbor is a dead id
    //   tombstones_cleared   both families' tombstone sets are gone
    //                        after compact (the set is reset, so the
    //                        broadcast budget restarts from zero)
    // Compaction buckets come from the family meta (no caller-supplied
    // layout); crash recovery + the broadcast budget guard are
    // spec-pinned (TombstoneSpec).
    "q112_tombstone_lifecycle" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        resetFamily(s, "q112mh")
        resetFamily(s, "q112pq")
        def sameSet(a: org.apache.spark.sql.DataFrame,
                    b: org.apache.spark.sql.DataFrame): Boolean =
          QueryDef.sameMultiset(a, b) // one action per compare (round 16)
        // The two family lifecycles (MinHash corpus index, IVF-PQ serving
        // index) touch disjoint tables/prefixes and share no state — run
        // them as two concurrent driver threads (guide §2.6: overlap
        // independent jobs) so each leg's stragglers back-fill the other's
        // idle cores. Statement ORDER within each leg is unchanged; the
        // emitted row is the same pure function of both legs' results.
        val ((nCorpusLive, pairsEq, deadPairs, mhCleared),
             (nCodesLive, annEq, annDead, pqCleared)) = FitPool.legs(s) { scope =>
          val pqLeg = scope.fork {
            val e = embs(s, d).select(col("vec_id"), col("embedding"))
            Similarity.savePqIndex(Similarity.pqIndex(e, "vec_id", "embedding",
              nlist = 16, m = 8, ksub = 16, seed = 42L), "q112pq", buckets = 8)
            val q = e.filter(col("vec_id") < 30)
            Tombstones.add(e.filter(col("vec_id") % 8 === 0).select("vec_id"),
              "vec_id", "q112pq")
            val loaded = Similarity.loadPqIndex(s, "q112pq")
            val served = Similarity.ivfPqTopK(loaded, e, q, "vec_id", "embedding",
                k = 5, nprobe = 8, refine = 8).localCheckpoint(true)
            val annDead = served.filter(col("c_id") % 8 === 0).count()
            // the strongest falsifier: serving through the tombstoned load
            // must equal serving with the codes filtered by the same
            // data-derived predicate — re-ranked, not just row-dropped
            val manual = loaded.copy(codes =
              s.table("q112pq_codes").filter(pmod(col("c_id"), lit(8)) =!= 0))
            val expect = Similarity.ivfPqTopK(manual, e, q, "vec_id", "embedding",
                k = 5, nprobe = 8, refine = 8).localCheckpoint(true)
            Tombstones.compactPq(s, "q112pq") // buckets from family meta
            val reServed = Similarity.ivfPqTopK(Similarity.loadPqIndex(s, "q112pq"),
                e, q, "vec_id", "embedding", k = 5, nprobe = 8, refine = 8)
              .localCheckpoint(true)
            val annEq = sameSet(served, expect) && sameSet(reServed, served)
            val pqCleared = !s.catalog.tableExists("q112pq_tombstones")
            val nCodesLive = s.table("q112pq_codes").count()
            (nCodesLive, annEq, annDead, pqCleared)
          }
          val docsDf = docs(s, d).select(col("doc_id"), col("text"))
          val corpus = docsDf.filter(col("doc_id") % 4 === 0)
          // ingestion-shaped shard (q101's ratio): a batch is small relative
          // to the corpus — the three mining legs pay O(shard), keeping the
          // query's cost where it belongs (family build + compaction)
          val shard = docsDf.filter(col("doc_id") % 40 === 1)
          Dedup.saveMinhashIndex(Dedup.minhashIndex(corpus, "doc_id", "text"),
            "q112mh", buckets = 8)
          val sIdx = Dedup.minhashIndex(shard, "doc_id", "text", spread = false)
          Tombstones.add(corpus.filter(col("doc_id") % 8 === 0).select("doc_id"),
            "doc_id", "q112mh")
          val logical = Dedup.minhashLshPairsIncremental(sIdx,
              Dedup.loadMinhashIndex(s, "q112mh"), threshold = 0.8)
            .select("a_id", "b_id", "jaccard").localCheckpoint(true)
          val rebuilt = Dedup.minhashLshPairsIncremental(sIdx,
              Dedup.minhashIndex(corpus.filter(col("doc_id") % 8 =!= 0),
                "doc_id", "text"), threshold = 0.8)
            .select("a_id", "b_id", "jaccard").localCheckpoint(true)
          val deadPairs = logical
            .filter(col("a_id") % 8 === 0 || col("b_id") % 8 === 0).count()
          Tombstones.compactMinhash(s, "q112mh") // buckets from family meta
          val physical = Dedup.minhashLshPairsIncremental(sIdx,
              Dedup.loadMinhashIndex(s, "q112mh"), threshold = 0.8)
            .select("a_id", "b_id", "jaccard").localCheckpoint(true)
          val pairsEq = sameSet(logical, rebuilt) && sameSet(physical, logical)
          val mhCleared = !s.catalog.tableExists("q112mh_tombstones")
          val nCorpusLive = s.table("q112mh_shingles").count()
          ((nCorpusLive, pairsEq, deadPairs, mhCleared), pqLeg.join())
        }
        Seq((nCorpusLive, nCodesLive, pairsEq, deadPairs == 0L, annEq,
            annDead == 0L, mhCleared && pqCleared))
          .toDF("n_corpus_live", "n_codes_live", "pairs_eq_rebuild",
            "deleted_invisible", "ann_eq_filtered", "ann_deleted_invisible",
            "tombstones_cleared")
      },
      oracle = Some("""
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
            WHERE doc_id % 4 = 0 AND doc_id % 8 <> 0) AS n_corpus_live,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
            WHERE vec_id % 8 <> 0
              AND list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0) AS n_codes_live,
          TRUE AS pairs_eq_rebuild, TRUE AS deleted_invisible,
          TRUE AS ann_eq_filtered, TRUE AS ann_deleted_invisible,
          TRUE AS tombstones_cleared""")),

    // ----------------------------------------------------------------
    // q114: JSONL lifecycle (round 10) — the corpus-interchange format a
    // real LLM pipeline ships between stages (crawl dumps / filtered
    // shards are JSONL), exercised end-to-end INSIDE the hashed query
    // (the q99 discipline, on documents): the corpus is written as gzip
    // JSONL (one object per line, one file per partition — the 100 TB
    // shard shape), re-read with an EXPLICIT schema (no inference pass),
    // and profiled per source; the oracle computes the same profile from
    // the parquet table directly, so any escaping/encoding/truncation
    // corruption in the round trip flips the hash. n_distinct pins the
    // text content exactly (distinct md5), sum_id the id column,
    // n_tokens/n_chars the text body.
    "q114_jsonl_lifecycle" -> QueryDef(
      fn = (s, d) => {
        import org.apache.spark.sql.types._
        val df = docs(s, d).select(col("doc_id"), col("source"), col("text"))
        val sink = java.nio.file.Files.createTempDirectory("q114_jsonl").toString + "/docs"
        graft.operators.Jsonl.write(df, sink)
        val schema = StructType(Seq(StructField("doc_id", LongType),
          StructField("source", StringType), StructField("text", StringType)))
        val back = graft.operators.Jsonl.read(s, sink, schema)
        back.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_id"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          sum(length(col("text")).cast("long")).as("n_chars"),
          countDistinct(md5(col("text"))).as("n_distinct"))
          .orderBy("source")
      },
      oracle = Some("""
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS sum_id,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
               CAST(SUM(length(text)) AS BIGINT) AS n_chars,
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct
        FROM documents GROUP BY source ORDER BY source""")),

    // ----------------------------------------------------------------
    // q115: overlapping token-window chunking (round 10) — the standard
    // pre-embedding step (docs → windows → embed → q90 pools back).
    // 32-token windows, 8-token overlap (stride 24), last window
    // RIGHT-ALIGNED at the tail so every token is covered and no chunk
    // exceeds the window; chunk count and starts are exact integer
    // arithmetic, so DuckDB reproduces the full (idx, size, text) set
    // row for row. One posexplode is the only generator — the per-row
    // O(chunks) projection shape that survives a corpus scan.
    "q115_chunking" -> QueryDef(
      fn = (s, d) =>
        TextAnalysis.chunkTokens(docs(s, d), "doc_id", "text",
            window = 32, overlap = 8)
          .orderBy("doc_id", "chunk_idx"),
      oracle = Some("""
        WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks,
                           len(string_split(text, ' ')) AS m FROM documents),
        c AS (SELECT doc_id, toks, m,
                     1 + (greatest(m - 32, 0) + 23) // 24 AS n FROM tk),
        s AS (SELECT doc_id, toks, m, unnest(range(0, n)) AS k FROM c),
        w AS (SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
                     least(1 + k * 24, greatest(m - 31, 1)) AS st, toks, m FROM s)
        SELECT doc_id, chunk_idx,
               CAST(least(32, m - st + 1) AS INTEGER) AS n_tokens,
               array_to_string(toks[st:st+31], ' ') AS chunk_text
        FROM w ORDER BY doc_id, chunk_idx""")),

    // ----------------------------------------------------------------
    // q47: batch sessionization — lag + cumulative-sum session ids, the
    // engine-portable formulation (native session_window equivalence is
    // pinned in ScalaTest). 30-minute inactivity gap over epoch nanos.
    "q47_sessionize" -> QueryDef(
      fn = (s, d) => {
        // Sessionize at MICROsecond resolution: DuckDB's parquet reader may
        // truncate TIMESTAMP(NANOS) to micros, so both the gap comparisons
        // and the emitted start/end must be micros to hash-match under
        // either DuckDB behavior (ns-capable or truncating read).
        val gapUs = 1800000000L // 30 min in micros
        graft.operators.Sessionize.manualSessions(
            Tables(s, d, "events").withColumn("ts_us", expr("ts div 1000")),
            "user_id", "ts_us", "event_id", gapUs)
          .groupBy("user_id", "sess_id")
          .agg(count(lit(1)).as("n_events"),
            min("ts_us").as("sess_start"), max("ts_us").as("sess_end"),
            QueryDef.dsum(col("value")).as("sum_value"))
          .select(col("user_id"), col("sess_id"), col("n_events"),
            col("sess_start"), col("sess_end"), col("sum_value"))
          .orderBy("user_id", "sess_id")
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tsn, value FROM events),
        m AS (SELECT *, CASE WHEN tsn - LAG(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) > 1800000000
                              OR LAG(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) IS NULL
                             THEN 1 ELSE 0 END AS new_sess FROM e),
        s AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tsn, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM m)
        SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               MIN(tsn) AS sess_start, MAX(tsn) AS sess_end,
               CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) / 100 AS sum_value
        FROM s GROUP BY user_id, sess_id ORDER BY user_id, sess_id""")),

    // ----------------------------------------------------------------
    // q66: frame-sampling analog (Multimodal.sampleChunks) — slice each
    // binary payload into 4 evenly spaced chunks (as a video frame
    // sampler would) and fingerprint each; pure expression, stays in
    // codegen. ASCII payloads make byte offsets == char offsets, so the
    // oracle mirrors with substring + sha256 over the text.
    "q66_frame_sample" -> QueryDef(
      fn = (s, d) => {
        val bin = Multimodal.binarize(docs(s, d), "doc_id", "text")
        Multimodal.sampleChunks(bin, "doc_id", "bytes", n = 4)
          .orderBy("doc_id", "chunk_idx")
      },
      oracle = Some("""
        SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
               sha256(substring(text, ((i * length(text)) // 4) + 1,
                                greatest(length(text) // 4, 1))) AS chunk_sha
        FROM documents CROSS JOIN (SELECT unnest(range(0, 4)) AS i) ix
        ORDER BY doc_id, chunk_idx""")),

    // ----------------------------------------------------------------
    // q67: corpus bigram frequency — ngrams with multiplicity, hash
    // aggregate, top-20 with ties (A6/A7 shape on text). The explode is
    // the only wide edge; counting is map-side combinable.
    "q67_ngram_freq" -> QueryDef(
      fn = (s, d) => {
        val grams = docs(s, d)
          .withColumn("__toks", split(col("text"), " "))
          .select(explode(TextAnalysis.ngramExpr("__toks", 2)).as("ngram"))
          .groupBy("ngram").agg(count(lit(1)).as("cnt"))
        graft.operators.Cleaning.topNWithTies(grams, "cnt", 20)
          .orderBy(desc("cnt"), asc("ngram"))
      },
      oracle = Some("""
        WITH toks AS (SELECT string_split(text, ' ') AS s FROM documents),
        grams AS (SELECT unnest(list_transform(range(1, len(s)),
                    i -> s[i] || ' ' || s[i+1])) AS ngram FROM toks),
        c AS (SELECT ngram, COUNT(*) AS cnt FROM grams GROUP BY ngram),
        r AS (SELECT *, RANK() OVER (ORDER BY cnt DESC) AS rk FROM c)
        SELECT ngram, CAST(cnt AS BIGINT) AS cnt FROM r WHERE rk <= 20
        ORDER BY cnt DESC, ngram""")),

    // ----------------------------------------------------------------
    // q68: TF-IDF top-5 terms per document — the DataFrame-algebra
    // formulation (no HashingTF vectors): doc-term counts, term document
    // frequency, smooth idf, per-doc top-k. Ranking runs on the rounded
    // score so a 1-ulp ln() difference between engines cannot reorder.
    "q68_tfidf" -> QueryDef(
      fn = (s, d) => {
        val base = docs(s, d)
        val n = base.count()
        val scored = TextAnalysis.tfIdf(base, "doc_id", "text", n)
        val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("term"))
        scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
          .select(col("doc_id"), col("rn").cast("int").as("rn"),
            col("term"), col("tf"), col("score"))
          .orderBy("doc_id", "rn")
      },
      oracle = Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
        dfreq AS (SELECT term, COUNT(*) AS dft FROM tf GROUP BY term),
        n AS (SELECT COUNT(*) AS nd FROM documents),
        sc AS (SELECT tf.doc_id, tf.term, tf.tf,
                 ROUND(tf.tf * (ln(CAST(n.nd + 1 AS DOUBLE) / (dfreq.dft + 1)) + 1.0), 6) AS score
               FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM sc)
        SELECT doc_id, CAST(rn AS INTEGER) AS rn, term, CAST(tf AS BIGINT) AS tf, score
        FROM r WHERE rn <= 5 ORDER BY doc_id, rn""")),

    // ----------------------------------------------------------------
    // q70: BM25 top-3 terms per document (k1=1.2, b=0.75) — the
    // retrieval-grade term scorer over the same two-aggregation shape as
    // q68; avgdl comes from one broadcast 1-row frame of exact sums.
    "q70_bm25" -> QueryDef(
      fn = (s, d) => {
        val base = docs(s, d)
        val n = base.count()
        val scored = TextAnalysis.bm25(base, "doc_id", "text", n)
        val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("term"))
        scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
          .select(col("doc_id"), col("rn").cast("int").as("rn"),
            col("term"), col("tf"), col("score"))
          .orderBy("doc_id", "rn")
      },
      oracle = Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
        dfreq AS (SELECT term, COUNT(*) AS dft FROM tf GROUP BY term),
        n AS (SELECT COUNT(*) AS nd, CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avgdl
              FROM documents),
        sc AS (SELECT tf.doc_id, tf.term, tf.tf,
                 ROUND(ln(((CAST(n.nd - dfreq.dft AS DOUBLE) + 0.5) / (dfreq.dft + 0.5)) + 1.0) *
                       ((tf.tf * (1.2 + 1.0)) / (tf.tf + (1.2 * ((1.0 - 0.75) + ((0.75 * dl.dl) / n.avgdl))))), 6) AS score
               FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN n),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM sc)
        SELECT doc_id, CAST(rn AS INTEGER) AS rn, term, CAST(tf AS BIGINT) AS tf, score
        FROM r WHERE rn <= 3 ORDER BY doc_id, rn""")),

    // ----------------------------------------------------------------
    // q71: corpus curation — the composite flow a 100-TB training-data
    // job actually runs, as ONE declarative plan: normalized-fingerprint
    // exact dedup (keep min id) → quality gate (length + lexical
    // diversity) → language gate (en) → deterministic multiplicative-hash
    // sample (~50%). Every stage is an expression; one window + one hash
    // aggregate are the only wide edges.
    "q71_corpus_curation" -> QueryDef(
      fn = (s, d) => {
        val base = TextAnalysis.withLangId(
          docs(s, d)
            .withColumn("fp", TextAnalysis.normalizedFingerprint("text"))
            .withColumn("n_tokens", size(TextAnalysis.tokens(col("text"))))
            .withColumn("n_distinct", size(array_distinct(TextAnalysis.tokens(col("text"))))),
          "text")
        val w = Window.partitionBy("fp")
        base.withColumn("keep_id", min("doc_id").over(w))
          .filter(col("doc_id") === col("keep_id"))
          .filter(col("n_tokens") >= 20 &&
            col("n_distinct").cast("double") / col("n_tokens") >= 0.3)
          .filter(col("lang_pred") === "en")
          .filter((col("doc_id") * lit(2654435761L)) % lit(4294967296L) < lit(2147483648L))
          .select(col("doc_id"), col("fp"), col("n_tokens"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH base AS (
          SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
                 len(string_split(text, ' ')) AS n_tokens,
                 len(list_distinct(string_split(text, ' '))) AS n_distinct,
                 len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to'))) AS s_en,
                 len(list_filter(string_split(text, ' '), t -> t IN ('el','la','de','y','que'))) AS s_es,
                 len(list_filter(string_split(text, ' '), t -> t IN ('le','la','et','les','des'))) AS s_fr,
                 len(list_filter(string_split(text, ' '), t -> t IN ('der','die','und','das','ein'))) AS s_de
          FROM documents),
        lang AS (SELECT *, CASE
                   WHEN s_en >= greatest(s_en, s_es, s_fr, s_de) AND s_en > 0 THEN 'en'
                   WHEN s_es >= greatest(s_en, s_es, s_fr, s_de) AND s_es > 0 THEN 'es'
                   WHEN s_fr >= greatest(s_en, s_es, s_fr, s_de) AND s_fr > 0 THEN 'fr'
                   WHEN s_de >= greatest(s_en, s_es, s_fr, s_de) AND s_de > 0 THEN 'de'
                   ELSE 'und' END AS lang_pred
                 FROM base),
        dedup AS (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS keep_id FROM lang)
        SELECT doc_id, fp, CAST(n_tokens AS INTEGER) AS n_tokens
        FROM dedup
        WHERE doc_id = keep_id
          AND n_tokens >= 20 AND CAST(n_distinct AS DOUBLE) / n_tokens >= 0.3
          AND lang_pred = 'en'
          AND ((doc_id * 2654435761) % 4294967296) < 2147483648
        ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // q73: multimodal resize stub — stride-resample each payload to a
    // fixed 16-wide byte vector (thumbnail analog; Multimodal.resizeBytes),
    // emitted as a comma-joined signature so the compare is scalar.
    "q73_multimodal_resize" -> QueryDef(
      fn = (s, d) => {
        val bin = Multimodal.binarize(docs(s, d), "doc_id", "text")
        Multimodal.resizeBytes(bin, "doc_id", "bytes", target = 16)
          .select(col("doc_id"),
            concat_ws(",", expr("transform(resized, x -> CAST(x AS STRING))")).as("resized_sig"),
            size(col("resized")).as("width"))
          .orderBy("doc_id")
      },
      // common dialect (no list lambdas): the 16 sample positions as
      // explicit terms, each mapping one-to-one onto the Spark side
      oracle = Some(s"""
        WITH d AS (SELECT doc_id, text, length(text) AS L FROM documents)
        SELECT doc_id,
               concat_ws(',', ${(0 until 16).map(i =>
                 s"CAST(ascii(substring(text, (($i * L) // 16) + 1, 1)) AS STRING)")
                 .mkString(", ")}) AS resized_sig,
               16 AS width
        FROM d ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // q80: PII scrubbing (curation regex battery) — emails/IPv4s/phone
    // runs redacted in a fixed order, per-pattern counts over the
    // original text. The docs corpus carries no PII, so both engines
    // append the SAME deterministic PII fragment built from doc_id; the
    // scrub itself is pure regexp_replace, codegen'd, shuffle-free.
    "q80_pii_scrub" -> QueryDef(
      fn = (s, d) => {
        val aug = docs(s, d).select(col("doc_id"), expr(
          "text || ' contact user' || CAST(doc_id AS STRING) || " +
            "'@example.com from +14155550' || CAST(doc_id % 100 AS STRING) || " +
            "' at 10.0.' || CAST(doc_id % 256 AS STRING) || '.7'").as("t"))
        val counts = TextAnalysis.piiCounts(col("t"))
        aug.select(col("doc_id") +: (counts.map { case (n, c) => c.as(n) } :+
          md5(TextAnalysis.scrubPii(col("t"))).as("scrub_md5")): _*)
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH aug AS (SELECT doc_id,
            text || ' contact user' || CAST(doc_id AS VARCHAR) ||
            '@example.com from +14155550' || CAST(doc_id % 100 AS VARCHAR) ||
            ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
          CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ipv4,
          CAST(len(regexp_extract_all(t, '\+\d{7,15}')) AS INTEGER) AS n_phone,
          md5(regexp_replace(regexp_replace(regexp_replace(t,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
            '\+\d{7,15}', '<PHONE>', 'g')) AS scrub_md5
        FROM aug ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // q81: boilerplate line-dedup — drop repeated lines keeping the first
    // occurrence (header/footer removal in scraped pages). Docs are
    // single-line, so both engines build the same 3-line document (text,
    // text again, unique tail). One explode + two hash aggregates; the
    // reassembly is an ordered in-group fold, never O(lines^2).
    "q81_line_dedup" -> QueryDef(
      fn = (s, d) => {
        val aug = docs(s, d).select(col("doc_id"), expr(
          "text || char(10) || text || char(10) || 'tail marker ' || " +
            "CAST(doc_id AS STRING)").as("t"))
        TextAnalysis.dedupLines(aug, "doc_id", "t").orderBy("doc_id")
      },
      oracle = Some("""
        WITH aug AS (SELECT doc_id,
            text || chr(10) || text || chr(10) || 'tail marker ' || CAST(doc_id AS VARCHAR) AS t
          FROM documents),
        l AS (SELECT doc_id,
                unnest(string_split(t, chr(10))) AS line,
                unnest(range(1, len(string_split(t, chr(10))) + 1)) AS pos
              FROM aug),
        f AS (SELECT doc_id, line, MIN(pos) AS fpos, COUNT(*) AS occ
              FROM l GROUP BY doc_id, line)
        SELECT doc_id, CAST(SUM(occ) AS INTEGER) AS n_lines,
               CAST(COUNT(*) AS INTEGER) AS n_unique,
               md5(string_agg(line, chr(10) ORDER BY fpos)) AS dedup_md5
        FROM f GROUP BY doc_id ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // q45: embedding-cosine near-duplicate pairs through the BUCKETED
    // tier: sign-LSH banding prunes candidates, exact re-score keeps the
    // output identical to all-pairs (the oracle enumerates every pair, so
    // any recall miss is a hash mismatch). The corpus is unioned with an
    // id-shifted copy — the q33/q34 pattern — so true duplicate pairs
    // (cos = 1, which collide in every LSH table by construction) exist
    // at every scale. Threshold 0.9 is the near-dup regime where
    // bucketing genuinely prunes; sub-0.5 thresholds mean "most of the
    // sphere qualifies" and belong to the exact tier (cosineDupPairs,
    // measured: at 0.25 this data's qualifying radius admits no complete
    // pruning).
    "q45_embed_dup" -> QueryDef(
      fn = (s, d) => {
        val base = embs(s, d).filter(col("vec_id") < 1000)
          .select(col("vec_id"), col("embedding"))
        val shifted = base.withColumn("vec_id", col("vec_id") + 10000000L)
        Similarity.lshDupPairs(base.union(shifted), "vec_id", "embedding",
          threshold = 0.9, dim = 64)
          .orderBy("a_id", "b_id")
      },
      oracle = Some("""
        WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 1000
                    AND list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
        e AS (SELECT vec_id, v FROM e0 UNION ALL SELECT vec_id + 10000000, v FROM e0),
        p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                ROUND(list_dot_product(a.v, b.v) /
                      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
              FROM e a JOIN e b ON a.vec_id < b.vec_id)
        SELECT a_id, b_id, cos FROM p WHERE cos >= 0.9 ORDER BY a_id, b_id""")),

    // ----------------------------------------------------------------
    // q83: near-dup GROUPS — connected components over a verified
    // near-dup pair set, the step that turns pairwise similarity into
    // "keep one canonical doc per duplicate cluster". Transitivity is
    // exercised by construction: each doc gets two derived variants
    // (30% / 60% appended novel tokens, the 60% extending the 30% pad)
    // so orig~v1 and v1~v2 clear the 0.7 Jaccard threshold while
    // orig~v2 lands below it — the 3-node component only exists through
    // the chain. Edge generation is keyed by family (linear, no
    // all-pairs); the component operator is the general hash-min
    // propagation loop. The DuckDB oracle computes the FULLY GENERAL
    // closure via a recursive CTE, so any propagation bug — not just on
    // this graph shape — would hash-mismatch.
    "q83_dup_components" -> QueryDef(
      fn = (s, d) => {
        val base = docs(s, d).select(col("doc_id"), col("text"))
        def variant(mult: Int, shift: Long) = base.select(
          (col("doc_id") + shift).as("doc_id"),
          expr(s"""CASE WHEN size(split(text, ' ')) * $mult DIV 10 >= 1
                   THEN concat(text, ' ', concat_ws(' ',
                     transform(sequence(1, size(split(text, ' ')) * $mult DIV 10),
                               i -> concat('zq', i))))
                   ELSE text END""").as("text"))
        val corpus = base.union(variant(3, 1000000L)).union(variant(6, 2000000L))
        // stage the shingled corpus ONCE: both legs of the family
        // self-join read it, and without the checkpoint Spark recomputes
        // the variant build + split + shingling per leg (the classic
        // self-join recompute; at cluster scale this is the "write the
        // signature table before the pair join" step every dedup
        // pipeline performs anyway)
        val sh = corpus.withColumn("fam", col("doc_id") % 1000000L)
          .withColumn("toks", split(col("text"), " "))
          .withColumn("sh", Dedup.shingleExpr("toks"))
          .select(col("doc_id"), col("fam"), col("sh"))
          .localCheckpoint(true)
        val a = sh.select(col("doc_id").as("a_id"), col("fam"), col("sh").as("a_sh"))
        val b = sh.select(col("doc_id").as("b_id"), col("fam"), col("sh").as("b_sh"))
        val edges = a.join(b, Seq("fam")).filter(col("b_id") > col("a_id"))
          .filter(Dedup.jaccard(col("a_sh"), col("b_sh")) >= 0.7)
          .select("a_id", "b_id")
        val comps = Dedup.connectedComponents(edges, "a_id", "b_id")
        comps
          .withColumn("csize",
            count(lit(1)).over(Window.partitionBy("component")).cast("int"))
          .select(col("id").as("doc_id"), col("component"), col("csize"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH RECURSIVE base AS (
          SELECT doc_id, text, len(string_split(text, ' ')) AS m FROM documents),
        corpus AS (
          SELECT doc_id, text FROM base
          UNION ALL
          SELECT doc_id + 1000000,
                 CASE WHEN m * 3 // 10 >= 1 THEN text || ' ' ||
                   array_to_string(list_transform(range(1, m * 3 // 10 + 1), i -> 'zq' || i), ' ')
                 ELSE text END
          FROM base
          UNION ALL
          SELECT doc_id + 2000000,
                 CASE WHEN m * 6 // 10 >= 1 THEN text || ' ' ||
                   array_to_string(list_transform(range(1, m * 6 // 10 + 1), i -> 'zq' || i), ' ')
                 ELSE text END
          FROM base),
        sh AS (SELECT doc_id, doc_id % 1000000 AS fam,
                 list_distinct(list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS sh
               FROM corpus),
        pairs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM sh a JOIN sh b ON a.fam = b.fam AND b.doc_id > a.doc_id
          WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
                (len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) >= 0.7),
        edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
        reach AS (
          SELECT u AS id, u AS r FROM edges
          UNION
          SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u),
        cc AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
        SELECT id AS doc_id, component,
               CAST(COUNT(*) OVER (PARTITION BY component) AS INTEGER) AS csize
        FROM cc ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // q84: repetition profile — the Gopher repetitiousness battery
    // (dup-line fraction, dup-line char fraction, top-2-gram share,
    // repeated-3-gram share, combined gate). Docs are single-line, so
    // both engines build the same 3-line document with id-dependent
    // variation: every third doc repeats its body line; every doc gets a
    // distinct tail pair. All fractions are exact BIGINT ratios cast to
    // double — bit-identical, no rounding.
    "q84_repetition_profile" -> QueryDef(
      fn = (s, d) => {
        val aug = docs(s, d).select(col("doc_id"), expr(
          "concat(text, char(10), " +
            "CASE WHEN doc_id % 3 = 0 THEN text " +
            "ELSE concat('tail marker ', CAST(doc_id AS STRING)) END, " +
            "char(10), 'end ', CAST(doc_id % 7 AS STRING))").as("t"))
        TextAnalysis.repetitionProfile(aug, "doc_id", "t").orderBy("doc_id")
      },
      oracle = Some("""
        WITH aug AS (SELECT doc_id,
            text || chr(10) ||
            CASE WHEN doc_id % 3 = 0 THEN text
                 ELSE 'tail marker ' || CAST(doc_id AS VARCHAR) END ||
            chr(10) || 'end ' || CAST(doc_id % 7 AS VARCHAR) AS t
          FROM documents),
        lines AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS key FROM aug),
        lcnt AS (SELECT doc_id, key, COUNT(*) AS cnt FROM lines GROUP BY doc_id, key),
        lagg AS (SELECT doc_id, SUM(cnt) AS n_l, COUNT(*) AS u_l,
                        SUM(cnt * length(key)) AS lch,
                        SUM(CASE WHEN cnt >= 2 THEN cnt * length(key) ELSE 0 END) AS dlch
                 FROM lcnt GROUP BY doc_id),
        toks AS (SELECT doc_id, string_split(replace(t, chr(10), ' '), ' ') AS tk FROM aug),
        g2 AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(tk), 1)),
                 i -> tk[i] || ' ' || tk[i+1])) AS key FROM toks),
        g2c AS (SELECT doc_id, key, COUNT(*) AS cnt FROM g2 GROUP BY doc_id, key),
        g2a AS (SELECT doc_id, MAX(cnt) AS g2m, SUM(cnt) AS g2t FROM g2c GROUP BY doc_id),
        g3 AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS key FROM toks),
        g3c AS (SELECT doc_id, key, COUNT(*) AS cnt FROM g3 GROUP BY doc_id, key),
        g3a AS (SELECT doc_id, SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS g3r,
                       SUM(cnt) AS g3t FROM g3c GROUP BY doc_id),
        m AS (SELECT l.doc_id, CAST(n_l AS INTEGER) AS n_lines,
                     CAST(n_l - u_l AS DOUBLE) / n_l AS dup_line_frac,
                     CAST(dlch AS DOUBLE) / lch AS dup_line_char_frac,
                     coalesce(CAST(g2m AS DOUBLE) / g2t, 0) AS top_2gram_frac,
                     coalesce(CAST(g3r AS DOUBLE) / g3t, 0) AS rep_3gram_frac
              FROM lagg l LEFT JOIN g2a USING (doc_id) LEFT JOIN g3a USING (doc_id))
        SELECT doc_id, n_lines, dup_line_frac, dup_line_char_frac,
               top_2gram_frac, rep_3gram_frac,
               CAST(dup_line_frac <= 0.3 AND dup_line_char_frac <= 0.3 AND
                    top_2gram_frac <= 0.2 AND rep_3gram_frac <= 0.18 AS INTEGER) AS pass_gate
        FROM m ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // q85: benchmark decontamination — flag corpus docs sharing any word
    // 5-gram with the benchmark set (doc_id % 50 = 0 stands in for an
    // eval suite). Contamination is PLANTED deterministically: docs with
    // doc_id % 7 = 3 append the first 5 tokens of their nearest benchmark
    // doc, so hits exist at every scale; natural overlaps count too. The
    // benchmark gram set is broadcast — the corpus side shuffles only its
    // hit rows.
    "q85_decontaminate" -> QueryDef(
      fn = (s, d) => {
        val base = docs(s, d).select(col("doc_id"), col("text"))
        val bench = base.filter(col("doc_id") % 50 === 0)
        val aug = base
          .withColumn("bkey", expr("(doc_id DIV 50) * 50"))
          .join(bench.select(col("doc_id").as("bkey"), col("text").as("btext")),
            Seq("bkey"))
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 3,
              concat(col("text"), lit(" "),
                concat_ws(" ", slice(split(col("btext"), " "), 1, 5))))
              .otherwise(col("text")).as("t"))
          .filter(col("doc_id") % 50 =!= 0)
        TextAnalysis.contaminationHits(aug,
          bench.select(col("text").as("t")), "doc_id", "t", n = 5)
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        btok AS (SELECT string_split(text, ' ') AS tk FROM bench),
        bg AS (SELECT DISTINCT unnest(list_transform(range(1, greatest(len(tk) - 3, 1)),
                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS gram
               FROM btok),
        aug AS (SELECT d.doc_id,
                  CASE WHEN d.doc_id % 7 = 3
                       THEN d.text || ' ' || array_to_string(string_split(b.text, ' ')[1:5], ' ')
                       ELSE d.text END AS t
                FROM documents d JOIN bench b ON b.doc_id = (d.doc_id // 50) * 50
                WHERE d.doc_id % 50 <> 0),
        dtok AS (SELECT doc_id, string_split(t, ' ') AS tk FROM aug),
        dg AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tk) - 3, 1)),
                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS gs
               FROM dtok),
        x AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS gram FROM dg)
        SELECT x.doc_id, CAST(COUNT(*) AS INTEGER) AS n_hits,
               CAST(MIN(n_grams) AS INTEGER) AS n_grams
        FROM x JOIN bg USING (gram) GROUP BY x.doc_id ORDER BY x.doc_id""")),

    // ----------------------------------------------------------------
    // q86: source mixing — cap every source at a fixed budget with the
    // deterministic hash-threshold sampler (Sampling.capPerKeyHash: one
    // count aggregate + broadcast join + integer comparison; no window,
    // no skew exposure). kept_id_sum pins EXACT membership, not just the
    // kept count — a selection-hash drift of a single row mismatches.
    "q86_source_mixing" -> QueryDef(
      fn = (s, d) => {
        val base = docs(s, d)
        val kept = Sampling.capPerKeyHash(base, "source", "doc_id", cap = 50L)
        val all = base.groupBy("source").agg(count(lit(1)).as("n_docs"))
        kept.groupBy("source")
          .agg(count(lit(1)).cast("int").as("kept"),
            sum("doc_id").as("kept_id_sum"))
          .join(all, Seq("source"))
          .select("source", "n_docs", "kept", "kept_id_sum")
          .orderBy("source")
      },
      oracle = Some("""
        WITH n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
                   FROM documents GROUP BY source),
        k AS (SELECT d.doc_id, d.source
              FROM documents d JOIN n USING (source)
              WHERE (d.doc_id * 2654435761) % 4294967296 < (50 * 4294967296) // n_docs),
        g AS (SELECT source, CAST(COUNT(*) AS INTEGER) AS kept,
                     CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum
              FROM k GROUP BY source)
        SELECT source, n_docs, kept, kept_id_sum
        FROM g JOIN n USING (source) ORDER BY source""")),

    // ----------------------------------------------------------------
    // q87: sequence packing — greedy first-fit of docs into 512-token
    // training sequences, segment-parallel (Packing.packGreedy: the
    // sequential fold is bounded to 64-doc segments; one shuffle on the
    // segment key, the greedy scan is an aggregate HOF over a bounded
    // array). The DuckDB oracle replays the identical greedy recurrence
    // as a recursive CTE, so any drift in the fold rule (overflow
    // condition, oversized-doc handling, bin numbering) hash-mismatches.
    // All output columns are exact integers.
    "q87_sequence_packing" -> QueryDef(
      fn = (s, d) => {
        val toks = docs(s, d).select(col("doc_id"),
          size(split(col("text"), " ")).as("tok"))
        Packing.packGreedy(toks, "doc_id", "tok", budget = 512, segSize = 64)
          .select("doc_id", "seq_id", "n_tokens", "seq_fill", "seq_docs")
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH RECURSIVE d AS (
          SELECT doc_id, doc_id // 64 AS seg,
                 len(string_split(text, ' ')) AS tok
          FROM documents),
        o AS (SELECT doc_id, seg, tok,
                     ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id) AS rn
              FROM d),
        packed AS (
          SELECT doc_id, seg, tok, rn, 0 AS bin, tok AS fill
          FROM o WHERE rn = 1
          UNION ALL
          SELECT o.doc_id, o.seg, o.tok, o.rn,
                 CASE WHEN p.fill > 0 AND p.fill + o.tok > 512
                      THEN p.bin + 1 ELSE p.bin END,
                 CASE WHEN p.fill > 0 AND p.fill + o.tok > 512
                      THEN o.tok ELSE p.fill + o.tok END
          FROM packed p JOIN o ON o.seg = p.seg AND o.rn = p.rn + 1),
        asg AS (SELECT doc_id, seg * 64 + bin AS seq_id,
                       CAST(tok AS INTEGER) AS n_tokens
                FROM packed)
        SELECT doc_id, seq_id, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY seq_id) AS INTEGER) AS seq_fill,
               CAST(COUNT(*) OVER (PARTITION BY seq_id) AS INTEGER) AS seq_docs
        FROM asg ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // q88: embedding int8 quantization — the storage format an embedding
    // pipeline ships. Pure per-row codegen projection (no shuffle);
    // every arithmetic step is an IEEE-deterministic double op with an
    // explicit floor(x + 0.5) rounding rule, so DuckDB reproduces the
    // code vector bit-for-bit. qsum/qnorm are exact integer projections
    // of the full code vector (any single code drift mismatches); the
    // max reconstruction error must stay ≤ scale/2 by construction.
    "q88_embed_quantize" -> QueryDef(
      fn = (s, d) => {
        val q = Similarity.quantizeInt8(embs(s, d), "vec_id", "embedding")
        q.filter(col("scale") > 0)
          .select(col("vec_id"),
            size(col("qvec")).as("dim"),
            expr("aggregate(qvec, 0L, (a, x) -> a + x)").as("qsum"),
            expr("aggregate(qvec, 0L, (a, x) -> a + CAST(x AS BIGINT) * x)")
              .as("qnorm"),
            round(col("scale"), 6).as("scale_r"),
            round(col("max_err"), 6).as("max_err_r"))
          .orderBy("vec_id")
      },
      oracle = Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        s AS (SELECT vec_id, v,
                     list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
              FROM e),
        q AS (SELECT vec_id, v, scale,
                     list_transform(v, x ->
                       CAST(greatest(least(floor(x / scale + 0.5), 127.0), -127.0)
                            AS BIGINT)) AS qv
              FROM s WHERE scale > 0)
        SELECT vec_id, CAST(len(v) AS INTEGER) AS dim,
               CAST(list_sum(qv) AS BIGINT) AS qsum,
               CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS qnorm,
               ROUND(scale, 6) AS scale_r,
               ROUND(list_max(list_transform(range(1, len(v) + 1),
                 i -> abs(v[i] - qv[i] * scale))), 6) AS max_err_r
        FROM q ORDER BY vec_id""")),

    // ----------------------------------------------------------------
    // q89: leakage-safe train/eval split — split membership is keyed by
    // the DUPLICATE GROUP's canonical id (min doc_id per prefix
    // fingerprint), not the doc id, so near-identical docs can never
    // straddle train and eval (the classic eval-contamination bug a
    // row-hash split has). Every group member shares its canonical's
    // Knuth-hash verdict by construction; the fingerprint groupBy is one
    // 16-byte-key shuffle and the group join shuffles on the same key —
    // no window, no broadcast of data-sized frames.
    "q89_leakage_split" -> QueryDef(
      fn = (s, d) => {
        val base = docs(s, d).select(col("doc_id"),
          TextAnalysis.prefixFingerprint("text").as("fp"))
        val canon = base.groupBy("fp").agg(min("doc_id").as("canon"))
        base.join(canon, Seq("fp"))
          // 90% of the hash range → train; threshold = floor(0.9 * 2^32)
          .withColumn("split",
            when(Sampling.selectionHash(col("canon")) < lit(3865470566L),
              lit("train")).otherwise(lit("eval")))
          .select("doc_id", "fp", "canon", "split")
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH fp AS (SELECT doc_id,
                 md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS fp
               FROM documents),
        c AS (SELECT fp, MIN(doc_id) AS canon FROM fp GROUP BY fp)
        SELECT doc_id, fp, canon,
               CASE WHEN (canon * 2654435761) % 4294967296 < 3865470566
                    THEN 'train' ELSE 'eval' END AS split
        FROM fp JOIN c USING (fp) ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // q90: chunk → doc embedding pooling — mean-pool each group of 4
    // consecutive chunk vectors into one document vector, L2-normalize
    // (Similarity.meanPoolNormalize: Summarizer.mean vector aggregate,
    // map-side combinable, ONE shuffle of per-group partial-sum buffers —
    // never an n×dim row explosion). The output pin posexplodes the
    // normalized vector AFTER aggregation (output-sized, 64 rows/group)
    // so every dimension of every pooled vector is hash-compared; values
    // round at 6 digits to absorb summation-order ulps.
    "q90_embed_pool" -> QueryDef(
      fn = (s, d) => {
        val grouped = embs(s, d)
          .select(expr("vec_id DIV 4").as("group_id"), col("embedding"))
        Similarity.meanPoolNormalize(grouped, "group_id", "embedding")
          .select(col("group_id"), col("n_chunks"),
            round(col("norm"), 6).as("norm_r"),
            posexplode(col("unit")).as(Seq("pos0", "uval")))
          // + 0.0 normalizes IEEE -0.0: a dimension whose chunk values
          // cancel to ~±1e-13 rounds to a SIGNED zero whose sign is
          // summation-order luck (seen at sf0.1: DuckDB -0.0 vs Spark 0.0)
          .select(col("group_id"), (col("pos0") + 1).cast("int").as("pos"),
            (round(col("uval"), 6) + lit(0.0)).as("uval_r"),
            col("n_chunks"), col("norm_r"))
          .orderBy("group_id", "pos")
      },
      oracle = Some("""
        WITH e AS (SELECT vec_id // 4 AS g, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        p AS (SELECT g, v, unnest(range(1, len(v) + 1)) AS pos FROM e),
        x AS (SELECT g, pos, v[pos] AS val FROM p),
        m AS (SELECT g, pos, AVG(val) AS mv FROM x GROUP BY g, pos),
        n AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_chunks FROM e GROUP BY g),
        nrm AS (SELECT g, sqrt(SUM(mv * mv)) AS nm FROM m GROUP BY g)
        SELECT m.g AS group_id, CAST(m.pos AS INTEGER) AS pos,
               ROUND(CASE WHEN nrm.nm > 0 THEN m.mv / nrm.nm ELSE m.mv END, 6) + 0 AS uval_r,
               n.n_chunks, ROUND(nrm.nm, 6) AS norm_r
        FROM m JOIN nrm ON m.g = nrm.g JOIN n ON m.g = n.g
        ORDER BY group_id, pos""")),

    // ----------------------------------------------------------------
    // q91: linear classifier inference with the hashing trick — a
    // fastText-style quality gate scored as a PURE PROJECTION (no
    // shuffle, no UDF, no model object; TextAnalysis.hashedLinearScore).
    // Token buckets are md5-char arithmetic and weights the Knuth hash
    // of the bucket id, so DuckDB reproduces the whole inference
    // bit-for-bit; bucket_sum pins every token's bucket exactly.
    "q91_hashed_classifier" -> QueryDef(
      fn = (s, d) =>
        TextAnalysis.hashedLinearScore(docs(s, d), "doc_id", "text")
          .select(col("doc_id"), col("n_tokens"), col("bucket_sum"),
            // + 0.0: a tiny-negative score rounds to -0.0 in DuckDB but
            // +0.0 through Spark's BigDecimal round (seen at 10x)
            (round(col("score"), 6) + lit(0.0)).as("score_r"), col("pred"))
          .orderBy("doc_id"),
      oracle = Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        b AS (SELECT doc_id, len(toks) AS n_tokens,
                list_transform(list_transform(toks, t -> md5(t)),
                  h -> (CAST(ascii(substring(h, 1, 1)) AS BIGINT) * 1 +
                        CAST(ascii(substring(h, 2, 1)) AS BIGINT) * 31 +
                        CAST(ascii(substring(h, 3, 1)) AS BIGINT) * 961 +
                        CAST(ascii(substring(h, 4, 1)) AS BIGINT) * 29791 +
                        CAST(ascii(substring(h, 5, 1)) AS BIGINT) * 923521 +
                        CAST(ascii(substring(h, 6, 1)) AS BIGINT) * 28629151 +
                        CAST(ascii(substring(h, 7, 1)) AS BIGINT) * 887503681 +
                        CAST(ascii(substring(h, 8, 1)) AS BIGINT) * 27512614111) % 4096) AS bs
              FROM t),
        w AS (SELECT doc_id, n_tokens, bs,
                list_transform(bs, x ->
                  ((x + 1) * 2654435761) % 4294967296 / 4294967296.0 - 0.5) AS ws
              FROM b)
        SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
               CAST(list_sum(bs) AS BIGINT) AS bucket_sum,
               ROUND(list_sum(ws) / n_tokens, 6) + 0 AS score_r,
               CASE WHEN list_sum(ws) / n_tokens > 0 THEN 'keep' ELSE 'drop' END AS pred
        FROM w ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // q92: unigram-LM perplexity gate — fit the language model ON the
    // corpus (add-one smoothed token counts: one token-key shuffle),
    // score every doc by mean -log2 p(token) (token join + doc
    // aggregate). The classic LM quality filter; surprising docs score
    // high. n_tokens is exact; the NLL rounds at 6 (ln() differs in the
    // last ulp across libm implementations).
    "q92_unigram_ppl" -> QueryDef(
      fn = (s, d) =>
        TextAnalysis.unigramNll(docs(s, d), "doc_id", "text")
          .select(col("doc_id"), col("n_tokens"),
            round(col("avg_nll"), 6).as("nll_r"))
          .orderBy("doc_id"),
      oracle = Some("""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
        tot AS (SELECT SUM(cnt) AS n_total, COUNT(*) AS n_vocab FROM vocab),
        sc AS (SELECT t.doc_id,
                 -ln((v.cnt + 1) / CAST(tot.n_total + tot.n_vocab AS DOUBLE)) / ln(2) AS nll
               FROM toks t JOIN vocab v USING (tok) CROSS JOIN tot)
        SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_tokens,
               ROUND(AVG(nll), 6) AS nll_r
        FROM sc GROUP BY doc_id ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // q93: repeated-span removal — the gram-approximated exact-substring
    // dedup (Lee et al. 2021): drop every token covered by an 8-gram
    // occurring >= 2 times corpus-wide. Two planted boilerplate tails
    // (newsletter / rights-reserved, by doc_id % 4) guarantee cross-doc
    // spans at every scale; the corpus's own near-dup families are
    // removed too. cleaned_md5 pins the exact surviving token sequence.
    "q93_span_dedup" -> QueryDef(
      fn = (s, d) => {
        val aug = docs(s, d).select(col("doc_id"), expr(
          """CASE WHEN doc_id % 4 = 1
                  THEN concat(text, ' subscribe to our newsletter now for daily updates and offers')
                  WHEN doc_id % 4 = 3
                  THEN concat(text, ' all rights reserved terms of service apply to this content')
                  ELSE text END""").as("text"))
        TextAnalysis.removeDupSpans(aug, "doc_id", "text", n = 8)
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH aug AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 4 = 1 THEN text || ' subscribe to our newsletter now for daily updates and offers'
                      WHEN doc_id % 4 = 3 THEN text || ' all rights reserved terms of service apply to this content'
                      ELSE text END AS t
          FROM documents),
        tk AS (SELECT doc_id, string_split(t, ' ') AS toks,
                      len(string_split(t, ' ')) AS m FROM aug),
        g AS (SELECT doc_id, toks, m,
                CASE WHEN m >= 8 THEN list_transform(range(1, m - 6),
                  j -> array_to_string(toks[j:j+7], ' '))
                ELSE [] END AS grams
              FROM tk),
        ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        dup AS (SELECT gram FROM ex GROUP BY gram HAVING COUNT(*) >= 2),
        hits AS (SELECT e.doc_id, list(DISTINCT e.gram) AS hs
                 FROM (SELECT DISTINCT doc_id, gram FROM ex) e JOIN dup USING (gram)
                 GROUP BY e.doc_id),
        cov AS (SELECT g.doc_id, g.toks, g.m, g.grams, coalesce(h.hs, []) AS hs
                FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id),
        cl AS (SELECT doc_id, m,
                 list_filter(range(1, m + 1),
                   i -> len(list_filter(range(greatest(1, i - 7), least(i, m - 7) + 1),
                            j -> list_contains(hs, grams[j]))) = 0) AS keep_pos
               FROM cov)
        SELECT cl.doc_id, CAST(cl.m AS INTEGER) AS n_tokens,
               CAST(cl.m - len(keep_pos) AS INTEGER) AS n_removed,
               md5(coalesce(array_to_string(
                 list_transform(keep_pos, i -> cov.toks[i]), ' '), '')) AS cleaned_md5
        FROM cl JOIN cov ON cl.doc_id = cov.doc_id
        ORDER BY cl.doc_id"""))

    // ----------------------------------------------------------------
    // q94: deterministic negative sampling — contrastive-training
    // negatives with no RNG (Sampling.negativeSample): candidates hash
    // onto a bucketed ring (bucket + in-bucket rank), probes hash to a
    // (bucket, rank) address, and the pick is a plain equi-join — no
    // global sort, no per-probe scan; self-collisions take the
    // precomputed in-bucket successor. Anchors = every 5th doc, k=3.
    ,
    "q94_negative_sample" -> QueryDef(
      fn = (s, d) => {
        val corpus = docs(s, d)
        val anchors = corpus.filter(col("doc_id") % 5 === 0)
        Sampling.negativeSample(corpus, anchors, "doc_id", k = 3, buckets = 16)
          .orderBy("anchor", "slot")
      },
      oracle = Some("""
        WITH cb0 AS (
          SELECT doc_id AS neg_id,
                 (doc_id * 2654435761) % 4294967296 AS a0
          FROM documents),
        cb1 AS (SELECT neg_id, (xor(a0, a0 // 65536) * 73244475) % 4294967296 AS a1 FROM cb0),
        cb2 AS (SELECT neg_id, (xor(a1, a1 // 65536) * 73244475) % 4294967296 AS a2 FROM cb1),
        cb AS (SELECT neg_id, xor(a2, a2 // 65536) AS pos,
                      xor(a2, a2 // 65536) % 16 AS b
               FROM cb2),
        ranked AS (
          SELECT neg_id, b,
                 CAST(row_number() OVER (PARTITION BY b ORDER BY pos, neg_id) AS BIGINT) AS rn,
                 coalesce(lead(neg_id) OVER (PARTITION BY b ORDER BY pos, neg_id),
                          first_value(neg_id) OVER (PARTITION BY b ORDER BY pos, neg_id)) AS nxt
          FROM cb),
        sizes AS (SELECT b, COUNT(*) AS n FROM cb GROUP BY b),
        pb0 AS (
          SELECT d.doc_id AS anchor, s.slot,
                 (((d.doc_id * 131 + s.slot) % 2147483648) * 2654435761) % 4294967296 AS a0
          FROM documents d CROSS JOIN (SELECT unnest(range(1, 4)) AS slot) s
          WHERE d.doc_id % 5 = 0),
        pb1 AS (SELECT anchor, slot, (xor(a0, a0 // 65536) * 73244475) % 4294967296 AS a1 FROM pb0),
        pb2 AS (SELECT anchor, slot, (xor(a1, a1 // 65536) * 73244475) % 4294967296 AS a2 FROM pb1),
        probes AS (SELECT anchor, slot, xor(a2, a2 // 65536) AS h FROM pb2),
        pr AS (
          SELECT p.anchor, p.slot, p.h % 16 AS b, (p.h // 16) % z.n + 1 AS rn
          FROM probes p JOIN sizes z ON z.b = p.h % 16),
        sel AS (
          SELECT pr.anchor, pr.slot,
                 CASE WHEN r.neg_id = pr.anchor THEN r.nxt ELSE r.neg_id END AS neg_id
          FROM pr JOIN ranked r ON r.b = pr.b AND r.rn = pr.rn)
        SELECT anchor, CAST(slot AS INTEGER) AS slot, neg_id
        FROM sel WHERE neg_id <> anchor
        ORDER BY anchor, slot""")),

    // ----------------------------------------------------------------
    // q95: inverse-sqrt source flattening — temperature-2 resampling of
    // a skewed mixture toward its rarest source (Sampling
    // .inverseSqrtFlatten): each group keeps a deterministic
    // sqrt(n_min/n) fraction via the hash threshold. The group key
    // (substring of source) makes one group 11x the others, so the big
    // group is cut to ~30% while small groups pass whole. sqrt is
    // IEEE-correctly-rounded => thresholds bit-match across engines.
    "q95_source_flatten" -> QueryDef(
      fn = (s, d) => {
        val grouped = docs(s, d)
          .select(col("doc_id"), substring(col("source"), 4, 1).as("src_group"))
        Sampling.inverseSqrtFlatten(grouped, "src_group", "doc_id")
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH d AS (SELECT doc_id, substring(source, 4, 1) AS src_group FROM documents),
        c AS (SELECT src_group, COUNT(*) AS n FROM d GROUP BY src_group),
        m AS (SELECT MIN(n) AS mn FROM c),
        t AS (SELECT src_group,
                     CAST(floor(4294967296 * sqrt(CAST(mn AS DOUBLE) / n)) AS BIGINT) AS thr
              FROM c CROSS JOIN m)
        SELECT d.doc_id, d.src_group
        FROM d JOIN t USING (src_group)
        WHERE (d.doc_id * 2654435761) % 4294967296 < t.thr
        ORDER BY d.doc_id""")),

    // ----------------------------------------------------------------
    // q96: deterministic shard assignment — every doc gets a (shard,
    // ord) data-loader address from the selection hash (Sampling
    // .shardAssign): S-way-parallel row_number window, stable
    // pseudo-random within-shard order, re-runs identical.
    "q96_shard_assign" -> QueryDef(
      fn = (s, d) =>
        Sampling.shardAssign(docs(s, d).select("doc_id"), "doc_id", shards = 8)
          .orderBy("shard", "ord"),
      oracle = Some("""
        WITH h0 AS (SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS a0 FROM documents),
        h1 AS (SELECT doc_id, (xor(a0, a0 // 65536) * 73244475) % 4294967296 AS a1 FROM h0),
        h2 AS (SELECT doc_id, (xor(a1, a1 // 65536) * 73244475) % 4294967296 AS a2 FROM h1),
        p AS (SELECT doc_id, xor(a2, a2 // 65536) AS pos FROM h2)
        SELECT doc_id, CAST(pos % 8 AS INTEGER) AS shard,
               CAST(row_number() OVER (PARTITION BY pos % 8 ORDER BY pos, doc_id) AS BIGINT) AS ord
        FROM p ORDER BY shard, ord""")),

    // ----------------------------------------------------------------
    // q97: per-source distribution divergence — KL(P_source || P_corpus)
    // over unigram distributions (TextAnalysis.sourceDivergence): the
    // domain-shift detector run before mixing sources. One corpus scan
    // into a checkpointed (source, token) count frame; all downstream
    // aggregates are vocabulary-sized. KL factored so both engines
    // evaluate the identical double op tree per term; round-6 absorbs
    // summation-order ulps.
    "q97_source_divergence" -> QueryDef(
      fn = (s, d) =>
        TextAnalysis.sourceDivergence(docs(s, d), "source", "text")
          .select(col("source"), col("n_tokens"),
            round(col("kl"), 6).as("kl_r"))
          .orderBy("source"),
      oracle = Some("""
        WITH st AS (SELECT source, tok, COUNT(*) AS c_st
                    FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
                          FROM documents)
                    GROUP BY source, tok),
        g AS (SELECT tok, SUM(c_st) AS c_t FROM st GROUP BY tok),
        s AS (SELECT source, SUM(c_st) AS n_s FROM st GROUP BY source),
        n AS (SELECT SUM(c_st) AS n FROM st)
        SELECT st.source, CAST(MIN(s.n_s) AS BIGINT) AS n_tokens,
               ROUND(SUM(st.c_st * ln((CAST(st.c_st AS DOUBLE) * n.n) /
                                      (CAST(g.c_t AS DOUBLE) * s.n_s))) / MIN(s.n_s), 6) AS kl_r
        FROM st JOIN g USING (tok) JOIN s USING (source) CROSS JOIN n
        GROUP BY st.source ORDER BY st.source""")),

    // ----------------------------------------------------------------
    // q98: bigram-LM perplexity gate — the conditional upgrade of q92
    // (TextAnalysis.bigramNll): mean -log2 p(w2|w1), add-one smoothed
    // over the corpus-fit bigram/context counts. Catches gibberish with
    // normal unigrams; rewards predictable transitions. One bigram-key
    // + one unigram-key shuffle, then the TF-IDF-style join chain.
    "q98_bigram_ppl" -> QueryDef(
      fn = (s, d) =>
        TextAnalysis.bigramNll(docs(s, d), "doc_id", "text")
          .select(col("doc_id"), col("n_bigrams"),
            round(col("avg_nll"), 6).as("nll_r"))
          .orderBy("doc_id"),
      oracle = Some("""
        WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks,
                           len(string_split(text, ' ')) AS m FROM documents),
        bi AS (SELECT doc_id, string_split(bg, ' ')[1] AS w1, bg
               FROM (SELECT doc_id,
                       unnest(list_transform(range(1, m),
                         i -> toks[i] || ' ' || toks[i + 1])) AS bg
                     FROM tk WHERE m >= 2)),
        bgc AS (SELECT bg, COUNT(*) AS c_bg FROM bi GROUP BY bg),
        uc AS (SELECT unnest(toks) AS w1 FROM tk),
        unic AS (SELECT w1, COUNT(*) AS c_w1 FROM uc GROUP BY w1),
        v AS (SELECT COUNT(*) AS v FROM unic),
        sc AS (SELECT bi.doc_id,
                 -ln((bgc.c_bg + 1) / CAST(unic.c_w1 + v.v AS DOUBLE)) / ln(2) AS nll
               FROM bi JOIN bgc USING (bg) JOIN unic USING (w1) CROSS JOIN v)
        SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_bigrams,
               ROUND(AVG(nll), 6) AS nll_r
        FROM sc GROUP BY doc_id ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // q101: incremental near-dup ingestion — the 100-TB batch shape: a
    // new shard (every-40th doc, id-shifted so each shard doc has an
    // identical corpus twin) is banded against the corpus's persisted
    // MinHashIndex (Dedup.minhashLshPairsIncremental); the corpus is
    // NEVER re-banded. Contract outputs, q33-style:
    //   n_identical_cross   (corpus, shard) md5-equal pairs over
    //                       shinglable (>= 3 token) texts — a real
    //                       data-derived number DuckDB reproduces
    //   identical_all_found every such pair is emitted at jaccard
    //                       exactly 1.0 (identical text -> identical
    //                       signature -> collides in every band;
    //                       theorem, deterministic)
    //   inc_matches_full_slice  on a 250-doc slice sub-corpus, the
    //                       incremental pair set EQUALS the full
    //                       minhashLshPairs run restricted to
    //                       shard-touching pairs, both containments —
    //                       band collision is pairwise, so the
    //                       incremental formulation is exact, not an
    //                       approximation (full-set twin in DedupSpec)
    "q101_incremental_dedup" -> QueryDef(
      fn = (s, d) => {
        val corpusDf = docs(s, d).select(col("doc_id"), col("text"))
        val shardDf = corpusDf.filter(pmod(col("doc_id"), lit(40)) === 0)
          .withColumn("doc_id", col("doc_id") + 10000000L)
        // the md5-identity leg and the full-slice reference leg are
        // independent of the incremental mine — overlap all three
        // (guide §2.6)
        val shingleOk = (t: org.apache.spark.sql.Column) => size(split(t, " ")) >= 3
        val inSlice = (c: org.apache.spark.sql.Column) => pmod(c, lit(10000000L)) < 250
        val (inc, identCross, fullSlice) = FitPool.legs(s) { scope =>
          val identLeg = scope.fork {
            corpusDf.filter(shingleOk(col("text")))
              .select(col("doc_id").as("a_id"), md5(col("text")).as("__h"))
              .join(shardDf.select(col("doc_id").as("b_id"), md5(col("text")).as("__h")),
                Seq("__h"))
              .select("a_id", "b_id").localCheckpoint(true)
          }
          val fullLeg = scope.fork {
            Dedup.minhashLshPairs(
                corpusDf.filter(inSlice(col("doc_id")))
                  .union(shardDf.filter(inSlice(col("doc_id")))),
                "doc_id", "text", threshold = 0.8)
              .filter(col("a_id") >= 10000000L || col("b_id") >= 10000000L)
              .select("a_id", "b_id").localCheckpoint(true)
          }
          val cIdx = Dedup.minhashIndex(corpusDf, "doc_id", "text")
          // shard is 1/40 of the corpus: the spread exchange costs more
          // than the signature kernel it widens (round 16)
          val sIdx = Dedup.minhashIndex(shardDf, "doc_id", "text", spread = false)
          (Dedup.minhashLshPairsIncremental(sIdx, cIdx, threshold = 0.8)
            .localCheckpoint(true), identLeg.join(), fullLeg.join())
        }
        val missed = identCross.join(
          inc.filter(col("jaccard") === 1.0).select("a_id", "b_id"),
          Seq("a_id", "b_id"), "left_anti")
        val incSlice = inc.filter(inSlice(col("a_id")) && inSlice(col("b_id")))
          .select("a_id", "b_id").localCheckpoint(true)
        val d1 = incSlice.join(fullSlice, Seq("a_id", "b_id"), "left_anti")
        val d2 = fullSlice.join(incSlice, Seq("a_id", "b_id"), "left_anti")
        identCross.agg(count(lit(1)).as("n_identical_cross"))
          .crossJoin(broadcast(missed.agg(count(lit(1)).as("__nm"))))
          .crossJoin(broadcast(d1.agg(count(lit(1)).as("__d1"))))
          .crossJoin(broadcast(d2.agg(count(lit(1)).as("__d2"))))
          .select(col("n_identical_cross"),
            (col("__nm") === 0L).as("identical_all_found"),
            (col("__d1") === 0L && col("__d2") === 0L).as("inc_matches_full_slice"))
      },
      oracle = Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_identical_cross,
               TRUE AS identical_all_found, TRUE AS inc_matches_full_slice
        FROM documents a JOIN documents b
          ON b.doc_id % 40 = 0 AND md5(a.text) = md5(b.text)
        WHERE len(string_split(a.text, ' ')) >= 3""")),

    // ----------------------------------------------------------------
    // q102: incremental EMBEDDING near-dup ingestion — the vector twin
    // of q101, completing the incremental trio (MinHash q101, SimHash
    // spec-pinned, sign-LSH here): a new shard of vectors (every-40th,
    // id-shifted so each has an identical corpus twin) is banded against
    // the corpus's persisted EmbedIndex; the corpus is NEVER re-hashed.
    // Contract outputs, q101-style:
    //   n_identical_cross   (corpus, shard) vector-equal pairs over
    //                       nonzero vectors — data-derived, DuckDB
    //                       reproduces it with a list-equality join
    //   identical_all_found every such pair is emitted at cos exactly
    //                       1.0 (identical vector -> identical band key
    //                       in EVERY table; theorem, deterministic)
    //   inc_matches_full_slice  on a 250-vector slice sub-corpus, the
    //                       incremental pair set EQUALS the full
    //                       lshDupPairs run restricted to shard-touching
    //                       pairs, both containments (full-set twin in
    //                       SessionIvfSpec)
    "q102_incremental_embed_dedup" -> QueryDef(
      fn = (s, d) => {
        val corpusDf = embs(s, d).select(col("vec_id"), col("embedding"))
        val shardDf = corpusDf.filter(pmod(col("vec_id"), lit(40)) === 0)
          .withColumn("vec_id", col("vec_id") + 10000000L)
        // identity leg and full-slice reference leg overlapped with the
        // incremental mine (guide §2.6) — same restructure as q101
        val nonzero = (v: org.apache.spark.sql.Column) =>
          Similarity.l2norm(Similarity.toDoubleArray(v)) > 0
        val inSlice = (c: org.apache.spark.sql.Column) => pmod(c, lit(10000000L)) < 250
        val (inc, identCross, fullSlice) = FitPool.legs(s) { scope =>
          val identLeg = scope.fork {
            corpusDf.filter(nonzero(col("embedding")))
              .select(col("vec_id").as("a_id"), col("embedding").as("__v"))
              .join(shardDf.select(col("vec_id").as("b_id"), col("embedding").as("__v")),
                Seq("__v"))
              .select("a_id", "b_id").localCheckpoint(true)
          }
          val fullLeg = scope.fork {
            Similarity.lshDupPairs(
                corpusDf.filter(inSlice(col("vec_id")))
                  .union(shardDf.filter(inSlice(col("vec_id")))),
                "vec_id", "embedding", threshold = 0.9, dim = 64)
              .filter(col("a_id") >= 10000000L || col("b_id") >= 10000000L)
              .select("a_id", "b_id").localCheckpoint(true)
          }
          val cIdx = Similarity.embedIndex(corpusDf, "vec_id", "embedding", dim = 64)
          val sIdx = Similarity.embedIndex(shardDf, "vec_id", "embedding", dim = 64)
          (Similarity.lshDupPairsIncremental(sIdx, cIdx, threshold = 0.9)
            .localCheckpoint(true), identLeg.join(), fullLeg.join())
        }
        val missed = identCross.join(
          inc.filter(col("cos") === 1.0).select("a_id", "b_id"),
          Seq("a_id", "b_id"), "left_anti")
        val incSlice = inc.filter(inSlice(col("a_id")) && inSlice(col("b_id")))
          .select("a_id", "b_id").localCheckpoint(true)
        val d1 = incSlice.join(fullSlice, Seq("a_id", "b_id"), "left_anti")
        val d2 = fullSlice.join(incSlice, Seq("a_id", "b_id"), "left_anti")
        identCross.agg(count(lit(1)).as("n_identical_cross"))
          .crossJoin(broadcast(missed.agg(count(lit(1)).as("__nm"))))
          .crossJoin(broadcast(d1.agg(count(lit(1)).as("__d1"))))
          .crossJoin(broadcast(d2.agg(count(lit(1)).as("__d2"))))
          .select(col("n_identical_cross"),
            (col("__nm") === 0L).as("identical_all_found"),
            (col("__d1") === 0L && col("__d2") === 0L).as("inc_matches_full_slice"))
      },
      oracle = Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_identical_cross,
               TRUE AS identical_all_found, TRUE AS inc_matches_full_slice
        FROM embeddings a JOIN embeddings b
          ON b.vec_id % 40 = 0 AND a.embedding = b.embedding
        WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]),
                               CAST(a.embedding AS DOUBLE[])) > 0""")),

    // ----------------------------------------------------------------
    // q103: asymmetric n-gram CONTAINMENT via the prefix-filtered join
    // (Dedup.containmentJoin) — the quote/excerpt detector Jaccard-based
    // near-dup structurally misses (an excerpt has containment 1.0 into
    // its source but tiny resemblance). Corpus = every-10th doc plus a
    // first-half excerpt of each (id + 20M), so true containments exist
    // at every scale in BOTH directions of construction. The scale path
    // runs the frequency-ranked prefix-filter candidate scheme; DuckDB
    // enumerates all ordered pairs outright and must match row for row —
    // containment is exact fixed-point (floor(|∩|·10⁶/m)/10⁶, the q02
    // integer rule applied to ratios), so no rounding divergence exists.
    // Sub-n-token docs (empty shingle sets) are outside the containment
    // universe in both engines.
    "q103_containment" -> QueryDef(
      fn = (s, d) => {
        Dedup.containmentJoin(quoteCorpus(s, d), "doc_id", "text", tau = 0.5)
          .orderBy("a_id", "b_id")
      },
      oracle = Some("""
        WITH b0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        ex AS (SELECT doc_id + 20000000 AS doc_id,
                      array_to_string(string_split(text, ' ')[1:len(string_split(text, ' ')) // 2], ' ') AS text
               FROM b0),
        u AS (SELECT doc_id, text FROM b0 UNION ALL SELECT doc_id, text FROM ex),
        sh0 AS (SELECT doc_id,
                  list_distinct(list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS sh
                FROM u),
        s AS (SELECT doc_id, sh, len(sh) AS m FROM sh0 WHERE len(sh) > 0),
        p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                     CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) * 1000000 // a.m AS DOUBLE) / 1000000 AS containment
              FROM s a JOIN s b ON a.doc_id <> b.doc_id)
        SELECT a_id, b_id, containment FROM p WHERE containment >= 0.5
        ORDER BY a_id, b_id""")),

    // ----------------------------------------------------------------
    // q104: INCREMENTAL containment ingestion — completes the ingestion
    // quartet (MinHash q101, embedding q102, SimHash spec-pinned,
    // containment here): a shard of excerpts (first half of every-40th
    // doc, id + 30M) ingests against the corpus's persisted
    // ContainmentIndex (Dedup.containmentJoinIncremental); the corpus
    // (every-10th doc) is NEVER re-shingled. Unlike the banded families,
    // incremental containment is DETERMINISTIC — a candidate is any pair
    // sharing >= 1 shingle, a complete set for any tau > 0 — so instead
    // of q101's boolean contract the oracle pins the ENTIRE pair output:
    // DuckDB enumerates all ordered shard-touching pairs outright and
    // must match row for row (exact fixed-point containment, the q103
    // rule). Every excerpt's shingle set is a subset of its source's
    // (contiguous n-grams of a token prefix are n-grams of the full
    // list), so true containment-1.0 rows exist at every scale.
    "q104_incremental_containment" -> QueryDef(
      fn = (s, d) => {
        val corpus = docs(s, d).filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("text"))
        val shard = corpus.filter(col("doc_id") % 40 === 0)
          .withColumn("__toks", split(col("text"), " "))
          .withColumn("text",
            expr("concat_ws(' ', slice(__toks, 1, CAST(size(__toks) DIV 2 AS INT)))"))
          .select((col("doc_id") + 30000000L).as("doc_id"), col("text"))
        val cIdx = Dedup.containmentIndex(corpus, "doc_id", "text")
        // shard-sized input: spread off (round 16, measured q104 -1.4 s)
        val sIdx = Dedup.containmentIndex(shard, "doc_id", "text", spread = false)
        Dedup.containmentJoinIncremental(sIdx, cIdx, tau = 0.5)
          .orderBy("a_id", "b_id")
      },
      // Oracle kept in the COMMON dialect (VERDICT r7 watch item): prefix
      // slices as list_slice(tk, 1, n) (== Spark slice(tk, 1, n) when
      // begin is 1), variable indexing as list_extract (== element_at),
      // and the shingle count staged as a plain column, so each construct
      // maps one-to-one onto the Spark side.
      oracle = Some("""
        WITH b0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        tk0 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM b0),
        ex AS (SELECT doc_id + 30000000 AS doc_id,
                      array_to_string(list_slice(tk, 1, CAST(len(tk) // 2 AS INT)), ' ') AS text
               FROM tk0 WHERE doc_id % 40 = 0),
        u AS (SELECT doc_id, text FROM b0 UNION ALL SELECT doc_id, text FROM ex),
        t1 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM u),
        t2 AS (SELECT doc_id, tk, len(tk) - 2 AS ns FROM t1 WHERE len(tk) >= 3),
        s AS (SELECT doc_id,
                     list_distinct(list_transform(range(1, ns + 1),
                       i -> list_extract(tk, i) || ' ' || list_extract(tk, i + 1) || ' ' || list_extract(tk, i + 2))) AS sh
              FROM t2),
        s2 AS (SELECT doc_id, sh, len(sh) AS m FROM s),
        p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                     CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) * 1000000 // a.m AS DOUBLE) / 1000000 AS containment
              FROM s2 a JOIN s2 b ON a.doc_id <> b.doc_id)
        SELECT a_id, b_id, containment FROM p
        WHERE (a_id >= 30000000 OR b_id >= 30000000) AND containment >= 0.5
        ORDER BY a_id, b_id""")),

    // ----------------------------------------------------------------
    // q116: quote-cluster catalog (round 11) — the GROUP-SIZED consumer
    // of the containment join. q103's contract is the pair list itself,
    // which is inherently output-bound at scale (15.3 M pairs / 363 s at
    // 100× on the clone fixture); the operation a curation pipeline
    // actually runs is containmentJoin → connectedComponents → one
    // canonical survivor per quote cluster, whose output is one row per
    // CLUSTER — linear in documents, not in pairs. Same corpus shape as
    // q103 (every-10th doc + its first-half excerpt at id+20M: every
    // excerpt is containment-1.0 in its source, so real clusters exist
    // at every SF); each cluster row pins the full member set exactly
    // (canonical = component = min id; csize + id_sum + max_id), with
    // pair-free docs emitted as their own singleton clusters — the
    // complete catalog a dedup sweep would write. The survivor rule is
    // keepCanonical's algebra (keep component-min only) derived from the
    // SAME components run rather than a second one.
    // Oracle: the q103 containment pairs feed BOUNDED min-label
    // propagation (8 unrolled rounds, common dialect — no recursive CTE,
    // so local Spark replay needs no per-query override). 8 rounds reach
    // the fixpoint for any component of eccentricity ≤ 8 from its min
    // id; these clusters are excerpt→source stars bridged only by
    // near-dup source families (measured diameter ≤ 3 incl. the 100×
    // clone cliques) — and a deeper graph would surface as a driver
    // hash MISMATCH against the engine's exact-fixpoint components, not
    // as silent agreement.
    "q116_containment_components" -> QueryDef(
      fn = (s, d) => {
        val corpus = quoteCorpus(s, d)
        val pairs = Dedup.containmentJoin(corpus, "doc_id", "text", tau = 0.5)
          .select("a_id", "b_id")
        // comps is already staged internally per CC round — reusing it
        // twice below only recomputes a projection, no extra checkpoint
        val comps = Dedup.connectedComponents(pairs, "a_id", "b_id")
        val singles = corpus
          .join(comps.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id").as("id"), col("doc_id").as("component"))
        comps.select(col("id"), col("component")).union(singles)
          .groupBy("component")
          .agg(count(lit(1)).cast("int").as("csize"),
            sum("id").as("id_sum"), max("id").as("max_id"))
          .orderBy("component")
      },
      oracle = Some("""
        WITH b0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        ex AS (SELECT doc_id + 20000000 AS doc_id,
                      array_to_string(string_split(text, ' ')[1:len(string_split(text, ' ')) // 2], ' ') AS text
               FROM b0),
        u AS (SELECT doc_id, text FROM b0 UNION ALL SELECT doc_id, text FROM ex),
        sh0 AS (SELECT doc_id,
                  list_distinct(list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS sh
                FROM u),
        s AS (SELECT doc_id, sh, len(sh) AS m FROM sh0 WHERE len(sh) > 0),
        p AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id
              FROM s a JOIN s b ON a.doc_id <> b.doc_id
              WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) * 1000000 // a.m AS DOUBLE) / 1000000 >= 0.5),
        e AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM p UNION ALL SELECT b_id, a_id FROM p),
        l0 AS MATERIALIZED (SELECT u AS id, MIN(u) AS comp FROM e GROUP BY u),
        l1 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l0 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l0 l ON l.id = e.u) x GROUP BY id),
        l2 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l1 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l1 l ON l.id = e.u) x GROUP BY id),
        l3 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l2 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l2 l ON l.id = e.u) x GROUP BY id),
        l4 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l3 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l3 l ON l.id = e.u) x GROUP BY id),
        l5 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l4 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l4 l ON l.id = e.u) x GROUP BY id),
        l6 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l5 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l5 l ON l.id = e.u) x GROUP BY id),
        l7 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l6 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l6 l ON l.id = e.u) x GROUP BY id),
        l8 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l7 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l7 l ON l.id = e.u) x GROUP BY id),
        allm AS (SELECT id, comp AS component FROM l8
                 UNION ALL
                 SELECT doc_id AS id, doc_id AS component FROM u
                 WHERE doc_id NOT IN (SELECT id FROM l8))
        SELECT component, CAST(COUNT(*) AS INTEGER) AS csize,
               CAST(SUM(id) AS BIGINT) AS id_sum, MAX(id) AS max_id
        FROM allm GROUP BY component ORDER BY component""")),

    // ----------------------------------------------------------------
    // q118: INCREMENTAL connected components (round 12) — shard arrival
    // for the quote-cluster catalog. q116 re-runs CC over the FULL pair
    // graph on every shard; the incremental twin
    // (Dedup.connectedComponentsIncremental) freezes the labeling over
    // the old shard's pairs and re-propagates only the components the
    // new shard's edges touch. This row runs exactly that two-step
    // lifecycle on q116's corpus — old shard = doc_id % 20 == 0 sources
    // AND their excerpts (excerpt id = source + 20M keeps the residue,
    // so each excerpt lands with its source), new shard = the rest; the
    // pair split (both-old vs touching-new) is the incremental pair
    // miners' output contract — and emits the SAME cluster catalog, so
    // the oracle is q116's batch-over-union SQL VERBATIM: the driver
    // hash-checks that the incremental path is indistinguishable from
    // one batch run over all edges, per cluster, per member-set.
    "q118_components_incremental" -> QueryDef(
      fn = (s, d) => {
        val corpus = quoteCorpus(s, d)
        // one containment pass over the union, pinned (pairs feed both
        // halves of the split below — recomputing the PPJoin flow twice
        // would double the expensive step for no information)
        val pairs = Dedup.containmentJoin(corpus, "doc_id", "text", tau = 0.5)
          .select("a_id", "b_id").localCheckpoint(true)
        val isOld = (c: org.apache.spark.sql.Column) => c % 20 === 0
        val oldPairs = pairs.filter(isOld(col("a_id")) && isOld(col("b_id")))
        val newPairs = pairs.filter(!(isOld(col("a_id")) && isOld(col("b_id"))))
        // step 1 (frozen past): batch CC over the old shard's pairs
        val frozen = Dedup.connectedComponents(oldPairs, "a_id", "b_id")
        // step 2 (shard arrival): re-propagate only touched components
        val comps = Dedup.connectedComponentsIncremental(frozen, newPairs,
          "a_id", "b_id")
        val singles = corpus
          .join(comps.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id").as("id"), col("doc_id").as("component"))
        comps.select(col("id"), col("component")).union(singles)
          .groupBy("component")
          .agg(count(lit(1)).cast("int").as("csize"),
            sum("id").as("id_sum"), max("id").as("max_id"))
          .orderBy("component")
      },
      oracle = Some("""
        WITH b0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        ex AS (SELECT doc_id + 20000000 AS doc_id,
                      array_to_string(string_split(text, ' ')[1:len(string_split(text, ' ')) // 2], ' ') AS text
               FROM b0),
        u AS (SELECT doc_id, text FROM b0 UNION ALL SELECT doc_id, text FROM ex),
        sh0 AS (SELECT doc_id,
                  list_distinct(list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS sh
                FROM u),
        s AS (SELECT doc_id, sh, len(sh) AS m FROM sh0 WHERE len(sh) > 0),
        p AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id
              FROM s a JOIN s b ON a.doc_id <> b.doc_id
              WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) * 1000000 // a.m AS DOUBLE) / 1000000 >= 0.5),
        e AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM p UNION ALL SELECT b_id, a_id FROM p),
        l0 AS MATERIALIZED (SELECT u AS id, MIN(u) AS comp FROM e GROUP BY u),
        l1 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l0 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l0 l ON l.id = e.u) x GROUP BY id),
        l2 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l1 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l1 l ON l.id = e.u) x GROUP BY id),
        l3 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l2 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l2 l ON l.id = e.u) x GROUP BY id),
        l4 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l3 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l3 l ON l.id = e.u) x GROUP BY id),
        l5 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l4 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l4 l ON l.id = e.u) x GROUP BY id),
        l6 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l5 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l5 l ON l.id = e.u) x GROUP BY id),
        l7 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l6 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l6 l ON l.id = e.u) x GROUP BY id),
        l8 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l7 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l7 l ON l.id = e.u) x GROUP BY id),
        allm AS (SELECT id, comp AS component FROM l8
                 UNION ALL
                 SELECT doc_id AS id, doc_id AS component FROM u
                 WHERE doc_id NOT IN (SELECT id FROM l8))
        SELECT component, CAST(COUNT(*) AS INTEGER) AS csize,
               CAST(SUM(id) AS BIGINT) AS id_sum, MAX(id) AS max_id
        FROM allm GROUP BY component ORDER BY component""")),

    // ----------------------------------------------------------------
    // q117: the chunk → embed → pool → semantic-dedup LIFECYCLE (round
    // 11) — the actual pre-training corpus pipeline as ONE hashed
    // composition row (the q113 treatment applied to the LLM side):
    // token-window chunking (q115's operator), a per-chunk DETERMINISTIC
    // embedding (q43's fake codec — the real decode swaps in behind the
    // same mapPartitions plumbing), chunk→document mean-pooling (q90's
    // operator) with corpus-mean centering, then SemDeDup over the
    // centered document vectors. A full exact-clone copy of the corpus (id+10M)
    // guarantees collapses engage at every SF. Seeded cells keep the
    // keep/drop lists DuckDB-irreproducible, so (q108 discipline) the
    // row pins the oracle-checkable contract:
    //   n_docs            every document decided (count parity, ×2)
    //   n_chunks          total chunk rows — integer-exact chunk-count
    //                     arithmetic DuckDB reproduces from the raw text
    //   clones_collapsed  no (doc, clone) pair survives with BOTH kept
    //                     (identical text ⇒ identical chunks ⇒ pooled
    //                     vectors at cosine ~1 ⇒ same component)
    //   dropped_witness_ok every dropped doc's canonical is KEPT, same cell
    //   kept_independent  no two kept docs in a cell at cos ≥ threshold
    //                     (the operator's own 6-dp rounding, mirrored)
    "q117_chunk_embed_pool_dedup" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val base = docs(s, d).select(col("doc_id"), col("text"))
        val corpus = base.union(base.select(
          (col("doc_id") + 10000000L).as("doc_id"), col("text")))
        // spread + stage the chunk table ONCE (round 17; guide §2.6/§5):
        // the split+chunk+sha256 kernel previously re-ran for the count,
        // the corpus-mean aggregate AND the pooled checkpoint — three
        // evaluations, each at source width (2 tasks on 32 cores)
        val chunks = graft.operators.Staging.spread(
            TextAnalysis.chunkTokens(corpus, "doc_id", "text",
              window = 32, overlap = 8)
              .withColumn("chunk_id", col("doc_id") * 100000L + col("chunk_idx")),
            col("chunk_id"))
          .localCheckpoint(true)
        val nChunks = chunks.count()
        val emb = Multimodal.decodeFeatures(
          Multimodal.binarize(chunks, "chunk_id", "chunk_text"),
          "chunk_id", "bytes")
        // center the pooled vectors on the corpus mean before dedup:
        // the stub codec emits positive-orthant features (ASCII bytes /
        // 255), where raw cosine is dominated by the shared offset and
        // EVERY pair scores ~0.99+ — a property of the fake codec, not
        // the pipeline. Centering (one tiny Summarizer.mean broadcast,
        // the standard embedding-whitening step) makes cosine measure
        // deviation from the corpus mean; exact clones stay bit-equal.
        // staged: consumed twice (corpus-mean aggregate + centered
        // checkpoint below) — without it the pool shuffle re-runs per
        // consumer (round 17)
        val pooledRaw = Similarity.meanPoolNormalize(
            emb.withColumn("doc_id", expr("chunk_id div 100000L")),
            "doc_id", "features")
          .select(col("doc_id"), col("pooled"))
          .localCheckpoint(true)
        val meanRow = pooledRaw.agg(org.apache.spark.ml.stat.Summarizer
            .mean(org.apache.spark.ml.functions.array_to_vector(col("pooled")))
            .as("__mv"))
          .select(org.apache.spark.ml.functions.vector_to_array(col("__mv"))
            .as("__mean"))
        val pooled = pooledRaw.crossJoin(broadcast(meanRow))
          .select(col("doc_id"),
            zip_with(col("pooled"), col("__mean"), (a, b) => a - b).as("unit"))
          .localCheckpoint(true)
        val out = Similarity.semanticDedup(pooled, "doc_id", "unit",
          threshold = 0.999).localCheckpoint(true)
        val kept = out.filter(col("kept"))
        val bothKept = kept.filter(col("doc_id") < 10000000L)
          .select((col("doc_id") + 10000000L).as("doc_id"))
          .join(kept, Seq("doc_id"), "left_semi").count()
        val witnessBad = out.filter(!col("kept"))
          .join(kept.select(col("doc_id").as("canonical"), col("cell").as("__kc")),
            Seq("canonical"), "left")
          .filter(col("__kc").isNull || col("__kc") =!= col("cell")).count()
        val keptVec = kept.join(pooled, Seq("doc_id"))
          .withColumn("__n", sqrt(Similarity.dot(col("unit"), col("unit"))))
        val ka = keptVec.select(col("cell"), col("doc_id").as("a_id"),
          col("unit").as("av"), col("__n").as("an"))
        val kb = keptVec.select(col("cell"), col("doc_id").as("b_id"),
          col("unit").as("bv"), col("__n").as("bn"))
        val keptEdges = ka.join(kb, Seq("cell")).filter(col("a_id") < col("b_id"))
          .filter(round(Similarity.dot(col("av"), col("bv")) /
            (col("an") * col("bn")), 6) >= 0.999).count()
        Seq((out.count(), nChunks, bothKept == 0L, witnessBad == 0L,
            keptEdges == 0L))
          .toDF("n_docs", "n_chunks", "clones_collapsed", "dropped_witness_ok",
            "kept_independent")
      },
      oracle = Some("""
        SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_docs,
               CAST(2 * SUM(1 + (greatest(len(string_split(text, ' ')) - 32, 0) + 23) // 24) AS BIGINT) AS n_chunks,
               TRUE AS clones_collapsed, TRUE AS dropped_witness_ok,
               TRUE AS kept_independent
        FROM documents""")),

    // ----------------------------------------------------------------
    // q119: the components family's PERSISTED LIFECYCLE (round 13) —
    // the q112 treatment applied to the seventh family: inside one
    // hashed row, q116's pair graph arrives as THREE deterministic
    // shards through ingestCcBatch (batch CC, then two incremental
    // deltas), compactCc folds the accumulated delta log into the
    // floor partition BETWEEN arrivals (proving the loop appends on
    // through a fold), and the final ccComponents read — latest-wins
    // over floor + post-fold deltas — must hash-match q116's
    // batch-over-union oracle cluster for cluster, member-set for
    // member-set. The shard split (pmod(a+b, 3)) is arbitrary by
    // design: the fixpoint is arrival-order-invariant, so ANY
    // partition of the edges must converge to the same catalog.
    "q119_components_lifecycle" -> QueryDef(
      fn = (s, d) => {
        resetFamily(s, "q119cc")
        val corpus = quoteCorpus(s, d)
        // one containment pass, pinned: the pairs feed all three shards
        val pairs = Dedup.containmentJoin(corpus, "doc_id", "text", tau = 0.5)
          .select("a_id", "b_id").localCheckpoint(true)
        def shard(k: Int) = pairs
          .filter(pmod(col("a_id") + col("b_id"), lit(3)) === k)
        IngestLoop.ingestCcBatch(shard(0), 0L, "a_id", "b_id", "q119cc", buckets = 8)
        IngestLoop.ingestCcBatch(shard(1), 1L, "a_id", "b_id", "q119cc", buckets = 8)
        IngestLoop.compactCc(s, "q119cc")
        IngestLoop.ingestCcBatch(shard(2), 2L, "a_id", "b_id", "q119cc", buckets = 8)
        val comps = IngestLoop.ccComponents(s, "q119cc")
        val singles = corpus
          .join(comps.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id").as("id"), col("doc_id").as("component"))
        comps.select(col("id"), col("component")).union(singles)
          .groupBy("component")
          .agg(count(lit(1)).cast("int").as("csize"),
            sum("id").as("id_sum"), max("id").as("max_id"))
          .orderBy("component")
      },
      oracle = Some(ccCatalogOracle("TRUE"))),

    // ----------------------------------------------------------------
    // q120: components REPAIR after upstream deletes (round 13) — the
    // derived-state re-derivation as a hashed row. Build the persisted
    // catalog from two pair shards, then sweep every 4th SOURCE doc
    // (id % 40 = 0 among the % 10 = 0 sources; excerpts live at +20M
    // and survive) the way an upstream tombstone pass would, hand
    // repairCc the dead ids + the surviving pair view, and emit the
    // repaired catalog (+ surviving pair-free docs as singletons). The
    // oracle re-derives FROM SCRATCH over the surviving corpus — the
    // operator's exact contract: deleted ids and severed members leave,
    // splits take fresh min-id labels, untouched clusters keep theirs.
    "q120_components_repair" -> QueryDef(
      fn = (s, d) => {
        resetFamily(s, "q120cc")
        val corpus = quoteCorpus(s, d)
        val pairs = Dedup.containmentJoin(corpus, "doc_id", "text", tau = 0.5)
          .select("a_id", "b_id").localCheckpoint(true)
        def shard(k: Int) = pairs
          .filter(pmod(col("a_id") + col("b_id"), lit(2)) === k)
        IngestLoop.ingestCcBatch(shard(0), 0L, "a_id", "b_id", "q120cc", buckets = 8)
        IngestLoop.ingestCcBatch(shard(1), 1L, "a_id", "b_id", "q120cc", buckets = 8)
        // the upstream sweep: dead sources, and the pair view their
        // tombstoned families would serve from the moment it commits
        val isDead = (c: org.apache.spark.sql.Column) =>
          c % 40 === 0 && c < 20000000L
        val dead = corpus.filter(isDead(col("doc_id"))).select("doc_id")
        val surviving = pairs
          .filter(!isDead(col("a_id")) && !isDead(col("b_id")))
        IngestLoop.repairCc(s, "q120cc", dead, "doc_id",
          surviving, "a_id", "b_id")
        val comps = IngestLoop.ccComponents(s, "q120cc")
        val singles = corpus.filter(!isDead(col("doc_id")))
          .join(comps.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id").as("id"), col("doc_id").as("component"))
        comps.select(col("id"), col("component")).union(singles)
          .groupBy("component")
          .agg(count(lit(1)).cast("int").as("csize"),
            sum("id").as("id_sum"), max("id").as("max_id"))
          .orderBy("component")
      },
      oracle = Some(ccCatalogOracle(
        "NOT (doc_id % 40 = 0 AND doc_id < 20000000)")))
,
    // ----------------------------------------------------------------
    // q121: budget-weighted mixture sampling WITH repeat factors — the
    // training-mixture materializer (Sampling.mixtureSample): target
    // weights + a total row budget, each source up-sampled by whole
    // epochs when smaller than its share and hash-down-sampled when
    // larger, one deterministic formula (copies = need DIV n + hash
    // remainder pick). Weights are exact binary fractions summing to
    // 1.0, so the float leg (need = floor(budget * w / Σw)) is
    // bit-identical across engines; everything after is integer SQL.
    // Budget 130 puts src0/src1 in the up-sampling branch (2 resp. 1
    // full epochs + a hash remainder) and src2/src3 in the pure
    // hash-threshold branch at sf0.01 — both paths inside the hash.
    // Row-level output (doc_id, epoch): one copy-count drift anywhere
    // mismatches.
    "q121_mixture_sample" -> QueryDef(
      fn = (s, d) => {
        val mixed = Sampling.mixtureSample(
          docs(s, d).select("doc_id", "source"), "source", "doc_id",
          weights = Map("src0" -> 0.5, "src1" -> 0.25,
            "src2" -> 0.125, "src3" -> 0.125),
          budget = 130L)
        mixed.select(col("doc_id"), col("source"), col("epoch"))
          .orderBy("doc_id", "epoch")
      },
      oracle = Some("""
        WITH w(source, w) AS (VALUES ('src0', 0.5), ('src1', 0.25),
                                     ('src2', 0.125), ('src3', 0.125)),
        n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
              FROM documents GROUP BY source),
        t AS (SELECT n.source, n.n,
                     CAST(FLOOR(130.0 * w.w / 1.0) AS BIGINT) AS need
              FROM n JOIN w USING (source)),
        th AS (SELECT source, n, need, need // n AS e,
                      ((need % n) * 4294967296) // n AS thr
               FROM t),
        c AS (SELECT d.doc_id, d.source,
                     th.e + CASE WHEN (d.doc_id * 2654435761) % 4294967296 < th.thr
                                 THEN 1 ELSE 0 END AS copies
              FROM documents d JOIN th USING (source))
        SELECT doc_id, source,
               unnest(range(1, copies + 1)) AS epoch
        FROM c WHERE copies >= 1
        ORDER BY doc_id, epoch""")),

    // ----------------------------------------------------------------
    // q122: quality-pareto selection — keep the best 25% of each source
    // by score, ties by id (Sampling.topFractionByScore, the exact
    // tier; the approx_percentile tier is the corpus-scale path,
    // spec-pinned against this one). ceil(n * 0.25) is exact float
    // math (0.25 is a power of two), the rest is a row_number window
    // both engines order identically. Row-level output: one boundary
    // or tie-break drift mismatches.
    "q122_quality_pareto" -> QueryDef(
      fn = (s, d) => {
        Sampling.topFractionByScore(
          docs(s, d).select("doc_id", "source", "n_chars"),
          "source", "n_chars", "doc_id", frac = 0.25)
          .select("doc_id", "source", "n_chars")
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
                   FROM documents GROUP BY source),
        k AS (SELECT source, CAST(CEIL(n * 0.25) AS BIGINT) AS keep FROM n),
        r AS (SELECT doc_id, source, n_chars,
                     ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY n_chars DESC, doc_id) AS rn
              FROM documents)
        SELECT doc_id, source, n_chars
        FROM r JOIN k USING (source)
        WHERE rn <= keep
        ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // q123: TOKEN-budget mixture — q121's formula with the per-source
    // masses in n_chars units (massCol), the unit real training
    // mixtures budget in: need_s is the source's share of a 20 000-char
    // budget, epochs are whole-corpus repeats, and the hash remainder
    // picks rows totalling ~the remaining char mass (binomial in mass —
    // the selection hash is independent of row size). At sf0.01 src0's
    // share EXCEEDS its corpus (epoch 1 + remainder) while src1-3
    // down-sample — both branches inside the hash.
    "q123_token_budget_mix" -> QueryDef(
      fn = (s, d) => {
        val mixed = Sampling.mixtureSample(
          docs(s, d).select("doc_id", "source", "n_chars"), "source", "doc_id",
          weights = Map("src0" -> 0.5, "src1" -> 0.25,
            "src2" -> 0.125, "src3" -> 0.125),
          budget = 20000L, massCol = "n_chars")
        mixed.select(col("doc_id"), col("source"), col("epoch"))
          .orderBy("doc_id", "epoch")
      },
      oracle = Some("""
        WITH w(source, w) AS (VALUES ('src0', 0.5), ('src1', 0.25),
                                     ('src2', 0.125), ('src3', 0.125)),
        n AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n
              FROM documents GROUP BY source),
        t AS (SELECT n.source, n.n,
                     CAST(FLOOR(20000.0 * w.w / 1.0) AS BIGINT) AS need
              FROM n JOIN w USING (source)),
        th AS (SELECT source, n, need, need // n AS e,
                      ((need % n) * 4294967296) // n AS thr
               FROM t),
        c AS (SELECT d.doc_id, d.source,
                     th.e + CASE WHEN (d.doc_id * 2654435761) % 4294967296 < th.thr
                                 THEN 1 ELSE 0 END AS copies
              FROM documents d JOIN th USING (source))
        SELECT doc_id, source,
               unnest(range(1, copies + 1)) AS epoch
        FROM c WHERE copies >= 1
        ORDER BY doc_id, epoch""")),

    // ----------------------------------------------------------------
    // q124: UniMax epoch-capped allocation (Chung '23) — budget spread
    // as uniformly as possible, no source past epochCap=3 repeats, the
    // integer waterfill picking the capped prefix. The input skews the
    // near-uniform sources with per-source id filters (src1 keeps
    // doc_id%3==0, src2 doc_id%7==0) so at sf0.01 src2 CAPS at exactly
    // 3 epochs while the free sources waterfill to e=2 (src1) and e=1
    // (src0/src3) + hash remainders — capped, up-sample, and remainder
    // branches all inside the one hashed row. The oracle replays the
    // same all-integer waterfill with window SQL.
    "q124_unimax_mix" -> QueryDef(
      fn = (s, d) => {
        val inp = docs(s, d).select("doc_id", "source", "n_chars")
          .filter(col("source") === "src0" ||
            (col("source") === "src1" && pmod(col("doc_id"), lit(3L)) === 0) ||
            (col("source") === "src2" && pmod(col("doc_id"), lit(7L)) === 0) ||
            col("source") === "src3")
        val mixed = Sampling.unimaxSample(inp, "source", "doc_id",
          budget = 30000L, epochCap = 3, massCol = "n_chars")
        mixed.select(col("doc_id"), col("source"), col("epoch"))
          .orderBy("doc_id", "epoch")
      },
      oracle = Some("""
        WITH inp AS (
          SELECT doc_id, source, n_chars FROM documents
          WHERE source = 'src0' OR (source = 'src1' AND doc_id % 3 = 0)
             OR (source = 'src2' AND doc_id % 7 = 0) OR source = 'src3'
        ),
        n AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n
              FROM inp GROUP BY source),
        o AS (SELECT source, n, 3 * n AS cap,
                     CAST(ROW_NUMBER() OVER (ORDER BY 3 * n, source) AS BIGINT) AS j,
                     CAST(SUM(3 * n) OVER (ORDER BY 3 * n, source
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                     CAST(COUNT(*) OVER () AS BIGINT) AS k
              FROM n),
        f AS (SELECT *, CASE WHEN j < k THEN cap * (k - j) <= 30000 - cum
                             ELSE cum <= 30000 END AS flag
              FROM o),
        p AS (SELECT COALESCE(MAX(CASE WHEN flag THEN j END), 0) AS p,
                     COALESCE(MAX(CASE WHEN flag THEN cum END), 0) AS cump
              FROM f),
        a AS (SELECT f.source, f.n,
                     CAST(CASE WHEN f.j <= p.p THEN f.cap
                               ELSE (30000 - p.cump) // (f.k - p.p)
                          END AS BIGINT) AS need
              FROM f CROSS JOIN p),
        th AS (SELECT source, n, need, need // n AS e,
                      ((need % n) * 4294967296) // n AS thr
               FROM a),
        c AS (SELECT i.doc_id, i.source,
                     th.e + CASE WHEN (i.doc_id * 2654435761) % 4294967296 < th.thr
                                 THEN 1 ELSE 0 END AS copies
              FROM inp i JOIN th USING (source))
        SELECT doc_id, source,
               unnest(range(1, copies + 1)) AS epoch
        FROM c WHERE copies >= 1
        ORDER BY doc_id, epoch""")),

    // ----------------------------------------------------------------
    // q125: q85's decontamination scenario driven through the BLOOM
    // prefilter tier (contaminationHitsBloom) — the 100-TB shape for a
    // benchmark gram set too big to broadcast as strings: an ARRAY<LONG>
    // bloom built and probed entirely in codegen DataFrame algebra
    // drops all but hits + fpp of the corpus grams BEFORE the exact
    // confirm join. A bloom has no false negatives and the confirm join
    // removes the false positives, so the output is IDENTICAL to the
    // exact tier — q85's oracle serves verbatim, and the hash pins that
    // the prefilter dropped nothing it shouldn't.
    "q125_decontam_bloom" -> QueryDef(
      fn = (s, d) => {
        val base = docs(s, d).select(col("doc_id"), col("text"))
        val bench = base.filter(col("doc_id") % 50 === 0)
        val aug = base
          .withColumn("bkey", expr("(doc_id DIV 50) * 50"))
          .join(bench.select(col("doc_id").as("bkey"), col("text").as("btext")),
            Seq("bkey"))
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 3,
              concat(col("text"), lit(" "),
                concat_ws(" ", slice(split(col("btext"), " "), 1, 5))))
              .otherwise(col("text")).as("t"))
          .filter(col("doc_id") % 50 =!= 0)
        TextAnalysis.contaminationHitsBloom(aug,
          bench.select(col("text").as("t")), "doc_id", "t", n = 5)
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        btok AS (SELECT string_split(text, ' ') AS tk FROM bench),
        bg AS (SELECT DISTINCT unnest(list_transform(range(1, greatest(len(tk) - 3, 1)),
                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS gram
               FROM btok),
        aug AS (SELECT d.doc_id,
                  CASE WHEN d.doc_id % 7 = 3
                       THEN d.text || ' ' || array_to_string(string_split(b.text, ' ')[1:5], ' ')
                       ELSE d.text END AS t
                FROM documents d JOIN bench b ON b.doc_id = (d.doc_id // 50) * 50
                WHERE d.doc_id % 50 <> 0),
        dtok AS (SELECT doc_id, string_split(t, ' ') AS tk FROM aug),
        dg AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tk) - 3, 1)),
                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS gs
               FROM dtok),
        x AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS gram FROM dg)
        SELECT x.doc_id, CAST(COUNT(*) AS INTEGER) AS n_hits,
               CAST(MIN(n_grams) AS INTEGER) AS n_grams
        FROM x JOIN bg USING (gram) GROUP BY x.doc_id ORDER BY x.doc_id""")),

    // ----------------------------------------------------------------
    // q126: the END-TO-END curation pipeline a training-data user
    // actually runs, composed from the engine's own operators inside
    // ONE hashed row: quality gate (>= 20 tokens) → bloom-tier
    // decontamination against the q85 benchmark (planted hits) → exact
    // dedup (planted clones at doc_id + 1e6 collapse to the original)
    // → uniform mixture materialization (budget 600 over 20 sources,
    // epochs + hash remainder). Every stage's membership decisions
    // reach the output: a silently-skipped stage (clones surviving,
    // contaminated docs leaking, a gate off by one token) changes the
    // hash. The oracle replays the full chain in SQL.
    "q126_pipeline_e2e" -> QueryDef(
      fn = (s, d) => {
        val base = docs(s, d).select(col("doc_id"), col("source"), col("text"))
        val bench = base.filter(col("doc_id") % 50 === 0)
        val aug = base
          .withColumn("bkey", expr("(doc_id DIV 50) * 50"))
          .join(bench.select(col("doc_id").as("bkey"), col("text").as("btext")),
            Seq("bkey"))
          .select(col("doc_id"), col("source"),
            when(col("doc_id") % 7 === 3,
              concat(col("text"), lit(" "),
                concat_ws(" ", slice(split(col("btext"), " "), 1, 5))))
              .otherwise(col("text")).as("t"))
          .filter(col("doc_id") % 50 =!= 0)
        val corp = aug.union(aug.filter(col("doc_id") % 9 === 2)
          .withColumn("doc_id", col("doc_id") + 1000000L))
        // round 14: the chain now drives the STAGED production entry
        // point (Curation.pipeline) — stage semantics unchanged, so the
        // full-chain oracle below now covers the entry point itself;
        // each stage materializes once instead of re-deriving the scan
        val weights = (0 until 20).map(i => s"src$i" -> 1.0).toMap
        Curation.pipeline(corp, "doc_id", "t", "source",
            weights, budget = 600L, minTokens = 20,
            benchmark = Some(bench.select(col("text").as("t"))),
            staging = Staging.Local)
          .mixed
          .select(col("doc_id"), col("source"), col("epoch"))
          .orderBy("doc_id", "epoch")
      },
      oracle = Some("""
        WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        aug AS (SELECT d.doc_id, d.source,
                  CASE WHEN d.doc_id % 7 = 3
                       THEN d.text || ' ' || array_to_string(string_split(b.text, ' ')[1:5], ' ')
                       ELSE d.text END AS t
                FROM documents d JOIN bench b ON b.doc_id = (d.doc_id // 50) * 50
                WHERE d.doc_id % 50 <> 0),
        corp AS (SELECT doc_id, source, t FROM aug
                 UNION ALL
                 SELECT doc_id + 1000000, source, t FROM aug WHERE doc_id % 9 = 2),
        gated AS (SELECT * FROM corp WHERE len(string_split(t, ' ')) >= 20),
        btok AS (SELECT string_split(text, ' ') AS tk FROM bench),
        bg AS (SELECT DISTINCT unnest(list_transform(range(1, greatest(len(tk) - 3, 1)),
                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS gram
               FROM btok),
        dtok AS (SELECT doc_id, string_split(t, ' ') AS tk FROM gated),
        dg AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(tk) - 3, 1)),
                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]))) AS gram
               FROM dtok),
        bad AS (SELECT DISTINCT doc_id FROM dg JOIN bg USING (gram)),
        clean AS (SELECT * FROM gated
                  WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
        keep AS (SELECT t, MIN(doc_id) AS doc_id FROM clean GROUP BY t),
        uniq AS (SELECT c.doc_id, c.source FROM clean c
                 JOIN keep k ON k.doc_id = c.doc_id),
        n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
              FROM uniq GROUP BY source),
        th AS (SELECT source, n,
                      CAST(FLOOR(CAST(600.0 AS DOUBLE) * 1.0 / 20.0) AS BIGINT) AS need
               FROM n),
        t2 AS (SELECT source, n, need, need // n AS e,
                      ((need % n) * 4294967296) // n AS thr
               FROM th),
        c AS (SELECT u.doc_id, u.source,
                     t2.e + CASE WHEN (u.doc_id * 2654435761) % 4294967296 < t2.thr
                                 THEN 1 ELSE 0 END AS copies
              FROM uniq u JOIN t2 USING (source))
        SELECT doc_id, source,
               unnest(range(1, copies + 1)) AS epoch
        FROM c WHERE copies >= 1
        ORDER BY doc_id, epoch""")),

    // ----------------------------------------------------------------
    // q127: quality-aware dedup survivor selection — keepBestCanonical
    // keeps the HIGHEST-score member of each duplicate component (ties
    // by min id), the keep-the-longest-copy semantics production dedup
    // wants, vs keepCanonical's min-id. Planted clone CHAINS (d →
    // d+1e6 → d+2e6, each strictly longer) force real transitive CC on
    // the Spark side; the oracle knows the chain structure and groups
    // by doc_id % 1e6, so the hash pins both the component closure and
    // the argmax (survivor = the DEEPEST clone, never the original).
    "q127_keep_best_dedup" -> QueryDef(
      fn = (s, d) => {
        val base = docs(s, d).select(col("doc_id"), col("source"), col("text"))
        val c1 = base.filter(col("doc_id") % 4 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
            concat(col("text"), lit(" clonextra")).as("text"))
        val c2 = base.filter(col("doc_id") % 8 === 1)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("source"),
            concat(col("text"), lit(" clonextra clonextra2")).as("text"))
        val corp = base.unionByName(c1).unionByName(c2)
        val pairs = base.filter(col("doc_id") % 4 === 1)
          .select(col("doc_id").as("a"), (col("doc_id") + 1000000L).as("b"))
          .union(base.filter(col("doc_id") % 8 === 1)
            .select((col("doc_id") + 1000000L).as("a"),
              (col("doc_id") + 2000000L).as("b")))
        val scored = corp.withColumn("score", length(col("text")))
        Dedup.keepBestCanonical(scored, "doc_id", pairs, "a", "b", "score")
          .select(col("doc_id"), col("source"),
            col("score").as("n_chars_kept"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH base AS (SELECT doc_id, source, text FROM documents),
        c1 AS (SELECT doc_id + 1000000 AS doc_id, source,
                      text || ' clonextra' AS text
               FROM base WHERE doc_id % 4 = 1),
        c2 AS (SELECT doc_id + 2000000 AS doc_id, source,
                      text || ' clonextra clonextra2' AS text
               FROM base WHERE doc_id % 8 = 1),
        corp AS (SELECT * FROM base UNION ALL
                 SELECT * FROM c1 UNION ALL
                 SELECT * FROM c2),
        grp AS (SELECT doc_id, source, length(text) AS sc,
                       doc_id % 1000000 AS g
                FROM corp),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY g
                        ORDER BY sc DESC, doc_id) AS rn
              FROM grp)
        SELECT doc_id, source, CAST(sc AS INTEGER) AS n_chars_kept
        FROM r WHERE rn = 1 ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // q128: frozen-vocab greedy subword token counting (the BPE unit
    // real training mixtures budget in — whitespace counts under-count
    // code/CJK by multiples). Spark runs the codegen'd greedy
    // longest-match kernel (functions/BpeExpression.scala); the oracle
    // replays the SAME function without recursion via POINTER DOUBLING
    // over the per-position jump table — next(p) = p + l(p) computed in
    // parallel for every position by list_transform, composed in six
    // log2 rounds (j0..j5 cover 63 jumps = words to 64 tokens; fixture
    // max word length is 8, and a longer regenerated fixture would
    // hash-mismatch loudly, not silently), then a binary-counting
    // descent reads off the greedy token count. Vocab membership is a
    // delimiter-string probe ('|piece|'), exact because neither the
    // vocab nor the fixture contains '|'.
    "q128_bpe_count" -> QueryDef(
      fn = (s, d) =>
        TextAnalysis.subwordTokenCount(
          docs(s, d).select(col("doc_id"), col("text")), "doc_id", "text")
          .select(col("doc_id"),
            size(split(col("text"), " ")).as("n_ws"),
            col("bpe_tokens").as("n_bpe"))
          .orderBy("doc_id"),
      oracle = Some(s"""
        WITH $bpeTokensSql
        , ws AS (SELECT doc_id, len(string_split(text, ' ')) AS n_ws
                 FROM documents)
        SELECT w.doc_id, CAST(w.n_ws AS INTEGER) AS n_ws,
               CAST(SUM(t.t) AS INTEGER) AS n_bpe
        FROM ws w JOIN __bpe_wt t USING (doc_id)
        GROUP BY w.doc_id, w.n_ws
        ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // q129: training mixture budgeted in BPE units — q123's token-mass
    // formula with massCol = the q128 greedy subword counts, closing
    // the loop the round-13 verdict called out (every budget was
    // whitespace units). The oracle recomputes the subword masses with
    // the q128 pointer-doubling CTE, then replays the mixture formula
    // (need // n epochs + the 2^32 hash-remainder pick) exactly.
    "q129_mixture_bpe" -> QueryDef(
      fn = (s, d) => {
        val counted = TextAnalysis.subwordTokenCount(
          docs(s, d).select(col("doc_id"), col("source"), col("text")),
          "doc_id", "text")
        Sampling.mixtureSample(
          counted.select("doc_id", "source", "bpe_tokens"), "source", "doc_id",
          weights = Map("src0" -> 0.5, "src1" -> 0.25,
            "src2" -> 0.125, "src3" -> 0.125),
          budget = 30000L, massCol = "bpe_tokens")
          .select(col("doc_id"), col("source"), col("epoch"))
          .orderBy("doc_id", "epoch")
      },
      oracle = Some(s"""
        WITH $bpeTokensSql
        , dm AS (SELECT doc_id, CAST(SUM(t) AS BIGINT) AS bpe
                 FROM __bpe_wt GROUP BY doc_id),
        w(source, w) AS (VALUES ('src0', 0.5), ('src1', 0.25),
                                ('src2', 0.125), ('src3', 0.125)),
        n AS (SELECT d.source, CAST(SUM(m.bpe) AS BIGINT) AS n
              FROM documents d JOIN dm m USING (doc_id) GROUP BY d.source),
        t AS (SELECT n.source, n.n,
                     CAST(FLOOR(30000.0 * w.w / 1.0) AS BIGINT) AS need
              FROM n JOIN w USING (source)),
        th AS (SELECT source, n, need, need // n AS e,
                      ((need % n) * 4294967296) // n AS thr
               FROM t),
        c AS (SELECT d.doc_id, d.source,
                     th.e + CASE WHEN (d.doc_id * 2654435761) % 4294967296 < th.thr
                                 THEN 1 ELSE 0 END AS copies
              FROM documents d JOIN th USING (source))
        SELECT doc_id, source,
               unnest(range(1, copies + 1)) AS epoch
        FROM c WHERE copies >= 1
        ORDER BY doc_id, epoch""")),

    // ----------------------------------------------------------------
    // q130: perceptual-hash multimodal dedup — image corpora dedup on
    // dHash the way text dedups on MinHash. A deterministic synthetic
    // PNG corpus (one textured image per doc_id < 400, REAL ImageIO
    // encode/decode in the multimodal mapPartitions codec stage) plants
    // two copy classes: a re-encode under a different color model
    // (id%5==1 — bytes and sha256 differ, pixels identical) and a 2x
    // nearest-neighbor upscale (id%5==2 — grid-aligned dims, so every
    // 9x8 dHash cell mean is preserved exactly). Both copy classes land
    // at Hamming 0, where the banded candidate join's pigeonhole recall
    // is exactly 1.0 — the output row pins corpus size, decode rate,
    // per-class recall, and the Hamming-0 claim. DuckDB cannot decode
    // PNGs, so the oracle is the q44-style CONTRACT row computed from
    // the plant arithmetic; the dHash bit semantics are pinned
    // byte-level in MultimodalFixtureSpec.
    "q130_phash_dedup" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val idsDf = docs(s, d).select(col("doc_id")).filter(col("doc_id") < 400)
        val images = idsDf.as[Long].mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false) // codec init, per partition
          def mk(id: Long, scale: Int, argb: Boolean): Array[Byte] = {
            // grid-aligned dims (w % 9 == 0, h % 8 == 0): the 2x resize
            // then preserves every dHash cell mean exactly
            val w = 9 * (2 + (id % 3).toInt) * scale
            val h = 8 * (2 + (id % 4).toInt) * scale
            val img = new java.awt.image.BufferedImage(w, h,
              if (argb) java.awt.image.BufferedImage.TYPE_INT_ARGB
              else java.awt.image.BufferedImage.TYPE_INT_RGB)
            val a = (id * 37 % 97 + 3).toInt
            val b = (id * 53 % 89 + 5).toInt
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val sx = x / scale
                val sy = y / scale
                val r = (sx * a + sy * b + (sx * sy % 31) * 7 + id.toInt) % 256
                val g = (sx * b + sy * a * 2 + id.toInt * 3) % 256
                val bl = ((sx + sy) * a + (sx * sx % 23) * b) % 256
                img.setRGB(x, y, 0xff000000 | (r << 16) | (g << 8) | bl)
                x += 1
              }
              y += 1
            }
            val baos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", baos)
            baos.toByteArray
          }
          it.flatMap { id =>
            Seq((id, mk(id, 1, argb = false))) ++
              (if (id % 5 == 1) Seq((id + 1000000L, mk(id, 1, argb = true)))
               else Seq.empty) ++
              (if (id % 5 == 2) Seq((id + 2000000L, mk(id, 2, argb = false)))
               else Seq.empty)
          }
        }.toDF("media_id", "bytes")
        val hashed = Multimodal.decodeImageDHash(images, "media_id", "bytes")
          .localCheckpoint(true)
        val pairs = Dedup.signaturePairs(
          hashed.filter(col("decoded")), "media_id", "dhash")
          .localCheckpoint(true)
        val expReenc = idsDf.filter(col("doc_id") % 5 === 1)
          .select(col("doc_id").as("a_id"), (col("doc_id") + 1000000L).as("b_id"))
        val expResize = idsDf.filter(col("doc_id") % 5 === 2)
          .select(col("doc_id").as("a_id"), (col("doc_id") + 2000000L).as("b_id"))
        val planted = expReenc.union(expResize)
        hashed.agg(count(lit(1)).as("n_images"),
            sum(when(col("decoded"), 1L).otherwise(0L)).as("n_decoded"))
          .crossJoin(broadcast(expReenc.join(pairs, Seq("a_id", "b_id"), "left_anti")
            .agg(count(lit(1)).as("__mr"))))
          .crossJoin(broadcast(expResize.join(pairs, Seq("a_id", "b_id"), "left_anti")
            .agg(count(lit(1)).as("__mz"))))
          .crossJoin(broadcast(planted.join(pairs, Seq("a_id", "b_id"))
            .agg(coalesce(max("hamming"), lit(0)).as("__mh"))))
          .select(col("n_images"), col("n_decoded"),
            (col("__mr") === 0L).as("reenc_found"),
            (col("__mz") === 0L).as("resize_found"),
            (col("__mh") === 0).as("planted_hamming_zero"))
      },
      oracle = Some("""
        SELECT CAST(COUNT(*)
                 + SUM(CASE WHEN doc_id % 5 = 1 THEN 1 ELSE 0 END)
                 + SUM(CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_images,
               CAST(COUNT(*)
                 + SUM(CASE WHEN doc_id % 5 = 1 THEN 1 ELSE 0 END)
                 + SUM(CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_decoded,
               TRUE AS reenc_found, TRUE AS resize_found,
               TRUE AS planted_hamming_zero
        FROM documents WHERE doc_id < 400""")),

    // ----------------------------------------------------------------
    // q131: GREEDY vs MERGE-ORDER subword counting provably differ —
    // the round-14 verdict's top task. Both countings run over the SAME
    // piece inventory (greedy vocab = the merge list's outputs), so any
    // count difference is pure tokenizer SEMANTICS: greedy longest-match
    // commits to the longest piece at each position (WordPiece serving),
    // merge-order replays the ranked rules (GPT-2/tiktoken) and a
    // low-rank merge can cross a boundary greedy already took — 'ting':
    // greedy ti|n|g = 3, merge-order t|ing = 2. The corpus words alone
    // happen to agree under the demo rules, so two literal fixture docs
    // are unioned IN BOTH ENGINES to pin the disagreement into the
    // hashed output. Oracles: the greedy pointer-doubling chain and the
    // merge-round chain (7 rounds ≥ maxWordLen−1 = 7), both replaying
    // the codegen kernels bit-for-bit in DuckDB.
    "q131_bpe_merge_vs_greedy" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val rules = TextAnalysis.demoBpeMerges
        val vocab = rules.map { case (a, b) => a + b }
        val src = docs(s, d).select(col("doc_id"), col("text")).union(
          Seq((90000001L, "ting testing sorting"),
            (90000002L, "counting the tion")).toDF("doc_id", "text"))
        val g = TextAnalysis.subwordTokenCount(src, "doc_id", "text",
          vocab, out = "n_greedy")
        TextAnalysis.mergeTokenCount(g, "doc_id", "text", rules, out = "n_merge")
          .select(col("doc_id"), col("n_greedy"), col("n_merge"),
            (col("n_greedy") =!= col("n_merge")).as("differs"))
          .orderBy("doc_id")
      },
      oracle = Some {
        val rules = graft.operators.TextAnalysis.demoBpeMerges
        val vocab = rules.map { case (a, b) => a + b }
        s"""
        WITH __q131_lit(doc_id, text) AS (VALUES
            (CAST(90000001 AS BIGINT), 'ting testing sorting'),
            (CAST(90000002 AS BIGINT), 'counting the tion')),
        __q131_src AS (SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id, text FROM __q131_lit),
        ${greedySubwordSql("__q131_src", vocab, "__gd")},
        ${mergeTokensSql("__q131_src", rules, rounds = 7, "__mg")},
        g AS (SELECT doc_id, CAST(SUM(t) AS INTEGER) AS n_greedy
              FROM __gd_wt GROUP BY doc_id)
        SELECT g.doc_id, g.n_greedy, m.n_merge,
               g.n_greedy <> m.n_merge AS differs
        FROM g JOIN __mg_dt m USING (doc_id)
        ORDER BY doc_id"""
      }),

    // ----------------------------------------------------------------
    // q132: DISTRIBUTED BPE vocabulary training — learn the merge list
    // from the corpus itself (Sennrich et al. 2016 as k bounded Spark
    // rounds over the word-TYPE table; see TextAnalysis.trainBpeMerges).
    // The oracle re-learns it in DuckDB: 8 unrolled rounds of
    // pair-count → argmax (count desc, pair asc) → wrapped-string
    // replace — identical state representation, so the learned rules,
    // their ranks, AND their winning counts must agree exactly.
    "q132_bpe_train" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        TextAnalysis.trainBpeMerges(docs(s, d).select("text"), "text",
          numMerges = 8, minFreq = 2L)
          .zipWithIndex
          .map { case ((a, b, c), i) => (i, a, b, c) }
          .toDF("merge_rank", "merge_left", "merge_right", "pair_count")
          .orderBy("merge_rank")
      },
      oracle = Some(bpeTrainSql("documents", numMerges = 8, minFreq = 2L))),

    // ----------------------------------------------------------------
    // q133: training mixture budgeted in MERGE-ORDER units — q129's
    // mixture with massCol = the merge-order counts, closing the
    // round-14 verdict's "mixture row budgeted in merge-order units".
    // The oracle recomputes the masses with the q131 merge-round chain,
    // then replays the mixture formula (need // n epochs + the 2^32
    // hash-remainder pick) exactly as q129 does.
    "q133_mixture_merge_bpe" -> QueryDef(
      fn = (s, d) => {
        val counted = TextAnalysis.mergeTokenCount(
          docs(s, d).select(col("doc_id"), col("source"), col("text")),
          "doc_id", "text")
        Sampling.mixtureSample(
          counted.select("doc_id", "source", "bpe_tokens"), "source", "doc_id",
          weights = Map("src0" -> 0.5, "src1" -> 0.25,
            "src2" -> 0.125, "src3" -> 0.125),
          budget = 30000L, massCol = "bpe_tokens")
          .select(col("doc_id"), col("source"), col("epoch"))
          .orderBy("doc_id", "epoch")
      },
      oracle = Some(s"""
        WITH ${mergeTokensSql("documents",
          graft.operators.TextAnalysis.demoBpeMerges, rounds = 7, "__mg")}
        , dm AS (SELECT doc_id, CAST(n_merge AS BIGINT) AS bpe FROM __mg_dt),
        w(source, w) AS (VALUES ('src0', 0.5), ('src1', 0.25),
                                ('src2', 0.125), ('src3', 0.125)),
        n AS (SELECT d.source, CAST(SUM(m.bpe) AS BIGINT) AS n
              FROM documents d JOIN dm m USING (doc_id) GROUP BY d.source),
        t AS (SELECT n.source, n.n,
                     CAST(FLOOR(30000.0 * w.w / 1.0) AS BIGINT) AS need
              FROM n JOIN w USING (source)),
        th AS (SELECT source, n, need, need // n AS e,
                      ((need % n) * 4294967296) // n AS thr
               FROM t),
        c AS (SELECT d.doc_id, d.source,
                     th.e + CASE WHEN (d.doc_id * 2654435761) % 4294967296 < th.thr
                                 THEN 1 ELSE 0 END AS copies
              FROM documents d JOIN th USING (source))
        SELECT doc_id, source,
               unnest(range(1, copies + 1)) AS epoch
        FROM c WHERE copies >= 1
        ORDER BY doc_id, epoch""")),

    // ----------------------------------------------------------------
    // q134: SIMHASH ingest-loop landing path (round 15 — the verdict's
    // loop-completeness task): the family had a persisted index,
    // incremental miner and compaction but no streaming writer; this
    // row drives the NEW IngestLoop.simhashIngest end-to-end INSIDE the
    // hashed query (the q114 discipline): corpus (documents + id-shifted
    // clones) lands as three parquet shards in a landing directory, the
    // foreachBatch loop drains them (one micro-batch each — fence, meta
    // binding, append-only partitions, unfenced mine + generation
    // check), and the contract reduces to what DuckDB can oracle:
    //   n_batches_ok        >= 3 micro-batches ran
    //   n_identical_cross   md5-equal (a<b) pairs over the union —
    //                       data-derived, DuckDB reproduces it
    //   identical_all_found every such pair emitted at hamming 0
    //                       (equal text -> equal signature -> collides
    //                       in all four chunks; theorem)
    //   union_matches_full  the accumulated per-batch pair union ==
    //                       one batch simhashPairs over everything
    "q134_simhash_ingest" -> QueryDef(
      fn = (s, d) => {
        resetFamily(s, "q134sh")
        val corpus = docs(s, d).select(col("doc_id"), col("text"))
          .union(docs(s, d).select((col("doc_id") + 1000000L).as("doc_id"),
            col("text"))).localCheckpoint(true)
        val landing = landShards(corpus, "doc_id", "q134")
        val pairsDir = java.nio.file.Files.createTempDirectory("q134_pairs").toString
        val ckpt = java.nio.file.Files.createTempDirectory("q134_ckpt").toString
        val q = IngestLoop.simhashIngest(
          s.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", "1").parquet(landing),
          "doc_id", "text", prefix = "q134sh", pairsDir = pairsDir,
          checkpointDir = ckpt)
        // the full-batch reference pairs and the md5-identical cross set
        // depend only on the checkpointed corpus, not on the loop — run
        // them concurrently with the draining micro-batches (guide §2.6:
        // the loop's small jobs leave most cores idle)
        val (nBatches, streamed, full, identCross) = FitPool.legs(s) { scope =>
          val fullLeg = scope.fork {
            Dedup.simhashPairs(corpus, "doc_id", "text").localCheckpoint(true)
          }
          val identLeg = scope.fork {
            corpus
              .select(col("doc_id").as("a_id"), md5(col("text")).as("__h"))
              .join(corpus.select(col("doc_id").as("b_id"), md5(col("text")).as("__h")),
                Seq("__h"))
              .filter(col("a_id") < col("b_id"))
              .select("a_id", "b_id").localCheckpoint(true)
          }
          q.awaitTermination()
          val nB = new java.io.File(pairsDir).listFiles()
            .count(_.getName.startsWith("ingest_batch="))
          (nB, s.read.parquet(pairsDir)
            .select("a_id", "b_id", "hamming").localCheckpoint(true),
            fullLeg.join(), identLeg.join())
        }
        val missed = identCross.join(
          streamed.filter(col("hamming") === 0).select("a_id", "b_id"),
          Seq("a_id", "b_id"), "left_anti")
        val d1 = streamed.exceptAll(full)
        val d2 = full.exceptAll(streamed)
        identCross.agg(count(lit(1)).as("n_identical_cross"))
          .crossJoin(broadcast(missed.agg(count(lit(1)).as("__nm"))))
          .crossJoin(broadcast(d1.agg(count(lit(1)).as("__d1"))))
          .crossJoin(broadcast(d2.agg(count(lit(1)).as("__d2"))))
          .select(lit(nBatches >= 3).as("n_batches_ok"),
            col("n_identical_cross"),
            (col("__nm") === 0L).as("identical_all_found"),
            (col("__d1") === 0L && col("__d2") === 0L).as("union_matches_full"))
      },
      oracle = Some("""
        WITH u AS (SELECT doc_id, text FROM documents
                   UNION ALL SELECT doc_id + 1000000, text FROM documents)
        SELECT TRUE AS n_batches_ok,
               CAST(COUNT(*) AS BIGINT) AS n_identical_cross,
               TRUE AS identical_all_found, TRUE AS union_matches_full
        FROM u a JOIN u b ON a.doc_id < b.doc_id AND md5(a.text) = md5(b.text)""")),

    // ----------------------------------------------------------------
    // q135: CONTAINMENT ingest-loop landing path — q134's quote/excerpt
    // sibling, with a STRONGER oracle: containment candidates are
    // deterministic-complete (any pair sharing >= 1 shingle), so the
    // accumulated per-batch pair union equals the full batch join
    // EXACTLY and DuckDB enumerates the ENTIRE expected pair list (the
    // q103 corpus shape and SQL) — every streamed row is hash-compared,
    // not reduced to a contract boolean.
    "q135_containment_ingest" -> QueryDef(
      fn = (s, d) => {
        resetFamily(s, "q135cn")
        val corpus = quoteCorpus(s, d).localCheckpoint(true)
        val landing = landShards(corpus, "doc_id", "q135")
        val pairsDir = java.nio.file.Files.createTempDirectory("q135_pairs").toString
        val ckpt = java.nio.file.Files.createTempDirectory("q135_ckpt").toString
        val q = IngestLoop.containmentIngest(
          s.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", "1").parquet(landing),
          "doc_id", "text", prefix = "q135cn", pairsDir = pairsDir,
          checkpointDir = ckpt, tau = 0.5, n = 3)
        q.awaitTermination()
        s.read.parquet(pairsDir).select("a_id", "b_id", "containment")
          .orderBy("a_id", "b_id")
      },
      oracle = Some("""
        WITH b0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        ex AS (SELECT doc_id + 20000000 AS doc_id,
                      array_to_string(string_split(text, ' ')[1:len(string_split(text, ' ')) // 2], ' ') AS text
               FROM b0),
        u AS (SELECT doc_id, text FROM b0 UNION ALL SELECT doc_id, text FROM ex),
        sh0 AS (SELECT doc_id,
                  list_distinct(list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS sh
                FROM u),
        s AS (SELECT doc_id, sh, len(sh) AS m FROM sh0 WHERE len(sh) > 0),
        p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                     CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) * 1000000 // a.m AS DOUBLE) / 1000000 AS containment
              FROM s a JOIN s b ON a.doc_id <> b.doc_id)
        SELECT a_id, b_id, containment FROM p WHERE containment >= 0.5
        ORDER BY a_id, b_id""")),

    // ----------------------------------------------------------------
    // q136: spectral-fingerprint AUDIO dedup (round 15 — the verdict's
    // audio-tier task; the q130 pattern on WAV clips instead of PNGs).
    // A deterministic synthetic WAV corpus (one two-sinusoid PCM-16
    // clip per doc_id < 300, REAL RIFF encode/decode in the multimodal
    // mapPartitions codec stage) plants three classes: a container
    // re-encode with an INFO metadata chunk (id%5==1 — bytes and sha256
    // differ, samples identical), an exact half-gain copy (id%5==2 —
    // samples are even, so the halving is exact and every Goertzel
    // energy scales by exactly 2^-2: all 64 adjacent-band comparisons
    // preserved), and a corrupt payload (id%5==3 — must survive as
    // decoded=false, never kill the partition). Both copy classes land
    // at Hamming 0 through the SAME Dedup.signaturePairs banded join
    // the image dHash path uses (pigeonhole recall exactly 1.0 there).
    // DuckDB cannot decode WAVs, so the oracle is the q130-style
    // CONTRACT row from the plant arithmetic; the codec and fingerprint
    // bit semantics are pinned byte-level in MultimodalFixtureSpec.
    "q136_audio_dedup" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val idsDf = docs(s, d).select(col("doc_id")).filter(col("doc_id") < 300)
        val clips = idsDf.as[Long].mapPartitions { it =>
          import graft.operators.Multimodal.AudioCodec
          def mk(id: Long, gainShift: Int, extra: Boolean): Array[Byte] = {
            val n = 2048 + (id % 3).toInt * 512
            val f1 = (1 + id % 5).toDouble / 32.0
            val f2 = (2 + id % 7).toDouble / 32.0
            val base = Array.tabulate(n) { i =>
              2 * math.round(
                3000.0 * StrictMath.sin(2.0 * StrictMath.PI * f1 * i) +
                1500.0 * StrictMath.sin(2.0 * StrictMath.PI * f2 * i + 0.7)).toInt
            }
            AudioCodec.encodeWav(base.map(_ >> gainShift), 8000, extra)
          }
          it.flatMap { id =>
            Seq((id, mk(id, 0, extra = false))) ++
              (if (id % 5 == 1) Seq((id + 1000000L, mk(id, 0, extra = true)))
               else Seq.empty) ++
              (if (id % 5 == 2) Seq((id + 2000000L, mk(id, 1, extra = false)))
               else Seq.empty) ++
              (if (id % 5 == 3) Seq((id + 3000000L,
                s"corrupt-$id".getBytes("US-ASCII"))) else Seq.empty)
          }
        }.toDF("media_id", "bytes")
        val hashed = Multimodal.decodeAudioFingerprint(clips, "media_id", "bytes")
          .localCheckpoint(true)
        val pairs = Dedup.signaturePairs(
          hashed.filter(col("decoded")), "media_id", "afp")
          .localCheckpoint(true)
        val expReenc = idsDf.filter(col("doc_id") % 5 === 1)
          .select(col("doc_id").as("a_id"), (col("doc_id") + 1000000L).as("b_id"))
        val expGain = idsDf.filter(col("doc_id") % 5 === 2)
          .select(col("doc_id").as("a_id"), (col("doc_id") + 2000000L).as("b_id"))
        val planted = expReenc.union(expGain)
        hashed.agg(count(lit(1)).as("n_clips"),
            sum(when(col("decoded"), 1L).otherwise(0L)).as("n_decoded"))
          .crossJoin(broadcast(expReenc.join(pairs, Seq("a_id", "b_id"), "left_anti")
            .agg(count(lit(1)).as("__mr"))))
          .crossJoin(broadcast(expGain.join(pairs, Seq("a_id", "b_id"), "left_anti")
            .agg(count(lit(1)).as("__mg"))))
          .crossJoin(broadcast(planted.join(pairs, Seq("a_id", "b_id"))
            .agg(coalesce(max("hamming"), lit(0)).as("__mh"))))
          .select(col("n_clips"), col("n_decoded"),
            (col("__mr") === 0L).as("reenc_found"),
            (col("__mg") === 0L).as("gain_found"),
            (col("__mh") === 0).as("planted_hamming_zero"))
      },
      oracle = Some("""
        SELECT CAST(COUNT(*)
                 + SUM(CASE WHEN doc_id % 5 IN (1, 2, 3) THEN 1 ELSE 0 END) AS BIGINT) AS n_clips,
               CAST(COUNT(*)
                 + SUM(CASE WHEN doc_id % 5 IN (1, 2) THEN 1 ELSE 0 END) AS BIGINT) AS n_decoded,
               TRUE AS reenc_found, TRUE AS gain_found,
               TRUE AS planted_hamming_zero
        FROM documents WHERE doc_id < 300""")),

    // ----------------------------------------------------------------
    // q137: frame-sampled VIDEO dedup (round 15 — the third real
    // multimodal tier): REAL multi-frame animated-GIF decode on JDK
    // ImageIO in the mapPartitions codec stage, per-frame dHash, and
    // clip-level dedup by REUSING the containment family verbatim —
    // the frame-fingerprint sequence rendered as a token string makes
    // a trimmed clip the quote/excerpt problem (its frame-trigrams are
    // a subset of the source's, so trim → source containment is
    // exactly 1.0) and a container re-encode (same frames, different
    // delay metadata — bytes and sha256 differ) token-identical.
    // Planted classes: id%4==1 re-encode (+1M), id%4==2 trimmed last-3
    // frames (+2M), id%4==3 corrupt bytes (+3M, must survive as
    // decoded=false). DuckDB cannot decode GIFs, so the oracle is the
    // plant-arithmetic contract row (the q130/q136 pattern); the codec
    // and sampling semantics are pinned in MultimodalFixtureSpec.
    "q137_video_dedup" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val idsDf = docs(s, d).select(col("doc_id")).filter(col("doc_id") < 200)
        val palette = Array(0x1b2838, 0xc84b31, 0x346751, 0xecdbba,
          0x2d4263, 0x91c483, 0xffe162, 0x6b4f4f)
        val clips = idsDf.as[Long].mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          def frame(id: Long, f: Int): java.awt.image.BufferedImage = {
            val w = 45
            val h = 40
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val a = (id * 37 % 97 + 3).toInt
            val b = (id * 53 % 89 + 5).toInt
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val k = (x * a + y * b + f * (7 + (id % 5).toInt) +
                  (x * y % 13)) % palette.length
                img.setRGB(x, y, 0xff000000 | palette(k))
                x += 1
              }
              y += 1
            }
            img
          }
          def frames(id: Long): Seq[java.awt.image.BufferedImage] =
            (0 until (12 + (id % 5).toInt)).map(frame(id, _))
          import graft.operators.Multimodal.VideoCodec
          it.flatMap { id =>
            val fs = frames(id)
            Seq((id, VideoCodec.encodeGif(fs))) ++
              (if (id % 4 == 1)
                Seq((id + 1000000L, VideoCodec.encodeGif(fs, delayCs = 25)))
               else Seq.empty) ++
              (if (id % 4 == 2)
                Seq((id + 2000000L, VideoCodec.encodeGif(fs.dropRight(3))))
               else Seq.empty) ++
              (if (id % 4 == 3) Seq((id + 3000000L,
                s"corrupt-clip-$id".getBytes("US-ASCII"))) else Seq.empty)
          }
        }.toDF("media_id", "bytes")
        val hashed = Multimodal.decodeVideoFrameHashes(clips, "media_id", "bytes")
          .localCheckpoint(true)
        val clipDocs = hashed.filter(col("decoded"))
          .select(col("media_id"), expr(
            "array_join(transform(frame_hashes, h -> CAST(h AS STRING)), ' ')")
            .as("text"))
        val pairs = Dedup.containmentJoin(clipDocs, "media_id", "text",
          tau = 0.9, n = 3).localCheckpoint(true)
        val expReenc = idsDf.filter(col("doc_id") % 4 === 1)
          .select(col("doc_id").as("a_id"), (col("doc_id") + 1000000L).as("b_id"))
        val expTrim = idsDf.filter(col("doc_id") % 4 === 2)
          .select((col("doc_id") + 2000000L).as("a_id"), col("doc_id").as("b_id"))
        val planted = expReenc.union(expTrim)
        hashed.agg(count(lit(1)).as("n_clips"),
            sum(when(col("decoded"), 1L).otherwise(0L)).as("n_decoded"))
          .crossJoin(broadcast(expReenc.join(pairs, Seq("a_id", "b_id"), "left_anti")
            .agg(count(lit(1)).as("__mr"))))
          .crossJoin(broadcast(expTrim.join(pairs, Seq("a_id", "b_id"), "left_anti")
            .agg(count(lit(1)).as("__mt"))))
          .crossJoin(broadcast(planted.join(pairs, Seq("a_id", "b_id"))
            .agg(coalesce(min("containment"), lit(1.0)).as("__mc"))))
          .select(col("n_clips"), col("n_decoded"),
            (col("__mr") === 0L).as("reenc_found"),
            (col("__mt") === 0L).as("trim_found"),
            (col("__mc") === 1.0).as("planted_containment_one"))
      },
      oracle = Some("""
        SELECT CAST(COUNT(*)
                 + SUM(CASE WHEN doc_id % 4 IN (1, 2, 3) THEN 1 ELSE 0 END) AS BIGINT) AS n_clips,
               CAST(COUNT(*)
                 + SUM(CASE WHEN doc_id % 4 IN (1, 2) THEN 1 ELSE 0 END) AS BIGINT) AS n_decoded,
               TRUE AS reenc_found, TRUE AS trim_found,
               TRUE AS planted_containment_one
        FROM documents WHERE doc_id < 200""")),

    // ----------------------------------------------------------------
    // q138: MEDIA ingest-loop landing path (round 15) — the q134
    // lifecycle on PERCEPTUAL fingerprints: a real-PNG corpus (the q130
    // generator with its planted re-encode + grid-aligned-resize copy
    // classes) is decoded to dHash in the multimodal codec stage, the
    // signatures land as three parquet shards, and the NEW
    // IngestLoop.signatureIngest drains them — the simhash family's
    // fence/meta/partition discipline reused verbatim for media
    // (signatureIndex emits the same chunked geometry). Contract:
    // >= 3 batches ran, both planted copy classes are found at Hamming
    // 0 in the ACCUMULATED stream output, and the per-batch union ==
    // one batch signaturePairs run (the pair-set contract on the media
    // family). Oracle is the plant arithmetic (the q130 pattern).
    "q138_media_ingest" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        resetFamily(s, "q138sg")
        val idsDf = docs(s, d).select(col("doc_id")).filter(col("doc_id") < 300)
        val images = idsDf.as[Long].mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          def mk(id: Long, scale: Int, argb: Boolean): Array[Byte] = {
            val w = 9 * (2 + (id % 3).toInt) * scale
            val h = 8 * (2 + (id % 4).toInt) * scale
            val img = new java.awt.image.BufferedImage(w, h,
              if (argb) java.awt.image.BufferedImage.TYPE_INT_ARGB
              else java.awt.image.BufferedImage.TYPE_INT_RGB)
            val a = (id * 37 % 97 + 3).toInt
            val b = (id * 53 % 89 + 5).toInt
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val sx = x / scale
                val sy = y / scale
                val r = (sx * a + sy * b + (sx * sy % 31) * 7 + id.toInt) % 256
                val g = (sx * b + sy * a * 2 + id.toInt * 3) % 256
                val bl = ((sx + sy) * a + (sx * sx % 23) * b) % 256
                img.setRGB(x, y, 0xff000000 | (r << 16) | (g << 8) | bl)
                x += 1
              }
              y += 1
            }
            val baos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", baos)
            baos.toByteArray
          }
          it.flatMap { id =>
            Seq((id, mk(id, 1, argb = false))) ++
              (if (id % 5 == 1) Seq((id + 1000000L, mk(id, 1, argb = true)))
               else Seq.empty) ++
              (if (id % 5 == 2) Seq((id + 2000000L, mk(id, 2, argb = false)))
               else Seq.empty)
          }
        }.toDF("media_id", "bytes")
        val sigs = Multimodal.decodeImageDHash(images, "media_id", "bytes")
          .filter(col("decoded")).select(col("media_id"), col("dhash"))
          .localCheckpoint(true)
        val landing = landShards(sigs, "media_id", "q138")
        val pairsDir = java.nio.file.Files.createTempDirectory("q138_pairs").toString
        val ckpt = java.nio.file.Files.createTempDirectory("q138_ckpt").toString
        val q = IngestLoop.signatureIngest(
          s.readStream.schema("media_id LONG, dhash LONG")
            .option("maxFilesPerTrigger", "1").parquet(landing),
          "media_id", "dhash", prefix = "q138sg", pairsDir = pairsDir,
          checkpointDir = ckpt)
        // full-batch reference pairs depend only on the checkpointed
        // signatures — overlap with the draining loop (guide §2.6)
        val (nBatches, streamed, full) = FitPool.legs(s) { scope =>
          val fullLeg = scope.fork {
            Dedup.signaturePairs(sigs, "media_id", "dhash").localCheckpoint(true)
          }
          q.awaitTermination()
          val nB = new java.io.File(pairsDir).listFiles()
            .count(_.getName.startsWith("ingest_batch="))
          (nB, s.read.parquet(pairsDir)
            .select("a_id", "b_id", "hamming").localCheckpoint(true), fullLeg.join())
        }
        val expReenc = idsDf.filter(col("doc_id") % 5 === 1)
          .select(col("doc_id").as("a_id"), (col("doc_id") + 1000000L).as("b_id"))
        val expResize = idsDf.filter(col("doc_id") % 5 === 2)
          .select(col("doc_id").as("a_id"), (col("doc_id") + 2000000L).as("b_id"))
        val planted = expReenc.union(expResize)
        val zeroed = streamed.filter(col("hamming") === 0).select("a_id", "b_id")
        val d1 = streamed.exceptAll(full)
        val d2 = full.exceptAll(streamed)
        sigs.agg(count(lit(1)).as("n_media"))
          .crossJoin(broadcast(planted.join(zeroed, Seq("a_id", "b_id"), "left_anti")
            .agg(count(lit(1)).as("__mp"))))
          .crossJoin(broadcast(d1.agg(count(lit(1)).as("__d1"))))
          .crossJoin(broadcast(d2.agg(count(lit(1)).as("__d2"))))
          .select(lit(nBatches >= 3).as("n_batches_ok"), col("n_media"),
            (col("__mp") === 0L).as("planted_found_hamming_zero"),
            (col("__d1") === 0L && col("__d2") === 0L).as("union_matches_full"))
      },
      oracle = Some("""
        SELECT TRUE AS n_batches_ok,
               CAST(COUNT(*)
                 + SUM(CASE WHEN doc_id % 5 = 1 THEN 1 ELSE 0 END)
                 + SUM(CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_media,
               TRUE AS planted_found_hamming_zero, TRUE AS union_matches_full
        FROM documents WHERE doc_id < 300""")),

    // ----------------------------------------------------------------
    // q139: containment ingest loop in GROUP-SIZED emission (round 16
    // — the clone-storm tier the round-15 verdict flagged): same
    // landing path as q135 but with `groupsPrefix` set, so each
    // batch's mined component edges feed ingestCcBatch directly and
    // the loop's durable output is the persisted components CATALOG
    // (O(touched groups) per batch), never a pair listing. The final
    // ccComponents read — built from three streamed arrival deltas —
    // must hash-match q116's batch-over-union cluster catalog, cluster
    // for cluster, member-set for member-set (oracle = the shared
    // ccCatalogOracle, q116's SQL verbatim).
    "q139_containment_ingest_groups" -> QueryDef(
      fn = (s, d) => {
        resetFamily(s, "q139cn")
        resetFamily(s, "q139cc")
        val corpus = quoteCorpus(s, d).localCheckpoint(true)
        val landing = landShards(corpus, "doc_id", "q139")
        val ckpt = java.nio.file.Files.createTempDirectory("q139_ckpt").toString
        val q = IngestLoop.containmentIngest(
          s.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", "1").parquet(landing),
          "doc_id", "text", prefix = "q139cn", pairsDir = "",
          checkpointDir = ckpt, tau = 0.5, n = 3,
          groupsPrefix = "q139cc")
        q.awaitTermination()
        val comps = IngestLoop.ccComponents(s, "q139cc")
        val singles = corpus
          .join(comps.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id").as("id"), col("doc_id").as("component"))
        comps.select(col("id"), col("component")).union(singles)
          .groupBy("component")
          .agg(count(lit(1)).cast("int").as("csize"),
            sum("id").as("id_sum"), max("id").as("max_id"))
          .orderBy("component")
      },
      oracle = Some(ccCatalogOracle("TRUE"))),

    // ----------------------------------------------------------------
    // q140: BYTE-LEVEL merge-order BPE with the GPT-2 pre-tokenizer
    // (round 16 — the round-15 verdict's tokenizer-fidelity task) vs
    // the whitespace-split merge counting. The planted rows carry a
    // contraction (don't → [don]['t]), punctuation runs, and non-ASCII
    // (café: é is two UTF-8 bytes — the byte fallback), and the byte
    // tier's space-prefixed pieces mean the two counts provably differ
    // on ~every document. Oracle: the q131 merge-round replay twice —
    // whitespace legs via mergeTokensSql, byte legs via
    // byteMergeTokensSql (RE2 pre-tokenizer regex + hex byte
    // expansion, same unrolled replace chain) — so DuckDB re-derives
    // BOTH counts bit-for-bit.
    "q140_bpe_byte_pretok" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val src = docs(s, d).select(col("doc_id"), col("text")).union(
          Seq((90000001L, "don't stop, the café isn't here"),
            (90000002L, "the theory, the 'thing' and 42 things"))
            .toDF("doc_id", "text"))
        val ws = TextAnalysis.mergeTokenCount(src, "doc_id", "text",
          TextAnalysis.demoBpeMerges, out = "n_ws")
        TextAnalysis.byteMergeTokenCount(ws, "doc_id", "text",
          TextAnalysis.demoByteMerges, out = "n_byte")
          .select(col("doc_id"), col("n_ws"), col("n_byte"),
            (col("n_ws") =!= col("n_byte")).as("differs"))
          .orderBy("doc_id")
      },
      oracle = Some {
        s"""
        WITH __q140_lit(doc_id, text) AS (VALUES
            (CAST(90000001 AS BIGINT), 'don''t stop, the café isn''t here'),
            (CAST(90000002 AS BIGINT), 'the theory, the ''thing'' and 42 things')),
        __q140_src AS (SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id, text FROM __q140_lit),
        ${mergeTokensSql("__q140_src",
          graft.operators.TextAnalysis.demoBpeMerges, rounds = 7, "__ws")},
        ${byteMergeTokensSql("__q140_src",
          graft.operators.TextAnalysis.demoByteMerges, rounds = 9, "__by")}
        SELECT w.doc_id, w.n_merge AS n_ws, b.n_byte,
               w.n_merge <> b.n_byte AS differs
        FROM __ws_dt w JOIN __by_dt b USING (doc_id)
        ORDER BY doc_id"""
      }),

    // ----------------------------------------------------------------
    // q141: ATTRIBUTE-FILTERED IVF-PQ serving (round 16 — the verdict's
    // filtered-ANN task): "top-k among candidates WHERE source = 1" as
    // predicate pushdown into the ADC scan — the code rows are
    // pre-filtered (left-semi on the predicate's id set) BEFORE any
    // scoring, and the probe set widens adaptively under a survivor
    // floor (a selective predicate thins probed cells; post-filtering
    // an unfiltered top-k would starve instead). Recall contract vs
    // the FILTERED brute force at a deliberately starved nprobe=2 —
    // the widening is what clears the floor. Exhaustive-probe ==
    // filtered brute force pinned in SessionIvfSpec.
    "q141_ann_filtered" -> QueryDef(
      fn = (s, d) => {
        val e = embs(s, d)
        val q = e.filter(col("vec_id") < 50)
        val pred = pmod(col("vec_id"), lit(4)) === 1
        // filtered brute-force reference leg overlapped with the index
        // build+filtered-serve leg (guide §2.6)
        val (ann, exact) = FitPool.legs(s) { scope =>
          val exactLeg = scope.fork {
            Similarity.bruteForceTopK(e.filter(pred), q,
                "vec_id", "embedding", k = 10)
              .localCheckpoint(true)
          }
          val idx = Similarity.pqIndex(e, "vec_id", "embedding",
            nlist = 16, m = 16, ksub = 32, seed = 42L, assign = 2)
          (Similarity.ivfPqTopK(idx, e, q, "vec_id", "embedding",
              k = 10, nprobe = 2, refine = 8,
              filterIds = Some(e.filter(pred).select("vec_id")))
            .localCheckpoint(true), exactLeg.join())
        }
        annContract(ann, exact, k = 10, minMeanRecall = 0.75)
      },
      oracle = Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, 10 AS k, TRUE AS rows_le_k,
               TRUE AS ann_never_beats_exact, TRUE AS mean_recall_ok
        FROM embeddings WHERE vec_id < 50
          AND list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0"""))
  )

  /** The q128/q129 shared oracle CTE chain: per-word greedy subword
    * token counts via pointer doubling (see the q128 comment), ending
    * in `__bpe_wt(doc_id, t)` — one row per word, t = its token count.
    * The vocabulary and its delimiter-probe string interpolate from
    * [[TextAnalysis.demoBpeVocab]] so Scala and SQL can never skew. */
  private def bpeTokensSql: String =
    greedySubwordSql("documents", graft.operators.TextAnalysis.demoBpeVocab, "__bpe")

  /** Generalized greedy-subword CTE generator (round 15): the q128
    * pointer-doubling chain parameterized by source CTE/table, greedy
    * vocabulary, and CTE name prefix — ends in `{pfx}_wt(doc_id, t)`.
    * Probe lengths run maxPieceLen..2; the six jump rounds cover words
    * to 64 tokens (fixture max word length is 8). */
  private def greedySubwordSql(src: String, vocab: Seq[String],
                               pfx: String): String = {
    val v = vocab.mkString("|", "|", "|")
    val maxPiece = vocab.map(p => p.codePointCount(0, p.length)).max
    def probe(l: Int) =
      s"strpos('$v', '|' || substring(w, CAST(p AS INTEGER), $l) || '|') > 0"
    val probes = (maxPiece to 2 by -1)
      .map(l => s"WHEN ${probe(l)} THEN $l").mkString("\n                                       ")
    s"""${pfx}_wd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                     FROM $src),
        ${pfx}_wl AS (SELECT doc_id, w, length(w) AS m FROM ${pfx}_wd),
        ${pfx}_j0 AS (SELECT doc_id, m,
            list_transform(range(1, m + 2), p ->
              CASE WHEN p > m THEN m + 1
                   ELSE least(p + CASE $probes
                                       ELSE 1 END, m + 1) END) AS j0
          FROM ${pfx}_wl),
        ${pfx}_j1 AS (SELECT doc_id, m, j0,
            list_transform(j0, v -> j0[v]) AS j1 FROM ${pfx}_j0),
        ${pfx}_j2 AS (SELECT doc_id, m, j0, j1,
            list_transform(j1, v -> j1[v]) AS j2 FROM ${pfx}_j1),
        ${pfx}_j3 AS (SELECT doc_id, m, j0, j1, j2,
            list_transform(j2, v -> j2[v]) AS j3 FROM ${pfx}_j2),
        ${pfx}_j4 AS (SELECT doc_id, m, j0, j1, j2, j3,
            list_transform(j3, v -> j3[v]) AS j4 FROM ${pfx}_j3),
        ${pfx}_j5 AS (SELECT doc_id, m, j0, j1, j2, j3, j4,
            list_transform(j4, v -> j4[v]) AS j5 FROM ${pfx}_j4),
        ${pfx}_g5 AS (SELECT doc_id, m, j0, j1, j2, j3, j4,
            CASE WHEN j5[1] <= m THEN j5[1] ELSE 1 END AS p5,
            CASE WHEN j5[1] <= m THEN 32 ELSE 0 END AS c5
          FROM ${pfx}_j5),
        ${pfx}_g4 AS (SELECT doc_id, m, j0, j1, j2, j3,
            CASE WHEN j4[p5] <= m THEN j4[p5] ELSE p5 END AS p4,
            c5 + CASE WHEN j4[p5] <= m THEN 16 ELSE 0 END AS c4
          FROM ${pfx}_g5),
        ${pfx}_g3 AS (SELECT doc_id, m, j0, j1, j2,
            CASE WHEN j3[p4] <= m THEN j3[p4] ELSE p4 END AS p3,
            c4 + CASE WHEN j3[p4] <= m THEN 8 ELSE 0 END AS c3
          FROM ${pfx}_g4),
        ${pfx}_g2 AS (SELECT doc_id, m, j0, j1,
            CASE WHEN j2[p3] <= m THEN j2[p3] ELSE p3 END AS p2,
            c3 + CASE WHEN j2[p3] <= m THEN 4 ELSE 0 END AS c2
          FROM ${pfx}_g3),
        ${pfx}_g1 AS (SELECT doc_id, m, j0,
            CASE WHEN j1[p2] <= m THEN j1[p2] ELSE p2 END AS p1,
            c2 + CASE WHEN j1[p2] <= m THEN 2 ELSE 0 END AS c1
          FROM ${pfx}_g2),
        ${pfx}_g0 AS (SELECT doc_id, m,
            c1 + CASE WHEN j0[p1] <= m THEN 1 ELSE 0 END AS c0
          FROM ${pfx}_g1),
        ${pfx}_wt AS (SELECT doc_id,
            CASE WHEN m = 0 THEN 0 ELSE c0 + 1 END AS t
          FROM ${pfx}_g0)"""
  }

  /** One merge-order ROUND as SQL (round 15): the lowest-RANKED rule
    * whose pattern is present fires — the WHEN chain is in rank order,
    * so "first pattern present" IS the min-rank rule — and `replace`
    * over the `<sym>`-wrapped string merges every disjoint occurrence
    * left-to-right, exactly the kernel's sweep (each symbol owns both
    * its delimiters, so consecutive occurrences share no characters
    * and non-overlapping replace cannot skip one). */
  private def mergeRoundCase(merges: Seq[(String, String)]): String =
    "CASE " + merges.map { case (a, b) =>
      s"WHEN strpos(s, '<$a><$b>') > 0 THEN replace(s, '<$a><$b>', '<${a}$b>')"
    }.mkString("\n                 ") + "\n                 ELSE s END"

  /** Merge-order BPE token totals as SQL (round 15), ending in
    * `{pfx}_dt(doc_id, n_merge)`: per word, wrap each codepoint as a
    * `<c>` symbol, run `rounds` merge rounds ([[mergeRoundCase]] — a
    * word of n codepoints needs at most n−1, each round merges ≥ 1
    * occurrence or is identity), then count symbols as occurrences of
    * '<'. `rounds` must be ≥ maxWordLen−1 of the source (fixture max
    * word length is 8; a longer regenerated fixture hash-mismatches
    * loudly, not silently). Replays [[graft.functions.BpeMergeKernel]]
    * bit-for-bit — see the q131 row. */
  private def mergeTokensSql(src: String, merges: Seq[(String, String)],
                             rounds: Int, pfx: String): String = {
    val rs = (1 to rounds).map { k =>
      s"""${pfx}_s$k AS (SELECT doc_id, ${mergeRoundCase(merges)} AS s
           FROM ${pfx}_s${k - 1})"""
    }.mkString(",\n        ")
    s"""${pfx}_w0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                      FROM $src),
        ${pfx}_s0 AS (SELECT doc_id, CASE WHEN length(w) = 0 THEN ''
              ELSE array_to_string(list_transform(range(1, length(w) + 1),
                i -> '<' || substring(w, CAST(i AS INTEGER), 1) || '>'), '') END AS s
          FROM ${pfx}_w0),
        $rs,
        ${pfx}_dt AS (SELECT doc_id,
            CAST(SUM(length(s) - length(replace(s, '<', ''))) AS INTEGER) AS n_merge
          FROM ${pfx}_s$rounds GROUP BY doc_id)"""
  }

  /** BYTE-LEVEL merge-order BPE totals as SQL (round 16), ending in
    * `{pfx}_dt(doc_id, n_byte)`: pretokenize with the RE2-safe GPT-2
    * pattern (regexp_extract_all — leftmost-first alternation in both
    * RE2 and java.util.regex, so both engines segment identically),
    * expand each pretoken to one `<chr(byte)>` symbol per UTF-8 byte
    * via the hex projection (chr(b) is the byte's latin-1 codepoint —
    * the same alphabet [[graft.functions.BpeBytePretokKernel]] uses),
    * then the SAME unrolled merge-round replace chain as
    * [[mergeTokensSql]]. `rounds` must be ≥ maxPretokenBytes−1 of the
    * source (fixture words ≤ 8 chars + the carried leading space;
    * é costs 2 bytes). Docs whose text is empty vanish at the unnest —
    * the fixtures contain none, and a regenerated fixture that does
    * hash-mismatches loudly. */
  private def byteMergeTokensSql(src: String, merges: Seq[(String, String)],
                                 rounds: Int, pfx: String): String = {
    val rs = (1 to rounds).map { k =>
      s"""${pfx}_s$k AS (SELECT doc_id, ${mergeRoundCase(merges)} AS s
           FROM ${pfx}_s${k - 1})"""
    }.mkString(",\n        ")
    val pat = "''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
    s"""${pfx}_w0 AS (SELECT doc_id, unnest(regexp_extract_all(text, '$pat')) AS w
                      FROM $src),
        ${pfx}_h0 AS (SELECT doc_id, hex(encode(w)) AS h FROM ${pfx}_w0),
        ${pfx}_s0 AS (SELECT doc_id, CASE WHEN length(h) = 0 THEN ''
              ELSE array_to_string(list_transform(range(1, length(h) // 2 + 1),
                i -> '<' || chr(CAST(16 * (strpos('0123456789ABCDEF', substring(h, CAST(2*i - 1 AS INTEGER), 1)) - 1)
                             + strpos('0123456789ABCDEF', substring(h, CAST(2*i AS INTEGER), 1)) - 1 AS INTEGER)) || '>'), '') END AS s
          FROM ${pfx}_h0),
        $rs,
        ${pfx}_dt AS (SELECT doc_id,
            CAST(SUM(length(s) - length(replace(s, '<', ''))) AS INTEGER) AS n_byte
          FROM ${pfx}_s$rounds GROUP BY doc_id)"""
  }

  /** The q132 trainer oracle: `numMerges` unrolled training rounds
    * (the q116 bounded-unroll discipline), each one pair-count →
    * (count desc, pair asc) argmax → literal replace apply over the
    * same `<sym>`-wrapped word-type strings the Scala trainer uses —
    * so DuckDB re-learns the identical merge list. A round whose best
    * pair falls below `minFreq` applies nothing, leaves the state
    * unchanged, and every later round re-derives the same sub-floor
    * winner — so the emitted (filtered) rows are exactly the Scala
    * trainer's early-stopped prefix. */
  private def bpeTrainSql(src: String, numMerges: Int, minFreq: Long): String = {
    val rounds = (1 to numMerges).map { k =>
      s"""__tr_y$k AS (SELECT f,
              string_split(substring(ws, 2, length(ws) - 2), '><') AS sy
            FROM __tr_s${k - 1}),
          __tr_p$k AS (SELECT pr, CAST(SUM(f) AS BIGINT) AS c FROM (
              SELECT f, unnest(list_transform(range(1, len(sy)),
                i -> sy[i] || ' ' || sy[i + 1])) AS pr
              FROM __tr_y$k) GROUP BY pr),
          __tr_w$k AS (SELECT pr, c FROM __tr_p$k ORDER BY c DESC, pr ASC LIMIT 1),
          __tr_s$k AS (SELECT s.f,
              CASE WHEN w.c >= $minFreq THEN replace(s.ws,
                  '<' || string_split(w.pr, ' ')[1] || '><' || string_split(w.pr, ' ')[2] || '>',
                  '<' || replace(w.pr, ' ', '') || '>')
                ELSE s.ws END AS ws
            FROM __tr_s${k - 1} s CROSS JOIN __tr_w$k w)"""
    }.mkString(",\n        ")
    val out = (1 to numMerges).map { k =>
      s"""SELECT ${k - 1} AS merge_rank, string_split(pr, ' ')[1] AS merge_left,
               string_split(pr, ' ')[2] AS merge_right, c AS pair_count
          FROM __tr_w$k WHERE c >= $minFreq"""
    }.mkString("\n          UNION ALL ")
    s"""WITH __tr_t0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f
              FROM (SELECT unnest(string_split(text, ' ')) AS w FROM $src) t
              WHERE length(w) > 0 GROUP BY w),
        __tr_s0 AS (SELECT f, array_to_string(list_transform(range(1, length(w) + 1),
              i -> '<' || substring(w, CAST(i AS INTEGER), 1) || '>'), '') AS ws
          FROM __tr_t0),
        $rounds
        SELECT * FROM (
          $out
        ) u ORDER BY merge_rank"""
  }

  /** The quote-cluster catalog oracle — q116's 8-round bounded
    * min-label propagation (common dialect, no recursive CTE; see the
    * q116 comment for the depth-sufficiency argument), parameterized by
    * a surviving-doc predicate: filtering docs BEFORE the pair
    * computation removes exactly the pairs touching a dead endpoint,
    * so the same SQL oracles both the full lifecycle (`TRUE`, q119 —
    * semantically q116's oracle verbatim) and the post-repair catalog
    * (q120). */
  private def ccCatalogOracle(liveCond: String): String = s"""
        WITH b0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        ex AS (SELECT doc_id + 20000000 AS doc_id,
                      array_to_string(string_split(text, ' ')[1:len(string_split(text, ' ')) // 2], ' ') AS text
               FROM b0),
        u0 AS (SELECT doc_id, text FROM b0 UNION ALL SELECT doc_id, text FROM ex),
        u AS (SELECT doc_id, text FROM u0 WHERE $liveCond),
        sh0 AS (SELECT doc_id,
                  list_distinct(list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS sh
                FROM u),
        s AS (SELECT doc_id, sh, len(sh) AS m FROM sh0 WHERE len(sh) > 0),
        p AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id
              FROM s a JOIN s b ON a.doc_id <> b.doc_id
              WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) * 1000000 // a.m AS DOUBLE) / 1000000 >= 0.5),
        e AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM p UNION ALL SELECT b_id, a_id FROM p),
        l0 AS MATERIALIZED (SELECT u AS id, MIN(u) AS comp FROM e GROUP BY u),
        l1 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l0 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l0 l ON l.id = e.u) x GROUP BY id),
        l2 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l1 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l1 l ON l.id = e.u) x GROUP BY id),
        l3 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l2 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l2 l ON l.id = e.u) x GROUP BY id),
        l4 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l3 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l3 l ON l.id = e.u) x GROUP BY id),
        l5 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l4 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l4 l ON l.id = e.u) x GROUP BY id),
        l6 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l5 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l5 l ON l.id = e.u) x GROUP BY id),
        l7 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l6 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l6 l ON l.id = e.u) x GROUP BY id),
        l8 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
                 SELECT l.id, l.comp FROM l7 l UNION ALL
                 SELECT e.v AS id, l.comp FROM e JOIN l7 l ON l.id = e.u) x GROUP BY id),
        allm AS (SELECT id, comp AS component FROM l8
                 UNION ALL
                 SELECT doc_id AS id, doc_id AS component FROM u
                 WHERE doc_id NOT IN (SELECT id FROM l8))
        SELECT component, CAST(COUNT(*) AS INTEGER) AS csize,
               CAST(SUM(id) AS BIGINT) AS id_sum, MAX(id) AS max_id
        FROM allm GROUP BY component ORDER BY component"""
}
