package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deduplication operators for training-data pipelines, all designed for
  * the 100-TB shape:
  *
  *  - exact:   one hash-groupBy on a digest — a single shuffle on a
  *             16-byte key, map-side combinable.
  *  - prefix:  same, on a normalized-prefix fingerprint.
  *  - n-gram Jaccard: candidate generation must NEVER be an O(n^2)
  *             cross-join at scale — callers block (here: by source) or
  *             use MinHash-LSH below.
  *  - MinHash + LSH banding: signature = per-row expression (no shuffle);
  *             band explode → groupBy band-bucket is the only shuffle and
  *             its fan-out is bounded by bucket size, not n^2.
  *  - SimHash: 64-bit signature per row; near-dup = small Hamming
  *             distance; bucket by 16-bit chunks for candidate join.
  *
  * Everything is deterministic (fixed permutation constants, no RNG at
  * runtime) and pure Catalyst expressions — no UDFs.
  *
  * Algorithms: MinHash resemblance sketches (Broder, "On the resemblance
  * and containment of documents", 1997) with banded LSH (Leskovec/
  * Rajaraman/Ullman, MMDS ch.3); SimHash (Charikar, "Similarity
  * estimation techniques from rounding algorithms", STOC 2002) with the
  * chunk-bucket candidate scheme of Manku et al., WWW 2007.
  */
object Dedup {

  /** Exact duplicate groups on a digest of `textCol`. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("keep_id"))

  /** Word n-gram shingles (distinct), as a Catalyst expression over a
    * pre-split token array column named `toksCol`. */
  def shingleExpr(toksCol: String, n: Int = 3): Column = {
    array_distinct(expr(
      s"IF(size($toksCol) >= $n, " +
        s"transform(sequence(1, size($toksCol) - ${n - 1}), " +
        s"i -> concat_ws(' ', " +
        (0 until n).map(i => s"element_at($toksCol, i + $i)").mkString(", ") +
        ")), CAST(array() AS ARRAY<STRING>))"))
  }

  /** Jaccard similarity of two distinct-element array columns (0.0 when
    * both are empty — also keeps ANSI mode from a divide-by-zero). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(a) + size(b) - inter
    when(union === 0, lit(0.0)).otherwise(inter.cast("double") / union)
  }

  /** Contract guard for the exact quadratic tiers (q32 n-gram Jaccard,
    * `Similarity.cosineDupPairs`): a block-local self-join emits up to
    * Σ_blocks aₙ·bₙ candidate pairs — fine while blocks are bounded,
    * catastrophic past that (1 M docs in one block → 10¹² pairs). This
    * computes that sum EXACTLY with two narrow per-block count
    * aggregates (block column only — column-pruned scans, no data
    * shuffle) and fails loudly past `maxPairs`, naming the banded scale
    * path, instead of letting a runaway join hang a cluster. The count
    * is the pre-`b>a`-filter upper bound — the join must materialize
    * those pairs either way. Deliberately an EAGER action: the whole
    * point is to refuse before the expensive join is scheduled. */
  def requirePairBudget(probe: DataFrame, corpus: DataFrame, blockCol: String,
                        maxPairs: Long): Unit = {
    // a stream cannot be counted at build time; the per-micro-batch
    // volume is bounded by the trigger, so the budget contract moves to
    // the caller's trigger sizing
    if (probe.isStreaming || corpus.isStreaming) return
    val a = probe.groupBy(col(blockCol)).agg(count(lit(1)).as("__a"))
    val b = corpus.groupBy(col(blockCol)).agg(count(lit(1)).as("__b"))
    val total = a.join(b, Seq(blockCol))
      .agg(coalesce(sum(col("__a") * col("__b")), lit(0L))).head().getLong(0)
    require(total <= maxPairs,
      s"exact-tier block join on '$blockCol' would emit $total candidate " +
        s"pairs (budget $maxPairs). This tier is quadratic within blocks " +
        "by contract; switch to the banded scale path " +
        "(Dedup.minhashLshPairs / Dedup.simhashPairs / Similarity.lshDupPairs).")
  }

  /** The probe of [[dupGroups]]: does the exact-dup pair mass
    * Σ c(c−1)/2 of `keyed` grouped by `key` exceed `ratio` pairs per
    * row? Deliberately an EAGER aggregate at
    * plan-construction time — the answer gates WHICH plan gets built —
    * which is exactly why it must NOT run under [[Staging.None]] (the
    * documented streaming-safe / lazy-composition pass-through: no
    * action may fire at build time) or on a streaming input (`.head()`
    * on a streaming plan throws). In those cases the probe is skipped
    * and the LEAN branch is taken unconditionally: the lean plan is the
    * only one whose candidate joins stay stream-composable, and a
    * caller that knows its corpus is clone-heavy can still stage the
    * input and use a materializing mode. */
  private[graft] def heavyDupMass(keyed: DataFrame, key: Column,
                                  staging: Staging.Mode,
                                  ratio: Double): Boolean = {
    if (staging == Staging.None || keyed.isStreaming) return false
    val st = keyed.groupBy(key.as("__h")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n"),
        coalesce(sum(col("c") * (col("c") - 1L)), lit(0L)).as("p2")).head()
    st.getLong(1) / 2 > ratio * st.getLong(0)
  }

  /** Exact-duplicate groups of a collapsed run: `mem` = (id, gid[,
    * __shard]) maps every member to its group's min-id representative;
    * `reps` = (gid, key) holds one row per group. */
  private[graft] final case class DupGroups(mem: DataFrame, reps: DataFrame)

  /** EXACT-DUPLICATE COLLAPSE — the one conditional rep-election policy
    * of every near-dup family (MinHash, SimHash, signature, containment,
    * LSH cosine, SemDeDup; one-shot and incremental).
    *
    * The trade: a g-member exact-dup family (equal `key`) is a
    * guaranteed g²-ish candidate clique in every band/chunk/cell, so a
    * clone-heavy corpus inflates the kernel's candidate join by
    * Σ g(g−1)/2, while collapsing costs a few id-only staging and
    * expansion joins that are pure overhead when families are small.
    * [[heavyDupMass]] measures the within-family pair mass with one
    * aggregate and the collapse is taken only when it exceeds `ratio`
    * pairs per row (strictly): pairs-of-twins corpora (0.5 pairs/row)
    * stay lean, the 100× clone-family fixture (~50 pairs/row)
    * collapses. The probe — and so the collapse — is skipped under
    * [[Staging.None]] and on a streaming input (see [[heavyDupMass]]).
    * Callers pass `collapsePairsPerDoc` = 0 to force the collapse on any
    * dup mass, `Double.PositiveInfinity` to disable it.
    *
    * `keyed` is (id, key[, __shard]), narrow: the key is anything whose
    * equality implies equal kernel scores (md5 of the text, the
    * signature, the sorted shingle set's md5, the raw vector). Returns
    * `None` for the lean branch; otherwise the members are staged once,
    * each group elects its MIN id as representative (`gid`), and the
    * (id, gid[, __shard]) membership is staged once more so every
    * expansion join shuffles scalars, never the key. The site runs its
    * kernel over the representatives only and either maps the rep-level
    * pairs back with [[expandDupPairs]] or lets members inherit their
    * rep's decision by one join on `gid` (SemDeDup: an exact-dup group
    * is one sub-clique of its rep's component). Both branches are
    * row-identical, pinned branch-forced per family in DedupSpec,
    * SessionIvfSpec and SemDedupIncSpec. */
  private[graft] def dupGroups(keyed: DataFrame, staging: Staging.Mode,
                               ratio: Double): Option[DupGroups] = {
    if (!heavyDupMass(keyed, col("key"), staging, ratio)) return None
    val members = staging(keyed)
    val reps = members.groupBy("key").agg(min(col("id")).as("gid"))
    val shard = if (keyed.columns.contains("__shard")) Seq(col("__shard")) else Nil
    val mem = staging(members.join(reps, Seq("key"))
      .select(Seq(col("id"), col("gid")) ++ shard: _*))
    Some(DupGroups(mem, reps.select("gid", "key")))
  }

  /** Rep-level pairs (a_id, b_id, `score`) — ids are representatives'
    * gids — expanded to member pairs under the [[dupGroups]] contract:
    *  - within a group every member pair qualifies iff the group does:
    *    all groups, or only the gids of `okGroups` when given (MinHash's
    *    shinglable groups, the cosine family's self-score ≥ threshold);
    *    the pair scores `withinScore`, which may read `okGroups`'
    *    columns;
    *  - across groups each rep pair fans out to the two groups' member
    *    cross product with the rep pair's score (the score is a function
    *    of the two keys).
    * A symmetric measure emits a < b, re-normalised with least/greatest
    * (member id sets of two groups interleave); a `directed` one
    * (containment) emits every ordered a ≠ b and keeps the direction.
    * When `mem` carries `__shard` (an incremental run), only pairs with
    * at least one shard member are kept. */
  private[graft] def expandDupPairs(g: DupGroups, repPairs: DataFrame,
                                    score: String, withinScore: Column,
                                    okGroups: Option[DataFrame] = None,
                                    directed: Boolean = false): DataFrame = {
    val sharded = g.mem.columns.contains("__shard")
    def side(m: DataFrame, gidAs: String, idAs: String, shardAs: String,
             extra: Column*): DataFrame =
      m.select(Seq(col("gid").as(gidAs), col("id").as(idAs)) ++ extra ++
        (if (sharded) Seq(col("__shard").as(shardAs)) else Nil): _*)
    val touches = if (sharded) col("__sa") || col("__sb") else lit(true)
    val m1 = okGroups.fold(g.mem)(g.mem.join(_, Seq("gid")))
    val within = side(m1, "gid", "a_id", "__sa", withinScore.as(score))
      .join(side(m1, "gid", "b_id", "__sb"), Seq("gid"))
      .filter((if (directed) col("a_id") =!= col("b_id") else col("a_id") < col("b_id")) &&
        touches)
      .select(col("a_id"), col("b_id"), col(score))
    val cross = repPairs
      .join(side(g.mem, "a_id", "__ma", "__sa"), Seq("a_id"))
      .join(side(g.mem, "b_id", "__mb", "__sb"), Seq("b_id"))
      .filter(touches)
      .select(
        (if (directed) Seq(col("__ma").as("a_id"), col("__mb").as("b_id"))
         else Seq(least(col("__ma"), col("__mb")).as("a_id"),
           greatest(col("__ma"), col("__mb")).as("b_id"))) :+ col(score): _*)
    within.union(cross)
  }

  // MinHash: h_j(x) = (a_j * (xxhash64(x) mod p) + b_j) mod p with the
  // Mersenne prime p = 2^31 - 1 and fixed LCG-derived coefficients —
  // deterministic across runs and expressible in plain SQL (the two-step
  // mod keeps every product below 2^62: no ANSI overflow).
  val MinhashPrime = 2147483647L
  def perm(j: Int): (Long, Long) = (
    (1103515245L * (j + 1) + 12345L) % (MinhashPrime - 1) + 1,
    (134775813L * (j + 1) + 1L) % MinhashPrime)

  /** MinHash signature (array<bigint> of length numPerms) over a distinct
    * shingle array column. Per-row, embarrassingly parallel: shingles are
    * xxhash64'd once each (codegen'd builtin transform), then the
    * numPerms-wide running minimum runs in the native codegen'd
    * MinHashSignature kernel (the aggregate+zip_with HOF formulation of
    * the same fold is interpreted and was the q33 hot spot; equivalence
    * is pinned in DedupSpec). Empty shingle sets yield the sentinel
    * signature (all = p). */
  def minhashSignature(shingles: Column, numPerms: Int = 32): Column = {
    val p = MinhashPrime
    val perms = (0 until numPerms).map(perm)
    graft.functions.MinHashExpression.minhash(
      expr(s"transform(${shingles.toString}, x -> pmod(xxhash64(x), $p))"),
      perms.map(_._1), perms.map(_._2), p)
  }

  /** The pure-expression formulation of [[minhashSignature]] — kept as
    * the executable spec of the native kernel (DedupSpec pins equality). */
  def minhashSignatureExpr(shingles: Column, numPerms: Int = 32): Column = {
    val p = MinhashPrime
    val aArr = (0 until numPerms).map(j => s"${perm(j)._1}L").mkString("array(", ", ", ")")
    val bArr = (0 until numPerms).map(j => s"${perm(j)._2}L").mkString("array(", ", ", ")")
    expr(
      s"""aggregate(
            transform(${shingles.toString}, x -> pmod(xxhash64(x), $p)),
            array_repeat(${p}L, $numPerms),
            (acc, h) -> zip_with(acc,
              zip_with($aArr, $bArr, (pa, pb) -> pmod(pa * h + pb, $p)),
              (m, v) -> least(m, v)))""")
  }

  /** LSH band buckets: split the signature into bands of `rowsPerBand`,
    * hash each band. Returns array<struct<band:int, bucket:bigint>>. */
  def lshBands(sig: Column, numPerms: Int = 32, rowsPerBand: Int = 4): Column = {
    val nBands = numPerms / rowsPerBand
    val bands = (0 until nBands).map { b =>
      val elems = (0 until rowsPerBand)
        .map(r => s"element_at(${sig.toString}, ${b * rowsPerBand + r + 1})")
        .mkString(", ")
      s"named_struct('band', $b, 'bucket', xxhash64(concat_ws('_', CAST($b AS STRING), $elems)))"
    }
    expr(bands.mkString("array(", ", ", ")"))
  }

  /** A persisted-shape MinHash-LSH index over a document set: the two
    * tables a production dedup pipeline writes once per corpus and
    * reuses across ingestion batches —
    *
    *  - `shingles` (id, __sh): the distinct word-3-gram sets, fetched
    *    during exact-Jaccard verification;
    *  - `bands`    (id, band, bucket): the exploded LSH band buckets,
    *    the join key of candidate generation.
    *
    * At cluster scale both frames would be real tables (write `bands`
    * bucketed/partitioned by `bucket` so joining a new shard against it
    * shuffles only the shard, not the corpus); locally they are staged
    * per [[Staging.Mode]]. [[union]] folds a freshly-indexed shard into
    * the corpus index for the next batch — ids must be disjoint across
    * the two sides (caller contract, same as any id-keyed table). */
  final case class MinHashIndex(idCol: String, shingles: DataFrame, bands: DataFrame,
                                numPerms: Int = 32, rowsPerBand: Int = 4) {
    def union(other: MinHashIndex): MinHashIndex = {
      require(other.idCol == idCol,
        s"MinHashIndex id columns differ: '$idCol' vs '${other.idCol}'")
      require(other.numPerms == numPerms && other.rowsPerBand == rowsPerBand,
        s"MinHashIndex LSH params differ: ($numPerms, $rowsPerBand) vs " +
          s"(${other.numPerms}, ${other.rowsPerBand})")
      MinHashIndex(idCol, shingles.union(other.shingles),
        bands.union(other.bands), numPerms, rowsPerBand)
    }
  }

  /** Build the [[MinHashIndex]] for `df`: one pass computing shingle
    * sets, signatures (native codegen kernel) and band buckets — no
    * shuffle at all; both frames are narrow projections of the scan. */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
                   numPerms: Int = 32, rowsPerBand: Int = 4,
                   staging: Staging.Mode = Staging.Local,
                   spread: Boolean = true): MinHashIndex = {
    // spread before the kernel (round 16): the signature projection is
    // the corpus's CPU floor, and a narrow scan otherwise pins it to
    // the file count — see Staging.spread (no-op past defaultParallelism).
    // `spread = false` for SHARD/BATCH-sized inputs, where the exchange
    // and 32-way materialization cost more than the kernel (measured:
    // q134 -2.2 s, q104 -1.4 s with shard spreads on).
    val withSh = (if (spread) Staging.spread(df, col(idCol)) else df)
      .withColumn("__toks", split(col(textCol), " "))
      .withColumn("__sh", shingleExpr("__toks"))
    val sh = staging(withSh.select(col(idCol), col("__sh")))
    val bands = staging(withSh
      .withColumn("__sig", minhashSignature(col("__sh"), numPerms))
      .select(col(idCol),
        explode(lshBands(col("__sig"), numPerms, rowsPerBand)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket")))
    MinHashIndex(idCol, sh, bands, numPerms, rowsPerBand)
  }

  /** Persist a [[MinHashIndex]] as bucketed Parquet tables — the claim
    * the index Scaladoc makes ("write `bands` bucketed by `bucket`")
    * made real: `<prefix>_bands` is hash-bucketed (and sorted) on the
    * candidate join's EXACT key set (band, bucket) — Spark only
    * co-partitions a bucketed scan when the join keys equal the bucket
    * keys (requireAllClusterKeysForCoPartition), a subset match gets
    * "disabled by query planner" — so an incremental batch reads the
    * corpus side co-located and only the (small) shard side shuffles.
    * `<prefix>_shingles` is bucketed on the id for the same reason in
    * the verify join. LSH parameters ride in `<prefix>_meta` so a
    * mismatched load refuses via the [[MinHashIndex.union]] checks.
    * IndexPersistSpec pins the reload round-trip (incremental output
    * identical, zero corpus-side exchanges). */
  def saveMinhashIndex(idx: MinHashIndex, prefix: String,
                       buckets: Int = 64): Unit = {
    val spark = idx.bands.sparkSession
    // writer fence (round 11): a save overwrites the whole family —
    // fenced like every other family-mutating writer so it cannot
    // interleave with a live ingest loop or compaction on the prefix
    Fence.withFence(spark, prefix, "saveMinhashIndex") {
      import spark.implicits._
      // bucket-aligned writes (round 16) of three DIFFERENT tables,
      // overlapped (round 17): see Layout.writeAll; all complete before
      // the fence releases
      Family.MinHash.keyedOn(idx.idCol).save(prefix, Seq(idx.bands, idx.shingles),
        Seq((idx.idCol, idx.numPerms, idx.rowsPerBand, buckets))
          .toDF("id_col", "num_perms", "rows_per_band", "buckets"), buckets)
    }
  }

  /** Load a [[saveMinhashIndex]]-persisted index by catalog name — a new
    * session (same warehouse) ingests shards against it without touching
    * the original corpus texts. [[Tombstones]]-deleted ids are filtered
    * out here (broadcast anti-join — bucketed co-location preserved),
    * so every consumer of a loaded index sees deletions immediately. */
  def loadMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                       prefix: String): MinHashIndex = {
    val m = spark.table(Family.meta(prefix)).head()
    val idCol = m.getString(0)
    val Seq(bands, shingles) = Family.MinHash.keyedOn(idCol).load(spark, prefix)
    MinHashIndex(idCol, shingles, bands, m.getInt(1), m.getInt(2))
  }

  /** Online corpus-match gate: for each shard document — `shard` may be
    * a STREAMING DataFrame — every corpus near-dup above `threshold`,
    * as (n_id, c_id, jaccard). This is the shard-vs-corpus leg of
    * [[minhashLshPairsIncremental]] in a fully STATELESS stream-static
    * shape, the filter an ingestion service runs on each arriving
    * batch: per-row shingles/signature/bands on the shard side, two
    * stream-static equi-joins against the corpus's persisted band and
    * shingle tables, no aggregation and no watermark state anywhere.
    *
    * The one batch op this forbids is the candidate `distinct` (a pair
    * can collide in up to numPerms/rowsPerBand bands; distinct on a
    * stream is stateful). Instead each pair is emitted from its FIRST
    * colliding band only: both sides carry their full band-ordered
    * bucket vector, so "the matched band is the pair's minimal
    * colliding band" is a per-row predicate — exactly-once emission by
    * construction. Batch-parity with the incremental cross leg is
    * pinned in DedupSpec; the stream==batch twin in StreamingSpec. */
  def minhashLshMatchCorpus(shard: DataFrame, idCol: String, textCol: String,
                            corpus: MinHashIndex, threshold: Double = 0.5,
                            staging: Staging.Mode = Staging.Local): DataFrame = {
    val (numPerms, rowsPerBand) = (corpus.numPerms, corpus.rowsPerBand)
    // static side, prepared once: band-ordered bucket vector per corpus
    // doc, re-exploded so candidate generation stays an equi-join on
    // (band, bucket). array_sort on (band, bucket) structs orders by
    // band; staged so a streaming run does not redo the groupBy per
    // micro-batch.
    val cSide = staging(corpus.bands
      .groupBy(col(corpus.idCol))
      .agg(expr("transform(array_sort(collect_list(struct(band, bucket))), x -> x.bucket)")
        .as("__cvec"))
      .select(col(corpus.idCol).as("c_id"), col("__cvec"),
        posexplode(col("__cvec")).as(Seq("band", "bucket"))))
    val nSide = shard
      .withColumn("__toks", split(col(textCol), " "))
      .withColumn("__sh", shingleExpr("__toks"))
      .withColumn("__sig", minhashSignature(col("__sh"), numPerms))
      .withColumn("__nvec",
        transform(lshBands(col("__sig"), numPerms, rowsPerBand), b => b.getField("bucket")))
      .select(col(idCol).as("n_id"), col("__sh"), col("__nvec"),
        posexplode(col("__nvec")).as(Seq("band", "bucket")))
    val cand = nSide.join(cSide, Seq("band", "bucket"))
      .filter(col("band") ===
        array_position(zip_with(col("__nvec"), col("__cvec"), (x, y) => x === y), true) - 1)
    cand
      .join(corpus.shingles.select(col(corpus.idCol).as("c_id"), col("__sh").as("__csh")),
        Seq("c_id"))
      .select(col("n_id"), col("c_id"), jaccard(col("__sh"), col("__csh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental MinHash-LSH: near-dup pairs TOUCHING A NEW SHARD —
    * shard-vs-corpus plus shard-vs-shard — against a corpus whose
    * [[MinHashIndex]] already exists. This is the 100-TB ingestion
    * shape: a new batch never re-bands the corpus; it bands itself
    * (linear in the shard) and joins its band table against the
    * corpus's persisted one.
    *
    * Band-bucket collision is a PAIRWISE predicate (two docs share a
    * bucket or not, independent of every other doc), so the output is
    * row-identical to running [[minhashLshPairs]] over corpus ∪ shard
    * and keeping the pairs with at least one shard id — pinned in
    * DedupSpec and, slice-wise, by catalog query q101. Pair orientation
    * follows the full run's `a_id < b_id` convention. */
  def minhashLshPairsIncremental(shard: MinHashIndex, corpus: MinHashIndex,
                                 threshold: Double = 0.5): DataFrame = {
    val idCol = shard.idCol
    require(corpus.idCol == idCol,
      s"index id columns differ: '${corpus.idCol}' vs '$idCol'")
    val nb = shard.bands
    val cb = corpus.bands
    val nn = nb.select(col(idCol).as("a_id"), col("band"), col("bucket"))
      .join(nb.select(col(idCol).as("b_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    val nc = nb.select(col(idCol).as("n_id"), col("band"), col("bucket"))
      .join(cb.select(col(idCol).as("c_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(least(col("n_id"), col("c_id")).as("a_id"),
        greatest(col("n_id"), col("c_id")).as("b_id"))
    // dedupe candidate pairs (ids only) before fetching shingle arrays:
    // a pair can collide in up to numPerms/rowsPerBand bands
    val cand = nn.union(nc).distinct()
    val allSh = corpus.shingles.union(shard.shingles)
    cand
      .join(allSh.select(col(idCol).as("a_id"), col("__sh").as("a_sh")), Seq("a_id"))
      .join(allSh.select(col(idCol).as("b_id"), col("__sh").as("b_sh")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        jaccard(col("a_sh"), col("b_sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Full MinHash-LSH near-dup candidate pairs with exact-Jaccard
    * verification. The only data shuffle is the band-bucket self-join
    * over DISTINCT texts; at scale the bucket key distributes uniformly
    * (xxhash64) and skewed buckets can be salted. Returns (a_id, b_id,
    * jaccard) for every member pair above the threshold.
    *
    * Exact duplicates (md5 of the text) take the [[dupGroups]]
    * collapse: an exact-dup pair is a guaranteed candidate in EVERY
    * band and verify shuffles two shingle arrays per candidate, so
    * past `collapsePairsPerDoc` the banded pipeline sees
    * representatives only and signature + verify work scales with
    * DISTINCT texts (the production "exact dedup before near-dup"
    * composition built in). Within a group the pairs score jaccard
    * exactly 1.0 iff the text actually shingles — sub-n-token docs
    * have empty shingle sets whose jaccard is defined 0 and never
    * clears the threshold, exactly the uncollapsed behavior. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numPerms: Int = 32, rowsPerBand: Int = 4,
                      threshold: Double = 0.5,
                      staging: Staging.Mode = Staging.Local,
                      collapsePairsPerDoc: Double = 2.0): DataFrame =
    dupGroups(df.select(col(idCol).as("id"), md5(col(textCol)).as("key")),
        staging, collapsePairsPerDoc) match {
      case None => bandedJaccardPairs(
        minhashIndex(df, idCol, textCol, numPerms, rowsPerBand, staging),
        idCol, threshold)
      case Some(g) =>
        // banded pipeline over representatives (staged via minhashIndex:
        // the band self-join's two legs would otherwise re-run the
        // signature kernel twice, and the two verification joins would
        // re-shingle twice more)
        val repDf = df.join(g.reps.select(col("gid").as(idCol)), Seq(idCol), "left_semi")
        val idx = minhashIndex(repDf, idCol, textCol, numPerms, rowsPerBand, staging)
        val okGroups = idx.shingles
          .filter(size(col("__sh")) > 0 && lit(1.0) >= lit(threshold))
          .select(col(idCol).as("gid"))
        expandDupPairs(g, bandedJaccardPairs(idx, idCol, threshold), "jaccard",
          lit(1.0), Some(okGroups))
    }

  /** Banded candidate generation + exact-Jaccard verification over a
    * built [[MinHashIndex]] — the shared core of both
    * [[minhashLshPairs]] branches. Candidate PAIRS are deduped first
    * (ids only — cheap shuffle), then shingles are fetched and verified
    * once per unique pair: a pair can collide in up to
    * numPerms/rowsPerBand bands and exact Jaccard on large shingle
    * arrays is the expensive step. */
  private def bandedJaccardPairs(idx: MinHashIndex, idCol: String,
                                 threshold: Double): DataFrame = {
    val sh = idx.shingles
    val bands = idx.bands
    val a = bands.select(col(idCol).as("a_id"), col("band"), col("bucket"))
    val b = bands.select(col(idCol).as("b_id"), col("band"), col("bucket"))
    val cand = a.join(b, Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    cand
      .join(sh.select(col(idCol).as("a_id"), col("__sh").as("a_sh")), Seq("a_id"))
      .join(sh.select(col(idCol).as("b_id"), col("__sh").as("b_sh")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), jaccard(col("a_sh"), col("b_sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Edge-row bound of the DRIVER-LOCAL regime of [[connectedComponents]]
    * and [[connectedComponentsIncremental]] (a small-input regime user,
    * see [[Staging.stageObserved]]): no collect of either brings more
    * than this many rows to the driver — 2^16 pairs of longs, a few MB of
    * driver heap with the row objects and the union-find map. It bounds
    * driver memory, which no deployment should trade against data size,
    * so it is a constant and deliberately NOT a `spark.graft.*` conf;
    * both functions clamp their `localEdges` argument to it, so a
    * caller can only lower the bound (specs pass 0 to force the
    * distributed round loop), never raise it. */
  private[graft] val ccLocalEdges: Int = 1 << 16

  /** Connected components over an undirected edge frame — the step that
    * turns near-dup PAIRS (from [[minhashLshPairs]], [[simhashPairs]] or
    * the exact tiers) into duplicate GROUPS so a pipeline can keep one
    * canonical document per group. Transitivity matters: A~B and B~C put
    * A and C in one group even when A~C itself is below threshold.
    *
    * Algorithm: hash-min label propagation WITH PATH COMPRESSION —
    * every node starts labelled with its own id; each round it takes the
    * minimum over its own label, its neighbors' labels, and its label's
    * label (pointer jumping: comp(v) is always itself a node id, so one
    * self-join looks up comp(comp(v)) and halves remaining path lengths).
    * Rounds to fixpoint are O(log diameter) — a 1000-node path closes in
    * ~10 rounds, and near-dup graphs (short chains) in 2-3. Each round
    * is two equi-joins + one hash aggregate, all shuffling on node id;
    * this is the hash-min family of Kiveris et al., "Connected
    * Components in MapReduce and Beyond" (SoCC 2014) with their
    * path-splitting acceleration. Labels are staged each round so the
    * plan does not deepen with the iteration count — `staging` selects
    * how (default localCheckpoint; pass Staging.Reliable(dir) on a
    * cluster so a lost executor cannot kill an hours-long sweep).
    *
    * DRIVER-LOCAL REGIME: under an eager staging mode (Local, Reliable)
    * the symmetric edge set is staged with its row count observed on
    * the staging action. When it holds at most `localEdges` rows
    * ([[ccLocalEdges]], 2^16) the edges are collected in one job and
    * closed by union-find on the driver, always linking the larger root
    * under the smaller so every root is its component's minimum — the
    * same (id, component) rows as the round loop, without its ~4 jobs
    * per round. The bound caps the driver's share at a few MB whatever
    * the corpus; it is a constant, not a conf, and `localEdges` above
    * it is clamped to it (see [[ccLocalEdges]]).
    * Larger edge sets, and the lazy mode None (no action may fire at
    * build time), run the round loop unchanged, so the path
    * still scales to corpus-sized graphs. `onRound` fires once for the
    * driver-local closure.
    *
    * Returns (id, component) for every node incident to an edge, where
    * component = smallest node id in the component. An edge with a NULL
    * endpoint names no node, as in a SQL equi-join, and is dropped
    * before either regime sees it (so the incremental twin and
    * [[ccRepair]], whose sub-runs come through here, drop it too).
    * Isolated rows never appear in `pairs`; callers union them back as
    * their own singleton groups if needed. Throws if `maxIter` rounds do not reach the
    * fixpoint (2^maxIter exceeds any real diameter — hitting this means
    * the input, not the budget, is wrong) rather than returning a
    * silently-incomplete grouping.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25,
                          staging: Staging.Mode = Staging.Local,
                          onRound: () => Unit = () => (),
                          localEdges: Int = ccLocalEdges): DataFrame = {
    val fwd = pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
    val sym = fwd.union(fwd.select(col("v").as("u"), col("u").as("v"))).distinct()
    val eagerStaging = Staging.isEager(staging)
    // a caller may only LOWER the bound (specs pass 0): raising it would
    // trade driver memory for data size, which the constant rules out
    val bound = math.min(localEdges, ccLocalEdges)
    val edges =
      if (!eagerStaging || bound <= 0) staging(sym)
      else {
        val (staged, n) = Staging.stageObserved(staging, sym, count(lit(1)))
        if (n.getLong(0) <= bound) {
          onRound()
          return localComponents(staged.sparkSession,
            staged.collect().map(e => (e.getLong(0), e.getLong(1))))
        }
        staged
      }
    var labelsInit = edges.select(col("u").as("id")).distinct()
      .withColumn("comp", col("id"))
    // sum(comp) strictly decreases whenever any label improves (labels
    // only ever decrease), so fixpoint == unchanged sum: one aggregate
    // per round instead of a change-count join. coalesce: an EMPTY edge
    // set (no pairs at all — a legal input) sums to NULL, which must
    // read as 0 so the loop converges on round 1 instead of NPEing.
    def compSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("comp")), lit(0L)).cast("decimal(38,0)"))
        .head.getDecimal(0)
    // OBSERVED convergence metric (round 16): under an EAGER staging
    // mode each round already materializes `next` with one action —
    // riding the label sum on that action as an observed metric
    // (CollectMetrics) removes the per-round compSum job (one fewer
    // driver round-trip per round, across every CC consumer). Lazy
    // modes keep the explicit pass (no action to ride).
    def stageWithSum(df: DataFrame): (DataFrame, java.math.BigDecimal) =
      if (!eagerStaging) { val s = staging(df); (s, compSum(s)) }
      else {
        val (staged, sum0) = Staging.stageObserved(staging, df,
          coalesce(sum(col("comp")), lit(0L)).cast("decimal(38,0)"))
        val s = sum0.get(0) match {
          case d: java.math.BigDecimal => d
          case other => new java.math.BigDecimal(other.toString)
        }
        (staged, s)
      }
    var (labels, prevSum) = stageWithSum(labelsInit)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      // per-round liveness hook: each round is a corpus-scale shuffle +
      // aggregate, so a long CC run must prove progress to whoever is
      // watching (the ingest loop beats its family Fence here — an
      // operator reading staleness sees a working batch, not a dead one)
      onRound()
      val neighborMin = edges
        .join(labels.select(col("id").as("u"), col("comp")), "u")
        .select(col("v").as("id"), col("comp"))
      // pointer jumping only engages from round 3: near-dup graphs
      // (diameter <= 2) have converged by then and never pay the extra
      // self-join; deep graphs still close in O(log diameter) rounds
      val candidates =
        if (it < 2) neighborMin.union(labels)
        else neighborMin.union(labels).union(
          labels.select(col("id"), col("comp").as("__via"))
            .join(labels.select(col("id").as("__via"), col("comp")), "__via")
            .select(col("id"), col("comp")))
      val (next, s) = stageWithSum(candidates
        .groupBy("id").agg(min("comp").as("comp")))
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    labels.select(col("id"), col("comp").as("component"))
  }

  /** Union-find closure of driver-held (u, v) edge rows — the
    * driver-local regime of [[connectedComponents]]. Linking the larger
    * root under the smaller keeps every root its component's minimum,
    * so each node's row equals the round loop's fixpoint. */
  private def localComponents(spark: org.apache.spark.sql.SparkSession,
                              edges: Iterable[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val up = parent(c); parent(c) = r; c = up }
      r
    }
    def node(x: Long): Long = { if (!parent.contains(x)) parent(x) = x; x }
    edges.foreach { case (u, v) =>
      val a = find(node(u))
      val b = find(node(v))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val rows = new java.util.ArrayList[Row](parent.size)
    parent.keys.toArray.foreach(x => rows.add(Row(x, find(x))))
    spark.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType, nullable = false), StructField("component", LongType))))
  }

  /** Incremental connected components (round 12) — the shard-arrival
    * twin of [[connectedComponents]], completing the ingestion story for
    * the GROUP-SIZED consumer (the quote-cluster catalog) the way the
    * incremental pair miners did for pair listings: when a new shard's
    * edges arrive, re-propagate labels over only the components those
    * edges TOUCH instead of re-running CC over the full accumulated pair
    * graph.
    *
    * `labels` is a frozen fixpoint labeling — (id, component) with
    * component = the min id of each component, exactly
    * [[connectedComponents]]' output over all previously-seen edges.
    * `newPairs` is the shard's edge set (any pairs touching the shard —
    * the incremental pair miners' output is exactly this). The frozen
    * components COLLAPSE to stars: each touched component contributes
    * its (member → label) edges, which preserve both its connectivity
    * and its min id (the label IS a member), so running the batch
    * hash-min CC over star-edges ∪ new-edges yields, for every touched
    * or new node, the same min-id label a full run over the union of
    * all edges would — old components merge exactly when a new-edge
    * path connects them, and the merged label is the global min.
    * Untouched components cannot change and keep their frozen rows.
    *
    * Work is O(touched components + shard edges): the only corpus-side
    * scans are one semi-join selecting touched labels (shuffles on id /
    * component — at warehouse scale, persist labels bucketed on both to
    * make them exchange-free) and, in full mode, one anti-join emitting
    * the untouched rows; the CC rounds run on the star subgraph, not
    * the corpus graph.
    *
    * DRIVER-LOCAL REGIME (the small-input regime, see
    * [[Staging.stageObserved]]): under an eager staging mode the shard's
    * edges are staged once with their row count observed on the staging
    * action. When they fit `localEdges` ([[ccLocalEdges]]) they are
    * collected, and `labels` is read in two bounded lookups: the
    * touched nodes' labels, then the touched components' members. The
    * star ∪ shard edges are then closed by the same union-find as
    * [[connectedComponents]]' driver-local regime, so the sub-run costs
    * four small jobs and its result is a local relation. The bound
    * keeps [[connectedComponents]]' meaning — the sub-run's symmetric
    * distinct edge rows — so a shard whose stars do not fit, a raw
    * shard past the bound, and the lazy modes run the distributed path:
    * the touched components' members selected by semi-joins (or, when
    * the first lookup found the components, by one IN-set scan), then
    * an ordinary [[connectedComponents]] call over star ∪ shard edges
    * (which takes its own round loop past the bound).
    *
    * Two output modes. Default (`deltaOnly = false`): the complete
    * updated labeling, same schema and semantics as
    * [[connectedComponents]] over the union of all edges — contract
    * parity for a consumer that wants the whole catalog (q118). With
    * `deltaOnly = true`: ONLY the re-propagated rows (members of
    * touched components + the shard's new nodes) — the LSM shape for a
    * PERSISTED labels table, where emitting (and re-materializing) the
    * untouched corpus every shard would itself be the O(corpus) cost
    * the incremental path exists to avoid; the caller appends the delta
    * with a batch id and reads latest-batch-wins, exactly the
    * `ingest_batch` discipline of the index families. Both modes pinned
    * equal to batch-over-union in DedupSpec; the delta-vs-full cost gap
    * (per-shard incremental 6.3–7.9 s vs 21.4 s naive full re-run at
    * 500 k components / 4 M nodes) is SURVEY.md's round-12 record. */
  def connectedComponentsIncremental(labels: DataFrame, newPairs: DataFrame,
                                     aCol: String, bCol: String,
                                     maxIter: Int = 25,
                                     staging: Staging.Mode = Staging.Local,
                                     deltaOnly: Boolean = false,
                                     onRound: () => Unit = () => (),
                                     localEdges: Int = ccLocalEdges): DataFrame = {
    val shardEdges = newPairs.select(col(aCol).cast("long").as("u"),
      col(bCol).cast("long").as("v"))
    // labels is NOT staged here: it is corpus-sized (typically a table
    // read or already checkpointed by the caller), consumed only by
    // scans below — eagerly materializing it would put the O(corpus)
    // cost back into every shard arrival
    val lab = labels.select(col("id").cast("long").as("id"),
      col("component").cast("long").as("comp"))
    def emit(sub: DataFrame): DataFrame =
      if (deltaOnly) sub.select(col("id"), col("component"))
      else {
        val untouched = lab.join(sub.select(col("id")), Seq("id"), "left_anti")
          .select(col("id"), col("comp").as("component"))
        sub.select(col("id"), col("component")).union(untouched)
      }
    // the shard's edges feed both the touched-component selection and
    // the sub-run: under an eager mode stage them once, so a miner's
    // output is evaluated once; the new nodes are then a cheap view of
    // them. Lazy modes stage the new nodes, as the shard stays a view
    val eager = Staging.isEager(staging)
    val bound = math.min(localEdges, ccLocalEdges)
    // `known`: the touched components, when the driver-local regime
    // looked them up but its sub-run did not fit
    val (fwd, known): (DataFrame, Option[Set[Long]]) =
      if (!eager) (shardEdges, None)
      else if (bound <= 0) (staging(shardEdges), None)
      else {
        val (staged, n) = Staging.stageObserved(staging, shardEdges, count(lit(1)))
        if (n.getLong(0) > bound) (staged, None)
        else localIncremental(lab, staged.collect(), bound) match {
          case Right(sub) => onRound(); return emit(sub)
          case Left(comps) => (staged, comps)
        }
      }
    // the members of every component with a member incident to a new
    // edge — everything else is provably unchanged and never enters the
    // propagation. Known components are one IN-set scan, so a regime
    // that fell back pays no second selection
    val touchedRows = known match {
      case Some(comps) => lab.filter(col("comp").isInCollection(comps))
      case None =>
        val nodes = fwd.select(col("u")).union(fwd.select(col("v")))
          .distinct().select(col("u").as("id"))
        val newNodes = if (eager) nodes else staging(nodes)
        val touchedComps = lab.join(newNodes, Seq("id"), "left_semi")
          .select(col("comp")).distinct()
        lab.join(touchedComps, Seq("comp"), "left_semi")
    }
    // the frozen component as a star: member — label edges (the label
    // node itself contributes a harmless self-edge, so size-1 components
    // a caller unioned in survive too)
    val starPairs = touchedRows.select(col("id").as("u"), col("comp").as("v"))
    emit(connectedComponents(
      starPairs.union(fwd.select(col("u"), col("v"))), "u", "v",
      maxIter, staging, onRound, localEdges))
  }

  /** The driver-local sub-run of [[connectedComponentsIncremental]]:
    * `shard` holds the shard's (u, v) rows, at most `bound` of them.
    * Looks up the touched nodes' labels, then the touched components'
    * members, each in one job that brings at most `bound + 1` rows to
    * the driver ([[Staging.collectAtMost]]; every touched label and
    * every member adds its own star row, so a larger lookup cannot
    * fit), and closes star ∪ shard edges by union-find into Right(the
    * sub-run's rows).
    * Left when the symmetric distinct star ∪ shard rows exceed `bound` —
    * the same count [[connectedComponents]]' regime bounds — and the
    * caller then runs the distributed path; Left holds the touched
    * components when the first lookup fit, so that path need not select
    * them again. Touched nodes are every non-NULL endpoint, as the
    * semi-join of the distributed path selects them; an edge with a
    * NULL endpoint closes nothing. */
  private def localIncremental(lab: DataFrame, shard: Array[Row],
                               bound: Int): Either[Option[Set[Long]], DataFrame] = {
    val nodes = shard.iterator.flatMap(r => Iterator(r.get(0), r.get(1)))
      .collect { case x: Long => x }.toSet
    val edges = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
    def link(u: Long, v: Long): Unit = { edges += ((u, v)); edges += ((v, u)) }
    shard.foreach(r => if (!r.isNullAt(0) && !r.isNullAt(1)) link(r.getLong(0), r.getLong(1)))
    // an IN-set filter, not a join: the lookup stays one scan and one job
    val touched =
      if (nodes.isEmpty) Some(Array.empty[Row])
      else Staging.collectAtMost(lab.filter(col("id").isInCollection(nodes)).select(col("comp")),
        bound)
    val comps = touched.map(_.iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).toSet)
    val star = comps.flatMap(c =>
      if (c.isEmpty) Some(Array.empty[Row])
      else Staging.collectAtMost(lab.filter(col("comp").isInCollection(c)), bound))
    star.foreach(_.foreach(r => if (!r.isNullAt(0)) link(r.getLong(0), r.getLong(1))))
    if (star.isEmpty || edges.size > bound) Left(comps)
    else Right(localComponents(lab.sparkSession, edges))
  }

  /** Repair a components labeling after UPSTREAM deletions (round 13 —
    * the re-derivation operator the labels family's no-tombstone rule
    * points at): removing a node can SPLIT a component (every edge
    * through it vanishes), which a label table cannot express by
    * patching — a label-only "delete" would silently keep severed
    * members merged. Derived state is re-derived instead: select the
    * components the deleted ids TOUCH, re-run CC over their SURVIVING
    * edges, and splice the result into the untouched catalog.
    *
    * `labels` is the frozen fixpoint labeling (id, component) over all
    * previously-seen edges; `survivingPairs` is the upstream pair
    * source with tombstones already applied (the incremental miners'
    * corpus views hide dead ids the moment the tombstone commits) —
    * and is defensively re-scrubbed here with a broadcast anti-join on
    * both endpoints, so passing a stale pair listing cannot resurrect
    * a deleted id. The result equals [[connectedComponents]] over the
    * surviving pairs exactly: deleted ids leave the catalog, members
    * severed from every surviving edge leave too (a from-scratch run
    * never sees them), splits get fresh min-id labels, and untouched
    * components keep their frozen rows without being rescanned.
    *
    * Work is O(touched components + their surviving edges): original
    * components are edge-closed, so no surviving edge can cross from a
    * touched into an untouched component — the sub-run over edges
    * incident to touched members is exactly the global answer for
    * them. There is deliberately NO deltaOnly mode: deletion can only
    * REMOVE rows, which a latest-wins append cannot express — the
    * persisted path ([[graft.streaming.IngestLoop.repairCc]]) folds
    * the repaired catalog into the floor partition in one fenced
    * rewrite, subsuming a compaction. */
  def ccRepair(labels: DataFrame, survivingPairs: DataFrame,
               aCol: String, bCol: String,
               deletedIds: DataFrame, idCol: String,
               maxIter: Int = 25,
               staging: Staging.Mode = Staging.Local): DataFrame = {
    val dead = deletedIds.select(col(idCol).cast("long").as("id")).distinct()
    val lab = labels.select(col("id").cast("long").as("id"),
      col("component").cast("long").as("comp"))
    val touchedComps = lab.join(broadcast(dead), Seq("id"), "left_semi")
      .select(col("comp")).distinct()
    // the touched components' full member sets — the probe side of the
    // edge selection below, and the universe the sub-run must relabel
    val members = staging(lab.join(touchedComps, Seq("comp"), "left_semi")
      .select(col("id")))
    val fwd = survivingPairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .join(broadcast(dead.select(col("id").as("u"))), Seq("u"), "left_anti")
      .join(broadcast(dead.select(col("id").as("v"))), Seq("v"), "left_anti")
    // edge-closure of the frozen labeling means u-membership alone
    // selects every surviving edge of a touched component; the v-side
    // union guards against a caller whose labels lag the pair source
    val sub = fwd.join(members.select(col("id").as("u")), Seq("u"), "left_semi")
      .union(fwd.join(members.select(col("id").as("v")), Seq("v"), "left_semi"))
      .distinct()
    val repaired = connectedComponents(sub, "u", "v", maxIter, staging)
    val untouched = lab.join(touchedComps, Seq("comp"), "left_anti")
      .select(col("id"), col("comp").as("component"))
    repaired.select(col("id"), col("component")).union(untouched)
  }

  /** Near-dup dedup survivors: every id in `df` except non-canonical
    * members of a duplicate component (canonical = min id). */
  def keepCanonical(df: DataFrame, idCol: String, pairs: DataFrame,
                    aCol: String, bCol: String): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
    df.join(comps.filter(col("id") =!= col("component"))
        .select(col("id").as(idCol)),
      Seq(idCol), "left_anti")
  }

  /** [[keepCanonical]] with QUALITY-aware survivor selection — what
    * production dedup actually wants: within each duplicate component
    * keep the member with the BEST `scoreCol` (highest score, ties by
    * min id — "keep the longest/highest-quality copy", not "keep the
    * smallest id"). Rows absent from the pair graph are singletons and
    * always survive.
    *
    * Scale shape: one CC over the PAIR set (dup components only — the
    * corpus never enters the propagation), one corpus-side left join
    * against the component labels, then the argmax as a row_number
    * window PARTITIONED BY component — a component's rows pass through
    * one partition, which is exactly the safe size here: duplicate
    * clusters are collapse-bounded (the same reason the banded tiers
    * cap candidate growth), never corpus-sized. */
  def keepBestCanonical(df: DataFrame, idCol: String, pairs: DataFrame,
                        aCol: String, bCol: String,
                        scoreCol: String): DataFrame = {
    // the CC label joins in under a reserved __-name: a caller column
    // literally called "component" must survive untouched (and must not
    // make the coalesce ambiguous after the join)
    val comps = connectedComponents(pairs, aCol, bCol)
      .select(col("id").as(idCol), col("component").as("__cc_comp"))
    val withComp = df.join(comps, Seq(idCol), "left")
      .withColumn("__comp", coalesce(col("__cc_comp"), col(idCol)))
    val w = Window.partitionBy(col("__comp"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    withComp.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__cc_comp", "__comp", "__rn")
  }

  /** 64-bit SimHash over a token array column: per-bit vote of token
    * hashes, sign → bit. Token hashing is one transform pass; the 64-bit
    * vote/fold runs in the native codegen'd SimHash64 expression (the
    * nested-lambda formulation walked a 64-wide array accumulator through
    * interpreted HOFs per token). */
  def simhash64(toksCol: String): Column =
    graft.functions.SimHashExpression.simhash64(
      expr(s"transform($toksCol, t -> xxhash64(t))"))

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Persisted-shape SimHash index: one frame (id, __sig, chunk, ckey) —
    * the 64-bit signature exploded into its four 16-bit chunk buckets,
    * the candidate-join key of [[simhashPairs]]. Same reuse contract as
    * [[MinHashIndex]]: write once per corpus (bucketed by `ckey` at
    * cluster scale), [[union]] newly-indexed shards in, ids disjoint. */
  final case class SimHashIndex(idCol: String, chunked: DataFrame) {
    def union(other: SimHashIndex): SimHashIndex = {
      require(other.idCol == idCol,
        s"SimHashIndex id columns differ: '$idCol' vs '${other.idCol}'")
      SimHashIndex(idCol, chunked.union(other.chunked))
    }
  }

  /** Persist a [[SimHashIndex]] as a bucketed Parquet table, hash-
    * bucketed (and sorted) on the candidate join's exact (chunk, ckey)
    * key set — the family's persistence contract (see
    * [[saveMinhashIndex]]): an incremental batch reads the corpus side
    * co-located and only the shard shuffles. The id column name rides
    * in `<prefix>_meta`. */
  def saveSimhashIndex(idx: SimHashIndex, prefix: String,
                       buckets: Int = 64): Unit = {
    val spark = idx.chunked.sparkSession
    Fence.withFence(spark, prefix, "saveSimhashIndex") {
      import spark.implicits._
      Family.SimHash.keyedOn(idx.idCol).save(prefix, Seq(idx.chunked),
        Seq((idx.idCol, buckets)).toDF("id_col", "buckets"), buckets)
    }
  }

  /** Load a [[saveSimhashIndex]]-persisted index by catalog name
    * ([[Tombstones]]-deleted ids filtered). */
  def loadSimhashIndex(spark: org.apache.spark.sql.SparkSession,
                       prefix: String): SimHashIndex = {
    val idCol = spark.table(Family.meta(prefix)).head().getString(0)
    SimHashIndex(idCol, Family.SimHash.keyedOn(idCol).load(spark, prefix).head)
  }

  /** Build the [[SimHashIndex]] for `df`: signature (native codegen
    * vote kernel), then [[signatureIndex]]'s chunk explode —
    * shuffle-free scan projection. */
  def simhashIndex(df: DataFrame, idCol: String, textCol: String,
                   staging: Staging.Mode = Staging.Local,
                   spread: Boolean = true): SimHashIndex = {
    // spread before the kernel (round 16): see Staging.spread — the
    // 64-hyperplane vote otherwise runs at the scan's file width;
    // spread = false for shard/batch-sized inputs (see minhashIndex)
    signatureIndex((if (spread) Staging.spread(df, col(idCol)) else df)
      .withColumn("__sig", simhash64(s"split($textCol, ' ')")), idCol, "__sig", staging)
  }

  /** [[SimHashIndex]] over a PRECOMPUTED 64-bit signature column — the
    * banding entry point for non-text perceptual fingerprints (the
    * multimodal dHash of [[Multimodal.decodeImageDHash]]): the 16-bit
    * chunk buckets and the pigeonhole recall bound depend only on the
    * signature being 64 bits, not on where it came from. */
  def signatureIndex(df: DataFrame, idCol: String, sigCol: String,
                     staging: Staging.Mode = Staging.Local): SimHashIndex = {
    val sigd = df.withColumn("__sig", col(sigCol).cast("long"))
    SimHashIndex(idCol, staging(sigd.select(col(idCol), col("__sig"),
      explode(expr("transform(sequence(0, 3), c -> " +
        "named_struct('chunk', c, 'ckey', shiftright(`__sig`, c * 16) & 65535))")).as("cb"))
      .select(col(idCol), col("__sig"), col("cb.chunk").as("chunk"), col("cb.ckey").as("ckey"))))
  }

  /** Near-dup pairs over a precomputed 64-bit signature column — the
    * perceptual-hash dedup path (image corpora dedup on dHash the way
    * text dedups on MinHash/SimHash): chunk-bucket candidates + exact
    * Hamming verify, recall 1.0 at Hamming <= 3 by the pigeonhole
    * bound. Exact duplicates take the [[dupGroups]] collapse keyed on
    * the signature itself (re-encoded copies of one image share a
    * signature exactly, so clone-heavy image corpora would otherwise
    * inflate the candidate join g²·4-ish); hamming is exactly 0 within
    * a signature group. */
  def signaturePairs(df: DataFrame, idCol: String, sigCol: String,
                     maxHamming: Int = 3,
                     staging: Staging.Mode = Staging.Local,
                     collapsePairsPerDoc: Double = 2.0): DataFrame = {
    val sigd = df.select(col(idCol), col(sigCol).cast("long").as("__sig"))
    def pairsOf(d: DataFrame) = simhashChunkPairs(
      staging(signatureIndex(d, idCol, "__sig", Staging.None).chunked), idCol, maxHamming)
    dupGroups(sigd.select(col(idCol).as("id"), col("__sig").as("key")),
        staging, collapsePairsPerDoc) match {
      case None => pairsOf(sigd)
      case Some(g) =>
        expandDupPairs(g, pairsOf(g.reps.select(col("gid").as(idCol), col("key").as("__sig"))),
          "hamming", lit(0).cast("int"))
    }
  }

  /** SimHash near-dup pairs: candidates share at least one of four 16-bit
    * signature chunks (guarantees recall for distance <= 3), verified by
    * exact Hamming distance. Chunk-bucket join, not O(n^2).
    *
    * Exact duplicates (md5 of the text) take the [[dupGroups]]
    * collapse: an exact-dup family shares one signature, so every
    * member pair is a guaranteed candidate in ALL FOUR chunks. Hamming
    * is exactly 0 within a group (identical text → identical signature
    * — every text has a signature, so no shinglability carve-out). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   staging: Staging.Mode = Staging.Local,
                   collapsePairsPerDoc: Double = 2.0): DataFrame = {
    def pairsOf(d: DataFrame) = simhashChunkPairs(
      simhashIndex(d, idCol, textCol, staging).chunked, idCol, maxHamming)
    dupGroups(df.select(col(idCol).as("id"), md5(col(textCol)).as("key")),
        staging, collapsePairsPerDoc) match {
      case None => pairsOf(df)
      case Some(g) =>
        expandDupPairs(g,
          pairsOf(df.join(g.reps.select(col("gid").as(idCol)), Seq(idCol), "left_semi")),
          "hamming", lit(0).cast("int"))
    }
  }

  /** Chunk-bucket candidate join + exact-Hamming verify over a built
    * chunk table — the shared core of both [[simhashPairs]] branches. */
  private def simhashChunkPairs(chunked: DataFrame, idCol: String,
                                maxHamming: Int): DataFrame = {
    val a = chunked.select(col(idCol).as("a_id"), col("__sig").as("a_sig"), col("chunk"), col("ckey"))
    val b = chunked.select(col(idCol).as("b_id"), col("__sig").as("b_sig"), col("chunk"), col("ckey"))
    a.join(b, Seq("chunk", "ckey"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), hamming(col("a_sig"), col("b_sig")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Incremental SimHash near-dup pairs touching a new shard — same
    * ingestion shape and pairwise-predicate equivalence argument as
    * [[minhashLshPairsIncremental]] (chunk-bucket collision is pairwise;
    * Hamming distance is symmetric, so orientation-normalizing the
    * shard-vs-corpus ids with least/greatest leaves the verify intact).
    * Row-identical to [[simhashPairs]] over corpus ∪ shard restricted to
    * pairs with at least one shard id (DedupSpec). */
  def simhashPairsIncremental(shard: SimHashIndex, corpus: SimHashIndex,
                              maxHamming: Int = 3,
                              collapsePairsPerDoc: Double = 2.0,
                              staging: Staging.Mode = Staging.Local): DataFrame = {
    val idCol = shard.idCol
    require(corpus.idCol == idCol,
      s"index id columns differ: '${corpus.idCol}' vs '$idCol'")
    // the [[dupGroups]] collapse on the SIGNATURE key: identical
    // signatures — which is what exact-dup texts produce — collide in
    // all four chunks, and equal sigs ⇔ hamming 0, so no text access is
    // needed. One narrow row per id (the chunk-0 slice) feeds the probe
    // and the membership frames.
    val keyed = corpus.chunked.filter(col("chunk") === 0)
      .select(col(idCol).as("id"), col("__sig").as("key"), lit(false).as("__shard"))
      .union(shard.chunked.filter(col("chunk") === 0)
        .select(col(idCol).as("id"), col("__sig").as("key"), lit(true).as("__shard")))
    val g = dupGroups(keyed, staging, collapsePairsPerDoc) match {
      case Some(groups) => groups
      case None =>
        val sa = shard.chunked.select(col(idCol).as("a_id"), col("__sig").as("a_sig"), col("chunk"), col("ckey"))
        val sb = shard.chunked.select(col(idCol).as("b_id"), col("__sig").as("b_sig"), col("chunk"), col("ckey"))
        val nn = sa.join(sb, Seq("chunk", "ckey"))
          .filter(col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"), hamming(col("a_sig"), col("b_sig")).as("hamming"))
        val nc = shard.chunked.select(col(idCol).as("n_id"), col("__sig").as("n_sig"), col("chunk"), col("ckey"))
          .join(corpus.chunked.select(col(idCol).as("c_id"), col("__sig").as("c_sig"), col("chunk"), col("ckey")),
            Seq("chunk", "ckey"))
          .select(least(col("n_id"), col("c_id")).as("a_id"),
            greatest(col("n_id"), col("c_id")).as("b_id"),
            hamming(col("n_sig"), col("c_sig")).as("hamming"))
        return nn.union(nc).distinct().filter(col("hamming") <= maxHamming)
    }
    val repIds = g.reps.select(col("gid").as(idCol))
    val allChunked = corpus.chunked.union(shard.chunked)
    val repChunked = allChunked.join(repIds, Seq(idCol), "left_semi")
    val probeGroups = g.mem.filter(col("__shard")).select(col("gid").as(idCol)).distinct()
    val probeChunked = repChunked.join(probeGroups, Seq(idCol), "left_semi")
    val repPairs = probeChunked
      .select(col(idCol).as("x_id"), col("__sig").as("x_sig"), col("chunk"), col("ckey"))
      .join(repChunked.select(col(idCol).as("y_id"), col("__sig").as("y_sig"),
        col("chunk"), col("ckey")), Seq("chunk", "ckey"))
      .filter(col("x_id") =!= col("y_id"))
      .select(least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"),
        hamming(col("x_sig"), col("y_sig")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    expandDupPairs(g, repPairs, "hamming", lit(0).cast("int"))
  }

  // ------------------------------------------------------------------
  // Asymmetric n-gram CONTAINMENT — C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|
  // (Broder 1997's second measure, next to resemblance/Jaccard): the
  // quote / excerpt / subset detector. A short doc lifted verbatim from
  // a long one has containment ≈ 1 while its Jaccard is tiny, so the
  // MinHash-banded paths above (which target resemblance) structurally
  // CANNOT find it — this needs its own candidate scheme.

  /** Shared shingle prep for the containment tiers: (id, sh, m) with
    * empty shingle sets excluded — containment is 0/0-undefined for a
    * doc with fewer than `n` tokens, so (like zero-norm vectors in the
    * cosine family) it drops out of the containment universe entirely,
    * in both tiers and in the oracles. */
  private def containmentBase(df: DataFrame, idCol: String, textCol: String,
                              n: Int): DataFrame =
    df.withColumn("__toks", split(col(textCol), " "))
      .select(col(idCol).as("id"), shingleExpr("__toks", n).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("m", size(col("sh")))

  /** Fixed-point containment of a pre-sized pair: floor(|∩|·10⁶ / m)/10⁶
    * — integer-exact on both engines (DuckDB computes it with `//`;
    * here floor-of-double-division is exact because the quotient is
    * ≥ 1/m ≈ 1e-6 away from any integer it doesn't hit exactly, five
    * orders above double ulp at the 10⁶ scale), no double-rounding
    * half-boundary risk (the q02 fixed-point rule applied to ratios). */
  private def containmentExprFx(aSh: Column, bSh: Column, aM: Column): Column =
    floor(size(array_intersect(aSh, bSh)).cast("double") * lit(1000000.0) /
        aM.cast("double")) / lit(1000000.0)

  /** Exact containment tier: ALL ordered pairs a ≠ b with
    * C(a→b) ≥ tau. O(n²) BY CONTRACT and guarded like the other exact
    * tiers — refuse past the pair budget, naming the scale path. */
  def containmentPairsExact(df: DataFrame, idCol: String, textCol: String,
                            tau: Double, n: Int = 3,
                            maxPairs: Long = 20000000L): DataFrame = {
    val base = containmentBase(df, idCol, textCol, n)
    val rows = base.count()
    // overflow-safe integer form: rows*rows would overflow Long past
    // ~3e9 rows (exactly the regime this guard refuses), and the
    // floor(sqrt(budget.toDouble)) form is off-by-one-able for budgets
    // near Long.MaxValue (53-bit mantissa rounding) — rows <= budget/rows
    // is exact at every magnitude (cosineDupPairs uses the same form)
    require(rows == 0 || rows <= maxPairs / rows,
      s"exact containment tier is all-ordered-pairs: n=$rows rows exceeds " +
        s"the n² pair budget $maxPairs. Use the prefix-filtered scale " +
        "path (Dedup.containmentJoin) past this size.")
    val a = base.select(col("id").as("a_id"), col("sh").as("a_sh"), col("m").as("a_m"))
    val b = base.select(col("id").as("b_id"), col("sh").as("b_sh"))
    a.join(b, col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        containmentExprFx(col("a_sh"), col("b_sh"), col("a_m")).as("containment"))
      .filter(col("containment") >= tau)
  }

  /** Prefix-filtered containment join — the scale path (the prefix-
    * filtering principle of PPJoin: Xiao/Wang/Lin/Yu, WWW 2008, applied
    * to the one-sided overlap bound). Ordered-pair output identical to
    * [[containmentPairsExact]] (DedupSpec pins it).
    *
    * Candidate scheme: a pair with |A∩B| ≥ k must share at least one of
    * A's (m − k + 1) GLOBALLY-RAREST shingles (pigeonhole over any fixed
    * canonical order; frequency-ascending order makes those prefix
    * shingles the ones with the shortest posting lists). So:
    *   1. one aggregate computes global shingle frequencies,
    *   2. one per-doc window ranks each doc's shingles by (freq, gram),
    *   3. the probe side explodes ONLY the prefix (rare) shingles; the
    *      index side is the full posting table,
    *   4. the equi-join on gram yields candidates; exact fixed-point
    *      containment re-scores them — banding-style: candidates control
    *      recall (guaranteed ≥ required by the pigeonhole bound),
    *      precision is exact.
    * k is under-approximated (k_safe = max(1, ⌊τ·m + 1e-9⌋ − 1)) so
    * float noise in τ·m and the 6-dp fixed-point floor can only LENGTHEN
    * the prefix (recall-safe, never lossy). Hot shingles cannot explode
    * the join: a globally-hot gram is by construction at the END of
    * every doc's frequency order, outside any prefix, so it never enters
    * the probe side — the candidate volume is Σ_gram prefix(g)·posting(g)
    * over RARE grams, and [[requirePairBudget]] enforces a hard cap on
    * exactly that sum before the join is scheduled.
    *
    * Shuffles at scale: freq aggregate (gram key), per-doc rank window
    * (id key), candidate equi-join (gram key), verify joins (id keys) —
    * all narrow-keyed, nothing quadratic in corpus size. */
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
                      tau: Double, n: Int = 3,
                      maxCandidates: Long = 200000000L,
                      staging: Staging.Mode = Staging.Local,
                      collapsePairsPerDoc: Double = 2.0): DataFrame = {
    require(tau > 0 && tau <= 1, s"containment threshold must be in (0,1], got $tau")
    // NO Staging.spread here (round 17): tried and REVERTED by
    // measurement — the shingle kernel does show as a 2-task job at
    // sf0.1 (q119 profile: 2.5 task-seconds), but spreading the text
    // payload through an exchange to feed it made the whole family
    // SLOWER in the full bench (q103 2.6→3.4 s, q116 3.6→4.8, q119
    // 6.9→8.4; ambient drift ~1.0 on untouched rows): this operator
    // stages `base` once and every downstream stage is shuffle-derived,
    // so the exchange + 32-partition checkpoint overhead exceeds the
    // kernel time it parallelizes (guide §8: don't move payload bytes
    // for light work). A production-width scan never collapses here.
    val base = staging(containmentBase(df, idCol, textCol, n))
    // the [[dupGroups]] collapse on the SHINGLE-SET key: containment is
    // a pure function of the two sets, so members score 1.0 within a
    // group (identical sets) and the rep score across groups,
    // direction-preserved
    dupGroups(base.select(col("id"), shingleSetKey.as("key")), staging,
        collapsePairsPerDoc) match {
      case None => containmentPrefixPairs(base, tau, maxCandidates, staging)
      case Some(g) =>
        val repBase = staging(base.join(g.reps.select(col("gid").as("id")),
          Seq("id"), "left_semi"))
        expandDupPairs(g, containmentPrefixPairs(repBase, tau, maxCandidates, staging),
          "containment", lit(1.0), directed = true)
    }
  }

  /** Exact-duplicate key of a shingle set: md5 of the sorted set. The
    * \u0001 separator is safe: grams are space-joined token n-grams from
    * a single-space split, so no gram contains it and the sorted-set
    * concatenation is prefix-unambiguous. */
  private val shingleSetKey: Column = md5(concat_ws("\u0001", sort_array(col("sh"))))

  /** The prefix-filtered candidate + exact-verify pipeline of
    * [[containmentJoin]] over a prepared (id, sh, m) base — shared by
    * both collapse branches. */
  private def containmentPrefixPairs(base: DataFrame, tau: Double,
                                     maxCandidates: Long,
                                     staging: Staging.Mode): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // carry m through the explode: the rank filter needs each doc's
    // shingle count, and one extra int column on the posting rows is
    // free where a posting⋈base re-join on id is a shuffle
    val posting = base.select(col("id"), col("m"), explode(col("sh")).as("gram"))
    val freq = posting.groupBy("gram").agg(count(lit(1)).as("__gf"))
    val kSafe = greatest(lit(1L), floor(col("m") * lit(tau) + lit(1e-9)).cast("long") - 1L)
    // stage the prefix: the freq-aggregate + rank-window pipeline above
    // it is the expensive half of this operator, and without staging it
    // runs once for requirePairBudget's probe count and AGAIN for the
    // candidate join (the q33 signature-staging recipe)
    val prefix = staging(posting.join(freq, Seq("gram"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("id").orderBy(asc("__gf"), asc("gram"))))
      .filter(col("__rk") <= col("m") - kSafe + 1L)
      .select(col("id").as("a_id"), col("gram")))
    requirePairBudget(prefix, posting, "gram", maxCandidates)
    val cand = prefix
      .join(posting.select(col("id").as("b_id"), col("gram")), Seq("gram"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    val av = base.select(col("id").as("a_id"), col("sh").as("a_sh"), col("m").as("a_m"))
    val bv = base.select(col("id").as("b_id"), col("sh").as("b_sh"))
    cand.join(av, "a_id").join(bv, "b_id")
      .select(col("a_id"), col("b_id"),
        containmentExprFx(col("a_sh"), col("b_sh"), col("a_m")).as("containment"))
      .filter(col("containment") >= tau)
  }

  /** Persisted-shape containment index — the ingestion twin of
    * [[MinHashIndex]]/[[SimHashIndex]]/`Similarity.EmbedIndex` for the
    * containment family: `base` = (id, sh, m) shingle table, `posting` =
    * (id, gram) inverted index, both built ONCE per corpus. Carries the
    * shingle width `n` so mismatched shingle families refuse loudly
    * instead of silently missing overlaps. `union` folds an ingested
    * shard in for the next batch. */
  final case class ContainmentIndex(idCol: String, n: Int,
                                    base: DataFrame, posting: DataFrame) {
    def union(other: ContainmentIndex): ContainmentIndex = {
      require(idCol == other.idCol,
        s"ContainmentIndex id columns differ: '$idCol' vs '${other.idCol}'")
      require(n == other.n,
        s"ContainmentIndex shingle widths differ: n=$n vs n=${other.n}")
      ContainmentIndex(idCol, n, base.union(other.base),
        posting.union(other.posting))
    }
  }

  /** Build the [[ContainmentIndex]] for `df` — one pass: shingle
    * projection (per-row), empty-set exclusion, staged base, exploded
    * posting. */
  def containmentIndex(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3,
                       staging: Staging.Mode = Staging.Local,
                       spread: Boolean = true): ContainmentIndex =
    sizedContainmentIndex(df, idCol, textCol, n, staging, spread)._1

  /** [[containmentIndex]] with the exact row counts of its tables in the
    * family's declared order (posting, base), observed on the base's
    * staging action: its rows and Σm, which is the posting's row count
    * (one row per distinct shingle). Empty under the lazy mode, which
    * stages nothing. The ingest loop hands them to the one-task family
    * write ([[Layout.writeBucketed]]). */
  private[graft] def sizedContainmentIndex(df: DataFrame, idCol: String,
                                           textCol: String, n: Int,
                                           staging: Staging.Mode,
                                           spread: Boolean): (ContainmentIndex, Seq[Long]) = {
    // spread before the gram kernel (round 16): see Staging.spread;
    // spread = false for shard/batch-sized inputs (see minhashIndex)
    val shingled = containmentBase(
      if (spread) Staging.spread(df, col(idCol)) else df, idCol, textCol, n)
    val (base, rows) =
      if (!Staging.isEager(staging)) (staging(shingled), Nil)
      else {
        val (staged, m) = Staging.stageObserved(staging, shingled,
          count(lit(1)), coalesce(sum(col("m")), lit(0L)))
        (staged, Seq(m.getLong(1), m.getLong(0)))
      }
    (ContainmentIndex(idCol, n, base,
      base.select(col("id"), explode(col("sh")).as("gram"))), rows)
  }

  /** Persist a [[ContainmentIndex]] as bucketed Parquet tables:
    * `<prefix>_posting` hash-bucketed (and sorted) on `gram` — the
    * candidate join key of [[containmentJoinIncremental]] — so an
    * incremental batch reads the corpus posting co-located and only the
    * shard side shuffles; `<prefix>_base` bucketed on `id` for the
    * verify joins. The shingle width rides in `<prefix>_meta` so
    * mismatched families refuse on load-and-join. */
  def saveContainmentIndex(idx: ContainmentIndex, prefix: String,
                           buckets: Int = 64): Unit = {
    val spark = idx.posting.sparkSession
    Fence.withFence(spark, prefix, "saveContainmentIndex") {
      import spark.implicits._
      // overlap the three per-table writes: see saveMinhashIndex (round 17)
      Family.Containment.save(prefix, Seq(idx.posting, idx.base),
        Seq((idx.idCol, idx.n, buckets)).toDF("id_col", "n", "buckets"), buckets)
    }
  }

  /** Load a [[saveContainmentIndex]]-persisted index by catalog name
    * ([[Tombstones]]-deleted ids filtered; internal id column is the
    * normalized `id`). */
  def loadContainmentIndex(spark: org.apache.spark.sql.SparkSession,
                           prefix: String): ContainmentIndex = {
    val m = spark.table(Family.meta(prefix)).head()
    val Seq(posting, base) = Family.Containment.load(spark, prefix)
    ContainmentIndex(m.getString(0), m.getInt(1), base, posting)
  }

  /** Incremental containment pairs TOUCHING A NEW SHARD — both
    * directions of shard↔shard and shard↔corpus — against a corpus
    * whose [[ContainmentIndex]] already exists. The ingestion shape of
    * the trio applied to containment: the corpus is never re-shingled;
    * the shard's posting joins the persisted one. Candidates are any
    * pair sharing ≥ 1 shingle with a shard member (a superset of every
    * qualifying pair for any tau > 0 — sound without prefix ranking,
    * which would need corpus-wide re-ranking per batch); the exact
    * fixed-point verify then scores BOTH directions of each candidate,
    * so the output is row-identical to [[containmentJoin]] over
    * corpus ∪ shard restricted to shard-touching ordered pairs
    * (DedupSpec). Candidate volume is shard-activity × gram-hotness,
    * hard-capped by [[requirePairBudget]] before the join is
    * scheduled.
    *
    * Exact duplicates take the [[dupGroups]] collapse over corpus ∪
    * shard on the SHINGLE-SET key (md5 of the sorted set: containment
    * is a pure function of the two sets, so every member pair of one
    * group scores 1.0); the key lives on narrow columns, so the
    * per-batch keying is one linear pass, not a corpus re-index. */
  def containmentJoinIncremental(shard: ContainmentIndex,
                                 corpus: ContainmentIndex, tau: Double,
                                 maxCandidates: Long = 1000000000L,
                                 collapsePairsPerDoc: Double = 2.0,
                                 staging: Staging.Mode = Staging.Local): DataFrame =
    containmentMineIncremental(shard, corpus, tau, maxCandidates,
      collapsePairsPerDoc, staging, edges = false)

  /** GROUP-SIZED emission for the incremental containment miner
    * (round 16 -- the clone-storm tier): instead of LISTING every
    * qualifying ordered pair (inherently Theta(pair mass) output -- the
    * q103 caveat), emit an undirected EDGE SET `(u, v)` whose
    * connected components -- together with the edges of every earlier
    * batch -- equal the components of the full qualifying pair graph.
    * Feed the output to [[graft.streaming.IngestLoop.ingestCcBatch]]
    * (the q116/q118 consumer): per-batch durable output becomes
    * O(touched components), not Theta(k*shard) pairs.
    *
    * Edge algebra: a lean-branch edge is any unordered candidate pair
    * where EITHER direction clears tau (exactly the pair graph's
    * undirected projection). Under the exact-dup collapse the member
    * expansion is SKIPPED entirely -- a group's members are connected
    * by (member -> group-anchor) star edges (identical sets imply
    * containment 1.0, so all member pairs qualify for any tau <= 1),
    * a batch whose shard member becomes the new group anchor links the
    * anchor to the group's previous minimum (so eras of one group
    * stay connected), and qualifying rep-level edges connect groups
    * (containment is a pure function of the two sets, so one rep edge
    * stands for every cross-group member pair). Equality of the
    * resulting components with [[connectedComponents]] over the full
    * pair listing is pinned in DedupSpec. */
  def containmentEdgesIncremental(shard: ContainmentIndex,
                                  corpus: ContainmentIndex, tau: Double,
                                  maxCandidates: Long = 1000000000L,
                                  collapsePairsPerDoc: Double = 2.0,
                                  staging: Staging.Mode = Staging.Local): DataFrame =
    containmentMineIncremental(shard, corpus, tau, maxCandidates,
      collapsePairsPerDoc, staging, edges = true)

  /** Shared body of [[containmentJoinIncremental]] (edges = false:
    * ordered-pair listing) and [[containmentEdgesIncremental]]
    * (edges = true: undirected component edges).
    *
    * COUNT-BASED VERIFY (round 16): |A intersect B| is computed as the
    * ROW COUNT of the shared-gram equi-join per candidate pair --
    * postings carry each (id, gram) exactly once (`array_distinct`
    * upstream), so the count equals `size(array_intersect(a_sh, b_sh))`
    * -- instead of the old distinct-then-rejoin that shuffled two full
    * shingle ARRAYS per candidate. The verify payload drops from two
    * ~m-element string arrays per candidate to two longs per shared
    * gram with map-side partial aggregation, which is what lets
    * clone-heavy corpora (every copy truly pairing with every earlier
    * copy) complete: the candidate mass is inherent, the per-candidate
    * constant is not. Row-identity with the array form is pinned in
    * DedupSpec (same fixed-point floor on both sides).
    *
    * The default `maxCandidates` for the incremental paths is RE-PRICED
    * to 1e9 (round 16): the budget counts shared-gram join rows, and a
    * count-verify row is two longs (~20 GB pre-combine at 1e9) where
    * the old array verify carried two ~m-element shingle arrays per
    * candidate — the same guard now refuses at the input mass that is
    * actually unaffordable, not at the old representation's. The batch
    * [[containmentJoin]] keeps 2e8 (its verify still joins arrays over
    * prefix-filtered candidates). */
  private def containmentMineIncremental(shard: ContainmentIndex,
                                         corpus: ContainmentIndex, tau: Double,
                                         maxCandidates: Long,
                                         collapsePairsPerDoc: Double,
                                         staging: Staging.Mode,
                                         edges: Boolean): DataFrame = {
    val idCol = shard.idCol
    require(corpus.idCol == idCol,
      s"index id columns differ: '${corpus.idCol}' vs '$idCol'")
    require(corpus.n == shard.n,
      s"shingle widths differ: corpus n=${corpus.n} vs shard n=${shard.n}")
    require(tau > 0 && tau <= 1, s"containment threshold must be in (0,1], got $tau")
    val fx = (cnt: Column, m: Column) =>
      floor(cnt.cast("double") * lit(1000000.0) / m.cast("double")) /
        lit(1000000.0)
    // candidate counts: probe posting JOIN index posting on gram,
    // grouped per pair. An unordered pair of two PROBE docs appears in
    // both orientations -- keep one (a < b) via the probe-membership
    // flag on the b side; a probe-vs-index pair appears once. Every
    // kept row then scores BOTH directions from (cnt, m_a, m_b).
    def counted(probePost: DataFrame, indexPost: DataFrame,
                probeIds: DataFrame, baseM: DataFrame): DataFrame =
      probePost.select(col("id").as("a_id"), col("gram"))
        .join(indexPost.select(col("id").as("b_id"), col("gram")), Seq("gram"))
        .filter(col("a_id") =!= col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("__cnt"))
        .join(probeIds.select(col("id").as("b_id"), lit(true).as("__ps")),
          Seq("b_id"), "left")
        .filter(!coalesce(col("__ps"), lit(false)) || col("a_id") < col("b_id"))
        .join(baseM.select(col("id").as("a_id"), col("m").as("__m_a")), Seq("a_id"))
        .join(baseM.select(col("id").as("b_id"), col("m").as("__m_b")), Seq("b_id"))
        .withColumn("__ca", fx(col("__cnt"), col("__m_a")))
        .withColumn("__cb", fx(col("__cnt"), col("__m_b")))
    def pairsOf(c: DataFrame): DataFrame =
      c.filter(col("__ca") >= tau)
        .select(col("a_id"), col("b_id"), col("__ca").as("containment"))
        .union(c.filter(col("__cb") >= tau)
          .select(col("b_id").as("a_id"), col("a_id").as("b_id"),
            col("__cb").as("containment")))
    def edgesOf(c: DataFrame): DataFrame =
      c.filter(col("__ca") >= tau || col("__cb") >= tau)
        .select(least(col("a_id"), col("b_id")).as("u"),
          greatest(col("a_id"), col("b_id")).as("v"))
    val keyed = corpus.base.select(col("id"), shingleSetKey.as("key"), lit(false).as("__shard"))
      .union(shard.base.select(col("id"), shingleSetKey.as("key"), lit(true).as("__shard")))
    val g = dupGroups(keyed, staging, collapsePairsPerDoc) match {
      case Some(groups) => groups
      case None =>
        val allPost = corpus.posting.union(shard.posting)
        requirePairBudget(shard.posting, allPost, "gram", maxCandidates)
        val allBase = corpus.base.union(shard.base)
        val c = counted(shard.posting, allPost,
          shard.base.select(col("id")), allBase.select(col("id"), col("m")))
        return if (edges) edgesOf(c) else pairsOf(c)
    }
    val repIds = g.reps.select(col("gid").as("id"))
    val allPost = corpus.posting.union(shard.posting)
    val repPost = allPost.join(repIds, Seq("id"), "left_semi")
    // probe side: representatives of groups with >= 1 shard member (the
    // candidate join is symmetric, so corpus-only groups are still
    // reachable as the index side)
    val probeGroups = g.mem.filter(col("__shard")).select(col("gid").as("id")).distinct()
    val probePost = repPost.join(probeGroups, Seq("id"), "left_semi")
    requirePairBudget(probePost, repPost, "gram", maxCandidates)
    val allBase = corpus.base.union(shard.base)
    val repM = allBase.join(repIds, Seq("id"), "left_semi")
      .select(col("id"), col("m"))
    val c = counted(probePost, repPost, probeGroups, repM)
    if (!edges)
      // base rows are shinglable by construction, so every group's
      // member pairs qualify (containment exactly 1.0 clears any tau)
      return expandDupPairs(g, pairsOf(c), "containment", lit(1.0), directed = true)
    // edges: rep-level component edges + group star edges -- NO
    // member-pair expansion (the whole point of the group-sized tier).
    // Shard members link to their group anchor (gid = min member id)
    val starEdges = g.mem.filter(col("__shard") && col("id") =!= col("gid"))
      .select(col("id").as("u"), col("gid").as("v"))
    // a group whose anchor arrived in THIS shard must link the new
    // anchor to the group's previous minimum (corpus members were
    // star-connected to that minimum in their own batches)
    val eraEdges = g.mem.groupBy("gid")
      .agg(min(when(!col("__shard"), col("id"))).as("__mc"))
      .filter(col("__mc").isNotNull && col("__mc") =!= col("gid"))
      .select(col("gid").as("u"), col("__mc").as("v"))
    edgesOf(c).union(starEdges).union(eraEdges)
  }

  /** Fully STATELESS corpus-containment gate — "is this arriving doc an
    * excerpt/quote of anything already in the corpus?", the online
    * decontamination question. Emits (a_id, b_id, containment) with
    * C(arriving a → corpus b) ≥ tau. Runs VERBATIM under `readStream`
    * in append mode: per-row shingling, two stream-static joins
    * (posting equi-join on gram, base join for the exact verify), and
    * FIRST-SHARED-GRAM emission — a row survives only when its join
    * gram is the lexicographically smallest shared shingle, so each
    * (a, b) pair is emitted exactly once with no stateful distinct and
    * no aggregation (the containment count comes from a per-row
    * `array_intersect`, not a groupBy). Stream == batch pinned in
    * StreamingSpec. */
  def containmentMatchCorpus(shard: DataFrame, idCol: String, textCol: String,
                             corpus: ContainmentIndex, tau: Double,
                             n: Int = 3): DataFrame = {
    require(corpus.n == n,
      s"shingle widths differ: corpus n=${corpus.n} vs gate n=$n")
    require(tau > 0 && tau <= 1, s"containment threshold must be in (0,1], got $tau")
    val a = containmentBase(shard, idCol, textCol, n)
    a.select(col("id").as("a_id"), col("sh").as("a_sh"), col("m").as("a_m"),
        explode(col("sh")).as("gram"))
      .join(corpus.posting.select(col("id").as("b_id"), col("gram")), Seq("gram"))
      .join(corpus.base.select(col("id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
      .filter(col("gram") ===
        element_at(sort_array(array_intersect(col("a_sh"), col("b_sh"))), 1))
      .select(col("a_id"), col("b_id"),
        containmentExprFx(col("a_sh"), col("b_sh"), col("a_m")).as("containment"))
      .filter(col("containment") >= tau)
  }
}
