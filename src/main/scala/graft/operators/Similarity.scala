package graft.operators

import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (array<float>).
  *
  * Two tiers, as a 100-TB design requires:
  *  - bruteForceTopK: exact cosine top-k via query-broadcast. The query
  *    set is broadcast (small), candidates stream through one scan —
  *    O(|Q| * n) work, no shuffle of the big side; the only shuffle is
  *    the final per-query top-k (tiny after the window filter).
  *  - lshTopK: BucketedRandomProjectionLSH (seeded, deterministic
  *    hyperplanes) prunes candidates to same-bucket pairs before exact
  *    re-scoring — the scale path when |Q| is large.
  *
  * Dot products are Catalyst expressions (zip_with + aggregate) computed
  * in double — bit-compatible with a DuckDB list_dot_product oracle.
  *
  * Algorithms: random-projection LSH (Datar/Immorlica/Indyk/Mirrokni,
  * "Locality-sensitive hashing scheme based on p-stable distributions",
  * SoCG 2004); IVF cell probing (Jégou/Douze/Schmid, "Product
  * quantization for nearest neighbor search", TPAMI 2011 — the inverted-
  * file routing layer, without the PQ codes).
  */
object Similarity {

  /** Cast array<float> → array<double> (exact). */
  def toDoubleArray(c: Column): Column = transform(c, _.cast("double"))

  /** Codegen'd native kernel (graft.functions.DotProduct): same
    * left-to-right summation as the HOF formulation — bit-identical
    * results, ~an order of magnitude faster on all-pairs loops. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpressions.dot(a, b)

  def l2norm(c: Column): Column = sqrt(dot(c, c))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Precompute the L2 norm once per row — cosine per pair then costs one
    * dot product instead of three (norms recomputed per pair are the
    * classic all-pairs perf trap; at 500k pairs it tripled the work).
    *
    * ZERO-NORM vectors are excluded here — cosine is undefined for them,
    * and under ANSI mode the 0/0 rescore throws DIVIDE_BY_ZERO mid-join
    * (found by the collapse edge-case spec). Every cosine operator in
    * this object shares the contract: an all-zero embedding never pairs
    * with, or ranks against, anything; it simply drops out of the cosine
    * universe (the quantize/pool operators keep their own explicit
    * zero handling). */
  private def withNorm(df: DataFrame, idCol: String, vecCol: String,
                       idAs: String, vAs: String, nAs: String): DataFrame =
    df.select(col(idCol).as(idAs), toDoubleArray(col(vecCol)).as(vAs))
      .withColumn(nAs, l2norm(col(vAs)))
      .filter(col(nAs) > 0)

  /** Exact top-k cosine neighbors for each query vector. `queries` should
    * be small (it is broadcast). Rank on the rounded score with id
    * tie-break so results are stable cross-engine. */
  def bruteForceTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int = 10, scale: Int = 6): DataFrame = {
    val q = withNorm(queries, idCol, vecCol, "q_id", "qv", "qn")
    val c = withNorm(candidates, idCol, vecCol, "c_id", "cv", "cn")
    val scored = c.join(broadcast(q), col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), scale).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("c_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rn").cast("int").as("rn"))
  }

  /** Approximate neighbors via seeded random-projection LSH; candidates
    * sharing a hash bucket in any table are exactly re-scored.
    * Deterministic for a fixed seed.
    *
    * Native formulation (not MLlib's BucketedRandomProjectionLSH): the
    * hyperplanes are literal arrays, so hashing is the codegen'd dot
    * kernel inside one projection — no estimator fit, no per-pair vector
    * UDFs, no vector serialization through the shuffle. Candidate
    * generation is an equi-join on (table, bucket); vectors are re-joined
    * by id for scoring so only (id, t, h) triples flow through the
    * candidate shuffle. This replaced an approxSimilarityJoin that spent
    * 40+ s at sf0.1; same shape now runs in ~2 s and scales as a plain
    * shuffle join. */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              k: Int = 10, bucketLength: Double = 1.0, numTables: Int = 4,
              seed: Long = 42L, dim: Int = -1): DataFrame = {
    val vecs = df.select(col(idCol).as("id"), toDoubleArray(col(vecCol)).as("arr"))
      .withColumn("nrm", l2norm(col("arr")))
      .filter(col("nrm") > 0) // zero-norm exclusion (withNorm contract)
    // Hyperplane width: caller-supplied, or probed from ONE row of the raw
    // input (LocalLimit short-circuits the scan after the first row) — not
    // a full-column job over the data before the real work starts.
    val vecDim =
      if (dim > 0) dim
      else df.select(size(col(vecCol))).limit(1).head.getInt(0)
    val rng = new java.util.Random(seed)
    val planes = Array.fill(numTables)(Array.fill(vecDim)(rng.nextGaussian()))
    val tableHashes = (0 until numTables).map { t =>
      struct(lit(t).as("t"),
        floor(dot(col("arr"), typedLit(planes(t).toSeq)) / bucketLength)
          .cast("long").as("h"))
    }
    val hashed = vecs
      .select(col("id"), explode(array(tableHashes: _*)).as("tb"))
      .select(col("id"), col("tb.t").as("t"), col("tb.h").as("h"))
    val cand = hashed.as("a").join(hashed.as("b"),
        col("a.t") === col("b.t") && col("a.h") === col("b.h") &&
          col("a.id") =!= col("b.id"))
      .select(col("a.id").as("q_id"), col("b.id").as("c_id")).distinct()
    val q = vecs.select(col("id").as("q_id"), col("arr").as("qv"), col("nrm").as("qn"))
    val c = vecs.select(col("id").as("c_id"), col("arr").as("cv"), col("nrm").as("cn"))
    val scored = cand.join(q, "q_id").join(c, "c_id")
      .select(col("q_id"), col("c_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("c_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rn").cast("int").as("rn"))
  }

  /** IVF (inverted-file) ANN — the other classic scale path: k-means
    * partitions the vectors into nlist cells (seeded, deterministic);
    * each query probes only its nprobe nearest cells and re-scores
    * exactly. At 100 TB the cell assignment is one narrow shuffle-free
    * column, the probe map is a broadcast of nlist centroids, and the
    * candidate join fans each query to ~nprobe/nlist of the data. */
  def ivfTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int = 10, nlist: Int = 16, nprobe: Int = 4,
              seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    // NO spread here (round 16): measured q46 2.2 -> 1.7 s without it —
    // the fit's per-iteration work is light relative to the exchange,
    // and the unspread input keeps the seeded random init's
    // partition-dependent sample stable
    val base = withNorm(candidates, idCol, vecCol, "c_id", "cv", "cn")
      .withColumn("features", array_to_vector(col("cv")))
    // random init + capped iterations: IVF cells are an approximate
    // routing structure — recall (pinned in SessionIvfSpec) needs
    // reasonable cells, not converged ones, and k-means|| init costs
    // several extra passes over the data at scale.
    val km = new KMeans().setK(nlist).setSeed(seed)
      .setInitMode("random").setMaxIter(10)
      .setFeaturesCol("features").setPredictionCol("cell")
    val model = km.fit(base)
    val cells = model.transform(base).select("c_id", "cv", "cn", "cell")
    // per-query nprobe nearest centroids via broadcast centroid frame
    val spark = candidates.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
      .toDF("cell", "center")
    val q = withNorm(queries, idCol, vecCol, "q_id", "qv", "qn")
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("cdist", dot(col("qv"), col("center")) /
        (col("qn") * sqrt(dot(col("center"), col("center")))))
      .withColumn("crk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cdist"), asc("cell"))))
      .filter(col("crk") <= nprobe)
      .select("q_id", "qv", "qn", "cell")
    val scored = probes.join(cells, Seq("cell"))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("c_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rn").cast("int").as("rn"))
  }

  /** IVF-PQ index (round 8): the coarse IVF routing of [[ivfTopK]] plus
    * PRODUCT-QUANTIZATION codes, the Jégou/Douze/Schmid IVFADC design —
    * the piece that makes IVF viable at 100 TB, where [[ivfTopK]]'s
    * "re-scan exact vectors per probed cell" becomes the dominant cost.
    * Here the candidate scan touches only `codes` — one int cell, m
    * small ints and one double norm per vector (~40 bytes at m=8
    * vs 512 for a raw 64-dim double vector); exact embeddings are
    * fetched for just the `refine`·k ADC survivors per query, by id.
    *
    * Construction (all seeded, deterministic):
    *  - coarse k-means over the vectors → `nlist` cells (the IVF);
    *  - residual r = x − centroid(cell) per vector;
    *  - per-subspace k-means: r is split into `m` contiguous subvectors
    *    of dim/m, each quantized against its own `ksub`-centroid
    *    codebook (trained on the residuals of all cells — the classic
    *    shared-codebook IVFADC);
    *  - encode: code_j = argmin_c ‖r_j − c‖², computed as a pure codegen
    *    projection via the identity argmin ‖r−c‖² = argmin (‖c‖² − 2r·c)
    *    (‖c‖² is a literal, r·c the native dot kernel — no UDF, no HOF
    *    lambda in the hot path).
    *
    * Scoring (ADC — asymmetric distance computation): a query never
    * quantizes itself; it builds one lookup table per subspace,
    * LUT[j][c] = q_j · codebook_j[c] (m·ksub literal-codebook dots, one
    * projection on the tiny query frame), and the approximate inner
    * product of q with a coded vector is
    *   q·x ≈ q·centroid(cell) + Σ_j LUT[j][code_j]
    * — per candidate just m array lookups and adds over the codes scan.
    * Approximate cosine divides by the STORED exact norm, then the top
    * `refine`·k ADC candidates per query are re-scored exactly and the
    * final top-k emitted — output cosines are exact (6-dp), so the
    * q44/q46 contract's "ANN never beats exact" leg holds by
    * construction; PQ affects recall only. */
  /** Two-level (residual) coarse quantizer — the round-9 answer to the
    * nlist scale ceiling: a single driver-side Lloyd over a ≤16k sample
    * cannot produce the ~10⁵ cells a 10¹⁰-vector corpus needs (k is
    * structurally bounded by the sample size). Factoring the quantizer
    * as cell = (super, sub), with the sub layer trained on level-1
    * RESIDUALS and SHARED across supers, yields n1·n2 effective cells
    * from two bounded in-memory fits — the residual variant of the
    * inverted multi-index family (Babenko/Lempitsky, "The inverted
    * multi-index", CVPR 2012; coarse layer of IVFADC, Jégou/Douze/
    * Schmid TPAMI 2011). Assignment stays a pure codegen projection:
    * argmin over n1 literal centers, one array subtraction, argmin over
    * n2 literal centers — O(n1+n2) dot kernels per row instead of
    * O(n1·n2), and NO nlist-sized literal ever enters a plan. The
    * center of cell c is l1(c / n2) + l2(c % n2). n2 == 1 (l2 = one
    * zero vector) degrades to exactly the single-level quantizer. */
  final case class Coarse(l1: Array[Array[Double]], l2: Array[Array[Double]]) {
    def n1: Int = l1.length
    def n2: Int = l2.length
    def nlist: Int = n1 * n2
    def dim: Int = l1(0).length
    def center(cell: Int): Array[Double] = {
      val a = l1(cell / n2); val b = l2(cell % n2)
      Array.tabulate(dim)(i => a(i) + b(i))
    }
    /** Driver-side assignment (sample-residual computation in pqIndex). */
    def assign(v: Array[Double]): Int = {
      val s = Coarse.nearest(l1, v)
      val r = Array.tabulate(dim)(i => v(i) - l1(s)(i))
      s * n2 + Coarse.nearest(l2, r)
    }
    def residual(v: Array[Double]): Array[Double] = {
      val c = center(assign(v))
      Array.tabulate(dim)(i => v(i) - c(i))
    }
  }
  object Coarse {
    /** Driver-side nearest-center assignment in the EXACT floating-point
      * form of the codegen kernel ([[graft.functions.VectorExpressions
      * .nearestCenter]]): ‖c‖² − 2·(v·c) with left-to-right
      * accumulation and the strict-< first-minimum tie-break. The
      * Σ(v−c)² form is mathematically equal but rounds differently, so
      * near-ties could assign a sample residual to a different cell
      * than the corpus encode — codebooks would then train on residuals
      * from cells the encode never produces (the round-9 advisory). */
    private[operators] def nearest(cs: Array[Array[Double]], v: Array[Double]): Int = {
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < cs.length) {
        val ctr = cs(c)
        val n = math.min(ctr.length, v.length)
        var s = 0.0; var i = 0
        while (i < n) { s += v(i) * ctr(i); i += 1 }
        var nsq = 0.0; i = 0
        while (i < ctr.length) { nsq += ctr(i) * ctr(i); i += 1 }
        val d = nsq - 2.0 * s
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      best
    }
  }

  /** Train a [[Coarse]] quantizer for (at least) `nlist` cells from one
    * bounded in-memory sample: a single-level Lloyd up to
    * `singleLevelMax` cells, else a level-1 fit of n1 = ceil(√nlist)
    * supers plus a level-2 fit of n2 = ceil(nlist/n1) centers over the
    * level-1 residuals — ~2·√nlist Lloyd centroids of driver work for
    * nlist cells, lifting the structural ceiling (old: nlist ≤ sample)
    * to sample². Deterministic for a fixed (sample, nlist, seed). */
  private[graft] def trainCoarse(sample: Array[Array[Double]], nlist: Int,
                                     seed: Long,
                                     singleLevelMax: Int = 1024): Coarse = {
    require(sample.nonEmpty, "coarse quantizer training needs a non-empty sample")
    if (nlist <= singleLevelMax)
      Coarse(lloyd(sample, nlist, iters = 10, seed = seed),
        Array(new Array[Double](sample(0).length)))
    else {
      val n1 = math.ceil(math.sqrt(nlist.toDouble)).toInt
      val n2 = math.ceil(nlist.toDouble / n1).toInt
      val l1 = lloyd(sample, n1, iters = 10, seed = seed)
      val resid = sample.map { v =>
        val c = l1(Coarse.nearest(l1, v))
        Array.tabulate(v.length)(i => v(i) - c(i))
      }
      Coarse(l1, lloyd(resid, n2, iters = 10, seed = seed + 1000L))
    }
  }

  /** Staged two-level cell assignment: adds `cell` (and leaves the final
    * PQ residual in `residCol` if requested) as pure codegen columns —
    * argmin over l1, subtract, argmin over l2. Single-level (n2 == 1)
    * skips the second stage entirely. The two levels are separated by a
    * `staging` materialization: CollapseProject would otherwise inline
    * the level-1 argmin subtree into every level-2 distance expression —
    * n2 copies of an n1-dot argmin, a codegen-size explosion measured at
    * ~10× build wall on the 100× fixture at nlist 4096. */
  private def withCellCols(df: DataFrame, cq: Coarse, v: Column,
                           residCol: Option[String] = None,
                           staging: Staging.Mode = Staging.Local): DataFrame = {
    if (cq.n2 == 1) {
      val out = df.withColumn("cell", argminCellExpr(cq.l1, v))
      residCol match {
        case Some(r) =>
          val l1Lit = typedLit(cq.l1.map(_.toSeq).toSeq)
          out.withColumn(r,
            zip_with(v, element_at(l1Lit, col("cell") + 1), (x, c) => x - c))
        case None => out
      }
    } else {
      val l1Lit = typedLit(cq.l1.map(_.toSeq).toSeq)
      val l2Lit = typedLit(cq.l2.map(_.toSeq).toSeq)
      val lvl1 = staging(df
        .withColumn("__sup", argminCellExpr(cq.l1, v))
        .withColumn("__r1",
          zip_with(v, element_at(l1Lit, col("__sup") + 1), (x, c) => x - c)))
      val lvl2 = lvl1
        .withColumn("__sub", argminCellExpr(cq.l2, col("__r1")))
        .withColumn("cell", col("__sup") * cq.n2 + col("__sub"))
      val out = residCol match {
        case Some(r) => lvl2.withColumn(r,
          zip_with(col("__r1"), element_at(l2Lit, col("__sub") + 1), (x, c) => x - c))
        case None => lvl2
      }
      out.drop("__sup", "__r1", "__sub")
    }
  }

  final case class PqIndex(idCol: String, codes: DataFrame,
                           coarse: Coarse,
                           codebooks: Array[Array[Array[Double]]],
                           m: Int, ksub: Int, dim: Int, seed: Long,
                           assign: Int = 1)

  /** Train coarse cells + PQ codebooks and encode `candidates` into a
    * [[PqIndex]]. `codes` = (c_id, cell, codes int[m], cn) — the compact
    * scan-side table; zero-norm vectors are excluded per the shared
    * cosine contract. */
  def pqIndex(candidates: DataFrame, idCol: String, vecCol: String,
              nlist: Int = 16, m: Int = 8, ksub: Int = 16, seed: Long = 42L,
              staging: Staging.Mode = Staging.Local,
              trainSample: Int = 16384, assign: Int = 1): PqIndex = {
    require(assign >= 1 && assign <= nlist,
      s"multi-assignment must be in [1, nlist]: assign=$assign nlist=$nlist")
    // NO spread here (round 16): measured q107 3.1 -> 2.4 s and q110
    // 4.2 -> 3.2 s without it — the staged encode frames are small and
    // the exchange + wide checkpoint cost more than the argmin kernels
    val base = withNorm(candidates, idCol, vecCol, "c_id", "cv", "cn")
    val dim = candidates.select(size(col(vecCol))).limit(1).head.getInt(0)
    require(dim % m == 0, s"PQ subspaces must divide dim: dim=$dim m=$m")
    val dsub = dim / m
    // BOTH quantizers are trained DRIVER-SIDE on one bounded sample (the
    // Faiss practice: coarse centroids and PQ codebooks come from
    // ~10⁴-10⁵ sampled vectors in memory, never distributed fits — at
    // nlist=16/m=16 that would be 17 fits of per-iteration job overhead,
    // costing more than the rest of the query). The sample is the
    // hash-ordered prefix (one distributed TakeOrdered — deterministic,
    // and unbiased on id-correlated corpora), ≤ trainSample rows ≈ 8 MB
    // at dim 64; Lloyd loops are seeded. This is the sanctioned bounded
    // driver round-trip, O(trainSample) regardless of corpus size. Past
    // singleLevelMax cells the coarse layer trains TWO-LEVEL
    // ([[trainCoarse]]) — nlist up to 65536+ from the same sample.
    val sample = sampleVecs(base, trainSample)
    val coarse = trainCoarse(sample, nlist, seed)
    val sampleResid = sample.map(coarse.residual)
    val codebooks = Array.tabulate(m) { j =>
      val pts = sampleResid.map(r =>
        java.util.Arrays.copyOfRange(r, j * dsub, (j + 1) * dsub))
      lloyd(pts, ksub, iters = 10, seed = seed + j + 1)
    }
    require(assign == 1 || coarse.n2 == 1,
      s"multi-assignment is a single-level-coarse router (assign=$assign, " +
        "two-level coarse): the two-level tier lifts recall by FINER cells " +
        "at the same probed fraction instead (q110) — use that, or nlist " +
        s"<= the single-level ceiling")
    val codes = encodeAgainst(base, coarse, codebooks, m, dsub, staging, assign)
    PqIndex(idCol, codes, coarse, codebooks, m, ksub, dim, seed, assign)
  }

  /** Cell assignment + PQ encode of a withNorm'd frame against FROZEN
    * quantizers — the projection shared by [[pqIndex]] (corpus build)
    * and [[encodePq]] (incremental shard encode): two staged argmins
    * over the (n1 + n2) literal level centers, then one
    * [[graft.functions.NearestCenter]] node per subspace over the
    * residual. No shuffle, no fit, no UDF, no nlist-sized literal; the
    * residual is staged before the m code argmins so CollapseProject
    * can't clone the assignment chain into each one. */
  private def encodeAgainst(base: DataFrame, coarse: Coarse,
                            codebooks: Array[Array[Array[Double]]],
                            m: Int, dsub: Int,
                            staging: Staging.Mode,
                            assign: Int = 1): DataFrame = {
    def codesOf(withCell: DataFrame): DataFrame = {
      val codeCols = (0 until m).map { j =>
        graft.functions.VectorExpressions.nearestCenter(
          slice(col("__r"), j * dsub + 1, dsub), codebooks(j))
      }
      staging(withCell.select(col("c_id"), col("cell"),
        array(codeCols: _*).as("codes"), col("cn")))
    }
    if (assign <= 1)
      codesOf(staging(
        withCellCols(base, coarse, col("cv"), residCol = Some("__r"),
          staging = staging)
          .select(col("c_id"), col("cell"), col("__r"), col("cn"))))
    else {
      // MULTI-ASSIGNMENT (round 15): index each vector in its `assign`
      // nearest cells — the recall lever the probe decomposition
      // actually supports (BASELINE.md round-15 recall decomposition:
      // refine=64 moved recall 0.736 -> 0.736 while nprobe=16 hit
      // 0.994, i.e. the loss is boundary vectors in unprobed cells,
      // NOT quantization error — so an
      // OPQ-style rotation would lift nothing here). Each copy encodes
      // its OWN residual (vs its assigned cell's center), so ADC stays
      // self-consistent per copy; serving keeps each candidate once at
      // its best approx (ivfPqTopK's dedup). Index size and scan cost
      // scale by `assign` at a FIXED probed cell fraction — the
      // standard IVF replication trade (cf. spilled trees).
      val l1Lit = typedLit(coarse.l1.map(_.toSeq).toSeq)
      (0 until assign).map { r =>
        codesOf(staging(base
          .withColumn("cell", graft.functions.VectorExpressions
            .nearestCenterRank(col("cv"), coarse.l1, r))
          .withColumn("__r",
            zip_with(col("cv"), element_at(l1Lit, col("cell") + 1),
              (x, c) => x - c))
          .select(col("c_id"), col("cell"), col("__r"), col("cn"))))
      }.reduce(_ union _)
    }
  }

  /** Encode NEW vectors against an existing index's frozen model — the
    * incremental-ingestion encode (Faiss practice: quantizers train once
    * on the initial corpus sample, every later shard encodes against
    * them; codebook drift is a deliberate retrain, never an implicit
    * refit). Returns the same (c_id, cell, codes, cn) geometry as
    * `PqIndex.codes`; zero-norm vectors drop per the shared cosine
    * contract. */
  def encodePq(df: DataFrame, vecCol: String, idx: PqIndex,
               staging: Staging.Mode = Staging.Local): DataFrame =
    encodeAgainst(withNorm(df, idx.idCol, vecCol, "c_id", "cv", "cn"),
      idx.coarse, idx.codebooks, idx.m, idx.dim / idx.m, staging, idx.assign)

  /** Bounded HASH-ordered vector sample off a withNorm'd frame — the
    * shared trainer input of [[pqIndex]] and [[semanticDedup]]: one
    * distributed TakeOrdered on `mixedHash(id)` (id tie-break), so the
    * sample is a deterministic pseudo-random draw from the WHOLE corpus
    * rather than its id prefix — on id-correlated data (time- or
    * topic-sorted crawl shards) a prefix misrepresents the distribution
    * and silently degrades recall/dedup quality. Still one TakeOrdered,
    * O(trainSample) regardless of corpus size. */
  private def sampleVecs(base: DataFrame, trainSample: Int): Array[Array[Double]] =
    base.select(col("c_id"), col("cv"))
      .orderBy(Sampling.mixedHash(col("c_id")), col("c_id"))
      .limit(trainSample).collect().map(_.getSeq[Double](1).toArray)

  /** DISTINCT-vector twin of [[sampleVecs]] for [[semanticDedup]]: the
    * sample is drawn from the distinct embedding set, hash-ordered by
    * the VECTOR VALUE itself — so both collapse branches (full corpus
    * vs one representative per identical-vector family) see the exact
    * same training sample and produce identical cells, preserving the
    * branch-identity contract (pinned in SessionIvfSpec) under
    * hash-ordered sampling. The distinct is the same vector-keyed
    * shuffle shape the collapse branch's rep election already pays;
    * partial aggregation dedups map-side before the exchange. */
  private def sampleDistinctVecs(base: DataFrame, trainSample: Int): Array[Array[Double]] =
    base.select(col("cv")).distinct()
      .orderBy(xxhash64(col("cv")), col("cv"))
      .limit(trainSample).collect().map(_.getSeq[Double](0).toArray)

  /** Nearest-centroid assignment as ONE codegen node:
    * argmin ||v − c||² = argmin (||c||² − 2 v·c) over literal centroids
    * — [[graft.functions.NearestCenter]]'s tight k×dim loop (the
    * composed n-dot-kernel form breaks whole-stage codegen past ~50
    * centers and runs ~20× slower interpreted), no fit, no UDF. Same
    * op tree per center and the same first-minimum tie-break, so
    * assignments are bit-identical to the composed form. */
  private def argminCellExpr(centers: Array[Array[Double]], v: Column): Column =
    graft.functions.VectorExpressions.nearestCenter(v, centers)

  /** Seeded local Lloyd k-means over an in-memory point set — the PQ
    * codebook trainer ([[pqIndex]]): init picks k random sample points,
    * each iteration one assign+mean pass; empty clusters keep their
    * center. Deterministic for a fixed (points, k, seed). */
  private def lloyd(points: Array[Array[Double]], k: Int, iters: Int,
                    seed: Long): Array[Array[Double]] = {
    val n = points.length
    require(n > 0, "PQ codebook training needs a non-empty sample")
    val d = points(0).length
    val rng = new java.util.Random(seed)
    val centers = Array.fill(k)(points(rng.nextInt(n)).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val cnt = new Array[Long](k)
      var p = 0
      while (p < n) {
        val pt = points(p)
        var best = 0
        var bd = Double.MaxValue
        var c = 0
        while (c < k) {
          var dist = 0.0
          var i = 0
          while (i < d) { val t = pt(i) - centers(c)(i); dist += t * t; i += 1 }
          if (dist < bd) { bd = dist; best = c }
          c += 1
        }
        cnt(best) += 1
        var i = 0
        while (i < d) { sums(best)(i) += pt(i); i += 1 }
        p += 1
      }
      var c = 0
      while (c < k) {
        if (cnt(c) > 0) {
          var i = 0
          while (i < d) { centers(c)(i) = sums(c)(i) / cnt(c); i += 1 }
        }
        c += 1
      }
      it += 1
    }
    centers
  }

  /** ADC top-k over a [[PqIndex]]: probe `nprobe` cells per query, rank
    * candidates by the ADC approximate cosine over the codes scan, fetch
    * exact vectors for the top `refine`·k survivors only, re-score
    * exactly, emit the top k. `vectors` supplies the exact embeddings
    * for the refine fetch (the base table at cluster scale — typically
    * the frame the index was built from). Same (q_id, c_id, cos, rn)
    * geometry as every ANN tier.
    *
    * ATTRIBUTE-FILTERED serving (round 16): pass `filterIds` (one id
    * column — build it by filtering your metadata frame on the source
    * predicate) and the candidate CODE rows are pre-filtered with a
    * left-semi join BEFORE any ADC work, so the predicate pushes down
    * to the scan instead of post-filtering a top-k that then starves.
    * Because a selective predicate thins the probed cells, the probe
    * set WIDENS adaptively under a SURVIVOR FLOOR: cells are ranked as
    * usual, and each query keeps ranked cells until the cumulative
    * FILTERED candidate count reaches `survivorFloor` (default
    * k·refine — the refine stage's natural appetite), never fewer than
    * `nprobe`, never more than `nprobeMax` (default max(8·nprobe, 64),
    * capped at nlist). Per-cell filtered counts come from ONE narrow
    * aggregate over the filtered codes (nlist-sized, broadcastable),
    * so the widening adds no corpus-scale work; with `filterIds` unset
    * the plan is exactly the unfiltered one. Recall contract vs the
    * FILTERED brute force pinned in SessionIvfSpec and q141. */
  def ivfPqTopK(index: PqIndex, vectors: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, k: Int = 10, nprobe: Int = 4,
                refine: Int = 4, filterIds: Option[DataFrame] = None,
                survivorFloor: Int = -1, nprobeMax: Int = -1): DataFrame = {
    val m = index.m
    val dsub = index.dim / m
    val cq = index.coarse
    val codesScan = filterIds match {
      case None => index.codes
      case Some(f) => index.codes.join(
        f.select(col(f.columns.head).as("c_id")), Seq("c_id"), "left_semi")
    }
    val npMax = filterIds match {
      case None => nprobe
      case Some(_) => math.min(cq.n1 * cq.n2,
        if (nprobeMax > 0) nprobeMax else math.max(8 * nprobe, 64))
    }
    // flat m·ksub ADC lookup table as ONE codegen node — the composed
    // array(array(m×ksub dot kernels)) form is a 512-expression
    // projection at (16, 32) that blows the janino method budget and
    // drops the whole query-side stage to interpreted eval
    val q = withNorm(queries, idCol, vecCol, "q_id", "qv", "qn")
      .withColumn("__lut",
        graft.functions.VectorExpressions.pqLut(col("qv"), index.codebooks))
    // nprobe nearest cells via a TWO-STAGE beam over the hierarchical
    // quantizer: rank the n1 supers by cosine to the level-1 centers,
    // keep a beam of the best (4× oversampled so a cell whose super
    // ranks just outside nprobe/n2 is still reachable), expand only the
    // beam's n2 sub-cells, rank the full centers (l1+l2), cut to
    // nprobe. Work per query is O(n1 + beam·n2), never O(nlist), and no
    // nlist-sized broadcast or literal exists — the shape that survives
    // nlist ~ 10⁵. With n2 == 1 this reduces exactly to the flat
    // centroid ranking (stage 2 rescoring is the identity there).
    val spark = queries.sparkSession
    import spark.implicits._
    val l1Frame = cq.l1.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("__sup", "__c1")
    val l2Frame = cq.l2.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("__sub", "__c2")
    val beam = math.min(cq.n1,
      math.max(4, 4 * math.ceil(npMax.toDouble / cq.n2).toInt))
    val supers = q.crossJoin(broadcast(l1Frame))
      .withColumn("__sdist", dot(col("qv"), col("__c1")) /
        (col("qn") * sqrt(dot(col("__c1"), col("__c1")))))
      .withColumn("__srk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("__sdist"), asc("__sup"))))
      .filter(col("__srk") <= beam)
    val ranked = supers.crossJoin(broadcast(l2Frame))
      .withColumn("__ctr", zip_with(col("__c1"), col("__c2"), (a, b) => a + b))
      .withColumn("cell", col("__sup") * cq.n2 + col("__sub"))
      .withColumn("__cdist", dot(col("qv"), col("__ctr")) /
        (col("qn") * sqrt(dot(col("__ctr"), col("__ctr")))))
      .withColumn("__crk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("__cdist"), asc("cell"))))
      .filter(col("__crk") <= npMax)
    // survivor-floor widening (filtered serving only): keep ranked
    // cells until the cumulative FILTERED candidate count reaches the
    // floor — one nlist-sized count aggregate, no corpus-scale work
    val cells = filterIds match {
      case None => ranked // npMax == nprobe: the unfiltered plan verbatim
      case Some(_) =>
        val floor = if (survivorFloor > 0) survivorFloor else k * refine
        val cc = codesScan.groupBy("cell").agg(count(lit(1)).as("__cc"))
        // SELECTIVITY-PROPORTIONAL widening (round 16 — the survivor
        // floor alone does not scale: at bench scale every cell holds
        // >> k·refine filtered candidates, so the floor is met in the
        // first ranked cell and no widening happens — while the
        // filtered top-k sit ~1/f deeper in the unfiltered neighbor
        // ranking, i.e. in MORE ranked cells, not denser ones; measured
        // as q141's recall floor failing at sf0.1 with nprobe=2 while
        // passing at sf0.01). With filter selectivity f = kept/total,
        // cover ceil(nprobe/f) ranked cells — the filtered scan then
        // spans the same neighbor depth the unfiltered nprobe scan
        // covers. The survivor floor stays as the secondary widener for
        // CORRELATED filters (cells wholly emptied by the predicate
        // contribute no candidates, so mass, not rank, is the binding
        // constraint there). Both are one narrow aggregate each —
        // nlist-sized, no corpus-scale work.
        val total = index.codes.agg(count(lit(1))).head.getLong(0)
        val kept = codesScan.agg(count(lit(1))).head.getLong(0)
        val npEff =
          if (kept <= 0) npMax
          else math.min(npMax.toLong, math.max(nprobe.toLong,
            (nprobe.toLong * total + kept - 1) / kept)).toInt
        ranked.join(cc, Seq("cell"), "left")
          .withColumn("__cum", sum(coalesce(col("__cc"), lit(0L))).over(
            Window.partitionBy("q_id").orderBy("__crk")
              .rowsBetween(Window.unboundedPreceding, -1)))
          .filter(col("__crk") <= npEff ||
            coalesce(col("__cum"), lit(0L)) < floor)
          .drop("__cc", "__cum")
    }
    val probes = cells
      .withColumn("__qcdot", dot(col("qv"), col("__ctr")))
      .select(col("q_id"), col("qv"), col("qn"), col("cell"), col("__lut"), col("__qcdot"))
    // ADC scan: codes only — m flat-LUT lookups + adds per candidate
    val adcSum = (0 until m).map(j =>
      element_at(col("__lut"),
        lit(j * index.ksub) + element_at(col("codes"), j + 1) + 1)).reduce(_ + _)
    val adcScored = probes.join(codesScan, Seq("cell"))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("__approx", (col("__qcdot") + adcSum) / (col("qn") * col("cn")))
    // multi-assignment emits one code row per (vector, assigned cell);
    // keep each candidate once at its BEST approx before the rank cut
    // (each copy's ADC is self-consistent vs its own cell's residual).
    // assign == 1 keeps the original plan untouched.
    val adcBest =
      if (index.assign <= 1) adcScored
      else adcScored.groupBy(col("q_id"), col("c_id"))
        .agg(max("__approx").as("__approx"),
          first("qv").as("qv"), first("qn").as("qn"))
    val adc = adcBest
      .withColumn("__ark", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("__approx"), asc("c_id"))))
      .filter(col("__ark") <= k * refine)
      .select(col("q_id"), col("qv"), col("qn"), col("c_id"))
    // refine: exact re-score of the survivors only (narrow id join into
    // the base vectors; this is the ONLY place raw candidate vectors
    // are read)
    val exact = withNorm(vectors, idCol, vecCol, "c_id", "cv", "cn")
    val scored = adc.join(exact, Seq("c_id"))
      .select(col("q_id"), col("c_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("c_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rn").cast("int").as("rn"))
  }

  /** Persist a [[PqIndex]] as catalog tables: `<prefix>_codes` is
    * hash-bucketed (and sorted) on `cell` — the ADC scan's exact join
    * key, so a served query batch reads the codes side CO-LOCATED and
    * only the (tiny) probe side shuffles; the trained model (centers,
    * codebooks, family params) rides in `<prefix>_meta` as nested array
    * columns. The serving shape at 100 TB: codes are ~26 bytes/vector,
    * built once, scanned by every query batch without touching raw
    * vectors. */
  def savePqIndex(idx: PqIndex, prefix: String, buckets: Int = 16): Unit = {
    val spark = idx.codes.sparkSession
    // writer fence (round 11): saves overwrite the whole family — fenced
    // like every other family-mutating writer (see graft.operators.Fence)
    Fence.withFence(spark, prefix, "savePqIndex") {
      import spark.implicits._
      // meta write overlapped with the codes write (round 17; different
      // tables, both inside the fence — see Layout.writeAll)
      Family.Pq.save(prefix, Seq(idx.codes),
        Seq((idx.idCol, idx.m, idx.ksub, idx.dim, idx.seed,
            idx.coarse.l1.map(_.toSeq).toSeq,
            idx.coarse.l2.map(_.toSeq).toSeq,
            idx.codebooks.map(_.map(_.toSeq).toSeq).toSeq, buckets, idx.assign))
          .toDF("id_col", "m", "ksub", "dim", "seed", "coarse_l1", "coarse_l2",
            "codebooks", "buckets", "assign"), buckets)
    }
  }

  /** Load a [[savePqIndex]]-persisted index by catalog name — a serving
    * session answers query batches against it without retraining or
    * re-encoding. */
  def loadPqIndex(spark: org.apache.spark.sql.SparkSession,
                  prefix: String): PqIndex =
    loadPqIndex(spark, prefix, spark.table(Family.meta(prefix)).head())

  /** [[loadPqIndex]] over an already-read meta row `r`. */
  private[graft] def loadPqIndex(spark: org.apache.spark.sql.SparkSession,
                                 prefix: String,
                                 r: org.apache.spark.sql.Row): PqIndex = {
    // nested rows deserialize as collection.Seq (mutable ArraySeq), not
    // immutable Seq — type the getAs accordingly
    val l1 = r.getAs[scala.collection.Seq[scala.collection.Seq[Double]]](5)
      .map(_.toArray).toArray
    val l2 = r.getAs[scala.collection.Seq[scala.collection.Seq[Double]]](6)
      .map(_.toArray).toArray
    val books = r.getAs[scala.collection.Seq[scala.collection.Seq[scala.collection.Seq[Double]]]](7)
      .map(_.map(_.toArray).toArray).toArray
    // pre-round-15 metas have no assign column: single-assignment
    val assign =
      if (r.schema.fieldNames.contains("assign")) r.getAs[Int]("assign") else 1
    PqIndex(r.getString(0),
      Family.Pq.load(spark, prefix).head,
      Coarse(l1, l2), books, r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4),
      assign)
  }

  /** [[ivfPqTopK]] with the index built inline — the one-call form the
    * catalog query uses; at scale you build a [[PqIndex]] once and
    * serve many query batches from it. */
  def ivfPqTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nlist: Int, nprobe: Int,
                m: Int, ksub: Int, refine: Int, seed: Long): DataFrame = {
    val idx = pqIndex(candidates, idCol, vecCol, nlist, m, ksub, seed)
    ivfPqTopK(idx, candidates, queries, idCol, vecCol, k, nprobe, refine)
  }

  /** SEMANTIC deduplication (SemDeDup — Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): cluster the embedding space,
    * then within each cluster collapse groups of semantically-equivalent
    * documents (pairwise cosine ≥ threshold, transitively closed) down
    * to one canonical survivor. Distinct from near-dup pair mining
    * ([[lshDupPairs]]): the output is a KEEP/DROP decision per document,
    * the criterion is meaning-level similarity at thresholds far below
    * exact-dup territory, and candidate generation is cluster-local by
    * design — the paper's own scheme, which is what makes it linear-ish
    * at scale (the all-pairs work is Σ s(s−1)/2 over cell sizes, driven
    * by nlist).
    *
    * Spark-first composition of existing machinery: cells come from the
    * sampled-Lloyd coarse trainer ([[pqIndex]]'s — one TakeOrdered + a
    * seeded driver loop), assignment is one codegen argmin projection,
    * within-cell edges one equi-join on `cell` with the dot kernel, and
    * transitive closure is `Dedup.connectedComponents` (hash-min,
    * rounds = diameter). The within-cell pair mass is ENFORCED against
    * `maxPairs` before the join is scheduled (the q32 guard discipline —
    * a degenerate clustering must refuse loudly, naming the knob, not
    * schedule a quadratic join). Canonical = min id per component (the
    * deterministic stand-in for the paper's keep-one policy). Zero-norm
    * vectors are excluded per the shared cosine contract.
    *
    * `nlist` defaults to AUTO (-1): clamp(max(n/2000, 2n²/maxPairs),
    * 16, 65536) from one corpus count — the paper's scale rule (cells
    * grow with the corpus so per-cell pair mass stays bounded) PLUS a
    * budget coupling (round 9): even cells of size n/k carry ~n²/(2k)
    * pairs, so k ≥ 2n²/maxPairs keeps the mass at ≤ maxPairs/4 with 4×
    * headroom for skew. The two-level [[trainCoarse]] lifts the old
    * hard 512 trainer cap, so auto can actually deliver the large k a
    * big corpus needs instead of require-failing at the budget guard.
    *
    * Exact duplicates (the raw vector) take the `Dedup.dupGroups`
    * collapse, and members inherit their rep's (cell, canonical): an
    * identical-vector group shares a cell and scores cos exactly 1.0,
    * so it is always one sub-clique of a component, and the
    * component's min id — the canonical — is the same computed over
    * members or over min-id reps.
    *
    * Returns one row per surviving input doc: (idCol, cell, canonical,
    * kept) — `kept` = (id == canonical); dropped docs point at their
    * kept canonical in the same cell. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nlist: Int = -1, seed: Long = 42L,
                    trainSample: Int = 16384, maxPairs: Long = 1000000000L,
                    staging: Staging.Mode = Staging.Local,
                    collapsePairsPerDoc: Double = 2.0): DataFrame = {
    // auto-nlist (round 9): resolved ONCE, from the full corpus count,
    // BEFORE branching — so both collapse branches quantize with the
    // same cell count — and COUPLED TO THE PAIR BUDGET instead of the
    // old hard 512 cap: even cells of size n/k carry ~n²/(2k) pair
    // mass, so keeping mass ≤ maxPairs/4 (4× headroom for skewed cells)
    // needs k ≥ 2n²/maxPairs. The two-level [[trainCoarse]] makes the
    // upper range real (cells = sample², not sample), so the clamp
    // ceiling is 65536 rather than what one driver Lloyd can fit.
    val resolvedNlist = resolveSemNlist(df, nlist, maxPairs)
    semanticDedupWithModel(df, idCol, vecCol, threshold, resolvedNlist, seed,
      trainSample, maxPairs, staging, collapsePairsPerDoc, pretrained = None)
  }

  /** [[semanticDedup]] with the nlist already resolved and (optionally)
    * a pre-trained cell model — the entry [[semIndex]] uses so the
    * corpus count, sample collect and Lloyd fits run ONCE per index
    * build instead of once in semIndex and again inside semanticDedup
    * (two redundant distributed passes at corpus scale — the round-9
    * advisory). Passing the model also makes "the model the index
    * records" and "the model the decisions used" the same object by
    * construction, not by the sampleDistinctVecs determinism argument. */
  private[operators] def semanticDedupWithModel(df: DataFrame, idCol: String,
                                                vecCol: String, threshold: Double,
                                                nlist: Int, seed: Long,
                                                trainSample: Int, maxPairs: Long,
                                                staging: Staging.Mode,
                                                collapsePairsPerDoc: Double,
                                                pretrained: Option[Coarse]): DataFrame = {
    Dedup.dupGroups(df.select(col(idCol).as("id"), col(vecCol).as("key")),
        staging, collapsePairsPerDoc) match {
      case None => semanticDedupDirect(df, idCol, vecCol, threshold, nlist,
        seed, trainSample, maxPairs, staging, pretrained)
      case Some(g) =>
        val repOut = semanticDedupDirect(
          g.reps.select(col("gid").as(idCol), col("key").as(vecCol)), idCol, vecCol,
          threshold, nlist, seed, trainSample, maxPairs, staging, pretrained)
        // zero-norm groups have no rep row and their members drop out
        // here — the direct branch's withNorm contract
        g.mem.join(repOut.select(col(idCol).as("gid"), col("cell"), col("canonical")),
            Seq("gid"))
          .select(col("id").as(idCol), col("cell"), col("canonical"),
            (col("id") === col("canonical")).as("kept"))
    }
  }

  /** The uncollapsed cells → edges → components pipeline of
    * [[semanticDedup]] — shared by both collapse branches. */
  private def semanticDedupDirect(df: DataFrame, idCol: String, vecCol: String,
                                  threshold: Double, nlist: Int, seed: Long,
                                  trainSample: Int, maxPairs: Long,
                                  staging: Staging.Mode,
                                  pretrained: Option[Coarse] = None): DataFrame = {
    // NO Staging.spread here (round 16): this entry also receives
    // shuffle-derived frames (the collapse branch's rep frame), where
    // the spread's width probe would execute the upstream stages once
    // just to read a partition count — spread sits on the scan-shaped
    // public entries (semIndex, pqIndex, ivfTopK) instead
    val base = withNorm(df, idCol, vecCol, "c_id", "cv", "cn")
    val cq = pretrained.getOrElse(
      trainCoarse(sampleDistinctVecs(base, trainSample), nlist, seed))
    val cells = staging(withCellCols(base, cq, col("cv"), staging = staging)
      .select(col("c_id"), col("cv"), col("cn"), col("cell")))
    val mass = cells.groupBy("cell").agg(count(lit(1)).as("s"))
      .agg(coalesce(sum(expr("s * (s - 1) div 2")), lit(0L)).as("p"))
      .head.getLong(0)
    require(mass <= maxPairs,
      s"semanticDedup within-cell pair mass $mass exceeds budget $maxPairs: " +
        s"raise nlist (currently ${cq.nlist}) so cells shrink, or raise maxPairs " +
        "on a cluster with the scratch to absorb it.")
    val a = cells.select(col("cell"), col("c_id").as("a_id"),
      col("cv").as("av"), col("cn").as("an"))
    val b = cells.select(col("cell"), col("c_id").as("b_id"),
      col("cv").as("bv"), col("cn").as("bn"))
    val edges = a.join(b, Seq("cell")).filter(col("a_id") < col("b_id"))
      .filter(round(dot(col("av"), col("bv")) / (col("an") * col("bn")), 6)
        >= threshold)
      .select("a_id", "b_id")
    val comps = Dedup.connectedComponents(edges, "a_id", "b_id")
    cells.select(col("c_id"), col("cell"))
      .join(comps.select(col("id").as("c_id"), col("component")), Seq("c_id"), "left")
      .select(col("c_id").as(idCol), col("cell"),
        coalesce(col("component"), col("c_id")).as("canonical"),
        (coalesce(col("component"), col("c_id")) === col("c_id")).as("kept"))
  }

  /** [[semanticDedup]]'s auto-nlist rule, shared with [[semIndex]]:
    * clamp(max(n/2000, 2n²/maxPairs), 16, 65536) — cells grow with the
    * corpus (the paper's scale rule) AND with the square of it relative
    * to the pair budget, so even cells of size n/k stay at ≤ maxPairs/4
    * mass with 4× skew headroom. */
  private def resolveSemNlist(df: DataFrame, nlist: Int, maxPairs: Long): Int =
    if (nlist > 0) nlist
    else {
      val n = df.count()
      val byScale = n / 2000L
      val byBudget = math.ceil(2.0 * n / maxPairs * n).toLong
      math.min(65536L, math.max(16L, math.max(byScale, byBudget))).toInt
    }

  /** A SEMANTIC-DEDUP INDEX — the state the incremental SemDeDup path
    * carries between shards: every ingested doc's (id, cell, cv, cn,
    * canonical, kept) row plus the FROZEN coarse cell model, threshold
    * and seed. Docs (not just survivors) are retained so the
    * incremental edge set equals the batch edge set — what makes
    * [[semanticDedupIncremental]]'s equivalence contract exact rather
    * than approximate. `union` folds a decided shard in (same
    * append-only discipline as the other index families). */
  final case class SemIndex(idCol: String, docs: DataFrame, coarse: Coarse,
                            threshold: Double, seed: Long) {
    def union(shardDocs: DataFrame): SemIndex =
      copy(docs = docs.select("id", "cell", "cv", "cn", "canonical", "kept")
        .union(shardDocs.select("id", "cell", "cv", "cn", "canonical", "kept")))
  }

  /** Build the [[SemIndex]] for an initial corpus: one [[semanticDedup]]
    * run plus the doc-geometry join. The coarse model is trained ONCE
    * here and passed into the dedup run
    * ([[semanticDedupWithModel]] — round 10), so the recorded model and
    * the model the decisions used are the same object, and the corpus
    * count / sample collect / Lloyd fits are not repeated — which is
    * what lets later shards quantize consistently with the recorded
    * decisions at one build's cost. */
  def semIndex(df: DataFrame, idCol: String, vecCol: String,
               threshold: Double, nlist: Int = -1, seed: Long = 42L,
               trainSample: Int = 16384, maxPairs: Long = 1000000000L,
               staging: Staging.Mode = Staging.Local,
               collapsePairsPerDoc: Double = 2.0): SemIndex = {
    val k = resolveSemNlist(df, nlist, maxPairs)
    val base = staging(withNorm(Staging.spread(df, col(idCol)),
      idCol, vecCol, "id", "cv", "cn"))
    val cq = trainCoarse(sampleDistinctVecs(base, trainSample), k, seed)
    // decisions run against THIS model (no re-count, no re-sample, no
    // second pair of Lloyd fits — the round-9 advisory): the recorded
    // model and the deciding model are one object by construction
    val dec = semanticDedupWithModel(df, idCol, vecCol, threshold, k, seed,
      trainSample, maxPairs, staging, collapsePairsPerDoc, Some(cq))
    val docs = base.join(
      dec.select(col(idCol).as("id"), col("cell"), col("canonical"), col("kept")),
      Seq("id"))
      .select("id", "cell", "cv", "cn", "canonical", "kept")
    SemIndex(idCol, docs, cq, threshold, seed)
  }

  /** INCREMENTAL SemDeDup: keep/drop decisions for a NEW shard against
    * a [[SemIndex]], O(shard-touched cells) — the corpus is never
    * re-clustered or re-paired. Cells come from the index's frozen
    * model; edges are cell-local (a doc has exactly one cell, so
    * components never span cells).
    *
    * Decision rule — FIRST-IN-WINS, the only causally-consistent policy
    * for streaming curation (a doc already shipped downstream cannot be
    * un-kept): a shard doc connected — directly or through other shard
    * docs — to any existing doc drops, inheriting the MINIMUM canonical
    * among the existing docs it reaches (every existing member of one
    * component carries the same canonical, so the min-aggregate IS the
    * transitive step through the existing graph); a shard-only
    * component keeps its min id, exactly like the batch path.
    *
    * EXACT equivalence contract (pinned in SemDedupIncSpec): when ids
    * arrive in increasing order and no shard doc bridges two existing
    * components, the incremental (id, cell, canonical, kept) rows are
    * row-identical to one batch [[semanticDedup]] over the union RUN
    * WITH THE INDEX'S nlist (the incremental path quantizes with the
    * index's FROZEN model, so the comparator must too — auto-nlist
    * would resolve differently on the larger union) — the edge set is
    * identical (all docs retained) and first-arrival min == global min
    * under ordered arrival. When a bridge DOES occur, batch would merge
    * the two components under one survivor; first-in-wins keeps both
    * existing survivors and only the bridge doc drops — the documented,
    * deliberate deviation.
    *
    * Clone-heavy shards take the `Dedup.dupGroups` collapse (members
    * inherit their rep's decision, as in [[semanticDedup]]), and the
    * corpus side of the cross join is deflated to one row per distinct
    * (cell, vector, canonical) within the TOUCHED cells only —
    * per-batch work stays bounded by shard activity even when both
    * sides are clone-dominated.
    *
    * Pair mass (shard×corpus cross + within-shard, touched cells only)
    * is ENFORCED against `maxPairs` before any join is scheduled.
    * Returns shard rows in docs geometry (id, cell, cv, cn, canonical,
    * kept) — feed to [[SemIndex.union]] / the ingest loop to fold in. */
  def semanticDedupIncremental(shard: DataFrame, vecCol: String, idx: SemIndex,
                               maxPairs: Long = 1000000000L,
                               staging: Staging.Mode = Staging.Local,
                               collapsePairsPerDoc: Double = 2.0): DataFrame = {
    val sbase = staging(withNorm(shard, idx.idCol, vecCol, "id", "cv", "cn"))
    Dedup.dupGroups(shard.select(col(idx.idCol).as("id"), col(vecCol).as("key")),
        staging, collapsePairsPerDoc) match {
      case None => semanticDedupIncCore(sbase, idx, maxPairs, staging)
      case Some(g) =>
        // a non-rep member always has the cos-1.0 edge to its rep, so it
        // drops onto the rep's canonical (the rep IS the canonical when
        // the rep kept); zero-norm groups drop out as in sbase
        val repDec = semanticDedupIncCore(
          sbase.join(g.reps.select(col("gid").as("id")), Seq("id")), idx, maxPairs, staging)
        g.mem.join(repDec.select(col("id").as("gid"), col("cell"), col("cv"),
            col("cn"), col("canonical")), Seq("gid"))
          .select(col("id"), col("cell"), col("cv"), col("cn"), col("canonical"),
            (col("id") === col("canonical")).as("kept"))
    }
  }

  private def semanticDedupIncCore(sbase: DataFrame, idx: SemIndex,
                                   maxPairs: Long,
                                   staging: Staging.Mode): DataFrame = {
    val scells = staging(withCellCols(sbase, idx.coarse, col("cv"), staging = staging)
      .select(col("id"), col("cell"), col("cv"), col("cn")))
    // corpus side: touched cells only, ONE row per distinct (cell,
    // vector, canonical) — identical corpus vectors always share a
    // component (cos-1.0 edges), so the distinct preserves the
    // min-canonical aggregate while deflating clone-heavy cells; the
    // partial aggregate dedups map-side before the exchange
    val touched = scells.select("cell").distinct()
    val ex = idx.docs.join(broadcast(touched), Seq("cell"))
      .select(col("cell"), col("cv").as("bv"), col("cn").as("bn"),
        col("canonical").as("b_can"))
      .distinct()
    val cs = ex.groupBy("cell").agg(count(lit(1)).as("cs"))
    val mass = scells.groupBy("cell").agg(count(lit(1)).as("ss"))
      .join(cs, Seq("cell"), "left")
      .agg(coalesce(sum(col("ss") * coalesce(col("cs"), lit(0L)) +
        expr("ss * (ss - 1) div 2")), lit(0L)).as("p"))
      .head.getLong(0)
    require(mass <= maxPairs,
      s"semanticDedupIncremental pair mass $mass exceeds budget $maxPairs: " +
        "rebuild the index with a larger nlist so cells shrink, or raise " +
        "maxPairs on a cluster with the scratch to absorb it.")
    val sa = scells.select(col("cell"), col("id").as("a_id"),
      col("cv").as("av"), col("cn").as("an"))
    val attach = sa.join(ex, Seq("cell"))
      .filter(round(dot(col("av"), col("bv")) / (col("an") * col("bn")), 6)
        >= idx.threshold)
      .groupBy("a_id").agg(min(col("b_can")).as("ex_can"))
    val sb = scells.select(col("cell"), col("id").as("b_id"),
      col("cv").as("bv"), col("cn").as("bn"))
    val sEdges = sa.join(sb, Seq("cell")).filter(col("a_id") < col("b_id"))
      .filter(round(dot(col("av"), col("bv")) / (col("an") * col("bn")), 6)
        >= idx.threshold)
      .select("a_id", "b_id")
    val comps = Dedup.connectedComponents(sEdges, "a_id", "b_id", staging = staging)
    val withComp = scells
      .join(comps.select(col("id"), col("component")), Seq("id"), "left")
      .withColumn("comp", coalesce(col("component"), col("id")))
    val compCan = withComp
      .join(attach.withColumnRenamed("a_id", "id"), Seq("id"), "left")
      .groupBy("comp").agg(min(col("ex_can")).as("comp_ex_can"))
    withComp.join(compCan, Seq("comp"))
      .withColumn("canonical", coalesce(col("comp_ex_can"), col("comp")))
      .select(col("id"), col("cell"), col("cv"), col("cn"), col("canonical"),
        (col("canonical") === col("id")).as("kept"))
  }

  /** Persist a [[SemIndex]]: `<prefix>_docs` bucketed on `cell` (the
    * incremental edge joins' key — a shard batch reads the corpus side
    * co-located), model/threshold in `<prefix>_meta`. */
  def saveSemIndex(idx: SemIndex, prefix: String, buckets: Int = 16): Unit = {
    val spark = idx.docs.sparkSession
    Fence.withFence(spark, prefix, "saveSemIndex") {
      import spark.implicits._
      // meta overlapped with the docs write (round 17; see Layout.writeAll)
      Family.Sem.save(prefix, Seq(idx.docs),
        Seq((idx.idCol, idx.threshold, idx.seed,
            idx.coarse.l1.map(_.toSeq).toSeq, idx.coarse.l2.map(_.toSeq).toSeq,
            buckets))
          .toDF("id_col", "threshold", "seed", "coarse_l1", "coarse_l2", "buckets"),
        buckets)
    }
  }

  /** Load a [[saveSemIndex]]-persisted index by catalog name
    * ([[Tombstones]]-deleted ids filtered; internal id column is the
    * normalized `id`). */
  def loadSemIndex(spark: org.apache.spark.sql.SparkSession,
                   prefix: String): SemIndex =
    loadSemIndex(spark, prefix, spark.table(Family.meta(prefix)).head())

  /** [[loadSemIndex]] over an already-read meta row `r`. */
  private[graft] def loadSemIndex(spark: org.apache.spark.sql.SparkSession,
                                  prefix: String,
                                  r: org.apache.spark.sql.Row): SemIndex = {
    val l1 = r.getAs[scala.collection.Seq[scala.collection.Seq[Double]]](3)
      .map(_.toArray).toArray
    val l2 = r.getAs[scala.collection.Seq[scala.collection.Seq[Double]]](4)
      .map(_.toArray).toArray
    SemIndex(r.getString(0),
      Family.Sem.load(spark, prefix).head,
      Coarse(l1, l2), r.getDouble(1), r.getLong(2))
  }

  /** Embedding-cosine near-duplicate pairs above a threshold (exact,
    * blocked by the caller at scale or piped through lshTopK). Norms are
    * computed once per row, not per pair. The exact tier: O(n^2) pairs —
    * use [[lshDupPairs]] for the bucketed scale path. The n² contract is
    * ENFORCED (the q32 guard discipline): one count() refuses past
    * `maxPairs` candidate pairs instead of scheduling a runaway join. */
  def cosineDupPairs(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, maxPairs: Long = 1000000000L): DataFrame = {
    val n = df.count()
    // overflow-safe integer form (n*n overflows Long past ~3e9 rows and
    // sqrt(budget.toDouble) rounds near Long.MaxValue): exact at every
    // magnitude, same form as containmentPairsExact
    require(n == 0 || n <= maxPairs / n,
      s"exact cosine tier is all-pairs: n=$n rows → ~n² candidate pairs " +
        s"exceeds budget $maxPairs. Use the banded scale " +
        "path (Similarity.lshDupPairs) past this size.")
    val a = withNorm(df, idCol, vecCol, "a_id", "av", "an")
    val b = withNorm(df, idCol, vecCol, "b_id", "bv", "bn")
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(dot(col("av"), col("bv")) / (col("an") * col("bn")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Chunk → document mean-pooling with L2 normalization — the step that
    * turns per-chunk embeddings (a long doc embedded in windows) into one
    * document vector. The aggregation is `Summarizer.mean` over an ML
    * Vector column: a map-side-combinable vector aggregate, so the only
    * shuffle carries one (group, partial-sum, count) buffer per group per
    * partition — never the n×dim row explosion a posexplode+groupBy(pos)
    * formulation would shuffle. Zero-norm groups pass through unnormalized
    * (no NaN). Returns (groupCol, n_chunks, pooled array<double>,
    * norm, unit array<double>). */
  def meanPoolNormalize(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(org.apache.spark.ml.stat.Summarizer
          .mean(array_to_vector(toDoubleArray(col(vecCol)))).as("__m"),
        count(lit(1)).as("n_chunks"))
      .withColumn("pooled", vector_to_array(col("__m")))
      .withColumn("norm", l2norm(col("pooled")))
      .withColumn("unit",
        expr("IF(norm > 0, transform(pooled, x -> x / norm), pooled)"))
      .select(col(groupCol), col("n_chunks"), col("pooled"), col("norm"), col("unit"))

  /** Symmetric per-vector int8 quantization — the storage/serving format
    * a 100-TB embedding pipeline actually ships (4× smaller than float32,
    * 8× smaller than the double intermediate). scale = max|v_i| / 127;
    * q_i = clamp(floor(v_i / scale + 0.5), -127, 127) — floor(x + 0.5) is
    * written out explicitly (not round()) so both engines share one
    * rounding rule at .5 boundaries. Pure per-row projection: no shuffle,
    * every step an IEEE-deterministic codegen expression, so a DuckDB
    * oracle reproduces it bit-for-bit. All-zero vectors (scale = 0) keep
    * a zero code vector rather than dividing by zero.
    *
    * Returns (idCol, qvec array<int>, scale double, max_err double) where
    * max_err = max_i |v_i - q_i * scale| ≤ scale/2 by construction — the
    * reconstruction-error bound callers assert on. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), toDoubleArray(col(vecCol)).as("__v"))
      .withColumn("__scale",
        array_max(transform(col("__v"), x => abs(x))) / lit(127.0))
      .withColumn("qvec", expr(
        """IF(__scale > 0,
             transform(__v, x -> CAST(greatest(least(floor(x / __scale + 0.5D),
                                                     127D), -127D) AS INT)),
             transform(__v, x -> 0))"""))
      .withColumn("max_err", expr(
        "array_max(zip_with(__v, qvec, (x, q) -> abs(x - q * __scale)))"))
      .select(col(idCol), col("qvec"), col("__scale").as("scale"), col("max_err"))

  /** Bucketed near-duplicate pairs: sign-LSH banding (Charikar 2002
    * random-hyperplane bits, banded into `numTables` keys of
    * `bitsPerTable` bits) generates candidates from shared buckets only;
    * candidates are exactly re-scored and thresholded, so every emitted
    * pair is exact — banding controls RECALL, not precision.
    *
    * Identical vectors hash identically in EVERY table, so recall is 1.0
    * by construction for exact duplicates regardless of parameters; for
    * near-duplicates the per-table hit rate is (1 - theta/pi)^bits (cos
    * 0.95 → 0.90/table at 10 bits, miss < 1e-8 over 8 tables). This is
    * the plan shape that survives 100 TB: one codegen projection computes
    * all bits, only (id, t, h) triples shuffle to the bucket join, and
    * the O(n^2) explosion never happens — the exact tier
    * ([[cosineDupPairs]]) stays for small blocks and oracles.
    *
    * Exact duplicates take the `Dedup.dupGroups` collapse, keyed on the
    * raw vector (exact equality — no hash-collision risk; Spark
    * normalizes -0.0/NaN identically in group and join keys):
    * identical embeddings share identical band keys in EVERY table.
    * Within-group pairs carry the group's self-cosine (exactly 1.0 —
    * zero-norm vectors are excluded before hashing per the shared
    * cosine contract, so no 0/0 arises). */
  def lshDupPairs(df: DataFrame, idCol: String, vecCol: String,
                  threshold: Double, bitsPerTable: Int = 10, numTables: Int = 8,
                  seed: Long = 42L, dim: Int = -1,
                  staging: Staging.Mode = Staging.Local,
                  collapsePairsPerDoc: Double = 2.0): DataFrame = {
    Dedup.dupGroups(df.select(col(idCol).as("id"), col(vecCol).as("key")),
        staging, collapsePairsPerDoc) match {
      case None => bandedCosinePairs(
        embedIndex(df, idCol, vecCol, bitsPerTable, numTables, seed, dim, staging),
        threshold)
      case Some(g) =>
        // the representative's vector IS its group key — build the rep
        // frame from `reps` instead of semi-joining (and re-scanning) df;
        // the banded pipeline over it is staged via embedIndex
        val idx = embedIndex(g.reps.select(col("gid").as(idCol), col("key").as(vecCol)),
          idCol, vecCol, bitsPerTable, numTables, seed, dim, staging)
        // within-group pairs carry the group's self-cosine (exactly 1.0;
        // zero-norm groups never reach here — embedIndex excluded them,
        // so their gid is absent from idx.vecs and their members drop)
        val okSelf = idx.vecs.select(col("id").as("gid"),
            round(dot(col("arr"), col("arr")) / (col("nrm") * col("nrm")), 6).as("cos"))
          .filter(col("cos") >= threshold)
        Dedup.expandDupPairs(g, bandedCosinePairs(idx, threshold), "cos",
          col("cos"), Some(okSelf))
    }
  }

  /** Banded candidate generation + exact-cosine rescore over a built
    * [[EmbedIndex]] — the shared core of both [[lshDupPairs]] branches.
    * Candidate pairs are deduped on ids before the rescore joins fetch
    * the two vectors. */
  private def bandedCosinePairs(idx: EmbedIndex, threshold: Double): DataFrame = {
    val hashed = idx.hashed
    val cand = hashed.as("a").join(hashed.as("b"),
        col("a.t") === col("b.t") && col("a.h") === col("b.h") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id")).distinct()
    val a = idx.vecs.select(col("id").as("a_id"), col("arr").as("av"), col("nrm").as("an"))
    val b = idx.vecs.select(col("id").as("b_id"), col("arr").as("bv"), col("nrm").as("bn"))
    cand.join(a, "a_id").join(b, "b_id")
      .select(col("a_id"), col("b_id"),
        round(dot(col("av"), col("bv")) / (col("an") * col("bn")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Persist an [[EmbedIndex]] as bucketed Parquet tables:
    * `<prefix>_hashed` hash-bucketed (and sorted) on the candidate
    * join's exact (t, h) key set (Spark requires all cluster keys for
    * bucket co-partitioning), so an incremental batch reads the corpus
    * side co-located, shuffling only the shard; `<prefix>_vecs`
    * bucketed on `id` for the rescore joins. The full LSH family
    * (bits, tables, seed, dim) rides in `<prefix>_meta` — equality of
    * those four IS equality of the hash family, so a mismatched load
    * refuses via the [[EmbedIndex.union]] checks. */
  def saveEmbedIndex(idx: EmbedIndex, prefix: String,
                     buckets: Int = 64): Unit = {
    val spark = idx.hashed.sparkSession
    Fence.withFence(spark, prefix, "saveEmbedIndex") {
      import spark.implicits._
      // overlap the three per-table writes: see Layout.writeAll (round 17)
      Family.Embed.save(prefix, Seq(idx.hashed, idx.vecs),
        Seq((idx.idCol, idx.bitsPerTable, idx.numTables, idx.seed, idx.dim, buckets))
          .toDF("id_col", "bits_per_table", "num_tables", "seed", "dim", "buckets"),
        buckets)
    }
  }

  /** Load a [[saveEmbedIndex]]-persisted index by catalog name
    * ([[Tombstones]]-deleted ids filtered; internal id column is the
    * normalized `id`). */
  def loadEmbedIndex(spark: org.apache.spark.sql.SparkSession,
                     prefix: String): EmbedIndex = {
    val m = spark.table(Family.meta(prefix)).head()
    val Seq(hashed, vecs) = Family.Embed.load(spark, prefix)
    EmbedIndex(m.getString(0), vecs, hashed,
      m.getInt(1), m.getInt(2), m.getLong(3), m.getInt(4))
  }

  /** Seeded sign-LSH hyperplanes, drawn in the fixed (table, bit, dim)
    * order every caller shares — two indexes built with the same
    * (numTables, bitsPerTable, dim, seed) hash any vector identically,
    * which is what makes the incremental path exact. */
  private def signPlanes(numTables: Int, bitsPerTable: Int, dim: Int,
                         seed: Long): Array[Array[Array[Double]]] = {
    val rng = new java.util.Random(seed)
    Array.fill(numTables, bitsPerTable)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** One table's band key: bitsPerTable sign bits packed into an int. */
  private def tableKey(planesT: Array[Array[Double]], arr: Column): Column =
    planesT.zipWithIndex.map { case (p, b) =>
      when(dot(arr, typedLit(p.toSeq)) >= 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _).cast("int")

  /** Persisted sign-LSH index over an embedding corpus — the vector
    * twin of `Dedup.MinHashIndex`, completing the incremental-ingestion
    * trio (MinHash, SimHash, embeddings):
    *  - `vecs`   (id, arr double[], nrm, __hvec int[numTables]) — the
    *             exact-rescore side plus each vector's full band-key
    *             vector (the stateless gate's first-collision predicate
    *             needs it);
    *  - `hashed` (id, t, h) — one row per (vector, table), the join key
    *             of candidate generation.
    * At cluster scale both are real tables (write `hashed` partitioned
    * by (t, h-range) so a new shard joins against it shuffling only the
    * shard); locally they are staged per [[Staging.Mode]]. `union`
    * folds a freshly-indexed shard in for the next batch — ids must be
    * disjoint across sides (caller contract). The LSH parameters
    * INCLUDING dim and seed must match for two indexes to be joinable:
    * the hyperplanes are a deterministic function of (numTables,
    * bitsPerTable, dim, seed), so equality of those four IS equality of
    * the hash family. */
  final case class EmbedIndex(idCol: String, vecs: DataFrame, hashed: DataFrame,
                              bitsPerTable: Int = 10, numTables: Int = 8,
                              seed: Long = 42L, dim: Int = -1) {
    def union(other: EmbedIndex): EmbedIndex = {
      require(other.idCol == idCol,
        s"EmbedIndex id columns differ: '$idCol' vs '${other.idCol}'")
      require(other.bitsPerTable == bitsPerTable && other.numTables == numTables &&
        other.seed == seed && other.dim == dim,
        s"EmbedIndex LSH families differ: (bits=$bitsPerTable, tables=$numTables, " +
          s"seed=$seed, dim=$dim) vs (bits=${other.bitsPerTable}, " +
          s"tables=${other.numTables}, seed=${other.seed}, dim=${other.dim})")
      EmbedIndex(idCol, vecs.union(other.vecs), hashed.union(other.hashed),
        bitsPerTable, numTables, seed, dim)
    }
  }

  /** Build the [[EmbedIndex]] for `df`: one projection computes the
    * double cast, the norm and all numTables band keys (codegen dot
    * kernel per hyperplane) — no shuffle; `hashed` is a narrow
    * posexplode of the staged frame. */
  def embedIndex(df: DataFrame, idCol: String, vecCol: String,
                 bitsPerTable: Int = 10, numTables: Int = 8,
                 seed: Long = 42L, dim: Int = -1,
                 staging: Staging.Mode = Staging.Local): EmbedIndex = {
    val vecDim =
      if (dim > 0) dim
      else df.select(size(col(vecCol))).limit(1).head.getInt(0)
    val planes = signPlanes(numTables, bitsPerTable, vecDim, seed)
    val hvec = array((0 until numTables).map(t => tableKey(planes(t), col("arr"))): _*)
    // spread before the kernel (round 16): numTables*bits hyperplane
    // dots per row otherwise run at the scan's file width — see
    // Staging.spread (no-op once partitions >= defaultParallelism)
    val vecs = staging(Staging.spread(df, col(idCol))
      .select(col(idCol).as("id"), toDoubleArray(col(vecCol)).as("arr"))
      .withColumn("nrm", l2norm(col("arr")))
      .filter(col("nrm") > 0) // zero-norm exclusion (withNorm contract)
      .withColumn("__hvec", hvec))
    val hashed = vecs.select(col("id"), posexplode(col("__hvec")).as(Seq("t", "h")))
    EmbedIndex(idCol, vecs, hashed, bitsPerTable, numTables, seed, vecDim)
  }

  /** Incremental sign-LSH near-dup pairs TOUCHING A NEW SHARD —
    * shard-vs-corpus plus shard-vs-shard — against a corpus whose
    * [[EmbedIndex]] already exists. The 100-TB vector-ingestion shape:
    * a new batch never re-hashes the corpus; it hashes itself (linear
    * in the shard) and joins its band table against the corpus's
    * persisted one. Band collision is a PAIRWISE predicate, so the
    * output is row-identical to [[lshDupPairs]] over corpus ∪ shard
    * restricted to shard-touching pairs (pinned in SessionIvfSpec;
    * slice-wise by catalog query q102). Pair orientation follows the
    * full run's `a_id < b_id` convention. */
  def lshDupPairsIncremental(shard: EmbedIndex, corpus: EmbedIndex,
                             threshold: Double): DataFrame = {
    require(corpus.idCol == shard.idCol,
      s"index id columns differ: '${corpus.idCol}' vs '${shard.idCol}'")
    require(corpus.bitsPerTable == shard.bitsPerTable &&
      corpus.numTables == shard.numTables && corpus.seed == shard.seed &&
      corpus.dim == shard.dim,
      s"EmbedIndex LSH families differ: shard (bits=${shard.bitsPerTable}, " +
        s"tables=${shard.numTables}, seed=${shard.seed}, dim=${shard.dim}) vs " +
        s"corpus (bits=${corpus.bitsPerTable}, tables=${corpus.numTables}, " +
        s"seed=${corpus.seed}, dim=${corpus.dim})")
    val nb = shard.hashed
    val cb = corpus.hashed
    val nn = nb.select(col("id").as("a_id"), col("t"), col("h"))
      .join(nb.select(col("id").as("b_id"), col("t"), col("h")), Seq("t", "h"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    val nc = nb.select(col("id").as("n_id"), col("t"), col("h"))
      .join(cb.select(col("id").as("c_id"), col("t"), col("h")), Seq("t", "h"))
      .select(least(col("n_id"), col("c_id")).as("a_id"),
        greatest(col("n_id"), col("c_id")).as("b_id"))
    // dedupe candidate ids before fetching vectors: a pair can collide
    // in up to numTables bands
    val cand = nn.union(nc).distinct()
    val allV = corpus.vecs.union(shard.vecs)
    cand
      .join(allV.select(col("id").as("a_id"), col("arr").as("av"), col("nrm").as("an")),
        Seq("a_id"))
      .join(allV.select(col("id").as("b_id"), col("arr").as("bv"), col("nrm").as("bn")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        round(dot(col("av"), col("bv")) / (col("an") * col("bn")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Online corpus-match gate for vectors: for each shard embedding —
    * `shard` may be a STREAMING DataFrame — every corpus near-dup with
    * cosine ≥ `threshold`, as (n_id, c_id, cos). The vector twin of
    * `Dedup.minhashLshMatchCorpus`, fully stateless stream-static: the
    * shard side computes its band-key vector per row (pure projection),
    * candidates come from one equi-join on (t, h) against the corpus's
    * persisted band table, rescoring joins the corpus vector by id.
    * The stateful candidate `distinct` is replaced by first-collision
    * emission: both sides carry their full table-ordered key vector, so
    * "this table is the pair's minimal colliding table" is a per-row
    * predicate — exactly-once by construction. Batch parity with the
    * incremental cross leg pinned in SessionIvfSpec; stream==batch in
    * StreamingSpec. */
  def lshDupMatchCorpus(shard: DataFrame, idCol: String, vecCol: String,
                        corpus: EmbedIndex, threshold: Double): DataFrame = {
    require(corpus.dim > 0,
      "corpus EmbedIndex carries no dim; build it with Similarity.embedIndex")
    val planes = signPlanes(corpus.numTables, corpus.bitsPerTable, corpus.dim, corpus.seed)
    val cSide = corpus.vecs.select(col("id").as("c_id"), col("__hvec").as("__cvec"),
      posexplode(col("__hvec")).as(Seq("t", "h")))
    val hvec = array((0 until corpus.numTables).map(t => tableKey(planes(t), col("arr"))): _*)
    val nSide = shard
      .select(col(idCol).as("n_id"), toDoubleArray(col(vecCol)).as("arr"))
      .withColumn("nrm", l2norm(col("arr")))
      .filter(col("nrm") > 0) // zero-norm exclusion (withNorm contract)
      .withColumn("__nvec", hvec)
      .select(col("n_id"), col("arr").as("nv"), col("nrm").as("nn"), col("__nvec"),
        posexplode(col("__nvec")).as(Seq("t", "h")))
    val cand = nSide.join(cSide, Seq("t", "h"))
      .filter(col("t") ===
        array_position(zip_with(col("__nvec"), col("__cvec"), (x, y) => x === y), true) - 1)
    cand
      .join(corpus.vecs.select(col("id").as("c_id"), col("arr").as("cv"), col("nrm").as("cn")),
        Seq("c_id"))
      .select(col("n_id"), col("c_id"),
        round(dot(col("nv"), col("cv")) / (col("nn") * col("cn")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
