package graft.streaming

import graft.operators.{Dedup, Family, Fence, Layout, Similarity, Staging, Tombstones}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** END-TO-END streaming near-dup ingestion (round 8): the missing wiring
  * between the incremental index families (which specs exercised two
  * batches at a time, in memory) and a long-running stream — a
  * `foreachBatch` loop where every micro-batch
  *
  *   1. indexes itself (linear in the batch, no corpus work),
  *   2. computes the pairs TOUCHING the batch against the RELOADED
  *      persisted corpus index (batch-vs-corpus + batch-vs-batch), and
  *   3. folds itself into the persisted index for the next batch.
  *
  * The fold is APPEND-ONLY: the index tables are partitioned by
  * `ingest_batch` and hash-bucketed on the candidate join's exact key
  * set, so a batch appends its own partition and the corpus is NEVER
  * rewritten — per-batch work stays O(batch), not O(corpus), which is
  * the property that lets the loop run forever at 100 TB. Bucketed scans
  * group files by bucket id ACROSS partition directories, so the
  * candidate join still reads the corpus side co-located (one shard-side
  * Exchange only — pinned in IngestLoopSpec with broadcast disabled).
  *
  * Exactly-once: a retried micro-batch is safe on both legs. The pair
  * output for batch N overwrites its own `ingest_batch=N` directory, and
  * the corpus view for batch N reads partitions `ingest_batch < N` — so
  * a retry that already half-appended its own partition neither sees
  * itself as corpus nor double-emits pairs; the batch commit
  * ([[commitBatch]], shared by every family) also drops the batch's own
  * index partition before re-appending, making the fold itself
  * idempotent (retry-replay pinned in IngestLoopSpec).
  *
  * Pair-set contract (the reason this loop is trustworthy): band-bucket
  * collision is a pairwise predicate, so the UNION of every batch's pair
  * output equals one batch [[Dedup.minhashLshPairs]] run over the whole
  * corpus — each (i, j) pair is emitted exactly once, by the later id's
  * batch. Pinned in IngestLoopSpec across ≥3 micro-batches.
  *
  * Concurrency (round 11): every batch writer holds the family's
  * [[graft.operators.Fence]] for its whole write window, so a
  * compaction, a batch re-save, or another loop's batch overlapping in
  * TIME refuses loudly and replays — never a lost append. One contract
  * the fence cannot express in time alone: run at most ONE loop (one
  * checkpoint directory) per family prefix. Batch ids are
  * checkpoint-local, so a second loop on the same prefix would reuse
  * bids and its drop-own-partition retry step would clobber the first
  * loop's partitions — serialized or not. Round 12 makes that contract
  * ENFORCED, not documented: the family's `<prefix>_meta` records the
  * loop id (the checkpoint location) that owns it — recorded at
  * creation, or adopted by the first loop to touch a batch-save-created
  * family — and every subsequent batch verifies it under the fence. A
  * second loop's first micro-batch refuses loudly naming both ids; the
  * deliberate hand-off (checkpoint restored elsewhere) is [[rebind]].
  * One family, one writer loop; shards fan IN through the landing
  * directory, not through parallel loops.
  */
object IngestLoop {

  /** Canonical form of a loop id — the checkpoint location with path
    * noise (trailing slashes, `.`) normalized, so the same checkpoint
    * spelled two ways still reads as the same loop. */
  private def normLoopId(id: String): String =
    if (id.isEmpty) "" else new org.apache.hadoop.fs.Path(id).toString

  /** The loop id recorded in a MULTI-WRITER family's meta: no single
    * loop owns it — every batch resolves its partition id through the
    * `<prefix>_commits` mapping instead (round 13). */
  private[streaming] val MultiWriterMarker = "__multi-writer__"

  /** One batch's resolved identity under the multi-writer protocol:
    * the global partition id, the partitions this batch must NOT read
    * (frozen at first assignment), and the later partitions it must
    * COMPENSATE for (they ran while this batch was an unreplayed
    * orphan, so they could not have mined against it). */
  private case class GlobalBid(gbid: Long, missingBelow: Seq[Long],
                               compensate: Seq[Long]) {
    /** This batch's corpus view of a family table: see [[multiCorpusFilter]]. */
    def corpus: Column = multiCorpusFilter(gbid, missingBelow, compensate)
  }

  /** A single-writer batch's identity: its own checkpoint-local bid,
    * reading every partition strictly below it. */
  private def before(bid: Long): GlobalBid = GlobalBid(bid, Seq.empty, Seq.empty)

  /** Resolve (loop_id, local_bid) → global partition id under the
    * family fence (round 13 — TRUE multi-writer ingestion, SURVEY §10's
    * deferred design made concrete). The `<prefix>_commits` table maps
    * each loop's checkpoint-local batch ids onto one global, gap-free-
    * in-assignment sequence; a replay REUSES its mapping, so
    * drop-own-partition stays safe with any number of loops.
    *
    * The sketch alone ("corpus views read partitions < own") has a
    * lost-pair hole: batch g can fail AFTER assignment, and a later
    * batch h > g (possibly another loop's) commits while g is an
    * unreplayed orphan — h mined against a corpus missing g, and g's
    * replay reads `< g` which misses h, so a cross pair between their
    * shards would be emitted by NEITHER side. Two frozen-at-assignment
    * sets close it exactly once per pair:
    *   - `missing_below`: the assigned-but-absent partitions at this
    *     batch's FIRST run. The corpus view excludes them on every
    *     replay too (they may exist by then), keeping the replay
    *     byte-deterministic — and keeping responsibility for those
    *     cross pairs with the orphan's own replay.
    *   - compensation (computed, not stored): the batches h > g whose
    *     `missing_below` lists g. Their runs provably never saw g, so
    *     g's replay mines against them as well. At first assignment
    *     this set is empty (nothing above g exists yet); it only kicks
    *     in on the replay the checkpoint guarantees.
    * Pair (i∈g, j∈h), g<h is thus emitted exactly once: by h if h's
    * frozen view saw g, else by g's replay. */
  private def resolveGlobalBid(spark: SparkSession, prefix: String,
                               loopId: String, localBid: Long,
                               partitionsOf: String): GlobalBid = {
    require(loopId.nonEmpty,
      "multi-writer ingest requires a loop id (the checkpoint location): " +
        "global partition ids are keyed on (loop_id, local_bid)")
    import spark.implicits._
    val t = Family.commits(prefix)
    // an orphaned commits LOCATION (catalog entry lost to an ephemeral
    // metastore) must die before the append-create both to avoid the
    // LOCATION_ALREADY_EXISTS refusal and because adopting its rows
    // would be the stale-mapping corruption the round-13 advisory named
    Tombstones.clearOrphanLocation(spark, t)
    val commits =
      if (spark.catalog.tableExists(t)) Some(spark.table(t)) else None
    val existing = commits.flatMap(
      _.filter(col("loop_id") === loopId && col("local_bid") === localBid)
        .limit(1).collect().headOption)
    existing match {
      case Some(r) =>
        val g = r.getAs[Long]("global_bid")
        val missing =
          r.getAs[scala.collection.Seq[Long]]("missing_below").toSeq
        // batches above g whose frozen view never saw g — bounded by
        // the number of batches that ran while g was an orphan
        val comp = commits.get
          .filter(array_contains(col("missing_below"), g))
          .select("global_bid").limit(1025).collect().map(_.getLong(0)).toSeq
        require(comp.size <= 1024,
          s"batch $g of '$prefix' has ${comp.size}+ compensation partitions — " +
            "more than 1024 batches committed while it was an orphan; " +
            "rebuild the family (this means the loop was dead for its " +
            "entire ingest history).")
        GlobalBid(g, missing, comp)
      case None =>
        val next = commits
          .map(_.agg(coalesce(max("global_bid"), lit(-1L))).head.getLong(0) + 1L)
          .getOrElse(0L)
        // assigned-but-absent partitions below us: their replays own
        // the cross pairs against this batch (we record, they read).
        // A missing partitions TABLE (a torn creation familyExists just
        // auto-dropped) means every assigned bid is absent.
        val missing = commits.map { c =>
          val assigned = c.select(col("global_bid"))
          val m = (if (spark.catalog.tableExists(partitionsOf))
            assigned.join(
              spark.table(partitionsOf).select("ingest_batch").distinct()
                .withColumnRenamed("ingest_batch", "global_bid"),
              Seq("global_bid"), "left_anti")
          else assigned)
            .limit(1025).collect().map(_.getLong(0)).toSeq
          require(m.size <= 1024,
            s"family '$prefix' has ${m.size}+ orphaned (assigned, never " +
              "committed) partitions — the crashed loops must replay or " +
              "the family be rebuilt before new batches land.")
          m
        }.getOrElse(Seq.empty)
        Seq((loopId, localBid, next, missing))
          .toDF("loop_id", "local_bid", "global_bid", "missing_below")
          .write.mode("append").format("parquet").saveAsTable(t)
        GlobalBid(next, missing, Seq.empty)
    }
  }

  /** The multi-writer corpus view for batch `gbid`: partitions strictly
    * below it MINUS its frozen missing set, PLUS its compensation set —
    * see [[resolveGlobalBid]]. Collapses to plain `< gbid` when both
    * sets are empty (the no-crash fast path). */
  private def multiCorpusFilter(gbid: Long, missing: Seq[Long],
                                comp: Seq[Long]): Column = {
    val below =
      if (missing.isEmpty) col("ingest_batch") < gbid
      else col("ingest_batch") < gbid && !col("ingest_batch").isin(missing: _*)
    if (comp.isEmpty) below else below || col("ingest_batch").isin(comp: _*)
  }

  /** Bind-or-verify the family's owning loop (round 12). Called with
    * the family [[graft.operators.Fence]] HELD. A meta without the
    * `loop_id` column (batch-save-created, or pre-round-12) is ADOPTED
    * by this loop — the one-row meta is rewritten with the column — so
    * the second-loop refusal protects every family, however it was
    * created. A meta bound to a DIFFERENT loop refuses loudly: its
    * checkpoint-local batch ids would collide with the bound loop's
    * partitions and the retry step's drop-own-partition would clobber
    * them. */
  private def bindLoop(spark: SparkSession, prefix: String, meta: Row,
                       loopId: String): Unit = {
    if (!meta.schema.fieldNames.contains("loop_id")) {
      spark.table(Family.meta(prefix)).localCheckpoint(true)
        .withColumn("loop_id", lit(loopId))
        .write.mode("overwrite").format("parquet").saveAsTable(Family.meta(prefix))
    } else {
      val recorded = meta.getAs[String]("loop_id")
      require(recorded != MultiWriterMarker,
        s"index family '$prefix' is MULTI-WRITER: its partition ids are " +
          "global (assigned through the commits mapping), so a " +
          "single-writer loop's checkpoint-local bids would collide — " +
          "pass multiWriter = true.")
      require(recorded == loopId,
        s"index family '$prefix' is bound to ingest loop '$recorded' but " +
          s"this batch belongs to loop '$loopId': batch ids are " +
          "checkpoint-local, so a second loop on one family reuses bids " +
          "and its drop-own-partition retry would clobber the bound " +
          "loop's partitions. Resume from the bound checkpoint, or — " +
          "after STOPPING the bound loop — hand the family over with " +
          "IngestLoop.rebind (safe only if the new checkpoint continues " +
          "the bound loop's batch-id sequence; anything else requires " +
          "rebuilding the family).")
    }
  }

  /** Verify the family was CREATED multi-writer: a single-loop family's
    * partitions are keyed on that loop's checkpoint-local bids, which a
    * global assignment would collide with — there is deliberately no
    * in-place conversion (rebuild, or keep the single loop). */
  private def bindMulti(prefix: String, meta: Row): Unit = {
    val recorded =
      if (meta.schema.fieldNames.contains("loop_id")) meta.getAs[String]("loop_id")
      else "<none>"
    require(recorded == MultiWriterMarker,
      s"index family '$prefix' is bound to single-writer loop '$recorded': " +
        "its partition ids are that loop's checkpoint-local bids, which " +
        "the multi-writer global assignment would collide with. Keep the " +
        "owning loop (or rebind), or rebuild the family multi-writer.")
  }

  /** Deliberate loop hand-off: rewrite the family's recorded owning
    * loop id under the fence. ONLY safe when the bound loop is stopped
    * AND the new checkpoint continues its batch-id sequence (a restored
    * backup of the same checkpoint, a relocated checkpoint dir) — a
    * fresh checkpoint restarts bids at 0 and its retries would clobber
    * the family's existing partitions. */
  def rebind(spark: SparkSession, prefix: String, newLoopId: String): Unit =
    Fence.withFence(spark, prefix, "rebindLoop") {
      spark.table(Family.meta(prefix)).localCheckpoint(true)
        .withColumn("loop_id", lit(normLoopId(newLoopId)))
        .write.mode("overwrite").format("parquet").saveAsTable(Family.meta(prefix))
    }

  /** Torn-first-batch detection: the first micro-batch creates the index
    * family's tables SEQUENTIALLY, so a crash mid-batch-0 can leave only
    * a strict subset behind. A retry keyed on one table alone would then
    * take the exists=true path and die permanently loading the missing
    * siblings — so existence is decided on ALL of the family's declared
    * data tables plus its meta. The tombstones and commits tables are
    * optional side tables, never probed here: each probe would cost
    * every batch one more catalog call.
    *
    * But a torn batch 0 is NOT the only source of a partial set (the
    * round-9 advisory): a [[graft.operators.Tombstones]] compaction
    * rewrites a family table by drop+recreate, so a crash mid-compaction
    * also leaves the family partial — and auto-dropping the survivors
    * there would discard the ENTIRE accumulated index to re-run one
    * shard as a clean first batch: silent corpus loss. The auto-drop
    * path is therefore reserved for sets that can ONLY be a torn batch
    * 0: no leftover `__compact` table (a crashed compaction always
    * orphans one — the live table can only be missing after the temp
    * write committed) and no surviving table holding rows beyond
    * `ingest_batch` 0. Anything else refuses loudly, naming the tables
    * present/missing and the recovery (the family's `compact*` pass
    * self-heals from the orphaned temp). */
  private def familyExists(spark: SparkSession, prefix: String,
                           kind: Family.Kind): Boolean = {
    val tables = kind.data.map(_.suffix) :+ "meta"
    val present = tables.filter(t => spark.catalog.tableExists(Family.table(prefix, t)))
    if (present.nonEmpty && present.size < tables.size) {
      val missing = tables.filterNot(present.contains)
      val compactLeftovers = tables
        .map(t => Family.compactTemp(Family.table(prefix, t)))
        .filter(spark.catalog.tableExists)
      val beyondBatch0 = present.filter(_ != "meta").filter { t =>
        val df = spark.table(Family.table(prefix, t))
        // any batch other than 0 — including the compaction floor
        // partition (ingest_batch = -1, see compactCc) — proves the
        // family accumulated history and is NOT a torn first batch
        df.columns.contains("ingest_batch") &&
          df.filter(col("ingest_batch") =!= 0).limit(1).count() > 0
      }
      require(compactLeftovers.isEmpty && beyondBatch0.isEmpty,
        s"index family '$prefix' is PARTIAL (present: " +
          s"${present.mkString(", ")}; missing: ${missing.mkString(", ")}) " +
          "but is NOT a torn first batch" +
          (if (compactLeftovers.nonEmpty)
            s" — leftover compaction temp table(s) ${compactLeftovers.mkString(", ")} " +
              "indicate a crashed compaction; re-run the family's " +
              "Tombstones.compact* pass to recover the live table from the temp"
          else
            s" — ${beyondBatch0.mkString(", ")} hold(s) ingest batches other than 0") +
          "; refusing to auto-drop the surviving tables.")
      present.foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${Family.table(prefix, t)}"))
      // a torn FIRST batch may still have recorded its global-bid
      // mapping (resolveGlobalBid runs before the data tables land):
      // a stale commits row against a recreated family would mis-assign
      // partition ids, so the mapping dies with the family
      spark.sql(s"DROP TABLE IF EXISTS ${Family.commits(prefix)}")
      false
    } else present.size == tables.size
  }

  /** The family's one-row meta. A batch reads it ONCE under its fence
    * and hands the row to every check and corpus view that needs it
    * (each read is a single-task Spark job). */
  private def readMeta(spark: SparkSession, prefix: String): Row =
    spark.table(Family.meta(prefix)).head()

  /** Bucket-count agreement between a persisted family and the loop
    * writing into it: appending partitions with a DIFFERENT bucket count
    * than the tables were created with silently breaks the co-location
    * contract every candidate join relies on. Families created before
    * the count was recorded in meta (round 10) pass unchecked. */
  private def requireBucketAgreement(prefix: String, meta: Row,
                                     buckets: Int): Unit = {
    if (meta.schema.fieldNames.contains("buckets")) {
      val persisted = meta.getAs[Int]("buckets")
      require(persisted == buckets,
        s"index family '$prefix' was written with $persisted buckets, the " +
          s"ingest loop is configured with $buckets — appending would break " +
          "the bucketed co-location layout. Use the persisted count.")
    }
  }

  /** One batch of a family loop in flight: the family prefix, the fence
    * owner (`"<loop>Batch bid=N"`, the name a held fence reports) and
    * the batch's job labels. */
  private final class Run(val spark: SparkSession, val prefix: String,
                          val owner: String) {
    /** Label this thread's next Spark jobs `"<owner>: <phase>"` (guide
      * §1.5): the phases of a batch — shard index, append `<table>`,
      * mine, maintain check — are readable in the UI and in perfbench's
      * traced run (`perfbench/run.py --trace 1`) without a debugger. */
    def label(phase: String): Unit =
      spark.sparkContext.setJobDescription(s"$owner: $phase")
  }

  /** Run one batch of a family loop: `body` (the shard, the
    * [[commitBatch]] and, for the pairwise families, the unfenced mine),
    * then the auto-maintenance check ([[maybeMaintain]]). The caller's
    * job description is restored on EVERY exit — a refused batch (a pair
    * budget, a loop-binding refusal) must not leave its phase label on
    * the calling thread, and a batch nested in another's mine (the
    * group-sized containment loop feeding [[ingestCcBatch]]) hands the
    * outer batch its own label back. */
  private def runBatch(spark: SparkSession, prefix: String, owner: String)(
      body: Run => Unit): Unit = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    val run = new Run(spark, prefix, owner)
    try {
      run.label("shard index")
      body(run)
      run.label("maintain check")
      maybeMaintain(spark, prefix)
    } finally sc.setJobDescription(prev)
  }

  /** A batch inside its commit: whether the family existed when it
    * arrived, the family's one-row meta (read once under the fence;
    * null on creation) and the batch's resolved partition identity. */
  private case class Batch(exists: Boolean, meta: Row, g: GlobalBid) {
    def pid: Long = g.gbid
  }

  /** What a batch folds into its family: one frame per data table, in
    * the family's table order, and the meta row a CREATING batch writes
    * (the family's own columns; the commit stamps `loop_id`). */
  private case class Fold(frames: Seq[DataFrame], meta: Option[DataFrame],
                          rows: Seq[Long] = Nil)

  /** THE batch commit — one fenced sequence shared by every family loop,
    * so the fold's safety properties cannot drift between families.
    * `kind` is the family's registry descriptor ([[Family]]): its
    * declared data tables, in order, with their bucket columns; `view`
    * checks the batch's parameters against the family's (the pairwise
    * families compare the fence-read meta row, so no corpus view and no
    * tombstone budget count runs under the fence) and returns what the
    * fold needs (the PQ and SemDeDup models); `fold` is the family's
    * kernel, computed inside the fence. In order:
    *
    *  1. [[familyExists]] decides existence on the family's declared
    *     data tables plus its meta (the torn-first-batch and
    *     compaction-leftover refusals);
    *  2. the meta row is read ONCE and handed to every check and view
    *     below (each read is a single-task Spark job);
    *  3. multi-writer eligibility ([[bindMulti]]) is checked BEFORE the
    *     commits mapping is touched: [[resolveGlobalBid]] creates and
    *     appends to `<prefix>_commits`, and a mistaken multiWriter=true
    *     batch against a single-writer family must be refused without
    *     permanently recording a bogus global-bid mapping (which would
    *     corrupt accounting if the family were later rebuilt under the
    *     same prefix without dropping it);
    *  4. the partition id this batch owns is resolved: checkpoint-local
    *     by default, global via the fenced commits mapping under
    *     multi-writer (resolution runs only there);
    *  5. the family's parameter check (`view`), then bucket agreement
    *     and the single-writer loop binding ([[bindLoop]]);
    *  6. the replay probe, drop and generation bump: a retry first drops
    *     its own half-written partition (corpus partitions are untouched
    *     either way; under multi-writer the replayed mapping pins the
    *     id, so the drop can never hit a foreign partition). A drop that
    *     actually removes files is a REWRITE of an existing partition (a
    *     crash replay), which a concurrent unfenced miner of another
    *     batch could be mid-scan over — so the generation is bumped and
    *     its check re-mines instead of accepting a torn (partially
    *     re-listed) read of this partition. EVERY data table is probed
    *     (round 17): the overlapped appends below mean a crash window
    *     can leave either partition present alone;
    *  7. the family kernel (PQ encode, SemDeDup decide and the
    *     components delta compute INSIDE the fence; the pairwise
    *     families' shards were built before it);
    *  8. the appends, overlapped on side threads ([[Layout.writeAll]]),
    *     with the between-append liveness beacon ([[Fence.heartbeat]]: a
    *     large batch reads as alive, not crashed, to an operator eyeing
    *     forceRelease); all complete before the fence releases, so
    *     assign→append stays atomic;
    *  9. the meta row on creation, stamped with the owning loop id or
    *     [[MultiWriterMarker]] — written LAST, after the data tables;
    *  10. the generation snapshot the unfenced mine re-checks.
    *
    * Fence window (round 14 — narrowed from the whole batch): bid
    * resolution + the batch-local APPEND legs only. The pairwise
    * families' expensive leg — pair mining against the corpus-sized
    * index — runs OUTSIDE the fence ([[mineAndPublish]]), so concurrent
    * loops on ONE family overlap their mining instead of serializing
    * batch-by-batch. Soundness:
    *  - appending the data partition INSIDE the resolve window keeps
    *    assign→append atomic, so "assigned-but-absent" stays a
    *    crash-only state and resolveGlobalBid's frozen missing/
    *    compensation exactly-once argument carries over unchanged;
    *  - every concurrent batch's corpus view reads partitions
    *    STRICTLY BELOW its own global bid, which are already fully
    *    appended by this atomicity — append-only and immutable
    *    outside the compact* and repair* rewrite passes;
    *  - those rewrite passes are exactly what the family GENERATION
    *    (Tombstones.generation, bumped fence-held at rewrite entry)
    *    tracks: the unfenced mine snapshots it here and re-checks it
    *    after publishing (mineAndPublish) — a change proves a rewrite
    *    raced the corpus reads and the mine re-runs against the
    *    settled layout. Compaction is rare; the retry is cheap and
    *    exact. */
  private def commitBatch[V](run: Run, bid: Long, loopId: String,
                             multiWriter: Boolean, buckets: Int,
                             kind: Family.Kind)(
                             view: Batch => V)(fold: (Batch, V) => Fold): (Batch, Long) = {
    import run.{owner, prefix, spark}
    val lid = normLoopId(loopId)
    val tables = kind.tables(prefix)
    Fence.withFence(spark, prefix, owner) {
      val exists = familyExists(spark, prefix, kind)
      val meta = if (exists) readMeta(spark, prefix) else null
      if (exists && multiWriter) bindMulti(prefix, meta)
      val b = Batch(exists, meta,
        if (multiWriter) resolveGlobalBid(spark, prefix, lid, bid, kind.signature(prefix))
        else before(bid))
      val v = view(b)
      if (exists) {
        requireBucketAgreement(prefix, meta, buckets)
        if (!multiWriter) bindLoop(spark, prefix, meta, lid) // bindMulti ran pre-resolve
        val replayed = tables.exists(t => partitionExists(spark, t, b.pid))
        tables.foreach { t =>
          spark.sql(s"ALTER TABLE $t DROP IF EXISTS PARTITION (ingest_batch=${b.pid})")
        }
        if (replayed) Tombstones.bumpGeneration(spark, prefix)
      }
      val f = fold(b, v)
      run.label(s"append ${kind.data.head.suffix}")
      Layout.writeAll(kind.writes(prefix,
        f.frames.map(_.withColumn("ingest_batch", lit(b.pid))), f.rows),
        buckets, "append", () => {
        Fence.heartbeat(spark, prefix, owner)
        run.label(s"append ${kind.data.last.suffix}")
      })
      if (!exists)
        Layout.writeBucketed(Layout.Write(f.meta.get.withColumn("loop_id",
          lit(if (multiWriter) MultiWriterMarker else lid)), Family.meta(prefix), Nil),
          buckets, "overwrite")
      (b, Tombstones.generation(spark, prefix))
    }
  }

  /** The family's data tables, in declared order, as a batch's corpus
    * view reads them: the partitions `g` may see ([[multiCorpusFilter]]
    * — plain `< bid` for a single-writer batch), so a retried batch
    * never sees its own half-written fold, with tombstoned ids gone —
    * the same contract as the family's batch load path. */
  private def live(spark: SparkSession, prefix: String, kind: Family.Kind,
                   g: GlobalBid): Seq[DataFrame] =
    kind.load(spark, prefix, _.filter(g.corpus).drop("ingest_batch"))

  /** Run the unfenced mining leg, then verify under a brief fence
    * re-acquire that the family's layout [[graft.operators.Tombstones.generation]]
    * still equals the append-window snapshot `gen0` — re-mining on
    * mismatch (a compact or repair pass rewrote partitions while the
    * corpus reads were in flight, so the published pairs may reflect a
    * torn read). The check runs AFTER the publish: generation unchanged
    * across [snapshot → reads → publish → check] proves no rewrite
    * overlapped the reads, and a rewrite that starts after the check
    * is the ordinary post-publish compaction case the family contract
    * already covers (pairs are materialized; deletions filter at read).
    * A rewrite pass racing the reads can also surface as a read failure
    * (files dropped mid-scan) — then the micro-batch fails and the
    * checkpoint replays it, which is the same exactness by a slower
    * road. Bounded attempts: maintenance passes are rare; a family
    * compacting continuously enough to starve this loop is an
    * operational fault worth a loud stop.
    *
    * The pairs touching the batch go to the batch's OWN partition
    * directory (overwrite => retry- and re-mine-idempotent), and `mine`
    * re-derives the corpus view per attempt from the fence-read meta
    * row — a BUILDER, not a captured plan: a re-mine after a racing
    * compaction must re-derive the view from the catalog, since the
    * pre-compaction plan pins dropped files (e.g. the cleared tombstone
    * table) and would fail or read torn state. The row itself stays
    * valid: a family's id column and kernel parameters never change.
    *
    * Crash accounting (order flipped round 14: data lands before
    * pairs): a batch that dies between the append window and the pair
    * publish leaves its partition in the index WITHOUT its pairs —
    * exactly the orphan state the replay contract already owns (the
    * checkpoint must replay the bid, or the family be rebuilt; under
    * multi-writer the commits mapping records the debt). Readers see
    * the same eventual consistency as before the flip, mirrored:
    * pre-round-14 a crashed batch could leave pairs whose partitions
    * never landed. */
  private def mineAndPublish(run: Run, gen0: Long)(mine: => Unit): Unit = {
    import run.{owner, prefix, spark}
    run.label("mine")
    var gen = gen0
    var attempts = 0
    var settled = false
    while (!settled) {
      attempts += 1
      require(attempts <= 5,
        s"index family '$prefix' was rewritten (compact*/repair*) under " +
          s"$attempts consecutive mining attempts of '$owner' — pause the " +
          "maintenance cadence; a family compacting continuously cannot " +
          "settle an ingest batch's pair mine.")
      mine
      midMineProbe(prefix)
      // UNFENCED generation read — race-free because the bump is an
      // atomic marker-file create that every rewrite pass commits
      // BEFORE touching a partition (Tombstones.generation): a bump not
      // visible here means its rewrite had not begun when the mine's
      // reads finished, so the published pairs are consistent either
      // way. Pure FS metadata, no job, no fence round-trip per batch.
      val now = Tombstones.generation(spark, prefix)
      if (now == gen) settled = true else gen = now
    }
    mineAttempts.put(prefix, attempts)
  }

  /** AUTO-MAINTENANCE inside the loops (round 15 — the round-14
    * verdict's "nothing triggers maintain" gap): with
    * `spark.graft.maintain.fraction` set, every ingest batch ends with
    * a fence-aware debt check ([[graft.operators.Tombstones.maintain]])
    * that dispatches the family's `compact*` when the tombstone set
    * (or, for the components family, the superseded-row fraction)
    * crosses the threshold — an unattended 100-TB ingestion no longer
    * accumulates deletion debt until an operator remembers the cron.
    * Unset (the default), loops behave exactly as before.
    *
    * Placement and failure contract: the check runs AFTER the batch's
    * publish, outside the append fence (maintain reads thresholds
    * unfenced; the compact* it dispatches takes the fence itself and
    * bumps the generation, so a concurrent loop's unfenced mine
    * re-checks and re-mines — the racing-compaction path the
    * generation test already pins). A HELD fence skips the pass
    * quietly (another writer is mid-window; the next batch retries) —
    * the batch's own work is already committed, so maintenance must
    * not fail a batch it cannot improve. Real compaction failures
    * still surface loudly; the pass self-heals from its temp table on
    * the next trigger.
    *
    * Cost control: the components family's debt metric is a count
    * aggregate over the labels table — O(catalog), not O(batch) — so
    * `spark.graft.maintain.everyBatches` (default 1) lets a deployment
    * amortize the check to every Nth batch per family. */
  private val batchesSinceMaintain =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def maybeMaintain(spark: SparkSession, prefix: String): Unit =
    spark.conf.getOption("spark.graft.maintain.fraction").foreach { f =>
      val every = spark.conf.getOption("spark.graft.maintain.everyBatches")
        .map(_.toInt).getOrElse(1)
      // Keyed by (warehouse, prefix) so unrelated sessions sharing a
      // prefix string never pool counts, and incremented-and-reset in
      // ONE compute so racing loops on a family neither double-trigger
      // nor skip a pass (round-15 advisory): the loop whose increment
      // crosses `every` observes the reset-to-0 result and fires.
      val key = spark.conf.get("spark.sql.warehouse.dir", "") + "\u0000" + prefix
      val fired = batchesSinceMaintain.compute(key, (_, v) => {
        val n = (if (v == null) 0 else v.intValue) + 1
        Int.box(if (n >= every) 0 else n)
      })
      if (fired.intValue == 0) {
        val maxT = spark.conf.getOption("spark.graft.maintain.maxTombstones")
          .map(_.toLong).getOrElse(Tombstones.defaultMaxTombstones)
        try Tombstones.maintain(spark, prefix, f.toDouble, maxT)
        catch { case _: graft.operators.FenceHeldException => () }
      }
    }

  /** Catalog-metadata partition probe (no scan job): SHOW PARTITIONS
    * with an explicit spec returns empty for an absent partition —
    * the per-batch replay detection must not cost a Spark job. */
  private def partitionExists(spark: SparkSession, table: String,
                              pid: Long): Boolean =
    spark.sql(s"SHOW PARTITIONS $table PARTITION (ingest_batch=$pid)")
      .collect().nonEmpty

  /** Test seam: invoked between a mine attempt's publish and its
    * generation check — specs inject a compaction here to prove the
    * check forces a re-mine. No-op in production. Volatile so a
    * spec's assignment is visible to a loop thread, but the probe
    * itself is GLOBAL state: under the concurrent-loop topology (two
    * loops on one family in one JVM — the multi-writer shape SURVEY.md's
    * round-13 record measures) both loops
    * invoke whatever function is installed, so it is a
    * SINGLE-LOOP-TEST-ONLY seam — probes that must not fire for a
    * foreign loop filter on the prefix argument (round-14 advisory). */
  @volatile private[graft] var midMineProbe: String => Unit = _ => ()
  /** Test seam: attempts the last [[mineAndPublish]] took, PER FAMILY
    * PREFIX — keyed so concurrent loops on different families (and the
    * advertised two-loops-one-family topology, whose loops serialize
    * their mines per batch through the same key) never observe each
    * other's attempt counts through a shared mutable field (round-14
    * advisory). */
  private[graft] val mineAttempts =
    new java.util.concurrent.ConcurrentHashMap[String, Int]()
  /** Attempts the last [[mineAndPublish]] on `prefix` took (0 = none). */
  private[graft] def lastMineAttempts(prefix: String): Int =
    mineAttempts.getOrDefault(prefix, 0)

  /** Drive a streaming source through one family's batch function as a
    * checkpointed `foreachBatch` query; the checkpoint location doubles
    * as the loop id the family binds to. */
  private def drive(src: DataFrame, checkpointDir: String, trigger: Trigger)(
      batch: (DataFrame, Long) => Unit): StreamingQuery =
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(batch)
      .start()

  /** The persisted corpus index as of batches STRICTLY BEFORE `bid` —
    * partition-pruned reads of the append-only tables, so a retried
    * batch never sees its own half-written fold. */
  def minhashCorpusBefore(spark: SparkSession, prefix: String,
                          bid: Long): Dedup.MinHashIndex =
    minhashView(spark, prefix, readMeta(spark, prefix), before(bid))

  /** The MinHash corpus view of batch `g` over meta row `m`. Under
    * multi-writer it reads partitions strictly below the global id minus
    * the frozen missing set, plus the compensation set —
    * [[resolveGlobalBid]]'s read contract. Tombstoned docs leave the
    * view immediately — same contract as the batch load path
    * (Dedup.loadMinhashIndex). */
  private def minhashView(spark: SparkSession, prefix: String, m: Row,
                          g: GlobalBid): Dedup.MinHashIndex = {
    val idCol = m.getString(0)
    val Seq(bands, shingles) = live(spark, prefix, Family.MinHash.keyedOn(idCol), g)
    Dedup.MinHashIndex(idCol, shingles, bands, m.getInt(1), m.getInt(2))
  }

  /** One micro-batch of the MinHash ingestion loop (exposed separately so
    * a retry can be replayed deterministically — and tested).
    *
    * `multiWriter = true` (round 13) opts the family into PARALLEL
    * loops on one prefix: the batch's partition id is resolved through
    * the fenced `<prefix>_commits` mapping ([[resolveGlobalBid]] — a
    * replay reuses its mapping, so drop-own-partition can never clobber
    * another loop's partition), the corpus view reads the mapping's
    * frozen below/compensation sets, and the family meta records the
    * multi-writer marker instead of an owning loop. The pair-set
    * contract survives verbatim: each cross pair is emitted exactly
    * once, by the later GLOBAL partition's batch (or by an orphan's
    * replay when the later batch provably never saw it). Concurrent
    * loops should set `spark.graft.fence.waitMs` so an arriving batch
    * WAITS for the fence instead of dying with its streaming query —
    * serialization costs seconds of latency, never an append. The
    * default stays single-writer: one loop per family, enforced. */
  def ingestMinhashBatch(batch: DataFrame, bid: Long, idCol: String,
                         textCol: String, prefix: String, pairsDir: String,
                         threshold: Double, numPerms: Int, rowsPerBand: Int,
                         buckets: Int, loopId: String = "",
                         multiWriter: Boolean = false): Unit =
    runBatch(batch.sparkSession, prefix, s"ingestMinhashBatch bid=$bid") { run =>
      import run.spark.implicits._
      // spread = false (round 16): a micro-batch is shard-sized — the
      // 32-way exchange + checkpoint cost more than the signature kernel
      // saves (see Dedup.minhashIndex; measured on the simhash twin)
      val shard = Dedup.minhashIndex(batch, idCol, textCol, numPerms, rowsPerBand,
        spread = false)
      def corpus(b: Batch): Dedup.MinHashIndex =
        if (!b.exists) Dedup.MinHashIndex(idCol, shard.shingles.limit(0),
          shard.bands.limit(0), numPerms, rowsPerBand)
        else minhashView(run.spark, prefix, b.meta, b.g)
      val (b, gen0) = commitBatch(run, bid, loopId, multiWriter, buckets,
        Family.MinHash.keyedOn(idCol)) { b =>
        if (b.exists) {
          val (p, r) = (b.meta.getInt(1), b.meta.getInt(2))
          require(p == numPerms && r == rowsPerBand,
            s"persisted index family ($p, $r) != loop family ($numPerms, $rowsPerBand)")
        }
      } { (_, _) =>
        Fold(Seq(shard.bands, shard.shingles), Some(Seq((idCol, numPerms, rowsPerBand, buckets))
          .toDF("id_col", "num_perms", "rows_per_band", "buckets")))
      }
      mineAndPublish(run, gen0) {
        Dedup.minhashLshPairsIncremental(shard, corpus(b), threshold)
          .write.mode("overwrite").parquet(s"$pairsDir/ingest_batch=${b.pid}")
      }
    }

  /** Drive a streaming document source through the MinHash ingestion
    * loop. Returns the started query; accumulated pairs live under
    * `pairsDir` (partition column `ingest_batch`), the growing index
    * under the `prefix`_bands/_shingles/_meta tables. The default
    * AvailableNow trigger drains a backlog then stops (the spec/backfill
    * mode); pass e.g. `Trigger.ProcessingTime("1 minute")` for a
    * long-running ingest. */
  def minhashIngest(docs: DataFrame, idCol: String, textCol: String,
                    prefix: String, pairsDir: String, checkpointDir: String,
                    threshold: Double = 0.5, numPerms: Int = 32,
                    rowsPerBand: Int = 4, buckets: Int = 8,
                    trigger: Trigger = Trigger.AvailableNow(),
                    multiWriter: Boolean = false): StreamingQuery =
    drive(docs, checkpointDir, trigger) { (batch, bid) =>
      ingestMinhashBatch(batch, bid, idCol, textCol, prefix, pairsDir,
        threshold, numPerms, rowsPerBand, buckets, loopId = checkpointDir,
        multiWriter = multiWriter)
    }

  /** The persisted sign-LSH corpus as of batches strictly before `bid` —
    * the vector twin of [[minhashCorpusBefore]]. */
  def embedCorpusBefore(spark: SparkSession, prefix: String,
                        bid: Long): Similarity.EmbedIndex =
    embedView(spark, prefix, readMeta(spark, prefix), before(bid))

  /** The sign-LSH corpus view of batch `g` — [[minhashView]]'s vector
    * twin (tombstoned vectors leave it immediately — same contract as
    * the batch load path, Similarity.loadEmbedIndex). */
  private def embedView(spark: SparkSession, prefix: String, m: Row,
                        g: GlobalBid): Similarity.EmbedIndex = {
    val Seq(hashed, vecs) = live(spark, prefix, Family.Embed, g)
    Similarity.EmbedIndex(m.getString(0), vecs, hashed,
      m.getInt(1), m.getInt(2), m.getLong(3), m.getInt(4))
  }

  /** One micro-batch of the embedding (sign-LSH) ingestion loop — same
    * append-only partition design and retry contract as
    * [[ingestMinhashBatch]] (the shared [[commitBatch]], then the
    * unfenced mine).
    *
    * `multiWriter = true` opts the family into PARALLEL loops exactly
    * as the MinHash loop does (round 13): sign-LSH collision is a
    * pairwise predicate too, so [[resolveGlobalBid]]'s exactly-once
    * argument — each cross pair emitted by the later GLOBAL partition,
    * or by an orphan's compensating replay — carries over verbatim. */
  def ingestEmbedBatch(batch: DataFrame, bid: Long, idCol: String,
                       vecCol: String, prefix: String, pairsDir: String,
                       threshold: Double, bitsPerTable: Int, numTables: Int,
                       seed: Long, dim: Int, buckets: Int,
                       loopId: String = "",
                       multiWriter: Boolean = false): Unit =
    runBatch(batch.sparkSession, prefix, s"ingestEmbedBatch bid=$bid") { run =>
      import run.spark.implicits._
      val shard = Similarity.embedIndex(batch, idCol, vecCol,
        bitsPerTable, numTables, seed, dim)
      def corpus(b: Batch): Similarity.EmbedIndex =
        if (!b.exists) Similarity.EmbedIndex(idCol, shard.vecs.limit(0),
          shard.hashed.limit(0), bitsPerTable, numTables, seed, shard.dim)
        else embedView(run.spark, prefix, b.meta, b.g)
      val (b, gen0) = commitBatch(run, bid, loopId, multiWriter, buckets, Family.Embed) { b =>
        if (b.exists) {
          val m = b.meta
          val (bits, tables, sd, dim) = (m.getInt(1), m.getInt(2), m.getLong(3), m.getInt(4))
          require(bits == bitsPerTable && tables == numTables && sd == seed && dim == shard.dim,
            s"persisted LSH family (bits=$bits, tables=$tables, seed=$sd, dim=$dim) != " +
              s"loop family (bits=$bitsPerTable, tables=$numTables, seed=$seed, dim=${shard.dim})")
        }
      } { (_, _) =>
        Fold(Seq(shard.hashed, shard.vecs),
          Some(Seq((idCol, bitsPerTable, numTables, seed, shard.dim, buckets))
            .toDF("id_col", "bits_per_table", "num_tables", "seed", "dim", "buckets")))
      }
      mineAndPublish(run, gen0) {
        Similarity.lshDupPairsIncremental(shard, corpus(b), threshold)
          .write.mode("overwrite").parquet(s"$pairsDir/ingest_batch=${b.pid}")
      }
    }

  /** One micro-batch of the IVF-PQ SERVING-INDEX ingestion loop — the
    * ANN member of the incremental index family (round 9). Batch 0
    * trains the quantizers ([[Similarity.pqIndex]] — coarse levels +
    * codebooks from its bounded hash-ordered sample) and persists them
    * in `prefix`_meta; every later batch ENCODES ITSELF against the
    * frozen model ([[Similarity.encodePq]] — one staged codegen
    * projection, no training, no corpus work) and appends its own
    * `ingest_batch` partition of the cell-bucketed codes table. This is
    * the Faiss ingestion discipline: quantizers train once, shards
    * stream through the encoder; drift is handled by a deliberate
    * retrain, never an implicit refit (which would silently re-key every
    * previously-encoded vector). Retry contract as [[ingestMinhashBatch]]
    * (the shared [[commitBatch]]): the batch's partition is dropped
    * before re-append, and a torn batch 0 (codes without meta) is
    * detected and re-run clean. Serving reads the whole table via
    * [[Similarity.loadPqIndex]] — bucketed on `cell` across partitions,
    * so the ADC join stays co-located.
    *
    * `multiWriter = true` (round 13): parallel encoding loops on one
    * serving index — the SIMPLEST member of the multi-writer family
    * because there is no cross-batch pair contract to keep: batches
    * only encode against the frozen model and append, and serving
    * reads the WHOLE codes table, so [[resolveGlobalBid]]'s frozen
    * missing/compensation sets are irrelevant here. What the mapping
    * still buys is the part that cannot be skipped: collision-free
    * global partition ids, and replay-reuse so one loop's
    * drop-own-partition retry can never clobber another loop's codes.
    * Whichever loop CREATES the family trains the quantizers (under
    * the fence, so creation races serialize); every other batch — any
    * loop — encodes against that frozen model, which is exactly the
    * train-once/stream-encode discipline the single-writer loop has. */
  def ingestPqBatch(batch: DataFrame, bid: Long, idCol: String,
                    vecCol: String, prefix: String, nlist: Int, m: Int,
                    ksub: Int, seed: Long, buckets: Int,
                    loopId: String = "",
                    multiWriter: Boolean = false,
                    assign: Int = 1): Unit =
    runBatch(batch.sparkSession, prefix, s"ingestPqBatch bid=$bid") { run =>
      import run.spark.implicits._
      commitBatch(run, bid, loopId, multiWriter, buckets, Family.Pq) { b =>
        if (!b.exists) None
        else {
          val idx = Similarity.loadPqIndex(run.spark, prefix, b.meta)
          require(idx.idCol == idCol,
            s"persisted PQ index keys on '${idx.idCol}', loop on '$idCol'")
          Some(idx)
        }
      } {
        case (_, Some(idx)) => Fold(Seq(Similarity.encodePq(batch, vecCol, idx)), None)
        case (_, None) =>
          // the creating batch freezes the assignment factor with the
          // quantizers (round 15 — multi-assignment): later batches'
          // encodePq reads it off the loaded index and replicates
          val idx = Similarity.pqIndex(batch, idCol, vecCol, nlist, m, ksub, seed,
            assign = assign)
          Fold(Seq(idx.codes), Some(Seq((idx.idCol, idx.m, idx.ksub, idx.dim, idx.seed,
              idx.coarse.l1.map(_.toSeq).toSeq,
              idx.coarse.l2.map(_.toSeq).toSeq,
              idx.codebooks.map(_.map(_.toSeq).toSeq).toSeq, buckets, idx.assign))
            .toDF("id_col", "m", "ksub", "dim", "seed", "coarse_l1",
              "coarse_l2", "codebooks", "buckets", "assign")))
      }
    }

  /** Drive a streaming embedding source through the IVF-PQ serving-index
    * loop — [[minhashIngest]]'s ANN sibling: the index GROWS with the
    * stream while per-batch work stays O(batch). */
  def pqIngest(vecs: DataFrame, idCol: String, vecCol: String,
               prefix: String, checkpointDir: String, nlist: Int = 16,
               m: Int = 8, ksub: Int = 16, seed: Long = 42L,
               buckets: Int = 8,
               trigger: Trigger = Trigger.AvailableNow(),
               multiWriter: Boolean = false,
               assign: Int = 1): StreamingQuery =
    drive(vecs, checkpointDir, trigger) { (batch, bid) =>
      ingestPqBatch(batch, bid, idCol, vecCol, prefix, nlist, m, ksub,
        seed, buckets, loopId = checkpointDir, multiWriter = multiWriter,
        assign = assign)
    }

  /** One micro-batch of the SEMANTIC-DEDUP ingestion loop — SemDeDup
    * as a curation service: batch 0 clusters itself and persists the
    * decided corpus + frozen cell model
    * ([[graft.operators.Similarity.semIndex]]); every later batch gets
    * first-in-wins keep/drop decisions against the RELOADED index
    * ([[graft.operators.Similarity.semanticDedupIncremental]] — work
    * bounded by the batch's touched cells, budget-enforced) and appends
    * its decided rows as its own `ingest_batch` partition. Retry
    * contract as the family's other loops (the shared [[commitBatch]]):
    * the batch's partition drops before re-append, and the corpus view
    * reads partitions strictly before `bid`, so a half-appended retry
    * neither sees itself nor double-decides.
    *
    * DELIBERATELY SINGLE-WRITER (round 13, while the pairwise families
    * gained `multiWriter`): SemDeDup's keep/drop decision is
    * FIRST-IN-WINS — an ORDER-dependent function of the corpus view,
    * not a pairwise predicate. Under the multi-writer read contract an
    * orphaned batch's replay would re-decide against a compensation
    * view that differs from any serial order (two batches could each
    * keep a doc the other's view said to drop, or both drop docs whose
    * keeps were in the partitions neither saw), so union-of-loops ==
    * some serial run simply does not hold. The single-writer loop's
    * total batch order IS the semantic; parallel arrival fans in
    * through the landing directory, not through parallel deciders. */
  def ingestSemBatch(batch: DataFrame, bid: Long, idCol: String,
                     vecCol: String, prefix: String, threshold: Double,
                     nlist: Int, seed: Long, maxPairs: Long,
                     buckets: Int, loopId: String = ""): Unit =
    runBatch(batch.sparkSession, prefix, s"ingestSemBatch bid=$bid") { run =>
      import run.spark.implicits._
      commitBatch(run, bid, loopId, multiWriter = false, buckets, Family.Sem) { b =>
        if (!b.exists) None
        else {
          val idx0 = Similarity.loadSemIndex(run.spark, prefix, b.meta)
          require(idx0.idCol == idCol,
            s"persisted sem index keys on '${idx0.idCol}', loop on '$idCol'")
          Some(idx0)
        }
      } {
        case (b, Some(idx0)) =>
          val idx = idx0.copy(docs = idx0.docs.filter(col("ingest_batch") < b.pid))
          Fold(Seq(Similarity.semanticDedupIncremental(batch, vecCol, idx, maxPairs)), None)
        case (_, None) =>
          val idx = Similarity.semIndex(
            batch, idCol, vecCol, threshold, nlist, seed, maxPairs = maxPairs)
          Fold(Seq(idx.docs), Some(Seq((idx.idCol, idx.threshold, idx.seed,
              idx.coarse.l1.map(_.toSeq).toSeq, idx.coarse.l2.map(_.toSeq).toSeq,
              buckets))
            .toDF("id_col", "threshold", "seed", "coarse_l1", "coarse_l2", "buckets")))
      }
    }

  /** Drive a streaming embedding source through the semantic-dedup
    * curation loop: the decided corpus (keep/drop + canonical per doc)
    * GROWS with the stream while per-batch work stays O(batch). */
  def semIngest(vecs: DataFrame, idCol: String, vecCol: String,
                prefix: String, checkpointDir: String, threshold: Double,
                nlist: Int = -1, seed: Long = 42L,
                maxPairs: Long = 1000000000L, buckets: Int = 8,
                trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    drive(vecs, checkpointDir, trigger) { (batch, bid) =>
      ingestSemBatch(batch, bid, idCol, vecCol, prefix, threshold, nlist,
        seed, maxPairs, buckets, loopId = checkpointDir)
    }

  /** One micro-batch of streaming ANN QUERY SERVING — [[pqIngest]]'s
    * read-side twin: answer a batch of query vectors against the
    * persisted IVF-PQ index and append the top-k to `resultsTable`,
    * partitioned by `serve_batch`. The index is RELOADED per batch, so
    * ingest partitions appended and [[graft.operators.Tombstones]]
    * deletes committed between batches take effect on the next answer —
    * the serving loop and the ingestion loop compose against the same
    * catalog tables with no coordination beyond them. `vectors` supplies
    * the exact embeddings for the bounded refine re-score (the base
    * table at cluster scale). Retry contract: the batch's result
    * partition is dropped before re-append, so redelivery is
    * idempotent. */
  def servePqBatch(batch: DataFrame, bid: Long, idCol: String,
                   vecCol: String, prefix: String, vectors: DataFrame,
                   resultsTable: String, k: Int, nprobe: Int,
                   refine: Int): Unit = {
    val spark = batch.sparkSession
    if (spark.catalog.tableExists(resultsTable))
      spark.sql(s"ALTER TABLE $resultsTable DROP IF EXISTS PARTITION (serve_batch=$bid)")
    val idx = Similarity.loadPqIndex(spark, prefix)
    Similarity
      .ivfPqTopK(idx, vectors, batch, idCol, vecCol, k, nprobe, refine)
      .withColumn("serve_batch", lit(bid))
      .write.mode("append").format("parquet")
      .partitionBy("serve_batch").saveAsTable(resultsTable)
  }

  /** Drive a stream of query vectors through [[servePqBatch]] — the
    * long-running ANN answering service over a [[pqIngest]]-grown (or
    * [[graft.operators.Similarity.savePqIndex]]-persisted) index. */
  def pqServe(queries: DataFrame, idCol: String, vecCol: String,
              prefix: String, vectors: DataFrame, resultsTable: String,
              checkpointDir: String, k: Int = 10, nprobe: Int = 4,
              refine: Int = 4,
              trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    drive(queries, checkpointDir, trigger) { (batch, bid) =>
      servePqBatch(batch, bid, idCol, vecCol, prefix, vectors,
        resultsTable, k, nprobe, refine)
    }

  /** The persisted duplicate-components view as of batches strictly
    * before `bid` — LATEST-BATCH-WINS per node: each appended delta
    * supersedes the touched ids' earlier rows, so the view is always
    * the exact fixpoint labeling over every edge seen so far (the
    * invariant [[Dedup.connectedComponentsIncremental]] requires of its
    * input). The labels table is bucketed on `id`, so the per-id window
    * reads exchange-free. */
  def ccComponentsBefore(spark: SparkSession, prefix: String,
                         bid: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    spark.table(Family.Components.signature(prefix)).filter(col("ingest_batch") < bid)
      .withColumn("__rn", row_number().over(
        Window.partitionBy("id").orderBy(col("ingest_batch").desc)))
      .filter(col("__rn") === 1)
      .select(col("id"), col("component"))
  }

  /** The current persisted components catalog (all batches folded). */
  def ccComponents(spark: SparkSession, prefix: String): DataFrame =
    ccComponentsBefore(spark, prefix, Long.MaxValue)

  /** One micro-batch of the CONNECTED-COMPONENTS ingestion loop (round
    * 12) — the group-sized consumer's member of the incremental family:
    * the stream carries duplicate-pair shards (any of the incremental
    * pair miners' outputs), and the persisted `<prefix>_labels` table
    * accumulates the component catalog. Batch 0 runs batch CC over its
    * own pairs; every later batch computes ONLY the delta
    * ([[Dedup.connectedComponentsIncremental]] `deltaOnly` — members of
    * touched components + the shard's new nodes) against the
    * latest-wins view of batches before it, and appends that delta as
    * its own `ingest_batch` partition: per-shard work tracks touched
    * components, the corpus-sized catalog is NEVER rewritten, and reads
    * fold the deltas by [[ccComponentsBefore]]'s later-batch-wins rule.
    * Same retry contract as the other loops (drop-own-partition before
    * re-append; corpus view reads `< bid`), same fence, same loop
    * binding.
    *
    * DELETION: this family deliberately has NO tombstone path. Labels
    * are DERIVED state — removing a node can SPLIT a component (edges
    * through it vanish), which a label table cannot express without the
    * edge set; a label-only "compact" would silently keep severed
    * members merged. Delete from the UPSTREAM pair/index families
    * (their tombstones already hide dead ids from every pair source)
    * and re-derive the touched components from the surviving pairs —
    * derived state is re-derived, never patched: [[repairCc]] (round
    * 13) is that entry point, re-running CC over only the touched
    * components' surviving edges and folding the corrected catalog
    * into the floor partition.
    *
    * DELIBERATELY SINGLE-WRITER (round 13, while the pairwise families
    * gained `multiWriter`): each delta is computed against the
    * latest-wins fold of every partition before it and then SUPERSEDES
    * those rows — a stateful read-modify-write, not a pairwise
    * predicate. Under the multi-writer contract an orphan's replay
    * would fold its delta against a view that already contains LATER
    * batches' labels (its compensation set), and the per-id
    * later-batch-wins rule would then let the orphan's stale labels
    * overwrite newer merges for ids both touched — the catalog would
    * no longer be the fixpoint over the union of edges. Edges from
    * parallel miners fan IN through one pair stream; the single loop's
    * total order is what makes each delta's supersession sound.
    *
    * THE MIN-FOLD ROUTE FAILS TOO (round 14 — the investigated
    * alternative): replacing latest-wins with a per-id MIN(component)
    * merge looks attractive because true min-labels only DECREASE
    * under append-only edge arrival (merges only; splits route through
    * [[repairCc]]), so the fold itself is commutative and idempotent
    * and orphan replays would need no compensation sets. But
    * commutativity of the VALUES does not buy the FIXPOINT property
    * the read contract promises. Counterexample: loops A and B run in
    * parallel against the same empty family; A's batch carries edge
    * (1, 5) and appends {5 → 1}; B's batch carries edge (5, 9) and —
    * its view not containing A's unpublished delta — appends
    * {5 → 5, 9 → 5}. The min-fold reads {5 → 1, 9 → 5}: node 9's
    * label points at a node whose own label is smaller. That is a
    * label CHAIN, not a labeling — every consumer (canonical-survivor
    * selection, component joins) would treat 5 and 9 as different
    * components though the edge union connects them. Repairing at read
    * time means iterating label-of-label to fixpoint, and the chain
    * depth grows with the number of interleaved batches — unbounded
    * pointer-chasing on the corpus-sized catalog per read, which is
    * the cost the incremental design exists to avoid. The sequential
    * loop needs NO propagation at read time precisely because each
    * delta is computed against the already-settled view: supersession
    * collapses chains at write time, where the work is delta-sized.
    * Multi-writer CC therefore stays out; parallelism belongs on the
    * pair-mining side (which IS multi-writer), fanning edges into this
    * one loop. */
  def ingestCcBatch(pairs: DataFrame, bid: Long, aCol: String, bCol: String,
                    prefix: String, buckets: Int,
                    loopId: String = ""): Unit =
    runBatch(pairs.sparkSession, prefix, s"ingestCcBatch bid=$bid") { run =>
      import run.spark.implicits._
      // per-CC-round liveness beacon (round 13): the incremental run is
      // this batch's long leg — several corpus-touching rounds with no
      // other fence activity, which read as "holder silent" to an
      // operator eyeing forceRelease. Each round stamps the fence.
      val beat = () => Fence.heartbeat(run.spark, prefix, run.owner)
      commitBatch(run, bid, loopId, multiWriter = false, buckets,
        Family.Components)(_ => ()) { (b, _) =>
        if (!b.exists)
          Fold(Seq(Dedup.connectedComponents(pairs, aCol, bCol, onRound = beat)),
            Some(Seq(("id", buckets)).toDF("id_col", "buckets")))
        else
          Fold(Seq(Dedup.connectedComponentsIncremental(
            ccComponentsBefore(run.spark, prefix, b.pid), pairs, aCol, bCol,
            deltaOnly = true, onRound = beat)), None)
      }
    }

  /** Fold the components family's delta log (round 13 — the LSM fold
    * half [[ingestCcBatch]]'s append half requires): each appended
    * delta carries the FULL member list of every component it touched,
    * so a hot component (a big quote cluster most shards graze)
    * re-appends its entire membership per batch — superseded rows
    * accumulate without bound and every [[ccComponentsBefore]] read
    * re-pays the per-id latest-wins window over all of them. This pass
    * materializes the latest-wins snapshot once and rewrites the table
    * as a single FLOOR partition, `ingest_batch = -1`, preserving the
    * id bucketing (the exchange-free window/read contract).
    *
    * Why the floor sits BELOW every real bid instead of at the max
    * folded bid: the loop's retry contract drops the batch's OWN
    * partition before re-appending, so folding the corpus into the max
    * bid's partition would let a crash-window replay of that batch
    * (committed to the table but not yet to the checkpoint) DROP the
    * entire folded catalog. At -1 the floor is invisible to every
    * drop-own-partition (bids are >= 0), included by every `< bid`
    * corpus view, and superseded per-id by any delta — including a
    * replayed one, whose re-propagation against the folded view is
    * idempotent (its edges are already folded in, so the delta carries
    * the same labels). The loop's bid sequence continues untouched.
    *
    * Crash recovery: the same two-write temp-table shape as
    * [[graft.operators.Tombstones]]' compactions (`rewriteThroughTemp`,
    * shared through [[foldCc]]) — a leftover
    * `__compact` temp with the live table missing restores it; with
    * the live table present it is stale and dropped. Holds the family
    * [[graft.operators.Fence]] for the duration: an ingest batch
    * arriving mid-fold refuses (or waits, under
    * `spark.graft.fence.waitMs`) and replays — never a lost append.
    * Run it from [[graft.operators.Tombstones.maintain]], which
    * triggers on the superseded-row fraction. */
  def compactCc(spark: SparkSession, prefix: String, buckets: Int = -1): Unit =
    foldCc(spark, prefix, buckets, "compactCc")(ccComponents(spark, prefix))

  /** Re-derive the persisted components catalog after UPSTREAM
    * deletions (round 13 — the entry point [[ingestCcBatch]]'s
    * no-tombstone rule documents): sweep the dead ids from the
    * upstream pair/index families first (their tombstones hide them
    * from every pair source immediately), then call this with those
    * ids and the surviving pair listing. [[Dedup.ccRepair]] re-runs CC
    * over only the touched components' surviving edges — deletions
    * that SPLIT a component get fresh labels, severed members and the
    * dead ids leave the catalog — and the result is folded into the
    * single floor partition exactly as [[compactCc]] does (a repair IS
    * a compaction with a corrected snapshot; the same crash recovery
    * and replay-idempotence arguments apply verbatim).
    *
    * Run it as maintenance, like compaction: if the owning loop's
    * UNCOMMITTED last batch replays edges mined BEFORE the upstream
    * sweep, a dead id could transiently re-enter the catalog until the
    * next repair — drain or stop the loop for the maintenance window
    * (the fence serializes the writes either way; this caveat is about
    * the pair STREAM's content, which no fence can rewrite). */
  def repairCc(spark: SparkSession, prefix: String,
               deletedIds: DataFrame, idCol: String,
               survivingPairs: DataFrame, aCol: String, bCol: String,
               buckets: Int = -1): Unit =
    foldCc(spark, prefix, buckets, "repairCc")(Dedup.ccRepair(
      ccComponents(spark, prefix), survivingPairs, aCol, bCol, deletedIds, idCol))

  /** The components family's fold behind [[compactCc]] and [[repairCc]]:
    * under the family fence, bump the generation first (layout rewrite:
    * see Tombstones.generation — the bump-first contract), then replace
    * the labels table with `catalog` as the single floor partition
    * `ingest_batch = -1` through [[Tombstones.rewriteThroughTemp]] (its
    * crash recovery; `catalog` is computed after it, against the
    * restored table), heartbeating between the two writes. */
  private def foldCc(spark: SparkSession, prefix: String, buckets: Int,
                     owner: String)(catalog: => DataFrame): Unit =
    Fence.withFence(spark, prefix, owner) {
      Tombstones.bumpGeneration(spark, prefix)
      val b = if (buckets > 0) buckets else readMeta(spark, prefix).getAs[Int]("buckets")
      Tombstones.rewriteThroughTemp(spark, Family.Components.signature(prefix), b,
        Family.Components.data.head.bucketCols,
        () => Fence.heartbeat(spark, prefix, owner))(
        catalog.withColumn("ingest_batch", lit(-1L)))
    }

  /** Drive a streaming pair source (duplicate edges) through the
    * components ingestion loop — the catalog GROWS with the stream
    * while per-shard work stays O(touched components). */
  def ccIngest(pairs: DataFrame, aCol: String, bCol: String,
               prefix: String, checkpointDir: String, buckets: Int = 8,
               trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    drive(pairs, checkpointDir, trigger) { (batch, bid) =>
      ingestCcBatch(batch, bid, aCol, bCol, prefix, buckets,
        loopId = checkpointDir)
    }

  /** Drive a streaming embedding source through the sign-LSH ingestion
    * loop — the vector twin of [[minhashIngest]]. `dim` must be passed
    * explicitly: a streaming frame cannot be probed for it at plan
    * time. */
  def embedIngest(vecs: DataFrame, idCol: String, vecCol: String, dim: Int,
                  prefix: String, pairsDir: String, checkpointDir: String,
                  threshold: Double = 0.9, bitsPerTable: Int = 10,
                  numTables: Int = 8, seed: Long = 42L, buckets: Int = 8,
                  trigger: Trigger = Trigger.AvailableNow(),
                  multiWriter: Boolean = false): StreamingQuery =
    drive(vecs, checkpointDir, trigger) { (batch, bid) =>
      ingestEmbedBatch(batch, bid, idCol, vecCol, prefix, pairsDir,
        threshold, bitsPerTable, numTables, seed, dim, buckets,
        loopId = checkpointDir, multiWriter = multiWriter)
    }

  /** The persisted SimHash corpus as of batches strictly before `bid` —
    * [[minhashCorpusBefore]]'s 64-bit-signature twin. */
  def simhashCorpusBefore(spark: SparkSession, prefix: String,
                          bid: Long): Dedup.SimHashIndex =
    simhashView(spark, prefix, readMeta(spark, prefix), before(bid))

  /** The SimHash corpus view of batch `g` — [[minhashView]]'s twin. */
  private def simhashView(spark: SparkSession, prefix: String, m: Row,
                          g: GlobalBid): Dedup.SimHashIndex = {
    val idCol = m.getString(0)
    Dedup.SimHashIndex(idCol, live(spark, prefix, Family.SimHash.keyedOn(idCol), g).head)
  }

  /** One micro-batch of the SIMHASH ingestion loop (round 15 — the
    * round-14 verdict's loop-completeness task): the family had a
    * persisted index, an incremental miner and a compaction, but a
    * landing-path user had to hand-roll the fence/meta/partition
    * discipline this loop encodes. Same append-only partition design,
    * retry contract, narrow fence window, and generation check as
    * [[ingestMinhashBatch]] — the shared [[commitBatch]] and
    * [[mineAndPublish]] (chunk-bucket collision is a PAIRWISE
    * predicate — Hamming is symmetric — so the pair-set contract and
    * [[resolveGlobalBid]]'s multi-writer exactly-once argument carry
    * over verbatim). */
  def ingestSimhashBatch(batch: DataFrame, bid: Long, idCol: String,
                         textCol: String, prefix: String, pairsDir: String,
                         maxHamming: Int, buckets: Int,
                         loopId: String = "",
                         multiWriter: Boolean = false): Unit =
    // spread = false (round 16): batch-sized input — measured q134
    // 7.3 -> ~4.7 s with the shard spread off (exchange dominated)
    ingestChunkedBatch(Dedup.simhashIndex(batch, idCol, textCol, spread = false),
      batch.sparkSession, bid, idCol, prefix, pairsDir, maxHamming, buckets,
      loopId, multiWriter, s"ingestSimhashBatch bid=$bid")

  /** One micro-batch of the SIGNATURE ingestion loop — the MEDIA
    * landing path (round 15): the perceptual fingerprints (image dHash,
    * audio spectral afp, video frame hashes folded upstream) are
    * already 64-bit signatures, and [[Dedup.signatureIndex]] emits the
    * SAME chunked geometry the simhash family persists — so a media
    * corpus gets the full incremental family (append-only partitions,
    * tombstones, `compactSimhash`, multi-writer) by reusing every piece
    * of it; only the shard construction differs (a precomputed `sigCol`
    * instead of text shingling). The Hamming ≤ 3 pigeonhole recall
    * bound carries: it depends only on the signature being 64 bits. */
  def ingestSignatureBatch(batch: DataFrame, bid: Long, idCol: String,
                           sigCol: String, prefix: String, pairsDir: String,
                           maxHamming: Int, buckets: Int,
                           loopId: String = "",
                           multiWriter: Boolean = false): Unit =
    ingestChunkedBatch(Dedup.signatureIndex(batch, idCol, sigCol),
      batch.sparkSession, bid, idCol, prefix, pairsDir, maxHamming, buckets,
      loopId, multiWriter, s"ingestSignatureBatch bid=$bid")

  /** The shared chunked-family batch body behind [[ingestSimhashBatch]]
    * and [[ingestSignatureBatch]] — identical persisted geometry, so
    * one fold serves both shard builders. The shard is passed by name,
    * so it is built under the batch's "shard index" label. */
  private def ingestChunkedBatch(shardOf: => Dedup.SimHashIndex,
                                 spark: SparkSession, bid: Long,
                                 idCol: String, prefix: String,
                                 pairsDir: String, maxHamming: Int,
                                 buckets: Int, loopId: String,
                                 multiWriter: Boolean, owner: String): Unit =
    runBatch(spark, prefix, owner) { run =>
      import spark.implicits._
      val shard = shardOf
      def corpus(b: Batch): Dedup.SimHashIndex =
        if (!b.exists) Dedup.SimHashIndex(idCol, shard.chunked.limit(0))
        else simhashView(spark, prefix, b.meta, b.g)
      val (b, gen0) = commitBatch(run, bid, loopId, multiWriter, buckets,
        Family.SimHash.keyedOn(idCol)) { b =>
        if (b.exists) {
          val keyed = b.meta.getString(0)
          require(keyed == idCol, s"persisted SimHash family keys on '$keyed', loop on '$idCol'")
        }
      } { (_, _) =>
        Fold(Seq(shard.chunked), Some(Seq((idCol, buckets)).toDF("id_col", "buckets")))
      }
      mineAndPublish(run, gen0) {
        Dedup.simhashPairsIncremental(shard, corpus(b), maxHamming)
          .write.mode("overwrite").parquet(s"$pairsDir/ingest_batch=${b.pid}")
      }
    }

  /** Drive a streaming signature source (precomputed 64-bit
    * fingerprints — the media codec stages' output) through the
    * signature ingestion loop: the media landing path. */
  def signatureIngest(sigs: DataFrame, idCol: String, sigCol: String,
                      prefix: String, pairsDir: String, checkpointDir: String,
                      maxHamming: Int = 3, buckets: Int = 8,
                      trigger: Trigger = Trigger.AvailableNow(),
                      multiWriter: Boolean = false): StreamingQuery =
    drive(sigs, checkpointDir, trigger) { (batch, bid) =>
      ingestSignatureBatch(batch, bid, idCol, sigCol, prefix, pairsDir,
        maxHamming, buckets, loopId = checkpointDir,
        multiWriter = multiWriter)
    }

  /** Drive a streaming document source through the SimHash ingestion
    * loop — [[minhashIngest]]'s 64-bit-signature sibling. */
  def simhashIngest(docs: DataFrame, idCol: String, textCol: String,
                    prefix: String, pairsDir: String, checkpointDir: String,
                    maxHamming: Int = 3, buckets: Int = 8,
                    trigger: Trigger = Trigger.AvailableNow(),
                    multiWriter: Boolean = false): StreamingQuery =
    drive(docs, checkpointDir, trigger) { (batch, bid) =>
      ingestSimhashBatch(batch, bid, idCol, textCol, prefix, pairsDir,
        maxHamming, buckets, loopId = checkpointDir,
        multiWriter = multiWriter)
    }

  /** The persisted containment corpus as of batches strictly before
    * `bid` — [[minhashCorpusBefore]]'s quote/excerpt twin (internal id
    * column is the normalized `id`). */
  def containmentCorpusBefore(spark: SparkSession, prefix: String,
                              bid: Long): Dedup.ContainmentIndex =
    containmentView(spark, prefix, readMeta(spark, prefix), before(bid))

  /** The containment corpus view of batch `g` over meta row `m`. */
  private def containmentView(spark: SparkSession, prefix: String, m: Row,
                              g: GlobalBid): Dedup.ContainmentIndex = {
    val Seq(posting, base) = live(spark, prefix, Family.Containment, g)
    Dedup.ContainmentIndex(m.getString(0), m.getInt(1), base, posting)
  }

  /** One micro-batch of the CONTAINMENT (quote/excerpt) ingestion loop
    * (round 15): same design as [[ingestSimhashBatch]]. Containment
    * candidates are DETERMINISTIC-COMPLETE (any pair sharing ≥ 1
    * shingle), a pairwise predicate over the two docs' shingle sets —
    * so the pair-set contract (each shard-touching ORDERED pair emitted
    * exactly once, by the later id's batch, both directions scored by
    * that batch's verify) and the multi-writer compensation argument
    * carry over verbatim. The batch's pair publish is budget-guarded
    * inside the miner ([[Dedup.containmentJoinIncremental]]) exactly as
    * in batch mode. */
  def ingestContainmentBatch(batch: DataFrame, bid: Long, idCol: String,
                             textCol: String, prefix: String, pairsDir: String,
                             tau: Double, n: Int, buckets: Int,
                             maxCandidates: Long = 1000000000L,
                             loopId: String = "",
                             multiWriter: Boolean = false,
                             groupsPrefix: String = ""): Unit = {
    require(groupsPrefix.isEmpty || !multiWriter,
      "group-sized emission composes the components family, which is " +
        "single-writer by necessity (see ingestCcBatch): run multiple " +
        "PAIR-mode containment loops with multiWriter=true and fan their " +
        "pair streams into one ccIngest loop instead")
    runBatch(batch.sparkSession, prefix, s"ingestContainmentBatch bid=$bid") { run =>
      import run.spark.implicits._
      // SPREAD THE BATCH before corpus-sized work (round 16 — found by
      // the ingest-loop drive on the 100-clone fixture, whose round-15
      // per-batch rungs are in BASELINE.md): a landing micro-batch is
      // typically ONE file = ONE partition, and the mine's candidate join + count
      // aggregate inherit that partitioning on the shard side — on a
      // clone-heavy batch the whole within-batch pair mass then runs in a
      // single task. One shard-sized hash repartition on the id restores
      // cluster-wide parallelism for everything downstream.
      // the base's staging observes the shard tables' row counts, which
      // let the family append write them from one task when small
      val (shard, shardRows) = Dedup.sizedContainmentIndex(
        batch.repartition(col(idCol)), idCol, textCol, n, Staging.Local, spread = true)
      def corpus(b: Batch): Dedup.ContainmentIndex =
        if (!b.exists) Dedup.ContainmentIndex(idCol, n,
          shard.base.limit(0), shard.posting.limit(0))
        else containmentView(run.spark, prefix, b.meta, b.g)
      val (b, gen0) = commitBatch(run, bid, loopId, multiWriter, buckets,
        Family.Containment) { b =>
        if (b.exists) {
          val persisted = b.meta.getInt(1)
          require(persisted == n,
            s"persisted containment family has shingle width n=$persisted, " +
              s"loop has n=$n — mismatched shingle families silently miss overlaps")
        }
      } { (_, _) =>
        Fold(Seq(shard.posting, shard.base),
          Some(Seq((idCol, n, buckets)).toDF("id_col", "n", "buckets")), shardRows)
      }
      mineAndPublish(run, gen0) {
        if (groupsPrefix.nonEmpty)
          // GROUP-SIZED emission (round 16): the batch's qualifying pairs
          // never materialize as a listing — the undirected component
          // edges feed the persisted components family directly, so the
          // durable per-batch output is the labels DELTA (O(touched
          // components)), not Theta(k·shard) pair rows. Replay-safe: a
          // re-publish after a generation bump (or a crash-window batch
          // replay) re-enters ingestCcBatch with the same bid, whose
          // drop-own-partition contract makes the delta idempotent.
          ingestCcBatch(
            Dedup.containmentEdgesIncremental(shard, corpus(b), tau, maxCandidates),
            b.pid, "u", "v", groupsPrefix, buckets, loopId = loopId)
        else
          Dedup.containmentJoinIncremental(shard, corpus(b), tau, maxCandidates)
            .write.mode("overwrite").parquet(s"$pairsDir/ingest_batch=${b.pid}")
      }
    }
  }

  /** Drive a streaming document source through the containment
    * ingestion loop — [[minhashIngest]]'s quote/excerpt sibling. */
  /** `groupsPrefix` (round 16) switches the loop to GROUP-SIZED
    * emission for clone-heavy landing regimes: instead of a pair
    * listing under `pairsDir` (inherently Θ(pair mass) per batch —
    * the q103 caveat), each batch's mined component edges feed
    * [[ingestCcBatch]] on the `groupsPrefix` components family, whose
    * labels table IS the loop's durable output (read it with
    * [[ccComponents]]). Incompatible with `multiWriter` — the
    * components family is single-writer by necessity; parallel miners
    * fan pairs into ONE ccIngest loop instead (OPERATIONS.md). */
  def containmentIngest(docs: DataFrame, idCol: String, textCol: String,
                        prefix: String, pairsDir: String, checkpointDir: String,
                        tau: Double = 0.5, n: Int = 3, buckets: Int = 8,
                        maxCandidates: Long = 1000000000L,
                        trigger: Trigger = Trigger.AvailableNow(),
                        multiWriter: Boolean = false,
                        groupsPrefix: String = ""): StreamingQuery =
    drive(docs, checkpointDir, trigger) { (batch, bid) =>
      ingestContainmentBatch(batch, bid, idCol, textCol, prefix, pairsDir,
        tau, n, buckets, maxCandidates, loopId = checkpointDir,
        multiWriter = multiWriter, groupsPrefix = groupsPrefix)
    }
}
