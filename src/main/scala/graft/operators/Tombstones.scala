package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion support for the persisted incremental index families
  * (MinHash / SimHash / containment / sign-LSH / IVF-PQ) — the LSM
  * discipline: a delete NEVER rewrites a corpus-scale bucketed table.
  * Instead the family keeps a `<prefix>_tombstones` side table of
  * deleted ids; every `load*Index` call anti-joins its id-bearing
  * frames against it (broadcast — the probe side keeps its bucketed
  * partitioning, so the co-located candidate joins stay exchange-free
  * on the corpus side), and a periodic [[compactMinhash]]-family pass
  * folds the tombstones into a physical rewrite and clears them. At
  * 100 TB this is the only viable shape: deletion requests arrive
  * continuously and are tiny relative to the corpus; rewriting a
  * petabyte-scale codes/bands table per delete batch is not a plan.
  *
  * Semantics: a tombstoned id is invisible to every consumer of the
  * loaded index (serving, incremental pair mining, streaming gates)
  * from the moment [[add]] commits, including rows a replayed or later
  * ingest batch re-appends for that id; compaction makes the deletion
  * physical and resets the tombstone set. The tombstone set must stay
  * broadcast-sized between compactions — the compaction cadence
  * contract, mirroring Delta/Iceberg delete-vector practice — and
  * [[filter]] ENFORCES it (round 10): a set past `maxTombstones` rows
  * refuses loudly naming the family's `compact*` as the remedy instead
  * of OOMing the broadcast. */
object Tombstones {

  /** Row budget for the broadcast anti-join side: ~80 MB of raw ids at
    * the default, ~3-4x that as a built broadcast hash relation — inside
    * executor headroom everywhere we run, and far past the point a
    * compaction is overdue. */
  val defaultMaxTombstones: Long = 10000000L

  def table(prefix: String): String = Family.tombstones(prefix)

  /** Record `ids` (any single-keyed frame; `idCol` names the key) as
    * deleted for the `prefix` family. Append-only and idempotent in
    * effect: duplicate ids across calls are collapsed by the distinct
    * in [[filter]].
    *
    * Holds the family's writer [[Fence]] (round 12 — the advisor's
    * lost-deletion window): `compact*` snapshots the tombstone set via
    * its anti-join rewrites and then drops the whole table at the end,
    * so a deletion committed mid-compaction (after a table's rewrite
    * snapshot, before the clear) would be silently dropped WITHOUT
    * being folded — the deleted id resurrects in every subsequent load.
    * Fenced, an add arriving mid-compaction refuses loudly instead
    * (retry after the pass — seconds of availability, never a lost
    * delete), exactly the ingest-batch discipline. */
  def add(ids: DataFrame, idCol: String, prefix: String): Unit =
    Fence.withFence(ids.sparkSession, prefix, "tombstoneAdd") {
      addUnfenced(ids, idCol, prefix)
    }

  private def addUnfenced(ids: DataFrame, idCol: String, prefix: String): Unit =
    ids.select(col(idCol).as("id")).distinct()
      .write.mode("append").format("parquet").saveAsTable(table(prefix))

  /** The family's tombstoned ids, if any exist. */
  def ids(spark: SparkSession, prefix: String): Option[DataFrame] =
    if (spark.catalog.tableExists(table(prefix))) Some(spark.table(table(prefix)))
    else None

  /** Anti-join `df` against the family's tombstone set — identity when
    * the family has none. Broadcast by construction: the tombstone side
    * is the (small) deletion set, and a broadcast anti-join preserves
    * the probe side's (bucketed) output partitioning, so downstream
    * candidate joins keep reading the corpus co-located. The broadcast
    * size contract is enforced, not assumed: past `maxTombstones` raw
    * rows (a conservative bound on the post-distinct broadcast) the
    * load refuses loudly — the remedy is the family's `compact*` pass,
    * which folds the deletions into the tables and clears the set. */
  def filter(df: DataFrame, idCol: String, prefix: String,
             maxTombstones: Long = defaultMaxTombstones): DataFrame =
    antiJoin(df, idCol, budgeted(df.sparkSession, prefix, maxTombstones))

  /** The family's tombstone set, if any, once it has passed
    * [[filter]]'s broadcast budget check: read and counted once, so a
    * multi-table load anti-joins every table with one checked set
    * ([[antiJoin]]) instead of re-counting it per table. */
  private[graft] def budgeted(spark: SparkSession, prefix: String,
                              maxTombstones: Long = defaultMaxTombstones): Option[DataFrame] =
    ids(spark, prefix).map { t =>
      val cap = math.min(maxTombstones, Int.MaxValue - 1L).toInt
      // budget the DISTINCT id count (round 11): the raw row count
      // over-counted repeated adds of overlapping id sets toward the
      // cap, refusing loads whose actual broadcast was far under it
      val n = t.select("id").distinct().limit(cap + 1).count()
      require(n <= cap,
        s"tombstone set for index family '$prefix' exceeds the broadcast " +
          s"budget ($n+ distinct ids > $maxTombstones): run the family's " +
          s"Tombstones.compact* pass to fold the deletions into the index " +
          s"tables and clear the set, or raise maxTombstones on executors " +
          s"with the broadcast headroom.")
      t
    }

  /** `df` without the ids of a [[budgeted]] tombstone set. */
  private[graft] def antiJoin(df: DataFrame, idCol: String, dead: Option[DataFrame]): DataFrame =
    dead.fold(df)(t =>
      df.join(broadcast(t.select(col("id").as(idCol)).distinct()), Seq(idCol), "left_anti"))

  /** The compaction-side tombstone subtraction: a plain (unhinted,
    * unbudgeted) anti-join. The broadcast budget in [[filter]] exists to
    * protect LOADS — compaction is the remedy that guard names, so it
    * must keep working on a tombstone set of ANY size (round-11 advisory:
    * routing compaction through the guarded filter made an over-budget
    * family unrecoverable — every compact* threw the very error naming
    * compact* as the fix). AQE picks broadcast when the distinct set is
    * small and a shuffled anti-join when it is not. */
  private def filterForCompact(df: DataFrame, idCol: String, prefix: String): DataFrame =
    ids(df.sparkSession, prefix) match {
      case None => df
      case Some(t) =>
        df.join(t.select(col("id").as(idCol)).distinct(), Seq(idCol), "left_anti")
    }

  /** Predicate-level deletion — the retention/GDPR sweep shape (round
    * 11): select ids matching `predicate` from `from` (typically the
    * family's base/docs table or the source corpus), record them as
    * tombstones for `prefix`, and return the swept distinct-id count.
    * Refuses BEFORE committing if the sweep would push the family's
    * tombstone set past the broadcast budget every subsequent load
    * enforces — at that size the right operation is sweep-then-compact
    * in one maintenance window, not a doomed add. */
  def deleteWhere(from: DataFrame, idCol: String, prefix: String,
                  predicate: org.apache.spark.sql.Column,
                  maxTombstones: Long = defaultMaxTombstones): Long = {
    val spark = from.sparkSession
    // fenced like [[add]] (the sweep commits through the same table);
    // the budget check runs under the same fence so no concurrent add
    // can invalidate it between count and commit
    Fence.withFence(spark, prefix, "deleteWhere") {
      // pin the swept set (round-12 advisory): `from` is lazily
      // re-evaluated, so without this the counted set and the committed
      // set could diverge if the source changes between count and add
      val sel = from.filter(predicate).select(col(idCol).as("id"))
        .distinct().localCheckpoint(true)
      val n = sel.count()
      // budget on the DISTINCT union (round-12 advisory): re-sweeping
      // already-tombstoned ids must not double-count toward the cap
      val combined = ids(spark, prefix) match {
        case None => n
        case Some(t) => t.select("id").union(sel).distinct().count()
      }
      require(combined <= maxTombstones,
        s"deleteWhere would grow index family '$prefix''s tombstone set to " +
          s"$combined distinct ids (> $maxTombstones budget): run the " +
          "family's Tombstones.compact* pass first, then re-issue the sweep.")
      if (n > 0) addUnfenced(sel, "id", prefix)
      n
    }
  }

  /** Auto-compaction policy (round 12): compact the family when its
    * compaction debt crosses `fraction` — turning the "[[filter]]'s
    * refusal names compact* as the remedy" loop into a policy the
    * engine owns (run it from whatever cron/maintenance window owns the
    * warehouse). The family's kind is inferred from its signature
    * table, so one entry point serves all seven families. Returns true
    * iff a compaction ran. Thresholds are checked OUTSIDE the fence
    * (cheap reads); the compact* pass it dispatches to takes the fence
    * itself.
    *
    * The debt metric is per-family-kind. The six tombstoned families
    * trigger on the distinct-tombstone count crossing `fraction` of the
    * broadcast budget every load enforces. The components (labels)
    * family (round 13) has NO tombstones — its debt is SUPERSEDED delta
    * rows (each shard re-appends the full member list of every touched
    * component; reads pay a latest-wins window over all of it), so it
    * triggers on the superseded-row fraction of the labels table and
    * dispatches to [[graft.streaming.IngestLoop.compactCc]]. */
  def maintain(spark: SparkSession, prefix: String, fraction: Double = 0.5,
               maxTombstones: Long = defaultMaxTombstones): Boolean = {
    require(fraction > 0 && fraction <= 1.0,
      s"maintain fraction must be in (0, 1], got $fraction")
    if (spark.catalog.tableExists(Family.Components.signature(prefix))) {
      // one count-distinct pass: total delta rows vs live (distinct) ids
      val m = spark.table(Family.Components.signature(prefix))
        .agg(count(lit(1)).as("total"), countDistinct(col("id")).as("live"))
        .head()
      val total = m.getLong(0)
      val superseded = total - m.getLong(1)
      if (total == 0 || superseded.toDouble / total < fraction) false
      else { graft.streaming.IngestLoop.compactCc(spark, prefix); true }
    } else {
    val n = ids(spark, prefix)
      .map(_.select("id").distinct().count()).getOrElse(0L)
    if (n == 0 || n < (maxTombstones * fraction).toLong) false
    else {
      val kinds = Family.kinds.filter(_.tombstoned)
      val present = kinds.filter(k => spark.catalog.tableExists(k.signature(prefix)))
      def sigs(ks: Seq[Family.Kind]) = ks.map(_.data.head.suffix)
      require(present.size == 1,
        s"maintain cannot infer the family kind for '$prefix': signature " +
          s"tables present = ${sigs(present).mkString("[", ", ", "]")} " +
          s"(expected exactly one of ${sigs(kinds).mkString("/")}); " +
          "run the family's Tombstones.compact* pass directly.")
      compact(spark, prefix, present.head)
      true
    }
    }
  }

  private def clear(spark: SparkSession, prefix: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS ${table(prefix)}")

  /** The family's physical-layout GENERATION: bumped (under the writer
    * fence) at the START of every pass that rewrites existing
    * partitions in place — `compact*` here, `compactCc`/`repairCc` and
    * a replay's drop-own-partition rewrite in
    * [[graft.streaming.IngestLoop]]. The narrow-fence ingest paths mine
    * pairs OUTSIDE the fence against the append-only partition set,
    * which is sound precisely because only these passes ever mutate an
    * existing partition: a miner snapshots the generation in its fenced
    * append window, mines unfenced, then re-reads it after publishing —
    * a changed value proves a rewrite pass ran (or crashed mid-run)
    * while its corpus reads were in flight, and the mine re-runs
    * against the settled layout. Bumping FIRST (before any rewrite)
    * closes the crash hole: a compaction that dies between rewriting a
    * table and recording the bump would otherwise let a concurrent
    * miner accept pairs read from the torn state.
    *
    * Representation: MARKER FILES `g<N>` in a `<prefix>__gen` directory
    * beside the family's fence file ([[Fence.path]]'s parent), value =
    * max N listed. Pure filesystem metadata ops — no Spark job per
    * read or bump (a one-row table append cost ~0.5 s of job+commit
    * per compaction and forced a fenced re-read; file creation is
    * atomic, so the post-publish check reads UNFENCED: if the bump's
    * file is not visible at check time, the rewrite it precedes had
    * not begun when the mine's reads finished — either way the check
    * is race-free). Monotone across any crash interleaving: files are
    * only added, one per rewrite pass ever; two same-instant bumps
    * colliding on one N still CHANGE the value, which is all the
    * equality check consumes. Values survive session and even family
    * rebuild — stale ones are harmless because nothing compares
    * generations across families or interprets magnitudes. Tombstone
    * `add`s deliberately do NOT bump: they append a new file the
    * miner's snapshot either wholly sees or wholly misses (either is a
    * linearizable delete point). */
  def generation(spark: SparkSession, prefix: String): Long = {
    val d = genDir(spark, prefix)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(d)) 0L
    else fs.listStatus(d).iterator.map(_.getPath.getName)
      .filter(n => n.length > 1 && n.startsWith("g") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong).foldLeft(0L)(math.max)
  }

  /** Record a layout rewrite: see [[generation]]. Caller must hold the
    * family's writer fence. */
  def bumpGeneration(spark: SparkSession, prefix: String): Unit = {
    val d = genDir(spark, prefix)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(d)
    fs.create(new org.apache.hadoop.fs.Path(d, s"g${generation(spark, prefix) + 1L}"),
      /* overwrite = */ true).close()
  }

  private def genDir(spark: SparkSession, prefix: String): org.apache.hadoop.fs.Path = {
    val f = Fence.path(spark, prefix)
    new org.apache.hadoop.fs.Path(f.getParent, s"${prefix}__gen")
  }

  /** Delete a managed side table's warehouse directory when the table
    * is NOT in the catalog — the orphaned-location state an ephemeral
    * (in-memory derby) metastore leaves behind: the session that
    * created the table is gone, its catalog entry with it, but the
    * warehouse dir persists and an append-mode create then refuses
    * with LOCATION_ALREADY_EXISTS. Only ENGINE-OWNED side tables whose
    * content is meaningless without their catalog entry route through
    * this (`<prefix>_commits` in IngestLoop — the round-13 advisory's
    * stale-mapping corruption is exactly what adopting such a dir
    * would cause); with a persistent metastore the table stays
    * cataloged and this is a no-op.
    *
    * Catalog absence is SESSION-scoped, not existence proof (round-14
    * advisory): with per-session ephemeral metastores sharing one
    * warehouse, a same-named directory at this location could be a
    * LIVE foreign writer's table or unrelated user data — so before
    * deleting, the path is qualified against the session's CURRENT
    * DATABASE (a non-default current db must not reach into default's
    * directory) and the directory must PROVE it is an engine-written
    * commits mapping: its parquet footprint carries exactly the
    * `requiredCols` schema. Anything else keeps the previous loud
    * refusal — the subsequent create surfaces
    * LOCATION_ALREADY_EXISTS, trading availability for never silently
    * destroying data the engine cannot prove it owns. */
  private[graft] def clearOrphanLocation(spark: SparkSession, table: String,
                                         requiredCols: Set[String] =
                                           Set("loop_id", "local_bid",
                                             "global_bid", "missing_below")): Unit =
    if (!spark.catalog.tableExists(table)) {
      val p = Family.location(spark, table)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) {
        // data files (ignore _SUCCESS/. markers); an all-marker dir is a
        // torn create of our own shape and safe to clear
        val data = fs.listStatus(p).filter { s =>
          val n = s.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
        val owned = data.isEmpty || (try {
          data.forall(s => s.isFile && s.getPath.getName.endsWith(".parquet")) &&
            spark.read.parquet(p.toString)
              .schema.fieldNames.toSet == requiredCols
        } catch { case _: Exception => false })
        require(owned,
          s"warehouse location $p exists but table '$table' is not in this " +
            "session's catalog, and the directory does NOT read as an " +
            s"engine-written mapping (expected a flat parquet dir with " +
            s"columns ${requiredCols.mkString("[", ", ", "]")}): it may be " +
            "a live foreign writer's table (ephemeral metastores sharing " +
            "one warehouse) or unrelated data — refusing to adopt or " +
            "delete it. Move or remove the directory deliberately, or " +
            "run with the metastore that catalogs it.")
        fs.delete(p, true)
      }
    }

  /** Rewrite one bucketed family table minus the tombstoned rows,
    * preserving its bucket/sort layout (and the `ingest_batch`
    * partitioning if the table grew through an [[graft.streaming.IngestLoop]]).
    * `buckets` must match the family's original bucket count — the
    * layout is the join-co-location contract, so compaction must not
    * change it. The rewrite itself is [[rewriteThroughTemp]]; re-running
    * over already-filtered survivors is a no-op filter (tombstones are
    * only cleared after every table rewrote), so its crash recovery is
    * never a correctness risk here. */
  private def rewriteMinus(spark: SparkSession, tbl: String, idColInTbl: String,
                           prefix: String, buckets: Int,
                           bucketCols: Seq[String]): Unit =
    rewriteThroughTemp(spark, tbl, buckets, bucketCols, () => ())(
      filterForCompact(spark.table(tbl), idColInTbl, prefix))

  /** Replace a bucketed family table's content with `survivors`, the
    * crash-safe way every family rewrite pass shares (tombstone
    * compaction, and the components family's compact/repair fold).
    * Two disk-to-disk writes: survivors land in a temp table first
    * (fresh lineage), then overwrite the original from it — the shape
    * that holds at corpus scale, where an eager checkpoint of the whole
    * table would pin it in executor storage, and an ALTER-RENAME swap
    * of a partitioned managed table is not metastore-portable (this
    * catalog's rename leaves partition locations at the old path).
    * `between` runs after the temp write (the fence heartbeat of a
    * long pass).
    *
    * CRASH RECOVERY (round 10): the overwrite of `tbl` is drop+recreate,
    * so a crash between the two writes can leave the live table missing
    * while `<tbl>__compact` holds the complete survivor set (the temp
    * write committed before the overwrite began — the only path to a
    * missing `tbl`). Entry therefore self-heals: a leftover temp with
    * the live table MISSING restores the live table from it; a leftover
    * temp with the live table PRESENT (crash before or during the temp
    * write of a later run) is stale and dropped. Either way the pass
    * then re-runs normally; `survivors` is evaluated only after the
    * recovery, so it always reads the restored live table. */
  private[graft] def rewriteThroughTemp(spark: SparkSession, tbl: String,
                                        buckets: Int, bucketCols: Seq[String],
                                        between: () => Unit)(
                                        survivors: => org.apache.spark.sql.DataFrame): Unit = {
    val tmp = Family.compactTemp(tbl)
    def write(df: org.apache.spark.sql.DataFrame, to: String): Unit =
      Layout.writeBucketed(Layout.Write(df, to, bucketCols), buckets, "overwrite")
    if (spark.catalog.tableExists(tmp)) {
      if (!spark.catalog.tableExists(tbl)) write(spark.table(tmp), tbl)
      spark.sql(s"DROP TABLE $tmp")
    }
    write(survivors, tmp)
    between()
    write(spark.table(tmp), tbl)
    spark.sql(s"DROP TABLE $tmp")
  }

  private def metaIdCol(spark: SparkSession, prefix: String): String =
    spark.table(Family.meta(prefix)).head().getString(0)

  /** The family's recorded bucket count: every save and ingest path
    * since round 10 writes it into `<prefix>_meta`, so compaction preserves
    * the layout without the caller re-stating it (a caller-supplied
    * default that disagreed with the ingest default silently rewrote
    * the family with a different bucket count — the round-9 advisory).
    * An explicit positive `buckets` overrides; a pre-round-10 meta
    * without the column requires one. */
  private def metaBuckets(spark: SparkSession, prefix: String,
                          explicit: Int): Int =
    if (explicit > 0) explicit
    else {
      val meta = spark.table(Family.meta(prefix))
      require(meta.columns.contains("buckets"),
        s"${Family.meta(prefix)} predates the recorded bucket count: pass buckets " +
          "explicitly (it must equal the count the family was written with " +
          "— the bucket layout is the join co-location contract).")
      meta.head().getAs[Int]("buckets")
    }

  /** Fold the tombstones into the physical tables of the `kind` family
    * under `prefix` and clear them: each data table in declared order is
    * rewritten minus the tombstoned rows ([[rewriteMinus]]), with a
    * per-table liveness beacon between tables, so an operator reading
    * the fence's staleness can tell a working multi-table compaction
    * from a dead one. `buckets` defaults to the count recorded in the
    * family's meta at creation (families persisted before the count was
    * recorded — pre-round-10 — must pass it explicitly once; the next
    * save/ingest records it going forward). Holds the family's writer
    * [[Fence]] for the duration, as owner `compact<kind name>`: a live
    * ingest loop's micro-batch arriving mid-compaction refuses + replays
    * instead of losing its append to the drop+recreate rewrite. */
  private[graft] def compact(spark: SparkSession, prefix: String,
                             kind: Family.Kind, buckets: Int = -1): Unit = {
    val owner = s"compact${kind.name}"
    Fence.withFence(spark, prefix, owner) {
      bumpGeneration(spark, prefix) // FIRST: see generation
      val k = if (kind.keyedByCaller) kind.keyedOn(metaIdCol(spark, prefix)) else kind
      val b = metaBuckets(spark, prefix, buckets)
      k.data.zip(k.tables(prefix)).zipWithIndex.foreach { case ((d, t), i) =>
        if (i > 0) Fence.heartbeat(spark, prefix, owner)
        rewriteMinus(spark, t, d.idCol, prefix, b, d.bucketCols)
      }
      clear(spark, prefix)
    }
  }

  /** [[compact]] for the MinHash family. */
  def compactMinhash(spark: SparkSession, prefix: String, buckets: Int = -1): Unit =
    compact(spark, prefix, Family.MinHash, buckets)

  /** [[compact]] for the SimHash family (and the media signature loops). */
  def compactSimhash(spark: SparkSession, prefix: String, buckets: Int = -1): Unit =
    compact(spark, prefix, Family.SimHash, buckets)

  /** [[compact]] for the containment family (internal id column is the
    * normalized `id`). */
  def compactContainment(spark: SparkSession, prefix: String, buckets: Int = -1): Unit =
    compact(spark, prefix, Family.Containment, buckets)

  /** [[compact]] for the sign-LSH embedding family. */
  def compactEmbed(spark: SparkSession, prefix: String, buckets: Int = -1): Unit =
    compact(spark, prefix, Family.Embed, buckets)

  /** [[compact]] for the IVF-PQ serving family. */
  def compactPq(spark: SparkSession, prefix: String, buckets: Int = -1): Unit =
    compact(spark, prefix, Family.Pq, buckets)

  /** [[compact]] for the semantic-dedup family. */
  def compactSem(spark: SparkSession, prefix: String, buckets: Int = -1): Unit =
    compact(spark, prefix, Family.Sem, buckets)
}
