package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Physical-layout operators for the 100-TB path: bucketed tables give
  * co-located, shuffle-free joins and aggregations on the bucket key —
  * the difference between re-shuffling 100 TB per join and reading
  * pre-partitioned files. (The testdata itself is plain parquet; these
  * helpers are how a deployment would lay out the hot join keys, and
  * LayoutSpec proves the join plan drops its exchanges.)
  *
  * This object is also the ONE place a persisted index family's table
  * write is spelled: every save, ingest append, compaction and repair
  * goes through [[writeBucketed]] / [[writeAll]], so the bucket
  * alignment, the `ingest_batch` partitioning and the bucket/sort spec
  * cannot drift between writers of one family.
  */
object Layout {

  /** Align a frame's partitioning to its bucket spec before a bucketed
    * write (round 16; guide §6 — small files): an unaligned bucketed
    * write emits one file per (task × bucket) pair, so a 32-partition
    * frame bucketed 8 ways lands 256 files per append — measured 768
    * files holding 6.3 MB after three ingest batches, with every
    * downstream mine paying the listing + per-file open cost and every
    * write paying 256 parquet-writer setups (27 task-seconds for an
    * 83k-row posting append). `repartition(buckets, cols)` routes rows
    * with HashPartitioning's `pmod(murmur3(cols), buckets)` — the SAME
    * function `bucketBy` assigns files with — so each task holds
    * exactly one bucket and each append lands exactly `buckets` files.
    * Content is untouched (pure physical layout); the extra shuffle is
    * what a production bucketed write pays anyway to avoid the
    * tiny-file explosion, and it scales with the frame being written,
    * never the corpus. */
  def bucketAligned(df: DataFrame, buckets: Int, cols: String*): DataFrame =
    df.repartition(buckets, cols.map(c => col(s"`$c`")): _*)

  /** Write as a bucketed managed table (hash-partitioned into `buckets`
    * files per partition by `key`, sorted within buckets). Joins and
    * groupBys on `key` between tables bucketed the same way need no
    * shuffle. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    writeBucketed(Write(df, table, Seq(key)), buckets, "overwrite")

  /** One family-table write: `df` saved as the managed parquet table
    * `table`, hash-bucketed and sorted on `cols` — or unbucketed when
    * `cols` is empty (a family's one-row meta). `rows` is `df`'s exact
    * row count when the action that staged it observed it
    * ([[Staging.stageObserved]]); None when unknown. */
  private[graft] case class Write(df: DataFrame, table: String, cols: Seq[String],
                                  rows: Option[Long] = None)

  /** Row bound of the ONE-TASK family write (a small-input regime user,
    * see [[Staging.stageObserved]]): a materialized frame of at most
    * this many rows is written by one task instead of a bucket-aligning
    * shuffle plus `buckets` tasks. 2^16 narrow rows are tens of
    * milliseconds of one task's parquet encoding, less than the job the
    * shuffle costs (~2 jobs and 370–430 ms per tiny append vs 1 job and
    * 310–350 ms, measured at `local[4]`); past it the write spreads over
    * the buckets again. A constant, not a conf, and no parameter
    * raises it. */
  private[graft] val smallWriteRows: Long = 1L << 16

  /** The family-table write: parquet, partitioned by `ingest_batch`
    * whenever the frame carries that column (an ingest-grown family
    * keeps its partitions through every append, compaction and repair —
    * derived from the input, so no writer can forget it), then
    * bucketed/sorted and saved with `mode` ("append" or "overwrite").
    *
    * A bucketed write is bucket-aligned first (see [[bucketAligned]]),
    * except for a SMALL MATERIALIZED frame, which is coalesced to one
    * task: one task holding every bucket still lands one file per
    * bucket (and per `ingest_batch` partition), sorted the same, so the
    * layout is unchanged — the write just skips the shuffle's job. Both
    * conditions are checked on the frame itself, never on an estimate:
    *  - its row count is KNOWN and within [[smallWriteRows]]: `w.rows`,
    *    observed by the action that staged it, or the exact size of a
    *    local relation;
    *  - it is MATERIALIZED: its plan is narrow operators (project,
    *    filter, generate) over a local relation or an eagerly
    *    checkpointed RDD. Coalescing an unmaterialized lineage would
    *    squeeze its whole upstream computation into one task. */
  private[graft] def writeBucketed(w: Write, buckets: Int, mode: String): Unit = {
    val bucketed = w.cols.nonEmpty
    val df =
      if (!bucketed) w.df
      else if (small(w)) w.df.coalesce(1)
      else bucketAligned(w.df, buckets, w.cols: _*)
    val out = df.write.mode(mode).format("parquet")
    val parts = if (df.columns.contains("ingest_batch")) out.partitionBy("ingest_batch") else out
    (if (bucketed) parts.bucketBy(buckets, w.cols.head, w.cols.tail: _*)
      .sortBy(w.cols.head, w.cols.tail: _*) else parts)
      .saveAsTable(w.table)
  }

  /** Whether `w` is a materialized frame of at most [[smallWriteRows]]
    * known rows (see [[writeBucketed]]). */
  private def small(w: Write): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val plan = w.df.queryExecution.optimizedPlan
    val rows = w.rows.orElse(plan match {
      case l: LocalRelation => Some(l.data.size.toLong)
      case _ => scala.None
    })
    rows.exists(_ <= smallWriteRows) && !plan.exists {
      case _: Project | _: Filter | _: Generate | _: LocalRelation => false
      case r: org.apache.spark.sql.execution.LogicalRDD => r.isStreaming || !r.rdd.isCheckpointed
      case _ => true
    }
  }

  /** Several writes to DIFFERENT tables of one family, overlapped (round
    * 17; guide §2.6): each is about one write-latency of mostly
    * driver-side catalog and commit work (~400 ms per tiny bucketed
    * append, OPTIMIZATION_r17.md), so all but the last are forked legs of one
    * [[FitPool.legs]] scope while the last runs on the caller's thread.
    * `beforeLast` runs on the caller's thread between forking the side
    * writes and starting the last one (the ingest loops' fence heartbeat
    * and job label; a fork carries the caller's job description as it
    * was when forked). The scope joins every side write before it
    * returns or throws, so no write outlives the call — the fence-window
    * contract — and a failed write cancels the others. */
  private[graft] def writeAll(writes: Seq[Write], buckets: Int, mode: String,
                              beforeLast: () => Unit = () => ()): Unit =
    FitPool.legs(writes.last.df.sparkSession) { scope =>
      writes.init.foreach(w => scope.fork(writeBucketed(w, buckets, mode)))
      beforeLast()
      writeBucketed(writes.last, buckets, mode)
    }

  /** Co-located equi-join of two same-bucketed tables. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
                   key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)
}
