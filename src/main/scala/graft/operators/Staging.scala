package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}

/** How multi-consumer intermediate frames (MinHash/SimHash signatures,
  * LSH projections, token-count fits, component labels) are materialized
  * so a self-join or iterative loop doesn't re-run their lineage once
  * per consumer — the round-4 staging rule, made a CALLER CHOICE
  * (round-5, per advisor): `localCheckpoint` is the right default for a
  * single-JVM/local run but is eager at plan-construction time, illegal
  * on streaming DataFrames, and non-fault-tolerant (checkpointed blocks
  * live only on executors — losing one fails the query with no
  * recompute path), which is not the 100-TB deployment story.
  *
  *  - [[Local]] (default): `localCheckpoint(eager)` — cheapest cut of
  *    both lineage and re-execution; single-tenant clusters that accept
  *    recompute-from-scratch on executor loss.
  *  - [[Reliable]]: a real `checkpoint` into `dir` (sets the Spark
  *    checkpoint dir if unset) — blocks survive executor loss; the mode
  *    a 1000-executor deployment wants for hours-long dedup sweeps.
  *  - [[None]]: pass-through — for streaming plans (no actions allowed
  *    at build time) and callers composing into a larger staged plan.
  *    The quadratic re-execution contract is then the caller's.
  */
object Staging {
  sealed trait Mode { def apply(df: DataFrame): DataFrame }

  /** localCheckpoint(eager = true) — the single-JVM default. */
  case object Local extends Mode {
    def apply(df: DataFrame): DataFrame = df.localCheckpoint(true)
  }

  /** Reliable checkpoint under `dir` (survives executor loss). */
  final case class Reliable(dir: String) extends Mode {
    def apply(df: DataFrame): DataFrame = {
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
      df.checkpoint(true)
    }
  }

  /** No materialization — streaming-safe pass-through. */
  case object None extends Mode {
    def apply(df: DataFrame): DataFrame = df
  }

  /** Whether `staging` runs an action, so a metric can ride on it. */
  private[graft] def isEager(staging: Mode): Boolean = staging != None

  /** THE SMALL-INPUT REGIME's primitive: stage `df` under an EAGER mode
    * with `metrics` riding the staging action as observed metrics
    * (CollectMetrics). The eager staging runs through Dataset.withAction,
    * which notifies the listener an Observation registers, so the values
    * are ready when the checkpoint action returns — no job of their own.
    * Returns the staged frame and the metric values in argument order.
    *
    * A user of the regime reads an observed size here and, when it fits
    * its bound, does a small input's work on the driver or in one task
    * instead of a chain of jobs. Every user keeps the same contract:
    *  - its bound is a `private[graft] val` (driver memory or one task's
    *    share, which no deployment should trade against data size);
    *  - a parameter may LOWER the bound (specs pass 0 to force the
    *    general path) but never raise it: the user clamps with `min`
    *    (a user with no such parameter has nothing to clamp);
    *  - there is no `spark.graft.*` conf for it;
    *  - a spec pins both regimes to the same output.
    * The users: connected components and its incremental twin
    * (`Dedup.ccLocalEdges`) and the one-task family write
    * (`Layout.smallWriteRows`). */
  private[graft] def stageObserved(staging: Mode, df: DataFrame,
                                   metrics: Column*): (DataFrame, Row) = {
    require(isEager(staging), "an observed metric needs an eager staging action")
    val obs = org.apache.spark.sql.Observation()
    val named = metrics.zipWithIndex.map { case (m, i) => m.as(s"m$i") }
    val staged = staging(df.observe(obs, named.head, named.tail: _*))
    val got = obs.get
    (staged, Row.fromSeq(metrics.indices.map(i => got(s"m$i"))))
  }

  /** The rows of `df` when it holds at most `cap` of them, else None —
    * the regime's bounded lookup, in ONE job that brings at most
    * `cap + 1` rows to the driver however many partitions `df` spans.
    * `df.limit(cap + 1)` runs through its physical plan's execute path
    * (CollectLimitExec): every task keeps `cap + 1` rows, a
    * single-partition exchange inside the job gathers them, and its one
    * reduce task keeps `cap + 1` in total. (Dataset.collect of the same
    * limit would take partitions in growing batches, one job each.) */
  private[graft] def collectAtMost(df: DataFrame, cap: Int): Option[Array[Row]] = {
    val limited = df.limit(cap + 1)
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(limited.schema)
    val rows = limited.queryExecution.toRdd.map(_.copy()).collect()
      .map(r => toRow(r).asInstanceOf[Row])
    if (rows.length > cap) scala.None else Some(rows)
  }

  /** Restore full-session parallelism ahead of a CPU-heavy kernel
    * projection when the source partitioning under-fills the cluster
    * (round 16; guide §2.6 — stragglers and idle capacity). A narrow
    * scan of a small file set arrives in fewer partitions than the
    * session has cores, and every kernel stage built on it (MinHash
    * signatures, shingle explosion, hyperplane votes, media decode)
    * inherits that width: at sf0.1 the whole MinHash kernel ran as 2
    * tasks on 32 cores — one idle-capacity straggler pair owning the
    * query's wall. The deterministic hash repartition on `key` engages
    * ONLY when the input has fewer partitions than
    * `defaultParallelism`; a 100-TB scan arrives in thousands of
    * partitions and passes through untouched, so the exchange is paid
    * exactly (and only) in the regime where cores would otherwise sit
    * idle. Hash-on-key rather than round-robin: no
    * sortBeforeRepartition pre-sort, and the row→partition map is a
    * pure function of the data, so task retries are safe (guide §2.5).
    * Row set is unchanged — callers' joins/aggregations are
    * order-insensitive by the engine's determinism doctrine.
    *
    * Probe safety: the width probe is `df.rdd.getNumPartitions`, and
    * under AQE that call materializes every upstream shuffle stage —
    * on a shuffle-derived frame it would silently execute (and the
    * later action re-execute) the whole upstream pipeline. A frame
    * with any shuffle-inducing operator in its optimized plan is
    * therefore passed through unprobed: its width is already the
    * shuffle width, which is the session's parallelism. Only
    * scan-shaped / checkpointed plans (project/filter/union/generate
    * over sources) are probed, where `toRdd` is pure metadata. */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    if (df.isStreaming) return df // no partition probe on streams
    import org.apache.spark.sql.catalyst.plans.logical._
    val shuffleDerived = df.queryExecution.optimizedPlan.exists {
      case _: Join | _: Aggregate | _: Window | _: Sort => true
      case _: RepartitionOperation => true
      case _ => false
    }
    if (shuffleDerived) return df
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores, key) else df
  }
}
