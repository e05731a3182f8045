package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver testdata (TESTDATA.md). One parquet file per
  * table under the scale-factor dir. All reads go through here so the
  * whole engine shares one place for source-level concerns (schema
  * pinning, the nanos-timestamp workaround, future bucketing/partition
  * layout at 100-TB scale).
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeTs(raw) else raw
  }

  /** The engine-wide contract for events.ts is epoch-NANOS BIGINT: every
    * consumer does integer `ts div …` arithmetic and every oracle says
    * `epoch_ns(ts)`, which DuckDB evaluates identically for both physical
    * encodings the driver has shipped — INT64 TIMESTAMP(NANOS) (rounds
    * 1-6; arrives as Long under spark.sql.legacy.parquet.nanosAsLong) and
    * timestamp[us] (round 7+; arrives as TIMESTAMP_NTZ). Normalize at the
    * source so the physical flip never reaches query code: a timestamp ts
    * becomes unix_micros * 1000 — exact, since epoch_ns of a micros
    * timestamp is micros*1000. The NTZ→LTZ cast is wall-clock-preserving
    * under the sessions' pinned UTC timezone, matching DuckDB's naive-
    * as-UTC reading. Scan pushdown is unaffected: the projection sits
    * above the scan and prunes/filters on other columns still reach it.
    */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) => df
      case Some(_) =>
        df.withColumn("ts", (unix_micros(col("ts").cast("timestamp")) * 1000L))
      case None => df
    }

  /** Adds a proper timestamp column `ts_ts` (micros precision) alongside
    * the raw nanos `ts` (see [[normalizeTs]] for the nanos contract). */
  def events(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "events")
      .withColumn("ts_ts", timestamp_micros(expr("ts div 1000")))

  /** The engine's only session builder: Verify, Bench, perfbench, the
    * tools and the tests all get their session here, so this is their
    * config. SPARK_GRAFT_MASTER overrides the master:
    * `local-cluster[2,8,4096]` is the distribution-realism drive
    * (BASELINE.md), whose separate executor JVMs exercise task
    * serialization of the custom codegen expressions, broadcasts and
    * localCheckpoint across process boundaries; executors launched via
    * SPARK_HOME get the driver's own classpath. */
  def session(threads: Int = 8): SparkSession = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$threads]")
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts physical type is driver-controlled and has shipped as
      // both INT64 TIMESTAMP(NANOS) (needs this setting or the read
      // throws) and timestamp[us]; normalizeTs maps either to the
      // engine-wide epoch-nanos BIGINT contract
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // InferFiltersFromGenerate adds a redundant `size(arr) > 0` below
      // every explode; PushDownPredicates then substitutes the full
      // array-building expression into whatever sits below (a join
      // condition in q85, a scan filter in q33/q44) with NO cost guard —
      // for gram/signature arrays built via element_at(__toks, i)
      // lambdas, the inlined copy re-evaluates split() per element:
      // O(tokens²) per row, measured 17.6 s -> ~3 s on q85 at sf0.1.
      // The rule is a prune-empty-rows nicety, never a correctness
      // requirement; excluding it restores the staged-column contract.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
    if (master.startsWith("local-cluster"))
      builder.config("spark.executor.extraClassPath", sys.props("java.class.path"))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
