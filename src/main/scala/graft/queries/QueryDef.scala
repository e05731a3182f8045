package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One engine query: the Spark implementation plus (when SQL-expressible)
  * the equivalent DuckDB oracle SQL the driver hash-compares against.
  * Column names/aliases MUST match pairwise — the compare sorts columns by
  * name then hashes values.
  */
final case class QueryDef(fn: (SparkSession, String) => DataFrame,
                          oracle: Option[String])

object QueryDef {
  /** Exact, order-independent money sum: cast to DECIMAL before summing so
    * Spark's and DuckDB's different accumulation orders cannot produce
    * different doubles (double summation of 60k ~1e5-sized values drifts
    * ~1e-4 — enough to flip a round()). Decimal addition is exact. DuckDB
    * twin: CAST(SUM(CAST(x AS DECIMAL(18,s)) AS DOUBLE).
    *
    * The exact sum reaches double via the FIXED-POINT route — scale up
    * to an integer, cast int→double, divide by the power of ten — never
    * a direct DECIMAL→DOUBLE cast: that cast's tie behavior differs
    * across engines (Spark's BigDecimal path is correctly rounded;
    * DuckDB's int128 conversion can land one ulp off — measured on
    * q02's scale-6 sums at 10x sf0.1, where the decimal step 1e-6
    * dropped below the 7.6e-6 double ulp at 4e10). Every step here is
    * identically rounded on identical inputs in both engines. The snug
    * DECIMAL(27,s) cast before the multiply keeps Spark's
    * precision-38 cap from silently reducing scale; scaled values stay
    * exact in BIGINT up to ~9e16 money units. DuckDB twin:
    * CAST(CAST(SUM(CAST(x AS DECIMAL(18,s))) * 10^s AS BIGINT)
    *   AS DOUBLE) / 10^s. */
  def dsum(c: Column, scale: Int = 2): Column = {
    val f = math.round(math.pow(10, scale)).toInt
    (sum(c.cast(DecimalType(18, scale))).cast(DecimalType(27, scale)) * lit(f))
      .cast("long").cast("double").divide(lit(f))
  }

  /** Multiset equality of two same-schema frames in ONE action (round
    * 16): the contract rows previously pinned set-equality with two
    * `exceptAll(...).count()` round-trips per comparison — four hash
    * aggregates and two driver actions each. Grouping both sides to
    * (row, multiplicity) and full-outer joining on the null-safe row
    * key finds any multiplicity mismatch in a single action; semantics
    * match `exceptAll` both ways == empty (NULL-safe equality, exact
    * binary doubles — the same row identity exceptAll uses). */
  def sameMultiset(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSeq
    val ga = a.groupBy(cols.map(c => col(s"`$c`")): _*)
      .agg(count(lit(1)).as("__ca"))
    // b's keys are aliased: two frames read from one table share its
    // column ids, and `ga(c) <=> gb(c)` would then compare a column
    // with itself (Spark warns of a trivially true predicate)
    val keys = cols.indices.map(i => s"__k$i")
    val gb = b.groupBy(cols.zip(keys).map { case (c, k) => col(s"`$c`").as(k) }: _*)
      .agg(count(lit(1)).as("__cb"))
    val cond = cols.zip(keys).map { case (c, k) => ga(c) <=> gb(k) }.reduce(_ && _)
    ga.join(gb, cond, "full_outer")
      .filter(!(coalesce(ga("__ca"), lit(0L)) === coalesce(gb("__cb"), lit(0L))))
      .isEmpty
  }
}
