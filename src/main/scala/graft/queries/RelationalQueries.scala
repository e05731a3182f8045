package graft.queries

import graft.Tables
import graft.operators.{AsOf, Cleaning}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import QueryDef.dsum

/** Relational core (SURVEY.md §2.1-2.8, M0+M1): every query returns a
  * deterministic, totally-ordered DataFrame and carries matching DuckDB
  * oracle SQL. Scale stance: filters/projections sit directly on the
  * parquet scan (pushdown + pruning), dimension joins are broadcast,
  * aggregations are hash aggregates with map-side partials, exact
  * percentiles are single-scan multi-quantile aggs with a tiny driver
  * round-trip for the break values.
  */
object RelationalQueries {

  private def li(s: SparkSession, d: String) = Tables(s, d, "lineitem")
  private def ord(s: SparkSession, d: String) = Tables(s, d, "orders")
  private def cust(s: SparkSession, d: String) = Tables(s, d, "customer")

  val entries: Seq[(String, QueryDef)] = Seq(

    // ----------------------------------------------------------------
    // q01: flagship (SURVEY §7 M0) — IQR-cap l_extendedprice, bucket by
    // quartiles of the capped value, join orders, grouped counts, top-10
    // with ties. Exercises S1/P3/F8/A2/A4/A5/A6/A7/W1/J1 in one plan.
    "q01_flagship" -> QueryDef(
      fn = (s, d) => {
        val l = li(s, d)
        // ONE exact-quantile pass: the capped distribution's {0,.25,.5,
        // .75,1} quantiles equal the clamped raw quantiles (clamp is
        // monotone; the interior interpolation pairs sit strictly inside
        // the 1.5*IQR bounds, and min/max are single order stats) — so no
        // second pass over the capped data is needed. Sketch-bracketed
        // selection (Cleaning.bracketQuantiles since round 3): an
        // approx_percentile sketch brackets each order statistic, then
        // narrow conditional aggregates select the exact values in the
        // bracket — no sort/shuffle of data,
        // equal to the percentile aggregate (CleaningSpec), and
        // the formulation that survives 100 TB.
        val qs = Cleaning.bracketQuantiles(l, Seq("l_extendedprice"),
          Seq(0.0, 0.25, 0.5, 0.75, 1.0))("l_extendedprice")
        val (q1, q3) = (qs(1), qs(3))
        val iqr = q3 - q1
        val lb = q1 - 1.5 * iqr
        val ub = q3 + 1.5 * iqr
        val breaks = qs.map(b => math.max(math.min(b, ub), lb))
        val bucketed = l
          .withColumn("price_capped", Cleaning.clamp(col("l_extendedprice"), lb, ub))
          .withColumn("bucket", Cleaning.cutLabels(col("price_capped"), breaks,
            Seq("Low", "Medium", "High", "VeryHigh")))
        val agg = bucketed
          .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
          .groupBy("bucket", "o_orderpriority")
          .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"))
        Cleaning.topNWithTies(agg, "cnt", 10)
          .orderBy(desc("cnt"), asc("bucket"), asc("o_orderpriority"))
      },
      oracle = Some("""
        WITH q AS (SELECT quantile_cont(l_extendedprice, [0.00, 0.25, 0.50, 0.75, 1.00]) AS qs FROM lineitem),
        p AS (SELECT qs[2] - 1.5*(qs[4]-qs[2]) AS lb, qs[4] + 1.5*(qs[4]-qs[2]) AS ub, qs FROM q),
        b AS (SELECT lb, ub,
                     greatest(least(qs[1], ub), lb) AS b0, greatest(least(qs[2], ub), lb) AS b1,
                     greatest(least(qs[3], ub), lb) AS b2, greatest(least(qs[4], ub), lb) AS b3,
                     greatest(least(qs[5], ub), lb) AS b4 FROM p),
        d AS (SELECT l.l_orderkey, l.l_quantity,
                     CASE WHEN l.l_extendedprice > b.ub THEN b.ub
                          WHEN l.l_extendedprice < b.lb THEN b.lb
                          ELSE l.l_extendedprice END AS pc,
                     b.b0, b.b1, b.b2, b.b3, b.b4
              FROM lineitem l CROSS JOIN b),
        f AS (SELECT l_orderkey, l_quantity,
                     CASE WHEN pc IS NULL OR pc < b0 OR pc > b4 THEN NULL
                          WHEN pc <= b1 THEN 'Low'
                          WHEN pc <= b2 THEN 'Medium'
                          WHEN pc <= b3 THEN 'High'
                          ELSE 'VeryHigh' END AS bucket
              FROM d),
        a AS (SELECT bucket, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt,
                     SUM(l_quantity) AS sum_qty
              FROM f JOIN orders ON l_orderkey = o_orderkey
              GROUP BY bucket, o_orderpriority),
        r AS (SELECT *, RANK() OVER (ORDER BY cnt DESC) AS rk FROM a)
        SELECT bucket, o_orderpriority, cnt, sum_qty FROM r WHERE rk <= 10
        ORDER BY cnt DESC, bucket, o_orderpriority""")),

    // ----------------------------------------------------------------
    // q02: TPC-H-Q1-style pricing summary — pushdown filter + hash agg
    // with exact decimal sums (order-independent; see QueryDef.dsum).
    "q02_pricing_summary" -> QueryDef(
      fn = (s, d) => {
        val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(12, 2))
        li(s, d)
          .filter(col("l_shipdate") < lit(java.time.LocalDateTime.parse("2000-01-01T00:00")))
          .groupBy("l_returnflag", "l_linestatus")
          // money sums: exact DECIMAL accumulation, then the fixed-point
          // route to double — scale the exact sum to an INTEGER, cast
          // int→double (one correctly-rounded conversion, identical in
          // both engines), divide by the power of ten (identical inputs
          // → identical result). A direct DECIMAL→DOUBLE cast is NOT
          // engine-stable: at 10x volume the scale-6 charge sums sit
          // between adjacent doubles (decimal step 1e-6 < ulp 7.6e-6 at
          // 4e10) and Spark's correctly-rounded BigDecimal path lands
          // one ulp from DuckDB's int128 conversion.
          // each sum is cast to a snug DECIMAL before the integer-scale
          // multiply so Spark's decimal-precision cap (38) can never
          // force a silent scale reduction
          .agg(
            sum("l_quantity").as("sum_qty"),
            (sum(dec(col("l_extendedprice"))).cast(DecimalType(24, 2)) * lit(100))
              .cast("long").cast("double").divide(lit(100)).as("sum_base_price"),
            (sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
              .cast(DecimalType(24, 4)) * lit(10000))
              .cast("long").cast("double").divide(lit(10000)).as("sum_disc_price"),
            (sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))
              * dec(lit(1) + col("l_tax"))).cast(DecimalType(24, 6)) * lit(1000000))
              .cast("long").cast("double").divide(lit(1000000)).as("sum_charge"),
            round(avg("l_extendedprice"), 4).as("avg_price"),
            round(avg("l_discount"), 6).as("avg_disc"),
            count(lit(1)).as("cnt"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      oracle = Some("""
        SELECT l_returnflag, l_linestatus,
               SUM(l_quantity) AS sum_qty,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS DOUBLE) / 100 AS sum_base_price,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))) * 10000 AS BIGINT) AS DOUBLE) / 10000 AS sum_disc_price,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2)) * CAST(1 + l_tax AS DECIMAL(12,2))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000 AS sum_charge,
               ROUND(AVG(l_extendedprice), 4) AS avg_price,
               ROUND(AVG(l_discount), 6) AS avg_disc,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ----------------------------------------------------------------
    // q03: filter + project (F1 IN-list, range predicates) — all pushed
    // to the parquet scan; timestamps emitted as ISO strings for parity.
    "q03_filter_project" -> QueryDef(
      fn = (s, d) =>
        li(s, d)
          .filter(col("l_returnflag").isin("A", "R")
            && col("l_discount").between(0.02, 0.08)
            && col("l_shipdate") >= lit(java.time.LocalDateTime.parse("1999-01-01T00:00")))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"),
            date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
          // (l_orderkey, l_linenumber) is NOT unique in the synthetic
          // lineitem — the sort key is EVERY emitted column, so the
          // order is total by construction (no tie can exist between
          // rows that differ; identical rows are interchangeable)
          .orderBy("l_orderkey", "l_linenumber", "l_extendedprice",
            "ship_date", "l_quantity", "l_returnflag"),
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag,
               strftime(l_shipdate, '%Y-%m-%d') AS ship_date
        FROM lineitem
        WHERE l_returnflag IN ('A','R') AND l_discount BETWEEN 0.02 AND 0.08
          AND l_shipdate >= TIMESTAMP '1999-01-01'
        ORDER BY l_orderkey, l_linenumber, l_extendedprice, ship_date,
                 l_quantity, l_returnflag""")),

    // ----------------------------------------------------------------
    // q04: value counts + top-n WITH ties (A6+A7: rank, not limit).
    "q04_topk_ties" -> QueryDef(
      fn = (s, d) => {
        val counts = Cleaning.valueCounts(Tables(s, d, "part"), "p_brand")
          .withColumnRenamed("count", "cnt")
        Cleaning.topNWithTies(counts, "cnt", 5).orderBy(desc("cnt"), asc("p_brand"))
      },
      oracle = Some("""
        WITH a AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS cnt FROM part GROUP BY p_brand),
        r AS (SELECT *, RANK() OVER (ORDER BY cnt DESC) AS rk FROM a)
        SELECT p_brand, cnt FROM r WHERE rk <= 5 ORDER BY cnt DESC, p_brand""")),

    // ----------------------------------------------------------------
    // q05: median imputation (A2/F8) — nulls injected deterministically,
    // replaced by the exact type-7 median (== DuckDB quantile_cont).
    "q05_median_impute" -> QueryDef(
      fn = (s, d) => {
        val withNulls = cust(s, d).withColumn("acct",
          when(col("c_custkey") % 10 === 0, lit(null)).otherwise(col("c_acctbal")))
        Cleaning.medianImpute(withNulls, Seq("acct"))
          .select(col("c_custkey"), round(col("acct"), 3).as("acct_imputed"))
          .orderBy("c_custkey")
      },
      oracle = Some("""
        WITH t AS (SELECT c_custkey, CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_acctbal END AS acct FROM customer),
        m AS (SELECT quantile_cont(acct, 0.5) AS med FROM t)
        SELECT c_custkey, ROUND(COALESCE(acct, med), 3) AS acct_imputed
        FROM t CROSS JOIN m ORDER BY c_custkey""")),

    // ----------------------------------------------------------------
    // q06: IQR outlier capping (A4/F8) + grouped profile of the result.
    "q06_iqr_cap" -> QueryDef(
      fn = (s, d) => {
        val capped = Cleaning.iqrCap(li(s, d), Seq("l_extendedprice"))
          .withColumnRenamed("l_extendedprice", "price_capped")
        capped.groupBy("l_returnflag")
          .agg(count(lit(1)).as("cnt"),
            round(avg("price_capped"), 4).as("avg_capped"),
            round(min("price_capped"), 4).as("min_capped"),
            round(max("price_capped"), 4).as("max_capped"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        WITH q AS (SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
                          quantile_cont(l_extendedprice, 0.75) AS q3 FROM lineitem),
        c AS (SELECT l_returnflag,
                     CASE WHEN l_extendedprice > q3 + 1.5*(q3-q1) THEN q3 + 1.5*(q3-q1)
                          WHEN l_extendedprice < q1 - 1.5*(q3-q1) THEN q1 - 1.5*(q3-q1)
                          ELSE l_extendedprice END AS price_capped
              FROM lineitem CROSS JOIN q)
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt,
               ROUND(AVG(price_capped), 4) AS avg_capped,
               ROUND(MIN(price_capped), 4) AS min_capped,
               ROUND(MAX(price_capped), 4) AS max_capped
        FROM c GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ----------------------------------------------------------------
    // q07: quantile bucketing with R cut() semantics (A5/C6): (a,b],
    // lowest-inclusive, computed from the column's own quartiles.
    "q07_quartile_bucket" -> QueryDef(
      fn = (s, d) =>
        Cleaning.quantileBucket(ord(s, d), "o_totalprice", "bucket")
          .groupBy("bucket")
          .agg(count(lit(1)).as("cnt"), round(avg("o_totalprice"), 2).as("avg_price"))
          .orderBy("bucket"),
      oracle = Some("""
        WITH b AS (SELECT quantile_cont(o_totalprice, 0.00) AS b0, quantile_cont(o_totalprice, 0.25) AS b1,
                          quantile_cont(o_totalprice, 0.50) AS b2, quantile_cont(o_totalprice, 0.75) AS b3,
                          quantile_cont(o_totalprice, 1.00) AS b4 FROM orders),
        d AS (SELECT o_totalprice, CASE WHEN o_totalprice IS NULL OR o_totalprice < b0 OR o_totalprice > b4 THEN NULL
                                        WHEN o_totalprice <= b1 THEN 'Low'
                                        WHEN o_totalprice <= b2 THEN 'Medium'
                                        WHEN o_totalprice <= b3 THEN 'High'
                                        ELSE 'VeryHigh' END AS bucket
              FROM orders CROSS JOIN b)
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cnt, ROUND(AVG(o_totalprice), 2) AS avg_price
        FROM d GROUP BY bucket ORDER BY bucket""")),

    // ----------------------------------------------------------------
    // q08: per-group mode with pinned lexical tie-break (A3).
    "q08_mode_per_group" -> QueryDef(
      fn = (s, d) => {
        val counts = ord(s, d).groupBy("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("o_orderstatus")
          .orderBy(desc("cnt"), asc("o_orderpriority"))
        counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"), col("cnt"))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        WITH a AS (SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM orders GROUP BY o_orderstatus, o_orderpriority),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY cnt DESC, o_orderpriority) AS rn FROM a)
        SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt FROM r WHERE rn = 1
        ORDER BY o_orderstatus""")),

    // ----------------------------------------------------------------
    // q09: per-column null counts in ONE pass (A1) over deterministically
    // nulled columns.
    "q09_null_counts" -> QueryDef(
      fn = (s, d) => {
        val df = cust(s, d)
          .withColumn("c_acctbal", when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_acctbal")))
          .withColumn("c_mktsegment", when(col("c_custkey") % 11 === 0, lit(null)).otherwise(col("c_mktsegment")))
        df.agg(count(lit(1)).as("n_rows"),
          sum(col("c_acctbal").isNull.cast("long")).as("n_null_acctbal"),
          sum(col("c_mktsegment").isNull.cast("long")).as("n_null_mktsegment"))
      },
      oracle = Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_acctbal,
               CAST(SUM(CASE WHEN c_custkey % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_mktsegment
        FROM customer""")),

    // ----------------------------------------------------------------
    // q10: value counts sorted (A6).
    "q10_value_counts" -> QueryDef(
      fn = (s, d) =>
        Cleaning.valueCounts(Tables(s, d, "events"), "event_type")
          .withColumnRenamed("count", "cnt"),
      oracle = Some("""
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt FROM events
        GROUP BY event_type ORDER BY cnt DESC, event_type""")),

    // ----------------------------------------------------------------
    // q11: star join — fact orders against broadcast dims customer →
    // nation → region (J1 at warehouse shape), exact decimal revenue.
    "q11_star_join_revenue" -> QueryDef(
      fn = (s, d) => {
        val o = ord(s, d)
        val c = cust(s, d)
        val n = Tables(s, d, "nation")
        val r = Tables(s, d, "region")
        o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("revenue"),
            countDistinct(col("o_custkey")).as("n_customers"))
          .orderBy("r_name")
      },
      oracle = Some("""
        SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) / 100 AS revenue,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
        FROM orders JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name""")),

    // ----------------------------------------------------------------
    // q12: left-semi join (F2/J2: EXISTS).
    "q12_semi_join" -> QueryDef(
      fn = (s, d) => {
        val big = ord(s, d).filter(col("o_totalprice") > 300000).select("o_custkey")
        cust(s, d).join(big, col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name", "c_mktsegment")
          .orderBy("c_custkey")
      },
      oracle = Some("""
        SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        ORDER BY c_custkey""")),

    // ----------------------------------------------------------------
    // q13: left-anti join (NOT EXISTS) — customers with no large order.
    "q13_anti_join" -> QueryDef(
      fn = (s, d) => {
        val big = ord(s, d).filter(col("o_totalprice") > 400000).select("o_custkey")
        cust(s, d).join(big, col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name").orderBy("c_custkey")
      },
      oracle = Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        ORDER BY c_custkey""")),

    // ----------------------------------------------------------------
    // q14: left-outer join preserving empty groups.
    "q14_outer_join" -> QueryDef(
      fn = (s, d) => {
        val n = Tables(s, d, "nation")
        n.join(cust(s, d), col("n_nationkey") === col("c_nationkey"), "left")
          .groupBy("n_nationkey", "n_name")
          .agg(count(col("c_custkey")).as("n_customers"),
            coalesce(dsum(col("c_acctbal")), lit(0.0)).as("total_acctbal"))
          .orderBy("n_nationkey")
      },
      oracle = Some("""
        SELECT n_nationkey, n_name, CAST(COUNT(c_custkey) AS BIGINT) AS n_customers,
               COALESCE(CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) / 100, 0.0) AS total_acctbal
        FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
        GROUP BY n_nationkey, n_name ORDER BY n_nationkey""")),

    // ----------------------------------------------------------------
    // q15: row-wise set ops — UNION/INTERSECT/EXCEPT (all DISTINCT).
    "q15_set_ops" -> QueryDef(
      fn = (s, d) => {
        val o = ord(s, d)
        val a = o.filter(col("o_orderstatus") === "F").select(col("o_custkey")).distinct()
        val b = o.filter(col("o_orderstatus") === "P").select(col("o_custkey")).distinct()
        a.union(b).distinct().agg(count(lit(1)).as("n_union"))
          .crossJoin(a.intersect(b).agg(count(lit(1)).as("n_intersect")))
          .crossJoin(a.except(b).agg(count(lit(1)).as("n_except")))
      },
      oracle = Some("""
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus='F' UNION SELECT o_custkey FROM orders WHERE o_orderstatus='P')) AS n_union,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus='F' INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus='P')) AS n_intersect,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus='F' EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus='P')) AS n_except""")),

    // ----------------------------------------------------------------
    // q16: ROLLUP with grouping() → 'ALL' sentinel (avoids NULL-ordering
    // divergence between engines).
    "q16_rollup" -> QueryDef(
      fn = (s, d) =>
        li(s, d).rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(grouping(col("l_returnflag")).as("g1"), grouping(col("l_linestatus")).as("g2"),
            count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"))
          .select(
            when(col("g1") === 1, lit("ALL")).otherwise(col("l_returnflag")).as("returnflag"),
            when(col("g2") === 1, lit("ALL")).otherwise(col("l_linestatus")).as("linestatus"),
            col("cnt"), col("sum_qty"))
          .orderBy("returnflag", "linestatus"),
      oracle = Some("""
        SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
               CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
               CAST(COUNT(*) AS BIGINT) AS cnt, SUM(l_quantity) AS sum_qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY returnflag, linestatus""")),

    // ----------------------------------------------------------------
    // q17: CUBE, same sentinel treatment, exact decimal sums.
    "q17_cube" -> QueryDef(
      fn = (s, d) =>
        ord(s, d).cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(grouping(col("o_orderstatus")).as("g1"), grouping(col("o_orderpriority")).as("g2"),
            count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
          .select(
            when(col("g1") === 1, lit("ALL")).otherwise(col("o_orderstatus")).as("status"),
            when(col("g2") === 1, lit("ALL")).otherwise(col("o_orderpriority")).as("priority"),
            col("cnt"), col("total"))
          .orderBy("status", "priority"),
      oracle = Some("""
        SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
               CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) / 100 AS total
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY status, priority""")),

    // ----------------------------------------------------------------
    // q18: exact distinct aggregation (expands to two-phase agg in Spark).
    "q18_distinct_agg" -> QueryDef(
      fn = (s, d) =>
        li(s, d).groupBy("l_returnflag")
          .agg(countDistinct(col("l_suppkey")).as("n_supp"),
            countDistinct(col("l_partkey")).as("n_part"),
            count(lit(1)).as("cnt"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_part,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ----------------------------------------------------------------
    // q19: window frame — per-customer running revenue (rowsBetween
    // unbounded-preceding..current), deterministic order incl. key.
    "q19_window_running" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ord(s, d)
          .withColumn("running_total",
            sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast("double"))
          .select(col("o_custkey"), col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
            col("o_totalprice"), col("running_total"))
          .orderBy("o_custkey", "order_date", "o_orderkey")
      },
      oracle = Some("""
        SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        FROM orders ORDER BY o_custkey, order_date, o_orderkey""")),

    // ----------------------------------------------------------------
    // q20: lag/lead over event streams (per-user ordered by time).
    // ts is emitted at MICROsecond resolution on both sides: DuckDB's
    // parquet reader may truncate TIMESTAMP(NANOS) to its native micros
    // timestamp, so raw-nanos outputs can never hash-match. `ts div 1000`
    // (Spark, raw nanos long) == `epoch_ns(ts) // 1000` (DuckDB, whether
    // its read kept nanos or already truncated to micros).
    "q20_lag_lead" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        Tables(s, d, "events")
          .withColumn("ts_us", expr("ts div 1000"))
          .withColumn("prev_value", lag(col("value"), 1).over(w))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .select(col("user_id"), col("event_id"), col("ts_us"), col("value"),
            round(col("value") - col("prev_value"), 2).as("delta_value"), col("next_type"))
          .orderBy("user_id", "ts_us", "event_id")
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, value, event_type FROM events)
        SELECT user_id, event_id, ts_us, value,
               ROUND(value - LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id), 2) AS delta_value,
               LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS next_type
        FROM e ORDER BY user_id, ts_us, event_id""")),

    // ----------------------------------------------------------------
    // q21: argmax-within-group (W3): each customer's largest order.
    "q21_argmax_per_group" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        ord(s, d).withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("o_custkey"), col("o_orderkey").as("top_orderkey"),
            col("o_totalprice").as("top_totalprice"))
          .orderBy("o_custkey")
      },
      oracle = Some("""
        WITH r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
        SELECT o_custkey, o_orderkey AS top_orderkey, o_totalprice AS top_totalprice
        FROM r WHERE rn = 1 ORDER BY o_custkey""")),

    // ----------------------------------------------------------------
    // q22: time-window aggregation — batch window(ts, 1 hour) over the
    // event stream table (epoch-aligned, == floor division by 1h).
    "q22_time_window" -> QueryDef(
      fn = (s, d) =>
        Tables.events(s, d)
          .groupBy(window(col("ts_ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            // exact decimal sum / count, NO round: round(avg,4) can land
            // exactly on a half boundary (sum-of-2dp / 8 = x.xxxx5) where
            // Spark (shortest-string HALF_UP) and DuckDB (binary) diverge.
            (QueryDef.dsum(col("value")) / count(lit(1))).as("avg_value"),
            countDistinct(col("user_id")).as("n_users"))
          .select(unix_timestamp(col("w.start")).as("hour_start"), col("event_type"),
            col("cnt"), col("avg_value"), col("n_users"))
          .orderBy("hour_start", "event_type"),
      oracle = Some("""
        SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS hour_start, event_type,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) / 100 / COUNT(*) AS avg_value,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""")),

    // ----------------------------------------------------------------
    // q23: JSON extraction (get_json_object) over events.props.
    "q23_json_extract" -> QueryDef(
      fn = (s, d) =>
        Tables(s, d, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
          .groupBy((col("k") % 10).as("k_mod"))
          .agg(count(lit(1)).as("cnt"), round(avg("value"), 4).as("avg_value"),
            min("k").as("min_k"), max("k").as("max_k"))
          .orderBy("k_mod"),
      oracle = Some("""
        WITH t AS (SELECT CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS INTEGER) AS k, value FROM events)
        SELECT k % 10 AS k_mod, CAST(COUNT(*) AS BIGINT) AS cnt, ROUND(AVG(value), 4) AS avg_value,
               MIN(k) AS min_k, MAX(k) AS max_k
        FROM t GROUP BY k % 10 ORDER BY k_mod""")),

    // ----------------------------------------------------------------
    // q24: scalar-function battery (C1-C10): first-word, case, regex
    // replace, log1p/expm1, round, concat_ws, length.
    "q24_scalar_funcs" -> QueryDef(
      fn = (s, d) =>
        Tables(s, d, "part").select(
          col("p_partkey"),
          substring_index(col("p_name"), " ", 1).as("first_word"),
          upper(col("p_name")).as("name_upper"),
          regexp_replace(col("p_type"), "[AEIOU]", "").as("type_novowel"),
          round(log1p(col("p_retailprice")), 6).as("log1p_price"),
          round(expm1(col("p_retailprice") / 1000.0), 6).as("expm1_scaled"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
          length(col("p_name")).as("name_len"))
          .orderBy("p_partkey"),
      oracle = Some("""
        SELECT p_partkey,
               split_part(p_name, ' ', 1) AS first_word,
               upper(p_name) AS name_upper,
               regexp_replace(p_type, '[AEIOU]', '', 'g') AS type_novowel,
               ROUND(ln(1 + p_retailprice), 6) AS log1p_price,
               ROUND(exp(p_retailprice / 1000.0) - 1, 6) AS expm1_scaled,
               concat_ws('-', p_brand, p_type) AS brand_type,
               CAST(length(p_name) AS INTEGER) AS name_len
        FROM part ORDER BY p_partkey""")),

    // ----------------------------------------------------------------
    // q25: per-group Pearson correlation (A10).
    "q25_corr_by_group" -> QueryDef(
      fn = (s, d) =>
        li(s, d).groupBy("l_returnflag")
          .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
            count(lit(1)).as("cnt"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag, ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ----------------------------------------------------------------
    // q26: describe/summary profile (A13): count/mean/stddev/min/max/median.
    "q26_summary_stats" -> QueryDef(
      fn = (s, d) =>
        ord(s, d).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("cnt"),
            round(avg("o_totalprice"), 4).as("mean_price"),
            round(stddev_samp(col("o_totalprice")), 4).as("sd_price"),
            round(min("o_totalprice"), 2).as("min_price"),
            round(expr("percentile(o_totalprice, 0.5)"), 4).as("median_price"),
            round(max("o_totalprice"), 2).as("max_price"))
          .orderBy("o_orderstatus"),
      oracle = Some("""
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt,
               ROUND(AVG(o_totalprice), 4) AS mean_price,
               ROUND(stddev_samp(o_totalprice), 4) AS sd_price,
               ROUND(MIN(o_totalprice), 2) AS min_price,
               ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
               ROUND(MAX(o_totalprice), 2) AS max_price
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ----------------------------------------------------------------
    // q48: as-of join — each event matched to the user's most recent
    // order at or before the event instant (composed from window
    // built-ins, see operators.AsOf; DuckDB oracles it with its native
    // ASOF JOIN). Right side deduped to one order per (custkey, second)
    // keeping the max orderkey, so the match is deterministic in both
    // engines. Both timelines in epoch seconds.
    "q48_asof_join" -> QueryDef(
      fn = (s, d) => {
        val ev = Tables(s, d, "events")
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000000000").as("ev_sec"))
        val w = Window.partitionBy("o_custkey", "ord_sec")
          .orderBy(desc("o_orderkey"))
        val ords = ord(s, d)
          .select(col("o_orderkey"), col("o_custkey"),
            unix_timestamp(col("o_orderdate").cast("timestamp")).as("ord_sec"),
            col("o_totalprice"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
        AsOf.join(ev, ords, "user_id", "o_custkey", "ev_sec", "ord_sec")
          .select(col("event_id"), col("user_id"),
            col("payload.o_orderkey").as("last_orderkey"),
            col("payload.o_totalprice").as("last_totalprice"))
          .orderBy("event_id")
      },
      oracle = Some("""
        WITH ords AS (
          SELECT o_orderkey, o_custkey, epoch(o_orderdate)::BIGINT AS ord_sec, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey, epoch(o_orderdate)::BIGINT
                                    ORDER BY o_orderkey DESC) AS rn
          FROM orders),
        dedup AS (SELECT * FROM ords WHERE rn = 1),
        ev AS (SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS ev_sec FROM events)
        SELECT ev.event_id, ev.user_id, d.o_orderkey AS last_orderkey,
               d.o_totalprice AS last_totalprice
        FROM ev ASOF LEFT JOIN dedup d
          ON ev.user_id = d.o_custkey AND ev.ev_sec >= d.ord_sec
        ORDER BY event_id""")),

    // ----------------------------------------------------------------
    // q30: transactions/item-frequency (A14/A15): rows → item arrays →
    // explode → per-item support, as in the arules pipeline.
    "q30_item_frequency" -> QueryDef(
      fn = (s, d) => {
        val o = ord(s, d).join(broadcast(cust(s, d)), col("o_custkey") === col("c_custkey"))
        val items = o.select(explode(array(
          concat(lit("status="), col("o_orderstatus")),
          concat(lit("prio="), col("o_orderpriority")),
          concat(lit("seg="), col("c_mktsegment")))).as("item"))
        val total = ord(s, d).count()
        items.groupBy("item").agg(count(lit(1)).as("cnt"))
          .withColumn("support", round(col("cnt") / lit(total.toDouble), 6))
          .orderBy(desc("cnt"), asc("item"))
      },
      oracle = Some("""
        WITH j AS (SELECT o_orderstatus, o_orderpriority, c_mktsegment
                   FROM orders JOIN customer ON o_custkey = c_custkey),
        t AS (SELECT 'status=' || o_orderstatus AS item FROM j
              UNION ALL SELECT 'prio=' || o_orderpriority FROM j
              UNION ALL SELECT 'seg=' || c_mktsegment FROM j),
        n AS (SELECT COUNT(*) AS total FROM orders)
        SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt,
               ROUND(COUNT(*) / (SELECT CAST(total AS DOUBLE) FROM n), 6) AS support
        FROM t GROUP BY item ORDER BY cnt DESC, item""")),

    // ----------------------------------------------------------------
    // q49: pivot / wide crosstab — groupBy().pivot() with PINNED pivot
    // values (dynamic value discovery is a separate pass and
    // nondeterministic column order; pinning is also what you do at scale
    // so the schema is known up front). Counts coalesced to 0 to match
    // SQL's conditional-sum semantics; revenue sums are exact decimal.
    "q49_pivot" -> QueryDef(
      fn = (s, d) => {
        val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        val wide = ord(s, d)
          .groupBy("o_orderstatus")
          .pivot("o_orderpriority", prios)
          .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("rev"))
        wide.select(col("o_orderstatus") +:
          prios.zipWithIndex.flatMap { case (p, i) =>
            Seq(coalesce(col(s"`${p}_cnt`"), lit(0L)).as(s"p${i + 1}_cnt"),
              col(s"`${p}_rev`").as(s"p${i + 1}_rev"))
          }: _*)
          .orderBy("o_orderstatus")
      },
      oracle = Some {
        val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        val cells = prios.zipWithIndex.map { case (p, i) =>
          s"""CAST(SUM(CASE WHEN o_orderpriority = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS p${i + 1}_cnt,
             CAST(CAST(SUM(CASE WHEN o_orderpriority = '$p' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS DOUBLE) / 100 AS p${i + 1}_rev"""
        }.mkString(",\n")
        s"""
        SELECT o_orderstatus, $cells
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""
      }),

    // ----------------------------------------------------------------
    // q72: unpivot / melt (wide → long) — the inverse of q49's pivot,
    // via the native Dataset.unpivot (Spark 3.4+ melt). Values pass
    // through untouched (same parquet doubles both engines), so no
    // rounding is involved at all.
    "q72_unpivot" -> QueryDef(
      fn = (s, d) =>
        li(s, d).filter(col("l_orderkey") < 200)
          .unpivot(
            Array(col("l_orderkey"), col("l_linenumber")),
            Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
            "metric", "value")
          .orderBy("l_orderkey", "l_linenumber", "metric"),
      oracle = Some("""
        WITH m AS (
          SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
          FROM lineitem WHERE l_orderkey < 200
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
          FROM lineitem WHERE l_orderkey < 200
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
          FROM lineitem WHERE l_orderkey < 200
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
          FROM lineitem WHERE l_orderkey < 200)
        SELECT * FROM m ORDER BY l_orderkey, l_linenumber, metric""")),

    // ----------------------------------------------------------------
    // q74: RANGE-interval window frame (vs q19's ROWS frame): per
    // customer, revenue in the trailing 30 days of each order — the
    // value-based frame built-ins; ordered on epoch seconds so the range
    // arithmetic is integral in both engines.
    "q74_range_frame" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("ord_sec"))
          .rangeBetween(-2592000L, Window.currentRow)
        ord(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
            unix_timestamp(col("o_orderdate").cast("timestamp")).as("ord_sec"),
            col("o_totalprice"))
          .withColumn("rev_30d",
            sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast("double"))
          .withColumn("n_30d", count(lit(1)).over(w))
          .orderBy("o_custkey", "ord_sec", "o_orderkey")
      },
      oracle = Some("""
        WITH o AS (SELECT o_custkey, o_orderkey, epoch(o_orderdate)::BIGINT AS ord_sec, o_totalprice
                   FROM orders)
        SELECT o_custkey, o_orderkey, ord_sec, o_totalprice,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                 PARTITION BY o_custkey ORDER BY ord_sec
                 RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_30d,
               CAST(COUNT(*) OVER (
                 PARTITION BY o_custkey ORDER BY ord_sec
                 RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_30d
        FROM o ORDER BY o_custkey, ord_sec, o_orderkey""")),

    // ----------------------------------------------------------------
    // q75: ranking-function battery — rank, dense_rank, ntile, and the
    // distribution ranks over a total order (totalprice, orderkey), per
    // status. percent_rank/cume_dist are exact rationals of integer
    // ranks/counts: identical single-division trees on both sides, no
    // rounding needed.
    "q75_rank_battery" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy("o_orderstatus")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        ord(s, d).filter(col("o_orderkey") < 2000)
          .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
          .withColumn("rk", rank().over(w))
          .withColumn("drk", dense_rank().over(w))
          .withColumn("quartile", ntile(4).over(w))
          .withColumn("pct_rank", percent_rank().over(w))
          .withColumn("cume", cume_dist().over(w))
          .orderBy("o_orderstatus", "rk")
      },
      oracle = Some("""
        SELECT o_orderstatus, o_orderkey, o_totalprice,
               CAST(RANK() OVER w AS BIGINT) AS rk,
               CAST(DENSE_RANK() OVER w AS BIGINT) AS drk,
               CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
               PERCENT_RANK() OVER w AS pct_rank,
               CUME_DIST() OVER w AS cume
        FROM orders WHERE o_orderkey < 2000
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_orderstatus, rk""")),

    // ----------------------------------------------------------------
    // q76: value-navigation window functions — first/last/nth over the
    // FULL partition frame (last_value needs the unbounded-following
    // frame; the default running frame silently returns the current row).
    "q76_value_window" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy("o_orderstatus")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ord(s, d).filter(col("o_orderkey") < 2000)
          .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
          .withColumn("cheapest_key", first(col("o_orderkey")).over(w))
          .withColumn("priciest_key", last(col("o_orderkey")).over(w))
          .withColumn("third_key", nth_value(col("o_orderkey"), 3).over(w))
          .orderBy("o_orderstatus", "o_totalprice", "o_orderkey")
      },
      oracle = Some("""
        SELECT o_orderstatus, o_orderkey, o_totalprice,
               FIRST_VALUE(o_orderkey) OVER w AS cheapest_key,
               LAST_VALUE(o_orderkey) OVER w AS priciest_key,
               NTH_VALUE(o_orderkey, 3) OVER w AS third_key
        FROM orders WHERE o_orderkey < 2000
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ORDER BY o_orderstatus, o_totalprice, o_orderkey""")),

    // ----------------------------------------------------------------
    // q77: unionByName with missing columns (P10 — the schema-padding
    // the reference does by hand at BigDataProject.R:297-299): disjoint
    // projections re-aligned by NAME, absent columns null-padded.
    "q77_union_by_name" -> QueryDef(
      fn = (s, d) => {
        val open = ord(s, d).filter(col("o_orderstatus") === "O")
          .select(col("o_orderkey"), col("o_totalprice"))
        val finished = ord(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderpriority"))
        open.unionByName(finished, allowMissingColumns = true)
          .orderBy("o_orderkey")
      },
      oracle = Some("""
        SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
        FROM orders WHERE o_orderstatus = 'O'
        UNION ALL
        SELECT o_orderkey, NULL, o_orderpriority
        FROM orders WHERE o_orderstatus = 'F'
        ORDER BY o_orderkey""")),

    // ----------------------------------------------------------------
    // q79: scalar + correlated subqueries via spark.sql — customers whose
    // order total beats the global average AND who have a high-priority
    // order (correlated EXISTS). Catalyst decorrelates both into joins;
    // the average is compared through an exact decimal sum so the
    // threshold is cross-engine-identical.
    "q79_subqueries" -> QueryDef(
      fn = (s, d) => {
        ord(s, d).createOrReplaceTempView("__ord")
        s.sql("""
          SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_big
          FROM __ord o
          WHERE o_totalprice > (SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE)
                                       / 100 / COUNT(*) FROM __ord)
            AND EXISTS (SELECT 1 FROM __ord i
                        WHERE i.o_custkey = o.o_custkey AND i.o_orderpriority = '1-URGENT')
          GROUP BY o_custkey ORDER BY o_custkey""")
      },
      oracle = Some("""
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_big
        FROM orders o
        WHERE o_totalprice > (SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE)
                                     / 100 / COUNT(*) FROM orders)
          AND EXISTS (SELECT 1 FROM orders i
                      WHERE i.o_custkey = o.o_custkey AND i.o_orderpriority = '1-URGENT')
        GROUP BY o_custkey ORDER BY o_custkey""")),

    // ----------------------------------------------------------------
    // q99: CSV lifecycle — the ONE catalog query that exercises the
    // reference's actual file boundary end-to-end instead of the
    // driver's parquet (BigDataProject.R:41 read_csv → :159 select(
    // where(is.numeric)) → associationRules.R:48-51 cut(curbweight) →
    // clustering.R:24 na.omit → :568 write_csv and re-load):
    //   S1  explicit-schema header CSV scan of the reference's raw file
    //   P1  rename-all-lowercase at the boundary (car_ID → car_id)
    //   P6  select-by-type-predicate (numeric columns only)
    //   C6  R cut() (a,b] binning — curbweight 4066 (cars 48/49) falls
    //       outside the 4000 edge → null bucket
    //   F3  na.omit: drop-any-null removes exactly those 2 rows
    //   S3  CSV sink with header, then S2 re-load of the intermediate
    //       with an explicit schema (Double.toString round-trips, so the
    //       re-read values are bit-identical — which the oracle hash
    //       verifies, since DuckDB computes from the RAW csv only).
    // 203 rows x 17 cols, totally ordered by the unique car_id.
    "q99_csv_lifecycle" -> QueryDef(
      fn = (s, _) => {
        import org.apache.spark.sql.types._
        // S1: explicit schema (no inferSchema pass — one read, no extra scan)
        val raw = graft.pipeline.CarPricePipeline.loadExplicit(s,
          "/root/reference/CarPrice_Assignment.csv")
        // P1 + P6: lowercase names, keep numeric columns only
        val lowered = Cleaning.lowercaseColumns(raw)
        val numeric = lowered.select(lowered.schema.fields
          .filter(_.dataType.isInstanceOf[NumericType]).map(f => col(f.name)).toIndexedSeq: _*)
        // C6 + F3: R cut() with the reference's curbweight breaks, drop nulls
        val cleaned = numeric
          .withColumn("weight_cat", Cleaning.cutLabels(col("curbweight"),
            Seq[Double](0, 2000, 2500, 3000, 4000),
            Seq("Light", "Medium", "Heavy", "VeryHeavy")))
          .na.drop("any")
        // S3 + S2: header CSV sink, explicit-schema re-load of the intermediate
        val sink = java.nio.file.Files.createTempDirectory("q99_csv").toString + "/cleaned"
        cleaned.coalesce(1).write.option("header", "true").mode("overwrite").csv(sink)
        val interSchema = StructType(cleaned.schema.map(f => StructField(f.name, f.dataType)))
        s.read.option("header", "true").schema(interSchema).csv(sink)
          .orderBy("car_id")
      },
      oracle = Some("""
        WITH raw AS (
          SELECT * FROM read_csv('/root/reference/CarPrice_Assignment.csv', header=true,
            columns={'car_ID':'INTEGER','symboling':'INTEGER','CarName':'VARCHAR','fueltype':'VARCHAR',
                     'aspiration':'VARCHAR','doornumber':'VARCHAR','carbody':'VARCHAR','drivewheel':'VARCHAR',
                     'enginelocation':'VARCHAR','wheelbase':'DOUBLE','carlength':'DOUBLE','carwidth':'DOUBLE',
                     'carheight':'DOUBLE','curbweight':'INTEGER','enginetype':'VARCHAR','cylindernumber':'VARCHAR',
                     'enginesize':'INTEGER','fuelsystem':'VARCHAR','boreratio':'DOUBLE','stroke':'DOUBLE',
                     'compressionratio':'DOUBLE','horsepower':'INTEGER','peakrpm':'INTEGER','citympg':'INTEGER',
                     'highwaympg':'INTEGER','price':'DOUBLE'})),
        num AS (
          SELECT car_ID AS car_id, symboling, wheelbase, carlength, carwidth, carheight,
                 curbweight, enginesize, boreratio, stroke, compressionratio,
                 horsepower, peakrpm, citympg, highwaympg, price
          FROM raw),
        binned AS (
          SELECT *, CASE WHEN curbweight IS NULL OR curbweight < 0 OR curbweight > 4000 THEN NULL
                         WHEN curbweight <= 2000 THEN 'Light'
                         WHEN curbweight <= 2500 THEN 'Medium'
                         WHEN curbweight <= 3000 THEN 'Heavy'
                         ELSE 'VeryHeavy' END AS weight_cat
          FROM num)
        SELECT * FROM binned WHERE weight_cat IS NOT NULL ORDER BY car_id""")),

    // ----------------------------------------------------------------
    // q113: the FLAGSHIP CarPrice cleaning pipeline end-to-end as one
    // hashed frame (round 10) — clean → brand → cast → impute → winsor
    // cap → quartile price_bucket → log_price over the reference's raw
    // CSV (BigDataProject.R:41-130), with DuckDB replaying the ENTIRE
    // chain. q05/q08/q06/q07/q24 oracle each stage in isolation; this
    // row hash-verifies their composition on the reference's own data —
    // all 205 rows × 29 columns.
    //   - The raw file is complete (no nulls), so the impute stages are
    //     value-identity (their null paths are oracled by q05/q08); they
    //     still run, promoting every numeric column to double — which
    //     the replay mirrors via the double-typed CASE.
    //   - Winsor bounds are type-7 interpolated quantiles == DuckDB
    //     quantile_cont bit-for-bit (the q05/q06 machinery); capped
    //     values and breaks stay unrounded through the bucket CASE,
    //     exactly as the Spark chain computes them.
    //   - Doubles are emitted at 6 dp on both sides (log1p is the one
    //     transcendental — the q24 rule).
    "q113_carprice_golden" -> QueryDef(
      fn = (s, _) => {
        import org.apache.spark.sql.types.DoubleType
        val cleaned = graft.pipeline.CarPricePipeline.clean(
          graft.pipeline.CarPricePipeline.loadExplicit(s,
            "/root/reference/CarPrice_Assignment.csv"))
        val emit = cleaned.schema.fields.map { f =>
          if (f.dataType == DoubleType) round(col(f.name), 6).as(f.name)
          else col(f.name)
        }
        cleaned.select(emit.toIndexedSeq: _*).orderBy("car_id")
      },
      oracle = Some("""
        WITH raw AS (
          SELECT * FROM read_csv('/root/reference/CarPrice_Assignment.csv', header=true,
            columns={'car_ID':'INTEGER','symboling':'INTEGER','CarName':'VARCHAR','fueltype':'VARCHAR',
                     'aspiration':'VARCHAR','doornumber':'VARCHAR','carbody':'VARCHAR','drivewheel':'VARCHAR',
                     'enginelocation':'VARCHAR','wheelbase':'DOUBLE','carlength':'DOUBLE','carwidth':'DOUBLE',
                     'carheight':'DOUBLE','curbweight':'INTEGER','enginetype':'VARCHAR','cylindernumber':'VARCHAR',
                     'enginesize':'INTEGER','fuelsystem':'VARCHAR','boreratio':'DOUBLE','stroke':'DOUBLE',
                     'compressionratio':'DOUBLE','horsepower':'INTEGER','peakrpm':'INTEGER','citympg':'INTEGER',
                     'highwaympg':'INTEGER','price':'DOUBLE'})),
        low AS (
          SELECT car_ID AS car_id, symboling, CarName AS carname, fueltype, aspiration,
                 doornumber, carbody, drivewheel, enginelocation, wheelbase, carlength,
                 carwidth, carheight, curbweight, enginetype, cylindernumber, enginesize,
                 fuelsystem, boreratio, stroke, compressionratio,
                 CAST(horsepower AS DOUBLE) AS horsepower, CAST(peakrpm AS DOUBLE) AS peakrpm,
                 CAST(citympg AS DOUBLE) AS citympg, CAST(highwaympg AS DOUBLE) AS highwaympg,
                 price, split_part(CarName, ' ', 1) AS brand
          FROM raw),
        b AS (
          SELECT quantile_cont(car_id, 0.01) AS car_id_lo, quantile_cont(car_id, 0.99) AS car_id_hi,
                 quantile_cont(symboling, 0.01) AS symboling_lo, quantile_cont(symboling, 0.99) AS symboling_hi,
                 quantile_cont(wheelbase, 0.01) AS wheelbase_lo, quantile_cont(wheelbase, 0.99) AS wheelbase_hi,
                 quantile_cont(carlength, 0.01) AS carlength_lo, quantile_cont(carlength, 0.99) AS carlength_hi,
                 quantile_cont(carwidth, 0.01) AS carwidth_lo, quantile_cont(carwidth, 0.99) AS carwidth_hi,
                 quantile_cont(carheight, 0.01) AS carheight_lo, quantile_cont(carheight, 0.99) AS carheight_hi,
                 quantile_cont(curbweight, 0.01) AS curbweight_lo, quantile_cont(curbweight, 0.99) AS curbweight_hi,
                 quantile_cont(enginesize, 0.01) AS enginesize_lo, quantile_cont(enginesize, 0.99) AS enginesize_hi,
                 quantile_cont(boreratio, 0.01) AS boreratio_lo, quantile_cont(boreratio, 0.99) AS boreratio_hi,
                 quantile_cont(stroke, 0.01) AS stroke_lo, quantile_cont(stroke, 0.99) AS stroke_hi,
                 quantile_cont(compressionratio, 0.01) AS compressionratio_lo, quantile_cont(compressionratio, 0.99) AS compressionratio_hi,
                 quantile_cont(horsepower, 0.01) AS horsepower_lo, quantile_cont(horsepower, 0.99) AS horsepower_hi,
                 quantile_cont(peakrpm, 0.01) AS peakrpm_lo, quantile_cont(peakrpm, 0.99) AS peakrpm_hi,
                 quantile_cont(citympg, 0.01) AS citympg_lo, quantile_cont(citympg, 0.99) AS citympg_hi,
                 quantile_cont(highwaympg, 0.01) AS highwaympg_lo, quantile_cont(highwaympg, 0.99) AS highwaympg_hi,
                 quantile_cont(price, 0.01) AS price_lo, quantile_cont(price, 0.99) AS price_hi
          FROM low),
        cap AS (
          SELECT carname, fueltype, aspiration, doornumber, carbody, drivewheel,
                 enginelocation, enginetype, cylindernumber, fuelsystem, brand,
                 CASE WHEN car_id > car_id_hi THEN car_id_hi WHEN car_id < car_id_lo THEN car_id_lo ELSE car_id END AS car_id,
                 CASE WHEN symboling > symboling_hi THEN symboling_hi WHEN symboling < symboling_lo THEN symboling_lo ELSE symboling END AS symboling,
                 CASE WHEN wheelbase > wheelbase_hi THEN wheelbase_hi WHEN wheelbase < wheelbase_lo THEN wheelbase_lo ELSE wheelbase END AS wheelbase,
                 CASE WHEN carlength > carlength_hi THEN carlength_hi WHEN carlength < carlength_lo THEN carlength_lo ELSE carlength END AS carlength,
                 CASE WHEN carwidth > carwidth_hi THEN carwidth_hi WHEN carwidth < carwidth_lo THEN carwidth_lo ELSE carwidth END AS carwidth,
                 CASE WHEN carheight > carheight_hi THEN carheight_hi WHEN carheight < carheight_lo THEN carheight_lo ELSE carheight END AS carheight,
                 CASE WHEN curbweight > curbweight_hi THEN curbweight_hi WHEN curbweight < curbweight_lo THEN curbweight_lo ELSE curbweight END AS curbweight,
                 CASE WHEN enginesize > enginesize_hi THEN enginesize_hi WHEN enginesize < enginesize_lo THEN enginesize_lo ELSE enginesize END AS enginesize,
                 CASE WHEN boreratio > boreratio_hi THEN boreratio_hi WHEN boreratio < boreratio_lo THEN boreratio_lo ELSE boreratio END AS boreratio,
                 CASE WHEN stroke > stroke_hi THEN stroke_hi WHEN stroke < stroke_lo THEN stroke_lo ELSE stroke END AS stroke,
                 CASE WHEN compressionratio > compressionratio_hi THEN compressionratio_hi WHEN compressionratio < compressionratio_lo THEN compressionratio_lo ELSE compressionratio END AS compressionratio,
                 CASE WHEN horsepower > horsepower_hi THEN horsepower_hi WHEN horsepower < horsepower_lo THEN horsepower_lo ELSE horsepower END AS horsepower,
                 CASE WHEN peakrpm > peakrpm_hi THEN peakrpm_hi WHEN peakrpm < peakrpm_lo THEN peakrpm_lo ELSE peakrpm END AS peakrpm,
                 CASE WHEN citympg > citympg_hi THEN citympg_hi WHEN citympg < citympg_lo THEN citympg_lo ELSE citympg END AS citympg,
                 CASE WHEN highwaympg > highwaympg_hi THEN highwaympg_hi WHEN highwaympg < highwaympg_lo THEN highwaympg_lo ELSE highwaympg END AS highwaympg,
                 CASE WHEN price > price_hi THEN price_hi WHEN price < price_lo THEN price_lo ELSE price END AS price
          FROM low CROSS JOIN b),
        pb AS (
          SELECT quantile_cont(price, 0.00) AS p0, quantile_cont(price, 0.25) AS p1,
                 quantile_cont(price, 0.50) AS p2, quantile_cont(price, 0.75) AS p3,
                 quantile_cont(price, 1.00) AS p4
          FROM cap)
        SELECT ROUND(car_id, 6) AS car_id, ROUND(symboling, 6) AS symboling, carname,
               fueltype, aspiration, doornumber, carbody, drivewheel, enginelocation,
               ROUND(wheelbase, 6) AS wheelbase, ROUND(carlength, 6) AS carlength,
               ROUND(carwidth, 6) AS carwidth, ROUND(carheight, 6) AS carheight,
               ROUND(curbweight, 6) AS curbweight, enginetype, cylindernumber,
               ROUND(enginesize, 6) AS enginesize, fuelsystem,
               ROUND(boreratio, 6) AS boreratio, ROUND(stroke, 6) AS stroke,
               ROUND(compressionratio, 6) AS compressionratio,
               ROUND(horsepower, 6) AS horsepower, ROUND(peakrpm, 6) AS peakrpm,
               ROUND(citympg, 6) AS citympg, ROUND(highwaympg, 6) AS highwaympg,
               ROUND(price, 6) AS price, brand,
               CASE WHEN price IS NULL OR price < p0 OR price > p4 THEN NULL
                    WHEN price <= p1 THEN 'Low'
                    WHEN price <= p2 THEN 'Medium'
                    WHEN price <= p3 THEN 'High'
                    ELSE 'VeryHigh' END AS price_bucket,
               ROUND(ln(1 + price), 6) AS log_price
        FROM cap CROSS JOIN pb ORDER BY car_id"""))
  )
}
