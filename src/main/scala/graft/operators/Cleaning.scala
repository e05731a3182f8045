package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.NumericType

/** Cleaning / preparation operators mirroring the reference pipeline's
  * semantics (see SURVEY.md §2.2-2.6; reference: BigDataProject.R:41-130):
  * schema normalization, median/mode imputation, IQR outlier capping,
  * quantile bucketing with R `cut` semantics, top-n-with-ties.
  *
  * Scale notes (100 TB): every op here is a single scan + (for the
  * quantile-based ones) one tiny driver round-trip for the break values —
  * the same shape R uses, but distributed. All quantiles for a multi-column
  * impute/cap are computed in ONE set of narrow passes, not one scan per
  * column. Exact type-7 quantiles (R quantile, DuckDB quantile_cont) by
  * sketch-bracketed selection ([[bracketQuantiles]]) are the default for
  * oracle parity; pass `exact=false` to switch to `approx_percentile`
  * for cardinality-unbounded columns at scale.
  */
object Cleaning {

  /** P1 (BigDataProject.R:51): lowercase all column names. */
  def lowercaseColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*)

  /** P3 (BigDataProject.R:66-75): cast columns; bad strings → null, the
    * observable behavior of R's as.numeric-with-warning. */
  def castColumns(df: DataFrame, cols: Seq[String], to: String): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(to)))

  /** P4 (BigDataProject.R:61-63): first whitespace-separated word. */
  def firstWord(c: Column): Column = substring_index(c, " ", 1)

  private def pctExpr(c: String, probs: Seq[Double], exact: Boolean): Column = {
    val arr = probs.mkString("array(", ",", ")")
    if (exact) expr(s"percentile(`$c`, $arr)")
    else expr(s"approx_percentile(`$c`, $arr, 10000)")
  }

  /** Exact quantiles for several columns. `exact = true` routes through
    * [[bracketQuantiles]] — sketch-bracketed selection, 3 narrow scans,
    * no per-group buffering, the shape that survives 100 TB. Type-7
    * interpolation == R quantile == DuckDB quantile_cont either way;
    * `exact = false` is a single approx_percentile pass for
    * cardinality-unbounded columns where a sketch answer suffices. */
  def quantiles(df: DataFrame, cols: Seq[String], probs: Seq[Double],
                exact: Boolean = true): Map[String, Seq[Double]] =
    if (exact) bracketQuantiles(df, cols, probs)
    else {
      val aggs = cols.map(c => pctExpr(c, probs, exact = false).as(c))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      cols.map(c => c -> row.getSeq[Double](row.fieldIndex(c))).toMap
    }

  /** Exact type-7 quantiles of several columns: the one-group case of
    * [[selectQuantiles]], three narrow scans for all columns together.
    * `maxBracket` caps how many bracket members pass 3 may pull to the
    * driver; `onRetry(col, cause, accuracy)` reports each retry (causes
    * `oversize`, `rankmiss`, `fallback`). */
  def bracketQuantiles(df: DataFrame, cols: Seq[String], probs: Seq[Double],
                       accuracy: Int = 10000,
                       maxBracket: Long = 4000000L,
                       onRetry: (String, String, Long) => Unit = (_, _, _) => ())
      : Map[String, Seq[Double]] = {
    val q = selectQuantiles(df, None, cols, probs, accuracy, maxBracket, onRetry)
    cols.map(c => c -> q(("", c))).toMap
  }

  /** Exact type-7 quantiles per (group, column) of `groupCol`'s groups
    * in the data, in the same three scans as [[bracketQuantiles]] plus
    * one collect of the distinct groups, instead of three scans per
    * group. Values equal the filtered per-group [[bracketQuantiles]]
    * calls (pinned in CleaningSpec). A group absent from the data is
    * absent from the result, where a filtered call would return NaNs.
    * Driver memory grows with groups × columns × brackets, so callers
    * bound their group count (KdeNb's maxClasses). */
  def bracketQuantilesByGroup(df: DataFrame, groupCol: String,
                              cols: Seq[String], probs: Seq[Double],
                              accuracy: Int = 10000,
                              maxBracket: Long = 4000000L,
                              onRetry: (String, String, Long) => Unit = (_, _, _) => ())
      : Map[(String, String), Seq[Double]] =
    selectQuantiles(df, Some(groupCol), cols, probs, accuracy, maxBracket, onRetry)

  /** Sketch-bracketed exact selection, the exact-quantile path that
    * survives 100 TB. The `percentile` aggregate buffers every value of
    * a group in one aggregation buffer, and a distributed sort pays a
    * whole-data range shuffle; this pays three narrow aggregates with no
    * shuffle and no sort of the data, shared by every column and group:
    *
    *  1. count/min/max and an `approx_percentile` sketch at the padded
    *     probabilities p ± pad bracket each wanted order statistic (a
    *     global aggregate, or with a group key one `groupBy` aggregate
    *     per (accuracy, pad) tier);
    *  2. per bracket, the count below it, inside it and at each endpoint;
    *  3. a collect of each bracket's strict interior only, from which the
    *     order statistics are selected on the driver.
    *
    * With a group key every pass-2/3 counter and collect is predicated
    * on its group, and a pass 0 collects the distinct groups. Exactness
    * never depends on the sketch. Endpoint duplicate mass resolves by
    * count arithmetic (a rank inside the lo-mass IS lo), and a degenerate
    * bracket (lo == hi) resolves to its value with no collection, so
    * heavy duplicates never oversize a bracket. The two ways a bracket
    * can fail retry differently, per (group, column):
    *
    *  - rank miss (a wanted rank fell outside its bracket, the small-n
    *    rounding case): widen `pad` ×8 at the same accuracy; after 4
    *    widens, take the exact `percentile` aggregate, which is safe at
    *    the small n where rank misses happen;
    *  - oversize (an interior holds more than `maxBracket` members; its
    *    population ≈ 2·pad·n, so predicted from n right after pass 1):
    *    raise `accuracy` so the expected bracket shrinks to about
    *    maxBracket/4, with `pad` ∝ 1/accuracy. It never widens and never
    *    falls back: the single-buffer aggregate would OOM at exactly the
    *    scale this path exists for.
    *
    * Interpolation is the Percentile aggregate's weighted form
    * (hi − pos)·x[lo] + (pos − lo)·x[hi], so values equal the aggregate's
    * (pinned in CleaningSpec and PropertySpec). An all-null column or
    * group yields NaNs. Results are keyed (group, column), with group ""
    * when ungrouped. */
  private def selectQuantiles(df: DataFrame, groupCol: Option[String],
                              cols: Seq[String], probs: Seq[Double], accuracy: Int,
                              maxBracket: Long, onRetry: (String, String, Long) => Unit)
      : Map[(String, String), Seq[Double]] = {
    val grouped = groupCol.isDefined
    val caller = if (grouped) "bracketQuantilesByGroup" else "bracketQuantiles"
    val vcols = cols.indices.map(i => s"__q$i")
    val vals = df.select(groupCol.map(g => col(s"`$g`").cast("string").as("__g")).toSeq ++
      cols.zip(vcols).map { case (c, v) => col(s"`$c`").cast("double").as(v) }: _*)
    // pass 0 (grouped only): the groups present in the data
    val groups =
      if (!grouped) Seq("")
      else vals.select("__g").filter(col("__g").isNotNull)
        .distinct().collect().map(_.getString(0)).toSeq.sorted
    val groupIndex = groups.zipWithIndex.toMap
    def inGroup(gi: Int, c: Column): Column =
      if (grouped) col("__g") === lit(groups(gi)) && c else c
    val out = scala.collection.mutable.Map[(String, String), Seq[Double]]()
    // per (group, column) retry state: sketch accuracy, bracket
    // half-width, and how many rank-miss widens it has burned
    case class St(gi: Int, c: String, v: String, acc: Long, pad: Double, widens: Int) {
      def tag: String = if (grouped) s"${gi}_$v" else v
      def key: (String, String) = (groups(gi), c)
    }
    val maxAcc = 100000000L // sketch memory cap: covers n/maxBracket up to 2.5e7
    var remaining: Seq[St] = for (gi <- groups.indices; (c, v) <- cols.zip(vcols))
      yield St(gi, c, v, accuracy.toLong, 2.0 / accuracy, 0)
    var attempt = 0
    while (remaining.nonEmpty && attempt < 12) {
      // pass 1: one global aggregate, or one grouped aggregate per tier
      val r1 = scala.collection.mutable.Map[(Int, String), Row]()
      remaining.groupBy(st => if (grouped) (st.acc, st.pad) else ()).values.foreach { sts =>
        val aggs = sts.distinctBy(_.v).flatMap { st =>
          val sketchProbs = probs.flatMap(p =>
            Seq(math.max(0.0, p - st.pad), math.min(1.0, p + st.pad)))
          Seq(count(col(st.v)).as(s"n_${st.v}"), min(col(st.v)).as(s"mn_${st.v}"),
            max(col(st.v)).as(s"mx_${st.v}"),
            expr(s"approx_percentile(${st.v}, array(${sketchProbs.mkString(", ")}), ${st.acc})")
              .as(s"ap_${st.v}"))
        }
        if (!grouped) {
          val r = vals.agg(aggs.head, aggs.tail: _*).head()
          sts.foreach(st => r1((st.gi, st.v)) = r)
        } else {
          val rows = vals.filter(col("__g").isin(sts.map(st => groups(st.gi)).distinct: _*))
            .groupBy(col("__g")).agg(aggs.head, aggs.tail: _*)
            .collect().map(r => groupIndex(r.getString(0)) -> r).toMap
          sts.foreach(st => rows.get(st.gi).foreach(r => r1((st.gi, st.v)) = r))
        }
      }
      case class Plan(st: St, n: Long, ranks: Seq[Long],
                      brackets: Seq[(Double, Double)])
      val next = scala.collection.mutable.Buffer[St]()
      def escalate(st: St, want: Long): Unit = {
        onRetry(st.c, "oversize", want)
        next += st.copy(acc = want, pad = 2.0 / want)
      }
      val plans = remaining.flatMap { st =>
        val r = r1.get((st.gi, st.v))
        val n = r.fold(0L)(_.getAs[Long](s"n_${st.v}"))
        if (n == 0) { out(st.key) = probs.map(_ => Double.NaN); None }
        else if (2.0 * st.pad * n > maxBracket && st.acc < maxAcc) {
          // predicted oversize: escalate before paying passes 2-3
          escalate(st, math.min(maxAcc, math.max(st.acc * 8, 8L * (n / maxBracket + 1))))
          None
        } else {
          val (mn, mx) = (r.get.getAs[Double](s"mn_${st.v}"), r.get.getAs[Double](s"mx_${st.v}"))
          val ap = r.get.getSeq[Double](r.get.fieldIndex(s"ap_${st.v}"))
          val ranks = probs.map(_ * (n - 1)).flatMap(pos =>
            Seq(math.floor(pos).toLong, math.ceil(pos).toLong)).distinct.sorted
          val raw = probs.indices.map { j =>
            val lo = if (probs(j) - st.pad <= 0) mn else ap(2 * j)
            val hi = if (probs(j) + st.pad >= 1) mx else ap(2 * j + 1)
            (math.min(lo, hi), math.max(lo, hi))
          }.sortBy(_._1)
          val merged = raw.foldLeft(List.empty[(Double, Double)]) {
            case ((plo, phi) :: rest, (lo, hi)) if lo <= phi =>
              (plo, math.max(phi, hi)) :: rest
            case (acc0, b) => b :: acc0
          }.reverse
          Some(Plan(st, n, ranks, merged))
        }
      }
      if (plans.nonEmpty) {
        // pass 2: each bracket split into below / ==lo / interior / ==hi
        val cntAggs = plans.flatMap { pl =>
          val (v, t) = (col(pl.st.v), pl.st.tag)
          pl.brackets.zipWithIndex.flatMap { case ((lo, hi), i) =>
            Seq(sum(when(inGroup(pl.st.gi, v < lo), 1L).otherwise(0L)).as(s"lt_${t}_$i"),
              sum(when(inGroup(pl.st.gi, v >= lo && v <= hi), 1L).otherwise(0L))
                .as(s"in_${t}_$i"),
              sum(when(inGroup(pl.st.gi, v === lo), 1L).otherwise(0L)).as(s"lo_${t}_$i"),
              sum(when(inGroup(pl.st.gi, v === hi), 1L).otherwise(0L)).as(s"hi_${t}_$i"))
          }
        }
        val r2 = vals.agg(cntAggs.head, cntAggs.tail: _*).head()
        case class B(lt: Long, in: Long, eqLo: Long, interior: Long) {
          def holds(k: Long): Boolean = k >= lt && k < lt + in
        }
        val metered = plans.map { pl =>
          pl -> pl.brackets.indices.map { i =>
            def get(name: String) = r2.getAs[Long](s"${name}_${pl.st.tag}_$i")
            val (blo, bhi) = pl.brackets(i)
            val interior = if (blo == bhi) 0L else get("in") - get("lo") - get("hi")
            B(get("lt"), get("in"), get("lo"), interior)
          }
        }
        def covered(pl: Plan, m: Seq[B]) = pl.ranks.forall(k => m.exists(_.holds(k)))
        val (ready, retry) = metered.partition { case (pl, m) =>
          covered(pl, m) && m.forall(_.interior <= maxBracket)
        }
        if (ready.nonEmpty) {
          // pass 3: collect only the strict interiors
          val colAggs = ready.flatMap { case (pl, m) =>
            val v = col(pl.st.v)
            pl.brackets.zipWithIndex.collect {
              case ((lo, hi), i) if m(i).interior > 0 =>
                sort_array(collect_list(when(inGroup(pl.st.gi, v > lo && v < hi), v)))
                  .as(s"vs_${pl.st.tag}_$i")
            }
          }
          val r3 = if (colAggs.nonEmpty)
            vals.agg(colAggs.head, colAggs.tail: _*).head() else null
          ready.foreach { case (pl, m) =>
            val byRank = pl.ranks.map { k =>
              val i = m.indexWhere(_.holds(k))
              val off = k - m(i).lt
              k -> (
                if (off < m(i).eqLo) pl.brackets(i)._1
                else if (off < m(i).eqLo + m(i).interior)
                  r3.getSeq[Double](r3.fieldIndex(s"vs_${pl.st.tag}_$i"))((off - m(i).eqLo).toInt)
                else pl.brackets(i)._2)
            }.toMap
            out(pl.st.key) = probs.map { p =>
              val pos = p * (pl.n - 1)
              val lo = math.floor(pos).toLong
              val hi = math.ceil(pos).toLong
              if (hi == lo) byRank(lo)
              else (hi - pos) * byRank(lo) + (pos - lo) * byRank(hi)
            }
          }
        }
        retry.foreach { case (pl, m) =>
          if (covered(pl, m)) escalate(pl.st, math.min(maxAcc, pl.st.acc * 8))
          else {
            onRetry(pl.st.c, "rankmiss", pl.st.acc)
            next += pl.st.copy(pad = math.min(pl.st.pad * 8, 0.5), widens = pl.st.widens + 1)
          }
        }
      }
      // the exact-percentile safety net, for rank misses only; oversize
      // escalation converges instead (acc ≥ 8n/maxBracket bounds the
      // expected bracket at maxBracket/4)
      val (fallback, keep) = next.partition(_.widens > 4)
      fallback.groupBy(_.gi).foreach { case (gi, sts) =>
        val aggs = sts.toSeq.map(st => pctExpr(st.v, probs, exact = true).as(st.v))
        val rows = if (grouped) vals.filter(col("__g") === lit(groups(gi))) else vals
        val row = rows.agg(aggs.head, aggs.tail: _*).head()
        sts.foreach { st =>
          onRetry(st.c, "fallback", st.acc)
          out(st.key) = row.getSeq[Double](row.fieldIndex(st.v))
        }
      }
      remaining = keep.toSeq
      attempt += 1
    }
    remaining.foreach { st =>
      val what = if (grouped) s"(${groups(st.gi)}, ${st.c})" else s"column '${st.c}'"
      throw new IllegalStateException(
        s"$caller: $what still unresolved after $attempt attempts " +
          s"(accuracy=${st.acc}, pad=${st.pad}); refusing the single-buffer " +
          "percentile fallback, which cannot run at this scale")
    }
    out.toMap
  }

  /** A2 + F8 (BigDataProject.R:86-87): replace nulls with the column
    * median, all medians from one aggregate pass. */
  def medianImpute(df: DataFrame, cols: Seq[String],
                   exact: Boolean = true): DataFrame = {
    val med = quantiles(df, cols, Seq(0.5), exact)
    cols.foldLeft(df)((d, c) => d.withColumn(c, coalesce(col(c), lit(med(c).head))))
  }

  /** A3 (BigDataProject.R:89-94): most frequent value, ties broken by
    * value ascending (R `table` sorts levels lexically). */
  def mode(df: DataFrame, c: String): Option[Any] =
    df.filter(col(c).isNotNull).groupBy(col(c)).count()
      .orderBy(desc("count"), asc(c))
      .limit(1).collect().headOption.map(_.get(0))

  /** F8 via A3: impute nulls in categorical columns with the mode — ONE
    * job for all columns (round-5; A1/A2 were already one-pass, mode was
    * the per-column-job straggler): stack (column, value) pairs with one
    * generate, count in one hash aggregate, take each column's argmax
    * with [[mode]]'s native per-column tie-break (count desc, then value
    * ascending in the COLUMN'S OWN type — lexical for string/factor
    * columns exactly as R `table` sorts levels, numeric for numeric
    * columns where lexical order diverges, e.g. a 9-vs-10 tie: lexical
    * "10" < "9" would pick 10, native picks 9; parity with per-column
    * [[mode]] pinned in CleaningSpec on exactly such a tie). Two typed
    * sort keys re-cast the stacked string faithfully per column family:
    * integral and in-range decimal columns get decimal(38,18) — exact over the
    * FULL Long range, where a double key would collapse distinct values
    * beyond 2^53 and fall back to lexical order that diverges from
    * per-column [[mode]]'s native ordering (tied large negative longs
    * sort reversed lexically; pinned in CleaningSpec) — float/double
    * columns get a double key (their strings round-trip exactly);
    * non-numeric columns leave both keys null and order by the lexical
    * key alone. Within one window partition (= one column) only that
    * column's key is ever non-null, so the three-key orderBy is the
    * per-column native order. The rank window partitions by column
    * name — it sees the value-cardinality counts frame, never corpus
    * rows. Non-string columns round-trip through their string form and
    * are cast back. */
  def modeImpute(df: DataFrame, cols: Seq[String]): DataFrame = {
    if (cols.isEmpty) return df
    import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}
    // DecimalType bound: the shared exact key is decimal(38,18), which
    // holds 20 integer digits. A wider decimal (p−s > 20) would OVERFLOW
    // the cast to null — and asc_nulls_first would then sort the
    // overflowed values ahead of valid ones, diverging from the
    // per-column native order — and s > 18 would silently collapse
    // values differing past 18 fractional digits. Such columns fall to
    // the double key instead: monotone over the full decimal range
    // (never null), with ties beyond double's 53-bit mantissa resolved
    // by the final lexical key — a documented approximation only for
    // decimals outside (p−s ≤ 20, s ≤ 18).
    val exactCols = cols.filter(c => df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType => d.precision - d.scale <= 20 && d.scale <= 18
      case _ => false
    })
    val fpCols = cols.filter(c =>
      df.schema(c).dataType.isInstanceOf[NumericType] && !exactCols.contains(c))
    val stacked = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("__c"), col(c).cast("string").as("__v"))): _*)).as("__s"))
      .select(col("__s.__c").as("__c"), col("__s.__v").as("__v"))
      .filter(col("__v").isNotNull)
    val exactKey =
      if (exactCols.isEmpty) lit(null).cast("decimal(38,18)")
      else when(col("__c").isin(exactCols: _*), col("__v").cast("decimal(38,18)"))
    val fpKey =
      if (fpCols.isEmpty) lit(null).cast("double")
      else when(col("__c").isin(fpCols: _*), col("__v").cast("double"))
    val w = Window.partitionBy("__c")
      .orderBy(desc("__cnt"), asc_nulls_first("__nke"),
        asc_nulls_first("__nkf"), asc("__v"))
    val modes = stacked.groupBy("__c", "__v").agg(count(lit(1)).as("__cnt"))
      .withColumn("__nke", exactKey).withColumn("__nkf", fpKey)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select("__c", "__v").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    cols.foldLeft(df) { (d, c) =>
      modes.get(c) match {
        case Some(v) =>
          d.withColumn(c, coalesce(col(c), lit(v).cast(df.schema(c).dataType)))
        case None => d
      }
    }
  }

  /** A4 + F8 (BigDataProject.R:99-115 cap_outliers_iqr): clamp each column
    * to [q1 - k*iqr, q3 + k*iqr]. Nulls stay null (R ifelse keeps NA —
    * deliberately NOT greatest/least, which would swallow nulls). All
    * bounds from one aggregate pass. */
  def iqrCap(df: DataFrame, cols: Seq[String], k: Double = 1.5,
             exact: Boolean = true): DataFrame = {
    // exact path = sketch-bracketed selection for ALL columns in the
    // same 3 narrow scans (no per-group percentile buffering)
    val q = quantiles(df, cols, Seq(0.25, 0.75), exact)
    cols.foldLeft(df) { (d, c) =>
      val Seq(q1, q3) = q(c)
      val iqr = q3 - q1
      val lb = q1 - k * iqr
      val ub = q3 + k * iqr
      d.withColumn(c,
        when(col(c) > ub, lit(ub))
          .when(col(c) < lb, lit(lb))
          .otherwise(col(c)))
    }
  }

  /** Winsorize: clamp each column to its [pLo, pHi] exact percentiles
    * (all bounds from one aggregate pass). This is the rule the
    * reference's committed golden outputs actually reflect (1%/99% — e.g.
    * car_id 1,2,3 → 3.04 = type-7 quantile(x, .01); see
    * car_prices_cleaned.csv), even though the current script text does
    * 1.5*IQR capping. Both are provided; golden tests use this one. */
  def winsorize(df: DataFrame, cols: Seq[String], pLo: Double = 0.01,
                pHi: Double = 0.99, exact: Boolean = true): DataFrame = {
    val q = quantiles(df, cols, Seq(pLo, pHi), exact)
    cols.foldLeft(df) { (d, c) =>
      val Seq(lo, hi) = q(c)
      d.withColumn(c, clamp(col(c), lo, hi))
    }
  }

  /** Clamp expression form (no quantiles), null-preserving. */
  def clamp(c: Column, lb: Double, ub: Double): Column =
    when(c > ub, lit(ub)).when(c < lb, lit(lb)).otherwise(c)

  /** C6 (BigDataProject.R:123-128; associationRules.R:24-51): R
    * `cut(x, breaks, labels, include.lowest=TRUE)` — intervals (a,b],
    * first interval [b0,b1], out-of-range → null. */
  def cutLabels(c: Column, breaks: Seq[Double], labels: Seq[String]): Column = {
    require(breaks.length == labels.length + 1, "breaks must be labels+1")
    val low = breaks.head
    val base: Column = when(c.isNull || c < low || c > breaks.last, lit(null))
    val chain = labels.zip(breaks.tail).foldLeft(base) {
      case (acc, (l, b)) => acc.when(c <= b, lit(l))
    }
    chain.otherwise(lit(null))
  }

  /** A5 + C6: bucket a column by its own quantile breaks (default
    * quartiles → 4 labels). One agg pass for breaks, then a when-chain. */
  def quantileBucket(df: DataFrame, c: String, outCol: String,
                     labels: Seq[String] = Seq("Low", "Medium", "High", "VeryHigh"),
                     exact: Boolean = true): DataFrame = {
    val n = labels.length
    val probs = (0 to n).map(_.toDouble / n)
    val breaks = quantiles(df, Seq(c), probs, exact)(c)
    df.withColumn(outCol, cutLabels(col(c), breaks, labels))
  }

  /** A7 (BigDataProject.R:153): top-n by a measure, KEEPING ties (R
    * top_n semantics). Rank-free scale-safe formulation (round 8): the
    * naive `rank().over(Window.orderBy(...))` is a partitionless window —
    * a single-partition global sort if ever fed a raw high-cardinality
    * frame. Instead the cut value is found by a DISTRIBUTED top-n
    * (TakeOrderedAndProject over non-null measures) and rows are kept by
    * one broadcast-filter pass: `measure >= nth largest` keeps exactly
    * the rank()<=n rows (every tie at the cut passes). Null measures sort
    * last under desc, so they survive only when fewer than n non-null
    * rows exist — the `ntop < n` leg reproduces that rank edge exactly
    * (equivalence vs the window formulation pinned in CleaningSpec,
    * including the all-null and n>rows edges). Two narrow scans replace
    * one all-rows single-partition sort: the shape that survives 10⁹
    * rows. */
  def topNWithTies(df: DataFrame, orderCol: String, n: Int): DataFrame = {
    val cut = df.select(col(orderCol).as("__v")).filter(col("__v").isNotNull)
      .orderBy(desc("__v")).limit(n)
      .agg(min("__v").as("__thr"), count(lit(1)).as("__ntop"))
    df.join(broadcast(cut))
      .filter(col(orderCol) >= col("__thr") ||
        (col(orderCol).isNull && col("__ntop") < n))
      .drop("__thr", "__ntop")
  }

  /** A6: value counts, count desc then value asc (pinned tie-break). */
  def valueCounts(df: DataFrame, c: String): DataFrame =
    df.groupBy(col(c)).count().orderBy(desc("count"), asc(c))
}
