package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
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
  * impute/cap are computed in ONE aggregate pass, not one scan per column.
  * Exact `percentile` (type-7, matches R/DuckDB quantile_cont) is the
  * default for oracle parity; pass `exact=false` to switch to
  * `approx_percentile` for cardinality-unbounded columns at scale.
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

  /** Multi-column exact type-7 quantiles via sketch-bracketed selection
    * (see [[sortedQuantiles]] for the algorithm rationale). All columns
    * share the same 3 narrow scans: (1) count/min/max + approx sketch at
    * padded probabilities, (2) below/inside counts per bracket, (3)
    * collect only the bracket members and select the exact order
    * statistics locally. Exactness never depends on the sketch, and the
    * two ways a bracket can fail retry DIFFERENTLY:
    *
    *  - rank miss (a wanted order statistic fell outside its bracket —
    *    sketch rank drift): widen `pad` ×8 at the same accuracy;
    *  - oversize (a bracket holds more than `maxBracket` members —
    *    bracket population ≈ 2·pad·n, so this is the NORMAL case once
    *    n ≳ maxBracket·accuracy/4): raise `accuracy` so the expected
    *    bracket shrinks to ~maxBracket/4 and shrink `pad` ∝ 1/accuracy.
    *    Widening here would be guaranteed-worse; falling back to the
    *    single-buffer `percentile` aggregate would OOM at exactly the
    *    scale this operator exists for, so the oversize cause NEVER
    *    takes that fallback.
    *
    * Oversize is also predicted from n right after pass 1 (2·pad·n >
    * maxBracket) so the escalation happens before paying passes 2–3, and
    * a degenerate bracket (lo == hi — heavy duplicate mass pinning the
    * rank to a single value) resolves to that value directly with no
    * member collection, so duplicate-heavy columns can never oversize
    * their way into a fallback either. Only the rank-miss cause, after
    * exhausting its widens, reaches the exact `percentile` safety net —
    * and rank misses are a small-n rounding phenomenon, where that
    * aggregate is safe.
    *
    * `maxBracket` is the driver-side collection cap (how many bracket
    * members pass 3 may pull to the driver); `onRetry(col, cause,
    * accuracy)` is an instrumentation hook (causes: "oversize",
    * "rankmiss", "fallback") used by the spec that forces each path. */
  def bracketQuantiles(df: DataFrame, cols: Seq[String], probs: Seq[Double],
                       accuracy: Int = 10000,
                       maxBracket: Long = 4000000L,
                       onRetry: (String, String, Long) => Unit = (_, _, _) => ())
      : Map[String, Seq[Double]] = {
    val vcols = cols.indices.map(i => s"__q$i")
    val vals = df.select(cols.zip(vcols).map { case (c, v) =>
      col(s"`$c`").cast("double").as(v) }: _*)
    val out = scala.collection.mutable.Map[String, Seq[Double]]()
    // per-column retry state: sketch accuracy, bracket half-width, and
    // how many rank-miss widens / oversize escalations it has burned
    case class St(c: String, v: String, acc: Long, pad: Double,
                  widens: Int, escalations: Int)
    val maxAcc = 100000000L // sketch memory cap: covers n/maxBracket up to 2.5e7
    var remaining: Seq[St] = cols.zip(vcols).map { case (c, v) =>
      St(c, v, accuracy.toLong, 2.0 / accuracy, 0, 0) }
    var attempt = 0
    while (remaining.nonEmpty && attempt < 12) {
      val aggs = remaining.flatMap { st =>
        val sketchProbs = probs.flatMap(p =>
          Seq(math.max(0.0, p - st.pad), math.min(1.0, p + st.pad)))
        Seq(count(col(st.v)).as(s"n_${st.v}"), min(col(st.v)).as(s"mn_${st.v}"),
          max(col(st.v)).as(s"mx_${st.v}"),
          expr(s"approx_percentile(${st.v}, array(${sketchProbs.mkString(", ")}), ${st.acc})")
            .as(s"ap_${st.v}"))
      }
      val r1 = vals.agg(aggs.head, aggs.tail: _*).head()
      // per column: wanted ranks + merged brackets from the sketch
      case class Plan(st: St, n: Long, ranks: Seq[Long],
                      brackets: Seq[(Double, Double)])
      val next = scala.collection.mutable.Buffer[St]()
      val plans = remaining.flatMap { st =>
        val n = r1.getAs[Long](s"n_${st.v}")
        if (n == 0) { out(st.c) = probs.map(_ => Double.NaN); None }
        else if (2.0 * st.pad * n > maxBracket && st.acc < maxAcc) {
          // predicted oversize: bracket population ≈ 2·pad·n would blow
          // the collection cap — escalate accuracy (target bracket
          // ≈ maxBracket/4) before paying passes 2-3
          val want = math.min(maxAcc, math.max(st.acc * 8, 8L * (n / maxBracket + 1)))
          onRetry(st.c, "oversize", want)
          next += st.copy(acc = want, pad = 2.0 / want,
            escalations = st.escalations + 1)
          None
        } else {
          val (mn, mx) = (r1.getAs[Double](s"mn_${st.v}"), r1.getAs[Double](s"mx_${st.v}"))
          val ap = r1.getSeq[Double](r1.fieldIndex(s"ap_${st.v}"))
          val ranks = probs.map(_ * (n - 1)).flatMap(pos =>
            Seq(math.floor(pos).toLong, math.ceil(pos).toLong)).distinct.sorted
          // rank-vs-prob rounding at small n can push floor/ceil ranks
          // outside a tight bracket — the pass-2 coverage check catches
          // that and the rank-miss retry widens `pad`
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
        // pass 2 splits each bracket into ==lo / strict interior / ==hi:
        // endpoint duplicate mass resolves by COUNT arithmetic (a rank
        // inside the lo-mass IS lo), so only the strict interior is ever
        // collected. Heavy duplicates at a bracket edge — including the
        // boundary-rank case where a wanted rank sits exactly where a
        // heavy value begins — can therefore never oversize a bracket;
        // the size cap applies to the interior alone.
        val cntAggs = plans.flatMap { pl =>
          pl.brackets.zipWithIndex.flatMap { case ((lo, hi), i) =>
            Seq(sum(when(col(pl.st.v) < lo, 1L).otherwise(0L)).as(s"lt_${pl.st.v}_$i"),
              sum(when(col(pl.st.v) >= lo && col(pl.st.v) <= hi, 1L).otherwise(0L))
                .as(s"in_${pl.st.v}_$i"),
              sum(when(col(pl.st.v) === lo, 1L).otherwise(0L)).as(s"lo_${pl.st.v}_$i"),
              sum(when(col(pl.st.v) === hi, 1L).otherwise(0L)).as(s"hi_${pl.st.v}_$i"))
          }
        }
        val r2 = vals.agg(cntAggs.head, cntAggs.tail: _*).head()
        case class B(lt: Long, in: Long, eqLo: Long, eqHi: Long, interior: Long)
        def meta(pl: Plan) = pl.brackets.indices.map { i =>
          val lt = r2.getAs[Long](s"lt_${pl.st.v}_$i")
          val in = r2.getAs[Long](s"in_${pl.st.v}_$i")
          val eqLo = r2.getAs[Long](s"lo_${pl.st.v}_$i")
          val eqHi = r2.getAs[Long](s"hi_${pl.st.v}_$i")
          val (blo, bhi) = pl.brackets(i)
          val interior = if (blo == bhi) 0L else in - eqLo - eqHi
          B(lt, in, eqLo, eqHi, interior)
        }
        val (ready, retry) = plans.partition { pl =>
          val m = meta(pl)
          pl.ranks.forall(k => m.exists(b => k >= b.lt && k < b.lt + b.in)) &&
            m.forall(_.interior <= maxBracket)
        }
        if (ready.nonEmpty) {
          val interiors = ready.map(pl => pl -> meta(pl))
          val colAggs = interiors.flatMap { case (pl, m) =>
            pl.brackets.zipWithIndex.collect {
              case ((lo, hi), i) if m(i).interior > 0 =>
                sort_array(collect_list(when(col(pl.st.v) > lo && col(pl.st.v) < hi,
                  col(pl.st.v)))).as(s"vs_${pl.st.v}_$i")
            }
          }
          val r3 = if (colAggs.nonEmpty)
            vals.agg(colAggs.head, colAggs.tail: _*).head() else null
          interiors.foreach { case (pl, m) =>
            val byRank = pl.ranks.map { k =>
              val i = m.indices.find(i => k >= m(i).lt && k < m(i).lt + m(i).in).get
              val off = k - m(i).lt
              val value =
                if (off < m(i).eqLo) pl.brackets(i)._1
                else if (off < m(i).eqLo + m(i).interior)
                  r3.getSeq[Double](r3.fieldIndex(s"vs_${pl.st.v}_$i"))((off - m(i).eqLo).toInt)
                else pl.brackets(i)._2
              k -> value
            }.toMap
            out(pl.st.c) = probs.map { p =>
              val pos = p * (pl.n - 1)
              val lo = math.floor(pos).toLong
              val hi = math.ceil(pos).toLong
              if (hi == lo) byRank(lo)
              else (hi - pos) * byRank(lo) + (pos - lo) * byRank(hi)
            }
          }
        }
        // cause-split retry: rank miss widens pad at the same accuracy;
        // oversize (all wanted ranks covered, some live bracket too big)
        // escalates accuracy and shrinks pad — NEVER widens
        retry.foreach { pl =>
          val m = meta(pl)
          val covered = pl.ranks.forall(k => m.exists(b => k >= b.lt && k < b.lt + b.in))
          if (!covered) {
            onRetry(pl.st.c, "rankmiss", pl.st.acc)
            next += pl.st.copy(pad = math.min(pl.st.pad * 8, 0.5),
              widens = pl.st.widens + 1)
          } else {
            val want = math.min(maxAcc, pl.st.acc * 8)
            onRetry(pl.st.c, "oversize", want)
            next += pl.st.copy(acc = want, pad = 2.0 / want,
              escalations = pl.st.escalations + 1)
          }
        }
      }
      // budget the two causes separately: >4 widens → exact-percentile
      // safety net (small-n regime only, where it is safe); oversize has
      // no safe fallback, but escalation converges — acc ≥ 8n/maxBracket
      // bounds the expected bracket at maxBracket/4, and heavier-than-pad
      // duplicate mass degenerates the bracket instead
      val (fallback, keep) = next.partition(_.widens > 4)
      if (fallback.nonEmpty) {
        val aggs = fallback.toSeq.map(st => pctExpr(st.v, probs, exact = true).as(st.v))
        val row = vals.agg(aggs.head, aggs.tail: _*).head()
        fallback.foreach { st =>
          onRetry(st.c, "fallback", st.acc)
          out(st.c) = row.getSeq[Double](row.fieldIndex(st.v))
        }
      }
      remaining = keep.toSeq
      attempt += 1
    }
    remaining.foreach { st =>
      throw new IllegalStateException(
        s"bracketQuantiles: column '${st.c}' still unresolved after $attempt " +
          s"attempts (accuracy=${st.acc}, pad=${st.pad}); refusing the " +
          "single-buffer percentile fallback, which cannot run at this scale")
    }
    cols.map(c => c -> out(c)).toMap
  }

  /** Grouped twin of [[bracketQuantiles]] (round 16): exact type-7
    * quantiles per (group, column) in THREE corpus passes TOTAL instead
    * of three PER GROUP. The per-class caller shape (KdeNb's bw.nrd0
    * IQR: one filtered bracketQuantiles call per class) pays
    * classes × 3 full scans — 192 corpus passes for a 64-class fit at
    * 100 TB where 3 suffice. Here pass 1 is ONE grouped aggregate
    * (count/min/max/approx_percentile per group), and passes 2–3 are
    * ONE global aggregate each whose bracket counters/collects are
    * group-predicated (`when(g = v, …)`) — the same bracket → count →
    * interior-select machinery with identical selection arithmetic, so
    * results are value-identical to the filtered per-group calls
    * (pinned in CleaningSpec). Retry state (rank-miss widen / oversize
    * escalation / exact-percentile safety net) is per (group, column),
    * mirroring the ungrouped cause-split verbatim; retried states rerun
    * pass 1 grouped per (accuracy, pad) tier. Groups absent from the
    * data are absent from the result (the filtered form would return
    * NaNs for them — a caller enumerating groups from the same data
    * never sees the difference). Driver memory: one row per group in
    * pass 1 and `groups × cols × brackets` counters in pass 2 — bounded
    * by the same collection budget discipline as the per-group path
    * (callers bound their group cardinality; KdeNb's maxClasses). */
  def bracketQuantilesByGroup(df: DataFrame, groupCol: String,
                              cols: Seq[String], probs: Seq[Double],
                              accuracy: Int = 10000,
                              maxBracket: Long = 4000000L,
                              onRetry: (String, String, Long) => Unit = (_, _, _) => ())
      : Map[(String, String), Seq[Double]] = {
    val vcols = cols.indices.map(i => s"__q$i")
    val vals = df.select(col(s"`$groupCol`").cast("string").as("__g") +:
      cols.zip(vcols).map { case (c, v) =>
        col(s"`$c`").cast("double").as(v) }: _*)
    val out = scala.collection.mutable.Map[(String, String), Seq[Double]]()
    case class St(g: String, c: String, v: String, acc: Long, pad: Double,
                  widens: Int, escalations: Int)
    val maxAcc = 100000000L
    // seed states from pass 0: the groups present in the data
    val groups = vals.select("__g").filter(col("__g").isNotNull)
      .distinct().collect().map(_.getString(0)).toSeq.sorted
    var remaining: Seq[St] = for (g <- groups; (c, v) <- cols.zip(vcols))
      yield St(g, c, v, accuracy.toLong, 2.0 / accuracy, 0, 0)
    var attempt = 0
    while (remaining.nonEmpty && attempt < 12) {
      // pass 1, grouped, one aggregate per (acc, pad) tier (first
      // attempt = one tier; retries are rare and per-state)
      val r1ByGc = scala.collection.mutable.Map[(String, String), org.apache.spark.sql.Row]()
      remaining.groupBy(st => (st.acc, st.pad)).foreach { case ((acc, pad), sts) =>
        val tierCols = sts.map(_.v).distinct
        val sketchProbs = probs.flatMap(p =>
          Seq(math.max(0.0, p - pad), math.min(1.0, p + pad)))
        val aggs = tierCols.flatMap { v =>
          Seq(count(col(v)).as(s"n_$v"), min(col(v)).as(s"mn_$v"),
            max(col(v)).as(s"mx_$v"),
            expr(s"approx_percentile($v, array(${sketchProbs.mkString(", ")}), $acc)")
              .as(s"ap_$v"))
        }
        val tierGroups = sts.map(_.g).distinct
        vals.filter(col("__g").isin(tierGroups: _*))
          .groupBy(col("__g")).agg(aggs.head, aggs.tail: _*)
          .collect().foreach { r =>
            tierCols.foreach(v => r1ByGc((r.getString(0), v)) = r)
          }
      }
      case class Plan(st: St, n: Long, ranks: Seq[Long],
                      brackets: Seq[(Double, Double)])
      val next = scala.collection.mutable.Buffer[St]()
      val plans = remaining.flatMap { st =>
        val r1 = r1ByGc.get((st.g, st.v)).orNull
        val n = if (r1 == null) 0L else r1.getAs[Long](s"n_${st.v}")
        if (n == 0) { out((st.g, st.c)) = probs.map(_ => Double.NaN); None }
        else if (2.0 * st.pad * n > maxBracket && st.acc < maxAcc) {
          val want = math.min(maxAcc, math.max(st.acc * 8, 8L * (n / maxBracket + 1)))
          onRetry(st.c, "oversize", want)
          next += st.copy(acc = want, pad = 2.0 / want,
            escalations = st.escalations + 1)
          None
        } else {
          val (mn, mx) = (r1.getAs[Double](s"mn_${st.v}"), r1.getAs[Double](s"mx_${st.v}"))
          val ap = r1.getSeq[Double](r1.fieldIndex(s"ap_${st.v}"))
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
        // pass 2: group-predicated bracket counters, one global aggregate
        def tag(pl: Plan) = s"${groups.indexOf(pl.st.g)}_${pl.st.v}"
        val grpOf = (pl: Plan) => col("__g") === lit(pl.st.g)
        val cntAggs = plans.flatMap { pl =>
          pl.brackets.zipWithIndex.flatMap { case ((lo, hi), i) =>
            val v = col(pl.st.v); val in = grpOf(pl)
            Seq(sum(when(in && v < lo, 1L).otherwise(0L)).as(s"lt_${tag(pl)}_$i"),
              sum(when(in && v >= lo && v <= hi, 1L).otherwise(0L)).as(s"in_${tag(pl)}_$i"),
              sum(when(in && v === lo, 1L).otherwise(0L)).as(s"lo_${tag(pl)}_$i"),
              sum(when(in && v === hi, 1L).otherwise(0L)).as(s"hi_${tag(pl)}_$i"))
          }
        }
        val r2 = vals.agg(cntAggs.head, cntAggs.tail: _*).head()
        case class B(lt: Long, in: Long, eqLo: Long, eqHi: Long, interior: Long)
        def meta(pl: Plan) = pl.brackets.indices.map { i =>
          val lt = r2.getAs[Long](s"lt_${tag(pl)}_$i")
          val in = r2.getAs[Long](s"in_${tag(pl)}_$i")
          val eqLo = r2.getAs[Long](s"lo_${tag(pl)}_$i")
          val eqHi = r2.getAs[Long](s"hi_${tag(pl)}_$i")
          val (blo, bhi) = pl.brackets(i)
          val interior = if (blo == bhi) 0L else in - eqLo - eqHi
          B(lt, in, eqLo, eqHi, interior)
        }
        val (ready, retry) = plans.partition { pl =>
          val m = meta(pl)
          pl.ranks.forall(k => m.exists(b => k >= b.lt && k < b.lt + b.in)) &&
            m.forall(_.interior <= maxBracket)
        }
        if (ready.nonEmpty) {
          val interiors = ready.map(pl => pl -> meta(pl))
          val colAggs = interiors.flatMap { case (pl, m) =>
            pl.brackets.zipWithIndex.collect {
              case ((lo, hi), i) if m(i).interior > 0 =>
                sort_array(collect_list(when(
                  grpOf(pl) && col(pl.st.v) > lo && col(pl.st.v) < hi,
                  col(pl.st.v)))).as(s"vs_${tag(pl)}_$i")
            }
          }
          val r3 = if (colAggs.nonEmpty)
            vals.agg(colAggs.head, colAggs.tail: _*).head() else null
          interiors.foreach { case (pl, m) =>
            val byRank = pl.ranks.map { k =>
              val i = m.indices.find(i => k >= m(i).lt && k < m(i).lt + m(i).in).get
              val off = k - m(i).lt
              val value =
                if (off < m(i).eqLo) pl.brackets(i)._1
                else if (off < m(i).eqLo + m(i).interior)
                  r3.getSeq[Double](r3.fieldIndex(s"vs_${tag(pl)}_$i"))((off - m(i).eqLo).toInt)
                else pl.brackets(i)._2
              k -> value
            }.toMap
            out((pl.st.g, pl.st.c)) = probs.map { p =>
              val pos = p * (pl.n - 1)
              val lo = math.floor(pos).toLong
              val hi = math.ceil(pos).toLong
              if (hi == lo) byRank(lo)
              else (hi - pos) * byRank(lo) + (pos - lo) * byRank(hi)
            }
          }
        }
        retry.foreach { pl =>
          val m = meta(pl)
          val covered = pl.ranks.forall(k => m.exists(b => k >= b.lt && k < b.lt + b.in))
          if (!covered) {
            onRetry(pl.st.c, "rankmiss", pl.st.acc)
            next += pl.st.copy(pad = math.min(pl.st.pad * 8, 0.5),
              widens = pl.st.widens + 1)
          } else {
            val want = math.min(maxAcc, pl.st.acc * 8)
            onRetry(pl.st.c, "oversize", want)
            next += pl.st.copy(acc = want, pad = 2.0 / want,
              escalations = pl.st.escalations + 1)
          }
        }
      }
      val (fallback, keep) = next.partition(_.widens > 4)
      fallback.groupBy(_.g).foreach { case (g, sts) =>
        val aggs = sts.toSeq.map(st => pctExpr(st.v, probs, exact = true).as(st.v))
        val row = vals.filter(col("__g") === lit(g))
          .agg(aggs.head, aggs.tail: _*).head()
        sts.foreach { st =>
          onRetry(st.c, "fallback", st.acc)
          out((st.g, st.c)) = row.getSeq[Double](row.fieldIndex(st.v))
        }
      }
      remaining = keep.toSeq
      attempt += 1
    }
    remaining.foreach { st =>
      throw new IllegalStateException(
        s"bracketQuantilesByGroup: (${st.g}, ${st.c}) still unresolved " +
          s"after $attempt attempts (accuracy=${st.acc}, pad=${st.pad})")
    }
    out.toMap
  }

  /** Exact type-7 quantiles via SKETCH-BRACKETED SELECTION — the 100-TB
    * path for EXACT quantiles. The `percentile` aggregate (used by
    * [[quantiles]]) buffers every value of a group in one aggregation
    * buffer: fine at test scale, impossible at 100 TB. A full
    * distributed sort works but pays a whole-data range shuffle (and the
    * round-2 RDD sortBy + zipWithIndex version re-executed that sort per
    * lineage action — 15x super-linear at a 10x scale-up).
    *
    * Here: pass 1 aggregates count + approx_percentile at padded ranks
    * (rank error <= n/accuracy) to bracket each wanted order statistic;
    * pass 2 counts values below each bracket and inside it; pass 3
    * collects only the bracket's members (thousands, not millions) and
    * selects the exact order statistics locally. If a sketch bracket
    * misses (rank drift beyond the padding) the padding doubles and the
    * scan pair reruns — never observed, but correctness does not depend
    * on the sketch. All scans are narrow single-column aggregates: no
    * shuffle, no sort of the data.
    *
    * Interpolation mirrors the Percentile aggregate's weighted form
    * (higher − pos)·lower + (pos − lower)·higher, so results agree
    * bit-for-bit (pinned in CleaningSpec). */
  def sortedQuantiles(df: DataFrame, c: String, probs: Seq[Double]): Seq[Double] =
    bracketQuantiles(df, Seq(c), probs)(c)

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
