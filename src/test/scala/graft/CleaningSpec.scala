package graft

import graft.operators.Cleaning
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for cleaning operators against hand-computable cases plus
  * the reference's own raw CSV (data fixture only — golden quartiles
  * 5118/7788/10295/16503/45400 per SURVEY.md §5.2, from R type-7
  * quantile() on CarPrice_Assignment.csv price).
  */
class CleaningSpec extends AnyFunSuite {
  lazy val spark = Tables.session(4)
  import spark.implicits._

  test("cutLabels implements R cut(): (a,b], include.lowest, out-of-range null") {
    val df = Seq(-1.0, 0.0, 5.0, 10.0, 10.5, 20.0, 25.0).toDF("v")
      .withColumn("bucket", Cleaning.cutLabels(col("v"), Seq(0, 10, 20), Seq("lo", "hi")))
    val got = df.orderBy("v").select("bucket").collect().map(_.getString(0))
    assert(got.toSeq == Seq(null, "lo", "lo", "lo", "hi", "hi", null))
  }

  test("exact quantiles match R type-7 on the reference CSV") {
    val car = spark.read.option("header", "true").option("inferSchema", "true")
      .csv("/root/reference/CarPrice_Assignment.csv")
    val q = Cleaning.quantiles(car, Seq("price"), Seq(0.0, 0.25, 0.5, 0.75, 1.0))("price")
    assert(q == Seq(5118.0, 7788.0, 10295.0, 16503.0, 45400.0))
  }

  test("topNWithTies keeps ties (R top_n semantics)") {
    val df = Seq(("a", 5L), ("b", 3L), ("c", 3L), ("d", 1L)).toDF("k", "cnt")
    val got = Cleaning.topNWithTies(df, "cnt", 2).select("k").collect().map(_.getString(0)).toSet
    assert(got == Set("a", "b", "c")) // rank 2 is a tie -> 3 rows survive
  }

  test("topNWithTies matches the rank() window formulation on every edge") {
    import org.apache.spark.sql.expressions.Window
    def viaRank(df: org.apache.spark.sql.DataFrame, c: String, n: Int) =
      df.withColumn("__rk", rank().over(Window.orderBy(desc(c))))
        .filter(col("__rk") <= n).drop("__rk")
    val cases: Seq[(Seq[Option[Long]], Int)] = Seq(
      (Seq(Some(5L), Some(3L), Some(3L), Some(1L)), 2),   // tie at the cut
      (Seq(Some(9L), Some(9L), Some(9L)), 2),             // all tied
      (Seq(Some(4L), Some(2L)), 10),                      // n > rows
      (Seq(Some(4L), None, Some(2L), None), 3),           // nulls below cut
      (Seq(Some(4L), None, None), 3),                     // nulls reached by n
      (Seq(None, None), 1),                               // all null
      (Seq.empty[Option[Long]], 2))                       // empty frame
    cases.foreach { case (xs, n) =>
      val df = xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "cnt")
      val got = Cleaning.topNWithTies(df, "cnt", n)
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      val want = viaRank(df, "cnt", n)
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      assert(got == want, s"xs=$xs n=$n")
    }
  }

  test("topNWithTies plan has no partitionless window") {
    val df = Seq(("a", 5L), ("b", 3L), ("c", 3L), ("d", 1L)).toDF("k", "cnt")
    val plan = Cleaning.topNWithTies(df, "cnt", 2).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"rank window resurfaced:\n$plan")
    assert(plan.contains("TakeOrdered"), s"cut not computed via distributed top-n:\n$plan")
  }

  test("iqrCap clamps outliers but preserves nulls (R ifelse NA semantics)") {
    val df = Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0), Some(100.0), None)
      .toDF("v")
    val capped = Cleaning.iqrCap(df, Seq("v")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(capped.count(_.isEmpty) == 1)
    assert(capped.flatten.max < 100.0)
    assert(capped.flatten.min == 1.0)
  }

  test("medianImpute fills all nulls with the exact median") {
    val df = Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0), Some(5.0), None).toDF("v")
    val out = Cleaning.medianImpute(df, Seq("v"))
    assert(out.filter(col("v").isNull).count() == 0)
    assert(out.filter(col("v") === 3.0).count() == 2) // median of 1..5 = 3
  }

  test("mode breaks ties lexically (R table factor-level order)") {
    val df = Seq("b", "b", "a", "a", "c").toDF("v")
    assert(Cleaning.mode(df, "v").contains("a"))
  }

  test("quantileBucket assigns quartile labels with (a,b] bins") {
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val out = Cleaning.quantileBucket(df, "v", "b")
    val counts = out.groupBy("b").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // breaks 1, 25.75, 50.5, 75.25, 100 -> 25 per bucket
    assert(counts == Map("Low" -> 25L, "Medium" -> 25L, "High" -> 25L, "VeryHigh" -> 25L))
  }

  test("one-pass modeImpute == per-column mode() imputation (ties, nulls, all-null col)") {
    // n2 ties 9/10: lexical "10" < "9" would impute 10, the native
    // numeric tie-break must impute 9 (parity with per-column mode())
    val df = Seq[(Option[String], Option[String], Option[String], Option[Int], Option[Int])](
      (Some("b"), Some("x"), None, Some(7), Some(10)),
      (Some("a"), Some("x"), None, Some(7), Some(9)),
      (Some("b"), Some("y"), None, None, Some(10)),
      (Some("a"), None, None, Some(9), Some(9)),
      (None, Some("y"), None, Some(9), None)
    ).toDF("f1", "f2", "f3", "n1", "n2") // f1 ties a/b -> a; f3 all-null stays null
    val cols = Seq("f1", "f2", "f3", "n1", "n2")
    val onePass = Cleaning.modeImpute(df, cols).collect().map(_.toString).sorted
    val perCol = cols.foldLeft(df) { (d, c) =>
      Cleaning.mode(d, c) match {
        case Some(m) => d.withColumn(c, coalesce(col(c), lit(m)))
        case None    => d
      }
    }.collect().map(_.toString).sorted
    assert(onePass.sameElements(perCol))
    // the numeric tie imputed 9, not the lexically-smaller "10" (the
    // null-n2 row is the one with n1=9, f2="y"; f1/f2 nulls are imputed
    // by the same call so they can't anchor the filter)
    val n2 = Cleaning.modeImpute(df, cols)
      .filter(col("n1") === 9 && col("f2") === "y")
      .select("n2").head().getInt(0)
    assert(n2 == 9, s"numeric tie-break imputed $n2, want 9")
    // int column imputed with int mode (string round-trip cast back)
    val schema = Cleaning.modeImpute(df, cols).schema
    assert(schema("n1").dataType.typeName == "integer")
  }

  test("modeImpute long tie-break stays exact beyond 2^53 (decimal key, not double)") {
    // -(2^53+1) and -(2^53+2) collapse to the same double; a double sort
    // key would fall through to lexical order and impute ...93 — the
    // native numeric order (what per-column mode() returns) is ...94
    val a = -9007199254740993L
    val b = -9007199254740994L
    val df = Seq[(Option[Long], Option[String])](
      (Some(a), Some("x")), (Some(a), Some("x")),
      (Some(b), Some("x")), (Some(b), Some("x")),
      (None, Some("x"))
    ).toDF("big", "pad")
    val out = Cleaning.modeImpute(df, Seq("big"))
    assert(out.filter(col("big").isNull).count() == 0)
    // the null row took b: b now appears 3 times, a still 2
    val nB = out.filter(col("big") === b).count()
    val nA = out.filter(col("big") === a).count()
    assert((nA, nB) == (2L, 3L), s"big-long tie imputed wrong: a×$nA b×$nB")
    assert(Cleaning.mode(df, "big").contains(b)) // parity with per-column mode
  }

  test("modeImpute wide-decimal tie keys stay monotone (no decimal(38,18) overflow-to-null)") {
    // decimal(38,0) has 38 integer digits — the exact decimal(38,18) key
    // holds only 20, so the old cast overflowed BOTH tied values to null
    // and the lexical fallback would impute 1e37 ("10…" sorts before
    // "90…") where the native numeric order (per-column mode) imputes
    // 9e36. Such columns now take the monotone double key instead.
    val small = BigDecimal("9" + "0" * 36) // 9e36, 37 digits
    val big = BigDecimal("1" + "0" * 37)   // 1e37, 38 digits
    // build via strings: the Scala BigDecimal ENCODER itself targets
    // decimal(38,18), which can't hold these either
    val df = Seq(Some(small.toString), Some(big.toString), Some(small.toString),
        Some(big.toString), None).toDF("wide")
      .select(col("wide").cast("decimal(38,0)").as("wide"))
    val out = Cleaning.modeImpute(df, Seq("wide"))
    assert(out.filter(col("wide").isNull).count() == 0)
    assert(out.schema("wide").dataType.typeName == "decimal(38,0)")
    val nSmall = out.filter(col("wide") === lit(small.bigDecimal)).count()
    assert(nSmall == 3L, s"wide-decimal tie imputed wrong value (9e36 appears ×$nSmall, want 3)")
    assert(Cleaning.mode(df, "wide").map(_.toString).contains(small.bigDecimal.toPlainString))
  }

  test("quantiles(exact) == Spark percentile aggregate exactly on lineitem") {
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
    val probs = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)
    val got = Cleaning.quantiles(li, Seq("l_extendedprice"), probs)("l_extendedprice")
    val want = li.agg(expr(s"percentile(l_extendedprice, array(${probs.mkString(",")}))"))
      .head().getSeq[Double](0)
    got.zip(want).zip(probs).foreach { case ((g, w), p) =>
      assert(g == w, s"p=$p: bracket selection $g vs percentile aggregate $w")
    }
  }

  test("bracketQuantilesByGroup == per-group bracketQuantiles bitwise (round-16 single-pass fit)") {
    val ev = Tables(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_type").as("g"),
        col("user_id").cast("double").as("u"), col("value").cast("double").as("v"))
    val probs = Seq(0.0, 0.25, 0.5, 0.75, 1.0)
    val grouped = Cleaning.bracketQuantilesByGroup(ev, "g", Seq("u", "v"), probs)
    val groupsInData = ev.select("g").distinct().collect().map(_.getString(0))
    assert(groupsInData.nonEmpty)
    groupsInData.foreach { g =>
      val per = Cleaning.bracketQuantiles(
        ev.filter(col("g") === g), Seq("u", "v"), probs)
      Seq("u", "v").foreach { c =>
        assert(grouped((g, c)) == per(c),
          s"group=$g col=$c: grouped ${grouped((g, c))} vs per-filter ${per(c)}")
      }
    }
    // tiny skewed groups exercise the small-n rank arithmetic per group
    val tiny = Seq(("a", 1.0), ("a", 2.0), ("b", 5.0), ("b", 7.0), ("b", 9.0),
      ("c", 4.0)).toDF("g", "x")
    val tg = Cleaning.bracketQuantilesByGroup(tiny, "g", Seq("x"), probs)
    Seq("a", "b", "c").foreach { g =>
      val per = Cleaning.bracketQuantiles(
        tiny.filter(col("g") === g), Seq("x"), probs)
      assert(tg((g, "x")) == per("x"), s"tiny group $g")
    }
  }

  test("exact quantile selection: Spark job count of one ungrouped and one grouped call") {
    val ev = Tables(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_type").as("g"),
        col("user_id").cast("double").as("u"), col("value").cast("double").as("v"))
    val probs = Seq(0.0, 0.25, 0.5, 0.75, 1.0)
    val (_, ungrouped) = JobCount(spark, "cleaningspec-quantile-jobs")(
      Cleaning.bracketQuantiles(ev, Seq("u", "v"), probs))
    val (_, grouped) = JobCount(spark, "cleaningspec-grouped-quantile-jobs")(
      Cleaning.bracketQuantilesByGroup(ev, "g", Seq("u", "v"), probs))
    // the counts the two entries ran before they shared one core
    assert(ungrouped == 4, s"ungrouped call ran $ungrouped jobs")
    assert(grouped == 16, s"grouped call ran $grouped jobs")
  }
}
