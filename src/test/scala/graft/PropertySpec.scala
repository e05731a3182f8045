package graft

import graft.operators.{Cleaning, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY §5.3): invariants that must hold for any input,
  * over seeded ScalaCheck generators (deterministic; one Spark round-trip
  * per case, so the case count is bounded).
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = Tables.session(4)
  import spark.implicits._

  private def cases[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong * 7919 + 1)))

  val doubleLists: Gen[List[Double]] =
    Gen.nonEmptyListOf(Gen.choose(-1e6, 1e6))

  /** Spark's buffered `percentile` aggregate of `v` per group `g`: the
    * reference the grouped bracket selection must match. */
  private def percentileByGroup(df: DataFrame, probs: Seq[Double]): Map[String, Seq[Double]] =
    df.groupBy("g").agg(expr(s"percentile(v, ${probs.mkString("array(", ",", ")")})"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap

  /** [[Cleaning.bracketQuantilesByGroup]] of `v` per group `g`. */
  private def bracketByGroup(df: DataFrame, probs: Seq[Double], accuracy: Int = 10000,
                             maxBracket: Long = 4000000L,
                             onRetry: (String, String, Long) => Unit = (_, _, _) => ())
      : Map[String, Seq[Double]] =
    Cleaning.bracketQuantilesByGroup(df, "g", Seq("v"), probs, accuracy, maxBracket, onRetry)
      .map { case ((g, _), q) => g -> q }

  test("iqrCap never widens the range and is stable under re-capping") {
    cases(doubleLists, 8).foreach { xs =>
      val df = xs.toDF("v")
      val once = Cleaning.iqrCap(df, Seq("v"))
      val a = once.orderBy("v").collect().map(_.getDouble(0))
      assert(a.max <= xs.max + 1e-9 && a.min >= xs.min - 1e-9)
      val twice = Cleaning.iqrCap(once, Seq("v"))
      val b = twice.orderBy("v").collect().map(_.getDouble(0))
      assert(b.max <= a.max + 1e-9 && b.min >= a.min - 1e-9)
    }
  }

  test("bracketQuantiles == percentile aggregate bitwise on adversarial inputs") {
    // the sketch only proposes brackets; selection is exact, so results
    // must be BIT-identical to the buffered percentile aggregate for any
    // distribution: heavy duplicate mass, tiny n, skew, constant columns
    val gens: Seq[Gen[List[Double]]] = Seq(
      doubleLists,                                        // generic
      Gen.nonEmptyListOf(Gen.oneOf(1.0, 2.0, 2.0, 7.5)),  // few distinct values
      Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, Gen.choose(-5.0, 5.0))), // tiny n
      Gen.nonEmptyListOf(Gen.oneOf(0.0, 0.0, 0.0, 1e9)))  // extreme skew
    val probs = Seq(0.0, 0.01, 0.25, 0.5, 0.61, 0.99, 1.0)
    val probsArr = probs.mkString("array(", ",", ")")
    gens.zipWithIndex.foreach { case (g, gi) =>
      val cs = cases(g, 5)
      cs.foreach { xs =>
        val df = xs.toDF("v")
        val got = Cleaning.bracketQuantiles(df, Seq("v"), probs)("v")
        val want = df.agg(expr(s"percentile(v, $probsArr)"))
          .head().getSeq[Double](0)
        assert(got == want,
          s"gen $gi diverged for n=${xs.length}: got=$got want=$want")
      }
      // the grouped entry, one group per case, against the grouped aggregate
      val byCase = cs.zipWithIndex.flatMap { case (xs, i) => xs.map(x => (s"c$i", x)) }
        .toDF("g", "v")
      val want = percentileByGroup(byCase, probs)
      assert(want.size == cs.size)
      assert(bracketByGroup(byCase, probs) == want, s"gen $gi diverged grouped")
    }
  }

  test("bracketQuantiles oversize brackets escalate accuracy — never the percentile fallback") {
    // force the oversize cause with an injected tiny collection cap and a
    // coarse starting sketch: bracket population ≈ 2·pad·n = 800 ≫ 50, so
    // the old policy (widen pad ×8, then single-buffer percentile fallback)
    // would fall back — the fixed policy must RAISE accuracy (shrinking
    // the bracket ∝ 1/accuracy) and still return exact type-7 values
    val xs = (0 until 20000).map(i => ((i * 7919) % 20011) / 20011.0 * 1000.0)
    val df = xs.toDF("v")
    val probs = Seq(0.25, 0.5, 0.75)
    val retries = scala.collection.mutable.Buffer[(String, String, Long)]()
    val got = Cleaning.bracketQuantiles(df, Seq("v"), probs,
      accuracy = 100, maxBracket = 50L,
      onRetry = (c, cause, acc) => retries += ((c, cause, acc)))("v")
    val want = df.agg(expr(s"percentile(v, array(${probs.mkString(",")}))"))
      .head().getSeq[Double](0)
    assert(got == want, s"got=$got want=$want")
    val causes = retries.map(_._2)
    assert(causes.contains("oversize"), s"expected oversize escalation, saw $retries")
    assert(!causes.contains("fallback"),
      s"oversize must never reach the percentile fallback, saw $retries")
    // and the escalation actually raised accuracy past the cap-implied bound
    val accs = retries.filter(_._2 == "oversize").map(_._3)
    assert(accs.exists(_ >= 8L * (20000L / 50L)), s"accuracy not escalated: $accs")
    // the grouped entry escalates per group the same way
    val halves = xs.zipWithIndex.map { case (x, i) => (if (i % 2 == 0) "a" else "b", x) }
      .toDF("g", "v")
    val gRetries = scala.collection.mutable.Buffer[(String, String, Long)]()
    val gGot = bracketByGroup(halves, probs, accuracy = 100, maxBracket = 50L,
      onRetry = (c, cause, acc) => gRetries += ((c, cause, acc)))
    val gWant = percentileByGroup(halves, probs)
    assert(gWant.keySet == Set("a", "b") && gGot == gWant, s"got=$gGot want=$gWant")
    assert(gRetries.map(_._2).contains("oversize") && !gRetries.map(_._2).contains("fallback"),
      s"grouped oversize must escalate, never fall back: $gRetries")
  }

  test("bracketQuantiles heavy duplicate mass resolves via endpoint counts — no collection, no fallback") {
    // 6000 copies of one value pin the median, and p=0.25 lands exactly at
    // the BOUNDARY where the heavy mass begins — its bracket [.., 42] holds
    // the whole 6000-row mass, far over the 50-member cap. Endpoint masses
    // resolve by count arithmetic (only the strict interior is collected),
    // so neither rank needs an escalation spiral or a fallback
    val xs = (0 until 2500).map(i => (i % 977) / 97.7) ++
      Seq.fill(6000)(42.0) ++ (0 until 1500).map(i => 50.0 + (i % 631) / 63.1)
    val df = xs.toDF("v")
    val probs = Seq(0.25, 0.5, 0.75)
    val retries = scala.collection.mutable.Buffer[(String, String, Long)]()
    val got = Cleaning.bracketQuantiles(df, Seq("v"), probs,
      accuracy = 100, maxBracket = 50L,
      onRetry = (c, cause, acc) => retries += ((c, cause, acc)))("v")
    val want = df.agg(expr(s"percentile(v, array(${probs.mkString(",")}))"))
      .head().getSeq[Double](0)
    assert(got == want, s"got=$got want=$want")
    assert(got(1) == 42.0)
    assert(!retries.map(_._2).contains("fallback"),
      s"duplicate mass must resolve via the degenerate bracket, saw $retries")
    // the grouped entry resolves each group's duplicate mass the same way
    val twoMasses = (xs.map(x => ("a", x)) ++ xs.map(x => ("b", x + 1.0))).toDF("g", "v")
    val gRetries = scala.collection.mutable.Buffer[(String, String, Long)]()
    val gGot = bracketByGroup(twoMasses, probs, accuracy = 100, maxBracket = 50L,
      onRetry = (c, cause, acc) => gRetries += ((c, cause, acc)))
    val gWant = percentileByGroup(twoMasses, probs)
    assert(gWant.keySet == Set("a", "b") && gGot == gWant, s"got=$gGot want=$gWant")
    assert(gGot("a")(1) == 42.0 && gGot("b")(1) == 43.0)
    assert(!gRetries.map(_._2).contains("fallback"),
      s"grouped duplicate mass must resolve via the degenerate bracket, saw $gRetries")
  }

  test("medianImpute leaves no nulls and keeps row count") {
    val g = Gen.nonEmptyListOf(Gen.option(Gen.choose(-1e6, 1e6)))
      .suchThat(_.exists(_.isDefined))
    cases(g, 8).foreach { xs =>
      val out = Cleaning.medianImpute(xs.toDF("v"), Seq("v"))
      assert(out.filter(col("v").isNull).count() == 0)
      assert(out.count() == xs.length)
    }
  }

  test("cutLabels labels exactly the in-range values") {
    cases(doubleLists, 8).foreach { xs =>
      val out = xs.toDF("v").withColumn("b",
        Cleaning.cutLabels(col("v"), Seq(-5e5, 0.0, 5e5), Seq("neg", "pos")))
      val wrong = out.filter(
        (col("v") >= -5e5 && col("v") <= 5e5 && col("b").isNull) ||
          ((col("v") < -5e5 || col("v") > 5e5) && col("b").isNotNull)).count()
      assert(wrong == 0)
    }
  }

  test("jaccard is symmetric, bounded, and 1 on equal non-empty sets") {
    val toks: Gen[List[String]] = Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e"))
    cases(Gen.zip(toks, toks), 12).foreach { case (x, y) =>
      val r = Seq((x.distinct, y.distinct)).toDF("x", "y").select(
        Dedup.jaccard(col("x"), col("y")),
        Dedup.jaccard(col("y"), col("x"))).head()
      val (j1, j2) = (r.getDouble(0), r.getDouble(1))
      assert(j1 == j2)
      assert(j1 >= 0.0 && j1 <= 1.0)
      if (x.toSet == y.toSet && x.nonEmpty) assert(j1 == 1.0)
    }
  }

  test("topNWithTies keeps every row tied with or above the cut") {
    cases(Gen.nonEmptyListOf(Gen.choose(0L, 5L)), 8).foreach { xs =>
      val df = xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "cnt")
      val top = Cleaning.topNWithTies(df, "cnt", 2).collect()
      if (xs.length >= 2) assert(top.length >= 2)
      val minKept = top.map(_.getLong(1)).min
      // nothing above the cut was dropped, and everything at the cut kept
      assert(top.count(_.getLong(1) > minKept) == xs.count(_ > minKept))
      assert(top.count(_.getLong(1) == minKept) == xs.count(_ == minKept))
    }
  }

  test("rule interest measures stay in their theoretical ranges") {
    val o = Tables(spark, "/root/testdata/sf0.001", "orders")
    val tx = graft.operators.Rules.toTransactions(o,
      Seq("o_orderstatus", "o_orderpriority")).cache()
    val n = tx.count()
    val rules = graft.operators.Rules.mine(tx, "items", 0.05, 0.2)
    val its = graft.operators.Rules.freqItemsets(tx, "items", 0.05)
    val m = graft.operators.Rules.withMeasures(rules, its, n).collect()
    assert(m.nonEmpty)
    m.foreach { r =>
      assert(r.getAs[Double]("coverage") > 0 && r.getAs[Double]("coverage") <= 1)
      assert(r.getAs[Double]("cosine") >= 0 && r.getAs[Double]("cosine") <= 1 + 1e-12)
      assert(math.abs(r.getAs[Double]("leverage")) <= 0.25 + 1e-12)
      assert(r.getAs[Double]("chi_squared") >= -1e-9)
      assert(r.getAs[Double]("lift") > 0)
    }
  }

  test("segmentEncodedMine == perGroupMine exactly (one fit vs per-segment fits)") {
    // the scale variant must reproduce the per-segment loop bit-for-bit:
    // same rules, same confidence/lift/support doubles, same counts
    val o = Tables(spark, "/root/testdata/sf0.001", "orders")
      .join(Tables(spark, "/root/testdata/sf0.001", "customer"),
        col("o_custkey") === col("c_custkey"))
    val cols = Seq("o_orderstatus", "o_orderpriority")
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[String]("segment"),
      r.getSeq[String](r.fieldIndex("antecedent")).sorted.mkString(","),
      r.getSeq[String](r.fieldIndex("consequent")).sorted.mkString(","),
      r.getAs[Double]("confidence"), r.getAs[Double]("lift"),
      r.getAs[Double]("support"), r.getAs[Long]("count"))
    val loop = graft.operators.Rules
      .perGroupMine(o, "c_mktsegment", cols, 0.05, 0.25)
      .collect().map(key).toSet
    val one = graft.operators.Rules
      .segmentEncodedMine(o, "c_mktsegment", cols, 0.05, 0.25)
      .collect().map(key).toSet
    assert(one == loop,
      s"only-in-onefit=${(one -- loop).take(3)} only-in-loop=${(loop -- one).take(3)}")
    assert(one.nonEmpty)
    // all 5 mktsegments mined in the single fit
    assert(one.map(_._1).size == 5)
  }

  test("negativeSample invariants hold for any pool/bucket/k geometry") {
    import graft.operators.Sampling
    // geometry generator: tiny pools, 1-member buckets, k > pool size —
    // every degenerate shape the bucketed ring must survive
    val geoms: Gen[(Int, Int, Int)] = for {
      n <- Gen.choose(1, 120)
      b <- Gen.oneOf(1, 2, 4, 16)
      k <- Gen.choose(1, 5)
    } yield (n, b, k)
    cases(geoms, 10).foreach { case (n, b, k) =>
      val pool = (0L until n.toLong).toDF("id")
      val anchors = pool.filter($"id" % 3 === 0)
      val out = Sampling.negativeSample(pool, anchors, "id", k, b).collect()
      // never self, always pool-closed, at most k rows per anchor
      assert(out.forall(r => r.getAs[Long]("neg_id") != r.getAs[Long]("anchor")),
        s"self pick at n=$n b=$b k=$k")
      assert(out.forall(r => r.getAs[Long]("neg_id") >= 0 &&
        r.getAs[Long]("neg_id") < n), s"escaped pool at n=$n b=$b k=$k")
      assert(out.groupBy(_.getAs[Long]("anchor")).forall(_._2.length <= k))
      // deterministic re-run
      val again = Sampling.negativeSample(pool, anchors, "id", k, b)
        .collect().map(_.toString).sorted
      assert(again.sameElements(out.map(_.toString).sorted))
    }
    // the fully-degenerate pool: one doc that is its own anchor — every
    // probe's bucket holds only the anchor, successor wraps to self,
    // and the operator must emit NOTHING rather than a self pair
    val one = Seq(0L).toDF("id")
    assert(graft.operators.Sampling.negativeSample(one, one, "id", 3, 4).count() == 0)
  }

  test("mixtureSample: copies = need DIV n (+1 on the hash remainder), epochs dense, deterministic") {
    import graft.operators.Sampling
    val geoms: Gen[(Int, Long)] = for {
      n <- Gen.choose(4, 150)
      budget <- Gen.choose(1L, 400L)
    } yield (n, budget)
    cases(geoms, 8).foreach { case (n, budget) =>
      // two weighted sources of known size + one unweighted (must drop)
      val df = (0L until n.toLong)
        .map(i => (i, if (i < n / 2) "s0" else if (i % 7 == 0) "s2" else "s1"))
        .toDF("id", "src")
      val sizes = df.groupBy("src").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val w = Map("s0" -> 0.5, "s1" -> 0.5)
      val out = Sampling.mixtureSample(df, "src", "id", w, budget, maxEpochs = 1000)
        .groupBy("src", "id")
        .agg(count(lit(1)).as("c"), min("epoch").as("mi"), max("epoch").as("ma"))
        .collect()
      assert(out.forall(_.getAs[String]("src") != "s2"),
        s"unweighted source leaked at n=$n budget=$budget")
      // epochs are dense 1..copies per row
      assert(out.forall(r => r.getAs[Long]("mi") == 1L &&
        r.getAs[Long]("ma") == r.getAs[Long]("c")),
        s"epoch numbering not dense at n=$n budget=$budget")
      // every emitted row's copy count is e or e+1 for its source
      out.groupBy(_.getAs[String]("src")).foreach { case (src, rows) =>
        val need = math.floor(budget.toDouble * w(src) / 1.0).toLong
        val e = need / sizes(src)
        assert(rows.forall { r =>
          val c = r.getAs[Long]("c"); c == e || c == e + 1
        }, s"copies outside {e, e+1} for $src at n=$n budget=$budget")
      }
      // deterministic re-run
      val again = Sampling.mixtureSample(df, "src", "id", w, budget, maxEpochs = 1000)
        .collect().map(_.toString).sorted
      val first = Sampling.mixtureSample(df, "src", "id", w, budget, maxEpochs = 1000)
        .collect().map(_.toString).sorted
      assert(again.sameElements(first))
    }
    // exact-epoch case: need divides n evenly -> every doc exactly e copies
    val even = (0L until 20L).map(i => (i, if (i < 10) "a" else "b")).toDF("id", "src")
    val exact = Sampling.mixtureSample(even, "src", "id",
      Map("a" -> 0.5, "b" -> 0.5), budget = 40L)
    assert(exact.count() == 40L)
    assert(exact.groupBy("id").count().collect().forall(_.getLong(1) == 2L),
      "an evenly-divisible budget must give every doc the same copy count")
    // the explode guard refuses a runaway up-sample
    val e = intercept[IllegalArgumentException] {
      Sampling.mixtureSample(even, "src", "id",
        Map("a" -> 0.5, "b" -> 0.5), budget = 100000L, maxEpochs = 100)
    }
    assert(e.getMessage.contains("maxEpochs"), e.getMessage)
    // massCol: the same formula in token units — copies ∈ {e, e+1}
    // with e = need DIV (source token mass), deterministic
    val toks = (0L until 60L)
      .map(i => (i, if (i < 30) "a" else "b", 1L + i % 7))
      .toDF("id", "src", "tok")
    val massBySrc = toks.groupBy("src").agg(sum("tok").as("m")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tb = 150L
    val byTok = Sampling.mixtureSample(toks, "src", "id",
      Map("a" -> 0.5, "b" -> 0.5), budget = tb, massCol = "tok",
      maxEpochs = 1000)
      .groupBy("src", "id").agg(count(lit(1)).as("c")).collect()
    byTok.groupBy(_.getAs[String]("src")).foreach { case (src, rows) =>
      val need = math.floor(tb.toDouble * 0.5).toLong
      val ep = need / massBySrc(src)
      assert(rows.forall { r =>
        val c = r.getAs[Long]("c"); c == ep || c == ep + 1
      }, s"token-budget copies outside {e, e+1} for $src")
    }
    val byTok2 = Sampling.mixtureSample(toks, "src", "id",
      Map("a" -> 0.5, "b" -> 0.5), budget = tb, massCol = "tok",
      maxEpochs = 1000).collect().map(_.toString).sorted
    val byTok3 = Sampling.mixtureSample(toks, "src", "id",
      Map("a" -> 0.5, "b" -> 0.5), budget = tb, massCol = "tok",
      maxEpochs = 1000).collect().map(_.toString).sorted
    assert(byTok2.sameElements(byTok3))
  }

  test("mixtureSample: token masses past 2^31 do not wrap the remainder threshold") {
    import graft.operators.Sampling
    // per-source mass n_s = 6e9 > 2^31: the old BIGINT `r * 2^32`
    // product wrapped negative for r >= 2^31 and silently picked zero
    // rows; the DECIMAL(38,0) threshold must reproduce the exact
    // BigInt formula. Expected copies replicated per id below.
    val big = Seq(
      (1L, "big", 1500000000L), (2L, "big", 1500000000L),
      (3L, "big", 1500000000L), (4L, "big", 1500000000L),
      (10L, "small", 500000000L), (11L, "small", 500000000L)
    ).toDF("id", "src", "tok")
    val budget = 5000000000L // need_big = 4.5e9 -> e=0, r=4.5e9 >= 2^31
    val out = Sampling.mixtureSample(big, "src", "id",
      Map("big" -> 0.9, "small" -> 0.1), budget, massCol = "tok")
      .groupBy("id").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hash(id: Long): BigInt = (BigInt(id) * 2654435761L).mod(BigInt(1) << 32)
    def expected(ids: Seq[Long], n: Long, need: Long): Map[Long, Long] = {
      val e = need / n
      val t = (BigInt(need % n) << 32) / n
      ids.map(i => i -> (e + (if (hash(i) < t) 1L else 0L)))
        .filter(_._2 >= 1L).toMap
    }
    val exp = expected(Seq(1L, 2L, 3L, 4L), 6000000000L, 4500000000L) ++
      expected(Seq(10L, 11L), 1000000000L, 500000000L)
    assert(out == exp, s"got $out expected $exp")
    // big source: t = 0.75 * 2^32, so SOME row must be picked here
    // (all four hashes known < t) — guards against the wrap-to-zero bug
    assert(Seq(1L, 2L, 3L, 4L).exists(out.contains), "big source picked zero rows")
  }

  test("capPerKeyHash: cap past 2^31 keeps every row instead of wrapping") {
    import graft.operators.Sampling
    val df = (0L until 50L).map((_, "k")).toDF("id", "src")
    val kept = Sampling.capPerKeyHash(df, "src", "id", cap = 3000000000L)
    assert(kept.count() == 50L, "a cap above n must keep the whole key")
  }

  test("topFractionByScoreApprox: frac=0 keeps nothing, frac=1 keeps all (exact-tier boundary parity)") {
    import graft.operators.Sampling
    val df = (0L until 40L).map(i => (i, "k", i.toDouble)).toDF("id", "src", "score")
    assert(Sampling.topFractionByScoreApprox(df, "src", "score", 0.0).count() == 0L)
    assert(Sampling.topFractionByScore(df, "src", "score", "id", 0.0).count() == 0L)
    assert(Sampling.topFractionByScoreApprox(df, "src", "score", 1.0).count() == 40L)
    assert(Sampling.topFractionByScore(df, "src", "score", "id", 1.0).count() == 40L)
  }

  test("unimaxSample: capped prefix at exactly epochCap, free sources waterfill, copies in {e, e+1}, all-capped and p=0 edges, deterministic") {
    import graft.operators.Sampling
    // masses 10/40/400, epochCap=2 -> caps 20/80/800. budget=160:
    // asc (a,b,c): j=1 20*2=40 <= 160-20 capped; j=2 80*1 > 160-100 free
    // -> p=1, R=140, m=2, need_b = need_c = 70: b e=1+rem, c e=0+rem
    val df = (0L until 450L)
      .map(i => (i, if (i < 10) "a" else if (i < 50) "b" else "c"))
      .toDF("id", "src")
    val counts = Sampling.unimaxSample(df, "src", "id", budget = 160L, epochCap = 2)
      .groupBy("src", "id").agg(count(lit(1)).as("c"),
        min("epoch").as("mi"), max("epoch").as("ma")).collect()
    assert(counts.forall(r => r.getAs[Long]("mi") == 1L &&
      r.getAs[Long]("ma") == r.getAs[Long]("c")), "epochs not dense")
    val bySrc = counts.groupBy(_.getAs[String]("src"))
    // capped source: EVERY row exactly epochCap copies, whole corpus kept
    assert(bySrc("a").length == 10 &&
      bySrc("a").forall(_.getAs[Long]("c") == 2L),
      "capped source must repeat its whole corpus exactly epochCap times")
    // free sources: copies in {e, e+1} for need = 70
    assert(bySrc("b").forall { r =>
      val c = r.getAs[Long]("c"); c == 1L || c == 2L }, "b outside {1,2}")
    assert(bySrc("c").forall(_.getAs[Long]("c") == 1L),
      "c rows appear once (e=0 + hash pick)")
    assert(bySrc("c").length < 400, "c must down-sample, not keep all")
    // all-capped: budget >= epochCap * total mass -> exactly epochCap
    // whole-corpus repeats, shortfall unallocated
    val all = Sampling.unimaxSample(df, "src", "id", budget = 5000L, epochCap = 2)
    assert(all.count() == 900L, "all-capped output must be epochCap * corpus")
    assert(all.groupBy("id").count().collect().forall(_.getLong(1) == 2L))
    // p=0: budget below every cap's bind point -> uniform split
    val p0 = Sampling.unimaxSample(df, "src", "id", budget = 50L, epochCap = 2)
      .groupBy("src", "id").agg(count(lit(1)).as("c")).collect()
    p0.groupBy(_.getAs[String]("src")).foreach { case (src, rows) =>
      val e = (50L / 3) / Map("a" -> 10L, "b" -> 40L, "c" -> 400L)(src)
      assert(rows.forall { r =>
        val c = r.getAs[Long]("c"); c == e || c == e + 1
      }, s"p=0 copies outside {e, e+1} for $src")
    }
    // deterministic re-run
    val r1 = Sampling.unimaxSample(df, "src", "id", budget = 160L, epochCap = 2)
      .collect().map(_.toString).sorted
    val r2 = Sampling.unimaxSample(df, "src", "id", budget = 160L, epochCap = 2)
      .collect().map(_.toString).sorted
    assert(r1.sameElements(r2))
    // mass units: budget and caps in token mass; capped source still
    // repeats exactly epochCap times per ROW
    val toks = (0L until 60L)
      .map(i => (i, if (i < 6) "a" else "b", 1L + i % 5))
      .toDF("id", "src", "tok")
    val ma = toks.filter(col("src") === "a").agg(sum("tok")).head.getLong(0)
    val mb = toks.filter(col("src") === "b").agg(sum("tok")).head.getLong(0)
    // budget between 2*ma's bind point and total: a caps, b waterfills
    val tbud = 2 * ma + mb / 2
    val tcounts = Sampling.unimaxSample(toks, "src", "id", budget = tbud,
      epochCap = 2, massCol = "tok")
      .groupBy("src", "id").agg(count(lit(1)).as("c")).collect()
    val tBySrc = tcounts.groupBy(_.getAs[String]("src"))
    assert(tBySrc("a").length == 6 && tBySrc("a").forall(_.getAs[Long]("c") == 2L),
      s"mass-capped source must repeat exactly epochCap (ma=$ma mb=$mb)")
    assert(tBySrc("b").forall(_.getAs[Long]("c") == 1L), "b is e=0 + hash pick")
    // refusal contracts
    assert(intercept[IllegalArgumentException] {
      Sampling.unimaxSample(df, "src", "id", budget = -1L, epochCap = 2)
    }.getMessage.contains("budget"))
    assert(intercept[IllegalArgumentException] {
      Sampling.unimaxSample(df, "src", "id", budget = 10L, epochCap = 0)
    }.getMessage.contains("epochCap"))
  }

  test("unimaxSample matches a brute-force waterfill on random geometries") {
    import graft.operators.Sampling
    val geoms: Gen[(Seq[Int], Long, Int)] = for {
      k <- Gen.choose(1, 6)
      sizes <- Gen.listOfN(k, Gen.choose(1, 80))
      budget <- Gen.choose(0L, 600L)
      cap <- Gen.choose(1, 4)
    } yield (sizes, budget, cap)
    cases(geoms, 10).foreach { case (sizes, budget, cap) =>
      val rows = sizes.zipWithIndex.flatMap { case (n, s) =>
        (0 until n).map(i => (s * 1000L + i, s"k$s"))
      }
      val df = rows.toDF("id", "src")
      // brute-force reference waterfill (independent of the operator's
      // prefix formulation): raise a shared level until the budget is
      // spent or every source caps
      val caps = sizes.zipWithIndex
        .map { case (n, s) => s"k$s" -> cap.toLong * n }.toMap
      var need = caps.keys.map(_ -> 0L).toMap
      var remaining = budget
      var free = caps.keySet
      var continue = true
      while (continue && free.nonEmpty && remaining > 0) {
        val share = remaining / free.size
        if (share == 0) continue = false
        else {
          val binding = free.filter(s => caps(s) - need(s) <= share)
          if (binding.isEmpty) {
            need = need ++ free.map(s => s -> (need(s) + share))
            remaining -= share * free.size
            continue = false // uniform level reached; leftover < free.size stays
          } else {
            binding.foreach { s =>
              remaining -= caps(s) - need(s); need += s -> caps(s)
            }
            free = free -- binding
          }
        }
      }
      val out = Sampling.unimaxSample(df, "src", "id", budget, cap)
        .groupBy("src").agg(count(lit(1)).as("rows")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      sizes.zipWithIndex.foreach { case (n, s) =>
        val key = s"k$s"
        val got = out.getOrElse(key, 0L)
        val want = need(key)
        // the operator floors per-source needs; the hash remainder makes
        // row counts binomial around need for down-sampled sources, but
        // NEVER above cap, never whole-epochs wrong, and capped sources
        // are exact
        assert(got <= caps(key),
          s"$key exceeded its cap: $got > ${caps(key)} (sizes=$sizes b=$budget c=$cap)")
        if (want == caps(key))
          assert(got == want,
            s"capped $key must be exact: $got != $want (sizes=$sizes b=$budget c=$cap)")
        else {
          val e = want / n
          assert(got >= e * n && got <= (e + 1) * n,
            s"$key rows $got outside [${e * n}, ${(e + 1) * n}] for need~$want " +
              s"(sizes=$sizes b=$budget c=$cap)")
        }
      }
      // total never exceeds budget + the remainder picks' binomial slack
      // (each source can overshoot its fractional remainder by < n_s)
      assert(out.values.sum <= budget + rows.length,
        s"total ${out.values.sum} above budget+slack (sizes=$sizes b=$budget c=$cap)")
    }
  }

  test("topFractionByScore: exact tier keeps ceil(n*frac) best per key; approx tier is a valid top slice") {
    import graft.operators.Sampling
    val rows = (0 until 120).map(i =>
      (i.toLong, s"k${i % 4}", ((i * 37) % 101).toDouble))
    val df = rows.toDF("id", "key", "score")
    val kept = Sampling.topFractionByScore(df, "key", "score", "id", 0.25)
    // n = 30 per key -> ceil(7.5) = 8 kept
    val perKey = kept.groupBy("key").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perKey.size == 4 && perKey.values.forall(_ == 8L), perKey.toString)
    // slice validity: per key, min kept score >= max dropped score
    // (equality allowed — the id tie-break splits boundary ties)
    val keptSet = kept.select("id").collect().map(_.getLong(0)).toSet
    rows.groupBy(_._2).foreach { case (k, rs) =>
      val (in, outRows) = rs.partition(r => keptSet.contains(r._1))
      assert(in.map(_._3).min >= outRows.map(_._3).max,
        s"kept slice not on top for $k")
    }
    // approx tier: same slice property, count near the exact keep
    val approx = Sampling.topFractionByScoreApprox(df, "key", "score", 0.25)
    val aSet = approx.select("id").collect().map(_.getLong(0)).toSet
    rows.groupBy(_._2).foreach { case (k, rs) =>
      val (in, outRows) = rs.partition(r => aSet.contains(r._1))
      assert(in.nonEmpty && (outRows.isEmpty ||
        in.map(_._3).min >= outRows.map(_._3).max),
        s"approx slice not on top for $k")
    }
    val aPerKey = approx.groupBy("key").count().collect().map(_.getLong(1))
    assert(aPerKey.forall(c => math.abs(c - 8L) <= 2L),
      s"approx kept counts far from the target: ${aPerKey.toSeq}")
  }

  test("OlsSufficient recovers an exact linear relationship") {
    // y = 1 + 2*x1 - 3*x2 with no noise: the normal equations are exactly
    // consistent, so the Cramer solve must return the true coefficients
    // (x values at <= 2dp keep the decimal sufficient statistics exact)
    val rows = for (i <- 1 to 200) yield {
      val x1 = (i % 37) / 4.0        // .0/.25/.5/.75 steps
      val x2 = ((i * 13) % 29) / 2.0
      (x1, x2, 1.0 + 2.0 * x1 - 3.0 * x2)
    }
    val df = rows.toDF("x1", "x2", "y")
    val est = graft.operators.OlsSufficient.fit(df, Seq("x1", "x2"), "y")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(est("(intercept)") - 1.0) < 1e-8)
    assert(math.abs(est("x1") - 2.0) < 1e-8)
    assert(math.abs(est("x2") + 3.0) < 1e-8)
  }

  test("ngramExpr emits exactly max(0, tokens - n + 1) grams, in order") {
    val docs = Seq("a b c d", "a b", "a", "x y z").toDF("text")
      .withColumn("toks", split(col("text"), " "))
    val got = docs.select(col("text"),
      graft.operators.TextAnalysis.ngramExpr("toks", 3).as("g")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(got("a b c d") == Seq("a b c", "b c d"))
    assert(got("a b").isEmpty && got("a").isEmpty)
    assert(got("x y z") == Seq("x y z"))
  }

  test("tfIdf: per-doc tf sums to token count; scores positive") {
    val docs = Seq((1L, "a a b c"), (2L, "b c c d"), (3L, "d d d d")).toDF("doc_id", "text")
    val scored = graft.operators.TextAnalysis.tfIdf(docs, "doc_id", "text", 3L)
    val sums = scored.groupBy("doc_id").agg(sum("tf").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sums == Map(1L -> 4L, 2L -> 4L, 3L -> 4L))
    assert(scored.filter(col("score") <= 0).count() == 0)
  }

  test("deterministic hash split is a partition and reproducible") {
    val o = Tables(spark, "/root/testdata/sf0.001", "orders")
    def trainIds = o.filter(
      (col("o_orderkey") * lit(2654435761L)) % lit(4294967296L) < lit(3435973837L))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val t1 = trainIds; val t2 = trainIds
    assert(t1 == t2)
    val all = o.count()
    assert(t1.size > all * 0.7 && t1.size < all * 0.9, s"split frac ${t1.size.toDouble / all}")
  }

  test("bracketQuantiles == percentile on adversarial generated data") {
    // duplicates, ties, negatives, signed zeros, tiny/huge magnitudes: the
    // selection and Spark's buffered aggregate agree on every probability.
    // They may differ in the sign of a zero only: on these five cases the
    // aggregate returns -0.0 at p = 0.33 in one case where the selection
    // returns 0.0
    val gen = Gen.listOfN(257, Gen.oneOf(
      Gen.choose(-1e6, 1e6), Gen.oneOf(0.0, -0.0, 1.0, 1.0, 1.0, 2.5, -2.5, 1e-12, 9e11)))
    val probs = Seq(0.0, 0.01, 0.33, 0.5, 0.66, 0.99, 1.0)
    cases(gen, 5).foreach { vs =>
      val df = vs.toDF("v")
      val got = Cleaning.bracketQuantiles(df, Seq("v"), probs)("v")
      val want = df.agg(expr(s"percentile(v, ${probs.mkString("array(", ",", ")")})"))
        .head().getSeq[Double](0)
      got.zip(want).zip(probs).foreach { case ((g, w), p) =>
        assert(g == w && (java.lang.Double.compare(g, w) == 0 || g == 0.0),
          s"p=$p: selection $g vs aggregate $w over ${vs.take(8)}...")
      }
    }
  }

  test("chunkTokens: full coverage, bounded windows, exact stride, right-aligned tail") {
    import graft.operators.TextAnalysis
    for {
      m <- Seq(1, 3, 5, 31, 32, 33, 64, 100)
      (w, o) <- Seq((32, 8), (4, 3), (7, 0), (10, 9), (5, 2))
    } {
      val stride = w - o
      val text = (1 to m).map(i => s"t$i").mkString(" ")
      val out = TextAnalysis.chunkTokens(Seq((1L, text)).toDF("doc_id", "text"),
          "doc_id", "text", w, o)
        .orderBy("chunk_idx").collect()
        .map(r => (r.getInt(1), r.getInt(2), r.getString(3)))
      val label = s"m=$m w=$w o=$o"
      // chunk indexes are dense from 0
      assert(out.map(_._1).toSeq == out.indices.toSeq, label)
      // each chunk's text has exactly n_tokens tokens, none exceeding w
      out.foreach { case (_, n, t) =>
        assert(n <= w && t.split(" ").length == n, s"$label: $n vs '$t'") }
      // starts advance by exactly `stride` except the right-aligned last
      val starts = out.map(_._3.split(" ").head.drop(1).toInt)
      starts.sliding(2).foreach { case Array(a, b) =>
        assert(b - a <= stride && b > a, s"$label: starts ${starts.toSeq}")
      case _ => () }
      // every token covered; last window ends exactly at the tail
      val covered = out.flatMap { case (_, n, t) =>
        val st = t.split(" ").head.drop(1).toInt; st until (st + n) }.toSet
      assert(covered == (1 to m).toSet, s"$label: coverage ${covered.size}/$m")
      assert(starts.last + out.last._2 - 1 == m, label)
      // a doc shorter than one window is exactly one chunk of itself
      if (m <= w) assert(out.length == 1 && out.head._3 == text, label)
    }
  }

  test("connectedComponentsIncremental == batch CC for ANY random graph and ANY edge split") {
    // the algebraic claim behind q118 and the components ingest loop:
    // freeze the labeling over an arbitrary prefix of the edges, arrive
    // the rest as a shard — the folded result must equal one batch run
    // over all edges, whatever the graph (cliques, chains, crossings,
    // self-loops via duplicate endpoints, isolated merges)
    val edgeSets: Gen[(List[(Long, Long)], Int)] = for {
      n <- Gen.chooseNum(2, 40)                       // node universe
      m <- Gen.chooseNum(1, 60)                       // edge count
      es <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0L, n.toLong)
        b <- Gen.chooseNum(0L, n.toLong)
      } yield (a, b))
      cut <- Gen.chooseNum(0, m)                      // arbitrary split point
    } yield (es, cut)
    cases(edgeSets, 10).foreach { case (es, cut) =>
      val (oldE, newE) = es.splitAt(cut)
      def df(rows: List[(Long, Long)]) =
        if (rows.isEmpty) List.empty[(Long, Long)].toDF("a_id", "b_id")
        else rows.toDF("a_id", "b_id")
      // both regimes: the default (these graphs are under the
      // driver-local edge bound) and the round loop, forced with 0
      Seq(Dedup.ccLocalEdges, 0).foreach { bound =>
        val frozen = Dedup.connectedComponents(df(oldE), "a_id", "b_id", localEdges = bound)
        val inc = Dedup.connectedComponentsIncremental(frozen, df(newE),
          "a_id", "b_id", localEdges = bound)
        val full = Dedup.connectedComponents(df(es), "a_id", "b_id", localEdges = bound)
        val label = s"edges=${es.size} cut=$cut bound=$bound"
        assert(inc.exceptAll(full).count() == 0 &&
          full.exceptAll(inc).count() == 0, label)
        // delta ∪ untouched-frozen must agree too
        val delta = Dedup.connectedComponentsIncremental(frozen, df(newE),
          "a_id", "b_id", deltaOnly = true, localEdges = bound)
        val merged = delta.union(
          frozen.join(delta.select(col("id")), Seq("id"), "left_anti"))
        assert(merged.exceptAll(full).count() == 0 &&
          full.exceptAll(merged).count() == 0, label)
      }
    }
  }

  test("driver-local CC == the distributed round loop for ANY random graph, batch and both incremental modes") {
    // the union-find regime below the edge bound must be invisible: every
    // consumer gets the rows the round loop (forced with localEdges = 0)
    // produces, including wide id ranges, dense cliques and self-loops
    val graphs: Gen[(List[(Long, Long)], Int)] = for {
      n <- Gen.chooseNum(2, 60)
      m <- Gen.chooseNum(1, 90)
      es <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0L, n.toLong)
        b <- Gen.chooseNum(0L, n.toLong)
      } yield (a * 1000003L, b * 1000003L))
      cut <- Gen.chooseNum(0, m)
    } yield (es, cut)
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0
    cases(graphs, 8).foreach { case (es, cut) =>
      val (oldE, newE) = es.splitAt(cut)
      def df(rows: List[(Long, Long)]) =
        if (rows.isEmpty) List.empty[(Long, Long)].toDF("a_id", "b_id")
        else rows.toDF("a_id", "b_id")
      val label = s"edges=${es.size} cut=$cut"
      val local = Dedup.connectedComponents(df(es), "a_id", "b_id")
      val loop = Dedup.connectedComponents(df(es), "a_id", "b_id", localEdges = 0)
      assert(same(local, loop), s"batch: $label")
      val frozen = Dedup.connectedComponents(df(oldE), "a_id", "b_id", localEdges = 0)
      Seq(false, true).foreach { deltaOnly =>
        val inc = Dedup.connectedComponentsIncremental(frozen, df(newE),
          "a_id", "b_id", deltaOnly = deltaOnly)
        val incLoop = Dedup.connectedComponentsIncremental(frozen, df(newE),
          "a_id", "b_id", deltaOnly = deltaOnly, localEdges = 0)
        assert(same(inc, incLoop), s"incremental deltaOnly=$deltaOnly: $label")
      }
    }
  }

  test("incremental CC: driver-local regime == round loop == batch-over-union with self-edges and NULL endpoints, both modes") {
    // the small-input regime of the incremental twin (shard edges and the
    // two label lookups collected, stars closed by union-find) must give
    // the round loop's rows (forced with localEdges = 0), and both must
    // fold to one batch run over all edges. NULL endpoints name no node
    // but still touch the component of their other endpoint
    type E = (Option[Long], Option[Long])
    val graphs: Gen[(List[E], Int)] = for {
      n <- Gen.chooseNum(2, 30)
      m <- Gen.chooseNum(1, 50)
      node = Gen.chooseNum(0L, n.toLong)
      es <- Gen.listOfN(m, Gen.frequency(
        6 -> (for { a <- node; b <- node } yield (Option(a), Option(b))),
        2 -> node.map(a => (Option(a), Option(a))),
        2 -> node.map(a => (Option(a), Option.empty[Long])),
        1 -> node.map(b => (Option.empty[Long], Option(b))),
        1 -> Gen.const((Option.empty[Long], Option.empty[Long])))): Gen[List[E]]
      cut <- Gen.chooseNum(0, m)
    } yield (es, cut)
    def same(a: DataFrame, b: DataFrame) =
      a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0
    def df(rows: List[E]) =
      rows.map { case (a, b) => (a.map(Long.box).orNull, b.map(Long.box).orNull) }
        .toDF("a_id", "b_id")
    cases(graphs, 8).foreach { case (es, cut) =>
      val (oldE, newE) = es.splitAt(cut)
      val frozen = Dedup.connectedComponents(df(oldE), "a_id", "b_id", localEdges = 0)
        .localCheckpoint()
      val full = Dedup.connectedComponents(df(es), "a_id", "b_id", localEdges = 0)
      Seq(false, true).foreach { deltaOnly =>
        val label = s"edges=${es.size} cut=$cut deltaOnly=$deltaOnly"
        var rounds = 0
        val local = Dedup.connectedComponentsIncremental(frozen, df(newE), "a_id", "b_id",
          deltaOnly = deltaOnly, onRound = () => rounds += 1)
        assert(rounds == 1, s"driver-local regime expected: $label")
        val loop = Dedup.connectedComponentsIncremental(frozen, df(newE), "a_id", "b_id",
          deltaOnly = deltaOnly, localEdges = 0)
        assert(same(local, loop), s"regimes differ: $label")
        val folded =
          if (deltaOnly) local.union(frozen.join(local.select(col("id")), Seq("id"), "left_anti"))
          else local
        assert(same(folded, full), s"batch-over-union differs: $label")
      }
    }
  }
}
