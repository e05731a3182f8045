package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared session contract, session-extension registration and
  * skew-join correctness. */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = Tables.session(4)

  // Verify, Bench and perfbench all run on this one config. Only keys
  // that do not depend on the thread count: the forked test JVM shares
  // one session across suites.
  test("Tables.session pins the engine-wide session config") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    // without the exclusion q85 plans in 17.6 s instead of ~3 s at sf0.1
    assert(conf.get("spark.sql.optimizer.excludedRules").split(",").map(_.trim)
      .contains("org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"))
  }

  test("graft_dot is callable from SQL after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .head().getDouble(0)
    assert(r == 32.0)
  }

  test("graft_simhash64 and graft_minhash are callable from SQL") {
    GraftExtensions.register(spark)
    val sig = spark.sql(
      "SELECT graft_simhash64(transform(split('a b c', ' '), t -> xxhash64(t))) AS s")
      .head().getLong(0)
    val viaOp = Seq(("a b c"))
      .map(Tuple1.apply).foldLeft(spark.range(1).toDF()) { (_, t) =>
        spark.sql(s"SELECT '${t._1}' AS text")
      }.select(graft.operators.Dedup.simhash64("split(text, ' ')")).head().getLong(0)
    assert(sig == viaOp)
    val mh = spark.sql(
      "SELECT graft_minhash(transform(split('a b c', ' '), t -> pmod(xxhash64(t), 2147483647))) AS m")
      .head().getSeq[Long](0)
    assert(mh.length == 32 && mh.forall(v => v >= 0 && v < 2147483647L))
  }

  test("graft_dot matches the HOF formulation bit-for-bit on real embeddings") {
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .withColumn("v", transform(col("embedding"), _.cast("double")))
    val hof = emb.select(
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y), lit(0.0), (a, x) => a + x))
      .collect().map(_.getDouble(0))
    val native = emb.select(graft.functions.VectorExpressions.dot(col("v"), col("v")))
      .collect().map(_.getDouble(0))
    assert(hof.sameElements(native))
  }

  test("salted join equals the plain join") {
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_linenumber"), col("l_quantity"))
    val supp = Tables(spark, "/root/testdata/sf0.001", "supplier")
      .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
    val salted = Skew.saltedJoin(li, supp, "l_suppkey",
      concat(col("l_orderkey"), lit("_"), col("l_linenumber")))
    val plain = li.join(supp, Seq("l_suppkey"))
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }
}
