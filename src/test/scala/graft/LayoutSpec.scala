package graft

import graft.operators.{Family, Layout, Staging}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed-layout proof: two tables bucketed on the join key join
  * WITHOUT any exchange in the final plan (co-located reads), and the
  * result matches the plain shuffle join; a small materialized append
  * written by one task keeps that layout. */
class LayoutSpec extends AnyFunSuite {
  lazy val spark = Tables.session(4)
  val dir = "/root/testdata/sf0.001"

  test("same-bucketed tables join shuffle-free with identical results") {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    Layout.writeBucketed(li, "li_bkt", "l_orderkey", 8)
    Layout.writeBucketed(ord, "ord_bkt", "l_orderkey", 8)
    // disable auto-broadcast: at test scale the small side would broadcast
    // (a BroadcastExchange) and hide the property under test — at real
    // scale neither side fits, so sort-merge over co-located buckets is
    // exactly the plan that matters
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Layout.bucketedJoin(spark, "li_bkt", "ord_bkt", "l_orderkey")
      val n = joined.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n${plan.take(1500)}")
      val plain = li.join(ord, "l_orderkey").count()
      assert(n == plain, s"bucketed join rows $n != plain join rows $plain")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS ord_bkt")
    }
  }

  test("a small materialized append is written by one task: one file per bucket, one job, still co-located") {
    import spark.implicits._
    def bucketIds(table: String): Seq[Int] = {
      val loc = Family.location(spark, table)
      val it = loc.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(loc, true)
      // a bucketed file name ends with its bucket id: part-…_0000N.c000….parquet
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.getName)
        .filter(_.endsWith(".parquet"))
        .map(f => "_(\\d{5})\\.c\\d{3}".r.findFirstMatchIn(f).get.group(1).toInt).toSeq.sorted
    }
    // an append of `w` into a 4-bucket table: its Spark jobs
    def append(w: Layout.Write): Int =
      JobCount(spark, s"layoutspec-${w.table}")(Layout.writeBucketed(w, 4, "append"))._2
    val tables = Seq("lt_local", "lt_staged", "lt_over", "lt_lazy")
    try {
      // a local relation: its size is exact
      val tiny = (0L until 40L).map(k => (k, k * 10, 0L)).toDF("k", "v", "ingest_batch")
      assert(append(Layout.Write(tiny, "lt_local", Seq("k"))) == 1,
        "a small local relation is written by one task in one job")
      // narrow operators over a staged checkpoint, its count observed by
      // the staging action
      val lazyRows = spark.range(40).select(col("id").as("k"), (col("id") * 7).as("w"),
        lit(0L).as("ingest_batch"))
      val (staged, n) = Staging.stageObserved(Staging.Local, lazyRows, count(lit(1)))
      assert(append(Layout.Write(staged.filter(col("k") >= 0), "lt_staged", Seq("k"),
        Some(n.getLong(0)))) == 1, "an observed staged frame is written by one task")
      // past the bound (a known count over it wins over the local
      // relation's size), and over an unmaterialized lineage, the write
      // stays bucket-aligned: the shuffle's job plus the write's
      assert(append(Layout.Write(tiny, "lt_over", Seq("k"),
        Some(Layout.smallWriteRows + 1))) == 2,
        "an over-bound frame takes bucketAligned")
      assert(append(Layout.Write(lazyRows, "lt_lazy", Seq("k"), Some(40L))) == 2,
        "an unmaterialized lineage takes bucketAligned whatever its count")
      // every regime lands one file per bucket in the one partition
      tables.foreach(t => assert(bucketIds(t) == Seq(0, 1, 2, 3), t))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Layout.bucketedJoin(spark, "lt_local", "lt_staged", "k")
      assert(joined.count() == 40)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"one-task appends broke co-location:\n${plan.take(1500)}")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
