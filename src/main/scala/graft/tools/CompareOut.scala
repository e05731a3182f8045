package graft.tools

import graft.Tables

/** Row-level diff of two Verify output dirs (refactor safety): run Verify
  * before and after a change, then `CompareOut <dirA> <dirB>`. Exits 1 on
  * any row diff, any unreadable query, or a query present on one side
  * only; 0 only for a clean compare. */
object CompareOut {
  def main(args: Array[String]): Unit = {
    val Array(a, b) = args.take(2)
    def queries(dir: String): Set[String] = {
      val f = new java.io.File(dir)
      require(f.isDirectory, s"not a directory: $dir")
      f.listFiles().filter(_.isDirectory).map(_.getName).toSet
    }
    val (qa, qb) = (queries(a), queries(b))
    val spark = Tables.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val both = (qa intersect qb).toSeq.sorted
    val oneSided = ((qa union qb) diff both.toSet).toSeq.sorted
    oneSided.foreach(q => println(s"MISSING $q: only in ${if (qa(q)) a else b}"))
    var bad = 0
    var errs = 0
    both.foreach { q =>
      try {
        val da = spark.read.parquet(s"$a/$q")
        val db = spark.read.parquet(s"$b/$q")
        val d1 = da.exceptAll(db).count()
        val d2 = db.exceptAll(da).count()
        if (d1 != 0 || d2 != 0) { bad += 1; println(s"DIFF $q: a-b=$d1 b-a=$d2") }
      } catch { case e: Exception => errs += 1; println(s"ERR $q: ${e.getMessage.take(100)}") }
    }
    println(s"compared ${both.size} queries, $bad diffs, $errs errors, " +
      s"${oneSided.size} one-sided")
    spark.stop()
    if (bad + errs + oneSided.size > 0) sys.exit(1)
  }
}
