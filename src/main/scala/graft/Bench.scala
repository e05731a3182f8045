package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val qmap = SparkEntry.queries
    // Warmup: touch every table, then run the whole suite once unmeasured.
    // JVM/JIT warmup isn't uniform — the Catalyst optimizer and codegen
    // paths a query exercises are compiled on first use, so a single
    // token warmup query still charges several seconds of driver JIT to
    // whichever planning-heavy query happens to run first. The timed pass
    // below reports steady-state throughput (standard bench practice).
    graft.Tables.names.foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    SparkEntry.benchQueries.foreach { name =>
      try qmap(name)(spark, sfDir).count()
      catch { case _: Throwable => () }
    }
    // Timing: MIN over 2 interleaved full passes (round 10). A single
    // timed pass let one GC/compilation hiccup land entirely on one
    // query and write a 14x phantom regression into the official record
    // (BENCH_r09 q79: 8.54 s recorded vs 0.63 s warm re-run). Interleaved
    // passes revisit every query after the rest of the catalog ran, so a
    // hiccup in one pass is corrected by the other; the per-query MINIMUM
    // is the steady-state number the warmup pass was already aiming for.
    // Round-11 advisory fixes: (a) a pass where the query THREW no longer
    // records its fast-failure time as the min — failed iterations are
    // excluded, and a query with zero successful passes reports -1 (a
    // loud sentinel, not a phantom speedup) and is excluded from the
    // total; (b) the emitted JSON records the pass count, so a reader
    // knows the totals are per-query minima over `passes` interleaved
    // passes (comparable to r10+, NOT to the single-pass r1-r9 records).
    val passes = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt)
    // Per-pass times are RECORDED, not just their minimum (round 12): a
    // same-build A/B in round 11 read 1.22x total drift on identical
    // code, so the committed record must let a later reader separate
    // session drift (passes disagree) from real regression (passes
    // agree) without re-running the build.
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
    (1 to passes).foreach { _ =>
      SparkEntry.benchQueries.foreach { name =>
        val t0 = System.nanoTime()
        val ok = try { qmap(name)(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
        val t = (System.nanoTime() - t0) / 1e9
        if (ok) times(name) = times.getOrElse(name, Vector.empty) :+ t
      }
    }
    val results = SparkEntry.benchQueries
      .map(n => n -> times.get(n).map(_.min).getOrElse(-1.0)).toMap
    val total = results.values.filter(_ >= 0).sum
    // A degraded run must not read as a speedup (round-12 advisory): any
    // query with zero successful passes is named explicitly in BOTH
    // emitted lines, not just left as a -1 to be scanned for.
    val failed = SparkEntry.benchQueries.filter(n => !times.contains(n))
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Full-name per-query line, opt-in (SPARK_GRAFT_BENCH_FULL=1): used
    // when capturing the committed bench/r*_sf*.json pair. Carries the
    // per-pass arrays alongside the minima.
    if (sys.env.get("SPARK_GRAFT_BENCH_FULL").contains("1")) {
      val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val detail = SparkEntry.benchQueries.map { n =>
        "\"" + n + "\":" + times.getOrElse(n, Vector.empty)
          .map(f3).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      println(s"""{"metric":"total","value":$total,"unit":"sec","passes":$passes,"failed":$failedJson,"queries":$qs,"passes_detail":$detail,"sf":"$sfDir"}""")
    }
    // The driver captures only the last ~2000 chars of stdout and parses
    // the JSON line from that tail (BENCH_r06: rc=0 but parsed:null — the
    // 103-query full-name line was ~4000 chars, so its opening brace fell
    // outside the tail). Final line is therefore compact: short `qNN`
    // keys (the catalog's unique numeric prefix, matching the contract's
    // `{"q1":sec,…}` example) and 3-decimal seconds — ~1.6 kB for 105
    // queries, inside the tail with room for sbt's closing lines.
    // the short keys are only valid while every catalog name has a
    // unique numeric prefix — a silent collision would drop a query's
    // timing from the JSON, so fail loudly instead
    require(results.keySet.map(_.split("_")(0)).size == results.size,
      "bench short-key collision: two catalog entries share a qNN prefix")
    val qsShort = results.map { case (k, v) => s"\"" + k.split("_")(0) + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val failedShort = failed.map("\"" + _.split("_")(0) + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","passes":$passes,"failed":$failedShort,"queries":$qsShort,"sf":"$sfDir"}""")
    spark.stop()
  }
}
