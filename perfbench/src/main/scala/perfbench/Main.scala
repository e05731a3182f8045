package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup
import graft.streaming.IngestLoop

/** One benchmark run: set up, warm up, measure one workload for a given
  * time, and write the raw record (per-operation times, output digests,
  * and in traced runs the spans and Spark events) as JSON. `run.py` turns
  * the record into metrics and checks the digests.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <dir> --out <file> [--nproc <n>] [--passes <n>]
  * `--passes` replaces the time limit by a fixed number of passes (used to
  * record the expected digests).
  */
object Main {
  /** Timed passes a run makes at least, however long they take: with one,
    * `pass_s` would rest on a single sample. */
  val MinPasses = 2

  final class Ctx(val spark: SparkSession, val dir: String, val seed: Long,
                  val trace: Trace, val nproc: Int) {
    val ops = ArrayBuffer[Map[String, Any]]()
    val passes = ArrayBuffer[Map[String, Any]]()
    val extra = scala.collection.mutable.LinkedHashMap[String, Any]()
  }

  trait Workload {
    def tables: Seq[String]
    /** Unmeasured warm-up passes (or batches), run after the set-up. */
    def warm(ctx: Ctx): Unit
    /** Whole passes until `seconds` have elapsed and at least `MinPasses`
      * have run, or exactly `passes`. */
    def timed(ctx: Ctx, seconds: Double, passes: Int): Unit
    def finish(ctx: Ctx): Unit = ()
  }

  val workloads: Map[String, () => Workload] = Map(
    "analytics" -> (() => new CatalogWorkload("analytics", Rows.analytics,
      Seq("region", "nation", "customer", "orders", "lineitem", "events"))),
    "dedup_search" -> (() => new CatalogWorkload("dedup_search", Rows.dedupSearch,
      Seq("documents", "embeddings"))),
    "ingest_write" -> (() => new IngestWorkload))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val wl = workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))()
    val nproc = opt.get("nproc").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val trace = new Trace(opt("trace") == "1")
    val dir = opt("data")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // Set-up, counted from JVM start: build the session and touch every
    // table the workload reads.
    val spark = trace.span("setup.session", "setup")(graft.Tables.session(nproc))
    val t1 = Clock.now
    trace.span("setup.touch", "setup") {
      wl.tables.foreach(t => graft.Tables(spark, dir, t).count())
    }
    val setup = Map("t0" -> jvmStart, "session_s" -> (t1 - jvmStart) / 1e3,
      "touch_s" -> (Clock.now - t1) / 1e3)
    trace.attach(spark)
    val ctx = new Ctx(spark, dir, opt("seed").toLong, trace, nproc)
    val w0 = Clock.now
    trace.span("setup.warmup", "setup/warm")(wl.warm(ctx))
    val warmS = (Clock.now - w0) / 1e3

    wl.timed(ctx, opt("seconds").toDouble, opt.get("passes").map(_.toInt).getOrElse(0))
    trace.span("check", s"$name/check")(wl.finish(ctx))
    trace.drain()

    val env = Map(
      "workload" -> name, "seed" -> ctx.seed, "seconds" -> opt("seconds").toDouble,
      "nproc" -> nproc, "trace" -> trace.on,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "master" -> spark.sparkContext.master,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "warehouse" -> spark.conf.get("spark.sql.warehouse.dir"))
    val family = Seq("RelationalQueries" -> graft.queries.RelationalQueries.entries,
      "StatsQueries" -> graft.queries.StatsQueries.entries,
      "TextQueries" -> graft.queries.TextQueries.entries,
      "MLQueries" -> graft.queries.MLQueries.entries)
      .flatMap { case (f, es) => es.map(e => e._1 -> s"queries.$f") }.toMap
    val record = Map("env" -> env, "row_family" -> family, "setup" -> setup, "warm_s" -> warmS,
      "ops" -> ctx.ops, "passes" -> ctx.passes, "extra" -> ctx.extra,
      "peak_rss_mb" -> peakRssMb(), "trace" -> trace.toJson)
    spark.stop()
    val out = new java.io.PrintWriter(opt("out"), "UTF-8")
    try out.write(Json.write(record)) finally out.close()
  }

  /** Process peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** Order-independent digest of a result: the row count and the sum of a
    * 64-bit hash of each row's canonical text. Doubles are compared at 8
    * significant digits, so summation-order noise in the last bits does
    * not count as a different result. */
  def digest(columns: Seq[String], rows: Array[Row]): (Long, String) = {
    def canon(v: Any): String = v match {
      case null => "~"
      case d: Double =>
        if (d.isNaN) "NaN" else if (d == 0.0) "0" else "%.8g".formatLocal(java.util.Locale.ROOT, d)
      case f: Float => canon(f.toDouble)
      case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case a: Array[Byte] => java.util.Base64.getEncoder.encodeToString(a)
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case other => other.toString
    }
    val head = columns.mkString("|")
    val sum = rows.foldLeft(0L) { (acc, r) =>
      val s = head + "#" + canon(r)
      val h = (scala.util.hashing.MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
      acc + h
    }
    (rows.length.toLong, java.lang.Long.toHexString(sum))
  }

  /** Catalog rows in a seeded order per pass (analytics, dedup_search). */
  final class CatalogWorkload(name: String, rows: Seq[String], val tables: Seq[String])
      extends Workload {
    // the first pass runs about twice as slow as later ones (code
    // generation and JIT), the second still ~15% slower: both are warm-up
    def warm(ctx: Ctx): Unit =
      ctx.extra("warm_pass_s") = (1 to 2).map { i =>
        val t0 = Clock.now
        pass(ctx, -i)
        (Clock.now - t0) / 1e3
      }

    def timed(ctx: Ctx, seconds: Double, passes: Int): Unit = {
      val t0 = Clock.now
      var p = 0
      while (if (passes > 0) p < passes else p < MinPasses || Clock.now - t0 < seconds * 1e3) {
        p += 1
        val p0 = Clock.now
        pass(ctx, p)
        ctx.passes += Map("pass" -> p, "t0" -> p0, "t1" -> Clock.now)
      }
      if (ctx.trace.on && name == "dedup_search") Probes.kernels(ctx)
      if (ctx.trace.on && name == "analytics") Probes.fits(ctx)
    }

    private def pass(ctx: Ctx, p: Int): Unit =
      new scala.util.Random(ctx.seed * 1000003L + p).shuffle(rows).foreach { q =>
        val op = runRow(ctx, q, s"$name/p$p/$q")
        if (p > 0) ctx.ops += (op + ("pass" -> p))
      }
  }

  /** Executes catalog row `q` (`fn(spark, dir)`, then `collect()`) under
    * trace id `id` and returns its operation record: times, and the output
    * digest or the error. */
  def runRow(ctx: Ctx, q: String, id: String): Map[String, Any] = {
    ctx.spark.sparkContext.setLocalProperty(Trace.RowProperty, q)
    val t0 = Clock.now
    val res = try {
      val (cols, out) = ctx.trace.span("queries.row", id) {
        val df = ctx.trace.span("queries.build", id)(graft.SparkEntry.queries(q)(ctx.spark, ctx.dir))
        if (ctx.trace.on) ctx.trace.span("queries.plan", id)(df.queryExecution.executedPlan)
        (df.columns.toSeq, ctx.trace.span("queries.exec", id)(df.collect()))
      }
      Right(digest(cols, out))
    } catch { case NonFatal(e) => Left(e) }
    val t1 = Clock.now
    ctx.spark.sparkContext.setLocalProperty(Trace.RowProperty, null)
    Map("name" -> q, "t0" -> t0, "t1" -> t1, "ok" -> res.isRight) ++ (res match {
      case Right((n, h)) => Map("rows" -> n, "hash" -> h)
      case Left(e) => Map("err" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    })
  }

  /** Seeded near-duplicate batches committed through the containment ingest
    * loop in group-sized emission (q139's path), one writer, with a
    * components compaction after every `CompactEvery` batches. A pass is
    * one such cycle. An operation's latency is its batch commit; the
    * compaction that follows it is timed on its own and counts toward the
    * pass. */
  final class IngestWorkload extends Workload {
    val tables = Seq("documents")
    val Originals = 40      // per batch
    val Copies = 10         // one document in five is a near-duplicate
    val CompactEvery = 2
    val CopyIdBase = 100000000L
    private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

    private var docs: IndexedSeq[(Long, String)] = IndexedSeq.empty
    private var order: IndexedSeq[Int] = IndexedSeq.empty
    private var next = 0        // next original in `order`
    private var copies = 0L
    private val emitted = ArrayBuffer[(Long, String)]()   // originals so far
    private val committed = ArrayBuffer[(Long, String)]() // timed batches' rows
    private val planted = ArrayBuffer[(Long, Long)]()     // (copy id, source id)

    private def load(ctx: Ctx): Unit = if (docs.isEmpty) {
      docs = graft.Tables(ctx.spark, ctx.dir, "documents").select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toIndexedSeq
      order = new scala.util.Random(ctx.seed).shuffle(docs.indices.toIndexedSeq)
    }

    /** Next batch: `Originals` unseen documents plus `Copies` excerpts (the
      * first half of the words) of documents already sent. */
    private def batch(ctx: Ctx, rng: scala.util.Random): Seq[(Long, String)] = {
      val orig = (0 until Originals).map { _ => val d = docs(order(next)); next += 1; d }
      emitted ++= orig
      val dups = (0 until Copies).map { _ =>
        val (src, text) = emitted(rng.nextInt(emitted.size))
        val toks = text.split(" ")
        copies += 1
        planted += ((CopyIdBase + copies, src))
        (CopyIdBase + copies, toks.take(toks.length / 2).mkString(" "))
      }
      rng.shuffle(orig ++ dups)
    }

    private def commit(ctx: Ctx, rows: Seq[(Long, String)], bid: Long, prefix: String): Unit = {
      import scala.jdk.CollectionConverters._
      val df = ctx.spark.createDataFrame(rows.map { case (i, t) => Row(i, t) }.asJava, schema)
      IngestLoop.ingestContainmentBatch(df, bid, "doc_id", "text", prefix = s"${prefix}_cn",
        pairsDir = "", tau = 0.5, n = 3, buckets = ctx.nproc, groupsPrefix = s"${prefix}_cc")
    }

    def warm(ctx: Ctx): Unit = {
      load(ctx)
      val rng = new scala.util.Random(ctx.seed + 1)
      // one batch and a compaction into a throwaway family, fed from the
      // far end of the permutation
      val saved = next
      next = order.size - Originals
      commit(ctx, batch(ctx, rng), 0, "pbwarm")
      IngestLoop.compactCc(ctx.spark, "pbwarm_cc")
      next = saved
      emitted.clear(); planted.clear(); copies = 0
    }

    def timed(ctx: Ctx, seconds: Double, passes: Int): Unit = {
      val rng = new scala.util.Random(ctx.seed + 2)
      val t0 = Clock.now
      var cycle = 0
      var bid = 0L
      val whDir = new java.io.File(ctx.spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
      while ((if (passes > 0) cycle < passes else cycle < MinPasses || Clock.now - t0 < seconds * 1e3) &&
          next + (CompactEvery + 1) * Originals <= order.size) {
        cycle += 1
        val c0 = Clock.now
        (1 to CompactEvery).foreach { k =>
          val rows = batch(ctx, rng)
          val id = s"ingest_write/c$cycle/b$bid"
          val before = if (ctx.trace.on) familyFiles(whDir) else Set.empty[String]
          val b0 = Clock.now
          var b1 = Double.NaN
          val res = try {
            ctx.trace.span("streaming.batch", id)(commit(ctx, rows, bid, "pb"))
            b1 = Clock.now
            if (k == CompactEvery)
              ctx.trace.span("streaming.compact", id)(IngestLoop.compactCc(ctx.spark, "pb_cc"))
            None
          } catch { case NonFatal(e) => Some(e) }
          val c1 = Clock.now
          if (b1.isNaN) b1 = c1
          committed ++= rows
          val newFiles = if (ctx.trace.on) (familyFiles(whDir) -- before).size else 0
          ctx.ops += Map("name" -> "batch", "pass" -> cycle, "bid" -> bid, "t0" -> b0, "t1" -> b1,
            "ok" -> res.isEmpty, "docs" -> rows.size,
            "text_bytes" -> rows.map(_._2.getBytes("UTF-8").length.toLong).sum,
            "compact_s" -> (c1 - b1) / 1e3, "new_files" -> newFiles) ++
            res.map(e => "err" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          bid += 1
        }
        ctx.passes += Map("pass" -> cycle, "t0" -> c0, "t1" -> Clock.now)
      }
    }

    private def familyFiles(wh: java.io.File): Set[String] =
      Option(wh.listFiles()).toSeq.flatten.filter(_.getName.startsWith("pb_"))
        .flatMap(d => java.nio.file.Files.walk(d.toPath).toArray.toSeq.map(_.toString))
        .filter(p => new java.io.File(p).isFile).toSet

    /** Checks the loop's final components against a one-shot containment
      * join plus connected components over the union of the batches, and
      * that every planted copy shares its source's component. */
    override def finish(ctx: Ctx): Unit = {
      import scala.jdk.CollectionConverters._
      val spark = ctx.spark
      val all = spark.createDataFrame(committed.map { case (i, t) => Row(i, t) }.asJava, schema)
      val pairs = Dedup.containmentJoin(all, "doc_id", "text", tau = 0.5, n = 3)
        .select("a_id", "b_id").localCheckpoint()
      val oneShot = Dedup.connectedComponents(pairs, "a_id", "b_id")
      val loop = IngestLoop.ccComponents(spark, "pb_cc")
      def canonical(comps: DataFrame): Array[Row] = {
        val c = comps.select(col("id").cast("long").as("id"), col("component"))
        c.join(c.groupBy("component").agg(min("id").as("label")), "component")
          .select("id", "label").collect()
      }
      val loopRows = canonical(loop)
      val label = loopRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val plantedOk = planted.count { case (c, s) => label.get(c).exists(l => label.get(s).contains(l)) }
      val (ln, lh) = digest(Seq("id", "label"), loopRows)
      val (on, oh) = digest(Seq("id", "label"), canonical(oneShot))
      ctx.extra ++= Seq("loop_ids" -> ln, "loop_hash" -> lh, "oneshot_ids" -> on,
        "oneshot_hash" -> oh, "oneshot_pairs" -> pairs.count(),
        "planted" -> planted.size, "planted_found" -> plantedOk,
        "docs_committed" -> committed.size)
    }
  }
}
