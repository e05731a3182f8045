package graft.pipeline

import graft.functions.Stats
import graft.operators.{KMeansPolish, MLOps}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Phase-3 clustering (clustering.R): drop price → z-scale → elbow sweep →
  * k=3 fit → label join → cluster means → unscaled centers → per-feature
  * ANOVA validation. Cluster ids are 1-based like R's; the id→label
  * mapping is positional exactly as the reference hardcodes it
  * (clustering.R:139-142). Assignment parity with R is metric-level
  * (SURVEY §7 hard-part 5): same k, sizes/centers within tolerance up to
  * permutation.
  */
object CarClusteringPipeline {

  val labels: Seq[(Int, String)] = Seq(
    1 -> "Economy Cars", 2 -> "Performance Cars", 3 -> "Luxury Cars")

  /** VectorAssembler reads dotted names as struct paths — the R-style
    * "brand.audi" dummies must be underscore-sanitized for ML stages.
    * Case-insensitive collisions (brand.nissan / brand.Nissan, real typo
    * levels) get a "__n" suffix or Spark's resolver calls them ambiguous. */
  private def safeNames(df: DataFrame): DataFrame = {
    val seen = scala.collection.mutable.Map[String, Int]()
    val newNames = df.columns.map { c =>
      val base = c.replace(".", "_")
      val n = seen.getOrElse(base.toLowerCase, 0)
      seen(base.toLowerCase) = n + 1
      if (n == 0) base else s"${base}__$n"
    }
    df.toDF(newNames.toIndexedSeq: _*)
  }

  /** Elbow WSS curve over one cached scaled frame (clustering.R:36-42).
    * Mirrors R's `nstart = 10` converged fits so the curve is monotone
    * non-increasing like the one the reference eyeballed k=3 from —
    * 10 restarts * 15 ks is a 205-row parity sweep, not a scale path
    * (MLOps.elbow's cheap defaults are). */
  def elbow(mlReadyDf: DataFrame, ks: Seq[Int] = 1 to 15): DataFrame = {
    val safe = safeNames(mlReadyDf).drop("price")
    MLOps.elbow(safe, safe.columns.toSeq, ks, restarts = 10, maxIter = 100)
  }

  /** Final clustering: returns (labeled frame, centers-in-original-scale).
    * Centers are unscaled via center + z*scale (clustering.R:85-87),
    * driver-side math on a k x d array. Output columns are the
    * underscore-sanitized feature names + cluster + label.
    *
    * Two parity mechanisms vs R (both verified against the committed
    * golden car_data_with_clusters.csv / cluster_centers.csv):
    *  - `restarts` emulates R's `nstart = 10` (clustering.R:67): fit with
    *    `restarts` seeds and keep the lowest tot.withinss. Spark's single
    *    k-means|| init lands in a worse local optimum on this data (~31 of
    *    205 rows differ); best-of-10 finds R's partition. At 100 TB the
    *    restart count multiplies full-data passes — callers with big data
    *    should drop to restarts = 1 (k-means|| init is designed for that).
    *  - cluster ids are renumbered by ascending horsepower center: R's own
    *    numbering is init-order-dependent, and the reference's positional
    *    label join (clustering.R:139-142) encodes "1 = economy … 3 =
    *    luxury" for THEIR init. Ordering by the first feature's center
    *    reproduces that semantic deterministically. */
  def cluster(mlReadyDf: DataFrame, k: Int = 3, seed: Long = 123L,
              restarts: Int = 10, polishMoves: Int = 200): (DataFrame, Seq[Seq[Double]]) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import graft.operators.FitPool.ec
    val mlReady = safeNames(mlReadyDf)
    val featCols = mlReady.drop("price").columns.toSeq
    val (scaled0, center, scale) = MLOps.standardize(mlReady, featCols)
    val scaled = scaled0.cache()
    scaled.count() // materialize before the concurrent restart fits
    // initMode=random matches what R's nstart actually does (sample k rows
    // as centers, run to convergence, keep best); k-means|| restarts all
    // land in the same wider basin here and miss the 11-car luxury cluster.
    // Restarts are independent jobs over the cached frame — run them
    // concurrently on the bounded FitPool (min-by-cost is
    // order-independent and seed-pinned).
    val model = Await.result(Future.sequence((0 until restarts).map { i =>
      graft.operators.FitPool.submit(
        new KMeans().setK(k).setSeed(seed + i).setFeaturesCol("scaled")
          .setPredictionCol("cluster0").setInitMode("random")
          .setMaxIter(100).setTol(1e-9).fit(scaled))
    }), Duration.Inf).minBy(_.summary.trainingCost)
    // Lloyd fixed point != Hartigan-Wong fixed point: polish with the H-W
    // single-point-move criterion (what R's kmeans actually optimizes) so
    // the partition matches the reference's committed golden exactly.
    val base = model.transform(scaled)
      .withColumn("__rid", monotonically_increasing_id())
      .withColumn("__z", org.apache.spark.ml.functions.vector_to_array(col("scaled")))
      .cache()
    val (polished, stats) =
      KMeansPolish.polish(base, "__rid", "__z", "cluster0", polishMoves)
    // centers = final-partition means (what R reports after convergence)
    val centersScaled: Map[Int, Array[Double]] =
      stats.map { case (c, (n, s)) => c -> s.map(_ / n) }
    val hpIdx = math.max(featCols.indexOf("horsepower"), 0)
    val order = centersScaled.toSeq.sortBy(_._2(hpIdx)).map(_._1)
    val renum = order.zipWithIndex.map { case (old, r) => old -> (r + 1) }.toMap
    val mapCluster = renum.tail.foldLeft(
      when(col("cluster0") === renum.head._1, lit(renum.head._2))) {
      case (acc, (old, nw)) => acc.when(col("cluster0") === old, lit(nw))
    }
    val assigned = polished
      .withColumn("cluster", mapCluster.cast("int"))
      .drop("cluster0", "features", "scaled", "__rid", "__z")
    val spark = mlReady.sparkSession
    import spark.implicits._
    val labelDf = labels.toDF("cluster", "label")
    val labeled = assigned.join(broadcast(labelDf), Seq("cluster"))
    val centersOrig = order.map(old =>
      centersScaled(old).toSeq.zipWithIndex
        .map { case (z, i) => center(i) + z * scale(i) })
    (labeled, centersOrig)
  }

  /** Per-feature ANOVA by cluster (clustering.R:210-218): does each
    * feature differ significantly across clusters? */
  def validateAnova(labeled: DataFrame, features: Seq[String]): DataFrame = {
    val spark = labeled.sparkSession
    import spark.implicits._
    features.map { f =>
      val r = Stats.anovaF(labeled, f, "cluster").head()
      (f, r.getAs[Double]("f_stat"), r.getAs[Double]("p_value"))
    }.toDF("feature", "f_stat", "p_value")
  }
}
