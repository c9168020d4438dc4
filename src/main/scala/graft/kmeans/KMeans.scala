package graft.kmeans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.VectorFunctions._

/** Parameters mirroring the reference CLI
  * (`Code/KmeanMapReduce/src/Main.java:258-266`):
  * `-Dk` / `-Dthresh` / `-Dmaxloop`, plus the determinism knobs the
  * reference lacks (seed, injectable init centroids — its init is an
  * unseeded `Random`, Main.java:135).
  *
  * `maxLoop` preserves the reference's off-by-one: the loop counter is
  * checked BEFORE each job, so at most `maxLoop - 1` iterations run
  * (Main.java:303-305).
  */
final case class KMeansParams(
    k: Int = 3,
    threshold: Double = 0.001,
    maxLoop: Int = 50,
    seed: Long = 42L,
    featuresCol: String = "features",
    initCentroids: Option[Array[Array[Float]]] = None)

/** Fitted model: final centroids + loop metadata. The reference never
  * persists labels (only centroids, Main.java:356-359); `transform`
  * exposes labeling as a real distributed operator (SURVEY §3.3). */
final case class KMeansModel(
    centroids: Array[Array[Float]],
    iterations: Int,
    converged: Boolean) {

  /** Label every row with its nearest centroid — a pure narrow map, no
    * shuffle (reference does this driver-side over the whole dataset,
    * Main.java:345-355; we stay distributed). [[assignCol]]: the
    * codegen'd `VecArgminSqDist` loop up to 8192 k·dim, the broadcast
    * ScalaUDF kernel above it — identical picks either way (same double
    * fold, same lowest-index ties as `argminCentroid`). */
  def transform(
      df: DataFrame,
      featuresCol: String = "features",
      outputCol: String = "cluster"): DataFrame =
    df.withColumn(outputCol, assignCol(col(featuresCol), centroids))

  def centroidsAsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c) }
      .toSeq
      .toDF("cluster", "centroid")
  }
}

/** Spark-native Lloyd's K-Means — the reference's whole pipeline
  * (SURVEY §3.1) re-expressed:
  *
  *   - per-iteration MapReduce job  →  one cached distributed dataset +
  *     one narrow partial-aggregation pass per iteration;
  *   - centroids through Hadoop `Configuration` →  `sparkContext.broadcast`;
  *   - reducer-output file round-trip (Main.java:175-203)  →  `collect()`
  *     of per-partition partials, final merge on the driver;
  *   - input re-read per job (Main.java:318 in-loop)  →  `persist()` once.
  *
  * The iteration body is the combiner/reducer split made explicit
  * (KCombiner.java:9-18 / KReducer.java:12-26): each partition folds its
  * rows into k×(dim+1) partial (sum, count) cells — A2 — and the driver
  * merges the k-sized partials and takes the rounded mean — A3. It runs
  * as `mapPartitions` + `collect` rather than a per-iteration
  * `groupBy().agg()` because an iterative loop re-plans a k×dim
  * aggregate every pass (measured ~1.2 s/iteration of analysis/codegen/
  * scheduling overhead at bench scale — the dominant cost for small
  * inputs), whereas this loop reuses one cached RDD and ships only
  * k×(dim+1)×numPartitions doubles to the driver per iteration; there is
  * NO shuffle at all. The declarative `groupBy` form of the same
  * aggregation remains the engine's single-step operator (q07) where
  * Catalyst's partial/final HashAggregate split is asserted by PlanSpec.
  *
  * Determinism: partitions accumulate in row order (double fold — the
  * reference combiner's semantics per partition), then each partition's
  * cells are lifted to exact `BigDecimal`s for the merge. Exact addition
  * is associative, so the merged sum is independent of merge ORDER and
  * merge SHAPE — the driver's sequential fold and the gated
  * `treeReduce` below are bit-identical by construction (the PageRank
  * DECIMAL device, applied to the k×(dim+1) partial cells), and the
  * result is bit-stable across runs (a parallel `sum()` over raw
  * doubles is not). Each merged cell is converted to double exactly
  * once before the 5-dp float mean.
  *
  * Parity-preserving semantics: f32 coordinates, mean computed in float
  * then rounded to 5 dp half-up at the final aggregate only
  * (`PointWritable.calcAverage`, PointWritable.java:106-112), argmin ties
  * to the lowest index (KMapper.java:39), convergence when every centroid
  * moved `<= threshold` (Main.java:205-220), at most `maxLoop - 1`
  * iterations. Divergence (documented, SURVEY §7.4.3): an empty cluster
  * keeps its previous centroid instead of NPE-ing the driver.
  *
  * At scale: assignment+partial-agg is one narrow pass over cached
  * partitions; a 1000-executor run returns k×(dim+1) cells per
  * partition to the driver (tens of MB at 10k partitions). When
  * k×dim×P outgrows the driver envelope the loop swaps the `collect`
  * for a 2-level `treeReduce` — executors pre-merge partials so the
  * driver receives ONE k×(dim+1) table per round instead of P of
  * them. Gate: `spark.graft.kmeans.treeReducePartitions` (default
  * 1024 partitions — below it the extra treeReduce stage costs more
  * than it saves; at 10k+ partitions it bounds driver ingress). The
  * per-partition fold is unchanged and the exact-cell merge makes the
  * two paths bit-identical (KMeansSpec pins it).
  */
object KMeans {

  /** Partition count above which [[fit]]'s per-round partial merge
    * runs as a 2-level `treeReduce` instead of a driver `collect`.
    * Override with `spark.graft.kmeans.treeReducePartitions`. */
  private def treeReducePartitions(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.kmeans.treeReducePartitions")
      .map(_.toInt).getOrElse(1024)

  /** Seeded distinct uniform sample as initial centroids — the analog of
    * the reference's positional line sample (Main.java:129-164) with the
    * determinism it lacks. */
  def initCentroids(
      df: DataFrame,
      featuresCol: String,
      k: Int,
      seed: Long): Array[Array[Float]] = {
    val rows = df
      .select(col(featuresCol).cast("array<float>"))
      .rdd
      .map(_.getSeq[Float](0).toArray)
      .takeSample(withReplacement = false, num = k, seed = seed)
    require(rows.length == k, s"dataset has fewer than k=$k rows")
    rows
  }

  def fit(df: DataFrame, params: KMeansParams): KMeansModel = {
    val spark = df.sparkSession
    val k = params.k
    // Parse rows to primitive float arrays ONCE and cache them: every
    // iteration is then a single narrow job over deserialized vectors.
    val data = df
      .select(col(params.featuresCol).cast("array<float>").as("features"))
      .rdd
      .map(_.getSeq[Float](0).toArray)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var centroids = params.initCentroids
        .map { init =>
          require(init.length == k, "init centroid count != k")
          init.map(_.clone())
        }
        .getOrElse {
          val rows =
            data.takeSample(withReplacement = false, num = k, seed = params.seed)
          require(rows.length == k, s"dataset has fewer than k=$k rows")
          rows
        }
      val dim = centroids(0).length

      val treeGate = treeReducePartitions(spark)

      // Exact merge of two k×(dim+1) partial tables: BigDecimal
      // addition is exact and associative, so ANY merge order/shape —
      // the driver's sequential fold, treeReduce's executor-side
      // pre-merges — yields the same cells. Mutates and returns `a`
      // (inputs are task-fresh on every path).
      def merge(
          a: (Array[Array[java.math.BigDecimal]], Array[Long]),
          b: (Array[Array[java.math.BigDecimal]], Array[Long]))
          : (Array[Array[java.math.BigDecimal]], Array[Long]) = {
        var c = 0
        while (c < k) {
          var i = 0
          while (i < dim) { a._1(c)(i) = a._1(c)(i).add(b._1(c)(i)); i += 1 }
          a._2(c) += b._2(c)
          c += 1
        }
        a
      }

      var loop = 1
      var converged = false
      while (loop < params.maxLoop && !converged) {
        val bc = spark.sparkContext.broadcast(centroids)
        // A2 — the combiner: per-partition fold into k (sum, count)
        // cells, primitive doubles in row order (KCombiner.java:9-18
        // semantics), each cell lifted to an EXACT BigDecimal at
        // partition exit (`new BigDecimal(double)` represents every
        // finite double exactly) so the A3 merge is order-independent.
        val partialsRdd = data.mapPartitions { it =>
          val cents = bc.value
          val sums = Array.ofDim[Double](cents.length, dim)
          val cnts = new Array[Long](cents.length)
          it.foreach { p =>
            val c = argminCentroid(p, cents)
            addInto(sums(c), p)
            cnts(c) += 1
          }
          Iterator.single(
            (sums.map(_.map(new java.math.BigDecimal(_))), cnts))
        }

        // A3 — the reducer: exact merge, then one double conversion per
        // cell and the 5-dp rounded float mean (PointWritable
        // .calcAverage). Above the partition gate the merge runs as a
        // 2-level treeReduce (executors pre-merge; the driver receives
        // ONE table, not P) — bit-identical to the collect fold by the
        // exactness argument above, pinned by KMeansSpec.
        val (exactSums, cnts) =
          if (data.getNumPartitions > treeGate)
            partialsRdd.treeReduce(merge _, depth = 2)
          else {
            val zero = (Array.fill(k, dim)(java.math.BigDecimal.ZERO),
              new Array[Long](k))
            partialsRdd.collect().foldLeft(zero)(merge)
          }
        // Empty cluster -> keep previous centroid (documented divergence).
        val next = centroids.map(_.clone())
        var c = 0
        while (c < k) {
          if (cnts(c) > 0) {
            val s = new Array[Double](dim)
            var i = 0
            while (i < dim) { s(i) = exactSums(c)(i).doubleValue(); i += 1 }
            next(c) = meanRounded5(s, cnts(c))
          }
          c += 1
        }
        converged =
          centroids.zip(next).forall { case (o, n) =>
            euclidean(o, n) <= params.threshold
          }
        centroids = next
        bc.unpersist(blocking = false)
        loop += 1
      }
      KMeansModel(centroids, loop - 1, converged)
    } finally data.unpersist()
  }
}
