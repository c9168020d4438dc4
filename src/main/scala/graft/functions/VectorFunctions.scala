package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math used across the engine: clustering (assignment distance),
  * similarity search (cosine / dot), and dedup (embedding near-dup).
  *
  * Two forms of each function:
  *   - a plain Scala form used inside typed `Dataset.map` / driver loops
  *     (parity with the reference's float-in / double-accumulate math,
  *     `Code/KmeanMapReduce/src/PointWritable.java:95-104`);
  *   - a `Column` form built from `org.apache.spark.sql.functions`
  *     higher-order functions (`zip_with` / `aggregate`), which stays
  *     inside Catalyst and whole-stage codegen — preferred in DataFrame
  *     pipelines at scale.
  */
object VectorFunctions {

  // ---------------------------------------------------------------- Scala

  /** Euclidean distance; float inputs, double accumulation — matches the
    * reference (`PointWritable.calcDistance`, PointWritable.java:95-104). */
  def euclidean(a: Array[Float], b: Array[Float]): Double =
    math.sqrt(sqdist(a, b))

  /** Squared Euclidean distance (no sqrt — cheaper for argmin). */
  def sqdist(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length, s"dim mismatch: ${a.length} vs ${b.length}")
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length, s"dim mismatch: ${a.length} vs ${b.length}")
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val na = norm(a); val nb = norm(b)
    if (na == 0.0 || nb == 0.0) 0.0 else dot(a, b) / (na * nb)
  }

  /** Index of the nearest centroid; ties broken to the LOWEST index
    * (strict `<`, matching the reference's running-min,
    * KMapper.java:34-43). */
  def argminCentroid(p: Array[Float], centroids: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = sqdist(p, centroids(0))
    var i = 1
    while (i < centroids.length) {
      val d = sqdist(p, centroids(i))
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** Element-wise vector sum into `acc` (mutates acc). Partial-aggregate
    * building block — analog of `PointWritable.sum` (PointWritable.java:88-93). */
  def addInto(acc: Array[Double], v: Array[Float]): Unit = {
    var i = 0
    while (i < v.length) { acc(i) += v(i); i += 1 }
  }

  /** Mean with the reference's 5-dp round-half-up on each coordinate
    * (`PointWritable.calcAverage`, PointWritable.java:106-112:
    * `Math.round(v*100000)/100000.0f`). */
  def meanRounded5(sums: Array[Double], n: Long): Array[Float] = {
    val out = new Array[Float](sums.length)
    var i = 0
    while (i < sums.length) {
      val mean = (sums(i) / n).toFloat // reference divides in float space
      out(i) = (Math.round(mean * 100000f) / 100000.0f)
      i += 1
    }
    out
  }

  // --------------------------------------------------------------- Column

  private def expr(c: Column) =
    org.apache.spark.sql.graftshim.expression(c)
  private def toCol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.graftshim.column(e)

  /** Codegen'd dot product of two array<float|double> columns, double
    * accumulation — the native [[VecDot]] expression (the `zip_with` +
    * `aggregate` HOF form is interpreted per element and ~100× slower). */
  def dotCol(a: Column, b: Column): Column = toCol(VecDot(expr(a), expr(b)))

  def normCol(a: Column): Column = sqrt(dotCol(a, a))

  def sqdistCol(a: Column, b: Column): Column =
    toCol(VecSqDist(expr(a), expr(b)))

  def euclideanCol(a: Column, b: Column): Column = sqrt(sqdistCol(a, b))

  def cosineCol(a: Column, b: Column): Column = {
    val d = dotCol(a, b)
    val n = normCol(a) * normCol(b)
    when(n === 0.0, 0.0).otherwise(d / n)
  }

  /** Float-array literal column (`array<float>`). */
  def vecLit(v: Array[Float]): Column = array(v.map(x => lit(x)): _*)

  /** Native-loop argmin over a literal codebook ([[VecArgminSqDist]]):
    * a fixed ~20-line generated loop regardless of k·dim (the codebook
    * rides as one `references[]` object), bit-identical picks to
    * [[argminCentroid]]. Ungated — the codebook is embedded in the plan
    * whatever its size; use when several argmins must share one
    * projection (the PQ encoder), and [[assignCol]] otherwise. */
  def argminSqDistCol(
      features: Column, centroids: Array[Array[Float]]): Column =
    toCol(VecArgminSqDist(expr(features),
      centroids.map(_.toSeq).toSeq))

  /** Nearest-centroid index column, ties to the LOWEST index (strict `<`
    * running min, KMapper.java:34-43) — bit-identical to
    * [[argminCentroid]]. One decision from the codebook size: up to
    * [[MaxCodegenCells]] k·dim it is the codegen'd [[argminSqDistCol]]
    * loop; above that the broadcast kernel, so a huge codebook is never
    * embedded in every stage's task binary and plan string (an
    * iterative fit would re-ship it per round; the broadcast ships
    * once per executor). */
  def assignCol(features: Column, centroids: Array[Array[Float]]): Column = {
    val cells = centroids.length.toLong *
      (if (centroids.isEmpty) 0L else centroids(0).length.toLong)
    if (cells > MaxCodegenCells) assignColBroadcast(features, centroids)
    else argminSqDistCol(features, centroids)
  }

  /** k·dim budget for a plan-embedded codebook in [[assignCol]]. */
  private val MaxCodegenCells = 8192L

  /** Broadcast-codebook argmin for beyond-codegen-budget k·dim: one
    * broadcast of the float codebook, a map-side kernel per row, no
    * shuffle — the 1000-executor posture for huge codebooks (the native
    * loop would ship the same bytes inside every serialized plan).
    * Features cast to `array<float>` first: the K-Means contract is
    * float space end-to-end (reference parity), so the cast is exact
    * for every producer in this engine. */
  private def assignColBroadcast(
      features: Column, centroids: Array[Array[Float]]): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    val bc = spark.sparkContext.broadcast(centroids)
    val kernel = udf { (v: scala.collection.Seq[Float]) =>
      argminCentroid(v.toArray, bc.value)
    }
    kernel(features.cast("array<float>"))
  }
}
