package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.kmeans.{Dbi, KMeans, KMeansParams}
import graft.operators.{Components, Dedup, Graph}
import graft.sources.{CentroidWriter, LabeledWriter, PointReader}
import graft.streaming.EventWindows

/** Input sizes of every workload (recorded in each result). */
final case class Sizes(
    points: Int = 60000, dim: Int = 32, blobs: Int = 128, k: Int = 32,
    rounds: Int = 10,
    nodes: Int = 10000, edgesPerNode: Int = 5, prIters: Int = 2,
    lpIters: Int = 1,
    baseDocs: Int = 5000, batches: Int = 1, batchDocs: Int = 2000,
    dupShare: Double = 0.2, events: Int = 10000, users: Int = 1000) {
  def asMap: Map[String, Any] = productElementNames.zip(productIterator).toMap
}

/** Counts public calls into the library. A call that throws counts as
  * failed and aborts its iteration; with tracing on, each call runs
  * inside a span named after the layer it enters. */
final class Calls(trace: Option[Trace]) {
  var attempted = 0L
  var failed = 0L
  var tracing = false

  def apply[A](span: String, calls: Int = 1)(f: => A): A = {
    attempted += calls
    try if (tracing) trace.get.span(span)(f) else f
    catch { case e: Throwable => failed += 1; throw e }
  }
}

/** What one timed iteration reports besides wall and CPU time. */
final class IterRecord {
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val batches = mutable.ArrayBuffer.empty[Double]
}

/** A closed-loop workload: the next iteration starts when the previous
  * one has finished, as a scheduled pipeline calls the library. */
abstract class Workload(val spark: SparkSession, val sizes: Sizes,
    val seed: Long) {
  /** Untimed warm-up iterations before the timed loop. */
  def warmups: Int = 1
  /** Input rows one iteration processes. */
  def rowsPerIteration: Long
  /** Generate the inputs and build the artifacts under `dir`. */
  def setup(dir: Path): Unit
  /** Untimed per-iteration preparation (fresh output locations). */
  def prepare(work: Path, iter: Int): Unit = ()
  /** The timed body. */
  def iteration(c: Calls, rec: IterRecord): Unit
  /** Untimed measurements taken right after an iteration. */
  def after(rec: IterRecord): Unit = ()
  /** Correctness checks run once after the timed iterations. */
  def checks: Seq[(String, () => Unit)]

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  protected def check(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new AssertionError(msg)
}

object Workload {
  def apply(name: String, spark: SparkSession, sizes: Sizes,
      seed: Long): Workload = name match {
    case "kmeans-pipeline" => new KMeansPipeline(spark, sizes, seed)
    case "graph-fixpoint" => new GraphFixpoint(spark, sizes, seed)
    case "ingest-append" => new IngestAppend(spark, sizes, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally walk.close()
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }

  def copy(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally walk.close()
  }
}

// --------------------------------------------------------------------
/** The paper's pipeline: read CSV points → fit → label → DBI → write. */
final class KMeansPipeline(spark: SparkSession, sizes: Sizes, seed: Long)
    extends Workload(spark, sizes, seed) {

  private var csv: Path = _
  private var out: Path = _
  private val fits = mutable.ArrayBuffer.empty[(String, Double)]
  private var centroids: Array[Array[Float]] = _

  def rowsPerIteration: Long = sizes.points

  // measured: CPU per iteration falls from ~11 s to ~7 s over the first
  // four iterations while the JIT compiles the fit and label paths;
  // after a single warm-up the median depended on how many iterations
  // fitted the timed window
  override def warmups: Int = 4

  def setup(dir: Path): Unit = {
    csv = dir.resolve("points.csv")
    Files.write(csv, Gen.pointsCsv(seed, sizes.points, sizes.dim, sizes.blobs))
  }

  override def prepare(work: Path, iter: Int): Unit = {
    out = work.resolve("kmeans-out")
    Workload.delete(out)
  }

  def iteration(c: Calls, rec: IterRecord): Unit = {
    val points = c("sources.read") {
      val df = PointReader.read(spark, csv.toString)
        .persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }
    try {
      // threshold < 0 never converges early: a fixed round count
      val model = c("kmeans.fit") {
        KMeans.fit(points, KMeansParams(k = sizes.k, threshold = -1.0,
          maxLoop = sizes.rounds + 1, seed = seed))
      }
      val labeled = c("kmeans.label") {
        val l = model.transform(points).persist(StorageLevel.MEMORY_AND_DISK)
        l.count()
        l
      }
      try {
        val dbi = c("kmeans.dbi")(Dbi.compute(labeled, model.centroids))
        c("sources.write", calls = 2) {
          LabeledWriter.write(labeled, out.resolve("labeled").toString, "csv")
          CentroidWriter.write(model.centroids, out.resolve("centroids.txt").toString)
        }
        fits += ((CentroidWriter.format(model.centroids), dbi))
        centroids = model.centroids
        rec.extra("rounds") = model.iterations
        rec.extra("dbi") = dbi
        rec.extra("centroids_sha256") = sha256(CentroidWriter.format(model.centroids))
        rec.extra("driver_write_bytes") = Files.size(out.resolve("centroids.txt"))
        rec.extra("input_bytes") = Files.size(csv)
      } finally labeled.unpersist()
    } finally points.unpersist()
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  /** The written labeled rows, parsed back: (features, cluster). */
  private def labeledRows(): Array[(Array[Float], Int)] = {
    val dir = out.resolve("labeled")
    val files = Files.list(dir)
    try files.toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).toArray.map(_.toString))
      .map { line =>
        val f = line.split(',')
        (f.init.map(_.toFloat), f.last.toInt)
      }
    finally files.close()
  }

  def checks: Seq[(String, () => Unit)] = Seq(
    "kmeans.fit_repeats" -> (() => {
      check(fits.nonEmpty, "no completed fit")
      check(fits.forall(_ == fits.head),
        s"centroids or DBI differ across iterations: ${fits.map(_._2).distinct}")
    }),
    "kmeans.labels" -> (() => {
      val rows = labeledRows()
      check(rows.length == sizes.points,
        s"labeled output has ${rows.length} rows, expected ${sizes.points}")
      val counts = rows.groupBy(_._2).map { case (l, xs) => l -> xs.length }
      check(counts.keys.forall(l => l >= 0 && l < sizes.k), s"labels outside [0,k): ${counts.keys}")
      check(counts.values.sum == sizes.points, "label counts do not sum to n")
      // each label is the nearest centroid (up to the rounding of a
      // different summation order)
      val bad = rows.count { case (f, l) =>
        val d = centroids.map(c => sqDist(f, c))
        d(l) > d.min * (1 + 1e-9)
      }
      check(bad == 0, s"$bad rows are not labeled with their nearest centroid")
    }),
    "kmeans.dbi" -> (() => {
      // Davies-Bouldin recomputed on the driver from the written rows
      val rows = labeledRows()
      val k = centroids.length
      val sum = new Array[Double](k); val cnt = new Array[Long](k)
      rows.foreach { case (f, l) => sum(l) += math.sqrt(sqDist(f, centroids(l))); cnt(l) += 1 }
      val sigma = Array.tabulate(k)(i => sum(i) / cnt(i))
      val dbi = (0 until k).map { i =>
        (0 until k).filter(_ != i).map { j =>
          (sigma(i) + sigma(j)) / math.sqrt(sqDist(centroids(i), centroids(j)))
        }.max
      }.sum / k
      val got = fits.last._2
      check(math.abs(dbi - got) <= 1e-6 * math.abs(dbi),
        s"DBI $got differs from the driver recomputation $dbi")
    }))

  private def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }
}

// --------------------------------------------------------------------
/** Distributed graph loops over persisted graph tables. */
final class GraphFixpoint(spark: SparkSession, sizes: Sizes, seed: Long)
    extends Workload(spark, sizes, seed) {

  // every loop takes its distributed body (the large-graph path)
  private val gates = Seq("spark.graft.graph.maxDriverRankNodes",
    "spark.graft.graph.maxDriverLoopEdges",
    "spark.graft.components.maxDriverEdges")
  gates.foreach(spark.conf.set(_, "0"))

  private var directed: String = _
  private var symmetric: String = _
  private var numEdges = 0L
  // the last iteration's outputs, checked after the timed loop
  private var ranks: Map[Long, Any] = Map.empty
  private var labels: Map[Long, Any] = Map.empty
  private var components: Map[Long, Any] = Map.empty

  def rowsPerIteration: Long = numEdges

  def setup(dir: Path): Unit = {
    import spark.implicits._
    val e = Gen.edges(seed, sizes.nodes, sizes.edgesPerNode).toSeq.toDF("src", "dst")
    directed = dir.resolve("graph").toString
    symmetric = dir.resolve("graph_sym").toString
    Graph.writeGraphTable(e, "src", "dst", directed)
    Graph.writeGraphTable(e.union(e.select($"dst", $"src")), "src", "dst", symmetric)
    numEdges = Graph.readGraphTable(spark, directed).numEdges
  }

  def iteration(c: Calls, rec: IterRecord): Unit = {
    val (gd, gs) = c("graph.read", calls = 2) {
      (Graph.readGraphTable(spark, directed), Graph.readGraphTable(spark, symmetric))
    }
    ranks = c("graph.pagerank")(collectMap(gd.pageRank(sizes.prIters, danglingCorrection = true)))
    labels = c("graph.labelprop")(collectMap(gs.labelPropagation(sizes.lpIters)))
    components = c("components.cc")(collectMap(Components.connectedComponents(gs.edges)))
    rec.extra("pagerank_iters") = sizes.prIters
    rec.extra("labelprop_iters") = sizes.lpIters
  }

  private def collectMap(df: DataFrame): Map[Long, Any] =
    df.collect().map(r => r.getLong(0) -> r.get(1)).toMap

  def checks: Seq[(String, () => Unit)] = Seq(
    "graph.pagerank_bodies" -> (() => {
      val gd = Graph.readGraphTable(spark, directed)
      val drv = collectMap(gd.pageRank(sizes.prIters, danglingCorrection = true,
        distributedRanks = Some(false)))
      check(ranks.size == gd.numNodes, s"${ranks.size} ranks for ${gd.numNodes} nodes")
      val diff = ranks.count { case (n, r) => !drv.get(n).contains(r) }
      check(diff == 0 && drv.size == ranks.size,
        s"$diff distributed ranks differ bitwise from the driver-resident body")
    }),
    "graph.labelprop_bodies" -> (() => {
      val gs = Graph.readGraphTable(spark, symmetric)
      gates.foreach(spark.conf.unset)
      val drv = try collectMap(gs.labelPropagation(sizes.lpIters))
      finally gates.foreach(spark.conf.set(_, "0"))
      check(labels == drv, "distributed label propagation differs from the driver-resident body")
    }),
    "components.min_id" -> (() => {
      val gs = Graph.readGraphTable(spark, symmetric)
      val got = components
      // driver union-find over the collected edges
      val parent = mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
        var y = x
        while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
        r
      }
      gs.edges.select("src", "dst").collect().foreach { r =>
        val a = find(r.getLong(0)); val b = find(r.getLong(1))
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
      }
      check(got.size == parent.size, s"${got.size} labeled nodes, ${parent.size} in the edge list")
      val bad = got.count { case (n, l) => find(n) != l }
      check(bad == 0, s"$bad nodes are not labeled with their component's minimum id")
    }))
}

// --------------------------------------------------------------------
/** Incremental ingest: probe and append delta batches against a
  * persisted MinHash index, then an artifact-backed stream fold. */
final class IngestAppend(spark: SparkSession, sizes: Sizes, seed: Long)
    extends Workload(spark, sizes, seed) {

  private val n = 8
  private val threshold = 0.35
  private var corpus: Gen.Corpus = _
  private var events: Array[Gen.Event] = _
  private var base: Path = _
  private var evDir: String = _
  private var idx: Path = _
  private val pairRuns = mutable.ArrayBuffer.empty[Seq[Set[(Long, Long, Double)]]]
  private var countMin: Array[Row] = _

  def rowsPerIteration: Long = sizes.batches.toLong * sizes.batchDocs + sizes.events

  private def docs(name: String): DataFrame =
    spark.read.parquet(base.resolve(name).toString)

  /** Old docs as of batch `b`: the base corpus and every earlier batch. */
  private def corpusBefore(b: Int): DataFrame =
    (0 until b).map(i => docs(s"batch$i")).foldLeft(docs("base"))(_ union _)

  def setup(dir: Path): Unit = {
    import spark.implicits._
    base = dir
    corpus = Gen.corpus(seed, sizes.baseDocs, sizes.batches, sizes.batchDocs, sizes.dupShare)
    events = Gen.events(seed, sizes.events, sizes.users)
    corpus.base.toSeq.toDF("doc_id", "text").write.parquet(dir.resolve("base").toString)
    corpus.batches.zipWithIndex.foreach { case (b, i) =>
      b.toSeq.toDF("doc_id", "text").write.parquet(dir.resolve(s"batch$i").toString)
    }
    Dedup.writeMinhashIndex(docs("base"), dir.resolve("index").toString, n)
    evDir = dir.resolve("events").toString
    events.toSeq.map(e => (e.eventId, new java.sql.Timestamp(e.tsMicros / 1000), e.userId,
        e.eventType, e.value, e.props))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$evDir/events.parquet")
  }

  override def prepare(work: Path, iter: Int): Unit = {
    if (idx != null) Workload.delete(idx)
    // every iteration starts from the base index version
    idx = work.resolve(s"index-$iter")
    Workload.copy(base.resolve("index"), idx)
  }

  def iteration(c: Calls, rec: IterRecord): Unit = {
    val pairs = (0 until sizes.batches).map { b =>
      val t0 = System.nanoTime()
      val found = c("dedup.probe") {
        Dedup.probeMinhashIndex(spark, idx.toString, corpusBefore(b), docs(s"batch$b"),
          n, threshold).collect()
      }
      c("dedup.append")(Dedup.appendToMinhashIndex(spark, idx.toString, docs(s"batch$b"), n))
      rec.batches += (System.nanoTime() - t0) / 1e9
      found.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    countMin = c("streaming.countmin")(EventWindows.streamCountMin(spark, evDir).collect())
    pairRuns += pairs
    val planted = corpus.planted.flatten.toSet
    rec.extra("planted") = planted.size
    rec.extra("useful_pairs") = pairs.flatten.count(p => planted((p._1, p._2)))
    rec.extra("delta_bytes") =
      corpus.batches.map(_.map(_._2.getBytes("UTF-8").length.toLong).sum).sum
  }

  override def after(rec: IterRecord): Unit = {
    val latest = graft.sources.Artifacts.latestDir(spark, idx.toString)
    rec.extra("version_bytes") = Workload.dirBytes(java.nio.file.Paths.get(latest))
    rec.extra("live_bytes") = Workload.dirBytes(idx)
  }

  def checks: Seq[(String, () => Unit)] = Seq(
    "dedup.pairs_repeat" -> (() => {
      check(pairRuns.nonEmpty, "no completed iteration")
      check(pairRuns.forall(_ == pairRuns.head), "probe pairs differ across iterations")
    }),
    "dedup.probe_eq_rebuild" -> (() => {
      // a pair's membership depends on its two docs only, so one rebuild
      // over corpus ∪ every batch holds each batch's new×old pairs
      val all = Dedup.minhashDedupPairs(corpusBefore(sizes.batches), n, threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      (0 until sizes.batches).foreach { b =>
        val firstNew = corpus.batches(b).head._1
        val lastNew = corpus.batches(b).last._1
        val rebuilt = all.collect { case (a, nb, j) if a < firstNew && nb >= firstNew &&
            nb <= lastNew => (nb, a, j) }.toSet
        val probed = pairRuns.last(b)
        check(probed == rebuilt,
          s"batch $b: probe found ${probed.size} pairs, rebuild ${rebuilt.size} " +
            s"(${(probed diff rebuilt).take(3)} / ${(rebuilt diff probed).take(3)})")
      }
    }),
    "dedup.append_eq_rebuild" -> (() => {
      val rebuiltPath = idx.resolveSibling("index-rebuilt")
      Workload.delete(rebuiltPath)
      val all = corpusBefore(sizes.batches)
      Dedup.writeMinhashIndex(all, rebuiltPath.toString, n)
      def bands(p: Path) = spark.read
        .parquet(graft.sources.Artifacts.latestDir(spark, p.toString) + "/bands")
        .select("id", "band", "bh")
      val (a, r) = (bands(idx), bands(rebuiltPath))
      val extra = a.exceptAll(r).count(); val missing = r.exceptAll(a).count()
      Workload.delete(rebuiltPath)
      check(extra == 0 && missing == 0,
        s"appended index differs from a rebuild: $extra extra, $missing missing rows")
    }),
    "streaming.countmin" -> (() => {
      val truth = events.groupBy(_.userId).map { case (u, es) => u -> es.length.toLong }
      check(countMin.length == math.min(20, truth.size), s"${countMin.length} heavy hitters")
      countMin.foreach { r =>
        val Seq(u, t, est) = (0 to 2).map(r.getAs[Number](_).longValue)
        check(truth.get(u).contains(t), s"user $u: true count $t, generated ${truth.get(u)}")
        check(est >= t, s"user $u: count-min estimate $est below the true count $t")
      }
    }))
}
