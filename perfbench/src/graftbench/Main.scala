package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one JVM, one workload, one single-threaded
  * closed-loop client calling the library's public functions.
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                   --cores C --work DIR --out FILE
  *   graftbench.Main --digest N      (input digest for seed N)
  *
  * Writes the raw samples (per-iteration wall/CPU/heap, per-span
  * counters of traced iterations, check outcomes, provenance) as one
  * JSON object to FILE; `run.py` turns them into metrics. */
object Main {

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Used heap after a full GC. Unreachable persisted data is freed by
    * Spark's cleaner thread once a GC has cleared its references, so
    * collect, let the cleaner settle, and collect again. Even so, one
    * ingest iteration in about twenty read ~50% above the others, so
    * the least of three collections 100 ms apart is reported; retained
    * data survives all three. */
  private def heapMb(spark: SparkSession): Double = {
    System.gc()
    val sc = spark.sparkContext
    var rdds = -1
    var waits = 0
    while (rdds != sc.getPersistentRDDs.size && waits < 20) {
      rdds = sc.getPersistentRDDs.size
      Thread.sleep(50)
      waits += 1
    }
    (0 until 3).map { r =>
      if (r > 0) Thread.sleep(100)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts.get("digest") match {
      case Some(s) => println(Gen.digest(s.toLong, Sizes()))
      case None => run(opts)
    }
  }

  private def run(opts: Map[String, String]): Unit = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val work = Paths.get(opts("work"))
    val out = Paths.get(opts("out"))
    val sizes = Sizes()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // keep the status store (job/stage history, on heap even without
      // the UI) small, so retained heap reflects the library's state
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()

    val wl = Workload(workload, spark, sizes, seed)
    val runId = s"$workload-$seed-${sessionReadyMs}"
    val trace = if (traced) Some(new Trace(spark.sparkContext, runId)) else None
    val calls = new Calls(trace)

    // set up several times into fresh directories and keep the last:
    // the median of these is the data part of setup_s
    val setupS = (0 until 3).map { r =>
      val dir = Files.createDirectories(work.resolve(s"setup-$r"))
      val t0 = System.nanoTime()
      wl.setup(dir)
      val s = (System.nanoTime() - t0) / 1e9
      if (r > 0) Workload.delete(work.resolve(s"setup-${r - 1}"))
      s
    }

    val iters = mutable.ArrayBuffer.empty[Map[String, Any]]
    var iter = 0
    def runIteration(tracedIter: Boolean): Map[String, Any] = {
      wl.prepare(work, iter)
      iter += 1
      val rec = new IterRecord
      calls.tracing = tracedIter
      if (tracedIter) trace.get.attach()
      val cpu0 = cpuNs()
      val t0 = System.nanoTime()
      val ok =
        try {
          if (tracedIter) trace.get.span("iteration")(wl.iteration(calls, rec))
          else wl.iteration(calls, rec)
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[graftbench] iteration failed: $e")
            e.printStackTrace(System.err)
            false
        }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs() - cpu0) / 1e9
      calls.tracing = false
      if (ok) wl.after(rec)
      if (tracedIter) { trace.get.drain(); trace.get.detach() }
      Map("traced" -> tracedIter, "ok" -> ok, "wall_s" -> wall, "cpu_s" -> cpu,
        "heap_mb" -> heapMb(spark),
        "cachepool_live" -> graft.CachePool.liveCount,
        "persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size,
        "batches_s" -> rec.batches.toSeq, "extra" -> rec.extra.toMap)
    }

    val w0 = System.nanoTime()
    (0 until wl.warmups).foreach(_ => runIteration(tracedIter = false))
    val warmupS = (System.nanoTime() - w0) / 1e9

    // timed closed loop; with tracing, traced and untraced iterations
    // alternate (untraced, traced, traced, untraced, ...) so the run
    // also measures the tracing overhead, and a drift in iteration time
    // over the run (the JIT still compiling) cancels out of the ratio
    val minIters = if (traced) 4 else 2
    val loop0 = System.nanoTime()
    var i = 0
    while (i < minIters || (System.nanoTime() - loop0) / 1e9 < seconds) {
      iters += runIteration(tracedIter = traced && (i % 4 == 1 || i % 4 == 2))
      i += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9

    // per traced iteration: span name → summed duration and counters
    val attributed = trace.map(_.attribute())
    val spanStats: Seq[Map[String, Any]] = trace.toSeq.flatMap { t =>
      val byId = attributed.get._1
      t.spans.filter(_.name == "iteration").map { root =>
        t.spans.filter(_.parent == root.id).groupBy(_.name).map { case (name, ss) =>
          val cs = ss.flatMap(s => byId.get(s.id))
          def sum(f: Counters => Long): Long = cs.map(f).sum
          name -> Map(
            "calls" -> ss.size,
            "dur_s" -> ss.map(s => (s.endNs - s.startNs) / 1e9).sum,
            "call_s" -> ss.map(s => (s.endNs - s.startNs) / 1e9),
            "jobs" -> sum(_.jobs), "tasks" -> sum(_.tasks),
            "exec_cpu_s" -> sum(_.execCpuNs) / 1e9,
            "exec_run_s" -> sum(_.execRunMs) / 1e3,
            "shuffle_bytes" -> sum(_.shuffleBytes),
            "result_bytes" -> sum(_.resultBytes),
            "spill_bytes" -> sum(_.spillBytes),
            "output_bytes" -> sum(_.outputBytes),
            "triggers" -> t.triggersIn(ss))
        }
      }.toSeq
    }
    val unattributed = attributed.map(_._2).getOrElse(0L)

    // correctness checks, untimed
    val checks = wl.checks.map { case (name, f) =>
      calls.attempted += 1
      val t0 = System.nanoTime()
      val detail =
        try { f(); None }
        catch { case e: Throwable =>
          calls.failed += 1
          System.err.println(s"[graftbench] check $name failed: $e")
          Some(e.toString)
        }
      Map("name" -> name, "ok" -> detail.isEmpty, "detail" -> detail,
        "s" -> (System.nanoTime() - t0) / 1e9)
    }

    trace.foreach { t =>
      t.write(work.getParent.resolve("traces").resolve(s"$runId.jsonl"))
    }

    val result = Map(
      "workload" -> workload, "seed" -> seed, "sizes" -> sizes.asMap,
      "rows_per_iteration" -> wl.rowsPerIteration, "cores" -> cores,
      "session_ready_ms" -> sessionReadyMs, "setup_s" -> setupS,
      "warmup_s" -> warmupS, "loop_s" -> loopS,
      "iterations" -> iters.toSeq, "spans" -> spanStats,
      "unattributed_jobs" -> unattributed,
      "calls_attempted" -> calls.attempted, "calls_failed" -> calls.failed,
      "checks" -> checks,
      "provenance" -> Map(
        "spark" -> spark.version,
        "jdk" -> s"${sys.props("java.vendor")} ${sys.props("java.runtime.version")}",
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "trace_file" -> trace.map(_ => s"traces/$runId.jsonl")))
    Files.createDirectories(out.getParent)
    Files.write(out, Json(result).getBytes("UTF-8"))
    spark.stop()
  }
}
