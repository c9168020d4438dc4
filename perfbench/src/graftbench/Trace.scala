package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** One timed call into the library. `parent` is the enclosing span's
  * id (0 for the iteration root); all spans of one run share `runId`. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startMs: Long, startNs: Long, var endNs: Long = 0L)

/** Work counters summed over the tasks of the jobs attributed to a span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var execCpuNs = 0L
  var execRunMs = 0L
  var shuffleBytes = 0L
  var resultBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
}

/** The traced run's recorder. Spans are kept in memory and written
  * when the run ends. Each traced iteration is one root span whose
  * children are the public calls. A `SparkListener`, attached during
  * traced iterations only, collects job and task events;
  * every job is attributed to a span by the job group the client sets
  * around each call (`gb-<spanId>`). A job that arrives without the
  * open span's group — one started by a library-owned thread such as
  * a streaming micro-batch or a thread-pool future — is counted in
  * `unattributedJobs` and charged to the span that was open when it
  * started: the client is single-threaded and closed-loop, so exactly
  * one call is in flight at a time. */
final class Trace(sc: SparkContext, val runId: String) {

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var nextId = 1

  private final case class JobRec(jobId: Int, group: String, timeMs: Long)
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageCounters = mutable.HashMap.empty[Int, Counters]
  private val markerJobs = mutable.HashMap.empty[Int, Int]
  @volatile private var markerSeen = 0
  private var markers = 0
  /** start times (wall ms) of streaming triggers that read data */
  private val triggers = mutable.ArrayBuffer.empty[Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      if (group.startsWith("gb-marker-"))
        markerJobs(e.jobId) = group.stripPrefix("gb-marker-").toInt
      else {
        jobs += JobRec(e.jobId, group, e.time)
        e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      markerJobs.get(e.jobId).foreach(n => markerSeen = math.max(markerSeen, n))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent if p.progress.numInputRows > 0 =>
        Trace.this.synchronized {
          triggers += java.time.Instant.parse(p.progress.timestamp).toEpochMilli
        }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      val c = stageCounters.getOrElseUpdate(e.stageId, new Counters)
      c.tasks += 1
      if (m != null) {
        c.execCpuNs += m.executorCpuTime
        c.execRunMs += m.executorRunTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.resultBytes += m.resultSize
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Attach the listener for one traced iteration; `detach` after
    * `drain`. Untraced iterations run without it, so the traced ÷
    * untraced wall time includes the listener's cost. */
  def attach(): Unit = sc.addSparkListener(listener)
  def detach(): Unit = sc.removeSparkListener(listener)

  /** Run `f` inside a span named `name` whose jobs carry its group. */
  def span[A](name: String)(f: => A): A = {
    val s = Span(nextId, name, open.headOption.map(_.id).getOrElse(0), runId,
      System.currentTimeMillis(), System.nanoTime())
    nextId += 1
    spans += s
    open = s :: open
    sc.setJobGroup(s"gb-${s.id}", name, interruptOnCancel = false)
    try f
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"gb-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Block until the listener has seen every job submitted so far:
    * run a one-task marker job and wait for its end event (the
    * listener queue is ordered). Called between iterations, untimed. */
  def drain(): Unit = {
    markers += 1
    sc.setJobGroup(s"gb-marker-$markers", "marker", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (markerSeen < markers && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Counters per span id, plus the number of jobs charged by time
    * because they did not carry the open span's group. */
  def attribute(): (Map[Int, Counters], Long) = synchronized {
    val out = mutable.HashMap.empty[Int, Counters]
    var unattributed = 0L
    val closed = spans.filter(_.endNs > 0)
    // span windows in wall-clock ms (start taken in both clocks, the
    // end converted through that pair), widened by the clock's 1 ms grain
    def covers(s: Span, t: Long, slack: Long): Boolean =
      t >= s.startMs - slack &&
        t <= s.startMs + (s.endNs - s.startNs) / 1000000L + slack
    val byId = closed.map(s => s.id -> s).toMap
    val jobSpan = mutable.HashMap.empty[Int, Int]
    // jobs outside every span belong to untraced iterations, set-up or
    // checks and are not counted
    jobs.filter(j => closed.exists(covers(_, j.timeMs, 0))).foreach { j =>
      // a group names a span; it is stale (a pooled thread that kept
      // an earlier call's properties) unless that span was open
      val byGroup =
        if (j.group.startsWith("gb-")) j.group.drop(3).toIntOption else None
      val target = byGroup.filter(g => byId.get(g).exists(covers(_, j.timeMs, 1)))
        .orElse {
          unattributed += 1
          closed.filter(covers(_, j.timeMs, 0)).sortBy(-_.id).headOption.map(_.id)
        }
      target.foreach { sid =>
        jobSpan(j.jobId) = sid
        out.getOrElseUpdate(sid, new Counters).jobs += 1
      }
    }
    stageCounters.foreach { case (stage, c) =>
      stageJob.get(stage).flatMap(jobSpan.get).foreach { sid =>
        val o = out.getOrElseUpdate(sid, new Counters)
        o.tasks += c.tasks; o.execCpuNs += c.execCpuNs
        o.execRunMs += c.execRunMs; o.shuffleBytes += c.shuffleBytes
        o.resultBytes += c.resultBytes; o.spillBytes += c.spillBytes
        o.outputBytes += c.outputBytes
      }
    }
    (out.toMap, unattributed)
  }

  /** Streaming triggers that read data while one of `ss` was open. */
  def triggersIn(ss: collection.Seq[Span]): Long = synchronized {
    triggers.count(t => ss.exists(s =>
      t >= s.startMs && t <= s.startMs + (s.endNs - s.startNs) / 1000000L)).toLong
  }

  /** Write every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val endMs = s.startMs + (s.endNs - s.startNs) / 1000000L
      s"""{"run_id":${Json.str(s.runId)},"id":${s.id},"name":${Json.str(s.name)},""" +
        s""""parent":${s.parent},"start_ms":${s.startMs},"end_ms":$endMs,""" +
        s""""dur_s":${(s.endNs - s.startNs) / 1e9}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
