package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One timed interval around a public engine call (or around a request that
  * groups several calls). Wall-clock bounds are epoch ms, to line up with
  * Spark's task launch/finish times; the duration is measured in ns. */
final class Span(val id: Long, val name: String, val parent: Long,
    val request: Long, val startMs: Long, val t0: Long) {
  var endMs = 0L
  var t1 = 0L
  def ms: Double = (t1 - t0) / 1e6
}

/** Spark work of one job, or summed over the jobs attributed to a span. */
final class SpanWork {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val taskIntervals = ArrayBuffer[(Long, Long)]()

  def +=(o: SpanWork): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    taskIntervals ++= o.taskIntervals
  }
}

/** Listener owned by the benchmark: records every job with the job group it
  * carried and its submission time, and sums each job's tasks (run time,
  * shuffle read + write, spill) into it. Attribution to spans happens after
  * the run, in [[Tracer.attribute]]. */
final class JobLedger extends SparkListener {
  /** job id -> (job group or null, submission time in epoch ms, work) */
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, SpanWork)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty(Tracer.GroupKey)).orNull
    val w = new SpanWork
    w.jobs = 1
    jobs.put(e.jobId, (group, e.time, w))
    e.stageIds.foreach(s => stageJob.put(s, Integer.valueOf(e.jobId)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageJob.get(e.stageId)
    if (job != null && e.taskInfo != null) {
      val w = jobs.get(job.intValue)._3
      w.synchronized {
        w.tasks += 1
        w.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          w.taskMs += m.executorRunTime
          w.shuffleBytes += m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead + m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
}

/** In-memory span recorder. When `on`, every span sets a job group on the
  * calling thread (inherited by threads the engine spawns inside the call)
  * so its jobs, tasks, shuffle and spill can be attributed to it.
  * `recording` is off during the warm-up and for the one extra unit the
  * traced run ends each loop with; those units record nothing, and that
  * unit's wall time is the untraced side of the tracing-overhead estimate. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  val spans = ArrayBuffer[Span]()
  val ledger = new JobLedger
  if (on) sc.addSparkListener(ledger)
  var recording: Boolean = on
  private var stack: List[Span] = Nil
  private var nextId = 0L
  private var nextRequest = 0L

  /** A root span: one unit of client work with its own request id. */
  def request[A](name: String)(body: => A): A = {
    nextRequest += 1
    span(name)(body)
  }

  def span[A](name: String)(body: => A): A =
    if (!recording) body
    else {
      nextId += 1
      val s = new Span(nextId, name, stack.headOption.fold(0L)(_.id),
        nextRequest, System.currentTimeMillis(), System.nanoTime())
      stack = s :: stack
      val prevGroup = sc.getLocalProperty(Tracer.GroupKey)
      sc.setLocalProperty(Tracer.GroupKey, Tracer.GroupPrefix + s.id)
      try body
      finally {
        s.t1 = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        sc.setLocalProperty(Tracer.GroupKey, prevGroup)
        stack = stack.tail
        spans += s
      }
    }

  /** Self time: the span's duration minus the part its child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.t0, k.t1))
    (s.t1 - s.t0 - Tracer.unionLength(kids.toSeq, s.t0, s.t1)) / 1e6
  }

  /** Work per span id, and the count of jobs submitted inside a recorded
    * request that no span can claim. A job belongs to span S when it
    * carried S's job group AND was submitted while S was open: a pooled
    * thread created during an earlier span still carries that span's group,
    * and its later jobs are attribution gaps, not S's work. Call after the
    * listener bus has drained. */
  def attribute(): (Map[Long, SpanWork], Long) = {
    val byId = spans.map(s => s.id -> s).toMap
    val roots = spans.filter(_.parent == 0).map(s => (s.startMs, s.endMs))
    val out = mutable.HashMap[Long, SpanWork]()
    var gaps = 0L
    ledger.jobs.values.forEach { case (group, time, w) =>
      val owner = Option(group).filter(_.startsWith(Tracer.GroupPrefix))
        .flatMap(g => byId.get(g.stripPrefix(Tracer.GroupPrefix).toLong))
        .filter(s => time >= s.startMs && time <= s.endMs)
      owner match {
        case Some(s) => w.synchronized(out.getOrElseUpdate(s.id, new SpanWork) += w)
        case None => if (roots.exists { case (a, b) => time >= a && time <= b }) gaps += 1
      }
    }
    (out.toMap, gaps)
  }

  /** Self time with none of the span's own tasks running. */
  def driverMs(s: Span, w: SpanWork): Double =
    math.max(0.0, selfMs(s) - Tracer.unionLength(w.taskIntervals.toSeq, s.startMs, s.endMs))

  def writeJsonl(file: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(file.getParent)
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""request":${s.request},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""ms":${s.ms}}"""
    }
    java.nio.file.Files.write(file,
      scala.jdk.CollectionConverters.SeqHasAsJava(lines.toSeq).asJava)
  }
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
  val GroupPrefix = "perfbench-span-"

  /** Length of the union of [a, b) intervals, clipped to [lo, hi). */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curA = 0L
    var curB = Long.MinValue
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => a < b }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) total += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
    if (curB > curA) total += curB - curA
    total
  }
}
