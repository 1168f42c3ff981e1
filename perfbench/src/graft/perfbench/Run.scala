package graft.perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Command line of one benchmark run (see perfbench/run.py). */
final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, scale: Double, work: String, traceOut: String,
    commit: String, injectFailure: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val flags = Set("--inject-failure")
    val kv = mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      if (flags(args(i))) { kv(args(i)) = "true"; i += 1 }
      else { kv(args(i)) = args(i + 1); i += 2 }
    }
    Opts(kv("--workload"), kv("--seed").toLong, kv("--seconds").toInt,
      kv.getOrElse("--trace", "0") == "1", kv.getOrElse("--scale", "1").toDouble,
      kv("--work"), kv("--trace-out"), kv.getOrElse("--commit", "unknown"),
      kv.contains("--inject-failure"))
  }
}

/** Operation accounting for one run: attempts, failures and per-kind latency
  * samples. A call that throws, or whose output fails a check, counts as a
  * failed operation and never contributes a latency sample. */
final class Run(val spark: SparkSession, val o: Opts, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[String]()
  val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  /** Each kind's fastest sample, kept for the smoke test: a failure that
    * leaked into the samples would show as a near-zero minimum. */
  def minMs: Map[String, Double] = samples.map { case (k, v) => k -> v.min }.toMap

  def fail(kind: String, msg: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += s"$kind: $msg"
    System.err.println(s"perfbench: FAILED $kind: $msg")
  }

  /** Times `body`, then runs `check` on its result (untimed). The sample is
    * recorded under `kind` only if the call returned and every check
    * passed. With --inject-failure every fifth operation throws before it
    * does any work: the smoke test's proof that failures cannot read as
    * fast samples. */
  def op[A](kind: String)(body: => A)(check: A => Seq[String]): Option[A] = {
    attempted += 1
    val inject = o.injectFailure && attempted % 5 == 0
    val t0 = System.nanoTime()
    val res = try {
      if (inject) throw new IllegalStateException("injected failure")
      Right(body)
    } catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    res match {
      case Left(e) => fail(kind, e.toString); None
      case Right(a) =>
        val problems = try check(a) catch { case NonFatal(e) => Seq(s"check threw $e") }
        if (problems.nonEmpty) { fail(kind, problems.take(3).mkString("; ")); None }
        else { samples.getOrElseUpdate(kind, ArrayBuffer()) += ms; Some(a) }
    }
  }

  def ms(kind: String): Seq[Double] = samples.getOrElse(kind, ArrayBuffer()).toSeq

  /** Peak live heap: used heap right after a full collection, sampled at
    * fixed points outside any timed window. The second collection takes
    * what the first one's reference processing released. */
  private var heapPeakBytes = 0L
  def sampleHeap(): Unit = {
    System.gc()
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    heapPeakBytes = math.max(heapPeakBytes, used)
  }
  def heapPeakMb: Double = heapPeakBytes / 1048576.0
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest whole percentile with at least ten samples beyond it, and
    * its value: None below 11 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.length
    val p = (1 to 99).reverse.find(p => n * (100 - p) / 100.0 >= 10)
    p.map(pp => pp -> quantile(xs, pp / 100.0))
  }

  /** Checks one ranked result: distinct ids, every id acceptable, scores
    * non-increasing, and the expected row count when it is known. */
  def rankedProblems(ids: Seq[Long], scores: Seq[Double], expect: Option[Int],
      maxRows: Int, ok: Long => Boolean): Seq[String] = {
    val p = ArrayBuffer[String]()
    expect.foreach(e => if (ids.length != e) p += s"${ids.length} rows, expected $e")
    if (ids.length > maxRows) p += s"${ids.length} rows > k=$maxRows"
    if (ids.distinct.length != ids.length) p += "duplicate ids"
    ids.filterNot(ok).headOption.foreach(id => p += s"unexpected id $id")
    if (scores.zip(scores.drop(1)).exists { case (a, b) => b > a })
      p += "scores increase"
    p.toSeq
  }
}
