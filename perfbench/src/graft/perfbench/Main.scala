package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.util.Locale

/** Entry point of one benchmark run (launched by perfbench/run.py).
  *
  * Untraced (`--trace 0`): prints the end-to-end metrics. Traced
  * (`--trace 1`): prints the per-layer metrics, computed from spans the
  * harness records around each public engine call and from the Spark jobs
  * its listener attributes to them. Earlier stdout lines carry detail and
  * host context; the last line is the result. */
object Main {
  val LayerSpans = Seq(
    "index.create", "index.train", "index.add", "index.remove", "index.update",
    "index.compact", "index.open", "query.batch.call", "query.batch.collect",
    "query.single.call", "query.single.collect", "text.dedup_exact",
    "text.dedup_minhash", "text.neardup_jaccard", "text.decontaminate_fuzzy")
  val SpanCounters = Seq("ms" -> "ms", "jobs" -> "count", "tasks" -> "count",
    "task_ms" -> "ms", "driver_ms" -> "ms", "shuffle_bytes" -> "B",
    "spill_bytes" -> "B")
  val StandaloneLayers = Seq(
    "index.files" -> "count", "index.bytes_on_disk" -> "B",
    "index.bytes_per_user_byte" -> "ratio", "text.minhash.cap_drops" -> "count",
    "text.minhash.verified_per_candidate" -> "ratio", "spark.gc_ms" -> "ms",
    "unattributed.jobs" -> "count", "trace.overhead_pct" -> "%")
  val EndToEnd = Seq("setup_s" -> "s", "throughput" -> "1/s",
    "latency_ms_p50" -> "ms", "quality" -> "ratio",
    "heap_live_peak_mb" -> "MiB", "ok_frac" -> "ratio")

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      // as in graft.Bench: bound the status store, so the live heap does not
      // grow with the number of queries a run happens to fit in its window
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.work}/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val t00 = System.nanoTime()
    def phase(name: String): Unit = System.err.println(
      f"perfbench: $name at ${(System.nanoTime() - t00) / 1e9}%.1f s after session start")
    val tracer = new Tracer(spark.sparkContext, o.trace)
    val run = new Run(spark, o, tracer)
    val loadBefore = loadavg()
    val calibrationMs = calibrate(spark)

    val w: Workload = o.workload match {
      case "serve" => new Serve(run)
      case "ingest_mutate" => new IngestMutate(run)
      case "text_dedup" => new TextDedup(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // one set-up per run: a cold index build takes 10-15 s on a 4-core host,
    // and the benchmark's time budget is 3420 s for 4 + 22 runs per workload
    val setupS = {
      val t0 = System.nanoTime()
      tracer.request("setup")(w.setup())
      (System.nanoTime() - t0) / 1e9
    }
    phase("set-up done")
    tracer.recording = false
    w.warm()
    run.sampleHeap()
    phase("warm-up done")
    val gc0 = gcMs()
    w.loop(System.nanoTime() + o.seconds * 1000000000L)
    val loopGcMs = gcMs() - gc0
    phase("loop done")
    run.sampleHeap()
    w.finish()
    phase("checks done")
    val loadAfter = loadavg()
    if (o.trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      tracer.writeJsonl(java.nio.file.Paths.get(o.traceOut,
        s"${o.workload}-seed${o.seed}.jsonl"))
    }

    val correct = run.failed == 0
    val host = Seq(
      "nproc" -> nproc.toString, "loadavg_before" -> quote(loadBefore),
      "loadavg_after" -> quote(loadAfter), "calibration_ms" -> num(calibrationMs),
      "heap_max_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "session_start_s" -> num(sessionS), "commit" -> quote(o.commit),
      "seed" -> o.seed.toString)
    println(obj(Seq("detail" -> quote("host")) ++ host))
    println(obj(Seq("detail" -> quote(o.workload),
      "input_fingerprint" -> quote(java.lang.Long.toHexString(w.fingerprint)),

      "samples_ms" -> obj(run.samples.toSeq.map { case (k, v) =>
        k -> v.map(num).mkString("[", ",", "]") }),
      "min_ms" -> obj(run.minMs.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "failures" -> run.failures.map(quote).mkString("[", ",", "]")) ++
      w.detail.map { case (k, v) => k -> num(v) }))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val (thr, lat, quality) = w.endToEnd
        val values = Map("setup_s" -> setupS, "throughput" -> thr,
          "latency_ms_p50" -> lat, "quality" -> quality,
          "heap_live_peak_mb" -> run.heapPeakMb,
          "ok_frac" -> (run.attempted - run.failed).toDouble / run.attempted)
        EndToEnd.map { case (k, u) => (k, values(k), u) }
      } else layerMetrics(tracer, w, loopGcMs, run)
    val metricJson = obj(metrics.map { case (k, v, u) =>
      k -> s"""{"value":${num(v)},"unit":"$u"}""" })
    println(s"""{"correct":$correct,"attempted":${run.attempted},""" +
      s""""failed":${run.failed},"metrics":$metricJson}""")
    System.out.flush()
    spark.stop()
    phase("session stopped")
    System.exit(if (correct) 0 else 1)
  }

  def layerMetrics(tracer: Tracer, w: Workload, loopGcMs: Double,
      run: Run): Seq[(String, Double, String)] = {
    val (work, gaps) = tracer.attribute()
    val spans = LayerSpans.flatMap { name =>
      val calls = tracer.spans.filter(_.name == name).toSeq
        .map(s => s -> work.getOrElse(s.id, new SpanWork))
      def med(f: ((Span, SpanWork)) => Double): Double =
        if (calls.isEmpty) 0.0 else Stats.median(calls.map(f))
      val values = Map(
        "ms" -> med(c => tracer.selfMs(c._1)), "jobs" -> med(_._2.jobs.toDouble),
        "tasks" -> med(_._2.tasks.toDouble), "task_ms" -> med(_._2.taskMs.toDouble),
        "driver_ms" -> med(c => tracer.driverMs(c._1, c._2)),
        "shuffle_bytes" -> med(_._2.shuffleBytes.toDouble),
        "spill_bytes" -> med(_._2.spillBytes.toDouble))
      SpanCounters.map { case (c, u) => (s"$name.$c", values(c), u) }
    }
    val k = w.overheadKind
    val standalone = w.layerCounters ++ Map(
      "spark.gc_ms" -> loopGcMs,
      "unattributed.jobs" -> gaps.toDouble,
      "trace.overhead_pct" ->
        100.0 * (Stats.median(run.ms(k)) / Stats.median(run.ms(s"$k.untraced")) - 1.0))
    spans ++ StandaloneLayers.map { case (name, u) =>
      (name, standalone.getOrElse(name, 0.0), u) }
  }

  /** graft.Bench's CPU probe: a fixed Spark job, compiled on a tiny input,
    * then timed on 2e8 rows. */
  def calibrate(spark: SparkSession): Double = {
    def probe(rows: Long): Double = {
      val t0 = System.nanoTime()
      spark.range(rows).selectExpr("sum(cast(hash(id) as bigint))").collect()
      (System.nanoTime() - t0) / 1e6
    }
    probe(1000L)
    probe(200L * 1000 * 1000)
  }

  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum.toDouble
  }

  def loadavg(): String = try {
    java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ").take(3).mkString(",")
  } catch { case _: java.io.IOException => "" }

  /** Full-precision JSON number; NaN and infinities (an empty sample)
    * print as 0. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else String.format(Locale.ROOT, "%s", Double.box(v))
  def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => quote(k) + ":" + v }.mkString("{", ",", "}")
}
