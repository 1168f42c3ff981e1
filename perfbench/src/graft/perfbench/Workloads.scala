package graft.perfbench

import graft.SparkEntry
import graft.core._
import graft.index.IndexIVF
import graft.queries.{DfCache, TextPipeline}
import graft.query._
import org.apache.spark.sql.{DataFrame, Row}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One workload: a set-up, an untimed warm-up, a closed loop with one
  * client that runs until the deadline, and post-loop checks. */
abstract class Workload(val run: Run) {
  protected val spark = run.spark
  protected val o = run.o
  protected val tracer = run.tracer
  protected def scaled(n: Int): Int = math.max(1, math.round(n * o.scale).toInt)

  def setup(): Unit
  /** Untimed warm-up between the set-up and the loop (JIT, codegen,
    * serving caches), so the first timed unit is not a cold outlier. */
  def warm(): Unit = ()
  def loop(deadline: Long): Unit
  def finish(): Unit = ()

  /** End-to-end values: (throughput, latency p50 in ms, quality). */
  def endToEnd: (Double, Double, Double)
  /** Workload-specific detail (the named per-workload metrics). */
  def detail: Seq[(String, Double)]
  /** Standalone per-layer counters this workload measures. */
  def layerCounters: Map[String, Double] = Map.empty
  /** The sample kind whose traced/untraced medians give the tracing overhead. */
  def overheadKind: String
  /** Fingerprint of the generated inputs. */
  def fingerprint: Long

  /** Sample kind, split by recording state in the traced run. */
  protected def kind(k: String): String =
    if (tracer.on && !tracer.recording) s"$k.untraced" else k

  protected def now: Long = System.nanoTime()

  /** Runs `body` at least `min` times, then until the deadline, never
    * starting a unit that the last unit's wall time says would end past it;
    * the floor keeps the sample count from falling with the host's speed.
    * The traced run records exactly `min` units and then runs one more
    * unrecorded unit, the untraced side of the tracing-overhead estimate. */
  protected def repeatUntil(deadline: Long, min: Int)(body: => Unit): Unit = {
    var last = 0L
    var n = 0
    def more = if (tracer.on) n <= min else n < min || now + last < deadline
    while (more) {
      tracer.recording = tracer.on && n < min
      val t0 = now
      body
      last = now - t0
      n += 1
    }
  }
}

object Workload {
  def dirStats(path: String): (Long, Long) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try {
      val fs = scala.jdk.CollectionConverters.IteratorHasAsScala(files.iterator).asScala
        .filter(p => java.nio.file.Files.isRegularFile(p)).toSeq
      (fs.length.toLong, fs.map(p => java.nio.file.Files.size(p)).sum)
    } finally files.close()
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val it = java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      try it.forEach(x => java.nio.file.Files.deleteIfExists(x)) finally it.close()
    }
  }
}

/** Shared multi-vector index plumbing for `serve` and `ingest_mutate`. */
abstract class IndexWorkload(run: Run) extends Workload(run) {
  val Tenant = 1L
  val K = 10
  val BatchSize = 64
  val QueryTokens = 32
  val Dim = 64
  val Tokens = 16
  def nDocs: Int
  lazy val corpus = VecCorpus(o.seed, Dim, Tokens, topics = 64)
  var idx: IndexIVF = _
  var path: String = _
  var buildDocsPerS = Double.NaN
  var qid = 0L
  var hits = 0L
  var asked = 0L
  private lazy val qrng = Gen.rng(o.seed, 5, 0)

  def schema: GSchema = GSchema(Seq(
    GField.colbert("colbert", dimensions = Dim,
      numCentroids = math.round(math.sqrt(nDocs.toDouble * Tokens)).toInt,
      quantization = QuantizerKind.BINARIZER, nbits = 2),
    GField.indexed("source", GDataType.TEXT),
    GField.stored("n_tokens", GDataType.INTEGER)))

  /** create -> train -> one bulk add of `docs`; a build sample is recorded
    * only if all three calls succeed. */
  def build(docs: DataFrame, n: Int): Unit = {
    path = s"${o.work}/${o.workload}-index"
    val t0 = now
    val ok = run.op("create")(tracer.span("index.create")(IndexIVF.create(spark, path, schema)))(_ => Nil)
      .exists { i =>
        idx = i
        val cached = docs.cache()
        try run.op("train")(tracer.span("index.train")(idx.train(cached)))(_ => Nil).isDefined &&
          run.op("bulk_add")(tracer.span("index.add")(idx.add(Tenant, cached)))(_ => Nil).isDefined
        finally cached.unpersist(true)
      }
    if (ok) buildDocsPerS = n / ((now - t0) / 1e9)
  }

  /** A query for document `target` at content `version`. */
  def query(target: Long, version: Int): (Long, Long, Array[Array[Float]]) = {
    qid += 1
    (qid, target, corpus.query(target, version, qid, QueryTokens))
  }
  def randomTarget(n: Int): Long = qrng.nextInt(n).toLong
  def random(): java.util.Random = qrng

  def queriesDf(qs: Seq[(Long, Long, Array[Array[Float]])]): DataFrame = {
    import spark.implicits._
    qs.map { case (q, _, t) => (q, t) }.toDF("query_id", "tokens")
  }

  /** searchBatch + the action on its frame, checked per query; returns the
    * ranked ids per query id. */
  def batch(k: String, qs: Seq[(Long, Long, Array[Array[Float]])],
      expect: Int, ok: Long => Boolean): Option[Map[Long, Seq[Long]]] = {
    val qdf = queriesDf(qs)
    val res = run.op(kind(k)) {
      val df = tracer.span("query.batch.call")(
        BatchSearcher.searchBatch(idx, Tenant, "colbert", qdf, K))
      tracer.span("query.batch.collect")(df.collect())
    } { rows =>
      val by = rows.groupBy(_.getLong(0))
      qs.flatMap { case (q, _, _) =>
        val rs = by.getOrElse(q, Array.empty[Row]).toSeq
        Stats.rankedProblems(rs.map(_.getLong(1)), rs.map(_.getDouble(2)),
          Some(expect), K, ok).map(p => s"query $q: $p")
      }
    }.map(_.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.toSeq.map(_.getLong(1)) })
    score(qs.map { case (q, t, _) => t -> res.flatMap(_.get(q)).getOrElse(Nil) })
    res
  }

  /** success@5: a query whose call failed counts as a miss. */
  def score(results: Seq[(Long, Seq[Long])]): Unit = results.foreach { case (t, ids) =>
    asked += 1
    if (ids.take(5).contains(t)) hits += 1
  }

  def successAt5: Double = if (asked == 0) 0.0 else hits.toDouble / asked

  def indexCounters: Map[String, Double] = if (path == null) Map.empty else {
    val (files, bytes) = Workload.dirStats(path)
    Map("index.files" -> files.toDouble, "index.bytes_on_disk" -> bytes.toDouble)
  }

  def bytesPerUserByte(liveDocs: Long): Double =
    Workload.dirStats(path)._2.toDouble / (liveDocs * Tokens * Dim * 4.0)
}

/** Read-only serving on a warm handle: a batch phase (searchBatch, 64
  * queries, k=10) then a single-query phase (IndexIVF.search, k=10: 3/4
  * Vector, 1/8 And(Vector, Term(source)), 1/8 Or(Vector, Term(source))). */
final class Serve(run: Run) extends IndexWorkload(run) {
  val nDocs: Int = scaled(4000)
  private var batchQueries = 0L
  private var batchWallS = 0.0
  /** The first batch's first query and its ids: the first single query
    * re-asks it, and the two paths must agree on the top-k ids. */
  private var reference: Option[((Long, Long, Array[Array[Float]]), Seq[Long])] = None
  private var counters = Map.empty[String, Double]

  def setup(): Unit = {
    build(corpus.docs(spark, 0, nDocs), nDocs)
    counters = indexCounters
  }

  /** Warm handle: the first batch builds the serving caches, which every
    * later call reuses; one single query compiles the single-query path. */
  override def warm(): Unit = {
    batch("warm_batch", (0 until BatchSize).map(_ => query(randomTarget(nDocs), 0)), K, inCorpus)
    single(-1)
  }

  private def inCorpus(id: Long): Boolean = id >= 0 && id < nDocs

  /** Query `i` of the single phase: 3/4 Vector (sample kind "single"),
    * 1/8 And (i % 8 == 1, "single_and"), 1/8 Or (i % 8 == 3, "single_or"),
    * so a short run still sees all three and the Vector median is not a
    * mix of shapes. */
  private def single(i: Long): Unit = {
    val same = if (i == 0) reference else None
    val (_, target, toks) = same.fold(query(randomTarget(nDocs), 0))(_._1)
    val vec = VectorQuery("colbert", toks)
    val (k, node, expect, ok) = (if (i < 0) -1 else i % 8) match {
      case -1 => ("warm_single", vec, Some(K), inCorpus _)
      case 1 =>
        val src = corpus.source(target)
        ("single_and", AndQuery(Seq(vec, TermQuery("source", src))), None,
          (id: Long) => inCorpus(id) && corpus.source(id) == src)
      case 3 =>
        ("single_or",
          OrQuery(Seq(vec, TermQuery("source", s"src${random().nextInt(corpus.Sources)}"))),
          Some(K), inCorpus _)
      case _ => ("single", vec, Some(K), inCorpus _)
    }
    val res = run.op(kind(k)) {
      val df = tracer.span("query.single.call")(idx.search(Tenant, node, K))
      tracer.span("query.single.collect")(df.collect())
    } { rows =>
      val hyd = rows.map(_.getAs[Long]("n_tokens")).filter(_ != Tokens)
      val ids = rows.map(_.getAs[Long]("doc_id")).toSeq
      Stats.rankedProblems(ids, rows.map(_.getAs[Double]("score")).toSeq, expect, K, ok) ++
        hyd.headOption.map(n => s"hydrated n_tokens $n != $Tokens") ++
        same.filter(_._2.toSet != ids.toSet).map(b =>
          s"searchBatch ids ${b._2.mkString(",")} != search ids ${ids.mkString(",")}")
    }
    score(Seq(target -> res.map(_.map(_.getAs[Long]("doc_id")).toSeq).getOrElse(Nil)))
  }

  def loop(deadline: Long): Unit = {
    hits = 0; asked = 0
    val start = now
    repeatUntil(start + (deadline - start) / 2, min = 2)(tracer.request("serve.batch") {
      val qs = (0 until BatchSize).map(_ => query(randomTarget(nDocs), 0))
      val t0 = now
      batch("batch", qs, K, inCorpus).foreach { r =>
        batchQueries += qs.length
        if (reference.isEmpty) reference = Some(qs.head -> r(qs.head._1))
      }
      batchWallS += (now - t0) / 1e9
    })
    var i = 0L
    repeatUntil(deadline, min = 5) {
      tracer.request("serve.single")(single(i))
      i += 1
    }
  }

  def endToEnd: (Double, Double, Double) =
    (batchQueries / batchWallS, Stats.median(run.ms("single")), successAt5)

  def detail: Seq[(String, Double)] = {
    val b = run.ms("batch")
    val s = run.ms("single")
    Seq("batch_qps" -> batchQueries / batchWallS, "batch_ms_p50" -> Stats.median(b),
      "batch_n" -> b.length.toDouble, "single_ms_p50" -> Stats.median(s),
      "single_n" -> s.length.toDouble,
      "single_and_ms_p50" -> Stats.median(run.ms("single_and")),
      "single_or_ms_p50" -> Stats.median(run.ms("single_or")), "success_at_5" -> successAt5,
      "build_docs_per_s" -> buildDocsPerS) ++
      Stats.tail(b).map { case (p, v) => s"batch_ms_p$p" -> v } ++
      Stats.tail(s).map { case (p, v) => s"single_ms_p$p" -> v }
  }

  override def layerCounters: Map[String, Double] = counters
  def overheadKind: String = "single"
  def fingerprint: Long = (0 until 64).map(i =>
    corpus.doc(i, 0).colbert.head.head.toDouble.hashCode.toLong).foldLeft(1L)((h, x) => Gen.mix(h ^ x))
}

/** Writes beside reads: rounds of add (fresh ids), remove, update and one
  * read-after-write searchBatch; compact and reopen at the end. Every read
  * follows a mutation, so the serving caches are rebuilt each round. */
final class IngestMutate(run: Run) extends IndexWorkload(run) {
  val nDocs: Int = scaled(4000)
  val AddN: Int = scaled(500)
  val RemoveN: Int = scaled(50)
  val UpdateN: Int = scaled(50)
  private val live = mutable.LinkedHashSet[Long]()
  private val removed = mutable.HashSet[Long]()
  private val version = mutable.HashMap[Long, Int]().withDefaultValue(0)
  private var nextId = 0L
  private var written = 0L
  private var loopS = 0.0
  private var rounds = 0
  private var counters = Map.empty[String, Double]
  private var userBytesRatio = Double.NaN

  def setup(): Unit = {
    build(corpus.docs(spark, 0, nDocs), nDocs)
    live ++= (0L until nDocs)
    nextId = nDocs
  }

  private def pick(n: Int, from: collection.Seq[Long]): Seq[Long] = {
    val a = from.toArray
    (0 until math.min(n, a.length)).map { i =>
      val j = i + random().nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
      a(i)
    }
  }

  private def afterMutation(): Unit = if (tracer.on && tracer.recording) counters = indexCounters

  def loop(deadline: Long): Unit = {
    hits = 0; asked = 0
    val start = now
    repeatUntil(deadline, min = 1)(tracer.request("ingest.round") {
      val fresh = (nextId until nextId + AddN).toSeq
      nextId += AddN
      if (run.op(kind("add"))(tracer.span("index.add")(
          idx.add(Tenant, corpus.docs(spark, fresh.map(_ -> 0)))))(_ => Nil).isDefined) {
        live ++= fresh; written += fresh.length
      }
      afterMutation()
      val gone = pick(RemoveN, live.toSeq.filterNot(fresh.contains))
      if (run.op(kind("remove"))(tracer.span("index.remove")(idx.remove(Tenant, gone)))(_ => Nil).isDefined) {
        live --= gone; removed ++= gone; written += gone.length
      }
      afterMutation()
      val upd = pick(UpdateN, live.toSeq.filterNot(fresh.contains))
      upd.foreach(id => version(id) += 1)
      if (run.op(kind("update"))(tracer.span("index.update")(
          idx.update(Tenant, corpus.docs(spark, upd.map(id => id -> version(id))))))(_ => Nil).isDefined)
        written += upd.length
      afterMutation()
      // read-after-write: 3/4 of the queries target this round's new docs,
      // 1/4 the updated docs' new content
      val targets = pick(BatchSize * 3 / 4, fresh) ++ pick(BatchSize - BatchSize * 3 / 4, upd)
      val qs = targets.map(t => query(t, version(t)))
      batch("read", qs, math.min(K, live.size), id => live.contains(id) && !removed(id))
      rounds += 1
    })
    loopS = (now - start) / 1e9
  }

  /** Compact once, then reopen from disk: the reopened index must hold
    * exactly the acknowledged live ids. */
  override def finish(): Unit = {
    tracer.recording = tracer.on
    tracer.request("ingest.close") {
      run.op("compact")(tracer.span("index.compact")(idx.compact()))(_ => Nil)
      afterMutation()
      userBytesRatio = bytesPerUserByte(live.size)
      reopen()
    }
  }

  private def reopen(): Unit =
    run.op("reopen")(tracer.span("index.open")(IndexIVF.open(spark, path))) { re =>
      val ids = re.docsDf.select("doc_id").collect().map(_.getLong(0))
      val got = ids.toSet
      (if (ids.length != got.size) Seq(s"${ids.length - got.size} duplicate live rows") else Nil) ++
        (if (got == live.toSet) Nil
         else Seq(s"reopened ids: ${(got -- live).size} unexpected, ${(live.toSet -- got).size} missing"))
    }

  def endToEnd: (Double, Double, Double) =
    (written / loopS, Stats.median(run.ms("read")), successAt5)

  def detail: Seq[(String, Double)] = Seq(
    "build_docs_per_s" -> buildDocsPerS,
    "add_ms_p50" -> Stats.median(run.ms("add")),
    "remove_ms_p50" -> Stats.median(run.ms("remove")),
    "update_ms_p50" -> Stats.median(run.ms("update")),
    "read_after_write_ms_p50" -> Stats.median(run.ms("read")),
    "compact_ms_p50" -> Stats.median(run.ms("compact")),
    "rounds" -> rounds.toDouble, "docs_written_per_s" -> written / loopS,
    "success_at_5" -> successAt5, "bytes_per_user_byte" -> userBytesRatio)

  override def layerCounters: Map[String, Double] =
    counters + ("index.bytes_per_user_byte" -> userBytesRatio)
  def overheadKind: String = "read"
  def fingerprint: Long = (0 until 64).map(i =>
    corpus.doc(i, 0).colbert.head.head.toDouble.hashCode.toLong).foldLeft(2L)((h, x) => Gen.mix(h ^ x))
}

/** The LLM-data pipeline on a generated corpus: each pass runs exact dedup,
  * MinHash dedup, Jaccard near-dup and fuzzy decontamination, then drops
  * every session cache so the next pass pays the full pipeline again. */
final class TextDedup(run: Run) extends Workload(run) {
  val n: Int = scaled(4000)
  private var corpus: TextCorpus = _
  private var dir: String = _
  private val passMs = ArrayBuffer[Double]()
  private val recalls = ArrayBuffer[Double]()
  private var lastMinhashPairs = 0L
  private var verifiedPerCandidate = Double.NaN

  def setup(): Unit = {
    corpus = new TextCorpus(o.seed, n, chunk = math.max(1, n / 2))
    dir = s"${o.work}/text"
    corpus.write(spark, dir)
  }

  /** One pass over a small corpus of the same shape compiles the text
    * kernels and warms the JIT, then the caches it filled are dropped. */
  override def warm(): Unit = {
    val (c, d) = (corpus, dir)
    corpus = new TextCorpus(o.seed + 1, 200, chunk = 200)
    dir = s"${o.work}/text-warm"
    corpus.write(spark, dir)
    pass("warm.")
    Workload.deleteTree(dir)
    corpus = c; dir = d
    recalls.clear(); passMs.clear()
  }

  private def q(name: String): Array[Row] = SparkEntry.queries(name)(spark, dir).collect()

  /** Driver-side Jaccard of a sample of reported pairs. `capped` drops
    * shingles whose document frequency exceeds the operator's df cap. */
  private def jaccardProblems(pairs: Seq[(Long, Long, Double)], min: Double,
      capped: Boolean): Seq[String] = {
    val sample = pairs.sortBy { case (a, b, _) => Gen.mix(a * 1000003L + b) }.take(16)
    val keep: String => Boolean = if (!capped) _ => true else {
      val wanted = sample.flatMap { case (a, b, _) => corpus.shingles(a) ++ corpus.shingles(b) }.toSet
      val df = mutable.HashMap[String, Int]().withDefaultValue(0)
      (0 until corpus.n).foreach(i => corpus.shingles(i).foreach(s => if (wanted(s)) df(s) += 1))
      s => df(s) <= TextPipeline.ShingleDfCap
    }
    sample.flatMap { case (a, b, reported) =>
      val sa = corpus.shingles(a).filter(keep)
      val sb = corpus.shingles(b).filter(keep)
      val j = (sa & sb).size.toDouble / (sa | sb).size
      if (j < min) Seq(s"pair ($a,$b) has Jaccard $j < $min")
      else if (reported > j + 1e-9 || reported < j - 1e-4 - 1e-9)
        Seq(s"pair ($a,$b) reported $reported, recomputed $j")
      else Nil
    }
  }

  def loop(deadline: Long): Unit = repeatUntil(deadline, min = 2)(tracer.request("text.pass")(pass("")))

  private def pass(prefix: String): Unit = {
    def step(name: String, query: String)(check: Array[Row] => Seq[String]) =
      run.op(kind(prefix + name))(tracer.span(name)(q(query)))(check)
    def triples(rows: Array[Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exact = step("text.dedup_exact", "q_dedup_exact") { rows =>
      val dups = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expectRows = corpus.n - corpus.clusters.map(_._2 - 1).sum
      (if (rows.length != expectRows) Seq(s"${rows.length} groups, expected $expectRows") else Nil) ++
        corpus.clusters.flatMap { case (start, size) =>
          if (dups.get(start.toLong).contains(size.toLong)) Nil
          else Seq(s"cluster at $start: ${dups.get(start.toLong)} dups, expected $size")
        }
    }
    val mh = step("text.dedup_minhash", "q_dedup_minhash")(rows =>
      jaccardProblems(triples(rows), 0.5, capped = false))
    val jc = step("text.neardup_jaccard", "q_neardup_jaccard")(rows =>
      jaccardProblems(triples(rows), 0.8, capped = true))
    val dc = step("text.decontaminate_fuzzy", "q_decontaminate_fuzzy") { rows =>
      val wrongSide = rows.find(r =>
        r.getLong(0) % corpus.EvalMod == 0 || r.getLong(1) % corpus.EvalMod != 0)
      wrongSide.map(r => s"pair (${r.getLong(0)},${r.getLong(1)}) crosses the eval split").toSeq ++
        jaccardProblems(triples(rows), 0.5, capped = false)
    }
    def pairs(res: Option[Array[Row]]): Set[(Long, Long)] =
      res.fold(Set.empty[(Long, Long)])(_.map(r => (r.getLong(0), r.getLong(1))).toSet)
    val found = corpus.nearDups.count(pairs(mh)) + corpus.nearDups.count(pairs(jc)) +
      corpus.contaminations.count(pairs(dc))
    recalls += found.toDouble / (2 * corpus.nearDups.length + corpus.contaminations.length)
    mh.foreach(r => lastMinhashPairs = r.length)
    if (Seq(exact, mh, jc, dc).forall(_.isDefined))
      passMs += Seq("text.dedup_exact", "text.dedup_minhash", "text.neardup_jaccard",
        "text.decontaminate_fuzzy").map(k => run.ms(kind(prefix + k)).last).sum
    DfCache.clear(spark)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  override def finish(): Unit = if (tracer.on) {
    // verified pairs per banded candidate, counted after the timed calls
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val sigs = TextPipeline.minhashSigs(TextPipeline.shingleArrays(docs))
    val cands = TextPipeline.minhashCandidates(spark, sigs,
      TextPipeline.MinhashBands, TextPipeline.MinhashRows).count()
    verifiedPerCandidate = if (cands == 0) 0.0 else lastMinhashPairs.toDouble / cands
  }

  private def passP50: Double = Stats.median(passMs.toSeq)

  def endToEnd: (Double, Double, Double) = (n / (passP50 / 1000), passP50, Stats.median(recalls.toSeq))

  def detail: Seq[(String, Double)] = Seq(
    "dedup_docs_per_s" -> n / (passP50 / 1000), "pass_ms_p50" -> passP50,
    "passes" -> passMs.length.toDouble, "dedup_recall" -> Stats.median(recalls.toSeq),
    "minhash_pairs" -> lastMinhashPairs.toDouble)

  override def layerCounters: Map[String, Double] = Map(
    "text.minhash.cap_drops" -> TextPipeline.droppedHotKeys("q_dedup_minhash").toDouble,
    "text.minhash.verified_per_candidate" -> verifiedPerCandidate)
  def overheadKind: String = "text.dedup_minhash"
  def fingerprint: Long = corpus.fingerprint
}
