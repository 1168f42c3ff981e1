package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One generated multi-vector document, in the column names the index
  * schema declares. */
final case class VecDoc(id: Long, colbert: Array[Array[Float]], source: String,
    n_tokens: Long)

object Gen {
  /** splitmix64 finalizer: decorrelates (seed, stream, id) triples. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, id: Long): java.util.Random =
    new java.util.Random(mix(mix(seed * 31 + stream) + id))

  def unit(v: Array[Float]): Array[Float] = {
    var n = 0.0
    v.foreach(x => n += x * x)
    val inv = (1.0 / math.sqrt(n)).toFloat
    v.map(_ * inv)
  }
}

/** Seeded multi-vector corpus: `topics` unit-vector topic centres whose
  * popularity is Zipf(1)-skewed; each document sits near one topic and its
  * `tokens` token vectors sit near the document's own centre. Every value
  * is a pure function of (seed, id, version), so the executors generate the
  * corpus in parallel and the Spark driver regenerates any one document to build
  * a query from it. `version` > 0 is an updated document's new content. */
final case class VecCorpus(seed: Long, dim: Int, tokens: Int, topics: Int) {
  val Sources = 8
  private val centres: Array[Array[Float]] = Array.tabulate(topics) { t =>
    val r = Gen.rng(seed, 1, t)
    Gen.unit(Array.fill(dim)(r.nextGaussian().toFloat))
  }
  private val zipfCdf: Array[Double] = {
    val w = (1 to topics).map(1.0 / _)
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def topicOf(id: Long): Int = {
    val u = Gen.rng(seed, 2, id).nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, topics - 1)
  }

  def source(id: Long): String = s"src${java.lang.Math.floorMod(Gen.mix(seed ^ id), Sources.toLong)}"

  def doc(id: Long, version: Int): VecDoc = {
    val r = Gen.rng(seed, 3 + version * 7919L, id)
    val c = centres(topicOf(id))
    val centre = Gen.unit(Array.tabulate(dim)(i => c(i) + 0.35f * r.nextGaussian().toFloat))
    val toks = Array.fill(tokens)(
      Gen.unit(Array.tabulate(dim)(i => centre(i) + 0.25f * r.nextGaussian().toFloat)))
    VecDoc(id, toks, source(id), tokens.toLong)
  }

  /** A query for document `id`: `n` noisy copies of its tokens. */
  def query(id: Long, version: Int, qid: Long, n: Int): Array[Array[Float]] = {
    val d = doc(id, version).colbert
    val r = Gen.rng(seed, 4, qid)
    Array.fill(n) {
      val t = d(r.nextInt(d.length))
      Gen.unit(Array.tabulate(dim)(i => t(i) + 0.1f * r.nextGaussian().toFloat))
    }
  }

  /** Documents `ids` (at the given versions) as a DataFrame generated on
    * the executors. */
  def docs(spark: SparkSession, ids: Seq[(Long, Int)]): DataFrame = {
    import spark.implicits._
    val parts = math.max(1, math.min(ids.length / 256 + 1, spark.sparkContext.defaultParallelism))
    val me = this
    spark.sparkContext.parallelize(ids, parts)
      .map { case (id, v) => me.doc(id, v) }.toDS().toDF()
  }

  def docs(spark: SparkSession, lo: Long, hi: Long): DataFrame =
    docs(spark, (lo until hi).map(_ -> 0))
}

/** Seeded text corpus with planted structure the dedup operators must find:
  *  - near-duplicate pairs that differ in exactly one token;
  *  - one exact-duplicate cluster per chunk, larger than the LSH bucket cap;
  *  - a shared stop-phrase prefix on 10% of documents (drives the shingle df
  *    cap);
  *  - near-copies of eval-side documents (doc_id % 7 == 0, the fuzzy
  *    decontamination split) planted on the corpus side.
  * Documents are `words` tokens from a `vocab`-word vocabulary. */
final class TextCorpus(seed: Long, val n: Int, words: Int = 60,
    vocab: Int = 20000, chunk: Int = 4000, clusterSize: Int = 150) {
  val EvalMod = 7
  private val r = Gen.rng(seed, 10, 0)
  private def word(): String = s"w${r.nextInt(vocab)}"
  private val stopPhrase = Array.fill(8)(word())

  val texts: Array[Array[String]] = Array.fill(n)(Array.fill(words)(word()))
  for (i <- 0 until n if r.nextDouble() < 0.10)
    System.arraycopy(stopPhrase, 0, texts(i), 0, stopPhrase.length)

  private val taken = new java.util.BitSet(n)
  /** (first id, size) of each exact-duplicate cluster; at most half its
    * chunk, so tiny corpora keep free ids for the planted pairs. */
  val clusters: Seq[(Int, Int)] = (0 until n by chunk).map { start =>
    val size = Seq(clusterSize, chunk / 2, n - start).min
    (start until start + size).foreach { i => texts(i) = texts(start); taken.set(i) }
    (start, size)
  }
  private def freeId(pred: Int => Boolean): Int = {
    var i = r.nextInt(n)
    while (taken.get(i) || !pred(i)) i = r.nextInt(n)
    taken.set(i)
    i
  }
  /** One token replaced, outside the stop-phrase prefix. */
  private def nearCopy(src: Int, dst: Int): Unit = {
    val t = texts(src).clone()
    val pos = stopPhrase.length + r.nextInt(words - stopPhrase.length)
    var w = word()
    while (w == t(pos)) w = word()
    t(pos) = w
    texts(dst) = t
  }
  /** Planted near-duplicate pairs (a < b). */
  val nearDups: Seq[(Long, Long)] = (0 until n / 25).map { _ =>
    val a = freeId(_ => true)
    val b = freeId(_ => true)
    nearCopy(a, b)
    (math.min(a, b).toLong, math.max(a, b).toLong)
  }
  /** Planted contaminations: corpus-side id -> the eval-side id it copies. */
  val contaminations: Seq[(Long, Long)] = (0 until n / 100).map { _ =>
    val e = freeId(_ % EvalMod == 0)
    val c = freeId(_ % EvalMod != 0)
    nearCopy(e, c)
    (c.toLong, e.toLong)
  }

  def text(id: Long): String = texts(id.toInt).mkString(" ")

  /** Distinct word 3-gram shingles, the unit the dedup operators hash. */
  def shingles(id: Long): Set[String] =
    texts(id.toInt).sliding(3).map(_.mkString(" ")).toSet

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** Order-sensitive fingerprint of the generated input. */
  def fingerprint: Long =
    texts.iterator.map(_.mkString(" ").hashCode.toLong).foldLeft(17L)((h, x) => Gen.mix(h ^ x))
}
