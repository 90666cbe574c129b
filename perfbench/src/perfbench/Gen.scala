package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** SplitMix64 stream: a fixed, JDK-independent generator, so a seed gives
  * the same inputs on every JVM.
  */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    Rng.mix(s)
  }
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  def gaussian(): Double = {
    val u = math.max(nextDouble(), 1e-300)
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * nextDouble())
  }
}

object Rng {
  def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Independent stream for (seed, stream tag, index). */
  def at(seed: Long, tag: Long, i: Long): Rng =
    new Rng(mix(mix(seed * 0x632BE59BD9B4E019L + tag) + i))
}

/** Seeded input generators. Each carries its ground truth (labels,
  * planted duplicates, planted contamination) so the outputs can be checked.
  */
object Gen {

  private val pointSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("label", IntegerType, nullable = false),
    StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** k Gaussian-blob means, N(0, 4^2) per coordinate. */
  def blobCenters(seed: Long, k: Int, d: Int): Array[Array[Double]] =
    Array.tabulate(k) { j =>
      val r = Rng.at(seed, 1, j)
      Array.fill(d)(4.0 * r.gaussian())
    }

  /** Gaussian blobs: point i has a uniform label and unit-variance
    * noise around that label's mean.
    */
  def blobs(spark: SparkSession, seed: Long, n: Long, d: Int, k: Int,
      parts: Int): DataFrame = {
    val centers = blobCenters(seed, k, d)
    val rows = spark.sparkContext.range(0L, n, 1L, parts).map { i =>
      val r = Rng.at(seed, 2, i)
      val l = r.nextInt(k)
      val c = centers(l)
      Row(i, l, Array.tabulate(d)(j => c(j) + r.gaussian()).toSeq)
    }
    spark.createDataFrame(rows, pointSchema)
  }

  /** k topic profiles on the d-simplex, log-normal weights. */
  def topicProfiles(seed: Long, k: Int, d: Int): Array[Array[Double]] =
    Array.tabulate(k) { j =>
      val r = Rng.at(seed, 3, j)
      val w = Array.fill(d)(math.exp(1.5 * r.gaussian()))
      val s = w.sum
      w.map(_ / s)
    }

  /** Topic histograms: each row is its topic's profile times log-normal
    * noise, renormalized, so every entry is positive and each row sums
    * to 1.
    */
  def topics(spark: SparkSession, seed: Long, n: Long, d: Int, k: Int,
      parts: Int): DataFrame = {
    val profiles = topicProfiles(seed, k, d)
    val rows = spark.sparkContext.range(0L, n, 1L, parts).map { i =>
      val r = Rng.at(seed, 4, i)
      val l = r.nextInt(k)
      val p = profiles(l)
      val w = Array.tabulate(d)(j => p(j) * math.exp(0.3 * r.gaussian()))
      val s = w.sum
      Row(i, l, w.map(_ / s).toSeq)
    }
    spark.createDataFrame(rows, pointSchema)
  }

  // ---- documents -------------------------------------------------------

  /** The token vocabulary of the base sf0.1 documents table: 30 words
    * drawn uniformly, two of them stopwords ("the", "a"); "the" is also
    * the only English language marker.
    */
  val Vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  /** Mix of the base sf0.1 table (5,000 docs): 250 near-duplicates (a copy
    * of another doc plus the token "dup") and 8 exact duplicates; the rest
    * are originals of 10 to 99 uniform tokens. Ten sources, round-robin.
    */
  val NearDupRate = 250.0 / 5000
  val ExactDupRate = 8.0 / 5000
  /** Share of originals that carry a 12-token span of an eval doc. */
  val ContaminationRate = 0.01
  val ContaminationSpan = 12

  /** Role of doc i: 0 original, 1 near-duplicate, 2 exact duplicate, 3
    * original with a planted eval span. The duplicate source is another
    * doc's original text.
    */
  final case class DocRole(kind: Int, source: Long)

  def docRole(seed: Long, n: Long, i: Long): DocRole = {
    val r = Rng.at(seed, 5, i)
    val u = r.nextDouble()
    val src = (r.nextLong() >>> 1) % n
    if (u < NearDupRate && src != i) DocRole(1, src)
    else if (u < NearDupRate + ExactDupRate && src != i) DocRole(2, src)
    else if (r.nextDouble() < ContaminationRate) DocRole(3, -1L)
    else DocRole(0, -1L)
  }

  def originalTokens(seed: Long, i: Long): Array[String] = {
    val r = Rng.at(seed, 6, i)
    val len = 10 + r.nextInt(90)
    Array.fill(len)(Vocab(r.nextInt(Vocab.length)))
  }

  def evalTokens(seed: Long, e: Long): Array[String] = {
    val r = Rng.at(seed, 7, e)
    val len = 20 + r.nextInt(41)
    Array.fill(len)(Vocab(r.nextInt(Vocab.length)))
  }

  def docText(seed: Long, n: Long, nEval: Int, i: Long): String = {
    val role = docRole(seed, n, i)
    role.kind match {
      case 1 => originalTokens(seed, role.source).mkString(" ") + " dup"
      case 2 => originalTokens(seed, role.source).mkString(" ")
      case 3 =>
        val toks = originalTokens(seed, i)
        val r = Rng.at(seed, 8, i)
        val ev = evalTokens(seed, r.nextInt(nEval).toLong)
        val from = r.nextInt(ev.length - ContaminationSpan + 1)
        val at = r.nextInt(toks.length + 1)
        (toks.take(at) ++ ev.slice(from, from + ContaminationSpan) ++ toks.drop(at))
          .mkString(" ")
      case _ => originalTokens(seed, i).mkString(" ")
    }
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("source", StringType, nullable = false)))

  /** Corpus of n docs with doc ids in generation order. */
  def docs(spark: SparkSession, seed: Long, n: Long, nEval: Int, parts: Int): DataFrame = {
    val rows = spark.sparkContext.range(0L, n, 1L, parts).map { i =>
      Row(i, docText(seed, n, nEval, i), s"src${i % 10}")
    }
    spark.createDataFrame(rows, docSchema)
  }

  /** Held-out eval slice (ids disjoint from the corpus). */
  def evalDocs(spark: SparkSession, seed: Long, nEval: Int): DataFrame = {
    val rows = spark.sparkContext.range(0L, nEval.toLong, 1L, 1).map { e =>
      Row(e, evalTokens(seed, e).mkString(" "), "eval")
    }
    spark.createDataFrame(rows, docSchema)
  }

  /** Doc ids that carry a planted eval span. */
  def contaminated(seed: Long, n: Long): Set[Long] =
    (0L until n).filter(i => docRole(seed, n, i).kind == 3).toSet

  // ---- vectors for the streaming ingest -------------------------------

  /** Latent directions of the ingest vectors. */
  def vecCenters(seed: Long, k: Int, d: Int): Array[Array[Double]] =
    Array.tabulate(k) { j =>
      val r = Rng.at(seed, 9, j)
      val v = Array.fill(d)(r.gaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }

  /** Original vector `id`: a unit latent direction plus isotropic noise of
    * twice its norm, so two originals of one direction sit near cosine 0.2,
    * about six standard deviations below a 0.9 duplicate threshold at 64
    * dimensions.
    */
  def originalVec(seed: Long, centers: Array[Array[Double]], id: Long): Array[Double] = {
    val r = Rng.at(seed, 10, id)
    val c = centers(r.nextInt(centers.length))
    val s = 2.0 / math.sqrt(c.length.toDouble)
    Array.tabulate(c.length)(j => c(j) + s * r.gaussian())
  }

  /** Ingest batch `b` of `size` vectors, ids after the store's. A share
    * `dupRate` are planted near-duplicates (cosine > 0.999) of a store
    * vector or of an original in an earlier batch; the rest are originals.
    * Returns (id, vector, origin): the origin is the original a planted
    * duplicate copies, or the vector's own id.
    */
  def batch(seed: Long, centers: Array[Array[Double]], storeN: Long, size: Int,
      dupRate: Double, b: Int): Array[(Long, Array[Double], Long)] =
    Array.tabulate(size) { m =>
      val id = storeN + b.toLong * size + m
      val r = Rng.at(seed, 11, id)
      if (r.nextDouble() < dupRate) {
        val pool = storeN + b.toLong * size
        var target = (r.nextLong() >>> 1) % pool
        // resolve a target that is itself a planted duplicate to its origin
        while (target >= storeN && Rng.at(seed, 11, target).nextDouble() < dupRate) {
          val tr = Rng.at(seed, 11, target); tr.nextDouble()
          target = (tr.nextLong() >>> 1) % (storeN + ((target - storeN) / size) * size)
        }
        val v = originalVec(seed, centers, target)
        val s = 0.01 / math.sqrt(v.length.toDouble)
        (id, v.map(x => x + s * r.gaussian()), target)
      } else (id, originalVec(seed, centers, id), id)
    }

  private val vecSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** The store's bootstrap corpus: originals 0 until n. */
  def vecCorpus(spark: SparkSession, seed: Long, centers: Array[Array[Double]], n: Long,
      parts: Int): DataFrame = {
    val rows = spark.sparkContext.range(0L, n, 1L, parts)
      .map(i => Row(i, originalVec(seed, centers, i).toSeq))
    spark.createDataFrame(rows, vecSchema)
  }
}
