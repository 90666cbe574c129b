package perfbench

import graft.clustering.{GeneralizedKMeans, GeneralizedKMeansModel, SummarySink, TrainingEvent}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

final case class FitSize(n: Long, d: Int, k: Int, maxIter: Int, warmN: Long, parts: Int)

/** Timestamps every training event; passed through setEventSink in the
  * traced run only.
  */
final class TimingSink extends SummarySink {
  val events = mutable.ArrayBuffer[(Long, TrainingEvent)]()
  def emit(e: TrainingEvent): Unit = synchronized { events += ((System.nanoTime(), e)) }
}

/** The benchmark's own divergences, for the exact cost pass. */
object Cost {
  /** The estimator's default smoothing for log-domain divergences. */
  val Smoothing = 1e-10

  def se(x: Array[Double], c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) { val t = x(i) - c(i); s += t * t; i += 1 }
    0.5 * s
  }

  def kl(x: Array[Double], c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) {
      val a = x(i) + Smoothing
      s += a * math.log(a / (c(i) + Smoothing))
      i += 1
    }
    s
  }

  /** Sum over rows of the smallest divergence to any center. */
  def exact(df: DataFrame, centers: Array[Array[Double]], divergence: String): Double = {
    val bc = df.sparkSession.sparkContext.broadcast(centers)
    val useKl = divergence == "kl"
    val f = udf { (xs: Seq[Double]) =>
      val x = xs.toArray
      var best = Double.PositiveInfinity
      bc.value.foreach { c => best = math.min(best, if (useKl) kl(x, c) else se(x, c)) }
      best
    }
    try df.select(sum(f(col("features")))).head().getDouble(0)
    finally bc.destroy()
  }

  /** Adjusted Rand index from a (truth, prediction) -> count table. */
  def ari(table: Seq[((Int, Int), Long)]): Double = {
    def c2(x: Double) = x * (x - 1) / 2
    val n = table.map(_._2).sum.toDouble
    val sumCells = table.map(t => c2(t._2.toDouble)).sum
    val sumA = table.groupBy(_._1._1).values.map(g => c2(g.map(_._2).sum.toDouble)).sum
    val sumB = table.groupBy(_._1._2).values.map(g => c2(g.map(_._2).sum.toDouble)).sum
    val expected = sumA * sumB / c2(n)
    val maxIdx = (sumA + sumB) / 2
    if (maxIdx == expected) 1.0 else (sumCells - expected) / (maxIdx - expected)
  }
}

/** `GeneralizedKMeans` fit with tol = 0 and a fixed maxIter, then
  * `model.transform` of the same points to the noop sink.
  */
final class FitWorkload(spark: SparkSession, val name: String, divergence: String,
    size: FitSize, seed: Long, dir: String) extends Workload {
  val minOps = 2
  private val path = s"$dir/points"
  private val warmPath = s"$dir/warm"
  private val kl = divergence == "kl"
  /** ARI floor against the generator's labels. */
  val AriFloor = 0.9

  private def gen(s: Long, n: Long): DataFrame =
    if (kl) Gen.topics(spark, s, n, size.d, size.k, size.parts)
    else Gen.blobs(spark, s, n, size.d, size.k, size.parts)

  private def trueCenters: Array[Array[Double]] =
    if (kl) Gen.topicProfiles(seed, size.k, size.d) else Gen.blobCenters(seed, size.k, size.d)

  private def estimator(maxIter: Int): GeneralizedKMeans =
    new GeneralizedKMeans().setK(size.k).setDivergence(divergence).setMaxIter(maxIter)
      .setTol(0.0).setSeed(seed).setFeaturesCol("features").setAssignmentStrategy("auto")

  def prepare(rep: Int): Unit = gen(seed, size.n).write.mode("overwrite").parquet(path)

  /** One untimed fit and transform of the measured points (a warm-up at a
    * tenth of the size left the first timed fit 1.5x slower than the
    * fourth), plus, for KL, the exact cost along the iterations of a
    * small instance.
    */
  override def warm(): Seq[Check] = {
    val df = spark.read.parquet(path)
    val m = estimator(size.maxIter).fit(df)
    m.transform(df).write.format("noop").mode("overwrite").save()
    Cost.exact(df, m.clusterCenters, divergence)
    if (!kl) Nil
    else {
      // one-iteration fits chained through setInitialCenters from k fixed
      // rows of a small instance
      gen(seed + 1, size.warmN).write.mode("overwrite").parquet(warmPath)
      val w = spark.read.parquet(warmPath)
      var c = w.where(col("id") < size.k).orderBy("id").select("features").collect()
        .map(_.getSeq[Double](0).toArray)
      val costs = mutable.ArrayBuffer(Cost.exact(w, c, divergence))
      (1 to size.maxIter).foreach { _ =>
        c = estimator(1).setInitialCenters(c).fit(w).clusterCenters
        costs += Cost.exact(w, c, divergence)
      }
      val rises = costs.sliding(2).count(p => p(1) > p(0) * (1 + 1e-9))
      Seq(Check("exact_cost_non_increasing", rises == 0,
        s"exact cost per iteration on a ${size.warmN}-point instance: " +
          costs.map(v => f"$v%.6g").mkString(" ")))
    }
  }

  private val models = mutable.ArrayBuffer[GeneralizedKMeansModel]()
  private val sinks = mutable.ArrayBuffer[(Long, TimingSink)]()

  def op(i: Int, tr: Tracer): OpOut = {
    val df = spark.read.parquet(path)
    val est = estimator(size.maxIter)
    val sink = new TimingSink
    if (tr.on) est.setEventSink(sink)
    val t0 = System.nanoTime()
    val model = tr.span("clustering.fit")(est.fit(df))
    val fitS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    tr.span("clustering.transform") {
      model.transform(df).write.format("noop").mode("overwrite").save()
    }
    val transformS = (System.nanoTime() - t1) / 1e9
    if (tr.on) sinks += ((t0, sink))
    if (models.isEmpty || tr.on) models += model
    val iters = model.summary.iterations
    OpOut(size.n.toDouble * iters, fitS, s"iterations=$iters",
      Map("transform_s" -> transformS, "iterations" -> iters.toDouble))
  }

  def checks(outs: Seq[OpOut]): Seq[Check] = {
    val df = spark.read.parquet(path)
    val model = models.head
    val pred = model.transform(df)
    val cells = pred.groupBy("label", "prediction").count().collect()
    val ari = Cost.ari(cells.map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toSeq)
    // the partition of the points, independent of how clusters are numbered
    val digest = pred.groupBy("prediction").agg(min("id"), expr("bit_xor(xxhash64(id))"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sorted
      .foldLeft(0L) { case (h, (m, x)) => Rng.mix(h ^ m) ^ x }
    val fitCost = Cost.exact(df, model.clusterCenters, divergence)
    val programCost = model.computeCost(df)
    val trueCost = Cost.exact(df, trueCenters, divergence)
    val iters = outs.map(_.info("iterations").toInt).distinct
    val centerDrift = models.tail.map { m =>
      m.clusterCenters.zip(model.clusterCenters).map { case (a, b) =>
        a.zip(b).map { case (x, y) => math.abs(x - y) / math.max(1e-12, math.abs(y)) }.max
      }.max
    }.foldLeft(0.0)(math.max)
    Seq(
      Check("iterations_equal_maxIter", iters == Seq(size.maxIter),
        s"iterations per fit ${iters.mkString(",")} vs maxIter ${size.maxIter}"),
      Check("ari_floor", ari >= AriFloor, f"ARI $ari%.4f vs generator labels (floor $AriFloor)"),
      Check("exact_cost", fitCost.isFinite &&
        math.abs(programCost - fitCost) <= 1e-6 * math.abs(fitCost),
        f"exact cost $fitCost%.8g at the fitted centers, model.computeCost $programCost%.8g; " +
          f"the generator's centers cost $trueCost%.6g (ratio ${fitCost / trueCost}%.4f)"),
      Check("same_centers_every_fit", centerDrift <= 1e-6,
        f"largest relative center difference between fits $centerDrift%.3g"),
      Check("digest", true, f"output digest $digest%016x (of the partition of the points)"))
  }

  val aliases = Seq("fit_point_iters_per_s" -> "rate_per_s")

  override def figures(outs: Seq[OpOut]): Seq[Figure] = {
    val trRate = Stats.quantile(outs.map(o => size.n / o.info("transform_s")), 0.5)
    // BASELINE.md: the reference's CI sanity runs on an M1, local[*]
    val (refRate, refCfg) =
      if (kl) (2000.0 * 3 / 0.587, "2,000 pts x 2 dims, k=2, maxIter=3")
      else (2000.0 * 5 / 2.295, "2,000 pts x 2 dims, k=2, maxIter=5")
    Seq(
      Figure("transform_rows_per_s", trRate, "1/s", s"${outs.size} transforms"),
      Figure("reference_fit_point_iters_per_s", refRate, "1/s",
        s"BASELINE.md published figure, $refCfg, M1 laptop, not comparable in size"))
  }

  override def layerExtras(spans: Seq[SpanRec], outs: Seq[OpOut]): Map[String, Double] = {
    val perFit = sinks.toSeq.map { case (t0, s) =>
      val ev = s.events.toSeq
      val starts = ev.collect { case (t, TrainingEvent.IterationStarted(it)) => it -> t }.toMap
      val durs = ev.collect { case (t, TrainingEvent.IterationCompleted(it, _, _)) =>
        (t - starts(it)) / 1e9 }
      val init = starts.values.minOption.map(t => (t - t0) / 1e9).getOrElse(0.0)
      (init, Stats.lowerMedian(durs), durs.size.toDouble)
    }
    val fitSpans = spans.filter(_.name == "clustering.fit")
    val iters = Stats.lowerMedian(perFit.map(_._3))
    val divEvals = size.n.toDouble * size.k * iters
    val cpu = Stats.lowerMedian(fitSpans.map(_.agg.cpuNs.toDouble))
    Map(
      "clustering.fit.init_s" -> Stats.lowerMedian(perFit.map(_._1)),
      "clustering.fit.iter_s" -> Stats.lowerMedian(perFit.map(_._2)),
      "clustering.fit.iterations" -> iters,
      "clustering.fit.result_bytes" -> Stats.lowerMedian(fitSpans.map(_.agg.resultBytes.toDouble)),
      "kernels.div_evals" -> divEvals,
      "kernels.cpu_ns_per_div_eval" -> (if (divEvals > 0) cpu / divEvals else 0.0))
  }
}
