package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

object Stats {
  /** Lower median: an element of xs, so integer counts stay integers. */
  def lowerMedian(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply((xs.size - 1) / 2)

  /** Linear-interpolated quantile (numpy's default rule). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    size: String,
    workDir: String,
    traceFile: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("size", "full"),
      need("work-dir"), m.getOrElse("trace-file", ""))
  }
}

/** Per-workload input sizes. `tiny` is the self-test scale, which also
  * fixes the op count.
  */
object Sizes {
  /** Timed ops of a tiny run (traced: this many of each kind); 0 = by time. */
  def fixedOps(size: String): Int = if (size == "tiny") 2 else 0
  def fit(kind: String, size: String): FitSize = (kind, size) match {
    case ("fit_se", "full") => FitSize(20000, 64, 16, 8, 0, 8)
    case ("fit_kl", "full") => FitSize(30000, 32, 16, 5, 3000, 8)
    case (_, _) => FitSize(4000, 8, 4, 2, 1000, 4)
  }
  def curate(size: String): CurateSize =
    if (size == "full") CurateSize(4000, 40, 8) else CurateSize(2000, 50, 4)
  def ingest(size: String): IngestSize =
    if (size == "full") IngestSize(500, 64, 8, 8, 100, 4)
    else IngestSize(500, 64, 4, 4, 20, 2)
}

/** The counters every span reports. Metric names and units are declared
  * in BENCHMARK.json; run.py takes them from there.
  */
object Layers {
  val Spans = Seq("clustering.fit", "clustering.transform", "ops.curate", "ops.sketch_io",
    "ops.decontaminate", "ops.budget_select", "sources.shard_write", "sources.shard_verify",
    "streaming.batch")
  val Counters: Seq[(String, SpanRec => Double)] = Seq(
    "wall_s" -> (_.wallS),
    "driver_only_s" -> (_.driverOnlyS),
    "jobs" -> (_.agg.jobs.toDouble),
    "tasks" -> (_.agg.tasks.toDouble),
    "executor_cpu_s" -> (_.agg.cpuNs / 1e9),
    "core_busy_ratio" -> (_.coreBusy),
    "shuffle_write_bytes" -> (_.agg.shuffleWrite.toDouble),
    "fs_write_ops" -> (_.fs.writeOps.toDouble))

  /** Each span's counters, as the median over traced ops (0 where the
    * workload never enters that layer).
    */
  def counters(spans: Seq[SpanRec]): Seq[(String, Double)] =
    for (s <- Spans; (c, f) <- Counters) yield {
      val perOp = spans.filter(_.name == s).groupBy(_.op).values.map(_.map(f).sum).toSeq
      (s"$s.$c", Stats.lowerMedian(perOp))
    }
}

object Main {
  /** Executor threads: local[4], the host's core count. */
  val Cores = 4
  /** Traced ops of a traced run, which also runs as many untraced ones and
    * an untraced lead-in. Four of each make the Thue-Morse order balance a
    * quadratic trend.
    */
  val TracedOps = 4

  private def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val (spark, sessionS) = secondsOf {
      SparkSession.builder()
        .master(s"local[$Cores]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "localhost")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"${o.workDir}/spark-local")
        .config("spark.sql.warehouse.dir", s"${o.workDir}/warehouse")
        .config("spark.hadoop.fs.file.impl",
          if (o.trace) classOf[CountingLocalFileSystem].getName
          else classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    val dir = s"${o.workDir}/data"
    val wl: Workload = o.workload match {
      case "fit_se" => new FitWorkload(spark, "fit_se", "squaredEuclidean",
        Sizes.fit("fit_se", o.size), o.seed, dir)
      case "fit_kl" => new FitWorkload(spark, "fit_kl", "kl", Sizes.fit("fit_kl", o.size), o.seed, dir)
      case "curate" => new CurateWorkload(spark, Sizes.curate(o.size), o.seed, dir)
      case "ingest" => new IngestWorkload(spark, Sizes.ingest(o.size), o.seed, dir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- set-up: the inputs (prepared several times; median), then the
    // workload's warm-up and start ----
    val prepS = (1 to wl.setupReps)
      .map(r => secondsOf(wl.prepare(r))._2)
    val (warmChecks, warmS) = secondsOf(wl.warm())
    spark.catalog.clearCache()
    val startS = secondsOf(wl.start())._2
    val setupS = sessionS + Stats.quantile(prepS, 0.5) + warmS + startS
    println(f"info setup: session ${sessionS}%.3f s, inputs " + prepS.map(s => f"$s%.3f").mkString("/") +
      f" s (median of ${prepS.size}), warm-up ${warmS}%.3f s, start ${startS}%.3f s")

    var attempted = 0
    var failed = 0
    val outs = mutable.ArrayBuffer[OpOut]()
    val walls = mutable.ArrayBuffer[Double]()
    val tracedWalls = mutable.ArrayBuffer[Double]()
    val tracedOuts = mutable.ArrayBuffer[OpOut]()
    def runOp(i: Int, tr: Tracer): Unit = {
      attempted += 1
      tr.setOp(i)
      try {
        val (out, wall) = secondsOf(wl.op(i, tr))
        if (tr.on) { tracedOuts += out; tracedWalls += wall }
        else { outs += out; walls += wall }
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[perfbench] ${wl.name} op $i failed: $e")
          e.printStackTrace()
      }
      wl.afterOp(spark)
    }

    // ---- timed phase: ops while the next one is expected to end within
    // --seconds. A traced run instead runs one untraced lead-in op, then a
    // fixed number of untraced and traced ops in Thue-Morse order
    // (U T T U T U U T ...). Op time still falls after warm-up, on a convex
    // curve (fit_se: 4.54, 4.04, 3.52, 3.37, 3.34 s): the lead-in takes the
    // first step and is left out of the tracing overhead, and the order
    // gives the traced and untraced ops equal sums of position and of
    // squared position, so a linear or quadratic trend cancels in their
    // means. The traced ops see the same inputs on every run. ----
    val fixedOps = Sizes.fixedOps(o.size)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var next = 0
    var spans: Seq[SpanRec] = Nil
    if (o.trace) {
      val collector = new Collector
      spark.sparkContext.addSparkListener(collector)
      val tr = new Tracer.On(spark.sparkContext, collector, Cores)
      runOp(next, Tracer.Off)
      next += 1
      (0 until 2 * (if (fixedOps > 0) fixedOps else TracedOps)).foreach { j =>
        runOp(next, if (Integer.bitCount(j) % 2 == 1) tr else Tracer.Off)
        next += 1
      }
      spark.sparkContext.removeSparkListener(collector)
      spans = tr.spans
    } else {
      val minOps = if (fixedOps > 0) fixedOps else wl.minOps
      while (next < minOps || (fixedOps == 0 && walls.nonEmpty && elapsed + walls.last <= o.seconds)) {
        runOp(next, Tracer.Off)
        next += 1
      }
    }
    val timedS = elapsed

    val extras = if (o.trace) wl.layerExtras(spans, tracedOuts.toSeq) else Map.empty[String, Double]
    val checks = warmChecks ++ (
      try { if (outs.nonEmpty) wl.checks((outs ++ tracedOuts).toSeq) else Nil }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          Seq(Check("checks_ran", ok = false, e.toString))
      })
    wl.stop()

    // ---- report: the values of the BENCHMARK.json metrics (run.py adds
    // their units), plus each workload's own figures ----
    println(f"info ${wl.name}: ${outs.size} timed ops in ${timedS}%.3f s, seed ${o.seed}, size ${o.size}; " +
      s"op walls ${walls.map(w => f"$w%.3f").mkString(" ")} (rated part ${outs.map(o => f"${o.unitsWallS}%.3f").mkString(" ")}); " +
      s"traced ${tracedWalls.map(w => f"$w%.3f").mkString(" ")}")
    checks.foreach(c => println(s"check ${c.name} ${if (c.ok) "ok" else "FAILED"}: ${c.detail}"))
    val failedRatio = if (attempted > 0) failed.toDouble / attempted else 0.0
    val figures = if (outs.nonEmpty) wl.figures(outs.toSeq) else Nil
    (figures :+ Figure("failed_ops_ratio", failedRatio, "ratio", s"$failed of $attempted ops failed"))
      .foreach(f => println(s"metric ${f.name} ${num(f.value)} ${f.unit} (${f.note})"))

    val values: Seq[(String, Double)] =
      if (o.trace)
        Layers.counters(spans) ++ extras.toSeq :+ ("tracing_overhead_ratio" ->
          (mean(tracedWalls.toSeq) / mean(walls.drop(1).toSeq) - 1))
      else if (outs.isEmpty) Nil
      else Seq(
        "rate_per_s" -> Stats.quantile(outs.map(o => o.units / o.unitsWallS).toSeq, 0.5),
        "op_p50_s" -> Stats.quantile(walls.toSeq, 0.5),
        "setup_s" -> setupS)
    if (o.trace && o.traceFile.nonEmpty) {
      val f = new java.io.File(o.traceFile)
      f.getParentFile.mkdirs()
      val w = new java.io.PrintWriter(f, "UTF-8")
      try spans.foreach(s => w.println(s.toJson)) finally w.close()
      println(s"info spans written to ${o.traceFile}")
    }

    val correct = failed == 0 && outs.nonEmpty && checks.forall(_.ok)
    def obj(kv: Seq[(String, String)]) = kv.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    spark.stop()
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "n_ops": ${walls.size}, """ +
      s""""values": ${obj(values.map { case (k, v) => k -> num(v) })}, """ +
      s""""aliases": ${obj(if (o.trace) Nil else wl.aliases.map { case (k, v) => k -> s""""$v"""" })}}""")
    System.out.flush()
    System.exit(if (correct) 0 else 1)
  }
}
