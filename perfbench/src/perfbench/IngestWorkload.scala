package perfbench

import graft.ops.SemDedupIndex
import org.apache.spark.sql.{SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import scala.collection.mutable

final case class IngestSize(storeN: Long, d: Int, latentK: Int, indexK: Int, batch: Int,
    parts: Int)

/** Streaming ingest: a SemDedupIndex trained and written in set-up, then
  * equal-size vector batches fed one at a time through
  * `SemDedupIndex.ingestStream` from a MemoryStream, waiting on each.
  */
final class IngestWorkload(spark: SparkSession, size: IngestSize, seed: Long, dir: String)
    extends Workload {
  val name = "ingest"
  val minOps = 3
  /** Training and writing the index dominates the inputs; once. */
  override val setupReps = 1
  /** Cosine at or above which a vector is a duplicate. */
  val Epsilon = 0.9
  /** Share of each batch planted as near-duplicates. */
  val DupRate = 0.2
  /** Untimed batches offered when the stream starts. Batch time falls in
    * steps over the first dozen batches (seed 1, after one untimed batch:
    * 3.59 3.40 3.53, then 3.17 3.15 3.35 3.09, then 2.69 ... 2.34 s); three
    * put the timed batches past the first step. Settling fully would cost
    * more than the run budget.
    */
  val WarmBatches = 3

  private var bootKeepers = 0L

  /** Generate the bootstrap corpus, train the index and write it. */
  private def buildStore(s: Long, n: Long, store: String): Long = {
    val corpus = s"$store-corpus"
    Gen.vecCorpus(spark, s, Gen.vecCenters(s, size.latentK, size.d), n, size.parts)
      .write.mode("overwrite").parquet(corpus)
    val (verdicts, idx) = SemDedupIndex.train(spark.read.parquet(corpus), "id", "v",
      size.indexK, Epsilon, seed = s, maxIter = 3)
    val keepers = verdicts.where(col("keep")).count()
    verdicts.unpersist()
    SemDedupIndex.write(idx, store)
    idx.keepers.unpersist()
    keepers
  }

  private def storePath(rep: Int) = s"$dir/store-$rep"
  private var lastRep = 0

  def prepare(rep: Int): Unit = {
    bootKeepers = buildStore(seed, size.storeN, storePath(rep))
    lastRep = rep
  }

  /** A stream over one store, fed one batch at a time. */
  private final class Feed(s: Long, storeN: Long, store: String, checkpoint: String) {
    private val cs = Gen.vecCenters(s, size.latentK, size.d)
    private implicit val sqlCtx: SQLContext = spark.sqlContext
    private implicit val sp: SparkSession = spark
    import spark.implicits._
    val stream: MemoryStream[(Long, Seq[Double])] = MemoryStream[(Long, Seq[Double])]
    /** batchId -> verdict rows (id, cluster, keep), filled by the stream's sink. */
    val verdicts = new java.util.concurrent.ConcurrentHashMap[Long, Array[(Long, Long, Boolean)]]()
    /** Batch index -> (id, origin) rows offered. */
    val offered = mutable.LinkedHashMap[Int, Array[(Long, Long)]]()
    val query: StreamingQuery = SemDedupIndex.ingestStream(
      stream.toDF().select(col("_1").as("id"), col("_2").as("v")), "id", "v", store,
      (v, batchId) => {
        verdicts.put(batchId, v.select(col("id"), col("cluster").cast("long"), col("keep")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))))
        ()
      },
      checkpoint)
    private var next = 0

    /** Offer the next batch and wait until the stream has processed it. */
    def feed(): Unit = {
      val b = next
      next += 1
      val rows = Gen.batch(s, cs, storeN, size.batch, DupRate, b)
      offered(b) = rows.map(r => (r._1, r._3))
      stream.addData(rows.map(r => (r._1, r._2.toSeq)).toSeq)
      query.processAllAvailable()
    }

    /** Verdict rows of batch b (the MemoryStream numbers its batches from
      * 0 in offer order).
      */
    def verdictsOf(b: Int): Array[(Long, Long, Boolean)] =
      Option(verdicts.get(b.toLong)).getOrElse(Array.empty)
  }

  private var feed: Feed = _

  /** Start the measured stream and offer its first batches untimed: the
    * warm-up, at batch size.
    */
  override def start(): Unit = {
    feed = new Feed(seed, size.storeN, storePath(lastRep), s"$dir/checkpoint")
    (1 to WarmBatches).foreach(_ => feed.feed())
  }

  def op(i: Int, tr: Tracer): OpOut = {
    val t0 = System.nanoTime()
    tr.groupSpan("streaming.batch", feed.query.runId.toString)(feed.feed())
    val wall = (System.nanoTime() - t0) / 1e9
    OpOut(size.batch.toDouble, wall, "")
  }

  override def afterOp(spark: SparkSession): Unit = ()

  override def stop(): Unit = if (feed != null && feed.query.isActive) feed.query.stop()

  def checks(outs: Seq[OpOut]): Seq[Check] = {
    stop()
    val idx = SemDedupIndex.read(spark, storePath(lastRep))
    val stored = idx.keepers.count()
    // Expected verdicts: the index probes a vector's own cell, against the
    // keepers there and smaller-id vectors of its batch. A planted
    // duplicate is caught exactly when a kept copy of its origin, or a
    // smaller-id batch vector with that origin, sits in the same cell
    // (a duplicate can land in another cell than its origin).
    val kept = mutable.HashSet[(Long, Long)]()
    idx.keepers.where(col("id") < size.storeN).select(col("id"), col("cluster")).collect()
      .foreach(r => kept += ((r.getLong(0), r.getLong(1))))
    val perBatch = feed.offered.toSeq.map { case (b, rows) =>
      val got = feed.verdictsOf(b).sortBy(_._1)
      val origin = rows.toMap
      val seen = mutable.HashSet[(Long, Long)]()
      val wrong =
        if (got.map(_._1).toSeq != rows.map(_._1).sorted.toSeq) Seq(-1L)
        else got.toSeq.collect { case (id, cell, keep)
          if keep == (kept.contains((origin(id), cell)) || !seen.add((origin(id), cell))) => id }
      got.foreach { case (id, cell, keep) => if (keep) kept += ((origin(id), cell)) }
      (b, wrong.isEmpty, got.count(_._3), wrong)
    }
    val bad = perBatch.filterNot(_._2).map(p => s"batch ${p._1} ids ${p._4.take(5).mkString(",")}")
    val admitted = perBatch.map(_._3.toLong).sum
    val digest = feed.offered.keys.toSeq.sorted.flatMap(b => feed.verdictsOf(b).sortBy(_._1))
      .foldLeft(0L) { case (h, (id, _, keep)) => Rng.mix(h ^ (id << 1 | (if (keep) 1L else 0L))) }
    Seq(
      Check("one_verdict_per_vector", bad.isEmpty,
        s"${perBatch.size} batches of ${size.batch}; verdicts missing (id -1) or disagreeing " +
          s"with the planted duplicates and their cells: ${bad.take(10).mkString("; ")}"),
      Check("store_reads_back", stored == bootKeepers + admitted,
        s"SemDedupIndex.read validated the store: $stored keepers = $bootKeepers bootstrap + " +
          s"$admitted admitted"),
      Check("digest", true, f"output digest $digest%016x over ${perBatch.size} batches"))
  }

  val aliases = Seq("ingest_vectors_per_s" -> "rate_per_s", "ingest_batch_p50_s" -> "op_p50_s")

  override def figures(outs: Seq[OpOut]): Seq[Figure] = Seq(
    Figure("ingest_batch_p75_s", Stats.quantile(outs.map(_.unitsWallS), 0.75), "s", s"n=${outs.size}"))

  override def layerExtras(spans: Seq[SpanRec], outs: Seq[OpOut]): Map[String, Double] = {
    val traced = spans.filter(_.name == "streaming.batch").map(_.op).toSet
    // op i feeds batch WarmBatches + i: every op, traced or not, feeds one
    val ids = traced.map(op => (WarmBatches + op).toLong)
    val deadline = System.currentTimeMillis() + 10000
    def progress = feed.query.recentProgress.filter(p => ids.contains(p.batchId))
    while (progress.length < ids.size && System.currentTimeMillis() < deadline) Thread.sleep(10)
    val ps = progress.toSeq
    def dur(key: String): Double =
      Stats.lowerMedian(ps.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0) / 1000))
    val novel = ids.toSeq.map { b =>
      val v = feed.verdictsOf(b.toInt)
      if (v.isEmpty) 0.0 else v.count(_._3).toDouble / v.length
    }
    Map(
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.wal_commit_s" -> dur("walCommit"),
      "streaming.commit_offsets_s" -> dur("commitOffsets"),
      "streaming.query_planning_s" -> dur("queryPlanning"),
      "streaming.batch.fs_read_ops" ->
        Stats.lowerMedian(spans.filter(_.name == "streaming.batch").map(_.fs.readOps.toDouble)),
      "streaming.batch.novel_ratio" -> Stats.lowerMedian(novel))
  }
}
