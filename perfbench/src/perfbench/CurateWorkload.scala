package perfbench

import graft.ops.{Bloom, BloomSketch, Curate, Sampling, TextOps}
import graft.sources.ShardExport
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

final case class CurateSize(nDocs: Long, nEval: Int, parts: Int)

/** Curation pipeline: curate -> Bloom sketch of the eval slice (build,
  * write, read) -> decontaminate -> per-source token budget -> shard
  * export and verification.
  */
final class CurateWorkload(spark: SparkSession, size: CurateSize, seed: Long, dir: String)
    extends Workload {
  val name = "curate"
  val minOps = 2
  /** Base sf0.1 documents: 3,006 of 5,000 docs survive Curate.curate. */
  val BaseKeepRatio = 3006.0 / 5000
  /** About four standard deviations of the binomial noise of a 4,000-doc
    * sample and of the 5,000-doc base together; a replica-style corpus
    * that the language filter drops keeps about a tenth of this rate.
    */
  val KeepTolerance = 0.05
  val Shards = 8
  private val ShingleN = 8

  private def docsPath(tag: String) = s"$dir/$tag/docs"
  private def evalPath(tag: String) = s"$dir/$tag/eval"
  private val planted: Set[Long] = Gen.contaminated(seed, size.nDocs)
  // eval shingles are at most (tokens - 7) per doc, 53 on average
  private val (numBits, numHashes) = Bloom.sizeFor(size.nEval * 60L, 1e-6)
  // about half of each source's curated tokens
  private val budget = (size.nDocs * BaseKeepRatio * 54.5 / 10 / 2).toLong

  private def write(tag: String, s: Long, n: Long): Unit = {
    Gen.docs(spark, s, n, size.nEval, size.parts).write.mode("overwrite").parquet(docsPath(tag))
    Gen.evalDocs(spark, s, size.nEval).write.mode("overwrite").parquet(evalPath(tag))
  }

  def prepare(rep: Int): Unit = write("main", seed, size.nDocs)

  /** Two untimed pipelines over the measured corpus. Pipeline time falls
    * steeply over the first three (seed 3: 7.58, 6.39, 5.29, then 5.42 and
    * 5.27 s after one untimed pipeline); two put the timed ones on the flat
    * part.
    */
  override def warm(): Seq[Check] = {
    (1 to 2).foreach(_ => pipeline("main", Tracer.Off))
    Nil
  }

  private final case class Run(nCur: Long, flagged: Set[Long], missed: Long, selected: Long,
      manifestRows: Long, manifestDigest: Long, bad: Long)

  private def pipeline(tag: String, tr: Tracer): Run = {
    val docs = spark.read.parquet(docsPath(tag))
    val cur = tr.span("ops.curate")(Curate.curate(docs, "doc_id", "text"))
    val nCur = cur.count()
    val skPath = s"$dir/$tag/sketch"
    val sketch = tr.span("ops.sketch_io") {
      val keys = spark.read.parquet(evalPath(tag))
        .select(explode(TextOps.wordShingles(col("text"), ShingleN)).as("key"))
      val built = BloomSketch.build(keys, "key", numBits, numHashes)
      BloomSketch.write(built, skPath)
      BloomSketch.read(spark, skPath)
    }
    val train = docs.join(cur, "doc_id")
    val (flags, probeBc) = tr.span("ops.decontaminate") {
      val (f, bc) = Curate.decontaminateBloomPrebuilt(train, "doc_id", "text", sketch, ShingleN)
      val p = f.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      (p, bc)
    }
    val flagged = flags.where(col("contaminated")).select("doc_id").collect().map(_.getLong(0)).toSet
    // planted docs that survived curation but were not flagged
    val missed = flags.where(!col("contaminated") && col("doc_id").isin(planted.toSeq: _*)).count()
    val clean = train.join(flags.where(!col("contaminated")).select("doc_id"), "doc_id")
    val sel = tr.span("ops.budget_select") {
      val s = Sampling.budgetSelect(clean, "source", "doc_id", col("quality"), col("n_tokens"),
        budget).persist(StorageLevel.MEMORY_AND_DISK)
      s.count()
      s
    }
    val selected = sel.count()
    val export = sel.select(col("key").as("doc_id"), col("n_tokens"))
      .join(docs.select("doc_id", "text"), "doc_id")
    val outPath = s"$dir/$tag/shards"
    val manifest = tr.span("sources.shard_write") {
      ShardExport.writeShards(export, outPath, "doc_id", Seq("text"), col("n_tokens"),
        Shards, "perfbench").collect()
    }
    val bad = tr.span("sources.shard_verify") {
      ShardExport.verifyExport(spark, outPath, "doc_id", Seq("text"), col("n_tokens")).count()
    }
    Seq(cur, flags, sel).foreach(_.unpersist())
    probeBc.destroy()
    Run(nCur, flagged, missed, selected, manifest.map(_.getAs[Long]("n_rows")).sum,
      manifest.map(_.getAs[Long]("digest")).foldLeft(0L)(_ ^ _), bad)
  }

  private val runs = mutable.ArrayBuffer[Run]()

  def op(i: Int, tr: Tracer): OpOut = {
    val t0 = System.nanoTime()
    val r = pipeline("main", tr)
    val wall = (System.nanoTime() - t0) / 1e9
    runs += r
    OpOut(size.nDocs.toDouble, wall,
      f"curated=${r.nCur} flagged=${r.flagged.size} selected=${r.selected} " +
        f"shards=${r.manifestDigest}%016x",
      Map("keep_ratio" -> r.nCur.toDouble / size.nDocs,
        "flag_ratio" -> r.flagged.size.toDouble / r.nCur))
  }

  def checks(outs: Seq[OpOut]): Seq[Check] = {
    val r = runs.head
    val keep = r.nCur.toDouble / size.nDocs
    val falseFlags = r.flagged.count(id => !planted.contains(id))
    val plantedFlagged = planted.count(r.flagged.contains)
    Seq(
      Check("verify_export_green", runs.forall(_.bad == 0),
        s"verifyExport mismatching shards ${runs.map(_.bad).mkString(",")}"),
      Check("keep_ratio", math.abs(keep - BaseKeepRatio) <= KeepTolerance,
        f"Curate.curate kept ${r.nCur} of ${size.nDocs} docs ($keep%.4f; base sf0.1 " +
          f"$BaseKeepRatio%.4f +- $KeepTolerance)"),
      Check("decontaminate", r.missed == 0 && plantedFlagged > 0 && falseFlags <= r.nCur / 1000,
        s"flagged ${r.flagged.size} curated docs: $plantedFlagged planted, $falseFlags not " +
          s"planted (at most ${r.nCur / 1000} allowed" +
          s"${r.flagged.filterNot(planted.contains).toSeq.sorted.take(5).mkString(": ", ",", "")}); " +
          s"${r.missed} planted curated docs missed"),
      Check("export_rows", runs.forall(x => x.manifestRows == x.selected),
        s"manifest rows ${r.manifestRows} vs budget-selected ${r.selected}"),
      Check("same_output_every_run", outs.map(_.digest).distinct.size == 1,
        s"output digest ${outs.head.digest}"))
  }

  val aliases = Seq("curate_docs_per_s" -> "rate_per_s")

  override def layerExtras(spans: Seq[SpanRec], outs: Seq[OpOut]): Map[String, Double] = Map(
    "ops.curate.keep_ratio" -> outs.head.info("keep_ratio"),
    "ops.curate.spill_bytes" ->
      Stats.lowerMedian(spans.filter(_.name == "ops.curate").map(_.agg.spill.toDouble)),
    "ops.decontaminate.flag_ratio" -> outs.head.info("flag_ratio"),
    "sources.shard_write.fs_bytes_written" ->
      Stats.lowerMedian(spans.filter(_.name == "sources.shard_write").map(_.fs.bytesWritten.toDouble)))
}
