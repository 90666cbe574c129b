package perfbench

import org.apache.spark.sql.SparkSession

/** Result of one timed operation. `units` of work were done in `unitsWallS`
  * seconds of the operation's wall time (the part the headline rate covers).
  */
final case class OpOut(units: Double, unitsWallS: Double, digest: String,
    info: Map[String, Double] = Map.empty)

/** An output check: a failed check fails the command. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A human-readable end-to-end figure, printed with its unit. */
final case class Figure(name: String, value: Double, unit: String, note: String = "")

trait Workload {
  def name: String
  /** Fewest ops the timed phase runs, however long they take. */
  def minOps: Int
  /** Times the inputs are prepared in set-up; setup_s takes the median. */
  def setupReps: Int = 3

  /** Generate the inputs into the work directory (repeated; the last
    * repetition's inputs are the ones measured).
    */
  def prepare(rep: Int): Unit
  /** JIT and code-cache warm-up, after the inputs exist; may run checks. */
  def warm(): Seq[Check] = Nil
  /** Called once before the first timed op (after warm-up). */
  def start(): Unit = ()
  def op(i: Int, tr: Tracer): OpOut
  /** Called after every op, outside its timing. */
  def afterOp(spark: SparkSession): Unit = spark.catalog.clearCache()
  /** Output checks over the timed ops, run after timing. */
  def checks(outs: Seq[OpOut]): Seq[Check]
  /** The workload's own names for end-to-end metrics, printed beside
    * them: (name, BENCHMARK.json metric).
    */
  def aliases: Seq[(String, String)]
  /** Figures beyond the end-to-end metrics, printed with their units. */
  def figures(outs: Seq[OpOut]): Seq[Figure] = Nil
  /** Per-layer metrics beyond the span counters (traced run only). */
  def layerExtras(spans: Seq[SpanRec], outs: Seq[OpOut]): Map[String, Double] = Map.empty
  def stop(): Unit = ()
}
