package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Engine counters summed over the jobs of one job group. */
final class Agg {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var resultBytes = 0L

  def copy(): Agg = minus(new Agg)

  def minus(o: Agg): Agg = {
    val r = new Agg
    r.jobs = jobs - o.jobs; r.tasks = tasks - o.tasks; r.runMs = runMs - o.runMs
    r.cpuNs = cpuNs - o.cpuNs; r.shuffleWrite = shuffleWrite - o.shuffleWrite
    r.spill = spill - o.spill; r.resultBytes = resultBytes - o.resultBytes
    r
  }
}

/** SparkListener that attributes jobs, and their stages' tasks, to the
  * job group set on the thread that launched them. Reads only the public
  * listener events and task metrics.
  */
final class Collector extends SparkListener {
  private val stageGroup = mutable.HashMap[Int, String]()
  private val jobGroup = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, Long]()
  private val intervals = mutable.HashMap[String, mutable.ArrayBuffer[(Long, Long)]]()
  private val aggs = mutable.HashMap[String, Agg]()
  private val endedGroups = mutable.HashSet[String]()

  private def agg(g: String): Agg = aggs.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
    agg(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, "")
    intervals.getOrElseUpdate(g, mutable.ArrayBuffer())
      .append((jobStart.getOrElse(e.jobId, e.time), e.time))
    endedGroups += g
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(stageGroup.getOrElse(e.stageId, ""))
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      a.resultBytes += m.resultSize
    }
  }

  def snapshot(g: String): Agg = synchronized(agg(g).copy())

  /** Job intervals (epoch ms) of group `g` that started at or after `from`. */
  def jobIntervals(g: String, from: Long): Seq[(Long, Long)] = synchronized {
    intervals.getOrElse(g, mutable.ArrayBuffer()).filter(_._1 >= from).toSeq
  }

  private var flushes = 0

  /** Wait until every event posted before now has reached this listener:
    * run a one-task marker job and wait for its end event, which the
    * listener bus delivers after all earlier events.
    */
  def flush(sc: SparkContext): Unit = {
    flushes += 1
    val g = s"perfbench-flush-$flushes"
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(g, "perfbench listener flush")
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      sc.setLocalProperty("spark.job.description", prevDesc)
    }
    val deadline = System.currentTimeMillis() + 30000
    while (!synchronized(endedGroups.contains(g))) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException("listener did not receive the flush job's end event")
      Thread.sleep(1)
    }
  }
}

/** The local file system with operation counters, registered for the
  * `file` scheme (`fs.file.impl`) in traced runs only. Reads are open,
  * listStatus and getFileStatus calls; writes are create, mkdirs, rename
  * and delete calls. The checksum side files are not counted.
  */
final class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import CountingLocalFileSystem._
  import org.apache.hadoop.fs.Path
  import org.apache.hadoop.fs.permission.FsPermission

  override def open(f: Path, bufferSize: Int) = { reads.incrementAndGet(); super.open(f, bufferSize) }
  override def listStatus(f: Path) = { reads.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path) = { reads.incrementAndGet(); super.getFileStatus(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: org.apache.hadoop.util.Progressable) = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission) = { writes.incrementAndGet(); super.mkdirs(f, permission) }
  override def rename(src: Path, dst: Path) = { writes.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean) = { writes.incrementAndGet(); super.delete(f, recursive) }
}

object CountingLocalFileSystem {
  val reads = new java.util.concurrent.atomic.AtomicLong
  val writes = new java.util.concurrent.atomic.AtomicLong
}

/** File-system counters: operation counts from [[CountingLocalFileSystem]],
  * bytes written from Hadoop's FileSystem statistics.
  */
object FsStats {
  final case class Snap(readOps: Long, writeOps: Long, bytesWritten: Long) {
    def minus(o: Snap): Snap =
      Snap(readOps - o.readOps, writeOps - o.writeOps, bytesWritten - o.bytesWritten)
  }

  @annotation.nowarn("cat=deprecation")
  def snap(): Snap = {
    val bw = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum
    Snap(CountingLocalFileSystem.reads.get, CountingLocalFileSystem.writes.get, bw)
  }
}

/** One traced call into the program. Times are seconds. */
final case class SpanRec(
    name: String,
    op: Int,
    wallS: Double,
    driverOnlyS: Double,
    agg: Agg,
    fs: FsStats.Snap,
    cores: Int) {
  def coreBusy: Double = if (wallS > 0) agg.runMs / 1000.0 / (wallS * cores) else 0.0

  def toJson: String =
    s"""{"span":"$name","op":$op,"wall_s":$wallS,"driver_only_s":$driverOnlyS,""" +
      s""""jobs":${agg.jobs},"tasks":${agg.tasks},"executor_run_s":${agg.runMs / 1000.0},""" +
      s""""executor_cpu_s":${agg.cpuNs / 1e9},"shuffle_write_bytes":${agg.shuffleWrite},""" +
      s""""spill_bytes":${agg.spill},"result_bytes":${agg.resultBytes},""" +
      s""""fs_read_ops":${fs.readOps},"fs_write_ops":${fs.writeOps},""" +
      s""""fs_bytes_written":${fs.bytesWritten}}"""
}

/** Span recorder. `Tracer.Off` runs the body untouched; an active tracer
  * puts each call in a job group of its own and keeps its spans in memory.
  */
sealed trait Tracer {
  def on: Boolean
  def span[T](name: String)(body: => T): T
  /** A span over jobs another thread runs under job group `group`. */
  def groupSpan[T](name: String, group: String)(body: => T): T
  def spans: Seq[SpanRec]
  def setOp(i: Int): Unit
}

object Tracer {
  object Off extends Tracer {
    def on = false
    def span[T](name: String)(body: => T): T = body
    def groupSpan[T](name: String, group: String)(body: => T): T = body
    def spans: Seq[SpanRec] = Nil
    def setOp(i: Int): Unit = ()
  }

  final class On(sc: SparkContext, collector: Collector, cores: Int) extends Tracer {
    def on = true
    private val buf = mutable.ArrayBuffer[SpanRec]()
    private var op = 0
    private var n = 0
    def setOp(i: Int): Unit = op = i
    def spans: Seq[SpanRec] = buf.toSeq

    def span[T](name: String)(body: => T): T = {
      n += 1
      val g = s"perfbench-$name-$n"
      sc.setJobGroup(g, name)
      try measure(name, g)(body)
      finally sc.clearJobGroup()
    }

    def groupSpan[T](name: String, group: String)(body: => T): T = measure(name, group)(body)

    private def measure[T](name: String, g: String)(body: => T): T = {
      val a0 = collector.snapshot(g)
      val fs0 = FsStats.snap()
      val e0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = body
      val wall = (System.nanoTime() - t0) / 1e9
      val e1 = System.currentTimeMillis()
      val fs1 = FsStats.snap()
      collector.flush(sc)
      val a1 = collector.snapshot(g)
      val busyMs = covered(collector.jobIntervals(g, e0).map { case (s, e) =>
        (math.max(s, e0), math.min(e, e1)) })
      val driverOnly = math.max(0.0, wall - busyMs / 1000.0)
      buf += SpanRec(name, op, wall, driverOnly, a1.minus(a0), fs1.minus(fs0), cores)
      out
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
