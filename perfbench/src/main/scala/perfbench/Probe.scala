package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark-side counters at one instant; `-` gives the work done between two. */
final case class Counters(jobs: Long, tasks: Long, taskNs: Long, shuffleBytes: Long,
                          spillBytes: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    taskNs - o.taskNs, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
    taskNs + o.taskNs, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
  def taskS: Double = taskNs / 1e9
  def shuffleMb: Double = shuffleBytes / 1e6
  def spillMb: Double = spillBytes / 1e6
}

/** One timed call into a layer: seconds since the run started, and the
  * enclosing span on the same thread (-1 at the top).
  */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)

/** The traced run's eyes: a span around each call the benchmark makes into
  * a layer, and a benchmark-owned `SparkListener` counting jobs, tasks,
  * task time, shuffle writes and spills. Reads go through the listener-bus
  * drain, so a snapshot taken right after an action already holds every
  * event that action posted. With tracing off no listener is registered,
  * no span is kept and every snapshot is zero.
  */
final class Probe(spark: SparkSession, val traced: Boolean) {
  private val origin = System.nanoTime()
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)

  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val taskNs = new AtomicLong
  private val shuffle = new AtomicLong
  private val spill = new AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskNs.addAndGet(m.executorRunTime * 1000000L)
        shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
  }
  if (traced) spark.sparkContext.addSparkListener(listener)

  val cores: Int = spark.sparkContext.defaultParallelism

  def snap(): Counters = {
    if (traced) org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
    Counters(jobs.get, tasks.get, taskNs.get, shuffle.get, spill.get)
  }

  /** Run `f` as span `name`, returning its value, its wall seconds and the
    * Spark work it caused.
    */
  def measure[A](name: String)(f: => A): (A, Double, Counters) = {
    val id = spans.synchronized { spans += null; spans.size - 1 }
    val parent = open.get.headOption.getOrElse(-1)
    open.set(id :: open.get)
    val before = snap()
    val t0 = System.nanoTime()
    val a = try f finally open.set(open.get.tail)
    val t1 = System.nanoTime()
    val work = snap() - before
    if (traced) spans.synchronized {
      spans(id) = Span(id, parent, name, (t0 - origin) / 1e9, (t1 - origin) / 1e9) }
    (a, (t1 - t0) / 1e9, work)
  }

  def spanList: Seq[Span] = spans.synchronized(spans.filter(_ != null).toSeq)

  /** Per span name: total seconds, and self seconds (minus direct children). */
  def spanTotals: Map[String, (Double, Double)] = {
    val all = spanList
    val childS = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.map(s => s.end - s.start).sum, ss.map(s => s.end - s.start - childS.getOrElse(s.id, 0.0)).sum)
    }
  }

  def busyShare(c: Counters, wall: Double): Double =
    if (wall <= 0) 0.0 else c.taskS / (wall * cores)

  def close(): Unit = if (traced) spark.sparkContext.removeSparkListener(listener)
}

object Jvm {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6

  /** 1-minute load average (load on a shared host skews cross-run comparisons). */
  def loadAvg1(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}

/** Per-layer accumulator for the traced run: each metric collects one
  * value per timed iteration and reports the median.
  */
final class Layers {
  private val values = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]

  def add(name: String, v: Double): Unit =
    values.update(name, values.getOrElse(name, Vector.empty) :+ v)

  /** Record the Spark work of one layer call under `prefix`. */
  def addWork(prefix: String, wall: Double, c: Counters, probe: Probe): Unit = {
    add(s"${prefix}jobs", c.jobs.toDouble)
    add(s"${prefix}tasks", c.tasks.toDouble)
    add(s"${prefix}task_s", c.taskS)
    add(s"${prefix}shuffle_mb", c.shuffleMb)
    add(s"${prefix}busy_share", probe.busyShare(c, wall))
  }

  def medians: Map[String, Double] = values.map { case (k, v) => k -> Stats.median(v) }.toMap
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
