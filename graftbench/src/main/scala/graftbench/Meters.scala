package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark engine work, summed from listener events. Read it with [[snap]]
  * at phase boundaries; the difference of two snaps is the phase's work.
  */
final class SparkCounters extends SparkListener {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val execCpuNs = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val spillBytes = new AtomicLong
  private val inputBytes = new AtomicLong
  private val gcMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      execCpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      gcMs.addAndGet(m.jvmGCTime)
    }
    ()
  }

  def snap(sc: SparkContext): SparkWork = {
    org.apache.spark.graftbench.ListenerDrain.drain(sc)
    SparkWork(jobs.get, tasks.get, execCpuNs.get / 1e9, shuffleBytes.get,
      spillBytes.get, inputBytes.get, gcMs.get / 1e3)
  }
}

final case class SparkWork(
    jobs: Long, tasks: Long, executorCpuS: Double, shuffleBytes: Long,
    spillBytes: Long, inputBytes: Long, gcS: Double) {
  def -(o: SparkWork): SparkWork = SparkWork(jobs - o.jobs, tasks - o.tasks,
    executorCpuS - o.executorCpuS, shuffleBytes - o.shuffleBytes,
    spillBytes - o.spillBytes, inputBytes - o.inputBytes, gcS - o.gcS)

  /** Per-layer fields under `prefix` (e.g. "spark.timed"). */
  def fields(prefix: String): Seq[(String, Double)] = Seq(
    s"$prefix.jobs" -> jobs.toDouble, s"$prefix.tasks" -> tasks.toDouble,
    s"$prefix.executor_cpu_s" -> executorCpuS,
    s"$prefix.shuffle_bytes" -> shuffleBytes.toDouble,
    s"$prefix.spill_bytes" -> spillBytes.toDouble,
    s"$prefix.input_bytes" -> inputBytes.toDouble, s"$prefix.gc_s" -> gcS)
}

/** The JVM's own counters: process CPU and GC time. */
final case class JvmWork(cpuS: Double, gcS: Double) {
  def -(o: JvmWork): JvmWork = JvmWork(cpuS - o.cpuS, gcS - o.gcS)
}

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def snap(): JvmWork = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    JvmWork(os.getProcessCpuTime / 1e9, gcs.map(_.getCollectionTime.max(0L)).sum / 1e3)
  }

  /** Heap in use once collection has settled, in MiB. */
  def settledHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    var last = Double.MaxValue
    var i = 0
    var settled = false
    while (i < 6 && !settled) {
      System.gc()
      Thread.sleep(100)
      val used = mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
      settled = math.abs(last - used) < 1.0
      last = used
      i += 1
    }
    last
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The quantile, only when at least ten samples lie beyond it. */
  def tail(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.length * (1.0 - q) >= 10.0) Some(quantile(xs, q)) else None
}
