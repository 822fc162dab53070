package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** Per-layer measurement from outside the engine: a SparkListener for the
  * Spark runtime, Spark's CodegenMetrics, the JVM's MXBeans and named
  * wall-clock timers around calls into the engine's public functions. */
object Trace {

  /** Wall-clock timers by name (ns samples), kept in memory. */
  final class Timers {
    private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Long]]()
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try f finally add(name, System.nanoTime() - t0)
    }
    def add(name: String, ns: Long): Unit = synchronized {
      samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += ns
    }
    def medianS(name: String): Double = Stats.median(nsOf(name).map(_ / 1e9))
    def nsOf(name: String): Seq[Long] = synchronized(samples.get(name).map(_.toSeq).getOrElse(Nil))
  }

  /** Counters over every job, stage and task the listener sees, plus the
    * union of job spans (wall time with at least one job running). */
  final class SparkCounters extends SparkListener {
    @volatile var jobs, stages, tasks = 0L
    @volatile var execRunMs, execCpuNs, shuffleWrite, shuffleRead, spill, inputRows = 0L
    private val openJobs = mutable.Set[Int]()
    private var busySinceMs = 0L
    private var busyMs = 0L

    // spans use the events' own timestamps: the bus delivers them late
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      if (openJobs.isEmpty) busySinceMs = e.time
      openJobs += e.jobId
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (openJobs.remove(e.jobId) && openJobs.isEmpty)
        busyMs += e.time - busySinceMs
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        execRunMs += m.executorRunTime
        execCpuNs += m.executorCpuTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.diskBytesSpilled
        inputRows += m.inputMetrics.recordsRead
      }
    }
    /** Job-busy wall time; a job still open counts up to now. */
    def jobNs: Long = synchronized {
      (busyMs + (if (openJobs.nonEmpty) System.currentTimeMillis() - busySinceMs else 0L)) * 1000000L
    }
  }

  /** A point-in-time reading of every counter, for deltas over a phase. */
  final case class Snap(wallNs: Long, jobs: Long, stages: Long, tasks: Long,
                        jobNs: Long, execRunMs: Long, execCpuNs: Long,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long,
                        inputRows: Long, codegenCount: Long, codegenMs: Double)

  private val MB = 1024.0 * 1024.0

  /** Read every counter once the listener bus has delivered all events
    * posted so far. */
  def snap(sc: SparkContext, c: SparkCounters): Snap = {
    org.apache.spark.BenchAccess.drain(sc)
    val cg = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = cg.getCount
    Snap(System.nanoTime(), c.jobs, c.stages, c.tasks, c.jobNs, c.execRunMs,
      c.execCpuNs, c.shuffleWrite, c.shuffleRead, c.spill, c.inputRows,
      n, cg.getSnapshot.getMean * n)
  }

  /** The spark.* metrics over [a, b] per unit of work (`units` units ran
    * in between). `parallelism` is executor run time over job-busy time.
    * `codegen_s` is count × mean of Spark's compile-time histogram, whose
    * reservoir samples recent compilations. */
  def layerMetrics(a: Snap, b: Snap, units: Int): Seq[(String, Double)] = {
    val u = math.max(units, 1).toDouble
    val jobS = (b.jobNs - a.jobNs) / 1e9
    val runS = (b.execRunMs - a.execRunMs) / 1e3
    Seq(
      "spark.jobs" -> (b.jobs - a.jobs) / u,
      "spark.stages" -> (b.stages - a.stages) / u,
      "spark.tasks" -> (b.tasks - a.tasks) / u,
      "spark.job_s" -> jobS / u,
      "spark.driver_only_s" -> ((b.wallNs - a.wallNs) / 1e9 - jobS) / u,
      "spark.parallelism" -> (if (jobS > 0) runS / jobS else 0.0),
      "spark.exec_run_s" -> runS / u,
      "spark.exec_cpu_s" -> (b.execCpuNs - a.execCpuNs) / 1e9 / u,
      "spark.shuffle_write_mb" -> (b.shuffleWrite - a.shuffleWrite) / MB / u,
      "spark.shuffle_read_mb" -> (b.shuffleRead - a.shuffleRead) / MB / u,
      "spark.spill_mb" -> (b.spill - a.spill) / MB / u,
      "spark.input_rows" -> (b.inputRows - a.inputRows) / u,
      "spark.codegen_s" -> (b.codegenMs - a.codegenMs) / 1e3 / u,
      "spark.codegen_classes" -> (b.codegenCount - a.codegenCount) / u)
  }

  /** JIT compilation and GC time since the JVM started. */
  def jvmTotals: Seq[(String, Double)] =
    Seq("jvm.jit_s" -> jitMs / 1e3, "jvm.gc_s" -> gcMs / 1e3)

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** CPU time of the whole JVM process (all threads), in ns. */
  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap in use right after a full collection, in MB: what live objects
    * hold. */
  def liveHeapMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
  }

  /** Peak resident set size of this process so far, in MB (VmHWM). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def attach(sc: SparkContext): SparkCounters = {
    val c = new SparkCounters
    sc.addSparkListener(c)
    c
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Nearest-rank percentile (a measured sample, never interpolated). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
    }
}
