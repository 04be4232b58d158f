package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters summed over every finished task and job. */
final case class Counters(
    executorRunMs: Long = 0, executorCpuNs: Long = 0, gcMs: Long = 0,
    bytesRead: Long = 0, recordsRead: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    fetchWaitMs: Long = 0, spillBytes: Long = 0,
    jobs: Long = 0, tasks: Long = 0, jobBusyMs: Long = 0) {

  def -(o: Counters): Counters = Counters(
    executorRunMs - o.executorRunMs, executorCpuNs - o.executorCpuNs,
    gcMs - o.gcMs, bytesRead - o.bytesRead, recordsRead - o.recordsRead,
    shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleReadBytes - o.shuffleReadBytes, fetchWaitMs - o.fetchWaitMs,
    spillBytes - o.spillBytes, jobs - o.jobs, tasks - o.tasks,
    jobBusyMs - o.jobBusyMs)

  /** Layer-named values in seconds, bytes and counts. */
  def metrics: Seq[(String, Double)] = Seq(
    "scan.bytes_read" -> bytesRead.toDouble,
    "scan.records_read" -> recordsRead.toDouble,
    "exchange.shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "exchange.shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "exchange.fetch_wait_s" -> fetchWaitMs / 1e3,
    "operators.spill_bytes" -> spillBytes.toDouble,
    "engine.executor_run_s" -> executorRunMs / 1e3,
    "engine.cpu_s" -> executorCpuNs / 1e9,
    "engine.gc_s" -> gcMs / 1e3,
    "engine.jobs" -> jobs.toDouble,
    "engine.tasks" -> tasks.toDouble,
    "engine.job_busy_s" -> jobBusyMs / 1e3)
}

/** The benchmark's own listener: task metrics and the time during which
  * at least one job was running (what is left of a pass is driver time). */
final class EngineListener(sc: SparkContext) extends SparkListener {
  private var c = Counters()
  private var running = 0
  private var busySince = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1) else c.copy(
      executorRunMs = c.executorRunMs + m.executorRunTime,
      executorCpuNs = c.executorCpuNs + m.executorCpuTime,
      gcMs = c.gcMs + m.jvmGCTime,
      bytesRead = c.bytesRead + m.inputMetrics.bytesRead,
      recordsRead = c.recordsRead + m.inputMetrics.recordsRead,
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      fetchWaitMs = c.fetchWaitMs + m.shuffleReadMetrics.fetchWaitTime,
      spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
      tasks = c.tasks + 1)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (running == 0) busySince = e.time
    running += 1
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running -= 1
    if (running == 0) c = c.copy(jobBusyMs = c.jobBusyMs + (e.time - busySince))
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(): Counters = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized(c)
  }
}

object Engine {
  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  /** Bytes and files under `root`, recursively. */
  def du(root: java.io.File): (Long, Long) =
    if (!root.exists()) (0L, 0L)
    else if (root.isFile) (root.length(), 1L)
    else Option(root.listFiles()).toSeq.flatten.map(du)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
}
