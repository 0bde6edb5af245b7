package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-operation counters taken from outside the program: a SparkListener
  * (jobs, tasks, task busy time, shuffle and spill bytes), a
  * StreamingQueryListener (micro-batch durations, state rows), Spark's
  * codegen metrics, JVM management beans and the host's /proc/stat.
  *
  * The SparkListener is registered only when tracing; the streaming
  * listener is always on because the live workload continues its batch
  * ids after the history replay's last micro-batch. */
final class Probe(spark: SparkSession, val tracing: Boolean) {
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobs, tasks, busyMs, shuffleBytes, spillBytes = new AtomicLong
  private val progress = mutable.ArrayBuffer.empty[Map[String, Double]]

  if (tracing) spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.synchronized {
      jobs.incrementAndGet(); jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobStart.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        busyMs.addAndGet(m.executorRunTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      val rec = d ++ Map(
        "batch_id" -> p.batchId.toDouble,
        "input_rows" -> p.numInputRows.toDouble,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      progress.synchronized { progress += rec }
    }
  })

  /** Micro-batch records reported since the last call. */
  def takeProgress(): Seq[Map[String, Double]] = progress.synchronized {
    val out = progress.toList
    progress.clear()
    out
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean

  /** Host CPU steal in ms (USER_HZ = 100); 0 where /proc/stat is absent. */
  def stealMs(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toDouble * 10 else 0.0
      } finally src.close()
    } catch { case _: Exception => 0.0 }

  def cpuMs(): Double = os.getProcessCpuTime / 1e6

  private def counters(): Map[String, Double] = Map(
    "jvm.cpu_ms" -> cpuMs(),
    "jvm.gc_ms" -> gcs.map(_.getCollectionTime).sum.toDouble,
    "jvm.jit_ms" -> jit.getTotalCompilationTime.toDouble,
    "spark.jobs" -> jobs.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.task_busy_ms" -> busyMs.get.toDouble,
    "spark.shuffle_bytes" -> shuffleBytes.get.toDouble,
    "spark.spill_bytes" -> spillBytes.get.toDouble,
    "spark.codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "spark.codegen_ms" -> CodeGenerator.compileTime / 1e6,
    "host.steal_ms" -> stealMs())

  /** Wall time of `body` and, when tracing, the counter deltas it caused
    * plus its driver gap: the part of its wall time no Spark job covered. */
  def measure[T](body: => T): (T, Double, Map[String, Double]) = {
    val before = if (tracing) counters() else Map.empty[String, Double]
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body
    val wallMs = (System.nanoTime() - t0) / 1e6
    if (!tracing) return (out, wallMs, Map.empty)
    val endMs = System.currentTimeMillis()
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val after = counters()
    val spans = jobStart.synchronized {
      val s = jobSpans.toList; jobSpans.clear(); s
    }
    val covered = union(spans.map { case (a, b) =>
      (math.max(a, startMs), math.min(b, endMs)) }.filter(s => s._2 > s._1))
    val delta = after.map { case (k, v) => k -> (v - before(k)) }
    (out, wallMs, delta + ("spark.driver_gap_ms" -> math.max(0.0, wallMs - covered)))
  }

  private def union(spans: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = -1L; var curE = -1L
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    (total + curE - curS).toDouble
  }

  /** Other JVMs alive on the host: they contend for the same cores. */
  def foreignJvms(): Seq[Long] = {
    val family = mutable.Set.empty[Long]
    var cur = Option(ProcessHandle.current())
    while (cur.isDefined) {
      family += cur.get.pid
      cur = if (cur.get.parent().isPresent) Some(cur.get.parent().get) else None
    }
    ProcessHandle.allProcesses().iterator().asScala.filter { p =>
      val cmd = p.info().command().orElse("")
      !family.contains(p.pid) && (cmd.endsWith("/java") || cmd == "java")
    }.map(_.pid).toList
  }
}
