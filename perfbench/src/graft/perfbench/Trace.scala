package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one layer label over a run. */
final class LayerTotals {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var jobWaitMs = 0.0
  var waitedJobs = 0L
}

/** Benchmark-side listener. Each job is attributed to the label of the
  * timed call that submitted it: the call's job group when the job
  * carries one of ours, else the label of the serial call in flight (the
  * program sets job groups of its own on some helper threads).
  */
final class LayerListener extends SparkListener {
  private val totals = new ConcurrentHashMap[String, LayerTotals]()
  private val stageLabel = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile var serialLabel: String = null

  private def acc(label: String): LayerTotals = totals.computeIfAbsent(label, _ => new LayerTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val label = group.filter(_.startsWith(Tracer.GroupPrefix)).map(_.stripPrefix(Tracer.GroupPrefix))
      .orElse(Option(serialLabel))
    label.foreach { l =>
      val a = acc(l)
      a.synchronized { a.jobs += 1 }
      jobSubmitted.put(e.jobId, e.time)
      e.stageIds.foreach { s => stageLabel.put(s, l); stageJob.put(s, e.jobId) }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobSubmitted.remove(e.jobId)

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val label = stageLabel.get(e.stageId)
    if (label != null) {
      val job = stageJob.get(e.stageId)
      val submitted = jobSubmitted.remove(job)
      if (submitted != null) {
        val a = acc(label)
        a.synchronized {
          a.jobWaitMs += math.max(0L, e.taskInfo.launchTime - submitted)
          a.waitedJobs += 1
        }
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val label = stageLabel.get(e.stageId)
    val m = e.taskMetrics
    if (label != null && m != null) {
      val a = acc(label)
      a.synchronized {
        a.tasks += 1
        a.taskMs += m.executorRunTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
        a.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  /** Totals per label; call after [[org.apache.spark.perfbench.ListenerDrain]]. */
  def snapshot(): Map[String, LayerTotals] = {
    import scala.jdk.CollectionConverters._
    totals.asScala.toMap
  }
}

/** Times benchmark calls. Traced, every call runs under its own job group
  * and the listener attributes Spark work to it; untraced, no listener is
  * registered and no job group is set. A traced run switches tracing on and
  * off between blocks of work, which is how it measures its own overhead.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val listener = new LayerListener
  @volatile private var attached = false

  def setActive(on: Boolean): Unit = if (enabled && on != attached) {
    if (on) sc.addSparkListener(listener)
    else {
      // deliver the events of the calls traced so far before detaching
      org.apache.spark.perfbench.ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    attached = on
  }

  /** Runs `body` as call `label`; returns its result and wall nanos. */
  def call[A](label: String, serial: Boolean = true)(body: => A): (A, Long) = {
    val traced = attached
    if (traced) {
      sc.setJobGroup(Tracer.GroupPrefix + label, label, interruptOnCancel = false)
      if (serial) listener.serialLabel = label
    }
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, System.nanoTime() - t0)
    } finally if (traced) {
      sc.clearJobGroup()
      if (serial) listener.serialLabel = null
    }
  }

  def totals(): Map[String, LayerTotals] = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    listener.snapshot()
  }

  /** Scheduler and JVM metrics shared by the workloads, over `tracedNs`
    * of traced wall time.
    */
  def putShared(res: Result, tracedNs: Long, cores: Int, gcMs: Double, heapMb: Double): Unit = {
    val all = totals().values
    val waited = all.map(_.waitedJobs).sum
    res.put("spark.job_wait_ms", all.map(_.jobWaitMs).sum / waited.max(1L), "ms", waited)
    res.put("spark.task_busy_ratio", all.map(_.taskMs).sum / (tracedNs / 1e6 * cores), "ratio")
    res.put("jvm.gc_ms", gcMs, "ms")
    res.put("jvm.heap_peak_mb", heapMb, "MB")
  }
}

object Tracer {
  val GroupPrefix = "perfbench:"
}

/** JVM-wide GC time and a sampled heap peak over a measured window. */
final class JvmSampler {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val mem = ManagementFactory.getMemoryMXBean
  private def gcMs = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum
  private val gc0 = gcMs
  @volatile private var peak = 0L
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
      Thread.sleep(20)
    }
  }, "perfbench-heap-sampler")
  thread.setDaemon(true)
  thread.start()

  /** (gc ms, heap peak MB) since construction; stops the sampler. */
  def finish(): (Double, Double) = {
    running = false
    thread.join()
    ((gcMs - gc0).toDouble, peak / 1048576.0)
  }
}
