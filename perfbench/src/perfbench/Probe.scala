package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Sums of Spark task metrics over some set of tasks. */
final class TaskSums {
  val tasks = new AtomicLong
  val runNs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val inputBytes = new AtomicLong
  val inputRecords = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val shuffleWriteRecords = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val fetchWaitMs = new AtomicLong
  val spillBytes = new AtomicLong

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks.incrementAndGet()
    runNs.addAndGet(m.executorRunTime * 1000000L)
    cpuNs.addAndGet(m.executorCpuTime)
    gcMs.addAndGet(m.jvmGCTime)
    inputBytes.addAndGet(m.inputMetrics.bytesRead)
    inputRecords.addAndGet(m.inputMetrics.recordsRead)
    shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    shuffleWriteRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
    shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
    spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def snapshot: Map[String, Double] = Map(
    "tasks" -> tasks.get.toDouble,
    "run_s" -> runNs.get / 1e9,
    "cpu_s" -> cpuNs.get / 1e9,
    "gc_s" -> gcMs.get / 1e3,
    "input_mb" -> inputBytes.get / 1e6,
    "input_records" -> inputRecords.get.toDouble,
    "shuffle_write_mb" -> shuffleWriteBytes.get / 1e6,
    "shuffle_records" -> shuffleWriteRecords.get.toDouble,
    "shuffle_read_mb" -> shuffleReadBytes.get / 1e6,
    "fetch_wait_s" -> fetchWaitMs.get / 1e3,
    "spill_mb" -> spillBytes.get / 1e6)
}

/** One timed region of the traced run. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, var endNs: Long = -1L)

/** SparkListener of the benchmark: totals for every task, and — while
  * tracing — per-stage sums attributed to the span that was active when
  * the stage's job started (the span id travels in a job local property).
  */
final class Probe(sc: SparkContext) extends SparkListener {
  val total = new TaskSums
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val stageSums = new ConcurrentHashMap[Int, TaskSums]()
  val stageSpan = new ConcurrentHashMap[Int, Int]()
  val stageName = new ConcurrentHashMap[Int, String]()
  val spanSums = new ConcurrentHashMap[Int, TaskSums]()
  val jobEndNs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    e.stageInfos.foreach { s =>
      stageSpan.putIfAbsent(s.stageId, span)
      stageName.putIfAbsent(s.stageId, s.name)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEndNs.set(System.nanoTime())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    total.add(m)
    stageSums.computeIfAbsent(e.stageId, _ => new TaskSums).add(m)
    val span = stageSpan.getOrDefault(e.stageId, -1)
    if (span >= 0) spanSums.computeIfAbsent(span, _ => new TaskSums).add(m)
  }

  /** Block until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)

  // ------------------------------------------------------------- spans

  private val spans = scala.collection.mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  var runId: String = "untraced"

  /** Spans are recorded only while tracing; otherwise they run the body. */
  var tracing: Boolean = false

  /** Run `body` inside a span; jobs it starts are attributed to it. */
  def span[T](name: String)(body: => T): T =
    if (tracing) spanWithId(name)(body)._1 else body

  /** [[span]], also returning the span's id (-1 when not tracing). */
  def spanWithId[T](name: String)(body: => T): (T, Int) = {
    if (!tracing) return (body, -1)
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), runId,
      System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(Probe.SpanKey, s.id.toString)
    try (body, s.id)
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Probe.SpanKey, open.headOption.map(_.id.toString).orNull)
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Task sums of a span and all spans nested in it. */
  def sumsUnder(root: Int): Map[String, Double] = {
    drain()
    val ids = {
      var acc = Set(root)
      var grew = true
      while (grew) {
        val more = spans.filter(s => acc.contains(s.parent)).map(_.id).toSet -- acc
        grew = more.nonEmpty
        acc ++= more
      }
      acc
    }
    val keys = new TaskSums().snapshot.keys
    val parts = ids.toSeq.flatMap(i => Option(spanSums.get(i))).map(_.snapshot)
    keys.map(k => k -> parts.map(_(k)).sum).toMap
  }
}

object Probe {
  val SpanKey = "perfbench.span"
}

/** Process-level readings: CPU time, heap occupancy after each GC, and
  * bytes read.
  */
object Process {
  /** CPU time of the calling (driver) thread. A run's CPU is this plus
    * its tasks' executor CPU: the JIT compiler's and the collector's
    * threads are left out, as their work is warm-up and GC, not the run's.
    */
  def threadCpuNs: Long = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  private val peakAfterGc = new AtomicLong
  private val gcs = new AtomicLong
  private val installed = new AtomicReference[Boolean](false)

  /** Listen for GC notifications; each reports the heap used after it. */
  def installGcWatch(): Unit = if (installed.compareAndSet(false, true)) {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      override def handleNotification(n: Notification, hb: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools.contains(pool) => u.getUsed }.sum
          gcs.incrementAndGet()
          peakAfterGc.accumulateAndGet(used, math.max)
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** Collect the heap, wait until the collection has been reported, then
    * start a new peak.
    */
  def collectAndResetPeak(): Unit = {
    val before = gcs.get
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (gcs.get == before && System.nanoTime() < deadline) Thread.sleep(1)
    peakAfterGc.set(0L)
    gcs.set(0L)
  }

  /** Largest heap occupancy after a GC since [[collectAndResetPeak]]; the
    * current occupancy when no collection ran.
    */
  def peakHeapBytes: Long = {
    val p = peakAfterGc.get
    if (gcs.get > 0 && p > 0) p
    else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Bytes the process has read so far: `rchar` of `/proc/self/io` (every
    * read system call, so also the vectored parquet reads that bypass
    * Hadoop's and Spark's input counters), or Hadoop's `file:` statistics
    * where that file does not exist.
    */
  def bytesRead: Long = try {
    val src = scala.io.Source.fromFile("/proc/self/io")
    try src.getLines().collectFirst { case l if l.startsWith("rchar:") =>
      l.stripPrefix("rchar:").trim.toLong }.get
    finally src.close()
  } catch {
    case _: Exception =>
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
        .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }
}
