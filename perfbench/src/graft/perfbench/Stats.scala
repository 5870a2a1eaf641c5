package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are `System.nanoTime` values; `parent` is
  * the id of the enclosing span (0 = root). */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder shared by every thread of the run. Spans stay
  * in memory until the run writes them out at its end. Disabled, `span`
  * only runs its body. */
object Tracer {
  @volatile var enabled = false
  val runId: String = java.util.UUID.randomUUID().toString
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  /** Parent for spans recorded off the traced thread (listener events). */
  @volatile var ambientParent = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      val parent = parents.headOption.getOrElse(ambientParent)
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  /** Records an already-finished interval (e.g. from a listener event). */
  def record(name: String, startNs: Long, endNs: Long, parent: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, name, startNs, endNs))

  private val nanoMinusWallNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** The `System.nanoTime` reading at a wall-clock millisecond: listener
    * events carry wall-clock times and arrive late on their bus. */
  def nanosAt(epochMs: Long): Long = epochMs * 1000000L + nanoMinusWallNs

  /** Id the next `span` opened on this thread will get as its parent. */
  def current: Long = stack.get.headOption.getOrElse(ambientParent)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer: each span's duration minus the part of its
    * interval that its child spans cover. */
  def selfSecondsByLayer: Map[String, Double] = {
    val ss = all
    val children = ss.filter(_.parent != 0).groupBy(_.parent)
    def self(s: Span): Long =
      s.durNs - Stat.covered(children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)),
        s.startNs, s.endNs)
    ss.groupBy(_.layer).map { case (layer, xs) => layer -> xs.map(self).sum / 1e9 }
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark scheduler counters, attached only for traced passes. */
final class SparkStats extends SparkListener {
  val jobsStarted = new AtomicLong
  val jobsEnded = new AtomicLong
  val stages = new AtomicLong
  val tasksStarted = new AtomicLong
  val tasksEnded = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val schedulerDelayMs = new AtomicLong
  /** (submission, completion) wall-clock millis of every finished stage. */
  val stageIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  /** job id -> (start, parent span) of running jobs */
  private val running = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    running.put(e.jobId, (Tracer.nanosAt(e.time), Tracer.ambientParent))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(running.remove(e.jobId)).foreach { case (t0, parent) =>
      Tracer.record("spark.job", t0, Tracer.nanosAt(e.time), parent)
    }
    jobsEnded.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val info = e.stageInfo
    for (s <- info.submissionTime; c <- info.completionTime) stageIntervals.add((s, c))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = tasksStarted.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasksEnded.incrementAndGet()
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      // Spark UI's definition: wall of the task minus the parts the
      // executor accounts for
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val delay = (info.finishTime - info.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult
      schedulerDelayMs.addAndGet(math.max(0L, delay))
    }
  }

  /** Waits (bounded) until every started job and task has been seen ending:
    * the listener bus is asynchronous. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while ((jobsEnded.get < jobsStarted.get || tasksEnded.get < tasksStarted.get) &&
        System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(50)
  }

  /** Seconds of [fromMs, toMs] during which no stage was active. */
  def idleSeconds(fromMs: Long, toMs: Long): Double =
    math.max(0L, (toMs - fromMs) - Stat.covered(stageIntervals.asScala.toSeq, fromMs, toMs)) / 1000.0
}

/** Micro-batch progress of streaming queries, attached only for traced passes. */
final class StreamStats extends StreamingQueryListener {
  val batchMs = new ConcurrentLinkedQueue[java.lang.Long]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.sources.exists(_.description.contains("Alpaca"))) {
      val ms = e.progress.batchDuration
      batchMs.add(ms)
      val start = Tracer.nanosAt(java.time.Instant.parse(e.progress.timestamp).toEpochMilli)
      Tracer.record("AlpacaMicroBatch.batch", start, start + ms * 1000000L, Tracer.ambientParent)
    }
}

/** Heap still in use right after each garbage collection, the peak over
  * a window: live data plus what the collector chose to keep, without
  * the garbage that fills the heap between collections. */
object HeapWatch {
  private val samples = scala.collection.mutable.ArrayBuffer[Long]()

  ManagementFactory.getGarbageCollectorMXBeans.forEach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.iterator
            .collect { case (pool, u) if heapPools.contains(pool) => u.getUsed }.sum
          synchronized { samples += after }
        }, null, null)
    case _ => ()
  }

  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def reset(): Unit = synchronized { samples.clear() }
  def samplesMb: Seq[Double] = synchronized(samples.map(_ / 1048576.0).toSeq)
  def peakMb: Double = samplesMb.maxOption.getOrElse(0.0)
}

object Stat {
  /** Length of the union of intervals, clipped to [from, to]. */
  def covered(ivs: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var end = from
    ivs.map { case (a, b) => (math.max(a, from), math.min(b, to)) }.sortBy(_._1).foreach {
      case (a, b) =>
        val start = math.max(a, end)
        if (b > start) { total += b - start; end = b }
    }
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  /** Highest percentile of the ladder with at least `beyond` samples
    * above it. */
  def tailPercentile(n: Int, beyond: Int = 10): Double =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => n * (1 - p / 100.0) >= beyond).getOrElse(50.0)
}
