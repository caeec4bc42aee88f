package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchAccess, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark work counted by a listener: jobs started, tasks finished, and
  * what those tasks read, wrote to shuffle, and spent running. */
final case class Counts(jobs: Long, tasks: Long, bytesRead: Long, shuffleBytes: Long, taskRunMs: Long) {
  def -(o: Counts): Counts =
    Counts(jobs - o.jobs, tasks - o.tasks, bytesRead - o.bytesRead, shuffleBytes - o.shuffleBytes,
      taskRunMs - o.taskRunMs)
  def +(o: Counts): Counts =
    Counts(jobs + o.jobs, tasks + o.tasks, bytesRead + o.bytesRead, shuffleBytes + o.shuffleBytes,
      taskRunMs + o.taskRunMs)
}
object Counts { val zero: Counts = Counts(0, 0, 0, 0, 0) }

final class CountingListener extends SparkListener {
  private val jobs, tasks, bytesRead, shuffleBytes, taskRunMs = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      bytesRead.addAndGet(m.inputMetrics.bytesRead)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      taskRunMs.addAndGet(m.executorRunTime)
    }
  }
  def snapshot: Counts = Counts(jobs.get, tasks.get, bytesRead.get, shuffleBytes.get, taskRunMs.get)
}

/** A finished span. `batch` ties together the spans of one merge batch
  * (or one query); `counts` is the Spark work done inside the span,
  * children included. */
final case class Span(
    id: Int, parent: Int, name: String, batch: String, pass: Int,
    startNs: Long, endNs: Long, counts: Counts) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the traced run. Spans are opened and closed by the
  * benchmark around its calls into the program, kept in memory, and
  * written out once at the end. When disabled, [[span]] only runs the
  * body, so untraced runs carry no listener and no bookkeeping. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val listener = new CountingListener
  if (enabled) sc.addSparkListener(listener)
  private val done  = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next  = 0
  var pass = 0

  /** Nanoseconds spent waiting for listener events at span boundaries:
    * the part of the tracing overhead the tracer can see directly. */
  var drainNs = 0L

  /** Every counter update for work that has finished so far. */
  def counts: Counts = {
    val t0 = System.nanoTime()
    PerfbenchAccess.drainListenerBus(sc)
    val c = listener.snapshot
    drainNs += System.nanoTime() - t0
    c
  }

  def span[T](name: String, batch: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = next; next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val c0 = counts
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val c1 = counts
        stack = stack.tail
        done += Span(id, parent, name, batch, pass, t0, t1, c1 - c0)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Span duration minus the part covered by its direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - done.iterator.filter(_.parent == s.id).map(_.seconds).sum
}

/** JVM-wide figures read from the platform MXBeans. */
object Jvm {
  private def gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)

  def gcMillis: Long = gcs.map(g => math.max(0L, g.getCollectionTime)).sum
  def resetPeakHeap(): Unit = heapPools.foreach(_.resetPeakUsage())
  def peakHeapBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum
  def startMillis: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
