package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A named metric value with its unit. */
final case class Metric(value: Double, unit: String)

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the value
    * at sorted index n-11, reported with its percentile. None below 11
    * samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.length < 11) None
    else {
      val s = xs.sorted
      val i = s.length - 11
      Some((s(i), 100.0 * (i + 1) / s.length))
    }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, secondsSince(t0))
  }
}

/** Engine-side task accounting for traced operations. The listener is
  * registered once; `on` gates which tasks are counted, so traced and
  * untraced operations can alternate in one session.
  */
final class EngineListener extends SparkListener {
  @volatile var on = false
  val runMs, cpuNs, shuffleRead, shuffleWrite, spill, tasks, jobs = new AtomicLong
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
    val m = e.taskMetrics
    runMs.addAndGet(m.executorRunTime)
    cpuNs.addAndGet(m.executorCpuTime)
    shuffleRead.addAndGet(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
    shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    tasks.incrementAndGet()
    stageTasks.synchronized {
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }

  /** Task-time-weighted mean over stages (with at least two tasks) of the
    * stage's max / median task duration; 1.0 means perfectly even tasks.
    */
  def taskSkew: Double = stageTasks.synchronized {
    val per = stageTasks.values.filter(_.length >= 2).map { ds =>
      val med = math.max(1.0, Stats.median(ds.map(_.toDouble).toSeq))
      (ds.max / med, ds.sum.toDouble)
    }
    val w = per.map(_._2).sum
    if (w <= 0) 1.0 else per.map { case (r, t) => r * t }.sum / w
  }
}

/** Per-micro-batch progress of the streaming landing (kg_update). */
final class StreamListener extends StreamingQueryListener {
  val batches = new AtomicLong
  private val durations = new AtomicReference(Map.empty[String, Long])

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      batches.incrementAndGet()
      val d = p.durationMs
      durations.getAndUpdate { m =>
        Seq("addBatch", "walCommit", "queryPlanning").foldLeft(m) { (acc, k) =>
          val v: Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
          acc.updated(k, acc.getOrElse(k, 0L) + v)
        }
      }
    }
  }

  def totalMs(k: String): Long = durations.get.getOrElse(k, 0L)
}

/** Live-heap sampling: `sample()` runs a full collection and records the
  * heap still in use, so the figure tracks what the program keeps alive
  * rather than when the collector last ran. The second collection comes
  * after Spark's context cleaner has dropped the blocks whose handles the
  * first one freed.
  */
final class HeapWatch {
  private var peak = 0L

  def sample(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)

  /** Total collection time of the JVM so far, in seconds. */
  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
  }
}
