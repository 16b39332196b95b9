package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval at a layer boundary. Times are epoch milliseconds, the
  * clock Spark listener events carry, so client spans and job spans
  * nest on one axis. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder for the client thread. Spans are kept until
  * the run ends and written out then. Disabled, `span` only runs its
  * body, so untraced runs pay nothing.
  *
  * Each open span's id is published as a SparkContext local property;
  * Spark copies local properties into every job the thread (or a
  * streaming thread it starts) submits, which is how the job listener
  * finds a job's parent span. */
final class Spans(sc: SparkContext, val enabled: Boolean) {
  import Spans.ParentProp
  private val ids = new AtomicLong(0)
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private var open: List[Long] = Nil

  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.headOption.getOrElse(0L)
      open = id :: open
      sc.setLocalProperty(ParentProp, id.toString)
      val t0 = nowMs
      try body
      finally {
        recorded.add(Span(id, parent, layer, name, t0, nowMs))
        open = open.tail
        sc.setLocalProperty(ParentProp, open.headOption.map(_.toString).orNull)
      }
    }

  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) recorded.add(s)
  def all: Seq[Span] = recorded.asScala.toSeq.sortBy(_.startMs)
}

object Spans {
  val ParentProp = "perfbench.span"

  /** Self time per layer: a span's duration minus the part of it that
    * its children cover (overlapping children counted once). Returns
    * layer -> (total ms, self ms, span count). */
  def selfTime(spans: Seq[Span]): Seq[(String, Double, Double, Int)] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).toSeq.map { case (layer, ss) =>
      val self = ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0; var end = Double.NegativeInfinity
        iv.foreach { case (a, b) =>
          if (a >= end) { covered += b - a; end = b }
          else if (b > end) { covered += b - end; end = b }
        }
        s.durMs - covered
      }.sum
      (layer, ss.map(_.durMs).sum, self, ss.size)
    }.sortBy(-_._3)
  }
}

/** Observes Spark from outside through its public listener surfaces:
  * jobs/stages/tasks (SparkListener), planning time
  * (QueryExecutionListener), micro-batch progress
  * (StreamingQueryListener), plus JVM MXBeans. Registered only in a
  * traced section; `detach` unregisters all three. */
final class Probe(spark: SparkSession, spans: Spans) {
  val jobs, stages, tasks, cpuNs, runMs = new AtomicLong()
  val shuffleRead, shuffleWrite, spill = new AtomicLong()
  val planMs = new DoubleAdder()
  private val jobsEnded = new AtomicLong()
  private val lastEventNs = new AtomicLong(System.nanoTime())
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Double, String)]()

  /** Micro-batch progress, in arrival order. */
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private def touch(): Unit = lastEventNs.set(System.nanoTime())

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      touch(); jobs.incrementAndGet()
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty(Spans.ParentProp))).map(_.toLong).getOrElse(0L)
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(s"job ${e.jobId}")
      openJobs.put(e.jobId, (parent, e.time.toDouble, desc))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      touch(); jobsEnded.incrementAndGet()
      Option(openJobs.remove(e.jobId)).foreach { case (parent, t0, desc) =>
        spans.add(Span(spans.newId(), parent, "job", desc, t0, math.max(t0, e.time.toDouble)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      touch(); stages.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      touch(); tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        cpuNs.addAndGet(m.executorCpuTime)
        runMs.addAndGet(m.executorRunTime)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def plan(qe: QueryExecution): Unit = {
      touch()
      planMs.add(qe.tracker.phases.values.map(_.durationMs.toDouble).sum)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plan(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = touch()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      touch(); progress.add(e.progress)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = touch()
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum
  private var gc0 = 0L
  /** GC time and heap-pool peak over every attached interval. */
  var gcTotalMs = 0L
  var heapPeakMb = 0.0

  def attach(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    gc0 = gcMs
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every started job has ended and the listener buses have
    * been quiet for a moment (events arrive asynchronously), then
    * unregisters. */
  def detach(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (System.nanoTime() < deadline &&
        (jobsEnded.get < jobs.get || System.nanoTime() - lastEventNs.get < 300_000_000L))
      Thread.sleep(50)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    gcTotalMs += gcMs - gc0
    heapPeakMb = math.max(heapPeakMb, heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }
}

/** Named counters and timings collected by a workload, printed at the
  * end. Timings keep every sample so medians and tails can be taken. */
final class Ledger {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val values = mutable.LinkedHashMap[String, Double]()
  def sample(name: String, v: Double): Unit = samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  def set(name: String, v: Double): Unit = values(name) = v
  def get(name: String): Double = values.getOrElse(name, 0.0)
  def all(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); None with ten samples or fewer. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.length
    if (n <= 10) None
    else {
      val s = xs.sorted
      val p = math.floor(100.0 * (n - 10) / n).toInt
      val idx = math.max(0, math.ceil(p / 100.0 * n).toInt - 1)
      Some(p -> s(idx))
    }
  }

  /** Peak resident set size of this process (VmHWM), MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
