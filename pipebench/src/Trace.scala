package pipebench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.PipebenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spans around the benchmark's calls into the library. Off (the
  * end-to-end runs) it only evaluates the body. On, each span records
  * name, start, end, parent and trace id, tags the Spark jobs it launches
  * with its name (a local property the [[EngineCounters]] read), and
  * [[materialize]] forces a layer's output inside its own span so the next
  * layer does not bill that work. */
final class Tracer(var enabled: Boolean, spark: SparkSession) {
  import Tracer._

  private val done = ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private var nextId = 0
  private var traceId = ""
  private var traceKind = ""

  /** A root span: one pass, ingest op or search op. */
  def trace[T](kind: String, id: String)(body: => T): T = {
    traceKind = kind
    traceId = id
    span(kind)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      nextId += 1
      val s = Span(nextId, name, open.headOption.map(_.id).getOrElse(0), traceId,
        traceKind, System.nanoTime(), 0L)
      val outer = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, name)
      open = s :: open
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Prop, outer)
        done += s
      }
    }

  def materialize(df: DataFrame): DataFrame =
    if (enabled) df.localCheckpoint(eager = true) else df

  /** Per trace of `kind`: self seconds (span minus its children) summed by
    * span name, then the median over those traces, per name. */
  def selfSeconds(kind: String): Map[String, Double] = {
    val children = done.groupBy(_.parent)
    val perTrace = done.filter(_.kind == kind).groupBy(_.traceId).values.map { spans =>
      spans.groupBy(_.name).map { case (name, ss) =>
        name -> ss.map(s => s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum).sum
      }
    }.toSeq
    if (perTrace.isEmpty) Map.empty
    else perTrace.flatMap(_.keys).distinct.map { n =>
      n -> Stats.median(perTrace.map(_.getOrElse(n, 0.0)))
    }.toMap
  }

  def spans: Seq[Span] = done.toSeq
}

object Tracer {
  /** Local property carrying the open span's name onto every job it starts. */
  val Prop = "pipebench.span"

  final case class Span(id: Int, name: String, parent: Int, traceId: String,
      kind: String, start: Long, var end: Long) {
    def seconds: Double = (end - start) / 1e9
  }
}

/** Scheduler and task counters from a session listener, accumulated only
  * inside [[on]]/[[off]] windows (each window drains the listener bus at
  * both edges, so no pass leaks into a check or the next pass). */
final class EngineCounters(spark: SparkSession) extends SparkListener {
  @volatile private var active = false
  private val sum = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val stageSubmit = mutable.Map[Int, Long]()
  private val stageTasks = mutable.Map[Int, ArrayBuffer[Long]]()
  private val stageSpan = mutable.Map[Int, String]()
  private var windowStages = ArrayBuffer[(Int, Long)]()
  private val skews = ArrayBuffer[Double]()
  private val bySpan = mutable.Map[String, mutable.Map[String, Double]]()
  private var wallNs = 0L
  private var openedNs = 0L

  spark.sparkContext.addSparkListener(this)

  def on(): Unit = {
    PipebenchBus.drain(spark.sparkContext)
    synchronized { windowStages = ArrayBuffer() }
    active = true
    openedNs = System.nanoTime()
  }

  def off(): Unit = {
    val wall = System.nanoTime() - openedNs
    PipebenchBus.drain(spark.sparkContext)
    active = false
    synchronized {
      wallNs += wall
      if (windowStages.nonEmpty) {
        val (longest, _) = windowStages.maxBy(_._2)
        val ds = stageTasks.getOrElse(longest, ArrayBuffer()).map(_.toDouble).toSeq
        if (ds.nonEmpty) skews += ds.max / math.max(1.0, Stats.median(ds))
      }
    }
  }

  private def add(span: Option[String], k: String, v: Double): Unit = {
    sum(k) += v
    span.foreach(s => bySpan.getOrElseUpdate(s, mutable.Map[String, Double]().withDefaultValue(0.0))(k) += v)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
    span.foreach(s => e.stageIds.foreach(stageSpan(_) = s))
    add(span, "jobs", 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (active) synchronized {
    stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) synchronized {
    val i = e.stageInfo
    add(stageSpan.get(i.stageId), "stages", 1)
    for (s <- i.submissionTime; c <- i.completionTime) windowStages += ((i.stageId, c - s))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) synchronized {
    val span = stageSpan.get(e.stageId)
    add(span, "tasks", 1)
    val info = e.taskInfo
    stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer()) += info.duration
    stageSubmit.get(e.stageId).foreach(s => add(span, "task_wait_ms", math.max(0L, info.launchTime - s)))
    val m = e.taskMetrics
    if (m != null) {
      add(span, "busy_ms", m.executorRunTime)
      add(span, "cpu_ns", m.executorCpuTime)
      add(span, "gc_ms", m.jvmGCTime)
      add(span, "shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      add(span, "shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      add(span, "spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** The spark.* per-layer metrics, per window (pass) on average. */
  def metrics(windows: Int, cores: Int): Map[String, Double] = synchronized {
    val n = math.max(1, windows).toDouble
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> sum("jobs") / n,
      "spark.stages" -> sum("stages") / n,
      "spark.tasks" -> sum("tasks") / n,
      "spark.task_busy_s" -> sum("busy_ms") / 1e3 / n,
      "spark.cpu_s" -> sum("cpu_ns") / 1e9 / n,
      "spark.core_util" -> (if (wallNs > 0) sum("busy_ms") / 1e3 / (wallNs / 1e9 * cores) else 0.0),
      "spark.task_wait_s" -> sum("task_wait_ms") / 1e3 / n,
      "spark.shuffle_write_mb" -> sum("shuffle_write_b") / mb / n,
      "spark.shuffle_read_mb" -> sum("shuffle_read_b") / mb / n,
      "spark.spill_mb" -> sum("spill_b") / mb / n,
      "spark.stage_skew" -> (if (skews.isEmpty) 0.0 else Stats.median(skews.toSeq)),
      "spark.gc_s" -> sum("gc_ms") / 1e3 / n)
  }

  /** Jobs, tasks and task time attributed to each span name. */
  def perSpan: Map[String, Map[String, Double]] = synchronized {
    bySpan.map { case (k, v) => k -> v.toMap }.toMap
  }
}

/** Micro-batch progress of every streaming query, kept while [[on]]. */
final class StreamCounters(spark: SparkSession) extends StreamingQueryListener {
  import StreamingQueryListener._

  @volatile var on = false
  private val progress = ArrayBuffer[StreamingQueryProgress]()

  spark.streams.addListener(this)

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (on && e.progress.numInputRows > 0) synchronized { progress += e.progress }

  def batches(queryName: String): Seq[StreamingQueryProgress] = synchronized {
    progress.filter(_.name == queryName).toSeq
  }
}

/** Peak heap in use right after a garbage collection, over the collections
  * that end while [[on]]: the high-water mark of data the passes retain.
  * (Heap in use between collections only tracks how far the collector lets
  * garbage pile up.) [[close]] collects once more, so every window has a
  * sample. */
final class HeapSampler {
  @volatile private var on = false
  @volatile private var peak = 0L
  private var seen = 0L

  ManagementFactory.getGarbageCollectorMXBeans.forEach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: Any) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val after = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          synchronized {
            if (on) peak = math.max(peak, after)
            seen += 1
            notifyAll()
          }
        }, null, null)
    case _ => ()
  }

  def open(): Unit = on = true

  def close(): Unit = {
    val before = synchronized(seen)
    System.gc()
    synchronized {
      val deadline = System.nanoTime() + 2000000000L
      while (seen == before && System.nanoTime() < deadline) wait(50)
      on = false
    }
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}
