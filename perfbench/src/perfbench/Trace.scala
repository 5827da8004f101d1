package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.cdc.{Change, ChangeLog, ChangesHandler}

/** One timed interval. `parent` is the span that caused it (-1 at the
  * top); a span's self time is its duration minus its children's. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are kept in memory and written out
  * once, when the run ends. A disabled tracer records nothing, so an
  * untraced run pays only the branch. */
final class Tracer(@volatile var enabled: Boolean) {
  private val spans = ArrayBuffer[Span]()
  private val ids = new AtomicInteger(0)
  private val opened = new ConcurrentHashMap[Integer, (Int, Long)]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val wallBaseMs = System.currentTimeMillis()
  private val nanoBase = System.nanoTime()

  /** Opens a span on the calling thread; children opened on this thread
    * before `close` get it as their parent. */
  def open(): Int = if (!enabled) -1 else {
    val id = ids.incrementAndGet()
    opened.put(id, (currentSpan, System.nanoTime()))
    stack.set(id :: stack.get)
    id
  }

  /** The innermost span open on the calling thread, or -1. */
  def currentSpan: Int = stack.get.headOption.getOrElse(-1)

  /** Closes span `id` under `name` (named at close, so a cycle can be
    * told apart from an idle poll once its outcome is known). */
  def close(id: Int, name: String): Unit = if (id >= 0) {
    val end = System.nanoTime()
    val (parent, start) = opened.remove(id)
    stack.set(stack.get.filterNot(_ == id))
    synchronized { spans += Span(id, parent, name, start, end) }
  }

  def span[A](name: String)(f: => A): A = {
    val id = open()
    try f finally close(id, name)
  }

  /** Records a span measured elsewhere (listener events carry wall-clock
    * milliseconds, mapped onto the nanosecond timeline here). */
  def record(name: String, parent: Int, startWallMs: Long, durMs: Long): Unit = if (enabled) {
    val start = nanoBase + (startWallMs - wallBaseMs) * 1000000L
    synchronized { spans += Span(ids.incrementAndGet(), parent, name, start, start + durMs * 1000000L) }
  }

  def all: Seq[Span] = synchronized(spans.toSeq)


  /** Duration minus the time covered by direct children (children of
    * one span never overlap here: the engine and the writer are serial). */
  def selfMs(s: Span, snapshot: Seq[Span]): Double =
    s.ms - snapshot.filter(_.parent == s.id).map(_.ms).sum

  def write(path: Path): Unit = {
    val body = all.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_us":${(s.startNs - nanoBase) / 1000},"end_us":${(s.endNs - nanoBase) / 1000}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    Files.write(path, body.getBytes(StandardCharsets.UTF_8))
  }
}

object Trace {
  /** Spark local property naming the layer that submits a job. Job-start
    * events carry the submitting thread's properties, so jobs are
    * counted where they are caused. */
  val LayerKey = "perfbench.layer"

  def withLayer[A](sc: SparkContext, layer: String)(f: => A): A = withLocal(sc, LayerKey, layer)(f)

  /** Runs `f` with Spark local property `key` set to `value` on this thread. */
  def withLocal[A](sc: SparkContext, key: String, value: String)(f: => A): A = {
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, value)
    try f finally sc.setLocalProperty(key, prev)
  }
}

/** Decorator around a [[ChangeLog]]. The engine's batch cycle has no
  * public hook, so it is framed from outside: a cycle opens at
  * `readBatch` and closes at the end of the ack (`truncate`). A read
  * that finds nothing is closed by the next read (or `finish`) as an
  * idle poll. The read itself is lazy: the engine's collect, re-wrap
  * and decode run inside the cycle but outside the handler and ack
  * spans, so they make up the cycle's self time.
  *
  * The jobs a read causes are tagged `engine.<path>#<span id>`, so they
  * can be counted for the reads that became cycles only (see
  * [[JobMeter.cycleJobs]]). The thread's previous tag is put back after
  * the ack and at `finish`. */
final class TracedLog(inner: ChangeLog, path: String, tr: Tracer, sc: SparkContext)
    extends ChangeLog {
  @volatile private var cycle = -1
  private var readThread: Thread = _
  private var prevLayer: String = _

  private def closeCycle(name: String): Unit = if (cycle >= 0) {
    tr.close(cycle, name); cycle = -1
  }

  private def restoreLayer(): Unit = if (readThread eq Thread.currentThread) {
    sc.setLocalProperty(Trace.LayerKey, prevLayer)
    readThread = null
  }

  override def readBatch(spark: SparkSession, afterId: Long, limit: Int): DataFrame = {
    closeCycle(s"engine.$path.poll")
    cycle = tr.open()
    if (readThread == null) {
      readThread = Thread.currentThread
      prevLayer = sc.getLocalProperty(Trace.LayerKey)
    }
    sc.setLocalProperty(Trace.LayerKey, s"engine.$path#$cycle")
    inner.readBatch(spark, afterId, limit)
  }

  override def readFrom(spark: SparkSession, afterId: Long): DataFrame =
    inner.readFrom(spark, afterId)

  override def truncate(uptoId: Long): Unit = {
    tr.span(s"log.$path.ack")(inner.truncate(uptoId))
    closeCycle(s"engine.$path.cycle")
    restoreLayer()
  }

  override def committedOffset: Long = inner.committedOffset

  /** Closes a trailing idle poll. Called on the thread that drained, it
    * also restores that thread's layer tag. */
  def finish(): Unit = { closeCycle(s"engine.$path.poll"); restoreLayer() }
}

/** Decorator around a [[ChangesHandler]]: one span per batch, and the
  * batch's Spark jobs (the lazy decode plus the handler's own) are
  * attributed to the handler layer. */
final class TracedHandler(inner: ChangesHandler, name: String, tr: Tracer, sc: SparkContext)
    extends ChangesHandler {
  override def handle(changes: Dataset[Change]): Unit =
    Trace.withLayer(sc, name)(tr.span(name)(inner.handle(changes)))
}

/** Scheduler-side counters from Spark's public listener: jobs per
  * submitting layer, and task time split into CPU, GC and the
  * scheduler's own delay. */
final class JobMeter extends SparkListener {
  val jobsByLayer = new ConcurrentHashMap[String, AtomicLong]()
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val schedulerDelayMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.LayerKey)))
      .getOrElse("other")
    jobsByLayer.computeIfAbsent(layer, _ => new AtomicLong).incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      val info = e.taskInfo
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      schedulerDelayMs.addAndGet(math.max(0L, delay))
    }
  }

  def jobs(layer: String): Long = Option(jobsByLayer.get(layer)).map(_.get).getOrElse(0L)

  /** Jobs caused by the reads of `path` whose span is in `cycleIds`,
    * that is, by the reads that returned a batch. */
  def cycleJobs(path: String, cycleIds: Set[Int]): Long =
    jobsByLayer.asScala.collect {
      case (k, v) if k.startsWith(s"engine.$path#") &&
        cycleIds(k.stripPrefix(s"engine.$path#").toInt) => v.get
    }.sum
}

/** Files read per parquet-log scan, from the scan node's own
  * `numFiles` metric (a public QueryExecutionListener sees the executed
  * plan of every action, including the engine's batch collect). */
final class ScanMeter(dirMarker: String) extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val scans = new AtomicLong
  val files = new AtomicLong

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    collect(qe.executedPlan) { case s: FileSourceScanExec => s }
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(dirMarker)))
      .foreach { s =>
        scans.incrementAndGet()
        files.addAndGet(s.metrics.get("numFiles").map(_.value).getOrElse(0L))
      }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Micro-batch phase durations from Spark's public streaming listener,
  * and one span per micro-batch under the phase that ran the query. */
final class StreamMeter(tr: Tracer) extends StreamingQueryListener {
  val durations = new ConcurrentHashMap[String, ArrayBuffer[Double]]()
  val batches = new AtomicLong
  @volatile var parent: Int = -1

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      batches.incrementAndGet()
      p.durationMs.asScala.foreach { case (k, v) =>
        durations.computeIfAbsent(k, _ => ArrayBuffer[Double]()).synchronized {
          durations.get(k) += v.doubleValue
        }
      }
      val trigger = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      tr.record("stream.batch", parent, java.time.Instant.parse(p.timestamp).toEpochMilli, trigger)
    }
  }

  def values(key: String): Seq[Double] =
    Option(durations.get(key)).map(b => b.synchronized(b.toSeq)).getOrElse(Nil)
}
