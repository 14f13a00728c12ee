package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.streaming.{ServingStore, TrieMapServingStore}

/** Spans at layer boundaries: name, start, end, parent and the batch or
  * request id (`tag`) they belong to. Kept in memory, written at the end.
  * A disabled tracer records nothing. */
final class Tracer(val on: Boolean) {
  import Tracer.Span
  private val spans = new ConcurrentLinkedQueue[Span]
  private val adopted = new ConcurrentHashMap[String, java.lang.Long]
  private val ids = new AtomicLong
  /** The writer unit now running; Spark job spans hang below it. */
  @volatile var unit: Long = 0L
  private val nano0 = System.nanoTime()
  private val milli0 = System.currentTimeMillis()

  def newId(): Long = ids.incrementAndGet()
  def add(id: Long, parent: Long, name: String, tag: String,
          start: Long, end: Long): Unit =
    if (on) spans.add(Span(id, parent, name, tag, start, end))
  /** Spans tagged `tag` belong below `parent`, a span known only after they
    * were recorded (a streaming micro-batch, from its progress event). */
  def adopt(tag: String, parent: Long): Unit = adopted.put(tag, parent)
  private def parentOf(s: Span): Long =
    Option(adopted.get(s.tag)).map(_.longValue).getOrElse(s.parent)

  /** Epoch milliseconds (listener events) on the nanoTime axis. */
  def nanoOf(epochMs: Long): Long = nano0 + (epochMs - milli0) * 1000000L

  /** Time `f` as a span below `parent`; while it runs it is the parent of
    * the Spark jobs that start. */
  def span[A](name: String, tag: String, parent: Long = 0L)(f: Long => A): A = {
    val id = newId()
    val outer = unit
    unit = id
    val t0 = System.nanoTime()
    try f(id) finally {
      add(id, parent, name, tag, t0, System.nanoTime())
      unit = outer
    }
  }

  /** Self time per span name in ms: each span's duration minus the part of
    * it that its children cover. */
  def selfMs(names: Seq[String]): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val children = all.groupBy(parentOf)
    val self = all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val cs = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        s.end - s.start - Tracer.covered(cs, s.start, s.end)
      }.sum / 1e6 }
    names.map(n => n -> self.getOrElse(n, 0.0)).toMap
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.foreach { s =>
      w.println(Serialization.write(Map("id" -> s.id, "parent" -> parentOf(s), "name" -> s.name,
        "tag" -> s.tag, "start_us" -> (s.start - nano0) / 1000,
        "end_us" -> (s.end - nano0) / 1000))(DefaultFormats))
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, tag: String,
                        start: Long, end: Long)

  /** How much of [t0, t1] the intervals cover together. */
  def covered(intervals: Iterable[(Long, Long)], t0: Long, t1: Long): Long = {
    var busy = 0L
    var end = t0
    intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
      .foreach { case (a, b) => if (b > end) { busy += b - math.max(a, end); end = b } }
    busy
  }
}

/** Timing decorator over the public [[ServingStore]] trait: counts gets and
  * hits, times puts and snapshots. The program's writers receive it in
  * place of the store when the run is traced. */
final class TimedStore(under: TrieMapServingStore[String, Array[Double]], tracer: Tracer)
    extends ServingStore[String, Array[Double]] {
  val gets, hits, puts, putNs, snapshots, snapshotNs = new LongAdder
  override def get(key: String): Option[Array[Double]] = {
    gets.increment()
    val v = under.get(key)
    if (v.isDefined) hits.increment()
    v
  }
  override def put(key: String, value: Array[Double]): Unit = {
    val t0 = System.nanoTime()
    under.put(key, value)
    putNs.add(System.nanoTime() - t0)
    puts.increment()
  }
  override def size: Int = under.size
  /** Start counting afresh (at the start of the timed phase). */
  def reset(): Unit = Seq(gets, hits, puts, putNs, snapshots, snapshotNs).foreach(_.reset())
  override def snapshot: Map[String, Array[Double]] = {
    val id = tracer.newId()
    val t0 = System.nanoTime()
    val s = under.snapshot
    val t1 = System.nanoTime()
    tracer.add(id, tracer.unit, "store_snapshot", "", t0, t1)
    snapshotNs.add(t1 - t0)
    snapshots.increment()
    s
  }
}

/** The reader's view of the store: remembers the vectors the last call
  * read, in order, so each prediction can be checked against exactly the
  * version it saw. Used by the single generator thread only. */
final class ReadView(store: ServingStore[String, Array[Double]])
    extends ServingStore[String, Array[Double]] {
  val seen = new Array[Array[Double]](256)
  var n = 0
  def reset(): Unit = n = 0
  override def get(key: String): Option[Array[Double]] = {
    val v = store.get(key)
    if (n < seen.length) { seen(n) = v.orNull; n += 1 }
    v
  }
  override def put(key: String, value: Array[Double]): Unit = store.put(key, value)
  override def size: Int = store.size
  override def snapshot: Map[String, Array[Double]] = store.snapshot
}

/** Task and job totals of one group of Spark jobs (a streaming batch or an
  * operator query). */
final class JobTotals {
  var jobs, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleBytes, spillBytes = 0L
  val intervals = new java.util.ArrayList[(Long, Long)]
  /** Milliseconds of [t0, t1] (epoch ms) in which none of the tasks ran. */
  def idleMs(t0: Long, t1: Long): Long = synchronized {
    (t1 - t0) - Tracer.covered(intervals.asScala, t0, t1)
  }
}

/** Spark's own listeners, keyed the way the program's layers run: a
  * streaming micro-batch by (query id, batch id), an operator query by its
  * job group. Installed only on traced runs. */
final class SparkProbe(tracer: Tracer) extends SparkListener {
  private val stageKey = new ConcurrentHashMap[Int, String]
  private val jobKey = new ConcurrentHashMap[Int, (String, Long, Long)]
  val totals = new ConcurrentHashMap[String, JobTotals]
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]

  def totalsOf(key: String): JobTotals = totals.computeIfAbsent(key, _ => new JobTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val key = prop("sql.streaming.queryId") match {
      case Some(q) => s"stream:$q:${prop("streaming.sql.batchId").getOrElse("-")}"
      case None => prop("spark.jobGroup.id").map("group:" + _).getOrElse("other")
    }
    jobKey.put(e.jobId, (key, e.time, tracer.unit))
    e.stageIds.foreach(stageKey.put(_, key))
    val t = totalsOf(key)
    t.synchronized { t.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobKey.get(e.jobId)).foreach { case (key, start, parent) =>
      tracer.add(tracer.newId(), parent, "spark_job", key,
        tracer.nanoOf(start), tracer.nanoOf(e.time))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val key = stageKey.get(e.stageId)
    if (key != null && e.taskMetrics != null) {
      val m = e.taskMetrics
      val t = totalsOf(key)
      t.synchronized {
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.intervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
      }
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def progressOf(queryId: java.util.UUID): Seq[StreamingQueryProgress] =
    progress.asScala.filter(p => p.id == queryId && p.numInputRows > 0).toSeq
}

/** GC time and the longest pause, from the JVM's GC notifications. */
final class GcProbe {
  val totalMs, maxPauseMs = new AtomicLong
  @volatile var counting = false
  private val listener: NotificationListener = (n, _) =>
    if (counting && n.getType == "com.sun.management.gc.notification") {
      val info = n.getUserData.asInstanceOf[CompositeData]
      val gcInfo = info.get("gcInfo").asInstanceOf[CompositeData]
      val ms = gcInfo.get("duration").asInstanceOf[Long]
      // concurrent cycles run beside the application; only pauses stall it
      if (!String.valueOf(info.get("gcName")).contains("Concurrent")) {
        totalMs.addAndGet(ms)
        maxPauseMs.accumulateAndGet(ms, math.max)
      }
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
}
