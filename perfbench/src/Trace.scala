package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** In-memory span recorder. Spans are timed around the benchmark's own
  * calls into each layer's public functions; nothing inside the program is
  * instrumented. A span has a name, start, end, parent and a trace id that
  * groups the spans of one trigger, batch, read or query. With tracing off
  * every call is a plain pass-through.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, trace: String, name: String,
      startNs: Long, endNs: Long)

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, String)] {
    override def initialValue(): (Long, String) = (0L, "")
  }

  /** Run `body` as a span. With no `trace` the span joins its parent's. */
  def span[A](name: String, trace: String = null)(body: => A): A =
    if (!enabled) body
    else {
      val (parent, parentTrace) = current.get()
      val id = ids.incrementAndGet()
      val t = if (trace != null) trace else parentTrace
      current.set((id, t))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, t, name, t0, System.nanoTime()))
        current.set((parent, parentTrace))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Total wall time of spans named `name`, in ms. */
  def totalMs(name: String): Double =
    all.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).sum

  /** Self time per span name: duration minus the part covered by children. */
  def selfMs: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (n, group) =>
      n -> group.map { s =>
        val covered = Intervals.union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def writeJson(path: java.nio.file.Path, origin: Long): Unit = {
    val sb = new StringBuilder("[\n")
    all.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb ++= ",\n"
      sb ++= f"""{"id":${s.id},"parent":${s.parent},"trace":"${s.trace}","name":"${s.name}",""" +
        f""""start_ms":${(s.startNs - origin) / 1e6}%.3f,"end_ms":${(s.endNs - origin) / 1e6}%.3f}"""
    }
    sb ++= "\n]\n"
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Intervals {
  /** Length of the union of half-open intervals. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** The benchmark's own SparkListener: job/stage/task counts and task
  * metrics, summed since it was added; the difference of two `snap`s is the
  * work in between.
  */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks, shuffleWrite, spill, runMs, cpuNs, gcMs =
    new LongAdder
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
    }
  }
  final case class Snap(jobs: Long, stages: Long, tasks: Long,
      shuffleWrite: Long, spill: Long, runMs: Long, cpuMs: Long, gcMs: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, shuffleWrite - o.shuffleWrite, spill - o.spill,
      runMs - o.runMs, cpuMs - o.cpuMs, gcMs - o.gcMs)
  }
  def snap(): Snap = Snap(jobs.sum, stages.sum, tasks.sum, shuffleWrite.sum,
    spill.sum, runMs.sum, cpuNs.sum / 1000000L, gcMs.sum)
}

/** Every `StreamingQueryProgress` delivered, with the monotonic time it
  * arrived at the listener (the "delivered progress" freshness ends on).
  */
final class ProgressLog extends StreamingQueryListener {
  final case class Entry(atNs: Long, p: StreamingQueryProgress)
  private val q = new ConcurrentLinkedQueue[Entry]()
  @volatile var listener: Entry => Unit = _ => ()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val en = Entry(System.nanoTime(), e.progress)
    q.add(en)
    listener(en)
  }
  def of(name: String): Seq[Entry] =
    q.asScala.filter(_.p.name == name).toSeq.sortBy(_.p.batchId)
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Mutable metric sheet in insertion order: name -> (value, unit). */
  final class Sheet {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, v: Double, unit: String): Unit = m(name) = (v, unit)
  }
}
