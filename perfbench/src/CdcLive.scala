package perfbench

import java.nio.file.{Path, Paths}
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.service.TaskConfig
import graft.streaming.{CdcHistoryTable, CdcServingTable}

/** `cdc_live`: an open loop. The generator appends to the tail segment on
  * a fixed schedule while one reader issues serving point lookups on its
  * own schedule; the task materializes serving and history tables under a
  * processing-time trigger with at most `MaxLines` lines per trigger.
  * Before the window a backlog of `Backlog` events is appended at once and
  * drained: the median rate of its full triggers after the first
  * `WarmTriggers` (lines over `triggerExecution`) is the workload's
  * throughput, and the open loop offers about half of it.
  */
object CdcLive {
  val Db = "live"
  val Tables = 16
  val KeySpace = 400
  val SegLines = 3000
  /** Lines per trigger at most. A trigger of this stream costs about 2 s
    * whatever its size (uncapped bursts of 500 to 16000 events drained in
    * 2.1-2.9 s on a 4-core VM), so without a cap its drain rate grows with
    * its backlog and "half the drain rate" names no rate.
    */
  val MaxLines = 2000L
  val Backlog = (5 * MaxLines).toInt
  /** The backlog's first full triggers run a fresh task still warming up
    * (2.3-2.7, 1.9-2.3 and 1.7-2.0 s for the first three on a 4-core VM,
    * then level); they are not timed.
    */
  val WarmTriggers = 2
  /** Events per second offered, a whole number per tick: about half the
    * stream's drain rate (`throughput_per_s`, medians of 1220 and 1006
    * events/s over five and ten seeds on a 4-core VM, in a quiet and a
    * contended phase). At 600 events/s the triggers of a contended phase
    * reached the cap, the backlog grew and freshness doubled.
    */
  val Rate = 460
  val TickMs = 50
  val ReadEveryMs = 250
  val Trigger = "processing=500 milliseconds"

  final class Gen(seed: Long, dir: Path) {
    val log = new Binlog(seed, dir, SegLines)
    (0 until Tables).foreach(t => log.addTable(Db, f"t$t%02d", Vector("id", "v", "s")))
    private val zipf = new Zipf(KeySpace, 1.1, seed * 31 + 7)
    def pks: Map[String, String] = log.tables.map(_.key -> "id").toMap

    /** Every key of every table, ten rows per insert line. */
    def preload(): Unit = {
      log.tables.foreach { t =>
        (1 to KeySpace).grouped(10).foreach(ids => log.insertIds(t, ids.map(_.toLong)))
      }
      log.flush()
    }

    /** One change: a hot key is updated or deleted when live, else
      * (re-)inserted.
      */
    def event(): Unit = {
      val t = log.tables(log.nextInt(Tables))
      val id = zipf.next() + 1L
      if (t.live.contains(id)) { if (log.nextDouble() < 0.7) log.update(t, id) else log.delete(t, id) }
      else log.insertIds(t, Seq(id))
    }
  }

  /** A started task: its binlog generator, config and running query. */
  final case class Task(g: Gen, c: TaskConfig, q: StreamingQuery)

  /** One set-up: preload a fresh binlog, start its task — posted over HTTP,
    * or the traced mirror — and wait for the first batch.
    */
  private def setUp(ctx: Main.Ctx, svc: Svc, id: String, mirror: Boolean,
      postMs: ArrayBuffer[Double], firstMs: ArrayBuffer[Double]): Task = {
    val g = new Gen(ctx.seed, Paths.get(ctx.fresh("binlog")))
    g.preload()
    val c = Cdc.task(id, g.log.dir.toString, ctx, Seq(Db), g.log.tables.map(_.initial).toSeq,
      Trigger, Some(MaxLines), g.pks)
    val q =
      if (mirror) Cdc.startMirror(ctx.tracer, ctx.spark, c)._1
      else {
        val t0 = System.nanoTime()
        val q = svc.post(c)
        postMs += (System.nanoTime() - t0) / 1e6
        q
      }
    val deadline = System.nanoTime() + 120e9.toLong
    while (!ctx.progress.of(q.name).exists(_.p.numInputRows > 0) && System.nanoTime() < deadline) {
      q.exception.foreach(e => throw e)
      Thread.sleep(20)
    }
    firstMs += ctx.progress.of(q.name).find(_.p.numInputRows > 0)
      .map(e => Cdc.duration(e.p, "triggerExecution")).getOrElse(0.0)
    Task(g, c, q)
  }

  /** A delivered batch: the log lines [from, to) its end offset newly
    * covers, when its progress arrived, and its `triggerExecution`.
    */
  final case class Batch(atNs: Long, from: Long, to: Long, triggerMs: Double)

  /** Follows a task's delivered progress from log line `from` on. */
  final class Delivery(ctx: Main.Ctx, q: StreamingQuery, log: Binlog, from: Long) {
    val covered = new AtomicLong(from)
    private val seen = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    ctx.progress.listener = e => if (e.p.name == q.name && e.p.sources.nonEmpty) {
      val end = Cdc.offset(e.p.sources.head.endOffset)
      val upto = log.globalLine(end.segment, end.line)
      val prev = covered.get()
      if (upto > prev) {
        seen.add(Batch(e.atNs, prev, upto, Cdc.duration(e.p, "triggerExecution")))
        covered.set(upto)
      }
    }

    def batches: Seq[Batch] = seen.asScala.toSeq

    /** Waits until line `upto` is delivered; false on timeout. */
    def await(upto: Long, timeoutS: Int): Boolean = {
      val deadline = System.nanoTime() + timeoutS * 1000000000L
      while (covered.get() < upto && System.nanoTime() < deadline) {
        q.exception.foreach(e => throw e)
        Thread.sleep(5)
      }
      covered.get() >= upto
    }
  }

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val svc = new Svc(ctx, spark)
    // set-up, three times; the first two tasks stop, the third serves the
    // window
    val postMs = ArrayBuffer.empty[Double]
    val firstMs = ArrayBuffer.empty[Double]
    var live: Task = null
    for (i <- 0 until 3) ctx.timeSetup {
      val t = setUp(ctx, svc, s"live${i + 1}", mirror = i == 2 && ctx.args.trace, postMs, firstMs)
      if (i < 2) svc.stop(t.c.taskId) else live = t
    }
    val Task(g, c, q) = live
    val log = g.log

    val delivery = new Delivery(ctx, q, log, log.lines)
    var drainS = 0.0
    var windowStart = 0L
    var windowEnd = 0L
    var backlog = 0L
    val capacity = Rate * (ctx.seconds + 2) + 1000
    val due = new AtomicLongArray(capacity)
    val windowNs = ctx.seconds * 1000000000L
    val late = ArrayBuffer.empty[Double]
    val perTick = Rate * TickMs / 1000
    var reads: Reader = null
    ctx.heapWindow {
      // the backlog, drained first: its triggers also bring the task to its
      // steady state before the window
      drainS = Cdc.wallS {
        (0 until Backlog).foreach(_ => g.event())
        log.flush()
        ctx.check(delivery.await(log.lines, 120),
          s"backlog drain stopped at line ${delivery.covered.get()} of ${log.lines}")
      }
      windowStart = log.lines
      val t0 = System.nanoTime()
      reads = new Reader(ctx, new CdcServingTable(s"${c.sinkDir}/_serving", g.pks), t0, windowNs)
      reads.start()
      ctx.withSparkLayer {
        var tick = 0L
        while (tick * TickMs * 1000000L < windowNs) {
          val dueNs = t0 + tick * TickMs * 1000000L
          val wait = dueNs - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          late += (System.nanoTime() - dueNs) / 1e6
          (0 until perTick).foreach { _ =>
            val ix = (log.lines - windowStart).toInt
            g.event()
            if (ix < capacity) due.set(ix, dueNs)
          }
          log.flush()
          tick += 1
        }
      }
      windowEnd = log.lines
      backlog = log.lines - delivery.covered.get()
      reads.join()
      // every event of the window delivered
      ctx.check(delivery.await(log.lines, 60),
        s"window drain stopped at line ${delivery.covered.get()} of ${log.lines}")
    }
    val events = windowEnd - windowStart
    ctx.note(f"backlog of $Backlog drained in $drainS%.2f s, window of $events events, triggers " +
      delivery.batches.map(b => s"${b.to - b.from}:${b.triggerMs.toInt}").mkString(","))
    ctx.attempted += events + Backlog + reads.done
    ctx.failed += reads.failures
    if (ctx.args.trace) { q.stop(); q.awaitTermination() } else svc.stop(c.taskId)

    // freshness: each event's due time to the delivered progress whose end
    // offset covers it
    val batches = delivery.batches.filter(_.from >= windowStart)
    val freshness = batches.flatMap { b =>
      (b.from until b.to).iterator.map(i => (i - windowStart).toInt).filter(_ < capacity)
        .map(due.get).filter(_ > 0).map(d => (b.atNs - d) / 1e6)
    }
    // the backlog's triggers that carried a full `MaxLines`, past warm-up
    val full = delivery.batches.filter(b => b.to <= windowStart && b.to - b.from == MaxLines)
      .sortBy(_.from).drop(WarmTriggers)
    ctx.check(full.nonEmpty, "no trigger of the backlog carried a full batch after warm-up")
    ctx.e2e.put("throughput_per_s", Stats.median(full.map(b => MaxLines * 1000.0 / b.triggerMs)), "1/s")
    ctx.e2e.put("latency_p50_ms", Stats.pct(freshness, 50), "ms")
    ctx.e2e.put("latency_p90_ms", Stats.pct(freshness, 90), "ms")
    check(ctx, g, c)

    val l = ctx.layer
    l.put("freshness_p50_ms", Stats.pct(freshness, 50), "ms")
    l.put("freshness_p90_ms", Stats.pct(freshness, 90), "ms")
    l.put("read_p50_ms", Stats.pct(reads.latency.toSeq, 50), "ms")
    l.put("read_p90_ms", Stats.pct(reads.latency.toSeq, 90), "ms")
    l.put("serve.plan_ms", Stats.median(reads.planMs.toSeq), "ms")
    l.put("serve.exec_ms", Stats.median(reads.execMs.toSeq), "ms")
    l.put("gen.late_p90_ms", Stats.pct(late.toSeq, 90), "ms")
    l.put("backlog_end_lines", backlog.toDouble, "lines")
    Cdc.progressLayers(ctx, ctx.progress.of(q.name).map(_.p), log)
    l.put("service.post_task_ms", Stats.median(postMs.toSeq), "ms")
    l.put("service.first_batch_ms", firstMs.head, "ms")
    val serving = Paths.get(c.sinkDir, "_serving")
    val history = Paths.get(c.sinkDir, "_history")
    val newest = Cdc.newestVersionFiles(serving)
    val liveBytes = newest.map(java.nio.file.Files.size).sum
    val disk = Cdc.diskBytes(serving) + Cdc.diskBytes(history)
    l.put("store.versions_live", Cdc.versions(serving).toDouble, "count")
    l.put("store.disk_bytes", disk.toDouble, "bytes")
    l.put("store.new_bytes_per_version",
      newest.filter(Cdc.nlink(_) == 1).map(java.nio.file.Files.size).sum.toDouble, "bytes")
    l.put("store.linked_file_ratio",
      if (newest.isEmpty) 0.0 else newest.count(Cdc.nlink(_) > 1).toDouble / newest.size, "ratio")
    l.put("store_bytes_per_live_byte", if (liveBytes > 0) disk.toDouble / liveBytes else 0.0, "ratio")
    if (ctx.args.trace) {
      val triggers = math.max(ctx.progress.of(q.name).count(_.p.numInputRows > 0), 1)
      Seq("materialize.merge", "materialize.history_append", "materialize.compact",
        "sink.envelope_write").foreach { n =>
        l.put(s"${n}_ms", ctx.tracer.totalMs(n) / triggers, "ms")
      }
      Cdc.selfTimes(ctx, Seq("sink.batch"))
      // overhead: the whole final log drained by the mirror in one
      // trigger, untraced then traced, each into fresh sinks
      def mirrorDrain(tr: Tracer, id: String): Double = {
        val d = Cdc.task(id, log.dir.toString, ctx, Seq(Db), g.log.tables.map(_.initial).toSeq,
          "available_now", None, g.pks)
        Cdc.wallS(Cdc.startMirror(tr, spark, d)._1.awaitTermination())
      }
      val untraced = mirrorDrain(new Tracer(enabled = false), "overhead-plain")
      Cdc.traceOverhead(ctx, untraced, mirrorDrain(new Tracer(enabled = true), "overhead-traced"))
    }
    svc.close()
    log.close()
  }

  /** Serving equals the generator's last-writer-wins state; the history
    * holds one row per keyed change.
    */
  private def check(ctx: Main.Ctx, g: Gen, c: TaskConfig): Unit = {
    val spark = ctx.spark
    val serving = new CdcServingTable(s"${c.sinkDir}/_serving", g.pks)
    val got = serving.snapshot(spark)
      .select(col("tbl"), col("pk"), from_json(col("after_json"),
        org.apache.spark.sql.types.MapType(org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType)).as("a"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getMap[String, String](2).toMap).toMap
    val want = g.log.state.collect { case (k, Some(img)) => k -> img }.toMap
    val diff = (want.keySet ++ got.keySet).count(k => want.get(k) != got.get(k))
    ctx.check(diff == 0, s"serving snapshot differs from last-writer-wins state on $diff of ${want.size} keys" +
      f" (hashes ${got.hashCode}%08x vs ${want.hashCode}%08x)")
    val history = new CdcHistoryTable(s"${c.sinkDir}/_history", g.pks).changelog(spark).count()
    val changes = g.log.tables.map(_.envelopes).sum
    ctx.check(history == changes, s"history holds $history rows, $changes keyed changes were written")
  }

  /** The reader: point lookups through `CdcServingTable.snapshot` every
    * `ReadEveryMs`, each timed from its due time.
    */
  final class Reader(ctx: Main.Ctx, serving: CdcServingTable, t0: Long, windowNs: Long)
      extends Thread("perfbench-reader") {
    setDaemon(true)
    val latency, planMs, execMs = ArrayBuffer.empty[Double]
    @volatile var done = 0L
    @volatile var failures = 0L
    private val zipf = new Zipf(KeySpace, 1.1, ctx.seed * 17 + 3)
    private val rnd = new java.util.SplittableRandom(ctx.seed * 13 + 5)
    override def run(): Unit = {
      var n = 0L
      while (n * ReadEveryMs * 1000000L < windowNs) {
        val dueNs = t0 + n * ReadEveryMs * 1000000L
        val wait = dueNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val tbl = f"$Db.t${rnd.nextInt(Tables)}%02d"
        val pk = (zipf.next() + 1).toString
        try ctx.tracer.span("serve.read", trace = s"read-$n") {
          val p0 = System.nanoTime()
          val df = serving.snapshot(ctx.spark).filter(col("tbl") === tbl && col("pk") === pk)
          df.queryExecution.executedPlan
          val p1 = System.nanoTime()
          df.collect()
          val p2 = System.nanoTime()
          planMs += (p1 - p0) / 1e6
          execMs += (p2 - p1) / 1e6
          latency += (p2 - dueNs) / 1e6
        } catch { case scala.util.control.NonFatal(e) =>
          failures += 1
          System.err.println(s"[perfbench] read failed: $e")
        }
        done += 1
        n += 1
      }
    }
  }
}
