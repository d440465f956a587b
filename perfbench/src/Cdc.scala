package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.model.{MQEvent, RawBinlogEvent, TableSchema}
import graft.registry.SchemaRegistry
import graft.service.{TaskConfig, TaskHttpServer, TaskService, TaskStore}
import graft.sources.cdc.CdcOffset
import graft.streaming.{CdcHistoryTable, CdcPipeline, CdcServingTable}

/** The task service as a user runs it: `TaskService` behind
  * `TaskHttpServer`, driven over one HTTP connection.
  */
final class Svc(ctx: Main.Ctx, spark: SparkSession) {
  val store = new TaskStore(Paths.get(ctx.fresh("taskstore")))
  val service = new TaskService(spark, store)
  val http = new TaskHttpServer(service, spark)
  val port: Int = http.start()
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  def call(path: String, body: String = null): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    val req = if (body == null) b.GET().build()
      else b.POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  /** POST /v1/post_task; the task's running query. */
  def post(c: TaskConfig): StreamingQuery = {
    val (code, body) = call("/v1/post_task", TaskConfig.toJson(c))
    require(code == 200, s"post_task ${c.taskId}: $code $body")
    service.get(c.taskId).get.query
  }

  def stop(id: String): Unit = { call("/v1/stop_task", s"""{"task_id":"$id","stop_type":"stop"}"""); () }

  def close(): Unit = { service.stopAll(); http.stop() }
}

/** Shared CDC measurement helpers. */
object Cdc {
  def task(id: String, src: String, ctx: Main.Ctx, dbs: Seq[String],
      schemas: Seq[TableSchema], trigger: String, maxLines: Option[Long],
      pks: Map[String, String] = Map.empty): TaskConfig =
    TaskConfig(taskId = id, sourceDir = src, sinkDir = ctx.fresh(s"sink-$id"),
      checkpointDir = ctx.fresh(s"ckpt-$id"), databases = dbs,
      trigger = trigger, schemas = schemas, maxLinesPerTrigger = maxLines,
      materializePk = pks, historyPk = pks)

  def offset(json: String): CdcOffset =
    if (json == null) CdcOffset.Beginning else CdcOffset.fromJson(json)

  def duration(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Source and pipeline layer metrics from a drain's progress reports. */
  def progressLayers(ctx: Main.Ctx, ps: Seq[StreamingQueryProgress], log: Binlog): Unit = {
    val l = ctx.layer
    val data = ps.filter(_.numInputRows > 0)
    def mean(f: StreamingQueryProgress => Double) =
      if (data.isEmpty) 0.0 else data.map(f).sum / data.size
    val spans = data.map { p =>
      val s = offset(p.sources.head.startOffset)
      val e = offset(p.sources.head.endOffset)
      val lat = offset(p.sources.head.latestOffset)
      (s, e, lat)
    }
    val admitted = spans.map { case (s, e, _) =>
      log.globalLine(e.segment, e.line) - log.globalLine(s.segment, s.line) }.sum
    l.put("source.latest_offset_ms", mean(duration(_, "latestOffset")), "ms")
    l.put("source.get_batch_ms", mean(duration(_, "getBatch")), "ms")
    l.put("source.rows_read_per_line",
      if (admitted > 0) data.map(_.numInputRows).sum.toDouble / admitted else 0.0, "ratio")
    // one input partition per segment the trigger's range touches
    l.put("source.partitions_per_trigger", if (spans.isEmpty) 0.0 else spans.map { case (s, e, _) =>
      log.segStart.keys.count { n =>
        val from = if (n == s.segment) s.line else 0L
        val to = if (n == e.segment) e.line else segLen(log, n)
        (s.segment.isEmpty || n >= s.segment) && n <= e.segment && from < to
      }.toDouble
    }.sum / spans.size, "count")
    l.put("source.skipped_lines_per_trigger",
      if (spans.isEmpty) 0.0 else spans.map(_._1.line.toDouble).sum / spans.size, "lines")
    l.put("source.lag_lines", if (spans.isEmpty) 0.0 else spans.map { case (_, e, lat) =>
      (log.globalLine(lat.segment, lat.line) - log.globalLine(e.segment, e.line)).toDouble
    }.sum / spans.size, "lines")
    l.put("pipeline.trigger_ms", mean(duration(_, "triggerExecution")), "ms")
    l.put("pipeline.add_batch_ms", mean(duration(_, "addBatch")), "ms")
    l.put("pipeline.query_planning_ms", mean(duration(_, "queryPlanning")), "ms")
    l.put("pipeline.wal_commit_ms", mean(duration(_, "walCommit")), "ms")
    l.put("pipeline.triggers", data.size.toDouble, "count")
  }

  private def segLen(log: Binlog, n: String): Long = {
    val starts = log.segStart.toSeq.sortBy(_._2)
    val i = starts.indexWhere(_._1 == n)
    if (i + 1 < starts.size) starts(i + 1)._2 - starts(i)._2 else log.lines - starts(i)._2
  }

  /** Envelope sink frame parsed back from its Kafka-shaped JSON value. */
  def envelopes(spark: SparkSession, sink: String): DataFrame =
    spark.read.parquet(sink).select(col("value"), from_json(col("value"), org.apache.spark.sql.types.StructType.fromDDL(
      "database string, table string, action string, after map<string,string>, " +
        "event_header struct<timestamp: bigint, log_pos: bigint>")).as("e"))
      .select(col("value"), col("e.database").as("db"), col("e.table").as("tbl"),
        col("e.action").as("action"), col("e.after").as("after"),
        col("e.event_header.log_pos").as("pos"))

  /** (rows, order-free content hash) of a sink — two sinks with the same
    * envelopes agree on both.
    */
  def fingerprint(spark: SparkSession, sink: String): (Long, Long) = {
    val r = spark.read.parquet(sink)
      .agg(count(lit(1)), sum(pmod(xxhash64(col("value")), lit(1L << 32)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Unique on-disk bytes under `dir` (hard links counted once). */
  def diskBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val seen = scala.collection.mutable.HashSet.empty[Any]
      Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        val ino = Files.getAttribute(p, "unix:ino")
        if (seen.add(ino)) Files.size(p) else 0L
      }.sum
    }

  /** Files of the newest `v<N>` version dir of a versioned store. */
  def newestVersionFiles(dir: Path): Seq[Path] =
    currentVersion(dir) match {
      case Some(v) =>
        val vd = dir.resolve(s"v$v")
        if (!Files.exists(vd)) Seq.empty
        else Files.walk(vd).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      case None => Seq.empty
    }

  /** The committed version a versioned store's `_CURRENT` pointer names. */
  def currentVersion(dir: Path): Option[Long] = {
    val p = dir.resolve("_CURRENT")
    if (!Files.exists(p)) None else Files.readString(p).trim.toLongOption
  }

  def versions(dir: Path): Int =
    if (!Files.exists(dir)) 0
    else Files.list(dir).iterator().asScala.count(p =>
      Files.isDirectory(p) && p.getFileName.toString.matches("v\\d+"))

  def nlink(p: Path): Int = Files.getAttribute(p, "unix:nlink").asInstanceOf[Int]

  /** A sink mirroring `TaskService.start`'s: the same public calls in the
    * same order, each timed as a span of the trigger's trace.
    */
  def mirrorSink(tr: Tracer, c: TaskConfig, serving: Option[CdcServingTable],
      history: Option[CdcHistoryTable]): (Dataset[MQEvent], Long) => Unit = {
    (envs, batchId) => tr.span("sink.batch", trace = s"${c.taskId}-trigger-$batchId") {
      val cached = envs.persist()
      try {
        tr.span("sink.envelope_write") {
          graft.cdc.Envelope.toKafkaFrame(cached, c.taskId)
            .write.mode("append").parquet(c.sinkDir)
        }
        serving.foreach(s => tr.span("materialize.merge")(s.merge(cached)))
        history.foreach { h =>
          tr.span("materialize.history_append")(h.append(cached))
          if ((batchId + 1) % c.compactEvery == 0) tr.span("materialize.compact") {
            h.compact(cached.sparkSession)
            h.prune()
          }
        }
      } finally { cached.unpersist(); () }
    }
  }

  /** `TaskService.start`'s query, built from the public pieces with the
    * mirror sink recording into `tr`.
    */
  def startMirror(tr: Tracer, spark: SparkSession, c: TaskConfig): (StreamingQuery, SchemaRegistry) = {
    import spark.implicits._
    val registry = new SchemaRegistry(None)
    c.schemas.foreach(registry.put)
    val pipeline = new CdcPipeline(c.taskId, registry, c.filter)
    val reader = spark.readStream.format("graft-cdc")
      .option("path", c.sourceDir).option("startingOffsets", c.resolvedStartingOffsets)
    c.maxLinesPerTrigger.foreach(n => reader.option("maxLinesPerTrigger", n.toString))
    val trigger = c.trigger match {
      case t if t.startsWith("processing=") => Trigger.ProcessingTime(t.stripPrefix("processing="))
      case _ => Trigger.AvailableNow()
    }
    val serving = Option.when(c.materializePk.nonEmpty)(
      new CdcServingTable(s"${c.sinkDir}/_serving", c.materializePk))
    val history = Option.when(c.historyPk.nonEmpty)(
      new CdcHistoryTable(s"${c.sinkDir}/_history", c.historyPk))
    val q = pipeline.startProjected(reader.load().as[RawBinlogEvent], c.checkpointDir,
      mirrorSink(tr, c, serving, history), trigger)
    (q, registry)
  }

  /** `trace.overhead_ratio`: the wall time of the traced mirror over that
    * of the same mirror with tracing off, doing the same work, minus one.
    */
  def traceOverhead(ctx: Main.Ctx, untracedS: Double, tracedS: Double): Unit =
    ctx.layer.put("trace.overhead_ratio", tracedS / untracedS - 1.0, "ratio")

  /** Wall seconds of `body`. */
  def wallS(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Self time per traced layer, from the run's spans. */
  def selfTimes(ctx: Main.Ctx, names: Seq[String]): Unit = {
    val self = ctx.tracer.selfMs
    names.foreach(n => ctx.layer.put(s"self.$n", self.getOrElse(n, 0.0), "ms"))
  }
}

/** `cdc_backfill`: a closed drain of a preloaded binlog by one task posted
  * over HTTP with `Trigger.AvailableNow` and `maxLinesPerTrigger`.
  */
object CdcBackfill {
  val Dbs = 4
  val TablesPerDb = 50
  val Lines = 60000
  val WarmLines = 20000
  val MaxLinesPerTrigger = 10000L
  val SegLines = 7500
  val DdlEvery = 800
  val Accepted = Seq("db0", "db1")

  /** 60/30/10 insert/update/delete over skewed pks, with a periodic
    * ALTER TABLE ADD/DROP COLUMN.
    */
  def generate(seed: Long, dir: Path, lines: Int): Binlog = {
    val log = new Binlog(seed, dir, SegLines)
    for (d <- 0 until Dbs; t <- 0 until TablesPerDb) {
      val extra = (0 until (t % 3)).map(i => s"c$i")
      log.addTable(s"db$d", f"t$t%02d", Vector("id", "name", "qty", "price") ++ extra)
    }
    while (log.lines < lines) {
      val t = log.tables(log.nextInt(log.tables.size))
      if (log.lines > 0 && log.lines % DdlEvery == 0) {
        val target = log.tables(log.nextInt(log.tables.size))
        log.alter(target, add = log.nextDouble() < 0.6)
      } else {
        val u = log.nextDouble()
        if (u < 0.6) log.insert(t, 1 + log.nextInt(3))
        else log.skewedLive(t) match {
          case Some(id) if u < 0.9 => log.update(t, id)
          case Some(id) => log.delete(t, id)
          case None => log.insert(t, 1)
        }
      }
    }
    log.close()
    log
  }

  private def schemas(log: Binlog): Seq[TableSchema] = log.tables.map(_.initial).toSeq

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val svc = new Svc(ctx, spark)
    var tasks = 0
    def nextId() = { tasks += 1; s"backfill$tasks" }
    val postMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    def drain(src: String, log: Binlog, maxLines: Long): (TaskConfig, StreamingQuery, Double) = {
      val c = Cdc.task(nextId(), src, ctx, Accepted, schemas(log), "available_now", Some(maxLines))
      val t0 = System.nanoTime()
      val q = svc.post(c)
      postMs += (System.nanoTime() - t0) / 1e6
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      ctx.note(f"drain ${c.taskId} of ${log.lines} lines took $wall%.2f s, triggers " +
        ctx.progress.of(q.name).map(e => Cdc.duration(e.p, "triggerExecution").toInt).mkString(","))
      q.exception.foreach(e => throw e)
      (c, q, wall)
    }
    // set-up, three times: generate the binlog, then drain a smaller seeded
    // warm-up log (the first trigger's warm-up lands here)
    var log: Binlog = null
    var firstBatchMs = 0.0
    for (i <- 0 until 3) ctx.timeSetup {
      val src = Paths.get(ctx.fresh("binlog"))
      log = generate(ctx.seed, src, Lines)
      val warm = generate(ctx.seed + 7919L, Paths.get(ctx.fresh("warm")), WarmLines)
      val (_, q, wall) = drain(warm.dir.toString, warm, MaxLinesPerTrigger)
      if (i == 0) firstBatchMs = ctx.progress.of(q.name).headOption
        .map(e => Cdc.duration(e.p, "triggerExecution")).getOrElse(wall * 1000)
    }
    val src = log.dir.toString
    // untimed: drains keep getting faster for the first ~150k lines a
    // session applies (5.0-6.0, 4.6-5.1 and 4.1-4.4 s for the first three
    // 60k-line drains after the set-ups on a 4-core VM), so the timed ones
    // start after this one
    drain(src, log, MaxLinesPerTrigger)

    // timed drains of the same log, each by a fresh task
    val drains = scala.collection.mutable.ArrayBuffer.empty[(TaskConfig, StreamingQuery, Double)]
    ctx.withSparkLayer {
      val start = System.nanoTime()
      // the heap is sampled over the first two drains: a fixed amount of
      // work, where the number of drains in the window is not
      ctx.heapWindow((0 until 2).foreach(_ => drains += drain(src, log, MaxLinesPerTrigger)))
      while ((System.nanoTime() - start) / 1e9 < ctx.seconds)
        drains += drain(src, log, MaxLinesPerTrigger)
    }
    ctx.attempted += drains.size.toLong * log.lines
    val rates = drains.map(d => log.lines / d._3)
    val triggerMs = drains.flatMap(d => ctx.progress.of(d._2.name)
      .filter(_.p.numInputRows > 0).map(e => Cdc.duration(e.p, "triggerExecution")))
    ctx.e2e.put("throughput_per_s", Stats.median(rates.toSeq), "1/s")
    ctx.e2e.put("latency_p50_ms", Stats.pct(triggerMs.toSeq, 50), "ms")
    ctx.e2e.put("latency_p90_ms", Stats.pct(triggerMs.toSeq, 90), "ms")

    val (c0, q0, _) = drains.head
    val dropped = checkSink(ctx, spark, c0.sinkDir, log, triggerEnds(ctx, q0, log))
    if (dropped > 0) ctx.note(s"$dropped envelopes precede an ALTER of their table in the " +
      "same trigger and are dropped; applying DDL in log order would keep them")
    drains.tail.foreach { case (c, _, _) =>
      ctx.check(Cdc.fingerprint(spark, c.sinkDir) == Cdc.fingerprint(spark, c0.sinkDir),
        s"drain ${c.taskId} output differs from ${c0.taskId}")
    }

    val l = ctx.layer
    l.put("events_per_s", Stats.median(rates.toSeq), "1/s")
    Cdc.progressLayers(ctx, ctx.progress.of(q0.name).map(_.p), log)
    val reg = svc.service.get(c0.taskId).get.registry
    l.put("registry.ddl_applied", reg.tables().map(_.version).sum.toDouble, "count")
    val emitted = Cdc.fingerprint(spark, c0.sinkDir)._1
    l.put("cdc.accept_ratio", emitted.toDouble / log.rowImages, "ratio")
    l.put("cdc.ddl_dropped_envelopes", dropped.toDouble, "count")
    l.put("service.first_batch_ms", firstBatchMs, "ms")
    l.put("service.post_task_ms", Stats.median(postMs.toSeq), "ms")
    val scrape0 = System.nanoTime()
    svc.call("/metrics")
    l.put("service.metrics_scrape_ms", (System.nanoTime() - scrape0) / 1e6, "ms")

    if (ctx.args.trace) {
      // the mirror of the same drain, untraced then traced; the traced
      // one's outputs must equal the timed drain's
      def mirrorDrain(tr: Tracer): (TaskConfig, StreamingQuery, Double) = {
        val c = Cdc.task(nextId(), src, ctx, Accepted, schemas(log), "available_now", Some(MaxLinesPerTrigger))
        var q: StreamingQuery = null
        val wall = Cdc.wallS { q = Cdc.startMirror(tr, spark, c)._1; q.awaitTermination() }
        (c, q, wall)
      }
      val (_, _, untraced) = mirrorDrain(new Tracer(enabled = false))
      val (c, q, wall) = mirrorDrain(ctx.tracer)
      ctx.check(Cdc.fingerprint(spark, c.sinkDir) == Cdc.fingerprint(spark, c0.sinkDir),
        "traced drain output differs from the timed drain's")
      val ps = ctx.progress.of(q.name).map(_.p).filter(_.numInputRows > 0)
      val sinkMs = ctx.tracer.totalMs("sink.batch")
      l.put("cdc.project_ms", math.max(0.0, ps.map(Cdc.duration(_, "addBatch")).sum - sinkMs) / math.max(ps.size, 1), "ms")
      l.put("sink.envelope_write_ms", ctx.tracer.totalMs("sink.envelope_write") / math.max(ps.size, 1), "ms")
      Cdc.traceOverhead(ctx, untraced, wall)
      Cdc.selfTimes(ctx, Seq("sink.batch"))
      svc.close()
      // single-core baseline: the same drain at local[1]
      spark.stop()
      val one = Session.start(ctx.args.runDir.resolve("single-core"), local = Some(1))
      val svc1 = new Svc(ctx, one)
      val c1 = Cdc.task(nextId(), src, ctx, Accepted, schemas(log), "available_now", Some(MaxLinesPerTrigger))
      val t1 = System.nanoTime()
      svc1.post(c1).awaitTermination()
      l.put("spark.single_core_events_per_s", log.lines / ((System.nanoTime() - t1) / 1e9), "1/s")
      ctx.check(Cdc.fingerprint(one, c1.sinkDir)._1 == emitted, "single-core drain output differs")
      svc1.close()
      one.stop()
    } else svc.close()
  }

  /** The log positions of the last line of each trigger of `q`, ascending;
    * checks that the triggers cover the log once, in order.
    */
  def triggerEnds(ctx: Main.Ctx, q: StreamingQuery, log: Binlog): Array[Long] = {
    val spans = q.recentProgress.toSeq.sortBy(_.batchId).map { p =>
      val s = Cdc.offset(p.sources.head.startOffset)
      val e = Cdc.offset(p.sources.head.endOffset)
      (log.globalLine(s.segment, s.line), log.globalLine(e.segment, e.line))
    }.filter { case (s, e) => e > s }
    val contiguous = spans.nonEmpty && spans.head._1 == 0L && spans.last._2 == log.lines &&
      spans.zip(spans.tail).forall { case (a, b) => a._2 == b._1 }
    ctx.check(contiguous, s"triggers of ${q.name} do not cover the log once: $spans")
    // a line's log position is its global index plus the first position, 4
    spans.map(_._2 - 1 + 4).toArray
  }

  /** The envelopes a drain may produce from the log: the column list the
    * envelopes of a rows event of table `t` at log position `pos` carry, or
    * None when it yields none.
    */
  type Outcome = (Binlog#Table, Long) => Option[Vector[String]]

  /** DDL applied in log order, as the reference service does: every rows
    * event meets the schema its row images were written under.
    */
  val logOrder: Outcome = (t, pos) => Some(t.colsAt(pos))

  /** `CdcPipeline.startProjected`'s contract, pinned by its tests: a
    * micro-batch's DDL is applied to the registry before any of the batch's
    * rows are projected, so every rows event meets its table's schema as of
    * the end of its trigger, and one whose row images have another arity is
    * dropped by `Projector`'s arity guard. `ends` are the log positions of
    * the triggers' last lines, ascending.
    */
  def perTrigger(ends: Array[Long]): Outcome = { (t, pos) =>
    val i = java.util.Arrays.binarySearch(ends, pos)
    val end = ends(if (i >= 0) i else math.min(-i - 1, ends.length - 1))
    // an ALTER's columns start at the position after its own
    val cols = t.colsAt(end + 1)
    Option.when(t.colsAt(pos).length == cols.length)(cols)
  }

  /** The sink holds exactly the envelopes of one outcome: per table, the
    * count the generator expects; per envelope of an evolved table, the
    * column list the outcome gives it. Either outcome passes, log order or
    * `perTrigger`; the sink may not mix them. Returns the envelopes that
    * log order keeps and the sink lacks: rows of a table that precede its
    * ALTER in the same trigger, 0 under log order.
    */
  def checkSink(ctx: Main.Ctx, spark: SparkSession, sink: String, log: Binlog,
      ends: Array[Long]): Long = {
    val env = Cdc.envelopes(spark, sink)
    val counts = env.groupBy(concat_ws(".", col("db"), col("tbl"))).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val evolved = log.tables.filter(t => Accepted.contains(t.db) && t.timeline.size > 1)
    val keys =
      if (evolved.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else env.filter(col("action") =!= "delete" &&
          concat_ws(".", col("db"), col("tbl")).isin(evolved.map(_.key).toSeq: _*))
        .select(concat_ws(".", col("db"), col("tbl")), col("pos"), array_sort(map_keys(col("after"))))
        .collect()
    val byKey = evolved.map(t => t.key -> t).toMap

    /** Per-table (ok, problem) of one outcome, then the column-list one. */
    def verdicts(o: Outcome): Seq[(Boolean, String)] = {
      val perTable = log.tables.toSeq.map { t =>
        val want =
          if (!Accepted.contains(t.db)) 0L
          else t.events.collect { case (pos, n) if o(t, pos).isDefined => n.toLong }.sum
        val got = counts.getOrElse(t.key, 0L)
        (got == want, s"${t.key}: $got envelopes, generator expects $want")
      }
      val bad = keys.filter { r =>
        !o(byKey(r.getString(0)), r.getLong(1)).map(_.sorted).contains(r.getSeq[String](2))
      }
      perTable :+ (bad.isEmpty -> (s"${bad.length} envelopes of evolved tables carry a stale column list" +
        bad.headOption.map(r => s" (first: ${r.getString(0)} at ${r.getLong(1)})").getOrElse("")))
    }
    val inOrder = verdicts(logOrder)
    val chosen = if (inOrder.forall(_._1)) inOrder else verdicts(perTrigger(ends))
    chosen.foreach { case (ok, what) => ctx.check(ok, what) }
    val accepted = log.tables.filter(t => Accepted.contains(t.db))
    accepted.map(_.envelopes).sum - accepted.map(t => counts.getOrElse(t.key, 0L)).sum
  }
}
