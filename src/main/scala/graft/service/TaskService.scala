package graft.service

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.TaskFilter
import graft.model.{ColumnDef, RawBinlogEvent, TableSchema}
import graft.registry.SchemaRegistry
import graft.streaming.CdcPipeline
import graft.util.MiniJson
import graft.util.MiniJson.{JValue, JObj}

/** One CDC task's full configuration — the `pkg.Task` analog
  * (`pkg/req_resp.go:11-17`): id + source + filter rules + sink, plus the
  * seeded table schemas (the `SHOW FULL COLUMNS` capture this offline build
  * receives declaratively).
  */
final case class TaskConfig(
    taskId: String,
    sourceDir: String,
    sinkDir: String,
    checkpointDir: String,
    databases: Seq[String] = Seq.empty,
    tables: Seq[String] = Seq.empty,
    excludeTables: Seq[String] = Seq.empty,
    startingOffsets: String = "earliest",
    trigger: String = "available_now", // or processing=<interval>
    schemas: Seq[TableSchema] = Seq.empty,
    stopSync: Boolean = false,
    // bounded historical backfill — the feature the reference DROPPED as
    // "very performance hungry" (`README.md:75`, `pkg/req_resp.go:72`
    // start_time): replay from an explicit (segment, line), paced by
    // maxLinesPerTrigger admission, handing off to live tailing. Takes
    // precedence over `startingOffsets` when set.
    startOffset: Option[(String, Long)] = None,
    maxLinesPerTrigger: Option[Long] = None,
    // K4–K6-analog: `db.table -> pk column` entries; when non-empty the
    // task ALSO maintains a queryable current-state serving table
    // (CdcServingTable under <sink_dir>/_serving) alongside the envelope
    // sink — the materialization the reference's ES/Mongo sinks exist for
    materializePk: Map[String, String] = Map.empty,
    // temporal complement: when non-empty the task ALSO appends every
    // batch's keyed changes to a CdcHistoryTable changelog under
    // <sink_dir>/_history (SCD2 + time-travel reads), auto-compacted
    // every `compactEvery` batches by the thread that appends — the
    // single-writer seat the compaction transaction requires
    historyPk: Map[String, String] = Map.empty,
    compactEvery: Int = 8) {

  /** `LegalVerification` analog (`pkg/req_resp.go:19-43`). */
  def validate: Either[String, TaskConfig] =
    if (taskId.trim.isEmpty) Left("task_id must be non-empty")
    else if (sourceDir.trim.isEmpty) Left("source_dir must be non-empty")
    else if (sinkDir.trim.isEmpty) Left("sink_dir must be non-empty")
    else if (maxLinesPerTrigger.exists(_ <= 0))
      Left("max_lines_per_trigger must be positive")
    else if (compactEvery <= 0) Left("compact_every must be positive")
    else Right(this)

  def filter: TaskFilter = TaskFilter(databases, tables, excludeTables)

  /** The source `startingOffsets` value this config resolves to. */
  def resolvedStartingOffsets: String = startOffset match {
    case Some((seg, line)) =>
      graft.sources.cdc.CdcOffset(seg, line).json()
    case None => startingOffsets
  }
}

object TaskConfig {

  def toJson(c: TaskConfig): String = MiniJson.render(JObj.of(
    "task_id" -> MiniJson.str(c.taskId),
    "source_dir" -> MiniJson.str(c.sourceDir),
    "sink_dir" -> MiniJson.str(c.sinkDir),
    "checkpoint_dir" -> MiniJson.str(c.checkpointDir),
    "database" -> MiniJson.strArr(c.databases),
    "tables" -> MiniJson.strArr(c.tables),
    "exclude_table" -> MiniJson.strArr(c.excludeTables),
    "starting_offsets" -> MiniJson.str(c.startingOffsets),
    "trigger" -> MiniJson.str(c.trigger),
    "schemas" -> MiniJson.arr(c.schemas.map(schemaJson)),
    "stop_sync" -> MiniJson.bool(c.stopSync),
    "start_offset" -> c.startOffset.map { case (seg, line) =>
      JObj.of("segment" -> MiniJson.str(seg), "line" -> MiniJson.num(line))
    }.getOrElse(MiniJson.JNull),
    "max_lines_per_trigger" ->
      c.maxLinesPerTrigger.map(n => MiniJson.num(n)).getOrElse(MiniJson.JNull),
    "materialize" -> JObj(scala.collection.immutable.ListMap.from(
      c.materializePk.toSeq.sorted.map { case (k, v) => k -> MiniJson.str(v) })),
    "history" -> JObj(scala.collection.immutable.ListMap.from(
      c.historyPk.toSeq.sorted.map { case (k, v) => k -> MiniJson.str(v) })),
    "compact_every" -> MiniJson.num(c.compactEvery.toLong)))

  private def schemaJson(s: TableSchema): JValue = JObj.of(
    "database" -> MiniJson.str(s.database),
    "table" -> MiniJson.str(s.table),
    "version" -> MiniJson.num(s.version.toLong),
    "columns" -> MiniJson.arr(s.columns.map(c => JObj.of(
      "name" -> MiniJson.str(c.name),
      "type" -> MiniJson.str(c.mysqlType)))))

  def fromJson(v: JValue): Either[String, TaskConfig] = {
    def s(f: String, default: String = ""): String =
      (v \ f).flatMap(_.asString).getOrElse(default)
    val schemas = (v \ "schemas").flatMap(_.asArr).getOrElse(Vector.empty)
      .flatMap { sv =>
        for {
          db <- (sv \ "database").flatMap(_.asString)
          t <- (sv \ "table").flatMap(_.asString)
        } yield TableSchema(db, t,
          (sv \ "columns").flatMap(_.asArr).getOrElse(Vector.empty).flatMap { cv =>
            (cv \ "name").flatMap(_.asString)
              .map(n => ColumnDef(n, (cv \ "type").flatMap(_.asString).getOrElse("")))
          },
          (sv \ "version").flatMap(_.asLong).getOrElse(0L).toInt)
      }
    TaskConfig(
      taskId = s("task_id"),
      sourceDir = s("source_dir"),
      sinkDir = s("sink_dir"),
      checkpointDir = s("checkpoint_dir"),
      databases = v.strings("database"),
      tables = v.strings("tables"),
      excludeTables = v.strings("exclude_table"),
      startingOffsets = s("starting_offsets", "earliest"),
      trigger = s("trigger", "available_now"),
      schemas = schemas,
      stopSync = (v \ "stop_sync").flatMap(_.asBool).getOrElse(false),
      startOffset = for {
        so <- (v \ "start_offset")
        seg <- (so \ "segment").flatMap(_.asString)
        line <- (so \ "line").flatMap(_.asLong)
      } yield (seg, line),
      maxLinesPerTrigger = (v \ "max_lines_per_trigger").flatMap(_.asLong),
      materializePk = (v \ "materialize").flatMap(_.asObj)
        .map(_.toSeq.flatMap { case (k, pv) => pv.asString.map(k -> _) }.toMap)
        .getOrElse(Map.empty),
      historyPk = (v \ "history").flatMap(_.asObj)
        .map(_.toSeq.flatMap { case (k, pv) => pv.asString.map(k -> _) }.toMap)
        .getOrElse(Map.empty),
      compactEvery = (v \ "compact_every").flatMap(_.asLong)
        .map(_.toInt).getOrElse(8)
    ).validate
  }

  def parse(json: String): Either[String, TaskConfig] =
    MiniJson.parse(json).flatMap(fromJson)
}

/** Durable task store — the badger `galaxy_task_*` prefix scan analog
  * (`internal/storage/storage.go:150-169`): one JSON file per task.
  */
final class TaskStore(dir: Path) {
  Files.createDirectories(dir)
  private def fileOf(id: String): Path = dir.resolve(s"galaxy_task_$id.json")

  def put(c: TaskConfig): Unit =
    Files.write(fileOf(c.taskId),
      TaskConfig.toJson(c).getBytes(StandardCharsets.UTF_8))

  def get(id: String): Option[TaskConfig] = {
    val f = fileOf(id)
    if (!Files.exists(f)) None
    else TaskConfig.parse(Files.readString(f)).toOption
  }

  def delete(id: String): Unit = Files.deleteIfExists(fileOf(id))

  /** Stable per-task schema-registry dir (survives recovery_v2's fresh
    * checkpoint — schemas are task state, not stream position).
    */
  def registryDir(id: String): Path = dir.resolve(s"registry_$id")

  def all(): Seq[TaskConfig] =
    Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("galaxy_task_"))
      .flatMap(p => TaskConfig.parse(Files.readString(p)).toOption)
      .toSeq.sortBy(_.taskId)
}

/** Task lifecycle manager — operators C1–C9 of SURVEY.md §2.5 on Structured
  * Streaming: one `StreamingQuery` per task, checkpoint-per-task, live
  * filter swap without restart (C4), boot recovery (C7), and the
  * reference's three stop modes (C3):
  *   - `stop`: graceful `query.stop()` at the batch boundary + StopSync
  *     persisted;
  *   - `recovery_v1`: restart from the SAME checkpoint (resume position);
  *   - `recovery_v2`: wipe the checkpoint and seed `startingOffsets=latest`
  *     (the reference zeroes `PositionPos` ⇒ restart from master's head,
  *     `update_task.go:67`).
  */
final class TaskService(spark: SparkSession, store: TaskStore) {

  final case class Running(config: TaskConfig, registry: SchemaRegistry,
      pipeline: CdcPipeline, query: StreamingQuery)

  private val tasks = new ConcurrentHashMap[String, Running]()

  /** C7: restart all non-stopped persisted tasks from their checkpoints. */
  def recoverAll(): Seq[String] =
    store.all().filterNot(_.stopSync).map { c => start(c); c.taskId }

  /** C1: validate → duplicate check → persist → start. */
  def postTask(c0: TaskConfig): Either[String, String] =
    c0.validate.flatMap { c =>
      if (tasks.containsKey(c.taskId)) Left(s"task ${c.taskId} already exists")
      else {
        store.put(c.copy(stopSync = false))
        try Right(start(c))
        catch { case NonFatal(e) => Left(s"start failed: ${e.getMessage}") }
      }
    }

  private def start(c: TaskConfig): String = {
    import spark.implicits._
    val registry = new SchemaRegistry(Some(store.registryDir(c.taskId)))
    c.schemas.foreach(s => if (registry.get(s.database, s.table).isEmpty)
      registry.put(s))
    val pipeline = new CdcPipeline(c.taskId, registry, c.filter)
    val reader = spark.readStream.format("graft-cdc")
      .option("path", c.sourceDir)
      .option("startingOffsets", c.resolvedStartingOffsets)
    c.maxLinesPerTrigger.foreach(n =>
      reader.option("maxLinesPerTrigger", n.toString))
    val events = reader.load().as[RawBinlogEvent]
    val trigger = c.trigger match {
      case t if t.startsWith("processing=") =>
        Trigger.ProcessingTime(t.stripPrefix("processing="))
      case _ => Trigger.AvailableNow()
    }
    val serving = Option.when(c.materializePk.nonEmpty)(
      new graft.streaming.CdcServingTable(
        s"${c.sinkDir.stripSuffix("/")}/_serving", c.materializePk))
    val history = Option.when(c.historyPk.nonEmpty)(
      new graft.streaming.CdcHistoryTable(
        s"${c.sinkDir.stripSuffix("/")}/_history", c.historyPk))
    val query = pipeline.startProjected(events, c.checkpointDir,
      (envs, batchId) => {
        // up to three consumers of one batch: cache so the projection
        // runs once
        val cached = envs.persist()
        val envelopeWrite = () =>
          graft.cdc.Envelope.toKafkaFrame(cached, c.taskId)
            .write.mode("append").parquet(c.sinkDir)
        val merge = serving.map(s => () => s.merge(cached))
        val append = history.map(h => () => {
          h.append(cached)
          // compaction on the appending thread — the single-writer seat
          // CdcHistoryTable.compact's contract requires. Cadence keys on
          // the CHECKPOINTED batchId, not an in-memory counter: a counter
          // restarts at 0 with the process, and a deployment that bounces
          // more often than compactEvery batches would starve compaction
          // forever. prune keeps two versions so an in-flight reader
          // never loses its snapshot.
          if ((batchId + 1) % c.compactEvery == 0) {
            h.compact(cached.sparkSession)
            h.prune()
          }
        })
        try TaskService.runConcurrently(s"cdc-sink-${c.taskId}-$batchId",
          Seq(envelopeWrite) ++ merge ++ append)
        finally { cached.unpersist(); () }
      },
      trigger)
    tasks.put(c.taskId, Running(c, registry, pipeline, query))
    c.taskId
  }

  /** C2: live task map view. */
  def list(): Seq[(String, Boolean)] =
    tasks.asScala.toSeq.sortBy(_._1).map { case (id, r) =>
      (id, r.query.isActive)
    }

  def get(id: String): Option[Running] = Option(tasks.get(id))

  /** C3: stop / recovery_v1 / recovery_v2. */
  def stopTask(id: String, mode: String): Either[String, String] = mode match {
    case "stop" =>
      Option(tasks.get(id)) match {
        case Some(r) =>
          r.query.stop(); r.query.awaitTermination(30000)
          tasks.remove(id)
          store.put(r.config.copy(stopSync = true))
          Right(s"task $id stopped")
        case None =>
          // already-stopped task: persist the flag anyway (idempotent)
          store.get(id)
            .map { c => store.put(c.copy(stopSync = true)); s"task $id stopped" }
            .toRight(s"no task $id")
      }
    case "recovery_v1" => restart(id, wipeCheckpoint = false)
    case "recovery_v2" => restart(id, wipeCheckpoint = true)
    case other => Left(s"unknown stop_type '$other'")
  }

  private def restart(id: String, wipeCheckpoint: Boolean): Either[String, String] = {
    stopQuietly(id)
    store.get(id).toRight(s"no task $id").flatMap { c =>
      val cfg =
        if (!wipeCheckpoint) c.copy(stopSync = false)
        else {
          // recovery_v2: zero the position ⇒ resume from latest. A FRESH
          // checkpoint dir (not an in-place wipe) avoids colliding with the
          // engine's active-checkpoint registration for the old run —
          // exactly the "new checkpoint dir + startingOffsets=latest"
          // mapping of SURVEY.md §3.3.
          val fresh = s"${c.checkpointDir.stripSuffix("/")}-v2-${System.nanoTime()}"
          // a configured historical backfill must not replay again either —
          // v2 means "from the head", full stop
          c.copy(stopSync = false, startingOffsets = "latest",
            startOffset = None, checkpointDir = fresh)
        }
      store.put(cfg)
      try Right(start(cfg)) catch { case NonFatal(e) => Left(e.getMessage) }
    }
  }

  /** C4: swap filter rules on the RUNNING pipeline (next micro-batch). */
  def updateTask(id: String, databases: Seq[String], tables: Seq[String],
      excludeTables: Seq[String]): Either[String, String] =
    withTask(id) { r =>
      val f = TaskFilter(databases, tables, excludeTables)
      r.pipeline.updateFilter(f)
      store.put(r.config.copy(databases = databases, tables = tables,
        excludeTables = excludeTables))
      s"task $id filters updated"
    }

  /** C5: stop + forget (config removed; checkpoint left for forensics). */
  def deleteTask(id: String): Either[String, String] = {
    stopQuietly(id)
    if (store.get(id).isEmpty && !tasks.containsKey(id)) Left(s"no task $id")
    else { tasks.remove(id); store.delete(id); Right(s"task $id deleted") }
  }

  /** C6: "attempt repair" — bounce the query, resume from checkpoint. */
  def restorationTask(id: String): Either[String, String] =
    restart(id, wipeCheckpoint = false)

  def stopAll(): Unit = tasks.asScala.keys.foreach(stopQuietly)

  private def stopQuietly(id: String): Unit =
    Option(tasks.get(id)).foreach { r =>
      try { r.query.stop(); r.query.awaitTermination(30000) }
      catch { case NonFatal(_) => () }
      tasks.remove(id)
    }

  private def withTask[A](id: String)(f: Running => A): Either[String, A] =
    Option(tasks.get(id)).map(r => Right(f(r))).getOrElse(Left(s"no task $id"))
}

object TaskService {

  /** Runs a batch's sink consumers and returns once every one has
    * finished. One consumer runs inline; several run on threads started
    * here, so each inherits the caller's Spark local properties — the
    * stream's job group, which `query.stop()` cancels, and its SQL
    * execution id. A failure surfaces only after all have finished: the
    * first consumer's in `bodies` order, with the others' suppressed. An
    * interrupt of the caller interrupts every consumer, waits for them,
    * then rethrows.
    */
  private[graft] def runConcurrently(name: String,
      bodies: Seq[() => Unit]): Unit = bodies match {
    case Seq(only) => only()
    case _ =>
      val failures = new Array[Throwable](bodies.size)
      val threads = bodies.zipWithIndex.map { case (body, i) =>
        val t = new Thread(() =>
          try body() catch { case e: Throwable => failures(i) = e },
          s"$name-$i")
        t.setDaemon(true)
        t.start()
        t
      }
      try threads.foreach(_.join())
      catch {
        case e: InterruptedException =>
          threads.foreach(_.interrupt())
          threads.foreach(joinUninterruptibly)
          throw e
      }
      failures.filter(_ != null) match {
        case Array() => ()
        case Array(first, rest @ _*) =>
          rest.foreach(first.addSuppressed)
          throw first
      }
  }

  private def joinUninterruptibly(t: Thread): Unit = {
    var interrupted = false
    while (t.isAlive)
      try t.join() catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
  }
}
