package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.cdc.{Envelope, Projector, TaskFilter}
import graft.model.{MQEvent, RawBinlogEvent}
import graft.registry.SchemaRegistry

/** The end-to-end CDC dataflow — SURVEY.md §3.1 re-expressed as Structured
  * Streaming: source → filter (F1–F3) → project (P1–P4) → envelope (P5–P6)
  * → sink.
  *
  * Live-mutable pieces (the reference mutates them on a RUNNING task):
  *   - filter rules (C4 `update_task`, `update_task.go:150-197`): held in an
  *     `AtomicReference`, re-read at the start of every micro-batch inside
  *     `foreachBatch` — an in-flight update applies on the next batch
  *     without restarting the query, matching the reference's RW-locked
  *     read at `process.go:27-38`;
  *   - schema registry (P7): DDL applies in log order, as in the
  *     reference's single-threaded loop — each rows event is projected with
  *     its table's column list as of the event's `(file, logPos)`, whether
  *     the DDL sits in an earlier micro-batch or earlier in the same one.
  *
  * Delivery: at-least-once end-to-end (checkpointed source offsets + sink
  * replay on recovery) — parity with the reference (`pkg/shared.go:21-22`).
  */
final class CdcPipeline(
    val taskId: String,
    registry: SchemaRegistry,
    initialFilter: TaskFilter = TaskFilter.allowAll
) extends Serializable {

  val filterRef = new AtomicReference[TaskFilter](initialFilter)

  /** C4: swap filter rules on the running pipeline (applies next batch). */
  def updateFilter(f: TaskFilter): Unit = filterRef.set(f)

  /** One batch (or one micro-batch) through the full dataflow. */
  def projectBatch(events: Dataset[RawBinlogEvent]): Dataset[MQEvent] =
    Projector.project(events, registry.snapshot(), filterRef.get())

  /** Batch envelope frame in Kafka wire shape (topic/key/value). */
  def envelopeBatch(events: Dataset[RawBinlogEvent]): DataFrame =
    Envelope.toKafkaFrame(projectBatch(events), taskId)

  /** Start the streaming query: micro-batches through the same projection,
    * sink chosen by the caller via `writer` (Kafka in production —
    * `format("kafka").option("kafka.acks","all")` — parquet/memory in
    * tests). A batch's DDL events are applied to the registry in
    * `(file, logPos)` order before its rows are projected, and each rows
    * event binds to the column list in force at its own position: rows
    * ahead of an `ALTER` of their table keep the pre-`ALTER` columns.
    */
  def start(
      events: Dataset[RawBinlogEvent],
      checkpointDir: String,
      writer: (DataFrame, Long) => Unit,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    startProjected(events, checkpointDir,
      (env, batchId) => writer(Envelope.toKafkaFrame(env, taskId), batchId),
      trigger)

  /** [[start]] with the sink fed the PROJECTED envelopes instead of the
    * Kafka wire frame — for consumers of the typed envelope stream, e.g.
    * the current-state materializer ([[CdcServingTable]]). DDL handling
    * and live filter swap are identical.
    */
  def startProjected(
      events: Dataset[RawBinlogEvent],
      checkpointDir: String,
      sink: (Dataset[graft.model.MQEvent], Long) => Unit,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    events.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[RawBinlogEvent], batchId: Long) =>
        // control events first: DDL → registry (F4 gate: errorCode==0,
        // database filter, non-BEGIN — process.go:216-231)
        val f = filterRef.get()
        val ddl = batch
          .filter(e => e.eventType == "query" && e.errorCode == 0)
          .collect() // DDL is rare + tiny; rows never pass this filter
        // order across segment rotation: logPos resets per binlog segment,
        // so sort by (file, logPos) — segment names are monotonic
        val before = registry.snapshot()
        val changes = ddl.sortBy(e => (Option(e.file).getOrElse(""), e.logPos))
          .flatMap { e =>
            val stmt = Option(e.query).getOrElse("")
            if (stmt.trim.equalsIgnoreCase("begin") ||
                !f.acceptsDatabase(e.database)) None
            else registry.applyDdl(e.database, stmt).map(s =>
              s.key -> ((Option(e.file).getOrElse(""), e.logPos), s.columnNames))
          }
        val evolved = changes.groupBy(_._1).map { case (k, cs) =>
          k -> Projector.ColumnHistory(before(k), cs.map(_._2).toSeq)
        }
        sink(Projector.project(batch, registry.snapshot(), f, evolved), batchId)
      }
      .queryName(s"cdc-$taskId")
      .start()
  }
}
