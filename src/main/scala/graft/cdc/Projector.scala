package graft.cdc

import org.apache.spark.sql.{Column, Dataset, functions}
import org.apache.spark.sql.functions._

import graft.model._

/** Raw binlog rows-event → `MQEvent` envelope projection — operators P1–P4
  * of SURVEY.md §2.3.
  *
  * Reference semantics:
  *   - insert (`rowEventInsert`, `process.go:184-214`): each row image zipped
  *     positionally with the table's ordered column names → `after` map;
  *   - delete (`rowEventDelete`, `process.go:151-182`): same → `before` map;
  *   - update (`rowEventUpdate`, `process.go:114-149`): rows consumed in
  *     (i, i+1) pairs, one event per pair — requires an even row count ≥ 2.
  *     ⚠ The reference labels `After = Rows[i]`, `Before = Rows[i+1]`
  *     (`process.go:138-141`), i.e. swapped vs. the MySQL binlog's
  *     (before, after) pair order. We use the CORRECT orientation
  *     (before = first image, after = second); the discrepancy is pinned by
  *     `ProjectorSpec`.
  *   - column-count validation (`process.go:192-196`): a row image whose
  *     arity differs from the registered schema drops the event (schema
  *     drift mid-stream) rather than emitting a misaligned map.
  *
  * Scale: the per-(db,table) column lists ride in the PLAN as a literal map
  * (read-through cache analog of `baseinfo.go:39-58`; per-task registries
  * are a few KB); the projection is pure codegen'd Column expressions,
  * embarrassingly parallel across source partitions, so throughput scales
  * linearly with executors while per-partition order is preserved (the
  * reference's single-thread ordering guarantee, `sync.go:105`, holds per
  * source partition).
  */
object Projector {

  /** The column lists of a table whose DDL changed it inside the projected
    * range: `initial` is in force before the first change, and each
    * `(position, columns)` change from its `(file, logPos)` on. Changes are
    * in log order.
    */
  final case class ColumnHistory(initial: Seq[String],
      changes: Seq[((String, Long), Seq[String])])

  /** Zip one positional row image with its ordered column names. */
  def zipRow(columns: Seq[String], row: Seq[String]): Map[String, String] =
    columns.iterator.zip(row.iterator).toMap

  /** Project one raw rows-event into zero or more envelopes, given the
    * ordered column list for its table (None ⇒ unknown table ⇒ drop).
    */
  def projectEvent(
      e: RawBinlogEvent,
      columns: Option[Seq[String]]
  ): Seq[MQEvent] = {
    val header = EventHeader(e.timestamp, e.logPos,
      Option(e.file).getOrElse(""))
    Actions.ofEventType(e.eventType) match {
      case None => Seq.empty
      case Some(action) =>
        columns match {
          case None => Seq.empty
          case Some(cols) =>
            val arityOk = e.rows.forall(_.length == cols.length)
            if (!arityOk) Seq.empty
            else
              action match {
                case Actions.Insert =>
                  e.rows.map { row =>
                    MQEvent(e.database, e.table, action,
                      before = Map.empty, after = zipRow(cols, row),
                      orgRow = Seq(row), eventHeader = header)
                  }
                case Actions.Delete =>
                  e.rows.map { row =>
                    MQEvent(e.database, e.table, action,
                      before = zipRow(cols, row), after = Map.empty,
                      orgRow = Seq(row), eventHeader = header)
                  }
                case Actions.Update =>
                  // even-count pairing guard: process.go:115-117
                  if (e.rows.length < 2 || e.rows.length % 2 != 0) Seq.empty
                  else
                    e.rows.grouped(2).map { pair =>
                      val (beforeRow, afterRow) = (pair(0), pair(1))
                      MQEvent(e.database, e.table, action,
                        before = zipRow(cols, beforeRow),
                        after = zipRow(cols, afterRow),
                        orgRow = Seq(beforeRow, afterRow),
                        eventHeader = header)
                    }.toSeq
                case _ => Seq.empty
              }
        }
    }
  }

  /** Distributed projection: filter (F1–F3) + project (P1–P4) over a typed
    * Dataset. Works identically on batch Datasets and streaming Datasets
    * (the same code path serves offline replay and Structured Streaming
    * micro-batches).
    *
    * Implementation is pure Column expressions — the whole projection stays
    * inside whole-stage codegen (no Encoder round-trip, no per-row Scala
    * allocation):
    *   - the schema snapshot rides in the plan as a LITERAL map
    *     (`"db.table" → array<col names>`) — per-task registries are a few
    *     KB, so no broadcast lifecycle to manage; Catalyst constant-folds
    *     the lookup;
    *   - each event expands to an array of (before-image, after-image)
    *     units — rows 1:1 for insert/delete, consecutive (i, i+1) pairs for
    *     update — then ONE `explode` emits the envelopes;
    *   - named images are `map_from_arrays(cols, image)` — the codegen'd
    *     equivalent of [[zipRow]];
    *   - a table in `evolved` (DDL changed it inside the range) instead
    *     takes the column list in force at each event's `(file, logPos)`
    *     — log-order DDL.
    * Semantic equivalence with [[projectEvent]] (the executable spec of the
    * reference's `process.go:114-214`) is pinned by `ProjectorSpec`.
    */
  def project(
      events: Dataset[RawBinlogEvent],
      schemaSnapshot: Map[String, Seq[String]],
      filter: TaskFilter = TaskFilter.allowAll,
      evolved: Map[String, ColumnHistory] = Map.empty
  ): Dataset[MQEvent] = {
    val spark = events.sparkSession
    import spark.implicits._

    // literal "db.table" -> ordered column names (sorted for plan
    // stability). An EMPTY snapshot must still go through the Column
    // pipeline — returning a fresh empty Dataset would silently change a
    // STREAMING input into a batch one; a null lookup drops every row via
    // the cols.isNotNull guard instead.
    val tableKey = concat_ws(".", $"database", $"table")
    val literalLookup: Column =
      if (schemaSnapshot.isEmpty) lit(null).cast("array<string>")
      else element_at(
        map(schemaSnapshot.toSeq.sortBy(_._1).flatMap { case (k, cols) =>
          Seq(lit(k), array(cols.map(lit): _*))
        }: _*),
        tableKey)
    // tables DDL changed inside the range, as ONE literal map — table →
    // each change's position with the column list in force before it, in
    // log order — so the plan's shape (and its generated code) does not
    // depend on how many tables or changes a batch holds. An event takes
    // the list of the first change ahead of it; past every change, the
    // snapshot's (final) list.
    val schemaLookup: Column =
      if (evolved.isEmpty) literalLookup
      else {
        val ahead = typedLit(evolved.map { case (k, h) =>
          k -> h.changes.map(_._1).zip(h.initial +: h.changes.map(_._2))
            .map { case ((file, pos), cols) => (file, pos, cols) }
        })
        val segment = coalesce($"file", lit(""))
        val pending = functions.filter(element_at(ahead, tableKey), c =>
          segment < c("_1") || (segment === c("_1") && $"logPos" < c("_2")))
        coalesce(try_element_at(pending, lit(1)).getField("_3"), literalLookup)
      }

    val action = when($"eventType" === "write_rows", Actions.Insert)
      .when($"eventType" === "update_rows", Actions.Update)
      .when($"eventType" === "delete_rows", Actions.Delete)

    val unitType = "array<struct<b:array<string>,a:array<string>>>"
    val noImage = lit(null).cast("array<string>")
    val insertUnits =
      transform($"rows", r => struct(noImage.as("b"), r.as("a")))
    val deleteUnits =
      transform($"rows", r => struct(r.as("b"), noImage.as("a")))
    // update pairing (P3): rows consumed as (before, after) consecutive
    // pairs; odd/short row lists drop the whole event (process.go:115-117)
    val updateUnits =
      when(size($"rows") >= 2 && size($"rows") % 2 === 0,
        transform(sequence(lit(0), (size($"rows") / 2).cast("int") - 1), i =>
          struct(element_at($"rows", i * 2 + 1).as("b"),
            element_at($"rows", i * 2 + 2).as("a"))))
        .otherwise(lit(null).cast(unitType))

    val emptyImage = typedLit(Map.empty[String, String])
    def named(image: Column): Column =
      when(image.isNull, emptyImage).otherwise(map_from_arrays($"cols", image))

    events.toDF()
      .filter($"database".isNotNull && $"table".isNotNull &&
        filter.column($"database", $"table"))
      .withColumn("action", action)
      .filter($"action".isNotNull)
      .withColumn("cols", schemaLookup)
      .select($"database", $"table", $"action", $"cols",
        $"timestamp", $"logPos", $"file",
        // an unknown table and the arity guard (process.go:192-196: ANY
        // mismatched row image drops the whole event — schema drift
        // mid-stream must not emit misaligned maps) explode to nothing.
        // Guarding here, not in a filter, keeps the lookup to one
        // evaluation per event: a filter would be pushed below the
        // lookup's projection with `cols` inlined into it.
        explode(when($"cols".isNotNull &&
            forall($"rows", r => size(r) === size($"cols")),
          when($"action" === Actions.Insert, insertUnits)
            .when($"action" === Actions.Delete, deleteUnits)
            .otherwise(updateUnits))).as("u"))
      .select(
        $"database", $"table", $"action",
        named($"u.b").as("before"),
        named($"u.a").as("after"),
        when($"action" === Actions.Update, array($"u.b", $"u.a"))
          .when($"action" === Actions.Insert, array($"u.a"))
          .otherwise(array($"u.b")).as("orgRow"),
        struct($"timestamp", $"logPos",
          coalesce($"file", lit("")).as("segment")).as("eventHeader"))
      .as[MQEvent]
  }
}
