package perfbench

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Path, StandardOpenOption => O}

import scala.collection.mutable

import graft.model.{ColumnDef, TableSchema}

/** Seeded MySQL-binlog generator writing `graft-cdc` segment files
  * (`master.NNNNNN.jsonl`, one `RawBinlogEvent` JSON per line). It keeps
  * what a correct CDC consumer must produce from the log: envelope counts
  * per table, each table's column list at every log position, and the
  * last-writer-wins row image per key.
  */
final class Binlog(seed: Long, val dir: Path, segLines: Int) {
  private val rnd = new java.util.SplittableRandom(seed)

  final class Table(val db: String, val name: String, var cols: Vector[String]) {
    def key: String = s"$db.$name"
    var nextId = 1L
    var extras = 0
    var added = Vector.empty[String]
    val live = mutable.LinkedHashSet.empty[Long]
    /** (first log position, column list) in log order. */
    val timeline = mutable.ArrayBuffer(0L -> cols)
    var envelopes = 0L
    /** (log position, envelopes) of each rows event, in log order. */
    val events = mutable.ArrayBuffer.empty[(Long, Int)]
    def colsAt(pos: Long): Vector[String] = timeline.takeWhile(_._1 <= pos).last._2
    def initial: TableSchema =
      TableSchema(db, name, timeline.head._2.map(c =>
        ColumnDef(c, if (c == "id") "bigint" else "varchar(32)")))
  }

  val tables = mutable.ArrayBuffer.empty[Table]
  def addTable(db: String, name: String, cols: Vector[String]): Table = {
    val t = new Table(db, name, cols)
    tables += t
    t
  }

  /** Last-writer-wins image per (db.table, pk); None = deleted. */
  val state = mutable.HashMap.empty[(String, String), Option[Map[String, String]]]
  var lines = 0L           // lines written (global index of the next line)
  var rowImages = 0L       // row images in rows events
  private var logPos = 4L
  private var segNo = 0
  private var segFill = segLines // forces the first segment open
  private var ch: FileChannel = _
  /** Global index of each segment's first line, by segment name; read by
    * the progress listener while the generator rotates segments.
    */
  val segStart = scala.collection.concurrent.TrieMap.empty[String, Long]
  private val buf = new java.lang.StringBuilder

  def segName(n: Int): String = f"master.$n%06d.jsonl"

  /** The segment the next line lands in, rotating when the current is full. */
  private def seg(): String = {
    if (segFill >= segLines) {
      flush()
      if (ch != null) ch.close()
      segNo += 1
      segStart(segName(segNo)) = lines
      ch = FileChannel.open(dir.resolve(segName(segNo)), O.CREATE, O.WRITE, O.APPEND)
      segFill = 0
    }
    segName(segNo)
  }

  private def emit(json: String): Unit = {
    buf.append(json).append('\n')
    segFill += 1
    lines += 1
    logPos += 1
  }

  /** Make every emitted line visible with one write per call. */
  def flush(): Unit = if (buf.length > 0) {
    val bb = ByteBuffer.wrap(buf.toString.getBytes("UTF-8"))
    while (bb.hasRemaining) ch.write(bb)
    buf.setLength(0)
  }

  def close(): Unit = { flush(); if (ch != null) ch.close() }

  private def ts: Long = 1700000000L + lines / 50

  private def rowJson(r: Seq[String]): String = r.map(v => "\"" + v + "\"").mkString("[", ",", "]")

  private def rowsEvent(t: Table, kind: String, rows: Seq[Seq[String]], envelopes: Int): Unit = {
    rowImages += rows.length
    t.envelopes += envelopes
    t.events += ((logPos, envelopes))
    emit(s"""{"file":"${seg()}","logPos":$logPos,"timestamp":$ts,"eventType":"$kind","database":"${t.db}","table":"${t.name}","rows":${rows.map(rowJson).mkString("[", ",", "]")},"errorCode":0,"position":0}""")
  }

  private def image(t: Table, id: Long): Vector[String] =
    t.cols.map(c => if (c == "id") id.toString else s"${c.take(2)}${rnd.nextInt(1000000)}")

  private def record(t: Table, id: Long, img: Option[Vector[String]]): Unit =
    state((t.key, id.toString)) = img.map(v => t.cols.zip(v).toMap)

  def insert(t: Table, n: Int): Unit =
    insertIds(t, (0 until n).map { _ => val id = t.nextId; t.nextId += 1; id })

  /** Insert given keys; a key deleted earlier comes back (delete, then
    * re-insert).
    */
  def insertIds(t: Table, ids: Seq[Long]): Unit = {
    val rows = ids.map { id =>
      t.live += id
      val img = image(t, id); record(t, id, Some(img)); img
    }
    rowsEvent(t, "write_rows", rows, ids.size)
  }

  def update(t: Table, id: Long): Unit = {
    val before = state((t.key, id.toString)).get
    val after = image(t, id)
    record(t, id, Some(after))
    rowsEvent(t, "update_rows", Seq(t.cols.map(before.getOrElse(_, "")), after), 1)
  }

  def delete(t: Table, id: Long): Unit = {
    val before = state((t.key, id.toString)).get
    t.live -= id
    record(t, id, None)
    rowsEvent(t, "delete_rows", Seq(t.cols.map(before.getOrElse(_, ""))), 1)
  }

  /** ALTER TABLE ADD COLUMN, or DROP of the newest added column. */
  def alter(t: Table, add: Boolean): Unit = {
    val sql =
      if (add || t.added.isEmpty) {
        t.extras += 1
        val c = s"x${t.extras}"
        t.added :+= c; t.cols :+= c
        s"ALTER TABLE ${t.name} ADD COLUMN $c varchar(32)"
      } else {
        val c = t.added.last
        t.added = t.added.init; t.cols = t.cols.filterNot(_ == c)
        s"ALTER TABLE ${t.name} DROP COLUMN $c"
      }
    emit(s"""{"file":"${seg()}","logPos":$logPos,"timestamp":$ts,"eventType":"query","database":"${t.db}","query":"$sql","errorCode":0,"position":0}""")
    t.timeline += ((logPos, t.cols))
  }

  /** Skewed pick of a live key: the low ids are hot. */
  def skewedLive(t: Table): Option[Long] =
    if (t.live.isEmpty) None
    else {
      val u = rnd.nextDouble()
      val ix = (t.live.size * u * u * u).toInt
      Some(t.live.iterator.drop(ix).next())
    }

  def nextDouble(): Double = rnd.nextDouble()
  def nextInt(n: Int): Int = rnd.nextInt(n)

  /** Global line index of a source offset `(segment, line)`. */
  def globalLine(segment: String, line: Long): Long =
    if (segment.isEmpty) 0L else segStart.getOrElse(segment, 0L) + line
}

/** Zipf(s) sampler over 0 until n. */
final class Zipf(n: Int, s: Double, seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def next(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}
