package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.model.{EventHeader, MQEvent}

/** The CDC full-history materializer ([[CdcHistoryTable]]) — SCD2 validity
  * intervals over the append-only changelog, time-travel reads, replay
  * idempotence at read time, and rotation-safe version ordering.
  */
class CdcHistorySpec extends SparkSpec {

  private def env(action: String, id: Long, name: String, ts: Long,
      pos: Long, seg: String = ""): MQEvent = {
    val img = Map("id" -> id.toString, "name" -> name)
    MQEvent("shop", "orders", action,
      before = if (action == "insert") Map.empty else img,
      after = if (action == "delete") Map.empty else img,
      orgRow = Seq(img.values.toSeq),
      eventHeader = EventHeader(ts, pos, seg))
  }

  private def mkTable(): CdcHistoryTable = new CdcHistoryTable(
    Files.createTempDirectory("cdc-hist").toString, Map("shop.orders" -> "id"))

  // key 1: insert -> update -> delete -> re-insert; key 2: insert only
  private def seed(t: CdcHistoryTable): Unit = {
    import spark.implicits._
    t.append(Seq(env("insert", 1, "a", 10, 1), env("insert", 2, "b", 11, 2)).toDS())
    t.append(Seq(env("update", 1, "a2", 12, 3), env("delete", 1, "a2", 13, 4)).toDS())
    t.append(Seq(env("insert", 1, "a3", 14, 5)).toDS())
  }

  test("history: SCD2 intervals chain per key; is_current marks the live " +
      "non-tombstone head") {
    val t = mkTable()
    seed(t)
    val h = t.history(spark).collect()
      .map(r => (r.getAs[String]("pk"), r.getAs[Long]("valid_from")) ->
        (Option(r.getAs[Any]("valid_to")).map(_.asInstanceOf[Long]),
          r.getAs[String]("action"), r.getAs[Boolean]("is_current")))
      .toMap
    assert(h.size === 5)
    // key 1's chain: each version's valid_to is the next version's valid_from
    assert(h(("1", 10L)) === ((Some(12L), "insert", false)))
    assert(h(("1", 12L)) === ((Some(13L), "update", false)))
    assert(h(("1", 13L)) === ((Some(14L), "delete", false)))
    assert(h(("1", 14L)) === ((None, "insert", true)))
    // key 2: single open interval
    assert(h(("2", 11L)) === ((None, "insert", true)))
  }

  test("history: a key whose LAST change is a delete has no current row") {
    import spark.implicits._
    val t = mkTable()
    t.append(Seq(env("insert", 3, "c", 20, 1), env("delete", 3, "c", 21, 2)).toDS())
    val cur = t.history(spark).filter("is_current").collect()
    assert(cur.isEmpty, "a tombstoned key must not be current")
  }

  test("redelivered batch appends duplicates to the log but history and " +
      "asOf absorb them (exactly-once effect)") {
    import spark.implicits._
    val t = mkTable()
    seed(t)
    val before = t.history(spark).collect().toSet
    val asOfBefore = t.asOf(spark, 12).collect().toSet
    // redeliver the middle batch — the log grows, the views must not move
    t.append(Seq(env("update", 1, "a2", 12, 3), env("delete", 1, "a2", 13, 4)).toDS())
    assert(t.changelog(spark).count() === 7, "append-only log keeps the dup")
    assert(t.history(spark).collect().toSet === before,
      "redelivery changed the history view")
    assert(t.asOf(spark, 12).collect().toSet === asOfBefore,
      "redelivery changed the as-of view")
  }

  test("asOf: latest version at or before the cut, tombstones excluded, " +
      "resurrection visible after") {
    val t = mkTable()
    seed(t)
    def names(ts: Long): Map[String, String] =
      t.asOf(spark, ts).collect()
        .map(r => r.getAs[String]("pk") -> r.getAs[String]("after_json")).toMap
    assert(names(9) === Map.empty)
    val at11 = names(11)
    assert(at11.keySet === Set("1", "2") && at11("1").contains("\"a\""))
    assert(names(12)("1").contains("a2"))
    assert(names(13).keySet === Set("2"), "key 1 is deleted at ts 13")
    assert(names(14)("1").contains("a3"), "re-insert resurrects key 1")
  }

  test("rotation within one second: (ts, segment, logPos) orders history " +
      "across files where (ts, logPos) alone would invert the chain") {
    import spark.implicits._
    val t = mkTable()
    // older event: end of 000001, pos 5000; newer: start of 000002, pos
    // 120; same second — (ts, logPos) alone would order them backwards
    t.append(Seq(
      env("insert", 1, "stale", 10, 5000, "master.000001"),
      env("update", 1, "fresh", 10, 120, "master.000002")).toDS())
    val cur = t.history(spark).filter("is_current").collect()
    assert(cur.length === 1 && cur.head.getAs[String]("after_json").contains("fresh"),
      "segment must break the intra-second tie in rotation order")
    assert(t.asOf(spark, 10).collect().head.getAs[String]("after_json")
      .contains("fresh"))
  }

  test("compact: fat partition collapses to one file, log multiset and " +
      "views unchanged, duplicates preserved") {
    import spark.implicits._
    val t = mkTable()
    seed(t)
    // a redelivered duplicate — compaction must carry it verbatim
    t.append(Seq(env("insert", 1, "a3", 14, 5)).toDS())
    val logBefore = t.changelog(spark).collect()
      .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val histBefore = t.history(spark).collect().toSet
    def files(tmp: CdcHistoryTable): Int = {
      val d = tmp.changelog(spark).inputFiles
      d.length
    }
    assert(files(t) >= 4, "four appends must leave at least four files")
    val rewritten = t.compact(spark, maxFiles = 1)
    assert(rewritten === 1, "exactly the shop.orders partition is fat")
    assert(files(t) === 1, "compacted partition must be one file")
    val logAfter = t.changelog(spark).collect()
      .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(logAfter === logBefore, "compaction changed the log multiset")
    assert(t.history(spark).collect().toSet === histBefore)
  }

  test("compact: untouched partitions are hard-linked, not rewritten; " +
      "appends after compact remain visible") {
    import spark.implicits._
    val tdir = Files.createTempDirectory("cdc-hist").toString
    val t = new CdcHistoryTable(tdir,
      Map("shop.orders" -> "id", "shop.users" -> "id"))
    // orders: 3 appends (fat); users: 1 append (thin)
    t.append(Seq(env("insert", 1, "a", 10, 1)).toDS())
    t.append(Seq(env("insert", 2, "b", 11, 2)).toDS())
    t.append(Seq(env("insert", 3, "c", 12, 3)).toDS())
    val user = MQEvent("shop", "users", "insert", Map.empty,
      Map("id" -> "7", "name" -> "u"), Seq(Seq("7", "u")),
      EventHeader(13, 4, ""))
    t.append(Seq(user).toDS())
    val thinBefore = new java.io.File(tdir, "log/v0/tbl=shop.users")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(t.compact(spark, maxFiles = 2) === 1)
    val thinAfter = new java.io.File(tdir, "log/v1/tbl=shop.users")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(thinAfter.map(_.getName).toSet === thinBefore,
      "thin partition files must carry over by name (hard links)")
    thinAfter.foreach { f =>
      assert(java.nio.file.Files.isSameFile(f.toPath,
        new java.io.File(tdir, s"log/v0/tbl=shop.users/${f.getName}").toPath),
        "carried file must be the same inode, not a copy")
    }
    // post-compact appends land in the new version and are visible
    t.append(Seq(env("insert", 4, "d", 14, 5)).toDS())
    assert(t.changelog(spark).count() === 5)
    assert(t.asOf(spark, 14).count() === 5)
  }

  test("compact: a table name that escapes in partition paths still " +
      "compacts (dir name unescaped before the prune filter)") {
    import spark.implicits._
    val tdir = Files.createTempDirectory("cdc-hist").toString
    val t = new CdcHistoryTable(tdir, Map("shop.a b" -> "id"))
    def spaced(id: Long, ts: Long, pos: Long): MQEvent = {
      val img = Map("id" -> id.toString, "name" -> s"n$id")
      MQEvent("shop", "a b", "insert", Map.empty, img,
        Seq(img.values.toSeq), EventHeader(ts, pos, ""))
    }
    t.append(Seq(spaced(1, 10, 1)).toDS())
    t.append(Seq(spaced(2, 11, 2)).toDS())
    val before = t.changelog(spark).collect().map(_.toSeq).toSet
    assert(t.compact(spark, maxFiles = 1) === 1,
      "the escaped-name partition must be seen as fat and rewritten")
    assert(CdcHistoryTable.currentLogVersion(tdir).contains(1L))
    assert(t.changelog(spark).collect().map(_.toSeq).toSet === before)
    assert(t.changelog(spark).inputFiles.length === 1,
      "rewrite must actually collapse the files, not write an empty version")
  }

  /** Asserts `body` throws the changelog's layout refusal, naming `dir`. */
  private def refusesLayout(dir: String)(body: => Any): Unit = {
    val ex = intercept[IllegalStateException] { body }
    assert(ex.getMessage.contains(dir), s"refusal names no dir: $ex")
  }

  /** The flat pre-versioned layout byte-for-byte: keyed rows appended
    * straight under `<dir>/log`, partitioned by tbl, no pointer.
    */
  private def writeFlat(dir: String, envs: Seq[MQEvent]): java.io.File = {
    import spark.implicits._
    val log = new java.io.File(dir, "log")
    CdcKeyed.changes(envs.toDS(),
      Map("shop.orders" -> "id", "shop.users" -> "id"))
      .write.mode("append").partitionBy("tbl").parquet(log.toString)
    log
  }

  test("flat pre-versioned changelog layout fails loudly: changelog, " +
      "append and compact name the log dir and move nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-hist-flat").toString
    val log = writeFlat(dir, Seq(env("insert", 1, "a", 10, 1)))
    val flatBefore = log.list().filter(_.startsWith("tbl=")).toSet
    assert(flatBefore === Set("tbl=shop.orders"))
    val t = new CdcHistoryTable(dir, Map("shop.orders" -> "id"))
    refusesLayout(log.toString) { t.changelog(spark) }
    refusesLayout(log.toString) { t.history(spark) }
    refusesLayout(log.toString) {
      t.append(Seq(env("update", 1, "a2", 12, 2)).toDS())
    }
    refusesLayout(log.toString) { t.compact(spark, maxFiles = 0) }
    assert(log.list().filter(_.startsWith("tbl=")).toSet === flatBefore,
      "a refused call moved the flat partition dirs")
    assert(!log.list().exists(n => n.startsWith("_CURRENT") ||
      n.startsWith("v")), "a refused call started a version")
  }

  test("torn flat-layout adoption fails loudly: with one dir under an " +
      "unpointed v0 and one still flat, reads and writes name the log dir") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-hist-torn").toString
    val log = writeFlat(dir, Seq(env("insert", 1, "a", 10, 1),
      env("insert", 2, "b", 11, 2).copy(table = "users")))
    // an adoption interrupted mid-move: one partition dir already inside
    // an unpointed v0, the other still flat
    val v0 = new java.io.File(log, "v0"); assert(v0.mkdirs())
    Files.move(new java.io.File(log, "tbl=shop.orders").toPath,
      new java.io.File(v0, "tbl=shop.orders").toPath)
    val t = new CdcHistoryTable(dir,
      Map("shop.orders" -> "id", "shop.users" -> "id"))
    refusesLayout(log.toString) { t.changelog(spark) }
    refusesLayout(log.toString) { t.asOf(spark, 20) }
    refusesLayout(log.toString) {
      t.append(Seq(env("update", 1, "a2", 12, 3)).toDS())
    }
    refusesLayout(log.toString) { t.compact(spark, maxFiles = 0) }
    assert(!new java.io.File(log, "_CURRENT").exists(),
      "a refused write pointed the torn v0")
    assert(new java.io.File(log, "tbl=shop.users").isDirectory,
      "a refused write moved the still-flat dir")
  }

  test("tables without a configured pk never reach the log") {
    import spark.implicits._
    val t = mkTable()
    val alien = MQEvent("shop", "carts", "insert", Map.empty,
      Map("id" -> "9", "name" -> "x"), Seq(Seq("9", "x")), EventHeader(10, 1))
    t.append(Seq(alien, env("insert", 1, "a", 10, 2)).toDS())
    assert(t.changelog(spark).count() === 1)
  }
}
