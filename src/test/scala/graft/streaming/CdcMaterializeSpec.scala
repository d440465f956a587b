package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.cdc.TaskFilter
import graft.model.{ColumnDef, EventHeader, MQEvent, TableSchema}
import graft.registry.SchemaRegistry

/** The CDC current-state materializer ([[CdcServingTable]]) — the
  * downstream-consumer semantics the reference's NSQ/ES/Mongo sink stubs
  * exist for: last-writer-wins row state per (table, pk), delete
  * tombstones that survive stale redelivery, resurrection by newer
  * insert, and the end-to-end wiring through the streaming pipeline.
  */
class CdcMaterializeSpec extends SparkSpec {

  private def env(action: String, id: Long, name: String, ts: Long,
      pos: Long, seg: String = ""): MQEvent = {
    val img = Map("id" -> id.toString, "name" -> name)
    MQEvent("shop", "orders", action,
      before = if (action == "insert") Map.empty else img,
      after = if (action == "delete") Map.empty else img,
      orgRow = Seq(img.values.toSeq),
      eventHeader = EventHeader(ts, pos, seg))
  }

  private def liveRows(t: CdcServingTable): Map[String, String] =
    t.snapshot(spark).collect()
      .map(r => r.getAs[String]("pk") -> r.getAs[String]("after_json")).toMap

  private def parquetFilesUnder(d: java.io.File): Seq[java.io.File] = {
    val (dirs, files) = Option(d.listFiles())
      .getOrElse(Array.empty[java.io.File]).toSeq.partition(_.isDirectory)
    files.filter(_.getName.endsWith(".parquet")) ++
      dirs.flatMap(parquetFilesUnder)
  }

  test("merge: last-writer-wins, delete tombstones, stale replay, resurrection") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-serve").toString
    val t = new CdcServingTable(dir, Map("shop.orders" -> "id"))

    // batch 1: two inserts
    t.merge(Seq(env("insert", 1, "a", 10, 1), env("insert", 2, "b", 11, 2)).toDS())
    assert(liveRows(t).keySet === Set("1", "2"))

    // batch 2: update row 1, delete row 2
    t.merge(Seq(env("update", 1, "a2", 12, 3), env("delete", 2, "b", 13, 4)).toDS())
    val after2 = liveRows(t)
    assert(after2.keySet === Set("1"))
    assert(after2("1").contains("a2"))

    // at-least-once: redelivering batch 1 must NOT resurrect the deleted
    // row or roll back the update — the tombstone/version wins
    t.merge(Seq(env("insert", 1, "a", 10, 1), env("insert", 2, "b", 11, 2)).toDS())
    assert(liveRows(t) === after2, "stale replay moved the serving table")

    // a NEWER insert resurrects the deleted key
    t.merge(Seq(env("insert", 2, "b2", 14, 5)).toDS())
    val after3 = liveRows(t)
    assert(after3.keySet === Set("1", "2"))
    assert(after3("2").contains("b2"))

    // GC old snapshot versions; the current one stays readable
    t.prune(keep = 1)
    assert(liveRows(t) === after3)
    val versions = new java.io.File(dir).list().count(_.startsWith("v"))
    assert(versions === 1, s"prune must keep exactly the current snapshot")
  }

  test("rotation within one second: (ts, segment, logPos) version orders " +
      "across files where (ts, logPos) alone would serve stale state") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-serve-rot").toString
    val t = new CdcServingTable(dir, Map("shop.orders" -> "id"))
    // logPos resets on rotate: the OLDER event (end of 000001, pos 5000)
    // has a LARGER logPos than the NEWER one (start of 000002, pos 120),
    // and the rotation happens within the same second (ts = 10 for both) —
    // exactly the case where a (ts, logPos) version serves the stale row
    t.merge(Seq(
      env("insert", 1, "stale", 10, 5000, "master.000001"),
      env("update", 1, "fresh", 10, 120, "master.000002")).toDS())
    assert(liveRows(t)("1").contains("fresh"),
      "segment must break the intra-second tie in rotation order")
    // redelivering the pre-rotation event must remain a no-op
    t.merge(Seq(env("insert", 1, "stale", 10, 5000, "master.000001")).toDS())
    assert(liveRows(t)("1").contains("fresh"))
  }

  test("partition-pruned merge: an untouched table's partition files are " +
      "carried into the new version as the SAME files (hard links), and " +
      "its content survives byte-identical") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-serve-prune").toString
    val t = new CdcServingTable(dir,
      Map("shop.orders" -> "id", "shop.audit" -> "id"))
    // batch 1 touches BOTH tables
    t.merge(Seq(env("insert", 1, "a", 10, 1),
      env("insert", 7, "log", 10, 2).copy(table = "audit")).toDS())
    val v0 = new java.io.File(dir, "v0")
    val auditDir0 = new java.io.File(v0, "tbl=shop.audit")
    assert(auditDir0.isDirectory, "snapshot must be partitioned by tbl")
    val auditFiles0 = parquetFilesUnder(auditDir0)
    assert(auditFiles0.nonEmpty)
    // batch 2 touches ONLY shop.orders
    t.merge(Seq(env("update", 1, "a2", 11, 3)).toDS())
    val v1 = new java.io.File(dir, "v1")
    val auditDir1 = new java.io.File(v1, "tbl=shop.audit")
    assert(auditDir1.isDirectory,
      "untouched partition must be carried into the new version")
    auditFiles0.foreach { f0 =>
      val f1 = new java.io.File(auditDir1,
        auditDir0.toPath.relativize(f0.toPath).toString)
      assert(f1.isFile, s"carried file missing: ${f0.getName}")
      assert(Files.isSameFile(f0.toPath, f1.toPath),
        s"untouched partition was REWRITTEN, not linked: ${f0.getName}")
    }
    // semantics unchanged: both tables serve the latest state
    val rows = t.snapshot(spark).collect()
      .map(r => (r.getAs[String]("tbl"), r.getAs[String]("pk"),
        r.getAs[String]("after_json")))
    assert(rows.collect { case ("shop.audit", "7", j) => j }
      .exists(_.contains("log")))
    assert(rows.collect { case ("shop.orders", "1", j) => j }
      .exists(_.contains("a2")))
    // GC the old version: the carried (linked) files must stay readable
    t.prune(keep = 1)
    assert(!v0.exists())
    assert(t.snapshot(spark).count() === 2)
  }

  test("bucket-pruned merge: untouched BUCKETS of a touched table carry " +
      "as hard links — a hot table's rewrite is k/buckets, not O(table)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-serve-bkt").toString
    // fixed 16-bucket modulus: this test pins bucket-LEVEL carry, which
    // needs several buckets (auto-sizing would seed this tiny table at 1)
    val t = new CdcServingTable(dir, Map("shop.orders" -> "id"),
      autoSizeTargetBytes = 0L)
    // batch 1: 16 keys spread across the pk-hash buckets
    t.merge((1L to 16L).map(i => env("insert", i, s"n$i", 10, i)).toDS())
    val ordersDir0 = new java.io.File(dir, "v0/tbl=shop.orders")
    val bkts0 = ordersDir0.listFiles().filter(d =>
      d.isDirectory && d.getName.startsWith("pkb="))
    assert(bkts0.length > 2,
      s"16 keys must spread over several pk buckets, got ${bkts0.length}")
    // batch 2: update ONE key — exactly one bucket of the table is touched
    t.merge(Seq(env("update", 1, "n1b", 11, 99)).toDS())
    val ordersDir1 = new java.io.File(dir, "v1/tbl=shop.orders")
    var rewritten = 0
    bkts0.foreach { b0 =>
      val b1 = new java.io.File(ordersDir1, b0.getName)
      assert(b1.isDirectory, s"bucket ${b0.getName} missing from v1")
      val linked = parquetFilesUnder(b0).forall { f0 =>
        val f1 = new java.io.File(b1, f0.getName)
        f1.isFile && Files.isSameFile(f0.toPath, f1.toPath)
      }
      if (!linked) rewritten += 1
    }
    assert(rewritten === 1,
      s"single-key batch must rewrite exactly 1 bucket, rewrote $rewritten")
    // semantics unchanged
    val rows = liveRows(t)
    assert(rows.keySet === (1L to 16L).map(_.toString).toSet)
    assert(rows("1").contains("n1b"))
  }

  /** Asserts `body` throws the store's layout refusal, naming `dir`. */
  private def refusesLayout(dir: String)(body: => Any): Unit = {
    val ex = intercept[IllegalStateException] { body }
    assert(ex.getMessage.contains(dir), s"refusal names no dir: $ex")
  }

  test("r11 tbl-only layout fails loudly: raw, snapshot and merge name " +
      "the version dir and leave the store as found") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-serve-legacy").toString
    val pk = Map("shop.orders" -> "id")
    // the r11 layout byte-for-byte: keyed rows partitioned by tbl only,
    // no pkb= level, no sidecars, committed by the pointer
    val v0 = new java.io.File(dir, "v0")
    CdcKeyed.changes(Seq(env("insert", 1, "a", 10, 1),
      env("insert", 2, "b", 11, 2)).toDS(), pk)
      .write.partitionBy("tbl").parquet(v0.toString)
    VersionedStore.swapPointer(dir, 0L)
    val t = new CdcServingTable(dir, pk)
    refusesLayout(v0.toString) { t.raw(spark) }
    refusesLayout(v0.toString) { t.snapshot(spark) }
    refusesLayout(v0.toString) {
      t.merge(Seq(env("update", 1, "a2", 12, 3)).toDS())
    }
    assert(VersionedStore.currentVersion(dir).contains(0L) &&
      !new java.io.File(dir, "v1").exists(),
      "a refused merge committed a version")
    assert(new java.io.File(v0, "tbl=shop.orders").listFiles()
      .forall(f => !f.getName.startsWith("pkb=")),
      "a refused merge rewrote the legacy version")
  }

  test("bootstrap: snapshot with source versions + overlapping replay " +
      "converges to the pure-replay state; refuses a non-empty store") {
    import spark.implicits._
    // full history: key 1 insert(10)→update(12); key 2 insert(11)→
    // delete(13); key 3 insert(14)
    val history = Seq(
      env("insert", 1, "a", 10, 1), env("insert", 2, "b", 11, 2),
      env("update", 1, "a2", 12, 3), env("delete", 2, "b", 13, 4),
      env("insert", 3, "c", 14, 5))
    // reference store: plain full replay
    val ref = new CdcServingTable(
      Files.createTempDirectory("cdc-ref").toString, Map("shop.orders" -> "id"))
    ref.merge(history.toDS())
    // bootstrapped store: snapshot at cut ts=12 (live keys 1@12, 2@11 —
    // SOURCE versions), then replay everything from ts >= 11 (overlap:
    // 11 and 12 are both in the snapshot AND the replay window)
    val boot = new CdcServingTable(
      Files.createTempDirectory("cdc-boot").toString, Map("shop.orders" -> "id"))
    boot.bootstrap(Seq(
      env("insert", 1, "a2", 12, 3), env("insert", 2, "b", 11, 2)).toDS())
    boot.merge(history.filter(_.eventHeader.timestamp >= 11).toDS())
    assert(liveRows(boot) === liveRows(ref),
      "bootstrap+switchover diverged from pure replay")
    // a second bootstrap must refuse: the store is no longer empty
    val ex = intercept[IllegalArgumentException] {
      boot.bootstrap(Seq(env("insert", 9, "z", 99, 9)).toDS())
    }
    assert(ex.getMessage.contains("EMPTY store"))
  }

  test("tables without a configured pk never reach the store") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-serve2").toString
    val t = new CdcServingTable(dir, Map("shop.orders" -> "id"))
    t.merge(Seq(env("insert", 1, "a", 10, 1),
      env("insert", 9, "x", 10, 2).copy(table = "audit")).toDS())
    assert(t.snapshot(spark).select("tbl").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("shop.orders"))
  }

  test("end-to-end: binlog replay through the pipeline materializes " +
      "current state (insert→update→delete)") {
    val src = Files.createTempDirectory("cdc-mat-src")
    val ckpt = Files.createTempDirectory("cdc-mat-ckpt")
    def line(pos: Long, evType: String, rows: String): String =
      s"""{"file":"b.1","logPos":$pos,"timestamp":${1000 + pos},"eventType":"$evType","database":"shop","table":"orders","rows":$rows,"errorCode":0,"position":0}"""
    Files.write(src.resolve("000.jsonl"), Seq(
      line(1, "write_rows", """[["1","alpha"]]"""),
      line(2, "write_rows", """[["2","beta"]]"""),
      line(3, "update_rows", """[["1","alpha"],["1","ALPHA"]]"""),
      line(4, "delete_rows", """[["2","beta"]]""")
    ).mkString("\n").getBytes)
    val reg = new SchemaRegistry()
    reg.put(TableSchema("shop", "orders",
      Seq(ColumnDef("id", "bigint"), ColumnDef("name", "varchar(50)"))))
    val serveDir = Files.createTempDirectory("cdc-mat-serve").toString
    val serving = new CdcServingTable(serveDir, Map("shop.orders" -> "id"))
    val p = new CdcPipeline("tmat", reg, TaskFilter(databases = Seq("shop")))
    val events = graft.sources.BinlogReplay.streamLog(spark, src.toString)
    val q = p.startProjected(events, ckpt.toString,
      (envs, _) => serving.merge(envs))
    q.awaitTermination(60000)
    val rows = liveRows(serving)
    assert(rows.keySet === Set("1"), s"expected only row 1 live, got $rows")
    assert(rows("1").contains("ALPHA"), s"update must win: ${rows("1")}")
  }

  test("end-to-end: mid-stream ALTER TABLE evolves the serving rows — " +
      "post-DDL changes materialize with the new shape, untouched keys " +
      "keep the old one") {
    val src = Files.createTempDirectory("cdc-ddl-src")
    val ckpt = Files.createTempDirectory("cdc-ddl-ckpt")
    def line(pos: Long, evType: String, rows: String): String =
      s"""{"file":"b.1","logPos":$pos,"timestamp":${1000 + pos},"eventType":"$evType","database":"shop","table":"orders","rows":$rows,"errorCode":0,"position":0}"""
    def ddl(pos: Long, stmt: String): String =
      s"""{"file":"b.1","logPos":$pos,"timestamp":${1000 + pos},"eventType":"query","database":"shop","table":"","query":"$stmt","rows":[],"errorCode":0,"position":0}"""
    // batch 1: the 2-column world
    Files.write(src.resolve("000.jsonl"), Seq(
      line(1, "write_rows", """[["1","alpha"]]"""),
      line(2, "write_rows", """[["2","beta"]]""")
    ).mkString("\n").getBytes)
    val reg = new SchemaRegistry()
    reg.put(TableSchema("shop", "orders",
      Seq(ColumnDef("id", "bigint"), ColumnDef("name", "varchar(50)"))))
    val serveDir = Files.createTempDirectory("cdc-ddl-serve").toString
    val serving = new CdcServingTable(serveDir, Map("shop.orders" -> "id"))
    val p = new CdcPipeline("tddl", reg, TaskFilter(databases = Seq("shop")))
    def run(): Unit = {
      val events = graft.sources.BinlogReplay.streamLog(spark, src.toString)
      p.startProjected(events, ckpt.toString,
        (envs, _) => serving.merge(envs)).awaitTermination(60000)
      ()
    }
    run()
    // batch 2: the table grows a column; the post-DDL row image carries 3
    // positional values that must bind to the evolved schema (DDL is
    // applied first within its batch — the P7 contract)
    Files.write(src.resolve("001.jsonl"), Seq(
      ddl(3, "ALTER TABLE orders ADD COLUMN region varchar(10)"),
      line(4, "update_rows", """[["1","alpha",null],["1","ALPHA","emea"]]""")
    ).mkString("\n").getBytes)
    run()
    val rows = liveRows(serving)
    assert(rows.keySet === Set("1", "2"), s"got $rows")
    // key 1 changed AFTER the ALTER: its serving row carries the new column
    assert(rows("1").contains("\"region\":\"emea\"") &&
      rows("1").contains("ALPHA"), s"evolved row wrong: ${rows("1")}")
    // key 2 last changed BEFORE the ALTER: its row keeps the 2-column shape
    assert(!rows("2").contains("region"), s"pre-DDL row mutated: ${rows("2")}")
    assert(reg.get("shop", "orders").exists(_.columns.map(_.name) ===
      Seq("id", "name", "region")), "registry did not evolve")
  }

  private def pkbDirs(verTbl: java.io.File): Seq[String] =
    Option(verTbl.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(d => d.isDirectory && d.getName.startsWith("pkb="))
      .map(_.getName).sorted.toSeq

  private def rawRowsFor(t: CdcServingTable, pk: String): Long =
    t.raw(spark).filter(org.apache.spark.sql.functions.col("pk") === pk)
      .count()

  test("reopening a store with a DIFFERENT constructor bucket count merges " +
      "with the RECORDED counts — no stale duplicate rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-serve-reopen").toString
    val t4 = new CdcServingTable(dir, Map("shop.orders" -> "id"),
      buckets = 4, autoSizeTargetBytes = 0L)
    t4.merge((1L to 16L).map(i => env("insert", i, s"n$i", 10, i)).toDS())
    // reopen with a different constructor constant (the CdcQueries-vs-
    // default split the r12 advisory flagged): the recorded per-version
    // counts must rule — before the sidecar, key rows living in a pkb the
    // new modulus never pruned into the merge read were carried forward
    // beside their update (silent last-writer-wins violation)
    val t16 = new CdcServingTable(dir, Map("shop.orders" -> "id"),
      buckets = 16, autoSizeTargetBytes = 0L)
    (1L to 16L).foreach { i =>
      t16.merge(Seq(env("update", i, s"u$i", 20, 100 + i)).toDS())
    }
    val rows = liveRows(t16)
    assert(rows.keySet === (1L to 16L).map(_.toString).toSet)
    (1L to 16L).foreach { i =>
      assert(rows(i.toString).contains(s"u$i"),
        s"key $i served stale pre-update value: ${rows(i.toString)}")
      assert(rawRowsFor(t16, i.toString) === 1L,
        s"key $i has duplicate store rows after mismatched reopen")
    }
  }

  test("a bucketed store WITHOUT recorded counts (pre-sidecar revision) " +
      "fails loudly: reads and merges name the version dir") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-serve-nosidecar").toString
    val t4 = new CdcServingTable(dir, Map("shop.orders" -> "id"),
      buckets = 4, autoSizeTargetBytes = 0L)
    t4.merge((1L to 16L).map(i => env("insert", i, s"n$i", 10, i)).toDS())
    // simulate an r12 store: bucketed layout, no _BUCKETS sidecar — the
    // modulus its files were hashed with is unknowable
    assert(new java.io.File(dir, "v0/_BUCKETS").delete())
    val v0 = new java.io.File(dir, "v0").toString
    val t16 = new CdcServingTable(dir, Map("shop.orders" -> "id"),
      buckets = 16, autoSizeTargetBytes = 0L)
    refusesLayout(v0) { t16.raw(spark) }
    refusesLayout(v0) { t16.snapshot(spark) }
    refusesLayout(v0) {
      t16.merge(Seq(env("update", 1, "u1", 20, 99)).toDS())
    }
    assert(VersionedStore.currentVersion(dir).contains(0L) &&
      !new java.io.File(dir, "v1").exists(),
      "a refused merge committed a version")
  }

  test("auto-sizing: a touched table re-buckets to its byte-sized " +
      "power-of-two count, and a DOWNSIZE links no stale bucket dirs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-serve-autosize").toString
    // seed wide (16 buckets), then reopen with a huge per-bucket target:
    // the sized count collapses to 1 and the touched merge re-buckets
    val t16 = new CdcServingTable(dir, Map("shop.orders" -> "id"),
      buckets = 16, autoSizeTargetBytes = 0L)
    t16.merge((1L to 32L).map(i => env("insert", i, s"n$i", 10, i)).toDS())
    assert(pkbDirs(new java.io.File(dir, "v0/tbl=shop.orders")).size > 4)
    val auto = new CdcServingTable(dir, Map("shop.orders" -> "id"),
      buckets = 16, autoSizeTargetBytes = 1L << 30)
    auto.merge(Seq(env("update", 1, "u1", 20, 99)).toDS())
    // the downsized table must hold ONLY mod-1 dirs: linking the old
    // modulus's leftover pkb dirs in would serve every key twice
    assert(pkbDirs(new java.io.File(dir, "v1/tbl=shop.orders")) ===
      Seq("pkb=0"),
      "downsize carried stale old-modulus bucket dirs into the new version")
    val rows = liveRows(auto)
    assert(rows.keySet === (1L to 32L).map(_.toString).toSet)
    assert(rows("1").contains("u1"))
    (1L to 32L).foreach(i => assert(rawRowsFor(auto, i.toString) === 1L,
      s"key $i duplicated by the downsize"))
    // growth crosses the sizing boundary → UPSIZE on the next touched
    // merge (tiny target: every byte of the table demands more buckets)
    val auto2 = new CdcServingTable(dir, Map("shop.orders" -> "id"),
      buckets = 16, autoSizeTargetBytes = 512L)
    auto2.merge(Seq(env("update", 2, "u2", 30, 200)).toDS())
    assert(pkbDirs(new java.io.File(dir, "v2/tbl=shop.orders")).size > 1,
      "upsize did not re-bucket the grown table")
    val rows2 = liveRows(auto2)
    assert(rows2.keySet === (1L to 32L).map(_.toString).toSet)
    assert(rows2("2").contains("u2"))
    (1L to 32L).foreach(i => assert(rawRowsFor(auto2, i.toString) === 1L,
      s"key $i duplicated by the upsize"))
    // a QUIET table never resizes: merge a second table, orders untouched
    val auto3 = new CdcServingTable(dir,
      Map("shop.orders" -> "id", "shop.audit" -> "id"),
      buckets = 16, autoSizeTargetBytes = 1L << 30)
    auto3.merge(Seq(env("insert", 7, "log", 40, 300).copy(table = "audit"))
      .toDS())
    val ordersV3 = new java.io.File(dir, "v3/tbl=shop.orders")
    assert(pkbDirs(ordersV3) ===
      pkbDirs(new java.io.File(dir, "v2/tbl=shop.orders")),
      "quiet table's layout changed without being touched")
  }

  /** Version `v`'s recorded `_BYTES` totals, asserted present. */
  private def bytesSidecar(dir: String, v: Int): Map[String, Long] = {
    val f = new java.io.File(dir, s"v$v/_BYTES")
    assert(f.isFile, s"v$v has no _BYTES sidecar")
    new String(java.nio.file.Files.readAllBytes(f.toPath))
      .split("\n").filter(_.nonEmpty).map { line =>
        val i = line.lastIndexOf('\t')
        line.substring(0, i) -> line.substring(i + 1).toLong
      }.toMap
  }

  /** Version `v`'s per-table parquet bytes, from a fresh walk. */
  private def walkedBytes(dir: String, v: Int): Map[String, Long] =
    Option(new java.io.File(dir, s"v$v").listFiles())
      .getOrElse(Array.empty).filter(d => d.isDirectory &&
        d.getName.startsWith("tbl=")).map { d =>
        d.getName.stripPrefix("tbl=") ->
          parquetFilesUnder(d).map(_.length).sum
      }.toMap

  test("_BYTES sidecar: recorded per-table totals equal a fresh walk " +
      "after partial merges, resizes, and a pre-sidecar reopen") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-serve-bytes").toString
    def sidecar(v: Int): Map[String, Long] = bytesSidecar(dir, v)
    def walked(v: Int): Map[String, Long] = walkedBytes(dir, v)
    val t = new CdcServingTable(dir,
      Map("shop.orders" -> "id", "shop.audit" -> "id"),
      buckets = 4, autoSizeTargetBytes = 1L << 30)
    t.merge((1L to 16L).map(i => env("insert", i, s"n$i", 10, i)).toDS())
    assert(sidecar(0) === walked(0), "seed version's totals drifted")
    // partial merge: orders touched (incremental prev−rw+new path),
    // audit new (rw-only path), both must match a fresh walk
    t.merge(Seq(env("update", 1, "u1", 20, 99),
      env("insert", 50, "log", 20, 100).copy(table = "audit")).toDS())
    assert(sidecar(1) === walked(1),
      "incremental byte arithmetic drifted from the on-disk truth")
    // untouched-table carry: audit quiet, its recorded total carries
    t.merge(Seq(env("update", 2, "u2", 30, 200)).toDS())
    assert(sidecar(2) === walked(2), "carried totals drifted")
    // pre-sidecar reopen: delete _BYTES — the next merge walks once
    // (fallback) and records fresh totals
    assert(new java.io.File(dir, "v2/_BYTES").delete())
    val t2 = new CdcServingTable(dir,
      Map("shop.orders" -> "id", "shop.audit" -> "id"),
      buckets = 4, autoSizeTargetBytes = 1L << 30)
    t2.merge(Seq(env("update", 3, "u3", 40, 300)).toDS())
    assert(sidecar(3) === walked(3), "pre-sidecar migration totals wrong")
    // resize rewrite: tiny target forces an upsize — full-rewrite path
    val t3 = new CdcServingTable(dir,
      Map("shop.orders" -> "id", "shop.audit" -> "id"),
      buckets = 4, autoSizeTargetBytes = 512L)
    t3.merge(Seq(env("update", 4, "u4", 50, 400)).toDS())
    assert(sidecar(4) === walked(4), "resize-rewrite totals wrong")
  }

  test("_BYTES sidecar: a malformed line (no tab) falls back to the walk, " +
      "and the next merge records totals equal to a fresh walk") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-serve-badbytes").toString
    val t = new CdcServingTable(dir,
      Map("shop.orders" -> "id", "shop.audit" -> "id"),
      buckets = 4, autoSizeTargetBytes = 1L << 30)
    t.merge(((1L to 16L).map(i => env("insert", i, s"n$i", 10, i)) :+
      env("insert", 50, "log", 10, 50).copy(table = "audit")).toDS())
    val seeded = bytesSidecar(dir, 0)
    assert(seeded.keySet === Set("shop.orders", "shop.audit"))
    // a torn write: a line with no tab after the valid ones — the whole
    // sidecar is distrusted, never half-read
    val f = new java.io.File(dir, "v0/_BYTES")
    Files.write(f.toPath, (new String(Files.readAllBytes(f.toPath)) +
      "\nshop.orders 999").getBytes)
    // orders touched (prev total from the walk), audit carried (its
    // total from the walk alone)
    t.merge(Seq(env("update", 1, "u1", 20, 99)).toDS())
    assert(bytesSidecar(dir, 1) === walkedBytes(dir, 1),
      "totals recorded over a malformed sidecar drifted from the walk")
    assert(bytesSidecar(dir, 1)("shop.audit") === seeded("shop.audit"))
    assert(liveRows(t)("1").contains("u1"))
  }

  test("auto-sizing seeds a NEW table from its first batch's bytes: a " +
      "bootstrap-sized load lands multi-bucket, not at 1 + resize") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-serve-seed").toString
    // tiny per-bucket target so a 64-row initial load's estimated bytes
    // (json payload + per-row overhead) demand several buckets
    val t = new CdcServingTable(dir, Map("shop.orders" -> "id"),
      autoSizeTargetBytes = 1024L)
    t.bootstrap((1L to 64L)
      .map(i => env("insert", i, s"name-$i-padding-padding", 10, i)).toDS())
    val seededDirs = pkbDirs(new java.io.File(dir, "v0/tbl=shop.orders"))
    assert(seededDirs.size > 1,
      s"initial load seeded at ${seededDirs.size} bucket(s) — the batch's " +
        "own bytes were not consulted")
    // the next touched merge must keep a multi-bucket layout (at REAL
    // targets the estimate and the on-disk bytes agree and no resize
    // fires; at this toy 1 KB target parquet's ~4 KB per-file overhead
    // legitimately nudges the measured count, so the pinned claim is
    // the defect itself: never back to the 1-bucket funnel) and serve
    // every key exactly once
    t.merge(Seq(env("update", 1, "u1", 20, 99)).toDS())
    assert(pkbDirs(new java.io.File(dir, "v1/tbl=shop.orders")).size > 1,
      "post-seed merge collapsed the table to 1 bucket")
    val rows = liveRows(t)
    assert(rows.keySet === (1L to 64L).map(_.toString).toSet)
    assert(rows("1").contains("u1"))
    (1L to 64L).foreach(i => assert(rawRowsFor(t, i.toString) === 1L,
      s"key $i duplicated across the seed/resize path"))
  }

  /** Result-stage task count of every job a merge into `dir` submits, in
    * submission order.
    */
  private def mergeJobTasks(dir: String)(body: => Unit): Seq[Int] = {
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty(CdcServingTable.MergeTag) == dir)
          tasks.add(j.stageInfos.maxBy(_.stageId).numTasks)
    }
    spark.sparkContext.addSparkListener(l)
    try body finally {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }
    tasks.asScala.toSeq
  }

  test("write sizing prices the base a merge rewrites: one row into a " +
      "large bucket fans the write out by the bucket's recorded bytes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-size").toString
    val t = new CdcServingTable(dir, Map("shop.orders" -> "id"),
      buckets = 16, autoSizeTargetBytes = 0)
    t.merge(Seq(env("insert", 1, "a", 10, 1), env("insert", 2, "b", 10, 2))
      .toDS())
    // the store records 16 buckets of 150 MB; the next merge rewrites one
    Files.write(new java.io.File(dir, "v0/_BYTES").toPath,
      s"shop.orders\t${16L * 150 * (1L << 20)}".getBytes)
    val tasks = mergeJobTasks(dir) {
      t.merge(Seq(env("update", 1, "A", 11, 3)).toDS())
    }
    // 150 MB at 64 MB a partition, under the 256 MB AQE floor: the write
    // (the merge's last job) runs 3 reducers — a batch-only estimate
    // gave 1
    assert(tasks.last === 3, s"merge jobs' result-stage tasks: $tasks")
    assert(liveRows(t).keySet === Set("1", "2"))
    assert(liveRows(t)("1").contains("\"A\""))
  }

  test("a merge never writes the caller's session conf: a shuffle query " +
      "beside it on the same session keeps its own partition count") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    val t = new CdcServingTable(
      Files.createTempDirectory("cdc-conc").toString, Map("shop.orders" -> "id"))
    def confNow = (spark.conf.get("spark.sql.shuffle.partitions"),
      spark.conf.get("spark.sql.adaptive.enabled"))
    val conf0 = confNow
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val other = new Thread(() =>
      while (!done.get()) {
        seen.add(s"conf $confNow")
        val q = spark.range(0, 1000).groupBy(col("id") % 7).count()
        val physical = q.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        physical.collect { case e: ShuffleExchangeExec => e.numPartitions }
          .foreach(n => seen.add(s"partitions $n"))
        seen.add(s"rows ${q.collect().length}")
      })
    other.start()
    try (1 to 3).foreach { i =>
      t.merge(Seq(env("insert", i, s"n$i", 10 + i, i)).toDS())
    } finally { done.set(true); other.join() }
    assert(seen.asScala.toSet === Set(s"conf $conf0",
      s"partitions ${conf0._1}", "rows 7"))
    assert(confNow === conf0)
    assert(liveRows(t).keySet === Set("1", "2", "3"))
  }
}
