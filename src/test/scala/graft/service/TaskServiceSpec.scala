package graft.service

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}

import graft.SparkSpec

/** Control-plane semantics over HTTP — the reference's task lifecycle
  * (C1–C7, SURVEY.md §2.5) driven through the REST surface end-to-end
  * against real streaming queries on the `graft-cdc` source.
  */
class TaskServiceSpec extends SparkSpec {

  private def seg(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name), lines.mkString("\n").getBytes)

  private def line(pos: Long, table: String, id: Long): String =
    s"""{"file":"b.1","logPos":$pos,"timestamp":${1000 + pos},"eventType":"write_rows","database":"shop","table":"$table","rows":[["$id","n$id"]],"errorCode":0,"position":0}"""

  private def taskJson(id: String, src: Path, sink: Path, ckpt: Path): String =
    s"""{
       |"task_id": "$id",
       |"source_dir": "$src",
       |"sink_dir": "$sink",
       |"checkpoint_dir": "$ckpt",
       |"database": ["shop"],
       |"exclude_table": ["shop.audit"],
       |"schemas": [
       |  {"database": "shop", "table": "orders",
       |   "columns": [{"name": "id", "type": "bigint"},
       |               {"name": "name", "type": "varchar(50)"}]},
       |  {"database": "shop", "table": "audit",
       |   "columns": [{"name": "id", "type": "bigint"},
       |               {"name": "name", "type": "varchar(50)"}]}
       |]}""".stripMargin

  private val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def get(port: Int, path: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def await(cond: => Boolean, ms: Long = 30000): Boolean = {
    val end = System.currentTimeMillis() + ms
    while (System.currentTimeMillis() < end) {
      if (cond) return true
      Thread.sleep(200)
    }
    cond
  }

  private def sinkCount(sink: Path): Long =
    try spark.read.parquet(sink.toString).count()
    catch { case _: org.apache.spark.sql.AnalysisException => 0L } // no data yet

  test("post_task → filter applied → sink rows; stop_task + recovery_v1 resume") {
    val src = Files.createTempDirectory("svc-src")
    val sink = Files.createTempDirectory("svc-sink")
    val ckpt = Files.createTempDirectory("svc-ckpt")
    seg(src, "b.000001.jsonl",
      Seq(line(1, "orders", 1), line(2, "audit", 2), line(3, "orders", 3)))

    val store = new TaskStore(Files.createTempDirectory("svc-store"))
    val service = new TaskService(spark, store)
    val http = new TaskHttpServer(service, spark)
    val port = http.start()
    try {
      val (code, body) = post(port, "/v1/post_task",
        taskJson("t1", src, sink, ckpt))
      assert(code == 200, body)
      assert(body.contains(""""task_id":"t1""""))

      // duplicate id rejected while running or stored (post_task.go:66-76)
      assert(post(port, "/v1/post_task",
        taskJson("t1", src, sink, ckpt))._1 == 400)

      // AvailableNow drains the backlog: audit excluded → 2 envelopes
      assert(await(sinkCount(sink) == 2L), s"sink has ${sinkCount(sink)}")

      val (_, list) = get(port, "/v1/task")
      assert(list.contains(""""task_id":"t1""""))

      // C3 stop → persisted StopSync
      val (sc, sb) = post(port, "/v1/stop_task",
        """{"task_id":"t1","stop_type":"stop"}""")
      assert(sc == 200, sb)
      assert(store.get("t1").exists(_.stopSync))

      // new events while stopped; recovery_v1 resumes from checkpoint —
      // only the new events flow
      seg(src, "b.000002.jsonl", Seq(line(4, "orders", 4)))
      val (rc, rb) = post(port, "/v1/stop_task",
        """{"task_id":"t1","stop_type":"recovery_v1"}""")
      assert(rc == 200, rb)
      assert(await(sinkCount(sink) == 3L), s"sink has ${sinkCount(sink)}")

      // metrics expose per-query counters
      val (_, m) = get(port, "/metrics")
      assert(m.contains("graft_query_input_rows_total"))
    } finally {
      service.stopAll()
      http.stop()
    }
  }

  test("update_task swaps filters; recovery_v2 seeds from latest; delete forgets") {
    val src = Files.createTempDirectory("svc2-src")
    val sink = Files.createTempDirectory("svc2-sink")
    val ckpt = Files.createTempDirectory("svc2-ckpt")
    seg(src, "b.000001.jsonl", Seq(line(1, "orders", 1)))

    val store = new TaskStore(Files.createTempDirectory("svc2-store"))
    val service = new TaskService(spark, store)
    val http = new TaskHttpServer(service, spark)
    val port = http.start()
    try {
      assert(post(port, "/v1/post_task",
        taskJson("t2", src, sink, ckpt))._1 == 200)
      assert(await(sinkCount(sink) == 1L))

      // C4: filter update lands in config + live pipeline
      val (uc, ub) = post(port, "/v1/update_task",
        """{"task_id":"t2","database":["shop"],"exclude_table":["shop.orders"]}""")
      assert(uc == 200, ub)
      assert(store.get("t2").exists(_.excludeTables == Seq("shop.orders")))
      assert(service.get("t2").exists(
        !_.pipeline.filterRef.get().accepts("shop", "orders")))

      // C3 recovery_v2: wipe checkpoint, seed latest ⇒ the backlog does NOT
      // replay; only segments appended afterwards flow
      val (v2c, v2b) = post(port, "/v1/stop_task",
        """{"task_id":"t2","stop_type":"recovery_v2"}""")
      assert(v2c == 200, v2b)
      assert(await(service.get("t2").exists(!_.query.isActive)))
      assert(sinkCount(sink) == 1L, "v2 must not replay the backlog")

      // C5 delete
      val (dc, db) = post(port, "/v1/delete_task/t2", "")
      assert(dc == 200, db)
      assert(store.get("t2").isEmpty)
      assert(get(port, "/v1/task")._2.contains(""""count":0"""))
    } finally {
      service.stopAll()
      http.stop()
    }
  }

  test("start_offset task option backfills from a historical position, " +
      "paced by max_lines_per_trigger, then tails live") {
    val src = Files.createTempDirectory("svc5-src")
    val sink = Files.createTempDirectory("svc5-sink")
    val ckpt = Files.createTempDirectory("svc5-ckpt")
    // 5-line history; the task wants only from (segment 1, line 3) on —
    // the reference dropped this (`start_time`, pkg/req_resp.go:72) as
    // "very performance hungry"; paced admission is what makes it safe
    seg(src, "b.000001.jsonl", (1 to 5).map(i => line(i, "orders", i)))
    val store = new TaskStore(Files.createTempDirectory("svc5-store"))
    val service = new TaskService(spark, store)
    try {
      val cfgJson =
        s"""{
           |"task_id": "t5", "source_dir": "$src", "sink_dir": "$sink",
           |"checkpoint_dir": "$ckpt", "database": ["shop"],
           |"start_offset": {"segment": "b.000001.jsonl", "line": 3},
           |"max_lines_per_trigger": 1,
           |"schemas": [{"database": "shop", "table": "orders",
           |  "columns": [{"name": "id", "type": "bigint"},
           |              {"name": "name", "type": "varchar(50)"}]}]}""".stripMargin
      val cfg = TaskConfig.parse(cfgJson).fold(e => fail(e), identity)
      assert(cfg.startOffset.contains(("b.000001.jsonl", 3L)))
      assert(cfg.maxLinesPerTrigger.contains(1L))
      // config round-trips through the durable store (C8)
      assert(TaskConfig.parse(TaskConfig.toJson(cfg)) == Right(cfg))
      assert(service.postTask(cfg).isRight)
      // only lines 4..5 of the history (positions AFTER the offset)
      assert(await(sinkCount(sink) == 2L), s"sink has ${sinkCount(sink)}")
      // hand-off to live tailing through the same checkpoint
      seg(src, "b.000002.jsonl", Seq(line(6, "orders", 6)))
      assert(service.restorationTask("t5").isRight)
      assert(await(sinkCount(sink) == 3L), s"sink has ${sinkCount(sink)}")
      // a validation error, not a silent unpaced replay
      assert(TaskConfig.parse(cfgJson.replace(
        """"max_lines_per_trigger": 1""",
        """"max_lines_per_trigger": 0""")).isLeft)
    } finally service.stopAll()
  }

  test("materialize task option maintains a current-state serving table " +
      "beside the envelope sink") {
    val src = Files.createTempDirectory("svc6-src")
    val sink = Files.createTempDirectory("svc6-sink")
    val ckpt = Files.createTempDirectory("svc6-ckpt")
    seg(src, "b.000001.jsonl", Seq(
      line(1, "orders", 1), line(2, "orders", 2),
      // delete row 2 (before image only)
      s"""{"file":"b.1","logPos":3,"timestamp":1003,"eventType":"delete_rows","database":"shop","table":"orders","rows":[["2","n2"]],"errorCode":0,"position":0}"""))
    val store = new TaskStore(Files.createTempDirectory("svc6-store"))
    val service = new TaskService(spark, store)
    try {
      val cfgJson =
        s"""{
           |"task_id": "t6", "source_dir": "$src", "sink_dir": "$sink",
           |"checkpoint_dir": "$ckpt", "database": ["shop"],
           |"materialize": {"shop.orders": "id"},
           |"schemas": [{"database": "shop", "table": "orders",
           |  "columns": [{"name": "id", "type": "bigint"},
           |              {"name": "name", "type": "varchar(50)"}]}]}""".stripMargin
      val cfg = TaskConfig.parse(cfgJson).fold(e => fail(e), identity)
      assert(cfg.materializePk === Map("shop.orders" -> "id"))
      assert(TaskConfig.parse(TaskConfig.toJson(cfg)) == Right(cfg))
      assert(service.postTask(cfg).isRight)
      // AvailableNow drains and self-terminates; surface any sink failure
      assert(await(service.get("t6").exists(!_.query.isActive)))
      service.get("t6").flatMap(r => Option(r.query.exception.orNull))
        .foreach(e => fail(s"query failed: ${e.cause}", e))
      // envelope sink still gets all 3 events
      assert(sinkCount(sink) === 3L, s"sink has ${sinkCount(sink)}")
      // serving table holds CURRENT state: row 1 live, row 2 tombstoned
      val serving = new graft.streaming.CdcServingTable(
        s"$sink/_serving", Map("shop.orders" -> "id"))
      val live = serving.snapshot(spark).collect()
        .map(r => r.getAs[String]("pk")).toSet
      assert(live === Set("1"), s"expected only pk 1 live, got $live")
    } finally service.stopAll()
  }

  test("history task option maintains an SCD2 changelog beside the sink, " +
      "auto-compacted from the sink loop") {
    val src = Files.createTempDirectory("svc8-src")
    val sink = Files.createTempDirectory("svc8-sink")
    val ckpt = Files.createTempDirectory("svc8-ckpt")
    // five events drained one per micro-batch (max_lines_per_trigger=1):
    // five appended files > the compactor's maxFiles=4, so the sink-loop
    // compaction must fire and advance the changelog version
    seg(src, "b.000001.jsonl", Seq(
      line(1, "orders", 1), line(2, "orders", 2),
      line(3, "orders", 3), line(4, "orders", 4),
      s"""{"file":"b.1","logPos":5,"timestamp":1005,"eventType":"delete_rows","database":"shop","table":"orders","rows":[["2","n2"]],"errorCode":0,"position":0}"""))
    val store = new TaskStore(Files.createTempDirectory("svc8-store"))
    val service = new TaskService(spark, store)
    try {
      val cfgJson =
        s"""{
           |"task_id": "t8", "source_dir": "$src", "sink_dir": "$sink",
           |"checkpoint_dir": "$ckpt", "database": ["shop"],
           |"history": {"shop.orders": "id"}, "compact_every": 1,
           |"max_lines_per_trigger": 1,
           |"schemas": [{"database": "shop", "table": "orders",
           |  "columns": [{"name": "id", "type": "bigint"},
           |              {"name": "name", "type": "varchar(50)"}]}]}""".stripMargin
      val cfg = TaskConfig.parse(cfgJson).fold(e => fail(e), identity)
      assert(cfg.historyPk === Map("shop.orders" -> "id"))
      assert(cfg.compactEvery === 1)
      assert(TaskConfig.parse(TaskConfig.toJson(cfg)) == Right(cfg))
      assert(service.postTask(cfg).isRight)
      assert(await(service.get("t8").exists(!_.query.isActive)))
      service.get("t8").flatMap(r => Option(r.query.exception.orNull))
        .foreach(e => fail(s"query failed: ${e.cause}", e))
      val hist = new graft.streaming.CdcHistoryTable(
        s"$sink/_history", Map("shop.orders" -> "id"))
      // all five changes present; key 2's head is a tombstone
      assert(hist.changelog(spark).count() === 5L)
      val cur = hist.history(spark).filter("is_current").collect()
        .map(_.getAs[String]("pk")).toSet
      assert(cur === Set("1", "3", "4"), s"unexpected current keys $cur")
      // compact_every=1 ⇒ the sink loop compacted after the batch: the
      // changelog dir is versioned past v0
      assert(graft.streaming.CdcHistoryTable
        .currentLogVersion(s"$sink/_history").exists(_ >= 1L),
        "compaction did not advance the changelog version")
      // compact_every must be positive
      assert(TaskConfig.parse(cfgJson.replace(
        """"compact_every": 1""", """"compact_every": 0""")).isLeft)
    } finally service.stopAll()
  }

  test("debug runtime endpoint reports JVM + app state") {
    val storeDir = Files.createTempDirectory("svc4-store")
    val svc = new TaskService(spark, new TaskStore(storeDir))
    val server = new TaskHttpServer(svc, spark)
    val port = server.start()
    try {
      val (code, body) = get(port, "/debug/runtime")
      assert(code == 200, body)
      val v = graft.util.MiniJson.parse(body)
        .getOrElse(fail(s"unparseable: $body"))
      assert((v \ "heap_used_bytes").flatMap(_.asLong).exists(_ > 0L), body)
      assert((v \ "live_threads").flatMap(_.asLong).exists(_ > 0L), body)
      assert((v \ "app_id").flatMap(_.asString).exists(_.nonEmpty), body)
    } finally { server.stop(); svc.stopAll() }
  }

  test("C7 boot recovery restarts persisted non-stopped tasks") {
    val src = Files.createTempDirectory("svc3-src")
    val sink = Files.createTempDirectory("svc3-sink")
    val ckpt = Files.createTempDirectory("svc3-ckpt")
    seg(src, "b.000001.jsonl", Seq(line(1, "orders", 1), line(2, "orders", 2)))

    val storeDir = Files.createTempDirectory("svc3-store")
    val s1 = new TaskService(spark, new TaskStore(storeDir))
    assert(s1.postTask(TaskConfig("t3", src.toString, sink.toString,
      ckpt.toString, databases = Seq("shop"),
      schemas = Seq(graft.model.TableSchema("shop", "orders", Seq(
        graft.model.ColumnDef("id", "bigint"),
        graft.model.ColumnDef("name", "varchar(50)")))))).isRight)
    assert(await(sinkCount(sink) == 2L))
    s1.stopAll() // process "crash" — StopSync stays false in the store

    // new service instance = process restart; recovery picks the task up
    seg(src, "b.000002.jsonl", Seq(line(3, "orders", 3)))
    val s2 = new TaskService(spark, new TaskStore(storeDir))
    try {
      assert(s2.recoverAll() == Seq("t3"))
      assert(await(sinkCount(sink) == 3L), "recovered task resumes from checkpoint")
    } finally s2.stopAll()
  }

  test("a trigger's sink consumers run concurrently: one failing fails the " +
      "batch only after the others finished, and a restart converges") {
    val src = Files.createTempDirectory("svc9-src")
    val sink = Files.createTempDirectory("svc9-sink")
    val ckpt = Files.createTempDirectory("svc9-ckpt")
    val upd = s"""{"file":"b.1","logPos":3,"timestamp":1003,"eventType":"update_rows","database":"shop","table":"orders","rows":[["1","n1"],["1","N1"]],"errorCode":0,"position":0}"""
    val del = s"""{"file":"b.1","logPos":4,"timestamp":1004,"eventType":"delete_rows","database":"shop","table":"orders","rows":[["2","n2"]],"errorCode":0,"position":0}"""
    seg(src, "b.000001.jsonl",
      Seq(line(1, "orders", 1), line(2, "orders", 2), upd, del))
    // the envelope write fails: a file holds its job-attempt dir's name
    val blocker = sink.resolve("_temporary")
    Files.write(blocker, Array.emptyByteArray)
    val store = new TaskStore(Files.createTempDirectory("svc9-store"))
    val service = new TaskService(spark, store)
    val pk = Map("shop.orders" -> "id")
    val cfg = TaskConfig("t9", src.toString, sink.toString, ckpt.toString,
      databases = Seq("shop"), schemas = Seq(graft.model.TableSchema("shop",
        "orders", Seq(graft.model.ColumnDef("id", "bigint"),
          graft.model.ColumnDef("name", "varchar(50)")))),
      materializePk = pk, historyPk = pk)
    val serving = new graft.streaming.CdcServingTable(s"$sink/_serving", pk)
    val hist = new graft.streaming.CdcHistoryTable(s"$sink/_history", pk)
    def live = serving.snapshot(spark).collect()
      .map(r => r.getAs[String]("pk") -> r.getAs[String]("after_json")).toMap
    try {
      assert(service.postTask(cfg).isRight)
      assert(await(service.get("t9").exists(!_.query.isActive)))
      assert(service.get("t9").exists(_.query.exception.isDefined),
        "the envelope write must fail the batch")
      // the batch failed only after the merge and the append had finished
      assert(sinkCount(sink) === 0L)
      assert(live.keySet === Set("1"))
      assert(hist.changelog(spark).count() === 4L)

      // restart from the checkpoint: the failed batch runs again
      Files.delete(blocker)
      assert(service.restorationTask("t9").isRight)
      assert(await(service.get("t9").exists(!_.query.isActive)))
      service.get("t9").flatMap(r => Option(r.query.exception.orNull))
        .foreach(e => fail(s"query failed: ${e.cause}", e))
      assert(sinkCount(sink) === 4L)
      // serving is last-writer-wins; history holds every keyed change once
      // (the rerun appended the batch again, which its reads collapse)
      assert(live.keySet === Set("1") && live("1").contains("N1"), s"$live")
      assert(hist.history(spark).count() === 4L)
    } finally service.stopAll()
  }

  test("query.stop() during a fanned-out batch cancels its consumers and " +
      "leaves none of their threads alive") {
    import scala.jdk.CollectionConverters._
    val src = Files.createTempDirectory("svc10-src")
    val ckpt = Files.createTempDirectory("svc10-ckpt")
    seg(src, "b.000001.jsonl", Seq(line(1, "orders", 1)))
    val started = new java.util.concurrent.CountDownLatch(2)
    // each consumer runs a job that only a cancel ends early
    val slow = () => {
      started.countDown()
      spark.sparkContext.parallelize(1 to 2, 2)
        .foreach(_ => Thread.sleep(120000))
    }
    val pipeline = new graft.streaming.CdcPipeline("t10",
      new graft.registry.SchemaRegistry())
    val q = pipeline.startProjected(
      graft.sources.BinlogReplay.streamLog(spark, src.toString),
      ckpt.toString,
      (_, batchId) => TaskService.runConcurrently(s"t10-sink-$batchId",
        Seq(slow, slow)),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS))
    val stopper = new Thread(() => q.stop())
    stopper.start()
    stopper.join(30000)
    assert(!stopper.isAlive, "stop() did not return within 30 s")
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(_.getName.startsWith("t10-sink-")))
    // the consumers' jobs were cancelled with the stream's job group, not
    // left running
    assert(await(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      10000))
  }
}
