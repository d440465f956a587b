package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.cdc.TaskFilter
import graft.model.{ColumnDef, TableSchema}
import graft.registry.SchemaRegistry
import graft.sources.BinlogReplay

/** End-to-end Structured Streaming CDC: file replay source → filter →
  * project → envelope → sink, plus the reference's control-plane semantics —
  * checkpoint resume (S3), live filter swap (C4), DDL schema evolution in
  * log order, across and within micro-batches (P7).
  */
class CdcStreamingSpec extends SparkSpec {

  private def jsonl(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name), lines.mkString("\n").getBytes)

  private def insertLine(pos: Long, table: String, id: Long): String =
    s"""{"file":"b.1","logPos":$pos,"timestamp":${1000 + pos},"eventType":"write_rows","database":"shop","table":"$table","rows":[["$id","n$id"]],"errorCode":0,"position":0}"""

  private def ddlLine(pos: Long, sql: String): String =
    s"""{"file":"b.1","logPos":$pos,"timestamp":${1000 + pos},"eventType":"query","database":"shop","query":"$sql","errorCode":0,"rows":[],"position":0}"""

  private def registry(): SchemaRegistry = {
    val r = new SchemaRegistry()
    r.put(TableSchema("shop", "orders",
      Seq(ColumnDef("id", "bigint"), ColumnDef("name", "varchar(50)"))))
    r.put(TableSchema("shop", "audit",
      Seq(ColumnDef("id", "bigint"), ColumnDef("name", "varchar(50)"))))
    r
  }

  private def runAvailable(pipeline: CdcPipeline, srcDir: Path, ckpt: Path,
      sink: collection.mutable.Buffer[DataFrame]): Unit = {
    val events = BinlogReplay.streamLog(spark, srcDir.toString)
    val q = pipeline.start(events, ckpt.toString,
      (df, _) => sink += df.persist())
    q.awaitTermination(60000)
  }

  test("streaming replay → envelopes; checkpoint resume processes only new files") {
    import spark.implicits._
    val src = Files.createTempDirectory("cdc-src")
    val ckpt = Files.createTempDirectory("cdc-ckpt")
    jsonl(src, "000.jsonl", Seq(insertLine(1, "orders", 1),
      insertLine(2, "orders", 2)))
    val p = new CdcPipeline("t1", registry(), TaskFilter(databases = Seq("shop")))
    val got = collection.mutable.Buffer.empty[DataFrame]
    runAvailable(p, src, ckpt, got)
    val batch1 = got.map(_.select("topic", "key").as[(String, String)]
      .collect().toSeq).reduce(_ ++ _)
    assert(batch1.toSet == Set(("t1.shop.orders", "shop.orders")))
    assert(batch1.size == 2)

    // S3 resume: add a file, restart from the same checkpoint — only the
    // new file's events flow (offsets came from the checkpoint WAL)
    jsonl(src, "001.jsonl", Seq(insertLine(3, "orders", 3)))
    got.clear()
    runAvailable(p, src, ckpt, got)
    val batch2 = got.map(_.count()).sum
    assert(batch2 == 1, s"resume must process exactly the new event, got $batch2")
  }

  test("C4 live filter swap applies to the next run without losing position") {
    val src = Files.createTempDirectory("cdc-src2")
    val ckpt = Files.createTempDirectory("cdc-ckpt2")
    jsonl(src, "000.jsonl", Seq(insertLine(1, "orders", 1),
      insertLine(2, "audit", 2)))
    val p = new CdcPipeline("t2", registry(), TaskFilter(databases = Seq("shop")))
    val got = collection.mutable.Buffer.empty[DataFrame]
    runAvailable(p, src, ckpt, got)
    assert(got.map(_.count()).sum == 2)

    p.updateFilter(TaskFilter(databases = Seq("shop"),
      excludeTables = Seq("shop.audit")))
    jsonl(src, "001.jsonl", Seq(insertLine(3, "orders", 3),
      insertLine(4, "audit", 4)))
    got.clear()
    runAvailable(p, src, ckpt, got)
    import spark.implicits._
    val keys = got.map(_.select("key").as[String].collect().toSeq).reduce(_ ++ _)
    assert(keys == Seq("shop.orders"), "audit events must be filtered out")
  }

  test("P7: DDL in batch N reshapes projection for batch N+1") {
    import spark.implicits._
    val src = Files.createTempDirectory("cdc-src3")
    val ckpt = Files.createTempDirectory("cdc-ckpt3")
    val reg = registry()
    val p = new CdcPipeline("t3", reg, TaskFilter(databases = Seq("shop")))
    val got = collection.mutable.Buffer.empty[DataFrame]

    jsonl(src, "000.jsonl",
      Seq(ddlLine(1, "ALTER TABLE orders ADD note varchar(20)")))
    runAvailable(p, src, ckpt, got)
    assert(reg.get("shop", "orders").get.columnNames ==
      Seq("id", "name", "note"))

    // 3-wide rows now project against the evolved schema
    jsonl(src, "001.jsonl", Seq(
      s"""{"file":"b.1","logPos":9,"timestamp":1009,"eventType":"write_rows","database":"shop","table":"orders","rows":[["7","n7","hello"]],"errorCode":0,"position":0}"""))
    got.clear()
    runAvailable(p, src, ckpt, got)
    val vals = got.map(_.select("value").as[String].collect().toSeq)
      .reduce(_ ++ _)
    assert(vals.size == 1)
    assert(vals.head.contains(""""note":"hello""""))
  }

  test("P7: DDL inside a batch applies in log order — rows ahead of the " +
      "ALTER keep the old columns, rows after it take the new ones") {
    import spark.implicits._
    val src = Files.createTempDirectory("cdc-src4")
    val ckpt = Files.createTempDirectory("cdc-ckpt4")
    val reg = registry()
    val p = new CdcPipeline("t4", reg, TaskFilter(databases = Seq("shop")))
    val got = collection.mutable.Buffer.empty[DataFrame]
    def insert(pos: Long, row: String): String =
      s"""{"file":"b.1","logPos":$pos,"timestamp":${1000 + pos},"eventType":"write_rows","database":"shop","table":"orders","rows":[$row],"errorCode":0,"position":0}"""
    // one file, one trigger: insert, ALTER, insert, ALTER, insert on the
    // same table
    jsonl(src, "000.jsonl", Seq(
      insertLine(1, "orders", 1),
      ddlLine(2, "ALTER TABLE orders ADD COLUMN note varchar(20)"),
      insert(3, """["2","n2","hi"]"""),
      insertLine(4, "audit", 3),
      ddlLine(5, "ALTER TABLE orders DROP COLUMN name"),
      insert(6, """["4","bye"]""")))
    runAvailable(p, src, ckpt, got)
    val vals = got.map(_.select("key", "value").as[(String, String)]
      .collect().toSeq).reduce(_ ++ _)
    val orders = vals.filter(_._1 == "shop.orders").map(_._2)
    assert(orders.size == 3, s"every insert must survive the ALTERs: $vals")
    assert(orders.exists(v => v.contains(""""id":"1","name":"n1"""") &&
      !v.contains("note")))
    assert(orders.exists(v => v.contains(""""id":"2","name":"n2","note":"hi"""")))
    assert(orders.exists(v => v.contains(""""id":"4","note":"bye"""") &&
      !v.contains("name")))
    // a table with no DDL in the trigger projects as before
    assert(vals.count(_._1 == "shop.audit") == 1)
    assert(reg.get("shop", "orders").get.columnNames == Seq("id", "note"))
  }
}
