package graft.analytics

import java.io.File

import graft.SparkSpec

/** Document deletion for the versioned index artifacts
  * ([[IndexTombstones]]): the logical phase (tombstone admission +
  * probe-side filter), its ride through the lifecycle (admission,
  * compaction — the sidecar is a hard-linked extra), and the physical
  * phase ([[DedupIndex.purge]] family — tables rewritten without the
  * deleted rows, sidecar dropped, probe output unchanged).
  */
class IndexTombstoneSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def docs = {
    import spark.implicits._
    graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def rawIds(verDir: File, table: String, col0: String): Set[Long] =
    spark.read.parquet(new File(verDir, table).getAbsolutePath)
      .select(org.apache.spark.sql.functions.col(col0))
      .collect().map(_.getLong(0)).toSet

  private def currentVerDir(idx: String): File =
    new File(idx).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .maxBy(_.getName.stripPrefix("v").toLong)

  test("dedup: logical delete filters the probe, retries no-op, the " +
      "sidecar rides admission + compaction, purge removes physically") {
    import spark.implicits._
    val idx = java.nio.file.Files
      .createTempDirectory("graft-tomb-dedup").toString
    val corpus = docs.filter($"doc_id" % 5 =!= 4)
    val delta = docs.filter($"doc_id" % 5 === 4)
    DedupIndex.build(spark, corpus, idx, DedupIndex.Shape.Oracle)

    val before = pairSet(DedupIndex.probe(spark, idx, delta))
    assert(before.nonEmpty, "fixture must contain cross-split pairs")
    // tombstone every corpus doc that appears as a pair's corpus side —
    // deterministic, and guarantees the filter has something to drop
    val dropIds = before.map(_._1).toSeq.sorted.take(2)
    assert(DedupIndex.delete(spark, idx,
      dropIds.toDF("doc_id"), "takedown-a"))
    assert(!DedupIndex.delete(spark, idx,
      dropIds.toDF("doc_id"), "takedown-a"),
      "retried takedown deltaId was not a no-op")

    val after = pairSet(DedupIndex.probe(spark, idx, delta))
    assert(after === before.filterNot(p =>
      dropIds.contains(p._1) || dropIds.contains(p._2)),
      "probe after delete must equal the manually filtered probe")
    assert(after !== before, "the tombstoned ids dropped no pairs")

    // the sidecar rides a DATA admission (hard-linked extra) …
    val seed = corpus.orderBy($"doc_id").limit(1)
      .collect().head.getString(1)
    assert(DedupIndex.append(spark,
      Seq((700001L, seed)).toDF("doc_id", "text"), idx, "delta-1"))
    // … and a forced compaction
    assert(DedupIndex.compact(spark, idx, maxFiles = 0) > 0)
    assert(new File(currentVerDir(idx), IndexTombstones.Table).isDirectory,
      "tombstone sidecar lost across admission + compaction")
    assert(pairSet(DedupIndex.probe(spark, idx, delta))
      .forall(p => !dropIds.contains(p._1) && !dropIds.contains(p._2)),
      "probe filter lost across admission + compaction")

    // PHYSICAL purge: rows gone from both tables, sidecar dropped,
    // probe output unchanged, deltas carried (idempotence survives)
    val preVer = currentVerDir(idx)
    assert(DedupIndex.purge(spark, idx))
    val ver = currentVerDir(idx)
    assert(!new File(ver, IndexTombstones.Table).exists(),
      "purge must drop the tombstone sidecar")
    for (t <- Seq("signatures", "bands")) {
      val ids = rawIds(ver, t, "doc_id")
      assert(dropIds.forall(!ids.contains(_)),
        s"$t still holds tombstoned rows after purge")
    }
    // signatures is bucketed BY doc_id: purge must rewrite only the
    // affected buckets and hard-link-carry the rest (inode identity)
    val sigCarried = new File(ver, "signatures").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .count { f =>
        val old = new File(preVer, "signatures/" + f.getName)
        old.exists() && java.nio.file.Files.isSameFile(f.toPath, old.toPath)
      }
    assert(sigCarried > 0,
      "purge rewrote every signatures bucket — unaffected buckets must " +
        "hard-link-carry")
    assert(pairSet(DedupIndex.probe(spark, idx, delta)) === after,
      "probe output changed across purge")
    assert(DedupIndex.appliedDeltas(idx).contains("delta-1"),
      "purge reset the admitted-delta ledger")
    assert(!DedupIndex.purge(spark, idx), "purge with no tombstones fired")
    // probe plan still bucketed after purge (writeInto re-registered)
    val plan = DedupIndex.probe(spark, idx, delta)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), "purge lost the bucketed layout")
  }

  test("deleteAll: N requests fold into ONE version bump; applied " +
      "deltaIds skip individually on a retried mixed batch") {
    import spark.implicits._
    val idx = java.nio.file.Files
      .createTempDirectory("graft-tomb-fold").toString
    val corpus = docs.filter($"doc_id" % 5 =!= 4)
    DedupIndex.build(spark, corpus, idx, DedupIndex.Shape.Oracle)
    val delta = docs.filter($"doc_id" % 5 === 4)
    val before = pairSet(DedupIndex.probe(spark, idx, delta))
    val ids = before.map(_._1).toSeq.sorted
    assert(ids.size >= 2, "fixture must yield two corpus-side pair ids")
    val v0 = DedupIndex.currentVersion(idx).get

    // two queued requests fold into ONE version — the drain shape that
    // keeps the post-drain reader-grace prune bounded
    assert(DedupIndex.deleteAll(spark, idx, Seq(
      Seq(ids(0)).toDF("doc_id") -> "td-fold-1",
      Seq(ids(1)).toDF("doc_id") -> "td-fold-2")))
    assert(DedupIndex.currentVersion(idx).contains(v0 + 1),
      "a folded two-request delete must bump the version exactly once")
    val after = pairSet(DedupIndex.probe(spark, idx, delta))
    assert(after === before.filterNot(p =>
      Set(ids(0), ids(1)).contains(p._1) ||
        Set(ids(0), ids(1)).contains(p._2)),
      "both folded requests must filter the probe")

    // retried MIXED batch: td-fold-2 already applied (skipped), td-fold-3
    // fresh (applied) — one bump, fresh remainder only
    assert(DedupIndex.deleteAll(spark, idx, Seq(
      Seq(ids(1)).toDF("doc_id") -> "td-fold-2",
      Seq(ids(0)).toDF("doc_id") -> "td-fold-3")))
    assert(DedupIndex.currentVersion(idx).contains(v0 + 2))
    assert(DedupIndex.appliedDeltas(idx)
      .intersect(Set("td-fold-1", "td-fold-2", "td-fold-3")).size == 3,
      "the applied-delta ledger (the takedown acknowledgement check) " +
        "must carry every folded deltaId")

    // fully-applied retry: no version is created at all
    assert(!DedupIndex.deleteAll(spark, idx, Seq(
      Seq(ids(0)).toDF("doc_id") -> "td-fold-1",
      Seq(ids(1)).toDF("doc_id") -> "td-fold-3")))
    assert(DedupIndex.currentVersion(idx).contains(v0 + 2),
      "an all-applied retry must not move the pointer")
  }

  test("embedding: delete filters the SRP probe, purge removes") {
    import spark.implicits._
    val vecs = graft.GraftSession.table(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-tomb-srp").toString
    SrpIndex.build(spark, vecs.filter($"vec_id" % 5 =!= 4), idx,
      DedupQueries.Srp.Narrow)
    assert(SrpIndex.tombstoneRatio(spark, idx) === 0.0)
    val indexed = SrpIndex.load(spark, idx).vectors.count()
    val delta = vecs.filter($"vec_id" % 5 === 4)
    val before = pairSet(SrpIndex.probe(spark, idx, delta))
    assert(before.nonEmpty)
    val dropIds = before.map(_._1).toSeq.sorted.take(1)
    assert(SrpIndex.delete(spark, idx, dropIds.toDF("vec_id"), "takedown-a"))
    assert(SrpIndex.tombstoneRatio(spark, idx) ===
      dropIds.size.toDouble / indexed)
    val after = pairSet(SrpIndex.probe(spark, idx, delta))
    assert(after === before.filterNot(p => dropIds.contains(p._1)))
    assert(after !== before)
    assert(SrpIndex.purge(spark, idx))
    assert(SrpIndex.tombstoneRatio(spark, idx) === 0.0)
    val ver = currentVerDir(idx)
    for (t <- Seq("vectors", "bands"))
      assert(dropIds.forall(!rawIds(ver, t, "vec_id").contains(_)),
        s"$t still holds tombstoned rows after purge")
    assert(pairSet(SrpIndex.probe(spark, idx, delta)) === after)
  }

  test("containment: delete filters both directions, purge rewrites " +
      "doc tables and LINKS df (frozen-df contract)") {
    import spark.implicits._
    val idx = java.nio.file.Files
      .createTempDirectory("graft-tomb-contain").toString
    val corpus = docs.filter($"doc_id" % 5 =!= 4)
    ContainIndex.build(spark, corpus, idx)
    assert(ContainIndex.tombstoneRatio(spark, idx) === 0.0)
    val indexed = ContainIndex.load(spark, idx).sets.count()
    val delta = docs.filter($"doc_id" % 5 === 4)
    val before = pairSet(ContainIndex.probe(spark, idx, delta))
    assert(before.nonEmpty)
    // corpus-side ids can appear as id_a OR id_b (direction-dependent)
    val deltaIds = delta.select($"doc_id").collect().map(_.getLong(0)).toSet
    val corpusSides = before.flatMap(p =>
      Seq(p._1, p._2).filterNot(deltaIds.contains))
    val dropIds = corpusSides.toSeq.sorted.take(2)
    assert(ContainIndex.delete(spark, idx,
      dropIds.toDF("doc_id"), "takedown-a"))
    assert(ContainIndex.tombstoneRatio(spark, idx) ===
      dropIds.size.toDouble / indexed)
    val after = pairSet(ContainIndex.probe(spark, idx, delta))
    assert(after === before.filterNot(p =>
      dropIds.contains(p._1) || dropIds.contains(p._2)))
    assert(after !== before)

    val dfBefore = new File(currentVerDir(idx), "df").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(ContainIndex.purge(spark, idx))
    assert(ContainIndex.tombstoneRatio(spark, idx) === 0.0)
    val ver = currentVerDir(idx)
    for (t <- Seq("tokens", "prefix", "sets"))
      assert(dropIds.forall(!rawIds(ver, t, "doc_id").contains(_)),
        s"$t still holds tombstoned rows after purge")
    // df carried as hard links: same file names, same inodes
    val dfAfter = new File(ver, "df").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(dfAfter === dfBefore, "df was rewritten — it must link")
    assert(pairSet(ContainIndex.probe(spark, idx, delta)) === after)
  }
}
