package graft.analytics

import java.io.File

import graft.SparkSpec

/** L0 ACCRUAL admissions on the bucketed containment artifact
  * (r17 verdict #2): `tokens`/`prefix` delta rows land as a FIXED
  * handful of unbucketed files per admission instead of one file per
  * touched bucket — the write fan-out that made admission cost scale
  * with the corpus's bucket count. Pinned:
  *
  *   1. FILE SHAPE — an admission adds ≤ appendTasks L0 files per
  *      posting table and ZERO new top-level (bucketed) files there;
  *      `sets` stays bucketed (its fan-out is delta-bounded already).
  *   2. PRUNING INTACT — with L0 present, the micro candidate frames
  *      still bucket-prune the BASE posting scans
  *      (SelectedBucketsCount) while the L0 leg scans whole.
  *   3. PROBE CORRECTNESS ACROSS L0 — a probe against base + L0 equals
  *      the probe after compaction folds L0 into the base (same pairs,
  *      L0 dirs consumed).
  *   4. PURGE REACHES L0 — tombstoned rows sitting in L0 files are
  *      physically gone after purge (the `raw` slice).
  */
class ContainL0Spec extends SparkSpec with org.scalatest.BeforeAndAfterEach {

  // These tests pin the L0-accrual admission SHAPE, which the adaptive
  // cutover (IndexLayout.fanoutAppend) only selects past ~128 buckets —
  // force it so fixture-sized artifacts admit through L0 regardless
  override def beforeEach(): Unit = {
    super.beforeEach()
    spark.conf.set("spark.graft.index.l0.cutover", "0")
  }
  override def afterEach(): Unit = {
    spark.conf.unset("spark.graft.index.l0.cutover")
    super.afterEach()
  }


  private val dir = "/root/testdata/sf0.001"

  private def docs = {
    import spark.implicits._
    graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def topLevel(idx: String, t: String): Set[String] =
    Option(new File(ContainIndex.tablePath(idx, t)).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName).toSet

  private def l0Names(idx: String, t: String): Set[String] =
    Option(new File(ContainIndex.tablePath(idx, t), "_l0").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName).toSet

  test("an admission adds a fixed handful of L0 files and no bucketed " +
      "posting files; probes answer identically before and after the " +
      "fold; purge reaches L0 rows") {
    import spark.implicits._
    val idx = java.nio.file.Files
      .createTempDirectory("graft-l0-contain").toString
    // 64 buckets: one tiny doc's ≤ 57 distinct shingle hashes select a
    // provably proper bucket subset, so the pruning assertion below can
    // demand SelectedBucketsCount < 64 (the ContainIndexBucketedSpec
    // trick)
    ContainIndex.build(spark, docs.filter($"doc_id" % 5 < 3), idx,
      buckets = 64)
    val tasks = IndexLayout.AppendTasks

    val tokensBase = topLevel(idx, "tokens")
    val prefixBase = topLevel(idx, "prefix")
    assert(ContainIndex.append(spark, docs.filter($"doc_id" % 5 === 3),
      idx, "l0-day1"))
    // 1. file shape: posting tables gain ONLY L0 files, bounded by the
    // task count — independent of the table's bucket count
    for ((t, base) <- Seq("tokens" -> tokensBase, "prefix" -> prefixBase)) {
      assert(topLevel(idx, t) === base,
        s"$t gained top-level bucketed files on admission — the L0 " +
          "path must not touch the base")
      val l0 = l0Names(idx, t)
      assert(l0.nonEmpty && l0.size <= tasks,
        s"$t L0 admission wrote ${l0.size} files (tasks=$tasks)")
    }

    val delta = docs.filter($"doc_id" % 5 === 4)
    val withL0 = pairSet(ContainIndex.probe(spark, idx, delta))
    assert(withL0.nonEmpty, "fixture must contain cross-split pairs")
    // the admitted split must actually contribute pairs through the L0
    // leg, or the parity below pins nothing
    val day1Ids = docs.filter($"doc_id" % 5 === 3)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(withL0.exists(p => day1Ids(p._1) || day1Ids(p._2)),
      "no probe pair touches the L0-admitted docs — fixture too weak")

    // 2. pruning intact: with the L0 leg present, a one-doc micro
    // candidate frame still bucket-prunes the BASE posting scans to a
    // proper subset
    val loaded = ContainIndex.load(spark, idx)
    assert(loaded.l0Tokens.isDefined && loaded.l0Prefix.isDefined)
    val oneDoc = delta.orderBy($"doc_id").limit(1)
    val (n2o, o2n) = ContainIndex.microCandidateFrames(loaded, oneDoc)
    Seq("new-in-old" -> n2o, "old-in-new" -> o2n).foreach {
      case (label, f) =>
        f.count()
        val plan = f.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        val sels = "SelectedBucketsCount: (\\d+) out of 64".r
          .findAllMatchIn(plan).map(_.group(1).toInt).toList
        assert(sels.nonEmpty && sels.forall(_ < 64),
          s"$label lost base bucket pruning under L0 ($sels):\n$plan")
    }

    // 3. compaction folds L0; probe output is unchanged
    assert(ContainIndex.compact(spark, idx, maxFiles = 0) > 0)
    assert(l0Names(idx, "tokens").isEmpty && l0Names(idx, "prefix").isEmpty,
      "compaction must consume the L0 accrual")
    assert(pairSet(ContainIndex.probe(spark, idx, delta)) === withL0,
      "probe output changed when L0 folded into the base")

    // 4. purge reaches rows that are still IN L0: append again (fresh
    // L0), tombstone an L0-admitted doc that pairs, purge, and the row
    // must be gone everywhere
    assert(ContainIndex.append(spark,
      docs.filter($"doc_id" % 5 === 3)
        .select(($"doc_id" + 500000L).as("doc_id"), $"text"),
      idx, "l0-day2"))
    val before = pairSet(ContainIndex.probe(spark, idx, delta))
    val l0DocIds = docs.filter($"doc_id" % 5 === 3)
      .select(($"doc_id" + 500000L).as("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val dropId = before.flatMap(p => Seq(p._1, p._2).filter(l0DocIds))
      .toSeq.sorted.headOption.getOrElse(
        fail("no probe pair touches the second L0 admission"))
    assert(ContainIndex.delete(spark, idx, Seq(dropId).toDF("doc_id"),
      "l0-td"))
    assert(ContainIndex.purge(spark, idx))
    val ver = new File(idx).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .maxBy(_.getName.stripPrefix("v").toLong)
    for (t <- Seq("tokens", "prefix", "sets")) {
      // read base AND any surviving L0 files
      val paths = Seq(new File(ver, t)) ++
        Option(new File(new File(ver, t), "_l0"))
          .filter(_.isDirectory).toSeq
      val ids = spark.read.parquet(paths.map(_.getAbsolutePath): _*)
        .select($"doc_id").collect().map(_.getLong(0)).toSet
      assert(!ids.contains(dropId),
        s"$t still holds the tombstoned L0-admitted doc after purge")
    }
    assert(pairSet(ContainIndex.probe(spark, idx, delta)) ===
      before.filterNot(p => p._1 == dropId || p._2 == dropId))
  }
}
