package graft.analytics

import java.io.File

import graft.SparkSpec

/** L0 ACCRUAL admissions on the bucketed TEXT and EMBEDDING artifacts —
  * the r18 containment-face upgrade (`ContainL0Spec`) generalized to
  * the whole index family: each face's `bands` table is bk-keyed, so a
  * delta's |delta| × bands band rows hash across ~EVERY bucket and the
  * modulus append wrote one file per bucket per admission — the write
  * fan-out that scales with the corpus's bucket count (thousands at
  * 100 TB) instead of the batch. With L0, an admission adds ≤
  * appendTasks unbucketed files under `bands/_l0`; the id-keyed tables
  * (`signatures`, `vectors`) keep the modulus append (their deltas
  * touch ≤ |delta| buckets — already delta-bounded). Pinned per face:
  *
  *   1. FILE SHAPE — an admission adds ≤ appendTasks L0 files to
  *      `bands` and ZERO new top-level (bucketed) files there.
  *   2. PRUNING INTACT — with L0 present, the micro candidate frame
  *      still bucket-prunes the BASE band scan (SelectedBucketsCount)
  *      while the L0 leg scans whole.
  *   3. PROBE CORRECTNESS ACROSS L0 — a probe against base + L0 equals
  *      the probe after compaction folds L0 into the base (same pairs,
  *      L0 dirs consumed).
  *   4. PURGE REACHES L0 — tombstoned rows sitting in L0 files are
  *      physically gone after purge.
  *
  * The admitted split is a +500000-shifted copy of the probe delta, so
  * every probe is GUARANTEED cross-L0 pairs (identical text/vector ⇒
  * jaccard/cos 1.0) — the fixture cannot silently weaken.
  */
class IndexL0Spec extends SparkSpec with org.scalatest.BeforeAndAfterEach {

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

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def parquetNames(d: File): Set[String] =
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName).toSet

  private def assertPruned(frame: org.apache.spark.sql.DataFrame,
      label: String): Unit = {
    frame.count()
    val plan = frame.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val sels = "SelectedBucketsCount: (\\d+) out of 64".r
      .findAllMatchIn(plan).map(_.group(1).toInt).toList
    assert(sels.nonEmpty && sels.forall(_ < 64),
      s"$label lost base bucket pruning under L0 ($sels):\n$plan")
  }

  test("text face: admission lands bands as L0, base pruning and probe " +
      "parity hold across the fold, purge reaches L0 rows") {
    import spark.implicits._
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-l0-dedup").toString
    // 64 buckets: a one-doc micro delta has ≤ 16 band keys (Oracle
    // shape), so the pruning assertion can demand a proper subset
    DedupIndex.build(spark, docs.filter($"doc_id" % 5 =!= 4), idx,
      shape = DedupIndex.Shape.Oracle, buckets = 64)
    val delta = docs.filter($"doc_id" % 5 === 4)
    val bandsDir = new File(DedupIndex.tablePath(idx, "bands"))
    val baseNames = parquetNames(bandsDir)

    // admit a shifted copy of the probe delta — guaranteed j=1.0 pairs
    assert(DedupIndex.append(spark,
      delta.select(($"doc_id" + 500000L).as("doc_id"), $"text"),
      idx, "l0-day1"))
    // 1. file shape (the dir is version-pinned per artifact step: the
    // admission hard-links base files into the NEW version dir, so
    // compare names, and read L0 from the new version's table path)
    val afterDir = new File(DedupIndex.tablePath(idx, "bands"))
    assert(parquetNames(afterDir) === baseNames,
      "bands gained top-level bucketed files on admission — the L0 " +
        "path must not touch the base")
    val l0 = parquetNames(new File(afterDir, "_l0"))
    assert(l0.nonEmpty && l0.size <= IndexLayout.AppendTasks,
      s"bands L0 admission wrote ${l0.size} files")

    val withL0 = pairSet(DedupIndex.probe(spark, idx, delta))
    val shifted = delta.select(($"doc_id" + 500000L).as("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(withL0.exists(p => shifted(p._1)),
      "no probe pair reaches the L0-admitted docs")

    // 2. pruning intact under L0
    val loaded = DedupIndex.load(spark, idx)
    assert(loaded.l0Bands.isDefined)
    val one = delta.orderBy($"doc_id").limit(1)
    assertPruned(DedupIndex.microCandidates(loaded,
      DedupQueries.signaturesOf(one, loaded.shape.slots)), "text micro")

    // 3. compaction folds L0; probe output is unchanged. maxFiles is
    // the ACCRUAL slack on top of the bucket floor — negative-bucket
    // slack forces every table fat, so the fold fires even on a tiny
    // fixture whose base files undershoot the bucket count
    assert(DedupIndex.compact(spark, idx, maxFiles = -64) > 0)
    assert(parquetNames(
      new File(DedupIndex.tablePath(idx, "bands"), "_l0")).isEmpty,
      "compaction must consume the L0 accrual")
    assert(pairSet(DedupIndex.probe(spark, idx, delta)) === withL0,
      "probe output changed when L0 folded into the base")

    // 4. purge reaches rows still IN L0: fresh L0 admission, tombstone
    // one of its docs, purge — the row must be gone everywhere
    assert(DedupIndex.append(spark,
      delta.select(($"doc_id" + 900000L).as("doc_id"), $"text"),
      idx, "l0-day2"))
    val before = pairSet(DedupIndex.probe(spark, idx, delta))
    val dropId = before.map(_._1).filter(_ >= 900000L).toSeq.sorted
      .headOption.getOrElse(fail("no pair reaches the second admission"))
    assert(DedupIndex.delete(spark, idx, Seq(dropId).toDF("doc_id"),
      "l0-td"))
    assert(DedupIndex.purge(spark, idx))
    for (t <- Seq("bands", "signatures")) {
      val tdir = new File(DedupIndex.tablePath(idx, t))
      val paths = Seq(tdir) ++
        Option(new File(tdir, "_l0")).filter(_.isDirectory).toSeq
      val ids = spark.read.parquet(paths.map(_.getAbsolutePath): _*)
        .select($"doc_id").collect().map(_.getLong(0)).toSet
      assert(!ids.contains(dropId),
        s"$t still holds the tombstoned L0-admitted doc after purge")
    }
    assert(pairSet(DedupIndex.probe(spark, idx, delta)) ===
      before.filterNot(p => p._1 == dropId || p._2 == dropId))
  }

  test("embedding face: admission lands bands as L0, base pruning and " +
      "probe parity hold across the fold, purge reaches L0 rows") {
    import spark.implicits._
    val vecs = graft.GraftSession.table(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-l0-srp").toString
    // Narrow: 8 bands — a one-vector micro delta has ≤ 8 band keys of
    // 64 buckets, a provably proper subset for the pruning pin
    SrpIndex.build(spark, vecs.filter($"vec_id" % 5 =!= 4), idx,
      DedupQueries.Srp.Narrow, buckets = 64)
    val delta = vecs.filter($"vec_id" % 5 === 4)
    val baseNames = parquetNames(new File(SrpIndex.tablePath(idx, "bands")))

    assert(SrpIndex.append(spark,
      delta.select(($"vec_id" + 500000L).as("vec_id"), $"embedding"),
      idx, "l0-day1"))
    val afterDir = new File(SrpIndex.tablePath(idx, "bands"))
    assert(parquetNames(afterDir) === baseNames,
      "bands gained top-level bucketed files on admission — the L0 " +
        "path must not touch the base")
    val l0 = parquetNames(new File(afterDir, "_l0"))
    assert(l0.nonEmpty && l0.size <= IndexLayout.AppendTasks,
      s"bands L0 admission wrote ${l0.size} files")

    val withL0 = pairSet(SrpIndex.probe(spark, idx, delta))
    assert(withL0.exists(p => p._1 >= 500000L),
      "no probe pair reaches the L0-admitted vectors")

    val loaded = SrpIndex.load(spark, idx)
    assert(loaded.l0Bands.isDefined)
    val one = delta.orderBy($"vec_id").limit(1)
    assertPruned(SrpIndex.microCandidates(loaded,
      DedupQueries.srpVectorsOf(spark, one)), "embed micro")

    // negative slack forces the fold on the tiny fixture (see text face)
    assert(SrpIndex.compact(spark, idx, maxFiles = -64) > 0)
    assert(parquetNames(
      new File(SrpIndex.tablePath(idx, "bands"), "_l0")).isEmpty,
      "compaction must consume the L0 accrual")
    assert(pairSet(SrpIndex.probe(spark, idx, delta)) === withL0,
      "probe output changed when L0 folded into the base")

    assert(SrpIndex.append(spark,
      delta.select(($"vec_id" + 900000L).as("vec_id"), $"embedding"),
      idx, "l0-day2"))
    val before = pairSet(SrpIndex.probe(spark, idx, delta))
    val dropId = before.map(_._1).filter(_ >= 900000L).toSeq.sorted
      .headOption.getOrElse(fail("no pair reaches the second admission"))
    assert(SrpIndex.delete(spark, idx, Seq(dropId).toDF("vec_id"),
      "l0-td"))
    assert(SrpIndex.purge(spark, idx))
    for (t <- Seq("bands", "vectors")) {
      val tdir = new File(SrpIndex.tablePath(idx, t))
      val paths = Seq(tdir) ++
        Option(new File(tdir, "_l0")).filter(_.isDirectory).toSeq
      val ids = spark.read.parquet(paths.map(_.getAbsolutePath): _*)
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      assert(!ids.contains(dropId),
        s"$t still holds the tombstoned L0-admitted vector after purge")
    }
    assert(pairSet(SrpIndex.probe(spark, idx, delta)) ===
      before.filterNot(p => p._1 == dropId || p._2 == dropId))
  }

  test("MODULUS side of the adaptive cutover: below cutover×appendTasks " +
      "buckets an admission appends at the modulus (no L0), and the " +
      "probe still reaches the admitted docs") {
    import spark.implicits._
    // the suite's beforeEach forces cutover=0 (always L0); this test
    // pins the OTHER side of the gate — the default factor (16 × 8
    // append tasks = 128) leaves a 64-bucket artifact on the modulus
    spark.conf.set("spark.graft.index.l0.cutover",
      IndexLayout.L0CutoverFactor.toString)
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-l0-cutover").toString
    DedupIndex.build(spark, docs.filter($"doc_id" % 5 =!= 4), idx,
      shape = DedupIndex.Shape.Oracle, buckets = 64)
    val delta = docs.filter($"doc_id" % 5 === 4)
    val bandsDir = new File(DedupIndex.tablePath(idx, "bands"))
    val baseNames = parquetNames(bandsDir)
    assert(DedupIndex.append(spark,
      delta.select(($"doc_id" + 500000L).as("doc_id"), $"text"),
      idx, "cut-day1"))
    val afterDir = new File(DedupIndex.tablePath(idx, "bands"))
    assert(parquetNames(new File(afterDir, "_l0")).isEmpty,
      "below the cutover the admission must NOT write L0 accrual")
    assert(parquetNames(afterDir).size > baseNames.size,
      "the modulus append must add bucket-named files")
    assert(DedupIndex.load(spark, idx).l0Bands.isEmpty,
      "no L0 leg should load below the cutover")
    val pairs = pairSet(DedupIndex.probe(spark, idx, delta))
    assert(pairs.exists(p => p._1 >= 500000L),
      "no probe pair reaches the modulus-admitted docs")
  }
}
