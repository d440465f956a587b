package graft.analytics

import java.io.File

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The MANIFEST-carrier read-side MOUNT (r20 verdict #1): manifest
  * artifacts used to read as plain file-list parquet scans, losing the
  * bucket `HashPartitioning` their link twins get from LOCATION-based
  * catalog registration — the probe join re-shuffled the CORPUS side,
  * the one per-probe exchange that defeats the bucketed layout at
  * 100 TB. [[IndexLayout.mountManifest]] now materializes the logical
  * file list as a per-version SYMLINK tree (metadata-only — the local
  * stand-in for a table format's metadata layer) and registers it with
  * the same bucketed spec. Pinned here:
  *
  *   1. PLAN PARITY: a manifest batch probe's executed plan has the
  *      link twin's shape — exactly one bk exchange (the delta side),
  *      corpus signature side never exchanges, both corpus scans report
  *      `Bucketed: true`.
  *   2. ZERO-COPY: every mounted entry is a symlink; carried physical
  *      files keep nlink == 1 (no hard links snuck back in).
  *   3. L0 leg: accrual files mount under `_l0` and read as their own
  *      delta-sized leg, same as the link carrier.
  *   4. Pair parity with the link twin throughout (the oracled
  *      `*_manifest` rows pin the same against DuckDB every round).
  */
class ManifestMountSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def docs = graft.GraftSession.table(spark, dir, "documents")
    .select(col("doc_id"), col("text"))

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def walkFiles(d: File): Seq[File] = {
    def w(f: File): Seq[File] =
      if (java.nio.file.Files.isSymbolicLink(f.toPath) || f.isFile) Seq(f)
      else Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(w)
    if (d.exists()) w(d) else Nil
  }

  test("a published mount whose _mounted marker was removed is rebuilt, " +
      "and the returned dir always holds the marker") {
    val idx = java.nio.file.Files.createTempDirectory("graft-mount-mark")
      .toFile
    val src = new File(idx, "v0/t")
    src.mkdirs()
    val files = (0 until 3).map { i =>
      val f = new File(src, f"part-0000$i-x_0000$i.c000.snappy.parquet")
      java.nio.file.Files.write(f.toPath, Array[Byte](1))
      f
    }
    val entries = files.map(f => s"t/${f.getName}" -> f)
    val first = IndexLayout.mountManifest(idx.toString, "t", 0L, entries)
    assert(new File(first, "_mounted").isFile)
    // the published tree loses its marker and one of its links
    assert(new File(first, "_mounted").delete())
    assert(new File(first, files.head.getName).delete())
    val again = IndexLayout.mountManifest(idx.toString, "t", 0L, entries)
    assert(again === first)
    assert(new File(again, "_mounted").isFile,
      "mount returned without its _mounted marker")
    assert(files.forall(f => java.nio.file.Files.isSymbolicLink(
      new File(again, f.getName).toPath)),
      "the unmarked mount was reused instead of rebuilt")
  }

  test("manifest probe plan parity: mounted tables register bucketed, " +
      "the corpus side never exchanges, pairs match the link twin, and " +
      "the mount is all symlinks (zero copies, zero hard links)") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val corpus = docs.filter(col("doc_id") % 5 < 3)
      val day1 = docs.filter(col("doc_id") % 5 === 3)
      val delta = docs.filter(col("doc_id") % 5 === 4)
      val mIdx = java.nio.file.Files
        .createTempDirectory("graft-mount-m").toString
      val lIdx = java.nio.file.Files
        .createTempDirectory("graft-mount-l").toString
      DedupIndex.build(spark, corpus, mIdx, DedupIndex.Shape.Oracle,
        buckets = 8, manifestCarrier = true)
      DedupIndex.build(spark, corpus, lIdx, DedupIndex.Shape.Oracle,
        buckets = 8)
      DedupIndex.append(spark, day1, mIdx, "d1")
      DedupIndex.append(spark, day1, lIdx, "d1")

      val mProbe = DedupIndex.probe(spark, mIdx, delta)
      val lProbe = DedupIndex.probe(spark, lIdx, delta)
      val mPairs = pairs(mProbe)
      assert(mPairs === pairs(lProbe),
        "carrier changed the probe answer under the mount")
      assert(mPairs.nonEmpty, "fixture must produce cross-split pairs")

      // the link twin's plan shape, now on the manifest carrier: ONE bk
      // exchange (delta side moving to the corpus band table's
      // bucketing), corpus signature side in place, bucketed scans
      mProbe.count()
      val plan = mProbe.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val bkExchanges = "Exchange hashpartitioning\\(bk".r
        .findAllMatchIn(plan).length
      assert(bkExchanges === 1,
        s"expected exactly 1 bk exchange (delta side), got $bkExchanges:\n$plan")
      assert(!"Exchange hashpartitioning\\(a_id".r
        .findAllMatchIn(plan).hasNext,
        s"corpus signature side exchanged — the mount bought nothing:\n$plan")
      assert("Bucketed: true".r.findAllMatchIn(plan).length >= 2,
        s"both mounted corpus scans must report bucketing:\n$plan")

      // zero-copy: the mount is symlinks only, and the carried physical
      // base files were not hard-linked by the mount (nlink stays 1)
      val mountRoot = new File(mIdx, IndexLayout.MountRoot)
      val mountFiles = walkFiles(mountRoot)
        .filter(_.getName.endsWith(".parquet"))
      assert(mountFiles.nonEmpty, s"no mount tree under $mountRoot")
      mountFiles.foreach { f =>
        assert(java.nio.file.Files.isSymbolicLink(f.toPath),
          s"mount entry is not a symlink: $f")
      }
      walkFiles(new File(mIdx, "v0"))
        .filter(f => f.getName.endsWith(".parquet") &&
          !java.nio.file.Files.isSymbolicLink(f.toPath))
        .foreach { f =>
          assert(java.nio.file.Files.getAttribute(f.toPath, "unix:nlink")
            .asInstanceOf[Number].intValue === 1,
            s"mount hard-linked a base file (nlink > 1): $f")
        }
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      ()
    }
  }

  test("micro probe on a mounted manifest artifact BUCKET-PRUNES the " +
      "corpus scans (SelectedBucketsCount) — the pruning the file-list " +
      "read could never get — with pair parity") {
    val corpus = docs.filter(col("doc_id") % 5 =!= 4)
    val delta = docs.filter(col("doc_id") % 5 === 4)
    val mIdx = java.nio.file.Files
      .createTempDirectory("graft-mount-prune").toString
    // 64 buckets >> the 32 band keys a 1-doc micro-batch carries
    DedupIndex.build(spark, corpus, mIdx, buckets = 64,
      manifestCarrier = true)
    val loaded = DedupIndex.load(spark, mIdx)
    assert(loaded.buckets === Map("signatures" -> 64, "bands" -> 64))
    val microPairs = pairs(DedupIndex.probeLoaded(loaded, delta,
      micro = true))
    assert(microPairs === pairs(DedupIndex.probeLoaded(loaded, delta)),
      "pruned micro probe diverged from the batch probe on the mount")
    assert(microPairs.nonEmpty, "fixture must contain cross-split pairs")
    val one = delta.filter(col("doc_id") === microPairs.head._2)
    val cand = DedupIndex.microCandidates(loaded,
      DedupQueries.signaturesOf(one, loaded.shape.slots))
    cand.count()
    val cplan = cand.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val csel = "SelectedBucketsCount: (\\d+) out of 64".r
      .findFirstMatchIn(cplan)
    assert(csel.isDefined,
      s"no bucket pruning in the mounted candidate plan:\n$cplan")
    assert(csel.get.group(1).toInt < 64,
      s"mounted candidate job read every band bucket " +
        s"(${csel.get.group(1)}/64):\n$cplan")
  }

  test("L0 accrual on a mounted manifest artifact reads as its own " +
      "leg, with pair parity against the link twin") {
    spark.conf.set("spark.graft.index.l0.cutover", "0") // force L0
    // no auto broadcast, so the probe's corpus joins need the bucketing
    // and the plan reports it
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val corpus = docs.filter(col("doc_id") % 5 < 3)
      val day1 = docs.filter(col("doc_id") % 5 === 3)
      val delta = docs.filter(col("doc_id") % 5 === 4)
      val mIdx = java.nio.file.Files
        .createTempDirectory("graft-mount-l0m").toString
      val lIdx = java.nio.file.Files
        .createTempDirectory("graft-mount-l0l").toString
      DedupIndex.build(spark, corpus, mIdx, DedupIndex.Shape.Oracle,
        buckets = 8, manifestCarrier = true)
      DedupIndex.build(spark, corpus, lIdx, DedupIndex.Shape.Oracle,
        buckets = 8)
      DedupIndex.append(spark, day1, mIdx, "d1")
      DedupIndex.append(spark, day1, lIdx, "d1")
      val mLoaded = DedupIndex.load(spark, mIdx)
      assert(mLoaded.l0Frames.nonEmpty,
        "forced-L0 admission must surface an L0 leg on the mount")
      val mProbe = DedupIndex.probeLoaded(mLoaded, delta)
      val mPairs = pairs(mProbe)
      // the mounted base tables read bucketed: both corpus scans
      // (bands + signatures) report it in the executed plan
      val plan = mProbe.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert("Bucketed: true".r.findAllMatchIn(plan).length >= 2,
        s"mounted manifest load must read bucketed:\n$plan")
      assert(mPairs === pairs(DedupIndex.probe(spark, lIdx, delta)),
        "L0-on-mount probe diverged from the link twin")
      assert(mPairs.nonEmpty, "fixture must produce cross-split pairs")
    } finally {
      spark.conf.unset("spark.graft.index.l0.cutover")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      ()
    }
  }
}
