package graft.analytics

import java.io.File

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The DEDUP family on the MANIFEST carrier (r19 verdict #2: the seam
  * was spec-proven on synthetic tables, but no production artifact ever
  * executed through `_carry.txt` resolution). Pinned here:
  *
  *   1. The `manifestCarrier = true` build argument is recorded at
  *      BUILD and rides the artifact (probes/admits never take it).
  *   2. An admission carries untouched files as REFERENCES — the new
  *      version holds a `_carry.txt` and ZERO copied/linked base bytes.
  *   3. Probe parity: build+admit on the manifest carrier answers
  *      pair-for-pair what the LINK-carrier twin answers (the oracled
  *      `*_manifest` rows then pin the same against DuckDB every round).
  *   4. Delete/purge/prune: tombstone reads resolve through the logical
  *      file list, the sliced purge converges, and prune VACUUMS —
  *      referenced files survive their version dir's drop.
  */
class DedupManifestCarrierSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def docs = graft.GraftSession.table(spark, dir, "documents")
    .select(col("doc_id"), col("text"))

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("manifest build + admit: carrier recorded in meta, admission " +
      "writes _carry.txt references with zero base bytes copied, probe " +
      "matches the link-carrier twin pair-for-pair") {
    val mIdx = java.nio.file.Files
      .createTempDirectory("graft-dedup-manifest").toString
    val lIdx = java.nio.file.Files
      .createTempDirectory("graft-dedup-linktwin").toString
    val corpus = docs.filter(col("doc_id") % 5 < 3)
    val day1 = docs.filter(col("doc_id") % 5 === 3)
    val delta = docs.filter(col("doc_id") % 5 === 4)

    DedupIndex.build(spark, corpus, mIdx, DedupIndex.Shape.Oracle,
      manifestCarrier = true)
    // admits take no carrier — the artifact's meta must carry the choice
    assert(new graft.streaming.VersionedArtifact(mIdx).isManifestCurrent,
      "a manifest build must record carrier=manifest in the artifact")
    DedupIndex.append(spark, day1, mIdx, "m-day1")

    val v0 = new File(mIdx, "v0")
    val v1 = new File(mIdx, "v1")
    assert(new File(v1, "_carry.txt").isFile,
      "a manifest admission must write the carry manifest")
    // zero-copy: every v0 base parquet file reaches v1 as a REFERENCE
    // into v0 (not a copy in v1, not a hard link — nlink stays 1)
    def parquetFiles(d: File): Seq[File] = {
      def walk(f: File): Seq[File] =
        if (f.isFile) { if (f.getName.endsWith(".parquet")) Seq(f) else Nil }
        else Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      walk(d)
    }
    val carry = graft.streaming.VersionedStore.readCarry(v1)
    assert(carry.nonEmpty, "the admission must carry the base by reference")
    assert(carry.values.forall(_.getCanonicalPath
        .startsWith(v0.getCanonicalPath + "/")),
      s"first-admission references must resolve into v0: ${carry.values}")
    val v0Parquet = parquetFiles(v0)
    assert(v0Parquet.nonEmpty)
    val carriedPhys = carry.values.map(_.getCanonicalPath).toSet
    assert(v0Parquet.forall(f => carriedPhys.contains(f.getCanonicalPath)),
      "every v0 base file must be referenced by v1's manifest")
    assert(v0Parquet.forall(f =>
        java.nio.file.Files.getAttribute(f.toPath, "unix:nlink")
          .asInstanceOf[Number].intValue == 1),
      "manifest carry must not hard-link v0 files (nlink must stay 1)")
    // ... and none of them was copied into v1 under its carried rel
    carry.keys.foreach { rel =>
      assert(!new File(v1, rel).exists(),
        s"carried rel $rel must not also exist physically in v1")
    }

    // link twin: same two-step lifecycle, default carrier
    DedupIndex.build(spark, corpus, lIdx, DedupIndex.Shape.Oracle)
    DedupIndex.append(spark, day1, lIdx, "m-day1")
    val m = pairs(DedupIndex.probe(spark, mIdx, delta))
    val l = pairs(DedupIndex.probe(spark, lIdx, delta))
    assert(m === l, s"carrier changed the probe answer: manifest-only=" +
      s"${m -- l}, link-only=${l -- m}")
    assert(m.nonEmpty, "fixture must produce cross-split pairs")
  }

  test("manifest delete + sliced purge + vacuum prune: tombstones " +
      "resolve logically, purge converges, referenced files survive " +
      "their version's drop") {
    val mIdx = java.nio.file.Files
      .createTempDirectory("graft-dedup-manifest-purge").toString
    val corpus = docs.filter(col("doc_id") % 5 =!= 4)
    val delta = docs.filter(col("doc_id") % 5 === 4)
    DedupIndex.build(spark, corpus, mIdx, DedupIndex.Shape.Oracle,
      manifestCarrier = true)
    val before = pairs(DedupIndex.probe(spark, mIdx, delta))
    assert(before.nonEmpty, "fixture must produce cross-split pairs")
    // tombstone a corpus id that actually pairs (an arbitrary slice may
    // miss every pair at this fixture scale)
    val dropId = before.map(_._1).min
    import spark.implicits._
    DedupIndex.delete(spark, mIdx, Seq(dropId).toDF("doc_id"),
      s"m-takedown-$dropId")
    // tombstone ratio reads through the logical snapshot (the sidecar
    // may be carried by reference after later transactions)
    assert(DedupIndex.tombstoneRatio(spark, mIdx) > 0.0)
    val logical = pairs(DedupIndex.probe(spark, mIdx, delta))
    assert(logical === before.filterNot(_._1 == dropId),
      "the logical filter must drop exactly the tombstoned corpus side")
    var slices = 0
    while (DedupIndex.purge(spark, mIdx, budget = 1)) {
      slices += 1; assert(slices <= 4096, "sliced purge did not converge")
    }
    assert(slices > 1, "budget=1 must take multiple slices on this corpus")
    DedupIndex.prune(spark, mIdx)
    val purged = pairs(DedupIndex.probe(spark, mIdx, delta))
    assert(purged === logical,
      "physical purge + vacuum prune must be reader-invisible")
    // vacuum semantics: versions older than keep=2 are gone as DIRS only
    // where unreferenced; the current version's carried references must
    // all still resolve
    val art = new graft.streaming.VersionedArtifact(mIdx)
    val snap = art.snapshotLogical(Seq("signatures", "bands"), "tombstones")
    snap.tableFiles.values.flatten.foreach { case (rel, f) =>
      assert(f.isFile, s"carried reference $rel -> $f dangles after prune")
    }
    assert(snap.extraFiles.isEmpty,
      "the completing purge slice must drop the tombstone sidecar")
  }

  test("the STREAMING ingest seat runs on a manifest artifact: " +
      "probe-then-admit across batches, vacuum prune keeps every " +
      "surviving reference resolvable") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val idx = java.nio.file.Files
      .createTempDirectory("graft-manifest-stream").toString
    DedupIndex.build(spark, docs.filter(col("doc_id") % 5 =!= 4), idx,
      manifestCarrier = true)
    val delta = docs.filter(col("doc_id") % 5 === 4)
      .as[graft.streaming.IngestDoc].collect().sortBy(_.doc_id)
    val seed = delta.head
    val copyId = 990000001L
    val b0 = delta.take(delta.length / 2).toSeq
    val b1 = graft.streaming.IngestDoc(copyId, seed.text) +:
      delta.drop(delta.length / 2).toSeq
    val got = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, Long, Long)]()
    val input = MemoryStream[graft.streaming.IngestDoc]
    val q = graft.streaming.IngestDedup.dedupIngestFromIndex(input.toDS(),
      idx, java.nio.file.Files
        .createTempDirectory("graft-manifest-stream-ck").toString,
      admitId = Some("mstream")) { (pairs, batchId) =>
        pairs.collect().foreach(r =>
          got.add((r.getLong(0), r.getLong(1), batchId)))
      }
    try {
      input.addData(b0); q.processAllAvailable()
      input.addData(b1); q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val pairsGot = got.asScala.toSet
    // growth + freshness across a MANIFEST admission: batch 1's copy
    // of a batch-0 doc pairs against the admitted (reference-carried)
    // corpus
    assert(pairsGot.contains((seed.doc_id, copyId, 1L)),
      s"batch 1 missed the planted copy over the manifest artifact: " +
        s"$pairsGot")
    val art = new graft.streaming.VersionedArtifact(idx)
    assert(art.isManifestCurrent,
      "admissions must keep the recorded carrier")
    assert(DedupIndex.appliedDeltas(idx) === Set("mstream-0", "mstream-1"))
    // the loop's reader-grace prune is VACUUM on this carrier: every
    // logical file of the surviving current version must still resolve
    val snap = art.snapshotLogical(Seq("signatures", "bands"), "tombstones")
    snap.tableFiles.values.flatten.foreach { case (rel, f) =>
      assert(f.isFile, s"dangling reference after in-loop vacuum: $rel -> $f")
    }
  }

  test("the OTHER two families run on the manifest carrier too: " +
      "SrpIndex and ContainIndex build+admit+probe match their link " +
      "twins pair-for-pair") {
    import spark.implicits._
    // SRP (embedding) family
    val vecs = graft.GraftSession.table(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val (srpM, srpL) = (
      java.nio.file.Files.createTempDirectory("graft-srp-m").toString,
      java.nio.file.Files.createTempDirectory("graft-srp-l").toString)
    SrpIndex.build(spark, vecs.filter($"vec_id" % 5 < 3), srpM,
      manifestCarrier = true)
    assert(new graft.streaming.VersionedArtifact(srpM).isManifestCurrent)
    SrpIndex.append(spark, vecs.filter($"vec_id" % 5 === 3), srpM, "d1")
    SrpIndex.build(spark, vecs.filter($"vec_id" % 5 < 3), srpL)
    SrpIndex.append(spark, vecs.filter($"vec_id" % 5 === 3), srpL, "d1")
    val srpDelta = vecs.filter($"vec_id" % 5 === 4)
    assert(pairs(SrpIndex.probe(spark, srpM, srpDelta)) ===
      pairs(SrpIndex.probe(spark, srpL, srpDelta)),
      "SRP carrier changed the probe answer")

    // containment family
    val (cM, cL) = (
      java.nio.file.Files.createTempDirectory("graft-cont-m").toString,
      java.nio.file.Files.createTempDirectory("graft-cont-l").toString)
    ContainIndex.build(spark, docs.filter($"doc_id" % 5 < 3), cM,
      manifestCarrier = true)
    assert(new graft.streaming.VersionedArtifact(cM).isManifestCurrent)
    ContainIndex.append(spark, docs.filter($"doc_id" % 5 === 3), cM, "d1")
    ContainIndex.build(spark, docs.filter($"doc_id" % 5 < 3), cL)
    ContainIndex.append(spark, docs.filter($"doc_id" % 5 === 3), cL, "d1")
    val cDelta = docs.filter($"doc_id" % 5 === 4)
    val mP = pairs(ContainIndex.probe(spark, cM, cDelta))
    assert(mP === pairs(ContainIndex.probe(spark, cL, cDelta)),
      "containment carrier changed the probe answer")
    assert(mP.nonEmpty, "fixture must produce containment pairs")
  }
}
