package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** The PROBE-THEN-ADMIT streaming loop (`admitId = Some(…)` on the
  * index faces) — the full production shape: each micro-batch dedups
  * against the standing corpus, then becomes part of it. Pinned:
  *
  *   1. GROWTH + FRESHNESS — a near-dup planted in batch 1 of a doc
  *      that arrived in batch 0 is reported by batch 1's probe: batch
  *      0 was admitted and the `VersionedCache` picked up the pointer
  *      move within one batch.
  *   2. REDELIVERY SAFETY — batch 2 re-sends a batch-0 doc verbatim
  *      (same doc_id): no self-pair, but it DOES pair with the
  *      admitted batch-1 copy (a real duplicate relationship under a
  *      different id); and the deterministic admission pair shape
  *      (`admissionShape`) keeps both-sides-in-batch rows out, so a
  *      crash-replayed batch emits the same rows as a clean one.
  *   3. ADMISSION BOOKKEEPING — one `appliedDeltas` entry per batch,
  *      a checkpoint-replayed deltaId is a no-op (`append` returns
  *      false), and old versions PRUNE from the loop (keep = 2) so a
  *      long-running stream's disk and catalog stay bounded.
  *   4. One artifact load per VERSION: initial load + one reload per
  *      admission-moved pointer.
  */
class IngestAdmitSpec extends SparkSpec {

  test("probe-then-admit: batch N+1 dedups against batch N, replays " +
      "are no-ops") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-admit-idx").toString
    graft.analytics.DedupIndex.build(spark,
      docs.filter($"doc_id" % 5 =!= 4), idx)

    val delta = docs.filter($"doc_id" % 5 === 4)
      .as[IngestDoc].collect().sortBy(_.doc_id)
    val b0 = delta.take(delta.length / 2).toSeq
    val seed = b0.head
    // batch 1: a verbatim near-dup COPY of a batch-0 doc under a fresh
    // id (the cross-batch pair the admitted index must surface) plus
    // the rest of the delta; batch 2: the SAME batch-0 doc re-sent
    // verbatim (must NOT self-pair; must pair with the admitted copy)
    val copyId = 990000001L
    val b1 = IngestDoc(copyId, seed.text) +: delta.drop(delta.length / 2)
    val b2 = Seq(seed)

    val got = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, Long, Long)]()  // (corpus_id, new_id, batchId)
    val input = MemoryStream[IngestDoc]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-admit-ckpt").toString
    val loadsBefore = graft.analytics.DedupIndex.loadRuns.get()
    def versions(): Set[Long] = new java.io.File(idx).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .map(_.getName.stripPrefix("v").toLong).toSet
    // compactEvery = 1: the in-loop compaction seat — a skip at this
    // artifact's accrual (files ≤ buckets + compactMaxFiles), pinned
    // here as exactly that: it must not perturb deltas or the load
    // count below; the firing path is pinned in the next test
    val q = IngestDedup.dedupIngestFromIndex(input.toDS(), idx, ckpt,
      admitId = Some("batch"), compactEvery = 1) { (pairs, batchId) =>
        pairs.collect().foreach(r =>
          got.add((r.getLong(0), r.getLong(1), batchId)))
      }
    try {
      input.addData(b0); q.processAllAvailable()
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()

    import scala.jdk.CollectionConverters._
    val pairs = got.asScala.toSet
    // 1. growth + freshness: the copy matched its batch-0 original
    assert(pairs.contains((seed.doc_id, copyId, 1L)),
      s"batch 1's probe missed the planted copy of the admitted " +
        s"batch-0 doc ${seed.doc_id}: $pairs")
    // 2. redelivery safety: the re-sent doc never pairs with itself,
    // and DOES pair with its admitted differently-id'd copy
    assert(!pairs.exists(p => p._1 == p._2),
      s"self-pair reported for a re-sent admitted doc: $pairs")
    assert(pairs.contains((copyId, seed.doc_id, 2L)),
      s"the re-sent doc must still match the admitted copy: $pairs")
    // 3. bookkeeping: one delta per batch; replaying a deltaId no-ops;
    // the loop PRUNES old versions (keep = 2: v0 build + 3 admissions
    // = v3, so only v2/v3 survive)
    assert(graft.analytics.DedupIndex.appliedDeltas(idx) ===
      Set("batch-0", "batch-1", "batch-2"))
    assert(!graft.analytics.DedupIndex.append(spark,
        docs.filter($"doc_id" === seed.doc_id), idx, "batch-0"),
      "a replayed deltaId must be an admission no-op")
    assert(graft.analytics.DedupIndex.appliedDeltas(idx) ===
      Set("batch-0", "batch-1", "batch-2"),
      "the no-op replay mutated the delta set")
    assert(versions() === Set(2L, 3L),
      s"the admission loop must prune old versions (got ${versions()})")
    // 4. one load per version: initial + one reload per admission
    assert(graft.analytics.DedupIndex.loadRuns.get() === loadsBefore + 3,
      "expected exactly initial load + one reload per admission-moved " +
        "pointer")
  }

  test("in-loop compaction FIRES past the accrual threshold and carries " +
      "deltas, versions, and probe output") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-admit-cpx").toString
    graft.analytics.DedupIndex.build(spark,
      docs.filter($"doc_id" % 5 =!= 4), idx)
    val delta = docs.filter($"doc_id" % 5 === 4)
      .as[IngestDoc].collect().sortBy(_.doc_id)
    val (b0, b1) = delta.splitAt(delta.length / 2)
    val got = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, Long)]()
    val input = MemoryStream[IngestDoc]
    // compactMaxFiles = 0: ANY accrual past the one-file-per-bucket
    // floor compacts — every admission appends one file per touched
    // bucket, so compaction fires after each of the two batches; the
    // stream must keep probing correctly across the compaction-moved
    // versions, deltas must carry, and files return to the floor
    val q = IngestDedup.dedupIngestFromIndex(input.toDS(), idx,
      java.nio.file.Files.createTempDirectory("graft-admit-cpx-ck")
        .toString, admitId = Some("batch"), compactEvery = 1,
      compactMaxFiles = 0) { (pairs, _) =>
        pairs.collect().foreach(r => got.add((r.getLong(0), r.getLong(1))))
      }
    try {
      input.addData(b0.toSeq); q.processAllAvailable()
      // READER GRACE on a COMPACTING batch: record the version batch 1's
      // probe will read; after the batch (append -> v+1, prune keeps
      // {v, v+1}, compact -> v+2) that version must still exist on disk
      // — prune-before-compact. The compact-then-prune order deleted it
      // WHILE the VersionedCache still pinned its frames (an evicted
      // cached partition recomputing, or a caller-held lazy pairs frame,
      // would hit FileNotFoundException).
      val probed = graft.analytics.DedupIndex.currentVersion(idx).get
      input.addData(b1.toSeq); q.processAllAvailable()
      assert(new java.io.File(idx, s"v$probed").exists(),
        s"version v$probed (probed by the compacting batch) was pruned " +
          "during the batch that read it — reader grace violated")
    } finally q.stop()
    assert(graft.analytics.DedupIndex.appliedDeltas(idx) ===
      Set("batch-0", "batch-1"),
      "deltas must survive in-loop compactions")
    // post-compaction layout: bucket-granular compaction folds the
    // accrual but hard-links the per-bucket BASE files, so the floor is
    // base + merged = TWO files per bucket (not one); and the base files
    // must be LINKS of the prior version's (same name, same inode via
    // Files.isSameFile) — the O(admitted-bytes)-not-O(corpus) proof
    val meta = """bucket\.(\w+)\.n=(\d+)""".r
    val vers = new java.io.File(idx).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .sortBy(_.getName.stripPrefix("v").toLong)
    val ver = vers.last
    val prev = vers(vers.length - 2)
    val metaTxt = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(ver, "_meta.txt").toPath))
    val counts = meta.findAllMatchIn(metaTxt)
      .map(m => m.group(1) -> m.group(2).toInt).toMap
    for ((t, n) <- counts) {
      val bucketOf = "_(\\d{5})\\.".r
      val byBucket = new java.io.File(ver, t).listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .groupBy(f => bucketOf.findFirstMatchIn(f.getName).get.group(1))
      assert(byBucket.values.forall(_.length <= 2),
        s"$t: a bucket holds > 2 files after in-loop compaction " +
          s"(${byBucket.view.mapValues(_.length).toMap})")
      val carried = byBucket.values.flatten.count { f =>
        val old = new java.io.File(prev, t + "/" + f.getName)
        old.exists() && java.nio.file.Files.isSameFile(f.toPath, old.toPath)
      }
      assert(carried > 0,
        s"$t: no base file was hard-link-carried — compaction rewrote " +
          "the whole table")
    }
    // probe output parity with a fresh batch probe over the compacted
    // artifact: the admitted docs are the corpus now, so a re-probe of
    // the delta reports no self-pairs and the same cross pairs
    val fresh = graft.analytics.DedupIndex.probe(spark, idx,
      docs.filter($"doc_id" % 5 === 4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!fresh.exists(p => p._1 == p._2),
      "re-probe after compaction self-paired")
  }

  test("a takedown issued between batches (single-writer seat) filters " +
      "the NEXT batch's probe via the version-pinned cache reload") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-admit-td").toString
    graft.analytics.DedupIndex.build(spark,
      docs.filter($"doc_id" % 5 =!= 4), idx)
    val delta = docs.filter($"doc_id" % 5 === 4)
      .as[IngestDoc].collect().sortBy(_.doc_id).toSeq
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val input = MemoryStream[IngestDoc]
    val q = IngestDedup.dedupIngestFromIndex(input.toDS(), idx,
      java.nio.file.Files.createTempDirectory("graft-admit-td-ck")
        .toString) { (pairs, batchId) =>
        pairs.collect().foreach(r =>
          got += ((r.getLong(0), r.getLong(1), batchId)))
      }
    try {
      // batch 0: the full delta — establishes which corpus ids match
      input.addData(delta); q.processAllAvailable()
      val matched = got.filter(_._3 == 0L).map(_._1).distinct.sorted
      assert(matched.nonEmpty, "fixture must contain cross-split pairs")
      // takedown of one matching corpus doc BETWEEN batches — the
      // delete moves the pointer, so the stream's VersionedCache must
      // reload and batch 1's probe (same delta, fresh rows) must not
      // report it; no stream restart involved
      val dropId = matched.head
      assert(graft.analytics.DedupIndex.delete(spark, idx,
        Seq(dropId).toDF("doc_id"), "takedown-mid"))
      input.addData(delta); q.processAllAvailable()
      val batch1 = got.filter(_._3 == 1L)
      assert(batch1.nonEmpty, "batch 1 must still report surviving pairs")
      assert(batch1.forall(p => p._1 != dropId && p._2 != dropId),
        s"batch 1 reported pairs touching the tombstoned id $dropId")
      assert(batch1.map(p => (p._1, p._2)).toSet ===
        got.filter(_._3 == 0L).map(p => (p._1, p._2))
          .filterNot(p => p._1 == dropId || p._2 == dropId).toSet,
        "batch 1 must equal batch 0 minus the tombstoned pairs")
    } finally q.stop()
  }

  test("TakedownQueue: an ADMITTING stream applies enqueued deletes from " +
      "its own writer seat — no tripwire, next probe filtered, versions " +
      "bounded") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-admit-tq").toString
    graft.analytics.DedupIndex.build(spark,
      docs.filter($"doc_id" % 5 =!= 4), idx)
    val delta = docs.filter($"doc_id" % 5 === 4)
      .as[IngestDoc].collect().sortBy(_.doc_id).toSeq
    val tq = new TakedownQueue
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val input = MemoryStream[IngestDoc]
    val q = IngestDedup.dedupIngestFromIndex(input.toDS(), idx,
      java.nio.file.Files.createTempDirectory("graft-admit-tq-ck").toString,
      admitId = Some("tqstream"), takedowns = Some(tq)) { (pairs, batchId) =>
        pairs.collect().foreach(r =>
          got += ((r.getLong(0), r.getLong(1), batchId)))
      }
    try {
      // batch 0: full delta, admitted; its probe tells us which corpus
      // ids match
      input.addData(delta); q.processAllAvailable()
      val matched = got.filter(_._3 == 0L).map(_._1).distinct.sorted
      assert(matched.nonEmpty, "fixture must contain cross-split pairs")
      val dropId = matched.head
      // enqueue from "another thread" (here: the test thread) — the
      // loop applies it after batch 1's own admission, from the writer
      // seat, so the single-writer tripwire never fires even though
      // batch 1 ALSO admits
      tq.request(Seq(dropId), "takedown-q0")
      // batch 1: fresh ids (re-sending batch 0's ids would be admitted
      // copies pairing among themselves); probe must be filtered by the
      // takedown applied at the END of this batch only from batch 2 on
      val b1 = delta.map(d => d.copy(doc_id = d.doc_id + 990000000L))
      input.addData(b1); q.processAllAvailable()
      assert(tq.isEmpty, "the loop did not drain the takedown queue")
      // batch 2: same shape again — NOW the takedown is in effect
      val b2 = delta.map(d => d.copy(doc_id = d.doc_id + 995000000L))
      input.addData(b2); q.processAllAvailable()
      val batch2 = got.filter(_._3 == 2L)
      assert(batch2.nonEmpty, "batch 2 must still report surviving pairs")
      assert(batch2.forall(_._1 != dropId),
        s"batch 2 reported pairs against the taken-down corpus id $dropId")
      // the stream survived (no tripwire) and keeps versions bounded
      assert(q.isActive)
      val versions = new java.io.File(idx).listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("v"))
      assert(versions <= 3,
        s"takedown admissions must stay pruned (found $versions versions)")
    } finally q.stop()
  }

  test("takedown drain reader grace: the version this batch's probe " +
      "read survives a batch that appends AND drains two requests " +
      "(folded into one version bump)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-grace-idx").toString
    graft.analytics.DedupIndex.build(spark,
      docs.filter($"doc_id" % 5 =!= 4), idx)
    val delta = docs.filter($"doc_id" % 5 === 4)
      .as[IngestDoc].collect().sortBy(_.doc_id).toSeq
    val tq = new TakedownQueue
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val input = MemoryStream[IngestDoc]
    val prevRatio = spark.conf.getOption("spark.graft.index.purge.ratio")
    // auto-purge off: this test pins the prune arithmetic and a fired
    // purge would add its own (legitimate) bump
    spark.conf.set("spark.graft.index.purge.ratio", "off")
    val q = IngestDedup.dedupIngestFromIndex(input.toDS(), idx,
      java.nio.file.Files.createTempDirectory("graft-grace-ck").toString,
      admitId = Some("grace"), takedowns = Some(tq)) { (pairs, batchId) =>
        pairs.collect().foreach(r =>
          got += ((r.getLong(0), r.getLong(1), batchId)))
      }
    try {
      input.addData(delta); q.processAllAvailable()
      val matched = got.filter(_._3 == 0L).map(_._1).distinct.sorted
      assert(matched.nonEmpty, "fixture must contain cross-split pairs")
      // the version batch 1's probe will read (batch 0's admission)
      val vProbed = graft.analytics.DedupIndex.currentVersion(idx).get
      // two requests under distinct deltaIds — the pre-fix design
      // bumped once per request and its fixed-keep prune then deleted
      // the probed version within the same batch (r16 ADVICE)
      tq.request(Seq(matched.head), "grace-td-1")
      tq.request(Seq(matched.last), "grace-td-2")
      val b1 = delta.map(d => d.copy(doc_id = d.doc_id + 990000000L))
      input.addData(b1); q.processAllAvailable()
      assert(tq.isEmpty, "the loop did not drain the takedown queue")
      // batch 1 bumped exactly twice: its append + ONE folded delete
      assert(graft.analytics.DedupIndex.currentVersion(idx)
        .contains(vProbed + 2),
        "a two-request drain must fold into one version bump")
      assert(new java.io.File(idx, s"v$vProbed").isDirectory,
        "reader grace violated: the version batch 1's probe read was " +
          "pruned within the batch that read it")
      // the next (drain-free) batch's prune drops it — versions bounded
      val b2 = delta.map(d => d.copy(doc_id = d.doc_id + 995000000L))
      input.addData(b2); q.processAllAvailable()
      assert(q.isActive)
      val versions = new java.io.File(idx).listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("v"))
      assert(versions <= 2,
        s"steady state must return to keep=2 (found $versions versions)")
    } finally {
      q.stop()
      prevRatio.fold(spark.conf.unset("spark.graft.index.purge.ratio"))(
        spark.conf.set("spark.graft.index.purge.ratio", _))
    }
  }

  test("auto-purge: a drain crossing spark.graft.index.purge.ratio " +
      "fires the physical purge from the writer seat — sidecar dropped, " +
      "rows gone, probe output unchanged, stream alive") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-apurge-idx").toString
    graft.analytics.DedupIndex.build(spark,
      docs.filter($"doc_id" % 5 =!= 4), idx)
    val delta = docs.filter($"doc_id" % 5 === 4)
      .as[IngestDoc].collect().sortBy(_.doc_id).toSeq
    val tq = new TakedownQueue
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val input = MemoryStream[IngestDoc]
    val prevRatio = spark.conf.getOption("spark.graft.index.purge.ratio")
    // any tombstone at all crosses this threshold
    spark.conf.set("spark.graft.index.purge.ratio", "0.001")
    val q = IngestDedup.dedupIngestFromIndex(input.toDS(), idx,
      java.nio.file.Files.createTempDirectory("graft-apurge-ck").toString,
      admitId = Some("apurge"), takedowns = Some(tq)) { (pairs, batchId) =>
        pairs.collect().foreach(r =>
          got += ((r.getLong(0), r.getLong(1), batchId)))
      }
    try {
      input.addData(delta); q.processAllAvailable()
      val matched = got.filter(_._3 == 0L).map(_._1).distinct.sorted
      assert(matched.nonEmpty, "fixture must contain cross-split pairs")
      val dropId = matched.head
      tq.request(Seq(dropId), "apurge-td-1")
      val b1 = delta.map(d => d.copy(doc_id = d.doc_id + 990000000L))
      input.addData(b1); q.processAllAvailable()
      assert(tq.isEmpty, "the loop did not drain the takedown queue")
      // purge fired at the maintenance seat: the CURRENT version holds
      // no tombstone sidecar and the rows are physically gone
      val cur = graft.analytics.DedupIndex.currentVersion(idx).get
      val ver = new java.io.File(idx, s"v$cur")
      assert(!new java.io.File(ver, "tombstones").exists(),
        "auto-purge did not drop the tombstone sidecar")
      val sigIds = spark.read.parquet(
        new java.io.File(ver, "signatures").getAbsolutePath)
        .select($"doc_id").collect().map(_.getLong(0)).toSet
      assert(!sigIds.contains(dropId),
        "auto-purge left the tombstoned row in signatures")
      // the probe stays filtered (now physically, not logically)
      val b2 = delta.map(d => d.copy(doc_id = d.doc_id + 995000000L))
      input.addData(b2); q.processAllAvailable()
      val batch2 = got.filter(_._3 == 2L)
      assert(batch2.nonEmpty, "batch 2 must still report surviving pairs")
      assert(batch2.forall(_._1 != dropId),
        s"batch 2 reported pairs against the purged corpus id $dropId")
      assert(q.isActive, "auto-purge tripped the single-writer check")
    } finally {
      q.stop()
      prevRatio.fold(spark.conf.unset("spark.graft.index.purge.ratio"))(
        spark.conf.set("spark.graft.index.purge.ratio", _))
    }
  }

  test("containment and embedding faces admit with the same contract") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // containment: batch 0 admits; batch 1 plants a fragment of a
    // batch-0 doc (first ~60% of its text, past the 20-shingle floor)
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    val cIdx = java.nio.file.Files
      .createTempDirectory("graft-admit-cidx").toString
    graft.analytics.ContainIndex.build(spark,
      docs.filter($"doc_id" % 5 =!= 4), cIdx)
    val delta = docs.filter($"doc_id" % 5 === 4)
      .as[IngestDoc].collect().sortBy(-_.text.length)
    val seed = delta.head
    val fragId = 990000002L
    val frag = IngestDoc(fragId,
      seed.text.take(math.max(120, (seed.text.length * 3) / 5)))
    val got = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, Long)]()
    val input = MemoryStream[IngestDoc]
    val q = IngestDedup.dedupIngestContainment(input.toDS(), cIdx,
      java.nio.file.Files.createTempDirectory("graft-admit-cckpt")
        .toString, admitId = Some("batch")) { (pairs, _) =>
        pairs.collect().foreach(r => got.add((r.getLong(0), r.getLong(1))))
      }
    try {
      input.addData(Seq(seed)); q.processAllAvailable()
      input.addData(Seq(frag)); q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.contains((fragId, seed.doc_id)),
      s"batch 1's fragment not contained in the admitted batch-0 doc: " +
        s"${got.asScala}")
    assert(graft.analytics.ContainIndex.appliedDeltas(cIdx) ===
      Set("batch-0", "batch-1"))

    // embedding: batch 1 re-sends batch 0's vector verbatim under a new
    // id — cos 1.0 against the admitted copy
    val vecs = graft.GraftSession.table(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val sIdx = java.nio.file.Files
      .createTempDirectory("graft-admit-sidx").toString
    graft.analytics.SrpIndex.build(spark,
      vecs.filter($"vec_id" % 5 =!= 4), sIdx)
    val vdelta = vecs.filter($"vec_id" % 5 === 4)
      .as[IngestVec].collect().sortBy(_.vec_id)
    val vseed = vdelta.head
    val vcopy = IngestVec(990000003L, vseed.embedding)
    val vgot = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, Long)]()
    val vinput = MemoryStream[IngestVec]
    val vq = IngestDedup.dedupIngestEmbeddings(vinput.toDS(), sIdx,
      java.nio.file.Files.createTempDirectory("graft-admit-sckpt")
        .toString, admitId = Some("batch")) { (pairs, _) =>
        pairs.collect().foreach(r => vgot.add((r.getLong(0), r.getLong(1))))
      }
    try {
      vinput.addData(Seq(vseed)); vq.processAllAvailable()
      vinput.addData(Seq(vcopy)); vq.processAllAvailable()
    } finally vq.stop()
    assert(vgot.asScala.contains((vseed.vec_id, vcopy.vec_id)),
      s"batch 1's verbatim vector copy not matched against the " +
        s"admitted batch-0 vector: ${vgot.asScala}")
    assert(graft.analytics.SrpIndex.appliedDeltas(sIdx) ===
      Set("batch-0", "batch-1"))
  }

  test("admissionShape is driver-bounded: a 100k-id batch builds " +
      "broadcast joins, never an IN-list literal") {
    import spark.implicits._
    // pairs: (5,7) both in batch -> dropped; (5, 200001) one side in
    // batch -> kept; (200001, 200002) neither -> kept
    val pairs = Seq((5L, 7L, 0.95), (5L, 200001L, 0.91),
      (200001L, 200002L, 0.88))
      .toDF("corpus_id", "new_id", "jaccard")
    // duplicate ids on purpose: the join-based membership test must not
    // MULTIPLY matching pair rows (the isin filter it replaces didn't)
    val ids = spark.range(0, 100000).toDF("doc_id")
      .union(spark.range(0, 1000).toDF("doc_id"))
    val shaped = IngestDedup.admissionShape(pairs, "corpus_id", "new_id",
      Some(ids))
    val rows = shaped.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(rows.toSeq === Seq((5L, 200001L), (200001L, 200002L)),
      s"admission shape semantics drifted: ${rows.toSeq}")
    assert(shaped.columns.toSeq === Seq("corpus_id", "new_id", "jaccard"),
      "admission shape must preserve the sink's column order")
    val plan = shaped.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast membership joins, got:\n$plan")
    assert(!plan.contains("InSet") && !plan.contains(" IN ("),
      "admission shape inlined the batch ids into the plan — the " +
        s"IN-list path is uncapped driver-side work:\n$plan")
  }

  test("admitting streams skip the corpus cache (every admission would " +
      "re-materialize it); conf opts back in") {
    // by-name `all`: the skip must not even EVALUATE the frame list
    val skipped = IngestDedup.cacheIfFits(spark,
      admitting = true, bytes = () => 0L,
      all = fail("admitting face evaluated its cache frames"))
    assert(skipped.isEmpty)
    // non-admitting face under the byte budget still caches
    import spark.implicits._
    val f = Seq(1L).toDF("x")
    assert(IngestDedup.cacheIfFits(spark,
      admitting = false, bytes = () => 0L, all = Seq(f)) === Seq(f))
    // explicit opt-in for rare-admission streams
    spark.conf.set("spark.graft.index.cache.admitting", "always")
    try assert(IngestDedup.cacheIfFits(spark,
      admitting = true, bytes = () => 0L, all = Seq(f)) === Seq(f))
    finally spark.conf.unset("spark.graft.index.cache.admitting")
  }

  test("storage budget excludes the driver's block manager in cluster " +
      "mode, keeps local mode's single entry") {
    val gb = 1L << 30
    // local mode: one entry, driver IS the executor
    assert(IngestDedup.storageBudget(
      Map("10.0.0.1:7077" -> ((4 * gb, 3 * gb))), "10.0.0.1") === gb)
    // cluster mode: the driver entry holds no cached partitions and
    // must not inflate the budget
    assert(IngestDedup.storageBudget(Map(
      "driver-host:7077" -> ((8 * gb, 8 * gb)),
      "exec1:4040" -> ((4 * gb, 2 * gb)),
      "exec2:4041" -> ((4 * gb, 4 * gb))), "driver-host") === 2 * gb)
    // degenerate co-hosting: if the host filter would empty the map,
    // keep the full pool rather than return a zero budget
    assert(IngestDedup.storageBudget(Map(
      "h:1" -> ((4 * gb, 4 * gb)), "h:2" -> ((4 * gb, 4 * gb))),
      "h") === 2 * gb)
  }

  test("purgeRatioOf: default 0.05; explicit value honored; off / " +
      "non-positive / garbage disable") {
    val prev = spark.conf.getOption("spark.graft.index.purge.ratio")
    def set(v: Option[String]): Unit =
      v.fold(spark.conf.unset("spark.graft.index.purge.ratio"))(
        spark.conf.set("spark.graft.index.purge.ratio", _))
    try {
      set(None)
      assert(IngestDedup.purgeRatioOf(spark) === Some(0.05))
      set(Some("0.01"))
      assert(IngestDedup.purgeRatioOf(spark) === Some(0.01))
      set(Some("off"))
      assert(IngestDedup.purgeRatioOf(spark) === None)
      set(Some("0"))
      assert(IngestDedup.purgeRatioOf(spark) === None)
      set(Some("-1"))
      assert(IngestDedup.purgeRatioOf(spark) === None)
      // a typo must not crash the maintenance seat mid-stream — it
      // degrades to disabled (purge stays manual)
      set(Some("five percent"))
      assert(IngestDedup.purgeRatioOf(spark) === None)
    } finally set(prev)
  }
}
