package graft.streaming

import java.io.File
import java.nio.file.Files

import graft.SparkSpec

/** The MANIFEST CARRIER proof (r18 verdict #5): `VersionedStore`'s
  * header claims the hard-link carry swaps for table-format manifest
  * references "without changing the merge contract" — this suite RUNS
  * the artifact lifecycle (idempotent admission → bucket-granular
  * compaction → budget-sliced purge → reader-grace prune) on BOTH
  * carriers over the same synthetic tables and asserts value parity at
  * every checkpoint, because object stores have no hard links and the
  * 100 TB deployment story depends on the swap being sound. Pinned:
  *
  *   1. PARITY — every lifecycle checkpoint's row multiset is identical
  *      across carriers; admission replay no-ops on both.
  *   2. ZERO-COPY CARRY — a manifest admission's new version dir holds
  *      ONLY the delta's physical files; carried base files exist
  *      physically exactly once across all version dirs.
  *   3. SLICED PURGE — progress carries across budget=1 calls (call
  *      count == pending-slice count), the sidecar survives to the
  *      final slice, and rewritten tables physically drop the
  *      tombstoned rows on both carriers.
  *   4. VACUUM PRUNE — pruning a manifest artifact deletes only files
  *      NO retained manifest references (a reference, unlike a link,
  *      does not keep bytes alive): the current version still reads
  *      complete, and the fully-rewritten base files ARE reclaimed.
  *
  * The index FAMILIES stay on the link carrier locally (their bucketed
  * catalog registration is LOCATION-based; a real object-store
  * deployment swaps the artifact for Delta/Iceberg, which supply both
  * manifest and bucket metadata) — this suite proves the LIFECYCLE the
  * swap relies on is carrier-independent.
  */
class ManifestCarrierSpec extends SparkSpec {

  private val Buckets = 4

  /** Write `ids` as ONE parquet file at exactly `target` (Spark writes
    * into a dir; the lifecycle keys slices off file NAMES, so the spec
    * needs full control of them).
    */
  private def writeParquet(ids: Seq[Long], target: File): Unit = {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-mcar-w").toFile
    ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.listFiles.find(_.getName.endsWith(".parquet")).get
    target.getParentFile.mkdirs()
    Files.move(part.toPath, target.toPath)
    ()
  }

  private def verDir(idx: String): File = {
    val v = VersionedStore.currentVersion(idx).get
    new File(idx, s"v$v")
  }

  /** Current version's rows of `t`, resolved through the carry manifest
    * — the carrier-aware read every checkpoint compares.
    */
  private def readAll(idx: String, t: String): Seq[Long] = {
    val paths = VersionedStore.logicalFiles(verDir(idx), t)
      .filter(_._1.endsWith(".parquet")).map(_._2.getAbsolutePath)
    if (paths.isEmpty) Seq.empty
    else spark.read.parquet(paths: _*).collect().map(_.getLong(0))
      .toSeq.sorted
  }

  private def physicalParquet(dir: File): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isFile) { if (f.getName.endsWith(".parquet")) Seq(f) else Nil }
      else Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
    walk(dir)
  }

  /** One full lifecycle on the chosen carrier; returns the checkpoint
    * multisets (post-admit, post-compact, post-purge, post-prune).
    */
  private def lifecycle(manifest: Boolean): Seq[Seq[Long]] = {
    val idx = Files.createTempDirectory(
      s"graft-mcar-${if (manifest) "m" else "l"}").toString
    val art = new VersionedArtifact(idx)
    val base = (0L until 100L)
    val delta = (100L until 120L)
    val drop = (0L until 10L).toSet ++ Set(105L) // base rows AND a delta row
    val tables = Seq("alpha", "beta")

    def bucketOf(id: Long): Int = (id % Buckets).toInt
    art.build({ ver =>
      (0 until Buckets).foreach(b => writeParquet(
        base.filter(bucketOf(_) == b),
        new File(ver, f"alpha/base_$b%05d.parquet")))
      writeParquet(base, new File(ver, "beta/base.parquet"))
    }, buildMeta =
      if (manifest) VersionedArtifact.ManifestMeta else Map.empty)

    // --- ADMIT (carried tables + new delta files; replay no-ops) ---
    assert(art.admit("d1", tables, { ver =>
      writeParquet(delta, new File(ver, "alpha/delta1.parquet"))
      writeParquet(delta, new File(ver, "beta/delta1.parquet"))
    }))
    val vAdmit = VersionedStore.currentVersion(idx).get
    assert(!art.admit("d1", tables,
      ver => fail("replayed deltaId must not write")), "replay admitted")
    assert(VersionedStore.currentVersion(idx).contains(vAdmit))
    if (manifest) {
      // zero-copy: the new version physically holds ONLY the delta
      assert(physicalParquet(new File(verDir(idx), "alpha"))
        .map(_.getName) === Seq("delta1.parquet"),
        "manifest admit must not copy or link the carried base")
      assert(VersionedStore.readCarry(verDir(idx)).size >= Buckets + 1,
        "carry manifest must reference the base files")
    }
    val s1 = tables.map(t => readAll(idx, t))
    assert(s1.head === (base ++ delta).sorted, "admit lost rows")

    // --- COMPACT (bucket-granular fold of the unbucketed accrual) ---
    assert(art.compactBucketed(tables, _ => 0) { (t, files, tgt) =>
      val ids = spark.read.parquet(files.map(_.getAbsolutePath): _*)
        .collect().map(_.getLong(0)).toSeq
      if (t == "alpha")
        ids.groupBy(bucketOf).foreach { case (b, bs) =>
          writeParquet(bs, new File(tgt, f"fold_$b%05d.parquet")) }
      else writeParquet(ids, new File(tgt, "fold.parquet"))
    } > 0, "threshold 0 must flag both tables fat")
    val s2 = tables.map(t => readAll(idx, t))
    assert(s2 === s1, "compaction changed the row multiset")

    // --- TOMBSTONE (sidecar admission) + SLICED PURGE (budget=1) ---
    assert(art.admit("td1", tables, { ver =>
      writeParquet(drop.toSeq.sorted, new File(ver, "tombstones/t0.parquet"))
    }))
    val pendingSlices = tables.map { t =>
      val bucketId = "_(\\d{5})\\.".r
      art.tableEntries(verDir(idx), t)
        .map { case (_, f) =>
          bucketId.findFirstMatchIn(f.getName).map(_.group(1))
            .getOrElse("raw") }
        .distinct.size
    }.sum
    assert(pendingSlices > 2,
      s"fixture must need several slices, got $pendingSlices")
    var purgeCalls = 0
    var seq = 0
    var completed = false
    while (!completed) {
      completed = art.purgeVersionBudgeted(tables, Nil, Set("tombstones"),
        _ => None, budget = 1) { (t, files, tgt) =>
        val ids = spark.read.parquet(files.map(_.getAbsolutePath): _*)
          .collect().map(_.getLong(0)).toSeq.filterNot(drop)
        seq += 1
        if (t == "alpha")
          ids.groupBy(bucketOf).foreach { case (b, bs) =>
            writeParquet(bs, new File(tgt, f"purged$seq%03d_$b%05d.parquet")) }
        else if (ids.nonEmpty)
          writeParquet(ids, new File(tgt, f"purged$seq%03d.parquet"))
      }
      purgeCalls += 1
      assert(purgeCalls <= pendingSlices,
        "purge redid a finished slice — progress is not carrying")
      if (!completed)
        assert(VersionedStore.logicalFiles(verDir(idx), "tombstones")
          .nonEmpty, "sidecar dropped before the final slice")
    }
    assert(purgeCalls === pendingSlices,
      s"expected $pendingSlices slices, ran $purgeCalls")
    assert(VersionedStore.logicalFiles(verDir(idx), "tombstones").isEmpty,
      "the final slice must drop the sidecar")
    val s3 = tables.map(t => readAll(idx, t))
    assert(s3.head === (base ++ delta).filterNot(drop).sorted,
      "purge left (or over-dropped) rows")

    // --- PRUNE with the reader-grace default, then deep ---
    val preFiles = VersionedStore.logicalFiles(verDir(idx), "")
      .filter(_._1.endsWith(".parquet")).map(_._2)
    art.prune() // keep = 2
    preFiles.foreach(f => assert(f.isFile,
      s"prune(2) deleted $f — the current version's resolved files " +
        "must survive (vacuum reference counting)"))
    assert(tables.map(t => readAll(idx, t)) === s3,
      "prune changed the current version's content")
    // deep prune: only the pointer's version remains retained
    art.prune(keep = 1)
    assert(tables.map(t => readAll(idx, t)) === s3,
      "prune(1) broke the current version's resolved reads")
    if (manifest) {
      // the fully-rewritten originals are UNREFERENCED now — vacuum
      // must have reclaimed them (a reference is not a link: bytes die
      // when the last referencing version does)
      val v0 = new File(idx, "v0")
      assert(physicalParquet(v0).isEmpty,
        s"v0 base files survived a deep vacuum: ${physicalParquet(v0)}")
    }
    val s4 = tables.map(t => readAll(idx, t))
    s1 ++ s2 ++ s3 ++ s4
  }

  test("the artifact lifecycle (admit, compact, sliced purge, prune) is " +
      "carrier-independent: manifest references produce the same " +
      "checkpoints as hard links, copy nothing, and vacuum-prune") {
    val link = lifecycle(manifest = false)
    val man = lifecycle(manifest = true)
    assert(man === link,
      "manifest-carrier checkpoints diverge from the link carrier")
  }

  test("directory-path readers fail LOUDLY on a manifest artifact: a " +
      "silent dir read would miss carried files (and a referenced-away " +
      "sidecar would silently drop its tombstone filter)") {
    val idx = Files.createTempDirectory("graft-mcar-guard").toString
    val art = new VersionedArtifact(idx)
    art.build({ ver =>
      writeParquet(0L until 10L, new File(ver, "alpha/base_00000.parquet"))
    }, buildMeta = VersionedArtifact.ManifestMeta)
    intercept[IllegalArgumentException] { art.snapshot(Seq("alpha"), "t") }
    intercept[IllegalArgumentException] { art.extraPath("tombstones") }
    intercept[IllegalArgumentException] { art.tablePath("alpha") }
    // the logical resolver is the supported read seam
    assert(readAll(idx, "alpha") === (0L until 10L).toSeq)
  }

  test("a transaction torn before its manifest commits is invisible and " +
      "the retry converges — the manifest path recovers through the " +
      "same clearStale/pointer contract as links") {
    val idx = Files.createTempDirectory("graft-mcar-crash").toString
    val art = new VersionedArtifact(idx)
    val base = (0L until 50L)
    art.build({ ver =>
      writeParquet(base, new File(ver, "alpha/base_00000.parquet"))
    }, buildMeta = VersionedArtifact.ManifestMeta)
    val s0 = readAll(idx, "alpha")
    // fault at admit.precommit: carried refs are accumulated in memory
    // but _carry.txt is written AFTER this point — the torn next dir
    // has the delta's physical file and NO manifest, the worst state
    Faults.handler = p =>
      if (p == "admit.precommit") throw new RuntimeException("torn")
    try {
      intercept[RuntimeException] {
        art.admit("d1", Seq("alpha"), { ver =>
          writeParquet(50L until 60L, new File(ver, "alpha/d1.parquet"))
        })
      }
    } finally Faults.handler = _ => ()
    // pointer still on v0; reads unaffected; delta not recorded
    assert(VersionedStore.currentVersion(idx).contains(0L))
    assert(readAll(idx, "alpha") === s0,
      "a torn manifest transaction leaked into reads")
    assert(!art.appliedDeltas.contains("d1"))
    // retry: clearStale wipes the torn dir (stale physical delta file
    // AND any partial metadata), the re-run commits with full content
    assert(art.admit("d1", Seq("alpha"), { ver =>
      writeParquet(50L until 60L, new File(ver, "alpha/d1.parquet"))
    }))
    assert(readAll(idx, "alpha") === (0L until 60L).toSeq,
      "the retried manifest admission lost rows")
    assert(VersionedStore.readCarry(verDir(idx)).size === 1,
      "the retried admission must carry the base by reference")
  }
}
