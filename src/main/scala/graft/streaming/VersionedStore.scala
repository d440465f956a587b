package graft.streaming

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.nio.charset.StandardCharsets

/** Shared mechanics of the versioned-snapshot parquet stores
  * ([[CdcServingTable]], [[EventStreams.ParquetUpsertStore]]): an
  * atomically-swapped `_CURRENT` pointer over immutable `v{N}` snapshot
  * directories, plus PARTITION-PRUNED copy-on-write — a merge writes new
  * parquet only for partitions its batch touches and carries every
  * untouched partition into the new version as hard links to the previous
  * version's files (same inode, zero data copied, and the previous
  * snapshot stays intact for in-flight readers; GC of old versions can't
  * strand the links).
  *
  * This is the dependency-free local-FS stand-in for a table format's
  * partition-pruned MERGE (Delta/Iceberg replace the link step with
  * manifest references to unchanged data files — same idea, different
  * metadata carrier); the merge contract of the stores does not change
  * when that swap happens.
  */
private[graft] object VersionedStore {

  def pointer(dir: String): File = new File(dir, "_CURRENT")

  def currentVersion(dir: String): Option[Long] = {
    val p = pointer(dir)
    if (!p.exists()) None
    else Some(new String(Files.readAllBytes(p.toPath),
      StandardCharsets.UTF_8).trim.toLong)
  }

  /** Atomic commit: readers either see vN or vN+1, never a torn state; a
    * crash between snapshot write and move leaves vN intact. */
  def swapPointer(dir: String, v: Long): Unit = {
    val tmp = new File(dir, s"_CURRENT.tmp$v")
    Files.write(tmp.toPath, v.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, pointer(dir).toPath,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Hard-link every `key=value` partition directory of `prevDir` that is
    * ABSENT in `nextDir` (i.e. untouched by the merge that just wrote
    * `nextDir`) into `nextDir`. Returns the number of partitions carried.
    */
  def linkUntouchedPartitions(prevDir: File, nextDir: File): Int = {
    val carried = Option(prevDir.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.contains("=") &&
        !new File(nextDir, d.getName).exists())
    carried.foreach { d =>
      val tgt = new File(nextDir, d.getName)
      tgt.mkdirs()
      Option(d.listFiles()).getOrElse(Array.empty).filter(_.isFile)
        .foreach(f =>
          Files.createLink(new File(tgt, f.getName).toPath, f.toPath))
    }
    carried.length
  }

  /** Recursive cousin of [[linkUntouchedPartitions]] for MULTI-LEVEL
    * partition layouts (e.g. `tbl=…/pkb=…`): a `key=value` directory
    * absent in `nextDir` is carried whole ([[linkTree]]); one PRESENT in
    * `nextDir` recurses, so untouched sub-partitions (buckets) of a
    * touched parent (table) still carry as hard links. `skipTop` names
    * top-level partition dirs to carry NOTHING for — a fully-rewritten
    * subtree whose new layout has fewer children than the old (a bucket
    * RESIZE) must not have the stale extra children linked in. Returns
    * the number of directory subtrees carried.
    */
  def linkUntouchedTree(prevDir: File, nextDir: File,
      skipTop: Set[String] = Set.empty): Int =
    Option(prevDir.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.contains("=") &&
        !skipTop.contains(d.getName)).map { d =>
        val tgt = new File(nextDir, d.getName)
        if (!tgt.exists()) { linkTree(d, tgt); 1 }
        else linkUntouchedTree(d, tgt)
      }.sum

  /** Hard-link every FILE under `prev` into `next`, preserving directory
    * structure — the whole-tree cousin of [[linkUntouchedPartitions]],
    * for versioned artifacts whose merge appends files beside the
    * carried ones (e.g. the dedup index tables). Returns files linked.
    */
  def linkTree(prev: File, next: File): Int = {
    next.mkdirs()
    Option(prev.listFiles()).getOrElse(Array.empty).map { f =>
      if (f.isDirectory) linkTree(f, new File(next, f.getName))
      else {
        Files.createLink(new File(next, f.getName).toPath, f.toPath)
        1
      }
    }.sum
  }

  /** Delete a NEVER-REFERENCED version dir (crash leftovers): a retried
    * writer must clear the target before rebuilding it, or stale links +
    * partial files from the crashed attempt would corrupt the rebuild.
    * Only safe because the pointer never pointed here.
    */
  def clearStale(dir: File): Unit = if (dir.exists()) rm(dir)

  /** Drop snapshot versions older than the newest `keep` (the pointer's
    * target is always kept). Hard-linked files shared with newer versions
    * survive deletion of the old directory entry — link counts, not
    * copies, are what the carry step paid for. Returns the dropped
    * version ids so layout-aware callers (the bucketed index artifacts)
    * can drop their per-version catalog entries too.
    */
  def prune(dir: String, keep: Int): Seq[Long] =
    currentVersion(dir).toSeq.flatMap { cur =>
      val d = new File(dir)
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("v"))
        .flatMap(f => scala.util.Try(f.getName.stripPrefix("v").toLong)
          .toOption.map(f -> _))
        .filter { case (_, v) => v <= cur - keep }
        .map { case (f, v) => rm(f); v }.toSeq
    }

  private def rm(x: File): Unit = {
    Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
    x.delete(); ()
  }

  // ----------------------------------------------------------------------
  // MANIFEST CARRIER — the object-store face of the carry step. The hard
  // link is this repo's local-FS carrier; Delta/Iceberg carry unchanged
  // data files as MANIFEST REFERENCES instead, because object stores have
  // no links. The header's claim that the merge contract survives that
  // swap is PROVEN by `ManifestCarrierSpec`: every `VersionedArtifact`
  // transaction runs behind the carrier seam below, and an artifact whose
  // `_meta.txt` records `carrier=manifest` carries untouched files as
  // `_carry.txt` entries (`rel<TAB>physicalPath`, always resolved to the
  // PHYSICAL file — references never chain) with ZERO data copied or
  // linked. Reads and lifecycle enumerations resolve through
  // [[logicalFiles]]; prune becomes reference-counted GC ([[pruneVacuum]]
  // — a dropped version deletes only files no retained manifest
  // references, the table-format VACUUM semantics, because unlike links
  // a reference does not keep bytes alive). The index FAMILIES read a
  // manifest artifact through a per-version symlink MOUNT
  // (`IndexLayout.mountManifest` — the local stand-in for the table
  // format's metadata layer, which at a real object-store deployment
  // supplies both manifest and bucket metadata), so probe plans are
  // carrier-identical; the seam proves the LIFECYCLE (idempotent
  // admission, bucket-granular compaction, budget-sliced purge,
  // reader-grace prune) is carrier-independent, which is the contract
  // the swap relies on.
  // ----------------------------------------------------------------------

  /** Per-version carry manifest: `rel<TAB>physicalAbsPath` lines, written
    * once per transaction before the pointer swap (atomic with the
    * version dir's contents, like every `_`-file here).
    */
  val CarryManifest = "_carry.txt"

  def readCarry(ver: File): Map[String, File] = {
    val f = new File(ver, CarryManifest)
    if (!f.exists()) Map.empty
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split("\n").filter(_.contains('\t')).map { line =>
        val i = line.indexOf('\t')
        line.substring(0, i) -> new File(line.substring(i + 1))
      }.toMap
  }

  def writeCarry(ver: File, entries: Map[String, File]): Unit = {
    Files.write(new File(ver, CarryManifest).toPath,
      entries.toSeq.sortBy(_._1)
        .map { case (rel, p) => s"$rel\t${p.getAbsolutePath}" }
        .mkString("\n").getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** The LOGICAL files of a version under `relDir` (a table name, an
    * extra/sidecar name, or `""` for everything): physical files present
    * in the dir plus manifest-carried references, each as
    * `(rel-path-under-version-dir, physical file)`. The carrier-aware
    * cousin of a directory listing — every lifecycle enumeration and
    * every manifest-artifact read resolves through here.
    */
  def logicalFiles(ver: File, relDir: String): Seq[(String, File)] = {
    def walk(f: File, rel: String): Seq[(String, File)] =
      if (f.isFile) {
        if (f.getName == CarryManifest) Nil else Seq(rel -> f)
      } else Option(f.listFiles()).getOrElse(Array.empty).toSeq
        .flatMap(c => walk(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
    val root = if (relDir.isEmpty) ver else new File(ver, relDir)
    val phys = walk(root, relDir)
    // keyed by rel, PHYSICAL wins: a transaction that writes a physical
    // file under a rel the manifest also carries (caller-controlled file
    // names) must not surface both — readers would double-read the rows
    val physRels = phys.iterator.map(_._1).toSet
    val carried = readCarry(ver).toSeq.filter { case (rel, _) =>
      (relDir.isEmpty || rel == relDir || rel.startsWith(relDir + "/")) &&
        !physRels.contains(rel)
    }
    phys ++ carried
  }

  /** Top-level LOGICAL directory names of a version (physical subdirs
    * plus the first path segment of manifest entries) — what the extras
    * carry must enumerate: a sidecar carried by reference has no
    * physical subdir in the referencing version.
    */
  def logicalTopDirs(ver: File): Set[String] =
    Option(ver.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).toSet ++
      readCarry(ver).keysIterator.collect {
        case rel if rel.contains('/') => rel.substring(0, rel.indexOf('/'))
      }

  /** Reference-counted prune for MANIFEST-carried artifacts (the VACUUM
    * semantics of the table formats): a reference, unlike a hard link,
    * does not keep bytes alive — so dropping a version dir wholesale
    * would strand every retained manifest that references its files.
    * Deletes, from each dropped version, only the files NO retained
    * version references (its metadata `_`-files always delete); dirs
    * that still hold referenced files survive partially and shrink as
    * later prunes release them. Returns dropped version ids.
    */
  def pruneVacuum(dir: String, keep: Int): Seq[Long] =
    currentVersion(dir).toSeq.flatMap { cur =>
      val d = new File(dir)
      val vers = Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("v"))
        .flatMap(f => scala.util.Try(f.getName.stripPrefix("v").toLong)
          .toOption.map(f -> _))
      val (drop, kept) = vers.partition { case (_, v) => v <= cur - keep }
      val referenced: Set[String] = kept
        .flatMap { case (f, _) => readCarry(f).values }
        .map(_.getCanonicalPath).toSet
      // report a version as dropped only when its dir is FULLY gone —
      // a partially-surviving husk (files still referenced by retained
      // manifests) would otherwise be re-reported on every later prune,
      // and callers act on the ids (catalog deregistration, metrics)
      drop.flatMap { case (f, v) =>
        rmUnreferenced(f, referenced)
        if (f.exists()) None else Some(v)
      }.toSeq
    }

  private def rmUnreferenced(x: File, referenced: Set[String]): Unit = {
    if (x.isDirectory)
      Option(x.listFiles()).getOrElse(Array.empty)
        .foreach(rmUnreferenced(_, referenced))
    if (x.isFile && !referenced.contains(x.getCanonicalPath)) { x.delete(); () }
    else if (x.isDirectory) { x.delete(); () } // succeeds only when empty
  }
}

/** Test-only fault injection for the crash-recovery rehearsals
  * (`CrashRecoverySpec` / `graft.CrashProbe`): [[inject]] points sit
  * between a lifecycle transaction's data writes and its pointer
  * commit — the window where a SIGKILL leaves a torn next-version dir.
  * Production never sets [[handler]]; the default is a no-op and the
  * call is a single volatile read. The rehearsal forks a CHILD JVM
  * that installs `Runtime.halt` at a chosen point (halt = the SIGKILL
  * equivalent: no unwinding, no finally, no shutdown hooks) so the
  * PARENT can assert recovery from a real dead-process state.
  */
private[graft] object Faults {
  @volatile var handler: String => Unit = _ => ()
  @inline def inject(point: String): Unit = handler(point)
}

/** One-pointer-read view of an artifact version: build meta, table
  * paths, and the (optional) sidecar dir, all from the SAME version —
  * what [[VersionedArtifact.snapshot]] hands a reader so no concurrent
  * lifecycle step can mix versions across its fields.
  */
private[graft] final case class ArtifactSnapshot(meta: Map[String, String],
    paths: Map[String, String], extra: Option[File])

/** The carrier-independent cousin of [[ArtifactSnapshot]]: per-table
  * LOGICAL file lists (physical files plus manifest-carried references,
  * resolved through [[VersionedStore.logicalFiles]]) instead of
  * directory paths — what a MANIFEST-carried artifact's readers load
  * from (`spark.read.parquet(files*)`; a dir path would silently miss
  * every carried file). `tableFiles` keeps the `(rel, physical)` pairs
  * so callers can split sub-placements (the `_l0` accrual leg) without
  * re-walking; `extraFiles` is the sidecar's parquet parts (empty = no
  * sidecar). All fields from ONE pointer read, same contract as
  * [[ArtifactSnapshot]].
  */
private[graft] final case class LogicalSnapshot(meta: Map[String, String],
    version: Long, tableFiles: Map[String, Seq[(String, File)]],
    extraFiles: Seq[File])

private[graft] object VersionedArtifact {
  /** `_meta.txt` carrier selector: absent = hard-link carry (the local
    * default every index family uses); `manifest` = `_carry.txt`
    * references with vacuum-style prune (see the MANIFEST CARRIER notes
    * in [[VersionedStore]]). Recorded at build and carried like every
    * meta key, so the choice is per-artifact and permanent.
    */
  val CarrierKey = "carrier"
  val ManifestValue = "manifest"
  val ManifestMeta: Map[String, String] = Map(CarrierKey -> ManifestValue)
}

/** One transaction's carry of untouched files from `cur` into `next` —
  * hard links (default: eager, one link per [[file]]) or manifest
  * entries (`carrier=manifest`: accumulated, written once by
  * [[commit]] before the pointer swap). `rel` paths are relative to
  * the VERSION dir and preserve sub-placement (`tbl/_l0/part…` stays
  * under `_l0`); `phys` is always the PHYSICAL file, so references
  * never chain across versions.
  */
private final class Carry(cur: File, next: File, manifest: Boolean) {
  private val entries =
    scala.collection.mutable.LinkedHashMap.empty[String, File]

  def file(rel: String, phys: File): Unit =
    if (manifest) { entries.put(rel, phys); () }
    else {
      val dst = next.toPath.resolve(rel)
      Files.createDirectories(dst.getParent)
      Files.createLink(dst, phys.toPath)
      ()
    }

  /** Carry every logical file under `relDir`. For the link carrier the
    * root dir materializes even when empty (layout parity with the
    * pre-seam `linkTree`, whose mkdirs some loaders rely on — an empty
    * table dir must still exist for `spark.read.parquet`). Returns the
    * number of files carried.
    */
  def tree(relDir: String): Int = {
    // unconditional, not gated on cur/relDir existing: the pre-seam
    // linkTree always mkdirs'd the target, and dir-based loaders rely on
    // an empty table dir existing (`spark.read.parquet` over a missing
    // path throws) — a table absent in cur must still yield an empty dir
    if (!manifest) { new File(next, relDir).mkdirs(); () }
    val es = VersionedStore.logicalFiles(cur, relDir)
      // manifest carries skip Hadoop writer markers (`_SUCCESS`,
      // hidden `.crc` siblings): no reader ever resolves them, a fresh
      // write into the next version re-emits its own (a carried rel
      // would collide with it — the double-entry hazard logicalFiles
      // dedups), and at corpus scale they are a junk manifest entry per
      // table per version that pruneVacuum would then keep alive. The
      // link carrier keeps linking them — layout parity with pre-seam
      // versions (an overwritten marker is 0-byte noise either way).
      .filterNot { case (rel, _) =>
        manifest && {
          val base = rel.substring(rel.lastIndexOf('/') + 1)
          base.startsWith(".") || base.startsWith("_SUCCESS")
        }
      }
    es.foreach { case (rel, phys) => file(rel, phys) }
    es.size
  }

  def commit(): Unit =
    if (manifest && entries.nonEmpty)
      VersionedStore.writeCarry(next, entries.toMap)
}

/** The versioned-ARTIFACT lifecycle shared by the durable index stores
  * ([[graft.analytics.DedupIndex]], [[graft.analytics.ContainIndex]]):
  * immutable `v{N}/<table>` parquet dirs behind the atomic `_CURRENT`
  * pointer, plus deltaId-idempotent admission for at-least-once ingest
  * loops. One definition so the admission protocol cannot drift between
  * the two indexes.
  *
  * SINGLE-WRITER contract (same as every compaction/merge transaction in
  * this repo): admissions must come from one loop. The pre-swap version
  * recheck turns a violated contract into a LOUD error instead of a
  * silently lost delta, but it is a tripwire, not a lock — two writers
  * racing inside the window can still interleave; don't run two.
  *
  * Reader contract: resolve the version ONCE per read via
  * [[snapshot]] (per-table pointer reads could straddle an
  * admission and mix versions), and [[prune]] keeps ≥ 2 versions by
  * default so a reader holding last version's paths survives one
  * admission; consume lazy frames before pruning deeper.
  */
private[graft] final class VersionedArtifact(indexDir: String) {

  private def versionDir(v: Long): File = new File(indexDir, s"v$v")

  def currentVersion: Option[Long] = VersionedStore.currentVersion(indexDir)

  private def currentDir: Option[File] = currentVersion.map(versionDir)

  private def requireDir: File = currentDir.getOrElse(
    throw new IllegalStateException(s"no artifact at $indexDir — build first"))

  /** The dir-path accessors below hand readers PHYSICAL directories —
    * correct for the link carrier only. A manifest-carried artifact's
    * tables are partly (or wholly) `_carry.txt` references with no
    * physical file in the current dir, so a dir-based read would
    * SILENTLY return incomplete rows (and a referenced-away sidecar
    * would silently drop its tombstone filter). Fail loudly instead:
    * manifest readers resolve through [[VersionedStore.logicalFiles]]
    * (the family loaders are link-carrier only by design — see the
    * MANIFEST CARRIER notes).
    */
  private def requireDirReads(cur: File): File = {
    require(!isManifest(cur),
      s"manifest-carried artifact at $indexDir: directory-path reads " +
        "would silently miss carried files — resolve through " +
        "VersionedStore.logicalFiles")
    cur
  }

  /** The current version's SIDECAR dir `name` (a table-shaped extra the
    * lifecycle carries but the family doesn't list in its `Tables` —
    * e.g. the tombstone set), if present. Resolved against its own
    * pointer read; callers needing sidecar + tables from
    * the SAME version must use [[snapshot]] instead — two independent
    * pointer reads can straddle a PURGE, pairing pre-purge table paths
    * (deleted rows present) with an already-dropped sidecar (no
    * filter), transiently resurfacing deleted pairs.
    */
  def extraPath(name: String): Option[File] = {
    val f = new File(requireDirReads(requireDir), name)
    if (f.isDirectory) Some(f) else None
  }

  /** Everything a reader needs — meta, table paths, and the sidecar —
    * resolved against ONE pointer read, so no lifecycle step (admission,
    * compaction, purge) can hand a load a mixed version. The per-field
    * accessors ([[meta]]/[[tablePath]]/[[extraPath]]) each re-read
    * the pointer; a purge swapping between a table read and a sidecar
    * read would serve pre-purge tables WITHOUT their tombstone filter —
    * the one sidecar race that is NOT benign.
    */
  def snapshot(tables: Seq[String], extraName: String): ArtifactSnapshot = {
    val cur = requireDirReads(requireDir)
    val extra = new File(cur, extraName)
    ArtifactSnapshot(
      meta = readMeta(cur),
      paths = tables.map(t => t -> new File(cur, t).toString).toMap,
      extra = if (extra.isDirectory) Some(extra) else None)
  }

  /** Whether the CURRENT version carries by manifest — the dispatch the
    * carrier-aware readers ([[snapshotLogical]] vs [[snapshot]]) and
    * tombstone loaders branch on. False with no version (a fresh build
    * decides the carrier itself).
    */
  def isManifestCurrent: Boolean = currentDir.exists(isManifest)

  /** Everything a MANIFEST-carried artifact's reader needs — meta,
    * per-table logical `(rel, physical-file)` lists, and the sidecar's
    * parquet parts — from ONE pointer read (the [[snapshot]] contract;
    * independent reads could straddle a purge and pair pre-purge tables
    * with a dropped sidecar). Works on the link carrier too (logical =
    * physical there), so carrier-parity readers can use one code path.
    */
  def snapshotLogical(tables: Seq[String],
      extraName: String): LogicalSnapshot = {
    val cur = requireDir
    LogicalSnapshot(
      meta = readMeta(cur),
      version = cur.getName.stripPrefix("v").toLong,
      tableFiles = tables.map(t => t -> tableEntries(cur, t)).toMap,
      extraFiles = VersionedStore.logicalFiles(cur, extraName)
        .collect { case (rel, f) if rel.endsWith(".parquet") => f })
  }

  /** Whether this artifact carries by MANIFEST ([[VersionedArtifact
    * .CarrierKey]] in the version's meta) — read per transaction from
    * the version it starts from, so the choice rides the artifact like
    * every other build parameter.
    */
  private def isManifest(ver: File): Boolean =
    readMeta(ver).get(VersionedArtifact.CarrierKey)
      .contains(VersionedArtifact.ManifestValue)

  private def carryOf(cur: File, next: File): Carry =
    new Carry(cur, next, isManifest(cur))

  /** Carry every SIDECAR directory of `cur` (a LOGICAL subdir not in
    * `tables`, e.g. `tombstones`) into `next` unless already there —
    * so lifecycle steps that enumerate only the family's tables still
    * carry table-shaped extras. Called by [[admit]]/[[compactBucketed]];
    * [[purgeVersionBudgeted]] takes a drop-list.
    * Logical enumeration: under the manifest carrier a sidecar carried
    * by reference has no physical subdir in `cur`.
    */
  private def carryExtras(carry: Carry, cur: File, next: File,
      tables: Seq[String], drop: Set[String] = Set.empty): Unit =
    (VersionedStore.logicalTopDirs(cur) -- tables -- drop)
      .filterNot(n => new File(next, n).exists())
      .foreach(n => carry.tree(n))

  def tablePath(table: String): String =
    new File(requireDirReads(requireDir), table).toString

  /** Total data bytes behind the CURRENT version (every table's part
    * files; hard-linked carries count at their real length). One
    * driver-side directory walk, O(part files) — what the streaming
    * ingest caches' cache-if-fits decision reads once per version
    * (see `IngestDedup.cacheIfFits`), never per batch.
    */
  def currentBytes: Long = {
    def walk(f: File): Long =
      if (f.isFile) { if (f.getName.startsWith("_")) 0L else f.length }
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    currentDir.map { cur =>
      // manifest-carried bytes live in older version dirs — count the
      // referenced physical files too, or the cache-if-fits budget would
      // see a near-empty artifact. Same underscore-basename filter as the
      // physical walk (a _SUCCESS marker carried into the manifest must
      // not make the budget read differently across carriers).
      walk(cur) + VersionedStore.readCarry(cur).toSeq
        .map { case (rel, f) =>
          val base = rel.substring(rel.lastIndexOf('/') + 1)
          if (!base.startsWith("_") && f.isFile) f.length else 0L
        }.sum
    }.getOrElse(0L)
  }

  def appliedDeltas: Set[String] =
    currentDir.map(readDeltas).getOrElse(Set.empty)

  private def readDeltas(ver: File): Set[String] = {
    val f = new File(ver, "_deltas.txt")
    if (!f.exists()) Set.empty
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty).toSet
  }

  private def writeDeltas(ver: File, ids: Set[String]): Unit = {
    Files.write(new File(ver, "_deltas.txt").toPath,
      ids.toSeq.sorted.mkString("\n").getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** Build-time artifact properties (`_meta.txt`, `k=v` lines inside each
    * version dir — atomic with the pointer swap, carried verbatim through
    * [[admit]]/[[compactBucketed]]): the parameters a PROBE must replay
    * exactly as the BUILD chose them (an LSH index's band shape, a quantizer's
    * codebook config). Probing with different parameters than the
    * artifact was built with silently degrades to garbage candidates, so
    * the artifact itself is the source of truth. Empty for a version
    * without a `_meta.txt`, which the index faces refuse to read or
    * write (`IndexLayout.checkedMeta`).
    */
  def meta: Map[String, String] =
    currentDir.map(readMeta).getOrElse(Map.empty)

  private def readMeta(ver: File): Map[String, String] = {
    val f = new File(ver, "_meta.txt")
    if (!f.exists()) Map.empty
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split("\n").filter(_.contains('=')).map { line =>
        val i = line.indexOf('=')
        line.substring(0, i) -> line.substring(i + 1)
      }.toMap
  }

  /** PURGE PROGRESS (`_purge.txt` inside a version dir) — the state of a
    * BUDGET-SLICED physical purge ([[purgeVersionBudgeted]]): line 1 is
    * the tombstone-set fingerprint the progress applies to (the sorted
    * sidecar part-file names — the sidecar is append-only and
    * link-carried, so names identify the set), the rest are
    * `table/bucket` slices already rewritten against that set. Carried
    * verbatim through [[admitAll]]/[[compactBucketed]] (a
    * sliced purge must survive interleaved admissions); a NEW tombstone
    * admission changes the fingerprint and the next slice RESTARTS from
    * zero — re-rewriting an already-clean bucket is a correct no-op,
    * just not free, and the alternative (finishing against the old set,
    * then dropping a sidecar that gained rows) would leave the new
    * tombstones' rows physically present forever. Written only by a
    * non-final slice; the completing slice drops it with the sidecar.
    */
  private val PurgeFile = "_purge.txt"

  /** Whether a budget-sliced purge is mid-flight on the current version
    * — one pointer read + one file check; what a maintenance seat polls
    * per batch so a started purge runs to completion even if takedowns
    * stop arriving.
    */
  def purgePending: Boolean =
    currentDir.exists(d => new File(d, PurgeFile).exists())

  private def readPurge(ver: File): Option[(String, Set[String])] = {
    val f = new File(ver, PurgeFile)
    if (!f.exists()) None
    else {
      val lines = new String(Files.readAllBytes(f.toPath),
        StandardCharsets.UTF_8).split("\n", -1).toSeq
      lines.headOption.map(fp => fp -> lines.tail.filter(_.nonEmpty).toSet)
    }
  }

  private def writePurge(ver: File, fp: String, done: Set[String]): Unit = {
    Files.write(new File(ver, PurgeFile).toPath,
      (fp +: done.toSeq.sorted).mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
    ()
  }

  private def carryPurge(cur: File, next: File): Unit = {
    val f = new File(cur, PurgeFile)
    if (f.exists()) {
      Files.copy(f.toPath, new File(next, PurgeFile).toPath,
        StandardCopyOption.REPLACE_EXISTING)
      ()
    }
  }

  /** Clear a carried `_purge.txt`'s done-slice set (fingerprint kept) in
    * `next` — the purge restarts from slice zero against the same
    * tombstone set. Called when a lifecycle step moved rows ACROSS slice
    * keys mid-purge (compaction folding bucket-id-less L0 files into
    * bucket-named outputs): tombstoned rows from a still-pending slice
    * would otherwise land in already-done buckets that never rewrite
    * again, and the final slice would drop the sidecar with those rows
    * physically present forever. Re-rewriting already-clean buckets is a
    * correct no-op, just not free — the admitting loop avoids the cost
    * by not compacting mid-purge at all (`IngestDedup.maintain`); this
    * reset is the correctness backstop for out-of-band compact() calls.
    */
  private def resetPurgeProgress(next: File): Unit =
    readPurge(next).foreach { case (fp, done) =>
      if (done.nonEmpty) writePurge(next, fp, Set.empty)
    }

  private def purgeFingerprint(cur: File, extras: Set[String]): String =
    extras.toSeq.sorted.flatMap { e =>
      VersionedStore.logicalFiles(cur, e).map(_._1)
        .filter(_.endsWith(".parquet")).sorted
    }.mkString(",")

  /** A table's data files inside a version as `(rel, physical)` pairs:
    * top-level parquet parts plus any under its `_l0` accrual subdir
    * (underscore-prefixed so table reads skip it — see `IndexLayout`'s
    * L0 notes), resolved through the carry manifest when the artifact
    * carries by reference. Lifecycle steps that rewrite or fold table
    * content must enumerate through here, or L0 rows (and
    * manifest-carried rows) silently escape the rewrite.
    */
  private[streaming] def tableEntries(cur: File,
      t: String): Seq[(String, File)] =
    VersionedStore.logicalFiles(cur, t).filter { case (rel, _) =>
      rel.endsWith(".parquet") && {
        val sub = rel.stripPrefix(t + "/")
        !sub.contains('/') ||
          (sub.startsWith("_l0/") && sub.count(_ == '/') == 1)
      }
    }

  private[streaming] def tableFiles(cur: File, t: String): Seq[File] =
    tableEntries(cur, t).map(_._2)

  private def writeMeta(ver: File, m: Map[String, String]): Unit =
    if (m.nonEmpty) {
      require(m.forall { case (k, v) =>
        !k.contains('=') && !k.contains('\n') && !v.contains('\n') },
        s"artifact meta keys/values must be '='/newline-free: $m")
      Files.write(new File(ver, "_meta.txt").toPath,
        m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n")
          .getBytes(StandardCharsets.UTF_8))
      ()
    }

  /** Fresh version (full build/rebuild): `write` fills the new version
    * dir, the admitted-delta set resets, `meta` records the build
    * parameters, pointer swap commits.
    */
  def build(write: File => Unit,
      buildMeta: Map[String, String] = Map.empty): Unit = {
    val v = currentVersion.getOrElse(-1L) + 1
    val next = versionDir(v)
    VersionedStore.clearStale(next)
    write(next)
    writeDeltas(next, Set.empty)
    writeMeta(next, buildMeta)
    VersionedStore.swapPointer(indexDir, v)
  }

  /** Idempotent admission: carries `tables` forward as hard links, lets
    * `write` append the delta's files into the new version, records
    * `deltaId`, and commits — false (no-op) if the id was already
    * applied. deltaIds are newline-delimited on disk, so embedded
    * newlines would break the very idempotence this records — rejected.
    */
  def admit(deltaId: String, tables: Seq[String],
      write: File => Unit): Boolean =
    admitAll(Seq(deltaId -> write), tables)

  /** [[admit]] for a BATCH of deltas in ONE version bump: each
    * not-yet-applied delta's `write` runs into the same new version dir,
    * all their ids are recorded together, one pointer swap commits.
    * Already-applied ids are skipped individually, so a retried mixed
    * batch applies exactly the fresh remainder — the per-delta
    * idempotence contract is unchanged, only the version-bump count
    * differs. This is what lets a takedown drain of N requests cost one
    * version instead of N (the reader-grace prune after the drain then
    * has a FIXED number of in-batch versions to keep — see
    * `IngestDedup.maintain`). Returns false iff every delta was already
    * applied (no version was created).
    */
  def admitAll(deltas: Seq[(String, File => Unit)],
      tables: Seq[String]): Boolean = {
    deltas.foreach { case (deltaId, _) =>
      require(!deltaId.contains('\n') && deltaId.nonEmpty,
        s"deltaId must be non-empty and newline-free: ${deltaId.take(40)}")
    }
    val curV = currentVersion.getOrElse(
      throw new IllegalStateException(s"no artifact at $indexDir — build first"))
    val cur = versionDir(curV)
    val applied = readDeltas(cur)
    // in-batch duplicate deltaIds collapse to the FIRST occurrence, the
    // same winner a sequential one-at-a-time application would pick
    val fresh = deltas.filterNot { case (id, _) => applied.contains(id) }
      .foldLeft(Vector.empty[(String, File => Unit)]) { (acc, d) =>
        if (acc.exists(_._1 == d._1)) acc else acc :+ d
      }
    if (fresh.isEmpty) false
    else {
      val next = versionDir(curV + 1)
      VersionedStore.clearStale(next)
      val carry = carryOf(cur, next)
      tables.foreach(t => carry.tree(t))
      carryExtras(carry, cur, next, tables)
      fresh.foreach { case (_, write) => write(next) }
      Faults.inject("admit.precommit")
      writeDeltas(next, applied ++ fresh.map(_._1))
      writeMeta(next, readMeta(cur))
      carryPurge(cur, next)
      carry.commit()
      // tripwire, not a lock: a concurrent admission moved the pointer —
      // swapping now would orphan its delta, so fail loudly instead
      require(currentVersion.contains(curV),
        s"concurrent admission detected at $indexDir (version moved past " +
          s"$curV) — the artifact requires a single writer")
      VersionedStore.swapPointer(indexDir, curV + 1)
      true
    }
  }

  /** Compact the artifact's small files, BUCKET-GRANULARLY — the
    * difference between an O(admitted bytes) maintenance call and an
    * O(corpus) one. Every [[admit]] appends files into its tables, so an
    * admission loop accretes a file set that grows with admission COUNT
    * (per-file open/footer cost and listing tax). Only tables holding
    * more than `threshold(table)` files compact; callers pass
    * `buckets(t) + slack` (the compacted steady state is one file PER
    * BUCKET, so a flat count would flag a 1024-bucket table as
    * permanently fat), so the skip test measures ACCRUAL, not size.
    * Rewriting a fat table whole would be wrong too: almost all of its
    * bytes sit in the per-bucket BASE files the build wrote (one big
    * file per bucket); the accrual that tripped the threshold is the
    * small one-file-per-touched-bucket admission appends. Measured on
    * the 100× LoopStress rehearsal: the whole-table rewrite spent ~48 s
    * per firing re-writing a 1.4 GB corpus to fold in a few MB of
    * admitted deltas — at 100 TB that is a full-corpus rewrite every
    * `compactEvery` batches, the wrong scaling class entirely.
    *
    * Per bucket (bucket ids ride Spark's bucketed file NAMES, `…_00007.
    * c000…`, so grouping is a directory listing, no data read):
    *   - one file: hard-link it (nothing to fold);
    *   - base file ≥ sum of the rest: LINK the base, rewrite only the
    *     small files into one merged file (LSM minor compaction);
    *   - otherwise: rewrite the whole bucket back to one file (major —
    *     fires only when accrued bytes rival the base).
    * Amortization is the classic two-level-merge shape: each minor
    * firing re-folds the bucket's merged file plus the new accrual, so
    * the cost per firing is O(bytes admitted since the last MAJOR), and
    * a major (which resets the merged level into the base) costs
    * O(bucket). Total write amplification between majors is linear in
    * the admitted-to-batch ratio — fine while admissions per major stay
    * ≪ base (the measured regime: 3–5 s per firing on a 1.4 GB corpus
    * at 100×). If a deployment's admitted volume rivals its base
    * between rebuilds, the known upgrade is a geometric file chain per
    * bucket (link every file that dominates the sum of the smaller
    * ones) — O(log) amplification at the cost of a deeper read fan-in.
    * A file whose name carries no bucket id joins the rewrite set —
    * rewriting is always correct (the caller re-buckets by hash);
    * linking is only the optimization.
    *
    * `rewrite(table, smallFiles, targetTableDir)` must (re)CREATE the
    * target dir with the merged files (the bucketed writer's overwrite
    * does); the kept base files are hard-linked in AFTERWARDS, so the
    * steady state is ≤ 2 files per bucket — callers' thresholds stay
    * `buckets + slack` and simply fire more often, each firing folding
    * only the accrual since the last. CARRIES the admitted-delta set
    * (compaction must not reset idempotence — a retried delta after
    * compact is still a no-op) and the meta, keeps [[admit]]'s
    * single-writer tripwire and atomic pointer swap, and preserves
    * content row-for-row (the multiset guarantee of
    * `CdcHistoryTable.compact`). Returns the number of tables compacted.
    */
  def compactBucketed(tables: Seq[String], threshold: String => Int)(
      rewrite: (String, Seq[File], File) => Unit): Int = {
    val curV = currentVersion.getOrElse(
      throw new IllegalStateException(s"no artifact at $indexDir — build first"))
    val cur = versionDir(curV)
    // tableEntries, not a top-level listing: L0 accrual files (no bucket
    // id in the name — the `_l0` admission path) count toward the
    // threshold and ALWAYS fold, so compaction is what migrates them
    // into the bucketed base; the folded table's new dir simply has no
    // `_l0` (fold files are consumed, keeps carry top-level)
    val fat = tables.filter(t => tableEntries(cur, t).size > threshold(t))
    if (fat.isEmpty) 0
    else {
      val next = versionDir(curV + 1)
      VersionedStore.clearStale(next)
      val carry = carryOf(cur, next)
      tables.filterNot(fat.contains).foreach(t => carry.tree(t))
      carryExtras(carry, cur, next, tables)
      val bucketId = "_(\\d{5})\\.".r
      // rows moving ACROSS purge-slice keys? folding a bucket-id-less
      // file (L0 accrual / unparseable) re-buckets its rows under NEW
      // file names, invalidating a mid-flight purge's done-slice
      // progress — tracked here, reset below after the carry
      var foldedUnbucketed = false
      fat.foreach { t =>
        val (keep, fold) = tableEntries(cur, t)
          .groupBy { case (_, f) =>
            bucketId.findFirstMatchIn(f.getName).map(_.group(1)) }
          .toSeq.map {
            case (None, fs) => // unparseable: rewrite
              foldedUnbucketed = true
              (Seq.empty[(String, File)], fs)
            case (Some(_), fs) if fs.size == 1 =>
              (fs, Seq.empty[(String, File)])
            case (Some(_), fs) =>
              val sorted = fs.sortBy(-_._2.length)
              if (sorted.head._2.length >= sorted.tail.map(_._2.length).sum)
                (Seq(sorted.head), sorted.tail) // minor: fold the accrual
              else (Seq.empty[(String, File)], sorted) // major: whole bucket
          }.unzip match { case (k, f) => (k.flatten, f.flatten) }
        if (fold.isEmpty) carry.tree(t)
        else {
          rewrite(t, fold.map(_._2), new File(next, t))
          keep.foreach { case (rel, phys) => carry.file(rel, phys) }
        }
        Faults.inject(s"compact.table.$t")
      }
      Faults.inject("compact.precommit")
      writeDeltas(next, readDeltas(cur))
      writeMeta(next, readMeta(cur))
      carryPurge(cur, next)
      if (foldedUnbucketed) resetPurgeProgress(next)
      carry.commit()
      require(currentVersion.contains(curV),
        s"concurrent admission detected at $indexDir (version moved past " +
          s"$curV) — the artifact requires a single writer")
      VersionedStore.swapPointer(indexDir, curV + 1)
      fat.length
    }
  }

  /** PURGE transaction (the physical half of tombstone deletion —
    * [[graft.analytics.IndexTombstones]]): a new version where
    * `rewriteTables` are re-written by the caller (dropping tombstoned
    * rows), `linkTables` carry as hard links (tables without a
    * document-id column, e.g. a token-df table whose deleted-doc
    * contribution is an efficiency-only drift), and sidecars in
    * `dropExtras` (the tombstone set itself, once applied) do NOT
    * carry. Deltas and meta carry — idempotence of prior admissions
    * must survive a purge. Same single-writer tripwire and atomic
    * pointer swap as every lifecycle step here.
    *
    * BUCKET-selective: for a table whose bucket key IS its document-id
    * column (signatures/vectors/sets), the buckets holding tombstoned
    * rows are computable from the tombstone ids with the same
    * `pmod(hash, n)` the writer used — `affected(table)` returns their
    * 5-digit bucket names and only THOSE buckets' files rewrite; every
    * other file hard-links, so purge there is O(affected buckets'
    * bytes). `None` = rewrite the whole table (band/posting tables,
    * where deleted rows spread across all buckets by construction). A
    * file whose name carries no bucket id joins the rewrite set —
    * rewriting is always correct.
    *
    * Under a BUCKET BUDGET — what keeps the auto-purge from stalling the
    * admitting stream it runs inside (r17 verdict #1: the contain face's
    * token-keyed tables rewrite whole, 31.2 s vs an 11.4 s plain-admit
    * batch at the 100× rehearsal the moment the ratio tripped). Each call
    * commits ONE version in which at most `budget` bucket-slices of the
    * pending rewrite work fold (anti-joined by the caller's `rewrite`)
    * while everything else — including pending-but-not-selected buckets —
    * hard-links; `_purge.txt` records the slices done so the next call
    * continues instead of repeating. The slice that exhausts the pending
    * set is the FINAL one: it drops `dropExtras` (the sidecar) and writes
    * no progress file. `budget <= 0` = unlimited (the whole purge in one
    * call). Returns true iff this call COMPLETED the purge.
    *
    * Correctness while sliced: the sidecar stays until the final slice,
    * so every probe keeps its logical tombstone filter — a half-purged
    * artifact answers identically to an unpurged one. The work list is
    * keyed by FILE-NAME bucket ids, so a whole-rewrite table (`affected =
    * None`) slices naturally at bucket granularity; files without a
    * bucket id (L0 accrual) form a per-table `raw` slice. Two priced
    * edges: (1) a new tombstone admission mid-purge changes the
    * fingerprint and restarts the progress (see `_purge.txt` notes); (2)
    * rows ADMITTED mid-purge into an already-done slice are
    * post-tombstone data and do not rewrite — a caller re-admitting an id
    * it has taken down, before the purge completes, keeps that copy
    * physically (it still reads as deleted until the sidecar drops, and a
    * re-delete purges it).
    */
  def purgeVersionBudgeted(rewriteTables: Seq[String],
      linkTables: Seq[String], dropExtras: Set[String],
      affected: String => Option[Set[String]], budget: Int)(
      rewrite: (String, Seq[File], File) => Unit): Boolean = {
    val curV = currentVersion.getOrElse(
      throw new IllegalStateException(s"no artifact at $indexDir — build first"))
    val cur = versionDir(curV)
    val fp = purgeFingerprint(cur, dropExtras)
    val done: Set[String] = readPurge(cur) match {
      case Some((f, d)) if f == fp => d
      case _ => Set.empty
    }
    val bucketId = "_(\\d{5})\\.".r
    // pending slices in deterministic (table, bucket) order: bucket-named
    // file groups needing a rewrite, plus a "raw" group for files whose
    // names carry no bucket id
    val pending: Seq[(String, String, Seq[(String, File)])] = for {
      t <- rewriteTables
      aff = affected(t)
      (slice, fs) <- tableEntries(cur, t)
        .groupBy { case (_, f) =>
          bucketId.findFirstMatchIn(f.getName).map(_.group(1)) }
        .toSeq.flatMap {
          case (None, fs) => Seq("raw" -> fs)
          case (Some(b), fs) =>
            if (aff.forall(_.contains(b))) Seq(b -> fs) else Nil
        }.sortBy(_._1)
      if !done.contains(s"$t/$slice")
    } yield (t, slice, fs)
    val take = if (budget <= 0) pending else pending.take(budget)
    val isFinal = take.size == pending.size
    val next = versionDir(curV + 1)
    VersionedStore.clearStale(next)
    val carry = carryOf(cur, next)
    linkTables.foreach(t => carry.tree(t))
    carryExtras(carry, cur, next, rewriteTables ++ linkTables,
      if (isFinal) dropExtras else Set.empty)
    rewriteTables.foreach { t =>
      val fold = take.filter(_._1 == t).flatMap(_._3)
      if (fold.isEmpty) carry.tree(t)
      else {
        val foldSet = fold.map(_._1).toSet
        rewrite(t, fold.map(_._2), new File(next, t))
        // keep everything not folded, preserving sub-paths (an L0 file
        // keeps its _l0/ placement so later slices still enumerate it)
        tableEntries(cur, t)
          .filterNot { case (rel, _) => foldSet.contains(rel) }
          .foreach { case (rel, phys) => carry.file(rel, phys) }
      }
      Faults.inject(s"purge.table.$t")
    }
    Faults.inject("purge.precommit")
    writeDeltas(next, readDeltas(cur))
    writeMeta(next, readMeta(cur))
    if (!isFinal)
      writePurge(next, fp, done ++ take.map { case (t, b, _) => s"$t/$b" })
    carry.commit()
    require(currentVersion.contains(curV),
      s"concurrent admission detected at $indexDir (version moved past " +
        s"$curV) — the artifact requires a single writer")
    VersionedStore.swapPointer(indexDir, curV + 1)
    isFinal
  }

  /** Drop versions older than the newest `keep`; returns the dropped
    * version ids (see [[VersionedStore.prune]]). Manifest-carried
    * artifacts prune by REFERENCE COUNT ([[VersionedStore.pruneVacuum]])
    * — a manifest entry, unlike a hard link, does not keep bytes alive,
    * so a wholesale dir delete would strand retained versions' refs.
    */
  def prune(keep: Int = 2): Seq[Long] =
    if (currentDir.exists(isManifest)) VersionedStore.pruneVacuum(indexDir, keep)
    else VersionedStore.prune(indexDir, keep)
}
