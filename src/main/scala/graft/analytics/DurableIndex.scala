package graft.analytics

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.VersionedArtifact

/** The durable-index lifecycle every index face shares — [[DedupIndex]]
  * (MinHash bands), [[ContainIndex]] (containment postings) and
  * [[SrpIndex]] (embedding sign-LSH bands) are ONE versioned artifact
  * family over [[graft.streaming.VersionedArtifact]] (atomic `_CURRENT`
  * swap, deltaId-idempotent admission, single-writer tripwire,
  * hard-link or manifest carry), differing only in per-face DATA:
  *
  *   - [[tables]] — the artifact's table names;
  *   - [[idColumn]] — the document/vector id every non-link table
  *     carries (`doc_id` or `vec_id`), the key tombstones and purges
  *     match on;
  *   - [[bucketKey]] — per table, the column it is bucketed and sorted
  *     on (the probes' equi-join key; a table keyed by [[idColumn]] is
  *     what a purge can rewrite bucket-selectively);
  *   - [[linkTables]] — tables a purge carries as links, because they
  *     hold no id column (containment's token `df`);
  *   - [[ratioTable]] — the one-row-per-id table [[tombstoneRatio]]
  *     counts;
  *   - [[l0Tables]] — the high-fan-out tables whose admissions land as
  *     L0 accrual ([[IndexLayout.fanoutAppend]]) and are probed as a
  *     separate leg.
  *
  * Each face keeps only what is really its own: `build`, `append`,
  * [[probeLoaded]] with its micro-candidate plans, its band shape, and a
  * small [[Loaded]] view over the frames [[load]] resolves.
  *
  * ONE LAYOUT: every table is an [[IndexLayout]] external bucketed
  * table inside the version dirs, so probes read the corpus side in
  * place, micro probes bucket-prune, and admission/compaction keep the
  * layout. The bucket specs ride `_meta.txt` next to the
  * `layout=bucketed` marker; an artifact without that marker (a
  * pre-bucketed build, a hand-edited or deleted meta) makes [[load]],
  * `append`, [[compact]] and [[purge]] throw, naming the index dir
  * ([[IndexLayout.checkedMeta]]).
  *
  * Staleness is the caller's contract, same as [[AnnIndex]]: a face's
  * `build` rebuilds from scratch into a fresh version.
  */
trait DurableIndex {

  /** The face's view over one resolved version — see
    * [[DurableIndex.Frames]].
    */
  type Loaded <: DurableIndex.Frames

  protected def tables: Seq[String]

  def idColumn: String

  protected def bucketKey: Map[String, String]

  protected def linkTables: Seq[String] = Nil

  protected def ratioTable: String

  protected def l0Tables: Seq[String]

  /** The face's [[Loaded]] over frames resolved against one pointer
    * read (band shapes and the like come out of `r.meta`).
    */
  protected def loadedOf(r: DurableIndex.Resolved): Loaded

  /** ADMIT a delta (probe-then-admit lifecycle): true if admitted, false
    * if `deltaId` was already applied. O(|delta|) write — previous files
    * carry as hard links (or manifest references), only the delta's
    * part files are new.
    */
  def append(spark: SparkSession, delta: DataFrame, indexDir: String,
      deltaId: String): Boolean

  /** [[probe]] against pre-loaded (possibly persisted) artifact frames.
    * `micro = true` declares `delta` a MICRO-BATCH (the streaming ingest
    * faces): delta-derived sides broadcast into the corpus joins, and
    * uncached corpus reads bucket-prune — see each face's scaladoc.
    * Batch probes (`micro = false`) stay lazy.
    */
  def probeLoaded(loaded: Loaded, delta: DataFrame,
      micro: Boolean = false): DataFrame

  protected def artifact(indexDir: String) = new VersionedArtifact(indexDir)

  /** Corpus-build counter — the [[AnnPersistSpec]]-style observability
    * hook: proves the oracled incremental faces build the artifact at
    * most once per corpus fingerprint and PROBE thereafter.
    */
  val buildRuns = new AtomicLong(0)

  /** Artifact-load counter — lets `IngestDedupSpec` prove a multi-batch
    * ingest stream resolved the artifact ONCE, not per batch.
    */
  val loadRuns = new AtomicLong(0)

  /** What opens every build: count it, and return the carrier meta.
    * `manifestCarrier` (each face's `build` argument, default false =
    * hard-link carry) makes the build record [[VersionedArtifact
    * .ManifestMeta]] in the artifact, so every later lifecycle
    * transaction carries untouched files as `_carry.txt` REFERENCES
    * (zero links, zero copies — the object-store carry) and prune
    * becomes reference-counted vacuum. The choice then rides the
    * artifact's meta like the band shape (a probe/admit never takes
    * it). Reads of a manifest artifact MOUNT as per-version symlink
    * trees registered with the same bucketed catalog entries as the
    * link carrier ([[load]], [[IndexLayout.mountManifest]]), so probe
    * plans are carrier-identical.
    */
  protected def beginBuild(manifestCarrier: Boolean): Map[String, String] = {
    buildRuns.incrementAndGet()
    if (manifestCarrier) VersionedArtifact.ManifestMeta
    else Map.empty[String, String]
  }

  /** The current version's meta, checked to record the bucketed layout
    * ([[IndexLayout.checkedMeta]]).
    */
  protected def metaOf(indexDir: String): Map[String, String] =
    IndexLayout.checkedMeta(indexDir, artifact(indexDir).meta)

  /** Whether the artifact has a committed current version (a crashed
    * build leaves no pointer → reads as absent).
    */
  def hasCurrent(indexDir: String): Boolean =
    currentVersion(indexDir).isDefined

  /** The committed version id behind the _CURRENT pointer — one file
    * read; what a long-lived prober polls per micro-batch to bound its
    * cache's staleness to one batch (see `IngestDedup`).
    */
  def currentVersion(indexDir: String): Option[Long] =
    artifact(indexDir).currentVersion

  /** The current version's path for `table` — observability/spec hook;
    * multi-table READS go through one snapshot resolution, as [[load]]
    * does.
    */
  def tablePath(indexDir: String, table: String): String =
    artifact(indexDir).tablePath(table)

  /** Delta ids already admitted into the current version. */
  def appliedDeltas(indexDir: String): Set[String] =
    artifact(indexDir).appliedDeltas

  /** Total data bytes behind the artifact's current version — what the
    * streaming face's cache-if-fits decision reads once per version.
    */
  def artifactBytes(indexDir: String): Long = artifact(indexDir).currentBytes

  /** Whether a budget-sliced [[purge]] is mid-flight — polled per batch
    * by the maintenance seat (see `IngestDedup.maintain`).
    */
  def purgePending(indexDir: String): Boolean =
    artifact(indexDir).purgePending

  /** Drop index versions older than the newest `keep` (default 2: a
    * reader holding the previous version's paths — a lazy probe frame,
    * the ingest stream's cached corpus — survives one admission; consume
    * lazy frames before pruning deeper). The pruned versions'
    * external-table catalog entries and manifest mounts drop with them
    * (metadata-only — the files are already gone, and symlinks never
    * keep bytes alive, so order is free).
    */
  def prune(spark: SparkSession, indexDir: String, keep: Int = 2): Unit = {
    val dropped = artifact(indexDir).prune(keep)
    val family = IndexLayout.familyOf(indexDir)
    dropped.foreach(v =>
      tables.foreach(IndexLayout.deregister(spark, family, _, v)))
    dropped.foreach(IndexLayout.unmount(indexDir, _))
  }

  /** Compact tables that accreted more than `maxFiles` part files across
    * admissions — out-of-band, behind the same atomic version swap as
    * admission, delta-idempotence carried. Tables fold BUCKET-GRANULARLY
    * (base files hard-link, only the accrual rewrites — [[graft.streaming
    * .VersionedArtifact.compactBucketed]]) to a ≤ 2-files-per-bucket
    * floor at the recorded spec, with threshold = bucket floor +
    * `maxFiles` accrual slack (a flat count would flag any table with
    * more than `maxFiles` buckets as permanently fat). Probe output is
    * multiset-invariant across a compact (each face's index spec). Run
    * from the admission loop (single-writer contract).
    */
  def compact(spark: SparkSession, indexDir: String,
      maxFiles: Int = 64): Int = {
    val meta = metaOf(indexDir)
    val family = IndexLayout.familyOf(indexDir)
    artifact(indexDir).compactBucketed(tables,
      (t: String) => IndexLayout.specOf(meta, t).buckets + maxFiles) {
      (table, files, tgt) =>
        IndexLayout.writeInto(
          spark.read.parquet(files.map(_.getAbsolutePath): _*), family,
          table, tgt.getParentFile,
          IndexLayout.specOf(meta, table), overwrite = true)
    }
  }

  /** LOGICAL deletion (takedown) — admit `ids` (one LongType id column)
    * into the artifact's tombstone sidecar under `deltaId`; every
    * subsequent probe drops pairs touching them. See [[IndexTombstones]]
    * for the two-phase design; false = the deltaId was already applied
    * (idempotent retry).
    */
  def delete(spark: SparkSession, indexDir: String, ids: DataFrame,
      deltaId: String): Boolean =
    IndexTombstones.delete(artifact(indexDir), tables, ids, deltaId)

  /** [[delete]] for a batch of requests in ONE version bump — the
    * takedown-drain seat (see [[IndexTombstones.deleteAll]]).
    */
  def deleteAll(spark: SparkSession, indexDir: String,
      reqs: Seq[(DataFrame, String)]): Boolean =
    IndexTombstones.deleteAll(artifact(indexDir), tables, reqs)

  /** |tombstones| / |indexed ids| for the current version, counted on
    * [[ratioTable]] — both parquet row counts answered from footer
    * metadata, no data read; what the auto-purge policy compares to its
    * threshold once per takedown drain (never per batch). 0 with no
    * sidecar.
    */
  def tombstoneRatio(spark: SparkSession, indexDir: String): Double =
    IndexTombstones.ratio(spark, artifact(indexDir), ratioTable)

  /** PHYSICAL tombstone removal: rewrite every table without the
    * tombstoned ids' rows and drop the sidecar, one pointer swap.
    * O(table) by design — the compliance backstop behind the logical
    * filter, not the hot path ([[IndexTombstones]]). [[linkTables]]
    * carry as LINKS: they hold no id column, and a deleted doc's
    * contribution to them is an efficiency-only drift (containment's
    * frozen-df argument). False if there is nothing to purge.
    *
    * Tables bucketed BY [[idColumn]] rewrite only the buckets holding
    * tombstoned rows (the rest hard-link — O(affected buckets));
    * band/posting tables rewrite whole, since a deleted id's rows spread
    * across all buckets by construction. `budget` > 0 slices that purge
    * at ≤ budget buckets per call (the in-stream auto-purge's stall
    * bound — see [[graft.streaming
    * .VersionedArtifact.purgeVersionBudgeted]]).
    */
  def purge(spark: SparkSession, indexDir: String,
      budget: Int = 0): Boolean = {
    val art = artifact(indexDir)
    IndexTombstones.loadTombstones(spark, art) match {
      case None => false
      case Some(t) =>
        val meta = metaOf(indexDir)
        val tomb = broadcast(t.select(col("id")))
        def kept(df: DataFrame): DataFrame =
          df.join(tomb, col(idColumn) === col("id"), "left_anti")
        val family = IndexLayout.familyOf(indexDir)
        def affectedOf(table: String): Option[Set[String]] = {
          val spec = IndexLayout.specOf(meta, table)
          if (spec.by != Seq(idColumn)) None
          else Some(IndexTombstones.affectedBuckets(t, spec.buckets))
        }
        art.purgeVersionBudgeted(tables.filterNot(linkTables.contains),
            linkTables, Set(IndexTombstones.Table), affectedOf, budget) {
          (table, files, tgt) =>
            IndexLayout.writeInto(
              kept(spark.read.parquet(files.map(_.getAbsolutePath): _*)),
              family, table, tgt.getParentFile,
              IndexLayout.specOf(meta, table), overwrite = true)
        }
        true
    }
  }

  /** Probe the index with a delta frame: verified pairs between the
    * delta and the indexed corpus, O(|delta| + matches) — nothing
    * corpus-sized is computed, only scanned. Every table resolves
    * against ONE pointer read, so a concurrent admission cannot hand the
    * verify a different version than the candidate join.
    */
  def probe(spark: SparkSession, indexDir: String,
      delta: DataFrame): DataFrame =
    probeLoaded(load(spark, indexDir), delta)

  /** The artifact's tables resolved against ONE pointer read — what a
    * LONG-LIVED prober (the streaming ingest faces) loads once and
    * persists, so every micro-batch probes memory instead of re-reading
    * corpus-sized state. Meta, layout, table paths AND the tombstone
    * sidecar come from that one read: independent reads could straddle
    * a purge and pair pre-purge tables with a dropped sidecar —
    * transiently resurfacing deleted pairs.
    *
    * MANIFEST carrier: tables resolve as logical FILE lists (physical +
    * carried references — a dir read would silently miss every carried
    * file), then MOUNT as per-version symlink trees and register as the
    * SAME external bucketed tables the link carrier gets
    * ([[IndexLayout.mountManifest]] — the local stand-in for a table
    * format's metadata layer at an object-store deployment). Probe plans
    * are therefore carrier-IDENTICAL: bucket HashPartitioning reported
    * (the corpus side never re-shuffles), `SelectedBucketsCount` pruning
    * available, L0 accrual read as its own delta-sized leg.
    */
  def load(spark: SparkSession, indexDir: String): Loaded = {
    loadRuns.incrementAndGet()
    val art = artifact(indexDir)
    val family = IndexLayout.familyOf(indexDir)
    val (meta, dirs, tomb) =
      if (art.isManifestCurrent) {
        val snap = art.snapshotLogical(tables, IndexTombstones.Table)
        (IndexLayout.checkedMeta(indexDir, snap.meta),
          tables.map(t => t -> IndexLayout.mountManifest(
            indexDir, t, snap.version, snap.tableFiles(t))).toMap,
          IndexTombstones.fromFiles(spark, snap.extraFiles))
      } else {
        val snap = art.snapshot(tables, IndexTombstones.Table)
        (IndexLayout.checkedMeta(indexDir, snap.meta),
          snap.paths.map { case (t, p) => t -> new File(p) },
          IndexTombstones.fromSnapshot(spark, snap))
      }
    // L0 accrual: admission appends live as plain parquet under the
    // table's `_l0` subdir ([[IndexLayout.l0Append]]); probes read them
    // as a separate delta-sized leg until compaction folds them into
    // buckets
    loadedOf(DurableIndex.Resolved(meta,
      tables.map(t => t -> spark.table(IndexLayout.register(spark,
        family, t, dirs(t), IndexLayout.specOf(meta, t)))),
      tables.map(t => t -> IndexLayout.specOf(meta, t).buckets).toMap,
      tomb,
      l0Tables.flatMap(t =>
        IndexLayout.l0Frame(spark, dirs(t).toString).map(t -> _))))
  }

  /** One table's admission rows written into the next version `ver`:
    * [[l0Tables]] go through [[IndexLayout.fanoutAppend]] and the
    * id-keyed tables append at the recorded modulus (their delta rows
    * touch ≤ |delta| buckets — already delta-bounded).
    */
  protected def appendTable(indexDir: String, meta: Map[String, String],
      ver: File, table: String, df: DataFrame): Unit =
    if (l0Tables.contains(table))
      IndexLayout.fanoutAppend(df, IndexLayout.familyOf(indexDir), table,
        ver, IndexLayout.specOf(meta, table))
    else
      IndexLayout.writeInto(df, IndexLayout.familyOf(indexDir), table, ver,
        IndexLayout.specOf(meta, table), overwrite = false)

  /** A build: writes each `(table, frame, buckets)` as an external
    * bucketed table bucketed and sorted on its [[bucketKey]], and
    * records every spec (plus `meta` and the layout marker) in the
    * artifact so each admission, probe and session replays it.
    */
  protected def buildTables(indexDir: String, meta: Map[String, String],
      frames: Seq[(String, DataFrame, Int)]): Unit = {
    val family = IndexLayout.familyOf(indexDir)
    val full = meta + (IndexLayout.LayoutKey -> IndexLayout.BucketedValue) ++
      frames.flatMap { case (t, df, n) =>
        IndexLayout.metaFor(t, IndexLayout.TableSpec(n, Seq(bucketKey(t)),
          Seq(bucketKey(t)), df.schema.toDDL))
      }
    artifact(indexDir).build({ ver =>
      frames.foreach { case (t, df, _) =>
        IndexLayout.writeInto(df, family, t, ver,
          IndexLayout.specOf(full, t), overwrite = true)
      }
    }, buildMeta = full)
  }
}

object DurableIndex {

  /** One version's frames, resolved by [[DurableIndex.load]] against one
    * pointer read, in the face's table order.
    */
  final case class Resolved(meta: Map[String, String],
      tables: Seq[(String, DataFrame)], buckets: Map[String, Int],
      tombstones: Option[DataFrame], l0: Seq[(String, DataFrame)])

  /** The shared half of a face's `Loaded`: bucket counts, the tombstone
    * filter and the L0 legs.
    */
  abstract class Frames(r: Resolved) {
    private[graft] def buckets: Map[String, Int] = r.buckets
    private[graft] def tombstones: Option[DataFrame] = r.tombstones

    /** Every L0 frame present — what the streaming cache persists next
      * to the base frames (delta-sized; pinning them is cheaper than
      * one lake read per batch).
      */
    private[graft] def l0Frames: Seq[DataFrame] = r.l0.map(_._2)

    /** Base frames then L0 frames — everything the streaming face's
      * cache-if-fits policy may persist.
      */
    private[graft] def cacheFrames: Seq[DataFrame] =
      r.tables.map(_._2) ++ l0Frames

    protected def table(name: String): DataFrame =
      r.tables.collectFirst { case (`name`, df) => df }.get

    protected def l0(name: String): Option[DataFrame] =
      r.l0.collectFirst { case (`name`, df) => df }
  }
}
