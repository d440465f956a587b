package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SessionRebind, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.MQEvent

/** Shared CDC-envelope keying: reduce a batch of [[MQEvent]]s to one keyed
  * change row per event — `(tbl, pk, version triple, action, after_json)` —
  * under a per-`db.table` primary-key configuration. Both materializers
  * consume this projection: [[CdcServingTable]] merges it (current state),
  * [[CdcHistoryTable]] appends it (full history). Tables without a
  * configured pk, and rows whose image lacks the pk column, are dropped
  * filter-first — they never reach a shuffle.
  */
private[streaming] object CdcKeyed {

  /** Column layout of a keyed change row — also the store schema of both
    * materializers. Declared explicitly on every store read: `tbl` is a
    * PARTITION column in both stores, and inference would happily type a
    * numeric-looking `tbl=1.2` directory as DOUBLE.
    */
  val schema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("tbl", StringType), StructField("pk", StringType),
      StructField("ver_ts", LongType), StructField("ver_seg", StringType),
      StructField("ver_pos", LongType),
      StructField("action", StringType),
      StructField("after_json", StringType)))
  }

  def changes(envelopes: Dataset[MQEvent],
      pkOf: Map[String, String]): DataFrame = {
    val pkLit = typedlit(pkOf)
    envelopes.toDF()
      .withColumn("tbl", concat_ws(".", col("database"), col("table")))
      .withColumn("pk_col", element_at(pkLit, col("tbl")))
      .filter(col("pk_col").isNotNull)
      // delete carries only the before image; its pk comes from there
      .withColumn("pk", element_at(
        when(col("action") === "delete", col("before")).otherwise(col("after")),
        col("pk_col")))
      .filter(col("pk").isNotNull)
      .select(col("tbl"), col("pk"),
        col("eventHeader.timestamp").as("ver_ts"),
        coalesce(col("eventHeader.segment"), lit("")).as("ver_seg"),
        col("eventHeader.logPos").as("ver_pos"),
        col("action"),
        to_json(col("after")).as("after_json"))
  }
}

/** CDC → queryable CURRENT-STATE table — the downstream-consumer half the
  * reference promises but stubs out (`internal/mq_manager/{nsq,es,mongodb}`
  * are `panic("implement me")`): every one of those sinks exists to keep an
  * external store's row-state in sync with the stream. This is that
  * materialization, Spark-native: per micro-batch, reduce the envelopes to
  * the latest change per (table, primary key) and MERGE into a versioned
  * parquet serving table with an atomically-swapped snapshot pointer (same
  * layout as [[EventStreams.ParquetUpsertStore]]; a Delta/Iceberg MERGE or
  * an ES/Mongo bulk-upsert replaces the store without touching the merge
  * contract).
  *
  * Semantics:
  *   - key = the configured primary-key column per `db.table` (the
  *     reference pushes that knowledge to consumers; here it is the one
  *     piece of configuration the materializer needs);
  *   - version = (event timestamp, segment, logPos) — the binlog emission
  *     order ACROSS file rotation: logPos resets on rotate and timestamps
  *     are second-granularity, so the segment name (lexicographic =
  *     rotation order, see [[graft.model.EventHeader]]) breaks the
  *     intra-second tie a rotation can produce. Idempotent under
  *     at-least-once redelivery and batch reordering by the same
  *     last-writer-wins rule as the SCD1 sink. On a FULL version tie (the
  *     same physical event redelivered) the struct-max falls through to
  *     (action, after_json) — deterministic, and a no-op because a
  *     redelivered event carries identical values there too;
  *   - DELETE is a first-class tombstone: the latest version wins
  *     INCLUDING deletes, and [[CdcServingTable.snapshot]] excludes
  *     tombstoned rows — a re-insert after a delete resurrects the key
  *     (newer version) while a redelivered stale insert cannot;
  *   - the after image rides as the envelope's JSON face (`after_json`) so
  *     the serving row set has ONE fixed schema under DDL evolution —
  *     consumers recover typed views via `from_json` + the registry
  *     snapshot, the same contract as the wire envelope.
  *
  * Scale shape: the snapshot is PARTITIONED BY `(tbl, pkb)` — table, then
  * pk-hash bucket — and a merge is partition-pruned copy-on-write: one
  * shuffle on (table, pk) over |touched-BUCKET store rows| + |batch| rows
  * (a conjunctive `(tbl IN ts) AND (pkb IN bs)` filter prunes untouched
  * tables AND untouched buckets of touched tables at the scan — the
  * exact per-table DNF was measured slower to PLAN per micro-batch than
  * its pruning saved, and cross-product slack only turns a hard link
  * into a rewrite, never a duplicate), with every untouched
  * directory subtree carried into the new version as hard links
  * ([[VersionedStore.linkUntouchedTree]] — zero data copied). The bucket
  * level is what keeps a HOT table affordable: a trickle of changes to a
  * 10 TB table rewrites the touched k/buckets fraction of it, not the
  * whole table (same granularity argument as
  * [[EventStreams.ParquetUpsertStore]]). A quiet table costs nothing per
  * merge no matter how large the store grows; a table format's
  * partition-pruned MERGE replaces the link step as a configuration
  * change. The only driver-side materialization is the touched
  * (table, bucket) list — bounded by |tables| × buckets, never by row
  * count.
  *
  * Layout: ONE on-disk layout — parquet files under `v<N>/tbl=<t>/pkb=<b>`
  * plus the per-version `_BUCKETS` (bucket counts) and `_BYTES` (byte
  * totals) sidecars, committed by the `_CURRENT` pointer swap. A current
  * version without `_BUCKETS` (parquet directly under `tbl=` dirs, or
  * `pkb=` dirs hashed with an unrecorded modulus) is refused by every
  * read and merge, naming its dir: its rows could be neither pruned nor
  * re-hashed safely.
  *
  * @param buckets      bucket count for tables NOT yet recorded in the
  *                     store's per-version `_BUCKETS` sidecar (i.e. new
  *                     tables; with [[autoSizeTargetBytes]] unset this is
  *                     every table's count)
  * @param autoSizeTargetBytes when > 0, per-table bucket counts are SIZED
  *                     from the table's observed on-disk bytes (the
  *                     [[graft.analytics.Bucketing]] ~128–512 MB/bucket
  *                     rule): a touched table whose power-of-two target
  *                     count moved ≥ 2× from its recorded count is
  *                     re-bucketed in that merge (one full rewrite of that
  *                     table — O(log growth) such rewrites over a table's
  *                     lifetime). 0 disables sizing (hand-tuned count).
  */
final class CdcServingTable(dir: String, pkOf: Map[String, String],
    buckets: Int = 16,
    autoSizeTargetBytes: Long = CdcServingTable.DefaultTargetBucketBytes) {
  require(buckets > 0, s"buckets must be positive, got $buckets")

  private def currentVersion: Option[Long] = VersionedStore.currentVersion(dir)

  /** Store schema, declared explicitly on every read: `tbl` is the
    * PARTITION column of the snapshot layout, and inference would happily
    * type a numeric-looking `tbl=1.2` directory as DOUBLE.
    */
  private val storeSchema = CdcKeyed.schema

  /** [[storeSchema]] plus the pk-hash bucket partition column. */
  private val bucketedSchema =
    storeSchema.add("pkb", org.apache.spark.sql.types.LongType)

  /** Version `v`'s dir, checked to be in the store's one layout: its
    * `_BUCKETS` sidecar is present. Without it the writer cannot know
    * what modulus the version's files were hashed with (or whether they
    * sit under `pkb=` dirs at all), so a read could mis-type the
    * partitions and a merge could mis-prune its base read and carry a
    * stale duplicate of every key it updates. One stat, no listing.
    */
  private def checkedVersion(v: Long): java.io.File = {
    val ver = new java.io.File(dir, s"v$v")
    if (new java.io.File(ver, "_BUCKETS").isFile) ver
    else throw new IllegalStateException(
      s"CDC serving store version $ver records no _BUCKETS sidecar (an " +
        "r11 tbl=-only or r12 pre-sidecar layout, or a deleted sidecar) — " +
        "replay or bootstrap into a fresh store dir")
  }

  /** Per-table bucket counts of a [[checkedVersion]], from its `_BUCKETS`
    * sidecar (`tbl<TAB>count` lines, written INSIDE the version dir so it
    * commits atomically with the pointer swap — a store-level sidecar
    * could go stale across a crash window and mis-prune the next merge's
    * base read, silently resurrecting the duplicate-row bug the sidecar
    * exists to prevent).
    */
  private def storedBuckets(ver: java.io.File): Map[String, Int] =
    new String(java.nio.file.Files.readAllBytes(
      new java.io.File(ver, "_BUCKETS").toPath),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty).map { line =>
        val i = line.lastIndexOf('\t')
        line.substring(0, i) -> line.substring(i + 1).toInt
      }.toMap

  private def writeBuckets(ver: java.io.File,
      counts: Map[String, Int]): Unit = {
    java.nio.file.Files.write(new java.io.File(ver, "_BUCKETS").toPath,
      counts.toSeq.sorted.map { case (t, n) => s"$t\t$n" }.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** Recursive parquet byte total of a directory subtree — driver-side
    * metadata listing, bounded by file count.
    */
  private def walkBytes(f: java.io.File): Long =
    if (f.isFile) { if (f.getName.endsWith(".parquet")) f.length else 0L }
    else Option(f.listFiles()).getOrElse(Array.empty).map(walkBytes).sum

  /** Fallback full-subtree walk of one table's partition dir — paid only
    * when the version's `_BYTES` sidecar is missing or torn (the next
    * merge records totals and retires the walk).
    */
  private def tableBytes(ver: java.io.File, tblDirName: String): Long =
    walkBytes(new java.io.File(ver, tblDirName))

  /** Per-table on-disk byte totals of a committed version, from its
    * `_BYTES` sidecar (`tbl<TAB>bytes`, inside the version dir — atomic
    * with the pointer swap, like `_BUCKETS`). The sidecar exists so the
    * auto-sizing resize check reads ONE file instead of re-walking every
    * touched table's full file tree per micro-batch (O(part files)
    * driver-side listing that grows with table size even though a resize
    * fires only O(log growth) times). None / missing tables fall back to
    * the walk once; the merge then records totals for every table it
    * commits.
    */
  private def storedBytes(ver: java.io.File): Option[Map[String, Long]] = {
    val f = new java.io.File(ver, "_BYTES")
    if (!f.exists()) None
    else try {
      Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").filter(_.nonEmpty).map { line =>
          val i = line.lastIndexOf('\t')
          require(i > 0, s"malformed _BYTES line: $line")
          line.substring(0, i) -> line.substring(i + 1).toLong
        }.toMap)
    } catch {
      // a torn/corrupted sidecar (no tab, non-numeric bytes) must degrade
      // to the one-time walk fallback it exists to avoid — the next merge
      // rewrites it — never wedge the merge itself
      case _: IllegalArgumentException | _: NumberFormatException => None
    }
  }

  private def writeBytes(ver: java.io.File,
      bytes: Map[String, Long]): Unit = {
    java.nio.file.Files.write(new java.io.File(ver, "_BYTES").toPath,
      bytes.toSeq.sorted.map { case (t, b) => s"$t\t$b" }.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** Per-`pkb=` bucket-dir byte totals of one table subtree — the
    * incremental-update unit: a merge's new version holds (pre-link)
    * exactly the bucket dirs it rewrote, so the new table total is
    * prevTotal − prevBytes(those dirs) + newBytes(those dirs), each term
    * bounded by TOUCHED-bucket file counts, never the table's.
    */
  private def bucketDirBytes(tblDir: java.io.File): Map[String, Long] =
    Option(tblDir.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("pkb="))
      .map(d => d.getName -> walkBytes(d)).toMap

  /** The sizing rule (one shared definition —
    * [[graft.analytics.Bucketing.sizedBuckets]]): smallest power of two
    * covering `bytes` at [[autoSizeTargetBytes]] per bucket. Power-of-two
    * targets make the ≥ 2× resize hysteresis natural (growth crosses a
    * boundary once per doubling, so a table pays O(log growth) rewrites,
    * not a rewrite per size wobble). The store's buckets are directory
    * partitions, not `bucketBy` tables, so no session `maxBuckets` cap
    * applies here.
    */
  private def sizedBuckets(bytes: Long): Int =
    graft.analytics.Bucketing.sizedBuckets(bytes, autoSizeTargetBytes)

  /** Deterministic pk-hash bucket — the sub-table rewrite granularity:
    * a micro-batch touching k of a hot table's buckets rewrites k/buckets
    * of THAT table, not the whole table. The modulus is PER TABLE (the
    * version's recorded count, constructor default for tables not in the
    * map) — a reopened store always hashes with the counts its files were
    * written with, never the constructor's.
    */
  private def bucketColFor(
      counts: Map[String, Int]): org.apache.spark.sql.Column = {
    val base =
      if (counts.isEmpty || counts.values.forall(_ == buckets))
        lit(buckets.toLong)
      else coalesce(
        element_at(typedlit(counts.map { case (t, n) => t -> n.toLong }),
          col("tbl")),
        lit(buckets.toLong))
    pmod(xxhash64(col("pk")), base)
  }

  /** Full store content incl. tombstones (for merge + forensics),
    * logical columns only.
    */
  def raw(spark: SparkSession): DataFrame = currentVersion match {
    case Some(v) =>
      spark.read.schema(bucketedSchema).parquet(checkedVersion(v).toString)
        .select(storeSchema.fieldNames.map(col).toIndexedSeq: _*)
    case None =>
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], storeSchema)
  }

  /** The serving view: one LIVE row per key (tombstones excluded). */
  def snapshot(spark: SparkSession): DataFrame =
    raw(spark).filter(col("action") =!= "delete")
      .select(col("tbl"), col("pk"), col("after_json"))

  /** Reduce a batch of envelopes to the latest change per key and merge.
    * Tables without a configured pk are ignored (filter-first: they never
    * reach the shuffle).
    */
  def merge(envelopes: Dataset[MQEvent]): Unit =
    merge(envelopes, pruneKeep = 0)

  /** [[merge]] that also PRUNES old snapshot versions (`pruneKeep` > 0 =
    * keep the newest that many) right after its pointer swap — what a
    * caller running a known-final merge uses instead of a separate
    * [[prune]] pass (one call, one version walk; the r19 plan audit's
    * absolute-cost shave for the serving-state family, whose per-merge
    * commit cost dominates its tiny data).
    */
  def merge(envelopes: Dataset[MQEvent], pruneKeep: Int): Unit = {
    val caller = envelopes.sparkSession
    val spark = mergeSession(caller)
    val sc = spark.sparkContext
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    // phase timing for targeted profiling only (SPARK_GRAFT_MERGE_DEBUG):
    // wall clock plus Spark job/stage/task counts per phase, so a slow
    // phase attributes to scheduling waves vs one slow job
    val dbg = sys.env.contains("SPARK_GRAFT_MERGE_DEBUG")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    def ours(p: java.util.Properties): Boolean =
      p != null && p.getProperty(CdcServingTable.MergeTag) == dir
    val listener = if (!dbg) null else {
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (ours(j.properties)) { jobs.incrementAndGet(); () }
        override def onStageSubmitted(
            s: org.apache.spark.scheduler.SparkListenerStageSubmitted)
            : Unit = if (ours(s.properties)) {
          stages.incrementAndGet()
          tasks.addAndGet(s.stageInfo.numTasks); ()
        }
      }
      sc.addSparkListener(l)
      l
    }
    var t0 = System.nanoTime()
    def lap(label: String): Unit = if (dbg) {
      val t = System.nanoTime()
      System.err.println(f"[merge] $label%-16s ${(t - t0) / 1e9}%7.3f s  " +
        f"jobs=${jobs.getAndSet(0)} stages=${stages.getAndSet(0)} " +
        f"tasks=${tasks.getAndSet(0)}")
      t0 = t
    }
    // planned and run under the merge session's conf, not the caller's
    val keyed = SessionRebind.rebind(CdcKeyed.changes(envelopes, pkOf), spark)
      // two driver consumers (the fused stats/touched collect, the merge
      // union) — one compute
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // AQE executes each exchange as its own wave-job with a driver-side
    // re-optimization between waves — measured r22 (job listener in the
    // lap points): every merge phase ran as 3 jobs / 3 stages / 3-8 tiny
    // tasks, ~150 ms of driver-serial latency per wave, compute ~nil.
    // For a HIGH-FREQUENCY micro-batch sink that fixed per-trigger wave
    // tax is the scaling limit (it is driver-serial and does not shrink
    // with cluster size), while AQE's benefit inside a merge is bounded
    // by the batch: the stats aggregation's reduce side is bounded by
    // |tables| × buckets AT ANY SCALE (count/sum/bucket-set per table),
    // so it runs AQE-off unconditionally; the write keeps AQE exactly
    // when the rewrite is big enough for runtime coalescing to matter
    // (estimated bytes ≥ AqeMinBytes, 256 MB — a rewrite that size has
    // real shuffles to re-plan). Each phase sets both values on the merge
    // session, whose conf nothing else reads or writes.
    val callerParts = caller.conf.get("spark.sql.shuffle.partitions").toInt
    def phase(aqe: Boolean, parts: Int): Unit = {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.shuffle.partitions", parts.toLong)
    }
    // every job this call submits carries the store dir as a local
    // property: the merge runs beside other consumers of the same batch,
    // and a listener tells its jobs from theirs by this tag
    val prevTag = sc.getLocalProperty(CdcServingTable.MergeTag)
    sc.setLocalProperty(CdcServingTable.MergeTag, dir)
    try {
      val prev = currentVersion
      val prevDir = prev.map(checkedVersion)
      val prevCounts = prevDir.map(storedBuckets)
        .getOrElse(Map.empty[String, Int])
      // ONE driver-side collect per merge (was two jobs — r19 plan
      // audit: the family's cost is commit/small-job dominated, so a
      // whole job per merge is real money): per-table row counts + byte
      // estimates AND the touched-bucket set in the same aggregation.
      // Bucket ids depend on the per-table counts, which are settled
      // only AFTER the stats — so the set is computed under the
      // PREVIOUS counts (constructor default for unrecorded tables) and
      // recomputed below only for tables whose settled count moved
      // (resize O(log growth), first batch of a new table): the steady
      // state never pays the second job. Bounded by |tables| × buckets.
      // the estimate approximates ON-DISK bytes: raw json + per-row
      // overhead, divided by a nominal parquet+snappy factor of 3 —
      // sizing from raw bytes would over-bucket ~2-4x and the next
      // merge's on-disk measurement would then fire a full DOWNSIZE
      // rewrite of the table it just wrote (estimate and measurement
      // must live on the same scale for the 2x hysteresis to absorb
      // their disagreement)
      val statRows = {
        // reduce-side sizing for the AQE-off aggregation: the partials
        // are bounded by map-partitions × |tables| (× bucket-set size),
        // so reducers scale with the INPUT's parallelism (÷8, floor 1,
        // cap session parallelism) — a micro-batch's 1-partition keyed
        // frame reduces in one task instead of the session constant's
        // 32 empties, a 100 k-partition bootstrap still fans out.
        phase(aqe = false, parts = math.max(1, math.min(
          sc.defaultParallelism, keyed.rdd.getNumPartitions / 8)))
        val q = keyed.groupBy(col("tbl"))
          .agg(count(lit(1)).as("n"),
            sum(length(col("after_json"))).as("jb"),
            collect_set(bucketColFor(prevCounts)).as("bks"))
        if (dbg) { q.queryExecution.executedPlan; lap("stats-plan") }
        q.collect()
      }
      lap("stats-collect")
      val tblStats: Map[String, Long] = statRows.map { r =>
        val json = if (r.isNullAt(2)) 0L else r.getLong(2)
        r.getString(0) -> ((json + r.getLong(1) * 64L) / 3L)
      }.toMap
      val touchedTbls = tblStats.keys.toSeq
      if (touchedTbls.nonEmpty) {
        // sizing inputs read sidecar-first: one file instead of a
        // full-tree walk per touched table per merge (ADVICE r13); a
        // missing or torn `_BYTES` walks once and is recorded below
        val prevByteMap: Map[String, Long] =
          prevDir.flatMap(storedBytes).getOrElse(Map.empty)
        def prevTableBytes(t: String): Long =
          prevByteMap.getOrElse(t,
            prevDir.map(pd => tableBytes(pd,
              "tbl=" + ExternalCatalogUtils.escapePathName(t)))
              .getOrElse(0L))
        // auto-sizing: touched tables whose power-of-two target count
        // moved ≥ 2× from the recorded count are fully re-bucketed in
        // this merge (quiet tables never resize — no unprompted rewrites)
        val resized: Map[String, Int] =
          if (autoSizeTargetBytes <= 0 || prevDir.isEmpty)
            Map.empty
          else touchedTbls.flatMap { t =>
            prevCounts.get(t).flatMap { cur =>
              // max with THIS batch's estimate: a bootstrap-scale
              // backfill into a 1-bucket trickle table must re-bucket in
              // the merge that carries it, not funnel through one bucket
              // and resize a merge late
              val want = sizedBuckets(math.max(prevTableBytes(t),
                tblStats.getOrElse(t, 0L)))
              if (want >= cur * 2 || want * 2 <= cur) Some(t -> want)
              else None
            }
          }.toMap
        // tables with NO recorded count start SIZED when sizing is on:
        // from max(previous on-disk bytes, THIS batch's estimated bytes)
        // — a brand-new trickle table lands at 1 bucket (doubling as it
        // grows), a bootstrap-sized initial load lands at the count its
        // snapshot asks for
        val seeded: Map[String, Int] =
          if (autoSizeTargetBytes <= 0) Map.empty
          else touchedTbls.filterNot(prevCounts.contains)
            .map { t =>
              t -> sizedBuckets(math.max(prevTableBytes(t),
                tblStats.getOrElse(t, 0L)))
            }.toMap
        val counts = prevCounts ++ seeded ++ resized
        val pkbCol = bucketColFor(counts)
        // touched (tbl, bucket) list under the SETTLED counts — bounded
        // by |tables| × buckets, never by row count. The fused collect
        // above computed the sets under the PREVIOUS counts, which equal
        // the settled ones except for seeded/resized tables — recompute
        // only those (and only when the list will be consulted at all:
        // a merge into an empty store reads no base)
        lazy val touched: Map[String, Seq[Long]] = {
          // RESIZED tables are excluded: they are read whole below (old
          // pkb values hashed with the old modulus) and never consulted
          // in `plain`, so recomputing their touched sets would pay the
          // second full distinct+collect over `keyed` that the fused
          // collect exists to avoid (r20 ADVICE). Only SEEDED tables
          // (no recorded count) need the recompute.
          val changed = touchedTbls.filter(t =>
            !resized.contains(t) &&
              counts.getOrElse(t, buckets) != prevCounts.getOrElse(t, buckets))
            .toSet
          val stable: Map[String, Seq[Long]] = statRows.collect {
            case r if !changed.contains(r.getString(0)) =>
              r.getString(0) -> r.getSeq[Long](3)
          }.toMap
          val recomputed: Map[String, Seq[Long]] =
            // bounded like the stats reduce (whose AQE-off conf is still
            // in force): ≤ |tables| × buckets rows
            if (changed.isEmpty) Map.empty
            else keyed.filter(col("tbl").isin(changed.toSeq: _*))
              .select(col("tbl"), pkbCol.as("pkb")).distinct()
              .collect()
              .map(r => (r.getString(0), r.getLong(1)))
              .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
          stable ++ recomputed
        }
        // partition pruning: a DNF of (tbl = t AND pkb IN bs) over the
        // (tbl, pkb)-partitioned read — untouched tables' directories and
        // untouched BUCKETS of touched tables are never scanned. A
        // RESIZED table reads whole: its old pkb values were hashed with
        // the old modulus.
        lap("settle-counts")
        val base = prev match {
          case None => raw(spark) // empty frame, storeSchema
          case Some(pv) =>
            // conjunctive (tbl IN ts) AND (pkb IN bs) rather than the
            // exact per-table DNF: planning a tables×buckets-term
            // predicate per micro-batch measurably dominates small
            // merges, and the cross-product slack is harmless — an
            // over-read bucket is rewritten into the new version instead
            // of hard-linked, never duplicated (the link step only
            // carries dirs ABSENT from the rewrite).
            val plain = touched.keys.toSeq.filterNot(resized.contains)
            val pruned = (col("tbl").isin(plain: _*) &&
              col("pkb").isin(
                plain.flatMap(touched).distinct: _*)) ||
              col("tbl").isin(resized.keys.toSeq: _*)
            spark.read.schema(bucketedSchema)
              .parquet(s"$dir/v$pv").filter(pruned)
              .select(storeSchema.fieldNames.map(col).toIndexedSeq: _*)
        }
        val next = base
          .unionByName(keyed)
          // struct max = last-writer-wins on (ver_ts, ver_seg, ver_pos) —
          // the rotation-safe emission order; action and the JSON image
          // ride as deterministic tiebreaks (maps are not orderable, their
          // JSON face is), reached only when the same physical event is
          // redelivered
          .groupBy(col("tbl"), col("pk"))
          .agg(max(struct(col("ver_ts"), col("ver_seg"), col("ver_pos"),
            col("action"), col("after_json"))).as("v"))
          .select(col("tbl"), col("pk"), col("v.ver_ts"), col("v.ver_seg"),
            col("v.ver_pos"), col("v.action"), col("v.after_json"))
          .withColumn("pkb", pkbCol)
        val v = prev.getOrElse(-1L) + 1L
        val nextDir = new java.io.File(dir, s"v$v")
        // cluster on the partition keys before the write: without this,
        // every one of the agg's shuffle partitions writes its own file
        // into every bucket dir it holds rows for — tasks × buckets tiny
        // files per merge (measured 2.6× on the bench). One exchange on
        // (tbl, pkb) → exactly one file per touched bucket. The COUNT
        // stays at the session default deliberately: capping it at the
        // output-group count was measured (r20) to COLLIDE groups under
        // pmod(hash, groups) — ~1/3 of a 5-table bootstrap's groups
        // shared a task and the big write ran ×2 slower — while the
        // empty tasks the cap avoided commit in ~a millisecond each.
        // rewrite-derived shuffle sizing for the AQE-off write (the
        // coalescing AQE would have done, priced from the stats already
        // in hand): estimated bytes at a 64 MB/partition target, floor 1,
        // cap session parallelism — a micro-batch's write exchanges run
        // 1-2 tasks instead of 2 × the session constant, a bootstrap-sized
        // batch still fans out to every core. The bytes are the batch's
        // plus the base it rewrites: each plain table's recorded total ×
        // touched buckets ÷ its bucket count, a resized table whole — a
        // few rows touching k large buckets must not funnel k buckets
        // through one reducer. The r20
        // caution about capping at the OUTPUT-GROUP count (pmod
        // collisions ran the big write ×2 slower) does not apply: this
        // cap scales with bytes, so only tiny rewrites collapse, and
        // their groups are tiny too.
        val baseBytes = statRows.map { r =>
          val t = r.getString(0)
          if (resized.contains(t)) prevTableBytes(t)
          else prevCounts.get(t).fold(0L)(n =>
            prevTableBytes(t) * r.getSeq[Long](3).size / n)
        }.sum
        val estBytes = tblStats.values.sum + baseBytes
        val aqeOn = estBytes >= CdcServingTable.AqeMinBytes
        val writeParts = math.max(1L, math.min(
          sc.defaultParallelism.toLong,
          estBytes / (64L << 20) + 1L)).toInt
        phase(aqe = aqeOn, parts = if (aqeOn) callerParts else writeParts)
        // at writeParts == 1 the agg's single output partition is already
        // trivially clustered on (tbl, pkb) — the pre-write exchange would
        // be a 1→1 pass-through stage, so skip it (still exactly one file
        // per touched bucket dir; one fewer scheduling wave per micro
        // merge)
        val clustered =
          if (!aqeOn && writeParts == 1) next
          else next.repartition(col("tbl"), col("pkb"))
        if (dbg) { clustered.queryExecution.executedPlan; lap("write-plan") }
        clustered
          .write.mode("overwrite").partitionBy("tbl", "pkb")
          .parquet(nextDir.toString)
        lap("write")
        // PRE-link snapshot of the new version: it holds exactly the
        // bucket dirs this merge rewrote (incl. conjunctive-pruning
        // over-reads — they were rewritten, so they belong in the
        // incremental byte arithmetic below), so per-table walks here
        // are bounded by touched-bucket file counts
        val rewrittenBytes: Map[String, Map[String, Long]] =
          Option(nextDir.listFiles()).getOrElse(Array.empty)
            .filter(d => d.isDirectory && d.getName.startsWith("tbl="))
            .map(d => ExternalCatalogUtils
              .unescapePathName(d.getName.stripPrefix("tbl=")) ->
              bucketDirBytes(d)).toMap
        lap("rewrittenBytes")
        prevDir.foreach(pd =>
          VersionedStore.linkUntouchedTree(pd, nextDir,
            // a resized table is fully rewritten under its NEW modulus —
            // linking its leftover old-modulus bucket dirs in would
            // resurrect exactly the stale-duplicate bug the recorded
            // counts exist to prevent
            skipTop = resized.keySet.map(t =>
              "tbl=" + ExternalCatalogUtils.escapePathName(t))))
        // counts for EVERY table present in the new version (carried
        // tables keep their recorded count; new tables were hashed with
        // the settled `counts` map or its constructor-default fallback)
        val allTbls = Option(nextDir.listFiles()).getOrElse(Array.empty)
          .filter(d => d.isDirectory && d.getName.startsWith("tbl="))
          .map(d => ExternalCatalogUtils
            .unescapePathName(d.getName.stripPrefix("tbl=")))
        writeBuckets(nextDir,
          allTbls.map(t => t -> counts.getOrElse(t, buckets)).toMap)
        // byte totals for every table in the new version, incrementally:
        // resized tables total their own fresh subtree; every other
        // rewritten table adjusts the previous total (0 for a new table)
        // by the rewritten buckets' before/after bytes (prev-side walks
        // bounded by those same dirs); carried tables keep their recorded
        // total (sidecar-first, one-time walk when `_BYTES` is missing or
        // torn)
        writeBytes(nextDir, allTbls.map { t =>
          val rw = rewrittenBytes.getOrElse(t, Map.empty)
          val total =
            if (resized.contains(t)) rw.values.sum
            else if (rw.isEmpty) prevTableBytes(t)
            else {
              val tblDirName = "tbl=" + ExternalCatalogUtils.escapePathName(t)
              val prevRw = prevDir.map(pd => rw.keys.map(b =>
                walkBytes(new java.io.File(new java.io.File(pd, tblDirName),
                  b))).sum).getOrElse(0L)
              prevTableBytes(t) - prevRw + rw.values.sum
            }
          t -> total
        }.toMap)
        lap("link+sidecars")
        VersionedStore.swapPointer(dir, v)
      }
      // folded prune (see the overload doc): after the swap, inside the
      // same call — runs even when the batch touched nothing (the
      // caller asked for a pruned store either way)
      if (pruneKeep > 0) { VersionedStore.prune(dir, pruneKeep); lap("prune") }
    } finally {
      keyed.unpersist()
      if (listener != null) sc.removeSparkListener(listener)
      sc.setLocalProperty(CdcServingTable.MergeTag, prevTag)
    }
  }

  /** The merge's own session: a `newSession()` of the caller's, made once
    * per context. It shares the context and the cache (`SharedState`) but
    * not the SQL conf, so the AQE flag and shuffle partition counts each
    * merge phase sets never reach the caller's session, on which other
    * consumers of the same batch plan at the same time.
    */
  private var own: SparkSession = _

  private def mergeSession(caller: SparkSession): SparkSession = synchronized {
    if (own == null || (own.sparkContext ne caller.sparkContext))
      own = caller.newSession()
    own
  }

  /** Seed an EMPTY store from a consistent initial-load snapshot — the
    * bootstrap phase every CDC deployment runs before tailing the binlog
    * (the reference starts mid-stream and can only ever serve keys that
    * change after task creation; this closes that gap). The CONTRACT is
    * that snapshot rows arrive as insert envelopes carrying the SOURCE
    * version of the last change they reflect (ts/segment/logPos of that
    * change, not load time): versions being source positions makes the
    * switchover coordination-free — a binlog replay that OVERLAPS the
    * snapshot window is absorbed by the same last-writer-wins merge
    * (replayed events at or below a row's snapshot version lose, newer
    * ones win), so "replay from at or before the snapshot cut" is the
    * only requirement, and at-least-once overlap is a no-op rather than
    * a correctness hazard.
    */
  def bootstrap(snapshot: Dataset[MQEvent]): Unit = {
    require(currentVersion.isEmpty,
      s"bootstrap seeds an EMPTY store ($dir already has version " +
        s"${currentVersion.get}); use merge() for everything after the " +
        "initial load")
    merge(snapshot)
  }

  /** Drop snapshot versions older than the newest `keep` (the pointer's
    * target is always kept) — the compaction-GC a long-running sink needs.
    * Hard-linked carried files survive in newer versions.
    */
  def prune(keep: Int = 2): Unit = VersionedStore.prune(dir, keep)
}

object CdcServingTable {
  /** Default per-bucket byte target for auto-sizing — the
    * [[graft.analytics.Bucketing]] ~128–512 MB rule's midpoint. Pass
    * `autoSizeTargetBytes = 0` to pin counts by hand (specs that assert
    * fixed-modulus mechanics; a deployment with its own layout policy).
    */
  val DefaultTargetBucketBytes: Long =
    graft.analytics.Bucketing.DefaultTargetBucketBytes

  /** Estimated rewrite bytes from which a merge's write keeps AQE on. */
  val AqeMinBytes: Long = 256L << 20

  /** Local property naming the store on every job a merge submits. */
  val MergeTag = "graft.cdc.merge"
}

/** CDC → queryable FULL-HISTORY table — the temporal complement of
  * [[CdcServingTable]]: where the serving table answers "what is row X
  * now?", this one answers "what was row X at time T?" and "when did it
  * change?" — the audit/backfill face every CDC consumer that outgrows
  * current-state serving reaches for (an SCD2 dimension, a time-travel
  * read, a replication debugger).
  *
  * Write path is APPEND-ONLY: each batch of envelopes reduces to keyed
  * change rows ([[CdcKeyed.changes]]) and appends to a `tbl`-partitioned
  * changelog — O(|batch|) per micro-batch with ZERO store rewrite on the
  * ingest path. That is the scale contrast with the serving merge (which
  * must rewrite touched partitions): history ingest cost never grows
  * with store size, making this the cheaper sink of the two at 100 TB —
  * the expensive part moves to read time, where it belongs for an audit
  * table. The price of append-only is small-file accrual, paid down out
  * of band by [[compact]] (partition-pruned rewrite behind the same
  * atomic version pointer as the serving snapshot).
  *
  * At-least-once redelivery is absorbed at READ time: a redelivered event
  * appends an exact duplicate row, and both read faces collapse it —
  * [[history]] by dropping rows whose full version equals their
  * predecessor's inside the same (tbl, pk) window sort it already needs
  * (no extra shuffle), [[asOf]] by the same last-writer-wins struct-max
  * the serving merge uses (naturally idempotent). Exactly-once EFFECT
  * over an at-least-once log, same contract as the serving table.
  *
  * Versioning is the rotation-safe (ver_ts, ver_seg, ver_pos) triple of
  * [[graft.model.EventHeader]]; `action`/`after_json` ride as
  * deterministic final tiebreaks (reached only for a same-version
  * anomaly, a no-op for true redelivery).
  */
final class CdcHistoryTable(dir: String, pkOf: Map[String, String]) {

  private val logRoot = s"$dir/log"

  /** The changelog directory is VERSIONED with the same `_CURRENT`
    * pointer as the serving snapshot — appends land in the current
    * version, and [[compact]] commits a rewritten version atomically.
    * That is the changelog's one layout: `tbl=*` partition dirs directly
    * under `log/` (the flat pre-versioned layout) are refused by every
    * read and write, naming the dir — reading past them would serve a
    * log missing those rows, and the next append would start a version
    * beside them.
    */
  private def currentDir: Option[java.io.File] = {
    val flat = Option(new java.io.File(logRoot).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(d => d.isDirectory && d.getName.startsWith("tbl="))
    if (flat.nonEmpty) throw new IllegalStateException(
      s"CDC history changelog at $logRoot holds flat pre-versioned " +
        s"partition dirs (${flat.map(_.getName).sorted.mkString(", ")}) — " +
        "move them under log/v0 and write 0 to log/_CURRENT, or replay " +
        "into a fresh history dir")
    VersionedStore.currentVersion(logRoot)
      .map(v => new java.io.File(logRoot, s"v$v"))
  }

  /** Append one batch of envelopes to the changelog. A sink ACTION (the
    * `foreachBatch` body); safe to re-run on replay — see class doc.
    */
  def append(envelopes: Dataset[MQEvent]): Unit = {
    val keyed = CdcKeyed.changes(envelopes, pkOf)
    val tgt = currentDir.getOrElse {
      val v0 = new java.io.File(logRoot, "v0")
      v0.mkdirs()
      VersionedStore.swapPointer(logRoot, 0L)
      v0
    }
    keyed.write.mode("append").partitionBy("tbl").parquet(tgt.toString)
  }

  /** The raw changelog as appended (redelivered duplicates included). */
  def changelog(spark: SparkSession): DataFrame = currentDir match {
    case Some(d) => spark.read.schema(CdcKeyed.schema).parquet(d.toString)
    case None =>
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], CdcKeyed.schema)
  }

  /** Compact the changelog's small files. Each micro-batch append leaves
    * one parquet file per touched partition, so a hot table accumulates a
    * file per batch forever — a day of 5-second batches is ~17 k tiny
    * files whose per-file open/footer cost (and at cluster scale, the
    * listing tax) comes to dominate every read. Rewrites ONLY partitions
    * holding more than `maxFiles` files — one shuffle whose input is just
    * those partitions' rows (partition-pruned scan), hash-clustered on
    * `tbl` so each rewritten partition lands as one file — hard-links
    * every other partition, and commits with the atomic pointer swap:
    * readers see the old or new version, never a torn state.
    *
    * Compaction preserves the log BYTE-FOR-BYTE as a multiset — including
    * duplicates appended by at-least-once redelivery. Deduplication is
    * the READ faces' contract ([[history]]/[[asOf]]); a compactor that
    * deduped would silently change what "replay the log" means.
    *
    * Single-writer contract (same as every table format's compaction
    * transaction): call from the loop that calls [[append]] — an append
    * racing the rewrite could land in the version being replaced.
    * Returns the number of partitions rewritten.
    */
  def compact(spark: SparkSession, maxFiles: Int = 4): Int =
    compact(spark, maxFiles, pruneKeep = 0)

  /** [[compact]] that also PRUNES old log versions after its pointer
    * swap (`pruneKeep` > 0 = keep the newest that many) — one call, one
    * version walk, for callers whose compact is the known-final
    * transaction (the folded-prune pattern of
    * [[CdcServingTable.merge]]).
    */
  def compact(spark: SparkSession, maxFiles: Int, pruneKeep: Int): Int = {
    val rewritten = currentDir match {
      case None => 0
      case Some(cur) =>
        // partition dir names carry Spark's path ESCAPING (space, '%', ':'
        // → %xx); the `tbl` column holds the raw value, so the dir name
        // must be unescaped before the isin filter or an escaped-name
        // table would never match — compact would then write an empty
        // version and leave the fat partition fat, forever
        val fat = Option(cur.listFiles()).getOrElse(Array.empty)
          .filter(d => d.isDirectory && d.getName.startsWith("tbl="))
          .filter(d => Option(d.listFiles()).getOrElse(Array.empty)
            .count(_.getName.endsWith(".parquet")) > maxFiles)
          .map(d => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(d.getName.stripPrefix("tbl=")))
        if (fat.isEmpty) 0
        else {
          val v = VersionedStore.currentVersion(logRoot).getOrElse(0L) + 1
          val next = new java.io.File(logRoot, s"v$v")
          spark.read.schema(CdcKeyed.schema).parquet(cur.toString)
            .filter(col("tbl").isin(fat.toIndexedSeq: _*))
            .repartition(col("tbl"))
            .write.mode("overwrite").partitionBy("tbl").parquet(next.toString)
          VersionedStore.linkUntouchedPartitions(cur, next)
          VersionedStore.swapPointer(logRoot, v)
          fat.length
        }
    }
    if (pruneKeep > 0) { VersionedStore.prune(logRoot, pruneKeep); () }
    rewritten
  }

  /** Drop changelog versions older than the newest `keep` — the GC pair
    * of [[compact]]; hard-linked carried files survive in newer versions.
    */
  def prune(keep: Int = 2): Unit = VersionedStore.prune(logRoot, keep)

  /** Full version ordering within a key — ver triple first, then the
    * deterministic tiebreaks.
    */
  private val verCols = Seq("ver_ts", "ver_seg", "ver_pos",
    "action", "after_json")

  /** The SCD2 view: one row per CHANGE with its validity interval.
    * `valid_from` = the change's event timestamp; `valid_to` = the next
    * change's (null while current); `is_current` = latest version and not
    * a tombstone. ONE shuffle on (tbl, pk); the redelivery dedup and the
    * interval `lead` share that window's sort.
    */
  def history(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("tbl"), col("pk"))
      .orderBy(verCols.map(col): _*)
    val ver = struct(verCols.map(col): _*)
    changelog(spark)
      // a redelivered event sorts adjacent to its original; drop the copy
      .withColumn("dup_of_prev", lag(ver, 1).over(w) === ver)
      .filter(!coalesce(col("dup_of_prev"), lit(false)))
      .withColumn("next_ts", lead(col("ver_ts"), 1).over(w))
      .select(col("tbl"), col("pk"),
        col("ver_ts"), col("ver_seg"), col("ver_pos"), col("action"),
        col("after_json"),
        col("ver_ts").as("valid_from"),
        col("next_ts").as("valid_to"),
        (col("next_ts").isNull && col("action") =!= "delete")
          .as("is_current"))
  }

  /** Time travel: the live row set as of `tsSec` (inclusive) — the latest
    * version per key at or before the cut, tombstones excluded. ONE
    * struct-max shuffle; idempotent under redelivered duplicates by
    * construction, so it reads the raw changelog directly.
    */
  def asOf(spark: SparkSession, tsSec: Long): DataFrame =
    changelog(spark)
      .filter(col("ver_ts") <= tsSec)
      .groupBy(col("tbl"), col("pk"))
      .agg(max(struct(verCols.map(col): _*)).as("v"))
      .filter(col("v.action") =!= "delete")
      .select(col("tbl"), col("pk"), col("v.ver_ts"), col("v.ver_pos"),
        col("v.after_json"))
}

object CdcHistoryTable {
  /** Current changelog version of a history dir (None before the first
    * append) — observability for compaction cadence tests/monitoring.
    */
  def currentLogVersion(dir: String): Option[Long] =
    VersionedStore.currentVersion(s"${dir.stripSuffix("/")}/log")
}
