package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED containment index — the artifact
  * [[DedupQueries.qDedupContainmentIncremental]]'s scaladoc names ("the
  * part a production deployment persists"): built once at corpus ingest,
  * probed by every delta with O(|delta| × df) compute.
  *
  * Four parquet tables inside each version (16-char shingle unit,
  * fragment floor n ≥ 20 applied at build):
  *   - `tokens` (hx, doc_id) — the full inverted index (new-in-old
  *     probes land here);
  *   - `prefix` (hx, doc_id) — each doc's ⌊n/10⌋+1 rarest tokens (~10 %
  *     of `tokens`; old-in-new probes land here — the reason this
  *     direction never scans corpus-sized state);
  *   - `sets`   (doc_id, hs, sz) — sorted hash sets for the exact
  *     merge-scan verify;
  *   - `df`     (hx, df) — corpus document frequencies, used to rank the
  *     DELTA's prefix tokens rarest-first at probe time.
  * Probe-time df is corpus-df (frozen at build; unseen delta tokens rank
  * rarest at df 0): the prefix pigeonhole is ORDER-INDEPENDENT (any
  * ⌊n/10⌋+1 distinct shingles of the contained doc witness containment),
  * so frozen df costs efficiency at worst, never recall —
  * `ContainIndexSpec` pins probe output equal to the in-session
  * incremental face, which ranks by live df.
  *
  * Versioning + idempotent probe-then-admit come from the
  * [[DurableIndex]] lifecycle, shared with [[DedupIndex]]:
  * a retried at-least-once admission is a no-op (duplicate `sets` rows
  * would double every pair the verify join emits), a crash mid-admission
  * leaves the previous version intact, and probes resolve every table
  * against one pointer read.
  *
  * LAYOUT (see [[DedupIndex]]'s class doc for the full design): the
  * four tables are [[IndexLayout]] external bucketed tables inside the
  * version dirs — `tokens`/`prefix`/`df` bucketBy the token hash `hx`
  * (this family's keys are single-column already, so no derived key is
  * needed), `sets` bucketBy `doc_id`. Probes read every corpus table in
  * place (only delta frames and candidates exchange —
  * `ContainIndexBucketedSpec`), micro probes BUCKET-PRUNE the postings
  * and df scans to the delta's token set, and admission/compaction
  * preserve the layout.
  */
object ContainIndex extends DurableIndex {

  protected val tables = Seq("tokens", "prefix", "sets", "df")
  val idColumn = "doc_id"
  protected val bucketKey = Map("tokens" -> "hx", "prefix" -> "hx",
    "sets" -> "doc_id", "df" -> "hx")
  // df (token → document frequency) has no doc-id column: a purge carries
  // it as a LINK — a deleted doc's contribution is an efficiency-only
  // drift by the prefix filter's order-independence, the same frozen-df
  // argument [[append]] rests on; re-freshen with a periodic [[build]]
  override protected val linkTables = Seq("df")
  // `sets` is the one-row-per-doc table
  protected val ratioTable = "sets"
  protected val l0Tables = Seq("tokens", "prefix")

  /** Distinct-token ceiling for [[append]]'s broadcast df-shrink: 4 M
    * 8-byte hashes ≈ 32 MB on the wire (plus the shrunk df rows they
    * key, the same order) — comfortably inside Spark's broadcast limits
    * with headroom, far past any micro-batch. Above it the shrink joins
    * shuffle instead of broadcasting.
    */
  private val MaxBroadcastTokens = 1L << 22

  private def shingled(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(expr(DedupQueries.containShingleExpr)).as("sh"))
      .distinct()
      .select(col("doc_id"), xxhash64(col("sh")).as("hx"))

  /** The (doc_id, sorted hash set, sz) frame of a shingle projection,
    * fragment floor n >= 20 applied — ONE definition (the containRanked
    * precedent) so the floor and the set encoding can never drift
    * between the artifact build, its admissions and the probes.
    */
  private def setsOf(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("hx"))).as("hs"))
      .withColumn("sz", size(col("hs")).cast("long"))
      .filter(col("sz") >= 20)

  /** Build (or fully REBUILD, re-freshening df) from a `(doc_id, text)`
    * corpus frame: byte-sized bucket counts unless `buckets` pins them,
    * full spec recorded in the artifact meta — see [[DedupIndex.build]].
    */
  def build(spark: SparkSession, docs: DataFrame, indexDir: String,
      buckets: Int = 0, manifestCarrier: Boolean = false): Unit = {
    val carrier = beginBuild(manifestCarrier)
    val sh = shingled(docs).persist()
    // the four tables in write order, ranked by the fresh corpus df:
    // postings tables are (hx, doc_id); df is (hx, df); sets is setsOf's
    // (doc_id, hs, sz)
    def frames(dfTable: DataFrame): Seq[(String, DataFrame)] = {
      val r = DedupQueries.containRanked(sh, dfTable)
      Seq("df" -> dfTable, "tokens" -> r.select(col("hx"), col("doc_id")),
        "prefix" -> DedupQueries.containPrefix(r)
          .select(col("hx"), col("doc_id")),
        "sets" -> setsOf(sh))
    }
    try {
      val dfFrame = sh.groupBy(col("hx")).agg(count(lit(1)).as("df"))
        .persist()
      try {
        // buckets = 0: per-table sizing from bytes (Bucketing
        // .indexBuckets — 32 MB index target, parallelism floor), counted
        // on the persisted frames the writes reuse. tokens = the full
        // posting list at ~16 B/row; prefix ≈ 1/10 of it; df = one row
        // per DISTINCT token; sets pack the same hashes as tokens at
        // ~8 B plus per-doc framing. Schema DDLs derive from the actual
        // frames (metadata-only) — a caller-supplied non-Long doc_id must
        // register as what the files really hold
        val shRows = if (buckets > 0) 0L else sh.count()
        val dfRows = if (buckets > 0) 0L else dfFrame.count()
        val bytes = Map("df" -> dfRows * 16L, "tokens" -> shRows * 16L,
          "prefix" -> shRows * 16L / 10, "sets" -> shRows * 9L)
        buildTables(indexDir, carrier,
          frames(dfFrame).map { case (t, d) =>
            (t, d, if (buckets > 0) buckets
              else Bucketing.indexBuckets(spark, bytes(t)))
          })
      } finally { dfFrame.unpersist(); () }
    } finally { sh.unpersist(); () }
  }

  /** ADMIT a delta (probe-then-admit lifecycle): true if admitted, false
    * if `deltaId` was already applied. The delta's prefixes are ranked
    * by the FROZEN corpus df (unseen tokens rarest) and df is NOT
    * rewritten — safe by the pigeonhole's order-independence, and
    * precisely what keeps admission O(|delta|): a df rewrite would be a
    * corpus-sized job on every ingest. Re-freshen df with a periodic
    * [[build]] when probe cost drifts.
    *
    * WRITE SHAPE — ADAPTIVE ([[IndexLayout.fanoutAppend]]): `tokens`/
    * `prefix` delta rows append at the bucket modulus while the table's
    * bucket count is at most [[IndexLayout.l0CutoverFactor]] ×
    * [[IndexLayout.AppendTasks]] (16 × 8 = 128 buckets by default), and
    * past that cutover land as L0 ACCRUAL, the standard LSM/lakehouse
    * trade: a fixed handful of UNBUCKETED parquet files under the table's
    * `_l0` subdir ([[IndexLayout.AppendTasks]] files each — underscore
    * dirs are invisible to the registered bucketed table, so the base
    * files' bucket contract holds). Fixture-sized artifacts
    * sit below the cutover and take the modulus path;
    * `spark.graft.index.l0.cutover` ≤ 0 forces L0 at any size. `sets`
    * always appends at the bucket modulus (its rows touch ≤ |delta|
    * buckets — already delta-bounded). Past the cutover the
    * per-admission file count is independent of the corpus's bucket
    * count, where a modulus append writes one file per touched bucket
    * per table (the admission bottleneck at a 100 TB deployment's
    * thousands of buckets). Probes read L0 as a separate delta-sized leg
    * unioned AFTER the base joins (base pruning intact — see
    * `probeRaw.overCorpus`); `compactBucketed` counts L0 toward the
    * accrual threshold and folds it into the buckets, so `compactEvery`
    * bounds the L0 leg's size.
    */
  def append(spark: SparkSession, docs: DataFrame, indexDir: String,
      deltaId: String): Boolean = {
    val art = artifact(indexDir)
    val meta = metaOf(indexDir)
    // frozen corpus df, carrier-aware: a manifest artifact's df is
    // partly (or wholly) carried references with no physical dir
    def corpusDfFrame(): DataFrame =
      if (art.isManifestCurrent)
        spark.read.parquet(
          art.snapshotLogical(Seq("df"), IndexTombstones.Table)
            .tableFiles("df").map(_._2.getAbsolutePath): _*)
      else spark.read.parquet(art.tablePath("df"))
    // rank against the DELTA-SHRUNK frozen df — the same trick the
    // micro probe uses (`probeRaw`'s dfForRank): containRanked's left
    // join cannot broadcast its preserved side, so handing it the full
    // df table exchange+sorts the corpus's token statistics on EVERY
    // admission — at the 100× rehearsal's 60 M-row (498 MB) df that was
    // 16.7 s per pass, twice per append (tokens + prefix both derive
    // from r). Shrinking first makes df STREAM once against the
    // broadcast token set; the shrunk frame is delta-bounded and itself
    // broadcastable. Semantically a no-op: the left join only ever
    // matches the delta's own tokens, and unseen tokens coalesce to
    // df 0 (rarest) either way.
    // The hints are GATED on the delta's distinct-token count: admission
    // deltas are micro-batches by contract, but append is also a public
    // batch API, and a large delta's token set (or the shrunk df it keys)
    // can exceed the broadcast/driver limit — past the gate both joins
    // fall back to shuffles, trading the per-admission speedup for an
    // admission that still completes. The count is one delta-sized job
    // against the caller-persisted shingle frame.
    def shrunk(sh: DataFrame): DataFrame = {
      val toks = sh.select(col("hx")).distinct()
      val corpusDf = corpusDfFrame()
      if (toks.count() <= MaxBroadcastTokens)
        broadcast(corpusDf.join(broadcast(toks), "hx"))
      else corpusDf.join(toks, "hx")
    }
    art.admit(deltaId, tables, { next =>
      val sh = shingled(docs).persist()
      try {
        // frozen corpus df, read as plain parquet from the snapshot path
        // (bucket metadata is a read-side catalog concern; the files are
        // ordinary parquet) — df itself is NOT rewritten. r is
        // DELTA-sized — persist it so tokens and prefix don't each re-pay
        // the df-rank scan (two corpus-df passes per admission,
        // 2 × 16.7 s at the 100× rehearsal's 60 M-row df)
        val r = DedupQueries.containRanked(sh, shrunk(sh))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          appendTable(indexDir, meta, next, "tokens",
            r.select(col("hx"), col("doc_id")))
          appendTable(indexDir, meta, next, "prefix",
            DedupQueries.containPrefix(r).select(col("hx"), col("doc_id")))
          appendTable(indexDir, meta, next, "sets", setsOf(sh))
        } finally { r.unpersist(); () }
      } finally { sh.unpersist(); () }
    })
  }

  /** The artifact's four tables resolved against ONE pointer read
    * ([[DurableIndex.load]]) — what the streaming containment-ingest
    * face loads once and persists, so every micro-batch probes memory
    * instead of re-reading corpus-sized postings from the lake.
    */
  final class Loaded private[ContainIndex] (r: DurableIndex.Resolved)
      extends DurableIndex.Frames(r) {
    def tokens: DataFrame = table("tokens")
    def prefix: DataFrame = table("prefix")
    def sets: DataFrame = table("sets")
    def df: DataFrame = table("df")
    private[graft] def l0Tokens: Option[DataFrame] = l0("tokens")
    private[graft] def l0Prefix: Option[DataFrame] = l0("prefix")
  }

  protected def loadedOf(r: DurableIndex.Resolved): Loaded = new Loaded(r)

  /** [[probe]] against pre-loaded (possibly persisted) artifact frames:
    * ordered containment pairs (id_a contained-in id_b, ≥ 0.9) with
    * exactly one side in the delta — both directions found by
    * delta-sized probes of the standing tables (delta prefixes ×
    * `tokens`, delta tokens × `prefix`). `id_a =!= id_b` keeps a
    * RE-probe (the at-least-once retry path) free of containment-1.0
    * self-pairs, same as every incremental face.
    *
    * `micro = true` declares `deltaDocs` a MICRO-BATCH (the streaming
    * ingest face, where admission control bounds the delta per trigger):
    * delta-derived sides broadcast into every corpus join, so the cached
    * corpus tables STREAM — no per-batch exchange or sort of
    * corpus-sized postings (the dominant per-batch term at 10× corpus,
    * measured in SCALE.md). Batch probes keep the default: a daily
    * delta is not broadcast-bounded.
    *
    * An UNCACHED micro probe goes further
    * ([[DedupIndex.probeLoaded]]'s three-regime design — a CACHED one,
    * the steady state whenever the artifact fits the cluster's storage
    * budget, takes the broadcast-delta plan below over the
    * InMemoryRelations): the delta's distinct token hashes collect
    * (CAPPED — see [[microCandidateFrames]]) and BUCKET-PRUNE the
    * `tokens`/`prefix`/`df` scans where the key count clears the
    * table's bucket count; the per-direction candidate pairs then
    * localize and the corpus `sets` scans bucket-prune to the candidate
    * ids. Eager through candidate generation; batch probes stay fully
    * lazy.
    */
  def probeLoaded(loaded: Loaded, deltaDocs: DataFrame,
      micro: Boolean): DataFrame =
    IndexTombstones.filterPairs(
      probeRaw(loaded, deltaDocs, micro), loaded.tombstones, "id_a", "id_b")

  private def probeRaw(loaded: Loaded, deltaDocs: DataFrame,
      micro: Boolean): DataFrame = {
    val spark = deltaDocs.sparkSession
    graft.functions.VectorFunctions.register(spark)
    // no persist — see DedupIndex.probeLoaded: a lazy return plus an
    // un-released cache entry per daily probe is a session-length leak
    val sh = shingled(deltaDocs)
    val deltaSets = setsOf(sh)
    val corpusSets = loaded.sets
    if (micro && !IndexLayout.isCached(loaded.tokens)) {
      // TWO eager candidate jobs (one per direction, each reading its
      // corpus posting table once — pruned where the delta's key count
      // clears the table's bucket count), candidates localized, corpus
      // `sets` scans bucket-pruned per direction to the candidate ids.
      // The delta's shingle frame persists for the eager window (the hx
      // limit-collect plus both candidate collects would otherwise each
      // re-derive it) and releases before the lazy return — the verify
      // pays ONE delta-sized recompute at the sink, same contract as
      // every micro face. Split verify as below: each side unique by
      // construction, the final distinct collapses the one overlap a
      // RE-probe can produce.
      import spark.implicits._
      val setsN = loaded.buckets.getOrElse("sets", Int.MaxValue)
      val shP = sh.persist()
      val (n2o, o2n) =
        try {
          val (n2oF, o2nF) = microCandidateFramesOf(loaded, shP)
          (n2oF.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq,
            o2nF.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
        } finally { shP.unpersist(); () }
      return DedupQueries.verifyContainmentSplit(deltaSets,
          IndexLayout.pruned(corpusSets, "doc_id", n2o.map(_._2).distinct,
            setsN),
          n2o.toDF("id_a", "id_b"), micro = true)
        .unionByName(DedupQueries.verifyContainmentSplit(
          IndexLayout.pruned(corpusSets, "doc_id", o2n.map(_._1).distinct,
            setsN),
          deltaSets, o2n.toDF("id_a", "id_b"), micro = true))
        .distinct()
    }
    // micro: containRanked's left join would exchange+sort the corpus df
    // table per batch (left-outer can't broadcast its preserved side);
    // shrink df to the delta's tokens first — corpus df STREAMS against
    // the broadcast token set, and the left join downstream is
    // delta×delta (unseen tokens still coalesce to df 0 = rarest)
    val dfForRank =
      if (micro)
        // outer broadcast: containRanked's LEFT join can then take this
        // delta-bounded frame as its broadcast build side too
        broadcast(loaded.df
          .join(broadcast(sh.select(col("hx")).distinct()), "hx"))
      else loaded.df
    val r = DedupQueries.containRanked(sh, dfForRank)
    def side(d: DataFrame): DataFrame = if (micro) broadcast(d) else d
    val deltaPrefix = DedupQueries.containPrefix(r)
      .select(col("hx"), col("doc_id"))
    val deltaTokens = r.select(col("hx"), col("doc_id"))
    // L0 leg: candidates join the bucketed BASE and the delta-sized L0
    // accrual SEPARATELY and union RESULTS — unioning the inputs would
    // erase the base table's bucket partitioning (and with it the
    // in-place batch joins and the micro probes' bucket pruning) for
    // the price of a few small files. A corpus doc's postings live
    // wholly in one leg (admissions append whole docs to L0; compaction
    // folds all of L0 at once), so the union introduces no cross-leg
    // duplicate pairs; the existing per-direction distincts are
    // unchanged either way.
    def overCorpus(base: DataFrame, l0: Option[DataFrame])(
        leg: DataFrame => DataFrame): DataFrame =
      l0.fold(leg(base))(d => leg(base).unionByName(leg(d)))
    val rawNewInOld = overCorpus(loaded.tokens, loaded.l0Tokens) { c =>
      side(deltaPrefix.withColumnRenamed("doc_id", "id_a"))
        .join(c.withColumnRenamed("doc_id", "id_b"), "hx")
        .where(col("id_a") =!= col("id_b"))
        .select(col("id_a"), col("id_b"))
    }
    val rawOldInNew = overCorpus(loaded.prefix, loaded.l0Prefix) { c =>
      c.withColumnRenamed("doc_id", "id_a")
        .join(side(deltaTokens.withColumnRenamed("doc_id", "id_b")), "hx")
        .where(col("id_a") =!= col("id_b"))
        .select(col("id_a"), col("id_b"))
    }
    if (micro)
      // split per direction, distinct per direction: each verify side is
      // unique by construction, so with the delta broadcast the corpus
      // sets STREAM twice from cache — cheap for a micro-batch, and the
      // only shape that keeps the whole plan exchange-free
      // (IngestMicroPlanSpec); the final distinct collapses the one
      // overlap a RE-probe can produce
      DedupQueries.verifyContainmentSplit(deltaSets, corpusSets,
          rawNewInOld.distinct(), micro = true)
        .unionByName(DedupQueries.verifyContainmentSplit(corpusSets,
          deltaSets, rawOldInNew.distinct(), micro = true))
        .distinct()
    else
      // batch shape: ONE corpus `sets` scan feeds BOTH verify
      // directions (r21 verdict #2 — the per-direction split read the
      // corpus-sized table twice). Direction-tagged candidates join the
      // delta sets first (delta-bounded), then the corpus table joins
      // LAST, in place (bucketed+sorted on doc_id — zero exchange, zero
      // sort on the corpus side, same contract as the split shape), with
      // the contained side's size dividing per direction. The delta
      // `sets` derivation also evaluates once instead of once per
      // direction. Each direction's candidates are unique by
      // construction; the final distinct collapses the one overlap a
      // RE-probe can produce, exactly as the split union's did.
      DedupQueries.verifyContainmentOneScan(corpusSets, deltaSets,
          rawNewInOld.distinct(), rawOldInNew.distinct())
        .distinct()
  }

  /** The uncached micro probe's two candidate frames (new-in-old,
    * old-in-new), LAZY — the plans that touch the corpus posting tables
    * per micro batch. The delta's distinct token hashes collect once
    * (prefixes ⊆ tokens, so ONE key set prunes all three hx-keyed
    * tables) and BUCKET-PRUNE the `df`/`tokens`/`prefix` scans; delta
    * sides broadcast. [[probeLoaded]] collects both; exposed so the plan
    * spec can assert the pruning on the frames themselves
    * (`ContainIndexBucketedSpec`).
    *
    * The key collect is CAPPED at one past the largest count any table
    * could use (a batch's token-hash volume is docs × shingles — ~200 k
    * for a 200-doc batch, far past toy bucket counts): `limit` bounds
    * the driver transfer, and an overflowed collect declines pruning for
    * every hx table rather than shipping a key set no table can use.
    */
  private[graft] def microCandidateFrames(loaded: Loaded,
      deltaDocs: DataFrame): (DataFrame, DataFrame) =
    microCandidateFramesOf(loaded, shingled(deltaDocs))

  /** [[microCandidateFrames]] over an already-shingled (possibly
    * persisted) delta frame — what [[probeLoaded]]'s eager window uses
    * so its three jobs share one shingle derivation.
    */
  private def microCandidateFramesOf(loaded: Loaded,
      sh: DataFrame): (DataFrame, DataFrame) = {
    val hxCap = math.min(IndexLayout.MicroPruneMaxKeys.toLong,
      IndexLayout.PruneKeysPerBucket.toLong * Seq("tokens", "prefix", "df")
        .map(loaded.buckets.getOrElse(_, Int.MaxValue)).max).toInt
    val hxRows = sh.select(col("hx")).distinct().limit(hxCap + 1)
      .collect()
    val deltaHx: Option[Seq[Long]] =
      if (hxRows.length > hxCap) None
      else Some(hxRows.map(_.getLong(0)).toSeq)
    def pruneHx(corpus: DataFrame, table: String): DataFrame =
      deltaHx.fold(corpus)(IndexLayout.pruned(corpus, "hx", _,
        loaded.buckets.getOrElse(table, Int.MaxValue)))
    // df shrink as in probeLoaded's micro dfForRank, on the PRUNED scan
    val dfForRank = broadcast(pruneHx(loaded.df, "df")
      .join(broadcast(sh.select(col("hx")).distinct()), "hx"))
    val r = DedupQueries.containRanked(sh, dfForRank)
    val deltaPrefix = DedupQueries.containPrefix(r)
      .select(col("hx"), col("doc_id"))
    val deltaTokens = r.select(col("hx"), col("doc_id"))
    // L0 leg per direction (see probeRaw's overCorpus): the base scan
    // keeps its INSET bucket pruning; the L0 files are delta-sized and
    // scan whole — the equi-join restricts them the same way
    def withL0(base: DataFrame, l0: Option[DataFrame])(
        leg: DataFrame => DataFrame): DataFrame =
      l0.fold(leg(base))(d => leg(base).unionByName(leg(d)))
    val n2o = withL0(pruneHx(loaded.tokens, "tokens"), loaded.l0Tokens) {
      c =>
        broadcast(deltaPrefix.withColumnRenamed("doc_id", "id_a"))
          .join(c.withColumnRenamed("doc_id", "id_b"), "hx")
          .where(col("id_a") =!= col("id_b"))
          .select(col("id_a"), col("id_b"))
    }.distinct()
    val o2n = withL0(pruneHx(loaded.prefix, "prefix"), loaded.l0Prefix) {
      c =>
        c.withColumnRenamed("doc_id", "id_a")
          .join(broadcast(deltaTokens.withColumnRenamed("doc_id", "id_b")),
            "hx")
          .where(col("id_a") =!= col("id_b"))
          .select(col("id_a"), col("id_b"))
    }.distinct()
    (n2o, o2n)
  }
}
