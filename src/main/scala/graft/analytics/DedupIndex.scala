package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED MinHash-LSH index — the artifact every in-session dedup
  * scaladoc points at ("at 100 TB the corpus band table is the persisted
  * LSH index"): build once at corpus ingest, then every daily delta
  * probes it from disk without recomputing a single corpus signature.
  *
  * Two tables inside each version:
  *   - `bands`       — the banded bucket keys at the build-time
  *                   [[DedupIndex.Shape]] (recorded in the artifact;
  *                   corpus-scale 32×8/256 by default);
  *   - `signatures`  (doc_id, mhsig, hs, sz) — the per-doc sorted hash
  *                   sets the exact merge-scan verify reads.
  * Probing = the [[DedupQueries.qDedupIncremental]] plan with the corpus
  * side sourced from the artifact: delta signatures are computed
  * batch-locally ([[DedupQueries.signaturesOf]]), their band keys
  * equi-join the loaded band table, and candidates verify exactly against
  * the loaded signature sets — identical semantics to the in-session
  * index, spec-pinned (`DedupIndexSpec`).
  *
  * Versioning + idempotent probe-then-admit come from the shared
  * [[DurableIndex]] lifecycle over [[graft.streaming.VersionedArtifact]]
  * (atomic `_CURRENT` swap, deltaId-recorded admissions, single-writer
  * tripwire, hard-linked carry): a RETRIED at-least-once admission is a no-op — duplicated
  * SIGNATURE rows would make the verify join emit every matching pair
  * once per copy (band-key duplicates are absorbed by the candidate
  * distinct, signature duplicates are not) — and a crash mid-admission
  * leaves the pointer on the intact previous version.
  *
  * LAYOUT (the one every caller builds — the oracled incremental faces,
  * the streaming ingest trio, a 100 TB deployment's daily batch and
  * streaming face alike): `bands` = (bk, doc_id) with
  * `bk = xxhash64(band, sig)`, written as an external bucketed table
  * (bucketBy bk) inside the version dirs via [[IndexLayout]];
  * `signatures` bucketBy doc_id. Probes read the corpus side IN PLACE
  * (bucket HashPartitioning reported, only the delta exchanges —
  * `DedupIndexBucketedSpec` pins the plan), micro probes BUCKET-PRUNE
  * the band scan to the delta's key set, and admission/compaction keep
  * the layout (bucket ids ride file names, which hard links preserve;
  * appends land at the recorded modulus). The single-column bk key is
  * what makes pruning possible (Spark prunes single-column bucket specs
  * only); a bk collision can only ADD a candidate, which the exact
  * verify filters like any other non-pair — same contract as every LSH
  * candidate stage here.
  *
  * Staleness is the caller's contract, same as [[AnnIndex]]: [[build]]
  * rebuilds from scratch into a fresh version.
  */
object DedupIndex extends DurableIndex {

  /** A banded MinHash-LSH layout: `bands × rowsPerBand` over a
    * `slots`-wide signature (the registered kernels are 128- and
    * 256-slot; both draw from the SAME permutation stream, so a wider
    * signature extends a narrower one rather than reseeding it).
    *
    * The shape is the corpus-scale knob (SCALE.md "band-shape law"):
    * r=4 band values collide on background similarity as j₀⁴, r=8 as
    * j₀⁸ — measured ~400× fewer candidates at 50 k docs with identical
    * verified output. [[build]] RECORDS the shape in the artifact and
    * every probe/admit replays it; probing with a different shape than
    * the build would join band values from different slot ranges and
    * emit noise.
    */
  final case class Shape(bands: Int, rowsPerBand: Int, slots: Int) {
    require(bands * rowsPerBand <= slots,
      s"band shape $bands×$rowsPerBand exceeds the $slots-slot signature")
    require(slots == 128 || slots == 256,
      s"registered minhash kernels are 128/256-slot, got $slots")
  }

  object Shape {
    /** The oracle-matched 16×4/128 shape: recall-complete at j ≥ 0.8
      * (miss ≈ 4e-8 at the threshold), so the probe equals the EXACT
      * delta×corpus answer the DuckDB oracle computes. Candidate volume
      * grows as j₀⁴ — right at oracle scale, the quadratic direction at
      * corpus scale.
      */
    val Oracle: Shape = Shape(bands = 16, rowsPerBand = 4, slots = 128)

    /** The corpus-scale 32×8/256 default: 64-bit r=8 band values keep
      * noise collisions falling as j₀⁸ (measured ~400× fewer candidates
      * than r=4 at 50 k docs, identical verified output on this corpus —
      * `q_dedup_minhash256`'s calibration).
      */
    val Corpus: Shape = Shape(bands = 32, rowsPerBand = 8, slots = 256)
  }

  protected val tables = Seq("signatures", "bands")
  val idColumn = "doc_id"
  protected val bucketKey = Map("signatures" -> "doc_id", "bands" -> "bk")
  protected val ratioTable = "signatures"
  protected val l0Tables = Seq("bands")

  /** The shape the artifact was BUILT with — what every probe/admit must
    * replay.
    */
  def shapeOf(indexDir: String): Shape = shapeOfMeta(metaOf(indexDir))

  private def shapeOfMeta(m: Map[String, String]): Shape =
    Shape(m("bands").toInt, m("rowsPerBand").toInt, m("slots").toInt)

  /** The band projection: (bk, doc_id) with `bk = xxhash64(band, sig)` —
    * the single-column join/bucket/prune key (see class doc), 16 B/row.
    */
  private def bandFrame(per: DataFrame, shape: Shape): DataFrame = {
    val bandCols = DedupQueries.bandStructs(shape.bands,
      shape.rowsPerBand, shape.slots)
    per.select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("bs.band").as("band"), col("bs.sig").as("sig"),
        col("doc_id"))
      .select(xxhash64(col("band"), col("sig")).as("bk"), col("doc_id"))
  }

  /** Build (or fully REBUILD) the index from a `(doc_id, text)` corpus
    * frame — a fresh version with an empty admitted-delta set. `shape`
    * is recorded in the artifact and rules every later probe/admit; the
    * default is the corpus-scale [[Shape.Corpus]] banding (the oracled
    * face passes [[Shape.Oracle]] explicitly — recall-complete at its
    * oracle's exact j ≥ 0.8 answer).
    *
    * Bucket counts (class doc) are byte-sized
    * ([[Bucketing.sizedBuckets]], session-cap clamped) unless `buckets`
    * pins them (layout-pinning specs), and the full spec rides the
    * artifact meta so every admission, probe, and session replays it.
    * `manifestCarrier` picks the `_carry.txt` reference carry over hard
    * links for the artifact's life ([[DurableIndex.beginBuild]]).
    */
  def build(spark: SparkSession, docs: DataFrame, indexDir: String,
      shape: Shape = Shape.Corpus, buckets: Int = 0,
      manifestCarrier: Boolean = false): Unit = {
    val carrier = beginBuild(manifestCarrier)
    val shapeMeta = Map("bands" -> shape.bands.toString,
      "rowsPerBand" -> shape.rowsPerBand.toString,
      "slots" -> shape.slots.toString)
    // signaturesOf already carries (doc_id, mhsig, hs, sz)
    val per = DedupQueries.signaturesOf(docs, shape.slots).persist()
    try {
      // buckets = 0: size from bytes (Bucketing.indexBuckets — the 32 MB
      // index target with the parallelism floor) — the count rides the
      // persisted signature frame the writes reuse (never a second scan
      // of the source). Band rows are docs × bands at ~16 B (bk,
      // doc_id); signature rows carry the slots-wide signature plus the
      // distinct shingle hash set (~2 kB nominal).
      val rows = if (buckets > 0) 0L else per.count()
      def n(bytes: Long): Int =
        if (buckets > 0) buckets else Bucketing.indexBuckets(spark, bytes)
      buildTables(indexDir, shapeMeta ++ carrier,
        Seq(("signatures", per, n(rows * (shape.slots * 8L + 2048L))),
          ("bands", bandFrame(per, shape), n(rows * shape.bands * 16L))))
    } finally { per.unpersist(); () }
  }

  /** ADMIT a delta — see [[DurableIndex.append]]. Signatures and bands
    * at the shape the artifact records — never a caller choice.
    * `signatures` appends at the bucket modulus
    * (doc_id-keyed — a delta's rows touch ≤ |delta| buckets) and `bands`
    * lands as L0 accrual ([[IndexLayout.fanoutAppend]]) — a delta's
    * |delta| × bands band rows hash across ~EVERY bucket, so the modulus
    * append wrote one file per bucket per admission, the fan-out that
    * scales with the corpus's bucket count instead of the batch.
    */
  def append(spark: SparkSession, docs: DataFrame, indexDir: String,
      deltaId: String): Boolean = {
    val meta = metaOf(indexDir)
    val shape = shapeOfMeta(meta)
    artifact(indexDir).admit(deltaId, tables, { ver =>
      val per = DedupQueries.signaturesOf(docs, shape.slots).persist()
      try {
        appendTable(indexDir, meta, ver, "signatures", per)
        appendTable(indexDir, meta, ver, "bands", bandFrame(per, shape))
      } finally { per.unpersist(); () }
    })
  }

  /** The artifact's tables + shape resolved against ONE pointer read
    * ([[DurableIndex.load]]) — what the streaming text-ingest face loads
    * once and persists.
    */
  final class Loaded private[DedupIndex] (r: DurableIndex.Resolved,
      val shape: Shape) extends DurableIndex.Frames(r) {
    def signatures: DataFrame = table("signatures")
    def bands: DataFrame = table("bands")
    private[graft] def l0Bands: Option[DataFrame] = l0("bands")
  }

  protected def loadedOf(r: DurableIndex.Resolved): Loaded =
    new Loaded(r, shapeOfMeta(r.meta))

  /** [[probe]] against pre-loaded (possibly persisted) artifact frames.
    *
    * `micro = true` declares `deltaDocs` a MICRO-BATCH (the streaming
    * ingest face): delta bands and candidates broadcast into the corpus
    * joins, so the corpus band/signature tables STREAM with zero
    * per-batch exchange — see [[ContainIndex.probeLoaded]]. The
    * corpus-side READ picks one of three regimes
    * (the r15 design — each measured in SCALE.md):
    *
    *   1. CACHED — the frames are persisted ([[IndexLayout.isCached]];
    *      the streaming face persists them whenever the artifact fits
    *      the cluster's storage budget, see `IngestDedup`): the lazy
    *      broadcast-delta plan streams the InMemoryRelation, nothing
    *      read from the lake. The steady state below cache scale.
    *   2. UNCACHED, PRUNABLE (the 100 TB regime: the artifact outgrew
    *      memory, and the byte-sized bucket counts dwarf the delta's
    *      key set): eager through candidate generation — the delta's
    *      band rows collect (|batch| × bands, admission-bounded), the
    *      corpus band scan BUCKET-PRUNES to their key set, candidates
    *      localize, and the verify's corpus signature scan prunes to
    *      the matched ids — every corpus read a pruned bucket read
    *      (`SelectedBucketsCount` k out of n), nothing corpus-sized.
    *   3. UNCACHED, UNPRUNABLE (keys ≥ bucket count — toy-scale tables
    *      or oversized batches): [[IndexLayout.pruned]] declines the
    *      INSET per table, leaving the same eager plan over parallel
    *      full bucketed scans — the honest fallback; the verify side
    *      still prunes to candidate ids (always a small set).
    *
    * Batch probes (`micro = false`) stay fully lazy.
    */
  def probeLoaded(loaded: Loaded, deltaDocs: DataFrame,
      micro: Boolean): DataFrame = {
    val spark = deltaDocs.sparkSession
    graft.functions.VectorFunctions.register(spark)
    val shape = loaded.shape
    // no persist: the probe returns a LAZY frame, and a persist here with
    // no unpersist would pin a cache entry per daily probe for the life
    // of the ingest session; the delta-sized recompute across the frame's
    // few consumers is cheaper than that leak
    val deltaPer = DedupQueries.signaturesOf(deltaDocs, shape.slots)
    // id_a =!= id_b: a RE-probe after admission (the at-least-once retry
    // the deltaId-idempotent admit exists for) would otherwise match every
    // delta doc against its own admitted copy at jaccard 1.0 and report
    // the whole retried delta as corpus duplicates — a keeper policy
    // downstream would then drop it. Batch faces filter the same way.
    val (cand, corpusSigs) =
      if (!micro || IndexLayout.isCached(loaded.bands)) {
        // batch probe, or the micro CACHED regime (1): lazy bk
        // equi-join; micro broadcasts the delta so the corpus side
        // (bucketed scan or InMemoryRelation) streams exchange-free.
        // L0 leg: join the bucketed BASE and the delta-sized L0 accrual
        // SEPARATELY and union RESULTS — unioning the inputs would
        // erase the base table's bucket partitioning (see
        // ContainIndex.probeRaw's overCorpus); a corpus doc's band rows
        // live wholly in one leg (admissions land whole in L0,
        // compaction folds all of L0 at once), and the distinct after
        // the union collapses duplicates either way
        val deltaBands = bandFrame(deltaPer, shape)
          .withColumnRenamed("doc_id", "id_b")
        val deltaSide = if (micro) broadcast(deltaBands) else deltaBands
        def leg(c: DataFrame): DataFrame =
          deltaSide.join(c.withColumnRenamed("doc_id", "id_a"), Seq("bk"))
            .where(col("id_a") =!= col("id_b"))
            .select(col("id_a"), col("id_b"))
        (loaded.l0Bands.fold(leg(loaded.bands))(d =>
          leg(loaded.bands).unionByName(leg(d))).distinct(),
          loaded.signatures)
      } else {
        // uncached micro, regimes (2)/(3): ONE eager candidate job
        // ([[microCandidates]] — corpus band read pruned where the key
        // count clears the table's bucket count, full parallel scan
        // where it doesn't), then the candidate pairs LOCALIZE (they
        // are the broadcast size class already) so the verify's corpus
        // signature scan can bucket-prune to the matched ids.
        import spark.implicits._
        val candRows = microCandidates(loaded, deltaPer)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        (candRows.toDF("id_a", "id_b"),
          IndexLayout.pruned(loaded.signatures, "doc_id",
            candRows.map(_._1).distinct,
            loaded.buckets.getOrElse("signatures", Int.MaxValue)))
      }
    IndexTombstones.filterPairs(
      DedupQueries.verifyJaccardSplit(corpusSigs, deltaPer, cand, 0.8,
          micro)
        .select(col("id_a").as("corpus_id"), col("id_b").as("new_id"),
          col("jaccard")),
      loaded.tombstones, "corpus_id", "new_id")
  }

  /** The uncached micro probe's candidate frame, LAZY — the one plan
    * that touches the corpus band table per micro batch: the delta's
    * band rows collect (|batch| × bands — admission-bounded by the
    * stream's contract) and come back as a broadcast local relation, and
    * the corpus band scan BUCKET-PRUNES to their key set
    * (`SelectedBucketsCount` k out of n; `DedupIndexBucketedSpec` pins
    * the shape). [[probeLoaded]] collects it; exposed so the plan spec
    * can assert the pruning on the frame itself.
    */
  private[graft] def microCandidates(loaded: Loaded,
      deltaPer: DataFrame): DataFrame = {
    val spark = deltaPer.sparkSession
    import spark.implicits._
    val deltaBandRows = bandFrame(deltaPer, loaded.shape)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val deltaSide = broadcast(deltaBandRows.toDF("bk", "id_b"))
    // L0 leg (see probeLoaded): the base scan keeps its INSET bucket
    // pruning; the L0 files are delta-sized and scan whole — the
    // equi-join restricts them the same way
    val base = IndexLayout.pruned(
      loaded.bands.withColumnRenamed("doc_id", "id_a"), "bk",
      deltaBandRows.map(_._1).distinct,
      loaded.buckets.getOrElse("bands", Int.MaxValue))
    def leg(c: DataFrame): DataFrame =
      deltaSide.join(c, Seq("bk"))
        .where(col("id_a") =!= col("id_b"))
        .select(col("id_a"), col("id_b"))
    loaded.l0Bands.fold(leg(base))(d =>
      leg(base).unionByName(leg(d.withColumnRenamed("doc_id", "id_a"))))
      .distinct()
  }
}
