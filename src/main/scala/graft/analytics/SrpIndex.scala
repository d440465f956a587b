package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED banded-SRP (sign-LSH) index — the embedding counterpart of
  * [[DedupIndex]], completing the durable-artifact family for all three
  * incremental dedup faces (shingle jaccard, containment, embedding
  * cosine): build once at corpus embedding ingest, then every delta batch
  * probes the standing band table from disk with O(|delta| + matches)
  * compute and no corpus re-banding.
  *
  * Two tables inside each version:
  *   - `bands`   — the banded sign-bit bucket keys;
  *   - `vectors` (vec_id, v, nrm) — double vectors + norms for the exact
  *               cosine verify (the SRP collision is recall machinery;
  *               every emitted pair passes cos ≥ 0.46 exactly).
  *
  * The BAND SHAPE is a [[build]] parameter RECORDED IN THE ARTIFACT
  * (`_meta.txt`, carried through admit/compact): a probe must band its
  * delta with the exact shape the corpus was banded with — a mismatched
  * probe would equi-join band values from different hyperplane layouts
  * and emit noise — so [[probe]]/[[append]] read the shape from the
  * artifact, never from a caller argument. The default is the
  * CORPUS-SCALE [[DedupQueries.Srp.Wide]] (8 bands × 16 sign bits, 2¹⁶
  * values/band): bucket occupancy on near-orthogonal vectors stays
  * density-bound deep into corpus growth, where the 8×4 `Narrow` shape's
  * 2⁴ values/band degenerate to 16 giant buckets and quadratic candidate
  * volume (measured ×20.9 vs ×1.7 wall at 10× data — SCALE.md). The
  * oracled face builds with `Narrow` explicitly because its DuckDB
  * oracle replays that seeded pipeline.
  *
  * LAYOUT (see [[DedupIndex]]'s class doc for the full design):
  * `bands` = (bk, vec_id) with `bk = xxhash64(band, bits)` bucketBy bk,
  * `vectors` bucketBy vec_id, both as [[IndexLayout]] external tables
  * inside the version dirs. Probes read the corpus side in place (only
  * the delta exchanges — `SrpIndexBucketedSpec`), micro probes
  * bucket-prune the band scan to the delta's key set, and
  * admission/compaction preserve the layout. A bk collision can only
  * add a candidate the exact-cosine verify filters.
  *
  * Versioning + deltaId-idempotent probe-then-admit + compaction ride the
  * same [[DurableIndex]] lifecycle as the other two
  * indexes — one admission protocol, no drift. Probes filter
  * `id_a =!= id_b` so the at-least-once RE-probe of an admitted delta
  * cannot report cos-1.0 self-matches (`SrpIndexSpec`).
  */
object SrpIndex extends DurableIndex {

  protected val tables = Seq("vectors", "bands")
  val idColumn = "vec_id"
  protected val bucketKey = Map("vectors" -> "vec_id", "bands" -> "bk")
  protected val ratioTable = "vectors"
  protected val l0Tables = Seq("bands")

  /** The band shape the artifact was BUILT with — what every probe/admit
    * must replay.
    */
  private[analytics] def shapeOf(indexDir: String): DedupQueries.SrpShape =
    shapeOfMeta(metaOf(indexDir))

  private def shapeOfMeta(m: Map[String, String]): DedupQueries.SrpShape = {
    val (b, r) = (m("bands").toInt, m("rowsPerBand").toInt)
    DedupQueries.SrpShape(b * r, b, r)
  }

  /** The band projection: (bk, vec_id) with `bk = xxhash64(band, bits)`
    * — single-column join/bucket/prune key.
    */
  private def bandsOf(spark: SparkSession, v: DataFrame,
      shape: DedupQueries.SrpShape): DataFrame =
    DedupQueries.srpBandsOf(spark, v, shape)
      .select(xxhash64(col("band"), col("bits")).as("bk"), col("vec_id"))

  /** Build (or fully REBUILD) from a `(vec_id, embedding)` corpus frame.
    * `shape` is recorded in the artifact and rules every later
    * probe/admit; the default is the corpus-scale `Wide` banding (see
    * class doc for why `Narrow` cannot reach 100 TB). Bucket counts are
    * byte-sized unless `buckets` pins them, full spec recorded in the
    * artifact meta — see [[DedupIndex.build]].
    */
  def build(spark: SparkSession, vecs: DataFrame, indexDir: String,
      shape: DedupQueries.SrpShape = DedupQueries.Srp.Wide,
      buckets: Int = 0, manifestCarrier: Boolean = false): Unit = {
    val carrier = beginBuild(manifestCarrier)
    val shapeMeta = Map("bands" -> shape.bands.toString,
      "rowsPerBand" -> shape.rowsPerBand.toString)
    val v = DedupQueries.srpVectorsOf(spark, vecs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // buckets = 0: per-table sizing from bytes (Bucketing.indexBuckets
      // — 32 MB index target, parallelism floor) — the count rides the
      // persisted frame the writes reuse. Vector rows carry the double
      // array (dims × 8 B + norm); band rows are bands/vector at ~16 B
      // (bk, vec_id). rows == 0 guard: first() on an empty frame throws —
      // an empty corpus builds floor-count empty tables instead
      val rows = if (buckets > 0) 0L else v.count()
      val dims = if (buckets > 0 || rows == 0) 0
        else v.select(size(col("v"))).first().getInt(0)
      def n(bytes: Long): Int =
        if (buckets > 0) buckets else Bucketing.indexBuckets(spark, bytes)
      buildTables(indexDir, shapeMeta ++ carrier,
        Seq(("vectors", v, n(rows * (dims * 8L + 16L))),
          ("bands", bandsOf(spark, v, shape), n(rows * shape.bands * 16L))))
    } finally { v.unpersist(); () }
  }

  /** ADMIT a delta — see [[DurableIndex.append]]. Bands with the shape
    * the artifact records — never a caller choice. `vectors` appends at
    * the bucket modulus (vec_id-keyed
    * — ≤ |delta| touched buckets) and `bands` as L0 accrual
    * ([[IndexLayout.fanoutAppend]]) — a delta's |delta| × bands band
    * rows hash across ~every bucket.
    */
  def append(spark: SparkSession, vecs: DataFrame, indexDir: String,
      deltaId: String): Boolean = {
    val meta = metaOf(indexDir)
    val shape = shapeOfMeta(meta)
    artifact(indexDir).admit(deltaId, tables, { ver =>
      val v = DedupQueries.srpVectorsOf(spark, vecs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        appendTable(indexDir, meta, ver, "vectors", v)
        appendTable(indexDir, meta, ver, "bands", bandsOf(spark, v, shape))
      } finally { v.unpersist(); () }
    })
  }

  /** The artifact's tables + shape resolved against ONE pointer read
    * ([[DurableIndex.load]]) — what the streaming embedding-ingest face
    * loads once and persists; every delta MUST band with the corpus's
    * build shape.
    */
  final class Loaded private[SrpIndex] (r: DurableIndex.Resolved,
      private[graft] val shape: DedupQueries.SrpShape)
      extends DurableIndex.Frames(r) {
    def vectors: DataFrame = table("vectors")
    def bands: DataFrame = table("bands")
    private[graft] def l0Bands: Option[DataFrame] = l0("bands")
  }

  protected def loadedOf(r: DurableIndex.Resolved): Loaded =
    new Loaded(r, shapeOfMeta(r.meta))

  /** [[probe]] against pre-loaded (possibly persisted) artifact frames:
    * verified near-dup pairs (corpus_id, new_id, cos ≥ 0.46) between the
    * delta and the indexed corpus — delta bands equi-join the standing
    * band table, candidates verify by exact cosine against the standing
    * vector table.
    *
    * `micro = true` declares `deltaVecs` a MICRO-BATCH (the streaming
    * ingest face): delta bands and candidates broadcast into the corpus
    * joins, so the cached band/vector tables STREAM with zero per-batch
    * exchange — see [[ContainIndex.probeLoaded]]. Uncached, micro goes
    * further ([[DedupIndex.probeLoaded]]'s design):
    * the delta's band rows collect, the corpus band scan BUCKET-PRUNES
    * to their key set, the candidate pairs localize, and the verify's
    * corpus VECTOR scan bucket-prunes to the matched ids — every corpus
    * read in the batch is a pruned bucket read (`SelectedBucketsCount`
    * k out of n). Eager through candidate generation; batch probes stay
    * fully lazy.
    */
  def probeLoaded(loaded: Loaded, deltaVecs: DataFrame,
      micro: Boolean): DataFrame = {
    val spark = deltaVecs.sparkSession
    // no persist — lazy return; see DedupIndex.probeLoaded's leak note
    val deltaV = DedupQueries.srpVectorsOf(spark, deltaVecs)
    // id_a =!= id_b: re-probe of an admitted delta must not self-match
    val (cand, corpusVectors) =
      if (!micro || IndexLayout.isCached(loaded.bands)) {
        // batch probe, or the micro CACHED regime: lazy bk equi-join;
        // micro broadcasts the delta so the corpus side streams — see
        // DedupIndex.probeLoaded's three-regime design comment. L0 leg:
        // join base and accrual separately, union RESULTS (see
        // DedupIndex.probeLoaded — unioning the inputs would erase the
        // base table's bucket partitioning)
        val deltaBands = bandsOf(spark, deltaV, loaded.shape)
          .withColumnRenamed("vec_id", "id_b")
        val deltaSide = if (micro) broadcast(deltaBands) else deltaBands
        def leg(c: DataFrame): DataFrame =
          deltaSide.join(c.withColumnRenamed("vec_id", "id_a"), Seq("bk"))
            .where(col("id_a") =!= col("id_b"))
            .select(col("id_a"), col("id_b"))
        (loaded.l0Bands.fold(leg(loaded.bands))(d =>
          leg(loaded.bands).unionByName(leg(d))).distinct(),
          loaded.vectors)
      } else {
        // uncached micro: one eager candidate job (band scan pruned
        // where the key count clears the bucket count), candidates
        // localized, corpus vector scan pruned to matched ids — see
        // DedupIndex.probeLoaded's design comment
        import spark.implicits._
        val candRows = microCandidates(loaded, deltaV)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        (candRows.toDF("id_a", "id_b"),
          IndexLayout.pruned(loaded.vectors, "vec_id",
            candRows.map(_._1).distinct,
            loaded.buckets.getOrElse("vectors", Int.MaxValue)))
      }
    val withCorpus = (if (micro) broadcast(cand) else cand)
      .join(corpusVectors.select(col("vec_id").as("id_a"),
        col("v").as("av"), col("nrm").as("an")), Seq("id_a"))
    val pairs = (if (micro) broadcast(withCorpus) else withCorpus)
      .join(deltaV.select(col("vec_id").as("id_b"),
        col("v").as("bv"), col("nrm").as("bn")), Seq("id_b"))
      .select(col("id_a").as("corpus_id"), col("id_b").as("new_id"),
        (expr("graft_dot(av, bv)") / (col("an") * col("bn"))).as("cos"))
      .filter(col("cos") >= 0.46)
      .distinct()
    IndexTombstones.filterPairs(pairs, loaded.tombstones,
      "corpus_id", "new_id")
  }

  /** The uncached micro probe's candidate frame, LAZY — see
    * [[DedupIndex.microCandidates]]: delta band rows collected and
    * re-broadcast as a local relation, corpus band scan bucket-pruned to
    * their key set (`SrpIndexBucketedSpec` pins the shape).
    */
  private[graft] def microCandidates(loaded: Loaded,
      deltaV: DataFrame): DataFrame = {
    val spark = deltaV.sparkSession
    import spark.implicits._
    val deltaBandRows = bandsOf(spark, deltaV, loaded.shape)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val deltaSide = broadcast(deltaBandRows.toDF("bk", "id_b"))
    // L0 leg (see DedupIndex.microCandidates): the base scan keeps its
    // INSET bucket pruning; the L0 files are delta-sized and scan whole
    val base = IndexLayout.pruned(
      loaded.bands.withColumnRenamed("vec_id", "id_a"), "bk",
      deltaBandRows.map(_._1).distinct,
      loaded.buckets.getOrElse("bands", Int.MaxValue))
    def leg(c: DataFrame): DataFrame =
      deltaSide.join(c, Seq("bk"))
        .where(col("id_a") =!= col("id_b"))
        .select(col("id_a"), col("id_b"))
    loaded.l0Bands.fold(leg(base))(d =>
      leg(base).unionByName(leg(d.withColumnRenamed("vec_id", "id_a"))))
      .distinct()
  }
}
