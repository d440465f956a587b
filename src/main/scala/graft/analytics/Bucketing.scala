package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed-table helpers: pre-shuffle fact tables ONCE at write time so
  * every later equi-join / aggregation on the bucket key runs with no
  * exchange at all.
  *
  * The 100 TB arithmetic: a fact-to-fact join shuffles both inputs every
  * query (2 × table size of network per run); bucketing pays one shuffle
  * at ingest and amortizes it over every downstream query. Bucket count
  * should target ~128–512 MB per bucket file at the production scale; the
  * sort column keeps each bucket file merge-join-ready.
  */
object Bucketing {

  /** ~256 MB per bucket — the serving store's default, reused by the
    * durable-index bucketed builders.
    */
  val DefaultTargetBucketBytes: Long = 256L << 20

  /** Smallest power-of-two bucket count covering `estimatedBytes` at
    * `targetBytes` per bucket, min 1 — ONE definition shared by the
    * serving store (`CdcServingTable`, which passes its own cap: its
    * buckets are directory partitions, not `bucketBy` tables) and the
    * index builders. Builders estimate bytes as rows × nominal row width
    * (uncompressed — conservative: compression only makes buckets
    * smaller than target, never bigger); an index build is a full
    * rewrite, so a drifted estimate self-corrects at the next build and
    * no resize hysteresis is needed.
    *
    * `maxBuckets` clamps the result (largest power of two ≤ the cap):
    * `bucketBy` tables must respect the session's
    * `spark.sql.sources.bucketing.maxBuckets` (default 100 000) or
    * `saveAsTable` throws AFTER the expensive build compute — callers
    * writing managed tables pass [[sessionMaxBuckets]].
    */
  def sizedBuckets(estimatedBytes: Long,
      targetBytes: Long = DefaultTargetBucketBytes,
      maxBuckets: Int = 1 << 20): Int = {
    val raw = math.max(1L, (estimatedBytes + targetBytes - 1) / targetBytes)
    var n = 1
    // the unconditional 1<<20 bound is load-bearing beyond sanity: it
    // keeps (n << 1) far from Int overflow for ANY caller-passed cap (a
    // session cap > 2^30 would otherwise shift n to negative/zero and
    // never terminate)
    while (n < raw && n < (1 << 20) && (n << 1) <= maxBuckets) n <<= 1
    n
  }

  /** The session's `bucketBy` bucket-count ceiling. */
  def sessionMaxBuckets(spark: SparkSession): Int =
    spark.conf.get("spark.sql.sources.bucketing.maxBuckets", "100000").toInt

  /** ~32 MB per bucket for INDEX artifacts (vs the serving store's
    * 256 MB): an index table's bucket is a PROBE unit, not a merge
    * unit — more, smaller buckets buy scan parallelism (with
    * `autoBucketedScan` disabled a bucketed scan runs one task per
    * bucket) and bucket-prune granularity (a micro batch's key set
    * skips the buckets it can't touch), while the serving store sizes
    * for rewrite amortization.
    */
  val IndexTargetBucketBytes: Long = 32L << 20

  /** Bucket count for one index-artifact table: byte-sized at the index
    * target, FLOORED at the session's default parallelism (power of
    * two) — a small table collapsing to 1 bucket would make every probe
    * of it a single-task scan (measured: the streaming containment
    * face's per-batch posting scans ran one core and the steady median
    * read 17-18 s at BOTH 1x and 10x corpus; the floor restores the
    * r13 parallel numbers), capped at the session `bucketBy` maximum.
    */
  def indexBuckets(spark: SparkSession, estimatedBytes: Long): Int = {
    val cap = sessionMaxBuckets(spark)
    val floor = sizedBuckets(
      spark.sparkContext.defaultParallelism.toLong * IndexTargetBucketBytes,
      IndexTargetBucketBytes, maxBuckets = cap)
    math.max(floor,
      sizedBuckets(estimatedBytes, IndexTargetBucketBytes, maxBuckets = cap))
  }

  /** Write `df` as a managed parquet table bucketed (and sorted) by `key`. */
  def writeBucketed(
      df: DataFrame,
      tableName: String,
      key: String,
      numBuckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .saveAsTable(tableName)

  /** Join two tables previously bucketed on the same key with the same
    * bucket count — planner elides both shuffles (and with sorted buckets,
    * both sorts) of the sort-merge join.
    */
  def bucketedJoin(
      spark: SparkSession,
      leftTable: String,
      rightTable: String,
      key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)

  /** Write `df` hive-partitioned by `col` — the OTHER ingest-time layout
    * lever: bucketing elides the JOIN shuffle, directory partitioning
    * elides the SCAN. A reader filtering on the partition column touches
    * only the matching directories (partition PRUNING — `PartitionFilters`
    * in the scan node), so a day/tenant-scoped query over a 100 TB table
    * reads that day's files, not 100 TB. Choose a column whose
    * cardinality keeps files ≥ ~128 MB (date/tenant/event_type — never a
    * high-cardinality key, which degenerates into millions of tiny files
    * and a metadata-bound driver).
    */
  def writePartitioned(df: DataFrame, path: String, col: String): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .partitionBy(col)
      .save(path)

  /** Morton (Z-order) interleave of the low `bits` bits of two
    * non-negative integer columns — bit i of `a` lands at position 2i,
    * bit i of `b` at 2i+1. Pure codegen'd shift/mask arithmetic (no UDF).
    */
  def zOrderValue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).flatMap { i =>
      Seq(
        shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Write `df` clustered on the Z-ORDER curve of two columns — the layout
    * lever for MULTI-dimension data skipping. Sorting on one column makes
    * that column's per-file min/max ranges tiny but leaves the other
    * column's ranges spanning the whole domain (zero skipping); ordering
    * on the interleaved curve makes per-file ranges narrow in BOTH
    * dimensions (~√(1/files) of each domain), so parquet min/max stats
    * prune files for predicates on EITHER column. This is how lakehouse
    * tables serve "filter by date AND by tenant" over 100 TB without two
    * copies of the data.
    *
    * `repartitionByRange` on the curve value samples the input (one
    * ingest-time pass — an index-build action, amortized over every
    * downstream scan) and yields non-overlapping contiguous curve ranges
    * per file; the within-partition sort keeps row groups curve-local so
    * row-group-level stats prune too.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      bits: Int, numFiles: Int): Unit = {
    // guard the domain: zOrderValue interleaves only the low `bits` bits,
    // so values ≥ 2^bits (or negative) would silently collapse distinct
    // keys onto the same curve position and void the clustering this
    // write exists to produce. One cheap aggregate over data that is
    // about to be fully rewritten anyway.
    val bounds = df
      .agg(min(col(colA)), max(col(colA)), min(col(colB)), max(col(colB)))
      .collect().head
    // an empty (or all-null) input yields null aggregates — fail with a
    // clear message instead of an NPE from the Number cast
    require((0 until 4).forall(!bounds.isNullAt(_)),
      s"writeZOrdered: empty input (no non-null $colA/$colB rows) — " +
        "nothing to cluster")
    val Array(loA, hiA, loB, hiB) =
      bounds.toSeq.map(v => v.asInstanceOf[Number].longValue).toArray
    val cap = 1L << bits
    require(loA >= 0 && loB >= 0 && hiA < cap && hiB < cap,
      s"z-order domain [$loA,$hiA]×[$loB,$hiB] must fit in [0, 2^$bits); " +
        "raise `bits` or pre-rank the columns")
    df.withColumn("__z", zOrderValue(col(colA), col(colB), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .save(path)
  }

  /** Compact a directory of small parquet files into ~`targetBytes`
    * files — the ingest-ops lever against the "millions of tiny files"
    * failure mode: streaming micro-batches and over-parallel writers leave
    * a 100 TB table as KB-sized files whose open/footer/seek costs
    * dominate every scan and whose count alone stalls driver-side
    * planning. File count is sized from the ON-DISK byte total (one
    * metadata listing, no data read), the rewrite is one narrow
    * round-robin repartition, and the output lands in `outPath` — an
    * atomic swap (rename) is the caller's final step, so readers never
    * see a half-compacted table. Returns the output file count.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(inPath)
    val fs = p.getFileSystem(conf)
    // recursive listing: a hive-partitioned layout keeps its data files in
    // date=…/tenant=… subdirectories — a top-level listing would count 0
    // bytes and funnel the whole table through one task. (Compact one
    // PARTITION directory at a time on partitioned tables regardless:
    // spark.read of the root would flatten the partition columns into the
    // rewritten files.)
    var totalBytes = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) totalBytes += f.getLen
    }
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    spark.read.parquet(inPath)
      .repartition(nFiles)
      .write.mode(SaveMode.Overwrite).format("parquet").save(outPath)
    nFiles
  }

  /** Per-file (min, max) spread of a column over a written layout,
    * normalized by the global domain — the data-skipping figure of merit
    * (average fraction of the domain a file's stats range covers; what a
    * min/max-pruning reader must read for a uniform point predicate).
    */
  def fileCoverage(spark: SparkSession, path: String, colName: String): Double = {
    val per = spark.read.parquet(path)
      .select(col(colName).cast("double").as("x"),
        input_file_name().as("f"))
      .groupBy(col("f"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
    // global domain from the per-file aggregate already in hand (global
    // min = min of file mins) — no second scan of the data
    val lo = per.map(_.getDouble(1)).min
    val hi = per.map(_.getDouble(2)).max
    val span = math.max(hi - lo, 1e-12)
    per.map(r => (r.getDouble(2) - r.getDouble(1)) / span).sum / per.length
  }
}
