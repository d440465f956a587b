package graft.analytics

import org.apache.spark.sql.functions.lit

import graft.SparkSpec

/** The unified bucketed artifacts size their bucket counts from
  * estimated bytes by default ([[Bucketing.indexBuckets]]: the 32 MB
  * index target with a parallelism FLOOR — with `autoBucketedScan`
  * disabled a bucketed scan runs one task per bucket, so a toy corpus
  * collapsing to 1 bucket would single-thread every probe of it
  * (measured 17-18 s/batch on the streaming containment face); a
  * corpus-scale build gets the power-of-two count its bytes ask for;
  * an explicit count still wins for layout-pinning specs. This retires
  * hand-tuned toy-scale bucket constants — the same class of defect as
  * the r12 serving-store finding.
  */
class BucketSizingSpec extends SparkSpec {

  test("sizedBuckets: power-of-two counts covering bytes at the target") {
    assert(Bucketing.sizedBuckets(0L) === 1)
    assert(Bucketing.sizedBuckets(1L) === 1)
    assert(Bucketing.sizedBuckets(256L << 20) === 1)
    assert(Bucketing.sizedBuckets((256L << 20) + 1) === 2)
    assert(Bucketing.sizedBuckets(5L * (256L << 20)) === 8)
    assert(Bucketing.sizedBuckets(1L << 40) === 4096)
    // explicit target (the serving store passes its own)
    assert(Bucketing.sizedBuckets(1000L, targetBytes = 100L) === 16)
    // maxBuckets clamp: a 100 TB estimate wants 524 288 buckets, but a
    // bucketBy table must stay under the session's bucketing.maxBuckets
    // (default 100 000) or saveAsTable throws AFTER the build compute —
    // the clamp keeps the largest power of two under the cap
    assert(Bucketing.sizedBuckets(100L << 40, maxBuckets = 100000) === 65536)
    assert(Bucketing.sizedBuckets(100L << 40) === 524288)
    assert(Bucketing.sessionMaxBuckets(spark) === 100000)
  }

  test("indexBuckets: parallelism floor below it, byte-sized above it") {
    val floor = Bucketing.indexBuckets(spark, 0L)
    val par = spark.sparkContext.defaultParallelism
    assert(floor >= par && (floor & (floor - 1)) === 0,
      s"floor $floor must be a power of two >= parallelism $par")
    assert(Bucketing.indexBuckets(spark, 1L) === floor)
    // 10 GiB at the 32 MiB index target = 320 -> 512 buckets
    assert(Bucketing.indexBuckets(spark, 10L << 30) === math.max(floor, 512))
  }

  test("auto-sized unified builds put a toy corpus at the parallelism " +
      "floor per table") {
    import spark.implicits._
    val docs = graft.GraftSession
      .table(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").filter($"doc_id" % 5 =!= 4)
    def numBuckets(idx: String, table: String): String = {
      // registration happens on load; the catalog name is deterministic
      // from the artifact dir + table + version
      spark.sql("DESCRIBE FORMATTED " +
          s"${IndexLayout.familyOf(idx)}_${table}_v0")
        .filter($"col_name" === "Num Buckets")
        .first().getString(1).trim
    }
    def tmp(p: String): String =
      java.nio.file.Files.createTempDirectory(p).toString
    val floor = Bucketing.indexBuckets(spark, 0L).toString
    val dIdx = tmp("sz-dedup")
    DedupIndex.build(spark, docs, dIdx)
    DedupIndex.load(spark, dIdx)
    val cIdx = tmp("sz-contain")
    ContainIndex.build(spark, docs, cIdx)
    ContainIndex.load(spark, cIdx)
    for ((idx, t) <- Seq(dIdx -> "bands", dIdx -> "signatures",
        cIdx -> "tokens", cIdx -> "prefix", cIdx -> "sets", cIdx -> "df"))
      assert(numBuckets(idx, t) === floor,
        s"$idx/$t: expected the $floor-bucket parallelism floor on the " +
          "toy corpus")
    // explicit count still wins
    val dIdx8 = tmp("sz-dedup8")
    DedupIndex.build(spark, docs, dIdx8, buckets = 8)
    DedupIndex.load(spark, dIdx8)
    assert(numBuckets(dIdx8, "bands") === "8")
    // empty corpus: the SRP auto-sizer reads dims from a first() —
    // zero rows must size to the floor, not throw
    val noVecs = graft.GraftSession
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select($"vec_id", $"embedding").filter(lit(false))
    val sIdx = tmp("sz-srp-empty")
    SrpIndex.build(spark, noVecs, sIdx)
    SrpIndex.load(spark, sIdx)
    assert(numBuckets(sIdx, "vectors") === floor)
  }
}
