package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted SRP-index contract — same shape as `DedupIndexSpec`:
  * probing the durable artifact equals the in-session incremental face,
  * admitted deltas become corpus, and an at-least-once re-probe of an
  * admitted delta reports no self-pairs.
  */
class SrpIndexSpec extends SparkSpec with org.scalatest.BeforeAndAfterEach {

  // These tests pin the L0-accrual admission SHAPE, which the adaptive
  // cutover (IndexLayout.fanoutAppend) only selects past ~128 buckets —
  // force it so fixture-sized artifacts admit through L0 regardless
  override def beforeEach(): Unit = {
    super.beforeEach()
    spark.conf.set("spark.graft.index.l0.cutover", "0")
  }
  override def afterEach(): Unit = {
    spark.conf.unset("spark.graft.index.l0.cutover")
    super.afterEach()
  }


  private val dir = "/root/testdata/sf0.001"

  private def vecs = {
    import spark.implicits._
    graft.GraftSession.table(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
  }

  test("probe(artifact, delta) equals the in-session incremental answer " +
      "(oracle-matched Narrow shape)") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-srp-idx")
      .toString
    SrpIndex.build(spark, vecs.filter($"vec_id" % 5 =!= 4), idx,
      DedupQueries.Srp.Narrow)
    val fromDisk = SrpIndex
      .probe(spark, idx, vecs.filter($"vec_id" % 5 === 4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inSession = DedupQueries.embeddingIncrementalInSession(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inSession.nonEmpty, "sf0.001 must contain cross-split pairs")
    assert(fromDisk === inSession)
  }

  test("default build is the corpus-scale Wide shape, RECORDED in the " +
      "artifact and replayed by probe at pair parity; shape survives " +
      "admit and compact") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-srp-wide")
      .toString
    SrpIndex.build(spark, vecs.filter($"vec_id" % 5 =!= 4), idx)
    assert(SrpIndex.shapeOf(idx) === DedupQueries.Srp.Wide,
      "production default must be the corpus-scale shape")
    // pair parity with the in-session Wide face: the probe must band its
    // delta with the shape the artifact RECORDS (a Narrow-banded probe
    // against Wide-banded corpus bands would join values from different
    // plane layouts and emit noise)
    val fromDisk = SrpIndex
      .probe(spark, idx, vecs.filter($"vec_id" % 5 === 4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inSession = DedupQueries
      .embeddingIncrementalInSession(spark, dir, DedupQueries.Srp.Wide)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromDisk === inSession,
      "Wide-built artifact probe diverged from the in-session Wide face")
    // shape survives the lifecycle: admit + compact carry _meta.txt
    assert(SrpIndex.append(spark, vecs.filter($"vec_id" % 5 === 4), idx,
      "day1"))
    assert(SrpIndex.shapeOf(idx) === DedupQueries.Srp.Wide,
      "admit dropped the recorded band shape")
    SrpIndex.compact(spark, idx, maxFiles = 1)
    assert(SrpIndex.shapeOf(idx) === DedupQueries.Srp.Wide,
      "compact dropped the recorded band shape")
  }

  test("probe-then-admit: an admitted delta becomes corpus; re-probe has " +
      "no self-pairs") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-srp-idx2")
      .toString
    SrpIndex.build(spark, vecs.filter($"vec_id" % 5 < 3), idx)
    val day1 = vecs.filter($"vec_id" % 5 === 3)
    val day2 = vecs.filter($"vec_id" % 5 === 4)
    val before = SrpIndex.probe(spark, idx, day2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(SrpIndex.append(spark, day1, idx, "day1"))
    val after = SrpIndex.probe(spark, idx, day2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before.subsetOf(after), "admit lost previously-findable pairs")
    // idempotent retry
    assert(!SrpIndex.append(spark, day1, idx, "day1"))
    assert(SrpIndex.appliedDeltas(idx) === Set("day1"))
    // re-probe the admitted day1: its own copies must not self-match
    val again = SrpIndex.probe(spark, idx, day1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(again.forall(p => p._1 != p._2),
      "re-probe emitted self-pairs for already-admitted vectors")
  }

  test("compact: L0 accrual consumed to the per-bucket floor, probe " +
      "multiset and deltas unchanged") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-srp-idx3")
      .toString
    SrpIndex.build(spark, vecs.filter($"vec_id" % 5 < 3), idx)
    assert(SrpIndex.append(spark, vecs.filter($"vec_id" % 5 === 3), idx,
      "day1"))
    assert(SrpIndex.append(spark,
      vecs.filter($"vec_id" % 5 === 3)
        .select(($"vec_id" + 500000L).as("vec_id"), $"embedding"),
      idx, "day2"))
    val delta = vecs.filter($"vec_id" % 5 === 4)
    val before = SrpIndex.probe(spark, idx, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted
    def files(t: String): Int =
      new java.io.File(SrpIndex.tablePath(idx, t)).listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    def l0Files(t: String): Int =
      Option(new java.io.File(new java.io.File(SrpIndex.tablePath(idx, t)),
        "_l0").listFiles()).getOrElse(Array.empty)
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    // band admissions land as L0 accrual (IndexL0Spec pins the shape);
    // the fold must CONSUME it into the bucketed base and land at the
    // documented ≤ 2-files-per-bucket floor (base + merged accrual)
    assert(l0Files("bands") > 0,
      "admissions must land band rows as L0 accrual")
    assert(SrpIndex.compact(spark, idx, maxFiles = 1) > 0)
    assert(l0Files("bands") === 0,
      "compaction must consume the bands L0 accrual")
    val bandBuckets = SrpIndex.load(spark, idx).buckets("bands")
    assert(files("bands") <= 2 * bandBuckets,
      s"bands past the 2-files/bucket floor: ${files("bands")} files, " +
        s"$bandBuckets buckets")
    val after = SrpIndex.probe(spark, idx, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted
    assert(after === before, "compaction changed the probe multiset")
    assert(SrpIndex.appliedDeltas(idx) === Set("day1", "day2"))
  }
}
