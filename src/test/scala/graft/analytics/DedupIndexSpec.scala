package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted-LSH-index contract: probing the on-disk artifact with a
  * delta must produce EXACTLY the pairs the in-session incremental query
  * finds — the artifact is the same index, just durable.
  */
class DedupIndexSpec extends SparkSpec with org.scalatest.BeforeAndAfterEach {

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

  test("probe(artifact, delta) equals the in-session incremental answer") {
    import spark.implicits._
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 5 =!= 4)
    val delta = docs.filter($"doc_id" % 5 === 4)
    val idx = java.nio.file.Files.createTempDirectory("graft-dedup-idx")
      .toString
    DedupIndex.build(spark, corpus, idx, DedupIndex.Shape.Oracle)
    val fromDisk = DedupIndex.probe(spark, idx, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inSession = DedupQueries.incrementalInSession(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inSession.nonEmpty, "sf0.001 must contain delta-corpus pairs")
    assert(fromDisk === inSession)
  }

  test("default build is the corpus-scale 32×8/256 shape, RECORDED in " +
      "the artifact and replayed by probe at pair parity; shape survives " +
      "admit and compact") {
    import spark.implicits._
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 5 =!= 4)
    val delta = docs.filter($"doc_id" % 5 === 4)
    val idx = java.nio.file.Files.createTempDirectory("graft-dedup-corpus")
      .toString
    DedupIndex.build(spark, corpus, idx)
    assert(DedupIndex.shapeOf(idx) === DedupIndex.Shape.Corpus,
      "production default must be the corpus-scale shape")
    // pair parity with the in-session face AT THE SAME SHAPE: the probe
    // must band its delta with the shape the artifact records — a 16×4
    // probe against 32×8 corpus bands would join band values hashed from
    // different slot ranges and emit noise
    val fromDisk = DedupIndex.probe(spark, idx, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inSession = DedupQueries
      .incrementalInSession(spark, dir, DedupIndex.Shape.Corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inSession.nonEmpty,
      "sf0.001 must contain delta-corpus pairs at the corpus shape")
    assert(fromDisk === inSession,
      "Corpus-built artifact probe diverged from the in-session face")
    // shape survives the lifecycle
    assert(DedupIndex.append(spark, delta, idx, "day1"))
    assert(DedupIndex.shapeOf(idx) === DedupIndex.Shape.Corpus,
      "admit dropped the recorded band shape")
    DedupIndex.compact(spark, idx, maxFiles = 1)
    assert(DedupIndex.shapeOf(idx) === DedupIndex.Shape.Corpus,
      "compact dropped the recorded band shape")
  }

  test("an artifact whose meta lacks layout=bucketed fails LOUDLY, " +
      "naming the index dir: load, append, compact, purge and shapeOf " +
      "throw instead of guessing a layout") {
    import spark.implicits._
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    val idx = java.nio.file.Files.createTempDirectory("graft-dedup-nometa")
      .toString
    DedupIndex.build(spark, docs.filter($"doc_id" % 5 < 3), idx)
    // a tombstone, so purge has work and must reach the layout check
    assert(DedupIndex.delete(spark, idx,
      docs.filter($"doc_id" % 5 === 0).select($"doc_id").limit(2), "td-1"))
    val metaFiles = new java.io.File(idx).listFiles()
      .filter(_.isDirectory).map(v => new java.io.File(v, "_meta.txt"))
      .filter(_.exists())
    assert(metaFiles.nonEmpty)
    metaFiles.foreach(f => assert(f.delete()))
    def loud(op: String)(body: => Any): Unit = {
      val e = intercept[IllegalStateException] { body; () }
      assert(e.getMessage.contains(idx),
        s"$op's error does not name the index dir: ${e.getMessage}")
    }
    loud("load") { DedupIndex.load(spark, idx) }
    loud("append") {
      DedupIndex.append(spark, docs.filter($"doc_id" % 5 === 3), idx, "d1")
    }
    loud("compact") { DedupIndex.compact(spark, idx, maxFiles = 0) }
    loud("purge") { DedupIndex.purge(spark, idx) }
    loud("shapeOf") { DedupIndex.shapeOf(idx) }
    assert(!DedupIndex.appliedDeltas(idx).contains("d1"),
      "the refused append was recorded")
  }

  test("probe-then-admit: an appended delta becomes corpus for the next " +
      "delta's probe") {
    import spark.implicits._
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    val idx = java.nio.file.Files.createTempDirectory("graft-dedup-idx3")
      .toString
    // day 0: corpus = %5 ∈ {0,1,2}; day 1 delta = %5 == 3; day 2 = %5 == 4
    DedupIndex.build(spark, docs.filter($"doc_id" % 5 < 3), idx)
    val day1 = docs.filter($"doc_id" % 5 === 3)
    val day2 = docs.filter($"doc_id" % 5 === 4)
    // day-2 pairs BEFORE admitting day 1: only vs the original corpus
    val before = DedupIndex.probe(spark, idx, day2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(DedupIndex.append(spark, day1, idx, "day1"))
    val after = DedupIndex.probe(spark, idx, day2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before.subsetOf(after), "admit lost previously-findable pairs")
    val viaDay1 = after -- before
    assert(viaDay1.nonEmpty,
      "admitting day 1 must expose day2-day1 near-dup pairs")
    val day1Ids = day1.select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(viaDay1.forall(p => day1Ids.contains(p._1)),
      s"new pairs must have an admitted day-1 doc as corpus side: $viaDay1")
    // at-least-once retry: the SAME deltaId is a no-op — no duplicated
    // postings, so the probe's pair MULTISET (not just set) is unchanged
    assert(!DedupIndex.append(spark, day1, idx, "day1"))
    val retried = DedupIndex.probe(spark, idx, day2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(retried === after.toSeq.sorted,
      "retried admission changed the probe output")
    assert(DedupIndex.appliedDeltas(idx) === Set("day1"))
  }

  test("re-probe after admission reports no self-pairs and keeps the " +
      "cross-corpus answer") {
    import spark.implicits._
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    val idx = java.nio.file.Files.createTempDirectory("graft-dedup-idx4")
      .toString
    DedupIndex.build(spark, docs.filter($"doc_id" % 5 =!= 4), idx)
    val delta = docs.filter($"doc_id" % 5 === 4)
    val before = DedupIndex.probe(spark, idx, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(DedupIndex.append(spark, delta, idx, "day1"))
    // the at-least-once retry path: the delta now ALSO sits in the corpus,
    // so an unfiltered probe would match every delta doc to its own
    // admitted copy at jaccard 1.0 and report the whole retried delta as
    // duplicates — a downstream keeper policy would then drop it
    val again = DedupIndex.probe(spark, idx, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(again.forall(p => p._1 != p._2),
      "re-probe emitted self-pairs for already-admitted docs")
    assert(before.subsetOf(again.toSet),
      "re-probe lost genuine cross-corpus pairs")
  }

  test("compact: L0 accrual consumed to the per-bucket floor, probe " +
      "multiset and applied deltas unchanged, retried delta still a " +
      "no-op") {
    import spark.implicits._
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    val idx = java.nio.file.Files.createTempDirectory("graft-dedup-idx5")
      .toString
    DedupIndex.build(spark, docs.filter($"doc_id" % 5 < 3), idx)
    assert(DedupIndex.append(spark, docs.filter($"doc_id" % 5 === 3), idx,
      "day1"))
    // second admission: bucket-granular compaction links each bucket's
    // BASE file and folds only the accrual, so its floor is 2
    // files/bucket — one admission is already at the floor; two give
    // the fold something to shrink (base + 2 accruals -> base + merged)
    assert(DedupIndex.append(spark,
      docs.filter($"doc_id" % 5 === 3)
        .select(($"doc_id" + 500000L).as("doc_id"), $"text"), idx, "day2"))
    val delta = docs.filter($"doc_id" % 5 === 4)
    val before = DedupIndex.probe(spark, idx, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted
    def files(t: String): Int =
      new java.io.File(DedupIndex.tablePath(idx, t)).listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    def l0Files(t: String): Int =
      Option(new java.io.File(
        new java.io.File(DedupIndex.tablePath(idx, t)), "_l0").listFiles())
        .getOrElse(Array.empty)
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    // band admissions land as L0 accrual (IndexL0Spec pins the shape);
    // the fold must CONSUME it into the bucketed base and land at the
    // documented ≤ 2-files-per-bucket floor (base + merged accrual)
    assert(l0Files("bands") > 0,
      "admissions must land band rows as L0 accrual")
    // low threshold so the spec-sized index qualifies as fat
    assert(DedupIndex.compact(spark, idx, maxFiles = 1) > 0,
      "build+admit must leave at least one table past 1 file")
    assert(l0Files("bands") === 0,
      "compaction must consume the bands L0 accrual")
    val bandBuckets = DedupIndex.load(spark, idx).buckets("bands")
    assert(files("bands") <= 2 * bandBuckets,
      s"bands past the 2-files/bucket floor: ${files("bands")} files, " +
        s"$bandBuckets buckets")
    val after = DedupIndex.probe(spark, idx, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted
    assert(after === before, "compaction changed the probe multiset")
    // idempotence carried: the compacted version still remembers both days
    assert(DedupIndex.appliedDeltas(idx) === Set("day1", "day2"))
    assert(!DedupIndex.append(spark, docs.filter($"doc_id" % 5 === 3), idx,
      "day1"), "compaction must not reset delta idempotence")
  }

  test("the artifact IS the corpus side: emptying the band table on disk " +
      "empties the probe result for identical inputs") {
    import spark.implicits._
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    val idx = java.nio.file.Files.createTempDirectory("graft-dedup-idx2")
      .toString
    DedupIndex.build(spark, docs.filter($"doc_id" % 5 =!= 4), idx)
    val delta = docs.filter($"doc_id" % 5 === 4)
    assert(DedupIndex.probe(spark, idx, delta).count() > 0)
    // hollow out the band table (delete its parquet files in place —
    // the registered external bucketed table then scans an empty dir):
    // same API inputs, zero candidates — so candidates demonstrably
    // come from disk, never from recomputing the corpus
    val bands = new java.io.File(DedupIndex.tablePath(idx, "bands"))
    bands.listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .foreach(f => assert(f.delete(), s"could not delete $f"))
    // out-of-band file surgery needs a listing refresh — the artifact
    // lifecycle itself never mutates a version in place (admission and
    // compaction write NEW version dirs under NEW table names), so the
    // cached listing is safe everywhere but this deliberate corruption
    spark.sql(s"REFRESH TABLE ${IndexLayout.familyOf(idx)}_bands_v0")
    assert(DedupIndex.probe(spark, idx, delta).count() === 0,
      "probe found pairs with an empty on-disk band table")
  }
}
