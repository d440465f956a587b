package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Parity of the streaming ingest dedup with the ORACLED batch face: the
  * same delta documents pushed through the actual foreachBatch sink in
  * two micro-batches (plus one redelivered) must produce exactly the
  * pair set `q_dedup_incremental` reports — tying the driver's DuckDB
  * oracle to the streaming path, the `q_scd1_upsert` pattern applied to
  * dedup.
  */
class IngestDedupSpec extends SparkSpec {

  test("streaming ingest dedup reproduces the oracled batch face") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    val corpusPer = graft.analytics.DedupQueries
      .signaturesOf(docs.filter($"doc_id" % 5 =!= 4)).persist()
    val delta = docs.filter($"doc_id" % 5 === 4)
      .as[IngestDoc].collect().sortBy(_.doc_id)
    val (b1, b2) = delta.splitAt(delta.length / 2)

    // the idempotent keyed sink every production target provides (MERGE
    // on (corpus_id, new_id)): a set, so redelivery is absorbed
    val got = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, Long, Double)]()
    val input = MemoryStream[IngestDoc]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ingest-ckpt").toString
    val q = IngestDedup.dedupIngest(input.toDS(), corpusPer, ckpt) {
      (pairs, _) =>
        pairs.collect().foreach(r =>
          got.add((r.getLong(0), r.getLong(1), r.getDouble(2))))
    }
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      input.addData(b1.toSeq); q.processAllAvailable() // at-least-once replay
    } finally q.stop()

    val batch = graft.analytics.DedupQueries
      .qDedupIncremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "fixture must contain cross-split near-dups")
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet === batch,
      "streaming pair set diverged from the oracled batch face")
  }

  test("index-backed stream: the firehose probes the DURABLE artifact " +
      "and reproduces the same pair set") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-ingest-idx").toString
    // Oracle shape explicitly: this test pins the stream to the oracled
    // batch face, whose artifact is oracle-shaped (the default-Corpus
    // lifecycle is pinned in DedupIndexSpec)
    graft.analytics.DedupIndex.build(
      spark, docs.filter($"doc_id" % 5 =!= 4), idx,
      graft.analytics.DedupIndex.Shape.Oracle)
    val delta = docs.filter($"doc_id" % 5 === 4)
      .as[IngestDoc].collect().sortBy(_.doc_id)
    val got = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, Long, Double)]()
    val input = MemoryStream[IngestDoc]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ingest-idx-ckpt").toString
    val loadsBefore = graft.analytics.DedupIndex.loadRuns.get()
    val q = IngestDedup.dedupIngestFromIndex(input.toDS(), idx, ckpt) {
      (pairs, _) =>
        pairs.collect().foreach(r =>
          got.add((r.getLong(0), r.getLong(1), r.getDouble(2))))
    }
    import scala.jdk.CollectionConverters._
    try {
      val (b1, b2) = delta.splitAt(delta.length / 2)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      // two micro-batches at ONE artifact version = ONE resolution
      // (bucketed build default: per-batch probes bucket-prune the
      // artifact scans instead of caching corpus frames — the previous
      // wiring re-banded the corpus per batch)
      assert(graft.analytics.DedupIndex.loadRuns.get() === loadsBefore + 1,
        "text ingest re-read the artifact per batch instead of loading " +
          "it once per version")
      val batch = graft.analytics.DedupQueries
        .qDedupIncremental(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got.asScala.toSet === batch,
        "index-backed stream diverged from the oracled batch face")
      // MID-STREAM ADMISSION: a near-dup of a b1 doc enters the corpus
      // while the query runs; the version poll must refresh the cache
      // within one batch, so replaying b1 now matches the admitted doc —
      // a pin-at-start cache would miss it for the stream's life
      val donor = b1.maxBy(_.text.length)
      val synth = Seq((999999L, donor.text + " x"))
        .toDF("doc_id", "text")
      assert(graft.analytics.DedupIndex.append(spark, synth, idx,
        "mid-stream"))
      // counter snapshot here: the parity call above probes (and loads)
      // the artifact itself
      val loadsBeforeAdmit = graft.analytics.DedupIndex.loadRuns.get()
      input.addData(b1.toSeq); q.processAllAvailable()
      assert(graft.analytics.DedupIndex.loadRuns.get() ===
        loadsBeforeAdmit + 1,
        "cache did not refresh after a mid-stream admission")
      assert(got.asScala.exists(p =>
          p._1 === 999999L && p._2 === donor.doc_id && p._3 >= 0.8),
        "post-admission batch missed the freshly admitted near-dup")
    } finally q.stop()
  }

  test("containment firehose probes the durable ContainIndex and " +
      "reproduces the oracled incremental face") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-ingest-contain").toString
    graft.analytics.ContainIndex.build(
      spark, docs.filter($"doc_id" % 5 =!= 4), idx)
    val delta = docs.filter($"doc_id" % 5 === 4)
      .as[IngestDoc].collect().sortBy(_.doc_id)
    val got = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, Long, Double)]()
    val input = MemoryStream[IngestDoc]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ingest-contain-ckpt").toString
    val loadsBefore = graft.analytics.ContainIndex.loadRuns.get()
    val q = IngestDedup.dedupIngestContainment(input.toDS(), idx, ckpt) {
      (pairs, _) =>
        pairs.collect().foreach(r =>
          got.add((r.getLong(0), r.getLong(1), r.getDouble(2))))
    }
    try {
      // two micro-batches + an at-least-once replay of the first
      val (b1, b2) = delta.splitAt(delta.length / 2)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      input.addData(b1.toSeq); q.processAllAvailable()
    } finally q.stop()
    // three micro-batches, ONE artifact resolution: tokens/prefix/sets/df
    // resolve at start and every batch probes them (bucketed default: at
    // this fixture's size cache-if-fits PERSISTS the frames, so batches
    // run the cached lazy regime — MicroRegimeSpec pins the plan)
    assert(graft.analytics.ContainIndex.loadRuns.get() === loadsBefore + 1,
      "containment ingest re-read the artifact per batch instead of " +
        "loading it once for the query's life")
    // batch face builds its own artifact under dir; probe output must
    // match the stream's union over batches exactly
    val batch = graft.analytics.DedupQueries
      .qDedupContainmentIncremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "fixture must contain cross-split containment")
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet === batch,
      "containment stream diverged from the oracled incremental face")
  }

  test("a missing index fails the stream CONSTRUCTION synchronously, " +
      "not as an async batch-0 error") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[IngestDoc]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ingest-missing-ckpt").toString
    val missing = java.nio.file.Files
      .createTempDirectory("graft-ingest-missing-idx").toString + "/nope"
    // the caller's try/catch is the contract: the load error must throw
    // HERE (the eager first cache fill), never surface later through
    // query.exception after start() already succeeded
    intercept[Exception] {
      IngestDedup.dedupIngestFromIndex(input.toDS(), missing, ckpt) {
        (_, _) => ()
      }
    }
    ()
  }

  test("embedding firehose probes the durable SrpIndex and reproduces " +
      "the oracled incremental face") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val vecs = graft.GraftSession.table(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-ingest-srp").toString
    // oracle-matched Narrow (the oracled face's artifact shape) — the
    // default-Wide lifecycle is pinned in SrpIndexSpec; here the claim
    // is parity with the oracled in-session face. Default layout and
    // bucket sizing: cache-if-fits persists the frames at fixture sizes
    // (the pruned/parallel scans past the budget are MicroRegimeSpec's)
    graft.analytics.SrpIndex.build(
      spark, vecs.filter($"vec_id" % 5 =!= 4), idx,
      graft.analytics.DedupQueries.Srp.Narrow)
    val delta = vecs.filter($"vec_id" % 5 === 4)
      .as[IngestVec].collect().sortBy(_.vec_id)
    val got = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, Long)]()
    val input = MemoryStream[IngestVec]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ingest-srp-ckpt").toString
    val loadsBefore = graft.analytics.SrpIndex.loadRuns.get()
    val q = IngestDedup.dedupIngestEmbeddings(input.toDS(), idx, ckpt) {
      (pairs, _) =>
        pairs.collect().foreach(r => got.add((r.getLong(0), r.getLong(1))))
    }
    try {
      // two micro-batches + an at-least-once replay of the first
      val (b1, b2) = delta.splitAt(delta.length / 2)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      input.addData(b1.toSeq); q.processAllAvailable()
    } finally q.stop()
    // three micro-batches, ONE artifact resolution: the stream loads the
    // band/vector tables at start and probes the persisted frames
    assert(graft.analytics.SrpIndex.loadRuns.get() === loadsBefore + 1,
      "embedding ingest re-read the artifact per batch instead of " +
        "loading it once for the query's life")
    val batch = graft.analytics.DedupQueries
      .embeddingIncrementalInSession(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "fixture must contain cross-split pairs")
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet === batch,
      "embedding stream diverged from the oracled incremental face")
    // the listener released the query-lifetime cache entries on stop:
    // an equivalent load's frames resolve to the same logical plans, so
    // their storage level reads NONE once the entries are gone
    // (termination listeners fire async — hence eventually)
    val reloaded = graft.analytics.SrpIndex.load(spark, idx)
    org.scalatest.concurrent.Eventually.eventually(
      org.scalatest.concurrent.Eventually.timeout(
        org.scalatest.time.Span(10, org.scalatest.time.Seconds))) {
      assert(reloaded.vectors.storageLevel ===
        org.apache.spark.storage.StorageLevel.NONE &&
        reloaded.bands.storageLevel ===
          org.apache.spark.storage.StorageLevel.NONE,
        "SrpIndex frames still cached after the ingest query stopped")
    }
  }
}
