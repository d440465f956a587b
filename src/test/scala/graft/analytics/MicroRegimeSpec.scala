package graft.analytics

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The bucketed micro probe's THREE-REGIME plan selection
  * ([[DedupIndex.probeLoaded]]'s r15 design; `IngestDedup.cacheIfFits`
  * picks the regime for the streaming faces):
  *
  *   1. CACHED — frames persisted (artifact fits the storage budget):
  *      the lazy broadcast-delta plan streams the InMemoryRelation;
  *      nothing is read from the lake, so no `SelectedBucketsCount`
  *      and no per-batch eager candidate jobs.
  *   3. UNCACHED + UNPRUNABLE — the delta's key set exceeds
  *      [[IndexLayout.PruneKeysPerBucket]] × the table's bucket count
  *      (toy bucket counts here): the INSET is DECLINED per table,
  *      leaving parallel full bucketed scans — the regression this
  *      gate exists for was a ~10⁵-key collect + INSET over 1-8-bucket
  *      tables at 17-24 s/batch.
  *
  * Regime 2 (uncached + prunable — the 100 TB shape) is pinned by the
  * `*BucketedSpec` suites' `SelectedBucketsCount` assertions. All three
  * regimes must agree with the batch probe on VALUES; only the plan
  * changes.
  */
class MicroRegimeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def fixture() = {
    import spark.implicits._
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    (docs.filter($"doc_id" % 5 =!= 4), docs.filter($"doc_id" % 5 === 4))
  }

  private def planOf(df: DataFrame): String = {
    df.count()
    df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Every `SelectedBucketsCount: k out of n` in the plan — note a
    * bucketed FileScan prints `n out of n` when NO bucket filter
    * applies, so "pruning declined" asserts k == n, not absence.
    */
  private def selections(plan: String): List[(Int, Int)] =
    "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findAllMatchIn(plan)
      .map(m => (m.group(1).toInt, m.group(2).toInt)).toList

  test("cached regime: micro probe streams the persisted frames — " +
      "no file scans, no eager pruning, batch-probe parity") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (corpus, delta) = fixture()
      val bIdx = java.nio.file.Files
        .createTempDirectory("graft-regime-cached").toString
      DedupIndex.build(spark, corpus, bIdx, buckets = 8)
      val loaded = DedupIndex.load(spark, bIdx)
      loaded.signatures.persist(); loaded.bands.persist()
      try {
        assert(IndexLayout.isCached(loaded.bands))
        val micro = DedupIndex.probeLoaded(loaded, delta, micro = true)
        val plan = planOf(micro)
        assert(plan.contains("InMemoryTableScan"),
          s"cached regime not reading the persisted frames:\n$plan")
        // no LocalTableScan: the cached regime is the LAZY plan — no
        // eager candidate collect/re-localize roundtrip per batch
        assert(!plan.contains("LocalTableScan"),
          s"cached regime ran the eager candidate path:\n$plan")
        assert(!plan.contains("SortMergeJoin") &&
          !plan.contains("ShuffledHashJoin"),
          s"cached micro plan exchanges a corpus side:\n$plan")
        assert(pairs(micro) === pairs(DedupIndex.probeLoaded(loaded, delta)),
          "cached micro probe diverged from the batch probe")
      } finally {
        loaded.signatures.unpersist(); loaded.bands.unpersist(); ()
      }
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("unprunable regime: key set past the bucket count declines the " +
      "INSET — parallel full scans, batch-probe parity") {
    val (corpus, delta) = fixture()
    // 2 buckets: ANY delta's band-key set (docs × 16 bands) exceeds it
    val bIdx = java.nio.file.Files
      .createTempDirectory("graft-regime-unprunable").toString
    DedupIndex.build(spark, corpus, bIdx, shape = DedupIndex.Shape.Oracle,
      buckets = 2)
    val loaded = DedupIndex.load(spark, bIdx)
    assert(!IndexLayout.isCached(loaded.bands))
    val cand = DedupIndex.microCandidates(loaded,
      DedupQueries.signaturesOf(delta, loaded.shape.slots))
    val plan = planOf(cand)
    val sels = selections(plan)
    assert(sels.nonEmpty && sels.forall { case (k, n) => k == n },
      s"oversized key set must decline the INSET prune ($sels):\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"declined prune must still read the bucketed table in place:\n$plan")
    assert(pairs(DedupIndex.probeLoaded(loaded, delta, micro = true)) ===
      pairs(DedupIndex.probeLoaded(loaded, delta)),
      "unprunable micro probe diverged from the batch probe")
  }

  test("containment: capped key collect declines pruning for all hx " +
      "tables past the cap, parity holds") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (corpus, delta) = fixture()
      // 2 buckets/table: a delta's distinct shingle hashes (~10^4) dwarf
      // the counts, so the capped limit-collect overflows and every hx
      // table reads unfiltered (the 17-24 s/batch INSET pathology's fix)
      val bIdx = java.nio.file.Files
        .createTempDirectory("graft-regime-contain").toString
      ContainIndex.build(spark, corpus, bIdx, buckets = 2)
      val loaded = ContainIndex.load(spark, bIdx)
      val (n2oF, o2nF) = ContainIndex.microCandidateFrames(loaded, delta)
      Seq("new-in-old" -> n2oF, "old-in-new" -> o2nF).foreach {
        case (label, f) =>
          val plan = planOf(f)
          val sels = selections(plan)
          assert(sels.nonEmpty && sels.forall { case (k, n) => k == n },
            s"$label: overflowed key collect must decline the INSET " +
              s"($sels):\n$plan")
      }
      val micro = ContainIndex.probeLoaded(loaded, delta, micro = true)
      val got = micro.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = ContainIndex.probeLoaded(loaded, delta).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(batch.nonEmpty, "fixture must contain cross-split pairs")
      assert(got === batch,
        "capped containment micro probe diverged from the batch probe")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("containment cached regime: persisted frames stream through the " +
      "lazy broadcast plan, parity holds") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (corpus, delta) = fixture()
      val bIdx = java.nio.file.Files
        .createTempDirectory("graft-regime-ccached").toString
      ContainIndex.build(spark, corpus, bIdx, buckets = 8)
      val loaded = ContainIndex.load(spark, bIdx)
      val frames = Seq(loaded.tokens, loaded.prefix, loaded.sets, loaded.df)
      frames.foreach(_.persist())
      try {
        val micro = ContainIndex.probeLoaded(loaded, delta, micro = true)
        val plan = planOf(micro)
        assert(plan.contains("InMemoryTableScan") &&
          !plan.contains("LocalTableScan"),
          s"containment cached regime ran the eager path:\n$plan")
        assert(!plan.contains("SortMergeJoin") &&
          !plan.contains("ShuffledHashJoin"),
          s"containment cached micro plan exchanges a corpus side:\n$plan")
        val got = micro.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val batch = ContainIndex.probeLoaded(loaded, delta).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(batch.nonEmpty && got === batch,
          "containment cached micro probe diverged from the batch probe")
      } finally { frames.foreach(_.unpersist()); () }
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("embedding cached regime: persisted frames stream, parity holds") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import spark.implicits._
      val vecs = graft.GraftSession.table(spark, dir, "embeddings")
        .select($"vec_id", $"embedding")
      val (corpus, delta) =
        (vecs.filter($"vec_id" % 5 =!= 4), vecs.filter($"vec_id" % 5 === 4))
      val bIdx = java.nio.file.Files
        .createTempDirectory("graft-regime-semb").toString
      // oracle-matched Narrow so the sf0.001 fixture has pairs
      SrpIndex.build(spark, corpus, bIdx, DedupQueries.Srp.Narrow,
        buckets = 8)
      val loaded = SrpIndex.load(spark, bIdx)
      loaded.vectors.persist(); loaded.bands.persist()
      try {
        val micro = SrpIndex.probeLoaded(loaded, delta, micro = true)
        val plan = planOf(micro)
        assert(plan.contains("InMemoryTableScan") &&
          !plan.contains("LocalTableScan"),
          s"embedding cached regime not streaming the cache:\n$plan")
        assert(pairs(micro) === pairs(SrpIndex.probeLoaded(loaded, delta)),
          "embedding cached micro probe diverged from the batch probe")
      } finally { loaded.vectors.unpersist(); loaded.bands.unpersist(); () }
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
