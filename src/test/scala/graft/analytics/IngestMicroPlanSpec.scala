package graft.analytics

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Plan-shape contract of the streaming ingest probes' `micro = true`
  * mode in the CACHED regime (every loaded frame persisted here, as the
  * streaming faces' cache-if-fits does; the uncached regime's micro
  * shape — pruned bucket reads — is pinned by the `*BucketedSpec`
  * suites): a micro-batch delta BROADCASTS into every corpus join, so
  * the cached corpus tables STREAM from their in-memory scans — zero sort-merge or shuffled-hash
  * joins anywhere in the per-batch plan, which is what keeps per-trigger
  * cost free of corpus-sized exchange/sort (measured ×2.6 on the
  * containment face at 10× corpus, `IngestProbe`/SCALE.md). Auto
  * broadcast is disabled in these tests so every BroadcastHashJoin in
  * the plan is one the probe EXPLICITLY hinted — the shape cannot
  * regress silently when a cached size estimate drifts past the
  * threshold. Each face also pins value parity with its batch
  * (`micro = false`) probe.
  */
class IngestMicroPlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String = {
    df.count()
    df.queryExecution.executedPlan.toString
  }

  private def assertAllBroadcast(plan: String, face: String): Unit = {
    assert(!plan.contains("SortMergeJoin"),
      s"$face micro probe sorts a join side per batch:\n$plan")
    assert(!plan.contains("ShuffledHashJoin"),
      s"$face micro probe exchanges a join side per batch:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"$face micro probe lost its broadcast joins:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"$face micro probe is not reading the cached corpus frames:\n$plan")
  }

  test("text micro probe: all-broadcast plan over the cached artifact, " +
      "pair parity with the batch probe") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = graft.GraftSession.table(spark, dir, "documents")
        .select($"doc_id", $"text")
      val idx = java.nio.file.Files
        .createTempDirectory("graft-micro-didx").toString
      DedupIndex.build(spark, docs.filter($"doc_id" % 5 =!= 4), idx)
      val loaded = DedupIndex.load(spark, idx)
      loaded.cacheFrames.foreach(_.persist())
      try {
        val delta = docs.filter($"doc_id" % 5 === 4)
        val micro = DedupIndex.probeLoaded(loaded, delta, micro = true)
        assertAllBroadcast(planOf(micro), "text")
        val microPairs = micro.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val batch = DedupIndex.probeLoaded(loaded, delta).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(batch.nonEmpty, "fixture must contain cross-split pairs")
        assert(microPairs === batch, "micro probe diverged from batch probe")
      } finally { loaded.cacheFrames.foreach(_.unpersist()); () }
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("containment micro probe: all-broadcast plan over the cached " +
      "artifact, pair parity with the batch probe") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = graft.GraftSession.table(spark, dir, "documents")
        .select($"doc_id", $"text")
      val idx = java.nio.file.Files
        .createTempDirectory("graft-micro-cidx").toString
      ContainIndex.build(spark, docs.filter($"doc_id" % 5 =!= 4), idx)
      val loaded = ContainIndex.load(spark, idx)
      loaded.cacheFrames.foreach(_.persist())
      try {
        val delta = docs.filter($"doc_id" % 5 === 4)
        val micro = ContainIndex.probeLoaded(loaded, delta, micro = true)
        assertAllBroadcast(planOf(micro), "containment")
        val microPairs = micro.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val batch = ContainIndex.probeLoaded(loaded, delta).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(batch.nonEmpty, "fixture must contain cross-split pairs")
        assert(microPairs === batch, "micro probe diverged from batch probe")
      } finally { loaded.cacheFrames.foreach(_.unpersist()); () }
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("embedding micro probe: all-broadcast plan over the cached " +
      "artifact, pair parity with the batch probe") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val vecs = graft.GraftSession.table(spark, dir, "embeddings")
        .select($"vec_id", $"embedding")
      val idx = java.nio.file.Files
        .createTempDirectory("graft-micro-sidx").toString
      // oracle-matched Narrow so the sf0.001 fixture has pairs to compare
      SrpIndex.build(spark, vecs.filter($"vec_id" % 5 =!= 4), idx,
        DedupQueries.Srp.Narrow)
      val loaded = SrpIndex.load(spark, idx)
      loaded.cacheFrames.foreach(_.persist())
      try {
        val delta = vecs.filter($"vec_id" % 5 === 4)
        val micro = SrpIndex.probeLoaded(loaded, delta, micro = true)
        assertAllBroadcast(planOf(micro), "embedding")
        val microPairs = micro.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val batch = SrpIndex.probeLoaded(loaded, delta).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(batch.nonEmpty, "fixture must contain cross-split pairs")
        assert(microPairs === batch, "micro probe diverged from batch probe")
      } finally { loaded.cacheFrames.foreach(_.unpersist()); () }
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
