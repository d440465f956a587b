package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The bucketed artifact ([[DedupIndex.build]]): one artifact family
  * carrying BOTH halves of the 100 TB index story — the
  * versioned-admission lifecycle (deltaId idempotence, hard-link carry,
  * compaction behind the atomic swap) AND the bucketed managed-table
  * probe shape (corpus side read in place, only the delta exchanges;
  * micro probes bucket-prune the scan). Pinned here: (1) pair parity
  * with the independent in-session face, (2) the exchange-free corpus
  * plan, (3) the lifecycle on the bucketed layout, (4) bucket pruning in
  * the micro probe.
  */
class DedupIndexBucketedSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def fixture() = {
    import spark.implicits._
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    (docs.filter($"doc_id" % 5 =!= 4), docs.filter($"doc_id" % 5 === 4))
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("bucketed artifact probe: pair parity with the in-session " +
      "face, corpus sides join without an Exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (corpus, delta) = fixture()
      val bIdx = java.nio.file.Files
        .createTempDirectory("graft-dedup-bidx").toString
      DedupIndex.build(spark, corpus, bIdx, buckets = 8)

      val bucketed = DedupIndex.probe(spark, bIdx, delta)
      val got = pairs(bucketed)
      // the same % 5 split, at the artifact's (default Corpus) shape
      val inSession = pairs(DedupQueries
        .incrementalInSession(spark, dir, DedupIndex.Shape.Corpus))
      assert(inSession.nonEmpty, "fixture must contain cross-split pairs")
      assert(got === inSession,
        "bucketed artifact probe diverged from the in-session face")

      // plan shape, final adaptive plan only (the appended initial plan
      // would double-count): the candidate join's only bk exchange is
      // the DELTA side moving to the corpus band table's bucketing, and
      // the verify's corpus signature side (doc_id → a_id) never
      // exchanges — a_id shuffles belong to the narrow candidates only
      bucketed.count()
      val plan = bucketed.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val bkExchanges = "Exchange hashpartitioning\\(bk".r
        .findAllMatchIn(plan).length
      assert(bkExchanges === 1,
        s"expected exactly 1 bk exchange (delta side), got " +
          s"$bkExchanges:\n$plan")
      assert(!"Exchange hashpartitioning\\(a_id".r
        .findAllMatchIn(plan).hasNext,
        s"corpus signature side exchanged — bucketing bought nothing:\n$plan")
      assert("Bucketed: true".r.findAllMatchIn(plan).length >= 2,
        s"both corpus scans (bands + signatures) must report bucketing:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      ()
    }
  }

  test("lifecycle on the bucketed layout: deltaId-idempotent admission, " +
      "probe freshness, compaction invariance, shape riding the meta") {
    import spark.implicits._
    val (corpus, delta) = fixture()
    val bIdx = java.nio.file.Files
      .createTempDirectory("graft-dedup-blife").toString
    // non-default Oracle shape: probes take no shape argument, so parity
    // with the Oracle-shaped in-session face proves the probe replayed
    // the artifact-recorded shape (a Corpus-banded delta against an
    // Oracle-banded corpus matches only on 64-bit collisions)
    DedupIndex.build(spark, corpus, bIdx, DedupIndex.Shape.Oracle,
      buckets = 4)
    assert(DedupIndex.shapeOf(bIdx) === DedupIndex.Shape.Oracle)
    val before = pairs(DedupIndex.probe(spark, bIdx, delta))
    assert(before === pairs(DedupQueries.incrementalInSession(spark, dir,
      DedupIndex.Shape.Oracle)))
    assert(before.nonEmpty)

    // admit a synthetic near-dup of a corpus doc; idempotence: the retry
    // is a no-op (a double admission would re-register the delta's
    // signature rows and double its verify pairs)
    val seed = corpus.orderBy($"doc_id").limit(1)
      .select($"doc_id", $"text").collect().head
    val admitted = Seq((900001L, seed.getString(1) + " tail"))
      .toDF("doc_id", "text")
    assert(DedupIndex.append(spark, admitted, bIdx, "delta-1"))
    assert(!DedupIndex.append(spark, admitted, bIdx, "delta-1"),
      "retried admission was not a no-op")
    assert(DedupIndex.appliedDeltas(bIdx) === Set("delta-1"))
    // the admitted doc is now corpus: a probe with its near-dup finds it
    val probeDoc = Seq((900002L, seed.getString(1) + " tail2"))
      .toDF("doc_id", "text")
    val after = pairs(DedupIndex.probe(spark, bIdx, probeDoc))
    assert(after.exists(_._1 == 900001L),
      s"admitted doc not probed against: $after")
    // the in-session engine over the same corpus plus the admission
    // must agree
    assert(after === pairs(DedupQueries.incrementalPairs(
      DedupQueries.signaturesOf(corpus.unionByName(admitted)),
      DedupQueries.signaturesOf(probeDoc), DedupIndex.Shape.Oracle)))

    // compaction: force a rewrite (maxFiles = 0), probe multiset
    // unchanged, deltas carried, layout still bucketed (probe plan
    // still reads a bucketed scan)
    assert(DedupIndex.compact(spark, bIdx, maxFiles = 0) > 0)
    assert(DedupIndex.appliedDeltas(bIdx) === Set("delta-1"),
      "compaction reset the admitted-delta set")
    val afterCompact = DedupIndex.probe(spark, bIdx, probeDoc)
    assert(pairs(afterCompact) === after,
      "probe output changed across compaction")
    assert(afterCompact.queryExecution.executedPlan.toString
      .contains("Bucketed: true"),
      "compaction lost the bucketed layout")
  }

  test("micro probe: EVERY corpus read bucket-pruned — candidate job " +
      "on the pruned band scan, verify on the pruned signature scan — " +
      "with pair parity") {
    import spark.implicits._
    val (corpus, delta) = fixture()
    val bIdx = java.nio.file.Files
      .createTempDirectory("graft-dedup-bprune").toString
    // 64 buckets ≫ the 32 band keys a 1-doc micro-batch carries, so the
    // pruned set is provably proper (k ≤ 32 < 64)
    DedupIndex.build(spark, corpus, bIdx, buckets = 64)
    val loaded = DedupIndex.load(spark, bIdx)
    assert(loaded.buckets === Map("signatures" -> 64, "bands" -> 64))
    val micro = DedupIndex.probeLoaded(loaded, delta, micro = true)
    val microPairs = pairs(micro)
    assert(microPairs === pairs(DedupIndex.probeLoaded(loaded, delta)),
      "pruned micro probe diverged from the batch probe")
    assert(microPairs.nonEmpty, "fixture must contain cross-split pairs")
    // probe ONE delta doc that HAS a corpus match, so the verify stage
    // survives optimization and its corpus scan is inspectable
    val one = delta.filter($"doc_id" === microPairs.head._2)
    val pruned = DedupIndex.probeLoaded(loaded, one, micro = true)
    pruned.count()
    val plan = pruned.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the verify's corpus SIGNATURE scan prunes to the candidates' ids…
    val sels = "SelectedBucketsCount: (\\d+) out of 64".r
      .findAllMatchIn(plan).map(_.group(1).toInt).toList
    assert(sels.nonEmpty, s"no bucket pruning in the verify plan:\n$plan")
    assert(sels.forall(_ < 64),
      s"a corpus scan read every bucket ($sels of 64):\n$plan")
    // …and the corpus BAND table is absent from the verify plan: its one
    // read per batch happened in the eager candidate job, whose lazy
    // frame (below) prunes to the delta's band keys
    assert(!plan.contains("_bands_"),
      s"band table leaked into the verify plan:\n$plan")
    val cand = DedupIndex.microCandidates(loaded,
      DedupQueries.signaturesOf(one, loaded.shape.slots))
    cand.count()
    val cplan = cand.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val csel = "SelectedBucketsCount: (\\d+) out of 64".r
      .findFirstMatchIn(cplan)
    assert(csel.isDefined,
      s"no bucket pruning in the candidate plan:\n$cplan")
    assert(csel.get.group(1).toInt < 64,
      s"candidate job read every band bucket " +
        s"(${csel.get.group(1)}/64):\n$cplan")
  }
}
