package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The bucketed containment artifact ([[ContainIndex.build]]):
  * ordered-pair parity with the independent in-session face, the
  * exchange-free corpus plan (every corpus table read in
  * place — the bucketed batch probe verifies BOTH directions over ONE
  * corpus `sets` scan, r22, so the doc_id-bucketed table never
  * re-shuffles AND never re-reads), the admission lifecycle on the
  * bucketed layout, and micro bucket pruning of the hx-keyed postings.
  */
class ContainIndexBucketedSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def fixture() = {
    import spark.implicits._
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select($"doc_id", $"text")
    (docs.filter($"doc_id" % 5 =!= 4), docs.filter($"doc_id" % 5 === 4))
  }

  private def triples(
      df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet

  test("bucketed containment probe: pair parity with the in-session " +
      "face, and the corpus sets verify without an Exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (corpus, delta) = fixture()
      val bIdx = java.nio.file.Files
        .createTempDirectory("graft-contain-bidx").toString
      ContainIndex.build(spark, corpus, bIdx, buckets = 8)

      val bucketed = ContainIndex.probe(spark, bIdx, delta)
      val got = triples(bucketed)
      // the same % 5 split, ranked by live df (frozen-df parity is the
      // prefix pigeonhole's order-independence)
      val inSession =
        triples(DedupQueries.containmentIncrementalInSession(spark, dir))
      assert(inSession.nonEmpty, "fixture must contain cross-split pairs")
      assert(got === inSession,
        "bucketed containment probe diverged from the in-session face")

      // final adaptive plan only (the appended initial plan would
      // double-count)
      bucketed.count()
      val plan = bucketed.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      // the split verify's corpus-sets joins read the bucketed table in
      // place: corpus sets appear as the a-side (a_id) in one direction
      // and the b-side (b_id) in the other — NEITHER may exchange on a
      // single key fed from the corpus scan. Delta-side frames derive
      // from groupBy(doc_id) aggregations, so their verify-join inputs
      // are already doc_id-partitioned too; any single-key a_id/b_id
      // exchange would be a corpus (or regression) shuffle.
      val aExchanges = "Exchange hashpartitioning\\(a_id".r
        .findAllMatchIn(plan).length
      assert(aExchanges === 0,
        s"verify a-side exchanged — sets bucketing bought nothing:\n$plan")
      assert("Bucketed: true".r.findAllMatchIn(plan).length >= 4,
        "corpus scans (df, tokens, prefix, sets) must " +
          s"report bucketing:\n$plan")
      // r22 one-scan verify: BOTH directions share one corpus `sets`
      // scan — a second scan is the per-direction split regression
      val setsScans = "_sets_".r.findAllMatchIn(plan).length
      assert(setsScans === 1,
        s"corpus sets scanned $setsScans times (one-scan verify " +
          s"regressed to per-direction reads):\n$plan")
      // and its doc_id side must not exchange (in-place bucketed join)
      assert(!plan.contains("Exchange hashpartitioning(c_doc"),
        s"corpus sets side exchanged in the one-scan verify:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      ()
    }
  }

  test("lifecycle + micro pruning on the bucketed layout") {
    import spark.implicits._
    val (corpus, delta) = fixture()
    val bIdx = java.nio.file.Files
      .createTempDirectory("graft-contain-blife").toString
    // 64 buckets: a tiny doc's ≤ 57 distinct 16-char shingle hashes can
    // cover at most 57 buckets, so the pruned set is provably proper
    ContainIndex.build(spark, corpus, bIdx, buckets = 64)
    val loaded = ContainIndex.load(spark, bIdx)
    assert(loaded.buckets === Seq("tokens", "prefix", "sets", "df")
      .map(_ -> 64).toMap)
    val micro = ContainIndex.probeLoaded(loaded, delta, micro = true)
    val microTriples = triples(micro)
    assert(microTriples === triples(ContainIndex.probeLoaded(loaded,
      delta)), "pruned micro probe diverged from the batch probe")
    assert(microTriples.nonEmpty,
      "fixture must contain cross-split pairs")
    // one delta doc WITH a containment match (exactly one side of every
    // triple is a delta doc — ids ≡ 4 mod 5), so the verify stage
    // survives optimization and its corpus `sets` scan is inspectable
    val t = microTriples.head
    val one = delta.filter(
      $"doc_id" === (if (t._1 % 5 == 4) t._1 else t._2))
    val pruned = ContainIndex.probeLoaded(loaded, one, micro = true)
    pruned.count()
    val plan = pruned.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // every corpus read in the verify plan pruned (the per-direction
    // `sets` scans here), and the posting tables absent — their one read
    // per batch happened in the eager candidate jobs, whose lazy frames
    // (below) prune to the delta's token hashes
    val sels = "SelectedBucketsCount: (\\d+) out of 64".r
      .findAllMatchIn(plan).map(_.group(1).toInt).toList
    assert(sels.nonEmpty, s"no bucket pruning in the verify plan:\n$plan")
    assert(sels.forall(_ < 64),
      s"a corpus scan read every bucket ($sels of 64):\n$plan")
    Seq("_tokens_", "_prefix_", "_df_").foreach(tbl =>
      assert(!plan.contains(tbl),
        s"$tbl leaked into the verify plan:\n$plan"))
    val (n2oF, o2nF) = ContainIndex.microCandidateFrames(loaded, one)
    Seq("new-in-old" -> n2oF, "old-in-new" -> o2nF).foreach {
      case (label, f) =>
        f.count()
        val cplan = f.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        val csels = "SelectedBucketsCount: (\\d+) out of 64".r
          .findAllMatchIn(cplan).map(_.group(1).toInt).toList
        assert(csels.nonEmpty,
          s"no bucket pruning in the $label candidate plan:\n$cplan")
        assert(csels.forall(_ < 64),
          s"$label candidate job read every bucket ($csels of 64):\n$cplan")
    }

    // admission lifecycle: idempotent admit of a containing superdoc,
    // fresh probes see it, compaction preserves output + layout
    val seed = corpus.orderBy($"doc_id").limit(1).collect().head
    val admitted = Seq((900001L,
      seed.getString(1) + " " + seed.getString(1)))
      .toDF("doc_id", "text")
    assert(ContainIndex.append(spark, admitted, bIdx, "d1"))
    assert(!ContainIndex.append(spark, admitted, bIdx, "d1"),
      "retried admission was not a no-op")
    assert(ContainIndex.appliedDeltas(bIdx) === Set("d1"))
    val probeDoc = Seq((900002L, seed.getString(1))).toDF("doc_id", "text")
    val after = triples(ContainIndex.probe(spark, bIdx, probeDoc))
    assert(after.exists(t => t._1 == 900002L && t._2 == 900001L),
      s"probe doc not contained in the admitted superdoc: $after")
    assert(ContainIndex.compact(spark, bIdx, maxFiles = 0) > 0)
    assert(ContainIndex.appliedDeltas(bIdx) === Set("d1"))
    val afterCompact = ContainIndex.probe(spark, bIdx, probeDoc)
    assert(triples(afterCompact) === after,
      "probe output changed across compaction")
    assert(afterCompact.queryExecution.executedPlan.toString
      .contains("Bucketed: true"), "compaction lost the bucketed layout")
  }
}
