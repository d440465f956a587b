package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The bucketed SRP artifact ([[SrpIndex.build]]): pair parity with
  * the independent in-session face, the exchange-free corpus plan (both corpus tables read in place), the
  * admission lifecycle on the bucketed layout, and micro bucket
  * pruning — the embedding member of the one-artifact-family story
  * (see `DedupIndexBucketedSpec`).
  */
class SrpIndexBucketedSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def fixture() = {
    import spark.implicits._
    val vecs = graft.GraftSession.table(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    (vecs.filter($"vec_id" % 5 =!= 4), vecs.filter($"vec_id" % 5 === 4))
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("bucketed SRP probe: pair parity with the artifact probe, both " +
      "corpus tables join without an Exchange, shape rides the meta") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (corpus, delta) = fixture()
      val bIdx = java.nio.file.Files
        .createTempDirectory("graft-srp-bidx").toString
      // Narrow on BOTH faces: parity needs same-shape banding, and the
      // tiny fixture has recall only at the narrow shape — the bucketing
      // claim is layout, not shape (probes take no shape argument, so
      // parity also proves the probe replayed the artifact-recorded
      // Narrow rather than the Wide build default)
      SrpIndex.build(spark, corpus, bIdx, DedupQueries.Srp.Narrow,
        buckets = 8)
      assert(SrpIndex.shapeOf(bIdx) === DedupQueries.Srp.Narrow)

      val bucketed = SrpIndex.probe(spark, bIdx, delta)
      val got = pairs(bucketed)
      // the same % 5 split at the Narrow shape
      val inSession = pairs(DedupQueries.embeddingIncrementalInSession(
        spark, dir, DedupQueries.Srp.Narrow))
      assert(inSession.nonEmpty, "fixture must contain cross-split pairs")
      assert(got === inSession,
        "bucketed SRP probe diverged from the in-session face")

      // count on the FINAL adaptive plan only — AdaptiveSparkPlan's
      // string appends the initial plan, which would double every match
      bucketed.count()
      val plan = bucketed.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      // candidate join: exactly one bk exchange — the delta side moving
      // to the corpus band table's bucketing
      val bkExchanges = "Exchange hashpartitioning\\(bk".r
        .findAllMatchIn(plan).length
      assert(bkExchanges === 1,
        s"expected exactly 1 bk exchange (delta side), got " +
          s"$bkExchanges:\n$plan")
      // verify join: the corpus vectors scan (vec_id → id_a) reports its
      // bucketing, so the only single-key id_a exchange is the NARROW
      // candidate side; a second one would be the corpus re-shuffling
      val idAExchanges = "Exchange hashpartitioning\\(id_a#\\d+L?, \\d+\\)".r
        .findAllMatchIn(plan).length
      assert(idAExchanges === 1,
        s"expected exactly 1 single-key id_a exchange (candidates), got " +
          s"$idAExchanges:\n$plan")
      assert("Bucketed: true".r.findAllMatchIn(plan).length >= 2,
        s"both corpus scans (bands + vectors) must report bucketing:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      ()
    }
  }

  test("lifecycle + micro pruning on the bucketed layout") {
    import spark.implicits._
    val (corpus, delta) = fixture()
    val bIdx = java.nio.file.Files
      .createTempDirectory("graft-srp-blife").toString
    // 64 buckets ≫ the 8 band keys a 1-vector micro-batch carries
    SrpIndex.build(spark, corpus, bIdx, DedupQueries.Srp.Narrow,
      buckets = 64)
    val loaded = SrpIndex.load(spark, bIdx)
    assert(loaded.buckets === Map("vectors" -> 64, "bands" -> 64))
    val micro = SrpIndex.probeLoaded(loaded, delta, micro = true)
    val microPairs = pairs(micro)
    assert(microPairs === pairs(SrpIndex.probeLoaded(loaded, delta)),
      "pruned micro probe diverged from the batch probe")
    assert(microPairs.nonEmpty, "fixture must contain cross-split pairs")
    // one delta vector WITH a corpus match — the verify stage survives
    // optimization and its corpus vector scan is inspectable
    val one = delta.filter($"vec_id" === microPairs.head._2)
    val pruned = SrpIndex.probeLoaded(loaded, one, micro = true)
    pruned.count()
    val plan = pruned.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // every corpus read pruned (the verify's VECTOR scan here), and the
    // band table absent — its read happened in the eager candidate job
    val sels = "SelectedBucketsCount: (\\d+) out of 64".r
      .findAllMatchIn(plan).map(_.group(1).toInt).toList
    assert(sels.nonEmpty, s"no bucket pruning in the verify plan:\n$plan")
    assert(sels.forall(_ < 64),
      s"a corpus scan read every bucket ($sels of 64):\n$plan")
    assert(!plan.contains("_bands_"),
      s"band table leaked into the verify plan:\n$plan")
    val cand = SrpIndex.microCandidates(loaded,
      DedupQueries.srpVectorsOf(spark, one))
    cand.count()
    val cplan = cand.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val csel = "SelectedBucketsCount: (\\d+) out of 64".r
      .findFirstMatchIn(cplan)
    assert(csel.isDefined && csel.get.group(1).toInt < 64,
      s"candidate job not pruned:\n$cplan")

    // admission: idempotent, self-match-free on re-probe, probed fresh
    val seed = corpus.orderBy($"vec_id").limit(1).collect().head
    val emb = seed.getSeq[Float](1)
    val admitted = Seq((900001L, emb)).toDF("vec_id", "embedding")
    assert(SrpIndex.append(spark, admitted, bIdx, "d1"))
    assert(!SrpIndex.append(spark, admitted, bIdx, "d1"),
      "retried admission was not a no-op")
    assert(SrpIndex.appliedDeltas(bIdx) === Set("d1"))
    val after = pairs(SrpIndex.probe(spark, bIdx, admitted))
    assert(after.contains((seed.getLong(0), 900001L)),
      s"admitted vector's twin not found: $after")
    assert(!after.contains((900001L, 900001L)),
      "re-probe self-matched the admitted vector")
    // compaction keeps output and layout
    assert(SrpIndex.compact(spark, bIdx, maxFiles = 0) > 0)
    assert(SrpIndex.appliedDeltas(bIdx) === Set("d1"))
    val afterCompact = SrpIndex.probe(spark, bIdx, admitted)
    assert(pairs(afterCompact) === after,
      "probe output changed across compaction")
    assert(afterCompact.queryExecution.executedPlan.toString
      .contains("Bucketed: true"), "compaction lost the bucketed layout")
  }
}
