package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Properties of the scale-stress corpus generator (`graft.ScaleStress`) —
  * the instrument behind SCALE.md's measured 10× table. If these break,
  * the stress measurements measure the synthetic data's artifacts instead
  * of the engine (exactly the word-salt failure mode the generator's
  * scaladoc records), so they are pinned.
  */
class ScaleStressSpec extends SparkSpec {

  private lazy val outDir = {
    val d = java.nio.file.Files.createTempDirectory("graft-stress").toString
    graft.ScaleStress.generate(spark, "/root/testdata/sf0.001", d, copies = 3)
    d
  }

  private def shingles(textCol: String) =
    s"transform(sequence(1, greatest(length($textCol) - 4, 1))," +
      s" i -> substring($textCol, i, 5))"

  test("copies multiply row counts exactly and keep doc_id disjoint") {
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(docs.count() === 3 * src.count())
    assert(docs.select("doc_id").distinct().count() === docs.count())
    val emb = spark.read.parquet(s"$outDir/embeddings.parquet")
    assert(emb.count() === 3 * spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").count())
  }

  test("TPC-H tables are written full width: every table keeps its " +
      "source schema, fact tables scale by the copy count, and nation, " +
      "region and part are copied unchanged") {
    val src = "/root/testdata/sf0.001"
    def fields(path: String) =
      spark.read.parquet(path).schema.map(f => f.name -> f.dataType)
    Seq("lineitem" -> 3, "orders" -> 3, "customer" -> 3, "supplier" -> 3,
        "nation" -> 1, "region" -> 1, "part" -> 1).foreach {
      case (t, factor) =>
        val out = s"$outDir/$t.parquet"
        assert(new java.io.File(out).exists(), s"$t was not written")
        assert(fields(out) === fields(s"$src/$t.parquet"),
          s"$t lost its source schema")
        assert(spark.read.parquet(out).count() ===
          factor * spark.read.parquet(s"$src/$t.parquet").count(),
          s"$t row count is not $factor× its source")
    }
    // offset keys keep copies disjoint: one orderkey per order row
    val ord = spark.read.parquet(s"$outDir/orders.parquet")
    assert(ord.select("o_orderkey").distinct().count() === ord.count())
  }

  test("the char map is a bijection: within-copy similarity structure is " +
      "EXACTLY preserved (same shingle-set size per doc)") {
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
      .withColumn("copy", (col("doc_id") / 1000000000L).cast("long"))
      .withColumn("base_id", col("doc_id") % 1000000000L)
      .select(col("copy"), col("base_id"),
        size(array_distinct(expr(shingles("text")))).as("n_sh"))
    // a bijective char map maps distinct shingles to distinct shingles, so
    // every copy of a doc has the SAME distinct-shingle count
    val drift = docs.groupBy(col("base_id"))
      .agg(countDistinct(col("n_sh")).as("variants"))
      .filter(col("variants") > 1)
    assert(drift.count() === 0, "char map changed a doc's shingle-set size")
  }

  test("cross-copy 5-char shingle sets are (near-)disjoint — copies are " +
      "not artificial near-dups") {
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
      .withColumn("copy", (col("doc_id") / 1000000000L).cast("long"))
      .withColumn("base_id", col("doc_id") % 1000000000L)
      .filter(col("copy").isin(0L, 1L))
    val sh = docs.select(col("copy"), col("base_id"),
        explode(array_distinct(expr(shingles("text")))).as("sh"))
    val a = sh.filter(col("copy") === 0L).select(col("base_id"), col("sh"))
    val b = sh.filter(col("copy") === 1L).select(col("base_id"), col("sh"))
    val overlap = a.join(b, Seq("base_id", "sh")).groupBy(col("base_id"))
      .agg(count(lit(1)).as("common"))
    val sizes = a.groupBy(col("base_id")).agg(count(lit(1)).as("n"))
    // shared shingles are only space/punct/digit-boundary runs — a
    // qualifying near-dup needs jaccard >= 0.7; require overlap well
    // under half of either side for EVERY doc
    val bad = overlap.join(sizes, "base_id")
      .filter(col("common") > col("n") * 0.5)
    assert(bad.count() === 0,
      "a copy shares most of its shingles with the original")
  }

  test("copies past 10 (seeded-permutation regime) keep the bijection " +
      "and cross-copy disjointness properties") {
    // the 100x-shape rehearsals need copy counts the rotation maps can't
    // reach; copy 11 is the permutation regime, checked against copy 0
    // with the same properties the rotation tests pin above
    val d = java.nio.file.Files.createTempDirectory("graft-stress12").toString
    graft.ScaleStress.generate(spark, "/root/testdata/sf0.001", d, copies = 12)
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .withColumn("copy", (col("doc_id") / 1000000000L).cast("long"))
      .withColumn("base_id", col("doc_id") % 1000000000L)
    assert(docs.count() === 12 * spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").count())
    // bijection: permuted copies keep every doc's distinct-shingle count
    val drift = docs
      .select(col("base_id"),
        size(array_distinct(expr(shingles("text")))).as("n_sh"))
      .groupBy(col("base_id"))
      .agg(countDistinct(col("n_sh")).as("variants"))
      .filter(col("variants") > 1)
    assert(drift.count() === 0, "permutation map changed a shingle-set size")
    // near-disjointness: copy 11 shares well under half its shingles
    // with copy 0 for every doc (expected survival ~(1/26)^4 per shingle)
    val sh = docs.filter(col("copy").isin(0L, 11L))
      .select(col("copy"), col("base_id"),
        explode(array_distinct(expr(shingles("text")))).as("sh"))
    val a = sh.filter(col("copy") === 0L).select(col("base_id"), col("sh"))
    val b = sh.filter(col("copy") === 11L).select(col("base_id"), col("sh"))
    val overlap = a.join(b, Seq("base_id", "sh")).groupBy(col("base_id"))
      .agg(count(lit(1)).as("common"))
    val sizes = a.groupBy(col("base_id")).agg(count(lit(1)).as("n"))
    assert(overlap.join(sizes, "base_id")
      .filter(col("common") > col("n") * 0.5).count() === 0,
      "a permutation copy shares most of its shingles with the original")
    // embeddings: ids disjoint, and the sign-flip keeps the wrapped
    // rotation (copy 10 at 64 dims could otherwise repeat a legacy
    // rotation) from cloning any earlier copy of the same source
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
      .withColumn("copy", (col("vec_id") / 1000000000L).cast("long"))
      .withColumn("base_id", col("vec_id") % 1000000000L)
    assert(emb.select("vec_id").distinct().count() === emb.count())
    val cross = emb.filter(col("copy") === 10L).as("x")
      .join(emb.filter(col("copy") < 10L).as("y"), Seq("base_id"))
      .select(col("base_id"), col("y.copy").as("other"),
        expr("aggregate(zip_with(x.embedding, y.embedding, (a, b) -> " +
          "CAST(a AS DOUBLE) * b), 0D, (s, v) -> s + v)").as("dot"),
        expr("sqrt(aggregate(transform(x.embedding, a -> CAST(a AS " +
          "DOUBLE) * a), 0D, (s, v) -> s + v))").as("nx"),
        expr("sqrt(aggregate(transform(y.embedding, a -> CAST(a AS " +
          "DOUBLE) * a), 0D, (s, v) -> s + v))").as("ny"))
      .select((col("dot") / (col("nx") * col("ny"))).as("cos"))
    val worst = cross.agg(max(abs(col("cos")))).first().getDouble(0)
    assert(worst < 0.9,
      f"a permutation-regime embedding copy clones an earlier copy " +
        f"(max |cos| = $worst%.3f)")
  }
}
