package graft.analytics

import graft.SparkSpec

/** [[IndexLayout.familyOf]] — the deterministic catalog-name prefix
  * every bucketed artifact's table registrations key on. Pinned: one
  * family per physical directory (symlink aliases collapse), and
  * canonicalization failures DEGRADE to the absolute path instead of
  * failing the read (java.io canonicalization throws IOException on
  * paths the filesystem rejects, e.g. embedded NUL).
  */
class IndexLayoutSpec extends SparkSpec {

  test("symlinked aliases of one artifact dir resolve to one family") {
    val real = java.nio.file.Files.createTempDirectory("graft-fam-real")
    val link = new java.io.File(real.getParent.toFile,
      s"graft-fam-link-${System.nanoTime()}").toPath
    java.nio.file.Files.createSymbolicLink(link, real)
    try assert(IndexLayout.familyOf(link.toString) ===
      IndexLayout.familyOf(real.toString),
      "a symlinked alias produced a second family — duplicate catalog " +
        "registrations over identical files")
    finally {
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.deleteIfExists(real)
    }
  }

  test("pathological paths fall back to the absolute path instead of " +
      "throwing") {
    // embedded NUL: UnixFileSystem.canonicalize rejects it with
    // IOException where getAbsolutePath does not
    val fam = IndexLayout.familyOf("/tmp/graft\u0000bad")
    assert(fam.startsWith("graft_idx_") && fam.length === "graft_idx_".length + 12,
      s"fallback family malformed: $fam")
  }

  test("family is stable across relative and absolute spellings") {
    val real = java.nio.file.Files.createTempDirectory("graft-fam-rel")
    try {
      val abs = real.toString
      val viaDot = new java.io.File(real.getParent.toFile,
        s"./${real.getFileName}").toString
      assert(IndexLayout.familyOf(abs) === IndexLayout.familyOf(viaDot),
        "equivalent path spellings produced different families")
    } finally java.nio.file.Files.deleteIfExists(real)
  }

  test("register verifies the FULL signature of a pre-existing entry: a " +
      "same-location table with a drifted bucket spec is recreated") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // an artifact dir rebuilt in-session at the same path restarts
    // version ids, so the catalog can hold a same-name same-location
    // entry whose BUCKET SPEC no longer matches the artifact meta (r21
    // ADVICE: location-only verification would reuse it, and the memo
    // would entrench wrong bucket metadata into every later join)
    val ver = java.nio.file.Files
      .createTempDirectory("graft-reg-drift").resolve("v0")
    val tableDir = new java.io.File(ver.toFile, "t")
    val fam = IndexLayout.familyOf(ver.getParent.toString)
    val df = (0L until 64L).toDF("doc_id").withColumn("x", col("doc_id") * 2)
    val spec8 = IndexLayout.TableSpec(8, Seq("doc_id"), Seq("doc_id"),
      df.schema.toDDL)
    IndexLayout.writeInto(df, fam, "t", ver.toFile, spec8, overwrite = true)
    val name = IndexLayout.register(spark, fam, "t", tableDir, spec8)
    def numBuckets: Int = spark.sql(s"DESCRIBE FORMATTED $name").collect()
      .find(_.getString(0) == "Num Buckets").get.getString(1).trim.toInt
    assert(numBuckets === 8)
    // same location, different modulus — as if the artifact dir was
    // deleted and rebuilt with a different byte-sized count. register
    // must drop/recreate, not reuse by location.
    IndexLayout.deregister(spark, fam, "t", 0L)
    spark.sql(s"CREATE TABLE $name (${spec8.schemaDDL}) USING parquet " +
      s"CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO 4 BUCKETS " +
      s"LOCATION '${tableDir.getAbsolutePath}'")
    val again = IndexLayout.register(spark, fam, "t", tableDir, spec8)
    assert(again === name)
    assert(numBuckets === 8,
      "register reused a same-location entry whose bucket spec drifted")
    // schema drift is judged nullability aside: an entry differing ONLY
    // in nullability is the same table and is reused (a marker property
    // survives); a column TYPE change is still recreated
    def marked: Boolean = spark.sql(s"SHOW TBLPROPERTIES $name").collect()
      .exists(_.getString(0) == "graft.spec.marker")
    def recreateWith(ddl: String): Unit = {
      IndexLayout.deregister(spark, fam, "t", 0L)
      spark.sql(s"CREATE TABLE $name ($ddl) USING parquet " +
        s"CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO 8 BUCKETS " +
        s"LOCATION '${tableDir.getAbsolutePath}'")
      spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES " +
        "('graft.spec.marker' = '1')")
      assert(marked)
    }
    assert(spec8.schemaDDL.contains("NOT NULL"))
    recreateWith("doc_id BIGINT, x BIGINT")
    IndexLayout.register(spark, fam, "t", tableDir, spec8)
    assert(marked,
      "register recreated an entry differing only in nullability")
    recreateWith("doc_id BIGINT, x INT")
    IndexLayout.register(spark, fam, "t", tableDir, spec8)
    assert(!marked, "register reused an entry whose column type drifted")
    assert(spark.table(name).schema("x").dataType ===
      org.apache.spark.sql.types.LongType)
  }
}
