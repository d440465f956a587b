package graft

import org.apache.spark.sql.functions._

/** Synthesizes an N× corpus from a driver scale-factor dir for scale-stress
  * runs of the dedup/ANN/text families (SCALE.md "measured stress" table):
  *
  *   sbt "runMain graft.ScaleStress /root/testdata/sf0.1 /tmp/sf0.1x10 10"
  *   SPARK_GRAFT_SF_DIR=/tmp/sf0.1x10 SPARK_GRAFT_ONLY=... runMain graft.Bench
  *
  * Construction (copy k of each row, k = 0..copies-1):
  *   - `documents`: doc_id += k·10⁹; for k > 0 the text goes through a
  *     copy-specific BIJECTIVE character map (`translate` with the
  *     letter/digit alphabets rotated by k — Caesar-style). Within a
  *     copy every similarity relation is preserved exactly (the map is
  *     a bijection on characters, so shingle-set overlaps are
  *     invariant), while across copies the 5-CHAR shingle sets (the
  *     unit `docShingles` dedups on) are disjoint except for
  *     space/punct runs — copies are NOT near-duplicates of each
  *     other, and the corpus keeps the ORGANIC dup density (each
  *     original near-dup cluster recurs once per copy: dup volume
  *     grows linearly with corpus size, like a real crawl). A naive
  *     union WITHOUT the map would plant 10-deep exact-dup clusters
  *     and grow every LSH bucket 10×, measuring the synthetic data's
  *     cluster structure instead of the engine's scaling. (A word-level
  *     salt was tried first and rejected: 5-char shingles INSIDE
  *     unsalted words survive across copies, which planted ~8× extra
  *     cross-copy near-dup pairs at j ≥ 0.7.)
  *   - `embeddings`: vec_id += k·10⁹; the vector is rotated by k
  *     positions. A rotation of an i.i.d. random vector is statistically
  *     independent of the original (E[cos] ≈ 0), so copies don't form
  *     artificial cosine near-dup clusters either.
  * Both transforms are narrow (no shuffle) — generation is scan-speed.
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, copiesS) = args.take(3)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "graft-scalestress")
    generate(spark, srcDir, outDir, copiesS.toInt)
    println(s"[scalestress] wrote ${copiesS}x documents+embeddings+events" +
      s"+TPC-H tables to $outDir")
    spark.stop()
  }

  def generate(spark: org.apache.spark.sql.SparkSession, srcDir: String,
      outDir: String, copies: Int): Unit = {
    val idOffset = 1000000000L

    // Per-copy bijection family. Copies 1-9 keep the original ROTATION
    // (Caesar) maps — bit-identical corpora to every earlier measured
    // 10×-and-under run. Copies >= 10 use a SEEDED PERMUTATION of each
    // alphabet (Fisher-Yates, seed = copy index): rotation amounts repeat
    // past the digit alphabet's length, but two independent seeded
    // permutations agree on any single character w.p. ~1/len, so a 5-char
    // shingle survives between two copies w.p. ~(1/len)^(distinct chars)
    // — the strict ≤10 disjointness guarantee becomes a probabilistic one
    // (expected surviving shingles per copy pair ≪ 1), which is what the
    // 100×-shape rehearsals need: organic dup density, no planted
    // cross-copy near-dups, at any copy count.
    require(copies <= 1000, s"copies=$copies: keep the synthetic corpus sane")
    val docs = GraftSession.table(spark, srcDir, "documents")
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val digits = "0123456789"
    def rot(s: String, k: Int): String = {
      val n = 1 + (k - 1) % (s.length - 1)
      s.drop(n) + s.take(n)
    }
    def perm(s: String, k: Int): String = {
      val arr = s.toCharArray
      val rnd = new scala.util.Random(0x9E3779B97F4A7C15L * k + s.length)
      var i = arr.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = arr(i); arr(i) = arr(j); arr(j) = t
        i -= 1
      }
      new String(arr)
    }
    def charMap(k: Int): String =
      if (k < 10) rot(lower, k) + rot(upper, k) + rot(digits, k)
      else perm(lower, k) + perm(upper, k) + perm(digits, k)
    (0 until copies).map { k =>
      val mapped =
        if (k == 0) col("text")
        else translate(col("text"), lower + upper + digits, charMap(k))
      docs.select(
        (col("doc_id") + lit(k * idOffset)).as("doc_id"),
        mapped.as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    // `events` (r22, for the CDC serving/bootstrap 10× evidence): copy k
    // offsets event_id AND user_id by k·10⁹ — per-key histories stay
    // disjoint across copies, so the serving state's key count grows
    // linearly with the corpus (organic key density: no planted
    // cross-copy version collisions, tombstone/update mix per key
    // unchanged) while timestamps keep the original range (the
    // bootstrap cut and replay windows stay corpus-shaped).
    val ev = GraftSession.table(spark, srcDir, "events")
    (0 until copies).map { k =>
      ev.select(
        (col("event_id") + lit(k * idOffset)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(k * idOffset)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // TPC-H tables (r22, for the pagerank 10× evidence; full width so
    // every TPC-H query runs against the stress dir): orderkey/custkey/
    // suppkey offset per copy — k disjoint copies of the
    // supplier→customer edge multigraph concentrating on the SAME 25
    // nations (exactly how TPC-H scale factors grow: rows scale, nation
    // cardinality is fixed), so edge volume grows linearly and the
    // pagerank output stays 25 rows at any scale. Read as raw parquet so
    // each copy keeps its source schema column for column; only the key
    // columns change. nation, region and part copy unchanged (every
    // copy's nation and part keys point into the one set).
    def copied(table: String, keys: Seq[String]): Unit = {
      val df = spark.read.parquet(s"$srcDir/$table.parquet")
      (0 until copies).map { k =>
        keys.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(k * idOffset)))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }
    copied("lineitem", Seq("l_orderkey", "l_suppkey"))
    copied("orders", Seq("o_orderkey", "o_custkey"))
    copied("customer", Seq("c_custkey"))
    copied("supplier", Seq("s_suppkey"))
    Seq("nation", "region", "part").foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }

    val emb = GraftSession.table(spark, srcDir, "embeddings")
    val dims = emb.selectExpr("size(embedding)").first().getInt(0)
    (0 until copies).map { k =>
      // copies 1..9: plain rotation (unchanged legacy corpora). Past
      // that, rotation amounts wrap at `dims`, so compose the rotation
      // (k % dims) with a SEEDED Rademacher sign pattern — two copies
      // coincide only on equal rotation AND equal signs (never, across
      // distinct seeds), and a sign-flipped rotation of an i.i.d. vector
      // stays statistically independent of every other copy (E[cos]≈0).
      val r = if (k < 10) k else k % dims
      val rotated =
        if (r == 0) col("embedding")
        else concat(
          slice(col("embedding"), r + 1, dims - r),
          slice(col("embedding"), 1, r))
      val mapped =
        if (k < 10) rotated
        else {
          val rnd = new scala.util.Random(0xC2B2AE3D27D4EB4FL * k)
          val signs = array((0 until dims).map(_ =>
            lit(if (rnd.nextBoolean()) 1.0f else -1.0f)): _*)
          zip_with(rotated, signs, (a, b) => a * b)
        }
      emb.select(
        (col("vec_id") + lit(k * idOffset)).as("vec_id"),
        mapped.as("embedding"), col("label"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    ()
  }
}

/** Measures the banded near-dup chain under a configurable band shape:
  *
  *   sbt "runMain graft.ScaleProbe <dir> <bands> <rowsPerBand> <threshold>"
  *
  * Prints one JSON line with stage cardinalities + wall time — the
  * instrument behind SCALE.md's band-shape scaling table. The signature
  * build (shared chain) is timed separately from the band-dependent
  * candidate+verify stages so shape comparisons aren't polluted by the
  * shape-independent cost.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val Array(dir, bandsS, rowsS, thS) = args.take(4)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "graft-scaleprobe")
    // charge the shared signature chain once, outside the probe timing
    val t0 = System.nanoTime()
    analytics.DedupQueries.buildChain(spark, dir)
    val chainSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val (docs, cand, verified) = analytics.DedupQueries.nearDupStats(
      spark, dir, bandsS.toInt, rowsS.toInt, thS.toDouble)
    val probeSec = (System.nanoTime() - t1) / 1e9
    println(f"""{"dir":"$dir","bands":${bandsS.toInt},"rows":${rowsS.toInt},"threshold":${thS.toDouble},"docs":$docs,"candidates":$cand,"verified":$verified,"chain_sec":$chainSec%.3f,"probe_sec":$probeSec%.3f}""")
    spark.stop()
  }
}

/** Measures the serving-table merge's partition pruning —
  *
  *   sbt "runMain graft.StoreProbe <sfDir> <copies>"
  *
  * Seeds a [[graft.streaming.CdcServingTable]] with `copies` × the events
  * table — each copy as its OWN set of event-type tables (`click_k`, …),
  * so growing `copies` grows the store's TABLE COUNT while every
  * partition keeps the same size — then times a TRICKLE merge: a 100-row
  * batch touching ONE table. Prints store size, seed time, trickle time,
  * and how many partition files the trickle rewrote vs carried as links.
  * The O(touched)-not-O(store) claim is the flat trickle line as the
  * store grows around an unchanged touched partition — the evidence
  * behind SCALE.md's partition-pruned-merge row.
  */
object StoreProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, copiesS) = args.take(2)
    val copies = copiesS.toInt
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "graft-storeprobe")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ev = GraftSession.table(spark, sfDir, "events")
    val types = ev.select($"event_type").distinct()
      .collect().map(_.getString(0)).sorted
    val img = map(lit("event_id"), col("event_id").cast("string"),
      lit("user_id"), col("user_id").cast("string"))
    def envelopes(df: org.apache.spark.sql.DataFrame) = df.select(
      lit("app").as("database"), col("event_type").as("table"),
      lit("insert").as("action"),
      typedlit(Map.empty[String, String]).as("before"), img.as("after"),
      typedlit(Seq.empty[Seq[String]]).as("orgRow"),
      struct(unix_timestamp(col("ts")).as("timestamp"),
        col("event_id").as("logPos"), lit("").as("segment"))
        .as("eventHeader")).as[graft.model.MQEvent]
    val seedRows = (0 until copies).map(k =>
      ev.withColumn("event_type", concat($"event_type", lit(s"_$k")))
        .withColumn("event_id", $"event_id" + k * 1000000000L))
      .reduce(_ unionByName _)
    val dir = java.nio.file.Files.createTempDirectory("store-probe").toString
    val store = new graft.streaming.CdcServingTable(dir,
      (for { t <- types.toSeq; k <- 0 until copies }
        yield s"app.${t}_$k" -> "user_id").toMap)
    val t0 = System.nanoTime()
    store.merge(envelopes(seedRows))
    val seedSec = (System.nanoTime() - t0) / 1e9
    val storeRows = store.snapshot(spark).count()
    // trickle: 100 fresh rows of ONE table (same table at every scale)
    val trickle = ev.filter($"event_type" === types.head).limit(100)
      .withColumn("event_type", concat($"event_type", lit("_0")))
      .withColumn("event_id", $"event_id" + 5000000000L)
      .withColumn("user_id", $"user_id" + 5000000000L)
    val t1 = System.nanoTime()
    store.merge(envelopes(trickle))
    val trickleSec = (System.nanoTime() - t1) / 1e9
    // second trickle: ONE key — the bucket-granularity case (a 100-key
    // batch hashes into ~every bucket of its table; a single key shows
    // untouched BUCKETS of the touched table carrying as links)
    val oneRow = trickle.limit(1)
      .withColumn("event_id", $"event_id" + 1000000000L)
    val t2 = System.nanoTime()
    store.merge(envelopes(oneRow))
    val oneSec = (System.nanoTime() - t2) / 1e9
    // rewritten = (tbl, pkb) leaf partitions in vN whose files are NOT
    // hard links of vN-1's (linked carries share an inode)
    def leafDirs(v: java.io.File): Seq[java.io.File] =
      Option(v.listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("tbl="))
        .flatMap(t => Option(t.listFiles()).getOrElse(Array.empty)
          .filter(d => d.isDirectory && d.getName.startsWith("pkb=")))
        .toSeq
    def rewrittenVs(cur: java.io.File, prev: java.io.File) =
      leafDirs(cur).partition { d =>
        val twin = prev.toPath.resolve(cur.toPath.relativize(d.toPath))
          .toFile
        !twin.exists() ||
          d.listFiles().filter(_.isFile).exists(f =>
            !new java.io.File(twin, f.getName).exists() ||
              !java.nio.file.Files.isSameFile(f.toPath,
                new java.io.File(twin, f.getName).toPath))
      }
    val (rw1, ca1) = rewrittenVs(new java.io.File(dir, "v1"),
      new java.io.File(dir, "v0"))
    val (rw2, ca2) = rewrittenVs(new java.io.File(dir, "v2"),
      new java.io.File(dir, "v1"))
    println(f"""{"copies":$copies,"tables":${types.length * copies},"store_rows":$storeRows,"seed_sec":$seedSec%.3f,"trickle_sec":$trickleSec%.3f,"buckets_rewritten":${rw1.length},"buckets_carried":${ca1.length},"one_key_sec":$oneSec%.3f,"one_key_buckets_rewritten":${rw2.length},"one_key_buckets_carried":${ca2.length}}""")
    spark.stop()
  }
}

/** The SRP counterpart of [[ScaleProbe]]: stage cardinalities for a banded
  * sign-LSH shape over `embeddings` —
  *
  *   sbt "runMain graft.SrpProbe <dir> <bands> <rowsPerBand>"
  *
  * `candidates` counts bucket-mate pairs BEFORE the distinct (Σ over
  * (band, bits) buckets of n·(n−1)/2, computed from bucket occupancies —
  * no join materializes), which is exactly the work the verify stage pays;
  * `verified` is the final pair count at the oracle threshold. The
  * evidence behind SCALE.md's SRP band-shape row.
  */
object SrpProbe {
  def main(args: Array[String]): Unit = {
    val Array(dir, bandsS, rowsS) = args.take(3)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "graft-srpprobe")
    val t0 = System.nanoTime()
    val (vecs, cand, verified) = analytics.DedupQueries.srpStats(
      spark, dir, bandsS.toInt, rowsS.toInt)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"dir":"$dir","bands":${bandsS.toInt},"rows":${rowsS.toInt},"vecs":$vecs,"candidates":$cand,"verified":$verified,"probe_sec":$sec%.3f}""")
    spark.stop()
  }
}
