package perfbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.analytics.DedupIndex
import graft.streaming.{IngestDedup, IngestDoc, TakedownQueue}

/** `ingest_dedup`: a closed drain of documents through
  * `IngestDedup.dedupIngestFromIndex` with `admitId` set — every batch
  * probes the durable index, then is admitted to it, with compaction every
  * `CompactEvery` batches and a low rate of takedowns. The drain is of a
  * fixed size — the whole planned stream — and does not scale with
  * `--seconds`: each batch costs seconds, and the planted-recall check
  * needs every plant to pass.
  */
object IngestBench {
  val HoldOutEvery = 10     // one corpus document in ten arrives on the stream
  val Planted = 20          // near-duplicates of corpus documents
  val Exact = 10            // verbatim copies under fresh ids
  val BatchDocs = 20
  val CompactEvery = 1      // every batch does the same kinds of work
  val Threshold = 0.8       // the index's verify threshold

  /** 5-character shingles, as the program's signatures take them. */
  def shingles(text: String): Set[String] =
    if (text.length < 5) Set(text) else (0 to text.length - 5).map(i => text.substring(i, i + 5)).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  final case class Plan(corpus: Seq[IngestDoc], batches: Seq[Seq[IngestDoc]],
      plants: Seq[(Long, Long)], takedowns: Map[Int, Seq[Long]], text: Map[Long, String])

  /** The seeded stream: held-out documents, planted near-duplicates of
    * known Jaccard and exact copies, shuffled into fixed-size batches.
    */
  def plan(docs: Seq[IngestDoc], seed: Long): Plan = {
    val rnd = new scala.util.Random(seed)
    val (held, corpus) = docs.partition(d => Math.floorMod(d.doc_id * 2654435761L + seed, HoldOutEvery.toLong) == 0)
    val pool = rnd.shuffle(corpus.filter(_.text.length >= 40))
    var nextId = docs.map(_.doc_id).max + 1
    val plants = ArrayBuffer.empty[(IngestDoc, Long)]
    val it = pool.iterator
    while (plants.size < Planted && it.hasNext) {
      val src = it.next()
      val chars = src.text.toCharArray
      (0 until 1 + rnd.nextInt(3)).foreach { _ =>
        val i = rnd.nextInt(chars.length)
        chars(i) = if (chars(i) == 'q') 'z' else 'q'
      }
      val t = new String(chars)
      if (t != src.text && jaccard(src.text, t) >= 0.85) {
        plants += (IngestDoc(nextId, t) -> src.doc_id); nextId += 1
      }
    }
    val rest = it.toVector // corpus documents no plant was made from
    val copies = rest.take(Exact).map { d => val c = IngestDoc(nextId, d.text); nextId += 1; c -> d.doc_id }
    val stream = rnd.shuffle(held ++ plants.map(_._1) ++ copies.map(_._1))
    val batches = stream.grouped(BatchDocs).toSeq
    // one takedown of an uninvolved corpus document with every batch
    val untouched = rest.drop(Exact).take(batches.size).map(_.doc_id)
    Plan(corpus, batches, (plants ++ copies).map { case (d, src) => src -> d.doc_id }.toSeq,
      untouched.zipWithIndex.map { case (id, i) => i -> Seq(id) }.toMap,
      (docs ++ stream).map(d => d.doc_id -> d.text).toMap)
  }

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val docs = graft.GraftSession.table(spark, ctx.args.dataDir.toString, "documents")
      .select(col("doc_id"), col("text")).as[IngestDoc].collect().toSeq.sortBy(_.doc_id)
    val p = plan(docs, ctx.seed)
    val corpusDf = p.corpus.toDF()
    def buildIndex(): String = {
      val dir = ctx.fresh("dedup-index")
      DedupIndex.build(spark, corpusDf, dir)
      dir
    }
    // set-up, three times: build the durable index from the corpus; the
    // timed drain admits into the last one
    var index: String = null
    for (_ <- 0 until 3) ctx.timeSetup { index = buildIndex() }

    val (pairs, admitMs, wall) = ctx.heapWindow(ctx.withSparkLayer(drain(ctx, p, index)))
    val streamed = p.batches.map(_.size).sum
    ctx.attempted += streamed
    ctx.e2e.put("throughput_per_s", streamed / wall, "1/s")
    ctx.e2e.put("latency_p50_ms", Stats.pct(admitMs, 50), "ms")
    ctx.e2e.put("latency_p90_ms", Stats.pct(admitMs, 90), "ms")
    val recall = check(ctx, p, pairs)

    val l = ctx.layer
    l.put("docs_per_s", streamed / wall, "1/s")
    l.put("admit_p50_ms", Stats.pct(admitMs, 50), "ms")
    l.put("admit_p90_ms", Stats.pct(admitMs, 90), "ms")
    l.put("index.versions", Cdc.versions(Paths.get(index)).toDouble, "count")
    l.put("index.l0_files", Cdc.newestVersionFiles(Paths.get(index)).count(f =>
      f.getParent.getFileName.toString == "_l0" && f.toString.endsWith(".parquet")).toDouble, "count")
    l.put("index.artifact_bytes", DedupIndex.artifactBytes(index).toDouble, "bytes")
    l.put("index.pairs_per_doc", pairs.size.toDouble / streamed, "ratio")
    l.put("index.planted_recall", recall, "ratio")
    if (ctx.args.trace) {
      // the mirror of the same stream, untraced and traced, each on a fresh
      // index, batch by batch in alternating order so that neither pays
      // the other's warm-up
      val (plain, traced) = (buildIndex(), buildIndex())
      val off = new Tracer(enabled = false)
      val (plainOut, mirrored) = (mutable.Set.empty[(Long, Long)], mutable.Set.empty[(Long, Long)])
      var untraced, mirrorWall = 0.0
      p.batches.indices.foreach { i =>
        def one(): Unit = untraced += Cdc.wallS(mirrorBatch(ctx, off, p, plain, i, plainOut))
        def two(): Unit = mirrorWall += Cdc.wallS(mirrorBatch(ctx, ctx.tracer, p, traced, i, mirrored))
        if (i % 2 == 0) { one(); two() } else { two(); one() }
      }
      ctx.check(mirrored.toSet == pairs, s"traced mirror reported ${mirrored.size} pairs, the stream ${pairs.size}")
      val n = p.batches.size.toDouble
      Seq("index.load", "index.probe", "index.append", "index.compact").foreach(s =>
        l.put(s"${s}_ms", ctx.tracer.totalMs(s) / n, "ms"))
      Cdc.traceOverhead(ctx, untraced, mirrorWall)
      Cdc.selfTimes(ctx, Seq("index.batch"))
      QuerySuite.tracePass(ctx)
    }
  }

  /** The streaming drain: (reported pairs, per-batch trigger ms, wall s). */
  private def drain(ctx: Main.Ctx, p: Plan, index: String): (Set[(Long, Long)], Seq[Double], Double) = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[IngestDoc]
    val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long)]()
    // the default wiring: requests are journaled under the index dir
    val takedowns = new TakedownQueue()
    val t0 = System.nanoTime()
    val q = IngestDedup.dedupIngestFromIndex(input.toDS(), index, ctx.fresh("ingest-ckpt"),
      admitId = Some("bench"), compactEvery = CompactEvery, takedowns = Some(takedowns)) { (pairs, _) =>
      pairs.collect().foreach(r => got.add((r.getLong(0), r.getLong(1))))
    }
    val wall =
      try {
        p.batches.zipWithIndex.foreach { case (b, i) =>
          p.takedowns.get(i).foreach(ids => takedowns.request(ids, s"takedown-$i"))
          input.addData(b)
          q.processAllAvailable()
        }
        (System.nanoTime() - t0) / 1e9
      } finally q.stop()
    val admit = q.recentProgress.filter(_.numInputRows > 0).map(Cdc.duration(_, "triggerExecution")).toSeq
    ctx.note(f"drained ${p.batches.size} batches in $wall%.2f s")
    (got.asScala.toSet, admit, wall)
  }

  /** Batch `i` through `DedupIndex.load/probeLoaded/append/compact` as the
    * stream takes it, each call a span of the batch's trace; the pairs it
    * reports go to `out`.
    */
  private def mirrorBatch(ctx: Main.Ctx, tr: Tracer, p: Plan, index: String, i: Int,
      out: mutable.Set[(Long, Long)]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val b = p.batches(i)
    tr.span("index.batch", trace = s"batch-$i") {
      val df = b.toDF()
      val ids = b.map(_.doc_id).toSet
      val loaded = tr.span("index.load")(DedupIndex.load(spark, index))
      tr.span("index.probe") {
        DedupIndex.probeLoaded(loaded, df, micro = true).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .filterNot { case (a, n) => ids(a) && ids(n) }
          .foreach(out += _)
      }
      var bumps = 0
      if (tr.span("index.append")(DedupIndex.append(spark, df, index, s"bench-$i"))) bumps += 1
      if ((i + 1) % CompactEvery == 0 && !DedupIndex.purgePending(index) &&
          tr.span("index.compact")(DedupIndex.compact(spark, index, 64)) > 0) bumps += 1
      p.takedowns.get(i).foreach { t =>
        if (DedupIndex.deleteAll(spark, index, Seq(t.toDF("doc_id") -> s"takedown-$i"))) bumps += 1
      }
      if (bumps > 0) DedupIndex.prune(spark, index, bumps + 1)
    }
  }

  /** Planted recall is 1.0 and every reported pair clears the threshold
    * by exact Jaccard. Returns the recall.
    */
  private def check(ctx: Main.Ctx, p: Plan, pairs: Set[(Long, Long)]): Double = {
    val found = p.plants.count { case (src, copy) => pairs((src, copy)) }
    val recall = found.toDouble / p.plants.size
    ctx.check(recall == 1.0, s"planted recall $recall ($found of ${p.plants.size})")
    val below = pairs.filter { case (a, b) => jaccard(p.text(a), p.text(b)) < Threshold - 1e-9 }
    ctx.check(below.isEmpty, s"${below.size} reported pairs below Jaccard $Threshold")
    recall
  }
}
