package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.analytics.DedupQueries

/** One raw document arriving on the ingest stream. */
final case class IngestDoc(doc_id: Long, text: String)

/** One embedding vector arriving on the ingest stream. */
final case class IngestVec(vec_id: Long, embedding: Seq[Float])

/** Thread-safe takedown mailbox for a RUNNING ingest stream — the safe
  * seat for deletion against an artifact an admitting loop owns. A
  * delete issued from any other thread races the loop's admission (the
  * single-writer tripwire fails the stream, by design); `request` from
  * anywhere instead, and the loop drains the queue from its own writer
  * thread after each trigger's maintenance
  * ([[graft.analytics.IndexTombstones]] logical deletes — idempotent
  * per `deltaId`, so a crash between the delete and the checkpoint
  * commit re-applies harmlessly). Applied at the NEXT trigger: an idle
  * stream (no incoming batches) holds requests until data arrives —
  * for an urgent takedown on a quiet stream, stop → delete → restart
  * from the checkpoint is the alternative seat. Probe-only streams
  * (no `admitId`) may use the queue too when the stream is the
  * artifact's designated writer.
  *
  * DURABILITY — journaled by DEFAULT at the writer seat (r18 verdict
  * #4): a queue handed to an admitting face without an explicit
  * `journalDir` gets the artifact-default journal
  * (`<indexDir>/_takedown_journal`) attached at stream construction
  * ([[attachDefaultJournal]]), so a compliance request on the default
  * wiring survives a crash of the process that enqueued it. Opt OUT
  * with `durable = false` — then the queue is in-memory ONLY: a
  * request enqueued but not yet drained is silently lost if the
  * process crashes or the stream fails. An APPLIED delete is
  * crash-safe either way (the tombstone set and its `deltaId` commit
  * in one pointer swap; a re-request re-applies as a no-op), but in
  * the in-memory mode the undelivered window is the caller's to
  * close — durably record the request on your side and RE-REQUEST
  * until the `deltaId` shows up in the artifact's applied-delta
  * ledger (`DedupIndex.appliedDeltas(indexDir)` / `SrpIndex
  * .appliedDeltas` / `ContainIndex.appliedDeltas` — one small file
  * read; re-requesting an applied deltaId costs one queue node and a
  * ledger lookup).
  *
  * With a JOURNAL (`journalDir` — conventionally a `_takedown_journal`
  * dir next to the artifact; underscore names never collide with the
  * artifact's `v*` versions), the engine closes that window itself:
  * [[request]] persists the entry (tmp-write + fsync + atomic move,
  * one small file per request) BEFORE enqueueing, a NEW queue over the
  * same dir re-enqueues every still-journaled entry at construction
  * (so a restarted stream drains requests its predecessor crashed
  * holding, with no caller re-request), and the maintenance loop
  * truncates an entry only AFTER its drain's delete transaction
  * committed — a crash between the two replays the entry, which the
  * deltaId ledger then no-ops. The journal directory itself is not
  * fsynced (Java offers no portable dir sync), so the entry's
  * durability is that of the filesystem's metadata journaling — the
  * same contract as the artifact pointer swap.
  */
final class TakedownQueue(journalDir: Option[String] = None,
    durable: Boolean = true) {
  private val q =
    new java.util.concurrent.ConcurrentLinkedQueue[(Seq[Long], String)]()

  @volatile private var journal: Option[java.io.File] = None

  journalDir.map(d => new java.io.File(d)).foreach { d =>
    replay(d, except = Set.empty)
    journal = Some(d)
  }

  /** Replay: undrained entries from a previous process, oldest first
    * (order is cosmetic — every entry becomes a tombstone admission
    * keyed by its own deltaId). `except` skips deltaIds already held in
    * memory (the attach-after-request path would otherwise re-enqueue
    * entries this process just journaled).
    */
  private def replay(d: java.io.File, except: Set[String]): Unit = {
    d.mkdirs()
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".req"))
      .sortBy(_.getName)
      .foreach { f =>
        // a MALFORMED entry (truncated write that somehow survived the
        // atomic-move protocol, bit rot, hand-editing) must not wedge
        // every restart — replay runs at stream construction, so a
        // single poisoned file would otherwise throw forever. Quarantine
        // it (rename off the `.req` suffix, keep the bytes for forensics)
        // with a loud warning and start clean; a WELL-FORMED entry that
        // keeps failing downstream is the ledger's job, not replay's.
        try {
          val lines = new String(java.nio.file.Files.readAllBytes(f.toPath),
            java.nio.charset.StandardCharsets.UTF_8).split("\n").toSeq
          val deltaId = lines.headOption.filter(_.nonEmpty).getOrElse(
            throw new IllegalArgumentException("empty deltaId line"))
          val ids = lines.tail.filter(_.nonEmpty).map(_.toLong)
          if (!except.contains(deltaId)) { q.add((ids, deltaId)); () }
        } catch {
          // quarantine ONLY deterministic parse failures (malformed
          // bytes fail the same way on every restart). A transient
          // IOException from readAllBytes must PROPAGATE instead: the
          // entry itself may be well-formed, and converting a passing
          // fault into a permanent removal from the replay namespace
          // would silently drop an at-least-once takedown (r20 ADVICE).
          case e @ (_: NumberFormatException | _: IllegalArgumentException) =>
            val qf = new java.io.File(d, f.getName + ".quarantined")
            java.nio.file.Files.move(f.toPath, qf.toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            System.err.println(
              s"[takedown-journal] QUARANTINED corrupt entry ${f.getName} " +
                s"-> ${qf.getName} (${e.getClass.getSimpleName}: " +
                s"${e.getMessage}) — the request it carried is NOT " +
                "enqueued; inspect and re-request if it was real")
        }
      }
  }

  /** Attach the artifact-default journal (`<indexDir>/_takedown_journal`
    * — underscore-named, so it never collides with `v*` version dirs)
    * when none is attached yet. Called by the faces at stream
    * construction whenever the stream is handed this queue — the writer
    * seat is durable BY DEFAULT (r18 verdict #4); an explicit
    * `journalDir` wins, and `durable = false` opts back into the
    * in-memory mode. Entries already enqueued in this process are
    * journaled here (a request racing the stream start stays durable);
    * entries a crashed predecessor journaled replay into the queue.
    *
    * ONE ARTIFACT PER QUEUE: a queue shared by streams over two
    * DIFFERENT artifacts would journal every request under whichever
    * artifact attached first — a restart of only the other artifact's
    * stream would then replay nothing, silently losing the request
    * (the exact window the journal closes). A second default attach
    * for a different index dir is therefore a LOUD error, not a no-op.
    */
  private[streaming] def attachDefaultJournal(indexDir: String): Unit =
    synchronized {
      val d = new java.io.File(indexDir, TakedownQueue.DefaultJournalName)
      if (durable && journal.isEmpty) {
        d.mkdirs()
        val held = {
          val b = Set.newBuilder[String]
          q.forEach(e => b += e._2)
          b.result()
        }
        q.forEach(e => persistEntry(d, e._1, e._2))
        replay(d, except = held)
        journal = Some(d)
        attachedArtifact = Some(d.getAbsolutePath)
      } else if (durable && attachedArtifact.isEmpty)
        // EXPLICIT-journal queue (journalDir at construction) attaching
        // its first artifact: record it, so a second, different artifact
        // trips the same wire — a restart replay of a shared explicit
        // journal would apply one artifact's takedowns to the other,
        // the exact hazard the default-attach tripwire describes.
        attachedArtifact = Some(d.getAbsolutePath)
      else if (durable && attachedArtifact.exists(_ != d.getAbsolutePath))
        throw new IllegalStateException(
          s"TakedownQueue is already journaled for ${attachedArtifact.get} — " +
            s"one queue serves ONE artifact (a shared queue would journal " +
            s"requests under the wrong index); create a separate queue " +
            s"for $indexDir")
    }

  /** The `<indexDir>/_takedown_journal` path of the FIRST artifact this
    * queue attached to — default or explicit-journal alike; the
    * one-artifact-per-queue tripwire's witness.
    */
  @volatile private var attachedArtifact: Option[String] = None

  /** Entry file name: the deltaId's SHA-256 (deltaIds are caller
    * strings — unsafe as file names; the hash is stable across
    * processes so [[markApplied]] finds the entry to truncate).
    */
  private def entryFile(d: java.io.File, deltaId: String): java.io.File =
    new java.io.File(d, java.security.MessageDigest.getInstance("SHA-256")
      .digest(deltaId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(16).map(b => f"${b & 0xff}%02x").mkString + ".req")

  private def persistEntry(d: java.io.File, ids: Seq[Long],
      deltaId: String): Unit = {
    val tgt = entryFile(d, deltaId)
    val tmp = new java.io.File(d, tgt.getName + ".tmp")
    val ch = java.nio.channels.FileChannel.open(tmp.toPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    try {
      ch.write(java.nio.ByteBuffer.wrap(
        (deltaId +: ids.map(_.toString)).mkString("\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      ch.force(true)
    } finally ch.close()
    java.nio.file.Files.move(tmp.toPath, tgt.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Enqueue ids for deletion under `deltaId` (the caller's idempotence
    * key — namespace it like a stream id, e.g. `takedown-<n>`). With a
    * journal, the entry is durable before this returns. Synchronized
    * against [[attachDefaultJournal]] so a request racing the stream
    * start is either journaled here or swept by the attach, never lost
    * between the two.
    */
  def request(ids: Seq[Long], deltaId: String): Unit = synchronized {
    journal.foreach(persistEntry(_, ids, deltaId))
    q.add((ids, deltaId))
    ()
  }

  def isEmpty: Boolean = q.isEmpty

  private[streaming] def drain(): Seq[(Seq[Long], String)] = {
    val b = Seq.newBuilder[(Seq[Long], String)]
    var e = q.poll()
    while (e != null) { b += e; e = q.poll() }
    b.result()
  }

  /** Truncate the journaled entries of a drained batch — called by the
    * maintenance seat AFTER the delete transaction committed (a crash
    * before this replays the entries; the ledger no-ops them). No-op
    * without a journal.
    */
  private[streaming] def markApplied(reqs: Seq[(Seq[Long], String)]): Unit =
    journal.foreach { d =>
      reqs.foreach { case (_, deltaId) =>
        java.nio.file.Files.deleteIfExists(entryFile(d, deltaId).toPath)
        ()
      }
    }
}

object TakedownQueue {
  /** The artifact-default journal dir name — inside the index dir,
    * underscore-prefixed like every artifact-internal name.
    */
  val DefaultJournalName = "_takedown_journal"

  /** An explicitly in-memory queue — the pre-r19 default. The
    * undelivered-request window is then the CALLER's to close (see the
    * class DURABILITY notes).
    */
  def inMemory(): TakedownQueue = new TakedownQueue(durable = false)
}

/** Streaming ingest dedup — "dedup the firehose against the lake": each
  * micro-batch of arriving documents computes its MinHash signatures
  * batch-locally, probes the STANDING corpus's LSH band index by
  * equi-join, and exact-verifies the candidates — the streaming face of
  * the batch `q_dedup_incremental` (whose DuckDB oracle therefore also
  * pins THIS pipeline's semantics; `IngestDedupSpec` asserts the parity).
  *
  * Scale shape, per batch: O(|batch|) signature build, a band equi-join
  * against the (bucketed, persisted) corpus index, and a verify join
  * whose width is bounded by the match count — the corpus is never
  * re-paired with itself, so steady-state ingest cost is independent of
  * corpus size beyond the index probe. Delivery is Spark's at-least-once
  * `foreachBatch`: a replayed batch re-derives the identical pair rows
  * (pure derivation, deterministic signatures), so any keyed/idempotent
  * downstream sink (the `UpsertStore` pattern, a MERGE target keyed on
  * (corpus_id, new_id)) yields exactly-once EFFECT — the same contract as
  * [[EventStreams.upsertLatest]].
  *
  * PROBE-THEN-ADMIT (`admit = true` on the three index faces): after
  * the sink sees a batch's pairs, the batch itself is ADMITTED into the
  * artifact with `deltaId = "<admitId>-<batchId>"` — the full
  * production loop (dedup the firehose, then index it so the NEXT
  * batch dedups against it). Every leg is replay-safe by construction:
  * a replayed batch's probe cannot self-match its own admitted copies
  * (`id_a =!= id_b` — same doc_id), its re-admission is a deltaId
  * no-op, and the `VersionedCache` picks up each admission's pointer
  * move within one batch — so growth, freshness, and at-least-once
  * delivery compose without caller logic (`IngestAdmitSpec`).
  * `admitId` is the Delta-Lake `txnAppId` idiom: batch ids are only
  * unique WITHIN one checkpoint lineage, so keep `admitId` stable
  * across restarts of the same logical stream (its replays then
  * no-op), and change it when starting a NEW stream over a fresh
  * checkpoint against the same artifact (batch ids restart at 0 there,
  * and colliding deltaIds would silently drop the new stream's
  * admissions). Two contract notes:
  * (1) pairs WITHIN one batch are not reported by its own probe (the
  * probe is delta × standing-corpus; pre-dedup inside the batch with
  * `q_dedup_exact`'s hash groupBy or accept that the pair surfaces if
  * a later batch overlaps); (2) admission cost is O(|batch|) appended
  * files per trigger — `compactEvery = N` runs the artifact's
  * `compact()` from the admission loop every N batches (the
  * single-writer seat compaction requires); `compact` itself is a
  * cheap no-op until a table actually drifts past its file-count
  * threshold, so a small N is safe.
  */
object IngestDedup {

  /** Start the ingest-dedup stream: `sink` receives each micro-batch's
    * verified (corpus_id, new_id, jaccard) pairs plus the batch id.
    * `corpusPer` is the standing corpus signature frame — at scale, a
    * persisted index table; callers typically `.persist()` it so every
    * batch probes memory, not the lake.
    */
  def dedupIngest(docs: Dataset[IngestDoc], corpusPer: DataFrame,
      checkpointDir: String,
      shape: graft.analytics.DedupIndex.Shape =
        graft.analytics.DedupIndex.Shape.Oracle)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .foreachBatch { (batch: Dataset[IngestDoc], batchId: Long) =>
        sink(DedupQueries.incrementalPairs(corpusPer,
          DedupQueries.signaturesOf(batch.toDF(), shape.slots), shape),
          batchId)
      }
      .start()

  /** The EMBEDDING counterpart of [[dedupIngestFromIndex]]: each
    * micro-batch of arriving vectors probes the persisted
    * [[graft.analytics.SrpIndex]] band artifact — the streaming face of
    * the oracled `q_dedup_embedding_incremental`, same per-batch
    * O(|batch| + matches) shape and the same at-least-once/foreachBatch
    * delivery contract as the text face. The index tables (and the band
    * shape the artifact records) ride a [[VersionedCache]]: persisted
    * for as long as the artifact version stands (every batch probes
    * memory, not the lake), reloaded within one batch of an admission
    * moving the pointer, released when the query stops.
    */
  def dedupIngestEmbeddings(vecs: Dataset[IngestVec], indexDir: String,
      checkpointDir: String, admitId: Option[String] = None,
      compactEvery: Int = 0, compactMaxFiles: Int = 64,
      takedowns: Option[TakedownQueue] = None)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    ingestFromIndex(vecs, graft.analytics.SrpIndex, ("corpus_id", "new_id"),
      indexDir, checkpointDir, admitId, compactEvery, compactMaxFiles,
      takedowns)(sink)

  /** [[dedupIngest]]'s production wiring: the stream probes the durable
    * [[graft.analytics.DedupIndex]] artifact built at corpus ingest —
    * BOTH tables (the persisted band index AND the signature sets),
    * banded at the shape the artifact records (never a caller guess),
    * persisted through a [[VersionedCache]] — loaded once per artifact
    * VERSION, not per batch, and refreshed within one batch of a
    * mid-stream admission. Probing the artifact's band table matters
    * beyond the cache: the corpusPer-only wiring re-derived corpus band
    * keys per micro-batch and re-shuffled the whole corpus into every
    * candidate join — O(|corpus|) per batch where the index probe is
    * O(|delta|). Cache entries release when the query stops;
    * `IngestDedupSpec` pins the load-per-version count and the
    * post-admission freshness.
    */
  def dedupIngestFromIndex(docs: Dataset[IngestDoc], indexDir: String,
      checkpointDir: String, admitId: Option[String] = None,
      compactEvery: Int = 0, compactMaxFiles: Int = 64,
      takedowns: Option[TakedownQueue] = None)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    ingestFromIndex(docs, graft.analytics.DedupIndex, ("corpus_id", "new_id"),
      indexDir, checkpointDir, admitId, compactEvery, compactMaxFiles,
      takedowns)(sink)

  /** The CONTAINMENT face, completing the streaming trio (near-dup text,
    * near-dup embeddings, containment): each micro-batch of arriving
    * documents probes the persisted [[graft.analytics.ContainIndex]]
    * artifact — the streaming face of the oracled
    * `q_dedup_containment_incremental`, finding both directions
    * (batch-doc contained in a corpus doc, corpus doc contained in a
    * batch doc) with delta-sized probes of the standing postings. Sink
    * rows are ordered (id_a contained-in id_b, containment ≥ 0.9) pairs
    * with exactly one side in the batch. All four artifact tables ride
    * the same [[VersionedCache]] as the other faces — persisted per
    * artifact version (the postings are the corpus-sized table a
    * per-batch re-read would pay for), refreshed within one batch of an
    * admission, released when the query stops.
    */
  def dedupIngestContainment(docs: Dataset[IngestDoc], indexDir: String,
      checkpointDir: String, admitId: Option[String] = None,
      compactEvery: Int = 0, compactMaxFiles: Int = 64,
      takedowns: Option[TakedownQueue] = None)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    ingestFromIndex(docs, graft.analytics.ContainIndex, ("id_a", "id_b"),
      indexDir, checkpointDir, admitId, compactEvery, compactMaxFiles,
      takedowns)(sink)

  /** The one stream wiring behind the three index faces: each
    * micro-batch probes `index`'s [[VersionedCache]]d frames
    * (`micro = true`), the sink sees the pairs (named `pairCols`) in the
    * [[admissionShape]], and [[maintain]] runs the batch's admission,
    * compaction, takedowns, purge and prune from this writer thread.
    */
  private def ingestFromIndex[T](data: Dataset[T],
      index: graft.analytics.DurableIndex, pairCols: (String, String),
      indexDir: String, checkpointDir: String, admitId: Option[String],
      compactEvery: Int, compactMaxFiles: Int,
      takedowns: Option[TakedownQueue])(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = data.sparkSession
    takedowns.foreach(_.attachDefaultJournal(indexDir))
    val cache = new VersionedCache[index.Loaded](
      () => index.currentVersion(indexDir),
      () => index.load(spark, indexDir),
      l => cacheIfFits(spark, admitting = admitId.isDefined,
        () => index.artifactBytes(indexDir), l.cacheFrames),
      purgePending = () => index.purgePending(indexDir),
      appliedDeltas = () => index.appliedDeltas(indexDir))
    val purgeGrace = new java.util.concurrent.atomic.AtomicInteger(
      purgeGraceSeed(indexDir, index.purgePending(indexDir)))
    // eager first load: a missing/corrupt index must throw HERE,
    // synchronously, not as an async batch-0 failure the caller's error
    // handling never sees (and a failed start() then has real cache
    // entries to release)
    cache.get()
    val start = () => data.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .foreachBatch { (batch: Dataset[T], batchId: Long) =>
        val df = batch.toDF()
        val pairs = index.probeLoaded(cache.get(), df, micro = true)
        val ids = admitId.map(_ => df.select(index.idColumn))
        sink(admissionShape(pairs, pairCols._1, pairCols._2, ids), batchId)
        maintain(index, df, indexDir, admitId, compactEvery,
          compactMaxFiles, batchId, takedowns, purgeGrace)
      }
      .start()
    withCacheLifecycle(spark, start, cache)
  }

  /** Deterministic pair shape under admission: drop rows whose BOTH
    * sides are in the CURRENT batch. Without this, a batch replayed
    * after a crash between its `append` and the checkpoint commit
    * probes against its own admitted copies and emits within-batch
    * pairs a non-crashed run never produces — breaking the "replayed
    * batch re-derives the identical pair rows" exactly-once-effect
    * contract and the faces' one-side-in-the-batch row shape. The
    * membership test is TWO broadcast left-outer joins against the
    * batch's (deduped) id frame — O(1) driver-side regardless of batch
    * size, where the previous `isin` literal collected every batch id
    * to the driver and inlined them into the plan (a backlog-draining
    * first trigger would blow up plan/codegen size; the analogous
    * collect paths elsewhere are capped by
    * [[graft.analytics.IndexLayout.MicroPruneMaxKeys]]). The filter is
    * a semantic no-op on the first delivery (nothing in the batch is
    * in the standing corpus yet); within-batch duplicates stay the
    * caller's pre-dedup step either way (contract note 1 above).
    */
  private[streaming] def admissionShape(pairs: DataFrame, aCol: String,
      bCol: String, batchIds: Option[DataFrame]): DataFrame =
    batchIds match {
      case None => pairs
      case Some(ids) =>
        import org.apache.spark.sql.functions.{broadcast, col}
        // distinct: a left join against duplicate ids would MULTIPLY
        // matching pair rows; the id frame is batch-bounded so the
        // dedup shuffle is too
        val idCol = ids.columns.head
        val dedup = ids.distinct()
        val aIds = dedup.withColumnRenamed(idCol, "__graft_batch_a")
        val bIds = dedup.withColumnRenamed(idCol, "__graft_batch_b")
        pairs
          .join(broadcast(aIds), pairs(aCol) === col("__graft_batch_a"),
            "left")
          .join(broadcast(bIds), col(bCol) === col("__graft_batch_b"),
            "left")
          .filter(col("__graft_batch_a").isNull ||
            col("__graft_batch_b").isNull)
          .drop("__graft_batch_a", "__graft_batch_b")
    }

  /** The per-batch artifact maintenance the admitting faces share:
    * admit the (non-empty — an empty batch must not move the pointer
    * and force a cache re-materialization for nothing) batch under
    * `"<admitId>-<batchId>"`, compact every `compactEvery` batches
    * (the single-writer seat; the bucket-relative threshold makes it a
    * skip until real accrual), drain queued takedowns, and prune — so
    * a long-running admitting stream's version count, disk, and
    * catalog entries stay bounded.
    *
    * READER GRACE, the invariant every step here must respect: the
    * version THIS batch's probe read (call it v) must survive the
    * batch. The [[VersionedCache]] still pins v's frames — an evicted
    * cached partition recomputing from deleted files (or a caller-held
    * lazy pairs frame) would hit FileNotFoundException. The mechanism:
    * every pointer bump this batch ACTUALLY performs is counted (a
    * replayed append and a below-threshold compact return false — no
    * pointer move, no count), and ONE prune runs at the end with
    * `keep = bumps + 1`: all versions this batch created, plus v.
    * Version v is then dropped one batch LATER, by that batch's prune,
    * after the cache has moved off it. A fixed-keep prune after each
    * step (the previous design) broke exactly here: an admitting batch
    * that also drained a takedown bumped twice after its prune and
    * deleted v (r16 ADVICE) — and a drain of N requests bumped N
    * times, outrunning ANY fixed keep, which is why the drain now
    * folds all requests into ONE [[graft.analytics.IndexTombstones
    * .deleteAll]] version. Disk transiently holds at most
    * bumps + 1 ≤ 5 versions (append + compact + drain + auto-purge) —
    * EXCEPT while a budget-sliced purge is mid-flight, when the whole
    * slice chain retains (purge-grace prune below: readers skip the
    * per-slice reloads and stay pinned on the pre-chain version;
    * hard links make the chain cost only its rewritten buckets, and it
    * drops one batch after the purge completes).
    *
    * TAKEDOWNS drain AFTER the batch's admission, from the same writer
    * thread — the only seat that cannot trip the single-writer check —
    * and regardless of batch emptiness (a takedown must not wait on
    * data).
    *
    * AUTO-PURGE (the lakehouse-standard policy): after a drain, if
    * |tombstones| / |corpus| has crossed
    * `spark.graft.index.purge.ratio` (default 0.05; set ≤ 0 or `off`
    * to disable), the PHYSICAL purge fires right here at the
    * maintenance seat — without it a delete-heavy stream accretes
    * tombstones and pays the probe-side anti-join forever, and the
    * compliance story stays "logical until someone remembers". The
    * policy is evaluated whenever requests ARRIVED, not only when they
    * applied fresh: a crash between a drain's delete commit and its
    * purge leaves the ratio above threshold, and the replayed
    * re-request is a deleteAll no-op that must still fire the overdue
    * purge (r17 ADVICE). The ratio check is two parquet-footer counts,
    * paid only on a draining batch (never per batch).
    *
    * The purge itself is BUDGET-SLICED (`spark.graft.index.purge
    * .budget`, buckets per slice, default [[DefaultPurgeBudget]]; ≤ 0 =
    * unlimited): each firing rewrites at most one budget's worth of
    * buckets and the sidecar drops only when the last slice commits —
    * so a purge of the whole-rewrite token/band tables cannot stall the
    * admitting stream for an O(corpus-table) pause (the 31-vs-11 s
    * batch the 100× containment rehearsal measured before the budget
    * existed). Once a sliced purge has started, every subsequent batch
    * runs one slice until it completes — checked via the cheap
    * `purgePending` marker, independent of further takedowns arriving
    * (a half-done purge must not wait for the next delete), and
    * regardless of the ratio still clearing the threshold.
    */
  private def maintain(index: graft.analytics.DurableIndex,
      batch: DataFrame, indexDir: String, admitId: Option[String],
      compactEvery: Int, compactMaxFiles: Int, batchId: Long,
      takedowns: Option[TakedownQueue],
      purgeGrace: java.util.concurrent.atomic.AtomicInteger): Unit = {
    val spark = batch.sparkSession
    val purgeRatio = purgeRatioOf(spark)
    def purgePending = index.purgePending(indexDir)
    var bumps = 0
    admitId.foreach { id =>
      if (!batch.isEmpty) {
        if (index.append(spark, batch, indexDir, s"$id-$batchId")) bumps += 1
        // no compaction while a sliced purge is mid-flight: compaction
        // folds L0 accrual into bucket-named files while the purge's
        // done-slice progress is keyed by those very file names —
        // tombstoned L0 rows (their `raw` slice sorts last, so it is
        // pending for most of the chain) would land in already-done
        // buckets that never rewrite again, leaking deleted rows
        // physically past a "completed" purge (r18 ADVICE). The chain
        // is bounded (ceil(buckets/budget) slices), so compaction just
        // resumes on the first post-completion firing; callers
        // invoking the index compact() OUT of band carry the same
        // constraint (VersionedStore.compactBucketed resets the purge
        // progress itself if they break it — correct, not free).
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0 &&
          !purgePending &&
          index.compact(spark, indexDir, compactMaxFiles) > 0) bumps += 1
      }
    }
    takedowns.foreach { tq =>
      val reqs = tq.drain()
      if (reqs.nonEmpty) {
        import spark.implicits._
        if (index.deleteAll(spark, indexDir, reqs.map { case (ids, d) =>
              ids.toDF(index.idColumn) -> d })) bumps += 1
        // the delete transaction is committed (or was already in the
        // ledger): truncate the drained entries' journal records — a
        // crash BEFORE this line replays them, and the deltaId ledger
        // no-ops the replay
        tq.markApplied(reqs)
      }
      if ((reqs.nonEmpty && purgeRatio.exists(r =>
            index.tombstoneRatio(spark, indexDir) >= r)) ||
          purgePending) {
        if (index.purge(spark, indexDir, purgeBudgetOf(spark))) bumps += 1
      }
    }
    // PURGE-GRACE PRUNE: while a budget-sliced purge is mid-flight,
    // readers skip the slice-by-slice reloads ([[VersionedCache]]'s
    // purge-equivalence skip) and stay pinned on the version they read
    // BEFORE the chain began — so the whole chain of purge-slice
    // versions must survive, not just this batch's bumps. The chain is
    // hard-link-cheap on disk (each slice duplicates only its rewritten
    // buckets) and bounded by ceil(buckets/budget) slices.
    // `purgeGrace` (one counter per stream — the caller owns it)
    // accumulates the chain's bumps; the COMPLETION batch still retains
    // the chain (readers reload on their next poll, which may come
    // after this batch's prune), and the batch AFTER completion drops
    // it — the same one-batch reader grace every bump already has.
    val wasActive = purgeGrace.get > 0
    val active = purgePending
    if (active || wasActive) {
      purgeGrace.addAndGet(bumps)
      // guard on THIS batch's bumps, like the plain branch: only a
      // stream that moved the pointer this batch prunes. A pure READER
      // (admitId=None, no takedown seat) observing someone ELSE's purge
      // has bumps=0 ALWAYS — but a mid-chain start seeds its grace > 0
      // (purgeGraceSeed), so a grace>0 guard would have it prune with a
      // FIXED keep every batch while the writer's slices advance `cur`:
      // prune drops v <= cur - keep, so after one slice it deletes the
      // chain base other skip-pinned readers depend on, and after
      // seed+1 slices its own pinned version (r18 ADVICE). With the
      // bumps guard the reader never prunes; the single writer's grace
      // grows in lockstep with exactly the versions it creates.
      if (bumps > 0) index.prune(spark, indexDir, purgeGrace.get + 1)
      if (!active) purgeGrace.set(0)
    } else if (bumps > 0) index.prune(spark, indexDir, bumps + 1)
  }

  /** Purge-grace seed for a stream STARTING while a sliced purge is
    * already mid-flight: the previous writer's in-memory chain count
    * died with its process, but surviving READER sessions may still be
    * pinned on the chain's base (their purge-equivalence skip never
    * reloaded) — so until this purge completes, treat EVERY version on
    * disk as chain and retain it. Bounded by what the crashed writer's
    * own grace prune already kept; hard links make it cheap. 0 when no
    * purge is pending (the normal start).
    */
  private def purgeGraceSeed(indexDir: String, pending: Boolean): Int =
    if (!pending) 0
    else math.max(0, Option(new java.io.File(indexDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .count(f => f.isDirectory && f.getName.startsWith("v")) - 1)

  /** Default bucket budget per auto-purge slice — sized so one slice's
    * rewrite (~budget × the 32 MB bucket target) stays the same order
    * as a plain admitting batch instead of an O(corpus-table) pause.
    * `spark.graft.index.purge.budget` overrides; ≤ 0 = unlimited (the
    * pre-r18 one-call purge).
    */
  val DefaultPurgeBudget = 8

  private[streaming] def purgeBudgetOf(
      spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("spark.graft.index.purge.budget")
      .flatMap(s => scala.util.Try(s.toInt).toOption)
      .getOrElse(DefaultPurgeBudget)

  /** The auto-purge threshold from session conf — `None` disables
    * (value ≤ 0 or the literal `off`). See [[maintain]]. An UNPARSEABLE
    * value (a typo like "5%") also degrades to disabled — the physical
    * purge is a compliance backstop, so that silent off-switch warns
    * once per distinct bad value instead of saying nothing.
    */
  private val warnedPurgeRatios =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[streaming] def purgeRatioOf(
      spark: org.apache.spark.sql.SparkSession): Option[Double] =
    spark.conf.getOption("spark.graft.index.purge.ratio")
      .getOrElse("0.05") match {
      case "off" => None
      case s =>
        val parsed = scala.util.Try(s.toDouble).toOption
        if (parsed.isEmpty && warnedPurgeRatios.add(s))
          System.err.println(
            s"[graft] WARN spark.graft.index.purge.ratio='$s' is not a " +
              "number — auto-purge is DISABLED (use 'off' to disable " +
              "intentionally)")
        parsed.filter(_ > 0)
    }

  /** CACHE-IF-FITS: the frames a face's [[VersionedCache]] persists —
    * ALL of them while the artifact fits the session's storage budget,
    * NONE once it outgrows it. This is the regime selector the micro
    * probes key on ([[graft.analytics.DedupIndex.probeLoaded]]'s
    * three-regime design): persisted frames flip every probe to the
    * lazy broadcast-delta plan over memory (the steady state measured
    * at 1.2–2.4 s/batch, SCALE.md); past the budget the probes
    * fall to pruned/parallel bucketed disk reads — the only option at
    * 100 TB, where no cluster pins the corpus index in memory.
    *
    * ADMITTING STREAMS SKIP THE CACHE by default (`admitting = true`):
    * every non-empty batch's admission moves the artifact pointer, so
    * a [[VersionedCache]] holding persisted corpus frames would
    * unpersist + re-materialize them EVERY batch — the probe pays a
    * full corpus scan per trigger PLUS the cache write, strictly worse
    * than the uncached pruned-probe regime it displaced (the
    * per-admission tax SCALE.md measured). An admitting face therefore
    * runs regime 2 (bucket-pruned disk probes) unless the operator
    * opts back in with `spark.graft.index.cache.admitting = always`
    * (right when admissions are RARE relative to batches — e.g. a
    * mostly-empty firehose — so the re-materialization amortizes).
    *
    * The budget: a quarter of the EXECUTORS' max storage memory
    * ([[storageBudget]]: the driver's block manager is excluded in
    * cluster mode — it holds no cached partitions, so counting it
    * overestimates headroom; local mode keeps its single entry, which
    * IS the executor) —
    * headroom for the parquet → deserialized-columnar inflation
    * (measured ~2-4× on these tables) and for everything else the
    * storage pool holds. Max (not remaining) memory keeps the policy
    * DETERMINISTIC across version reloads: remaining dips while the
    * previous version's frames await their async unpersist, and a
    * same-sized artifact flapping in and out of cache across versions
    * is worse than a fixed quarter-of-pool bound. `bytes` is ONE
    * driver-side directory walk per version load (never per batch).
    */
  private[streaming] def cacheIfFits(spark: org.apache.spark.sql.SparkSession,
      admitting: Boolean, bytes: () => Long,
      all: => Seq[DataFrame]): Seq[DataFrame] =
    if (admitting && !spark.conf
        .getOption("spark.graft.index.cache.admitting").contains("always"))
      Seq.empty
    else if (bytes() <= storageBudget(
        spark.sparkContext.getExecutorMemoryStatus.toMap,
        spark.sparkContext.getConf.get("spark.driver.host", ""))) all
    else Seq.empty

  /** Quarter of the executors' max storage memory, from
    * `getExecutorMemoryStatus` (keys are `host:port` block-manager
    * addresses). In cluster mode the map includes the DRIVER's block
    * manager — excluded here by driver-host prefix, since it caches no
    * partitions and would inflate the budget by a driver-heap's worth.
    * Local mode (single entry) keeps its one entry: the driver IS the
    * executor there. If the host filter would empty the map (driver
    * co-hosted with every executor), keep the full map rather than
    * return a zero budget.
    */
  private[graft] def storageBudget(status: Map[String, (Long, Long)],
      driverHost: String): Long = {
    val nonDriver =
      if (status.size > 1 && driverHost.nonEmpty)
        status.filterNot { case (k, _) => k.startsWith(driverHost + ":") }
      else status
    val pool = (if (nonDriver.nonEmpty) nonDriver else status)
      .values.map(_._1).sum
    pool / 4
  }

  /** Version-pinned artifact cache for a long-lived prober: `get()`
    * resolves the artifact's CURRENT version once per call (one pointer
    * file read — the cheap check), serves the persisted frames while the
    * version is unchanged, and reloads + re-persists only when an
    * admission moved the pointer. `frames` selects which loaded frames
    * to persist — the [[cacheIfFits]] policy for every face; the
    * persisted list is REMEMBERED per version so the unpersist on
    * reload/release drops exactly what was pinned, even if the policy's
    * answer changed with the new version's size. This bounds the
    * stream's staleness to ONE micro-batch — a delta admitted at batch
    * N is probed against from batch N+1 — while the steady state keeps
    * the load-once cache hit (a pure pin-at-start cache would never see
    * mid-stream admissions; re-loading per batch is the O(|corpus|)
    * re-read the cache exists to avoid). `IngestDedupSpec` pins both
    * halves: one load across same-version batches, and a
    * post-admission batch matching against the admitted doc.
    * `PurgeEquivalenceSpec` pins the third: version bumps from a
    * mid-flight budget-sliced purge do NOT reload (the skip in `get()`
    * below — the answers are bit-identical by the purge contract), so
    * a reader pays one reload per takedown and one per purge
    * COMPLETION, never one per slice.
    */
  private[streaming] final class VersionedCache[L](
      currentVersion: () => Option[Long],
      load: () => L,
      frames: L => Seq[DataFrame],
      purgePending: () => Boolean = () => false,
      appliedDeltas: () => Set[String] = () => Set.empty) {
    private var state: Option[(Option[Long], L, Seq[DataFrame], Set[String])] =
      None
    def get(): L = synchronized {
      val v = currentVersion()
      state match {
        case Some((sv, l, _, _)) if sv == v => l
        // PURGE-EQUIVALENCE SKIP: a budget-sliced purge bumps the
        // version once per slice, but every slice is reader-invisible
        // by the purge contract (the sidecar — and with it the logical
        // probe filter — holds until the final slice, and the rewrite
        // only drops rows the filter already hides). A reader that
        // reloaded per slice would re-materialize a corpus-sized cache
        // ceil(buckets/budget) times for bit-identical answers. So:
        // while a purge is MID-FLIGHT and no admission or takedown
        // landed since this cache pinned (appliedDeltas unchanged —
        // takedowns admit deltaIds too, so a new tombstone whose filter
        // MUST apply always reloads), adopt the new version number and
        // keep serving the pinned frames. The final slice drops the
        // sidecar and the progress marker (purgePending turns false),
        // so completion reloads exactly once. The writer retains the
        // whole pinned-version chain while the purge is pending
        // ([[maintain]]'s purge-grace prune), so the pinned files
        // survive the skip window.
        case Some((_, l, fs, pinned))
            if purgePending() && appliedDeltas() == pinned =>
          state = Some((v, l, fs, pinned))
          l
        case prev =>
          prev.foreach { case (_, _, fs, _) => fs.foreach(_.unpersist()) }
          // pin the delta set BEFORE load: a concurrent admission
          // between the two reads then makes the pin OLDER than the
          // loaded frames — the skip-check's inequality reloads (one
          // wasted reload, safe). Pinning after load could record a
          // delta the frames don't carry, and the skip would then serve
          // stale frames for the length of a purge.
          val pinned = appliedDeltas()
          // state key: re-read the version right BEFORE load — a purge
          // slice committing between this call's first currentVersion()
          // read and here (the r18-ADVICE race) would otherwise record
          // the OLDER v while load() resolves the pointer to the newer
          // version, forcing a wasted corpus-sized reload on the next
          // poll. Adopt the re-read version ONLY when the pointer did
          // not move across the load window (vPre == vPost): then the
          // frames are provably vPre's. A commit DURING the load (an
          // admission, a compaction fold, a further slice) keeps the
          // original v — conservative reload next poll — because
          // adopting it would key OLD frames under the NEW version and
          // suppress the reload the writer's one-batch prune grace
          // depends on: the pinned frames' files get pruned while the
          // key says current, and an evicted/uncached partition then
          // recomputes from deleted files (r19 review).
          val vPre = currentVersion()
          val l = load()
          val fs = frames(l)
          fs.foreach(_.persist())
          val v2 = if (currentVersion() == vPre) vPre else v
          state = Some((v2, l, fs, pinned))
          l
      }
    }
    def release(): Unit = synchronized {
      state.foreach { case (_, _, fs, _) => fs.foreach(_.unpersist()) }
      state = None
    }
  }

  /** Start a query whose batches probe a [[VersionedCache]]'s persisted
    * frames, and tie the cache's lifetime to the query's: released on
    * termination (listener), and on a failed start — if start() throws,
    * the listener is never attached and the corpus-sized entries would
    * leak for the session's life.
    */
  private def withCacheLifecycle(spark: org.apache.spark.sql.SparkSession,
      start: () => StreamingQuery,
      cache: VersionedCache[_]): StreamingQuery = {
    val query =
      try start()
      catch { case e: Throwable => cache.release(); throw e }
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryTerminatedEvent): Unit =
          if (e.id == query.id) {
            cache.release()
            spark.streams.removeListener(this)
          }
      })
    query
  }
}
