package graft

/** Fixed-work HOST-IDLENESS sentinels, shared by every measurement main
  * (`Bench`, `SentinelProbe`; the probe readings are in SCALE.md): zero-Spark
  * probes whose wall time depends only on this process's share of one
  * core (cpu), of memory bandwidth (mem), and of the storage tier (io).
  * A measurement that prints its own in-band sentinel triple is
  * SELF-attributing — an out-of-band query row next to in-band
  * sentinels is the code's fault; next to high sentinels it's the
  * host's (the contaminated-official-run failure mode r15/r16 hit).
  * The io leg is new in round 20: r18's damage was memory-tier and the
  * pair caught it, but r19's official record carried four 2–8.5×
  * fsync/small-file rows under fully in-band cpu/mem sentinels — the
  * one noise class the pair cannot see. Idle bands, measured on this
  * host (SCALE.md): cpu 0.26–0.45 s, mem 0.15–0.25 s steady (first
  * samples after allocation can read lower while pages are freshly
  * provisioned); io band is recorded in SCALE.md round 20.
  *
  * Lifted verbatim from `Bench` (round 17) so every record's sentinel
  * values stay comparable across rounds and mains.
  */
object HostSentinels {

  /** Prevents the JIT from eliding the sentinel loops; read it (e.g.
    * print once at suite end) so the value is observably live.
    */
  @volatile var blackhole: Long = 0L

  /** Fixed-work PURE-CPU sentinel: 2^28 splitmix64 mixes on one thread. */
  def cpu(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < (1 << 28)) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      acc ^= z ^ (z >>> 31)
      i += 1
    }
    blackhole ^= acc
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed-work MEMORY-BANDWIDTH sentinel: 8 sequential sweeps over a
    * 128 MiB long array (≫ LLC — every sweep streams from DRAM, ~1 GiB
    * of traffic). Catches what the CPU sentinel can't: a co-tenant
    * saturating bandwidth or host-side swap pushing this process's
    * pages to the slow tier (measured round 5: cold re-reads at
    * ~50 MB/s).
    */
  def mem(arr: Array[Long]): Double = {
    val t0 = System.nanoTime()
    var s = 0L
    var sweep = 0
    while (sweep < 8) {
      var i = 0
      while (i < arr.length) { s += arr(i); i += 1 }
      sweep += 1
    }
    blackhole ^= s
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed-work I/O sentinel: 32 small files × 128 KiB, each written and
    * `force(true)`'d (fsync), then read back and deleted. This is the
    * shape of the storage traffic the versioned-store rows emit (many
    * small part files + an fsync'd commit per transaction) — and the one
    * noise class the cpu/mem pair is BLIND to: the r19 official bench
    * read 2–8.5× on exactly the fsync/small-file-heavy rows
    * (`cdc_serving_state` 26.19 s vs 3.10 s in-band) while every
    * cpu/mem sentinel sat in band. fsync latency on a contended or
    * throttled I/O tier inflates 10–100×, so this leg self-attributes
    * that class. The dir must live on the same filesystem the suite's
    * temp tables use (java.io.tmpdir — one ext4 volume on this host).
    */
  def io(dir: java.nio.file.Path): Double = {
    import java.nio.file.{Files, StandardOpenOption => O}
    // try/finally cleanup: deleteOnExit only removes EMPTY dirs, so an
    // aborted sample (exception, kill between write and delete loops)
    // would otherwise leak up to 4 MiB of sentinel files per process in
    // java.io.tmpdir (r20 ADVICE). The happy path has already deleted
    // every file, so the finally's deleteIfExists sweep is 32 no-op
    // syscalls AFTER the timed region.
    try {
      val t0 = System.nanoTime()
      val buf = java.nio.ByteBuffer.allocate(128 << 10)
      var s = 0L
      var f = 0
      while (f < 32) {
        val p = dir.resolve(s"sentinel_$f.bin")
        val ch = java.nio.channels.FileChannel.open(
          p, O.CREATE, O.WRITE, O.TRUNCATE_EXISTING)
        buf.clear(); buf.put(0, (f + 1).toByte)
        while (buf.hasRemaining) ch.write(buf)
        ch.force(true)
        ch.close()
        f += 1
      }
      f = 0
      while (f < 32) {
        val p = dir.resolve(s"sentinel_$f.bin")
        val bytes = Files.readAllBytes(p)
        s += bytes(0).toLong + bytes(bytes.length - 1).toLong + bytes.length
        Files.delete(p)
        f += 1
      }
      blackhole ^= s
      (System.nanoTime() - t0) / 1e9
    } finally {
      var f = 0
      while (f < 32) {
        try { Files.deleteIfExists(dir.resolve(s"sentinel_$f.bin")); () }
        catch { case _: java.io.IOException => () }
        f += 1
      }
    }
  }

  /** The shared per-process sentinel scratch dir (created lazily under
    * java.io.tmpdir, removed on JVM exit). One dir per process keeps
    * repeated samples comparable: the first sample pays the dir create,
    * warmup in [[Warmed]] absorbs it.
    */
  lazy val ioDir: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft-io-sentinel")
    d.toFile.deleteOnExit()
    d
  }

  def loadavg(): String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")),
      java.nio.charset.StandardCharsets.UTF_8).trim
    catch { case _: Throwable => "" }

  def memAvailableKb(): Long =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/meminfo")),
      java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.find(_.startsWith("MemAvailable:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }

  /** A warmed sentinel pair: allocation + first touch of the sweep array
    * and one untimed run of each sentinel happen HERE (fresh-page
    * provisioning is the host's slowest path, and pass-1 values must
    * measure the host, not the JIT), so every [[sample]] is comparable.
    */
  final class Warmed {
    private val arr = Array.tabulate(16 << 20)(_.toLong)
    cpu(); mem(arr); io(ioDir)

    /** One (cpu_sec, mem_sec, io_sec) sample. */
    def sample(): (Double, Double, Double) = (cpu(), mem(arr), io(ioDir))

    /** Sample and render the standard record fragment the probe mains
      * print next to each measured leg.
      */
    def line(): String = {
      val (c, m, i) = sample()
      f"sentinel_cpu=$c%.3f s sentinel_mem=$m%.3f s sentinel_io=$i%.3f s loadavg=${loadavg()}"
    }
  }
}
