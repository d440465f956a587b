package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import com.sun.management.GarbageCollectionNotificationInfo

import graft.HostSentinels

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --run-dir <dir> --data-dir <dir> --out <file>`.
  * Writes the result object to `--out`; exits 1 when a correctness check
  * fails. `perfbench/run.py` builds the classes and launches this.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, runDir: Path, dataDir: Path, out: Path)

  /** Everything a workload needs, plus the sheets it fills. */
  final class Ctx(val args: Args, val spark: SparkSession,
      val tracer: Tracer, val counters: SparkCounters,
      val progress: ProgressLog, val sessionStartS: Double) {
    val cores: Int = spark.sparkContext.defaultParallelism
    val e2e = new Stats.Sheet
    val layer = new Stats.Sheet
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]
    private val setups = mutable.ArrayBuffer.empty[Double]
    private var dirs = 0

    private val born = System.nanoTime()

    /** A progress line on stderr, stamped with seconds since the run began. */
    def note(msg: String): Unit =
      System.err.println(f"[perfbench] +${(System.nanoTime() - born) / 1e9}%.1fs $msg")

    def seconds: Int = args.seconds
    def seed: Long = args.seed

    /** A fresh directory under the run dir; nothing is ever reused. */
    def fresh(name: String): String = {
      dirs += 1
      val p = args.runDir.resolve(f"$name-$dirs%03d")
      Files.createDirectories(p)
      p.toString
    }

    /** One correctness check: counted as an attempted operation, and as a
      * failed one when it does not hold.
      */
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; problems += what; System.err.println(s"[perfbench] CHECK FAILED: $what") }
    }

    /** Time one repetition of the workload's set-up. */
    def timeSetup[A](body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      setups += (System.nanoTime() - t0) / 1e9
      note(f"set-up ${setups.size} took ${setups.last}%.2f s")
      r
    }

    private val heapPoolNames = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile private var watching = false
    @volatile private var liveMax = 0L
    @volatile private var collections = 0L
    private var heapPeak = 0L

    // heap left in use by each collection the JVM makes on its own while a
    // measured phase runs
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener((n: Notification, _: AnyRef) =>
          if (watching && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            if (info.getGcCause != "System.gc()") {
              val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
                case (pool, u) if heapPoolNames(pool) => u.getUsed }.sum
              liveMax = math.max(liveMax, after)
              collections += 1
            }
          }, null, null)
      case _ => ()
    }

    /** Run the measured phase, sampling the heap the program holds: the
      * heap left in use by every collection the JVM makes while it works,
      * and by one forced at its end. The peak is `heap_peak_mb`. A full
      * collection first clears what set-up left behind. The peak of raw
      * heap use is not taken: with a fixed heap the collector lets it fill
      * to the heap size whatever the program keeps.
      */
    def heapWindow[A](body: => A): A = {
      System.gc()
      liveMax = 0L
      collections = 0L
      watching = true
      try body
      finally {
        watching = false
        System.gc()
        val end = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
        heapPeak = math.max(heapPeak, math.max(liveMax, end))
        layer.put("jvm.collections", collections.toDouble, "count")
      }
    }

    def heapPeakMb: Double = heapPeak / (1024.0 * 1024.0)

    /** Session start plus the median of the repeated set-ups. */
    def setupS: Double = sessionStartS + Stats.median(setups.toSeq)

    /** Spark counters over `body`, reported as the `spark.*` layer. */
    def withSparkLayer[A](body: => A): A = {
      val s0 = counters.snap()
      val t0 = System.nanoTime()
      val r = body
      val wall = (System.nanoTime() - t0) / 1e6
      val d = counters.snap() - s0
      layer.put("spark.jobs", d.jobs.toDouble, "count")
      layer.put("spark.stages", d.stages.toDouble, "count")
      layer.put("spark.tasks", d.tasks.toDouble, "count")
      layer.put("spark.shuffle_write_bytes", d.shuffleWrite.toDouble, "bytes")
      layer.put("spark.spill_bytes", d.spill.toDouble, "bytes")
      layer.put("spark.executor_run_ms", d.runMs.toDouble, "ms")
      layer.put("spark.executor_cpu_ms", d.cpuMs.toDouble, "ms")
      layer.put("spark.gc_ms", d.gcMs.toDouble, "ms")
      layer.put("spark.core_busy_ratio",
        if (wall > 0) d.runMs / (wall * cores) else 0.0, "ratio")
      r
    }
  }

  val Workloads: Map[String, Ctx => Unit] = Map(
    "cdc_backfill" -> CdcBackfill.run,
    "cdc_live" -> CdcLive.run,
    "ingest_dedup" -> IngestBench.run)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("run-dir")).toAbsolutePath,
      Paths.get(need("data-dir")).toAbsolutePath, Paths.get(need("out")))
  }

  /** Upper ends of the sentinel triple's idle bands on the 4-core host
    * (`HostSentinels`, SCALE.md): a run whose before or after sample reads
    * slower is flagged, not dropped.
    */
  private val IdleCpuS = 0.45
  private val IdleMemS = 0.25
  private val IdleIoS = 0.15
  /** Share of CPU time stolen by the hypervisor during the run. */
  private val MaxSteal = 0.05

  /** (cpu, mem, io) seconds; the 128 MiB sweep array is allocated and
    * first touched untimed, and dropped afterwards.
    */
  /** (steal, total) jiffies of all CPUs: time the hypervisor ran someone
    * else while this VM had work.
    */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  private def sentinels(ioDir: Path): (Double, Double, Double) = {
    val arr = Array.tabulate(16 << 20)(_.toLong)
    (HostSentinels.cpu(), HostSentinels.mem(arr), HostSentinels.io(ioDir))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val wl = Workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    Files.createDirectories(args.runDir)
    val sentinelDir = Files.createDirectories(args.runDir.resolve("sentinel"))
    HostSentinels.cpu() // untimed: the timed samples run compiled code
    val before = sentinels(sentinelDir)
    val jiffies0 = cpuJiffies()
    val loadBefore = HostSentinels.loadavg()

    val t0 = System.nanoTime()
    val spark = Session.start(args.runDir, local = None)
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val tracer = new Tracer(args.trace)
    val ctx = new Ctx(args, spark, tracer, counters, progress, sessionStartS)

    val crashed =
      try { wl(ctx); None }
      catch { case NonFatal(e) =>
        e.printStackTrace()
        Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    crashed.foreach { msg => ctx.attempted += 1; ctx.failed += 1; ctx.problems += msg }
    try spark.streams.active.foreach(q => q.stop()) catch { case NonFatal(_) => () }

    val jiffies1 = cpuJiffies()
    val steal = (jiffies1._1 - jiffies0._1).toDouble / math.max(jiffies1._2 - jiffies0._2, 1L)
    val after = sentinels(sentinelDir)
    val loadAfter = HostSentinels.loadavg()
    val outOfBand = Seq(before, after).exists { case (c, m, i) =>
      c > IdleCpuS || m > IdleMemS || i > IdleIoS } || steal > MaxSteal
    System.err.println(f"[perfbench] sentinels before cpu=${before._1}%.3f mem=${before._2}%.3f io=${before._3}%.3f load=$loadBefore")
    System.err.println(f"[perfbench] sentinels after  cpu=${after._1}%.3f mem=${after._2}%.3f io=${after._3}%.3f load=$loadAfter steal=$steal%.3f")
    if (outOfBand) System.err.println("[perfbench] HOST OUT OF IDLE BAND: this run's timings carry host noise")

    val correct = ctx.failed == 0 && crashed.isEmpty
    val metrics =
      if (!args.trace) {
        ctx.e2e.put("setup_s", ctx.setupS, "s")
        ctx.e2e.put("heap_peak_mb", ctx.heapPeakMb, "MB")
        ctx.e2e.m
      } else {
        val l = ctx.layer
        l.put("host.cpu_before_s", before._1, "s"); l.put("host.cpu_after_s", after._1, "s")
        l.put("host.mem_before_s", before._2, "s"); l.put("host.mem_after_s", after._2, "s")
        l.put("host.io_before_s", before._3, "s"); l.put("host.io_after_s", after._3, "s")
        l.put("host.load1_before", load1(loadBefore), "load")
        l.put("host.load1_after", load1(loadAfter), "load")
        l.put("host.steal_ratio", steal, "ratio")
        l.put("host.out_of_band", if (outOfBand) 1.0 else 0.0, "flag")
        l.put("error_rate", ctx.failed.toDouble / math.max(ctx.attempted, 1L), "ratio")
        val traceFile = args.runDir.getParent.resolve(s"trace-${args.workload}-${args.seed}.json")
        tracer.writeJson(traceFile, t0)
        System.err.println(s"[perfbench] spans written to $traceFile")
        l.m
      }
    val json = Result.render(correct, math.max(ctx.attempted, 1L), ctx.failed, metrics)
    Files.writeString(args.out, json + "\n")
    if (!correct) System.err.println(s"[perfbench] INCORRECT: ${ctx.problems.take(10).mkString("; ")}")
    try spark.stop() catch { case NonFatal(_) => () }
    sys.exit(if (correct) 0 else 1)
  }

  private def load1(s: String): Double =
    try s.split("\\s+")(0).toDouble catch { case NonFatal(_) => -1.0 }
}

object Session {
  /** The benchmark's Spark session: the program's own builder at
    * `local[nproc]` (or `local` cores), every scratch dir inside the run
    * dir.
    */
  def start(runDir: Path, local: Option[Int]): SparkSession = {
    val cores = local.getOrElse(Runtime.getRuntime.availableProcessors())
    val s = graft.GraftSession.builder("perfbench")
      .master(s"local[$cores]")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", runDir.resolve("ckpt-default").toString)
      .config("graft.ann.index.dir", runDir.resolve("ann").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Result {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def render(correct: Boolean, attempted: Long, failed: Long,
      metrics: scala.collection.Map[String, (Double, String)]): String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
  }
}
