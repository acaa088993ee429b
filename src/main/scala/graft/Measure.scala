package graft

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one measurement core of the harnesses ([[Bench]], [[Profile]],
  * [[StreamBench]], [[ConcurrentBench]] and the [[ScaleSmoke]] gate): the
  * host probes (spin, memory bandwidth, GC, steal), the median, the
  * host-ratio normalization the per-query and per-cell gates divide by,
  * the noop-sink timer and the untimed table warm-up. Every harness calls
  * these directly, so a receipt from one harness normalizes exactly as
  * the others do. */
object Measure {

  /** Clean-host calibration constants of the normalization divisor: the
    * spin workload's nominal and the 8-thread stream-copy probe's floor
    * on this hardware family (~100 ms; ~58-68 GB/s clean). See
    * BASELINE.md "Bench gate normalization" and "Memory-bandwidth
    * probe". */
  val SpinRefMs = 100.0
  val BwRefGbps = 58.0

  /** Spin calibration: a fixed single-thread xorshift workload whose
    * nominal time is constant — sampled around a run, its spread IS the
    * roving-stall band. */
  def spinMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L; var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("") // keep the loop live
    (System.nanoTime() - t0) / 1e6
  }

  /** GC wall time this JVM has accumulated, over all collectors. */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Hypervisor steal and total ticks from /proc/stat (field 8 after
    * "cpu"); None where the file is unreadable. */
  def stealTicks(): Option[(Long, Long)] =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val toks = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      (toks(7), toks.sum)
    }.toOption

  private val bwThreads = 8
  private val bwLongs = (64 << 20) / 8
  // the probe buffers are allocated ONCE and reused across every sample —
  // re-allocating 1 GiB of long arrays per sample was itself an OOM risk
  // on smaller heaps and injected allocation+GC churn into the very
  // gc_ms delta the bench uses for stall attribution
  private lazy val bwPairs = {
    val pairs = Array.fill(bwThreads)(
      (new Array[Long](bwLongs), new Array[Long](bwLongs)))
    pairs.foreach { case (s, d) => s(0) = 1L; d(0) = 1L; s(bwLongs - 1) = 1L }
    pairs
  }

  /** GC wall time accumulated inside [[bwGbps]] calls, so a harness can
    * subtract the probe's own collection churn from its gc_ms delta (the
    * probe must measure the host, not itself). */
  val bwProbeGcMs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Multi-thread stream-copy probe: 8 workers each copy a
    * 64 MiB long array (well past any L3) `reps` times; the aggregate
    * GB/s (read + write) is the host's effective memory bandwidth at the
    * moment of the sample. Motivation (round-11 forensics): the roving
    * host band showed up as a ~7% DIFFUSE inflation on bit-identical
    * plans while the single-thread spin probe read clean — a shared-
    * memory-bus effect a compute-bound probe cannot see. */
  def bwGbps(): Double = {
    val longs = bwLongs
    val reps = 4
    val gc0 = gcMs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(bwThreads)
    val t0 = System.nanoTime()
    try bwPairs.map { case (s, d) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          var r = 0
          while (r < reps) { System.arraycopy(s, 0, d, 0, longs); r += 1 }
        }
      })
    }.foreach(_.get())
    finally pool.shutdown()
    val sec = (System.nanoTime() - t0) / 1e9
    bwProbeGcMs.addAndGet(math.max(0L, gcMs() - gc0))
    // bytes touched = copies * (read + write)
    bwThreads.toLong * reps * longs * 8L * 2L / sec / 1e9
  }

  /** True median for either parity (the upper-middle element alone
    * biases toward the lower-bandwidth sample whenever an even number of
    * samples is collected). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** The host normalization terms: a gate divides measured seconds (or
    * multiplies measured rows/s) by `value`. */
  final case class HostRatio(spinRatio: Double, bwMedian: Double,
      bwRatio: Double, value: Double)

  /** host_ratio = clamp(spin_ratio * bw_ratio, 1, 3), where
    *  - spin_ratio = clamp(min(spin samples) / SpinRefMs, 1, 3) — MIN,
    *    because per-sample stall contamination only inflates; a min
    *    above 1 means the host is SUSTAINED-slower than the calibration
    *    host, which legitimately scales every measured time;
    *  - bw_ratio = clamp(BwRefGbps / median(bw samples), 1, 2) — MEDIAN,
    *    because stall contamination DEFLATES a bandwidth sample (the copy
    *    threads get starved), so the min would overstate the band; capped
    *    at 2 so dips deeper than the worst band ever observed (0.53x)
    *    stay visible instead of excused.
    * The two terms measure disjoint effects by construction (the band
    * fingerprint IS a bandwidth dip with a flat spin), but the combined
    * divisor keeps the 3x ceiling so a doubly-degraded host cannot
    * excuse an arbitrarily slow run. */
  def hostRatio(spinMs: Seq[Double], bwGbps: Seq[Double]): HostRatio = {
    val spinRatio = (spinMs.min / SpinRefMs).max(1.0).min(3.0)
    val bwMedian = median(bwGbps)
    val bwRatio = (BwRefGbps / bwMedian).max(1.0).min(2.0)
    HostRatio(spinRatio, bwMedian, bwRatio, (spinRatio * bwRatio).max(1.0).min(3.0))
  }

  /** Materializes `df` with the `noop` sink: full computation and row
    * serialization, no disk. `.count()` would let Catalyst prune every
    * non-aggregated column and under-measure projection-heavy queries. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Wall seconds of building `df` and running it through [[noop]]. */
  def noopSec(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    noop(df)
    (System.nanoTime() - t0) / 1e9
  }

  /** Untimed warm-up: scans every table of `sfDir` once, then runs the
    * named registered `queries`, so codegen, JIT and parquet-footer costs
    * are paid before timing starts. A table or query that fails is
    * reported on stderr under `[tag]` and skipped — a misconfigured
    * directory must never silently skip the warm-up. */
  def warmUp(spark: SparkSession, sfDir: String, tag: String,
      queries: Seq[String] = Nil): Unit = {
    def skip(what: String, e: Throwable): Unit = {
      val msg = Option(e.getMessage).flatMap(_.linesIterator.nextOption())
        .getOrElse(e.getClass.getName)
      System.err.println(s"[$tag] warm-up skipping $what in $sfDir: $msg")
    }
    Tables.all.foreach { t =>
      try noop(Tables.t(spark, sfDir, t))
      catch { case NonFatal(e) => skip(s"table '$t'", e) }
    }
    queries.foreach { q =>
      try noop(SparkEntry.queries(q)(spark, sfDir))
      catch { case NonFatal(e) => skip(s"query '$q'", e) }
    }
  }
}
