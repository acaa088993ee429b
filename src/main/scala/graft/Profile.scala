package graft

/** Single-query timing forensics: run ONE registered query N times
  * back-to-back in one JVM and print every pass beside a fixed spin
  * probe, so a bench swing can be attributed (wide pass spread + spin
  * spread = host band; uniformly slower passes + flat spin = plan or
  * data change) without re-running the whole Bench workload. Usage:
  *   sbt 'runMain graft.Profile <sfDir> <query> [passes=6]'
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = args.lift(1).getOrElse("q_percentiles")
    val passes = args.lift(2).map(_.toInt).getOrElse(6)
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-profile")
    spark.sparkContext.setLogLevel("ERROR")
    // validate up front with a usable error — a bare NoSuchElementException
    // from the registry lookup is the wrong failure mode for a forensics
    // tool whose whole job is attribution
    require(SparkEntry.queries.contains(name),
      s"Profile: unknown query '$name'. Closest registered: " +
        SparkEntry.queries.keys.toSeq.sorted
          .sortBy(k => -k.zip(name).count { case (a, b) => a == b })
          .take(5).mkString(", "))
    val fn = SparkEntry.queries(name)
    // untimed warm-up scan so pass 1 is plan cost, not parquet-footer cost
    Measure.warmUp(spark, sfDir, "profile")
    // spin and bandwidth sampled beside the passes, so a profile run
    // yields the SAME host_ratio normalization the per-query gate applies
    // — a Profile receipt is then directly comparable to a bench_ref.json
    // entry (the round-18 a15 adjudication need).
    val spins = scala.collection.mutable.ArrayBuffer.empty[Double]
    val bws = scala.collection.mutable.ArrayBuffer(Measure.bwGbps())
    val times = (1 to passes).map { i =>
      val s0 = Measure.spinMs(); spins += s0
      val dt = Measure.noopSec(fn(spark, sfDir))
      println(f"[profile] $name%-24s pass$i%-2d $dt%7.3f s   spin $s0%6.1f ms")
      dt
    }
    bws += Measure.bwGbps()
    val hostRatio = Measure.hostRatio(spins.toSeq, bws.toSeq).value
    def n(d: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    println(s"""{"query":"$name","sf":"$sfDir","passes":[${times.map(n).mkString(",")}],"min":${n(times.min)},"max":${n(times.max)},"bw_gbps":[${bws.map(n).mkString(",")}],"host_ratio":${n(hostRatio)},"norm_min":${n(times.min / hostRatio)}}""")
    spark.stop()
  }
}
