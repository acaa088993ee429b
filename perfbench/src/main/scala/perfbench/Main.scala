package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What one run reports: output-check counts, the end-to-end metrics, the
  * per-layer metrics (traced runs only) and the artifact (settings, check
  * details, spans). */
final case class Result(
    attempted: Long,
    failed: Long,
    endToEnd: Map[String, Double],
    perLayer: Map[String, Double],
    artifact: Map[String, Any])

/** Benchmark JVM entry point. `perfbench/run.py` builds the classpath,
  * isolates the run and launches this with `--key value` arguments:
  * workload, seed, seconds, trace, cores, fixture, out, and the
  * workload's own parameters. Writes `<out>/result.json`. */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val out = Paths.get(args("out"))
    val cfg = Config(args)
    val spark = session(cfg.cores)
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    val res =
      if (cfg.workload.startsWith("stream_")) StreamRun(cfg, spark, probe)
      else BatchRun(cfg, spark, probe)
    val env = Map(
      "spark_version" -> spark.version,
      "jdk" -> s"${sys.props("java.vendor")} ${sys.props("java.version")} (${sys.props("java.vm.version")})",
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "cores" -> cfg.cores,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq,
      "spark_conf" -> (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll).toSeq.sorted.toMap)
    spark.stop()
    val doc = Map(
      "attempted" -> res.attempted, "failed" -> res.failed,
      "end_to_end" -> res.endToEnd, "per_layer" -> res.perLayer,
      "artifact" -> (res.artifact ++ Map("env" -> env, "args" -> args)))
    Files.writeString(out.resolve("result.json"), json.writerWithDefaultPrettyPrinter.writeValueAsString(doc))
  }

  /** The engine's own local session, exactly as it runs for users. */
  def session(cores: Int): SparkSession = {
    val s = graft.Sessions.local(cores, "perfbench")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Seconds since the JVM started. */
  def sinceJvmStartS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Heap in use after full collections, in MiB. Collect until the figure
    * stops falling, so objects freed by cleaner threads on the first pass
    * are gone too. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    var last = Long.MaxValue
    var used = Long.MaxValue - 1
    var rounds = 0
    while (used < last && rounds < 6) {
      last = used
      System.gc()
      Thread.sleep(150)
      used = mem.getHeapMemoryUsage.getUsed
      rounds += 1
    }
    math.min(used, last) / (1024.0 * 1024.0)
  }
}

final case class Config(args: Map[String, String]) {
  val workload: String = args("workload")
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val trace: Boolean = args("trace") == "1"
  val cores: Int = args("cores").toInt
  val fixture: String = args("fixture")
  val work: String = args("work")
  def list(k: String): Seq[String] = args.get(k).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
  def int(k: String): Int = args(k).toInt
}
