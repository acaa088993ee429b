package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row-order-insensitive result fingerprint: the schema, the row count and
  * a DECIMAL sum of one 64-bit hash per row over every column (columns in
  * name order, so a reordered projection keeps its fingerprint). */
object Fingerprint {
  def apply(df: DataFrame): String = {
    val fields = df.schema.fields.sortBy(_.name)
    val cols = fields.map { f =>
      val c = col(s"`${f.name}`")
      // hash() rejects maps; their JSON text is an exact stand-in
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val row = df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    val schema = fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    s"$schema|${row.getLong(0)}|${Option(row.getDecimal(1)).getOrElse("null")}"
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }
}

/** `batch_sql` / `batch_llm`: a closed loop with one client thread over a
  * fixed query list. Each call runs a registered query from its
  * `SparkEntry.queries` impl to the `noop` sink. */
object BatchRun extends AdaptiveSparkPlanHelper {

  def apply(cfg: Config, spark: SparkSession, probe: Probe): Result = {
    val sc = spark.sparkContext
    val dir = cfg.fixture
    val impls = graft.SparkEntry.queries
    val names = cfg.list("queries")
    val unknown = names.filterNot(impls.contains)
    require(unknown.isEmpty, s"not registered: ${unknown.mkString(" ")}")
    def order(pass: Int): Seq[String] = new Random(cfg.seed * 1000003L + pass).shuffle(names)
    def run(q: String): Unit = impls(q)(spark, dir).write.format("noop").mode("overwrite").save()

    val checkMs = mutable.LinkedHashMap.empty[String, Double]
    // -- set-up: fixture scan, then the output check, which is also the
    // first (JIT and cache warm-up) pass
    Probe.tagged(sc, "setup") {
      cfg.list("tables").foreach(t => graft.Tables.t(spark, dir, t).schema)
    }
    val fps = Probe.tagged(sc, "setup") {
      order(0).map { q =>
        val t = System.nanoTime()
        val fp = Try(Fingerprint(impls(q)(spark, dir)))
        checkMs(q) = Stats.ms(t, System.nanoTime())
        q -> fp
      }
    }
    // record mode: the fingerprints become the expected set, but only
    // where they equal those of the oracle-checked result dumps in
    // `verified` (one parquet directory per query)
    cfg.args.get("record").foreach { path =>
      val verified = cfg.args("verified")
      val ok = fps.collect {
        case (q, Success(fp)) if Fingerprint(spark.read.parquet(s"$verified/$q")) == fp => q -> fp
      }
      Files.writeString(Paths.get(path),
        Main.json.writerWithDefaultPrettyPrinter.writeValueAsString(scala.collection.immutable.TreeMap(ok: _*)))
    }
    val expected = cfg.args.get("expected").map { p =>
      Main.json.readValue(Files.readString(Paths.get(p)), classOf[Map[String, String]])
    }.getOrElse(Map.empty)
    val checkErrors: Map[String, String] = fps.flatMap {
      case (q, Failure(e)) => Some(q -> s"threw: $e")
      case (q, Success(fp)) if !expected.get(q).contains(fp) =>
        Some(q -> s"fingerprint $fp, expected ${expected.getOrElse(q, "none")}")
      case _ => None
    }.toMap
    Probe.tagged(sc, "setup") {
      (1 to cfg.args.getOrElse("warmup_passes", "0").toInt).foreach(p => order(-p).foreach(run))
    }
    probe.take(sc, "setup")
    val setupS = Main.sinceJvmStartS

    // -- timed window: whole passes until `seconds` have elapsed
    val callErrors = mutable.Map.empty[String, String]
    var pass, calls, callFails = 0
    val callLog = mutable.ArrayBuffer.empty[(String, Double)]
    def window(beforePass: () => Unit)(call: String => Double): (Seq[Double], Double) = {
      val lat = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while (lat.isEmpty || Stats.ms(t0, System.nanoTime()) < cfg.seconds * 1000) {
        pass += 1
        beforePass()
        order(pass).foreach { q =>
          calls += 1
          Try(call(q)) match {
            case Success(ms) => lat += ms; callLog += q -> ms
            case Failure(e) => callErrors(q) = e.toString; callFails += 1; lat += Double.NaN
          }
        }
      }
      (lat.toSeq, Stats.ms(t0, System.nanoTime()) / 1000)
    }
    def timedCall(q: String): Double = { val t = System.nanoTime(); run(q); Stats.ms(t, System.nanoTime()) }
    val (lat, wallS) = Probe.tagged(sc, "timed")(window(() => ())(timedCall))
    val timed = probe.take(sc, "timed")
    val heapMb = Main.retainedHeapMb()
    val ok = lat.filterNot(_.isNaN)
    val endToEnd = Map(
      "setup_s" -> setupS,
      "query_p50_ms" -> Stats.quantile(ok, 0.5),
      "query_p90_ms" -> Stats.quantile(ok, 0.9),
      "queries_per_s" -> ok.length / wallS,
      // closed loop: a call is due when it is issued and commits when the
      // noop save returns, so its commit lag is its latency
      "commit_lag_p50_ms" -> Stats.quantile(ok, 0.5),
      "commit_lag_p95_ms" -> Stats.quantile(ok, 0.95),
      "drain_rows_per_s" -> timed.recordsRead / wallS,
      "retained_heap_mb" -> heapMb)

    val (perLayer, trace) =
      if (cfg.trace) traced(cfg, spark, probe, window, timedCall, Stats.quantile(ok, 0.5))
      else (Map.empty[String, Double], Seq.empty)

    val attempted = fps.length + calls
    val failed = checkErrors.size + callFails
    Result(attempted, failed, endToEnd, perLayer, Map(
      "failed_ops_frac" -> failed.toDouble / attempted,
      "check_errors" -> checkErrors, "call_errors" -> callErrors.toMap,
      "timed_calls" -> lat.length, "timed_passes" -> pass, "timed_wall_s" -> wallS,
      "check_ms" -> checkMs, "calls" -> callLog.map { case (q, ms) => Seq(q, ms) }, "timed_jobs" -> timed.jobs, "spans" -> trace))
  }

  private def exchanges(plan: SparkPlan): (Int, Int) =
    (collect(plan) { case e: ShuffleExchangeLike => e }.length,
      collect(plan) { case e: BroadcastExchangeLike => e }.length)

  /** The traced window: each call is one span with `construct` -> `plan`
    * -> `execute` children, and each pass first times every fixture table
    * read through `Tables.t`. */
  private def traced(cfg: Config, spark: SparkSession, probe: Probe,
      window: (() => Unit) => (String => Double) => (Seq[Double], Double),
      untracedCall: String => Double, untracedP50: Double): (Map[String, Double], Seq[Map[String, Any]]) = {
    val sc = spark.sparkContext
    val dir = cfg.fixture
    val impls = graft.SparkEntry.queries
    val tr = new Trace
    val calls = mutable.ArrayBuffer.empty[Map[String, Double]]
    val reads = mutable.ArrayBuffer.empty[(Double, Long)]
    def phase[T](id: Long, name: String, layer: String)(f: => T): (T, Double, JobAgg) = {
      val t = System.nanoTime()
      val out = Probe.tagged(sc, s"c$id/$name")(tr.span(id, name, layer)(f))
      (out, Stats.ms(t, System.nanoTime()), probe.take(sc, s"c$id/$name"))
    }
    def readTables(): Unit = cfg.list("tables").foreach { t =>
      val tag = s"tables/${tr.newId()}"
      val start = System.nanoTime()
      Probe.tagged(sc, tag)(tr.span(0, s"Tables.t($t)", "tables")(graft.Tables.t(spark, dir, t)))
      reads += Stats.ms(start, System.nanoTime()) -> probe.take(sc, tag).jobs
    }
    val (lat, _) = window(() => readTables()) { q =>
      val id = tr.newId()
      val start = tr.nowMs
      val (df, cMs, cAgg) = phase(id, "construct", "construct")(impls(q)(spark, dir))
      // plan the query's logical plan afresh, so every Catalyst phase runs
      // inside this step; each phase is timed around the QueryExecution
      // stage that forces it (the Dataset's own QueryPlanningTracker
      // stretches "analysis" from the first to the last analyzed frame of
      // a pinned query, seconds apart)
      val ((phases, exch), pMs, pAgg) = phase(id, "plan", "plan") {
        val qe = spark.sessionState.executePlan(df.queryExecution.logical)
        val t0 = System.nanoTime()
        qe.analyzed
        val t1 = System.nanoTime()
        qe.optimizedPlan
        val t2 = System.nanoTime()
        val plan = qe.executedPlan
        val t3 = System.nanoTime()
        (Map("analysis" -> Stats.ms(t0, t1), "optimization" -> Stats.ms(t1, t2),
          "physical" -> Stats.ms(t2, t3)), exchanges(plan))
      }
      val (_, eMs, eAgg) = phase(id, "execute", "execute") {
        df.write.format("noop").mode("overwrite").save()
      }
      val total = tr.nowMs - start
      calls += Map(
        "construct.ms" -> cMs, "construct.jobs" -> cAgg.jobs.toDouble, "construct.tasks" -> cAgg.tasks.toDouble,
        "plan.ms" -> pMs, "plan.jobs" -> pAgg.jobs.toDouble, "plan.analysis_ms" -> phases("analysis"),
        "plan.optimization_ms" -> phases("optimization"), "plan.physical_ms" -> phases("physical"),
        "plan.exchanges" -> exch._1.toDouble, "plan.broadcasts" -> exch._2.toDouble,
        "exec.ms" -> eMs, "exec.jobs" -> eAgg.jobs.toDouble, "exec.stages" -> eAgg.stages.toDouble,
        "exec.tasks" -> eAgg.tasks.toDouble, "exec.task_run_ms" -> eAgg.taskRunMs.toDouble,
        "exec.gc_ms" -> eAgg.gcMs.toDouble, "exec.shuffle_write_bytes" -> eAgg.shuffleWriteBytes.toDouble,
        "exec.shuffle_read_bytes" -> eAgg.shuffleReadBytes.toDouble, "exec.spill_bytes" -> eAgg.spillBytes.toDouble,
        "exec.task_skew" -> eAgg.taskSkew, "call.ms" -> total)
      tr.add(Span(id, 0, q, "call", start, total, Map(
        "construct_jobs" -> cAgg.jobs.toDouble, "plan_jobs" -> pAgg.jobs.toDouble, "execute_jobs" -> eAgg.jobs.toDouble,
        "exchanges" -> exch._1)))
      total
    }
    // an untraced window after the traced one: set against the mean of
    // the untraced windows around it, JIT warm-up drift cancels out
    val (after, _) = window(() => ())(untracedCall)
    val untraced = (untracedP50 + Stats.quantile(after.filterNot(_.isNaN), 0.5)) / 2
    def m(k: String): Double = Stats.mean(calls.map(_(k)).toSeq)
    def sum(k: String): Double = calls.map(_(k)).sum
    val tracedP50 = Stats.quantile(lat.filterNot(_.isNaN), 0.5)
    val layers = Map(
      "tables.read_ms" -> Stats.mean(reads.map(_._1).toSeq),
      "tables.read_jobs" -> Stats.mean(reads.map(_._2.toDouble).toSeq),
      "construct.ms" -> m("construct.ms"), "construct.jobs" -> m("construct.jobs"),
      "construct.tasks" -> m("construct.tasks"),
      "construct.share" -> sum("construct.ms") / sum("call.ms"),
      "plan.ms" -> m("plan.ms"), "plan.analysis_ms" -> m("plan.analysis_ms"),
      "plan.optimization_ms" -> m("plan.optimization_ms"),
      "plan.physical_ms" -> m("plan.physical_ms"), "plan.exchanges" -> m("plan.exchanges"),
      "exec.ms" -> m("exec.ms"), "exec.jobs" -> m("exec.jobs"), "exec.stages" -> m("exec.stages"),
      "exec.tasks" -> m("exec.tasks"), "exec.task_run_ms" -> m("exec.task_run_ms"),
      "exec.busy_frac" -> sum("exec.task_run_ms") / (sum("exec.ms") * cfg.cores),
      "exec.gc_ms" -> m("exec.gc_ms"),
      "exec.shuffle_write_bytes" -> m("exec.shuffle_write_bytes"),
      "exec.shuffle_read_bytes" -> m("exec.shuffle_read_bytes"),
      "exec.spill_bytes" -> m("exec.spill_bytes"),
      "exec.task_skew" -> Stats.quantile(calls.map(_("exec.task_skew")).toSeq, 0.5),
      "jobs_per_query" -> (m("construct.jobs") + m("exec.jobs")),
      "trace.overhead_frac" -> (tracedP50 / untraced - 1))
    val selfMs = tr.selfMsByLayer
    (layers, tr.toJson :+ Map("self_ms_by_layer" -> selfMs))
  }
}
