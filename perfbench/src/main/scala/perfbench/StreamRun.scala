package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.Jobs

/** One generated CSV file: when it was due and when it landed in the
  * watched directory. */
final case class GenFile(name: String, dueMs: Long, landedMs: Long)

/** Seeded event generator in the engine's CSV wire format. Event time is
  * creation time. Each file is written to a stage directory and renamed
  * into the watched one, so the source never sees a partial file. Keeps
  * its own per-(user, event_type, 10 s window) counts: the recount the
  * stream's output is checked against. */
final class Generator(seed: Long, users: Int, stage: Path, watch: Path) {
  private val rnd = new scala.util.Random(seed)
  private var nextId = 0L
  var maxTsUs = 0L
  val counts = mutable.HashMap.empty[(Long, String, Long), Long]
  def events: Long = nextId

  def write(dueMs: Long, rows: Int): GenFile = {
    val name = f"ev-${nextId}%012d.csv"
    val tsUs = System.currentTimeMillis() * 1000L
    maxTsUs = tsUs
    val win = tsUs - Math.floorMod(tsUs, StreamRun.WindowUs)
    val sb = new StringBuilder(rows * 48)
    (0 until rows).foreach { _ =>
      val user = 1L + rnd.nextInt(users)
      val kind = graft.streaming.Generators.eventTypes(rnd.nextInt(5))
      sb.append(s""""$nextId","$tsUs","$user","$kind","${rnd.nextInt(10000) / 100.0}"""").append('\n')
      counts((user, kind, win)) = counts.getOrElse((user, kind, win), 0L) + 1
      nextId += 1
    }
    Files.writeString(stage.resolve(name), sb)
    Files.move(stage.resolve(name), watch.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    GenFile(name, dueMs, System.currentTimeMillis())
  }

  /** Open loop: file i is due `i * periodMs` after the start, whatever the
    * stream is doing. Runs on its own thread; returns the files written. */
  def openLoop(files: Int, periodMs: Long, rows: Int): Seq[GenFile] = {
    val out = mutable.ArrayBuffer.empty[GenFile]
    val t = new Thread(() => {
      val t0 = System.currentTimeMillis() + 50
      (0 until files).foreach { i =>
        val due = t0 + i * periodMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        out += write(due, rows)
      }
    }, "perfbench-generator")
    t.start()
    t.join()
    out.toSeq
  }
}

/** What a checkpoint says, read from its files the way an operator would:
  * `sources/0/<batch>` (and its `.compact` roll-ups) maps each input file
  * to its batch, `commits/<batch>` marks the batch done at its mtime. */
object Checkpoint {
  def fileBatches(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources/0")
    if (!Files.isDirectory(dir)) Map.empty
    else Files.list(dir).iterator.asScala.toSeq
      .filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .map(Main.json.readTree)
      .map(n => Paths.get(new java.net.URI(n.get("path").asText)).getFileName.toString -> n.get("batchId").asLong)
      .toMap
  }

  def commitMs(ckpt: Path): Map[Long, Long] = {
    val dir = ckpt.resolve("commits")
    if (!Files.isDirectory(dir)) Map.empty
    else Files.list(dir).iterator.asScala.toSeq
      .filter(_.getFileName.toString.forall(_.isDigit))
      .map(p => p.getFileName.toString.toLong -> Files.getLastModifiedTime(p).toMillis)
      .toMap
  }

  /** The event-time watermark the batch ran with. */
  def watermarkMs(ckpt: Path, batch: Long): Long =
    Main.json.readTree(Files.readAllLines(ckpt.resolve(s"offsets/$batch")).get(1))
      .get("batchWatermarkMs").asLong
}

/** Collects every progress report of the run; in traced mode each executed
  * batch also becomes a span with one child per phase. */
final class ProgressLog(trace: Option[Trace]) extends StreamingQueryListener {
  val all = new ConcurrentLinkedQueue[StreamingQueryProgress]
  @volatile var tracing = false
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    all.add(p)
    if (tracing && StreamRun.executed(p)) trace.foreach(StreamRun.batchSpan(_, p))
  }
}

/** `stream_capstone`: reference job 8 through `Jobs.courseUseCase` — the
  * windowed per-(user, action) count and the sessionizer, two queries off
  * one watched CSV directory, RocksDB state, parquet file sinks. An
  * open-loop generator feeds it; then both queries stop, a backlog lands,
  * and they restart on the same checkpoints and drain it. */
object StreamRun {
  val WindowUs = 10L * 1000 * 1000
  private val Queries = Seq("counts", "durations")
  private val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  def executed(p: StreamingQueryProgress): Boolean = p.durationMs.containsKey("addBatch")
  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  private def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli

  def batchSpan(tr: Trace, p: StreamingQueryProgress): Unit = {
    val id = tr.newId()
    val layer = Map("latestOffset" -> "stream.source", "getBatch" -> "stream.source",
      "queryPlanning" -> "stream.planning", "addBatch" -> "stream.operators_sink",
      "walCommit" -> "checkpoint", "commitOffsets" -> "checkpoint")
    var at = 0.0
    Phases.foreach { k =>
      tr.add(Span(tr.newId(), id, k, layer(k), at, dur(p, k)))
      at += dur(p, k)
    }
    tr.add(Span(id, 0, s"${p.name}#${p.batchId}", "stream_batch", 0.0, dur(p, "triggerExecution"),
      Map("query_id" -> p.id.toString, "batch" -> p.batchId, "rows" -> p.numInputRows,
        "trigger_start" -> p.timestamp)))
  }

  def apply(cfg: Config, spark0: SparkSession, probe: Probe): Result = {
    var spark = spark0
    val work = Paths.get(cfg.work)
    val Seq(stage, watch) = Seq("stage", "watch").map(d => Files.createDirectories(work.resolve(d)))
    val dirs = Jobs.Dirs(watch.toString, work.resolve("out").toString, work.resolve("ckpt").toString)
    val ckpts = Queries.map(q => work.resolve(s"ckpt/$q"))
    val rate = cfg.int("rate")
    val periodMs = cfg.int("period_ms").toLong
    val perFile = (rate * periodMs / 1000).toInt
    val gen = new Generator(cfg.seed, cfg.int("users"), stage, watch)
    val tr = if (cfg.trace) Some(new Trace) else None
    val progress = new ProgressLog(tr)
    spark.streams.addListener(progress)
    rocksDb(spark)

    var queries = start(spark, dirs)
    val allFiles = mutable.ArrayBuffer.empty[GenFile]
    var uncommitted = 0
    def window(seconds: Double): (Seq[GenFile], Map[String, Long]) = {
      val files = gen.openLoop(math.max(1, (seconds * 1000 / periodMs).toInt), periodMs, perFile)
      allFiles ++= files
      val c = commitTimes(ckpts, queries, files, 60)
      uncommitted += files.count(f => !c.contains(f.name))
      (files, c)
    }
    def lags(w: (Seq[GenFile], Map[String, Long])): Seq[Double] =
      w._1.flatMap(f => w._2.get(f.name).map(c => (c - f.dueMs).toDouble))

    // -- set-up: warm-up batches through the whole path
    window(cfg.args("warmup_s").toDouble)
    val setupS = Main.sinceJvmStartS

    // -- timed window
    val t0 = System.currentTimeMillis()
    val timed = window(cfg.seconds)
    val tEnd = System.currentTimeMillis()
    val timedLag = lags(timed)
    def batchesIn(from: Long, to: Long): Seq[StreamingQueryProgress] =
      progress.all.asScala.toSeq.filter(p => executed(p) && startMs(p) >= from &&
        startMs(p) + dur(p, "triggerExecution") <= to)
    val timedBatches = batchesIn(t0, tEnd).map(dur(_, "triggerExecution"))

    // -- traced window (traced runs only): the same load again with spans on
    val layers = mutable.Map.empty[String, Double]
    if (cfg.trace) {
      val sinkBefore = sinkFiles(work)
      probe.window = "traced"
      progress.tracing = true
      val t1 = System.currentTimeMillis()
      val w = window(cfg.seconds)
      val t2 = System.currentTimeMillis()
      progress.tracing = false
      probe.window = Probe.Untagged
      val agg = probe.take(spark.sparkContext, "traced")
      val sinkAfter = sinkFiles(work)
      // an untraced window after the traced one: set against the mean of
      // the untraced windows around it, JIT warm-up drift cancels out
      val untracedLag = (Stats.quantile(timedLag, 0.5) + Stats.quantile(lags(window(cfg.seconds)), 0.5)) / 2
      val bs = batchesIn(t1, t2)
      val n = math.max(1, bs.length).toDouble
      def per(k: String): Double = bs.map(dur(_, k)).sum / n
      val newSink = sinkAfter.keySet -- sinkBefore.keySet
      val lastPerQuery = bs.groupBy(_.id).values.map(_.maxBy(_.batchId)).toSeq
      val busy = bs.map(dur(_, "triggerExecution")).sum / ((t2 - t1) * Queries.length)
      // files pending (due, not yet committed by both) at each file's due time
      val pending = w._1.map(f => w._1.count(g => g.dueMs <= f.dueMs && w._2.get(g.name).forall(_ > f.dueMs)).toDouble)
      layers ++= Map(
        "stream.latest_offset_ms" -> per("latestOffset"), "stream.get_batch_ms" -> per("getBatch"),
        "stream.backlog_files" -> Stats.mean(pending),
        "stream.query_planning_ms" -> per("queryPlanning"), "stream.add_batch_ms" -> per("addBatch"),
        "stream.rows_per_batch" -> bs.map(_.numInputRows.toDouble).sum / n,
        "stream.batches" -> bs.length.toDouble, "stream.busy_frac" -> busy,
        "sink.files_written" -> newSink.size.toDouble,
        "sink.bytes_written" -> newSink.toSeq.map(sinkAfter).sum.toDouble,
        "stream.wal_commit_ms" -> per("walCommit"), "stream.commit_offsets_ms" -> per("commitOffsets"),
        "stream.state_rows" -> lastPerQuery.flatMap(_.stateOperators.map(_.numRowsTotal.toDouble)).sum,
        "stream.state_mem_bytes" -> lastPerQuery.flatMap(_.stateOperators.map(_.memoryUsedBytes.toDouble)).sum,
        "stream.state_commit_ms" -> bs.flatMap(_.stateOperators.map(_.commitTimeMs.toDouble)).sum / n,
        "gen.late_p95_ms" -> Stats.quantile(w._1.map(f => (f.landedMs - f.dueMs).toDouble), 0.95),
        "exec.ms" -> per("addBatch"), "exec.jobs" -> agg.jobs / n, "exec.stages" -> agg.stages / n,
        "exec.tasks" -> agg.tasks / n, "exec.task_run_ms" -> agg.taskRunMs / n,
        "exec.busy_frac" -> agg.taskRunMs.toDouble / ((t2 - t1) * cfg.cores),
        "exec.gc_ms" -> agg.gcMs / n, "exec.shuffle_write_bytes" -> agg.shuffleWriteBytes / n,
        "exec.shuffle_read_bytes" -> agg.shuffleReadBytes / n, "exec.spill_bytes" -> agg.spillBytes / n,
        "exec.task_skew" -> agg.taskSkew, "jobs_per_query" -> agg.jobs / n,
        "trace.overhead_frac" -> (Stats.quantile(lags(w), 0.5) / untracedLag - 1))
    }

    // -- drain: stop, let a fixed backlog land, restart on the same checkpoints
    queries.foreach(_.stop())
    val snapshot = if (cfg.trace) Some(copyTree(work.resolve("ckpt"), work.resolve("ckpt_snapshot"))) else None
    val backlogRows = cfg.int("backlog_rows")
    val backlog = (0 until backlogRows / perFile).map { _ =>
      val f = gen.write(System.currentTimeMillis(), perFile); allFiles += f; f
    }
    val restartAt = System.currentTimeMillis()
    queries = start(spark, dirs)
    val drained = commitTimes(ckpts, queries, backlog, 120)
    uncommitted += backlog.count(f => !drained.contains(f.name))
    val drainS = (drained.values.maxOption.getOrElse(System.currentTimeMillis()) - restartAt) / 1000.0
    val firstAfter = ckpts.map(c => Checkpoint.commitMs(c).values.filter(_ >= restartAt).minOption)
    // let the count query run the no-data batch that applies the final
    // watermark, so the windows it closes are part of the output check
    val finalWmMs = gen.maxTsUs / 1000 - 10000
    val wmDeadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (Checkpoint.watermarkMs(ckpts.head, Checkpoint.commitMs(ckpts.head).keys.max) < finalWmMs &&
        System.nanoTime() < wmDeadline) Thread.sleep(50)
    val heapMb = Main.retainedHeapMb()
    queries.foreach(_.stop())

    // -- output checks
    val checks = check(spark, dirs, gen, ckpts.head, progress.all.asScala.toSeq)
    layers ++= Map(
      "stream.restart_ms" -> firstAfter.map(_.getOrElse(System.currentTimeMillis()) - restartAt).max.toDouble,
      "stream.rows_dropped_late" -> droppedLate(progress.all.asScala.toSeq).toDouble)

    // -- the same drain on one core (traced runs only)
    snapshot.foreach { snap =>
      spark.stop()
      spark = Main.session(1)
      spark.sparkContext.addSparkListener(probe)
      rocksDb(spark)
      val dirs1 = Jobs.Dirs(watch.toString, work.resolve("out_1core").toString, snap.toString)
      val at = System.currentTimeMillis()
      queries = start(spark, dirs1)
      val drained1 = commitTimes(Queries.map(q => snap.resolve(q)), queries, backlog, 150)
      queries.foreach(_.stop())
      layers("stream.drain_rows_per_s_1core") =
        if (drained1.size < backlog.size) 0.0 else backlogRows / ((drained1.values.max - at) / 1000.0)
    }

    val attempted = allFiles.length + checks.size
    val failed = uncommitted + checks.count(_._2.nonEmpty)
    val endToEnd = Map(
      "setup_s" -> setupS,
      // each executed micro-batch of either query is one incremental call
      "query_p50_ms" -> Stats.quantile(timedBatches, 0.5),
      "query_p90_ms" -> Stats.quantile(timedBatches, 0.9),
      "queries_per_s" -> timedBatches.length / ((tEnd - t0) / 1000.0),
      "commit_lag_p50_ms" -> Stats.quantile(timedLag, 0.5),
      "commit_lag_p95_ms" -> Stats.quantile(timedLag, 0.95),
      "drain_rows_per_s" -> backlogRows / drainS,
      "retained_heap_mb" -> heapMb)
    Result(attempted, failed, endToEnd, layers.toMap, Map(
      "failed_ops_frac" -> failed.toDouble / attempted,
      "checks" -> checks, "uncommitted_files" -> uncommitted,
      "events" -> gen.events, "files" -> allFiles.length, "backlog_rows" -> backlogRows,
      "drain_s" -> drainS, "timed_lag_ms" -> timedLag, "timed_batch_ms" -> timedBatches,
      "gen_late_ms" -> allFiles.map(f => f.landedMs - f.dueMs).toSeq,
      "spans" -> tr.map(t => t.toJson :+ Map("self_ms_by_layer" -> t.selfMsByLayer)).getOrElse(Seq.empty)))
  }

  /** Per file, the latest commit time of its batch over all `ckpts`.
    * Waits until every file is committed or `deadlineS` has passed, and
    * rethrows a query's failure. */
  private def commitTimes(ckpts: Seq[Path], queries: Seq[StreamingQuery], files: Seq[GenFile],
      deadlineS: Double): Map[String, Long] = {
    val deadline = System.nanoTime() + (deadlineS * 1e9).toLong
    var done = Map.empty[String, Long]
    while (done.size < files.size && System.nanoTime() < deadline) {
      queries.foreach(q => q.exception.foreach(e => throw e))
      val per = ckpts.map(c => (Checkpoint.fileBatches(c), Checkpoint.commitMs(c)))
      done = files.flatMap { f =>
        val ts = per.map { case (fb, cm) => fb.get(f.name).flatMap(cm.get) }
        if (ts.forall(_.isDefined)) Some(f.name -> ts.flatten.max) else None
      }.toMap
      if (done.size < files.size) Thread.sleep(50)
    }
    done
  }

  private def rocksDb(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  private def start(spark: SparkSession, dirs: Jobs.Dirs): Seq[StreamingQuery] = {
    val (counts, durations) = Jobs.courseUseCase(spark, dirs)
    Seq(counts, durations)
  }

  private def droppedLate(ps: Seq[StreamingQueryProgress]): Long =
    ps.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum

  /** Parquet part files under the sink directories, with their sizes. */
  private def sinkFiles(work: Path): Map[Path, Long] = {
    val out = work.resolve("out")
    if (!Files.isDirectory(out)) Map.empty
    else Files.walk(out).iterator.asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(p => p -> Files.size(p)).toMap
  }

  private def copyTree(from: Path, to: Path): Path = {
    Files.walk(from).iterator.asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    }
    to
  }

  /** Each check maps to "" when it holds, else to what was wrong:
    *  - every emitted (user, event_type, win_start, cnt) row equals the
    *    generator's recount, and no window is emitted twice;
    *  - every window the final watermark has closed was emitted;
    *  - the sessionizer emitted exactly one row per generated event;
    *  - no row was dropped as late. */
  private def check(spark: SparkSession, dirs: Jobs.Dirs, gen: Generator, countsCkpt: Path,
      progress: Seq[StreamingQueryProgress]): Seq[(String, String)] = {
    val rows = spark.read.parquet(s"${dirs.out}/counts")
      .select(col("user_id"), col("event_type"), unix_micros(col("win_start")), col("cnt"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)) -> r.getLong(3))
    val emitted = rows.toMap
    val dupes = rows.length - emitted.size
    val wrong = emitted.count { case (k, n) => !gen.counts.get(k).contains(n) }
    val lastBatch = Checkpoint.commitMs(countsCkpt).keys.max
    val wmUs = Checkpoint.watermarkMs(countsCkpt, lastBatch) * 1000L
    val closed = gen.counts.keys.filter { case (_, _, w) => w + WindowUs <= wmUs }
    val missing = closed.count(k => !emitted.contains(k))
    val d = spark.read.parquet(s"${dirs.out}/durations")
      .agg(count(lit(1)), countDistinct(col("event_id"))).head()
    val late = droppedLate(progress)
    Seq(
      "counts_equal_recount" -> (if (wrong == 0 && dupes == 0) "" else s"$wrong wrong, $dupes emitted twice of ${rows.length}"),
      "closed_windows_emitted" -> (if (missing == 0 && closed.nonEmpty) "" else s"$missing of ${closed.size} closed windows missing"),
      "one_duration_per_event" -> (if (d.getLong(0) == gen.events && d.getLong(1) == gen.events) ""
        else s"${d.getLong(0)} rows, ${d.getLong(1)} distinct ids for ${gen.events} events"),
      "no_late_drops" -> (if (late == 0) "" else s"$late rows dropped as late"))
  }
}
