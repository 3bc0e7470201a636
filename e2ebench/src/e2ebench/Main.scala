package e2ebench

import java.sql.Timestamp

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.E2eBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkEntry
import graft.ops.{Core, Curation, Dedup, IndexTables, Joins, Packing, TextAnalysis, Windowing}
import graft.sources.Sinks
import graft.streaming.{Stateful, StreamingOps}

final case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String)

/** One benchmark process: set up a session, warm up, measure one workload
  * over the inputs the runner generated, dump the outputs the runner checks
  * and write every raw measurement to one JSON file.
  *
  * Usage: Main <workload> <dataDir> <workDir> <seconds> <trace 0|1>
  *        <spawnEpochMs> <warmChunks:openChunks:chunkIntervalMs> <resultJson>
  */
object Main {
  /** The reference-surface catalog entries that read only events/lineitem. */
  val OlapQueries: Seq[String] = Seq("q_keyed_count", "q_keyed_sum",
    "q_pricing_summary", "q_window_tumbling", "q_window_sliding",
    "q_window_session", "q_window_topk", "q_union", "q_window_join",
    "q_interval_join", "q_asof_join", "q_keep_last3", "q_list_state",
    "q_running_sum", "q_rollup")

  // curate: recipe settings and packing budget
  val ContamN = 13
  val SemMinCos = 0.9
  val KFinal = 200
  val PackBudget = 2048L
  val ShardFiles = 8

  // stream_events: watermark delay above the generator's out-of-order bound
  val Delay = "5 seconds"
  val WindowMs = 10000L
  val TriggerN = 5
  val JoinBound = "1 SECOND"

  final class Ctx(val spark: SparkSession, val work: String, val traceMode: Boolean) {
    val tracer = new Tracer
    val probe = new Probe(tracer, kernelNames)
    val streamProbe = new StreamProbe(tracer, probe)
    val failures = mutable.ArrayBuffer[Map[String, Any]]()
    var attempted = 0L

    def fail(op: String, t: Throwable): Unit = failures.synchronized {
      var root = t
      while (root.getCause != null && root.getCause != root) root = root.getCause
      failures += Map("op" -> op, "class" -> t.getClass.getName,
        "message" -> String.valueOf(t.getMessage).take(500),
        "root_class" -> root.getClass.getName,
        "root_message" -> String.valueOf(root.getMessage).take(500))
    }

    def fail(op: String, message: String): Unit = failures.synchronized {
      failures += Map("op" -> op, "class" -> "check", "message" -> message)
    }

    private def attach(): Unit = {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
      spark.streams.addListener(streamProbe)
      tracer.on = true
    }

    private def detach(): Unit = {
      E2eBridge.drain(spark.sparkContext)
      tracer.on = false
      spark.streams.removeListener(streamProbe)
      spark.listenerManager.unregister(probe)
      spark.sparkContext.removeSparkListener(probe)
    }

    /** Times one unit of work; with `traced` the listeners are attached
      * around it and the spans recorded. Returns (ms, result or None if
      * it threw — the cause is recorded).
      */
    def op[A](name: String, run: Int, traced: Boolean)(f: => A): (Double, Option[A]) = {
      if (traced) attach()
      tracer.run = run
      attempted += 1
      val t0 = System.nanoTime()
      val r = try Some(tracer.span("op")(f)) catch { case t: Throwable => fail(name, t); None }
      val ms = (System.nanoTime() - t0) / 1e6
      if (traced) detach()
      (ms, r)
    }

    /** Runs untimed set-up or check work; a throw is recorded as a failure. */
    def guard[A](name: String)(f: => A): Option[A] =
      try Some(f) catch { case t: Throwable => fail(name, t); None }
  }

  /** Lower-cased names of the ArrayKernels expressions, as they print in plans. */
  lazy val kernelNames: Set[String] =
    Class.forName("graft.functions.ArrayKernels").getDeclaredClasses
      .map(_.getSimpleName.stripSuffix("$").toLowerCase)
      .filter(n => n.nonEmpty && !n.contains("anon")).toSet

  /** Full materialization of every output column (Bench.exercise). */
  def exercise(df: DataFrame): Unit = {
    df.select(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)).as("h"))
      .agg(expr("bit_xor(h)")).collect()
    ()
  }

  /** Host drift yardsticks: the serial and parallel hash-xor probes. */
  def calibrate(spark: SparkSession, threads: Int): (Double, Double) = {
    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val rows = 200L * 1000 * 1000
    val serial = time(spark.range(rows).select(xxhash64(col("id")).as("h"))
      .agg(expr("bit_xor(h)")).collect())
    val par = time(spark.range(0L, rows * threads, 1L, threads)
      .select(xxhash64(col("id")).as("h")).agg(expr("bit_xor(h)")).collect())
    (serial, par)
  }

  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, data, work, secondsS, traceS, spawnS, chunkPlan, out) = args
    val seconds = secondsS.toDouble
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("e2ebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      // the stream's three queries submit jobs from three threads; FAIR lets
      // their tasks share the cores instead of queueing whole jobs
      .config("spark.scheduler.mode", "FAIR")
      // no empty micro-batch after each drained closed-loop chunk: it would
      // run into the next chunk's batch; watermarks still advance on data
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, work, traceS == "1")
    val spawnMs = spawnS.toLong
    val body: Map[String, Any] = workload match {
      case "olap_mix" => olapMix(ctx, data, seconds, spawnMs)
      case "curate" => curate(ctx, data, seconds, spawnMs)
      case "stream_events" =>
        val Array(warm, open, intervalMs) = chunkPlan.split(":").map(_.toInt)
        streamEvents(ctx, data, spawnMs, warm, open, intervalMs)
    }
    val (calSerial, calPar) = calibrate(spark, cores)
    val result = body ++ Map(
      "workload" -> workload, "cores" -> cores, "trace" -> ctx.traceMode,
      "attempted" -> ctx.attempted, "failures" -> ctx.failures.toList,
      "rss_peak_mb" -> rssPeakMb(),
      "calibration_sec" -> calSerial, "calibration_par_sec" -> calPar,
      "index_builds" -> IndexTables.buildsRun, "index_build_ms" -> IndexTables.buildSeconds * 1000,
      "spans" -> ctx.tracer.spans, "counters" -> ctx.probe.counters,
      "sql_execs" -> ctx.probe.sqlExecs)
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new java.io.File(out), result)
    spark.stop()
  }

  private def setupSeconds(spawnMs: Long): Double =
    (System.currentTimeMillis() - spawnMs) / 1000.0

  // ---------------------------------------------------------------- olap_mix

  def olapMix(ctx: Ctx, data: String, seconds: Double, spawnMs: Long): Map[String, Any] = {
    val spark = ctx.spark
    val qs = OlapQueries.map(n => n -> SparkEntry.queries(n))
    qs.foreach { case (n, fn) => ctx.guard(s"warmup:$n")(exercise(fn(spark, data))) }
    val setupS = setupSeconds(spawnMs)
    val samples = mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime()
    var round = 0
    var run = 0
    // whole rounds only, so every query weighs the same in the percentiles;
    // the traced run alternates untraced and traced rounds
    val minRounds = if (ctx.traceMode) 2 else 1
    while (round < minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = ctx.traceMode && round % 2 == 1
      qs.foreach { case (n, fn) =>
        val (ms, r) = ctx.op(n, run, traced) {
          val df = ctx.tracer.span("driver.build")(fn(spark, data))
          ctx.tracer.span("driver.action")(exercise(df))
        }
        samples += Map("op" -> n, "ms" -> ms, "traced" -> traced, "ok" -> r.isDefined)
        run += 1
      }
      round += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    // untimed correctness dump, compared by the runner with DuckDB; the
    // dumps are independent jobs, so they run side by side
    qs.par.foreach { case (n, fn) =>
      ctx.guard(s"dump:$n")(fn(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"${ctx.work}/out/$n"))
    }
    Map("setup_s" -> setupS, "samples" -> samples.toList, "measured_s" -> measuredS,
      "rounds" -> round, "oracle_sql" -> OlapQueries.map(n => n -> SparkEntry.oracleSql.get(n)).toMap)
  }

  // ------------------------------------------------------------------ curate

  def curate(ctx: Ctx, data: String, seconds: Double, spawnMs: Long): Map[String, Any] = {
    val spark = ctx.spark
    final case class Run(table: DataFrame, stats: Array[org.apache.spark.sql.Row],
        survivors: DataFrame, packed: DataFrame, out: String)
    def pipeline(run: Int): Run = {
      val tr = ctx.tracer
      val out = s"${ctx.work}/shards/run-$run"
      val (docs, evalSet) = tr.span("sources.read")(
        (spark.read.parquet(s"$data/corpus.parquet"), spark.read.parquet(s"$data/eval.parquet")))
      val prefix = tr.span("ops.curation.prefix")(
        Curation.recipePrefixDecisions(docs, evalSet, contamN = ContamN))
      val table = tr.span("ops.decontam.sem")(
        Curation.recipePrefixSemExtend(prefix, docs, evalSet, SemMinCos).localCheckpoint())
      val stats = tr.span("ops.curation.v9_stats")(
        Curation.cleanCorpusV9Stats(docs, evalSet, contamN = ContamN, semMinCos = SemMinCos,
          kFinal = KFinal, prefix = Some(table)).collect())
      val survivors = tr.span("ops.curation.survivors")(
        docs.join(table.where(col("sem")).select("doc_id"), Seq("doc_id"), "left_semi")
          .select("doc_id", "text").localCheckpoint())
      val packed = tr.span("ops.packing.pack")(
        Packing.packByTokenBudget(survivors, PackBudget).localCheckpoint())
      tr.span("sources.write")(Sinks.writeRangeClustered(packed.join(survivors, "doc_id"),
        out, ShardFiles, Seq("shard_id", "doc_id")))
      Run(table, stats, survivors, packed, out)
    }
    // warm-up on the same corpus: codegen, the kernels' first use, state init
    ctx.guard("warmup:pipeline")(pipeline(-1))
    val setupS = setupSeconds(spawnMs)
    val samples = mutable.ArrayBuffer[Map[String, Any]]()
    var last: Option[Run] = None
    val t0 = System.nanoTime()
    var run = 0
    // one pipeline run costs more than the run length, so an untraced run
    // times one; the traced run times a traced and an untraced one
    val minRuns = if (ctx.traceMode) 2 else 1
    while (run < minRuns || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = ctx.traceMode && run % 2 == 0
      val (ms, r) = ctx.op("pipeline", run, traced)(pipeline(run))
      samples += Map("op" -> "pipeline", "ms" -> ms, "traced" -> traced, "ok" -> r.isDefined)
      if (r.isDefined) last = r
      run += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val docsIn = spark.read.parquet(s"$data/corpus.parquet").count()
    // untimed outputs for the runner's ground-truth checks
    val checks: Map[String, Any] = last.flatMap { r =>
      ctx.guard("check:dump") {
        r.survivors.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
          .coalesce(1).write.mode("overwrite").parquet(s"${ctx.work}/out/survivors")
        r.packed.coalesce(1).write.mode("overwrite").parquet(s"${ctx.work}/out/packed")
        val survivorTokens = r.survivors
          .agg(coalesce(sum(size(Core.tokensUni(col("text")))), lit(0L)).cast("long")).head().getLong(0)
        val p = r.packed.agg(count(lit(1)), coalesce(sum("n_tokens"), lit(0L)).cast("long"),
          countDistinct("shard_id")).head()
        Map("written_rows" -> spark.read.parquet(r.out).count(),
          "survivor_tokens" -> survivorTokens,
          "packed_rows" -> p.getLong(0), "packed_tokens" -> p.getLong(1), "shards" -> p.getLong(2),
          "stage_counts" -> r.stats.map(row => row.getString(0) -> row.getLong(1)).toMap,
          "pack_budget" -> PackBudget)
      }
    }.getOrElse(Map.empty)
    // SNM candidate pairs vs pairs at the dedup threshold, for the traced run
    val pairs: Map[String, Any] = if (!ctx.traceMode) Map.empty else last.flatMap { r =>
      ctx.guard("trace:pairs") {
        val docs = spark.read.parquet(s"$data/corpus.parquet")
        val exact = docs.join(r.table.where(col("ex")).select("doc_id"), Seq("doc_id"), "left_semi")
        Map("candidate_pairs" -> Dedup.sortedNeighborPairs(exact, threshold = 0.0).count(),
          "confirmed_pairs" -> Dedup.sortedNeighborPairs(exact, threshold = 0.9).count())
      }
    }.getOrElse(Map.empty)
    Map("setup_s" -> setupS, "samples" -> samples.toList, "measured_s" -> measuredS,
      "docs_in" -> docsIn, "checks" -> checks, "pairs" -> pairs)
  }

  // ----------------------------------------------------------- stream_events

  def streamEvents(ctx: Ctx, data: String, spawnMs: Long,
      warmChunks: Int, openChunks: Int, intervalMs: Int): Map[String, Any] = {
    val spark = ctx.spark
    import spark.implicits._
    val rows = spark.read.parquet(s"$data/stream.parquet")
      .as[(Long, Timestamp, Long, String, Int)].collect()
    val chunks: Array[Array[Ev]] = rows.groupBy(_._5).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._1).map(r => Ev(r._1, r._2, r._3, r._4)))
    val allEvents = chunks.flatten.toSeq

    // one source per query side: a MemoryStream drops what any one query commits
    object p {
      val sTumble = MemoryStream[Ev](1, spark, None)
      val sTrig = MemoryStream[Ev](2, spark, None)
      val sClick = MemoryStream[Ev](3, spark, None)
      val sBuy = MemoryStream[Ev](4, spark, None)
      private def start(name: String, df: DataFrame): StreamingQuery =
        df.writeStream.format("memory").queryName(name).outputMode("append")
          .option("checkpointLocation", s"${ctx.work}/ck/$name").start()
      val queries: Seq[(String, StreamingQuery)] = Seq(
        "tumble" -> start("tumble", StreamingOps.tumblingCount(sTumble.toDF(), "ts", Delay,
          s"${WindowMs / 1000} seconds", "event_type")),
        "trigger" -> start("trigger", Stateful.windowedCountTrigger(
          sTrig.toDS().withWatermark("ts", Delay).as[Ev], (e: Ev) => e.user_id,
          (e: Ev) => e.ts.getTime, WindowMs, TriggerN).toDF()),
        "join" -> start("join", Joins.intervalJoin(
          sClick.toDF().withWatermark("ts", Delay), sBuy.toDF().withWatermark("ts", Delay),
          "user_id", "ts", "event_id", JoinBound)))
      val added = mutable.Map[String, Long]().withDefaultValue(0L)
      /** Adds one chunk to every query's source(s); returns the offset. */
      def add(evs: Seq[Ev]): Long = {
        val clicks = evs.filter(_.event_type == "click")
        val buys = evs.filter(_.event_type == "purchase")
        val off = sTumble.addData(evs).json().toLong
        sTrig.addData(evs); sClick.addData(clicks); sBuy.addData(buys)
        added("tumble") += evs.size; added("trigger") += evs.size
        added("join") += clicks.size + buys.size
        off
      }
      def drain(): Unit = queries.foreach(_._2.processAllAvailable())
      def stop(): Unit = queries.foreach(_._2.stop())
    }

    // warm-up: the first chunks of the stream, drained untimed (codegen,
    // state-store creation, the first state reload)
    ctx.guard("warmup:stream")((0 until warmChunks).foreach { i => p.add(chunks(i).toSeq); p.drain() })
    val setupS = setupSeconds(spawnMs)

    // ---- open loop: a generator thread adds chunks on a fixed schedule
    val openOffsets = new Array[Long](openChunks)
    val dueMs = new Array[Double](openChunks)
    val lateMs = new Array[Double](openChunks)
    val genStart = ctx.tracer.nowMs + 200
    val gen = new Thread(() => {
      var i = 0
      while (i < openChunks) {
        dueMs(i) = genStart + i * intervalMs
        val wait = dueMs(i) - ctx.tracer.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        lateMs(i) = ctx.tracer.nowMs - dueMs(i)
        openOffsets(i) = p.add(chunks(warmChunks + i).toSeq)
        i += 1
      }
    }, "e2ebench-generator")
    val (_, backlog) = ctx.op("open_loop", 0, ctx.traceMode) {
      gen.start(); gen.join()
      val backlog = p.queries.map { case (n, q) =>
        p.added(n) - q.recentProgress.map(_.numInputRows).sum
      }.sum
      p.drain()
      backlog
    }
    def commitMs(pr: org.apache.spark.sql.streaming.StreamingQueryProgress): Double =
      java.time.Instant.parse(pr.timestamp).toEpochMilli +
        Option(pr.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
    def endOffset(pr: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
      pr.sources.map(s => Option(s.endOffset).map(_.toLong).getOrElse(-1L)).min
    val latency = mutable.ArrayBuffer[Map[String, Any]]()
    val openProgress = p.queries.map { case (n, q) => n -> q.recentProgress.toSeq }.toMap
    openProgress.foreach { case (n, prs) =>
      val sorted = prs.filter(_.sources.nonEmpty).sortBy(_.batchId)
      (0 until openChunks).foreach { i =>
        sorted.find(pr => endOffset(pr) >= openOffsets(i)).foreach { pr =>
          latency += Map("query" -> n, "chunk" -> i, "ms" -> (commitMs(pr) - dueMs(i)))
        }
      }
    }

    // ---- closed loop: fixed-size chunks, each drained before the next
    val closed = mutable.ArrayBuffer[Map[String, Any]]()
    (warmChunks + openChunks until chunks.length).zipWithIndex.foreach { case (ci, j) =>
      val traced = ctx.traceMode && j % 2 == 1
      val (ms, r) = ctx.op("closed_chunk", j + 1, traced) {
        ctx.tracer.span("streaming.add")(p.add(chunks(ci).toSeq))
        ctx.tracer.span("streaming.drain")(p.drain())
      }
      closed += Map("events" -> chunks(ci).length, "ms" -> ms, "traced" -> traced, "ok" -> r.isDefined)
    }

    // ---- final watermark flush: a sentinel far past every window moves
    // each watermark; the tumbling query emits its windows on the batch
    // after that, so it gets a second sentinel
    val flushTs = new Timestamp(allEvents.map(_.ts.getTime).max + 3600000L)
    p.sTumble.addData(Seq(Ev(-1, flushTs, -1L, "flush")))
    p.sTrig.addData(Seq(Ev(-1, flushTs, -1L, "flush")))
    p.sClick.addData(Seq(Ev(-1, flushTs, -1L, "flush")))
    p.sBuy.addData(Seq(Ev(-1, flushTs, -2L, "flush")))
    ctx.guard("flush")(p.drain())
    p.sTumble.addData(Seq(Ev(-2, flushTs, -1L, "flush")))
    ctx.guard("flush")(p.queries.head._2.processAllAvailable())
    val progress = p.queries.map { case (n, q) => n -> q.recentProgress.toSeq }
    val failed = p.queries.flatMap { case (n, q) => q.exception.map(e => n -> e) }
    failed.foreach { case (n, e) => ctx.fail(s"stream:$n", e) }
    p.stop()

    // ---- correctness: each query's output equals its batch twin
    val outputRows = ctx.guard("check:stream") {
      val ev = allEvents.toDS()
      def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
      val twins = Seq(
        "tumble" -> Windowing.tumblingCount(ev.toDF(), "ts", s"${WindowMs / 1000} seconds", col("event_type")),
        "trigger" -> Stateful.windowedCountTrigger(ev, (e: Ev) => e.user_id,
          (e: Ev) => e.ts.getTime, WindowMs, TriggerN).toDF(),
        "join" -> Joins.intervalJoin(ev.toDF().where(col("event_type") === "click"),
          ev.toDF().where(col("event_type") === "purchase"), "user_id", "ts", "event_id", JoinBound))
      twins.foreach { case (n, twin) =>
        val got = rowsOf(spark.table(n))
        val want = rowsOf(twin)
        if (got != want) {
          val g = got.groupBy(identity).map { case (k, v) => k -> v.size }
          val w = want.groupBy(identity).map { case (k, v) => k -> v.size }
          val missing = w.map { case (k, c) => math.max(0, c - g.getOrElse(k, 0)) }.sum
          val extra = g.map { case (k, c) => math.max(0, c - w.getOrElse(k, 0)) }.sum
          ctx.fail(s"stream:$n", s"output differs from the batch twin: $missing rows missing, " +
            s"$extra extra (got ${got.size}, want ${want.size})")
        }
      }
      twins.map { case (n, _) => n -> spark.table(n).count() }.toMap
    }

    val progressOut = progress.map { case (n, prs) =>
      n -> prs.map { pr =>
        val st = pr.stateOperators
        Map("batch" -> pr.batchId, "rows" -> pr.numInputRows, "commit_ms" -> commitMs(pr),
          "end_offset" -> (if (pr.sources.isEmpty) -1L else endOffset(pr)),
          "duration" -> pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "state_rows" -> st.map(_.numRowsTotal).sum,
          "state_mem_bytes" -> st.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> st.map(_.commitTimeMs).sum,
          "dropped_late" -> st.map(_.numRowsDroppedByWatermark).sum)
      }
    }.toMap
    Map("setup_s" -> setupS, "latency" -> latency.toList, "closed" -> closed.toList,
      "gen_late_ms" -> lateMs.toSeq,
      "open_backlog_rows" -> backlog.getOrElse(-1L), "progress" -> progressOut,
      "output_rows" -> outputRows.getOrElse(Map.empty))
  }

}
