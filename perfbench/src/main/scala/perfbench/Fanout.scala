package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.engine.{RefPipelines, Tables}
import graft.streaming.{EventSource, IdempotentJdbcSink, LoggingAlerter, StreamRunner}

/** The reference topology under load: a file source of JSON wire lines
  * (`EventSource.parseWire` → `EventSource.typed`) fans out through
  * `StreamRunner.startAll` into the six queries, which write through
  * `IdempotentJdbcSink` into embedded in-memory Derby.
  *
  * `fanout_steady` is an open loop: the generator writes the events due
  * in each 250 ms tick at a fixed [[Fanout.Rate]] whatever the pipeline
  * does, and each event's latency counts from its scheduled creation.
  * Traced runs add closed drains: a backlog dropped into the source of
  * six running, warmed-up queries, at four cores and at one.
  */
object Fanout {
  val Rate = 1500
  val TickMillis = 250L
  /** the six queries' trigger interval: a fixed cadence instead of
    * back-to-back triggers, whose phases drift from run to run. Triggers
    * take ~1.7 s at the median; at 2.5 s a slow stretch of the machine
    * grew the backlog and failed runs. */
  val TriggerMillis = 3000L
  /** untimed lead-in of `fanout_steady`: the first triggers run with a cold JIT */
  val WarmSeconds = 2
  /** events of the traced runs' drains, dropped in as one file */
  val DrainEvents = 100000L
  val SetupCycles = 3
  val SetupEvents = 2000

  val Six: Seq[String] = Seq(
    "events_full", "abnormal_value", "abnormal_discrepancy",
    "avg_revenue_per_hour", "trip_count_per_hour", "trip_count_by_borough")
  /** tables with one row per qualifying event: the latency join's input */
  val RowTables: Seq[String] = Six.take(3)
  val WindowTables: Seq[String] = Six.drop(3)

  /** Six running queries with their instrumented sink and alerter. */
  final class Fan(
      val queries: Seq[StreamingQuery],
      val sink: TimedSink,
      val alerter: TimedAlerter,
      val runner: StreamRunner,
      val url: String)

  def start(ctx: Ctx, in: Path, db: String,
      trigger: Option[Trigger] = Some(Trigger.ProcessingTime(TriggerMillis))): Fan = {
    val url = s"jdbc:derby:memory:$db;create=true"
    // the database is up before the pipeline starts, as a deployed one
    // is; six writers racing to create it fail their first epoch
    java.sql.DriverManager.getConnection(url).close()
    val sink = new TimedSink(new IdempotentJdbcSink(url, new java.util.Properties))
    val alerter = new TimedAlerter(new LoggingAlerter, sink)
    val runner = new StreamRunner(
      ctx.spark, sink, alerter, ctx.work.resolve(s"checkpoints-$db").toString,
      trigger = trigger, dimDir = ctx.fixture)
    val events = EventSource.typed(EventSource.parseWire(ctx.spark.readStream.text(in.toString)))
    new Fan(runner.startAll(events), sink, alerter, runner, url)
  }

  private def dirs(ctx: Ctx, name: String): (Path, Path) = {
    val in = Files.createDirectories(ctx.work.resolve(s"$name/in"))
    (in, Files.createDirectories(ctx.work.resolve(s"$name/staging")))
  }

  private def await(what: String, timeoutS: Double)(done: => Boolean): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!done) {
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(10)
    }
  }

  private def failedQueries(fan: Fan): Seq[String] =
    fan.queries.filter(_.exception.isDefined).map(q => s"${q.name}: ${q.exception.get.getMessage.linesIterator.next()}")

  /** One set-up: start the six queries on a fresh source, checkpoints and
    * database, and wait until every query has committed its first epoch.
    */
  def setupOnce(ctx: Ctx, events: Events, k: Int): Double = {
    val (in, staging) = dirs(ctx, s"setup$k")
    events.writeFile(in, staging, "part-000000", 0, SetupEvents)
    val t0 = System.nanoTime()
    val fan = start(ctx, in, s"setup$k")
    try {
      await("the first epoch of every query", 120)(
        fan.queries.forall(q => q.lastProgress != null || !q.isActive))
      val failed = failedQueries(fan)
      if (failed.nonEmpty) throw new IllegalStateException(s"set-up failed: ${failed.mkString("; ")}")
      (System.nanoTime() - t0) / 1e9
    } finally fan.queries.foreach(_.stop()) // may interrupt a later epoch: only set-up is judged
  }

  /** Let the queries commit the first `rows` events and close the
    * windows those close, so that stopping interrupts no epoch: after the
    * last data epoch, a windowed query runs one more, empty, epoch for the
    * new watermark. (`processAllAvailable` would wait a trigger interval
    * per query, one query after the other.)
    */
  private def settle(fan: Fan, log: ProgressLog, rows: Long): Unit = {
    await(s"$rows committed events", 120)(
      Six.forall(log.committed(_) >= rows) || !fan.queries.forall(_.isActive))
    val windowed = fan.queries.filter(q => WindowTables.contains(q.name))
    val deadline = System.nanoTime() + 3 * TriggerMillis * 1000000L
    while (System.nanoTime() < deadline &&
      !windowed.forall(q => !q.isActive || Option(q.lastProgress).exists(_.numInputRows == 0))) Thread.sleep(10)
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val events = new Events(ctx.seed)
    val setups = (1 to SetupCycles).map(k => setupOnce(ctx, events, k))
    out.metric("setup_s", ctx.sessionSeconds + Stats.median(setups), "s")
    ctx.phase(s"set-up ${setups.map(t => f"$t%.2f").mkString(" ")}")

    val (in, staging) = dirs(ctx, "run")
    val total = Rate.toLong * (WarmSeconds + ctx.seconds)
    val counted: Long => Boolean = id => id >= Rate.toLong * WarmSeconds && id < total
    val log = new ProgressLog
    spark.streams.addListener(log)
    val gc0 = Jvm.gcSeconds
    val lagSamples = ArrayBuffer.empty[Long]
    var genLateMax = 0.0
    var windowStartMs = 0L
    var cpu0 = 0L

    val fan = start(ctx, in, "run")
    ctx.phase("stream start")
    // processing-time triggers fire on wall-clock multiples of the interval:
    // start the stream so that the window opens just after one, and every
    // window holds the same number of triggers
    val opensAt = System.currentTimeMillis() + WarmSeconds * 1000L
    Thread.sleep(Math.floorMod(100L - opensAt, TriggerMillis))
    val t0 = System.nanoTime()
    def slowest: Long = Six.map(log.committed).min
    val perTick = Rate * TickMillis / 1000
    val warmTicks = (WarmSeconds * 1000 / TickMillis).toInt
    val ticks = ((WarmSeconds + ctx.seconds) * 1000 / TickMillis).toInt
    var k = 1
    while (k <= ticks && fan.queries.forall(_.isActive)) {
      val due = t0 + k * TickMillis * 1000000L
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      if (k == warmTicks) {
        windowStartMs = System.currentTimeMillis()
        cpu0 = Jvm.cpuNanos
      }
      events.writeFile(in, staging, f"part-$k%06d", (k - 1) * perTick, k * perTick)
      genLateMax = math.max(genLateMax, (System.nanoTime() - due) / 1e9)
      if (k > warmTicks) lagSamples += k.toLong * perTick - slowest
      k += 1
    }
    val cpu1 = Jvm.cpuNanos
    ctx.phase("generation")
    settle(fan, log, total)
    ctx.phase("settle")
    val heapMb = Jvm.liveHeapMb()
    failedQueries(fan).foreach(out.fail)
    fan.queries.foreach(_.stop())
    spark.streams.removeListener(log)
    ctx.phase("measured")
    log.failures.forEach(f => out.fail(s"query terminated: $f"))

    // ---- latency: the (_epoch, event_id) readback joined with write ends ----
    val created: Long => Long = id => t0 + id * 1000000000L / Rate
    val latencies = RowTables.flatMap { table =>
      val ends = fan.sink.writeEnds(table)
      Jdbc.epochIds(fan.url, table)(rows => Stats.rowLatencies(rows, ends.get, created, counted))
    }
    val tailPct = Stats.tailPercentile(latencies.size)
    out.metric("latency_p50_s", Stats.median(latencies), "s")
    out.metric("latency_tail_s", Stats.percentile(latencies, tailPct), "s")
    out.layer("jvm.cpu_ms_per_unit", (cpu1 - cpu0) / 1e6 / (Rate * ctx.seconds / 1000.0), "ms")
    out.metric("heap_live_mb", heapMb, "MB")

    // ---- the pipeline's output against batch recomputation (untimed) ----
    check(ctx, fan, in, total, out)
    ctx.phase("checks")

    // ---- per-layer figures ----
    val reports = log.reports.filter(p => Progress.startMillis(p) >= windowStartMs)
    layers(fan, reports, out)
    out.layer("latency.tail_pct", tailPct, "pct")
    out.layer("latency.samples", latencies.size.toDouble, "count")
    out.layer("source.lag_events_max", lagSamples.maxOption.getOrElse(0L).toDouble, "count")
    out.layer("gen.late_max_s", genLateMax, "s")
    out.layer("gen.events", total.toDouble, "count")
    out.layer("jvm.gc_s", Jvm.gcSeconds - gc0, "s")
    out.attempted += Six.size.toLong + reports.size + fan.sink.writes.size

    if (lagSamples.size >= 3) {
      // an open loop above the sustainable rate shows as a growing backlog
      val third = lagSamples.size / 3
      val growth = lagSamples.takeRight(third).max - lagSamples.take(third).max
      out.layer("source.lag_growth_events", growth.toDouble, "count")
      if (growth > 2L * Rate)
        out.fail(s"backlog grew by $growth events over the measured window: $Rate events/s not sustained")
    }
    if (ctx.rec.tracing) traced(ctx, events, in, fan, log.reports, out)
  }

  /** Per-layer figures read from the progress reports and the decorators. */
  private def layers(fan: Fan, reports: Seq[StreamingQueryProgress], out: Outcome): Unit = {
    val trig = reports.map(Progress.ms(_, "triggerExecution") / 1e3)
    out.layer("runner.triggers", reports.size.toDouble, "count")
    out.layer("runner.trigger_s_p50", if (trig.isEmpty) 0.0 else Stats.median(trig), "s")
    out.layer("runner.trigger_s_p90", if (trig.isEmpty) 0.0 else Stats.percentile(trig, 90), "s")
    val source = reports.map(p => Progress.ms(p, "getBatch") + Progress.ms(p, "latestOffset")).sum / 1e3
    out.layer("source.getbatch_s", source, "s")
    out.layer("runner.overhead_s",
      reports.map(p => Progress.ms(p, "triggerExecution") - Progress.ms(p, "addBatch")).sum / 1e3 - source, "s")
    Six.foreach { t =>
      out.layer(s"runner.addbatch_s.$t", reports.filter(_.name == t).map(Progress.ms(_, "addBatch")).sum / 1e3, "s")
    }
    val state = reports.filter(p => WindowTables.contains(p.name)).flatMap(_.stateOperators)
    val lastState = WindowTables.flatMap(t => reports.filter(_.name == t).lastOption).flatMap(_.stateOperators)
    out.layer("state.rows_total", lastState.map(_.numRowsTotal).sum.toDouble, "count")
    out.layer("state.mem_bytes", lastState.map(_.memoryUsedBytes).sum.toDouble, "B")
    out.layer("state.commit_s", state.map(_.commitTimeMs).sum / 1e3, "s")
    out.layer("state.update_s", state.map(_.allUpdatesTimeMs).sum / 1e3, "s")
    val writes = fan.sink.writes.toArray(Array.empty[SinkWrite]).toSeq
    val writeS = writes.map(w => (w.end - w.start) / 1e9)
    out.layer("sink.writes", writes.size.toDouble, "count")
    out.layer("sink.rows", Six.map(Jdbc.count(fan.url, _)).sum.toDouble, "count")
    out.layer("sink.write_s", writeS.sum, "s")
    out.layer("sink.write_s_p90", if (writeS.isEmpty) 0.0 else Stats.percentile(writeS, 90), "s")
    val failedWrites = writes.count(!_.ok)
    out.layer("sink.failed", failedWrites.toDouble, "count")
    val alerts = fan.alerter.calls.toArray(Array.empty[AlertCall]).toSeq
    out.layer("alert.calls", alerts.size.toDouble, "count")
    out.layer("alert.s", alerts.map(a => (a.end - a.start) / 1e9).sum, "s")
    if (failedWrites > 0) out.fail(s"$failedWrites sink writes failed")
  }

  /** Static copy of the run's input, typed exactly as the stream types it. */
  private def staticEvents(ctx: Ctx, in: Path): DataFrame =
    EventSource.typed(EventSource.parseWire(ctx.spark.read.text(in.toString)))

  private def check(ctx: Ctx, fan: Fan, in: Path, total: Long, out: Outcome): Unit = {
    val spark = ctx.spark
    val (rows, ids, lo, hi) = Jdbc.idStats(fan.url, "events_full")
    if (rows != total || ids != total || lo != 0 || hi != total - 1)
      out.wrong(s"events_full holds $rows rows of $ids ids in [$lo, $hi], expected one row per id in [0, ${total - 1}]")
    val events = staticEvents(ctx, in).cache()
    def sinkTable(t: String): DataFrame =
      spark.read.jdbc(fan.url, t, new java.util.Properties).drop("_epoch")
    /** Compare the sink table with `expected` as bags of rows; the number
      * of rows expected. */
    def same(t: String, expected: DataFrame): Int = {
      def bag(df: DataFrame) = df.collect().groupBy(identity).view.mapValues(_.length).toMap
      val want = bag(expected)
      val got = bag(sinkTable(t).select(expected.columns.map(col).toSeq: _*))
      val missing = want.map { case (r, n) => math.max(0, n - got.getOrElse(r, 0)) }.sum
      val extra = got.map { case (r, n) => math.max(0, n - want.getOrElse(r, 0)) }.sum
      if (missing + extra > 0) out.wrong(s"$t: $missing expected rows missing, $extra unexpected rows")
      want.values.sum
    }
    same("abnormal_value", fan.runner.abnormalValue(events))
    same("abnormal_discrepancy", fan.runner.abnormalDiscrepancy(events))
    val nation = Tables.nation(spark, ctx.fixture)
    Seq(
      "avg_revenue_per_hour" -> RefPipelines.hourlyAvgRevenue(events),
      "trip_count_per_hour" -> RefPipelines.hourlyTripCount(events),
      "trip_count_by_borough" -> RefPipelines.hourlyCountByLookup(events, nation)).foreach {
      case (t, batch) =>
        val q = fan.queries.find(_.name == t).get
        val watermark = Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
          .map(w => java.time.Instant.parse(w).getEpochSecond).getOrElse(0L)
        // append mode emits a window once the watermark passes its end
        val closed = same(t, batch.filter(expr(s"unix_timestamp(concat(date, ' ', hour)) + 3600 <= $watermark")))
        if (closed == 0) out.wrong(s"$t: no window closed by the final watermark, so none was checked")
        System.err.println(s"[perfbench] $t: $closed rows of windows closed by the final watermark checked")
    }
    events.unpersist()
  }

  /** Traced-only figures: parse and each pipeline stage timed on a static
    * copy of the input, and drains of a preloaded backlog at four cores
    * and at one.
    */
  private def traced(
      ctx: Ctx, events: Events, in: Path, fan: Fan,
      reports: Seq[StreamingQueryProgress], out: Outcome): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    // trigger spans from the progress reports; sink writes and alerts hang
    // under the trigger of their (query, epoch)
    val triggerIds = reports.map { p =>
      val id = rec.newId()
      val start = ctx.toNanos(Progress.startMillis(p))
      rec.add(Span(id, ctx.workloadSpan, "trigger", start,
        start + (Progress.ms(p, "triggerExecution") * 1e6).toLong,
        Map("query" -> p.name, "epoch" -> p.batchId.toString)))
      (p.name, p.batchId) -> id
    }.toMap
    fan.sink.writes.forEach { w =>
      rec.add(Span(rec.newId(), triggerIds.getOrElse((w.table, w.epoch), ctx.workloadSpan), "sink.write",
        w.start, w.end, Map("table" -> w.table, "epoch" -> w.epoch.toString, "ok" -> w.ok.toString)))
    }
    fan.alerter.calls.forEach { a =>
      rec.add(Span(rec.newId(), triggerIds.getOrElse((a.table, a.epoch), ctx.workloadSpan), "alert",
        a.start, a.end, Map("table" -> a.table, "epoch" -> a.epoch.toString)))
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def timed(name: String)(body: => Unit): Double =
      rec.span(name, ctx.workloadSpan) { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
    out.layer("source.parse_s", timed("source.parse")(noop(staticEvents(ctx, in))), "s")
    val typed = staticEvents(ctx, in).cache()
    typed.count()
    val nation = Tables.nation(spark, ctx.fixture)
    Seq[(String, DataFrame)](
      "full_table" -> RefPipelines.fullTable(typed),
      "abnormal_value" -> fan.runner.abnormalValue(typed),
      "abnormal_discrepancy" -> fan.runner.abnormalDiscrepancy(typed),
      "hourly_avg_revenue" -> RefPipelines.hourlyAvgRevenue(typed),
      "hourly_trip_count" -> RefPipelines.hourlyTripCount(typed),
      "hourly_count_by_borough" -> RefPipelines.hourlyCountByLookup(typed, nation)).foreach {
      case (stage, df) => out.layer(s"pipeline.${stage}_s", timed(s"pipeline.$stage")(noop(df)), "s")
    }
    typed.unpersist()
    out.layer("runner.drain_eps",
      rec.span("runner.drain", ctx.workloadSpan)(_ => drainOnce(ctx, events, DrainEvents)), "1/s")
    out.layer("runner.drain_eps_1core", ctx.oneCore(one =>
      rec.span("runner.drain_1core", ctx.workloadSpan)(_ => drainOnce(one, events, DrainEvents))), "1/s")
  }

  /** Drain `n` events through the six queries; events per second.
    *
    * The queries start with back-to-back triggers on a small warm-up file
    * and settle after their first epochs, so query start-up stays off the
    * clock. The backlog is then renamed into the source as one file, which
    * each query takes in one batch; the clock runs from the rename until
    * every query has committed the backlog.
    */
  def drainOnce(ctx: Ctx, events: Events, n: Long): Double = {
    val name = s"drain${ctx.spark.sparkContext.defaultParallelism}"
    val (in, staging) = dirs(ctx, name)
    val parked = Files.createDirectories(ctx.work.resolve(s"$name/parked"))
    events.writeFile(in, staging, "part-000000", 0, SetupEvents)
    events.writeFile(parked, staging, "part-000001", SetupEvents, SetupEvents + n)
    val log = new ProgressLog
    ctx.spark.streams.addListener(log)
    val fan = start(ctx, in, name, trigger = None)
    def ended = !fan.queries.forall(_.isActive)
    try {
      settle(fan, log, SetupEvents)
      val before = log.reports.size
      val t0 = System.nanoTime()
      Files.move(parked.resolve("part-000001"), in.resolve("part-000001"), StandardCopyOption.ATOMIC_MOVE)
      await("the drain", 170)(Six.forall(log.committed(_) >= SetupEvents + n) || ended)
      val seconds = (System.nanoTime() - t0) / 1e9
      val failed = failedQueries(fan)
      if (failed.nonEmpty) throw new IllegalStateException(s"drain failed: ${failed.mkString("; ")}")
      log.reports.drop(before).filter(_.numInputRows > 0).foreach { p =>
        System.err.println(f"[perfbench] $name ${p.name}: ${p.numInputRows} rows, trigger ${Progress.ms(p, "triggerExecution") / 1e3}%.2f s, " +
          f"addBatch ${Progress.ms(p, "addBatch") / 1e3}%.2f s")
      }
      n / seconds
    } finally {
      fan.queries.foreach(_.stop())
      ctx.spark.streams.removeListener(log)
    }
  }
}
