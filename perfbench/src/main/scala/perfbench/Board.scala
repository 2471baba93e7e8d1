package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.engine.{Caches, Tables, Views}

/** `query_board`: one client runs a sample of `SparkEntry.queries` one at
  * a time against the fixture — a closed loop of one.
  *
  * The sample is drawn once, with [[SampleSeed]], and runs in one order, so
  * that every run times the same work: a sample or an order drawn from the
  * run's seed moved the board's times by 10–20 % from seed to seed. A first
  * pass is untimed: it warms the JIT, builds the pinned views and writes
  * every result for the DuckDB oracle check. Timed rounds over the sample
  * then repeat until the run's seconds are spent; each query is fully
  * materialized through the `noop` sink (a `count()` would let Catalyst
  * prune columns and drop sorts, timing less than the query's work).
  */
object Board {
  /** The six reference-parity queries: always in the sample. */
  val Parity: Seq[String] = Seq(
    "q_full_table", "q_abnormal_duration", "q_abnormal_fee",
    "q_hourly_avg_revenue", "q_hourly_trip_count", "q_hourly_count_by_borough")
  val OpenCycles = 3
  val MinRounds = 3
  val SampleSeed = 1L

  /** Query name → module: the module of the first engine call in the
    * query's `SparkEntry` entry, `inline` when it calls none.
    */
  lazy val modules: Seq[(String, String)] = {
    val src = scala.io.Source.fromResource("perfbench/modules.tsv")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(q, m) = l.split('\t'); q -> m
    }.toSeq finally src.close()
  }

  /** The seeded sample: the parity queries plus one query drawn from each
    * module (parity queries left out of the draw), in module order.
    */
  def sample(seed: Long): Seq[String] = {
    val rnd = new java.util.SplittableRandom(seed)
    val pools = modules.filterNot(e => Parity.contains(e._1)).groupBy(_._2).toSeq.sortBy(_._1)
    Parity ++ pools.map { case (_, entries) => entries.map(_._1).sorted.apply(rnd.nextInt(entries.size)) }
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val names = sample(SampleSeed)
    val moduleOf = modules.toMap
    val queries = SparkEntry.queries
    val tables = graft.RewriteFixture.tables

    // set-up: open every fixture table (file listing and footers)
    val opens = (1 to OpenCycles).map { _ =>
      Tables.invalidate(spark)
      val t0 = System.nanoTime()
      tables.foreach(t => Tables.load(spark, ctx.fixture, t))
      (System.nanoTime() - t0) / 1e9
    }

    // untimed pass: warm-up, pin builds, results for the oracle check
    ctx.phase("set-up")
    Views.resetBuildTimer()
    Views.timeBuilds = true
    val results = Files.createDirectories(ctx.work.resolve("board"))
    val failed = mutable.LinkedHashSet.empty[String]
    def attempt(name: String)(body: => Unit): Unit = {
      out.attempted += 1
      try body catch {
        case e: Throwable =>
          failed += name
          out.fail(s"$name: ${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}")
      }
    }
    names.foreach { name =>
      attempt(name)(queries(name)(spark, ctx.fixture).coalesce(1).write.mode("overwrite")
        .parquet(results.resolve(name).toString))
      Caches.freeTransient(spark)
    }
    Views.timeBuilds = false
    val pinBuild = Views.buildSeconds
    out.metric("setup_s", ctx.sessionSeconds + Stats.median(opens) + pinBuild, "s")
    writeOracle(ctx, names.filterNot(failed))
    ctx.phase("untimed pass")

    // timed rounds: whole rounds over the sample, at least MinRounds, until the
    // seconds are spent; a query's time is its best round, since the first
    // rounds still share the processor with the JIT compiler
    val times = mutable.LinkedHashMap(names.filterNot(failed).map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val gc0 = Jvm.gcSeconds
    var freeS = 0.0
    var rounds = 0
    var lastRoundCpuNanos = 0L
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    while (times.nonEmpty && (rounds < MinRounds || System.nanoTime() < deadline)) {
      val cpu0 = Jvm.cpuNanos
      times.keys.toSeq.foreach { name =>
        ctx.rec.span("query", ctx.workloadSpan, "name" -> name, "module" -> moduleOf(name)) { _ =>
          attempt(name) {
            val t0 = System.nanoTime()
            noop(queries(name)(spark, ctx.fixture))
            times(name) += (System.nanoTime() - t0) / 1e9
          }
        }
        val f0 = System.nanoTime()
        Caches.freeTransient(spark)
        freeS += (System.nanoTime() - f0) / 1e9
      }
      lastRoundCpuNanos = Jvm.cpuNanos - cpu0
      rounds += 1
    }
    ctx.phase(s"$rounds timed rounds")
    times.foreach { case (n, ts) => System.err.println(s"[perfbench] $n: ${ts.map(t => f"$t%.3f").mkString(" ")}") }
    val best = times.collect { case (n, ts) if ts.nonEmpty && !failed(n) => n -> ts.min }
    val tailPct = Stats.tailPercentile(best.size)
    out.metric("latency_p50_s", Stats.median(best.values.toSeq), "s")
    out.metric("latency_tail_s", Stats.percentile(best.values.toSeq, tailPct), "s")
    out.layer("jvm.cpu_ms_per_unit", lastRoundCpuNanos / 1e6 / math.max(1, times.size), "ms")
    out.metric("heap_live_mb", Jvm.liveHeapMb(), "MB")

    out.layer("latency.tail_pct", tailPct, "pct")
    out.layer("latency.samples", best.size.toDouble, "count")
    out.layer("board.queries", names.size.toDouble, "count")
    out.layer("board.rounds", rounds.toDouble, "count")
    modules.map(_._2).distinct.sorted.foreach { m =>
      out.layer(s"board.${m}_s", best.collect { case (n, t) if moduleOf(n) == m => t }.sum, "s")
    }
    out.layer("views.pin_build_s", pinBuild, "s")
    out.layer("views.storage_mem_mb", spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0, "MB")
    out.layer("caches.free_s", freeS, "s")
    out.layer("jvm.gc_s", Jvm.gcSeconds - gc0, "s")
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The DuckDB oracle SQL of each checked query, for run.py. */
  private def writeOracle(ctx: Ctx, names: Seq[String]): Unit = {
    val json = names.map(n => s"${Json.str(n)}:${Json.str(SparkEntry.oracleSql(n))}").mkString("{", ",", "}")
    Files.writeString(ctx.work.resolve("board/oracle_sql.json"), json)
  }
}
