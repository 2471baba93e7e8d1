package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload runs with. Times on the monotonic clock relate to
  * wall-clock milliseconds through the pair taken at start.
  */
final case class Ctx(
    spark: SparkSession,
    work: Path,
    fixture: String,
    seed: Long,
    seconds: Int,
    rec: Recorder,
    workloadSpan: Int,
    sessionSeconds: Double) {
  private val originNanos = System.nanoTime()
  private val originMillis = System.currentTimeMillis()

  def toNanos(epochMillis: Long): Long = originNanos + (epochMillis - originMillis) * 1000000L

  /** Log the end of a phase with the seconds since start, for the run's log. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] $name done at ${(System.nanoTime() - originNanos) / 1e9}%.1f s")

  /** Run `f` on a fresh single-core session; this context's session is
    * stopped for good.
    */
  def oneCore[T](f: Ctx => T): T = {
    spark.stop()
    val one = Main.session(1, work)
    try f(copy(spark = one)) finally one.stop()
  }
}

/** What a run reports: metrics by name with their unit, counts of the
  * operations attempted, and every failure and wrong result seen.
  */
final class Outcome {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val wrongs = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)
  def fail(msg: String): Unit = { System.err.println(s"[perfbench] FAILED: $msg"); failures += msg }
  def wrong(msg: String): Unit = { System.err.println(s"[perfbench] WRONG: $msg"); wrongs += msg }

  def json: String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s"""${Json.str(k)}:{"value":${num(v)},"unit":${Json.str(u)}}""" }.mkString("{", ",", "}")
    s"""{"correct":${wrongs.isEmpty},"attempted":$attempted,"failed":${failures.size},""" +
      s""""metrics":${obj(metrics)},"layers":${obj(layers)},""" +
      s""""failures":${failures.map(Json.str).mkString("[", ",", "]")},"wrong":${wrongs.map(Json.str).mkString("[", ",", "]")}}"""
  }
}

object Json {
  /** A JSON string literal. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  def cpuNanos: Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap in use after full collections, in MB. The pause between them
    * lets Spark's cleaner drop the blocks of broadcasts and caches the
    * first collection found unreachable.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Plain-JDBC reads of the sink tables (the program's sink quotes column
  * names, so they keep their lower case).
  */
object Jdbc {
  private def query[T](url: String, sql: String)(f: java.sql.ResultSet => T): T = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      try f(rs) finally rs.close()
    } finally conn.close()
  }

  def count(url: String, table: String): Long =
    query(url, s"SELECT COUNT(*) FROM $table") { rs => rs.next(); rs.getLong(1) }

  /** Rows, distinct ids, min and max id of an `event_id` column. */
  def idStats(url: String, table: String): (Long, Long, Long, Long) =
    query(url, s"""SELECT COUNT(*), COUNT(DISTINCT "event_id"), MIN("event_id"), MAX("event_id") FROM $table""") {
      rs => rs.next(); (rs.getLong(1), rs.getLong(2), rs.getLong(3), rs.getLong(4))
    }

  /** Stream the `(_epoch, event_id)` pairs of a sink table through `f`. */
  def epochIds[T](url: String, table: String)(f: Iterator[(Long, Long)] => T): T =
    query(url, s"""SELECT "_epoch", "event_id" FROM $table""") { rs =>
      f(Iterator.continually(rs.next()).takeWhile(identity).map(_ => (rs.getLong(1), rs.getLong(2))))
    }
}

/** Runs one workload in one JVM and writes its outcome as JSON:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --fixture <dir>`.
  */
object Main {
  val Workloads: Seq[String] = Seq("fanout_steady", "query_board")

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val work = Paths.get(opts("work")).toAbsolutePath
    val rec = new Recorder(opts.get("trace").contains("1"))
    val out = new Outcome
    val runSpan = rec.newId()
    val runStart = System.nanoTime()
    val spark = session(4, work)
    val ctx = Ctx(spark, work, Paths.get(opts("fixture")).toAbsolutePath.toString, opts("seed").toLong,
      opts("seconds").toInt, rec, rec.newId(), (System.nanoTime() - runStart) / 1e9)
    ctx.phase(f"session (${ctx.sessionSeconds}%.1f s)")
    val workStart = System.nanoTime()
    try workload match {
      case "fanout_steady" => Fanout.run(ctx, out)
      case "query_board" => Board.run(ctx, out)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out.fail(s"$workload: ${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}")
    } finally {
      rec.add(Span(ctx.workloadSpan, runSpan, "workload", workStart, System.nanoTime(), Map("name" -> workload)))
      rec.add(Span(runSpan, 0, "run", runStart, System.nanoTime(), Map("seed" -> ctx.seed.toString)))
      if (rec.tracing) {
        rec.writeJsonLines(work.resolve("spans.jsonl"))
        out.layer("trace.spans", rec.all.size.toDouble, "count")
      }
      Files.writeString(work.resolve("result.json"), out.json)
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    }
  }
}
