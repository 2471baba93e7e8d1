package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.{Alerter, BatchSink}

/** One traced interval; times are `System.nanoTime` values. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long, attrs: Map[String, String])

/** Span store of one run, kept in memory and written out at the end.
  * With tracing off, [[span]] only runs its body.
  */
final class Recorder(val tracing: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger(0)

  def newId(): Int = ids.incrementAndGet()

  def add(s: Span): Unit = if (tracing) spans.add(s)

  def span[T](name: String, parent: Int, attrs: (String, String)*)(body: Int => T): T =
    if (!tracing) body(0)
    else {
      val id = newId()
      val t0 = System.nanoTime()
      try body(id) finally add(Span(id, parent, name, t0, System.nanoTime(), attrs.toMap))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Write every span as one JSON object per line. */
  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.start).map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end},"attrs":$attrs}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** One sink write as the benchmark saw it. */
final case class SinkWrite(table: String, epoch: Long, start: Long, end: Long, ok: Boolean)

/** `BatchSink` decorator: times every write around the program's sink and
  * keeps the write-end time of each `(table, epoch)` for the latency join.
  */
final class TimedSink(inner: BatchSink) extends BatchSink {
  val writes = new ConcurrentLinkedQueue[SinkWrite]
  /** the write the current foreachBatch thread made last, for alert spans */
  @transient lazy val current = new ThreadLocal[(String, Long)]

  def write(df: DataFrame, epochId: Long, table: String): Unit = {
    current.set((table, epochId))
    val t0 = System.nanoTime()
    var ok = false
    try { inner.write(df, epochId, table); ok = true }
    finally writes.add(SinkWrite(table, epochId, t0, System.nanoTime(), ok))
  }

  /** End time of the last successful write of each epoch of `table`. */
  def writeEnds(table: String): Map[Long, Long] =
    writes.asScala.filter(w => w.ok && w.table == table).toSeq
      .sortBy(_.end).map(w => w.epoch -> w.end).toMap
}

/** One alert as the benchmark saw it, with the sink write it followed. */
final case class AlertCall(table: String, epoch: Long, start: Long, end: Long)

/** `Alerter` decorator: counts and times alerts around the program's. */
final class TimedAlerter(inner: Alerter, sink: TimedSink) extends Alerter {
  val calls = new ConcurrentLinkedQueue[AlertCall]

  def alert(subject: String, body: String): Unit = {
    val (table, epoch) = Option(sink.current.get).getOrElse(("", -1L))
    val t0 = System.nanoTime()
    try inner.alert(subject, body)
    finally calls.add(AlertCall(table, epoch, t0, System.nanoTime()))
  }
}

/** Listener over every streaming query of the session: keeps each
  * progress report, the input rows each query has committed, and query
  * failures.
  */
final class ProgressLog extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
  private val committedRows = new ConcurrentHashMap[String, AtomicLong]
  val failures = new ConcurrentLinkedQueue[String]

  def committed(query: String): Long =
    Option(committedRows.get(query)).map(_.get).getOrElse(0L)

  def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    progress.add(p)
    committedRows.computeIfAbsent(p.name, _ => new AtomicLong).addAndGet(p.numInputRows)
  }

  def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => failures.add(x.linesIterator.take(1).mkString))

  def reports: Seq[StreamingQueryProgress] = progress.asScala.toSeq
}

object Progress {
  def ms(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)

  /** Trigger start of a progress report, on the epoch-millisecond clock. */
  def startMillis(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
}
