package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

/** Seeded generator of wire events: one JSON object per line, every value
  * a string, in the shape of `EventSource.wireSchema`.
  *
  * Every field is a pure function of `(seed, event_id)`, so a run's input
  * and the reference results the checks recompute depend on the seed only.
  * The seed also sets the shares of dirty data the pipeline must survive.
  * Event time advances [[Events.MillisPerEvent]] per event (2,500 events
  * per event-hour, so at 1,500 events/s an hourly window closes every
  * ~1.7 s); a share of events is up to 30 event-minutes early, i.e. arrives
  * out of order but always inside the pipelines' 60-minute watermark.
  */
final class Events(seed: Long) {
  private val knobs = new SplittableRandom(seed)
  /** share of `""` in each of user_id, event_type, value and props */
  val emptyShare: Double = 0.01 + 0.02 * knobs.nextDouble()
  /** share of non-numeric `props.k` (the discrepancy detector flags them) */
  val badClaimShare: Double = 0.005 + 0.015 * knobs.nextDouble()
  /** share of values outside the value detector's [1, 120] */
  val outOfRangeShare: Double = 0.02 + 0.04 * knobs.nextDouble()
  /** share of claimed amounts more than 100 away from the value */
  val discrepancyShare: Double = 0.01 + 0.02 * knobs.nextDouble()
  /** share of events whose event time is early (out of order) */
  val lateShare: Double = 0.05 + 0.10 * knobs.nextDouble()

  private val types = Array("click", "view", "purchase", "signup", "error")

  /** The wire line of event `id`. */
  def line(id: Long): String = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + id)
    def dirty(s: String): String = if (r.nextDouble() < emptyShare) "" else s
    val early = if (r.nextDouble() < lateShare) r.nextLong(Events.MaxEarlyMillis) else 0L
    val ts = Events.TsFormat.format(java.time.Instant.ofEpochMilli(Events.eventMillis(id) - early))
    val user = dirty((1 + r.nextInt(50000)).toString)
    val kind = dirty(types(r.nextInt(types.length)))
    val cents =
      if (r.nextDouble() < outOfRangeShare) {
        if (r.nextBoolean()) r.nextLong(100) else 12001 + r.nextLong(40000)
      } else 100 + r.nextLong(11901)
    val value = dirty(s"${cents / 100}.${if (cents % 100 < 10) "0" else ""}${cents % 100}")
    val claim =
      if (r.nextDouble() < badClaimShare) "n/a"
      else if (r.nextDouble() < discrepancyShare) (cents / 100 + 101 + r.nextInt(400)).toString
      else (cents / 100 + r.nextInt(21) - 10).toString
    val props = dirty(s"""{\\"k\\":\\"$claim\\"}""")
    s"""{"event_id":"$id","ts":"$ts","user_id":"$user","event_type":"$kind","value":"$value","props":"$props"}"""
  }

  /** Write events `[from, until)` as one file of `dir`, atomically: the
    * file is written under `staging` (same file system) and renamed in,
    * so a file source never lists a half-written file.
    */
  def writeFile(dir: Path, staging: Path, name: String, from: Long, until: Long): Unit = {
    val sb = new java.lang.StringBuilder(160 * (until - from).toInt)
    var id = from
    while (id < until) { sb.append(line(id)).append('\n'); id += 1 }
    val tmp = staging.resolve(name)
    Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}

object Events {
  val PerEventHour: Long = 2500L
  val MillisPerEvent: Long = 3600L * 1000L / PerEventHour
  /** event time of event 0: 2024-01-01T00:00:00Z */
  val BaseMillis: Long = 1704067200000L
  val MaxEarlyMillis: Long = 30L * 60L * 1000L

  def eventMillis(id: Long): Long = BaseMillis + id * MillisPerEvent

  val TsFormat: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
}
