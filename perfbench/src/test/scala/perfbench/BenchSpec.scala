package perfbench

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("the module table lists every SparkEntry query exactly once") {
    val names = Board.modules.map(_._1)
    assert(names.distinct.size == names.size)
    assert(names.toSet == graft.SparkEntry.queries.keySet)
    assert(Board.modules.map(_._2).toSet == Set(
      "refpipelines", "relational", "analytics", "joins", "tpch", "graph", "inference",
      "textanalysis", "dedup", "similarity", "multimodal", "inline"))
  }

  test("the sampler is seeded, keeps the parity queries and covers every module") {
    val a = Board.sample(7)
    assert(a == Board.sample(7))
    assert(a != Board.sample(8))
    assert(a.distinct == a)
    assert(Board.Parity.forall(a.contains))
    val moduleOf = Board.modules.toMap
    assert(a.map(moduleOf).toSet == Board.modules.map(_._2).toSet)
    assert(a.size == Board.Parity.size + Board.modules.map(_._2).distinct.size)
  }

  test("the tail is the highest percentile with at least ten samples above it") {
    assert(Stats.tailPercentile(1000) == 99.0)
    assert(Stats.tailPercentile(999) == 95.0)
    assert(Stats.tailPercentile(107) == 90.0)
    assert(Stats.tailPercentile(60) == 75.0)
    assert(Stats.tailPercentile(5) == 50.0)
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.percentile(xs, 99.0) == 990.0)
    assert(xs.count(_ > Stats.percentile(xs, 99.0)) == 10)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("the latency join charges each row its epoch's write end") {
    val rows = Iterator((0L, 10L), (0L, 11L), (1L, 12L), (1L, 99L))
    val ends = Map(0L -> 5000000000L, 1L -> 7000000000L)
    val lat = Stats.rowLatencies(rows, ends.get, id => id * 100000000L, _ < 50)
    assert(lat == Seq(4.0, 3.9, 5.8))
    assert(intercept[IllegalStateException](
      Stats.rowLatencies(Iterator((2L, 1L)), ends.get, _ => 0L, _ => true)).getMessage.contains("epoch 2"))
  }

  test("events are a pure function of seed and id, inside the watermark") {
    val e = new Events(3)
    assert(e.line(42) == new Events(3).line(42))
    assert(e.line(42) != new Events(4).line(42))
    val ts = raw""""ts":"([^"]+)"""".r
    (0L until 2000L).foreach { id =>
      val t = java.time.LocalDateTime.parse(ts.findFirstMatchIn(e.line(id)).get.group(1).replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      val early = Events.eventMillis(id) - t
      assert(early >= 0 && early < 60L * 60L * 1000L)
    }
  }

  test("a ten-second steady run closes windows, so the window check has rows to compare") {
    val last = Fanout.Rate.toLong * (Fanout.WarmSeconds + 10) - 1
    val watermark = Events.eventMillis(last) - 60L * 60L * 1000L
    val firstWindowEnd = Events.BaseMillis + 60L * 60L * 1000L
    assert(watermark - firstWindowEnd >= 2L * 60L * 60L * 1000L, "fewer than three hourly windows close")
  }
}
