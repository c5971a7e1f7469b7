package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile picks the sample at rank ceil(p*n)") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 5.0)
    assert(Stats.percentile(xs, 0.9) == 9.0)
    assert(Stats.percentile(xs, 0.91) == 10.0)
    assert(Stats.percentile(Seq(3.0), 0.99) == 3.0)
  }

  test("a percentile is reported only with at least ten samples beyond it") {
    assert(Stats.beyond(0.99, 1000) == 10)
    assert(Stats.highestSupported(1000).contains(0.99))
    assert(Stats.highestSupported(999).contains(0.95))
    assert(Stats.highestSupported(100).contains(0.9))
    assert(Stats.highestSupported(99).contains(0.75))
    assert(Stats.highestSupported(20).contains(0.5))
    assert(Stats.highestSupported(19).isEmpty)
    assert(Stats.highestSupported(100000).contains(0.999))
  }

  test("Harrell-Davis quantile is a weighted mean of the samples") {
    assert(math.abs(Stats.harrellDavis(Seq.fill(7)(3.0), 0.9) - 3.0) < 1e-9)
    assert(Stats.harrellDavis(Seq(4.0), 0.5) == 4.0)
    // Symmetric around 7: the weights of the median are symmetric too.
    val sym = Seq(13.0, 1.0, 10.0, 2.0, 7.0, 12.0, 4.0)
    assert(math.abs(Stats.harrellDavis(sym, 0.5) - 7.0) < 1e-9)
    val xs = Seq(5.0, 1.0, 9.0, 3.0, 30.0, 2.0)
    val qs = Seq(0.1, 0.5, 0.9).map(Stats.harrellDavis(xs, _))
    assert(qs == qs.sorted && qs.head > xs.min && qs.last < xs.max)
  }

  test("covered time is the length of the union, clipped to the window") {
    val iv = Seq((10.0, 30.0), (20.0, 50.0), (90.0, 120.0), (200.0, 210.0))
    assert(Stats.coveredMs(iv, 0.0, 100.0) == 50.0)
    assert(Stats.coveredMs(Nil, 0.0, 100.0) == 0.0)
    assert(Stats.coveredMs(Seq((0.0, 10.0), (0.0, 10.0)), 0.0, 100.0) == 10.0)
  }

  test("due times follow the checkpointed epoch and the rate") {
    val s = Schedule(epochMs = 1000000L, rateEps = 7000.0)
    assert(s.dueMs(0) == 1000000.0)
    assert(s.dueMs(7000) == 1001000.0)
    assert(s.scheduledBy(1001000.0) == 7000L)
    assert(s.scheduledBy(999000.0) == 0L)
    val b = PacedBatch(3, 7000, 14000, writtenMs = 1002400.0)
    // The batch's last event was due at epoch + 13999/7 ms.
    assert(math.abs(s.resultLatencyMs(b) - (1002400.0 - (1000000.0 + 13999 * 1000.0 / 7000))) < 1e-9)
    assert(s.latencyMs(b, 7000) == 1400.0)
  }

  test("event-latency percentiles from batch ranges match brute force") {
    val rnd = new scala.util.Random(11)
    (1 to 30).foreach { _ =>
      val rate = 500.0 + rnd.nextInt(8000)
      val s = Schedule(5000000L, rate)
      var lo = rnd.nextInt(100).toLong
      val batches = (0 until 1 + rnd.nextInt(6)).map { i =>
        val hi = lo + rnd.nextInt(3000)
        val b = PacedBatch(i, lo, hi, s.dueMs(math.max(lo, hi - 1)) + rnd.nextInt(900))
        lo = hi
        b
      }
      if (batches.exists(_.events > 0)) {
        val all = batches.flatMap(b => (b.lo until b.hi).map(s.latencyMs(b, _)))
        Seq(0.01, 0.5, 0.9, 0.99, 1.0).foreach { p =>
          assert(math.abs(s.latencyPercentile(batches, p) - Stats.percentile(all, p)) < 1e-6,
            s"p=$p batches=$batches")
        }
      }
    }
  }
}
