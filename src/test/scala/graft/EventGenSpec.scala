package graft

import graft.gen.EventGen
import graft.model.Event

/** Producer-rule properties (SURVEY §5.2.3; producer.py:38-45 semantics). */
class EventGenSpec extends SparkSpec {
  import spark.implicits._

  lazy val sample = EventGen.events(spark, 2500, rateEps = 1000.0, startMs = 5000L)
    .as[Event].collect()

  test("user_id = i % 10000, value = (i % 1000)/10 in [0, 99.9]") {
    sample.zipWithIndex.foreach { case (e, i) =>
      assert(e.user_id == i % 10000)
      assert(e.value == (i % 1000) / 10.0)
      assert(e.value >= 0.0 && e.value <= 99.9)
    }
  }

  test("event_type cycles through the four producer types") {
    sample.zipWithIndex.foreach { case (e, i) =>
      assert(e.event_type == Event.types(i % 4))
    }
  }

  test("absolute-schedule pacing: created_ts = start + i/rate") {
    sample.zipWithIndex.foreach { case (e, i) =>
      assert(e.created_ts == 5000L + i) // 1000 eps -> 1 ms per event
    }
    // average rate holds: 2500 events span exactly 2.5 s
    assert(sample.last.created_ts - sample.head.created_ts == 2499L)
  }

  test("payload pads events to the target size") {
    assert(sample.head.payload == "x" * 80) // size 200 - 120
    val small = EventGen.events(spark, 1, sizeBytes = 50).as[Event].head()
    assert(small.payload == "") // max(0, 50-120)
  }

  test("generated JSON round-trips through the streaming parse stage") {
    val parsed = graft.stream.MetricsJob.parse(EventGen.wireJson(EventGen.events(spark, 100)))
      .as[Event].collect()
    assert(parsed.length == 100)
    assert(parsed.map(_.user_id.toInt).toSeq == (0 until 100))
  }
}
