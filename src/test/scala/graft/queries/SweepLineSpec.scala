package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Hand-computed sweep-line oracle for e22: crafted 5-minute intervals
  * with a triple overlap, an isolated interval, a midnight-crossing
  * interval (clipped into both days), and a second event_type proving
  * group confinement. Expected values derived on paper, independent of
  * both engines' window machinery.
  */
class SweepLineSpec extends SparkSpec {

  private val DayNs = 86400L * 1000 * 1000 * 1000
  private val SecNs = 1000L * 1000 * 1000

  // (event_id, rel-seconds into day 1, event_type)
  private val evs: Seq[(Long, Long, String)] = Seq(
    (1L, 0L, "x"),     // [0, 300)
    (2L, 120L, "x"),   // [120, 420)  -> overlap 2, then 3
    (3L, 240L, "x"),   // [240, 540)  -> peak 3 on [240, 300)
    (4L, 3600L, "x"),  // [3600, 3900) isolated
    (5L, 86280L, "x"), // 23:58 -> [86280, 86580): crosses midnight
    (6L, 1000L, "y")   // second group
  )

  private def writeFixture(): String = {
    val base = fixtureDir("e22_fix").toString
    writeTableFile(spark.createDataFrame(evs.map { case (id, rel, tpe) =>
      (id, DayNs + rel * SecNs, id, tpe, 1.0, "{}")
    }).toDF("event_id", "ts", "user_id", "event_type", "value", "props"), base, "events")
    base
  }

  test("e22 matches the paper-computed sweep (peak, union cover, midnight clip)") {
    val dir = writeFixture()
    val got = SparkEntry.queries("e22_max_concurrency")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // day 1 "x": active [0,540) ∪ [3600,3900) ∪ [86280,86400) = 960 s,
    //   peak 3 on [240,300); day 2 "x": the clipped tail [86400,86580)
    //   = 180 s, peak 1; "y": one interval, 300 s.
    val want = Seq(
      ("x", 1L, 3L, 960000L),
      ("x", 2L, 1L, 180000L),
      ("y", 1L, 1L, 300000L))
    assert(got == want, s"got=$got")
  }
}
