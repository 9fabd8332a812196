package graft.ops

import graft.SparkSpec
import graft.io.Writers

/** Cross-run dedup must (a) collapse within-batch duplicates to the
  * lowest id, (b) drop rows whose content was kept by ANY earlier run,
  * (c) keep genuinely new content, and (d) grow the index by exactly
  * the surviving hashes — so a replayed/late duplicate can never
  * re-enter the corpus no matter how many runs later it arrives.
  */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  test("daily increments: within-batch collapse, cross-run drops, index growth") {
    Writers.withScratchDir(spark, "graft-dedup-idx") { scratch =>
      val idx = s"$scratch/index"

      // day 1: ids 2 and 3 share content -> keeper is 2
      val day1 = Seq((3L, "aa bb"), (1L, "xx yy"), (2L, "aa bb"))
        .toDF("doc_id", "text")
      val out1 = IncrementalDedup.process(day1, "doc_id", "text", idx)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(out1 == Set(1L, 2L), s"day 1 keepers: $out1")

      // day 2: 10 repeats day-1 content (drop), 11/12 share new content
      // (keeper 11), 13 is fresh
      val day2 = Seq((10L, "aa bb"), (12L, "cc dd"), (11L, "cc dd"), (13L, "ee"))
        .toDF("doc_id", "text")
      val out2 = IncrementalDedup.process(day2, "doc_id", "text", idx)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(out2 == Set(11L, 13L), s"day 2 keepers: $out2")

      // day 3: nothing but replays of both prior days -> empty
      val day3 = Seq((20L, "aa bb"), (21L, "cc dd"), (22L, "ee"), (23L, "xx yy"))
        .toDF("doc_id", "text")
      val out3 = IncrementalDedup.process(day3, "doc_id", "text", idx)
      assert(out3.count() == 0, "replayed content must never re-enter")

      // index holds exactly the 4 distinct survivor hashes, no dups
      val hashes = spark.read.parquet(idx)
      assert(hashes.count() == 4 && hashes.distinct().count() == 4)

      // schema passthrough: survivors keep the batch columns
      assert(out3.columns.toSeq == Seq("doc_id", "text"))
    }
  }

  test("bloom-prefiltered variant is exact, even under heavy collisions") {
    // identical 3-day replay through processWithBloom on fresh indexes;
    // m=64 bits over 4+ index hashes forces real false positives, so
    // exactness here proves the maybe-side anti-join catches them, and
    // one-sidedness (no false negatives) proves no duplicate sneaks in
    for (m <- Seq(64L, 1L << 20)) {
      Writers.withScratchDir(spark, "graft-dedup-bloom") { scratch =>
        val idx = s"$scratch/index"
        def run(rows: Seq[(Long, String)]): Set[Long] =
          IncrementalDedup.processWithBloom(rows.toDF("doc_id", "text"),
            "doc_id", "text", idx, m = m, k = 3)
            .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(run(Seq((3L, "aa bb"), (1L, "xx yy"), (2L, "aa bb"))) == Set(1L, 2L))
        assert(run(Seq((10L, "aa bb"), (12L, "cc dd"), (11L, "cc dd"), (13L, "ee")))
          == Set(11L, 13L), s"m=$m")
        assert(run(Seq((20L, "aa bb"), (21L, "cc dd"), (22L, "ee"), (23L, "xx yy")))
          .isEmpty, s"m=$m: replayed content must never re-enter")
        assert(spark.read.parquet(idx).distinct().count() == 4)
      }
    }
  }
}
