package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.NumFns

/** Z-order layout must earn its exchange: for a selective filter on the
  * NON-leading dimension, a z-clustered layout's per-file min/max
  * footprints skip most files, while a linear (single-column-sorted)
  * layout's files each span the full range of the other column and skip
  * nothing. Also pins the zvalue2 bit math against an independent Scala
  * interleave.
  */
class ZorderSpec extends SparkSpec {
  import spark.implicits._

  private def scalaZ(x: Long, y: Long, bits: Int): Long =
    (0 until bits).map { i =>
      (((x >> i) & 1L) << (2 * i)) + (((y >> i) & 1L) << (2 * i + 1))
    }.sum

  test("zvalue2 == independent Scala interleave (incl. bit edges)") {
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 0L), (0L, 65535L),
      (65535L, 65535L), (12345L, 54321L), (1L << 15, 1L))
    val got = cases.toDF("x", "y")
      .select(col("x"), col("y"), NumFns.zvalue2(col("x"), col("y"), 16).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    cases.foreach { case (x, y) =>
      assert(got((x, y)) == scalaZ(x, y, 16), s"z mismatch at ($x, $y)")
    }
  }

  test("compact: 32 task-files become targetFiles with the same rows") {
    Writers.withScratchDir(spark, "graft-compact") { scratch =>
      val (src, dst) = (s"$scratch/src", s"$scratch/dst")
      val df = (1L to 1000L).map(i => (i, s"row$i")).toDF("id", "s")
      df.repartition(32).write.mode("overwrite").parquet(src)
      def parquetFiles(dir: String) = new java.io.File(dir).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(parquetFiles(src) == 32)
      Writers.compact(spark, src, dst, 4)
      assert(parquetFiles(dst) == 4, s"expected 4 files, got ${parquetFiles(dst)}")
      val got = spark.read.parquet(dst).select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (1L to 1000L), "compaction changed the row set")
    }
  }

  test("z-order layout skips files on the non-leading dimension; linear does not") {
    // a full 64x64 grid: every (x, y) cell once
    val grid = (for { x <- 0 until 64; y <- 0 until 64 } yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val nFiles = 16

    Writers.withScratchDir(spark, "graft-zorder") { scratch =>
      val zDir = s"$scratch/z"
      Writers.zorderWrite(grid, NumFns.zvalue2(col("x"), col("y"), 6), nFiles, zDir)

      val linDir = s"$scratch/linear"
      grid.repartitionByRange(nFiles, col("x")).sortWithinPartitions("x")
        .write.mode("overwrite").parquet(linDir)

      // per-file y-footprints, read the way a scan planner reads footer
      // stats: a file can be skipped for filter y < 8 iff its min(y) >= 8
      def overlapping(dir: String): (Int, Int) = {
        val files = new java.io.File(dir).listFiles()
          .filter(f => f.getName.endsWith(".parquet")).map(_.toString).toSeq
        val hit = files.count { f =>
          spark.read.parquet(f).agg(min("y")).head().getLong(0) < 8
        }
        (hit, files.length)
      }
      val (zHit, zTotal) = overlapping(zDir)
      val (lHit, lTotal) = overlapping(linDir)
      assert(zTotal == nFiles && lTotal == nFiles)
      // linear-by-x files each span all of y: none can be skipped
      assert(lHit == nFiles, s"linear layout unexpectedly skipped files ($lHit/$lTotal)")
      // z-order: only the files whose tile touches y<8 qualify
      assert(zHit * 2 <= lHit, s"z-order should skip >= half the files; hit $zHit/$zTotal")
    }
  }
}
