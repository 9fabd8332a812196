package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.{SparkEntry, SparkSpec}

/** Guard against events.ts parquet-encoding drift (the r04 regression:
  * the driver's testdata switched TIMESTAMP(NANOS) → TIMESTAMP(MICROS)
  * and 13 queries died at analysis because the reader assumed one
  * encoding). Tables.normalizeTs is the choke point that adapts; this
  * spec proves the whole events surface behaves identically across every
  * encoding a regeneration could plausibly produce:
  *   - epoch-nanos BIGINT (what nanosAsLong surfaces for NANOS files),
  *   - TIMESTAMP_NTZ (parquet MICROS, isAdjustedToUTC=false — today's
  *     testdata),
  *   - TIMESTAMP (parquet MICROS, isAdjustedToUTC=true).
  * A genuine TIMESTAMP(NANOS) file can't be produced from Spark (it never
  * writes nanos), but its read path IS the BIGINT branch — nanosAsLong
  * rewrites the column type before the scan.
  *
  * e01 (integer ts arithmetic in a window) and x13 (as-of join with
  * micro-alignment) are the two canaries: between them they cover the
  * lag/pmod/div consumption patterns that broke in r04.
  */
class TsEncodingSpec extends SparkSpec {

  private val srcDir = "/root/testdata/sf0.001"

  private def writeEncoded(): Map[String, String] = {
    // canonical frame: ts as epoch-nanos bigint via the adaptive reader
    val ev = Tables(spark, srcDir, "events")
    require(ev.schema("ts").dataType == LongType, "Tables must yield nanos bigint")
    val base = Files.createTempDirectory("ts_enc").toString
    val asNtz = timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType)
    val asTs = timestamp_micros(expr("ts div 1000"))
    val encodings = Map(
      "bigint" -> ev,
      "ntz_micros" -> ev.withColumn("ts", asNtz),
      "ts_micros" -> ev.withColumn("ts", asTs))
    encodings.map { case (name, df) =>
      val dir = s"$base/$name"
      // single parquet FILE at $dir/events.parquet, the layout Tables reads
      val tmp = s"$base/${name}_tmp"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/events.parquet")
      dst.getParentFile.mkdirs()
      Files.move(part.toPath, dst.toPath)
      name -> dir
    }
  }

  private def rows(q: String, dir: String): Seq[String] =
    SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq

  test("events surface is identical across ts encodings (e01, x13)") {
    val dirs = writeEncoded()

    // each encoded copy round-trips to the same nanos bigint
    for ((name, dir) <- dirs) {
      val df = Tables(spark, dir, "events")
      assert(df.schema("ts").dataType == LongType, s"$name: ts not normalized")
    }
    // and the written files really carry the intended logical types
    assert(spark.read.parquet(s"${dirs("ntz_micros")}/events.parquet")
      .schema("ts").dataType == TimestampNTZType)
    assert(spark.read.parquet(s"${dirs("ts_micros")}/events.parquet")
      .schema("ts").dataType == TimestampType)

    for (q <- Seq("e01_sessionize", "x13_asof_join")) {
      val results = dirs.map { case (name, dir) => name -> rows(q, dir) }
      val (refName, ref) = results.head
      assert(ref.nonEmpty, s"$q returned no rows")
      for ((name, r) <- results.tail) {
        assert(r == ref, s"$q: $name result differs from $refName")
      }
    }
  }

  test("a table stored as a directory streams every row (Tables.stream)") {
    // the layout tools.BlowUp writes: events.parquet is a directory of
    // part files, not one file
    val dir = Files.createTempDirectory("stream_layout").toString
    Tables(spark, srcDir, "events").repartition(3).write.parquet(s"$dir/events.parquet")
    val batch = Tables(spark, dir, "events").count()
    val streamed = graft.streaming.Streaming.drainToMemory(
      Tables.stream(spark, dir, "events"), "append")
    assert(batch > 0)
    assert(streamed.count() === batch)
  }
}
