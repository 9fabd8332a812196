package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Uniform access to the driver's synthetic parquet tables
  * (TESTDATA.md). One parquet file per table under the scale-factor
  * directory passed to each query. Reading installs nothing: the
  * `graft_*` functions the queries call come with every session, once,
  * from the classpath extensions provider [[graft.GraftExtensions]].
  * The one session setting made here is `parquet.nanosAsLong` for
  * events, a SQL conf that an extension cannot set.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // The engine's canonical `ts` type is epoch-nanos BIGINT. The parquet
      // encoding of events.ts has varied across testdata generations
      // (TIMESTAMP(NANOS) vs TIMESTAMP(MICROS)), so adapt to whatever the
      // footer says rather than assuming one encoding:
      //  - NANOS: Spark 4 refuses to read it as a timestamp
      //    (PARQUET_TYPE_ILLEGAL); nanosAsLong surfaces it as the nanos
      //    bigint directly — exact, no ns→us truncation vs the DuckDB
      //    oracle (which keeps ns precision).
      //  - MICROS (isAdjustedToUTC either way): arrives as TIMESTAMP /
      //    TIMESTAMP_NTZ; project to nanos via unix_micros * 1000 — exact
      //    for micros data. Sessions pin spark.sql.session.timeZone=UTC, so
      //    the NTZ→TIMESTAMP cast is wall-clock preserving and tz-free.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      normalizeTs(df)
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
    }
  }

  /** Streaming twin of `apply`: a file-stream source over the table, with
    * events `ts` normalized to epoch-nanos BIGINT. The file-stream source
    * monitors a DIRECTORY: a table stored as one file streams the sf dir
    * filtered to that file, a table stored as a directory of part files
    * (as `tools.BlowUp` writes it) streams that directory itself — the
    * file filter would match none of its part files and the stream would
    * silently return no rows.
    */
  def stream(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    // one footer read serves both the stream schema and normalization
    val reader = spark.readStream.schema(spark.read.parquet(path.toString).schema)
    val isDir = path.getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(path).isDirectory
    val src =
      if (isDir) reader.parquet(path.toString)
      else reader.option("pathGlobFilter", path.getName).parquet(dir)
    if (name == "events") normalizeTs(src) else src
  }

  /** Widen a frame to the session's parallelism when its scan is
    * narrower — for MEMOIZED frames whose build carries heavy per-row
    * compute (shingling, minhash, vector normalization). The test-SF
    * parquet files are single-row-group (one task however large
    * maxPartitionBytes splits are), which would run a whole persisted
    * build single-threaded; at 100 TB scans have thousands of splits
    * and this is the identity. Only memoized builds get it: one tiny
    * shuffle per session, never a per-query data-scale exchange.
    */
  def widenIfNarrow(spark: SparkSession, df: DataFrame): DataFrame = {
    // cap at 8: wide enough to engage the cores this host actually
    // delivers for the heavy build projections, without taxing the
    // iterative consumers (CC/PageRank rounds schedule every partition
    // per round — 32-way tiny partitions measurably doubled d19/d07)
    val par = math.min(spark.sparkContext.defaultParallelism, 8)
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** Normalize an events frame's `ts` column to epoch-nanos BIGINT,
    * whatever type the reader surfaced it as. Exposed for the
    * dual-encoding guard spec.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df // nanos-encoded file via nanosAsLong: already nanos
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected BIGINT/TIMESTAMP/TIMESTAMP_NTZ")
    }
}
