package graft.io

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.Locale
import java.util.zip.GZIPInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Model

/** File-format readers for the recount3 layout. Data reads are lazy Spark
  * scans (gzip decompressed transparently; single-split per .gz file is
  * fine — files are per-project sized, and multi-file scans parallelize
  * across files, SURVEY §3.1.5). Headers, MatrixMarket size lines and the
  * small ID lists are read on the driver through [[open]], so building a
  * reader launches no Spark job: the only jobs are the ones that read data.
  */
object Readers {

  private lazy val hadoopConf = new Configuration()

  /** Open a (possibly .gz) file through the Hadoop FS layer, so every
    * scheme Spark can reach works here too. The one opener of the io
    * layer: driver-side header peeks and the v2 sources' readers.
    */
  def open(path: String): BufferedReader = {
    val p = new HPath(path)
    val raw = p.getFileSystem(hadoopConf).open(p)
    try {
      val in = if (path.endsWith(".gz")) new GZIPInputStream(raw) else raw
      new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    } catch { case e: Throwable => raw.close(); throw e }
  }

  /** The next line of `r` that is neither blank nor starts with `comment`
    * ("" = no comment prefix) — the lines Spark's csv reader skips — or
    * null at end of input.
    */
  private[io] def nextLine(r: BufferedReader, comment: String = ""): String = {
    var line = r.readLine()
    while (line != null && (line.isBlank || (comment.nonEmpty && line.startsWith(comment))))
      line = r.readLine()
    line
  }

  /** First line of `path` after comments and blanks: one stream open on
    * the driver, no job.
    */
  private[graft] def header(path: String, comment: String = ""): String = {
    val r = open(path)
    try Option(nextLine(r, comment))
      .getOrElse(throw new IllegalArgumentException(s"no header line in $path"))
    finally r.close()
  }

  /** Column names of a tab-separated header. Empty and (case-insensitively)
    * duplicate names, which Spark would rename by position, are rejected.
    */
  private def tsvColumns(path: String, comment: String = ""): Seq[String] = {
    val names = header(path, comment).split("\t", -1).toSeq
    val lower = names.map(_.toLowerCase(Locale.ROOT))
    require(names.forall(_.nonEmpty) && lower.distinct.size == lower.size,
      s"empty or duplicate column name in the header of $path: ${names.mkString(", ")}")
    names
  }

  /** Header-skipping tab-separated scan under an explicit schema. With
    * `enforceSchema=false` every file's header is checked against the
    * schema's names, so a multi-file read whose headers differ raises
    * instead of being read by position.
    */
  private def tsvReader(spark: SparkSession, schema: StructType): DataFrameReader =
    spark.read.schema(schema)
      .option("sep", "\t")
      .option("header", true)
      .option("enforceSchema", false)

  /** Tab-separated scan with header, all columns Utf8 — mirrors
    * `infer_schema=None` (accessor.py:326, 441, 480). The schema comes
    * from the first file's header, read on the driver.
    */
  def tsvAllString(spark: SparkSession, paths: Seq[String]): DataFrame =
    tsvReader(spark, StructType(tsvColumns(paths.head).map(StructField(_, StringType))))
      .csv(paths: _*)

  /** Counts TSV (accessor.py:258-266): `##`-comment lines skipped; the
    * schema comes from the header, read on the driver — the feature-id
    * column as string, every sample column as Int64 — and the read is
    * FAILFAST, so a non-integer cell raises instead of turning null.
    * Projects to the feature-id column + the requested samples when given
    * (accessor.py:268-278); a requested sample missing from the header is
    * an error (KeyError contract, accessor.py:275-277).
    */
  def countsRead(spark: SparkSession, path: String, samples: Seq[String] = Nil): DataFrame = {
    val names = tsvColumns(path, "#")
    val missing = samples.toSet -- names
    if (missing.nonEmpty)
      throw new NoSuchElementException(
        s"Missing columns in counts file: ${missing.toSeq.sorted.mkString(", ")}")
    val schema = StructType(StructField(names.head, StringType) +:
      names.tail.map(StructField(_, LongType)))
    val df = tsvReader(spark, schema)
      .option("comment", "#")
      .option("mode", "FAILFAST")
      .csv(path)
    if (samples.isEmpty) df else df.select((names.head +: samples).map(col): _*)
  }

  private val gtfSchema = StructType(Seq(
    StructField("seqname", StringType),
    StructField("source", StringType),
    StructField("feature", StringType),
    StructField("start", LongType),
    StructField("end", LongType),
    StructField("score", StringType),
    StructField("strand", StringType),
    StructField("frame", StringType),
    StructField("attribute", StringType)))

  /** GTF scan: 9 fixed columns, tab-sep, `#` comments, no header
    * (accessor.py:210-225), then the 12 attribute fields extracted with
    * native regexp_extract expressions — the reference's only per-row
    * Python UDF (accessor.py:227-256) replaced by codegen'd expressions
    * returning "" on no-match, exactly like its else-branch.
    */
  def gtfRead(spark: SparkSession, path: String): DataFrame = {
    val base = spark.read
      .schema(gtfSchema)
      .option("sep", "\t")
      .option("comment", "#")
      .csv(path)
    Model.GtfFields.foldLeft(base) { (df, field) =>
      df.withColumn(field,
        regexp_extract(col("attribute"), field + " \"([^\"]*)\"", 1))
    }
  }

  /** ID list: the `rail_id` column of a small CSV, as strings, in file
    * order (accessor.py:419) — read on the driver, no job.
    */
  def idListRead(path: String): List[String] = {
    val r = open(path)
    try {
      val idx = Option(nextLine(r)).fold(-1)(_.split(",", -1).indexOf("rail_id"))
      require(idx >= 0, s"no rail_id column in $path")
      Iterator.continually(nextLine(r)).takeWhile(_ != null)
        .map(_.split(",", -1)(idx)).toList
    } finally r.close()
  }

  /** MatrixMarket coordinate scan → LONG format (row, col, value), 1-based
    * indices, plus the declared (rows, cols, nnz) header. The reference
    * densifies immediately via scipy (accessor.py:431-432) — its de-facto
    * scalability ceiling; long format is the 100 TB-safe representation
    * (SURVEY §7.4.1), widened only at the presentation edge.
    *
    * Data goes through the v2 source (graft.io.MatrixMarketSource), so
    * the scan is a Catalyst-planned batch read with column pruning; the
    * header is a driver-side stream peek (no job).
    */
  def matrixMarketRead(spark: SparkSession, path: String): (DataFrame, Long, Long, Long) = {
    val (nRows, nCols, nnz) = MatrixMarketSource.readHeader(path)
    val data = spark.read.format("matrixmarket").load(path)
    (data, nRows, nCols, nnz)
  }
}
