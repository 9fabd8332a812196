package graft.io

import java.io.{FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

class MatrixMarketSourceSpec extends SparkSpec {

  /** Gzipped MM fixture: 3x4 matrix, 5 entries, with comments. */
  private lazy val mmPath: String = {
    val dir = fixtureDir("graft-mm")
    val f = dir.resolve("test.MM.gz").toFile
    val w = new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(f)), StandardCharsets.UTF_8)
    w.write("""%%MatrixMarket matrix coordinate integer general
              |% junction counts
              |3 4 5
              |1 1 7
              |1 3 2
              |2 2 9
              |3 1 4
              |3 4 1
              |""".stripMargin)
    w.close()
    f.toString
  }

  test("v2 scan parses entries, skips comments and size header") {
    val df = spark.read.format("matrixmarket").load(mmPath)
    assert(df.columns.toSeq == Seq("row", "col", "value"))
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(rows.toSeq == Seq((1L, 1L, 7L), (1L, 3L, 2L), (2L, 2L, 9L), (3L, 1L, 4L), (3L, 4L, 1L)))
  }

  test("column pruning reaches the reader") {
    val df = spark.read.format("matrixmarket").load(mmPath).select("value")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 4L, 7L, 9L))
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.readSchema().fieldNames.toSeq
    }
    assert(scans == Seq(Seq("value")), s"pruned read schema; got $scans")
  }

  test("LIMIT pushes into the scan: the reader stops decompressing early") {
    val df = spark.read.format("matrixmarket").load(mmPath).limit(2)
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.description()
    }
    assert(scans.exists(_.contains("limit=2")), s"pushed limit in scan; got $scans")
    assert(df.collect().length == 2)
    // a limit above the row count still returns everything
    assert(spark.read.format("matrixmarket").load(mmPath).limit(99).count() == 5L)
  }

  test("ORDER BY + LIMIT pushes as top-N: per-file heap, global merge") {
    val df = spark.read.format("matrixmarket").load(mmPath)
      .orderBy(desc("value"), col("row"), col("col")).limit(2)
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.description()
    }
    assert(scans.exists(_.contains("topn=2[value DESC,row,col]")),
      s"pushed top-N in scan; got $scans")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((2L, 2L, 9L), (1L, 1L, 7L)))
    // ascending pushes too; n above the row count emits everything
    val asc = spark.read.format("matrixmarket").load(mmPath)
      .orderBy("value").limit(99)
    val ascScans = asc.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.description()
    }
    assert(ascScans.exists(_.contains("topn=99[value]")),
      s"ascending top-N; got $ascScans")
    assert(asc.collect().map(_.getLong(2)).toSeq == Seq(1L, 2L, 4L, 7L, 9L))
  }

  test("COUNT(*) answers from the nnz header without scanning the body") {
    val df = spark.read.format("matrixmarket").load(mmPath).groupBy().count()
    // recursive walk: AQE wrappers hide subtrees from a plain collect
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      case b: BatchScanExec => Seq(b.scan.description())
      case other => other.children.flatMap(scans)
    }
    val descs = scans(df.queryExecution.executedPlan)
    assert(descs.exists(_.contains("pushed=[COUNT(*) via nnz header]")),
      s"expected pushed count scan, got: $descs")
    assert(df.collect().head.getLong(0) == 5L)
    // a truncated body would still trust the header — that is the
    // contract: the count IS the declared nnz
    assert(spark.read.format("matrixmarket").load(mmPath).count() == 5L)
  }

  test("junction-window slice pushes row/col range filters into the reader") {
    // the reference's primary MM consumption: a row/col window slice
    // (accessor.py:431-438)
    val df = spark.read.format("matrixmarket").load(mmPath)
      .filter(col("row") >= 1 && col("row") <= 3 &&
        col("col") >= 1 && col("col") < 3)
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.description()
    }
    assert(scans.exists(s => s.contains("PushedFilters: [") &&
      s.contains("row >= 1") && s.contains("row <= 3") &&
      s.contains("col >= 1") && s.contains("col < 3")),
      s"expected pushed range filters; got $scans")
    // no post-scan Filter node remains — the scan consumed them exactly
    assert(!df.queryExecution.executedPlan.toString.contains("+- *(1) Filter"),
      "filters should be consumed by the scan, not re-evaluated")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq ==
      Seq((1L, 1L, 7L), (2L, 2L, 9L), (3L, 1L, 4L)))
    // equality + value predicates push too, and compose with pruning
    val eq = spark.read.format("matrixmarket").load(mmPath)
      .filter(col("row") === 3 && col("value") > 1).select("col")
    val eqScans = eq.queryExecution.executedPlan.collect {
      case b: BatchScanExec => (b.scan.description(), b.scan.readSchema().fieldNames.toSeq)
    }
    assert(eqScans.exists { case (d, s) =>
      d.contains("row = 3") && d.contains("value > 1") && s == Seq("col")
    }, s"pushed equality + pruned schema; got $eqScans")
    assert(eq.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("COUNT(*) under a filter does NOT use the header shortcut") {
    val df = spark.read.format("matrixmarket").load(mmPath)
      .filter(col("value") > 2).groupBy().count()
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      case b: BatchScanExec => Seq(b.scan.description())
      case other => other.children.flatMap(scans)
    }
    val descs = scans(df.queryExecution.executedPlan)
    assert(!descs.exists(_.contains("via nnz header")),
      s"filtered count must scan, not trust the header; got $descs")
    assert(df.collect().head.getLong(0) == 3L)
  }

  test("several paths load by name, a comma in the directory included") {
    val dir = fixtureDir("graft-mm,two")
    def write(name: String, body: String): String = {
      val f = dir.resolve(name).toFile
      val w = new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8)
      try w.write(body) finally w.close()
      f.toString
    }
    val a = write("a.mm", "%%MatrixMarket matrix coordinate integer general\n2 2 1\n1 2 5\n")
    val b = write("b.mm", "%%MatrixMarket matrix coordinate integer general\n2 2 2\n2 1 6\n2 2 8\n")
    val rows = spark.read.format("matrixmarket").load(a, b).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(rows.toSeq == Seq((1L, 2L, 5L), (2L, 1L, 6L), (2L, 2L, 8L)))
  }

  test("matrixMarketRead returns header dims + the v2 frame") {
    val (data, nRows, nCols, nnz) = Readers.matrixMarketRead(spark, mmPath)
    assert((nRows, nCols, nnz) == (3L, 4L, 5L))
    assert(data.count() == 5)
    // aggregate composes with the scan in one Catalyst plan
    val colSums = data.groupBy("col").agg(sum("value").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(colSums.toSeq == Seq((1L, 11L), (2L, 9L), (3L, 2L), (4L, 1L)))
  }
}
