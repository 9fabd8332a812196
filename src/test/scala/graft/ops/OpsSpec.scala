package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("unionWithMissing: null-fill, peer dtype, sorted column order") {
    val a = Seq(("x", 1L)).toDF("name", "count")
    val b = Seq(("y", 2.5)).toDF("name", "score")
    val u = Ops.unionWithMissing(Seq(a, b))
    assert(u.columns.toSeq == Seq("count", "name", "score"))
    val rows = u.orderBy("name").collect()
    assert(rows(0) == Row(1L, "x", null))
    assert(rows(1) == Row(null, "y", 2.5))
  }

  test("alignConcat: full outer on key, key-ordered") {
    val a = Seq(("g2", 1), ("g1", 2)).toDF("gene_id", "s1")
    val b = Seq(("g2", 10), ("g3", 20)).toDF("gene_id", "s2")
    val out = Ops.alignConcat(Seq(a, b), Seq("gene_id")).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("g1", "g2", "g3"))
    assert(out(1) == Row("g2", 1, 10))
    assert(out(0) == Row("g1", 2, null))
    assert(out(2) == Row("g3", null, 20))
  }

  test("innerJoinAll: n-way fold on composite key dedupes key columns") {
    val key = Seq("rail_id", "external_id", "study")
    val a = Seq(("1", "s1", "p", "a1")).toDF("rail_id", "external_id", "study", "attr_a")
    val b = Seq(("1", "s1", "p", "b1")).toDF("rail_id", "external_id", "study", "attr_b")
    val c = Seq(("1", "s1", "p", "c1")).toDF("rail_id", "external_id", "study", "attr_c")
    val j = Ops.innerJoinAll(Seq(a, b, c), key)
    assert(j.columns.toSeq == Seq("rail_id", "external_id", "study", "attr_a", "attr_b", "attr_c"))
    assert(j.count() == 1)
  }

  test("replaceValues: mapped values replaced, others pass through") {
    val df = Seq("Homo sapiens", "Mus musculus", "Danio rerio").toDF("organism")
    val out = Ops.replaceOrganism(df).orderBy("organism").as[String].collect()
    assert(out.toSeq == Seq("Danio rerio", "human", "mouse"))
  }

  test("exonIdSplit: composite id to four leading columns") {
    val df = Seq(("chr1|100|200|+", 5, 7)).toDF("exon_id", "SRR1", "SRR2")
    val out = Ops.exonIdSplit(df, "exon_id")
    assert(out.columns.toSeq == Seq("chrom", "start", "end", "strand", "SRR1", "SRR2"))
    assert(out.collect()(0) == Row("chr1", "100", "200", "+", 5, 7))
  }

  test("pivotWide: explicit values, zero-filled") {
    val long = Seq((1L, "a", 5L), (1L, "b", 6L), (2L, "a", 7L))
      .toDF("row", "col", "value")
    val wide = Ops.pivotWide(long, "row", "col", "value", Seq("a", "b"))
      .orderBy("row").collect()
    assert(wide.toSeq == Seq(Row(1L, 5L, 6L), Row(2L, 7L, 0L)))
  }
}
