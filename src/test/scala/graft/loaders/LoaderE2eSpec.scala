package graft.loaders

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.{FixtureMirror, SparkSpec}
import graft.io.Writers
import graft.model.{Annotation, Dtype}

/** End-to-end loader tests against the file:// fixture mirror — the
  * offline analog of the reference's live-service golden-shape tests
  * (tests/test_accessor.py), with content assertions on top (SURVEY §5.2).
  */
class LoaderE2eSpec extends SparkSpec {

  private lazy val (rootUrl, mirrorDir) = {
    val src = Files.createTempDirectory("graft-mirror-src")
    val cache = Files.createTempDirectory("graft-mirror-cache")
    (FixtureMirror.build(src), cache)
  }

  private lazy val corpus = {
    val m = new Metadata(spark, FixtureMirror.Organism, rootUrl, mirrorDir)
    m.cache()
    m.load()
  }

  private lazy val project = new Project(
    spark, corpus, FixtureMirror.Dbase, FixtureMirror.Organism,
    annotation = Some(Annotation.GencodeV26), jxnFormat = Some("unique"),
    rootUrl = rootUrl, mirrorRoot = mirrorDir)

  test("corpus metadata: discover -> cache -> load, organism replaced, distinct") {
    assert(corpus.columns.length == 8)
    assert(corpus.count() == 3)
    assert(corpus.select("organism").distinct().collect().map(_.getString(0)).toSeq == Seq("human"))
    // load before cache is an error (preserved contract)
    val uncached = new Metadata(spark, "human", rootUrl, mirrorDir)
    assertThrows[IllegalStateException](uncached.load())
  }

  test("loadLenient: Some on intact mirror, None once a cached file is corrupt") {
    // fresh mirror cache so corruption can't poison the shared fixtures
    val cache2 = Files.createTempDirectory("graft-mirror-cache2")
    val m = new Metadata(spark, FixtureMirror.Organism, rootUrl, cache2)
    m.cache()
    assert(m.loadLenient().exists(_.count() == 3))
    // truncate a cached recount_project gz mid-header -> reference parity
    // says the whole load yields None (accessor.py:327-329)
    val victim = Files.walk(cache2).filter(p =>
      p.toString.contains(".recount_project.") && p.toString.endsWith(".gz"))
      .findFirst().orElseThrow()
    Files.write(victim, Array[Byte](0x1f))
    assert(m.loadLenient().isEmpty)
  }

  test("project ids and samples collected from metadata") {
    assert(project.projectIds == List("SRP001", "SRP002"))
    assert(project.sampleIds == List("SRR001", "SRR002", "SRR003"))
  }

  test("project metadata: 5-file inner join per project, union, distinct") {
    project.cache(Seq(Dtype.Metadata))
    val md = project.loadMetadata()
    // 3 + (5 files: 3 shared keys + 1+2+3+1+1 attrs) = 11 columns
    assert(md.columns.length == 11)
    assert(md.count() == 3)
    assert(md.filter(col("external_id") === "SRR001")
      .select("`star.average_mapped_length`").collect()(0).getString(0) == "200")
  }

  test("gene load: gtf annotation + align-concat of per-project counts") {
    project.cache(Seq(Dtype.Gene))
    val (ann, counts) = project.loadGene()
    assert(ann.columns.length == 21)
    assert(ann.count() == 3)
    assert(counts.columns.toSeq == Seq("gene_id", "SRR001", "SRR002", "SRR003"))
    val rows = counts.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("g1", "g2", "g3", "g4", "g5"))
    // g2 present in both projects; g1 only in SRP001 (null-filled for SRR003)
    assert(rows(1).getLong(1) == 30L && rows(1).getLong(3) == 100L)
    assert(rows(0).isNullAt(3))
  }

  test("exon load: composite id split into chrom/start/end/strand") {
    project.cache(Seq(Dtype.Exon))
    val (ann, counts) = project.loadExon()
    assert(ann.count() == 3)
    assert(counts.columns.toSeq ==
      Seq("chrom", "start", "end", "strand", "SRR001", "SRR002", "SRR003"))
    val r = counts.filter(col("start") === "100").collect()(0)
    assert(r.getAs[String]("chrom") == "chr1" && r.getAs[String]("strand") == "+")
    assert(r.getAs[Long]("SRR003") == 9L)
  }

  test("jxn long: union across projects (fixes the reference known failure)") {
    project.cache(Seq(Dtype.Jxn))
    val (long, meta) = project.loadJxnLong()
    assert(long.columns.toSeq == Seq("project_id", "row", "rail_id", "value"))
    assert(long.count() == 4) // 3 nnz in SRP001 + 1 in SRP002
    assert(meta.count() == 8) // 4 RR rows per project
    assert(meta.columns.length == 11) // 10 string cols + project_id
    val v = long.filter(col("rail_id") === "103").collect()(0)
    assert(v.getAs[Long]("value") == 9L && v.getAs[String]("project_id") == "SRP002")
  }

  test("jxn wide: dense zero-filled matrix, horizontal concat of projects") {
    val (wide, _) = project.loadJxn()
    assert(wide.columns.toSeq == Seq("101", "102", "103"))
    assert(wide.count() == 4)
    val totals = wide.agg(sum("101"), sum("102"), sum("103")).collect()(0)
    assert((totals.getLong(0), totals.getLong(1), totals.getLong(2)) == (7L, 7L, 9L))
  }

  /** Reference known-failure parity (SURVEY §5.2.5): the reference marks
    * multi-project junction loads xfail ("feature not implemented",
    * tests/test_known_failures.py:10-16). The long format dissolves the
    * failure (loadJxnLong unions per-project long frames — the test
    * above and "jxn long" already cover 2 projects), and the WIDE
    * presentation path concatenates per-project dense blocks. This test
    * pins the wide multi-project contract the reference could not meet:
    * per-project junction row counts survive the concat, so neither
    * project's block is dropped (the reference kept only the last).
    */
  test("jxn wide multi-project: no project block dropped (reference xfail fixed)") {
    val (long, _) = project.loadJxnLong()
    assert(long.select("project_id").distinct().count() == 2)
    val (wide, wideMeta) = project.loadJxn()
    // both projects contribute metadata rows and sample columns, with
    // real (non-zero) counts in each block
    assert(wideMeta.select("project_id").distinct().count() == 2)
    assert(wide.columns.toSeq == Seq("101", "102", "103"))
    val t = wide.agg(sum("101"), sum("103")).collect()(0)
    assert(t.getLong(0) > 0 && t.getLong(1) > 0)
  }

  test("jxn wide: columns are the ID files in file order, an all-zero sample kept") {
    Writers.withScratchDir(spark, "graft-mirror-empty-sample") { dir =>
      val p = new Project(spark, corpus, FixtureMirror.Dbase, FixtureMirror.Organism,
        annotation = Some(Annotation.GencodeV26), jxnFormat = Some("unique"),
        rootUrl = FixtureMirror.buildWithEmptySample(Paths.get(dir, "src")),
        mirrorRoot = Paths.get(dir, "cache"))
      p.cache(Seq(Dtype.Jxn))
      val (wide, _) = p.loadJxn()
      // SRP001's ID file (102, 099, 101) then SRP002's (103)
      assert(wide.columns.toSeq == Seq("102", "099", "101", "103"))
      // MM rows 1..4 in order; 099 has no entries, so it is all zeros
      assert(wide.collect().toSeq.map(_.toSeq) == Seq(
        Seq(5L, 0L, 0L, 9L), Seq(0L, 0L, 7L, 0L), Seq(0L, 0L, 0L, 0L), Seq(2L, 0L, 0L, 0L)))
    }
  }

  test("bw catalog: project x sample rows, content never read") {
    project.cache(Seq(Dtype.Bw))
    val cat = project.loadBw()
    assert(cat.columns.toSeq == Seq("project_id", "url", "path"))
    assert(cat.count() == 6) // 2 projects x 3 samples
    assert(cat.filter(col("url").endsWith(".ALL.bw")).count() == 6)
  }

  test("scale transforms compose with loaded metadata") {
    import graft.transform.Scale
    val md = project.loadMetadata()
    val sf = Scale.mappedReadsFactors(md, 4e7, 100)
    // all fixture samples: 1000 reads, len 200/100 → paired → sf = 200
    assert(sf.collect().forall(_.getDouble(1) == 200.0))
    val (_, counts) = project.loadGene()
    val scaled = Scale.scaleMappedReadsWide(counts, sf)
    val g1 = scaled.filter(col("gene_id") === "g1").collect()(0)
    assert(g1.getDouble(1) == 2000.0) // 10 * 200
  }
}
