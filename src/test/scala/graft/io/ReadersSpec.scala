package graft.io

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType}

import graft.{FixtureMirror, SparkSpec}
import graft.loaders.Project

class ReadersSpec extends SparkSpec {

  private lazy val (mirror, rootUrl) = {
    val dir = fixtureDir("graft-readers")
    (dir, FixtureMirror.build(dir))
  }
  private def p(rel: String): String = mirror.resolve(rel).toString
  private val corpusPath = "human/data_sources/sra/metadata/sra.recount_project.MD.gz"
  private val countsPath = "human/data_sources/sra/gene_sums/01/SRP001/sra.gene_sums.SRP001.G026.gz"

  private lazy val textDir = fixtureDir("graft-readers-text")
  private def textFile(name: String, content: String): String =
    Files.writeString(textDir.resolve(name), content).toString

  /** The messages of `e` and its causes, one per line. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  /** Spark jobs started while `body` runs. The listener bus is
    * asynchronous, so a marker job before and after the body brackets
    * exactly the body's jobs: job-start events arrive in order.
    */
  private def jobsOf(body: => Any): Int = {
    val seen = new AtomicInteger()
    val atMarker = new LinkedBlockingQueue[Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "jobsOf-marker"))
          atMarker.put(Integer.valueOf(seen.getAndSet(0)))
        else seen.incrementAndGet()
    }
    def marker(): Unit = {
      spark.sparkContext.setJobDescription("jobsOf-marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      marker()
      body
      marker()
      val counts = Seq.fill(2)(atMarker.poll(60, TimeUnit.SECONDS))
      assert(counts.forall(_ != null), "marker jobs not seen")
      counts.last.intValue
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("tsvAllString: every column Utf8, header preserved") {
    val df = Readers.tsvAllString(spark,
      Seq(p("human/data_sources/sra/metadata/sra.recount_project.MD.gz")))
    assert(df.schema.fields.forall(_.dataType == StringType))
    assert(df.columns.length == 8)
    assert(df.count() == 3)
  }

  test("countsRead: ## comments skipped, numeric inference, sample projection") {
    val path = p("human/data_sources/sra/gene_sums/01/SRP001/sra.gene_sums.SRP001.G026.gz")
    val df = Readers.countsRead(spark, path, Seq("SRR002"))
    assert(df.columns.toSeq == Seq("gene_id", "SRR002"))
    assert(df.schema("SRR002").dataType == LongType)
    assert(df.count() == 4)
  }

  test("countsRead: missing requested sample raises (KeyError contract)") {
    val path = p("human/data_sources/sra/gene_sums/01/SRP001/sra.gene_sums.SRP001.G026.gz")
    assertThrows[NoSuchElementException](
      Readers.countsRead(spark, path, Seq("SRR999")))
  }

  test("gtfRead: 9 fixed cols + 12 extracted fields, empty on absent") {
    val df = Readers.gtfRead(spark, p("human/annotations/gene_sums/human.gene_sums.G026.gtf.gz"))
    assert(df.columns.length == 21)
    val rows = df.orderBy("start", "feature").collect()
    assert(rows.length == 3) // comment line skipped
    val gene1 = rows(0)
    assert(gene1.getAs[String]("gene_id") == "g1")
    assert(gene1.getAs[String]("gene_name") == "Alpha")
    assert(gene1.getAs[String]("transcript_id") == "") // absent → ""
    val t1 = rows(1)
    assert(t1.getAs[String]("transcript_id") == "t1")
    assert(t1.getAs[String]("transcript_name") == "Alpha-1")
  }

  test("matrixMarketRead: long coo + declared dims") {
    val (df, rows, cols, nnz) = Readers.matrixMarketRead(spark,
      p("human/data_sources/sra/junctions/01/SRP001/sra.junctions.SRP001.UNIQUE.MM.gz"))
    assert((rows, cols, nnz) == (4L, 2L, 3L))
    assert(df.orderBy("row", "col").collect().toSeq ==
      Seq(Row(1L, 1L, 5L), Row(2L, 2L, 7L), Row(4L, 1L, 2L)))
  }

  test("idListRead: rail_ids as strings") {
    assert(Readers.idListRead(
      p("human/data_sources/sra/junctions/01/SRP001/sra.junctions.SRP001.UNIQUE.ID.gz")) ==
      List("101", "102"))
  }

  test("tsvAllString, countsRead, idListRead and matrixMarketRead launch no job before an action") {
    val counts = p(countsPath)
    val jxn = "human/data_sources/sra/junctions/01/SRP001/sra.junctions.SRP001.UNIQUE"
    assert(jobsOf(Readers.tsvAllString(spark, Seq(p(corpusPath)))) == 0)
    assert(jobsOf(Readers.countsRead(spark, counts)) == 0)
    assert(jobsOf(Readers.countsRead(spark, counts, Seq("SRR002"))) == 0)
    assert(jobsOf(Readers.idListRead(p(s"$jxn.ID.gz"))) == 0)
    assert(jobsOf(Readers.matrixMarketRead(spark, p(s"$jxn.MM.gz"))) == 0)
  }

  test("new Project launches only its single (project, sample) collect") {
    val corpus = Readers.tsvAllString(spark, Seq(p(corpusPath)))
    val oneCollect = jobsOf(corpus.select("project", "external_id").distinct().collect())
    assert(oneCollect > 0)
    var project: Project = null
    assert(jobsOf {
      project = new Project(spark, corpus, FixtureMirror.Dbase, FixtureMirror.Organism,
        rootUrl = rootUrl, mirrorRoot = mirror)
    } == oneCollect)
    assert(project.projectIds == List("SRP001", "SRP002"))
    assert(project.sampleIds == List("SRR001", "SRR002", "SRR003"))
  }

  test("countsRead: a non-integer cell raises (FAILFAST) instead of inferring a wider type") {
    val path = textFile("counts.tsv",
      "##fixture counts\ngene_id\tSRR001\tSRR002\ng1\t10\t20\ng2\t30\t4.5\n")
    val df = Readers.countsRead(spark, path)
    assert(df.schema.fields.tail.forall(_.dataType == LongType))
    assert(messages(intercept[Exception](df.collect())).contains("MALFORMED_RECORD"))
  }

  test("tsvAllString: a multi-file read whose headers differ raises") {
    val a = textFile("a.tsv", "id\tname\n1\tx\n")
    val b = textFile("b.tsv", "id\tlabel\n2\ty\n")
    val c = textFile("c.tsv", "id\tname\n3\tz\n")
    assert(Readers.tsvAllString(spark, Seq(a, c)).collect().length == 2)
    val e = intercept[Exception](Readers.tsvAllString(spark, Seq(a, b)).collect())
    assert(messages(e).contains("Expected: name but found: label"))
  }

  test("tsvAllString: empty or duplicate header names are rejected") {
    for (header <- Seq("id\t\tname", "id\tname\tID"))
      assertThrows[IllegalArgumentException](
        Readers.tsvAllString(spark, Seq(textFile("h.tsv", header + "\n1\t2\t3\n"))))
  }
}
