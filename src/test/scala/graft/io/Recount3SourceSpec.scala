package graft.io

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.{FixtureMirror, SparkSpec}

/** `spark.read.format("recount3")` DataSourceV2 against the file://
  * fixture mirror: long-format values, project-level partition pruning,
  * sample-level wide-column pushdown, required-column pruning.
  */
class Recount3SourceSpec extends SparkSpec {

  private lazy val rootUrl = FixtureMirror.build(fixtureDir("graft-r3src"))

  private def read(dtype: String, projects: String) =
    spark.read.format("recount3")
      .option("root", rootUrl)
      .option("organism", FixtureMirror.Organism)
      .option("dbase", FixtureMirror.Dbase)
      .option("dtype", dtype)
      .option("annotation", "G026")
      .option("projects", projects)
      .load()

  /** Finds the v2 scan through AQE wrappers (AdaptiveSparkPlanExec and
    * query stages hide their subtrees from a plain collect).
    */
  private def findScan(p: SparkPlan): Option[String] = p match {
    case a: AdaptiveSparkPlanExec => findScan(a.executedPlan)
    case q: QueryStageExec => findScan(q.plan)
    case b: BatchScanExec => Some(b.scan.description())
    case other => other.children.iterator.flatMap(findScan).nextOption()
  }

  private def scanDescription(df: org.apache.spark.sql.DataFrame): String =
    findScan(df.queryExecution.executedPlan)
      .getOrElse(fail("no BatchScanExec in plan"))

  test("gene counts scan to long format, all projects") {
    val df = read("gene", "SRP001,SRP002")
    assert(df.columns.toSeq ==
      Seq("project_id", "feature_id", "sample_id", "value"))
    val got = df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val expected = Set(
      ("SRP001", "g1", "SRR001", 10L), ("SRP001", "g1", "SRR002", 20L),
      ("SRP001", "g2", "SRR001", 30L), ("SRP001", "g2", "SRR002", 40L),
      ("SRP001", "g3", "SRR001", 0L), ("SRP001", "g3", "SRR002", 5L),
      ("SRP001", "g4", "SRR001", 7L), ("SRP001", "g4", "SRR002", 0L),
      ("SRP002", "g2", "SRR003", 100L), ("SRP002", "g3", "SRR003", 200L),
      ("SRP002", "g5", "SRR003", 300L))
    assert(got == expected)
  }

  test("exon counts scan: composite feature ids pass through unsplit") {
    val df = read("exon", "SRP002")
    val got = df.collect().map(r =>
      (r.getString(1), r.getLong(3))).toSet
    assert(got == Set(("chr1|100|150|+", 9L), ("chr2|500|700|-", 8L)))
  }

  test("project_id filter prunes whole files before the scan") {
    val df = read("gene", "SRP001,SRP002").filter(col("project_id") === "SRP002")
    assert(scanDescription(df).contains("files=1"))
    assert(df.count() == 3)
    // membership filter prunes the same way
    val dfIn = read("gene", "SRP001,SRP002")
      .filter(col("project_id").isin("SRP001"))
    assert(scanDescription(dfIn).contains("files=1"))
    assert(dfIn.count() == 8)
  }

  test("sample_id filter prunes wide columns inside the file") {
    val df = read("gene", "SRP001,SRP002").filter(col("sample_id") === "SRR002")
    assert(scanDescription(df).contains("samples=[SRR002]"))
    val got = df.collect().map(r => (r.getString(1), r.getLong(3))).toSet
    assert(got == Set(("g1", 20L), ("g2", 40L), ("g3", 5L), ("g4", 0L)))
    // a sample that exists in no file still yields an empty (not failing) scan
    assert(read("gene", "SRP001").filter(col("sample_id") === "NOPE").count() == 0)
  }

  test("required-column pruning reaches the reader schema") {
    val df = read("gene", "SRP001").select("feature_id")
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan
    }.get
    assert(scan.readSchema().fieldNames.toSeq == Seq("feature_id"))
    assert(df.distinct().count() == 4)
  }

  test("combined pushdown: project + sample + aggregate") {
    val df = read("gene", "SRP001,SRP002")
      .filter(col("project_id") === "SRP001" && col("sample_id").isin("SRR001"))
      .groupBy("sample_id").agg(sum("value").as("total"))
    val desc = scanDescription(df)
    assert(desc.contains("files=1") && desc.contains("samples=[SRR001]"))
    val rows = df.collect()
    assert(rows.length == 1 && rows.head.getLong(1) == 47L)
  }

  test("COUNT(*) pushes into the scan and composes with filter pushdown") {
    val df = read("gene", "SRP001,SRP002").groupBy().count()
    assert(scanDescription(df).contains("pushed=[COUNT(*)]"))
    assert(df.collect().head.getLong(0) == 11L)
    // pushed count honors the exactly-consumed project/sample filters
    val df2 = read("gene", "SRP001,SRP002")
      .filter(col("project_id") === "SRP001" && col("sample_id") === "SRR002")
      .groupBy().count()
    val d2 = scanDescription(df2)
    assert(d2.contains("pushed=[COUNT(*)]"))
    assert(d2.contains("files=1") && d2.contains("samples=[SRR002]"))
    assert(df2.collect().head.getLong(0) == 4L)
    // group-by counts are NOT pushed (partial-only contract) — row scan
    val df3 = read("gene", "SRP001,SRP002").groupBy("project_id").count()
    assert(!scanDescription(df3).contains("pushed"))
    assert(df3.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("SRP001", 8L), ("SRP002", 3L)))
  }

  test("runtime filtering: a join against a filtered dim prunes whole files dynamically") {
    // dim carries ONE project; the scan must only plan that project's
    // file once the runtime filter from the join arrives
    import spark.implicits._
    // the dim must be a REAL relation (a local Seq constant-folds its
    // filter away and DPP sees no selective predicate to key on)
    Writers.withScratchDir(spark, "graft-rf-dim") { dimDir =>
      Seq(("SRP002", "keep"), ("SRP999", "drop")).toDF("project_id", "tag")
        .write.mode("overwrite").parquet(dimDir)
      val dim = spark.read.parquet(dimDir)
        .filter(col("tag") === "keep") // the selective predicate DPP keys on
      val fact = read("gene", "SRP001,SRP002")
      Recount3Source.lastPlannedFiles = Nil
      val joined = fact.join(dim, "project_id")
        .groupBy("project_id").count()
      val rows = joined.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows == Set(("SRP002", 3L)))
      // the executed plan carries the injected dynamic filter
      assert(joined.queryExecution.executedPlan.toString.contains("dynamicpruning"),
        "expected a dynamicpruningexpression runtime filter on the scan")
      val planned = Recount3Source.lastPlannedFiles
      assert(planned == Seq("SRP002"),
        s"runtime filter should prune to the joined project's file; planned $planned")
    }
  }

  test("runtime filtering: a join against a filtered sample dim prunes wide columns") {
    // the sample twin of the project-id runtime filter: the dim's
    // observed sample_id set reaches the scan before execution, so the
    // readers skip parsing every unselected wide column
    import spark.implicits._
    Writers.withScratchDir(spark, "graft-rf-sdim") { dimDir =>
      Seq(("SRR001", "keep"), ("SRR999", "drop")).toDF("sample_id", "tag")
        .write.mode("overwrite").parquet(dimDir)
      val dim = spark.read.parquet(dimDir)
        .filter(col("tag") === "keep")
      val fact = read("gene", "SRP001,SRP002")
      Recount3Source.lastRuntimeSamples = None
      val joined = fact.join(dim, "sample_id")
        .groupBy("sample_id").count()
      val rows = joined.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows == Set(("SRR001", 4L)))
      assert(joined.queryExecution.executedPlan.toString.contains("dynamicpruning"),
        "expected a dynamicpruningexpression runtime filter on the scan")
      assert(Recount3Source.lastRuntimeSamples == Some(Set("SRR001")),
        s"runtime sample set should reach the scan; got ${Recount3Source.lastRuntimeSamples}")
    }
  }

  test("reported storage partitioning: project-keyed aggregation plans NO shuffle") {
    val key = "spark.sql.sources.v2.bucketing.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val df = read("gene", "SRP001,SRP002").groupBy("project_id").count()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"storage partitioning should satisfy the aggregate's distribution; plan:\n${plan.take(1500)}")
      assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("SRP001", 8L), ("SRP002", 3L)))
      // pruning project_id away degrades to unknown partitioning (the
      // key is no longer resolvable against the scan output) — still
      // correct, just shuffled
      val df2 = read("gene", "SRP001,SRP002").groupBy("sample_id").count()
      assert(df2.collect().map(_.getLong(1)).sum == 11L)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("storage-partitioned join: two recount3 sides join on project_id with NO shuffle") {
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      // force a non-broadcast join so the exchange question is real
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val a = read("gene", "SRP001,SRP002")
        .groupBy("project_id").agg(sum("value").as("total"))
      val b = read("gene", "SRP001,SRP002")
        .groupBy("project_id").agg(count(lit(1)).as("n"))
      val joined = a.join(b, "project_id").orderBy("project_id")
      val plan = joined.queryExecution.executedPlan.toString
      // the presentation sort's range exchange is expected; the join and
      // both aggregations must run on the storage partitioning
      val shuffles = plan.split("\n").count(l =>
        l.contains("Exchange") && !l.contains("rangepartitioning"))
      assert(shuffles == 0,
        s"join + aggs should ride the reported partitioning; plan:\n${plan.take(2000)}")
      val rows = joined.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      // same answer as the wide loader path computes independently
      val expected = read("gene", "SRP001,SRP002")
        .groupBy("project_id")
        .agg(sum("value").as("total"), count(lit(1)).as("n"))
        .orderBy("project_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(rows == expected, s"join result wrong: $rows vs $expected")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("LIMIT pushes into the scan: readers stop after n rows per file") {
    val df = read("gene", "SRP001,SRP002").limit(3)
    val desc = scanDescription(df)
    assert(desc.contains("limit=3"), s"expected pushed limit in scan: $desc")
    // partial pushdown: Spark still applies the global LIMIT on top
    assert(df.collect().length == 3)
    // a limit under a filter Catalyst can't push does NOT break rows
    val df2 = read("gene", "SRP001,SRP002").limit(100)
    assert(df2.collect().length == 11) // fewer rows than the limit: all emitted
  }

  test("ORDER BY + LIMIT pushes as top-N: per-file heap, global merge") {
    // total order (value DESC, then ids) so the expected rows are unique
    val df = read("gene", "SRP001,SRP002")
      .orderBy(desc("value"), col("feature_id"), col("sample_id"))
      .limit(3)
    val desc3 = scanDescription(df)
    assert(desc3.contains("topn=3[value DESC,feature_id,sample_id]"),
      s"expected pushed top-N in scan: $desc3")
    val got = df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq(
      ("SRP002", "g5", "SRR003", 300L),
      ("SRP002", "g3", "SRR003", 200L),
      ("SRP002", "g2", "SRR003", 100L)))
    // ascending keys push too, and n > total rows emits everything
    val dfAsc = read("gene", "SRP001").orderBy("value").limit(100)
    assert(scanDescription(dfAsc).contains("topn=100[value]"),
      s"ascending top-N not pushed: ${scanDescription(dfAsc)}")
    assert(dfAsc.collect().map(_.getLong(3)).toSeq ==
      Seq(0L, 0L, 5L, 7L, 10L, 20L, 30L, 40L))
    // a sort over a DERIVED key is not pushable -> full scan + Catalyst
    // sort, same rows (partial-pushdown fallback correctness)
    val dfExpr = read("gene", "SRP001,SRP002")
      .orderBy((col("value") * -1).asc, col("feature_id"), col("sample_id"))
      .limit(2)
    assert(!scanDescription(dfExpr).contains("topn"),
      s"derived sort key must not push: ${scanDescription(dfExpr)}")
    assert(dfExpr.collect().map(_.getLong(3)).toSeq == Seq(300L, 200L))
  }

  test("MIN/MAX(project_id) pushes and answers from planning metadata") {
    val df = read("gene", "SRP001,SRP002")
      .agg(min("project_id").as("lo"), max("project_id").as("hi"),
        count(lit(1)).as("n"))
    val desc = scanDescription(df)
    assert(desc.contains("MIN(project_id)") && desc.contains("MAX(project_id)") &&
      desc.contains("COUNT(*)"), s"mixed pushdown expected, got: $desc")
    val row = df.collect().head
    assert((row.getString(0), row.getString(1), row.getLong(2)) ==
      (("SRP001", "SRP002", 11L)))
    // min/max over OTHER columns is refused -> plain row scan
    val df2 = read("gene", "SRP001").agg(max("sample_id"))
    assert(!scanDescription(df2).contains("pushed"))
    assert(df2.collect().head.getString(0) == "SRR002")
  }

  test("long scan agrees with the independent wide countsRead path, melted") {
    // two fully independent parsers over the same files: the DSv2
    // streaming line reader vs spark.read.csv in Readers.countsRead
    val root = java.nio.file.Paths.get(java.net.URI.create(rootUrl))
      .resolve(FixtureMirror.Organism)
    val got = read("gene", "SRP001,SRP002")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val expected = FixtureMirror.Projects.keys.flatMap { pid =>
      val path = root.resolve(
        s"${FixtureMirror.DSource}/gene_sums/${pid.takeRight(2)}/$pid/" +
          s"${FixtureMirror.Dbase}.gene_sums.$pid.G026.gz").toString
      val wide = Readers.countsRead(spark, path)
      val samples = wide.columns.tail
      wide.collect().toSeq.flatMap { row =>
        samples.toSeq.zipWithIndex.map { case (s, i) =>
          (pid, row.getString(0), s, row.getLong(i + 1))
        }
      }
    }.toSet
    assert(got == expected)
  }

  test("option validation: bad dtype / unknown annotation / missing project") {
    assertThrows[IllegalArgumentException](read("junctions", "SRP001").collect())
    assertThrows[IllegalArgumentException] {
      spark.read.format("recount3").option("root", rootUrl)
        .option("dtype", "gene").option("annotation", "XXXX")
        .option("projects", "SRP001").load().collect()
    }
    assertThrows[IllegalArgumentException](read("gene", "SRP999").collect())
  }
}
