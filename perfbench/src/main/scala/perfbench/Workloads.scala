package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.cache.Downloader
import graft.io.Readers
import graft.loaders.{Metadata, Project}
import graft.locate.{EndpointConnector, Locators, ProjectLocator}
import graft.model.{Annotation, Dtype}
import graft.queries.{DedupQueries, GraphQueries, Quantizer}
import graft.transform.Scale

/** One timed call. `run` is the timed region; `check` runs after the
  * timer stops and returns an error when the output is wrong; `prep`
  * runs before the timer starts.
  */
final case class Step(
    name: String,
    run: () => Any,
    check: Any => Option[String] = _ => None,
    prep: () => Unit = () => ())

trait Workload {
  /** Set-up work after the session is built: table footers. */
  def footers(spark: SparkSession): Unit
  /** Set-up warm-up: one small action through the workload's read path. */
  def warmup(spark: SparkSession): Unit
  /** Untimed clean-up before a pass (fresh cache directory, cached frames). */
  def beforePass(spark: SparkSession): Unit = ()
  /** The pass's steps; `notes` takes per-layer metrics a step's check
    * reports for its trace span (file counts, megabytes), by metric name. */
  def steps(spark: SparkSession, notes: mutable.Map[String, Double]): Seq[Step]
}

object Workload {
  def apply(name: String, cfg: Config): Workload = name match {
    case "recount3_etl" => new Recount3Etl(cfg.mirror, cfg.work.resolve("cache"))
    case "graph_scaleup" => new ScaleupRows(cfg.tables, cfg.streamTables)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val TableRows: Seq[String] = Seq("g01_pagerank", "d07_dedup_clusters", "s28_lsh_persisted")
  val StreamRows: Seq[String] = Seq("e05_stream_window", "p23_stream_decontam")

  /** Every query a workload times, for the oracle dump. */
  val AllRows: Seq[String] = TableRows ++ StreamRows
}

/** Query rows over copies of the engine's seed-42 test tables. Every pass
  * first evicts the shared memos and rebuilds the d00 and g00 preludes
  * component by component, then runs the table queries, then the live-stream
  * queries over `streamTables` (the engine's stream source reads a table
  * stored as one file, which a `BlowUp` copy is not). Each query is checked
  * against its oracle fingerprint.
  */
final class ScaleupRows(tables: TableSet, streamTables: TableSet) extends Workload {
  private val dir = tables.dir

  private val tableNames = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def footers(spark: SparkSession): Unit =
    tableNames.foreach(t => spark.read.parquet(s"$dir/$t.parquet").schema)

  def warmup(spark: SparkSession): Unit =
    graft.queries.Tables(spark, dir, "lineitem").limit(1).collect()

  private def memoSteps(spark: SparkSession): Seq[Step] = {
    val evict = Step("prelude.evict", () => {
      DedupQueries.evict(spark, dir)
      Quantizer.evict(spark, dir)
      GraphQueries.evict(spark, dir)
    })
    def parts(memo: String, ps: Seq[(String, () => Unit)]) =
      ps.map { case (n, f) => Step(s"prelude.$memo.$n", () => f()) }
    evict +: (parts("d00", DedupQueries.prewarmParts(spark, dir)) ++
      parts("g00", GraphQueries.prewarmParts(spark, dir)))
  }

  private def query(spark: SparkSession, q: String, t: TableSet): Step = {
    val fn = SparkEntry.queries(q)
    Step(s"step.$q",
      () => { val df = fn(spark, t.dir); (df.columns.toSeq, df.collect()) },
      out => {
        val (cols, rows) = out.asInstanceOf[(Seq[String], Array[org.apache.spark.sql.Row])]
        val got = Fingerprint.of(cols, rows)
        t.fingerprints.get(q) match {
          case None => Some(s"no oracle fingerprint for $q")
          case Some(want) if want != got => Some(s"fingerprint $got, oracle $want")
          case _ => None
        }
      })
  }

  def steps(spark: SparkSession, notes: mutable.Map[String, Double]): Seq[Step] =
    memoSteps(spark) ++ Workload.TableRows.map(query(spark, _, tables)) ++
      Workload.StreamRows.map(query(spark, _, streamTables))
}

/** The paper's pipeline over a generated file:// mirror: discover and
  * locate, a cold cache into an empty directory, the loaders, the two
  * scan sources, scaling, and a warm cache of the same URLs. Every step
  * is checked against the generator's `expected.json`.
  */
final class Recount3Etl(mirrorDir: Path, cacheDir: Path) extends Workload {
  private val exp: Map[String, Any] = Json.readMap(mirrorDir.resolve("expected.json"))
  private def s(k: String): String = exp(k).asInstanceOf[String]
  private def n(k: String): Long = exp(k).asInstanceOf[Number].longValue
  private def strs(k: String): List[String] = exp(k).asInstanceOf[Seq[Any]].map(_.toString).toList
  private def nums(k: String): Map[String, Double] =
    exp(k).asInstanceOf[Map[String, Any]].map { case (a, b) => a -> b.asInstanceOf[Number].doubleValue }

  private val organism = s("organism")
  private val dbase = s("dbase")
  private val ann = Annotation.all.find(_.code == s("annotation")).get
  private val jxnFormat = Some(s("jxn_format").toLowerCase)
  private val projects = strs("projects")
  private val samples = strs("samples")
  private val projectSamples: Map[String, List[String]] =
    exp("project_samples").asInstanceOf[Map[String, Any]]
      .map { case (p, v) => p -> v.asInstanceOf[Seq[Any]].map(_.toString).toList }
  private val rootUrl = mirrorDir.resolve("mirror").toUri.toString.stripSuffix("/")

  def footers(spark: SparkSession): Unit = ()

  def warmup(spark: SparkSession): Unit = {
    val eps = new EndpointConnector(organism, rootUrl)
    val gtf = ProjectLocator(eps.rootOrganismUrl, eps.dataSources, dbase, Dtype.Gene,
      Some(ann), projects).urls.head
    Readers.gtfRead(spark, Paths.get(java.net.URI.create(gtf)).toString).limit(1).collect()
  }

  override def beforePass(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    if (Files.exists(cacheDir)) deleteTree(cacheDir)
  }

  private def deleteTree(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally walk.close()
  }

  private def sameSums(got: Map[String, Double], want: Map[String, Double], rel: Double): Option[String] = {
    val bad = want.filter { case (k, w) =>
      got.get(k).forall(g => math.abs(g - w) > rel * math.max(1.0, math.abs(w)))
    }
    if (got.keySet != want.keySet) Some(s"keys ${got.keySet.size} vs ${want.keySet.size}")
    else if (bad.nonEmpty) Some(s"${bad.size} sums differ, e.g. ${bad.head._1}: " +
      s"${got.get(bad.head._1)} vs ${bad.head._2}")
    else None
  }

  private def expect(ok: Boolean, msg: => String): Option[String] = if (ok) None else Some(msg)

  private def columnSums(df: DataFrame, cols: Seq[String]): Map[String, Double] = {
    val sums = cols.map(c => sum(col(s"`$c`")).as(c))
    val r = df.agg(sums.head, sums.tail: _*).collect()(0)
    cols.zipWithIndex.map { case (c, i) =>
      c -> (if (r.isNullAt(i)) 0.0 else r.get(i).asInstanceOf[Number].doubleValue)
    }.toMap
  }

  private def groupSums(df: DataFrame, key: String): Map[String, Double] =
    df.groupBy(key).agg(sum("value")).collect()
      .map(r => r.getString(0) -> r.get(1).asInstanceOf[Number].doubleValue).toMap

  private def factorMap(df: DataFrame): Map[String, Double] =
    df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  def steps(spark: SparkSession, notes: mutable.Map[String, Double]): Seq[Step] = {
    var eps: EndpointConnector = null
    var urls: Seq[String] = Nil
    var dl: Downloader = null
    var corpus: DataFrame = null
    var project: Project = null
    var md: DataFrame = null
    var geneCounts: DataFrame = null
    var mtimes: Map[Path, Long] = Map.empty
    def local(u: String): String = dl.localPath(u).toString
    def urlOf(d: Dtype, p: String => Boolean): String = project.urls(d).find(p).get
    def recount3(): DataFrame = spark.read.format("recount3")
      .option("root", rootUrl).option("organism", organism).option("dbase", dbase)
      .option("dtype", "gene").option("annotation", ann.code)
      .option("projects", projects.mkString(",")).load()
    val target = exp("target_size").asInstanceOf[Number].doubleValue
    val readLen = n("read_length")

    Seq(
      Step("locate.discover",
        () => { eps = new EndpointConnector(organism, rootUrl); eps.dataSources },
        out => expect(out == exp("data_sources"), s"data sources $out")),
      Step("locate.urls",
        () => {
          urls = (Locators.metadataUrls(eps.rootOrganismUrl, eps.dataSources) ++
            Dtype.all.flatMap(d => ProjectLocator(eps.rootOrganismUrl, eps.dataSources, dbase, d,
              Some(ann), projects, samples, jxnFormat).urls)).distinct
          urls.size
        },
        _ => {
          notes("locate.url_count") = urls.size.toDouble
          val missing = urls.count(u => !Files.isRegularFile(Paths.get(java.net.URI.create(u))))
          expect(urls.size == n("url_count") && missing == 0,
            s"${urls.size} urls (${n("url_count")} expected), $missing missing from the mirror")
        }),
      Step("cache.cold",
        () => { dl = new Downloader(cacheDir); dl.cache(urls) },
        out => {
          val paths = out.asInstanceOf[Seq[Path]]
          val bytes = paths.map(Files.size).sum
          notes("cache.cold_files") = paths.size.toDouble
          notes("cache.cold_mb") = bytes / 1e6
          expect(paths.size == n("url_count") && bytes == n("mirror_bytes"),
            s"${paths.size} files / $bytes bytes cached")
        }),
      Step("loaders.metadata",
        () => {
          val m = new Metadata(spark, organism, rootUrl, cacheDir)
          m.cache()
          corpus = m.load()
          (corpus.count(), corpus.columns.length)
        },
        out => expect(out == ((n("corpus_rows"), n("corpus_cols").toInt)), s"corpus $out")),
      Step("loaders.project_init",
        () => {
          project = new Project(spark, corpus, dbase, organism, Some(ann), jxnFormat,
            rootUrl = rootUrl, mirrorRoot = cacheDir)
          (project.projectIds, project.sampleIds)
        },
        out => expect(out == ((projects, samples)), s"ids $out")),
      Step("loaders.project_metadata",
        () => { md = project.loadMetadata(); md.count() },
        out => expect(out == n("project_metadata_rows"), s"project metadata rows $out")),
      Step("loaders.gene",
        () => {
          val (a, c) = project.loadGene()
          geneCounts = c
          (a.count(), c.count(), columnSums(c, samples))
        },
        out => {
          val (a, c, sums) = out.asInstanceOf[(Long, Long, Map[String, Double])]
          expect(a == n("gene_gtf_rows") && c == n("gene_rows"), s"gene rows $a/$c")
            .orElse(sameSums(sums, nums("gene_sums"), 0.0))
        }),
      Step("loaders.exon",
        () => {
          val (a, c) = project.loadExon()
          (a.count(), c.count(), columnSums(c, samples))
        },
        out => {
          val (a, c, sums) = out.asInstanceOf[(Long, Long, Map[String, Double])]
          expect(a == n("exon_gtf_rows") && c == n("exon_rows"), s"exon rows $a/$c")
            .orElse(sameSums(sums, nums("exon_sums"), 0.0))
        }),
      Step("loaders.jxn_long",
        () => {
          val (long, meta) = project.loadJxnLong()
          (long.count(), long.agg(sum("value")).collect()(0).getLong(0), meta.count())
        },
        out => expect(out == ((n("jxn_long_rows"), n("jxn_value_sum"), n("jxn_meta_rows"))),
          s"junctions long $out")),
      Step("loaders.jxn_wide",
        () => {
          val (wide, _) = project.loadJxn()
          (wide.count(), columnSums(wide, wide.columns.toSeq).values.sum.toLong)
        },
        out => expect(out == ((n("jxn_wide_rows"), n("jxn_value_sum"))), s"junctions wide $out")),
      Step("loaders.bw",
        () => project.loadBw().count(),
        out => expect(out == n("bw_rows"), s"bigwig rows $out")),
      Step("io.gtf",
        () => Readers.gtfRead(spark, local(urlOf(Dtype.Gene, _.endsWith(".gtf.gz")))).count(),
        out => expect(out == n("gene_gtf_rows"), s"gtf rows $out")),
      Step("io.counts",
        () => {
          val p = projects.head
          columnSums(Readers.countsRead(spark,
            local(urlOf(Dtype.Gene, u => u.contains(s"/$p/") && u.endsWith(s"${ann.code}.gz"))),
            projectSamples(p)), projectSamples(p))
        },
        out => sameSums(out.asInstanceOf[Map[String, Double]],
          nums("gene_sums").filter(kv => projectSamples(projects.head).contains(kv._1)), 0.0)),
      Step("io.mm",
        () => {
          val p = s("mm_project")
          val (df, _, _, nnz) = Readers.matrixMarketRead(spark,
            local(urlOf(Dtype.Jxn, u => u.contains(s"/$p/") && u.endsWith("MM.gz"))))
          (df.count(), nnz)
        },
        out => expect(out == ((n("mm_nnz"), n("mm_nnz"))), s"mm $out")),
      Step("io.recount3_scan",
        () => {
          val df = recount3()
          (df.count(), groupSums(df, "sample_id"))
        },
        out => {
          val (rows, sums) = out.asInstanceOf[(Long, Map[String, Double])]
          expect(rows == n("gene_long_rows"), s"$rows long rows")
            .orElse(sameSums(sums, nums("gene_sums"), 0.0))
        }),
      Step("io.recount3_pruned",
        () => groupSums(recount3().where(col("project_id") === s("pruned_project") &&
          col("sample_id").isin(strs("pruned_samples"): _*)), "sample_id"),
        out => sameSums(out.asInstanceOf[Map[String, Double]], nums("pruned_sums"), 0.0)),
      Step("transform.factors",
        () => (factorMap(Scale.mappedReadsFactors(md, target, readLen)),
          factorMap(Scale.aucFactors(md, target))),
        out => {
          val (m, a) = out.asInstanceOf[(Map[String, Double], Map[String, Double])]
          sameSums(m, nums("mapped_factors"), 1e-12)
            .orElse(sameSums(a, nums("auc_factors"), 1e-12))
        }),
      Step("transform.scale_long",
        () => {
          val long = recount3().select(col("feature_id"), col("sample_id").as("external_id"),
            col("value"))
          (groupSums(Scale.scaleLong(long, Scale.mappedReadsFactors(md, target, readLen)),
            "external_id"),
            groupSums(Scale.scaleLong(long, Scale.aucFactors(md, target), roundToInt = true),
              "external_id"))
        },
        out => {
          val (m, a) = out.asInstanceOf[(Map[String, Double], Map[String, Double])]
          sameSums(m, nums("mapped_scaled_sums"), 1e-9)
            .orElse(sameSums(a, nums("auc_scaled_sums"), 0.0))
        }),
      Step("transform.scale_wide",
        () => (columnSums(Scale.scaleMappedReadsWide(geneCounts,
            Scale.mappedReadsFactors(md, target, readLen)), samples),
          columnSums(Scale.scaleAucWide(geneCounts, Scale.aucFactors(md, target)), samples)),
        out => {
          val (m, a) = out.asInstanceOf[(Map[String, Double], Map[String, Double])]
          sameSums(m, nums("mapped_scaled_sums"), 1e-9)
            .orElse(sameSums(a, nums("auc_scaled_sums"), 0.0))
        }),
      Step("cache.warm",
        () => dl.cache(urls),
        out => {
          val paths = out.asInstanceOf[Seq[Path]]
          val kept = paths.count(p => mtimes.get(p).contains(Files.getLastModifiedTime(p).toMillis))
          notes("cache.warm_hit_ratio") = kept.toDouble / math.max(1, urls.size)
          expect(kept == urls.size, s"$kept of ${urls.size} urls served from the cache")
        },
        prep = () => {
          mtimes = urls.map(u => dl.localPath(u)).filter(Files.exists(_))
            .map(p => p -> Files.getLastModifiedTime(p).toMillis).toMap
        }))
  }
}
