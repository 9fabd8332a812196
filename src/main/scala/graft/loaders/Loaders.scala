package graft.loaders

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cache.Downloader
import graft.io.Readers
import graft.locate.{EndpointConnector, Locators, ProjectLocator}
import graft.model.{Annotation, Dtype, Model}
import graft.ops.Ops

/** Corpus-level metadata pipeline (accessor.py:293-339 `Metadata`):
  * discover → cache → one lazy multi-file scan → union → organism
  * replace → distinct. The load-before-cache error contract is preserved
  * (accessor.py:303-305 vs 319 — SURVEY §7.4.4).
  */
final class Metadata(
    spark: SparkSession,
    val organism: String,
    rootUrl: String,
    mirrorRoot: Path,
    parallelism: Int = 8) {

  private val eps = new EndpointConnector(organism, rootUrl)
  private val downloader = new Downloader(mirrorRoot, parallelism)
  private var cachedUrls: Option[List[String]] = None

  def cache(): Unit = {
    val urls = Locators.metadataUrls(eps.rootOrganismUrl, eps.dataSources)
    downloader.cache(urls)
    cachedUrls = Some(urls)
  }

  /** Mirrored paths of this organism's project metadata files. */
  private def localPaths(): List[String] =
    cachedUrls.getOrElse(
      throw new IllegalStateException("Metadata.load() requires cache() first"))
      .filter(u => u.contains(organism) && u.contains(".recount_project."))
      .map(u => downloader.localPath(u).toString)

  def load(): DataFrame = {
    val paths = localPaths()
    if (paths.isEmpty) spark.emptyDataFrame
    else {
      val df = Readers.tsvAllString(spark, paths)
      Ops.replaceOrganism(df).distinct()
    }
  }

  /** Reference read-error parity (accessor.py:327-329): the reference
    * logs and returns a bare None when ANY metadata file fails to read.
    * `load()` is lazy — a corrupt file would only surface at action
    * time — so this variant probes each mirrored file eagerly on the
    * driver (open + first decompressed byte, the failure mode the
    * reference's eager read hits: missing file, truncated gzip, bad
    * header) and yields None instead of a deferred task failure.
    */
  def loadLenient(): Option[DataFrame] =
    localPaths().find(p => !Metadata.probeReadable(p)) match {
      case Some(bad) =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"metadata file unreadable, returning None (reference parity): $bad")
        None
      case None => Some(load())
    }
}

object Metadata {
  /** True iff the file opens and its first (decompressed, for .gz)
    * characters are readable — or it is a readable empty file.
    */
  private[loaders] def probeReadable(path: String): Boolean =
    try {
      val r = Readers.open(path)
      try { r.read(); true } finally r.close()
    } catch { case _: java.io.IOException => false }
}

/** Per-project loading facade (accessor.py:37-118 `Project` + the five
  * Loader classes). Construction runs the one Spark job of the facade's
  * set-up: a single collect of the (project, sample) pairs (legitimate
  * driver-side lists, accessor.py:56-57); everything downstream is one
  * lazy Spark plan per load.
  */
final class Project(
    spark: SparkSession,
    val metadata: DataFrame,
    val dbase: String,
    val organism: String,
    val annotation: Option[Annotation] = None,
    val jxnFormat: Option[String] = None,
    rootUrl: String,
    mirrorRoot: Path,
    parallelism: Int = 8) {

  /** (project -> samples) in ONE collect, from which the project and
    * sample lists derive too — a per-project filter+collect loop would
    * launch thousands of tiny jobs at corpus scale.
    */
  private val samplesByProject: Map[String, List[String]] =
    metadata.select("project", "external_id").distinct()
      .collect()
      .groupBy(_.getString(0))
      .map { case (p, rows) => p -> rows.map(_.getString(1)).toList.sorted }
  val projectIds: List[String] = samplesByProject.keys.toList.sorted
  val sampleIds: List[String] = samplesByProject.values.flatten.toList.distinct.sorted

  private val eps = new EndpointConnector(organism, rootUrl)
  private val downloader = new Downloader(mirrorRoot, parallelism)
  private var metadataCache: Option[DataFrame] = None

  def urls(dtype: Dtype): List[String] =
    ProjectLocator(eps.rootOrganismUrl, eps.dataSources, dbase, dtype,
      annotation, projectIds, sampleIds, jxnFormat).urls

  def cache(dtypes: Seq[Dtype]): Unit =
    downloader.cache(dtypes.flatMap(urls))

  private def local(url: String): String = downloader.localPath(url).toString

  /** Memoized project metadata (accessor.py:50, 176-179) — cached as a
    * Spark-cached plan, not a driver copy.
    */
  def loadMetadata(): DataFrame = metadataCache.getOrElse {
    val df = loadMetadataUncached().cache()
    metadataCache = Some(df)
    df
  }

  /** URL validity for per-project metadata files (accessor.py:281-290):
    * substring predicates + the gtex/tcga "pred" exclusion.
    */
  private[loaders] def validMetadataUrl(url: String, pid: String): Boolean =
    url.contains(pid) && url.contains(dbase) &&
      url.contains(Dtype.Metadata.tag) &&
      !(Set("gtex", "tcga").contains(dbase) && url.contains("pred"))

  /** Project sample metadata (accessor.py:455-512 `MetadataLoader`): per
    * project, inner-join the 4-5 source files on the composite key, then
    * union projects with schema reconciliation, normalize organism,
    * distinct.
    */
  private def loadMetadataUncached(): DataFrame = {
    val perProject = projectIds.flatMap { pid =>
      val files = urls(Dtype.Metadata).filter(validMetadataUrl(_, pid))
      val dfs = files.map { u =>
        val df = Readers.tsvAllString(spark, Seq(local(u)))
        if (sampleIds.nonEmpty) df.filter(col("external_id").isin(sampleIds: _*))
        else df
      }
      if (dfs.isEmpty) None
      else Some(Ops.innerJoinAll(dfs, Model.MetadataJoinKey))
    }
    if (perProject.isEmpty) throw new RuntimeException("No metadata loaded.")
    Ops.replaceOrganism(Ops.unionWithMissing(perProject)).distinct()
  }

  private def perProjectSamples(pid: String): List[String] =
    samplesByProject.getOrElse(pid, Nil)

  private def annotationUrl(dtype: Dtype): Option[String] = {
    val ann = annotation.getOrElse(
      throw new IllegalArgumentException(s"annotation required for $dtype"))
    urls(dtype).find(u =>
      u.contains(ann.code) && Dtype.extensions(dtype).exists(u.endsWith))
  }

  /** Gene load (accessor.py:340-388 `GeneLoader`): shared GTF annotation +
    * per-project counts projected to that project's samples, aligned
    * full-outer on gene_id, key-ordered.
    */
  def loadGene(): (DataFrame, DataFrame) = {
    val (annDf, counts, _) = loadCounts(Dtype.Gene, "gene")
    (annDf, counts)
  }

  /** Exon load (accessor.py:516-570 `ExonLoader`): GTF annotation +
    * counts whose composite first column is split into
    * chrom/start/end/strand (R3). Multi-project counts are align-concat'd
    * on the composite id before the split — the reference keeps only the
    * last project (an acknowledged TODO, tests/test_accessor.py:9); we fix
    * rather than replicate the data loss.
    */
  def loadExon(): (DataFrame, DataFrame) = {
    val (annDf, counts, key) = loadCounts(Dtype.Exon, "exon")
    (annDf, Ops.exonIdSplit(counts, key))
  }

  /** The GTF annotation of `dtype` and its per-project counts, each
    * projected to that project's samples and align-concat'd full-outer
    * on the counts' first column, whose name is returned as the key.
    */
  private def loadCounts(dtype: Dtype, name: String): (DataFrame, DataFrame, String) = {
    val ann = annotation.getOrElse(throw new IllegalArgumentException(
      s"annotation required for ${name.toUpperCase}"))
    val annDf = annotationUrl(dtype).map(u => Readers.gtfRead(spark, local(u)))
    val counts = projectIds.flatMap { pid =>
      urls(dtype)
        .filter(u => u.contains(pid) && u.endsWith(s"${ann.code}.gz"))
        .map(u => Readers.countsRead(spark, local(u), perProjectSamples(pid)))
    }
    if (annDf.isEmpty || counts.isEmpty)
      throw new RuntimeException(s"Missing $name annotation or counts file")
    val key = counts.head.columns.head
    (annDf.get, Ops.alignConcat(counts, Seq(key)), key)
  }

  /** One project's junction triple, read once and shared by both
    * junction loads: the ID list in ID-file order and the MM header's row
    * count (driver-side reads), the long entries and the RR metadata
    * (lazy plans).
    */
  private final class Junctions(val ids: List[String], val nRows: Long,
      val long: DataFrame, val meta: DataFrame)

  private lazy val junctions: List[Junctions] = projectIds.map { pid =>
    val pUrls = urls(Dtype.Jxn).filter(_.contains(pid))
    def file(kind: String): String = local(pUrls.find(_.contains(kind))
      .getOrElse(throw new RuntimeException(s"No $kind file found for $pid")))
    val ids = Readers.idListRead(file("ID"))
    val (mmLong, nRows, nCols, _) = Readers.matrixMarketRead(spark, file("MM"))
    if (ids.length != nCols)
      throw new IllegalArgumentException("Mismatch between MM columns and IDs")
    val idLookup = ids.zipWithIndex.map { case (id, i) => ((i + 1).toLong, id) }
    val idDf = spark.createDataFrame(idLookup).toDF("col", "rail_id")
    val long = mmLong.join(broadcast(idDf), "col")
      .select(lit(pid).as("project_id"), col("row"), col("rail_id"), col("value"))
    val meta = Readers.tsvAllString(spark, Seq(file("RR")))
      .withColumn("project_id", lit(pid))
    new Junctions(ids, nRows, long, meta)
  }

  /** Junction load, long format — the scale path: (project_id, junction
    * row, rail_id, value) union across projects dissolves the reference's
    * positional horizontal concat (and its multi-project known failure,
    * test_known_failures.py:10-16). Metadata: RR files all-string +
    * project_id provenance column, vertically unioned.
    */
  def loadJxnLong(): (DataFrame, DataFrame) = {
    if (junctions.isEmpty) throw new RuntimeException("No junction data loaded.")
    (Ops.unionAll(junctions.map(_.long)), Ops.unionAll(junctions.map(_.meta)))
  }

  /** Junction load, wide presentation parity (accessor.py:392-453
    * `JunctionLoader`): each project densified at its MM header's shape,
    * as the reference's scipy densify does (accessor.py:431-438) — rows
    * 1..n, zeros filled, one column per rail_id of that project's ID file
    * in ID-file order, so a sample with no junction entries is a column
    * of zeros. Project blocks are joined on the MM row key, in row order.
    */
  def loadJxn(): (DataFrame, DataFrame) = {
    val (_, meta) = loadJxnLong()
    val blocks = junctions.map { j =>
      spark.range(1, j.nRows + 1).toDF("row")
        .join(Ops.pivotWide(j.long, "row", "rail_id", "value", j.ids), Seq("row"), "left")
        .na.fill(0, j.ids)
    }
    (blocks.reduce(_.join(_, Seq("row"), "full_outer")).orderBy("row").drop("row"), meta)
  }

  /** BigWig catalog (accessor.py:574-610 `BigWigLoader`): in-memory
    * (project_id, url, path) rows — content is never parsed (S11).
    */
  def loadBw(): DataFrame = {
    val rows = urls(Dtype.Bw).flatMap { u =>
      projectIds.find(u.contains).map(pid =>
        (pid, u, downloader.localPath(u).toString))
    }
    if (rows.isEmpty) throw new RuntimeException("No BigWig files found")
    spark.createDataFrame(rows).toDF("project_id", "url", "path")
  }
}
