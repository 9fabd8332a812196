package graft.io

import java.net.URI
import java.nio.file.Paths
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportPartitioning, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.locate.{EndpointConnector, ProjectLocator}
import graft.model.{Annotation, Dtype}

/** DataSourceV2 over the recount3 corpus layout (NOTES_r1 #4 second half):
  * `spark.read.format("recount3")` resolves root → homes_index →
  * per-project count-file URLs (the same locator the loaders use:
  * reference locator.py:83-164) and scans the wide gzipped counts TSVs
  * (accessor.py:340-388 gene / 516-570 exon) directly into the LONG
  * format the 100 TB architecture standardizes on (SURVEY §7.4.1):
  * one `(project_id, feature_id, sample_id, value)` row per matrix cell.
  *
  * Catalyst integration — the reason this is a v2 source and not a
  * loader helper:
  *   - **partition pruning**: an `EqualTo`/`In` filter on `project_id`
  *     is pushed into the scan and skips whole files (each counts file
  *     is one project — at corpus scale, one project filter prunes
  *     thousands of files before a single byte is read);
  *   - **column pruning inside the wide file**: a pushed filter on
  *     `sample_id` restricts which per-sample columns of the wide TSV
  *     are even parsed — the long-format row explosion never happens
  *     for unselected samples;
  *   - **required-column pruning**: `select("feature_id")` materializes
  *     only that field per emitted row.
  *
  * Remote roots are mirrored first via [[graft.cache.Downloader]]; the
  * scan itself reads `file:` paths only (zero network IO inside tasks —
  * executors hammering an HTTP endpoint is the anti-pattern the
  * cache-then-scan split exists to prevent).
  */
final class Recount3Source extends TableProvider with DataSourceRegister {
  override def shortName(): String = "recount3"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Recount3Source.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new Recount3Source.R3Table(Recount3Source.resolve(properties.asScala.toMap))
}

object Recount3Source {
  /** Test instrumentation: the project ids the most recent R3Scan
    * actually planned partitions for (AFTER any runtime filtering) —
    * how Recount3SourceSpec observes dynamic file pruning, which is
    * invisible in the planning-time description string.
    */
  @volatile private[io] var lastPlannedFiles: Seq[String] = Nil
  @volatile private[io] var lastRuntimeSamples: Option[Set[String]] = None


  val Schema: StructType = StructType(Seq(
    StructField("project_id", StringType, nullable = false),
    StructField("feature_id", StringType, nullable = false),
    StructField("sample_id", StringType, nullable = false),
    StructField("value", LongType, nullable = false)))

  /** One counts file per project, resolved driver-side through the same
    * EndpointConnector + ProjectLocator pipeline the loaders use.
    */
  private[io] def resolve(opts: Map[String, String]): Seq[R3File] = {
    def req(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"recount3 source requires option '$k'"))
    val root = req("root")
    val organism = opts.getOrElse("organism", "human")
    val dbase = opts.getOrElse("dbase", "sra")
    val dtype = req("dtype").toLowerCase match {
      case "gene" => Dtype.Gene
      case "exon" => Dtype.Exon
      case other => throw new IllegalArgumentException(
        s"recount3 dtype must be gene or exon, got '$other'")
    }
    val annCode = opts.getOrElse("annotation", "G026")
    val ann = Annotation.all.find(_.code == annCode).getOrElse(
      throw new IllegalArgumentException(s"unknown annotation code '$annCode'"))
    val projects = req("projects").split(',').map(_.trim).filter(_.nonEmpty).toList.sorted
    require(projects.nonEmpty, "recount3 source requires at least one project id")

    val eps = new EndpointConnector(organism, root)
    val loc = ProjectLocator(eps.rootOrganismUrl, eps.dataSources, dbase, dtype,
      Some(ann), projects)
    projects.map { pid =>
      val url = loc.urls
        .find(u => u.contains(s"/$pid/") && u.endsWith(s".$pid.${ann.code}.gz"))
        .getOrElse(throw new IllegalArgumentException(
          s"no ${dtype.tag} counts URL for project $pid"))
      val path = localize(url)
      // fail at plan time on the driver, not mid-job inside a task
      if (!java.nio.file.Files.isRegularFile(Paths.get(path)))
        throw new IllegalArgumentException(
          s"recount3 counts file missing for project $pid: $path")
      R3File(pid, path)
    }
  }

  /** file:/bare-path URLs only — remote roots must be mirrored first. */
  private def localize(url: String): String = {
    val uri = URI.create(url)
    Option(uri.getScheme) match {
      case Some("file") => Paths.get(uri).toString
      case None => url
      case Some(s) => throw new IllegalArgumentException(
        s"recount3 scan reads local mirrors only (got scheme '$s'); " +
          "cache remote roots with graft.cache.Downloader first")
    }
  }

  private[io] final case class R3File(pid: String, path: String)

  private final class R3Table(files: Seq[R3File]) extends Table with SupportsRead {
    override def name(): String = s"recount3(${files.map(_.pid).mkString(",")})"
    override def schema(): StructType = Schema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new R3ScanBuilder(files)
  }

  private final class R3ScanBuilder(files: Seq[R3File])
      extends ScanBuilder with SupportsPushDownRequiredColumns
      with SupportsPushDownFilters with SupportsPushDownAggregates
      with SupportsPushDownLimit with SupportsPushDownTopN {
    private var required: StructType = Schema
    private var projectKeep: Option[Set[String]] = None
    private var sampleKeep: Option[Set[String]] = None
    private var accepted: Array[Filter] = Array.empty
    private var pushedAggs: Seq[PushedAgg] = Nil
    private var limit: Option[Int] = None
    private var topN: Option[(Seq[(String, Boolean)], Int)] = None

    /** PARTIAL limit pushdown (isPartiallyPushed stays true, so Spark
      * still applies the global limit): each reader stops decompressing
      * and parsing after `limit` rows, turning `LIMIT n` over a corpus
      * of wide counts files into an n-row read per file instead of a
      * full decompress — the interactive-peek path at 100 TB.
      */
    override def pushLimit(l: Int): Boolean = {
      limit = Some(l)
      true
    }

    /** PARTIAL top-N pushdown (`ORDER BY ... LIMIT n`, e.g. "most
      * expressed cells"): each reader keeps a bounded n-row heap over
      * the sort key while streaming its file, so a file that explodes
      * to `lines x samples` long rows hands Spark only n of them; the
      * retained global Sort+Limit (isPartiallyPushed=true) merges the
      * per-file winners. At corpus scale the full-explosion sort this
      * replaces IS the query cost. Accepted only for sort keys on
      * plain columns — anything else stays a full scan + Catalyst sort.
      * All schema columns are non-null, so either NULLS ordering is
      * vacuously honored.
      */
    override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
      val parsed = orders.toSeq.map(o => o.expression() match {
        case r: NamedReference if r.fieldNames.length == 1 &&
            Schema.fieldNames.contains(r.fieldNames.head) =>
          Some((r.fieldNames.head, o.direction() == SortDirection.DESCENDING))
        case _ => None
      })
      if (parsed.isEmpty || parsed.exists(_.isEmpty)) return false
      topN = Some((parsed.flatten, n))
      true
    }
    override def isPartiallyPushed(): Boolean = true

    override def pruneColumns(requiredSchema: StructType): Unit =
      required = requiredSchema

    private def and(cur: Option[Set[String]], vs: Set[String]): Option[Set[String]] =
      Some(cur.fold(vs)(_ intersect vs))

    /** Accepts equality/membership on the two pruning keys; those are
      * applied EXACTLY inside the scan (file skip / column skip), so they
      * are not returned for post-scan re-evaluation. Everything else is
      * left to Catalyst.
      */
    override def pushFilters(filters: Array[Filter]): Array[Filter] = {
      val rest = filters.filter {
        case EqualTo("project_id", v: String) =>
          projectKeep = and(projectKeep, Set(v)); false
        case In("project_id", vs) if vs.forall(_.isInstanceOf[String]) =>
          projectKeep = and(projectKeep, vs.map(_.asInstanceOf[String]).toSet); false
        case EqualTo("sample_id", v: String) =>
          sampleKeep = and(sampleKeep, Set(v)); false
        case In("sample_id", vs) if vs.forall(_.isInstanceOf[String]) =>
          sampleKeep = and(sampleKeep, vs.map(_.asInstanceOf[String]).toSet); false
        case _ => true
      }
      accepted = filters.diff(rest)
      rest
    }
    override def pushedFilters(): Array[Filter] = accepted

    /** Aggregate pushdown (partial: each file returns one partial row
      * and Spark merges — `supportCompletePushDown` stays false so
      * multi-file tables combine correctly):
      *   - COUNT(*): counted as `data lines x kept samples` per file
      *     WITHOUT splitting lines or materializing a row per cell — the
      *     long-format explosion never happens, so at corpus scale a
      *     count is a decompress-and-count-newlines pass;
      *   - MIN/MAX(project_id): answered from PLANNING-TIME metadata
      *     (each counts file belongs to exactly one project, known from
      *     the locator) — zero bytes of the file are read.
      * Spark only attempts aggregate pushdown when every filter was
      * consumed by the scan, and this source consumes project/sample
      * filters EXACTLY (file skip / header-column skip), so pushed
      * aggregates honor them.
      */
    override def pushAggregation(aggregation: Aggregation): Boolean = {
      def pidRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
        e match {
          case n: NamedReference => n.fieldNames.toSeq == Seq("project_id")
          case _ => false
        }
      if (aggregation.groupByExpressions.nonEmpty) return false
      val parsed = aggregation.aggregateExpressions.toSeq.map {
        case _: CountStar => Some(AggCount)
        case m: Min if pidRef(m.column) => Some(AggMinPid)
        case m: Max if pidRef(m.column) => Some(AggMaxPid)
        case _ => None
      }
      if (parsed.isEmpty || parsed.exists(_.isEmpty)) return false
      pushedAggs = parsed.flatten
      true
    }

    override def build(): Scan = {
      val kept = projectKeep.fold(files)(keep => files.filter(f => keep(f.pid)))
      if (pushedAggs.nonEmpty) new R3AggScan(kept, sampleKeep, pushedAggs)
      else {
        // a sort key pruned out of the output can't be heap-compared;
        // partial pushdown makes a full scan a correct fallback (the
        // retained global Sort+Limit sees every row). A plain first-n
        // limit would NOT be (it drops rows that belong to the top-n).
        val appliedTopN = topN.filter(_._1.forall(f => required.fieldNames.contains(f._1)))
        new R3Scan(kept, required, sampleKeep,
          if (appliedTopN.isDefined) None else limit, appliedTopN)
      }
    }
  }

  private[io] sealed trait PushedAgg
  private[io] case object AggCount extends PushedAgg
  private[io] case object AggMinPid extends PushedAgg
  private[io] case object AggMaxPid extends PushedAgg

  /** Pushed-aggregate scan: one partition per file, one partial row per
    * partition (counts need one body pass; min/max project_id need NO
    * file IO at all).
    */
  private final class R3AggScan(files: Seq[R3File],
      sampleKeep: Option[Set[String]], aggs: Seq[PushedAgg]) extends Scan with Batch {
    override def readSchema(): StructType = StructType(aggs.zipWithIndex.map {
      case (AggCount, i) => StructField(s"count_star_$i", LongType, nullable = false)
      case (AggMinPid, i) => StructField(s"min_pid_$i", StringType, nullable = false)
      case (AggMaxPid, i) => StructField(s"max_pid_$i", StringType, nullable = false)
    })
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      files.map(f => R3Partition(f.pid, f.path)).toArray
    override def createReaderFactory(): PartitionReaderFactory =
      R3AggReaderFactory(sampleKeep, aggs)
    override def description(): String = {
      val names = aggs.map {
        case AggCount => "COUNT(*)"
        case AggMinPid => "MIN(project_id)"
        case AggMaxPid => "MAX(project_id)"
      }
      s"recount3 files=${files.size} pushed=[${names.mkString(",")}] " +
        s"samples=${sampleKeep.fold("*")(_.toSeq.sorted.mkString("[", ",", "]"))}"
    }
  }

  private final case class R3AggReaderFactory(sampleKeep: Option[Set[String]],
      aggs: Seq[PushedAgg]) extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val part = p.asInstanceOf[R3Partition]
      new PartitionReader[InternalRow] {
        private var done = false
        private lazy val count: Long = {
          val reader = Readers.open(part.path)
          try {
            val line = Readers.nextLine(reader, "#")
            val keptSamples = if (line == null) 0L else {
              val header = line.split('\t')
              (1 until header.length).count(i => sampleKeep.forall(_.contains(header(i)))).toLong
            }
            var lines = 0L
            while (Readers.nextLine(reader, "#") != null) lines += 1
            lines * keptSamples
          } finally reader.close()
        }
        override def next(): Boolean = {
          if (done) return false
          done = true
          true
        }
        override def get(): InternalRow = InternalRow.fromSeq(aggs.map {
          case AggCount => count // body pass happens only if a count was asked
          case AggMinPid | AggMaxPid => UTF8String.fromString(part.pid)
        })
        override def close(): Unit = ()
      }
    }
  }

  private final class R3Scan(files: Seq[R3File], required: StructType,
      sampleKeep: Option[Set[String]], limit: Option[Int] = None,
      topN: Option[(Seq[(String, Boolean)], Int)] = None)
      extends Scan with Batch with SupportsReportPartitioning
      with SupportsRuntimeFiltering {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this

    /** RUNTIME pruning (the DataSourceV2 dynamic-partition-pruning
      * hook): when this scan joins a filtered dimension on project_id or
      * sample_id, Spark executes the dim side first and hands the
      * observed key set here BEFORE planInputPartitions —
      *   - project_id: whole files for projects the join cannot match
      *     are never opened (the static pushed filter's whole-file skip,
      *     driven by values known only at runtime);
      *   - sample_id: the readers skip parsing every unselected wide
      *     column (the static sample filter's column skip) — a join
      *     against a small sample dimension reads |kept| columns per
      *     line instead of the full width.
      */
    private var runtimeFiles: Seq[R3File] = files
    private var runtimeSamples: Option[Set[String]] = None
    // only columns surviving pruning: Spark resolves filter attributes
    // against the scan OUTPUT and fails analysis on a pruned one
    override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
      Seq("project_id", "sample_id")
        .filter(required.fieldNames.contains)
        .map(org.apache.spark.sql.connector.expressions.Expressions.column)
        .toArray
    override def filter(filters: Array[Filter]): Unit =
      filters.foreach {
        case EqualTo("project_id", v: String) =>
          runtimeFiles = runtimeFiles.filter(_.pid == v)
        case In("project_id", vs) if vs.forall(_.isInstanceOf[String]) =>
          val keep = vs.map(_.asInstanceOf[String]).toSet
          runtimeFiles = runtimeFiles.filter(f => keep(f.pid))
        case EqualTo("sample_id", v: String) =>
          runtimeSamples = Some(runtimeSamples.fold(Set(v))(_ intersect Set(v)))
        case In("sample_id", vs) if vs.forall(_.isInstanceOf[String]) =>
          val keep = vs.map(_.asInstanceOf[String]).toSet
          runtimeSamples = Some(runtimeSamples.fold(keep)(_ intersect keep))
        case _ => ()
      }

    /** The corpus layout IS a partitioning: every counts file belongs to
      * exactly one project, and each input partition reports that key
      * ([[R3Partition.partitionKey]]). Declaring it lets Spark satisfy
      * `ClusteredDistribution(project_id)` straight from storage (with
      * spark.sql.sources.v2.bucketing.enabled): a project-keyed
      * aggregation or storage-partitioned join runs with NO shuffle of
      * the long rows — at corpus scale that's the difference between a
      * metadata regroup and exchanging every cell. Only reported when
      * project_id survives column pruning (the key must be resolvable
      * against the scan output).
      */
    override def outputPartitioning(): Partitioning =
      if (required.fieldNames.contains("project_id"))
        new KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions
            .identity("project_id")),
          files.size)
      else new UnknownPartitioning(files.size)
    /** Static pushed sample set ∩ runtime sample set — the readers see
      * one effective keep-set.
      */
    private def effectiveSamples: Option[Set[String]] =
      (sampleKeep, runtimeSamples) match {
        case (Some(a), Some(b)) => Some(a intersect b)
        case (a, b) => a.orElse(b)
      }
    override def planInputPartitions(): Array[InputPartition] = {
      Recount3Source.lastPlannedFiles = runtimeFiles.map(_.pid)
      Recount3Source.lastRuntimeSamples = runtimeSamples
      runtimeFiles.map(f => R3Partition(f.pid, f.path)).toArray
    }
    override def createReaderFactory(): PartitionReaderFactory =
      R3ReaderFactory(required, effectiveSamples, limit, topN)
    // surfaced in explain() so specs (and users) can see the pruning
    override def description(): String =
      s"recount3 files=${files.size} " +
        s"samples=${sampleKeep.fold("*")(_.toSeq.sorted.mkString("[", ",", "]"))}" +
        limit.fold("")(l => s" limit=$l") +
        topN.fold("") { case (orders, n) =>
          s" topn=$n[${orders.map { case (f, d) => f + (if (d) " DESC" else "") }.mkString(",")}]"
        }
  }

  private final case class R3Partition(pid: String, path: String)
      extends InputPartition with HasPartitionKey {
    override def partitionKey(): InternalRow =
      InternalRow(UTF8String.fromString(pid))
  }

  private final case class R3ReaderFactory(required: StructType,
      sampleKeep: Option[Set[String]], limit: Option[Int] = None,
      topN: Option[(Seq[(String, Boolean)], Int)] = None)
      extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val part = p.asInstanceOf[R3Partition]
      val inner = new R3Reader(part.pid, part.path, required, sampleKeep,
        if (topN.isDefined) None else limit)
      topN.fold(inner: PartitionReader[InternalRow]) { case (orders, n) =>
        new TopNRowReader(inner, required, orders, n)
      }
    }
  }

  /** Streams one wide counts file (##-comment preamble, header row of
    * `feature_col, sample...`), emitting one long row per (line, kept
    * sample). Only the pruned `required` fields are materialized.
    */
  private final class R3Reader(pid: String, path: String, required: StructType,
      sampleKeep: Option[Set[String]], limit: Option[Int] = None)
      extends PartitionReader[InternalRow] {

    private var emitted: Long = 0L

    private val reader = Readers.open(path)
    private val pidUtf = UTF8String.fromString(pid)

    // header: sample columns to parse (post sample-pushdown)
    private val (sampleIdx: Array[Int], sampleUtf: Array[UTF8String]) = {
      val line = Readers.nextLine(reader, "#")
      if (line == null) (Array.empty[Int], Array.empty[UTF8String])
      else {
        val header = line.split('\t')
        val kept = (1 until header.length)
          .filter(i => sampleKeep.forall(_.contains(header(i))))
        (kept.toArray, kept.map(i => UTF8String.fromString(header(i))).toArray)
      }
    }

    // value producers per required field, bound once (not per row)
    private var feature: UTF8String = _
    private var parts: Array[String] = _
    private var cursor: Int = 0
    private val getters: Array[Int => Any] = required.fields.map(_.name match {
      case "project_id" => (_: Int) => pidUtf
      case "feature_id" => (_: Int) => feature
      case "sample_id" => (j: Int) => sampleUtf(j)
      case "value" => (j: Int) => parts(sampleIdx(j)).toLong
      case other => throw new IllegalStateException(s"unknown column $other")
    })

    override def next(): Boolean = {
      if (limit.exists(emitted >= _)) return false
      emitted += 1
      if (parts != null && cursor < sampleIdx.length - 1) {
        cursor += 1
        true
      } else if (sampleIdx.isEmpty) false
      else {
        val line = Readers.nextLine(reader, "#")
        if (line == null) { parts = null; false }
        else {
          parts = line.split('\t')
          feature = UTF8String.fromString(parts(0))
          cursor = 0
          true
        }
      }
    }
    override def get(): InternalRow =
      InternalRow.fromSeq(getters.toIndexedSeq.map(_(cursor)))
    override def close(): Unit = reader.close()
  }
}
