package graft.io

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 for MatrixMarket coordinate files (SURVEY §4.2): the
  * sparse `.MM.gz` junction matrices (reference behavior:
  * accessor.py:431-432, which densifies via scipy — its scalability
  * ceiling; we keep COO long format, SURVEY §7.4.1).
  *
  * v2 instead of the former RDD text parse so the scan participates in
  * Catalyst: column pruning reaches the reader (a `select("value")`
  * parses but never allocates row/col), `spark.read.format
  * ("matrixmarket").load(paths*)` composes with the rest of the query
  * plan, and each file is an independent input partition (a .gz body is
  * one split by nature; multi-file loads parallelize across files,
  * exactly like the csv scans).
  *
  * Values are read as int64 — the junction counts the corpus stores.
  */
final class MatrixMarketSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "matrixmarket"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MatrixMarketSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new MatrixMarketSource.MMTable(MatrixMarketSource.paths(properties))
}

object MatrixMarketSource {

  val Schema: StructType = StructType(Seq(
    StructField("row", LongType, nullable = false),
    StructField("col", LongType, nullable = false),
    StructField("value", LongType, nullable = false)))

  /** DataFrameReader passes one path as "path", several as a JSON list
    * under "paths" (written by Jackson, so read back by Jackson: a path
    * may hold commas, quotes or backslashes).
    */
  private def paths(props: JMap[String, String]): Seq[String] = {
    val m = props.asScala
    val multi = m.get("paths").toSeq.flatMap(
      new ObjectMapper().readValue(_, classOf[Array[String]]).toSeq)
    val single = m.get("path").toSeq
    val all = (multi ++ single).distinct
    require(all.nonEmpty, "matrixmarket source requires at least one path")
    all.toSeq
  }

  /** Declared (rows, cols, nnz) from the first non-comment line — a
    * driver-side header peek, one stream open, no job.
    */
  def readHeader(path: String): (Long, Long, Long) = {
    val p = Readers.header(path, "%").trim.split("\\s+")
    (p(0).toLong, p(1).toLong, p(2).toLong)
  }

  private final class MMTable(paths: Seq[String]) extends Table with SupportsRead {
    override def name(): String = s"matrixmarket(${paths.mkString(",")})"
    override def schema(): StructType = Schema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new MMScanBuilder(paths)
  }

  private final class MMScanBuilder(paths: Seq[String])
      extends ScanBuilder with SupportsPushDownRequiredColumns
      with SupportsPushDownFilters
      with SupportsPushDownAggregates with SupportsPushDownLimit
      with SupportsPushDownTopN {
    private var required: StructType = Schema
    private var countStars: Int = 0
    private var limit: Option[Int] = None
    private var topN: Option[(Seq[(String, Boolean)], Int)] = None
    private var accepted: Array[Filter] = Array.empty
    private var preds: Seq[MMPred] = Nil
    override def pruneColumns(requiredSchema: StructType): Unit =
      required = requiredSchema

    /** Range/equality pushdown on any of the three long columns — the
      * junction-window slice (row BETWEEN a AND b AND col BETWEEN c AND
      * d) is the reference's primary MatrixMarket consumption
      * (accessor.py:431-438). A pushed predicate is applied EXACTLY
      * inside each reader, on the parsed longs BEFORE the InternalRow
      * materializes — a window over a big .MM.gz decompresses the file
      * (inherent to gzip) but allocates rows only for the slice. Consumed
      * filters are not returned for post-scan re-evaluation.
      */
    override def pushFilters(filters: Array[Filter]): Array[Filter] = {
      def longV(v: Any): Option[Long] = v match {
        case l: java.lang.Long => Some(l.longValue())
        case i: java.lang.Integer => Some(i.longValue())
        case s: java.lang.Short => Some(s.longValue())
        case _ => None
      }
      def tryPred(f: Filter): Option[MMPred] = f match {
        case EqualTo(a, v) if Schema.fieldNames.contains(a) =>
          longV(v).map(MMPred(Schema.fieldIndex(a), "=", _))
        case GreaterThan(a, v) if Schema.fieldNames.contains(a) =>
          longV(v).map(MMPred(Schema.fieldIndex(a), ">", _))
        case GreaterThanOrEqual(a, v) if Schema.fieldNames.contains(a) =>
          longV(v).map(MMPred(Schema.fieldIndex(a), ">=", _))
        case LessThan(a, v) if Schema.fieldNames.contains(a) =>
          longV(v).map(MMPred(Schema.fieldIndex(a), "<", _))
        case LessThanOrEqual(a, v) if Schema.fieldNames.contains(a) =>
          longV(v).map(MMPred(Schema.fieldIndex(a), "<=", _))
        case _ => None
      }
      // single tryPred pass: preds and accepted derive from the same
      // parse, so the two cannot disagree
      val parsed = filters.map(f => f -> tryPred(f))
      preds = parsed.toSeq.collect { case (_, Some(p)) => p }
      accepted = parsed.collect { case (f, Some(_)) => f }
      parsed.collect { case (f, None) => f }
    }
    override def pushedFilters(): Array[Filter] = accepted

    /** PARTIAL limit pushdown (same contract as Recount3Source): each
      * reader stops decompressing after n entries; Spark applies the
      * global limit on top.
      */
    override def pushLimit(l: Int): Boolean = {
      limit = Some(l)
      true
    }

    /** PARTIAL top-N pushdown, same contract as Recount3Source:
      * `ORDER BY ... LIMIT n` (the "heaviest junction cells" query)
      * keeps a bounded n-row heap per file instead of emitting every
      * coordinate entry; the retained global Sort+Limit merges. All
      * three columns are non-null longs, so any NULLS ordering is
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

    /** COUNT(*) never touches the file body: the MatrixMarket size
      * header DECLARES nnz (one entry per data line), so a pushed count
      * is a driver-free, O(header) read per file — at corpus scale a
      * count over thousands of .MM.gz files decompresses nothing.
      * Partial pushdown (each file reports its nnz; Spark sums).
      * REFUSED when a filter was consumed: the header declares the
      * whole file's nnz, not the slice's.
      */
    override def pushAggregation(aggregation: Aggregation): Boolean = {
      val ok = accepted.isEmpty && aggregation.groupByExpressions.isEmpty &&
        aggregation.aggregateExpressions.nonEmpty &&
        aggregation.aggregateExpressions.forall(_.isInstanceOf[CountStar])
      if (ok) countStars = aggregation.aggregateExpressions.length
      ok
    }

    override def build(): Scan =
      if (countStars > 0) new MMCountScan(paths, countStars)
      else {
        // a pruned-out sort key can't be heap-compared; the full scan is
        // a correct partial-pushdown fallback (a plain first-n limit
        // would not be — it drops rows that belong to the top-n)
        val appliedTopN = topN.filter(_._1.forall(f => required.fieldNames.contains(f._1)))
        new MMScan(paths, required,
          if (appliedTopN.isDefined) None else limit, appliedTopN, preds)
      }
  }

  /** One pushed comparison on column `idx` of the (row, col, value)
    * triple, evaluated on the parsed long before row materialization.
    */
  private final case class MMPred(idx: Int, op: String, v: Long) {
    def eval(x: Long): Boolean = op match {
      case "=" => x == v
      case ">" => x > v
      case ">=" => x >= v
      case "<" => x < v
      case "<=" => x <= v
    }
    override def toString: String = s"${Schema.fieldNames(idx)} $op $v"
  }

  private final class MMScan(paths: Seq[String], required: StructType,
      limit: Option[Int] = None,
      topN: Option[(Seq[(String, Boolean)], Int)] = None,
      preds: Seq[MMPred] = Nil) extends Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      paths.map(MMPartition.apply).toArray
    override def createReaderFactory(): PartitionReaderFactory =
      MMReaderFactory(required, limit, topN, preds)
    override def description(): String =
      s"matrixmarket files=${paths.size}" + limit.fold("")(l => s" limit=$l") +
        topN.fold("") { case (orders, n) =>
          s" topn=$n[${orders.map { case (f, d) => f + (if (d) " DESC" else "") }.mkString(",")}]"
        } +
        (if (preds.isEmpty) "" else s" PushedFilters: [${preds.mkString(", ")}]")
  }

  /** Pushed-COUNT(*) scan: one row per file holding the header's nnz. */
  private final class MMCountScan(paths: Seq[String], nCounts: Int)
      extends Scan with Batch {
    override def readSchema(): StructType = StructType(
      (0 until nCounts).map(i => StructField(s"count_star_$i", LongType, nullable = false)))
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      paths.map(MMPartition.apply).toArray
    override def createReaderFactory(): PartitionReaderFactory =
      MMCountReaderFactory(nCounts)
    override def description(): String =
      s"matrixmarket files=${paths.size} pushed=[COUNT(*) via nnz header]"
  }

  private final case class MMCountReaderFactory(nCounts: Int)
      extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new PartitionReader[InternalRow] {
        private val path = p.asInstanceOf[MMPartition].path
        private var done = false
        private var nnz = 0L
        override def next(): Boolean = {
          if (done) return false
          nnz = readHeader(path)._3
          done = true
          true
        }
        override def get(): InternalRow =
          InternalRow.fromSeq(Seq.fill(nCounts)(nnz))
        override def close(): Unit = ()
      }
  }

  private final case class MMPartition(path: String) extends InputPartition

  private final case class MMReaderFactory(required: StructType,
      limit: Option[Int] = None,
      topN: Option[(Seq[(String, Boolean)], Int)] = None,
      preds: Seq[MMPred] = Nil)
      extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val inner = new MMReader(p.asInstanceOf[MMPartition].path, required,
        if (topN.isDefined) None else limit, preds)
      topN.fold(inner: PartitionReader[InternalRow]) { case (orders, n) =>
        new TopNRowReader(inner, required, orders, n)
      }
    }
  }

  /** Streams one file: skips %-comments and the size header, emits one
    * InternalRow per coordinate entry, materializing only the pruned
    * columns.
    */
  private final class MMReader(path: String, required: StructType,
      limit: Option[Int] = None,
      preds: Seq[MMPred] = Nil) extends PartitionReader[InternalRow] {
    // index of each required column in the (row, col, value) triple
    private val fieldIdx: Array[Int] =
      required.fields.map(f => Schema.fieldIndex(f.name))
    private val predArr: Array[MMPred] = preds.toArray
    private val reader = Readers.open(path)
    private var headerSkipped = false
    private var emitted = 0L
    private var current: InternalRow = _

    override def next(): Boolean = {
      if (limit.exists(emitted >= _)) { current = null; return false }
      // loop, not recursion: a pushed filter may skip millions of
      // consecutive entries and must not grow the stack doing it
      while (true) {
        val line = Readers.nextLine(reader, "%")
        if (line == null) { current = null; return false }
        if (!headerSkipped) {
          headerSkipped = true // the size line is metadata, not data
        } else {
          val p = line.trim.split("\\s+")
          // pushed predicates run on the parsed longs BEFORE the row
          // materializes — a filtered-out entry allocates nothing
          var ok = true
          var i = 0
          while (ok && i < predArr.length) {
            ok = predArr(i).eval(p(predArr(i).idx).toLong)
            i += 1
          }
          if (ok) {
            current = InternalRow.fromSeq(
              fieldIdx.toIndexedSeq.map(i => p(i).toLong))
            emitted += 1 // counts emitted DATA rows only
            return true
          }
        }
      }
      false // unreachable
    }
    override def get(): InternalRow = current
    override def close(): Unit = reader.close()
  }
}
