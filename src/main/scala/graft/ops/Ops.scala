package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Model

/** Reusable relational ops — the §2 operator inventory as composable
  * DataFrame functions. Each collapses a hand-written reference routine
  * into (usually) one Spark call; citations point at the behavior being
  * reproduced, not code being ported.
  */
object Ops {

  /** Column by exact name (backtick-quoted so names containing dots — e.g.
    * `star.all_mapped_reads` — resolve as columns, not struct paths).
    */
  private def qcol(name: String): Column = col(s"`$name`")

  /** Union with schema reconciliation: missing columns null-filled with
    * the peer's dtype, result projected to sorted common column order
    * (accessor.py:181-207 `_add_missing_columns` + vertical concat).
    * `unionByName(allowMissingColumns=true)` does the null-fill + dtype
    * work; the sorted projection reproduces the reference's deterministic
    * column order.
    */
  def unionWithMissing(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionWithMissing of zero frames")
    sortColumns(dfs.reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  /** `df` projected to its columns in sorted name order. */
  def sortColumns(df: DataFrame): DataFrame =
    df.select(df.columns.sorted.map(qcol).toIndexedSeq: _*)

  /** Plain vertical union of same-schema frames (pl.concat how="vertical",
    * accessor.py:337, 453).
    */
  def unionAll(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionAll of zero frames")
    dfs.reduce(_.unionByName(_))
  }

  /** Aligned outer concat (pl.concat how="align", accessor.py:388): full
    * outer join of frames on their shared key column(s), result ordered
    * by the key — polars' "align" sorts by the join key.
    */
  def alignConcat(dfs: Seq[DataFrame], key: Seq[String]): DataFrame = {
    require(dfs.nonEmpty, "alignConcat of zero frames")
    dfs.reduce(_.join(_, key, "full_outer")).orderBy(key.map(col): _*)
  }

  /** N-way inner equi-join on a composite key, folding left
    * (reduce + join on=..., accessor.py:491-499). Small per-project
    * metadata frames hash-join (broadcast under AQE thresholds).
    */
  def innerJoinAll(dfs: Seq[DataFrame], key: Seq[String] = Model.MetadataJoinKey): DataFrame = {
    require(dfs.nonEmpty, "innerJoinAll of zero frames")
    dfs.reduce(_.join(_, key, "inner"))
  }

  /** Value replacement with pass-through of unmatched values
    * (pl.replace, utils.py:6-9) as a when-chain.
    */
  def replaceValues(c: Column, mapping: Seq[(String, String)]): Column =
    mapping.foldLeft(Option.empty[Column]) { case (acc, (from, to)) =>
      Some(acc.fold(when(c === from, to))(_.when(c === from, to)))
    }.fold(c)(_.otherwise(c))

  /** Organism normalization (replace_organism, utils.py:6-9; applied at
    * accessor.py:339, 512).
    */
  def replaceOrganism(df: DataFrame): DataFrame =
    df.withColumn("organism", replaceValues(col("organism"),
      Seq("Homo sapiens" -> "human", "Mus musculus" -> "mouse")))

  /** Exon composite-ID split: `chrom|start|end|strand` first column into
    * four leading columns, source column dropped (accessor.py:548-565).
    */
  def exonIdSplit(df: DataFrame, idCol: String): DataFrame = {
    val parts = split(col(idCol), "\\|")
    val withFields = Model.ExonIdFields.zipWithIndex.foldLeft(df) {
      case (d, (f, i)) => d.withColumn(f, parts.getItem(i))
    }
    val rest = df.columns.filterNot(_ == idCol).toSeq
    withFields.select((Model.ExonIdFields ++ rest).map(qcol): _*)
  }

  /** Long → wide pivot with an explicit column-value list (accessor.py:
    * 431-438 densify; explicit values skip Spark's extra distinct job).
    */
  def pivotWide(long: DataFrame, rowKey: String, colKey: String,
      valueCol: String, colValues: Seq[String]): DataFrame =
    long.groupBy(rowKey)
      .pivot(colKey, colValues)
      .sum(valueCol)
      .na.fill(0, colValues)
}
