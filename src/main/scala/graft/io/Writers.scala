package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet sinks (S12 — the reference persists nothing but raw cached
  * files; parquet is our canonical tabular sink, SURVEY §2.1).
  */
object Writers {

  /** Run `body` with a fresh local temp directory (named from `prefix`)
    * for a row's written artifacts, and delete the directory when `body`
    * returns or throws, so a failure anywhere in build → write → serve
    * leaks nothing. Nothing under the directory outlives `body`: a frame
    * that reads it must be materialized (localCheckpoint) inside.
    */
  def withScratchDir[T](s: SparkSession, prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(dir) finally deleteDir(s, dir)
  }

  /** Recursively delete `dir` through the session's Hadoop filesystem. */
  def deleteDir(s: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
  }

  /** Plain parquet write. */
  def parquet(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).parquet(path)

  /** Hive-style partitioned parquet — the 100 TB layout: partition
    * columns become directories (enabling partition pruning on read);
    * `targetFileCount` repartitions by the partition keys first so each
    * partition writes few large files instead of one file per task.
    */
  def parquetPartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      targetFileCount: Int = 0,
      mode: String = "overwrite"): Unit = {
    val arranged =
      if (targetFileCount > 0)
        df.repartition(targetFileCount,
          partitionCols.map(org.apache.spark.sql.functions.col): _*)
      else df
    arranged.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)
  }

  /** Small-file compaction — the table-maintenance pass every streaming
    * or highly-parallel writer eventually needs: micro-batches and
    * 1000-task jobs each leave one file per task, and at 100 TB the
    * resulting footer/listing overhead dominates scan planning. Rewrites
    * a parquet directory into `targetFiles` files (one coalescing
    * exchange, no row changes) at `destPath`; callers swap directories
    * atomically at the catalog/manifest level, never in place.
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String,
      destPath: String,
      targetFiles: Int): Unit =
    spark.read.parquet(srcPath)
      .repartition(targetFiles)
      .write.mode("overwrite").parquet(destPath)

  /** Partition-preserving compaction — [[compact]] for Hive-layout
    * tables: an append-maintained partitioned artifact (s26/t27's
    * maintenance rows) accumulates one small file per append under each
    * partition dir, and a plain [[compact]] would flatten the layout,
    * losing the partition pruning the serving path depends on. This
    * rewrites the table via [[parquetPartitioned]] — the rows reshuffle
    * on the partition keys into `targetFileCount` files per partition,
    * the directory layout (and so pruned serving) survives, values are
    * untouched. One hash exchange over the artifact, a table-maintenance
    * job run at the cadence appends accumulate — never on the serve path.
    */
  def compactPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String,
      destPath: String,
      partitionCols: Seq[String],
      targetFileCount: Int): Unit =
    parquetPartitioned(spark.read.parquet(srcPath), destPath,
      partitionCols, targetFileCount)

  /** Z-order-clustered parquet write: range-partition + sort the rows by
    * a Morton z-value (functions.NumFns.zvalue2) so each output file
    * covers a small rectangle in BOTH clustered dimensions — parquet
    * footer min/max stats then skip whole files for a selective filter
    * on EITHER column. A linear sort clusters only its leading column
    * (every file spans the full range of the other); that difference is
    * what ZorderSpec measures. This is layout work at write time — one
    * range exchange — bought back on every subsequent selective read;
    * the standard lakehouse trade at 100 TB.
    */
  def zorderWrite(
      df: DataFrame,
      zcol: org.apache.spark.sql.Column,
      partitions: Int,
      path: String,
      mode: String = "overwrite"): Unit =
    df.withColumn("__z", zcol)
      .repartitionByRange(partitions, org.apache.spark.sql.functions.col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(mode).parquet(path)

  /** Epoch-shuffle shard writer — the p16_epoch_shuffle manifest made
    * physical: every row lands in partition `shard = h60("e{epoch}:" +
    * id) mod shards`, and rows INSIDE a shard file sit in the manifest's
    * training order (rank hash, id-tiebroken), so a trainer streams each
    * shard file sequentially with no shuffle at read time. Re-running
    * the same epoch is layout-stable (pure hash of the id); a new epoch
    * re-deals both order and shard with ONE hash shuffle + within-shard
    * sort — never a global sort, the property that holds at 100 TB.
    */
  def epochShardWrite(
      df: DataFrame,
      idCol: String,
      epoch: Int,
      shards: Int,
      path: String,
      mode: String = "overwrite"): Unit = {
    import org.apache.spark.sql.functions.{col, concat, lit, pmod}
    import graft.functions.TextFns.h60
    val rh = h60(concat(lit(s"e$epoch:"), col(idCol).cast("string")))
    // the sort leads with the partition column: the partitioned writer
    // REQUIRES rows sorted by its partition keys and would add its own
    // Sort(shard) otherwise — and the optimizer then eliminates this one
    // as redundant, destroying the training order
    df.withColumn("__rh", rh)
      .withColumn("shard", pmod(col("__rh"), lit(shards.toLong)))
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("__rh"), col(idCol))
      .drop("__rh")
      .write.mode(mode).partitionBy("shard").parquet(path)
  }

  /** Bucketed external parquet table — the CO-LOCATED JOIN layout: both
    * sides of a recurring large-large join written with the same
    * (bucket column, bucket count) land matching keys in matching
    * bucket files, so the join's exchange disappears ENTIRELY at read
    * time (the scan itself reports hash partitioning on the bucket
    * key). At 100 TB this converts every fact-fact join on the bucketed
    * key from a full-data shuffle — the single largest cost in the
    * plan — into a local per-bucket merge; the write-side repartition
    * by the bucket column keeps it to one file per bucket (otherwise
    * each task writes a file per bucket it touches: task-count × bucket
    * fan-out of small files). Bucketing metadata lives in the session
    * catalog (saveAsTable is required — a plain path write records no
    * bucket spec); the data itself is ordinary parquet at `path`.
    * ops.BucketedJoinSpec demonstrates the exchange-free join;
    * io.BucketedTableSpec pins this writer's layout + result parity.
    */
  def bucketedTable(
      df: DataFrame,
      table: String,
      path: String,
      bucketCol: String,
      buckets: Int): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartition(buckets, col(bucketCol))
      .write.mode("overwrite").format("parquet").option("path", path)
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)
  }
}
