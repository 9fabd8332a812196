package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.TextFns.h60

/** Cross-RUN exact dedup: deduplicate an arriving batch against a
  * persisted content-hash index, then fold the surviving hashes back
  * into the index — the "daily increment vs corpus" shape every
  * continuously-ingesting corpus pipeline runs (d01 is the one-shot
  * twin; Streaming.dedupStream the within-watermark twin — this is the
  * tier whose memory of the past is UNBOUNDED because it lives in
  * storage, not state).
  *
  * Semantics per batch: (1) within-batch collapse — keeper = row with
  * the smallest `idCol` per sha2(content) (d01's min-struct rule, no
  * window); (2) cross-run drop — anti-join against the index, so
  * anything ever kept before is dropped now; (3) the survivors' hashes
  * append to the index atomically AFTER materialization (the survivor
  * frame is localCheckpoint'ed first — its plan reads the index, so
  * appending before materializing would let a re-run of the plan see
  * the batch's own hashes and self-exclude).
  *
  * Scale shape: one batch-sized shuffle on the content hash (the
  * groupBy), then a hash-keyed anti-join — batch-sized probe against
  * an index-sized build. At 100 TB the index side dominates; the
  * standard mitigations compose with this operator unchanged: bucket
  * the index parquet by `__h` so the anti-join co-locates, and/or
  * take [[processWithBloom]], which prefilters the probe with a Bloom
  * bitset of the index so only possible-duplicates reach the join
  * (no false negatives = no lost duplicates).
  */
object IncrementalDedup {

  /** Process one batch; returns the surviving rows (batch schema
    * unchanged) and appends their hashes to `indexPath`.
    */
  def process(batch: DataFrame, idCol: String, textCol: String,
      indexPath: String): DataFrame = {
    val keeper = collapse(batch, idCol, textCol)
    val fresh = readIndex(batch.sparkSession, indexPath) match {
      case Some(known) => keeper.join(known, Seq("__h"), "left_anti")
      case None => keeper
    }
    commit(fresh, indexPath)
  }

  /** [[process]] with a Bloom prefilter on the index side — identical
    * output (the filter is one-sided: a hash NOT in the bitset is
    * guaranteed absent from the index, so skipping the join for it can
    * never lose a duplicate; a maybe-hit still goes through the exact
    * anti-join, so a false positive can never drop a fresh row).
    *
    * Why this is THE 100 TB shape: a year of daily runs makes the
    * index orders of magnitude larger than any day's batch, and the
    * plain anti-join re-shuffles (or at best re-scans) that full index
    * every day. Here the index collapses into an m-bit bitset ONCE per
    * run (tiny partial/final aggregate, m/8 bytes regardless of index
    * size), rides to the probe as a 1-row broadcast, and the exact
    * anti-join only ever sees the batch rows whose bits all matched —
    * at realistic duplicate rates, a small fraction of the batch.
    * Size m ≈ 10–15 bits per indexed hash to keep false-positive
    * passthrough low; the default (2^24 bits = 2 MB, k=5) covers ~1.6M
    * index entries at < 1% FP.
    */
  def processWithBloom(batch: DataFrame, idCol: String, textCol: String,
      indexPath: String, m: Long = 1L << 24, k: Int = 5): DataFrame = {
    val ss = batch.sparkSession
    val keeper = collapse(batch, idCol, textCol)
    val fresh = readIndex(ss, indexPath) match {
      case Some(known) =>
        val bloom = known
          .select(h60(col("__h")).as("h1"),
            h60(concat(lit("#"), col("__h"))).as("h2"))
          .agg(expr(s"graft_bloom(h1, h2, $m, $k)").as("__bits"))
        val probed = keeper.crossJoin(broadcast(bloom))
          .withColumn("__maybe", expr(
            s"graft_bloom_contains(__bits, graft_md5p60(__h), " +
              s"graft_md5p60(concat('#', __h)), $m, $k)"))
          .drop("__bits")
        probed.filter(!col("__maybe")).drop("__maybe")
          .unionByName(probed.filter(col("__maybe")).drop("__maybe")
            .join(known, Seq("__h"), "left_anti"))
      case None => keeper
    }
    commit(fresh, indexPath)
  }

  /** Within-batch collapse: keeper = min (id, rest...) struct per
    * content hash — same shuffle carries the multiplicity if a caller
    * ever wants it.
    */
  private def collapse(batch: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val others = batch.columns.filterNot(_ == idCol)
    batch.withColumn("__h", sha2(col(textCol).cast(StringType), 256))
      .groupBy(col("__h"))
      .agg(min(struct(col(idCol) +: others.map(col): _*)).as("r"))
      .select(col("__h") +: batch.columns.map(c => col(s"r.$c").as(c)): _*)
  }

  /** Materialize the survivors BEFORE the index append (see scaladoc),
    * then append their hashes and hand back the batch-schema frame.
    */
  private def commit(fresh: DataFrame, indexPath: String): DataFrame = {
    val survivors = fresh.localCheckpoint()
    survivors.select("__h").write.mode("append").parquet(indexPath)
    survivors.drop("__h")
  }

  private def readIndex(ss: org.apache.spark.sql.SparkSession,
      indexPath: String): Option[DataFrame] = {
    val path = new org.apache.hadoop.fs.Path(indexPath)
    val fs = path.getFileSystem(ss.sessionState.newHadoopConf())
    if (fs.exists(path)) Some(ss.read.parquet(indexPath)) else None
  }
}
