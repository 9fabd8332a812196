package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The round-loop lifecycle of the iterative graph engines, in one
  * place: [[roundLoop]] persists the caller-shaped edge list, counts
  * it, runs the loop under the input-sized session conf, and releases
  * the edge list however the loop ends.
  *
  * Each round of CC / PageRank / LPA / BFS / SSSP / k-core / HITS
  * materializes a NODE-SCALE frame through a fixed-shape plan (one
  * equi-join against the persisted edge list + one keyed aggregate).
  * Two session defaults are wrong for that loop, at any scale:
  *
  *   - AQE re-plans and re-launches every query stage of every
  *     micro-action as its own job. Measured at sf0.1 (r13,
  *     tools.JobProfile): d19's CC+PageRank rounds ran 50 jobs under
  *     AQE vs 23 without, with job wall ~2 s either way and the rest
  *     pure driver re-planning (9.2 s vs 3.6 s total). AQE buys
  *     nothing here because the per-round plan SHAPES are fixed and
  *     the join strategies are already explicit (broadcast hints on
  *     bounded sides, repartition(src) on the persisted edge list).
  *   - The static `spark.sql.shuffle.partitions` (sized for the
  *     corpus-scale queries) is far too wide for per-round exchanges:
  *     with AQE's coalescing gone, every round scheduled
  *     partitions-many near-empty tasks (measured: m05's 9 CC rounds
  *     ran ~113 tasks/round over a 3k-pair graph).
  *
  * The loop body therefore runs with AQE off and a partition count
  * derived FROM THE INPUT SIZE (guide §2: scale-adaptive partitioning,
  * never a constant tuned for one deployment): ceil(inputRows /
  * [[RowsPerPartition]]), clamped to [1, the session's
  * shuffle.partitions] — so a toy graph runs 1-2-task rounds, while at
  * 100 TB the clamp keeps the session's production width. The toggle
  * is a set/restore around the body (graft.SessionConf.scoped).
  */
object IterConf {

  /** ~64k pair/label rows ≈ 1-2 MB per post-shuffle partition — the
    * same floor AQE's coalescer applies
    * (spark.sql.adaptive.coalescePartitions.minPartitionSize = 1 MB).
    * Round frames are rescheduled EVERY round, so the per-task
    * scheduling overhead dominates long before the scan-advisory
    * 100 MB+ sizing does; measured at sf0.1: 1M rows/partition ran the
    * 1.1M-edge trade graph's rounds 2-wide and cost g01/g02/g07 ~+1.5 s
    * each vs this floor, while tiny pair graphs (d19/m05, ≤ 10k pairs)
    * run 1-wide either way.
    */
  val RowsPerPartition: Long = 65536L

  /** Run a round loop over `edges`, shaped by the caller (projection,
    * src-partitioning, symmetrization). The frame is persisted and
    * counted OUTSIDE the scoped conf, so its one corpus-scale exchange
    * keeps AQE; `body` gets the persisted frame and its row count and
    * runs under the conf that count sizes. The frame is released when
    * `body` returns or throws — results must not read it lazily, which
    * every engine guarantees by returning checkpointed frames.
    */
  def roundLoop[T](edges: DataFrame)(body: (DataFrame, Long) => T): T =
    persisted(edges) { e =>
      val n = e.count()
      scoped(e.sparkSession, n)(body(e, n))
    }

  /** Persist `df` for the span of `body`, releasing it when `body`
    * returns or throws.
    */
  def persisted[T](df: DataFrame)(body: DataFrame => T): T = {
    val p = df.persist()
    try body(p) finally p.unpersist()
  }

  private def scoped[T](s: SparkSession, inputRows: Long)(body: => T): T = {
    val sessionParts = s.conf.getOption("spark.sql.shuffle.partitions")
      .flatMap(p => scala.util.Try(p.toInt).toOption)
      .getOrElse(s.sparkContext.defaultParallelism)
    val p = math.max(1L,
      math.min(sessionParts.toLong,
        (inputRows + RowsPerPartition - 1) / RowsPerPartition)).toInt
    graft.SessionConf.scoped(s, Map(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> p.toString))(body)
  }
}
