package graft

import org.apache.spark.sql.SparkSession

/** The one local session shape. Bench, Verify, the tools and the test
  * suites all build their session here, so the plans a tool prints and
  * the tests pin are the plans Bench times.
  */
object Sessions {

  /** Task threads for Bench, Verify and JobProfile: `SPARK_GRAFT_CPUS`,
    * default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A `local[cpus]` session with one shuffle partition per task thread
    * (or the JVM's running session: `getOrCreate`). Timestamps render in
    * UTC, which `queries.Tables.normalizeTs` assumes.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Let AQE coalesce post-shuffle partitions for CACHED plans too
      // (off by default). Without it, every persisted frame in the
      // iterative engines pins `shuffle.partitions`-many tiny
      // partitions and each round re-schedules all of them (measured:
      // g01 ran 52 jobs of 32-task stages over a ~500k-edge graph;
      // with the setting, node-frame stages shrink to 1-3 tasks).
      // Scale-independent: coalescing still keys on AQE's data-volume
      // rule (parallelismFirst + 1 MB min partition), so big frames
      // keep their parallelism at any core count — deliberately NOT
      // paired with coalescePartitions.parallelismFirst=false, which
      // collapsed every sub-64MB build to ONE task and serialized the
      // heavy prelude builds (measured g00 13.8 s vs 4.5 s).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
