package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Config(
    workload: String,
    seconds: Double,
    trace: Boolean,
    cpus: Int,
    work: Path,
    tables: TableSet,
    streamTables: TableSet,
    mirror: Path,
    result: Path)

/** A table directory with its oracle fingerprints (query -> fingerprint). */
final case class TableSet(dir: String, fingerprints: Map[String, String])

object Config {
  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    // fingerprints.json holds one map of query -> fingerprint per dataset
    val fps = kv.get("fingerprints").map(p => Json.readMap(Paths.get(p))).getOrElse(Map.empty)
    def tables(dataKey: String, datasetKey: String): TableSet = TableSet(
      kv.getOrElse(dataKey, ""),
      kv.get(datasetKey).map(d => fps(d).asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> v.toString }).getOrElse(Map.empty))
    val tbl = tables("data", "dataset")
    Config(req("workload"), req("seconds").toDouble, req("trace") == "1",
      req("cpus").toInt, Paths.get(req("work")), tbl,
      if (kv.contains("stream-data")) tables("stream-data", "stream-dataset") else tbl,
      Paths.get(kv.getOrElse("mirror", ".")), Paths.get(req("result")))
  }
}

final case class StepResult(name: String, secs: Double, ok: Boolean, error: String)

/** The benchmark harness: one process, one workload. It sets up once
  * (session, table footers, warm-up), timed from JVM start, then runs
  * passes of the workload's steps as one closed-loop client until
  * `--seconds` have passed. Each step's call is timed; its output is
  * checked after the timer stops, and a failed or wrong step is recorded
  * as failed and its time is not reported. With `--trace 1` the passes
  * run with the benchmark's listeners registered, and every span goes to
  * the result file.
  *
  * Usage: perfbench.Main --workload W --seconds S --trace 0|1 --cpus N
  *   --work DIR --result FILE [--mirror DIR]
  *   [--fingerprints FILE --data DIR --dataset KEY [--stream-data DIR --stream-dataset KEY]]
  */
object Main {
  private def now(): Long = System.nanoTime()

  def session(cfg: Config): SparkSession = {
    // the session shape graft.Bench and graft.Verify use
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cpus}]")
      .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cfg.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    val workload = Workload(cfg.workload, cfg)
    val runId = s"${cfg.workload}-${System.currentTimeMillis()}"

    // ---- set-up, timed from JVM start to the first pass ----
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val start = now() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    val tb = now()
    val spark = session(cfg)
    val tf = now()
    workload.footers(spark)
    warmup(spark)
    workload.warmup(spark)
    val te = now()
    val setup = Map("setup_s" -> (te - start) / 1e9, "build_s" -> (tf - tb) / 1e9,
      "warmup_s" -> (te - tf) / 1e9)

    // ---- passes ----
    val tracer = if (cfg.trace) Some(new Tracer(spark, runId)) else None
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var passNo = 0
    def runPass(): Unit = {
      passNo += 1
      val pname = s"pass.$passNo"
      workload.beforePass(spark)
      val notes = mutable.LinkedHashMap.empty[String, Double]
      val steps = workload.steps(spark, notes)
      val passStart = System.currentTimeMillis()
      val results = steps.map { st =>
        st.prep()
        notes.clear()
        tracer.foreach(_.open())
        val t0 = now()
        val wall0 = System.currentTimeMillis()
        val out = try Right(st.run()) catch { case e: Throwable => Left(e) }
        val t1 = now()
        val wall1 = System.currentTimeMillis()
        val err = out match {
          case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
          case Right(v) => try st.check(v) catch {
            case e: Throwable => Some(s"check failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
        tracer.foreach(_.close(st.name, wall0, wall1, pname, notes.toMap))
        err.foreach(m => System.err.println(s"[perfbench] FAIL ${st.name}: ${m.take(300)}"))
        StepResult(st.name, (t1 - t0) / 1e9, err.isEmpty, err.getOrElse(""))
      }
      val wall = results.map(_.secs).sum
      tracer.foreach(_.span(pname, passStart, System.currentTimeMillis(), runId,
        Map("wall_s" -> wall)))
      passes += Map(
        "pass" -> passNo, "wall_s" -> wall,
        "ok" -> results.forall(_.ok),
        "steps" -> results.map(r => Map("name" -> r.name, "secs" -> r.secs, "ok" -> r.ok,
          "error" -> r.error)))
    }

    val tp = now()
    tracer.foreach(_.register())
    while (passes.isEmpty || (now() - tp) / 1e9 < cfg.seconds) runPass()
    tracer.foreach(_.unregister())

    val result = Map(
      "workload" -> cfg.workload,
      "run" -> runId,
      "cores" -> cfg.cpus,
      "setup" -> setup,
      "passes" -> passes,
      "peak_rss_mb" -> Main.peakRssMb(),
      "spans" -> tracer.map(_.spans.map(s => Map("name" -> s.name, "start_ms" -> s.start,
        "end_ms" -> s.end, "parent" -> s.parent, "run" -> s.run, "counters" -> s.counters)))
        .getOrElse(Nil))
    spark.stop()
    Files.writeString(cfg.result, Json.write(result))
  }

  /** Generic warm-up: one query through shuffle, aggregate, join and sort,
    * so the first timed pass does not also pay for JIT-compiling the
    * engine's common code paths. Independent of every workload's data.
    */
  def warmup(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val keys = spark.range(0, 97).toDF("k")
    spark.range(0, 200000)
      .select((col("id") % 97).as("k"), col("id").as("v"), col("id").cast("string").as("s"))
      .groupBy("k").agg(sum("v"), count(lit(1)), max("s"))
      .join(keys, "k").orderBy(col("k").desc).collect()
  }

  /** The process's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
