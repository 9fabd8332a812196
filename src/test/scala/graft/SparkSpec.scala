package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate reuses the one
  * JVM-wide session across suites in the forked test JVM), in the shape
  * Bench runs (graft.Sessions).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Sessions.local(4)

  private val fixtureDirs = mutable.Buffer[String]()

  /** A directory for a suite-level fixture, deleted after the suite. A
    * directory one test uses comes from `graft.io.Writers.withScratchDir`.
    */
  protected def fixtureDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    fixtureDirs += d.toString
    d
  }

  /** Writes `df` as the one parquet FILE `<dir>/<table>.parquet`, the
    * layout `graft.queries.Tables` reads.
    */
  protected def writeTableFile(df: DataFrame, dir: String, table: String): Unit = {
    val tmp = s"$dir/${table}_tmp"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, s"$table.parquet"))
    graft.io.Writers.deleteDir(spark, tmp)
  }

  /** Runs `body` and returns its value with the ids of the cached RDDs
    * it left persisted. Local-checkpoint RDDs are not counted: they
    * back the frames the graph engines return.
    */
  protected def leftPersisted[T](body: => T): (T, Set[Int]) = {
    def cached = spark.sparkContext.getPersistentRDDs
      .collect { case (id, rdd) if !rdd.isCheckpointed => id }.toSet
    val before = cached
    val out = body
    (out, cached -- before)
  }

  override protected def afterAll(): Unit =
    try fixtureDirs.foreach(graft.io.Writers.deleteDir(spark, _)) finally super.afterAll()
}
