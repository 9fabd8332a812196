package graft.plans

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The window-idiom rewrite: row_number + rn<=k must plan as TopKExec
  * (window/sort gone) exactly when the rewrite is provably safe, and
  * stay a window otherwise.
  */
class TopKRewriteSpec extends SparkSpec {
  // The rule's own session: no other session installs the rule (Bench
  // times these windows as windows), so adding it to the shared test
  // session would change how every later suite plans them. A new session
  // gets its own `experimental` lists and, from the classpath provider,
  // TopKStrategy.
  private lazy val rewriting = {
    val s = spark.newSession()
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental.extraOptimizations = Seq(TopKRewriteRule)
    s
  }
  import rewriting.implicits._

  private lazy val df = {
    val rnd = new scala.util.Random(11)
    (1 to 3000).map(i => (s"g${i % 5}", i.toLong, rnd.nextInt(9999) / 7.0))
      .toDF("grp", "id", "value").repartition(6)
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => q +: flatten(q.plan)
    case other => other +: other.children.flatMap(flatten)
  }

  private def windowTopK(k: Int) = {
    val w = Window.partitionBy("grp").orderBy(desc("value"), col("id"))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  test("row_number + rn<=k plans as TopKExec with no WindowExec") {
    val q = windowTopK(3)
    val rows = q.select("grp", "rn", "id", "value").collect()
    val nodes = flatten(q.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[TopKExec]), "expected TopKExec after rewrite")
    assert(!nodes.map(_.nodeName).exists(_.contains("Window")),
      s"window machinery should be gone; got ${nodes.map(_.nodeName)}")
    // and the answer is still the window answer (independent recompute
    // with the rule disabled via a nullable column defeating the rewrite)
    assert(rows.length == 15) // 5 groups x 3
    val got = rows.map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val expected = df.collect().toSeq
      .groupBy(_.getString(0)).toSeq.flatMap { case (g, rs) =>
        rs.sortBy(r => (-r.getDouble(2), r.getLong(1))).take(3).zipWithIndex
          .map { case (r, i) => (g, i + 1, r.getLong(1)) }
      }.toSet
    assert(got == expected)
  }

  test("unsafe shapes are NOT rewritten") {
    // ascending order: not the top-k idiom this operator implements
    val wAsc = Window.partitionBy("grp").orderBy(col("value"), col("id"))
    val asc = df.withColumn("rn", row_number().over(wAsc)).filter(col("rn") <= 2)
    asc.collect()
    assert(!flatten(asc.queryExecution.executedPlan).exists(_.isInstanceOf[TopKExec]))
    // nullable value column: row_number ranks nulls, TopKExec skips them
    val nullable = df.withColumn("value",
      when(col("id") % 97 === 0, lit(null)).otherwise(col("value")))
    val wDesc = Window.partitionBy("grp").orderBy(desc("value"), col("id"))
    val n = nullable.withColumn("rn", row_number().over(wDesc)).filter(col("rn") <= 2)
    n.collect()
    assert(!flatten(n.queryExecution.executedPlan).exists(_.isInstanceOf[TopKExec]))
    // rank used beyond a k-limit (rn == 2): not a pure top-k filter
    val eq = df.withColumn("rn", row_number().over(wDesc)).filter(col("rn") === 2)
    eq.collect()
    assert(!flatten(eq.queryExecution.executedPlan).exists(_.isInstanceOf[TopKExec]))
  }
}
