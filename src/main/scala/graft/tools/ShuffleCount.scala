package graft.tools

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.SparkEntry

/** Print the static shuffle-exchange count of each query's physical
  * plan (pre-AQE) under the PlanBudgetSpec environment (local[4],
  * sf0.001) — the numbers PlanBudgetSpec pins, and the number a new
  * row's budget pin comes from.
  * Usage: runMain graft.tools.ShuffleCount [sfDir] [q1,q2,...]
  * (no name list: every query). A row whose plan fails prints
  * `ERR <exception>: <message>`, and the run then exits 1.
  */
object ShuffleCount {

  /** Static exchange count of a physical-plan string: the number of
    * DISTINCT `Exchange` plan objects (by plan_id), not of printed
    * mentions. The tree string reprints the same exchange many times —
    * a memoized frame's first-build plan nests inside every consumer's
    * `InMemoryRelation` (and inside other memo builds), and AQE prints
    * each node again in its `== Initial Plan ==` section — so mention
    * counting multiplies one real shuffle by its print count (observed:
    * one repartition added to the shingle build inflated d02's mention
    * count 16 → 96 while adding exactly 1 real exchange). Distinct
    * plan_ids match runtime truth: each planned exchange object once,
    * one-time memo-build exchanges included once. `ReusedExchange`
    * nodes are excluded as before (prefix guard), and any Exchange line
    * without a plan_id (defensive: formats vary) counts per mention.
    */
  def count(planStr: String): Int = {
    val exch = raw"(^|[\s\-:+])Exchange ([^\n]*)".r
    val id = raw"\[plan_id=(\d+)\]".r
    val ids = scala.collection.mutable.Set.empty[String]
    var noId = 0
    exch.findAllMatchIn(planStr).foreach { m =>
      id.findFirstMatchIn(m.group(2)) match {
        case Some(i) => ids += i.group(1)
        case None => noId += 1
      }
    }
    ids.size + noId
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.lift(1).map(_.split(",").map(_.trim).toSet)
    val spark = graft.Sessions.local(4)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => names.forall(_.contains(name)) }
    val failed = selected.count { case (name, fn) =>
      try {
        // exchanges are inserted by EnsureRequirements during plan
        // preparation, so count on executedPlan (string form: AQE wraps
        // the tree and hides children from collect())
        val planStr = fn(spark, dir).queryExecution.executedPlan.toString
        val n = count(planStr)
        println(s"[shuffles] $name $n")
        false
      } catch {
        case e: Throwable =>
          println(s"[shuffles] $name ERR ${e.getClass.getSimpleName}: ${e.getMessage}")
          true
      }
    }
    spark.stop()
    // a failed row has no count to compare, so the run as a whole fails
    if (failed > 0) sys.exit(1)
  }
}
