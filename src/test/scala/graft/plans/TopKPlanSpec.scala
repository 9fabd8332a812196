package graft.plans

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GraftExtensions, SparkSpec}

/** The custom plan-operator stack: TopKPerGroup must (1) produce exactly
  * the window-function answer, (2) plan as partial TopKExec -> exchange
  * -> final TopKExec with no WindowExec/full sort, (3) bound the rows
  * that cross the exchange to k per (group, input partition).
  */
class TopKPlanSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = {
    val rnd = new scala.util.Random(7)
    (1 to 5000).map { i =>
      (s"g${i % 7}", i.toLong, rnd.nextInt(100000) / 10.0)
    }.toDF("grp", "id", "value").repartition(8)
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => q +: flatten(q.plan)
    case other => other +: other.children.flatMap(flatten)
  }

  test("matches the window-function top-k exactly") {
    val got = TopKPlan.topKPerGroup(df, Seq("grp"), "value", "id", 3)
      .select("grp", "rn", "id", "value")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val w = Window.partitionBy("grp").orderBy(desc("value"), col("id"))
    val expected = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("grp", "rn", "id", "value")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expected)
    assert(got.size == 21) // 7 groups x 3
  }

  test("plans as partial TopKExec -> exchange -> final TopKExec, no window/sort") {
    val out = TopKPlan.topKPerGroup(df, Seq("grp"), "value", "id", 3)
    out.collect() // materialize so AQE finalizes the plan
    val nodes = flatten(out.queryExecution.executedPlan)
    val topks = nodes.collect { case t: TopKExec => t }
    assert(topks.map(_.partial).sorted == Seq(false, true),
      s"expected one partial and one final TopKExec, got ${topks}")
    assert(nodes.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "expected a shuffle between partial and final")
    val s = nodes.mkString("\n")
    assert(!s.contains("WindowExec"), "no window operator expected")
  }

  test("k larger than the group and singleton groups") {
    val tiny = Seq(("a", 1L, 5.0), ("a", 2L, 7.0), ("b", 3L, 1.0))
      .toDF("grp", "id", "value")
    val got = TopKPlan.topKPerGroup(tiny, Seq("grp"), "value", "id", 10)
      .select("grp", "rn", "id")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == Set(("a", 1, 2L), ("a", 2, 1L), ("b", 1, 3L)))
  }

  test("tie-break: equal values rank by ascending tie column") {
    val ties = Seq(("g", 1L, 9.0), ("g", 2L, 9.0), ("g", 3L, 9.0), ("g", 4L, 1.0))
      .toDF("grp", "id", "value")
    val got = TopKPlan.topKPerGroup(ties, Seq("grp"), "value", "id", 3)
      .select("rn", "id").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got == Set((1, 1L), (2, 2L), (3, 3L)))
  }

  test("partial TopKExec fuses into whole-stage codegen and agrees with interpreted") {
    // a codegen bug must fail the test, never silently fall back
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val out = TopKPlan.topKPerGroup(df, Seq("grp"), "value", "id", 3)
        .select("grp", "rn", "id", "value")
      val got = out.collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      val nodes = flatten(out.queryExecution.executedPlan)
      val fusedPartial = nodes.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }.exists(w => flatten(w.child).exists {
        case t: TopKExec => t.partial
        case _ => false
      })
      assert(fusedPartial, s"partial TopKExec not inside WholeStageCodegen:\n" +
        out.queryExecution.executedPlan)
      // the final side fuses too: post-exchange InputAdapter -> heap ->
      // generated ranked-row stream
      val fusedFinal = nodes.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }.exists(w => flatten(w.child).exists {
        case t: TopKExec => !t.partial
        case _ => false
      })
      assert(fusedFinal, s"final TopKExec not inside WholeStageCodegen:\n" +
        out.queryExecution.executedPlan)

      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interp = TopKPlan.topKPerGroup(df, Seq("grp"), "value", "id", 3)
        .select("grp", "rn", "id", "value").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == interp)
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("group cap: bounded partial memory, pass-through rows, same answer") {
    // cap=2 with 7 groups: most groups' rows bypass the heaps and
    // shuffle unfiltered — result must be identical to uncapped.
    // codegen fallback disabled: the capped partial FUSES (the
    // pass-through rows land in the spillable array, not mid-stream)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val capped = TopKPlan.topKPerGroup(df, Seq("grp"), "value", "id", 3,
          maxPartialGroups = 2)
        .select("grp", "rn", "id", "value")
      val got = capped.collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      val uncapped = TopKPlan.topKPerGroup(df, Seq("grp"), "value", "id", 3,
          maxPartialGroups = Int.MaxValue)
        .select("grp", "rn", "id", "value").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == uncapped)
      // pass-through actually engaged (5 of 7 groups per partition bypass)
      val nodes = flatten(capped.queryExecution.executedPlan)
      val partials = nodes.collect { case t: TopKExec if t.partial => t }
      assert(partials.nonEmpty)
      val passed = partials.map(_.metrics("numPassThrough").value).sum
      assert(passed > 0, "expected pass-through rows under the group cap")
      // the capped partial still fuses into whole-stage codegen
      assert(partials.head.supportCodegen)
      val fusedPartial = nodes.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }.exists(w => flatten(w.child).exists {
        case t: TopKExec => t.partial
        case _ => false
      })
      assert(fusedPartial, s"capped partial TopKExec not inside WholeStageCodegen:\n" +
        capped.queryExecution.executedPlan)
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("group cap spill path: forced disk spill, identical answer") {
    // shrink the pass-through array's in-memory threshold so the
    // bypassed rows actually SPILL to disk, and compare against the
    // uncapped answer — the memory bound holds without losing rows
    spark.conf.set("spark.sql.windowExec.buffer.in.memory.threshold", "4")
    spark.conf.set("spark.sql.windowExec.buffer.spill.threshold", "8")
    try {
      val got = TopKPlan.topKPerGroup(df, Seq("grp"), "value", "id", 3,
          maxPartialGroups = 1)
        .select("grp", "rn", "id", "value").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      val uncapped = TopKPlan.topKPerGroup(df, Seq("grp"), "value", "id", 3,
          maxPartialGroups = Int.MaxValue)
        .select("grp", "rn", "id", "value").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == uncapped)
    } finally {
      spark.conf.unset("spark.sql.windowExec.buffer.in.memory.threshold")
      spark.conf.unset("spark.sql.windowExec.buffer.spill.threshold")
    }
  }

  test("default cap comes from the session conf") {
    spark.conf.set(TopKPlan.CapConf, "2")
    try {
      val out = TopKPlan.topKPerGroup(df, Seq("grp"), "value", "id", 3)
      out.collect()
      val partials = flatten(out.queryExecution.executedPlan)
        .collect { case t: TopKExec if t.partial => t }
      assert(partials.head.maxPartialGroups == 2)
      assert(partials.map(_.metrics("numPassThrough").value).sum > 0)
    } finally {
      spark.conf.unset(TopKPlan.CapConf)
    }
  }

  test("type validation and extensions hook") {
    assertThrows[IllegalArgumentException](
      TopKPlan.topKPerGroup(df, Seq("grp"), "nope", "id", 3))
    intercept[IllegalArgumentException](
      TopKPlan.topKPerGroup(df, Seq("grp"), "id", "id", 3)) // long, not double
    // A new session has a fresh function registry and its own
    // experimental lists; with no register call, all it resolves comes
    // from the classpath provider.
    val fresh = spark.newSession()
    GraftExtensions.functions.foreach { case (name, _) =>
      assert(fresh.catalog.functionExists(name), s"$name is not installed")
    }
    val vecs = fresh.createDataFrame(Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0)), (3L, Array(0.6, 0.8))))
      .toDF("vec_id", "e")
    val asg = graft.ops.KMeans.assign(vecs, graft.ops.KMeans.fit(vecs, 2, 2))
    assert(asg.count() == 3)
    val top = TopKPlan.topKPerGroup(fresh.createDataFrame(Seq(
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 3L, 3.0))).toDF("grp", "id", "value"),
      Seq("grp"), "value", "id", 1)
    top.collect()
    assert(flatten(top.queryExecution.executedPlan).exists(_.isInstanceOf[TopKExec]))
    // the provider leaves the row_number rewrite out: a window stays a window
    val w = Window.partitionBy("grp").orderBy(desc("value"), col("id"))
    val windowed = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    windowed.collect()
    val nodes = flatten(windowed.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[WindowExec]), nodes.map(_.nodeName))
    assert(!nodes.exists(_.isInstanceOf[TopKExec]))
  }
}
