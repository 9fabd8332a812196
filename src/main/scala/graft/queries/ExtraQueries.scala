package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Coverage beyond the reference's own operator set (SURVEY §2.3/§2.4
  * "absent" rows + §2.7 date/JSON notes): semi/anti joins, intersect/
  * except, tumbling windows, date part aggregation, schema'd JSON
  * parsing, rollup, bucketed histograms, unpivot. Each with a DuckDB
  * oracle and the same determinism rules as CoreQueries.
  */
object ExtraQueries {

  import graft.functions.NumFns.round6
  import graft.functions.TextFns.h60

  private def sumMoney(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  private val DayNs = 86400L * 1000 * 1000 * 1000

  /** Session-scoped memo of x20's on-disk .MM.gz artifact (one per
    * (session, dir) — the ADVICE r10 fix: each invocation used to cut a
    * fresh temp dir, unbounded growth in a long-lived server session).
    * The artifact is immutable once written (the returned frame reads it
    * lazily), so reuse is safe; dirs are reclaimed at JVM shutdown, or on
    * evict.
    *
    * CONTRACT: x20 frames read the on-disk artifact LAZILY (that laziness
    * is the row's point — pushdown happens at action time), so callers
    * must not hold a returned x20 frame across an evict of its
    * (session, dir): evict deletes the artifact's directory immediately
    * and a later action on such a frame fails with file-not-found.
    * Sessions that need stale-frame safety should skip evict and rely on
    * the JVM-shutdown reclamation (deleteOnExit is registered at build).
    */
  private[queries] val mmMemo = Memo[String] { (s, mm) =>
    try graft.io.Writers.deleteDir(s, new org.apache.hadoop.fs.Path(mm).getParent.toString)
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Build (or serve) the memoized x20 .MM.gz artifact for (session, dir). */
  private[queries] def mmArtifact(s: SparkSession, dir: String): String =
    mmMemo(s, dir, "mm_artifact") {
      // persisted: the frame feeds both the 1-row dims aggregate and
      // the body write — without it the lineitem aggregation runs twice
      val cells = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("row"),
          col("l_linenumber").cast(LongType).as("col"),
          col("l_quantity").cast(LongType).as("value"))
        .groupBy("row", "col").agg(sum("value").as("value"))
        .persist()
      val Seq(maxR, maxC, nnz) = cells
        .agg(max("row"), max("col"), count(lit(1)))
        .collect().head.toSeq.map(_.asInstanceOf[Long])
      val tmp = java.nio.file.Files.createTempDirectory("x20_mm").toString
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sessionState.newHadoopConf())
        .deleteOnExit(new org.apache.hadoop.fs.Path(tmp))
      val header = s.range(1).select(lit(0L).as("ord"),
        lit("%%MatrixMarket matrix coordinate integer general").as("line"))
        .unionByName(s.range(1).select(lit(1L).as("ord"),
          lit(s"$maxR $maxC $nnz").as("line")))
      val body = cells.select((lit(2L) + col("row") * (maxC + 1) + col("col")).as("ord"),
        concat_ws(" ", col("row"), col("col"), col("value")).as("line"))
      header.unionByName(body).repartition(1).sortWithinPartitions("ord")
        .select("line")
        .write.option("compression", "gzip").text(s"$tmp/txt")
      val part = new java.io.File(s"$tmp/txt").listFiles()
        .filter(_.getName.endsWith(".gz")).head
      val out = s"$tmp/junction.MM.gz"
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(out))
      cells.unpersist()
      out
    }

  /** x00: the memoized x20 artifact, timed as its own entry so the
    * memoization cannot silently hide the write/encode cost from the
    * min-of-N per-query numbers.
    */
  val prelude: Prelude = Prelude("x00_mm_prelude", Set("x20_mm_window"), Seq(mmMemo),
    (s, dir) => Seq("mm_artifact" -> (() => { mmArtifact(s, dir); () })))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // left-semi: the scale-safe rewrite of the reference's
    // isin-against-collected-list membership filters (SURVEY §2.3)
    "x01_semi_join" -> { (s, dir) =>
      val bigSpenders = Tables(s, dir, "orders").filter(col("o_totalprice") > 400000)
      Tables(s, dir, "customer")
        .join(bigSpenders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // left-anti: the complement
    "x02_anti_join" -> { (s, dir) =>
      val bigSpenders = Tables(s, dir, "orders").filter(col("o_totalprice") > 400000)
      Tables(s, dir, "customer")
        .join(bigSpenders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // intersect of two projections
    "x03_intersect" -> { (s, dir) =>
      val p = Tables(s, dir, "part")
      p.filter(col("p_size") < 10).select("p_brand")
        .intersect(p.filter(col("p_size") > 40).select("p_brand"))
        .orderBy("p_brand")
    },

    // except (distinct) of two projections
    "x04_except" -> { (s, dir) =>
      val p = Tables(s, dir, "part")
      p.filter(col("p_size") < 10).select("p_brand")
        .except(p.filter(col("p_size") > 40).select("p_brand"))
        .orderBy("p_brand")
    },

    // tumbling 1-day windows over the event stream (batch form of
    // graft.streaming.windowedTypeStats; ns arithmetic keeps the bigint
    // timestamp exact)
    "x05_window_tumbling" -> { (s, dir) =>
      Tables(s, dir, "events")
        .select((col("ts") - col("ts") % DayNs).as("day_ns"),
          col("event_type"), col("value"))
        .groupBy("day_ns", "event_type")
        .agg(count(lit(1)).as("cnt"), sumMoney(col("value")).as("total_value"))
        .orderBy("day_ns", "event_type")
    },

    // date-part aggregation on a real timestamp column
    "x06_date_parts" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("cnt"), sumMoney(col("o_totalprice")).as("revenue"))
        .orderBy("y", "m")
    },

    // schema'd JSON parsing of the props column (vs q07's regex and
    // e03's path extraction)
    "x07_from_json" -> { (s, dir) =>
      Tables(s, dir, "events")
        .select(col("event_id"),
          from_json(col("props"), StructType(Seq(StructField("k", LongType))))
            .getField("k").as("k"))
        .orderBy("event_id")
    },

    // rollup: region/nation customer counts with subtotal rows
    "x08_rollup" -> { (s, dir) =>
      // Spark 4.1's ambiguous-self-join detector misfires on rollup/cube
      // over any join-derived frame (single-table rollup is fine; fresh
      // aliases don't help — the rollup Expand duplicates the dataset-id
      // tags). Disable the misfiring check, as its own error message
      // suggests; there is no actual self-join here. The override is
      // SCOPED: the check runs at analysis time, which Dataset
      // construction forces eagerly, so scoping the build leaves the
      // shared session's analyzer behavior untouched for every other
      // query in the suite.
      graft.SessionConf.scoped(s, Map("spark.sql.analyzer.failAmbiguousSelfJoin" -> "false")) {
        val df = Tables(s, dir, "customer")
          .join(broadcast(Tables(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          // project before rollup: the grouping output columns would
          // otherwise be ambiguous against the join inputs in the sort
          .select("r_name", "n_name")
          .rollup("r_name", "n_name")
          .agg(count(lit(1)).as("cnt"))
          // fresh attributes: the rollup's Expand node duplicates grouping
          // attributes and a by-name sort is flagged ambiguous otherwise
          .toDF("r_name", "n_name", "cnt")
          .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
        df.queryExecution.assertAnalyzed() // force analysis inside the scope
        df
      }
    },

    // cube + grouping id: all four grouping-set combinations of
    // (status, priority) in one pass, the grouping-id column
    // disambiguating a subtotal NULL from a (hypothetical) NULL value.
    // Single-table cube — one Expand (4x the input rows) + one shuffle;
    // at scale prefer rollup/partial cubes when the full lattice isn't
    // needed, since Expand multiplies shuffle volume by the set count.
    "x15_cube" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(grouping_id().cast(IntegerType).as("gid"),
          count(lit(1)).as("cnt"),
          sumMoney(col("o_totalprice")).as("revenue"))
        .select("o_orderstatus", "o_orderpriority", "gid", "cnt", "revenue")
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },

    // Explicit GROUPING SETS — the general grouping lattice x08/x15's
    // rollup/cube are special cases of: the set list here
    // {(status, priority), (priority), ()} is NOT a rollup of either
    // column order (it skips (status)), so it exercises the arbitrary-
    // lattice API a reporting layer actually uses ("by both, by
    // priority alone, and the grand total — but never by status
    // alone"). Same scale shape as rollup/cube: ONE Expand (3 grouping
    // sets) + one aggregate exchange, no self-union of subqueries.
    "x22_grouping_sets" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast(IntegerType).as("gid"),
          count(lit(1)).as("cnt"),
          sumMoney(col("o_totalprice")).as("revenue"))
        .select("o_orderstatus", "o_orderpriority", "gid", "cnt", "revenue")
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },

    // exact distinct cardinality per group — the oracle-checkable twin
    // of the approx_count_distinct sketch (at 100 TB the HLL sketch
    // replaces count_distinct 1:1 in this call shape; QueriesSpec pins
    // the sketch within 5% of this exact answer). Exact distinct is a
    // two-shuffle plan (dedup on (type, user), then count); the sketch
    // form is one shuffle with constant-size state — that swap is the
    // documented scale path.
    "x16_distinct_counts" -> { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("cnt"))
        .orderBy("event_type")
    },

    // KMV (k-minimum-values) distinct sketch — the native bounded-state
    // sketch tier beside x16's exact / approx_count_distinct pair. The
    // graft_kmv TypedImperativeAggregate keeps the k smallest DISTINCT
    // 60-bit hashes per group (a semilattice: partials merge by
    // union-then-truncate, so only k longs per map task cross the
    // shuffle). Because the state is exact order statistics of a
    // deterministic hash — not HLL registers — the ESTIMATE itself is
    // bit-reproducible and oracle-checked: DuckDB ranks the same
    // md5-derived hashes and applies the same (k-1)/(kth/2^60)
    // estimator. held < k means the sketch saw every distinct hash and
    // the answer is exact (the sf0.001 groups take that path; sf0.01+
    // engage the estimator).
    "x17_kmv_distinct" -> { (s, dir) =>
      val K = 64
      val two60 = 1.152921504606846976e18 // 2^60, the h60 hash domain
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(call_function("graft_kmv",
          h60(col("user_id").cast(StringType)), lit(K)).as("sk"))
        .select(col("event_type"),
          col("sk.held").as("held"),
          col("sk.kth").as("kth"),
          when(col("sk.held") < K, col("sk.held").cast(DoubleType))
            .otherwise(round6(lit((K - 1).toDouble) /
              (col("sk.kth").cast(DoubleType) / lit(two60)))).as("est_users"))
        .orderBy("event_type")
    },

    // Z-ORDER (Morton) clustering key over (customer, order-day) — the
    // write-time layout that makes parquet min/max stats skip files for
    // selective filters on EITHER dimension (a linear sort clusters only
    // its leading column). The interleave is a pure unrolled integer bit
    // sum (NumFns.zvalue2, codegen'd, oracle-mirrored verbatim);
    // io.Writers.zorderWrite applies it as repartitionByRange + in-file
    // sort, and ZorderSpec measures the skipping benefit against a
    // linear layout. zbucket = zv >> 24 is the deterministic 256-way
    // coarse tile (what a file-level assignment looks like without the
    // range sampler's nondeterminism).
    "x18_zorder" -> { (s, dir) =>
      val zx = col("o_custkey").cast(LongType)
      val zy = datediff(col("o_orderdate"), lit("1970-01-01")).cast(LongType)
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), zx.as("zx"), zy.as("zy"),
          graft.functions.NumFns.zvalue2(zx, zy, 16).as("zv"))
        .withColumn("zbucket", shiftright(col("zv"), 24))
        .orderBy("o_orderkey")
    },

    // latest-record-per-key compaction (the CDC/upsert "merge-on-read
    // resolve" step: of each key's change stream, keep the newest row).
    // ONE max(struct) aggregate — a single shuffle with map-side partial
    // merge, no per-key window sort; the (ts, event_id) prefix makes the
    // struct max total and deterministic (event_id unique). This is the
    // shape that compacts a 100 TB changelog: reducers hold one struct
    // per key, never a key's full history.
    "x19_latest_by_key" -> { (s, dir) =>
      Tables(s, dir, "events")
        // micro-aligned nanos: DuckDB reads the nanos column at micros
        // precision, so the oracle's epoch_ns is tsn - tsn % 1000 (x14
        // does the same; sub-microsecond ties resolve via event_id
        // identically in both engines)
        .select(col("user_id"), struct((col("ts") - pmod(col("ts"), lit(1000L))).as("tsn"),
          col("event_id"), col("event_type"), col("value")).as("rec"))
        .groupBy("user_id")
        .agg(max(col("rec")).as("m"))
        .select(col("user_id"), col("m.tsn").as("last_ts_ns"),
          col("m.event_id").as("last_event"),
          col("m.event_type").as("last_type"), col("m.value").as("last_value"))
        .orderBy("user_id")
    },

    // fixed-width histogram over a double measure
    "x09_histogram" -> { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(floor(col("value") / 50).cast(LongType).as("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("bucket")
    },

    // unpivot wide numeric columns into (metric, value) long format —
    // inverse of q11's pivot (R4)
    "x10_unpivot" -> { (s, dir) =>
      Tables(s, dir, "part")
        .select(col("p_partkey"),
          explode(map(
            lit("p_retailprice"), col("p_retailprice"),
            lit("p_size"), col("p_size").cast(DoubleType))).as(Seq("metric", "value")))
        .orderBy("p_partkey", "metric")
    },

    // as-of join (operator Spark lacks natively; DuckDB ASOF JOIN is the
    // oracle): each click gets the latest view by the same user at or
    // before it. Ops.AsOfJoin is the union+tagged-window shape — one
    // shuffle on user_id, linear in both sides, no per-probe range scan.
    "x13_asof_join" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
      // DuckDB reads the TIMESTAMP(NANOS) column at us precision, so
      // truncate our exact nanos to the us boundary (integer arithmetic,
      // still ns units) on BOTH sides — ordering, dedup buckets, and
      // output all see the same values the oracle does
      val tsUs = (col("ts") - pmod(col("ts"), lit(1000L))).as("ts")
      val probe = ev.filter(col("event_type") === "click")
        .select(col("user_id"), tsUs, col("event_id"))
      val build = ev.filter(col("event_type") === "view")
        .select(col("user_id"), tsUs, col("event_id"))
        // unique per (user, ts) so "latest" is well-defined
        .groupBy("user_id", "ts").agg(max("event_id").as("vid"))
        .withColumn("vts", col("ts"))
      graft.ops.AsOfJoin.asOf(probe, build, "user_id", "ts", Seq("vid", "vts"))
        .orderBy("event_id")
    },

    // range (interval) join — the prompt's other Spark-missing operator.
    // Naive form is an inequality join (quadratic scan); the scale shape
    // replicates each PROBE row to the (at most 2) time buckets its
    // window overlaps, equi-joins on bucket, then filters the exact
    // range — shuffle on bucket, each build row matched once (its own
    // bucket is unique). Counts clicks within 1h after each signup.
    "x14_range_join" -> { (s, dir) =>
      val H = 3600L * 1000 * 1000 * 1000 // 1h in ns
      val tsUs = col("ts") - pmod(col("ts"), lit(1000L)) // oracle us parity
      val ev = Tables(s, dir, "events")
      val sign = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("sid"), tsUs.as("sts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(tsUs.as("cts"))
        .withColumn("bucket", expr(s"cts div $H"))
      val probeRep = sign.withColumn("bucket",
        explode(array_distinct(array(expr(s"sts div $H"), expr(s"(sts + $H - 1) div $H")))))
      val counts = probeRep.join(clicks, "bucket")
        .filter(col("cts") >= col("sts") && col("cts") < col("sts") + H)
        .groupBy("sid").agg(count(lit(1)).as("n_clicks"))
      sign.join(counts, Seq("sid"), "left")
        .na.fill(0, Seq("n_clicks"))
        .select("sid", "sts", "n_clicks")
        .orderBy("sid")
    },

    // exact percentiles per group (linear interpolation — matches
    // DuckDB's quantile_cont). At 100 TB the approx_percentile sketch
    // replaces this 1:1 (same call shape); the exact form is the
    // oracle-checkable variant.
    "x12_percentiles" -> { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(
          graft.functions.NumFns.round6(expr("percentile(value, 0.25)")).as("p25"),
          graft.functions.NumFns.round6(expr("percentile(value, 0.5)")).as("p50"),
          graft.functions.NumFns.round6(expr("percentile(value, 0.9)")).as("p90"))
        .orderBy("event_type")
    },

    // Histogram quantile sketch, MEASURED against the exact answer —
    // the quantile member of the bounded-state sketch ladder (x17 KMV
    // / x21 HLL distinct, t09 Count-Min heavy hitters, p14 Bloom):
    // where x12's exact percentile must sort its group, this keeps 256
    // integer bin counts per partition (mergeable by plain addition —
    // constant bytes cross the shuffle at ANY cardinality, the 100 TB
    // shape) and answers by linear interpolation inside the covering
    // bin (hi = lo — a single-valued input — pins bin 0 on both
    // engines: Spark's non-ANSI /0 is NULL where DuckDB's is inf, so
    // the degenerate case must never reach the divide). Two passes: a min/max aggregate (1-row broadcast fixes the
    // bin width), then one count aggregate over ≤ 256 bins; the
    // cumulative walk + per-quantile bin pick happen on the 256-row
    // frame (min(struct) argmin — both engines pick the first bin
    // whose cumulative count reaches q·N). est and the measured
    // |est − exact| are fixed-order double arithmetic over exact
    // longs, round6'd; exact comes from the same interpolating
    // percentile x12 pins against quantile_cont.
    "x23_quantile_sketch" -> { (s, dir) =>
      val B = 256
      val ev = Tables(s, dir, "events").select(col("value"))
      val mm = ev.agg(min("value").as("lo"), max("value").as("hi"),
        count(lit(1)).as("n"))
      val hist = ev.crossJoin(broadcast(mm))
        .select(when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(floor((col("value") - col("lo")) /
            (col("hi") - col("lo")) * B).cast(LongType), lit(B - 1L))).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cnt"))
      val cum = hist
        .withColumn("cum", sum("cnt").over(
          org.apache.spark.sql.expressions.Window.orderBy("bin")))
      val exact = ev.agg(
        expr("percentile(value, 0.25)").as("e25"),
        expr("percentile(value, 0.5)").as("e50"),
        expr("percentile(value, 0.9)").as("e90"))
      val qs = exact.select(explode(array(
        struct(lit(0.25).as("q"), col("e25").as("exact")),
        struct(lit(0.5).as("q"), col("e50").as("exact")),
        struct(lit(0.9).as("q"), col("e90").as("exact")))).as("s"))
        .select(col("s.q").as("q"), col("s.exact").as("exact"))
      val picked = cum.crossJoin(broadcast(mm)).crossJoin(broadcast(qs))
        .filter(col("cum") >= col("q") * col("n"))
        .groupBy("q", "exact", "lo", "hi", "n")
        .agg(min(struct(col("bin"), col("cnt"), col("cum"))).as("p"))
      picked
        .select(col("q"), col("exact"),
          (col("lo") + (col("hi") - col("lo")) *
            ((col("p.bin") + (col("q") * col("n") - (col("p.cum") - col("p.cnt"))) /
              col("p.cnt")) / B)).as("est"))
        .select(col("q"), round6(col("est")).as("est"),
          round6(col("exact")).as("exact"),
          round6(abs(col("est") - col("exact"))).as("abs_err"))
        .orderBy("q")
    },

    // salted shuffle join on a deliberately skewed key: event_type has
    // ~5 distinct values, so a plain shuffle join would funnel the whole
    // fact table through 5 reducers. SkewJoin.saltedJoin spreads each
    // hot key over 16 (key, salt) reducers; the dim side (5 rows here —
    // standing in for a mid-size dim too big to broadcast) is replicated
    // 16x. Same rows as the naive join (x11 oracle is the plain SQL
    // join); SkewJoinSpec asserts the (key, salt) shuffle in the plan.
    "x11_skew_salted_join" -> { (s, dir) =>
      val fact = Tables(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val dim = Tables(s, dir, "events")
        .groupBy("event_type").agg(count(lit(1)).as("type_cnt"))
      graft.ops.SkewJoin.saltedJoin(fact, dim, "event_type", 16, col("event_id"))
        .groupBy("event_type")
        .agg(max("type_cnt").as("type_cnt"),
          count(lit(1)).as("n"),
          sumMoney(col("value")).as("total_value"))
        .orderBy("event_type")
    },

    // Junction-window slice through the MatrixMarket DataSourceV2 — the
    // reference's primary MM consumption (accessor.py:431-438) as an
    // oracle row: lineitem aggregates to a sparse junction matrix
    // (row = orderkey, col = linenumber, value = Σ quantity), writes as
    // a real gzipped .MM coordinate file (distributed single-part text
    // write; the 1-row dims/nnz agg is the only driver collect), and
    // the v2 source reads the WINDOW back — the row/col range predicates
    // push into the reader (MatrixMarketSourceSpec pins the pushed-
    // filter plan + that no post-scan Filter remains), so entries
    // outside the window never materialize a row. The oracle computes
    // the same slice from lineitem directly, closing the loop over
    // write → parse → pushdown.
    "x20_mm_window" -> { (s, dir) =>
      // one artifact per (session, dir) — see mmArtifact/mmMemo; the
      // returned frame reads the .MM.gz LAZILY (pushdown into the
      // matrixmarket scan is the row's point), so the dir outlives the
      // builder and is reclaimed at JVM shutdown (or an explicit evict —
      // see evict's live-frame contract)
      val mm = mmArtifact(s, dir)
      s.read.format("matrixmarket").load(mm)
        .filter(col("row") >= 100 && col("row") <= 2000 && col("col") <= 4)
        .orderBy("row", "col")
    },

    // HyperLogLog distinct sketch — the CONSTANT-state member of the
    // distinct-count ladder (x16 exact / x17 KMV / x21 HLL). Where
    // x17's KMV state grows with k, graft_hll keeps 2^p one-byte
    // registers (256 B at p=8) whatever the cardinality — the shape
    // production engines use at 100 TB because partials merge
    // element-wise-max and only m bytes per map task cross the shuffle.
    // Spark's own approx_count_distinct is HLL++ with internal bias
    // tables no other engine reproduces; graft_hll is specified to be
    // engine-mirrorable instead: it emits integer (zeros, ssum) register
    // summaries (ssum = Σ 2^(maxRank − reg), an integer — no float
    // summation order anywhere), and the estimator runs in plain column
    // arithmetic both engines execute identically. DuckDB replays the
    // registers from the same md5-derived 60-bit hashes and applies the
    // same Flajolet α_m·m²/Σ2^-reg with linear-counting small-range
    // correction. At sf0.01 every event_type group lands in the
    // corrected regime (~1k users, m=256).
    "x21_hll_distinct" -> { (s, dir) =>
      val P = 8
      val m = 1 << P
      val two53 = 9.007199254740992e15 // 2^53 = 2^maxRank for p=8
      val estRaw = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble)) *
        lit(m.toDouble * m) / (col("sk.ssum").cast(DoubleType) / lit(two53))
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(call_function("graft_hll",
          h60(col("user_id").cast(StringType)), lit(P)).as("sk"))
        .select(col("event_type"),
          col("sk.zeros").as("zeros"),
          col("sk.ssum").as("ssum"),
          round6(when(col("sk.zeros") > 0 && estRaw <= lit(2.5 * m),
              lit(m.toDouble) * log(lit(m.toDouble) / col("sk.zeros").cast(DoubleType)))
            .otherwise(estRaw)).as("est_users"))
        .orderBy("event_type")
    },

    // Association-rule mining over order baskets (the co-purchase
    // support/confidence/lift classic): items = distinct (order, part),
    // pair support from the g03-style within-basket self-join with the
    // support >= 2 threshold (single co-occurrences are noise — the g03
    // finding: the >= 2 population stays ~constant across SFs because
    // random co-occurrence doesn't repeat, so the rule table is
    // sub-linear in corpus size). Rules emit both directions from ONE
    // pair aggregate; per-item counts join on the item key (a dimension
    // -sized table, broadcastable downstream of AQE) and the basket
    // total rides as the documented 1-ROW broadcast frame. Metrics are
    // one fixed-order double division each over exact longs, round6'd.
    "x24_assoc_rules" -> { (s, dir) =>
      val items = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val nOrders = items.agg(countDistinct("o").as("nord"))
      val ic = items.groupBy("p").agg(count(lit(1)).as("np"))
      // r14: the basket self-join + support count IS the memoized
      // copurchase graph build (same distinct items, same u < v pairs,
      // same >= 2 support threshold = GraphQueries.MinSupport), shared
      // and attributed as g00's copurchase_pairs component — the
      // inline form re-ran the corpus self-join per invocation
      val pairs = GraphQueries.copurchasePairs(s, dir)
        .select(col("u").as("pa"), col("v").as("pb"), col("supp").as("nab"))
      val fwd = pairs.select(col("pa").as("ant"), col("pb").as("cons"), col("nab"))
      val rev = pairs.select(col("pb").as("ant"), col("pa").as("cons"), col("nab"))
      fwd.unionByName(rev)
        .join(ic.select(col("p").as("ant"), col("np").as("na")), "ant")
        .join(ic.select(col("p").as("cons"), col("np").as("nb")), "cons")
        .crossJoin(broadcast(nOrders))
        .select(col("ant"), col("cons"), col("nab").as("support"),
          round6(col("nab").cast(DoubleType) / col("na")).as("confidence"),
          round6((col("nab") * col("nord")).cast(DoubleType) /
            (col("na") * col("nb"))).as("lift"))
        .orderBy("ant", "cons")
    },

    // SCD2 interval build (gaps-and-islands): the events table replayed
    // as a change log — consecutive same-state rows per user collapse
    // into one validity interval [valid_from, valid_to), the current
    // state's valid_to left NULL. Two user-partitioned windows (change
    // flag + running version; interval close via lead over the grouped
    // frame) and one aggregate — no global order except presentation.
    // The inverse of x19's latest-by-key snapshot: x19 keeps the last
    // row per key, this keeps the full temporal history a warehouse
    // time-travel query needs.
    "x25_scd2_intervals" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("chg",
          when(lag("event_type", 1).over(w).isNull ||
            lag("event_type", 1).over(w) =!= col("event_type"), 1L).otherwise(0L))
        .withColumn("ver", sum("chg").over(w))
      val iv = ev.groupBy("user_id", "ver")
        .agg(max("event_type").as("state"), min("ts").as("valid_from"),
          count(lit(1)).as("n_events"))
      val w2 = Window.partitionBy("user_id").orderBy("ver")
      iv.withColumn("valid_to", lead("valid_from", 1).over(w2))
        .select(col("user_id"), col("ver").as("version"), col("state"),
          col("valid_from"), col("valid_to"), col("n_events"))
        .orderBy("user_id", "version")
    },

    // Ranking-function medley with REAL ties: rank / dense_rank /
    // percent_rank / cume_dist over (priority → status) where status
    // duplicates heavily, so tie semantics (peer groups share the
    // value; percent_rank = (rank-1)/(n-1), cume_dist counts peers
    // cumulatively) are what's being exercised — all deterministic
    // under any within-tie order. ntile is the one ranker that SPLITS
    // tie groups by physical order, so it ranks over the unique
    // o_orderkey instead (second sort, same single exchange on the
    // partition key). The doubles are the same int/int division in
    // both engines, round6'd.
    "x26_ranking_funcs" -> { (s, dir) =>
      val wt = Window.partitionBy("o_orderpriority").orderBy("o_orderstatus")
      val wu = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
      Tables(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_orderstatus"))
        .withColumn("rnk", rank().over(wt).cast(LongType))
        .withColumn("drnk", dense_rank().over(wt).cast(LongType))
        .withColumn("prnk", round6(percent_rank().over(wt)))
        .withColumn("cdist", round6(cume_dist().over(wt)))
        .withColumn("tile", ntile(4).over(wu).cast(LongType))
        .orderBy("o_orderpriority", "o_orderkey")
    },

    // MERGE (upsert + delete + insert) as ONE full-outer equi-join —
    // the warehouse CDC-apply x25 snapshots the history of. The change
    // batch is derived deterministically from the base (update keys
    // %7, delete keys %11 — delete wins on overlap — and inserts at
    // NEGATED keys %13: orderkeys are positive at every SF, so the
    // insert namespace is disjoint at any scale — a fixed offset
    // would collide once orderkeys exceed it, ~sf 1.7 for +10M): matched+U rewrites the value, matched+D drops
    // the row, unmatched-I lands the new row, untouched base rows pass
    // through. Scale: the apply is a single key-partitioned join
    // however large the batch; no per-row driver logic, and the same
    // plan serves continuous CDC apply when the base is bucketed on
    // the key (io.Writers.bucketedTable: zero-shuffle apply).
    "x27_merge_upsert" -> { (s, dir) =>
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val upd = base.filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 11 =!= 0)
        .select(col("o_orderkey").as("k"), lit("U").as("op"),
          (col("o_totalprice") + 1000.0).as("new_price"))
      val del = base.filter(col("o_orderkey") % 11 === 0)
        .select(col("o_orderkey").as("k"), lit("D").as("op"),
          lit(null).cast(DoubleType).as("new_price"))
      val ins = base.filter(col("o_orderkey") % 13 === 0)
        .select((-col("o_orderkey")).as("k"), lit("I").as("op"),
          col("o_totalprice").as("new_price"))
      val changes = upd.unionByName(del).unionByName(ins)
      base.join(changes, col("o_orderkey") === col("k"), "full_outer")
        .filter(coalesce(col("op"), lit("")) =!= "D")
        .select(
          coalesce(col("o_orderkey"), col("k")).as("orderkey"),
          when(col("op") === "U", col("new_price"))
            .when(col("op") === "I", col("new_price"))
            .otherwise(col("o_totalprice")).as("totalprice"),
          coalesce(col("op"), lit("base")).as("src"))
        .orderBy("orderkey")
    },

    // Incremental view maintenance: the standing-aggregate twin of
    // x27's row MERGE. The per-customer order stats are maintained as
    // MERGEABLE partials — yesterday's snapshot aggregate (keys %10 <
    // 8) and today's delta aggregate (the rest) combine by summing, so
    // at 100 TB only the delta is ever recomputed: the base partial is
    // a persisted materialized view and the merge is one
    // co-partitioned aggregate over (tiny delta + snapshot). Revenue
    // partials are DECIMAL(18,2) sums (exact, order-independent), cast
    // to double only at the edge. The ORACLE is the full direct
    // recompute over all rows — so the correctness gate checks the IVM
    // contract itself: merge-of-partials == recompute-from-scratch.
    "x28_incremental_agg" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
      def part(df: DataFrame) = df.groupBy("o_custkey")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
      val base = part(o.filter(col("o_orderkey") % 10 < 8))
      val delta = part(o.filter(col("o_orderkey") % 10 >= 8))
      base.unionByName(delta)
        .groupBy("o_custkey")
        .agg(sum("cnt").as("orders"),
          sum("rev").cast(DecimalType(18, 2)).cast(DoubleType).as("revenue"))
        .orderBy("o_custkey")
    },

    // Calendar GAP-FILL + last-observation-carried-forward: regularize
    // the per-(type, day) event counts onto the complete day grid
    // [global min day, global max day] — missing days get cnt_filled
    // from the most recent observed day (0 before the first
    // observation) and observed=false. The time-series resample every
    // metrics/feature pipeline needs before windowed math (a rolling
    // mean over a gappy series silently shortens its window; the grid
    // makes gaps explicit). Scale shape: the corpus crosses ONE
    // exchange (the (type, day) count); the grid is |types| × |days|
    // rows built from a broadcast 1-row bounds aggregate — dimension-
    // sized, never corpus-sized — and the LOCF window partitions by
    // type over day-count rows.
    "x29_gap_fill" -> { (s, dir) =>
      val e = Tables(s, dir, "events")
        .select(col("event_type"), expr(s"ts DIV $DayNs").as("day"))
      val obs = e.groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      val bounds = e.agg(min("day").as("lo"), max("day").as("hi"))
      val grid = e.select("event_type").distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("day"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(obs, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          col("cnt").isNotNull.as("observed"),
          coalesce(last(col("cnt"), ignoreNulls = true).over(w), lit(0L))
            .as("cnt_filled"))
        .orderBy("event_type", "day")
    },

    // Order-insensitive TABLE FINGERPRINT: per-source (count, XOR of
    // 60-bit row hashes, min/max hash) over the full row content. The
    // data-integrity primitive a 100 TB migration/replication pipeline
    // runs on both sides of every copy: XOR is commutative AND
    // overflow-free (unlike a hash SUM, which wraps in Spark but errors
    // in ANSI engines), so the signature is identical under any
    // partitioning, task order, or engine — two replicas disagree iff
    // some row differs. One map-side-combined aggregate; the hash is
    // the scan-fused graft_md5p60 expression;  field separators
    // prevent cross-column splice collisions.
    "x30_fingerprint" -> { (s, dir) =>
      val h = h60(concat_ws("\u0001",
        col("doc_id").cast(StringType), col("lang"), col("source"), col("text")))
      Tables(s, dir, "documents")
        .select(col("source"), h.as("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("cnt"), expr("bit_xor(h)").as("xor_sig"),
          min("h").as("min_h"), max("h").as("max_h"))
        .orderBy("source")
    },

    // EXPONENTIALLY-WEIGHTED smoothing over the x29 gap-filled day
    // grid — the trend/denoise step after regularization (EWMA with
    // α = 1/2, horizon-truncated at 8 days). Determinism recipe: the
    // DYADIC weights 2^(7−k) keep numerator and denominator EXACT
    // LONG window sums (a recursive float EWMA can neither replay nor
    // merge), normalized per row so partial leading windows average
    // over the weights actually present. Scale shape: the e12/e16
    // generator trick — each grid day replicates to the ≤8 trailing
    // target days it contributes to, then ONE (type, day) equi-shuffle
    // aggregation; no per-key window sort over weighted frames (a
    // weight-by-relative-position frame is not a window function), no
    // NLJ. The grid is dimension-sized, so the replication is 8× a
    // |types|×|days| frame whatever the corpus size; composing the
    // pinned x29 row means the corpus still crosses only x29's one
    // exchange.
    "x32_ewma" -> { (s, dir) =>
      // materialize the dimension-sized grid ONCE (both the replicate
      // side and the join-back read it; without the checkpoint each
      // consumer re-plans the x29 subtree = two corpus passes)
      val filled = queries("x29_gap_fill")(s, dir)
        .select(col("event_type"), col("day"), col("cnt_filled"))
        .localCheckpoint()
      val kw = explode(array((0 to 7).map(k =>
        struct(lit(k.toLong).as("k"), lit(1L << (7 - k)).as("w"))): _*)).as("kw")
      val fused = filled.select(col("event_type"), col("day"), col("cnt_filled"), kw)
        .select(col("event_type").as("fe"), (col("day") + col("kw.k")).as("day2"),
          (col("cnt_filled") * col("kw.w")).as("cw"), col("kw.w").as("w"))
        .groupBy("fe", "day2")
        .agg(sum("cw").as("num"), sum("w").as("den"))
      filled.join(fused,
          col("event_type") === col("fe") && col("day") === col("day2"))
        .select(col("event_type"), col("day"), col("cnt_filled"),
          col("num"), col("den"),
          round6(col("num").cast(DoubleType) / col("den")).as("ewma"))
        .orderBy("event_type", "day")
    },

    // SLIDING-CONTRAST CHANGEPOINT (level-shift detection) over the
    // x29 gap-filled day grid — where e20 flags outlier DAYS against
    // a whole history and x32 smooths, this finds the day the LEVEL
    // moved: shift(d) = Σ cnt(d+1..d+7) − Σ cnt(d−7..d−1), the
    // two-sided sliding contrast (a discrete Haar step / CUSUM-lite
    // detector — the feed-health alarm behind "did volume step down
    // after the deploy"). All-integer window sums over the REGULAR
    // grid (gap days count as their LOCF fill, so a silent week reads
    // as level, not as missing rows); only days with BOTH windows
    // complete are scored (frame count == 7 each side — edges can't
    // fake a shift); ranked top-10 by |shift| — a report, not a tuned
    // threshold that drifts. Scale: the grid is dimension-sized
    // (|types| × |days|), so both windows are bounded partitions; the
    // corpus crosses only x29's one exchange.
    "x33_level_shift" -> { (s, dir) =>
      val filled = queries("x29_gap_fill")(s, dir)
        .select(col("event_type"), col("day"), col("cnt_filled"))
      val before = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
      val after = Window.partitionBy("event_type").orderBy("day").rowsBetween(1, 7)
      filled
        .select(col("event_type"), col("day"),
          sum("cnt_filled").over(before).as("before7"),
          count(lit(1)).over(before).as("nb"),
          sum("cnt_filled").over(after).as("after7"),
          count(lit(1)).over(after).as("na"))
        .filter(col("nb") === 7 && col("na") === 7)
        .select(col("event_type"), col("day"), col("before7"), col("after7"),
          (col("after7") - col("before7")).as("shift"))
        .orderBy(abs(col("shift")).desc, col("event_type"), col("day"))
        .limit(10)
    },

    // SNAPSHOT DIFF — the reconciliation report a warehouse runs
    // between two loads of the same table (x30 fingerprints answer
    // "are the replicas equal"; this answers WHAT changed): full-outer
    // join on the key comparing scan-fused row-content hashes,
    // classified added / removed / changed / unchanged with per-class
    // counts and key bounds. The two "snapshots" are deterministic
    // simulations both engines replay from orders (v1 drops key%103
    // rows, v2 drops key%101 and bumps price on key%97 — deletions,
    // late arrivals, and corrections in one diff). Content hashing
    // folds the DOUBLE price to exact cents and the date to an epoch
    // day BEFORE hashing, so the hash never sees float/timestamp
    // formatting. Scale shape: two scans of the same table with
    // pushed filters, ONE key shuffle for the full-outer sort-merge
    // join, aggregate to 4 rows — the 100 TB reconciliation plan.
    "x34_snapshot_diff" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
      def rowh(bump: org.apache.spark.sql.Column) =
        h60(concat_ws("\u0001",
          col("o_custkey").cast(StringType), col("o_orderstatus"),
          col("o_orderpriority"),
          (floor(col("o_totalprice") * 100 + lit(0.5)).cast(LongType) + bump)
            .cast(StringType),
          // NTZ → TIMESTAMP is wall-clock preserving (session tz UTC)
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000")
            .cast(StringType)))
      val v1 = o.filter(pmod(col("o_orderkey"), lit(103L)) =!= 0)
        .select(col("o_orderkey").as("k"), rowh(lit(0L)).as("h1"))
      val v2 = o.filter(pmod(col("o_orderkey"), lit(101L)) =!= 0)
        .select(col("o_orderkey").as("k"),
          rowh(when(pmod(col("o_orderkey"), lit(97L)) === 0, lit(100L))
            .otherwise(lit(0L))).as("h2"))
      v1.join(v2, Seq("k"), "full_outer")
        .select(col("k"),
          when(col("h1").isNull, "added")
            .when(col("h2").isNull, "removed")
            .when(col("h1") =!= col("h2"), "changed")
            .otherwise("unchanged").as("change"))
        .groupBy("change")
        .agg(count(lit(1)).as("n"), min("k").as("min_key"), max("k").as("max_key"))
        .orderBy("change")
    },

    // KMV SKETCH SET-OVERLAP — pairwise source content overlap from
    // bounded sketches (Beyer et al. SIGMOD'07, the multiset-synopsis
    // estimator): per source keep the k=64 smallest distinct content
    // hashes (graft_kmv_set, the SET form of x17's aggregate); for
    // each source pair the k smallest of the two sketches' union are a
    // uniform sample of the union, and the fraction present in BOTH
    // sketches estimates Jaccard(A, B). The "which crawls/dumps feed
    // me the same documents" census — d01 answers it exactly by
    // shuffling the corpus on content hash; this answers it from
    // 64 longs per source, the pre-dedup triage at 100 TB (which
    // source pairs are worth an exact pass). Scale shape: ONE corpus
    // aggregate with bounded per-group state (k·maps longs cross the
    // shuffle); the pairwise stage touches only |sources|² sketch
    // rows — dimension-sized, never the corpus; union/slice/intersect
    // are plain array expressions on 64-long arrays. All integers:
    // exact order statistics of the deterministic h60, Jaccard folded
    // to micro-units by long division (the displayed double is
    // round6 of that).
    "x35_kmv_overlap" -> { (s, dir) =>
      val K = 64
      val sk = Tables(s, dir, "documents")
        .groupBy("source")
        .agg(call_function("graft_kmv_set", h60(col("text")), lit(K)).as("hs"))
        // two consumers (both sides of the pair join) — materialize the
        // dimension-sized sketch frame once or each side re-plans the
        // corpus aggregate (measured: 2 scans → 1)
        .localCheckpoint()
      val p = sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
        .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
          slice(array_sort(array_union(col("a.hs"), col("b.hs"))), 1, K).as("un"),
          col("a.hs").as("ha"), col("b.hs").as("hb"))
      p.select(col("source_a"), col("source_b"),
          size(col("un")).cast(LongType).as("held"),
          size(array_intersect(array_intersect(col("un"), col("ha")), col("hb")))
            .cast(LongType).as("inter"))
        .withColumn("jac_micro", expr("(inter * 1000000L) div held"))
        .withColumn("jac",
          round6(col("jac_micro").cast(DoubleType) / lit(1000000.0)))
        .orderBy("source_a", "source_b")
    },

    // SINGLE-PASS COLUMN PROFILE (the Deequ/constraint-check shape):
    // per column of the events table — completeness (null rate),
    // exact distinct cardinality, and type-appropriate min/max
    // (numeric as DOUBLE, strings lexicographically; the corpus is
    // ASCII by the testdata contract, so string order agrees across
    // engines). The table-health card a pipeline asserts on before
    // and after every ingest/migration step, beside x30's content
    // fingerprint. Scale shape: ONE aggregate over one scan — the six
    // exact distinct counts ride a single Expand (p18's shape), so the
    // corpus crosses one shuffle carrying 7× row multiplicity; at
    // 100 TB the documented 1:1 swap is graft_hll / approx_count_
    // distinct per column (x16/x21's sketch ladder), which collapses
    // the Expand multiplicity into constant-size registers while
    // completeness and min/max stay map-side partials either way. The
    // per-column rows then unfold from the 1-row aggregate by a
    // dimension-sized explode (never a second corpus pass per column —
    // the naive profile runs N scans for N columns).
    "x31_profile" -> { (s, dir) =>
      val numCols = Seq("event_id", "ts", "user_id", "value")
      val strCols = Seq("event_type", "props")
      val all = numCols ++ strCols
      val aggs = count(lit(1)).as("n_rows") +: (
        all.map(c => count(col(c)).as(s"nn_$c")) ++
          all.map(c => count_distinct(col(c)).as(s"nd_$c")) ++
          numCols.map(c => min(col(c)).cast(DoubleType).as(s"mn_$c")) ++
          numCols.map(c => max(col(c)).cast(DoubleType).as(s"mx_$c")) ++
          strCols.map(c => min(col(c)).as(s"mns_$c")) ++
          strCols.map(c => max(col(c)).as(s"mxs_$c")))
      val rows = all.map { c =>
        val isNum = numCols.contains(c)
        struct(
          lit(c).as("column"),
          col(s"nn_$c").as("n_nonnull"),
          col(s"nd_$c").as("n_distinct"),
          (if (isNum) col(s"mn_$c") else lit(null).cast(DoubleType)).as("min_num"),
          (if (isNum) col(s"mx_$c") else lit(null).cast(DoubleType)).as("max_num"),
          (if (isNum) lit(null).cast(StringType) else col(s"mns_$c")).as("min_str"),
          (if (isNum) lit(null).cast(StringType) else col(s"mxs_$c")).as("max_str"))
      }
      Tables(s, dir, "events")
        .agg(aggs.head, aggs.tail: _*)
        .select(col("n_rows"), explode(array(rows: _*)).as("st"))
        .select(col("st.column").as("column"), col("n_rows"),
          col("st.n_nonnull").as("n_nonnull"), col("st.n_distinct").as("n_distinct"),
          round6(col("st.n_nonnull").cast(DoubleType) / col("n_rows"))
            .as("completeness"),
          col("st.min_num").as("min_num"), col("st.max_num").as("max_num"),
          col("st.min_str").as("min_str"), col("st.max_str").as("max_str"))
        .orderBy("column")
    }
  )

  // hoisted so x32's smoothing composes the pinned gap-filled grid as
  // a subquery (the t13/s08/s15 anti-drift pattern)
  private val X29Sql: String =
    s"""WITH e AS (
       |  SELECT event_type, epoch_ns(ts) // $DayNs AS day FROM events),
       |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
       |grid AS (
       |  SELECT t.event_type, d.day
       |  FROM (SELECT DISTINCT event_type FROM e) t,
       |       (SELECT unnest(generate_series(lo, hi)) AS day FROM b) d),
       |obs AS (SELECT event_type, day, count(*) AS cnt
       |        FROM e GROUP BY event_type, day)
       |SELECT g.event_type, g.day,
       |  o.cnt IS NOT NULL AS observed,
       |  CAST(coalesce(last_value(o.cnt IGNORE NULLS) OVER (
       |    PARTITION BY g.event_type ORDER BY g.day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT)
       |    AS cnt_filled
       |FROM grid g LEFT JOIN obs o
       |  ON g.event_type = o.event_type AND g.day = o.day
       |ORDER BY g.event_type, g.day""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "x01_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "x02_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "x03_intersect" ->
      """SELECT p_brand FROM part WHERE p_size < 10
        |INTERSECT
        |SELECT p_brand FROM part WHERE p_size > 40
        |ORDER BY p_brand""".stripMargin,
    "x04_except" ->
      """SELECT p_brand FROM part WHERE p_size < 10
        |EXCEPT
        |SELECT p_brand FROM part WHERE p_size > 40
        |ORDER BY p_brand""".stripMargin,
    "x05_window_tumbling" ->
      s"""SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS day_ns, event_type,
         |  count(*) AS cnt,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         |FROM events GROUP BY day_ns, event_type
         |ORDER BY day_ns, event_type""".stripMargin,
    "x06_date_parts" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m,
        |  count(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY y, m ORDER BY y, m""".stripMargin,
    "x07_from_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "x08_rollup" ->
      """SELECT r_name, n_name, count(*) AS cnt
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "x15_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
        |  count(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "x22_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
        |  count(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "x16_distinct_counts" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  count(*) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x17_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events),
        |r AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS nd
        |  FROM h)
        |SELECT event_type, CAST(least(nd, 64) AS INT) AS held, h AS kth,
        |  CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
        |       ELSE floor((63.0 / (CAST(h AS DOUBLE) / 1152921504606846976.0)) * 1000000.0 + 0.5) / 1000000.0
        |  END AS est_users
        |FROM r WHERE rn = least(nd, 64)
        |ORDER BY event_type""".stripMargin,
    // HLL register replay: bucket = top 8 of the 60 hash bits, reg = max
    // rank of the low-52-bit remainder (length(bin(w)) is integer-exact
    // floor(log2)+1); ssum accumulates 2^(53-reg) as BIGINTs, absent
    // buckets contribute reg=0 terms; the estimator is the same literal
    // arithmetic the Spark query runs.
    "x21_hll_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events),
        |r AS (
        |  SELECT event_type, h // 4503599627370496 AS bucket,
        |    max(CASE WHEN h % 4503599627370496 = 0 THEN 53
        |             ELSE 52 - length(bin(h % 4503599627370496)) + 1 END) AS reg
        |  FROM h GROUP BY event_type, bucket),
        |a AS (
        |  SELECT event_type,
        |    CAST(256 - count(*) AS INT) AS zeros,
        |    CAST(sum(1::BIGINT << (53 - reg))
        |         + (256 - count(*)) * (1::BIGINT << 53) AS BIGINT) AS ssum
        |  FROM r GROUP BY event_type),
        |e AS (
        |  SELECT event_type, zeros, ssum,
        |    0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
        |      / (CAST(ssum AS DOUBLE) / 9007199254740992.0) AS est_raw
        |  FROM a)
        |SELECT event_type, zeros, ssum,
        |  floor((CASE WHEN zeros > 0 AND est_raw <= 640.0
        |              THEN 256.0 * ln(256.0 / CAST(zeros AS DOUBLE)) ELSE est_raw END)
        |        * 1000000.0 + 0.5) / 1000000.0 AS est_users
        |FROM e ORDER BY event_type""".stripMargin,
    "x18_zorder" -> {
      val z = graft.functions.NumFns.sqlZvalue2("zx", "zy", 16)
      s"""WITH o AS (
         |  SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS zx,
         |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS zy
         |  FROM orders),
         |z AS (SELECT o_orderkey, zx, zy, CAST($z AS BIGINT) AS zv FROM o)
         |SELECT o_orderkey, zx, zy, zv, zv >> 24 AS zbucket
         |FROM z ORDER BY o_orderkey""".stripMargin
    },
    // struct max compares fields positionally in both engines; the
    // (tsn, event_id) prefix is unique, so the winner is identical
    "x19_latest_by_key" ->
      """WITH e AS (
        |  SELECT user_id, {'tsn': epoch_ns(ts), 'event_id': event_id,
        |    'event_type': event_type, 'value': value} AS rec
        |  FROM events),
        |m AS (SELECT user_id, max(rec) AS mx FROM e GROUP BY user_id)
        |SELECT user_id, mx.tsn AS last_ts_ns, mx.event_id AS last_event,
        |  mx.event_type AS last_type, mx.value AS last_value
        |FROM m ORDER BY user_id""".stripMargin,
    "x09_histogram" ->
      """SELECT CAST(floor(value / 50) AS BIGINT) AS bucket, count(*) AS cnt
        |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin,
    // the MM file x20 reads is itself built from lineitem, so the slice
    // is fully recomputable from the source table
    "x20_mm_window" ->
      """SELECT l_orderkey AS row, CAST(l_linenumber AS BIGINT) AS col,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS "value"
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 100 AND 2000 AND l_linenumber <= 4
        |GROUP BY 1, 2 ORDER BY row, col""".stripMargin,
    "x10_unpivot" ->
      """SELECT p_partkey, metric, value FROM (
        |  SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part)
        |ORDER BY p_partkey, metric""".stripMargin,
    "x14_range_join" ->
      """WITH s AS (
        |  SELECT event_id AS sid, epoch_ns(ts) AS sts FROM events WHERE event_type = 'signup'),
        |c AS (SELECT epoch_ns(ts) AS cts FROM events WHERE event_type = 'click')
        |SELECT sid, sts, CAST(count(cts) AS BIGINT) AS n_clicks
        |FROM s LEFT JOIN c ON cts >= sts AND cts < sts + 3600000000000
        |GROUP BY sid, sts ORDER BY sid""".stripMargin,
    "x13_asof_join" ->
      """WITH probe AS (
        |  SELECT user_id, epoch_ns(ts) AS ts, event_id FROM events WHERE event_type = 'click'),
        |build AS (
        |  SELECT user_id, epoch_ns(ts) AS ts, max(event_id) AS vid, epoch_ns(ts) AS vts
        |  FROM events WHERE event_type = 'view' GROUP BY user_id, epoch_ns(ts))
        |SELECT p.user_id, p.ts, p.event_id, b.vid AS matched_vid, b.vts AS matched_vts
        |FROM probe p ASOF LEFT JOIN build b
        |  ON p.user_id = b.user_id AND p.ts >= b.ts
        |ORDER BY p.event_id""".stripMargin,
    // q is CAST to DOUBLE up front (a bare 0.25 is DECIMAL in DuckDB
    // and would drag the est arithmetic into decimal); est and the
    // error are the same fixed-order double chain as the Spark side
    "x23_quantile_sketch" ->
      """WITH v AS (SELECT value FROM events),
        |mm AS (SELECT min(value) AS lo, max(value) AS hi, count(*) AS n FROM v),
        |hist AS (
        |  SELECT CASE WHEN hi = lo THEN 0
        |    ELSE least(CAST(floor((value - lo) / (hi - lo) * 256) AS BIGINT), 255)
        |    END AS bin,
        |    count(*) AS cnt
        |  FROM v, mm GROUP BY 1),
        |cum AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum FROM hist),
        |ex AS (
        |  SELECT CAST(0.25 AS DOUBLE) AS q, quantile_cont(value, 0.25) AS exact FROM v
        |  UNION ALL SELECT CAST(0.5 AS DOUBLE), quantile_cont(value, 0.5) FROM v
        |  UNION ALL SELECT CAST(0.9 AS DOUBLE), quantile_cont(value, 0.9) FROM v),
        |pick AS (
        |  SELECT e.q, e.exact, c.bin, c.cnt, c.cum, m.lo, m.hi, m.n,
        |    row_number() OVER (PARTITION BY e.q ORDER BY c.bin) AS rn
        |  FROM ex e CROSS JOIN mm m JOIN cum c ON c.cum >= e.q * m.n),
        |est AS (
        |  SELECT q, exact,
        |    lo + (hi - lo) * ((bin + (q * n - (cum - cnt)) / cnt) / 256) AS est
        |  FROM pick WHERE rn = 1)
        |SELECT q,
        |  floor(est * 1000000.0 + 0.5) / 1000000.0 AS est,
        |  floor(exact * 1000000.0 + 0.5) / 1000000.0 AS exact,
        |  floor(abs(est - exact) * 1000000.0 + 0.5) / 1000000.0 AS abs_err
        |FROM est ORDER BY q""".stripMargin,
    "x12_percentiles" ->
      """SELECT event_type,
        |  floor((quantile_cont(value, 0.25)) * 1000000.0 + 0.5) / 1000000.0 AS p25,
        |  floor((quantile_cont(value, 0.5)) * 1000000.0 + 0.5) / 1000000.0 AS p50,
        |  floor((quantile_cont(value, 0.9)) * 1000000.0 + 0.5) / 1000000.0 AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x11_skew_salted_join" ->
      """SELECT e.event_type, d.type_cnt, count(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events e
        |JOIN (SELECT event_type, count(*) AS type_cnt
        |      FROM events GROUP BY event_type) d
        |  ON e.event_type = d.event_type
        |GROUP BY e.event_type, d.type_cnt
        |ORDER BY e.event_type""".stripMargin,
    "x24_assoc_rules" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |n AS (SELECT count(DISTINCT o) AS nord FROM items),
        |ic AS (SELECT p, count(*) AS np FROM items GROUP BY p),
        |pairs AS (
        |  SELECT a.p AS pa, b.p AS pb, count(*) AS nab
        |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |rules AS (
        |  SELECT pa AS ant, pb AS cons, nab FROM pairs
        |  UNION ALL SELECT pb, pa, nab FROM pairs)
        |SELECT r.ant, r.cons, r.nab AS support,
        |  floor((CAST(r.nab AS DOUBLE) / ca.np) * 1000000.0 + 0.5) / 1000000.0
        |    AS confidence,
        |  floor((CAST(r.nab * n.nord AS DOUBLE) / (ca.np * cb.np)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS lift
        |FROM rules r
        |JOIN ic ca ON r.ant = ca.p JOIN ic cb ON r.cons = cb.p CROSS JOIN n
        |ORDER BY r.ant, r.cons""".stripMargin,
    "x25_scd2_intervals" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tsn, event_type FROM events),
        |c AS (
        |  SELECT user_id, event_id, tsn, event_type,
        |    CASE WHEN lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY tsn, event_id) IS DISTINCT FROM event_type
        |      THEN 1 ELSE 0 END AS chg
        |  FROM e),
        |v AS (
        |  SELECT user_id, tsn, event_type,
        |    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS BIGINT) AS ver
        |  FROM c),
        |iv AS (
        |  SELECT user_id, ver, max(event_type) AS state, min(tsn) AS valid_from,
        |    count(*) AS n_events
        |  FROM v GROUP BY user_id, ver)
        |SELECT user_id, ver AS version, state, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY ver) AS valid_to,
        |  n_events
        |FROM iv ORDER BY user_id, version""".stripMargin,
    "x26_ranking_funcs" ->
      """SELECT o_orderpriority, o_orderkey, o_orderstatus,
        |  rank() OVER wt AS rnk,
        |  dense_rank() OVER wt AS drnk,
        |  floor((percent_rank() OVER wt) * 1000000.0 + 0.5) / 1000000.0 AS prnk,
        |  floor((cume_dist() OVER wt) * 1000000.0 + 0.5) / 1000000.0 AS cdist,
        |  ntile(4) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS tile
        |FROM orders
        |WINDOW wt AS (PARTITION BY o_orderpriority ORDER BY o_orderstatus)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "x27_merge_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
        |upd AS (
        |  SELECT o_orderkey AS k, 'U' AS op, o_totalprice + 1000.0 AS new_price
        |  FROM base WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0),
        |del AS (
        |  SELECT o_orderkey, 'D', CAST(NULL AS DOUBLE) FROM base
        |  WHERE o_orderkey % 11 = 0),
        |ins AS (
        |  SELECT -o_orderkey, 'I', o_totalprice FROM base
        |  WHERE o_orderkey % 13 = 0),
        |changes AS (
        |  SELECT * FROM upd UNION ALL SELECT * FROM del
        |  UNION ALL SELECT * FROM ins),
        |m AS (SELECT * FROM base FULL OUTER JOIN changes ON o_orderkey = k)
        |SELECT coalesce(o_orderkey, k) AS orderkey,
        |  CASE WHEN op IN ('U', 'I') THEN new_price ELSE o_totalprice END
        |    AS totalprice,
        |  coalesce(op, 'base') AS src
        |FROM m WHERE coalesce(op, '') <> 'D'
        |ORDER BY orderkey""".stripMargin,
    // deliberately NOT the partial-merge restatement: the oracle
    // recomputes the aggregate directly over all rows, so the compare
    // verifies merge-of-partials == full recompute
    "x28_incremental_agg" ->
      """SELECT o_custkey,
        |  count(*) AS orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |    AS DOUBLE) AS revenue
        |FROM orders GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,
    "x29_gap_fill" -> X29Sql,
    "x30_fingerprint" ->
      """WITH h AS (
        |  SELECT source,
        |    CAST(concat('0x', substr(md5(
        |      concat_ws(chr(1), CAST(doc_id AS VARCHAR), lang, source, text)
        |    ), 1, 15)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT source, count(*) AS cnt, bit_xor(h) AS xor_sig,
        |  min(h) AS min_h, max(h) AS max_h
        |FROM h GROUP BY source
        |ORDER BY source""".stripMargin,
    // composes the pinned x29 grid; dyadic weights keep num/den exact
    // longs (sums cast back from DuckDB's HUGEINT)
    "x32_ewma" ->
      s"""WITH x29 AS ($X29Sql),
         |rep AS (
         |  SELECT event_type, day + k AS day2,
         |    cnt_filled * (1 << (7 - k)) AS cw, (1 << (7 - k)) AS w
         |  FROM x29, (SELECT unnest(range(0, 8)) AS k) ks),
         |f AS (
         |  SELECT event_type, day2,
         |    CAST(sum(cw) AS BIGINT) AS num, CAST(sum(w) AS BIGINT) AS den
         |  FROM rep GROUP BY event_type, day2)
         |SELECT g.event_type, g.day, g.cnt_filled, f.num, f.den,
         |  floor((CAST(f.num AS DOUBLE) / f.den) * 1000000.0 + 0.5)
         |    / 1000000.0 AS ewma
         |FROM x29 g JOIN f ON g.event_type = f.event_type AND g.day = f.day2
         |ORDER BY g.event_type, g.day""".stripMargin,
    // composes the pinned x29 grid; two complete 7-day frames per
    // scored day, ranked by |shift| (integer sums cast from HUGEINT)
    "x33_level_shift" ->
      s"""WITH x29 AS ($X29Sql),
         |w AS (
         |  SELECT event_type, day,
         |    CAST(sum(cnt_filled) OVER (PARTITION BY event_type ORDER BY day
         |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS before7,
         |    count(*) OVER (PARTITION BY event_type ORDER BY day
         |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS nb,
         |    CAST(sum(cnt_filled) OVER (PARTITION BY event_type ORDER BY day
         |      ROWS BETWEEN 1 FOLLOWING AND 7 FOLLOWING) AS BIGINT) AS after7,
         |    count(*) OVER (PARTITION BY event_type ORDER BY day
         |      ROWS BETWEEN 1 FOLLOWING AND 7 FOLLOWING) AS na
         |  FROM x29)
         |SELECT event_type, day, before7, after7,
         |  after7 - before7 AS shift
         |FROM w WHERE nb = 7 AND na = 7
         |ORDER BY abs(after7 - before7) DESC, event_type, day
         |LIMIT 10""".stripMargin,
    // same k-min ranking of the same md5-derived hashes (x17's replay
    // pattern); union/slice/filter on the 64-long lists mirror the
    // Spark array expressions; jac folds by the same long division
    "x35_kmv_overlap" ->
      """WITH h AS (
        |  SELECT DISTINCT source,
        |    CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |r AS (SELECT source, h,
        |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
        |sk AS (SELECT source, list(h ORDER BY h) AS hs
        |  FROM r WHERE rn <= 64 GROUP BY source),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |    list_slice(list_sort(list_distinct(a.hs || b.hs)), 1, 64) AS un,
        |    a.hs AS ha, b.hs AS hb
        |  FROM sk a JOIN sk b ON a.source < b.source),
        |sc AS (SELECT source_a, source_b,
        |    CAST(len(un) AS BIGINT) AS held,
        |    CAST(len(list_filter(un,
        |      x -> list_contains(ha, x) AND list_contains(hb, x))) AS BIGINT) AS inter
        |  FROM p)
        |SELECT source_a, source_b, held, inter,
        |  CAST((inter * 1000000) // held AS BIGINT) AS jac_micro,
        |  floor((CAST((inter * 1000000) // held AS DOUBLE) / 1000000.0)
        |    * 1000000.0 + 0.5) / 1000000.0 AS jac
        |FROM sc ORDER BY source_a, source_b""".stripMargin,
    // same simulated snapshots; cents/day folded before hashing, the
    // p09 md5-prefix mirror of graft_md5p60
    "x34_snapshot_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey, o_orderstatus, o_orderpriority,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |    epoch_us(o_orderdate) // 86400000000 AS day
        |  FROM orders),
        |h1 AS (
        |  SELECT k, CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |    CAST(o_custkey AS VARCHAR), o_orderstatus, o_orderpriority,
        |    CAST(cents AS VARCHAR), CAST(day AS VARCHAR))), 1, 15)) AS BIGINT) AS h
        |  FROM base WHERE k % 103 <> 0),
        |h2 AS (
        |  SELECT k, CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |    CAST(o_custkey AS VARCHAR), o_orderstatus, o_orderpriority,
        |    CAST(cents + CASE WHEN k % 97 = 0 THEN 100 ELSE 0 END AS VARCHAR),
        |    CAST(day AS VARCHAR))), 1, 15)) AS BIGINT) AS h
        |  FROM base WHERE k % 101 <> 0),
        |j AS (
        |  SELECT coalesce(h1.k, h2.k) AS k,
        |    CASE WHEN h1.h IS NULL THEN 'added'
        |         WHEN h2.h IS NULL THEN 'removed'
        |         WHEN h1.h <> h2.h THEN 'changed'
        |         ELSE 'unchanged' END AS change
        |  FROM h1 FULL OUTER JOIN h2 ON h1.k = h2.k)
        |SELECT change, count(*) AS n, min(k) AS min_key, max(k) AS max_key
        |FROM j GROUP BY change ORDER BY change""".stripMargin,
    // one UNION leg per column (each leg re-aggregates the table —
    // the oracle restates the semantics; Spark does it in ONE pass)
    "x31_profile" -> {
      def leg(name: String, x: String, isNum: Boolean): String = {
        val (mnN, mxN) =
          if (isNum) (s"CAST(min($x) AS DOUBLE)", s"CAST(max($x) AS DOUBLE)")
          else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
        val (mnS, mxS) =
          if (isNum) ("CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
          else (s"min($x)", s"max($x)")
        s"""SELECT '$name' AS "column", count(*) AS n_rows,
           |  count($x) AS n_nonnull, count(DISTINCT $x) AS n_distinct,
           |  floor((CAST(count($x) AS DOUBLE) / count(*)) * 1000000.0 + 0.5)
           |    / 1000000.0 AS completeness,
           |  $mnN AS min_num, $mxN AS max_num,
           |  $mnS AS min_str, $mxS AS max_str
           |FROM events""".stripMargin
      }
      val legs = Seq(
        leg("event_id", "event_id", isNum = true),
        leg("ts", "epoch_ns(ts)", isNum = true),
        leg("user_id", "user_id", isNum = true),
        leg("value", "value", isNum = true),
        leg("event_type", "event_type", isNum = false),
        leg("props", "props", isNum = false))
      s"""SELECT * FROM (
         |${legs.mkString("\nUNION ALL\n")}
         |) ORDER BY "column"""".stripMargin
    }
  )
}
