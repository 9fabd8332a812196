package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.Writers

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val H = 3600L * 1000 * 1000 * 1000 // 1h in ns

  test("sessionize (batch): gap splits, totals, event bounds") {
    val gap = 30L * 60 * 1000 * 1000 * 1000
    val events = Seq(
      Streaming.Event(1L, 0L, 10L, 1.0),
      Streaming.Event(1L, gap, 11L, 2.0), // exactly gap -> same session
      Streaming.Event(1L, 2 * gap + 1, 12L, 3.0), // gap+1 after -> new session
      Streaming.Event(2L, 0L, 20L, 5.0)).toDS()
    val out = Streaming.sessionize(events, gap).collect()
      .sortBy(s => (s.user_id, s.session_start_ns))
    assert(out.length == 3)
    assert(out(0) == Streaming.Session(1L, 0L, 2, 10L, 11L, 3.0))
    assert(out(1) == Streaming.Session(1L, 2 * gap + 1, 1, 12L, 12L, 3.0))
    assert(out(2) == Streaming.Session(2L, 0L, 1, 20L, 20L, 5.0))
  }

  test("sessionize (batch): matches an independent fold on 1500 random events (seeded)") {
    val gap = 30L * 60 * 1000 * 1000 * 1000
    val rnd = new scala.util.Random(123)
    // per user: ts deltas straddling the gap boundary (incl. EXACTLY gap
    // = same session), plus same-ts ties with distinct event ids
    var nextId = 1000L
    val events = (1L to 15L).flatMap { user =>
      var ts = 1L + rnd.nextInt(1000)
      (1 to 100).flatMap { _ =>
        val delta = rnd.nextInt(4) match {
          case 0 => rnd.nextLong(gap)      // within gap
          case 1 => gap                    // exactly gap -> same session
          case 2 => gap + 1 + rnd.nextLong(gap) // gap exceeded -> split
          case 3 => 0L                     // tie on ts
        }
        ts += delta
        nextId += 1
        Seq(Streaming.Event(user, ts, nextId, (rnd.nextInt(1000)) / 100.0))
      }
    }
    // independent fold: sort by (ts, id), split on ts-diff > gap
    val expected = events.groupBy(_.user_id).flatMap { case (u, evs) =>
      val sorted = evs.sortBy(e => (e.ts_ns, e.event_id))
      val sessions = scala.collection.mutable.ListBuffer
        .empty[scala.collection.mutable.ListBuffer[Streaming.Event]]
      sorted.foreach { e =>
        if (sessions.nonEmpty && e.ts_ns - sessions.last.last.ts_ns <= gap)
          sessions.last += e
        else sessions += scala.collection.mutable.ListBuffer(e)
      }
      sessions.map { ss =>
        Streaming.Session(u, ss.head.ts_ns, ss.length,
          ss.head.event_id, ss.last.event_id,
          ss.foldLeft(0.0)(_ + _.value))
      }
    }.toSet
    import spark.implicits._
    val got = Streaming.sessionize(
      rnd.shuffle(events).toDS(), gap).collect().toSet
    assert(got == expected,
      s"diff: extra=${got -- expected}, missing=${expected -- got}")
  }

  test("sessionize (streaming): gap-close emits once, idle keys evicted by event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val gap = 30L * 60 * 1000 * 1000 * 1000 // 30 min in ns
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val events = mem.toDF().toDF("user_id", "ts_ns", "event_id", "value")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
      .withWatermark("ts", "0 seconds")
      .as[Streaming.Event]
    val out = Streaming.sessionize(events, gap)
    Writers.withScratchDir(spark, "graft-sess-ckpt") { ckpt =>
      val q = out.writeStream.format("memory").queryName("sessions")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      def rows() = spark.table("sessions").as[Streaming.Session].collect().toSeq
      // keep every event strictly above the initial watermark (0) or the
      // late-event filter drops it before it reaches the state function
      val base = 100 * gap
      try {
        // trigger 1: user 1 has two events inside one session; user 2 one event
        mem.addData((1L, base, 10L, 1.0), (1L, base + gap, 11L, 2.0), (2L, base, 20L, 5.0))
        q.processAllAvailable()
        assert(rows().isEmpty) // all sessions still open -> nothing emitted
        // trigger 2: a far-future event for user 1 closes their first session
        // by gap-exceed AND advances the watermark past user 2's gap horizon,
        // so user 2's idle session is flushed by the event-time timeout
        mem.addData((1L, base + 10 * gap, 12L, 3.0))
        q.processAllAvailable()
        // one more trigger so any timeout scheduled at the end of trigger 2
        // has a batch to fire in
        mem.addData((1L, base + 11 * gap, 13L, 4.0))
        q.processAllAvailable()
        val got = rows().sortBy(s => (s.user_id, s.session_start_ns))
        assert(got == Seq(
          Streaming.Session(1L, base, 2, 10L, 11L, 3.0),
          Streaming.Session(2L, base, 1, 20L, 20L, 5.0)),
          s"closed sessions emitted exactly once, idle key evicted; got $got")
      } finally q.stop()
    }
  }

  test("streaming dedup under the RocksDB state store provider") {
    // at 100 TB streaming state outgrows the JVM heap: RocksDB keeps it
    // off-heap/on-disk with incremental checkpoints. The same transform
    // must produce the same answers under either provider — this pins
    // the dedup path (dropDuplicates state) against the RocksDB backend.
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, String, Double)]
      val events = mem.toDF().toDF("ts_ns", "event_type", "value")
        .select(Streaming.tsFromNanos(col("ts_ns")).as("ts"),
          col("event_type"), col("value"))
      val out = Streaming.dedupStream(events, Seq("event_type"))
      Writers.withScratchDir(spark, "graft-rocksdb-ckpt") { ckpt =>
        val sink = "rocksdb_dedup"
        spark.catalog.dropTempView(sink)
        val q = out.writeStream.format("memory").queryName(sink)
          .outputMode("append").option("checkpointLocation", ckpt).start()
        try {
          mem.addData((1000L, "click", 1.0), (1000L, "click", 1.5), (2000L, "view", 2.0))
          q.processAllAvailable()
          mem.addData((1000L, "click", 9.9), (3000L, "buy", 3.0))
          q.processAllAvailable()
          // RocksDB actually served the state store for this query
          assert(q.lastProgress.stateOperators.nonEmpty)
          val got = spark.table(sink).select("event_type", "value").collect()
            .map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
          assert(got == Seq(("buy", 3.0), ("click", 1.0), ("view", 2.0)),
            s"dedup answers must be provider-independent; got $got")
        } finally q.stop()
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("sessionize (streaming): late event within the watermark merges without regressing the session end") {
    implicit val sqlCtx = spark.sqlContext
    val gap = 30L * 60 * 1000 * 1000 * 1000
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val events = mem.toDF().toDF("user_id", "ts_ns", "event_id", "value")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
      .withWatermark("ts", "2 hours") // 4x the gap: late events survive the filter
      .as[Streaming.Event]
    val out = Streaming.sessionize(events, gap)
    Writers.withScratchDir(spark, "graft-sess-late-ckpt") { ckpt =>
      val q = out.writeStream.format("memory").queryName("sessions_late")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      val base = 100 * gap
      try {
        mem.addData((1L, base, 10L, 1.0), (1L, base + gap / 2, 11L, 2.0))
        q.processAllAvailable()
        // LATE: older than the open session's lastNs but inside the gap and
        // the watermark — must merge as an interior event (end stays id 11)
        mem.addData((1L, base + gap / 4, 12L, 4.0))
        q.processAllAvailable()
        // far-future event closes the session by gap-exceed (not yet final:
        // the watermark hasn't reached its end+gap horizon)
        mem.addData((1L, base + 20 * gap, 13L, 8.0))
        q.processAllAvailable()
        // next trigger advances the watermark past end+gap -> finalized
        mem.addData((1L, base + 21 * gap, 14L, 16.0))
        q.processAllAvailable()
        val got = spark.table("sessions_late").as[Streaming.Session].collect().toSeq
        assert(got == Seq(Streaming.Session(1L, base, 3, 10L, 11L, 7.0)),
          s"late event merged interior, end not regressed; got $got")
      } finally q.stop()
    }
  }

  test("sessionize (streaming): too-late event merges into a gap-closed pending session") {
    implicit val sqlCtx = spark.sqlContext
    val gap = 30L * 60 * 1000 * 1000 * 1000
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val events = mem.toDF().toDF("user_id", "ts_ns", "event_id", "value")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
      .withWatermark("ts", "2 hours") // 4x the gap
      .as[Streaming.Event]
    val out = Streaming.sessionize(events, gap)
    Writers.withScratchDir(spark, "graft-sess-pend-ckpt") { ckpt =>
      val q = out.writeStream.format("memory").queryName("sessions_pending")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      val base = 100 * gap
      try {
        mem.addData((1L, base, 10L, 1.0))
        q.processAllAvailable()
        // 3 gaps later: session 1 closes by gap-exceed, held pending
        mem.addData((1L, base + 3 * gap, 11L, 2.0))
        q.processAllAvailable()
        // TOO-LATE event: > gap before the open session, but inside the
        // watermark and inside pending session 1's gap-extended span —
        // merges there (round 2 emitted this as a spurious singleton)
        mem.addData((1L, base + gap / 2, 12L, 4.0))
        q.processAllAvailable()
        // two more triggers advance the watermark past both horizons
        mem.addData((1L, base + 8 * gap, 13L, 8.0))
        q.processAllAvailable()
        mem.addData((1L, base + 9 * gap, 14L, 16.0))
        q.processAllAvailable()
        val got = spark.table("sessions_pending").as[Streaming.Session]
          .collect().toSeq.sortBy(_.session_start_ns)
        assert(got == Seq(
          Streaming.Session(1L, base, 2, 10L, 12L, 5.0),
          Streaming.Session(1L, base + 3 * gap, 1, 11L, 11L, 2.0)),
          s"too-late event merged into pending, no singleton; got $got")
      } finally q.stop()
    }
  }

  test("dedupNearStream: full-signature minhash dedup, short-doc exact fallback") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val docs = mem.toDF().toDF("ts_ns", "doc_id", "text")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
    val out = Streaming.dedupNearStream(docs, "text", "1 hour")
    Writers.withScratchDir(spark, "graft-neardup-ckpt") { ckpt =>
      val q = out.writeStream.format("memory").queryName("neardup")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      val a = "the quick brown fox jumps high"
      val b = "the quick brown fox leaps high" // different shingle set
      try {
        mem.addData((1000L, 1L, a), (2000L, 2L, a), (3000L, 3L, b),
          (4000L, 4L, "hi"), (5000L, 5L, "hi"))
        q.processAllAvailable()
        // a second copy of `a` in a later trigger, still inside the watermark
        mem.addData((6000L, 6L, a))
        q.processAllAvailable()
        val ids = spark.table("neardup").select("doc_id")
          .collect().map(_.getLong(0)).toSet
        assert(ids == Set(1L, 3L, 4L),
          s"dup text + cross-trigger dup dropped, variant and one short doc kept; got $ids")
      } finally q.stop()
      // batch twin: same keys, plain dropDuplicates semantics
      import spark.implicits._
      val batch = Seq((1L, a), (2L, a), (3L, b), (4L, "hi"), (5L, "hi"))
        .toDF("doc_id", "text")
      assert(Streaming.dedupNearStream(batch, "text").count() == 3)
    }
  }

  test("decontaminateStream: broadcast bloom flags benchmark grams, stream == batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val M = 1L << 12
    val K = 3
    // benchmark set -> 8 KB bitset via the native aggregate
    val bits = Seq("alpha beta gamma delta", "one two three four").toDF("text")
      .select(explode(array_distinct(graft.functions.TextFns.grams3(
        graft.functions.TextFns.tokens(col("text"))))).as("g"))
      .distinct()
      .select(call_function("graft_md5p60", col("g")).as("h1"),
        call_function("graft_md5p60", concat(lit("#"), col("g"))).as("h2"))
      .agg(expr(s"graft_bloom(h1, h2, $M, $K)").as("bits"))
      .head().getAs[Array[Byte]](0)
    val contaminated = "alpha beta gamma delta extra" // 2 of 3 grams are benchmark grams
    val clean = "zz yy xx ww vv"
    val mem = MemoryStream[(Long, String)]
    val out = Streaming.decontaminateStream(
      mem.toDF().toDF("doc_id", "text"), bits, M, K)
    Writers.withScratchDir(spark, "graft-decontam-ckpt") { ckpt =>
      val q = out.writeStream.format("memory").queryName("decontam")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      try {
        mem.addData((1L, contaminated), (2L, clean))
        q.processAllAvailable()
        val got = spark.table("decontam").select("doc_id", "n_grams", "n_bloom")
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        // no false negatives: both true benchmark grams flagged
        assert(got(1L)._1 == 3L && got(1L)._2 >= 2L, s"contaminated doc under-flagged: $got")
        assert(got(2L)._2 == 0L, s"clean doc false-flagged: $got")
        // stateless transform: batch twin returns the identical flags
        val batch = Streaming.decontaminateStream(
          Seq((1L, contaminated), (2L, clean)).toDF("doc_id", "text"), bits, M, K)
          .select("doc_id", "n_grams", "n_bloom")
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        assert(batch == got, s"stream/batch divergence: $batch vs $got")
      } finally q.stop()
    }
  }

  test("dedupChunksStream: chunk-level dedup across documents and triggers") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val docs = mem.toDF().toDF("ts_ns", "doc_id", "text")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
    // window 4 / stride 4 on tiny docs: doc 2 repeats doc 1's first
    // 4-token chunk inside a DIFFERENT document; doc 3 is fresh
    val out = Streaming.dedupChunksStream(docs, "text", "1 hour",
      window = 4, stride = 4)
    Writers.withScratchDir(spark, "graft-chunkdedup-ckpt") { ckpt =>
      val q = out.writeStream.format("memory").queryName("chunkdedup")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      val shared = "a b c d"
      try {
        mem.addData((1000L, 1L, s"$shared e f g h"), (2000L, 2L, s"$shared x y z w"))
        q.processAllAvailable()
        // later trigger, still in the watermark: the shared chunk stays dropped
        mem.addData((3000L, 3L, s"$shared q r s t"))
        q.processAllAvailable()
        val got = spark.table("chunkdedup").select("doc_id", "chunk_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == Set((1L, 0L), (1L, 1L), (2L, 1L), (3L, 1L)),
          s"one owner per distinct chunk; got $got")
      } finally q.stop()
      // batch twin drops the same repeats
      import spark.implicits._
      val batch = Seq((1L, s"$shared e f g h"), (2L, s"$shared x y z w"))
        .toDF("doc_id", "text")
      assert(Streaming.dedupChunksStream(batch, "text", window = 4, stride = 4)
        .count() == 3)
    }
  }

  test("dedupCdcChunksStream: an edited re-post dedups outside the edit window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val docs = mem.toDF().toDF("ts_ns", "doc_id", "text")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
    val out = Streaming.dedupCdcChunksStream(docs, "text", "1 hour")
    Writers.withScratchDir(spark, "graft-cdcdedup-ckpt") { ckpt =>
      val q = out.writeStream.format("memory").queryName("cdcdedup")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      val rnd = new scala.util.Random(31)
      val original = (1 to 2000).map(_ => (32 + rnd.nextInt(95)).toChar).mkString
      val edited = original.substring(0, 50) + "EDITED:" + original.substring(50)
      try {
        mem.addData((1000L, 1L, original))
        q.processAllAvailable()
        mem.addData((2000L, 2L, edited)) // re-post with one insertion
        q.processAllAvailable()
        val byDoc = spark.table("cdcdedup").select("doc_id", "chunk")
          .collect().map(r => (r.getLong(0), r.getString(1)))
          .groupBy(_._1).view.mapValues(_.length).toMap
        val n1 = byDoc.getOrElse(1L, 0)
        val n2 = byDoc.getOrElse(2L, 0)
        assert(n1 > 5, s"expected several CDC chunks from a 2000-char doc, got $n1")
        // boundaries resynchronize: only the chunks touching the edit
        // survive for doc 2 — the shared tail dedups against doc 1
        assert(n2 > 0 && n2 <= 3,
          s"edited re-post should contribute only edit-window chunks, got $n2 (of $n1)")
      } finally q.stop()
      // batch twin: identical texts collapse to one owner per chunk
      import spark.implicits._
      val batch = Seq((1L, original), (2L, original)).toDF("doc_id", "text")
      val batchChunks = Streaming.dedupCdcChunksStream(batch, "text")
      assert(batchChunks.select("chunk_key").distinct().count() == batchChunks.count())
    }
  }

  test("chunk math fuzz: boundaries and ids match an independent fold (seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    // token counts hit the edges: 0 (empty text), 1, W-1, W, W+1, multiples
    // of the stride, and random lengths; tokens unique so nothing dedups
    val counts = Seq(0, 1, 4, 5, 6, 7, 8, 10, 14, 15) ++ (1 to 20).map(_ => rnd.nextInt(40))
    val docs = counts.zipWithIndex.map { case (n, i) =>
      (i.toLong, (0 until n).map(j => s"w${i}_$j").mkString(" "))
    }
    val (w, s) = (7, 5)
    val got = Streaming.dedupChunksStream(docs.toDF("doc_id", "text"),
        "text", window = w, stride = s)
      .select("doc_id", "chunk_id", "chunk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val expected = docs.flatMap { case (id, text) =>
      val toks = text.split(" ", -1) // "" splits to one empty token, as in SQL
      Iterator.from(0).map(i => 1 + i * s).takeWhile(_ <= toks.length).map { start =>
        (id, ((start - 1) / s).toLong,
          toks.slice(start - 1, start - 1 + w).mkString(" "))
      }
    }.toSet
    assert(got == expected)
  }

  test("dedupStream + enrich over a MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Double)]
    val events = mem.toDF().toDF("ts_ns", "user_id", "value")
      .select(Streaming.tsFromNanos(col("ts_ns")).as("ts"),
        col("user_id"), col("value"))
    val dim = Seq((7L, "gold"), (8L, "basic")).toDF("user_id", "tier")
    val out = Streaming.enrich(
      Streaming.dedupStream(events, Seq("user_id")), dim, "user_id")
    Writers.withScratchDir(spark, "graft-dedup-ckpt") { ckpt =>
      val q = out.writeStream.format("memory").queryName("dedup_enriched")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      try {
        // duplicate (ts, user_id) pairs arrive; only one survives
        mem.addData((1000L, 7L, 1.0), (1000L, 7L, 1.0), (2000L, 8L, 2.0))
        q.processAllAvailable()
        val rows = spark.table("dedup_enriched")
          .select("user_id", "tier").collect()
          .map(r => (r.getLong(0), r.getString(1))).sorted
        assert(rows.toSeq == Seq((7L, "gold"), (8L, "basic")).sorted)
      } finally q.stop()
    }
  }

  test("streamIntervalJoin: clicks join preceding views within the lag, state watermark-bounded") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Long, Long)] // (user_id, ts_ns, view_id)
    val clicks = MemoryStream[(Long, Long, Long)] // (user_id, ts_ns, click_id)
    def src(m: MemoryStream[(Long, Long, Long)], idName: String) =
      m.toDF().toDF("user_id", "ts_ns", idName)
        .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
        .withWatermark("ts", "1 hour")
    val joined = Streaming.streamIntervalJoin(
      src(clicks, "click_id"), src(views, "view_id"), "user_id", "30 minutes")
      .select("user_id", "l_click_id", "r_view_id")
    Writers.withScratchDir(spark, "graft-ssjoin-ckpt") { ckpt =>
      val q = joined.writeStream.format("memory").queryName("attributed")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      val M = 60L * 1000 * 1000 * 1000 // 1 min in ns
      try {
        // user 1: view at t+0 and t+40min; click at t+50min -> only the
        // 40min view is within the 30-min lag. user 2: view AFTER the
        // click -> no attribution.
        views.addData((1L, 100 * M, 501L), (1L, 140 * M, 502L), (2L, 170 * M, 503L))
        clicks.addData((1L, 150 * M, 901L), (2L, 160 * M, 902L))
        q.processAllAvailable()
        val got = spark.table("attributed").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == Set((1L, 901L, 502L)),
          s"only the in-window preceding view attributes; got $got")
      } finally q.stop()
    }
  }

  test("streamIntervalJoin full_outer: null rows from BOTH sides, each watermark-gated by its own eviction bound") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Long, Long)] // (user_id, ts_ns, view_id)
    val clicks = MemoryStream[(Long, Long, Long)] // (user_id, ts_ns, click_id)
    def src(m: MemoryStream[(Long, Long, Long)], idName: String) =
      m.toDF().toDF("user_id", "ts_ns", idName)
        .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
        .withWatermark("ts", "1 hour")
    val joined = Streaming.streamIntervalJoin(
      src(clicks, "click_id"), src(views, "view_id"), "user_id", "30 minutes",
      "full_outer")
      .select("user_id", "l_click_id", "r_view_id")
    Writers.withScratchDir(spark, "graft-fojoin-ckpt") { ckpt =>
      val q = joined.writeStream.format("memory").queryName("fo_attributed")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      val M = 60L * 1000 * 1000 * 1000 // 1 min in ns
      try {
        // user 1: views at 100 and 140, click at 150 -> 140 matches (within
        // the 30-min lag), 100 is an unmatched view. user 2: click at 160
        // with no views (unmatched click), view at 170 AFTER the click
        // (unmatched view). users 3/4: boundary probes for each side's
        // eviction bound under the final watermark.
        views.addData((1L, 100 * M, 501L), (1L, 140 * M, 502L), (2L, 170 * M, 503L))
        clicks.addData((1L, 150 * M, 901L), (2L, 160 * M, 902L))
        q.processAllAvailable()
        // sentinels advance both watermark nodes to 400 - 60 = 340 min;
        // boundary rows: clicks at 339/340/341 (left bound = wm), views at
        // 309/310/311 (right bound = wm - lag)
        clicks.addData((3L, 339 * M, 903L), (3L, 340 * M, 904L), (3L, 341 * M, 905L))
        views.addData((4L, 309 * M, 504L), (4L, 310 * M, 505L), (4L, 311 * M, 506L))
        clicks.addData((99L, 400 * M, 999L))
        views.addData((98L, 400 * M, 599L))
        q.processAllAvailable()
        val got = spark.table("fo_attributed").collect()
          .map(r => (r.getLong(0),
            if (r.isNullAt(1)) -1L else r.getLong(1),
            if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
        val matches = got.filter(t => t._2 >= 0 && t._3 >= 0)
        val nullClicks = got.collect { case (_, c, -1L) if c >= 0 => c }
        val nullViews = got.collect { case (_, -1L, v) => v }
        assert(matches == Set((1L, 901L, 502L)), s"matches: $got")
        // left eviction: l_ts strictly below wm (the e24 contract)
        assert(nullClicks == Set(902L, 903L),
          s"unmatched clicks must be exactly those strictly below wm=340; got $nullClicks")
        // right eviction: r_ts strictly below wm - lag
        assert(nullViews == Set(501L, 503L, 504L),
          s"unmatched views must be exactly those strictly below wm-lag=310; got $nullViews")
      } finally q.stop()
    }
  }

  test("streamIntervalJoin right_outer: only unmatched-RIGHT null rows, key non-null") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Long, Long)]
    val clicks = MemoryStream[(Long, Long, Long)]
    def src(m: MemoryStream[(Long, Long, Long)], idName: String) =
      m.toDF().toDF("user_id", "ts_ns", idName)
        .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
        .withWatermark("ts", "1 hour")
    val joined = Streaming.streamIntervalJoin(
      src(clicks, "click_id"), src(views, "view_id"), "user_id", "30 minutes",
      "right_outer")
      .select("user_id", "l_click_id", "r_view_id")
    Writers.withScratchDir(spark, "graft-rojoin-ckpt") { ckpt =>
      val q = joined.writeStream.format("memory").queryName("ro_attributed")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      val M = 60L * 1000 * 1000 * 1000
      try {
        // same base fixture as the full-outer test: one match (901, 502),
        // unmatched click 902 (must NOT produce a null row here),
        // unmatched views 501/503 (must)
        views.addData((1L, 100 * M, 501L), (1L, 140 * M, 502L), (2L, 170 * M, 503L))
        clicks.addData((1L, 150 * M, 901L), (2L, 160 * M, 902L))
        q.processAllAvailable()
        clicks.addData((99L, 400 * M, 999L))
        views.addData((98L, 400 * M, 599L))
        q.processAllAvailable()
        val rows = spark.table("ro_attributed").collect()
        assert(rows.forall(!_.isNullAt(0)), "key must be coalesced non-null")
        val got = rows.map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2))).toSet
        assert(got == Set((1L, 901L, 502L), (1L, -1L, 501L), (2L, -1L, 503L)),
          s"matches + right nulls only (no unmatched-click rows); got $got")
      } finally q.stop()
    }
  }

  test("streamIntervalJoin full_outer: buffered join state survives a query RESTART (e24-e26 crash pin)") {
    // the crash-recovery pin for the OUTER interval-join family
    // (VERDICT r11 #2): e24/e25/e26 all ride this one built-in operator
    // whose buffered-row state lives in the checkpoint's state store —
    // full_outer exercises BOTH sides' buffers and BOTH null-emission
    // horizons, so one pin covers the family. Query A buffers one view
    // and one click (nothing emits — no match yet, watermark too low to
    // evict); query B resumes and (a) a new click must match the
    // RESTORED view, (b) watermark-advancing sentinels must emit the
    // null rows of the RESTORED unmatched rows on each side's own
    // eviction bound — all three results are only producible from
    // round-tripped state.
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Long, Long)]
    val clicks = MemoryStream[(Long, Long, Long)]
    def src(m: MemoryStream[(Long, Long, Long)], idName: String) =
      m.toDF().toDF("user_id", "ts_ns", idName)
        .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
        .withWatermark("ts", "1 hour")
    val joined = Streaming.streamIntervalJoin(
      src(clicks, "click_id"), src(views, "view_id"), "user_id", "30 minutes",
      "full_outer")
      .select("user_id", "l_click_id", "r_view_id")
    Writers.withScratchDir(spark, "graft-fojoin-rs-ckpt") { ckpt =>
      val got = java.util.Collections.synchronizedList(
        new java.util.ArrayList[(Long, Long, Long)]())
      def start() = joined.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => got.add((r.getLong(0),
            if (r.isNullAt(1)) -1L else r.getLong(1),
            if (r.isNullAt(2)) -1L else r.getLong(2))))
        }
        .outputMode("append").option("checkpointLocation", ckpt).start()
      val M = 60L * 1000 * 1000 * 1000 // 1 min in ns
      // query A: view 501 (user 1) and click 902 (user 2) enter the join
      // buffers; no match, watermark min(100,90)−60 too low to evict —
      // NOTHING emits; CRASH (stop)
      val q1 = start()
      views.addData((1L, 100 * M, 501L))
      clicks.addData((2L, 90 * M, 902L))
      q1.processAllAvailable()
      q1.stop()
      import scala.jdk.CollectionConverters._
      assert(got.asScala.isEmpty, s"query A must emit nothing; got ${got.asScala}")
      // query B resumes from the checkpoint
      val q2 = start()
      try {
        // click 901 at 120 matches the RESTORED view 501 at 100 (20 min ≤
        // the 30-min lag); view 503 enters unmatched for the eviction probe
        clicks.addData((1L, 120 * M, 901L))
        views.addData((3L, 200 * M, 503L))
        q2.processAllAvailable()
        // sentinels push both sides' watermark to 400 − 60 = 340: the
        // restored unmatched click 902 (90 < 340) and the unmatched view
        // 503 (200 < 340 − 30) must emit their null rows; the matched
        // 501/901 pair must NOT re-emit as nulls
        clicks.addData((99L, 400 * M, 999L))
        views.addData((98L, 400 * M, 599L))
        q2.processAllAvailable()
        val rows = got.asScala.toSet
        assert(rows == Set((1L, 901L, 501L), (2L, 902L, -1L), (3L, -1L, 503L)),
          s"restored state must produce the match + both sides' null rows; got $rows")
      } finally q2.stop()
    }
  }

  test("stream-static dim join stays broadcast: no stream-side join shuffle") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double, Long)]
    val src = mem.toDF().toDF("user_id", "value", "ts_ns")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
    val dim = broadcast(Seq((1L, "AUTO"), (2L, "BUILD")).toDF("c_custkey", "c_mktsegment"))
    val agg = src.join(dim, col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"))
    val q = agg.writeStream.format("memory").queryName("sse_plan")
      .outputMode("complete").start()
    try {
      val M = 60L * 1000 * 1000 * 1000
      mem.addData((1L, 1.0, 100 * M), (2L, 2.0, 200 * M), (3L, 3.0, 300 * M))
      q.processAllAvailable()
      // e27's zero-join-state contract, pinned on the real micro-batch
      // plan: the dim rides a BroadcastHashJoin and the stream side is
      // never hash-partitioned on the join key — the only exchange
      // belongs to the stateful windowed aggregate downstream
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out))(q.explain())
      val plan = out.toString
      assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(user_id"),
        s"stream side must not shuffle for the join:\n$plan")
      // and the no-dim-row user is dropped (inner enrichment)
      val segs = spark.table("sse_plan").collect().map(_.getString(1)).toSet
      assert(segs == Set("AUTO", "BUILD"))
    } finally q.stop()
  }

  test("partitioned parquet sink: checkpointed restart is exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    val events = mem.toDF().toDF("ts_ns", "event_type", "value")
      .select(Streaming.tsFromNanos(col("ts_ns")).as("ts"),
        col("event_type"), col("value"))
    Writers.withScratchDir(spark, "graft-sink") { tmp =>
      val (outDir, ckpt) = (s"$tmp/out", s"$tmp/ckpt")
      def start() = events.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .partitionBy("event_type").start()
      val q1 = start()
      try { mem.addData((1000L, "click", 1.0), (2000L, "view", 2.0)); q1.processAllAvailable() }
      finally q1.stop()
      // restart from the same checkpoint; only NEW data lands in the sink
      val q2 = start()
      try { mem.addData((3000L, "click", 3.0)); q2.processAllAvailable() }
      finally q2.stop()
      val rows = spark.read.parquet(outDir)
        .select("event_type", "value").collect()
        .map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
      assert(rows == Seq(("click", 1.0), ("click", 3.0), ("view", 2.0)),
        s"exactly-once across restart + partitioned layout; got $rows")
      // the partition layout is the sink's directory structure
      assert(new java.io.File(s"$outDir/event_type=click").isDirectory)
    }
  }

  test("foreachBatch idempotent sink: a replayed batch id overwrites, never duplicates") {
    // unit level: the write is idempotent per batch id
    Writers.withScratchDir(spark, "graft-fb") { tmp =>
      val out = s"$tmp/out"
      val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      Streaming.writeBatchIdempotent(b0, 0L, out)
      Streaming.writeBatchIdempotent(b0, 0L, out) // replay of batch 0
      Streaming.writeBatchIdempotent(Seq((3L, "c")).toDF("id", "s"), 1L, out)
      val rows = spark.read.parquet(out).select("id", "s").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c")),
        s"batch-0 replay must overwrite its own partition; got $rows")
      // a LATER batch must not disturb earlier partitions (dynamic, not
      // whole-table, overwrite)
      assert(new java.io.File(s"$out/batch_id=0").isDirectory &&
        new java.io.File(s"$out/batch_id=1").isDirectory)

      // end-to-end: the foreachBatch wiring lands streamed rows once
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, String)]
      val (out2, ckpt) = (s"$tmp/out2", s"$tmp/ckpt")
      val q = Streaming.idempotentParquetSink(mem.toDF().toDF("id", "s"), out2)
        .option("checkpointLocation", ckpt).start()
      try { mem.addData((10L, "x"), (11L, "y")); q.processAllAvailable() }
      finally q.stop()
      val got = spark.read.parquet(out2).select("id", "s").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(got == Seq((10L, "x"), (11L, "y")))
    }
  }

  test("windowedTypeStats with a slide: each event lands in two overlapping windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    val events = mem.toDF().toDF("ts_ns", "event_type", "value")
      .select(Streaming.tsFromNanos(col("ts_ns")).as("ts"),
        col("event_type"), col("value"))
    val agg = Streaming.windowedTypeStats(events, "1 hour", "2 hours",
      slide = Some("30 minutes"))
    Writers.withScratchDir(spark, "graft-slide-ckpt") { ckpt =>
      val sink = "wslide"
      spark.catalog.dropTempView(sink)
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete").option("checkpointLocation", ckpt).start()
      try {
        // one event at 45 min: belongs to the windows starting at 0:00 and
        // 0:30, and to no other
        mem.addData((45L * 60 * 1000 * 1000 * 1000, "click", 2.0))
        q.processAllAvailable()
        val got = spark.table(sink)
          .select(col("window_start").cast("long"), col("cnt"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(got == Seq((0L, 1L), (1800L, 1L)),
          s"one event must appear in exactly its two overlapping windows; got $got")
      } finally q.stop()
    }
  }

  test("windowedTypeStats over a MemoryStream: incremental windowed aggs") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    val events = mem.toDF().toDF("ts_ns", "event_type", "value")
      .select(Streaming.tsFromNanos(col("ts_ns")).as("ts"),
        col("event_type"), col("value"))
    val agg = Streaming.windowedTypeStats(events, "1 hour", "2 hours")
    Writers.withScratchDir(spark, "graft-stream-ckpt") { ckpt =>
      val q = agg.writeStream
        .format("memory").queryName("wstats")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
      try {
        mem.addData((0L, "click", 1.5), (H / 2, "click", 2.5), (H + 1, "view", 4.0))
        q.processAllAvailable()
        val rows = spark.table("wstats")
          .select("event_type", "cnt", "total_value")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
        assert(rows == Set(("click", 2L, 4.0), ("view", 1L, 4.0)))
      } finally q.stop()
    }
  }

  test("transitionsStream: out-of-order and cross-batch events emit pairs in event-time order") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{TEvent, TPair}
    val M = 1000000L // 1 ms in ns
    val mem = MemoryStream[(Long, Long, Long, String)]
    val events = mem.toDF().toDF("user_id", "ts_ns", "event_id", "event_type")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
      .withWatermark("ts", "0 seconds")
      .as[TEvent]
    val out = Streaming.transitionsStream(events)
    Writers.withScratchDir(spark, "graft-trans-ckpt") { ckpt =>
      val q = out.writeStream.format("memory").queryName("trans")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      def rows() = spark.table("trans").as[TPair].collect().toSeq
        .sortBy(p => (p.user_id, p.next_ts_ns))
      try {
        // batch 1: user 1's events arrive OUT OF ARRIVAL ORDER (C then A
        // then B by time); nothing is final until the watermark moves
        mem.addData((1L, 30 * M, 13L, "C"), (1L, 10 * M, 11L, "A"), (1L, 20 * M, 12L, "B"))
        q.processAllAvailable()
        // batch 2: a far-future event advances the watermark to its own
        // timestamp (0 s delay), so the watermark-only flush finalizes all
        // four events; the chain must read A->B->C->D (event-time order),
        // never the arrival order
        mem.addData((1L, 100 * M, 14L, "D"))
        q.processAllAvailable()
        val got1 = rows()
        assert(got1 == Seq(
          TPair(1L, "A", "B", 20 * M), TPair(1L, "B", "C", 30 * M),
          TPair(1L, "C", "D", 100 * M)),
          s"expected event-time-ordered pairs, got $got1")
        // batch 3: E chains onto the retained D tail ACROSS batches
        // (the tail survives in state after the previous flush)
        mem.addData((1L, 200 * M, 15L, "E"))
        q.processAllAvailable()
        val got2 = rows()
        assert(got2.contains(TPair(1L, "D", "E", 200 * M)),
          s"tail must chain across batches, got $got2")
      } finally q.stop()
    }
  }

  test("anomalyStream: days finalize in order and score against prior days only") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{AnomDay, TEvent}
    val D = 86400000000000L // 1 day in ns
    val mem = MemoryStream[(Long, Long, Long, String)]
    val events = mem.toDF().toDF("user_id", "ts_ns", "event_id", "event_type")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
      .withWatermark("ts", "0 seconds")
      .as[TEvent]
    val out = Streaming.anomalyStream(events)
    Writers.withScratchDir(spark, "graft-anom-ckpt") { ckpt =>
      val q = out.writeStream.format("memory").queryName("anom")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      try {
        // user 1: day 1 has 1 event, day 2 has 2 — delivered OUT of day
        // order; nothing can emit (h < 3 for every day anyway). Days
        // start at 1: an epoch-0 event time would sit AT the initial
        // watermark and be dropped by the late-row filter
        mem.addData((1L, 2 * D + 5L, 12L, "a"), (1L, 1 * D + 1L, 11L, "a"),
          (1L, 2 * D + 9L, 13L, "a"))
        q.processAllAvailable()
        assert(spark.table("anom").count() == 0)
        // day 3 has 3 events, day 4 has 10 (the burst); a far-future
        // sentinel (day 6) advances the watermark past day 4's end, so
        // days 1..4 finalize IN ORDER on the flush. Prior-day moments at
        // day 4: H=3, T=6, S2=14 → dev=24, varn=6, 576 > 24 → flagged;
        // the sentinel's own day is still open and must not emit
        mem.addData(
          (Seq((1L, 6 * D, 99L, "a")) ++
            (1 to 3).map(k => (1L, 3 * D + k.toLong, 20L + k, "a")) ++
            (1 to 10).map(k => (1L, 4 * D + k.toLong, 30L + k, "a"))): _*)
        q.processAllAvailable()
        val got = spark.table("anom").as[AnomDay].collect().toSeq
        val wantZ = math.floor((24.0 / math.sqrt(6.0)) * 1e6 + 0.5) / 1e6
        assert(got == Seq(AnomDay(1L, 4L, 10L, wantZ)),
          s"only day 4 is anomalous vs its prior history, got $got")
      } finally q.stop()
    }
  }

  test("funnelStream: completes once across out-of-order batches; failed order is a tombstone") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{FunnelDone, TEvent}
    val M = 1000000L // 1 ms in ns
    val mem = MemoryStream[(Long, Long, Long, String)]
    val events = mem.toDF().toDF("user_id", "ts_ns", "event_id", "event_type")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
      .withWatermark("ts", "1 second") // in-horizon cross-batch disorder
      .as[TEvent]
    val out = Streaming.funnelStream(events)
    Writers.withScratchDir(spark, "graft-funnel-ckpt") { ckpt =>
      val q = out.writeStream.format("memory").queryName("funnel")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      def rows() = spark.table("funnel").as[FunnelDone].collect().toSeq
        .sortBy(_.user_id)
      try {
        // user 1 completes s→c→p but the purchase ARRIVES first; user 2's
        // first click precedes their first signup (never completes).
        mem.addData((1L, 30 * M, 13L, "purchase"), (1L, 10 * M, 11L, "signup"),
          (2L, 10 * M, 21L, "click"), (2L, 20 * M, 22L, "signup"))
        q.processAllAvailable()
        // cross-batch disorder WITHIN the 1 s horizon (watermark is still
        // 0 ms, so these are not late): user 1's missing click, user 2's
        // purchase
        mem.addData((1L, 20 * M, 12L, "click"), (2L, 30 * M, 23L, "purchase"))
        q.processAllAvailable()
        assert(rows().isEmpty, "nothing is final before the watermark moves")
        // the sentinel advances the watermark (5000 − 1000 ms) past every
        // buffered event: user 1 settles complete (registers fold in
        // EVENT-TIME order despite arrival order), user 2 settles failed
        mem.addData((9L, 5000 * M, 91L, "view"))
        q.processAllAvailable()
        assert(rows() == Seq(FunnelDone(1L, 10 * M, 20 * M, 30 * M)),
          s"user 1 completes, user 2 must not: ${rows()}")
        // tombstone: user 2's later signup→click→purchase run must NOT
        // resurrect them (registers are first-occurrence, verdict final);
        // user 1 must not emit twice
        mem.addData((2L, 6000 * M, 24L, "signup"), (2L, 6100 * M, 25L, "click"),
          (2L, 6200 * M, 26L, "purchase"), (1L, 6000 * M, 14L, "purchase"))
        q.processAllAvailable()
        mem.addData((9L, 20000 * M, 92L, "view"))
        q.processAllAvailable()
        assert(rows() == Seq(FunnelDone(1L, 10 * M, 20 * M, 30 * M)),
          s"settled users must stay settled: ${rows()}")
      } finally q.stop()
    }
  }

  test("gapsStream: gaps emit once when the closing event finalizes; open tail gap stays silent") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{GapRow, TEvent}
    val M = 1000000L // 1 ms in ns
    val mem = MemoryStream[(Long, Long, Long, String)]
    val events = mem.toDF().toDF("user_id", "ts_ns", "event_id", "event_type")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
      .withWatermark("ts", "1 second")
      .as[TEvent]
    val out = Streaming.gapsStream(events, 50 * M) // 50 ms threshold
    Writers.withScratchDir(spark, "graft-gaps-ckpt") { ckpt =>
      val q = out.writeStream.format("memory").queryName("gaps")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      def rows() = spark.table("gaps").as[GapRow].collect().toSeq
        .sortBy(g => (g.event_type, g.gap_start_ns))
      try {
        // feed "a": 10, 20, then silence to 100 (gap 80 > 50), then 110.
        // Delivered out of order; the gap must be measured between the
        // truly adjacent pair (20 → 100), not arrival neighbors.
        mem.addData((1L, 100 * M, 13L, "a"), (1L, 10 * M, 11L, "a"),
          (1L, 110 * M, 14L, "a"), (1L, 20 * M, 12L, "a"))
        q.processAllAvailable()
        assert(rows().isEmpty, "nothing final before the watermark moves")
        // sentinel on a different key advances the watermark past 110 ms;
        // the ripe fold emits exactly the one 20→100 gap. The silence
        // since 110 (open tail) must NOT emit — no closing event yet.
        mem.addData((9L, 5000 * M, 91L, "b"))
        q.processAllAvailable()
        assert(rows() == Seq(GapRow("a", 20 * M, 100 * M, 80L)),
          s"one finalized gap expected: ${rows()}")
        // the closing event for the tail silence arrives much later
        // (4500 ms: strictly ABOVE the 4000 ms watermark — an event AT
        // the watermark is dropped by the late filter); the 110→4500 gap
        // emits once the watermark passes 4500
        mem.addData((1L, 4500 * M, 15L, "a"))
        q.processAllAvailable()
        mem.addData((9L, 20000 * M, 92L, "b"))
        q.processAllAvailable()
        assert(rows() == Seq(GapRow("a", 20 * M, 100 * M, 80L),
          GapRow("a", 110 * M, 4500 * M, 4390L)),
          s"tail gap closes across batches: ${rows()}")
        // b's own 5000→20000 gap needs the watermark past 20000 before
        // its closing event ripens
        mem.addData((9L, 30000 * M, 93L, "b"))
        q.processAllAvailable()
        val got = rows()
        assert(got == Seq(GapRow("a", 20 * M, 100 * M, 80L),
          GapRow("a", 110 * M, 4500 * M, 4390L),
          GapRow("b", 5000 * M, 20000 * M, 15000L)),
          s"every closed gap emitted exactly once: $got")
      } finally q.stop()
    }
  }

  test("gapsStream (batch): equals the lag closed form on 500 random events (seeded)") {
    import graft.streaming.Streaming.{GapRow, TEvent}
    val rnd = new scala.util.Random(47)
    val types = Vector("a", "b", "c")
    val evs = (1 to 500).map { i =>
      TEvent(i.toLong, (rnd.nextInt(3000) + 1).toLong * 1000000L, i.toLong,
        types(rnd.nextInt(3)))
    }
    val G = 20 * 1000000L
    val got = Streaming.gapsStream(spark.createDataset(evs), G)
      .collect().toSeq.sortBy(g => (g.event_type, g.gap_start_ns))
    val want = evs.groupBy(_.event_type).toSeq.flatMap { case (t, es) =>
      es.sortBy(e => (e.ts_ns, e.event_id)).sliding(2).collect {
        case Seq(a, b) if b.ts_ns - a.ts_ns > G =>
          GapRow(t, a.ts_ns, b.ts_ns, (b.ts_ns - a.ts_ns) / 1000000L)
      }
    }.sortBy(g => (g.event_type, g.gap_start_ns))
    assert(got == want, s"got ${got.size} rows, want ${want.size}")
  }

  test("levelShiftStream: scores a day only when d+7 finalizes; LOCF over gap days; per-key grid") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{ShiftRow, TEvent}
    val D = 86400000000000L // 1 day in ns
    val mem = MemoryStream[(Long, Long, Long, String)]
    val events = mem.toDF().toDF("user_id", "ts_ns", "event_id", "event_type")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
      .withWatermark("ts", "1 second")
      .as[TEvent]
    val out = Streaming.levelShiftStream(events)
    Writers.withScratchDir(spark, "graft-shift-ckpt") { ckpt =>
      val q = out.writeStream.format("memory").queryName("shifts")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      def rows() = spark.table("shifts").as[ShiftRow].collect().toSeq
        .sortBy(r => (r.event_type, r.day))
      try {
        // key "a": days 10 (×2), 12, 15 (×3), delivered out of order —
        // LOCF must fill 11, 13, 14 and everything after 15
        mem.addData((1L, 15 * D, 3L, "a"), (1L, 10 * D, 1L, "a"),
          (1L, 12 * D, 2L, "a"), (1L, 10 * D + 1000000L, 4L, "a"),
          (1L, 15 * D + 1000000L, 5L, "a"), (1L, 15 * D + 2000000L, 6L, "a"))
        q.processAllAvailable()
        assert(rows().isEmpty, "nothing scoreable while maxd < lo + 14")
        // sentinel pushes the watermark so maxd = 24: exactly day 17 is
        // scoreable (d−7 ≥ 10 and d+7 ≤ 24). before = c(10..16) =
        // 2+2+1+1+1+3+3 = 13, after = c(18..24) = 7×3 = 21
        mem.addData((9L, 25 * D + 2000000000L, 91L, "b"))
        q.processAllAvailable()
        assert(rows() == Seq(ShiftRow("a", 17, 13, 21, 8)),
          s"exactly day 17: ${rows()}")
        // maxd = 26 → days 18, 19 score; key b's own day 25 is not yet
        // final and its grid starts at its OWN first final day
        mem.addData((9L, 27 * D + 2000000000L, 92L, "b"))
        q.processAllAvailable()
        assert(rows() == Seq(ShiftRow("a", 17, 13, 21, 8),
          ShiftRow("a", 18, 14, 21, 7), ShiftRow("a", 19, 15, 21, 6)),
          s"each day exactly once, in finality order: ${rows()}")
      } finally q.stop()
    }
  }

  test("levelShiftStream (batch): equals the grid closed form on 400 random events (seeded)") {
    import graft.streaming.Streaming.{ShiftRow, TEvent}
    val rnd = new scala.util.Random(53)
    val types = Vector("a", "b", "c")
    val evs = (1 to 400).map { i =>
      TEvent(i.toLong, rnd.nextInt(40).toLong * 86400000000000L +
        rnd.nextInt(1000000).toLong, i.toLong, types(rnd.nextInt(3)))
    }
    val got = Streaming.levelShiftStream(spark.createDataset(evs))
      .collect().toSeq.sortBy(r => (r.event_type, r.day))
    val want = evs.groupBy(_.event_type).toSeq.flatMap { case (t, es) =>
      val counts = es.groupBy(_.ts_ns / 86400000000000L)
        .map { case (d, g) => d -> g.size.toLong }
      val lo = counts.keys.min
      val maxd = counts.keys.max
      def locf(x: Long): Long =
        counts.keys.filter(_ <= x) match {
          case ks if ks.nonEmpty => counts(ks.max); case _ => 0L
        }
      ((lo + 7) to (maxd - 7)).map { d =>
        val b = (1 to 7).map(k => locf(d - k)).sum
        val a = (1 to 7).map(k => locf(d + k)).sum
        ShiftRow(t, d, b, a, a - b)
      }
    }.sortBy(r => (r.event_type, r.day))
    assert(got == want, s"got ${got.size} rows, want ${want.size}")
  }

  test("windowed graft_hll in append streaming: registers merge across batches, emit is watermark-final") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)] // (user_id, ts_ms)
    val skExpr = "graft_hll(graft_md5p60(CAST(user_id AS STRING)), 8)"
    val agg = mem.toDF().toDF("user_id", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "1 second")
      .groupBy(window(col("ts"), "1 minute"))
      .agg(expr(skExpr).as("sk"))
      .select(col("window.start").cast("long").as("w_s"),
        col("sk.zeros").as("zeros"), col("sk.ssum").as("ssum"))
    Writers.withScratchDir(spark, "graft-hll-ckpt") { ckpt =>
      val q = agg.writeStream.format("memory").queryName("hllwin")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      def rows() = spark.table("hllwin").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
      try {
        // two batches hit the SAME [60s, 120s) window with overlapping
        // user sets: the state store must round-trip the 256-byte
        // register buffer between micro-batches, and the merged sketch
        // must equal the batch sketch over the union
        mem.addData((1L to 40L).map(u => (u, 60000L + u * 100)): _*)
        q.processAllAvailable()
        mem.addData((30L to 80L).map(u => (u, 60000L + 50000 + u * 100)): _*)
        q.processAllAvailable()
        assert(rows().isEmpty, "window must not emit before the watermark passes its end")
        mem.addData((999L, 300000L)) // sentinel pushes the watermark past 120s
        q.processAllAvailable()
        val got = rows()
        val want = spark.createDataFrame((1L to 80L).map(u => Tuple1(u))).toDF("user_id")
          .agg(expr(skExpr).as("sk"))
          .select(col("sk.zeros"), col("sk.ssum")).collect()
          .map(r => (60L, r.getInt(0), r.getLong(1))).toSeq
        assert(got == want,
          s"merged streaming sketch must equal the batch sketch: $got vs $want")
      } finally q.stop()
    }
  }

  test("funnelStream (batch): equals the e14 closed form on 600 random events (seeded)") {
    import graft.streaming.Streaming.{FunnelDone, TEvent}
    val rnd = new scala.util.Random(43)
    val types = Vector("signup", "click", "purchase", "view", "error")
    val evs = (1 to 600).map { i =>
      TEvent(rnd.nextInt(40).toLong, (rnd.nextInt(200) + 1).toLong * 1000000L,
        i.toLong, types(rnd.nextInt(5)))
    }
    val got = Streaming.funnelStream(spark.createDataset(evs))
      .collect().toSeq.sortBy(_.user_id)
    val want = evs.groupBy(_.user_id).toSeq.flatMap { case (u, es) =>
      def first(t: String) = es.filter(_.event_type == t) match {
        case Nil => None
        case hit => Some(hit.map(_.ts_ns).min)
      }
      (first("signup"), first("click"), first("purchase")) match {
        case (Some(s), Some(c), Some(p)) if s < c && c < p =>
          Some(FunnelDone(u, s, c, p))
        case _ => None
      }
    }.sortBy(_.user_id)
    assert(got == want, s"got ${got.size} rows, want ${want.size}")
  }

  test("anomalyStream (batch): equals a driver replay of the sequential z-test (seeded)") {
    import graft.streaming.Streaming.{AnomDay, TEvent}
    val D = 86400000000000L
    val rnd = new scala.util.Random(29)
    val evs = (1 to 800).map { i =>
      TEvent(rnd.nextInt(6).toLong,
        rnd.nextInt(10).toLong * D + rnd.nextInt(1000).toLong, i.toLong, "a")
    }
    val got = Streaming.anomalyStream(spark.createDataset(evs))
      .collect().toSeq.sortBy(a => (a.user_id, a.day))
    val want = evs.groupBy(_.user_id).toSeq.flatMap { case (u, es) =>
      val daily = es.groupBy(_.ts_ns / D).toSeq.sortBy(_._1)
      var h = 0L; var t = 0L; var s2 = 0L
      daily.flatMap { case (day, des) =>
        val c = des.size.toLong
        val dev = h * c - t
        val varn = h * s2 - t * t
        val hit =
          if (h >= 3 && varn > 0 && dev * dev > 4 * varn)
            Some(AnomDay(u, day, c,
              math.floor((dev.toDouble / math.sqrt(varn.toDouble)) * 1e6 + 0.5) / 1e6))
          else None
        h += 1; t += c; s2 += c * c
        hit
      }
    }.sortBy(a => (a.user_id, a.day))
    assert(got == want, s"got ${got.size} rows, want ${want.size}")
  }

  test("transitionsStream (batch): equals a lag over (ts, event_id) on 600 random events (seeded)") {
    import graft.streaming.Streaming.{TEvent, TPair}
    val rnd = new scala.util.Random(11)
    val types = Vector("a", "b", "c")
    val evs = (1 to 600).map { i =>
      TEvent(rnd.nextInt(7).toLong, rnd.nextInt(50) * 1000000L, i.toLong, types(rnd.nextInt(3)))
    }
    val got = Streaming.transitionsStream(spark.createDataset(evs))
      .collect().toSeq.sortBy(p => (p.user_id, p.next_ts_ns, p.prev, p.next))
    val want = evs.groupBy(_.user_id).toSeq.flatMap { case (u, es) =>
      es.sortBy(e => (e.ts_ns, e.event_id)).sliding(2).collect {
        case Seq(a, b) => TPair(u, a.event_type, b.event_type, b.ts_ns)
      }
    }.sortBy(p => (p.user_id, p.next_ts_ns, p.prev, p.next))
    assert(got == want)
  }

  test("asofJoinStream: latest build wins, lookback bounds, cross-batch retention, ties") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{AsofRow, TEvent}
    val M = 1000000L // 1 ms in ns
    val mem = MemoryStream[(Long, Long, Long, String)]
    val events = mem.toDF().toDF("user_id", "ts_ns", "event_id", "event_type")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
      .withWatermark("ts", "0 seconds")
      .as[TEvent]
    val out = Streaming.asofJoinStream(events, "P", "B", 100 * M)
    Writers.withScratchDir(spark, "graft-asof-ckpt") { ckpt =>
      val q = out.writeStream.format("memory").queryName("asof")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      def rows() = spark.table("asof").as[AsofRow].collect().toSeq
        .sortBy(r => (r.user_id, r.probe_id))
      try {
        // batch 1, arrival order scrambled: the probe at 30 ms must take
        // the LATEST build (20 ms, not 10 ms); the probe at 5 ms has no
        // build at/before it → null row
        mem.addData((1L, 10 * M, 1L, "B"), (1L, 30 * M, 2L, "P"),
          (1L, 20 * M, 3L, "B"), (1L, 5 * M, 4L, "P"))
        q.processAllAvailable()
        assert(rows() == Seq(
          AsofRow(1L, 2L, Some(3L), Some(10000L)),
          AsofRow(1L, 4L, None, None)), s"got ${rows()}")
        // batch 2: a build and a probe just after it (watermark lands at
        // 210 ms, so the 200 ms build must survive pruning for later probes)
        mem.addData((1L, 200 * M, 5L, "B"), (1L, 210 * M, 6L, "P"))
        q.processAllAvailable()
        assert(rows().contains(AsofRow(1L, 6L, Some(5L), Some(10000L))),
          s"got ${rows()}")
        // batch 3: the 200 ms build serves a probe arriving a batch later
        // (220 ms, within lookback) but NOT one 150 ms past it (350 ms,
        // outside the 100 ms lookback → null row); equal-timestamp
        // build/probe finalize together and the higher event_id wins a tie
        mem.addData((1L, 220 * M, 8L, "P"), (1L, 350 * M, 7L, "P"),
          (3L, 500 * M, 10L, "B"), (3L, 500 * M, 11L, "B"), (3L, 500 * M, 12L, "P"),
          (2L, 1000 * M, 9L, "B"))
        q.processAllAvailable()
        val g3 = rows()
        assert(g3.contains(AsofRow(1L, 8L, Some(5L), Some(20000L))),
          s"build must survive across batches, got $g3")
        assert(g3.contains(AsofRow(1L, 7L, None, None)),
          s"a build older than the lookback must not match, got $g3")
        assert(g3.contains(AsofRow(3L, 12L, Some(11L), Some(0L))),
          s"same-ts tie must pick the higher event_id, got $g3")
      } finally q.stop()
    }
  }

  test("asofJoinStream (batch): equals the argmax replay on 600 random events (seeded)") {
    import graft.streaming.Streaming.{AsofRow, TEvent}
    val rnd = new scala.util.Random(17)
    val L = 20 * 1000000L
    val evs = (1 to 600).map { i =>
      TEvent(rnd.nextInt(7).toLong, rnd.nextInt(80) * 1000000L, i.toLong,
        if (rnd.nextBoolean()) "P" else "B")
    }
    val got = Streaming.asofJoinStream(spark.createDataset(evs), "P", "B", L)
      .collect().toSeq.sortBy(r => (r.user_id, r.probe_id))
    val want = evs.filter(_.event_type == "P").map { p =>
      val cand = evs.filter(b => b.event_type == "B" && b.user_id == p.user_id &&
        b.ts_ns <= p.ts_ns && b.ts_ns >= p.ts_ns - L)
      if (cand.isEmpty) AsofRow(p.user_id, p.event_id, None, None)
      else {
        val best = cand.maxBy(b => (b.ts_ns, b.event_id))
        AsofRow(p.user_id, p.event_id, Some(best.event_id),
          Some((p.ts_ns - best.ts_ns) / 1000L))
      }
    }.sortBy(r => (r.user_id, r.probe_id))
    assert(got == want)
  }

  test("asofFullOuterStream: unmatched builds emit at horizon, matched marks survive batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{AsofFullRow, TEvent}
    val M = 1000000L // 1 ms in ns
    val mem = MemoryStream[(Long, Long, Long, String)]
    val events = mem.toDF().toDF("user_id", "ts_ns", "event_id", "event_type")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
      .withWatermark("ts", "0 seconds")
      .as[TEvent]
    val out = Streaming.asofFullOuterStream(events, "P", "B", 100 * M)
    Writers.withScratchDir(spark, "graft-asoffo-ckpt") { ckpt =>
      val q = out.writeStream.format("memory").queryName("asoffo")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      def rows() = spark.table("asoffo").as[AsofFullRow].collect().toSeq
        .sortBy(r => (r.user_id, r.probe_id.getOrElse(-1L), r.build_id.getOrElse(-1L)))
      try {
        // batch 1 (wm → 30 ms): probe side behaves exactly like
        // asofJoinStream; neither build's forward horizon (ts + 100 ms)
        // has passed, so no build row yet
        mem.addData((1L, 10 * M, 1L, "B"), (1L, 30 * M, 2L, "P"),
          (1L, 20 * M, 3L, "B"), (1L, 5 * M, 4L, "P"))
        q.processAllAvailable()
        assert(rows() == Seq(
          AsofFullRow(1L, Some(2L), Some(3L), Some(10000L)),
          AsofFullRow(1L, Some(4L), None, None)), s"got ${rows()}")
        // batch 2 (wm → 210 ms): build 1 (10 ms) expires UNMATCHED (the
        // 30 ms probe chose build 3); build 3 expires matched → no row;
        // build 5 (200 ms) is chosen by probe 6 and retained
        mem.addData((1L, 200 * M, 5L, "B"), (1L, 210 * M, 6L, "P"))
        q.processAllAvailable()
        val g2 = rows()
        assert(g2.contains(AsofFullRow(1L, None, Some(1L), None)),
          s"superseded build must emit unmatched at its horizon, got $g2")
        assert(!g2.exists(r => r.probe_id.isEmpty && r.build_id.contains(3L)),
          s"a matched build must not emit, got $g2")
        assert(g2.contains(AsofFullRow(1L, Some(6L), Some(5L), Some(10000L))), s"got $g2")
        // batch 3 (wm → 1000 ms): build 5's horizon passes now — its
        // matched mark from batch 2 must have survived in state (no row);
        // the u3 same-ts trio: probe 12 picks build 11 (higher id), so
        // build 10 is the in-window-but-never-argmax case → unmatched;
        // build 9 (1000 ms) is never final-horizoned → never emits
        mem.addData((1L, 220 * M, 8L, "P"),
          (3L, 500 * M, 10L, "B"), (3L, 500 * M, 11L, "B"), (3L, 500 * M, 12L, "P"),
          (2L, 1000 * M, 9L, "B"))
        q.processAllAvailable()
        val g3 = rows()
        assert(g3.contains(AsofFullRow(1L, Some(8L), Some(5L), Some(20000L))), s"got $g3")
        assert(!g3.exists(r => r.probe_id.isEmpty && r.build_id.contains(5L)),
          s"matched mark must survive batches — build 5 emitted unmatched: $g3")
        assert(g3.contains(AsofFullRow(3L, Some(12L), Some(11L), Some(0L))), s"got $g3")
        assert(g3.contains(AsofFullRow(3L, None, Some(10L), None)),
          s"tie-loser build must emit unmatched, got $g3")
        assert(!g3.exists(r => r.probe_id.isEmpty && r.build_id.contains(9L)),
          s"a build whose horizon never passes must not emit, got $g3")
      } finally q.stop()
    }
  }

  test("sessionize: an OPEN session survives a query restart and closes with its pre-restart events") {
    implicit val sqlCtx = spark.sqlContext
    val gap = 30L * 60 * 1000 * 1000 * 1000
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val events = mem.toDF().toDF("user_id", "ts_ns", "event_id", "value")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
      .withWatermark("ts", "0 seconds")
      .as[Streaming.Event]
    val out = Streaming.sessionize(events, gap)
    Writers.withScratchDir(spark, "graft-sess-rs-ckpt") { ckpt =>
      val got = java.util.Collections.synchronizedList(
        new java.util.ArrayList[Streaming.Session]())
      def start() = out.writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[Streaming.Session], _: Long) =>
          df.collect().foreach(got.add)
        }
        .outputMode("append").option("checkpointLocation", ckpt).start()
      val base = 100 * gap
      // query A: a 2-event session stays OPEN (nothing emitted); STOP —
      // SessionizeState(open = 2-event session) persists in the store
      val q1 = start()
      mem.addData((1L, base, 10L, 1.0), (1L, base + gap, 11L, 2.0))
      q1.processAllAvailable()
      q1.stop()
      // query B resumes: a far event closes the RESTORED session by
      // gap-exceed — the emitted row must carry both pre-restart events
      got.clear()
      val q2 = start()
      try {
        mem.addData((1L, base + 10 * gap, 12L, 3.0))
        q2.processAllAvailable()
        mem.addData((1L, base + 11 * gap, 13L, 4.0)) // flush batch for the timeout
        q2.processAllAvailable()
        import scala.jdk.CollectionConverters._
        val rows = got.asScala.toSeq
        assert(rows.contains(Streaming.Session(1L, base, 2, 10L, 11L, 3.0)),
          s"restored open session must close with both pre-restart events, got $rows")
      } finally q2.stop()
    }
  }

  test("windowed HLL aggregation: register state survives a query restart (agg-buffer round-trip)") {
    // the TypedImperativeAggregate's serialize/deserialize is exercised
    // between micro-batches by the cross-batch test; THIS pins it across
    // a full query restart — the registers written by query A must merge
    // with query B's rows into the same sketch a single batch computes
    implicit val sqlCtx = spark.sqlContext
    val DayNs = 86400000000000L
    val mem = MemoryStream[(Long, Long)]
    val events = mem.toDF().toDF("user_id", "ts_ns")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
      .withWatermark("ts", "0 seconds")
    val agg = events.groupBy(window(col("ts"), "1 day"))
      .agg(call_function("graft_hll",
        expr("graft_md5p60(CAST(user_id AS STRING))"), lit(8)).as("sk"))
      .select(col("sk.zeros").as("zeros"), col("sk.ssum").as("ssum"))
    Writers.withScratchDir(spark, "graft-hll-rs-ckpt") { ckpt =>
      val got = java.util.Collections.synchronizedList(
        new java.util.ArrayList[(Int, Long)]())
      def start() = agg.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => got.add((r.getInt(0), r.getLong(1))))
        }
        .outputMode("append").option("checkpointLocation", ckpt).start()
      // query A: users 1..300 land in day 1's window (still open); STOP
      val q1 = start()
      mem.addData((1L to 300L).map(u => (u, DayNs + u * 1000000L)): _*)
      q1.processAllAvailable()
      q1.stop()
      // query B: users 301..600 merge into the RESTORED registers; a
      // day-3 event closes day 1's window
      got.clear()
      val q2 = start()
      try {
        mem.addData((301L to 600L).map(u => (u, DayNs + u * 1000000L)): _*)
        mem.addData((9999L, 3 * DayNs))
        q2.processAllAvailable()
        import scala.jdk.CollectionConverters._
        val rows = got.asScala.toSeq
        // batch-mode ground truth over ALL 600 users
        import spark.implicits._
        val want = (1L to 600L).toDF("user_id")
          .agg(call_function("graft_hll",
            expr("graft_md5p60(CAST(user_id AS STRING))"), lit(8)).as("sk"))
          .select(col("sk.zeros"), col("sk.ssum")).head()
        assert(rows.contains((want.getInt(0), want.getLong(1))),
          s"restart-merged registers must equal the batch sketch ${(want.getInt(0), want.getLong(1))}, got $rows")
      } finally q2.stop()
    }
  }

  test("asofJoinStream: pending probes and retained builds survive a query RESTART") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{AsofRow, TEvent}
    val M = 1000000L
    val mem = MemoryStream[(Long, Long, Long, String)]
    val events = mem.toDF().toDF("user_id", "ts_ns", "event_id", "event_type")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
      .withWatermark("ts", "0 seconds")
      .as[TEvent]
    val out = Streaming.asofJoinStream(events, "P", "B", 100 * M)
    Writers.withScratchDir(spark, "graft-asof-rs-ckpt") { ckpt =>
      val got = java.util.Collections.synchronizedList(
        new java.util.ArrayList[AsofRow]())
      def start() = out.writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[AsofRow], _: Long) =>
          df.collect().foreach(got.add)
        }
        .outputMode("append").option("checkpointLocation", ckpt).start()
      // query A: three builds ripen (wm → 55) and are RETAINED (all within
      // lookback of the watermark); STOP — AsofState(builds=[1, 3, 4])
      // persists in the store
      val q1 = start()
      mem.addData((1L, 10 * M, 1L, "B"), (1L, 50 * M, 3L, "B"), (1L, 55 * M, 4L, "B"))
      q1.processAllAvailable()
      q1.stop()
      // query B resumes: the new probe must match the latest RESTORED
      // build (55 ms) — if the state round-trip dropped builds, the row
      // comes back null-joined or picks the wrong build
      got.clear()
      val q2 = start()
      try {
        mem.addData((1L, 60 * M, 2L, "P"))
        q2.processAllAvailable()
        import scala.jdk.CollectionConverters._
        val rows = got.asScala.toSeq
        assert(rows.contains(AsofRow(1L, 2L, Some(4L), Some(5000L))),
          s"probe must match the latest restored build after restart, got $rows")
      } finally q2.stop()
    }
  }

  test("asofFullOuterStream: matched marks and builds survive a query RESTART (state-store round-trip)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{AsofFullRow, TEvent}
    val M = 1000000L
    val mem = MemoryStream[(Long, Long, Long, String)]
    val events = mem.toDF().toDF("user_id", "ts_ns", "event_id", "event_type")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
      .withWatermark("ts", "0 seconds")
      .as[TEvent]
    val out = Streaming.asofFullOuterStream(events, "P", "B", 100 * M)
    Writers.withScratchDir(spark, "graft-asoffo-rs-ckpt") { ckpt =>
      // foreachBatch sink: the memory sink refuses checkpoint recovery
      // ("This query does not support recovering from checkpoint location")
      val got = java.util.Collections.synchronizedList(
        new java.util.ArrayList[AsofFullRow]())
      def start() = out.writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[AsofFullRow], _: Long) =>
          df.collect().foreach(got.add)
        }
        .outputMode("append").option("checkpointLocation", ckpt).start()
      // query A: builds 1 and 3 ripen, probe 2 chooses build 3 (the matched
      // mark), neither build's horizon has passed; STOP the query — state
      // (builds + matched marks + watermark 30 ms) persists in the store
      val q1 = start()
      mem.addData((1L, 10 * M, 1L, "B"), (1L, 20 * M, 3L, "B"), (1L, 30 * M, 2L, "P"))
      q1.processAllAvailable()
      q1.stop()
      // query B resumes from the checkpoint: wm → 200 ms passes both
      // builds' horizons — build 1 must emit unmatched, build 3 must stay
      // suppressed by the ROUND-TRIPPED matched mark; probe 5 finds no
      // candidate in [100, 200]. Rows emitted before the stop came from
      // query A; the post-restart emissions can only come from restored
      // state (the source replays nothing — batch 1 was committed).
      got.clear()
      val q2 = start()
      try {
        mem.addData((1L, 200 * M, 5L, "P"))
        q2.processAllAvailable()
        import scala.jdk.CollectionConverters._
        val rows = got.asScala.toSeq
          .sortBy(r => (r.probe_id.getOrElse(-1L), r.build_id.getOrElse(-1L)))
        assert(rows.contains(AsofFullRow(1L, None, Some(1L), None)),
          s"retained build must emit unmatched after restart, got $rows")
        assert(!rows.exists(r => r.probe_id.isEmpty && r.build_id.contains(3L)),
          s"matched mark must survive the restart — build 3 emitted unmatched: $rows")
        assert(rows.contains(AsofFullRow(1L, Some(5L), None, None)), s"got $rows")
      } finally q2.stop()
    }
  }

  test("transitionsStream: retained tail AND pending buffer survive a query RESTART") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{TEvent, TPair}
    val M = 1000000L
    val mem = MemoryStream[(Long, Long, Long, String)]
    val events = mem.toDF().toDF("user_id", "ts_ns", "event_id", "event_type")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
      // nonzero delay so an event can sit in the PENDING buffer across
      // the stop (with 0 s the max-ts event is always ripe at the
      // watermark-advance batch and the buffer drains before any stop)
      .withWatermark("ts", "100 milliseconds")
      .as[TEvent]
    val out = Streaming.transitionsStream(events)
    Writers.withScratchDir(spark, "graft-trans-rs-ckpt") { ckpt =>
      val got = java.util.Collections.synchronizedList(
        new java.util.ArrayList[TPair]())
      def start() = out.writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[TPair], _: Long) =>
          df.collect().foreach(got.add)
        }
        .outputMode("append").option("checkpointLocation", ckpt).start()
      // query A: A@10/B@50 buffer (wm 0), then X@200 lifts the watermark
      // to 100 — A and B finalize (pair A→B emits), tail=B@50, X stays
      // PENDING (200 > 100); STOP with state (tail=B, buffer=[X]), wm=100
      val q1 = start()
      mem.addData((1L, 10 * M, 1L, "A"), (1L, 50 * M, 2L, "B"))
      q1.processAllAvailable()
      mem.addData((1L, 200 * M, 3L, "X"))
      q1.processAllAvailable()
      q1.stop()
      // query B resumes: C@250 lifts wm to 150 (nothing ripens), Y@400
      // lifts wm to 300 — X@200 and C@250 finalize together and must chain
      // onto the RESTORED tail: pairs B→X and X→C exist only if BOTH the
      // tail and the pending buffer round-tripped through the state store.
      got.clear()
      val q2 = start()
      try {
        mem.addData((1L, 250 * M, 4L, "C"))
        q2.processAllAvailable()
        mem.addData((1L, 400 * M, 5L, "Y"))
        q2.processAllAvailable()
        import scala.jdk.CollectionConverters._
        val rows = got.asScala.toSeq
        assert(rows.contains(TPair(1L, "B", "X", 200 * M)),
          s"restored buffered event must chain onto the restored tail, got $rows")
        assert(rows.contains(TPair(1L, "X", "C", 250 * M)),
          s"post-restart events must continue the restored chain, got $rows")
        assert(!rows.exists(p => p.prev == "A"),
          s"pre-restart pair A→B must not re-emit after restart, got $rows")
      } finally q2.stop()
    }
  }

  test("gapsStream: retained tail AND pending buffer survive a query RESTART") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{GapRow, TEvent}
    val M = 1000000L
    val mem = MemoryStream[(Long, Long, Long, String)]
    val events = mem.toDF().toDF("user_id", "ts_ns", "event_id", "event_type")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
      // nonzero delay so an event sits in the pending buffer across the stop
      .withWatermark("ts", "100 milliseconds")
      .as[TEvent]
    val out = Streaming.gapsStream(events, 30 * M) // 30 ms threshold
    Writers.withScratchDir(spark, "graft-gaps-rs-ckpt") { ckpt =>
      val got = java.util.Collections.synchronizedList(
        new java.util.ArrayList[GapRow]())
      def start() = out.writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[GapRow], _: Long) =>
          df.collect().foreach(got.add)
        }
        .outputMode("append").option("checkpointLocation", ckpt).start()
      import scala.jdk.CollectionConverters._
      // query A: a@10/a@50 buffer (wm 0), then a@200 lifts the watermark
      // to 100 — 10 and 50 finalize (gap 10→50 emits), tail=50, 200 stays
      // PENDING; STOP with state (tail=50, buffer=[200]), wm=100
      val q1 = start()
      mem.addData((1L, 10 * M, 1L, "a"), (1L, 50 * M, 2L, "a"))
      q1.processAllAvailable()
      mem.addData((1L, 200 * M, 3L, "a"))
      q1.processAllAvailable()
      q1.stop()
      assert(got.asScala.toSeq == Seq(GapRow("a", 10 * M, 50 * M, 40L)),
        s"pre-restart: exactly the 10→50 gap, got ${got.asScala.toSeq}")
      // query B resumes: a@250 lifts wm to 150 (nothing ripens), a@400
      // lifts it to 300 — 200 and 250 finalize together; the 50→200 gap
      // exists only if BOTH the tail and the pending buffer round-tripped
      // through the state store
      got.clear()
      val q2 = start()
      try {
        mem.addData((1L, 250 * M, 4L, "a"))
        q2.processAllAvailable()
        mem.addData((1L, 400 * M, 5L, "a"))
        q2.processAllAvailable()
        val rows = got.asScala.toSeq.sortBy(_.gap_start_ns)
        assert(rows == Seq(GapRow("a", 50 * M, 200 * M, 150L),
          GapRow("a", 200 * M, 250 * M, 50L)),
          s"restored pending event must close a gap on the restored tail, once: $rows")
      } finally q2.stop()
    }
  }

  test("levelShiftStream: day counts, carry AND the pending buffer survive a query RESTART") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{ShiftRow, TEvent}
    val D = 86400000000000L // 1 day in ns
    val M = 1000000L
    val mem = MemoryStream[(Long, Long, Long, String)]
    val events = mem.toDF().toDF("user_id", "ts_ns", "event_id", "event_type")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
      .withWatermark("ts", "1 second")
      .as[TEvent]
    val out = Streaming.levelShiftStream(events)
    Writers.withScratchDir(spark, "graft-shift-rs-ckpt") { ckpt =>
      val got = java.util.Collections.synchronizedList(
        new java.util.ArrayList[ShiftRow]())
      def start() = out.writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[ShiftRow], _: Long) =>
          df.collect().foreach(got.add)
        }
        .outputMode("append").option("checkpointLocation", ckpt).start()
      import scala.jdk.CollectionConverters._
      // key "a" counts by day: 10 → 2, 12 → 1, 26 → 3, so LOCF reads
      // c(10..11) = 2, c(12..25) = 1, c(26..) = 3.
      // query A: day-26 events lift the watermark to 26 d − 1 s, so
      // days ≤ 24 are final and day 17 scores (before = c(10..16) = 9,
      // after = c(18..24) = 7); day 10 is then evicted into the LOCF
      // carry, and the three day-26 events stay PENDING across the stop
      val q1 = start()
      mem.addData((1L, 10 * D, 1L, "a"), (1L, 10 * D + M, 2L, "a"),
        (1L, 12 * D, 3L, "a"))
      q1.processAllAvailable()
      mem.addData((1L, 26 * D, 4L, "a"), (1L, 26 * D + M, 5L, "a"),
        (1L, 26 * D + 2 * M, 6L, "a"))
      q1.processAllAvailable()
      q1.stop()
      assert(got.asScala.toSeq == Seq(ShiftRow("a", 17, 9, 7, -2)),
        s"pre-restart: exactly day 17, got ${got.asScala.toSeq}")
      // query B resumes: a sentinel on key "b" makes days ≤ 29 final, so
      // days 18..22 score — their values need the restored carry (c(11)),
      // the day-12 count, the scoring cursor AND the pending day-26 events
      got.clear()
      val q2 = start()
      try {
        mem.addData((9L, 30 * D + 2000 * M, 91L, "b"))
        q2.processAllAvailable()
        val rows = got.asScala.toSeq.sortBy(r => (r.event_type, r.day))
        assert(rows == Seq(ShiftRow("a", 18, 8, 7, -1), ShiftRow("a", 19, 7, 9, 2),
          ShiftRow("a", 20, 7, 11, 4), ShiftRow("a", 21, 7, 13, 6),
          ShiftRow("a", 22, 7, 15, 8)),
          s"restored state must continue scoring where it stopped: $rows")
      } finally q2.stop()
    }
  }

  test("funnelStream: partial registers AND the failed-verdict tombstone survive a query RESTART") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{FunnelDone, TEvent}
    val M = 1000000L
    val mem = MemoryStream[(Long, Long, Long, String)]
    val events = mem.toDF().toDF("user_id", "ts_ns", "event_id", "event_type")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
      .withWatermark("ts", "100 milliseconds")
      .as[TEvent]
    val out = Streaming.funnelStream(events)
    Writers.withScratchDir(spark, "graft-funnel-rs-ckpt") { ckpt =>
      val got = java.util.Collections.synchronizedList(
        new java.util.ArrayList[FunnelDone]())
      def start() = out.writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[FunnelDone], _: Long) =>
          df.collect().foreach(got.add)
        }
        .outputMode("append").option("checkpointLocation", ckpt).start()
      // query A: user 1 folds signup@10/click@50 (two registers set,
      // unsettled); user 2's purchase-before-click chain settles as a
      // FAILED verdict (tombstone, no emit); the user-9 noise event lifts
      // the watermark to 100 so both fold before the STOP
      val q1 = start()
      mem.addData(
        (1L, 10 * M, 1L, "signup"), (1L, 50 * M, 2L, "click"),
        (2L, 10 * M, 3L, "purchase"), (2L, 20 * M, 4L, "click"),
        (2L, 30 * M, 5L, "signup"))
      q1.processAllAvailable()
      mem.addData((9L, 200 * M, 6L, "noise"))
      q1.processAllAvailable()
      q1.stop()
      // query B resumes: user 1's purchase@150 completes the chain — the
      // emitted row must carry the PRE-restart register timestamps; user
      // 2 replays a perfectly ordered chain that would emit if the
      // tombstone were lost
      got.clear()
      val q2 = start()
      try {
        mem.addData(
          (1L, 150 * M, 7L, "purchase"),
          (2L, 150 * M, 8L, "signup"), (2L, 160 * M, 9L, "click"),
          (2L, 170 * M, 10L, "purchase"))
        q2.processAllAvailable()
        mem.addData((9L, 400 * M, 11L, "noise"))
        q2.processAllAvailable()
        import scala.jdk.CollectionConverters._
        val rows = got.asScala.toSeq
        assert(rows == Seq(FunnelDone(1L, 10 * M, 50 * M, 150 * M)),
          s"restored registers must complete user 1 once; the restored " +
            s"tombstone must keep user 2 silent; got $rows")
      } finally q2.stop()
    }
  }

  test("anomalyStream: scoring moments AND the open-day partial survive a query RESTART") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{AnomDay, TEvent}
    val M = 1000000L
    val D = 86400000L // day in ms
    val H1 = 3600000L // hour in ms
    def ns(ms: Long) = ms * M
    val mem = MemoryStream[(Long, Long, Long, String)]
    val events = mem.toDF().toDF("user_id", "ts_ns", "event_id", "event_type")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
      .withWatermark("ts", "1 hour")
      .as[TEvent]
    val out = Streaming.anomalyStream(events)
    Writers.withScratchDir(spark, "graft-anom-rs-ckpt") { ckpt =>
      val got = java.util.Collections.synchronizedList(
        new java.util.ArrayList[AnomDay]())
      def start() = out.writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[AnomDay], _: Long) =>
          df.collect().foreach(got.add)
        }
        .outputMode("append").option("checkpointLocation", ckpt).start()
      var id = 0L
      def ev(ms: Long) = { id += 1; (1L, ns(ms), id, "e") }
      // query A: user 1's history days 1/2/3 carry counts 1/2/3; the
      // user-9 lift puts the watermark at day4+30min, finalizing the
      // history (moments h=3, t=6, s2=14) while day 4 stays open; then 5
      // of day 4's 8 events arrive ABOVE the watermark and wait in
      // state; STOP
      val q1 = start()
      mem.addData(
        Seq(ev(1 * D + H1),
          ev(2 * D + H1), ev(2 * D + 2 * H1),
          ev(3 * D + H1), ev(3 * D + 2 * H1), ev(3 * D + 3 * H1)) :+
          ((9L, ns(4 * D + 90 * 60000L), 100L, "lift")): _*)
      q1.processAllAvailable()
      mem.addData((1 to 5).map(i => ev(4 * D + 2 * H1 + i)): _*)
      q1.processAllAvailable()
      q1.stop()
      // query B resumes: day 4's remaining 3 events arrive, then the
      // second lift finalizes day 4 with count 8 — scored against the
      // RESTORED moments: dev = 3·8−6 = 18, varn = 3·14−36 = 6,
      // 18² > 4·6 → z = 18/√6 = 7.348469. Losing the moments (h=0) would
      // suppress the row; losing the buffered 5 would score cnt=3 and
      // fail the gate — the exact row below pins both round-trips.
      got.clear()
      val q2 = start()
      try {
        mem.addData((1 to 3).map(i => ev(4 * D + 3 * H1 + i)): _*)
        q2.processAllAvailable()
        mem.addData((9L, ns(5 * D + 2 * H1), 101L, "lift"))
        q2.processAllAvailable()
        import scala.jdk.CollectionConverters._
        val rows = got.asScala.toSeq
        assert(rows == Seq(AnomDay(1L, 4L, 8L, 7.348469)),
          s"day 4 must score cnt=8 against the restored history moments; got $rows")
      } finally q2.stop()
    }
  }

  test("dedupNearStream: seen-signature state survives a query RESTART (dup stays suppressed)") {
    implicit val sqlCtx = spark.sqlContext
    val M = 1000000L
    val day = 86400L * 1000 * M // day in ns (start fixtures at day 1+)
    val mem = MemoryStream[(Long, Long, String)]
    val docs = mem.toDF().toDF("doc_id", "ts_ns", "text")
      .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
    val out = Streaming.dedupNearStream(docs, watermarkDelay = "1 hour")
      .select("doc_id")
    Writers.withScratchDir(spark, "graft-dedup-rs-ckpt") { ckpt =>
      val got = java.util.Collections.synchronizedList(
        new java.util.ArrayList[Long]())
      def start() = out.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => got.add(r.getLong(0)))
        }
        .outputMode("append").option("checkpointLocation", ckpt).start()
      val t1 = "the quick brown fox jumps over the lazy dog again and again"
      val t2 = "a completely different document about distributed query engines"
      // query A: doc 1 emits and its minhash signature enters the dedup
      // state; STOP
      val q1 = start()
      mem.addData((1L, day, t1))
      q1.processAllAvailable()
      q1.stop()
      // query B resumes: doc 2 repeats doc 1's text 10 minutes later —
      // ABOVE the restored watermark (day − 1 h), so only the ROUND-TRIPPED
      // seen-signature state can suppress it (the late filter cannot);
      // doc 3 is novel and must emit
      got.clear()
      val q2 = start()
      try {
        mem.addData((2L, day + 600L * 1000 * M, t1), (3L, day + 600L * 1000 * M, t2))
        q2.processAllAvailable()
        import scala.jdk.CollectionConverters._
        val rows = got.asScala.toSeq.sorted
        assert(rows == Seq(3L),
          s"dup must stay suppressed by restored state, novel doc must emit; got $rows")
      } finally q2.stop()
    }
  }

  test("online ANN serve (s27): the serve stream RESUMES from its checkpoint — new probe slices only, sink stays exactly-once") {
    // the crash-recovery pin the other four stateful streams got
    // (VERDICT r10 #3): query A serves two probe slices from the frozen
    // artifact and dies; query B resumes from the same checkpoint after
    // a THIRD slice lands — it must serve ONLY the new slice (committed
    // offsets carry the progress) and the batch-id-addressed sink must
    // hold each batch exactly once, equal to the one-shot batch serve.
    Writers.withScratchDir(spark, "graft-s27-restart") { tmp =>
      val centroids = Seq(
        (0, Array(1.0, 0.0, 0.0, 0.0)), (1, Array(0.0, 1.0, 0.0, 0.0)))
        .toDF("cid", "c")
      val vectors = Seq(
        (0L, Array(0.9, 0.1, 0.0, 0.0), 0), (1L, Array(0.8, 0.2, 0.0, 0.0), 0),
        (2L, Array(0.7, 0.3, 0.0, 0.0), 0), (3L, Array(0.1, 0.9, 0.0, 0.0), 1),
        (4L, Array(0.2, 0.8, 0.0, 0.0), 1), (5L, Array(0.3, 0.7, 0.0, 0.0), 1))
        .toDF("vec_id", "e", "cid")
      graft.io.Writers.parquetPartitioned(
        vectors, s"$tmp/postings", Seq("cid"), targetFileCount = 1)
      val probes = vectors.select("vec_id", "e")
      def writeSlice(i: Int): Unit =
        probes.filter(pmod(col("vec_id"), lit(3)) === i)
          .coalesce(1).write.parquet(s"$tmp/probes/slice$i")
      writeSlice(0); writeSlice(1)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("e",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType))))
      def start() = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(s"$tmp/probes/slice*")
        .writeStream.foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
            Streaming.writeBatchIdempotent(
              graft.queries.SimilarityQueries.serveQuantizerArtifact(
                spark, centroids, s"$tmp/postings", batch.toDF()),
              batchId, s"$tmp/out")
        }.option("checkpointLocation", s"$tmp/ckpt").start()
      // query A: two slices, two micro-batches; CRASH (stop)
      val q1 = start()
      q1.processAllAvailable()
      q1.stop()
      // a third probe slice lands while the server is down
      writeSlice(2)
      // query B resumes from the checkpoint
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val out = spark.read.parquet(s"$tmp/out")
      // exactly one sink generation per micro-batch: 0/1 from run A,
      // 2 from run B — a re-serve of the committed slices would have
      // rewritten or duplicated the early generations
      // batch_id comes back int-typed (hive partition inference)
      val gens = out.select(col("batch_id").cast("long")).distinct().collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(gens == Seq(0L, 1L, 2L), s"sink generations must be 0,1,2; got $gens")
      // union across the carve + crash ≡ the one-shot batch serve
      val served = out.select("query_id", "rank", "neighbor_id", "cos")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sorted
      val oneShot = graft.queries.SimilarityQueries.serveQuantizerArtifact(
          spark, centroids, s"$tmp/postings",
          spark.read.parquet(s"$tmp/probes/slice*"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sorted
      assert(served.nonEmpty && served == oneShot,
        s"restart-carved serve must equal the one-shot serve: ${served.size} vs ${oneShot.size} rows")
    }
  }

  test("asofFullOuterStream: output is invariant to the micro-batch carve (seeded)") {
    // THE streaming determinism property: the same event set fed in 1
    // batch vs K random batches must emit the SAME final row set — a
    // row's finality point depends only on the watermark, every probe
    // that could choose a build finalizes before that build expires,
    // and the final watermark is carve-independent. A carve-dependent
    // diff here would mean order-sensitive state folding.
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{AsofFullRow, TEvent}
    val rnd = new scala.util.Random(41)
    val evs = (1 to 200).map { i =>
      (rnd.nextInt(5).toLong, (1 + rnd.nextInt(80)) * 1000000L, i.toLong,
        if (rnd.nextBoolean()) "P" else "B")
    }
    def runCarved(batches: Seq[Seq[(Long, Long, Long, String)]]): Seq[AsofFullRow] = {
      val mem = MemoryStream[(Long, Long, Long, String)]
      val events = mem.toDF().toDF("user_id", "ts_ns", "event_id", "event_type")
        .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
        .withWatermark("ts", "0 seconds")
        .as[TEvent]
      val out = Streaming.asofFullOuterStream(events, "P", "B", 20 * 1000000L)
      Writers.withScratchDir(spark, "graft-asoffo-carve") { ckpt =>
        val sink = s"asoffo_carve_${batches.length}"
        spark.catalog.dropTempView(sink)
        val q = out.writeStream.format("memory").queryName(sink)
          .outputMode("append").option("checkpointLocation", ckpt).start()
        try {
          batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        } finally q.stop()
        spark.table(sink).as[AsofFullRow].collect().toSeq
          .sortBy(r => (r.user_id, r.probe_id.getOrElse(-1L), r.build_id.getOrElse(-1L)))
      }
    }
    val oneBatch = runCarved(Seq(evs))
    // K random contiguous batches of the ts-SORTED sequence, cut only at
    // strict ts increases: with a 0-second delay a cross-batch cut
    // inside one timestamp would make the tail rows sit AT the advanced
    // watermark and be dropped as late (the documented late-row trap).
    // Equal-ts build/probe groups still land whole inside one batch,
    // exercising the builds-before-probes finality rule across state
    // carried over many batch boundaries
    val sorted = evs.sortBy(_._2)
    val legalCuts = (1 until sorted.length).filter(i => sorted(i)._2 > sorted(i - 1)._2)
    val cuts = (0 +: rnd.shuffle(legalCuts).take(6).sorted :+ sorted.length).distinct
    val carved = runCarved(cuts.sliding(2).map { case Seq(a, b) => sorted.slice(a, b) }.toSeq)
    assert(oneBatch.nonEmpty && oneBatch == carved,
      s"carve changed the output: ${oneBatch.size} vs ${carved.size} rows")
  }

  test("asofFullOuterStream under the RocksDB state store provider: same rows as the default backend") {
    // the newest stateful operator against the backend the 100 TB claim
    // names: AsofFullState (pending + builds + matched marks) must fold
    // identically when the state store is RocksDB (off-heap, incremental
    // checkpoints) — the dedup-path RocksDB pin extended to the as-of
    // family
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{AsofFullRow, TEvent}
    val rnd = new scala.util.Random(53)
    val evs = (1 to 150).map { i =>
      (rnd.nextInt(4).toLong, (1 + rnd.nextInt(60)) * 1000000L, i.toLong,
        if (rnd.nextBoolean()) "P" else "B")
    }
    def run(): Seq[AsofFullRow] = {
      val mem = MemoryStream[(Long, Long, Long, String)]
      val events = mem.toDF().toDF("user_id", "ts_ns", "event_id", "event_type")
        .withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
        .withWatermark("ts", "0 seconds")
        .as[TEvent]
      val out = Streaming.asofFullOuterStream(events, "P", "B", 15 * 1000000L)
      Writers.withScratchDir(spark, "graft-asoffo-rocks") { ckpt =>
        val got = java.util.Collections.synchronizedList(
          new java.util.ArrayList[AsofFullRow]())
        val q = out.writeStream
          .foreachBatch { (df: org.apache.spark.sql.Dataset[AsofFullRow], _: Long) =>
            df.collect().foreach(got.add)
          }
          .outputMode("append").option("checkpointLocation", ckpt).start()
        try {
          // ts-ordered thirds (cuts at strict ts increases — the carve rule)
          val sorted = evs.sortBy(_._2)
          val legal = (1 until sorted.length).filter(i => sorted(i)._2 > sorted(i - 1)._2)
          val cuts = (0 +: Seq(legal(legal.length / 3), legal(2 * legal.length / 3)) :+ sorted.length).distinct
          cuts.sliding(2).foreach { case Seq(a, b) =>
            mem.addData(sorted.slice(a, b): _*); q.processAllAvailable()
          }
        } finally q.stop()
        import scala.jdk.CollectionConverters._
        got.asScala.toSeq
          .sortBy(r => (r.user_id, r.probe_id.getOrElse(-1L), r.build_id.getOrElse(-1L)))
      }
    }
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    val default = run()
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocks = run()
      assert(default.nonEmpty && rocks == default,
        s"provider changed the output: ${default.size} vs ${rocks.size} rows")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("asofFullOuterStream (batch): probe rows equal asofJoinStream; build rows equal the unmatched set") {
    import graft.streaming.Streaming.{AsofFullRow, TEvent}
    val rnd = new scala.util.Random(23)
    val L = 20 * 1000000L
    val evs = (1 to 600).map { i =>
      TEvent(rnd.nextInt(7).toLong, rnd.nextInt(80) * 1000000L, i.toLong,
        if (rnd.nextBoolean()) "P" else "B")
    }
    val got = Streaming.asofFullOuterStream(spark.createDataset(evs), "P", "B", L)
      .collect().toSeq
      .sortBy(r => (r.user_id, r.probe_id.getOrElse(-1L), r.build_id.getOrElse(-1L)))
    val probeWant = evs.filter(_.event_type == "P").map { p =>
      val cand = evs.filter(b => b.event_type == "B" && b.user_id == p.user_id &&
        b.ts_ns <= p.ts_ns && b.ts_ns >= p.ts_ns - L)
      if (cand.isEmpty) AsofFullRow(p.user_id, Some(p.event_id), None, None)
      else {
        val best = cand.maxBy(b => (b.ts_ns, b.event_id))
        AsofFullRow(p.user_id, Some(p.event_id), Some(best.event_id),
          Some((p.ts_ns - best.ts_ns) / 1000L))
      }
    }
    val matchedIds = probeWant.flatMap(_.build_id).toSet
    // batch mode: every build's horizon has passed (wm = ∞)
    val buildWant = evs.filter(b => b.event_type == "B" && !matchedIds(b.event_id))
      .map(b => AsofFullRow(b.user_id, None, Some(b.event_id), None))
    val want = (probeWant ++ buildWant)
      .sortBy(r => (r.user_id, r.probe_id.getOrElse(-1L), r.build_id.getOrElse(-1L)))
    assert(got == want, s"got ${got.size} rows, want ${want.size}")
  }

  test("mergeAggBatch: generation merge equals recompute; a replayed batch is idempotent") {
    Writers.withScratchDir(spark, "graft-upsert") { tmp =>
      val stateDir = s"$tmp/state"
      val b0 = Seq((1L, 1.25), (1L, 2.00), (2L, 5.50)).toDF("user_id", "value")
      val b1 = Seq((1L, 0.75), (3L, 4.25)).toDF("user_id", "value")
      Streaming.mergeAggBatch(b0, 0L, stateDir, "user_id", "value")
      Streaming.mergeAggBatch(b1, 1L, stateDir, "user_id", "value")
      def gen(before: Long): Set[(Long, Long, Double)] =
        Streaming.latestGen(spark, stateDir, before).get
          .select(col("user_id"), col("cnt"), col("total").cast("double"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val expected = Set((1L, 3L, 4.00), (2L, 1L, 5.50), (3L, 1L, 4.25))
      assert(gen(Long.MaxValue) == expected, "merge-of-generations == recompute")
      // replay of batch 1 (crash between sink write and checkpoint commit):
      // the merge re-reads gen=0 — never its own half-written gen=1 — and
      // overwrites gen=1, so the replayed state is identical
      Streaming.mergeAggBatch(b1, 1L, stateDir, "user_id", "value")
      assert(gen(Long.MaxValue) == expected, "replayed batch is idempotent")
      // generations are immutable history: gen=0 still holds only batch 0
      assert(gen(1L) == Set((1L, 2L, 3.25), (2L, 1L, 5.50)))
    }
  }

  test("vacuumGenerations: keeps the newest N, replay input survives at keep=2, latestGen unaffected") {
    Writers.withScratchDir(spark, "graft-vacuum") { tmp =>
      val stateDir = s"$tmp/state"
      val batches = Seq(
        Seq((1L, 1.00)), Seq((1L, 2.00)), Seq((2L, 3.00)), Seq((1L, 4.00)))
      batches.zipWithIndex.foreach { case (rows, i) =>
        Streaming.mergeAggBatch(rows.toDF("user_id", "value"), i.toLong,
          stateDir, "user_id", "value")
      }
      def genDirs(): Set[Long] = {
        val fs = new org.apache.hadoop.fs.Path(stateDir)
          .getFileSystem(spark.sessionState.newHadoopConf())
        fs.listStatus(new org.apache.hadoop.fs.Path(stateDir)).toSeq
          .filter(_.isDirectory).map(_.getPath.getName)
          .collect { case n if n.startsWith("gen=") => n.drop(4).toLong }.toSet
      }
      assert(genDirs() == Set(0L, 1L, 2L, 3L))
      // vacuum on a missing dir is a no-op, not an error
      assert(Streaming.vacuumGenerations(spark, s"$tmp/nope", 2) == Seq.empty)
      // keep=2: newest + its predecessor survive (the crash-replay input)
      assert(Streaming.vacuumGenerations(spark, stateDir, 2) == Seq(0L, 1L))
      assert(genDirs() == Set(2L, 3L))
      // the retained predecessor really serves a replay of batch 3
      Streaming.mergeAggBatch(batches(3).toDF("user_id", "value"), 3L,
        stateDir, "user_id", "value")
      val fin = Streaming.latestGen(spark, stateDir, Long.MaxValue).get
        .select(col("user_id"), col("cnt"), col("total").cast("double"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fin == Set((1L, 3L, 7.00), (2L, 1L, 3.00)),
        "replay after vacuum reproduces the merged state")
      // keep larger than what exists: no-op; keep=1 drops the predecessor
      assert(Streaming.vacuumGenerations(spark, stateDir, 5) == Seq.empty)
      assert(Streaming.vacuumGenerations(spark, stateDir, 1) == Seq(2L))
      assert(genDirs() == Set(3L))
      assert(Streaming.latestGen(spark, stateDir, Long.MaxValue).get.count() == 2)
    }
  }

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("drainToMemory: the frame keeps every row, and no temp view is left behind") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    mem.addData(0L until 100L)
    val views = tempViews()
    val out = Streaming.drainToMemory(mem.toDF(), "append")
    assert(tempViews() == views, "the memory sink's temp view is dropped")
    assert(out.count() == 100)
    assert(out.as[Long].collect().sorted.toSeq == (0L until 100L))
  }

  test("drain: a failing stream throws, is stopped, and the scoped shuffle conf is restored") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    assert(before != "8", "the scope must be observable")
    val mem = MemoryStream[Long]
    mem.addData(1L, 2L, -3L)
    val active = spark.streams.active.map(_.id).toSet
    val failing = mem.toDF().select(assert_true(col("value") > 0).as("ok"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streaming.drainToMemory(failing, "append")
    }
    assert(spark.conf.get(key) == before)
    assert(spark.streams.active.map(_.id).toSet == active, "the failed query is stopped")
  }
}
