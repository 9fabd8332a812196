package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming surface over the `events` stream shape
  * (event_id, ts, user_id, event_type, value, props). The reference has
  * no streaming (SURVEY §2.8); these are the incremental forms of the
  * batch event and pipeline operators (graft.queries), built so every
  * transform works identically under `readStream` and batch `read`:
  *   - one stream runner, [[drain]] / [[drainToMemory]];
  *   - Spark's own stateful operators: watermarked window aggregation
  *     (windowedTypeStats), exact and near-dup dedup, chunk dedup,
  *     stream-static enrichment, stream-stream interval joins;
  *   - stateless Bloom decontamination; idempotent and generation-merge
  *     foreachBatch sinks;
  *   - sessionization via flatMapGroupsWithState (sessionize);
  *   - the ordered event-time fold ([[ripeFold]]) and the seven operators
  *     on it: transitions, gaps, level shift, funnel, anomaly, and the
  *     left- and full-outer as-of joins.
  *
  * Scale: every stateful operator shuffles once on its natural key;
  * state is per-key and bounded by the watermark/timeout, so a
  * 1000-executor cluster partitions state horizontally.
  */
object Streaming {

  /** Run a live query to completion: `start` it, process every input
    * available, then stop it, also when it fails. Shuffle partitions are
    * scoped small (graft.SessionConf.scoped): each stateful streaming
    * operator opens one state store PER shuffle partition, and at the
    * bench's tiny per-partition volume 32 of them are pure fixed
    * init/commit cost (measured ~40% of e17). The conf is read at start
    * and restored after stop; at scale this knob is sized to the stream
    * rate instead.
    */
  def drain(s: SparkSession)(start: => StreamingQuery): Unit =
    graft.SessionConf.scoped(s, Map("spark.sql.shuffle.partitions" -> "8")) {
      val q = start
      try q.processAllAvailable() finally q.stop()
    }

  /** [[drain]] `df` into a memory sink in `mode` and return the sink's
    * rows. The sink is named uniquely per run, and its temp view is
    * dropped before returning: the frame keeps the sink's rows, the
    * session catalog keeps nothing.
    */
  def drainToMemory(df: DataFrame, mode: String): DataFrame = {
    val s = df.sparkSession
    val sink = "graft_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    drain(s)(df.writeStream.format("memory").queryName(sink).outputMode(mode).start())
    val out = s.table(sink)
    s.catalog.dropTempView(sink)
    out
  }

  /** Tumbling- (or, with `slide`, hopping-) window per-type stats with
    * late-data handling. `events` must carry a TimestampType `ts`
    * column (use tsFromNanos for the nanos-bigint shape Tables
    * produces). With a slide each event lands in windowLength/slide
    * overlapping windows (e12_sliding_window is the batch twin).
    */
  def windowedTypeStats(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermarkDelay: String = "2 hours",
      slide: Option[String] = None): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(
        slide.fold(window(col("ts"), windowLength))(sl =>
          window(col("ts"), windowLength, sl)).as("w"),
        col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("cnt"), col("total_value"))

  /** nanos-bigint -> TimestampType (micros precision, matching Spark).
    *
    * The division must be EXACT floor division: `long / long` promotes
    * to double in Spark SQL, and ~1.7e18 ns exceeds double's 53-bit
    * mantissa — the rounding surfaced as +1 us drift vs the oracle's
    * `epoch_ns // 1000` (caught by e09's un-truncated session bounds;
    * e05's hour-truncated windows masked it). Decimal division + floor
    * is exact at any epoch.
    */
  def tsFromNanos(nanos: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    timestamp_micros(
      floor(nanos.cast(DecimalType(38, 0)) / lit(1000)).cast("long"))

  /** Streaming exact dedup: drop repeats of `idCols` with state bounded
    * by the watermark (late duplicates beyond the delay age out of
    * state — the incremental form of d01's hash-groupBy dedup).
    */
  def dedupStream(events: DataFrame, idCols: Seq[String],
      watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicates(idCols :+ "ts")

  /** Stream-static enrichment join: the static side is broadcast per
    * micro-batch (dimension lookup, no stream-side shuffle).
    */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), key)

  /** Streaming NEAR-duplicate dedup: per-row minhash signature (pure
    * expressions — TextFns.minhashSlots — so no aggregation stands
    * between the stream source and the dedup) + dropDuplicatesWithinWatermark
    * on the signature key. Two docs collapse when ALL K minhash slots
    * agree (Jaccard ≈ 1 — the streaming-safe near-exact tier; the full
    * banded-LSH candidate search stays a batch pass, d03/d07). Docs too
    * short for one shingle fall back to exact-content keys instead of
    * sharing a null signature. State is evicted by the watermark, so
    * per-key state lives only for the delay horizon — bounded at any
    * scale. `docs` must carry a TimestampType `ts` column; in batch the
    * same transform is plain dropDuplicates (same keys, full-history
    * semantics).
    */
  def dedupNearStream(docs: DataFrame, textCol: String = "text",
      watermarkDelay: String = "1 hour"): DataFrame = {
    import graft.functions.TextFns._
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    val keyed = docs
      // ONE compiled byte pass per row (expressions.GramH60ModExpr) for
      // the gram→hash front: the transform/array_distinct/zip_with
      // chain was CodegenFallback — interpreted md5-per-gram inside the
      // stream's single-task micro-batch (r13; GramHashSpec pins the
      // two forms value-identical)
      .withColumn("hms",
        call_function("graft_gram_h60s", col(textCol), lit(MinhashP)))
      .withColumn("sig_key", coalesce(
        when(size(col("hms")) > 0,
          concat_ws(",", transform(minhashSlots(col("hms")), _.cast("string")))),
        col(textCol)))
      .drop("hms")
    if (docs.isStreaming)
      keyed.withWatermark("ts", watermarkDelay)
        .dropDuplicatesWithinWatermark(Seq("sig_key"))
    else keyed.dropDuplicates(Seq("sig_key"))
  }

  /** Streaming sub-document dedup: chunk each arriving document into
    * 64-token windows (stride 48 — the p06/p07 batch math, stateless so
    * it runs in append mode) and drop chunks whose content hash was seen
    * within the watermark horizon. The incremental form of
    * p07_chunk_dedup: state holds one entry per distinct chunk hash
    * inside the horizon, evicted by the watermark — bounded at any
    * scale. `docs` must carry a TimestampType `ts` column.
    */
  def dedupChunksStream(docs: DataFrame, textCol: String = "text",
      watermarkDelay: String = "1 hour", window: Int = 64,
      stride: Int = 48): DataFrame = {
    val t = split(col(textCol), " ")
    val chunked = docs
      .withColumn("t", t)
      .withColumn("start", explode(sequence(lit(1), size(col("t")), lit(stride))))
      .withColumn("chunk_id", ((col("start") - 1) / stride).cast("long"))
      .withColumn("chunk", concat_ws(" ", slice(col("t"), col("start"), lit(window))))
      .withColumn("chunk_key", sha2(col("chunk"), 256))
      .drop("t", "start")
    if (docs.isStreaming)
      chunked.withWatermark("ts", watermarkDelay)
        .dropDuplicatesWithinWatermark(Seq("chunk_key"))
    else chunked.dropDuplicates(Seq("chunk_key"))
  }

  /** CONTENT-DEFINED twin of [[dedupChunksStream]]: chunk boundaries come
    * from the text's rolling window hash (expressions.CdcCutsExpr — the
    * p19 operator) instead of fixed token strides. The property that
    * matters for a stream: an edited RE-POST shares every chunk outside
    * ~W bytes of the edit (boundaries resynchronize), so within-watermark
    * chunk dedup drops the overlap — fixed strides see every downstream
    * chunk shifted and keep all of them. Same state shape as the fixed
    * path: stateless chunking in append mode, state = distinct chunk
    * hashes inside the watermark horizon.
    */
  def dedupCdcChunksStream(docs: DataFrame, textCol: String = "text",
      watermarkDelay: String = "1 hour"): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    val chunked = docs
      .withColumn("chunk",
        explode(graft.functions.TextFns.cdcChunks(col(textCol))))
      .withColumn("chunk_key", sha2(col("chunk"), 256))
    if (docs.isStreaming)
      chunked.withWatermark("ts", watermarkDelay)
        .dropDuplicatesWithinWatermark(Seq("chunk_key"))
    else chunked.dropDuplicates(Seq("chunk_key"))
  }

  /** Streaming DECONTAMINATION: flag each arriving document with how
    * many of its distinct word-3-grams hit a Bloom bitset of the
    * benchmark set (p14's filter, stream side). The bitset rides into
    * the plan as an 8 KB binary LITERAL — no stream-static join, no
    * state, pure append-mode expressions — which is the point at scale:
    * the eval-suite index is pushed to every executor once, and a
    * benchmark refresh is a new literal on query restart. Bloom is
    * one-sided (no false negatives), so `n_bloom = 0` GUARANTEES the
    * doc is clean; positives overcount by the FP rate and a batch
    * exact pass (p02/p14) adjudicates quarantined docs offline.
    * `m`/`k` must match the bits the [[graft.expressions.BloomAgg]]
    * build used.
    */
  def decontaminateStream(docs: DataFrame, bits: Array[Byte], m: Long, k: Int,
      textCol: String = "text"): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    // ONE compiled byte pass per row (expressions.GramBloomHitsExpr) —
    // the previous filter(grams3(…), graft_bloom_contains(…)) chain was
    // higher-order functions all the way down, i.e. CodegenFallback:
    // the whole per-row pipeline ran INTERPRETED inside the stream's
    // single-task micro-batch (measured r13: 3.2 s for one 4,750-doc
    // batch; GramHashSpec pins the two forms value-identical)
    val gb = call_function("graft_gram_bloom",
      col(textCol), lit(bits), lit(m), lit(k))
    docs
      .withColumn("__gb", gb)
      .withColumn("n_grams", col("__gb.n_grams"))
      .withColumn("n_bloom", col("__gb.n_bloom"))
      .drop("__gb")
  }

  /** Stream-stream inner join bounded by an event-time interval: right
    * rows join left rows with the same key when `r.ts` falls within
    * `[l.ts - maxLag, l.ts]` (attribution shape: a click joins the views
    * that preceded it by at most maxLag). BOTH inputs must carry a
    * watermark on `ts` — that, plus the interval condition, is what lets
    * Spark bound each side's join state to the lag + watermark horizon
    * and evict older rows, so state is O(rate × horizon) per key range,
    * never unbounded. Column names are prefixed `l_`/`r_` (except the
    * shared key) so the joined schema is collision-free.
    *
    * `joinType` "left_outer" adds the unmatched-left null rows with
    * WATERMARK-GATED emission: a left row's null result appears only
    * once the watermark proves no qualifying right row can still
    * arrive (Spark emits it in the state-cleanup batch after the
    * watermark passes the row's interval), so outer results are
    * append-safe and never retracted — the finality contract the
    * oracle replays. Matches themselves emit immediately under any
    * join type.
    */
  def streamIntervalJoin(left: DataFrame, right: DataFrame, key: String,
      maxLag: String = "1 hour", joinType: String = "inner"): DataFrame = {
    def prefixed(df: DataFrame, p: String) = df.columns.foldLeft(df) {
      (d, c) => if (c == key) d else d.withColumnRenamed(c, s"$p$c")
    }
    val l = prefixed(left, "l_")
    val r = prefixed(right, "r_")
    // the interval belongs in the JOIN condition (not a post-filter):
    // Spark derives the state-eviction bound for both sides from it
    val cond = l(key) === r(key) &&
      r("r_ts") >= l("l_ts") - expr(s"INTERVAL $maxLag") &&
      r("r_ts") <= l("l_ts")
    // keep ONE key column that is non-null under every join type: the
    // left copy alone is null on unmatched-right rows (right/full outer)
    l.join(r, cond, joinType)
      .withColumn("__graft_key", coalesce(l(key), r(key)))
      .drop(l(key)).drop(r(key))
      .withColumnRenamed("__graft_key", key)
  }

  /** Idempotent micro-batch parquet write: the batch lands in its own
    * `batch_id=<id>` partition via DYNAMIC partition overwrite (a
    * per-write option — no session config mutation), so a REPLAYED batch
    * (crash between the sink write and the checkpoint commit, the window
    * where plain foreachBatch+append duplicates) overwrites its own
    * partition byte-for-byte instead of appending a second copy. This is
    * the batchId-keyed dedup side of foreachBatch exactly-once: the
    * checkpoint replays at-least-once, the sink write is idempotent per
    * batch id, the composition is exactly-once.
    */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long, path: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  /** foreachBatch wiring of [[writeBatchIdempotent]] — start() it with a
    * checkpointLocation; arbitrary (non-parquet-expressible) per-batch
    * logic can wrap the same write.
    */
  def idempotentParquetSink(stream: DataFrame, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        writeBatchIdempotent(batch.toDF(), batchId, path)
    }

  /** Latest state GENERATION strictly below `before` (None if the state
    * table has none yet). Generations are `gen=<batchId>` directories
    * written by [[mergeAggBatch]]; reading only generations BELOW the
    * current batch id is what makes a replayed batch idempotent — its
    * own (possibly half-written) output is never an input.
    */
  def latestGen(s: org.apache.spark.sql.SparkSession, stateDir: String,
      before: Long): Option[DataFrame] = {
    val path = new org.apache.hadoop.fs.Path(stateDir)
    val fs = path.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(path)) None
    else {
      val gens = fs.listStatus(path).toSeq
        .filter(_.isDirectory).map(_.getPath.getName)
        .collect { case n if n.startsWith("gen=") => n.drop(4).toLong }
        .filter(_ < before)
      if (gens.isEmpty) None
      else Some(s.read.parquet(s"$stateDir/gen=${gens.max}"))
    }
  }

  /** Generation-addressed aggregate MERGE for foreachBatch — streaming
    * incremental view maintenance (the live twin of the x28 batch IVM
    * row, and the parquet stand-in for a transactional MERGE sink).
    * Each micro-batch folds its per-key partial aggregate (count +
    * DECIMAL(18,2) sum of `valCol` — exact and order-independent, so
    * merge-of-partials equals recompute no matter how rows split across
    * batches) into the PREVIOUS generation of the state table and
    * writes the result as a new `gen=<batchId>` directory, never
    * mutating a generation in place. Exactly-once without transactions:
    * the checkpoint replays a crashed batch at-least-once, but a replay
    * re-reads generation < batchId and OVERWRITES its own gen dir —
    * idempotent per batch id, the writeBatchIdempotent contract lifted
    * from append to upsert. At 100 TB: generations are table-format
    * snapshots (Delta/Iceberg MERGE commits replace the directory
    * dance), the merge is one co-partitioned aggregate over (snapshot +
    * tiny delta), and old generations are vacuumed out-of-band
    * ([[vacuumGenerations]]).
    */
  def mergeAggBatch(batch: DataFrame, batchId: Long, stateDir: String,
      keyCol: String, valCol: String): Unit = {
    val money = DecimalType(18, 2)
    val partial = batch.groupBy(keyCol)
      .agg(count(lit(1)).as("cnt"),
        sum(col(valCol).cast(money)).cast(money).as("total"))
    val merged = latestGen(batch.sparkSession, stateDir, batchId).fold(partial)(
      prev => prev.unionByName(partial)
        .groupBy(keyCol)
        .agg(sum("cnt").as("cnt"), sum("total").cast(money).as("total")))
    merged.write.mode("overwrite").parquet(s"$stateDir/gen=$batchId")
  }

  /** Retention for generation-addressed state tables — the "old
    * generations are vacuumed out-of-band" half of [[mergeAggBatch]]'s
    * contract: delete all but the newest `keep` generations and return
    * the deleted ids, oldest first. Every generation holds the FULL
    * merged state, so a generation is only ever read again as the
    * replay input of the batch that produced its successor; with at
    * most one in-flight batch, `keep = 2` (newest + its predecessor)
    * is crash-safe — a replayed batch id B re-reads the latest
    * generation strictly below B, which vacuum kept. `keep = 1` is
    * safe only once the stream's checkpoint has committed past the
    * newest generation's batch (no replay can then want an older one).
    * Never run concurrently with the writing stream at `keep = 1`.
    */
  def vacuumGenerations(s: org.apache.spark.sql.SparkSession,
      stateDir: String, keep: Int): Seq[Long] = {
    require(keep >= 1, "vacuum must keep at least the newest generation")
    val path = new org.apache.hadoop.fs.Path(stateDir)
    val fs = path.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(path)) Seq.empty
    else {
      val gens = fs.listStatus(path).toSeq
        .filter(_.isDirectory).map(_.getPath.getName)
        .collect { case n if n.startsWith("gen=") => n.drop(4).toLong }
        .sorted
      val doomed = gens.dropRight(keep)
      doomed.foreach(g =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/gen=$g"), true))
      doomed
    }
  }

  /** foreachBatch wiring of [[mergeAggBatch]] — start() with a
    * checkpointLocation; read the final state with [[latestGen]].
    */
  def upsertAggSink(stream: DataFrame, stateDir: String,
      keyCol: String, valCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeAggBatch(batch.toDF(), batchId, stateDir, keyCol, valCol)
    }

  case class Event(user_id: Long, ts_ns: Long, event_id: Long, value: Double)
  case class SessionState(startNs: Long, lastNs: Long, firstEvent: Long,
      lastEvent: Long, n: Long, total: Double)
  case class SessionizeState(open: Option[SessionState], pending: List[SessionState])
  case class Session(user_id: Long, session_start_ns: Long, n_events: Long,
      first_event: Long, last_event: Long, total_value: Double)

  /** Inactivity-gap sessionization as explicit keyed state — the
    * streaming twin of EventQueries.e01 (same 30-min default gap).
    *
    * Append-mode finalization: a session is not FINAL when a later event
    * exceeds the gap — a late event inside the watermark can still
    * belong to it. Gap-closed sessions therefore move to a per-key
    * `pending` buffer and are emitted exactly once, when the event-time
    * watermark passes `last_event_ts + gap` (either inside a data
    * invocation or via EventTimeTimeout for idle keys). A late
    * in-watermark event that predates the open session merges into the
    * pending session whose gap-extended span covers it, instead of
    * surfacing as a spurious singleton (the round-2 tradeoff this
    * replaces).
    *
    * State is BOUNDED by the watermark horizon: `pending` only holds
    * sessions whose `end + gap` the watermark has not reached, so per
    * key it is O(watermarkDelay / gap) and total state is O(active keys
    * within the horizon) — at 100 TB, horizontal per-key state, nothing
    * unbounded. Events older than the watermark never reach the state
    * function (Spark's late-row filter drops them), so `pending` covers
    * every mergeable arrival by construction.
    *
    * Streaming callers MUST set a watermark on a TimestampType `ts`
    * column before `.as[Event]` (EventTimeTimeout requires it):
    * {{{
    *   df.withColumn("ts", Streaming.tsFromNanos(col("ts_ns")))
    *     .withWatermark("ts", "10 minutes").as[Streaming.Event]
    * }}}
    *
    * In batch mode Spark calls the function once per key with the full
    * sorted history and timeouts never fire, so everything (pending and
    * open) is emitted — the complete, final answer (pinned against
    * e01's oracle semantics in StreamingSpec). The per-key sort
    * materializes that key's history only in batch; the declarative
    * window-function form (EventQueries e01) remains the batch path of
    * record.
    */
  def sessionize(
      events: Dataset[Event],
      gapNs: Long = 30L * 60 * 1000 * 1000 * 1000): Dataset[Session] = {
    import events.sparkSession.implicits._
    val isStreaming = events.isStreaming
    val timeoutConf =
      if (isStreaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionizeState, Session](
        OutputMode.Append, timeoutConf) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionizeState]) =>
          def finish(s: SessionState): Session =
            Session(userId, s.startNs, s.n, s.firstEvent, s.lastEvent, s.total)
          def endMs(s: SessionState): Long = (s.lastNs + gapNs) / 1000000L
          def merge(o: SessionState, e: Event): SessionState = {
            // the merge extends whichever END the event falls on, never
            // regressing lastNs (that would shrink the timeout horizon)
            val first = e.ts_ns < o.startNs ||
              (e.ts_ns == o.startNs && e.event_id < o.firstEvent)
            val last = e.ts_ns > o.lastNs ||
              (e.ts_ns == o.lastNs && e.event_id > o.lastEvent)
            SessionState(
              startNs = math.min(o.startNs, e.ts_ns),
              lastNs = math.max(o.lastNs, e.ts_ns),
              firstEvent = if (first) e.event_id else o.firstEvent,
              lastEvent = if (last) e.event_id else o.lastEvent,
              n = o.n + 1, total = o.total + e.value)
          }
          def covers(s: SessionState, e: Event): Boolean =
            e.ts_ns >= s.startNs - gapNs && e.ts_ns - s.lastNs <= gapNs

          val prior = state.getOption.getOrElse(SessionizeState(None, Nil))
          var pending: List[SessionState] = prior.pending
          var open: Option[SessionState] = prior.open

          if (!state.hasTimedOut) {
            val sorted = it.toSeq.sortBy(e => (e.ts_ns, e.event_id))
            sorted.foreach { e =>
              open = open match {
                // within gap of the open session's span (including a LATE
                // interior event older than lastNs)
                case Some(o) if covers(o, e) => Some(merge(o, e))
                case Some(o) if e.ts_ns < o.startNs - gapNs =>
                  // predates the open session by more than the gap: merge
                  // into the pending session whose gap-extended span covers
                  // it, else it is its own (already gap-isolated) session
                  pending.indexWhere(covers(_, e)) match {
                    case -1 => pending = pending :+
                      SessionState(e.ts_ns, e.ts_ns, e.event_id, e.event_id, 1, e.value)
                    case i => pending = pending.updated(i, merge(pending(i), e))
                  }
                  Some(o)
                case other =>
                  // gap exceeded forward: the open session closes (final
                  // only once the watermark passes its end + gap)
                  other.foreach(o => pending = pending :+ o)
                  Some(SessionState(e.ts_ns, e.ts_ns, e.event_id, e.event_id, 1, e.value))
              }
            }
          }

          if (isStreaming) {
            // finalize everything the watermark has passed; keep the rest
            val wm = state.getCurrentWatermarkMs()
            val (done, keepPending) = pending.partition(endMs(_) <= wm)
            val (doneOpen, keepOpen) = open match {
              case Some(o) if endMs(o) <= wm => (List(o), None)
              case other => (Nil, other)
            }
            val remaining = keepPending ++ keepOpen
            if (remaining.isEmpty) state.remove()
            else {
              state.update(SessionizeState(keepOpen, keepPending))
              // min over remaining end-horizons is > wm after the flush
              state.setTimeoutTimestamp(remaining.map(endMs).min)
            }
            (done.sortBy(_.startNs) ++ doneOpen).iterator.map(finish)
          } else {
            // batch: one call with complete data — everything is final
            (pending ++ open.toList).iterator.map(finish)
          }
      }
  }

  case class TEvent(user_id: Long, ts_ns: Long, event_id: Long, event_type: String)

  private val DayMs = 86400000L
  private val DayNs = 86400000000000L

  /** The event-time fold the ordered stream operators below share — the
    * "order-sensitive computation over an unordered stream" idiom: a
    * fold that needs a key's events in EVENT-TIME order cannot trust
    * micro-batch arrival order, so events buffer per key until the
    * watermark passes `finalMs` (no earlier event can still arrive).
    * Each call hands `step` the key, its prior state (or `empty`), the
    * newly ripe events sorted by (ts, event_id), the still-unripe `rest`
    * and the watermark in ms; `step` returns the state to keep (None
    * drops it) and the rows to emit, each exactly once, append-only.
    *
    * Kept state is woken at the next watermark advance while `wake`
    * holds (EventTimeTimeout re-invokes the key on watermark-only
    * batches, so ripe rows flush without new data). `dropLate` drops
    * rows already final on arrival. In batch the watermark is +∞: one
    * call per key sees its whole history and no state is stored, so a
    * `step` must not do arithmetic on `wm` that overflows there.
    */
  private def ripeFold[K: Encoder, S: Encoder, O: Encoder](
      events: Dataset[TEvent], key: TEvent => K, empty: S,
      finalMs: TEvent => Long = _.ts_ns / 1000000L, dropLate: Boolean = false)(
      buffer: S => List[TEvent], wake: S => Boolean = (_: S) => true)(
      step: (K, S, List[TEvent], List[TEvent], Long) => (Option[S], Iterator[O]))
      : Dataset[O] = {
    val isStreaming = events.isStreaming
    val timeout =
      if (isStreaming) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    events.groupByKey(key).flatMapGroupsWithState[S, O](OutputMode.Append, timeout) {
      (k: K, it: Iterator[TEvent], state: GroupState[S]) =>
        val prior = state.getOption.getOrElse(empty)
        val wm = if (isStreaming) state.getCurrentWatermarkMs() else Long.MaxValue
        val fresh = if (isStreaming && dropLate) it.filter(finalMs(_) > wm) else it
        val (ripe, rest) = (buffer(prior) ++ fresh).partition(finalMs(_) <= wm)
        val (next, out) = step(k, prior, ripe.sortBy(e => (e.ts_ns, e.event_id)), rest, wm)
        if (isStreaming) next match {
          case None => state.remove()
          case Some(s) =>
            state.update(s)
            if (wake(s)) state.setTimeoutTimestamp(wm + 1)
        }
        out
    }
  }

  case class TPair(user_id: Long, prev: String, next: String, next_ts_ns: Long)
  case class TransState(tail: Option[TEvent], buffer: List[TEvent])

  /** [[ripeFold]] over consecutive events: each ripe slice chains onto
    * the key's retained tail (its last final event), and `pair` maps
    * every adjacent (earlier, later) pair to at most one row. State per
    * key: O(rate × horizon) buffered events plus the tail.
    */
  private def pairFold[K: Encoder, O: Encoder](events: Dataset[TEvent], key: TEvent => K)(
      pair: (K, TEvent, TEvent) => Option[O]): Dataset[O] = {
    import events.sparkSession.implicits._
    ripeFold(events, key, TransState(None, Nil))(_.buffer) { (k, prior, ripe, rest, _) =>
      val rows = (prior.tail.toList ++ ripe).sliding(2).flatMap {
        case List(a, b) => pair(k, a, b)
        case _ => None
      }.toList
      val tail = ripe.lastOption.orElse(prior.tail)
      (if (rest.isEmpty && tail.isEmpty) None else Some(TransState(tail, rest)), rows.iterator)
    }
  }

  /** Per-user event-type TRANSITIONS from a live stream — the streaming
    * twin of EventQueries.e19's batch matrix: a transition (prev → next)
    * needs the user's events in event-time order, so it runs on
    * [[pairFold]] and appends one pair per consecutive step of the
    * user's final events.
    *
    * Finality contract (what the oracle replays): an event is emitted
    * iff floor(ts_ns/10⁶) ≤ final watermark (max event-time ms − delay)
    * — identical integer arithmetic to Spark's watermark tracker, so
    * the streamed pair set equals the batch lag over the final slice.
    */
  def transitionsStream(events: Dataset[TEvent]): Dataset[TPair] = {
    import events.sparkSession.implicits._
    pairFold(events, _.user_id) { (uid, a, b) =>
      Some(TPair(uid, a.event_type, b.event_type, b.ts_ns))
    }
  }

  case class GapRow(event_type: String, gap_start_ns: Long, gap_end_ns: Long,
      gap_ms: Long)

  /** LIVE silence/heartbeat monitor — the dead-man switch every
    * ingestion pipeline wants on its feeds: per event_type, emit one
    * row for every inter-event gap longer than `gapNs`, the moment the
    * gap's CLOSING event is finalized by the watermark. Runs on
    * [[pairFold]], so a gap is measured between genuinely consecutive
    * events whatever the arrival order, and each gap is emitted exactly
    * once.
    *
    * The still-open tail gap (silence since the last event, no closing
    * event yet) is deliberately NOT emitted — it has no final length;
    * a production monitor pairs this with a wall-clock alert, which is
    * nondeterministic by nature and so stays out of the oracle row.
    *
    * Finality contract (what the oracle replays): a gap row exists iff
    * its closing event's ms ≤ final watermark and the pair is adjacent
    * in the (ts, event_id) order of that finalized slice.
    */
  def gapsStream(events: Dataset[TEvent], gapNs: Long): Dataset[GapRow] = {
    import events.sparkSession.implicits._
    pairFold(events, _.event_type) { (etype, a, b) =>
      Option.when(b.ts_ns - a.ts_ns > gapNs)(
        GapRow(etype, a.ts_ns, b.ts_ns, (b.ts_ns - a.ts_ns) / 1000000L))
    }
  }

  case class ShiftRow(event_type: String, day: Long, before7: Long,
      after7: Long, shift: Long)
  case class ShiftState(buffer: List[TEvent], counts: Map[Long, Long],
      lo: Long, nextScore: Long, carry: Long)

  /** LIVE level-shift changepoint — x33's two-sided 7-day sliding
    * contrast as a stream: per event_type, the moment day d+7's last
    * millisecond passes the watermark (so both windows around d are
    * FINAL), emit shift(d) = Σ cnt(d+1..d+7) − Σ cnt(d−7..d−1) over
    * LOCF-filled day counts. The volume-step alarm (x33's batch
    * report) firing 7 days after the step, as early as finality
    * allows — each day scored exactly once, append-only.
    *
    * Runs on [[ripeFold]] with events ripening by DAY END. State per
    * key: the unripe event buffer (events whose day hasn't finalized),
    * a ~15-day window of finalized day counts (days the next score can
    * still reach), one LOCF carry for everything evicted, the key's
    * first finalized day, and the scoring cursor — O(rate × horizon +
    * 15) whatever the stream length.
    *
    * Finality contract (what the oracle replays): day d is final iff
    * (d+1)·86400000 ≤ final watermark ms; d is scored iff d−7 ≥ the
    * key's first finalized day and d+7 is final. The grid is per-key
    * from its own first day (x33's batch grid spans the GLOBAL day
    * range — the one documented divergence; a key silent at corpus
    * start has no finalized evidence of level 0 in a stream).
    */
  def levelShiftStream(events: Dataset[TEvent]): Dataset[ShiftRow] = {
    import events.sparkSession.implicits._
    ripeFold(events, _.event_type, ShiftState(Nil, Map.empty, Long.MinValue, 0L, 0L),
        finalMs = e => (e.ts_ns / DayNs + 1) * DayMs)(_.buffer) {
      (etype, prior, ripe, rest, wm) =>
        var counts = prior.counts
        ripe.groupBy(_.ts_ns / DayNs).foreach { case (d, es) =>
          counts = counts.updated(d, counts.getOrElse(d, 0L) + es.size)
        }
        val lo =
          if (prior.lo != Long.MinValue) prior.lo
          else if (counts.nonEmpty) counts.keys.min
          else Long.MinValue
        val maxd =
          if (wm != Long.MaxValue) wm / DayMs - 1
          else if (counts.nonEmpty) counts.keys.max
          else Long.MinValue
        def locf(x: Long): Long = {
          val below = counts.keys.filter(_ <= x)
          if (below.nonEmpty) counts(below.max) else prior.carry
        }
        val out = scala.collection.mutable.ListBuffer.empty[ShiftRow]
        var d =
          if (prior.lo != Long.MinValue) prior.nextScore
          else if (lo != Long.MinValue) lo + 7
          else Long.MaxValue
        if (d != Long.MaxValue) {
          while (d + 7 <= maxd) {
            val before = (1 to 7).map(k => locf(d - k)).sum
            val after = (1 to 7).map(k => locf(d + k)).sum
            out += ShiftRow(etype, d, before, after, after - before)
            d += 1
          }
        }
        // evict day counts the scoring cursor can no longer reach;
        // the LATEST evicted day's count becomes the LOCF carry
        var carry = prior.carry
        if (d != Long.MaxValue) {
          val (evict, keep) = counts.partition(_._1 < d - 7)
          if (evict.nonEmpty) carry = evict(evict.keys.max)
          counts = keep
        }
        val next =
          if (rest.isEmpty && counts.isEmpty && lo == Long.MinValue) None
          else Some(ShiftState(rest, counts, lo, if (d == Long.MaxValue) 0L else d, carry))
        (next, out.iterator)
    }
  }

  case class FunnelState(pending: List[TEvent], sNs: Long, cNs: Long,
      pNs: Long, settled: Boolean)
  case class FunnelDone(user_id: Long, s_ns: Long, c_ns: Long, p_ns: Long)

  /** LIVE ordered-funnel completion from a stream — the streaming twin
    * of EventQueries.e14: emit each user ONCE, the moment their ordered
    * signup → click → purchase chain completes (first-occurrence
    * timestamps per stage, strictly increasing — e14's stage-3
    * predicate). The conversion trigger every growth/activation
    * pipeline wants as a push, not a nightly batch.
    *
    * Runs on [[ripeFold]]: ripe events fold in (ts, event_id) order
    * into the three first-occurrence registers, so each register is
    * immutable once set — and the completion verdict (s < c < p with
    * all three set) is FINAL the moment the third register fills:
    * emit-once needs no retraction, and a failed verdict (e.g. first
    * click precedes first signup) is equally final, recorded as a
    * tombstone flag so later events can never resurrect the user.
    * State per user: O(rate × horizon) buffered events while unsettled,
    * then the O(1) settled flag; the key is woken only while events
    * are buffered, so a settled user is never woken again.
    *
    * Finality contract (what the oracle replays): an event folds iff
    * floor(ts_ns/10⁶) ≤ final watermark (max event-time ms − delay);
    * completed users are exactly those whose per-type min timestamps
    * over that slice are all present and strictly increasing.
    */
  def funnelStream(events: Dataset[TEvent]): Dataset[FunnelDone] = {
    import events.sparkSession.implicits._
    ripeFold(events, _.user_id, FunnelState(Nil, -1L, -1L, -1L, settled = false))(
        _.pending, wake = _.pending.nonEmpty) { (uid, prior, ripe, rest, _) =>
      // a settled verdict is final — drain arrivals, keep only the flag
      // (dropping state would let later events rebuild fresh registers
      // and re-emit)
      if (prior.settled) (Some(prior), Iterator.empty)
      else {
        var s = prior.sNs; var c = prior.cNs; var p = prior.pNs
        ripe.foreach { e =>
          e.event_type match {
            case "signup" if s < 0L => s = e.ts_ns
            case "click" if c < 0L => c = e.ts_ns
            case "purchase" if p < 0L => p = e.ts_ns
            case _ =>
          }
        }
        val settled = s >= 0L && c >= 0L && p >= 0L
        (Some(FunnelState(if (settled) Nil else rest, s, c, p, settled)),
          if (settled && s < c && c < p) Iterator.single(FunnelDone(uid, s, c, p))
          else Iterator.empty)
      }
    }
  }

  case class AnomDay(user_id: Long, day: Long, cnt: Long, z: Double)
  case class AnomState(pending: List[TEvent], partial: Map[Long, Long],
      h: Long, t: Long, s2: Long)

  /** ONLINE per-user daily-rate anomaly detection from a live stream —
    * the streaming twin of EventQueries.e20, and the sequential-test
    * idiom the batch form cannot express: each day is scored against
    * the user's history AS OF that day (strictly prior final days),
    * not against global statistics that include the future. A day
    * becomes FINAL when the watermark passes its last possible
    * millisecond — every event of the day is then at or below the
    * watermark, so its count is complete; final days fold, in day
    * order, into three integer moments per user (H days, T = Σcnt,
    * S2 = Σcnt²) and the |z| > 2 gate is the exact long predicate
    * dev² > 4·varn (dev = H·c − T, varn = H·S2 − T²) — floats touch
    * only the DISPLAYED z (one sqrt of an exact long, one division,
    * round6). Runs on [[ripeFold]]. State per user is O(rate × horizon)
    * buffered events + partial counts for the ≤ ⌈horizon/day⌉+1 open
    * days + the three O(1) moments; the moments are the user's scoring
    * history, kept as long as the key lives, and the key is woken only
    * while buffered events or open days still await the watermark.
    *
    * Finality contract (what the oracle replays): day d is scored iff
    * (d+1)·86400000 − 1 ≤ final watermark (max event-time ms − delay),
    * against moments over the user's earlier final days — the same
    * integer arithmetic as Spark's watermark tracker.
    */
  def anomalyStream(events: Dataset[TEvent]): Dataset[AnomDay] = {
    import events.sparkSession.implicits._
    ripeFold(events, _.user_id, AnomState(Nil, Map.empty, 0L, 0L, 0L))(
        _.pending, wake = st => st.pending.nonEmpty || st.partial.nonEmpty) {
      (uid, prior, ripe, rest, wm) =>
        var partial = prior.partial
        ripe.foreach { e =>
          val d = e.ts_ns / DayNs
          partial = partial.updated(d, partial.getOrElse(d, 0L) + 1L)
        }
        // a day is final once its last millisecond is at/below the
        // watermark — all its events are then ripe, so the count is
        // complete; finality is monotone in wm, so ascending order
        // here is ascending across batches too
        val finalDays =
          partial.keys.filter(d => wm == Long.MaxValue || (d + 1) * DayMs - 1 <= wm)
            .toSeq.sorted
        var h = prior.h; var t = prior.t; var s2 = prior.s2
        val out = List.newBuilder[AnomDay]
        finalDays.foreach { d =>
          val c = partial(d)
          val dev = h * c - t
          val varn = h * s2 - t * t
          if (h >= 3 && varn > 0 && dev * dev > 4 * varn) {
            val z = math.floor(
              (dev.toDouble / math.sqrt(varn.toDouble)) * 1e6 + 0.5) / 1e6
            out += AnomDay(uid, d, c, z)
          }
          h += 1; t += c; s2 += c * c
          partial = partial - d
        }
        (Some(AnomState(rest, partial, h, t, s2)), out.result().iterator)
    }
  }

  /** The (ts, event_id)-latest build with probe.ts − lookback ≤
    * build.ts ≤ probe.ts, if any.
    */
  private def latestBuild(builds: List[TEvent], p: TEvent, lookbackNs: Long): Option[TEvent] =
    builds.filter(b => b.ts_ns <= p.ts_ns && b.ts_ns >= p.ts_ns - lookbackNs)
      .maxByOption(b => (b.ts_ns, b.event_id))

  case class AsofRow(user_id: Long, probe_id: Long, build_id: Option[Long],
      gap_us: Option[Long])
  case class AsofState(pending: List[TEvent], builds: List[TEvent])

  /** LIVE stream-stream AS-OF join — the trade/quote enrichment shape
    * Structured Streaming's interval join cannot express: each probe
    * event (e.g. a click) is joined to the single LATEST build event
    * (e.g. a view) with build.ts ≤ probe.ts within a bounded lookback,
    * per key, left-outer. Spark's stream-stream join returns ALL views
    * in the interval; "the most recent one" is an order-sensitive
    * reduction over an unordered stream, so it runs on [[ripeFold]]:
    * every newly-final build joins the candidate list BEFORE any probe
    * matches (an equal-timestamp build/probe pair finalizes together,
    * whatever the arrival order); each final probe then picks argmax
    * by (ts, event_id) over candidates in [probe.ts − lookback,
    * probe.ts] and is emitted exactly once, append-only — a probe's
    * answer can never change after emission because any still-unripe
    * build is strictly newer than every finalized probe.
    *
    * State per key is bounded by the two horizons: the unripe buffer
    * spans at most the watermark delay, and retained builds span at
    * most the lookback behind the watermark (older builds can't match
    * any still-pending probe, which is by definition newer than the
    * watermark).
    *
    * Finality contract (what the oracle replays): a probe emits iff
    * floor(ts_ns/10⁶) ≤ final watermark (max event-time ms − delay);
    * its build is the (ts_ns, event_id)-max build with
    * probe.ts − lookback ≤ build.ts ≤ probe.ts — such builds are
    * always themselves final, so the oracle needs no build-side
    * watermark condition.
    *
    * Late input: a row already at/below the watermark on arrival is
    * DROPPED on arrival. Spark's late-row filter enforces the same
    * bound upstream when the watermark column survives into this
    * Dataset (our pipelines keep it); the local guard makes the
    * finality contract self-contained — a late probe processed anyway
    * would match against a build list whose true argmax may already be
    * pruned, contradicting rows emitted as final.
    */
  def asofJoinStream(events: Dataset[TEvent], probeType: String,
      buildType: String, lookbackNs: Long): Dataset[AsofRow] = {
    import events.sparkSession.implicits._
    ripeFold(events, _.user_id, AsofState(Nil, Nil), dropLate = true)(_.pending) {
      (uid, prior, ripe, rest, wm) =>
        // builds first: a probe finalized this batch may match a build
        // finalized this same batch (including equal timestamps)
        val builds = prior.builds ++ ripe.filter(_.event_type == buildType)
        val out = ripe.filter(_.event_type == probeType).map { p =>
          latestBuild(builds, p, lookbackNs).fold(AsofRow(uid, p.event_id, None, None))(b =>
            AsofRow(uid, p.event_id, Some(b.event_id), Some((p.ts_ns - b.ts_ns) / 1000L)))
        }
        // every pending probe has ts_ms > wm, so its candidates have
        // ts_ns ≥ (wm+1)·10⁶ − lookback — prune builds below that
        // (batch keeps no state, and the bound overflows at wm = +∞)
        val kept =
          if (wm == Long.MaxValue) Nil
          else builds.filter(_.ts_ns >= (wm + 1L) * 1000000L - lookbackNs)
        (if (rest.isEmpty && kept.isEmpty) None else Some(AsofState(rest, kept)),
          out.iterator)
    }
  }

  case class AsofFullRow(user_id: Long, probe_id: Option[Long],
      build_id: Option[Long], gap_us: Option[Long])
  case class AsofFullState(pending: List[TEvent], builds: List[TEvent],
      matched: List[Long])

  /** FULL-OUTER stream-stream AS-OF join — [[asofJoinStream]] (probe
    * side: every final probe emits once, matched or not) completed with
    * the symmetric build-side contract: a build that matched NO probe
    * emits once its FORWARD horizon passes — the way e25/e26 completed
    * e17's interval family. "Matched" means CHOSEN as some final
    * probe's argmax, not merely lying in a probe's window: a build
    * superseded by a newer build for every probe in its window is
    * unmatched (the abandoned-quote / orphaned-view audit row).
    *
    * Build-side finality: build b can still be chosen while any probe
    * in [b.ts, b.ts + lookback] is pending; pending probes have
    * ts_ms > wm, so once floor((b.ts_ns + lookback)/10⁶) ≤ wm every
    * probe that could choose b has been finalized — which is EXACTLY
    * the retention horizon asofJoinStream already prunes at, so the
    * unmatched-build emission is the prune step itself, reading the
    * matched-id marks accumulated since the build ripened. Probes
    * match against this batch's full build list BEFORE expiry runs, so
    * a build matched at its own expiry watermark is marked in time.
    * State per key stays bounded by the same two horizons as
    * asofJoinStream; the matched-id list is pruned with the builds it
    * marks.
    *
    * Finality contract (what the oracle replays): probe rows as in
    * asofJoinStream; build b emits (probe_id NULL) iff
    * floor((b.ts_ns + lookback)/10⁶) ≤ final watermark and b is no
    * final probe's argmax.
    *
    * Late input: dropped on arrival, as in [[asofJoinStream]]. The
    * guard matters MORE here — a late probe matched against the kept
    * builds after its true argmax expired would contradict an already-
    * emitted unmatched-build row on both sides of the audit.
    */
  def asofFullOuterStream(events: Dataset[TEvent], probeType: String,
      buildType: String, lookbackNs: Long): Dataset[AsofFullRow] = {
    import events.sparkSession.implicits._
    ripeFold(events, _.user_id, AsofFullState(Nil, Nil, Nil), dropLate = true)(_.pending) {
      (uid, prior, ripe, rest, wm) =>
        // builds first (asofJoinStream's equal-ts finality), and ALL
        // matching before any expiry: a probe finalized this batch may
        // choose a build that expires this same batch
        val builds = prior.builds ++ ripe.filter(_.event_type == buildType)
        var matched = prior.matched.toSet
        val probeRows = ripe.filter(_.event_type == probeType).map { p =>
          latestBuild(builds, p, lookbackNs) match {
            case None => AsofFullRow(uid, Some(p.event_id), None, None)
            case Some(b) =>
              matched += b.event_id
              AsofFullRow(uid, Some(p.event_id), Some(b.event_id),
                Some((p.ts_ns - b.ts_ns) / 1000L))
          }
        }
        // forward-horizon expiry ≡ asofJoinStream's keepNs prune
        // (b.ts_ns + lb < (wm+1)·10⁶ ⟺ floor((b.ts_ns + lb)/10⁶) ≤ wm),
        // written overflow-safe for the batch path's wm = MaxValue
        val (expired, kept) = builds.partition(b =>
          wm == Long.MaxValue || (b.ts_ns + lookbackNs) / 1000000L <= wm)
        val buildRows = expired.filter(b => !matched.contains(b.event_id))
          .sortBy(b => (b.ts_ns, b.event_id))
          .map(b => AsofFullRow(uid, None, Some(b.event_id), None))
        val keptIds = kept.map(_.event_id).toSet
        (if (rest.isEmpty && kept.isEmpty) None
          else Some(AsofFullState(rest, kept, matched.filter(keptIds.contains).toList)),
          (probeRows ++ buildRows).iterator)
    }
  }
}
