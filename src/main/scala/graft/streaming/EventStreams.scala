package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming over the `events` stream (event_id, ts, user_id,
  * event_type, value, props).
  *
  * The reference is batch-only (SURVEY §2.6); this module is the
  * forward-looking streaming surface of the engine. Each transform is
  * written against an input `DataFrame` so the SAME code runs on a
  * `readStream` source in production and on a `MemoryStream` in tests —
  * the Structured Streaming contract that batch/stream share one logical
  * plan.
  *
  * Scale notes: windowed aggregation state is bounded by the watermark
  * (late events beyond it are dropped, state evicted); sessionization
  * state is per-user and evicted via processing-time timeout. Both
  * operators shuffle by their grouping key only — (window, event_type)
  * and user_id respectively — never the payload.
  */
object EventStreams {

  /** Tumbling-window event rollup with a watermark: the streaming twin of
    * the batch `x_events_hourly_window` query. */
  def hourlyCounts(events: DataFrame,
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Sliding-window rollup (window length ≫ slide): each event lands in
    * length/slide overlapping windows. Same watermark-bounded state as
    * the tumbling form — Spark expands the window set per event at the
    * map side, so the shuffle carries (window, type) keys, not events ×
    * windows rows. The batch twin is `x_events_sliding_window`. */
  def slidingCounts(events: DataFrame,
      length: String = "1 hour", slide: String = "15 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), length, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Dynamic-gap session rollup via the NATIVE `session_window` operator
    * (the built-in face of [[sessionize]]'s custom state machine): a
    * session's window extends while events keep arriving within `gap`;
    * state is evicted once the watermark passes a session's end. Batch
    * face: `x_events_session_window` (same call). Boundary semantics,
    * pinned empirically by `EventStreamsSpec`: an event arriving at
    * EXACTLY `gap` after the previous one still MERGES into the session
    * — the new-session condition is strictly `> gap` of silence. */
  def sessionCounts(events: DataFrame,
      gap: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("session_window.start").as("sess_start"),
        col("user_id"), col("n_events"), col("total_value"))

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(
      start: Long, lastSeen: Long, nEvents: Long, total: Double)

  final case class Session(
      user_id: Long, start: Timestamp, end: Timestamp,
      n_events: Long, total_value: Double)

  /** Session gap: a user's session closes after 30 min of silence. */
  val SessionGapMs: Long = 30 * 60 * 1000L

  /** Custom stateful operator: per-user sessionization via
    * `flatMapGroupsWithState` — the pattern for state Spark's built-in
    * windows can't express. A session closes when the next event arrives
    * past the gap, or when the EVENT-TIME watermark passes
    * `lastSeen + gap` (state timeout). Event-time timeouts keep results
    * deterministic — wall-clock (processing-time) timeouts would make
    * session emission depend on trigger scheduling, and force Spark to
    * run re-analyzed empty micro-batches continuously. */
  def sessionize(spark: SparkSession, events: Dataset[Event]): Dataset[Session] = {
    import spark.implicits._
    events
      .withWatermark("ts", "30 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, new Timestamp(s.start),
              new Timestamp(s.lastSeen), s.nEvents, s.total))
          } else {
            val sorted = batch.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastSeen <= SessionGapMs =>
                  cur = Some(s.copy(lastSeen = t, nEvents = s.nEvents + 1,
                    total = s.total + e.value))
                case Some(s) =>
                  closed += Session(userId, new Timestamp(s.start),
                    new Timestamp(s.lastSeen), s.nEvents, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastSeen + SessionGapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming per-key EWMA — the incremental twin of
    * [[graft.ops.TimeSeries.ewma]] (`x_events_ewma`): state per user is
    * the O(1) pair (last event position, current EWMA), each
    * micro-batch folds its events in (ts, event_id) order, and every
    * accepted event emits its smoothed value. Events at or before the
    * already-folded position are LATE for a sequential recurrence (the
    * fold cannot be rewound) and are dropped — the EWMA analogue of
    * watermark lateness, made explicit here because the recurrence is
    * order-sensitive where a windowed aggregate is merely
    * completeness-sensitive. With in-order input the emitted values
    * equal the batch operator's exactly (spec-pinned). State is
    * per-user O(1) and never times out — a bounded-key-domain
    * recurrence keeps its state, like any running counter. */
  final case class EwmaState(lastTs: Long, lastId: Long, ewma: Double)

  def ewmaUpdates(spark: SparkSession,
      points: Dataset[graft.ops.TimeSeries.Point], alpha: Double)
      : Dataset[graft.ops.TimeSeries.EwmaPoint] = {
    import spark.implicits._
    require(alpha > 0.0 && alpha <= 1.0, s"alpha in (0, 1], got $alpha")
    points.groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, graft.ops.TimeSeries.EwmaPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[graft.ops.TimeSeries.Point],
            state: GroupState[EwmaState]) =>
          val sorted = batch.toArray.sortBy(p => (p.tsUs, p.event_id))
          var cur = state.getOption
          val out = Vector.newBuilder[graft.ops.TimeSeries.EwmaPoint]
          sorted.foreach { p =>
            val fresh = cur.forall(s =>
              p.tsUs > s.lastTs || (p.tsUs == s.lastTs && p.event_id > s.lastId))
            if (fresh) {
              val e = cur match {
                case None    => p.value
                case Some(s) => alpha * p.value + (1 - alpha) * s.ewma
              }
              cur = Some(EwmaState(p.tsUs, p.event_id, e))
              out += graft.ops.TimeSeries.EwmaPoint(userId, p.event_id, e)
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming exact deduplication on event_id: duplicates arriving
    * within the watermark horizon are dropped; state for ids older than
    * the watermark is evicted. The streaming twin of the batch
    * `dropDuplicates` — same call, bounded state. */
  def dedupedEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join: the static dimension is broadcast and
    * re-resolved per micro-batch (so a refreshed dim table is picked up
    * without restarting the query); the stream side never shuffles. */
  def enrichedEvents(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"), "left")

  /** Stream-stream interval join (purchase attribution): each view pairs
    * with the same user's purchases landing within `horizon` AFTER the
    * view (inclusive both ends). Both sides carry watermarks and the join
    * condition bounds event time in both directions, so Spark can evict
    * join state older than `watermark + horizon` — the requirement for an
    * unbounded stream-stream inner join to run with finite state. The
    * SAME code runs as a batch range join (`withWatermark` is a no-op in
    * batch), which is how the DuckDB oracle verifies it. */
  def purchaseAttribution(
      views: DataFrame, purchases: DataFrame,
      horizon: String = "1 hour", watermark: String = "2 hours"): DataFrame = {
    val v = views.select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("vts"))
      .withWatermark("vts", watermark)
    val p = purchases.select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("pts"),
        col("value").as("purchase_value"))
      .withWatermark("pts", watermark)
    v.join(p,
        col("user_id") === col("p_user") &&
          col("pts") >= col("vts") &&
          col("pts") <= col("vts") + expr(s"INTERVAL $horizon"))
      .drop("p_user")
  }

  /** LEFT OUTER stream-stream attribution — the production variant of
    * [[purchaseAttribution]]: a view with NO purchase inside `horizon`
    * still emits (null purchase columns) once the watermark passes its
    * match window, because unconverted views are exactly what a funnel
    * analysis counts. Spark's outer stream-stream join requires what
    * the inner form already has — watermarks on both sides plus the
    * two-sided event-time bound — and emits the null row at state
    * eviction time, so results arrive `watermark + horizon` after the
    * view at the latest. Batch semantics (`withWatermark` no-ops) are a
    * plain left range join, which is how the oracle verifies it. */
  def purchaseAttributionOuter(
      views: DataFrame, purchases: DataFrame,
      horizon: String = "1 hour", watermark: String = "2 hours"): DataFrame = {
    val v = views.select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("vts"))
      .withWatermark("vts", watermark)
    val p = purchases.select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("pts"),
        col("value").as("purchase_value"))
      .withWatermark("pts", watermark)
    v.join(p,
        col("user_id") === col("p_user") &&
          col("pts") >= col("vts") &&
          col("pts") <= col("vts") + expr(s"INTERVAL $horizon"),
        "left_outer")
      .drop("p_user")
  }

  /** Streaming parquet sink — the production exit: append-mode files
    * partitioned by event_type, with a checkpoint directory carrying the
    * committed offsets + file-sink log. A restarted query resumes from
    * the last committed batch and the sink log makes output files
    * exactly-once (re-running over already-committed input emits
    * nothing). `AvailableNow` drains the current input then stops —
    * batch-style runs on streaming semantics, the standard backfill
    * trigger. */
  def writeEventSink(
      df: DataFrame, outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .format("parquet")
      .partitionBy("event_type")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming CDC apply: maintains a keyed parquet snapshot from a
    * stream of change rows via `foreachBatch` +
    * [[graft.ops.Upsert.latestWins]]. Each micro-batch is deduplicated
    * to its LAST change per key (max_by over the batch — a batch can
    * carry several updates for one key; MERGE semantics require exactly
    * one) and merged into the snapshot; the snapshot is rewritten
    * atomically (write temp, swap read path next batch — here: plain
    * overwrite, the single-writer case). This is the no-Delta upsert
    * sink: the stream stays append-only, the snapshot stays queryable
    * with plain `spark.read.parquet`.
    *
    * Scale shape: the per-batch merge is one broadcast anti-join
    * (changes ≪ snapshot) + union + write — cost is the snapshot
    * rewrite, which is why production deployments partition the
    * snapshot and rewrite only touched partitions (compose with
    * `partitionBy`; same operator). */
  def cdcApplySink(
      changes: DataFrame, keyCol: String, seqCol: String,
      snapshotDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = changes.sparkSession
    val cols = changes.columns
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val latest = batch
          .groupBy(col(keyCol))
          .agg(expr(s"max_by(struct(${cols.mkString(", ")}), $seqCol)")
            .as("__r"))
          .select(cols.map(c => col(s"__r.$c")): _*)
        // first-batch is decided by PRESENCE OF DATA FILES, not by read
        // failure: a transient FS error / corrupt footer must fail the
        // batch (the engine retries) — falling back to empty would
        // overwrite the snapshot with just this micro-batch, i.e.
        // silent data loss
        val snapPath = new org.apache.hadoop.fs.Path(snapshotDir)
        val fs = snapPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val hasData = fs.exists(snapPath) && fs.listStatus(snapPath).exists {
          s =>
            val n = s.getPath.getName
            s.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        val target =
          if (hasData) spark.read.parquet(snapshotDir).where(lit(true))
          else latest.limit(0) // genuine first batch
        // localCheckpoint BEFORE overwrite: lazily reading the same
        // files we are about to truncate would be read-your-own-delete.
        // Pinned for the write, released right after — the next batch
        // re-reads the parquet snapshot, never this frame, and under a
        // continuous trigger unreleased blocks accumulate for the life
        // of the app.
        graft.ops.Checkpoints.using(
          graft.ops.Upsert.latestWins(target, latest, Seq(keyCol))) {
          _.write.mode("overwrite").parquet(snapshotDir)
        }
      }
      .start()
  }

  /** [[cdcApplySink]] upgraded to the transactional table
    * ([[graft.ops.TxTable]]): each micro-batch's last-change-per-key
    * set is MERGE-committed through the versioned commit log instead of
    * a plain snapshot overwrite. What the protocol buys the CDC path:
    *
    *  - no first-batch presence probe — the log is the source of truth,
    *    an empty table merges as pure inserts, and a transient FS error
    *    throws (the engine retries the batch) rather than being
    *    mistakable for "first batch";
    *  - readers can NEVER see a torn snapshot: the new version exists
    *    only once its commit entry links in, and a reader mid-query on
    *    the old version keeps its files (no read-your-own-delete, so no
    *    checkpoint pinning dance);
    *  - concurrent writers are safe (optimistic CAS), and every batch
    *    leaves a time-travelable version — `readAt(v)` reconstructs the
    *    snapshot as of any micro-batch, the audit trail a plain
    *    overwrite destroys.
    *
    * A replayed micro-batch (restart after a crash between the commit
    * and the offset write) re-merges identical rows — an extra version
    * with identical content, so the head snapshot is idempotent. */
  def txCdcApplySink(
      changes: DataFrame, keyCol: String, seqCol: String,
      tableDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = changes.sparkSession
    val cols = changes.columns
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val latest = batch
          .groupBy(col(keyCol))
          .agg(expr(s"max_by(struct(${cols.mkString(", ")}), $seqCol)")
            .as("__r"))
          .select(cols.map(c => col(s"__r.$c")): _*)
        graft.ops.TxTable(spark, tableDir).upsert(latest, Seq(keyCol))
        ()
      }
      .start()
  }

  /** Streaming SCD TYPE 2 dimension maintenance: each micro-batch of
    * dimension changes is collapsed to its last change per key
    * (max_by over `seqCol`, like [[cdcApplySink]]) and applied through
    * [[graft.ops.Scd2]] to the versioned dimension held in a
    * [[graft.ops.TxTable]] at `dimDir` — closed version chains
    * accumulate, the open row per key flips, and the whole post-batch
    * state commits ATOMICALLY (overwrite through the commit log, so a
    * reader can never see a dimension with a closed row but no
    * successor). The batch version stamp is `max(_valid_from) + 1` of
    * the current state — monotone and derived from the data, not from
    * wall clock.
    *
    * Restart idempotency comes from SCD2's own algebra: a replayed
    * micro-batch re-applies identical attribute values, which the
    * null-safe change detection classifies as UNCHANGED — no spurious
    * version opens, and the extra overwrite commit is
    * content-identical (the same property `txCdcApplySink` gets from
    * latest-wins). Scale shape: per batch, one join of CURRENT rows
    * against the (small) change set — history is filtered out before
    * the join and unioned back, so chains can grow for years without
    * the join input growing with them. */
  def scd2Sink(changes: DataFrame, keys: Seq[String],
      trackCols: Seq[String], seqCol: String,
      dimDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = changes.sparkSession
    val cols = changes.columns.filterNot(_ == seqCol)
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val latest = batch
          .groupBy(keys.map(col): _*)
          .agg(expr(s"max_by(struct(${batch.columns.mkString(", ")}), " +
            s"$seqCol)").as("__r"))
          .select(cols.map(c => col(s"__r.$c")): _*)
        val t = graft.ops.TxTable(spark, dimDir)
        val empty = t.snapshot().files.isEmpty
        val state =
          if (empty) graft.ops.Scd2.init(latest.limit(0), 1L)
          else t.read()
        val version =
          if (empty) 1L
          else state.agg(max(col(graft.ops.Scd2.ValidFrom)))
            .head().getLong(0) + 1L
        // no pinning dance for the state: overwrite STAGES the new
        // content while the old version's files are still live (vacuum,
        // not overwrite, reclaims them) — the protocol removes
        // read-your-own-delete. The batch is pinned for Scd2's two reads
        // and released once the overwrite has committed.
        graft.ops.Checkpoints.using(latest) { u =>
          t.overwrite(graft.ops.Scd2(state, u, keys, trackCols, version))
        }
        ()
      }
      .start()
  }

  /** Streaming mergeable-sketch rollup: maintains per-(day, event_type)
    * HLL sketches of distinct users in a parquet snapshot, merging each
    * micro-batch's sketches into the persisted ones via `hll_union_agg`
    * — the incremental distinct-count architecture. No raw events are
    * retained: state is one sketch (~kB) per group, merges are
    * associative, and the same snapshot answers rollups at ANY
    * granularity later (union the day sketches into weeks/months
    * without re-reading events). `hll_sketch_estimate` over the
    * snapshot is the query face.
    *
    * Follows [[cdcApplySink]]'s snapshot discipline: first batch decided
    * by data-file presence (read failures must retry, not truncate),
    * merged frame pinned for the overwrite and released after. */
  def sketchRollupSink(
      events: DataFrame, snapshotDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = events.sparkSession
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val fresh = batch
          .withColumn("day", to_date(col("ts")))
          .groupBy("day", "event_type")
          .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
        val snapPath = new org.apache.hadoop.fs.Path(snapshotDir)
        val fs = snapPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val hasData = fs.exists(snapPath) &&
          fs.listStatus(snapPath).exists { s =>
            val n = s.getPath.getName
            s.isFile && !n.startsWith("_") && !n.startsWith(".")
          }
        val prior =
          if (hasData) spark.read.parquet(snapshotDir).where(lit(true))
          else fresh.limit(0)
        graft.ops.Checkpoints.using(
          prior.unionByName(fresh)
            .groupBy("day", "event_type")
            .agg(expr("hll_union_agg(sk)").as("sk"))) {
          _.write.mode("overwrite").parquet(snapshotDir)
        }
      }
      .start()
  }

  /** Streaming HEAVY-HITTERS rollup sink — the SpaceSaving twin of
    * [[sketchRollupSink]] (HLL): per-group frequent terms maintained
    * incrementally with O(m) state per group. Each micro-batch
    * sketches its OWN rows with the `heavy_hitters` aggregate
    * ([[graft.functions.SpaceSaving]]), then merges with the persisted
    * summary by the SAME mergeable-summaries rule the aggregate's
    * internal merge uses — an absent side contributes its eviction
    * floor (min estimate when saturated, 0 below capacity) to BOTH
    * estimate and error, sums combine, and the result truncates to
    * top-m by (est DESC, term ASC) — so the Metwally/Agarwal
    * certificate `est − err ≤ true ≤ est` survives any batch split,
    * and state stays m rows per group no matter how long the stream
    * runs. Below capacity the summary is exact counting and the
    * stream equals the batch aggregate bit-for-bit
    * (`StatefulTwinsSpec`).
    *
    * Unlike HLL union (idempotent — re-merging a replayed batch is
    * absorbed), SpaceSaving merge DOUBLE-COUNTS a replay, so the
    * snapshot records ONE (app_id → max batch_id) high-water MARKER
    * ROW PER APP (flagged by a dedicated `__marker` boolean — never a
    * sentinel term value, so a genuine NULL term group in the events
    * survives as data — carried forward through every
    * overwrite) — Delta's txnAppId/txnVersion idempotent-writes
    * device, with the query's checkpoint location as the app
    * identity. A crash-replay of an already-applied batch from the
    * SAME query is skipped by that app's OWN marker, so the guard
    * survives INTERLEAVED writers: app A's replay is still skipped
    * after app B merged in between (a last-writer-only stamp would
    * have forgotten A and double-counted — `StatefulTwinsSpec` pins
    * the interleaving). New apps (fresh checkpoint) merge normally.
    * Snapshot discipline otherwise follows [[sketchRollupSink]]:
    * read-merge-pin-overwrite, markers riding the same atomic write. */
  def heavyHittersSink(
      events: DataFrame, groupCol: String, termCol: String, m: Int,
      snapshotDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyHeavyHittersBatch(batch, groupCol, termCol, m,
          snapshotDir, appId = checkpointDir, batchId = batchId)
      }
      .start()

  /** One micro-batch of [[heavyHittersSink]], factored out so the
    * replay guard and merge rule are directly testable. */
  private[streaming] def applyHeavyHittersBatch(
      batch: DataFrame, groupCol: String, termCol: String, m: Int,
      snapshotDir: String, appId: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    graft.functions.VectorExpressions.register(spark)
    val g = col(groupCol)
    val snapPath = new org.apache.hadoop.fs.Path(snapshotDir)
    val fs = snapPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(snapPath) &&
      fs.listStatus(snapPath).exists { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    // markers carry a DEDICATED __marker discriminator, not a null
    // term: a genuine NULL term group arriving in events must survive
    // the merge and the snapshot query, not be conflated with
    // bookkeeping rows. Snapshots written before the column existed
    // (which used term-null markers and, being pre-discriminator,
    // could not hold genuine null-term rows) upgrade in place by
    // deriving the flag from term IS NULL.
    val prior0 = {
      val raw =
        if (hasData) spark.read.parquet(snapshotDir).where(lit(true))
        else null
      if (raw == null) null
      else if (raw.columns.contains("__marker")) raw
      else raw.withColumn("__marker", col("term").isNull)
    }
    // replay guard against THIS app's own high-water mark only — its
    // marker row, or its stamp on the data rows when it was the last
    // writer (also how pre-marker snapshots upgrade in place). The
    // global max would confuse another app's later batch ids with
    // this app's progress.
    val applied = prior0 != null &&
      prior0.where(col("app_id") === appId &&
        col("batch_id") >= batchId).limit(1).count() > 0
    if (!applied) {
      val fresh = batch
        .groupBy(g)
        .agg(call_function("heavy_hitters", col(termCol), lit(m))
          .as("hh"))
        .select(g, explode(col("hh")).as("h"))
        .select(g, col("h.term").as("term"),
          col("h.est").as("est"), col("h.err").as("err"))
      val merged =
        if (prior0 == null) fresh
        else {
          // marker rows are bookkeeping, not summary content
          val prior = prior0.where(!col("__marker"))
            .select(g, col("term"), col("est"), col("err"))
          // per-side eviction floors, derivable from the summary
          // itself: min estimate when the group is at capacity,
          // 0 below it (an absent item's count is then provably 0)
          def floors(df: DataFrame) = df.groupBy(g)
            .agg(when(count(lit(1)) >= m, min(col("est")))
              .otherwise(lit(0L)).as("floor"))
          val keys = prior.select(g, col("term"))
            .unionByName(fresh.select(g, col("term"))).distinct()
          keys
            .join(prior.withColumnRenamed("est", "est_p")
              .withColumnRenamed("err", "err_p"),
              Seq(groupCol, "term"), "left")
            .join(fresh.withColumnRenamed("est", "est_f")
              .withColumnRenamed("err", "err_f"),
              Seq(groupCol, "term"), "left")
            .join(floors(prior).withColumnRenamed("floor", "floor_p"),
              Seq(groupCol), "left")
            .join(floors(fresh).withColumnRenamed("floor", "floor_f"),
              Seq(groupCol), "left")
            .select(g, col("term"),
              (coalesce(col("est_p"), coalesce(col("floor_p"), lit(0L)))
                + coalesce(col("est_f"),
                  coalesce(col("floor_f"), lit(0L)))).as("est"),
              (coalesce(col("err_p"), coalesce(col("floor_p"), lit(0L)))
                + coalesce(col("err_f"),
                  coalesce(col("floor_f"), lit(0L)))).as("err"))
            .withColumn("__rk", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(g)
                .orderBy(col("est").desc, col("term"))))
            .where(col("__rk") <= m).drop("__rk")
        }
      val stamped = merged.withColumn("batch_id", lit(batchId))
        .withColumn("app_id", lit(appId))
        .withColumn("__marker", lit(false))
      // carry every OTHER app's high-water marker forward (collapsed
      // to one row per app — pre-marker snapshots contribute their
      // data-row stamps the same way) and emit this app's fresh one;
      // the markers ride the same atomic overwrite as the data
      val sq = spark; import sq.implicits._
      val others =
        if (prior0 == null)
          Seq.empty[(String, Long)].toDF("app_id", "batch_id")
        else prior0.where(col("app_id") =!= appId)
          .groupBy(col("app_id"))
          .agg(max(col("batch_id")).as("batch_id"))
      val markers = others
        .unionByName(Seq((appId, batchId)).toDF("app_id", "batch_id"))
      val sch = stamped.schema
      val markerRows = markers.select(sch.fields.toSeq.map { f =>
        f.name match {
          case "app_id" | "batch_id" => col(f.name)
          case "__marker" => lit(true).as("__marker")
          case n => lit(null).cast(f.dataType).as(n)
        }
      }: _*)
      graft.ops.Checkpoints.using(stamped.unionByName(markerRows)) {
        _.write.mode("overwrite").parquet(snapshotDir)
      }
    }
  }

  /** Query face of [[heavyHittersSink]]'s snapshot: top-k frequent
    * terms per group with ranks and certificates. */
  def heavyHittersSnapshot(spark: SparkSession, snapshotDir: String,
      groupCol: String, k: Int): DataFrame = {
    val raw = spark.read.parquet(snapshotDir)
    // drop per-app replay markers by their dedicated discriminator
    // (pre-discriminator snapshots used term-null markers and could
    // not hold genuine null-term rows, so the fallback is exact)
    val data =
      if (raw.columns.contains("__marker")) raw.where(!col("__marker"))
      else raw.where(col("term").isNotNull)
    data
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(groupCol))
          .orderBy(col("est").desc, col("term"))))
      .where(col("rank") <= k)
      .select(col(groupCol), col("term"), col("est"), col("err"),
        col("rank").cast("int").as("rank"))
  }

  /** Query face of [[sketchRollupSink]]'s snapshot: per-group distinct
    * estimates, plus any coarser rollup by re-unioning the sketches. */
  def sketchEstimates(spark: SparkSession, snapshotDir: String): DataFrame =
    spark.read.parquet(snapshotDir)
      .select(col("day"), col("event_type"),
        expr("hll_sketch_estimate(sk)").as("n_users_est"))

  /** File-source stream over an events directory — the production entry
    * (same schema as the batch table; parquet files appear per
    * micro-batch). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    // events files may store TIMESTAMP(NANOS); without this conf the
    // batch schema probe below throws PARQUET_TYPE_ILLEGAL on a fresh
    // session (mirrors Tables.events)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(dir).schema
    // encoding-adaptive ts normalization, same contract as the batch
    // loader (nanos-as-long legacy files and micros/NTZ files both land
    // on session-zone TimestampType)
    graft.core.Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(dir))
  }
}
