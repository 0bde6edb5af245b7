package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** S10 streaming half: incremental stream-session tracking with CUSTOM
  * per-key state — the reference's Bot maintains the `streams` uptime table
  * `(channel, started_at) → ended_at` live, row by row (Bot.java:145-232,
  * 150 s poll cooldown ≈ the gap grain). The batch form is
  * [[graft.operators.Sessionize]] (`session_window`); this is the same
  * semantics under Structured Streaming via
  * `groupByKey(...).flatMapGroupsWithState` — the primitive for state Spark's
  * built-in windows can't express (here: emit a session the moment it closes,
  * carry only the open session forward).
  *
  * State per key = ONE open session (12 bytes + key) — not the events, not
  * the closed sessions. A million channels is megabytes of state; events
  * stream through one shuffle per micro-batch and are never retained. Closed
  * sessions are emitted append-only, exactly once each:
  *
  *  - within a batch: events are sorted per key and every gap >= gapMs
  *    closes a session immediately;
  *  - across batches: the open session persists in the group state and an
  *    EVENT-TIME TIMEOUT fires once the watermark passes
  *    `last_ts + gapMs` — the earliest instant the session is provably over
  *    (no event can arrive before the watermark), the analog of the Bot's
  *    poller noticing the stream went offline.
  *
  * Ordering contract: same-key events must arrive in event-time order ACROSS
  * micro-batches (within a batch any order is fine — they're sorted). That is
  * exactly the guarantee the watermark + gap give a conforming source: an
  * event older than the open session's last_ts by more than the lateness
  * bound is watermark-dropped before it reaches the state function. A
  * within-bound straggler merges; its out-of-orderness can only extend the
  * session (n_events, min started_at), never corrupt a closed one.
  */
object StreamingSessionize {

  /** The open-session state carried between micro-batches. */
  final case class OpenSession(startedAt: Long, lastTs: Long, nEvents: Long)

  /** Typed view of the input stream rows. */
  final case class Ev(channel: String, ts: java.sql.Timestamp)

  /** A closed session — the streams-table row (Bot.java:74-81). */
  final case class Session(channel: String, started_at: Long, ended_at: Long,
                           n_events: Long)

  /** Per-key state transition: merge this batch's (sorted) event timestamps
    * into the open session; return the sessions that CLOSED. */
  private[streaming] def advance(
      channel: String, tsSorted: Iterator[Long], gapMs: Long,
      state: GroupState[OpenSession]): Iterator[Session] = {
    if (!state.exists && !tsSorted.hasNext) return Iterator.empty
    if (state.hasTimedOut) {
      // Watermark passed lastTs + gap: the open session is provably over.
      val s = state.get
      state.remove()
      return Iterator.single(
        Session(channel, s.startedAt, s.lastTs + gapMs, s.nEvents))
    }
    val closed = Seq.newBuilder[Session]
    var cur = state.getOption.orNull
    tsSorted.foreach { ts =>
      cur match {
        case null =>
          cur = OpenSession(ts, ts, 1)
        case c if ts - c.lastTs >= gapMs =>
          closed += Session(channel, c.startedAt, c.lastTs + gapMs, c.nEvents)
          cur = OpenSession(ts, ts, 1)
        case c =>
          // In-order extend; a within-watermark straggler (ts < lastTs) can
          // only widen the session, never split a closed one.
          cur = OpenSession(math.min(c.startedAt, ts),
            math.max(c.lastTs, ts), c.nEvents + 1)
      }
    }
    if (cur != null) {
      state.update(cur)
      // Close via event-time timeout once the watermark proves no more
      // events can join. If the watermark is already past, the very next
      // micro-batch (even an empty one) fires the timeout.
      state.setTimeoutTimestamp(
        math.max(cur.lastTs + gapMs, state.getCurrentWatermarkMs() + 1))
    }
    closed.result().iterator
  }

  /** Sessionize a stream of (channel STRING, ts TIMESTAMP) rows. Emits each
    * session exactly once, when it closes (gap observed or watermark
    * timeout). `lateness` is the watermark bound on out-of-order arrival. */
  def sessions(events: DataFrame, gapMs: Long,
               lateness: String = "0 seconds"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("channel"), col("ts"))
      .withWatermark("ts", lateness)
      .as[Ev]
      .groupByKey(_.channel)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, it: Iterator[Ev], state: GroupState[OpenSession]) =>
          // Timestamp.getTime floors to epoch-ms — the engine's external
          // timestamp grain (SURVEY §1.4), same flooring as the batch s10.
          advance(key, it.map(_.ts.getTime).toArray.sorted.iterator, gapMs, state)
      }
  }

  /** Drains a closed-session stream into `sinkPath` through the
    * [[Streaming.AppendOnceSink]]: foreachBatch is at-least-once, and a bare
    * `mode("append")` would double-emit every session of a batch replayed
    * after a crash between the write and the checkpoint commit.
    *
    * State-partition sizing is the CALLER's job: the count is pinned at
    * first-batch planning from `out.sparkSession`'s conf, so `out` must be
    * built on a session sized for channel-grain state ([[runSessions]]
    * builds it on Streaming.sessionWithStatePartitions(spark, 8)). */
  def writeSessions(out: Dataset[Session], sinkPath: String): Unit =
    Streaming.appendOnce(out.sparkSession, sinkPath)(_ => out.toDF())

  /** Finite-replay runner for the registered query: replays the events table
    * through [[sessions]] and returns the closed-session table.
    *
    * A finite replay ends with every channel's LAST session still open (no
    * later event ever closes it), so a per-channel FLUSH SENTINEL — one
    * synthetic event staged at `flushTs + gapMs` — is appended after the
    * real files. Placing it a full gap past `flushTs` means any `flushTs`
    * at-or-after the latest real event GUARANTEES closure (a sentinel at
    * `flushTs` alone could land within the gap of the last session and
    * silently merge into it instead). The sentinel closes the last real
    * session intra-batch; the sentinel's own 1-event session is the one
    * left open in state, and is never emitted. This is purely a replay
    * artifact: a production stream closes sessions by the event-time
    * timeout as the watermark advances, no sentinels involved.
    *
    * @param flushTs epoch-ms at or after the latest real event time */
  def runSessions(spark: SparkSession, dir: String, sinkPath: String,
                  gapMs: Long, flushTs: Long): DataFrame = {
    import spark.implicits._
    // PRIVATE staging (not the shared cached landing dir): this runner
    // appends sentinel files below, which must never leak into other
    // consumers of the events table.
    val staged = Streaming.privateStagedTableDir(dir, "events")
    // Bounded-metadata collect: one value per distinct CHANNEL (the
    // reference's streams are per-channel — hundreds, not millions), needed
    // driver-side because each channel gets its own sentinel row appended
    // to the staging dir. Grows with channel cardinality only, never with
    // events.
    val chans = graft.Tables.messages(spark, dir)
      .select(col("channel")).distinct().as[String].collect().toSeq
    // Sentinel file in the SAME staged landing dir, same events schema —
    // ts written as TIMESTAMP_NTZ to match the physical layout (the drift
    // guard below would reject a mixed-type landing dir).
    chans.zipWithIndex.map { case (c, i) =>
      (-1L - i, flushTs + gapMs, 0L, c, 0.0, "")
    }.toDF("event_id", "ts_ms", "user_id", "event_type", "value", "props")
      .select(col("event_id"),
        timestamp_millis(col("ts_ms")).cast(TimestampNTZType).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("append").parquet(staged)

    Streaming.assertEventsTsType(spark, staged)
    // Session state is channel-grain — build the stream on a cloned
    // session with right-sized state partitions (see
    // Streaming.sessionWithStatePartitions for the rationale and the race
    // the clone avoids).
    val ss = Streaming.sessionWithStatePartitions(spark, 8)
    val stream = ss.readStream.schema(graft.Schemas.events).parquet(staged)
      .withColumn("ts", col("ts").cast(TimestampType))
      .select(col("event_type").as("channel"), col("ts"))
    writeSessions(sessions(stream, gapMs), sinkPath)
    // A degenerate replay (every channel a single never-gapped session that
    // only the sentinel closes — or no data at all) may close zero
    // sessions; an empty sink dir must mean an empty table, not a
    // schema-inference error.
    val sinkFs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(sinkPath), spark.sparkContext.hadoopConfiguration)
    val hasData = sinkFs.exists(new org.apache.hadoop.fs.Path(sinkPath)) &&
      sinkFs.listStatus(new org.apache.hadoop.fs.Path(sinkPath))
        .exists(_.getPath.getName.endsWith(".parquet"))
    if (hasData) spark.read.parquet(sinkPath)
    else spark.emptyDataset[Session].toDF()
  }
}
