package graft.streaming

import scala.collection.immutable.SeqMap
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StructType, TimestampType}
import graft.Schemas
import graft.operators.Merge
import graft.pipeline.StatsPipeline

/** Structured Streaming parity: the reference IS a streaming job
  * (EmoteAnalyser.java:34-158) — Kafka source → per-event transforms → keyed
  * windowed aggregation with periodic early firing → upsert sink. This module
  * re-expresses that identity Spark-first:
  *
  *  - S1: `readStream` replay of the events table (the Kafka-source
  *    stand-in; swap for `format("kafka")` + S2 `from_json` in production);
  *  - S4: event-time column + `withWatermark` (the reference uses
  *    `noWatermarks()` and flushes by timer instead — a generous watermark
  *    plus update mode reproduces "arbitrarily late data still merges");
  *  - A3: update-mode output with a trigger — Spark emits *absolute* updated
  *    per-window aggregates each micro-batch where the reference emits
  *    *deltas*; absolute+replace-upsert ≡ delta+additive-upsert
  *    (AbstractStatsAggregation.java:84-115, SURVEY.md §2.3 A3);
  *  - S5: idempotent `foreachBatch` upsert sink with committed-batch
  *    tracking — the XAPostgresSink 2-phase-commit analog
  *    (XAPostgresSink.java:99-175);
  *  - T2: per-micro-batch side-input refresh of the emote dictionary
  *    (EmoteExtractor.java:115-178).
  *
  * Every runner is built from the same few pieces: [[runBatches]] starts
  * and awaits the streams, [[sliceLanding]] stages a table as single-file
  * micro-batches, [[BatchMarker]] keeps every committed-batch marker, the
  * stats grain table drives the five reference branches, and
  * [[additiveMonitor]] / [[updateMonitor]] carry the monitor families.
  */
object Streaming {

  /** Above this many touched partitions per micro-batch the sink switches
    * from a literal partition predicate to a broadcast left-semi join —
    * the plan never embeds an unbounded IN literal. */
  val MaxLiteralPartitions = 256

  /** Visible-delta count at which an additive [[ParquetUpsertSink]] batch
    * compacts its delta log into the base. Measured on the `live`
    * workload's five grains (two preloaded days, 2,400-row slices, 4
    * vCPUs), the dashboard read mix right after a commit did not grow with
    * the live delta count: 4.9 / 5.2 / 5.4 s at 4 / 16 / 32 deltas against
    * 3.1 s over the bare base (3.5 / 3.8 / 3.8 s against 2.2 s in a calmer
    * run) — the merge's scan and shuffle of the base dominate, not the log. A
    * compacting batch rewrites every touched base partition: 7.1 s against
    * 1.1-1.2 s for a logging batch at 32 deltas, so the largest measured
    * count amortizes it best (~0.19 s per batch). */
  val CompactAt = 32

  /** Time-bucket span for windowed state tables: one day of 15-min windows
    * per (channel, bucket) leaf dir — the rewrite unit of a micro-batch. */
  val DayMillis = 86400000L

  /** Diagnostic: number of epoch-probe FS listings issued (exactly one per
    * state-merging upsert — pinned by StreamingParitySpec). */
  private[graft] val epochProbeListings =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Shared bounded pool for per-partition FS metadata ops (epoch stamps):
    * daemon threads, created once — not per micro-batch. */
  private lazy val fsPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(32,
      new java.util.concurrent.ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, "graft-sink-fs")
          t.setDaemon(true)
          t
        }
      })

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  /** Consume a crash-replayed (already committed) micro-batch WITHOUT an
    * external write. Skipping a replayed batch must still EXECUTE its plan:
    * upstream stateful operators commit their state-store version as part of
    * the batch run, and Spark validates that foreachBatch processed the
    * DataFrame (STATE_STORE_COMMIT_VALIDATION_FAILED otherwise) — a bare
    * `return` aborts the restarted query. The noop datasource materializes
    * every row distributed, writes nothing. */
  private[streaming] def drainReplayedBatch(batch: org.apache.spark.sql.DataFrame): Unit =
    batch.write.format("noop").mode("overwrite").save()

  /** The file stream source requires a *directory* to watch
    * (FileStreamSource pins `basePath` to the load path internally), so a
    * single-file table is staged into a landing directory — the same shape
    * a Kafka-connect/ingest job would land files into.
    *
    * The landing dir is STABLE per (dir, table) within the JVM: a
    * checkpointed query that restarts must see the SAME source path, or
    * the file source treats the re-staged copy as brand-new input and
    * re-ingests it — rows still inside the watermark horizon then re-join
    * against retained state and duplicate (caught by StreamingParitySpec's
    * stream-stream replay test). Production sources (a Kafka topic, a real
    * ingest dir) are stable by nature; the cache is what makes the
    * test-time stand-in equally honest. */
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[streaming] def stagedTableDir(dir: String, table: String): String =
    stagedDirs.computeIfAbsent(s"$dir/$table",
      _ => privateStagedTableDir(dir, table))

  /** Uncached staging: a PRIVATE landing dir for the one runner that
    * APPENDS extra files to its input (sessionize's flush sentinels,
    * StreamingSessionize.runSessions) — appended files in the shared
    * cached dir would leak into every other consumer of the table
    * (caught by the full-registry oracle gate: five sentinel rows
    * surfaced in the channel-stats state table). */
  private[streaming] def privateStagedTableDir(dir: String, table: String): String = {
    val src = java.nio.file.Paths.get(dir, s"$table.parquet")
    val d = graft.Scratch.dir(s"graft-stream-$table")
    java.nio.file.Files.copy(src, d.resolve(s"$table.parquet"))
    d.toString
  }

  /** Streaming-source schema-drift guard: a declared schema that mismatches
    * the parquet footer does NOT fail a stream read — Spark reinterprets the
    * raw values (the r7 testdata regeneration had the old LongType
    * declaration silently reading µs as ns, collapsing every window to
    * epoch 1970). Probe the footer via a one-time batch schema read per
    * staged dir and fail loudly instead. */
  private val tsCheckedDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[streaming] def assertEventsTsType(spark: SparkSession, staged: String): Unit =
    if (!tsCheckedDirs.contains(staged)) {
      assertDeclaredTsType(spark, staged, Schemas.events("ts").dataType)
      tsCheckedDirs.add(staged)
    }

  /** Uncached core of the guard, parameterized so the spec can pin the
    * negative path (a wrong declaration MUST trip, not misread). */
  private[graft] def assertDeclaredTsType(spark: SparkSession, staged: String,
                                          declared: org.apache.spark.sql.types.DataType): Unit = {
    val physical = spark.read.parquet(staged).schema("ts").dataType
    require(physical == declared,
      s"events.ts physical type $physical != declared $declared: a declared-" +
        "schema stream would silently misread raw values; update Schemas.events")
  }

  /** S1: streaming replay of the events table. Explicit schema (S7) — file
    * sources don't infer at plan time. `ts` is TIMESTAMP_NTZ on disk
    * (guarded above); normalize to the engine's session-TZ TimestampType,
    * identical instants under the fixed UTC session. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val staged = stagedTableDir(dir, "events")
    assertEventsTsType(spark, staged)
    spark.readStream.schema(Schemas.events)
      .parquet(staged)
      .withColumn("ts", col("ts").cast(TimestampType))
  }

  /** S1 production half: the Kafka source proper — `format("kafka")` + S2
    * `from_json` deserialization of the Message envelope
    * (EmoteAnalyser.java:65-78; MessageDeserializationSchema.java:9-25).
    * The sandbox has no broker or kafka-connector jars, so this path is
    * compile-checked here and exercised only on a real cluster; the file
    * replay below is the test-time stand-in with identical downstream
    * semantics. */
  def kafkaMessagesStream(spark: SparkSession, brokers: String, topic: String): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
      .select(from_json(col("value").cast("string"), Schemas.messageEnvelope).as("m"))
      .select(timestamp_millis(col("m.instant")).as("ts"),
        col("m.channel").as("channel"),
        col("m.username").as("username"),
        col("m.message").as("message"))

  /** The chat-message stream view (same mapping as [[graft.Tables.messages]]).
    * Config-switched source: `spark.graft.stream.source=kafka` (with
    * `spark.graft.kafka.brokers` / `.topic`) routes through the real Kafka
    * reader; default is the staged file replay. */
  def messagesStream(spark: SparkSession, dir: String): DataFrame =
    if (spark.conf.getOption("spark.graft.stream.source").contains("kafka"))
      kafkaMessagesStream(spark,
        spark.conf.get("spark.graft.kafka.brokers"),
        spark.conf.get("spark.graft.kafka.topic", "TwitchMessages"))
    else
      eventsStream(spark, dir).select(
        col("ts"),
        col("event_type").as("channel"),
        col("user_id").cast("string").as("username"),
        col("props").as("message"))

  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(Schemas.documents)
      .parquet(stagedTableDir(dir, "documents"))

  /** Committed-batch marker: one small file holding the highest batch id
    * whose side effect is done (-1 while absent). It is written LAST, so a
    * crash before the write re-runs the batch, whose body must therefore be
    * idempotent on its own (the IVF append's anti-join is). Every
    * exactly-once discipline in this module keeps its marker here: the
    * upsert sink's `_committed`, the append sink's `.committed`, the
    * versioned snapshots' `_current` pointer and the index maintainers'
    * `committed` file. */
  final class BatchMarker(path: String) {
    private val p = new Path(path)
    def committed(spark: SparkSession): Long = {
      val f = fileSystem(spark, path)
      if (!f.exists(p)) -1L
      else {
        val in = f.open(p)
        try new String(in.readAllBytes(), "UTF-8").trim.toLong
        finally in.close()
      }
    }
    def commit(spark: SparkSession, id: Long): Unit = {
      val out = fileSystem(spark, path).create(p, true)
      try out.write(id.toString.getBytes("UTF-8")) finally out.close()
    }
    /** Runs `work` for a batch past the marker, then advances the marker;
      * a replayed batch (id <= committed) is drained and skipped wholesale. */
    def once(batch: DataFrame, id: Long)(work: => Unit): Unit =
      if (id <= committed(batch.sparkSession)) drainReplayedBatch(batch)
      else { work; commit(batch.sparkSession, id) }
  }

  /** S5: upsert sink over a PARTITIONED parquet-backed state table.
    * Layout: hive dirs `path/<key0>=<v>/part-*.parquet`, or — with
    * `tsBucket = Some((tsCol, spanMs))` — composite
    * `path/<key0>=<v>/ts_bucket=<tsCol div spanMs>/part-*.parquet`.
    *
    * Replace mode (absolute update-mode rows) merges in place. Each
    * micro-batch:
    *
    *   1. reads ONLY the state partitions present in the delta (partition
    *      pruning at the scan — literal predicate for small touched sets,
    *      broadcast left-semi above [[Streaming.MaxLiteralPartitions]]);
    *   2. replaces their rows by key with the batch's;
    *   3. writes the merged partitions to a staging dir and swaps ONLY
    *      those leaf partition directories into the state table.
    *
    * Untouched partitions' files are never read, rewritten, or renamed, and
    * time bucketing bounds the rewrite unit: a live stats table receives
    * deltas only for CURRENT windows, so a micro-batch rewrites one
    * (channel, day) bucket instead of the channel's whole history.
    *
    * Additive mode (delta rows) costs O(delta) per batch whatever the
    * history — the in-place `x = x + EXCLUDED.x` of the reference's sink
    * (ChannelStatsAggregation.java:45-50) as a delta log with merge on
    * read:
    *
    *   - a batch writes its delta ONCE, unpartitioned, to
    *     `path/_delta/b<batchId>` (staged under a dot-name and renamed into
    *     place, so a replay overwrites it instead of adding a copy), then
    *     advances `_committed`. No state is read and nothing is rewritten;
    *     the underscore dir is invisible to the base scan. The first batch,
    *     with no state yet, writes the base directly.
    *   - [[state]] returns the base plus the deltas whose id lies in
    *     (`_folded`, `_committed`], summed by key with
    *     [[graft.operators.Merge.additiveUpsert]]. The merged frame is
    *     persisted once per visible range and reused by every read until
    *     the next commit unpersists it; with no live delta it is the plain
    *     base scan.
    *   - when a batch leaves [[Streaming.CompactAt]] deltas visible, it
    *     COMPACTS: the deltas are merged into the touched base partitions
    *     and swapped in exactly as a replace-mode batch swaps its own, then
    *     `_folded` advances to the batch and the folded deltas are deleted.
    *
    * Idempotence: a committed-batch marker (`_committed`, underscore ⇒
    * invisible to the parquet reader) lives INSIDE the state dir, so marker
    * and data travel together; replays of a committed batch are no-ops —
    * the checkpoint-aligned-commit property of the reference's 2PC sink
    * (XAPostgresSink.java:99-175) without a transactional store.
    *
    * Atomicity: the per-partition swap loop + marker write is not a single
    * atomic commit, so each swapped leaf dir carries a per-partition
    * commit EPOCH — an empty `_epoch_<batchId>` marker FILE created in the
    * staged dir BEFORE the rename, so data and epoch travel in one atomic
    * move, and the epoch value lives in the file NAME: the replay probe
    * needs only a directory listing, never a file read. A replay after a
    * crash mid-swap (a replace merge or a compaction) skips partitions
    * whose epoch already reached the batch id and merges only the rest:
    * additive folds converge instead of double-adding — the
    * checkpoint-aligned per-partition commit the reference's 2PC sink
    * achieves transactionally (XAPostgresSink.java:122-175, SURVEY §7.4).
    * A sibling ATTEMPT marker brackets the swap phase, so the probe runs
    * only when a prior attempt of the same batch crashed mid-swap; when it
    * does run it is ONE `listFiles(path, recursive)` — a single flat prefix
    * LIST on an object store. The common (no-crash) path costs zero
    * listings and zero per-partition reads.
    *
    * Torn reads: as with a crashed swap, the state a reader sees between a
    * crashed compaction and the next upsert of the sink (which completes
    * it) may count some swapped partitions' deltas twice.
    *
    * Format note: epochs are name-encoded (`_epoch_<id>` marker files);
    * state dirs written by pre-r4 builds carried content-encoded `_epoch`
    * files the probe does not read — rebuild such state by replay (state
    * tables are derived data) rather than resuming across the upgrade.
    */
  final class ParquetUpsertSink(path: String, keys: Seq[String],
                                valueCols: Seq[String], additive: Boolean,
                                tsBucket: Option[(String, Long)] = None) {

    private val pcol = keys.head
    private val cols = keys ++ valueCols
    private val bucketCol = "ts_bucket"
    // Physical partition columns of the state table.
    private val pcols = pcol +: tsBucket.map(_ => bucketCol).toSeq
    private val marker = new BatchMarker(s"$path/_committed")
    // Additive mode: the delta log and the highest batch folded into the base.
    private val deltaDir = new Path(path, "_delta")
    private val folded = new BatchMarker(s"$path/_folded")

    /** The base's read schema (partition columns typed by inference, as a
      * plain read types them): inferred once, and again only after this
      * sink changed the base's partition set — not per scan. */
    @volatile private var schema: Option[StructType] = None
    /** The persisted merged state and the (`_folded`, `_committed`) range
      * it was built for. */
    private var snapshot: Option[((Long, Long), DataFrame)] = None

    private def withBucket(df: DataFrame): DataFrame = tsBucket match {
      case Some((tsCol, span)) =>
        df.withColumn(bucketCol, expr(s"`$tsCol` div $span"))
      case None => df
    }

    private def baseSchema(spark: SparkSession): StructType = schema.getOrElse {
      val s = spark.read.parquet(path).schema
      schema = Some(s)
      s
    }

    /** The base table including the physical partition columns. */
    private def baseScan(spark: SparkSession): DataFrame =
      spark.read.schema(baseSchema(spark)).parquet(path)

    /** Current state, columns normalized to keys ++ valueCols. */
    def state(spark: SparkSession): Option[DataFrame] =
      if (!fileSystem(spark, path).exists(new Path(path))) None
      else if (!additive) Some(baseScan(spark).select(cols.map(col): _*))
      else synchronized {
        val range = (folded.committed(spark), marker.committed(spark))
        snapshot.collect { case (r, df) if r == range => df }.orElse {
          dropSnapshot()
          val live = deltaIds(fileSystem(spark, path))
            .filter(id => id > range._1 && id <= range._2)
          val base = baseScan(spark).select(cols.map(col): _*)
          if (live.isEmpty) Some(base)
          else {
            val merged = Merge.additiveUpsert(base, readDeltas(spark, live), keys,
              valueCols).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            snapshot = Some(range -> merged)
            Some(merged)
          }
        }
      }

    private def dropSnapshot(): Unit = synchronized {
      snapshot.foreach(_._2.unpersist())
      snapshot = None
    }

    private val DeltaName = """b(\d+)""".r

    /** Batch ids present in the delta log (one directory listing). */
    private def deltaIds(f: FileSystem): Seq[Long] =
      if (!f.exists(deltaDir)) Nil
      else f.listStatus(deltaDir).toSeq.map(_.getPath.getName)
        .collect { case DeltaName(id) => id.toLong }

    /** The logged deltas, typed as written: the merge widens their keys
      * against the base's inferred partition types (a partition value past
      * the inferred int range must not be cast down). */
    private def readDeltas(spark: SparkSession, ids: Seq[Long]): DataFrame =
      spark.read.parquet(ids.map(id => new Path(deltaDir, s"b$id").toString): _*)
        .select(cols.map(col): _*)

    /** Append the batch to the delta log under its deterministic name. */
    private def writeDelta(f: FileSystem, batch: DataFrame, batchId: Long): Unit = {
      val stage = new Path(deltaDir, s".b$batchId")
      val dst = new Path(deltaDir, s"b$batchId")
      batch.select(cols.map(col): _*).write.mode("overwrite").parquet(stage.toString)
      f.delete(dst, true) // crashed-attempt leftover: overwrite, never duplicate
      require(f.rename(stage, dst), s"upsert: could not move $stage to $dst")
    }

    /** Fold every delta up to `batchId` into the base, advance `_folded`,
      * drop the folded deltas. Re-run after a crash at any point, it
      * completes the fold exactly once. */
    private def compact(f: FileSystem, spark: SparkSession, batchId: Long,
                        priorAttempt: Boolean): Unit = {
      val fold = folded.committed(spark)
      val ids = deltaIds(f)
      val pending = ids.filter(id => id > fold && id <= batchId)
      if (pending.nonEmpty)
        swapTouched(f, withBucket(readDeltas(spark, pending)), batchId, priorAttempt)(
          Merge.additiveUpsert(_, _, keys, valueCols))
      folded.commit(spark, batchId)
      ids.filter(_ <= batchId).foreach(id => f.delete(new Path(deltaDir, s"b$id"), true))
    }

    /** Leaf partition dirs of a staged write (one or two hive levels). */
    private def leafDirs(f: FileSystem, base: Path): Seq[Path] = {
      val lvl1 = f.listStatus(base).filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith(pcol + "=")).toSeq
      if (tsBucket.isEmpty) lvl1
      else lvl1.flatMap(p => f.listStatus(p).filter(_.isDirectory)
        .map(_.getPath).filter(_.getName.startsWith(bucketCol + "=")))
    }

    /** Stamp every staged leaf dir with the batch epoch — an empty marker
      * file whose NAME carries the value — so the epoch rides the partition
      * rename atomically and is probed by listing alone. Creates run on the
      * shared bounded pool: they are independent metadata round-trips
      * (object store PUTs), and a sequential loop over 10^2-10^4 leaf dirs
      * would serialize the commit path. */
    private def stampEpochs(f: FileSystem, tmp: Path, batchId: Long): Seq[Path] =
      leafDirs(f, tmp).map { leaf =>
        Streaming.fsPool.submit(new java.util.concurrent.Callable[Path] {
          def call(): Path = {
            f.create(new Path(leaf, s"_epoch_$batchId"), true).close()
            leaf
          }
        })
      }.map(_.get())

    /** All on-disk partition epochs in ONE recursive listing (a single flat
      * prefix LIST on an object store — never a per-partition round-trip).
      * Keys are hive-relative leaf paths ("ch=a" / "ch=a/ts_bucket=3"). */
    private def probeEpochs(f: FileSystem, dst: Path): Map[String, Long] = {
      Streaming.epochProbeListings.incrementAndGet()
      val base = f.makeQualified(dst).toString
      val out = scala.collection.mutable.Map.empty[String, Long]
      val it = f.listFiles(dst, true)
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if (name.startsWith("_epoch_")) {
          val epoch = name.stripPrefix("_epoch_").toLong
          val rel = st.getPath.getParent.toString
            .stripPrefix(base).stripPrefix("/")
          if (epoch > out.getOrElse(rel, -1L)) out(rel) = epoch
        }
      }
      out.toMap
    }

    /** The hive-relative leaf dir a touched-partition tuple lands in —
      * values rendered EXACTLY as `partitionBy` names the dirs (hive path
      * escaping for ':'/'%'/'='/etc., the hive default-partition name for
      * null), or the crash-replay epoch lookup would miss and additive
      * partitions could double-add. */
    private def relDir(tuple: Seq[Any]): String =
      pcols.zip(tuple).map { case (c, v) =>
        val rendered =
          if (v == null)
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .DEFAULT_PARTITION_NAME
          else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .escapePathName(v.toString)
        s"$c=$rendered"
      }.mkString("/")

    /** Restrict `df` to the touched partition tuples. Small sets become a
      * literal predicate over the partition columns — unconditional
      * PartitionFilters at the scan; large sets fall back to a broadcast
      * left-semi join so the plan never embeds a huge IN literal.
      * `tupleSchema` is the DELTA's schema for the partition columns — the
      * tuples' Scala types match it, while the state side may read the
      * bucket column back narrower (partition inference), so the semi-join
      * must not type its build side off `df`. Null-safe equality keeps
      * null-keyed rows (hive default partition) matchable. */
    private def touchedOnly(df: DataFrame, tuples: Seq[Seq[Any]],
                            tupleSchema: org.apache.spark.sql.types.StructType): DataFrame =
      if (tuples.lengthCompare(Streaming.MaxLiteralPartitions) <= 0) {
        val cond = tuples.map(t =>
          pcols.zip(t).map { case (c, v) => col(c) <=> lit(v) }.reduce(_ && _))
          .reduce(_ || _)
        df.filter(cond)
      } else {
        val spark = df.sparkSession
        val tdf = spark.createDataFrame(
          spark.sparkContext.parallelize(
            tuples.map(org.apache.spark.sql.Row.fromSeq), 1), tupleSchema)
        val joinCond = pcols.map(c => df(c) <=> tdf(c)).reduce(_ && _)
        df.join(broadcast(tdf), joinCond, "left_semi")
      }

    /** Partitioned write with one file per leaf dir: without the
      * pre-shuffle on the partition columns, EVERY write task emits a file
      * into EVERY leaf dir it sees rows for — at 32 tasks × n leaf dirs
      * that is a 32× small-file explosion the next scan pays for again
      * (measured: 2.6 s → 90 s on the sf0.01 channel-stats replay). */
    private def writePartitioned(df: DataFrame, dest: Path): Unit =
      df.repartition(pcols.map(col): _*)
        .write.partitionBy(pcols: _*).mode("overwrite").parquet(dest.toString)

    /** Merge `delta` (partition columns included) into the base partitions
      * it touches and swap ONLY those leaf dirs in, each carrying the batch
      * epoch through its rename. On a crash replay, partitions whose on-disk
      * epoch already reached this batch were swapped by the crashed attempt
      * and are skipped, so additive folds never double-apply. */
    private def swapTouched(f: FileSystem, delta: DataFrame, batchId: Long,
                            priorAttempt: Boolean)
                           (merge: (DataFrame, DataFrame) => DataFrame): Unit = {
      val dst = new Path(path)
      val tmp = new Path(path + s".b$batchId")
      val epochs = if (priorAttempt) probeEpochs(f, dst) else Map.empty[String, Long]
      // Touched partition TUPLES: bounded metadata — the partition keys of
      // the delta, not data.
      val deltaKeys = delta.select(pcols.map(col): _*)
      val touched = deltaKeys.distinct().collect()
        .map(_.toSeq).toSeq
        .filter(t => epochs.getOrElse(relDir(t), -1L) < batchId)
      if (touched.nonEmpty) {
        val pending =
          touchedOnly(delta, touched, deltaKeys.schema).select(cols.map(col): _*)
        val curTouched = touchedOnly(baseScan(delta.sparkSession), touched,
          deltaKeys.schema).select(cols.map(col): _*)
        writePartitioned(withBucket(merge(curTouched, pending).select(cols.map(col): _*)),
          tmp)
        val tmpQ = f.makeQualified(tmp).toString
        val stamped = stampEpochs(f, tmp, batchId)
        f.create(new Path(path + s".attempt$batchId"), true).close()
        stamped.foreach { leaf =>
          val rel = leaf.toString.stripPrefix(tmpQ).stripPrefix("/")
          val dstLeaf = new Path(dst, rel)
          f.mkdirs(dstLeaf.getParent)
          f.delete(dstLeaf, true)
          f.rename(leaf, dstLeaf)
        }
        f.delete(tmp, true)
        schema = None
      }
    }

    def upsert(batch: DataFrame, batchId: Long): Unit = {
      val spark = batch.sparkSession
      val f = fileSystem(spark, path)
      // The attempt marker (a sibling file, NOT inside the state dir)
      // exists exactly while batch `batchId` has renames in flight: created
      // before the first rename, deleted after `_committed` advances. Its
      // presence on entry means a PRIOR attempt of this same batch crashed
      // mid-swap — only then is the epoch probe needed. The common path
      // (no crash) costs two metadata ops and ZERO listings.
      val attempt = new Path(path + s".attempt$batchId")
      if (batchId <= marker.committed(spark)) {
        // Replayed committed batch: skip the write — but a crash in the tiny
        // window between the _committed write and the marker delete leaves
        // the marker behind; clean it here so it cannot accumulate.
        f.delete(attempt, false)
        Streaming.drainReplayedBatch(batch)
        return
      }
      val priorAttempt = f.exists(attempt)
      if (!f.exists(new Path(path))) {
        // The delta is read once, by the write: nothing to materialize.
        val delta = withBucket(batch.select(cols.map(col): _*))
        val tmp = new Path(path + s".b$batchId")
        writePartitioned(delta, tmp)
        stampEpochs(f, tmp, batchId)
        f.create(attempt, true).close()
        f.rename(tmp, new Path(path))
        schema = None
      } else if (additive) {
        // A batch already folded by its own crashed compaction (`_folded`
        // advanced, `_committed` not) has nothing left to log.
        val fold = folded.committed(spark)
        if (batchId > fold) writeDelta(f, batch, batchId)
        val live = deltaIds(f).count(id => id > fold && id <= batchId)
        if (priorAttempt || live >= Streaming.CompactAt)
          compact(f, spark, batchId, priorAttempt)
      } else {
        // The delta plan — the caller's whole per-batch transform, often a
        // window over carry ∪ batch — is read twice, by the touched-partition
        // probe and by the merge: persist it for the batch (recoverable
        // lineage, unlike a local checkpoint).
        val delta = withBucket(batch.select(cols.map(col): _*))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try swapTouched(f, delta, batchId, priorAttempt)(Merge.replaceUpsert(_, _, keys))
        finally delta.unpersist()
      }
      marker.commit(spark, batchId)
      f.delete(attempt, false)
      dropSnapshot()
    }
  }

  /** Idempotent append sink: appends each batch EXACTLY once under
    * crash-replay — foreachBatch is at-least-once, so a bare
    * `mode("append")` write would duplicate a batch replayed after a crash
    * between the write and the checkpoint commit, and even a marker-gated
    * bare append leaves a window (crash between append and marker write)
    * that re-appends one batch. Closed here the way the upsert sink closes
    * its swap: each batch is staged into a dot-prefixed directory
    * (invisible to readers) and its files then MOVED into place under
    * DETERMINISTIC batch-derived names — a replay after a crash at any
    * point re-stages and overwrites the same destination names instead of
    * appending a second copy, so the end state is byte-identical to a
    * crash-free run. */
  final class AppendOnceSink(path: String) {
    private val marker = new BatchMarker(path + ".committed")
    /** Highest batch id already appended (-1 if none) — exposed so a
      * foreachBatch body with side work beyond the append (e.g. the
      * near-dup index upsert) can skip the whole body on a replayed
      * batch, not just the final append. */
    def committedBatch(spark: SparkSession): Long = marker.committed(spark)
    def append(batch: DataFrame, batchId: Long): Unit = marker.once(batch, batchId) {
      val f = fileSystem(batch.sparkSession, path)
      val staging = new Path(path, s".staging_b$batchId")
      batch.write.mode("overwrite").parquet(staging.toString)
      val parts = f.listStatus(staging).map(_.getPath)
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      parts.zipWithIndex.foreach { case (src, i) =>
        val dst = new Path(path, f"b$batchId%06d-p$i%05d.parquet")
        f.delete(dst, false) // crashed-attempt leftover: overwrite, never duplicate
        require(f.rename(src, dst), s"append: could not move $src to $dst")
      }
      f.delete(staging, true)
    }
  }

  /** One stream for [[runBatches]]: `source` builds the input on the
    * session it is handed, `body` consumes each micro-batch. */
  private final case class Batches(
      ckpt: String, mode: String = "append", statePartitions: Option[Int] = None,
      trigger: Trigger = Trigger.AvailableNow())(
      val source: SparkSession => DataFrame)(val body: (DataFrame, Long) => Unit)

  /** Starts every stream, then waits for all of them — concurrent streams
    * share the session's scheduler. A stream with a `statePartitions` count
    * is built on [[sessionWithStatePartitions]]'s clone, so first-batch
    * planning (where the state-store count is pinned) sees the override. */
  private def runBatches(spark: SparkSession, streams: Batches*): Seq[StreamingQuery] = {
    val started = streams.map { s =>
      val ss = s.statePartitions.fold(spark)(sessionWithStatePartitions(spark, _))
      s.source(ss).writeStream.outputMode(s.mode)
        .option("checkpointLocation", s.ckpt)
        .trigger(s.trigger)
        .foreachBatch(s.body)
        .start()
    }
    started.foreach(_.awaitTermination())
    started
  }

  /** Drains `source` through `perBatch` into an [[AppendOnceSink]] at
    * `sinkPath`, checkpointed beside it. */
  private[streaming] def appendOnce(spark: SparkSession, sinkPath: String,
                                    statePartitions: Option[Int] = None,
                                    perBatch: DataFrame => DataFrame = identity)
                                   (source: SparkSession => DataFrame): Unit = {
    val sink = new AppendOnceSink(sinkPath)
    runBatches(spark, Batches(sinkPath + ".ckpt", statePartitions = statePartitions)(
      source)((b, id) => sink.append(perBatch(b), id)))
  }

  /** Build a streaming query's session with `n` shuffle partitions: the
    * state-store count is fixed at query START by
    * `spark.sql.shuffle.partitions` and checkpointed forever, and for
    * low-cardinality state (a handful of channels/types, one horizon of
    * per-user rows) the 32-partition batch default is pure small-file
    * snapshot overhead — 32+ near-empty stores written per micro-batch.
    * Production streams size this to state cardinality, not to the batch
    * default; measured 3x on the stream-stream joins (8 s → 2.7 s).
    *
    * The override lives on a CLONED session (shared SparkContext and
    * table cache, isolated SQLConf) and the stream must be built from it.
    * A set/start/restore on the parent would RACE: first-batch planning —
    * the moment the state-partition count is pinned — happens on the
    * stream thread after `start()` returns, and while the window was open
    * every concurrent query on the session saw the override. */
  private[graft] def sessionWithStatePartitions(spark: SparkSession,
                                                n: Int): SparkSession = {
    val ss = spark.newSession()
    // newSession() starts from the context's INITIAL conf — runtime-set
    // switches (spark.graft.stream.source, test overrides) would vanish.
    // Carry the parent's runtime conf over, then pin the partition count.
    spark.conf.getAll.foreach { case (k, v) =>
      try ss.conf.set(k, v)
      catch { // static confs can't be set post-start; clone shares them anyway
        case _: org.apache.spark.sql.AnalysisException => ()
      }
    }
    ss.conf.set("spark.sql.shuffle.partitions", n.toString)
    ss
  }

  /** Slice landings, cached per (dir, table, projection, split) for the
    * JVM: the slice files are a pure function of the input table, so every
    * later run (bench repeats, crash-replay restarts) streams the SAME
    * landing dir — the per-run state (checkpoint, sinks) stays under the
    * caller's base. Same computeIfAbsent discipline as [[stagedTableDir]]. */
  private val stagedSliceDirs =
    new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]()

  /** `table` under `dir` staged as one single-file micro-batch per slice
    * predicate — `b<i>.parquet` holding the `projection` of the rows that
    * pass `slices(i)`, mtimes forced ascending so the file source replays
    * the slices in order — and returned as the source of a
    * one-file-per-trigger stream over the landing. */
  private def sliceLanding(spark: SparkSession, dir: String, table: String,
                           projection: Seq[Column],
                           slices: Seq[Column]): SparkSession => DataFrame = {
    val key = (Seq(dir, table) ++ (projection ++ slices).map(_.toString)).mkString("|")
    val (landing, schema) = stagedSliceDirs.computeIfAbsent(key, _ => {
      val src = table match {
        case "events" => graft.Tables.events(spark, dir)
        case "documents" => graft.Tables.documents(spark, dir)
        case "embeddings" => graft.Tables.embeddings(spark, dir)
      }
      val l = graft.Scratch.dir(s"graft-$table-slices").toString
      val f = fileSystem(spark, l)
      slices.zipWithIndex.foreach { case (p, i) =>
        val stage = s"$l/stage$i"
        src.where(p).select(projection: _*)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = f.globStatus(new Path(s"$stage/part-*.parquet")).head.getPath
        val dst = new Path(s"$l/b$i.parquet")
        f.rename(part, dst)
        f.delete(new Path(stage), true)
        f.setTimes(dst, 1000L * (i + 1), -1)
      }
      (l, src.select(projection: _*).schema)
    })
    ss => ss.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(landing)
  }

  /** `n` slices by residue class of an integer id column. */
  private def residues(idCol: String, n: Int): Seq[Column] =
    (0 until n).map(i => col(idCol) % n === i)

  /** Event-time slices cut at `cuts` (epoch ms), in time order. */
  private def timeSlices(cuts: Seq[Long]): Seq[Column] =
    ((Long.MinValue +: cuts) :+ Long.MaxValue).sliding(2).map { b =>
      unix_millis(col("ts")) >= b.head && unix_millis(col("ts")) < b.last
    }.toSeq

  private val eventCols = Seq("event_id", "ts", "user_id", "event_type")

  /** Events with their value, three event_id residue slices: the source
    * of the event-stream monitors. */
  private def eventSlices(spark: SparkSession, dir: String): SparkSession => DataFrame =
    sliceLanding(spark, dir, "events", (eventCols :+ "value").map(col),
      residues("event_id", 3))

  /** Whole documents, three doc_id residue slices. */
  private def docSlices(spark: SparkSession, dir: String): SparkSession => DataFrame =
    sliceLanding(spark, dir, "documents", Schemas.documents.fieldNames.toSeq.map(col),
      residues("doc_id", 3))

  /** The NEW-vector tail of the embeddings table (`vec_id >= 250`) as three
    * single-file micro-batches — the ingest stream the index maintainers
    * append (the base below 250 is the one-shot build, never streamed). */
  private def embBatchSlices(spark: SparkSession, dir: String): SparkSession => DataFrame =
    sliceLanding(spark, dir, "embeddings", Schemas.embeddings.fieldNames.toSeq.map(col),
      residues("vec_id", 3).map(col("vec_id") >= 250L && _))

  /** A4 under streaming: windowed channel stats, update mode, replace-upsert
    * sink; runs to completion of the available data and returns the final
    * stats table. `trigger` defaults to AvailableNow (batch replay). The
    * runner awaits its stream, so a `Trigger.ProcessingTime(...)` trigger
    * blocks the caller until the query stops.
    *
    * Watermark semantics (the ONE documented divergence from the
    * reference): the reference never evicts state (`noWatermarks()`,
    * EmoteAnalyser.java:73-74) so arbitrarily late events still merge via
    * additive upsert; Spark's watermark bounds state instead, and an event
    * whose window is entirely older than the watermark is DROPPED in
    * update mode. The generous default (24 h) makes the divergence
    * unobservable for realistic lateness; the exact drop behavior is
    * pinned by StreamingParitySpec ("events later than the watermark"). */
  def runChannelStats(spark: SparkSession, dir: String, sinkPath: String,
                      windowMs: Long, watermark: String = "24 hours",
                      trigger: Trigger = Trigger.AvailableNow()): DataFrame =
    runGrain(spark, dir, sinkPath, statsGrains(windowMs = windowMs)("channel"),
      Some(8), watermark, trigger)

  /** A5 under streaming: per-(channel, username) windowed counts — the
    * UserStatsAggregation branch of the reference's five-way job
    * (EmoteAnalyser.java:80-151). Same update-mode replace-upsert shape as
    * channel stats, and the same `trigger` contract: a `ProcessingTime`
    * trigger blocks the caller until the query stops. Only the grain
    * changes. */
  def runUserStats(spark: SparkSession, dir: String, sinkPath: String,
                   windowMs: Long, watermark: String = "24 hours",
                   trigger: Trigger = Trigger.AvailableNow()): DataFrame =
    runGrain(spark, dir, sinkPath, statsGrains(windowMs = windowMs)("user"),
      Some(8), watermark, trigger)

  /** A6 under streaming with T2 side-input refresh: the emote dictionary is
    * re-evaluated inside `foreachBatch`, so every micro-batch sees the
    * current dict (EmoteExtractor.java:115-178's reload-on-interval, with
    * the micro-batch as the refresh tick). Per-batch counts are *deltas*,
    * merged with the additive upsert (Q19/A9 semantics). */
  def runEmoteStats(spark: SparkSession, dir: String, sinkPath: String,
                    dict: () => DataFrame): DataFrame =
    runGrain(spark, dir, sinkPath, statsGrains(dict = dict)("emote"))

  /** A7 under streaming with T2 side-input refresh: per-(channel, emote,
    * username) delta counts merged additively — the
    * UserEmoteStatsAggregation branch (EmoteAnalyser.java:80-151). */
  def runUserEmoteStats(spark: SparkSession, dir: String, sinkPath: String,
                        dict: () => DataFrame): DataFrame =
    runGrain(spark, dir, sinkPath, statsGrains(dict = dict)("user_emote"))

  /** A8 under streaming: per-(channel, phrase) match SUMs as per-batch
    * deltas merged additively — the PhraseStatsAggregation branch
    * (EmoteAnalyser.java:80-151; PhraseExtractor.java:54-91). The phrase
    * table is re-evaluated per micro-batch (T2 semantics for phrases,
    * PhraseExtractor.java:146-153). */
  def runPhraseStats(spark: SparkSession, dir: String, sinkPath: String,
                     phrases: () => Seq[graft.Tables.Phrase]): DataFrame =
    runGrain(spark, dir, sinkPath, statsGrains(phrases = phrases)("phrase"))

  /** The reference's actual topology: ONE job running all five stat
    * branches live (EmoteAnalyser.java:80-151 — channel, user, emote,
    * user-emote, phrase). Here: five concurrent streaming queries in one
    * SparkSession — two update-mode windowed grains off the message
    * stream, three additive delta grains off the document stream — each
    * with its own checkpoint and its own upsert sink under `base`.
    * Concurrency is the point: the branches share the session's scheduler
    * exactly as the reference's branches share one Flink job graph.
    * Returns the five final state tables keyed by grain name. */
  def runAllStats(spark: SparkSession, dir: String, base: String,
                  windowMs: Long, dict: () => DataFrame,
                  phrases: () => Seq[graft.Tables.Phrase]): Map[String, DataFrame] = {
    val grains = statsGrains(windowMs, dict, phrases).toSeq
    grains.map(_._1).zip(runGrains(spark, dir,
      grains.map { case (name, g) => g -> s"$base/$name" }, None)).toMap
  }

  /** One stats grain of the reference's five-branch job. A windowed grain
    * aggregates the watermarked message stream statefully (`transform` on
    * the stream) and emits absolute per-window rows in update mode,
    * replace-upserted into (channel, day bucket) partitions — a micro-batch
    * rewrites only the current bucket of touched channels. The other grains
    * `transform` each micro-batch of the document stream into deltas that
    * the additive upsert merges into channel partitions. */
  private final case class Grain(keys: Seq[String], values: Seq[String],
                                 windowed: Boolean, transform: DataFrame => DataFrame)

  /** The grain table; an input a caller leaves out is one its grain never
    * reads. */
  private def statsGrains(windowMs: Long = 0L,
                          dict: () => DataFrame = () => sys.error("no emote dictionary"),
                          phrases: () => Seq[graft.Tables.Phrase] = () => Nil
                         ): SeqMap[String, Grain] = {
    def emotes(b: DataFrame) = StatsPipeline.extractEmotes(b, dict())
    SeqMap(
      "channel" -> Grain(Seq("channel", "ts"), Seq("messages"), windowed = true,
        StatsPipeline.channelStats(_, windowMs)),
      "user" -> Grain(Seq("channel", "username", "ts"), Seq("messages"),
        windowed = true, StatsPipeline.userStats(_, windowMs)),
      "emote" -> Grain(Seq("channel", "emote"), Seq("occurrences"),
        windowed = false, b => StatsPipeline.emoteStats(emotes(b))),
      "user_emote" -> Grain(Seq("channel", "emote", "username"), Seq("occurrences"),
        windowed = false, b => StatsPipeline.userEmoteStats(emotes(b))),
      "phrase" -> Grain(Seq("channel", "phrase_name"), Seq("matches"),
        windowed = false, b => StatsPipeline.phraseStats(
          StatsPipeline.matchPhrases(b, phrases(), "text"))))
  }

  private def runGrain(spark: SparkSession, dir: String, sinkPath: String,
                       grain: Grain, statePartitions: Option[Int] = None,
                       watermark: String = "24 hours",
                       trigger: Trigger = Trigger.AvailableNow()): DataFrame =
    runGrains(spark, dir, Seq(grain -> sinkPath), statePartitions, watermark,
      trigger).head

  /** Runs the grains concurrently, each into its upsert sink at the paired
    * path (checkpoint beside it); returns their final state tables. */
  private def runGrains(spark: SparkSession, dir: String,
                        grains: Seq[(Grain, String)], statePartitions: Option[Int],
                        watermark: String = "24 hours",
                        trigger: Trigger = Trigger.AvailableNow()): Seq[DataFrame] = {
    val sinks = grains.map { case (g, path) =>
      new ParquetUpsertSink(path, g.keys, g.values, additive = !g.windowed,
        tsBucket = if (g.windowed) Some(("ts", DayMillis)) else None)
    }
    runBatches(spark, grains.zip(sinks).map { case ((g, path), sink) =>
      if (g.windowed)
        Batches(path + ".ckpt", "update", statePartitions, trigger)(ss =>
          g.transform(messagesStream(ss, dir).withWatermark("ts", watermark)))(
          sink.upsert)
      else
        Batches(path + ".ckpt", "append", statePartitions, trigger)(ss =>
          documentsStream(ss, dir).select(col("lang").as("channel"),
            col("source").as("username"), col("text")))(
          (b, id) => sink.upsert(g.transform(b), id))
    }: _*)
    sinks.map(_.state(spark).get)
  }

  /** Streaming exact dedup — `dropDuplicates` on the content hash with
    * Spark's built-in dedup state: each distinct payload is emitted exactly
    * once across ALL micro-batches (the streaming twin of
    * [[graft.operators.Dedup.exactDedup]]'s grouping key). State holds one
    * entry per distinct key — inherent to exact streaming dedup; bound it
    * with `dropDuplicatesWithinWatermark` when keys have bounded lifetime.
    * The sink is the [[AppendOnceSink]]: cross-batch duplicates never reach
    * it, and a crash-replayed batch is not appended twice. */
  def runStreamDedup(spark: SparkSession, dir: String, sinkPath: String): DataFrame = {
    appendOnce(spark, sinkPath, Some(8))(ss =>
      eventsStream(ss, dir)
        .withColumn("content_hash", md5(col("props")))
        .dropDuplicates("content_hash")
        .select(col("content_hash")))
    spark.read.parquet(sinkPath)
  }

  /** Watermark-BOUNDED streaming dedup — `dropDuplicatesWithinWatermark`:
    * where [[runStreamDedup]]'s state grows with ALL distinct keys ever
    * seen, here a key's state is EVICTED once the watermark passes its
    * event time plus `horizon`, so state size tracks the horizon's key
    * cardinality — the right shape when keys have bounded lifetime (a
    * message id cannot be duplicated a week later). Within the horizon the
    * semantics are exact distinct: any duplicate arriving inside the bound
    * is dropped. The replay restricts input to events before
    * `horizonEndMs` with `horizon` covering the whole slice, so every
    * duplicate is provably in-bound and the oracle is the plain DISTINCT
    * over that slice. State eviction is pinned by spec
    * (StreamingParitySpec), not by this finite replay. */
  def runStreamDedupBounded(spark: SparkSession, dir: String, sinkPath: String,
                            horizonEndMs: Long, horizon: String): DataFrame = {
    appendOnce(spark, sinkPath, Some(8))(ss =>
      eventsStream(ss, dir)
        .filter(col("ts") < timestamp_millis(lit(horizonEndMs)))
        .withColumn("content_hash", md5(col("props")))
        .withWatermark("ts", horizon)
        .dropDuplicatesWithinWatermark("content_hash")
        .select(col("content_hash")))
    spark.read.parquet(sinkPath)
  }

  /** Doc (id, text) pairs in three doc_id residue slices — the shared
    * source of the near-dup runners. */
  private def docTextSlices(spark: SparkSession, dir: String): SparkSession => DataFrame =
    sliceLanding(spark, dir, "documents", Seq(col("doc_id"), col("text")),
      residues("doc_id", 3))

  /** Streaming NEAR-dup — [[runStreamDedup]] lifted from exact to near
    * duplicates: each micro-batch runs
    * [[graft.operators.Dedup.incrementalNearDup]] against the persisted
    * LSH signature index (batches only ever join the index, never the
    * corpus), emits its near-dup pairs through the [[AppendOnceSink]], and
    * appends its own signatures. The union over micro-batches equals the
    * one-shot batch answer for any batch split, so the registry oracle is
    * x2's SQL verbatim.
    *
    * Idempotence: a replayed batch is skipped WHOLESALE via
    * `committedBatch` (pairs and index alike); the residual crash window —
    * index appended, pairs not yet committed — re-runs the batch against
    * an index already containing its own signatures, which
    * `incrementalNearDup`'s self-pair filter and index dedup make emit the
    * identical pair set (spec-pinned). The pairs append itself has no
    * duplication window: [[AppendOnceSink]] stages and moves files under
    * deterministic names, so a replayed append overwrites rather than
    * re-appends.
    *
    * The documents table is staged as one file per doc_id residue class
    * and streamed with `maxFilesPerTrigger=1`, so the replay exercises
    * REAL multi-batch increments; batch order is irrelevant by the
    * disjoint-split equivalence. */
  def runStreamNearDup(spark: SparkSession, dir: String, base: String): DataFrame = {
    // The checkpoint, pairs sink, and signature index stay per-run
    // under `base`; the landing slices are shared per input dir.
    val pairsSink = new AppendOnceSink(s"$base/pairs")
    runBatches(spark, Batches(s"$base/ckpt")(docTextSlices(spark, dir)) { (b, id) =>
      if (id <= pairsSink.committedBatch(b.sparkSession)) drainReplayedBatch(b)
      else pairsSink.append(graft.operators.Dedup.incrementalNearDup(
        b, "doc_id", "text", 3, 0.8, s"$base/index"), id)
    })
    spark.read.parquet(s"$base/pairs")
  }

  /** Streaming incremental near-dup CLUSTER maintenance — x157's
    * [[graft.operators.Dedup.mergeComponents]] fold under real
    * micro-batches, the streaming seat of the incremental-cluster column:
    * each batch LSH-joins only the persisted signature index
    * ([[runStreamNearDup]]'s increment — never the corpus) and its pair
    * emission folds into a versioned LABELS snapshot via merge-then-
    * relabel, through [[versionedStep]]'s write-new-version + pointer-flip
    * discipline. The standing labels never shuffle; per-batch work is
    * bounded by the batch and its true candidate set. The final read
    * labels every doc with its component min id, which equals the one-shot
    * x25 rebuild by the mergeComponents split-equivalence law
    * (MergeComponentsSpec), so the registry oracle is x25's recursive
    * closure verbatim.
    *
    * Idempotence: a replayed batch (id <= `_current`) drains and skips
    * WHOLESALE inside versionedStep (no index append, no re-merge). The
    * residual crash windows: (a) index appended, labels not yet written —
    * the re-run feeds incrementalNearDup an index already holding the
    * batch's signatures, which emits the identical pair set (the s12
    * pin), merged into the PRIOR snapshot → same bytes rewritten; (b)
    * labels flipped, checkpoint not committed — the pointer doubles as
    * the committed-batch marker, so the re-run drains and skips. Beyond
    * both windows, mergeComponents is itself replay-idempotent (merging
    * already-merged pairs is a labeling no-op — the law
    * MergeComponentsSpec pins), so even a double-applied merge could not
    * corrupt the labeling. */
  def runStreamIncrementalClusters(spark: SparkSession, dir: String,
                                   base: String): DataFrame = {
    runBatches(spark, Batches(s"$base/ckpt")(docTextSlices(spark, dir)) { (b, id) =>
      versionedStep(s"$base/labels", b, id) { prior =>
        val pairs = graft.operators.Dedup.incrementalNearDup(
          b, "doc_id", "text", 3, 0.8, s"$base/index")
        val empty = b.sparkSession.range(0)
          .select(col("id").as("node"), col("id").as("label"))
        graft.operators.Dedup.mergeComponents(
          prior.getOrElse(empty), pairs, "id_a", "id_b")
      }
    })
    graft.operators.Dedup.labelClusters(
      graft.Tables.documents(spark, dir).select(col("doc_id")),
      versionedState(spark, s"$base/labels"), "doc_id")
  }

  /** Streaming IVF index maintenance — x144's
    * [[graft.operators.Similarity.appendToIvfIndex]] under real
    * micro-batches (the r9 verdict's named seat): the base index builds
    * one-shot on `vec_id < 250` with its quantizer FROZEN in the
    * `_centroids` sidecar, then the remainder replays as three
    * single-file micro-batches (maxFilesPerTrigger=1), each appended
    * into the partitioned layout against the frozen centroids.
    *
    * Idempotence (the s12/s13 replay discipline): a replayed batch
    * (id <= [[BatchMarker.committed]]) drains and skips wholesale; the
    * residual crash window — index appended, marker not yet written —
    * re-runs the batch into appendToIvfIndex's existing-id anti-join,
    * which drops every already-present id, so the end state is
    * byte-count-identical to a crash-free run (spec-pinned). Batches
    * arrive serially from the stream, satisfying appendToIvfIndex's
    * no-concurrent-appends contract.
    *
    * The probe over the maintained index answers x7's question — and is
    * row-identical to a probe over the one-shot full build, because the
    * full corpus's first-16-ids centroid set IS the frozen one (ids
    * 0..15 < 250), so x7's oracle verifies the whole maintenance path. */
  def runStreamIvfAppend(spark: SparkSession, dir: String,
                         base: String): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
    val idx = s"$base/index"
    val marker = new BatchMarker(s"$base/committed")
    // Base build only on a FRESH base: a crash-restart (marker present)
    // must not overwrite-rebuild the index — that would wipe every batch
    // already appended, and the checkpoint will not replay committed
    // batches. A crash before the first marker rebuilds harmlessly: the
    // un-marked batch replays into the fresh base.
    if (marker.committed(spark) < 0)
      graft.operators.Similarity.buildIvfIndex(
        emb.filter(col("vec_id") < 250), "vec_id", "embedding", 16, idx)
    runBatches(spark, Batches(s"$base/ckpt")(embBatchSlices(spark, dir))((b, id) =>
      marker.once(b, id)(graft.operators.Similarity.appendToIvfIndex(
        b.select(col("vec_id"), col("embedding")), "vec_id", "embedding", idx))))
    graft.operators.Similarity.ivfIndexTopK(emb, "vec_id", "embedding",
      0L, 10, 16, 4, idx)
  }

  /** Streaming PQ code-table maintenance — x146's
    * [[graft.operators.Similarity.appendToPqCodeTable]] under real
    * micro-batches: the [[runStreamIvfAppend]] discipline applied to the
    * compressed-corpus layout. The base table builds one-shot on
    * `vec_id < 250` with its codebooks frozen in the `_codebooks`
    * sidecar, then the remainder replays as three single-file
    * micro-batches, each encoded against the frozen codebooks and
    * appended into the code_0-partitioned layout behind the same
    * committed-batch marker (replay drains and skips; the residual crash
    * window re-runs into the existing-id anti-join). The ADC search over
    * the maintained table ≡ x146's one-shot build+append answer — its
    * oracle verbatim. */
  def runStreamPqAppend(spark: SparkSession, dir: String,
                        base: String): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
    val tbl = s"$base/codes"
    val marker = new BatchMarker(s"$base/committed")
    // Base build only on a FRESH base — the runStreamIvfAppend rationale:
    // an overwrite rebuild after a crash would wipe appended batches the
    // checkpoint will not replay.
    if (marker.committed(spark) < 0)
      graft.operators.Similarity.buildPqCodeTable(
        emb.filter(col("vec_id") < 250), "vec_id", "embedding", 2, 4, 2, tbl)
    runBatches(spark, Batches(s"$base/ckpt")(embBatchSlices(spark, dir))((b, id) =>
      marker.once(b, id)(graft.operators.Similarity.appendToPqCodeTable(
        b.select(col("vec_id"), col("embedding")), "vec_id", "embedding", tbl))))
    graft.operators.Similarity.pqAdcTopKOverTable(emb, "vec_id", "embedding",
      3L, 12, tbl)
  }

  /** Streaming mini-batch k-means — x145's quantizer maintenance always-on
    * (the third seat of the streaming-incremental column: s34 keeps the
    * IVF LAYOUT current, s35 the PQ CODES, this the trained QUANTIZER):
    * state is the (centroid, population) table — k·(d+1) values, the
    * Sculley mini-batch invariant — persisted as a per-batch versioned
    * state file; each micro-batch assigns against the CURRENT centroids
    * and folds in by the count-weighted mean merge
    * ([[graft.operators.Similarity.kMeansStateStep]], all rounding
    * in-engine).
    *
    * Unlike the additive monitors (s28/s30/s31), this fold is
    * PATH-DEPENDENT — batch t assigns against centroids batch t−1 moved —
    * so the contract is exact replay determinism, not split-invariance:
    * the oracle unrolls the same three ordered batch merges; a replayed
    * batch (marker) drains and skips; a crash between the state write and
    * the marker re-runs the step from the SAME predecessor state file
    * into an overwrite of the same versioned file — byte-identical end
    * state (the versioned-snapshot discipline, spec-pinned). */
  def runStreamKmeansUpdate(spark: SparkSession, dir: String,
                            base: String): DataFrame = {
    import graft.operators.Similarity
    val emb = graft.Tables.embeddings(spark, dir)
    val marker = new BatchMarker(s"$base/committed")
    def statePath(id: Long): String =
      if (id < 0) s"$base/state_init" else s"$base/state_b$id"
    if (marker.committed(spark) < 0) {
      val init = Similarity.kMeansInitState(
        emb.filter(col("vec_id") < 250), "vec_id", "embedding", 8, 3)
      Similarity.writeKmState(spark, statePath(-1), init)
    }
    runBatches(spark, Batches(s"$base/ckpt")(embBatchSlices(spark, dir)) { (b, id) =>
      marker.once(b, id) {
        val ss = b.sparkSession
        val prev = Similarity.readKmState(ss, statePath(marker.committed(ss)))
        val next = Similarity.kMeansStateStep(prev,
          b.select(col("vec_id"), col("embedding")), "vec_id", "embedding")
        Similarity.writeKmState(ss, statePath(id), next)
      }
    })
    Similarity.kMeansStateSummary(spark,
        Similarity.readKmState(spark, statePath(-1)),
        Similarity.readKmState(spark, statePath(marker.committed(spark))))
      .orderBy(col("cluster_id"))
  }

  /** One micro-batch step of the streaming SCD2 dimension — versioned
    * SNAPSHOT discipline: fold the batch into the current history with
    * [[graft.operators.Scd.scd2Merge]] (or build it with `scd2` when none
    * exists yet), write the result as a NEW snapshot dir `v<batchId>`, then
    * flip the `_current` pointer file. Readers resolve the pointer and pin
    * one complete snapshot — there is never a moment with a partial or
    * missing dimension (the table-level analog of
    * [[graft.operators.Maintenance.compactPartitioned]]'s per-leaf swap).
    *
    * Idempotence: a replayed batch (`batchId <= _current`) is drained and
    * skipped; a crash AFTER the snapshot write but BEFORE the pointer flip
    * replays into an `overwrite` of the same snapshot dir and then flips —
    * same end state. Snapshots older than the PREVIOUS version are retired
    * on each step (the previous one is kept so an in-flight reader of the
    * old pointer never loses files mid-scan); a crash between flip and
    * retire only delays that cleanup to the next step. */
  private[graft] def scd2BatchStep(dimBase: String, batch: DataFrame,
                                   batchId: Long, nowMillis: Long): Unit =
    versionedStep(dimBase, batch, batchId) {
      case None =>
        graft.operators.Scd.scd2(batch, "user_id", "event_type",
          unix_millis(col("ts")), "event_id", nowMillis)
      case Some(dim) =>
        graft.operators.Scd.scd2Merge(dim, batch, "user_id",
          "event_type", unix_millis(col("ts")), "event_id", nowMillis)
    }

  /** The versioned-snapshot fold shared by the streaming table
    * maintainers ([[scd2BatchStep]], [[cdcBatchStep]]): `merge` folds the
    * batch into the prior snapshot (None on the first batch), the result
    * lands as a NEW dir `v<batchId>`, then the `_current` pointer flips.
    * Replay/crash discipline as documented on [[scd2BatchStep]]'s
    * callers: replayed batches (batchId <= current) drain and skip; a
    * crash between snapshot write and pointer flip replays into an
    * overwrite of the same dir; snapshots older than the PREVIOUS version
    * retire each step. */
  private[graft] def versionedStep(dimBase: String, batch: DataFrame,
                                   batchId: Long)
                                  (merge: Option[DataFrame] => DataFrame): Unit = {
    val spark = batch.sparkSession
    val ptr = new BatchMarker(s"$dimBase/_current")
    val cur = ptr.committed(spark)
    if (batchId <= cur) { drainReplayedBatch(batch); return }
    merge(if (cur < 0) None else Some(spark.read.parquet(s"$dimBase/v$cur")))
      .write.mode("overwrite").parquet(s"$dimBase/v$batchId")
    ptr.commit(spark, batchId)
    val f = fileSystem(spark, dimBase)
    f.listStatus(new Path(dimBase)).map(_.getPath)
      .filter(p => p.getName.startsWith("v") &&
        p.getName.drop(1).forall(_.isDigit) && p.getName.drop(1).toLong < cur)
      .foreach(p => f.delete(p, true))
  }

  /** The snapshot a [[versionedStep]] table's `_current` pointer names. */
  private def versionedState(spark: SparkSession, base: String): DataFrame = {
    val cur = new BatchMarker(s"$base/_current").committed(spark)
    require(cur >= 0, s"no snapshot under $base")
    spark.read.parquet(s"$base/v$cur")
  }

  /** One micro-batch fold of the STREAMING CDC table ([[runStreamCdc]]):
    * the prior collapsed state unions with the batch and re-collapses via
    * [[graft.operators.Merge.collapseChangeLog]] — per-key max over the
    * (ts, event_id) total order is associative, so any batch split in any
    * order converges to the one-shot collapse (the law MergePropsSpec
    * pins). Tombstones persist as rows (a dropped tombstone could not
    * out-sequence a stale upsert in a replayed batch); the read side
    * filters them. Per-batch cost O(state + batch) — one hash agg, the
    * change corpus is never rescanned. */
  private[graft] def cdcBatchStep(stateBase: String, batch: DataFrame,
                                  batchId: Long): Unit =
    versionedStep(stateBase, batch, batchId) { prior =>
      graft.operators.Merge.collapseChangeLog(
        prior.fold(batch)(_.unionByName(batch)),
        Seq("user_id"), Seq("ts", "event_id"))
    }

  /** Streaming SCD2 dimension maintenance — [[scd2BatchStep]] under real
    * micro-batches: the events table is staged as time-sliced files (cut at
    * `cuts`, mtimes forced ascending so the file source replays them in
    * event-time order — [[graft.operators.Scd.scd2Merge]]'s no-late-events
    * contract) and streamed with `maxFilesPerTrigger=1`, so each slice
    * folds into the persisted dimension as its own micro-batch. By the
    * merge operator's split-equivalence the final snapshot equals the
    * one-shot `scd2` over all events — the registry oracle is j9's SQL
    * verbatim. Per-batch cost is O(batch + dimension): the event corpus is
    * never rescanned. */
  def runStreamScd2(spark: SparkSession, dir: String, base: String,
                    cuts: Seq[Long]): DataFrame = {
    val dimBase = s"$base/dim"
    runBatches(spark, Batches(s"$base/ckpt")(
      sliceLanding(spark, dir, "events", eventCols.map(col), timeSlices(cuts)))(
      (b, id) => scd2BatchStep(dimBase, b, id, graft.Tables.NowMillis)))
    versionedState(spark, dimBase)
  }

  /** STREAMING CDC table maintenance — [[cdcBatchStep]] under real
    * micro-batches: the events table (read as an op log — event_type
    * 'error' the delete tombstone, anything else an upsert) is staged as
    * time-sliced files replayed with `maxFilesPerTrigger=1`, each slice
    * folding into the versioned state snapshot behind the `_current`
    * pointer. Because the collapse is order-insensitive (per-key max over
    * a total order), the final state equals the one-shot
    * [[graft.operators.Merge.applyChangeLog]] over all events for ANY
    * slicing — the registry oracle is j16's SQL verbatim. Read-back
    * filters tombstone rows and projects the j16 surface. */
  def runStreamCdc(spark: SparkSession, dir: String, base: String,
                   cuts: Seq[Long]): DataFrame = {
    val stateBase = s"$base/state"
    runBatches(spark, Batches(s"$base/ckpt")(sliceLanding(spark, dir, "events",
      (eventCols :+ "value").map(col), timeSlices(cuts))) { (b, id) =>
      cdcBatchStep(stateBase, b.select(
        col("user_id"), col("event_type").as("op"),
        col("event_type").as("last_type"), col("value"),
        unix_millis(col("ts")).as("ts"), col("event_id")), id)
    })
    versionedState(spark, stateBase)
      .filter(col("op") =!= "error")
      .select(col("user_id"), col("last_type"),
        round(col("value"), 2).as("last_value"), col("ts"))
  }

  /** Stream-STREAM interval join — click→conversion attribution: each
    * `click` event joined to every `purchase` by the same user within
    * `horizon` after the click. The capability the reference's
    * single-stream topology never needed, and the one genuinely new
    * streaming shape Structured Streaming adds over it: BOTH sides are
    * unbounded, so Spark buffers each side in join state and the event-time
    * range condition plus the two watermarks bound that state — a click's
    * buffered row is evicted once the watermark passes `click_ts + horizon`
    * (no purchase can match it anymore), a purchase's once the watermark
    * passes its own `purchase_ts`. Without the range condition the join
    * state would grow forever; with it, state size tracks one horizon of
    * events per side regardless of stream length — the 100 TB/day shape.
    *
    * Inner join in append mode: a match emits as soon as both rows have
    * arrived; the [[AppendOnceSink]] keeps crash-replayed batches from
    * duplicating attributions. Output: (user_id, click_id, purchase_id,
    * click_ms, purchase_ms) as epoch millis. */
  def runClickAttribution(spark: SparkSession, dir: String, sinkPath: String,
                          horizon: String): DataFrame =
    runClickAttribution(spark, dir, sinkPath, horizon, "inner", None)

  /** Generalized [[runClickAttribution]]: `joinType` "inner" or
    * "left_outer". The LEFT OUTER variant also reports unconverted clicks
    * as (click, purchase_id = -1) — but an outer null only emits once the
    * global watermark proves no purchase can still arrive
    * (`click_ts + horizon < watermark`), and a finite replay's watermark
    * stops at `max(event_ts) − horizon`: the last ~2 horizons of clicks are
    * inherently UNDECIDED when the replay ends. `clickCutoffMs`
    * (≤ maxTs − 2·horizon) makes the reported answer well-defined: it is
    * applied as a batch filter on the sink read-back — NOT on the input
    * stream, where it would cap the clicks-side watermark itself and
    * re-create the same undecided tail just before the cutoff. On an
    * unbounded production stream the watermark keeps advancing and no
    * cutoff is needed. The oracle applies the identical cutoff. */
  def runClickAttribution(spark: SparkSession, dir: String, sinkPath: String,
                          horizon: String, joinType: String,
                          clickCutoffMs: Option[Long]): DataFrame = {
    // The join keeps TWO state stores per partition — 8 state partitions,
    // not the batch default (see sessionWithStatePartitions).
    appendOnce(spark, sinkPath, Some(8)) { ss =>
      val ev = eventsStream(ss, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", horizon)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("_p_user"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", horizon)
      clicks.join(purchases,
          col("user_id") === col("_p_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $horizon"),
          joinType)
        .select(col("user_id"), col("click_id"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
          unix_millis(col("click_ts")).as("click_ms"),
          coalesce(unix_millis(col("purchase_ts")), lit(-1L)).as("purchase_ms"))
    }
    clickCutoffMs.foldLeft(spark.read.parquet(sinkPath)) { (df, cut) =>
      df.filter(col("click_ms") < cut)
    }
  }

  /** S6: matched-message log sink — append-only side output of full message
    * rows for logged phrases (MessagesMatchingPhraseExporter.java:43-50).
    * Routed through [[AppendOnceSink]] so a crash-replayed micro-batch does
    * not duplicate log rows — the idempotence the reference's 2PC sink gives
    * its side output. */
  def runMatchedMessageLog(spark: SparkSession, stream: DataFrame,
                           phrases: Seq[graft.Tables.Phrase], textCol: String,
                           sinkPath: String): DataFrame = {
    appendOnce(spark, sinkPath, perBatch = b => StatsPipeline.matchedMessageLog(
      StatsPipeline.matchPhrases(b, phrases, textCol), phrases))(_ => stream)
    spark.read.parquet(sinkPath)
  }

  /** J15 under streaming: the event-type transition matrix maintained
    * incrementally across time-sliced micro-batches. Two pieces of
    * audited sink machinery compose the fold:
    *
    *  - PAIR DELTAS: each batch's within-batch lag pairs PLUS the
    *    boundary pair from the carried last-event row merge through the
    *    ADDITIVE upsert (Q19 semantics) — union over time-disjoint
    *    batches ≡ the one-shot window answer, because each user's
    *    boundary pair is exactly the lag the batch split severed;
    *  - LAST-EVENT STATE: one row per user (ms, event_id, type) kept in a
    *    REPLACE upsert sink; the next batch unions those rows in as the
    *    earliest per-user events, so its first lag IS the boundary pair.
    *
    * Crash windows: pairs append first, state second — a replay after
    * either lands recomputes against the still-old state or skips
    * wholesale via each sink's committed-batch marker (the additive sink's
    * skip is what prevents double-counting; spec-pinned below).
    *
    * State is O(users), the streaming-native shape: the event HISTORY is
    * never retained, unlike a batch window that re-sorts every user's
    * full sequence per refresh. */
  def runStreamTransitions(spark: SparkSession, dir: String, base: String,
                           cuts: Seq[Long]): DataFrame = {
    val pairs = new ParquetUpsertSink(s"$base/pairs",
      Seq("from_type", "to_type"), Seq("n"), additive = true)
    // The state table keys on user_id but PARTITIONS on a bounded hash
    // bucket (keys.head is the physical partition column): one leaf dir
    // per user would be a small-file explosion at any real user count.
    val last = new ParquetUpsertSink(s"$base/last",
      Seq("user_bucket", "user_id"), Seq("last_ms", "last_eid", "last_type"),
      additive = false)
    runBatches(spark, Batches(s"$base/ckpt")(
      sliceLanding(spark, dir, "events", eventCols.map(col), timeSlices(cuts))) { (b, id) =>
      val cur = b.select(col("user_id"), unix_millis(col("ts")).as("_ms"),
        col("event_id").as("_eid"), col("event_type").as("_ty"))
      val withCarry = last.state(b.sparkSession) match {
        case Some(st) => cur.unionByName(st.select(col("user_id"),
          col("last_ms").as("_ms"), col("last_eid").as("_eid"),
          col("last_type").as("_ty")))
        case None => cur
      }
      val bucket = pmod(col("user_id"), lit(16L)).as("user_bucket")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("_ms"), col("_eid"))
      val lagged = withCarry
        .withColumn("_prev", lag(col("_ty"), 1).over(w))
      pairs.upsert(lagged.filter(col("_prev").isNotNull)
        .groupBy(col("_prev").as("from_type"), col("_ty").as("to_type"))
        .agg(count(lit(1)).as("n")), id)
      val wDesc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("_ms").desc, col("_eid").desc)
      last.upsert(withCarry
        .withColumn("_rn", row_number().over(wDesc))
        .filter(col("_rn") === 1)
        .select(bucket, col("user_id"), col("_ms").as("last_ms"),
          col("_eid").as("last_eid"), col("_ty").as("last_type")), id)
    })
    pairs.state(spark).get
  }

  /** Q24's conversion funnel under streaming: per-user chained earliest-
    * step state (view → click strictly after it → purchase strictly after
    * that) folded incrementally over time-sliced micro-batches.
    *
    * Why incremental is exact here: the replay slices are disjoint and
    * time-ordered, so every event in batch k+1 is later than everything
    * already folded; a user's funnel state (v, c, p minima under the
    * chain) therefore summarizes their whole history — replaying the
    * state rows as synthetic step events and re-running the SAME batch
    * funnel operator ([[graft.operators.Funnel.funnel]]) over
    * carry ∪ batch yields the full-history answer (the min-chain only
    * ever needs the best-so-far at each step). Union over the slices ≡
    * the one-shot batch funnel, so q24's oracle applies verbatim.
    *
    * State is a replace-upsert table keyed (user_bucket, user_id) — one
    * row per user who has entered the funnel, O(users) regardless of
    * stream length; the per-batch funnel windows only over the batch's
    * users (carry joined at batch grain). */
  def runStreamFunnel(spark: SparkSession, dir: String, base: String,
                      cuts: Seq[Long], steps: Seq[String]): DataFrame = {
    val stepCols = steps.indices.map(i => s"step${i}_ms")
    val state = new ParquetUpsertSink(s"$base/funnel",
      Seq("user_bucket", "user_id"), stepCols, additive = false)
    runBatches(spark, Batches(s"$base/ckpt")(
      sliceLanding(spark, dir, "events", eventCols.map(col), timeSlices(cuts))) { (b, id) =>
      val cur = b.select(col("user_id"),
        col("event_type").as("_ty"), unix_millis(col("ts")).as("_ms"))
      // Carry state rows re-enter as synthetic step events: step i's
      // timestamp replayed with step i's type — the funnel min-chain
      // over carry ∪ batch equals the full-history chain (see doc).
      val withCarry = state.state(b.sparkSession) match {
        case Some(st) =>
          // Only carry state for users actually IN this batch: untouched
          // users keep their rows (replace-upsert never visits them), so
          // per-batch work is O(batch), not O(all users ever seen).
          val synth = st
            .join(cur.select(col("user_id")).distinct(), Seq("user_id"),
              "left_semi")
            .select(col("user_id"), explode(
              map(steps.zip(stepCols).flatMap { case (ty, sc) =>
                Seq(lit(ty), col(sc))
              }: _*)).as(Seq("_ty", "_ms")))
            .where(col("_ms").isNotNull)
          cur.unionByName(synth)
        case None => cur
      }
      val fu = graft.operators.Funnel.funnel(
        withCarry, "user_id", "_ty", "_ms", steps)
      state.upsert(fu.select(
        (pmod(col("user_id"), lit(16L)).as("user_bucket") +:
          col("user_id") +: stepCols.map(col)): _*), id)
    })
    val st = state.state(spark).get
    st.select((col("user_id") +: stepCols.map(col) :+
      col(stepCols.last).isNotNull.cast("int").as("converted")): _*)
  }

  /** Streaming COMMUNITY maintenance — [[graft.operators.Graph
    * .topCooccurrenceCommunities]] under real micro-batches (the r11
    * verdict's named open seat): click (user, item) observations replay
    * as three event_id-sharded single-file micro-batches; each batch
    * folds into the standing DISTINCT bipartite store (distinct-of-union
    * ≡ union-of-distincts, so the store is split-order-invariant — the
    * exact split-equivalence law), then the top-K item graph + fixed-
    * round LPA recompute over the CONTRACTED store lands as a versioned
    * labels snapshot behind a `_current` pointer flip (the s13/s40
    * versionedStep discipline; replayed batches drain on both stores,
    * and a crash between the two steps replays into the labels step
    * reading the already-flipped store pointer — same end state).
    *
    * LPA is NOT incrementally mergeable (one new edge can flip labels
    * globally — unlike s40's CC, there is no contraction law), so the
    * honest streaming shape is recompute-over-contracted-state: the
    * store is observation-grain bounded (distinct user×item, never raw
    * events) and the graph is top-K bounded, so the per-batch recompute
    * is item-count-sized regardless of stream volume. Final snapshot ≡
    * the one-shot build over all events — the oracle unrolls that LPA
    * trajectory in SQL. */
  def runStreamLabelProp(spark: SparkSession, dir: String, base: String,
                         topK: Int, rounds: Int): DataFrame = {
    val clickItems = sliceLanding(spark, dir, "events",
      Seq(col("event_id"), col("user_id"),
        get_json_object(col("props"), "$.k").cast("int").as("item")),
      residues("event_id", 3).map(col("event_type") === "click" && _))
    runBatches(spark, Batches(s"$base/ckpt")(clickItems) { (b, id) =>
      versionedStep(s"$base/ui", b, id) { prior =>
        val bi = b.select(col("user_id"), col("item")).distinct()
        prior.fold(bi)(p => p.unionByName(bi).distinct())
      }
      versionedStep(s"$base/labels", b, id) { _ =>
        graft.operators.Graph.topCooccurrenceCommunities(
          versionedState(b.sparkSession, s"$base/ui"), "user_id", "item",
          topK, rounds)
      }
    })
    versionedState(spark, s"$base/labels")
      .groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("size"),
        min(col("vertex")).cast("long").as("min_vertex"),
        max(col("vertex")).cast("long").as("max_vertex"))
  }

  /** The additive monitor shape: each micro-batch of `source` reduces by
    * `batchAgg` to partial counts or sums that ADD into the state table
    * `base/state` keyed by `keys` (batch markers ⇒ exactly-once under
    * replay, so any slicing converges to the one-shot answer). Returns the
    * converged state for the caller's read-time fold. */
  private def additiveMonitor(spark: SparkSession, source: SparkSession => DataFrame,
                              base: String, keys: Seq[String], values: Seq[String])
                             (batchAgg: DataFrame => DataFrame): DataFrame = {
    val sink = new ParquetUpsertSink(s"$base/state", keys, values, additive = true)
    runBatches(spark, Batches(s"$base/ckpt")(source)(
      (b, id) => sink.upsert(batchAgg(b), id)))
    sink.state(spark).get
  }

  /** The update-mode twin of [[additiveMonitor]]: `streamAgg` is a stateful
    * streaming aggregation over `source` on 8 state partitions; each
    * re-emission carries a group's COMPLETE value so far and (flattened by
    * `perBatch`) replace-upserts by key, so the table converges to the
    * one-shot answer for any slicing. */
  private def updateMonitor(spark: SparkSession, source: SparkSession => DataFrame,
                            base: String, keys: Seq[String], values: Seq[String],
                            perBatch: DataFrame => DataFrame = identity)
                           (streamAgg: DataFrame => DataFrame): DataFrame = {
    val sink = new ParquetUpsertSink(s"$base/state", keys, values, additive = false)
    runBatches(spark, Batches(s"$base/ckpt", "update", Some(8))(
      ss => streamAgg(source(ss)))((b, id) => sink.upsert(perBatch(b), id)))
    sink.state(spark).get
  }

  /** Row counts per group, named `n`. */
  private def countsBy(n: String, groups: Column*)(b: DataFrame): DataFrame =
    b.groupBy(groups: _*).agg(count(lit(1)).as(n))

  /** Epoch-ms start of the event's UTC day. */
  private def dayMs: Column = unix_millis(date_trunc("DAY", col("ts")))

  /** The additive (event_type, day) count state shared by the day-series
    * monitors, `day` as the caller's family stores it. A day sliced across
    * micro-batches contributes per-slice PARTIAL counts, which is why these
    * monitors keep day counts (genuinely additive) and fold at read time. */
  private def dayCounts(spark: SparkSession, dir: String, base: String,
                        day: Column): DataFrame =
    additiveMonitor(spark, eventSlices(spark, dir), base,
      Seq("event_type", "day"), Seq("n"))(countsBy("n", col("event_type"), day.as("day")))

  /** Per-source power sums (n, Σx, Σx²) of n_chars: the Welch and ANOVA
    * state, exact BIGINT. */
  private def powerSums(spark: SparkSession, dir: String, base: String): DataFrame =
    additiveMonitor(spark, docSlices(spark, dir), base,
      Seq("source"), Seq("n", "sx", "sxx")) { b =>
      b.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("n_chars")).cast("long").as("sx"),
          sum(col("n_chars") * col("n_chars")).cast("long").as("sxx"))
    }

  /** Streaming distinct-cardinality sketch: x32's mergeable bottom-k (KMV)
    * aggregate as STREAMING state — distinct users per (day, event_type)
    * maintained incrementally across micro-batches. A bottom-k SET is
    * order- and merge-independent, so the incrementally-streamed sketch
    * equals the one-shot batch sketch EXACTLY (no re-aggregation drift),
    * and the oracle is the same SQL as the batch entry.
    *
    * Scale shape: state per (day, type) group is one k-long array — the
    * streaming analog of the batch shuffle carrying sketches, never the
    * distinct value set; update-mode re-emissions replace-upsert by key. */
  def runStreamKmv(spark: SparkSession, dir: String, base: String,
                   k: Int): DataFrame = {
    val estNum = (k - 1).toLong * 4294967296L // (k-1) · 2^32, exact in i64
    val bottomK = graft.functions.BottomKSketch.bottomK(k)
    updateMonitor(spark, eventSlices(spark, dir), base, Seq("day", "event_type"),
      Seq("n_kept", "kth_min", "n_est")) { s =>
      // Slices are event_id-sharded, so each spans the WHOLE time range:
      // the watermark must lag past the full replay span or slice-2 rows
      // arrive "late" and are dropped. 45 days > the 31-day corpus keeps
      // S4 wired (bounded state on an unbounded stream) without dropping.
      s.withWatermark("ts", "45 days")
        .withColumn("_h", graft.operators.Dedup.shingleHash(
          concat(lit("kmv:"), col("user_id").cast("string"))))
        .groupBy(window(col("ts"), "1 day").as("_w"), col("event_type"))
        .agg(bottomK(col("_h")).as("_sk"))
        .select(unix_millis(col("_w.start")).as("day"), col("event_type"),
          size(col("_sk")).cast("bigint").as("n_kept"),
          element_at(col("_sk"), size(col("_sk"))).as("kth_min"))
        .withColumn("n_est",
          when(col("n_kept") < k, col("n_kept"))
            .otherwise(expr(s"${estNum}L div kth_min")))
    }
  }

  /** J13's event-rate anomaly gate under streaming: the per-(type, day)
    * count table is maintained as streaming state (one stateful windowed
    * count, update-mode re-emissions replace-upsert by key — each
    * re-emission carries the group's COMPLETE count so far, so the final
    * table equals the one-shot batch counts for any slicing), and the
    * z-score read (mean/σ per type, |z| ≥ 2 flag) folds over the
    * maintained table at serve time — j13's oracle verbatim.
    *
    * This is the deployment shape of ingest monitoring: counts accrue
    * micro-batch by micro-batch; the anomaly flag is always computed
    * against the CURRENT whole-history moments, not frozen ones. */
  def runStreamRateAnomaly(spark: SparkSession, dir: String,
                           base: String): DataFrame = {
    val daily = updateMonitor(spark, eventSlices(spark, dir), base,
      Seq("event_type", "day_ms"), Seq("n")) { s =>
      s.withWatermark("ts", "45 days") // id-sharded slices span the range
        .groupBy(window(col("ts"), "1 day").as("_w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), unix_millis(col("_w.start")).as("day_ms"),
          col("n"))
    }
    val st = daily.groupBy(col("event_type")).agg(
      avg(col("n")).as("_m"), stddev_samp(col("n")).as("_s"))
    val z = when(col("_s").isNull || col("_s") === 0.0, 0.0)
      .otherwise((col("n") - col("_m")) / col("_s"))
    daily.join(broadcast(st), "event_type")
      .select(col("event_type"), col("day_ms"),
        col("n").cast("long").as("n"), round(z, 4).as("z"),
        when(abs(z) >= 2.0, 1).otherwise(0).as("is_anomaly"))
  }

  /** X102's Benford audit under streaming: the per-(type, first-digit)
    * count table is the state — a stateful aggregation over at most
    * |types|·9 groups (bounded forever, no watermark needed), update-mode
    * re-emissions replace-upserted by key so the table converges to the
    * one-shot counts for any slicing; observed vs Benford expectation
    * folds at read time — x102's oracle verbatim. The always-on forensic
    * monitor shape: digits accrue, the audit is a read. */
  def runStreamBenford(spark: SparkSession, dir: String,
                       base: String): DataFrame = {
    val v = abs(col("value").cast("double"))
    val o = updateMonitor(spark, eventSlices(spark, dir), base,
      Seq("event_type", "fd"), Seq("n")) { s =>
      s.where(v >= 1.0)
        .withColumn("fd",
          floor(v / pow(lit(10.0), floor(log10(v)))).cast("int"))
        .groupBy(col("event_type"), col("fd"))
        .agg(count(lit(1)).as("n"))
    }
    val t = o.groupBy(col("event_type"))
      .agg(sum(col("n")).cast("double").as("_tot"))
    o.join(broadcast(t), Seq("event_type"))
      .select(col("event_type"), col("fd"), col("n").cast("long").as("n"),
        round(col("n") / col("_tot"), 4).as("observed_p"),
        round(log(lit(1.0) + lit(1.0) / col("fd")) / log(lit(10.0)), 4)
          .as("benford_p"))
  }

  /** X106's Cohen's kappa under streaming — live agreement monitoring
    * between the deployed heuristic classifier and arriving gold labels
    * (the "is the cheap router degrading" alarm): per-batch langId
    * predictions join the batch's own gold column, and the streaming
    * state is the (pred, gold) CONFUSION MATRIX — counts are additive and
    * the table is bounded at |classes|² forever, no watermark — accrued
    * through the upsert's batch markers (exactly-once under replay). The
    * exact-integer kappa fold happens at read time, so the streamed
    * statistic equals the one-shot x106 answer for any slicing. */
  def runStreamKappa(spark: SparkSession, dir: String,
                     base: String): DataFrame = {
    val st = additiveMonitor(spark, docSlices(spark, dir), base,
      Seq("pred_lang", "lang"), Seq("c")) { b =>
      countsBy("c", col("pred_lang"), col("lang"))(
        graft.operators.TextAnalysis.langId(b)
          .join(b.select(col("doc_id"), col("lang")), Seq("doc_id")))
    }
    graft.operators.Eval.kappaFromCounts(
      st.select(col("pred_lang").as("_p"), col("lang").as("_g"),
        col("c").cast("long").as("_c")))
  }

  /** J32's OLS trend under streaming — the volume-drift monitor in
    * mergeable-sufficient-statistic shape: per-type state is the six
    * normal-equation power sums (n, Σx, Σy, Σxy, Σx², Σy²) over the
    * (type, day) count series, accrued ADDITIVELY across micro-batches
    * (batch markers ⇒ exactly-once). Slope/intercept/r² assemble at read
    * time via the same exact-integer closed form as batch, so the
    * streamed trend equals the one-shot j32 answer for any slicing.
    *
    * One subtlety the additive state absorbs: a day sliced across
    * micro-batches contributes per-slice PARTIAL counts, so folding power
    * sums per batch would square partials wrongly (Σy² is not additive
    * in slices of y) — the runner therefore maintains the DAY-GRAIN count
    * table as its state (counts ARE additive) and folds the power sums at
    * read time from the converged day counts, x-shift included. State
    * stays bounded at |types|·|days| — the series grain, tiny by
    * construction. */
  def runStreamOls(spark: SparkSession, dir: String,
                   base: String): DataFrame = {
    val series = dayCounts(spark, dir, base, (dayMs / lit(86400000L)).cast("long"))
      .select(col("event_type"), col("day").cast("long").as("_day"),
        col("n").cast("long").as("_n"))
    graft.operators.TimeSeries.olsTrend(series, "event_type", "_day", "_n")
  }

  /** X129's Welch t-test under streaming — the cleanest state story in
    * the monitor family: power sums (n, Σx, Σx²) are GENUINELY additive,
    * so the state table at source grain absorbs each micro-batch's
    * partial sums directly (no day-grain detour like s25/s27/s29) and
    * the Welch fold at read time equals batch x129 bit-for-bit (its
    * oracle verbatim; all state is exact BIGINT, so replay-idempotence
    * is integer-exact too). */
  def runStreamWelch(spark: SparkSession, dir: String,
                     base: String): DataFrame =
    graft.operators.Maintenance.welchFromSums(
      powerSums(spark, dir, base)
        .select(col("source"), col("n").cast("long").as("_n"),
          col("sx").cast("long").as("_sx"),
          col("sxx").cast("long").as("_sxx")),
      "source")

  /** J45's one-way ANOVA under streaming — the "did the sources
    * diverge" monitor always-on. Power sums are genuinely additive
    * (the s30 Welch discipline): the source-grain state absorbs each
    * micro-batch's partial (n, Σx, Σx²) directly and the scalar ANOVA
    * fold runs at read time via the shared Maintenance.anovaFromSums,
    * so the streamed answer equals batch j45 bit-for-bit (its oracle
    * verbatim). */
  def runStreamAnova(spark: SparkSession, dir: String,
                     base: String): DataFrame =
    graft.operators.Maintenance.anovaFromSums(
      powerSums(spark, dir, base)
        .select(col("n").cast("long").as("_n"),
          col("sx").cast("long").as("_sx"),
          col("sxx").cast("long").as("_sxx")))

  /** X135's Cramér's V under streaming — the "are language and source
    * still independent" association monitor always-on. Contingency cell
    * counts are genuinely additive (the s28 PSI discipline): state is
    * the (lang, source) count table, bounded at the category product
    * forever, and the sparse-identity V fold runs at read time via the
    * shared TextAnalysis.cramersVFromCounts — streamed answer equals
    * batch x135 bit-for-bit (its oracle verbatim). */
  def runStreamCramersV(spark: SparkSession, dir: String,
                        base: String): DataFrame =
    graft.operators.TextAnalysis.cramersVFromCounts(
      additiveMonitor(spark, docSlices(spark, dir), base,
        Seq("lang", "source"), Seq("o"))(countsBy("o", col("lang"), col("source")))
        .select(col("lang"), col("source"), col("o").cast("long").as("_o")),
      "lang", "source")

  /** X139's Good–Turing unseen mass under streaming — the "is this
    * source still producing novelty" monitor always-on. Gram counts are
    * genuinely additive (the s32 discipline), so state is the (source,
    * bigram) count table — vocabulary-grain, the LM-table bound — and
    * the frequency-of-frequencies fold runs at read time via the shared
    * TextAnalysis.unseenMassFromCounts: streamed answer equals batch
    * x139 bit-for-bit (its oracle verbatim). NOTE singleton counts
    * themselves are NOT additive (a gram seen once in two different
    * batches is not a singleton) — which is exactly why the state must
    * be the count table, not the f-o-f summary. */
  def runStreamUnseenMass(spark: SparkSession, dir: String,
                          base: String): DataFrame = {
    import graft.operators.TextAnalysis
    val st = additiveMonitor(spark, docSlices(spark, dir), base,
      Seq("source", "g"), Seq("c")) { b =>
      countsBy("c", col("source"), col("g"))(
        b.select(col("source"), TextAnalysis.tokens(col("text")).as("_t"))
          .select(col("source"), explode(TextAnalysis.gramArray(col("_t"), 2)).as("g")))
    }
    TextAnalysis.unseenMassFromCounts(
      st.select(col("source"), col("g").as("_g"), col("c").cast("long").as("_c")),
      "source")
  }

  /** X116's Population Stability Index under streaming — the ingest-drift
    * monitor in always-on shape: per micro-batch the documents slice
    * bins by the FIXED literal edges and its (source, bin) counts ADD
    * into the state table (bounded at |sources|·bins forever,
    * exactly-once through batch markers); the smoothed-proportion PSI
    * fold runs at read time on the converged counts via the shared
    * Maintenance.psiFromCounts, so the streamed answer equals batch x116
    * bit-for-bit (its oracle verbatim). The reference side is the
    * SAME converged corpus — the monitor's "is this source drifting from
    * the whole" read; freezing a deploy-time reference instead is one
    * constant table away (the s23/s24 frozen-reference discipline). */
  def runStreamPsi(spark: SparkSession, dir: String, base: String,
                   edges: Seq[Double]): DataFrame = {
    val bin = edges.map(e =>
      when(col("n_chars") >= e, 1L).otherwise(0L)).reduce(_ + _)
    graft.operators.Maintenance.psiFromCounts(
      additiveMonitor(spark, docSlices(spark, dir), base,
        Seq("source", "bin"), Seq("n"))(countsBy("n", col("source"), bin.as("bin")))
        .select(col("source"), col("bin").cast("long").as("_bin"),
          col("n").cast("long").as("_c")),
      "source", edges.size + 1)
  }

  /** J40's Holt level+trend forecast under streaming — the capacity
    * monitor always-on. Same state resolution as the CUSUM/OLS family:
    * the recurrence walks the series START to END (partial-day counts
    * would corrupt every later step), so state is the additive
    * (event_type, day) count table and the whole fold runs at read time
    * on converged counts — streamed forecast equals batch j40
    * bit-for-bit (its oracle verbatim). */
  def runStreamHolt(spark: SparkSession, dir: String, base: String,
                    alpha: Double, beta: Double,
                    horizon: Int): DataFrame =
    graft.operators.TimeSeries.holtForecast(
      dayCounts(spark, dir, base, dayMs)
        .select(col("event_type"), col("day").cast("long").as("day"),
          col("n").cast("long").as("n")),
      Seq("event_type"), "day", "n", alpha, beta, horizon)

  /** J56's seasonal-naive forecast backtest under streaming — the
    * capacity monitor's "is the weekly model still earning its keep"
    * read, always-on: the backtest walks lag-1 and lag-`season` over the
    * DENSE day grid, which no per-batch state can maintain (a batch
    * holding half a day would shift every lag), so the s29/s27 family
    * resolution applies — state is the additive (event_type, day) count
    * table, bounded at |types|·|days| forever, exactly-once under replay
    * through the sink's batch markers, and the entire grid/lag/error
    * fold runs at READ time on converged counts via
    * [[graft.operators.TimeSeries.forecastBacktestSeries]]. Equals
    * batch j56 bit-for-bit (its oracle verbatim). */
  def runStreamForecastBacktest(spark: SparkSession, dir: String,
                                base: String, season: Int): DataFrame =
    graft.operators.TimeSeries.forecastBacktestSeries(
      dayCounts(spark, dir, base, dayMs)
        .select(col("event_type"),
          to_date(timestamp_millis(col("day").cast("long"))).as("day"),
          col("n").cast("long").as("n")),
      "event_type", "day", "n", season)

  /** J57's MAD robust anomaly under streaming — the always-on twin of
    * [[runStreamForecastBacktest]] over the SAME additive day-grain
    * count state (medians, like the dense-grid lags, cannot absorb
    * partial-day batches: half a day's count is a fake low day that
    * drags the median), with the whole median/MAD/z/peak fold at READ
    * time via [[graft.operators.TimeSeries.madAnomalySeries]]. Equals
    * batch j57 bit-for-bit (its oracle verbatim). */
  def runStreamMadAnomaly(spark: SparkSession, dir: String,
                          base: String, threshold: Double): DataFrame =
    graft.operators.TimeSeries.madAnomalySeries(
      dayCounts(spark, dir, base, dayMs)
        .select(col("event_type"),
          to_date(timestamp_millis(col("day").cast("long"))).as("day"),
          col("n").cast("long").as("n")),
      "event_type", "day", "n", threshold)

  /** J60's new-vs-returning split under streaming — growth accounting
    * always-on: "new" is a GLOBAL first-ever property no per-batch row
    * can decide (the first sighting may be in any earlier batch), so
    * state is the (user_id, day) PRESENCE table — per-batch counts whose
    * values never matter, which makes the monitor replay-proof by
    * construction (a double-applied batch bumps a count, presence is
    * unchanged) — and the first-seen/decompose fold runs at READ time
    * via [[graft.operators.Funnel.newVsReturningFromPresence]]. State is
    * bounded at |users|·|days| (the s5b user-grain budget). Equals batch
    * j60 bit-for-bit (its oracle verbatim). */
  def runStreamNewVsReturning(spark: SparkSession, dir: String,
                              base: String): DataFrame =
    // Day leads the key so the state table physically partitions on the
    // ~|days| grain (the sink partitions on keys.head): user-first would
    // fan one leaf directory per user — measured 3x slower at sf0.1's
    // 1500 users — while the upsert semantics are key-ORDER-blind.
    graft.operators.Funnel.newVsReturningFromPresence(
      additiveMonitor(spark, eventSlices(spark, dir), base,
        Seq("day", "user_id"), Seq("n"))(countsBy("n", dayMs.as("day"), col("user_id")))
        .select(col("user_id"),
          to_date(timestamp_millis(col("day").cast("long"))).as("day")),
      "user_id", "day")

  /** X90's CUSUM change-point locator under streaming — drift monitoring
    * with a DETECTION twist the other monitors lack: CUSUM standardizes
    * by the FULL series mean/sd, which no per-batch state can carry
    * (partial-day running sums mis-standardize exactly like s25's
    * partial-day power sums mis-square). Same resolution: state is the
    * additive (event_type, day) count table — bounded at |types|·|days|,
    * exactly-once under replay through the sink's batch markers — and
    * the whole standardize-accumulate-argmax fold runs at READ time on
    * the converged day grain, so the streamed answer equals the batch
    * x90 answer bit-for-bit (its oracle verbatim). */
  def runStreamCusum(spark: SparkSession, dir: String,
                     base: String): DataFrame = {
    val series = dayCounts(spark, dir, base, (dayMs / lit(86400000L)).cast("long"))
      .select(col("event_type"),
        (col("day").cast("long") * 86400000L).as("day"),
        col("n").cast("long").as("n"))
    graft.operators.TimeSeries.cusumChangepoint(
      series, Seq("event_type"), "day", "n")
  }

  /** X80's equal-width histogram under streaming — the dataset-card
    * distribution profile in always-on shape: bin RANGES are frozen per
    * group when the monitor deploys (min/max collected once from the
    * corpus — the s23 frozen-reference discipline; a live range would
    * re-bin history on every new extremum, which no streaming state can
    * express), the state is the (group, bin) count table — bounded at
    * |groups|·bins forever — and per-batch partial counts ADD through the
    * upsert's batch markers. Oracle = x80's one-shot SQL verbatim. */
  def runStreamHistogram(spark: SparkSession, dir: String, base: String,
                         bins: Int): DataFrame = {
    // Frozen per-type ranges: bounded driver metadata (|types| rows).
    val ranges = graft.Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(min(col("value")).as("_lo"), max(col("value")).as("_hi"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val loMap = map(ranges.flatMap { case (t, lo, _) =>
      Seq(lit(t), lit(lo)) }: _*)
    val hiMap = map(ranges.flatMap { case (t, _, hi) =>
      Seq(lit(t), lit(hi)) }: _*)
    val lo = element_at(loMap, col("event_type"))
    val hi = element_at(hiMap, col("event_type"))
    val bin = when(hi === lo, lit(0L))
      .otherwise(least(floor((col("value") - lo) / ((hi - lo) / bins)),
        lit((bins - 1).toLong)))
    additiveMonitor(spark, eventSlices(spark, dir), base,
      Seq("event_type", "bin"), Seq("n"))(
      countsBy("n", col("event_type"), bin.cast("bigint").as("bin")))
      .select(col("event_type"), col("bin").cast("bigint").as("bin"),
        col("n").cast("bigint").as("n"))
  }

  /** X104's retrieval-AUC under streaming — the embedding-drift monitor:
    * incoming vectors are scored against REFERENCE centroids pinned when
    * the monitor deploys (computed once from the corpus and inlined as
    * literals — the monitor's question is "is the space drifting against
    * the frozen reference?"), and the streaming state is the
    * (class, milli-score) positive/negative count table — bounded at
    * |classes|·2001 rows FOREVER (3 dp quantization is what bounds it; the
    * batch x104 ranks exact 6 dp scores), no watermark needed. Per-batch
    * partial counts ADD through the upsert (batch markers ⇒ exactly-once
    * under replay), and the Mann-Whitney fold happens at read time via
    * the same [[graft.operators.Eval.aucFold]] as batch — so the streamed
    * AUC equals the one-shot AUC at the monitor's score grain for any
    * slicing of the input. */
  def runStreamAuc(spark: SparkSession, dir: String,
                   base: String): DataFrame = {
    val cents = graft.operators.Eval.centroidLiterals(
      graft.Tables.embeddings(spark, dir), "embedding", "label")
    val embSlices = sliceLanding(spark, dir, "embeddings",
      Schemas.embeddings.fieldNames.toSeq.map(col), residues("vec_id", 3))
    val st = additiveMonitor(spark, embSlices, base,
      Seq("class", "score_mil"), Seq("np", "nn")) { b =>
      graft.operators.Eval.scoreWith(b, "vec_id", "embedding", "label", cents)
        .withColumn("score_mil", round(col("score") * 1000, 0).cast("int"))
        .groupBy(col("class"), col("score_mil"))
        .agg(sum(when(col("_gold") === col("class"), 1L).otherwise(0L)).as("np"),
          sum(when(col("_gold") === col("class"), 0L).otherwise(1L)).as("nn"))
    }
    graft.operators.Eval.aucFold(
      st.select(col("class"), col("score_mil"),
        col("np").cast("long").as("_np"), col("nn").cast("long").as("_nn")),
      "score_mil")
  }

  /** X99's four-moment profile under streaming — the textbook mergeable-
    * sufficient-statistics pattern: the state per type is (n, Σx, Σx²,
    * Σx³, Σx⁴), each micro-batch's partial sums ADD into it (the additive
    * upsert's batch markers make replays exactly-once), and the central
    * moments assemble at read time from the maintained sums — so the
    * streamed profile equals the one-shot batch profile for ANY slicing
    * up to float fold order, far inside the 4 dp output grain. x99's
    * oracle verbatim. */
  def runStreamMoments(spark: SparkSession, dir: String,
                       base: String): DataFrame = {
    val x = col("value")
    val st = additiveMonitor(spark, eventSlices(spark, dir), base,
      Seq("event_type"), Seq("n", "s1", "s2", "s3", "s4")) { b =>
      b.groupBy(col("event_type")).agg(
        count(lit(1)).cast("double").as("n"),
        sum(x).as("s1"), sum(x * x).as("s2"),
        sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
    }
    st.withColumn("_m1", col("s1") / col("n"))
      .withColumn("_m2", col("s2") / col("n"))
      .withColumn("_m3", col("s3") / col("n"))
      .withColumn("_m4", col("s4") / col("n"))
      .withColumn("_v", col("_m2") - col("_m1") * col("_m1"))
      .withColumn("_c3", col("_m3") - lit(3) * col("_m1") * col("_m2") +
        lit(2) * col("_m1") * col("_m1") * col("_m1"))
      .withColumn("_c4", col("_m4") - lit(4) * col("_m1") * col("_m3") +
        lit(6) * col("_m1") * col("_m1") * col("_m2") -
        lit(3) * col("_m1") * col("_m1") * col("_m1") * col("_m1"))
      .select(col("event_type"), col("n").cast("long").as("n"),
        round(col("_m1"), 4).as("mean"),
        round(sqrt(col("_v")), 4).as("sd"),
        round(col("_c3") / pow(col("_v"), 1.5), 4).as("skewness"),
        round(col("_c4") / (col("_v") * col("_v")) - lit(3), 4)
          .as("excess_kurtosis"))
  }

  /** Streaming HLL register maintenance: x74's relational sketch under
    * Structured Streaming — the register table IS the streaming state
    * (one stateful `max` aggregate at (day, type, bucket) grain, ≤ 2^p
    * rows per group), update-mode re-emissions replace-upsert registers,
    * and the ESTIMATE is folded at read time from the maintained table.
    * `max` is monotone, so replace-upsert converges to the one-shot
    * registers regardless of how the replay slices. */
  def runStreamHll(spark: SparkSession, dir: String, base: String,
                   p: Int): DataFrame = {
    val rem = 1L << (32 - p)
    val maxRank = 32 - p + 1
    val wrem = col("_h") % rem
    val registers = updateMonitor(spark, eventSlices(spark, dir), base,
      Seq("day", "event_type", "_bucket"), Seq("_m")) { s =>
      s.withWatermark("ts", "45 days") // see runStreamKmv: slices span the corpus
        .withColumn("_h", graft.operators.Dedup.shingleHash(
          concat(lit("hll:"), col("user_id").cast("string"))))
        .withColumn("_bucket", shiftright(col("_h"), 32 - p))
        .withColumn("_rank",
          when(wrem === 0, lit(maxRank))
            .otherwise(lit(maxRank) - length(bin(wrem))))
        .groupBy(window(col("ts"), "1 day").as("_w"), col("event_type"),
          col("_bucket"))
        .agg(max(col("_rank")).as("_m"))
        .select(unix_millis(col("_w.start")).as("day"), col("event_type"),
          col("_bucket"), col("_m"))
    }
    graft.operators.Sketch.hllEstimate(registers, Seq("day", "event_type"), p)
  }

  /** X57 under streaming: per-event_type top-k (value desc, event_id asc)
    * maintained by the BOUNDED mergeable aggregate
    * ([[graft.functions.TopKAgg]]) as a streaming stateful aggregation —
    * the state-store entry per group is the k-capped buffer, never the
    * event history, so state is O(groups·k) regardless of stream length
    * (the running-leaderboard shape). Update mode re-emits a group's
    * buffer whenever a batch improves it; the sink replace-upserts the
    * exploded ranks keyed (event_type, rnk) — a group's rank count never
    * shrinks as data grows, so stale ranks cannot linger under replace.
    *
    * Events are staged as three event_id-residue slices replayed with
    * maxFilesPerTrigger=1, so the replay exercises real cross-batch state
    * merges; the result equals the one-shot batch top-k for ANY split
    * because the aggregate's merge is order-insensitive (spec-pinned by
    * TopKAggSpec). */
  def runStreamTopK(spark: SparkSession, dir: String, base: String,
                    k: Int): DataFrame = {
    val topk = graft.functions.TopKAgg.topK(k)
    updateMonitor(spark, eventSlices(spark, dir), base, Seq("event_type", "rnk"),
      Seq("event_id", "value"), perBatch = b => b
        .select(col("event_type"), posexplode(col("_top")).as(Seq("_i", "_s")))
        .select(col("event_type"), (col("_i") + 1).cast("long").as("rnk"),
          col("_s.id").as("event_id"), col("_s.score").as("value"))) { s =>
      s.groupBy(col("event_type"))
        .agg(topk(col("value"), col("event_id")).as("_top"))
    }
  }
}
