package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.pipeline.StatsPipeline
import graft.streaming.Streaming

/** SURVEY §5.3-5.4: the streaming/batch equivalence invariant — the final
  * stats table must be identical no matter how the input is split into
  * micro-batches (README.md:55-60 "arbitrarily late data still merges").
  * MemoryStream drives the same StatsPipeline transforms used in batch;
  * the sink is the idempotent upsert sink from [[Streaming]]. */
class StreamingParitySpec extends SparkSpec {

  private val W = 900000L

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def msgsDF(rows: Seq[(Long, String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("ts_ms", "channel", "username", "message")
      .withColumn("ts", timestamp_millis(col("ts_ms"))).drop("ts_ms")
  }

  private def hfs(path: String): org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)

  /** Batch ids in an additive sink's delta log. */
  private def deltaLog(state: String): Seq[Long] = {
    val d = new java.io.File(state + "/_delta")
    Option(d.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.matches("b\\d+")).map(_.drop(1).toLong).sorted
  }

  /** Drives an additive sink to a compaction batch: `CompactAt - 1`
    * zero-valued copies of `delta` fill the delta log from batch `from`
    * (so every total stays as the test states it), and `delta` itself is
    * the batch that folds them into the base. Returns that batch's id and
    * asserts the fold happened. Just before the compaction batch, the
    * state dir is copied to `beforeFold` when one is given. */
  private def compactWith(sink: Streaming.ParquetUpsertSink, state: String,
                          delta: DataFrame, value: String, from: Long,
                          beforeFold: Option[java.nio.file.Path] = None): Long = {
    val zero = delta.withColumn(value, lit(0L))
    (0 until Streaming.CompactAt - 1).foreach(i => sink.upsert(zero, from + i))
    assert(deltaLog(state).size === Streaming.CompactAt - 1)
    beforeFold.foreach(copyDir(java.nio.file.Paths.get(state), _))
    val id = from + Streaming.CompactAt - 1
    sink.upsert(delta, id)
    assert(deltaLog(state).isEmpty, "the compaction batch must fold the delta log")
    id
  }

  private def copyDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
    java.nio.file.Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

  private def deleteDir(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(java.nio.file.Files.delete(_))

  /** Put an additive sink's state dir back into the on-disk shape a crash
    * leaves when compaction batch `id` dies after swapping some leaves: the
    * leaves in `unswapped` (absent if the batch created them), the delta
    * log and both markers as they were before the batch (`beforeFold`),
    * and the batch's attempt marker. */
  private def crashMidCompaction(state: String, beforeFold: java.nio.file.Path,
                                 id: Long, unswapped: Seq[String] = Nil): Unit = {
    val dir = java.nio.file.Paths.get(state)
    (unswapped :+ "_delta").foreach { rel =>
      deleteDir(dir.resolve(rel))
      if (java.nio.file.Files.exists(beforeFold.resolve(rel)))
        copyDir(beforeFold.resolve(rel), dir.resolve(rel))
    }
    for (m <- Seq("_committed", "_folded")) {
      java.nio.file.Files.deleteIfExists(dir.resolve(m))
      java.nio.file.Files.deleteIfExists(dir.resolve(s".$m.crc"))
      if (java.nio.file.Files.exists(beforeFold.resolve(m)))
        java.nio.file.Files.copy(beforeFold.resolve(m), dir.resolve(m))
    }
    hfs(state).create(new org.apache.hadoop.fs.Path(state + s".attempt$id"), true).close()
  }

  test("update-mode stream over arbitrary micro-batches equals batch run") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val all = Seq(
      (1000L, "a", "u1", "m"), (2000L, "b", "u2", "m"),
      (900001L, "a", "u1", "m"), (1800001L, "a", "u3", "m"),
      (5000L, "a", "u9", "late"), // late for window [0, W) — arrives last
      (1800002L, "b", "u2", "m"))

    val ms = MemoryStream[(Long, String, String, String)]
    val stream = ms.toDF()
      .toDF("ts_ms", "channel", "username", "message")
      .withColumn("ts", timestamp_millis(col("ts_ms"))).drop("ts_ms")

    val base = tmp("graft-parity")
    val sink = new Streaming.ParquetUpsertSink(base + "/state",
      Seq("channel", "ts"), Seq("messages"), additive = false)
    val q = StatsPipeline.channelStats(stream, W).writeStream
      .outputMode("update")
      .option("checkpointLocation", base + "/ckpt")
      .foreachBatch { (b: DataFrame, id: Long) => sink.upsert(b, id) }
      .start()
    // three arbitrary micro-batches, late row in the last one
    ms.addData(all.take(2)); q.processAllAvailable()
    ms.addData(all.slice(2, 4)); q.processAllAvailable()
    ms.addData(all.drop(4)); q.processAllAvailable()
    q.stop()

    val streamed = spark.read.parquet(base + "/state")
    val batch = StatsPipeline.channelStats(msgsDF(all), W)
    assertSameRows(streamed, batch)
  }

  test("upsert sink is idempotent under batch replay") {
    import spark.implicits._
    val base = tmp("graft-idem")
    val sink = new Streaming.ParquetUpsertSink(base + "/state",
      Seq("k"), Seq("v"), additive = true)
    val b0 = Seq(("x", 1L), ("y", 2L)).toDF("k", "v")
    sink.upsert(b0, 0L)
    sink.upsert(b0, 0L) // replay of a committed batch must be a no-op
    val b1 = Seq(("x", 10L)).toDF("k", "v")
    sink.upsert(b1, 1L)
    sink.upsert(b1, 1L)
    assert(rows(sink.state(spark).get) ===
      Set(Seq("x", 11L), Seq("y", 2L)))
  }

  test("upsert sink touches only delta partitions (partition-pruned swap)") {
    import spark.implicits._
    val base = tmp("graft-ppu")
    val sink = new Streaming.ParquetUpsertSink(base + "/state",
      Seq("channel", "ts"), Seq("messages"), additive = false)
    sink.upsert(Seq(("a", 1L, 10L), ("b", 1L, 20L), ("c", 1L, 5L))
      .toDF("channel", "ts", "messages"), 0L)

    def listing(ch: String): Set[(String, Long, Long)] = {
      val d = new java.io.File(base + s"/state/channel=$ch")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified(), f.length())).toSet
    }
    val bBefore = listing("b")
    val cBefore = listing("c")
    Thread.sleep(1100) // cross mtime granularity so an illegal rewrite shows
    sink.upsert(Seq(("a", 2L, 30L)).toDF("channel", "ts", "messages"), 1L)

    // The 1-channel delta must leave the other partitions' files untouched:
    // same names, same mtimes, same sizes.
    assert(listing("b") === bBefore)
    assert(listing("c") === cBefore)
    assert(rows(sink.state(spark).get) === Set(
      Seq("a", 1L, 10L), Seq("a", 2L, 30L), Seq("b", 1L, 20L), Seq("c", 1L, 5L)))
  }

  test("time-bucketed sink: a new-window delta leaves the SAME channel's old bucket untouched") {
    import spark.implicits._
    val base = tmp("graft-tsb")
    // 100 ms buckets: ts 5 and 95 land in bucket 0, ts 205 in bucket 2.
    val sink = new Streaming.ParquetUpsertSink(base + "/state",
      Seq("channel", "ts"), Seq("messages"), additive = false,
      tsBucket = Some(("ts", 100L)))
    sink.upsert(Seq(("a", 5L, 10L), ("a", 95L, 11L), ("b", 5L, 20L))
      .toDF("channel", "ts", "messages"), 0L)

    def listing(rel: String): Set[(String, Long, Long)] = {
      val d = new java.io.File(base + s"/state/$rel")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified(), f.length())).toSet
    }
    val aOldBucket = listing("channel=a/ts_bucket=0")
    val bBucket = listing("channel=b/ts_bucket=0")
    assert(aOldBucket.nonEmpty && bBucket.nonEmpty)
    Thread.sleep(1100) // cross mtime granularity so an illegal rewrite shows
    sink.upsert(Seq(("a", 205L, 30L)).toDF("channel", "ts", "messages"), 1L)

    // Channel a WAS touched, but only its current time bucket may be
    // rewritten: the old bucket of the same channel (and all of b) must
    // keep identical files. This is the O(delta) rewrite property — a hot
    // channel's history is never rewritten per micro-batch.
    assert(listing("channel=a/ts_bucket=0") === aOldBucket)
    assert(listing("channel=b/ts_bucket=0") === bBucket)
    assert(new java.io.File(base + "/state/channel=a/ts_bucket=2").exists())
    assert(rows(sink.state(spark).get) === Set(
      Seq("a", 5L, 10L), Seq("a", 95L, 11L), Seq("a", 205L, 30L),
      Seq("b", 5L, 20L)))

    // Replace semantics still work WITHIN a bucket across batches.
    sink.upsert(Seq(("a", 95L, 99L)).toDF("channel", "ts", "messages"), 2L)
    assert(rows(sink.state(spark).get) === Set(
      Seq("a", 5L, 10L), Seq("a", 95L, 99L), Seq("a", 205L, 30L),
      Seq("b", 5L, 20L)))
  }

  test("epoch probe: ZERO listings on the normal path, even with ~100 partitions") {
    import spark.implicits._
    val base = tmp("graft-probe")
    val sink = new Streaming.ParquetUpsertSink(base + "/state",
      Seq("k"), Seq("v"), additive = true)
    val many = (0 until 100).map(i => (s"k$i", 1L))
    sink.upsert(many.toDF("k", "v"), 0L) // initial write: no probe needed
    val before = Streaming.epochProbeListings.get()
    // The compaction batch swaps all 100 partitions.
    val c = compactWith(sink, base + "/state", many.toDF("k", "v"), "v", 1L)
    assert(Streaming.epochProbeListings.get() - before === 0L,
      "an uncrashed upsert must never probe epochs (no listings, no reads)")
    // And the attempt marker does not linger after a committed batch.
    assert(!new java.io.File(base + s"/state.attempt$c").exists())
    assert(rows(sink.state(spark).get.filter(col("k") === "k42")) ===
      Set(Seq("k42", 2L)))
  }

  test("above MaxLiteralPartitions the touched filter still merges correctly (semi-join path)") {
    import spark.implicits._
    val n = Streaming.MaxLiteralPartitions + 44 // 300 partitions
    val base = tmp("graft-semij")
    val sink = new Streaming.ParquetUpsertSink(base + "/state",
      Seq("k"), Seq("v"), additive = true)
    val many = (0 until n).map(i => (s"k$i", 1L))
    sink.upsert(many.toDF("k", "v"), 0L)
    // The compaction touches all of them: > threshold → broadcast semi-join.
    compactWith(sink, base + "/state", many.toDF("k", "v"), "v", 1L)
    val st = sink.state(spark).get
    assert(st.count() === n.toLong)
    assert(rows(st.filter(col("k").isin("k0", s"k${n - 1}"))) ===
      Set(Seq("k0", 2L), Seq(s"k${n - 1}", 2L)))
  }

  test("semi-join fallback works on a TIME-BUCKETED sink (delta long vs inferred int bucket type)") {
    import spark.implicits._
    // 30 channels × 10 buckets = 300 touched tuples > MaxLiteralPartitions:
    // the broadcast semi-join path must survive the state side reading the
    // bucket partition column back as INT while the delta's is LONG.
    val base = tmp("graft-semibkt")
    val sink = new Streaming.ParquetUpsertSink(base + "/state",
      Seq("channel", "ts"), Seq("messages"), additive = true,
      tsBucket = Some(("ts", 100L)))
    val rows300 = for { c <- 0 until 30; b <- 0 until 10 }
      yield (s"c$c", b * 100L + 5L, 1L)
    sink.upsert(rows300.toDF("channel", "ts", "messages"), 0L)
    compactWith(sink, base + "/state", rows300.toDF("channel", "ts", "messages"),
      "messages", 1L)
    val st = sink.state(spark).get
    assert(st.count() === 300L)
    assert(rows(st.filter(col("channel") === "c7" && col("ts") === 305L)) ===
      Set(Seq("c7", 305L, 2L)))
  }

  test("crash replay with hive-escaped partition values never double-adds") {
    import spark.implicits._
    // ':' is hive-escaped in dir names (channel=a%3Ab); the epoch lookup
    // must render the same escaping or the replay re-merges a partition
    // that was already swapped.
    val base = tmp("graft-esc")
    val sink = new Streaming.ParquetUpsertSink(base + "/state",
      Seq("channel", "ts"), Seq("messages"), additive = true)
    sink.upsert(Seq(("a:b", 1L, 10L)).toDF("channel", "ts", "messages"), 0L)
    val snap = java.nio.file.Paths.get(base, "before-fold")
    val c = compactWith(sink, base + "/state",
      Seq(("a:b", 1L, 1L)).toDF("channel", "ts", "messages"), "messages", 1L,
      Some(snap))
    assert(rows(sink.state(spark).get) === Set(Seq("a:b", 1L, 11L)))
    assert(new java.io.File(base + "/state/channel=a%3Ab").isDirectory)

    // Crash after the compaction's swap, before `_folded` and `_committed`
    // advance: the swapped leaf carries the batch epoch, the deltas are
    // still logged.
    crashMidCompaction(base + "/state", snap, c)
    sink.upsert(Seq(("a:b", 1L, 1L)).toDF("channel", "ts", "messages"), c)
    assert(rows(sink.state(spark).get) === Set(Seq("a:b", 1L, 11L)),
      "escaped-dir epoch must be recognized: replay may not double-add")
  }

  test("null-safe partition predicates still prune at the scan (PartitionFilters)") {
    import spark.implicits._
    // The sink's literal touched-filter uses <=> (null-safe equality);
    // partition pruning must still turn it into PartitionFilters, or the
    // state scan would open every partition.
    val base = tmp("graft-prune")
    Seq(("a", 1L, 10L), ("b", 1L, 20L), ("c", 1L, 5L))
      .toDF("channel", "ts", "messages")
      .write.partitionBy("channel").parquet(base + "/t")
    val pruned = spark.read.parquet(base + "/t")
      .filter(col("channel") <=> lit("a") || col("channel") <=> lit("b"))
    val scan = pruned.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("channel"),
      s"null-safe equality must land in PartitionFilters:\n$scan")
    assert(pruned.count() === 2L)
  }

  test("AppendOnceSink: a replayed batch is appended at most once") {
    import spark.implicits._
    val base = tmp("graft-apponce")
    val sink = new Streaming.AppendOnceSink(base + "/log")
    val b0 = Seq("h1", "h2").toDF("content_hash")
    sink.append(b0, 0L)
    sink.append(b0, 0L) // crash-replay of a committed batch
    sink.append(Seq("h3").toDF("content_hash"), 1L)
    val log = spark.read.parquet(base + "/log")
    assert(log.count() === 3L)
    assert(rows(log) === Set(Seq("h1"), Seq("h2"), Seq("h3")))
  }

  test("scd2BatchStep: snapshot+pointer dimension — replay skipped, pre-flip crash rebuilds the same version, readers always see a complete snapshot") {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileSystem, Path}
    val NOW = 1000L
    val base = tmp("graft-scd2stream")
    val dim = base + "/dim"
    def batch(rows: (Long, Long, Long, String)*): DataFrame =
      rows.toSeq.toDF("event_id", "ts_ms", "user_id", "event_type")
        .withColumn("ts", timestamp_millis(col("ts_ms"))).drop("ts_ms")
    val b0 = batch((1L, 10L, 1L, "a"), (2L, 20L, 1L, "b"))
    val b1 = batch((3L, 30L, 1L, "b"), (4L, 40L, 1L, "c"))
    Streaming.scd2BatchStep(dim, b0, 0L, NOW)
    Streaming.scd2BatchStep(dim, b1, 1L, NOW)
    val after = sortedRows(spark.read.parquet(dim + "/v1"))
    // Replayed batch: no-op.
    Streaming.scd2BatchStep(dim, b1, 1L, NOW)
    assert(sortedRows(spark.read.parquet(dim + "/v1")) === after)
    // Crash window: v1 written but pointer still at v0 → the replay
    // overwrites v1 and flips — same end state.
    val f = FileSystem.get(new java.net.URI(dim),
      spark.sparkContext.hadoopConfiguration)
    val ptr = new Path(dim, "_current")
    val out = f.create(ptr, true)
    try out.write("0".getBytes("UTF-8")) finally out.close()
    Streaming.scd2BatchStep(dim, b1, 1L, NOW)
    assert(sortedRows(spark.read.parquet(dim + "/v1")) === after)
    // The merged history equals the one-shot build over both batches.
    val oneShot = graft.operators.Scd.scd2(b0.unionByName(b1), "user_id",
      "event_type", unix_millis(col("ts")), "event_id", NOW)
    assert(after === sortedRows(oneShot))
    // The PREVIOUS snapshot survives each step (in-flight reader safety):
    // after step 1 both v0 and v1 exist.
    assert(f.exists(new Path(dim, "v0")) && f.exists(new Path(dim, "v1")))
    // A third step retires everything older than the previous version.
    Streaming.scd2BatchStep(dim, batch((5L, 50L, 1L, "d")), 2L, NOW)
    assert(!f.exists(new Path(dim, "v0")) && f.exists(new Path(dim, "v1")) &&
      f.exists(new Path(dim, "v2")))
  }

  test("cdcBatchStep: state converges to the one-shot collapse; replay and pre-flip crash are no-ops; tombstones persist") {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileSystem, Path}
    val base = tmp("graft-cdcstream")
    val st = base + "/state"
    def batch(rows: (Long, String, String, Double, Long, Long)*): DataFrame =
      rows.toSeq.toDF("user_id", "op", "last_type", "value", "ts", "event_id")
    val b0 = batch((1L, "U", "U", 1.0, 10L, 1L), (2L, "U", "U", 2.0, 20L, 2L))
    val b1 = batch((1L, "D", "D", 0.0, 30L, 3L), (3L, "U", "U", 3.0, 40L, 4L))
    Streaming.cdcBatchStep(st, b0, 0L)
    Streaming.cdcBatchStep(st, b1, 1L)
    val after = sortedRows(spark.read.parquet(st + "/v1"))
    // Replayed batch: no-op.
    Streaming.cdcBatchStep(st, b1, 1L)
    assert(sortedRows(spark.read.parquet(st + "/v1")) === after)
    // Pre-flip crash: pointer back at v0, replay rebuilds the same v1.
    val f = FileSystem.get(new java.net.URI(st),
      spark.sparkContext.hadoopConfiguration)
    val out = f.create(new Path(st, "_current"), true)
    try out.write("0".getBytes("UTF-8")) finally out.close()
    Streaming.cdcBatchStep(st, b1, 1L)
    assert(sortedRows(spark.read.parquet(st + "/v1")) === after)
    // State == one-shot collapse over both batches; user 1's tombstone is
    // IN the state (a row with op = D), filtered only at read time.
    assert(after === sortedRows(graft.operators.Merge.collapseChangeLog(
      b0.unionByName(b1), Seq("user_id"), Seq("ts", "event_id"))))
    val s1 = spark.read.parquet(st + "/v1")
    assert(s1.filter($"user_id" === 1L && $"op" === "D").count() === 1L)
    assert(s1.filter($"op" =!= "D").count() === 2L) // users 2 and 3 live
  }

  test("AppendOnceSink: crash between file move and marker write replays without duplicates (ADVICE r6)") {
    import spark.implicits._
    val base = tmp("graft-apponce2")
    val path = base + "/log"
    val sink = new Streaming.AppendOnceSink(path)
    sink.append(Seq("h1", "h2").toDF("content_hash"), 0L)
    // Simulate the crashed attempt of batch 1: its files were moved into
    // place but the marker was never advanced — exactly the window the old
    // bare mode("append") turned into a duplicate batch.
    sink.append(Seq("h3", "h4").toDF("content_hash"), 1L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(path + ".committed")
    val out = fs.create(marker, true)
    try out.write("0".getBytes("UTF-8")) finally out.close() // rewind marker
    sink.append(Seq("h3", "h4").toDF("content_hash"), 1L)   // replay
    val log = spark.read.parquet(path)
    assert(log.count() === 4L, "replayed batch must overwrite, not re-append")
    assert(rows(log) === Set(Seq("h1"), Seq("h2"), Seq("h3"), Seq("h4")))
  }

  test("partial mid-swap crash: only a subset of partitions carry the new epoch; replay completes the rest exactly once") {
    import spark.implicits._
    val base = tmp("graft-partial")
    val sink = new Streaming.ParquetUpsertSink(base + "/state",
      Seq("channel", "ts"), Seq("messages"), additive = true)
    sink.upsert(Seq(("a", 1L, 10L), ("b", 1L, 5L))
      .toDF("channel", "ts", "messages"), 0L)

    // Snapshot the state dir BEFORE the compaction batch (partition b
    // still carrying _epoch_0, the fillers still logged).
    val snap = java.nio.file.Paths.get(base, "before-fold")
    val c = compactWith(sink, base + "/state", Seq(("a", 1L, 1L), ("b", 1L, 2L))
      .toDF("channel", "ts", "messages"), "messages", 1L, Some(snap))
    val afterB1 = rows(sink.state(spark).get)
    assert(afterB1 === Set(Seq("a", 1L, 11L), Seq("b", 1L, 7L)))

    // Simulate a crash MID-swap-loop of the compaction batch: partition a
    // was swapped (carries the batch's epoch) but partition b was not
    // (restore its batch-0 content + _epoch_0), the deltas are still
    // logged, and neither `_folded` nor `_committed` advanced. A crash
    // mid-swap leaves the batch's attempt marker behind — that is what
    // tells the replay to probe epochs at all.
    crashMidCompaction(base + "/state", snap, c, unswapped = Seq("channel=b"))
    assert(rows(sink.state(spark).get) ===
      Set(Seq("a", 1L, 11L), Seq("b", 1L, 5L))) // the torn on-disk state

    // Replay of the batch must apply ONLY to b (a's epoch says done):
    // exactly-once completion, no double-add on a — and the epoch probe
    // runs exactly ONCE (one recursive listing), not per partition.
    val probesBefore = Streaming.epochProbeListings.get()
    sink.upsert(Seq(("a", 1L, 1L), ("b", 1L, 2L))
      .toDF("channel", "ts", "messages"), c)
    assert(Streaming.epochProbeListings.get() - probesBefore === 1L)
    assert(rows(sink.state(spark).get) === afterB1)

    // And the next batch still applies normally.
    sink.upsert(Seq(("b", 1L, 100L)).toDF("channel", "ts", "messages"), c + 1)
    assert(rows(sink.state(spark).get) ===
      Set(Seq("a", 1L, 11L), Seq("b", 1L, 107L)))
  }

  test("crash mid-swap replay: additive partitions never double-apply (epochs)") {
    import spark.implicits._
    val base = tmp("graft-epoch")
    val sink = new Streaming.ParquetUpsertSink(base + "/state",
      Seq("channel", "ts"), Seq("messages"), additive = true)
    sink.upsert(Seq(("a", 1L, 10L), ("b", 1L, 5L))
      .toDF("channel", "ts", "messages"), 0L)
    val snap = java.nio.file.Paths.get(base, "before-fold")
    val c = compactWith(sink, base + "/state", Seq(("a", 1L, 1L), ("b", 1L, 2L))
      .toDF("channel", "ts", "messages"), "messages", 1L, Some(snap))
    val afterB1 = rows(sink.state(spark).get)
    assert(afterB1 === Set(Seq("a", 1L, 11L), Seq("b", 1L, 7L)))

    // Simulate a crash AFTER the compaction's partition swaps but BEFORE
    // the `_folded` and global `_committed` writes: the deltas are still
    // logged and the markers are back where they were (a crashed attempt
    // leaves its marker). The partition dirs carry the batch's epoch, so
    // the replay must skip them — without epochs this replay would
    // double-add (a -> 12, b -> 9).
    crashMidCompaction(base + "/state", snap, c)
    sink.upsert(Seq(("a", 1L, 1L), ("b", 1L, 2L))
      .toDF("channel", "ts", "messages"), c)
    assert(rows(sink.state(spark).get) === afterB1)

    // And a genuinely new batch still applies normally afterwards.
    sink.upsert(Seq(("a", 1L, 100L)).toDF("channel", "ts", "messages"), c + 1)
    assert(rows(sink.state(spark).get) ===
      Set(Seq("a", 1L, 111L), Seq("b", 1L, 7L)))
  }

  test("additive upsert writes O(delta): the bytes of one batch do not grow with history") {
    import spark.implicits._
    val delta = (0 until 8).map(c => (s"c$c", s"e${c % 3}", 1L))
      .toDF("channel", "emote", "occurrences")
    def written(history: Int): Long = {
      val state = tmp("graft-odelta") + "/state"
      val sink = new Streaming.ParquetUpsertSink(state, Seq("channel", "emote"),
        Seq("occurrences"), additive = true)
      sink.upsert((0 until 2000 * history).map(i => (s"c${i % 8}", s"e$i", 1L))
        .toDF("channel", "emote", "occurrences"), 0L)
      def dataFiles: Map[String, Long] = {
        val it = java.nio.file.Files.walk(java.nio.file.Paths.get(state)).iterator()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .filter(p => p.getFileName.toString.startsWith("part-"))
          .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      }
      val before = dataFiles
      sink.upsert(delta, 1L)
      assert(rows(sink.state(spark).get.filter(col("emote") === "e1")) ===
        Set(Seq("c1", "e1", 2L), Seq("c4", "e1", 1L), Seq("c7", "e1", 1L)))
      dataFiles.filter { case (f, _) => !before.contains(f) }.values.sum
    }
    val one = written(1)
    val four = written(4)
    assert(one > 0 && math.abs(four - one) <= one / 10,
      s"one batch wrote $one B over 1x history and $four B over 4x history")
  }

  test("crash between the delta rename and _committed: the replay never double-counts") {
    import spark.implicits._
    val state = tmp("graft-dcrash") + "/state"
    val sink = new Streaming.ParquetUpsertSink(state, Seq("k"), Seq("v"), additive = true)
    sink.upsert(Seq(("x", 1L), ("y", 2L)).toDF("k", "v"), 0L)
    val b1 = Seq(("x", 10L)).toDF("k", "v")
    sink.upsert(b1, 1L)
    assert(rows(sink.state(spark).get) === Set(Seq("x", 11L), Seq("y", 2L)))

    // The crashed attempt logged its delta but never advanced `_committed`.
    val out = hfs(state).create(new org.apache.hadoop.fs.Path(state + "/_committed"), true)
    out.write("0".getBytes("UTF-8")); out.close()
    assert(deltaLog(state) === Seq(1L))
    assert(rows(sink.state(spark).get) === Set(Seq("x", 1L), Seq("y", 2L)),
      "a logged delta stays invisible until its batch commits")

    sink.upsert(b1, 1L) // the replay overwrites the logged delta
    assert(deltaLog(state) === Seq(1L))
    assert(rows(sink.state(spark).get) === Set(Seq("x", 11L), Seq("y", 2L)))
    sink.upsert(Seq(("y", 5L)).toDF("k", "v"), 2L)
    assert(rows(sink.state(spark).get) === Set(Seq("x", 11L), Seq("y", 7L)))
  }

  test("crash mid-compaction: the next upsert completes the fold, state equals the one-shot sum") {
    import spark.implicits._
    val base = tmp("graft-foldcrash")
    val state = base + "/state"
    val sink = new Streaming.ParquetUpsertSink(state, Seq("channel", "ts"),
      Seq("messages"), additive = true, tsBucket = Some(("ts", 100L)))
    val rnd = new scala.util.Random(7)
    val batches = (0 to Streaming.CompactAt).map { _ =>
      (0 until 40).map(_ => (s"c${rnd.nextInt(4)}", rnd.nextInt(600).toLong,
        1L + rnd.nextInt(9))).toDF("channel", "ts", "messages")
        .groupBy("channel", "ts").agg(sum("messages").as("messages"))
    }
    val c = Streaming.CompactAt.toLong
    batches.init.zipWithIndex.foreach { case (b, i) => sink.upsert(b, i.toLong) }
    val snap = java.nio.file.Paths.get(base, "before-fold")
    copyDir(java.nio.file.Paths.get(state), snap)
    sink.upsert(batches.last, c)
    assert(deltaLog(state).isEmpty)

    // Every second leaf of the folded table goes back to its pre-fold
    // content (or away, if the fold created it); the others keep the
    // batch's epoch.
    val leaves = for {
      ch <- new java.io.File(state).listFiles().toSeq if ch.getName.startsWith("channel=")
      b <- ch.listFiles().toSeq if b.getName.startsWith("ts_bucket=")
    } yield s"${ch.getName}/${b.getName}"
    val unswapped = leaves.sorted.zipWithIndex.collect { case (l, i) if i % 2 == 0 => l }
    assert(unswapped.nonEmpty && unswapped.size < leaves.size)
    crashMidCompaction(state, snap, c, unswapped)

    val probesBefore = Streaming.epochProbeListings.get()
    sink.upsert(batches.last, c)
    assert(Streaming.epochProbeListings.get() - probesBefore === 1L)
    assert(deltaLog(state).isEmpty && !new java.io.File(state + s".attempt$c").exists())
    val oneShot = batches.reduce(_ unionByName _).groupBy("channel", "ts")
      .agg(sum("messages").cast("long").as("messages"))
    assertSameRows(sink.state(spark).get, oneShot)
  }

  test("read-your-writes across commits: state equals the oracle; a superseded snapshot is unpersisted") {
    import spark.implicits._
    val state = tmp("graft-ryw") + "/state"
    val sink = new Streaming.ParquetUpsertSink(state, Seq("k"), Seq("v"), additive = true)
    val rnd = new scala.util.Random(11)
    val total = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var prev: Option[DataFrame] = None
    for (id <- 0L to Streaming.CompactAt + 2L) {
      val b = (0 until 10).map(i => (s"k$i", rnd.nextInt(5).toLong)).filter(_._2 > 0)
      sink.upsert(b.toDF("k", "v"), id)
      b.foreach { case (k, v) => total(k) += v }
      prev.foreach(p => assert(p.storageLevel ===
        org.apache.spark.storage.StorageLevel.NONE, s"snapshot kept after batch $id"))
      val st = sink.state(spark).get
      assert(rows(st) === total.map { case (k, v) => Seq(k, v) }.toSet, s"batch $id")
      if (deltaLog(state).nonEmpty) {
        assert(st.storageLevel === org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        assert(sink.state(spark).get eq st, "reads before the next commit reuse the snapshot")
      }
      prev = Some(st)
    }
  }

  test("replace-mode upsert on existing state leaves no persisted RDD behind") {
    import spark.implicits._
    val sink = new Streaming.ParquetUpsertSink(tmp("graft-replpersist") + "/state",
      Seq("channel", "ts"), Seq("messages"), additive = false)
    sink.upsert(Seq(("a", 1L, 10L), ("b", 1L, 5L)).toDF("channel", "ts", "messages"), 0L)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    sink.upsert(Seq(("a", 1L, 3L)).toDF("channel", "ts", "messages"), 1L)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after.size <= before.size && (after -- before).isEmpty,
      s"the merge left persisted RDDs ${after -- before}")
    assert(rows(sink.state(spark).get) === Set(Seq("a", 1L, 3L), Seq("b", 1L, 5L)))
  }

  test("events later than the watermark are dropped (documented divergence)") {
    // The reference never evicts state (noWatermarks(),
    // EmoteAnalyser.java:73-74): arbitrarily late events still merge via
    // additive upsert. Spark's watermark bounds state instead: an event
    // whose window is entirely below the watermark is dropped in update
    // mode. This pins that divergence (mitigated in production by the
    // generous 24 h default in Streaming.runChannelStats).
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, String, String)]
    val stream = ms.toDF()
      .toDF("ts_ms", "channel", "username", "message")
      .withColumn("ts", timestamp_millis(col("ts_ms"))).drop("ts_ms")

    val base = tmp("graft-wm")
    val sink = new Streaming.ParquetUpsertSink(base + "/state",
      Seq("channel", "ts"), Seq("messages"), additive = false)
    val q = StatsPipeline.channelStats(stream.withWatermark("ts", "0 seconds"), W)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", base + "/ckpt")
      .foreachBatch { (b: DataFrame, id: Long) => sink.upsert(b, id) }
      .start()
    // Batch 1 advances the watermark to 10*W; batch 2's event belongs to
    // window [0, W), far below it → dropped, never reaches the sink.
    ms.addData((10 * W, "a", "u1", "m")); q.processAllAvailable()
    ms.addData((1000L, "a", "u2", "late-beyond-watermark")); q.processAllAvailable()
    q.stop()

    assert(rows(sink.state(spark).get) === Set(Seq("a", 11 * W, 1L)))
  }

  test("T2: emote dictionary refreshed per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    @volatile var dictWords = Seq("Kappa")
    def dict(): DataFrame = dictWords.toDF("emote")

    val ms = MemoryStream[(String, String, String)]
    val stream = ms.toDF().toDF("channel", "username", "text")

    val base = tmp("graft-dict")
    val sink = new Streaming.ParquetUpsertSink(base + "/state",
      Seq("channel", "emote"), Seq("occurrences"), additive = true)
    val q = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", base + "/ckpt")
      .foreachBatch { (b: DataFrame, id: Long) =>
        sink.upsert(StatsPipeline.emoteStats(
          StatsPipeline.extractEmotes(b, dict())), id)
      }
      .start()
    ms.addData(("c", "u", "Kappa Pog")); q.processAllAvailable()
    dictWords = Seq("Kappa", "Pog") // dict update between micro-batches
    ms.addData(("c", "u", "Kappa Pog")); q.processAllAvailable()
    q.stop()

    // Pog was only in the dict for the second batch → counted once.
    assert(rows(sink.state(spark).get) ===
      Set(Seq("c", "Kappa", 2L), Seq("c", "Pog", 1L)))
  }

  test("file-stream replay at sf0.001 equals batch channel stats") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-replay")
    val streamed = Streaming.runChannelStats(spark, dir, base + "/state", W)
    val batch = StatsPipeline.channelStats(Tables.messages(spark, dir), W)
    assertSameRows(streamed, batch)
  }

  test("restart-resume: a second run over the same checkpoint processes only new files") {
    import spark.implicits._
    // Simulates a stopped-and-restarted production job: run 1 drains file A
    // (AvailableNow), the job exits; file B lands; run 2 resumes from the
    // SAME checkpoint and sink. The aggregation state rides the checkpoint
    // across the restart, so a window updated by B's late row re-emits its
    // ABSOLUTE count (including A's contribution) and the replace-upsert
    // converges to exactly the batch result over A ∪ B.
    val base = tmp("graft-restart")
    val landing = new java.io.File(base + "/landing"); landing.mkdirs()
    val a = Seq((1000L, "a", "u1", "m"), (2000L, "b", "u2", "m"))
    val b = Seq((900001L, "a", "u1", "m"), (3000L, "a", "u3", "late"))
    def land(rows: Seq[(Long, String, String, String)], name: String): Unit =
      msgsDF(rows).coalesce(1).write.mode("overwrite")
        .parquet(base + s"/stage-$name")
        .ensuring { _ =>
          val f = new java.io.File(base + s"/stage-$name").listFiles()
            .find(_.getName.endsWith(".parquet")).get
          java.nio.file.Files.copy(f.toPath,
            new java.io.File(landing, s"$name.parquet").toPath)
          true
        }
    val sink = new Streaming.ParquetUpsertSink(base + "/state",
      Seq("channel", "ts"), Seq("messages"), additive = false,
      tsBucket = Some(("ts", Streaming.DayMillis)))
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(msgsDF(a).schema)
        .parquet(landing.toString)
      val q = StatsPipeline.channelStats(stream, W).writeStream
        .outputMode("update")
        .option("checkpointLocation", base + "/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (d: DataFrame, id: Long) => sink.upsert(d, id) }
        .start()
      q.awaitTermination()
    }
    land(a, "a"); runOnce()
    land(b, "b"); runOnce()
    assertSameRows(sink.state(spark).get,
      StatsPipeline.channelStats(msgsDF(a ++ b), W))
  }

  test("five-branch job: all stat grains run concurrently and match their batch twins") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-allstats")
    val out = Streaming.runAllStats(spark, dir, base, W,
      () => Tables.emoteDict(spark, dir), () => Tables.phrases)

    val msgs = Tables.messages(spark, dir)
    val docs = Tables.documents(spark, dir).select(
      col("lang").as("channel"), col("source").as("username"), col("text"))
    val emotes = StatsPipeline.extractEmotes(docs, Tables.emoteDict(spark, dir))
    assertSameRows(out("channel"), StatsPipeline.channelStats(msgs, W))
    assertSameRows(out("user"), StatsPipeline.userStats(msgs, W))
    assertSameRows(out("emote"), StatsPipeline.emoteStats(emotes))
    assertSameRows(out("user_emote"), StatsPipeline.userEmoteStats(emotes))
    assertSameRows(out("phrase"), StatsPipeline.phraseStats(
      StatsPipeline.matchPhrases(docs.drop("username"), Tables.phrases, "text")))
  }

  test("S6: matched-message log sink appends logged phrases only") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val phrases = Seq(
      Tables.Phrase("A", "foo", None, logMessage = true),
      Tables.Phrase("B", "bar", None, logMessage = false))
    val ms = MemoryStream[(String, String, String)]
    val stream = ms.toDF().toDF("channel", "username", "text")
    val base = tmp("graft-s6")
    ms.addData(("c", "u", "foo bar"), ("c", "u", "bar only"))
    val log = Streaming.runMatchedMessageLog(spark, stream, phrases, "text",
      base + "/log")
    assert(rows(log.select(col("phrase_name"), col("text"))) ===
      Set(Seq("A", "foo bar")))
  }

  test("bounded streaming dedup: in-horizon duplicates drop, state evicts past the horizon") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val deduped = ms.toDF().toDF("k", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms"))).drop("ts_ms")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("k")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_wm").start()

    // Batch 1: three keys, one IN-HORIZON duplicate of 'a' — dropped.
    ms.addData(("a", 100000L), ("b", 101000L), ("a", 102000L), ("c", 103000L))
    q.processAllAvailable()
    assert(spark.table("dedup_wm").count() === 3)

    // Two far-future events: the first advances the watermark past every
    // batch-1 expiry (ts + 10 s), the second's batch applies the eviction.
    ms.addData(("z", 200000L)); q.processAllAvailable()
    ms.addData(("y", 201000L)); q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    assert(stateRows < 5,
      s"state must evict beyond-horizon keys (a,b,c), found $stateRows rows")

    // 'a' re-sent BEYOND the horizon is a fresh key: state was evicted, so
    // it re-emits — the documented bounded-lifetime semantics.
    ms.addData(("a", 202000L)); q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_wm").select(col("k")).as[String].collect()
    assert(out.count(_ == "a") === 2)
    assert(out.length === 6)
    spark.sql("DROP TABLE IF EXISTS dedup_wm")
  }

  test("matched-message log: crash-replayed batch never duplicates log rows") {
    import spark.implicits._
    val base = tmp("graft-s6-replay")
    Seq(("c", "u", "foo bar"), ("c", "u", "no match"), ("d", "v", "foo again"))
      .toDF("channel", "username", "text").write.parquet(base + "/in")
    val phrases = Seq(Tables.Phrase("A", "foo", None, logMessage = true))
    def stream = spark.readStream
      .schema("channel STRING, username STRING, text STRING")
      .parquet(base + "/in")
    val first = sortedRows(Streaming.runMatchedMessageLog(
      spark, stream, phrases, "text", base + "/log"))
    assert(first.size === 2)
    // Crash after the sink committed its marker but before the checkpoint
    // commit: the restart replays the batch; the AppendOnceSink must no-op.
    rollbackLastCommit(base + "/log.ckpt")
    val second = sortedRows(Streaming.runMatchedMessageLog(
      spark, stream, phrases, "text", base + "/log"))
    assert(second === first, "replayed batch duplicated matched-log rows")
  }

  test("stream-stream join: crash-replayed batch never duplicates attributions") {
    val base = tmp("graft-s11-replay")
    val first = sortedRows(Streaming.runClickAttribution(
      spark, "/root/testdata/sf0.001", base + "/attr", "24 hours"))
    assert(first.nonEmpty)
    // Crash between the sink's marker commit and the checkpoint commit:
    // the restart replays the final batch through BOTH join state stores;
    // the AppendOnceSink must swallow the replay.
    rollbackLastCommit(base + "/attr.ckpt")
    val second = sortedRows(Streaming.runClickAttribution(
      spark, "/root/testdata/sf0.001", base + "/attr", "24 hours"))
    assert(second === first, "replayed batch duplicated attributions")
  }

  test("streaming near-dup: crash-replayed batch duplicates neither pairs nor index effects") {
    val base = tmp("graft-s12-replay")
    val first = sortedRows(Streaming.runStreamNearDup(
      spark, "/root/testdata/sf0.001", base + "/nd"))
    assert(first.nonEmpty)
    // Crash between the pairs marker and the checkpoint commit: the
    // restart replays the last micro-batch; committedBatch must skip the
    // whole body (no pair re-append, no fourth index append).
    rollbackLastCommit(base + "/nd/ckpt")
    val second = sortedRows(Streaming.runStreamNearDup(
      spark, "/root/testdata/sf0.001", base + "/nd"))
    assert(second === first, "replayed batch duplicated near-dup pairs")
  }

  test("streaming incremental clusters: equals the one-shot rebuild; crash replay leaves labels intact") {
    val base = tmp("graft-s40-replay")
    val first = sortedRows(Streaming.runStreamIncrementalClusters(
      spark, "/root/testdata/sf0.001", base + "/ic"))
    assert(first.nonEmpty)
    // Streamed fold == one-shot batch clusters (the split-equivalence law
    // end-to-end, with the real micro-batch machinery in the loop).
    val oneShot = sortedRows(graft.operators.Dedup.nearDupClusters(
      graft.Tables.documents(spark, "/root/testdata/sf0.001"),
      "doc_id", "text", 3, 0.8))
    assert(first === oneShot)
    // Crash between pointer flip and checkpoint commit: the restart
    // replays the last micro-batch; the pointer-as-marker must drain it
    // (no index re-append, no snapshot churn) and the labels read back
    // identical.
    rollbackLastCommit(base + "/ic/ckpt")
    val second = sortedRows(Streaming.runStreamIncrementalClusters(
      spark, "/root/testdata/sf0.001", base + "/ic"))
    assert(second === first, "replayed batch corrupted the cluster labels")
  }

  test("streaming transitions equal the one-shot window; crash replay never double-counts") {
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s15")
    val cuts = Seq(1705276800000L, 1706054400000L)
    val streamed = Streaming.runStreamTransitions(spark, dir, base + "/tr", cuts)
      .select(col("from_type"), col("to_type"), col("n").cast("long").as("n"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_millis(col("ts")), col("event_id"))
    val batch = Tables.events(spark, dir)
      .withColumn("_prev", lag(col("event_type"), 1).over(w))
      .filter(col("_prev").isNotNull)
      .groupBy(col("_prev").as("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).cast("long").as("n"))
    assertSameRows(streamed, batch)
    // Replay the final batch: the ADDITIVE pairs sink must skip it
    // wholesale (a re-applied delta would double-count), the replace
    // state sink must stay consistent.
    rollbackLastCommit(base + "/tr/ckpt")
    val second = Streaming.runStreamTransitions(spark, dir, base + "/tr", cuts)
      .select(col("from_type"), col("to_type"), col("n").cast("long").as("n"))
    assertSameRows(second, batch)
  }

  test("streaming top-k equals the one-shot batch top-k; crash replay is idempotent") {
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s14")
    val streamed = Streaming.runStreamTopK(spark, dir, base + "/tk", 3)
      .select(col("event_type"), col("rnk"), col("event_id"), col("value"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id").asc)
    val batch = Tables.events(spark, dir)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("event_type"), col("rnk"), col("event_id"), col("value"))
    assertSameRows(streamed, batch)
    // Crash between upsert commit and checkpoint commit: the replayed
    // update must overwrite, not duplicate or corrupt, the rank rows.
    rollbackLastCommit(base + "/tk/ckpt")
    val second = Streaming.runStreamTopK(spark, dir, base + "/tk", 3)
      .select(col("event_type"), col("rnk"), col("event_id"), col("value"))
    assertSameRows(second, batch)
  }

  test("streaming KMV sketch equals the one-shot batch sketch; crash replay is idempotent") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s17")
    val streamed = Streaming.runStreamKmv(spark, dir, base + "/kmv", 64)
    // Batch twin: the x32 aggregate at the same (day, event_type) grain —
    // a bottom-k SET is merge-order independent, so incremental streaming
    // over slices must land on EXACTLY the same registers.
    val batch = graft.operators.Sketch.kmvDistinct(
      Tables.events(spark, dir).select(
        unix_millis(date_trunc("day", col("ts"))).as("day"),
        col("event_type"), col("user_id")),
      Seq("day", "event_type"), "user_id", 64)
    assertSameRows(streamed, batch)
    // Crash between upsert commit and checkpoint commit: replayed batch
    // must replace-upsert to the identical sketch rows.
    rollbackLastCommit(base + "/kmv/ckpt")
    val second = Streaming.runStreamKmv(spark, dir, base + "/kmv", 64)
    assertSameRows(second, batch)
  }

  test("streaming HLL registers converge to the one-shot batch sketch; crash replay is idempotent") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s18")
    val streamed = Streaming.runStreamHll(spark, dir, base + "/hll", 8)
    val batch = graft.operators.Sketch.hllDistinct(
      Tables.events(spark, dir).select(
        unix_millis(date_trunc("day", col("ts"))).as("day"),
        col("event_type"), col("user_id")),
      Seq("day", "event_type"), "user_id", 8)
    assertSameRows(streamed, batch)
    rollbackLastCommit(base + "/hll/ckpt")
    val second = Streaming.runStreamHll(spark, dir, base + "/hll", 8)
    assertSameRows(second, batch)
  }

  test("streaming moments equal the one-shot profile; crash replay never double-adds") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s21")
    val streamed = Streaming.runStreamMoments(spark, dir, base + "/mo")
    val batch = graft.operators.Maintenance.momentsProfile(
      Tables.events(spark, dir).select(col("event_type"), col("value")),
      "event_type", "value")
    assertSameRows(streamed, batch)
    // Replay the final batch: the ADDITIVE sufficient-statistic sink must
    // skip it wholesale — a re-applied partial sum would shift every
    // moment.
    rollbackLastCommit(base + "/mo/ckpt")
    val second = Streaming.runStreamMoments(spark, dir, base + "/mo")
    assertSameRows(second, batch)
  }

  test("streaming funnel equals the one-shot batch funnel; crash replay is idempotent") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s19")
    val steps = Seq("view", "click", "purchase")
    val cuts = Seq(1705276800000L, 1706054400000L)
    val streamed = Streaming.runStreamFunnel(
      spark, dir, base + "/fn", cuts, steps)
    val batch = graft.operators.Funnel.funnel(
      Tables.events(spark, dir).select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms")),
      "user_id", "event_type", "ms", steps)
    assertSameRows(
      streamed.select(col("user_id"), col("step0_ms"), col("step1_ms"),
        col("step2_ms"), col("converted")),
      batch.select(col("user_id"), col("step0_ms"), col("step1_ms"),
        col("step2_ms"), col("converted")))
    // Replay the final batch: the replace-upsert state must converge to
    // the same rows (recomputing a user's chain from carry ∪ replayed
    // slice is idempotent).
    rollbackLastCommit(base + "/fn/ckpt")
    val second = Streaming.runStreamFunnel(
      spark, dir, base + "/fn", cuts, steps)
    assertSameRows(
      second.select(col("user_id"), col("step0_ms"), col("step1_ms"),
        col("step2_ms"), col("converted")),
      batch.select(col("user_id"), col("step0_ms"), col("step1_ms"),
        col("step2_ms"), col("converted")))
  }

  test("streaming AUC equals the one-shot batch AUC at the monitor's 3 dp grain; replay never double-adds") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s23")
    val streamed = Streaming.runStreamAuc(spark, dir, base + "/auc")
    // Batch twin at the SAME quantization: score the full table against
    // its own centroids, quantize to milli-scores, fold.
    val emb = Tables.embeddings(spark, dir)
    val counts = graft.operators.Eval.centroidScores(
        emb, "vec_id", "embedding", "label")
      .withColumn("score_mil", round(col("score") * 1000, 0).cast("int"))
      .groupBy(col("class"), col("score_mil"))
      .agg(sum(when(col("_gold") === col("class"), 1L).otherwise(0L)).as("_np"),
        sum(when(col("_gold") === col("class"), 0L).otherwise(1L)).as("_nn"))
    val batch = graft.operators.Eval.aucFold(counts, "score_mil")
    assertSameRows(streamed, batch)
    // Replay the final batch: a re-applied partial count would shift the
    // rank sums — the additive sink's batch markers must skip it.
    rollbackLastCommit(base + "/auc/ckpt")
    val second = Streaming.runStreamAuc(spark, dir, base + "/auc")
    assertSameRows(second, batch)
  }

  test("streaming histogram equals the one-shot batch histogram; replay never double-adds") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s24")
    val streamed = Streaming.runStreamHistogram(spark, dir, base + "/hg", 20)
    val batch = graft.operators.Maintenance.histogram(
      Tables.events(spark, dir).select(col("event_type"), col("value")),
      Seq("event_type"), "value", 20)
    assertSameRows(streamed, batch)
    rollbackLastCommit(base + "/hg/ckpt")
    val second = Streaming.runStreamHistogram(spark, dir, base + "/hg", 20)
    assertSameRows(second, batch)
  }

  test("streaming OLS trend equals the one-shot batch trend; replay never double-adds") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s25")
    val streamed = Streaming.runStreamOls(spark, dir, base + "/ols")
    val batch = graft.operators.TimeSeries.olsTrend(
      Tables.events(spark, dir)
        .groupBy(col("event_type"),
          (unix_millis(date_trunc("DAY", col("ts"))) / lit(86400000L))
            .cast("long").as("_day"))
        .agg(count(lit(1)).cast("long").as("_n")),
      "event_type", "_day", "_n")
    assertSameRows(streamed, batch)
    // Replay the final batch: a re-applied partial day count would bend
    // the slope — the additive sink's batch markers must skip it.
    rollbackLastCommit(base + "/ols/ckpt")
    val second = Streaming.runStreamOls(spark, dir, base + "/ols")
    assertSameRows(second, batch)
  }

  test("streaming Welch equals the one-shot batch test; replay never double-adds") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s30")
    val streamed = Streaming.runStreamWelch(spark, dir, base + "/welch")
    val batch = graft.operators.Maintenance.welchTTest(
      Tables.documents(spark, dir), "source", "n_chars")
    assertSameRows(streamed, batch)
    // Replay the final batch: double-added power sums shift every mean
    // and variance — the batch markers must skip the re-applied slice.
    rollbackLastCommit(base + "/welch/ckpt")
    val second = Streaming.runStreamWelch(spark, dir, base + "/welch")
    assertSameRows(second, batch)
  }

  test("streaming ANOVA equals the one-shot batch test; replay never double-adds") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s31")
    val streamed = Streaming.runStreamAnova(spark, dir, base + "/anova")
    val batch = graft.operators.Maintenance.anovaF(
      Tables.documents(spark, dir), "source", "n_chars")
    assertSameRows(streamed, batch)
    // Replay the final batch: double-added power sums inflate SS_within
    // and n — the batch markers must skip the re-applied slice.
    rollbackLastCommit(base + "/anova/ckpt")
    val second = Streaming.runStreamAnova(spark, dir, base + "/anova")
    assertSameRows(second, batch)
  }

  test("streaming Cramér's V equals the one-shot batch statistic; replay never double-adds") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s32")
    val streamed = Streaming.runStreamCramersV(spark, dir, base + "/cv")
    val batch = graft.operators.TextAnalysis.cramersV(
      Tables.documents(spark, dir), "lang", "source")
    assertSameRows(streamed, batch)
    // Replay the final batch: double-added cells skew every expectation —
    // the batch markers must skip the re-applied slice.
    rollbackLastCommit(base + "/cv/ckpt")
    val second = Streaming.runStreamCramersV(spark, dir, base + "/cv")
    assertSameRows(second, batch)
  }

  test("streaming unseen-mass equals the one-shot batch estimate; replay never double-adds") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s33")
    val streamed = Streaming.runStreamUnseenMass(spark, dir, base + "/um")
    val batch = graft.operators.TextAnalysis.unseenMassEstimate(
      Tables.documents(spark, dir), "source", "text", 2)
    assertSameRows(streamed, batch)
    // Replay the final batch: a double-added slice turns singletons into
    // doubletons — the batch markers must skip it.
    rollbackLastCommit(base + "/um/ckpt")
    val second = Streaming.runStreamUnseenMass(spark, dir, base + "/um")
    assertSameRows(second, batch)
  }

  test("streaming IVF append equals the one-shot full build; crash-replay never duplicates ids") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s34")
    val emb = Tables.embeddings(spark, dir)
    val streamed = Streaming.runStreamIvfAppend(spark, dir, base)
    // Maintained layout ≡ the from-scratch full build (same frozen
    // centroids: the full corpus's first 16 ids are all < 250).
    val full = tmp("graft-s34full") + "/index"
    graft.operators.Similarity.buildIvfIndex(emb, "vec_id", "embedding",
      16, full)
    def rows(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("centroid_id").cast("long"),
        col("embedding").cast("string"))
    assertSameRows(rows(full), rows(base + "/index"))
    // Probe over the maintained index equals the one over the full build.
    assertSameRows(streamed,
      graft.operators.Similarity.ivfIndexTopK(emb, "vec_id", "embedding",
        0L, 10, 16, 4, full))
    val n = spark.read.parquet(base + "/index").count()
    // Crash-replay: roll back the last checkpoint commit and re-run — the
    // committed-batch marker must drain the replayed batch (no rebuild of
    // the base either: the marker guards it), leaving the index unchanged.
    rollbackLastCommit(base + "/ckpt")
    val second = Streaming.runStreamIvfAppend(spark, dir, base)
    assert(spark.read.parquet(base + "/index").count() === n)
    assertSameRows(second, streamed)
    // Residual crash window (append done, marker not written): re-running
    // the batch body directly must anti-join every id away.
    val lastBatch = emb.filter(col("vec_id") >= 250 && col("vec_id") % 3 === 2)
    graft.operators.Similarity.appendToIvfIndex(
      lastBatch.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", base + "/index")
    assert(spark.read.parquet(base + "/index").count() === n)
  }

  test("streaming PQ append equals the one-shot maintained table; crash-replay never duplicates codes") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s35")
    val emb = Tables.embeddings(spark, dir)
    val streamed = Streaming.runStreamPqAppend(spark, dir, base)
    // One-shot comparator: the x146 shape (base build + single append).
    val tbl = tmp("graft-s35one") + "/codes"
    graft.operators.Similarity.buildPqCodeTable(
      emb.filter(col("vec_id") < 250), "vec_id", "embedding", 2, 4, 2, tbl)
    graft.operators.Similarity.appendToPqCodeTable(
      emb.filter(col("vec_id") >= 250), "vec_id", "embedding", tbl)
    def codes(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("code_0").cast("long"),
        col("code_1").cast("long"))
    assertSameRows(codes(base + "/codes"), codes(tbl))
    assertSameRows(streamed,
      graft.operators.Similarity.pqAdcTopKOverTable(emb, "vec_id",
        "embedding", 3L, 12, tbl))
    val n = spark.read.parquet(base + "/codes").count()
    // Crash-replay: marker drains the replayed batch, base never rebuilds.
    rollbackLastCommit(base + "/ckpt")
    val second = Streaming.runStreamPqAppend(spark, dir, base)
    assert(spark.read.parquet(base + "/codes").count() === n)
    assertSameRows(second, streamed)
    // Residual crash window: re-running the batch body directly is a no-op.
    graft.operators.Similarity.appendToPqCodeTable(
      emb.filter(col("vec_id") >= 250 && col("vec_id") % 3 === 2),
      "vec_id", "embedding", base + "/codes")
    assert(spark.read.parquet(base + "/codes").count() === n)
  }

  test("streaming mini-batch k-means: one-batch fold equals kMeansUpdate; crash-replay re-derives identical state") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    // The state-fold primitive applied once IS x145's kMeansUpdate.
    val baseDf = emb.filter(col("vec_id") < 250)
    val batch = emb.filter(col("vec_id") >= 250)
    val init = graft.operators.Similarity.kMeansInitState(
      baseDf, "vec_id", "embedding", 8, 3)
    val once = graft.operators.Similarity.kMeansStateStep(
      init, batch, "vec_id", "embedding")
    assertSameRows(
      graft.operators.Similarity.kMeansStateSummary(spark, init, once),
      graft.operators.Similarity.kMeansUpdate(baseDf, batch,
        "vec_id", "embedding", 8, 3))
    // Full stream: untouched clusters stay bit-stable (drift exactly 0
    // where no batch member ever lands).
    val base = tmp("graft-s36")
    val streamed = Streaming.runStreamKmeansUpdate(spark, dir, base)
    val rows = streamed.collect()
    assert(rows.nonEmpty)
    rows.filter(_.getLong(2) == 0L).foreach { r =>
      assert(r.getDouble(4) === 0.0, s"untouched cluster ${r.getLong(0)} drifted")
    }
    // Crash-replay: the marker drains the replayed batch; the summary and
    // the final state file are unchanged.
    val stateBefore = graft.operators.Similarity.readKmState(
      spark, base + "/state_b2")
    rollbackLastCommit(base + "/ckpt")
    val second = Streaming.runStreamKmeansUpdate(spark, dir, base)
    assertSameRows(second, streamed)
    assert(graft.operators.Similarity.readKmState(spark, base + "/state_b2")
      === stateBefore)
    // Residual crash window: re-running the last step from its
    // predecessor state re-derives the SAME state content.
    val prev = graft.operators.Similarity.readKmState(spark, base + "/state_b1")
    val lastBatch = emb.filter(col("vec_id") >= 250 && col("vec_id") % 3 === 2)
    val rederived = graft.operators.Similarity.kMeansStateStep(
      prev, lastBatch, "vec_id", "embedding")
    assert(rederived === stateBefore)
  }

  test("streaming Holt forecast equals the one-shot batch fit; replay never double-adds") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s29")
    val streamed = Streaming.runStreamHolt(spark, dir, base + "/holt",
      0.45, 0.35, 7)
    val batch = graft.operators.TimeSeries.holtForecast(
      Tables.events(spark, dir)
        .groupBy(col("event_type"),
          unix_millis(date_trunc("DAY", col("ts"))).as("day"))
        .agg(count(lit(1)).as("n")),
      Seq("event_type"), "day", "n", 0.45, 0.35, 7)
    assertSameRows(streamed, batch)
    // Replay the final batch: a double-added day bends every later step
    // of the recurrence — the batch markers must skip it.
    rollbackLastCommit(base + "/holt/ckpt")
    val second = Streaming.runStreamHolt(spark, dir, base + "/holt",
      0.45, 0.35, 7)
    assertSameRows(second, batch)
  }

  test("streaming forecast backtest equals the one-shot batch backtest; replay never double-adds") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s37")
    val streamed = Streaming.runStreamForecastBacktest(
      spark, dir, base + "/fb", 7)
    val batch = graft.operators.TimeSeries.forecastBacktest(
      Tables.events(spark, dir), "event_type", "ts", 7)
    assertSameRows(streamed, batch)
    // Replay the final batch: a double-added day inflates its own count
    // AND both forecasts that read it through the lags — the batch
    // markers must skip the re-applied slice.
    rollbackLastCommit(base + "/fb/ckpt")
    val second = Streaming.runStreamForecastBacktest(
      spark, dir, base + "/fb", 7)
    assertSameRows(second, batch)
  }

  test("streaming MAD anomaly equals the one-shot batch read; replay never double-adds") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s38")
    val streamed = Streaming.runStreamMadAnomaly(spark, dir, base + "/mad", 3.0)
    val batch = graft.operators.TimeSeries.madAnomaly(
      Tables.events(spark, dir), "event_type", "ts", 3.0)
    assertSameRows(streamed, batch)
    // Replay the final batch: a double-added day moves that day's count,
    // the median, the MAD, and every z — the batch markers must skip it.
    rollbackLastCommit(base + "/mad/ckpt")
    val second = Streaming.runStreamMadAnomaly(spark, dir, base + "/mad", 3.0)
    assertSameRows(second, batch)
  }

  test("streaming new-vs-returning equals the one-shot batch split; replay is harmless by construction") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s39")
    val streamed = Streaming.runStreamNewVsReturning(spark, dir, base + "/nvr")
    val batch = graft.operators.Funnel.newVsReturning(
      Tables.events(spark, dir), "user_id", "ts")
    assertSameRows(streamed, batch)
    // Replay the final batch: presence state only bumps counts the fold
    // never reads — the split must not move even WITHOUT marker skipping
    // (the markers still skip; this pins the stronger property).
    rollbackLastCommit(base + "/nvr/ckpt")
    val second = Streaming.runStreamNewVsReturning(spark, dir, base + "/nvr")
    assertSameRows(second, batch)
  }

  test("streaming PSI equals the one-shot batch PSI; replay never double-adds") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s28")
    val edges = Seq(120d, 200d, 280d, 360d, 440d)
    val streamed = Streaming.runStreamPsi(spark, dir, base + "/psi", edges)
    val batch = graft.operators.Maintenance.psi(
      Tables.documents(spark, dir), "source", "n_chars", edges)
    assertSameRows(streamed, batch)
    // Replay the final batch: double-added bin counts shift every smoothed
    // proportion — the batch markers must skip the re-applied slice.
    rollbackLastCommit(base + "/psi/ckpt")
    val second = Streaming.runStreamPsi(spark, dir, base + "/psi", edges)
    assertSameRows(second, batch)
  }

  test("streaming CUSUM equals the one-shot batch change-point; replay never double-adds") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s27")
    val streamed = Streaming.runStreamCusum(spark, dir, base + "/cu")
    val batch = graft.operators.TimeSeries.cusumChangepoint(
      Tables.events(spark, dir)
        .groupBy(col("event_type"),
          unix_millis(date_trunc("DAY", col("ts"))).as("day"))
        .agg(count(lit(1)).cast("long").as("n")),
      Seq("event_type"), "day", "n")
    assertSameRows(streamed, batch)
    // Replay the final batch: a double-added partial day shifts the mean
    // and every standardized term — the batch markers must skip it.
    rollbackLastCommit(base + "/cu/ckpt")
    val second = Streaming.runStreamCusum(spark, dir, base + "/cu")
    assertSameRows(second, batch)
  }

  test("streaming kappa equals the one-shot batch kappa; replay never double-adds") {
    val dir = "/root/testdata/sf0.001"
    val base = tmp("graft-s26")
    val streamed = Streaming.runStreamKappa(spark, dir, base + "/kp")
    val docs = Tables.documents(spark, dir)
    val batch = graft.operators.Eval.cohensKappa(
      graft.operators.TextAnalysis.langId(docs)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")),
      "pred_lang", "lang")
    assertSameRows(streamed, batch)
    // Replay the final batch: a re-added confusion cell would move po/pe.
    rollbackLastCommit(base + "/kp/ckpt")
    val second = Streaming.runStreamKappa(spark, dir, base + "/kp")
    assertSameRows(second, batch)
  }
  test("runStreamLabelProp: the micro-batched fold equals the one-shot top-K LPA build; a finished stream re-run changes nothing") {
    val dir = "/root/testdata/sf0.001"
    val base = Files.createTempDirectory("s41spec").toString
    val streamed = Streaming.runStreamLabelProp(spark, dir, base + "/lp",
      3, 4)
    val ui = graft.Tables.events(spark, dir)
      .where(col("event_type") === "click")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("int").as("item"))
    val oneShot = graft.operators.Graph
      .topCooccurrenceCommunities(ui, "user_id", "item", 3, 4)
      .groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("size"),
        min(col("vertex")).cast("long").as("min_vertex"),
        max(col("vertex")).cast("long").as("max_vertex"))
    assertSameRows(streamed, oneShot)
    // Every batch is committed: a re-run replays nothing (versionedStep
    // drains) and reads back the identical snapshot.
    val again = Streaming.runStreamLabelProp(spark, dir, base + "/lp",
      3, 4)
    assertSameRows(again, oneShot)
  }
}
