package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.{SparkEntry, Tables}
import graft.streaming.Streaming
import graft.streaming.Streaming.ParquetUpsertSink

/** Timed dashboard reads: each request's frames are collected to the
  * client; the last answer of every request name is kept for the checks. */
final class Reader(ctx: Main.Ctx, dash: Dashboard) {
  val last = mutable.Map.empty[String, Map[String, Any]]

  /** Run the requests of one cycle in its drawn order. Returns per-request
    * wall ms plus, when tracing, the summed counters and state files the
    * requests listed. */
  def cycle(p: Map[String, Any], names: Seq[String],
            st: String => DataFrame): (Seq[(String, Double)], Map[String, Double]) = {
    val layers = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val times = names.map { name =>
      val used = mutable.ArrayBuffer.empty[DataFrame]
      val tracked: String => DataFrame = g => { val d = st(g); used += d; d }
      val (ans, ms, l) = ctx.probe.measure {
        dash.request(name, p, tracked).map { case (part, df) => part -> Main.rows(df) }.toMap
      }
      last(name) = Map("params" -> p, "answer" -> ans)
      l.foreach { case (k, v) => layers(k) += v }
      if (ctx.probe.tracing) {
        layers(s"queries.route_ms.$name") += ms
        layers("queries.state_files_listed") += used.map(_.inputFiles.length).sum
      }
      name -> ms
    }
    (times, layers.toMap)
  }
}

/** live: history replayed by `Streaming.runAllStats` (the reference's
  * five-branch topology, one micro-batch per grain), then cycles of land a
  * slice → five additive upserts into the same state tables → dashboard
  * request mix. */
object Live {
  private val Grains = Seq("channel", "user", "emote", "user_emote", "phrase")

  def run(ctx: Main.Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val dash = new Dashboard(spark, ctx.plan)
    val base = graft.Scratch.dir("live-state")
    val day = Some(("ts", Streaming.DayMillis))
    val sinks = Map(
      "channel" -> new ParquetUpsertSink(s"$base/channel", Seq("channel", "ts"),
        Seq("messages"), additive = true, tsBucket = day),
      "user" -> new ParquetUpsertSink(s"$base/user", Seq("channel", "username", "ts"),
        Seq("messages"), additive = true, tsBucket = day),
      "emote" -> new ParquetUpsertSink(s"$base/emote", Seq("channel", "emote"),
        Seq("occurrences"), additive = true),
      "user_emote" -> new ParquetUpsertSink(s"$base/user_emote",
        Seq("channel", "emote", "username"), Seq("occurrences"), additive = true),
      "phrase" -> new ParquetUpsertSink(s"$base/phrase", Seq("channel", "phrase_name"),
        Seq("matches"), additive = true))
    def st(g: String): DataFrame = sinks(g).state(spark).get

    ctx.probe.takeProgress()
    val (_, preloadMs, _) = ctx.probe.measure(Streaming.runAllStats(spark,
      ctx.input.resolve("preload").toString, base.toString, dash.windowMs,
      () => dash.dict, () => dash.phrases))
    val progress = ctx.probe.takeProgress()
    // Live batch ids continue after the replay's micro-batches (including
    // its no-data batches), or the sinks would skip them as replays.
    val firstId = progress.map(_("batch_id")).max.toLong + 1
    def total(k: String) = progress.map(_.getOrElse(k, 0.0)).sum
    val replayLayers = if (!ctx.probe.tracing) Map.empty[String, Double] else Map(
      "streaming.plan_ms" -> total("queryPlanning"),
      "streaming.wal_ms" -> total("walCommit"),
      "streaming.add_batch_ms" -> total("addBatch"),
      "streaming.state_rows" -> total("state_rows"),
      "streaming.replay_ms" -> preloadMs)

    /** One write batch: every grain's delta upserted; per-grain wall ms. */
    def ingest(dir: String, batchId: Long): Seq[(String, Double)] = {
      val msgs = Tables.messages(spark, dir)
      val docs = dash.docsOf(dir)
      dash.deltas(msgs, docs).map { case (g, delta) =>
        val t0 = System.nanoTime()
        sinks(g).upsert(delta, batchId)
        g -> (System.nanoTime() - t0) / 1e6
      }
    }

    val cycles = ctx.plan("cycles").asInstanceOf[List[Map[String, Any]]]
    val reader = new Reader(ctx, dash)
    val visible = mutable.ArrayBuffer.empty[Map[String, Any]]
    var slices = 0

    /** One cycle: land slice `slices`, upsert it, read back the visible
      * totals (the read-your-writes check, untimed), run the read mix. */
    def cycle(): Map[String, Any] = {
      val s = slices
      require(s < cycles.size, "the generated slices ran out")
      val dir = ctx.input.resolve(f"slices/$s%04d").toString
      val before = if (ctx.probe.tracing) stateFiles(base) else Map.empty[String, Long]
      val t0 = System.nanoTime()
      val (grains, batchMs, batchLayers) = ctx.probe.measure(ingest(dir, firstId + s))
      slices += 1
      val layers = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      batchLayers.foreach { case (k, v) => layers(k) += v }
      if (ctx.probe.tracing) {
        val after = stateFiles(base)
        val written = after.filter { case (f, _) => !before.contains(f) }
        layers("streaming.bytes_written") = written.values.sum.toDouble
        layers("streaming.files_written") = written.size.toDouble
        layers("streaming.leaf_dirs_touched") =
          written.keys.map(f => f.substring(0, f.lastIndexOf('/'))).toSet.size.toDouble
        grains.foreach { case (g, ms) => layers(s"streaming.upsert_ms.$g") = ms }
        layers("spark.batch_codegen_compiles") = batchLayers("spark.codegen_compiles")
        // Each grain's delta materialised by itself, outside the batch.
        dash.deltas(Tables.messages(spark, dir), dash.docsOf(dir)).foreach {
          case (g, d) =>
            val t1 = System.nanoTime()
            d.write.format("noop").mode("overwrite").save()
            layers(s"pipeline.delta_ms.$g") = (System.nanoTime() - t1) / 1e6
        }
      }
      visible += Map("slices" -> slices, "totals" -> Main.rows(
        dash.request("channels", cycles(s), st).head._2))
      val p = cycles(s)
      val (reads, readLayers) =
        reader.cycle(p, p("order").asInstanceOf[List[String]], st)
      readLayers.foreach { case (k, v) => layers(k) += v }
      Map("wall_ms" -> (System.nanoTime() - t0) / 1e6, "batch_ms" -> batchMs,
        "grains_ms" -> grains.toMap, "reads" -> reads.map(r => List(r._1, r._2)),
        "layers" -> layers.toMap)
    }

    val warm = Main.warmUp(ctx)(cycle())
    val setupS = Main.sinceLaunchS()
    val m = Main.measured(ctx)(_ => cycle())
    Grains.foreach(g => Main.dump(st(g), ctx.out.resolve(s"state/$g")))
    m ++ Map("setup_s" -> setupS, "preload_ms" -> preloadMs,
      "warmup" -> warm, "slices" -> slices, "visible" -> visible.toList,
      "last" -> reader.last.toMap, "replay_layers" -> replayLayers)
  }

  /** Data files under the state base and their sizes, relative paths. */
  private def stateFiles(base: Path): Map[String, Long] =
    Files.walk(base).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
      .map(p => base.relativize(p).toString -> Files.size(p)).toMap
}

/** corpus: passes over a fixed list of registry entries. Measured passes
  * alternate: even passes materialise every entry with a `noop` write as
  * graft.Bench does, odd passes collect every result to the client (those
  * rows are kept for the oracle check). */
object Corpus {
  def run(ctx: Main.Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val dir = ctx.input.resolve("corpus").toString
    val passes = ctx.plan("passes").asInstanceOf[List[List[String]]]
    val results = mutable.Map.empty[String, DataFrame]
    var n = 0

    def pass(collect: Boolean): Map[String, Any] = {
      val order = passes(n % passes.size)
      n += 1
      val layers = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val entries = order.map { e =>
        val (_, ms, l) = ctx.probe.measure {
          val df = SparkEntry.queries(e)(spark, dir)
          if (!collect) df.write.format("noop").mode("overwrite").save()
          else results(e) = spark.createDataFrame(df.collect().toList.asJava, df.schema)
        }
        l.foreach { case (k, v) => layers(k) += v }
        if (ctx.probe.tracing) {
          layers(s"queries.entry_ms.$e") = ms
          layers("spark.persisted_rdds") += spark.sparkContext.getPersistentRDDs.size
        }
        Main.release(spark)
        List(e, ms)
      }
      Map("wall_ms" -> entries.map(_(1).asInstanceOf[Double]).sum,
        (if (collect) "reads" else "entries") -> entries, "layers" -> layers.toMap)
    }

    val warm = Main.warmUp(ctx)(pass(collect = false))
    val setupS = Main.sinceLaunchS()
    val m = Main.measured(ctx)(i => pass(collect = i % 2 == 1))
    results.foreach { case (e, df) => Main.dump(df, ctx.out.resolve(s"entries/$e")) }
    val entries = ctx.plan("entries").asInstanceOf[List[String]]
    Files.writeString(ctx.out.resolve("oracle_sql.json"),
      Main.json(entries.map(e => e -> SparkEntry.oracleSql(e)).toMap))
    m ++ Map("setup_s" -> setupS, "warmup" -> warm)
  }
}
