package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.StatsPipeline
import graft.queries.Serving
import graft.streaming.Streaming

/** Benchmark harness: drives one workload through the engine's public
  * functions and writes its raw timings, per-layer counters and outputs to
  * `<out>/result.json` (the Python runner turns them into metrics and
  * checks the outputs with DuckDB).
  *
  * Closed loop: one thread, each operation starts when the previous one
  * ends; there are no triggers, timers or sleeps.
  *
  * Usage: Main --workload live|corpus --input DIR --out DIR
  *             --seconds N --trace 0|1 */
object Main {

  final case class Ctx(spark: SparkSession, probe: Probe, input: Path,
                       out: Path, seconds: Double, plan: Map[String, Any])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val input = Paths.get(opt("input"))
    val out = Paths.get(opt("out"))
    val plan = org.json4s.jackson.JsonMethods
      .parse(Files.readString(input.resolve("plan.json")))
      .values.asInstanceOf[Map[String, Any]]
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sessionS = sinceLaunchS()
    val ctx = Ctx(spark, new Probe(spark, opt("trace") == "1"), input, out,
      opt("seconds").toDouble, plan)
    val result = opt("workload") match {
      case "live" => Live.run(ctx)
      case "corpus" => Corpus.run(ctx)
    }
    Files.writeString(out.resolve("result.json"), json(result))
    spark.stop()
  }

  def json(v: AnyRef): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  /** Seconds from JVM launch until now. */
  def sinceLaunchS(): Double =
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Warm-up: one operation before measuring, its CPU and wall ms
    * recorded. A fixed count keeps every run's measured operations at the
    * same point of the JVM's life (JIT, codegen and page cache state). */
  def warmUp(ctx: Ctx)(op: => Unit): Map[String, Any] = {
    val c0 = ctx.probe.cpuMs()
    val t0 = System.nanoTime()
    op
    Map("cpu_ms" -> (ctx.probe.cpuMs() - c0),
      "wall_ms" -> (System.nanoTime() - t0) / 1e6, "session_s" -> sessionS)
  }

  /** Seconds from JVM launch until the SparkSession was up. */
  @volatile var sessionS = 0.0

  /** Measured phase: run `op(i)` until `seconds` have passed and at least
    * `MinOps` operations ran, recording host steal and foreign JVMs around
    * it. On a 4-vCPU host `MinOps`, not the clock, fixes the operation count,
    * so every run measures the same operations; two is the fewest that
    * give a median and fit the run budget. */
  val MinOps = 2

  def measured(ctx: Ctx)(op: Int => Map[String, Any]): Map[String, Any] = {
    val steal0 = ctx.probe.stealMs()
    val foreign = mutable.Set.empty[Long] ++ ctx.probe.foreignJvms()
    val t0 = System.nanoTime()
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (ops.size < MinOps || (System.nanoTime() - t0) / 1e9 < ctx.seconds)
      ops += op(ops.size)
    val measuredS = (System.nanoTime() - t0) / 1e9
    foreign ++= ctx.probe.foreignJvms()
    Map("ops" -> ops.toList, "measured_s" -> measuredS,
      "steal_ms" -> (ctx.probe.stealMs() - steal0),
      "foreign_jvms" -> foreign.toList.sorted)
  }

  def rows(df: DataFrame): Map[String, Any] =
    Map("columns" -> df.columns.toList,
      "rows" -> df.collect().map(_.toSeq.toList).toList)

  /** Write a frame as one parquet file set for the DuckDB checks. */
  def dump(df: DataFrame, dir: Path): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dir.toString)

  /** Drop cached plans and persisted blocks an operation left behind, the
    * way graft.Bench releases state between registry entries. */
  def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** The chat-stats side inputs and the dashboard reads of the live
  * workload. */
final class Dashboard(spark: SparkSession, plan: Map[String, Any]) {
  import spark.implicits._

  val windowMs: Long = plan("window_ms").asInstanceOf[BigInt].toLong
  private val hidden = plan("hidden").asInstanceOf[String]
  val channels: DataFrame = plan("channels").asInstanceOf[List[String]]
    .map(c => (c, c == hidden)).toDF("channel", "hidden")
  val dict: DataFrame = plan("emotes").asInstanceOf[List[String]].toDF("emote")
  val phrases: Seq[Tables.Phrase] = plan("phrases").asInstanceOf[List[List[Any]]]
    .map { case List(n: String, re: String, cf, log: Boolean) =>
      Tables.Phrase(n, re, Option(cf).map(_.toString), log) }

  /** Per-batch deltas of the five grains, as `Streaming.runAllStats`
    * computes them: windowed message counts and the emote, user-emote and
    * phrase counts over the documents. */
  def deltas(msgs: DataFrame, docs: DataFrame): Seq[(String, DataFrame)] = Seq(
    "channel" -> StatsPipeline.channelStats(msgs, windowMs),
    "user" -> StatsPipeline.userStats(msgs, windowMs),
    "emote" -> StatsPipeline.emoteStats(StatsPipeline.extractEmotes(docs, dict)),
    "user_emote" -> StatsPipeline.userEmoteStats(
      StatsPipeline.extractEmotes(docs, dict)),
    "phrase" -> StatsPipeline.phraseStats(
      StatsPipeline.matchPhrases(docs, phrases, "text")))

  def docsOf(dir: String): DataFrame = Tables.documents(spark, dir)
    .select(col("lang").as("channel"), col("source").as("username"), col("text"))

  val trailing: Seq[(String, Long)] = Seq("m5" -> 300000L, "h1" -> 3600000L,
    "d1" -> 86400000L, "d7" -> 604800000L, "d30" -> 2592000000L)

  /** One dashboard request: the frames whose collected rows make up its
    * answer. `st(grain)` reads the current state table. */
  def request(name: String, p: Map[String, Any],
              st: String => DataFrame): Seq[(String, DataFrame)] = {
    val u = p("user").asInstanceOf[String]
    val e = p("emote").asInstanceOf[String]
    val c = p("channel").asInstanceOf[String]
    val now = p("now").asInstanceOf[BigInt].toLong
    def totals = Serving.visibleOnly(
      StatsPipeline.allTimeTotals(st("channel"), Seq("channel"), "messages"),
      channels)
    name match {
      case "channels" => Seq("totals" -> totals)
      case "emote_stats" => Seq(
        "top" -> Serving.leaderboard(Serving.visibleOnly(st("emote"), channels),
          Seq("emote"), "occurrences", 10),
        "totals" -> totals)
      case "user" =>
        val us = st("user").filter(col("username") === u)
        Seq("totals" -> StatsPipeline.allTimeTotals(us, Seq("channel"), "messages"),
          "last_seen" -> us.groupBy("channel").agg(max(col("ts")).as("last_seen")))
      case "user_emote" =>
        val ue = st("user_emote")
          .filter(col("username") === u && col("emote") === e)
          .groupBy("channel").agg(sum(col("occurrences")).as("occurrences"))
        Seq("counts" -> channels.select("channel").join(ue, Seq("channel"), "left_outer")
          .select(col("channel"),
            coalesce(col("occurrences"), lit(0L)).cast("long").as("occurrences")))
      case "channel" =>
        val ch = st("channel").filter(col("channel") === c)
        Seq("totals" -> StatsPipeline.allTimeTotals(ch, Seq("channel"), "messages"),
          "trailing" -> Serving.trailingSums(ch, now, trailing, "messages"),
          "top" -> Serving.leaderboard(st("emote").filter(col("channel") === c),
            Seq("emote"), "occurrences", 10))
      case "cumulative_base" => Seq("base" -> Serving.cumulativeBase(
        st("channel"), Seq("channel"), "messages", now - Streaming.DayMillis))
      case "cumulative_sums" => Seq("sums" -> Serving.cumulativeSums(
        st("channel").filter(col("ts") > now - 6 * 3600000L),
        Seq("channel"), "messages"))
      case "resample" => Seq("series" -> Serving.resample(
        st("channel").filter(col("channel") === c &&
          col("ts") > now - Streaming.DayMillis),
        Seq("channel"), "messages", 24))
      case "ranked" => Seq("top" -> Serving.ranked(
        StatsPipeline.allTimeTotals(st("user"), Seq("username"), "messages"),
        "messages", "username").filter(col("rank") <= 100))
    }
  }
}
