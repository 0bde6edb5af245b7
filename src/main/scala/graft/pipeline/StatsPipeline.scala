package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The write path of the engine: the reference's five streaming aggregations
  * (SURVEY.md §2.3 A4-A9) plus the extractors feeding them (§2.2 T1/T3/T4),
  * re-expressed as pure `DataFrame => DataFrame` transforms. Each transform
  * works identically under batch (`spark.read`) and Structured Streaming
  * (`spark.readStream`) inputs — the Spark idiom replacing the reference's
  * `AbstractStatsAggregation` template method (AbstractStatsAggregation.java:63-115).
  *
  * Window labeling: the reference stamps each stats row with the tumbling
  * window END in epoch millis (AbstractStatsAggregation.java:69-77); we use
  * `window($"ts", W).end`. The all-time running total (sentinel timestamp=0
  * row, AbstractStatsAggregation.java:33) is a separate unwindowed aggregate,
  * synthesized only at the API-parity layer (SURVEY.md §7.3).
  *
  * Scale notes: every aggregation below is a single hash-aggregate with
  * map-side partial aggregation — one shuffle on the grouping keys, no joins
  * on the fact side except broadcast dimension joins (emote dictionary,
  * phrases), which never shuffle the fact table.
  */
object StatsPipeline {

  /** The grouping key is the `window` STRUCT, not a pre-projected end label:
    * the struct carries the event-time tag Structured Streaming needs to
    * apply the watermark to the aggregation (late-row filtering + state
    * eviction — bounded state at scale). Projecting `unix_millis(end)`
    * inside groupBy would strip the tag and silently turn the watermark
    * into a no-op; the end label is projected AFTER the agg instead.
    * Batch plans and results are identical either way. */
  private def byWindowEnd(df: DataFrame, windowMs: Long,
                          dims: Seq[String], outCols: Seq[String]): DataFrame =
    df.groupBy((dims.map(col) :+
        window(col("ts"), s"$windowMs milliseconds").as("_w")): _*)
      .agg(count(lit(1)).as("messages"))
      .withColumn("ts", unix_millis(col("_w.end")))
      .select(outCols.map(col): _*)

  /** A4: messages per (channel, window). Output: channel, ts, messages.
    * Reference: ChannelStatsAggregation.java:29-33. */
  def channelStats(messages: DataFrame, windowMs: Long): DataFrame =
    byWindowEnd(messages, windowMs, Seq("channel"),
      Seq("channel", "ts", "messages"))

  /** A5: messages per (channel, username, window).
    * Reference: UserStatsAggregation.java:20-32. */
  def userStats(messages: DataFrame, windowMs: Long): DataFrame =
    byWindowEnd(messages, windowMs, Seq("channel", "username"),
      Seq("channel", "username", "ts", "messages"))

  /** T1: tokenize message text on whitespace runs and keep only tokens in
    * the emote dictionary; duplicates within one message each count
    * (EmoteExtractor.java:74-103). The dictionary is broadcast — it is a
    * small dimension (~10^4 rows) and must never shuffle the fact table.
    * Input: a frame with a `text` column + passthrough dims; dict: (emote).
    */
  def extractEmotes(texts: DataFrame, dict: DataFrame, textCol: String = "text"): DataFrame =
    texts
      .withColumn("emote", explode(split(col(textCol), "\\s+")))
      .filter(length(col("emote")) > 0)
      .drop(textCol)
      .join(broadcast(dict.select("emote")), Seq("emote"), "left_semi")

  /** A6: occurrences per (channel, emote) over the emote stream.
    * Reference: EmoteStatsAggregation.java:20-32. (Unwindowed grain when the
    * input has no event time, e.g. the documents corpus.) */
  def emoteStats(emotes: DataFrame): DataFrame =
    emotes.groupBy(col("channel"), col("emote"))
      .agg(count(lit(1)).as("occurrences"))

  /** A7: occurrences per (channel, emote, username).
    * Reference: UserEmoteStatsAggregation.java:21-34. */
  def userEmoteStats(emotes: DataFrame): DataFrame =
    emotes.groupBy(col("channel"), col("emote"), col("username"))
      .agg(count(lit(1)).as("occurrences"))

  /** T3: regex phrase matching. For each message × phrase: optional
    * channel-filter regex, then count non-overlapping occurrences; keep rows
    * with matches > 0 (PhraseExtractor.java:54-91). One projection computes
    * every phrase's constant-pattern `regexp_count` (codegen-friendly; a
    * phrase's filter gates its count, so an excluded channel never runs the
    * pattern) into an array of (phrase_name, matches) entries, and the
    * entries with matches > 0 are exploded — one scan of the input
    * whatever the phrase count, where a branch per phrase would rescan it
    * per phrase. Phrase tables are tiny (~10 rows), so a per-phrase
    * expression beats a crossJoin with a non-constant pattern.
    * Input needs: channel, plus `textCol`. Output: channel, phrase_name,
    * matches (per input row), plus passthrough columns.
    */
  def matchPhrases(messages: DataFrame, phrases: Seq[graft.Tables.Phrase],
                   textCol: String): DataFrame = {
    // An empty phrase table (T2 refresh may legitimately return none) means
    // zero matches — never an empty array type inside a streaming batch.
    if (phrases.isEmpty)
      return messages
        .withColumn("phrase_name", lit(null).cast("string"))
        .withColumn("matches", lit(0))
        .filter(lit(false))
    val hits = phrases.map { p =>
      val n = regexp_count(col(textCol), lit(p.regex))
      val gated = p.channelFilter
        .fold(n)(cf => when(col("channel").rlike("(?i)" + cf), n).otherwise(lit(0)))
      struct(lit(p.name).as("phrase_name"), gated.as("matches"))
    }
    messages
      .withColumn("_hit", explode(filter(array(hits: _*), h => h("matches") > 0)))
      .withColumn("phrase_name", col("_hit.phrase_name"))
      .withColumn("matches", col("_hit.matches"))
      .drop("_hit")
  }

  /** A8: total matches per (channel, phrase_name) — a SUM, not a COUNT
    * (PhraseStatsAggregation.java:29-33). */
  def phraseStats(matched: DataFrame): DataFrame =
    matched.groupBy(col("channel"), col("phrase_name"))
      .agg(sum(col("matches")).cast("long").as("matches"))

  /** T4: matched-message side output — full message rows for phrases with
    * log_message=true, once per matching phrase (PhraseExtractor.java:82-86).
    */
  def matchedMessageLog(matched: DataFrame, phrases: Seq[graft.Tables.Phrase]): DataFrame = {
    val logged = phrases.filter(_.logMessage).map(_.name)
    matched.filter(col("phrase_name").isin(logged: _*))
  }

  /** T6: input validation/cleanup — the ingest-side contract
    * (Bot.java:114-128: drop null user/channel/empty text, trim message;
    * EmoteExtractor.java:75: lowercase channel). Pure narrow transform —
    * no shuffle, stays inside whole-stage codegen. */
  def cleanMessages(messages: DataFrame): DataFrame =
    messages
      .filter(col("channel").isNotNull && col("username").isNotNull &&
        col("message").isNotNull)
      .withColumn("channel", lower(trim(col("channel"))))
      .withColumn("message", trim(col("message")))
      .filter(length(col("message")) > 0)

  /** A9: the all-time running total per key — the reference's sentinel
    * `timestamp = 0` row (ChannelStatsAggregation.java:44-63), computed as a
    * parallel unwindowed aggregate rather than DB-side additive upserts.
    */
  def allTimeTotals(stats: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    stats.groupBy(keys.map(col): _*)
      .agg(sum(col(valueCol)).cast("long").as(valueCol))

  /** API-parity view: windowed rows UNION the sentinel ts=0 total rows, the
    * exact shape of the reference's stats tables (SURVEY.md §1.3). */
  def withSentinelTotals(stats: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    stats.unionByName(
      allTimeTotals(stats, keys, valueCol).withColumn("ts", lit(0L))
        .select(stats.columns.map(col): _*))
}
