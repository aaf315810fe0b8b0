package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery}
import org.apache.spark.sql.types._

import graft.ops.Windows

/** Per-sender connection-session state (T6: the reference's `clients`
  * registry entry, `websocket.ts:11`).
  */
final case class SenderSession(nMessages: Long, lastContent: String)

/** The reference's only stream — WebSocket chat (`/root/reference/src/
  * websocket.ts`) — as a Structured Streaming pipeline (SURVEY §2.10
  * T1-T6):
  *
  *   parse (`from_json`, T2) → validate/filter → enrich with the user dim
  *   (stream-static broadcast join, T1/T3) → `foreachBatch` append +
  *   latest-message-per-conversation view maintenance (T3, W1 incremental).
  *
  * The reference has no watermarks or event-time windows (arrival-order
  * processing only); [[windowedEventCounts]] adds watermarked event-time
  * aggregation as new capability for the `events` stream (SURVEY §7.5).
  *
  * Scale notes: micro-batch enrich keeps the user dim broadcast (or a
  * shuffled join if the dim outgrows memory); the latest-view is an
  * incremental shuffle on conversationId only over each batch's keys, not a
  * recompute of history.
  */
object ChatStream {

  /** WebSocket chat frame (`websocket.ts:40-43`). */
  val frameSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("conversationId", StringType),
    StructField("senderId", StringType),
    StructField("receiverId", StringType),
    StructField("content", StringType),
    StructField("ts", TimestampType)))

  /** T2: JSON frame parse + type dispatch (`websocket.ts:40-43`). Frames
    * that fail to parse get null fields → dropped by the type filter, the
    * batch analog of the error frame path (T5).
    */
  def parseFrames(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), frameSchema).as("f"))
      .select("f.*")
      .filter(col("type") === "chat_message")

  /** T1+T3: sender-profile enrich (stream-static join; the dim side is
    * broadcast per micro-batch) mirroring the `include` on message create
    * (`websocket.ts:46-62`).
    */
  def enrich(frames: DataFrame, users: DataFrame): DataFrame =
    frames.join(
      broadcast(users.select(
        col("id").as("senderId"), col("name").as("senderName"),
        col("isBlocked"))),
      Seq("senderId"), "left")
      .filter(!coalesce(col("isBlocked"), lit(false))) // T1 auth gate
      .drop("isBlocked")

  /** Batch view: latest message per conversation (W1, `chat.ts:43-46`). */
  def latestPerConversation(messages: DataFrame): DataFrame =
    Windows.topPerGroup(
      messages,
      partition = Seq(col("conversationId")),
      order = Seq(col("ts").desc, col("senderId").desc, col("content").desc))

  /** T3: the persist pipeline — parse, enrich, append each micro-batch to
    * the message store and maintain the conversation-latest view
    * INCREMENTALLY: the batch's per-conversation winners merge against the
    * previous view (|conversations| rows), never against message history —
    * re-deriving the view from the full log each batch would make every
    * micro-batch cost O(history), the classic unbounded-recompute trap.
    *
    * The view update is a write-aside + backup swap (the
    * [[graft.ops.Layout.compact]] pattern): the merged view writes to a
    * SIBLING directory while the live one is still being read — no
    * self-overwrite, so no materialization — then the live dir
    * swaps out through a backup rename with crash auto-restore at the
    * next batch. No crash instant leaves the view unreadable or silently
    * truncated to one batch.
    *
    * Concurrent-reader contract: between the two renames (live→backup,
    * tmp→live) the `latestPath` directory briefly does NOT exist — an
    * atomic two-directory swap is not available on generic Hadoop
    * filesystems. External readers of the latest view must tolerate (and
    * retry) a transiently missing directory; the pipeline itself
    * self-heals from the backup at the next batch if a crash lands inside
    * the window.
    */
  def persistPipeline(
      raw: DataFrame,
      users: DataFrame,
      messagesPath: String,
      latestPath: String,
      checkpoint: String): StreamingQuery = {
    val enriched = enrich(parseFrames(raw), users)
    enriched.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try {
          batch.write.mode("append").parquet(messagesPath)
          val spark = batch.sparkSession
          val live = new org.apache.hadoop.fs.Path(latestPath)
          val bak = new org.apache.hadoop.fs.Path(latestPath + "__backup")
          val tmp = new org.apache.hadoop.fs.Path(latestPath + "__swapping")
          val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
          // a crash between the two renames below left the view only
          // under __backup — restore before reading anything
          if (!fs.exists(live) && fs.exists(bak) && !fs.rename(bak, live))
            throw new IllegalStateException(
              s"latest-view swap: orphaned backup $bak failed to restore")
          if (fs.exists(tmp)) fs.delete(tmp, true) // dead write of a crashed batch
          val haveView = fs.exists(live)
          val batchLatest = latestPerConversation(batch)
          val merged =
            if (haveView)
              latestPerConversation(
                spark.read.parquet(latestPath).unionByName(batchLatest))
            else batchLatest
          merged.write.parquet(tmp.toString)
          if (haveView) {
            if (fs.exists(bak)) fs.delete(bak, true) // stale post-swap leftover
            if (!fs.rename(live, bak))
              throw new IllegalStateException(s"latest-view swap: $live → $bak failed")
          }
          if (!fs.rename(tmp, live))
            throw new IllegalStateException(s"latest-view swap: $tmp → $live failed")
          fs.delete(bak, true)
          ()
        } finally { batch.unpersist(); () }
      }
      .start()
  }

  /** T6: the per-user session registry (`websocket.ts:11,94-99` —
    * `Map<userId, ws>` plus disconnect cleanup) as arbitrary streaming
    * state: `mapGroupsWithState` keeps one [[SenderSession]] per sender,
    * updated each micro-batch. State is partitioned by sender key — at
    * scale it shards across executors and lives in the state store, which
    * is exactly what the reference's single-process map cannot do.
    */
  def sessionTracker(frames: DataFrame): DataFrame = {
    val spark = frames.sparkSession
    import spark.implicits._
    frames.select(col("senderId"), col("content")).as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[SenderSession, (String, Long, String)](
        GroupStateTimeout.NoTimeout) { (sender, msgs, state) =>
        val prev = state.getOption.getOrElse(SenderSession(0L, ""))
        val batch = msgs.toSeq
        val next = SenderSession(
          prev.nMessages + batch.size,
          batch.lastOption.map(_._2).getOrElse(prev.lastContent))
        state.update(next)
        (sender, next.nMessages, next.lastContent)
      }
      .toDF("senderId", "n_messages", "last_content")
  }

  /** Streaming exact dedup — the streaming face of the batch Dedup family:
    * duplicate frames (same conversation/sender/content) arriving within
    * the watermark horizon are dropped; state for keys older than the
    * watermark is evicted, so memory is bounded by horizon × arrival rate,
    * not by history. (The batch `dropDuplicates` would keep ALL keys.)
    */
  def dedupStream(frames: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    frames
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("conversationId", "senderId", "content")

  /** Stream-stream join: messages ⋈ read-acks on conversation within a
    * bounded event-time range. Both sides carry watermarks and the join
    * condition bounds ack time to [msg_ts, msg_ts + maxDelay], which is
    * what lets Spark expire join state — an UNbounded stream-stream join
    * would buffer both streams forever. (New capability: the reference
    * delivers acks in-memory with no persistence, `websocket.ts:80-83`.)
    */
  def ackJoin(
      messages: DataFrame, acks: DataFrame,
      maxDelay: String = "30 minutes"): DataFrame = {
    val m = messages.withWatermark("ts", maxDelay)
      .select(col("conversationId"), col("senderId"), col("content"),
        col("ts").as("msg_ts"))
    val a = acks.withWatermark("ack_ts", maxDelay)
      .select(col("conversationId").as("ack_conv"), col("readerId"), col("ack_ts"))
    m.join(a,
      col("conversationId") === col("ack_conv") &&
        col("ack_ts") >= col("msg_ts") &&
        col("ack_ts") <= col("msg_ts") + expr(s"INTERVAL $maxDelay"))
      .drop("ack_conv")
  }

  /** New capability beyond the reference (SURVEY §7.5): watermarked
    * tumbling event-time counts for a stream shaped like `events`
    * (ts, user_id, event_type, value). Late data beyond the watermark is
    * dropped; state is bounded by watermark horizon × |types|.
    */
  def windowedEventCounts(
      events: DataFrame,
      watermarkDelay: String = "10 minutes",
      windowLength: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("window.start").as("hour"), col("event_type"), col("n_events"))

  /** Event-time SESSION windows (gap-based, the streaming form of
    * EventAnalytics.sessionize): per-user windows that extend while events
    * keep arriving within `gap` of each other and close `gap` after the
    * last one. Spark's native session_window state merges adjacent
    * windows; the watermark bounds state by evicting sessions that can no
    * longer grow — without it, every open session would live forever.
    */
  def sessionWindows(
      events: DataFrame,
      watermarkDelay: String = "10 minutes",
      gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))
}
