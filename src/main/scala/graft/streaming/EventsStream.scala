package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming surface.
  *
  * The reference has no stream-processing semantics — its "streaming" is
  * chunked batch ingestion (SURVEY §2.9; milestones/query-engine-
  * streaming-integration.md:10-45) plus a CDC bus for metadata. Both
  * collapse naturally onto Structured Streaming:
  *
  *  - chunked ingestion ≈ a file/socket source micro-batched into an
  *    append sink (each micro-batch = one ranger insert chunk, with the
  *    same atomic-commit upgrade Iceberg gives the batch path);
  *  - the CDC consumer ≈ readStream over the table of record.
  *
  * Beyond parity, a 100 TB training-data pipeline needs windowed
  * stream aggregation with late-data handling, so that is the surface
  * implemented here: event-time tumbling windows + watermark, and a
  * streaming dedup (dropDuplicates on event_id within the watermark) —
  * both stateful operators Spark manages per-key across executors.
  */
object EventsStream {

  /** Tumbling-window counts/sums per event_type with a watermark.
    * Works on any DataFrame with (ts: timestamp, event_type, value) —
    * batch or streaming (the plan is identical; Spark plans the
    * stateful version when the source is a stream). */
  def windowedAgg(events: DataFrame,
                  window: String = "1 hour",
                  watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("event_type"), org.apache.spark.sql.functions.window(col("ts"), window))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 2).as("total_value"))
      .select(col("event_type"),
              col("window.start").as("window_start"),
              col("n_events"), col("total_value"))

  /** Exactly-once-per-event_id streaming dedup within the watermark —
    * the streaming analog of exact dedup (state store holds seen IDs
    * until the watermark passes; bounded memory at scale). */
  def dedupStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicates("event_id")

  /** STREAM-STREAM interval join — attribution: every purchase pairs
    * with the same user's clicks from the preceding `within` window.
    * Both sides are watermarked and the join carries an event-time
    * RANGE condition, which is what lets Spark bound the join state:
    * a buffered click can be dropped once the watermark passes
    * click_ts + within, a buffered purchase once its own watermark
    * passes — state is ingest-rate x window, never history-sized.
    * (The other streaming joins in this library are stream-static;
    * this is the genuinely two-moving-sides shape.) Same plan runs
    * in batch for the offline backfill — the spec pins stream ==
    * batch row-for-row. */
  def attributionStream(clicks: DataFrame, purchases: DataFrame,
                        within: String = "30 minutes",
                        watermark: String = "1 hour"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("click_ts"),
              col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
              col("event_id").as("purchase_id"), col("value"))
    c.join(p,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $within"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
              col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** Session summary row emitted by [[sessionizeStream]]. */
  case class SessionSummary(user_id: Long, session_start: java.sql.Timestamp,
                            n_events: Long, total_value: Double)

  /** Open-session state held per user key (must be a top-level case
    * class so an Encoder can be derived for the state store). */
  case class Open(start: java.sql.Timestamp, last: java.sql.Timestamp,
                  n: Long, total: Double)

  /** Custom stateful sessionization with flatMapGroupsWithState: gap-
    * closed sessions per user (the streaming analog of the batch
    * q26_sessionize window query). State per key = the open session;
    * event-time timeout closes it when the watermark passes the gap.
    * This is the `KeyValueGroupedDataset` custom-state tier the brief
    * calls for; Spark shards the state store by key across executors. */
  def sessionizeStream(events: org.apache.spark.sql.Dataset[
      (Long, java.sql.Timestamp, Double)],
      gapSeconds: Long = 1800): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._

    def update(userId: Long,
               rows: Iterator[(Long, java.sql.Timestamp, Double)],
               state: GroupState[Open]): Iterator[SessionSummary] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        return Iterator(SessionSummary(userId, s.start, s.n, s.total))
      }
      val sorted = rows.toSeq.sortBy(_._2.getTime)
      var closed = List.empty[SessionSummary]
      var open = state.getOption
      sorted.foreach { case (_, ts, v) =>
        open match {
          case Some(s) if ts.getTime - s.last.getTime <= gapSeconds * 1000 =>
            open = Some(s.copy(last = ts, n = s.n + 1, total = s.total + v))
          case Some(s) =>
            closed ::= SessionSummary(userId, s.start, s.n, s.total)
            open = Some(Open(ts, ts, 1, v))
          case None =>
            open = Some(Open(ts, ts, 1, v))
        }
      }
      open.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.last.getTime + gapSeconds * 1000)
      }
      closed.reverseIterator
    }

    events
      .withWatermark("_2", s"$gapSeconds seconds")
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
      .toDF()
  }

  /** Chunked-ingestion analog: stream parquet files appearing under
    * `srcDir` into `destTable` in micro-batches (the ranger ClientData
    * path re-expressed; each micro-batch commits atomically). */
  /** NOTE: a native `.toTable` sink bypasses the engine's mutation
    * funnel — once the table has a commit log (any engine commit gives
    * it one) the appended files stay invisible to readers until the
    * next engine commit; call `engine.reconcileCommitLog(table)` after
    * the stream drains, or use [[engineIngest]], which rides the
    * funnel per micro-batch. */
  def ingest(spark: SparkSession, srcDir: String, destTable: String,
             checkpoint: String): StreamingQuery = {
    val schema = spark.read.parquet(srcDir).schema
    spark.readStream
      .schema(schema)
      .parquet(srcDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .toTable(destTable)
  }

  /** Index-maintaining variant of [[ingest]]: each micro-batch commits
    * through [[graft.engine.QueryEngine.appendBatch]], so the append
    * rides the FULL mutation funnel — per-table write lock, CDC
    * TableFiles event, and persisted-index file-diff sync — once per
    * micro-batch. Use this (never a raw `.toTable`) when the
    * destination carries CREATE INDEX objects: a native-sink append
    * adds files no sync ever sees, leaving every index silently
    * missing the streamed rows. Sync is O(files in the batch) per
    * batch (IndexManager diffs file hashes), so index freshness costs
    * the batch, not the table. foreachBatch is at-least-once under
    * retries: a replayed batch re-appends its rows (same caveat as
    * the reference's chunked ingest); revision-keyed exactly-once
    * table contents are [[UpsertStream]]'s job — that sink already
    * rides the funnel via MERGE. */
  def engineIngest(stream: DataFrame, engine: graft.engine.QueryEngine,
                   destTable: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) engine.appendBatch(destTable, batch)
        ()
    }

  /** Append change-feed over a catalog table — the CDC analog of the
    * reference's Astha bus (server/astha: SQLite triggers →
    * __cdc_log → polling consumer → subscribers reacting to new
    * table_files). Here the "trigger" is the filesystem itself: every
    * committed INSERT adds parquet files under the table location,
    * and a file-source stream tails them exactly once per checkpoint.
    * Subscribers consume a DataFrame instead of registry events —
    * at 100 TB this is how downstream pipelines (index maintenance,
    * aggregate refresh) follow a hot table without rescanning it.
    *
    * APPEND-ONLY boundary, stated plainly: like any file-source
    * stream, this feed is only valid while the table grows by new
    * files. A copy-on-write rewrite (UPDATE/DELETE/OPTIMIZE/ALTER)
    * replaces files under the stream and breaks or replays it — the
    * same restriction Iceberg's append-scan incremental reads have.
    * Follow a mutating table by streaming its snapshot feed instead. */
  def tableChanges(spark: SparkSession, table: String): DataFrame = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    spark.readStream
      .schema(spark.table(table).schema)
      .parquet(meta.location.toString)
  }
}
