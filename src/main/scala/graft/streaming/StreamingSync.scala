package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Upsert
import graft.sinks.Sinks

/** Structured Streaming realization of the reference's incremental-sync
  * protocol (SURVEY.md §2.12):
  *
  *  - I1 cursor/watermark → `withWatermark` on event time (the cursor
  *    table becomes the streaming checkpoint dir);
  *  - I2 exactly-once-ish delivery → `foreachBatch` + the idempotent
  *    MERGE upsert, keyed on pk — replaying a micro-batch is a no-op;
  *  - I4 micro-batch pacing (the reference's per-page sleeps) →
  *    `Trigger.AvailableNow` / `Trigger.ProcessingTime`.
  *
  * Plus the idiomatic Spark extension the reference lacks: event-time
  * tumbling-window aggregation with late-data handling.
  */
object StreamingSync {

  /** File-source stream over a parquet directory (the stand-in for the
    * reference's paginated REST feed — each new file is a "page"). */
  def readEvents(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "4").parquet(dir)

  /** Tumbling-window count/sum per event_type with a watermark: late rows
    * beyond the delay are dropped, state is bounded — the scale-safe shape
    * of q28's batch aggregate. */
  def windowedAgg(events: DataFrame, watermarkDelay: String, windowLen: String): DataFrame =
    events
      // watermarks require TIMESTAMP; parquet NTZ event time is wall-clock
      // UTC here (session TZ is UTC), so the cast is value-preserving
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Streaming exact dedup (the reference's dedup-before-write posture,
    * ref: config/bigquery/bigquery.py:227-229, applied to a stream):
    * duplicates of a key arriving within the watermark delay are
    * dropped, and dedup state for keys older than the watermark is
    * evicted — state stays bounded by arrival rate × delay, never by
    * stream history. That eviction bound is what makes exact dedup
    * feasible on an unbounded 100 TB stream.
    */
  def dedupStream(events: DataFrame, pk: Seq[String], watermarkDelay: String): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(pk)

  /** Incremental snapshot maintenance: every micro-batch MERGE-upserts
    * into the parquet snapshot via the idempotent upsert + atomic swap —
    * the streaming replay of §3.1's batch lifecycle.
    *
    * The per-batch body is deliberately NOT wrapped in a blind driver
    * retry: the body's exists-check + swap sequence is not safely
    * re-enterable mid-swap (a retry that lands between snapshotSwap's
    * two renames would see `live` missing, take the first-batch branch,
    * and discard the accumulated snapshot). A failed batch instead
    * propagates and Structured Streaming's checkpoint replays it on
    * restart — the MERGE's idempotence is what makes THAT replay safe —
    * while the swap's `__old` directory stays on disk for recovery. */
  def syncToSnapshot(events: DataFrame, snapshotPath: String, checkpoint: String,
                     pk: Seq[String], cursor: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // protocol-aware existence/read/publish: rename swap by default,
        // the marker protocol under spark.graft.swap=marker (object-store
        // targets, where dir rename is a non-atomic copy)
        val merged =
          if (Sinks.snapshotExists(spark, snapshotPath))
            Upsert(Sinks.readSnapshot(spark, snapshotPath), batch, pk, cursor)
          else graft.operators.Dedup.latestWins(batch, pk, cursor)
        Sinks.snapshotPublish(merged, snapshotPath)
      }
      .start()

  /** Partition-scoped incremental snapshot maintenance — the 100 TB shape
    * of `syncToSnapshot`. The unpartitioned variant reads and rewrites the
    * WHOLE snapshot every micro-batch (rewrite amplification ∝ table size
    * × batch frequency); this one routes each micro-batch through
    * `Upsert.partitioned`, so a batch touching one partition of a 100 TB
    * snapshot reads and rewrites that one partition — the streaming replay
    * of the warehouse MERGE that touches matched rows only
    * (ref: config/bigquery/bigquery.py:206-271).
    *
    * `partOf` must be stable per pk and non-null (the partitioned-MERGE
    * contract; a null partition value fails the batch). Checkpoint replay
    * is safe end-to-end: the MERGE is idempotent per batch, and the
    * per-partition swap commit is crash-consistent —
    * `Upsert.partitioned` repairs an interrupted publish before merging
    * (Sinks.recoverPartitions), so a batch that died mid-commit
    * replays onto an intact snapshot.
    *
    * Partition-dir layout ONLY: a snapshot published under
    * `spark.graft.swap=marker` is rejected by `Upsert.partitioned` with a
    * hard error (its plain-path reads cannot see the marker layout, and
    * proceeding would silently fork the table).
    */
  def syncToSnapshot(events: DataFrame, snapshotPath: String, checkpoint: String,
                     pk: Seq[String], cursor: String,
                     partCol: String, partOf: Column): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Upsert.partitioned(snapshotPath, batch, pk, cursor, partCol, partOf)
        ()
      }
      .start()
}
