package graft.streaming

import graft.operators.{Cdc, Chunker, ParquetWatermarkStore, WatermarkStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import java.sql.Timestamp

/** Structured-Streaming form of the CDC pipeline.
  *
  * The reference's "stream" is a poll loop: `time.sleep(300)` between full
  * cycles (`controller/controller.py:17-35`, T1). The honest Spark analog
  * is a micro-batch stream with `Trigger.ProcessingTime("300 seconds")` and
  * `foreachBatch` doing exactly the reference's per-batch work — transform,
  * embed, idempotent upsert, watermark commit — with checkpointing
  * replacing the hand-rolled watermark table for source progress (the
  * explicit watermark store is still maintained for parity with S6/S7).
  *
  * Scale: file/Kafka/JDBC-CDC sources all fit this shape; `foreachBatch`
  * gives per-batch transactional sinks, and the embed stage is the only
  * non-codegen barrier (isolated projection).
  */
object CdcStream {

  /** Build the streaming pipeline over a file-source directory of parquet
    * drops (the MySQL-poll stand-in). Each micro-batch runs the polling
    * cycle's own tail ([[Cdc.indexDelta]]: chunk→embed→upsert, then the
    * watermark advance) with deterministic chunks on `orderCol` —
    * `foreachBatch` is the engine's `fetch_and_index_data`
    * (`service_layer/service.py:48-80`). */
  def pipeline(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      stateDir: String,
      sinkDir: String,
      tableName: String,
      changeCol: String = "ts",
      orderCol: String = "event_id",
      chunkSize: Int = Chunker.DefaultChunkSize,
      triggerInterval: String = "300 seconds",
      onAfterUpsert: () => Unit = () => ()): DataStreamWriter[org.apache.spark.sql.Row] = {

    val stream = spark.readStream.schema(schema).parquet(inputDir)
    val store = ParquetWatermarkStore(stateDir)
    // T3 window, streaming form: the shared tail commits the sink, then
    // the watermark through this store — so `onAfterUpsert` runs in the
    // gap between the two. A crash HERE (sink written, watermark not
    // committed, micro-batch not committed) makes the restarted query
    // re-run the whole batch — content-hash ids turn that re-run into an
    // idempotent overwrite (crash-injection-tested in StreamingSpec)
    val hooked = new WatermarkStore {
      def get(t: String): Option[Timestamp] = store.get(t)
      def readAll(): Map[String, Timestamp] = store.readAll()
      def update(t: String, ts: Timestamp, onBeforeCommit: () => Unit): Unit = {
        onAfterUpsert()
        store.update(t, ts, onBeforeCommit)
      }
    }

    stream.writeStream
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .option("checkpointLocation", s"$stateDir/_checkpoint_$tableName")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) { // P6 empty-delta skip
          // Strict-> parity vs the explicit store: the checkpoint already
          // dedups files, the filter reproduces T2 semantics for rows.
          val delta = Cdc.deltaScan(batch, changeCol, store.get(tableName)).cache()
          try {
            val agg = delta.agg(count(lit(1)), max(col(changeCol))).collect()(0)
            if (agg.getLong(0) > 0L)
              // a query's micro-batches run one at a time: no lock to share
              Cdc.indexDelta(batch.sparkSession, delta, tableName, deterministicChunks = true,
                orderCol, chunkSize, sinkDir, Cdc.DefaultNamespace, hooked,
                Cdc.asTimestamp(agg.get(1)), commitLock = new Object)
          } finally { delta.unpersist(); () }
        }
      }
  }

  /** Run one synchronous drain of all available input (test harness):
    * start with availableNow semantics, process, stop. */
  def runOnce(writer: DataStreamWriter[org.apache.spark.sql.Row]): Unit = {
    val q: StreamingQuery = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** Cross-micro-batch exact dedup (T3 hardening for at-least-once
    * sources): rows carrying the same key within the watermark horizon are
    * emitted once, however many drops re-deliver them. State is bounded by
    * the horizon — expired keys are evicted with the watermark, which is
    * the only way streaming dedup state stays finite at 100 TB/day
    * (`dropDuplicates` without a watermark grows state forever). */
  def dedupedStream(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      keyCols: Seq[String],
      tsCol: String = "ts",
      horizon: String = "1 hour"): DataFrame =
    spark.readStream.schema(schema).parquet(inputDir)
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream inner join within an event-time bound (T4/T5
    * extension): left rows match right rows with the same key whose
    * timestamp falls in [left.ts - bound, left.ts + bound]. BOTH sides
    * carry watermarks and the join condition bounds event time in both
    * directions, so Spark can evict matched-out state — the only shape
    * under which stream-stream join state stays finite (an unbounded
    * condition accumulates both streams forever). */
  def streamStreamJoin(
      spark: SparkSession,
      leftDir: String,
      leftSchema: StructType,
      rightDir: String,
      rightSchema: StructType,
      key: String,
      leftTs: String = "ts",
      rightTs: String = "ts",
      bound: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame = {
    val left = spark.readStream.schema(leftSchema).parquet(leftDir)
      .withWatermark(leftTs, lateness).alias("l")
    val right = spark.readStream.schema(rightSchema).parquet(rightDir)
      .withWatermark(rightTs, lateness).alias("r")
    left.join(
      right,
      expr(s"l.$key = r.$key AND " +
        s"r.$rightTs >= l.$leftTs - interval '$bound' AND " +
        s"r.$rightTs <= l.$leftTs + interval '$bound'"))
  }

  /** Windowed streaming aggregation (T4 coverage): tumbling event-time
    * window with lateness watermark over an event stream. */
  def windowedCounts(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      tsCol: String = "ts",
      window_ : String = "1 hour",
      lateness: String = "10 minutes"): DataFrame =
    spark.readStream.schema(schema).parquet(inputDir)
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
}
