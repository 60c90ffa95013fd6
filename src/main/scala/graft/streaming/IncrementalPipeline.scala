package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming restatement of the reference's incremental
  * micro-batching (SURVEY §2.10): the 520-second scheduler loops become
  * `Trigger.AvailableNow` micro-batches over a file source, progress
  * tables become the streaming checkpoint, and the per-batch upsert
  * runs in `foreachBatch`.
  *
  * The transform is injected as a pure DataFrame function — the SAME
  * function the batch path uses — so batch ≡ incremental equivalence is
  * a property of construction, proven over real data in
  * StreamingSpec.
  */
object IncrementalPipeline {

  /** Run `transform` over `srcDir` parquet as an incremental stream;
    * each micro-batch result is handed to `sink`. Returns after the
    * available data is drained (Trigger.AvailableNow). */
  def runAvailableNow(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      checkpointDir: String,
      transform: DataFrame => DataFrame,
      sink: (DataFrame, Long) => Unit,
      maxFilesPerTrigger: Option[Int] = None): Unit =
    drain(spark.readStream.format("parquet").schema(schema), srcDir,
      checkpointDir, transform, sink, maxFilesPerTrigger)

  /** The STREAMING media intake: the same file-arrival incremental
    * loop over Spark's `binaryFile` source — new assets landing in a
    * storage prefix decode exactly once (the checkpoint is the
    * progress table), the decode itself runs inside `transform` on
    * the content column (the mm_binary_intake path, incremental).
    * binaryFile's schema is FIXED by the source; streaming file
    * sources still demand it explicitly, so it is pinned here. */
  def runBinaryAvailableNow(
      spark: SparkSession,
      srcDir: String,
      checkpointDir: String,
      transform: DataFrame => DataFrame,
      sink: (DataFrame, Long) => Unit,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    import org.apache.spark.sql.types._
    val binarySchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    drain(spark.readStream.format("binaryFile").schema(binarySchema), srcDir,
      checkpointDir, transform, sink, maxFilesPerTrigger)
  }

  /** The AvailableNow loop behind every file stream (these two and
    * [[graft.fec.FecPipeline.amend]]): `reader` fixes the format and
    * schema, the rest is shared. */
  private[graft] def drain(
      reader: DataStreamReader,
      srcDir: String,
      checkpointDir: String,
      transform: DataFrame => DataFrame,
      sink: (DataFrame, Long) => Unit,
      maxFilesPerTrigger: Option[Int]): Unit = {
    val stream = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n)).load(srcDir)
    val q = transform(stream).writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .foreachBatch { (df: DataFrame, id: Long) => sink(df, id) }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Watermarked tumbling-window aggregation as a stream (the
    * reference's closest analog is the 365-day queue-eviction horizon,
    * `twitter_ingest_queue_get/main.py:55-56`). */
  def windowedCounts(events: DataFrame, watermark: String,
      window: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
}
