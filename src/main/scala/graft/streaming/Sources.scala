package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Envelopes

/** Production source layer (SURVEY §2.1). Every reference app consumes one
  * of three Kafka families (utils/MyKafkaUtil.java:23-45):
  *
  *  - S1/S2: a raw topic as a value-string stream,
  *  - S3: the `topic_db` Maxwell CDC firehose,
  *  - S4: the Debezium table_process config stream.
  *
  * The transforms downstream of these are the SAME functions the
  * correctness gates drive through file-fed streaming queries
  * ([[StreamHarness]]/`SparkEntry` q28-q52) — this file is the thin
  * `readStream` binding in front of them, so the tested logic and the
  * production logic are one code path. (No broker exists in the build/test
  * environment; [[fileValues]] binds the same parsers to file drops, and
  * [[graft.apps.GmallApp]] holds the full wiring.)
  */
object Sources {

  /** S1/S2 — one Kafka topic as a streaming DataFrame with a single
    * string `value` column (the shape every Envelopes parser takes).
    * `extra` passes through any further source option — most relevantly
    * `maxOffsetsPerTrigger` (per-batch backpressure bound: size it so
    * batchRows/partitions fits executor memory at the deployed SF; the
    * reference relies on Flink's credit-based backpressure for the same
    * job). */
  def kafkaValues(
      spark: SparkSession,
      bootstrap: String,
      topic: String,
      groupId: String,
      startingOffsets: String = "earliest",
      extra: Map[String, String] = Map.empty): DataFrame =
    extra.foldLeft(
        spark.readStream.format("kafka")
          .option("kafka.bootstrap.servers", bootstrap)
          .option("subscribe", topic)
          .option("kafka.group.id", groupId)
          .option("startingOffsets", startingOffsets)
          .option("failOnDataLoss", "false")) {
        case (r, (k, v)) => r.option(k, v)
      }
      .load()
      .select(col("value").cast("string").as("value"))

  /** S3 — the parsed, clean `topic_db` CDC stream over a `value` frame
    * ([[kafkaValues]] in production, [[fileValues]] for file drops):
    * dirty rows routed out, exactly like the gate's
    * [[graft.core.TopicDb]] synthesis. */
  def topicDb(values: DataFrame): DataFrame =
    Envelopes.cleanDirty(Envelopes.parseMaxwell(values))._1

  /** Behavior-log stream (`topic_log`) over a `value` frame, parsed and
    * cleaned. */
  def topicLog(values: DataFrame): DataFrame =
    Envelopes.cleanDirty(Envelopes.parseLog(values))._1

  /** S4 — the Debezium config stream over a `value` frame, projected to a
    * flat (op, ts_ms, fields…) shape; the DIM app folds it into its
    * routing table per micro-batch ([[graft.apps.GmallApp.configQuery]]).
    * A delete op carries its row in `before` (after is null), so the key
    * coalesces across both sides. */
  def configStream(values: DataFrame): DataFrame =
    Envelopes.cleanDirty(Envelopes.parseDebeziumConfig(values))._1
      .select(col("op"), col("ts_ms"),
        coalesce(col("after.source_table"), col("before.source_table")).as("source_table"),
        col("after.sink_table").as("sink_table"),
        col("after.sink_columns").as("sink_columns"),
        col("after.sink_pk").as("sink_pk"),
        col("after.sink_extend").as("sink_extend"))

  /** File-drop source — the data-lake replay binding next to
    * [[kafkaValues]]: stream a directory of parquet chunks with a single
    * string `value` column (envelope JSON), one-or-more files per
    * micro-batch in modification order. This is the EXECUTED source path:
    * every streaming correctness gate drives its operators through
    * exactly this shape ([[StreamHarness.runFiles]]), so the binding the
    * sandbox can actually run and the Kafka binding it cannot share all
    * downstream parsing/transform code. `maxFilesPerTrigger` is the
    * file-source backpressure bound (the `maxOffsetsPerTrigger`
    * analogue). */
  def fileValues(
      spark: SparkSession,
      dir: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream.schema(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType))))
    (if (maxFilesPerTrigger > 0)
       r.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
     else r)
      .parquet(dir)
  }
}
