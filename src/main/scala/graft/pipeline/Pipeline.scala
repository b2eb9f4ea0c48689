package graft.pipeline

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The streaming pipeline: Structured Streaming counterpart of the
  * reference's KCL dataflow (KinesisS3Pipeline.scala:38-51 →
  * KinesisS3Emitter.scala:65-86).
  *
  *   file/stream source → (value, seq, error)
  *   → foreachBatch { partitioned gzip emit + bad-row dead-letter }
  *
  * Mapping of the reference's pieces:
  *   - KCL worker/shard leases (KinesisSourceExecutor.scala:44-151) →
  *     Spark source tasks + the streaming checkpoint dir (exactly-once
  *     file output, an upgrade over KCL at-least-once; SURVEY §2.2).
  *   - BasicMemoryBuffer byte/record/time flush limits (Config.scala:172)
  *     → trigger interval (timeLimit) + `maxBytesPerTrigger` admission
  *     (byteLimit; see [[FileSource]] for the full mapping).
  *   - StatsD per-flush report (KinesisS3Emitter.scala:74-75) → each
  *     micro-batch's [[Emitter.BatchResult]] (count + earliest collector
  *     tstamp, observed on the emit's own write), reported after the
  *     emit in both run modes.
  *
  * Scale: the per-batch plan is a narrow projection (no shuffle except
  * the optional exact-naming coalesce in the Emitter); source
  * parallelism = input file/shard count; partitioned write parallelism =
  * partition-value count (exact naming) or task count (scalable naming).
  */
object Pipeline {

  final case class Result(
    batches: Seq[Emitter.BatchResult],
    observedMeta: Seq[StatsD.Meta])

  /** Build the per-record frame from a line source: `value`, `seq`,
    * `error` (null: the identity transform can't fail, matching
    * IdentityTransformer.scala:25-38).
    *
    * `seq` is the Kinesis-sequence-number slot for file naming. A
    * sequence-numbered source (e.g. [[ShardedSource]], or a real Kinesis
    * adapter where the number is RECORD METADATA, not payload) provides
    * its own `seq` column and wins; otherwise the caller's `seqExpr`
    * over `value` (e.g. the first TSV field) stands in.
    */
  def records(lines: DataFrame, seqExpr: Option[Column]): DataFrame = {
    val seqd =
      if (lines.columns.contains("seq")) lines
      else lines.withColumn("seq", seqExpr.getOrElse(lit(null)).cast("string"))
    seqd
      .withColumn("seq", col("seq").cast("string"))
      .withColumn("error", lit(null).cast("array<string>"))
  }

  /** Run until the source is drained (Trigger.AvailableNow), then return
    * per-batch results + observed meta. The offline equivalent of one
    * buffer-flush cycle; continuous mode uses the same plan with a
    * ProcessingTime trigger (buffer.timeLimit).
    */
  def runOnce(
    spark: SparkSession,
    config: PipelineConfig,
    seqExpr: Option[Column] = None,
    checkpointDir: Option[String] = None,
    exactNaming: Boolean = true,
    now: Option[Instant] = None,
    source: Source = FileSource): Result = {

    val resolvedCheckpoint =
      checkpointDir.getOrElse(PipelinePaths.stripScheme(config.output.s3.path) + "/_checkpoint")
    val lines = source.lines(spark, config, Some(resolvedCheckpoint))

    val results = new ConcurrentLinkedQueue[Emitter.BatchResult]()

    val query = records(lines, seqExpr).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", resolvedCheckpoint)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        results.add(emitAndReport(df, config, batchId, now.getOrElse(Instant.now()), exactNaming))
        ()
      }
      .start()
    query.awaitTermination()

    import scala.jdk.CollectionConverters._
    val batches = results.asScala.toSeq
    Result(batches, batches.map(meta))
  }

  private def meta(res: Emitter.BatchResult): StatsD.Meta = StatsD.Meta(res.earliestTstamp, res.count)

  /** Emit one micro-batch, then report its meta to StatsD, as the
    * reference does after each successful emit
    * (KinesisS3Emitter.scala:74-75). */
  private def emitAndReport(df: DataFrame, config: PipelineConfig, batchId: Long,
                            now: Instant, exactNaming: Boolean): Emitter.BatchResult = {
    val res = Emitter.emitBatch(df, config, batchId, now = now, exactNaming = exactNaming)
    for (m <- config.monitoring; sd <- m.statsd) StatsD.report(sd, meta(res))
    res
  }

  /** Continuous mode: same per-batch plan, ProcessingTime trigger from
    * the buffer's timeLimit (O5 mapping), StatsD per batch. Blocks.
    */
  def runContinuous(spark: SparkSession, config: PipelineConfig,
                    source: Source = FileSource): Unit = {
    val lifecycle = config.monitoring.flatMap(_.snowplow).map { sp =>
      val lc = new Lifecycle(sp.path, sp.appId)
      lc.start()
      lc
    }
    // O19 crash reporting: query death with an exception → failure event
    // on the tracking channel (reference Monitoring.scala:62-77).
    val crashListener = lifecycle.map { lc =>
      val l = new CrashListener(lc)
      spark.streams.addListener(l)
      l
    }
    // Per-micro-batch lag/health metrics on the same StatsD channel as
    // the batch-meta report: rows/s, trigger time, watermark lag, state
    // size — the continuous-mode observability surface.
    val healthListener = config.monitoring.flatMap(_.statsd).map { sd =>
      val l = new StreamingMetrics(sd, StreamingMetrics.udpSink(sd))
      spark.streams.addListener(l)
      l
    }
    val continuousCheckpoint = PipelinePaths.stripScheme(config.output.s3.path) + "/_checkpoint"
    val query = records(source.lines(spark, config, Some(continuousCheckpoint)), None).writeStream
      .trigger(Trigger.ProcessingTime(math.max(1000L, config.buffer.timeLimit)))
      .option("checkpointLocation", continuousCheckpoint)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        try emitAndReport(df, config, batchId, Instant.now(), exactNaming = true)
        catch {
          case scala.util.control.NonFatal(e) =>
            lifecycle.foreach(_.storageWriteFailed(String.valueOf(e.getMessage)))
            throw e
        }
        ()
      }
      .start()
    try query.awaitTermination()
    finally {
      healthListener.foreach(spark.streams.removeListener)
      crashListener.foreach(spark.streams.removeListener)
      lifecycle.foreach(_.shutdown())
    }
  }

}
