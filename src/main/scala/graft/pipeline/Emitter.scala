package graft.pipeline

import java.time.Instant

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._

import graft.functions.Tstamps

/** Micro-batch emitter: the Spark-native counterpart of the reference's
  * KinesisS3Emitter.emit (KinesisS3Emitter.scala:65-86) run inside
  * `foreachBatch`.
  *
  * Per batch:
  *   1. derive the row type (purpose-dependent, reference Common.scala:41-53),
  *   2. write good rows as newline-framed gzip text files, one file per
  *      partition value (the reference's one-object-per-flush semantics),
  *      named `[prefix-][partition-]yyyy-MM-dd-HHmmss-firstSeq-lastSeq.gz`
  *      under the date-decorated output dir (KinesisS3Emitter.scala:226-244,
  *      DynamicPath.scala:35-64); the batch meta and seq range are
  *      observed on this same execution,
  *   3. route bad rows (reading errors / upstream failures) as
  *      snowplow-badrows GenericError JSON lines to the dead-letter dir —
  *      synchronous, an upgrade over the reference's fire-and-forget
  *      KinesisSink.scala:97-107 (SURVEY §7.5.5).
  *
  * Scale notes (100 TB): the per-partition-value coalesce in exact-naming
  * mode serializes each partition value through one task — correct for
  * reference parity, a bottleneck for hot schemas at cluster scale. Set
  * `exactNaming=false` to keep Spark's parallel file naming (many part
  * files per partition, no rename step, no extra shuffle): the content
  * contract (gzip, newline-framed, partition-dir layout) is identical.
  * Writes stage into `_staging/batch=N` and move atomically per file, so
  * batch retries never leave partial output under the final prefix.
  */
object Emitter {

  final case class BatchResult(
    count: Long,
    badCount: Long,
    earliestTstamp: Option[Instant],
    files: Seq[String])

  /** Fixed backoff between output retries (reference
    * KinesisS3Emitter.scala:194-198: 10 000 ms); overridable for tests. */
  @volatile var retryBackoffMs: Long = 10000L

  private[pipeline] def retryForAtMost[A](maxTimeoutMs: Long, backoffMs: Long)(f: => A): A = {
    val deadline = System.nanoTime() + maxTimeoutMs * 1000000L
    @annotation.tailrec
    def attempt(): A = {
      val r = try Right(f) catch { case scala.util.control.NonFatal(e) => Left(e) }
      r match {
        case Right(a) => a
        case Left(e) if System.nanoTime() >= deadline =>
          throw new RuntimeException(
            s"Output failing continuously for over ${maxTimeoutMs}ms, giving up", e)
        case Left(_) =>
          Thread.sleep(math.max(1L, backoffMs))
          attempt()
      }
    }
    attempt()
  }

  /** Emit one micro-batch: a batch without bad rows is ONE Spark
    * execution, the staged write.
    *
    * @param df  batch frame with columns `value: string` (the record),
    *            `seq: any` (ordering id for file naming; nullable),
    *            `error: array<string>` (null = good record)
    * @param statsDEnabled  ignored: an Enriched batch's earliest collector
    *            tstamp is always part of its one observed aggregate
    */
  def emitBatch(
    df: DataFrame,
    config: PipelineConfig,
    batchId: Long,
    now: Instant = Instant.now(),
    exactNaming: Boolean = true,
    @deprecated("ignored; Enriched batches always observe the earliest collector tstamp", "0.1.0")
    statsDEnabled: Boolean = false): BatchResult = {

    val spark = df.sparkSession
    val rowType: Column = config.purpose match {
      case Purpose.SelfDescribingJson => RowTypes.partition(col("value"), col("error"))
      case _ =>
        when(col("error").isNotNull, lit(RowTypes.ReadingErrorName))
          .otherwise(lit(RowTypes.UnpartitionedName))
    }
    val typed = df.withColumn("row_type", rowType)
    // ReadingError rows go to the dead-letter channel, not the output,
    // like the reference's emit returning them to fail()
    // (KinesisS3Emitter.scala:83-84,100-105).
    val isBad = col("error").isNotNull || col("row_type") === RowTypes.ReadingErrorName

    // Batch meta (reference Batch.scala:36-43) and the batch-wide seq
    // range (the reference names all of a flush's objects with the
    // buffer's first/last Kinesis sequence number,
    // KinesisS3Emitter.scala:72-73) are observed on the staged write
    // itself, over every row ahead of the good/bad filter: no cache and
    // no extra pass over the batch.
    val metrics = Seq(
      min(col("seq")).cast("string").as("first"),
      max(col("seq")).cast("string").as("last"),
      count(lit(1)).as("n"),
      count_if(isBad).as("bad")) ++ (config.purpose match {
      case Purpose.Enriched => Seq(min(Tstamps.collectorTstamp(col("value"))).as("earliest"))
      case _ => Nil
    })

    val outRoot = PipelinePaths.stripScheme(config.output.s3.path)
    val staging = s"$outRoot/_staging/batch=$batchId"

    // Serializer seam (reference S3Loader.scala:41-44): resolve the
    // codec for the configured compression; unregistered → hard error
    // (same failure the reference's startup serializer selection gives).
    val codec = Serializers.resolve(config.output.s3.compression)
      .fold(msg => throw new IllegalStateException(msg), identity)

    // Reference retry semantics (KinesisS3Emitter.scala:116-148): keep
    // retrying the put with fixed backoff; after `maxTimeout` ms of
    // continuous failure, give up hard (the reference halts the JVM;
    // here the exception fails the streaming query, and the checkpoint
    // makes the batch replayable — same at-least-one-attempt-per-10s
    // behavior, stricter delivery).
    val (files, observed) = retryForAtMost(config.output.s3.maxTimeout, retryBackoffMs) {
      // An Observation reports once, so every attempt observes afresh.
      val observation = Observation()
      val toWrite = typed.observe(observation, metrics.head, metrics.tail: _*)
        .filter(!isBad)
        .select(col("value"), col("row_type"))
      // Exact naming: one object per row type. Only SelfDescribingJson
      // batches have several row types, so only they are exchanged by
      // row type; every other purpose has one good row type, whose one
      // object a coalesce writes from the task that reads the batch,
      // without a shuffle.
      val arranged =
        if (!exactNaming) toWrite
        else if (config.purpose == Purpose.SelfDescribingJson) toWrite.repartition(col("row_type"))
        else toWrite.coalesce(1)
      arranged.write
        .mode(SaveMode.Overwrite)
        .partitionBy("row_type")
        .option("compression", codec.codecValue)
        .text(staging)
      // The metrics arrive through the listener bus once the write has
      // finished; a report that never comes fails this attempt, so the
      // maxTimeout budget bounds the wait like any other failure.
      val m = Await.result(observation.future, math.max(1L, config.output.s3.maxTimeout).millis)
      val first = Option(m.getAs[String]("first")).getOrElse(batchId.toString)
      val last = Option(m.getAs[String]("last")).getOrElse(batchId.toString)
      (commitStaged(spark, config.output.s3, staging, first, last, now, codec), m)
    }

    // Bad rows → GenericError JSON lines, dead-letter directory. Only a
    // batch that has some pays this second execution; it recomputes the
    // batch, which sees the same rows as the observed write because a
    // checkpointed micro-batch re-reads the same source offsets.
    val badCount = observed.getAs[Long]("bad")
    if (badCount > 0) {
      typed.filter(isBad)
        .select(BadRows.asJson(BadRows.genericError(
          col("value"),
          coalesce(col("error"), array(lit("Error writing raw event to output stream"))),
          lit(now.toString).cast("timestamp"))).as("value"))
        .write.mode(SaveMode.Append).text(PipelinePaths.stripScheme(config.output.bad.streamName))
    }

    val earliest = config.purpose match {
      case Purpose.Enriched => Option(observed.getAs[java.sql.Timestamp]("earliest")).map(_.toInstant)
      case _ => None
    }
    BatchResult(observed.getAs[Long]("n"), badCount, earliest, files)
  }

  /** Move each staged `row_type=X/part-*.txt.gz` file to its final
    * reference-style name; returns the final paths.
    */
  private def commitStaged(
    spark: org.apache.spark.sql.SparkSession,
    s3: S3OutputConfig,
    staging: String,
    firstSeq: String,
    lastSeq: String,
    now: Instant,
    codec: Serializers.Codec): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val stagingPath = new Path(staging)
    val fs = stagingPath.getFileSystem(conf)
    if (!fs.exists(stagingPath)) return Nil

    // Final object = <s3.path>/<decorated dateFormat>/<fileName> — same
    // absolute layout as the reference's bucket + [outputDirectory/]key
    // split (KinesisS3Emitter.scala:208-220,226-244).
    val root = new Path(PipelinePaths.stripScheme(s3.path))

    // Plan the rename fan-out on the driver (pure metadata: names are a
    // function of listing order + seq range), then EXECUTE the per-file
    // mkdirs/delete/rename/postCommit on executors when the batch has
    // many part files — at 100× with exactNaming=false this loop is
    // otherwise the per-batch serial section. Small batches stay on the
    // driver: a Spark job costs more than a handful of local FS ops.
    val dirs = fs.listStatus(stagingPath).filter(_.isDirectory)
    val moves: Seq[(String, String)] = dirs.toSeq.flatMap { d =>
      val dirName = d.getPath.getName // row_type=<escaped value>
      val value = unescapePartitionValue(dirName.stripPrefix("row_type="))
      val partition = if (value == RowTypes.UnpartitionedName) None else Some(value)
      val parts = fs.listStatus(d.getPath)
        .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName)
      parts.zipWithIndex.map { case (f, i) =>
        val key = DynamicPath.relativeKey(s3, firstSeq, lastSeq, partition, now)
        val suffix = if (parts.length > 1) f"-part$i%05d" else ""
        val decorated = DynamicPath.decorateDirectoryWithTime(s"$key$suffix${codec.extension}", now)
        (f.getPath.toString, new Path(root, decorated).toString)
      }
    }

    // Serializes only the hook + conf into the executor closure; a
    // user-registered postCommit that fans out must therefore be
    // serializable AND idempotent (it re-runs on task retry — the
    // built-in codecs' hooks are None).
    val hook = codec.postCommit
    def moveOne(c: org.apache.hadoop.conf.Configuration)(srcS: String, destS: String): Unit = {
      val src = new Path(srcS)
      val dest = new Path(destS)
      val f = dest.getFileSystem(c)
      // CONCURRENT-ATTEMPT safety (the executor path can run the same
      // move twice IN PARALLEL — task retry racing a zombie/speculative
      // attempt — unlike the old driver-sequential loop): dest content
      // is a deterministic function of (src, dest) for this batch, so a
      // dest that exists was committed by a completed rename of the same
      // bytes and must NEVER be deleted. The losing attempt's job is
      // only to drop the staged copy. (The old exists(src)/delete(dest)/
      // rename sequence let a stale attempt delete the winner's dest and
      // then fail its own rename — both copies gone.)
      if (f.exists(dest)) {
        if (f.exists(src)) f.delete(src, false)
        hook.foreach(h => h(c, dest))
        return
      }
      if (!f.exists(src)) {
        // the same race as the rename-false path below: a concurrent
        // duplicate attempt can complete the rename between our dest
        // check and this src check — re-check dest before crying loss
        if (f.exists(dest)) { hook.foreach(h => h(c, dest)); return }
        throw new java.io.IOException(
          s"staged file $srcS is gone and $destS does not exist — commit state lost")
      }
      f.mkdirs(dest.getParent)
      if (!f.rename(src, dest)) {
        // rename reports failure as `false`, not an exception. One
        // legitimate false: a concurrent duplicate attempt renamed src
        // first — then dest now holds the committed object and this
        // attempt is a success. Anything else must surface so the
        // batch-level retry/maxTimeout budget actually fires.
        if (!f.exists(dest))
          throw new java.io.IOException(s"rename $srcS -> $destS failed")
      }
      hook.foreach(h => h(c, dest))
    }

    // Fan-out pays one scheduler round-trip per batch to buy parallel
    // renames — worth it exactly when a rename is a REMOTE call (s3a
    // copy+delete ~50-200 ms, hdfs namenode RPC ~ms) and the move count
    // amortizes the job. On a LOCAL filesystem a rename is microseconds,
    // so the job overhead can never win at realistic batch sizes —
    // measured at sf0.1 the executor path cost q68 ~0.6 s/run over the
    // driver loop. Hence a scheme-aware default (remote: 16, local:
    // 512) with an explicit conf override for tuning and tests.
    val fanOutThreshold = spark.conf.getOption("spark.graft.commit.fanOutThreshold")
      .map { s =>
        // fail FAST and CLEARLY on a malformed knob (the load-gate
        // parsing precedent): a bare NumberFormatException deep in a
        // batch commit would not name the conf key
        try s.trim.toInt
        catch { case _: NumberFormatException => throw new IllegalArgumentException(
          s"spark.graft.commit.fanOutThreshold must be an integer, got '$s'") }
      }
      .getOrElse(if (fs.getScheme == "file") 512 else 16)
    if (moves.length <= fanOutThreshold)
      moves.foreach { case (s, d) => moveOne(conf)(s, d) }
    else {
      val confBc = spark.sparkContext.broadcast(
        new org.apache.spark.SerializableWritable(conf))
      try
        spark.sparkContext
          .parallelize(moves, math.min(moves.length, spark.sparkContext.defaultParallelism))
          .foreachPartition { it =>
            it.foreach { case (s, d) => moveOne(confBc.value.value)(s, d) }
          }
      finally confBc.destroy()
    }
    fs.delete(stagingPath, true)
    // Clean empty _staging parent if this was the last batch dir.
    val stagingParent = stagingPath.getParent
    if (fs.exists(stagingParent) && fs.listStatus(stagingParent).isEmpty)
      fs.delete(stagingParent, true)
    moves.map(_._2)
  }

  /** Spark escapes partition values in dir names (e.g. '/' → '%2F'). */
  private[pipeline] def unescapePartitionValue(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 3 <= s.length) {
        try { sb += Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar; i += 3 }
        catch { case _: NumberFormatException => sb += s.charAt(i); i += 1 }
      } else { sb += s.charAt(i); i += 1 }
    }
    sb.toString
  }

}
