package graft.pipeline

import java.time.Instant

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.Fmt

/** Streaming lag/health metrics — the observability surface a 100×
  * operator watches FIRST (is the stream keeping up, how far behind the
  * watermark is, how big is state growing), emitted per micro-batch
  * through the same StatsD wire format as the batch-meta report (O17,
  * reference StatsD.scala:51-91 — extended here to the streaming
  * runtime the reference's KCL worker never had).
  *
  * Per QueryProgressEvent:
  *   `stream.input_rows` (count), `stream.input_rows_per_sec`,
  *   `stream.processed_rows_per_sec`, `stream.trigger_ms`,
  *   `stream.watermark_lag_sec` (only once a watermark exists),
  *   `stream.state_rows`, `stream.state_bytes` (summed over stateful
  *   operators; only when the query has state).
  *
  * The numeric extraction ([[StreamingMetrics.health]]) and formatting
  * ([[StreamingMetrics.metrics]]) are pure and golden-testable; the
  * transport is a seam (`sink`) so specs capture lines in memory while
  * production uses the best-effort UDP sender ([[StreamingMetrics
  * .udpSink]] — metrics must never fail the pipeline). Listener-bus
  * delivery is async and off the hot path: a slow sink delays metric
  * lines, never a micro-batch.
  */
final class StreamingMetrics(config: StatsDConfig, sink: Seq[String] => Unit,
                             now: () => Instant = () => Instant.now())
    extends StreamingQueryListener {

  override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = {
    val lines = StreamingMetrics.metrics(StreamingMetrics.health(event.progress), now())
      .map(m => StatsD.format(config, m))
    if (lines.nonEmpty) sink(lines)
  }

  override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object StreamingMetrics {

  /** One micro-batch's health numbers, decoupled from Spark's progress
    * class so the metric mapping is constructible (and golden-testable)
    * without a streaming runtime. */
  final case class BatchHealth(
    batchId: Long,
    numInputRows: Long,
    inputRowsPerSecond: Double,
    processedRowsPerSecond: Double,
    triggerMs: Long,
    watermark: Option[Instant],
    stateRows: Option[Long],
    stateBytes: Option[Long])

  def health(p: StreamingQueryProgress): BatchHealth = {
    val watermark = Option(p.eventTime.get("watermark")).flatMap { w =>
      try Some(Instant.parse(w)) catch { case _: Exception => None }
    // Spark reports the epoch as a PLACEHOLDER until the watermark
    // first advances — key presence is not advancement, and a
    // ~1.77-billion-second "lag" gauge would trip any alert
    }.filter(_.getEpochSecond > 0L)
    val state = p.stateOperators.toSeq
    BatchHealth(
      batchId = p.batchId,
      numInputRows = p.numInputRows,
      // Spark reports NaN/Infinity for the first batch or an idle
      // trigger — clamp to 0: a gauge line must stay parseable
      inputRowsPerSecond = sanitize(p.inputRowsPerSecond),
      processedRowsPerSecond = sanitize(p.processedRowsPerSecond),
      triggerMs = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
      watermark = watermark,
      stateRows = if (state.isEmpty) None else Some(state.map(_.numRowsTotal).sum),
      stateBytes = if (state.isEmpty) None else Some(state.map(_.memoryUsedBytes).sum))
  }

  private def sanitize(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) 0.0 else d

  /** The wire metrics for one batch: rates format with one decimal and
    * a `.` point in any JVM locale (a fixed format keeps goldens stable);
    * the watermark lag is measured against the caller's `now` so tests
    * can pin it. */
  def metrics(h: BatchHealth, now: Instant): List[StatsD.KVMetric] = {
    val base = List(
      StatsD.Count("stream.input_rows", h.numInputRows),
      StatsD.Gauge("stream.input_rows_per_sec", Fmt.fixed(h.inputRowsPerSecond, 1)),
      StatsD.Gauge("stream.processed_rows_per_sec", Fmt.fixed(h.processedRowsPerSecond, 1)),
      StatsD.Gauge("stream.trigger_ms", h.triggerMs.toString))
    val lag = h.watermark.map(w =>
      StatsD.Gauge("stream.watermark_lag_sec",
        java.time.Duration.between(w, now).toSeconds.toString))
    val state = (h.stateRows, h.stateBytes) match {
      case (Some(r), Some(b)) => List(
        StatsD.Gauge("stream.state_rows", r.toString),
        StatsD.Gauge("stream.state_bytes", b.toString))
      case _ => Nil
    }
    base ++ lag.toList ++ state
  }

  /** Best-effort UDP transport, one socket + one hostname resolution
    * per metric GROUP (≤ 7 lines per micro-batch — the per-line shape
    * would pay socket create/close and DNS seven times per batch,
    * forever; same one-socket-per-report stance as [[StatsD.report]]). */
  def udpSink(config: StatsDConfig): Seq[String] => Unit = { lines =>
    try {
      val socket = new java.net.DatagramSocket()
      try {
        val ip = java.net.InetAddress.getByName(config.hostname)
        lines.foreach { line =>
          val bytes = line.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          socket.send(new java.net.DatagramPacket(bytes, bytes.length, ip, config.port))
        }
      } finally socket.close()
    } catch { case scala.util.control.NonFatal(_) => () }
  }
}
