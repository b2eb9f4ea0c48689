package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Args(
  workload: String,
  seed: Long,
  seconds: Int,
  trace: Boolean,
  work: File,
  out: File,
  traceFile: File,
  tiny: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("work")), new File(need("out")), new File(need("trace-file")),
      m.get("scale").contains("tiny"))
  }
}

final case class Metric(name: String, value: Double, unit: String)

final case class Result(
  correct: Boolean,
  attempted: Long,
  failed: Long,
  e2e: Seq[Metric],
  layers: Seq[Metric],
  info: Map[String, Any],
  failures: Seq[String],
  spans: Seq[Spans.Span])

/** Heap and GC figures of one measured window. */
final case class Measured(heapPeakMiB: Double, gcMs: Double)

/** A measured window, from construction to `finish()`. */
final class Measure {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private def gcTotal = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  heapPools.foreach(_.resetPeakUsage())
  private val gc0 = gcTotal

  /** Peak heap is the sum of the heap pools' peaks since the start. */
  def finish(): Measured =
    Measured(heapPools.map(_.getPeakUsage.getUsed).sum / Loader.MiB, (gcTotal - gc0).toDouble)
}

/** A local StatsD endpoint: the loader workloads run with StatsD
  * monitoring on, as production does, and report here. Counts the
  * datagrams (one metric line each) it receives. */
final class StatsDSink {
  private val socket = new java.net.DatagramSocket(0, java.net.InetAddress.getLoopbackAddress)
  val port: Int = socket.getLocalPort
  val datagrams = new java.util.concurrent.atomic.AtomicLong()
  private val thread = new Thread(() => {
    val packet = new java.net.DatagramPacket(new Array[Byte](65536), 65536)
    try while (true) { socket.receive(packet); datagrams.incrementAndGet() }
    catch { case _: java.net.SocketException => () } // closed
  }, "statsd-sink")
  thread.setDaemon(true)
  thread.start()

  def close(): Unit = {
    socket.close()
    thread.join(5000)
  }
}

/** One benchmark run's state: the session, the always-on progress log,
  * the tracer (attached only in traced runs) and extra spans. */
final class Ctx(val args: Args) {
  val work: File = args.work
  var spark: SparkSession = _
  val progress = new ProgressLog
  val tracer = new Tracer
  lazy val statsd = new StatsDSink
  private var tracing = false
  private val extraSpans = mutable.ArrayBuffer.empty[Spans.Span]
  val runStartMs: Long = Util.nowMs

  /** Set-up repetitions; setup_s is their median. */
  val SetupReps = 3

  /** Run set-up `SetupReps` times, each on a fresh session; returns the
    * wall time of each (session start + input generation + warm-up). */
  def setupReps(body: Int => Unit): Seq[Double] =
    (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      restartSession()
      body(rep)
      Util.secondsSince(t0)
    }

  def restartSession(): Unit = {
    if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    spark = graft.Sessions.local("perfbench")
    spark.streams.addListener(progress)
  }

  def enableTracer(): Unit = if (!tracing) {
    spark.sparkContext.addSparkListener(tracer)
    tracing = true
  }

  def disableTracer(): Unit = if (tracing) {
    spark.sparkContext.removeSparkListener(tracer)
    tracing = false
  }

  def addSpan(layer: String, name: String, start: Long, end: Long): Unit =
    extraSpans += Spans.span(s"isolated-${extraSpans.size}", name, layer, start, end, Some("run"))

  def spans(batches: Seq[BatchInfo]): Seq[Spans.Span] = {
    tracer.quiesce()
    Spans.build(runStartMs, Util.nowMs, args.workload, batches, tracer, extraSpans.toSeq)
  }

  def env: Map[String, Any] = {
    val conf = spark.conf
    Map(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "java_vendor" -> System.getProperty("java.vendor"),
      "sessions_cpus" -> graft.Sessions.cpus,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "state_store_provider" -> conf.getOption("spark.sql.streaming.stateStore.providerClass").getOrElse(""),
      "jvm_locale" -> java.util.Locale.getDefault.toLanguageTag,
      "max_heap_mib" -> Runtime.getRuntime.maxMemory / Loader.MiB,
      "available_processors" -> Runtime.getRuntime.availableProcessors)
  }
}

/** Benchmark JVM entry point. Runs one workload and writes its record
  * (JSON) to `--out`, and in traced runs the spans to `--trace-file`.
  * `perfbench/run.py` builds, launches and reports; see README.md. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val ctx = new Ctx(args)
    val code =
      try {
        val res = args.workload match {
          case "enriched_drain" | "sdjson_partitioned" =>
            Loader.drain(ctx, Loader.spec(args.workload, args.seed, args.tiny))
          case "enriched_steady" =>
            Loader.steady(ctx, Loader.spec(args.workload, args.seed, args.tiny))
          case "query_mix" => QueryMix.run(ctx)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        def asMap(ms: Seq[Metric]) = ms.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap
        val record = mutable.LinkedHashMap[String, Any](
          "workload" -> args.workload,
          "seed" -> args.seed,
          "seconds" -> args.seconds,
          "trace" -> args.trace,
          "correct" -> res.correct,
          "attempted" -> res.attempted,
          "failed" -> res.failed,
          "e2e" -> asMap(res.e2e),
          "layers" -> asMap(res.layers),
          "info" -> res.info,
          "failures" -> res.failures.take(20),
          "env" -> ctx.env)
        if (args.trace) {
          Util.writeString(args.traceFile, Util.toJson(Map(
            "workload" -> args.workload, "seed" -> args.seed, "spans" -> res.spans)))
          record("trace_file") = args.traceFile.getPath
        }
        Util.writeString(args.out, Util.toJson(record))
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${args.workload} failed: $e")
          e.printStackTrace()
          1
      } finally {
        if (ctx.spark != null) ctx.spark.stop()
        ctx.statsd.close()
      }
    System.exit(code)
  }
}
