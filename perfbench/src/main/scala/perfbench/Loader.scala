package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.pipeline._

/** The three loader workloads. Each drives the pipeline only through
  * `Pipeline.runOnce` / `Pipeline.runContinuous` over `FileSource`, times
  * the calls from outside, and reads the committed objects back to check
  * them. */
object Loader {

  /** Sizes of one workload: `files` × `perFile` records make a backlog,
    * drained `filesPerBatch` files per micro-batch; each set-up warms up
    * on a drain of the first `warmFiles` files. The buffer's byte limit
    * is set between `filesPerBatch` and one more file of the generated
    * backlog, so the batch count never depends on the seed. */
  final case class Sizing(files: Int, perFile: Int, filesPerBatch: Int, warmFiles: Int)

  final case class Spec(
    purpose: Purpose,
    kind: Gen.Kind,
    seqExpr: Column,
    sizing: Sizing)

  val MiB: Double = 1024.0 * 1024.0
  /** Suffix of every dead-letter directory; [[ExecClass]] finds bad-row
    * writes by it. */
  val DeadLetter: String = ExecClass.DeadLetter
  /** Backlog tstamps start here; the open-loop workload stamps wall time. */
  val BaseMs: Long = 1767225600000L // 2026-01-01T00:00:00Z

  /** `txn_id`, the 8th TSV field, carries the enriched record's sequence number. */
  val enrichedSeq: Column = substring_index(substring_index(col("value"), "\t", 8), "\t", -1)
  val jsonSeq: Column = regexp_extract(col("value"), "([0-9]{12})", 1)

  def spec(name: String, seed: Long, tiny: Boolean): Spec = name match {
    case "enriched_drain" =>
      // ~1.6 MiB files, one ~10 MiB micro-batch per drain: a run's
      // window holds about four drains, whose median rides out a burst
      // of load from other tenants of the host
      Spec(Purpose.Enriched, Gen.Enriched, enrichedSeq,
        if (tiny) Sizing(2, 400, 1, 1) else Sizing(6, 2600, 6, 6))
    case "sdjson_partitioned" =>
      // ~256 KiB files, ~1 MiB micro-batches, 2 batches per drain. Only
      // two drains fit a run, so the median cannot drop a slow first one:
      // the set-ups warm up on the whole backlog.
      Spec(Purpose.SelfDescribingJson, new Gen.SelfDescribing(seed), jsonSeq,
        if (tiny) Sizing(2, 500, 1, 2) else Sizing(8, 1900, 4, 8))
    case "enriched_steady" =>
      Spec(Purpose.Enriched, Gen.Enriched, enrichedSeq,
        if (tiny) Sizing(1, 200, 1, 1) else Sizing(4, 1000, 4, 4))
  }

  /** The open loop's byte limit: no cap, the 1 s trigger sets the batch. */
  val SteadyByteLimit: Long = 64L << 20

  def byteLimit(spec: Spec, backlog: Gen.Written): Long =
    ((spec.sizing.filesPerBatch + 0.5) * backlog.bytes / spec.sizing.files).toLong

  /** The loader's configuration as production runs it: gzip, a 1 s
    * time limit, and StatsD monitoring on (pointed at the run's local
    * [[StatsDSink]]), so the Emitter computes each enriched batch's
    * earliest collector tstamp. */
  def config(ctx: Ctx, spec: Spec, input: File, out: File, bad: File, byteLimit: Long): PipelineConfig =
    PipelineConfig(
      region = None,
      purpose = spec.purpose,
      input = InputConfig("perfbench", input.getAbsolutePath, InitialPosition.TrimHorizon, 10000),
      output = OutputConfig(
        S3OutputConfig(out.getAbsolutePath, None, Some("graft"), Compression.Gzip, 120000L),
        BadOutputConfig(bad.getAbsolutePath)),
      buffer = BufferConfig(byteLimit, 500L, 1000L),
      monitoring = Some(MonitoringConfig(Some(StatsDConfig("127.0.0.1", ctx.statsd.port, Map.empty, None)))))

  /** Records when each committed object first becomes visible under the
    * output root, polling every 10 ms on its own thread or on the
    * caller's (open-loop generator) thread. */
  final class Visibility(root: File) {
    val seen = new ConcurrentHashMap[String, java.lang.Long]()
    @volatile private var running = false
    private var thread: Thread = _

    def poll(): Unit = {
      val t = Util.nowMs
      Util.visibleObjects(root).foreach(f => seen.putIfAbsent(Util.relative(root, f), t))
    }

    def start(): Unit = {
      running = true
      thread = new Thread(() => while (running) { poll(); Thread.sleep(10) }, "visibility")
      thread.setDaemon(true)
      thread.start()
    }

    def stop(): Unit = {
      running = false
      if (thread != null) thread.join()
      poll()
    }

    def seenMs(rel: String): Long = Option(seen.get(rel)).map(_.longValue).getOrElse(Long.MaxValue)
  }

  /** `first`/`last` are the batch's sequence-number range when the
    * pipeline has a sequence expression (12 digits here), else the batch
    * id (`Pipeline.runContinuous` names objects so). */
  private val ObjectName =
    "^graft-(?:(.+)-)?(\\d{4}-\\d{2}-\\d{2}-\\d{6})-(\\d+)-(\\d+)\\.gz$".r

  /** The committed output, read back. */
  final class ReadBack {
    val digest = new Util.Digest
    var objects = 0
    var outBytes = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    /** (latency ms, records) */
    val latency = mutable.ArrayBuffer.empty[(Double, Long)]
    /** (first visible ms, lines) per object */
    val visible = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  /** Read every committed object under `out` (in parallel) and check it:
    *   - the name follows `graft-[partition-]yyyy-MM-dd-HHmmss-first-last.gz`;
    *   - every line's sequence number lies in the name's [first, last];
    *   - for self-describing JSON, the partition in the name is the
    *     generator's expected partition of every line in the object;
    *   - no `_staging` residue and no dead-lettered rows remain.
    * `latencyOf(line, seenMs)` gives each line's load latency. The
    * caller compares the digest with the input's. */
  def readBack(spec: Spec, out: File, bad: File, vis: Visibility,
               latencyOf: (String, Long) => Double): ReadBack = {
    final case class One(rel: String, bytes: Long, seen: Long, digest: Util.Digest,
                         failures: Seq[String], latency: Map[Double, Long])
    def readOne(f: File): One = {
      val rel = Util.relative(out, f)
      val seen = vis.seenMs(rel)
      val digest = new Util.Digest
      rel match {
        case ObjectName(partition, _, first, last) =>
          val seqNamed = first.length == 12 && last.length == 12
          val lo = first.toLong
          val hi = last.toLong
          var outOfRange = 0L
          var misplaced = 0L
          val lat = mutable.HashMap.empty[Double, Long]
          Util.gzipLines(f) { line =>
            digest.add(line)
            val s = spec.kind.seqOf(line)
            if (seqNamed && (s < lo || s > hi)) outOfRange += 1
            val want = spec.kind match {
              case sd: Gen.SelfDescribing => Some(sd.expectedPartition(line)).filter(_ != sd.Unpartitioned)
              case _ => None
            }
            if (want != Option(partition)) misplaced += 1
            val l = latencyOf(line, seen)
            lat(l) = lat.getOrElse(l, 0L) + 1
          }
          One(rel, f.length(), seen, digest, Seq(
            if (!seqNamed && lo != hi) Some(s"$rel: batch-id name with first != last") else None,
            if (outOfRange > 0) Some(s"$rel: $outOfRange lines outside seq range [$first, $last]") else None,
            if (misplaced > 0) Some(s"$rel: $misplaced lines in the wrong partition") else None).flatten,
            lat.toMap)
        case _ =>
          One(rel, f.length(), seen, digest, Seq(s"object name does not follow the naming grammar: $rel"), Map.empty)
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val ones =
      try Util.visibleObjects(out).sortBy(_.getPath)
        .map(f => pool.submit(() => readOne(f)))
        .map(_.get())
      finally pool.shutdown()
    val rb = new ReadBack
    for (o <- ones) {
      rb.objects += 1
      rb.outBytes += o.bytes
      rb.digest.merge(o.digest)
      rb.failures ++= o.failures
      rb.latency ++= o.latency
      rb.visible += ((o.seen, o.digest.count))
    }
    if (new File(out, "_staging").exists()) rb.failures += "_staging residue left under the output root"
    val badObjects = Util.visibleObjects(bad).filter(_.length() > 0)
    if (badObjects.nonEmpty) rb.failures += s"${badObjects.size} unexpected dead-letter objects"
    rb
  }

  // ---------------------------------------------------------------- drains

  /** Closed loop: drain the pre-generated backlog with `Pipeline.runOnce`
    * (AvailableNow), again and again into fresh output roots, until the
    * summed drain time reaches the run length. */
  def drain(ctx: Ctx, spec: Spec): Result = {
    val a = ctx.args
    val input = new File(ctx.work, "input")
    var written: Gen.Written = null
    val setups = ctx.setupReps { rep =>
      written = Gen.backlog(input, spec.kind, a.seed, spec.sizing.files, spec.sizing.perFile, 1L, BaseMs)
      val warm = new File(ctx.work, "warm-input")
      Gen.backlog(warm, spec.kind, a.seed, spec.sizing.warmFiles, spec.sizing.perFile, 1L, BaseMs)
      warmDrain(ctx, spec, warm, s"warm-$rep", byteLimit(spec, written))
    }
    val limit = byteLimit(spec, written)

    val drains = mutable.ArrayBuffer.empty[DrainStats]
    val failures = mutable.ArrayBuffer.empty[String]
    val statsdBefore = ctx.statsd.datagrams.get
    val measure = new Measure
    var measuredS = 0.0
    var failedBatches = 0L
    var attemptedBatches = 0L
    // Traced runs split the window: the first half untraced, the second
    // traced, so the trace reports its own overhead.
    while (drains.isEmpty || measuredS < a.seconds || (a.trace && !drains.exists(_.traced))) {
      val traced = a.trace && drains.nonEmpty && measuredS >= a.seconds / 2.0
      if (traced) ctx.enableTracer()
      val i = drains.size
      val out = new File(ctx.work, s"out-$i")
      val bad = new File(ctx.work, s"out-$i" + DeadLetter)
      val cfg = config(ctx, spec, input, out, bad, limit)
      val vis = new Visibility(out)
      vis.start()
      val startMs = Util.nowMs
      val t0 = System.nanoTime()
      val run = scala.util.Try(Pipeline.runOnce(ctx.spark, cfg, seqExpr = Some(spec.seqExpr)))
      val wallS = Util.secondsSince(t0)
      vis.stop()
      measuredS += wallS
      val nBatches = run.map(_.batches.size).getOrElse(0)
      val batches = ctx.progress.awaitBatches(startMs, nBatches)
      val rb = readBack(spec, out, bad, vis, (_, seen) => (seen - startMs).toDouble)
      val runFailures = run.failed.toOption.map(e => s"drain $i threw: $e").toSeq ++
        rb.failures ++
        (if (rb.digest.sameAs(written.digest)) Nil
         else Seq(s"drain $i output lines differ from input: out ${rb.digest} in ${written.digest}"))
      attemptedBatches += math.max(1, batches.size)
      if (runFailures.nonEmpty) failedBatches += math.max(1, batches.size)
      failures ++= runFailures
      drains += DrainStats(wallS, batches, rb, written.records, written.bytes, traced)
      Util.deleteRecursively(out)
      Util.deleteRecursively(bad)
    }
    val m = measure.finish()
    failures ++= statsDFailure(ctx, statsdBefore)

    val untraced = drains.filterNot(_.traced)
    // rates per drain, then the median across drains, so one disturbed
    // drain does not move the figure
    val e2e = Seq(
      Metric("records_per_s", Util.median(untraced.map(d => d.records / d.wallS)), "rec/s"),
      Metric("mib_per_s", Util.median(untraced.map(d => d.bytes / MiB / d.wallS)), "MiB/s")) ++
      loaderE2E(setups, untraced.map(_.rb.latency.toSeq).toSeq,
        batches = untraced.flatMap(_.batches).toSeq,
        outBytes = untraced.map(_.rb.outBytes).sum,
        inBytes = untraced.map(_.bytes).sum,
        objects = untraced.map(_.rb.objects).sum,
        failed = failedBatches, attempted = attemptedBatches, m)
    val tracedDrains = drains.filter(_.traced)
    val layers =
      if (!a.trace) Nil
      else {
        val tb = tracedDrains.flatMap(_.batches).toSeq
        val lag = tracedDrains.map(d => lagMax(d.batches, _ => d.records)).maxOption.getOrElse(0L)
        loaderLayers(ctx, spec, tb, tracedDrains.map(_.wallS).sum * 1000,
          objects = tracedDrains.map(_.rb.objects).sum, lagRecords = lag, lateP99 = 0.0,
          untracedBatchP50 = Util.median(untraced.flatMap(_.batches).map(_.triggerMs.toDouble)),
          gcMs = m.gcMs)
      }
    Result(
      correct = failures.isEmpty,
      attempted = attemptedBatches,
      failed = failedBatches,
      e2e = e2e,
      layers = layers,
      info = Map(
        "input_checksum_sha256" -> written.checksum,
        "setup_reps_s" -> setups,
        "input_records" -> written.records,
        "input_bytes" -> written.bytes,
        "drains" -> drains.size,
        "drain_wall_s" -> drains.map(_.wallS),
        "batches_per_drain" -> drains.map(_.batches.size),
        "objects" -> drains.map(_.rb.objects).sum,
        "statsd_datagrams" -> ctx.statsd.datagrams.get,
        "byte_limit" -> limit),
      failures = failures.toSeq,
      spans = if (a.trace) ctx.spans(drains.filter(_.traced).flatMap(_.batches).toSeq) else Nil)
  }

  final case class DrainStats(wallS: Double, batches: Seq[BatchInfo], rb: ReadBack,
                              records: Long, bytes: Long, traced: Boolean)

  /** An untimed drain into a fresh output root: JIT, codegen and class
    * loading for the plan under test. */
  def warmDrain(ctx: Ctx, spec: Spec, input: File, tag: String, byteLimit: Long): Unit = {
    val out = new File(ctx.work, tag)
    val bad = new File(ctx.work, tag + DeadLetter)
    Pipeline.runOnce(ctx.spark, config(ctx, spec, input, out, bad, byteLimit), seqExpr = Some(spec.seqExpr))
    Util.deleteRecursively(out)
    Util.deleteRecursively(bad)
  }

  // ---------------------------------------------------------------- open loop

  /** Open loop: one thread appends enriched-TSV files at a fixed rate
    * (`RatePerS` records/s in `TickMs` ticks, each record stamped with
    * its due time as collector_tstamp) while `Pipeline.runContinuous`
    * loads them on a 1 s trigger. The same thread polls the output root
    * for newly visible objects between ticks. */
  val RatePerS = 1000
  val TickMs = 50
  val GraceMs = 3000L

  def steady(ctx: Ctx, spec: Spec): Result = {
    val a = ctx.args
    val warm = new File(ctx.work, "warm-input")
    val setups = ctx.setupReps { rep =>
      Gen.backlog(warm, spec.kind, a.seed + 1, spec.sizing.warmFiles, spec.sizing.perFile, 1L, BaseMs)
      warmDrain(ctx, spec, warm, s"warm-$rep", SteadyByteLimit)
    }

    val input = new File(ctx.work, "steady-input")
    val out = new File(ctx.work, "steady-out")
    val bad = new File(ctx.work, "steady" + DeadLetter)
    Seq(input, out, bad).foreach(Util.deleteRecursively)
    input.mkdirs()
    val cfg = config(ctx, spec, input, out, bad, SteadyByteLimit)
    val statsdBefore = ctx.statsd.datagrams.get
    @volatile var queryError: Option[Throwable] = None
    val runner = new Thread(() =>
      try Pipeline.runContinuous(ctx.spark, cfg)
      catch { case e: Throwable => queryError = Some(e) }, "pipeline")
    runner.setDaemon(true)
    runner.start()

    val written = new Gen.Written(Gen.Enriched.withoutTimes)
    val rng = new java.util.SplittableRandom(a.seed)
    var seq = 1L
    def records(n: Int, dueMs: Int => Long): Seq[String] = (0 until n).map { j =>
      val l = spec.kind.line(rng, seq, dueMs(j)); seq += 1; l
    }
    // Prime the running query: its first batch pays query start-up,
    // which is not steady-state load.
    val vis = new Visibility(out)
    val primeMs = Util.nowMs
    Gen.writeFile(input, "prime.txt", records(10, _ => primeMs), written)
    val primeRecords = written.records
    val primeDeadline = Util.nowMs + 60000
    while (vis.seen.isEmpty && Util.nowMs < primeDeadline && queryError.isEmpty) { vis.poll(); Thread.sleep(10) }
    val failures = mutable.ArrayBuffer.empty[String]
    if (vis.seen.isEmpty) failures += s"priming records never became visible (${queryError.getOrElse("timeout")})"

    val measure = new Measure
    val ticks = a.seconds * 1000 / TickMs
    val perTick = RatePerS * TickMs / 1000
    val t0 = Util.nowMs + TickMs
    val late = mutable.ArrayBuffer.empty[Double]
    val generatedAt = mutable.ArrayBuffer.empty[(Long, Long)] // (visible-to-source ms, cumulative records)
    var tracedFromMs = Long.MaxValue
    for (k <- 1 to ticks if queryError.isEmpty) {
      val due = t0 + k.toLong * TickMs
      if (a.trace && k == ticks / 2 + 1) { ctx.enableTracer(); tracedFromMs = Util.nowMs }
      while (Util.nowMs < due) { vis.poll(); Thread.sleep(math.max(0L, math.min(10L, due - Util.nowMs))) }
      val first = due - TickMs
      Gen.writeFile(input, s"tick-$k.txt", records(perTick, j => first + 1 + j * (TickMs / perTick)), written)
      val doneMs = Util.nowMs
      late += (doneMs - due).toDouble
      generatedAt += ((doneMs, written.records - primeRecords))
    }
    val genEndMs = Util.nowMs
    val timedRecords = written.records - primeRecords
    // Let the backlog drain: wait until the engine reports every record
    // loaded (objects are renamed into place before progress is posted).
    val drainDeadline = genEndMs + 20000
    def loaded = ctx.progress.all.filter(_.startMs >= primeMs).map(_.rows).sum
    while (loaded < written.records && Util.nowMs < drainDeadline && queryError.isEmpty) {
      vis.poll(); Thread.sleep(10)
    }
    vis.poll()
    ctx.spark.streams.active.foreach(_.stop())
    runner.join(60000)
    val m = measure.finish()
    queryError.foreach(e => failures += s"continuous query failed: $e")
    failures ++= statsDFailure(ctx, statsdBefore)

    val batches = ctx.progress.dataBatches(t0)
    val rb = readBack(spec, out, bad, vis, (line, seen) =>
      if (spec.kind.seqOf(line) <= primeRecords) Double.NaN
      else if (seen == Long.MaxValue) Double.PositiveInfinity
      else (seen - Gen.Enriched.collectorMs(line)).toDouble)
    failures ++= rb.failures
    if (!rb.digest.sameAs(written.digest))
      failures += s"output lines differ from input: out ${rb.digest} in ${written.digest}"
    val timedLatency = rb.latency.filterNot(_._1.isNaN).toSeq
    val missing = timedRecords - timedLatency.map(_._2).sum
    val latency = timedLatency ++ (if (missing > 0) Seq(Double.PositiveInfinity -> missing) else Nil)
    // not visible within the grace after generation stopped (0 = sustained);
    // the priming records are all in objects seen before generation began
    val backlogEnd = math.max(0L, missing) +
      rb.visible.collect { case (seen, n) if seen > genEndMs + GraceMs => n }.sum

    val untracedBatches = batches.filter(_.startMs < tracedFromMs)
    val failed = if (failures.isEmpty) 0L else math.max(1, batches.size).toLong
    val e2e = loaderE2E(setups, Seq(latency), batches = untracedBatches,
      outBytes = rb.outBytes, inBytes = written.bytes, objects = rb.objects,
      failed = failed, attempted = math.max(1, batches.size).toLong, m) :+
      Metric("backlog_end_records", backlogEnd.toDouble, "records")
    val tracedBatches = batches.filter(_.startMs >= tracedFromMs)
    val layers =
      if (!a.trace) Nil
      else loaderLayers(ctx, spec, tracedBatches,
        (tracedBatches.map(_.endMs).maxOption.getOrElse(genEndMs) - tracedFromMs).toDouble,
        objects = rb.objects * tracedBatches.size / math.max(1, batches.size),
        lagRecords = lagMax(batches, b => generatedAt.filter(_._1 <= b.startMs).lastOption.map(_._2).getOrElse(0L)),
        lateP99 = Util.quantile(late.toSeq, 0.99),
        untracedBatchP50 = Util.median(untracedBatches.map(_.triggerMs.toDouble)),
        gcMs = m.gcMs)
    Result(
      correct = failures.isEmpty,
      attempted = math.max(1, batches.size).toLong,
      failed = failed,
      e2e = e2e,
      layers = layers,
      info = Map(
        "input_checksum_sha256" -> written.checksum, // tstamps blanked: they are wall-clock due times
        "setup_reps_s" -> setups,
        "rate_records_per_s" -> RatePerS,
        "tick_ms" -> TickMs,
        "timed_records" -> timedRecords,
        "generator_late_ms_p50" -> Util.median(late.toSeq),
        "generator_late_ms_p99" -> Util.quantile(late.toSeq, 0.99),
        "objects" -> rb.objects,
        "statsd_datagrams" -> ctx.statsd.datagrams.get),
      failures = failures.toSeq,
      spans = if (a.trace) ctx.spans(tracedBatches) else Nil)
  }

  /** Largest gap, at any batch start, between records available to the
    * source and records loaded by the batches completed before it. */
  def lagMax(batches: Seq[BatchInfo], availableAt: BatchInfo => Long): Long = {
    var done = 0L
    var worst = 0L
    for (b <- batches.sortBy(_.startMs)) {
      worst = math.max(worst, availableAt(b) - done)
      done += b.rows
    }
    worst
  }

  /** The end-to-end metrics both loops report. Latency quantiles are
    * taken per window (a drain, or the open loop's whole window), then
    * the median across windows; batch time is the median over all
    * batches. `windows` holds each window's (latency ms, records). */
  def loaderE2E(setups: Seq[Double], windows: Seq[Seq[(Double, Long)]], batches: Seq[BatchInfo],
                outBytes: Long, inBytes: Long, objects: Int, failed: Long, attempted: Long,
                m: Measured): Seq[Metric] = Seq(
    Metric("setup_s", Util.median(setups), "s"),
    Metric("batch_ms_p50", Util.median(batches.map(_.triggerMs.toDouble)), "ms"),
    Metric("load_latency_ms_p50", Util.median(windows.map(Util.weightedQuantile(_, 0.50))), "ms"),
    Metric("load_latency_ms_p99", Util.median(windows.map(Util.weightedQuantile(_, 0.99))), "ms"),
    Metric("compression_ratio", outBytes.toDouble / inBytes, "ratio"),
    Metric("objects_per_batch", objects.toDouble / math.max(1, batches.size), "objects"),
    Metric("failed_ratio", failed.toDouble / math.max(1L, attempted), "ratio"),
    Metric("heap_peak_mib", m.heapPeakMiB, "MiB"))

  /** The loader reports batch meta to StatsD after every batch; a
    * measured window whose sink received nothing since `before` did not
    * exercise that path. Datagrams arrive asynchronously, so wait a
    * moment for the first. */
  def statsDFailure(ctx: Ctx, before: Long): Option[String] = {
    def none = ctx.statsd.datagrams.get == before
    val deadline = Util.nowMs + 2000
    while (none && Util.nowMs < deadline) Thread.sleep(10)
    if (none) Some("no StatsD report reached the local sink") else None
  }

  /** Per-layer figures of the traced batches. */
  def loaderLayers(ctx: Ctx, spec: Spec, batches: Seq[BatchInfo], wallMs: Double, objects: Int,
                   lagRecords: Long, lateP99: Double, untracedBatchP50: Double,
                   gcMs: Double): Seq[Metric] = {
    val tr = ctx.tracer
    tr.quiesce()
    val n = math.max(1, batches.size).toDouble
    def per(f: BatchInfo => Double): Double = batches.map(f).sum / n
    final case class PerBatch(meta: Double, write: Double, badrow: Double, nested: Double,
                              execs: Int, jobs: Int, stages: Int, tasks: Long, writeTasks: Long,
                              writeShare: Double, shuffleWrite: Long, cpuMs: Double)
    val pb = batches.map { b =>
      val xs = tr.execsIn(b.startMs, b.endMs)
      val nested = xs.filter(x => x.id != x.root)
      def dur(x: Tracer.Exec) = math.max(0L, x.endMs - x.startMs).toDouble
      def sumOf(c: String) = nested.filter(x => ExecClass.of(x) == c).map(dur).sum
      val jobs = tr.jobs.values.asScala.filter(j => j.startMs >= b.startMs && j.startMs <= b.endMs).toSeq
      val stages = jobs.flatMap(tr.stagesOf)
      val writeExecs = nested.filter(x => ExecClass.of(x) == ExecClass.StageWrite).map(_.id).toSet
      val writeStages = jobs.filter(_.execId.exists(writeExecs)).flatMap(tr.stagesOf)
      val share = writeStages.sortBy(_.id).lastOption.map { s =>
        val mx = Option(tr.maxTaskMs.get(s.key)).map(_.longValue).getOrElse(0L)
        if (s.runMs > 0) mx.toDouble / s.runMs else 1.0
      }.getOrElse(0.0)
      PerBatch(sumOf(ExecClass.Meta), sumOf(ExecClass.StageWrite), sumOf(ExecClass.BadRow),
        nested.map(dur).sum, nested.size, jobs.size, stages.size, stages.map(_.numTasks.toLong).sum,
        writeStages.map(_.numTasks.toLong).sum, share, stages.map(_.shuffleWrite).sum,
        stages.map(_.cpuNs).sum / 1e6)
    }
    def perPb(f: PerBatch => Double): Double = pb.map(f).sum / n
    val tracedP50 = Util.median(batches.map(_.triggerMs.toDouble))
    Seq(
      Metric("source.latest_offset_ms_per_batch", per(_.phase("latestOffset").toDouble), "ms"),
      Metric("source.get_batch_ms_per_batch", per(_.phase("getBatch").toDouble), "ms"),
      Metric("source.rows_per_batch", per(_.rows.toDouble), "rows"),
      Metric("pipeline.query_planning_ms_per_batch", per(_.phase("queryPlanning").toDouble), "ms"),
      Metric("pipeline.wal_commit_ms_per_batch", per(_.phase("walCommit").toDouble), "ms"),
      Metric("pipeline.commit_offsets_ms_per_batch", per(_.phase("commitOffsets").toDouble), "ms"),
      Metric("pipeline.trigger_ms_per_batch", per(_.triggerMs.toDouble), "ms"),
      Metric("pipeline.batches", batches.size.toDouble, "count"),
      Metric("pipeline.busy_ratio", batches.map(_.triggerMs).sum / math.max(1.0, wallMs), "ratio"),
      Metric("pipeline.lag_records_max", lagRecords.toDouble, "records"),
      Metric("emitter.add_batch_ms_per_batch", per(_.phase("addBatch").toDouble), "ms"),
      Metric("emitter.meta_ms_per_batch", perPb(_.meta), "ms"),
      Metric("emitter.stage_write_ms_per_batch", perPb(_.write), "ms"),
      Metric("emitter.badrow_ms_per_batch", perPb(_.badrow), "ms"),
      Metric("emitter.commit_ms_per_batch",
        math.max(0.0, per(_.phase("addBatch").toDouble) - perPb(_.nested)), "ms"),
      Metric("emitter.sql_executions_per_batch", perPb(_.execs.toDouble), "count"),
      Metric("emitter.jobs_per_batch", perPb(_.jobs.toDouble), "count"),
      Metric("emitter.stages_per_batch", perPb(_.stages.toDouble), "count"),
      Metric("emitter.tasks_per_batch", perPb(_.tasks.toDouble), "count"),
      Metric("emitter.write_tasks_per_batch", perPb(_.writeTasks.toDouble), "count"),
      Metric("emitter.max_write_task_share", perPb(_.writeShare), "ratio"),
      Metric("emitter.shuffle_write_bytes_per_batch", perPb(_.shuffleWrite.toDouble), "bytes"),
      Metric("emitter.task_cpu_ms_per_batch", perPb(_.cpuMs), "ms"),
      Metric("emitter.objects_per_batch", objects / n, "objects"),
      Metric("jvm.gc_ms", gcMs, "ms"),
      Metric("generator.late_ms_p99", lateP99, "ms"),
      Metric("trace.overhead_batch_ms_p50", tracedP50 - untracedBatchP50, "ms")) ++
      Isolated.run(ctx, spec)
  }
}
