package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed loop, one client, fixed order: the query layers
  * (`graft.queries`, operators, functions, catalyst, state stores) over
  * generated tables. Results are checked against the DuckDB oracle SQL
  * after the timed passes (run.py does the compare). */
object QueryMix {

  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q22_neardup", "q33_stateful", "q48_stateful_v2",
    "q67_training_pipeline", "q132_mb_outer_join", "q172_table_stats",
    "q205_liststate_lastk", "q290_incr_containment")

  /** Short queries, batch and stateful, that a traced run times twice
    * more for the trace's overhead. */
  val OverheadSample: Seq[String] = Seq("q01_pricing_summary", "q22_neardup", "q33_stateful", "q172_table_stats")

  /** Sums the query-planning phases of every execution. */
  final class Planning extends QueryExecutionListener {
    val ms = new AtomicLong()
    private def add(qe: QueryExecution): Unit =
      ms.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  /** Input records and bytes each finished task read from its data
    * source, with the task's finish time, through the public
    * `SparkListener` API. Always on in the mix: it gives the pass's
    * input volume. */
  final class InputMeter extends SparkListener {
    /** (finish ms, records, bytes) */
    val tasks = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    @volatile var lastEventMs: Long = Util.nowMs

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventMs = Util.nowMs
      if (e.taskMetrics != null) {
        val in = e.taskMetrics.inputMetrics
        tasks.add((e.taskInfo.finishTime, in.recordsRead, in.bytesRead))
      }
    }

    /** Records and bytes read by tasks that finished inside `windows`,
      * once the listener bus has been quiet a moment. */
    def readIn(windows: Seq[(Long, Long)]): (Long, Long) = {
      val deadline = Util.nowMs + 5000
      while (Util.nowMs - lastEventMs < 300 && Util.nowMs < deadline) Thread.sleep(20)
      val in = tasks.asScala.filter { case (t, _, _) => windows.exists { case (a, b) => t >= a && t <= b } }
      (in.map(_._2).sum, in.map(_._3).sum)
    }
  }

  /** One query of one pass: wall seconds (NaN if it threw) and its window. */
  final case class QueryRun(name: String, startMs: Long, endMs: Long, wallS: Double) {
    def ok: Boolean = !wallS.isNaN
  }

  def run(ctx: Ctx): Result = {
    val a = ctx.args
    val tables = new File(ctx.work, "tables")
    var checksum = ""
    val setups = ctx.setupReps { _ =>
      checksum = generateTables(ctx.spark, tables, a.seed, if (a.tiny) 0.1 else 1.0)
    }
    val dir = tables.getAbsolutePath
    val all = graft.SparkEntry.queries
    val fns = Queries.map(q => q -> all(q))
    val errors = mutable.LinkedHashMap.empty[String, String]
    val meter = new InputMeter
    ctx.spark.sparkContext.addSparkListener(meter)

    def runOne(name: String, fn: (SparkSession, String) => DataFrame, out: File): QueryRun = {
      val spark = ctx.spark
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val startMs = Util.nowMs
      val start = System.nanoTime()
      val wallS =
        try {
          fn(spark, dir).write.mode("overwrite").parquet(out.getAbsolutePath)
          Util.secondsSince(start)
        } catch {
          case e: Throwable =>
            errors(name) = String.valueOf(e.getMessage).linesIterator.take(1).mkString
            Double.NaN
        } finally {
          spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
            if (!before.contains(id)) rdd.unpersist(blocking = false)
          }
        }
      QueryRun(name, startMs, Util.nowMs, wallS)
    }

    // Every pass writes each query's result to parquet; run.py compares
    // the first pass's results with the DuckDB oracle SQL afterwards,
    // outside the timing. Results are small aggregates, so the write is
    // a small share of a query's time.
    val results = new File(ctx.work, "results")
    Util.deleteRecursively(results)
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
    Util.writeString(new File(results, "pass-0/oracle_sql.json"), Util.toJson(oracle))

    val planning = new Planning
    val measure = new Measure
    val passes = mutable.ArrayBuffer.empty[Seq[QueryRun]]
    def okWall(p: Seq[QueryRun]) = p.filter(_.ok).map(_.wallS).sum
    def runAll(qs: Seq[(String, (SparkSession, String) => DataFrame)], tag: String): Seq[QueryRun] =
      qs.map { case (n, f) => runOne(n, f, new File(results, s"$tag/$n")) }
    def pass(): Unit = passes += runAll(fns, s"pass-${passes.size}")
    while (passes.isEmpty || passes.map(okWall).sum < a.seconds) pass()
    val untraced = passes.toSeq
    // A traced run adds one warm pass with the tracer attached (the
    // per-layer figures), then runs a few short queries again, warm,
    // untraced and then traced: their difference is the trace's
    // overhead. A third whole pass would not fit the run's time limit.
    val overheadRuns = mutable.ArrayBuffer.empty[QueryRun]
    if (a.trace) {
      ctx.enableTracer()
      ctx.spark.listenerManager.register(planning)
      pass()
      ctx.disableTracer()
      ctx.spark.listenerManager.unregister(planning)
      val sample = fns.filter { case (n, _) => OverheadSample.contains(n) }
      overheadRuns ++= runAll(sample, "overhead-plain")
      ctx.enableTracer()
      overheadRuns ++= runAll(sample, "overhead-traced")
      ctx.disableTracer()
    }
    val m = measure.finish()
    val traced = passes.drop(untraced.size)
    val okRuns = untraced.flatten.filter(_.ok)
    val (inRecords, inBytes) = meter.readIn(okRuns.map(r => (r.startMs, r.endMs)).toSeq)
    val busyS = okRuns.map(_.wallS).sum
    val microBatches = ctx.progress.dataBatches(0L)
      .filter(b => okRuns.exists(r => b.startMs >= r.startMs && b.startMs <= r.endMs))
    val attempted = passes.map(_.size).sum.toLong + overheadRuns.size
    val failed = passes.map(_.count(!_.ok)).sum + overheadRuns.count(!_.ok)
    val e2e = Seq(
      Metric("setup_s", Util.median(setups), "s"),
      Metric("records_per_s", inRecords / busyS, "rec/s"),
      Metric("mib_per_s", inBytes / Loader.MiB / busyS, "MiB/s"),
      Metric("batch_ms_p50", Util.median(microBatches.map(_.triggerMs.toDouble)), "ms"),
      Metric("mix_wall_s", Util.median(untraced.map(okWall).toSeq), "s"),
      Metric("failed_ratio", failed.toDouble / attempted, "ratio"),
      Metric("heap_peak_mib", m.heapPeakMiB, "MiB"))

    val layers =
      if (!a.trace) Nil
      else {
        val tr = ctx.tracer
        tr.quiesce()
        val fromMs = traced.head.head.startMs
        val toMs = traced.last.last.endMs
        def inPass(t: Long) = t >= fromMs && t <= toMs
        val stages = tr.stages.values.asScala.filter(s => inPass(s.startMs)).toSeq
        val nPasses = traced.size.toDouble
        val progress = ctx.progress.all.filter(b => inPass(b.startMs))
        val ops = progress.flatMap(_.progress.stateOperators.toSeq)
        val perQuery = Queries.map { q =>
          val xs = traced.flatten.filter(r => r.name == q && r.ok).map(_.wallS)
          Metric(s"query.${q}_s", if (xs.isEmpty) Double.NaN else Util.median(xs.toSeq), "s")
        }
        perQuery ++ Seq(
          Metric("queries.planning_ms", planning.ms.get / nPasses, "ms"),
          Metric("queries.jobs", tr.jobs.values.asScala.count(j => inPass(j.startMs)) / nPasses, "count"),
          Metric("queries.stages", stages.size / nPasses, "count"),
          Metric("queries.tasks", stages.map(_.numTasks.toLong).sum / nPasses, "count"),
          Metric("queries.task_cpu_ms", stages.map(_.cpuNs).sum / 1e6 / nPasses, "ms"),
          Metric("queries.shuffle_read_bytes", stages.map(_.shuffleRead).sum / nPasses, "bytes"),
          Metric("queries.shuffle_write_bytes", stages.map(_.shuffleWrite).sum / nPasses, "bytes"),
          Metric("queries.spill_bytes", stages.map(_.spill).sum / nPasses, "bytes"),
          Metric("queries.peak_exec_memory_bytes", stages.map(_.peakMem).maxOption.getOrElse(0L).toDouble, "bytes"),
          Metric("state.commit_ms", ops.map(_.commitTimeMs).sum / nPasses, "ms"),
          Metric("state.rows_total", progress.map(_.progress.stateOperators.map(_.numRowsTotal).sum)
            .maxOption.getOrElse(0L).toDouble, "rows"),
          Metric("state.memory_bytes", progress.map(_.progress.stateOperators.map(_.memoryUsedBytes).sum)
            .maxOption.getOrElse(0L).toDouble, "bytes"),
          Metric("jvm.gc_ms", m.gcMs, "ms"),
          Metric("trace.overhead_mix_s", overheadRuns.drop(overheadRuns.size / 2).filter(_.ok).map(_.wallS).sum -
            overheadRuns.take(overheadRuns.size / 2).filter(_.ok).map(_.wallS).sum, "s"))
      }

    Result(
      correct = true, // run.py sets this from the oracle compare
      attempted = attempted,
      failed = failed.toLong,
      e2e = e2e,
      layers = layers,
      info = Map(
        "tables_checksum_sha256" -> checksum,
        "setup_reps_s" -> setups,
        "passes" -> passes.size,
        "pass_wall_s" -> passes.map(okWall),
        "input_records_read" -> inRecords,
        "input_bytes_read" -> inBytes,
        "micro_batch_ms" -> microBatches.map(_.triggerMs),
        "query_s" -> Queries.map(q => q -> Util.median(passes.flatten.filter(r => r.name == q && r.ok)
          .map(_.wallS).toSeq)).toMap,
        "errors" -> errors,
        "results_dir" -> new File(results, "pass-0").getPath),
      failures = errors.map { case (q, e) => s"$q: $e" }.toSeq,
      spans = if (a.trace) ctx.spans(Nil) else Nil)
  }

  /** `lineitem`, `events` and `documents` — the tables the mix reads —
    * with the schemas of the repository's test tables (TESTDATA.md), at
    * about their sf0.01 row counts times `scale`. Every value is a hash
    * of (row id, seed), so the tables depend on the seed alone. Returns a
    * SHA-256 over the three parquet files. */
  def generateTables(spark: SparkSession, dir: File, seed: Long, scale: Double): String = {
    Util.deleteRecursively(dir)
    def rows(n: Int) = spark.range(0L, math.max(10L, (n * scale).toLong), 1L, 1)
    def h(k: Int): Column = xxhash64(col("id"), lit(seed), lit(k))
    def u(k: Int, mod: Long): Column = pmod(h(k), lit(mod))
    def pick(k: Int, xs: String*): Column = element_at(array(xs.map(lit): _*), (u(k, xs.size) + 1).cast("int"))
    // one parquet file per table, as the testdata ships them: the
    // streaming queries stage `<dir>/events.parquet` by copying the file
    def write(name: String, df: DataFrame): Unit = {
      val tmp = new File(dir, s"_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1, s"expected one parquet part for $name, found ${part.length}")
      java.nio.file.Files.move(part.head.toPath, new File(dir, s"$name.parquet").toPath)
      Util.deleteRecursively(tmp)
    }

    write("lineitem", rows(60000).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (u(1, 2000) + 1).as("l_partkey"),
      (u(2, 100) + 1).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (u(3, 50) + 1).cast("double").as("l_quantity"),
      ((u(4, 9000000) + 90000).cast("double") / 100).as("l_extendedprice"),
      (u(5, 11).cast("double") / 100).as("l_discount"),
      (u(6, 9).cast("double") / 100).as("l_tax"),
      pick(7, "A", "N", "R").as("l_returnflag"),
      pick(8, "F", "O").as("l_linestatus"),
      timestamp_seconds(lit(788918400L) + u(9, 2500) * 86400).cast("timestamp_ntz").as("l_shipdate")))

    // ts strictly increases with event_id (the testdata's shape)
    write("events", rows(10000).select(
      col("id").as("event_id"),
      timestamp_micros((lit(1704067200L) + col("id") * 259) * 1000000L + u(1, 250000000L))
        .cast("timestamp_ntz").as("ts"),
      u(2, 150).as("user_id"),
      pick(3, "view", "click", "purchase", "signup", "error").as("event_type"),
      ((u(4, 49001) + 1).cast("double") / 100).as("value"),
      concat(lit("{\"k\": "), u(5, 100).cast("string"), lit("}")).as("props")))

    // every tenth document repeats its predecessor plus one word: the
    // near-duplicate pairs the dedup queries look for
    val vocab = array(Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
      "hash", "merge", "batch", "spark", "line", "sort", "window", "the", "a", "data", "column",
      "join", "small", "big", "query", "order", "group", "filter", "stream", "customer", "vector")
      .map(lit): _*)
    val textId = when(col("id") % 10 === 9, col("id") - 1).otherwise(col("id"))
    val words = transform(sequence(lit(1), (pmod(xxhash64(textId, lit(seed), lit(1)), lit(60)) + 20).cast("int")),
      k => element_at(vocab, (pmod(xxhash64(textId, k, lit(seed)), lit(30)) + 1).cast("int")))
    val text = when(col("id") % 10 === 9, concat(concat_ws(" ", words), lit(" extra")))
      .otherwise(concat_ws(" ", words))
    write("documents", rows(500).select(
      col("id").as("doc_id"),
      text.as("text"),
      pick(3, "en", "de", "fr", "es", "zh").as("lang"),
      concat(lit("src"), u(4, 18).cast("string")).as("source"),
      length(text).cast("long").as("n_chars")))

    val md = java.security.MessageDigest.getInstance("SHA-256")
    for (t <- Seq("lineitem", "events", "documents"))
      md.update(java.nio.file.Files.readAllBytes(new File(dir, s"$t.parquet").toPath))
    Util.sha256Hex(md)
  }
}
