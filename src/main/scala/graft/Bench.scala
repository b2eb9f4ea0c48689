package graft

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line on stdout.
  *
  * Methodology (matches the code — see the passes loop below):
  * - Executes through the `noop` sink so every output column is computed
  *   (`.count()` lets Catalyst prune pure-projection queries down to a
  *   parquet row-count).
  * - Same session config as Verify (AQE, UTC, shuffle.partitions=cores)
  *   via Sessions.local.
  * - One untimed warmup pass over all queries (JVM/codegen/session
  *   warmup), then SPARK_GRAFT_BENCH_PASSES (default 2) timed passes in
  *   stable sorted query order; reports the per-query BEST across timed
  *   passes (the stable noise floor; 2 passes keeps total wall-clock
  *   inside the driver's budget at 40+ queries).
  * - A query that throws is reported as -1 in `queries`, listed in
  *   `failed`, and counted in `failed_count` — a broken query must look
  *   broken, not fast.
  * - `families` holds per-family subtotals (from each query's
  *   registering module) so regressions are visible per family.
  * - `pass_totals` lists each timed pass's sweep total over the queries
  *   that succeeded in EVERY pass (a query that failed in one pass would
  *   otherwise make that pass look spuriously fast), so the single JSON
  *   line carries the ambient variance band (BASELINE.md documents ±20%
  *   machine noise) instead of just the best-case sum.
  * - Load legibility (BASELINE.md's r4 lesson: this host's external load
  *   is time-varying within single runs, so a sweep-level band can't
  *   adjudicate a single query's regression): `pass_queries` records
  *   EVERY per-query per-pass timing, `loadavg` the 1-min system load
  *   sampled before warmup and before each timed pass, and a bounded
  *   load gate (SPARK_GRAFT_LOAD_GATE=threshold:maxWaitSec, default
  *   2.5:240) sleeps before a timed pass while load exceeds the
  *   threshold — waits land in `gate_waits_sec`, never unbounded. The
  *   SAME gate runs once more BEFORE warmup (`start_gate_wait_sec`),
  *   and `gated_start` records whether the run actually launched under
  *   the threshold — an official record carries its own evidence of a
  *   contaminated start (the r8 loadavg-4.78 lesson).
  * - The full JSON line also lands in SPARK_GRAFT_BENCH_OUT (default
  *   ./BENCH_FULL.json, committed per round) because the driver's
  *   archived snapshot keeps only a ~2000-char tail of stdout.
  */
object Bench {

  /** Query family for the per-family subtotals in the bench JSON —
    * looked up from the registering QueryModule (SparkEntry.familyOf),
    * never a hand-maintained number range.
    */
  private[graft] def family(name: String): String =
    SparkEntry.familyOf.getOrElse(name, "relational")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench")

    // Developer tooling: SPARK_GRAFT_ONLY=q30,q32 restricts the run to a
    // comma-separated prefix-match subset (unset in the driver's run).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').map(_.trim).toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }

    def runOne(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // Snapshot persistent RDD ids BEFORE the query so the inter-query
      // cleanup below releases only blocks this query created — a frame
      // intentionally cached across queries (none today) would survive.
      val preexisting = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      // Several operators materialize a multi-branch frame once via
      // localCheckpoint and rely on GC + ContextCleaner to release the
      // blocks. Within one query that is correct; across a 70+-query
      // sweep the blocks accumulate faster than the cleaner runs,
      // squeezing execution memory for later queries. Release them
      // eagerly AFTER the timer stops — inter-query hygiene, not part
      // of any query's cost. try/finally so a FAILED query's blocks are
      // released too, not just a successful one's.
      try {
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          return -1.0
        }
        (System.nanoTime() - t0) / 1e9
      } finally
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!preexisting.contains(id)) rdd.unpersist(blocking = false)
        }
    }

    def loadavg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    // Bounded pre-pass load gate: threshold:maxWaitSec (gate off via
    // SPARK_GRAFT_LOAD_GATE=off). Bounded so a persistently-loaded host
    // delays the sweep by at most maxWait per pass instead of stalling
    // the driver's budget.
    // Default tightened 3.0:60 → 2.5:240 (round-5 lesson: the official
    // run recorded loadavg 2.65-2.79 without the gate ever engaging).
    // Not lower: the sweep's OWN 1-min load tail decays through ~2.0-2.3
    // between passes, and a threshold under that would gate on our own
    // wake instead of ambient load.
    val (gateThreshold, gateMaxWait) = sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE", "2.5:240") match {
      case "off" => (Double.MaxValue, 0)
      case s =>
        // fail FAST and CLEARLY on a malformed knob — an obscure
        // MatchError after session spin-up would lose the whole run
        try s.split(':') match {
          case Array(t)    => (t.toDouble, 60)
          case Array(t, w) => (t.toDouble, w.toInt)
          case _           => throw new NumberFormatException(s)
        } catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"SPARK_GRAFT_LOAD_GATE must be 'off', '<threshold>', or '<threshold>:<maxWaitSec>', got '$s'")
        }
    }
    def gate(): Double = {
      val t0 = System.nanoTime()
      while (loadavg() > gateThreshold && (System.nanoTime() - t0) / 1e9 < gateMaxWait)
        Thread.sleep(5000)
      (System.nanoTime() - t0) / 1e9
    }

    // Gate the FIRST pass too (VERDICT r8 #5): the r8 official run
    // launched at loadavg 4.78 — ambient load the between-pass gates
    // could no longer undo (the warmup's own load tail masks it) — and
    // recorded q113 at 3× its idle cost. Same threshold and bound as
    // the inter-pass waits; the wait and a gated_start flag land in
    // the JSON so an official record carries its own launch evidence.
    val startGateWait = gate()
    val startLoad = loadavg()
    val gatedStart = startLoad <= gateThreshold

    // Warmup: run everything once, untimed. SPARK_GRAFT_BENCH_WARMUP=0
    // skips it for big-SF legs where data time dwarfs JVM warmup and a
    // second full sweep is the cost that matters.
    val loads = collection.mutable.ArrayBuffer(startLoad)
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1") != "0")
      queries.foreach { case (n, f) => runOne(n, f) }

    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    val gateWaits = collection.mutable.ArrayBuffer.empty[Double]
    val passResults: Seq[Seq[(String, Double)]] =
      (1 to passes).map { _ =>
        gateWaits += gate()
        loads += loadavg()
        queries.map { case (n, f) => n -> runOne(n, f) }
      }
    val timings: Map[String, Seq[Double]] =
      passResults.flatten.groupBy(_._1).map { case (n, ts) => n -> ts.map(_._2) }

    def best(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.min
    }

    val perQuery = queries.map { case (n, _) => n -> best(timings(n)) }
    val failed = perQuery.collect { case (n, v) if v < 0 => n }
    val qs = perQuery.map { case (k, v) => "\"" + k + "\":" + Fmt.fixed(v, 3) }
      .mkString("{", ",", "}")
    val familyTotals = perQuery.filter(_._2 >= 0).groupBy { case (n, _) => family(n) }
      .toSeq.sortBy(_._1)
      .map { case (fam, xs) => "\"" + fam + "\":" + Fmt.fixed(xs.map(_._2).sum, 3) }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val everyPassOk: Set[String] =
      timings.collect { case (n, ts) if ts.forall(_ >= 0) => n }.toSet
    val passTotals = passResults
      .map(p => Fmt.fixed(p.collect { case (n, t) if everyPassOk(n) => t }.sum, 3))
      .mkString("[", ",", "]")
    // Per-query per-pass record: the per-query variance band that lets a
    // regression be adjudicated against ambient load without re-runs.
    val passQueries = passResults
      .map(_.map { case (k, v) => "\"" + k + "\":" + Fmt.fixed(v, 3) }.mkString("{", ",", "}"))
      .mkString("[", ",", "]")
    val loadsJson = loads.map(Fmt.fixed(_, 2)).mkString("[", ",", "]")
    val gateJson = gateWaits.map(Fmt.fixed(_, 1)).mkString("[", ",", "]")
    val total = perQuery.map(_._2).filter(_ >= 0).sum
    // Streaming drains cancel in-flight jobs at their time/volume limit,
    // and Spark logs those cancellations as ERROR-level stack traces on
    // stderr even when every query succeeded. Label the stream so a log
    // tail is readable: `failed` in the JSON is the ground truth.
    System.err.println(
      "[bench] note: any stack traces above are expected streaming-drain/teardown " +
        s"noise from cancelled jobs, not query failures; ground truth is failed_count=${failed.size} " +
        "in the JSON line on stdout")
    // The single stdout JSON line the driver parses. Key ORDER is
    // deliberate: the archived artifact preserves only a ~2000-char
    // TAIL of this line (BENCH_r05 lost q01-q28's values that way), so
    // the bulky per-pass record leads and the load-bearing summary —
    // per-query bests, loadavg, pass totals — sits at the END where
    // truncation can't reach it. JSON semantics are order-free; the
    // live driver parse is unaffected.
    val line = s"""{"metric":"total","pass_queries":$passQueries,"queries":$qs,"families":$familyTotals,"pass_totals":$passTotals,"loadavg":$loadsJson,"gate_waits_sec":$gateJson,"start_gate_wait_sec":${Fmt.fixed(startGateWait, 1)},"gated_start":$gatedStart,"failed":$failedJson,"failed_count":${failed.size},"sf":"$sfDir","unit":"sec","value":${Fmt.fixed(total, 3)}}"""
    println(line)
    // Belt and braces: the COMPLETE artifact also lands in a repo file
    // that gets committed whole (BASELINE.md points at it), immune to
    // any stdout snapshot truncation.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
  }
}
