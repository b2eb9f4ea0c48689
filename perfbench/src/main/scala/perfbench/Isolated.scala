package perfbench

import java.io.File
import java.time.Instant
import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Tstamps
import graft.pipeline._

/** Isolated-call harness: each loader layer's public entry point timed
  * alone over a cached in-memory frame, outside the streaming engine.
  * Each figure is the median of three timed calls after one untimed. */
object Isolated {

  def run(ctx: Ctx, spec: Loader.Spec): Seq[Metric] = {
    val spark = ctx.spark
    import spark.implicits._
    val tiny = ctx.args.tiny
    val seed = ctx.args.seed ^ 0x150L
    val dir = new File(ctx.work, "isolated")

    def lines(kind: Gen.Kind, n: Int): Seq[String] = {
      val rng = new SplittableRandom(seed)
      (1 to n).map(i => kind.line(rng, i.toLong, Loader.BaseMs + i * 10L))
    }
    def cached(ls: Seq[String]): DataFrame = {
      val df = ls.toDF("value").cache()
      df.count()
      df
    }
    def timeMs(layer: String, name: String)(body: => Unit): Double = {
      body
      Util.median((1 to 3).map { _ =>
        val start = Util.nowMs
        val t0 = System.nanoTime()
        body
        val ms = Util.millisSince(t0)
        ctx.addSpan(layer, name, start, Util.nowMs)
        ms
      })
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def codec(c: Compression) = Serializers.resolve(c).fold(e => throw new IllegalStateException(e), identity)

    val sd = new Gen.SelfDescribing(ctx.args.seed)
    val enLines = lines(Gen.Enriched, if (tiny) 2000 else 40000)
    val jsLines = lines(sd, if (tiny) 2000 else 80000)
    val en = cached(enLines)
    val js = cached(jsLines)
    val enSmallLines = enLines.take(enLines.size / 4)
    val enSmall = cached(enSmallLines)
    def mib(ls: Seq[String]) = ls.map(_.length + 1L).sum / Loader.MiB

    val partitionMs = timeMs("rowtypes", "RowTypes.partition") {
      noop(js.select(RowTypes.partition(col("value"), lit(null).cast("array<string>")).as("row_type")))
    }
    val tstampMs = timeMs("tstamps", "Tstamps.collectorTstamp") {
      en.agg(min(Tstamps.collectorTstamp(col("value")))).collect()
    }
    val gzipMs = timeMs("serializers", "gzip text write") {
      en.write.mode("overwrite").option("compression", codec(Compression.Gzip).codecValue)
        .text(new File(dir, "gzip").getAbsolutePath)
    }
    val bzip2Ms = timeMs("serializers", "bzip2 text write") {
      enSmall.write.mode("overwrite").option("compression", codec(Compression.Bzip2).codecValue)
        .text(new File(dir, "bzip2").getAbsolutePath)
    }
    val badRowMs = timeMs("badrows", "BadRows.asJson(genericError)") {
      noop(js.select(BadRows.asJson(BadRows.genericError(col("value"),
        array(lit("isolated bad row")), lit("2026-01-01 00:00:00").cast("timestamp")))))
    }

    // One static batch frame of the workload's own record kind, emitted
    // repeatedly under fresh batch ids.
    val batchLines = spec.kind match {
      case _: Gen.SelfDescribing => jsLines.take(if (tiny) 500 else 7000)
      case _ => enLines.take(if (tiny) 500 else 20000)
    }
    val batch = Pipeline.records(batchLines.toDF("value"), Some(spec.seqExpr))
    val emitOut = new File(dir, "emit")
    val cfg = Loader.config(ctx, spec, new File(dir, "unused"), emitOut,
      new File(dir, "emit" + Loader.DeadLetter), Loader.SteadyByteLimit)
    var batchId = 0L
    val emitMs = timeMs("emitter", "Emitter.emitBatch") {
      batchId += 1
      Emitter.emitBatch(batch, cfg, batchId, now = Instant.ofEpochMilli(Loader.BaseMs + batchId * 1000L),
        statsDEnabled = true)
    }

    Seq(en, js, enSmall).foreach(_.unpersist())
    Util.deleteRecursively(dir)
    Seq(
      Metric("rowtypes.partition_ns_per_row", partitionMs * 1e6 / jsLines.size, "ns"),
      Metric("tstamps.collector_ns_per_row", tstampMs * 1e6 / enLines.size, "ns"),
      Metric("serializers.gzip_mib_per_s", mib(enLines) / (gzipMs / 1000), "MiB/s"),
      Metric("serializers.bzip2_mib_per_s", mib(enSmallLines) / (bzip2Ms / 1000), "MiB/s"),
      Metric("badrows.json_ns_per_row", badRowMs * 1e6 / jsLines.size, "ns"),
      Metric("emitter.emit_batch_ms_isolated", emitMs, "ms"))
  }
}
