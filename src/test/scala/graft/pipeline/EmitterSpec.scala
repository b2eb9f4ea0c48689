package graft.pipeline

import java.io.File
import java.net.{DatagramPacket, DatagramSocket, InetAddress, SocketTimeoutException}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** The emitter's one-pass contract: a micro-batch's meta (seq range,
  * counts, earliest collector tstamp) is observed on the staged write
  * itself, so a clean batch costs exactly one Spark SQL execution. */
class EmitterSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private val now = Instant.parse("2021-04-30T12:00:00Z")

  private def config(work: String, purpose: Purpose, compression: Compression = Compression.Gzip,
                     maxTimeout: Long = 10000, monitoring: Option[MonitoringConfig] = None) =
    PipelineConfig(
      region = None,
      purpose = purpose,
      input = InputConfig("graft-test", s"$work/in", InitialPosition.TrimHorizon, maxRecords = 100),
      output = OutputConfig(
        S3OutputConfig(s"$work/out", None, Some("pre"), compression, maxTimeout),
        BadOutputConfig(s"$work/bad")),
      buffer = BufferConfig(1 << 20, 1000, 0),
      monitoring = monitoring)

  private def enrichedLine(i: Int) = s"$i\tapp\tweb\t2020-11-26 00:01:${"%02d".format(i % 60)}\tu$i"

  private def batch(lines: Seq[String], errors: Map[Int, String] = Map.empty): DataFrame = {
    import spark.implicits._
    lines.zipWithIndex.map { case (l, i) => (l, errors.get(i).map(Seq(_)).orNull) }
      .toDF("value", "error")
      .withColumn("seq", split(col("value"), "\t").getItem(0).cast("long"))
  }

  private def listFilesRec(dir: File): Seq[File] = {
    val these = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    these.filter(_.isFile) ++ these.filter(_.isDirectory).flatMap(listFilesRec)
  }

  /** The executed plans of the SQL executions reported to
    * query-execution listeners while `body` runs, only those of sessions
    * other than `spark` itself when `nested` (a stream's `foreachBatch`
    * runs on the stream's own session). Listener delivery is
    * asynchronous, so a marker query issued after `body` bounds the
    * list: the bus delivers in order. */
  private def executions[A](nested: Boolean)(body: => A): (A, Seq[String]) = {
    val marker = "emitter_spec_marker"
    val plans = new ConcurrentLinkedQueue[String]()
    val markerSeen = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        if (qe.analyzed.output.map(_.name) == Seq(marker)) markerSeen.add(marker)
        else if (!nested || (qe.sparkSession ne spark))
          plans.add(scala.util.Try(qe.executedPlan.toString).getOrElse(""))
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    }
    spark.listenerManager.register(listener)
    try {
      val a = body
      spark.range(1).toDF(marker).collect()
      val deadline = System.currentTimeMillis() + 30000
      while (markerSeen.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(!markerSeen.isEmpty, "marker execution never reached the listener")
      (a, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  private def countExecutions[A](nested: Boolean)(body: => A): (A, Int) = {
    val (a, plans) = executions(nested)(body)
    (a, plans.size)
  }

  describe("Emitter.emitBatch SQL executions") {
    it("runs exactly one execution for a batch without bad rows") {
      withTempDir { tmp =>
        val df = batch((1 to 40).map(enrichedLine))
        val (res, execs) = countExecutions(nested = false) {
          Emitter.emitBatch(df, config(tmp.getAbsolutePath, Purpose.Enriched), batchId = 0, now = now)
        }
        assert(execs == 1)
        assert(res.count == 40 && res.badCount == 0)
        assert(res.earliestTstamp.contains(Instant.parse("2020-11-26T00:01:01Z")))
        assert(res.files.map(f => new File(f).getName) == Seq("pre-2021-04-30-120000-1-40.gz"))
      }
    }

    it("runs exactly two executions for a batch with bad rows") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        val df = batch((1 to 40).map(enrichedLine), Map(3 -> "simulated", 7 -> "simulated"))
        val (res, execs) = countExecutions(nested = false) {
          Emitter.emitBatch(df, config(work, Purpose.Raw), batchId = 0, now = now)
        }
        assert(execs == 2)
        assert(res.count == 40 && res.badCount == 2)
        val dead = listFilesRec(new File(s"$work/bad")).filter(_.getName.startsWith("part-"))
          .flatMap(f => java.nio.file.Files.readAllLines(f.toPath).asScala)
        assert(dead.size == 2)
      }
    }

    it("an Enriched runOnce with StatsD on runs one execution per batch") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        // three input files under a byte limit that admits one per batch
        java.nio.file.Files.createDirectories(new File(s"$work/in").toPath)
        (0 until 3).foreach { f =>
          java.nio.file.Files.write(new File(s"$work/in/f$f.txt").toPath,
            (1 to 20).map(i => enrichedLine(f * 20 + i) + "\n").mkString.getBytes(UTF_8))
        }
        val sink = new DatagramSocket(0, InetAddress.getLoopbackAddress)
        try {
          sink.setSoTimeout(5000)
          val sd = StatsDConfig("127.0.0.1", sink.getLocalPort, Map.empty, None)
          val cfg = config(work, Purpose.Enriched, monitoring = Some(MonitoringConfig(Some(sd))))
            .copy(buffer = BufferConfig(10, 1000, 0))
          val (result, execs) = countExecutions(nested = true) {
            Pipeline.runOnce(spark, cfg,
              seqExpr = Some(split(col("value"), "\t").getItem(0).cast("long")),
              checkpointDir = Some(s"$work/checkpoint"), now = Some(now))
          }
          assert(result.batches.size > 1)
          assert(execs == result.batches.size)
          assert(result.observedMeta.map(_.count).sum == 60)
          assert(result.observedMeta.forall(_.earliestTstamp.nonEmpty))
          // every batch's meta reached StatsD: one count line per batch
          val buf = new Array[Byte](1024)
          val counts = (1 to result.batches.size).map { _ =>
            val p = new DatagramPacket(buf, buf.length)
            var line = ""
            while (!line.contains(s".${StatsD.CountName}:")) {
              sink.receive(p)
              line = new String(p.getData, 0, p.getLength, UTF_8)
            }
            line.split("[:|]")(1).toLong
          }
          assert(counts.sum == 60)
        } catch {
          case _: SocketTimeoutException => fail("a batch's StatsD count never arrived")
        } finally sink.close()
      }
    }
  }

  describe("Emitter.emitBatch exact-naming layout") {
    it("exchanges only SelfDescribingJson batches by row type") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        val (_, enriched) = executions(nested = false) {
          Emitter.emitBatch(batch((1 to 40).map(enrichedLine)), config(s"$work/e", Purpose.Enriched),
            batchId = 0, now = now)
        }
        // one good row type: written from the reading task, no shuffle
        assert(enriched.size == 1 && !enriched.head.contains("Exchange"), enriched.mkString("\n"))
        val sdLines = Seq(
          """{"schema": "iglu:com.acme1/example1/jsonschema/2-0-1", "data": "a"}""",
          """{"schema": "iglu:com.acme2/other/jsonschema/1-0-0", "data": "c"}""")
        val sdBatch = {
          import spark.implicits._
          sdLines.toDF("value")
            .withColumn("error", lit(null).cast("array<string>"))
            .withColumn("seq", lit(null).cast("long"))
        }
        val (res, sd) = executions(nested = false) {
          Emitter.emitBatch(sdBatch, config(s"$work/s", Purpose.SelfDescribingJson),
            batchId = 0, now = now)
        }
        assert(sd.size == 1 && sd.head.contains("Exchange hashpartitioning(row_type"), sd.mkString("\n"))
        assert(res.files.size == 2)
      }
    }
  }

  describe("Pipeline.runOnce generated code") {
    it("a second run of the same plan compiles no new code") {
      withTempDir { tmp =>
        def drain(tag: String): Unit = {
          val work = s"${tmp.getAbsolutePath}/$tag"
          java.nio.file.Files.createDirectories(new File(s"$work/in").toPath)
          java.nio.file.Files.write(new File(s"$work/in/f.txt").toPath,
            (1 to 20).map(i => enrichedLine(i) + "\n").mkString.getBytes(UTF_8))
          val res = Pipeline.runOnce(spark, config(work, Purpose.Enriched),
            seqExpr = Some(split(col("value"), "\t").getItem(0).cast("long")),
            checkpointDir = Some(s"$work/checkpoint"), now = Some(now))
          assert(res.batches.map(_.count).sum == 20)
        }
        drain("warm")
        val before = CodeGenerator.compileTime
        drain("again")
        // each run is a streaming query with a session of its own; with
        // per-session artifact isolation each would compile afresh
        assert(CodeGenerator.compileTime == before)
      }
    }
  }

  describe("Emitter.emitBatch observation edge cases") {
    it("an empty batch returns an empty result without blocking or staging residue") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        val df = batch(Nil)
        val t0 = System.nanoTime()
        val res = Emitter.emitBatch(df, config(work, Purpose.Enriched, maxTimeout = 60000),
          batchId = 0, now = now)
        val elapsedMs = (System.nanoTime() - t0) / 1000000L
        assert(res == Emitter.BatchResult(0, 0, None, Nil))
        // a missing observation would wait out the 60 s budget
        assert(elapsedMs < 30000, s"empty batch took $elapsedMs ms")
        assert(!new File(s"$work/out/_staging").exists())
        assert(!new File(s"$work/bad").exists())
      }
    }

    it("a retried attempt observes afresh and still names the commit with its seq range") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        val failures = new AtomicInteger(0)
        Serializers.register(Compression.Lzo, Serializers.Codec(
          codecValue = "org.apache.hadoop.io.compress.GzipCodec",
          extension = ".gz",
          postCommit = Some { (_, _) =>
            if (failures.getAndIncrement() == 0) throw new java.io.IOException("post-commit failed once")
          }))
        val backoff = Emitter.retryBackoffMs
        Emitter.retryBackoffMs = 1
        try {
          val df = batch((11 to 35).map(enrichedLine))
          val res = Emitter.emitBatch(df, config(work, Purpose.Raw, Compression.Lzo),
            batchId = 0, now = now)
          assert(failures.get == 2) // the failed attempt, then the retry
          assert(res.count == 25)
          val committed = listFilesRec(new File(s"$work/out")).filter(_.getName.endsWith(".gz"))
          assert(committed.map(_.getName) == Seq("pre-2021-04-30-120000-11-35.gz"))
          assert(res.files.map(f => new File(f).getName) == committed.map(_.getName))
          assert(!new File(s"$work/out/_staging").exists())
        } finally {
          Emitter.retryBackoffMs = backoff
          Serializers.unregister(Compression.Lzo)
        }
      }
    }
  }
}
