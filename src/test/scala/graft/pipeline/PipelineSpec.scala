package graft.pipeline

import java.io.File
import java.nio.file.Files
import java.time.Instant
import scala.sys.process._

import graft.SparkSpec

/** End-to-end micro-batch pipeline: streaming file source → foreachBatch
  * → gzip files with reference naming (seq range + date decoration) +
  * bad-row dead-letter. The written files are verified with the external
  * gunzip binary (reference GZipSerializerSpec style).
  */
class PipelineSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def listFilesRec(dir: File): Seq[File] = {
    val these = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    these.filter(_.isFile) ++ these.filter(_.isDirectory).flatMap(listFilesRec)
  }

  private def config(work: String, purpose: Purpose, dateFormat: Option[String] = Some("{yyyy}/{MM}")) =
    PipelineConfig(
      region = None,
      purpose = purpose,
      input = InputConfig("graft-test", s"$work/in", InitialPosition.TrimHorizon, maxRecords = 100),
      output = OutputConfig(
        S3OutputConfig(s"$work/out", dateFormat, Some("pre"), Compression.Gzip, 10000),
        BadOutputConfig(s"$work/bad")),
      buffer = BufferConfig(1 << 20, 1000, 0),
      monitoring = None)

  describe("Pipeline.runOnce (enriched purpose)") {
    it("writes gzip files with reference naming and drains the source") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val now = Instant.parse("2021-04-30T12:00:00Z")
        val lines = (1 to 50).map(i => s"$i\tapp\tweb\t2020-11-26 00:01:${"%02d".format(i % 60)}\tuser$i")
        lines.toDF("value").coalesce(1).write.text(s"$work/in")

        val result = Pipeline.runOnce(spark, config(work, Purpose.Enriched),
          seqExpr = Some(split(col("value"), "\t").getItem(0).cast("long")),
          checkpointDir = Some(s"$work/checkpoint"),
          now = Some(now))

        assert(result.batches.map(_.count).sum == 50)
        assert(result.batches.flatMap(_.files).nonEmpty)
        // batch meta observed on the emit's write: count + earliest collector tstamp
        assert(result.observedMeta.map(_.count).sum == 50)
        // i runs 1..50 so the earliest second is :01
        assert(result.observedMeta.flatMap(_.earliestTstamp).min
          == Instant.parse("2020-11-26T00:01:01Z"))

        val files = listFilesRec(new File(s"$work/out")).filter(_.getName.endsWith(".gz"))
        assert(files.size == 1)
        val f = files.head
        // pre-yyyy-MM-dd-HHmmss-first-last.gz under out/2021/04/
        assert(f.getName.startsWith("pre-2021-04-30-120000-"))
        assert(f.getName.endsWith(".gz"))
        assert(f.getParentFile.getName == "04" && f.getParentFile.getParentFile.getName == "2021")
        // seq range: lexicographic min/max of string seqs 1..50
        assert(f.getName == "pre-2021-04-30-120000-1-9.gz")

        val out = s"gunzip -c ${f.getAbsolutePath}".!!
        assert(out.split("\n", -1).dropRight(1).sorted.toSeq == lines.sorted)
        // no bad rows
        assert(!new File(s"$work/bad").exists())
      }
    }
  }

  describe("Pipeline.runOnce (self-describing purpose)") {
    it("partitions by schema key with fallback buckets and dead-letters reading errors") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val now = Instant.parse("2021-04-30T12:00:00Z")
        val lines = Seq(
          """{"schema": "iglu:com.acme1/example1/jsonschema/2-0-1", "data": "a"}""",
          """{"schema": "iglu:com.acme1/example1/jsonschema/2-1-0", "data": "b"}""",
          """{"schema": "iglu:com.acme2/other/jsonschema/1-0-0", "data": "c"}""",
          """{"data": "no schema"}""",
          "not json at all")
        lines.toDF("value").coalesce(1).write.text(s"$work/in")

        val result = Pipeline.runOnce(spark, config(work, Purpose.SelfDescribingJson, dateFormat = None),
          checkpointDir = Some(s"$work/checkpoint"), now = Some(now))
        assert(result.batches.map(_.count).sum == 5)

        val files = listFilesRec(new File(s"$work/out")).filter(_.getName.endsWith(".gz"))
        val names = files.map(f => s"${f.getParentFile.getName}/${f.getName}").sorted
        // File name is prefix-partition-time-seqs and the SelfDescribing
        // partition contains '/' (vendor.name/format-model,
        // RowType.scala:28), so the prefix+vendor part becomes a
        // subdirectory: pre-com.acme1.example1/jsonschema-2-<time>-...
        assert(names.exists(_.startsWith("pre-com.acme1.example1/jsonschema-2-2021-04-30")))
        assert(names.exists(_.startsWith("pre-com.acme2.other/jsonschema-1-2021-04-30")))
        // unpartitioned bucket has no partition segment in the name
        assert(files.map(_.getName).exists(_.startsWith("pre-2021-04-30")))

        val contents = files.flatMap(f => s"gunzip -c ${f.getAbsolutePath}".!!.split("\n", -1).dropRight(1))
        assert(contents.size == 5 && contents.toSet == lines.toSet)
      }
    }
  }

  describe("Pipeline.runOnce (scalable naming mode)") {
    it("exactNaming=false writes the same content without the coalesce/rename") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val lines = (1 to 40).map(i => s"$i\tapp\tweb\t2020-11-26 00:01:05\tu$i")
        lines.toDF("value").repartition(4).write.text(s"$work/in")

        val result = Pipeline.runOnce(spark, config(work, Purpose.Raw, dateFormat = None),
          checkpointDir = Some(s"$work/checkpoint"), exactNaming = false,
          now = Some(Instant.parse("2021-04-30T12:00:00Z")))
        assert(result.batches.map(_.count).sum == 40)

        val files = listFilesRec(new File(s"$work/out")).filter(_.getName.endsWith(".gz"))
        // parallel naming: one file per writer task, each still
        // seq-range-named with a part suffix when multiple
        assert(files.nonEmpty)
        val contents = files.flatMap(f => s"gunzip -c ${f.getAbsolutePath}".!!.split("\n", -1).dropRight(1))
        assert(contents.sorted.toSeq == lines.sorted)
      }
    }

    it("a many-part-file batch commits through the executor-side rename fan-out") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val lines = (1 to 240).map(i => s"$i\tapp\tweb\t2020-11-26 00:01:05\tu$i")
        // a 24-partition batch frame stages 24 part files; forcing the
        // conf threshold to 16 (the local-FS default is 512 — a local
        // rename never amortizes a scheduler round-trip) sends the
        // commit's mkdirs/rename through the distributed path (the 100×
        // path); content and naming contract must be unchanged
        val df = lines.toDF("value").repartition(24)
          .withColumn("seq", split(col("value"), "\t").getItem(0).cast("long"))
          .withColumn("error", lit(null).cast("array<string>"))
        spark.conf.set("spark.graft.commit.fanOutThreshold", "16")
        val result =
          try Emitter.emitBatch(df, config(work, Purpose.Raw, dateFormat = None),
            batchId = 0, now = Instant.parse("2021-04-30T12:00:00Z"), exactNaming = false)
          finally spark.conf.unset("spark.graft.commit.fanOutThreshold")
        assert(result.count == 240)
        assert(result.files.size == 24)

        val files = listFilesRec(new File(s"$work/out")).filter(_.getName.endsWith(".gz"))
        assert(files.size == 24)
        assert(files.forall(_.getName.matches("pre-2021-04-30-120000-.*-part\\d{5}\\.gz")))
        val contents = files.flatMap(f => s"gunzip -c ${f.getAbsolutePath}".!!.split("\n", -1).dropRight(1))
        assert(contents.sorted.toSeq == lines.sorted)
      }
    }

    it("a replayed batch commit keeps already-committed objects untouched") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val lines = (1 to 40).map(i => s"$i\tapp\tweb\t2020-11-26 00:01:05\tu$i")
        val df = lines.toDF("value").repartition(4)
          .withColumn("seq", split(col("value"), "\t").getItem(0).cast("long"))
          .withColumn("error", lit(null).cast("array<string>"))
        def emit() = Emitter.emitBatch(df, config(work, Purpose.Raw, dateFormat = None),
          batchId = 0, now = Instant.parse("2021-04-30T12:00:00Z"), exactNaming = false)

        val first = emit()
        val committed = listFilesRec(new File(s"$work/out")).filter(_.getName.endsWith(".gz"))
          .map(f => f.getAbsolutePath -> f.lastModified).toMap
        // Replay the same batch (checkpoint recovery re-runs emitBatch
        // with identical inputs): every dest already exists, so the
        // move must KEEP the committed object — never a delete+rename
        // that a concurrent duplicate attempt could turn into data loss.
        val second = emit()
        assert(second.files.toSet == first.files.toSet)
        val after = listFilesRec(new File(s"$work/out")).filter(_.getName.endsWith(".gz"))
          .map(f => f.getAbsolutePath -> f.lastModified).toMap
        assert(after == committed) // same paths, same mtimes: kept, not rewritten
        val contents = after.keys.toSeq
          .flatMap(p => s"gunzip -c $p".!!.split("\n", -1).dropRight(1))
        assert(contents.sorted == lines.sorted)
      }
    }
  }

  describe("FileSource initial position") {
    it("TRIM_HORIZON / AT_TIMESTAMP / LATEST select three different record sets") {
      withTempDir { tmp =>
        val root = tmp.getAbsolutePath
        val now = Instant.now()

        def stage(work: String): Unit = {
          Files.createDirectories(new File(s"$work/in").toPath)
          def put(name: String, content: String, mtime: Instant): Unit = {
            val p = new File(s"$work/in/$name").toPath
            Files.write(p, (content + "\n").getBytes("UTF-8"))
            Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.from(mtime))
          }
          put("a.txt", "old", now.minusSeconds(7200))
          put("b.txt", "mid", now.minusSeconds(1800))
          // future mtime: deterministically "arrives after" LATEST's start
          put("c.txt", "new", now.plusSeconds(3600))
        }

        def run(name: String, pos: InitialPosition): Set[String] = {
          val work = s"$root/$name"
          stage(work)
          val cfg = config(work, Purpose.Raw, dateFormat = None)
          val posCfg = cfg.copy(input = cfg.input.copy(position = pos))
          Pipeline.runOnce(spark, posCfg, checkpointDir = Some(s"$work/checkpoint"),
            now = Some(Instant.parse("2021-04-30T12:00:00Z")))
          listFilesRec(new File(s"$work/out")).filter(_.getName.endsWith(".gz"))
            .flatMap(f => s"gunzip -c ${f.getAbsolutePath}".!!.split("\n", -1).dropRight(1))
            .toSet
        }

        assert(run("th", InitialPosition.TrimHorizon) == Set("old", "mid", "new"))
        assert(run("at", InitialPosition.AtTimestamp(now.minusSeconds(3600))) == Set("mid", "new"))
        assert(run("lt", InitialPosition.Latest) == Set("new"))
      }
    }

    it("LATEST's cutoff survives a restart: files arriving during downtime are kept") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        Files.createDirectories(new File(s"$work/in").toPath)
        val cfg0 = config(work, Purpose.Raw, dateFormat = None)
        val cfg = cfg0.copy(input = cfg0.input.copy(position = InitialPosition.Latest))

        // first start: cutoff decided and persisted; a future-mtime file passes
        val p1 = new File(s"$work/in/a.txt").toPath
        Files.write(p1, "while-up\n".getBytes("UTF-8"))
        Files.setLastModifiedTime(p1,
          java.nio.file.attribute.FileTime.from(Instant.now().plusSeconds(3600)))
        val r1 = Pipeline.runOnce(spark, cfg, checkpointDir = Some(s"$work/checkpoint"),
          now = Some(Instant.parse("2021-04-30T12:00:00Z")))
        assert(r1.batches.map(_.count).sum == 1)

        // downtime: a file arrives with mtime AFTER the original cutoff
        // but BEFORE the restart instant — a re-evaluated now() filter
        // would drop it while the checkpoint commits it (data loss)
        Thread.sleep(5)
        val p2 = new File(s"$work/in/b.txt").toPath
        Files.write(p2, "while-down\n".getBytes("UTF-8"))
        val r2 = Pipeline.runOnce(spark, cfg, checkpointDir = Some(s"$work/checkpoint"),
          now = Some(Instant.parse("2021-04-30T13:00:00Z")))
        assert(r2.batches.map(_.count).sum == 1, "downtime arrival must be processed")
      }
    }
  }

  describe("FileSource byte-limit admission") {
    it("a small buffer.byteLimit splits the drain into multiple flushes") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        Files.createDirectories(new File(s"$work/in").toPath)
        (1 to 4).foreach { i =>
          Files.write(new File(s"$work/in/f$i.txt").toPath,
            s"record-number-$i-padded-to-some-bytes\n".getBytes("UTF-8"))
        }
        val base = config(work, Purpose.Raw, dateFormat = None)
        val cfg = base.copy(buffer = base.buffer.copy(byteLimit = 10))
        val result = Pipeline.runOnce(spark, cfg, checkpointDir = Some(s"$work/checkpoint"),
          now = Some(Instant.parse("2021-04-30T12:00:00Z")))
        // 10-byte cap < any file: each flush admits exactly one file
        assert(result.batches.map(_.count).sum == 4)
        assert(result.batches.size == 4)
      }
    }
  }

  describe("Pipeline checkpoint resume (exactly-once upgrade, SURVEY §4.2)") {
    it("a restarted drain with the same checkpoint processes only NEW files") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val now = Instant.parse("2021-04-30T12:00:00Z")
        Files.createDirectories(new File(s"$work/in").toPath)
        Files.write(new File(s"$work/in/a.txt").toPath, "first\n".getBytes("UTF-8"))

        val cfg = config(work, Purpose.Raw, dateFormat = None)
        val r1 = Pipeline.runOnce(spark, cfg, checkpointDir = Some(s"$work/checkpoint"), now = Some(now))
        assert(r1.batches.map(_.count).sum == 1)

        // second drain, same checkpoint, nothing new → zero records
        val r2 = Pipeline.runOnce(spark, cfg, checkpointDir = Some(s"$work/checkpoint"), now = Some(now))
        assert(r2.batches.map(_.count).sum == 0)

        // new file arrives → only it is processed (no reprocessing of a.txt)
        Files.write(new File(s"$work/in/b.txt").toPath, "second\n".getBytes("UTF-8"))
        val r3 = Pipeline.runOnce(spark, cfg, checkpointDir = Some(s"$work/checkpoint"),
          now = Some(Instant.parse("2021-04-30T13:00:00Z")))
        assert(r3.batches.map(_.count).sum == 1)

        // total output across the three drains = each record exactly once
        val contents = listFilesRec(new File(s"$work/out")).filter(_.getName.endsWith(".gz"))
          .flatMap(f => s"gunzip -c ${f.getAbsolutePath}".!!.split("\n", -1).dropRight(1))
        assert(contents.sorted == Seq("first", "second"))
      }
    }
  }

  describe("Pipeline gzip input ingestion") {
    it("drains its own gzip output as input (self round-trip)") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val now = Instant.parse("2021-04-30T12:00:00Z")
        val lines = (1 to 20).map(i => s"rec-$i")
        lines.toDF("value").coalesce(1).write.text(s"$work/in")

        // first pass: text in → gzip out
        val cfg1 = config(work, Purpose.Raw, dateFormat = None)
        Pipeline.runOnce(spark, cfg1, checkpointDir = Some(s"$work/checkpoint1"), now = Some(now))
        val gzFiles = listFilesRec(new File(s"$work/out")).filter(_.getName.endsWith(".gz"))
        assert(gzFiles.nonEmpty)

        // second pass: the GZIP OUTPUT is the input (Spark's text source
        // decompresses by extension — the engine ingests its own object
        // format without any config)
        val cfg2 = PipelineConfig(
          region = None, purpose = Purpose.Raw,
          input = InputConfig("graft-test2", s"$work/out", InitialPosition.TrimHorizon, 100),
          output = OutputConfig(
            S3OutputConfig(s"$work/out2", None, Some("pre"), Compression.Gzip, 10000),
            BadOutputConfig(s"$work/bad2")),
          buffer = BufferConfig(1 << 20, 1000, 0),
          monitoring = None)
        val r2 = Pipeline.runOnce(spark, cfg2, checkpointDir = Some(s"$work/checkpoint2"), now = Some(now))
        assert(r2.batches.map(_.count).sum == 20)
        val contents = listFilesRec(new File(s"$work/out2")).filter(_.getName.endsWith(".gz"))
          .flatMap(f => s"gunzip -c ${f.getAbsolutePath}".!!.split("\n", -1).dropRight(1))
        assert(contents.sorted.toSeq == lines.sorted)
      }
    }
  }

  describe("Emitter bad-row channel") {
    it("routes upstream-failed records to the dead letter dir as GenericError JSON") {
      withTempDir { tmp =>
        val work = tmp.getAbsolutePath
        import spark.implicits._
        val df = Seq(
          ("good line", null),
          ("bad line", Seq("Error writing raw event to output stream. simulated")))
          .toDF("value", "error")
          .withColumn("seq", lit("0"))
        val result = Emitter.emitBatch(df, config(work, Purpose.Raw, None), batchId = 0,
          now = Instant.parse("2021-04-30T12:00:00Z"))
        assert(result.count == 2 && result.badCount == 1)

        val badFiles = listFilesRec(new File(s"$work/bad"))
          .filter(_.getName.startsWith("part-"))
        val rows = badFiles.flatMap(f => Files.readAllLines(f.toPath).toArray.toSeq.map(_.toString))
        assert(rows.size == 1)
        val json = rows.head
        assert(json.contains(""""artifact":"graft""""))
        assert(json.contains(""""errors":["Error writing raw event to output stream. simulated"]"""))
        val b64 = java.util.Base64.getEncoder.encodeToString("bad line".getBytes("UTF-8"))
        assert(json.contains(s""""payload":"$b64""""))
      }
    }
  }
}
