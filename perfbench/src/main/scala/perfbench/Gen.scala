package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

/** Deterministic input generators. Every byte derives from the seed, so
  * the same seed gives the same files and the same recorded checksum.
  * All output is ASCII, one record per line.
  */
object Gen {

  /** Record kinds the loader workloads feed the pipeline. */
  sealed trait Kind {
    def line(rng: SplittableRandom, seq: Long, tstampMs: Long): String
    /** The record's sequence number, as the generator wrote it. */
    def seqOf(line: String): Long
  }

  private def seq12(seq: Long): String = {
    val s = java.lang.Long.toString(seq)
    "000000000000".substring(s.length) + s
  }

  private def pad(sb: java.lang.StringBuilder, v: Int, width: Int): java.lang.StringBuilder = {
    val s = Integer.toString(v)
    var i = s.length
    while (i < width) { sb.append('0'); i += 1 }
    sb.append(s)
  }

  /** `yyyy-MM-dd HH:mm:ss.SSS` in UTC, the enriched-TSV timestamp form. */
  def tstamp(ms: Long): String = {
    val dt = LocalDateTime.ofEpochSecond(Math.floorDiv(ms, 1000L), 0, ZoneOffset.UTC)
    val sb = new java.lang.StringBuilder(23)
    pad(sb, dt.getYear, 4).append('-')
    pad(sb, dt.getMonthValue, 2).append('-')
    pad(sb, dt.getDayOfMonth, 2).append(' ')
    pad(sb, dt.getHour, 2).append(':')
    pad(sb, dt.getMinute, 2).append(':')
    pad(sb, dt.getSecond, 2).append('.')
    pad(sb, Math.floorMod(ms, 1000L).toInt, 3).toString
  }

  /** Inverse of [[tstamp]]. */
  def parseTstamp(s: String): Long =
    LocalDateTime.parse(s.replace(' ', 'T')).toInstant(ZoneOffset.UTC).toEpochMilli

  private def hex(rng: SplittableRandom, n: Int): String = {
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Character.forDigit(rng.nextInt(16), 16)); i += 1 }
    sb.toString
  }

  private def uuid(rng: SplittableRandom): String =
    s"${hex(rng, 8)}-${hex(rng, 4)}-4${hex(rng, 3)}-a${hex(rng, 3)}-${hex(rng, 12)}"

  private val Words = Array("scan", "join", "window", "batch", "stream", "table", "row",
    "query", "sort", "merge", "shard", "record", "buffer", "flush", "schema", "event",
    "page", "click", "view", "cart", "order", "user", "session", "device")

  private def pick[A](rng: SplittableRandom, xs: Array[A]): A = xs(rng.nextInt(xs.length))

  /** Snowplow enriched event, 131 tab-separated fields (FIXTURES §1),
    * about 600 bytes. `collector_tstamp` (index 3) is the record's tstamp
    * argument and `txn_id` (index 7) carries the zero-padded sequence
    * number. */
  object Enriched extends Kind {
    val Fields = 131
    val CollectorIdx = 3
    val SeqIdx = 7
    private val Events = Array("page_view", "page_ping", "struct", "unstruct", "transaction")
    private val Countries = Array("GB", "US", "DE", "FR", "JP", "BR", "IN")
    private val Browsers = Array("Chrome", "Firefox", "Safari", "Edge")

    def line(rng: SplittableRandom, seq: Long, tstampMs: Long): String = {
      val f = Array.fill(Fields)("")
      val event = pick(rng, Events)
      val path = s"/${pick(rng, Words)}/${pick(rng, Words)}/${rng.nextInt(1000)}"
      val browser = pick(rng, Browsers)
      f(0) = s"shop-${rng.nextInt(5)}"
      f(1) = if (rng.nextInt(4) == 0) "mob" else "web"
      f(2) = tstamp(tstampMs + 1500 + rng.nextInt(1000))
      f(3) = tstamp(tstampMs)
      f(4) = tstamp(tstampMs - rng.nextInt(3000))
      f(5) = event
      f(6) = uuid(rng)
      f(7) = seq12(seq)
      f(8) = "cf"
      f(9) = "js-2.17.2"
      f(10) = "ssc-2.3.0-kinesis"
      f(11) = "snowplow-enrich-kinesis-3.1.0"
      if (rng.nextInt(3) == 0) f(12) = s"user-${rng.nextInt(100000)}"
      f(13) = s"10.${rng.nextInt(256)}.${rng.nextInt(256)}.${rng.nextInt(256)}"
      f(15) = hex(rng, 16)
      f(16) = Integer.toString(1 + rng.nextInt(40))
      f(18) = pick(rng, Countries)
      f(22) = Integer.toString(rng.nextInt(180) - 90)
      f(23) = Integer.toString(rng.nextInt(360) - 180)
      f(29) = s"https://www.example.com$path?ref=${pick(rng, Words)}"
      f(30) = s"${pick(rng, Words)} ${pick(rng, Words)} | Example"
      f(32) = "https"
      f(33) = "www.example.com"
      f(34) = "443"
      f(35) = path
      f(77) = s"Mozilla/5.0 (X11; Linux x86_64) $browser/${100 + rng.nextInt(30)}.0"
      f(78) = browser
      f(79) = browser
      f(84) = "en-GB"
      f(97) = Integer.toString(800 + rng.nextInt(1200))
      f(98) = Integer.toString(600 + rng.nextInt(600))
      f(99) = "Linux"
      f(103) = "Computer"
      f(122) = tstamp(tstampMs)
      f(123) = "com.snowplowanalytics.snowplow"
      f(124) = event
      f(125) = "jsonschema"
      f(126) = "1-0-0"
      String.join("\t", f: _*)
    }

    def seqOf(line: String): Long = java.lang.Long.parseLong(field(line, SeqIdx))

    def collectorMs(line: String): Long = parseTstamp(field(line, CollectorIdx))

    private val TimeFields = Set(2, 3, 4, 122)

    /** The line with its tstamp fields blanked: what the seed alone fixes
      * when the tstamps are wall-clock due times. */
    def withoutTimes(line: String): String =
      line.split("\t", -1).zipWithIndex.map { case (v, i) => if (TimeFields(i)) "" else v }.mkString("\t")

    private def field(line: String, idx: Int): String = {
      var start = 0
      var i = 0
      while (i < idx) { start = line.indexOf('\t', start) + 1; i += 1 }
      val end = line.indexOf('\t', start)
      line.substring(start, if (end < 0) line.length else end)
    }
  }

  /** Self-describing JSON (FIXTURES §2): 40 Iglu schemas, each its own
    * `vendor.name/format-model` partition, drawn with Zipf(1.1)-skewed
    * frequency; random revision/addition parts that the partition key
    * must collapse; plus non-JSON lines, JSON without `schema`, and an
    * Iglu URI with model 0 (invalid), all of which land in
    * `unpartitioned`. The generator's partition map is built from the
    * seed, never from the loader's own code. */
  final class SelfDescribing(seed: Long) extends Kind {
    val Schemas = 40
    val Unpartitioned = "unpartitioned"

    /** (vendor, name, model) per schema rank. */
    private val schemas: Array[(String, String, Int)] = {
      val rng = new SplittableRandom(seed ^ 0x51d5L)
      Array.tabulate(Schemas) { i =>
        (s"com.vendor${rng.nextInt(7)}", s"${Words(i % Words.length)}_${i / Words.length}", 1 + rng.nextInt(3))
      }
    }

    private val cdf: Array[Double] = {
      val w = Array.tabulate(Schemas)(i => 1.0 / math.pow(i + 1, 1.1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }

    def line(rng: SplittableRandom, seq: Long, tstampMs: Long): String = {
      val id = seq12(seq)
      val r = rng.nextInt(100)
      if (r < 2) s"nonJsonData $id"
      else if (r < 4) "{\"id\":\"" + id + "\",\"key\":\"value\"}"
      else if (r < 5)
        "{\"schema\":\"iglu:com.broken/thing/jsonschema/0-1-0\",\"data\":{\"id\":\"" + id + "\"}}"
      else {
        val u = rng.nextDouble()
        var k = 0
        while (k < Schemas - 1 && cdf(k) < u) k += 1
        val (vendor, name, model) = schemas(k)
        "{\"schema\":\"iglu:" + vendor + "/" + name + "/jsonschema/" + model + "-" +
          rng.nextInt(3) + "-" + rng.nextInt(4) + "\",\"data\":{\"id\":\"" + id + "\",\"n\":" +
          rng.nextInt(1000000) + ",\"t\":\"" + tstamp(tstampMs) + "\",\"s\":\"" +
          pick(rng, Words) + " " + pick(rng, Words) + "\"}}"
      }
    }

    def seqOf(line: String): Long = {
      val marker = line.indexOf("\"id\":\"")
      val at = if (marker >= 0) marker + 6 else line.lastIndexOf(' ') + 1
      java.lang.Long.parseLong(line.substring(at, at + 12))
    }

    /** The partition the reference would give the record (RowType.scala:27-29). */
    def expectedPartition(line: String): String = {
      val prefix = "{\"schema\":\"iglu:"
      if (!line.startsWith(prefix)) Unpartitioned
      else {
        val uri = line.substring(prefix.length, line.indexOf('"', prefix.length))
        uri.split('/') match {
          case Array(v, n, f, version) =>
            val model = version.takeWhile(_ != '-')
            if (model.nonEmpty && model.head != '0') s"$v.$n/$f-$model" else Unpartitioned
          case _ => Unpartitioned
        }
      }
    }
  }

  /** What a generator wrote: the multiset digest of the lines, a SHA-256
    * over the lines in write order (after `checksumOf`, which the open-loop
    * workload uses to blank its wall-clock tstamps), and the totals. */
  final class Written(checksumOf: String => String = identity) {
    val digest = new Util.Digest
    val sha = MessageDigest.getInstance("SHA-256")
    var records = 0L
    var bytes = 0L

    def add(line: String): Array[Byte] = {
      val b = (line + "\n").getBytes(StandardCharsets.US_ASCII)
      digest.add(line)
      sha.update((checksumOf(line) + "\n").getBytes(StandardCharsets.US_ASCII))
      records += 1
      bytes += b.length
      b
    }

    def checksum: String = Util.sha256Hex(sha.clone().asInstanceOf[MessageDigest])
  }

  /** Write one file atomically for a file-source reader: a hidden temp
    * name (the file source skips `.`-prefixed names) renamed into place. */
  def writeFile(dir: File, name: String, lines: Seq[String], into: Written): Unit = {
    val tmp = new File(dir, "." + name + ".tmp")
    val out = new BufferedOutputStream(new FileOutputStream(tmp), 1 << 16)
    try lines.foreach(l => out.write(into.add(l))) finally out.close()
    if (!tmp.renameTo(new File(dir, name)))
      throw new java.io.IOException(s"rename of $tmp failed")
  }

  /** A backlog: `files` files of `perFile` records, sequence numbers
    * from `firstSeq`, collector tstamps 10 ms apart from `baseMs`. */
  def backlog(dir: File, kind: Kind, seed: Long, files: Int, perFile: Int,
              firstSeq: Long, baseMs: Long): Written = {
    Util.deleteRecursively(dir)
    dir.mkdirs()
    val rng = new SplittableRandom(seed)
    val w = new Written
    var seq = firstSeq
    for (f <- 0 until files) {
      val lines = (0 until perFile).map { _ =>
        val l = kind.line(rng, seq, baseMs + (seq - firstSeq) * 10L)
        seq += 1
        l
      }
      writeFile(dir, s"part-${seq12(f.toLong)}.txt", lines, w)
    }
    w
  }
}
