package perfbench

import java.io.{BufferedReader, File, FileInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** Small shared helpers: clocks, order statistics, multiset digests,
  * file listing and the JSON record writer. Nothing here touches Spark.
  */
object Util {

  def nowMs: Long = System.currentTimeMillis()

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def millisSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Quantile of a weighted sample: the smallest value whose cumulative
    * weight reaches `q` of the total. Values may be +Inf (a record that
    * never became visible counts as missing every latency limit). */
  def weightedQuantile(sample: collection.Seq[(Double, Long)], q: Double): Double = {
    val s = sample.filter(_._2 > 0).sortBy(_._1)
    val total = s.map(_._2).sum
    if (total == 0) return Double.NaN
    val target = math.ceil(q * total).toLong.max(1L)
    var acc = 0L
    for ((v, w) <- s) {
      acc += w
      if (acc >= target) return v
    }
    s.last._1
  }

  /** Order-independent digest of a multiset of lines: equal digests mean
    * equal multisets up to a 128-bit collision. */
  final class Digest {
    var count = 0L
    var sum = 0L
    var sumMix = 0L

    def add(line: String): Unit = {
      val h = (MurmurHash3.stringHash(line, 0x3c074a61).toLong << 32) ^
        (MurmurHash3.stringHash(line, 0x5bd1e995).toLong & 0xffffffffL)
      count += 1
      sum += h
      sumMix += mix64(h)
    }

    def merge(o: Digest): Digest = {
      count += o.count; sum += o.sum; sumMix += o.sumMix
      this
    }

    def sameAs(o: Digest): Boolean = count == o.count && sum == o.sum && sumMix == o.sumMix

    override def toString: String =
      s"n=$count sum=${java.lang.Long.toHexString(sum)} mix=${java.lang.Long.toHexString(sumMix)}"
  }

  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Every line of a gzip object, in order. */
  def gzipLines(f: File)(each: String => Unit): Unit = {
    val in = new BufferedReader(new InputStreamReader(
      new GZIPInputStream(new FileInputStream(f), 1 << 16), StandardCharsets.UTF_8), 1 << 16)
    try {
      var line = in.readLine()
      while (line != null) { each(line); line = in.readLine() }
    } finally in.close()
  }

  /** Regular files under `root`, skipping every name that starts with `_`
    * (`_staging`, `_checkpoint`, `_SUCCESS`) or `.` (checksum sidecars):
    * the committed objects a downstream reader would see. */
  def visibleObjects(root: File): Seq[File] = {
    val out = mutable.ArrayBuffer.empty[File]
    def walk(d: File): Unit = {
      val kids = d.listFiles()
      if (kids != null) kids.foreach { k =>
        val n = k.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          if (k.isDirectory) walk(k) else out += k
        }
      }
    }
    walk(root)
    out.toSeq
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def relative(root: File, f: File): String =
    root.toPath.relativize(f.toPath).toString.replace(File.separatorChar, '/')

  def sha256Hex(md: java.security.MessageDigest): String =
    md.digest().map(b => Integer.toHexString((b & 0xff) | 0x100).substring(1)).mkString

  /** Serialize a record built from Scala maps/seqs/numbers/strings as
    * JSON with Jackson: number formatting never depends on the JVM
    * locale. NaN and infinities become null. */
  def toJson(v: Any): String =
    new com.fasterxml.jackson.databind.ObjectMapper().writer().writeValueAsString(toJava(v))

  private def toJava(v: Any): AnyRef = v match {
    case null => null
    case m: scala.collection.Map[_, _] =>
      val jm = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => jm.put(k.toString, toJava(x)) }
      jm
    case s: Iterable[_] =>
      val jl = new java.util.ArrayList[AnyRef]()
      s.foreach(x => jl.add(toJava(x)))
      jl
    case o: Option[_] => o.map(toJava).orNull
    case d: Double => if (d.isNaN || d.isInfinite) null else java.lang.Double.valueOf(d)
    case f: Float => toJava(f.toDouble)
    case i: Int => java.lang.Long.valueOf(i.toLong)
    case l: Long => java.lang.Long.valueOf(l)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case s: String => s
    case other => other.toString
  }

  def writeString(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, s, StandardCharsets.UTF_8)
  }
}
