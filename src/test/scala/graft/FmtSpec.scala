package graft

import java.time.Instant
import java.util.Locale

import org.scalatest.funspec.AnyFunSpec

import graft.pipeline.{StatsD, StatsDConfig, StreamingMetrics}

/** Machine-read numbers (bench JSON, StatsD gauges) must not depend on
  * the JVM's default locale. */
class FmtSpec extends AnyFunSpec {

  private def withDefaultLocale[A](locale: Locale)(f: => A): A = {
    val saved = Locale.Category.values.map(c => c -> Locale.getDefault(c))
    Locale.setDefault(locale)
    try f
    finally saved.foreach { case (c, l) => Locale.setDefault(c, l) }
  }

  private val deDE = Locale.forLanguageTag("de-DE")

  describe("Fmt.fixed") {
    it("prints a `.` decimal point under a comma-decimal default locale") {
      withDefaultLocale(deDE) {
        // the default-locale formatting it replaces prints a comma here
        assert(f"${12.5}%.1f" == "12,5")
        assert(Fmt.fixed(12.5, 1) == "12.5")
        assert(Fmt.fixed(1234.5678, 3) == "1234.568")
        assert(Fmt.fixed(-0.25, 2) == "-0.25")
        assert(Fmt.fixed(3.0, 0) == "3")
      }
    }

    it("keeps the StreamingMetrics rate gauges parseable under de-DE") {
      withDefaultLocale(deDE) {
        val h = StreamingMetrics.BatchHealth(1, 25, 12.5, 1500.25, 7, None, None, None)
        val sd = StatsDConfig("localhost", 8125, Map.empty, Some("graft.loader"))
        val lines = StreamingMetrics.metrics(h, Instant.EPOCH).map(StatsD.format(sd, _))
        assert(lines.contains("graft.loader.stream.input_rows_per_sec:12.5|g|#"))
        assert(lines.contains("graft.loader.stream.processed_rows_per_sec:1500.3|g|#"))
      }
    }
  }
}
