package graft

import java.util.Locale

/** Number formatting for machine-read output (JSON records, StatsD
  * lines). Scala's `f"…%.3f"` formats in the JVM's default locale, so a
  * comma-decimal locale such as de-DE would print `12,345`; this always
  * prints `12.345`. */
object Fmt {

  /** `v` with exactly `decimals` digits after a `.` decimal point. */
  def fixed(v: Double, decimals: Int): String =
    String.format(Locale.ROOT, s"%.${decimals}f", Double.box(v))
}
