package graft.harness

/** Locale-independent decimal rounding for the bench JSON lines: the `f`
  * interpolator formats with the JVM default locale, so a comma-decimal
  * locale would break `.toDouble` on the artifact after the whole
  * benchmark already ran. `math.rint` + `toString` always renders with a
  * dot.
  */
object Fmt {
  def r3(x: Double): Double = math.rint(x * 1000) / 1000
}
