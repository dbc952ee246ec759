package graft

/** Number rendering for every JSON artifact. The `f` interpolator formats
  * in the JVM default locale, so a decimal-comma locale would emit
  * `1,250` and break the JSON; this always renders `1.250`. */
object Json {
  def num(x: Double, digits: Int = 3): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(x))
}
