package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Timeout-resilient by construction (round-13 verdict #1: the round's
  * correctness artifact read `{}` because a wall-clock kill mid-run left
  * the oracle checker nothing):
  *   - `oracle_sql.json` is STATIC (derived from [[SparkEntry.oracleSql]],
  *     no Spark needed), so it is written FIRST — a kill at any point after
  *     startup still leaves the driver a parseable oracle map covering
  *     every query directory that finished dumping;
  *   - queries dump in SMOKE ORDER (verdict #6): the reference-surface rows
  *     (q01–q15) first, then one representative per query family, then the
  *     long tail — so a partial run certifies the reference surface and
  *     every operator family before it certifies the 14th variant of one;
  *   - an optional wall budget (`SPARK_GRAFT_VERIFY_BUDGET` seconds,
  *     default 2400) stops STARTING new dumps once exhausted and exits 0
  *     with whatever completed, beating an external kill -9 to the punch.
  */
object Verify {

  /** q01_event_features → 1, q113b_ensemble_measured → 113. */
  private def qNum(name: String): Int =
    name.drop(1).takeWhile(_.isDigit) match {
      case "" => Int.MaxValue
      case d  => d.toInt
    }

  /** Family key = first slug token after the number: q143_image_dhash and
    * q144_image_neardup are both "image". Names without a slug are their
    * own family. */
  private def family(name: String): String =
    name.dropWhile(_ != '_').drop(1).takeWhile(_ != '_') match {
      case "" => name
      case f  => f
    }

  /** Reference surface (qNum ≤ 15) first, then the lowest-named member of
    * each remaining family, then everything else — each tier name-sorted,
    * so the order is total and deterministic. */
  def smokeOrder(names: Seq[String]): Seq[String] = {
    val sorted = names.sorted
    val (ref, rest) = sorted.partition(n => qNum(n) <= 15)
    val reps = rest.groupBy(family).values.map(_.min).toSet
    val (heads, tail) = rest.partition(reps)
    ref ++ heads ++ tail
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_VERIFY_BUDGET", "2400").toDouble
    new java.io.File(outDir).mkdirs()
    writeOracleSql(outDir)
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9

    val spark = Sessions.local("graft-verify")
    // SPARK_GRAFT_ONLY=q05,q13 → run just those queries (local iteration).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val byName = SparkEntry.queries
    val selected = smokeOrder(byName.keys.toSeq)
      .filter(name => only.forall(s => s.exists(name.startsWith)))
    var done = 0
    var saidBudget = false
    selected.foreach { name =>
      if (elapsed > budgetSec) {
        if (!saidBudget) {
          saidBudget = true
          System.err.println(f"[verify] wall budget ${budgetSec}%.0f s exhausted " +
            f"after $done/${selected.size} queries (${elapsed}%.0f s) — " +
            "remaining dumps skipped; completed dirs are valid")
        }
      } else {
        try {
          byName(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          done += 1
          System.err.println(f"[verify] $name ok ($done/${selected.size}, ${elapsed}%.0f s)")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }

  /** The static oracle map — no Spark involved, written before any query
    * runs. JSON string escape covers backslash, quote, and ALL control
    * chars (<0x20): a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness. */
  def writeOracleSql(outDir: String): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
