package graft

import org.apache.spark.sql.SparkSession

/** Plan inspector: `runMain graft.Explain <sfDir> [queryPrefix...]` prints
  * the formatted physical plan of each selected registry query — the
  * review loop for scale hygiene (pushed filters, pruned schemas,
  * broadcast vs sort-merge, whole-stage codegen spans). The session comes
  * from [[Sessions.local]], so the plan printed is the one Verify and
  * Bench run. */
object Explain {

  /** (query name, formatted physical plan) for every registry query whose
    * name starts with one of `prefixes` (all of them when empty), in name
    * order. A query that fails to plan yields its error as the text. */
  def plans(spark: SparkSession, sfDir: String,
            prefixes: Seq[String]): Seq[(String, String)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }
      .map { case (name, fn) =>
        name -> (try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"explain failed: $e" })
      }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.local("graft-explain")
    try plans(spark, sfDir, args.drop(1).toSeq).foreach { case (name, plan) =>
      println(s"\n======== $name ========")
      println(plan)
    }
    finally spark.stop()
  }
}
