package graft

import graft.functions.VectorExprs
import org.apache.spark.sql.functions._

/** The SQL-registration path for native expressions: after register (or
  * GraftExtensions injection), `graft_fdot` is callable from SQL text and
  * agrees with the Column API and plain Scala. */
class ExtensionsSpec extends SparkSpec {

  test("graft_fdot registered and callable from SQL text") {
    import spark.implicits._
    VectorExprs.register(spark)
    Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b").createOrReplaceTempView("vecs")
    val sql = spark.sql("SELECT graft_fdot(a, b) AS d FROM vecs")
      .collect().head.getDouble(0)
    val api = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b").select(VectorExprs.fdot(col("a"), col("b")))
      .collect().head.getDouble(0)
    assert(sql === 32.0 && api === 32.0)
  }

  test("graft_nfc and graft_jaro_winkler callable from SQL text") {
    graft.plans.GraftRuntime.enable(spark)
    val r = spark.sql(
      "SELECT graft_nfc('é') AS n, graft_jaro_winkler('martha', 'marhta') AS jw")
      .collect().head
    assert(r.getString(0) === "é")
    assert(r.getDouble(1) ===
      org.apache.spark.sql.graftnative.StringNormOps.jaroWinklerStr("martha", "marhta"))
  }

  test("GraftExtensions class injects into a fresh session") {
    // exercises the spark.sql.extensions entry point end-to-end: build an
    // isolated session with the extensions class and call the function
    val s2 = spark.newSession()
    new graft.plans.GraftExtensions().apply(
      new org.apache.spark.sql.SparkSessionExtensions) // constructible + applicable
    VectorExprs.register(s2)
    import s2.implicits._
    val d = Seq((Array(2.0f), Array(8.0f))).toDF("a", "b")
      .select(VectorExprs.fdot(col("a"), col("b"))).collect().head.getDouble(0)
    assert(d === 16.0)
  }

  test("GraftRuntime.enable: same-shape whole-stage subtrees generate one source") {
    // Spark's codegen cache keys on the generated source; with the stage id
    // in the class name, two stages of one shape compile twice. The conf is
    // internal to Spark, and Spark reads back any key set on it, so the
    // identical-bodies assertion is what fails if an upgrade drops it
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    graft.plans.GraftRuntime.enable(spark)
    val half = spark.range(0, 100, 1, 2).selectExpr("id * 3 AS x").filter("x % 2 = 0")
    val plan = half.union(half).queryExecution.executedPlan
    val stages = plan.collect { case w: WholeStageCodegenExec => w }
    assert(stages.map(_.codegenStageId).distinct.size === 2, plan.treeString)
    val bodies = stages.map(_.doCodeGen()._2.body)
    assert(bodies.distinct.size === 1, "two same-shape stages generated different sources")
    assert(bodies.head.contains("final class GeneratedIterator "), bodies.head.take(400))
  }
}
