package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftnative.{AsOfJoinStrategy, RangeJoinRewrite, StringNormExpressions, VectorExpressions}

/** Runtime enablement of the engine's Catalyst extensions on an ALREADY
  * RUNNING session — the programmatic twin of setting
  * `spark.sql.extensions=graft.plans.GraftExtensions` at launch. Every
  * engine entry point (Verify, Bench, Cli, the test session) calls this,
  * so the custom planner strategy and optimizer rule are part of the
  * engine's standard configuration, not demo-only: the driver's own
  * correctness gate runs THROUGH them (q73b exercises RangeJoinRewrite
  * end-to-end against the DuckDB oracle). Idempotent. */
object GraftRuntime {
  def enable(spark: SparkSession): Unit = {
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        AsOfJoinStrategy +: spark.experimental.extraStrategies
    if (!spark.experimental.extraOptimizations.contains(RangeJoinRewrite))
      spark.experimental.extraOptimizations =
        RangeJoinRewrite +: spark.experimental.extraOptimizations
    // SQL-name bridges for the native scalar expressions (idempotent —
    // registerFunction replaces): spark.sql text gets the same codegen'd
    // implementations the Column API uses
    VectorExpressions.register(spark)
    StringNormExpressions.register(spark)
    org.apache.spark.sql.graftnative.SketchAggregates.register(spark)
    // Cost-based optimization is standard runtime configuration, not
    // demo-only: with ANALYZE-collected statistics (`Cli maintain
    // analyze` / Maintenance.analyzeForCbo) Catalyst reorders joins
    // from DATA rather than SQL syntax (q211 + CboSpec pin the reorder).
    // For path-read frames with no catalog stats the join-reorder rule
    // skips (it needs row counts on every side), so the rest of the
    // registry is unaffected.
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    // Whole-stage classes named without their stage id: Spark's codegen
    // cache keys on (class loader, source), so two stages of one shape
    // share a compiled class instead of differing only in the name. The
    // cache holds 100 entries in 4 segments of 25, and a local-mode body
    // takes two (driver and executor loader); with stage ids in the name,
    // a corpus-dedup pass overflowed it and every warm pass recompiled
    // classes pass 0 had built (OPTIMIZATION_r14.md §16). Internal Spark
    // conf: ExtensionsSpec's same-shape case compares two stages' generated
    // sources, so it fails if an upgrade drops the conf.
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
  }
}
