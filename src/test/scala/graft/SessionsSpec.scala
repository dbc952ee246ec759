package graft

import org.apache.spark.sql.graftnative.{AsOfJoinStrategy, RangeJoinRewrite}

/** The factory's session is the configuration every entry point runs,
  * and Explain prints the plans of exactly that configuration. */
class SessionsSpec extends SparkSpec {

  test("Sessions.local: UTC, UI off, shuffle partitions = cores, engine rules and CBO on") {
    // the shared spec session IS a factory session; asking the factory
    // again re-applies its settings to it and must hand back the same one
    val s = try Sessions.local("graft-tests", cores = 4)
      finally spark.sparkContext.setLogLevel("ERROR")
    assert(s eq spark)
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(s.sparkContext.uiWebUrl.isEmpty)
    assert(s.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(s.sparkContext.master === sys.env.getOrElse("SPARK_MASTER", "local[4]"))
    assert(s.experimental.extraStrategies.contains(AsOfJoinStrategy))
    assert(s.experimental.extraOptimizations.contains(RangeJoinRewrite))
    assert(s.conf.get("spark.sql.cbo.enabled") === "true")
    assert(s.conf.get("spark.sql.cbo.joinReorder.enabled") === "true")
  }

  test("Explain prints q73b alone as the bucketed equi join, never a nested-loop join") {
    val dir = "/root/testdata/sf0.01"
    val Seq((name, plan)) = Explain.plans(spark, dir, Seq("q73b"))
    assert(name === "q73b_range_join_rule")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("Generate"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // a session built without the factory (no engine rules) plans the
    // same query as a nested-loop join: the rules are what the check sees
    val Seq((_, bare)) = Explain.plans(spark.newSession(), dir, Seq("q73b"))
    assert(bare.contains("BroadcastNestedLoopJoin"), bare)
  }
}
