package graft

import org.apache.spark.graftnative.TaskMetricsProbe
import org.apache.spark.sql.functions._

/** The scaling harness's bytes column is committed evidence
  * (SCALING.md's shW exponents), so the probe behind it gets the same
  * treatment as any operator: a pin that it actually observes shuffle
  * traffic, attributes it to the window between reset and snapshot,
  * and reads zero when drained after a reset with no work. */
class TaskMetricsProbeSpec extends SparkSpec {

  test("probe accumulates shuffle bytes for a shuffling job and resets to zero") {
    val sc = spark.sparkContext
    val probe = TaskMetricsProbe.install(sc)
    try {
    probe.reset()
    // a groupBy over a generated range must exchange: non-zero write+read
    spark.range(0, 100000)
      .select((col("id") % 97).as("k"))
      .groupBy("k").count()
      .write.format("noop").mode("overwrite").save()
    TaskMetricsProbe.drain(sc)
    val (r1, w1, _, _) = probe.snapshot()
    assert(w1 > 0, s"shuffle write must be observed, got $w1")
    assert(r1 > 0, s"shuffle read must be observed, got $r1")

    // reset isolates the next window: zero with no further jobs
    probe.reset()
    TaskMetricsProbe.drain(sc)
    assert(probe.snapshot() === ((0L, 0L, 0L, 0L)))

    // a shuffle-free job stays (near-)zero on the shuffle counters:
    // scan -> noop has no exchange
    probe.reset()
    spark.range(0, 1000).write.format("noop").mode("overwrite").save()
    TaskMetricsProbe.drain(sc)
    val (r2, w2, _, _) = probe.snapshot()
    assert(w2 === 0L && r2 === 0L,
      s"no-exchange job must not register shuffle bytes, got read=$r2 write=$w2")
    // the session is JVM-shared across suites: do not leak the listener
    } finally sc.removeSparkListener(probe)
  }

  /** Round-11 verdict: Bench's probe cache used to be keyed by
    * SparkSession while install() registers on the SparkContext — in a
    * one-context-many-sessions JVM every new session stacked another
    * listener on the same bus and every byte counted twice. The cache
    * is now context-keyed; this pins it: two sessions sharing one
    * context must resolve to the SAME probe instance (identity, not
    * equality — one instance is what guarantees one listener). */
  test("Bench's probe cache hands two sessions on one context the same listener") {
    val a = spark
    val b = spark.newSession()
    assert(a.sparkContext eq b.sparkContext, "newSession must share the context")
    // NOT removed afterwards: the cache hands this instance out for the
    // context's whole life, so unregistering it here would leave later
    // Bench users holding a dead listener — the cache's design is one
    // probe per context, registered once, reset per window.
    val pa = Bench.probeFor(a)
    val pb = Bench.probeFor(b)
    assert(pa eq pb,
      "two sessions on one context got distinct probes - double-counting listener stack")
    // and the counting is single: one shuffling job, one window
    pa.reset()
    a.range(0, 50000).select((col("id") % 31).as("k"))
      .groupBy("k").count()
      .write.format("noop").mode("overwrite").save()
    TaskMetricsProbe.drain(a.sparkContext)
    val (_, wA, _, _) = pa.snapshot()
    val (_, wB, _, _) = pb.snapshot()
    assert(wA > 0 && wA === wB, s"one window, one count: $wA vs $wB")
    pa.reset()
  }

  /** `Bench.timedRep` settles after a rep by what the rep stored, seen on
    * the drained bus, so the pause cannot follow the JVM's GC timing. */
  test("probe sees a rep that persisted an RDD, and only that rep") {
    val probe = Bench.probeFor(spark)
    Bench.timedRep(spark, probe)(spark.range(8).selectExpr("id + 1").collect())
    assert(!probe.persistedRdd, "a plain collect stores no RDD block")
    Bench.timedRep(spark, probe)(spark.range(8).localCheckpoint(true).count())
    assert(probe.persistedRdd, "an eager local checkpoint stores its blocks")
  }
}
