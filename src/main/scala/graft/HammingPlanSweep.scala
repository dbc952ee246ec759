package graft

/** Wall-time sweep of the q45c assignment pipeline under each PINNED
  * hamming block plan — the calibration data behind the chooser's
  * band-row weight (round-11 finding: the equal-weight cost model
  * band_rows + raw_join_rows picked m=10/c=4 at ×256 where the measured
  * wall says otherwise — a shuffled+sorted band row does not cost the
  * same as a merge-streamed candidate row). Runs
  * `Dedup.simhashAssignments` with plan = each exact (m, c) family over
  * `SPARK_GRAFT_SF_DIR`, reps from `SPARK_GRAFT_SCALE_REPS` (default 1 —
  * each rep is minutes at ×256), min wall + the min-wall rep's task
  * metrics. Output: one JSON line per plan. */
object HammingPlanSweep {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "1").toInt
    val plans = sys.env.getOrElse("SPARK_GRAFT_HAMMING_PLANS", "7:1,8:2,9:3,10:4")
      .split(',').map { s => val Array(m, c) = s.split(':').map(_.trim.toInt); (m, c) }
    val spark = Sessions.local("graft-hamming-sweep")
    val probe = Bench.probeFor(spark)
    val docs = graft.operators.Dedup.withNearDuplicates(
      Tables.load(spark, dir, "documents"))
    for ((m, c) <- plans) {
      val runs = (1 to reps).map { _ =>
        val (_, sec, mtr, _) = Bench.timedRep(spark, probe) {
          graft.operators.Dedup.simhashAssignments(docs, plan = Some((m, c)))
            .write.format("noop").mode("overwrite").save()
        }
        (sec, mtr)
      }
      val (sec, (sr, sw, ds, ms)) = runs.minBy(_._1)
      println(s"""{"plan":"$m:$c","sec":${Json.num(sec, 2)},""" +
        s""""shuffle_read_mb":${Json.num(sr / 1e6, 1)},"shuffle_write_mb":${Json.num(sw / 1e6, 1)},""" +
        s""""disk_spill_mb":${Json.num(ds / 1e6, 1)},"mem_spill_mb":${Json.num(ms / 1e6, 1)}}""")
    }
    spark.stop()
  }
}
