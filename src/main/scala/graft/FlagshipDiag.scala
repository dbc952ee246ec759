package graft

import graft.operators.KMeans

/** Stage-split timing for the flagship k-medoids loop (q00) — the
  * diagnostic behind SCALING.md's top-octave analysis (round-10 verdict
  * #4: the 16→64 wall step read 0.93 while the full span read 0.53;
  * name the stage). Runs each stage of ONE iteration in isolation on
  * `SPARK_GRAFT_SF_DIR`, reps = 2, min wall per stage:
  *
  *   scan+cache — the features scan and cache materialization;
  *   assign     — nearest-centroid argmin over the cached features;
  *   candidates — `KMeans.sampleCandidates`: the map-only pass keeping
  *                each partition's first s members per cluster (O(n log s),
  *                no exchange) and the driver merge of the ≤ p·k·s rows;
  *   medoid     — `KMeans.scoreCandidates`: the map-only pass summing
  *                each partition's distances to the closure-borne
  *                candidates (O(n·s) distance folds — the linear-work term
  *                that must dominate at scale) and the driver merge of
  *                one partial-sum array per partition.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.FlagshipDiag
  * Prints one JSON line per stage. */
object FlagshipDiag {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-flagship-diag")
    import spark.implicits._

    val features = Tables.eventFeatures(spark, dir).as[graft.model.TweetFeatures]
    val df = features.toDF()
    df.cache()
    def time(name: String)(f: => Long): Unit = {
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val (sec, n) = runs.minBy(_._1)
      println(s"""{"stage":"$name","sec":${Json.num(sec)},"rows":$n}""")
    }
    time("scan_cache") { df.unpersist(true); df.cache(); df.count() }
    val seeds = KMeans.deterministicSeeds(df, 3)
    val centroids = KMeans.resolveCentroids(features, seeds)
    val (s, hw) = (256, 0.8) // q00's SampledMedoid(256) at the default weight
    val members = KMeans.assignWithFeatures(df, centroids, hw)
    time("assign") {
      members.write.format("noop").mode("overwrite").save(); members.count()
    }
    val candidates = KMeans.sampleCandidates(members, s)
    time("candidates") { KMeans.sampleCandidates(members, s).size.toLong }
    time("medoid") { KMeans.scoreCandidates(members, candidates, hw).size.toLong }
    time("full_iteration") {
      val m2 = KMeans.assignWithFeatures(df, centroids, hw)
      KMeans.sampledMedoidFeatures(m2, s, hw).size.toLong
    }
    spark.stop()
  }
}
