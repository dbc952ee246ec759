package graft

import graft.functions.Distances
import graft.model._
import graft.operators.{KMeans, Medoids}
import org.apache.spark.sql.functions._

/** A1/A3/A8/A9 clustering kernel semantics (SURVEY §2.4, §3.2) —
  * intended-semantics versions of the reference defects (§2.8). */
class KMeansSpec extends SparkSpec {

  private def tf(id: Long, time: Int, tags: Int, lang: String, video: Int) =
    TweetFeatures(id, tags, lang, video, 0, 0, 0, time)

  private lazy val centroids = Seq(
    tf(-1, 0, 0, "en", 0), // c0 at origin
    tf(-2, 3, 0, "en", 0), // c1 at time=3
    tf(-3, 0, 10, "en", 0)) // c2 at tags=10

  test("A1: true argmin, not the reference's last-beats-first bug") {
    import spark.implicits._
    val rows = Seq(
      tf(1, 0, 0, "en", 0), // exactly c0
      tf(2, 3, 1, "en", 0), // nearest c1
      tf(3, 0, 9, "en", 0), // nearest c2
      tf(4, 2, 0, "en", 0)) // d0=2, d1=1 → c1
    val got = KMeans.assign(rows.toDF(), centroids).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 1))
  }

  test("A1: first-wins tie-break is deterministic") {
    import spark.implicits._
    // equidistant between c0 (time 0) and c1 (time 3) at time... use tags
    // midpoint of c0/c2: tags=5 → d0 = 4.0, d2 = 4.0 (weight .8), tie → c0
    val got = KMeans.assign(Seq(tf(9, 0, 5, "en", 0)).toDF(), centroids)
      .collect().head.getInt(1)
    assert(got === 0)
  }

  test("A3: exact medoid on a hand-checked cluster; ties to smallest id") {
    import spark.implicits._
    // cluster 0: tags 0, 2, 10 → totals: 0:(2+10)*.8, 2:(2+8)*.8 min, 10:(10+8)*.8
    val members = Seq(
      (0, 1L, 0), (0, 2L, 2), (0, 3L, 10),
      (1, 4L, 5), (1, 5L, 5)) // tie on total → smallest id 4
      .toDF("cluster", "id", "tags")
    val got = Medoids.compute(members, "cluster", "id", Seq("tags"),
      (l, r) => abs(l("tags") - r("tags")))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === Map(0 -> 2L, 1 -> 4L))
  }

  test("A9/run: converges on well-separated clusters and recovers them") {
    import spark.implicits._
    val clusterA = (1L to 20L).map(i => tf(i, 1, 5, "en", 0))
    val clusterB = (21L to 40L).map(i => tf(i, 3, 40, "tr", 1))
    val features = spark.createDataset(clusterA ++ clusterB)
    val result = KMeans.run(features,
      KMeansConfig(k = 2, seeds = Seq(1L, 21L), maxIterations = 5))
    assert(result.converged)
    val assigns = result.assignments.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert((1L to 20L).map(assigns).toSet.size === 1)
    assert((21L to 40L).map(assigns).toSet.size === 1)
    assert(assigns(1L) !== assigns(21L))
    // medoid centroids are members
    assert(result.centroids.forall(c => (1L to 40L).contains(c.id)))
  }

  test("Mean strategy produces non-member centroids and still partitions") {
    import spark.implicits._
    val clusterA = (1L to 10L).map(i => tf(i, 1, 5, "en", 0))
    val clusterB = (11L to 20L).map(i => tf(i, 3, 40, "tr", 1))
    val features = spark.createDataset(clusterA ++ clusterB)
    val result = KMeans.run(features,
      KMeansConfig(k = 2, seeds = Seq(1L, 11L), strategy = Mean, maxIterations = 5))
    assert(result.converged)
    assert(result.centroids.map(_.id).forall(_ < 0)) // synthetic ids
  }

  test("A8: deterministic seeds are replayable and distinct") {
    import spark.implicits._
    val df = (1L to 100L).map(i => tf(i, 0, i.toInt, "en", 0)).toDF()
    val s1 = KMeans.deterministicSeeds(df, 5)
    val s2 = KMeans.deterministicSeeds(df, 5)
    assert(s1 === s2)
    assert(s1.distinct.size === 5)
    val r1 = KMeans.randomSeeds(df, 5, 0.6, seed = 7L)
    val r2 = KMeans.randomSeeds(df, 5, 0.6, seed = 7L)
    assert(r1 === r2)
  }

  test("golden: flagship run on sf0.001 eventFeatures is bit-stable") {
    import spark.implicits._
    val features = Tables.eventFeatures(spark, "/root/testdata/sf0.001").as[TweetFeatures]
    val seeds = KMeans.deterministicSeeds(features.toDF(), 3)
    assert(seeds === Seq(0L, 327L, 654L))
    val r = KMeans.run(features, KMeansConfig(k = 3, seeds = seeds))
    assert(r.iterations === 4 && r.converged)
    assert(r.centroids.map(_.id) === Seq(563L, 659L, 365L))
    val counts = r.assignments.groupBy("cluster").count().collect()
      .map(row => row.getInt(0) -> row.getLong(1)).sortBy(_._1).toSeq
    assert(counts === Seq(0 -> 263L, 1 -> 434L, 2 -> 303L))
  }

  test("sampled medoid equals exact medoid when sample covers the cluster") {
    import spark.implicits._
    // i*i % 11 keeps every candidate's true total distance distinct: the
    // previous i % 4 grid made two cluster-0 candidates tie EXACTLY in
    // real arithmetic, so which one "won" was decided by the ulp noise
    // of double-summation order — a partitioning artifact, not the
    // contract (both paths independently satisfy min-total + smallest-id
    // tie-break; they just rounded the tie differently).
    val members = KMeans.assignWithFeatures(
      spark.createDataset((1L to 15L).map(i => tf(i, (i % 4).toInt, (i * i % 11).toInt, "en", 0))).toDF(),
      centroids)
    val exact = KMeans.medoids(members).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sampled = KMeans.sampledMedoids(members, sampleSize = 1000).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(exact === sampled)
  }

  test("sampled medoid: top-s by (id-hash, id), exact totals, argmin by (total, id)") {
    import spark.implicits._
    val s = 4
    val rows = (1L to 40L).map(i =>
      tf(i * 7919L, (i * 7 % 13).toInt, (i * i % 17).toInt, if (i % 3 == 0) "tr" else "en", (i % 2).toInt))
    val spread = Seq(tf(-1, 0, 0, "en", 0), tf(-2, 12, 0, "en", 0), tf(-3, 6, 16, "en", 0))
    val members = KMeans.assignWithFeatures(rows.toDF(), spread) // 11/10/19 members
    // driver-side oracle over the same assignment
    val byCluster = members.select(col("cluster"),
      struct(col("id"), col("numOfHashtags"), col("language"), col("hasVideo"),
        col("replyCount"), col("retweetCount"), col("likeCount"), col("time")))
      .as[(Int, TweetFeatures)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val p = 1000000007L
    def hashOrder(id: Long) = Math.floorMod(id, p) * (2654435761L % p) % p
    val top = byCluster.map { case (c, ms) =>
      assert(ms.size > s, s"cluster $c has ${ms.size} members; the fixture needs more than $s")
      c -> ms.sortBy(f => (hashOrder(f.id), f.id)).take(s)
    }
    val expected = top.map { case (c, cands) =>
      val totals = cands.map(f => f -> byCluster(c).map(Distances.weightedDistance(f, _, 0.8)).sum)
        .sortBy(_._2)
      assert(totals(1)._2 - totals(0)._2 > 1e-6, s"cluster $c: the fixture must have no tie")
      c -> totals.head._1
    }
    assert(KMeans.sampleCandidates(members, s).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap ===
      top.view.mapValues(_.toSet).toMap)
    assert(KMeans.sampledMedoidFeatures(members, s) === expected)
  }

  /** Two separated 200-member clusters, in at least as many partitions
    * as cores, so [[KMeans.run]] caches them without its repartition. */
  private def twoClusters = {
    import spark.implicits._
    val clusterA = (1L to 200L).map(i => tf(i, (i % 5).toInt, (i % 7).toInt, "en", 0))
    val clusterB = (201L to 400L).map(i => tf(i, 50 + (i % 5).toInt, 40 + (i % 7).toInt, "tr", 1))
    val features = spark.createDataset(clusterA ++ clusterB)
    assert(features.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism,
      "the input must not need the pre-cache repartition")
    features
  }

  test("sampled medoid update shuffles at most 2·p·k·s records per iteration, never the members") {
    val (k, s) = (2, 3)
    val features = twoClusters
    val written = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) written.add(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    val sc = spark.sparkContext
    org.apache.spark.graftnative.TaskMetricsProbe.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = KMeans.run(features,
        KMeansConfig(k = k, seeds = Seq(1L, 201L), strategy = SampledMedoid(s)))
      org.apache.spark.graftnative.TaskMetricsProbe.drain(sc)
      assert(r.iterations >= 1)
      // the update's two passes are map-only: no record crosses an
      // exchange (the bound was 2·p·k·s per iteration while the candidates
      // came from a window and the totals from a partial aggregation)
      assert(written.sum() === 0L,
        s"${written.sum()} shuffle records over ${r.iterations} iterations (400 members)")
    } finally sc.removeSparkListener(listener)
  }

  test("job budget: KMeans.run(SampledMedoid) is one resolve plus two jobs per iteration") {
    var r: KMeans.Result = null
    val jobs = jobsIn {
      r = KMeans.run(twoClusters, KMeansConfig(k = 2, seeds = Seq(1L, 201L), strategy = SampledMedoid(3)))
    }
    assert(r.iterations === 2 && r.converged)
    // the seed lookup, then candidates + totals per iteration; the final
    // assignment is lazy (the window + broadcast-aggregate update ran 15)
    assert(jobs <= 5, s"$jobs jobs over ${r.iterations} iterations")
  }

  test("sampled update: the closure's nearest centroid equals assign under exact ties") {
    import spark.implicits._
    // c2 duplicates c0, so every row nearest c0 ties it with c2; c1 and c3
    // sit 2 apart in time, so rows at time 1 may tie them. The first wins.
    val cs = Seq(tf(-1, 0, 0, "en", 0), tf(-2, 0, 5, "en", 0), tf(-3, 0, 0, "en", 0),
      tf(-4, 2, 5, "en", 0))
    val rows = for {
      t <- 0 to 3; h <- 0 to 10; l <- Seq("en", "tr"); v <- 0 to 1
    } yield tf(t * 1000L + h * 10 + v * 5 + (if (l == "tr") 1 else 0), t, h, l, v)
    val want = KMeans.assign(rows.toDF(), cs).as[(Long, Int)].collect().toMap
    val got = rows.map(f => f.id -> KMeans.nearest(f, cs.toArray, 0.8)).toMap
    assert(got === want)
    def nearestSet(f: TweetFeatures) = {
      val d = cs.map(Distances.weightedDistance(f, _, 0.8))
      d.indices.filter(d(_) == d.min)
    }
    val tied = rows.map(nearestSet).filter(_.size > 1).toSet
    assert(tied === Set(Seq(0, 2), Seq(1, 3)), "the fixture ties c0 with c2 and c1 with c3")
    assert(rows.forall(f => got(f.id) == nearestSet(f).head))
    assert(!got.values.exists(_ == 2), "the later duplicate never wins")
  }

  test("sampled update: the Scala hash-order key equals seedHashOrder at the long extremes") {
    import spark.implicits._
    val ids = Seq(Long.MinValue, Long.MinValue + 1, -1000000008L, -1000000007L, -1L, 0L, 1L,
      1000000006L, 1000000007L, Long.MaxValue - 1, Long.MaxValue)
    val want = ids.toDF("id").select(col("id"), KMeans.seedHashOrder).as[(Long, Long)]
      .collect().toMap
    assert(ids.map(id => id -> KMeans.hashOrder(id)).toMap === want)
    assert(want.values.forall(h => h >= 0 && h < 1000000007L))
  }
}
