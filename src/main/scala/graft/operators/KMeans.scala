package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import graft.functions.Distances
import graft.model._

/** Iterative k-medoids clustering — the reference's flagship query
  * (`Cluster.java:280-389` and its k∈{2,4,5} clones), re-expressed as one
  * driver loop over cached features.
  *
  * Structural change vs the reference (SURVEY §3.2): the per-row HBase
  * chatter (k point-`Get`s per scanned row in the assign mapper, 1 per value
  * in reducers, O(n²) in the medoid reducer) collapses into
  *   - assignment: a zero-shuffle narrow map over the feature table with the
  *     k centroids inlined as literals (k ≤ 5 — cheaper than a broadcast
  *     join, and fully inside whole-stage codegen);
  *   - medoid update: for the exact [[Medoid]], ONE shuffle on the cluster
  *     key (self-join + partial aggregation) instead of n² RPCs; for
  *     [[SampledMedoid]], two map-only passes over the members with the
  *     centroids and candidates in the task closure (no exchange, no
  *     broadcast), each collecting ≤ p·k·s values to the driver.
  *
  * Deviations from reference defects, all per SURVEY §2.8: true argmin
  * (ref. never updates `minDistance`, `Cluster.java:109-115`), true medoid
  * (ref. double-iterates a single-pass MR iterator, `Cluster.java:237-257`),
  * centroids travel driver-side via `collect()` (ref. smuggles them through
  * task `Configuration`, `Cluster.java:269-277` — broken on a real cluster).
  */
object KMeans {

  final case class Result(
      assignments: DataFrame, // (id LONG, cluster INT)
      centroids: Seq[TweetFeatures],
      iterations: Int,
      converged: Boolean,
      trajectory: Seq[Seq[TweetFeatures]]) // centroids per iteration, for golden tests

  private val featureCols = Seq("id", "numOfHashtags", "language", "hasVideo",
    "replyCount", "retweetCount", "likeCount", "time")

  /** Distance of each row's features to one centroid, as a codegen'd
    * column expression (J1 with k literal rows — no join needed). */
  private def distTo(c: TweetFeatures, hw: Double): Column =
    Distances.weightedDistance(
      col("time"), col("numOfHashtags"), col("language"), col("hasVideo"),
      lit(c.time), lit(c.numOfHashtags), lit(c.language), lit(c.hasVideo), hw)

  /** A1 — nearest-centroid assignment: first index achieving the minimum
    * distance (first-wins ties, deterministic). Narrow: no shuffle, no UDF.
    * Keeps the feature columns so the downstream medoid update needs no
    * re-join (the reference instead re-fetched every row from HBase,
    * `Cluster.java:171-177`). */
  def assignWithFeatures(features: DataFrame, centroids: Seq[TweetFeatures],
      hashtagWeight: Double = 0.8): DataFrame = {
    val dArr = array(centroids.map(distTo(_, hashtagWeight)): _*)
    features.select(
      (array_position(dArr, array_min(dArr)) - 1).cast("int").as("cluster") +:
        featureCols.map(col): _*)
  }

  /** Assignment pairs only — the reference's inter-job TSV shape. */
  def assign(features: DataFrame, centroids: Seq[TweetFeatures],
      hashtagWeight: Double = 0.8): DataFrame =
    assignWithFeatures(features, centroids, hashtagWeight).select("id", "cluster")

  /** Iteration-stable assignment for [[run]] (the exact and mean
    * updates and every strategy's final assignment): the same
    * arithmetic as [[assignWithFeatures]], but the k centroids ride a
    * ONE-ROW broadcast frame (BroadcastNestedLoopJoin of exactly one
    * row) instead of being inlined as literals. Inlined literals bake
    * the centroid VALUES into the generated source, so every iteration
    * — and the final assignment — compiles and JITs a fresh set of
    * whole-stage-codegen classes for the entire fused pipeline above it
    * (assign → medoid update; assign → write): measured at
    * sf0.1/local[32], iteration 1 of a cold flagship run spends
    * 5.8 s where the warmed identical plan runs 1.4 s, and a bench
    * chunk re-pays that warm-up on every rep once neighboring queries
    * evict the 100-entry codegen cache. With the centroids read from
    * the joined row the generated source is IDENTICAL across
    * iterations and reps, so iteration 2 reuses iteration 1's
    * compiled (and JIT-warmed) classes. Values, tie-breaks and output
    * schema are bit-identical (KMeansSpec pins the trajectory golden);
    * single-shot callers (q05 etc.) keep the literal form, which is
    * optimal when the plan runs once. */
  private def assignWithFeaturesParam(df: DataFrame,
      centroids: Seq[TweetFeatures], hashtagWeight: Double): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.types._
    val schema = StructType(centroids.indices.flatMap(i => Seq(
      StructField(s"_c${i}_time", IntegerType, nullable = false),
      StructField(s"_c${i}_tags", IntegerType, nullable = false),
      StructField(s"_c${i}_lang", StringType, nullable = false),
      StructField(s"_c${i}_video", IntegerType, nullable = false))))
    val values = centroids.flatMap(c =>
      Seq(c.time, c.numOfHashtags, c.language, c.hasVideo))
    val paramRow = spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row(values: _*)), schema)
    val dArr = array(centroids.indices.map(i =>
      Distances.weightedDistance(
        col("time"), col("numOfHashtags"), col("language"), col("hasVideo"),
        col(s"_c${i}_time"), col(s"_c${i}_tags"), col(s"_c${i}_lang"),
        col(s"_c${i}_video"), hashtagWeight)): _*)
    df.crossJoin(broadcast(paramRow)).select(
      (array_position(dArr, array_min(dArr)) - 1).cast("int").as("cluster") +:
        featureCols.map(col): _*)
  }

  /** A3 — exact medoid per cluster: the member minimizing the sum of
    * distances to all co-members; ties break to the smallest id
    * (deterministic; the MR reference's tie behavior is undefined).
    *
    * Relational formulation: self-join on the cluster key, partial-agg the
    * pairwise distances (map-side combine is automatic), then `min_by` per
    * cluster. O(Σ n_c²) compute but only ONE shuffle; for clusters too large
    * for n², use [[SampledMedoid]] or [[Mean]] via [[updateCentroids]].
    */
  def medoids(members: DataFrame, hashtagWeight: Double = 0.8): DataFrame =
    Medoids.compute(members, "cluster", "id",
      Seq("time", "numOfHashtags", "language", "hasVideo"), tweetDist(hashtagWeight))

  private def tweetDist(hw: Double)(l: String => Column, r: String => Column): Column =
    Distances.weightedDistance(
      l("time"), l("numOfHashtags"), l("language"), l("hasVideo"),
      r("time"), r("numOfHashtags"), r("language"), r("hasVideo"), hw)

  private val HashP = 1000000007L
  private val HashMul = 2654435761L

  /** The multiplicative-hash ordering key, factored through pmod so it
    * cannot overflow at ANY long id: (id·2654435761) mod P computed as
    * ((id mod P)·(2654435761 mod P)) mod P — identical values by modular
    * arithmetic (every oracle replaying the unreduced product in 128-bit
    * still matches), but the unreduced Column form threw
    * ARITHMETIC_OVERFLOW under ANSI mode once ids reached the ×64
    * replica range (~8.8e9 · 2.65e9 > Long.Max) — caught by the q00
    * scaling run, invisible at oracle scales. */
  private[graft] def seedHashOrder: Column =
    pmod(pmod(col("id"), lit(HashP)) * lit(HashMul % HashP), lit(HashP))

  /** [[seedHashOrder]] of one id, for the typed sampled update. */
  private[graft] def hashOrder(id: Long): Long =
    Math.floorMod(id, HashP) * (HashMul % HashP) % HashP

  /** The sampled update's candidate order: (id-hash, id). */
  private val byHashOrder: Ordering[TweetFeatures] =
    Ordering.by((f: TweetFeatures) => (hashOrder(f.id), f.id))

  /** Nearest centroid of one row: [[assignWithFeatures]]'s argmin in
    * Scala, with the same distance arithmetic and the first index winning
    * a tie. */
  private[graft] def nearest(f: TweetFeatures, centroids: Array[TweetFeatures],
      hashtagWeight: Double): Int = {
    var best = 0
    var bestD = Distances.weightedDistance(f, centroids(0), hashtagWeight)
    var i = 1
    while (i < centroids.length) {
      val d = Distances.weightedDistance(f, centroids(i), hashtagWeight)
      if (d < bestD) { best = i; bestD = d }
      i += 1
    }
    best
  }

  /** A members frame (`cluster` + the feature columns) as the typed input
    * of the sampled update. */
  private def typedMembers(members: DataFrame): Dataset[(Int, TweetFeatures)] = {
    import members.sparkSession.implicits._
    members.select(col("cluster"), struct(featureCols.map(col): _*)).as[(Int, TweetFeatures)]
  }

  /** Each cluster's first `s` members in (id-hash, id) order, by a bounded
    * max-heap per cluster. */
  private def firstPerCluster(ms: Iterator[(Int, TweetFeatures)],
      s: Int): Seq[(Int, TweetFeatures)] = {
    val heaps = mutable.HashMap.empty[Int, mutable.PriorityQueue[TweetFeatures]]
    ms.foreach { case (c, f) =>
      val h = heaps.getOrElseUpdate(c, mutable.PriorityQueue.empty(byHashOrder))
      if (h.size < s) h += f
      else if (byHashOrder.lt(f, h.head)) { h.dequeue(); h += f }
    }
    heaps.toSeq.flatMap { case (c, h) => h.iterator.map(c -> _) }
  }

  /** Sampled update, pass A — the candidates: each map task keeps its
    * partition's first `s` members per cluster in (id-hash, id) order;
    * the driver merges the ≤ p·k·s rows into the global first `s`. */
  private def candidatesOf(members: Dataset[(Int, TweetFeatures)],
      s: Int): Seq[(Int, TweetFeatures)] = {
    import members.sparkSession.implicits._
    val local = members.mapPartitions(ms => firstPerCluster(ms, s).iterator).collect()
    firstPerCluster(local.iterator, s)
      .sortBy { case (c, f) => (c, hashOrder(f.id), f.id) }
  }

  /** Sampled update, pass B — each candidate's total distance to ALL
    * members of its cluster: each map task sums its partition's distances
    * per candidate (the candidates ride the task closure), the driver adds
    * the partials in partition order and takes the argmin by (total, id)
    * per cluster. */
  private def medoidsOf(members: Dataset[(Int, TweetFeatures)],
      candidates: Seq[(Int, TweetFeatures)], hw: Double): Map[Int, TweetFeatures] = {
    import members.sparkSession.implicits._
    import Ordering.Double.TotalOrdering
    val cands = candidates.toArray
    val slots = cands.indices.groupBy(cands(_)._1).map { case (c, js) => c -> js.toArray }
    val partials = members.mapPartitions { ms =>
      val sums = new Array[Double](cands.length)
      ms.foreach { case (c, m) =>
        slots.get(c).foreach(_.foreach(j =>
          sums(j) += Distances.weightedDistance(cands(j)._2, m, hw)))
      }
      Iterator.single(sums)
    }.collect()
    val totals = new Array[Double](cands.length)
    partials.foreach(p => cands.indices.foreach(j => totals(j) += p(j)))
    slots.map { case (c, js) => c -> cands(js.minBy(j => (totals(j), cands(j)._2.id)))._2 }
  }

  /** Sampled medoid, step 1 — the candidates: the first `sampleSize`
    * members of each cluster in (id-hash, id) order, collected with their
    * features (≤ k·s rows). One map-only pass (pass A of the sampled
    * update): no exchange, ≤ p·k·s rows reach the driver. */
  def sampleCandidates(members: DataFrame, sampleSize: Int): Seq[(Int, TweetFeatures)] =
    candidatesOf(typedMembers(members), sampleSize)

  /** Sampled medoid, steps 2–3 — each candidate's total distance to ALL
    * members of its cluster, then per cluster the candidate with the
    * smallest (total, id), picked on the driver. One map-only pass (pass B
    * of the sampled update) in the MEMBERS' own partitioning: the
    * candidates travel in the task closure (not in generated code, so
    * every iteration reuses the same compiled classes), the members never
    * cross an exchange, and the driver collects one partial-sum array per
    * partition. Balance comes from how the members are partitioned (see
    * [[run]]). */
  def scoreCandidates(members: DataFrame, candidates: Seq[(Int, TweetFeatures)],
      hashtagWeight: Double = 0.8): Map[Int, TweetFeatures] =
    medoidsOf(typedMembers(members), candidates, hashtagWeight)

  /** A3 at scale — medoid over a deterministic candidate subset (id-hash
    * order), each candidate still scored against ALL members: O(n·s) work,
    * two map-only passes, no shuffle. Clusters with no members are absent
    * from the map. */
  def sampledMedoidFeatures(members: DataFrame, sampleSize: Int,
      hashtagWeight: Double = 0.8): Map[Int, TweetFeatures] =
    sampled(typedMembers(members), sampleSize, hashtagWeight)

  private def sampled(members: Dataset[(Int, TweetFeatures)], s: Int,
      hw: Double): Map[Int, TweetFeatures] =
    medoidsOf(members, candidatesOf(members, s), hw)

  /** [[sampledMedoidFeatures]] as the `(cluster, medoid_id)` frame that
    * [[medoids]] returns. Computed eagerly; the frame is local. */
  def sampledMedoids(members: DataFrame, sampleSize: Int,
      hashtagWeight: Double = 0.8): DataFrame = {
    import members.sparkSession.implicits._
    sampledMedoidFeatures(members, sampleSize, hashtagWeight).toSeq
      .map { case (c, f) => (c, f.id) }.toDF("cluster", "medoid_id")
  }

  /** [[meanCentroids]] resolved to synthetic TweetFeatures rows
    * (id = −(cluster+1); integer feature fields rounded — the form the
    * iterative loop carries between rounds). Driver-side: k rows. */
  def meanCentroidFeatures(members: DataFrame): Map[Int, TweetFeatures] =
    meanCentroids(members)
      .collect().map { r =>
        r.getAs[Int]("cluster") -> TweetFeatures(
          id = -(r.getAs[Int]("cluster") + 1L),
          numOfHashtags = math.round(r.getAs[Double]("numOfHashtags")).toInt,
          language = r.getAs[String]("language"),
          hasVideo = math.round(r.getAs[Double]("hasVideo")).toInt,
          replyCount = math.round(r.getAs[Double]("replyCount")).toInt,
          retweetCount = math.round(r.getAs[Double]("retweetCount")).toInt,
          likeCount = math.round(r.getAs[Double]("likeCount")).toInt,
          time = math.round(r.getAs[Double]("time")).toInt)
      }.toMap

  /** Mean-centroid alternative (non-member centroid; language = per-cluster
    * mode, ties to lexicographically smallest). O(n), one shuffle. */
  def meanCentroids(members: DataFrame): DataFrame = {
    val langMode = members.groupBy(col("cluster"), col("language")).count()
      .groupBy(col("cluster"))
      .agg(min_by(col("language"), struct(-col("count"), col("language"))).as("language"))
    members.groupBy(col("cluster")).agg(
      avg("time").as("time"), avg("numOfHashtags").as("numOfHashtags"),
      avg("hasVideo").as("hasVideo"), avg("replyCount").as("replyCount"),
      avg("retweetCount").as("retweetCount"), avg("likeCount").as("likeCount"))
      .join(langMode, "cluster")
  }

  /** J3 — resolve seed/centroid ids to feature rows, preserving seed order
    * as the cluster index (`Cluster.java:353-370`). */
  def resolveCentroids(features: Dataset[TweetFeatures], ids: Seq[Long]): Seq[TweetFeatures] = {
    val byId = features.filter(col("id").isin(ids: _*)).collect()
      .map(f => f.id -> f).toMap
    ids.map(id => byId.getOrElse(id,
      throw new IllegalArgumentException(s"seed id $id not found in features")))
  }

  /** One centroid-update round over the cached features `df`: the exact
    * medoid yields member ids to resolve; SampledMedoid yields the chosen
    * members' features directly; Mean yields synthetic (non-member)
    * centroids with id = -(cluster+1). Empty clusters keep their previous
    * centroid. */
  private def updateCentroids(df: DataFrame, features: Dataset[TweetFeatures],
      prev: Seq[TweetFeatures], cfg: KMeansConfig): Seq[TweetFeatures] = {
    import features.sparkSession.implicits._
    val hw = cfg.hashtagWeight
    def members = assignWithFeaturesParam(df, prev, hw)
    val rows = cfg.strategy match {
      case Mean => meanCentroidFeatures(members)
      case SampledMedoid(s) =>
        // a typed map over the cached features, fused into each pass's
        // stage; the centroids ride the closure like the candidates
        val cs = prev.toArray
        sampled(df.as[TweetFeatures].map(f => (nearest(f, cs, hw), f)), s, hw)
      case Medoid =>
        // resolve the medoid ids to feature rows INSIDE the same job (one
        // broadcast join over the cached features) instead of a second
        // isin-filter action per iteration
        features.toDF()
          .join(broadcast(medoids(members, hw)), col("id") === col("medoid_id"))
          .select(col("cluster"), struct(featureCols.map(col): _*).as("f"))
          .as[(Int, TweetFeatures)]
          .collect().toMap
    }
    prev.indices.map(i => rows.getOrElse(i, prev(i)))
  }

  /** The full iterative loop (§3.2): assign → update centroids → converge?
    * Features are cached across iterations (the reference re-scans HBase
    * every iteration); the convergence test (A9) runs driver-side on the
    * k collected centroids against `cfg.convergenceLimit`. With
    * [[SampledMedoid]] an iteration is two map-only jobs over the cache
    * (candidates, then their totals), each assigning the members in the
    * same stage with [[nearest]]; the final assignment is
    * [[assignWithFeaturesParam]]'s plan, which picks the same clusters.
    */
  def run(features: Dataset[TweetFeatures], cfg: KMeansConfig): Result = {
    val spark = features.sparkSession
    // Spread a narrow scan across the cores before caching: the medoid
    // updates run in the cached features' partitioning (the sampled
    // update's two passes are map-only), so a single-row-group parquet
    // scan (or any under-split input) pins that compute to 1-2 tasks
    // however many cores exist (measured at sf0.1: 2.1-2.7 s per
    // iteration on one core vs ~0.15 s spread). Deterministic hash
    // repartition by id; a no-op whenever the scan already carries at
    // least default parallelism (any production-sized input).
    val df0 = features.toDF()
    val p = spark.sparkContext.defaultParallelism
    val df = if (df0.rdd.getNumPartitions < p) df0.repartition(p, col("id")) else df0
    df.cache()
    try {
      val seedIds = if (cfg.seeds.nonEmpty) cfg.seeds else deterministicSeeds(df, cfg.k)
      var centroids = resolveCentroids(features, seedIds)
      val trajectory = scala.collection.mutable.ArrayBuffer[Seq[TweetFeatures]](centroids)
      var iter = 0
      var converged = false
      while (iter < cfg.maxIterations && !converged) {
        val next = updateCentroids(df, features, centroids, cfg)
        converged = centroids.zip(next).forall { case (a, b) =>
          Distances.weightedDistance(a, b, cfg.hashtagWeight) <= cfg.convergenceLimit
        }
        centroids = next
        trajectory += centroids
        iter += 1
      }
      // centroid-free generated code: reused across iterations and runs
      val finalAssign = assignWithFeaturesParam(df, centroids, cfg.hashtagWeight)
        .select("id", "cluster")
      Result(finalAssign, centroids, iter, converged, trajectory.toSeq)
    } finally df.unpersist()
  }

  /** A8 replacement for unseeded sampling: deterministic k distinct seed ids
    * by multiplicative-hash order (replayable, unlike `random.java:41,81`). */
  def deterministicSeeds(features: DataFrame, k: Int): Seq[Long] =
    features.select(col("id"))
      .orderBy(seedHashOrder, col("id"))
      .limit(k).collect().map(_.getLong(0)).toSeq

  /** A8 — seeded random k-sample of distinct ids (`random.java:29-118`,
    * with the early-return and unseeded-Random defects fixed per §2.8.3).
    * Samples up to 3 times, doubling the fraction after each undershoot of
    * k (the last try uses 4× the fraction), then fails HERE — not rows
    * later in KMeansConfig's `seeds.size == k` require, far from the
    * cause. */
  def randomSeeds(features: DataFrame, k: Int, fraction: Double, seed: Long): Seq[Long] = {
    val distinct = features.select(col("id")).dropDuplicates("id")
    var f = fraction
    var ids = Seq.empty[Long]
    var attempts = 0
    while (ids.size < k && attempts < 3) {
      ids = distinct.sample(withReplacement = false, math.min(f, 1.0), seed)
        .limit(k).collect().map(_.getLong(0)).toSeq
      f *= 2
      attempts += 1
    }
    require(ids.size == k,
      s"randomSeeds: sample yielded ${ids.size} of $k requested ids " +
        s"(3 tries, fraction $fraction doubled after each: the last used ${math.min(f / 2, 1.0)}); " +
        "table too small?")
    ids
  }
}
