package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
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
  *     [[SampledMedoid]], two driver collects of ≤ k·s rows (candidates,
  *     then their totals against a broadcast of the candidates), with the
  *     members never shuffled.
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

  /** Iteration-stable assignment for [[run]]'s loop: the same
    * arithmetic as [[assignWithFeatures]], but the k centroids ride a
    * ONE-ROW broadcast frame (BroadcastNestedLoopJoin of exactly one
    * row) instead of being inlined as literals. Inlined literals bake
    * the centroid VALUES into the generated source, so every iteration
    * — and the final assignment — compiles and JITs a fresh set of
    * whole-stage-codegen classes for the entire fused pipeline above it
    * (assign → candidate window; assign → medoid scoring join): measured at
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

  /** The multiplicative-hash ordering key, factored through pmod so it
    * cannot overflow at ANY long id: (id·2654435761) mod P computed as
    * ((id mod P)·(2654435761 mod P)) mod P — identical values by modular
    * arithmetic (every oracle replaying the unreduced product in 128-bit
    * still matches), but the unreduced Column form threw
    * ARITHMETIC_OVERFLOW under ANSI mode once ids reached the ×64
    * replica range (~8.8e9 · 2.65e9 > Long.Max) — caught by the q00
    * scaling run, invisible at oracle scales. */
  private def seedHashOrder: Column =
    pmod(pmod(col("id"), lit(1000000007L)) * lit(2654435761L % 1000000007L),
      lit(1000000007L))

  /** Sampled medoid, step 1 — the candidates: the first `sampleSize`
    * members of each cluster in (id-hash, id) order, collected with their
    * features (≤ k·s rows). One `row_number() ≤ s` window: Spark's
    * WindowGroupLimit cuts every map partition to s rows per cluster
    * BEFORE the exchange, so at most p·k·s rows cross it whatever the
    * cluster sizes (for s within `spark.sql.optimizer.windowGroupLimitThreshold`,
    * 1000 by default). */
  def sampleCandidates(members: DataFrame, sampleSize: Int): Seq[(Int, TweetFeatures)] = {
    import members.sparkSession.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(seedHashOrder, col("id"))
    members.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= sampleSize)
      .select(col("cluster"), struct(featureCols.map(col): _*))
      .as[(Int, TweetFeatures)].collect().toSeq
  }

  /** Sampled medoid, steps 2–3 — each candidate's total distance to ALL
    * members of its cluster, then per cluster the candidate with the
    * smallest (total, id), picked on the driver.
    *
    * The candidates ride a broadcast local relation (their values stay out
    * of the generated code, as in [[assignWithFeaturesParam]], so every
    * iteration reuses the same compiled classes). The distance sums run in
    * the MEMBERS' own partitioning with map-side partial aggregation: the
    * members never cross an exchange, only ≤ p·k·s partial totals do, and
    * the driver collects k·s totals. Balance comes from how the members
    * are partitioned (see [[run]]). */
  def scoreCandidates(members: DataFrame, candidates: Seq[(Int, TweetFeatures)],
      hashtagWeight: Double = 0.8): Map[Int, TweetFeatures] = {
    import members.sparkSession.implicits._
    import Ordering.Double.TotalOrdering
    val totals = members
      .join(broadcast(candidates.toDF("c_cluster", "c")), col("cluster") === col("c_cluster"))
      .groupBy(col("c_cluster"), col("c").getField("id"))
      .agg(sum(tweetDist(hashtagWeight)(col("c").getField, col)))
      .as[(Int, Long, Double)].collect()
    val byId = candidates.map { case (_, f) => f.id -> f }.toMap
    totals.groupBy(_._1).map { case (c, ts) =>
      c -> byId(ts.minBy { case (_, id, total) => (total, id) }._2)
    }
  }

  /** A3 at scale — medoid over a deterministic candidate subset (id-hash
    * order), each candidate still scored against ALL members: O(n·s) work,
    * two collects of ≤ k·s rows, no shuffle of the members. Clusters with
    * no members are absent from the map. */
  def sampledMedoidFeatures(members: DataFrame, sampleSize: Int,
      hashtagWeight: Double = 0.8): Map[Int, TweetFeatures] =
    scoreCandidates(members, sampleCandidates(members, sampleSize), hashtagWeight)

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

  /** One centroid-update round: the exact medoid yields member ids to
    * resolve; SampledMedoid yields the chosen members' features directly;
    * Mean yields synthetic (non-member) centroids with id = -(cluster+1).
    * Empty clusters keep their previous centroid. */
  private def updateCentroids(members: DataFrame, features: Dataset[TweetFeatures],
      prev: Seq[TweetFeatures], cfg: KMeansConfig): Seq[TweetFeatures] = {
    val rows = cfg.strategy match {
      case Mean => meanCentroidFeatures(members)
      case SampledMedoid(s) => sampledMedoidFeatures(members, s, cfg.hashtagWeight)
      case Medoid =>
        // resolve the medoid ids to feature rows INSIDE the same job (one
        // broadcast join over the cached features) instead of a second
        // isin-filter action per iteration
        import features.sparkSession.implicits._
        features.toDF()
          .join(broadcast(medoids(members, cfg.hashtagWeight)), col("id") === col("medoid_id"))
          .select(col("cluster"), struct(featureCols.map(col): _*).as("f"))
          .as[(Int, TweetFeatures)]
          .collect().toMap
    }
    prev.indices.map(i => rows.getOrElse(i, prev(i)))
  }

  /** The full iterative loop (§3.2): assign → update centroids → converge?
    * Features are cached across iterations (the reference re-scans HBase
    * every iteration); the convergence test (A9) runs driver-side on the
    * k collected centroids against `cfg.convergenceLimit`.
    */
  def run(features: Dataset[TweetFeatures], cfg: KMeansConfig): Result = {
    val spark = features.sparkSession
    // Spread a narrow scan across the cores before caching: the sampled
    // medoid update BROADCASTS the candidates, so the O(n·s) distance sums
    // run in the MEMBERS' partitioning — and a single-row-group parquet
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
        val members = assignWithFeaturesParam(df, centroids, cfg.hashtagWeight)
        val next = updateCentroids(members, features, centroids, cfg)
        converged = centroids.zip(next).forall { case (a, b) =>
          Distances.weightedDistance(a, b, cfg.hashtagWeight) <= cfg.convergenceLimit
        }
        centroids = next
        trajectory += centroids
        iter += 1
      }
      // the final assignment reuses the loop's generated classes too
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
