package graft.model

/** Core data model of the engine.
  *
  * The feature record mirrors the reference's only schema-ful type
  * (reference `Helper.java:6-12` plus the tweet id added at ingest,
  * `kmeans.java:79`). Stored as Parquet (the reference's HBase layout —
  * strings-in-cells, 16-byte rowkeys — is an implementation detail, not a
  * capability; see SURVEY.md §1.3).
  */
final case class TweetFeatures(
    id: Long,
    numOfHashtags: Int,
    language: String,
    hasVideo: Int,
    replyCount: Int,
    retweetCount: Int,
    likeCount: Int,
    time: Int)

/** Inter-stage assignment pair (reference TSV `id \t cluster`,
  * `Cluster.java:181`). */
final case class Assignment(id: Long, cluster: Int)

/** Strategy for recomputing a cluster's representative point.
  *
  *  - [[Medoid]] — exact O(n²)-per-cluster medoid, the reference's intended
  *    algorithm (`Cluster.java:229-266`). Only viable when every cluster
  *    fits the n² self-join; at 100 TB use [[SampledMedoid]] or [[Mean]].
  *  - [[SampledMedoid]] — s candidates per cluster drawn deterministically
  *    (id-hash), each scored against ALL members: O(n·s) instead of O(n²).
  *    Two map-only passes per iteration, with the ≤ k·s candidates in the
  *    task closure, so nothing is shuffled (`KMeans.sampledMedoidFeatures`).
  *  - [[Mean]] — classic k-means mean centroid (language = per-cluster mode);
  *    O(n), one shuffle, the true scale path.
  *
  * PRICED, not guessed (round-11 verdict #6 — `MedoidStrategySweep`,
  * SCALING.md's medoid-strategy table): at every measured scale the
  * k-medoids objective a candidate budget gives up is
  *
  *   - s = 256: regret ≤ 0.11% and SHRINKING with n (0.112% at 100 k
  *     events → 0.011% at 6.4 M) — big corpora make a fixed sample
  *     MORE representative per cluster, not less;
  *   - s = 1024 matched the EXACT medoid's centroids at ×1 (regret 0,
  *     20× less wall than s = all's 244.5 s) and the in-family argmin
  *     at ×64 (127 s vs s=256's 31.7 s — 4× wall for 0.011%);
  *   - [[Mean]]: regret ≤ 0.08%, ~50× cheaper than s=256, but a
  *     NON-MEMBER centroid — different semantics, not just accuracy.
  *
  * Documented default at scale: `SampledMedoid(256)` (what q00 runs);
  * raise s only if a measured regret on YOUR corpus says otherwise,
  * and fall to [[Mean]] only when even O(n·256·k) binds. [[Medoid]]
  * stays the construction-time default because the oracle-compared
  * paths replay the reference's exact semantics. */
sealed trait CentroidStrategy
case object Medoid extends CentroidStrategy
final case class SampledMedoid(candidates: Int) extends CentroidStrategy
case object Mean extends CentroidStrategy

/** Parameterization of the clustering that the reference clones per k
  * (`Cluster.java` / `Cluster2/4/5.java` are byte-level near-clones,
  * SURVEY.md file census).
  *
  * @param hashtagWeight weight applied to the hashtag delta in the distance
  *        (0.8 in `Cluster.java:38-41`; 1.0 in `kmeansCluster.java:90-93`)
  * @param convergenceLimit centroid-shift threshold (`Cluster.java:26`)
  */
final case class KMeansConfig(
    k: Int,
    seeds: Seq[Long],
    hashtagWeight: Double = 0.8,
    convergenceLimit: Double = 1.5,
    maxIterations: Int = 20,
    strategy: CentroidStrategy = Medoid) {
  require(seeds.isEmpty || seeds.size == k, s"need $k seeds, got ${seeds.size}")
}

/** Hard-coded seed centroid ids from the reference (FIXTURES.md §4). */
object Seeds {
  val k2: Seq[Long] = Seq(1357192762840522753L, 1371164721848709122L) // Cluster2.java:289-290
  val k3: Seq[Long] = Seq(1355065891633975299L, 1374090777605906436L, 1345000023092695040L) // Cluster.java:291-293
  val k3Unweighted: Seq[Long] = Seq(1387557224004952070L, 1387557219198246913L, 1387557218057428993L) // kmeansCluster.java:119-121
  val k4: Seq[Long] = Seq(1350000006296707073L, 1353000183882256386L, 1378000037867753473L, 1375000012736843776L) // Cluster4.java:289-292
  val k5: Seq[Long] = Seq(1369000080318070787L, 1366000015534153728L, 1379000299835232257L, 1380000057508892673L, 1348000011880173570L) // Cluster5.java:289-293

  def forK(k: Int): Seq[Long] = k match {
    case 2 => k2
    case 3 => k3
    case 4 => k4
    case 5 => k5
    case _ => Seq.empty
  }
}
