package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.model.TweetFeatures

/** F1/F2 — the weighted Euclidean distance of the reference
  * (`Cluster.java:32-43`, unweighted variant `kmeansCluster.java:85-93`),
  * parameterized by the hashtag weight instead of cloned.
  *
  * d = sqrt(Δtime² + (w·Δhashtags)² + [lang₁≠lang₂]² + ΔhasVideo²)
  *
  * Both a `Column` form (stays inside whole-stage codegen — no UDF) and a
  * plain Scala form (typed Dataset / driver-side convergence test) are
  * provided. Squares are written as self-multiplication rather than
  * `pow(x, 2)` so results are pure IEEE mul/add/sqrt — bit-identical across
  * engines, which the DuckDB oracle compare relies on.
  */
object Distances {

  /** Column-expression form: codegen-friendly, no UDF. */
  def weightedDistance(
      time1: Column, tags1: Column, lang1: Column, video1: Column,
      time2: Column, tags2: Column, lang2: Column, video2: Column,
      hashtagWeight: Double = 0.8): Column = {
    val dt = time1.cast("double") - time2.cast("double")
    val dh = (tags1.cast("double") - tags2.cast("double")) * hashtagWeight
    val dl = when(lang1 === lang2, 0.0).otherwise(1.0)
    val dv = video1.cast("double") - video2.cast("double")
    sqrt(dt * dt + dh * dh + dl * dl + dv * dv)
  }

  /** Scala form on feature records — used by the driver-side convergence
    * test (A9, `Cluster.java:355-382`) and typed-path kernels (the sampled
    * k-medoids update). Same operations in the same order as the Column
    * form, so the two are bit-identical on every input: deltas are taken
    * in double (no Int overflow), and a null language matches nothing, as
    * SQL's `null = x` does. */
  def weightedDistance(a: TweetFeatures, b: TweetFeatures, hashtagWeight: Double): Double = {
    val dt = a.time.toDouble - b.time.toDouble
    val dh = (a.numOfHashtags.toDouble - b.numOfHashtags.toDouble) * hashtagWeight
    val dl = if (a.language != null && a.language == b.language) 0.0 else 1.0
    val dv = a.hasVideo.toDouble - b.hasVideo.toDouble
    math.sqrt(dt * dt + dh * dh + dl * dl + dv * dv)
  }

  def weightedDistance(a: TweetFeatures, b: TweetFeatures): Double =
    weightedDistance(a, b, 0.8)

  /** F2 — the unweighted variant (`kmeansCluster.java:90-93`). */
  def unweightedDistance(a: TweetFeatures, b: TweetFeatures): Double =
    weightedDistance(a, b, 1.0)
}
