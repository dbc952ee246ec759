package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.model.TweetFeatures
import graft.operators.KMeans

/** Accuracy-vs-wall pricing for the flagship's centroid-update
  * strategies (round-11 verdict #6): the ×256 stage split names medoid
  * scoring (O(n·s·k) distance folds) as the loop's linear-work floor,
  * and the engine ships three strategies — exact `Medoid` (s = all),
  * `SampledMedoid(s)`, `Mean` — but nothing priced the accuracy the
  * cheaper ones give up. This measures all of them against ONE fixed
  * assignment (the update step is what differs between strategies; a
  * shared assignment is what makes the comparison an apples-to-apples
  * pricing of that step):
  *
  *   - `sec`: min-wall of the centroid update over
  *     `SPARK_GRAFT_SCALE_REPS` (`all`: the scoring self-join +
  *     id→features resolution; sampled: the two map-only passes of
  *     `KMeans.sampledMedoidFeatures`, candidates then their totals);
  *   - `objective`: Σ_i d(xᵢ, c_cluster(i)) under the strategy's chosen
  *     centroids — the k-medoids objective itself, EXACT for every
  *     strategy (each sampled candidate is scored against ALL members,
  *     so the chosen medoid's total is its true total);
  *   - `regret_pct`: objective vs the best strategy in the run. The
  *     sampled candidate sets are NESTED (first-s by the deterministic
  *     id-hash order), so objective is monotone non-increasing in s and
  *     regret-vs-largest-measured is exact within the family; a run
  *     that includes `all` anchors the family to the true optimum.
  *   - `centroid_shift_vs_best`: max over k of the weighted distance
  *     between this strategy's centroid and the best strategy's — the
  *     "how far did the cheap centroid land" view of the same gap.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=<dir> \
  *   SPARK_GRAFT_MEDOID_STRATEGIES=all,sqrt,1024,256,mean \
  *   runMain graft.MedoidStrategySweep
  *
  * `all` is O(Σ n_c²) — include it only at scales where that is payable
  * (it IS the point of pricing the escape hatch). `sqrt` = ⌈√(n/k)⌉
  * candidates per cluster (the classic CLARA-style budget: scoring cost
  * O(n·√(n/k)) ≈ the assignment cost at 10⁶-per-cluster sizes).
  * One JSON line per strategy; SCALING.md's medoid-strategy table is
  * authored from these runs. */
object MedoidStrategySweep {

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    val strategies = sys.env.getOrElse("SPARK_GRAFT_MEDOID_STRATEGIES",
      "all,sqrt,1024,256,mean").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val hw = 0.8
    val k = 3

    val spark = Sessions.local("graft-medoid-sweep")
    import spark.implicits._

    val features = Tables.eventFeatures(spark, dir).as[graft.model.TweetFeatures]
    val df = features.toDF()
    df.cache()
    val seeds = KMeans.deterministicSeeds(df, k)
    val centroids = KMeans.resolveCentroids(features, seeds)
    // the shared assignment every strategy updates from
    val members = KMeans.assignWithFeatures(df, centroids, hw)
      .localCheckpoint()
    val n = members.count()
    val sqrtS = math.ceil(math.sqrt(n.toDouble / k)).toInt
    println(s"""{"sweep":"medoid_strategy","dir":"$dir","n":$n,"k":$k,"sqrt_s":$sqrtS}""")

    /** medoid-id frame → (cluster → chosen member features), via one
      * broadcast join over the cached features (updateCentroids' shape
      * for the exact medoid). */
    def resolve(medoidDf: org.apache.spark.sql.DataFrame): Map[Int, TweetFeatures] =
      df.join(broadcast(medoidDf), col("id") === col("medoid_id"))
        .select(col("cluster"),
          struct(col("id"), col("numOfHashtags"), col("language"), col("hasVideo"),
            col("replyCount"), col("retweetCount"), col("likeCount"), col("time")).as("f"))
        .as[(Int, TweetFeatures)].collect().toMap

    /** The k-medoids objective under `cs`: one narrow pass, centroids
      * inlined as literals per cluster (k ≤ 5). */
    def objective(cs: Map[Int, TweetFeatures]): Double = {
      val d: Column = cs.toSeq.sortBy(_._1).foldRight(lit(0.0): Column) {
        case ((c, f), rest) =>
          when(col("cluster") === c, graft.functions.Distances.weightedDistance(
            col("time"), col("numOfHashtags"), col("language"), col("hasVideo"),
            lit(f.time), lit(f.numOfHashtags), lit(f.language), lit(f.hasVideo), hw))
            .otherwise(rest)
      }
      members.agg(sum(d)).head().getDouble(0)
    }

    final case class Res(label: String, s: Long, sec: Double,
        cs: Map[Int, TweetFeatures], obj: Double)

    val results = strategies.map { strat =>
      def update(): Map[Int, TweetFeatures] = strat match {
        case "mean" => KMeans.meanCentroidFeatures(members)
        case "all" => resolve(KMeans.medoids(members, hw))
        case "sqrt" => KMeans.sampledMedoidFeatures(members, sqrtS, hw)
        case s => KMeans.sampledMedoidFeatures(members, s.toInt, hw)
      }
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val cs = update()
        ((System.nanoTime() - t0) / 1e9, cs)
      }
      val (sec, cs) = runs.minBy(_._1)
      val sVal: Long = strat match {
        case "mean" => 0L
        case "all" => n / k // per-cluster candidates ≈ all members
        case "sqrt" => sqrtS.toLong
        case s => s.toLong
      }
      val r = Res(strat, sVal, sec, cs, objective(cs))
      System.err.println(f"[medoid-sweep] ${r.label}%-6s s=${r.s}%-8d ${r.sec}%8.2f s  objective=${r.obj}%.1f")
      r
    }

    val best = results.minBy(_.obj)
    results.foreach { r =>
      val shift = (0 until k).map { c =>
        (r.cs.get(c), best.cs.get(c)) match {
          case (Some(a), Some(b)) =>
            graft.functions.Distances.weightedDistance(a, b, hw)
          case _ => 0.0
        }
      }.max
      val regret = (r.obj - best.obj) / best.obj * 100.0
      println(s"""{"strategy":"${r.label}","s":${r.s},"sec":${Json.num(r.sec, 3)},""" +
        s""""objective":${Json.num(r.obj, 1)},"regret_pct":${Json.num(regret, 4)},""" +
        s""""centroid_shift_vs_best":${Json.num(shift, 3)}}""")
    }
    spark.stop()
  }
}
