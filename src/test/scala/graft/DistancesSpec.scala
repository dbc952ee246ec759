package graft

import graft.functions.Distances
import graft.model.TweetFeatures
import org.apache.spark.sql.functions._

/** F1/F2 distance semantics (`Cluster.java:32-43`). */
class DistancesSpec extends SparkSpec {

  private def tf(time: Int, tags: Int, lang: String, video: Int) =
    TweetFeatures(0L, tags, lang, video, 0, 0, 0, time)

  test("hand-computed weighted distance") {
    // dt=1, dh=0.8*5=4, dl=1, dv=1 → sqrt(1 + 16 + 1 + 1) = sqrt(19)
    val a = tf(1, 10, "en", 0)
    val b = tf(2, 5, "tr", 1)
    assert(Distances.weightedDistance(a, b) === math.sqrt(19.0))
  }

  test("unweighted variant drops the 0.8 factor (kmeansCluster.java:90-93)") {
    val a = tf(0, 10, "en", 0)
    val b = tf(0, 5, "en", 0)
    assert(Distances.unweightedDistance(a, b) === 5.0)
    assert(Distances.weightedDistance(a, b) === 4.0)
  }

  test("identity, symmetry, non-negativity (seeded sweep)") {
    val rnd = new scala.util.Random(42)
    val langs = Array("en", "tr", "es")
    def rand() = tf(rnd.nextInt(4), rnd.nextInt(100), langs(rnd.nextInt(3)), rnd.nextInt(2))
    (1 to 500).foreach { _ =>
      val a = rand(); val b = rand()
      assert(Distances.weightedDistance(a, a) === 0.0)
      assert(Distances.weightedDistance(a, b) === Distances.weightedDistance(b, a))
      assert(Distances.weightedDistance(a, b) >= 0.0)
    }
  }

  test("Column form agrees with Scala form") {
    import spark.implicits._
    val pairs = Seq(
      (tf(1, 10, "en", 0), tf(2, 5, "tr", 1)),
      (tf(3, 0, "en", 1), tf(0, 49, "en", 0)),
      (tf(2, 7, "tr", 1), tf(2, 7, "tr", 1)),
      // deltas beyond Int range, and SQL's null = x (never a match)
      (tf(Int.MaxValue, Int.MaxValue, "en", 1), tf(Int.MinValue, Int.MinValue, "en", 0)),
      (tf(Int.MinValue, 0, null, 0), tf(Int.MaxValue, 3, null, 1)),
      (tf(5, 7, null, 0), tf(5, 7, "en", 0)))
    val df = pairs.map { case (a, b) =>
      (a.time, a.numOfHashtags, a.language, a.hasVideo,
        b.time, b.numOfHashtags, b.language, b.hasVideo)
    }.toDF("t1", "h1", "l1", "v1", "t2", "h2", "l2", "v2")
    val got = df.select(Distances.weightedDistance(
      col("t1"), col("h1"), col("l1"), col("v1"),
      col("t2"), col("h2"), col("l2"), col("v2")).as("d"))
      .collect().map(_.getDouble(0))
    val want = pairs.map { case (a, b) => Distances.weightedDistance(a, b) }
    assert(got.toSeq === want)
  }
}
