package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generic per-group medoid: the member minimizing total distance to all
  * co-members, with a pluggable distance expression — the relational form of
  * the reference's medoid reducer (`Cluster.java:229-266`, unweighted clone
  * `kmeansCluster.java:63-101`).
  *
  * Shape: self-join on the group key (ONE shuffle; partial aggregation of
  * the pairwise distance sums is map-side), then `min_by` per group with a
  * `(total, id)` struct ordering so ties deterministically break to the
  * smallest id. At 1000-executor scale the join shuffles each group to one
  * task; groups too large for O(n²) need a reduced candidate set scored
  * in map-only passes that never shuffle the members (see
  * `KMeans.sampledMedoidFeatures`).
  */
object Medoids {

  /** Argmin-by-total per group: `(groupCol, medoid_id)`. `dist(l, r)`
    * builds the distance column from left/right accessors — e.g.
    * `(l, r) => abs(l("bal") - r("bal"))`.
    *
    * Merge-pinned with the right side repartitioned on the group key:
    * left to estimates, Catalyst broadcasts whichever side's leaf undercuts
    * 10 MB and runs the O(Σ n_c²) distance pass in the OTHER side's (often
    * single-partition) scan layout; the pin keeps the join co-partitioned
    * by group at the configured shuffle parallelism at every scale. Each
    * (group, member) total accumulates inside one reducer partition. */
  def compute(members: DataFrame, groupCol: String, idCol: String,
      featCols: Seq[String],
      dist: (String => Column, String => Column) => Column): DataFrame = {
    val right = members.select(
      col(groupCol).as("r_grp") +: featCols.map(c => col(c).as(s"r_$c")): _*)
    members.hint("merge")
      .join(right.repartition(
        right.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("r_grp")), col(groupCol) === col("r_grp"))
      .groupBy(col(groupCol), col(idCol))
      .agg(sum(dist(c => col(c), c => col(s"r_$c"))).as("total"))
      .groupBy(col(groupCol))
      .agg(min_by(col(idCol), struct(col("total"), col(idCol))).as("medoid_id"))
  }
}
