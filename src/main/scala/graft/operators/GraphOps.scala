package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge lists. PageRank (Page et al. 1999) runs in
  * exact FIXED-POINT integer arithmetic: ranks are BIGINTs scaled by
  * `scale`, every contribution is `(rank * w) div W` (integer floor
  * division), and the damping mix is `(num * sum) div den`. Integer
  * sums are order-independent, so the result is bit-identical across
  * engines and across partitionings — unlike floating-point PageRank,
  * whose per-vertex Σ depends on aggregation order. The quantization
  * error is bounded by (in-degree + 2) ulps of 1/scale per iteration.
  *
  * Scale shape per iteration: one equi-join ranks⨝edges on src, one
  * groupBy dst — both shuffles keyed on vertex id (high cardinality on
  * real graphs); out-weights are joined once, up front. The driver loop
  * only chains plans (no action per iteration); with iters ≤ ~10 the
  * lineage stays shallow.
  */
object GraphOps {

  /** Wedge-count ceiling for the driver-local [[triangleCount]] census:
    * the wedge loop is O(wedges) single-core, so the escape is gated on
    * the EXACT wedge count (from out-degrees, O(m)) as well as the edge
    * count — a dense sub-threshold graph with a quadratic wedge set
    * still takes the distributed join. 16 M wedges ≈ a few hundred ms
    * of hash probes. `localMaxEdges = 0` still forces the distributed
    * census (the spec pin uses it). */
  val LocalMaxWedges: Long = 16000000L

  /** Support-filtered co-occurrence pairs: for rows (group, item), count
    * per unordered item pair (a < b) the number of DISTINCT groups
    * containing both, and keep pairs with count ≥ `minSupport` — the
    * basket/co-purchase edge build shared by q103/q124/q189/q193.
    *
    * Shape (guide §2.4 "remove shuffles outright"): the previous form was
    * distinct() + self-equi-join on the group + groupBy(pair) — three
    * exchanges and a join that re-streams every group twice. Collecting
    * each group's DISTINCT item set once (collect_set dedups, replacing
    * the standalone distinct) and expanding pairs IN-GROUP with two
    * generators leaves exactly two exchanges: one on the group key, one
    * on the pair, with the pair count partial-aggregated map-side.
    * Group sizes are bounded by basket size (lineitems per order ≤ 7 in
    * TPC-H at every sf; production baskets are similarly capped), so the
    * in-group n² expansion is O(1) per group — the self-join produced
    * the identical pair stream, just via a shuffle.
    *
    * The group exchange is pinned to max(default parallelism, session
    * shuffle partitions) via an explicit user repartition that the
    * aggregation reuses (no extra shuffle): the grouped frame is
    * byte-light but the pair expansion is compute-heavy, the exact shape
    * AQE's byte-based coalescing would fold to one task (guide §2.5). */
  def coOccurrencePairs(rows: DataFrame, groupCol: String, itemCol: String,
      minSupport: Long, outA: String, outB: String,
      outN: String): DataFrame = {
    val spark = rows.sparkSession
    val p = math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)
    rows.select(col(groupCol).as("g"), col(itemCol).as("it"))
      .repartition(p, col("g"))
      // hash(g) clusters (g, it) too, so BOTH aggregates ride the one
      // user exchange: a declarative dedup (cheap hash agg) feeding
      // collect_list — measurably less CPU than collect_set's
      // per-insert set lookups in object buffers
      .groupBy(col("g"), col("it")).agg(first(lit(1)))
      .groupBy(col("g")).agg(collect_list(col("it")).as("its"))
      .select(explode(col("its")).as("a"), col("its"))
      .select(col("a"), explode(col("its")).as("b"))
      .filter(col("b") > col("a"))
      .groupBy(col("a").as(outA), col("b").as(outB))
      .agg(count(lit(1)).as(outN))
      .filter(col(outN) >= minSupport)
  }

  /** Weighted PageRank over `edges(src, dst, w)`; returns
    * (node, rank_scaled) with Σ rank_scaled ≈ scale (floor-division
    * dust stays with the damping base term). Dangling mass (vertices
    * with no out-edges) is dropped, as in the original formulation.
    *
    * dampNum/dampDen is the damping factor as an exact rational
    * (default 17/20 = 0.85). */
  def pageRankScaled(edges: DataFrame, iters: Int,
      scale: Long = 1000000000000L,
      dampNum: Long = 17L, dampDen: Long = 20L,
      localMaxEdges: Long = Dedup.DefaultCcLocalMaxEdges): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // The edge build (often a full-table window) is computed ONCE — the
    // distributed form previously recomputed it per consumer branch
    // (nodes ∪, out-weights, the contribution join); the checkpoint is
    // realized by the exact count that also decides the execution form.
    val e = edges.select(col("src"), col("dst"), col("w"))
      .localCheckpoint(false)
    val nEdges = e.count()
    // Sub-threshold graphs run the fixed-point ON THE DRIVER — the
    // canonicalAssignments exact-count escape. The rank arithmetic is
    // the IDENTICAL integer fixed-point recurrence (floor divisions on
    // nonnegative longs), so ranks are bit-identical to the distributed
    // loop whatever the iteration count (AnalyticsOpsSpec pins it).
    // Node ids stay their original type (interned driver-side); rows
    // with a NULL endpoint or a non-integral weight fall through to the
    // distributed loop (equi-join null semantics are its contract).
    val wIntegral = e.schema("w").dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    if (nEdges <= localMaxEdges && wIntegral &&
        e.schema("src").dataType == e.schema("dst").dataType) {
      val rows = e.collect()
      if (!rows.exists(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2))) {
        val spark = edges.sparkSession
        val idx = new java.util.HashMap[Any, Integer]()
        def intern(v: Any): Int = {
          var i = idx.get(v)
          if (i == null) { i = idx.size; idx.put(v, i) }
          i
        }
        val m = rows.length
        val srcI = new Array[Int](m); val dstI = new Array[Int](m)
        val w = new Array[Long](m)
        // weights must be strictly positive for the local floor
        // divisions to be the distributed `div`'s exact semantics (and
        // for out-weight sums to never hit zero); anything else falls
        // through to the distributed loop
        var allPositive = true
        var i = 0
        while (i < m) {
          srcI(i) = intern(rows(i).get(0)); dstI(i) = intern(rows(i).get(1))
          w(i) = rows(i).get(2).asInstanceOf[Number].longValue
          if (w(i) <= 0) allPositive = false
          i += 1
        }
        if (!allPositive)
          return pageRankDistributed(e, iters, scale, dampNum, dampDen)
        val n = idx.size
        val wOut = new Array[Long](n)
        i = 0; while (i < m) { wOut(srcI(i)) += w(i); i += 1 }
        var ranks = Array.fill(n)(scale / n)
        val base = scale * (dampDen - dampNum) / dampDen / n
        var it = 0
        while (it < iters) {
          it += 1
          val inSum = new Array[Long](n)
          i = 0
          while (i < m) {
            inSum(dstI(i)) += ranks(srcI(i)) * w(i) / wOut(srcI(i))
            i += 1
          }
          val next = new Array[Long](n)
          var v = 0
          while (v < n) { next(v) = base + dampNum * inSum(v) / dampDen; v += 1 }
          ranks = next
        }
        val out = new java.util.ArrayList[org.apache.spark.sql.Row](n)
        val eit = idx.entrySet().iterator()
        while (eit.hasNext) {
          val en = eit.next()
          out.add(org.apache.spark.sql.Row(en.getKey, ranks(en.getValue)))
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", e.schema("src").dataType),
          org.apache.spark.sql.types.StructField("rank_scaled",
            org.apache.spark.sql.types.LongType)))
        graft.streaming.StreamOps.releaseCheckpoint(e)
        return org.apache.spark.sql.graftnative.PlanStats.withKnownRowCount(
          spark.createDataFrame(out, schema), n.toLong)
      }
    }
    pageRankDistributed(e, iters, scale, dampNum, dampDen)
  }

  /** The distributed fixed-point loop of [[pageRankScaled]] over a
    * pinned (src, dst, w) edge frame. */
  private def pageRankDistributed(e: DataFrame, iters: Int, scale: Long,
      dampNum: Long, dampDen: Long): DataFrame = {
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val outW = e.groupBy(col("src")).agg(sum(col("w")).as("w_out"))
    val withOut = e.join(outW, "src")
    var ranks = nodes.crossJoin(
        broadcast(nodes.agg(count(lit(1)).as("n_nodes"))))
      .select(col("node"), expr(s"$scale div n_nodes").as("rank_scaled"),
        col("n_nodes"))
    for (i <- 1 to iters) {
      val contrib = withOut
        .join(ranks.select(col("node").as("src"), col("rank_scaled")), "src")
        .select(col("dst").as("node"),
          expr("(rank_scaled * w) div w_out").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_sum"))
      ranks = ranks.select(col("node"), col("n_nodes"))
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (expr(s"($scale * ${dampDen - dampNum}) div $dampDen div n_nodes") +
            expr(s"($dampNum * ${coalesceSql("in_sum")}) div $dampDen"))
            .as("rank_scaled"),
          col("n_nodes"))
      // lazy lineage cut every few rounds: analysis/optimization cost of
      // the chained plan stays bounded, nothing materializes until used
      if (i % 6 == 0 && i < iters) ranks = ranks.localCheckpoint(false)
    }
    ranks.select(col("node"), col("rank_scaled"))
  }

  private def coalesceSql(c: String): String = s"coalesce($c, 0L)"

  /** Transition digraph over a categorical column: per entity, each
    * consecutive (state, next state) step ordered by (ts, tieCol)
    * becomes one edge; edge weight = step count across all entities.
    * The window partitions by the entity key, so the single shuffle is
    * keyed on the (high-cardinality) entity, never on the small state
    * alphabet. */
  def transitionEdges(events: DataFrame, keyCol: String, stateCol: String,
      tsCol: String, tieCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    events
      .select(col(keyCol), col(stateCol).as("src"), col(tsCol), col(tieCol))
      .withColumn("dst", lead(col("src"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
  }

  /** Triangle counting with DEGREE ORIENTATION — the guard that makes
    * the wedge join survive power-law graphs: every undirected edge is
    * directed toward its (degree, id)-larger endpoint, so a hub of
    * degree d contributes O(√m) out-neighbors instead of O(d²) wedges
    * (Chiba–Nishizeki / the standard MapReduce triangle recipe). The
    * orientation key packs (degree, id) into one int64 (degree·2³² + id
    * — ids must fit 32 bits, as partkeys do) so both engines compare
    * identically. Wedges join oriented out-edges on their source, the
    * closing edge check is one more equi-join; both shuffles are keyed
    * on (high-cardinality) node ids. Output is the one-row graph census
    * (nodes, edges, wedges, triangles). */
  def triangleCount(edges: DataFrame, aCol: String, bCol: String,
      localMaxEdges: Long = Dedup.DefaultCcLocalMaxEdges): DataFrame = {
    // edge list and oriented edges are each consumed by several census
    // branches — lazy localCheckpoints (the iterative-loop idiom) pin
    // them so the upstream graph build runs ONCE, not once per count
    val e = edges
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint(false)
    // Sub-threshold graphs run the census ON THE DRIVER — the
    // canonicalAssignments exact-count escape: the distributed form pays
    // two checkpoint materializations, two key joins and the wedge join
    // in sequential query-stage jobs, seconds of scheduling for a graph
    // one core sweeps in milliseconds. Ids must fit 32 bits (the SAME
    // precondition the distributed (degree·2³² + id) key packing
    // documents); the wedge loop is additionally gated on the EXACT
    // wedge count (computed from out-degrees in O(m)) so a dense
    // sub-threshold graph with a quadratic wedge set still takes the
    // 32-way distributed join. AnalyticsOpsSpec pins local ==
    // distributed on hubs and cliques.
    val nEdgesExact = e.count()
    if (nEdgesExact <= localMaxEdges) {
      val rows = e.collect()
      var fits32 = true
      var i = 0
      while (i < rows.length && fits32) {
        val u = rows(i).getLong(0); val v = rows(i).getLong(1)
        if (u < 0 || v < 0 || u >= 4294967296L || v >= 4294967296L) fits32 = false
        i += 1
      }
      if (fits32) {
        val deg = new java.util.HashMap[Long, Long](rows.length * 2)
        i = 0
        while (i < rows.length) {
          deg.merge(rows(i).getLong(0), 1L, _ + _)
          deg.merge(rows(i).getLong(1), 1L, _ + _)
          i += 1
        }
        def key(n: Long): Long = deg.get(n) * 4294967296L + n
        // oriented adjacency (toward the (degree, id)-larger endpoint),
        // out-lists sorted by the orientation key — the x.kt < y.kt pair
        // order of the distributed wedge join
        val adj = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
        val oriented = new java.util.HashSet[Long](rows.length * 2)
        i = 0
        while (i < rows.length) {
          val u = rows(i).getLong(0); val v = rows(i).getLong(1)
          val (s, t) = if (key(u) < key(v)) (u, v) else (v, u)
          adj.computeIfAbsent(s, _ => new java.util.ArrayList[Long]()).add(t)
          oriented.add((s << 32) | t)
          i += 1
        }
        var nWedges = 0L
        val dit = adj.values().iterator()
        while (dit.hasNext) { val d = dit.next().size.toLong; nWedges += d * (d - 1) / 2 }
        if (nWedges <= LocalMaxWedges) {
          graft.streaming.StreamOps.releaseCheckpoint(e)
          var nTriangles = 0L
          val ait = adj.values().iterator()
          while (ait.hasNext) {
            val lst = ait.next()
            lst.sort((x: Long, y: Long) => java.lang.Long.compare(key(x), key(y)))
            var x = 0
            while (x < lst.size) {
              val p = lst.get(x)
              var y = x + 1
              while (y < lst.size) {
                if (oriented.contains((p << 32) | lst.get(y))) nTriangles += 1
                y += 1
              }
              x += 1
            }
          }
          val spark = edges.sparkSession
          import spark.implicits._
          return org.apache.spark.sql.graftnative.PlanStats.withKnownRowCount(
            spark.createDataset(Seq(
              (deg.size.toLong, nEdgesExact, nWedges, nTriangles)))
              .toDF("n_nodes", "n_edges", "n_wedges", "n_triangles"), 1L)
        }
      }
    }
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val key = deg.select(col("n"), (col("d") * 4294967296L + col("n")).as("k"))
    val oriented = e
      .join(key.select(col("n").as("u"), col("k").as("ku")), "u")
      .join(key.select(col("n").as("v"), col("k").as("kv")), "v")
      .select(
        when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("s"),
        when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("t"),
        greatest(col("ku"), col("kv")).as("kt"))
      .localCheckpoint(false)
    // wedge count and triangle count ride ONE pass over the wedge join
    // (the closing edge is a LEFT probe, counted where it lands) — the
    // wedge set is the big intermediate and is never materialized twice
    val wt = oriented.as("x").join(oriented.as("y"),
        col("x.s") === col("y.s") && col("x.kt") < col("y.kt"))
      .select(col("x.t").as("p"), col("y.t").as("q"))
      .join(oriented.select(col("s").as("p"), col("t").as("q"), lit(1L).as("closed")),
        Seq("p", "q"), "left")
      .agg(count(lit(1)).as("n_wedges"),
        coalesce(sum(col("closed")), lit(0L)).as("n_triangles"))
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(wt))
  }

  /** BFS levels: exact minimum hop distance from a SEED set over a
    * directed edge list, capped at `maxDepth` — the reachability-with-
    * distance primitive next to the component (min-label) and
    * centrality (PageRank) operators: "everything within k hops of the
    * flagged nodes" is the blast-radius query an incident review or a
    * contamination trace runs. Frontier iteration: each round joins the
    * CURRENT frontier to the edge list, anti-joins everything already
    * visited (so a node's first discovery fixes its level — BFS
    * optimality), and checkpoints the frontier (the same lazy
    * localCheckpoint idiom as the CC loop: constant-depth plans,
    * realized by the round's one count action). Work per round is
    * O(frontier-adjacent edges), shuffled on node ids; the loop ends at
    * an empty frontier or the cap. Output: (id, level) for every
    * reached node, level = exact hop distance (≤ maxDepth). */
  def bfsLevels(edges: DataFrame, seeds: DataFrame,
      maxDepth: Int = 20,
      localMaxEdges: Long = Dedup.DefaultCcLocalMaxEdges): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1: $maxDepth")
    val e = edges.select(col("src"), col("dst")).cache()
    // Sub-threshold graphs run the frontier walk ON THE DRIVER — the
    // same exact-count escape as Dedup.canonicalAssignments: each
    // distributed round pays join + distinct + anti-join + checkpoint +
    // count in sequential query-stage jobs, seconds of scheduling for a
    // frontier one core walks in milliseconds. The threshold reads an
    // exact count (never an estimate); above it the distributed loop is
    // untouched. Output is identical (first-discovery hop levels;
    // GraphOpsSpec pins local == distributed).
    val nEdges = e.count()
    val longIds = e.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType) &&
      seeds.schema.find(_.name == "id").exists(
        _.dataType == org.apache.spark.sql.types.LongType)
    if (nEdges <= localMaxEdges && longIds) {
      val spark = edges.sparkSession
      val adj = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
      e.collect().foreach { r =>
        adj.computeIfAbsent(r.getLong(0), _ => new java.util.ArrayList[Long]())
          .add(r.getLong(1))
      }
      e.unpersist()
      val level = new java.util.HashMap[Long, Int]()
      var frontier = new java.util.ArrayList[Long]()
      seeds.select(col("id")).distinct().collect().foreach { r =>
        val id = r.getLong(0)
        if (!level.containsKey(id)) { level.put(id, 0); frontier.add(id) }
      }
      var depth = 0
      while (!frontier.isEmpty && depth < maxDepth) {
        depth += 1
        val next = new java.util.ArrayList[Long]()
        frontier.forEach { id =>
          val ns = adj.get(id)
          if (ns != null) ns.forEach { n =>
            if (!level.containsKey(n)) { level.put(n, depth); next.add(n) }
          }
        }
        frontier = next
      }
      val out = new Array[(Long, Int)](level.size)
      val it = level.entrySet().iterator(); var i = 0
      while (it.hasNext) { val en = it.next(); out(i) = (en.getKey, en.getValue); i += 1 }
      import spark.implicits._
      return org.apache.spark.sql.graftnative.PlanStats.withKnownRowCount(
        spark.createDataset(out.toIndexedSeq).toDF("id", "level"),
        out.length.toLong)
    }
    var visited = seeds.select(col("id"), lit(0).as("level"))
      .distinct().localCheckpoint(false)
    var frontier = visited
    var depth = 0
    var frontierSize = frontier.count()
    while (frontierSize > 0 && depth < maxDepth) {
      depth += 1
      val next = e.join(frontier.select(col("id").as("src")), "src")
        .select(col("dst").as("id")).distinct()
        .join(visited.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), lit(depth).as("level"))
        .localCheckpoint(false)
      frontierSize = next.count()
      if (frontierSize > 0) {
        visited = visited.unionAll(next).localCheckpoint(false)
        frontier = next
      }
    }
    e.unpersist()
    visited
  }

  /** Bounded k-core peeling: `rounds` synchronous rounds of "drop every
    * vertex with degree < k, recount" over a symmetric edge list — the
    * spam/boilerplate-hub screen on the co-occurrence graph (a true
    * k-core iterates to fixpoint; the FIXED round count here makes the
    * result exactly expressible as an unrolled oracle, and in practice
    * peeling converges in a handful of rounds). Each round is one
    * degree aggregate shuffled on the vertex id plus two semi-joins
    * restricting edges to survivors — no collect, work strictly
    * shrinks per round. Output: survivors (id, degree) with the
    * post-round-`rounds` degree.
    *
    * Sub-threshold graphs peel ON THE DRIVER — the same exact-count
    * escape as [[Dedup.canonicalAssignments]]: each distributed round is
    * an aggregate plus two joins plus a checkpoint in sequential
    * query-stage jobs, seconds of scheduling for a filter one core runs
    * in milliseconds. The threshold reads an exact edge count (never an
    * estimate); above it, or with non-long vertex ids, the distributed
    * loop is untouched. Duplicate edge rows count toward degrees in both
    * forms (RankStatsSpec pins local == distributed). */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int,
      localMaxEdges: Long = Dedup.DefaultCcLocalMaxEdges): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1, rounds >= 1: $k, $rounds")
    val e0 = edges.select(col("src"), col("dst")).localCheckpoint(false)
    val nEdges = e0.count()
    val longIds = e0.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (nEdges <= localMaxEdges && longIds) {
      val spark = edges.sparkSession
      val rows = e0.collect()
      graft.streaming.StreamOps.releaseCheckpoint(e0)
      var src = new Array[Long](rows.length)
      var dst = new Array[Long](rows.length)
      var n = rows.length
      var i = 0
      while (i < n) { src(i) = rows(i).getLong(0); dst(i) = rows(i).getLong(1); i += 1 }
      var r = 0
      while (r < rounds) {
        r += 1
        val deg = new java.util.HashMap[Long, Long](n * 2)
        i = 0
        while (i < n) { deg.merge(src(i), 1L, _ + _); i += 1 }
        val ns = new Array[Long](n); val nd = new Array[Long](n)
        var m = 0
        i = 0
        while (i < n) {
          if (deg.getOrDefault(src(i), 0L) >= k &&
              deg.getOrDefault(dst(i), 0L) >= k) {
            ns(m) = src(i); nd(m) = dst(i); m += 1
          }
          i += 1
        }
        src = ns; dst = nd; n = m
      }
      val deg = new java.util.HashMap[Long, Long](n * 2)
      i = 0
      while (i < n) { deg.merge(src(i), 1L, _ + _); i += 1 }
      val out = new Array[(Long, Long)](deg.size)
      val it = deg.entrySet().iterator(); var j = 0
      while (it.hasNext) { val en = it.next(); out(j) = (en.getKey, en.getValue); j += 1 }
      import spark.implicits._
      return org.apache.spark.sql.graftnative.PlanStats.withKnownRowCount(
        spark.createDataset(out.toIndexedSeq).toDF("id", "degree"),
        out.length.toLong)
    }
    var e = e0
    var r = 0
    while (r < rounds) {
      r += 1
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src"))
      e = e.join(keep, "src")
        .join(keep.select(col("src").as("dst")), "dst")
        .select(col("src"), col("dst")).localCheckpoint(false)
    }
    e.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
  }
}
