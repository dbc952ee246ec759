package graft

import org.apache.spark.sql.functions._

/** Registry-wide quality gates:
  *
  *  1. q29's HLL sketch (the one registry entry without a DuckDB oracle —
  *     sketches are engine-private) is bounded against q23's exact
  *     distinct counts instead of going unchecked.
  *  2. Plan-shape regression gate: no CartesianProduct and no
  *     BroadcastNestedLoopJoin anywhere in the registry's physical plans,
  *     except the documented brute-force baseline (q51's broadcast
  *     non-equi join). The round-2 rewrites turned every pair generator
  *     into bucketed equi-joins — this pins that shape so later edits
  *     can't silently regress to quadratic plans.
  */
class QualityGatesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q29 approx distinct within 5% of q23 exact per group") {
    val exact = SparkEntry.queries("q23_distinct_count")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = SparkEntry.queries("q29_approx_distinct")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (g, ex) =>
      val ap = approx(g)
      assert(math.abs(ap - ex).toDouble / ex <= 0.05,
        s"group $g: approx $ap vs exact $ex")
    }
  }

  // Registry-level accuracy gates for the OTHER two rows-only rows
  // (q206/q207, KLL sketch estimates — merge-order-dependent, so no
  // DuckDB hash): the same mechanical-bound treatment q29 gets above.
  // Each estimate the REGISTRY entry emits is ranked against the exact
  // sorted values of its own source table; rank error must stay within
  // the k=200 KLL ceiling QuantileSketchSpec pins at unit level (3% of
  // n, floor 2 — observed error is well under 1%).
  private def kllRankBound(n: Long): Long = math.max(2L, (0.03 * n).toLong)

  test("q206 KLL global quantiles within rank-error bound of the exact sort") {
    val rows = SparkEntry.queries("q206_kll_quantiles")(spark, dir).collect()
    val exact = Tables.load(spark, dir, "lineitem")
      .select(col("l_extendedprice").cast("double"))
      .collect().map(_.getDouble(0)).sorted
    assert(rows.length === 4)
    rows.foreach { r =>
      val (p, est, n) = (r.getDouble(0), r.getDouble(1), r.getLong(2))
      assert(n === exact.length.toLong)
      val rank = exact.count(_ <= est).toLong
      val target = math.ceil(p * n).toLong
      assert(math.abs(rank - target) <= kllRankBound(n),
        s"p=$p: estimate $est has exact rank $rank vs target $target")
    }
  }

  test("q207 KLL grouped quantiles within rank-error bound per group") {
    val rows = SparkEntry.queries("q207_kll_grouped")(spark, dir).collect()
    val byGroup = Tables.events(spark, dir)
      .select(col("event_type"), col("value").cast("double"))
      .collect().map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).sorted }
    assert(rows.map(_.getString(0)).toSet === byGroup.keySet,
      "every event type present in the grouped report")
    rows.foreach { r =>
      val (g, p, est, n) = (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3))
      val exact = byGroup(g)
      assert(n === exact.length.toLong)
      val rank = exact.count(_ <= est).toLong
      val target = math.ceil(p * n).toLong
      assert(math.abs(rank - target) <= kllRankBound(n),
        s"group $g p=$p: estimate $est has exact rank $rank vs target $target")
    }
  }

  test("q211 star join reorders under ANALYZE stats: fact table outermost (CBO product path)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def joinLeaves(p: LogicalPlan): Seq[String] = p match {
      case j: Join => joinLeaves(j.left) ++ joinLeaves(j.right)
      case other => other.collect {
        case r: LogicalRelation => r.catalogTable.map(_.identifier.table)
      }.flatten
    }
    // the registry row itself runs `Cli maintain analyze` then the
    // fact-FIRST star join; this gate fails if the runtime session stops
    // carrying CBO or the analyzed stats stop driving the reorder
    val df = SparkEntry.queries("q211_cbo_star")(spark, dir)
    // table names carry a dir-derived hash (g211_<dirhash>_lineitem)
    // since the round-11 per-dir-catalog fix; match on the stable suffix
    val order = joinLeaves(df.queryExecution.optimizedPlan)
      .map(_.replaceFirst("^g211_\\d+_", ""))
    assert(order.size === 3, s"expected 3 catalog leaves, got $order")
    assert(order.last === "lineitem",
      s"ANALYZE stats must push the fact table outermost, got $order")
    assert(order.take(2).toSet === Set("orders", "customer"),
      s"filtered dimension must join first, got $order")
  }

  test("q213 TPC-H Q5 reorders under ANALYZE stats: fact table not the first leaf") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def joinLeaves(p: LogicalPlan): Seq[String] = p match {
      case j: Join => joinLeaves(j.left) ++ joinLeaves(j.right)
      case other => other.collect {
        case r: LogicalRelation => r.catalogTable.map(_.identifier.table)
      }.flatten
    }
    // the row is WRITTEN fact-first with the region filter joined last;
    // this gate proves ANALYZE statistics (not syntax) choose the order:
    // the filtered region⨝nation pair must move ahead of the fact table
    val df = SparkEntry.queries("q213_cbo_tpch5")(spark, dir)
    val order = joinLeaves(df.queryExecution.optimizedPlan)
      .map(_.replaceFirst("^g213_\\d+_", ""))
    assert(order.size === 6, s"expected 6 catalog leaves, got $order")
    assert(order.head !== "lineitem",
      s"CBO must demote the syntactically-first fact table, got $order")
    val liPos = order.indexOf("lineitem")
    val rPos = order.indexOf("region")
    val nPos = order.indexOf("nation")
    assert(rPos >= 0 && nPos >= 0 && liPos >= 0, s"missing leaves in $order")
    assert(rPos < liPos && nPos < liPos,
      s"filtered region/nation must join before the fact table, got $order")
  }

  test("winnow fused-verify plan pin: one fp exchange, verify inside the self-join, no fetch joins, no broadcast") {
    import spark.implicits._
    // The round-9 fused form's whole point is physical shape: the sets
    // ride the fp-keyed exchange WITH the fingerprints and the exact
    // Jaccard happens in the self-join's output projection, so the plan
    // must show (a) the winnow hashes and the int shingle sets each
    // computed once per join side, (b) exactly ONE join — no verify
    // fetch joins and no wide intermediate to re-sort (the round-8
    // 9.2 GB spill), (c) the merge-scan intersect in that join's
    // projection, (d) no broadcast of the exploded set-carrying frame
    // (the explode-underestimate trap: at toy scale the leaf estimate
    // sits under the threshold, so without the merge pin this gate
    // fails), and (e) no fp sort beyond the one each window requires.
    val toy = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "s"),
      (2L, "alpha beta gamma delta epsilon eta", "s"),
      (3L, "theta iota kappa lambda mu nu", "s")).toDF("doc_id", "text", "source")
    val plan = graft.operators.Dedup.winnowPairs(toy)
      .queryExecution.sparkPlan.toString
    val hashEvals = "graft_winnowhashes".r.findAllIn(plan).size
    assert(hashEvals == 2,
      s"winnow hashes must be computed once per join side, got $hashEvals evaluations")
    val setEvals = "graft_shinglesetints".r.findAllIn(plan).size
    assert(setEvals == 2,
      s"int shingle sets must be computed once per join side, got $setEvals evaluations")
    assert(plan.contains("graft_sortedintersectcount"),
      "exact Jaccard must be the zero-allocation merge scan inside the join projection")
    val joins = "Join".r.findAllIn(plan).size
    assert("SortMergeJoin".r.findAllIn(plan).size == 1 && joins == 1,
      s"exactly one sort-merge self-join, no verify fetch joins — plan has $joins joins")
    assert(!plan.contains("BroadcastHashJoin"),
      "the exploded set-carrying frame must never broadcast (explode-underestimate trap)")
    assert(!plan.contains("HashAggregate(keys=[fp"),
      "the df cap must ride the window, not a separate fp aggregate")
    val fpSorts = "Sort \\[fp".r.findAllIn(plan).size
    assert(fpSorts <= 2,
      s"no fp sort beyond the two windows' own, got $fpSorts")
  }

  test("band-join plan pins: self-join never broadcasts the exploded band frame; probe form broadcasts the bounded probe side") {
    import graft.operators.Dedup
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import spark.implicits._
    // Catalyst's sizeInBytes for a Generate is child-proportional —
    // blind to the C(m, c) band fan-out — so at any corpus whose leaf
    // estimate sits under the broadcast threshold the planner would
    // broadcast millions of band rows (measured on the ×16 scaling
    // corpus: an ~8.4 M-row broadcast build, q45b 31.9 s vs 13.3 s
    // pinned — SCALING.md "explode-underestimate broadcast trap"). A
    // toy frame IS the under-threshold regime: without the hint pins
    // in Dedup, both asserts below fail, so an estimator change in a
    // future Spark cannot silently reintroduce either plan.
    def hasGen(p: SparkPlan): Boolean =
      p.collectFirst { case g: GenerateExec => g }.isDefined
    val rows = Seq((1L, 0L, "a"), (2L, 3L, "a"), (3L, 7L, "b"))
      .toDF("doc_id", "h", "source")
    val self = Dedup.bandedHammingPairs(rows, "h", 48, 6, Seq("source"))
    val selfJoins = self.queryExecution.sparkPlan.collect {
      case j: BroadcastHashJoinExec if hasGen(j.left) && hasGen(j.right) => "broadcast"
      case j: SortMergeJoinExec if hasGen(j.left) && hasGen(j.right) => "smj"
    }
    assert(selfJoins.nonEmpty && selfJoins.forall(_ == "smj"),
      s"band self-join must stay sort-merge at every estimate, got $selfJoins")
    // probe form: the opposite pin — the per-batch probe side is
    // bounded by the fold contract, so it is the explicit build side
    // and the accumulated base streams with no exchange
    val base = Seq((1L, 0L, "a", false), (2L, 3L, "a", true))
      .toDF("rep", "simhash", "source", "isNew")
    val probe = Seq((2L, 3L, "a")).toDF("rep", "simhash", "source")
    val pe = Dedup.bandedHammingProbeEdges(
      probe, base, "rep", "simhash", 48, 6, Seq("source"))
    val probeJoins = pe.queryExecution.sparkPlan.collect {
      case j: BroadcastHashJoinExec if hasGen(j.left) && hasGen(j.right) =>
        j.buildSide.toString
    }
    assert(probeJoins === Seq("BuildLeft"),
      s"probe form must broadcast the probe (left) side, got $probeJoins")
  }

  test("IVF cell-join plan pins: pair self-join stays sort-merge; decon probe side broadcasts") {
    import graft.operators.Similarity
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import spark.implicits._
    // Same explode-underestimate trap as the band joins: both sides of
    // ivfCellPairs' self-join explode each vector into its two nearest
    // cells, the Generate's size estimate is blind to the fan-out, and
    // a toy frame IS the under-threshold regime — without the merge pin
    // in Similarity.ivfCellPairs Catalyst broadcasts the
    // embedding-carrying exploded frame and this gate fails.
    def hasGen(p: SparkPlan): Boolean =
      p.collectFirst { case g: GenerateExec => g }.isDefined
    val emb = Seq.tabulate(10)(i =>
        (i.toLong, Array.tabulate(4)(j => (i * 4 + j).toFloat), i % 2))
      .toDF("vec_id", "embedding", "label")
    val centroids: Seq[Seq[Double]] =
      Seq(Seq(0.0, 1.0, 2.0, 3.0), Seq(20.0, 21.0, 22.0, 23.0))
    val pairJoins = Similarity.ivfCellPairs(emb, centroids, 0.9)
      .queryExecution.sparkPlan.collect {
        case j: BroadcastHashJoinExec if hasGen(j.left) && hasGen(j.right) => "broadcast"
        case j: SortMergeJoinExec if hasGen(j.left) && hasGen(j.right) => "smj"
      }
    assert(pairJoins.nonEmpty && pairJoins.forall(_ == "smj"),
      s"IVF pair self-join must stay sort-merge at every estimate, got $pairJoins")
    // decon: the held-out probe side (bounded by contract) is the
    // explicit build side, so the train corpus streams exchange-free
    val deconPlan = Similarity.ivfSemanticDecontaminate(emb, emb.limit(2), 0.9)
      .queryExecution.sparkPlan
    val deconJoins = deconPlan.collect {
      case j: BroadcastHashJoinExec if hasGen(j.right) => j.buildSide.toString
      case j: SortMergeJoinExec if hasGen(j.right) => "smj"
    }
    assert(deconJoins.nonEmpty && deconJoins.forall(_ == "BuildRight"),
      s"decon cell join must broadcast the probe (right) side, got $deconJoins")
  }

  // queries whose construction itself runs driver-side jobs (iterative
  // loops) — their per-round plans are covered by their own specs
  private val iterative = Set("q46_canonical", "q48_dedup_apply",
    "q131_graph_components")
  // documented exceptions: q51 is the brute-force ANN baseline (broadcast
  // non-equi join by design); the others are ONE-ROW broadcast cross
  // joins (the scalar-subquery global-threshold pattern: heavy-hitter
  // total, Q11 global value, Q22 global average) — O(n) work, not
  // quadratic plans
  private val bnljAllowed = Set("q51_ann_bruteforce", "q61_heavy_hitters",
    "q28f_tpch_q11", "q28g_tpch_q22", "q28i_tpch_q15", "q83_tfidf",
    "q86_bm25", "q87_pagerank",
    // one-row scalar attaches (audit counters, histogram total) and the
    // 4-row threshold probe of the COLLAPSED histogram — never the data
    "q92_fk_audit", "q93_hist_quantiles", "q99_cooccurrence",
    "q118_lm_quality",
    // one-row graph-census attaches (nodes/edges/wedges/triangles)
    "q124_triangles",
    // contains q51's brute-force baseline by definition (eval harness)
    "q127_ann_eval",
    // one-row n_truth attach onto the 3-row family report
    "q162_dedup_family_eval",
    // same one-row n_truth attach onto the |grid|-row sweep report
    "q205_lsh_autotune",
    // one-row n_min attach onto the vocabulary-sized source-rate table
    "q163_temperature_sample",
    // one-row (ta, tb) totals attach for the scaled probabilities
    "q130_token_drift",
    // one-row corpus-size attach feeding the affine negative probe
    "q140_negative_sample",
    // one-row median/MAD/total attaches; fence test itself is a map
    "q142_mad_outliers",
    // per-group totals broadcast to the 3-row percentile threshold
    // frame; the cum >= thr probe runs on the COLLAPSED histogram
    "q145_grouped_quantiles",
    // one-row grand-total attach onto the |A|x|B| cell frame
    "q169_chi2_cells",
    // one-row n_total / n_ref attaches onto the 9-digit frame and the
    // collapsed-ECDF lookup
    "q178_benford", "q179_ecdf_normalize",
    // one-row (q1, q3) fence attach; the threshold probe runs on the
    // COLLAPSED cents histogram, the fence test itself is a map
    "q186_iqr_outliers",
    // 4-row predicate probe against the catalog-scale shard manifest
    // (the data itself is scanned once for the manifest aggregate)
    "q194_zonemap", "q203_zorder_skipping",
    // one-row grand-total attach inherited from the chi2 cell frame
    "q198_cramers_v")

  // ---- the registry walk ------------------------------------------------
  //
  // The four registry-wide gates below each check every registry row, and
  // building a row (analysis, planning, and the driver-side jobs some rows
  // run while being built) is what they pay for. One walk builds each row
  // ONCE and records every covering gate's verdict; each gate then reads
  // its verdicts. A row that throws while being built fails every gate
  // that covers it.

  /** One row's verdicts: `None` passes, `Some(offence)` fails. `pushdown`
    * is `None` when the row carries no literal source predicate (the gate
    * does not count it as checked). Gates that do not cover the row
    * leave their verdict `None`. */
  private final case class Verdicts(cartesian: Option[String], window: Option[String],
      pushdown: Option[Option[String]], decimals: Option[String])

  private var rowBuilds = 0
  private lazy val registry: Seq[(String, scala.util.Try[Verdicts])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> scala.util.Try {
        rowBuilds += 1
        val df = fn(spark, dir)
        if (iterative(name)) Verdicts(None, None, None, decimalOffence(name, df))
        else Verdicts(cartesianOffence(name, df),
          if (globalWindowAllowed(name)) None else windowOffence(name, df),
          pushdownOffence(name, df), decimalOffence(name, df))
      }
    }

  /** The verdicts of every row `covers` admits (walking the registry on
    * first use); a row that threw while being built reports its error. */
  private def verdicts(covers: String => Boolean): Seq[(String, Either[String, Verdicts])] = {
    val rows = registry
    assert(rowBuilds === SparkEntry.queries.size,
      s"each registry row is built once: $rowBuilds builds for ${SparkEntry.queries.size} rows")
    rows.collect { case (name, v) if covers(name) =>
      name -> v.toEither.left.map(e => s"$name: threw while being built: $e")
    }
  }

  private def offenders(covers: String => Boolean)(gate: Verdicts => Option[String]): Seq[String] =
    verdicts(covers).flatMap { case (_, v) => v.fold(Some(_), gate) }

  private def cartesianOffence(name: String,
      df: org.apache.spark.sql.DataFrame): Option[String] = {
    val plan = df.queryExecution.executedPlan.toString
    val cartesian = plan.contains("CartesianProduct")
    val bnlj = plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name)
    if (cartesian || bnlj) Some(s"$name cartesian=$cartesian bnlj=$bnlj") else None
  }

  test("no cartesian / nested-loop joins outside documented baselines") {
    val offending = offenders(n => !iterative(n))(_.cartesian)
    assert(offending.isEmpty, offending.mkString("; "))
  }

  // global windows whose input is data-sized but bounded by something the
  // structural rule below can't see — each entry must name the bound
  private val globalWindowAllowed: Set[String] = Set.empty

  // QualityChecks' collapsed-histogram convention (QualityChecks.scala,
  // centsSql note) is safe only because every unpartitioned window in
  // it runs over a groupBy-collapsed frame — this gate is what ENFORCES
  // that convention registry-wide (round-12 verdict #3): a logical
  // Window with an empty partitionSpec is a single-partition sort of
  // its whole input, so every root-to-leaf path beneath it must pass
  // through an Aggregate or a Limit (or a leaf with a known small row
  // bound). q170's pre-round-13 global row_number() is exactly what
  // this catches — its rank now arrives via Linkage.distributedRank.
  private def windowOffence(name: String,
      df: org.apache.spark.sql.DataFrame): Option[String] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case _: GlobalLimit => true
      case _: LocalLimit => true
      case l: LeafNode => l.maxRows.exists(_ <= (1L << 20)) ||
        // a checkpointed leaf carrying an exact caller-supplied
        // cardinality (PlanStats.withKnownRowCount — e.g. spearman's
        // counted rank-map histogram) is a known small bound too
        l.stats.rowCount.exists(_ <= (1L << 20))
      case o => o.children.nonEmpty && o.children.forall(bounded)
    }
    val bad = df.queryExecution.optimizedPlan.collect {
      case w: Window if w.partitionSpec.isEmpty && !bounded(w.child) => w
    }
    if (bad.nonEmpty) Some(s"$name: ${bad.size} unbounded global window(s)") else None
  }

  test("no data-sized global windows: empty-partition windows sit above an aggregation or limit") {
    val offending = offenders(n => !iterative(n) && !globalWindowAllowed(n))(_.window)
    assert(offending.isEmpty,
      "data-sized single-partition sorts (bound the input or allowlist with the bound named): " +
        offending.mkString("; "))
  }

  test("TPC-H dimension sides broadcast (no shuffle fallback)") {
    // every dimension join key must appear in a BroadcastHashJoin line of
    // the executed plan — a dimension that falls back to sort-merge means
    // the FACT side re-shuffles on that key, a real cost at 100x scale
    // (q26 regressed exactly this way in round 2)
    val dimJoinKeys = Map(
      "q25_tpch_q3" -> Seq("c_custkey"),
      "q26_tpch_q5" -> Seq("s_suppkey", "n_nationkey", "r_regionkey"),
      "q27c_tpch_q9" -> Seq("p_partkey", "s_suppkey", "n_nationkey"),
      "q27d_tpch_q7" -> Seq("s_suppkey", "s_nk", "c_nk"),
      "q27e_tpch_q8" -> Seq("s_suppkey", "c_nk", "r_regionkey", "s_nk"),
      "q28b_tpch_q10" -> Seq("c_custkey", "n_nationkey"),
      "q28d_tpch_q18" -> Seq("c_custkey"))
    val failures = dimJoinKeys.toSeq.sortBy(_._1).flatMap { case (name, keys) =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      val bhj = plan.linesIterator.filter(_.contains("BroadcastHashJoin")).mkString("\n")
      keys.filterNot(bhj.contains).map(k => s"$name: $k not in any BroadcastHashJoin")
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("sketch-tier plan shapes: one exchange of sketch state for q207; broadcast-only pair joins for q208") {
    // q207: map-side partial sketch aggregation must be the ONLY thing
    // feeding the exchange — the whole point of the grouped KLL
    // aggregate is that raw rows never shuffle. Exactly one Exchange,
    // and both ObjectHashAggregate halves around it.
    val p207 = SparkEntry.queries("q207_kll_grouped")(spark, dir)
      .queryExecution.executedPlan.toString
    val exchanges207 = p207.linesIterator.count(_.contains("Exchange "))
    assert(exchanges207 === 1, s"q207 must shuffle ONLY sketch partials:\n$p207")
    assert(p207.contains("partial_graft_kll_quantiles"),
      "q207 must partial-aggregate the sketch map-side")
    // q208: every pair join runs over collapsed sketch frames — all
    // joins broadcast, no sort-merge, no cartesian
    val p208 = SparkEntry.queries("q208_hll_setops")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p208.contains("SortMergeJoin") && !p208.contains("CartesianProduct"),
      s"q208 pair joins must broadcast over collapsed sketches:\n$p208")
    assert(p208.contains("BroadcastHashJoin"), "q208 must join, broadcast-style")
  }

  test("q214 fact scan carries dynamic partition pruning") {
    // the whole point of the row: the day-partitioned fact scan must be
    // pruned by the runtime dim, not statically or not at all. The
    // executed plan's FileSourceScan prints the inserted
    // dynamicpruningexpression in its PartitionFilters; if DPP stops
    // firing (conf regression, layout change, dim no longer broadcast)
    // the scan silently reads all partitions and this gate fails.
    val plan = SparkEntry.queries("q214_dpp_prune")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"q214 fact scan lost dynamic partition pruning:\n$plan")
  }

  test("q215 application side carries the runtime bloom filter below its shuffle") {
    // build the lazy join inside the SAME conf window the registry row
    // uses (ScanPruning.withBloomConfs — one definition, so this gate
    // can't drift from the product's thresholds); the bloom must appear
    // as might_contain on the lineitem (application) side. Gate on the
    // PRE-checkpoint plan — the registry row returns the materialized
    // result whose plan is an RDD scan by design.
    graft.operators.ScanPruning.withBloomConfs(spark) {
      val plan = graft.operators.ScanPruning.bloomJoinPlan(
          Tables.load(spark, dir, "lineitem"), Tables.load(spark, dir, "orders"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"q215 lost the injected runtime bloom filter:\n$plan")
      assert(plan.contains("bloom_filter_agg"),
        s"q215: no bloom build on the creation side:\n$plan")
      assert(plan.contains("SortMergeJoin"),
        "q215 must stay in the sort-merge regime (broadcast would make the bloom moot)")
    }
  }

  test("headline filters reach the parquet scan (PushedFilters)") {
    // a selective predicate that does not appear in the scan's
    // PushedFilters is a full-table read wearing a Filter node
    def pushed(name: String, fragment: String): Unit = {
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      val scans = plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
      assert(scans.contains(fragment), s"$name: no pushed filter matching '$fragment' in:\n$scans")
    }
    pushed("q02_range_scan", "GreaterThanOrEqual(l_orderkey")
    pushed("q25_tpch_q3", "EqualTo(c_mktsegment")
    pushed("q27c_tpch_q9", "StringContains(p_name,gear)")
  }

  // MECHANICAL enumeration (not a hand-picked list): walk every registry
  // query's optimized logical plan; any Filter sitting over a parquet
  // relation (through projections/aliases only) whose conjuncts compare
  // a bare source column to literals is pushable BY CONSTRUCTION — the
  // parquet source translates exactly these shapes — so its column must
  // appear in some PushedFilters of the executed plan. Catches the
  // classic regression where an operator edit wraps a source column
  // (cast, arithmetic) and silently turns a pruned scan into a full
  // read wearing a Filter node.
  private def pushdownOffence(name: String,
      df: org.apache.spark.sql.DataFrame): Option[Option[String]] = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, BinaryComparison, Expression, In, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan, Project => LProject, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.LogicalRelation

    def conjuncts(e: Expression): Seq[Expression] = e match {
      case CAnd(a, b) => conjuncts(a) ++ conjuncts(b)
      case x => Seq(x)
    }
    def overRelation(p: LogicalPlan): Boolean = p match {
      case _: LogicalRelation => true
      case LProject(_, c) => overRelation(c)
      case SubqueryAlias(_, c) => overRelation(c)
      case _ => false
    }
    def pushableAttrs(plan: LogicalPlan): Seq[String] = plan.collect {
      case LFilter(cond, child) if overRelation(child) =>
        conjuncts(cond).collect {
          case BinaryComparison(a: AttributeReference, _: Literal) => a.name
          case BinaryComparison(_: Literal, a: AttributeReference) => a.name
          case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) => a.name
        }
    }.flatten.distinct

    val qe = df.queryExecution
    val attrs = pushableAttrs(qe.optimizedPlan)
    if (attrs.isEmpty) None else {
      val pushedLines = qe.executedPlan.toString
        .linesIterator.filter(_.contains("PushedFilters: [")).mkString("\n")
      val missing = attrs.filterNot(pushedLines.contains)
      Some(if (missing.isEmpty) None else Some(s"$name: $missing not in PushedFilters"))
    }
  }

  test("registry-wide: every literal source predicate reaches PushedFilters") {
    val rows = verdicts(n => !iterative(n))
    val checked = rows.collect { case (name, Right(v)) if v.pushdown.isDefined => name }
    val failures = rows.flatMap { case (_, v) => v.fold(Some(_), _.pushdown.flatten) }
    assert(failures.isEmpty, failures.mkString("; "))
    assert(checked.size >= 10,
      s"gate degenerated — only ${checked.size} queries carry literal source predicates: $checked")
  }

  // Round-4 lesson: the driver's hash pipeline materializes integral
  // wide decimals (DuckDB HUGEINT / DECIMAL(38,0)) differently per
  // engine — exact int128 rendering vs float64 — which flipped nine
  // VALUE-IDENTICAL rows red. The structural contract: every FINAL
  // output column must be a type both engines render identically —
  // ≤64-bit integrals, floating point, string, boolean, binary,
  // date/timestamp, or a FRACTIONAL decimal (scale ≥ 1, the
  // money-sum class both engines print as "123.45"); wide SCALE-0
  // decimals stay internal and are cast to BIGINT (if they fit by
  // construction) or DOUBLE before the final select. Arrays/structs/
  // maps recurse.
  private def decimalOffence(name: String,
      df: org.apache.spark.sql.DataFrame): Option[String] = {
    import org.apache.spark.sql.types._
    def ok(dt: DataType): Boolean = dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
           _: FloatType | _: DoubleType | _: StringType | _: BooleanType |
           _: BinaryType | _: DateType | _: TimestampType |
           _: TimestampNTZType | _: NullType => true
      case d: DecimalType => d.scale >= 1
      case a: ArrayType => ok(a.elementType)
      case m: MapType => ok(m.keyType) && ok(m.valueType)
      case s: StructType => s.fields.forall(f => ok(f.dataType))
      case _ => false
    }
    val bad = df.schema.fields.filterNot(f => ok(f.dataType))
    if (bad.isEmpty) None
    else Some(s"$name: ${bad.map(f => s"${f.name}:${f.dataType.sql}").mkString(",")}")
  }

  test("registry-wide: no wide exact decimals in any FINAL output schema") {
    val offending = offenders(_ => true)(_.decimals)
    assert(offending.isEmpty,
      s"wide/unrenderable output types (cast to BIGINT/DOUBLE before the final select): ${offending.mkString("; ")}")
  }
}
