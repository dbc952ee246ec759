package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality profiling for pipeline gates (the Deequ-style checks a
  * 100 TB ingest runs before promoting a snapshot): one aggregation pass
  * computes all requested metrics (single job, map-side partials), rather
  * than one action per check.
  */
object QualityChecks {

  /** Distinct-value ceiling below which a rank map keeps the cheap
    * single-partition cumulative window; past it the rank distributes
    * via [[Ranks.globalPrefixSum]] (measured ~2.8 s slower at
    * sf0.1/local[32] — the range-shard + checkpoint price that only
    * pays once the histogram is genuinely data-sized). Matches the
    * global-window gate's leaf bound (2²⁰). Callers pass
    * `rankMapWindowMaxDistinct = 0` to force the distributed form (the
    * spec pin uses it). */
  val DefaultRankMapWindowMaxDistinct: Long = 1L << 20

  /** One row per profiled column:
    * (col_name, n_rows, n_nulls, null_frac, n_distinct, is_unique) where
    * is_unique ⇔ distinct non-nulls + nulls account for every row.
    * Exact distinct counts — swap in approx_count_distinct at extreme
    * widths. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val total = count(lit(1))
    val metrics: Seq[Column] = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
        countDistinct(col(c)).as(s"__distinct_$c"))
    } :+ total.as("__total")
    val row = df.agg(metrics.head, metrics.tail: _*)
    val out = cols.map { c =>
      struct(lit(c).as("col_name"), col("__total").as("n_rows"),
        col(s"__nulls_$c").as("n_nulls"),
        (col(s"__nulls_$c").cast("double") / col("__total").cast("double")).as("null_frac"),
        col(s"__distinct_$c").as("n_distinct"),
        (col(s"__distinct_$c") + col(s"__nulls_$c") === col("__total")).as("is_unique"))
    }
    row.select(explode(array(out: _*)).as("m")).select("m.*")
  }

  /** ANALYZE-style stats profile — [[profile]] plus min/max, the pass a
    * catalog runs to seed data-skipping metadata (Delta/Iceberg column
    * stats, Hive ANALYZE TABLE). Numeric columns report min/max as
    * DOUBLE (exact for ids below 2^53 and 2-decimal money columns;
    * pre-project timestamps to epoch micros), string columns
    * lexicographically — two typed slots instead of a stringified value
    * whose rendering differs across engines.
    *
    * Shape: one single-distinct aggregate PER COLUMN, unioned. Fusing
    * every column's exact countDistinct into one aggregate plans as an
    * Expand of (columns+1)× the full row width — measured 10× slower at
    * sf0.1 than these per-column plans, each of which is a
    * column-PRUNED columnar scan (reads one column's pages) with the
    * classic two-stage distinct, no Expand. The N stages run in
    * parallel; on columnar storage N single-column scans read the same
    * bytes one fused full-row scan would. */
  def statsProfile(df: DataFrame, numericCols: Seq[String],
      stringCols: Seq[String]): DataFrame = {
    def base(c: String) = df.agg(
      count(lit(1)).as("n_rows"),
      count(when(col(c).isNull, lit(1))).as("n_nulls"),
      countDistinct(col(c)).as("n_distinct"),
      min(col(c)).as("mn"), max(col(c)).as("mx"))
    val rows = numericCols.map { c =>
      base(c).select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("mn").cast("double").as("min_num"),
        col("mx").cast("double").as("max_num"),
        lit(null).cast("string").as("min_str"),
        lit(null).cast("string").as("max_str"))
    } ++ stringCols.map { c =>
      base(c).select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), lit(null).cast("double").as("min_num"),
        lit(null).cast("double").as("max_num"),
        col("mn").as("min_str"), col("mx").as("max_str"))
    }
    rows.reduce(_ union _)
  }

  /** Per-group z-score outliers over a 2-decimal measure column: rows
    * whose |value − μ_g| / σ_g exceeds `threshold` (σ = sample stddev).
    * The metric-drift / sensor-glitch gate every ingest runs per slice.
    *
    * Cross-engine determinism: Σv and Σv² accumulate in DECIMAL (exact,
    * order-independent — a raw double sum would depend on partition
    * order), and only the final per-group μ/σ² arithmetic happens in
    * doubles, in one fixed operation order; `sqrt` is correctly rounded
    * everywhere. Shape: one groupBy on the slice key (map-side
    * partial), stats broadcast back (|groups| rows), one row-wise
    * filter — two scans, no window. Groups with fewer than 2 rows or
    * zero variance yield no outliers. */
  def zScoreOutliers(df: DataFrame, groupCol: String, valueCol: String,
      idCols: Seq[String], threshold: Double): DataFrame =
    scoreAgainstStats(df, groupStats(df, groupCol, valueCol),
      groupCol, valueCol, idCols, threshold)

  /** The per-group exact moments (n, Σv, Σv²) [[zScoreOutliers]] scores
    * against — persist them to score a later batch (or an unbounded
    * stream: [[graft.streaming.StreamOps.anomalyStream]]) against this
    * window's baseline. */
  def groupStats(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val dv = col(valueCol).cast("decimal(9,2)")
    df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(dv).as("s1"),
      sum(dv * dv).as("s2"))
  }

  /** Row-wise scoring against precomputed [[groupStats]] — shared
    * verbatim by the batch and streaming paths, so stream == batch holds
    * by construction. Narrow work after a broadcast of the (|groups|-row)
    * stats side; zero state. */
  def scoreAgainstStats(df: DataFrame, stats: DataFrame, groupCol: String,
      valueCol: String, idCols: Seq[String], threshold: Double): DataFrame = {
    val nD = col("n").cast("double")
    val s1D = col("s1").cast("double")
    val mean = s1D / nD
    val variance = (col("s2").cast("double") - ((s1D * s1D) / nD)) / (nD - lit(1.0))
    df.join(broadcast(stats), groupCol)
      .filter(col("n") > 1)
      .withColumn("grp_mean", mean)
      .withColumn("grp_var", variance)
      .filter(col("grp_var") > 0.0)
      .withColumn("z", (col(valueCol) - col("grp_mean")) / sqrt(col("grp_var")))
      .filter(abs(col("z")) > threshold)
      .select((idCols.map(col) :+ col(groupCol) :+ col(valueCol) :+ col("z")): _*)
  }

  /** One referential-integrity audit row: how many child rows have no
    * matching parent key (the orphan count a star-schema ingest checks
    * before promoting a snapshot). The anti-join shuffles both sides on
    * the key — never a broadcast of an unbounded parent — and a NULL
    * foreign key counts as an orphan on both engines (left_anti here,
    * NOT EXISTS in the oracle: null never equals, so the row survives).
    * Union several of these for a full audit — each is one aggregate
    * row, so the union is driver-cheap. */
  def referentialOrphans(child: DataFrame, fkCol: String,
      parent: DataFrame, pkCol: String, label: String): DataFrame = {
    val orphans = child.select(col(fkCol))
      .join(parent.select(col(pkCol).as(fkCol)), Seq(fkCol), "left_anti")
    child.agg(count(lit(1)).as("n_rows"))
      .crossJoin(broadcast(orphans.agg(count(lit(1)).as("n_orphans"))))
      .select(lit(label).as("fk"), col("n_rows"), col("n_orphans"))
  }

  /** Deterministic approximate quantiles from a FIXED-BIN histogram —
    * the scale path when exact `percentile` (full sort) is too costly
    * and `approx_percentile`'s sketch is engine-private (q29's problem:
    * unverifiable). Everything is integer arithmetic over cent-scaled
    * values: bin = cents div binWidthCents, cumulative counts per bin,
    * quantile p% = the first bin whose cumulative count reaches
    * ceil(total·p/100) — bit-identical on any engine, error bounded by
    * the bin width. Shape: one linear groupBy(bin) collapses the table
    * to ≤ range/width rows; the window and threshold probe run on that
    * tiny histogram, never on the data. */
  def histogramQuantiles(df: DataFrame, valueCol: String,
      binWidthCents: Long, pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts must be in 1..100: $pcts")
    val spark = df.sparkSession
    import spark.implicits._
    val bins = df.select(expr(s"(${centsSql(valueCol)}) div $binWidthCents").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("c"))
    // collapsed-histogram global window — cardinality bounded by distinct values, never rows (see centsSql note)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = bins.withColumn("cum", sum(col("c")).over(w)).select("bin", "cum")
    val total = df.agg(count(lit(1)).as("total"))
    val thr = pcts.toDF("pct").crossJoin(broadcast(total))
      .withColumn("thr", expr("(total * pct + 99) div 100"))
    val sel = thr.join(cum, col("cum") >= col("thr"))
      .groupBy(col("pct"), col("total")).agg(min(col("bin")).as("bin"))
    sel.join(cum, "bin")
      .select(col("pct"), col("bin"), (col("bin") * binWidthCents).as("lo_cents"),
        col("cum"), col("total"))
  }

  /** Per-group [[histogramQuantiles]]: same deterministic
    * percentile-threshold rule, with the cumulative window PARTITIONED
    * by the group — it still runs over collapsed (group, bin) rows,
    * never data rows, and per-group totals join back instead of a
    * global scalar. Output: (group, pct, bin, lo_cents, cum, total). */
  def groupedHistogramQuantiles(df: DataFrame, groupCol: String,
      valueCol: String, binWidthCents: Long, pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts must be in 1..100: $pcts")
    val spark = df.sparkSession
    import spark.implicits._
    val bins = df.select(col(groupCol),
        expr(s"(${centsSql(valueCol)}) div $binWidthCents").as("bin"))
      .groupBy(col(groupCol), col("bin")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
      .orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = bins.withColumn("cum", sum(col("c")).over(w))
      .select(col(groupCol), col("bin"), col("cum"))
    val total = df.groupBy(col(groupCol)).agg(count(lit(1)).as("total"))
    val thr = pcts.toDF("pct").crossJoin(broadcast(total))
      .withColumn("thr", expr("(total * pct + 99) div 100"))
    val sel = thr.join(cum, Seq(groupCol)).filter(col("cum") >= col("thr"))
      .groupBy(col(groupCol), col("pct"), col("total")).agg(min(col("bin")).as("bin"))
    sel.join(cum, Seq(groupCol, "bin"))
      .select(col(groupCol), col("pct"), col("bin"),
        (col("bin") * binWidthCents).as("lo_cents"), col("cum"), col("total"))
  }

  /** EXACT order statistics without a global sort — the 100 TB path that
    * [[histogramQuantiles]]'s bin-granular answer brackets. Two
    * aggregation passes: pass 1 histograms `cents div bucketWidthCents`
    * (driver gets at most value-range/width rows) and locates, for each
    * requested rank k = ceil(n·pct/100), the bucket holding rank k;
    * pass 2 re-scans with `groupBy(cents)` restricted to JUST those
    * bracket buckets — at most bucketWidthCents distinct cent values per
    * bucket, so the collect is bounded by the width constant, never by
    * data size. No raw row ever reaches the driver; both passes are
    * map-side-combining aggregations, so the shape survives a 1000-node
    * scale-up where sort-based `row_number` would shuffle the world.
    * Output one row per percentile: (pct, rnk, value) with `value` the
    * exact cent-scaled element at 1-indexed rank rnk. */
  def exactQuantiles(df: DataFrame, valueCol: String,
      bucketWidthCents: Long, pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts must be in 1..100: $pcts")
    val spark = df.sparkSession
    import spark.implicits._
    val vals = df.select(expr(centsSql(valueCol)).as("v"))
    val (_, at) = valuesAtRanks(vals, bucketWidthCents,
      n => pcts.map(p => (n * p + 99) / 100))
    pcts.zip(at).map { case (p, (k, v)) => (p, k, v) }
      .toDF("pct", "rnk", "value")
  }

  /** The shared two-aggregation-pass rank engine behind
    * [[exactQuantiles]] and [[rangeShards]]. `vals` must be a single
    * BIGINT column named `v`; `ranksOf` derives the wanted 1-indexed
    * ranks from the pass-1 total count. Returns (n, (rank, value) per
    * requested rank, preserving order). */
  private def valuesAtRanks(vals: DataFrame, bucketWidthCents: Long,
      ranksOf: Long => Seq[Long]): (Long, Seq[(Long, Long)]) = {
    require(bucketWidthCents > 0, s"bucketWidthCents must be > 0: $bucketWidthCents")
    val hist = vals.groupBy(expr(s"v div $bucketWidthCents").as("b"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val n = hist.map(_._2).sum
    require(n > 0, "valuesAtRanks on an empty input")
    val cum = hist.scanLeft(0L)(_ + _._2).tail
    val located = ranksOf(n).map { k =>
      require(k >= 1 && k <= n, s"rank out of range: $k of $n")
      val i = cum.indexWhere(_ >= k)
      (k, hist(i)._1, if (i == 0) 0L else cum(i - 1))
    }
    val needed = located.map(_._2).distinct
    // Scala Long `/` and Spark `div` both truncate toward zero, so the
    // driver-side bucket recompute below matches the pass-1 keys exactly.
    val fine = vals.filter(expr(s"v div $bucketWidthCents").isin(needed: _*))
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val out = located.map { case (k, b, before) =>
      val inBucket = fine.filter(_._1 / bucketWidthCents == b)
      var rem = k - before
      var i = 0
      while (rem > inBucket(i)._2) { rem -= inBucket(i)._2; i += 1 }
      (k, inBucket(i)._1)
    }
    (n, out)
  }

  /** Balanced range sharding — the piece a 100 TB global sort actually
    * needs: split points are EXACT order statistics at ranks
    * ceil(i·n/shards) (same two-aggregation-pass engine as
    * [[exactQuantiles]] — no global sort, and none of the sampled
    * nondeterminism of Spark's RangePartitioner), and a row's shard is
    * the count of splits strictly below its value, so the boundary rule
    * is a pure value predicate — ties can never straddle shards
    * run-to-run. Returns the balance report a range-sorted writer would
    * log, one row per non-empty shard: (shard_id, n_rows, min_v, max_v);
    * the same `shardId` expression handed to a `repartitionByRange`-style
    * writer gives the deterministic sorted layout itself. */
  def rangeShards(df: DataFrame, valueCol: String,
      bucketWidthCents: Long, shards: Int): DataFrame = {
    require(shards >= 2, s"shards must be >= 2: $shards")
    val vals = df.select(expr(centsSql(valueCol)).as("v"))
    val (_, splits) = valuesAtRanks(vals, bucketWidthCents,
      n => (1 until shards).map(i => (n * i + shards - 1) / shards))
    val shardId = splits.map { case (_, s) =>
      when(col("v") > lit(s), 1).otherwise(0) }.reduce(_ + _)
    vals.groupBy(shardId.cast("int").as("shard_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
  }

  /** Two-sample Kolmogorov–Smirnov distance between two groups of a
    * 2-decimal measure — the distribution-SHAPE sibling of
    * [[mannWhitneyU]]'s location test (drift detection between two
    * sources or two snapshot dates). Exact to the last bit: both ECDFs
    * live on the collapsed cents histogram (the windows run over
    * distinct VALUES, never rows — bounded by the value range, not the
    * data), and the sup-distance is cross-multiplied into integers,
    * D·n_a·n_b = max |cumA·n_b − cumB·n_a|, so the max is BIGINT
    * arithmetic; the only double is the final 1-row division. Output:
    * (n_a, n_b, d_num, d) with d = d_num/(n_a·n_b). */
  def ksTest(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = df.filter(col(groupCol).isin(groupA, groupB))
      .select(expr(centsSql(valueCol)).as("v"), col(groupCol).as("g"))
      .groupBy(col("v")).agg(
        count(when(col("g") === groupA, 1)).as("ca"),
        count(when(col("g") === groupB, 1)).as("cb"))
    // collapsed-histogram global window — cardinality bounded by distinct values, never rows (see centsSql note)
    val wCum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val m = vals
      .withColumn("cuma", sum(col("ca")).over(wCum))
      .withColumn("cumb", sum(col("cb")).over(wCum))
      .withColumn("na", sum(col("ca")).over(wAll))
      .withColumn("nb", sum(col("cb")).over(wAll))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        max(abs(col("cuma") * col("nb") - col("cumb") * col("na"))).as("d_num"))
    def d(c: Column) = c.cast("double")
    m.select(col("n_a"), col("n_b"), col("d_num"),
      (d(col("d_num")) / (d(col("n_a")) * d(col("n_b")))).as("d"))
  }

  /** COLLAPSED-HISTOGRAM GLOBAL WINDOWS — the scale justification for
    * every unpartitioned `Window.orderBy` in this file (q93/q145/q179/
    * q186/q190-family sites; WindowExec warns "moving all data to a
    * single partition" on each). The window NEVER runs over data rows:
    * the data is first collapsed to its distinct-cents histogram
    * (`centsSql` buckets to 2-decimal cents, so cardinality is bounded
    * by the distinct MONEY VALUES — ≤ 10⁶ for a [0, $10k] 2-decimal
    * domain, independent of row count), and only that vocabulary-sized
    * frame passes through the single-partition sort. At 100 TB the
    * data-side cost is the one groupBy(v) with map-side partials; the
    * window stays a driver-scale epilogue. A rewrite to range
    * partitioning would only matter if the VALUE DOMAIN itself became
    * unbounded (raw doubles, micro-precision prices) — re-bucket
    * upstream instead. */
  private def centsSql(c: String): String =
    s"CAST(CAST($c AS DECIMAL(12,2)) * 100 AS BIGINT)"

  /** Benford first-significant-digit audit — the classic fabricated-
    * numbers / broken-ETL screen (a measure column whose leading-digit
    * distribution departs hard from log₁₀(1+1/d) was usually generated,
    * truncated, or unit-mangled somewhere upstream). No libm: the
    * expected shares are the nine Benford constants in integer parts-
    * per-million, the observed share is integer division, and the digit
    * comes from the decimal string head — exact on both engines. One
    * groupBy over positive values; nine output rows:
    * (digit, n, n_total, expected_ppm, observed_ppm). */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val ppm = Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L,
      57992L, 51153L, 45757L)
    val counts = df.select(expr(centsSql(valueCol)).as("v"))
      .filter(col("v") > 0)
      .select(substring(col("v").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("n_total"))
    counts.crossJoin(broadcast(total))
      .select(col("digit"), col("n"), col("n_total"),
        element_at(array(ppm.map(lit): _*), col("digit")).as("expected_ppm"),
        expr("n * 1000000 div n_total").as("observed_ppm"))
  }

  /** ECDF normalization against a REFERENCE population: each row's
    * 2-decimal measure becomes its percentile rank in `ref`'s
    * distribution — the cross-snapshot score calibration a quality
    * pipeline runs ("is this doc long for the web-crawl population?").
    * Exact: the reference ECDF lives on the collapsed cents histogram;
    * data values merge into the same collapsed frame (count 0) so ONE
    * cumulative window — over distinct VALUES, never rows — serves
    * every lookup; the only double is the final division. Output:
    * (ids..., v, n_le, n_ref, pct_rank = n_le/n_ref). */
  def ecdfNormalize(data: DataFrame, ref: DataFrame, valueCol: String,
      idCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = data.select(idCols.map(col) :+ expr(centsSql(valueCol)).as("v"): _*)
    val rhist = ref.select(expr(centsSql(valueCol)).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
    val dvals = rows.select(col("v")).distinct().withColumn("c", lit(0L))
    val merged = rhist.unionByName(dvals).groupBy(col("v")).agg(sum(col("c")).as("c"))
    // collapsed-histogram global window — cardinality bounded by distinct values, never rows (see centsSql note)
    val wCum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = merged.withColumn("n_le", sum(col("c")).over(wCum))
      .select(col("v"), col("n_le"))
    val tot = rhist.agg(sum(col("c")).as("n_ref"))
    rows.join(broadcast(cum), "v").crossJoin(broadcast(tot))
      .select(idCols.map(col) :+ col("v") :+ col("n_le") :+ col("n_ref") :+
        (col("n_le").cast("double") / col("n_ref").cast("double")).as("pct_rank"): _*)
  }

  /** Drift MATRIX: [[ksTest]] for every unordered pair of groups — the
    * "which sources diverged from which" readout a multi-source corpus
    * runs nightly. One collapsed (value, group-count) histogram is
    * computed once, ONE cumulative window carries every group's CDF
    * numerator, and ONE final aggregate folds all pairs' sup-distances
    * into a single row (the previous form built a separate
    * scan + histogram + two-global-window pipeline PER PAIR — 6
    * redundant heavy pipelines and 12 single-partition window passes at
    * 4 groups, pure scheduling latency). The per-pair report rows are
    * then |pairs| one-row projections off the checkpointed single-row
    * aggregate. Pairs come from the Scala side (group lists are
    * catalog-scale, not data-scale). Totals ride a broadcast crossJoin
    * of the same histogram's sums (its shuffle is reused by the window
    * branch). Output: (group_a, group_b, n_a, n_b, d_num, d) per pair
    * — values identical to the per-pair form.  */
  def ksMatrix(df: DataFrame, groupCol: String, valueCol: String,
      groups: Seq[String]): DataFrame = {
    require(groups.size >= 2, "need at least two groups")
    val condCounts = groups.map(g => count(when(col("g") === g, 1)).as(s"c_$g"))
    val hist = df.filter(col(groupCol).isin(groups: _*))
      .select(expr(centsSql(valueCol)).as("v"), col(groupCol).as("g"))
      .groupBy(col("v"))
      .agg(condCounts.head, condCounts.tail: _*)
    import org.apache.spark.sql.expressions.Window
    // collapsed-histogram global window — cardinality bounded by distinct values, never rows (see centsSql note)
    val wCum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = hist.select(
      col("v") +: groups.map(g => sum(col(s"c_$g")).over(wCum).as(s"cum_$g")): _*)
    val totals = hist.agg(
      groups.map(g => sum(col(s"c_$g")).as(s"n_$g")).head,
      groups.drop(1).map(g => sum(col(s"c_$g")).as(s"n_$g")): _*)
    val pairs = for {
      (a, i) <- groups.zipWithIndex; b <- groups.drop(i + 1)
    } yield (a, b)
    val aggExprs = pairs.map { case (a, b) =>
      max(abs(col(s"cum_$a") * col(s"n_$b") - col(s"cum_$b") * col(s"n_$a")))
        .as(s"d_${a}__$b")
    } ++ groups.map(g => max(col(s"n_$g")).as(s"n_$g"))
    val one = withCum.crossJoin(broadcast(totals))
      .agg(aggExprs.head, aggExprs.drop(1): _*)
      .localCheckpoint(false)
    pairs.map { case (a, b) =>
      one.select(lit(a).as("group_a"), lit(b).as("group_b"),
        col(s"n_$a").as("n_a"), col(s"n_$b").as("n_b"),
        col(s"d_${a}__$b").as("d_num"))
    }.reduce(_ unionByName _)
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"), col("d_num"),
        (col("d_num").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("d"))
  }

  /** Tukey/IQR outlier fences — the third robust-fence family next to
    * [[zScoreOutliers]] (moment-based) and [[madOutliers]]
    * (median-based): exact Q1/Q3 from the collapsed cents histogram
    * (rank rule k = ceil(n·p/4... same convention as
    * [[exactQuantiles]]), fence test kept integral by scaling ×2:
    * outlier ⇔ 2·v < 2·q1 − 3·iqr or 2·v > 2·q3 + 3·iqr (1.5·IQR with
    * no fractional arithmetic). Output: outlier rows
    * (ids..., v, q1, q3) — the thresholds ride along for audit. */
  def iqrOutliers(df: DataFrame, valueCol: String,
      idCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = df.select(idCols.map(col) :+ expr(centsSql(valueCol)).as("v"): _*)
    val hist = rows.groupBy(col("v")).agg(count(lit(1)).as("c"))
    // collapsed-histogram global window — cardinality bounded by distinct values, never rows (see centsSql note)
    val wCum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = hist.withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
    def thr(mult: Int, name: String) =
      cum.filter(col("cum") * 4 >= col("n") * mult)
        .agg(min(col("v")).as(name))
    val q = thr(1, "q1").crossJoin(thr(3, "q3"))
      .select(col("q1"), col("q3"), (col("q3") - col("q1")).as("iqr"))
    rows.crossJoin(broadcast(q))
      .filter(col("v") * 2 < col("q1") * 2 - col("iqr") * 3 ||
        col("v") * 2 > col("q3") * 2 + col("iqr") * 3)
      .select(idCols.map(col) :+ col("v") :+ col("q1") :+ col("q3"): _*)
  }

  /** Welch's two-sample t statistic between two groups of a 2-decimal
    * measure — the A/B comparison every experiment readout runs. One
    * aggregate pass with conditional sums (no join, no pivot): both
    * groups' exact DECIMAL moments ride the same scan; the t arithmetic
    * is fixed-order doubles over the 1-row moment frame. Output one row:
    * (group_a, group_b, n_a, n_b, mean_a, mean_b, t). The caller maps t
    * to a p-value offline — erf is libm territory, deliberately not
    * crossed here. */
  def abTest(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    val dv = col(valueCol).cast("decimal(9,2)")
    def side(g: String, tag: String) = Seq(
      count(when(col(groupCol) === g, lit(1))).as(s"n_$tag"),
      sum(when(col(groupCol) === g, dv)).as(s"s1_$tag"),
      sum(when(col(groupCol) === g, dv * dv)).as(s"s2_$tag"))
    val aggs = side(groupA, "a") ++ side(groupB, "b")
    val w = df.agg(aggs.head, aggs.tail: _*)
    def nD(t: String) = col(s"n_$t").cast("double")
    def mean(t: String) = col(s"s1_$t").cast("double") / nD(t)
    def variance(t: String) =
      (col(s"s2_$t").cast("double") -
        ((col(s"s1_$t").cast("double") * col(s"s1_$t").cast("double")) / nD(t))) /
        (nD(t) - lit(1.0))
    w.select(lit(groupA).as("group_a"), lit(groupB).as("group_b"),
      col("n_a"), col("n_b"),
      mean("a").as("mean_a"), mean("b").as("mean_b"),
      ((mean("a") - mean("b")) /
        sqrt((variance("a") / nD("a")) + (variance("b") / nD("b")))).as("t"))
  }

  /** Per-group min-max feature scaling to [0, 1] — the normalization
    * pass before any distance-based math on heterogeneous slices. Group
    * extremes come from one aggregate (exact: min/max are selections,
    * not arithmetic), broadcast back; constant groups (max = min) yield
    * a null scaled value rather than a division blow-up. */
  def minMaxScale(df: DataFrame, groupCol: String, valueCol: String,
      idCols: Seq[String]): DataFrame = {
    val ext = df.groupBy(col(groupCol))
      .agg(min(col(valueCol)).as("__mn"), max(col(valueCol)).as("__mx"))
    df.join(broadcast(ext), groupCol)
      .withColumn("scaled",
        when(col("__mx") > col("__mn"),
          (col(valueCol) - col("__mn")).cast("double") /
            (col("__mx") - col("__mn")).cast("double")))
      .select((idCols.map(col) :+ col(groupCol) :+ col(valueCol) :+ col("scaled")): _*)
  }

  /** Pairwise Pearson correlation over small 2-decimal measure columns
    * (|v| < 10⁷) — the feature-drift / multicollinearity scan. All
    * moments (Σx, Σx², Σxy) accumulate in exact DECIMAL in ONE aggregate
    * pass (order-independent — `corr()`'s streaming doubles are not),
    * then each pair's r is fixed-order double arithmetic over the 1-row
    * moment frame. Output: one row per column pair. Built-in `corr` is
    * the right call when cross-engine bit-equality doesn't matter. */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    def d(c: String) = col(c).cast("decimal(9,2)")
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
      yield (cols(i), cols(j))
    val aggs = Seq(count(lit(1)).as("n")) ++
      cols.flatMap(c => Seq(sum(d(c)).as(s"s__$c"), sum(d(c) * d(c)).as(s"ss__$c"))) ++
      pairs.map { case (a, b) => sum(d(a) * d(b)).as(s"sp__${a}__$b") }
    val w = df.agg(aggs.head, aggs.tail: _*)
    val nD = col("n").cast("double")
    def sD(c: String) = col(s"s__$c").cast("double")
    def ssD(c: String) = col(s"ss__$c").cast("double")
    val entries = pairs.map { case (a, b) =>
      val num = (nD * col(s"sp__${a}__$b").cast("double")) - (sD(a) * sD(b))
      val den = sqrt((nD * ssD(a)) - (sD(a) * sD(a))) *
        sqrt((nD * ssD(b)) - (sD(b) * sD(b)))
      struct(lit(a).as("col_a"), lit(b).as("col_b"), (num / den).as("r"))
    }
    w.select(explode(array(entries: _*)).as("p")).select(col("p.*"))
  }

  /** HLL geometry shared by EVERY register builder, fold, and DuckDB
    * oracle string: m = 64 registers, and α_64·m² pre-multiplied to ONE
    * double literal (0.709·4096 — composing it from two literals would
    * round differently than DuckDB's decimal-exact product). These were
    * previously triplicated across hllRegisters/hllEstimate/
    * hllRawEstimateOf plus the q208/q29/q210 SQL strings; drift in any
    * copy silently breaks the pinned stream==batch bit-equality, so
    * there are no copies. */
  val HllM: Int = 64
  val HllAlphaM2: Double = 2904.064

  /** Deterministic HyperLogLog (Flajolet et al. 2007) distinct estimate —
    * the REPLAYABLE counterpart of `approx_count_distinct` (whose HLL++
    * register layout is engine-private, so q29 can only be rows-checked):
    * every step here is integer/bit arithmetic both engines run
    * identically, which puts the sketch itself under the DuckDB hash
    * gate. m = 64 registers; h = (x·2654435761 + 7) mod P (fits int64 up
    * to x ≈ 3.4·10^9); register j = h mod 64, rank ρ = 1 + trailing
    * zeros of h div 64 (`length(bin(v & −v))` — no libm log2), zero
    * residue capped. The register fold is the classic harmonic mean:
    * terms 2^−M_j are EXACT powers of two built by integer shift + one
    * exact division (never `pow`, whose last ulp is libm territory),
    * summed in register order via the seeded-fold convention, absent
    * registers appended as +1.0 each at the end — one fixed operation
    * order, bit-identical across engines.
    *
    * Scale shape: (group, register) partial-aggregates map-side to
    * ≤ 64 rows per group per partition, the per-group fold touches 64
    * values — the same bounded-state contract as approx_count_distinct,
    * at any cardinality. Bias correction (linear counting) needs `ln`,
    * so the RAW estimator is reported alongside the hit-register count;
    * callers needing small-range correction apply it driver-side. */
  def hllDistinct(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    hllEstimate(hllRegisters(df, Seq(groupCol), valueCol), Seq(groupCol))

  /** The (groups..., j, mj) register sketch behind [[hllDistinct]] /
    * [[hllSketchRollup]] — the MERGEABLE persisted form (register-wise
    * max combines sketches across any grain without raw data). */
  private[graft] def hllRegisters(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame = {
    val P = graft.functions.TextHash.P
    val g = groupCols.map(col)
    // affine map alone is NOT enough here: sequential keys form an
    // arithmetic progression mod P whose trailing-zero statistics are
    // biased (+50% on a 2k-distinct test), so two QUADRATIC rounds
    // follow — affine∘affine stays affine, squaring does not. h² ≤
    // (P−1)² ≈ 1.0e18 keeps every step inside int64.
    val h0 = (col(valueCol).cast("long") * 2654435761L + 7L) % P
    df.select(g :+ h0.as("h"): _*)
      .select(g :+ (((col("h") * col("h") + col("h") * 5L + 1L) % P).as("h")): _*)
      .select(g :+ (((col("h") * col("h") + col("h") * 3L + 7L) % P).as("h")): _*)
      .select(g :+ (col("h") % HllM).cast("int").as("j") :+ expr(s"h div $HllM").as("v"): _*)
      .select(g :+ col("j") :+
        when(col("v") === 0L, lit(25)).otherwise(length(bin(expr("v & -v")))).as("rho"): _*)
      .groupBy(g :+ col("j"): _*).agg(max(col("rho")).as("mj"))
  }

  /** Driver-side twin of [[hllEstimate]]'s harmonic fold for a SINGLE
    * sketch held as (j, mj) pairs — same fixed operation order (terms
    * ascending by j, then the absent-register ones appended), so a
    * register map folded on the driver (the streaming path) yields the
    * IDENTICAL double the frame fold yields. */
  def hllRawEstimateOf(regs: Iterable[(Int, Int)]): Double = {
    require(regs.nonEmpty, "estimate of an empty sketch")
    val sorted = regs.toSeq.sortBy(_._1)
    val terms = sorted.map { case (_, mj) => 1.0 / (1L << mj).toDouble }
    val invSum = terms.tail.foldLeft(terms.head)(_ + _) + (HllM - sorted.size).toDouble
    HllAlphaM2 / invSum
  }

  /** The harmonic-mean fold from (groups..., j, mj) registers to
    * (groups..., n_registers, raw_est) — one fixed operation order,
    * bit-identical across engines (see [[hllDistinct]] scaladoc). */
  private def hllEstimate(regs: DataFrame, groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    regs.groupBy(g: _*)
      .agg(sort_array(collect_list(struct(col("j"), col("mj")))).as("rs"))
      .select(g :+
        size(col("rs")).as("n_registers") :+
        expr("transform(rs, r -> 1.0D / CAST(shiftleft(1L, r.mj) AS DOUBLE))").as("terms"): _*)
      .select(g :+ col("n_registers") :+
        (expr("aggregate(slice(terms, 2, size(terms) - 1), terms[0], (a, x) -> a + x)")
          + (lit(HllM) - col("n_registers")).cast("double")).as("inv_sum"): _*)
      .select(g :+ col("n_registers") :+
        (lit(HllAlphaM2) / col("inv_sum")).as("raw_est"): _*)
  }

  /** Sketch ROLLUP: per-(coarse, fine) register sketches — the form a
    * nightly job persists per day/source — merged up to the coarse
    * grain by register-wise max and only then folded to an estimate.
    * This is the piece plain incremental aggregation (q148) cannot do
    * for COUNT DISTINCT: a count is not summable across days, but HLL
    * registers merge losslessly — the rollup stage touches ONLY the
    * collapsed (coarse, fine, j, mj) sketch rows (≤ 64·|fine| per
    * coarse group), never the raw data, which is exactly how a 100 TB
    * pipeline serves "distinct users this month" from 30 daily
    * sketches. The merged estimate is IDENTICAL to sketching the
    * coarse grain directly (max is associative), which the unit spec
    * pins. Output: (coarse, n_sketches, n_registers, raw_est). */
  def hllSketchRollup(df: DataFrame, coarseCol: String, fineCol: String,
      valueCol: String): DataFrame = {
    val daily = hllRegisters(df, Seq(coarseCol, fineCol), valueCol)
    val nSketches = daily.select(col(coarseCol), col(fineCol)).distinct()
      .groupBy(col(coarseCol)).agg(count(lit(1)).as("n_sketches"))
    val merged = daily.groupBy(col(coarseCol), col("j")).agg(max(col("mj")).as("mj"))
    hllEstimate(merged, Seq(coarseCol)).join(broadcast(nSketches), coarseCol)
      .select(col(coarseCol), col("n_sketches"), col("n_registers"), col("raw_est"))
  }

  /** HLL SET OPERATIONS: the pairwise distinct-overlap matrix between
    * groups, computed entirely on merged sketches — |A∪B| by
    * register-wise max of A's and B's registers, |A∩B| by
    * inclusion–exclusion (est_a + est_b − est_union). This is the
    * audit a multi-source corpus needs ("how many users/docs do
    * sources share?") in a form that never rescans raw data per pair:
    * one pass builds ≤ 64 registers per group, and every pairwise
    * union touches only collapsed sketch rows. Registers merge
    * losslessly (max is associative), so the union ESTIMATE is
    * bit-identical to sketching A∪B's raw rows directly — pinned by
    * SketchSpec — and the whole construction replays in SQL under the
    * DuckDB hash gate (same deterministic HLL as [[hllDistinct]]).
    *
    * The group list is collected driver-side to enumerate pairs —
    * bounded by contract: this is a SOURCE/SPLIT-grain audit (tens of
    * groups), same cardinality class as the other collapsed report
    * frames. Output: (g_a, g_b, est_a, est_b, est_union,
    * est_intersection), g_a < g_b. */
  def hllOverlapMatrix(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val regs = hllRegisters(df, Seq(groupCol), valueCol)
      .localCheckpoint(false) // reused by the per-group and union folds
    val groups = regs.select(col(groupCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    val mapping = groups.combinations(2).toSeq
      .flatMap { p => val (a, b) = (p(0), p(1)); Seq((a, a, b), (b, a, b)) }
      .toDF("g", "g_a", "g_b")
    val unionRegs = regs
      .join(broadcast(mapping), regs(groupCol).cast("string") === mapping("g"))
      .groupBy(col("g_a"), col("g_b"), col("j")).agg(max(col("mj")).as("mj"))
    val single = hllEstimate(regs, Seq(groupCol))
      .select(col(groupCol).cast("string").as("g"), col("raw_est"))
    hllEstimate(unionRegs, Seq("g_a", "g_b"))
      .select(col("g_a"), col("g_b"), col("raw_est").as("est_union"))
      .join(single.select(col("g").as("g_a"), col("raw_est").as("est_a")), "g_a")
      .join(single.select(col("g").as("g_b"), col("raw_est").as("est_b")), "g_b")
      .select(col("g_a"), col("g_b"), col("est_a"), col("est_b"), col("est_union"),
        (col("est_a") + col("est_b") - col("est_union")).as("est_intersection"))
  }

  // ---- persisted HLL register store -------------------------------------
  // The sketch-tier analog of the persisted band/embedding indexes: a
  // nightly job APPENDS each batch's registers (≤ 64 rows per group —
  // never raw data) and any reader serves "distinct per group so far"
  // by register-wise max over the stored rows. Register merge is
  // lossless, so a report over the store equals sketching all raw rows
  // ever seen, exactly (CliMaintainSpec pins it). Versions commit
  // through Bucketing's versioned location (subtable `registers`): the
  // build and every compaction write a `.tmp` version and rename it into
  // place, and compaction retains the previous version one cycle, so a
  // concurrent reader mid-compact always sees a complete version.
  // Single concurrent writer of versions by contract (one maintenance
  // job owns the store), like the band index.

  /** The store's versioned subtable under its directory. */
  private[graft] val hllStoreSub = "registers"

  private def storeRegs(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    hllRegisters(df.select(col(groupCol).cast("string").as("g"),
      col(valueCol)), Seq("g"), valueCol)

  /** Initialize the store at `dir` (its first committed version) from a
    * base table. A location that already holds a committed store is
    * refused: compaction merges every version, so a second build could
    * not replace the first. */
  def hllStoreBuild(df: DataFrame, groupCol: String, valueCol: String,
      dir: String): Unit = {
    val spark = df.sparkSession
    require(!Bucketing.hasCommitted(spark, dir, hllStoreSub),
      s"hll-build: $dir already holds a committed sketch store — append to it, " +
        "or build at a new location")
    Bucketing.commit(spark, dir, hllStoreSub)(storeRegs(df, groupCol, valueCol).write.parquet(_))
  }

  /** Append one batch's registers to the CURRENT version — the nightly
    * incremental step: O(64·|groups|) rows written, raw batch never
    * stored. (Parquet-level file append; readers merge by max, so
    * duplicate (g, j) rows across files are harmless by construction.) */
  def hllStoreAppend(df: DataFrame, groupCol: String, valueCol: String,
      dir: String): Unit =
    storeRegs(df, groupCol, valueCol).write.mode("append")
      .parquet(Bucketing.committedDir(df.sparkSession, dir, hllStoreSub))

  /** Serve (g, n_registers, raw_est) from the store — register-wise max
    * then the harmonic fold; touches only stored sketch rows. */
  def hllStoreReport(spark: SparkSession, dir: String): DataFrame = {
    val regs = spark.read.parquet(Bucketing.committedDir(spark, dir, hllStoreSub))
      .groupBy(col("g"), col("j")).agg(max(col("mj")).as("mj"))
    hllEstimate(regs, Seq("g"))
  }

  /** Fold accumulated append files into one merged register set, committed
    * as the next version through [[Bucketing.commit]]; the previous
    * version is retained for one cycle (readers mid-compact see a
    * complete old version), older ones dropped.
    *
    * Concurrent-append safety: a [[hllStoreAppend]] (or
    * [[graft.streaming.StreamOps.streamingHllStoreIngest]]'s
    * foreachBatch) that resolved vN as current while this compact is
    * committing v(N+1) writes its register files into vN AFTER the merge
    * read them. Two mechanisms keep those registers from ever being
    * dropped: (a) the merge reads ALL committed versions, not just the
    * last — register merge is lossless max, so re-folding an older
    * version is free correctness, and it means a file in vK is only
    * deleted by a compact that re-read vK at that later time; (b) each
    * old directory is re-listed TO A FIXPOINT (bounded at a few rounds —
    * a writer that keeps appending to the stale directory must not spin
    * the compact forever; on exhaustion the directory is RETAINED,
    * loudly, for the next compact to reclaim) immediately before its
    * deletion — any parquet file the merge did not see is appended into
    * v(N+1) and the listing repeats until clean, so a directory is only
    * removed when its file set equals what was merged as of the final
    * look (duplicate (g, j) rows across files are harmless — readers
    * merge by max, exactly [[hllStoreAppend]]'s own contract); the
    * retained vN's late files are folded forward too. Compacts
    * themselves remain single-writer by contract (one maintenance job
    * owns version creation), but a stream appending while a scheduled
    * compact runs is a supported overlap — CliMaintainSpec's "hll store
    * compact folds a late append into the old version instead of
    * dropping it" pins the late-append recovery.
    *
    * Residual assumption (documented, not closed): an appender that
    * resolved a stale version as current can still land a file in the
    * gap between the final clean re-list and the delete. That appender
    * must have held its stale `current` across the whole merge + commit
    * (after the rename, new appenders resolve v(N+1)); appends are not
    * expected to straddle a full compact cycle, and the previous
    * version's one-cycle retention bounds the exposure to exactly this
    * pathological overlap. */
  def hllStoreCompact(spark: SparkSession, dir: String): Unit = {
    val fs = Bucketing.fileSystem(spark, dir)
    def parquetFiles(v: Path): Set[Path] =
      fs.listStatus(v).iterator.map(_.getPath).filter(_.getName.endsWith(".parquet")).toSet
    def fold(files: Set[Path], into: Path): Unit =
      spark.read.parquet(files.toSeq.map(_.toString): _*).select(col("g"), col("j"), col("mj"))
        .write.mode("append").parquet(into.toString)
    val versions = Bucketing.versions(spark, dir, hllStoreSub).map(_._2)
    require(versions.nonEmpty, s"no committed version of $hllStoreSub under $dir")
    val merged = versions.map(v => v -> parquetFiles(v)).toMap
    // (b): each old directory folds what landed since the merge, to a
    // bounded fixpoint, and is deleted only once a re-list finds nothing new
    val next = Bucketing.commit(spark, dir, hllStoreSub, retire = (old, next) => {
      var seen = merged.getOrElse(old, Set.empty)
      var late = parquetFiles(old) -- seen
      var rounds = 0
      val maxRounds = 5
      while (late.nonEmpty && rounds < maxRounds) {
        fold(late, next)
        seen ++= late
        late = parquetFiles(old) -- seen
        rounds += 1
      }
      if (late.nonEmpty)
        System.err.println(s"[hll-store] compact of $dir: ${old.getName} still " +
          s"receiving appends after $maxRounds re-list rounds (${late.size} " +
          "unfolded files) — retaining the directory; the next compact's " +
          "all-versions merge reclaims it once quiet")
      late.isEmpty
    }) { tmp =>
      spark.read.parquet(merged.values.flatten.toSeq.map(_.toString): _*)
        .groupBy(col("g"), col("j")).agg(max(col("mj")).as("mj")).write.parquet(tmp)
    }
    // the retained previous version keeps its one-cycle retention; files
    // that landed there after the merge fold forward now, and any later
    // ones are swept by the NEXT compact's all-versions merge — (a) above
    val lateInRetained = parquetFiles(versions.last) -- merged(versions.last)
    if (lateInRetained.nonEmpty) fold(lateInRetained, next)
  }

  /** Mann–Whitney U between two groups of a 2-decimal measure — the
    * rank-based (distribution-free) sibling of [[abTest]], the right
    * readout when the metric is skewed or heavy-tailed. Everything up
    * to the final z is EXACT integer arithmetic: values collapse to a
    * cents histogram with per-group counts, so the rank window runs
    * over distinct VALUES, never rows (the [[histogramQuantiles]]
    * shape), and tie-averaged ranks stay integral by carrying 2·rank —
    * a value spanning ranks [cum−t+1, cum] has doubled average rank
    * 2·(cum−t) + t + 1. 2·R_a and the tie term Σ(t³−t) are then exact
    * BIGINTs; only the final normal-approximation z (tie-corrected
    * variance) is fixed-order double over the 1-row frame. Output:
    * (n_a, n_b, u2_a = 2·U_a, ties, z). */
  def mannWhitneyU(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    val vals = df.filter(col(groupCol).isin(groupA, groupB))
      .select(expr(centsSql(valueCol)).as("v"), col(groupCol).as("g"))
      .groupBy(col("v")).agg(
        count(when(col("g") === groupA, 1)).as("ca"),
        count(when(col("g") === groupB, 1)).as("cb"))
    // collapsed-histogram global window — cardinality bounded by distinct values, never rows (see centsSql note)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val m = vals.withColumn("t", col("ca") + col("cb"))
      .withColumn("cum", sum(col("t")).over(w))
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
        sum(col("ca") * (lit(2) * (col("cum") - col("t")) + col("t") + 1)).as("r2a"),
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
    def d(c: Column) = c.cast("double")
    val na = d(col("n_a")); val nb = d(col("n_b")); val nn = na + nb
    val ua = d(col("u2_a")) / lit(2.0)
    m.select(col("n_a"), col("n_b"),
        (col("r2a") - col("n_a") * (col("n_a") + 1)).as("u2_a"), col("ties"))
      .select(col("n_a"), col("n_b"), col("u2_a"), col("ties"),
        ((ua - (na * nb) / lit(2.0)) /
          sqrt((na * nb / lit(12.0)) *
            ((nn + lit(1.0)) - d(col("ties")) / (nn * (nn - lit(1.0)))))).as("z"))
  }

  /** Median-absolute-deviation outliers — the robust sibling of
    * [[zScoreOutliers]] (one wild value cannot drag the fence the way
    * it drags μ/σ). Both medians are EXACT percentile_disc picks
    * (smallest value whose cumulative count reaches half) over
    * collapsed cents histograms — the windows never see rows — and the
    * fence test `|v − med| > k·mad` is pure integer arithmetic end to
    * end: no float enters at any point. Degenerate mad = 0 (over half
    * the mass on one value) flags every non-median value, by design.
    * Output: (idCols, valueCol, dev) for flagged rows. */
  def madOutliers(df: DataFrame, valueCol: String, idCols: Seq[String],
      k: Long = 10L): DataFrame = {
    val cents = df.select((idCols.map(col) :+ col(valueCol)
      :+ expr(centsSql(valueCol)).as("__v")): _*)
    val h = cents.groupBy(col("__v")).agg(count(lit(1)).as("__c"))
    // collapsed-histogram global window — cardinality bounded by distinct values, never rows (see centsSql note)
    val wcum = org.apache.spark.sql.expressions.Window.orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val nDf = h.agg(sum(col("__c")).as("__n"))
    val med = h.withColumn("__cum", sum(col("__c")).over(wcum))
      .crossJoin(broadcast(nDf))
      .filter(col("__cum") * 2 >= col("__n"))
      .agg(min(col("__v")).as("__med"))
    val h2 = h.crossJoin(broadcast(med))
      .groupBy(abs(col("__v") - col("__med")).as("__d"))
      .agg(sum(col("__c")).as("__c2"))
    // collapsed-histogram global window — cardinality bounded by distinct values, never rows (see centsSql note)
    val wcum2 = org.apache.spark.sql.expressions.Window.orderBy(col("__d"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val mad = h2.withColumn("__cum2", sum(col("__c2")).over(wcum2))
      .crossJoin(broadcast(nDf))
      .filter(col("__cum2") * 2 >= col("__n"))
      .agg(min(col("__d")).as("__mad"))
    cents.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
      .filter(abs(col("__v") - col("__med")) > lit(k) * col("__mad"))
      .select((idCols.map(col) :+ col(valueCol)
        :+ abs(col("__v") - col("__med")).as("dev")): _*)
  }

  /** Per-group skewness and excess kurtosis — the distribution-shape
    * monitor (drift often shows in the tails before the mean moves).
    * All four raw moments Σx..Σx⁴ accumulate in EXACT DECIMAL in one
    * conditional-free aggregate pass (order-independent where streaming
    * doubles are not; x⁴ needs the NARROW DECIMAL(6,2) view — |x| < 10⁴,
    * 18× above the corpus max — to keep DuckDB's stepwise products
    * inside its decimal widths);
    * the central-moment algebra runs in one fixed double order over the
    * per-group moment frame. Built-in `skewness`/`kurtosis` are the
    * right call when cross-engine bit-equality doesn't matter. */
  def shapeMoments(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val x = col(valueCol).cast("decimal(6,2)")
    val m = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"), sum(x).as("s1"), sum(x * x).as("s2"),
      sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
    def d(c: String) = col(c).cast("double")
    // DuckDB's wide-decimal -> DOUBLE cast double-rounds (raw int128 to
    // double, then the scale division); split each sum into an exact
    // integer part + exact scaled fraction so BOTH engines assemble the
    // identical double from two exactly-representable halves
    def ds(c: String, scale: Int): Column = {
      val f = floor(col(c))
      val mult = math.pow(10, scale).toLong
      f.cast("long").cast("double") +
        ((col(c) - f) * mult).cast("long").cast("double") / lit(mult.toDouble)
    }
    val nD = d("n")
    val mean = d("s1") / nD
    val s2d = ds("s2", 4); val s3d = ds("s3", 6); val s4d = ds("s4", 8)
    val m2 = s2d / nD - mean * mean
    val m3 = s3d / nD - lit(3.0) * mean * (s2d / nD) + lit(2.0) * mean * mean * mean
    val m4 = s4d / nD - lit(4.0) * mean * (s3d / nD) +
      lit(6.0) * mean * mean * (s2d / nD) - lit(3.0) * mean * mean * mean * mean
    m.select(col(groupCol), col("n"), mean.as("mean"),
      (m3 / sqrt(m2 * m2 * m2)).as("skewness"),
      (m4 / (m2 * m2) - lit(3.0)).as("kurtosis"))
  }

  /** Power-of-two (log₂-bucketed) histogram — the latency-histogram
    * shape: bucket = number of binary digits of the cents value, i.e.
    * ⌊log₂ v⌋ + 1, computed EXACTLY as `length(bin(v))` on both engines
    * (no float log anywhere); zero/negative land in bucket 0. Output
    * one row per occupied bucket with its [lo, hi] cents range. */
  def log2Histogram(df: DataFrame, valueCol: String): DataFrame = {
    val v = expr(centsSql(valueCol))
    df.select(when(v <= 0, lit(0)).otherwise(length(bin(v))).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        when(col("bucket") === 0, lit(0L))
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)")).as("lo_cents"),
        when(col("bucket") === 0, lit(0L))
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), bucket)") - 1).as("hi_cents"),
        col("n"))
  }

  /** 2-D Pareto frontier (skyline): rows not dominated on (minimize
    * `xCol`, maximize `yCol`) — the classic price/quality trade-off
    * query (SkyLine operator, Börzsönyi et al. 2001), and in a training
    * -data pipeline the cost/quality frontier over candidate sources.
    * Dominance: row r is OFF the frontier iff some r' has x' ≤ x, y' ≥ y
    * with one inequality strict.
    *
    * Shape that holds at 100 TB: never a self-join and never a window
    * over data rows. One groupBy collapses to the per-x-value maximum y
    * (bounded by the x value RANGE, not row count); the strict-prefix
    * running max runs over that collapsed histogram; the thresholds then
    * broadcast-join back to the rows. A row survives iff its y equals
    * its x-group's max AND beats every strictly-cheaper group's best —
    * duplicates of a frontier point all survive (neither strictly
    * dominates the other). */
  def paretoFront(df: DataFrame, xCol: String, yCol: String,
      idCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val xc = expr(centsSql(xCol)).as("xc")
    val rows = df.select(idCols.map(col) :+ xc :+ col(yCol).cast("long").as("yv"): _*)
    val hist = rows.groupBy(col("xc")).agg(max(col("yv")).as("max_y"))
    // collapsed-histogram global window — cardinality bounded by distinct values, never rows (see centsSql note)
    val wPrev = Window.orderBy(col("xc"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val thr = hist.withColumn("best_cheaper", max(col("max_y")).over(wPrev))
    rows.join(broadcast(thr), "xc")
      .filter(col("yv") === col("max_y") &&
        (col("best_cheaper").isNull || col("max_y") > col("best_cheaper")))
      .select(idCols.map(col) :+ col("xc") :+ col("yv"): _*)
  }

  /** Chi-squared contingency cells for independence testing between two
    * categorical columns (token-drift / source-vs-label dependence — the
    * "did the label distribution shift by source?" audit). Exactness
    * contract: the observed count o, row total r, column total c, and
    * grand total n are BIGINTs; the cell discrepancy n·o − r·c is
    * computed INTERNALLY in DECIMAL(38,0) (n·o alone overflows BIGINT
    * past ~3·10⁹ rows) and REPORTED as a double — one deterministic
    * round-to-nearest from the exact integer, identical cross-engine
    * (wide decimals must never reach a final schema: engines render
    * them differently, so downstream equality checks diverge). The
    * per-cell χ² term (n·o−r·c)²/(n·r·c) is then ONE fixed order of
    * double operations from those exact integers — bit-identical cross-
    * engine, and cells are few (|A|·|B|), so no ordered-sum trap exists:
    * consumers sum the handful of terms however they like.
    *
    * Shape: one groupBy(a,b) collapses the data; row/col/grand totals are
    * re-aggregations of the COLLAPSED cells (never a second data scan);
    * the joins run on the tiny cell frame. */
  def chi2Cells(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("o"))
    val rowT = cells.groupBy(col("a")).agg(sum(col("o")).as("r"))
    val colT = cells.groupBy(col("b")).agg(sum(col("o")).as("c"))
    val grand = cells.agg(sum(col("o")).as("n"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val j = cells.join(broadcast(rowT), "a").join(broadcast(colT), "b")
      .crossJoin(broadcast(grand))
      .withColumn("diff", dec(col("n")) * dec(col("o")) - dec(col("r")) * dec(col("c")))
    def d(c: Column) = c.cast("double")
    j.select(col("a"), col("b"), col("o"), col("r"), col("c"), col("n"),
      d(col("diff")).as("diff"),
      (d(col("diff")) * d(col("diff")) / (d(col("n")) * d(col("r")) * d(col("c"))))
        .as("term"))
  }

  /** Per-group winsorization: clamp a 2-decimal measure to its group's
    * [loPct, hiPct] percentile band — the outlier treatment a feature
    * pipeline applies before scaling (vs [[madOutliers]], which FLAGS;
    * winsorize REPAIRS). Thresholds are EXACT per-group order
    * statistics with the same deterministic rank rule as
    * [[exactQuantiles]] (k = ceil(n·p/100), value = k-th smallest), but
    * computed fully distributed: the rank probe runs as a cumulative
    * window over the collapsed (group, cents-value) histogram — bounded
    * by distinct values per group, never row count — so no sort or
    * collect of data rows anywhere. Output: one row per input row
    * (ids, group, v, lo, hi, v_wins) with v_wins = clamp(v, lo, hi). */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      loPct: Int, hiPct: Int, idCols: Seq[String]): DataFrame = {
    require(1 <= loPct && loPct < hiPct && hiPct <= 100,
      s"need 1 <= lo < hi <= 100: $loPct, $hiPct")
    import org.apache.spark.sql.expressions.Window
    val rows = df.select(
      idCols.map(col) :+ col(groupCol) :+ expr(centsSql(valueCol)).as("v"): _*)
    val hist = rows.groupBy(col(groupCol), col("v")).agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = hist.withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
    def thresholdAt(p: Int, name: String) =
      cum.filter(col("cum") * 100 >= col("n") * p)
        .groupBy(col(groupCol)).agg(min(col("v")).as(name))
    val thr = thresholdAt(loPct, "lo").join(thresholdAt(hiPct, "hi"), groupCol)
    rows.join(broadcast(thr), groupCol)
      .withColumn("v_wins", greatest(col("lo"), least(col("hi"), col("v"))))
      .select(idCols.map(col) :+ col(groupCol) :+ col("v") :+
        col("lo") :+ col("hi") :+ col("v_wins"): _*)
  }

  /** Per-group OLS trend over an integer x (day index, epoch week):
    * slope and intercept of least-squares y ~ x from the five exact
    * integer moments (n, Σx, Σy, Σxy, Σx²) — the volume-trend /
    * drift-direction readout next to [[correlationMatrix]]'s strength.
    * Every moment is an exact BIGINT ridden by one groupBy; slope =
    * (n·Σxy − Σx·Σy)/(n·Σx² − Σx²) with numerator/denominator exact in
    * DECIMAL(38,0) internally, REPORTED as doubles (wide decimals never
    * reach a final schema — engines render them differently), and the
    * slope/intercept each ONE fixed-order double division from the
    * exact decimals — bit-identical cross-engine. Degenerate
    * groups (a single distinct x) emit null slope/intercept. Output:
    * (group, n, slope_num, slope_den, slope, intercept). */
  def groupTrend(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    val m = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
      sum(x * y).as("sxy"), sum(x * x).as("sxx"))
    val num = dec(col("n")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy"))
    val den = dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))
    def d(c: Column) = c.cast("double")
    m.select(col(groupCol), col("n"), col("sx"), col("sy"),
        d(num).as("slope_num"), d(den).as("slope_den"),
        when(den === 0, lit(null).cast("double"))
          .otherwise(d(num) / d(den)).as("slope"))
      .withColumn("intercept",
        when(col("slope_den") === 0, lit(null).cast("double"))
          .otherwise((d(col("sy")) - col("slope") * d(col("sx"))) / d(col("n"))))
      .select(col(groupCol), col("n"), col("slope_num"), col("slope_den"),
        col("slope"), col("intercept"))
  }

  /** Cross-source contamination matrix: for every unordered source pair,
    * how many distinct documents (by content hash) appear in BOTH — the
    * first question asked when a "new" crawl source arrives ("is this
    * just a re-crawl of something we already have?"). Shape that holds
    * at 100 TB: project to distinct (hash, source) FIRST (collapses to
    * corpus-distinct cardinality, shuffled once on the hash), then a
    * self-equi-join on the hash whose per-key group is bounded by the
    * SOURCE COUNT (≤ tens), never document multiplicity — no hot keys
    * by construction. Output: (source_a, source_b, n_shared), a < b. */
  def sourceOverlapMatrix(docs: DataFrame): DataFrame = {
    val hs = docs.select(md5(col("text")).as("h"), col("source")).distinct()
    hs.as("a").join(hs.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Spearman rank correlation — the monotone-association reading next
    * to [[correlationMatrix]]'s linear one (robust to the heavy tails
    * and unit weirdness real telemetry has). Ranks are EXACT average
    * ranks kept integral by doubling: a value with `c` ties after
    * `cum − c` smaller rows has average rank (2·(cum−c) + c + 1)/2, so
    * r2 = 2·cum − c + 1 is an integer and ρ is scale-invariant under
    * the ×2. Each axis ranks over its COLLAPSED cents histogram
    * (bounded by distinct values, never rows) and the rank maps
    * broadcast back; five DECIMAL(38,0) moments ride one aggregate
    * INTERNALLY, with num/den_x/den_y REPORTED as doubles (wide
    * decimals never reach a final schema — engines render them
    * differently); ρ is ONE fixed order of double ops
    * (num / (√denx · √deny)) from the exact decimals — sqrt is
    * IEEE-correctly-rounded, so bit-identical cross-engine. Output one
    * row: (n, num, den_x, den_y, rho). */
  def spearmanCorr(df: DataFrame, xCol: String, yCol: String,
      rankMapWindowMaxDistinct: Long = DefaultRankMapWindowMaxDistinct): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = df.select(expr(centsSql(xCol)).as("x"), expr(centsSql(yCol)).as("y"))
    def rankMap(c: String) = {
      // The cumulative count over the value histogram is "collapsed" only
      // when the measure actually collapses — a 2-decimal price column
      // barely does (sf0.1 lineitem: 583 090 distinct cents values over
      // 600 000 rows), so an unconditional empty-partitionSpec window
      // here would be a data-sized single-partition sort in disguise.
      // The choice reads an EXACT count off the pinned histogram (the
      // canonicalAssignments-escape philosophy — never a Catalyst
      // estimate): bounded histograms keep the cheap single-partition
      // window; past the floor the rank distributes via
      // Ranks.globalPrefixSum (the q170/q187 machinery — measured ~2.8 s
      // slower at sf0.1, which is exactly the barrier+shuffle price that
      // only pays off once the histogram is genuinely data-sized).
      // b = exclusive prefix = cum − c, so r = 2·b + c + 1 is the same
      // doubled average rank in both branches, exactly.
      val hist0 = rows.select(col(c).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val distinctVals = hist0.count()
      // exact leaf cardinality for the plan (and the registry's
      // global-window gate, which accepts leaves with a known bound)
      val hist = org.apache.spark.sql.graftnative.PlanStats
        .withKnownRowCount(hist0, distinctVals)
      if (distinctVals <= rankMapWindowMaxDistinct) {
        val wCum = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        hist.withColumn("cum", sum(col("c")).over(wCum))
          .select(col("v").as(c), (lit(2) * col("cum") - col("c") + 1).as(s"r_$c"))
      } else
        Ranks.globalPrefixSum(hist, Seq(col("v")), col("c"), "b")
          .select(col("v").as(c), (lit(2) * col("b") + col("c") + 1).as(s"r_$c"))
    }
    def dec(c: Column) = c.cast("decimal(38,0)")
    val ranked = rows.join(broadcast(rankMap("x")), "x")
      .join(broadcast(rankMap("y")), "y")
    val m = ranked.agg(
      count(lit(1)).as("n"),
      sum(dec(col("r_x"))).as("sx"), sum(dec(col("r_y"))).as("sy"),
      sum(dec(col("r_x")) * dec(col("r_y"))).as("sxy"),
      sum(dec(col("r_x")) * dec(col("r_x"))).as("sxx"),
      sum(dec(col("r_y")) * dec(col("r_y"))).as("syy"))
    def d(c: Column) = c.cast("double")
    val num = dec(col("n")) * col("sxy") - col("sx") * col("sy")
    val denX = dec(col("n")) * col("sxx") - col("sx") * col("sx")
    val denY = dec(col("n")) * col("syy") - col("sy") * col("sy")
    m.select(col("n"),
        d(num).as("num"), d(denX).as("den_x"), d(denY).as("den_y"),
        when(denX === 0 || denY === 0, lit(null).cast("double"))
          .otherwise(d(num) / (sqrt(d(denX)) * sqrt(d(denY)))).as("rho"))
  }

  /** Per-group Gini concentration of a 2-decimal measure — the
    * "is this source's token budget dominated by a few whales?" audit
    * (mixture weighting and shard planning both read it). With values
    * ascending and 1-based ranks, G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx); ties
    * make Σi·xᵢ rank-assignment-invariant, so it folds over the
    * COLLAPSED per-group histogram: a value `v` with count `c` after
    * `b = cum − c` smaller rows occupies ranks b+1..b+c, contributing
    * v·(c·b + c·(c+1)/2) — doubled to 2Σix = Σ v·(2·c·b + c² + c) so
    * everything stays integral in DECIMAL(38,0) INTERNALLY; sum_v and
    * g_num are REPORTED as doubles (wide decimals never reach a final
    * schema) and the gini is one division from the exact decimals.
    * Output per group:
    * (group, n, sum_v, g_num = 2Σi·xᵢ − (n+1)·Σx, gini). */
  def giniConcentration(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def dec(c: Column) = c.cast("decimal(38,0)")
    val hist = df.select(col(groupCol).as("g"), expr(centsSql(valueCol)).as("v"))
      .filter(col("v") >= 0)
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val contrib = hist.withColumn("b", sum(col("c")).over(wCum) - col("c"))
      .select(col("g"), col("c"), col("v"),
        (dec(col("v")) * (dec(col("c")) * dec(col("b")) * 2 +
          dec(col("c")) * dec(col("c")) + dec(col("c")))).as("two_six"))
    val m = contrib.groupBy(col("g")).agg(
      sum(col("c")).as("n"),
      sum(dec(col("v")) * dec(col("c"))).as("sum_v"),
      sum(col("two_six")).as("two_sum_ix"))
    def d(c: Column) = c.cast("double")
    val gNum = col("two_sum_ix") - (dec(col("n")) + 1) * col("sum_v")
    m.select(col("g"), col("n"), d(col("sum_v")).as("sum_v"),
        d(gNum).as("g_num"),
        when(col("sum_v") === 0, lit(null).cast("double"))
          .otherwise(d(gNum) / (d(col("n")) * d(col("sum_v")))).as("gini"))
  }

  /** Cramér's V effect size on top of [[chi2Cells]] — "are these two
    * categorical columns actually associated, at what strength?" in one
    * number. The per-cell χ² terms are each ONE fixed order of double
    * ops from exact integers (bit-identical cross-engine), but a DOUBLE
    * sum over cells would be iteration-order-dependent — so each term
    * is scaled to parts-per-billion and TRUNCATED to BIGINT (both steps
    * IEEE-deterministic), making the sum an order-free integer. V then
    * is one fixed double expression from (χ²_ppb, n, min(r,c)−1). Note
    * the χ² sums OBSERVED cells ([[chi2Cells]] materializes the groupBy
    * frame): structural-zero cells contribute nothing — identical on
    * both engines, and dense categorical pairs populate every cell.
    * Output: (n, n_rows_cat, n_cols_cat, chi2_ppb, v). */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = chi2Cells(df, aCol, bCol)
    val m = cells.agg(
      max(col("n")).as("n"),
      countDistinct(col("a")).as("ra"),
      countDistinct(col("b")).as("cb"),
      sum(expr("CAST(term * 1e9 AS BIGINT)")).as("chi2_ppb"))
    def d(c: Column) = c.cast("double")
    m.select(col("n"), col("ra").as("n_rows_cat"), col("cb").as("n_cols_cat"),
        col("chi2_ppb"))
      .withColumn("v",
        // single-category axis ⇒ min(r,c)−1 = 0: V is undefined (the
        // division would be Inf/NaN, and engines disagree on rendering
        // double division-by-zero) — null like every sibling metric's
        // degenerate denominator
        when(least(col("n_rows_cat"), col("n_cols_cat")) <= 1,
          lit(null).cast("double"))
          .otherwise(sqrt(d(col("chi2_ppb")) / 1e9 /
            (d(col("n")) * d(least(col("n_rows_cat"), col("n_cols_cat")) - 1)))))
  }

  /** Per-group weighted median: the smallest value whose cumulative
    * weight reaches half the group's total (2·cum ≥ W, all integral) —
    * the robust center for weighted populations (docs weighted by token
    * count, lineitems by quantity). Folds over the collapsed
    * (group, value) histogram with per-group windows bounded by
    * distinct values. The weight is FLOORED to a long explicitly —
    * Spark's plain cast truncates toward zero while DuckDB's CAST
    * rounds half away from zero, so an implicit cast would silently
    * diverge cross-engine on fractional weights (the q196 oracle
    * mirrors the floor). Output: (group, total_w, wmedian). */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = df.select(col(groupCol).as("g"), expr(centsSql(valueCol)).as("v"),
        floor(col(weightCol)).cast("long").as("w"))
      .groupBy(col("g"), col("v")).agg(sum(col("w")).as("w"))
    val wCum = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // The group total joins in as a per-group aggregate (group-count
    // rows) instead of riding a second unbounded Window pass over the
    // sorted histogram (round 14, guide §2.4): the totals frame
    // broadcasts whenever groups are few (the planner's call —
    // UNhinted, so a high-cardinality groupCol falls back to a join
    // that reuses the window's (g) partitioning and (g, v) sort, adding
    // no exchange on the histogram side), and the whole-partition
    // re-scan the unbounded frame paid disappears. Same integral sums
    // either way (order-free long addition).
    val totals = hist.groupBy(col("g")).agg(sum(col("w")).as("tw"))
    hist.withColumn("cum", sum(col("w")).over(wCum))
      .join(totals, "g")
      .filter(col("cum") * 2 >= col("tw"))
      .groupBy(col("g")).agg(max(col("tw")).as("total_w"), min(col("v")).as("wmedian"))
  }

  /** Calibration curve for a scored binary decision: fixed-width score
    * buckets vs the observed positive rate — the reliability readout
    * run on every learned quality filter before its threshold ships.
    * The bucket is floor(score·bins) (floor of an IEEE product — exact
    * cross-engine); counts are integers; the rate is the only
    * division. Buckets are OPEN-ENDED floor buckets, not a [0,1]
    * partition: score == 1.0 lands in bucket `bins` (an off-the-end
    * 11th row for bins = 10) and negative scores produce negative
    * buckets — identical on both engines, and kept so the curve never
    * silently folds out-of-range scores into the boundary buckets.
    * Output: (bucket, n, n_pos, pos_rate). */
  def calibrationCurve(df: DataFrame, scoreCol: String, labelCol: String,
      bins: Int): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    df.select(floor(col(scoreCol) * bins).cast("long").as("bucket"),
        col(labelCol).cast("long").as("y"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
      .withColumn("pos_rate",
        col("n_pos").cast("double") / col("n").cast("double"))
  }

  /** Exact ROC AUC via the rank-sum identity AUC = U/(n₁·n₀) — the
    * threshold-free quality-filter metric, and the probability a random
    * positive outscores a random negative. Ranks are doubled average
    * ranks over the COLLAPSED score histogram (scores are bit-identical
    * doubles on both engines, so grouping on them is exact);
    * 2U = Σr₂(pos) − n₁(n₁+1) stays integral internally and u2 is
    * REPORTED as a double (wide decimals never reach a final schema);
    * the AUC is one double division. Output: (n_pos, n_neg, u2, auc). */
  def aucRankSum(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def dec(c: Column) = c.cast("decimal(38,0)")
    val h = df.select(col(scoreCol).as("v"), col(labelCol).cast("long").as("y"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("cpos"))
    // collapsed-histogram global window — cardinality bounded by distinct values, never rows (see centsSql note)
    val wCum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r2 = h.withColumn("cum", sum(col("c")).over(wCum))
      .select(col("c"), col("cpos"), (lit(2) * col("cum") - col("c") + 1).as("r2"))
    val m = r2.agg(
      sum(col("cpos")).as("n_pos"),
      sum(col("c") - col("cpos")).as("n_neg"),
      sum(dec(col("cpos")) * dec(col("r2"))).as("sum_r2_pos"))
    def d(c: Column) = c.cast("double")
    val u2 = col("sum_r2_pos") - dec(col("n_pos")) * (dec(col("n_pos")) + 1)
    m.select(col("n_pos"), col("n_neg"), d(u2).as("u2"),
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(null).cast("double"))
          .otherwise(d(u2) / (lit(2.0) * d(col("n_pos")) * d(col("n_neg")))).as("auc"))
  }

  /** Category-similarity matrix: cosine between category "behavior
    * vectors" over a shared entity axis (event types over users here;
    * items over baskets in the retail reading — the item-item
    * collaborative-filtering pass). Dot products ride a self-join on
    * the ENTITY, whose per-key group is bounded by the category count
    * (≤ tens) — no hot keys by construction; norms are one extra
    * aggregate of the same collapsed (entity, category, cnt) frame.
    * Counts are integers so dot/norms are exact BIGINTs; cosine is ONE
    * fixed order of double ops (dot / (√na · √nb)). Output per
    * unordered pair: (cat_a, cat_b, dot, norm_a, norm_b, cos). */
  def categoryCosine(df: DataFrame, entityCol: String,
      catCol: String): DataFrame = {
    val vec = df.groupBy(col(entityCol).as("e"), col(catCol).as("cat"))
      .agg(count(lit(1)).as("cnt"))
    val dots = vec.as("a").join(vec.as("b"),
        col("a.e") === col("b.e") && col("a.cat") < col("b.cat"))
      .groupBy(col("a.cat").as("cat_a"), col("b.cat").as("cat_b"))
      .agg(sum(col("a.cnt") * col("b.cnt")).as("dot"))
    val norms = vec.groupBy(col("cat")).agg(sum(col("cnt") * col("cnt")).as("nrm"))
    def d(c: Column) = c.cast("double")
    dots.join(broadcast(norms.select(col("cat").as("cat_a"), col("nrm").as("norm_a"))), "cat_a")
      .join(broadcast(norms.select(col("cat").as("cat_b"), col("nrm").as("norm_b"))), "cat_b")
      .select(col("cat_a"), col("cat_b"), col("dot"), col("norm_a"), col("norm_b"),
        (d(col("dot")) / (sqrt(d(col("norm_a"))) * sqrt(d(col("norm_b"))))).as("cos"))
  }
}
