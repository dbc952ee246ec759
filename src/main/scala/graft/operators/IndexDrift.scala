package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** The shared drift-census core behind every persisted index's
  * staleness signal — cell ([[Similarity.cellDriftReport]]), text band
  * ([[Dedup.bandDriftReport]]) and embedding sign-band
  * ([[Similarity.embDriftReport]]) tiers all compare LIVE per-partition
  * populations against a BUILD-time census with share-relative
  * thresholds, and the arithmetic is identical; only what a
  * "partition" is differs (a learned cell vs a fixed hash partition of
  * the routing-key space). One implementation keeps the three tiers'
  * thresholds and semantics from drifting apart.
  *
  * Share-relativity is the design invariant: plain corpus growth with
  * an UNCHANGED distribution multiplies every partition count by the
  * same factor, so shares — and therefore TVD and growth — are
  * untouched; rebuild signals fire on DRIFT, never on size. */
object IndexDrift {

  /** Scalar drift statistics of one persisted index — see [[stats]]. */
  final case class Stats(tvd: Double, maxGrowth: Double, nBuild: Long, nLive: Long) {

    /** The rebuild verdict: `tvd ≥ tvdThreshold` (that share of live
      * probe mass routes through partitions the build did not price) or
      * `maxGrowth ≥ maxGrowthThreshold` (one partition's share inflated
      * that far). Plain growth with an unchanged distribution trips
      * neither. */
    def stale(tvdThreshold: Double = 0.10, maxGrowthThreshold: Double = 4.0): Boolean =
      tvd >= tvdThreshold || maxGrowth >= maxGrowthThreshold
  }

  /** Fixed partition count for the key-space censuses (band / emb-band
    * tiers; the cell tier's partitions are the learned cells
    * themselves). Bounded — the census is census-sized, never
    * corpus-sized — yet far above any band count, so a drifted stream
    * concentrating into its own few key regions always registers. */
  val CensusBuckets: Int = 1024

  /** The census partition of one routing key: a FIXED hash, so the
    * census distribution is a property of the data alone (identical
    * input → identical key → identical partition — what makes shares
    * invariant under same-distribution growth). */
  def censusBucket(key: Column): Column =
    pmod(xxhash64(key), lit(CensusBuckets.toLong))

  /** Per-partition (partCol, n_build, n_live) of `live` (partCol,
    * n_live) against `build` (partCol, n_build), in partCol order: ONE
    * aggregation over their union, so a partition present on one side
    * only counts zero on the other (tombstone rewrites can empty either
    * side of any partition). Either side may repeat a partition; the
    * output is bounded by the partition count, so collecting it is
    * cheap. */
  private def counts(live: DataFrame, build: DataFrame, partCol: String): DataFrame =
    live.select(col(partCol), lit(0L).as("n_build"), col("n_live").cast("long").as("n_live"))
      .unionByName(build.select(col(partCol), col("n_build").cast("long").as("n_build"),
        lit(0L).as("n_live")))
      .groupBy(col(partCol))
      .agg(sum(col("n_build")).as("n_build"), sum(col("n_live")).as("n_live"))
      // census-bounded: one task sorts it, no range-partitioning job
      .coalesce(1).sortWithinPartitions(col(partCol))

  /** The drift arithmetic, driver-side over per-partition (n_build,
    * n_live) counts: (build_share, live_share, growth) per partition, in
    * input order. Shares are counts over their side's total (floored at
    * 1). The growth denominator is floored at the share ONE build row
    * would have had, not at 1e-12: the fixed-1024-partition key-space
    * censuses (band / emb-band tiers) have empty-at-build partitions
    * whenever the corpus holds < ~7k distinct routing keys, and with a
    * raw-zero denominator a SINGLE benign novel document landing in one
    * read growth ~1e12 and flagged the whole index STALE on every ingest
    * (round-12 ADVICE). Under the floor a first arrival reads
    * live_share·nBuild ≈ nBuild/nLive ≈ 1 (benign), while a drifted
    * stream CONCENTRATING into an empty partition still reads
    * share·nBuild ≫ the ≥4× threshold. */
  private def shares(counts: Seq[(Long, Long)]): Seq[(Double, Double, Double)] = {
    val nBuild = counts.map(_._1).sum
    val nLive = counts.map(_._2).sum
    val floor = 1.0 / math.max(nBuild.toDouble, 1.0)
    counts.map { case (b, l) =>
      val bs = b.toDouble / math.max(nBuild, 1L)
      val ls = l.toDouble / math.max(nLive, 1L)
      (bs, ls, ls / math.max(bs, floor))
    }
  }

  /** Build-vs-live drift report. `live` is (partCol, n_live), `build`
    * (partCol, n_build); either may repeat a partition. Output: (partCol,
    * n_build, n_live, build_share, live_share, growth), ordered by
    * partCol — a local frame over [[counts]] and [[shares]], bounded by
    * the partition count. */
  def report(live: DataFrame, build: DataFrame, partCol: String): DataFrame = {
    val frame = counts(live, build, partCol)
    val rows = frame.collect()
    val sh = shares(rows.toSeq.map(r => (r.getLong(1), r.getLong(2))))
    val schema = StructType(Seq(frame.schema(partCol)) ++
      Seq("n_build", "n_live").map(StructField(_, LongType, nullable = false)) ++
      Seq("build_share", "live_share", "growth").map(StructField(_, DoubleType, nullable = false)))
    val out = rows.toSeq.zip(sh).map { case (r, (bs, ls, g)) =>
      Row(r.get(0), r.getLong(1), r.getLong(2), bs, ls, g)
    }
    live.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }

  // ---- measured drift PRICES (round-13 DriftSweep → round-14 surfacing) ----

  /** One row of the committed drift-price sweep (`graft.DriftSweep` →
    * `index_drift_scales.json`): drift injected at rate `lambda` (drifted
    * rows appended / base corpus size), the census's measured (tvd,
    * maxGrowth) at that rate, the probe's candidate rows per probe doc,
    * and — cell tier only — probe recall ON THE DRIFTED PROBES against
    * brute-force truth under the STALE quantizer (a rebuilt quantizer
    * measured 1.000 at every rate). */
  final case class PriceRow(lambda: Double, tvd: Double, maxGrowth: Double,
      candPerProbe: Double, staleRecall: Double)

  /** The committed sweep rows, verbatim from `index_drift_scales.json`
    * (sf0.1-derived corpora; the same-distribution control rows are
    * excluded — they price at tvd≈0 with recall parity by design). These
    * are MEASURED constants: re-run `graft.DriftSweep` and update both
    * the artifact and this table together. */
  val CellPrices: Seq[PriceRow] = Seq(
    PriceRow(0.00, 0.0000, 1.00, 998.9, 1.0000),
    PriceRow(0.05, 0.0273, 1.12, 1128.3, 0.9604),
    PriceRow(0.10, 0.0493, 1.22, 1254.5, 0.9673),
    PriceRow(0.20, 0.0915, 1.37, 1511.8, 0.9728),
    PriceRow(0.40, 0.1585, 1.66, 2034.0, 0.9743))
  val BandPrices: Seq[PriceRow] = Seq(
    PriceRow(0.00, 0.0000, 1.00, 0.0, 1.0),
    PriceRow(0.05, 0.0464, 19.27, 746.8, 1.0),
    PriceRow(0.10, 0.0886, 35.87, 1500.8, 1.0),
    PriceRow(0.20, 0.1624, 64.94, 3000.0, 1.0),
    PriceRow(0.40, 0.2784, 110.60, 6000.0, 1.0))
  val EmbPrices: Seq[PriceRow] = Seq(
    PriceRow(0.00, 0.0000, 1.00, 415.1, 1.0),
    PriceRow(0.05, 0.0224, 3.81, 451.1, 1.0),
    PriceRow(0.10, 0.0367, 4.55, 481.9, 1.0),
    PriceRow(0.20, 0.0593, 5.83, 540.4, 1.0),
    PriceRow(0.40, 0.0954, 9.29, 648.0, 1.0))

  /** Clamped piecewise-linear interpolation over the sweep's measured
    * points — a reading between two sweep rates prices between them; a
    * reading beyond the swept range prices at the nearest endpoint
    * (the sweep's range, not a model, is the evidence). */
  private def interp(x: Double, xs: Seq[Double], ys: Seq[Double]): Double =
    if (x <= xs.head) ys.head
    else if (x >= xs.last) ys.last
    else {
      val i = xs.lastIndexWhere(_ <= x)
      val t = (x - xs(i)) / (xs(i + 1) - xs(i))
      ys(i) + t * (ys(i + 1) - ys(i))
    }

  /** The measured operational meaning of a drift reading (round-13
    * verdict #4: the sweep priced the thresholds but `index-status`
    * still printed only tvd/growth/verdict — the price belongs where
    * operators look). `human` is the status-line suffix; `jsonFields`
    * are extra key:value pairs for the `--json` form. */
  final case class DriftPrice(human: String, jsonFields: String)

  /** Price a (tvd, maxGrowth) reading for tier ∈ band|cell|emb.
    *
    *  - cell: the learned quantizer is what drift degrades — recall on
    *    drifted probes under the stale quantizer (≈3.5–4% loss across
    *    all swept rates, vs 1.000 rebuilt), and the aggregate loss =
    *    drifted-share × that (share interpolated from tvd via the
    *    sweep's measured tvd(λ) curve).
    *  - band/emb: keys are content hashes, so recall is structurally
    *    unaffected — the price is hot-bucket candidate inflation per
    *    probe doc at the measured growth.
    */
  def price(tier: String, tvd: Double, maxGrowth: Double): DriftPrice = tier match {
    case "cell" =>
      val lossPct = (1.0 - interp(tvd, CellPrices.map(_.tvd), CellPrices.map(_.staleRecall))) * 100.0
      val lambdaHat = interp(tvd, CellPrices.map(_.tvd), CellPrices.map(_.lambda))
      val aggPct = lambdaHat * lossPct
      DriftPrice(
        f"stale quantizer costs ≈ $lossPct%.1f%% recall on drifted probes " +
          f"(≈ $aggPct%.2f%% aggregate at this tvd; rebuilt = 1.000) [index_drift_scales.json]",
        s""""price_recall_loss_drifted_pct":${graft.Json.num(lossPct, 2)},""" +
          s""""price_recall_loss_aggregate_pct":${graft.Json.num(aggPct, 3)},""" +
          s""""price_source":"index_drift_scales.json"""")
    case t =>
      val rows = if (t == "band") BandPrices else EmbPrices
      val cand = interp(maxGrowth, rows.map(_.maxGrowth), rows.map(_.candPerProbe))
      val clean = rows.head.candPerProbe
      DriftPrice(
        f"probe cost at this growth ≈ $cand%.0f candidates/probe " +
          f"(clean baseline $clean%.0f) [index_drift_scales.json]",
        s""""price_cand_per_probe":${graft.Json.num(cand, 1)},""" +
          s""""price_cand_per_probe_clean":${graft.Json.num(clean, 1)},""" +
          s""""price_source":"index_drift_scales.json"""")
  }

  /** (tvd, maxGrowth, nBuild, nLive) of a [[report]] frame, driver-side
    * over its census-bounded counts. tvd = ½·Σ|live − build| share (the
    * tightest bound on how far ANY per-partition cost model is off);
    * maxGrowth = the hottest partition's share inflation (the skew form —
    * one region absorbing a hot stream while TVD stays low); 0 for no
    * partitions. */
  def stats(rep: DataFrame): (Double, Double, Long, Long) = {
    val counts = rep.select(col("n_build"), col("n_live")).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
    val sh = shares(counts)
    (sh.map { case (bs, ls, _) => math.abs(ls - bs) }.sum / 2.0,
      sh.map(_._3).maxOption.getOrElse(0.0), counts.map(_._1).sum, counts.map(_._2).sum)
  }
}
