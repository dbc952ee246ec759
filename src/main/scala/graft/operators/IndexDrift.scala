package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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

  /** Build-vs-live drift report. `live` is (partCol, n_live), `build`
    * (partCol, n_build); both bounded (≤ partition count). Output:
    * (partCol, n_build, n_live, build_share, live_share, growth),
    * ordered by partCol. Full outer: tombstone rewrites can empty
    * either side of any partition. */
  def report(live: DataFrame, build: DataFrame, partCol: String): DataFrame = {
    val joined = live.join(build, Seq(partCol), "full_outer")
      .select(col(partCol),
        coalesce(col("n_build"), lit(0L)).as("n_build"),
        coalesce(col("n_live"), lit(0L)).as("n_live"))
    // bounded single-partition window: ≤ CensusBuckets (or kCells) rows
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    joined
      .withColumn("build_share",
        col("n_build") / greatest(sum(col("n_build")).over(w), lit(1L)))
      .withColumn("live_share",
        col("n_live") / greatest(sum(col("n_live")).over(w), lit(1L)))
      // growth denominator floored at the share ONE build row would have
      // had, not at 1e-12: the fixed-1024-partition key-space censuses
      // (band / emb-band tiers) have empty-at-build partitions whenever
      // the corpus holds < ~7k distinct routing keys, and with a raw-zero
      // denominator a SINGLE benign novel document landing in one read
      // growth ~1e12 and flagged the whole index STALE on every ingest
      // (round-12 ADVICE). Under the floor a first arrival reads
      // live_share·nBuild ≈ nBuild/nLive ≈ 1 (benign), while a drifted
      // stream CONCENTRATING into an empty partition still reads
      // share·nBuild ≫ the ≥4× threshold.
      .withColumn("growth",
        col("live_share") / greatest(col("build_share"),
          lit(1.0) / greatest(sum(col("n_build")).over(w).cast("double"), lit(1.0))))
      .orderBy(col(partCol))
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

  /** (tvd, maxGrowth, nBuild, nLive) over a [[report]] frame —
    * driver-side on census-bounded rows. tvd = ½·Σ|live − build| share
    * (the tightest bound on how far ANY per-partition cost model is
    * off); maxGrowth = the hottest partition's share inflation (the
    * skew form — one region absorbing a hot stream while TVD stays
    * low). */
  def stats(rep: DataFrame): (Double, Double, Long, Long) = {
    val r = rep
      .agg((sum(abs(col("live_share") - col("build_share"))) / 2.0).as("tvd"),
        max(col("growth")).as("mg"),
        sum(col("n_build")).as("nb"), sum(col("n_live")).as("nl"))
      .head()
    (r.getDouble(0), r.getDouble(1), r.getLong(2), r.getLong(3))
  }
}
