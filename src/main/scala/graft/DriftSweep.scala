package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** Prices the index-drift staleness thresholds (round-12 verdict #6):
  * `tvd ≥ 0.10` / `maxGrowth ≥ 4` were asserted, not measured — no
  * committed artifact showed what a just-under-threshold drift actually
  * COSTS. This sweep injects graded drift (a drifted stream of λ·n rows
  * appended to an index built on the base corpus), reads the census's
  * (tvd, maxGrowth) at each λ, and measures the quantity staleness
  * actually harms per tier:
  *
  *   - CELL tier (learned quantizer): probe RECALL vs brute-force
  *     recompute truth, stale quantizer vs a REBUILT one (what the flag
  *     recommends), plus the probed-cell population per probe (the cost
  *     face of the same drift — a quantizer that did not shape cells
  *     for the drifted region both splits near-dup pairs across
  *     never-joined cells and lets hot cells absorb the stream).
  *   - BAND / EMB-BAND tiers (content-hash keys): probe COST only. The
  *     keys are data-independent, so recall is structurally unaffected
  *     by drift — what inflates is the hot-bucket candidate join (the
  *     cost the build census priced). candidates-per-probe-doc vs the
  *     λ=0 level is the price curve; the operational response to the
  *     flag is re-banding/re-pricing, not re-keying.
  *
  * Drifted streams are NOVEL + self-similar by construction (the
  * realistic arrival: a new template/domain with internal near-dups):
  * embeddings come in pseudo-random positive-quadrant pair clusters far
  * from the base distribution (each even/odd id pair is a near-dup at
  * cos ≥ 0.999; cross-pair cos ~0.85 < τ); documents are one template
  * in 40 word-variants. A same-distribution control (the base corpus
  * re-appended under new ids) rides along for the cell tier and must
  * price at ~zero tvd with recall parity — the share-relative design
  * invariant, measured rather than asserted.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> SPARK_GRAFT_DRIFT_TIERS=cell,band,emb
  *        SPARK_GRAFT_DRIFT_LAMBDAS=0.05,0.1,0.2,0.4 runMain graft.DriftSweep
  * One JSON line per (tier, λ); index_drift_scales.json is the artifact
  * SCALING.md's threshold table is authored from. */
object DriftSweep {

  private val CosTau = 0.9

  /** Drifted embeddings for ids [from, until): id pair 2g/2g+1 shares a
    * pseudo-random positive direction (×8 — far outside the base
    * distribution) plus per-id noise (`salt` varies it, so a probe
    * built with another salt is a near-dup of, never a copy of, the
    * indexed member). Fully deterministic, sequential ids. */
  private def driftedEmb(spark: SparkSession, from: Long, until: Long,
      idShift: Long, salt: Int): DataFrame =
    spark.range(from, until).select((col("id") + lit(idShift)).as("vec_id"),
      expr(s"""transform(sequence(0, 63), j -> CAST(
              |  (pmod(hash(CAST(id DIV 2 AS INT) * 7 + 3, j), 1000) / 1000.0 + 0.2) * 8.0
              |  + pmod(hash(CAST(id AS INT), j, $salt), 97) / 1000.0
              |  AS FLOAT))""".stripMargin).as("embedding"))

  /** Drifted documents for ids [from, until): one template in 40
    * word-variants — shared shingles, hot band buckets, novel corpus. */
  private def driftedDocs(spark: SparkSession, from: Long, until: Long,
      idShift: Long): DataFrame =
    spark.range(from, until).select(
      (col("id") + lit(idShift)).as("doc_id"),
      concat(lit("click here to accept all cookies and continue to the "),
        lit("site variant "), (col("id") % 40).cast("string"),
        lit(" thank you for visiting our page today")).as("text"),
      lit("web").as("source"))

  /** Exact cos ≥ τ truth pairs between a probe batch and an indexed
    * vector set — the brute-force recompute recall is measured against
    * (bounded probe side broadcasts; one pass over the index rows). */
  private def truthPairs(probe: DataFrame, indexed: DataFrame): DataFrame = {
    def norm(df: DataFrame, id: String, e: String, n: String) =
      df.select(col("vec_id").as(id), col("embedding").as(e),
        sqrt(Similarity.fdot(col("embedding"), col("embedding"))).as(n))
    norm(probe, "q_id", "q_e", "q_n").hint("broadcast")
      .join(norm(indexed, "o_id", "o_e", "o_n"), col("q_id") =!= col("o_id"))
      .filter(Similarity.fdot(col("q_e"), col("o_e"))
        / (col("q_n") * col("o_n")) >= CosTau)
      .select(col("q_id"), col("o_id"))
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tiers = sys.env.getOrElse("SPARK_GRAFT_DRIFT_TIERS", "cell,band,emb")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val lambdas = sys.env.getOrElse("SPARK_GRAFT_DRIFT_LAMBDAS", "0.05,0.1,0.2,0.4")
      .split(",").map(_.trim.toDouble).toSeq.sorted

    val warehouse = java.nio.file.Files.createTempDirectory("graft-driftsweep").toString
    val spark = Sessions.local("graft-drift-sweep",
      extra = Seq("spark.sql.warehouse.dir" -> warehouse))

    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    def emit(row: String): Unit = { rows += row; println(row) }

    if (tiers.contains("cell")) runCell(spark, dir, lambdas, emit)
    if (tiers.contains("band")) runBand(spark, dir, lambdas, emit)
    if (tiers.contains("emb")) runEmb(spark, dir, lambdas, emit)

    java.nio.file.Files.write(java.nio.file.Paths.get("index_drift_scales.json"),
      rows.mkString("[", ",\n", "]\n").getBytes("UTF-8"))
    spark.stop()
  }

  /** CELL tier: stale vs rebuilt probe recall, plus probed-cell
    * population, at each drift level. */
  private def runCell(spark: SparkSession, dir: String, lambdas: Seq[Double],
      emit: String => Unit): Unit = {
    val base = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val n = base.count()
    // 500 probes, one per drifted pair-group (even ids; salt differs
    // from the indexed stream so probes are near-dups, never copies)
    val probe = driftedEmb(spark, 0, 1000, 70000000L, salt = 9)
      .filter(pmod(col("vec_id"), lit(2)) === 0).localCheckpoint()

    def cleanupIdx(name: String): Unit =
      Seq(s"${name}_ivfcells", s"${name}_ivfcentroids", s"${name}_ivfcensus",
        s"${name}_ivfcoarse").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

    def run(label: Double, control: Boolean): Unit = {
      val s = Similarity.cellDriftStats(spark, "dsc")
      val flagged = Similarity.cellIndexStale(spark, "dsc")
      val indexed = graft.operators.Bucketing
        .readBucketed(spark, "dsc_ivfcells")
        .select(col("vec_id"), col("embedding")).dropDuplicates("vec_id")
        .localCheckpoint()
      val truth = truthPairs(probe, indexed).count()
      val fine = Similarity.readCellCentroids(spark, "dsc")
      val staleFound = Similarity
        .ivfIndexProbeEdges(spark, probe, "dsc", fine, CosTau)
        .select("id_a", "id_b").distinct().count()
      // probe COST: population of the cells each probe joins
      val pop = graft.operators.Bucketing.readBucketed(spark, "dsc_ivfcells")
        .groupBy("cell").agg(count(lit(1)).as("c"))
      val candRows = probe.select(explode(
          org.apache.spark.sql.graftnative.VectorExpressions.nearestCells(
            col("embedding"), fine, 2)).as("cell"))
        .join(pop, "cell").agg(sum(col("c"))).head().getLong(0)
      // rebuild: retrain the quantizer on base ∪ drift (what the flag
      // recommends), probe the same batch
      cleanupIdx("dsc2")
      Similarity.writeCellIndex(indexed, "dsc2")
      val fine2 = Similarity.readCellCentroids(spark, "dsc2")
      val rebuiltFound = Similarity
        .ivfIndexProbeEdges(spark, probe, "dsc2", fine2, CosTau)
        .select("id_a", "id_b").distinct().count()
      cleanupIdx("dsc2")
      emit(s"""{"tier":"cell","lambda":${Json.num(label, 3)},"control":$control,""" +
        s""""tvd":${Json.num(s.tvd, 4)},"max_growth":${Json.num(s.maxGrowth, 2)},""" +
        s""""flagged":$flagged,"n_truth":$truth,""" +
        s""""cand_per_probe":${Json.num(candRows / 500.0, 1)},""" +
        s""""stale_recall":${Json.num(if (truth == 0) 1.0 else staleFound.toDouble / truth, 4)},""" +
        s""""rebuilt_recall":${Json.num(if (truth == 0) 1.0 else rebuiltFound.toDouble / truth, 4)}}""")
    }

    cleanupIdx("dsc")
    Similarity.writeCellIndex(base, "dsc")
    run(0.0, control = false) // the λ=0 reference level
    var appended = 0L
    for (lambda <- lambdas) {
      val m = (n * lambda).toLong.max(1L)
      Similarity.appendToCellIndex(spark,
        driftedEmb(spark, appended, m, 10000000L, salt = 1), "dsc")
      appended = m
      run(lambda, control = false)
    }
    // same-distribution control on a FRESH base index: the base corpus
    // re-appended under new ids — tvd ~0, no flag, recall parity
    cleanupIdx("dsc")
    Similarity.writeCellIndex(base, "dsc")
    Similarity.appendToCellIndex(spark,
      base.select((col("vec_id") + 90000000L).as("vec_id"), col("embedding")), "dsc")
    run(1.0, control = true)
    cleanupIdx("dsc")
  }

  /** BAND tier: hot-bucket candidate inflation at each drift level. */
  private def runBand(spark: SparkSession, dir: String, lambdas: Seq[Double],
      emit: String => Unit): Unit = {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source")).localCheckpoint()
    val n = base.count()
    val probeDocs = driftedDocs(spark, 0, 200, 50000000L).localCheckpoint()

    def cleanupIdx(): Unit =
      Seq("dsb_bands", "dsb_sets", "dsb_bandcensus")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    cleanupIdx()
    Dedup.writeBandIndex(base, "dsb")

    def measure(lambda: Double): Unit = {
      val s = Dedup.bandDriftStats(spark, "dsb")
      val flagged = Dedup.bandIndexStale(spark, "dsb")
      val cand = Dedup.indexedBandJoin(spark, probeDocs, "dsb").count()
      emit(s"""{"tier":"band","lambda":${Json.num(lambda, 3)},"control":false,""" +
        s""""tvd":${Json.num(s.tvd, 4)},"max_growth":${Json.num(s.maxGrowth, 2)},""" +
        s""""flagged":$flagged,"cand_per_probe":${Json.num(cand / 200.0, 1)}}""")
    }
    measure(0.0)
    var appended = 0L
    for (lambda <- lambdas) {
      val m = (n * lambda).toLong.max(1L)
      Dedup.appendToBandIndex(spark,
        driftedDocs(spark, appended, m, 10000000L), "dsb")
      appended = m
      measure(lambda)
    }
    cleanupIdx()
  }

  /** EMB-BAND tier: same cost curve over the sign-band key space. */
  private def runEmb(spark: SparkSession, dir: String, lambdas: Seq[Double],
      emit: String => Unit): Unit = {
    val base = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val n = base.count()
    val probe = driftedEmb(spark, 0, 200, 60000000L, salt = 9).localCheckpoint()

    def cleanupIdx(): Unit =
      Seq("dse_embbands", "dse_embvecs", "dse_embcensus")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    cleanupIdx()
    Similarity.writeEmbIndex(base, "dse")

    def measure(lambda: Double): Unit = {
      val s = Similarity.embDriftStats(spark, "dse")
      val flagged = Similarity.embIndexStale(spark, "dse")
      val cand = Similarity.embIndexJoin(spark, probe, "dse").count()
      emit(s"""{"tier":"emb","lambda":${Json.num(lambda, 3)},"control":false,""" +
        s""""tvd":${Json.num(s.tvd, 4)},"max_growth":${Json.num(s.maxGrowth, 2)},""" +
        s""""flagged":$flagged,"cand_per_probe":${Json.num(cand / 200.0, 1)}}""")
    }
    measure(0.0)
    var appended = 0L
    for (lambda <- lambdas) {
      val m = (n * lambda).toLong.max(1L)
      Similarity.appendToEmbIndex(spark,
        driftedEmb(spark, appended, m, 10000000L, salt = 1), "dse")
      appended = m
      measure(lambda)
    }
    cleanupIdx()
  }
}
