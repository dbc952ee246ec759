package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.operators.{Analysis, KMeans, PersistedIndex}
import graft.sources.{AssignmentIO, TweetIngest}

/** Command-line entry points mirroring the reference's five mains, so a
  * user of the reference can switch 1:1 (SURVEY §3, §7.1 `cli.scala`):
  *
  *   ingest   <csvIn> <featuresOut>              — kmeans.main (§3.1)
  *   cluster  <features> <k> <outDir> [opts]     — Cluster{,2,4,5}.main (§3.2),
  *                                                 k parameterized instead of cloned
  *   analyze  <features> <assignments> <outDir>  — Analysis.main (§3.3)
  *   distance <features> <assignments> <centroidIds> <outDir> — distanceCal.main
  *   sample   <features> <k> <seed> <outDir>     — random.main
  *
  * cluster opts: --seeds id,id,..  --strategy medoid|mean|sampled:N
  *               --weight W  --limit L  --max-iter N
  * Defaults reproduce the reference run: weight 0.8 (`Cluster.java:38-41`),
  * limit 1.5 (`Cluster.java:26`), exact medoid, reference seeds for
  * k ∈ {2,3,4,5} (`Cluster*.java` seed blocks) when --seeds is absent.
  */
object Cli {

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(s"graft-${args.headOption.getOrElse("help")}")
    try run(spark, args.toList)
    finally spark.stop()
  }

  private[graft] def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "ingest" :: csvIn :: featuresOut :: Nil =>
      val features = TweetIngest.ingest(spark, csvIn)
      TweetIngest.writeFeatures(features, featuresOut)
      println(s"[graft] ingest: wrote ${spark.read.parquet(featuresOut).count()} feature rows to $featuresOut")

    case "cluster" :: featuresPath :: IntArg(k) :: outDir :: opts =>
      val o = parseOpts(opts)
      val features = TweetIngest.readFeatures(spark, featuresPath)
      val seeds = o.get("seeds").map(_.split(",").map(_.trim.toLong).toSeq)
        .orElse(Some(Seeds.forK(k)).filter(_.nonEmpty))
        .getOrElse(KMeans.deterministicSeeds(features.toDF(), k))
      val strategy = o.getOrElse("strategy", "medoid") match {
        case "medoid" => Medoid
        case "mean" => Mean
        case s if s.startsWith("sampled:") => SampledMedoid(s.stripPrefix("sampled:").toInt)
        case s => sys.error(s"unknown strategy: $s (medoid | mean | sampled:N)")
      }
      val cfg = KMeansConfig(k = k, seeds = seeds,
        hashtagWeight = o.get("weight").map(_.toDouble).getOrElse(0.8),
        convergenceLimit = o.get("limit").map(_.toDouble).getOrElse(1.5),
        maxIterations = o.get("max-iter").map(_.toInt).getOrElse(20),
        strategy = strategy)
      val result = KMeans.run(features, cfg)
      AssignmentIO.write(result.assignments, s"$outDir/assignments")
      val centroidLines = result.centroids.zipWithIndex
        .map { case (c, i) => s"$i\t${c.id}" }
      writeText(spark, s"$outDir/centroids", centroidLines)
      println(s"[graft] cluster: k=$k iterations=${result.iterations} converged=${result.converged}")
      println(result.centroids.zipWithIndex
        .map { case (c, i) => s"[graft]   centroid $i: id=${c.id} time=${c.time} tags=${c.numOfHashtags} lang=${c.language} video=${c.hasVideo}" }
        .mkString("\n"))

    case "analyze" :: featuresPath :: assignPath :: outDir :: Nil =>
      val enriched = Analysis.enrich(
        AssignmentIO.read(spark, assignPath),
        TweetIngest.readFeatures(spark, featuresPath).toDF())
      writeTsv(Analysis.groupCount(enriched), s"$outDir/group_count")
      writeTsv(Analysis.clusterAverages(enriched), s"$outDir/cluster_averages")
      println(s"[graft] analyze: wrote group_count + cluster_averages to $outDir")

    case "distance" :: featuresPath :: assignPath :: centroidIds :: outDir :: Nil =>
      val features = TweetIngest.readFeatures(spark, featuresPath)
      val ids = centroidIds.split(",").map(_.trim.toLong).toSeq
      val centroids = KMeans.resolveCentroids(features, ids).zipWithIndex
        .map { case (f, i) => i -> f }.toMap
      val enriched = Analysis.enrich(AssignmentIO.read(spark, assignPath), features.toDF())
      writeTsv(Analysis.clusterSse(enriched, centroids), s"$outDir/sse")
      println(s"[graft] distance: wrote per-cluster SSE to $outDir/sse")

    case "sample" :: featuresPath :: IntArg(k) :: seed :: outDir :: Nil =>
      val features = TweetIngest.readFeatures(spark, featuresPath)
      val ids = KMeans.randomSeeds(features.toDF(), k, fraction = 0.6, seed = seed.toLong)
      writeText(spark, outDir, ids.map(_.toString))
      println(s"[graft] sample: ${ids.size} seed ids -> $outDir")

    // beyond-reference: the training-data curation pipeline over a parquet
    // corpus with (doc_id, text, source) — exact dedup + LSH near-dup
    // canonicalization, survivors written back as parquet
    case "dedup" :: corpusPath :: outDir :: opts =>
      val o = parseOpts(opts)
      val tau = o.get("jaccard").map(_.toDouble).getOrElse(0.5)
      // --ensemble true: all three candidate families (MinHash/LSH +
      // SimHash + winnow) through the shared exact-Jaccard gate, instead
      // of LSH alone — higher recall on reordered/locally-edited dups
      val ensemble = o.get("ensemble").contains("true")
      // --autotune true: run the (numHashes, rowsPerBand) sweep against
      // the exact-Jaccard truth first and dedup with the chosen point —
      // the automated form of the q162/q205 parameter-picking loop
      val tuned = o.get("autotune").contains("true")
      require(!(ensemble && tuned),
        "dedup: --autotune tunes the LSH-only path; --ensemble bands with " +
          "fixed 16x4 parameters, so the two cannot be combined")
      val corpus = spark.read.parquet(corpusPath)
      val (nh, rpb) =
        if (tuned) {
          val p = graft.operators.Dedup.chooseLshParameters(corpus, minJaccard = tau,
            budgetX = o.get("budget-x").map(_.toDouble).getOrElse(3.0))
          println(s"[graft] dedup autotune: chose numHashes=${p._1} rowsPerBand=${p._2}")
          p
        } else (16, 4)
      val kept =
        if (ensemble) graft.operators.Dedup.ensembleDedupApply(corpus,
          minJaccard = tau, simhashPlan = hammingPlanOf(spark, o, corpus))
        else graft.operators.Dedup.dedupApply(corpus, minJaccard = tau,
          numHashes = nh, rowsPerBand = rpb)
      val out = corpus.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
      out.write.mode("overwrite").parquet(s"$outDir/deduped")
      println(s"[graft] dedup${if (ensemble) " (ensemble)" else ""}: " +
        s"${spark.read.parquet(s"$outDir/deduped").count()} of " +
        s"${corpus.count()} docs survive (jaccard >= $tau) -> $outDir/deduped")

    // continuous-ingest dedup: precompute the corpus's LSH band index once
    // (bucketed external tables), then dedup each arriving batch against
    // it without ever touching corpus x corpus — or even re-reading the
    // corpus text
    case "bandindex" :: corpusPath :: indexDir :: opts =>
      val o = parseOpts(opts)
      val buckets = o.get("buckets").map(_.toInt).getOrElse(8)
      val corpus = spark.read.parquet(corpusPath)
      graft.operators.Dedup.writeBandIndex(corpus, "graft_idx",
        buckets = buckets, location = Some(indexDir))
      println(s"[graft] bandindex: corpus band index ($buckets buckets) -> $indexDir")

    case "ingest-dedup" :: batchPath :: indexDir :: outDir :: opts =>
      val o = parseOpts(opts)
      val tau = o.get("jaccard").map(_.toDouble).getOrElse(0.5)
      val buckets = o.get("buckets").map(_.toInt).getOrElse(8)
      requireBandIndex(spark, indexDir, "ingest-dedup")
      graft.operators.Dedup.registerBandIndex(spark, "graft_idx", indexDir, buckets)
      warnIfStale(spark, PersistedIndex.Band)
      val batch = spark.read.parquet(batchPath)
      val accepted = writePairsAndClean(spark, batch, "doc_id", outDir,
        graft.operators.Dedup.incrementalNearDupPairsIndexed(
          spark, batch, "graft_idx", minJaccard = tau))
      println(s"[graft] ingest-dedup: ${accepted.count()} of " +
        s"${batch.count()} batch docs are new (jaccard < $tau vs corpus) -> $outDir")
      // --fold true: append the ACCEPTED docs into the index so the next
      // batch dedups against them too (continuous ingest, no rebuild) —
      // read back the materialized survivors so the appended rows can't
      // drift from what was just reported
      if (o.get("fold").contains("true")) {
        graft.operators.Dedup.appendToBandIndex(spark, accepted, "graft_idx")
        println(s"[graft] ingest-dedup: folded ${accepted.count()} accepted docs into the index")
      }

    // the embedding (SemDeDup) analogs of bandindex / ingest-dedup: the
    // arrival path for semantic near-dups over a persisted sign-sketch
    // index — probe, drop dups, optionally fold survivors in
    case "embindex" :: embPath :: indexDir :: opts =>
      val o = parseOpts(opts)
      val buckets = o.get("buckets").map(_.toInt).getOrElse(8)
      val emb = spark.read.parquet(embPath)
      // --plan measured: run the q219 chooser over THIS corpus and build
      // whichever index form its argmin names — sign-bands while buckets
      // are sparse, the IVF cell index once band verify streams densify,
      // the two-level form once flat routing's n·k binds. Without it the
      // historical default (sign-bands) stands.
      if (o.get("plan").contains("measured")) {
        val costs = graft.operators.Similarity.embedPlanCosts(emb).collect()
        costs.foreach(r => println(s"[graft] embindex plan: ${r.mkString(", ")}"))
        val chosen = costs.find(_.getAs[Boolean]("chosen")).get.getAs[String]("plan")
        chosen match {
          case p if p.startsWith("bands_") =>
            val Array(nb, bpb) = p.stripPrefix("bands_").split("x").map(_.toInt)
            graft.operators.Similarity.writeEmbIndex(emb, "graft_eidx",
              buckets = buckets, numBands = nb, bitsPerBand = bpb,
              location = Some(indexDir))
            println(s"[graft] embindex: chose $p -> sign-band index ($buckets buckets) -> $indexDir")
          case p =>
            graft.operators.Similarity.writeCellIndex(emb, "graft_cidx",
              buckets = buckets, location = Some(indexDir),
              twoLevel = p.startsWith("ivf2_"))
            println(s"[graft] embindex: chose $p -> cell index" +
              s"${if (p.startsWith("ivf2_")) " (two-level routing)" else ""} " +
              s"($buckets buckets) -> $indexDir")
        }
      } else {
        graft.operators.Similarity.writeEmbIndex(emb,
          "graft_eidx", buckets = buckets, location = Some(indexDir))
        println(s"[graft] embindex: embedding band index ($buckets buckets) -> $indexDir")
      }

    case "emb-ingest-dedup" :: batchPath :: indexDir :: outDir :: opts =>
      val o = parseOpts(opts)
      val cos = o.get("cosine").map(_.toDouble).getOrElse(0.9)
      val buckets = o.get("buckets").map(_.toInt).getOrElse(8)
      val batch = spark.read.parquet(batchPath)
      // detect which index form `embindex` built at this location —
      // `--plan measured` may have chosen the IVF cell form, which the
      // sign-band registration cannot consume (round-11 ADVICE: the
      // user's next step failed on the missing sign-band files). Both forms
      // produce the same (new_id, old_id, cos) arrival contract.
      val kind = indexKindsAt(spark, indexDir, "emb-ingest-dedup")
        .find(k => k == PersistedIndex.Cell || k == PersistedIndex.EmbBand)
        .getOrElse(sys.error(s"emb-ingest-dedup: $indexDir holds neither a cell index " +
          "nor a sign-band index — build one with `embindex` first"))
      val isCellForm = kind == PersistedIndex.Cell
      val (name, _) = cliIndex(kind)
      PersistedIndex.register(spark, kind, name, indexDir, buckets)
      warnIfStale(spark, kind)
      val pairs =
        if (isCellForm) graft.operators.Similarity.incrementalIvfNearDupsIndexed(
          spark, batch, name, threshold = cos)
        else graft.operators.Similarity.incrementalEmbNearDupsIndexed(
          spark, batch, name, threshold = cos)
      val accepted = writePairsAndClean(spark, batch, "vec_id", outDir, pairs)
      println(s"[graft] emb-ingest-dedup: ${accepted.count()} of " +
        s"${batch.count()} batch vectors are new (cos < $cos vs corpus, " +
        s"${if (isCellForm) "cell" else "sign-band"} index) -> $outDir")
      if (o.get("fold").contains("true")) {
        if (isCellForm) graft.operators.Similarity.appendToCellIndex(spark, accepted, name)
        else graft.operators.Similarity.appendToEmbIndex(spark, accepted, name)
        println(s"[graft] emb-ingest-dedup: folded ${accepted.count()} accepted vectors into the index")
      }

    // one status verb across every persisted-index form (round-11
    // verdict #7a): detect what lives at indexDir (text band index /
    // embedding sign-band index / IVF cell index), re-attach it, and
    // print size + drift verdict per form. The operational loop's
    // "should tonight's run rebuild?" question in one command.
    case "index-status" :: indexDir :: opts =>
      val o = parseOpts(opts)
      val buckets = o.get("buckets").map(_.toInt).getOrElse(8)
      // --json true: one machine-readable line per form, for the ops
      // pipeline that decides "rebuild tonight?" programmatically
      // (round-12 verdict #7a)
      val asJson = o.get("json").contains("true")
      indexKindsAt(spark, indexDir, "index-status").foreach { kind =>
        val (name, verb) = cliIndex(kind)
        PersistedIndex.register(spark, kind, name, indexDir, buckets)
        val form = if (kind == PersistedIndex.Cell &&
            spark.catalog.tableExists(s"${name}_${PersistedIndex.CellCoarse.sub}"))
            s"${kind.form} (two-level)" else kind.form
        // a pre-census index gets the rebuild steer, not a read failure
        // or a phantom verdict (round-12 ADVICE). The price is the
        // sweep-measured MEANING of the verdict (round-13 verdict #4):
        // what a stale index costs at the measured tvd/growth, quoted
        // from index_drift_scales.json via the IndexDrift price table.
        if (!PersistedIndex.hasCensus(spark, kind, name)) {
          if (asJson) println(s"""{"form":"$form","census":false,"rebuild_with":"$verb"}""")
          else println(s"[graft] index-status $form: no build census " +
            s"(pre-census index) — rebuild with `$verb` to enable drift detection")
        } else {
          val s = PersistedIndex.driftStats(spark, kind, name)
          val stale = s.stale()
          val price = graft.operators.IndexDrift.price(kind.priceTier, s.tvd, s.maxGrowth)
          if (asJson) println(s"""{"form":"$form","n_build":${s.nBuild},"n_live":${s.nLive},""" +
            s""""tvd":${Json.num(s.tvd, 4)},"max_growth":${Json.num(s.maxGrowth, 2)},""" +
            s""""stale":$stale,${price.jsonFields},"rebuild_with":"$verb"}""")
          else {
            println(f"[graft] index-status $form: rows ${s.nBuild} -> ${s.nLive}, " +
              f"tvd=${s.tvd}%.3f, max growth=${s.maxGrowth}%.1fx -> " +
              (if (stale) s"STALE (rebuild with `$verb`)" else "ok"))
            println(s"[graft]   price: ${price.human}")
          }
        }
      }

    // periodic maintenance for a long-lived index: fold the one-file-per-
    // append accumulation back to one file per bucket (same location,
    // same bucket layout, probes unchanged) — every index kind present
    case "compact-index" :: indexDir :: opts =>
      val o = parseOpts(opts)
      val buckets = o.get("buckets").map(_.toInt).getOrElse(8)
      val kinds = indexKindsAt(spark, indexDir, "compact-index")
      kinds.foreach(k => PersistedIndex.compact(spark, k, cliIndex(k)._1, indexDir, buckets))
      println(s"[graft] compact-index: ${kinds.map(_.form).mkString(" + ")} index at " +
        s"$indexDir rewritten to one file per bucket ($buckets buckets)")

    // takedown / retention expiry: rewrite every index kind at the
    // location without the tombstoned ids (doubles as a compaction — one
    // file per bucket); the ids parquet carries each kind's id column
    case "delete-index" :: indexDir :: idsPath :: opts =>
      val o = parseOpts(opts)
      val buckets = o.get("buckets").map(_.toInt).getOrElse(8)
      val kinds = indexKindsAt(spark, indexDir, "delete-index")
      val ids = spark.read.parquet(idsPath)
      val missing = kinds.map(_.idCol).distinct.filterNot(ids.columns.contains)
      require(missing.isEmpty, s"delete-index: $idsPath lacks ${missing.mkString(", ")} — " +
        s"the ${kinds.map(_.form).mkString(" + ")} index at $indexDir needs " +
        kinds.map(_.idCol).distinct.mkString(" and "))
      kinds.foreach { k =>
        // materialize first: the tombstone frame must not lazily re-read
        // the index mid-rewrite (PersistedIndex.delete's caller contract)
        val kIds = ids.select(k.idCol).localCheckpoint()
        PersistedIndex.delete(spark, k, kIds, cliIndex(k)._1, indexDir, buckets)
        println(s"[graft] delete-index: ${kIds.count()} ${k.idCol}s removed from the " +
          s"${k.form} index at $indexDir")
      }

    // end-to-end curation pass over a (doc_id, text, source) corpus:
    // quality verdicts (+ per-rule drop rates), PII-redaction counts, and
    // packed training bins for the keepers — the audit artifacts a data
    // curation run ships alongside the data
    case "curate" :: corpusPath :: outDir :: opts =>
      val o = parseOpts(opts)
      val seqLen = o.get("seq-len").map(_.toInt).getOrElse(1024)
      val corpus = spark.read.parquet(corpusPath)
      val verdicts = graft.operators.Curation.qualityVerdicts(corpus)
      verdicts.write.mode("overwrite").parquet(s"$outDir/verdicts")
      graft.operators.Curation.redactPii(corpus)
        .write.mode("overwrite").parquet(s"$outDir/pii")
      val kept = corpus.join(
        verdicts.filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
      graft.operators.Curation.packAssembly(kept, seqLen)
        .write.mode("overwrite").parquet(s"$outDir/packed")
      val rates = spark.read.parquet(s"$outDir/verdicts")
        .groupBy("reason").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
      println(s"[graft] curate: $rates; packed bins -> $outDir/packed")

    // the full curation release in one command: ensemble dedup ->
    // (optional) benchmark decontamination -> quality verdicts -> PII
    // redaction -> sequence packing -> dataset card -> manifest, every
    // stage's drop accounted in manifest.json
    case "release" :: corpusPath :: outDir :: opts =>
      val o = parseOpts(opts)
      val tau = o.get("jaccard").map(_.toDouble).getOrElse(0.5)
      val seqLen = o.get("seq-len").map(_.toInt).getOrElse(1024)
      val corpus = spark.read.parquet(corpusPath)
      val nRead = corpus.count()

      val simhashPlan = hammingPlanOf(spark, o, corpus)
      val survivors = graft.operators.Dedup
        .ensembleDedupApply(corpus, tau, simhashPlan)
        .select("doc_id")
      val deduped = corpus.join(survivors, Seq("doc_id"), "left_semi")
        .localCheckpoint()
      val nDeduped = deduped.count()

      val clean = o.get("bench") match {
        case Some(benchPath) =>
          val bad = graft.operators.Dedup.contaminatedDocs(
            deduped, spark.read.parquet(benchPath)).select("doc_id")
          deduped.join(bad, Seq("doc_id"), "left_anti").localCheckpoint()
        case None => deduped
      }
      val nClean = clean.count()

      val verdicts = graft.operators.Curation.qualityVerdicts(clean)
      verdicts.write.mode("overwrite").parquet(s"$outDir/verdicts")
      val kept = clean.join(
        verdicts.filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
      kept.withColumn("text", graft.operators.Curation.redactText(col("text")))
        .write.mode("overwrite").parquet(s"$outDir/docs")
      val released = spark.read.parquet(s"$outDir/docs")
      val nReleased = released.count()

      graft.operators.Curation.packAssembly(released, seqLen)
        .write.mode("overwrite").parquet(s"$outDir/packed")
      graft.operators.Curation.datasetCard(released)
        .write.mode("overwrite").parquet(s"$outDir/card")
      val nBins = spark.read.parquet(s"$outDir/packed").count()

      val manifest = s"""{"read":$nRead,"after_dedup":$nDeduped,""" +
        s""""after_decontamination":$nClean,"released":$nReleased,""" +
        s""""dropped_dup":${nRead - nDeduped},"dropped_contaminated":${nDeduped - nClean},""" +
        s""""dropped_quality":${nClean - nReleased},"packed_bins":$nBins,""" +
        s""""seq_len":$seqLen,"jaccard":$tau}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(
        {java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir)); s"$outDir/manifest.json"}),
        (manifest + "\n").getBytes("UTF-8"))
      println(s"[graft] release: $manifest -> $outDir")

    // publish the per-source release summary for a curated corpus
    case "card" :: corpusPath :: outDir :: Nil =>
      val card = graft.operators.Curation.datasetCard(spark.read.parquet(corpusPath))
      card.write.mode("overwrite").parquet(s"$outDir/card")
      val rows = spark.read.parquet(s"$outDir/card").orderBy("source").collect()
      println(s"[graft] card: ${rows.length} sources -> $outDir/card")
      rows.foreach(r => println(s"[graft]   $r"))

    case "bpe" :: corpusPath :: outDir :: opts =>
      val o = parseOpts(opts)
      val nMerges = o.get("merges").map(_.toInt).getOrElse(64)
      val merges = graft.operators.TextAnalysis.learnBpeMerges(
        spark.read.parquet(corpusPath), nMerges)
      merges.write.mode("overwrite").parquet(s"$outDir/merges")
      val n = spark.read.parquet(s"$outDir/merges").count()
      println(s"[graft] bpe: learned $n merges -> $outDir/merges")

    // ---- table maintenance (SURVEY-adjacent lakehouse ops): the
    // operators exist in Maintenance.scala; these surface them the way
    // a table-maintenance service would call them ----------------------
    case "maintain" :: "compact-plan" :: manifestPath :: outDir :: opts =>
      val o = parseOpts(opts)
      val files = spark.read.parquet(manifestPath)
      // positional guessing here (columns.head / columns(1)) threw on a
      // 1-column manifest and silently mis-picked when the manifest's
      // column order differed from (id, bytes) — require names to either
      // be conventional or explicit
      def pickCol(opt: String, conventional: Seq[String]): String =
        o.get(opt).orElse(conventional.find(files.columns.contains)).getOrElse(
          sys.error(s"maintain compact-plan: manifest at $manifestPath has columns " +
            s"[${files.columns.mkString(", ")}] — none matches ${conventional.mkString("/")}; " +
            s"name the column explicitly with --$opt=<name>"))
      val idCol = pickCol("id-col", Seq("file_id", "id", "path", "file"))
      val bytesCol = pickCol("bytes-col", Seq("bytes", "size_bytes", "size", "length"))
      Seq("id-col" -> idCol, "bytes-col" -> bytesCol).foreach { case (opt, c) =>
        if (!files.columns.contains(c))
          sys.error(s"maintain compact-plan: --$opt=$c not in manifest columns " +
            s"[${files.columns.mkString(", ")}]")
      }
      val target = o.get("target").map(_.toLong).getOrElse(128L * 1024 * 1024)
      graft.operators.Maintenance.compactionPlan(files, idCol, bytesCol, target)
        .write.mode("overwrite").parquet(s"$outDir/compaction_plan")
      val bins = spark.read.parquet(s"$outDir/compaction_plan").orderBy("bin").collect()
      println(s"[graft] maintain compact-plan: ${files.count()} files -> ${bins.length} bins (target=$target bytes) -> $outDir/compaction_plan")
      bins.foreach(r => println(s"[graft]   bin=${r.getLong(r.fieldIndex("bin"))} files=${r.getLong(r.fieldIndex("n_files"))} bytes=${r.getLong(r.fieldIndex("total_bytes"))}"))

    case "maintain" :: "diff" :: oldPath :: newPath :: outDir :: opts =>
      val o = parseOpts(opts)
      val oldDf = spark.read.parquet(oldPath)
      val newDf = spark.read.parquet(newPath)
      val keys = o.get("keys").map(_.split(",").toSeq)
        .getOrElse(Seq(oldDf.columns.head))
      val cols = o.get("cols").map(_.split(",").toSeq)
        .getOrElse(oldDf.columns.toSeq.filterNot(keys.contains))
      graft.operators.Maintenance.snapshotDiff(oldDf, newDf, keys, cols)
        .write.mode("overwrite").parquet(s"$outDir/diff")
      val byClass = spark.read.parquet(s"$outDir/diff")
        .groupBy("diff_class").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      println(s"[graft] maintain diff: keys=${keys.mkString(",")} cols=${cols.mkString(",")} -> $outDir/diff")
      Seq("added", "removed", "changed", "unchanged").foreach(c =>
        println(s"[graft]   $c=${byClass.getOrElse(c, 0L)}"))

    case "maintain" :: "checksum" :: tablePath :: outDir :: opts =>
      val o = parseOpts(opts)
      val df = spark.read.parquet(tablePath)
      val keyCol = o.getOrElse("key-col", df.columns.head)
      val width = o.get("range-width").map(_.toLong).getOrElse(1000L)
      val cols = o.get("cols").map(_.split(",").toSeq)
        .getOrElse(df.columns.toSeq.filterNot(_ == keyCol))
      graft.operators.Maintenance.rangeChecksums(df, keyCol, width, cols)
        .write.mode("overwrite").parquet(s"$outDir/checksums")
      val n = spark.read.parquet(s"$outDir/checksums").count()
      println(s"[graft] maintain checksum: key=$keyCol width=$width -> $n ranges -> $outDir/checksums")

    case "maintain" :: "checksum-diff" :: aPath :: bPath :: outDir :: Nil =>
      // tamper/drift detection: ranges whose checksums disagree are
      // exactly the spans a repair job must re-ship — the transfer is
      // bounded by the damage, not the table
      val a = spark.read.parquet(aPath).select(col("bucket"),
        col("n_rows").as("n_rows_a"), col("checksum").as("checksum_a"))
      val b = spark.read.parquet(bPath).select(col("bucket"),
        col("n_rows").as("n_rows_b"), col("checksum").as("checksum_b"))
      a.join(b, Seq("bucket"), "full_outer")
        .filter(col("checksum_a").isNull || col("checksum_b").isNull ||
          col("checksum_a") =!= col("checksum_b") ||
          col("n_rows_a") =!= col("n_rows_b"))
        .write.mode("overwrite").parquet(s"$outDir/checksum_diff")
      val bad = spark.read.parquet(s"$outDir/checksum_diff")
        .orderBy("bucket").collect()
      println(s"[graft] maintain checksum-diff: ${bad.length} mismatched ranges -> $outDir/checksum_diff")
      bad.foreach(r => println(s"[graft]   bucket=${r.getLong(0)}"))

    // ANALYZE for the cost-based optimizer: register each parquet table
    // under a catalog name and collect table + column statistics, so
    // the CBO the runtime enables (GraftRuntime) can reorder joins from
    // data. The post-load/post-compaction step a warehouse schedules;
    // q211 runs its star join through tables analyzed this way.
    case "maintain" :: "analyze" :: dir :: opts =>
      val o = parseOpts(opts)
      val tables = o.get("tables").map(_.split(",").toSeq.filter(_.nonEmpty))
        .getOrElse(sys.error(
          "maintain analyze: --tables=t1,t2,... required (parquet basenames under <dir>)"))
      val prefix = o.getOrElse("prefix", "")
      val names = tables.map { t =>
        val name = s"$prefix$t"
        val loc = s"$dir/$t.parquet"
        if (!new java.io.File(loc).exists())
          sys.error(s"maintain analyze: no parquet table at $loc")
        // external table over the existing location: DROP leaves data
        // untouched; re-registering re-points a stale location
        spark.sql(s"DROP TABLE IF EXISTS `$name`")
        spark.sql(s"CREATE TABLE `$name` USING parquet LOCATION '$loc'")
        name
      }
      graft.operators.Maintenance.analyzeForCbo(spark, names)
      names.foreach { n =>
        val stats = spark.table(n).queryExecution.optimizedPlan.stats
        println(s"[graft] maintain analyze: $n rows=${stats.rowCount.getOrElse("?")} " +
          s"bytes=${stats.sizeInBytes}")
      }

    // sketch-tier reports: per-group quantile estimates (KLL native
    // aggregate — no per-row shuffle however large the groups) and the
    // pairwise distinct-overlap matrix (merged HLL sketches — no raw
    // rescan per pair). The profiling surface an operator reaches for
    // before committing to an exact (sort/distinct) pass at 100 TB.
    case "sketch" :: "quantiles" :: tablePath :: outDir :: opts =>
      val o = parseOpts(opts)
      val df = spark.read.parquet(tablePath)
      val groupCol = o.getOrElse("group-col", df.columns.head)
      val valueCol = o.getOrElse("value-col",
        df.columns.find(_ != groupCol).getOrElse(df.columns.head))
      val ps = o.get("ps").map(_.split(",").toSeq.map(_.toDouble))
        .getOrElse(Seq(0.5, 0.95, 0.99))
      val k = o.get("k").map(_.toInt).getOrElse(200)
      val rep = graft.operators.Quantiles
        .groupedQuantileReport(df, groupCol, valueCol, ps, k)
      rep.write.mode("overwrite").parquet(s"$outDir/quantiles")
      val rows = spark.read.parquet(s"$outDir/quantiles")
        .orderBy(groupCol, "p").collect()
      println(s"[graft] sketch quantiles: $groupCol x $valueCol k=$k -> $outDir/quantiles")
      rows.foreach(r => println(f"[graft]   ${r.get(0)}%-12s p=${r.getDouble(1)}%.2f " +
        f"est=${r.getDouble(2)}%.4f n=${r.getLong(3)}%d"))

    case "sketch" :: "overlap" :: tablePath :: outDir :: opts =>
      val o = parseOpts(opts)
      val df = spark.read.parquet(tablePath)
      val groupCol = o.getOrElse("group-col", df.columns.head)
      val valueCol = o.getOrElse("value-col",
        df.columns.find(_ != groupCol).getOrElse(df.columns.head))
      val rep = graft.operators.QualityChecks
        .hllOverlapMatrix(df, groupCol, valueCol)
      rep.write.mode("overwrite").parquet(s"$outDir/overlap")
      val rows = spark.read.parquet(s"$outDir/overlap")
        .orderBy("g_a", "g_b").collect()
      println(s"[graft] sketch overlap: $groupCol x $valueCol -> $outDir/overlap")
      rows.foreach(r => println(f"[graft]   ${r.getString(0)}%-10s ${r.getString(1)}%-10s " +
        f"a=${r.getDouble(2)}%.0f b=${r.getDouble(3)}%.0f union=${r.getDouble(4)}%.0f " +
        f"inter=${r.getDouble(5)}%.0f"))

    // persisted HLL register store: the sketch-tier index lifecycle —
    // build once, append each batch's registers (never raw data),
    // serve distinct-per-group from stored sketch rows, compact the
    // accumulated append files into one committed version
    case "sketch" :: "hll-build" :: tablePath :: sketchDir :: opts =>
      val o = parseOpts(opts)
      val df = spark.read.parquet(tablePath)
      val groupCol = o.getOrElse("group-col", df.columns.head)
      val valueCol = o.getOrElse("value-col",
        df.columns.find(_ != groupCol).getOrElse(df.columns.head))
      graft.operators.QualityChecks.hllStoreBuild(df, groupCol, valueCol, sketchDir)
      println(s"[graft] sketch hll-build: $groupCol x $valueCol -> $sketchDir/v0")

    case "sketch" :: "hll-append" :: batchPath :: sketchDir :: opts =>
      val o = parseOpts(opts)
      val df = spark.read.parquet(batchPath)
      val groupCol = o.getOrElse("group-col", df.columns.head)
      val valueCol = o.getOrElse("value-col",
        df.columns.find(_ != groupCol).getOrElse(df.columns.head))
      graft.operators.QualityChecks.hllStoreAppend(df, groupCol, valueCol, sketchDir)
      println(s"[graft] sketch hll-append: $batchPath registers folded into $sketchDir")

    case "sketch" :: "hll-report" :: sketchDir :: Nil =>
      val rep = graft.operators.QualityChecks.hllStoreReport(spark, sketchDir)
        .orderBy("g").collect()
      println(s"[graft] sketch hll-report: ${rep.length} groups")
      rep.foreach(r => println(f"[graft]   ${r.getString(0)}%-14s registers=${r.getInt(1)}%-3d " +
        f"distinct_est=${r.getDouble(2)}%.0f"))

    case "sketch" :: "hll-compact" :: sketchDir :: Nil =>
      graft.operators.QualityChecks.hllStoreCompact(spark, sketchDir)
      println(s"[graft] sketch hll-compact: merged register set committed under $sketchDir")

    case "sketch" :: "heavy-hitters" :: corpusPath :: outDir :: opts =>
      val o = parseOpts(opts)
      val k = o.get("k").map(_.toInt).getOrElse(16)
      val rep = graft.operators.TextAnalysis
        .heavyHitters(spark.read.parquet(corpusPath), k)
      rep.write.mode("overwrite").parquet(s"$outDir/heavy_hitters")
      val rows = spark.read.parquet(s"$outDir/heavy_hitters")
        .orderBy(col("cnt").desc, col("wh")).collect()
      println(s"[graft] sketch heavy-hitters: k=$k -> ${rows.length} tokens with freq > n/$k -> $outDir/heavy_hitters")
      rows.take(20).foreach(r => println(f"[graft]   wh=${r.getLong(0)}%-20d cnt=${r.getLong(1)}%d"))

    // One sizing command over any table: runs every applicable measured
    // plan chooser (q205 LSH sweep for text Jaccard, q212 hamming-block
    // census for text SimHash, q219 bands-vs-IVF-vs-two-level for
    // embeddings) and reports each family's argmin — so capacity
    // planning for a new corpus is one invocation, not three queries.
    case "plan" :: tablePath :: outDir :: Nil =>
      val df = spark.read.parquet(tablePath)
      val cols = df.columns.toSet
      var ran = List.empty[String]
      if (cols("embedding")) {
        val costs = graft.operators.Similarity.embedPlanCosts(
          df.select(col("vec_id"), col("embedding")))
        costs.coalesce(1).write.mode("overwrite").parquet(s"$outDir/embed_plans.parquet")
        val c = costs.filter(col("chosen")).head()
        println(s"[graft] plan embedding: ${c.getAs[String]("plan")} " +
          s"(routing_ops ${c.getAs[Long]("routing_ops")}, verify_pairs ${c.getAs[Long]("verify_pairs")})")
        ran ::= "embedding"
      }
      if (cols("text")) {
        val sweep = graft.operators.Dedup.lshParameterSweep(df)
        sweep.coalesce(1).write.mode("overwrite").parquet(s"$outDir/lsh_plans.parquet")
        val s0 = sweep.filter(col("chosen")).head()
        println(s"[graft] plan text/jaccard: minhash ${s0.getAs[Int]("num_hashes")} hashes x " +
          s"${s0.getAs[Int]("rows_per_band")} rows/band (recall ${s0.getAs[Double]("recall")})")
        val blockCols = if (cols("source")) Seq("source") else Nil
        val sh = graft.operators.Dedup.simhash(df, 48)
          .join(df.select((col("doc_id") +: blockCols.map(col)): _*), "doc_id")
        val hp = graft.operators.Dedup.hammingPlanCosts(sh, "simhash", 48, 6, blockCols)
        hp.coalesce(1).write.mode("overwrite").parquet(s"$outDir/hamming_plans.parquet")
        val h0 = hp.filter(col("chosen")).head()
        println(s"[graft] plan text/hamming: ${h0.getAs[Int]("num_blocks")} blocks, " +
          s"combos of ${h0.getAs[Int]("combo_size")} (cost ${h0.getAs[Long]("cost")})")
        ran ::= "text"
      }
      if (ran.isEmpty) {
        System.err.println(s"[graft] plan: $tablePath has neither an 'embedding' nor a 'text' column")
        sys.exit(2)
      }
      println(s"[graft] plan: sized ${ran.reverse.mkString(" + ")} -> $outDir")

    case "dedup-eval" :: corpusPath :: outDir :: opts =>
      val o = parseOpts(opts)
      val tau = o.get("jaccard").map(_.toDouble).getOrElse(0.5)
      val report = graft.operators.Dedup.dedupFamilyEval(
        spark.read.parquet(corpusPath), tau)
      report.write.mode("overwrite").parquet(s"$outDir/family_eval")
      val rows = spark.read.parquet(s"$outDir/family_eval").orderBy("family").collect()
      println(s"[graft] dedup-eval: tau=$tau -> $outDir/family_eval")
      rows.foreach(r => println(f"[graft]   ${r.getString(0)}%-12s cand=${r.getLong(1)}%-7d " +
        f"truth=${r.getLong(2)}%-6d tp=${r.getLong(3)}%-6d prec=${r.getDouble(4)}%.4f recall=${r.getDouble(5)}%.4f"))

    case _ =>
      System.err.println(
        """usage: graft.Cli <command> ...
          |  ingest   <csvIn> <featuresOut>
          |  cluster  <features> <k> <outDir> [--seeds id,..] [--strategy medoid|mean|sampled:N] [--weight W] [--limit L] [--max-iter N]
          |  analyze  <features> <assignments> <outDir>
          |  distance <features> <assignments> <id,id,..> <outDir>
          |  sample   <features> <k> <seed> <outDir>
          |  dedup    <corpusParquet> <outDir> [--jaccard T] [--ensemble true | --autotune true]
          |  bandindex    <corpusParquet> <indexDir> [--buckets N]
          |  ingest-dedup <batchParquet> <indexDir> <outDir> [--jaccard T] [--buckets N] [--fold true]
          |  embindex        <embParquet> <indexDir> [--buckets N]
          |  emb-ingest-dedup <batchParquet> <indexDir> <outDir> [--cosine T] [--buckets N] [--fold true]
          |  compact-index <indexDir> [--buckets N]
          |  delete-index  <indexDir> <idsParquet> [--buckets N]
          |  curate       <corpusParquet> <outDir> [--seq-len N]
          |  card         <corpusParquet> <outDir>
          |  release      <corpusParquet> <outDir> [--bench P] [--jaccard T] [--seq-len N] [--hamming-plan measured|M:C]
          |  bpe          <corpusParquet> <outDir> [--merges N]
          |  dedup-eval   <corpusParquet> <outDir> [--jaccard T]
          |  plan         <tableParquet> <outDir>   (runs every applicable measured plan chooser)
          |  sketch quantiles <tableParquet> <outDir> [--group-col g] [--value-col v] [--ps 0.5,0.95] [--k N]
          |  sketch overlap   <tableParquet> <outDir> [--group-col g] [--value-col v]
          |  sketch heavy-hitters <corpusParquet> <outDir> [--k N]
          |  sketch hll-build   <tableParquet> <sketchDir> [--group-col g] [--value-col v]
          |  sketch hll-append  <batchParquet> <sketchDir> [--group-col g] [--value-col v]
          |  sketch hll-report  <sketchDir>
          |  sketch hll-compact <sketchDir>
          |  maintain compact-plan  <manifestParquet> <outDir> [--id-col c] [--bytes-col c] [--target BYTES]
          |  maintain diff          <oldParquet> <newParquet> <outDir> [--keys k1,k2] [--cols c1,c2]
          |  maintain checksum      <tableParquet> <outDir> [--key-col c] [--range-width N] [--cols c1,c2]
          |  maintain checksum-diff <aChecksums> <bChecksums> <outDir>""".stripMargin)
      sys.exit(2)
  }

  private object IntArg {
    def unapply(s: String): Option[Int] = s.toIntOption
  }

  /** `--key value` pairs and `--key=value` both parse (the analyze
    * usage message prints the `=` form, so it must round-trip). */
  /** `--hamming-plan measured | M:C` for the ensemble's simhash banding,
    * shared by `dedup --ensemble` and `release`. `measured` spends one
    * chooser census and runs the banding at its (m, c) pick; an explicit
    * M:C pins a plan. Assignments are plan-invariant (pigeonhole
    * exactness, DedupSpec pin) — this only moves the candidate cost.
    * Below the chooser's measure floor (1 M distinct rep hashes) the
    * census is skipped and the static rule answers (round-11 verdict
    * #1); with `--index <dir>` naming a persisted band index over the
    * SAME corpus, even the distinct-count probe is skipped — the floor
    * gate reads the index's doc count instead (round-12 verdict #4). */
  private def hammingPlanOf(spark: SparkSession, o: Map[String, String],
      corpus: DataFrame): Option[(Int, Int)] =
    o.get("hamming-plan").map {
      case "measured" =>
        val known = o.get("index").map { dir =>
          requireBandIndex(spark, dir, "dedup --index")
          graft.operators.Dedup.registerBandIndex(spark, "graft_idx", dir,
            o.get("buckets").map(_.toInt).getOrElse(8))
          val n = graft.operators.Dedup.bandIndexDocCount(spark, "graft_idx")
          println(s"[graft] hamming plan: census source $dir ($n docs)")
          n
        }
        val p = graft.operators.Dedup.measuredSimhashPlan(corpus,
          knownDistinct = known)
        println(s"[graft] measured hamming plan m=${p._1} c=${p._2}")
        p
      case s => s.split(":") match {
        case Array(m, c) => (m.toInt, c.toInt)
        case _ => sys.error(s"--hamming-plan expects 'measured' or M:C, got $s")
      }
    }

  /** The fixed catalog name and the build verb of each persisted-index
    * kind, as the index verbs register and steer to it. */
  private val cliIndex: Map[PersistedIndex.Kind, (String, String)] = Map(
    PersistedIndex.Band -> ("graft_idx", "bandindex"),
    PersistedIndex.Cell -> ("graft_cidx", "embindex"),
    PersistedIndex.EmbBand -> ("graft_eidx", "embindex"))

  /** Every index kind committed at `indexDir`, or a loud failure before
    * anything is registered. */
  private def indexKindsAt(spark: SparkSession, indexDir: String,
      verb: String): Seq[PersistedIndex.Kind] = {
    val kinds = PersistedIndex.kindsAt(spark, indexDir)
    require(kinds.nonEmpty, s"$verb: $indexDir holds no graft index (expected a " +
      s"committed ${PersistedIndex.Kinds.map(_.form).mkString(", ")} index — build one " +
      "with `bandindex` or `embindex`)")
    kinds
  }

  /** A verb that reads a band index fails unless one is committed at
    * `indexDir`: registering a missing one binds empty tables, so every
    * doc would read as new (and a fold would lay a census-less index
    * down at the wrong location) or the doc census would read 0. */
  private def requireBandIndex(spark: SparkSession, indexDir: String, verb: String): Unit =
    require(indexKindsAt(spark, indexDir, verb).contains(PersistedIndex.Band),
      s"$verb: $indexDir holds no band index — build one with `bandindex` first")

  /** The arrival verbs' outputs: `pairs`, then `clean` = the batch minus
    * every paired `new_id`, derived from the WRITTEN pairs so the probe
    * runs once. Returns the written clean rows. Read-backs take the known
    * schemas: a schema-less parquet read is a schema-inference job. */
  private def writePairsAndClean(spark: SparkSession, batch: DataFrame, idCol: String,
      outDir: String, pairs: DataFrame): DataFrame = {
    pairs.write.mode("overwrite").parquet(s"$outDir/pairs")
    batch.join(spark.read.schema(pairs.schema).parquet(s"$outDir/pairs")
        .select(col("new_id").as(idCol)).distinct(), Seq(idCol), "left_anti")
      .write.mode("overwrite").parquet(s"$outDir/clean")
    spark.read.schema(batch.schema).parquet(s"$outDir/clean")
  }

  /** Staleness preflight of an arrival verb (one bounded aggregation): a
    * drifted index still answers, but its hot partitions' probe cost has
    * outgrown what the build priced — surface the rebuild steer where
    * the operator who would pay it is standing. */
  private def warnIfStale(spark: SparkSession, kind: PersistedIndex.Kind): Unit = {
    val (name, verb) = cliIndex(kind)
    if (PersistedIndex.hasCensus(spark, kind, name)) {
      val s = PersistedIndex.driftStats(spark, kind, name)
      if (s.stale())
        println(f"[graft] WARNING: ${kind.form} index is STALE (tvd=${s.tvd}%.3f, " +
          f"max growth=${s.maxGrowth}%.1fx, rows ${s.nBuild} -> ${s.nLive}) — " +
          s"probe cost has drifted from the build; rebuild with `$verb`")
    }
  }

  private def parseOpts(opts: List[String]): Map[String, String] = {
    val (eq, pos) = opts.partition(o => o.startsWith("--") && o.contains('='))
    val fromEq = eq.map { o =>
      val Array(k, v) = o.stripPrefix("--").split("=", 2)
      k -> v
    }
    val fromPairs = pos.grouped(2).collect {
      case key :: value :: Nil if key.startsWith("--") => key.stripPrefix("--") -> value
    }
    (fromEq ++ fromPairs).toMap
  }

  /** S8 — TSV text sink (`TextOutputFormat` analog). */
  private def writeTsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("sep", "\t").csv(path)

  /** S9 — small driver-side text output (the legitimate version of the
    * reference's reducer-local FileWriter, `random.java:85-115`). */
  private def writeText(spark: SparkSession, path: String, lines: Seq[String]): Unit = {
    import spark.implicits._
    lines.toDF("line").coalesce(1).write.mode("overwrite").text(path)
  }
}
