package graft

import graft.functions.TextHash
import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Dedup / text-analysis / similarity operator semantics on hand-built
  * corpora. */
class DedupSpec extends SparkSpec {

  import spark.implicits._

  private def corpus(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "source")

  test("polyHash matches a hand-computed fold") {
    // "ab" → seed 97, then (97*31 + 98) % P = 3105
    val got = Seq("ab").toDF("t")
      .select(TextHash.polyHash(col("t"))).collect().head.getLong(0)
    assert(got === (97L * 31 + 98) % TextHash.P)
  }

  test("shingleHashes: <3 tokens → empty, n tokens → n-2 shingles") {
    val got = Seq("a b", "a b c d e").toDF("t")
      .select(size(TextHash.shingleHashes(col("t")))).collect().map(_.getInt(0))
    assert(got.toSeq === Seq(0, 3))
  }

  test("exact dedup groups identical texts only") {
    val c = corpus((1, "x y z", "s"), (2, "x y z", "s"), (3, "x y w", "s"))
    val got = Dedup.exactDuplicateGroups(c).collect()
    assert(got.length === 1)
    assert(got.head.getAs[Long]("n_docs") === 2L)
    assert(got.head.getAs[Long]("canonical_id") === 1L)
  }

  test("jaccard: identical docs → 1.0; disjoint docs absent") {
    val c = corpus(
      (1, "a b c d e", "s"), (2, "a b c d e", "s"), (3, "p q r s t", "s"))
    val got = Dedup.jaccardPairs(c, 0.01).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jacc")))
    assert(got.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("LSH catches a high-jaccard pair and skips unrelated docs") {
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val c = corpus(
      (1, base, "s"), (2, base + " w13", "s"),
      (3, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10", "s"))
    val pairs = Dedup.minhashLshPairs(c, minJaccard = 0.5).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  test("simhash: identical docs have hamming 0 and pair up") {
    val c = corpus((1, "a b c d e f", "s"), (2, "a b c d e f", "s"),
      (3, "completely different words here now", "s"))
    val pairs = Dedup.simhashPairs(c, maxHamming = 0).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Int]("hamming")))
    assert(pairs.toSeq === Seq((1L, 2L, 0)))
  }

  test("langId predicts the dominant profile with first-wins ties") {
    val docs = Seq(
      (1L, "table row column key nothing"), // en markers
      (2L, "stream batch window join xx"), // de markers
      (3L, "zz yy xx ww vv")) // no markers → all 0 → first wins: en
      .toDF("doc_id", "text")
    val got = TextAnalysis.langId(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(got === Map(1L -> "en", 2L -> "de", 3L -> "en"))
  }

  test("cosine: parallel → 1, orthogonal → 0; topk ranks correctly") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(2.0f, 0.0f), 0),
      (2L, Array(0.0f, 3.0f), 0),
      (3L, Array(1.0f, 1.0f), 0)).toDF("vec_id", "embedding", "label")
    val got = Similarity.bruteForceTopK(emb.filter(col("vec_id") === 0), emb, 3)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"), r.getAs[Int]("rank")))
      .sortBy(_._3)
    assert(got(0)._1 === 1L && got(0)._2 === 1.0)
    assert(math.abs(got(1)._2 - math.sqrt(0.5)) < 1e-12)
    assert(got(2)._1 === 2L && got(2)._2 === 0.0)
  }

  test("editDistancePairs: LSH proposes, the prefix Levenshtein gate decides") {
    // three docs sharing 30 tokens (identical shingle tails -> all three
    // pairs are LSH candidates); prefixes differ by the first word only
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"aa $base", "s"),            // vs 2: dist = 3  (drop "aa ")
      (2L, base, "s"),
      (3L, s"categorically $base", "s")  // vs 2: dist = 14 > 12
    ).toDF("doc_id", "text", "source")
    val pairs = graft.operators.Dedup.editDistancePairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L)),
      s"only the small-edit pair survives the gate: ${pairs.toSeq}")
    // a 3-char front edit shifts the 32-char window, so the window tails
    // disagree by the same 3 chars: prefix-gated distance = 2x the shift
    assert(pairs.head._3 === 6, s"dist over shifted 32-char windows = 6: ${pairs.toSeq}")
  }

  test("bloomDecontaminate: confirmed == exact decontamination; cramped filter only adds FPs") {
    import graft.operators.Dedup
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val corpus = Dedup.withNearDuplicates(docs)
      .filter(!(col("doc_id") % 10 === 0 && col("doc_id") < 1000000))
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val exact = Dedup.contaminatedDocs(corpus, bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = Dedup.bloomDecontaminate(corpus, bench)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // every confirmed count must equal the exact path's count, for every
    // doc the exact path flags (bloom may SHORTLIST more — never confirm more)
    val confirmed = bloom.collect { case (id, (_, c)) if c > 0 => id -> c }
    assert(confirmed === exact, s"bloom-confirmed must equal exact: ${confirmed.size} vs ${exact.size}")
    assert(bloom.forall { case (_, (s0, c)) => s0 >= c }, "shortlist is a superset of confirmed")
    // cramped filter (512 positions for thousands of grams): heavy FPs,
    // but the exact verify still confirms exactly the same set
    val cramped = Dedup.bloomDecontaminate(corpus, bench, mBits = 512)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val crampedConfirmed = cramped.collect { case (id, (_, c)) if c > 0 => id -> c }
    assert(crampedConfirmed === exact, "FPs never reach confirmed output")
    val fps = cramped.map { case (_, (s0, c)) => s0 - c }.sum
    assert(fps > 0, "a 512-bit filter over thousands of grams must collide somewhere")
  }

  test("containmentPairs: finds the quote symmetric Jaccard misses, direction smaller-into-larger") {
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val quote = (1 to 8).map(i => s"w$i").mkString(" ")   // contained: 6 of 38 shingles
    val other = (1 to 30).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, long, "s"), (2L, quote, "s"), (3L, other, "s"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.containmentPairs(docs, minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    assert(got === Set((2L, 1L, 1.0)),
      s"quote(2) contained in long(1), nothing else: $got")
    // the same pair is invisible to symmetric Jaccard at any useful tau
    val jacc = Dedup.jaccardPairs(docs, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jacc.contains((1L, 2L)) && !jacc.contains((2L, 1L)),
      "6/38 shared shingles must stay below Jaccard 0.5")
  }

  test("bandedHammingPairs: identical-hash groups expand to all pairs; far hashes excluded") {
    val rows = Seq(
      (1L, 0L), (2L, 0L), (3L, 0L), // one flat group of identical hashes
      (4L, 3L),                     // hamming 2 from the group
      (5L, (1L << 56) - 1)          // all 56 bits differ -> excluded
    ).toDF("doc_id", "h")
    val got = Dedup.bandedHammingPairs(rows, "h", bits = 56, maxHamming = 6,
        blockCols = Seq.empty)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === Set((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0),
      (1L, 4L, 2), (2L, 4L, 2), (3L, 4L, 2)))
  }

  test("bandedHammingProbeEdges: arrival-partitioned probes union to the self-join pair set") {
    // distinct (hash, source) rows: src a has a hamming-2 pair and one
    // far hash; src b has a hamming-1 pair whose low hash EQUALS one of
    // src a's (the blocking column must keep them apart)
    val rows = Seq(
      (10L, 0L, "a"), (11L, 3L, "a"), (12L, (1L << 48) - 1, "a"),
      (20L, 0L, "b"), (21L, 1L, "b"))
    val want = Dedup.bandedHammingPairs(
        rows.toDF("doc_id", "h", "source"), "h", 48, 6, Seq("source"))
      .collect().map(r => (r.getLong(0) min r.getLong(1),
        r.getLong(0) max r.getLong(1))).toSet
    assert(want === Set((10L, 11L), (20L, 21L)), "self-join reference sanity")
    // arrival order interleaves sources and puts each pair's endpoints
    // in DIFFERENT batches
    val batches = Seq(Seq(rows(0), rows(4)), Seq(rows(1), rows(3)), Seq(rows(2)))
    var base = Seq.empty[(Long, Long, String)]
    val got = batches.flatMap { b =>
      base = base ++ b
      val newDf = b.toDF("rep", "simhash", "source")
      val baseDf = base.toDF("rep", "simhash", "source")
        .withColumn("isNew", col("rep").isin(b.map(_._1): _*))
      Dedup.bandedHammingProbeEdges(newDf, baseDf,
          "rep", "simhash", 48, 6, Seq("source"))
        .collect().map(r => (r.getLong(0) min r.getLong(1),
          r.getLong(0) max r.getLong(1)))
    }
    assert(got.toSet === want, "probe folds must discover exactly the self-join pairs")
    assert(got.size === want.size, "each pair must be emitted by exactly one fold, once")
  }

  test("hammingPlanCosts: hand-computed buckets, integer arithmetic, argmin choice") {
    // 4 hashes differing only in the low 2 bits: for c=1 (m=7, blocks
    // 7/7/7/7/7/7/6) only block 0 separates them -> 6 combos hold one
    // 4-hash bucket each: raw = 6*C(4,2) = 36, band_rows = 4*7 = 28.
    // For c=2 (m=8, all blocks 6 bits) every pair of blocks without
    // block 0 collides: C(7,2)=21 combos * 6 = 126, band_rows = 4*28.
    val sh = Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L)).toDF("doc_id", "h")
    val costs = Dedup.hammingPlanCosts(sh, "h", 48, 6, Seq.empty, maxC = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toList
      .sortBy(_._2)
    // cost = band_rows · 32 (the calibrated shuffle-vs-stream weight —
    // see hammingPlanCosts scaladoc) + raw_join_rows
    assert(costs === List(
      (7, 1, 4L, 28L, 36L, 28L * 32 + 36L, true),
      (8, 2, 4L, 112L, 126L, 112L * 32 + 126L, false)))
    // the measured chooser returns the argmin pair — when the census is
    // actually paid (floor 0 forces it)
    assert(Dedup.hammingBlockPlanMeasured(sh, "h", 48, 6, Seq.empty,
      measureFloor = 0L) === ((7, 1)))
    // below the default measure floor the census is NOT paid: the
    // chooser answers with the static rule's plan — (9, 3) at 48 bits,
    // deliberately NOT this fixture's census argmin (7, 1), so this
    // assertion can only pass if the census was skipped (round-11
    // verdict #1: the census lost to static everywhere below its own
    // ×64–×256 crossover, so small corpora must not pay it)
    assert(Dedup.hammingBlockPlanMeasured(sh, "h", 48, 6, Seq.empty) === ((9, 3)))
    // ... and the floor boundary is exact: n = 4 distinct hashes
    assert(Dedup.hammingBlockPlanMeasured(sh, "h", 48, 6, Seq.empty,
      measureFloor = 5L) === ((9, 3)))
    assert(Dedup.hammingBlockPlanMeasured(sh, "h", 48, 6, Seq.empty,
      measureFloor = 4L) === ((7, 1)))
    // census-fed floor gate (round-12 verdict #4): a knownDistinct bound
    // below the floor answers statically — the SAME pick the probe-fed
    // path makes — without even the distinct().count() probe; a bound
    // at/above the floor changes nothing (the census still measures the
    // exact frame and returns its argmin)
    assert(Dedup.hammingBlockPlanMeasured(sh, "h", 48, 6, Seq.empty,
      measureFloor = 5L, knownDistinct = Some(4L)) === ((9, 3)))
    assert(Dedup.hammingBlockPlanMeasured(sh, "h", 48, 6, Seq.empty,
      measureFloor = 4L, knownDistinct = Some(4L)) === ((7, 1)))
  }

  test("audio fingerprints pair through the shared hamming banding (third modality)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // 10 and 1000010: same waveform (same text digest, same length) from
    // independently encoded WAVs -> identical fingerprint, hamming 0;
    // 11: unrelated digest -> far away (expected hamming ~28 of 56)
    val audio = graft.operators.Multimodal.audioTable(Seq(
      (10L, "alpha beta gamma delta epsilon zeta", 40L),
      (1000010L, "alpha beta gamma delta epsilon zeta", 40L),
      (11L, "completely different content over here", 40L)
    ).toDF("doc_id", "text", "n_chars"))
    val fps = graft.operators.Multimodal.audioFingerprint(audio).toDF()
    val pairs = Dedup.bandedHammingPairs(fps, "afp", bits = 56, maxHamming = 6,
        blockCols = Seq.empty)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs === Set((10L, 1000010L, 0)),
      s"identical waveforms pair at hamming 0, unrelated audio stays apart: $pairs")
  }

  test("splitLeakage: counts only pairs that straddle a split boundary, unordered cells") {
    // hashSplit assigns by content hash; recompute each doc's split and
    // build near-dup pairs whose straddling status we can assert against
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota", "s"),
      (2L, "prefix alpha beta gamma delta epsilon zeta eta theta iota", "s"),
      (3L, "one two three four five six seven eight nine ten", "s"),
      (4L, "header one two three four five six seven eight nine ten", "s")
    ).toDF("doc_id", "text", "source")
    val splits = graft.operators.TextAnalysis.hashSplit(docs)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val expected: Map[(String, String), Long] = Seq((1L, 2L), (3L, 4L))
      .filter { case (a, b) => splits(a) != splits(b) }
      .groupBy { case (a, b) =>
        val ss = Seq(splits(a), splits(b)).sorted; (ss(0), ss(1))
      }.map { case (cell, ps) => cell -> ps.size.toLong }
    val got = Dedup.splitLeakage(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === expected, s"splits were $splits")
  }

  test("keepBestDedup: argmax-by-score survivor per component, singletons untouched") {
    // 1 and 2 near-dup (2 is longer -> 2 wins despite higher id);
    // 9 unrelated singleton keeps itself
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "web"),
      (2L, "prefix alpha beta gamma delta epsilon zeta eta theta", "web"),
      (9L, "completely unrelated content lives over here now today", "web")
    ).toDF("doc_id", "text", "source")
    val kept = Dedup.keepBestDedup(docs, size(split(col("text"), " ")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(kept === Set((1L, 2L, 9L), (9L, 9L, 8L)),
      s"cluster 1 keeps the longer doc 2 (9 tokens); singleton 9 keeps itself: $kept")
  }

  test("dedupFamilyEval: internally consistent counts, minhash/winnow recall high on injected dups") {
    val corpus = Dedup.withNearDuplicates(
      Tables.load(spark, "/root/testdata/sf0.001", "documents"))
    val rows = Dedup.dedupFamilyEval(corpus)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(rows.keySet === Set("minhash_lsh", "simhash", "winnow"))
    val nTruth = rows.values.map(_._2).toSet
    assert(nTruth.size === 1 && nTruth.head > 0, "one shared non-empty truth set")
    rows.foreach { case (fam, (nc, nt, tp, prec, recall)) =>
      assert(tp <= nc && tp <= nt, s"$fam: tp must be bounded by both sets")
      assert(math.abs(prec - tp.toDouble / nc) < 1e-12, s"$fam precision arithmetic")
      assert(math.abs(recall - tp.toDouble / nt) < 1e-12, s"$fam recall arithmetic")
    }
    // the Jaccard-targeting families must catch (nearly) all injected
    // near-dups; simhash's hamming contract is a different semantic and
    // is reported, not required
    assert(rows("minhash_lsh")._5 >= 0.9, s"minhash recall ${rows("minhash_lsh")._5}")
    assert(rows("winnow")._5 >= 0.9, s"winnow recall ${rows("winnow")._5}")
  }

  test("simhashAssignments equals pairs+CC on shared components; isolated docs self-canonical") {
    val docs = Dedup.withNearDuplicates(
      Tables.load(spark, "/root/testdata/sf0.001", "documents"))
    val assign = Dedup.simhashAssignments(docs, 6, 48)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign.size === docs.count(), "one row per doc")
    // ground truth from the enumerated form: pairs -> CC
    val canon = Dedup.canonicalAssignments(
        Dedup.simhashPairs(docs, 6, 48).select(col("id_a"), col("id_b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    canon.foreach { case (doc, c) =>
      assert(assign(doc) === c, s"doc $doc: assignment ${assign(doc)} vs pairs+CC $c")
    }
    // docs in no pair keep themselves
    assign.filterNot { case (d, _) => canon.contains(d) }.foreach { case (d, c) =>
      assert(c === d, s"isolated doc $d must be its own canonical, got $c")
    }
    assert(assign.exists { case (d, c) => d != c }, "fixture must contain real clusters")
  }

  test("simhashAssignments are plan-invariant: static, pinned wide/classic, and measured picks agree") {
    // pigeonhole exactness: ANY (m, c) with m - c >= maxHamming finds the
    // same edge set, so assignments must be byte-identical under every
    // plan — the property that makes the q212 chooser's pick safe to wire
    // in (round-10 verdict #2). Covers the full plan family the chooser
    // prices (c = 1..4) including the widest (m=10, c=4 — the 210-combo
    // plan that needed the native generator), plus the measured path.
    val docs = Dedup.withNearDuplicates(
      Tables.load(spark, "/root/testdata/sf0.001", "documents"))
    val reference = Dedup.simhashAssignments(docs, 6, 48)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reference.nonEmpty)
    val variants = Seq(
      "m=7 c=1" -> Dedup.simhashAssignments(docs, 6, 48, plan = Some((7, 1))),
      "m=8 c=2" -> Dedup.simhashAssignments(docs, 6, 48, plan = Some((8, 2))),
      "m=10 c=4" -> Dedup.simhashAssignments(docs, 6, 48, plan = Some((10, 4))),
      // below the measure floor this runs the static rule's plan (the
      // default measured path at this corpus size); the census PICK's
      // invariance is covered because the census argmin here is (7, 1)
      // — the pinned variant above
      "measured" -> Dedup.simhashAssignments(docs, 6, 48, measurePlan = true))
    variants.foreach { case (label, df) =>
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === reference, s"plan $label diverged from the static plan")
    }
    // an inexact plan must be rejected loudly, not silently drop pairs
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashAssignments(docs, 6, 48, plan = Some((6, 1))).collect()
    }
    assert(e.getMessage.contains("pigeonhole"))
  }

  test("ensemble star-form SimHash feed: survivor set identical to the exhaustive pair form") {
    val docs = Dedup.withNearDuplicates(
      Tables.load(spark, "/root/testdata/sf0.001", "documents"))
    val star = Dedup.ensembleDedupApply(docs)
      .collect().map(_.getLong(0)).toSet
    val exhaustive = Dedup.ensembleDedupApplyExhaustive(docs)
      .collect().map(_.getLong(0)).toSet
    assert(star === exhaustive,
      s"star-form survivors must match pair-form: only-star=${(star -- exhaustive).take(5)} " +
        s"only-exhaustive=${(exhaustive -- star).take(5)}")
    assert(star.size < docs.count(), "fixture must contain real duplicates")
  }

  test("hammingBandJoin at rep level == bandedHammingPairs on a distinct-hash frame, every exact plan") {
    // one row per (hash, source), as the reps frame is: a hash present in
    // two sources (0 in a and b), a null-source pair that must never join
    // (SQL equality on the block column), pairs at hamming 1..6 and
    // misses at 7 and 48
    val rows = Seq[(Long, Long, String)](
      (10L, 0L, "a"), (11L, 3L, "a"), (12L, (1L << 48) - 1, "a"),
      (13L, 0x3FL, "a"), (14L, 0x7FL, "a"),
      (20L, 0L, "b"), (21L, 1L, "b"),
      (30L, 1L, null), (31L, 0L, null))
      .toDF("doc_id", "h", "source")
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id_a"), col("id_b"), col("hamming")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val static = triples(Dedup.bandedHammingPairs(rows, "h", 48, 6, Seq("source")))
    assert(static === Set((10L, 11L, 2), (10L, 13L, 6), (11L, 13L, 4),
      (11L, 14L, 5), (13L, 14L, 1), (20L, 21L, 1)), "member-level reference sanity")
    Seq(None, Some((7, 1)), Some((8, 2)), Some((10, 4))).foreach { plan =>
      val member = triples(Dedup.bandedHammingPairs(rows, "h", 48, 6, Seq("source"), plan))
      val core = triples(Dedup.hammingBandJoin(
        rows.select(col("h"), col("source"), col("doc_id").as("rep")), "rep",
        48, 6, Seq("source"), plan))
      assert(member === static, s"plan $plan: member-level form is plan-invariant")
      assert(core === member, s"plan $plan: rep-level core diverged from the member-level form")
    }
  }

  test("ensemble candidate action: one (id_a, id_b) distinct, no hash distinct under the rep band join") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    // every node of an executed plan, through AQE's final plan and its
    // query stages (a reused exchange is counted where it was built)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _: ReusedExchangeExec => Nil
      case o => o.children.flatMap(nodes)
    })
    // the candidate action is canonicalAssignments' count of its cached
    // pair frame: capture the cached (id_a, id_b) plans the actions read
    val cachedPlans = collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        cachedPlans.synchronized {
          nodes(qe.executedPlan).collect { case m: InMemoryTableScanExec =>
            m.relation.cachedPlan }
            .filter(_.output.map(_.name) == Seq("id_a", "id_b"))
            .foreach(p => if (!cachedPlans.exists(_ eq p)) cachedPlans += p)
        }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val docs = Dedup.withNearDuplicates(
      Tables.load(spark, "/root/testdata/sf0.001", "documents"))
    spark.listenerManager.register(listener)
    try {
      assert(Dedup.ensembleDedupApply(docs).count() < docs.count())
      org.apache.spark.graftnative.TaskMetricsProbe.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(cachedPlans.size === 1, s"one candidate action expected, saw ${cachedPlans.size}")
    val plan = nodes(cachedPlans.head)
    def groupOnly(names: Set[String]) = plan.collect {
      case a: BaseAggregateExec if a.requiredChildDistributionExpressions.isDefined
        && a.aggregateExpressions.isEmpty
        && a.groupingExpressions.map(_.name).toSet == names => a
    }.size
    assert(groupOnly(Set("id_a", "id_b")) === 1,
      "the LSH and winnow joins must feed the union raw: one final distinct")
    assert(groupOnly(Set("h", "source")) === 0,
      "the reps are one row per (source, simhash): no hash distinct at rep level")
  }

  test("codegen budget: dedupApply and ensembleDedupApply compile one small set of classes") {
    // Spark's codegen cache holds 100 entries in 4 segments of 25, and a
    // local-mode whole-stage body takes two (driver and executor loader).
    // A pass over both operators that overflows a segment recompiles on
    // every call, so their distinct generated sources are a budget, as
    // jobs are: both run one plan shape (nearDupRemovals)
    val docs = Dedup.withNearDuplicates(
      Tables.load(spark, "/root/testdata/sf0.001", "documents"))
    val (ensemble, _) = codegenCensus(Dedup.ensembleDedupApply(docs).collect())
    val (both, entries) = codegenCensus {
      Dedup.dedupApply(docs).collect(); Dedup.ensembleDedupApply(docs).collect() }
    // 35, 47 and 71 when pinned; the plans before the shared core
    // compiled 59 and 67 sources in 97 entries here
    assert(ensemble <= 40, s"ensembleDedupApply compiled $ensemble distinct sources")
    assert(both <= 52 && entries <= 78,
      s"dedupApply + ensembleDedupApply compiled $both distinct sources in $entries entries")
  }

  test("lshParameterSweep: one chosen point, budget honored, band-count drives recall") {
    val corpus = Dedup.withNearDuplicates(
      Tables.load(spark, "/root/testdata/sf0.001", "documents"))
    val rows = Dedup.lshParameterSweep(corpus).collect().map { r =>
      (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getDouble(6), r.getDouble(7), r.getBoolean(8), r.getBoolean(9))
    }
    assert(rows.length === Dedup.DefaultSweepGrid.size)
    val chosen = rows.filter(_._10)
    assert(chosen.length === 1, s"exactly one chosen point: ${chosen.toSeq}")
    // the chosen point must fit the budget when ANY point does
    if (rows.exists(_._9)) assert(chosen.head._9, s"chosen point busts the budget: ${chosen.head}")
    // no config that fits the budget may out-recall the chosen one
    rows.filter(_._9).foreach { r =>
      assert(r._8 <= chosen.head._8 + 1e-12,
        s"config $r fits the budget with higher recall than chosen ${chosen.head}")
    }
    rows.foreach { case (nh, rpb, bands, nc, nt, tp, prec, recall, _, _) =>
      assert(bands === nh / rpb)
      assert(tp <= nc && tp <= nt)
      assert(math.abs(prec - tp.toDouble / nc) < 1e-12)
      assert(math.abs(recall - tp.toDouble / nt) < 1e-12)
    }
    // LSH theory sanity at fixed signature length: more bands (shorter
    // rows) can only add candidate pairs — recall is monotone in bands
    val at16 = rows.filter(_._1 == 16).sortBy(_._3)
    at16.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo._8 <= hi._8 + 1e-12,
        s"recall must be monotone in band count at numHashes=16: $lo vs $hi")
      assert(lo._4 <= hi._4, s"candidates monotone in band count: $lo vs $hi")
    }
    // and the driver-side helper agrees with the chosen row
    assert(Dedup.chooseLshParameters(corpus) === ((chosen.head._1, chosen.head._2)))
  }

  test("chunk dup_rate: exact-copy docs share every chunk; unrelated docs share none") {
    import graft.functions.TextHash
    val rnd = new scala.util.Random(23L)
    val vocab = Vector("alpha", "beta7", "gam", "delta42", "ep", "zeta")
    def mk() = (0 until 120).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val a = mk(); val c = mk()
    val docs = Seq((1L, a), (2L, a), (3L, c)).toDF("doc_id", "text")
    val chunks = docs.select(col("doc_id"),
      explode(TextHash.cdcChunkHashes(col("text"), 16)).as("packed"))
    val dfc = chunks.groupBy(col("packed"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    val rates = chunks.join(dfc, "packed").groupBy(col("doc_id"))
      .agg((sum(when(col("nd") >= 2, 1L).otherwise(0L)).cast("double")
        / count(lit(1)).cast("double")).as("rate"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rates(1L) === 1.0 && rates(2L) === 1.0, s"exact copies: $rates")
    assert(rates(3L) === 0.0, s"unrelated doc: $rates")
  }

  test("simhashPairBudget bounds the true pair output; budgeted form refuses and steers") {
    val corpus = Dedup.withNearDuplicates(
      Tables.load(spark, "/root/testdata/sf0.001", "documents"))
    for (bits <- Seq(24, 48)) {
      val truth = Dedup.simhashPairs(corpus, bits = bits).count()
      val est = Dedup.simhashPairBudget(corpus, bits = bits)
      assert(est >= truth, s"bits=$bits: budget $est must bound true output $truth")
      // a useful budget is a bound, not a wild guess: record the factor
      // and fail if it degrades past discovery-multiplicity territory
      val factor = est.toDouble / truth.max(1L)
      info(s"bits=$bits: true=$truth estimate=$est overcount x${"%.1f".format(factor)}")
      assert(factor < 100.0, s"bits=$bits estimate degenerated: x$factor")
    }
    // refusal path: a budget below the estimate throws with the steer
    val est24 = Dedup.simhashPairBudget(corpus)
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashPairsBudgeted(corpus, maxPairs = est24 - 1)
    }
    assert(e.getMessage.contains("simhashAssignments"))
    // pass path: at or above the estimate it IS simhashPairs
    assert(Dedup.simhashPairsBudgeted(corpus, maxPairs = est24).count()
      === Dedup.simhashPairs(corpus).count())
  }

  test("incrementalSimhashPairs == exhaustive cross-split hamming join (48-bit)") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"), col("source"))
    val got = Dedup.incrementalSimhashPairs(batch, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val shN = Dedup.simhash(batch, 48)
      .join(batch.select(col("doc_id"), col("source")), "doc_id")
    val shO = Dedup.simhash(docs, 48)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val want = shN.as("n").join(shO.as("o"), col("n.source") === col("o.source"))
      .select(col("n.doc_id").as("id_a"), col("o.doc_id").as("id_b"),
        bit_count(col("n.simhash").bitwiseXOR(col("o.simhash"))).cast("int").as("hamming"))
      .filter(col("hamming") <= 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(want.nonEmpty, "cross-split near-dups must exist on the injected corpus")
    assert(want.exists(_._3 == 0), "identical-fingerprint (hamming-0) pairs must be covered")
    assert(got === want)
  }

  test("native minhash kernels == composable transform/groupBy forms") {
    import spark.implicits._
    import graft.functions.TextHash
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .limit(200)
    val sh = docs.select(col("doc_id"), TextHash.shingleHashes(col("text")).as("shs"))
      .filter(size(col("shs")) > 0)
    // signatures: native one-pass minima vs the interpreted HOF pipeline
    val sigNative = Dedup.minhashSignatures(docs, 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val sigHof = sh.select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(15)), i =>
          struct(i.cast("int").as("i"),
            array_min(transform(col("shs"), s => TextHash.permute(i, s))).as("mh"))))
          .as("sig"))
      .select(col("doc_id"), col("sig.i"), col("sig.mh"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(sigNative === sigHof)
    // bands: fused per-row kernel vs explode + groupBy over the signatures
    val bandsNative = Dedup.minhashBands(docs, 16, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val bandsAgg = Dedup.lshBands(Dedup.minhashSignatures(docs, 16), 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(bandsNative === bandsAgg)
  }

  test("native simhash pack == composable explode/groupBy form") {
    import graft.functions.TextHash
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .limit(200)
    for (bits <- Seq(24, 48)) {
      val native = Dedup.simhash(docs, bits)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // the pre-kernel form: explode words, per-bit conditional +/-1 sums
      // over permuted 24-bit blocks, pack bits where the sum is positive
      val numBlocks = (bits + 23) / 24
      val exploded = docs
        .select(col("doc_id"), explode(TextHash.wordHashes(col("text"))).as("wh"))
      val blockHashes = (0 until numBlocks).map { k =>
        (if (k == 0) col("wh") else TextHash.permute(lit(k), col("wh"))).as(s"whb$k")
      }
      val withBlocks = exploded.select(col("doc_id") +: blockHashes: _*)
      val sums = (0 until bits).map(b =>
        sum(when(shiftright(col(s"whb${b / 24}"), b % 24) % 2 === 1, 1)
          .otherwise(-1)).as(s"b$b"))
      val packed = (0 until bits).map(b =>
        when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _)
      val agg = withBlocks.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
        .select(col("doc_id"), packed.as("simhash"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(native === agg, s"simhash mismatch at bits=$bits")
    }
  }
}
