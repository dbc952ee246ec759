package graft

import java.nio.file.Files

/** End-to-end `Cli dedup`: a corpus with an exact duplicate and a
  * near-duplicate collapses to its canonical survivors on disk. */
class CliDedupSpec extends SparkSpec {

  test("dedup subcommand keeps canonical docs only") {
    import spark.implicits._
    val dir = Files.createTempDirectory("clidedup").toString
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    Seq(
      (1L, base, "s"), // canonical of the near-dup pair
      (2L, base + " w13", "s"), // near-dup of 1 -> removed
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8", "s"), // unique -> kept
      (4L, "z1 z2 z3 z4 z5 z6 z7 z8", "s")) // exact dup of 3 -> removed
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/corpus")
    Cli.run(spark, List("dedup", s"$dir/corpus", s"$dir/out"))
    val kept = spark.read.parquet(s"$dir/out/deduped")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 3L))
  }

  test("plan subcommand sizes every applicable chooser for a table") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("cliplan").toString
    // text table -> the q205 LSH sweep and the q212 hamming census
    graft.operators.Dedup.withNearDuplicates(
        Tables.load(spark, "/root/testdata/sf0.001", "documents"))
      .write.parquet(s"$dir/docs")
    Cli.run(spark, List("plan", s"$dir/docs", s"$dir/outd"))
    val lsh = spark.read.parquet(s"$dir/outd/lsh_plans.parquet")
    assert(lsh.filter(col("chosen")).count() === 1)
    val ham = spark.read.parquet(s"$dir/outd/hamming_plans.parquet")
    assert(ham.filter(col("chosen")).count() === 1)
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/outd/embed_plans.parquet")))
    // embedding table -> the q219 chooser (incl. the two-level plan)
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .write.parquet(s"$dir/emb")
    Cli.run(spark, List("plan", s"$dir/emb", s"$dir/oute"))
    val ep = spark.read.parquet(s"$dir/oute/embed_plans.parquet")
    assert(ep.filter(col("chosen")).count() === 1)
    assert(ep.collect().map(_.getAs[String]("plan")).exists(_.startsWith("ivf2_")),
      "the chooser table must include the two-level plan")
  }

  test("dedup --ensemble catches a reordered near-dup LSH banding can miss") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cliensemble").toString
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    Seq(
      (1L, base, "s"),
      (2L, base + " w13", "s"), // near-dup of 1 -> removed either way
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8", "s"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/corpus")
    Cli.run(spark, List("dedup", s"$dir/corpus", s"$dir/out",
      "--ensemble", "true"))
    val kept = spark.read.parquet(s"$dir/out/deduped")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 3L))
  }

  test("dedup --autotune sweeps LSH parameters and still keeps canonical docs only") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cliautotune").toString
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    Seq(
      (1L, base, "s"),
      (2L, base + " w13", "s"), // near-dup of 1 -> removed
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8", "s"),
      (4L, "z1 z2 z3 z4 z5 z6 z7 z8", "s")) // exact dup of 3 -> removed
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/corpus")
    Cli.run(spark, List("dedup", s"$dir/corpus", s"$dir/out",
      "--autotune", "true"))
    val kept = spark.read.parquet(s"$dir/out/deduped")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 3L))
  }

  test("dedup rejects --ensemble with --autotune before the LSH sweep runs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cliensembletune").toString
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    Seq((1L, base, "s"), (2L, base + " w13", "s"), (3L, "z1 z2 z3 z4 z5 z6 z7 z8", "s"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/corpus")
    // the ensemble bands with fixed parameters, so a swept choice would
    // be printed and then silently ignored
    val out = new java.io.ByteArrayOutputStream()
    val e = intercept[IllegalArgumentException] {
      Console.withOut(out) {
        Cli.run(spark, List("dedup", s"$dir/corpus", s"$dir/out",
          "--ensemble", "true", "--autotune", "true"))
      }
    }
    assert(e.getMessage.contains("--autotune"), e.getMessage)
    assert(!out.toString("UTF-8").contains("autotune: chose"), "the sweep must not run")
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/out/deduped")))
  }

  test("release subcommand: dedup -> decontaminate -> quality -> redact -> pack, manifest accounts every drop") {
    import spark.implicits._
    // the same release into a plain path and into a `file:` URI of a directory
    Seq[String => String](identity, p => s"file://$p").foreach { asLocation =>
      val dir = Files.createTempDirectory("clirelease").toString
      def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
      val keepA = words("w", 24)                       // survives everything
      val keepB = words("z", 19) + " bob@mail.com"     // 20 tokens, email gets redacted
      val contaminated = words("c", 20)                // c1..c13 is a bench 13-gram
      Seq(
        (1L, keepA, "en", "web", keepA.length.toLong),
        (2L, keepA, "en", "web", keepA.length.toLong),                    // exact dup -> dropped
        (3L, words("w", 24).split(" ").drop(1).mkString(" ") + " extra1", // near dup of 1 -> dropped
          "en", "web", 10L),
        (4L, "too short to keep", "en", "web", 17L),                      // quality drop
        (5L, contaminated, "en", "web", contaminated.length.toLong),      // decon drop
        (6L, keepB, "de", "book", keepB.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/corpus")
      Seq((100L, words("c", 13))).toDF("doc_id", "text")
        .write.parquet(s"$dir/bench")

      Cli.run(spark, List("release", s"$dir/corpus", asLocation(s"$dir/out"),
        "--bench", s"$dir/bench", "--seq-len", "16"))

      val manifest = new String(Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/out/manifest.json")), "UTF-8")
      assert(manifest.contains("\"read\":6") && manifest.contains("\"after_dedup\":4")
        && manifest.contains("\"after_decontamination\":3") && manifest.contains("\"released\":2"),
        s"stage accounting wrong: $manifest")
      val released = spark.read.parquet(s"$dir/out/docs")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(released.keySet === Set(1L, 6L))
      assert(released(6L).endsWith("<EMAIL>"), s"PII must be redacted: ${released(6L)}")
      assert(spark.read.parquet(s"$dir/out/packed").count() > 0)
      assert(spark.read.parquet(s"$dir/out/card").collect()
        .map(_.getString(0)).toSet === Set("web", "book"))
    }
  }

  test("embindex + emb-ingest-dedup: semantic arrival path from the command line") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cliemb").toString
    def vec(d: Int, scale: Float) =
      (0 until 64).map(i => if (i == d) scale else 0f).toArray
    Seq((1L, vec(0, 1f)), (2L, vec(7, 1f)), (3L, vec(13, 1f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/emb")
    // batch: a scaled copy of corpus vec 1 (cos 1 -> dup) and a new axis
    Seq((101L, vec(0, 0.5f)), (102L, vec(30, 1f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/batch")

    Cli.run(spark, List("embindex", s"$dir/emb", s"$dir/idx", "--buckets", "4"))
    Cli.run(spark, List("emb-ingest-dedup", s"$dir/batch", s"$dir/idx", s"$dir/out",
      "--buckets", "4", "--fold", "true"))
    val clean = spark.read.parquet(s"$dir/out/clean").collect().map(_.getLong(0)).toSet
    assert(clean === Set(102L), s"the scaled copy must dedup out: $clean")

    // a copy of the FOLDED vector now deduped against the appended index
    Seq((201L, vec(30, 2f))).toDF("vec_id", "embedding")
      .write.parquet(s"$dir/batch2")
    Cli.run(spark, List("emb-ingest-dedup", s"$dir/batch2", s"$dir/idx", s"$dir/out2",
      "--buckets", "4"))
    assert(spark.read.parquet(s"$dir/out2/clean").count() === 0,
      "fold must make the accepted vector part of the corpus")
  }

  test("embindex --plan measured builds the chooser's pick and the arrival path still works") {
    import org.apache.spark.sql.functions.col
    val Sim = graft.operators.Similarity
    val dir = Files.createTempDirectory("cliembplan").toString
    Seq("graft_cidx_ivfcells", "graft_cidx_ivfcentroids", "graft_cidx_ivfcensus",
      "graft_cidx_ivfcoarse").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    emb.write.parquet(s"$dir/emb")
    // the test follows the chooser rather than assuming its argmin (at
    // this 500-vector corpus it picks the flat cell form; the decision
    // is data, not a constant) — assert the CHOSEN form's files landed
    // and the matching arrival path finds an exact copy
    val chosen = Sim.embedPlanCosts(emb).collect()
      .find(_.getAs[Boolean]("chosen")).get.getAs[String]("plan")
    Cli.run(spark, List("embindex", s"$dir/emb", s"$dir/idx",
      "--buckets", "4", "--plan", "measured"))
    val copy = emb.filter(col("vec_id") === 0L)
      .select((col("vec_id") + 9000000L).as("vec_id"), col("embedding"))
    if (chosen.startsWith("bands_")) {
      assert(new java.io.File(s"$dir/idx/embbands").exists, s"$chosen -> band files")
      copy.write.parquet(s"$dir/batch")
      Cli.run(spark, List("emb-ingest-dedup", s"$dir/batch", s"$dir/idx", s"$dir/out",
        "--buckets", "4"))
      assert(spark.read.parquet(s"$dir/out/clean").count() === 0,
        "the exact copy must dedup against the measured-plan band index")
    } else {
      assert(new java.io.File(s"$dir/idx/ivfcells").exists, s"$chosen -> cell files")
      assert(new java.io.File(s"$dir/idx/ivfcoarse").exists === chosen.startsWith("ivf2_"),
        "coarse quantizer files iff the two-level plan was chosen")
      // the SAME CLI arrival path must consume the cell form (round-11
      // ADVICE: it used to register sign-bands unconditionally and fail
      // on missing embbands files)
      Seq("graft_cidx_ivfcells", "graft_cidx_ivfcentroids", "graft_cidx_ivfcensus",
        "graft_cidx_ivfcoarse").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      copy.write.parquet(s"$dir/batch")
      Cli.run(spark, List("emb-ingest-dedup", s"$dir/batch", s"$dir/idx", s"$dir/out",
        "--buckets", "4"))
      assert(spark.read.parquet(s"$dir/out/clean").count() === 0,
        "the exact copy must dedup against the measured-plan cell index via the CLI")
      Seq("graft_cidx_ivfcells", "graft_cidx_ivfcentroids", "graft_cidx_ivfcensus",
        "graft_cidx_ivfcoarse").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  /** The chooser picks the sign-band form at the 500-vector corpus, so
    * the branch above rarely exercises the cell-form arrival — this
    * forces it: a cell index (flat) at a location, then the SAME
    * `emb-ingest-dedup` verb must detect the form, probe it, and fold
    * survivors back in (round-11 ADVICE). */
  test("emb-ingest-dedup consumes a cell-form index: probe, clean, fold") {
    import org.apache.spark.sql.functions.col
    val Sim = graft.operators.Similarity
    val dir = Files.createTempDirectory("clicellingest").toString
    val tables = Seq("graft_cidx_ivfcells", "graft_cidx_ivfcentroids",
      "graft_cidx_ivfcensus", "graft_cidx_ivfcoarse")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
        .select(col("vec_id"), col("embedding"))
      Sim.writeCellIndex(emb, "graft_cidx", buckets = 4,
        location = Some(s"$dir/idx"))
      // batch: an exact copy (dups out) + the same vector negated
      // (novel; stays clean and folds in)
      val one = emb.filter(col("vec_id") === 0L)
      one.select((col("vec_id") + 9000000L).as("vec_id"), col("embedding"))
        .union(one.select((col("vec_id") + 9000001L).as("vec_id"),
          org.apache.spark.sql.functions.transform(col("embedding"),
            x => -x).as("embedding")))
        .write.parquet(s"$dir/batch")
      // fresh-session shape: the CLI must re-attach from files alone
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Cli.run(spark, List("emb-ingest-dedup", s"$dir/batch", s"$dir/idx", s"$dir/out",
        "--buckets", "4", "--fold", "true"))
      val clean = spark.read.parquet(s"$dir/out/clean")
        .collect().map(_.getLong(0)).toSet
      assert(clean === Set(9000001L),
        s"copy dedups, negation survives: $clean")
      val pairs = spark.read.parquet(s"$dir/out/pairs")
      assert(pairs.columns.toSeq === Seq("new_id", "old_id", "cos"),
        "cell-form arrival must keep the sign-band path's output contract")
      // the fold made the accepted vector part of the corpus: a copy of
      // IT now dedups too
      one.select((col("vec_id") + 9000002L).as("vec_id"),
          org.apache.spark.sql.functions.transform(col("embedding"),
            x => -x).as("embedding"))
        .write.parquet(s"$dir/batch2")
      Cli.run(spark, List("emb-ingest-dedup", s"$dir/batch2", s"$dir/idx", s"$dir/out2",
        "--buckets", "4"))
      assert(spark.read.parquet(s"$dir/out2/clean").count() === 0,
        "fold must make the accepted vector probe-able")
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("card subcommand writes the per-source summary") {
    import spark.implicits._
    val dir = Files.createTempDirectory("clicard").toString
    Seq(
      (1L, "a b c", "en", "web", 5L),
      (2L, "a b c", "en", "web", 5L),
      (3L, "d e f g", "de", "book", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/corpus")
    Cli.run(spark, List("card", s"$dir/corpus", s"$dir/out"))
    val card = spark.read.parquet(s"$dir/out/card")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(6)))).toMap
    assert(card === Map("web" -> ((2L, 1L, "en")), "book" -> ((1L, 0L, "de"))))
  }

  test("bandindex + ingest-dedup subcommands dedup a batch against the index") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cliingest").toString
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    Seq((1L, base, "s"), (2L, "z1 z2 z3 z4 z5 z6 z7 z8", "s"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/corpus")
    // batch: a near-copy of doc 1 (one token appended) and a novel doc
    Seq((10L, base + " w13", "s"), (11L, "q1 q2 q3 q4 q5 q6 q7 q8", "s"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/batch")
    spark.sql("DROP TABLE IF EXISTS graft_idx_bands")
    spark.sql("DROP TABLE IF EXISTS graft_idx_sets")
    try {
      Cli.run(spark, List("bandindex", s"$dir/corpus", s"$dir/idx", "--buckets", "4"))
      // simulate the second CLI invocation's fresh catalog
      spark.sql("DROP TABLE graft_idx_bands")
      spark.sql("DROP TABLE graft_idx_sets")
      Cli.run(spark, List("ingest-dedup", s"$dir/batch", s"$dir/idx", s"$dir/out",
        "--buckets", "4", "--fold", "true"))
      val pairs = spark.read.parquet(s"$dir/out/pairs")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(pairs === Seq((10L, 1L)))
      val clean = spark.read.parquet(s"$dir/out/clean")
        .collect().map(_.getLong(0)).toSeq
      assert(clean === Seq(11L))
      // --fold appended the accepted doc 11: a later batch duplicating it
      // must now pair against the index (continuous ingest, no rebuild).
      // Exact copy on purpose: identical shingles guarantee a band match,
      // so this pins the fold plumbing, not LSH recall odds
      Seq((20L, "q1 q2 q3 q4 q5 q6 q7 q8", "s"))
        .toDF("doc_id", "text", "source").write.parquet(s"$dir/batch2")
      Cli.run(spark, List("ingest-dedup", s"$dir/batch2", s"$dir/idx", s"$dir/out2",
        "--buckets", "4"))
      val pairs2 = spark.read.parquet(s"$dir/out2/pairs")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(pairs2 === Seq((20L, 11L)), "folded doc not probed by the next batch")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_idx_bands")
      spark.sql("DROP TABLE IF EXISTS graft_idx_sets")
    }
  }

  test("curate subcommand writes verdicts, pii counts, and packed bins") {
    import spark.implicits._
    val dir = Files.createTempDirectory("clicurate").toString
    val long40 = (1 to 40).map(i => s"tok$i").mkString(" ")
    Seq(
      (1L, long40, "s"), // keeper: 40 distinct tokens
      (2L, "a b c", "s"), // too_short
      (5L, long40 + " tail", "s")) // keeper + injected-PII id (5 % 5 == 0)
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/corpus")
    Cli.run(spark, List("curate", s"$dir/corpus", s"$dir/out"))
    val verdicts = spark.read.parquet(s"$dir/out/verdicts")
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(verdicts === Map(1L -> "ok", 2L -> "too_short", 5L -> "ok"))
    val packedIds = spark.read.parquet(s"$dir/out/packed")
      .collect().flatMap(_.getString(2).split(",")).map(_.toLong).toSet
    assert(packedIds === Set(1L, 5L)) // only keepers are packed
    assert(spark.read.parquet(s"$dir/out/pii").count() === 3)
  }

  test("bpe subcommand writes the learned merge table") {
    import spark.implicits._
    val dir = Files.createTempDirectory("clibpe").toString
    Seq((1L, "ab ab ab cd", "s"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/corpus")
    Cli.run(spark, List("bpe", s"$dir/corpus", s"$dir/out", "--merges", "3"))
    val merges = spark.read.parquet(s"$dir/out/merges")
      .collect().map(r => (r.getInt(0), r.getString(3))).sorted.toSeq
    assert(merges === Seq((1, "ab"), (2, "cd")), s"merge table on disk: $merges")
  }

  test("dedup-eval subcommand writes the 3-family precision/recall report") {
    import spark.implicits._
    val dir = Files.createTempDirectory("clideval").toString
    graft.operators.Dedup.withNearDuplicates(
        Tables.load(spark, "/root/testdata/sf0.001", "documents"))
      .write.parquet(s"$dir/corpus")
    Cli.run(spark, List("dedup-eval", s"$dir/corpus", s"$dir/out"))
    val rows = spark.read.parquet(s"$dir/out/family_eval")
      .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
    assert(rows.keySet === Set("minhash_lsh", "simhash", "winnow"))
    assert(rows("winnow") >= 0.9, s"winnow recall on disk: $rows")
  }
}
