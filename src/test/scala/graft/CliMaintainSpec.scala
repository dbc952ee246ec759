package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** End-to-end `Cli maintain`: the table-maintenance tier driven the way
  * a maintenance service would — a compaction plan from a file
  * manifest, a snapshot diff exercising all four change classes, and a
  * checksum/checksum-diff round trip that localizes a tampered row to
  * its key range. */
class CliMaintainSpec extends SparkSpec {

  test("sketch quantiles + overlap run end-to-end from parquet to report files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("clisketch").toString
    (1 to 4000).map(i => (s"s${i % 2}", (i % (900 + 100 * (i % 2))).toLong))
      .toDF("src", "uid").write.parquet(s"$dir/t")

    Cli.run(spark, List("sketch", "quantiles", s"$dir/t", s"$dir/q",
      "--group-col", "src", "--value-col", "uid", "--ps", "0.5,0.9", "--k", "128"))
    val q = spark.read.parquet(s"$dir/q/quantiles").collect()
    assert(q.length === 4, "2 groups x 2 ps")
    assert(q.forall(r => r.getLong(3) === 2000L), "per-group exact n carried")

    Cli.run(spark, List("sketch", "overlap", s"$dir/t", s"$dir/o",
      "--group-col", "src", "--value-col", "uid"))
    val o = spark.read.parquet(s"$dir/o/overlap").collect()
    assert(o.length === 1)
    val r = o.head
    assert((r.getString(0), r.getString(1)) === ("s0", "s1"))
    // s0 = {0..899}, s1 = {0..999}: union truth 1000, overlap truth 900
    assert(math.abs(r.getDouble(4) - 1000) <= 400, s"union est ${r.getDouble(4)}")
  }

  test("hll store lifecycle: build + appends serve EXACTLY the direct sketch of all rows; compact preserves it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("clihll").toString
    def part(lo: Int, hi: Int) =
      (lo until hi).map(i => (s"g${i % 3}", (i % (400 + 100 * (i % 3))).toLong))
    part(0, 3000).toDF("g", "uid").write.parquet(s"$dir/base")
    part(3000, 4000).toDF("g", "uid").write.parquet(s"$dir/b1")
    part(4000, 5000).toDF("g", "uid").write.parquet(s"$dir/b2")

    Cli.run(spark, List("sketch", "hll-build", s"$dir/base", s"$dir/sk"))
    Cli.run(spark, List("sketch", "hll-append", s"$dir/b1", s"$dir/sk"))
    Cli.run(spark, List("sketch", "hll-append", s"$dir/b2", s"$dir/sk"))

    def report() = graft.operators.QualityChecks.hllStoreReport(spark, s"$dir/sk")
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getDouble(2))).toMap
    // register merge is lossless: store == one-shot sketch of ALL rows
    val direct = graft.operators.QualityChecks
      .hllDistinct(part(0, 5000).toDF("g", "uid"), "g", "uid")
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(report() === direct, "build + 2 appends == direct sketch, bit for bit")

    Cli.run(spark, List("sketch", "hll-compact", s"$dir/sk"))
    assert(report() === direct, "compact preserves the merged registers exactly")
    assert(new java.io.File(s"$dir/sk/v1/_GRAFT_OK").exists, "compact commits v1")
    assert(new java.io.File(s"$dir/sk/v0").exists, "previous version retained one cycle")
    // appends after compact land in the new current version
    Cli.run(spark, List("sketch", "hll-append", s"$dir/b1", s"$dir/sk"))
    assert(report() === direct, "re-appending seen rows changes nothing (max is idempotent)")
  }

  test("hll store compact folds a late append into the old version instead of dropping it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("clihllrace").toString
    def rows(lo: Int, hi: Int) = (lo until hi).map(i => (s"g${i % 3}", i.toLong))
    rows(0, 2000).toDF("g", "uid").write.parquet(s"$dir/base")
    Cli.run(spark, List("sketch", "hll-build", s"$dir/base", s"$dir/sk"))
    Cli.run(spark, List("sketch", "hll-compact", s"$dir/sk")) // v0 + v1 exist

    // Simulate the race ADVICE flagged: an append that resolved v0 as
    // current WHILE the compact above was committing v1 lands its
    // register files in v0 after the merge read it. Reproduce the end
    // state deterministically by writing the batch's registers straight
    // into v0 (exactly what hllStoreAppend does to whichever version it
    // resolved).
    val late = rows(2000, 3000).toDF("g", "uid")
    graft.operators.QualityChecks.hllRegisters(
        late.select(col("g").cast("string").as("g"), col("uid")), Seq("g"), "uid")
      .write.mode("append").parquet(s"$dir/sk/v0")

    // The NEXT compact deletes v0 — pre-fix it read only v1, so the late
    // registers were dropped and estimates undercounted. Post-fix compact
    // merges every committed version, so v0's late files fold into v2.
    Cli.run(spark, List("sketch", "hll-compact", s"$dir/sk"))
    val report = graft.operators.QualityChecks.hllStoreReport(spark, s"$dir/sk")
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val direct = graft.operators.QualityChecks
      .hllDistinct(rows(0, 3000).toDF("g", "uid"), "g", "uid")
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(report === direct,
      "late append into the retained old version survives its deletion, bit for bit")
    assert(!new java.io.File(s"$dir/sk/v0").exists, "old version still dropped")
    assert(new java.io.File(s"$dir/sk/v2/_GRAFT_OK").exists, "compact committed v2")
  }

  /** Round-11 verdict #7a: one status verb across the persisted-index
    * forms. Detection + drift verdict per form; empty dirs fail loudly. */
  test("index-status detects each index form and reports its drift verdict") {
    import spark.implicits._
    val tables = Seq("graft_idx_bands", "graft_idx_sets", "graft_idx_bandcensus",
      "graft_cidx_ivfcells", "graft_cidx_ivfcentroids", "graft_cidx_ivfcensus",
      "graft_cidx_ivfcoarse")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val dir = Files.createTempDirectory("cliidxstatus").toString
    try {
      // text band index with census -> "band ... ok"
      Seq((1L, "alpha beta gamma delta epsilon zeta", "w"),
          (2L, "one two three four five six seven", "w"))
        .toDF("doc_id", "text", "source")
        .write.parquet(s"$dir/corpus")
      Cli.run(spark, List("bandindex", s"$dir/corpus", s"$dir/bidx", "--buckets", "2"))
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) {
        Cli.run(spark, List("index-status", s"$dir/bidx", "--buckets", "2"))
      }
      val s1 = out.toString
      assert(s1.contains("index-status band") && s1.contains("ok"), s1)
      // round-13 verdict #4: the verdict line quotes its measured price
      assert(s1.contains("price:") && s1.contains("candidates/probe")
        && s1.contains("index_drift_scales.json"),
        s"band status must quote the sweep-measured probe-cost price: $s1")

      // cell index at another location -> "cell ... ok"
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
        .select(col("vec_id"), col("embedding"))
      graft.operators.Similarity.writeCellIndex(emb, "graft_cidx",
        buckets = 2, location = Some(s"$dir/cidx"))
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      val out2 = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out2)) {
        Cli.run(spark, List("index-status", s"$dir/cidx", "--buckets", "2"))
      }
      val s2 = out2.toString
      assert(s2.contains("index-status cell") && s2.contains("ok"), s2)
      // cell tier prices in recall (the quantizer is what drift degrades)
      assert(s2.contains("price:") && s2.contains("recall")
        && s2.contains("index_drift_scales.json"),
        s"cell status must quote the sweep-measured recall price: $s2")

      // --json true: one machine-readable line per form (round-12 #7a)
      val out3 = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out3)) {
        Cli.run(spark, List("index-status", s"$dir/cidx", "--buckets", "2",
          "--json", "true"))
      }
      val s3 = out3.toString.trim
      assert(s3.startsWith("""{"form":"cell"""") && s3.contains(""""stale":false"""), s3)
      // the --json shape carries the price fields and still parses
      // (round-13 verdict #4 "CliMaintainSpec pins the JSON shape")
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s3)
      assert(node.get("price_recall_loss_drifted_pct") != null
        && node.get("price_recall_loss_drifted_pct").isNumber, s3)
      assert(node.get("price_recall_loss_aggregate_pct") != null, s3)
      assert(node.get("price_source").asText === "index_drift_scales.json", s3)

      // nothing there -> loud
      val e = intercept[IllegalArgumentException] {
        Cli.run(spark, List("index-status", s"$dir/empty"))
      }
      assert(e.getMessage.contains("no graft index"))
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** Two rewrites retire an index's v0 directory (keep-top-2 cleanup);
    * the index verbs must still find the index by its committed
    * versions, never by the v0 directory's name. */
  test("index verbs find an index after rewrites retire its v0 directory") {
    import spark.implicits._
    val tables = Seq("graft_idx_bands", "graft_idx_sets", "graft_idx_bandcensus",
      "graft_eidx_embbands", "graft_eidx_embvecs", "graft_eidx_embcensus")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val dir = Files.createTempDirectory("cliidxversions").toString
    def status(loc: String): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) {
        Cli.run(spark, List("index-status", loc, "--buckets", "2"))
      }
      out.toString
    }
    try {
      Seq((1L, "alpha beta gamma delta epsilon zeta", "w"),
          (2L, "one two three four five six seven", "w"))
        .toDF("doc_id", "text", "source")
        .write.parquet(s"$dir/corpus")
      Cli.run(spark, List("bandindex", s"$dir/corpus", s"$dir/bidx", "--buckets", "2"))
      Cli.run(spark, List("compact-index", s"$dir/bidx", "--buckets", "2"))
      Cli.run(spark, List("compact-index", s"$dir/bidx", "--buckets", "2"))
      assert(!new java.io.File(s"$dir/bidx/bands").exists, "two rewrites retire v0")
      val s1 = status(s"$dir/bidx")
      assert(s1.contains("index-status band") && s1.contains("ok"), s1)

      // an embedding index rebuilt three times: v0 is gone, the arrival
      // path still detects and probes it
      def vec(d: Int, scale: Float) =
        (0 until 64).map(i => if (i == d) scale else 0f).toArray
      Seq((1L, vec(0, 1f)), (2L, vec(7, 1f)), (3L, vec(13, 1f)))
        .toDF("vec_id", "embedding").write.parquet(s"$dir/emb")
      Seq((101L, vec(0, 0.5f)), (102L, vec(30, 1f)))
        .toDF("vec_id", "embedding").write.parquet(s"$dir/batch")
      (1 to 3).foreach(_ =>
        Cli.run(spark, List("embindex", s"$dir/emb", s"$dir/eidx", "--buckets", "2")))
      assert(!new java.io.File(s"$dir/eidx/embbands").exists, "rebuilds retire v0")
      Cli.run(spark, List("emb-ingest-dedup", s"$dir/batch", s"$dir/eidx", s"$dir/out",
        "--buckets", "2"))
      val clean = spark.read.parquet(s"$dir/out/clean").collect().map(_.getLong(0)).toSet
      assert(clean === Set(102L), s"the scaled copy must dedup out: $clean")
      assert(status(s"$dir/eidx").contains("index-status emb-band"))
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** `ingest-dedup --fold true` evaluates the probe once: `clean` derives
    * from the written `pairs`, and both equal the library probe's
    * output. The verb's job count is pinned at this plan's count (34 jobs
    * when `clean` re-ran the probe and the read-backs inferred schemas). */
  test("ingest-dedup probes once: pairs and clean equal the library probe, in fewer jobs") {
    import spark.implicits._
    val tables = Seq("graft_idx_bands", "graft_idx_sets", "graft_idx_bandcensus")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val dir = Files.createTempDirectory("cliingestonce").toString
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta", "web"),
      (20L, "one two three four five six seven eight nine", "web"),
      (30L, "red orange yellow green blue indigo violet ultra", "book"))
    try {
      docs.toDF("doc_id", "text", "source").write.parquet(s"$dir/corpus")
      // near-copies of 10 and 20 (first token dropped) and a novel doc
      (docs.take(2).map { case (id, t, src) => (id + 1000L, t.split(' ').tail.mkString(" "), src) } :+
          ((1099L, "completely unrelated content lives over here now", "book")))
        .toDF("doc_id", "text", "source").write.parquet(s"$dir/batch")
      Cli.run(spark, List("bandindex", s"$dir/corpus", s"$dir/idx", "--buckets", "2"))
      val batch = spark.read.parquet(s"$dir/batch")
      val want = graft.operators.Dedup.incrementalNearDupPairsIndexed(spark, batch, "graft_idx")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(want.map(_._1) === Set(1010L, 1020L), want)
      val jobs = jobsIn(Cli.run(spark, List("ingest-dedup", s"$dir/batch", s"$dir/idx",
        s"$dir/out", "--buckets", "2", "--fold", "true")))
      val pairs = spark.read.parquet(s"$dir/out/pairs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pairs === want)
      val clean = spark.read.parquet(s"$dir/out/clean").collect().map(_.getLong(0)).toSet
      assert(clean === Set(1099L))
      assert(jobs <= 21, s"ingest-dedup --fold ran $jobs jobs")
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** compact-index and delete-index act on every kind at the location
    * (here the embedding sign-band index); delete-index needs each
    * kind's id column; a location without an index fails these verbs,
    * ingest-dedup and dedup --index before anything is registered or
    * written. */
  test("compact-index and delete-index rewrite every index kind at the location") {
    import spark.implicits._
    val tables = Seq("graft_idx_bands", "graft_idx_sets", "graft_idx_bandcensus",
      "graft_eidx_embbands", "graft_eidx_embvecs", "graft_eidx_embcensus")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val dir = Files.createTempDirectory("cliidxkinds").toString
    val idx = s"$dir/eidx"
    def vec(d: Int, scale: Float) =
      (0 until 64).map(i => if (i == d) scale else 0f).toArray
    def ingest(out: String, rows: (Long, Array[Float])*): Set[Long] = {
      rows.toDF("vec_id", "embedding").write.mode("overwrite").parquet(s"$dir/$out-in")
      Cli.run(spark, List("emb-ingest-dedup", s"$dir/$out-in", idx, s"$dir/$out",
        "--buckets", "2", "--fold", "true"))
      spark.read.parquet(s"$dir/$out/clean").collect().map(_.getLong(0)).toSet
    }
    def current = graft.operators.Bucketing.currentDir(spark, idx, "embbands")
    try {
      Seq((1L, vec(0, 1f)), (2L, vec(7, 1f)), (3L, vec(13, 1f)))
        .toDF("vec_id", "embedding").write.parquet(s"$dir/emb")
      Cli.run(spark, List("embindex", s"$dir/emb", idx, "--buckets", "2"))
      assert(ingest("o1", 101L -> vec(0, 0.5f), 102L -> vec(30, 1f)) === Set(102L))

      Cli.run(spark, List("compact-index", idx, "--buckets", "2"))
      assert(current.endsWith("embbands__v1"), current)

      // ids without the kind's id column: loud, and nothing is rewritten
      Seq(1L).toDF("doc_id").write.parquet(s"$dir/bad-ids")
      val bad = intercept[IllegalArgumentException] {
        Cli.run(spark, List("delete-index", idx, s"$dir/bad-ids", "--buckets", "2"))
      }
      assert(bad.getMessage.contains("vec_id"), bad.getMessage)
      assert(current.endsWith("embbands__v1"), current)

      // take down vec 1: its copy is new again; the folded 102 still matches
      Seq(1L).toDF("vec_id").write.parquet(s"$dir/ids")
      Cli.run(spark, List("delete-index", idx, s"$dir/ids", "--buckets", "2"))
      assert(current.endsWith("embbands__v2"), current)
      assert(ingest("o2", 201L -> vec(0, 2f), 202L -> vec(30, 2f)) === Set(201L))

      // no index at the location: the verbs fail before registering;
      // ingest-dedup neither reads every doc as new nor lays an index
      // down, and dedup's --index census does not read 0 docs
      Seq((1L, "alpha beta gamma delta epsilon", "w")).toDF("doc_id", "text", "source")
        .write.parquet(s"$dir/docs")
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Seq(List("compact-index", s"$dir/none"),
          List("delete-index", s"$dir/none", s"$dir/ids"),
          List("ingest-dedup", s"$dir/ids", s"$dir/none", s"$dir/out-none",
            "--fold", "true"),
          List("dedup", s"$dir/docs", s"$dir/out-dedup", "--ensemble", "true",
            "--hamming-plan", "measured", "--index", s"$dir/none")).foreach { args =>
        val e = intercept[IllegalArgumentException](Cli.run(spark, args))
        assert(e.getMessage.contains("no graft index"), e.getMessage)
      }
      assert(tables.forall(t => !spark.catalog.tableExists(t)),
        "a failed verb must register nothing")
      assert(!new java.io.File(s"$dir/none").exists, "a failed verb must write nothing")
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("maintain compact-plan bins a file manifest to the target size") {
    import spark.implicits._
    val dir = Files.createTempDirectory("climaintain").toString
    // 6 files, 100 bytes each, target 250: prefix sums 0,100,...,500
    // div 250 -> bins 0,0,0,1,1,2
    (1L to 6L).map(i => (i, 100L)).toDF("file_id", "bytes")
      .write.parquet(s"$dir/manifest")
    Cli.run(spark, List("maintain", "compact-plan", s"$dir/manifest",
      s"$dir/out", "--target", "250"))
    val bins = spark.read.parquet(s"$dir/out/compaction_plan")
      .orderBy("bin").collect()
      .map(r => (r.getLong(r.fieldIndex("bin")),
        r.getLong(r.fieldIndex("n_files")),
        r.getLong(r.fieldIndex("total_bytes"))))
    assert(bins.toSeq === Seq((0L, 3L, 300L), (1L, 2L, 200L), (2L, 1L, 100L)))
  }

  test("maintain compact-plan resolves columns by name, not position, and fails loudly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("climaintain2").toString
    // column order swapped vs (id, bytes) — positional guessing would have
    // silently binned on file_id as the byte count
    (1L to 4L).map(i => (100L, i)).toDF("bytes", "file_id")
      .write.parquet(s"$dir/swapped")
    Cli.run(spark, List("maintain", "compact-plan", s"$dir/swapped",
      s"$dir/out1", "--target", "250"))
    val total = spark.read.parquet(s"$dir/out1/compaction_plan")
      .agg(org.apache.spark.sql.functions.sum("total_bytes")).collect().head.getLong(0)
    assert(total === 400L, "must sum the `bytes` column, not the positional second column")

    // single-column manifest: must fail with a usage message naming the
    // flag, not an IndexOutOfBoundsException
    Seq(1L, 2L).toDF("file_id").write.parquet(s"$dir/onecol")
    val e = intercept[RuntimeException] {
      Cli.run(spark, List("maintain", "compact-plan", s"$dir/onecol", s"$dir/out2"))
    }
    assert(e.getMessage.contains("--bytes-col"), s"unhelpful error: ${e.getMessage}")

    // explicit flag pointing at a missing column: same loud failure
    val e2 = intercept[RuntimeException] {
      Cli.run(spark, List("maintain", "compact-plan", s"$dir/swapped",
        s"$dir/out3", "--bytes-col", "nope"))
    }
    assert(e2.getMessage.contains("nope"))
  }

  test("maintain diff classifies added / removed / changed / unchanged") {
    import spark.implicits._
    val dir = Files.createTempDirectory("climaintain").toString
    Seq((1L, "same", 10L), (2L, "old-text", 20L), (3L, "gone", 30L))
      .toDF("id", "payload", "tag").write.parquet(s"$dir/old")
    Seq((1L, "same", 10L), (2L, "new-text", 20L), (4L, "fresh", 40L))
      .toDF("id", "payload", "tag").write.parquet(s"$dir/new")
    Cli.run(spark, List("maintain", "diff", s"$dir/old", s"$dir/new",
      s"$dir/out", "--keys", "id", "--cols", "payload,tag"))
    val classes = spark.read.parquet(s"$dir/out/diff")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(classes === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("maintain checksum + checksum-diff localize a tampered row to its range") {
    import spark.implicits._
    val dir = Files.createTempDirectory("climaintain").toString
    val base = (1L to 400L).map(i => (i, s"row $i", i % 7))
      .toDF("id", "payload", "tag")
    base.write.parquet(s"$dir/base")
    base.withColumn("payload",
        when(col("id") === 250L, lit("tampered")).otherwise(col("payload")))
      .write.parquet(s"$dir/tampered")
    Cli.run(spark, List("maintain", "checksum", s"$dir/base", s"$dir/a",
      "--key-col", "id", "--range-width", "100", "--cols", "payload,tag"))
    Cli.run(spark, List("maintain", "checksum", s"$dir/tampered", s"$dir/b",
      "--key-col", "id", "--range-width", "100", "--cols", "payload,tag"))
    Cli.run(spark, List("maintain", "checksum-diff", s"$dir/a/checksums",
      s"$dir/b/checksums", s"$dir/out"))
    val bad = spark.read.parquet(s"$dir/out/checksum_diff")
      .collect().map(_.getLong(0)).toSeq
    // id 250 lives in bucket 250 div 100 = 2 — the ONLY flagged range
    assert(bad === Seq(2L))
  }
}
