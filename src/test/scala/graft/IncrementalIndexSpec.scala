package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** The persisted band index (continuous-ingest dedup):
  *
  *  1. the indexed path returns EXACTLY the recompute path's pairs;
  *  2. the ingest-time candidate join has zero corpus-side Exchange —
  *     only the batch bands shuffle, the index's bucket files sort-merge
  *     in place (the point of persisting the index bucketed on bkey);
  *  3. an EXTERNAL index written with a location survives catalog loss:
  *     after dropping the tables, registerBandIndex re-attaches the same
  *     bucket files by DDL and yields the same pairs (the cross-session
  *     `Cli bandindex` → `Cli ingest-dedup` story).
  */
class IncrementalIndexSpec extends SparkSpec {

  import spark.implicits._

  // ≥3 tokens each so every doc has shingles; ids 10/20/30 get a
  // first-token-dropped near-copy in the batch (high Jaccard), id 99 is
  // unrelated
  private def corpus = Seq(
    (10L, "alpha beta gamma delta epsilon zeta eta theta", "web"),
    (20L, "one two three four five six seven eight nine", "web"),
    (30L, "red orange yellow green blue indigo violet ultra", "book"),
    (99L, "completely unrelated content lives over here now", "book")
  ).toDF("doc_id", "text", "source")

  private def batch = corpus.filter(col("doc_id") =!= 99L)
    .select((col("doc_id") + 1000L).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text"), col("source"))

  private def cleanup(): Unit = Seq("idx_bands", "idx_sets", "idx_bandcensus",
      "xidx_bands", "xidx_sets", "xidx_bandcensus",
      "xidx_bands__compact", "xidx_sets__compact")
    .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("indexed incremental pairs equal the recompute path") {
    cleanup()
    try {
      Dedup.writeBandIndex(corpus, "idx", buckets = 4)
      val indexed = Dedup.incrementalNearDupPairsIndexed(spark, batch, "idx")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recomputed = Dedup.incrementalNearDupPairs(batch, corpus)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(indexed === recomputed)
      assert(indexed.nonEmpty, "expected the injected near-dups to pair up")
      assert(indexed.forall { case (n, o) => n == o + 1000L })
    } finally cleanup()
  }

  test("self-dedup off the index equals minhashLshPairs; self-join has zero Exchange; costs census consistent") {
    cleanup()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      // near-dup INSIDE the corpus so the self pair set is non-empty
      val c2 = corpus.unionAll(Seq(
        (110L, "beta gamma delta epsilon zeta eta theta", "web"))
        .toDF("doc_id", "text", "source"))
      Dedup.writeBandIndex(c2, "idx", buckets = 4)
      val indexed = Dedup.selfNearDupPairsIndexed(spark, "idx")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val recomputed = Dedup.minhashLshPairs(c2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(indexed === recomputed)
      assert(indexed.nonEmpty, "expected the injected near-dup to pair up")

      // the candidate SELF-join sort-merges the bucket files in place:
      // no Exchange anywhere before the pair-distinct (both sides are
      // the same bkey-bucketed files)
      val plan = Dedup.selfNearDupPairsIndexed(spark, "idx")
        .queryExecution.executedPlan.toString
      val pre = plan.linesIterator.toVector
        .dropWhile(!_.contains("SortMergeJoin [bkey"))
      assert(pre.nonEmpty, s"expected a bkey sort-merge self-join:\n$plan")
      assert(!pre.exists(_.contains("Exchange")),
        s"band self-join re-shuffled the index:\n$plan")

      // census prices the probe saving: band_rows = |bands|, and
      // raw_join_rows counts the self-join's candidate stream
      val costs = Dedup.bandIndexPlanCosts(spark, "idx").head()
      val nBands = spark.table("idx_bands").count()
      assert(costs.getLong(0) === nBands)
      assert(costs.getLong(3) === costs.getLong(1)) // probe_cost = raw_join_rows
      // recompute prices a band row at the calibrated shuffled+sorted
      // weight (32, the hammingPlanCosts constant), not 1:1 with
      // merge-streamed candidates (round-11 ADVICE)
      assert(costs.getLong(2) === costs.getLong(0) * 32 + costs.getLong(1))
      assert(costs.getLong(1) >= indexed.size.toLong,
        "candidate stream cannot be smaller than the verified pair set")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      cleanup()
    }
  }

  test("candidate join reads the band index with zero corpus-side shuffle") {
    cleanup()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      Dedup.writeBandIndex(corpus, "idx", buckets = 4)
      val join = Dedup.indexedBandJoin(spark, batch, "idx")
      val plan = join.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin [bkey"), s"expected a sort-merge join on bkey:\n$plan")
      // the corpus side is the join's LAST-printed child: everything from
      // its final "+- Sort [bkey" down must be Sort → Filter → bucketed
      // FileScan with NO Exchange — the index merges in place
      val lines = plan.linesIterator.toVector
      val corpusSide = lines.drop(lines.lastIndexWhere(_.contains("+- Sort [bkey")))
      assert(corpusSide.nonEmpty, s"corpus-side Sort not found in:\n$plan")
      assert(!corpusSide.exists(_.contains("Exchange")),
        s"corpus side re-shuffled — persisted bucketing bought nothing:\n$plan")
      assert(corpusSide.exists(_.contains("Bucketed: true")),
        s"corpus scan is not bucket-aware:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      cleanup()
    }
  }

  test("append folds a batch into the index: dups found vs corpus AND appendee, still zero corpus-side Exchange") {
    cleanup()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      Dedup.writeBandIndex(corpus, "idx", buckets = 4)
      // fold batch 1 (ids 1010/1020/1030) into the index, then probe with
      // batch 2: near-copies of BOTH an original corpus doc (20) and an
      // appended batch-1 doc (1010)
      Dedup.appendToBandIndex(spark, batch, "idx")
      val batch2 = Seq(
        (2020L, "two three four five six seven eight nine", "web"), // ~ corpus 20 & appended 1020
        (2010L, "gamma delta epsilon zeta eta theta", "web")        // ~ appended 1010 (beta dropped)
      ).toDF("doc_id", "text", "source")
      val pairs = Dedup.incrementalNearDupPairsIndexed(spark, batch2, "idx")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((2020L, 20L)), s"dup vs original corpus lost after append: $pairs")
      assert(pairs.contains((2010L, 1010L)), s"dup vs appended batch not found: $pairs")
      // the appended files landed in the existing bucket layout: the probe
      // plan still sort-merges the index in place (no corpus-side Exchange)
      val plan = Dedup.indexedBandJoin(spark, batch2, "idx")
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toVector
      val corpusSide = lines.drop(lines.lastIndexWhere(_.contains("+- Sort [bkey")))
      assert(corpusSide.nonEmpty && !corpusSide.exists(_.contains("Exchange")),
        s"append broke the bucket layout — corpus side re-shuffles:\n$plan")
      assert(corpusSide.exists(_.contains("Bucketed: true")), s"scan not bucket-aware:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      cleanup()
    }
  }

  test("writeBandIndex fails fast on >64 bands and non-Long doc_id") {
    cleanup()
    try {
      intercept[IllegalArgumentException] {
        Dedup.writeBandIndex(corpus, "idx", numHashes = 260, rowsPerBand = 4)
      }
      intercept[IllegalArgumentException] {
        Dedup.writeBandIndex(corpus.withColumn("doc_id", col("doc_id").cast("int")), "idx")
      }
      intercept[IllegalArgumentException] {
        Dedup.appendToBandIndex(spark, batch, "idx", numHashes = 260, rowsPerBand = 4)
      }
    } finally cleanup()
  }

  test("compaction folds appended files to one per bucket; pairs and plan unchanged") {
    cleanup()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    val loc = java.nio.file.Files.createTempDirectory("graft-compact").toString
    // resolve the CURRENT committed version dir (rewrites commit new
    // versioned dirs and retain the previous one for concurrent readers)
    def bandFiles(): Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      val cur = graft.operators.Bucketing.currentDir(spark, loc, "bands")
        .stripPrefix("file:")
      java.nio.file.Files.walk(java.nio.file.Paths.get(cur)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
    }
    try {
      Dedup.writeBandIndex(corpus, "xidx", buckets = 4, location = Some(loc))
      // two appends -> up to three files per bucket
      Dedup.appendToBandIndex(spark, batch, "xidx")
      Dedup.appendToBandIndex(spark,
        batch.select((col("doc_id") + 1000L).as("doc_id"), col("text"), col("source")), "xidx")
      val before = Dedup.incrementalNearDupPairsIndexed(spark, corpus.limit(2), "xidx")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val filesBefore = bandFiles().size
      assert(filesBefore > 4, s"expected appends to accumulate files, got $filesBefore")

      Dedup.compactBandIndex(spark, "xidx", loc, buckets = 4)

      val filesAfter = bandFiles().size
      assert(filesAfter <= 4 && filesAfter < filesBefore,
        s"compaction should leave at most one file per bucket: $filesBefore -> $filesAfter\n" +
          bandFiles().map(_.getFileName).mkString("\n"))
      val after = Dedup.incrementalNearDupPairsIndexed(spark, corpus.limit(2), "xidx")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after === before, "compaction changed the pair set")
      assert(after.nonEmpty, "probe of corpus docs vs their own index should pair up")
      // the compacted files keep the bucket layout: probe still merges in place
      val plan = Dedup.indexedBandJoin(spark, batch, "xidx")
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toVector
      val corpusSide = lines.drop(lines.lastIndexWhere(_.contains("+- Sort [bkey")))
      assert(corpusSide.nonEmpty && !corpusSide.exists(_.contains("Exchange")),
        s"compaction broke the bucket layout:\n$plan")
      assert(corpusSide.exists(_.contains("Bucketed: true")), s"scan not bucket-aware:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      cleanup()
    }
  }

  /** The batch path's cost on small data is Spark jobs, which no wall
    * gate resolves: a ceiling per step of one batch, at this plan's own
    * counts (4 / 6 / 4 / 6 when the preflight ran a join, a window and
    * a stats aggregate, the probe shingled the batch twice and distinct-ed
    * before the verify, and compaction inferred the parquet schema).
    * Preflight: one aggregation (shuffle + collect). Append: per subtable,
    * one bucket shuffle and the write. Compaction: the same per subtable,
    * the read taking the catalog schema. */
  test("index batch path job budget: preflight, one probe, append, compaction") {
    cleanup()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    val loc = java.nio.file.Files.createTempDirectory("graft-budget").toString
    try {
      Dedup.writeBandIndex(corpus, "xidx", buckets = 4, location = Some(loc))
      val jobs = Seq(
        "preflight" -> jobsIn(Dedup.bandIndexStale(spark, "xidx")),
        "probe" -> jobsIn(Dedup.incrementalNearDupPairsIndexed(spark, batch, "xidx").collect()),
        "append" -> jobsIn(Dedup.appendToBandIndex(spark, batch, "xidx")),
        "compaction" -> jobsIn(Dedup.compactBandIndex(spark, "xidx", loc, buckets = 4)))
      val budget = Map("preflight" -> 2, "probe" -> 4, "append" -> 4, "compaction" -> 4)
      jobs.foreach { case (step, n) =>
        assert(n <= budget(step), s"$step ran $n jobs, budget ${budget(step)} (all: $jobs)")
      }
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      cleanup()
    }
  }

  /** The probe as its consumers run it (perfbench's index-ingest and
    * `Cli ingest-dedup`), at the session's default broadcast threshold:
    * the call, the pairs write, then the clean docs' anti-join against
    * the same frame. The probe's answer is materialized once, so the
    * second write reads it instead of re-running the batch exchange and
    * both index scans (12 jobs in all when it re-ran them). */
  test("probe job budget: the call, the pairs write and the clean write evaluate the probe once") {
    cleanup()
    val dir = java.nio.file.Files.createTempDirectory("graft-probeonce").toString
    try {
      Dedup.writeBandIndex(corpus, "xidx", buckets = 4, location = Some(s"$dir/idx"))
      var pairs: org.apache.spark.sql.DataFrame = null
      val jobs = Seq(
        "call" -> jobsIn { pairs = Dedup.incrementalNearDupPairsIndexed(spark, batch, "xidx") },
        "pairs" -> jobsIn(pairs.write.parquet(s"$dir/pairs")),
        "clean" -> jobsIn(batch.join(pairs.select(col("new_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti").write.parquet(s"$dir/clean")))
      assert(spark.read.parquet(s"$dir/clean").collect().isEmpty,
        "every batch doc is a near copy of a corpus doc")
      assert(jobs.map(_._2).sum <= 9, s"probe and its two writes ran ${jobs.map(_._2).sum} jobs: $jobs")
    } finally cleanup()
  }

  /** The second consumer reads the first's rows: no executed plan of the
    * clean write scans `<name>_bands` or `<name>_sets`. */
  test("the clean write after the pairs write scans neither index table") {
    cleanup()
    val dir = java.nio.file.Files.createTempDirectory("graft-probescan").toString
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    try {
      Dedup.writeBandIndex(corpus, "xidx", buckets = 4, location = Some(s"$dir/idx"))
      val pairs = Dedup.incrementalNearDupPairsIndexed(spark, batch, "xidx")
      pairs.write.parquet(s"$dir/pairs")
      org.apache.spark.graftnative.TaskMetricsProbe.drain(spark.sparkContext)
      spark.listenerManager.register(listener)
      batch.join(pairs.select(col("new_id").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
        .write.parquet(s"$dir/clean")
      org.apache.spark.graftnative.TaskMetricsProbe.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      val seen = plans.asScala.toSeq
      assert(seen.nonEmpty, "the clean write's plan was not captured")
      val scans = seen.flatMap(_.linesIterator.filter(l =>
        l.contains("FileScan") && (l.contains("xidx_bands") || l.contains("xidx_sets"))))
      assert(scans.isEmpty, s"the clean write re-read the index:\n${seen.mkString("\n")}")
    } finally {
      spark.listenerManager.unregister(listener)
      cleanup()
    }
  }

  /** The probe's answer is the index as of the call: consumed only after
    * an append that would add pairs, it still returns the call-time set. */
  test("the probe frame is a snapshot: consumed after an append it returns the call-time pairs") {
    cleanup()
    try {
      Dedup.writeBandIndex(corpus, "idx", buckets = 4)
      val want = Dedup.incrementalNearDupPairsIndexed(spark, batch, "idx")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val pairs = Dedup.incrementalNearDupPairsIndexed(spark, batch, "idx")
      // exact copies of the batch under new ids: each would pair with its original
      val copies = batch.select((col("doc_id") + 4000L).as("doc_id"), col("text"), col("source"))
      Dedup.appendToBandIndex(spark, copies, "idx")
      val fresh = Dedup.incrementalNearDupPairsIndexed(spark, batch, "idx")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fresh === want ++ Set((1010L, 5010L), (1020L, 5020L), (1030L, 5030L)),
        s"the append must add pairs for the test to mean anything: $fresh")
      val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"the probe frame changed with the index after the call: $got")
    } finally cleanup()
  }

  test("tombstone delete rewrites the index without the deleted docs; layout intact") {
    cleanup()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    val loc = java.nio.file.Files.createTempDirectory("graft-delete").toString
    def bandFiles(): Int = {
      import scala.jdk.CollectionConverters._
      val cur = graft.operators.Bucketing.currentDir(spark, loc, "bands")
        .stripPrefix("file:")
      java.nio.file.Files.walk(java.nio.file.Paths.get(cur)).iterator().asScala
        .count(_.toString.endsWith(".parquet"))
    }
    try {
      import spark.implicits._
      Dedup.writeBandIndex(corpus, "xidx", buckets = 4, location = Some(loc))
      val before = Dedup.incrementalNearDupPairsIndexed(spark, batch, "xidx")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(before.map(_._2).contains(20L), s"need doc 20 paired before the delete: $before")

      // take down doc 20; 10 and 30 must keep matching
      Dedup.deleteFromBandIndex(spark, Seq(20L).toDF("doc_id"), "xidx", loc, buckets = 4)

      val after = Dedup.incrementalNearDupPairsIndexed(spark, batch, "xidx")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!after.map(_._2).contains(20L), s"deleted doc still matches: $after")
      assert(after === before.filterNot(_._2 == 20L),
        s"delete disturbed other docs' pairs: before=$before after=$after")
      // a delete doubles as compaction: one file per bucket, layout intact
      assert(bandFiles() <= 4, s"delete should leave at most one file per bucket, got ${bandFiles()}")
      val plan = Dedup.indexedBandJoin(spark, batch, "xidx")
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toVector
      val corpusSide = lines.drop(lines.lastIndexWhere(_.contains("+- Sort [bkey")))
      assert(corpusSide.nonEmpty && !corpusSide.exists(_.contains("Exchange")),
        s"delete broke the bucket layout:\n$plan")
      assert(corpusSide.exists(_.contains("Bucketed: true")), s"scan not bucket-aware:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      cleanup()
    }
  }

  test("embedding index: probe matches exact recompute, zero corpus-side Exchange, append folds in") {
    import graft.operators.Similarity
    Seq("eidx_embbands", "eidx_embvecs", "eidx_embcensus")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      import spark.implicits._
      def vec(d: Int, scale: Float) =
        (0 until 4).map(i => if (i == d) scale else 0f).toArray
      // near-orthogonal corpus (basis directions); batch: two scaled
      // copies (cos = 1) and one negated vector (cos = -1, must verify out)
      val corpus = Seq(
        (1L, vec(0, 1f)), (2L, vec(1, 1f)), (3L, vec(2, 1f)), (4L, vec(3, 1f))
      ).toDF("vec_id", "embedding")
      val batch = Seq(
        (101L, vec(0, 0.9f)), (102L, vec(1, 1.1f)), (103L, vec(0, -1f))
      ).toDF("vec_id", "embedding")

      Similarity.writeEmbIndex(corpus, "eidx", buckets = 4,
        numBands = 4, bitsPerBand = 4, dim = 4)
      val pairs = Similarity.incrementalEmbNearDupsIndexed(spark, batch, "eidx",
          0.9, numBands = 4, bitsPerBand = 4, dim = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs === Set((101L, 1L), (102L, 2L)),
        s"scaled copies pair with their originals, nothing else: $pairs")

      // candidate join plan: corpus side merges the bucket files in place
      val plan = Similarity.embIndexJoin(spark, batch, "eidx",
        numBands = 4, bitsPerBand = 4, dim = 4)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin [bkey"), s"expected sort-merge on bkey:\n$plan")
      val lines = plan.linesIterator.toVector
      val corpusSide = lines.drop(lines.lastIndexWhere(_.contains("+- Sort [bkey")))
      assert(corpusSide.nonEmpty && !corpusSide.exists(_.contains("Exchange")),
        s"corpus side re-shuffled:\n$plan")
      assert(corpusSide.exists(_.contains("Bucketed: true")), s"scan not bucket-aware:\n$plan")

      // fold the accepted batch in; a copy of an APPENDED vector must now
      // match both its original ancestor and the appended sibling
      Similarity.appendToEmbIndex(spark, batch.filter(col("vec_id") =!= 103L), "eidx",
        numBands = 4, bitsPerBand = 4, dim = 4)
      val batch2 = Seq((201L, vec(0, 2f))).toDF("vec_id", "embedding")
      val pairs2 = Similarity.incrementalEmbNearDupsIndexed(spark, batch2, "eidx",
          0.9, numBands = 4, bitsPerBand = 4, dim = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs2 === Set((201L, 1L), (201L, 101L)),
        s"probe must see the original corpus AND the appended batch: $pairs2")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      Seq("eidx_embbands", "eidx_embvecs", "eidx_embcensus")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("embedding index: compaction folds appended files; tombstone delete removes a vector") {
    import graft.operators.Similarity
    def cleanupEmb(): Unit = Seq("eidx_embbands", "eidx_embvecs", "eidx_embcensus",
        "eidx_embbands__compact", "eidx_embvecs__compact")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    cleanupEmb()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    val loc = java.nio.file.Files.createTempDirectory("graft-embcompact").toString
    def bandFiles(): Int = {
      import scala.jdk.CollectionConverters._
      val cur = graft.operators.Bucketing.currentDir(spark, loc, "embbands")
        .stripPrefix("file:")
      java.nio.file.Files.walk(java.nio.file.Paths.get(cur)).iterator().asScala
        .count(_.toString.endsWith(".parquet"))
    }
    try {
      import spark.implicits._
      def vec(d: Int, scale: Float) =
        (0 until 4).map(i => if (i == d) scale else 0f).toArray
      val corpus = Seq(
        (1L, vec(0, 1f)), (2L, vec(1, 1f)), (3L, vec(2, 1f)), (4L, vec(3, 1f))
      ).toDF("vec_id", "embedding")
      val batch = Seq((101L, vec(0, 0.9f)), (102L, vec(1, 1.1f)))
        .toDF("vec_id", "embedding")
      def probe() = Similarity.incrementalEmbNearDupsIndexed(spark,
          Seq((201L, vec(0, 2f)), (202L, vec(1, 0.5f))).toDF("vec_id", "embedding"),
          "eidx", 0.9, numBands = 4, bitsPerBand = 4, dim = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      Similarity.writeEmbIndex(corpus, "eidx", buckets = 4,
        numBands = 4, bitsPerBand = 4, dim = 4, location = Some(loc))
      // two appends -> up to three files per bucket (the build and each
      // append write one file per bucket they touch); the second batch
      // is orthogonal to both probe vectors
      Similarity.appendToEmbIndex(spark, batch, "eidx",
        numBands = 4, bitsPerBand = 4, dim = 4)
      Similarity.appendToEmbIndex(spark,
        Seq((103L, vec(2, 0.8f)), (104L, vec(3, 1.2f))).toDF("vec_id", "embedding"), "eidx",
        numBands = 4, bitsPerBand = 4, dim = 4)
      val before = probe()
      assert(before === Set((201L, 1L), (201L, 101L), (202L, 2L), (202L, 102L)),
        s"probe must see corpus and appended vectors: $before")
      val filesBefore = bandFiles()
      assert(filesBefore > 4, s"expected the appends to accumulate files, got $filesBefore")

      Similarity.compactEmbIndex(spark, "eidx", loc, buckets = 4)
      val filesAfter = bandFiles()
      assert(filesAfter <= 4 && filesAfter < filesBefore,
        s"compaction should leave at most one file per bucket: $filesBefore -> $filesAfter")
      assert(probe() === before, "compaction changed the pair set")
      // compacted files keep the bucket layout: probe still merges in place
      val plan = Similarity.embIndexJoin(spark,
          Seq((201L, vec(0, 2f))).toDF("vec_id", "embedding"), "eidx",
          numBands = 4, bitsPerBand = 4, dim = 4)
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toVector
      val corpusSide = lines.drop(lines.lastIndexWhere(_.contains("+- Sort [bkey")))
      assert(corpusSide.nonEmpty && !corpusSide.exists(_.contains("Exchange")),
        s"compaction broke the bucket layout:\n$plan")
      assert(corpusSide.exists(_.contains("Bucketed: true")), s"scan not bucket-aware:\n$plan")

      // take down appended vec 101: its pair disappears, everything else holds
      Similarity.deleteFromEmbIndex(spark, Seq(101L).toDF("vec_id"), "eidx", loc, buckets = 4)
      assert(probe() === before.filterNot(_._2 == 101L),
        s"delete must remove exactly vec 101's pairs: ${probe()}")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      cleanupEmb()
    }
  }

  test("versioned rewrite commit: a reader bound mid-rewrite keeps a complete old version") {
    cleanup()
    val loc = java.nio.file.Files.createTempDirectory("graft-vercommit").toString
    def lsVersions(sub: String): Seq[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(loc)).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith(sub)).toSeq.sorted
    }
    try {
      Dedup.writeBandIndex(corpus, "xidx", buckets = 4, location = Some(loc))
      // a CONCURRENT READER (another session, in spirit): binds the
      // pre-rewrite version dir directly, the way a re-attached DDL or a
      // mid-scan task holds concrete file paths
      val readerDir = graft.operators.Bucketing.currentDir(spark, loc, "bands")
      val rowsBefore = spark.read.parquet(readerDir).count()
      assert(rowsBefore > 0)

      // rewrite #1 commits bands__v1; the reader's v0 dir MUST survive
      Dedup.compactBandIndex(spark, "xidx", loc, buckets = 4)
      assert(lsVersions("bands").contains("bands__v1"), lsVersions("bands").toString)
      assert(spark.read.parquet(readerDir).count() === rowsBefore,
        "reader bound before the rewrite must still see its complete old version")
      val readerDirV1 = graft.operators.Bucketing.currentDir(spark, loc, "bands")
      assert(readerDirV1.endsWith("bands__v1"), readerDirV1)

      // rewrite #2 commits bands__v2 and reaps v0 (keep-top-2 grace):
      // breaking a bound reader requires TWO full cycles inside one scan
      Dedup.compactBandIndex(spark, "xidx", loc, buckets = 4)
      val vs = lsVersions("bands")
      assert(vs.contains("bands__v2") && vs.contains("bands__v1") && !vs.contains("bands"),
        s"expected keep-top-2 cleanup, got $vs")
      assert(spark.read.parquet(readerDirV1).count() === rowsBefore,
        "previous version must be retained one full cycle")

      // an in-flight (uncommitted) write is invisible to resolution
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(loc, "bands__v3.tmp"))
      assert(graft.operators.Bucketing.currentDir(spark, loc, "bands")
        .endsWith("bands__v2"), "a .tmp dir must never be resolvable")

      // and the probe still returns the same pairs as before any rewrite
      val pairs = Dedup.incrementalNearDupPairsIndexed(spark, batch, "xidx")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.nonEmpty && pairs.map(_._2).subsetOf(Set(10L, 20L, 30L)))
    } finally cleanup()
  }

  test("external two-level CELL index re-attaches via DDL after catalog loss") {
    val cellTables = Seq("xcidx_ivfcells", "xcidx_ivfcentroids",
      "xcidx_ivfcensus", "xcidx_ivfcoarse")
    cellTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val loc = java.nio.file.Files.createTempDirectory("graft-cellindex").toString
    try {
      val Sim = graft.operators.Similarity
      val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
        .select(col("vec_id"), col("embedding"))
      Sim.writeCellIndex(emb, "xcidx", location = Some(loc), twoLevel = true)
      val probe = emb.limit(16)
      def edges(): Set[(Long, Long)] = {
        val fine = Sim.readCellCentroids(spark, "xcidx")
        val (coarse, members) = Sim.readCoarseCells(spark, "xcidx")
        Sim.ivfIndexProbeEdgesTwoLevel(spark, probe, "xcidx",
            fine, coarse, members, 0.9)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val before = edges()
      val driftBefore = Sim.cellDriftStats(spark, "xcidx")
      // simulate a new session: catalog metadata gone, files remain
      cellTables.foreach(t => spark.sql(s"DROP TABLE $t"))
      Sim.registerCellIndex(spark, "xcidx", loc)
      assert(spark.catalog.tableExists("xcidx_ivfcoarse"),
        "re-attach must restore the stored coarse quantizer")
      assert(edges() === before)
      assert(Sim.cellDriftStats(spark, "xcidx") === driftBefore,
        "the drift census must survive re-attach")
    } finally cellTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** Round-11 ADVICE: a flat rebuild over a formerly two-level index
    * (exactly what the cellIndexStale rebuild trigger encourages) used
    * to leave the old `_ivfcoarse` table and files behind — and every
    * arrival path auto-detects the coarse table to pick the routing
    * kernel, so arrivals routed two-level against flat-routed
    * membership, the mismatched-kernel case that silently loses
    * boundary pairs. The rebuild must retire both the catalog entry and
    * the files (or registerCellIndex in a fresh JVM resurrects it). */
  test("flat rebuild over a two-level cell index retires the stale coarse store") {
    val cellTables = Seq("xc2f_ivfcells", "xc2f_ivfcentroids",
      "xc2f_ivfcensus", "xc2f_ivfcoarse")
    cellTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val loc = java.nio.file.Files.createTempDirectory("graft-cell2flat").toString
    try {
      val Sim = graft.operators.Similarity
      val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
        .select(col("vec_id"), col("embedding"))
      Sim.writeCellIndex(emb, "xc2f", location = Some(loc), twoLevel = true)
      assert(spark.catalog.tableExists("xc2f_ivfcoarse"))
      val coarseDir = java.nio.file.Paths.get(loc, "ivfcoarse")
      assert(java.nio.file.Files.exists(coarseDir))

      // the drift-triggered rebuild, now flat: coarse store must go
      Sim.writeCellIndex(emb, "xc2f", location = Some(loc), twoLevel = false)
      assert(!spark.catalog.tableExists("xc2f_ivfcoarse"),
        "stale coarse table would make arrivals route two-level against flat membership")
      assert(!java.nio.file.Files.exists(coarseDir),
        "stale coarse FILES would resurrect the table on re-attach")

      // and a fresh-JVM re-attach stays flat: no coarse resurrection,
      // arrivals fold through the flat kernel against flat membership
      cellTables.filterNot(_.endsWith("_ivfcoarse"))
        .foreach(t => spark.sql(s"DROP TABLE $t"))
      Sim.registerCellIndex(spark, "xc2f", loc)
      assert(!spark.catalog.tableExists("xc2f_ivfcoarse"))
      // id-shifted copies: each must find its original (cos = 1) — which
      // only happens if probe and membership route through the SAME
      // (flat) kernel, the exact property the stale coarse store broke
      val batch = emb.limit(8)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      Sim.appendToCellIndex(spark, batch, "xc2f")
      val fine = Sim.readCellCentroids(spark, "xc2f")
      val edges = Sim.ivfIndexProbeEdges(spark, batch, "xc2f", fine, 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val origIds = emb.limit(8).collect().map(_.getLong(0))
      assert(origIds.forall(id => edges.contains((id + 100000L, id))),
        s"every shifted copy must meet its original; got $edges")
    } finally cellTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** The third leg of drift parity (cell and text-band indexes got
    * theirs first): the embedding sign-band index has the same append
    * lifecycle and the same key-space-densification failure mode — the
    * planes are data-independent, the bucket population is not. Same
    * two-direction contract: identical vectors under new ids recur in
    * exactly their census partitions (clean); one repeated vector at
    * corpus scale concentrates into its ≤ numBands band keys (trips). */
  test("emb-band staleness: same-distribution growth clean, a repeated vector trips it") {
    import graft.operators.Similarity
    val idx = "driftemb"
    val tables = Seq(s"${idx}_embbands", s"${idx}_embvecs", s"${idx}_embcensus")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
        .select(col("vec_id"), col("embedding"))
      Similarity.writeEmbIndex(emb, idx)

      val s0 = Similarity.embDriftStats(spark, idx)
      assert(s0.tvd === 0.0 && s0.maxGrowth === 1.0 && s0.nBuild === s0.nLive)
      assert(!Similarity.embIndexStale(spark, idx))

      // plain growth: the same vectors under new ids — same sign
      // pattern, same bkey, same census partition, shares untouched
      Similarity.appendToEmbIndex(spark,
        emb.select((col("vec_id") + 2000000L).as("vec_id"), col("embedding")), idx)
      val s1 = Similarity.embDriftStats(spark, idx)
      assert(s1.nLive === 2 * s1.nBuild)
      assert(s1.tvd < 1e-9, s"same-distribution growth read as drift: tvd=${s1.tvd}")
      assert(math.abs(s1.maxGrowth - 1.0) < 1e-9)
      assert(!Similarity.embIndexStale(spark, idx))

      // drifted stream: one vector repeated corpus-scale — all its band
      // rows share its numBands band keys
      val one = emb.orderBy(col("vec_id")).select(col("embedding"))
        .as[Array[Float]].head()
      val n = emb.count()
      val drifted = spark.range(n)
        .select((col("id") + 3000000L).as("vec_id"), typedLit(one).as("embedding"))
      Similarity.appendToEmbIndex(spark, drifted, idx)
      val s2 = Similarity.embDriftStats(spark, idx)
      assert(s2.tvd >= 0.10,
        s"a corpus-scale repeated vector must move >=10% of probe mass, got ${s2.tvd}")
      assert(s2.maxGrowth >= 4.0, s"its band-key regions must inflate: $s2")
      assert(Similarity.embIndexStale(spark, idx), s"drifted index not flagged: $s2")

      // census-bounded, shares consistent; pre-census indexes fail loudly
      val rep = Similarity.embDriftReport(spark, idx).collect()
      assert(rep.length <= graft.operators.IndexDrift.CensusBuckets)
      assert(math.abs(rep.map(_.getAs[Double]("live_share")).sum - 1.0) < 1e-9)
      spark.sql(s"DROP TABLE ${idx}_embcensus")
      val e = intercept[IllegalArgumentException] {
        Similarity.embDriftStats(spark, idx)
      }
      assert(e.getMessage.contains("rebuild"))
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** Round-12 verdict #4: with a persisted band index over the corpus,
    * the hamming chooser's floor gate reads the index's doc count
    * instead of paying a corpus-side distinct probe — and must make
    * exactly the pick the probe-fed path makes. */
  test("bandIndexDocCount feeds the chooser floor; census-fed pick == probe-fed pick") {
    cleanup()
    try {
      Dedup.writeBandIndex(corpus, "idx", buckets = 4)
      val n = Dedup.bandIndexDocCount(spark, "idx")
      assert(n === corpus.count(), "sets table holds one row per doc")
      val fed = Dedup.measuredSimhashPlan(corpus, knownDistinct = Some(n))
      val probed = Dedup.measuredSimhashPlan(corpus)
      assert(fed === probed, "the census source must not change the pick")
    } finally cleanup()
  }

  /** Round-12 ADVICE: the CLI registers every index under a fixed name
    * (graft_idx/graft_cidx/graft_eidx) via CREATE TABLE IF NOT EXISTS —
    * if an earlier verb in the same session bound the name at a
    * DIFFERENT location, the stale entry used to win silently and
    * status/ingest read the wrong index. registerBandIndex must rebind. */
  test("re-registering a fixed name at a new location rebinds, never silently keeps the old") {
    cleanup()
    val locA = java.nio.file.Files.createTempDirectory("graft-idxA").toString
    val locB = java.nio.file.Files.createTempDirectory("graft-idxB").toString
    try {
      // location A indexes the full corpus (batch near-dups exist);
      // location B indexes only the unrelated doc (no near-dups)
      Dedup.writeBandIndex(corpus, "xidx", buckets = 4, location = Some(locA))
      assert(Dedup.incrementalNearDupPairsIndexed(spark, batch, "xidx")
        .collect().nonEmpty)
      Dedup.writeBandIndex(corpus.filter(col("doc_id") === 99L), "xidx_b",
        buckets = 4, location = Some(locB))
      Seq("xidx_b_bands", "xidx_b_sets", "xidx_b_bandcensus")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      // same fixed name, new location: the catalog still holds xidx→locA
      Dedup.registerBandIndex(spark, "xidx", locB, buckets = 4)
      val pairs = Dedup.incrementalNearDupPairsIndexed(spark, batch, "xidx").collect()
      assert(pairs.isEmpty,
        s"xidx must now read location B (unrelated doc only); got ${pairs.mkString(",")}")
      // and registering the ORIGINAL location again flips it back
      Dedup.registerBandIndex(spark, "xidx", locA, buckets = 4)
      assert(Dedup.incrementalNearDupPairsIndexed(spark, batch, "xidx")
        .collect().nonEmpty)
    } finally cleanup()
  }

  /** Round-13 ADVICE (medium): the census guard above only ran inside the
    * fs.exists branch — re-registering a fixed name at a location WITHOUT
    * a bandcensus subdir left the PREVIOUS location's census bound, so
    * drift stats silently read the wrong index's census. The else branch
    * must drop the stale binding instead. */
  test("re-registering at a census-less location drops the stale census binding") {
    cleanup()
    val locA = java.nio.file.Files.createTempDirectory("graft-censA").toString
    val locB = java.nio.file.Files.createTempDirectory("graft-censB").toString
    try {
      Dedup.writeBandIndex(corpus, "xidx", buckets = 4, location = Some(locA))
      assert(spark.catalog.tableExists("xidx_bandcensus"))
      // location B: a pre-census index (bucket files, no bandcensus dir)
      Dedup.writeBandIndex(corpus.filter(col("doc_id") === 99L), "xidx_b",
        buckets = 4, location = Some(locB))
      Seq("xidx_b_bands", "xidx_b_sets", "xidx_b_bandcensus")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(s"$locB/bandcensus"), true)
      Dedup.registerBandIndex(spark, "xidx", locB, buckets = 4)
      assert(!spark.catalog.tableExists("xidx_bandcensus"),
        "location A's census must not survive the re-registration at census-less B")
      val err = intercept[IllegalArgumentException] {
        Dedup.bandDriftStats(spark, "xidx")
      }
      assert(err.getMessage.contains("rebuild"),
        s"pre-census index must steer to rebuild, got: ${err.getMessage}")
    } finally cleanup()
  }

  /** Round-13 ADVICE (low): every fixed-name drop is metadata-only for
    * EXTERNAL tables — on a MANAGED table it would delete the data files,
    * so the guard must refuse loudly instead. */
  test("fixed-name drops refuse to touch a MANAGED table") {
    spark.sql("DROP TABLE IF EXISTS graft_managed_probe")
    try {
      Seq((1L, "x")).toDF("id", "v").write.saveAsTable("graft_managed_probe")
      val err = intercept[IllegalStateException] {
        graft.operators.Bucketing.dropIfOrphaned(spark, "graft_managed_probe")
      }
      assert(err.getMessage.contains("MANAGED"), err.getMessage)
      assert(spark.catalog.tableExists("graft_managed_probe"),
        "the refused drop must leave the table (and its data) in place")
      assert(spark.table("graft_managed_probe").count() === 1L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_managed_probe")
  }

  test("external index re-attaches via DDL after catalog loss") {
    cleanup()
    val loc = java.nio.file.Files.createTempDirectory("graft-bandindex").toString
    try {
      Dedup.writeBandIndex(corpus, "xidx", buckets = 4, location = Some(loc))
      val before = Dedup.incrementalNearDupPairsIndexed(spark, batch, "xidx")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val driftBefore = Dedup.bandDriftStats(spark, "xidx")
      // simulate a new session: metadata gone, bucket files remain
      spark.sql("DROP TABLE xidx_bands")
      spark.sql("DROP TABLE xidx_sets")
      spark.sql("DROP TABLE xidx_bandcensus")
      Dedup.registerBandIndex(spark, "xidx", loc, buckets = 4)
      val after = Dedup.incrementalNearDupPairsIndexed(spark, batch, "xidx")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after === before)
      assert(after.nonEmpty)
      assert(Dedup.bandDriftStats(spark, "xidx") === driftBefore,
        "the drift census must survive re-attach")
    } finally cleanup()
  }

  /** Round-11 verdict #2: the band index has the same append lifecycle
    * as the embedding cell index but had no drift/staleness signal —
    * operational parity is this census. Same two-direction contract as
    * the cell index's spec: plain growth with an UNCHANGED text
    * distribution trips nothing (identical text → identical band keys →
    * identical census partitions, shares untouched); a shifted stream
    * (one template document repeated corpus-scale — the boilerplate
    * arrival pattern) concentrates its band keys into its own few key
    * regions and must trip both thresholds. */
  test("band-index staleness: same-distribution growth clean, a template stream trips it") {
    val idx = "driftbidx"
    val tables = Seq(s"${idx}_bands", s"${idx}_sets", s"${idx}_bandcensus")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      val docs = Dedup.withNearDuplicates(
        Tables.load(spark, "/root/testdata/sf0.001", "documents"))
      Dedup.writeBandIndex(docs, idx)

      // fresh index: live == census by construction
      val s0 = Dedup.bandDriftStats(spark, idx)
      assert(s0.tvd === 0.0 && s0.maxGrowth === 1.0 && s0.nBuild === s0.nLive)
      assert(!Dedup.bandIndexStale(spark, idx))

      // plain growth: the same corpus arrives again under new ids —
      // every band key recurs exactly, every census partition doubles
      Dedup.appendToBandIndex(spark,
        docs.select((col("doc_id") + 2000000L).as("doc_id"), col("text"),
          col("source")), idx)
      val s1 = Dedup.bandDriftStats(spark, idx)
      assert(s1.nLive === 2 * s1.nBuild)
      assert(s1.tvd < 1e-9, s"same-distribution growth read as drift: tvd=${s1.tvd}")
      assert(math.abs(s1.maxGrowth - 1.0) < 1e-9)
      assert(!Dedup.bandIndexStale(spark, idx))

      // drifted stream: one template document, corpus-scale — all its
      // band rows share the template's few band keys, so a handful of
      // census partitions absorb ~a third of all live mass
      val n = docs.count()
      val template = spark.range(n)
        .select((col("id") + 3000000L).as("doc_id"),
          lit("click here to accept all cookies and continue to the site").as("text"),
          lit("web").as("source"))
      Dedup.appendToBandIndex(spark, template, idx)
      val s2 = Dedup.bandDriftStats(spark, idx)
      assert(s2.tvd >= 0.10,
        s"a corpus-scale template stream must move >=10% of probe mass, got ${s2.tvd}")
      assert(s2.maxGrowth >= 4.0, s"the template's key regions must inflate: $s2")
      assert(Dedup.bandIndexStale(spark, idx), s"drifted index not flagged: $s2")

      // the report is census-bounded and internally consistent
      val rep = Dedup.bandDriftReport(spark, idx).collect()
      assert(rep.length <= Dedup.BandCensusBuckets)
      assert(math.abs(rep.map(_.getAs[Double]("live_share")).sum - 1.0) < 1e-9)

      // an index built before the census exists fails LOUDLY, not wrong
      spark.sql(s"DROP TABLE ${idx}_bandcensus")
      val e = intercept[IllegalArgumentException] {
        Dedup.bandDriftStats(spark, idx)
      }
      assert(e.getMessage.contains("rebuild"))
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
