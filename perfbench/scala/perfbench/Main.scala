package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{KMeansConfig, SampledMedoid, TweetFeatures}
import graft.operators.{Analysis, Bucketing, Dedup, KMeans}
import graft.sources.{AssignmentIO, TweetIngest}

/** One benchmark process: builds the session the way `graft.Cli` does,
  * registers one workload's generated inputs, then runs the workload's pass
  * as a closed loop (each call waits for the previous one) — a cold pass,
  * then warm passes until the time budget is spent. It then
  * stops and rebuilds the session for more set-up samples. It times every call into
  * the program's public functions from outside, checks every output, and
  * writes the raw measurements to `<work>/result.json` (and the spans of
  * traced passes to `<work>/spans.jsonl`). `perfbench/run.py` turns them into
  * metrics.
  *
  * Usage: Main <workload> <inputDir> <workDir> <seconds> <trace 0|1> <seed> */
object Main {
  /** Re-builds of the session after the passes, as more set-up samples. */
  val ExtraSetups = 4
  /** Measured warm passes every run makes, whatever `seconds` is. */
  val MinWarmPasses = 2
  /** Spark's cores: at most 4, never more than the machine has. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit =
    // halt, not exit: stopping Spark cleanly costs a second and measures
    // nothing, and no Spark thread may keep the process alive
    try { run(args); Runtime.getRuntime.halt(0) }
    catch { case e: Throwable => e.printStackTrace(); Runtime.getRuntime.halt(1) }

  def run(args: Array[String]): Unit = {
    val Array(workload, input, work, seconds, trace, seed) = args
    val truth = new ObjectMapper().readTree(new File(s"$input/truth.json"))
    def setup(): (SparkSession, Workload, Double, Double) = {
      val t0 = System.nanoTime()
      val spark = SparkSession.builder()
        .master(s"local[$Cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", Cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      graft.plans.GraftRuntime.enable(spark)
      val t1 = System.nanoTime()
      val w: Workload = workload match {
        case "tweets-kmedoids" => new Tweets(spark, input, truth)
        case "corpus-dedup" => new Corpus(spark, input, truth)
        case "index-ingest" => new Index(spark, input, truth)
      }
      (spark, w, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    }
    val (spark, w, createS, firstReadS) = setup()

    val tracer = if (trace == "1") Some(new Tracer(spark)) else None
    val rec = new Recorder(tracer)
    val passes = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val heap = new HeapPeak
    var heapPeak = 0L
    var heapLive = 0L
    def runPass(i: Int, traced: Boolean): Unit = {
      rec.begin(i, traced)
      def body(): Unit = w.pass(rec, s"$work/pass$i", i)
      // a traced pass is the parent span of its layer calls; the Spark jobs
      // of the output checks land on it, not on a layer
      try tracer.filter(_ => traced).fold(body())(_.span("pass", i)(body()))
      catch { case e: Throwable => rec.fail(s"pass $i threw: $e") }
      passes += ((traced, rec.passSeconds))
      rec.clearDir(s"$work/pass$i")
      // every pass starts from a collected heap (the second collection
      // after Spark's ContextCleaner has dropped what the first freed)
      System.gc()
      Thread.sleep(200)
      System.gc()
      // only the passes every run makes count, so neither figure depends on
      // how many passes fit
      if (i <= MinWarmPasses) heapLive = math.max(heapLive,
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
      if (i == MinWarmPasses) heapPeak = heap.stop()
    }
    heap.start()
    rec.begin(-1, t = false)
    try w.prepare(rec, work)
    catch { case e: Throwable => rec.fail(s"prepare threw: $e") }
    runPass(0, traced = false)
    val budgetNs = (seconds.toDouble * 1e9).toLong
    val warm0 = System.nanoTime()
    var i = 1
    // trace 1 alternates untraced and traced warm passes, the untraced
    // being the base of the tracing overhead; the first warm pass, which
    // still waits on the JIT, is untraced and is no base
    val minPasses = if (tracer.isDefined) MinWarmPasses + 2 else MinWarmPasses
    while (i <= minPasses || (System.nanoTime() - warm0 < budgetNs && i < 200)) {
      runPass(i, traced = tracer.isDefined && i % 2 == 0)
      i += 1
    }
    tracer.foreach(_.write(s"$work/spans.jsonl"))
    // more set-up samples, after the passes so that the cold pass runs in a
    // process that has set up once, as a `graft.Cli` invocation does
    val setups = (createS + firstReadS) +: (1 to ExtraSetups).map { _ =>
      SparkSession.active.stop()
      val (_, _, c, f) = setup()
      c + f
    }
    val out = new java.io.PrintWriter(s"$work/result.json", "UTF-8")
    try out.println(json.writeValueAsString(Map(
      "workload" -> workload, "seed" -> seed.toLong,
      "create_s" -> createS, "first_read_s" -> firstReadS, "setup_s" -> setups,
      "rows" -> w.rows, "passes" -> passes.map { case (t, s) =>
        Map("traced" -> t, "seconds" -> s) },
      "ops" -> rec.ops.map { case (p, n, s) => Seq(p, n, s) },
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "failures" -> rec.failures.take(20),
      "heap_live_mb" -> heapLive.toDouble / (1 << 20),
      "heap_peak_mb" -> heapPeak.toDouble / (1 << 20), "quality" -> w.quality,
      "values" -> w.values.toMap)))
    finally out.close()
  }
}

/** The peak heap in use between `start` and `stop`, as collections leave
  * it: the largest heap in use after any collection. Heap in use before a
  * collection is not the measure, because it reaches the heap's limit
  * whatever the program holds. In local mode the heap holds the driver and
  * the executors. */
final class HeapPeak {
  @volatile private var on = false
  private val peak = new AtomicLong(0L)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      record(info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  private def record(used: Long): Unit = peak.accumulateAndGet(used, math.max(_, _))
  def start(): Unit = { peak.set(0L); on = true }
  def stop(): Long = { on = false; peak.get }
}

/** Times the calls of one pass and counts operations and failures. An
  * operation is one timed call; it fails if it throws or if a check of its
  * output fails. */
final class Recorder(tracer: Option[Tracer]) {
  val ops = mutable.ArrayBuffer.empty[(Int, String, Double)]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  private var pass = 0
  private var traced = false
  private var lastOpFailed = false
  private var opsInPass = 0
  var passSeconds = 0.0

  def begin(i: Int, t: Boolean): Unit = {
    pass = i; traced = t; passSeconds = 0.0; opsInPass = 0; lastOpFailed = false
  }

  def op[T](name: String)(body: => T): T = {
    attempted += 1
    opsInPass += 1
    lastOpFailed = false
    val t0 = System.nanoTime()
    val r = try tracer.filter(_ => traced).fold(body)(_.span(name, pass)(body))
    catch { case e: Throwable => fail(s"$name threw: $e"); throw e }
    val s = (System.nanoTime() - t0) / 1e9
    ops += ((pass, name, s))
    passSeconds += s
    r
  }

  /** Checks the output of the last operation; a failed check fails it. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) fail(s"pass $pass: check failed: $what")

  /** A failure before the pass's first operation counts as one more
    * failed operation. */
  def fail(msg: String): Unit = {
    failures += msg
    if (opsInPass == 0) { attempted += 1; opsInPass = 1 }
    if (!lastOpFailed) { failed += 1; lastOpFailed = true }
  }

  def clearDir(path: String): Unit = Recorder.delete(new File(path))
}

object Recorder {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
}

/** A workload: its constructor registers the inputs as `graft.Cli` does, by
  * opening them (part of set-up); `pass` runs one pass, and outputs of pass N
  * must equal pass 0's. */
abstract class Workload {
  def rows: Long
  /** End-to-end quality of the last pass: a ratio, higher is better. */
  var quality = 0.0
  /** Per-pass values of the last pass that the per-layer metrics report. */
  val values = mutable.LinkedHashMap.empty[String, Double]
  def pass(r: Recorder, dir: String, i: Int): Unit
  /** Work done once before the cold pass, timed as its own operations. */
  def prepare(r: Recorder, work: String): Unit = ()

  private val firstDigests = mutable.HashMap.empty[String, Any]
  /** Pass 0 records `digest`; every later pass must reproduce it. */
  protected def same(r: Recorder, key: String, digest: Any): Unit =
    firstDigests.get(key) match {
      case None => firstDigests(key) = digest
      case Some(d) => r.check(d == digest, s"$key differs from pass 0")
    }
}

/** The paper's pipeline: tweet CSV ingest, then k-medoids with assignment
  * I/O and the per-cluster analysis queries. */
final class Tweets(spark: SparkSession, input: String, truth: JsonNode) extends Workload {
  private val csv = s"$input/tweets.csv"
  private val valid = truth.get("valid_rows").asLong
  private val text = spark.read.text(csv)
  val rows: Long = truth.get("input_rows").asLong
  /** One k, the planted one: each k adds ~5 s to a warm pass on 4 cores,
    * and k in 2..5 made a run longer than the benchmark's time budget. */
  private val k = truth.get("planted_k").asInt

  def pass(r: Recorder, dir: String, i: Int): Unit = {
    val featPath = s"$dir/features"
    val features = r.op("sources.ingest") {
      TweetIngest.writeFeatures(TweetIngest.ingest(spark, csv), featPath)
      TweetIngest.readFeatures(spark, featPath)
    }
    if (i == 0) r.check(text.count() == rows, "tweets.csv line count differs from truth")
    val ids = checkFeatures(r, features.collect())
    values("sources.rows_in") = valid.toDouble
    values("sources.rows_rejected") =
      truth.get("rejects").properties().asScala.map(_.getValue.asLong).sum.toDouble

    val seeds = r.op("kmeans.seed")(KMeans.deterministicSeeds(features.toDF(), k))
    r.check(seeds.distinct.size == k && seeds.forall(ids), s"seeds $seeds")
    val res = r.op("kmeans.run")(KMeans.run(features,
      KMeansConfig(k = k, seeds = seeds, strategy = SampledMedoid(256))))
    values("kmeans.iterations") = res.iterations.toDouble
    val centroidIds = res.centroids.map(_.id)
    r.check(centroidIds.size == k && centroidIds.forall(ids),
      s"centroid ids $centroidIds are not $k members")
    same(r, "centroids", centroidIds)
    val assignPath = s"$dir/assign"
    val assigned = r.op("sources.assignio") {
      AssignmentIO.write(res.assignments, assignPath)
      AssignmentIO.read(spark, assignPath)
    }
    val pairs = assigned.collect().map(x => (x.getLong(0), x.getInt(1))).sorted
    r.check(pairs.length == valid && pairs.map(_._1).toSet == ids,
      s"${pairs.length} assignments, want each of the $valid feature ids once")
    r.check(pairs.forall(p => p._2 >= 0 && p._2 < k), s"a cluster outside [0,$k)")
    same(r, "assignments", pairs.toSeq)

    val centroids = res.centroids.zipWithIndex.map { case (c, j) => j -> c }.toMap
    val (groups, averages, sse) = r.op("analysis") {
      val enriched = Analysis.enrich(assigned, features.toDF())
      (Analysis.groupCount(enriched).collect(),
        Analysis.clusterAverages(enriched).collect(),
        Analysis.clusterSse(enriched, centroids).collect())
    }
    val sizes = pairs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    r.check(groups.map(_.getLong(1)).sum == valid, "groupCount total")
    r.check(averages.map(x => x.getInt(0) -> x.getAs[Long]("n")).toMap == sizes,
      "clusterAverages sizes differ from the assignments")
    r.check(sse.forall(x => sizes.contains(x.getInt(0))), "clusterSse clusters")
    // the k-medoids objective, per row
    val cost = sse.map(_.getDouble(1)).sum / valid
    quality = truth.get("planted_cost").asDouble / cost
    values("quality.cluster_cost") = cost

    val rnd = r.op("kmeans.seed")(KMeans.randomSeeds(features.toDF(), 5, 0.6, 42L))
    r.check(rnd.distinct.size == 5 && rnd.forall(ids), s"randomSeeds $rnd")
    same(r, "randomSeeds", rnd)
  }

  /** The ingest against the generator's truth; returns the feature ids. */
  private def checkFeatures(r: Recorder, f: Array[TweetFeatures]): Set[Long] = {
    val got = Seq(f.length.toLong, f.map(_.time.toLong).sum, f.map(_.numOfHashtags.toLong).sum,
      f.map(_.hasVideo.toLong).sum, f.map(_.replyCount.toLong).sum,
      f.map(_.retweetCount.toLong).sum, f.map(_.likeCount.toLong).sum)
    val want = Seq("valid_rows", "sum_time", "sum_tags", "sum_video", "sum_reply",
      "sum_retweet", "sum_like").map(truth.get(_).asLong)
    r.check(got == want, s"ingest totals $got, truth $want")
    val langs = f.groupBy(_.language).view.mapValues(_.length.toLong).toMap
    val wantLangs = truth.get("languages").properties().asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap
    r.check(langs == wantLangs, s"ingest languages $langs, truth $wantLangs")
    val ids = f.map(_.id).toSet
    r.check(ids.size == f.length, "duplicate feature ids")
    ids
  }
}

/** Dedup quality against planted families: a family keeps its minimum id, and
  * every other member is a planted duplicate. */
object Planted {
  def removed(truth: JsonNode): Set[Long] =
    truth.get("families").elements().asScala.flatMap { fam =>
      val ids = fam.elements().asScala.map(_.get(0).asLong).toSeq
      ids.filter(_ != ids.min)
    }.toSet

  /** (recall, precision) of a removal set against the planted duplicates. */
  def score(removed: Set[Long], planted: Set[Long]): (Double, Double) = {
    val hit = removed.count(planted).toDouble
    (hit / math.max(1, planted.size), if (removed.isEmpty) 1.0 else hit / removed.size)
  }

  def f1(rp: (Double, Double)): Double =
    if (rp._1 + rp._2 == 0) 0.0 else 2 * rp._1 * rp._2 / (rp._1 + rp._2)
}

/** The `Cli dedup` verb: `dedupApply` over the corpus and
  * `ensembleDedupApply` over a small slice, each followed by the survivors'
  * parquet write. */
final class Corpus(spark: SparkSession, input: String, truth: JsonNode) extends Workload {
  private val corpus = spark.read.parquet(s"$input/corpus.parquet")
  private val slice = spark.read.parquet(s"$input/slice.parquet")
  val rows: Long = truth.get("input_rows").asLong
  private lazy val corpusIds = ids(corpus)
  private lazy val sliceIds = ids(slice)
  private lazy val planted = Planted.removed(truth.get("corpus"))
  private lazy val plantedSlice = Planted.removed(truth.get("slice"))

  private def ids(df: DataFrame): Set[Long] = idList(df).toSet
  private def idList(df: DataFrame): Seq[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSeq

  def pass(r: Recorder, dir: String, i: Int): Unit = {
    val kept = r.op("dedup.lsh")(Dedup.dedupApply(corpus, minJaccard = 0.5))
    val rp = survivors(r, "corpus", r.op("dedup.write") {
      write(corpus, kept, s"$dir/deduped")
    }, corpusIds, planted)
    quality = Planted.f1(rp)
    values("quality.dedup_recall") = rp._1
    values("quality.dedup_precision") = rp._2
    val keptE = r.op("dedup.ensemble")(Dedup.ensembleDedupApply(slice, minJaccard = 0.5))
    val rpE = survivors(r, "slice", r.op("dedup.write") {
      write(slice, keptE, s"$dir/deduped_slice")
    }, sliceIds, plantedSlice)
    values("dedup.ensemble_recall") = rpE._1
  }

  private def write(docs: DataFrame, kept: DataFrame, path: String): DataFrame = {
    docs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  private def survivors(r: Recorder, key: String, out: DataFrame, all: Set[Long],
      planted: Set[Long]): (Double, Double) = {
    val list = idList(out)
    val kept = list.toSet
    r.check(all.size == truth.get(key).get("docs").asInt, s"$key: input size differs from truth")
    r.check(kept.subsetOf(all), s"$key: survivors outside the corpus")
    r.check(list.size == kept.size, s"$key: duplicate survivor rows")
    same(r, s"survivors-$key", kept.toSeq.sorted)
    val removed = all -- kept
    if (key == "corpus") values("dedup.removed") = removed.size.toDouble
    val rp = Planted.score(removed, planted)
    // LSH is probabilistic, but a planted duplicate of Jaccard >= 0.6 is a
    // candidate with probability > 0.4 per pair and usually through several
    // family members; a recall this low means the dedup is broken
    r.check(rp._1 >= 0.5 && rp._2 >= 0.99, s"$key: recall ${rp._1} precision ${rp._2}")
    rp
  }
}

/** `Cli bandindex` once before the cold pass, then `Cli ingest-dedup
  * --fold true` per batch: register the persisted band index, run the
  * staleness preflight, probe it, write pairs and clean docs, fold the
  * clean docs in; `compactBandIndex` every few batches. Each pass replays
  * the stream on a fresh copy of the base index. */
final class Index(spark: SparkSession, input: String, truth: JsonNode) extends Workload {
  private val Name = "graft_idx"
  private val Buckets = 8
  private val base = spark.read.parquet(s"$input/base.parquet")
  private val nBatches = truth.get("batches").asInt
  private val batches = (0 until nBatches).map(b =>
    spark.read.parquet(f"$input/batches/b$b%03d.parquet"))
  private val batchDocs = truth.get("batch_docs").asLong
  private val compactEvery = truth.get("compact_every").asInt
  private val baseDocs = truth.get("base_docs").asLong
  val rows: Long = nBatches * batchDocs
  private lazy val planted = truth.get("planted_pairs").elements().asScala
    .map(p => (p.get(0).asLong, p.get(1).asLong)).toSet
  private lazy val textBytes = base.agg(sum(octet_length(col("text")))).head().getLong(0)
  private var baseIndex: String = _

  override def prepare(r: Recorder, work: String): Unit = {
    baseIndex = s"$work/base_index"
    r.op("index.build")(Dedup.writeBandIndex(base, Name, buckets = Buckets,
      location = Some(baseIndex)))
    r.check(base.count() == baseDocs, "base size differs from truth")
  }

  def pass(r: Recorder, dir: String, i: Int): Unit = {
    val loc = s"$dir/index"
    copyTree(new File(baseIndex), new File(loc))
    val files = new FileLedger(new File(loc))
    var ingestedBytes = 0L
    var userBytes = textBytes
    var found = Set.empty[(Long, Long)]
    var filesSeen = 0L
    for ((batch, b) <- batches.zipWithIndex) {
      r.op("index.register")(Dedup.registerBandIndex(spark, Name, loc, Buckets))
      // Cli's staleness preflight; a stale index still answers
      r.op("index.preflight") {
        if (spark.catalog.tableExists(s"${Name}_bandcensus") && Dedup.bandIndexStale(spark, Name))
          Dedup.bandDriftStats(spark, Name)
      }
      filesSeen += dataFiles(loc)
      val out = s"$dir/out$b"
      r.op("index.probe") {
        val pairs = Dedup.incrementalNearDupPairsIndexed(spark, batch, Name, minJaccard = 0.5)
        val clean = batch.join(pairs.select(col("new_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        pairs.write.mode("overwrite").parquet(s"$out/pairs")
        clean.write.mode("overwrite").parquet(s"$out/clean")
      }
      val pairs = spark.read.parquet(s"$out/pairs")
        .select("new_id", "old_id", "jacc").collect()
      r.check(pairs.forall(_.getDouble(2) >= 0.5), s"batch $b: pair below the threshold")
      val accepted = spark.read.parquet(s"$out/clean")
      val clean = accepted.select(col("doc_id"), octet_length(col("text"))).collect()
      val nClean = clean.length
      val dupIds = pairs.map(_.getLong(0)).toSet
      r.check(clean.forall(c => !dupIds(c.getLong(0))), s"batch $b: a dup is in clean")
      r.check(nClean + dupIds.size == batchDocs,
        s"batch $b: $nClean clean + ${dupIds.size} dups != $batchDocs")
      same(r, s"pairs$b", pairs.map(p => (p.getLong(0), p.getLong(1))).toSeq.sorted)
      found ++= pairs.map(p => (p.getLong(0), p.getLong(1)))
      r.op("index.append")(Dedup.appendToBandIndex(spark, accepted, Name))
      val added = clean.map(_.getInt(1).toLong).sum
      ingestedBytes += added
      userBytes += added
      files.update()
      if ((b + 1) % compactEvery == 0) {
        r.op("index.compact")(Dedup.compactBandIndex(spark, Name, loc, Buckets))
        files.update()
      }
    }
    val sets = Bucketing.readBucketed(spark, s"${Name}_sets").count()
    r.check(sets == baseDocs + rows - found.map(_._1).size,
      s"index holds $sets docs after the stream")
    val rp = (found.count(planted).toDouble / math.max(1, planted.size),
      if (found.isEmpty) 1.0 else found.count(planted).toDouble / found.size)
    r.check(rp._1 >= 0.5 && rp._2 >= 0.99, s"probe recall ${rp._1} precision ${rp._2}")
    quality = Planted.f1(rp)
    values("quality.dedup_recall") = rp._1
    values("quality.dedup_precision") = rp._2
    values("index.pairs") = found.size.toDouble
    values("index.files") = filesSeen.toDouble / nBatches
    values("index.bytes_per_user_byte") = indexBytes(loc).toDouble / userBytes
    values("index.write_amp") = files.written.toDouble / ingestedBytes
  }

  private def currentDirs(loc: String): Seq[File] =
    Seq("bands", "sets").map(s =>
      new File(new java.net.URI(Bucketing.currentDir(spark, loc, s)).getPath))

  private def dataFiles(loc: String): Long =
    currentDirs(loc).map(FileLedger.parts(_).size.toLong).sum

  private def indexBytes(loc: String): Long =
    currentDirs(loc).map(FileLedger.parts(_).map(_.length).sum).sum

  private def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles).foreach(_.foreach(f => copyTree(f, new File(to, f.getName))))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)
}

/** Bytes of parquet part files that appear under a directory tree: the
  * index's write amplification, measured from the files it leaves. */
final class FileLedger(root: File) {
  private val seen = mutable.HashSet.empty[String]
  var written = 0L
  FileLedger.parts(root).foreach(f => seen += f.getPath)
  def update(): Unit = FileLedger.parts(root).foreach { f =>
    if (seen.add(f.getPath)) written += f.length
  }
}

object FileLedger {
  def parts(dir: File): Seq[File] =
    if (dir.isDirectory) Option(dir.listFiles).toSeq.flatten.flatMap(parts)
    else if (dir.getName.startsWith("part-")) Seq(dir) else Nil
}
