package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.KMeansConfig
import graft.operators.KMeans

/** Benchmark main: times every registry query plus the flagship iterative
  * k-medoids loop at `SPARK_GRAFT_SF_DIR`, printing ONE JSON line.
  *
  * Noise control (single-run totals on a contended sandbox are dominated
  * by outliers that move between runs — measured in round 1):
  *   - each query runs `SPARK_GRAFT_BENCH_REPS` times (default 3) and
  *     reports the per-query MEDIAN; `value` = Σ medians; reps are
  *     interleaved round-robin across the chunk (see [[runQueries]]) so
  *     consecutive reps don't re-time the previous rep's teardown;
  *   - an untimed warmup query absorbs JIT/codegen/parquet-footer cold
  *     start before the first timed query;
  *   - the sink is `noop` format, which materializes every row of the
  *     full plan (a `count()` action would let Catalyst prune terminal
  *     projections — flattering but dishonest).
  * `min_total` (Σ per-query minima) is also reported: it is the better
  * cross-machine comparison number because per-query minima approximate
  * the contention-free cost.
  *
  * JVM-chunked execution (round 4): rounds 1–3 each saw the FULL-suite
  * run degrade 10–70× on scattered rows while the same rows re-ran fast
  * in isolation — the signature of JIT code-cache flush/deopt churn as
  * ~97 queries × 3 reps of whole-stage codegen accumulate in one JVM
  * (see build.sbt). Rather than keep chasing the cache ceiling, the
  * parent process now splits the registry into chunks of
  * `SPARK_GRAFT_BENCH_CHUNK` (default 24) queries and runs each chunk in
  * a FRESH child JVM (same classpath and JVM flags, sequential), so no
  * JVM ever compiles more than ~chunk×reps generated classes. Children
  * write per-query rows (median, min, all runs, code-cache occupancy,
  * GC-time delta) to partial files; the parent merges them into the one
  * JSON line. JVM/session startup is NOT counted — only the timed query
  * calls are. If spawning fails for a chunk, that chunk runs inline in
  * the parent (the pre-round-4 behavior) so the bench always completes.
  */
object Bench {

  /** Flagship loop, bench-shaped: the reference's iterative k-medoids
    * (assign → medoid update → converge, `Cluster.java:280-389`) with
    * k=3 and 2 update rounds at the bench scale factor. The returned
    * final-assignment summary is noop-written by the harness like every
    * other row; the iterations themselves run inside the timed call.
    *
    * Centroid strategy is the engine's documented SCALE path
    * (`SampledMedoid`): k=3 over the sf0.1 feature table leaves ~50k-row
    * clusters, where the reference's exact O(n²)-per-cluster medoid is a
    * 20+ minute single-task straggler (3 clusters = 3 tasks — the
    * partition-starved shape `Model.scala` documents as the reason the
    * strategy exists). 256 deterministic candidates × all members keeps
    * the update O(n·s), fully parallel, and the medoid still exact w.r.t.
    * the candidate set. */
  def flagshipKMedoids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val features = Tables.eventFeatures(spark, dir).as[graft.model.TweetFeatures]
    val seeds = KMeans.deterministicSeeds(features.toDF(), 3)
    val result = KMeans.run(features,
      KMeansConfig(k = 3, seeds = seeds, maxIterations = 2,
        strategy = graft.model.SampledMedoid(256)))
    result.assignments.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
  }

  /** One measured query: name, per-rep seconds (sorted), code-cache
    * occupancy after the last rep (MB), cumulative-GC delta across the
    * reps (s), the shuffle read/write bytes of the MIN-WALL rep
    * (bytes and seconds describe the same execution, the ScalingBench
    * convention), and the codegen compile seconds summed over the reps'
    * timed windows (a row that recompiles on every rep shows it here).
    * The diagnostics make a degraded run self-diagnosing: churn shows
    * as cc_mb pinned at the reserve and gc_sec spiking together, and
    * byte-identical rows with divergent walls self-label
    * as environment (shuffle volume is plan-determined and
    * host-load-invariant — the cross-run comparator wall time isn't). */
  final case class QueryResult(name: String, runs: Seq[Double],
                               ccMb: Double, gcSec: Double,
                               shuffleReadB: Long = 0L, shuffleWriteB: Long = 0L,
                               codegenSec: Double = 0.0) {
    def median: Double = runs(runs.size / 2)
    def min: Double = runs.head
  }

  private def codeCacheUsedMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1e6
  }

  /** GC algorithm + heap provenance for the run artifact: a 3-4× GC-time
    * spike on byte-identical rows is the box-noise signature this repo
    * has documented since round 3 — recording WHICH collector and heap
    * produced it makes cross-run GC comparisons meaningful. */
  private def gcAlgoName: String = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getName).mkString("+")
  }

  private def gcTotalSec(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** All registry queries plus the flagship loop, in stable name order. */
  def registry: Seq[(String, (SparkSession, String) => DataFrame)] =
    (SparkEntry.queries.toSeq ++ Seq("q00_flagship_kmedoids" -> (flagshipKMedoids _)))
      .sortBy(_._1)

  /** One task-metrics listener per live CONTEXT (repeated [[runQueries]]
    * calls on the parent's inline-fallback session must not stack
    * duplicate listeners). Keyed by the SparkContext — what `install()`
    * actually registers on — not the session: many sessions can share
    * one context, and a session-keyed cache would re-install a second
    * listener (overlapping counts) as soon as a new session appeared on
    * the same still-live context (round-10 ADVICE). WEAK keys: a
    * long-lived multi-context JVM must not retain stopped contexts (and
    * their listeners) through this cache — the listener itself lives on
    * the context's bus and dies with it. */
  private val probes =
    new java.util.WeakHashMap[org.apache.spark.SparkContext,
      org.apache.spark.graftnative.TaskMetricsProbe]
  private[graft] def probeFor(spark: SparkSession): org.apache.spark.graftnative.TaskMetricsProbe =
    probes.synchronized {
      val sc = spark.sparkContext
      val existing = probes.get(sc)
      if (existing != null) existing
      else {
        val p = org.apache.spark.graftnative.TaskMetricsProbe.install(sc)
        probes.put(sc, p)
        p
      }
    }

  /** Clean-builder seconds for [[machineProbeSec]] (calibrated on the
    * quiet builder across 4 fresh JVMs: 0.83-0.89 s; run it yourself
    * with SPARK_GRAFT_MACHINE_PROBE_ONLY=1). Like [[CanaryRefSec]] this
    * is a DOCUMENTED CONSTANT, not a trip wire: `machine_factor` =
    * machine_sec / this, so 1.0 means "as fast as the clean builder"
    * and the driver's historical 1.2-1.3× windows read as exactly
    * that. Σ/median comparisons ACROSS runs must divide by the run's
    * machine_factor first — round 8's 347 s driver vs 283 s builder on
    * identical code was a uniform 1.22× host window that no per-chunk
    * label could see (both runs internally consistent), which is the
    * measured reason this probe exists. */
  val MachineRefSec: Double = 0.85

  /** Fixed, deterministic, single-threaded CPU-bound reference
    * workload: FNV-1a-style mixing over a fixed iteration count — no
    * Spark, no I/O, no allocation, so its wall time moves ONLY with
    * host speed/contention (CPU steal, frequency, noisy neighbors).
    * Timed after an untimed 1/8-size JIT warm pass; the checksum is
    * consumed (returned impossible-to-fold) so the loop cannot be
    * dead-code-eliminated. Run at bench start AND end by the parent
    * process; the Spark-side complement (scheduling overhead) is the
    * existing per-chunk canary. */
  def machineProbeSec(): Double = {
    def pass(iters: Long): Long = {
      var acc = 0xcbf29ce484222325L
      var i = 0L
      while (i < iters) {
        acc ^= i
        acc *= 0x100000001b3L
        acc ^= (acc >>> 29)
        i += 1
      }
      acc
    }
    val n = 400000000L
    val warm = pass(n / 8)
    val t0 = System.nanoTime()
    val full = pass(n)
    val t = (System.nanoTime() - t0) / 1e9
    if (warm == 42L && full == 43L) System.err.println("[bench] (unreachable)")
    t
  }

  /** Clean reference time for [[canary]] at the driver's bench
    * conditions (sf0.1, local[32]; builder's uncontended machine measured
    * 0.33-0.47 s across fresh child JVMs). DIAGNOSTIC ONLY since round 8:
    * a committed absolute constant flags every chunk on a legitimately
    * slower-but-uncontended machine, so the contention flag now keys off
    * the run's own fastest canary ([[contendedChunks]]) and this number
    * just rides along in stderr + `canary_min` in the JSON line so a
    * reader can compare the run's level against the builder's clean one.
    * Caveat either way: a UNIFORMLY slow machine (every chunk equally
    * contended, round 6's driver pattern end to end) is invisible to a
    * run-relative reference — for that case compare `canary_min` to this
    * constant; `min_total` remains the robust cross-machine number. */
  val CanaryRefSec: Double = 0.40

  /** Chunks whose start OR end canary blew past 5× the fastest canary
    * of ITS OWN population — uniform-within-a-chunk contention that
    * median/min misses, measured machine-relative so a slow-but-steady
    * machine doesn't false-positive. Counted per CHUNK (start/end
    * zipped), not per canary: a chunk slow at both ends is one
    * contended chunk, not two. Start and end canaries get SEPARATE
    * references because their baselines differ systematically (the end
    * canary runs in a fully warm chunk JVM, measured ~0.1 s vs ~0.3 s
    * at start — one pooled minimum made every ordinary start canary
    * read as 3-5× "contended"). The 0.05 s floor keeps micro-jitter on
    * tiny scale factors from flagging. */
  def contendedChunks(starts: Seq[Double], ends: Seq[Double] = Nil): Int = {
    def ref(xs: Seq[Double]): Double =
      if (xs.isEmpty) Double.PositiveInfinity else 5 * xs.min.max(0.05)
    val (rs, re) = (ref(starts), ref(ends))
    starts.zipAll(ends, 0.0, 0.0).count { case (s, e) => s > rs || e > re }
  }

  /** The case the run-relative flag is structurally blind to: EVERY
    * canary slow by the same factor (round 6's driver pattern end to
    * end — a uniformly contended machine looks internally consistent).
    * Backstopped absolutely: the run's fastest START canary beyond 5×
    * the documented clean-builder level is not a "different machine
    * speed", it is a run whose medians should not be trusted
    * (min_total remains the robust number either way; ADVICE r7
    * adjudicated that a uniformly slow machine flagging contended=true
    * is the correct outcome as long as the reference is documented —
    * it is, above). START canaries only: CanaryRefSec is calibrated at
    * chunk start, and the systematically ~4× faster end canaries would
    * otherwise raise the effective trip point to ~20× slowdown. */
  def uniformSlow(starts: Seq[Double], ends: Seq[Double]): Boolean =
    starts.nonEmpty && starts.min > 5 * CanaryRefSec

  /** Chunks whose END canary ran > 3× their START canary (and isn't
    * micro-jitter): state accumulated DURING the chunk — heap creep,
    * listener retention, piled-up shuffle files, or late-arriving
    * interference — which a start-only canary is structurally blind to
    * (round 7's rep drift: rep 3 of a 24-query chunk runs ~20 min after
    * its canary). Labeled per chunk, not averaged away. */
  def driftedChunks(starts: Seq[Double], ends: Seq[Double]): Int =
    starts.zip(ends).count { case (s, e) => e > 0.5 && e > 3 * s }

  /** The fixed per-chunk canary: a trivial 5-row scan-and-count whose
    * cost is almost pure job-submission/scheduling overhead — exactly
    * the cost machine contention inflates. Run twice, first untimed
    * (parquet footer + codegen for THIS query shape), second timed, so
    * the signal is scheduling, not cold start (measured: 0.60 s cold,
    * 0.33-0.47 s warm on the clean builder). */
  def canary(spark: SparkSession, sfDir: String): Double = {
    def once(): Unit =
      try spark.read.parquet(s"$sfDir/region.parquet")
        .groupBy("r_regionkey").count()
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    once()
    val t0 = System.nanoTime()
    once()
    (System.nanoTime() - t0) / 1e9
  }

  /** Pseudo-row names carrying a chunk's start/end canary times through
    * the child protocol; filtered out of the query results by the parent. */
  val CanaryName = "__chunk_canary"
  val CanaryEndName = "__chunk_canary_end"
  /** Per-chunk machine probe (CPU-only, host-speed): the whole-run
    * start/end probes can miss a contention window that opens and closes
    * MID-run; one reading per chunk JVM localizes it to the chunk. */
  val ChunkProbeName = "__chunk_probe"

  /** Shuffle-byte equality within 2% (1 KiB floor): bytes are plan- and
    * data-determined, so matching columns identify "same plan over the
    * same data" for the env-suspect flag, the baseline min-merge, and the
    * fast-row rep trim. */
  private[graft] def bytesMatch(a: Long, b: Long): Boolean =
    math.abs(a - b) <= math.max(1024L, (0.02 * math.max(a, b)).toLong)

  /** Untimed pause after a rep that leaked blocks (see [[timedRep]]). */
  private val SettleMs = 2500L

  /** One measured rep, the protocol every timing loop shares (Bench,
    * ScalingBench, HammingPlanSweep): probe reset, the TIMED action, a
    * listener-bus drain (so the snapshot covers all of this rep's tasks
    * and none leak into the next window), the probe snapshot, then
    * untimed cleanup — which runs even when the action throws. Returns
    * (action result, seconds, (shuffle read, shuffle write, disk spill,
    * memory spill) bytes, codegen compile seconds). The compile seconds
    * are the `CodeGenerator.compileTime` delta over the timed action: a
    * JVM-wide counter, so it covers the driver's and the local
    * executors' compiles, and it reads only the classes this rep missed
    * in Spark's codegen cache.
    *
    * Cleanup: iterative queries (CC loops, k-medoids) leave
    * lazy-localCheckpoint RDD blocks behind that belong to the now-dead
    * invocation; accumulated across reps they evict each other into
    * recompute churn (measured: rep 3 of the ensemble 2x rep 1). Each rep
    * measures a fresh invocation, so the leftovers are garbage, not warm
    * state. Only those queries leak; the conditional keeps cleanup free
    * for the other ~95% of rows (an unconditional System.gc() taxed every
    * row). The settle follows whether the rep STORED an RDD block, as the
    * drained listener bus saw it, not whether a persisted RDD is still
    * registered: a lazily checkpointed frame stays registered only until
    * the JVM next collects it, so that test paused after some reps of a
    * row and not after others. */
  def timedRep[A](spark: SparkSession,
                  probe: org.apache.spark.graftnative.TaskMetricsProbe)
                 (action: => A): (A, Double, (Long, Long, Long, Long), Double) = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    probe.reset()
    try {
      val compile0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      val result = action
      val t = (System.nanoTime() - t0) / 1e9
      val compileSec = (CodeGenerator.compileTime - compile0) / 1e9
      try org.apache.spark.graftnative.TaskMetricsProbe.drain(spark.sparkContext)
      catch { case _: Throwable => () }
      (result, t, probe.snapshot(), compileSec)
    } finally try {
      org.apache.spark.graftnative.TaskMetricsProbe.drain(spark.sparkContext)
      val leaked = spark.sparkContext.getPersistentRDDs
      if (leaked.nonEmpty) {
        spark.sharedState.cacheManager.clearCache()
        // BLOCKING unpersist: the async form returns immediately and the
        // block-manager removal work then lands INSIDE the next timed rep
        // (measured on the ensemble row: reps climbed 7 s -> 13 s async,
        // flat blocking)
        leaked.values.foreach(_.unpersist(true))
      }
      if (probe.persistedRdd) {
        // nudge the ContextCleaner: shuffle files and broadcasts of the
        // dead invocation are reference-tracked and only reclaimed after
        // a GC notices the references died
        System.gc()
        // settle: the cleaner then deletes those shuffles and broadcasts
        // ASYNCHRONOUSLY — without a pause that IO/lock traffic lands
        // inside the next timed rep (measured on the ensemble row: reps
        // climbed 8 -> 13 s unsettled, 5.5 -> 7.9 s with a pause)
        Thread.sleep(SettleMs)
      }
    } catch { case _: Throwable => () }
  }

  /** Runs the named queries (reps each) in THIS JVM and returns rows.
    * Shared by child processes and the parent's inline fallback. When
    * `withCanary`, the chunk's canary is timed right after the warmup
    * AND again after the last pass ([[CanaryName]] / [[CanaryEndName]]
    * pseudo-rows), so drift DURING the chunk is labeled, not just
    * contention at its start.
    *
    * Reps are INTERLEAVED round-robin (pass 1 of every query, then pass
    * 2, …), not back-to-back: consecutive reps of the same query re-time
    * it against its own just-died invocation's asynchronous teardown
    * (shuffle-file deletion, block eviction, cleaner GC traffic), which
    * round 7 measured as monotonic rep growth (q110 0.67/2.0/12.1 s)
    * that inflated Σ-medians 20% over Σ-min. Round-robin puts ~chunk-1
    * other queries between a query's passes, so each rep sees the same
    * settled JVM and the median measures the plan again, not the
    * previous rep's garbage collection. */
  def runQueries(spark: SparkSession, sfDir: String, names: Seq[String],
                 reps: Int, withCanary: Boolean = false,
                 trimRef: Option[BenchRef] = None): Seq[QueryResult] = {
    val byName = registry.toMap
    // untimed warmup: JIT + codegen + parquet footer caches
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val canaryRow =
      if (withCanary) {
        val t = canary(spark, sfDir)
        System.err.println(f"[bench] chunk canary ${t}%.3f s (builder clean ref $CanaryRefSec)")
        Seq(QueryResult(CanaryName, Seq(t), 0.0, 0.0))
      } else Nil

    val probe = probeFor(spark)

    // duplicate names would accumulate 2×reps runs under ONE key and be
    // emitted twice (double-counting Σ); dedupe up front and say so
    val uniqueNames = names.distinct
    if (uniqueNames.size != names.size)
      System.err.println(s"[bench] duplicate query names dropped: " +
        names.diff(uniqueNames).distinct.mkString(","))
    val known = uniqueNames.flatMap { name =>
      val fn = byName.get(name)
      if (fn.isEmpty) System.err.println(s"[bench] unknown query $name — skipped")
      fn.map(name -> _)
    }
    // pass-major execution; per-query GC deltas are summed over that
    // query's individual runs so attribution survives the interleave
    val times = collection.mutable.Map.empty[String, Vector[(Double, Long, Long)]]
    val gcSecs = collection.mutable.Map.empty[String, Double]
    val codegenSecs = collection.mutable.Map.empty[String, Double]
    // the ccMb sample must be taken at the query's LAST pass, not at
    // end-of-chunk: sampled later, every query in the chunk reports the
    // identical final level and the per-query growth curve (the signal
    // for codegen-cache pressure) flattens into a constant
    val finals = collection.mutable.Map.empty[String, QueryResult]
    // Fast-stable rep trim (round-13 verdict #2, wall-budget diet): a row
    // whose CLEAN-BASELINE median is sub-0.5 s, whose two measured reps
    // are both sub-second, and whose min-wall shuffle bytes match the
    // baseline's (same plan, same data) has nothing left for a third rep
    // to say — with ~150 such rows in the registry this saves a full rep
    // × ~0.4 s each per chunk pass. A regressed or re-planned row fails
    // the gate and keeps all its reps. 2-rep "median" = the WORSE run
    // (conservative; the baseline min-merge is unaffected — it only ever
    // lowers on bytes-match).
    def trimAfterTwo(name: String): Boolean =
      reps >= 3 && trimRef.exists { r =>
        (for {
          m <- r.medians.get(name); w <- r.writeB.get(name); rd <- r.readB.get(name)
        } yield {
          val (_, minSr, minSw) = times(name).minBy(_._1)
          m / r.machineFactor < 0.5 && times(name).forall(_._1 < 1.0) &&
            bytesMatch(minSw, w) && bytesMatch(minSr, rd)
        }).getOrElse(false)
      }
    for (pass <- 1 to reps; (name, fn) <- known if !finals.contains(name)) {
      val gc0 = gcTotalSec()
      val (_, t, (sr, sw, _, _), cg) = timedRep(spark, probe) {
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[bench] $name FAILED: $e") }
      }
      times(name) = times.getOrElse(name, Vector.empty) :+ ((t, sr, sw))
      gcSecs(name) = gcSecs.getOrElse(name, 0.0) + (gcTotalSec() - gc0)
      codegenSecs(name) = codegenSecs.getOrElse(name, 0.0) + cg
      if (pass == reps || (pass == 2 && trimAfterTwo(name))) {
        // bytes come from the min-wall rep so bytes and seconds describe
        // the same execution (shuffle volume is plan-determined; reps
        // agree to retry noise, so any rep is representative)
        val (_, minSr, minSw) = times(name).minBy(_._1)
        val r = QueryResult(name, times(name).map(_._1).sorted,
          codeCacheUsedMb(), gcSecs(name), minSr, minSw, codegenSecs(name))
        finals(name) = r
        System.err.println(f"[bench] $name median ${r.median}%.2f s  runs ${times(name).map(x => f"${x._1}%.2f").mkString("/")}  shW ${r.shuffleWriteB / 1e6}%.1f MB  cc ${r.ccMb}%.0f MB  gc ${r.gcSec}%.2f s")
      }
    }
    val endCanaryRow =
      if (withCanary) {
        val t = canary(spark, sfDir)
        System.err.println(f"[bench] chunk END canary ${t}%.3f s")
        Seq(QueryResult(CanaryEndName, Seq(t), 0.0, 0.0))
      } else Nil
    canaryRow ++ known.map { case (name, _) => finals(name) } ++ endCanaryRow
  }

  // ---- child protocol: tab-separated rows, no JSON parser needed ----
  private def encodeRow(r: QueryResult): String =
    s"${r.name}\t${r.runs.mkString(",")}\t${r.ccMb}\t${r.gcSec}\t${r.shuffleReadB}\t${r.shuffleWriteB}\t${r.codegenSec}"

  private def decodeRow(line: String): QueryResult = {
    val parts = line.split('\t')
    QueryResult(parts(0), parts(1).split(',').map(_.toDouble).toSeq.sorted,
      parts(2).toDouble, parts(3).toDouble,
      if (parts.length > 4) parts(4).toLong else 0L,
      if (parts.length > 5) parts(5).toLong else 0L,
      if (parts.length > 6) parts(6).toDouble else 0.0)
  }

  /** Child-JVM entry: runs the chunk named (exactly) in
    * SPARK_GRAFT_BENCH_ONLY, writes rows to SPARK_GRAFT_BENCH_OUT.
    * The chunk's own machine-probe reading rides back as a pseudo-row,
    * so a contention window that opens mid-run is localized to its
    * chunk instead of averaged into the run-level start/end probes. */
  private def childMain(sfDir: String, reps: Int): Unit = {
    val names = sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", "").split(',').toSeq.filter(_.nonEmpty)
    val out = sys.env("SPARK_GRAFT_BENCH_OUT")
    val probeSec = machineProbeSec()
    // the clean baseline (sf-gated, CWD-relative — children inherit the
    // parent's CWD) feeds the fast-row rep trim; absent file = no trim
    val trimRef =
      if (sys.env.contains("SPARK_GRAFT_BENCH_NO_TRIM")) None
      else readRef(BaselinePath).filter(_.sf.contains(sfDir))
    val spark = Sessions.local("graft-bench")
    val rows = runQueries(spark, sfDir, names, reps, withCanary = true, trimRef = trimRef) :+
      QueryResult(ChunkProbeName, Seq(probeSec), 0.0, 0.0)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      rows.map(encodeRow).mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }

  /** Spawns one child JVM for a chunk; returns its rows, or None if the
    * spawn/run failed (parent then falls back to inline). The child gets
    * the parent's exact JVM flags (add-opens, heap, code-cache) and
    * classpath, so it behaves identically to an sbt-forked run.
    *
    * Child stdout+stderr go to a per-chunk LOG FILE, not the parent's
    * streams (round-13 verdict #1): the driver's artifact keeps only the
    * run's output tail, and `BENCH_r13.json`'s tail was 2000 chars of
    * child WARN spam with the payload nowhere in sight. With children
    * quiet, the parent's tail is progress lines + the per-chunk partial
    * JSON — parseable even when the run is killed mid-chunk. On child
    * failure the log's tail is replayed to stderr for diagnosis. */
  private def runChunkInChild(chunk: Seq[String], partial: java.nio.file.Path,
                              log: java.nio.file.Path): Option[Seq[QueryResult]] = {
    import scala.jdk.CollectionConverters._
    try {
      val javaBin = java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", sys.props("java.class.path"), "graft.Bench")
      val pb = new ProcessBuilder(cmd.asJava)
      pb.environment().put("SPARK_GRAFT_BENCH_CHILD", "1")
      pb.environment().put("SPARK_GRAFT_BENCH_ONLY", chunk.mkString(","))
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", partial.toString)
      pb.redirectOutput(ProcessBuilder.Redirect.to(log.toFile))
      pb.redirectErrorStream(true)
      val exit = pb.start().waitFor()
      def logTail(n: Int): String =
        try java.nio.file.Files.readAllLines(log).asScala.takeRight(n).mkString("\n")
        catch { case _: Throwable => "<no log>" }
      if (exit != 0) {
        System.err.println(s"[bench] child exited $exit; log tail:\n${logTail(25)}")
        None
      }
      else if (!java.nio.file.Files.exists(partial)) { System.err.println(s"[bench] child wrote no $partial"); None }
      else Some(java.nio.file.Files.readAllLines(partial).asScala.toSeq
        .filter(_.nonEmpty).map(decodeRow))
    } catch { case e: Throwable => System.err.println(s"[bench] child spawn failed: $e"); None }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // floor at 3 UNLESS the user set the env var themselves: with n=2 the
    // reported "median" is the worse run, but silently overriding an
    // explicit reps=1 for a quick local loop is worse (ADVICE r3)
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt) match {
      case Some(n) if n < 3 =>
        System.err.println(s"[bench] honoring explicit SPARK_GRAFT_BENCH_REPS=$n (< recommended 3; medians degrade to worst/only run)")
        n.max(1)
      case Some(n) => n
      case None => 3
    }

    // calibration / quick host check: print two probe passes and exit
    // (how MachineRefSec was measured; no Spark session is created)
    if (sys.env.contains("SPARK_GRAFT_MACHINE_PROBE_ONLY")) {
      println(f"machine_probe_sec ${machineProbeSec()}%.3f ${machineProbeSec()}%.3f ref $MachineRefSec")
      return
    }

    if (sys.env.contains("SPARK_GRAFT_BENCH_CHILD")) return childMain(sfDir, reps)

    // optional comma-separated prefix filter for local iteration, e.g.
    // SPARK_GRAFT_BENCH_ONLY=q46,q48 — the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    val names = registry.map(_._1).filter(n => only.forall(_.exists(n.startsWith)))
    val chunkSize = sys.env.getOrElse("SPARK_GRAFT_BENCH_CHUNK", "24").toInt.max(1)
    val chunks = names.grouped(chunkSize).toSeq

    // host-speed reference, bracketing the whole run (fixed CPU-bound
    // workload — see machineProbeSec): the factor that makes Σ/median
    // comparable ACROSS runs on drifting shared hosts
    val machineStart = machineProbeSec()
    System.err.println(f"[bench] machine probe (start) $machineStart%.3f s (clean ref $MachineRefSec)")

    // the env-vs-code reference: the committed CLEAN baseline when it
    // matches this run's sf (STRICT match — a baseline without an sf
    // field is a mismatch, ADVICE r13); the last bench_result.json
    // otherwise (the pre-round-13 behavior — known to alternate
    // clean/contended, kept only as a legacy fallback, where a missing
    // sf is tolerated for backward compatibility). A smoke run at
    // sf0.001 must never be diffed against the sf0.1 reference.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    val baseline = readRef(BaselinePath).filter(_.sf.contains(sfDir))
    val ref = baseline.orElse(readRef(out).filter(_.sf.forall(_ == sfDir)))

    // wall budget (round-13 verdict #1/#2: the driver's r13 run died
    // rc=124 with NOTHING parseable): once elapsed passes the budget, no
    // new chunk or re-run pass starts — the run emits whatever completed,
    // marked partial, instead of letting an external kill emit nothing.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "2700").toDouble
    val t0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - t0) / 1e9

    // lazily created only if a child spawn fails and a chunk runs inline
    lazy val inlineSpark = Sessions.local("graft-bench")
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-bench")
    System.err.println(s"[bench] chunk logs + partials: $tmpDir")
    val pseudo = Set(CanaryName, CanaryEndName, ChunkProbeName)
    def splitPseudo(rows: Seq[QueryResult]): (Seq[QueryResult], Seq[Double], Seq[Double], Seq[Double]) =
      (rows.filterNot(r => pseudo(r.name)),
        rows.filter(_.name == CanaryName).map(_.runs.head),
        rows.filter(_.name == CanaryEndName).map(_.runs.head),
        rows.filter(_.name == ChunkProbeName).map(_.runs.head))

    // every completed chunk lands in the artifact IMMEDIATELY: the full
    // object (marked partial) goes to the out file and the compact line
    // prints, so a kill -9 at any later moment still leaves the driver a
    // parseable artifact covering every completed query (with children
    // logging to files, the output tail stays clean enough to parse)
    val acc = collection.mutable.ArrayBuffer.empty[QueryResult]
    val skipped = collection.mutable.ArrayBuffer.empty[String]
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      if (elapsedSec > budgetSec) skipped ++= chunk
      else {
        System.err.println(f"[bench] chunk ${i + 1}/${chunks.size}: ${chunk.head}..${chunk.last} (${chunk.size} queries, fresh JVM, ${elapsedSec}%.0f s elapsed)")
        acc ++= runChunkInChild(chunk, tmpDir.resolve(s"chunk$i.tsv"), tmpDir.resolve(s"chunk$i.log"))
          .getOrElse(runQueries(inlineSpark, sfDir, chunk, reps, withCanary = true, trimRef = baseline))
        val (res, cs, ce, cp) = splitPseudo(acc.toSeq)
        val probe = MachineProbe(machineStart, machineStart)
        emit(out, res, reps, i + 1, chunkSize, sfDir, cs, ce, probe, ref, cp,
          Nil, Nil, nSkipped = names.size - res.size, partial = true,
          toStdout = i + 1 < chunks.size)
      }
    }
    if (skipped.nonEmpty)
      System.err.println(f"[bench] wall budget ${budgetSec}%.0f s exhausted — " +
        s"${skipped.size} queries skipped: ${skipped.take(8).mkString(",")}${if (skipped.size > 8) ",…" else ""}")
    val (results0, canaries, canaryEnds, chunkProbes) = splitPseudo(acc.toSeq)

    val machineEnd = machineProbeSec()
    System.err.println(f"[bench] machine probe (end) $machineEnd%.3f s")
    val machine = MachineProbe(machineStart, machineEnd)

    // the main pass is now a complete artifact: persist + print it BEFORE
    // the re-run refinement, so a kill during the re-run loses only the
    // refinement, never the run (round-13 verdict "What's wrong" #2)
    emit(out, results0, reps, chunks.size, chunkSize, sfDir, canaries, canaryEnds,
      machine, ref, chunkProbes, Nil, Nil, nSkipped = skipped.size,
      partial = true, toStdout = true)

    // auto re-run (round-12 verdict #1): suspect rows go back to a fresh
    // child JVM once; a faster re-measure replaces the original (it was
    // the box), a confirming one stays (it is the code). The set is
    // WALL-CAPPED (round-13 verdict #2): candidates are taken in priority
    // order until their expected re-run wall (this run's median × reps)
    // exceeds the cap, so the refinement can't blow the driver's window.
    val rerunBudget = sys.env.getOrElse("SPARK_GRAFT_BENCH_RERUN_BUDGET", "300").toDouble
    val rerunNames =
      if (sys.env.contains("SPARK_GRAFT_BENCH_NO_RERUN") || elapsedSec > budgetSec) Nil
      else capByExpectedWall(
        rerunCandidates(results0, ref, machine.factor), results0, reps, rerunBudget)
    val (results, rerunImproved) =
      if (rerunNames.isEmpty) (results0, Nil)
      else {
        System.err.println(s"[bench] re-running ${rerunNames.size} suspect rows in fresh JVMs: ${rerunNames.mkString(",")}")
        val rerunRows = rerunNames.sorted.grouped(chunkSize).zipWithIndex.toSeq
          .flatMap { case (chunk, i) =>
            runChunkInChild(chunk, tmpDir.resolve(s"rerun$i.tsv"), tmpDir.resolve(s"rerun$i.log"))
              .getOrElse(runQueries(inlineSpark, sfDir, chunk, reps))
          }.filterNot(r => pseudo(r.name))
        val (merged, improved) = mergeRerun(results0, rerunRows)
        System.err.println(s"[bench] re-run improved ${improved.size}/${rerunNames.size}: ${improved.mkString(",")}")
        (merged, improved)
      }

    // fold this run's clean rows into the monotone baseline (not a subset's)
    foldBaseline(results, machine.factor, sfDir, only)

    // final emission: re-emit after the re-run merge — the driver's
    // tail-parse takes the LAST line. Stop Spark first so its shutdown
    // chatter precedes the payload.
    try { SparkSession.getActiveSession.foreach(_.stop()) } catch { case _: Throwable => () }
    emit(out, results, reps, chunks.size, chunkSize, sfDir, canaries, canaryEnds,
      machine, ref, chunkProbes, rerunNames, rerunImproved,
      nSkipped = skipped.size, partial = false, toStdout = true)
  }

  /** Persists the full object to `out` and (optionally) prints the
    * compact line to stdout+stderr — the one emission path, called per
    * chunk (partial), after the main pass (partial), and at the end
    * (final). Durability against log-tail truncation (round 2 lost
    * q00-q03 from the captured artifact): the file gets the FULL object,
    * stdout only ever carries the compact line. Per-chunk stdout
    * emission is suppressed for the last chunk (`toStdout=false`) so the
    * main-pass emission right after it is the line a mid-teardown kill
    * leaves behind. */
  private def emit(out: String, results: Seq[QueryResult], reps: Int,
                   nChunks: Int, chunkSize: Int, sfDir: String,
                   canaries: Seq[Double], canaryEnds: Seq[Double],
                   machine: MachineProbe, ref: Option[BenchRef],
                   chunkProbes: Seq[Double], rerunRows: Seq[String],
                   rerunImproved: Seq[String], nSkipped: Int,
                   partial: Boolean, toStdout: Boolean): Unit = {
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (fullLine(results, reps, nChunks, chunkSize, sfDir, canaries, canaryEnds,
        machine, ref, chunkProbes, rerunRows, rerunImproved, nSkipped, partial) + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] write $out failed: $e") }
    if (toStdout) {
      val compact = compactLine(results, reps, nChunks, chunkSize, sfDir, canaries,
        canaryEnds, machine, ref, rerunRows.size, rerunImproved.size, nSkipped, partial)
      println(compact)
      System.out.flush()
      System.err.println(compact)
    }
  }

  /** Takes re-run candidates in priority order while their cumulative
    * expected wall (this run's measured median × reps, plus a flat
    * per-chunk JVM cost) stays under the cap; always admits the first
    * candidate so the cap can never silence the single biggest suspect. */
  def capByExpectedWall(candidates: Seq[String], results: Seq[QueryResult],
                        reps: Int, capSec: Double): Seq[String] = {
    val medians = results.map(r => r.name -> r.median).toMap
    var spent = 20.0 // chunk JVM + session startup, not counted per row
    val kept = candidates.takeWhile { n =>
      val cost = medians.getOrElse(n, 1.0) * reps
      val ok = spent == 20.0 || spent + cost <= capSec
      if (ok) spent += cost
      ok
    }
    if (kept.size < candidates.size)
      System.err.println(f"[bench] re-run capped at ${kept.size}/${candidates.size} rows (~${spent}%.0f s expected, cap ${capSec}%.0f s): dropped ${candidates.drop(kept.size).mkString(",")}")
    kept
  }

  /** Start/end machine-probe readings. `factor` uses the MIN of the two
    * (the least-contended estimate of the host's intrinsic speed this
    * run; a start-only reading would mislabel a run whose contention
    * ended after startup). A factor near 1.0 = clean-builder speed; the
    * round-8 driver window would have read ~1.2. */
  final case class MachineProbe(startSec: Double, endSec: Double) {
    def factor: Double = math.min(startSec, endSec) / MachineRefSec
  }

  /** Rows whose median blew out past 5× their own minimum across reps —
    * the signature of machine contention (round-5 driver run inflated
    * trivial rows up to 40× vs a clean run at the same commit), never of
    * a code regression (a slow plan is slow in EVERY rep). The 0.05 s
    * floor keeps sub-centisecond jitter on micro-rows from flagging. */
  def contendedRows(results: Seq[QueryResult]): Seq[String] =
    results.filter(r => r.min > 0.05 && r.median > 5 * r.min).map(_.name)

  /** Per-query snapshot of a PRIOR committed run — the reference the
    * environment-vs-code inference compares against. `sf` rides along so
    * a subset/smoke run at another scale factor can never be compared
    * against (or folded into) the sf0.1 reference. */
  final case class BenchRef(medians: Map[String, Double],
                            writeB: Map[String, Long], readB: Map[String, Long],
                            machineFactor: Double, source: String,
                            sf: Option[String] = None)

  /** The best-known-CLEAN per-query reference, machine-factor-NORMALIZED
    * (machine_factor 1.0 by construction) — what the env-suspect
    * detector and the re-run ranking compare against. The round-12
    * detector compared against "whatever bench_result.json was committed
    * last", which alternates builder-clean / driver-contended: the r12
    * clean run was diffed against the driver's ELEVATED r11 run, so
    * q113's 7.1→18.6 s read as 1.76× < 2× and never flagged (the
    * verdict's headline miss). A monotone clean baseline cannot be
    * poisoned that way: bytes-matching entries only ever go DOWN
    * (min-merge), and entries are replaced only when the plan's own
    * byte signature changed. */
  val BaselinePath = "bench_baseline.json"

  /** Reads the bench_result.json that is about to be OVERWRITTEN (i.e.
    * the last committed run at driver time) as the env-suspect
    * reference; absent/malformed/ref-less files read as None — the flag
    * simply doesn't fire, it never blocks the run. */
  def readRef(path: String): Option[BenchRef] = try {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return None
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readAllBytes(p))
    def objMap[T](field: String, f: com.fasterxml.jackson.databind.JsonNode => T): Map[String, T] = {
      val node = root.get(field)
      if (node == null || !node.isObject) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        node.properties().asScala.map(e => e.getKey -> f(e.getValue)).toMap
      }
    }
    val mf = Option(root.get("machine_factor")).filter(_.isNumber).map(_.asDouble).getOrElse(0.0)
    val medians = objMap("queries", _.asDouble)
    if (medians.isEmpty || mf <= 0) None
    else Some(BenchRef(medians, objMap("shuffle_write_b", _.asLong),
      objMap("shuffle_read_b", _.asLong), mf, path,
      Option(root.get("sf")).filter(_.isTextual).map(_.asText)))
  } catch { case e: Throwable =>
    System.err.println(s"[bench] env-suspect ref unreadable ($path): $e"); None
  }

  /** Rows where THIS run's wall diverges ≥2× from the reference run's
    * (both machine-factor-normalized) while BOTH shuffle-byte columns
    * match within 2% — the round-9 judge's manual forensic, automated:
    * shuffle volume is plan- and data-determined, so byte-identical
    * rows executed the same plan over the same data, and a 2× wall move
    * on the same plan is the host environment (or a pure-compute code
    * change — check the commit log), never a plan/data regression. The
    * driver's r9 run had q87 at 2.8× its builder wall with
    * byte-identical shuffle and `contended_rows: []`; this flag marks
    * exactly those rows. Raw rep spread CANNOT serve here: the clean
    * builder run itself has 57/253 rows with max/min > 2.5× (cold
    * first pass under round-robin interleave). 0.5 s floor on both
    * normalized medians keeps micro-rows out. */
  def envSuspectRows(results: Seq[QueryResult], ref: Option[BenchRef],
                     machineFactor: Double): Seq[String] = ref match {
    case None => Nil
    case Some(r) if machineFactor <= 0 => Nil
    case Some(r) =>
      results.filter { q =>
        (for {
          refMed <- r.medians.get(q.name)
          refW <- r.writeB.get(q.name)
          refR <- r.readB.get(q.name)
        } yield {
          val a = q.median / machineFactor
          val b = refMed / r.machineFactor
          bytesMatch(q.shuffleWriteB, refW) && bytesMatch(q.shuffleReadB, refR) &&
            math.min(a, b) > 0.5 && math.max(a, b) > 2 * math.min(a, b)
        }).getOrElse(false)
      }.map(_.name)
  }

  /** Rows worth re-measuring in a FRESH child JVM before the run is
    * reported (round-12 verdict #1 — the ScalingBench auto-re-run,
    * ported): the env-suspect rows (bytes-identical ≥2× movers), the
    * per-row contended rows (median > 5× min), and — regardless of any
    * ratio threshold — the top-10 ABSOLUTE regressions vs the clean
    * baseline (the r12 detector missed q113/q131/q120 precisely because
    * they sat under its ratio bar against a bad ref; absolute-delta
    * ranking cannot miss the biggest movers). */
  def rerunCandidates(results: Seq[QueryResult], ref: Option[BenchRef],
                      machineFactor: Double): Seq[String] = {
    val env = envSuspectRows(results, ref, machineFactor)
    val cont = contendedRows(results)
    val topAbs = ref match {
      case Some(r) if machineFactor > 0 =>
        results.flatMap { q =>
          r.medians.get(q.name).map(rm =>
            q.name -> (q.median / machineFactor - rm / r.machineFactor))
        }.filter(_._2 > 0.5).sortBy(-_._2).take(10).map(_._1)
      case _ => Nil
    }
    (env ++ cont ++ topAbs).distinct
  }

  /** Folds re-run rows into the results: a fresh-JVM re-measure that
    * comes back FASTER replaces the original (the first measurement was
    * the box, not the code); one that confirms the wall stays — a
    * genuine regression must survive into the artifact. Returns
    * (merged results, names improved by the re-run). */
  def mergeRerun(results: Seq[QueryResult],
                 rerun: Seq[QueryResult]): (Seq[QueryResult], Seq[String]) = {
    val byName = rerun.map(r => r.name -> r).toMap
    val improved = results.flatMap(r =>
      byName.get(r.name).filter(_.median < r.median).map(_ => r.name))
    (results.map(r => byName.get(r.name).filter(_.median < r.median).getOrElse(r)),
      improved)
  }

  /** Monotone update of `path` ([[BaselinePath]]) from this run: per row, a
    * bytes-matching entry only ever goes DOWN (min of the normalized
    * medians — best-known-clean), a byte-signature CHANGE (plan/code
    * change) replaces the entry with this run's measurement, and rows
    * this run didn't measure carry over verbatim (a run that skipped
    * rows can't drop history — the ScalingBench merge contract). Rows flagged
    * contended are excluded; runs at another sf, or without a machine
    * probe, don't touch the file. A `SPARK_GRAFT_BENCH_ONLY` subset run
    * (`only` set) leaves it byte-identical and prints one line saying so:
    * such runs are local iteration loops, often on a box whose numbers do
    * not compare with the baseline's. */
  def foldBaseline(results: Seq[QueryResult], machineFactor: Double,
                   sfDir: String, only: Option[Seq[String]],
                   path: String = BaselinePath): Unit =
    if (only.isDefined)
      System.err.println(s"[bench] SPARK_GRAFT_BENCH_ONLY subset run: $path not updated")
    else updateBaselineAt(results, machineFactor, sfDir,
      readRef(path) /* prior INCLUDING other-sf guard inside */, path)

  /** [[foldBaseline]]'s merge against an explicit prior and path. */
  def updateBaselineAt(results: Seq[QueryResult], machineFactor: Double,
                       sfDir: String, prior: Option[BenchRef],
                       path: String): Unit = {
    if (machineFactor <= 0) return
    // A prior WITHOUT an sf field is a mismatch too (ADVICE r13): an
    // sf-less legacy file could otherwise absorb (and be diffed against)
    // any scale factor — the exact cross-sf contamination this gate
    // exists to prevent. Only a missing file means "start fresh".
    if (prior.exists(p => !p.sf.contains(sfDir))) {
      System.err.println(s"[bench] baseline is for ${prior.flatMap(_.sf).getOrElse("<no sf>")}; run is $sfDir — not updating")
      return
    }
    val skip = contendedRows(results).toSet
    val fresh = results.filterNot(r => skip(r.name)).map { r =>
      val norm = r.median / machineFactor
      val merged = prior.flatMap { p =>
        for {
          m <- p.medians.get(r.name); w <- p.writeB.get(r.name); rd <- p.readB.get(r.name)
          if bytesMatch(w, r.shuffleWriteB) && bytesMatch(rd, r.shuffleReadB)
        } yield math.min(norm, m / p.machineFactor)
      }.getOrElse(norm)
      r.name -> ((merged, r.shuffleWriteB, r.shuffleReadB))
    }.toMap
    val carried = prior.map(p => (p.medians.keySet -- fresh.keySet).map(n =>
      n -> ((p.medians(n) / p.machineFactor, p.writeB.getOrElse(n, 0L),
        p.readB.getOrElse(n, 0L)))).toMap).getOrElse(Map.empty)
    val all = (fresh ++ carried).toSeq.sortBy(_._1)
    def jmap(f: ((String, (Double, Long, Long))) => String): String =
      all.map(e => "\"" + e._1 + "\":" + f(e)).mkString("{", ",", "}")
    val json = s"""{"metric":"baseline","machine_factor":1.0,"sf":"$sfDir",""" +
      s""""source":"monotone min-merge of clean runs (Bench.foldBaseline)",""" +
      s""""queries":${jmap(e => Json.num(e._2._1))},""" +
      s""""shuffle_write_b":${jmap(_._2._2.toString)},""" +
      s""""shuffle_read_b":${jmap(_._2._3.toString)}}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (json + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] baseline updated: ${fresh.size} measured, ${carried.size} carried")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] baseline write failed: $e")
    }
  }

  /** The ONE stdout/stderr line, and nothing but it. The driver captures
    * exactly the LAST 2000 characters of the run's output (every
    * BENCH_r0*.json tail across rounds 1–5 is 2000 chars), and sbt's
    * "[success] Total time…" line prints AFTER this payload — so the line
    * must stay well under ~1.5 KB or its HEAD is truncated away and it
    * never parses (rounds 1–5 all shipped "parsed": null by embedding the
    * full per-query median map here, ~7 KB at 233 rows). This line carries
    * totals, the flagship row, the worst-3 rows, and a contention
    * self-label; the full per-query map lives ONLY in bench_result.json
    * (`fullLine`). BenchLineSpec gates the rendered length at < 1400
    * bytes so growth cannot silently re-break the artifact.
    * `min_total` (Σ per-query minima) is the robust cross-machine number:
    * when `contended` is true, read min_total, not value. `contended`
    * trips on EITHER per-row median/min blowouts or per-chunk canary
    * blowouts (`n_contended_chunks` — uniform contention across a whole
    * chunk leaves median/min ≈ 1, which round 6's driver run proved).
    * `machine_factor` (run's CPU-probe seconds / clean-builder ref) is
    * the CROSS-RUN normalizer: Σ/median comparisons between runs — this
    * round vs last round, driver vs builder — must divide each side by
    * its machine_factor first, because a uniform host window (round 8
    * measured 1.22× between two runs of identical code) moves every
    * wall number while leaving all run-relative labels silent. */
  def compactLine(results: Seq[QueryResult], reps: Int, nChunks: Int,
                  chunkSize: Int, sfDir: String,
                  canaries: Seq[Double] = Nil,
                  canaryEnds: Seq[Double] = Nil,
                  machine: MachineProbe = MachineProbe(0.0, 0.0),
                  ref: Option[BenchRef] = None,
                  nRerun: Int = 0, nRerunImproved: Int = 0,
                  nSkipped: Int = 0, partial: Boolean = false): String = {
    val flagship = results.filter(_.name == "q00_flagship_kmedoids")
    val shown = (flagship ++ results.sortBy(-_.median).take(3)).distinct
    val contended = contendedRows(results)
    val slowChunks = contendedChunks(canaries, canaryEnds)
    val uniform = uniformSlow(canaries, canaryEnds)
    val drifted = driftedChunks(canaries, canaryEnds)
    // canary_min is the absolute level a reader compares against the
    // documented clean builder range (CanaryRefSec); uniform_slow is
    // that comparison made machine-readable — the uniformly-slow-run
    // case the run-relative chunk flag cannot see from inside. START
    // canaries only: CanaryRefSec is calibrated at chunk start, and end
    // canaries run ~3-4× faster in a fully warm chunk JVM — a pooled
    // min would systematically read "faster than the clean builder"
    // (ADVICE r8 #1); canary_end_min lives in the full JSON.
    val canaryMin = if (canaries.isEmpty) "null" else Json.num(canaries.min)
    val mf = if (machine.startSec <= 0) "null" else Json.num(machine.factor)
    s"""{"metric":"total","value":${Json.num(results.map(_.median).sum)},"unit":"sec",""" +
      s""""min_total":${Json.num(results.map(_.min).sum)},"reps":$reps,""" +
      s""""machine_factor":$mf,"partial":$partial,"n_skipped":$nSkipped,""" +
      s""""chunks":$nChunks,"chunk_size":$chunkSize,"n_queries":${results.size},""" +
      s""""contended":${contended.nonEmpty || slowChunks > 0 || uniform},""" +
      s""""uniform_slow":$uniform,""" +
      s""""n_contended":${contended.size},"n_contended_chunks":$slowChunks,""" +
      s""""n_env_suspect":${envSuspectRows(results, ref, machine.factor).size},""" +
      s""""n_rerun":$nRerun,"n_rerun_improved":$nRerunImproved,""" +
      s""""n_drifted_chunks":$drifted,"canary_min":$canaryMin,""" +
      s""""queries":${shown.map(r => "\"" + r.name + "\":" + Json.num(r.median)).mkString("{", ",", "}")},""" +
      s""""detail":"bench_result.json","sf":"$sfDir"}"""
  }

  /** The full diagnostics object written to bench_result.json: every
    * per-query median, per-rep runs, shuffle read/write bytes (min-wall
    * rep), code-cache peaks, GC deltas, codegen compile seconds (summed
    * over the reps, like the GC deltas), the contended-row list, and the
    * machine probe (start/end/factor). ~40 KB at 230+ queries — more
    * than the driver's log-tail capture holds, so this object must
    * NEVER be the stdout line. Reading convention: wall Σ/medians are
    * comparable across runs only after dividing by machine_factor;
    * the per-query byte columns are host-load-INVARIANT (plan-
    * determined), so byte-identical rows with divergent walls identify
    * an environment difference, not a code change. */
  def fullLine(results: Seq[QueryResult], reps: Int, nChunks: Int,
               chunkSize: Int, sfDir: String,
               canaries: Seq[Double] = Nil,
               canaryEnds: Seq[Double] = Nil,
               machine: MachineProbe = MachineProbe(0.0, 0.0),
               ref: Option[BenchRef] = None,
               chunkProbes: Seq[Double] = Nil,
               rerunRows: Seq[String] = Nil,
               rerunImproved: Seq[String] = Nil,
               nSkipped: Int = 0, partial: Boolean = false): String = {
    def jmap(f: QueryResult => String): String =
      results.map(r => "\"" + r.name + "\":" + f(r)).mkString("{", ",", "}")
    val contended = contendedRows(results)
    val slowChunks = contendedChunks(canaries, canaryEnds)
    val uniform = uniformSlow(canaries, canaryEnds)
    val mf = if (machine.startSec <= 0) "null" else Json.num(machine.factor)
    val ms = if (machine.startSec <= 0) "null" else Json.num(machine.startSec)
    val me = if (machine.startSec <= 0) "null" else Json.num(machine.endSec)
    s"""{"metric":"total","value":${results.map(_.median).sum},"unit":"sec",""" +
      s""""min_total":${results.map(_.min).sum},"reps":$reps,""" +
      s""""partial":$partial,"n_skipped":$nSkipped,""" +
      s""""machine_factor":$mf,"machine_sec_start":$ms,"machine_sec_end":$me,""" +
      s""""machine_ref_sec":$MachineRefSec,""" +
      s""""chunks":$nChunks,"chunk_size":$chunkSize,"n_queries":${results.size},""" +
      s""""contended":${contended.nonEmpty || slowChunks > 0 || uniform},""" +
      s""""uniform_slow":$uniform,""" +
      s""""n_contended_chunks":$slowChunks,""" +
      s""""n_drifted_chunks":${driftedChunks(canaries, canaryEnds)},""" +
      s""""canary_sec":${canaries.map(Json.num(_)).mkString("[", ",", "]")},""" +
      s""""canary_end_sec":${canaryEnds.map(Json.num(_)).mkString("[", ",", "]")},""" +
      s""""canary_end_min":${if (canaryEnds.isEmpty) "null" else Json.num(canaryEnds.min)},""" +
      s""""contended_rows":${contended.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""env_suspect_rows":${envSuspectRows(results, ref, machine.factor)
        .map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""rerun_rows":${rerunRows.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""rerun_improved":${rerunImproved.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""chunk_probe_sec":${chunkProbes.map(Json.num(_)).mkString("[", ",", "]")},""" +
      s""""gc_algo":"${gcAlgoName}","heap_max_mb":${(Runtime.getRuntime.maxMemory / 1e6).toLong},""" +
      s""""env_ref":${ref.map(r =>
        s"""{"source":"${r.source}","machine_factor":${r.machineFactor},"n":${r.medians.size}}""")
        .getOrElse("null")},""" +
      s""""queries":${jmap(_.median.toString)},""" +
      s""""runs":${jmap(_.runs.mkString("[", ",", "]"))},""" +
      s""""shuffle_write_b":${jmap(_.shuffleWriteB.toString)},""" +
      s""""shuffle_read_b":${jmap(_.shuffleReadB.toString)},""" +
      s""""codecache_mb":${jmap(r => Json.num(r.ccMb, 1))},""" +
      s""""gc_sec":${jmap(r => Json.num(r.gcSec, 2))},""" +
      s""""codegen_sec":${jmap(r => Json.num(r.codegenSec))},""" +
      s""""sf":"$sfDir"}"""
  }
}
