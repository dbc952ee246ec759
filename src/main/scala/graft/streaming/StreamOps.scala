package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Open-session accumulator for [[StreamOps.sessionize]] (top-level: the
  * state encoder's codegen needs a publicly constructible case class). */
final case class SessionState(start: Long, end: Long, n: Int)

/** Latest-right-row state for [[StreamOps.asOfEnrich]]: the (ts, tie)
  * maximum view seen so far for a user. */
final case class AsOfState(ts_us: Long, tie: Long, value: Double)

/** Per-entity funnel progress for [[StreamOps.funnelStream]]: the first
  * step-A timestamp and (once seen) the first eligible step-B. */
final case class FunnelState(aUs: Long, bUs: Option[Long])

/** Token event for [[StreamOps.streamingHeavyHitters]] — `seq` is the
  * replay order (sequential MG is order-defined). */
final case class TokIn(grp: String, wh: Long, seq: Long)

/** Misra–Gries state for [[StreamOps.streamingHeavyHitters]]: bounded
  * counter map plus a version stamp so sinks can select the newest
  * emission per group. */
final case class MgState(ver: Long, counters: Map[Long, Long])

/** One heavy-hitter candidate emission: `lower` is the MG counter (a
  * lower bound on true frequency minus decrements), `ver` the state
  * version it belongs to. */
final case class HhOut(grp: String, ver: Long, wh: Long, lower: Long)

/** Numeric event for [[StreamOps.streamingGroupedQuantiles]] — `seq` is
  * the replay order (sequential KLL updates are order-defined). */
final case class NumIn(grp: String, v: Double, seq: Long)

/** Per-group KLL state for [[StreamOps.streamingGroupedQuantiles]]: the
  * sketch's wire bytes (the SAME format the batch aggregate shuffles —
  * [[graft.operators.KllSketch.toBytes]]) plus a version stamp. */
final case class KllState(ver: Long, bytes: Array[Byte])

/** One per-group quantile emission at state version `ver`: the estimate
  * for probe `p` and the group's exact running count `n`. */
final case class KllOut(grp: String, ver: Long, p: Double, value_est: Double, n: Long)

/** Structured Streaming surface: event-time windowed aggregation with
  * watermarks, and custom sessionization state via mapGroupsWithState.
  * The reference is batch-only (SURVEY §2.7); this is the engine's
  * forward-looking stream path over the `events` table shape.
  *
  * Every transform here is defined against a plain DataFrame so the SAME
  * code runs in batch (for the DuckDB oracle) and on a `readStream`
  * source (for the streaming tests / production path).
  */
object StreamOps {

  /** Hourly tumbling-window counts per event type. Batch and streaming
    * share this; streaming adds the watermark at the source. Output
    * wstart as epoch seconds (integer — cross-engine exact). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))
      .select(unix_timestamp(col("w.start")).as("wstart"),
        col("event_type"), col("n"), col("value_sum"))

  /** Streaming variant: 2-hour watermark bounds state; late events beyond
    * it are dropped deterministically. */
  def hourlyCountsStream(events: DataFrame): DataFrame =
    hourlyCounts(events.withWatermark("ts", "2 hours"))

  /** NATIVE session windows (dynamic-gap close cousin of the custom
    * [[sessionize]] state operator): `session_window` merges a user's
    * events whenever the gap stays ≤ 30 min; window end = last event +
    * gap. Batch and streaming share the plan; the custom
    * mapGroupsWithState path remains for semantics the native operator
    * can't express (per-session derived fields mid-stream). Output in
    * epoch MICROS (integer — cross-engine exact). */
  def sessionWindowCounts(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("w.start")).as("s_us"),
        unix_micros(col("w.end")).as("e_us"), col("n"))

  /** Streaming variant: watermark bounds the open-session state. */
  def sessionWindowCountsStream(events: DataFrame): DataFrame =
    sessionWindowCounts(events.withWatermark("ts", "2 hours"))

  /** HOPPING (sliding) windows: 1-hour windows every 30 minutes — each
    * event lands in exactly size/hop windows (2 here), the standard
    * smoothing dashboards want that tumbling windows can't give. Same
    * decimal-exact aggregates as [[hourlyCounts]]; state grows by the
    * overlap factor, which the watermark still bounds. */
  def hoppingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))
      .select(unix_timestamp(col("w.start")).as("wstart"),
        col("event_type"), col("n"), col("value_sum"))

  def hoppingCountsStream(events: DataFrame): DataFrame =
    hoppingCounts(events.withWatermark("ts", "2 hours"))

  /** Streaming exact dedup: first occurrence per key wins; state for a key
    * is dropped once the watermark passes it (bounded memory — the
    * streaming face of the batch `Dedup.exactDuplicateGroups`). */
  def streamingDedup(events: DataFrame, keyCols: Seq[String]): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Watermarked stream-stream inner join: clicks enriched with the
    * purchase that follows within `windowMinutes` for the same user. Both
    * sides carry watermarks and the join has an explicit event-time bound,
    * so state is provably droppable — the only shape a stream-stream join
    * is allowed to take at scale. */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 60): DataFrame = {
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    c.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** LEFT OUTER variant of [[clickToPurchase]]: clicks that never
    * convert still emit (null purchase) — but only once the watermark
    * passes the click's join window, when the engine can PROVE no
    * matching purchase can still arrive. That proof obligation is why
    * outer stream-stream joins demand the watermark + event-time bound
    * even more strictly than inner ones; the state bound is the same.
    * StreamingSpec pins stream == batch-left-outer after the watermark
    * advances past the data. */
  def clickToPurchaseOuter(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 60): DataFrame = {
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    c.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
      "left_outer")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** Streaming z-score anomaly gate: an unbounded event stream scored
    * against STATIC per-group stats (the previous window's, or a
    * trained baseline — recomputing moments on the stream itself would
    * need its own aggregation state and would drift run-to-run). The
    * stats side broadcasts (|groups| rows), the scoring is narrow
    * row-wise work, so there is ZERO streaming state — each micro-batch
    * is a map. The formula is byte-for-byte
    * [[graft.operators.QualityChecks.zScoreOutliers]]'s final step, so
    * stream == batch exactly (StreamingSpec pins it). `stats` must
    * carry (groupCol, n, s1, s2) as produced by that operator's
    * aggregate. */
  def anomalyStream(events: DataFrame, stats: DataFrame, groupCol: String,
      valueCol: String, idCols: Seq[String], threshold: Double): DataFrame =
    graft.operators.QualityChecks.scoreAgainstStats(
      events, stats, groupCol, valueCol, idCols, threshold)

  // ---- stream-static continuous-ingest dedup ------------------------------

  /** Streaming face of `Cli ingest-dedup`: an unbounded STREAM of arriving
    * docs (doc_id, ts, text, source) deduped against the PERSISTED corpus
    * band index ([[graft.operators.Dedup.writeBandIndex]]) via
    * stream-static joins — no join state at all (each micro-batch probes
    * the static bucketed tables like a batch job), so the only streaming
    * state is the within-watermark candidate dedup. Scales to any corpus
    * size: the stream side is narrow per-row work + one in-watermark
    * distinct; the index is never re-shuffled.
    *
    * The per-doc minhash BANDS are computed narrowly (signature array per
    * row) instead of the batch `lshBands` explode+groupBy — a streaming
    * aggregation would demand its own watermark semantics. Band values
    * are arithmetic-identical to the batch path (same permute, same long
    * sums), so the match set equals `incrementalNearDupPairsIndexed`'s
    * (StreamingSpec pins stream == batch). The nested HOFs here are
    * interpreted — acceptable because per-doc signature work is dwarfed
    * by the join; the batch path stays on the native expressions.
    *
    * Output: (doc_id, old_id, jacc ≥ minJaccard). */
  def streamingIngestDedup(spark: SparkSession, docs: DataFrame,
      indexName: String, numHashes: Int = 16, rowsPerBand: Int = 4,
      minJaccard: Double = 0.5): DataFrame = {
    import graft.functions.TextHash
    import graft.operators.Bucketing
    graft.operators.Dedup.requireBandCount(numHashes, rowsPerBand)
    val numBands = numHashes / rowsPerBand
    val shingled = docs
      .select(col("doc_id"), col("ts"), TextHash.shingleHashes(col("text")).as("shs"))
      .filter(size(col("shs")) > 0)
    val sig = shingled.select(col("doc_id"), col("ts"),
      array_distinct(col("shs")).as("set"),
      transform(sequence(lit(0), lit(numHashes - 1)),
        i => array_min(transform(col("shs"), s => TextHash.permute(i, s)))).as("sig"))
    val bands = sig.select(col("doc_id"), col("ts"), col("set"),
        explode(transform(sequence(lit(0), lit(numBands - 1)), b => {
          val sl = slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))
          struct(b.cast("int").as("band"),
            aggregate(sl, lit(0L), (a, x) => a + x).as("s"),
            array_min(sl).as("mn"), array_max(sl).as("mx"))
        })).as("bd"))
      .select(col("doc_id"), col("ts"), col("set"),
        (col("bd.s") * 64 + col("bd.band")).as("bkey"),
        col("bd.mn").as("mn"), col("bd.mx").as("mx"))
    val cb = Bucketing.readBucketed(spark, s"${indexName}_bands")
      .select(col("doc_id").as("old_id"), col("bkey").as("c_bkey"),
        col("mn").as("c_mn"), col("mx").as("c_mx"))
    // two-sided inequalities for the same reason as the batch path: keep
    // bkey the only equi key so the static scan stays bucket-aligned
    val cand = bands.join(cb, col("bkey") === col("c_bkey")
        && col("mn") <= col("c_mn") && col("mn") >= col("c_mn")
        && col("mx") <= col("c_mx") && col("mx") >= col("c_mx"))
      .select(col("doc_id"), col("ts"), col("set"), col("old_id"))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("doc_id", "old_id")
    val oldSets = Bucketing.readBucketed(spark, s"${indexName}_sets")
      .select(col("doc_id").as("old_id"), col("set").as("set_o"))
    val inter = size(array_intersect(col("set"), col("set_o")))
    val uni = size(col("set")) + size(col("set_o")) - inter
    cand.join(oldSets, "old_id")
      .select(col("doc_id"), col("old_id"),
        (inter.cast("double") / uni.cast("double")).as("jacc"))
      .filter(col("jacc") >= minJaccard)
  }

  /** Streaming decontamination: arriving docs checked against a STATIC
    * benchmark gram set — the ingest-time face of
    * [[graft.operators.Dedup.contaminatedDocs]]. The stream side is
    * narrow (native Gram13Hashes + explode), the benchmark side is tiny
    * and broadcast, and the per-doc hit count is a watermarked streaming
    * aggregation (each doc's grams arrive in one micro-batch, so Append
    * mode emits its final count once the watermark passes).
    * Output: (doc_id, n_contaminated_grams). */
  def streamingDecontaminate(docs: DataFrame, benchmark: DataFrame): DataFrame = {
    import graft.functions.TextHash
    val benchGrams = benchmark
      .select(explode(TextHash.gram13Hashes(col("text"))).as("g")).distinct()
    docs.withWatermark("ts", "2 hours")
      .select(col("doc_id"), col("ts"),
        explode(array_distinct(TextHash.gram13Hashes(col("text")))).as("g"))
      .join(broadcast(benchGrams), "g")
      .groupBy(col("doc_id"), col("ts"))
      .agg(count(lit(1)).as("n_contaminated_grams"))
      .select(col("doc_id"), col("n_contaminated_grams"))
  }

  /** Streaming boilerplate-chunk flagging: arriving docs' content-
    * defined chunks ([[graft.functions.TextHash.cdcChunkHashes]])
    * probed against a STATIC blocklist of known boilerplate chunks
    * (e.g. the duplicated-chunk report's keys) — the ingest-time face
    * of chunk-level dedup, catching the license footer pasted into an
    * otherwise-novel doc. Same zero-state shape as
    * [[streamingDecontaminate]]: narrow native chunking on the stream
    * side, broadcast blocklist, one watermarked per-doc aggregation.
    * Output: (doc_id, n_chunks, n_boilerplate). */
  def streamingChunkFlag(docs: DataFrame, blocklist: DataFrame,
      divisor: Int = 16): DataFrame = {
    import graft.functions.TextHash
    val bl = blocklist.select(col("packed")).distinct()
      .withColumn("hit", lit(1L))
    docs.withWatermark("ts", "2 hours")
      .select(col("doc_id"), col("ts"),
        explode(TextHash.cdcChunkHashes(col("text"), divisor)).as("packed"))
      .join(broadcast(bl), Seq("packed"), "left")
      .groupBy(col("doc_id"), col("ts"))
      .agg(count(lit(1)).as("n_chunks"),
        coalesce(sum(col("hit")), lit(0L)).as("n_boilerplate"))
      .select(col("doc_id"), col("n_chunks"), col("n_boilerplate"))
  }

  // ---- streaming as-of enrichment -----------------------------------------

  /** One interleaved left/right event for [[asOfEnrich]]: `ts` drives the
    * watermark; `ts_us` carries exact micros (java.sql.Timestamp getters
    * are millis). */
  final case class EnrichIn(user_id: Long, ts: Timestamp, ts_us: Long,
      event_id: Long, is_view: Boolean, value: Double)
  final case class EnrichOut(click_id: Long, user_id: Long, click_us: Long,
      view_us: Option[Long], view_value: Option[Double])

  /** Streaming face of [[graft.operators.AsOfJoin]]: each click emits
    * enriched with the user's latest view at ≤ its event time, via
    * per-key running state (one AsOfState per user — O(keys) memory,
    * no buffered history). Within a trigger the group's events replay in
    * (ts, view-before-click, event_id) order — the batch operator's exact
    * tie discipline — so with a per-key event-time-ordered source (sorted
    * replay, log-compacted CDC) the stream output EQUALS the batch as-of
    * join (StreamingSpec pins this); the batch operator is the backfill
    * path for unordered history. */
  def asOfEnrich(events: Dataset[EnrichIn]): Dataset[EnrichOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfState, EnrichOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user, evs, state: GroupState[AsOfState]) =>
          val sorted = evs.toArray.sortBy(e => (e.ts_us, !e.is_view, e.event_id))
          val out = Seq.newBuilder[EnrichOut]
          var cur = state.getOption
          sorted.foreach { e =>
            if (e.is_view) {
              if (cur.forall(s => (e.ts_us, e.event_id) match {
                case (t, id) => t > s.ts_us || (t == s.ts_us && id > s.tie)
              })) cur = Some(AsOfState(e.ts_us, e.event_id, e.value))
            } else {
              out += EnrichOut(e.event_id, user, e.ts_us,
                cur.map(_.ts_us), cur.map(_.value))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  // ---- sessionization ------------------------------------------------------

  final case class Event(user_id: Long, ts: Timestamp, event_type: String)
  final case class Session(user_id: Long, start: Timestamp, end: Timestamp, n_events: Int)

  /** Gap-based sessionization (30-min inactivity closes a session) via
    * flatMapGroupsWithState with event-time timeout — the custom-state API
    * the engine exposes for stream logic Catalyst can't express. Closed
    * sessions are emitted (Append); the open session per user lives in
    * state until the watermark passes its gap deadline, then times out
    * and is emitted. Within-trigger gaps split correctly (sequential fold
    * over the trigger's sorted events). */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user, evs, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(user, new Timestamp(s.start), new Timestamp(s.end), s.n))
          } else {
            val times = evs.map(_.ts.getTime).toArray.sorted
            var closed = List.empty[Session]
            var cur = state.getOption
            times.foreach { t =>
              cur = cur match {
                case Some(s) if t - s.end <= gapMs =>
                  Some(SessionState(s.start, math.max(s.end, t), s.n + 1))
                case Some(s) =>
                  closed ::= Session(user, new Timestamp(s.start), new Timestamp(s.end), s.n)
                  Some(SessionState(t, t, 1))
                case None => Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Batch oracle for sessionization: the classic gaps-and-islands window
    * computation — same semantics as [[sessionize]] run to completion.
    * Ties on ts break by event_id (cross-engine determinism); timestamps
    * surface as epoch micros (integer — no tz ambiguity in the oracle). */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = gapMinutes * 60000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ws = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > gapUs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(ws))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"),
        count(lit(1)).cast("int").as("n_events"))
      .select(col("user_id"), col("session_id"), col("start_us"), col("end_us"), col("n_events"))
  }

  // ---- funnel --------------------------------------------------------------

  final case class FunnelIn(user_id: Long, ts: Timestamp, ts_us: Long, event_type: String)
  final case class FunnelOut(user_id: Long, a_us: Long, b_us: Option[Long], converted: Boolean)

  /** Streaming face of [[graft.operators.Funnels.conversion]]: per-user
    * running state (first step-A, first eligible step-B — two longs per
    * key, O(keys) memory, no buffered history). Update mode: each
    * trigger re-emits the funnel rows whose state changed, so the sink
    * always holds the latest conversion status per user — the standard
    * live-dashboard upsert-sink shape. Like [[asOfEnrich]], equality
    * with the batch operator holds under per-key event-time-ordered
    * replay (pinned in StreamingSpec); the batch operator backfills
    * unordered history. */
  def funnelStream(events: Dataset[FunnelIn], stepA: String, stepB: String,
      windowUs: Long): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user, evs, state: GroupState[FunnelState]) =>
          val sorted = evs.toArray.sortBy(_.ts_us)
          val before = state.getOption
          var cur = before
          sorted.foreach { e =>
            if (e.event_type == stepA && cur.isEmpty)
              cur = Some(FunnelState(e.ts_us, None))
            else if (e.event_type == stepB)
              cur = cur.map {
                case FunnelState(a, None) if e.ts_us >= a => FunnelState(a, Some(e.ts_us))
                case s => s
              }
          }
          if (cur != before) cur.foreach(state.update)
          cur match {
            case Some(s) if before != cur =>
              Iterator.single(FunnelOut(user, s.aUs, s.bUs,
                s.bUs.exists(_ - s.aUs <= windowUs)))
            case _ => Iterator.empty
          }
      }
  }

  final case class TransIn(user_id: Long, ts_us: Long, event_id: Long, event_type: String)
  final case class TransState(lastType: String, lastTsUs: Long, lastId: Long)
  final case class TransOut(prev_type: String, next_type: String)

  /** Streaming Markov transition steps: per-user state holds only the
    * LAST event (constant state per key forever); each trigger sorts its
    * slice in (ts, id) order and emits one (prev → next) fact per step,
    * bridging across trigger boundaries through the saved last event.
    * `groupBy(prev, next).count` downstream gives the live matrix —
    * equal to the batch [[graft.operators.TimeSeries.transitionMatrix]]
    * under per-key ordered replay (StreamingSpec pins it, split-trigger
    * vs one-trigger included). */
  def transitionStream(events: Dataset[TransIn]): Dataset[TransOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, evs, state: GroupState[TransState]) =>
          val sorted = evs.toArray.sortBy(e => (e.ts_us, e.event_id))
          var prev = state.getOption
          val out = Seq.newBuilder[TransOut]
          sorted.foreach { e =>
            prev.foreach(p => out += TransOut(p.lastType, e.event_type))
            prev = Some(TransState(e.event_type, e.ts_us, e.event_id))
          }
          prev.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming heavy-hitter shortlist: Misra–Gries counters live in
    * per-group state — ≤ k−1 counters per group FOREVER, the bounded-
    * state contract an unbounded token stream demands (a naive
    * streaming groupBy(token).count() holds state per DISTINCT token,
    * which is unbounded). Each trigger folds its tokens in `seq` order
    * through the classic update (increment / insert / decrement-all)
    * and emits the full candidate set stamped with a state version;
    * downstream takes the max-version rows per group. The MG guarantee
    * (every token with true frequency > total/k is IN the candidate
    * set) holds at every prefix; exact counts come from the batch
    * re-count path ([[graft.operators.TextAnalysis.heavyHitters]])
    * exactly as in batch. StreamingSpec pins the stream fold against a
    * driver-side sequential reference and the split-batch == one-batch
    * equality (state carries across triggers). */
  def streamingHeavyHitters(toks: Dataset[TokIn], k: Int): Dataset[HhOut] = {
    import toks.sparkSession.implicits._
    require(k >= 2, s"need k >= 2, got $k")
    toks.groupByKey(_.grp)
      .flatMapGroupsWithState[MgState, HhOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (grp, evs, state: GroupState[MgState]) =>
          val before = state.getOption.getOrElse(MgState(0L, Map.empty))
          var m = before.counters
          evs.toArray.sortBy(_.seq).foreach { e => m = mgUpdate(m, e.wh, k) }
          val now = MgState(before.ver + 1, m)
          state.update(now)
          m.iterator.map { case (wh, c) => HhOut(grp, now.ver, wh, c) }
      }
  }

  /** Streaming PER-GROUP quantiles: one KLL sketch lives in each group's
    * state — O(k·log n) doubles per group FOREVER, the bounded-state
    * contract (a naive streaming percentile would buffer every value).
    * Each trigger folds its values in `seq` order through sequential
    * [[graft.operators.KllSketch.update]] calls and emits the requested
    * probes stamped with a state version; downstream takes the
    * max-version rows per group. Because the state evolves by SEQUENTIAL
    * update — never a merge — splitting the feed across triggers is
    * bit-identical to one batch fold AND to a driver-side sequential
    * reference (the strongest member of the stream==batch family: exact
    * equality, not a bound — pinned in StreamingSpec; the foreachBatch
    * fold [[streamingQuantileFold]] keeps its bound-level pin because
    * its per-batch sketch-and-MERGE is the distributed shape). State
    * serializes as the sketch's wire bytes, the same format the batch
    * aggregate shuffles. */
  def streamingGroupedQuantiles(values: Dataset[NumIn], ps: Seq[Double],
      k: Int = 200): Dataset[KllOut] = {
    import values.sparkSession.implicits._
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      s"quantile ps must be non-empty and within [0,1], got $ps")
    values.groupByKey(_.grp)
      .flatMapGroupsWithState[KllState, KllOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (grp, evs, state: GroupState[KllState]) =>
          val sk = state.getOption
            .map(s => graft.operators.KllSketch.fromBytes(s.bytes))
            .getOrElse(graft.operators.KllSketch.empty(k))
          evs.toArray.sortBy(_.seq).foreach(e => sk.update(e.v))
          val ver = state.getOption.map(_.ver).getOrElse(0L) + 1
          state.update(KllState(ver, sk.toBytes))
          ps.iterator.map(p => KllOut(grp, ver, p, sk.quantile(p), sk.n))
      }
  }

  /** One sequential Misra–Gries step (public: the spec's driver-side
    * reference folds through the same function). */
  def mgUpdate(m: Map[Long, Long], x: Long, k: Int): Map[Long, Long] =
    if (m.contains(x)) m.updated(x, m(x) + 1L)
    else if (m.size < k - 1) m.updated(x, 1L)
    else m.flatMap { case (w, c) => if (c > 1L) Some(w -> (c - 1L)) else None }

  // ---- CDC apply -----------------------------------------------------------

  /** Continuous CDC apply: change batches arriving on a stream fold into
    * a keyed snapshot via `foreachBatch` + the SAME
    * [[graft.operators.Maintenance.cdcUpsert]] the batch path uses —
    * stream-batch unification for table maintenance. The snapshot lives
    * as a localCheckpointed DataFrame handed to `onSnapshot` after every
    * batch (a production deployment would write a table version instead;
    * the checkpoint keeps the test harness driver-local). Sequential
    * batch application equals one batch apply of the concatenated feed
    * because the upsert is last-write-wins on (seq, op) — pinned in
    * StreamingSpec. */
  def streamingCdcApply(changes: DataFrame, base: DataFrame,
      keyCol: String, seqCol: String, opCol: String)(
      onSnapshot: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    var snapshot = base.localCheckpoint(eager = true)
    changes.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val prev = snapshot
        snapshot = graft.operators.Maintenance
          .cdcUpsert(snapshot, batch.toDF(), keyCol, seqCol, opCol)
          .localCheckpoint(eager = true)
        // the new eager checkpoint has fully materialized, so the prior
        // snapshot's cached blocks are dead weight — without this a
        // long-running stream pins one full-snapshot copy per batch
        releaseCheckpoint(prev)
        onSnapshot(snapshot)
      }
      .start()
  }

  /** Continuous incremental connected components: near-dup edge batches
    * (id_a, id_b) arriving on a stream fold into the canonical
    * assignment via `foreachBatch` + the SAME
    * [[graft.operators.Dedup.incrementalCanonical]] the batch path uses
    * — the assignment-side streaming twin of [[streamingIngestDedup]],
    * closing the arrival-path dedup loop end-to-end: the index probe
    * proposes edges on arrival, this fold canonicalizes them
    * continuously. Each fold's CC input is the existing assignment's
    * star edges ∪ the batch edges — bounded by |assigned docs| +
    * |batch|, never corpus pairs — and sequential folds equal ONE batch
    * fold of the concatenated edge feed because a star list preserves
    * the old components' connectivity exactly (min-label contract
    * included); pinned stream == batch in StreamingSpec. A cross-key
    * union-find cannot live in per-key mapGroupsWithState state, so
    * foreachBatch + the iterative batch CC is the structurally honest
    * streaming form (same reasoning as [[streamingCdcApply]]). */
  def streamingCanonicalFold(edges: DataFrame, existing: DataFrame)(
      onAssignment: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    var assignment = existing.localCheckpoint(eager = true)
    edges.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        // guard: CC over star ∪ ∅ would be a no-op recompute, and an
        // empty edge set must not clear the assignment
        if (!batch.isEmpty) {
          val prev = assignment
          // incrementalCanonical's result is already an EAGER localCheckpoint
          // (canonicalAssignments materializes it before unpersisting its
          // edge cache) — re-checkpointing here would pin a second full copy
          assignment = graft.operators.Dedup
            .incrementalCanonical(assignment, batch.toDF())
          // release the superseded assignment's pinned blocks (the new
          // checkpoint no longer references them) — one retained
          // full-assignment copy per non-empty batch otherwise
          releaseCheckpoint(prev)
        }
        onAssignment(assignment)
      }
      .start()
  }

  /** Continuous SemDeDup through the persisted IVF cell index — the
    * arrival-path twin of [[graft.operators.Similarity.ivfSemDedup]]
    * (round 9 made the cell tier the at-scale choice — q219/q222 — but
    * only the sign-BAND index had a streaming path, q95/q159). Each
    * arriving VECTOR batch:
    *
    *   1. routes to its two nearest STORED cells and probes the
    *      persisted index in place
    *      ([[graft.operators.Similarity.ivfIndexProbeEdges]] — probe ×
    *      index, never corpus × corpus; exact cosine verified inside
    *      the bucket join);
    *   2. folds the edges into the canonical assignment via the SAME
    *      [[graft.operators.Dedup.incrementalCanonical]] every dedup
    *      fold in this family uses.
    *
    * Stream == batch EXACTLY when the index holds the corpus the batch
    * form would learn from (StreamingSpec pins it, split-invariant):
    * the quantizer is FIXED in the index, so every arrival routes
    * through the same cells ivfSemDedup assigns; each within-cell
    * cos ≥ t pair is found when its later member arrives; and
    * sequential CC folds of an edge union equal one batch CC (the
    * [[streamingCanonicalFold]] star-list contract). Survivors = ids
    * absent from `assignment` or equal to their canonical.
    *
    * Routing follows the INDEX FORM: when the index stores a coarse
    * quantizer (two-level [[graft.operators.Similarity.writeCellIndex]]),
    * every arrival routes through it —
    * [[graft.operators.Similarity.ivfIndexProbeEdgesTwoLevel]],
    * O(|batch|·√k) — and the pinned batch twin is
    * [[graft.operators.Similarity.ivf2SemDedup]]; a flat index keeps the
    * flat kernel and the [[graft.operators.Similarity.ivfSemDedup]] pin.
    * Auto-detected so the fold can never route differently than the
    * membership it probes (mismatched kernels lose boundary pairs). */
  def streamingIvfSemDedupFold(vecs: DataFrame, name: String,
      threshold: Double = 0.9)(
      onAssignment: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = vecs.sparkSession
    val centroids = graft.operators.Similarity.readCellCentroids(spark, name)
    val coarseStore =
      if (spark.catalog.tableExists(s"${name}_ivfcoarse"))
        Some(graft.operators.Similarity.readCoarseCells(spark, name))
      else None
    def probeEdges(batch: DataFrame): DataFrame = coarseStore match {
      case Some((coarse, members)) =>
        graft.operators.Similarity.ivfIndexProbeEdgesTwoLevel(
          spark, batch, name, centroids, coarse, members, threshold)
      case None =>
        graft.operators.Similarity.ivfIndexProbeEdges(
          spark, batch, name, centroids, threshold)
    }
    var assignment = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("canonical_id", LongType))))
      .localCheckpoint(eager = true)
    vecs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val edges = probeEdges(batch.toDF())
          if (!edges.isEmpty) {
            val prev = assignment
            // eager checkpoint already inside incrementalCanonical
            assignment = graft.operators.Dedup
              .incrementalCanonical(assignment, edges)
            releaseCheckpoint(prev)
          }
        }
        onAssignment(assignment)
      }
      .start()
  }

  /** Continuous SimHash dedup: arriving DOCUMENT batches fold into the
    * rep-level hamming graph and its canonical assignment — the
    * streaming twin of [[graft.operators.Dedup.simhashAssignments]],
    * composing three existing pieces per batch:
    *
    *   1. the batch's fingerprints ([[graft.operators.Dedup.simhash]],
    *      the SAME arithmetic as batch — bit-for-bit fingerprints);
    *   2. fresh (source, fingerprint) groups probe the accumulated rep
    *      set via [[graft.operators.Dedup.bandedHammingProbeEdges]] —
    *      probe × base band rows, never base × base, so a fold costs
    *      O(|batch| · collisions) however large the corpus; every doc
    *      (rep or member) also contributes its member→rep edge;
    *   3. the edges fold into the assignment via
    *      [[graft.operators.Dedup.incrementalCanonical]] (the
    *      [[streamingCanonicalFold]] machinery).
    *
    * Stream == batch EXACTLY (StreamingSpec pins it, split-invariant):
    * connectivity lives at FINGERPRINT level — hamming edges depend
    * only on (source, fingerprint) values, not on which doc represents
    * a group, and sequential probes of an arrival-partitioned hash set
    * union to the self-join pair set — while member edges put every
    * doc in its fingerprint's component, so the CC min-label equals
    * the batch form's component-minimum doc even when a later batch
    * delivers a smaller doc_id for an existing fingerprint. State is
    * sketch-sized (one row per distinct fingerprint + one per assigned
    * doc), eagerly checkpointed and released per fold like every fold
    * in this family. Docs need (doc_id, text, source); tokenless docs
    * are absent from the output in both forms. */
  def streamingSimhashAssignFold(docs: DataFrame, bits: Int = 48,
      maxHamming: Int = 6)(
      onAssignment: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = docs.sparkSession
    val sourceField = docs.schema("source")
    def empty(fields: StructField*): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(fields.toSeq))
    var reps = empty(sourceField.copy(name = "source"),
      StructField("simhash", LongType), StructField("rep", LongType))
      .localCheckpoint(eager = true)
    var assignment = empty(StructField("doc_id", LongType),
      StructField("canonical_id", LongType)).localCheckpoint(eager = true)
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val b = batch.toDF()
          // one row per tokenized batch doc, consumed twice (rep
          // derivation, member edges) — pin it or the explode×bits
          // fingerprint pipeline recomputes per consumer
          val shB = graft.operators.Dedup.simhash(b, bits)
            .join(b.select(col("doc_id"), col("source")), "doc_id")
            .localCheckpoint(eager = true)
          val batchReps = shB.groupBy(col("source"), col("simhash"))
            .agg(min(col("doc_id")).as("rep"))
          val newReps = batchReps
            .join(reps, Seq("source", "simhash"), "left_anti")
            .localCheckpoint(eager = true) // probe + merged union
          val merged = reps.withColumn("isNew", lit(false))
            .unionAll(newReps.withColumn("isNew", lit(true)))
            .localCheckpoint(eager = true) // probe base + member edges + next state
          // every batch doc edges to its fingerprint's rep (self-loop
          // when it IS the rep — keeps lone docs present in the
          // assignment, matching the batch form's one-row-per-doc)
          val memberEdges = shB
            .join(merged.select(col("source"), col("simhash"), col("rep")),
              Seq("source", "simhash"))
            .select(col("rep").as("id_a"), col("doc_id").as("id_b"))
          val repEdges = graft.operators.Dedup.bandedHammingProbeEdges(
            newReps.select(col("rep"), col("simhash"), col("source")),
            merged.select(col("rep"), col("simhash"), col("source"), col("isNew")),
            "rep", "simhash", bits, maxHamming, Seq("source"))
            .select(col("id_a"), col("id_b"))
          val prevAssign = assignment
          val cc = graft.operators.Dedup.incrementalCanonical(
            assignment, memberEdges.unionAll(repEdges))
          // the CC pass only sees docs that appear in an edge, and the
          // star list drops doc == canonical rows — so a TRUE singleton
          // from an earlier fold would vanish. Carry forward every prior
          // row absent from the CC result: that set is exactly the pure
          // singletons (any doc in a ≥2 component rides a star edge, and
          // a singleton a new doc touches reaches the batch edges via
          // its rep id), and their self-assignments stay valid.
          val carried = prevAssign
            .join(cc.select(col("doc_id")), Seq("doc_id"), "left_anti")
          assignment = cc.unionAll(carried).localCheckpoint(eager = true)
          releaseCheckpoint(prevAssign); releaseCheckpoint(cc)
          val prevReps = reps
          reps = merged.drop("isNew").localCheckpoint(eager = true)
          releaseCheckpoint(prevReps)
          releaseCheckpoint(shB); releaseCheckpoint(newReps); releaseCheckpoint(merged)
        }
        onAssignment(assignment)
      }
      .start()
  }

  /** Continuous quantile sketching: numeric batches fold into ONE
    * running [[graft.operators.KllSketch]] via `foreachBatch` + the SAME
    * per-partition sketch-and-merge the batch path uses
    * ([[graft.operators.Quantiles.sketchColumn]]) — mergeability is
    * exactly what makes the sketch streaming-ready, and stream-fold vs
    * one-shot batch agree within the sketch's error bound (pinned in
    * StreamingSpec). Driver-held state is fine here: the sketch is
    * O(k·log n) doubles, not data-sized. */
  def streamingQuantileFold(values: DataFrame, valueCol: String,
      k: Int = 200)(
      onSketch: graft.operators.KllSketch => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    var acc = graft.operators.KllSketch.empty(k)
    values.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          acc = acc.merge(
            graft.operators.Quantiles.sketchColumn(batch.toDF(), valueCol, k))
        onSketch(acc)
      }
      .start()
  }

  /** Continuous Count-Min sketching: each batch's counter matrix
    * ([[graft.operators.TextAnalysis.countMinCounters]], bounded at
    * rows·width cells) folds into ONE driver-held matrix by cell-wise
    * sum — the additivity that makes Count-Min the right frequency
    * sketch for streams. Unlike the KLL fold the result is EXACTLY the
    * batch sketch of the union (counter addition is associative and
    * commutative, no merge-order dependence), so StreamingSpec pins
    * stream==batch to the cell, not to a bound. Driver-held state is
    * rows·width longs — configuration-sized, not data-sized. */
  def streamingCountMinFold(docs: DataFrame, rows: Int = 4, width: Int = 256)(
      onCounters: Array[Array[Long]] => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val acc = Array.fill(rows)(new Array[Long](width))
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          graft.operators.TextAnalysis.countMinCounters(batch.toDF(), rows, width)
            .collect()   // bounded: ≤ rows·width cells by construction
            .foreach(r => acc(r.getLong(0).toInt)(r.getLong(1).toInt) += r.getLong(2))
        onCounters(acc)
      }
      .start()
  }

  /** Continuous distinct-count sketching: each batch's deterministic
    * HLL registers ([[graft.operators.QualityChecks.hllRegisters]],
    * ≤ 64 rows per group) fold into a driver-held register map by
    * register-wise MAX — lossless, associative, order-independent, so
    * the streamed sketch equals the one-shot batch sketch EXACTLY
    * (StreamingSpec pins registers and the folded estimate to the
    * batch path bit for bit; contrast the KLL fold, which only pins a
    * bound). This is how "distinct users so far" is served on an
    * unbounded stream with configuration-sized state — the streaming
    * face of the q176 rollup and q208 set-ops tiers, whose persisted
    * sketches the same max-merge combines. */
  def streamingHllFold(df: DataFrame, groupCol: String, valueCol: String)(
      onRegisters: Map[(String, Int), Int] => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    var acc = Map.empty[(String, Int), Int]
    df.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val regs = graft.operators.QualityChecks
            .hllRegisters(batch.toDF(), Seq(groupCol), valueCol)
            .collect() // bounded: ≤ 64 registers per group
            .map(r => (r.get(0).toString, r.getInt(1)) -> r.getInt(2))
          acc = regs.foldLeft(acc) { case (m, (k, mj)) =>
            m.updated(k, math.max(m.getOrElse(k, 0), mj))
          }
        }
        onRegisters(acc)
      }
      .start()
  }

  /** Continuous per-stratum bottom-k sampling: each batch's k-bounded
    * TopKAgg buffers (≤ k (hash, id) pairs per stratum) fold into a
    * driver-held map by ordered merge-and-truncate — the same lossless
    * merge the aggregate's partials use, so the streamed sample equals
    * the one-shot batch sample EXACTLY at every trigger (a total order
    * on (hash, id) makes partial bottom-k sets merge without
    * information loss; contrast KLL's bound-only pin). This is
    * reservoir-style "keep a deterministic uniform sample per stratum
    * forever" on an unbounded stream, in k·|strata| driver state. */
  def streamingBottomKFold(docs: DataFrame, stratumCol: String, perStratum: Int)(
      onSample: Map[String, Seq[(Long, Long)]] => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.graftnative.SketchAggregates
    var acc = Map.empty[String, Seq[(Long, Long)]] // stratum -> (negHash, id) rank order
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val h = graft.operators.Curation.gateHash(
            graft.functions.TextHash.polyHash(col("text")), graft.functions.TextHash.P)
          val batchTop = batch.toDF()
            .select(col(stratumCol).cast("string").as("s"), (-h).as("v"), col("doc_id"))
            .groupBy(col("s"))
            .agg(SketchAggregates.topK(col("v"), col("doc_id"), perStratum).as("top"))
            .collect() // bounded: ≤ perStratum pairs per stratum
            .map(r => r.getString(0) ->
              r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getLong(0), p.getLong(1))))
          acc = batchTop.foldLeft(acc) { case (m, (s, top)) =>
            // ordered merge by (v desc, id asc) then truncate — the
            // TopKAgg merge, replayed driver-side
            val merged = (m.getOrElse(s, Seq.empty) ++ top).distinct
              .sortBy { case (v, id) => (-v, id) }.take(perStratum)
            m.updated(s, merged)
          }
        }
        onSample(acc)
      }
      .start()
  }

  /** Stream arrival path for the persisted HLL register store
    * ([[graft.operators.QualityChecks.hllStoreAppend]]): each batch
    * appends its ≤ 64-rows-per-group register sketch to the store —
    * raw rows never persist, and because register merge is lossless
    * and idempotent, replayed or overlapping batches cannot corrupt
    * the estimate (max of the same registers). Each batch appends into
    * the store's current committed version, so the store must be built
    * first (an append to a location with no committed version fails).
    * The batch `Cli sketch hll-compact` folds the accumulated files on
    * its own schedule, committing the merged set as the next version
    * through `Bucketing`'s `.tmp`-rename commit — running it WHILE this
    * stream appends is a supported overlap: compact merges every
    * committed version and re-lists for files that landed during the
    * merge, folding late appends into the new version before any
    * directory is dropped (see
    * [[graft.operators.QualityChecks.hllStoreCompact]]). Concurrent
    * COMPACTS remain single-writer by contract. */
  def streamingHllStoreIngest(df: DataFrame, groupCol: String, valueCol: String,
      sketchDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          graft.operators.QualityChecks
            .hllStoreAppend(batch.toDF(), groupCol, valueCol, sketchDir)
      }
      .start()

  /** Unpersists the cached blocks behind a localCheckpointed frame. The
    * checkpoint pins its data as persisted-RDD blocks referenced from the
    * plan's `LogicalRDD` leaf — `Dataset.unpersist` cannot reach them (it
    * only consults the cache manager), so the fold loops above would
    * otherwise accumulate one full-copy per batch for the life of the
    * stream. Safe on the CURRENT snapshot only after its successor has
    * eagerly materialized; no-op on plans that are not checkpoints. */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    try df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    } catch { case _: Throwable => () }
}
