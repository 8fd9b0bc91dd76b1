package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming twins of the batch time-series operators
  * (SURVEY.md §2.5): watermarked tumbling-window aggregation and
  * gap-sessionization as an explicit state machine.
  *
  * The batch queries (`q_tumbling_agg`, `ts_sessionize`) define the
  * semantics; these streaming versions produce the same results when a
  * static parquet directory is replayed through `readStream` (verified in
  * StreamingSpec). At scale the state store is keyed by (window,
  * event_type) / user_id respectively — both bounded key spaces.
  */
object StreamingOps {

  /** Raw events schema as stored, parameterized on ts's physical form —
    * driver testdata has shipped both TIMESTAMP(NANOS) (→ read as long
    * under the legacy conf) and untagged µs (→ TIMESTAMP_NTZ). */
  def eventsRawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming read of an events parquet directory, ts normalized to µs
    * timestamp exactly like Tables.events.
    *
    * SESSION-CONF NOTE: this sets `spark.sql.legacy.parquet.nanosAsLong`
    * for the whole session and deliberately does NOT restore it — the
    * conf is read per micro-batch, so restoring it after stream
    * definition would break the running query. There is no per-reader
    * parquet option for this legacy flag (it is SQLConf-only). The
    * library-wide invariant: EVERY events read (batch Tables.events,
    * this stream) sets the same value and normalizes ts to µs itself, so
    * within graft the flag is idempotent; callers mixing in their own
    * raw reads of TIMESTAMP(NANOS) parquet in the same session will see
    * those columns as long (and would have seen an AnalysisException
    * without the flag). */
  def readEvents(spark: SparkSession, dir: String,
                 tsType: Option[DataType] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // A stream needs its schema up front: probe the directory's current
    // physical ts form from one footer on the driver (the batch loaders'
    // helper, no Spark job), then apply the same normalization as the
    // batch reader. The probe CANNOT silently fall back on failure: the
    // directory may be empty at stream start and fill later with the
    // OTHER physical form — a guessed NTZ schema over int64-ns
    // files fails at runtime mid-stream, the worst place. Callers starting
    // a stream on a not-yet-populated directory must declare the form
    // explicitly via `tsType`.
    val resolved = tsType.getOrElse {
      try graft.Tables.parquetSchema(spark, dir)("ts").dataType
      catch { case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(
          s"readEvents: cannot probe the physical ts type of $dir (empty or " +
            "unreadable). Pass tsType explicitly — Some(TimestampNTZType) for " +
            "untagged-us testdata, Some(LongType) for legacy TIMESTAMP(NANOS) " +
            "files read under nanosAsLong.", e)
      }
    }
    graft.Tables.normalizeEventTs(
      spark.readStream.schema(eventsRawSchema(resolved)).parquet(dir))
  }

  /** Watermarked 1-hour tumbling window aggregation (streaming twin of
    * Relational.qTumblingAgg).
    *
    * Late-data contract (append mode, pinned by the late-arrival
    * StreamingSpec): a window is finalized — emitted exactly once — at
    * the end of the first micro-batch whose watermark (max event time
    * seen in PRIOR batches minus the delay) has passed the window end.
    * A late row arriving IN that same batch still merges into the window
    * before eviction (Spark evicts at batch end); a late row arriving in
    * any later batch finds its window gone, is dropped by the watermark
    * filter (visible as numRowsDroppedByWatermark), and is never emitted
    * anywhere — finalized results are immutable. */
  def windowedAgg(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
      .select(unix_millis(col("w.start")).as("w_start_ms"), col("event_type"),
        col("n"), col("v"))

  /** Stream-stream inner join: each purchase joined to the same user's
    * clicks within the preceding `windowSec` seconds. Both sides carry
    * watermarks so the join state is bounded — the canonical
    * interval-bounded stream-stream join. */
  def purchaseClickJoin(events: DataFrame, watermark: String = "2 hours",
                        windowSec: Long = 3600): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", watermark)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("ts").as("c_ts"),
        col("value").as("c_value"))
      .withWatermark("c_ts", watermark)
    purchases.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowSec SECONDS") &&
        col("c_ts") <= col("p_ts"))
      .select(col("user_id"), unix_millis(col("p_ts")).as("p_ts_ms"),
        unix_millis(col("c_ts")).as("c_ts_ms"), col("p_value"), col("c_value"))
  }

  /** Gap-sessionization via the BUILT-IN `session_window` — the
    * declarative twin of [[sessionizeStream]]'s explicit state machine,
    * and the preference-order exhibit: when Catalyst has the operator,
    * compose it (the state store, merge logic and watermark eviction come
    * from Spark's native session-window exec, not hand-written state).
    * The hand-rolled twin remains the template for session semantics the
    * built-in cannot express (per-session custom state, mid-session
    * emission).
    *
    * Contract alignment with the batch operator
    * (TimeSeriesOps.sessionize, gap semantics "diff > gapUs starts a new
    * session", i.e. diff == gapUs still merges): `session_window` merges
    * INCLUSIVELY — an event landing exactly on the current window's end
    * (diff == gap) extends the session (probed empirically, pinned by
    * the boundary spec) — which is precisely the batch contract, so the
    * gap passes through unadjusted. The emitted `sess_end_us` maps back
    * from the window's end (last event + gap) to the last event
    * timestamp. Batch inputs skip the watermark (it is streaming-only
    * metadata); streaming output modes for session windows are
    * append/update, so closed sessions emit as the watermark passes
    * them. */
  def sessionWindowAgg(events: DataFrame, gapUs: Long = 1800000000L,
                       watermark: String = "2 hours"): DataFrame = {
    require(gapUs > 0, s"sessionWindowAgg: gapUs must be positive, got $gapUs")
    val in = if (events.isStreaming) events.withWatermark("ts", watermark)
             else events
    in.groupBy(col("user_id"),
        session_window(col("ts"), s"$gapUs microseconds").as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("v_sum"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("sess_start_us"),
        (unix_micros(col("w.end")) - gapUs).as("sess_end_us"),
        col("n_events"), col("v_sum"))
  }

  case class Ev(event_id: Long, ts_us: Long, user_id: Long, value: Double)
  case class SessState(startUs: Long, lastUs: Long, n: Long, vSum: Double)
  case class Session(user_id: Long, sess_start_us: Long, sess_end_us: Long,
                     n_events: Long, v_sum: Double)

  /** Gap-based sessionization as a `flatMapGroupsWithState` state machine —
    * the streaming twin of TimeSeriesOps.sessionize. Sessions are emitted
    * when a gap larger than `gapUs` is observed (or on state timeout).
    *
    * Events within one micro-batch arrive unordered, so the handler sorts
    * the batch per key; cross-batch ordering is the same best-effort any
    * event-time state machine has before watermark-based timeout closes the
    * session.
    */
  def sessionizeStream(events: Dataset[Ev], gapUs: Long,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout)(
      implicit enc1: org.apache.spark.sql.Encoder[Long],
      enc2: org.apache.spark.sql.Encoder[SessState],
      enc3: org.apache.spark.sql.Encoder[Session]): Dataset[Session] = {

    def handle(userId: Long, evs: Iterator[Ev],
               state: GroupState[SessState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        return Iterator(Session(userId, s.startUs, s.lastUs, s.n, s.vSum))
      }
      val sorted = evs.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var cur = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[Session]
      sorted.foreach { e =>
        cur match {
          case Some(s) if e.ts_us - s.lastUs <= gapUs =>
            // max(): a cross-batch LATE event (older than the open
            // session's last) is absorbed into the open session — count
            // and sum grow, the session END never regresses. Without the
            // max a late arrival shrank sess_end below already-observed
            // event time. Pinned by the late-arrival StreamingSpec.
            cur = Some(SessState(s.startUs, math.max(s.lastUs, e.ts_us),
              s.n + 1, s.vSum + e.value))
          case Some(s) =>
            out += Session(userId, s.startUs, s.lastUs, s.n, s.vSum)
            cur = Some(SessState(e.ts_us, e.ts_us, 1, e.value))
          case None =>
            cur = Some(SessState(e.ts_us, e.ts_us, 1, e.value))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // with ProcessingTimeTimeout, arm a timer so idle sessions close;
        // with NoTimeout (bounded replays — a pending timer would keep an
        // AvailableNow query alive forever), open sessions stay in state.
        if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
          state.setTimeoutDuration(60000L)
      }
      out.iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(handle)
  }

  case class EwmaState(last: Double)
  case class EwmaOut(user_id: Long, event_id: Long, ewma: Double)

  /** EWMA recurrence as a streaming state machine — the incremental twin
    * of TimeSeriesOps.ewma (and of the batch `plans.Ewma` custom plan):
    * state per key is ONE double (the running smoothed value), each
    * micro-batch sorts its slice and folds the identical
    * `acc·(1-α) + x·α` step the batch operator uses, so replaying a
    * static directory in one batch reproduces the batch output exactly.
    * Cross-batch ordering caveats are the same as sessionizeStream. */
  def ewmaStream(events: Dataset[Ev], alpha: Double)(
      implicit enc1: org.apache.spark.sql.Encoder[Long],
      enc2: org.apache.spark.sql.Encoder[EwmaState],
      enc3: org.apache.spark.sql.Encoder[EwmaOut]): Dataset[EwmaOut] = {

    def handle(userId: Long, evs: Iterator[Ev],
               state: GroupState[EwmaState]): Iterator[EwmaOut] = {
      var cur = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[EwmaOut]
      evs.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        val next = cur match {
          case Some(s) => s.last * (1.0 - alpha) + e.value * alpha
          case None => e.value
        }
        cur = Some(EwmaState(next))
        out += EwmaOut(userId, e.event_id, next)
      }
      cur.foreach(state.update)
      out.iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(handle)
  }

  case class DebEv(event_id: Long, ts_us: Long, user_id: Long,
                   event_type: String)
  case class DebounceState(last_us: Long)
  case class DebounceOut(user_id: Long, event_type: String, event_id: Long,
                         us: Long)

  /** Debounce dedup as a streaming state machine — the incremental twin of
    * [[graft.operators.Relational.qWindowDedup]] (the idempotency /
    * double-fire filter of an event pipeline): an event is emitted iff it
    * is its (user, type) key's first or arrives more than `gapUs` after
    * the PREVIOUS event of that key — kept or suppressed, exactly the
    * batch lag() formulation, which is why the state is ONE long per key
    * (the last seen event time) rather than the last EMITTED time.
    * Replaying a static directory in one batch reproduces the batch
    * output exactly (spec-pinned).
    *
    * Late-data contract (pinned by the out-of-order StreamingSpec): a
    * cross-batch LATE event is judged against the stored horizon — within
    * `gapUs` of the last seen event time it is suppressed as a duplicate
    * fire — and the horizon only advances (`max`), so a late arrival can
    * never REWIND the debounce window and re-admit the next on-time
    * event. On in-order input `max` is the identity (each event's ts ≥
    * the stored last), so one-batch == batch parity is untouched. */
  def debounceStream(events: Dataset[DebEv], gapUs: Long = 600000000L)(
      implicit enc1: org.apache.spark.sql.Encoder[(Long, String)],
      enc2: org.apache.spark.sql.Encoder[DebounceState],
      enc3: org.apache.spark.sql.Encoder[DebounceOut]): Dataset[DebounceOut] = {

    def handle(key: (Long, String), evs: Iterator[DebEv],
               state: GroupState[DebounceState]): Iterator[DebounceOut] = {
      var last = state.getOption.map(_.last_us)
      val out = scala.collection.mutable.ArrayBuffer.empty[DebounceOut]
      evs.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        if (last.forall(l => e.ts_us - l > gapUs))
          out += DebounceOut(key._1, key._2, e.event_id, e.ts_us)
        // max, not overwrite: a cross-batch late event must not rewind
        // the debounce horizon (in-order input: identity)
        last = Some(last.fold(e.ts_us)(l => math.max(l, e.ts_us)))
      }
      last.foreach(l => state.update(DebounceState(l)))
      out.iterator
    }

    events.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(handle)
  }

  case class LastWinState(first: Double, buf: Vector[Double], n: Long)
  case class LastWinOut(user_id: Long, event_id: Long, n_seen: Long,
                        window: Seq[Double])

  /** Online inference windows as a streaming state machine — the
    * incremental twin of [[graft.operators.Tensorize.inferenceWindow]]
    * (the reference's test-time feature construction): per trajectory,
    * maintain the LAST `t` observations and emit, on every event, the
    * current window front-backfilled with the trajectory's first
    * observation while fewer than `t` have been seen. This is the feature
    * server an online RUL model scores against: on an IN-ORDER stream
    * (each key's events arrive in (ts, value) order across micro-batches —
    * e.g. a per-device sequenced source), each emission is exactly the
    * tensor the batch path would build if the stream stopped at that
    * event; the spec pins the one-batch replay. Under cross-batch
    * DISORDER the buffer keeps arrival order (a late event appends at the
    * end, and a late global minimum does not rewrite the backfill value) —
    * sources that can be late need a watermark + re-sort upstream, the
    * same caveat as sessionizeStream but load-bearing here.
    *
    * Scale: state per key is strictly bounded at `t` doubles + one long
    * (no growth with stream length), keyed on the same trajectory id the
    * batch operators shuffle on.
    */
  def lastWindowStream(events: Dataset[Ev], t: Int)(
      implicit enc1: org.apache.spark.sql.Encoder[Long],
      enc2: org.apache.spark.sql.Encoder[LastWinState],
      enc3: org.apache.spark.sql.Encoder[LastWinOut]): Dataset[LastWinOut] = {

    def handle(userId: Long, evs: Iterator[Ev],
               state: GroupState[LastWinState]): Iterator[LastWinOut] = {
      var cur = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[LastWinOut]
      // (ts, value) ordering — the batch inferenceWindow sorts
      // struct(tsOrder, value), so ts-ties must break by value for the
      // replay to reproduce the batch windows bit-for-bit; event_id only
      // disambiguates full duplicates (same window content either way)
      evs.toSeq.sortBy(e => (e.ts_us, e.value, e.event_id)).foreach { e =>
        val s = cur match {
          case Some(p) => LastWinState(p.first,
            (p.buf :+ e.value).takeRight(t), p.n + 1)
          case None => LastWinState(e.value, Vector(e.value), 1L)
        }
        cur = Some(s)
        val padded =
          if (s.buf.length >= t) s.buf
          else Vector.fill(t - s.buf.length)(s.first) ++ s.buf
        out += LastWinOut(userId, e.event_id, s.n, padded)
      }
      cur.foreach(state.update)
      out.iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(handle)
  }

  case class FunnelEv(event_id: Long, ts_us: Long, user_id: Long,
                      event_type: String)
  /** -1 = stage not reached yet. */
  case class FunnelState(t1: Long, t2: Long, t3: Long)
  case class FunnelStage(user_id: Long, stage: Int, t1_us: Long, t2_us: Long,
                         t3_us: Long)

  /** Ordered view→click→purchase funnel as a streaming state machine —
    * the incremental twin of Relational.qFunnel. State per user is three
    * timestamps (the earliest view, the earliest click after it, the
    * earliest purchase after that); each micro-batch sorts its slice by
    * event time and advances the machine, emitting the user's current
    * stage. Batch-order caveats are identical to sessionizeStream — and
    * stricter here: a stage event that arrives in an EARLIER micro-batch
    * than its prerequisite is not revisited (the machine only moves
    * forward), so stages can lag the batch computation under cross-batch
    * event-time disorder until the missing stage recurs. Exact parity
    * with qFunnel holds when each user's events arrive in one batch or
    * in event-time order across batches.
    *
    * Scale: state is O(1) per user (24 bytes), keyed on the same user_id
    * the batch funnel shuffles on. */
  def funnelStream(events: Dataset[FunnelEv])(
      implicit enc1: org.apache.spark.sql.Encoder[Long],
      enc2: org.apache.spark.sql.Encoder[FunnelState],
      enc3: org.apache.spark.sql.Encoder[FunnelStage]): Dataset[FunnelStage] = {

    def handle(userId: Long, evs: Iterator[FunnelEv],
               state: GroupState[FunnelState]): Iterator[FunnelStage] = {
      var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
      evs.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        e.event_type match {
          case "view" if s.t1 < 0 => s = s.copy(t1 = e.ts_us)
          case "click" if s.t1 >= 0 && s.t2 < 0 && e.ts_us > s.t1 =>
            s = s.copy(t2 = e.ts_us)
          case "purchase" if s.t2 >= 0 && s.t3 < 0 && e.ts_us > s.t2 =>
            s = s.copy(t3 = e.ts_us)
          case _ =>
        }
      }
      state.update(s)
      val stage = if (s.t3 >= 0) 3 else if (s.t2 >= 0) 2
                  else if (s.t1 >= 0) 1 else 0
      Iterator(FunnelStage(userId, stage, s.t1, s.t2, s.t3))
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(handle)
  }

  case class BloomDoc(doc_id: Long, shard: Int, h: Long)

  /** Approximate streaming dedup with STRICTLY BOUNDED state: one Bloom
    * filter per shard held as the group state, probed and updated per
    * document. Exact dedup of an unbounded stream needs unbounded
    * seen-key state; this trades a bounded, sizable false-positive rate
    * (a novel doc occasionally dropped as a dup — the cheap direction
    * for training-data curation) for state that NEVER grows:
    * `nWordsPerShard`×8 bytes per shard, forever. The streaming
    * composition of the r8 [[graft.functions.BloomUtil]] sketch, and the
    * 100 TB answer to `dropDuplicates` on an unbounded stream (whose
    * exact state grows with every distinct key seen).
    *
    * Inputs carry a precomputed 64-bit content hash `h` (e.g.
    * xxhash64(text)) and a `shard` derived from it (pmod(h, nShards)) —
    * sharding by content hash keeps each filter's load balanced and each
    * probe local to one group. Within a micro-batch each shard processes
    * docs in doc_id order, so the kept representative is deterministic
    * (lowest doc_id, matching keep-first batch dedup); across batches
    * the earlier batch wins, which is exactly arrival-order keep-first.
    *
    * Known limit, by design: the filter SATURATES — as distinct keys
    * approach the sizing capacity the false-positive rate climbs toward
    * 1 and novel docs are increasingly dropped. Size nWordsPerShard for
    * the expected distinct volume of the filter's LIFETIME, and in
    * production rotate filters by time window (new state key per epoch,
    * e.g. shard ⊕ week) when the stream outlives any fixed capacity —
    * rotation bounds both state and fpp at the cost of re-admitting a
    * duplicate once per epoch boundary. */
  def bloomDedupStream(docs: Dataset[BloomDoc], nWordsPerShard: Int = 1024,
                       nHashes: Int = 3)(
      implicit enc1: org.apache.spark.sql.Encoder[Int],
      enc2: org.apache.spark.sql.Encoder[Array[Long]],
      enc3: org.apache.spark.sql.Encoder[BloomDoc]): Dataset[BloomDoc] = {
    require(nWordsPerShard >= 1 && nWordsPerShard <= (1 << 27),
      s"bloomDedupStream: nWordsPerShard $nWordsPerShard out of range")
    require(nHashes >= 1 && nHashes <= 64,
      s"bloomDedupStream: nHashes $nHashes out of range")

    // state element 0 is a sizing header (nWords << 32 | nHashes): a
    // query resumed from a checkpoint with DIFFERENT sizing parameters
    // would otherwise probe old-size arrays with new bit patterns —
    // silently changed dedup behavior. Reconcile-or-fail, loudly.
    val header = (nWordsPerShard.toLong << 32) | nHashes.toLong

    def handle(shard: Int, docs: Iterator[BloomDoc],
               state: GroupState[Array[Long]]): Iterator[BloomDoc] = {
      val stored = state.getOption
      stored.foreach { a =>
        if (a.length != nWordsPerShard + 1 || a(0) != header)
          throw new IllegalStateException(
            s"bloomDedupStream: checkpointed state was sized with " +
              s"nWordsPerShard=${if (a.isEmpty) "?" else (a(0) >>> 32).toString} " +
              s"nHashes=${if (a.isEmpty) "?" else (a(0) & 0xFFFFFFFFL).toString} " +
              s"(${a.length - 1} state words) but the query restarted with " +
              s"nWordsPerShard=$nWordsPerShard nHashes=$nHashes. Resume with " +
              "the original sizing, or start a fresh checkpoint/epoch.")
      }
      val arr = stored.getOrElse {
        val a = new Array[Long](nWordsPerShard + 1); a(0) = header; a
      }
      val words = java.util.Arrays.copyOfRange(arr, 1, arr.length)
      val kept = docs.toSeq.sortBy(_.doc_id).filter { d =>
        val fresh = !graft.functions.BloomUtil.testBits(words, nHashes, d.h)
        if (fresh) graft.functions.BloomUtil.setBits(words, nHashes, d.h)
        fresh
      }
      val out = new Array[Long](nWordsPerShard + 1)
      out(0) = header
      System.arraycopy(words, 0, out, 1, nWordsPerShard)
      state.update(out)
      kept.iterator
    }

    docs.groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(handle)
  }

  /** Streaming heavy hitters: the Misra-Gries TypedImperativeAggregate
    * ([[graft.functions.HeavyHitters]]) used directly as a streaming
    * global aggregation — its serialized agg buffer IS the state-store
    * entry, its partial-merge IS the batch-over-batch state update, so
    * the mergeability the batch property suite pins (400 seeded cases,
    * serialization boundary included) is exactly what makes it
    * streaming-ready. Complete-mode output: one row per trigger with the
    * current top-k candidates. State is O(k) per group — here one global
    * group; add keys to `groupBy` for per-key sketches at the same cost.
    * Exact (== batch counts) when distinct items <= k; otherwise the
    * n/(k+1) survival bound applies to the stream prefix seen so far. */
  def heavyHittersStream(events: DataFrame, k: Int): DataFrame =
    events.groupBy()
      .agg(graft.functions.HeavyHitters.heavyHitters(col("event_type"), k)
        .as("top"))

  /** Streaming quantiles: the t-digest TypedImperativeAggregate
    * ([[graft.functions.Td]]) as a streaming global aggregation, exactly
    * as [[heavyHittersStream]] uses Misra-Gries — serialized digest =
    * state-store entry, partial-merge = batch-over-batch update. State is
    * O(δ) centroids per group regardless of stream length; probe the
    * complete-mode output with `Td.quantile`.
    *
    * Equivalence contract (pinned by the forced two-micro-batch spec):
    * NOT byte equality with the batch digest — compaction is
    * insertion-order-dependent by design, and micro-batching changes the
    * insertion order — but the same RANK-ERROR bound the batch spec pins
    * (≤1% tails / ≤3% mid-range vs exact ranks). Bound equality is the
    * honest contract for an order-dependent sketch. */
  def tdigestStream(events: DataFrame, delta: Int = 100): DataFrame =
    events.groupBy()
      .agg(graft.functions.Td.sketch(col("value"), delta).as("td"))

  /** Streaming quantiles, KLL flavor: [[graft.functions.Kll]] as a
    * streaming global aggregation — the UNIFORM-rank-bound complement to
    * [[tdigestStream]] exactly as it is in batch (O(1/k) error at every
    * rank, distribution-free, vs the t-digest's tail-weighted bound).
    * Serialized compactor hierarchy = state-store entry, `mergeIn` =
    * batch-over-batch update; state is O(k log(n/k)) doubles per group —
    * bounded and slowly growing, ~3 KB at k=200 for millions of rows.
    *
    * Same equivalence contract as the t-digest twin: compaction decimates
    * by insertion order (deterministic, but order-dependent), so a
    * micro-batched replay is NOT byte-equal to the batch sketch; the spec
    * pins the batch KllSpec's own bound instead — ≤1.5% rank error at
    * EVERY probed quantile, k=200. */
  def kllStream(events: DataFrame, k: Int = 200): DataFrame =
    events.groupBy()
      .agg(graft.functions.Kll.sketch(col("value"), k).as("kll"))

  /** Streaming distinct-count (and set-expression) state: the theta/KMV
    * aggregate ([[graft.functions.Theta]]) over a key column as a
    * streaming global aggregation — k-smallest-hash set = state-store
    * entry, union = batch-over-batch update, O(k) state per group
    * forever. The streamed sketch feeds the same
    * `Theta.estimate/intersect/aNotB` probes as a batch one — e.g. live
    * "how much of today's stream is already in the reference corpus"
    * against a persisted batch sketch.
    *
    * Equivalence contract — and the reason this twin is special: theta's
    * union is ORDER-INDEPENDENT (k smallest of a union does not care how
    * the union was batched), so unlike the t-digest and KLL twins the
    * spec pins BYTE equality with the batch sketch, not an error bound. */
  def thetaStream(events: DataFrame, keyCol: String = "user_id",
                  k: Int = 1024): DataFrame =
    events.groupBy()
      .agg(graft.functions.Theta.sketch(col(keyCol), k).as("theta"))

  /** Streaming distinct-uniform sample: the value-carrying reservoir
    * aggregate ([[graft.functions.Reservoir]]) as a streaming
    * aggregation — bottom-k-by-hash set = state-store entry, union =
    * batch-over-batch update, O(k · value size) state per group forever.
    * A live "k example values per group" panel over an unbounded stream,
    * stable across restarts and micro-batch boundaries.
    *
    * Like [[thetaStream]] (and unlike the t-digest/KLL twins), the
    * bottom-k-of-union construction is ORDER-INDEPENDENT, so the
    * equivalence contract is BYTE equality with the batch sketch. */
  def sampleStream(events: DataFrame, valueCol: String = "user_id",
                   k: Int = 64): DataFrame =
    events.groupBy()
      .agg(graft.functions.Reservoir.sample(col(valueCol), k).as("sample"))

  // value is an Option so a null-valued event cannot kill the query at
  // deserialization — the batch operators this twins explicitly tolerate
  // null-valued right rows (they contribute nothing), and the stream must
  // match that contract, not crash on it
  case class AsofEv(event_id: Long, ts_us: Long, user_id: Long,
                    event_type: String, value: Option[Double])
  case class AsofState(ts_us: Long, event_id: Long, v: Double)
  case class AsofOut(user_id: Long, event_id: Long, event_type: String,
                     value: Option[Double], asof_val: Option[Double])

  /** As-of enrichment as a streaming state machine — the incremental twin
    * of TimeSeriesOps.asofJoin / plans.AsofJoin on the gated ts_asof_join
    * shape (right side = the `rightType` rows of the same stream): every
    * event is emitted with the most recent `rightType` value of its key
    * at-or-before it. State per key is ONE (ts, event_id, value) triple —
    * the newest right row seen — so state is O(keys) forever, the
    * streaming analog of the batch operator's O(1) merge state.
    *
    * Batch parity (spec-pinned): each micro-batch slice replays the exact
    * union ordering of the batch formulation — every event is a
    * left-role entry, `rightType` events ALSO a right-role entry sorting
    * BEFORE left roles at an equal timestamp — so a static directory
    * replayed in one batch (or split in event-time order) reproduces
    * TimeSeriesOps.asofJoin row for row, including the equal-timestamp
    * contract (a right row at ts t is visible to every left row at t,
    * the highest-event_id right row winning among ties).
    *
    * Late-data contract (pinned by the out-of-order StreamingSpec, same
    * family as ewma/debounce): the horizon never rewinds — a cross-batch
    * late right row older than the stored (ts, event_id) is ignored for
    * state (emitted history stays immutable), and a late left row is
    * enriched against the CURRENT horizon, which on out-of-order input
    * may postdate it. That is the price of O(1)-per-key state; in-order
    * replay is exact. `toleranceUs` nulls matches farther than the bound,
    * measured against the stored right timestamp, exactly as in batch. */
  def asofStream(events: Dataset[AsofEv], rightType: String = "purchase",
                 toleranceUs: Option[Long] = None)(
      implicit enc1: org.apache.spark.sql.Encoder[Long],
      enc2: org.apache.spark.sql.Encoder[AsofState],
      enc3: org.apache.spark.sql.Encoder[AsofOut]): Dataset[AsofOut] = {

    def handle(userId: Long, evs: Iterator[AsofEv],
               state: GroupState[AsofState]): Iterator[AsofOut] = {
      var cur = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[AsofOut]
      // the batch union relation, reconstructed per slice: right roles
      // (side 0) sort before left roles (side 1) at an equal timestamp
      val entries = evs.toSeq.flatMap { e =>
        val left = (e.ts_us, 1, e.event_id, e)
        // null-valued right rows contribute nothing, exactly as in batch
        if (e.event_type == rightType && e.value.nonEmpty)
          Seq((e.ts_us, 0, e.event_id, e), left)
        else Seq(left)
      }.sortBy(t => (t._1, t._2, t._3))
      entries.foreach { case (_, side, _, e) =>
        if (side == 0) {
          // newest-(ts, event_id) wins; a late older right row must not
          // rewind the horizon (in-order input: always newer)
          if (cur.forall(s => s.ts_us < e.ts_us ||
              (s.ts_us == e.ts_us && s.event_id < e.event_id)))
            cur = Some(AsofState(e.ts_us, e.event_id, e.value.get))
        } else {
          val v = cur.collect {
            case s if toleranceUs.forall(t => e.ts_us - s.ts_us <= t) => s.v
          }
          out += AsofOut(userId, e.event_id, e.event_type, e.value, v)
        }
      }
      cur.foreach(state.update)
      out.iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(handle)
  }

  /** Prior-stream state for [[curationIncrementStream]], rebuilt from
    * the caller's durable sink (the `IncrementStore` + label store its
    * `onVerdicts` writes to): `priorKeepers` is the (doc_id, text,
    * cluster_id) frame of every keeper already committed before the
    * restart, `committedBatchIds` the batch ids whose verdicts are
    * already durable. A restarted query folds the keepers back into its
    * corpus/label/gram-index state and SKIPS any re-delivered committed
    * batch — the batchId-keyed idempotence that makes the non-idempotent
    * `IncrementStore.writeIncrement` safe under replay.
    * `committedBatchIds` is driver state, bounded by the batch count of
    * a stream's lifetime (a day of micro-batches — the loop snapshots
    * through the batch store daily).
    *
    * HARD PRECONDITION — restart from the ORIGINAL `checkpointLocation`.
    * Batch ids are checkpoint-scoped: Structured Streaming numbers
    * batches per checkpoint, so against a FRESH checkpoint a real source
    * renumbers from 0 with whatever data is currently unconsumed, and a
    * store-rebuilt `committedBatchIds` would silently SKIP genuinely new
    * batches 0..k that merely reuse committed ids. (MemoryStream replay
    * specs survive a fresh checkpoint only because the test re-delivers
    * byte-identical data as batch 0 — a coincidence of the test source,
    * not the contract.) With the original checkpoint, a committed id can
    * only ever be re-delivered as the SAME micro-batch (the offset log
    * pins id → offset range), which is exactly the replay the skip
    * exists for. Every skip is logged loudly so a mis-wired restart is
    * visible in the driver log, not silent.
    *
    * THE DAY-ROLL RECIPE (r19 — how a multi-day loop satisfies that
    * precondition at every boundary): each day runs against its OWN
    * checkpoint and its own day number —
    *
    *  1. the day's sink is `storeSink(store, day = d)`: every verdict
    *     increment carries (batch_id, day), so ids are DAY-SCOPED in
    *     the store exactly as they are checkpoint-scoped in the engine;
    *  2. at the boundary the stream stops; day d+1 starts with a FRESH
    *     `checkpointLocation` and `resume = fromStore(store, day = d+1)`
    *     — the committed-id skip set is the NEW day's (empty at day
    *     start, so day d+1's renumbered batches 0..k can never be
    *     shadowed by day d's committed 0..k — the silent-drop hazard
    *     the precondition names), while `priorKeepers` carries EVERY
    *     prior day's keepers into the corpus fold (yesterday's keepers
    *     ARE today's corpus increment: labels append, the gram index
    *     rolls, all through the existing resume fold);
    *  3. a MID-day restart is the r18 contract unchanged: same
    *     checkpoint, same day value — `fromStore(store, day = d)` skips
    *     exactly that day's committed replays with all prior days'
    *     history present.
    *
    * Rehearsed end-to-end at the 500k-doc corpus
    * (BENCH_FORENSICS_r19_dayroll.txt): day-2/3 walls flat vs day 1, a
    * day-2 copy of a day-1 keeper rejected `dup_of_corpus` with the
    * day-1 cluster id, a mid-day-2 crash resumed from the store with
    * day-1 history present, rolled history equal to the unbroken
    * control's. */
  final case class CurationResume(priorKeepers: DataFrame,
                                  committedBatchIds: Set[Long] = Set.empty)

  object CurationResume {
    private val log = org.slf4j.LoggerFactory.getLogger(classOf[CurationResume])

    /** The batch-provenance column [[storeSink]] stamps onto every
      * verdict increment — what makes [[fromStore]] a ONE-read restart. */
    val BatchIdCol = "batch_id"

    /** The day-provenance column (r19) — batch ids are checkpoint-scoped
      * and each day runs its own checkpoint, so (day, batch_id) is the
      * globally unambiguous batch identity across a multi-day loop (the
      * day-roll recipe in the class scaladoc). */
    val DayCol = "day"

    /** The durable-store sink for [[curationIncrementStream]]: stamps
      * the micro-batch id AND the loop day onto the verdict frame and
      * lands it through `store.writeIncrement` (clustered + manifested,
      * one consistent pair per batch). Writing (day, batch id) WITH the
      * verdicts is what closes the restart loop: `committedBatchIds`
      * becomes a store read instead of hand-rolled driver bookkeeping,
      * and the day scope keeps one day's ids from shadowing the next
      * day's renumbered ones (the day-roll recipe). */
    def storeSink(store: graft.sources.IncrementStore,
                  day: Long = 0L): (Long, DataFrame) => Unit =
      (batchId, verdicts) => {
        store.writeIncrement(
          verdicts.withColumn(BatchIdCol, lit(batchId))
            .withColumn(DayCol, lit(day)))
        ()
      }

    /** Rebuild resume state PURELY from the durable store — the natural
      * constructor for a crashed daily loop (nothing survives from the
      * dead driver): one manifest-gated read of the verdict history
      * gives both the prior keepers (reject-null rows of EVERY day —
      * all accepted history folds back into the corpus) and the
      * committed batch ids of THE REQUESTED DAY only (the distinct
      * [[BatchIdCol]] values [[storeSink]] stamped under `day` — ids
      * are day-scoped because they are checkpoint-scoped; see the
      * day-roll recipe). At a day START the skip set is therefore
      * empty; at a mid-day restart it is exactly the day's committed
      * replays. The id set is driver state bounded by one day's batch
      * count. Same-checkpoint-within-a-day precondition applies
      * unchanged (class scaladoc). A store written before the day
      * column existed is accepted only for `day = 0` (the single-day
      * behavior it was written under); a day-scoped restart against it
      * is refused loudly. */
    def fromStore(spark: SparkSession,
                  store: graft.sources.IncrementStore,
                  rejectCol: String = "curation_reject",
                  day: Long = 0L): CurationResume = {
      val hist = store.readAll(spark)
      require(hist.columns.contains(BatchIdCol),
        s"curation resume: verdict store ${store.tablePath} has no " +
          s"$BatchIdCol column — it was not written through " +
          "CurationResume.storeSink; pass priorKeepers/committedBatchIds " +
          "explicitly instead")
      val hasDay = hist.columns.contains(DayCol)
      require(hasDay || day == 0L,
        s"curation resume: day-scoped restart (day=$day) but the verdict " +
          s"store ${store.tablePath} has no $DayCol column — it predates " +
          "the day-roll recipe; its batch ids are only meaningful for a " +
          "single-day loop (day = 0)")
      val dayHist = if (hasDay) hist.filter(col(DayCol) === day) else hist
      val ids = dayHist.select(col(BatchIdCol)).distinct()
        .collect().map(_.getLong(0)).toSet
      log.info(s"curation resume: rebuilt from ${store.tablePath} — " +
        s"day $day has ${ids.size} committed batch id(s): " +
        ids.toSeq.sorted.mkString(","))
      CurationResume(
        hist.filter(col(rejectCol).isNull)
          .select(col("doc_id"), col("text"), col("cluster_id")),
        committedBatchIds = ids)
    }
  }

  /** O(micro-batch) gram-index roll-forward — ONE definition shared by
    * [[curationIncrementStream]] and its plan-pin spec: the keepers'
    * post-cut grams are derived once, eagerly localCheckpoint'ed (so no
    * later batch re-executes the shingling), and lazily unioned onto the
    * accumulated index. Deliberately NO distinct: a cross-piece distinct
    * would re-shuffle the ENTIRE accumulated index every micro-batch —
    * O(index), not O(batch) — and the probe already dedups its hit set
    * after the index scan (`duplicatedSpansIncrement`'s batch-sized
    * `dupHashes.distinct()`), so duplicate index rows cost a few extra
    * scanned bytes, never correctness. The union is plan metadata over
    * checkpointed pieces: batch N's probe scans N cached fragments and
    * shuffles none of them. */
  def rollGramIndex(ix: DataFrame, keepers: DataFrame, textCol: String,
                    spanN: Int): DataFrame =
    ix.unionByName(graft.operators.Dedup.gramIndex(keepers, textCol,
      n = spanN).localCheckpoint(true))

  /** The daily curation loop as a Structured Streaming sink — the
    * streaming twin of [[graft.operators.Curation.curateIncrement]]:
    * each arriving micro-batch is curated against the frozen corpus
    * snapshot PLUS everything already accepted this stream (prior
    * micro-batches' keepers), and the verdict frame is handed to
    * `onVerdicts` (write it to an `IncrementStore`, append labels —
    * whatever the day's sink is) BEFORE the stage caches are freed.
    *
    * Why foreachBatch and not flatMapGroupsWithState: the loop's state
    * is not per-key — it is three DataFrames the driver owns across
    * batches (accepted docs, their cluster labels, optionally the gram
    * index), each probed by whole-batch joins. foreachBatch is the
    * Structured Streaming escape hatch for exactly this shape: every
    * micro-batch is a regular batch frame, so the ENTIRE batch operator
    * — fixpoint, checkpoint hygiene, verdict classes — runs unchanged,
    * and stream == sequence-of-batch-calls by construction (spec-pinned
    * batch-by-batch).
    *
    * State roll-forward per micro-batch, all O(micro-batch): keepers are
    * eagerly localCheckpoint'ed (they must survive the handle close —
    * the closed handle frees the verdict frame's blocks), then unioned
    * into the accepted-docs and label frames; the optional gram index
    * grows by the keepers' checkpointed gram increment ([[rollGramIndex]]
    * — no per-batch distinct, no full-index shuffle, spec-pinned against
    * the single-piece probe's exchange count). The union trees deepen by
    * one per micro-batch — fine for a day of micro-batches; a
    * long-running stream should snapshot state through its own store on
    * a daily cadence (which is the batch loop this stream twins).
    *
    * RESTART HAZARD — the wrong-verdict path, read this before running
    * against a checkpointed source: the three state frames live in
    * driver variables, NOT in the streaming checkpoint. A query
    * restarted from its checkpoint therefore resumes with the ORIGINAL
    * corpus snapshot and has silently forgotten every prior batch's
    * keepers — a new copy of one of those keepers would be ADMITTED
    * again instead of labeled dup_of_corpus — and a micro-batch
    * re-delivered after a failure (same batchId) would re-invoke
    * `onVerdicts`, double-appending into a non-idempotent sink
    * (`IncrementStore.writeIncrement` appends the day twice). Both are
    * closed by `resume`: rebuild `priorKeepers` from the durable sink at
    * restart ([[CurationResume.fromStore]] when the sink is
    * [[CurationResume.storeSink]] — one store read, zero hand-rolled
    * state) and list the already-committed batch ids — committed
    * re-deliveries are skipped (their keepers are already in the resumed
    * state), uncommitted batches process exactly once. The restart spec
    * pins a mid-day crash-and-resume run verdict-identical to the
    * unbroken one. HARD PRECONDITION: restart from the ORIGINAL
    * `checkpointLocation` — batch ids are checkpoint-scoped, and
    * against a fresh checkpoint the committed-id skip would drop
    * genuinely new batches that reuse old ids (see [[CurationResume]]'s
    * scaladoc). Every skip is logged with its batch id.
    *
    * Scale shape: unchanged from the batch operator — the corpus side
    * is scanned, never shuffled; batch-sized frames broadcast. */
  def curationIncrementStream(
      newDocs: DataFrame, idCol: String, textCol: String,
      corpus: DataFrame, labels0: DataFrame,
      lm: graft.ml.NgramLm.LmModel, maxPpl: Double,
      bpe: graft.ml.Bpe.BpeModel,
      nearThreshold: Double = 0.8,
      md5Family: Boolean = false,
      spanIndex: Option[DataFrame] = None,
      spanN: Int = 20, minKeptRatio: Double = 0.3,
      resume: Option[CurationResume] = None)(
      onVerdicts: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // fold the durable sink's keepers back in BEFORE the first batch —
    // restart state must equal the unbroken stream's state (checkpointed
    // once here, so no batch re-executes the caller's rebuild lineage)
    val prior = resume.map(_.priorKeepers
      .select(col("doc_id"), col("text"), col("cluster_id"))
      .localCheckpoint(true))
    var oldDocs = corpus
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
    var labels = labels0
    var gramIx = spanIndex
    prior.foreach { p =>
      oldDocs = oldDocs.unionByName(p.select("doc_id", "text"))
      labels = labels.unionByName(p.select("doc_id", "cluster_id"))
      gramIx = gramIx.map(rollGramIndex(_, p.select("doc_id", "text"),
        "text", spanN))
    }
    val committed = resume.map(_.committedBatchIds).getOrElse(Set.empty[Long])
    newDocs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (committed.contains(batchId)) {
          // a re-delivered batch whose verdicts are already durable:
          // onVerdicts must NOT run again (the sink append is not
          // idempotent) and its keepers are already in the resumed
          // state. Logged loudly: under the same-checkpoint precondition
          // this fires only for a true replay; seeing it on a FRESH
          // checkpoint means new data is being dropped (mis-wired
          // restart — see CurationResume's scaladoc).
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"curation stream: skipping re-delivered committed " +
              s"batch $batchId (verdicts already durable; correct only " +
              "when restarted from the ORIGINAL checkpointLocation)")
        } else if (!batch.isEmpty) {
          val (v, h) = graft.operators.Curation.curateIncrement(
            batch, idCol, textCol, oldDocs, labels, lm, maxPpl, bpe,
            nearThreshold = nearThreshold, md5Family = md5Family,
            spanIndex = gramIx, spanN = spanN,
            minKeptRatio = minKeptRatio)
          // keepers snapshot BEFORE close — post-close the verdict
          // frame's checkpoint blocks are gone (IncrementHandle contract)
          val keepers = v.filter(col("curation_reject").isNull)
            .select(col("doc_id"), col("text"), col("cluster_id"))
            .localCheckpoint(true)
          onVerdicts(batchId, v) // consumer materializes, then we free
          h.close()
          oldDocs = oldDocs.unionByName(keepers.select("doc_id", "text"))
          labels = labels.unionByName(
            keepers.select("doc_id", "cluster_id"))
          gramIx = gramIx.map(rollGramIndex(_,
            keepers.select("doc_id", "text"), "text", spanN))
        }
      }
  }
}
