package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY §2.2 rows 33–34): the
  * streaming counterparts of [[graft.operators.Events]]. Batch is the
  * oracle-checked path; these run the same logic incrementally with
  * watermarks / keyed state, verified against the batch results in
  * StreamingSpec via the memory sink.
  *
  * Scale notes: the windowed aggregate keeps per-(window, event_type)
  * partial state only, bounded by the 2-hour watermark; sessionization
  * keeps one small state record per user key, partitioned across
  * executors by the groupByKey shuffle.
  */
object EventStreams {

  /** events.parquet schema when TIMESTAMP(NANOS) is read as Long. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over the events table. The physical `ts`
    * encoding has shipped both as TIMESTAMP(NANOS)-read-as-Long and as
    * TIMESTAMP(MICROS)/NTZ — a file stream needs its schema declared
    * up front, so probe the footer once with a batch read (metadata
    * only, no data scan) and normalize `ts` to the nanosecond-Long
    * contract the downstream typed operators ([[Ev]]) are written to.
    * A TIMESTAMP(NANOS) footer reads as Long under the legacy parquet
    * flag [[graft.GraftSession.create]] sets.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val physical = spark.read
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .schema("ts").dataType
    val schema = StructType(eventsSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = physical) else f))
    // file source wants a directory; filter to just the events table
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    if (physical == LongType) raw
    else raw.withColumn("ts",
      org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.col("ts").cast("timestamp")) * 1000L)
  }

  /** Attach event time + watermark once; a stream that already
    * carries them (e.g. the output of [[dedupEvents]]) passes through
    * untouched — Spark disallows redefining a watermark downstream,
    * and reuse is what lets stateful operators chain in one query.
    */
  private def withEventTime(events: DataFrame): DataFrame =
    if (events.columns.contains("event_time")) events
    else events
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "2 hours")

  /** Streaming tumbling 1-hour window aggregate with a 2-hour
    * watermark — same grouping as the batch `q_events_window`.
    */
  def window1h(events: DataFrame): DataFrame =
    withEventTime(events)
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("window_start_s"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming HOPPING window aggregate — 1-hour windows every 30
    * minutes via Spark's native sliding `window(…, '1 hour',
    * '30 minutes')`; the streaming twin of the batch
    * `q_events_hopping` (which realizes the same two-windows-per-event
    * expansion with an explicit explode).
    */
  def windowHopping(events: DataFrame): DataFrame =
    withEventTime(events)
      .groupBy(window(col("event_time"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("window_start_s"),
        col("event_type"), col("n_events"), col("sum_value"))

  case class EventRow(event_id: Long, ts: Long, user_id: Long)
  case class SessionState(lastSec: Long, nSessions: Long, nEvents: Long)
  case class UserSessions(user_id: Long, n_events: Long, n_sessions: Long)

  /** Keyed-state sessionization (30-minute gap), the streaming analog
    * of batch `q_events_sessionize`. Events within a micro-batch are
    * sorted per key before folding, so on a single batch of static
    * data this reproduces the batch result exactly.
    */
  def sessionize(events: Dataset[EventRow]): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    def update(userId: Long, it: Iterator[EventRow],
        state: GroupState[SessionState]): Iterator[UserSessions] = {
      val sorted = it.toSeq.sortBy(e => (e.ts, e.event_id))
      val init = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
      val next = sorted.foldLeft(init) { (st, e) =>
        val sec = e.ts / 1000000000L
        val newSession = st.lastSec == Long.MinValue || sec - st.lastSec > 1800
        SessionState(sec, st.nSessions + (if (newSession) 1 else 0), st.nEvents + 1)
      }
      state.update(next)
      Iterator.single(UserSessions(userId, next.nEvents, next.nSessions))
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  case class TypedEvent(event_id: Long, ts: Long, user_id: Long, event_type: String)
  case class LastSeen(ts: Long, eventId: Long, tpe: String)
  case class Transition(from_type: String, to_type: String)

  /** Streaming twin of batch `q_events_markov`: per-user first-order
    * transitions emitted as events arrive. State per user is ONE
    * record — the last event seen — so the store is bounded by active
    * users regardless of stream length; each micro-batch sorts its own
    * rows per key (the [[sessionize]] convention), so a single batch
    * over static input reproduces the batch lead() pass exactly, and
    * across batches the carried `LastSeen` stitches the boundary pair.
    */
  def markovTransitions(events: Dataset[TypedEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    def update(userId: Long, it: Iterator[TypedEvent],
        state: GroupState[LastSeen]): Iterator[Transition] = {
      val sorted = it.toSeq.sortBy(e => (e.ts, e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[Transition]
      var last = state.getOption
      sorted.foreach { e =>
        last.foreach(p => out += Transition(p.tpe, e.event_type))
        last = Some(LastSeen(e.ts, e.event_id, e.event_type))
      }
      last.foreach(state.update)
      out.iterator
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  case class ValuedEvent(event_id: Long, ts: Long, user_id: Long,
    event_type: String, value: Double)
  case class TouchState(touches: List[(Long, Long, String)]) // (sec, event_id, channel)
  case class Attribution(user_id: Long, purchase_id: Long, value: Double,
    first_channel: String, last_channel: String)

  /** Streaming twin of batch `q_events_attribution`: per purchase, the
    * user's first and last `click`/`view` touch inside the 7-day
    * lookback, resolved from keyed state. State per user is the touch
    * list TRIMMED to the lookback horizon on every batch — exactly
    * the bound the batch RANGE frame expresses — so the store holds
    * O(touches within 7 days) per active user regardless of stream
    * length. Micro-batch rows are sorted per key; purchases consume
    * touches already seen (strictly earlier seconds), matching the
    * batch frame's `1 PRECEDING` upper bound.
    */
  def attributionStream(events: Dataset[ValuedEvent]): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    val Lookback = 604800L
    def update(userId: Long, it: Iterator[ValuedEvent],
        state: GroupState[TouchState]): Iterator[Attribution] = {
      val sorted = it.toSeq.sortBy(e => (e.ts, e.event_id))
      var touches = state.getOption.map(_.touches).getOrElse(Nil)
      val out = scala.collection.mutable.ArrayBuffer.empty[Attribution]
      sorted.foreach { e =>
        val sec = e.ts / 1000000000L
        e.event_type match {
          case "click" | "view" =>
            touches = (sec, e.event_id, e.event_type) :: touches
          case "purchase" =>
            val window = touches.filter(t => t._1 >= sec - Lookback && t._1 <= sec - 1)
            val first = window.sortBy(t => (t._1, t._2)).headOption
            val last = window.sortBy(t => (t._1, t._2)).lastOption
            out += Attribution(userId, e.event_id, e.value,
              first.map(_._3).getOrElse("direct"),
              last.map(_._3).getOrElse("direct"))
          case _ => ()
        }
        // trim state to the horizon: anything older than Lookback
        // behind the newest event can never be attributed again
        touches = touches.filter(_._1 >= sec - Lookback)
      }
      state.update(TouchState(touches))
      out.iterator
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  case class TimedEventRow(event_id: Long, ts: Long, user_id: Long,
    event_time: java.sql.Timestamp)

  /** [[sessionize]] with PROVABLY BOUNDED state (the same watermark +
    * event-time-timeout treatment as [[minhashDedupStreamBounded]]):
    * a user idle past `horizonMinutes` has their state evicted, so the
    * store holds one record per RECENTLY ACTIVE user, not per user
    * ever seen. Because the horizon is ≥ the 30-minute session gap,
    * eviction never splits a session — the first event after an
    * eviction would have started a new session anyway; what resets is
    * the CUMULATIVE counters, which become per-activity-epoch (the
    * meaning bounded state must have on an endless stream). Streaming
    * ≡ batch for any input contained in one horizon (tested).
    */
  def sessionizeBounded(events: DataFrame,
      horizonMinutes: Int = 120): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    require(horizonMinutes * 60 >= 1800, "horizon must cover the session gap")
    val hMs = horizonMinutes * 60000L
    events
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", s"$horizonMinutes minutes")
      .select("event_id", "ts", "user_id", "event_time").as[TimedEventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(boundedSessionUpdate(hMs))
  }

  private def boundedSessionUpdate(horizonMs: Long)(userId: Long,
      it: Iterator[TimedEventRow],
      state: GroupState[SessionState]): Iterator[UserSessions] = {
    if (state.hasTimedOut) {
      // watermark passed (last event + horizon): the user is idle —
      // drop their state entirely
      state.remove()
      return Iterator.empty
    }
    val sorted = it.toSeq.sortBy(e => (e.ts, e.event_id))
    val init = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
    val next = sorted.foldLeft(init) { (st, e) =>
      val sec = e.ts / 1000000000L
      val newSession = st.lastSec == Long.MinValue || sec - st.lastSec > 1800
      SessionState(sec, st.nSessions + (if (newSession) 1 else 0), st.nEvents + 1)
    }
    state.update(next)
    // timeout must sit strictly past the current watermark (Spark
    // rejects an already-expired timestamp when the watermark outran
    // this key's last event between batches)
    state.setTimeoutTimestamp(
      math.max(next.lastSec * 1000L + horizonMs, state.getCurrentWatermarkMs() + 1))
    Iterator.single(UserSessions(userId, next.nEvents, next.nSessions))
  }

  /** Sessionization on the `transformWithState` processor API (the
    * arbitrary-state successor to flatMapGroupsWithState; requires
    * the RocksDB state store): same 30-minute-gap semantics as
    * [[sessionize]], with state in a typed ValueState handle. The
    * `ttl` bounds state in production: an idle user's record expires
    * `ttl` after its last update and the store stops carrying it —
    * pass [[sessionizeTws]] a real duration for endless streams.
    */
  class SessionProcessor(ttl: org.apache.spark.sql.streaming.TTLConfig)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventRow, UserSessions] {
    import org.apache.spark.sql.streaming.{TimerValues, TimeMode, ValueState}
    import org.apache.spark.sql.{Encoder, Encoders}

    @transient private var state: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      implicit val enc: Encoder[SessionState] = Encoders.product[SessionState]
      state = getHandle.getValueState[SessionState]("session", enc, ttl)
    }

    override def handleInputRows(key: Long, rows: Iterator[EventRow],
        timerValues: TimerValues): Iterator[UserSessions] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts, e.event_id))
      val init = if (state.exists()) state.get() else SessionState(Long.MinValue, 0L, 0L)
      val next = sorted.foldLeft(init) { (st, e) =>
        val sec = e.ts / 1000000000L
        val newSession = st.lastSec == Long.MinValue || sec - st.lastSec > 1800
        SessionState(sec, st.nSessions + (if (newSession) 1 else 0), st.nEvents + 1)
      }
      state.update(next)
      Iterator.single(UserSessions(key, next.nEvents, next.nSessions))
    }
  }

  /** [[sessionize]] re-expressed on `transformWithState` — proven
    * equivalent to the batch query in StreamingSpec. A non-NONE `ttl`
    * switches to processing-time mode (the mode TTL requires) and
    * bounds state to recently-active users.
    */
  def sessionizeTws(events: Dataset[EventRow],
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    val mode = if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    events.groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(ttl), mode, OutputMode.Update())
  }

  /** Streaming exact dedup on event_id within the watermark horizon —
    * the streaming member of the dedup family (SURVEY §2.2 row 21):
    * state holds only ids inside the 2-hour watermark, so it is
    * bounded regardless of stream length.
    */
  def dedupEvents(events: DataFrame): DataFrame =
    withEventTime(events).dropDuplicates("event_id")

  /** Stream-stream interval join: purchases matched to the same
    * user's signups within [t-1h, t]. Both sides carry watermarks so
    * join state is bounded; the range condition bounds retention.
    */
  def purchaseSignupJoin(events: DataFrame): DataFrame = {
    val withTime = events
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
    val purchases = withTime.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("event_time").as("p_time"))
      .withWatermark("p_time", "2 hours")
    val signups = withTime.where(col("event_type") === "signup")
      .select(col("user_id").as("s_user_id"), col("event_id").as("signup_id"),
        col("event_time").as("s_time"))
      .withWatermark("s_time", "2 hours")
    purchases.join(signups,
      col("user_id") === col("s_user_id") &&
        col("s_time") <= col("p_time") &&
        col("s_time") >= col("p_time") - expr("INTERVAL 1 HOUR"))
      .select("purchase_id", "signup_id", "user_id")
  }

  /** Run a streaming DataFrame to completion on static input via the
    * memory sink; returns the collected result table.
    */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    df.sparkSession.table(name)
  }

  // ---- streaming MinHash near-dup dedup (SURVEY §2.2 row 22, streaming) ----

  case class BucketDoc(doc_id: Long, shingles: Seq[Long], band: Int, bucket: Long)
  case class BucketState(ids: List[Long], shingles: List[Seq[Long]])
  case class DupHit(doc_id: Long, dup_of: Long)

  /** Streaming MinHash+LSH near-duplicate detection: each document's
    * (band, bucket) rows shuffle to keyed state holding the shingle
    * sets of earlier documents in that bucket; an arriving document is
    * verified (exact Jaccard >= 0.5) against those and reports its
    * earliest near-duplicate, or -1. Same signature/band arithmetic as
    * the batch `d_dedup_minhash` — StreamingSpec proves streaming ≡
    * batch on the same corpus.
    *
    * State here is unbounded (useful for finite backfills); for
    * endless streams use [[minhashDedupStreamBounded]], which adds the
    * watermark + event-time-timeout eviction that keeps bucket state
    * inside the dedup horizon.
    */
  def minhashDedupStream(docs: DataFrame): Dataset[DupHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.operators.Dedup.bandedSigned(docs).as[BucketDoc]
      .groupByKey(b => (b.band, b.bucket))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(dedupUpdate)
  }

  private def dedupUpdate(key: (Int, Long), it: Iterator[BucketDoc],
      state: GroupState[BucketState]): Iterator[DupHit] = {
    val sorted = it.toSeq.sortBy(_.doc_id)
    var ids = state.getOption.map(_.ids).getOrElse(Nil)
    var shs = state.getOption.map(_.shingles).getOrElse(Nil)
    val out = List.newBuilder[DupHit]
    for (d <- sorted) {
      val hits = ids.lazyZip(shs).collect {
        case (id, sh) if jaccardSorted(sh, d.shingles) >= 0.5 => id
      }
      out += DupHit(d.doc_id, if (hits.isEmpty) -1L else hits.min)
      ids = d.doc_id :: ids
      shs = d.shingles :: shs
    }
    state.update(BucketState(ids, shs))
    out.result().iterator
  }

  // ---- bounded-state variant: watermark + event-time timeout ----

  case class TimedBucketDoc(doc_id: Long, shingles: Seq[Long], band: Int,
    bucket: Long, event_time: java.sql.Timestamp)
  case class TimedBucketState(ids: List[Long], shingles: List[Seq[Long]],
    timesMs: List[Long])

  /** [[minhashDedupStream]] with PROVABLY BOUNDED state: documents
    * carry an `event_time` column, the stream is watermarked with the
    * dedup horizon, and each bucket's state holds only documents whose
    * event time is at or past the current watermark (= max observed
    * time − horizon). Matching enforces the horizon PAIRWISE (event-
    * time gap ≤ horizon — exact even though the watermark lags a
    * batch); eviction is two-tier:
    *  - on every bucket visit, entries older than the watermark are
    *    dropped before matching;
    *  - an event-time timeout fires `horizon` past the newest kept
    *    entry, removing the WHOLE bucket state for idle buckets — the
    *    store holds nothing for buckets the stream stopped touching.
    * State is therefore ≤ (docs inside one horizon) × Bands rows
    * regardless of stream length.
    */
  def minhashDedupStreamBounded(docs: DataFrame,
      horizonMinutes: Int = 120): Dataset[DupHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hMs = horizonMinutes * 60000L
    graft.operators.Dedup
      .bandedSigned(docs.withWatermark("event_time", s"$horizonMinutes minutes"),
        keep = Seq("event_time"))
      .as[TimedBucketDoc]
      .groupByKey(b => (b.band, b.bucket))
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(boundedDedupUpdate(hMs))
  }

  private def boundedDedupUpdate(horizonMs: Long)(key: (Int, Long),
      it: Iterator[TimedBucketDoc],
      state: GroupState[TimedBucketState]): Iterator[DupHit] = {
    if (state.hasTimedOut) {
      // watermark passed horizon beyond the newest entry: every entry
      // is un-matchable, drop the bucket entirely
      state.remove()
      return Iterator.empty
    }
    val wm = state.getCurrentWatermarkMs()
    val prior = state.getOption.getOrElse(TimedBucketState(Nil, Nil, Nil))
    // tier 1: evict entries the watermark has passed — no future
    // document can be within the horizon of them
    var (ids, shs, ts) = (List.empty[Long], List.empty[Seq[Long]], List.empty[Long])
    prior.ids.lazyZip(prior.shingles).lazyZip(prior.timesMs).foreach { (id, sh, t) =>
      if (t >= wm) { ids = id :: ids; shs = sh :: shs; ts = t :: ts }
    }
    val out = List.newBuilder[DupHit]
    for (d <- it.toSeq.sortBy(_.doc_id)) {
      // pairwise horizon check: watermark eviction lags one batch, so
      // the time gap is ALSO enforced per candidate — a document never
      // matches another more than `horizon` away in event time
      val dMs = d.event_time.getTime
      val hits = ids.lazyZip(shs).lazyZip(ts).collect {
        case (id, sh, t) if math.abs(dMs - t) <= horizonMs &&
          jaccardSorted(sh, d.shingles) >= 0.5 => id
      }
      out += DupHit(d.doc_id, if (hits.isEmpty) -1L else hits.min)
      ids = d.doc_id :: ids
      shs = d.shingles :: shs
      ts = dMs :: ts
    }
    if (ids.isEmpty) state.remove()
    else {
      state.update(TimedBucketState(ids, shs, ts))
      // tier 2: when the watermark passes (newest entry + horizon),
      // nothing in this bucket can match again — time the state out
      state.setTimeoutTimestamp(ts.max + horizonMs)
    }
    out.result().iterator
  }

  /** Exact Jaccard of two sorted distinct hash sequences
    * (merge-intersect, the state-side twin of the native
    * sortedIntersectSize expression).
    */
  private def jaccardSorted(a: Seq[Long], b: Seq[Long]): Double = {
    val (xa, xb) = (a.toArray, b.toArray)
    var i = 0; var j = 0; var inter = 0
    while (i < xa.length && j < xb.length) {
      if (xa(i) == xb(j)) { inter += 1; i += 1; j += 1 }
      else if (xa(i) < xb(j)) i += 1
      else j += 1
    }
    val union = xa.length + xb.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Collapse per-(band, bucket) hits to one row per document with a
    * near-duplicate: the earliest prior match across all bands.
    */
  def consolidateDups(hits: DataFrame): DataFrame =
    hits.where(col("dup_of") >= 0).groupBy("doc_id")
      .agg(min(col("dup_of")).as("dup_of"))

  // ---- streaming incremental corpus dedup (row 22b, streaming twin) ----

  /** STREAMING incremental corpus dedup — `d_dedup_incremental` as a
    * continuous pipeline: each micro-batch of (doc_id, text) rows
    *  1. appends its minhash signatures to the persisted band index
    *     EXACTLY-ONCE (one snapshot version per batch),
    *  2. is deduped against everything committed strictly before it
    *     (the index at version − 1 — corpus bootstrap plus all earlier
    *     batches), and
    *  3. lands its per-doc near-dup stats in `resultsTable`, also
    *     exactly-once under the same (streamId, batchId) tag.
    * A replayed micro-batch therefore cannot double-append signatures
    * OR results, and recomputes bit-identical stats (it re-reads the
    * same version − 1 via its ingest tag) even if later batches have
    * committed meanwhile. This is the steady-state 100 TB dedup shape:
    * O(batch) signature work per batch, corpus signatures served from
    * the versioned index, never recomputed.
    */
  def incrementalDedupStream(docs: DataFrame, indexTable: String,
      resultsTable: String, streamId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val stats = graft.operators.Dedup.dedupBatchIncremental(
          batch, indexTable, streamId, batchId)
        graft.sources.Snapshots.ingestBatch(stats, resultsTable, streamId, batchId)
        ()
      }

  /** Streaming twin of the EXACT fingerprint dedup index (§2.2 row
    * 21g): each micro-batch folds its (fp → min doc_id) rows into the
    * persisted index and appends its dup verdicts, both exactly-once
    * under (streamId, batchId) — the [[incrementalDedupStream]]
    * convention applied to [[graft.operators.Dedup.exactDedupBatchIncremental]].
    */
  def exactDedupStream(docs: DataFrame, indexTable: String,
      resultsTable: String, streamId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val verdicts = graft.operators.Dedup.exactDedupBatchIncremental(
          batch, indexTable, streamId, batchId)
        graft.sources.Snapshots.ingestBatch(
          verdicts, resultsTable, streamId, batchId)
        ()
      }

  /** Streaming twin of the INCREMENTAL SimHash dedup index (§2.2 row
    * 23b — completes the family symmetry: exact, MinHash and BM25 all
    * carry streaming twins): each micro-batch folds its block rows
    * into the persisted pigeonhole index and appends its near-dup
    * verdicts, both exactly-once under (streamId, batchId) — the
    * [[exactDedupStream]] convention applied to
    * [[graft.operators.Dedup.simhashBatchIncremental]].
    */
  def simhashDedupStream(docs: DataFrame, indexTable: String,
      resultsTable: String, streamId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val verdicts = graft.operators.Dedup.simhashBatchIncremental(
          batch, indexTable, streamId, batchId)
        graft.sources.Snapshots.ingestBatch(
          verdicts, resultsTable, streamId, batchId)
        ()
      }

  /** Streaming twin of the BM25 maintenance path (§2.2 row 45d's
    * index set under streaming ingest — the family convention next to
    * [[exactDedupStream]]): each micro-batch of (doc_id, text) rows
    *  1. appends to the versioned base corpus EXACTLY-ONCE under
    *     (streamId, batchId) ([[graft.sources.Snapshots.ingestBatch]]),
    *  2. folds every base version the batch advanced past into the
    *     full BM25 table set via
    *     [[graft.functions.TextFunctions.bm25Maintain]]'s PER-TABLE
    *     watermarks — postings (signed tf), doclen sidecar, corpus
    *     scalars, each O(changed docs).
    * A replayed micro-batch is a no-op at BOTH layers: the ingest tag
    * dedups the base append, and an unchanged base version leaves
    * every maintenance watermark where it was. Out-of-band DML on the
    * base table between batches (deleteWhere, compaction) is folded by
    * the NEXT batch's maintenance pass — changesBetween reads the
    * manifest diff, so deletes arrive as tombstone deltas exactly as
    * in the batch DML path (`t_search_bm25_dml`).
    */
  def bm25MaintainStream(docs: DataFrame, baseTable: String,
      postT: String, dlT: String, totT: String, streamId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Snapshots.ingestBatch(batch, baseTable, streamId, batchId)
        graft.functions.TextFunctions.bm25Maintain(
          batch.sparkSession, baseTable, postT, dlT, totT)
        ()
      }

  /** Streaming twin of the peak-concurrency boundary MV
    * ([[graft.operators.Events.concurrencyRefresh]]) — each
    * micro-batch of (user_id, event_id, sec) rows appends to the
    * versioned base exactly-once, then folds the advanced base
    * versions into the signed-boundary MV (affected users only,
    * O(their events)). Replays no-op at both layers, the
    * [[bm25MaintainStream]] convention.
    */
  def concurrencyMaintainStream(events: DataFrame, baseTable: String,
      mvTable: String, streamId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Snapshots.ingestBatch(batch, baseTable, streamId, batchId)
        graft.operators.Events.concurrencyRefresh(
          batch.sparkSession, baseTable, mvTable)
        ()
      }

  // ---- streaming rolling-distinct sketch state (row 35e, streaming twin) ----

  /** One micro-batch of the DAILY-HLL sketch state behind
    * `q_events_rolling_dau_hll`: the batch's (user_id, ts-nanos) rows
    * fold into one ~kB Datasketches HLL per day (lgK 12 — matching
    * the batch query) and append EXACTLY-ONCE under (streamId,
    * batchId). The table is merge-on-read: partial sketches per
    * (day, batch) accumulate and [[hllRollingServe]] unions at read
    * time — HLL union is a register max, so merge order can never
    * change the stored state, and a replayed batch is a no-op append.
    */
  def hllDailyBatch(batch: DataFrame, table: String,
      streamId: String, batchId: Long): Unit = {
    val daily = batch
      .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
      .groupBy("day").agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    graft.sources.Snapshots.ingestBatch(daily, table, streamId, batchId)
  }

  /** Serve the rolling 7-day distinct-user estimate from the persisted
    * daily-sketch table — the dashboard read that never touches raw
    * events: union each day's partial sketches, roll each day into the
    * 7 output days it covers, estimate. Output days are restricted to
    * observed days (the batch query's convention).
    */
  def hllRollingServe(s: org.apache.spark.sql.SparkSession,
      table: String): DataFrame = {
    val daily = graft.sources.Snapshots.read(s, table)
      .groupBy("day").agg(expr("hll_union_agg(sk)").as("sk"))
    val days = daily.select(col("day").as("d"))
    daily.select(explode(sequence(col("day"), col("day") + 6)).as("d"), col("sk"))
      .join(days, Seq("d"))
      .groupBy(col("d").as("day"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("wau7_est"))
  }

  /** Streaming twin of row 35e's sketch state: each micro-batch of
    * (user_id, ts) appends its per-day partial sketches exactly-once;
    * serving unions on read ([[hllRollingServe]]).
    */
  def hllDailyStream(events: DataFrame, table: String, streamId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        hllDailyBatch(batch, table, streamId, batchId)
        ()
      }
}
