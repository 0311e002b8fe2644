package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStreams

/** Structured Streaming paths must reproduce the (oracle-checked)
  * batch results when run over the same static events table.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("events loaders read under the session contract and write no session conf") {
    // a fresh session of the shipped factory: the loaders must find the
    // legacy nanos flag and the UTC zone already set, and leave every
    // conf as they found it (a query writing session conf changes the
    // engine under every other query sharing the session)
    val s = spark.newSession()
    val before = s.conf.getAll
    val batch = graft.operators.Events.loadEvents(s, sfDir)
    assert(batch.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    assert(batch.count() > 0L)
    val stream = EventStreams.readEvents(s, sfDir)
    assert(stream.isStreaming && stream.schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
    val after = s.conf.getAll
    val changed = (after.toSet diff before.toSet) ++ (before.toSet diff after.toSet)
    assert(changed.isEmpty, s"events loaders changed session conf: $changed")
  }

  test("streaming 1h window agg matches batch q_events_window") {
    val streamed = EventStreams.runToMemory(
      EventStreams.window1h(EventStreams.readEvents(spark, sfDir)),
      "win1h", OutputMode.Complete())
      .select("window_start_s", "event_type", "n_events", "sum_value")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val batch = SparkEntry.queries("q_events_window")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(streamed == batch)
  }

  test("streaming hopping window agg matches batch q_events_hopping") {
    val streamed = EventStreams.runToMemory(
      EventStreams.windowHopping(EventStreams.readEvents(spark, sfDir)),
      "winHop", OutputMode.Complete())
      .select("window_start_s", "event_type", "n_events", "sum_value")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val batch = SparkEntry.queries("q_events_hopping")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(streamed == batch)
  }

  test("streaming markov transitions match batch q_events_markov cells") {
    import spark.implicits._
    val typed = EventStreams.readEvents(spark, sfDir)
      .selectExpr("event_id", "ts", "user_id", "event_type")
      .as[EventStreams.TypedEvent]
    val streamed = EventStreams.runToMemory(
      EventStreams.markovTransitions(typed).toDF(),
      "markovT", OutputMode.Append())
      .groupBy("from_type", "to_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = SparkEntry.queries("q_events_markov")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
  }

  test("streaming attribution matches batch q_events_attribution rollups") {
    import spark.implicits._
    val typed = EventStreams.readEvents(spark, sfDir)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.ValuedEvent]
    val attributed = EventStreams.runToMemory(
      EventStreams.attributionStream(typed).toDF(),
      "attrT", OutputMode.Append())
    def rollup(chCol: String, model: String) = attributed
      .groupBy(lit(model).as("model"), col(chCol).as("channel"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Portable.dsum(col("value")).as("v"))
    val streamed = rollup("first_channel", "first_touch")
      .unionAll(rollup("last_channel", "last_touch"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val batch = SparkEntry.queries("q_events_attribution")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(streamed == batch)
  }

  test("streaming dedup collapses duplicated events to distinct ids") {
    // double the stream so every event id arrives twice
    val doubled = EventStreams.readEvents(spark, sfDir)
      .union(EventStreams.readEvents(spark, sfDir))
    val streamed = EventStreams.runToMemory(
      EventStreams.dedupEvents(doubled).select("event_id"),
      "dedup", OutputMode.Append())
    val expected = graft.operators.Events.loadEvents(spark, sfDir)
      .select("event_id").distinct().count()
    assert(streamed.count() == expected)
  }

  test("stream-stream interval join matches the batch equivalent") {
    val streamed = EventStreams.runToMemory(
      EventStreams.purchaseSignupJoin(EventStreams.readEvents(spark, sfDir)),
      "ssjoin", OutputMode.Append())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = graft.operators.Events.loadEvents(spark, sfDir)
      .withColumn("us", expr("ts div 1000")) // microseconds, matching the stream
    val p = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("us").as("p_us"))
    val s2 = e.where(col("event_type") === "signup")
      .select(col("user_id").as("s_user_id"), col("event_id").as("signup_id"),
        col("us").as("s_us"))
    val batch = p.join(s2,
      col("user_id") === col("s_user_id") &&
        col("s_us") <= col("p_us") && col("s_us") >= col("p_us") - 3600000000L)
      .select("purchase_id", "signup_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
  }

  test("composed stateful stream: dedup then windowed agg equals batch") {
    // two stateful operators chained in ONE streaming query: the
    // duplicated stream collapses in dropDuplicates state, then the
    // watermarked window aggregate consumes the deduped rows — the
    // result must equal the batch window aggregate over the
    // un-duplicated table
    val doubled = EventStreams.readEvents(spark, sfDir)
      .union(EventStreams.readEvents(spark, sfDir))
    val streamed = EventStreams.runToMemory(
      EventStreams.window1h(EventStreams.dedupEvents(doubled)),
      "dedup_win", OutputMode.Complete())
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val batch = SparkEntry.queries("q_events_window")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(streamed == batch)
  }

  test("streaming minhash near-dup dedup matches the batch LSH pipeline") {
    import org.apache.spark.sql.types._
    import graft.operators.Dedup
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // union a shifted copy so every copied doc has a guaranteed (J = 1)
    // near-duplicate, independent of natural near-dups at this SF
    def readDocs = spark.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
      .select(col("doc_id"), col("text"))
    val doubled = readDocs.union(
      readDocs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val streamed = EventStreams.consolidateDups(
      EventStreams.runToMemory(
        EventStreams.minhashDedupStream(doubled).toDF(), "mh_dedup", OutputMode.Update()))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch twin: earliest banded-LSH near-dup per doc on the same input
    val b = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val doubledBatch = b.union(b.select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val sg = Dedup.signed(doubledBatch)
    val batch = Dedup.verifiedJaccard(Dedup.minhashCandidates(sg), sg)
      .where(col("jaccard") >= 0.5)
      .groupBy(col("b")).agg(min(col("a")).as("dup_of"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.nonEmpty, "shifted copies must surface near-dups")
    assert(streamed == batch)
  }

  test("bounded minhash dedup evicts state past the horizon, matches inside it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = mem.toDF.toDF("doc_id", "text", "event_time")
    val q = EventStreams.minhashDedupStreamBounded(docs, horizonMinutes = 120)
      .toDF.writeStream.outputMode("update").format("memory")
      .queryName("mh_bounded").start()
    def at(hours: Int) = new java.sql.Timestamp(86400000L + hours * 3600L * 1000)
    val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
    val textB = "completely unrelated filler content about databases indexes and partitions"
    try {
      // t=0h: the original; t=1h: a copy INSIDE the 2h horizon → match
      mem.addData((1L, textA, at(0)), (2L, textB, at(0)))
      q.processAllAvailable()
      mem.addData((3L, textA, at(1)))
      q.processAllAvailable()
      // advance the watermark far past 1h + horizon (filler doc at 9h;
      // watermark after this batch = 9h − 2h = 7h) → docs 1/3 evicted
      mem.addData((90L, textB + " plus some extra words", at(9)))
      q.processAllAvailable()
      // t=10h: same text as doc 1, but its duplicates are OUTSIDE the
      // horizon and evicted → must report no match
      mem.addData((4L, textA, at(10)))
      q.processAllAvailable()
      // t=10h: doc 4 is in-horizon state → must match it
      mem.addData((5L, textA, at(10)))
      q.processAllAvailable()
    } finally q.stop()
    val hits = spark.table("mh_bounded").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    def dupsOf(id: Long) = hits.collect { case (d, o) if d == id && o >= 0 => o }.toSet
    assert(dupsOf(3L) == Set(1L), s"doc 3 must match doc 1 inside the horizon: ${hits.toList}")
    assert(dupsOf(4L).isEmpty, s"doc 4 must NOT match evicted state: ${hits.toList}")
    assert(dupsOf(5L) == Set(4L), s"doc 5 must match in-horizon doc 4: ${hits.toList}")
    // doc 90 is a near-dup of doc 2 by text, but 9h apart: the pairwise
    // horizon check must reject it even though the (lagging) watermark
    // had not yet evicted doc 2 when doc 90 arrived
    assert(dupsOf(90L).isEmpty, s"doc 90 must not match beyond the horizon: ${hits.toList}")
  }

  test("streaming ingest into the snapshot table format is exactly-once per batch") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = s"${Roots.scratch}/sources-spec/ingest_tbl"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(table))

    val mem = MemoryStream[(Long, String)]
    val q = Snapshots.ingestStream(mem.toDF.toDF("id", "payload"), table, "s1").start()
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()

    // every micro-batch became a consistent committed version
    val vAfter = Snapshots.currentVersion(table)
    assert(vAfter >= 2, s"expected one version per batch, got $vAfter")
    assert(Snapshots.read(spark, table).count() == 3)
    // version 1 time-travels to exactly the first batch
    assert(Snapshots.readVersion(spark, table, 1).count() == 2)

    // a replayed batch (same stream, same batchId) must NO-OP: the
    // provenance tag rides inside the atomically-claimed manifest, and
    // the replay resolves to the version ITS OWN commit created (batch
    // 0 → version 1), so downstream consumers can re-read the exact
    // pre-batch state (version − 1)
    val replay = Seq((1L, "a"), (2L, "b")).toDF("id", "payload")
    assert(Snapshots.ingestBatch(replay, table, "s1", 0L) == 1)
    assert(Snapshots.committedVersion(table, "s1", 0L).contains(1))
    assert(Snapshots.currentVersion(table) == vAfter, "replay committed twice")
    assert(Snapshots.read(spark, table).count() == 3)
    // …while a NEW batch id still commits
    assert(Snapshots.ingestBatch(replay, table, "s1", 99L) == vAfter + 1)
    assert(Snapshots.read(spark, table).count() == 5)
  }

  test("streaming wordcount matches the batch heavy-hitters query") {
    import org.apache.spark.sql.types._
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val streamedCounts = EventStreams.runToMemory(
      spark.readStream.schema(docsSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .where(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("n")),
      "wc_stream", OutputMode.Complete())
      .collect().map(r => r.getString(0) -> r.getLong(1))
    // same incremental aggregate, same answer: the streaming state IS
    // the batch hash-aggregate state
    val streamedTop = streamedCounts
      .sortBy { case (w, n) => (-n, w) }.take(20).toSeq
    val batchTop = SparkEntry.queries("t_wordcount")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(streamedTop == batchTop)
  }

  test("transformWithState sessionization matches batch q_events_sessionize") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    // the processor API requires the RocksDB state store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = EventStreams.readEvents(spark, sfDir)
        .select("event_id", "ts", "user_id").as[EventStreams.EventRow]
      val streamed = EventStreams.runToMemory(
        EventStreams.sessionizeTws(events).toDF(), "sessions_tws", OutputMode.Update())
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val batch = SparkEntry.queries("q_events_sessionize")(spark, sfDir)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(streamed == batch)
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("bounded sessionization evicts idle users, matches batch inside the horizon") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long)]
    val events = mem.toDF.toDF("event_id", "ts", "user_id")
    val q = EventStreams.sessionizeBounded(events, horizonMinutes = 120)
      .toDF.writeStream.outputMode("update").format("memory")
      .queryName("sess_bounded").start()
    // nanos; based at day 1 so the initial zero watermark never drops rows
    def nanosAt(sec: Long) = (86400L + sec) * 1000000000L
    try {
      // user 7: two events 100 s apart — one session, two events
      mem.addData((1L, nanosAt(0), 7L), (2L, nanosAt(100), 7L))
      q.processAllAvailable()
      // user 99 at +20 h pushes the watermark to 18 h — far past
      // user 7's (last event + 2 h horizon) timeout target
      mem.addData((3L, nanosAt(72000), 99L))
      q.processAllAvailable()
      // next batch fires user 7's timeout (timeouts run on the
      // watermark as of the PREVIOUS batch) → state evicted
      mem.addData((4L, nanosAt(72100), 99L))
      q.processAllAvailable()
      // user 7 returns at +21 h: counters restart from the evicted
      // state — (1 event, 1 session), not the cumulative (3, 2)
      mem.addData((5L, nanosAt(75600), 7L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sess_bounded").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // inside the horizon: batch-identical fold for user 7's first epoch
    assert(rows.contains((7L, 2L, 1L)), s"first epoch must fold both events: ${rows.toList}")
    // after eviction: fresh state, proving the idle user's record left the store
    assert(rows.last == ((7L, 1L, 1L)),
      s"post-eviction epoch must restart counters: ${rows.toList}")
  }

  test("transformWithState sessionization with TTL expires idle state") {
    // In ProcessingTime mode the TWS operator ALWAYS reports "requires
    // another batch" (to fire TTL cleanup), so processAllAvailable and
    // even AvailableNow livelock on endless no-data batches. Each phase
    // is therefore a single-batch Trigger.Once run over a shared
    // checkpoint: state (with its TTL clocks) persists in RocksDB
    // between runs, and expiry is evaluated when run 2 READS the state
    // — no cleanup batch needed.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = s"${Roots.scratch}/streaming-spec/ttl_ckpt"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(ckpt))
    try {
      val mem = MemoryStream[(Long, Long, Long)]
      val events = mem.toDF.toDF("event_id", "ts", "user_id")
        .as[EventStreams.EventRow]
      val ttl = org.apache.spark.sql.streaming.TTLConfig(
        java.time.Duration.ofMillis(50))
      // memory sink refuses checkpoint recovery; foreachBatch restarts
      def runOnce(): Seq[(Long, Long, Long)] = {
        val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]
        val q = EventStreams.sessionizeTws(events, ttl)
          .toDF.writeStream.outputMode("update")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.collect().foreach(r => got.add((r.getLong(0), r.getLong(1), r.getLong(2))))
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.Once())
          .start()
        try q.awaitTermination() finally q.stop()
        got.toArray(Array.empty[(Long, Long, Long)]).toSeq
      }
      def nanosAt(sec: Long) = (86400L + sec) * 1000000000L
      mem.addData((1L, nanosAt(0), 7L), (2L, nanosAt(100), 7L))
      val first = runOnce()
      assert(first.contains((7L, 2L, 1L)), s"pre-TTL fold: $first")
      Thread.sleep(500) // let the 50 ms TTL lapse in processing time
      mem.addData((3L, nanosAt(7200), 7L))
      val second = runOnce()
      assert(second.contains((7L, 1L, 1L)),
        s"expired state must not feed the restarted run: $second")
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming incremental dedup: index-served batches equal a recompute, replays no-op") {
    import graft.operators.Dedup
    import graft.sources.Snapshots
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idxT = s"${Roots.scratch}/streaming-spec/inc_idx"
    val resT = s"${Roots.scratch}/streaming-spec/inc_res"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(idxT)); rm(new java.io.File(resT))

    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    Dedup.buildBandIndex(corpus, idxT) // bootstrap = version 1
    val batches = docs.where(col("doc_id") % 10 === 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1 % 3) // 3 deterministic micro-batches

    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.incrementalDedupStream(
      mem.toDF.toDF("doc_id", "text"), idxT, resT, "inc_s1").start()
    try {
      for (k <- 0L to 2L) {
        mem.addData(batches(k).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // reference: pure recompute — batch k signed fresh against
    // corpus ∪ batches < k, no stored index anywhere
    import spark.implicits._
    var seen = corpus
    var expect = Set.empty[(Long, Long, Long, Double)]
    for (k <- 0L to 2L) {
      val b = batches(k).toSeq.toDF("doc_id", "text")
      expect ++= key(Dedup.batchDedupStats(
        Dedup.bandedSigned(b), Dedup.bandedSigned(seen)))
      seen = seen.unionAll(b)
    }
    val got = key(Snapshots.read(spark, resT))
    assert(got == expect, s"index-served stream diverged: ${got.size} vs ${expect.size}")

    // replay batch 1 after batch 2 committed: same stats, no new version
    val vBefore = Snapshots.currentVersion(idxT)
    val replay = key(Dedup.dedupBatchIncremental(
      batches(1L).toSeq.toDF("doc_id", "text"), idxT, "inc_s1", 1L))
    assert(Snapshots.currentVersion(idxT) == vBefore, "replay must not commit")
    val batch1Expected = key(Dedup.batchDedupStats(
      Dedup.bandedSigned(batches(1L).toSeq.toDF("doc_id", "text")),
      Dedup.bandedSigned(corpus.unionAll(batches(0L).toSeq.toDF("doc_id", "text")))))
    assert(replay == batch1Expected, "replay must recompute against its own v-1")
  }

  test("streaming exact dedup: index-served batches equal a recompute, replays no-op") {
    import graft.operators.Dedup
    import graft.sources.Snapshots
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idxT = s"${Roots.scratch}/streaming-spec/exact_idx"
    val resT = s"${Roots.scratch}/streaming-spec/exact_res"
    Seq(idxT, resT).foreach(Snapshots.deleteRecursively)

    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    // bootstrap = version 1: the corpus's fingerprint → canonical index
    Snapshots.commitOverwrite(
      corpus.groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("canonical_id")), idxT)
    val batches = docs.where(col("doc_id") % 10 === 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1 % 3) // 3 deterministic micro-batches

    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.exactDedupStream(
      mem.toDF.toDF("doc_id", "text"), idxT, resT, "exact_s1").start()
    try {
      for (k <- 0L to 2L) {
        mem.addData(batches(k).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // reference: pure recompute — batch k's verdicts over
    // corpus ∪ batches ≤ k, no stored index anywhere
    import spark.implicits._
    var seen = corpus
    var expect = Set.empty[(Long, Long, Boolean)]
    for (k <- 0L to 2L) {
      val b = batches(k).toSeq.toDF("doc_id", "text")
      val all = seen.unionAll(b)
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("canonical_id"))
      expect ++= key(b.select(col("doc_id"), md5(col("text")).as("fp"))
        .join(all, "fp")
        .select(col("doc_id"), col("canonical_id"),
          (col("canonical_id") =!= col("doc_id")).as("is_dup")))
      seen = seen.unionAll(b)
    }
    val got = key(Snapshots.read(spark, resT))
    assert(got == expect, s"index-served stream diverged: ${got.size} vs ${expect.size}")

    // replay batch 1 after batch 2 committed: same verdicts, no new version
    val vBefore = Snapshots.currentVersion(idxT)
    val replay = key(Dedup.exactDedupBatchIncremental(
      batches(1L).toSeq.toDF("doc_id", "text"), idxT, "exact_s1", 1L))
    assert(Snapshots.currentVersion(idxT) == vBefore, "replay must not commit")
    val b1 = batches(1L).toSeq.toDF("doc_id", "text")
    val all1 = corpus.unionAll(batches(0L).toSeq.toDF("doc_id", "text")).unionAll(b1)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("canonical_id"))
    val batch1Expected = key(b1.select(col("doc_id"), md5(col("text")).as("fp"))
      .join(all1, "fp")
      .select(col("doc_id"), col("canonical_id"),
        (col("canonical_id") =!= col("doc_id")).as("is_dup")))
    assert(replay == batch1Expected, "replay must recompute against its own v-1")
  }

  test("streaming ingest with rollup keeps the MV current and exactly-once") {
    import graft.sources.{MaterializedView, Snapshots}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = s"${Roots.scratch}/streaming-spec/mv_roll"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(root))
    val base = s"$root/base"; val mv = s"$root/mv"

    val rows = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val mem = MemoryStream[(Long, String, Double)]
    val q = MaterializedView.ingestWithRollup(
      mem.toDF.toDF("l_orderkey", "l_returnflag", "l_quantity"),
      base, mv, "roll_s1", Seq("l_returnflag"), Seq("l_quantity")).start()
    try {
      for (k <- 0 until 3) {
        mem.addData(rows.filter(_._1 % 3 == k).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    // MV reflects every batch, exactly
    def mvRows() = Snapshots.read(spark, mv).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2).doubleValue())).toMap
    val expect = Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2).doubleValue())).toMap
    assert(mvRows() == expect, "rolled-up MV must equal the full recompute")
    assert(MaterializedView.refreshedThrough(mv) == Snapshots.currentVersion(base))

    // a replayed batch no-ops on BOTH tables
    import spark.implicits._
    val (vb, vm) = (Snapshots.currentVersion(base), Snapshots.currentVersion(mv))
    Snapshots.ingestBatch(rows.filter(_._1 % 3 == 1).toSeq
      .toDF("l_orderkey", "l_returnflag", "l_quantity"), base, "roll_s1", 1L)
    MaterializedView.refresh(spark, base, mv, Seq("l_returnflag"), Seq("l_quantity"))
    assert(Snapshots.currentVersion(base) == vb && Snapshots.currentVersion(mv) == vm,
      "replay must not advance either table")
    assert(mvRows() == expect)
  }

  test("streaming rollup auto re-registers: between-batch queries serve fresh from the MV") {
    import graft.plans.MvRewrite
    import graft.sources.{MaterializedView, Snapshots}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = s"${Roots.scratch}/streaming-spec/mv_roll_auto"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(root))
    val base = s"$root/base"; val mv = s"$root/mv"

    val rows = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val mem = MemoryStream[(Long, String, Double)]
    val q = MaterializedView.ingestWithRollup(
      mem.toDF.toDF("l_orderkey", "l_returnflag", "l_quantity"),
      base, mv, "roll_auto_s1", Seq("l_returnflag"), Seq("l_quantity"),
      autoRegister = true).start()
    try {
      for (k <- 0 until 3) {
        mem.addData(rows.filter(_._1 % 3 == k).toSeq: _*)
        q.processAllAvailable()
        // BETWEEN micro-batches: a matching aggregate must be served
        // from the re-registered view (the pin moved inside the same
        // foreachBatch as the refresh) ...
        val agg = Snapshots.read(spark, base)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_quantity").cast("decimal(18,2)")).as("s"))
        val plan = physicalPlan(agg)
        assert(plan.contains("/mv/") && !plan.contains("/base/"),
          s"batch $k: between-batch query must serve from the fresh MV:\n$plan")
        // ... and reflect EXACTLY the batches ingested so far — fresh,
        // never one batch behind
        val got = agg.collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2).doubleValue())).toMap
        val sofar = rows.filter(_._1 % 3 <= k)
        val want = sofar.groupBy(_._2).map { case (f, rs) =>
          f -> (rs.length.toLong,
            rs.map(r => BigDecimal(r._3).setScale(2, BigDecimal.RoundingMode.HALF_UP))
              .sum.doubleValue)
        }
        assert(got == want, s"batch $k: served aggregate must be fresh")
      }
      // the registry holds ONE pin for the table, not one per batch
      assert(MvRewrite.registry.count(_.mvTable == mv) == 1,
        "re-registration must replace the previous pin, not accumulate")
    } finally {
      q.stop()
      MvRewrite.clear()
    }
  }

  test("streaming vector ingest keeps the kNN graph current, exactly-once") {
    import graft.operators.Similarity
    import graft.sources.Snapshots
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = s"${Roots.scratch}/streaming-spec/graph_ingest"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(root))
    val vecT = s"$root/vectors"; val graphT = s"$root/graph"

    val rows = Tables.load(spark, sfDir, "embeddings")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    def edges(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Similarity.graphIngestStream(
      mem.toDF.toDF("vec_id", "embedding"), vecT, graphT, "gi_s1").start()
    try {
      for (k <- 0 until 3) {
        mem.addData(rows.filter(_._1 % 3 == k).toSeq: _*)
        q.processAllAvailable()
        // after every batch the persisted graph equals a full rebuild
        // over everything ingested so far — never more than one batch
        // behind, and correct mid-stream, not just at the end
        val want = edges(Similarity.buildGraph(Snapshots.read(spark, vecT)))
        assert(edges(Snapshots.read(spark, graphT)) == want,
          s"batch $k: maintained graph must equal the full rebuild")
      }
    } finally q.stop()

    // a replayed batch no-ops on BOTH tables
    val (vv, gv) = (Snapshots.currentVersion(vecT), Snapshots.currentVersion(graphT))
    import spark.implicits._
    Similarity.graphIngestBatch(
      rows.filter(_._1 % 3 == 1).toSeq.toDF("vec_id", "embedding"),
      vecT, graphT, "gi_s1", 1L)
    assert(Snapshots.currentVersion(vecT) == vv &&
      Snapshots.currentVersion(graphT) == gv,
      "replay must not advance either table")
  }

  test("streaming postings ingest: per-batch exactly-once, equals full recompute") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.Snapshots
    import graft.functions.TextFunctions
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val postT = s"${Roots.scratch}/streamtest/postings"
    Snapshots.deleteRecursively(postT)
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val mem = MemoryStream[(Long, String)]
    val q = TextFunctions.postingsIngestStream(
      mem.toDF.toDF("doc_id", "text"), postT, "pi_s1").start()
    try {
      for (k <- 0 until 3) {
        mem.addData(docs.filter(_._1 % 3 == k).toSeq: _*)
        q.processAllAvailable()
        // after every batch: accumulated postings == one recompute
        // over everything ingested so far (additive, never a rewrite)
        val soFar = docs.filter(_._1 % 3 <= k)
        val want = rows(TextFunctions.postingsOf(
          soFar.toSeq.toDF("doc_id", "text")))
        assert(rows(Snapshots.read(spark, postT)) == want,
          s"batch $k: streamed postings must equal the recompute")
      }
    } finally q.stop()
    // replay no-ops
    val v = Snapshots.currentVersion(postT)
    TextFunctions.postingsIngestBatch(
      docs.filter(_._1 % 3 == 1).toSeq.toDF("doc_id", "text"), postT, "pi_s1", 1L)
    assert(Snapshots.currentVersion(postT) == v, "replay must not advance the table")
  }

  test("streaming CDC merge keeps the delete-aware postings current, exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.Snapshots
    import graft.functions.TextFunctions
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = s"${Roots.scratch}/streamtest/merge_postings"
    Snapshots.deleteRecursively(root)
    val (baseT, postT) = (s"$root/docs", s"$root/postings")
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def netRows = TextFunctions
      .Postings.net(Snapshots.read(spark, postT))
      .select("term", "doc_id", "tf")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def rebuildRows = TextFunctions
      .postingsOf(Snapshots.read(spark, baseT))
      .select("term", "doc_id", "tf")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val mem = MemoryStream[(Long, String)]
    val q = TextFunctions.mergeWithPostings(
      mem.toDF.toDF("doc_id", "text"), baseT, postT, "doc_id", "mp_s1").start()
    try {
      // batch 0: bootstrap half the docs
      mem.addData(docs.filter(_._1 % 2 == 0).toSeq: _*)
      q.processAllAvailable()
      assert(netRows == rebuildRows, "after bootstrap batch")
      // batch 1: UPSERT — rewrite some existing docs' text (the
      // tombstone-netting path) and insert the other half
      val updates = docs.filter(t => t._1 % 2 == 0 && t._1 < 10)
        .map { case (id, t) => (id, t + " cdcupdated") }
      mem.addData((updates ++ docs.filter(_._1 % 2 == 1)).toSeq: _*)
      q.processAllAvailable()
      assert(netRows == rebuildRows, "after upsert batch")
      assert(netRows.exists { case (t, id, _) => t == "cdcupdated" && id < 10 })
    } finally q.stop()
    // replayed merge batch no-ops on BOTH tables: the ingest tag
    // blocks the double-apply, and the maintenance watermark is
    // already at the (unchanged) head
    val (bv, pv) = (Snapshots.currentVersion(baseT), Snapshots.currentVersion(postT))
    Snapshots.mergeBatch(docs.filter(_._1 % 2 == 0).toSeq.toDF("doc_id", "text"),
      baseT, "doc_id", "mp_s1", 0L)
    TextFunctions.postingsMaintain(spark, baseT, postT)
    assert(Snapshots.currentVersion(baseT) == bv, "merge replay must no-op")
    assert(Snapshots.currentVersion(postT) == pv, "maintenance replay must no-op")
  }

  test("stateful streaming sessionization matches batch q_events_sessionize") {
    val events = EventStreams.readEvents(spark, sfDir)
      .select("event_id", "ts", "user_id").as[EventStreams.EventRow]
    val streamed = EventStreams.runToMemory(
      EventStreams.sessionize(events).toDF(), "sessions", OutputMode.Update())
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = SparkEntry.queries("q_events_sessionize")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed == batch)
  }

  test("streaming Misra-Gries sketch keeps its guarantees across micro-batches") {
    // complete-mode global aggregate: Spark maintains the
    // TypedImperativeAggregate's serialized state in the state store,
    // merging each micro-batch's partial in — exactly the 100 TB
    // "sketch the firehose" deployment. The Misra-Gries theorems
    // (undercount-only; error <= N/(k+1); everything above the
    // threshold present) must hold after EVERY batch w.r.t. the data
    // seen so far, no matter how batches sliced the stream.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val K = 4
    val mem = MemoryStream[String]
    val agg = mem.toDF.toDF("term")
      .agg(graft.functions.Sketches.freqSketch(col("term"), K).as("sk"),
        count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("mg_stream").start()
    val batches = Seq(
      Seq.fill(30)("a") ++ Seq.fill(10)("b") ++ Seq("x", "y"),
      Seq.fill(25)("b") ++ Seq.fill(5)("c") ++ Seq("z", "x"),
      Seq.fill(40)("a") ++ Seq.fill(8)("d") ++ Seq("y", "w"))
    val seen = scala.collection.mutable.Map.empty[String, Long]
    try {
      for (b <- batches) {
        mem.addData(b: _*)
        q.processAllAvailable()
        b.foreach(t => seen(t) = seen.getOrElse(t, 0L) + 1)
        val row = spark.table("mg_stream").head()
        val n = row.getLong(1)
        assert(n == seen.values.sum, "stream count drifted")
        val est = row.getSeq[org.apache.spark.sql.Row](0)
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        for ((t, exact) <- seen) {
          val e = est.getOrElse(t, 0L)
          assert(e <= exact, s"$t overcounted: $e > $exact")
          assert(exact - e <= n / (K + 1), s"$t error bound: $exact - $e > ${n / (K + 1)}")
          if (exact > n / (K + 1))
            assert(est.contains(t), s"heavy hitter $t missing from sketch")
        }
      }
    } finally q.stop()
  }

  test("streaming HLL daily sketches: within-bound rolling estimates, replays no-op") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val skT = s"${Roots.scratch}/streaming-spec/hll_daily"
    Snapshots.deleteRecursively(skT)

    val ev = graft.operators.Events.loadEvents(spark, sfDir)
      .select(col("user_id"), col("ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val batches = ev.groupBy(t => t._1 % 3)

    val mem = MemoryStream[(Long, Long)]
    val q = EventStreams.hllDailyStream(
      mem.toDF.toDF("user_id", "ts"), skT, "hll_s1").start()
    try {
      for (k <- 0L to 2L) {
        mem.addData(batches(k).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val got = EventStreams.hllRollingServe(spark, skT).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact rolling distinct as the bound reference
    import spark.implicits._
    val ud = ev.toSeq.toDF("user_id", "ts")
      .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
      .distinct()
    val exact = ud
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("d"))
      .distinct().groupBy("d").agg(count(lit(1)).as("n"))
      .join(ud.select(col("day").as("d")).distinct(), Seq("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == exact.keySet, "serve must cover exactly the observed days")
    got.foreach { case (day, est) =>
      val ex = exact(day)
      assert(math.abs(est - ex) * 100 <= ex * 15,
        s"day $day estimate $est outside 15% of exact $ex")
    }

    // replay batch 1: no new version, serve unchanged
    val vBefore = Snapshots.currentVersion(skT)
    EventStreams.hllDailyBatch(
      batches(1L).toSeq.toDF("user_id", "ts"), skT, "hll_s1", 1L)
    assert(Snapshots.currentVersion(skT) == vBefore, "replay must not commit")
    val again = EventStreams.hllRollingServe(spark, skT).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got, "replay must not change the served estimates")
  }

  test("streaming SimHash dedup equals sequential batch-vs-prior recompute, replays no-op") {
    import graft.sources.Snapshots
    import graft.operators.Dedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = s"${Roots.scratch}/streaming-spec/simhash"
    Snapshots.deleteRecursively(root)
    val (idxT, resT) = (s"$root/idx", s"$root/res")

    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    // bootstrap = version 1: the corpus's block rows
    Snapshots.commitOverwrite(Dedup.simhashBlocksOf(corpus), idxT)
    val batches = docs.where(col("doc_id") % 10 === 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1 % 3)

    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.simhashDedupStream(
      mem.toDF.toDF("doc_id", "text"), idxT, resT, "sh_s1").start()
    try {
      for (k <- 0L to 2L) {
        mem.addData(batches(k).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "simhash", "n_candidates", "min_hamming", "is_dup")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSet
    // reference: batch k's verdicts vs corpus ∪ batches < k, recomputed
    // with no stored index anywhere
    import spark.implicits._
    var seen = corpus
    var expect = Set.empty[(Long, Long, Long, Long, Boolean)]
    for (k <- 0L to 2L) {
      val b = batches(k).toSeq.toDF("doc_id", "text")
      expect ++= key(Dedup.simhashBlocksOf(b)
        .join(Dedup.simhashBlocksOf(seen)
          .toDF("i_id", "i_sh", "block", "blockval"), Seq("block", "blockval"))
        .where(col("i_id") =!= col("doc_id"))
        .select(col("doc_id"), col("simhash"), col("i_id"), col("i_sh")).distinct()
        .withColumn("hamming", expr("bit_count(simhash ^ i_sh)").cast("long"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_candidates"), min(col("hamming")).as("min_hamming"))
        .join(Dedup.simhashBlocksOf(b).select("doc_id", "simhash").distinct(),
          Seq("doc_id"), "right")
        .na.fill(Map("n_candidates" -> 0L, "min_hamming" -> 99L))
        .withColumn("is_dup", col("min_hamming") <= 3L))
      seen = seen.unionAll(b)
    }
    val got = key(Snapshots.read(spark, resT))
    assert(got == expect, s"index-served stream diverged: ${got.size} vs ${expect.size}")

    // replay batch 1 after batch 2 committed: same verdicts, no new version
    val vBefore = Snapshots.currentVersion(idxT)
    val replay = key(Dedup.simhashBatchIncremental(
      batches(1L).toSeq.toDF("doc_id", "text"), idxT, "sh_s1", 1L))
    assert(Snapshots.currentVersion(idxT) == vBefore, "replay must not commit")
    val b1Expected = expect.filter(t => batches(1L).exists(_._1 == t._1))
    assert(replay == b1Expected, "replay must recompute against its own v-1")
  }

  test("streaming concurrency MV equals the batch sweep after N batches, replays no-op") {
    import graft.sources.Snapshots
    import graft.operators.Events
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = s"${Roots.scratch}/streaming-spec/concmv"
    Snapshots.deleteRecursively(root)
    val (baseT, mvT) = (s"$root/base", s"$root/mv")
    val rows = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(cast(ts as timestamp)) div 1000000").as("sec"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val batches = rows.groupBy(_._2 % 3)

    val mem = MemoryStream[(Long, Long, Long)]
    val q = EventStreams.concurrencyMaintainStream(
      mem.toDF.toDF("user_id", "event_id", "sec"), baseT, mvT, "conc_s1").start()
    try {
      for (k <- 0L to 2L) {
        mem.addData(batches(k).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    def rep(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rep(Events.concurrencyServe(spark, mvT)) ==
      rep(SparkEntry.queries("q_events_concurrency")(spark, sfDir)),
      "stream-maintained MV diverged from the batch sweep")

    // replay batch 1: no commits anywhere, serve unchanged
    import spark.implicits._
    val (vb, vm) = (Snapshots.currentVersion(baseT), Snapshots.currentVersion(mvT))
    val before = rep(Events.concurrencyServe(spark, mvT))
    Snapshots.ingestBatch(
      batches(1L).toSeq.toDF("user_id", "event_id", "sec"), baseT, "conc_s1", 1L)
    Events.concurrencyRefresh(spark, baseT, mvT)
    assert(Snapshots.currentVersion(baseT) == vb && Snapshots.currentVersion(mvT) == vm,
      "replay must not commit")
    assert(rep(Events.concurrencyServe(spark, mvT)) == before)
  }

  test("streaming BM25 maintenance equals bootstrap rebuild, folds out-of-band DML, replays no-op") {
    import graft.sources.Snapshots
    import graft.functions.TextFunctions
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = s"${Roots.scratch}/streaming-spec/bm25"
    Snapshots.deleteRecursively(root)
    val (baseT, postT, dlT, totT) =
      (s"$root/docs", s"$root/postings", s"$root/doclen", s"$root/totals")

    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val batches = rows.groupBy(_._1 % 3) // 3 deterministic micro-batches

    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.bm25MaintainStream(
      mem.toDF.toDF("doc_id", "text"), baseT, postT, dlT, totT, "bm25_s1").start()
    try {
      for (k <- 0L to 2L) {
        mem.addData(batches(k).toSeq: _*)
        q.processAllAvailable()
        // out-of-band DML between batches: the NEXT batch's
        // maintenance pass must fold the delete as tombstone deltas
        if (k == 0L)
          Snapshots.deleteWhere(spark, baseT, pmod(col("doc_id"), lit(7)) === 0)
      }
    } finally q.stop()

    def served(pT: String, dT: String, tT: String) =
      TextFunctions.bm25ServeNet(spark, pT, dT, tT).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = served(postT, dlT, totT)

    // reference: one bootstrap fold over the final LIVE corpus — all
    // docs except the batch-0 slice the deleteWhere removed
    val live = docs.where(!(pmod(col("doc_id"), lit(3)) === 0 &&
      pmod(col("doc_id"), lit(7)) === 0))
    val refRoot = s"$root/ref"
    val (rBase, rPost, rDl, rTot) =
      (s"$refRoot/docs", s"$refRoot/postings", s"$refRoot/doclen", s"$refRoot/totals")
    Snapshots.commitOverwrite(live, rBase)
    TextFunctions.bm25Maintain(spark, rBase, rPost, rDl, rTot)
    val expect = served(rPost, rDl, rTot)
    assert(got == expect,
      s"stream-maintained BM25 diverged from rebuild: ${got.size} vs ${expect.size}")

    // replay batch 1 after batch 2 committed: no new versions anywhere,
    // serve unchanged (ingest tag dedups the append; unchanged base
    // version leaves every maintenance watermark in place)
    import spark.implicits._
    val vBase = Snapshots.currentVersion(baseT)
    val vPost = Snapshots.currentVersion(postT)
    Snapshots.ingestBatch(
      batches(1L).toSeq.toDF("doc_id", "text"), baseT, "bm25_s1", 1L)
    TextFunctions.bm25Maintain(spark, baseT, postT, dlT, totT)
    assert(Snapshots.currentVersion(baseT) == vBase, "replay must not commit base")
    assert(Snapshots.currentVersion(postT) == vPost, "replay must not re-fold")
    assert(served(postT, dlT, totT) == got, "replay must not change serving")
  }

  test("streamed erasure requests fold through the registry exactly-once; serve equals live rebuild") {
    import graft.sources.{IndexRegistry, Snapshots}
    import graft.functions.TextFunctions
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.operators.Forget.registerBuiltins()
    val root = s"${Roots.scratch}/streaming-spec/forget"
    Snapshots.deleteRecursively(root)
    val baseT = s"$root/docs"
    val (postT, dlT, totT) =
      (s"$root/postings", s"$root/doclen", s"$root/totals")
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    Snapshots.commitOverwrite(docs, baseT)
    IndexRegistry.attach(baseT, "bm25", Seq(postT, dlT, totT))
    IndexRegistry.maintainAll(spark, baseT)

    // two erasure micro-batches through the STREAM wrapper
    val b0 = docs.where(pmod(col("doc_id"), lit(5)) === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val b1 = docs.where(pmod(col("doc_id"), lit(11)) === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val mem = MemoryStream[Long]
    val q = IndexRegistry.forgetStream(
      mem.toDF.toDF("doc_id"), baseT, "doc_id", "forget_s1").start()
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()

    def served(pT: String, dT: String, tT: String) =
      TextFunctions.bm25ServeNet(spark, pT, dT, tT).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = served(postT, dlT, totT)

    // reference: one bootstrap fold over the twice-erased live corpus
    val live = docs.where(pmod(col("doc_id"), lit(5)) =!= 0 &&
      pmod(col("doc_id"), lit(11)) =!= 0)
    val refRoot = s"$root/ref"
    Snapshots.commitOverwrite(live, s"$refRoot/docs")
    TextFunctions.bm25Maintain(spark, s"$refRoot/docs",
      s"$refRoot/postings", s"$refRoot/doclen", s"$refRoot/totals")
    val expect = served(s"$refRoot/postings", s"$refRoot/doclen", s"$refRoot/totals")
    assert(got == expect,
      s"stream-erased BM25 diverged from live rebuild: ${got.size} vs ${expect.size}")

    // replay batch 0 after batch 1 committed (the foreachBatch retry):
    // the tagged delete no-ops, no watermark moves, serve unchanged —
    // a BLIND replay would have resurrected batch 1's erased docs by
    // overwriting with stale content
    val vBase = Snapshots.currentVersion(baseT)
    val vPost = Snapshots.currentVersion(postT)
    IndexRegistry.forgetBatch(spark, baseT,
      col("doc_id").isin(b0: _*), "forget_s1", 0L)
    assert(Snapshots.currentVersion(baseT) == vBase, "replay must not re-delete")
    assert(Snapshots.currentVersion(postT) == vPost, "replay must not re-fold")
    assert(served(postT, dlT, totT) == got, "replay must not change serving")
  }

  test("streamed CASCADING erasure through a real stream: fan-out per batch, serve equals one-shot cascade") {
    import graft.operators.Forget
    import graft.sources.{IndexRegistry, Snapshots}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (ordersT, root) = Forget.relationalBootstrap(spark, sfDir, tag = "_casmem")
    val custT = s"$root/customer"
    def keysOf(m: Int, r: Int) = Snapshots.read(spark, custT)
      .where(pmod(col("custkey"), lit(m)) === r)
      .select("custkey").collect().map(_.getAs[Number](0).longValue).toSeq
    val (b0, b1) = (keysOf(23, 4), keysOf(29, 6))
    val mem = MemoryStream[Long]
    val q = IndexRegistry.forgetCascadeStream(
      mem.toDF.toDF("custkey"), custT, "custkey", "custkey",
      Seq(ordersT -> "custkey"), "casmem_s1").start()
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(r: String) = Forget.relationalServe(spark, r).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    val got = rows(root)
    // reference: ONE cascade of the union on a fresh bootstrap
    val (refOrders, refRoot) = Forget.relationalBootstrap(spark, sfDir, tag = "_casmemref")
    IndexRegistry.forgetCascade(spark, s"$refRoot/customer",
      col("custkey").isin((b0 ++ b1): _*), "custkey",
      Seq(refOrders -> "custkey"))
    assert(got == rows(refRoot),
      "streamed cascade diverged from the one-shot cascade of the union")
    // replay batch 0 (the foreachBatch retry): no table re-commits
    val heads = Seq(custT, ordersT).map(t => t -> Snapshots.currentVersion(t))
    IndexRegistry.forgetCascadeBatch(spark, custT, "custkey", b0,
      Seq(ordersT -> "custkey"), "casmem_s1", 0L)
    heads.foreach { case (t, v) =>
      assert(Snapshots.currentVersion(t) == v, s"replayed cascade re-committed $t")
    }
  }

  test("streamed re-crawl (upsert) folds through the registry; serve equals rebuild, replay no-ops") {
    import graft.sources.{IndexRegistry, Snapshots}
    import graft.functions.TextFunctions
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.operators.Forget.registerBuiltins()
    val root = s"${Roots.scratch}/streaming-spec/recrawl"
    Snapshots.deleteRecursively(root)
    val baseT = s"$root/docs"
    val (postT, dlT, totT) = (s"$root/postings", s"$root/doclen", s"$root/totals")
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    Snapshots.commitOverwrite(docs, baseT)
    IndexRegistry.attach(baseT, "bm25", Seq(postT, dlT, totT))
    IndexRegistry.maintainAll(spark, baseT)

    // a REAL stream of keyed content rewrites: batch 0 re-crawls the
    // %4 slice, batch 1 re-crawls the %6 slice (overlap %12 —
    // batch-1-wins) and discovers brand-new docs (%9 clones)
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val b0 = rows.filter(_._1 % 4 == 0).map { case (id, t) => (id, t + " ra") }.toSeq
    val b1 = (rows.filter(_._1 % 6 == 0).map { case (id, t) => (id, t + " rb") } ++
      rows.filter(_._1 % 9 == 0).map { case (id, t) => (id + 500000L, "fresh " + t) }).toSeq
    val mem = MemoryStream[(Long, String)]
    val q = IndexRegistry.recrawlStream(
      mem.toDF.toDF("doc_id", "text"), baseT, "doc_id", "recrawl_s1").start()
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()

    def served(pT: String, dT: String, tT: String) =
      TextFunctions.bm25ServeNet(spark, pT, dT, tT).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = served(postT, dlT, totT)

    // reference: bootstrap fold over the batch-order-merged corpus
    import spark.implicits._
    val merged = rows.map { case (id, t) =>
      if (id % 6 == 0) (id, t + " rb")
      else if (id % 4 == 0) (id, t + " ra")
      else (id, t)
    }.toSeq ++ rows.filter(_._1 % 9 == 0).map { case (id, t) => (id + 500000L, "fresh " + t) }
    val refRoot = s"$root/ref"
    Snapshots.commitOverwrite(merged.toDF("doc_id", "text"), s"$refRoot/docs")
    TextFunctions.bm25Maintain(spark, s"$refRoot/docs",
      s"$refRoot/postings", s"$refRoot/doclen", s"$refRoot/totals")
    val expect = served(s"$refRoot/postings", s"$refRoot/doclen", s"$refRoot/totals")
    assert(got == expect,
      s"stream-recrawled BM25 diverged from rebuild: ${got.size} vs ${expect.size}")

    // replay batch 0 after batch 1 committed: the tagged merge no-ops
    // — a BLIND re-merge would clobber batch 1's %12-overlap rewrites
    // with stale batch-0 text — and no maintenance watermark moves
    val vBase = Snapshots.currentVersion(baseT)
    val vPost = Snapshots.currentVersion(postT)
    IndexRegistry.recrawlBatch(b0.toDF("doc_id", "text"), baseT, "doc_id", "recrawl_s1", 0L)
    assert(Snapshots.currentVersion(baseT) == vBase, "replay must not re-merge")
    assert(Snapshots.currentVersion(postT) == vPost, "replay must not re-fold")
    assert(served(postT, dlT, totT) == got, "replay must not change serving")
  }

  test("streamed sketch rollup: register folds equal one-shot recompute, replay no-ops") {
    import graft.sources.{MaterializedView, Snapshots}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = s"${Roots.scratch}/streaming-spec/sketchmv"
    Snapshots.deleteRecursively(root)
    val (baseT, mvT) = (s"$root/base", s"$root/mv")
    val ev = graft.operators.Events.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
    val rows = ev.collect().map(r => (r.getLong(0), r.getLong(1)))
    val batches = rows.groupBy { case (u, _) => u % 3 }

    val mem = MemoryStream[(Long, Long)]
    val q = MaterializedView.ingestWithSketchRollup(
      mem.toDF.toDF("user_id", "day"), baseT, mvT, "sk_s1", Seq("day"), "user_id",
      autoRegister = true).start()
    try {
      for (k <- 0L to 2L) { mem.addData(batches(k).toSeq: _*); q.processAllAvailable() }
    } finally q.stop()

    def est(df: org.apache.spark.sql.DataFrame) =
      df.select(col("day"), expr("hll_sketch_estimate(sk)").as("e"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(est(Snapshots.read(spark, mvT)) ==
      est(ev.groupBy("day").agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))),
      "stream-folded sketch view diverged from one-shot recompute")

    // the auto-registered sketch pin serves a BETWEEN-BATCHES query
    // from the stored registers, optimizer-routed off the base scan
    try {
      val daily = Snapshots.read(spark, baseT).groupBy("day")
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("e"))
      daily.collect()
      val plan = daily.queryExecution.executedPlan.toString
      assert(plan.contains("/mv/") && !plan.contains("/base/"),
        s"between-batches aggregate not served from the sketch view:\n$plan")
    } finally graft.plans.MvRewrite.clear()

    // replay batch 1: no commits anywhere, serve unchanged
    import spark.implicits._
    val (vb, vm) = (Snapshots.currentVersion(baseT), Snapshots.currentVersion(mvT))
    Snapshots.ingestBatch(batches(1L).toSeq.toDF("user_id", "day"), baseT, "sk_s1", 1L)
    MaterializedView.sketchRefresh(spark, baseT, mvT, Seq("day"), "user_id")
    assert(Snapshots.currentVersion(baseT) == vb && Snapshots.currentVersion(mvT) == vm,
      "replay must not commit")
  }
}
