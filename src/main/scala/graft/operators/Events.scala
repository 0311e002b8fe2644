package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.Portable

/** Event-stream analytics in batch form (SURVEY §2.2 rows 33–34).
  * These are the DuckDB-checkable batch equivalents of the Structured
  * Streaming pipelines in [[graft.streaming.EventStreams]] — same
  * grouping logic, same results on a static table.
  *
  * Scale notes: the tumbling-window aggregate shuffles only (window,
  * event_type) partial states; sessionization shuffles once on
  * user_id and computes per-user windows in a single sort within
  * each partition — the batch analog of `flatMapGroupsWithState`.
  */
object Events {

  /** The events table has shipped with two physical `ts` encodings:
    * TIMESTAMP(NANOS), which Spark only reads as a raw nanosecond Long
    * (legacy conf), and plain TIMESTAMP(MICROS)/NTZ. Normalize at load
    * to the nanosecond-Long form so every downstream epoch derivation
    * is ONE exact integer division (`ts div 1e9` — exact on Long;
    * double division would lose precision at 1e18 magnitudes). An NTZ
    * value is interpreted at the session zone (UTC everywhere in this
    * project), matching DuckDB's naive `epoch(ts)`. Identical values.
    */
  def loadEvents(s: SparkSession, dir: String): DataFrame = events(s, dir)

  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    // The NTZ→epoch cast below interprets naive timestamps at the
    // SESSION zone; DuckDB's naive epoch(ts) is zone-free (UTC), and a
    // TIMESTAMP(NANOS) `ts` reads as a Long only under the legacy
    // flag. GraftSession.create sets both; enforce them here so a
    // session built elsewhere fails loudly instead of silently
    // shifting every derived epoch (or failing the nanos read).
    val zone = s.conf.get("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID)
    require(zone == "UTC",
      s"graft.Events requires spark.sql.session.timeZone=UTC (got $zone): " +
        "naive-timestamp epoch derivation is zone-sensitive")
    require(s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
      "graft.Events requires spark.sql.legacy.parquet.nanosAsLong=true " +
        "(set by GraftSession.create): TIMESTAMP(NANOS) reads as a Long only under it")
    val df = Tables.load(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ => // timestamp[us] / timestamp_ntz[us]
        df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
    }
  }

  private val sec = expr("ts div 1000000000")

  /** §2.2 row 33 — tumbling 1-hour window aggregate. */
  val window1h: QueryDef = QueryDef(
    "q_events_window",
    (s, dir) => events(s, dir)
      .groupBy(
        (floor(sec / 3600.0).cast("long") * 3600).as("window_start_s"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        Portable.dsum(col("value")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users")),
    Some(s"""SELECT CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 3600.0) AS BIGINT) * 3600 AS window_start_s,
             event_type, COUNT(*) AS n_events,
             ${Portable.sql.dsum("value")} AS sum_value,
             COUNT(DISTINCT user_id) AS n_users
             FROM events GROUP BY 1, 2"""))

  /** §2.2 row 34 — sessionization with a 30-minute inactivity gap:
    * per-user event counts and session counts.
    */
  val sessionize: QueryDef = QueryDef(
    "q_events_sessionize",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("sec"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"), sec.as("sec"))
        .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          sum(when(col("gap").isNull || col("gap") > 1800, 1).otherwise(0))
            .as("n_sessions"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events),
            l AS (SELECT user_id,
                    sec - LAG(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS gap
                  FROM e)
            SELECT user_id, COUNT(*) AS n_events,
                   CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
            FROM l GROUP BY user_id"""))

  /** SESSION PATH analysis — the clickstream navigation report next to
    * [[sessionize]]'s counts: per 30-minute-gap session, the ordered
    * sequence of its first 5 event types joined as a path string
    * ("view>click>view…"), rolled up to the top-10 most common paths.
    * The product question ("how do sessions actually start?") that
    * funnels (fixed steps) and Markov chains (memoryless pairs) both
    * miss — full ordered prefixes, exact counts.
    *
    * Scale shape: sessionization runs in per-user windows (the
    * [[sessionize]] shape); per-session aggregation collects ≤
    * session-length structs inside each group and truncates to 5; the
    * path rollup keys on a bounded vocabulary (≤ |event types|⁵
    * prefixes) and the top-10 plans as TakeOrdered — no global sort of
    * the session frame. Path order is total via (sec, event_id), so
    * both engines assemble identical strings.
    */
  val sessionPaths: QueryDef = QueryDef(
    "q_events_paths",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("sec"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"), sec.as("sec"))
        .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
        .withColumn("new_s",
          when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
        .withColumn("sid", sum(col("new_s")).over(wRun))
        .groupBy("user_id", "sid")
        .agg(slice(transform(
          array_sort(collect_list(struct(col("sec"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), 1, 5).as("types"))
        .select(concat_ws(">", col("types")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(10)
    },
    Some("""WITH e AS (SELECT user_id, event_id, event_type,
              CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events),
          g AS (SELECT user_id, event_id, event_type, sec,
              CASE WHEN sec - LAG(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
                  IS NULL
                OR sec - LAG(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
                  > 1800 THEN 1 ELSE 0 END AS new_s
            FROM e),
          sid AS (SELECT user_id, event_id, event_type, sec,
              SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM g),
          p AS (SELECT user_id, sid,
              list(event_type ORDER BY sec, event_id)[1:5] AS types
            FROM sid GROUP BY 1, 2),
          pp AS (SELECT array_to_string(types, '>') AS path FROM p)
          SELECT path, COUNT(*) AS n_sessions FROM pp GROUP BY 1
          ORDER BY n_sessions DESC, path LIMIT 10"""))

  /** §2.2 — as-of join: each purchase event matched to the user's
    * latest signup event at or before it (point-in-time feature
    * lookup). Oracle: DuckDB's native ASOF LEFT JOIN.
    */
  val asofJoin: QueryDef = QueryDef(
    "q_asof_join",
    (s, dir) => {
      val e = events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), sec.as("sec"))
      val purchases = e.where(col("event_type") === "purchase").drop("event_type")
      val signups = e.where(col("event_type") === "signup")
        .select(col("user_id"), col("sec"))
      AsOfJoin.asOf(purchases, signups, "user_id", "sec")
        .withColumnRenamed("asof_sec", "signup_sec")
    },
    Some("""WITH e AS (SELECT event_id, user_id, event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events),
            l AS (SELECT event_id, user_id, sec FROM e WHERE event_type = 'purchase'),
            r AS (SELECT user_id, sec FROM e WHERE event_type = 'signup')
            SELECT l.event_id, l.user_id, l.sec, r.sec AS signup_sec
            FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.sec >= r.sec"""))

  /** NEAREST-direction as-of join (pandas `merge_asof
    * direction='nearest'`) — the sensor-alignment primitive backward
    * as-of cannot express (a reading logged just AFTER the example
    * can be the honest nearest state): each purchase joins the view
    * second minimizing |Δt| for the user, ties to the earlier side,
    * with the signed gap and which side won. Same one-shuffle
    * union-window shape as [[asofJoin]] with one backward and one
    * forward window ([[AsOfJoin.asOfNearest]]).
    */
  val asofNearest: QueryDef = QueryDef(
    "q_asof_nearest",
    (s, dir) => {
      val e = events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), sec.as("sec"))
      val purchases = e.where(col("event_type") === "purchase").drop("event_type")
      val views = e.where(col("event_type") === "view")
        .select(col("user_id"), col("sec"))
      AsOfJoin.asOfNearest(purchases, views, "user_id", "sec")
        .withColumnRenamed("asof_sec", "nearest_view_sec")
        .withColumn("gap_s", col("nearest_view_sec") - col("sec"))
        .withColumn("side",
          when(col("nearest_view_sec").isNull, "none")
            .when(col("gap_s") === 0L, "exact")
            .when(col("gap_s") < 0L, "before").otherwise("after"))
    },
    Some("""WITH e AS (SELECT event_id, user_id, event_type,
              CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events),
            l AS (SELECT event_id, user_id, sec FROM e WHERE event_type = 'purchase'),
            r AS (SELECT user_id, sec FROM e WHERE event_type = 'view'),
            p AS (SELECT l.event_id, l.user_id, l.sec,
                MAX(r.sec) FILTER (r.sec <= l.sec) AS prev,
                MIN(r.sec) FILTER (r.sec >= l.sec) AS nxt
              FROM l LEFT JOIN r ON r.user_id = l.user_id
              GROUP BY 1, 2, 3),
            n AS (SELECT event_id, user_id, sec,
                CASE WHEN prev IS NULL THEN nxt WHEN nxt IS NULL THEN prev
                  WHEN sec - prev <= nxt - sec THEN prev ELSE nxt END
                  AS nearest_view_sec
              FROM p)
            SELECT event_id, user_id, sec, nearest_view_sec,
              nearest_view_sec - sec AS gap_s,
              CASE WHEN nearest_view_sec IS NULL THEN 'none'
                WHEN nearest_view_sec = sec THEN 'exact'
                WHEN nearest_view_sec < sec THEN 'before'
                ELSE 'after' END AS side
            FROM n"""))

  /** AS-OF join with a STALENESS budget — the feature-freshness SLA
    * audit on top of [[asofJoin]]'s mechanism: each purchase joins the
    * user's latest prior `view` (the "feature state" a training
    * pipeline would backfill), and the report buckets the staleness
    * gap (≤60 s / ≤10 min / ≤1 h / stale / missing) with min/max gap
    * per bucket — the table that tells a feature-store owner whether
    * point-in-time-correct training data is actually FRESH enough to
    * serve. Same one-shuffle union-window as-of shape; the rollup is
    * 5 rows.
    */
  val asofTolerance: QueryDef = QueryDef(
    "q_asof_tolerance",
    (s, dir) => {
      val e = events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), sec.as("sec"))
      val purchases = e.where(col("event_type") === "purchase").drop("event_type")
      val views = e.where(col("event_type") === "view")
        .select(col("user_id"), col("sec"))
      AsOfJoin.asOf(purchases, views, "user_id", "sec")
        .withColumn("gap_s", col("sec") - col("asof_sec"))
        .withColumn("bucket",
          when(col("gap_s") <= 60, "le_60s")
            .when(col("gap_s") <= 600, "le_10m")
            .when(col("gap_s") <= 3600, "le_1h")
            .when(col("gap_s").isNotNull, "stale")
            .otherwise("missing"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min(col("gap_s")).as("min_gap_s"),
          max(col("gap_s")).as("max_gap_s"))
    },
    Some("""WITH e AS (SELECT event_id, user_id, event_type,
              CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events),
            l AS (SELECT event_id, user_id, sec FROM e WHERE event_type = 'purchase'),
            r AS (SELECT user_id, sec FROM e WHERE event_type = 'view'),
            j AS (SELECT l.event_id, l.sec - r.sec AS gap_s
              FROM l ASOF LEFT JOIN r
                ON l.user_id = r.user_id AND l.sec >= r.sec),
            b AS (SELECT CASE WHEN gap_s <= 60 THEN 'le_60s'
                WHEN gap_s <= 600 THEN 'le_10m'
                WHEN gap_s <= 3600 THEN 'le_1h'
                WHEN gap_s IS NOT NULL THEN 'stale'
                ELSE 'missing' END AS bucket, gap_s FROM j)
            SELECT bucket, COUNT(*) AS n, MIN(gap_s) AS min_gap_s,
              MAX(gap_s) AS max_gap_s
            FROM b GROUP BY 1"""))

  /** Semi-structured columns: JSON property extraction from the events
    * `props` payload — map-side `get_json_object`, aggregated by the
    * extracted key. (At scale: parse once into a struct column with
    * `from_json` + schema, then prune.)
    */
  val jsonExtract: QueryDef = QueryDef(
    "q_json_extract",
    (s, dir) => events(s, dir)
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("value"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"), Portable.dsum(col("value")).as("sum_value")),
    Some(s"""SELECT CAST(json_extract(props, '$$.k') AS BIGINT) AS k,
             COUNT(*) AS n, ${Portable.sql.dsum("value")} AS sum_value
             FROM events GROUP BY 1"""))

  /** Funnel / conversion analysis — the ordered-sequence shape of
    * product analytics: per user, the first signup, the first purchase
    * STRICTLY AFTER it, and the conversion delay, rolled up into one
    * summary row per conversion-hour bucket. Two conditional
    * aggregations + one join on user_id; no self-join of the event
    * log against itself and no per-user subqueries — at scale this is
    * two shuffles of per-user scalars.
    */
  val funnel: QueryDef = QueryDef(
    "q_events_funnel",
    (s, dir) => {
      val e = events(s, dir)
      val signups = e.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(sec).as("t_signup"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), sec.as("t"))
      // the time condition belongs in the JOIN, not a post-filter: a
      // user whose purchases all precede signup must survive as
      // unconverted (t_conv null), not vanish
      val conv = signups.join(purchases,
          col("user_id") === col("p_user") && col("t") > col("t_signup"), "left")
        .groupBy("user_id", "t_signup").agg(min(col("t")).as("t_conv"))
      conv.groupBy(
          when(col("t_conv").isNull, -1L)
            .otherwise(floor((col("t_conv") - col("t_signup")) / 3600.0)
              .cast("long")).as("hours_to_convert"))
        .agg(count(lit(1)).as("n_users"))
    },
    Some("""WITH s AS (SELECT user_id, MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS t_signup
              FROM events WHERE event_type = 'signup' GROUP BY user_id),
            p AS (SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t
              FROM events WHERE event_type = 'purchase'),
            conv AS (SELECT s.user_id, s.t_signup, MIN(p.t) AS t_conv
              FROM s LEFT JOIN p ON s.user_id = p.user_id AND p.t > s.t_signup
              GROUP BY s.user_id, s.t_signup)
            SELECT CASE WHEN t_conv IS NULL THEN -1
                   ELSE CAST(FLOOR((t_conv - t_signup) / 3600.0) AS BIGINT) END
                     AS hours_to_convert,
              COUNT(*) AS n_users
            FROM conv GROUP BY 1"""))

  /** Cohort / retention analysis — the signup-week × activity-week
    * matrix: users are grouped into cohorts by the week of their first
    * signup, and each (cohort_week, week_offset) cell counts the
    * distinct cohort members active in that week. Two aggregations and
    * one join, all keyed on user_id or (cohort, week) scalars — the
    * event log shuffles once into per-user firsts and once into
    * per-(user, week) activity flags, never row-by-row. At 100 TB both
    * shuffles carry per-user/per-cell scalars, not events.
    */
  val retention: QueryDef = QueryDef(
    "q_events_retention",
    (s, dir) => {
      val e = events(s, dir)
      val signups = e.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(sec).as("t_signup"))
        .withColumn("cohort_wk", floor(col("t_signup") / 604800.0).cast("long"))
      // distinct active weeks per signed-up user, at-or-after signup
      val active = e.select(col("user_id").as("a_user"), sec.as("t"))
        .join(signups, col("a_user") === col("user_id") && col("t") >= col("t_signup"))
        .select(col("user_id"), col("cohort_wk"),
          (floor(col("t") / 604800.0).cast("long") - col("cohort_wk")).as("week_offset"))
      active.groupBy("cohort_wk", "week_offset")
        .agg(countDistinct(col("user_id")).as("n_users"))
    },
    Some("""WITH s AS (SELECT user_id, MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS t_signup
              FROM events WHERE event_type = 'signup' GROUP BY user_id),
            c AS (SELECT user_id, t_signup,
                    CAST(FLOOR(t_signup / 604800.0) AS BIGINT) AS cohort_wk FROM s),
            a AS (SELECT c.user_id, c.cohort_wk,
                    CAST(FLOOR(CAST(FLOOR(epoch(e.ts)) AS BIGINT) / 604800.0) AS BIGINT)
                      - c.cohort_wk AS week_offset
                  FROM events e JOIN c ON e.user_id = c.user_id
                  WHERE CAST(FLOOR(epoch(e.ts)) AS BIGINT) >= c.t_signup)
            SELECT cohort_wk, week_offset, COUNT(DISTINCT user_id) AS n_users
            FROM a GROUP BY 1, 2"""))

  /** Windowed anomaly detection — the ops-monitoring shape: hourly
    * event counts per type, z-scored against that type's own
    * distribution, |z| > 2 flagged. The z-score is computed from
    * EXACT integer moments (n·x − Σx over √(n·(n·Σx² − (Σx)²)/(n−1)),
    * all integers ≤ 2^53 before the one IEEE divide+sqrt), so both
    * engines produce bit-identical scores — no Welford-vs-naive
    * variance drift. The ≤ 2^53 claim is a GUARDED precondition, not an
    * assumption: per-type moment bounds are checked on the tiny stats
    * side and raise instead of silently corrupting (see inline note). One windowed count + one tiny per-type moment
    * aggregate (broadcast back); the log shuffles once.
    */
  val anomaly: QueryDef = QueryDef(
    "q_events_anomaly",
    (s, dir) => {
      val hourly = events(s, dir)
        .groupBy((floor(sec / 3600.0).cast("long") * 3600).as("window_start_s"),
          col("event_type"))
        .agg(count(lit(1)).as("x"))
      val stats = hourly.groupBy(col("event_type").as("t"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .where(col("n") > 1)
      // exactness PRECONDITION of the integer-moment arithmetic below:
      // n·sx ≤ 2^53 (covers the numerator, since x ≤ sx), n²·sxx ≤ 2^53
      // (covers the denominator — n·(n·sxx − sx²) ≤ n²·sxx), and
      // sx ≤ 3·10^9 (so sx² stays inside Long). Violations RAISE on the
      // tiny per-type stats side instead of silently corrupting
      // z-scores; at the documented 100 TB shape (many huge hourly
      // windows) the caller must pre-aggregate or widen to decimal.
      val twoTo53 = 9007199254740992.0
      val exactOk = col("n").cast("double") * col("sx").cast("double") <= twoTo53 &&
        col("n").cast("double") * col("n").cast("double") *
          col("sxx").cast("double") <= twoTo53 &&
        col("sx").cast("double") <= 3.0e9
      val guarded = stats.select(col("t"), col("n"), col("sx"),
        when(exactOk, col("sxx")).otherwise(raise_error(concat(
          lit("q_events_anomaly: integer moments exceed the exact-double "
            + "bound (n*sx<=2^53, n^2*sxx<=2^53, sx<=3e9) for event_type "),
          col("t")))).as("sxx"))
      hourly.join(broadcast(guarded), col("event_type") === col("t"))
        .select(col("window_start_s"), col("event_type"), col("x").as("n_events"),
          ((col("n") * col("x") - col("sx")).cast("double") /
            sqrt((col("n") * (col("n") * col("sxx") - col("sx") * col("sx")))
              .cast("double") / (col("n") - 1).cast("double"))).as("z"))
        .withColumn("is_anomaly", abs(col("z")) > 2.0)
    },
    Some("""WITH hourly AS (
              SELECT CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 3600.0) AS BIGINT) * 3600
                       AS window_start_s,
                     event_type, COUNT(*) AS x
              FROM events GROUP BY 1, 2),
            st AS (SELECT event_type AS t, COUNT(*) AS n,
                     CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x*x) AS BIGINT) AS sxx
                   FROM hourly GROUP BY 1 HAVING COUNT(*) > 1)
            SELECT window_start_s, event_type, x AS n_events,
              CAST(n*x - sx AS DOUBLE) /
                SQRT(CAST(n*(n*sxx - sx*sx) AS DOUBLE) / (n - 1)) AS z,
              (ABS(CAST(n*x - sx AS DOUBLE) /
                SQRT(CAST(n*(n*sxx - sx*sx) AS DOUBLE) / (n - 1))) > 2.0) AS is_anomaly
            FROM hourly JOIN st ON event_type = t"""))

  /** Sequence-pattern detection (the MATCH_RECOGNIZE shape): each
    * user's event history becomes one ordered letter string (C/E/P/S/V
    * by ts, event_id tie-break), and regexes count behavioral motifs —
    * conversions `V[CE]*P` (a view leading to a purchase with only
    * clicks/errors between) and error bursts `EE+` (non-overlapping
    * runs of ≥ 2). Both engines' regex engines agree on these
    * anchored-alphabet patterns (no dialect-divergent syntax), so the
    * counts are oracle-exact.
    *
    * Scale shape: ONE shuffle on user_id; each group's string is
    * bounded by that user's own activity (the sessionize bound — per-
    * user history fits an executor; a pathological single-entity
    * history would shard by (user, day) first). The regex pass is
    * per-group map work, no second shuffle.
    */
  val pattern: QueryDef = QueryDef(
    "q_events_pattern",
    (s, dir) => PatternQueries.matchPattern(events(s, dir),
      Seq("n_conv" -> "V[CE]*P", "n_bursts" -> "EE+")),
    Some(PatternQueries.motifOracleSql(
      Seq("n_conv" -> "V[CE]*P", "n_bursts" -> "EE+"))))

  /** Abandoned-cart motif on the same surface: a view leading into
    * clicks that never reach a purchase before the history ends
    * (`VC+[^P]*$` — dialect-safe: no lookahead, which RE2 lacks).
    */
  val patternCart: QueryDef = QueryDef(
    "q_events_pattern_cart",
    (s, dir) => PatternQueries.matchPattern(events(s, dir),
      Seq("n_abandon" -> "VC+[^P]*$")),
    Some(PatternQueries.motifOracleSql(Seq("n_abandon" -> "VC+[^P]*$"))))

  /** Retry-storm motifs: hard storms (≥3 consecutive errors) and
    * recovered bursts (an error run that ends in a click).
    */
  val patternRetry: QueryDef = QueryDef(
    "q_events_pattern_retry",
    (s, dir) => PatternQueries.matchPattern(events(s, dir),
      Seq("n_storms" -> "E{3,}", "n_recovered" -> "EE+C")),
    Some(PatternQueries.motifOracleSql(
      Seq("n_storms" -> "E{3,}", "n_recovered" -> "EE+C"))))

  /** Windowed top-k (trending items): per hour, the 2 busiest event
    * types with deterministic tie-break — the dashboard/feed-ranking
    * shape. Rank runs over the PRE-AGGREGATED hourly counts (windows ×
    * types rows, map-side combined), never the raw log, so the window
    * sort input is tiny at any corpus scale; the one full shuffle is
    * the hourly count itself.
    */
  val topkWindow: QueryDef = QueryDef(
    "q_events_topk",
    (s, dir) => {
      val hourly = events(s, dir)
        .groupBy((floor(sec / 3600.0).cast("long") * 3600).as("window_start_s"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("window_start_s")
        .orderBy(col("n").desc, col("event_type"))
      hourly.withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 2)
    },
    Some("""WITH c AS (SELECT
              CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 3600.0) AS BIGINT) * 3600
                AS window_start_s,
              event_type, COUNT(*) AS n
            FROM events GROUP BY 1, 2)
            SELECT window_start_s, event_type, n, rk FROM (
              SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY window_start_s
                ORDER BY n DESC, event_type) AS BIGINT) AS rk FROM c) t
            WHERE rk <= 2"""))

  /** Time-series resample: gap-fill + forward-fill (the feature-store /
    * monitoring prep step): the hourly per-type series is completed
    * over the FULL hour spine (every type × every hour between the
    * corpus min and max), missing hours get n_events = 0, and the
    * last-known hourly sum is carried forward (`ffill_value` — null
    * only before a type's first observation, in both engines).
    *
    * Scale shape: the log shuffles ONCE into the hourly aggregate; the
    * spine is (#types × #hours) rows — derived from a broadcast 1-row
    * bounds frame + a tiny distinct — and every later step (left join,
    * per-type forward-fill window) runs on that pre-aggregated frame,
    * never the raw log. A 100 TB log with a year of hours still
    * resamples over #types × 8760 rows.
    */
  val resample: QueryDef = QueryDef(
    "q_events_resample",
    (s, dir) => {
      val e = events(s, dir).select(sec.as("sec"), col("event_type"), col("value"))
      val hourly = e
        .groupBy((floor(col("sec") / 3600.0).cast("long") * 3600).as("h"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), Portable.dsum(col("value")).as("sv"))
      val bounds = hourly.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      val spine = e.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("h0"), col("h1"), lit(3600L))).as("h"))
      val ffw = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("h", "event_type"), "left")
        .select(col("event_type"), col("h").as("window_start_s"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          last(col("sv"), ignoreNulls = true).over(ffw).as("ffill_value"))
    },
    Some(s"""WITH e AS (SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec, event_type, value FROM events),
            hourly AS (SELECT CAST(FLOOR(sec / 3600.0) AS BIGINT) * 3600 AS h,
                event_type, COUNT(*) AS n, ${Portable.sql.dsum("value")} AS sv
              FROM e GROUP BY 1, 2),
            bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
            spine AS (SELECT t.event_type, g.h
              FROM (SELECT DISTINCT event_type FROM e) t
              CROSS JOIN (SELECT unnest(generate_series(h0, h1, 3600)) AS h FROM bounds) g)
            SELECT s.event_type, s.h AS window_start_s,
              COALESCE(hourly.n, 0) AS n_events,
              LAST_VALUE(hourly.sv IGNORE NULLS) OVER (PARTITION BY s.event_type
                ORDER BY s.h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS ffill_value
            FROM spine s LEFT JOIN hourly ON s.h = hourly.h
              AND s.event_type = hourly.event_type"""))

  /** SCD Type-2 dimension build — the warehouse change-history shape:
    * each user's tracked attribute (their latest event_type) becomes a
    * set of validity intervals. Consecutive equal values COLLAPSE (an
    * SCD2 row records a CHANGE, not an event): keep only rows whose
    * lag differs, then valid_to = the next change's valid_from (null =
    * current version, flagged). Downstream point-in-time lookups are
    * exactly `q_asof_join` against this table.
    *
    * Scale shape: one shuffle on user_id; both windows (the lag that
    * detects changes and the lead that closes intervals) share that
    * partitioning, so the second window adds a sort but no exchange.
    * Per-user history is the sessionize per-entity bound.
    */
  val scd2: QueryDef = QueryDef(
    "q_scd2_history",
    (s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), col("event_type"), sec.as("t"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
      val changes = e
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .where(col("prev").isNull || col("prev") =!= col("event_type"))
      changes
        .withColumn("valid_to", lead(col("t"), 1).over(w))
        .select(col("user_id"), col("event_type").as("attr"),
          col("t").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
    },
    Some("""WITH e AS (SELECT user_id, event_type,
              CAST(FLOOR(epoch(ts)) AS BIGINT) AS t, event_id FROM events),
            ch AS (SELECT * FROM (
                SELECT user_id, event_type, t, event_id,
                  LAG(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev
                FROM e) x
              WHERE prev IS NULL OR prev <> event_type)
            SELECT user_id, event_type AS attr, t AS valid_from,
              LEAD(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS valid_to,
              (LEAD(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL)
                AS is_current
            FROM ch"""))

  /** Winsorization (robust-stats outlier treatment): per event_type,
    * values are clipped to that type's own exact [p5, p95] — the
    * data-cleaning step before any mean-based feature. Discrete
    * percentiles via row_number over exact integer CENTS (the value
    * column is 2-decimal; interpolated quantiles are engine-divergent,
    * the k-th order statistic is not): p5 = the cents value at rank
    * max(1, (n·5) DIV 100), p95 at rank (n·95 + 99) DIV 100. Output
    * per type: n, clipped-low/high counts, and the winsorized mean
    * (exact integer sum, one IEEE divide).
    *
    * Scale shape: one shuffle on event_type for the rank window (the
    * per-type sort is the cost — at 100 TB swap the exact rank for
    * the mergeable `graft_quantile_sketch` bounds, same clip step);
    * bounds are a tiny per-type frame broadcast back onto the log.
    */
  val winsorize: QueryDef = QueryDef(
    "q_events_winsorize",
    (s, dir) => {
      val e = events(s, dir).select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val w = Window.partitionBy("event_type").orderBy(col("cents"))
      val ranked = e.withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      val bounds = ranked
        .groupBy(col("event_type").as("bt"), col("n"))
        .agg(
          max(when(col("rn") === greatest(lit(1L), expr("(n * 5) div 100")),
            col("cents"))).as("p5"),
          max(when(col("rn") === expr("(n * 95 + 99) div 100"),
            col("cents"))).as("p95"))
      e.join(broadcast(bounds), col("event_type") === col("bt"))
        .select(col("event_type"), col("cents"), col("p5"), col("p95"),
          greatest(col("p5"), least(col("p95"), col("cents"))).as("clipped"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("cents") < col("p5"), 1L).otherwise(0L)).as("n_clip_low"),
          sum(when(col("cents") > col("p95"), 1L).otherwise(0L)).as("n_clip_high"),
          max(col("p5")).as("p5_cents"), max(col("p95")).as("p95_cents"),
          (sum(col("clipped")).cast("double") / count(lit(1))).as("winsorized_mean_cents"))
    },
    Some("""WITH e AS (SELECT event_type,
              CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
            r AS (SELECT event_type, cents,
              CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS BIGINT) AS rn,
              COUNT(*) OVER (PARTITION BY event_type) AS n FROM e),
            b AS (SELECT event_type AS bt, n,
                MAX(CASE WHEN rn = GREATEST(1, (n * 5) // 100) THEN cents END) AS p5,
                MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN cents END) AS p95
              FROM r GROUP BY 1, 2)
            SELECT e.event_type, COUNT(*) AS n,
              CAST(SUM(CASE WHEN cents < p5 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low,
              CAST(SUM(CASE WHEN cents > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high,
              MAX(p5) AS p5_cents, MAX(p95) AS p95_cents,
              CAST(SUM(GREATEST(p5, LEAST(p95, cents))) AS DOUBLE) / COUNT(*)
                AS winsorized_mean_cents
            FROM e JOIN b ON e.event_type = b.bt GROUP BY 1"""))

  /** Hopping (sliding) window aggregate — 1-hour windows advancing
    * every 30 minutes, so each event lands in exactly TWO windows (the
    * smoother dashboard twin of the tumbling `q_events_window`; the
    * streaming equivalent is `window(ts, '1 hour', '30 minutes')`).
    * Map-side: each event explodes into its two window starts
    * (floor-to-hop and floor-to-hop minus one hop), then ONE shuffle
    * into per-(window, type) partials — the expansion is 2×, never a
    * range join against a window table.
    */
  val hopping: QueryDef = QueryDef(
    "q_events_hopping",
    (s, dir) => events(s, dir)
      .select(col("event_type"), col("value"),
        explode(array(
          (floor(sec / 1800.0).cast("long") * 1800),
          (floor(sec / 1800.0).cast("long") * 1800 - 1800))).as("window_start_s"))
      .groupBy("window_start_s", "event_type")
      .agg(count(lit(1)).as("n_events"), Portable.dsum(col("value")).as("sum_value")),
    Some(s"""WITH e AS (SELECT event_type, value,
              unnest([CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 1800.0) AS BIGINT) * 1800,
                      CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 1800.0) AS BIGINT) * 1800 - 1800])
                AS window_start_s
             FROM events)
             SELECT window_start_s, event_type, COUNT(*) AS n_events,
               ${Portable.sql.dsum("value")} AS sum_value
             FROM e GROUP BY 1, 2"""))

  /** Per-type activity trend — OLS slope + Pearson r of the hourly
    * event count against time, from EXACT integer moments (the
    * `q_events_anomaly` convention): x = hour index CENTERED on each
    * type's own minimum (keeps n·Σx² ≤ 2^53 — raw epoch-hour indexes
    * would overflow the exact-double range), y = hourly count;
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) and r likewise are a
    * handful of IEEE ops on bit-identical integers → portable.
    * Degenerate series (constant x or constant y) are filtered, not
    * divided by zero.
    *
    * Scale shape: the log shuffles once into hourly counts; moments
    * are a per-type aggregate over those (tiny); everything after is
    * per-row arithmetic on #types rows.
    */
  val trend: QueryDef = QueryDef(
    "q_events_trend",
    (s, dir) => {
      val hourly = events(s, dir)
        .groupBy(floor(sec / 3600.0).cast("long").as("h"), col("event_type"))
        .agg(count(lit(1)).as("y"))
      val centered = hourly
        .withColumn("hmin", min(col("h")).over(
          Window.partitionBy("event_type")))
        .select(col("event_type"), (col("h") - col("hmin")).as("x"), col("y"))
      centered.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .where(col("n") > 1 &&
          (col("n") * col("sxx") - col("sx") * col("sx")) > 0 &&
          (col("n") * col("syy") - col("sy") * col("sy")) > 0)
        .select(col("event_type"), col("n").as("n_hours"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("slope_per_hour"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
            .as("pearson_r"))
    },
    Some("""WITH hourly AS (SELECT
              CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 3600.0) AS BIGINT) AS h,
              event_type, COUNT(*) AS y
            FROM events GROUP BY 1, 2),
            c AS (SELECT event_type,
                h - MIN(h) OVER (PARTITION BY event_type) AS x, y
              FROM hourly),
            m AS (SELECT event_type, COUNT(*) AS n,
                CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx,
                CAST(SUM(y*y) AS BIGINT) AS syy
              FROM c GROUP BY 1)
            SELECT event_type, n AS n_hours,
              CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
                AS slope_per_hour,
              CAST(n*sxy - sx*sy AS DOUBLE) /
                SQRT(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
                AS pearson_r
            FROM m WHERE n > 1 AND n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0"""))

  /** Marketing-style conversion ATTRIBUTION — for every `purchase`,
    * the user's first-touch and last-touch marketing event (`click` or
    * `view`) within a 7-day lookback, rolled up to per-channel
    * conversion counts and attributed revenue for both models.
    *
    * The touch is resolved WITHOUT a range self-join: each candidate
    * touch packs (t, event_id, channel) into one order-preserving
    * BIGINT (`t·10⁹ + event_id·10 + ch` — exact while t < 9.2·10⁹
    * (~year 2261) AND event_id < 10⁸; beyond 10⁸ events the id digits
    * would bleed into the seconds digits and silently corrupt the
    * first/last ordering, so the bound is a DOCUMENTED PRECONDITION:
    * at larger scales pack a per-user-day sequence number, not the
    * global id), and a
    * per-user RANGE window over t takes MIN (earliest = first touch)
    * and MAX (latest = last touch) of that key over the preceding
    * 7-day frame. min/max are frame-order-insensitive, so equal-`t`
    * ties resolve identically in both engines through the packed
    * event_id. Purchases with no touch in the window attribute to
    * `direct`.
    *
    * Scale shape: ONE shuffle on user_id; both window passes and the
    * final per-(model, channel) rollup reuse it (the rollup output is
    * #models × #channels rows). The RANGE frame keeps per-user state
    * bounded by the lookback — exactly the watermark the streaming
    * twin would use.
    */
  val attribution: QueryDef = QueryDef(
    "q_events_attribution",
    (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        col("value"), sec.as("t"), col("event_id"))
      val ch = when(col("event_type") === "click", 1L)
        .when(col("event_type") === "view", 2L)
      val keyed = e.withColumn("tkey",
        when(ch.isNotNull, col("t") * 1000000000L + col("event_id") * 10L + ch))
      val rw = Window.partitionBy("user_id").orderBy(col("t"))
        .rangeBetween(-604800L, -1L)
      val conv = keyed
        .withColumn("first_k", min(col("tkey")).over(rw))
        .withColumn("last_k", max(col("tkey")).over(rw))
        .where(col("event_type") === "purchase")
      def channelOf(k: org.apache.spark.sql.Column) =
        when(k.isNull, "direct").when(k % 10 === 1, "click").otherwise("view")
      def rollup(model: String, k: org.apache.spark.sql.Column) = conv
        .groupBy(lit(model).as("model"), channelOf(k).as("channel"))
        .agg(count(lit(1)).as("n_conversions"),
          Portable.dsum(col("value")).as("attributed_value"))
      rollup("first_touch", col("first_k"))
        .unionAll(rollup("last_touch", col("last_k")))
    },
    Some(s"""WITH e AS (SELECT user_id, event_type, value,
              CAST(FLOOR(epoch(ts)) AS BIGINT) AS t, event_id FROM events),
            k AS (SELECT *, CASE
                WHEN event_type = 'click' THEN t*1000000000 + event_id*10 + 1
                WHEN event_type = 'view'  THEN t*1000000000 + event_id*10 + 2
              END AS tkey FROM e),
            c AS (SELECT *,
                MIN(tkey) OVER (PARTITION BY user_id ORDER BY t
                  RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING) AS first_k,
                MAX(tkey) OVER (PARTITION BY user_id ORDER BY t
                  RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING) AS last_k
              FROM k),
            p AS (SELECT * FROM c WHERE event_type = 'purchase')
            SELECT 'first_touch' AS model,
              CASE WHEN first_k IS NULL THEN 'direct'
                   WHEN first_k % 10 = 1 THEN 'click' ELSE 'view' END AS channel,
              COUNT(*) AS n_conversions,
              ${Portable.sql.dsum("value")} AS attributed_value
            FROM p GROUP BY 1, 2
            UNION ALL
            SELECT 'last_touch',
              CASE WHEN last_k IS NULL THEN 'direct'
                   WHEN last_k % 10 = 1 THEN 'click' ELSE 'view' END,
              COUNT(*), ${Portable.sql.dsum("value")}
            FROM p GROUP BY 1, 2"""))

  /** First-order Markov transition matrix of per-user event
    * sequences — the behavioral-model summary (what follows what): for
    * every adjacent pair in each user's time-ordered stream, counts
    * per (from, to) and the row-conditional probability in exact fixed
    * point (`n·1000 div Σ_row n`).
    *
    * Scale shape: one shuffle on user_id for the lead() pass (per-user
    * sort, the sessionize bound), then one tiny shuffle into the
    * #types² transition cells; the row-normalizing window runs over
    * that cell frame, not the log.
    */
  val markov: QueryDef = QueryDef(
    "q_events_markov",
    (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        sec.as("t"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
      val cells = e.withColumn("next_type", lead(col("event_type"), 1).over(w))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      cells.withColumn("p_x1000",
        expr("n * 1000 div sum(n) over (partition by from_type)"))
    },
    Some("""WITH e AS (SELECT user_id, event_type,
              CAST(FLOOR(epoch(ts)) AS BIGINT) AS t, event_id FROM events),
            s AS (SELECT event_type AS from_type,
                LEAD(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id)
                  AS to_type FROM e),
            c AS (SELECT from_type, to_type, COUNT(*) AS n FROM s
              WHERE to_type IS NOT NULL GROUP BY 1, 2)
            SELECT from_type, to_type, n,
              CAST(n * 1000 // SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
                AS p_x1000
            FROM c"""))

  /** Robust outlier detection via median/MAD — the heavy-tail-safe
    * alternative to `q_events_anomaly`'s mean/stddev z-score: per
    * event_type, the exact discrete median of integer cents, the
    * median absolute deviation around it, and how many points sit
    * beyond the 3·MAD fence. Lower-median convention at ranks
    * `(n+1) div 2` (interpolated medians are engine-divergent; the
    * k-th order statistic is not), same discipline as
    * `q_events_winsorize`.
    *
    * Scale shape: two rank windows over the SAME event_type
    * partitioning (median of values, then median of deviations — the
    * second window re-sorts but does not re-shuffle); the per-type
    * medians travel as a broadcast frame. At 100 TB swap the exact
    * ranks for `graft_quantile_sketch` bounds, fence step unchanged.
    */
  val madOutliers: QueryDef = QueryDef(
    "q_events_mad",
    (s, dir) => {
      val e = events(s, dir).select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val w = Window.partitionBy("event_type").orderBy(col("cents"))
      val med = e.withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
        .groupBy(col("event_type").as("mt"))
        .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("cents"))).as("med"))
      val dev = e.join(broadcast(med), col("event_type") === col("mt"))
        .select(col("event_type"), col("cents"), col("med"),
          abs(col("cents") - col("med")).as("dev"))
      val wd = Window.partitionBy("event_type").orderBy(col("dev"))
      val mad = dev.withColumn("rn", row_number().over(wd).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
        .groupBy(col("event_type").as("dt"))
        .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("dev"))).as("mad"))
      dev.join(broadcast(mad), col("event_type") === col("dt"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), max(col("med")).as("median_cents"),
          max(col("mad")).as("mad_cents"),
          sum(when(col("dev") > col("mad") * 3, 1L).otherwise(0L)).as("n_outliers"))
    },
    Some("""WITH e AS (SELECT event_type,
              CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
            r AS (SELECT event_type, cents,
                CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS BIGINT) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n FROM e),
            med AS (SELECT event_type AS mt,
                MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS med
              FROM r GROUP BY 1),
            dev AS (SELECT e.event_type, cents, med, ABS(cents - med) AS dev
              FROM e JOIN med ON e.event_type = med.mt),
            rd AS (SELECT event_type, dev,
                CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS BIGINT) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n FROM dev),
            mad AS (SELECT event_type AS dt,
                MAX(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad
              FROM rd GROUP BY 1)
            SELECT dev.event_type, COUNT(*) AS n, MAX(med) AS median_cents,
              MAX(mad) AS mad_cents,
              CAST(SUM(CASE WHEN dev > mad * 3 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_outliers
            FROM dev JOIN mad ON dev.event_type = mad.dt GROUP BY 1"""))

  /** Conversion-latency distribution — the time-to-convert complement
    * of `q_events_funnel`'s step counts: per user, the gap from FIRST
    * `view` to the first `purchase` at-or-after it, summarized as
    * exact discrete percentiles (lower-order-statistic ranks
    * `greatest(1, n·q div 100)` — the winsorize convention) over the
    * converted population, plus the population counts.
    *
    * Scale shape: one shuffle on user_id folds each user to a single
    * (first_view, first_conversion) row via conditional min aggregates
    * — no per-user sort, no window over the log; the percentile read
    * is GROUPED-VALUE rank arithmetic (the `t_eval_auc` shape): lags
    * collapse to (lag_s, count) cells with map-side combine, the
    * cumulative runs over the DISTINCT-lag frame — never a
    * row-per-user single-task sort — and the target rank's value is
    * the cell whose cumulative span covers it. The final report is
    * ONE row.
    */
  val conversionLag: QueryDef = QueryDef(
    "q_events_conversion_lag",
    (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"), sec.as("t"))
      val perUser = e.groupBy("user_id").agg(
        min(when(col("event_type") === "view", col("t"))).as("t_view"))
      val conv = e.where(col("event_type") === "purchase")
        .join(perUser.where(col("t_view").isNotNull), "user_id")
        .where(col("t") >= col("t_view"))
        .groupBy("user_id").agg(
          (min(col("t")) - max(col("t_view"))).as("lag_s"))
      // grouped-value ranks: the user_id tie-break in the original
      // ORDER BY (lag_s, user_id) cannot change WHICH lag value sits
      // at a global rank, so the percentile reads off the distinct-lag
      // cumulative spans directly
      val cells = conv.groupBy("lag_s").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("lag_s"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = broadcast(conv.agg(count(lit(1)).as("n")))
      def pct(q: Int) = {
        val rq = greatest(lit(1L), expr(s"(n * $q) div 100"))
        max(when(col("cum") - col("cnt") < rq && rq <= col("cum"),
          col("lag_s"))).as(s"p${q}_lag_s")
      }
      cells.crossJoin(tot)
        .agg(max(col("n")).as("n_converted"), pct(25), pct(50), pct(75), pct(90))
        .crossJoin(e.select(countDistinct(col("user_id")).as("n_users")))
        .select(col("n_users"), col("n_converted"),
          col("p25_lag_s"), col("p50_lag_s"), col("p75_lag_s"), col("p90_lag_s"))
    },
    Some("""WITH e AS (SELECT user_id, event_type,
              CAST(FLOOR(epoch(ts)) AS BIGINT) AS t FROM events),
            fv AS (SELECT user_id,
                MIN(CASE WHEN event_type = 'view' THEN t END) AS t_view
              FROM e GROUP BY 1),
            conv AS (SELECT e.user_id, MIN(e.t) - MAX(fv.t_view) AS lag_s
              FROM e JOIN fv ON e.user_id = fv.user_id
              WHERE e.event_type = 'purchase' AND fv.t_view IS NOT NULL
                AND e.t >= fv.t_view
              GROUP BY 1),
            r AS (SELECT lag_s,
                CAST(ROW_NUMBER() OVER (ORDER BY lag_s, user_id) AS BIGINT) AS rn,
                COUNT(*) OVER () AS n FROM conv)
            SELECT (SELECT COUNT(DISTINCT user_id) FROM e) AS n_users,
              MAX(n) AS n_converted,
              MAX(CASE WHEN rn = GREATEST(1, (n * 25) // 100) THEN lag_s END) AS p25_lag_s,
              MAX(CASE WHEN rn = GREATEST(1, (n * 50) // 100) THEN lag_s END) AS p50_lag_s,
              MAX(CASE WHEN rn = GREATEST(1, (n * 75) // 100) THEN lag_s END) AS p75_lag_s,
              MAX(CASE WHEN rn = GREATEST(1, (n * 90) // 100) THEN lag_s END) AS p90_lag_s
            FROM r"""))

  /** RFM segmentation — the classic customer-value grid: per
    * purchasing user, Recency (days since last purchase, against the
    * log's max time), Frequency (purchase count) and Monetary (exact
    * cents), each scored into quintiles 1–5 by rank arithmetic
    * ((rn−1)·5 div n + 1 over (metric, user_id) — deterministic under
    * ties where ntile is not; recency ranks DESC so 5 = most recent),
    * reported as the populated segment grid with per-segment counts
    * and monetary totals (≤ 125 rows).
    *
    * Scale shape: one shuffle on user_id folds the log to one row per
    * purchaser; the three quintile ranks are DISTRIBUTED global ranks
    * ([[graft.operators.Extended.globalRank]]: range-repartition +
    * per-partition row counts + broadcast partition offsets — no
    * single-task sort of the purchaser frame anywhere in the plan);
    * the grid aggregate is trivial.
    */
  val rfm: QueryDef = QueryDef(
    "q_events_rfm",
    (s, dir) => {
      val e = events(s, dir)
      val tmax = e.agg(max(sec).as("tmax"))
      val users = e.where(col("event_type") === "purchase")
        .select(col("user_id"), sec.as("t"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .groupBy("user_id")
        .agg(max(col("t")).as("t_last"), count(lit(1)).as("freq"),
          sum(col("cents")).as("monetary"))
        .crossJoin(broadcast(tmax))
        .withColumn("recency_days", expr("(tmax - t_last) div 86400"))
        // globalRank orders (sortCol DESC, tie ASC): recency ranks
        // DESC natively; freq/monetary rank ASC via negation
        .withColumn("neg_freq", -col("freq"))
        .withColumn("neg_mon", -col("monetary"))
      // r15: the three quintile ranks are INDEPENDENT permutations of
      // the same purchaser frame, but chaining them (rank2 over
      // rank1's output) serialized three range-repartitions of the
      // full frame — each globalRank eagerly materializes its ordered
      // frame. Checkpoint the purchaser fold once, run the three rank
      // chains over NARROW (user_id, metric) projections from a
      // driver pool (guide §2.6), and join the (user_id, rank) frames
      // back on the unique user key — 1:1 joins, so the frame and
      // every rank value are unchanged; the range shuffles now carry
      // two columns instead of the whole widening frame (§2.3).
      val u = users.localCheckpoint()
      val Seq(rr, fr, mr) = graft.Par.run(
        () => Extended.globalRank(u.select("user_id", "recency_days"),
          "recency_days", "user_id", "r_rn").select("user_id", "r_rn"),
        () => Extended.globalRank(u.select("user_id", "neg_freq"),
          "neg_freq", "user_id", "f_rn").select("user_id", "f_rn"),
        () => Extended.globalRank(u.select("user_id", "neg_mon"),
          "neg_mon", "user_id", "m_rn").select("user_id", "m_rn"))
      val ranked2 = u.join(rr, "user_id").join(fr, "user_id").join(mr, "user_id")
      val n1 = broadcast(u.agg(count(lit(1)).as("n")))
      val ranked = ranked2.crossJoin(n1)
        .withColumn("r_score", expr("(r_rn - 1) * 5 div n + 1"))
        .withColumn("f_score", expr("(f_rn - 1) * 5 div n + 1"))
        .withColumn("m_score", expr("(m_rn - 1) * 5 div n + 1"))
      ranked.groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_users"), sum(col("monetary")).as("sum_cents"))
    },
    Some("""WITH e AS (SELECT user_id, event_type,
              CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
              CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
            tm AS (SELECT MAX(t) AS tmax FROM e),
            u AS (SELECT user_id, MAX(t) AS t_last, COUNT(*) AS freq,
                CAST(SUM(cents) AS BIGINT) AS monetary
              FROM e WHERE event_type = 'purchase' GROUP BY 1),
            r AS (SELECT user_id, freq, monetary,
                (tmax - t_last) // 86400 AS recency_days,
                COUNT(*) OVER () AS n,
                CAST(ROW_NUMBER() OVER (ORDER BY (tmax - t_last) // 86400 DESC, user_id) AS BIGINT) AS r_rn,
                CAST(ROW_NUMBER() OVER (ORDER BY freq, user_id) AS BIGINT) AS f_rn,
                CAST(ROW_NUMBER() OVER (ORDER BY monetary, user_id) AS BIGINT) AS m_rn
              FROM u, tm)
            SELECT (r_rn - 1) * 5 // n + 1 AS r_score,
              (f_rn - 1) * 5 // n + 1 AS f_score,
              (m_rn - 1) * 5 // n + 1 AS m_score,
              COUNT(*) AS n_users, CAST(SUM(monetary) AS BIGINT) AS sum_cents
            FROM r GROUP BY 1, 2, 3"""))

  /** A/B experiment readout with an EXACT-ARITHMETIC significance
    * verdict: users split into arms by id parity (the deterministic
    * stand-in for an assignment column), metric = purchase conversion;
    * the report carries per-arm counts, fixed-point conversion rates,
    * and the two-proportion z-test decision at 95% — WITHOUT floating
    * point: z² ≥ 1.96² rearranges to
    * `625·D²·N ≥ 2401·n₁·n₂·X·(N−X)` with D = x₁n₂−x₂n₁, X = x₁+x₂,
    * N = n₁+n₂ (1.96 = 49/25 exactly), evaluated in DECIMAL(38,0) /
    * HUGEINT so both engines compare identical integers. The p-value
    * never materializes; the DECISION does, bit-exact. The D ≠ 0
    * guard handles the degenerate all-or-none corpus (pooled variance
    * zero ⇒ z undefined ⇒ NOT significant, where the raw inequality
    * would read 0 ≥ 0 as significant).
    *
    * Scale shape: one shuffle folds the log to per-user conversion
    * flags, one tiny per-arm aggregate; the verdict is driver-scale
    * arithmetic on four integers.
    */
  val abTest: QueryDef = QueryDef(
    "q_events_abtest",
    (s, dir) => {
      val u = events(s, dir)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
        .withColumn("arm", col("user_id") % 2)
      val a = u.where(col("arm") === 0)
        .agg(count(lit(1)).as("n_a"), sum(col("conv")).as("x_a"))
      val b = u.where(col("arm") === 1)
        .agg(count(lit(1)).as("n_b"), sum(col("conv")).as("x_b"))
      a.crossJoin(b)
        .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
          expr("(x_a * 1000) div n_a").as("rate_a_x1000"),
          expr("(x_b * 1000) div n_b").as("rate_b_x1000"),
          expr("""
            (cast(x_a as decimal(38,0)) * n_b - cast(x_b as decimal(38,0)) * n_a) <> 0
            AND
            cast(625 as decimal(38,0)) *
              (cast(x_a as decimal(38,0)) * n_b - cast(x_b as decimal(38,0)) * n_a) *
              (cast(x_a as decimal(38,0)) * n_b - cast(x_b as decimal(38,0)) * n_a) *
              (n_a + n_b)
            >= cast(2401 as decimal(38,0)) * n_a * n_b * (x_a + x_b) *
              (cast(n_a as decimal(38,0)) + n_b - x_a - x_b)
          """).as("significant_95"))
    },
    Some("""WITH u AS (SELECT user_id,
              MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
            FROM events GROUP BY 1),
            a AS (SELECT COUNT(*) AS n_a, CAST(SUM(conv) AS BIGINT) AS x_a
              FROM u WHERE user_id % 2 = 0),
            b AS (SELECT COUNT(*) AS n_b, CAST(SUM(conv) AS BIGINT) AS x_b
              FROM u WHERE user_id % 2 = 1)
            SELECT n_a, x_a, n_b, x_b,
              (x_a * 1000) // n_a AS rate_a_x1000,
              (x_b * 1000) // n_b AS rate_b_x1000,
              (CAST(x_a AS HUGEINT) * n_b - CAST(x_b AS HUGEINT) * n_a) <> 0
              AND
              CAST(625 AS HUGEINT) *
                (CAST(x_a AS HUGEINT) * n_b - CAST(x_b AS HUGEINT) * n_a) *
                (CAST(x_a AS HUGEINT) * n_b - CAST(x_b AS HUGEINT) * n_a) *
                (n_a + n_b)
              >= CAST(2401 AS HUGEINT) * n_a * n_b * (x_a + x_b) *
                (CAST(n_a AS HUGEINT) + n_b - x_a - x_b) AS significant_95
            FROM a, b"""))

  /** CHANGEPOINT detection (binary-segmentation step) on the daily
    * event-count series — for each event type, the split day that
    * maximizes the before/after mean shift. The standard first
    * iteration of binary segmentation / CUSUM-style monitoring, in
    * exact fixed point: candidate split after observed day index i
    * scores `|post_sum·1000 div post_n − pre_sum·1000 div pre_n|`
    * from prefix sums; argmax with deterministic ties (smaller day).
    * A volume regime change (deploy, outage, bot wave) lands on its
    * start day.
    *
    * Scale shape: the log collapses to daily counts in ONE shuffle
    * (≤ types × days rows); prefix sums and the argmax are windows
    * over that tiny series per type; output = #types rows. At 100 TB
    * the daily rollup is the only corpus-sized pass.
    */
  val changepoint: QueryDef = QueryDef(
    "q_events_changepoint",
    (s, dir) => {
      val daily = events(s, dir)
        .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
        .agg(count(lit(1)).as("y"))
      val wOrd = Window.partitionBy("event_type").orderBy(col("day"))
      val wAll = Window.partitionBy("event_type")
      val scored = daily
        .withColumn("i", row_number().over(wOrd).cast("long"))
        .withColumn("cum", sum(col("y")).over(wOrd))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("tot", sum(col("y")).over(wAll))
        .where(col("i") < col("n"))
        .withColumn("pre_mean_x1000", expr("(cum * 1000) div i"))
        .withColumn("post_mean_x1000", expr("((tot - cum) * 1000) div (n - i)"))
        .withColumn("shift_x1000", abs(col("post_mean_x1000") - col("pre_mean_x1000")))
      scored
        .withColumn("rk", row_number().over(
          Window.partitionBy("event_type")
            .orderBy(col("shift_x1000").desc, col("day"))))
        .where(col("rk") === 1)
        .select(col("event_type"), col("day").as("split_day"),
          col("i").as("n_days_pre"), (col("n") - col("i")).as("n_days_post"),
          col("pre_mean_x1000"), col("post_mean_x1000"), col("shift_x1000"))
    },
    Some("""WITH daily AS (SELECT
              CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
              event_type, COUNT(*) AS y
            FROM events GROUP BY 1, 2),
            p AS (SELECT event_type, day, y,
                CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i,
                CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS cum,
                COUNT(*) OVER (PARTITION BY event_type) AS n,
                CAST(SUM(y) OVER (PARTITION BY event_type) AS BIGINT) AS tot
              FROM daily),
            sc AS (SELECT event_type, day, i, n,
                (cum * 1000) // i AS pre_mean_x1000,
                ((tot - cum) * 1000) // (n - i) AS post_mean_x1000
              FROM p WHERE i < n),
            r AS (SELECT *, ABS(post_mean_x1000 - pre_mean_x1000) AS shift_x1000,
                ROW_NUMBER() OVER (PARTITION BY event_type
                  ORDER BY ABS(post_mean_x1000 - pre_mean_x1000) DESC, day) AS rk
              FROM sc)
            SELECT event_type, day AS split_day, i AS n_days_pre,
              n - i AS n_days_post, pre_mean_x1000, post_mean_x1000, shift_x1000
            FROM r WHERE rk = 1"""))

  /** SEQUENTIAL-pattern support mining (2-step, any gap) — for every
    * ordered type pair `a → b`, how many users have at least one `a`
    * event strictly before a `b` event. The level-2 PrefixSpan /
    * SPAM building block, and the support-based complement of
    * [[markov]]'s adjacent-transition probabilities (here gaps are
    * allowed and each user counts once). Existence of an ordered
    * occurrence reduces to `min_key(a) < max_key(b)` per user with
    * the total-order key `t·10⁹ + event_id` (ties through unique
    * event ids; exact while t < 9.2·10⁹ and event_id < 10⁹ — a
    * documented precondition, same convention as the attribution
    * key), so no per-user pair scan ever
    * runs. `a = b` rows read "the type recurs".
    *
    * Scale shape: ONE shuffle into (user, type) min/max keys
    * (≤ users × |alphabet| rows), a per-user pair expansion bounded
    * by |alphabet|², and a tiny (a, b) count aggregate; user totals
    * ride a 1-row broadcast.
    */
  val seqPatterns: QueryDef = QueryDef(
    "q_events_bigrams",
    (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        (expr("ts div 1000000000") * 1000000000L + col("event_id")).as("k"))
      val spans = e.groupBy("user_id", "event_type")
        .agg(min(col("k")).as("k_min"), max(col("k")).as("k_max"))
      val nUsers = e.select("user_id").distinct().agg(count(lit(1)).as("n_users"))
      spans.toDF("user_id", "a", "a_min", "a_max")
        .join(spans.toDF("user_id", "b", "b_min", "b_max"), "user_id")
        .where(col("a_min") < col("b_max"))
        .groupBy("a", "b").agg(count(lit(1)).as("support"))
        .crossJoin(broadcast(nUsers))
        .select(col("a"), col("b"), col("support"),
          expr("(support * 1000) div n_users").as("support_x1000"))
    },
    Some("""WITH e AS (SELECT user_id, event_type,
              CAST(FLOOR(epoch(ts)) AS BIGINT) * 1000000000 + event_id AS k
            FROM events),
            sp AS (SELECT user_id, event_type,
                MIN(k) AS k_min, MAX(k) AS k_max
              FROM e GROUP BY 1, 2),
            nu AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM e)
            SELECT a.event_type AS a, b.event_type AS b,
              COUNT(*) AS support,
              CAST((COUNT(*) * 1000) // MAX(nu.n_users) AS BIGINT) AS support_x1000
            FROM sp a JOIN sp b ON a.user_id = b.user_id
              AND a.k_min < b.k_max
            CROSS JOIN nu
            GROUP BY 1, 2"""))

  /** Holt LINEAR-TREND forecast of the daily event-count series — the
    * level+trend exponential smoother (α = β = 1/2) run per event
    * type, forecasting 1–3 days ahead, in EXACT integer arithmetic:
    * state ×1000, every smoothing step an integral DIV (truncation
    * toward zero is identical in Spark `div` and DuckDB `//`,
    * including on negative trends). Complements [[trend]]'s OLS fit
    * (a global line) with the recency-weighted recursive smoother a
    * monitoring forecast actually uses.
    *
    * The recursion is inherently sequential per series, so it runs as
    * an `aggregate` HOF fold over the per-type ordered day array —
    * per-SERIES local work after ONE daily-count shuffle (series
    * length = days observed, never corpus-sized); the DuckDB twin is
    * a recursive CTE over the same indexed series. At 100 TB the
    * daily rollup is the only corpus pass; thousands of series fold
    * in parallel, one task each.
    */
  /** Holt smoother over a (key, day, y) frame — the reusable core of
    * [[forecast]] (property-tested on random series, including
    * NEGATIVE trends, in RandomizedSpec — the catalog corpus does not
    * guarantee a falling series exercises the negative-DIV path).
    */
  def holtOf(daily: DataFrame, key: String): DataFrame =
    daily.groupBy(key)
      .agg(transform(array_sort(collect_list(struct(col("day"), col("y")))),
        x => x.getField("y")).as("ys"))
      .where(size(col("ys")) >= 2)
      .withColumn("st", expr(
        """aggregate(slice(ys, 3, size(ys) - 2),
           named_struct('l', ys[0] * 1000L, 't', (ys[1] - ys[0]) * 1000L),
           (acc, y) -> named_struct(
             'l', (y * 1000L + acc.l + acc.t) div 2L,
             't', (((y * 1000L + acc.l + acc.t) div 2L - acc.l) + acc.t) div 2L))"""))
      .select(col(key), size(col("ys")).cast("long").as("n_days"),
        col("st.l").as("level_x1000"), col("st.t").as("trend_x1000"),
        (col("st.l") + col("st.t")).as("fc1_x1000"),
        (col("st.l") + lit(2) * col("st.t")).as("fc2_x1000"),
        (col("st.l") + lit(3) * col("st.t")).as("fc3_x1000"))

  val forecast: QueryDef = QueryDef(
    "q_events_forecast",
    (s, dir) => holtOf(
      events(s, dir)
        .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
        .agg(count(lit(1)).as("y")),
      "event_type"),
    Some("""WITH RECURSIVE daily AS (SELECT
              CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
              event_type, COUNT(*) AS y
            FROM events GROUP BY 1, 2),
            idx AS (SELECT event_type, y,
                CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i,
                COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM daily),
            ft AS (SELECT event_type,
                CAST(MAX(CASE WHEN i = 1 THEN y END) AS BIGINT) AS y1,
                CAST(MAX(CASE WHEN i = 2 THEN y END) AS BIGINT) AS y2,
                MAX(n) AS n
              FROM idx GROUP BY 1 HAVING MAX(n) >= 2),
            rec AS (
              SELECT event_type, CAST(2 AS BIGINT) AS i,
                y1 * 1000 AS l, (y2 - y1) * 1000 AS t FROM ft
              UNION ALL
              SELECT r.event_type, r.i + 1,
                (ix.y * 1000 + r.l + r.t) // 2,
                ((((ix.y * 1000 + r.l + r.t) // 2) - r.l) + r.t) // 2
              FROM rec r JOIN idx ix
                ON ix.event_type = r.event_type AND ix.i = r.i + 1)
            SELECT r.event_type, ft.n AS n_days,
              r.l AS level_x1000, r.t AS trend_x1000,
              r.l + r.t AS fc1_x1000, r.l + 2 * r.t AS fc2_x1000,
              r.l + 3 * r.t AS fc3_x1000
            FROM rec r JOIN ft ON r.event_type = ft.event_type AND r.i = ft.n"""))

  /** ROLLING 7-day trailing aggregates over the daily series — the
    * moving-average smoother every operational dashboard draws (raw
    * daily counts are too noisy to threshold; the trailing window is
    * the standard denoiser): per (event type, day), the trailing
    * 7-day event count, its exact mean ×1000, and the day count
    * actually inside the window (ramp-up days carry fewer — reported,
    * not hidden). A RANGE frame over the day value (not ROWS —
    * missing days must shrink the window, not stretch it).
    *
    * Scale shape: ONE shuffle into daily counts (≤ types × days
    * rows); the window runs per type over that tiny series. The
    * corpus-sized pass is the rollup only — the same profile as
    * [[trend]]/[[changepoint]].
    */
  val rolling: QueryDef = QueryDef(
    "q_events_rolling",
    (s, dir) => {
      val daily = events(s, dir)
        .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
        .agg(count(lit(1)).as("y"))
      val w = Window.partitionBy("event_type").orderBy(col("day"))
        .rangeBetween(-6L, 0L)
      daily
        .withColumn("roll_n", sum(col("y")).over(w))
        .withColumn("days_in_window", count(lit(1)).over(w))
        .select(col("event_type"), col("day"), col("y"), col("roll_n"),
          col("days_in_window"),
          expr("(roll_n * 1000) div days_in_window").as("roll_mean_x1000"))
    },
    Some("""WITH daily AS (SELECT
              CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
              event_type, COUNT(*) AS y
            FROM events GROUP BY 1, 2)
            SELECT event_type, day, y,
              CAST(SUM(y) OVER w AS BIGINT) AS roll_n,
              COUNT(*) OVER w AS days_in_window,
              (CAST(SUM(y) OVER w AS BIGINT) * 1000) // COUNT(*) OVER w
                AS roll_mean_x1000
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)"""))


  /** Day-of-week × hour SEASONALITY heatmap — the load-profile grid
    * capacity planning and anomaly baselining read (an anomaly
    * threshold that ignores the weekly cycle pages on every Monday
    * morning): per (dow, hour) cell, event count, distinct active
    * users, and the cell's share of all events ×1000. Dow derives
    * from the epoch day ((day + 3) mod 7 — epoch day 0 was a
    * Thursday, so +3 lands Monday on 0), hour from the epoch second — pure integer
    * arithmetic, no calendar library on either engine.
    *
    * Scale shape: ONE shuffle into ≤ 168 cells (the distinct-user
    * count shares it via expand); the share join is a 1-row
    * broadcast.
    */
  val heatmap: QueryDef = QueryDef(
    "q_events_heatmap",
    (s, dir) => {
      val cells = events(s, dir)
        .select(expr("pmod(ts div 1000000000 div 86400 + 3, 7)").as("dow"),
          expr("(ts div 1000000000 div 3600) % 24").as("hour"),
          col("user_id"))
        .groupBy("dow", "hour")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
      val tot = cells.agg(sum(col("n_events")).as("total"))
      cells.crossJoin(broadcast(tot))
        .select(col("dow"), col("hour"), col("n_events"), col("n_users"),
          expr("(n_events * 1000) div total").as("share_x1000"))
    },
    Some("""WITH c AS (SELECT
              (CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 + 3) % 7 AS dow,
              (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) % 24 AS hour,
              user_id
            FROM events),
            g AS (SELECT dow, hour, COUNT(*) AS n_events,
                COUNT(DISTINCT user_id) AS n_users
              FROM c GROUP BY 1, 2),
            t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM g)
            SELECT dow, hour, n_events, n_users,
              (n_events * 1000) // t.total AS share_x1000
            FROM g, t"""))

  /** One-sided upper CUSUM monitor over the daily series — the
    * SEQUENTIAL complement of [[changepoint]]'s retrospective split:
    * S_i = max(0, S_{i−1} + (y_i·1000 − mean·1000 − slack)) with
    * slack = 10% of the per-type mean, all exact integers; reported
    * per type as the peak statistic, the day it peaked (first
    * strictly-new peak — deterministic), and the alarm verdict
    * (peak > 5× mean — the page a monitor raises). Like the Holt
    * smoother the recursion is inherently sequential per series, so
    * it folds an `aggregate` HOF over the per-type ordered day array
    * with a recursive-CTE DuckDB twin; the `max(0, …)` clamp is what
    * a window prefix-sum cannot express.
    *
    * Scale shape: ONE daily-count shuffle; per-series local fold;
    * output = #types rows.
    */
  val cusum: QueryDef = QueryDef(
    "q_events_cusum",
    (s, dir) => {
      val daily = events(s, dir)
        .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
        .agg(count(lit(1)).as("y"))
      daily.groupBy("event_type")
        .agg(transform(array_sort(collect_list(struct(col("day"), col("y")))),
          x => x).as("ds"),
          sum(col("y")).as("tot"), count(lit(1)).as("n"))
        .withColumn("mean_x1000", expr("(tot * 1000) div n"))
        .withColumn("slack", expr("mean_x1000 div 10"))
        .withColumn("st", expr(
          """aggregate(ds,
             named_struct('s', 0L, 'peak', 0L, 'pday', -1L),
             (acc, d) -> named_struct(
               's', greatest(0L, acc.s + d.y * 1000L - mean_x1000 - slack),
               'peak', if(greatest(0L, acc.s + d.y * 1000L - mean_x1000 - slack) > acc.peak,
                 greatest(0L, acc.s + d.y * 1000L - mean_x1000 - slack), acc.peak),
               'pday', if(greatest(0L, acc.s + d.y * 1000L - mean_x1000 - slack) > acc.peak,
                 d.day, acc.pday)))"""))
        .select(col("event_type"), col("n").as("n_days"), col("mean_x1000"),
          col("st.peak").as("peak_x1000"), col("st.pday").as("peak_day"),
          (col("st.peak") > col("mean_x1000") * 5).as("alarm"))
    },
    Some("""WITH RECURSIVE daily AS (SELECT
              CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
              event_type, COUNT(*) AS y
            FROM events GROUP BY 1, 2),
            idx AS (SELECT event_type, day, y,
                CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i
              FROM daily),
            m AS (SELECT event_type, COUNT(*) AS n,
                (CAST(SUM(y) AS BIGINT) * 1000) // COUNT(*) AS mean_x1000
              FROM daily GROUP BY 1),
            ms AS (SELECT event_type, n, mean_x1000,
                mean_x1000 // 10 AS slack FROM m),
            rec AS (
              SELECT event_type, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS s,
                CAST(0 AS BIGINT) AS peak, CAST(-1 AS BIGINT) AS pday
              FROM ms
              UNION ALL
              SELECT r.event_type, r.i + 1,
                GREATEST(0, r.s + ix.y * 1000 - ms.mean_x1000 - ms.slack),
                CASE WHEN GREATEST(0, r.s + ix.y * 1000 - ms.mean_x1000 - ms.slack) > r.peak
                  THEN GREATEST(0, r.s + ix.y * 1000 - ms.mean_x1000 - ms.slack)
                  ELSE r.peak END,
                CASE WHEN GREATEST(0, r.s + ix.y * 1000 - ms.mean_x1000 - ms.slack) > r.peak
                  THEN ix.day ELSE r.pday END
              FROM rec r
              JOIN idx ix ON ix.event_type = r.event_type AND ix.i = r.i + 1
              JOIN ms ON ms.event_type = r.event_type)
            SELECT r.event_type, ms.n AS n_days, ms.mean_x1000,
              r.peak AS peak_x1000, r.pday AS peak_day,
              r.peak > ms.mean_x1000 * 5 AS alarm
            FROM rec r JOIN ms ON r.event_type = ms.event_type AND r.i = ms.n"""))

  /** TIME-WEIGHTED average — the metering/billing primitive the
    * arithmetic mean gets wrong on irregular samples (a value held for
    * 10 hours must weigh 600× one held for a minute): per event type,
    * each value is held until the type's next event, TWA = Σ v·Δt / Σ
    * Δt over the observed span. Fixed-point exact: values in cents,
    * gaps in whole seconds, one ×10 rescale lands the result in ×1000
    * — every product ≤ cents·span_s ≪ 2^63, so both engines do pure
    * int64 arithmetic around a single lead() window.
    *
    * Scale shape: ONE shuffle partitioned by event_type for the lead
    * window, then a per-type aggregate. No self-join against time.
    */
  val twa: QueryDef = QueryDef(
    "q_events_twa",
    (s, dir) => {
      val w = Window.partitionBy("event_type").orderBy(col("sec"), col("event_id"))
      events(s, dir)
        .select(col("event_type"), col("event_id"), sec.as("sec"),
          floor(col("value") * 100 + 0.5).cast("long").as("vc"))
        .withColumn("nxt", lead(col("sec"), 1).over(w))
        .where(col("nxt").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_segments"),
          sum(col("nxt") - col("sec")).as("span_s"),
          sum((col("nxt") - col("sec")) * col("vc")).as("wsum"))
        .select(col("event_type"), col("n_segments"), col("span_s"),
          expr("(wsum * 10) div nullif(span_s, 0)").as("twa_x1000"))
    },
    Some("""WITH e AS (SELECT event_type, event_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
           l AS (SELECT event_type, sec, vc,
             LEAD(sec) OVER (PARTITION BY event_type ORDER BY sec, event_id) AS nxt
             FROM e)
           SELECT event_type, COUNT(*) AS n_segments,
             CAST(SUM(nxt - sec) AS BIGINT) AS span_s,
             (CAST(SUM((nxt - sec) * vc) AS BIGINT) * 10)
               // NULLIF(CAST(SUM(nxt - sec) AS BIGINT), 0) AS twa_x1000
           FROM l WHERE nxt IS NOT NULL GROUP BY 1"""))

  /** PEAK CONCURRENCY — the capacity question sessionization alone
    * cannot answer: how many 30-minute-gap sessions were ever active
    * at once, and when first? The classic sweep-line: every session
    * emits (+1 at start, −1 one second past its last event), the
    * running delta sum is instantaneous concurrency, the answer is its
    * max and the earliest second attaining it. Equal-timestamp ties
    * order ends before starts (delta asc), and within equal (t, delta)
    * groups the prefix-sum MULTISET is order-independent (equal
    * increments commute), so peak and first-peak are deterministic in
    * both engines even though the global sort has ties.
    *
    * Scale shape: the sweep runs over 2 rows per SESSION (not per
    * event), and the running sum is the DISTRIBUTED prefix sum
    * ([[graft.operators.Extended.globalPrefixSum]]: range-repartition
    * on (t, delta), per-partition running sums, broadcast partition
    * offsets) — no single-task sort of the boundary frame anywhere in
    * the plan, so the sweep survives any session count.
    */
  /** (user_id, t, kind) BOUNDARY POINTS of the 30-min-gap sessions of
    * an events frame carrying (user_id, event_id, sec): kind = +1 at
    * start_s, −1 at end_s + 1 — the sweep-line input shared by the
    * batch query and the incrementally maintained MV
    * ([[concurrencyRefresh]]).
    */
  private[graft] def sessionPoints(e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val wu = Window.partitionBy("user_id").orderBy(col("sec"), col("event_id"))
    val sess = e
      .withColumn("gap", col("sec") - lag(col("sec"), 1).over(wu))
      .withColumn("new_s",
        when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min(col("sec")).as("start_s"), max(col("sec")).as("end_s"))
    sess.select(col("user_id"), col("start_s").as("t"), lit(1L).as("kind"))
      .unionAll(sess.select(col("user_id"),
        (col("end_s") + 1).as("t"), lit(-1L).as("kind")))
  }

  /** Peak-concurrency report from a (t, kind, cnt) netted boundary
    * frame: distributed prefix sum over (t asc, ends-before-starts),
    * peak + first attainment + session count. cnt is the
    * live-boundary multiplicity at (t, kind) — collapsing identical
    * points cannot move the max (a +1 group attains its max at its
    * collapsed value; a −1 row is strictly below its predecessor), so
    * the report equals the row-per-boundary sweep's.
    */
  private[graft] def concurrencyReport(pts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val points = pts.withColumn("delta", col("kind") * col("cnt"))
      // globalPrefixSum orders (sortCol DESC, tie ASC): negate t to
      // sweep time ascending with ends (-1) before starts (+1)
      .withColumn("neg_t", -col("t"))
    val run = Extended.globalPrefixSum(points, "neg_t", "kind", "delta")
      .withColumnRenamed("cum", "running")
    // r15: peak and its first attainment in ONE aggregate pass —
    // max(struct(running, −t)) orders by running first, then by −t,
    // so the struct max IS (max running, min t at that running);
    // the former shape aggregated the peak, then re-scanned `run`
    // through a broadcast-filter + groupBy to find min(t) — a second
    // full pass over the sweep frame at any scale (§1.2). The null
    // guard keeps the empty-corpus contract: no boundaries → no rows
    // (max over empty is a null struct, filtered out), exactly the
    // rows the filter+groupBy form produced.
    run.agg(max(struct(col("running"), (-col("t")).as("nt"))).as("pk"))
      .where(col("pk").isNotNull)
      .select(col("pk.running").as("peak_concurrent"),
        (-col("pk.nt")).as("first_peak_s"))
      .crossJoin(broadcast(pts.where(col("kind") === 1L)
        .agg(sum(col("cnt")).cast("long").as("n_sessions"))))
      .select("peak_concurrent", "first_peak_s", "n_sessions")
  }

  val concurrency: QueryDef = QueryDef(
    "q_events_concurrency",
    (s, dir) => {
      val pts = sessionPoints(events(s, dir)
          .select(col("user_id"), col("event_id"), sec.as("sec")))
        .groupBy("t", "kind").agg(count(lit(1)).as("cnt"))
      concurrencyReport(pts)
    },
    Some("""WITH e AS (SELECT user_id, event_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events),
           g AS (SELECT user_id, sec, CASE WHEN sec - LAG(sec) OVER
               (PARTITION BY user_id ORDER BY sec, event_id) IS NULL
               OR sec - LAG(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) > 1800
               THEN 1 ELSE 0 END AS new_s,
             event_id FROM e),
           sid AS (SELECT user_id, sec,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g),
           sess AS (SELECT user_id, sid, MIN(sec) AS start_s, MAX(sec) AS end_s
             FROM sid GROUP BY 1, 2),
           pts AS (SELECT start_s AS t, CAST(1 AS BIGINT) AS delta FROM sess
             UNION ALL SELECT end_s + 1, CAST(-1 AS BIGINT) FROM sess),
           run AS (SELECT t, CAST(SUM(delta) OVER (ORDER BY t, delta
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running FROM pts),
           pk AS (SELECT CAST(MAX(running) AS BIGINT) AS peak_concurrent FROM run)
           SELECT pk.peak_concurrent,
             (SELECT MIN(t) FROM run WHERE running = pk.peak_concurrent) AS first_peak_s,
             (SELECT COUNT(*) FROM sess) AS n_sessions
           FROM pk"""))

  private val ConcThroughPrefix = "conc_through_"

  /** INCREMENTALLY maintained session-boundary MV behind the
    * peak-concurrency report — the prefix-sum rewrite served from the
    * MV layer (the mv_join signed-row convention applied to the
    * sweep-line): the MV stores (user_id, t, kind, sgn) boundary rows;
    * a refresh reads ONLY the base versions' change feed
    * ([[graft.sources.Snapshots.changesBetween]]), re-sessionizes ONLY
    * the affected users (an append can merge two of a user's sessions,
    * so the user's boundary set is replaced wholesale: old rows
    * re-derived from the PREVIOUS version appended with sgn = −1, new
    * rows with sgn = +1 — O(affected users' events), never a corpus
    * pass), and commits as a [[graft.sources.Snapshots.foldThrough]]
    * under the base-version watermark tag (a watermark vacuumed under
    * the MV re-bootstraps). Serving nets multiplicities per (t, kind)
    * and runs the same distributed sweep as the batch query.
    *
    * Base table schema: (user_id, event_id, sec).
    */
  def concurrencyRefresh(s: SparkSession, baseTable: String,
      mvTable: String): Unit = {
    import graft.sources.Snapshots
    Snapshots.foldThrough(baseTable, mvTable, ConcThroughPrefix) { f =>
      f.replace(sessionPoints(Snapshots.readVersion(s, baseTable, f.curV))
        .withColumn("sgn", lit(1L)))
    } { f =>
      val (ins, del) = Snapshots.changesBetween(s, baseTable, f.lastV, f.curV)
      // pinned: the affected-user set feeds BOTH version re-reads, and
      // the change feed's exceptAll must not re-evaluate per branch
      val users = ins.select("user_id").unionAll(del.select("user_id"))
        .distinct().localCheckpoint()
      def bounds(v: Int) = sessionPoints(
        Snapshots.readVersion(s, baseTable, v).join(users, Seq("user_id"), "leftsemi"))
      f.append(bounds(f.curV).withColumn("sgn", lit(1L))
        .unionByName(bounds(f.lastV).withColumn("sgn", lit(-1L))))
    }
    ()
  }

  /** Peak-concurrency report served from the boundary MV — nets the
    * signed multiplicities per (t, kind) (a replaced user's old
    * boundaries cancel exactly), drops dead points, and runs the
    * SAME distributed sweep as the batch query.
    */
  def concurrencyServe(s: SparkSession, mvTable: String)
      : org.apache.spark.sql.DataFrame = {
    val pts = graft.sources.Snapshots.read(s, mvTable)
      .groupBy("t", "kind").agg(sum(col("sgn")).cast("long").as("cnt"))
      .where(col("cnt") =!= 0L)
    concurrencyReport(pts)
  }

  /** DAU/MAU STICKINESS — the engagement ratio product analytics
    * trends (retention answers "do they come back", stickiness answers
    * "how much of the month are they here"): per 30-day window, the
    * monthly-active count, the mean daily-active count over days WITH
    * activity, and their ratio ×1000. Pure epoch-day arithmetic (day =
    * sec div 86400, window = day div 30) — no calendar library on
    * either engine, so the bucketing is bit-identical.
    *
    * Scale shape: two distinct-user aggregates keyed on bounded keys
    * ((window, day) and (window)) — the day frame is ≤ 30 rows per
    * window regardless of event volume; distinct-user shuffles carry
    * user ids once per (window, day), the same cost class as the
    * retention cohort query.
    */
  val stickiness: QueryDef = QueryDef(
    "q_events_stickiness",
    (s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), expr("(ts div 1000000000) div 86400").as("day"))
        .withColumn("w", expr("day div 30"))
      val dau = e.groupBy("w", "day").agg(countDistinct("user_id").as("dau"))
      val mau = e.groupBy("w").agg(countDistinct("user_id").as("mau"))
      dau.groupBy("w")
        .agg(count(lit(1)).as("n_active_days"), sum(col("dau")).as("dau_sum"))
        .join(mau, Seq("w"))
        .select(col("w").as("window_30d"), col("n_active_days"), col("mau"),
          expr("dau_sum div n_active_days").as("mean_dau"),
          expr("(dau_sum * 1000) div (n_active_days * mau)").as("stickiness_x1000"))
    },
    Some("""WITH e AS (SELECT user_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
           e2 AS (SELECT user_id, day, day // 30 AS w FROM e),
           dau AS (SELECT w, day, COUNT(DISTINCT user_id) AS dau FROM e2 GROUP BY 1, 2),
           mau AS (SELECT w, COUNT(DISTINCT user_id) AS mau FROM e2 GROUP BY 1),
           dd AS (SELECT w, COUNT(*) AS n_active_days,
               CAST(SUM(dau) AS BIGINT) AS dau_sum FROM dau GROUP BY 1)
           SELECT dd.w AS window_30d, dd.n_active_days, mau.mau,
             dd.dau_sum // dd.n_active_days AS mean_dau,
             (dd.dau_sum * 1000) // (dd.n_active_days * mau.mau) AS stickiness_x1000
           FROM dd JOIN mau USING (w)"""))

  /** CADENCE / GAP audit — the pipeline-liveness question the windowed
    * aggregates assume away: per event type, the largest silent gap,
    * and how many gaps ran past 10× the type's mean cadence (mean =
    * span/(n−1); the comparison is cross-multiplied so it stays pure
    * integer: gap·(n−1) > 10·span). The artifact an on-call reads to
    * distinguish "source was quiet" from "ingestion silently died for
    * six hours" — data-quality row 16b checks values, this checks
    * TIME.
    *
    * Scale shape: the same one lead() window shuffle as `q_events_twa`
    * plus a per-type aggregate carrying three longs.
    */
  val gapAudit: QueryDef = QueryDef(
    "q_events_gaps",
    (s, dir) => {
      val w = Window.partitionBy("event_type").orderBy(col("sec"), col("event_id"))
      val base = events(s, dir)
        .select(col("event_type"), col("event_id"), sec.as("sec"))
        .withColumn("gap", lead(col("sec"), 1).over(w) - col("sec"))
        .localCheckpoint()
      val totals = base.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum(col("gap")).as("span_s"),
          max(col("gap")).as("max_gap_s"))
      val viol = base.join(broadcast(totals), Seq("event_type"))
        .where(col("gap").isNotNull &&
          col("gap") * (col("n_events") - 1) > lit(10) * col("span_s"))
        .groupBy("event_type").agg(count(lit(1)).as("v"))
      totals.join(viol, Seq("event_type"), "left")
        .select(col("event_type"), col("n_events"), col("span_s"),
          col("max_gap_s"), coalesce(col("v"), lit(0L)).as("n_gap_violations"))
    },
    Some("""WITH e AS (SELECT event_type, event_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events),
           l AS (SELECT event_type,
             LEAD(sec) OVER (PARTITION BY event_type ORDER BY sec, event_id) - sec AS gap
             FROM e),
           t AS (SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(gap) AS BIGINT) AS span_s,
               MAX(gap) AS max_gap_s FROM l GROUP BY 1)
           SELECT t.event_type, t.n_events, t.span_s, t.max_gap_s,
             CAST((SELECT COUNT(*) FROM l WHERE l.event_type = t.event_type
               AND l.gap * (t.n_events - 1) > 10 * t.span_s) AS BIGINT)
               AS n_gap_violations
           FROM t"""))

  /** AUTOCORRELATION function of the daily event-count series at lags
    * 1/2/3/7 days — the seasonality detector that tells a capacity
    * planner whether load repeats daily (lag-1 high) or weekly (lag-7
    * high), and tells the changepoint/forecast operators how much
    * history is informative. Per (event type, lag): Pearson r between
    * the DENSE daily series and its lag-shifted self. Dense means
    * missing days count as 0 — computing ACF over only the observed
    * days would silently splice gaps together and overstate
    * correlation. All moments are exact integers (the [[trend]]
    * convention); the final r is one IEEE divide/sqrt on identical
    * integer inputs, so both engines emit the same double bit
    * pattern.
    *
    * Scale shape: the ONLY corpus-sized pass is the daily rollup; the
    * gap-filled grid, the 4-lag explode, and the self-join all run on
    * the ≤ types × days frame (time-bounded, corpus-size-independent).
    * The lag join is equi on (type, day+lag) — no range scan.
    */
  val acf: QueryDef = QueryDef(
    "q_events_acf",
    (s, dir) => {
      val daily = events(s, dir)
        .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
        .agg(count(lit(1)).as("y"))
      val dense = daily.groupBy("event_type")
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("event_type"), explode(sequence(col("d0"), col("d1"))).as("day"))
        .join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("y"), lit(0L)).as("y"))
      val left = dense.select(col("event_type"), col("day"), col("y").as("x"),
          explode(array(lit(1L), lit(2L), lit(3L), lit(7L))).as("lag_d"))
        .withColumn("day2", col("day") + col("lag_d"))
      val m = left
        .join(dense.select(col("event_type"), col("day").as("day2"),
          col("y").as("yy")), Seq("event_type", "day2"))
        .groupBy("event_type", "lag_d")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("yy")).as("sy"), sum(col("x") * col("yy")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("yy") * col("yy")).as("syy"))
      m.where(col("n") > 1 &&
          (col("n") * col("sxx") - col("sx") * col("sx")) > 0 &&
          (col("n") * col("syy") - col("sy") * col("sy")) > 0)
        .select(col("event_type"), col("lag_d"), col("n").as("n_pairs"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
            .as("acf_r"))
    },
    Some("""WITH daily AS (SELECT
              CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
              event_type, COUNT(*) AS y
            FROM events GROUP BY 1, 2),
            b AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
              FROM daily GROUP BY 1),
            grid AS (SELECT event_type, UNNEST(range(d0, d1 + 1)) AS day FROM b),
            dense AS (SELECT g.event_type, g.day,
                CAST(COALESCE(d.y, 0) AS BIGINT) AS y
              FROM grid g LEFT JOIN daily d
                ON d.event_type = g.event_type AND d.day = g.day),
            lags AS (SELECT CAST(UNNEST([1, 2, 3, 7]) AS BIGINT) AS lag_d),
            p AS (SELECT a.event_type, l.lag_d, a.y AS x, b2.y AS yy
              FROM dense a CROSS JOIN lags l
              JOIN dense b2 ON b2.event_type = a.event_type
                AND b2.day = a.day + l.lag_d),
            m AS (SELECT event_type, lag_d, COUNT(*) AS n,
                CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(yy) AS BIGINT) AS sy,
                CAST(SUM(x * yy) AS BIGINT) AS sxy,
                CAST(SUM(x * x) AS BIGINT) AS sxx,
                CAST(SUM(yy * yy) AS BIGINT) AS syy
              FROM p GROUP BY 1, 2)
            SELECT event_type, lag_d, n AS n_pairs,
              CAST(n * sxy - sx * sy AS DOUBLE) /
                SQRT(CAST(n * sxx - sx * sx AS DOUBLE) *
                  CAST(n * syy - sy * sy AS DOUBLE)) AS acf_r
            FROM m WHERE n > 1 AND n * sxx - sx * sx > 0
              AND n * syy - sy * sy > 0"""))

  /** KAPLAN-MEIER survival curve over user tenure — the churn read
    * row 41's retention grid cannot give: retention asks "how many
    * came back in week k", this asks "what fraction of users SURVIVE
    * past tenure t, correcting for users we simply haven't observed
    * long enough" (the censoring correction — naive churn-rate curves
    * systematically overstate churn for recent cohorts). Tenure =
    * last−first active day; users last seen within 7 days of corpus
    * end are CENSORED (still alive at observation end), everyone else
    * died at their tenure. Discrete KM: S(t) = Π_{u≤t}(n_u−d_u)/n_u
    * folded in ×10⁹ fixed point — `S ← (S·(n−d)) div n` — so both
    * engines agree exactly (aggregate-HOF fold / recursive-CTE
    * oracle, the [[forecast]] convention). Overflow bound: S ≤ 10⁹
    * and n ≤ users, so the product needs users < 9.2·10⁹ — a
    * documented precondition (beyond that, fold in decimal(38,0), the
    * checksum convention).
    *
    * Scale shape: ONE corpus-sized shuffle (per-user first/last day);
    * everything after runs on the ≤ max-tenure-days frame (the
    * at-risk suffix-cumsum window and the fold are over that bounded
    * series, not the corpus).
    */
  val survival: QueryDef = QueryDef(
    "q_events_survival",
    (s, dir) => {
      val ud = events(s, dir)
        .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
        .groupBy("user_id").agg(min(col("day")).as("f"), max(col("day")).as("l"))
      val tmax = ud.agg(max(col("l")).as("tmax"))
      val u = ud.crossJoin(broadcast(tmax))
        .select((col("l") - col("f")).as("ten"),
          when(col("l") >= col("tmax") - 7, 1L).otherwise(0L).as("cen"))
      val counts = u.groupBy("ten").agg(
        sum(when(col("cen") === 0, 1L).otherwise(0L)).as("d"),
        sum(col("cen")).as("c"))
      val grid = u.agg(max(col("ten")).as("mt"))
        .where(col("mt").isNotNull)
        .select(explode(sequence(lit(0L), col("mt"))).as("t"))
      val dense = grid.join(counts, grid("t") === counts("ten"), "left")
        .select(col("t"), coalesce(col("d"), lit(0L)).as("d"),
          coalesce(col("c"), lit(0L)).as("c"))
      val w = Window.orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dense.withColumn("n", sum(col("d") + col("c")).over(w))
        .agg(array_sort(collect_list(
          struct(col("t"), col("n"), col("d"), col("c")))).as("arr"))
        .select(explode(expr(
          """aggregate(arr,
               named_struct('s', 1000000000L,
                 'out', cast(array() as array<struct<t:bigint,n:bigint,d:bigint,c:bigint,surv:bigint>>)),
               (acc, x) -> named_struct(
                 's', (acc.s * (x.n - x.d)) div x.n,
                 'out', array_append(acc.out, named_struct(
                   't', x.t, 'n', x.n, 'd', x.d, 'c', x.c,
                   'surv', (acc.s * (x.n - x.d)) div x.n))),
               acc -> acc.out)""")).as("r"))
        .select(col("r.t").as("tenure_days"), col("r.n").as("n_risk"),
          col("r.d").as("churned"), col("r.c").as("censored"),
          col("r.surv").as("survival_x1e9"))
    },
    Some("""WITH RECURSIVE
            e AS (SELECT user_id,
              CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
            ud AS (SELECT user_id, MIN(day) AS f, MAX(day) AS l
              FROM e GROUP BY 1),
            tt AS (SELECT MAX(l) AS tmax FROM ud),
            u AS (SELECT l - f AS ten,
                CASE WHEN l >= tmax - 7 THEN 1 ELSE 0 END AS cen
              FROM ud CROSS JOIN tt),
            cts AS (SELECT ten,
                CAST(SUM(CASE WHEN cen = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d,
                CAST(SUM(cen) AS BIGINT) AS c
              FROM u GROUP BY 1),
            mg AS (SELECT CAST(MAX(ten) AS BIGINT) AS mt FROM u),
            grid AS (SELECT CAST(UNNEST(range(0, mt + 1)) AS BIGINT) AS t
              FROM mg WHERE mt IS NOT NULL),
            dense AS (SELECT g.t, COALESCE(cts.d, 0) AS d,
                COALESCE(cts.c, 0) AS c
              FROM grid g LEFT JOIN cts ON cts.ten = g.t),
            withn AS (SELECT t, d, c,
                CAST(SUM(d + c) OVER (ORDER BY t DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n
              FROM dense),
            rec AS (
              SELECT t, n, d, c, (1000000000 * (n - d)) // n AS s
                FROM withn WHERE t = 0
              UNION ALL
              SELECT w.t, w.n, w.d, w.c, (r.s * (w.n - w.d)) // w.n
                FROM rec r JOIN withn w ON w.t = r.t + 1)
            SELECT t AS tenure_days, n AS n_risk, d AS churned,
              c AS censored, s AS survival_x1e9 FROM rec"""))

  /** ROLLING 7-day DISTINCT active users (WAU) per day — the
    * windowed-distinct aggregate a RANGE frame cannot express
    * (COUNT(DISTINCT) OVER is unsupported in both engines, and
    * approximating with a sum of dailies double-counts returning
    * users). Exact via CONTRIBUTION EXPLODE: each distinct (user,
    * active-day) row contributes to the 7 window-end days it falls
    * in; de-duplicating (user, window-end) and counting gives the
    * exact distinct count per window. Reported next to the day's own
    * DAU and the DAU/WAU ratio ×1000 (the 7-day twin of
    * [[stickiness]]' 30-day MAU ratio, via a different mechanism —
    * this one generalizes to any windowed COUNT DISTINCT).
    *
    * Scale shape: two shuffles — the (user, day) distinct and the
    * (user, window-end) distinct+count; the explode fanout is exactly
    * the window width (×7), never data-dependent. At 100 TB both
    * shuffles are map-side-combinable hash aggregates; no per-user
    * state beyond the window width exists anywhere.
    */
  val rollingDau: QueryDef = QueryDef(
    "q_events_rolling_dau",
    (s, dir) => {
      val ud = events(s, dir)
        .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
        .distinct()
      val daily = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("d"))
        .distinct()
        .groupBy(col("d").as("day")).agg(count(lit(1)).as("wau7"))
      daily.join(wau, "day")
        .select(col("day"), col("dau"), col("wau7"),
          expr("(dau * 1000) div wau7").as("dau_wau_x1000"))
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id,
              CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
            daily AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
            contrib AS (SELECT DISTINCT user_id, d FROM (
              SELECT user_id, UNNEST(range(day, day + 7)) AS d FROM ud) x),
            wau AS (SELECT CAST(d AS BIGINT) AS day, COUNT(*) AS wau7
              FROM contrib GROUP BY 1)
            SELECT daily.day, daily.dau, wau.wau7,
              (daily.dau * 1000) // wau.wau7 AS dau_wau_x1000
            FROM daily JOIN wau ON wau.day = daily.day"""))

  /** The STL-lite frame shared by [[seasonalDecompose]] and
    * [[anomalySeasonal]]: per (type, gap-filled day) the observed
    * count, centered 7-day trend, dow seasonal mean, and residual —
    * all exact ×1000 integers.
    */
  private def stlFrame(s: SparkSession, dir: String): DataFrame = {
      val daily = events(s, dir)
        .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
        .agg(count(lit(1)).as("y"))
      val dense = daily.groupBy("event_type")
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("event_type"), explode(sequence(col("d0"), col("d1"))).as("day"))
        .join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("y"), lit(0L)).as("y"))
      val detr = dense
        .withColumn("trend_x1000", expr("(1000 * " +
          "sum(y) over (partition by event_type order by day range between 3 preceding and 3 following)) div " +
          "count(1) over (partition by event_type order by day range between 3 preceding and 3 following)"))
        .withColumn("detr", col("y") * 1000 - col("trend_x1000"))
      val seas = detr.groupBy(col("event_type"),
          ((col("day") + 3) % 7).as("dow"))
        .agg(expr("sum(detr) div count(1)").as("seasonal_x1000"))
      detr.withColumn("dow", (col("day") + 3) % 7)
        .join(seas, Seq("event_type", "dow"))
        .select(col("event_type"), col("day"), col("y"), col("trend_x1000"),
          col("seasonal_x1000"),
          (col("detr") - col("seasonal_x1000")).as("resid_x1000"))
  }

  /** Additive SEASONAL DECOMPOSITION of the daily series (STL-lite) —
    * the structural split the raw series hides: y = trend + weekly
    * seasonal + residual, where trend is the centered 7-day moving
    * average (RANGE ±3 days over the dense gap-filled grid), the
    * seasonal term is the per-day-of-week mean of the detrended
    * series, and the residual is what remains — the series an anomaly
    * detector should actually threshold ([[heatmap]] shows the weekly
    * cycle; this REMOVES it). All arithmetic is exact ×1000 fixed
    * point (sums and counts stay integers; the two divisions are
    * integral div), so both engines agree bit-for-bit. Edge days use
    * the partial centered window (window size reported via the dense
    * grid, identical in both engines).
    *
    * Scale shape: the corpus-sized pass is the daily rollup; the
    * dense grid, both window passes, and the dow-mean join all run on
    * the ≤ types × days frame. One shuffle + tiny-frame windows — the
    * [[acf]] profile.
    */
  val seasonalDecompose: QueryDef = QueryDef(
    "q_events_seasonal",
    (s, dir) => stlFrame(s, dir),
    Some("""WITH daily AS (SELECT
              CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
              event_type, COUNT(*) AS y
            FROM events GROUP BY 1, 2),
            b AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
              FROM daily GROUP BY 1),
            grid AS (SELECT event_type, UNNEST(range(d0, d1 + 1)) AS day FROM b),
            dense AS (SELECT g.event_type, g.day,
                CAST(COALESCE(d.y, 0) AS BIGINT) AS y
              FROM grid g LEFT JOIN daily d
                ON d.event_type = g.event_type AND d.day = g.day),
            tr AS (SELECT event_type, day, y,
                (1000 * CAST(SUM(y) OVER w AS BIGINT)) // (COUNT(*) OVER w)
                  AS trend_x1000
              FROM dense
              WINDOW w AS (PARTITION BY event_type ORDER BY day
                RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
            dt AS (SELECT *, y * 1000 - trend_x1000 AS detr,
                (day + 3) % 7 AS dow FROM tr),
            seas AS (SELECT event_type, dow,
                CAST(SUM(detr) AS BIGINT) // COUNT(*) AS seasonal_x1000
              FROM dt GROUP BY 1, 2)
            SELECT dt.event_type, dt.day, dt.y, dt.trend_x1000,
              seas.seasonal_x1000, dt.detr - seas.seasonal_x1000 AS resid_x1000
            FROM dt JOIN seas
              ON seas.event_type = dt.event_type AND seas.dow = dt.dow"""))

  /** THEIL-SEN robust trend — the median of all pairwise day-slopes,
    * the estimator [[trend]]'s OLS is not: a single corrupted day
    * (outage, backfill spike) drags the least-squares slope
    * arbitrarily but moves the slope MEDIAN by at most one rank
    * (29% breakdown point). Slopes are one IEEE division of exact
    * integer deltas each (identical bits both engines); the median is
    * the LOWER median under the total order (slope, day₁, day₂), so
    * ties resolve identically. Works on the OBSERVED days directly —
    * pairwise slopes use true day distance, no gap-fill needed.
    *
    * Scale shape: the corpus-sized pass is the daily rollup; the
    * pair self-join and per-type rank run on the ≤ types × days²
    * frame — days are TIME-bounded (a year is 365 rows per type no
    * matter the corpus), so the quadratic is in a constant, not the
    * data. The [[acf]] profile with a squared-but-bounded small side.
    */
  val theilSen: QueryDef = QueryDef(
    "q_events_theilsen",
    (s, dir) => {
      val daily = events(s, dir)
        .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
        .agg(count(lit(1)).as("y"))
      val pairs = daily.toDF("d1", "event_type", "y1")
        .join(daily.toDF("d2", "event_type", "y2"), "event_type")
        .where(col("d2") > col("d1"))
        .select(col("event_type"), col("d1"), col("d2"),
          ((col("y2") - col("y1")).cast("double") /
            (col("d2") - col("d1")).cast("double")).as("slope"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("slope"), col("d1"), col("d2"))
      pairs
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("np", count(lit(1)).over(
          Window.partitionBy("event_type")))
        .where(col("rn") === expr("(np + 1) div 2"))
        .select(col("event_type"), col("np").as("n_pairs"),
          col("slope").as("slope_per_day"))
    },
    Some("""WITH daily AS (SELECT
              CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
              event_type, COUNT(*) AS y
            FROM events GROUP BY 1, 2),
            p AS (SELECT a.event_type, a.day AS d1, b.day AS d2,
                CAST(b.y - a.y AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS slope
              FROM daily a JOIN daily b
                ON b.event_type = a.event_type AND b.day > a.day),
            r AS (SELECT event_type, slope,
                CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                  ORDER BY slope, d1, d2) AS BIGINT) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS np
              FROM p)
            SELECT event_type, np AS n_pairs, slope AS slope_per_day
            FROM r WHERE rn = (np + 1) // 2"""))

  /** SEASONALLY-ADJUSTED anomaly detection — [[anomaly]]/[[madOutliers]]
    * made cycle-aware (a raw-count threshold pages every Monday
    * morning; the weekly rhythm must be subtracted BEFORE asking
    * "is this day weird"): the MAD rule applied to [[stlFrame]]'s
    * residuals. Per type, med = lower median of residuals, MAD =
    * lower median of |resid − med| (both under the total order
    * (value, day) — rank arithmetic, never ntile), and a day flags
    * when |resid − med| · 10⁴ > 3 · 14826 · MAD — the classic
    * 3×1.4826·MAD cut as one cross-multiplied exact-integer
    * comparison. Every day ships with its flag (not just the
    * anomalies), so the output is the full audit trail.
    *
    * Scale shape: [[stlFrame]]'s one corpus shuffle, then windows
    * and joins over the ≤ types × days grid.
    */
  val anomalySeasonal: QueryDef = QueryDef(
    "q_events_anomaly_seasonal",
    (s, dir) => {
      val r = stlFrame(s, dir)
        .select(col("event_type"), col("day"), col("y"), col("resid_x1000"))
      val wn = Window.partitionBy("event_type")
      val medW = Window.partitionBy("event_type")
        .orderBy(col("resid_x1000"), col("day"))
      val med = r.withColumn("rn", row_number().over(medW))
        .withColumn("n", count(lit(1)).over(wn))
        .where(expr("rn = (n + 1) div 2"))
        .select(col("event_type"), col("resid_x1000").as("med_x1000"))
      val ad = r.join(med, "event_type")
        .withColumn("adev", abs(col("resid_x1000") - col("med_x1000")))
      val madW = Window.partitionBy("event_type").orderBy(col("adev"), col("day"))
      val mad = ad.withColumn("rn", row_number().over(madW))
        .withColumn("n", count(lit(1)).over(wn))
        .where(expr("rn = (n + 1) div 2"))
        .select(col("event_type"), col("adev").as("mad_x1000"))
      ad.join(mad, "event_type")
        .select(col("event_type"), col("day"), col("y"), col("resid_x1000"),
          col("med_x1000"), col("mad_x1000"),
          (col("adev") * 10000 > lit(3L) * 14826 * col("mad_x1000"))
            .as("is_anomaly"))
    },
    Some("""WITH daily AS (SELECT
              CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
              event_type, COUNT(*) AS y
            FROM events GROUP BY 1, 2),
            b AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
              FROM daily GROUP BY 1),
            grid AS (SELECT event_type, UNNEST(range(d0, d1 + 1)) AS day FROM b),
            dense AS (SELECT g.event_type, g.day,
                CAST(COALESCE(d.y, 0) AS BIGINT) AS y
              FROM grid g LEFT JOIN daily d
                ON d.event_type = g.event_type AND d.day = g.day),
            tr AS (SELECT event_type, day, y,
                (1000 * CAST(SUM(y) OVER w AS BIGINT)) // (COUNT(*) OVER w)
                  AS trend_x1000
              FROM dense
              WINDOW w AS (PARTITION BY event_type ORDER BY day
                RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
            dt AS (SELECT *, y * 1000 - trend_x1000 AS detr,
                (day + 3) % 7 AS dow FROM tr),
            seas AS (SELECT event_type, dow,
                CAST(SUM(detr) AS BIGINT) // COUNT(*) AS seasonal_x1000
              FROM dt GROUP BY 1, 2),
            r AS (SELECT dt.event_type, dt.day, dt.y,
                dt.detr - seas.seasonal_x1000 AS resid
              FROM dt JOIN seas
                ON seas.event_type = dt.event_type AND seas.dow = dt.dow),
            med AS (SELECT event_type, resid AS med FROM (
                SELECT event_type, resid,
                  ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY resid, day) AS rn,
                  COUNT(*) OVER (PARTITION BY event_type) AS n
                FROM r) WHERE rn = (n + 1) // 2),
            ad AS (SELECT r.event_type, r.day, r.y, r.resid, m.med,
                ABS(r.resid - m.med) AS adev
              FROM r JOIN med m ON m.event_type = r.event_type),
            mad AS (SELECT event_type, adev AS mad FROM (
                SELECT event_type, adev,
                  ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY adev, day) AS rn,
                  COUNT(*) OVER (PARTITION BY event_type) AS n
                FROM ad) WHERE rn = (n + 1) // 2)
            SELECT ad.event_type, ad.day, ad.y, ad.resid AS resid_x1000,
              ad.med AS med_x1000, d.mad AS mad_x1000,
              ad.adev * 10000 > 3 * 14826 * d.mad AS is_anomaly
            FROM ad JOIN mad d ON d.event_type = ad.event_type"""))

  /** ROLLING distinct users from MERGEABLE HLL SKETCHES — the 100 TB
    * serving path beside [[rollingDau]]'s exact contribution-explode:
    * the exact form shuffles user×7 rows (corpus-sized), this one
    * reduces each day to ONE ~kB Datasketches HLL (map-side partial
    * merge), unions 7 sketches per output day, and estimates — the
    * shuffle carries sketches, never users, and the daily sketches
    * are exactly the state a dashboard persists and re-unions for any
    * window without touching raw events again. Served under the
    * bounds-oracle convention (row 35): the exact count rides along
    * and the output carries a deterministic within-15% flag (lgK=12
    * ⇒ ~1.6% expected error), so the DuckDB twin checks the exact
    * values and `TRUE` flags.
    *
    * Scale shape: one user-day distinct pass feeds BOTH forms; the
    * sketch path's rolling union groups ≤ 7·days sketch rows.
    */
  val rollingDauHll: QueryDef = QueryDef(
    "q_events_rolling_dau_hll",
    (s, dir) => {
      val ud = events(s, dir)
        .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
      val daily = ud.groupBy("day")
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      val rolled = daily
        .select(explode(sequence(col("day"), col("day") + 6)).as("d"), col("sk"))
        .groupBy(col("d").as("day"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      val exact = ud.distinct()
        .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("d"))
        .distinct()
        .groupBy(col("d").as("day")).agg(count(lit(1)).as("wau7_exact"))
      rolled.join(exact, "day")
        .join(ud.select("day").distinct(), Seq("day"))
        .select(col("day"), col("wau7_exact"),
          (abs(col("est") - col("wau7_exact")) * 100 <= col("wau7_exact") * 15)
            .as("hll_ok"))
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id,
              CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
            contrib AS (SELECT DISTINCT user_id, d FROM (
              SELECT user_id, UNNEST(range(day, day + 7)) AS d FROM ud) x)
            SELECT CAST(d AS BIGINT) AS day, COUNT(*) AS wau7_exact,
              TRUE AS hll_ok
            FROM contrib WHERE d IN (SELECT day FROM ud) GROUP BY 1"""))

  /** POINT-IN-TIME dimension LOOKUP against the SCD2 table — the read
    * side of [[scd2]] (building a versioned dimension is only half
    * the warehouse pattern; training-data and BI correctness both
    * hinge on joining facts to the version VALID AT the fact's time,
    * never the current one): each purchase looks up the user's state
    * interval covering second t−1 — the state the user was in when
    * they entered the purchase — and the report is the
    * conversion-source distribution. The half-open contiguous
    * intervals make the match provably unique (two changes in one
    * second leave an empty [x, x) interval that can cover nothing),
    * so no as-of tie-break is needed; a purchase that is the user's
    * first event has no prior state → 'none'.
    *
    * Scale shape: one user-keyed equi-join carrying the interval
    * predicate (per-user intervals are few — run-length compressed
    * by construction), then a ≤ states-sized rollup. The SCD2 build
    * itself is [[scd2]]'s one window pass.
    */
  val scd2Lookup: QueryDef = QueryDef(
    "q_scd2_lookup",
    (s, dir) => {
      val dim = scd2.fn(s, dir).select(col("user_id").as("u"),
        col("attr"), col("valid_from"), col("valid_to"))
      val purchases = events(s, dir)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), sec.as("t"), col("event_id"))
      purchases.join(dim,
          col("user_id") === col("u") &&
            col("valid_from") <= col("t") - 1 &&
            (col("valid_to").isNull || col("t") - 1 < col("valid_to")),
          "left")
        .groupBy(coalesce(col("attr"), lit("none")).as("state_before"))
        .agg(count(lit(1)).as("n_purchases"),
          countDistinct(col("user_id")).as("n_users"))
    },
    Some("""WITH e AS (SELECT user_id, event_type,
              CAST(FLOOR(epoch(ts)) AS BIGINT) AS t, event_id FROM events),
            ch AS (SELECT * FROM (
                SELECT user_id, event_type, t, event_id,
                  LAG(event_type) OVER (PARTITION BY user_id
                    ORDER BY t, event_id) AS prev
                FROM e) x
              WHERE prev IS NULL OR prev <> event_type),
            dim AS (SELECT user_id AS u, event_type AS attr,
                t AS valid_from,
                LEAD(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                  AS valid_to
              FROM ch),
            p AS (SELECT user_id, t FROM e WHERE event_type = 'purchase')
            SELECT COALESCE(dim.attr, 'none') AS state_before,
              COUNT(*) AS n_purchases,
              CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_users
            FROM p LEFT JOIN dim ON p.user_id = dim.u
              AND dim.valid_from <= p.t - 1
              AND (dim.valid_to IS NULL OR p.t - 1 < dim.valid_to)
            GROUP BY 1"""))

  /** BOT / automation cadence audit — the abuse-detection read next to
    * [[gapAudit]]'s pipeline liveness: humans arrive with bursty,
    * high-variance inter-event gaps; schedulers and scripts tick with
    * near-constant cadence. Per user with ≥ 10 events, the squared
    * coefficient of variation of inter-event gaps in ×10⁶ fixed point
    * — rv = (ng·Σg² − (Σg)²)·10⁶ / (Σg)², exactly 10⁶·(σ/μ)² — and
    * the top-20 MOST regular users (lowest rv, total order (rv,
    * user)) are the review queue. The ×10⁶ product overflows int64,
    * so the ratio folds in decimal(38,0)/HUGEINT (16c convention);
    * a zero-span user (all events same second) NULLIFs rather than
    * divides by zero.
    *
    * Scale shape: one user-keyed window for the gaps (key cardinality
    * grows with the corpus — no hot partition), one per-user
    * aggregate, then TakeOrdered 20 (per-partition heaps, no global
    * sort).
    */
  val botCadence: QueryDef = QueryDef(
    "q_events_bot_cadence",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("sec"), col("event_id"))
      val gaps = events(s, dir)
        .select(col("user_id"), col("event_id"), sec.as("sec"))
        .withColumn("gap", lead(col("sec"), 1).over(w) - col("sec"))
        .where(col("gap").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"), sum(col("gap")).as("span_s"),
          sum(col("gap") * col("gap")).as("ssq"))
        .where(col("n_gaps") >= 9)
      gaps.select(col("user_id"), (col("n_gaps") + 1).as("n_events"),
          col("span_s"),
          expr("""cast(cast(n_gaps * ssq - span_s * span_s as decimal(38,0))
                 * 1000000 div nullif(cast(span_s as decimal(38,0)) * span_s, 0)
                 as bigint)""").as("rv_x1e6"))
        .orderBy(col("rv_x1e6").asc_nulls_last, col("user_id")).limit(20)
    },
    Some("""WITH e AS (SELECT user_id, event_id,
              CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events),
            g AS (SELECT user_id,
                LEAD(sec) OVER (PARTITION BY user_id
                  ORDER BY sec, event_id) - sec AS gap
              FROM e),
            a AS (SELECT user_id, COUNT(*) AS n_gaps,
                CAST(SUM(gap) AS BIGINT) AS span_s,
                CAST(SUM(gap * gap) AS BIGINT) AS ssq
              FROM g WHERE gap IS NOT NULL GROUP BY 1 HAVING COUNT(*) >= 9)
            SELECT user_id, n_gaps + 1 AS n_events, span_s,
              CAST(CAST(n_gaps * ssq - span_s * span_s AS HUGEINT) * 1000000
                // NULLIF(CAST(span_s AS HUGEINT) * span_s, 0) AS BIGINT)
                AS rv_x1e6
            FROM a ORDER BY rv_x1e6 NULLS LAST, user_id LIMIT 20"""))

  /** HOLT-WINTERS walk-forward BACKTEST — the eval that justifies
    * shipping [[holtWinters]] at all: at every step after the 7-day
    * init, the model's one-step-ahead forecast error |l+t+s_j − y| is
    * accumulated BEFORE the state updates on y (true out-of-sample),
    * alongside the naive |y_i − y_{i−1}| baseline, and the verdict is
    * MASE ×1000 = Σ|e_fc| / Σ|e_naive| — below 1000 the model beats
    * persistence, above it the seasonality machinery is not earning
    * its keep on this series. Same exact ×1000 integer fold with two
    * error accumulators and the previous observation threaded through
    * the state; the DuckDB twin threads identical columns through the
    * recursive CTE.
    *
    * Scale shape: identical to [[holtWinters]] — one daily-rollup
    * shuffle, per-series fold, state now 12 longs.
    */
  val hwBacktest: QueryDef = QueryDef(
    "q_events_hw_backtest",
    (s, dir) => {
      val daily = events(s, dir)
        .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
        .agg(count(lit(1)).as("y"))
      daily.groupBy("event_type")
        .agg(array_sort(collect_list(struct(col("day"), col("y")))).as("es"))
        .where(size(col("es")) >= 8)
        .withColumn("l0", expr(
          "(aggregate(slice(es, 1, 7), 0L, (a, e) -> a + e.y) * 1000L) div 7L"))
        .withColumn("sInit", expr(
          """aggregate(slice(es, 1, 7), array_repeat(0L, 7),
             (arr, e) -> transform(arr, (v, k) ->
               if(k = cast(pmod(e.day + 3, 7) as int), e.y * 1000L - l0, v)))"""))
        .withColumn("st", expr(
          """aggregate(slice(es, 8, size(es) - 7),
             named_struct('l', l0, 't', 0L, 's', sInit,
               'efc', 0L, 'en', 0L, 'pv', es[6].y * 1000L),
             (acc, e) -> named_struct(
               'l', ((e.y * 1000L - acc.s[cast(pmod(e.day + 3, 7) as int)])
                     + acc.l + acc.t) div 2L,
               't', ((((e.y * 1000L - acc.s[cast(pmod(e.day + 3, 7) as int)])
                       + acc.l + acc.t) div 2L - acc.l) + acc.t) div 2L,
               's', transform(acc.s, (v, k) ->
                 if(k = cast(pmod(e.day + 3, 7) as int),
                   ((e.y * 1000L
                     - ((e.y * 1000L - acc.s[cast(pmod(e.day + 3, 7) as int)])
                        + acc.l + acc.t) div 2L) + v) div 2L,
                   v)),
               'efc', acc.efc + abs(acc.l + acc.t
                 + acc.s[cast(pmod(e.day + 3, 7) as int)] - e.y * 1000L),
               'en', acc.en + abs(e.y * 1000L - acc.pv),
               'pv', e.y * 1000L))"""))
        .select(col("event_type"),
          (size(col("es")) - 7).cast("long").as("n_eval"),
          col("st.efc").as("fc_abs_err_x1000"),
          col("st.en").as("naive_abs_err_x1000"),
          expr("(st.efc * 1000) div nullif(st.en, 0)").as("mase_x1000"))
    },
    Some {
      def sj(day: String): String =
        s"CASE ($day + 3) % 7 WHEN 0 THEN s0 WHEN 1 THEN s1 WHEN 2 THEN s2 " +
          "WHEN 3 THEN s3 WHEN 4 THEN s4 WHEN 5 THEN s5 ELSE s6 END"
      def supd(k: Int): String =
        s"CASE WHEN j = $k THEN ((ynew - lp) + s$k) // 2 ELSE s$k END AS s$k"
      s"""WITH RECURSIVE daily AS (SELECT
            CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
            event_type, COUNT(*) AS y
          FROM events GROUP BY 1, 2),
          idx AS (SELECT event_type, day, y,
              CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                AS BIGINT) AS i,
              COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM daily),
          init AS (SELECT event_type, MAX(n) AS n,
              CAST((SUM(y) FILTER (WHERE i <= 7) * 1000) // 7 AS BIGINT) AS l0,
              CAST(MAX(CASE WHEN i = 7 THEN y END) * 1000 AS BIGINT) AS pv0
            FROM idx GROUP BY 1 HAVING MAX(n) >= 8),
          firstw AS (SELECT event_type, (day + 3) % 7 AS k, y,
              ROW_NUMBER() OVER (PARTITION BY event_type, (day + 3) % 7
                ORDER BY i DESC) AS rnk
            FROM idx WHERE i <= 7),
          grid AS (SELECT event_type, l0, unnest(range(0, 7)) AS k FROM init),
          sv AS (SELECT g.event_type, g.k,
              COALESCE(MAX(f.y * 1000 - g.l0), 0) AS sv
            FROM grid g LEFT JOIN firstw f
              ON f.event_type = g.event_type AND f.k = g.k AND f.rnk = 1
            GROUP BY 1, 2),
          sp AS (SELECT event_type,
              CAST(MAX(CASE WHEN k = 0 THEN sv END) AS BIGINT) AS s0,
              CAST(MAX(CASE WHEN k = 1 THEN sv END) AS BIGINT) AS s1,
              CAST(MAX(CASE WHEN k = 2 THEN sv END) AS BIGINT) AS s2,
              CAST(MAX(CASE WHEN k = 3 THEN sv END) AS BIGINT) AS s3,
              CAST(MAX(CASE WHEN k = 4 THEN sv END) AS BIGINT) AS s4,
              CAST(MAX(CASE WHEN k = 5 THEN sv END) AS BIGINT) AS s5,
              CAST(MAX(CASE WHEN k = 6 THEN sv END) AS BIGINT) AS s6
            FROM sv GROUP BY 1),
          rec AS (
            SELECT init.event_type, CAST(7 AS BIGINT) AS i, l0 AS l,
              CAST(0 AS BIGINT) AS t, s0, s1, s2, s3, s4, s5, s6,
              CAST(0 AS BIGINT) AS efc, CAST(0 AS BIGINT) AS en, pv0 AS pv
            FROM init JOIN sp USING (event_type)
            UNION ALL
            SELECT event_type, i, lp AS l, ((lp - t0l) + t0t) // 2 AS t,
              ${(0 to 6).map(supd).mkString(", ")},
              efc + ABS(t0l + t0t + sjv - ynew) AS efc,
              en + ABS(ynew - pv) AS en, ynew AS pv
            FROM (SELECT r.event_type, r.i + 1 AS i, r.l AS t0l, r.t AS t0t,
                r.s0, r.s1, r.s2, r.s3, r.s4, r.s5, r.s6,
                r.efc, r.en, r.pv,
                ix.y * 1000 AS ynew, (ix.day + 3) % 7 AS j,
                (${sj("ix.day")}) AS sjv,
                ((ix.y * 1000 - (${sj("ix.day")})) + r.l + r.t) // 2 AS lp
              FROM rec r JOIN idx ix
                ON ix.event_type = r.event_type AND ix.i = r.i + 1))
          SELECT r.event_type, init.n - 7 AS n_eval,
            r.efc AS fc_abs_err_x1000, r.en AS naive_abs_err_x1000,
            (r.efc * 1000) // NULLIF(r.en, 0) AS mase_x1000
          FROM rec r JOIN init ON init.event_type = r.event_type
            AND r.i = init.n"""
    })

  /** DAY-OF-WEEK EFFECT SIZE — the "is the weekly cycle real" number
    * behind [[heatmap]]/[[seasonalDecompose]]: a one-way variance
    * decomposition of the daily counts by dow, reported as η² ×10⁶
    * (SSB/SST — the fraction of daily variance the weekday explains)
    * and the F ratio ×1000 (MSB/MSW). Exact rational arithmetic via
    * the pivot trick: with the 7 per-dow (n_k, S_k) pairs pivoted to
    * columns, P = Πn_k makes every term integer —
    * SSB·N·P = N·Σ S_k²·(P/n_k) − S²·P and SST·N·P = N·P·Σy² − S²·P —
    * so η² is ONE integral division (decimal(38,0)/HUGEINT fold;
    * ·10⁶ overflows int64). η² ≈ 0 says the heatmap's cells are
    * noise; large F says threshold per weekday or pay Monday pages.
    *
    * Scale shape: one corpus shuffle to the daily grid, a 7-column
    * pivot per type, pure scalar arithmetic after.
    */
  val dowEffect: QueryDef = QueryDef(
    "q_events_dow_effect",
    (s, dir) => {
      val daily = events(s, dir)
        .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
        .agg(count(lit(1)).as("y"))
        .withColumn("dow", expr("pmod(day + 3, 7)"))
      val tot = daily.groupBy("event_type")
        .agg(count(lit(1)).as("nn"), sum(col("y")).as("ss"),
          sum(col("y") * col("y")).as("ssq"),
          countDistinct(col("dow")).as("k"))
      val piv = daily.groupBy("event_type")
        .pivot("dow", (0 to 6).map(_.toString))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
      val nCols = (0 to 6).map(d => s"coalesce(`${d}_n`, 1L)")
      val pExpr = nCols.mkString(" * ")
      val aExpr = (0 to 6).map(d =>
        s"coalesce(`${d}_s` * `${d}_s` * (($pExpr) div coalesce(`${d}_n`, 1L)), 0L)")
        .mkString(" + ")
      tot.join(piv, "event_type")
        .withColumn("p", expr(pExpr))
        .withColumn("a", expr(aExpr))
        .select(col("event_type"), col("nn").as("n_days"), col("k").as("n_dows"),
          expr("""cast((cast(nn as decimal(38,0)) * a - cast(ss as decimal(38,0)) * ss * p) * 1000000
                 div nullif(cast(nn as decimal(38,0)) * p * ssq - cast(ss as decimal(38,0)) * ss * p, 0)
                 as bigint)""").as("eta2_x1e6"),
          expr("""cast((cast(nn as decimal(38,0)) * a - cast(ss as decimal(38,0)) * ss * p) * (nn - k) * 1000
                 div nullif(cast(nn as decimal(38,0)) * p * ssq - cast(nn as decimal(38,0)) * a, 0)
                 div nullif(k - 1, 0) as bigint)""").as("f_x1000"))
    },
    Some {
      val nCols = (0 to 6).map(d => s"COALESCE(n$d, 1)")
      val pExpr = nCols.mkString(" * ")
      val aExpr = (0 to 6).map(d =>
        s"COALESCE(s$d * s$d * (($pExpr) // COALESCE(n$d, 1)), 0)").mkString(" + ")
      s"""WITH daily AS (SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
            event_type, COUNT(*) AS y
          FROM events GROUP BY 1, 2),
          dd AS (SELECT event_type, y, (day + 3) % 7 AS dow FROM daily),
          tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nn,
              CAST(SUM(y) AS BIGINT) AS ss, CAST(SUM(y * y) AS BIGINT) AS ssq,
              CAST(COUNT(DISTINCT dow) AS BIGINT) AS k
            FROM dd GROUP BY 1),
          piv AS (SELECT event_type,
              ${(0 to 6).map(d => s"CAST(SUM(CASE WHEN dow = $d THEN 1 END) AS BIGINT) AS n$d, CAST(SUM(CASE WHEN dow = $d THEN y END) AS BIGINT) AS s$d").mkString(", ")}
            FROM dd GROUP BY 1),
          j AS (SELECT tot.*, ($pExpr) AS p, ($aExpr) AS a
            FROM tot JOIN piv ON piv.event_type = tot.event_type)
          SELECT event_type, nn AS n_days, k AS n_dows,
            CAST((CAST(nn AS HUGEINT) * a - CAST(ss AS HUGEINT) * ss * p) * 1000000
              // NULLIF(CAST(nn AS HUGEINT) * p * ssq - CAST(ss AS HUGEINT) * ss * p, 0)
              AS BIGINT) AS eta2_x1e6,
            CAST((CAST(nn AS HUGEINT) * a - CAST(ss AS HUGEINT) * ss * p) * (nn - k) * 1000
              // NULLIF(CAST(nn AS HUGEINT) * p * ssq - CAST(nn AS HUGEINT) * a, 0)
              // NULLIF(k - 1, 0) AS BIGINT) AS f_x1000
          FROM j"""
    })

  /** Dn RETENTION scalars — the headline D1/D7/D14 numbers a growth
    * dashboard leads with ([[retention]]'s weekly cohort grid is the
    * diagnostic behind them; these are the KPI): for each user,
    * day 0 is the first active day, and Dn retention is the fraction
    * of eligible users active EXACTLY on day n (classic "day-N"
    * definition, not "within N"). A user is eligible for Dn only if
    * day0 + n lies inside the observed data span — otherwise the
    * metric silently counts not-yet-possible returns as churn (the
    * standard right-censoring bug).
    *
    * Scale shape: one user-day distinct pass, one per-user day-0
    * aggregate, one semi-join per horizon against the user-day frame
    * (user-keyed), 3-row output; the span bound is a 1-row broadcast.
    */
  val retentionDn: QueryDef = QueryDef(
    "q_events_retention_dn",
    (s, dir) => {
      val ud = events(s, dir)
        .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
        .distinct()
      val maxDay = ud.agg(max(col("day")).as("max_day"))
      val d0 = ud.groupBy("user_id").agg(min(col("day")).as("d0"))
        .crossJoin(broadcast(maxDay))
      val horizons = Seq(1, 7, 14)
      horizons.map { n =>
        val eligible = d0.where(col("d0") + n <= col("max_day"))
        val retained = eligible.join(ud.select(col("user_id"),
            col("day").as("rd")),
            Seq("user_id"))
          .where(col("rd") === col("d0") + n)
          .select("user_id").distinct()
        eligible.agg(count(lit(1)).as("n_eligible"))
          .crossJoin(retained.agg(count(lit(1)).as("n_retained")))
          .select(lit(s"d$n").as("horizon"), col("n_eligible"),
            col("n_retained"),
            expr("(n_retained * 1000000) div nullif(n_eligible, 0)")
              .as("retention_x1e6"))
      }.reduce(_ unionAll _)
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id,
              CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
            mx AS (SELECT MAX(day) AS max_day FROM ud),
            d0 AS (SELECT user_id, MIN(day) AS d0 FROM ud GROUP BY 1),
            h AS (SELECT CAST(UNNEST([1, 7, 14]) AS BIGINT) AS n),
            elig AS (SELECT h.n, d0.user_id, d0.d0
              FROM d0 CROSS JOIN mx CROSS JOIN h
              WHERE d0.d0 + h.n <= mx.max_day),
            ret AS (SELECT e.n, COUNT(DISTINCT e.user_id) AS n_retained
              FROM elig e JOIN ud ON ud.user_id = e.user_id
                AND ud.day = e.d0 + e.n
              GROUP BY 1),
            eg AS (SELECT n, COUNT(*) AS n_eligible FROM elig GROUP BY 1)
            SELECT 'd' || CAST(h.n AS VARCHAR) AS horizon,
              CAST(COALESCE(eg.n_eligible, 0) AS BIGINT) AS n_eligible,
              CAST(COALESCE(ret.n_retained, 0) AS BIGINT) AS n_retained,
              (CAST(COALESCE(ret.n_retained, 0) AS BIGINT) * 1000000)
                // NULLIF(CAST(COALESCE(eg.n_eligible, 0) AS BIGINT), 0)
                AS retention_x1e6
            FROM h LEFT JOIN eg ON eg.n = h.n
            LEFT JOIN ret ON ret.n = h.n"""))

  /** SLO ERROR-BUDGET BURN RATE — the multiwindow alerting rule from
    * the Google SRE workbook, over the event log's `error` type
    * against a 99% SLO (budget = 1% errors): per hour, the 1 h burn
    * (error_rate / budget, ×1000) and the trailing-6 h burn (RANGE
    * window over hour VALUES — missing hours shrink the window, not
    * stretch it), and a page fires only when BOTH exceed their
    * thresholds (14.4× fast AND 6× slow — fast-only pages on blips,
    * slow-only pages late; the conjunction is the point). Pure
    * integer arithmetic: burn ×1000 = errors·100 000 div events.
    *
    * Scale shape: one corpus shuffle into the hourly grid; the
    * trailing window and flags run on ≤ hours rows.
    */
  val sloBurn: QueryDef = QueryDef(
    "q_events_slo_burn",
    (s, dir) => {
      val hourly = events(s, dir)
        .groupBy(expr("ts div 1000000000 div 3600").as("hour"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("n_errors"))
      val w6 = Window.orderBy(col("hour")).rangeBetween(-5L, 0L)
      hourly
        .withColumn("ev6", sum(col("n_events")).over(w6))
        .withColumn("er6", sum(col("n_errors")).over(w6))
        .select(col("hour"), col("n_events"), col("n_errors"),
          expr("(n_errors * 100000) div n_events").as("burn_1h_x1000"),
          expr("(er6 * 100000) div ev6").as("burn_6h_x1000"),
          (expr("(n_errors * 100000) div n_events") > 14400 &&
            expr("(er6 * 100000) div ev6") > 6000).as("page"))
    },
    Some("""WITH h AS (SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS hour,
              COUNT(*) AS n_events,
              CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors
            FROM events GROUP BY 1),
            r AS (SELECT hour, n_events, n_errors,
                CAST(SUM(n_events) OVER w AS BIGINT) AS ev6,
                CAST(SUM(n_errors) OVER w AS BIGINT) AS er6
              FROM h WINDOW w AS (ORDER BY hour
                RANGE BETWEEN 5 PRECEDING AND CURRENT ROW))
            SELECT hour, n_events, n_errors,
              (n_errors * 100000) // n_events AS burn_1h_x1000,
              (er6 * 100000) // ev6 AS burn_6h_x1000,
              (n_errors * 100000) // n_events > 14400
                AND (er6 * 100000) // ev6 > 6000 AS page
            FROM r"""))

  /** GROWTH ACCOUNTING — the daily new/retained/resurrected/churned
    * ledger (the Social-Capital accounting identity every growth team
    * reports): per day, NEW = first-ever-seen users, RETAINED =
    * active today AND yesterday, RESURRECTED = active today, seen
    * before, but not yesterday, CHURNED = active yesterday, not
    * today (booked on today). The identity DAU_d = new + retained +
    * resurrected and DAU_d − DAU_{d−1} = new + resurrected − churned
    * is spec-asserted — the cross-check that catches any
    * double-counting. All flags derive from one lag over each user's
    * distinct active days.
    *
    * Scale shape: one user-day distinct pass, one user-keyed lag
    * window (corpus-growing key), one ≤ days-sized rollup; churn
    * books via a second pass over the same lagged frame (lead), no
    * extra corpus scan.
    */
  val growthAccounting: QueryDef = QueryDef(
    "q_events_growth_accounting",
    (s, dir) => {
      val ud = events(s, dir)
        .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      val lagged = ud
        .withColumn("prev", lag(col("day"), 1).over(w))
        .withColumn("nxt", lead(col("day"), 1).over(w))
      val active = lagged.groupBy("day")
        .agg(sum(when(col("prev").isNull, 1L).otherwise(0L)).as("new_users"),
          sum(when(col("prev") === col("day") - 1, 1L).otherwise(0L))
            .as("retained"),
          sum(when(col("prev").isNotNull && col("prev") < col("day") - 1, 1L)
            .otherwise(0L)).as("resurrected"))
      val churn = lagged
        .where(col("nxt").isNull || col("nxt") > col("day") + 1)
        .groupBy((col("day") + 1).as("day"))
        .agg(count(lit(1)).as("churned"))
      active.join(churn, Seq("day"), "left")
        .select(col("day"), col("new_users"), col("retained"),
          col("resurrected"), coalesce(col("churned"), lit(0L)).as("churned"))
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id,
              CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
            lg AS (SELECT user_id, day,
                LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev,
                LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS nxt
              FROM ud),
            act AS (SELECT day,
                CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS new_users,
                CAST(SUM(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS retained,
                CAST(SUM(CASE WHEN prev IS NOT NULL AND prev < day - 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
              FROM lg GROUP BY 1),
            ch AS (SELECT day + 1 AS day, COUNT(*) AS churned
              FROM lg WHERE nxt IS NULL OR nxt > day + 1 GROUP BY 1)
            SELECT act.day, act.new_users, act.retained, act.resurrected,
              CAST(COALESCE(ch.churned, 0) AS BIGINT) AS churned
            FROM act LEFT JOIN ch ON ch.day = act.day"""))

  /** WINDOWED multi-step FUNNEL — the standard product-analytics form
    * [[funnel]]'s open-ended signup→purchase pair is not: three
    * ordered steps (view → click → purchase), each required within
    * 24 h OF THE PREVIOUS step, anchored at the user's FIRST view and
    * advancing greedily to the first qualifying event (deterministic:
    * every step is a min). The per-step user counts and conversion
    * ×10⁶ vs step 1 are the funnel chart; the time bound is what
    * separates "converted because of the flow" from "converted weeks
    * later anyway".
    *
    * Scale shape: two user-keyed left joins (per-user candidate
    * events are few; the time predicate rides the join), one 1-row
    * count aggregate, 3-row output.
    */
  val funnelWindowed: QueryDef = QueryDef(
    "q_events_funnel_windowed",
    (s, dir) => {
      val W = 86400L
      val e = events(s, dir)
        .select(col("user_id"), col("event_type"), sec.as("t"))
      val v = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("t")).as("t1"))
      val c = e.where(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("t").as("ct"))
      val s2 = v.join(c, col("user_id") === col("cu") &&
          col("ct") > col("t1") && col("ct") <= col("t1") + W, "left")
        .groupBy("user_id", "t1").agg(min(col("ct")).as("t2"))
      val p = e.where(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("t").as("pt"))
      val s3 = s2.join(p, col("user_id") === col("pu") &&
          col("pt") > col("t2") && col("pt") <= col("t2") + W, "left")
        .groupBy("user_id", "t1", "t2").agg(min(col("pt")).as("t3"))
      val agg = s3.agg(count(lit(1)).as("n1"), count(col("t2")).as("n2"),
        count(col("t3")).as("n3"))
      agg.select(lit("1_view").as("step"), col("n1").as("n_users"),
          lit(1000000L).as("conv_x1e6"))
        .unionAll(agg.select(lit("2_click_24h").as("step"), col("n2"),
          expr("(n2 * 1000000) div nullif(n1, 0)")))
        .unionAll(agg.select(lit("3_purchase_24h").as("step"), col("n3"),
          expr("(n3 * 1000000) div nullif(n1, 0)")))
    },
    Some("""WITH e AS (SELECT user_id, event_type,
              CAST(FLOOR(epoch(ts)) AS BIGINT) AS t FROM events),
            v AS (SELECT user_id, MIN(t) AS t1 FROM e
              WHERE event_type = 'view' GROUP BY 1),
            s2 AS (SELECT v.user_id, v.t1, MIN(c.t) AS t2
              FROM v LEFT JOIN e c ON c.user_id = v.user_id
                AND c.event_type = 'click'
                AND c.t > v.t1 AND c.t <= v.t1 + 86400
              GROUP BY 1, 2),
            s3 AS (SELECT s2.user_id, s2.t1, s2.t2, MIN(p.t) AS t3
              FROM s2 LEFT JOIN e p ON p.user_id = s2.user_id
                AND p.event_type = 'purchase'
                AND p.t > s2.t2 AND p.t <= s2.t2 + 86400
              GROUP BY 1, 2, 3),
            a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1,
                CAST(COUNT(t2) AS BIGINT) AS n2,
                CAST(COUNT(t3) AS BIGINT) AS n3 FROM s3)
            SELECT '1_view' AS step, n1 AS n_users,
              CAST(1000000 AS BIGINT) AS conv_x1e6 FROM a
            UNION ALL SELECT '2_click_24h', n2,
              (n2 * 1000000) // NULLIF(n1, 0) FROM a
            UNION ALL SELECT '3_purchase_24h', n3,
              (n3 * 1000000) // NULLIF(n1, 0) FROM a"""))

  /** SAMPLE-RATIO-MISMATCH guardrail — the pre-check [[abTest]]'s
    * readout is invalid without (SRM is the single most common A/B
    * bug: a broken assignment path silently starves one arm, and any
    * lift computed afterwards is fiction): per FIRST-SEEN day, the
    * arm counts of newly assigned users, the χ²₁ statistic
    * (n_a−n_b)²/(n_a+n_b) in ×1000 fixed point, and the 95% flag via
    * one cross-multiplied integer comparison ((n_a−n_b)²·100 >
    * 384·(n_a+n_b)). The DAILY series matters: a mid-experiment
    * assignment break shows as flags from one day onward, which the
    * experiment-total ratio dilutes.
    *
    * Scale shape: one per-user min-day aggregate (map-side combined),
    * one ≤ days-sized rollup; pure integers end to end.
    */
  val srm: QueryDef = QueryDef(
    "q_events_srm",
    (s, dir) => {
      val firstSeen = events(s, dir)
        .groupBy("user_id")
        .agg(min(expr("ts div 1000000000 div 86400")).as("day"))
        .withColumn("arm", col("user_id") % 2)
      firstSeen.groupBy("day")
        .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
        .select(col("day"), col("n_a"), col("n_b"),
          expr("((n_a - n_b) * (n_a - n_b) * 1000) div nullif(n_a + n_b, 0)")
            .as("z2_x1000"),
          expr("((n_a - n_b) * (n_a - n_b) * 100) > 384 * (n_a + n_b)")
            .as("srm_flag"))
    },
    Some("""WITH fs AS (SELECT user_id,
              MIN(CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400) AS day
            FROM events GROUP BY 1),
            d AS (SELECT day,
                CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
              FROM fs GROUP BY 1)
            SELECT day, n_a, n_b,
              ((n_a - n_b) * (n_a - n_b) * 1000) // NULLIF(n_a + n_b, 0)
                AS z2_x1000,
              ((n_a - n_b) * (n_a - n_b) * 100) > 384 * (n_a + n_b) AS srm_flag
            FROM d"""))

  /** USER-ACTIVITY POWER-LAW profile — the freq-of-freq histogram
    * behind every "whales vs long tail" read: users bucketed by
    * ⌊log₂(events)⌋ (bucket k holds users with 2ᵏ ≤ n < 2ᵏ⁺¹ —
    * spec-proven bounds), per bucket the user count, event mass, and
    * both shares ×10⁶. A heavy top bucket is the same signal
    * `q_skew_profile` reads pre-shuffle, here served as the
    * analytics-facing distribution table ([[rfm]] tells you WHO, this
    * tells you the SHAPE). log₂ via `length(bin(n)) − 1` — minimal
    * binary strings in BOTH engines, exact integers end to end.
    *
    * Scale shape: one per-user count shuffle (map-side combined),
    * then a ≤ 64-bucket rollup and a 1-row broadcast of the totals.
    */
  val powerLaw: QueryDef = QueryDef(
    "q_events_power_law",
    (s, dir) => {
      val per = events(s, dir).groupBy("user_id").agg(count(lit(1)).as("n"))
      val total = per.agg(count(lit(1)).as("n_users_total"),
        sum(col("n")).as("n_events_total"))
      per.withColumn("k", (length(bin(col("n"))) - 1).cast("long"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"),
          min(col("n")).as("min_events"), max(col("n")).as("max_events"))
        .crossJoin(broadcast(total))
        .select(col("k"), col("n_users"), col("n_events"),
          col("min_events"), col("max_events"),
          expr("(n_users * 1000000) div n_users_total").as("user_share_x1e6"),
          expr("(n_events * 1000000) div n_events_total").as("event_share_x1e6"))
    },
    Some("""WITH per AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
            t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu,
                CAST(SUM(n) AS BIGINT) AS ne FROM per),
            b AS (SELECT CAST(LENGTH(bin(n)) - 1 AS BIGINT) AS k, n FROM per)
            SELECT k, COUNT(*) AS n_users, CAST(SUM(n) AS BIGINT) AS n_events,
              MIN(n) AS min_events, MAX(n) AS max_events,
              (COUNT(*) * 1000000) // t.nu AS user_share_x1e6,
              (CAST(SUM(n) AS BIGINT) * 1000000) // t.ne AS event_share_x1e6
            FROM b CROSS JOIN t GROUP BY k, t.nu, t.ne"""))

  /** HOLT-WINTERS additive SEASONAL forecast — the weekly-cycle-aware
    * sibling of [[forecast]] (plain Holt forecasts every Monday-shaped
    * series wrong; the seasonal component absorbs the cycle): per
    * event type, triple exponential smoothing with α=β=γ=1/2 in exact
    * ×1000 fixed point and a 7-slot day-of-week seasonal state.
    * Init over the first 7 observations: level = their mean, trend 0,
    * s_dow = y − level (last-write-wins on a duplicate dow, 0 for an
    * unseen one); each later observation updates
    * l' = ((y − s_j) + l + t) div 2, t' = ((l' − l) + t) div 2,
    * s_j' = ((y − l') + s_j) div 2 with j = (day+3) mod 7 — the
    * CALENDAR dow, so a missing day skips cleanly instead of
    * shifting the season. Forecasts h=1..3 add the matching seasonal
    * slot: l + h·t + s_{(last_day+h+3) mod 7}. Spark folds each
    * series with one `aggregate` HOF (the [[holtOf]] precedent,
    * state = struct + 7-long array); the DuckDB twin threads the
    * identical state through a recursive CTE with s0..s6 columns.
    *
    * Scale shape: ONE corpus shuffle into ≤ types×days daily rows;
    * the fold runs per type over its own ≤ days-long array —
    * per-series state is 9 longs regardless of corpus size.
    */
  val holtWinters: QueryDef = QueryDef(
    "q_events_holt_winters",
    (s, dir) => {
      val daily = events(s, dir)
        .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
        .agg(count(lit(1)).as("y"))
      daily.groupBy("event_type")
        .agg(array_sort(collect_list(struct(col("day"), col("y")))).as("es"))
        .where(size(col("es")) >= 7)
        .withColumn("l0", expr(
          "(aggregate(slice(es, 1, 7), 0L, (a, e) -> a + e.y) * 1000L) div 7L"))
        .withColumn("sInit", expr(
          """aggregate(slice(es, 1, 7), array_repeat(0L, 7),
             (arr, e) -> transform(arr, (v, k) ->
               if(k = cast(pmod(e.day + 3, 7) as int), e.y * 1000L - l0, v)))"""))
        .withColumn("st", expr(
          """aggregate(slice(es, 8, size(es) - 7),
             named_struct('l', l0, 't', 0L, 's', sInit),
             (acc, e) -> named_struct(
               'l', ((e.y * 1000L - acc.s[cast(pmod(e.day + 3, 7) as int)])
                     + acc.l + acc.t) div 2L,
               't', ((((e.y * 1000L - acc.s[cast(pmod(e.day + 3, 7) as int)])
                       + acc.l + acc.t) div 2L - acc.l) + acc.t) div 2L,
               's', transform(acc.s, (v, k) ->
                 if(k = cast(pmod(e.day + 3, 7) as int),
                   ((e.y * 1000L
                     - ((e.y * 1000L - acc.s[cast(pmod(e.day + 3, 7) as int)])
                        + acc.l + acc.t) div 2L) + v) div 2L,
                   v))))"""))
        .withColumn("last_day", expr("es[size(es) - 1].day"))
        .select(col("event_type"), size(col("es")).cast("long").as("n_days"),
          col("st.l").as("level_x1000"), col("st.t").as("trend_x1000"),
          expr("st.l + 1L * st.t + st.s[cast(pmod(last_day + 4, 7) as int)]")
            .as("fc1_x1000"),
          expr("st.l + 2L * st.t + st.s[cast(pmod(last_day + 5, 7) as int)]")
            .as("fc2_x1000"),
          expr("st.l + 3L * st.t + st.s[cast(pmod(last_day + 6, 7) as int)]")
            .as("fc3_x1000"))
    },
    Some {
      def sj(day: String): String =
        s"CASE ($day + 3) % 7 WHEN 0 THEN s0 WHEN 1 THEN s1 WHEN 2 THEN s2 " +
          "WHEN 3 THEN s3 WHEN 4 THEN s4 WHEN 5 THEN s5 ELSE s6 END"
      def supd(k: Int): String =
        s"CASE WHEN j = $k THEN ((ynew - lp) + s$k) // 2 ELSE s$k END AS s$k"
      s"""WITH RECURSIVE daily AS (SELECT
            CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
            event_type, COUNT(*) AS y
          FROM events GROUP BY 1, 2),
          idx AS (SELECT event_type, day, y,
              CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                AS BIGINT) AS i,
              COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM daily),
          init AS (SELECT event_type, MAX(n) AS n,
              CAST((SUM(y) FILTER (WHERE i <= 7) * 1000) // 7 AS BIGINT) AS l0,
              MAX(day) AS last_day
            FROM idx GROUP BY 1 HAVING MAX(n) >= 7),
          firstw AS (SELECT event_type, (day + 3) % 7 AS k, y,
              ROW_NUMBER() OVER (PARTITION BY event_type, (day + 3) % 7
                ORDER BY i DESC) AS rnk
            FROM idx WHERE i <= 7),
          grid AS (SELECT event_type, l0, unnest(range(0, 7)) AS k FROM init),
          sv AS (SELECT g.event_type, g.k,
              COALESCE(MAX(f.y * 1000 - g.l0), 0) AS sv
            FROM grid g LEFT JOIN firstw f
              ON f.event_type = g.event_type AND f.k = g.k AND f.rnk = 1
            GROUP BY 1, 2),
          sp AS (SELECT event_type,
              CAST(MAX(CASE WHEN k = 0 THEN sv END) AS BIGINT) AS s0,
              CAST(MAX(CASE WHEN k = 1 THEN sv END) AS BIGINT) AS s1,
              CAST(MAX(CASE WHEN k = 2 THEN sv END) AS BIGINT) AS s2,
              CAST(MAX(CASE WHEN k = 3 THEN sv END) AS BIGINT) AS s3,
              CAST(MAX(CASE WHEN k = 4 THEN sv END) AS BIGINT) AS s4,
              CAST(MAX(CASE WHEN k = 5 THEN sv END) AS BIGINT) AS s5,
              CAST(MAX(CASE WHEN k = 6 THEN sv END) AS BIGINT) AS s6
            FROM sv GROUP BY 1),
          rec AS (
            SELECT init.event_type, CAST(7 AS BIGINT) AS i, l0 AS l,
              CAST(0 AS BIGINT) AS t, s0, s1, s2, s3, s4, s5, s6
            FROM init JOIN sp USING (event_type)
            UNION ALL
            SELECT event_type, i, lp AS l, ((lp - t0l) + t0t) // 2 AS t,
              ${(0 to 6).map(supd).mkString(", ")}
            FROM (SELECT r.event_type, r.i + 1 AS i, r.l AS t0l, r.t AS t0t,
                r.s0, r.s1, r.s2, r.s3, r.s4, r.s5, r.s6,
                ix.y * 1000 AS ynew, (ix.day + 3) % 7 AS j,
                ((ix.y * 1000 - (${sj("ix.day")})) + r.l + r.t) // 2 AS lp
              FROM rec r JOIN idx ix
                ON ix.event_type = r.event_type AND ix.i = r.i + 1))
          SELECT r.event_type, init.n AS n_days, r.l AS level_x1000,
            r.t AS trend_x1000,
            r.l + 1 * r.t + (${sj("init.last_day + 1")}) AS fc1_x1000,
            r.l + 2 * r.t + (${sj("init.last_day + 2")}) AS fc2_x1000,
            r.l + 3 * r.t + (${sj("init.last_day + 3")}) AS fc3_x1000
          FROM rec r JOIN init ON init.event_type = r.event_type
            AND r.i = init.n"""
    })

  /** LINEAR multi-touch attribution — the equal-credit model next to
    * [[attribution]]'s first/last-touch: every click/view in the 7
    * days STRICTLY before a purchase shares that purchase's value
    * equally (credit = cents·1000 div k, exact integers — the div
    * remainder is deliberately truncated per credit and both engines
    * truncate identically); a purchase with no prior touch credits
    * 'direct' in full. The standard marketing-mix triangulation next
    * to single-touch models (each over/under-counts differently).
    *
    * Scale shape: the touch-window join is keyed on user_id (range
    * predicate inside the user's partition — per-user activity
    * bounds the fanout); the per-purchase touch count is a window
    * partitioned by purchase id (bounded frames); 3-row rollup.
    */
  val attributionLinear: QueryDef = QueryDef(
    "q_events_attribution_linear",
    (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        col("value"), sec.as("t"), col("event_id"))
      val touches = e.where(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_type").as("channel"), col("t").as("tt"))
      val purch = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_eid"),
          expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"),
          col("t").as("tp"))
      val j = purch.join(touches,
        purch("user_id") === touches("user_id") &&
          col("tt") >= col("tp") - 604800L && col("tt") < col("tp"), "left")
      val wk = Window.partitionBy("p_eid")
      // value clamped at 0 IN BOTH ENGINES: credits divide with integral
      // truncation, and a negative amount (a refund row, should the
      // generator ever emit one) would expose any engine divergence on
      // negative division — the clamp pins the non-negative invariant
      // instead of assuming it
      j.withColumn("k", count(col("channel")).over(wk))
        .select(coalesce(col("channel"), lit("direct")).as("channel"),
          when(col("k") === 0L, greatest(col("cents"), lit(0L)) * 1000L)
            .otherwise(expr("(greatest(cents, 0) * 1000) div k")).as("credit"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_credits"),
          sum(col("credit")).cast("long").as("attributed_millicents"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, value,
              CAST(FLOOR(epoch(ts)) AS BIGINT) AS t, event_id FROM events),
          tt AS (SELECT user_id, event_type AS channel, t FROM e
            WHERE event_type IN ('click', 'view')),
          p AS (SELECT user_id, event_id AS p_eid,
              CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents, t AS tp
            FROM e WHERE event_type = 'purchase'),
          j AS (SELECT p.p_eid, p.cents, tt.channel
            FROM p LEFT JOIN tt ON tt.user_id = p.user_id
              AND tt.t >= p.tp - 604800 AND tt.t < p.tp),
          k AS (SELECT *, COUNT(channel) OVER (PARTITION BY p_eid) AS k FROM j),
          c AS (SELECT COALESCE(channel, 'direct') AS channel,
              CASE WHEN k = 0 THEN GREATEST(cents, 0) * 1000
                ELSE (GREATEST(cents, 0) * 1000) // k END AS credit FROM k)
          SELECT channel, COUNT(*) AS n_credits,
            CAST(SUM(credit) AS BIGINT) AS attributed_millicents
          FROM c GROUP BY 1"""))

  /** U-SHAPED (position-based, 40/20/40) multi-touch attribution —
    * the third standard model next to first/last ([[attribution]]) and
    * linear ([[attributionLinear]]): the FIRST and LAST touch in the
    * 7-day pre-purchase window each take 40% of the purchase value,
    * the middle touches share the remaining 20% equally. The edge
    * cases that break naive 40/20/40 splits are pinned explicitly:
    * ONE touch takes 100% (not 40), TWO touches take 50% each (not
    * 40+40 with 20 orphaned), zero touches credit 'direct' in full.
    * Exact integers throughout (millicents, integral div per credit,
    * value clamped at 0 in both engines — the [[attributionLinear]]
    * conventions); touch order is total via (time, event_id).
    *
    * Scale shape: identical to the linear model — the touch-window
    * join is keyed on user_id, the per-purchase rank/count windows
    * run over bounded frames (one purchase's touches), 3-row rollup.
    */
  val attributionUshaped: QueryDef = QueryDef(
    "q_events_attribution_ushaped",
    (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        col("value"), sec.as("t"), col("event_id"))
      val touches = e.where(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_type").as("channel"),
          col("t").as("tt"), col("event_id").as("t_eid"))
      val purch = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_eid"),
          expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"),
          col("t").as("tp"))
      val j = purch.join(touches,
        purch("user_id") === touches("user_id") &&
          col("tt") >= col("tp") - 604800L && col("tt") < col("tp"), "left")
      val wk = Window.partitionBy("p_eid")
      val wo = Window.partitionBy("p_eid").orderBy(col("tt"), col("t_eid"))
      j.withColumn("k", count(col("channel")).over(wk))
        .withColumn("rn", row_number().over(wo))
        .select(coalesce(col("channel"), lit("direct")).as("channel"),
          when(col("k") <= 1L, greatest(col("cents"), lit(0L)) * 1000L)
            .when(col("k") === 2L, expr("(greatest(cents, 0) * 1000) div 2"))
            .when(col("rn") === 1L || col("rn") === col("k"),
              expr("(greatest(cents, 0) * 1000 * 40) div 100"))
            .otherwise(expr("(greatest(cents, 0) * 1000 * 20) div (100 * (k - 2))"))
            .as("credit"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_credits"),
          sum(col("credit")).cast("long").as("attributed_millicents"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, value,
              CAST(FLOOR(epoch(ts)) AS BIGINT) AS t, event_id FROM events),
          tt AS (SELECT user_id, event_type AS channel, t, event_id FROM e
            WHERE event_type IN ('click', 'view')),
          p AS (SELECT user_id, event_id AS p_eid,
              CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents, t AS tp
            FROM e WHERE event_type = 'purchase'),
          j AS (SELECT p.p_eid, p.cents, tt.channel, tt.t, tt.event_id
            FROM p LEFT JOIN tt ON tt.user_id = p.user_id
              AND tt.t >= p.tp - 604800 AND tt.t < p.tp),
          k AS (SELECT *, COUNT(channel) OVER (PARTITION BY p_eid) AS k,
              ROW_NUMBER() OVER (PARTITION BY p_eid ORDER BY t, event_id) AS rn
            FROM j),
          c AS (SELECT COALESCE(channel, 'direct') AS channel,
              CASE WHEN k <= 1 THEN GREATEST(cents, 0) * 1000
                WHEN k = 2 THEN (GREATEST(cents, 0) * 1000) // 2
                WHEN rn = 1 OR rn = k THEN (GREATEST(cents, 0) * 1000 * 40) // 100
                ELSE (GREATEST(cents, 0) * 1000 * 20) // (100 * (k - 2)) END AS credit
            FROM k)
          SELECT channel, COUNT(*) AS n_credits,
            CAST(SUM(credit) AS BIGINT) AS attributed_millicents
          FROM c GROUP BY 1"""))

  /** AUDIENCE OVERLAP between event types — the cross-feature usage
    * matrix a product team reads before bundling or gating features
    * (and the audience-intersection primitive of ad-measurement
    * pipelines): for each observed type pair (a < b), the distinct
    * users doing BOTH, each side's audience size, and the Jaccard
    * overlap ×10⁶. Exact integers end-to-end.
    *
    * Scale shape: one (type, user) distinct pass shuffles on user; the
    * self-join is co-partitioned on user with ≤ types(=5) rows per
    * side, so per-user fanout is bounded by types²; the pair rollup is
    * ≤ types² rows and side counts ride a broadcast. Only OBSERVED
    * pairs emit (both engines inner-join), so empty corpora degrade
    * identically.
    */
  val audienceOverlap: QueryDef = QueryDef(
    "q_events_audience_overlap",
    (s, dir) => {
      val tu = events(s, dir)
        .select(col("event_type").as("et"), col("user_id").as("u")).distinct()
      val cnt = broadcast(tu.groupBy("et").agg(count(lit(1)).as("n")))
      tu.toDF("a", "u").join(tu.toDF("b", "u"), "u")
        .where(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n_both"))
        .join(cnt.toDF("a", "n_a"), "a")
        .join(cnt.toDF("b", "n_b"), "b")
        .select(col("a"), col("b"), col("n_a"), col("n_b"), col("n_both"),
          expr("(n_both * 1000000) div (n_a + n_b - n_both)").as("jaccard_x1e6"))
    },
    Some("""WITH tu AS (SELECT DISTINCT event_type AS et, user_id AS u FROM events),
          cnt AS (SELECT et, CAST(COUNT(*) AS BIGINT) AS n FROM tu GROUP BY 1),
          ib AS (SELECT a.et AS a, b.et AS b, CAST(COUNT(*) AS BIGINT) AS n_both
            FROM tu a JOIN tu b ON a.u = b.u AND a.et < b.et GROUP BY 1, 2)
          SELECT ib.a, ib.b, ca.n AS n_a, cb.n AS n_b, ib.n_both,
            CAST((ib.n_both * 1000000) // (ca.n + cb.n - ib.n_both) AS BIGINT)
              AS jaccard_x1e6
          FROM ib JOIN cnt ca ON ca.et = ib.a JOIN cnt cb ON cb.et = ib.b"""))

  /** BEHAVIORAL-DIVERSITY segmentation — per user, the Gini–Simpson
    * index of their event-type mix, D = 1 − Σ(cᵢ/n)², computed exactly
    * as (n² − Σcᵢ²)·10⁶ div n² (no logs — entropy's ln is not
    * bit-portable; Gini–Simpson is the standard log-free diversity),
    * rolled up to an (activity tier × diversity decile) grid with user
    * counts and the exact mean diversity per cell. Single-type users
    * (D = 0) in the high-activity tier are the classic automation
    * smell next to `q_events_bot_cadence`'s timing signal.
    *
    * Scale shape: one (user, type) count shuffle + one per-user fold
    * (both keyed aggregates, map-side partial); the grid is ≤ 3 × 10
    * rows. Int64 audit: (n² − Σcᵢ²)·10⁶ ≤ n²·10⁶ — fine to ~3M events
    * per user; beyond that the fold switches to decimal(38,0) (the
    * checksum convention).
    */
  val userDiversity: QueryDef = QueryDef(
    "q_events_user_diversity",
    (s, dir) => {
      val per = events(s, dir)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        .groupBy("user_id").agg(sum(col("c")).as("n"),
          sum(col("c") * col("c")).as("ss"))
        .withColumn("d", expr("((n * n - ss) * 1000000) div (n * n)"))
        .withColumn("tier", when(col("n") === 1, "single")
          .when(col("n") < 10, "low").otherwise("high"))
        .withColumn("bucket", expr("d div 100000"))
      per.groupBy("tier", "bucket")
        .agg(count(lit(1)).as("n_users"),
          expr("sum(d) div count(1)").as("avg_div_x1e6"))
    },
    Some("""WITH pc AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2),
          pu AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
              CAST(SUM(c * c) AS BIGINT) AS ss FROM pc GROUP BY 1),
          d AS (SELECT user_id,
              CAST(((n * n - ss) * 1000000) // (n * n) AS BIGINT) AS d,
              CASE WHEN n = 1 THEN 'single' WHEN n < 10 THEN 'low'
                ELSE 'high' END AS tier
            FROM pu)
          SELECT tier, CAST(d // 100000 AS BIGINT) AS bucket,
            CAST(COUNT(*) AS BIGINT) AS n_users,
            CAST(CAST(SUM(d) AS BIGINT) // COUNT(*) AS BIGINT) AS avg_div_x1e6
          FROM d GROUP BY 1, 2"""))

  /** MANN-WHITNEY U (rank-sum) test — the nonparametric twin of
    * [[abTest]]'s two-proportion readout: compares the purchase-VALUE
    * distribution between the two id-parity arms without assuming
    * normality (the standard readout when the metric is skewed
    * revenue, not a conversion flag). Exact integer arithmetic
    * throughout: tie-averaged ranks are computed from the VALUE
    * HISTOGRAM (ranks cum+1..cum+t at a tied value average to
    * (2·cum+t+1)/2, so DOUBLED rank sums stay integral), U follows
    * from 2R₁ − n₁(n₁+1), and the rank-biserial effect size ships as
    * a truncated ×1000 fixed-point on the non-negative |U_a − U_b|
    * (Spark div truncates, DuckDB // floors — identical only for
    * non-negative operands, the checksum convention).
    *
    * Scale shape: the corpus folds to a cents-value histogram in one
    * shuffle; the rank prefix-sum is a window over the (bounded)
    * distinct-value series, the [[changepoint]] precedent — never a
    * corpus-sized sort. Int64 audit: 2·rank sums ≤ 2N² — fine to ~2B
    * purchases; past that the fold casts to decimal(38,0).
    */
  val mannWhitney: QueryDef = QueryDef(
    "q_events_mannwhitney",
    (s, dir) => {
      val e = events(s, dir).where(col("event_type") === "purchase")
        .select(expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"),
          (col("user_id") % 2).as("arm"))
      val h = e.groupBy("cents").agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("cb"))
      val w = Window.orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
      val t = h
        .withColumn("cum", coalesce(sum(col("ca") + col("cb")).over(w), lit(0L)))
        .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
          sum(col("ca") * (col("cum") * 2 + col("ca") + col("cb") + 1)).as("rr2a"))
      t.withColumn("u2_a", col("rr2a") - col("n_a") * (col("n_a") + 1))
        .withColumn("u2_b", col("n_a") * col("n_b") * 2 - col("u2_a"))
        .select(col("n_a"), col("n_b"), col("u2_a"), col("u2_b"),
          expr("(500 * abs(u2_a - u2_b)) div nullif(n_a * n_b, 0)").as("effect_x1000"),
          (col("u2_a") > col("u2_b")).as("a_shift_up"))
    },
    Some("""WITH e AS (SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
              user_id % 2 AS arm
            FROM events WHERE event_type = 'purchase'),
          h AS (SELECT cents,
              CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
              CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
            FROM e GROUP BY 1),
          r AS (SELECT ca, cb,
              COALESCE(SUM(ca + cb) OVER (ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
            FROM h),
          t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
              CAST(SUM(cb) AS BIGINT) AS n_b,
              CAST(SUM(ca * (cum * 2 + ca + cb + 1)) AS BIGINT) AS rr2a
            FROM r),
          u AS (SELECT n_a, n_b,
              rr2a - n_a * (n_a + 1) AS u2_a,
              n_a * n_b * 2 - (rr2a - n_a * (n_a + 1)) AS u2_b
            FROM t)
          SELECT n_a, n_b, u2_a, u2_b,
            CAST((500 * abs(u2_a - u2_b)) // NULLIF(n_a * n_b, 0) AS BIGINT) AS effect_x1000,
            u2_a > u2_b AS a_shift_up
          FROM u"""))

  /** CHI-SQUARE independence audit of event_type × day-of-week — the
    * contingency-table sibling of [[dowEffect]]'s one-way variance
    * decomposition: is traffic MIX (not just volume) day-dependent?
    * χ² = Σ (o·N − r·c)² / (N·r·c) over the FULL T×7 grid (absent
    * cells contribute their expected mass — dropping them understates
    * the statistic), each term a truncated ×1000 fixed-point in
    * decimal(38,0)/HUGEINT so both engines sum identical integers.
    *
    * Scale shape: the corpus folds to ≤ T×7 observed cells in one
    * shuffle; the grid completion is a T×7 cross join of two tiny
    * aggregates; output is one row. The decimal(38,0) term math holds
    * to N ≈ 10⁹ events; a 100 TB log first rolls up to daily counts.
    */
  val chiSquare: QueryDef = QueryDef(
    "q_events_chisq",
    (s, dir) => {
      val cells = events(s, dir)
        .groupBy(col("event_type").as("et"),
          expr("pmod(ts div 1000000000 div 86400 + 3, 7)").as("dow"))
        .agg(count(lit(1)).as("o"))
      val rowsT = cells.groupBy("et").agg(sum(col("o")).as("r"))
      val colsT = cells.groupBy("dow").agg(sum(col("o")).as("c"))
      val tot = cells.agg(sum(col("o")).as("nn"))
      val grid = rowsT.crossJoin(colsT)
        .join(cells, Seq("et", "dow"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("num", expr(
          "cast(o as decimal(38,0)) * nn - cast(r as decimal(38,0)) * c"))
      grid.agg(
        max(col("nn")).as("n"),
        countDistinct(col("et")).as("n_types"),
        countDistinct(col("dow")).as("n_dows"),
        sum(expr(
          "(num * num * 1000) div (cast(nn as decimal(38,0)) * r * c)"))
          .as("chi2_x1000"))
        .select(col("n"), col("n_types"), col("n_dows"),
          ((col("n_types") - 1) * (col("n_dows") - 1)).as("dof"),
          col("chi2_x1000"))
    },
    Some("""WITH cells AS (SELECT event_type AS et,
              (CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 + 3) % 7 AS dow,
              CAST(COUNT(*) AS BIGINT) AS o
            FROM events GROUP BY 1, 2),
          rt AS (SELECT et, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
          ct AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
          tt AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM cells),
          grid AS (SELECT rt.et, ct.dow, rt.r, ct.c,
              COALESCE(cells.o, 0) AS o, tt.nn,
              (CAST(COALESCE(cells.o, 0) AS HUGEINT) * tt.nn
                - CAST(rt.r AS HUGEINT) * ct.c) AS num
            FROM rt CROSS JOIN ct CROSS JOIN tt
            LEFT JOIN cells ON cells.et = rt.et AND cells.dow = ct.dow)
          SELECT MAX(nn) AS n,
            CAST(COUNT(DISTINCT et) AS BIGINT) AS n_types,
            CAST(COUNT(DISTINCT dow) AS BIGINT) AS n_dows,
            (CAST(COUNT(DISTINCT et) AS BIGINT) - 1)
              * (CAST(COUNT(DISTINCT dow) AS BIGINT) - 1) AS dof,
            CAST(SUM((num * num * 1000)
              // (CAST(nn AS HUGEINT) * r * c)) AS BIGINT) AS chi2_x1000
          FROM grid"""))

  /** FANO FACTOR (index of dispersion) burstiness audit — is a
    * type's daily volume Poisson-like (Fano ≈ 1), sub-dispersed
    * (throttled/scheduled, < 1) or BURSTY (incident- or campaign-
    * driven, ≫ 1)? The dispersion read behind [[cusum]]'s sequential
    * alarm and [[dowEffect]]'s cycle test: variance/mean of the daily
    * count series per type, exact ×1000 fixed point via
    * (n·Σy² − S²)·1000 div ((n−1)·S) — sample variance over mean with
    * one truncated integral division, engine-identical (non-negative:
    * n·Σy² ≥ S² by Cauchy-Schwarz).
    *
    * Scale shape: the corpus folds to the ≤ types×days daily grid in
    * one shuffle; the dispersion fold is a types-sized aggregate.
    * Int64 audit: n·Σy²·1000 — fine to ~10⁶ events/day/type over 30
    * days; a 100 TB log's grid is still types×days.
    */
  val fano: QueryDef = QueryDef(
    "q_events_fano",
    (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"),
          expr("ts div 1000000000 div 86400").as("day"))
        .agg(count(lit(1)).as("y"))
      daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum(col("y")).as("n_events"),
          sum(col("y") * col("y")).as("ssq"))
        .select(col("event_type"), col("n_days"), col("n_events"),
          expr("(n_events * 1000) div n_days").as("mean_x1000"),
          expr("""((n_days * ssq - n_events * n_events) * 1000)
                  div nullif((n_days - 1) * n_events, 0)""").as("fano_x1000"))
    },
    Some("""WITH daily AS (SELECT event_type,
              CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
              CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2),
          t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
              CAST(SUM(y) AS BIGINT) AS n_events,
              CAST(SUM(y * y) AS BIGINT) AS ssq
            FROM daily GROUP BY 1)
          SELECT event_type, n_days, n_events,
            (n_events * 1000) // n_days AS mean_x1000,
            CAST(((n_days * ssq - n_events * n_events) * 1000)
              // NULLIF((n_days - 1) * n_events, 0) AS BIGINT) AS fano_x1000
          FROM t"""))

  /** JSON SCHEMA DISCOVERY — the semi-structured twin of a relational
    * schema catalog ([[jsonExtract]] reads ONE known key; this
    * inventories ALL of them): per event type, every key appearing in
    * the `props` JSON column with its occurrence count and presence
    * rate ×1000 — the report that catches producer drift (a key
    * appearing on 40% of events was probably added mid-stream; a key
    * at 100.0% is contract). Malformed/null JSON contributes no keys
    * but still counts in the denominator, so presence rates reflect
    * the real payload population.
    *
    * Scale shape: one map-side key explode + a (type, key) aggregate
    * joined to a types-sized total; output ≤ types × distinct keys.
    */
  val jsonKeys: QueryDef = QueryDef(
    "q_events_json_keys",
    (s, dir) => {
      val e = events(s, dir)
      val tot = e.groupBy("event_type").agg(count(lit(1)).as("n_events"))
      val keys = e
        .select(col("event_type"), explode(json_object_keys(col("props"))).as("key"))
        .groupBy("event_type", "key").agg(count(lit(1)).as("n_present"))
      keys.join(broadcast(tot), Seq("event_type"))
        .select(col("event_type"), col("key"), col("n_present"), col("n_events"),
          expr("(n_present * 1000) div n_events").as("presence_x1000"))
    },
    Some("""WITH tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1),
          k AS (SELECT event_type, unnest(json_keys(TRY_CAST(props AS JSON))) AS key
            FROM events),
          kc AS (SELECT event_type, key, CAST(COUNT(*) AS BIGINT) AS n_present
            FROM k GROUP BY 1, 2)
          SELECT kc.event_type, kc.key, kc.n_present, tot.n_events,
            (kc.n_present * 1000) // tot.n_events AS presence_x1000
          FROM kc JOIN tot ON tot.event_type = kc.event_type"""))

  /** DIFFERENCE-IN-DIFFERENCES — the quasi-experimental twin of
    * [[abTest]]'s randomized readout: when assignment is NOT
    * randomized (a feature shipped to arm A at time T), the naive
    * post-period arm gap confounds treatment with pre-existing arm
    * differences; DiD nets them out as (post−pre gap of A) − (post−pre
    * gap of B). Arms are the id-parity split (the [[mannWhitney]]
    * convention), the policy boundary is the deterministic midpoint of
    * the observed day range, the metric is mean purchase cents per
    * event. Integer throughout: per-cell means are truncated cents
    * (div on non-negative operands — the checksum convention), the DiD
    * estimate a difference of those materialized means.
    *
    * Scale shape: one filter + one 4-cell conditional fold (map-side
    * combine) against a broadcast 1-row bounds scalar; output 1 row.
    */
  val didQ: QueryDef = QueryDef(
    "q_events_did",
    (s, dir) => {
      val e = events(s, dir).where(col("event_type") === "purchase")
        .select(expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"),
          (col("user_id") % 2).as("arm"),
          expr("ts div 1000000000 div 86400").as("day"))
      val b = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(expr("(d0 + d1 + 1) div 2").as("mid"))
      val cell = e.crossJoin(broadcast(b))
        .withColumn("post", (col("day") >= col("mid")).cast("int"))
      def n(a: Int, p: Int) =
        sum(when(col("arm") === a && col("post") === p, 1L).otherwise(0L))
      def v(a: Int, p: Int) =
        sum(when(col("arm") === a && col("post") === p, col("cents")).otherwise(0L))
      cell.agg(
          n(0, 0).as("n_pre_a"), n(0, 1).as("n_post_a"),
          n(1, 0).as("n_pre_b"), n(1, 1).as("n_post_b"),
          v(0, 0).as("v_pre_a"), v(0, 1).as("v_post_a"),
          v(1, 0).as("v_pre_b"), v(1, 1).as("v_post_b"))
        .select(col("n_pre_a"), col("n_post_a"), col("n_pre_b"), col("n_post_b"),
          expr("v_pre_a div nullif(n_pre_a, 0)").as("mean_pre_a_cents"),
          expr("v_post_a div nullif(n_post_a, 0)").as("mean_post_a_cents"),
          expr("v_pre_b div nullif(n_pre_b, 0)").as("mean_pre_b_cents"),
          expr("v_post_b div nullif(n_post_b, 0)").as("mean_post_b_cents"))
        .withColumn("did_cents",
          expr("""(mean_post_a_cents - mean_pre_a_cents)
                  - (mean_post_b_cents - mean_pre_b_cents)"""))
    },
    Some("""WITH e AS (SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
              user_id % 2 AS arm,
              CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day
            FROM events WHERE event_type = 'purchase'),
          b AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM e),
          c AS (SELECT
              CAST(SUM(CASE WHEN arm = 0 AND day <  mid THEN 1 ELSE 0 END) AS BIGINT) AS n_pre_a,
              CAST(SUM(CASE WHEN arm = 0 AND day >= mid THEN 1 ELSE 0 END) AS BIGINT) AS n_post_a,
              CAST(SUM(CASE WHEN arm = 1 AND day <  mid THEN 1 ELSE 0 END) AS BIGINT) AS n_pre_b,
              CAST(SUM(CASE WHEN arm = 1 AND day >= mid THEN 1 ELSE 0 END) AS BIGINT) AS n_post_b,
              CAST(SUM(CASE WHEN arm = 0 AND day <  mid THEN cents ELSE 0 END) AS BIGINT) AS v_pre_a,
              CAST(SUM(CASE WHEN arm = 0 AND day >= mid THEN cents ELSE 0 END) AS BIGINT) AS v_post_a,
              CAST(SUM(CASE WHEN arm = 1 AND day <  mid THEN cents ELSE 0 END) AS BIGINT) AS v_pre_b,
              CAST(SUM(CASE WHEN arm = 1 AND day >= mid THEN cents ELSE 0 END) AS BIGINT) AS v_post_b
            FROM e CROSS JOIN b),
          m AS (SELECT n_pre_a, n_post_a, n_pre_b, n_post_b,
              v_pre_a  // NULLIF(n_pre_a, 0)  AS mean_pre_a_cents,
              v_post_a // NULLIF(n_post_a, 0) AS mean_post_a_cents,
              v_pre_b  // NULLIF(n_pre_b, 0)  AS mean_pre_b_cents,
              v_post_b // NULLIF(n_post_b, 0) AS mean_post_b_cents
            FROM c)
          SELECT *, (mean_post_a_cents - mean_pre_a_cents)
              - (mean_post_b_cents - mean_pre_b_cents) AS did_cents
          FROM m"""))

  /** PARTIAL autocorrelation (PACF, lags 1–3) — the model-order
    * companion of [[acf]]: ACF at lag k mixes direct dependence with
    * dependence routed through intermediate lags; PACF nets the
    * shorter lags out (Durbin–Levinson recursion), which is the
    * number an AR-order choice actually reads (an AR(1) series shows
    * decaying ACF at every lag but PACF ≈ 0 past lag 1). Computed on
    * the zero-filled daily count series per event type with a single
    * global mean (the standard time-series definition — unlike ACF's
    * per-lag-pair means), autocovariances assembled from integer
    * sums, and the recursion evaluated as an IDENTICAL double
    * expression chain in both engines (the [[acf]] parity
    * convention: integers until one deterministic double tail).
    *
    * Scale shape: the series is the bounded daily grid (≤ types ×
    * days rows); three self-joins on day+k keyed by type, integer
    * folds, 1-row-per-type double tail. Nothing corpus-sized.
    */
  val pacf: QueryDef = QueryDef(
    "q_events_pacf",
    (s, dir) => {
      val daily = events(s, dir)
        .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
        .agg(count(lit(1)).as("y"))
      val dense = daily.groupBy("event_type")
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("event_type"), explode(sequence(col("d0"), col("d1"))).as("day"))
        .join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("y"), lit(0L)).as("y"))
        .localCheckpoint()
      val tot = dense.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("y")).as("s"),
          sum(col("y") * col("y")).as("ss"))
      val lagged = dense.select(col("event_type"), col("day"), col("y").as("x"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .withColumn("day2", col("day") + col("k"))
        .join(dense.select(col("event_type"), col("day").as("day2"),
          col("y").as("yy")), Seq("event_type", "day2"))
        .groupBy("event_type", "k")
        .agg(sum(col("x") * col("yy")).as("sxy"),
          sum(col("x")).as("sx"), sum(col("yy")).as("sy"))
      def pick(k: Int, c: String) =
        max(when(col("k") === k, col(c))).as(s"$c$k")
      val wide = lagged.groupBy("event_type").agg(
        pick(1, "sxy"), pick(2, "sxy"), pick(3, "sxy"),
        pick(1, "sx"), pick(2, "sx"), pick(3, "sx"),
        pick(1, "sy"), pick(2, "sy"), pick(3, "sy"))
      tot.join(wide, Seq("event_type"))
        .withColumn("mu", expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("c0", expr("CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * mu"))
        .withColumn("c1", expr(
          "CAST(sxy1 AS DOUBLE) - mu * CAST(sx1 + sy1 AS DOUBLE) + CAST(n - 1 AS DOUBLE) * mu * mu"))
        .withColumn("c2", expr(
          "CAST(sxy2 AS DOUBLE) - mu * CAST(sx2 + sy2 AS DOUBLE) + CAST(n - 2 AS DOUBLE) * mu * mu"))
        .withColumn("c3", expr(
          "CAST(sxy3 AS DOUBLE) - mu * CAST(sx3 + sy3 AS DOUBLE) + CAST(n - 3 AS DOUBLE) * mu * mu"))
        .withColumn("rho1", expr("c1 / NULLIF(c0, 0)"))
        .withColumn("rho2", expr("c2 / NULLIF(c0, 0)"))
        .withColumn("rho3", expr("c3 / NULLIF(c0, 0)"))
        .withColumn("pacf1", col("rho1"))
        .withColumn("pacf2", expr(
          "(rho2 - rho1 * rho1) / NULLIF(1 - rho1 * rho1, 0)"))
        .withColumn("phi21", expr("rho1 - pacf2 * rho1"))
        .withColumn("pacf3", expr(
          """(rho3 - phi21 * rho2 - pacf2 * rho1)
             / NULLIF(1 - phi21 * rho1 - pacf2 * rho2, 0)"""))
        .select(col("event_type"), col("n").as("n_days"),
          col("rho1"), col("rho2"), col("rho3"),
          col("pacf1"), col("pacf2"), col("pacf3"))
    },
    Some("""WITH daily AS (SELECT
              CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
              event_type, COUNT(*) AS y
            FROM events GROUP BY 1, 2),
          b AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
            FROM daily GROUP BY 1),
          grid AS (SELECT event_type, UNNEST(range(d0, d1 + 1)) AS day FROM b),
          dense AS (SELECT g.event_type, g.day,
              CAST(COALESCE(d.y, 0) AS BIGINT) AS y
            FROM grid g LEFT JOIN daily d
              ON d.event_type = g.event_type AND d.day = g.day),
          tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(y) AS BIGINT) AS s,
              CAST(SUM(y * y) AS BIGINT) AS ss
            FROM dense GROUP BY 1),
          lags AS (SELECT CAST(UNNEST([1, 2, 3]) AS BIGINT) AS k),
          p AS (SELECT a.event_type, l.k, a.y AS x, b2.y AS yy
            FROM dense a CROSS JOIN lags l
            JOIN dense b2 ON b2.event_type = a.event_type
              AND b2.day = a.day + l.k),
          m AS (SELECT event_type, k,
              CAST(SUM(x * yy) AS BIGINT) AS sxy,
              CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(yy) AS BIGINT) AS sy
            FROM p GROUP BY 1, 2),
          wide AS (SELECT event_type,
              MAX(CASE WHEN k = 1 THEN sxy END) AS sxy1,
              MAX(CASE WHEN k = 2 THEN sxy END) AS sxy2,
              MAX(CASE WHEN k = 3 THEN sxy END) AS sxy3,
              MAX(CASE WHEN k = 1 THEN sx END) AS sx1,
              MAX(CASE WHEN k = 2 THEN sx END) AS sx2,
              MAX(CASE WHEN k = 3 THEN sx END) AS sx3,
              MAX(CASE WHEN k = 1 THEN sy END) AS sy1,
              MAX(CASE WHEN k = 2 THEN sy END) AS sy2,
              MAX(CASE WHEN k = 3 THEN sy END) AS sy3
            FROM m GROUP BY 1),
          d1 AS (SELECT t.*, w.sxy1, w.sxy2, w.sxy3, w.sx1, w.sx2, w.sx3,
              w.sy1, w.sy2, w.sy3,
              CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu
            FROM tot t JOIN wide w USING (event_type)),
          d2 AS (SELECT *,
              CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * mu AS c0,
              CAST(sxy1 AS DOUBLE) - mu * CAST(sx1 + sy1 AS DOUBLE) + CAST(n - 1 AS DOUBLE) * mu * mu AS c1,
              CAST(sxy2 AS DOUBLE) - mu * CAST(sx2 + sy2 AS DOUBLE) + CAST(n - 2 AS DOUBLE) * mu * mu AS c2,
              CAST(sxy3 AS DOUBLE) - mu * CAST(sx3 + sy3 AS DOUBLE) + CAST(n - 3 AS DOUBLE) * mu * mu AS c3
            FROM d1),
          d3 AS (SELECT *, c1 / NULLIF(c0, 0) AS rho1,
              c2 / NULLIF(c0, 0) AS rho2, c3 / NULLIF(c0, 0) AS rho3
            FROM d2),
          d4 AS (SELECT *, rho1 AS pacf1,
              (rho2 - rho1 * rho1) / NULLIF(1 - rho1 * rho1, 0) AS pacf2
            FROM d3),
          d5 AS (SELECT *, rho1 - pacf2 * rho1 AS phi21 FROM d4)
          SELECT event_type, n AS n_days, rho1, rho2, rho3, pacf1, pacf2,
            (rho3 - phi21 * rho2 - pacf2 * rho1)
              / NULLIF(1 - phi21 * rho1 - pacf2 * rho2, 0) AS pacf3
          FROM d5"""))

  /** NEXT-EVENT PREDICTABILITY — the entropy-rate read on the
    * [[markov]] transition structure, with [[userDiversity]]'s
    * integer-exact Gini–Simpson diversity in place of Shannon entropy
    * (log parity across engines is last-ulp-fragile; the collision
    * probability 1 − Σp² ranks states identically and stays in exact
    * arithmetic): per current event type, how concentrated is the
    * NEXT event's distribution? Low diversity = scripted flows (good
    * bot/funnel signal); high = genuine branching. Ships the top next
    * state and its share (deterministic tie-break by type name) —
    * the pair a session-design review actually reads.
    *
    * Scale shape: one windowed lead per user (the markov shuffle),
    * one (from, to) fold, one from-level fold; output ≤ |types| rows.
    */
  val predictability: QueryDef = QueryDef(
    "q_events_predictability",
    (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        sec.as("t"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
      val cells = e.withColumn("next_type", lead(col("event_type"), 1).over(w))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val top = cells.withColumn("rk", row_number().over(
          Window.partitionBy("from_type").orderBy(col("n").desc, col("to_type"))))
        .where(col("rk") === 1)
        .select(col("from_type"), col("to_type").as("top_to_type"),
          col("n").as("top_n"))
      cells.groupBy("from_type")
        .agg(sum(col("n")).as("n_trans"),
          count(lit(1)).as("n_next_types"),
          sum(col("n") * col("n")).as("ss"))
        .join(top, Seq("from_type"))
        .select(col("from_type"), col("n_trans"), col("n_next_types"),
          expr("((n_trans * n_trans - ss) * 1000000) div (n_trans * n_trans)")
            .as("gini_next_x1e6"),
          col("top_to_type"),
          expr("(top_n * 1000) div n_trans").as("top_share_x1000"))
    },
    Some("""WITH e AS (SELECT user_id, event_type,
              CAST(FLOOR(epoch(ts)) AS BIGINT) AS t, event_id FROM events),
          s AS (SELECT event_type AS from_type,
              LEAD(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id)
                AS to_type FROM e),
          c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n FROM s
            WHERE to_type IS NOT NULL GROUP BY 1, 2),
          top AS (SELECT from_type, to_type AS top_to_type, n AS top_n FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY from_type
                ORDER BY n DESC, to_type) AS rk FROM c) x WHERE rk = 1),
          f AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_trans,
              CAST(COUNT(*) AS BIGINT) AS n_next_types,
              CAST(SUM(n * n) AS BIGINT) AS ss
            FROM c GROUP BY 1)
          SELECT f.from_type, f.n_trans, f.n_next_types,
            ((n_trans * n_trans - ss) * 1000000) // (n_trans * n_trans)
              AS gini_next_x1e6,
            t.top_to_type, (t.top_n * 1000) // f.n_trans AS top_share_x1000
          FROM f JOIN top t USING (from_type)"""))

  /** CUPED variance reduction (Deng et al. 2013, "Improving the
    * sensitivity of online controlled experiments") — the modern
    * experimentation-platform standard next to [[didQ]]: each user's
    * PRE-period value is a covariate that explains away baseline
    * variance, shrinking the post-period metric's variance by the
    * squared pre/post correlation without touching the expectation
    * (θ is pooled across arms, so the adjustment is assignment-
    * independent). Per user: x = pre-boundary purchase cents, y =
    * post-boundary cents (the [[didQ]] midpoint boundary); θ =
    * cov(x,y)/var(x) from pooled integer moments; ships per-arm raw
    * means, the raw and CUPED-adjusted arm differences (the global
    * x̄ terms cancel in the difference), θ, and the variance-retained
    * ratio 1 − ρ² — all one deterministic double tail over exact
    * integer sums (the [[pacf]] parity convention).
    *
    * Scale shape: one per-user fold (the RFM shuffle), one 1-row
    * moment fold, double tail on the driver-sized result.
    */
  val cuped: QueryDef = QueryDef(
    "q_events_cuped",
    (s, dir) => {
      val e = events(s, dir).where(col("event_type") === "purchase")
        .select(expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"),
          col("user_id"),
          expr("ts div 1000000000 div 86400").as("day"))
      val b = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(expr("(d0 + d1 + 1) div 2").as("mid"))
      val per = e.crossJoin(broadcast(b))
        .groupBy("user_id")
        .agg(sum(when(col("day") < col("mid"), col("cents")).otherwise(0L)).as("x"),
          sum(when(col("day") >= col("mid"), col("cents")).otherwise(0L)).as("y"))
        .withColumn("arm", col("user_id") % 2)
      per.agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("y") * col("y")).as("syy"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 0, col("x")).otherwise(0L)).as("sx_a"),
          sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("sy_a"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("arm") === 1, col("x")).otherwise(0L)).as("sx_b"),
          sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("sy_b"))
        .withColumn("covxy", expr(
          "CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("varx", expr(
          "CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("vary", expr(
          "CAST(n * syy - sy * sy AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("theta", expr("covxy / NULLIF(varx, 0)"))
        .withColumn("var_retained", expr(
          "1 - covxy * covxy / NULLIF(varx * vary, 0)"))
        .withColumn("diff_raw", expr(
          """CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             - CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)"""))
        .withColumn("diff_cuped", expr(
          """(CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              - theta * (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)))
             - (CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
              - theta * (CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)))"""))
        .select(col("n").as("n_users"), col("n_a"), col("n_b"),
          col("theta"), col("var_retained"), col("diff_raw"), col("diff_cuped"))
    },
    Some("""WITH e AS (SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
              user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day
            FROM events WHERE event_type = 'purchase'),
          b AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM e),
          per AS (SELECT user_id,
              CAST(SUM(CASE WHEN day < mid THEN cents ELSE 0 END) AS BIGINT) AS x,
              CAST(SUM(CASE WHEN day >= mid THEN cents ELSE 0 END) AS BIGINT) AS y,
              user_id % 2 AS arm
            FROM e CROSS JOIN b GROUP BY user_id),
          m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
              CAST(SUM(x * x) AS BIGINT) AS sxx,
              CAST(SUM(x * y) AS BIGINT) AS sxy,
              CAST(SUM(y * y) AS BIGINT) AS syy,
              CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
              CAST(SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
              CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
              CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
              CAST(SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
              CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b
            FROM per),
          d1 AS (SELECT *,
              CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) AS covxy,
              CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) AS varx,
              CAST(n * syy - sy * sy AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) AS vary
            FROM m),
          d2 AS (SELECT *, covxy / NULLIF(varx, 0) AS theta,
              1 - covxy * covxy / NULLIF(varx * vary, 0) AS var_retained
            FROM d1)
          SELECT n AS n_users, n_a, n_b, theta, var_retained,
            CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS diff_raw,
            (CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              - theta * (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)))
             - (CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
              - theta * (CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE))) AS diff_cuped
          FROM d2"""))

  /** EXPERIMENT POWER / SAMPLE-SIZE calculator — the number read
    * BEFORE launching what [[abTest]]/[[cuped]] read after: from the
    * observed per-user purchase-cents distribution, the users-per-arm
    * needed to detect a 1% / 5% / 10% lift of the mean at α = 0.05
    * (two-sided) and 80% power — n = 2σ²(z₀.₉₇₅ + z₀.₈)²/δ², the
    * standard two-sample normal approximation with the z constants
    * (1.959964 + 0.841621) written as one literal in both engines.
    * Also ships the detectable lift at the CURRENT population size
    * (the inverse read: "with the users we have, what effect could
    * we even see?"). Integer moments → one double tail; CEIL of the
    * same IEEE double is engine-identical.
    *
    * Scale shape: one per-user fold + one 1-row moment fold; the
    * 3-row lift grid is a literal explode.
    */
  val powerCalc: QueryDef = QueryDef(
    "q_events_power",
    (s, dir) => {
      val per = events(s, dir).where(col("event_type") === "purchase")
        .select(expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"),
          col("user_id"))
        .groupBy("user_id").agg(sum(col("cents")).as("y"))
      val m = per.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum(col("y") * col("y")).as("syy"))
      m.select(col("n"), explode(array(lit(1L), lit(5L), lit(10L))).as("lift_pct"),
          col("sy"), col("syy"))
        .withColumn("mu", expr("CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("var_y", expr(
          "CAST(n * syy - sy * sy AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE)"))
        .withColumn("delta", expr("mu * CAST(lift_pct AS DOUBLE) / 100"))
        .withColumn("n_required", expr(
          """CAST(CEIL(2 * var_y * 2.8015854724 * 2.8015854724
             / NULLIF(delta * delta, 0)) AS BIGINT)"""))
        .withColumn("detectable_lift_x10000", expr(
          """CAST(CEIL(SQRT(2 * var_y * 2.8015854724 * 2.8015854724
             / (CAST(n AS DOUBLE) / 2)) / NULLIF(mu, 0) * 10000) AS BIGINT)"""))
        .select(col("n").as("n_users"), col("lift_pct"), col("mu"),
          col("var_y"), col("n_required"), col("detectable_lift_x10000"))
    },
    Some("""WITH per AS (SELECT user_id,
              CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
            FROM events WHERE event_type = 'purchase' GROUP BY 1),
          m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(y) AS BIGINT) AS sy,
              CAST(SUM(y * y) AS BIGINT) AS syy
            FROM per),
          g AS (SELECT n, CAST(UNNEST([1, 5, 10]) AS BIGINT) AS lift_pct,
              sy, syy FROM m),
          d1 AS (SELECT *, CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
              CAST(n * syy - sy * sy AS DOUBLE) / CAST(n AS DOUBLE)
                / CAST(n - 1 AS DOUBLE) AS var_y
            FROM g),
          d2 AS (SELECT *, mu * CAST(lift_pct AS DOUBLE) / 100 AS delta FROM d1)
          SELECT n AS n_users, lift_pct, mu, var_y,
            CAST(CEIL(2 * var_y * 2.8015854724 * 2.8015854724
              / NULLIF(delta * delta, 0)) AS BIGINT) AS n_required,
            CAST(CEIL(SQRT(2 * var_y * 2.8015854724 * 2.8015854724
              / (CAST(n AS DOUBLE) / 2)) / NULLIF(mu, 0) * 10000) AS BIGINT)
              AS detectable_lift_x10000
          FROM d2"""))

  val defs: Seq[QueryDef] =
    Seq(window1h, sessionize, asofJoin, jsonExtract, funnel, retention,
      anomaly, pattern, patternCart, patternRetry, topkWindow, resample, scd2,
      winsorize, hopping, trend, attribution, markov, madOutliers, conversionLag,
      rfm, abTest, changepoint, seqPatterns, forecast, rolling, heatmap, cusum,
      twa, concurrency, stickiness, gapAudit, acf, survival, rollingDau,
      seasonalDecompose, theilSen, asofTolerance, holtWinters, anomalySeasonal,
      powerLaw, rollingDauHll, scd2Lookup, botCadence, srm, hwBacktest,
      funnelWindowed, growthAccounting, sloBurn, retentionDn, dowEffect,
      audienceOverlap, userDiversity, attributionLinear,
      attributionUshaped, sessionPaths, asofNearest, mannWhitney, chiSquare,
      fano, jsonKeys, didQ, pacf, predictability, cuped, powerCalc)
}

/** Reusable MATCH_RECOGNIZE-shaped surface (round 8 — generalized from
  * the two hard-coded `q_events_pattern` motifs): each entity's event
  * history becomes ONE ordered letter string, and any number of named
  * regex motifs are counted per entity in the same pass.
  *
  * Scale shape (unchanged from the original): ONE shuffle on the
  * entity key; each group's string is bounded by that entity's own
  * activity (the sessionize per-entity bound — a pathological single-
  * entity history would shard by (entity, day) first), and the regex
  * pass is per-group map work, no second shuffle. Motif regexes must
  * stay in the dialect-safe subset both Java regex and RE2 agree on:
  * literal alphabet letters, classes, the plus/star/{n,} quantifiers,
  * anchors — no lookaround (RE2 has none), no backreferences.
  */
object PatternQueries {

  /** The default event alphabet: event_type → one letter. */
  val Alphabet: Seq[(String, String)] = Seq(
    "click" -> "C", "error" -> "E", "purchase" -> "P", "signup" -> "S")
  val AlphabetDefault = "V" // view

  private def letterExpr(alphabet: Seq[(String, String)], default: String) =
    alphabet.foldRight(lit(default): org.apache.spark.sql.Column) {
      case ((k, v), acc) => when(col("event_type") === k, lit(v)).otherwise(acc)
    }

  /** Count non-overlapping matches of each `(name, regex)` motif over
    * every entity's ordered history string: one row per entity with
    * (entity, n_events, <one count column per motif>).
    */
  def matchPattern(events: DataFrame,
      motifs: Seq[(String, String)],
      entityCol: String = "user_id",
      alphabet: Seq[(String, String)] = Alphabet,
      default: String = AlphabetDefault): DataFrame = {
    val counts = motifs.map { case (name, re) =>
      size(expr(s"regexp_extract_all(seq, '$re', 0)")).cast("long").as(name)
    }
    events
      .select(col(entityCol),
        // ts is the raw nanosecond Long (see the `events` loader) —
        // sorting it is exactly the timestamp order DuckDB uses
        struct(col("ts"), col("event_id"),
          letterExpr(alphabet, default).as("l")).as("e"))
      .groupBy(entityCol)
      .agg(concat_ws("",
          expr("transform(array_sort(collect_list(e)), x -> x.l)")).as("seq"),
        count(lit(1)).as("n_events"))
      .select(col(entityCol) +: col("n_events") +: counts: _*)
  }

  /** DuckDB twin of [[matchPattern]] over the raw `events` table. */
  def motifOracleSql(motifs: Seq[(String, String)],
      entityCol: String = "user_id",
      alphabet: Seq[(String, String)] = Alphabet,
      default: String = AlphabetDefault): String = {
    val cases = alphabet.map { case (k, v) => s"WHEN '$k' THEN '$v'" }
      .mkString(" ")
    val counts = motifs.map { case (name, re) =>
      s"CAST(len(regexp_extract_all(seq, '$re')) AS BIGINT) AS $name"
    }.mkString(", ")
    s"""WITH s AS (SELECT $entityCol,
          string_agg(CASE event_type $cases ELSE '$default' END, ''
            ORDER BY ts, event_id) AS seq,
          COUNT(*) AS n_events
        FROM events GROUP BY 1)
      SELECT $entityCol, n_events, $counts FROM s"""
  }
}
