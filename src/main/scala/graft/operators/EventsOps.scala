package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.AggFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.C — event-stream analytics (batch twins of the streaming pipeline in
  * graft.streaming.EventsStream). Tumbling windows, JSON props extraction,
  * gap-based sessionization.
  */
object EventsOps {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  // The per-day count table shared by e31 (2 consumers: totals + scan)
  // and e32 (4: both sides of both lag legs): identical plans land in
  // the same slot, so the event stream collapses ONCE per sf dir and
  // every consumer reads the ≤|days|-row cache instead of re-scanning.
  private val dailyCache = HotCache.slot()

  // THE session-interval table (r10, VERDICT item 1): ONE user-keyed
  // sessionize pass (30-min gap, exact integer micros) aggregated to the
  // per-(user, session) row every session consumer reads — e03 (counts),
  // e15 (length/duration buckets), e33 (interval endpoints), e35 (entry
  // type + bounce). One slot, so in a shared session the events table is
  // scanned and windowed ONCE for the whole family (e21's session_window
  // keys stay separate by semantics). The fill is EAGER (count() at
  // build): e33's consumers reach the table through concurrent broadcast
  // subquery jobs, and lazy persist dedupes storage but NOT concurrent
  // computation — r9's e33 measured 3–5 racing sessionize executions
  // (20s+ task-cpu on a 2s pass) before the eager fill.
  private val sessCache = HotCache.slot()

  /** Per-(user_id, session_id) intervals: len, s_m/e_m (first/last event
    * micros) and fst = argmin struct (m, event_id, event_type) — the
    * session's entry event, deterministic because event_id is unique.
    * `eager` forces materialization at build: only e33 needs it (its
    * consumers are concurrent broadcast-subquery jobs that would race to
    * fill the cache); the linear consumers (e03/e15/e35) fill it lazily
    * as a side effect of their single pass.
    */
  private def sessionIntervals(s: SparkSession, d: String,
                               eager: Boolean = false): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val df = t(s, d, "events")
      .withColumn("m", expr("unix_micros(cast(ts as timestamp))"))
      .withColumn("prev_m", lag("m", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_m").isNull ||
          col("m") - col("prev_m") > 1800000000L, lit(1L))
          .otherwise(lit(0L)))
      .withColumn("session_id", sum("new_session").over(byUser))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("len"),
        min("m").as("s_m"), max("m").as("e_m"),
        min(struct(col("m"), col("event_id"), col("event_type")))
          .as("fst"))
    val cached = sessCache.register(df)
    if (eager) cached.count() // see the slot comment
    cached
  }

  /** The shared DuckDB CTE prefix producing the same interval table. */
  private val sqlSessionIntervals = """
    flagged AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS m,
             CASE WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w IS NULL
                  OR epoch_us(CAST(ts AS TIMESTAMP))
                     - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w
                     > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessed AS (
      SELECT user_id, event_id, event_type, m,
             sum(new_session) OVER (PARTITION BY user_id
               ORDER BY m, event_id ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged),
    iv AS (
      SELECT user_id, session_id, count(*) AS len,
             min(m) AS s_m, max(m) AS e_m,
             arg_min(event_type,
               CAST(m AS HUGEINT) * 10000000000000000000 + event_id)
               AS entry_type
      FROM sessed GROUP BY 1, 2)"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // Tumbling 1-hour window counts/sums per event type — the batch twin of
    // the streaming windowed aggregation.
    "e01_windowed_agg" -> QueryDef(
      build = (s, d) =>
        t(s, d, "events")
          .groupBy(
            window(col("ts"), "1 hour").getField("start").as("window_start"),
            col("event_type"))
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total"))
          .orderBy("window_start", "event_type"),
      oracle = Some("""
        SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
               event_type, count(*) AS cnt, round(sum(value), 2) AS total
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // JSON-ish props field extraction (regexp on both sides — no JSON
    // extension dependency in the oracle) + bucketed aggregation.
    "e02_json_extract" -> QueryDef(
      build = (s, d) =>
        t(s, d, "events")
          // nullif before the cast: regexp_extract returns '' on
          // non-matching (malformed/NULL-key) props, and ''::BIGINT is
          // an ANSI CAST_INVALID_INPUT crash on BOTH engines — one bad
          // props string must land in the NULL kbucket, not kill the
          // job (DegenerateEventsSpec). sf props always match, so
          // gated outputs are unchanged.
          .withColumn("k",
            nullif(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1),
              lit("")).cast("long"))
          .groupBy((col("k") % 10).as("kbucket"))
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total"))
          .orderBy("kbucket"),
      oracle = Some("""
        SELECT CAST(nullif(regexp_extract(props, '"k": ([0-9]+)', 1), '')
                 AS BIGINT) % 10 AS kbucket,
               count(*) AS cnt, round(sum(value), 2) AS total
        FROM events GROUP BY 1 ORDER BY kbucket""")),

    // Gap-based sessionization (30-min inactivity gap) per user — reads
    // the family's shared [[sessionIntervals]] table: session_id is
    // 1-based consecutive per user, so sessions-per-user = count of
    // interval rows and n_events = Σ len. The gap compare is exact
    // integer micros (identical to the r9 epochSec double path on any
    // real timestamp — micros are exact, only the representation moved).
    "e03_sessionize" -> QueryDef(
      build = (s, d) =>
        sessionIntervals(s, d)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
               sum("len").as("n_events"))
          .orderBy("user_id"),
      oracle = Some(s"""
        WITH $sqlSessionIntervals
        SELECT user_id, count(*) AS n_sessions,
               CAST(sum(len) AS BIGINT) AS n_events
        FROM iv GROUP BY user_id ORDER BY user_id""")),

    // ---------------------------------------------------------------- e04
    // Funnel analysis: users who view → then click → then purchase, in
    // event-time order. Three staged min-timestamp joins (each keyed by
    // user_id) — the standard scalable funnel shape.
    "e04_funnel" -> QueryDef(
      build = (s, d) => {
        val e = t(s, d, "events")
        val v = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("tv"))
        val c = e.filter(col("event_type") === "click").alias("e")
          .join(v, Seq("user_id"))
          .filter(col("e.ts") > col("tv"))
          .groupBy("user_id").agg(min("ts").as("tc"))
        val p = e.filter(col("event_type") === "purchase").alias("e2")
          .join(c, Seq("user_id"))
          .filter(col("e2.ts") > col("tc"))
          .select("user_id").distinct()
        v.select(lit("viewed").as("stage"), lit(1L).as("ord"))
          .groupBy("stage", "ord").agg(count(lit(1)).as("users"))
          .unionAll(c.select(lit("clicked_after_view").as("stage"), lit(2L).as("ord"))
            .groupBy("stage", "ord").agg(count(lit(1)).as("users")))
          .unionAll(p.select(lit("purchased_after_click").as("stage"), lit(3L).as("ord"))
            .groupBy("stage", "ord").agg(count(lit(1)).as("users")))
          .orderBy("ord")
      },
      oracle = Some("""
        WITH v AS (SELECT user_id, min(ts) AS tv FROM events
                   WHERE event_type = 'view' GROUP BY user_id),
             c AS (SELECT e.user_id, min(e.ts) AS tc FROM events e
                   JOIN v ON e.user_id = v.user_id AND e.ts > v.tv
                   WHERE e.event_type = 'click' GROUP BY e.user_id),
             p AS (SELECT DISTINCT e.user_id FROM events e
                   JOIN c ON e.user_id = c.user_id AND e.ts > c.tc
                   WHERE e.event_type = 'purchase')
        SELECT stage, ord, users FROM (
          SELECT 'viewed' AS stage, CAST(1 AS BIGINT) AS ord,
                 count(*) AS users FROM v
          UNION ALL
          SELECT 'clicked_after_view', CAST(2 AS BIGINT), count(*) FROM c
          UNION ALL
          SELECT 'purchased_after_click', CAST(3 AS BIGINT), count(*) FROM p) z
        ORDER BY ord""")),

    // ---------------------------------------------------------------- e05
    // Time-series gap fill: per-user hourly event counts with the
    // missing hours inside each user's active span filled with 0 — the
    // resample step every downstream time-series model needs. The hour
    // grid is generated per user from its own (min, max) span via
    // sequence+explode (distributed, proportional to true span length),
    // then a left join pulls in the observed counts. All shuffles keyed
    // by the bounded user_id.
    "e05_gap_fill" -> QueryDef(
      build = (s, d) => {
        val ev = t(s, d, "events")
          .filter(col("user_id") % 50 === 0)
          .select(col("user_id"),
            floor(graft.Timestamps.epochSec(col("ts")) / 3600)
              .cast("long").as("hr"))
        val counts = ev.groupBy("user_id", "hr").agg(count(lit(1)).as("n"))
        val grid = counts.groupBy("user_id")
          .agg(min("hr").as("h0"), max("hr").as("h1"))
          .select(col("user_id"),
            explode(sequence(col("h0"), col("h1"))).as("hr"))
        grid.join(counts, Seq("user_id", "hr"), "left_outer")
          .select(col("user_id"), col("hr"),
            coalesce(col("n"), lit(0L)).as("cnt"))
          .orderBy("user_id", "hr")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id,
                 CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT)
                   AS hr
          FROM events WHERE user_id % 50 = 0),
        counts AS (SELECT user_id, hr, count(*) AS n FROM ev GROUP BY 1, 2),
        grid AS (
          SELECT user_id, unnest(generate_series(h0, h1)) AS hr FROM (
            SELECT user_id, min(hr) AS h0, max(hr) AS h1
            FROM counts GROUP BY user_id) z)
        SELECT g.user_id, g.hr, coalesce(c.n, 0) AS cnt
        FROM grid g LEFT JOIN counts c
          ON g.user_id = c.user_id AND g.hr = c.hr
        ORDER BY g.user_id, g.hr""")),

    // ---------------------------------------------------------------- e06
    // Cohort retention: users grouped by first-seen day; for offsets
    // 0..7, how many of each cohort were active that many days later.
    // Two hash-agg shuffles (user_id, then (cohort, offset)) plus one
    // user-keyed join — the per-user cohort frame is a fraction of the
    // event volume, and nothing partitions by date alone (a calendar-
    // keyed window would bound parallelism by #days).
    "e06_retention" -> QueryDef(
      build = (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"))
        val first = ev.groupBy("user_id").agg(min("day").as("cohort"))
        ev.join(first, "user_id")
          .select(col("cohort"),
            datediff(col("day"), col("cohort")).cast("long").as("day_offset"),
            col("user_id"))
          .filter(col("day_offset") <= 7)
          .distinct()
          .groupBy("cohort", "day_offset")
          .agg(count(lit(1)).as("n_users"))
          // DATE exchanges poorly through the parquet/DuckDB compare
          // path; midnight TIMESTAMP is the type every query already
          // round-trips exactly
          .select(col("cohort").cast("timestamp").as("cohort"),
            col("day_offset"), col("n_users"))
          .orderBy("cohort", "day_offset")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
          FROM events),
        first AS (SELECT user_id, min(day) AS cohort FROM ev GROUP BY user_id)
        SELECT CAST(cohort AS TIMESTAMP) AS cohort,
               CAST(date_diff('day', cohort, day) AS BIGINT) AS day_offset,
               CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        FROM ev e JOIN first f ON e.user_id = f.user_id
        WHERE date_diff('day', cohort, day) <= 7
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---------------------------------------------------------------- e07
    // Windowed spike detection: hourly counts per event type, flagged
    // when a window deviates from its type's mean by more than 3
    // population standard deviations. The verdict is pure integer
    // arithmetic — (W·n − S)² > 9·(W·SS − S²) with W windows, S = Σn,
    // SS = Σn² — so flags are exact on both engines (no sqrt, no float
    // boundary). Scale shape: one keyed shuffle for the window counts,
    // then per-type stats roll up to #types rows and broadcast back —
    // no per-type window function, which would funnel every window of
    // a type through one task at 100 TB.
    "e07_spike_detect" -> QueryDef(
      build = (s, d) => {
        val counts = t(s, d, "events")
          .groupBy(
            window(col("ts"), "1 hour").getField("start").as("window_start"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
        val stats = counts.groupBy("event_type")
          .agg(count(lit(1)).as("w"), sum("n").as("s"),
            sum(col("n") * col("n")).as("ss"))
        counts.join(broadcast(stats), "event_type")
          .withColumn("dev", col("w") * col("n") - col("s"))
          .select(col("event_type"), col("window_start"), col("n"),
            (col("dev") * col("dev") >
              lit(9L) * (col("w") * col("ss") - col("s") * col("s")))
              .as("spike"))
          .orderBy("event_type", "window_start")
      },
      oracle = Some("""
        WITH c AS (
          SELECT event_type,
                 time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                   AS window_start,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        st AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS w,
                 CAST(sum(n) AS BIGINT) AS s,
                 CAST(sum(n * n) AS BIGINT) AS ss
          FROM c GROUP BY 1)
        SELECT c.event_type, c.window_start, c.n,
               (st.w * c.n - st.s) * (st.w * c.n - st.s)
                 > 9 * (st.w * st.ss - st.s * st.s) AS spike
        FROM c JOIN st USING (event_type)
        ORDER BY event_type, window_start""")),

    // ---------------------------------------------------------------- e08
    // User-journey analysis: each user's first 8 events in event-time
    // order collapse to a '>'-joined event-type path; the top 20 paths
    // by user count are the product's dominant behavioral flows. Scale
    // shape: the only heavy shuffle is the user_id-keyed window (bounded
    // per-user rows); collect_list is capped at 8 rows by the rank
    // filter BEFORE aggregation, so per-group state is constant-size —
    // never an unbounded per-user event buffer — and the final path agg
    // rolls up to #distinct-journeys rows (≤ 4^8 event-type strings).
    // Determinism: (ts, event_id) is a total order per user, the
    // collected structs are array_sort-ed by rank, and the top-20 is
    // tie-broken by the journey string itself.
    "e08_user_journey" -> QueryDef(
      build = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val firstN = t(s, d, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 8)
        firstN.groupBy("user_id")
          .agg(array_sort(collect_list(struct(col("rn"), col("event_type"))))
            .as("steps"))
          .select(concat_ws(">", expr("transform(steps, x -> x.event_type)"))
            .as("journey"))
          .groupBy("journey")
          .agg(count(lit(1)).as("n_users"))
          .orderBy(desc("n_users"), asc("journey"))
          .limit(20)
      },
      oracle = Some("""
        WITH rn AS (
          SELECT user_id, event_type,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS rn
          FROM events),
        paths AS (
          SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS journey
          FROM rn WHERE rn <= 8 GROUP BY user_id)
        SELECT journey, CAST(count(*) AS BIGINT) AS n_users
        FROM paths GROUP BY journey
        ORDER BY n_users DESC, journey LIMIT 20""")),

    // ---------------------------------------------------------------- e09
    // Markov transition matrix over user journeys: counts and MLE
    // probability of each adjacent (from → to) event-type pair, adjacency
    // per user in event-time order (ts, event_id tie-break). The lead()
    // window is user-keyed — the same bounded-partition shape as e03's
    // sessionize, never a global sort — and the output is |types|² rows,
    // so the totals join is a broadcast of a constant-size table at any
    // corpus scale. n/n_from ride along as exact integers; the MLE `p`
    // is one rounded IEEE division for the report.
    "e09_transition_matrix" -> QueryDef(
      build = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val cnt = t(s, d, "events")
          .withColumn("to_type", lead("event_type", 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
        val tot = cnt.groupBy("from_type").agg(sum("n").as("n_from"))
        cnt.join(broadcast(tot), "from_type")
          .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
            round(col("n").cast("double") / col("n_from"), 6).as("p"))
          .orderBy("from_type", "to_type")
      },
      oracle = Some("""
        WITH nx AS (
          SELECT event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS to_type
          FROM events),
        c AS (SELECT from_type, to_type, count(*) AS n
              FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2),
        t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
              FROM c GROUP BY 1)
        SELECT c.from_type, c.to_type, c.n, t.n_from,
               round(CAST(c.n AS DOUBLE) / t.n_from, 6) AS p
        FROM c JOIN t USING (from_type)
        ORDER BY from_type, to_type""")),

    // ---------------------------------------------------------------- e10
    // Last-touch attribution: each purchase is credited to the user's
    // most recent PRECEDING touch event (view/click), or 'none' if the
    // purchase had no prior touch. last(_, ignoreNulls) over a
    // user-keyed, strictly-preceding frame is the as-of-join shape
    // (q33) fused into one window pass: one user-keyed shuffle, state
    // per row is a single carried value, and the purchase filter prunes
    // before the final constant-size channel rollup. Purchase revenue
    // is summed with the exact-decimal scheme so the per-channel totals
    // are partition-order-free.
    "e10_attribution" -> QueryDef(
      build = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val touch = when(col("event_type").isin("view", "click"),
          col("event_type"))
        t(s, d, "events")
          .withColumn("last_touch", last(touch, ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .groupBy(coalesce(col("last_touch"), lit("none")).as("channel"))
          .agg(count(lit(1)).as("n_purchases"),
               graft.functions.AggFns.dsum(col("value")).as("total_value"))
          .orderBy("channel")
      },
      oracle = Some("""
        WITH lt AS (
          SELECT event_type, value,
                 last_value(CASE WHEN event_type IN ('view', 'click')
                     THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS last_touch
          FROM events)
        SELECT coalesce(last_touch, 'none') AS channel,
               count(*) AS n_purchases,
               CAST(round(sum(CAST(round(value, 6) AS DECIMAL(30,6))), 2)
                 AS DOUBLE) AS total_value
        FROM lt WHERE event_type = 'purchase'
        GROUP BY 1 ORDER BY channel""")),

    // ---------------------------------------------------------------- e11
    // RFM segmentation: every user scored on Recency (micros since their
    // last event, vs the corpus max — pure int64 arithmetic), Frequency
    // (event count) and Monetary (exact-decimal purchase revenue), each
    // bucketed 0/1/2 on FIXED thresholds, then rolled up to segment
    // sizes. All three signals come out of ONE user-keyed aggregation
    // (the shuffle state per user is four scalars); the corpus max-ts is
    // a broadcast scalar, and the 27-row segment rollup is constant-size
    // at any scale. Decimal monetary comparisons make the bucket edges
    // engine- and order-exact — no float ever decides a segment.
    "e11_rfm_segments" -> QueryDef(
      build = (s, d) => {
        val ev = t(s, d, "events")
        val perUser = ev.groupBy("user_id").agg(
          max(unix_micros(col("ts").cast("timestamp"))).as("last_us"),
          count(lit(1)).as("f"),
          AggFns.dsumRaw(when(col("event_type") === "purchase", col("value")))
            .as("mon"))
        val mx = ev.agg(max(unix_micros(col("ts").cast("timestamp")))
          .as("mx_us"))
        perUser.crossJoin(broadcast(mx))
          .select(
            when(col("mx_us") - col("last_us") <= 14400000000L, 2L)
              .when(col("mx_us") - col("last_us") <= 43200000000L, 1L)
              .otherwise(0L).as("r_bucket"),
            when(col("f") >= 70, 2L).when(col("f") >= 62, 1L)
              .otherwise(0L).as("f_bucket"),
            when(col("mon") >= 700, 2L).when(col("mon") >= 550, 1L)
              .otherwise(0L).as("m_bucket"),
            col("mon"))
          .groupBy("r_bucket", "f_bucket", "m_bucket")
          .agg(count(lit(1)).as("n_users"),
            round(sum(coalesce(col("mon"), lit(0))), 2).cast("double")
              .as("segment_value"))
          .orderBy("r_bucket", "f_bucket", "m_bucket")
      },
      oracle = Some("""
        WITH u AS (
          SELECT user_id,
                 max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
                 count(*) AS f,
                 sum(CASE WHEN event_type = 'purchase'
                     THEN CAST(round(value, 6) AS DECIMAL(30,6)) END) AS mon
          FROM events GROUP BY user_id),
        m AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS mx_us
              FROM events),
        b AS (
          SELECT CAST(CASE WHEN mx_us - last_us <= 14400000000 THEN 2
                           WHEN mx_us - last_us <= 43200000000 THEN 1
                           ELSE 0 END AS BIGINT) AS r_bucket,
                 CAST(CASE WHEN f >= 70 THEN 2 WHEN f >= 62 THEN 1
                           ELSE 0 END AS BIGINT) AS f_bucket,
                 CAST(CASE WHEN mon >= 700 THEN 2 WHEN mon >= 550 THEN 1
                           ELSE 0 END AS BIGINT) AS m_bucket,
                 mon
          FROM u CROSS JOIN m)
        SELECT r_bucket, f_bucket, m_bucket, count(*) AS n_users,
               CAST(round(sum(coalesce(mon, 0)), 2) AS DOUBLE)
                 AS segment_value
        FROM b GROUP BY 1, 2, 3
        ORDER BY r_bucket, f_bucket, m_bucket""")),

    // ---------------------------------------------------------------- e12
    // Hour-of-day seasonality profile: event counts per (hour, type) and
    // each cell's share of its type's total — the traffic-shape matrix
    // capacity planning and anomaly baselines (e07) read from. One
    // map-side hour() projection, one (hr, type)-keyed count with
    // map-side partials, and a broadcast join against the |types|-row
    // totals — output is ≤ 24×|types| rows at any corpus size. Counts
    // and totals ride as exact integers; the share is one rounded IEEE
    // division for the report.
    "e12_hourly_profile" -> QueryDef(
      build = (s, d) => {
        val cnt = t(s, d, "events")
          .select(hour(col("ts").cast("timestamp")).cast("long").as("hr"),
            col("event_type"))
          .groupBy("hr", "event_type").agg(count(lit(1)).as("n"))
        val tot = cnt.groupBy("event_type").agg(sum("n").as("n_type"))
        cnt.join(broadcast(tot), "event_type")
          .select(col("hr"), col("event_type"), col("n"), col("n_type"),
            round(col("n").cast("double") / col("n_type"), 6).as("share"))
          .orderBy("hr", "event_type")
      },
      oracle = Some("""
        WITH c AS (
          SELECT hour(CAST(ts AS TIMESTAMP)) AS hr, event_type,
                 count(*) AS n
          FROM events GROUP BY 1, 2),
        t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_type
              FROM c GROUP BY 1)
        SELECT hr, c.event_type, c.n, t.n_type,
               round(CAST(c.n AS DOUBLE) / t.n_type, 6) AS share
        FROM c JOIN t USING (event_type)
        ORDER BY hr, event_type""")),

    // ---------------------------------------------------------------- e13
    // Semi-structured extraction through Spark 4's VARIANT type: props
    // parses ONCE into a binary variant (try_parse_json — a malformed
    // payload yields NULL, never a task kill) and fields project with
    // variant_get, the engine-native path for open schemas. Where e02's
    // regex re-scans the string per field, the variant parse amortizes
    // across every extracted field — the right shape when events carry
    // wide JSON at 100 TB. Aggregates are exact integers per event
    // type; the DuckDB oracle walks the same JSON with its native
    // json_extract.
    "e13_variant_extract" -> QueryDef(
      build = (s, d) =>
        t(s, d, "events")
          .withColumn("k",
            expr("variant_get(try_parse_json(props), '$.k', 'long')"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            count(col("k")).as("n_with_k"),
            min("k").as("min_k"), max("k").as("max_k"),
            countDistinct(col("k")).as("distinct_k"))
          .orderBy("event_type"),
      oracle = Some("""
        WITH x AS (
          SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events)
        SELECT event_type, count(*) AS n,
               CAST(count(k) AS BIGINT) AS n_with_k,
               min(k) AS min_k, max(k) AS max_k,
               CAST(count(DISTINCT k) AS BIGINT) AS distinct_k
        FROM x GROUP BY event_type ORDER BY event_type""")),

    // ---------------------------------------------------------------- e14
    // Active-user rollups: exact DAU per day and WAU per ISO week
    // (Monday-truncated on both engines) in one stacked report. Each
    // grain is a two-phase distinct — Spark dedups (bucket, user) with
    // map-side partials before the bucket-keyed count, so the shuffle
    // carries at most one row per (bucket, user), never the raw event
    // stream, and no bucket funnels all events through one task. The
    // day grain reads ONE projected scan shared by both branches
    // (column-pruned to ts + user_id); output is |days| + |weeks| rows
    // at any scale. Exact distincts are the correctness baseline here —
    // q28 already pins the HLL sketch path that replaces them when 100 TB
    // cardinalities make exact dedup the bottleneck.
    "e14_active_users" -> QueryDef(
      build = (s, d) => {
        val ev = t(s, d, "events")
          .select(col("ts").cast("timestamp").as("tts"), col("user_id"))
        def grain(name: String, bucket: org.apache.spark.sql.Column) =
          ev.groupBy(bucket.as("bucket"))
            .agg(countDistinct(col("user_id")).as("active_users"),
              count(lit(1)).as("events"))
            .withColumn("grain", lit(name))
        grain("day", date_trunc("day", col("tts")))
          .unionByName(grain("week", date_trunc("week", col("tts"))))
          .select("grain", "bucket", "active_users", "events")
          .orderBy("grain", "bucket")
      },
      oracle = Some("""
        WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS tts, user_id
                    FROM events)
        SELECT 'day' AS grain, date_trunc('day', tts) AS bucket,
               CAST(count(DISTINCT user_id) AS BIGINT) AS active_users,
               count(*) AS events
        FROM ev GROUP BY 2
        UNION ALL
        SELECT 'week', date_trunc('week', tts),
               CAST(count(DISTINCT user_id) AS BIGINT), count(*)
        FROM ev GROUP BY 2
        ORDER BY grain, bucket""")),

    // ---------------------------------------------------------------- e15
    // Session statistics: the shared [[sessionIntervals]] table rolled
    // into a length-bucket report — how long and how deep sessions run.
    // The bucket rollup is a constant ≤4-row aggregate with map-side
    // partials over the interval table; duration is exact int64 micros
    // (e_m − s_m); avg duration is one rounded IEEE division of an
    // exact micros sum by an exact integer denominator.
    "e15_session_stats" -> QueryDef(
      build = (s, d) =>
        sessionIntervals(s, d)
          .select(
            when(col("len") === 1, lit(1L))
              .when(col("len") <= 3, lit(2L))
              .when(col("len") <= 7, lit(3L))
              .otherwise(lit(4L)).as("bucket"),
            col("len"), (col("e_m") - col("s_m")).as("dur_us"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_sessions"),
            sum("len").as("n_events_total"),
            round(sum("dur_us").cast("double") /
              (count(lit(1)) * 1000000L), 2).as("avg_dur_sec"))
          .orderBy("bucket"),
      oracle = Some(s"""
        WITH $sqlSessionIntervals,
        b AS (
          SELECT CAST(CASE WHEN len = 1 THEN 1
                           WHEN len <= 3 THEN 2
                           WHEN len <= 7 THEN 3
                           ELSE 4 END AS BIGINT) AS bucket,
                 len, e_m - s_m AS dur_us
          FROM iv)
        SELECT bucket, count(*) AS n_sessions,
               CAST(sum(len) AS BIGINT) AS n_events_total,
               round(CAST(sum(dur_us) AS DOUBLE) / (count(*) * 1000000), 2)
                 AS avg_dur_sec
        FROM b GROUP BY bucket ORDER BY bucket""")),

    // ---------------------------------------------------------------- e16
    // Trending: the top-3 event types per day with their share of the
    // day's traffic — the daily-digest leaderboard. One (day, type)
    // count with map-side partials (≤ |days|·|types| rows out of the
    // shuffle), day totals summed from the SAME counts table (no second
    // scan), and the rank window partitions per day over ≤ |types| rows
    // — WindowGroupLimit truncates to 3 map-side. Share = one rounded
    // IEEE division of exact integers; (cnt desc, type) ordering makes
    // the pick deterministic under count ties.
    "e16_trending" -> QueryDef(
      build = (s, d) => {
        val cnt = t(s, d, "events")
          .select(date_trunc("day", col("ts").cast("timestamp")).as("day"),
            col("event_type"))
          .groupBy("day", "event_type").agg(count(lit(1)).as("n"))
        val tot = cnt.groupBy("day").agg(sum("n").as("n_day"))
        val w = Window.partitionBy("day").orderBy(desc("n"), asc("event_type"))
        cnt.withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .join(tot, "day")
          .select(col("day"), col("rk"), col("event_type"), col("n"),
            round(col("n").cast("double") / col("n_day"), 4).as("share"))
          .orderBy("day", "rk")
      },
      oracle = Some("""
        WITH cnt AS (
          SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
                 event_type, count(*) AS n
          FROM events GROUP BY 1, 2),
        tot AS (SELECT day, CAST(sum(n) AS BIGINT) AS n_day
                FROM cnt GROUP BY day),
        rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY day
                 ORDER BY n DESC, event_type) AS BIGINT) AS rk
               FROM cnt)
        SELECT r.day, rk, event_type, n,
               round(CAST(n AS DOUBLE) / n_day, 4) AS share
        FROM rk r JOIN tot t ON r.day = t.day
        WHERE rk <= 3 ORDER BY r.day, rk""")),

    // ---------------------------------------------------------------- e17
    // Trailing moving aggregate (the time-series smoothing family):
    // per-type hourly counts with a 3-hour RANGE-frame trailing sum and
    // moving average — RANGE on the integer hour number, so a missing
    // hour genuinely shrinks the frame (ROWS would wrongly reach back
    // past gaps). The window partitions by event_type over the
    // PRE-AGGREGATED ≤ |types|×|hours| counts table — hourly rollup
    // first, window second, so the sort never touches event volume.
    // Counts and trailing sums are exact integers; ma3 divides by the
    // constant 3 (fixed-denominator convention, documented), one
    // rounded IEEE division.
    "e17_moving_avg" -> QueryDef(
      build = (s, d) => {
        val cnt = t(s, d, "events")
          .select(date_trunc("hour", col("ts").cast("timestamp")).as("hr"),
            col("event_type"))
          .groupBy("hr", "event_type").agg(count(lit(1)).as("n"))
          .withColumn("hrn",
            (unix_micros(col("hr")) / 3600000000L).cast("long"))
        val w = Window.partitionBy("event_type").orderBy("hrn")
          .rangeBetween(-2, 0)
        cnt.withColumn("trailing3", sum("n").over(w))
          .select(col("event_type"), col("hr"), col("n"), col("trailing3"),
            round(col("trailing3").cast("double") / 3.0, 4).as("ma3"))
          .orderBy("event_type", "hr")
      },
      oracle = Some("""
        WITH cnt AS (
          SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
                 event_type, count(*) AS n
          FROM events GROUP BY 1, 2),
        h AS (SELECT *, epoch_us(hr) // 3600000000 AS hrn FROM cnt)
        SELECT event_type, hr, n,
               CAST(sum(n) OVER (PARTITION BY event_type ORDER BY hrn
                 RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS trailing3,
               round(CAST(sum(n) OVER (PARTITION BY event_type ORDER BY hrn
                 RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / 3.0, 4) AS ma3
        FROM h ORDER BY event_type, hr""")),

    // ---------------------------------------------------------------- e18
    // COHORT LTV: users grouped by first-seen day ("cohort"), purchase
    // revenue accumulated per cohort per day — the standard lifetime-value
    // matrix behind retention economics (e06 counts users; this follows
    // the money). Shapes: first-seen day is one user-keyed aggregation;
    // revenue is one (cohort, day)-keyed aggregation after a user-key
    // equi-join; the cumulative sum windows over the (cohort, day) table,
    // whose size is |days|² at worst — bounded regardless of event count.
    // The running sum accumulates in DECIMAL(30,2) over 2-dp-rounded
    // daily revenue, so the cumulative value is partition-order-exact on
    // both engines.
    "e18_cohort_ltv" -> QueryDef(
      build = (s, d) => {
        val ev = t(s, d, "events")
          .withColumn("day", date_trunc("day", col("ts").cast("timestamp")))
        val cohort = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
        val daily = ev.filter(col("event_type") === "purchase")
          .join(cohort, "user_id")
          .groupBy("cohort_day", "day")
          .agg(countDistinct(col("user_id")).as("n_buyers"),
            graft.functions.AggFns.dsum(col("value")).as("revenue"))
        val w = Window.partitionBy("cohort_day").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily
          .withColumn("cum_revenue",
            sum(col("revenue").cast(org.apache.spark.sql.types.DecimalType(30, 2)))
              .over(w).cast("double"))
          .orderBy("cohort_day", "day")
      },
      oracle = Some(s"""
        WITH ev AS (
          SELECT user_id, event_type, value,
                 date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
          FROM events),
        cohort AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1),
        daily AS (
          SELECT c.cohort_day, e.day,
                 count(DISTINCT e.user_id) AS n_buyers,
                 ${graft.functions.AggFns.sqlDsum("e.value")} AS revenue
          FROM ev e JOIN cohort c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase'
          GROUP BY 1, 2)
        SELECT cohort_day, day, n_buyers, revenue,
               CAST(sum(CAST(revenue AS DECIMAL(30,2))) OVER (
                 PARTITION BY cohort_day ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) AS cum_revenue
        FROM daily ORDER BY cohort_day, day""")),

    // ---------------------------------------------------------------- e19
    // ACTIVITY STREAKS (gaps-and-islands): per user, consecutive-day
    // runs of activity found by the classic dayNum − row_number()
    // constant-within-an-island trick — one user-keyed window over the
    // DISTINCT (user, day) table (≤ |days| rows per user, never event
    // volume), then two bounded aggregations. Day numbers are exact
    // integers (epoch-micros DIV 86400e6), so island identity is
    // engine/partition-exact. Output: per-user longest streak, streak
    // count, active days — |users| rows.
    "e19_streaks" -> QueryDef(
      build = (s, d) => {
        val days = t(s, d, "events")
          .select(col("user_id"),
            (unix_micros(date_trunc("day", col("ts").cast("timestamp")))
              .cast("long") / 86400000000L).cast("long").as("dayn"))
          .distinct()
        val w = Window.partitionBy("user_id").orderBy("dayn")
        val runs = days
          .withColumn("island",
            col("dayn") - row_number().over(w).cast("long"))
          .groupBy("user_id", "island")
          .agg(count(lit(1)).as("len"))
        runs.groupBy("user_id")
          .agg(max("len").as("longest_streak"),
            count(lit(1)).as("n_streaks"),
            sum("len").as("n_active_days"))
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH days AS (
          SELECT DISTINCT user_id,
                 CAST(epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
                   // 86400000000 AS BIGINT) AS dayn
          FROM events),
        runs AS (
          SELECT user_id, count(*) AS len
          FROM (
            SELECT user_id, dayn,
                   dayn - row_number() OVER (PARTITION BY user_id
                     ORDER BY dayn) AS island
            FROM days) i
          GROUP BY user_id, island)
        SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
               count(*) AS n_streaks,
               CAST(sum(len) AS BIGINT) AS n_active_days
        FROM runs GROUP BY user_id ORDER BY user_id""")),

    // ---------------------------------------------------------------- e20
    // BOT DETECTION (traffic hygiene before corpus building): per user,
    // event volume, time span, and two integer-exact signals — HIGH RATE
    // (> 100 events/hour over the span) and METRONOME REGULARITY
    // (inter-arrival variance ≡ 0: n·Σd² = (Σd)², exact in DECIMAL(38,0)
    // so no float ever decides a ban). Inter-arrival diffs come from one
    // user-keyed lag window (per-user event counts, never corpus-wide);
    // everything after is a per-user aggregation. Humans don't click
    // every 5.000000 seconds; scrapers do.
    "e20_bot_detect" -> QueryDef(
      build = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
        val diffs = t(s, d, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts").cast("timestamp")).as("tsu"))
          .withColumn("dd",
            (col("tsu") - lag("tsu", 1).over(w))
              .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        diffs.groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            ((max("tsu") - min("tsu")) / lit(1000000L)).cast("long")
              .as("span_sec"),
            sum("dd").as("sd"), sum(col("dd") * col("dd")).as("sdd"),
            count(col("dd")).as("nd"))
          .withColumn("high_rate",
            col("n_events") >= 5 &&
              col("n_events") * 3600000000L >
                (col("span_sec") * 1000000L) * 100L)
          .withColumn("regular",
            col("n_events") >= 5 &&
              col("nd").cast(org.apache.spark.sql.types.DecimalType(38, 0))
                * col("sdd") === col("sd") * col("sd"))
          .select(col("user_id"), col("n_events"), col("span_sec"),
            col("high_rate"), col("regular"),
            (col("high_rate") || col("regular")).as("is_bot"))
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, event_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS tsu
          FROM events),
        d AS (
          SELECT user_id, tsu,
                 CAST(tsu - lag(tsu) OVER (PARTITION BY user_id
                   ORDER BY tsu, event_id) AS HUGEINT) AS dd
          FROM e),
        g AS (
          SELECT user_id, count(*) AS n_events,
                 CAST((max(tsu) - min(tsu)) // 1000000 AS BIGINT)
                   AS span_sec,
                 sum(dd) AS sd, sum(dd * dd) AS sdd,
                 count(dd) AS nd
          FROM d GROUP BY 1)
        SELECT user_id, n_events, span_sec,
               n_events >= 5 AND
                 n_events * 3600000000 > span_sec * 1000000 * 100
                 AS high_rate,
               n_events >= 5 AND CAST(nd AS HUGEINT) * sdd = sd * sd
                 AS regular,
               (n_events >= 5 AND
                 n_events * 3600000000 > span_sec * 1000000 * 100)
                 OR (n_events >= 5 AND CAST(nd AS HUGEINT) * sdd = sd * sd)
                 AS is_bot
        FROM g ORDER BY user_id""")),

    // ---------------------------------------------------------------- e21
    // NATIVE SESSION WINDOWS: e03's sessionization via Spark's built-in
    // session_window aggregation — the engine-native path (one hash
    // aggregate with session merge, no lag/cumsum window chain), which
    // is also the only formulation that works identically in Structured
    // Streaming. Semantics pinned against the oracle: a new session
    // opens only when the gap EXCEEDS 30 min — an event at exactly
    // session-end merges (boundary-inclusive, spec-pinned); window end
    // = last event + gap; revenue in the exact decimal scheme.
    "e21_native_sessions" -> QueryDef(
      build = (s, d) =>
        t(s, d, "events")
          .filter(col("ts").isNotNull)
          .withColumn("tst", col("ts").cast("timestamp"))
          .groupBy(col("user_id"),
            session_window(col("tst"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"),
            graft.functions.AggFns.dsum(col("value")).as("total"))
          .select(col("user_id"),
            col("sw.start").as("session_start"),
            col("sw.end").as("session_end"),
            col("n_events"), col("total"))
          .orderBy("user_id", "session_start"),
      oracle = Some(s"""
        WITH e AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t, value
          FROM events WHERE ts IS NOT NULL),
        f AS (
          SELECT user_id, event_id, t, value,
                 CASE WHEN lag(t) OVER w IS NULL
                        OR t - lag(t) OVER w > INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS ns
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        s AS (
          SELECT user_id, t, value,
                 sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
                   ROWS UNBOUNDED PRECEDING) AS sid
          FROM f),
        g AS (
          SELECT user_id, sid, min(t) AS session_start,
                 max(t) + INTERVAL 30 MINUTE AS session_end,
                 count(*) AS n_events,
                 ${graft.functions.AggFns.sqlDsum("value")} AS total
          FROM s GROUP BY 1, 2)
        SELECT user_id, session_start, session_end, n_events, total
        FROM g ORDER BY user_id, session_start""")),

    // ---------------------------------------------------------------- e22
    // Conversion-lag distribution: per user, first view → first purchase
    // AFTER that view, lag bucketed on FIXED integer-microsecond
    // boundaries (1m/10m/1h/6h/1d) — no float or log touches a bucket
    // edge, so the histogram is engine- and partition-order-exact. Two
    // user-keyed hash aggregates + one join; output ≤ 6 rows at any
    // scale. The product question behind it: how long a attribution /
    // retargeting window actually needs to be.
    "e22_conversion_lag" -> QueryDef(
      build = (s, d) => {
        val e = t(s, d, "events")
        val v = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("tv"))
        val p = e.filter(col("event_type") === "purchase").alias("pe")
          .join(v, Seq("user_id"))
          .filter(col("pe.ts") > col("tv"))
          .groupBy("user_id", "tv").agg(min("ts").as("tp"))
        val lagUs = unix_micros(col("tp").cast("timestamp")) -
          unix_micros(col("tv").cast("timestamp"))
        val m = 60L * 1000000L
        p.withColumn("lag_us", lagUs)
          .withColumn("ord",
            when(col("lag_us") < m, 1L)
              .when(col("lag_us") < 10L * m, 2L)
              .when(col("lag_us") < 60L * m, 3L)
              .when(col("lag_us") < 360L * m, 4L)
              .when(col("lag_us") < 1440L * m, 5L)
              .otherwise(6L))
          .withColumn("bucket",
            when(col("ord") === 1L, "lt_1m")
              .when(col("ord") === 2L, "1m_10m")
              .when(col("ord") === 3L, "10m_1h")
              .when(col("ord") === 4L, "1h_6h")
              .when(col("ord") === 5L, "6h_1d")
              .otherwise("ge_1d"))
          .groupBy("ord", "bucket").agg(count(lit(1)).as("n_users"))
          .orderBy("ord")
      },
      oracle = Some("""
        WITH v AS (SELECT user_id, min(ts) AS tv FROM events
                   WHERE event_type = 'view' GROUP BY user_id),
        p AS (SELECT e.user_id, v.tv, min(e.ts) AS tp
              FROM events e JOIN v ON e.user_id = v.user_id
               AND e.ts > v.tv
              WHERE e.event_type = 'purchase'
              GROUP BY e.user_id, v.tv),
        l AS (SELECT epoch_us(CAST(tp AS TIMESTAMP))
                   - epoch_us(CAST(tv AS TIMESTAMP)) AS lag_us FROM p),
        b AS (SELECT CASE
                WHEN lag_us < 60000000 THEN 1
                WHEN lag_us < 600000000 THEN 2
                WHEN lag_us < 3600000000 THEN 3
                WHEN lag_us < 21600000000 THEN 4
                WHEN lag_us < 86400000000 THEN 5
                ELSE 6 END AS ord FROM l)
        SELECT CAST(ord AS BIGINT) AS ord,
               CASE ord WHEN 1 THEN 'lt_1m' WHEN 2 THEN '1m_10m'
                        WHEN 3 THEN '10m_1h' WHEN 4 THEN '1h_6h'
                        WHEN 5 THEN '6h_1d' ELSE 'ge_1d' END AS bucket,
               count(*) AS n_users
        FROM b GROUP BY ord ORDER BY ord""")),

    // ---------------------------------------------------------------- e23
    // Robust daily-volume anomaly detection: per event type, flag days
    // whose count deviates from the type's MEDIAN by more than 3× the
    // median absolute deviation — the outlier-immune twin of e07's
    // mean/σ z-score (one broken day can't drag the baseline the way it
    // drags a mean). Exact cross-engine: counts are integers, medians
    // interpolate to exact binary fractions (.5/.25 steps — quantile_cont
    // semantics on both engines), so every comparison is IEEE-exact with
    // no rounding near a boundary. The percentile aggregates see only the
    // |days|-per-type table (≤31 rows/group), never event volume.
    "e23_daily_anomaly" -> QueryDef(
      build = (s, d) => {
        val cnt = t(s, d, "events")
          .select(date_trunc("day", col("ts").cast("timestamp")).as("day"),
            col("event_type"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
        val med = cnt.groupBy("event_type")
          .agg(expr("percentile(n, 0.5)").as("med"))
        val dev = cnt.join(med, "event_type")
          .withColumn("dev", abs(col("n").cast("double") - col("med")))
        val mad = dev.groupBy("event_type")
          .agg(expr("percentile(dev, 0.5)").as("mad"))
        dev.join(mad, "event_type")
          .select(col("event_type"), col("day"), col("n"), col("med"),
            col("mad"), (col("dev") > col("mad") * 3).as("anomalous"))
          .orderBy("event_type", "day")
      },
      oracle = Some("""
        WITH cnt AS (
          SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
                 count(*) AS n
          FROM events GROUP BY 1, 2),
        med AS (SELECT event_type, quantile_cont(n, 0.5) AS med
                FROM cnt GROUP BY 1),
        dev AS (SELECT c.*, m.med, abs(CAST(c.n AS DOUBLE) - m.med) AS dev
                FROM cnt c JOIN med m USING (event_type)),
        mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
                FROM dev GROUP BY 1)
        SELECT d.event_type, d.day, d.n, d.med, m.mad,
               d.dev > m.mad * 3 AS anomalous
        FROM dev d JOIN mad m USING (event_type)
        ORDER BY d.event_type, d.day""")),

    // ---------------------------------------------------------------- e24
    // Activity CONCENTRATION audit: exact Gini coefficient of events-
    // per-user plus the top-1%-users' share — the "is the corpus a few
    // power users in a trenchcoat" pre-flight for any user-weighted
    // sampling or per-user state sizing. The naive rank formula needs a
    // GLOBAL value-sorted window over |users| rows (single task — the
    // r2 scale-killer); instead users collapse to the activity HISTOGRAM
    // (x = events, m = #users with x) and every rank-sum collapses to a
    // closed form per bucket: users in a bucket share the same x, so
    // Σ i·x over the bucket's rank run [c+1, c+m] is x·(m·c + m(m+1)/2),
    // and the top-k cut takes min(m, k - c_desc) users from each bucket.
    // Windows run over the |distinct activity levels|-bounded histogram
    // only. All arithmetic exact: rank sums in DECIMAL(38,0) (n·S
    // exceeds int64 at the 1e9-user regime), Gini in ppm and share in
    // basis points via integer division — no float ever decides a digit.
    "e24_activity_gini" -> QueryDef(
      build = (s, d) => {
        val h = t(s, d, "events")
          .groupBy("user_id").agg(count(lit(1)).as("x"))
          .groupBy("x").agg(count(lit(1)).as("m"))
        val w = Window.orderBy("x")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wd = Window.orderBy(col("x").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val cum = h
          .withColumn("c_asc", coalesce(sum("m").over(w), lit(0L)))
          .withColumn("c_desc", coalesce(sum("m").over(wd), lit(0L)))
        val tot = h.agg(sum("m").as("n_users"),
          sum(col("x") * col("m")).as("total_events"),
          expr("CAST((sum(m) + 99) div 100 AS BIGINT)").as("k"))
        cum.crossJoin(broadcast(tot))
          .agg(
            max("n_users").as("n_users"),
            max("total_events").as("total_events"),
            sum((col("x") * (col("m") * col("c_asc")
              + expr("m * (m + 1) div 2"))).cast("decimal(38,0)")).as("a"),
            sum(col("x") * greatest(lit(0L),
              least(col("m"), col("k") - col("c_desc")))).as("topk_events"))
          .select(col("n_users"), col("total_events"),
            expr("""CAST((2 * a - (CAST(n_users AS DECIMAL(38,0)) + 1)
                      * total_events) * 1000000
                    div (CAST(n_users AS DECIMAL(38,0)) * total_events)
                    AS BIGINT)""").as("gini_ppm"),
            expr("topk_events * 10000 div total_events")
              .as("top1pct_share_bp"))
      },
      oracle = Some("""
        WITH ux AS (SELECT user_id, count(*) AS x FROM events GROUP BY 1),
        h AS (SELECT x, CAST(count(*) AS BIGINT) AS m FROM ux GROUP BY x),
        cum AS (
          SELECT x, m,
            CAST(coalesce(sum(m) OVER (ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS c_asc,
            CAST(coalesce(sum(m) OVER (ORDER BY x DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS c_desc
          FROM h),
        tot AS (
          SELECT CAST(sum(m) AS BIGINT) AS n_users,
                 CAST(sum(x * m) AS BIGINT) AS total_events,
                 CAST((sum(m) + 99) // 100 AS BIGINT) AS k
          FROM h)
        SELECT t.n_users, t.total_events,
          CAST((2 * sum(CAST(x * (m * c_asc + m * (m + 1) // 2)
                  AS DECIMAL(38,0)))
                - (CAST(t.n_users AS DECIMAL(38,0)) + 1) * t.total_events)
               * 1000000
               // (CAST(t.n_users AS DECIMAL(38,0)) * t.total_events)
               AS BIGINT) AS gini_ppm,
          CAST(sum(x * greatest(0, least(m, t.k - c_desc))) * 10000
               // t.total_events AS BIGINT) AS top1pct_share_bp
        FROM cum CROSS JOIN tot t
        GROUP BY t.n_users, t.total_events, t.k""")),

    // ---------------------------------------------------------------- e25
    // Funnel TIMING: e04 counts who converts; e25 measures how long each
    // stage transition takes (the number that sizes retargeting windows
    // and attribution lookbacks). Same staged min-timestamp joins as
    // e04; per-user lags land as exact integer seconds, then median via
    // percentile(0.5) — the midpoint interpolation is an exact binary
    // fraction (e23's argument), and the mean is exact integer
    // centiseconds (sum·100 div n) so no float decides a digit. The
    // percentile input is |converting users| rows per stage pair —
    // bounded by true conversions, and the 2-row output is constant.
    "e25_funnel_timing" -> QueryDef(
      build = (s, d) => {
        val e = t(s, d, "events")
        val us = unix_micros(col("ts").cast("timestamp"))
        val v = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(us).as("tv"))
        val c = e.filter(col("event_type") === "click").alias("e")
          .join(v, Seq("user_id"))
          .filter(unix_micros(col("e.ts").cast("timestamp")) > col("tv"))
          .groupBy("user_id")
          .agg(min(unix_micros(col("e.ts").cast("timestamp"))).as("tc"),
            max("tv").as("tv"))
        val p = e.filter(col("event_type") === "purchase").alias("e2")
          .join(c, Seq("user_id"))
          .filter(unix_micros(col("e2.ts").cast("timestamp")) > col("tc"))
          .groupBy("user_id")
          .agg(min(unix_micros(col("e2.ts").cast("timestamp"))).as("tp"),
            max("tc").as("tc2"))
        def leg(df: DataFrame, a: String, b: String, name: String,
            ord: Long): DataFrame =
          df.select(expr(s"($b - $a) div 1000000").as("lag_sec"))
            .agg(count(lit(1)).as("n_users"),
              expr("percentile(lag_sec, 0.5)").as("med_lag_sec"),
              expr("sum(lag_sec) * 100 div count(1)").as("mean_lag_csec"))
            .select(lit(name).as("stage_pair"), lit(ord).as("ord"),
              col("n_users"), col("med_lag_sec"), col("mean_lag_csec"))
        leg(c, "tv", "tc", "view_to_click", 1L)
          .unionAll(leg(p, "tc2", "tp", "click_to_purchase", 2L))
          .orderBy("ord")
      },
      oracle = Some("""
        WITH v AS (SELECT user_id, min(epoch_us(CAST(ts AS TIMESTAMP)))
                     AS tv
                   FROM events WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT e.user_id,
                     min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS tc,
                     max(v.tv) AS tv
              FROM events e JOIN v ON e.user_id = v.user_id
                AND epoch_us(CAST(e.ts AS TIMESTAMP)) > v.tv
              WHERE e.event_type = 'click' GROUP BY e.user_id),
        p AS (SELECT e.user_id,
                     min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS tp,
                     max(c.tc) AS tc2
              FROM events e JOIN c ON e.user_id = c.user_id
                AND epoch_us(CAST(e.ts AS TIMESTAMP)) > c.tc
              WHERE e.event_type = 'purchase' GROUP BY e.user_id),
        l1 AS (SELECT (tc - tv) // 1000000 AS lag_sec FROM c),
        l2 AS (SELECT (tp - tc2) // 1000000 AS lag_sec FROM p)
        SELECT stage_pair, ord, n_users, med_lag_sec, mean_lag_csec FROM (
          SELECT 'view_to_click' AS stage_pair, CAST(1 AS BIGINT) AS ord,
                 count(*) AS n_users,
                 quantile_cont(lag_sec, 0.5) AS med_lag_sec,
                 CAST(sum(lag_sec) * 100 // count(*) AS BIGINT)
                   AS mean_lag_csec
          FROM l1
          UNION ALL
          SELECT 'click_to_purchase', CAST(2 AS BIGINT), count(*),
                 quantile_cont(lag_sec, 0.5),
                 CAST(sum(lag_sec) * 100 // count(*) AS BIGINT)
          FROM l2) z
        ORDER BY ord""")),

    // ---------------------------------------------------------------- e26
    // Inter-arrival profile: per-user consecutive event gaps, binned on
    // a power-of-8 seconds scale (sub-second / minute-ish / hour-ish /
    // day-ish bands) with exact integer extremes and a centi-second
    // integer mean per bin. The lag window is user-keyed — fan-in
    // bounded by one user's history, shuffle corpus-linear — and the
    // rollup is ≤6 rows at any scale. Gap math stays in integer micros
    // end-to-end (ts is NTZ parquet; unix_micros after the exact
    // NTZ→TIMESTAMP cast under the pinned UTC session). This is the
    // arrival-model audit behind choosing e21's session gap and the
    // streaming watermark horizon.
    "e26_interarrival" -> QueryDef(
      build = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        t(s, d, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts").cast("timestamp")).as("us"))
          .withColumn("gap_us", col("us") - lag("us", 1).over(w))
          .withColumn("gap_s", expr("gap_us div 1000000"))
          .filter(col("gap_s").isNotNull)
          .select(
            when(col("gap_s") < 1, 0L).when(col("gap_s") < 8, 1L)
              .when(col("gap_s") < 64, 2L).when(col("gap_s") < 512, 3L)
              .when(col("gap_s") < 4096, 4L).otherwise(5L).as("bucket"),
            col("gap_s"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_gaps"),
            min("gap_s").as("min_s"), max("gap_s").as("max_s"),
            expr("sum(gap_s) * 100 div count(1)").as("mean_cs"))
          .orderBy("bucket")
      },
      oracle = Some("""
        WITH g AS (
          SELECT (epoch_us(CAST(ts AS TIMESTAMP))
                  - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                      PARTITION BY user_id
                      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id))
                 // 1000000 AS gap_s
          FROM events),
        b AS (
          SELECT CAST(CASE WHEN gap_s < 1 THEN 0 WHEN gap_s < 8 THEN 1
                           WHEN gap_s < 64 THEN 2 WHEN gap_s < 512 THEN 3
                           WHEN gap_s < 4096 THEN 4 ELSE 5 END AS BIGINT)
                   AS bucket, gap_s
          FROM g WHERE gap_s IS NOT NULL)
        SELECT bucket, count(*) AS n_gaps,
               min(gap_s) AS min_s, max(gap_s) AS max_s,
               CAST(sum(gap_s) * 100 // count(*) AS BIGINT) AS mean_cs
        FROM b GROUP BY bucket ORDER BY bucket""")),

    // ---------------------------------------------------------------- e27
    // SCD2-style state-dwell accounting: each event opens a validity
    // interval [ts, user's next event ts) — the slowly-changing-dimension
    // reconstruction via lead() that a warehouse runs to turn an event
    // stream into interval tables — rolled up to per-type dwell totals
    // (which state do users actually sit in?). One user-keyed window pass
    // (same shuffle e09/e26 ride), all arithmetic in exact int64 micros:
    // totals are micros sums (safe through ~10^5 users × day-scale gaps;
    // the DECIMAL(38,0) move is documented in g01's note for the 1e9
    // regime), per-type means in integer centiseconds — no float decides
    // a row. Window order is (us, event_id): ts ties are real (generated
    // data quantizes to seconds) and the id tie-break makes the interval
    // set a pure function of the input on both engines.
    "e27_state_dwell" -> QueryDef(
      build = (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("us"), col("event_id"))
        t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts").cast("timestamp")).as("us"))
          .withColumn("next_us", lead(col("us"), 1).over(w))
          .filter(col("next_us").isNotNull)
          .select(col("event_type"),
            (col("next_us") - col("us")).as("dwell_us"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_intervals"),
            expr("sum(dwell_us) div 1000000").as("total_dwell_s"),
            expr("sum(dwell_us) * 100 div (count(1) * 1000000)")
              .as("mean_dwell_cs"),
            expr("max(dwell_us) div 1000000").as("max_dwell_s"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH iv AS (
          SELECT event_type,
                 lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                     PARTITION BY user_id
                     ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
                   - epoch_us(CAST(ts AS TIMESTAMP)) AS dwell_us
          FROM events)
        SELECT event_type, count(*) AS n_intervals,
               CAST(sum(dwell_us) // 1000000 AS BIGINT) AS total_dwell_s,
               CAST(sum(dwell_us) * 100 // (count(*) * 1000000) AS BIGINT)
                 AS mean_dwell_cs,
               CAST(max(dwell_us) // 1000000 AS BIGINT) AS max_dwell_s
        FROM iv WHERE dwell_us IS NOT NULL
        GROUP BY event_type ORDER BY event_type""")),

    // ---------------------------------------------------------------- e28
    // ERROR-CASCADE audit: per event type, the share of events landing
    // within 60 s of the SAME user's most recent error — "how much of
    // each activity happens in an error's blast radius?" — the triage
    // number that separates an error type that kills sessions from one
    // users shrug off. Last-preceding-error time is max(CASE) over the
    // user-keyed unbounded-preceding ROWS frame (one window pass on the
    // e27 shuffle; the frame max is computed incrementally, never a
    // rescan); the flag and the |types|-row rollup are exact int64
    // micros + integer bp. Frame order (us, event_id) pins same-second
    // ties on both engines.
    "e28_error_cascade" -> QueryDef(
      build = (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts").cast("timestamp")).as("us"))
          .withColumn("prev_err_us",
            max(when(col("event_type") === "error", col("us"))).over(w))
          .select(col("event_type"),
            (col("prev_err_us").isNotNull &&
              col("us") - col("prev_err_us") <= 60000000L).as("hit"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("hit"), 1L).otherwise(0L)).as("n_in_cascade"))
          .select(col("event_type"), col("n_events"), col("n_in_cascade"),
            expr("n_in_cascade * 10000 div n_events").as("cascade_bp"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH x AS (
          SELECT user_id, event_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        f AS (
          SELECT event_type, us,
                 max(CASE WHEN event_type = 'error' THEN us END) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_err_us
          FROM x)
        SELECT event_type, count(*) AS n_events,
               CAST(sum(CASE WHEN prev_err_us IS NOT NULL
                   AND us - prev_err_us <= 60000000 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_in_cascade,
               CAST(sum(CASE WHEN prev_err_us IS NOT NULL
                   AND us - prev_err_us <= 60000000 THEN 1 ELSE 0 END)
                 * 10000 // count(*) AS BIGINT) AS cascade_bp
        FROM f GROUP BY event_type ORDER BY event_type""")),

    // ---------------------------------------------------------------- e29
    // STICKINESS (DAU/WAU): per day, distinct daily actives over
    // distinct trailing-7-day actives, in exact integer bp — the
    // engagement ratio product teams track; also e14's two windows
    // joined into the one number. COUNT(DISTINCT) over a sliding frame
    // is the q51 problem — the scalable rewrite EXPLODES each distinct
    // (user, day) into the 7 window-ending days it serves, dedups, and
    // counts: fan-out is a constant 7× of |user-days| (already the
    // distinct'd, pre-aggregated table — never raw events), so the
    // whole curve costs two hash aggregates + one bounded explode at
    // any scale. Output |days| rows.
    "e29_stickiness" -> QueryDef(
      build = (s, d) => {
        val ud = t(s, d, "events")
          .select(col("user_id"),
            expr("unix_micros(date_trunc('day', cast(ts as timestamp)))" +
              " div 86400000000").as("day"))
          .distinct()
        val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
        val wau = ud
          .select(col("user_id"),
            explode(sequence(col("day"), col("day") + 6)).as("wday"))
          .distinct()
          .groupBy(col("wday").as("day")).agg(count(lit(1)).as("wau"))
        dau.join(wau, "day")
          .select(col("day"), col("dau"), col("wau"),
            expr("dau * 10000 div wau").as("stickiness_bp"))
          .orderBy("day")
      },
      oracle = Some("""
        WITH ud AS (
          SELECT DISTINCT user_id,
                 epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
                   // 86400000000 AS day
          FROM events),
        dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
        w AS (
          SELECT DISTINCT user_id, day + i AS day
          FROM ud CROSS JOIN (SELECT unnest(range(7)) AS i) z),
        wau AS (SELECT day, count(*) AS wau FROM w GROUP BY day)
        SELECT d.day, d.dau, u.wau,
               CAST(d.dau * 10000 // u.wau AS BIGINT) AS stickiness_bp
        FROM dau d JOIN wau u ON u.day = d.day
        ORDER BY d.day""")),

    // ---------------------------------------------------------------- e30
    // User LIFECYCLE census: classify every user against the stream's
    // high-water day — `new` (first seen inside the trailing 7 days),
    // `churned` (last seen more than 7 days before the high-water
    // mark), `active` otherwise — the segmentation a growth dashboard
    // refreshes daily and the input to retention targeting. One
    // user-keyed min/max aggregate (|users| rows), a broadcast scalar
    // high-water day, a ≤3-row census with shares in exact bp. Day
    // arithmetic in exact integer epoch-days; a user both new AND
    // gone inside the window counts as `new` (explicit branch order,
    // same CASE on both engines).
    "e30_lifecycle" -> QueryDef(
      build = (s, d) => {
        val day = expr("unix_micros(date_trunc('day', cast(ts as " +
          "timestamp))) div 86400000000")
        val users = t(s, d, "events")
          .select(col("user_id"), day.as("day"))
          .groupBy("user_id")
          .agg(min("day").as("first_day"), max("day").as("last_day"))
        val hw = users.agg(max("last_day").as("hw_day"))
        val tot = users.agg(count(lit(1)).as("n_users_total"))
        users.crossJoin(broadcast(hw))
          .select(
            expr("CASE WHEN first_day > hw_day - 7 THEN 'new' " +
              "WHEN last_day < hw_day - 7 THEN 'churned' " +
              "ELSE 'active' END").as("status"))
          .groupBy("status").agg(count(lit(1)).as("n_users"))
          .crossJoin(broadcast(tot))
          .select(col("status"), col("n_users"),
            expr("n_users * 10000 div n_users_total").as("share_bp"))
          .orderBy("status")
      },
      oracle = Some("""
        WITH u AS (
          SELECT user_id,
                 min(epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
                   // 86400000000) AS first_day,
                 max(epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
                   // 86400000000) AS last_day
          FROM events GROUP BY user_id),
        hw AS (SELECT max(last_day) AS hw_day FROM u),
        t AS (SELECT count(*) AS n_users_total FROM u),
        c AS (
          SELECT CASE WHEN first_day > hw_day - 7 THEN 'new'
                      WHEN last_day < hw_day - 7 THEN 'churned'
                      ELSE 'active' END AS status
          FROM u CROSS JOIN hw)
        SELECT status, count(*) AS n_users,
               CAST(count(*) * 10000 // n_users_total AS BIGINT)
                 AS share_bp
        FROM c CROSS JOIN t GROUP BY status, n_users_total
        ORDER BY status""")),

    // ---------------------------------------------------------------- e31
    // CUSUM change-point scan over daily volume: the classic
    // mean-shift detector, in EXACT integers — the per-day deviation
    // is scaled by |days| (dev_d = D·c_d − T, so the mean needs no
    // division) and the cumulative sum runs over the ≤|days|-row
    // pre-aggregated table (e17's bounded-window argument: the window
    // never touches event volume). The flagged day(s) — where |CUSUM|
    // peaks — mark the most likely level-shift boundary; on a stream
    // with no shift the peak is noise-sized relative to D·T. No float
    // anywhere: D·c_i ≤ |days|·|events| is safely int64 at any
    // realistic horizon, and argmax ties flag together (deterministic
    // on both engines).
    "e31_cusum" -> QueryDef(
      build = (s, d) => {
        val daily = dailyCache.register(t(s, d, "events")
          .groupBy(expr("unix_micros(date_trunc('day', cast(ts as " +
            "timestamp))) div 86400000000").as("day"))
          .agg(count(lit(1)).as("c")))
        val tot = daily.agg(count(lit(1)).as("nd"), sum("c").as("t"))
        val w = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        val cu = daily.crossJoin(broadcast(tot))
          .withColumn("cusum", sum(col("c") * col("nd") - col("t")).over(w))
        val mx = cu.agg(max(abs(col("cusum"))).as("mx"))
        cu.crossJoin(broadcast(mx))
          .select(col("day"), col("c").as("n_events"), col("cusum"),
            (abs(col("cusum")) === col("mx")).as("is_changepoint"))
          .orderBy("day")
      },
      oracle = Some("""
        WITH daily AS (
          SELECT epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
                   // 86400000000 AS day, count(*) AS c
          FROM events GROUP BY 1),
        t AS (SELECT count(*) AS nd, CAST(sum(c) AS BIGINT) AS t FROM daily),
        cu AS (
          SELECT day, c,
                 CAST(sum(c * nd - t) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cusum
          FROM daily CROSS JOIN t),
        m AS (SELECT max(abs(cusum)) AS mx FROM cu)
        SELECT day, c AS n_events, cusum,
               abs(cusum) = mx AS is_changepoint
        FROM cu CROSS JOIN m ORDER BY day""")),

    // ---------------------------------------------------------------- e32
    // Daily-volume AUTOCORRELATION at lags 1 and 7 — "does today
    // predict tomorrow / is there weekly seasonality" — in q54's exact
    // power-sum scheme: counts pair up by calendar-day join (a missing
    // day contributes no pair, rather than silently pairing
    // non-adjacent days the way a lag() over row order would), the five
    // sums accumulate exactly in DECIMAL(38,0), and r is a terminal
    // IEEE division of exactly-computed operands. Physically the event
    // stream collapses to the ≤|days|-row daily table FIRST (one hash
    // agg); both lag legs are self-joins of that bounded table, so the
    // whole statistic costs one fact-table pass at any scale. Legs with
    // fewer than two pairs have no defined r and are excluded on both
    // engines.
    "e32_autocorr" -> QueryDef(
      build = (s, d) => {
        val daily = dailyCache.register(t(s, d, "events")
          .groupBy(expr("unix_micros(date_trunc('day', cast(ts as " +
            "timestamp))) div 86400000000").as("day"))
          .agg(count(lit(1)).as("c")))
        def leg(lagDays: Int) = {
          val a = daily.select(col("day"),
            col("c").cast("decimal(38,0)").as("x"))
          val b = daily.select((col("day") - lagDays).as("day"),
            col("c").cast("decimal(38,0)").as("y"))
          a.join(b, "day")
            .agg(count(lit(1)).as("n"),
              sum("x").as("sx"), sum("y").as("sy"),
              sum(col("x") * col("y")).as("sxy"),
              sum(col("x") * col("x")).as("sxx"),
              sum(col("y") * col("y")).as("syy"))
            // <2 pairs OR a zero-variance side (constant daily volume)
            // leaves r undefined — excluded on BOTH engines, in exact
            // decimal arithmetic, before any division can hit zero
            .filter(col("n") >= 2 &&
              expr("n * sxx - sx * sx > 0") &&
              expr("n * syy - sy * sy > 0"))
            .select(lit(lagDays.toLong).as("lag_days"), col("n"),
              (expr("CAST(n * sxy - sx * sy AS DOUBLE)") /
                sqrt(expr("CAST(n * sxx - sx * sx AS DOUBLE)") *
                  expr("CAST(n * syy - sy * sy AS DOUBLE)"))).as("r"))
        }
        leg(1).unionByName(leg(7)).orderBy("lag_days")
      },
      oracle = Some("""
        WITH daily AS (
          SELECT epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
                   // 86400000000 AS day,
                 CAST(count(*) AS HUGEINT) AS c
          FROM events GROUP BY 1),
        legs AS (
          SELECT l.lag_days, a.c AS x, b.c AS y
          FROM (VALUES (1), (7)) l(lag_days)
          JOIN daily a ON TRUE
          JOIN daily b ON b.day = a.day + l.lag_days),
        s AS (
          SELECT lag_days, count(*) AS n,
                 sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                 sum(x * x) AS sxx, sum(y * y) AS syy
          FROM legs GROUP BY lag_days
          HAVING count(*) >= 2
             AND count(*) * sum(x * x) - sum(x) * sum(x) > 0
             AND count(*) * sum(y * y) - sum(y) * sum(y) > 0)
        SELECT CAST(lag_days AS BIGINT) AS lag_days, n,
               CAST(n * sxy - sx * sy AS DOUBLE) /
                 sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
                      CAST(n * syy - sy * sy AS DOUBLE)) AS r
        FROM s ORDER BY lag_days""")),

    // ---------------------------------------------------------------- e33
    // PEAK CONCURRENCY: the maximum number of simultaneously-open
    // sessions (e03's 30-min-gap definition) and the earliest instant it
    // is reached — the interval-overlap sweep behind capacity planning.
    // Each session contributes a +1 at its start micro and a −1 at its
    // end; the answer is the max of the running endpoint sum in
    // (t, +1-before-−1) order, so touching sessions count as
    // overlapping. The global running sum is NOT a single-task window:
    // endpoints bucket by calendar day, per-day sums roll up to a
    // ≤|days|-row offset table (the only global window, dim-bounded),
    // and each day ranks internally in parallel — the TwoPassPrefix
    // shape keyed by TIME, exactly composing to the one global order
    // because (day, t) ordering IS t ordering. Ties inside an equal
    // (t, delta) group permute only which row carries which prefix
    // value, never the prefix multiset, so the max and its earliest t
    // are deterministic without a per-row tie-break.
    "e33_peak_concurrency" -> QueryDef(
      build = (s, d) => {
        val sess = sessionIntervals(s, d, eager = true)
        val pts = sess.select(col("s_m").as("t"), lit(1L).as("delta"))
          .unionByName(sess.select(col("e_m").as("t"),
            lit(-1L).as("delta")))
          .withColumn("day", expr("t div 86400000000"))
        val offs = pts.groupBy("day").agg(sum("delta").as("dsum"))
          .withColumn("off", coalesce(sum("dsum").over(
            Window.orderBy("day")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("day", "off")
        val wDay = Window.partitionBy("day")
          .orderBy(col("t"), col("delta").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val runs = pts.join(broadcast(offs), "day")
          .withColumn("run", col("off") + sum("delta").over(wDay))
        // r11: (peak, earliest t) is an ARGMAX — one aggregate over a
        // lexicographic max(struct(run, -t)) replaces the r10
        // cache + max-subquery + crossJoin-filter re-scan (three jobs
        // and a persisted runs table for what one fold computes:
        // largest run, then smallest t among its carriers).
        runs.agg(max(struct(col("run"), (-col("t")).as("nt"))).as("b"))
          .select(col("b.run").as("peak"), (-col("b.nt")).as("at_micros"))
          .crossJoin(broadcast(sess.agg(
            count(lit(1)).as("n_sessions"))))
          .select(col("peak"), col("at_micros"), col("n_sessions"))
      },
      oracle = Some(s"""
        WITH $sqlSessionIntervals,
        pts AS (
          SELECT s_m AS t, 1 AS delta FROM iv
          UNION ALL
          SELECT e_m, -1 FROM iv),
        runs AS (
          SELECT t, sum(delta) OVER (ORDER BY t, delta DESC
            ROWS UNBOUNDED PRECEDING) AS run
          FROM pts),
        mx AS (SELECT max(run) AS peak FROM runs)
        SELECT CAST(peak AS BIGINT) AS peak,
               CAST((SELECT min(t) FROM runs WHERE run = peak)
                 AS BIGINT) AS at_micros,
               (SELECT CAST(count(*) AS BIGINT) FROM iv) AS n_sessions
        FROM mx""")),

    // ---------------------------------------------------------------- e34
    // One POWER-ITERATION step on e09's transition matrix, in exact
    // integers: where does traffic concentrate after one hop from a
    // uniform start — the event-type analog of g01's integer-exact
    // PageRank step. Row-normalized probabilities floor-quantize to ppm
    // (n·10⁶ div n_from — exact integer division, no float anywhere),
    // and inflow(b) = Σ_a q_ppm(a,b), an integer sum over the ≤k²-row
    // matrix (the uniform 1/k start factors out, so the k-scaled mass
    // is reported as-is). The row totals come from a window over the
    // tiny count table, NOT a join, so the event stream is touched by
    // exactly one user-keyed window pass. Output ≤k rows ranked by
    // inflow with the type as tie-break.
    "e34_stationary_step" -> QueryDef(
      build = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val cnt = t(s, d, "events")
          .withColumn("to_type", lead("event_type", 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
        cnt
          .withColumn("n_from",
            sum("n").over(Window.partitionBy("from_type")))
          .withColumn("q_ppm", expr("n * 1000000 div n_from"))
          .groupBy(col("to_type").as("event_type"))
          .agg(sum("q_ppm").as("inflow_kppm"),
            count(lit(1)).as("n_sources"))
          .orderBy(col("inflow_kppm").desc, col("event_type"))
      },
      oracle = Some("""
        WITH nx AS (
          SELECT event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS to_type
          FROM events),
        c AS (SELECT from_type, to_type, count(*) AS n
              FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2),
        q AS (SELECT from_type, to_type,
                     n * 1000000 // sum(n) OVER (PARTITION BY from_type)
                       AS q_ppm
              FROM c)
        SELECT to_type AS event_type,
               CAST(sum(q_ppm) AS BIGINT) AS inflow_kppm,
               CAST(count(*) AS BIGINT) AS n_sources
        FROM q GROUP BY 1
        ORDER BY inflow_kppm DESC, event_type""")),

    // ---------------------------------------------------------------- e35
    // BOUNCE RATE by entry type: the share of e03-sessions that contain
    // exactly one event, keyed by the session's FIRST event type — the
    // engagement metric behind "which landing surface loses users".
    // The session's entry event resolves as min(struct(micros,
    // event_id, event_type)) — a deterministic argmin computed inside
    // the same hash aggregate that counts the session's length, so the
    // whole query is the sessionize window plus two aggregates, all
    // user- or type-keyed (never a global shuffle). Rate in floor-bp
    // exact integers; ≤|types| output rows.
    "e35_bounce_rate" -> QueryDef(
      build = (s, d) =>
        sessionIntervals(s, d)
          .select(col("fst").getField("event_type").as("entry_type"),
            col("len"))
          .groupBy("entry_type")
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("len") === 1, 1L).otherwise(0L)).as("n_bounce"))
          .withColumn("bounce_bp",
            expr("n_bounce * 10000 div n_sessions"))
          .orderBy("entry_type"),
      oracle = Some(s"""
        WITH $sqlSessionIntervals
        SELECT entry_type,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(CASE WHEN len = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_bounce,
               CAST(sum(CASE WHEN len = 1 THEN 1 ELSE 0 END) * 10000
                 // count(*) AS BIGINT) AS bounce_bp
        FROM iv GROUP BY 1 ORDER BY 1"""))
  )
}
