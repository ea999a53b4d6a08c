package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.operators.{AsOfJoin, RangeJoinBinned, Sessionize}

/** Event-stream analytics, batch side (SURVEY.md §2 block C). The
  * Structured Streaming twins live in graft.streaming.EventStream;
  * these batch plans are the oracle-checked surface.
  *
  * Timestamps are microsecond-precision; every time comparison here
  * is done in integral epoch micros (`unix_micros` ⇔ DuckDB
  * `epoch_us`) so Spark and the oracle can never disagree on a gap
  * or window boundary through float rounding.
  */
object EventQueries {

  /** Each purchase as-of-joined (AsOfJoin, in `direction` and within
    * `toleranceUs`) to its user's clicks, pre-aggregated to one row
    * per (user, ts) with the max event_id as `click_id`: the shared
    * input of the q21/q33/q38/q40 attribution queries.
    */
  private def purchaseAsOfClick(s: SparkSession, d: String,
      direction: String = "backward",
      toleranceUs: Option[Long] = None): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts")
      .agg(max("event_id").as("click_id"))
      .select(col("user_id"), col("ts"), col("click_id"),
        unix_micros(col("ts")).as("click_ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    AsOfJoin(purchases, clicks, "user_id", "ts",
      Seq("click_id", "click_ts_us"), direction, toleranceUs)
  }

  /** The oracle twin of [[purchaseAsOfClick]]'s inputs: `clicks`
    * (user_id, ts, click_id, click_ts_us) and `purch` (event_id,
    * user_id, ts).
    */
  private val clickAsOfCtes: String =
    """clicks AS (
      |  SELECT user_id, ts, max(event_id) AS click_id,
      |    epoch_us(ts) AS click_ts_us
      |  FROM events WHERE event_type = 'click'
      |  GROUP BY user_id, ts
      |),
      |purch AS (
      |  SELECT event_id, user_id, ts FROM events
      |  WHERE event_type = 'purchase'
      |)""".stripMargin

  /** SCD-2 versions of each user's event_type state (q57, q61): the
    * events whose type differs from the user's previous one, in
    * (tsl, event_id) order, each with `valid_to` (the next version's
    * tsl, null for the current one) and its 1-based `version`.
    */
  private def scd2Versions(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("tsl"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsl"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
      .withColumn("valid_to", lead("tsl", 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
  }

  /** The oracle twin of [[scd2Versions]]: `v` (user_id, event_type,
    * tsl, valid_to, version).
    */
  private val scd2Ctes: String =
    """ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tsl, event_type,
      |    lag(event_type) OVER (
      |      PARTITION BY user_id ORDER BY tsl, event_id)
      |      AS prev_type
      |  FROM events
      |),
      |ch AS (
      |  SELECT user_id, event_id, tsl, event_type
      |  FROM ev
      |  WHERE prev_type IS NULL OR prev_type <> event_type
      |),
      |v AS (
      |  SELECT user_id, event_type, tsl,
      |    lead(tsl) OVER w AS valid_to,
      |    CAST(row_number() OVER w AS BIGINT) AS version
      |  FROM ch
      |  WINDOW w AS (PARTITION BY user_id ORDER BY tsl, event_id)
      |)""".stripMargin

  def all: Seq[Q] = Seq(

    // First-order Markov transition matrix over per-user event
    // sequences: count each (event_type → next_event_type) step and
    // its probability within the from-type's row — the
    // behavioral-model primitive under next-event prediction and
    // anomaly scoring. One user-key exchange feeds the lead()
    // window (co-partitioned with the per-user ordering), then the
    // pair counts partial-aggregate; probabilities are integer
    // division on exact counts (e6 grid), so no float leaves either
    // engine. Ties in ts break by event_id on both sides.
    Q("q51_markov_transitions",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val steps = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("next_type", lead("event_type", 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"),
            col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n_steps"))
        val totals = steps.groupBy("from_type")
          .agg(sum("n_steps").as("n_from"))
        steps.join(totals, "from_type")
          .select(col("from_type"), col("to_type"), col("n_steps"),
            expr("CAST(n_steps * 1000000 DIV n_from AS BIGINT)")
              .as("p_e6"))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH seq AS (
             |  SELECT user_id, event_type,
             |    lead(event_type) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id)
             |      AS next_type
             |  FROM events
             |),
             |st AS (
             |  SELECT event_type AS from_type, next_type AS to_type,
             |    count(*) AS n_steps
             |  FROM seq WHERE next_type IS NOT NULL
             |  GROUP BY 1, 2
             |),
             |tot AS (
             |  SELECT from_type, sum(n_steps) AS n_from
             |  FROM st GROUP BY from_type
             |)
             |SELECT st.from_type, st.to_type,
             |  CAST(st.n_steps AS BIGINT) AS n_steps,
             |  CAST(st.n_steps * 1000000 // tot.n_from AS BIGINT) AS p_e6
             |FROM st JOIN tot USING (from_type)
             |ORDER BY from_type, to_type""".stripMargin)),

    // JSON property extraction + aggregate by event type. The JSON
    // path read is a native codegen'd expression (get_json_object),
    // not a UDF; the scan prunes to (event_type, props).
    Q("q17_json_extract",
      (s, d) => Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum("k").as("sum_k"),
          round(avg("k"), 4).as("avg_k"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
             |  count(*) AS n_events,
             |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
             |  round(avg(CAST(props->>'$.k' AS BIGINT)), 4) AS avg_k
             |FROM events GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // 30-minute-gap sessionization (graft.operators.Sessionize):
    // ONE shuffle on user_id, then lag + running sum + the session
    // aggregation all run within the same partitioning.
    Q("q18_sessionize",
      (s, d) => Sessionize(Tables.events(s, d), "user_id", "ts",
          gapMicros = 1800L * 1000000L)
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("session_start"),
          max("ts").as("session_end"),
          (unix_micros(max("ts")) - unix_micros(min("ts")))
            .as("duration_us"))
        .orderBy("user_id", "session_id"),
      Some("""WITH g AS (
             |  SELECT user_id, ts,
             |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
             |              > 1800 * 1000000
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |),
             |sid AS (
             |  SELECT user_id, ts,
             |    CAST(sum(new_session) OVER (
             |      PARTITION BY user_id ORDER BY ts
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
             |  FROM g
             |)
             |SELECT user_id, session_id,
             |  count(*) AS n_events,
             |  min(ts) AS session_start,
             |  max(ts) AS session_end,
             |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
             |FROM sid GROUP BY user_id, session_id
             |ORDER BY user_id, session_id""".stripMargin)),

    // signup→purchase conversion funnel: a user converts if their
    // first purchase is at-or-after their first signup. Two
    // conditional min-aggregates — one pass over events, one shuffle
    // on user_id, tiny final rollup.
    Q("q19_funnel",
      (s, d) => {
        val perUser = Tables.events(s, d)
          .groupBy("user_id")
          .agg(
            min(when(col("event_type") === "signup", unix_micros(col("ts"))))
              .as("first_signup"),
            min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
              .as("first_purchase"))
        perUser.agg(
          count(lit(1)).as("n_users"),
          count(col("first_signup")).as("n_signed_up"),
          sum(when(col("first_purchase") >= col("first_signup"), 1L)
            .otherwise(0L)).as("n_converted"))
        .select(col("n_users"), col("n_signed_up"), col("n_converted"),
          round(col("n_converted").cast("double") / col("n_signed_up"), 4)
            .as("conversion_rate"))
      },
      Some("""WITH per_user AS (
             |  SELECT user_id,
             |    min(CASE WHEN event_type = 'signup'
             |             THEN epoch_us(ts) END) AS first_signup,
             |    min(CASE WHEN event_type = 'purchase'
             |             THEN epoch_us(ts) END) AS first_purchase
             |  FROM events GROUP BY user_id
             |)
             |SELECT count(*) AS n_users,
             |  count(first_signup) AS n_signed_up,
             |  CAST(sum(CASE WHEN first_purchase >= first_signup
             |           THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
             |  round(CAST(sum(CASE WHEN first_purchase >= first_signup
             |                  THEN 1 ELSE 0 END) AS DOUBLE)
             |        / count(first_signup), 4) AS conversion_rate
             |FROM per_user""".stripMargin)),

    // Hourly tumbling-window aggregates via the streaming-compatible
    // `window()` grouping (same expression Structured Streaming uses
    // with a watermark — the batch/stream twin share this plan shape).
    Q("q20_tumbling_window",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("sum_value"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy("hour_start", "event_type"),
      Some("""SELECT date_trunc('hour', ts) AS hour_start, event_type,
             |  count(*) AS n_events,
             |  round(sum(value), 2) AS sum_value
             |FROM events GROUP BY 1, 2
             |ORDER BY hour_start, event_type""".stripMargin)),

    // As-of join (click attribution): each purchase gets the user's
    // latest at-or-before click. graft.operators.AsOfJoin is the
    // sort-merge union+window shape — one shuffle on user_id, linear
    // per key, no range-join pair explosion. Clicks pre-aggregate to
    // one row per (user, ts) so same-ts payloads are deterministic.
    // Oracle: DuckDB's native ASOF JOIN (same inclusive semantics).
    Q("q21_asof_join",
      (s, d) => purchaseAsOfClick(s, d)
        .filter(col("asof_click_id").isNotNull)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("asof_click_id").as("click_id"),
          col("asof_click_ts_us").as("click_ts_us"),
          (unix_micros(col("ts")) - col("asof_click_ts_us")).as("gap_us"))
        .orderBy("event_id"),
      Some(s"""WITH $clickAsOfCtes
              |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
              |  c.click_id, c.click_ts_us,
              |  epoch_us(p.ts) - c.click_ts_us AS gap_us
              |FROM purch p ASOF JOIN clicks c
              |  ON p.user_id = c.user_id AND p.ts >= c.ts
              |ORDER BY p.event_id""".stripMargin)),

    // Forward as-of: each purchase gets the user's EARLIEST
    // at-or-after click — the "next follow-up event" direction of
    // the same sort-merge operator (first-over-following-frame
    // instead of last-over-preceding; still one shuffle, no pair
    // explosion). Oracle: DuckDB ASOF with the comparison flipped.
    Q("q33_asof_forward",
      (s, d) => purchaseAsOfClick(s, d, direction = "forward")
        .filter(col("asof_click_id").isNotNull)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("asof_click_id").as("click_id"),
          col("asof_click_ts_us").as("click_ts_us"),
          (col("asof_click_ts_us") - unix_micros(col("ts"))).as("gap_us"))
        .orderBy("event_id"),
      Some(s"""WITH $clickAsOfCtes
              |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
              |  c.click_id, c.click_ts_us,
              |  c.click_ts_us - epoch_us(p.ts) AS gap_us
              |FROM purch p ASOF JOIN clicks c
              |  ON p.user_id = c.user_id AND p.ts <= c.ts
              |ORDER BY p.event_id""".stripMargin)),

    // Bounded-staleness as-of (pandas merge_asof `tolerance`; the
    // ATTRIBUTION WINDOW of click-attribution pipelines): each
    // purchase keeps its latest at-or-before click only if it is
    // ≤ 30 min old; staler matches null out, and every purchase
    // survives (left semantics). The match is unique per left row,
    // so the bound is a pure post-predicate on the matched
    // timestamp: same one-shuffle sort-merge plan. Oracle: DuckDB
    // ASOF LEFT JOIN with the window stated as CASE.
    Q("q38_asof_window",
      (s, d) => purchaseAsOfClick(s, d,
          toleranceUs = Some(30L * 60 * 1000000))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("asof_click_id").as("click_id"),
          col("asof_click_ts_us").as("click_ts_us"))
        .orderBy("event_id"),
      Some(s"""WITH $clickAsOfCtes
              |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
              |  CASE WHEN epoch_us(p.ts) - c.click_ts_us <= 1800000000
              |       THEN c.click_id END AS click_id,
              |  CASE WHEN epoch_us(p.ts) - c.click_ts_us <= 1800000000
              |       THEN c.click_ts_us END AS click_ts_us
              |FROM purch p ASOF LEFT JOIN clicks c
              |  ON p.user_id = c.user_id AND p.ts >= c.ts
              |ORDER BY p.event_id""".stripMargin)),

    // Nearest as-of (pandas merge_asof direction='nearest'): each
    // purchase takes its temporally CLOSEST click in either
    // direction, ties to the at-or-before side — the third as-of
    // direction after backward (q21) and forward (q33). Both picks
    // come from one shuffle+sort (two frames over the same window
    // partition); the oracle states the semantics directly as an
    // argmin over the per-user pair space (fine for DuckDB at oracle
    // scale; the Spark plan must never materialize those pairs).
    Q("q40_asof_nearest",
      (s, d) => purchaseAsOfClick(s, d, direction = "nearest")
        .filter(col("asof_click_id").isNotNull)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("asof_click_id").as("click_id"),
          col("asof_click_ts_us").as("click_ts_us"),
          abs(unix_micros(col("ts")) - col("asof_click_ts_us"))
            .as("gap_us"))
        .orderBy("event_id"),
      Some(s"""WITH $clickAsOfCtes,
              |r AS (
              |  SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
              |    c.click_id, c.click_ts_us,
              |    abs(epoch_us(p.ts) - c.click_ts_us) AS gap_us,
              |    row_number() OVER (PARTITION BY p.event_id
              |      ORDER BY abs(epoch_us(p.ts) - c.click_ts_us),
              |        CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END) AS rn
              |  FROM purch p JOIN clicks c ON c.user_id = p.user_id
              |)
              |SELECT event_id, user_id, ts_us, click_id, click_ts_us,
              |  gap_us
              |FROM r WHERE rn = 1
              |ORDER BY event_id""".stripMargin)),

    // Range join (interval containment): error events attributed to
    // the click session window they fall inside. A session WINDOW
    // runs from its first click until the 30-min gap timeout after
    // its last (clicks are sparse here — the bare [min,max] span is
    // almost always a point, which would make the query vacuous).
    // graft.operators.RangeJoinBinned turns the BETWEEN predicate
    // into an equi-join on (user_id, time bin) — no broadcast-
    // nested-loop pair scan. The oracle uses a plain range join
    // (DuckDB handles it; Spark at scale must not).
    Q("q24_range_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val sessions = Sessionize(
            ev.filter(col("event_type") === "click")
              .select("user_id", "ts"),
            "user_id", "ts", gapMicros = 1800L * 1000000L)
          .groupBy("user_id", "session_id")
          .agg(min("ts").as("session_start"),
            (max("ts") + expr("INTERVAL 30 MINUTES")).as("session_end"))
        val errors = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts"))
        RangeJoinBinned(errors, "ts", sessions,
            "session_start", "session_end",
            binMicros = 1800L * 1000000L, keyCols = Seq("user_id"))
          .groupBy(col("user_id"), col("session_id"),
            unix_micros(col("session_start")).as("start_us"),
            unix_micros(col("session_end")).as("end_us"))
          .agg(count(lit(1)).as("n_errors"))
          .select("user_id", "session_id", "start_us", "end_us", "n_errors")
          .orderBy("user_id", "session_id")
      },
      Some("""WITH g AS (
             |  SELECT user_id, ts,
             |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
             |              > 1800 * 1000000
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events WHERE event_type = 'click'
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |),
             |sid AS (
             |  SELECT user_id, ts,
             |    CAST(sum(new_session) OVER (
             |      PARTITION BY user_id ORDER BY ts
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
             |  FROM g
             |),
             |sess AS (
             |  SELECT user_id, session_id,
             |    min(ts) AS session_start,
             |    max(ts) + INTERVAL 30 MINUTE AS session_end
             |  FROM sid GROUP BY user_id, session_id
             |),
             |err AS (
             |  SELECT user_id, ts FROM events WHERE event_type = 'error'
             |)
             |SELECT s.user_id, s.session_id,
             |  epoch_us(s.session_start) AS start_us,
             |  epoch_us(s.session_end) AS end_us,
             |  count(*) AS n_errors
             |FROM sess s JOIN err e
             |  ON e.user_id = s.user_id
             | AND e.ts >= s.session_start AND e.ts <= s.session_end
             |GROUP BY s.user_id, s.session_id, s.session_start, s.session_end
             |ORDER BY s.user_id, s.session_id""".stripMargin)),

    // Cohort retention — the product-analytics staple completing the
    // event family (sessionize, funnel, windows, as-of): users
    // grouped by first-active week, then distinct actives per
    // (cohort, weeks-since) cell. Scale shape: one distinct exchange
    // on (user, week), the cohort min as a partial aggregate, and
    // the cell count a partial-agg'd count-distinct — no window, no
    // self-join over raw events. Week diffs are exact multiples of 7
    // (both sides week-truncated), so the /7 stays integral in any
    // engine.
    Q("q45_retention",
      (s, d) => {
        val activity = Tables.events(s, d)
          .select(col("user_id"),
            date_trunc("week", col("ts")).cast("date").as("wk"))
          .distinct()
        val cohort = activity.groupBy("user_id")
          .agg(min("wk").as("cohort_wk"))
        activity.join(cohort, "user_id")
          .groupBy(col("cohort_wk"),
            (datediff(col("wk"), col("cohort_wk")) / 7).cast("long")
              .as("weeks_since"))
          .agg(countDistinct("user_id").as("n_users"))
          .orderBy("cohort_wk", "weeks_since")
      },
      Some("""WITH a AS (
             |  SELECT DISTINCT user_id,
             |    CAST(date_trunc('week', ts) AS DATE) AS wk
             |  FROM events
             |),
             |c AS (
             |  SELECT user_id, min(wk) AS cohort_wk FROM a GROUP BY user_id
             |)
             |SELECT c.cohort_wk,
             |  CAST(datediff('day', c.cohort_wk, a.wk) // 7 AS BIGINT)
             |    AS weeks_since,
             |  count(DISTINCT a.user_id) AS n_users
             |FROM a JOIN c USING (user_id)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Path analysis (the product-analytics "user journeys" staple
    // completing q18/q19/q45): the 10 most common 3-step event-type
    // sequences across all users, tie-broken by path string so the
    // ranking is total-order deterministic. Scale shape: per-user
    // ordered sequences under ONE user_id exchange (state bounded by
    // the user's own activity — the q18 sessionize class), trigrams
    // exploded map-side from the sorted array, counts partial-agg'd
    // on the path key, top-10 via TakeOrderedAndProject — no window
    // over raw events, no self-joins. The (ts, event_id) composite
    // sort key makes the per-user order total even with ts ties.
    Q("q47_path3",
      (s, d) => {
        val seqs = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .groupBy("user_id")
          .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))).as("seq"))
          .filter(size(col("seq")) >= 3)
        seqs
          .select(explode(expr(
            """transform(sequence(0, size(seq) - 3),
              |  i -> concat(seq[i].event_type, '>',
              |    seq[i+1].event_type, '>',
              |    seq[i+2].event_type))""".stripMargin
              .replaceAll("\n", " "))).as("path"))
          .groupBy("path").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("path"))
          .limit(10)
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type,
             |    lead(event_type, 1) OVER w AS t1,
             |    lead(event_type, 2) OVER w AS t2
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |),
             |p AS (
             |  SELECT event_type || '>' || t1 || '>' || t2 AS path
             |  FROM e WHERE t2 IS NOT NULL
             |)
             |SELECT path, CAST(count(*) AS BIGINT) AS n
             |FROM p GROUP BY path
             |ORDER BY n DESC, path LIMIT 10""".stripMargin)),

    // Idempotent-ingestion dedup: repeated (user, type) events within
    // an hourly window collapse to the first (min event_id) row —
    // `min_by` carries the kept payload, the count audits how many
    // duplicates each key absorbed. The SAME definition
    // (EventStream.windowDedup) runs as the streaming dedup with
    // watermark-bounded state; parity is pinned in EventStreamSpec.
    Q("q48_event_dedup",
      (s, d) => graft.streaming.EventStream
        .windowDedup(Tables.events(s, d))
        .orderBy("hour_start", "user_id", "event_type"),
      Some("""SELECT date_trunc('hour', ts) AS hour_start, user_id,
             |  event_type,
             |  min(event_id) AS kept_event_id,
             |  arg_min(value, event_id) AS kept_value,
             |  count(*) AS n_dups
             |FROM events GROUP BY 1, 2, 3
             |ORDER BY hour_start, user_id, event_type""".stripMargin)),

    // Multi-touch conversion attribution — the marketing-analytics
    // twin of q19's funnel: every purchase credits (a) its LAST
    // preceding touch event (click/view/signup — strictly before by
    // timestamp, any distance) and (b) the FIRST touch inside a
    // 7-day lookback, per user. Both credits are struct extrema over
    // micros RANGE frames (the q39 machinery on event time) in ONE
    // per-user ordered pass — max/min of (tsl, event_id, touch)
    // keeps the pick deterministic under same-timestamp ties, where
    // last()/first() over the frame would take whichever peer row
    // the engine ordered first. One user-key exchange, one channel
    // aggregate; no self-join of the event table against itself.
    // Revenue rides as exact cents. 'none' collects purchases with
    // no qualifying touch.
    Q("q52_attribution",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val SevenDaysUs = 604800000000L
        val ev = Tables.events(s, d).select(
          col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tsl"),
          col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("val_c"),
          when(col("event_type").isin("click", "view", "signup"),
            col("event_type")).as("touch"))
        // Both frames are VALUE-based (range on micros, strictly
        // before the purchase's timestamp) and the pick inside a
        // frame is a struct extremum ordered (tsl, event_id, touch)
        // — deterministic under same-timestamp ties, where a
        // last()/first() over an (ORDER BY tsl) frame would take
        // whichever peer row the engine ordered first.
        val byUser = Window.partitionBy("user_id").orderBy("tsl")
        val touchKey = when(col("touch").isNotNull,
          struct(col("tsl"), col("event_id"), col("touch")))
        val w = ev
          .withColumn("last_touch",
            max(touchKey).over(
              byUser.rangeBetween(Window.unboundedPreceding, -1))
              .getField("touch"))
          .withColumn("first_touch",
            min(touchKey).over(byUser.rangeBetween(-SevenDaysUs, -1))
              .getField("touch"))
          .filter(col("event_type") === "purchase")
        // Both models aggregate from ONE pass over the windowed
        // purchases (explode to (channel, model) pairs) — two
        // separate groupBys would re-scan events and re-run the
        // user-key window per model.
        w.select(explode(array(
            struct(coalesce(col("last_touch"), lit("none"))
              .as("channel"), lit("last").as("model"), col("val_c")),
            struct(coalesce(col("first_touch"), lit("none"))
              .as("channel"), lit("first").as("model"), col("val_c"))))
            .as("p"))
          .select(col("p.channel"), col("p.model"), col("p.val_c"))
          .groupBy("channel")
          .agg(
            sum(when(col("model") === "last", 1L).otherwise(0L))
              .as("n_last"),
            sum(when(col("model") === "last", col("val_c"))
              .otherwise(0L)).as("rev_last_c"),
            sum(when(col("model") === "first", 1L).otherwise(0L))
              .as("n_first"),
            sum(when(col("model") === "first", col("val_c"))
              .otherwise(0L)).as("rev_first_c"))
          .orderBy("channel")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS tsl, event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS val_c,
             |    CASE WHEN event_type IN ('click', 'view', 'signup')
             |         THEN event_type END AS touch
             |  FROM events
             |),
             |w AS (
             |  SELECT *,
             |    (max(CASE WHEN touch IS NOT NULL THEN
             |       {'t': tsl, 'e': event_id, 'c': touch} END) OVER (
             |      PARTITION BY user_id ORDER BY tsl
             |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)).c
             |      AS last_touch,
             |    (min(CASE WHEN touch IS NOT NULL THEN
             |       {'t': tsl, 'e': event_id, 'c': touch} END) OVER (
             |      PARTITION BY user_id ORDER BY tsl
             |      RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)).c
             |      AS first_touch
             |  FROM ev
             |),
             |p AS (SELECT * FROM w WHERE event_type = 'purchase'),
             |la AS (
             |  SELECT coalesce(last_touch, 'none') AS channel,
             |    count(*) AS n_last,
             |    CAST(sum(val_c) AS BIGINT) AS rev_last_c
             |  FROM p GROUP BY 1
             |),
             |fa AS (
             |  SELECT coalesce(first_touch, 'none') AS channel,
             |    count(*) AS n_first,
             |    CAST(sum(val_c) AS BIGINT) AS rev_first_c
             |  FROM p GROUP BY 1
             |)
             |SELECT coalesce(la.channel, fa.channel) AS channel,
             |  CAST(coalesce(n_last, 0) AS BIGINT) AS n_last,
             |  CAST(coalesce(rev_last_c, 0) AS BIGINT) AS rev_last_c,
             |  CAST(coalesce(n_first, 0) AS BIGINT) AS n_first,
             |  CAST(coalesce(rev_first_c, 0) AS BIGINT) AS rev_first_c
             |FROM la FULL OUTER JOIN fa ON la.channel = fa.channel
             |ORDER BY channel""".stripMargin)),

    // SCD-2 (slowly-changing-dimension type 2) build: collapse each
    // user's event stream into VALIDITY INTERVALS of their current
    // event_type "state" — a new version opens only when the state
    // CHANGES (consecutive same-type events fold into one interval),
    // valid_to = the next version's valid_from (NULL = current row,
    // flagged). The warehouse staple turning an event log into a
    // point-in-time-joinable dimension (q21's as-of join is its
    // read side). Scale shape: ONE exchange on the high-cardinality
    // user key feeds all three windows (lag-change detection, then
    // lead/version over the change rows — same key, same ordering,
    // so Catalyst plans one sort); per-partition state is one lag /
    // one lead / one counter. Micros-integral timestamps, ties break
    // on event_id — bit-identical interval edges on both engines.
    Q("q57_scd2",
      (s, d) => scd2Versions(s, d)
        .select(col("user_id"), col("version"),
          col("event_type").as("state"),
          col("tsl").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
        .orderBy("user_id", "version"),
      Some(s"""WITH $scd2Ctes
              |SELECT user_id, version, event_type AS state,
              |  tsl AS valid_from, valid_to, valid_to IS NULL AS is_current
              |FROM v ORDER BY user_id, version""".stripMargin)),

    // MERGE / CDC-apply (operators.Merge.applyChangelog): apply a
    // changelog to a base snapshot — latest-change-wins per key,
    // upserts AND deletes — producing the post-merge snapshot: the
    // WRITE side of the q57/d34/q21 warehouse family. The changelog
    // derives from events (signup → INSERT of a new key in a
    // namespace provably above BOTH existing key ranges —
    // max(c_custkey, user_id) + 1 + user_id as a one-row broadcast
    // scalar, so no SF can make synthetic inserts collide with real
    // customers and silently become updates; error → DELETE,
    // click/view/purchase → UPDATE with the event's value as the
    // new balance), sequenced by (ts, event_id). Scale shape: one
    // changelog exchange on the key feeds the latest-wins window,
    // survivors join the base with ONE equi-shuffle on the same
    // key; the base is never windowed. OperatorsSpec pins
    // idempotence (same changelog twice = no-op) and each I/U/D
    // precedence path on a hand fixture.
    Q("q60_cdc_apply",
      (s, d) => {
        val base = Tables.customer(s, d).select(col("c_custkey"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("bal_c"),
          col("c_mktsegment").as("seg"))
        val off = Tables.customer(s, d).agg(max("c_custkey").as("mc"))
          .crossJoin(Tables.events(s, d).agg(max("user_id").as("mu")))
          .select(greatest(col("mc").cast("long"), col("mu"))
            .as("off"))
        val chg = Tables.events(s, d).crossJoin(broadcast(off)).select(
          when(col("event_type") === "signup",
            col("off") + lit(1L) + col("user_id"))
            .otherwise(col("user_id"))
            .as("c_custkey"),
          unix_micros(col("ts")).as("tsl"), col("event_id"),
          when(col("event_type") === "signup", "I")
            .when(col("event_type") === "error", "D")
            .otherwise("U").as("op"),
          floor(col("value") * 100 + 0.5).cast("long").as("bal_c"),
          upper(col("event_type")).as("seg"))
        graft.operators.Merge.applyChangelog(base, chg,
            keyCol = "c_custkey", seqCols = Seq(col("tsl"), col("event_id")),
            opCol = "op", valueCols = Seq("bal_c", "seg"))
          .orderBy("c_custkey")
      },
      Some("""WITH base AS (
             |  SELECT c_custkey,
             |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c,
             |    c_mktsegment AS seg
             |  FROM customer
             |),
             |off AS (
             |  SELECT greatest(
             |    (SELECT CAST(max(c_custkey) AS BIGINT) FROM customer),
             |    (SELECT max(user_id) FROM events)) AS off
             |),
             |chg AS (
             |  SELECT CASE WHEN event_type = 'signup'
             |              THEN (SELECT off FROM off) + 1 + user_id
             |              ELSE user_id END
             |      AS c_custkey,
             |    epoch_us(ts) AS tsl, event_id,
             |    CASE WHEN event_type = 'signup' THEN 'I'
             |         WHEN event_type = 'error' THEN 'D'
             |         ELSE 'U' END AS op,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS bal_c,
             |    upper(event_type) AS seg
             |  FROM events
             |),
             |last AS (
             |  SELECT c_custkey, op, bal_c, seg FROM (
             |    SELECT *, row_number() OVER (PARTITION BY c_custkey
             |        ORDER BY tsl DESC, event_id DESC) AS rn
             |    FROM chg) WHERE rn = 1
             |)
             |SELECT coalesce(b.c_custkey, l.c_custkey) AS c_custkey,
             |  CASE WHEN l.op IS NOT NULL THEN l.bal_c ELSE b.bal_c END
             |    AS bal_c,
             |  CASE WHEN l.op IS NOT NULL THEN l.seg ELSE b.seg END AS seg
             |FROM base b FULL OUTER JOIN last l
             |  ON b.c_custkey = l.c_custkey
             |WHERE l.op IS NULL OR l.op <> 'D'
             |ORDER BY c_custkey""".stripMargin)),

    // TIME-TRAVEL (AS OF) read — the read side that completes the
    // warehouse triangle: q57 BUILDS the SCD-2 dimension, q60
    // APPLIES changelogs, this reconstructs the point-in-time
    // snapshot "state of every user AS OF t" from the versioned
    // table: the version whose [valid_from, valid_to) interval
    // covers t (t = the stream's midpoint, derived as a one-row
    // scalar aggregate so the query is corpus-relative, never a
    // wall-clock constant). Scale shape: the SCD-2 build is q57's
    // one user-key exchange; the AS-OF cut is a broadcast one-row
    // scalar + a FILTER on the versioned rows — no join against the
    // full history, no window beyond the build's own.
    Q("q61_time_travel",
      (s, d) => {
        // `div`, never Column `/`: long/long `/` is double division
        // + cast, exact only while min+max < 2^53 — the
        // packSequences discipline (the oracle's `//` is integer).
        val mid = Tables.events(s, d)
          .agg((min(unix_micros(col("ts"))) +
            max(unix_micros(col("ts")))).as("s2"))
          .select(expr("s2 div 2").cast("long").as("t"))
        scd2Versions(s, d).crossJoin(broadcast(mid))
          .filter(col("tsl") <= col("t") &&
            (col("valid_to").isNull || col("valid_to") > col("t")))
          .select(col("user_id"), col("version"),
            col("event_type").as("state_asof"),
            col("tsl").as("valid_from"), col("t").as("asof_ts"))
          .orderBy("user_id")
      },
      Some(s"""WITH $scd2Ctes,
              |mid AS (
              |  SELECT CAST((min(epoch_us(ts)) + max(epoch_us(ts))) // 2
              |    AS BIGINT) AS t
              |  FROM events
              |)
              |SELECT user_id, version, event_type AS state_asof,
              |  tsl AS valid_from, (SELECT t FROM mid) AS asof_ts
              |FROM v
              |WHERE tsl <= (SELECT t FROM mid)
              |  AND (valid_to IS NULL OR valid_to > (SELECT t FROM mid))
              |ORDER BY user_id""".stripMargin)),

    // INTERVAL-UNION coverage per user — the "merge overlapping
    // intervals" staple (machine uptime, user engagement seconds,
    // on-call coverage): each event opens an interval of `value`
    // seconds; overlapping/touching intervals merge (a new merged
    // group starts exactly when an interval's start exceeds the
    // running max of all earlier ends — the classic sweep), and the
    // answer is the union LENGTH, which q54's point-in-time
    // concurrency cannot produce. One exchange on the user key feeds
    // all three window passes (same key + ordering → one sort); the
    // running-max / flag / running-sum arithmetic is integral micros
    // end to end.
    Q("q63_interval_coverage",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val iv = Tables.events(s, d).select(col("user_id"),
          unix_micros(col("ts")).as("st"),
          (unix_micros(col("ts"))
            + floor(col("value") * 1000000).cast("long")).as("en"))
        val w = Window.partitionBy("user_id").orderBy(col("st"), col("en"))
        val flagged = iv
          .withColumn("maxe",
            max("en").over(w.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("new_grp",
            when(col("maxe").isNull || col("st") > col("maxe"), 1L)
              .otherwise(0L))
          .withColumn("grp", sum("new_grp")
            .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        flagged.groupBy("user_id", "grp")
          .agg(min("st").as("gs"), max("en").as("ge"),
            count(lit(1)).as("n"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_merged"),
            sum("n").as("n_intervals"),
            sum(col("ge") - col("gs")).as("covered_us"))
          .orderBy("user_id")
      },
      Some("""WITH iv AS (
             |  SELECT user_id, epoch_us(ts) AS st,
             |    epoch_us(ts) + CAST(floor(value * 1000000) AS BIGINT)
             |      AS en
             |  FROM events
             |),
             |f AS (
             |  SELECT user_id, st, en,
             |    CASE WHEN max(en) OVER pw IS NULL
             |           OR st > max(en) OVER pw
             |         THEN 1 ELSE 0 END AS new_grp
             |  FROM iv
             |  WINDOW pw AS (PARTITION BY user_id ORDER BY st, en
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |),
             |g AS (
             |  SELECT user_id, st, en,
             |    sum(new_grp) OVER (PARTITION BY user_id
             |      ORDER BY st, en
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS grp
             |  FROM f
             |),
             |m AS (
             |  SELECT user_id, grp, min(st) AS gs, max(en) AS ge,
             |    count(*) AS n
             |  FROM g GROUP BY 1, 2
             |)
             |SELECT user_id, count(*) AS n_merged,
             |  CAST(sum(n) AS BIGINT) AS n_intervals,
             |  CAST(sum(ge - gs) AS BIGINT) AS covered_us
             |FROM m GROUP BY user_id
             |ORDER BY user_id""".stripMargin))
  )
}
