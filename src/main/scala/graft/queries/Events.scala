package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkEntry.t

/** Event-log operators over `events`: window ranking, event-time
  * windows, sessionization, as-of and range joins.
  */
object Events {
  val all: Seq[Query] = Seq(
    // window function: top-3 busiest days per event type
    Query("q13_window_rank", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("n").desc, col("day"))
      daily.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .orderBy(col("event_type"), col("rk"))
    }, Some(
      """SELECT event_type, day, n, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT event_type, day, n,
        |    row_number() OVER (PARTITION BY event_type ORDER BY n DESC, day) AS rk
        |  FROM (
        |    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n
        |    FROM events GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)))
        |WHERE rk <= 3 ORDER BY event_type, rk""".stripMargin)),

    // event-time tumbling windows via Spark's window() primitive — the
    // same windowing streaming.StreamOps.windowedTokenStats uses with a
    // watermark, applied batch so DuckDB's time_bucket can oracle it
    // (both align 6h buckets to midnight). Sums are integer cents
    // (representation-proof, see q02); window start is formatted to a
    // string so the compare never depends on timestamp encoding.
    Query("q44_event_time_windows", (s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_cents"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value_cents"))
        .orderBy(col("window_start"), col("event_type"))
    }, Some(
      """SELECT
        |  strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S')
        |    AS window_start,
        |  event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_value_cents
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin)),

    // gap-based sessionization: a new session opens when the gap to the
    // user's previous event exceeds 30 min. EXACTLY one shuffle — the
    // window partition on user_id — then lag/cumsum/agg all run inside
    // the per-user sort (the two windows and the groupBy share the
    // user_id clustering, so Catalyst plans a single Exchange); at 100
    // TB the cost is one repartition of the event log, the same shape
    // as the reference's single-key merge paths. Microsecond-exact
    // integer time math (unix_micros/epoch_us) keeps the oracle
    // value-identical.
    Query("q56_sessionize", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("tus"))
      // ts is TIMESTAMP_NTZ; every session pins UTC, so the NTZ->LTZ
      // cast is epoch-exact and matches DuckDB's epoch_us(naive ts)
      val sessions = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tus"))
        .withColumn("new_s",
          when(col("tus") - lag(col("tus"), 1).over(byUser) <= 1800000000L, 0L)
            .otherwise(1L))
        .withColumn("sid", sum(col("new_s")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("n_ev"), (max(col("tus")) - min(col("tus"))).as("dur"))
      sessions.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("n_ev")).as("n_events"),
          max(col("n_ev")).as("max_session_events"),
          max(col("dur")).as("max_session_us"))
        .orderBy(col("user_id"))
    }, Some(
      // first-row lag is NULL; NULL <= 1800000000 is NULL -> ELSE 1, the
      // same branch the Spark when/otherwise takes
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
        |g AS (SELECT user_id, tus,
        |  CASE WHEN tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus)
        |    <= 1800000000 THEN 0 ELSE 1 END AS new_s FROM e),
        |s AS (SELECT user_id, tus,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY tus
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM g),
        |per AS (SELECT user_id, sid, count(*) AS n_ev,
        |  max(tus) - min(tus) AS dur FROM s GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(n_ev) AS BIGINT) AS n_events,
        |  CAST(max(n_ev) AS BIGINT) AS max_session_events,
        |  CAST(max(dur) AS BIGINT) AS max_session_us
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // as-of join (most recent prior click for each purchase, per user)
    // via the scale shape Spark lacks as a builtin: tag-and-union both
    // sides, ONE shuffle on user_id, and a running last(ignoreNulls)
    // over the merged time order carries the as-of click forward onto
    // each purchase row. O((n+m) log) per user vs the O(n*m) range
    // self-join a naive `ON p.user_id = c.user_id AND c.ts <= p.ts` +
    // max() would plan; no broadcast needed on either side. Ties
    // (click.ts == purchase.ts) count as prior — the union sorts the
    // click tag (0) before the purchase tag (1) at equal ts, matching
    // DuckDB's ASOF `ON p.ts >= c.ts`.
    Query("q57_asof_join", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(
        col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("tus"), // NTZ + UTC session
        col("event_type"))
      val clicks = ev.filter(col("event_type") === "click").select(
        col("user_id"), col("tus"), lit(0).as("tag"),
        col("event_id").as("click_event_id"), col("tus").as("click_tus"),
        lit(null).cast("long").as("purchase_event_id"))
      val purchases = ev.filter(col("event_type") === "purchase").select(
        col("user_id"), col("tus"), lit(1).as("tag"),
        lit(null).cast("long").as("click_event_id"),
        lit(null).cast("long").as("click_tus"),
        col("event_id").as("purchase_event_id"))
      val merged = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("asof_click", last(col("click_event_id"), ignoreNulls = true).over(merged))
        .withColumn("asof_ctus", last(col("click_tus"), ignoreNulls = true).over(merged))
        .filter(col("tag") === 1 && col("asof_click").isNotNull)
        .select(col("purchase_event_id").as("event_id"),
          col("asof_click").as("click_event_id"),
          (col("tus") - col("asof_ctus")).as("gap_us"))
        .orderBy(col("event_id"))
    }, Some(
      // DuckDB's native ASOF JOIN (>= includes equal-instant clicks, the
      // tag-ordering convention of the Spark union+window plan)
      """SELECT p.event_id AS event_id, c.event_id AS click_event_id,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY event_id""".stripMargin)),

    // range (interval) join with NO equi key: per error event, count
    // purchases in the following 5 minutes, corpus-wide. The naive
    // `ON p.ts > e.ts AND p.ts <= e.ts + 5min` plans a nested-loop/
    // cartesian — O(n*m) and a non-starter at 100 TB. The scale shape:
    // bucket both sides into bins of exactly the window width; a
    // purchase in bin b can only match errors in bins {b-1, b}, so
    // exploding the error side into 2 candidate bins turns the interval
    // predicate into an EQUI join on bin (one shuffle each side,
    // uniform keys) + a residual range filter. Each (error, purchase)
    // pair meets on exactly one bin — no post-join dedup. PlanSpec
    // pins no NestedLoop/Cartesian in the plan.
    Query("q58_range_join", (s, dir) => {
      val binUs = 300000000L // 5 min in micros == the bin width
      val ev = t(s, dir, "events").select(
        col("event_id"), unix_micros(col("ts").cast("timestamp")).as("tus"),
        col("event_type"))
      val err = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("tus"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("tus").as("ptus"), floor(col("tus") / binUs).as("bin"))
      val errBins = err.withColumn("bin",
        explode(array(floor(col("tus") / binUs), floor(col("tus") / binUs) + 1)))
      val counts = errBins.join(pur, "bin")
        .filter(col("ptus") > col("tus") && col("ptus") <= col("tus") + binUs)
        .groupBy(col("event_id")).agg(count(lit(1)).as("n_purchases_5min"))
      err.join(counts, Seq("event_id"), "left")
        .select(col("event_id"),
          coalesce(col("n_purchases_5min"), lit(0L)).as("n_purchases_5min"))
        .orderBy(col("event_id"))
    }, Some(
      // the oracle states the interval predicate directly — DuckDB can
      // afford the quadratic plan at oracle scale
      """SELECT e.event_id,
        |  CAST(count(p.event_id) AS BIGINT) AS n_purchases_5min
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON epoch_us(p.ts) > epoch_us(e.ts)
        | AND epoch_us(p.ts) <= epoch_us(e.ts) + 300000000
        |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin))
  )
}
