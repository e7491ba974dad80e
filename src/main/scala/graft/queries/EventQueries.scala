package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.PortableFns._
import graft.sources.Sources

/** Event-time analytics over the `events` table — the windowing
  * semantics of SURVEY.md §2B's "Streaming" row as batch queries, which
  * keep the logic DuckDB-checkable (SURVEY.md §7.5 hard part 6).
  */
object EventQueries {

  private def ev(s: SparkSession, dir: String) = Sources.table(s, dir, "events")

  /** 30-minute session gap, in seconds. */
  private val GapSec = 1800.0

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tumbling 1-hour windows: aligned date_trunc both sides.
    "e_tumbling" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm")
          .as("win_start"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .orderBy("win_start", "event_type")),

    // Time-series GAP FILL + LOCF. Complements `a_gapfill` (fixed
    // calendar spine, zero-filled counts): here the spine is DERIVED
    // per event_type from its own [min, max] hour range (sequence()
    // explode — |types|·|hours| rows, a dense bounded domain, not
    // data-sized), and missing hours additionally carry the last
    // observed hourly sum forward (`last(..., ignoreNulls)` window) —
    // the LOCF interpolation a feature pipeline needs, not just
    // densification. The resample/densify
    // primitive every monitoring/feature pipeline needs before
    // windowed models. Scale shape: the raw log is touched once (the
    // map-side-combined hourly agg); after that everything is
    // domain-sized — the hourly aggregate broadcasts to the spine (a
    // preserved left side can't broadcast, the build side can), and
    // the LOCF window exchanges |types|·|hours| rows on event_type.
    "e_gapfill" -> ((s, dir) => {
      val e = ev(s, dir)
      val hourly = e
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
      val spine = e
        .groupBy(col("event_type"))
        .agg(date_trunc("hour", min(col("ts"))).as("lo"),
          date_trunc("hour", max(col("ts"))).as("hi"))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"),
            expr("interval 1 hour"))).as("hr"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      spine.join(broadcast(hourly), Seq("event_type", "hr"), "left")
        .select(col("event_type"),
          date_format(col("hr"), "yyyy-MM-dd HH:mm").as("win_start"),
          coalesce(col("cnt"), lit(0L)).as("cnt"),
          col("sum_value").isNull.as("filled"),
          round(last(col("sum_value"), ignoreNulls = true).over(w), 2)
            .as("locf_sum"))
        .orderBy("event_type", "win_start")
    }),

    // RFM (recency / frequency / monetary) user segmentation — scored
    // against median thresholds rather than ntile(): a global ntile is
    // a single-partition window (the documented anti-pattern), while
    // the medians are one broadcast row and the scoring stays map-only
    // over the per-user aggregate. One user_id shuffle total.
    "e_rfm" -> ((s, dir) => {
      val e = ev(s, dir)
      val maxTs = e.agg(max(col("ts")).as("mx"))
      val rfm = e.groupBy("user_id").agg(
        max(col("ts")).as("last_ts"),
        count(lit(1)).as("freq"),
        dsum(col("value")).as("monetary"))
        .crossJoin(broadcast(maxTs))
        .select(col("user_id"),
          datediff(to_date(col("mx")), to_date(col("last_ts")))
            .as("recency_days"),
          col("freq"), col("monetary"))
      val cuts = rfm.agg(
        round(expr("percentile(recency_days, 0.5)"), 6).as("r_med"),
        round(expr("percentile(freq, 0.5)"), 6).as("f_med"),
        round(expr("percentile(monetary, 0.5)"), 6).as("m_med"))
      rfm.crossJoin(broadcast(cuts))
        .select(col("user_id"), col("recency_days"), col("freq"),
          col("monetary"),
          (col("recency_days") <= col("r_med")).as("recent"),
          (col("freq") >= col("f_med")).as("frequent"),
          (col("monetary") >= col("m_med")).as("valuable"))
        .orderBy("user_id")
    }),

    // Cohort RETENTION matrix — the other classic cohort workload next
    // to e_funnel_cohort: users cohorted by FIRST-event day, then for
    // each (cohort_day, day_offset) the distinct returning users and
    // the retention fraction of the cohort. Scale shape: first-day and
    // active-day reductions each shuffle once on user_id (map-side
    // combined); the matrix aggregation runs on the small
    // (cohorts × offsets) domain and cohort sizes broadcast back.
    // (Named _matrix because the signup-cohort query below holds the
    // plain e_retention key — a r12 duplicate-key bug silently
    // shadowed this entry out of the registry until round 13.)
    "e_retention_matrix" -> ((s, dir) => {
      val e = ev(s, dir)
      val firstDay = e.groupBy(col("user_id"))
        .agg(to_date(min(col("ts"))).as("cohort"))
      val active = e.select(col("user_id"),
        to_date(col("ts")).as("day")).distinct()
      val sizes = firstDay.groupBy("cohort")
        .agg(count(lit(1)).as("cohort_n"))
      active.join(firstDay, "user_id")
        .select(col("cohort"),
          datediff(col("day"), col("cohort")).as("day_offset"),
          col("user_id"))
        .groupBy("cohort", "day_offset")
        .agg(countDistinct(col("user_id")).as("active_users"))
        .join(broadcast(sizes), "cohort")
        .select(dateStr(col("cohort")).as("cohort_day"), col("day_offset"),
          col("active_users"), col("cohort_n"),
          round(col("active_users").cast("double") /
            col("cohort_n").cast("double"), 6).as("retention"))
        .orderBy("cohort_day", "day_offset")
    }),

    // SCD2 (slowly-changing-dimension type 2) interval build from an
    // event log: per user, the "current event_type" as [valid_from,
    // valid_to) intervals, consecutive same-type events collapsed
    // (gaps-and-islands). The warehouse shape for turning an append-only
    // log into a versioned dimension: two window passes over the SAME
    // (user_id → ts) partitioning — one exchange, both windows reuse it;
    // at 100 TB the log shuffles once by user and every interval is
    // derived locally. Open intervals surface as valid_to='current'.
    "e_scd2" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val changes = ev(s, dir)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull ||
          col("event_type") =!= col("prev_type"))
      changes
        .withColumn("valid_to_ts", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("valid_from"),
          coalesce(
            date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
            lit("current")).as("valid_to"))
        .orderBy("user_id", "valid_from")
    }),

    // First-order Markov TRANSITION MATRIX over per-user event
    // sequences — the sequence-modeling prep step (next-action
    // prediction features, anomaly baselines): P(next | current) =
    // transition count / row total. One (user → ts) exchange for the
    // lead() window, then counts aggregate on the tiny type×type
    // domain; the row-total join is a broadcast of ≤|domain| rows.
    "e_transitions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val c = ev(s, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy("event_type", "next_type")
        .agg(count(lit(1)).as("n"))
      val tot = c.groupBy("event_type").agg(sum(col("n")).as("tot"))
      c.join(broadcast(tot), "event_type")
        .select(col("event_type"), col("next_type"), col("n"),
          round(col("n").cast("double") / col("tot").cast("double"), 6)
            .as("p"))
        .orderBy("event_type", "next_type")
    }),

    // Two-phase SALTED aggregation over the 6-value event_type domain —
    // the skew shape AQE cannot fix (a hash exchange on the raw key can
    // never use more than |domain| reducers; at 100 TB that is 6 tasks
    // owning the whole shuffle). Phase 1 groups by (key, salt-16) — 16×
    // the reducers, map-side combined; phase 2 re-aggregates the tiny
    // salted partials. Counts and EXACT decimal sums re-aggregate
    // losslessly, so the oracle is the plain unsalted GROUP BY.
    "e_salted_agg" -> ((s, dir) =>
      graft.operators.Skew.saltedAgg(
        ev(s, dir), keys = Seq("event_type"),
        seed = col("event_id"), buckets = 16,
        partials = Seq(count(lit(1)).as("pc"),
          sum(col("value").cast(DecimalType(18, 2))).as("pv")),
        finals = Seq(sum(col("pc")).as("cnt"),
          sum(col("pv")).cast("double").as("sum_value")))
        .orderBy("event_type")),

    // Salted skewed JOIN: events (the huge fact, keyed by the same
    // 6-value domain) against a per-type dim — dim replicated once per
    // salt bucket map-side, fact salted on event_id, join on
    // (event_type, salt): 16×|domain| reducers instead of |domain|.
    // The dim here derives from the fact (distinct + a tag column) to
    // stay self-contained; in production it is a real dimension table.
    // Salt aggregates away, so the oracle is the plain join.
    "e_skew_join" -> ((s, dir) => {
      val events = ev(s, dir)
      val dim = events.select("event_type").distinct()
        .withColumn("type_tag", upper(col("event_type")))
      graft.operators.Skew.saltedJoin(
        events, dim, key = "event_type",
        seed = col("event_id"), buckets = 16)
        .groupBy("type_tag")
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .orderBy("type_tag")
    }),

    // Sliding 1-hour windows every 30 minutes via Spark's window();
    // oracle reproduces the two-window membership arithmetic.
    "e_sliding" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
          col("cnt"), col("sum_value"))
        .orderBy("win_start")),

    // Sessionization with a 30-min gap: lag + boundary-flag prefix sum —
    // the portable formulation of session_window (and the classic proof
    // that windows compose: two window functions + one groupBy).
    "e_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val withGap = ev(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts").cast("double") - col("prev_ts").cast("double") > GapSec, 1)
            .otherwise(0))
        .withColumn("session_id",
          sum(col("new_session")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      withGap
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
          dsum(col("value")).as("sum_value"))
        .orderBy("user_id", "session_id")
    }),

    // Per-user session stats rollup (double aggregation over sessions).
    "e_session_stats" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts").cast("double") - col("prev_ts").cast("double") > GapSec, 1)
            .otherwise(0))
        .groupBy("user_id")
        .agg(sum(col("new_session")).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // Streamed-dedup batch twin: first event per (user_id, event_type).
    "e_dedup_first" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"))
        .orderBy("user_id", "event_type")
    }),

    // Stream-static enrichment as a batch query: left-join events to
    // the customer dimension (broadcast), aggregate by market segment.
    "e_enrich" -> ((s, dir) => {
      val c = Sources.table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      ev(s, dir)
        .join(broadcast(c), col("user_id") === col("c_custkey"), "left")
        .groupBy(coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .orderBy("segment")
    }),

    // Event-rate anomaly detection — the monitoring primitive a
    // pipeline runs over its own ingest: per (event_type, hour) counts
    // z-scored against the TRAILING 24 hours (rows frame, ≥12 samples
    // required), |z| > 2 flagged. Variance comes from exact integer
    // window sums (Σx, Σx²) — count arithmetic stays in BIGINT on both
    // engines, doubles appear only in the final fixed-order expression,
    // so z is bit-identical and hash-checkable. Scale shape: one
    // combined count shuffle, then windows over the HOURS domain
    // (per-type time series — thousands of rows per year, never
    // corpus-sized).
    "e_anomaly" -> ((s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(col("event_type"),
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm").as("h"))
        .agg(count(lit(1)).as("cnt"))
      val win = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(-24, -1)
      val base = hourly
        .withColumn("n_prev", count(col("cnt")).over(win))
        .withColumn("s1", sum(col("cnt")).over(win))
        .withColumn("s2", sum(col("cnt") * col("cnt")).over(win))
        .filter(col("n_prev") >= 12)
      val nD = col("n_prev").cast("double")
      val s1D = col("s1").cast("double")
      val sd = sqrt(greatest(
        (col("s2").cast("double") - s1D * s1D / nD) /
          (col("n_prev") - 1).cast("double"), lit(0.0)))
      val z = when(sd === 0.0, lit(0.0))
        .otherwise((col("cnt").cast("double") - s1D / nD) / sd)
      base.select(col("event_type"), col("h"), col("cnt"), col("n_prev"),
        round(z, 6).as("z"), (abs(round(z, 6)) > 2).as("anomalous"))
        .orderBy("event_type", "h")
    }),

    // CUSUM changepoint detection (Page 1954) over the per-type hourly
    // value series: S_i = max(0, S_{i-1} + (x_i − target)) flags a
    // sustained upward shift long before any single hour looks
    // anomalous — the drift-detection complement to e_anomaly's
    // point z-score. The recursion LOOKS fold-only, but it has a
    // closed form in plain window functions:
    //   S_i = P_i − min(0, min_{j≤i} P_j),   P = prefix sum of (x−target)
    // so the whole detector is two cumulative windows over ONE
    // (event_type → h) sort — no per-group collect, no recursion, no
    // state. Arithmetic is integer end to end (hourly sums exact in
    // DECIMAL(18,6), scaled to micro-unit BIGINT; target is a FLOOR
    // division on both sides — DuckDB `//` floors while Spark `div`
    // truncates toward zero, so the Spark side subtracts pmod first:
    // (tot − pmod(tot, nh)) div nh ≡ floor(tot/nh) for nh > 0 even
    // when a per-type sum goes negative, e.g. refund-heavy hours), so
    // every cusum value hash-matches on ANY fixture. Scale shape: one map-combined count shuffle
    // to the HOURS domain (per-type time series, never corpus-sized),
    // then the two windows share one exchange+sort; at 100 TB the
    // series length is days×types, the raw events never sort.
    "e_cusum" -> ((s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(col("event_type"),
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm").as("h"))
        .agg((sum(col("value").cast(DecimalType(18, 6))) * 1000000)
          .cast("long").as("xs"))
      val wAll = Window.partitionBy(col("event_type"))
      val wRun = Window.partitionBy(col("event_type")).orderBy(col("h"))
      hourly
        .withColumn("tot", sum(col("xs")).over(wAll))
        .withColumn("nh", count(lit(1)).over(wAll))
        .withColumn("target", expr("(tot - pmod(tot, nh)) div nh"))
        .withColumn("psum", sum(col("xs") - col("target")).over(wRun))
        .withColumn("cusum",
          col("psum") - least(min(col("psum")).over(wRun), lit(0L)))
        .select(col("event_type"), col("h"), col("xs"), col("cusum"),
          (col("cusum") > lit(3L) * greatest(col("target"), lit(1L)))
            .as("flagged"))
        .orderBy("event_type", "h")
    }),

    // Lag-k autocorrelation (k = 1..3) of the per-type hourly count
    // series — the periodicity/trend diagnostic that tells a pipeline
    // whether e_anomaly's trailing-window z-score or e_cusum's drift
    // detector is looking at structured or white traffic. Pearson over
    // the (x_{h−k}, x_h) pairs with the a_corr recipe: exact DECIMAL
    // power sums (overflow-safe at cluster-scale hourly counts),
    // doubles only in the final fixed-order expression → bit-identical
    // in both engines. Plan shape: one count shuffle to the hours
    // domain, ONE window sort per type computing all three lags, a
    // stack() unpivot (map-side), and a map-combined agg to
    // |types|·3 rows. The raw events never sort.
    "e_autocorr" -> ((s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(col("event_type"),
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm").as("h"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val lagged = hourly
        .withColumn("lag1", lag(col("cnt"), 1).over(w))
        .withColumn("lag2", lag(col("cnt"), 2).over(w))
        .withColumn("lag3", lag(col("cnt"), 3).over(w))
        .selectExpr("event_type", "cnt",
          "stack(3, 1, lag1, 2, lag2, 3, lag3) AS (k, x0)")
        .filter(col("x0").isNotNull)
      val x = col("x0").cast(DecimalType(12, 0))
      val y = col("cnt").cast(DecimalType(12, 0))
      val m = lagged.groupBy(col("event_type"), col("k"))
        .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
          sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
      val (nD, sxD, syD) = (col("n").cast("double"),
        col("sx").cast("double"), col("sy").cast("double"))
      val (sxxD, syyD, sxyD) = (col("sxx").cast("double"),
        col("syy").cast("double"), col("sxy").cast("double"))
      val vx = nD * sxxD - sxD * sxD
      val vy = nD * syyD - syD * syD
      val acf = when(vx === 0.0 || vy === 0.0, lit(0.0))
        .otherwise((nD * sxyD - sxD * syD) / (sqrt(vx) * sqrt(vy)))
      m.select(col("event_type"), col("k"), col("n"),
          round(acf, 6).as("acf"))
        .orderBy("event_type", "k")
    }),

    // Seasonal-naive forecast BACKTEST: forecast(h) = actual(h − 24)
    // (the same-hour-yesterday baseline every real forecasting stack
    // must beat), scored per type by MAE and signed bias over the
    // whole series. The point is the BACKTEST shape — lag the series
    // against itself and aggregate the errors — which needs one window
    // sort over the |types|·|hours| domain and one map-combined agg;
    // errors are integer-exact (counts), the two final divisions are
    // single IEEE ops → hash-identical.
    "e_forecast" -> ((s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(col("event_type"),
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm").as("h"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      hourly
        .withColumn("fc", lag(col("cnt"), 24).over(w))
        .filter(col("fc").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(abs(col("cnt") - col("fc"))).as("sae"),
          sum(col("cnt") - col("fc")).as("sbias"))
        .select(col("event_type"), col("n"), col("sae"),
          round(col("sae").cast("double") / col("n").cast("double"), 6)
            .as("mae"),
          round(col("sbias").cast("double") / col("n").cast("double"), 6)
            .as("bias"))
        .orderBy("event_type")
    }),

    // Event-time top-k: busiest hour per event type (rank over agg).
    "e_busiest_hours" -> ((s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(col("event_type"),
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm").as("h"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("cnt").desc, col("h"))
      hourly.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("event_type", "rn", "h", "cnt")
        .orderBy("event_type", "rn")
    }),

    // The stream-stream join as a batch query: same-user
    // click→purchase pairs within 30 minutes, aggregated per user. The
    // time-bound condition is what would let a stream expire state;
    // the batch plan is one shuffle on user_id with the range
    // condition as a residual.
    "e_stream_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("value").as("p_value"))
      c.join(p, col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
        .groupBy(col("c_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"), dsum(col("p_value")).as("sum_value"))
        .orderBy("user_id")
    }),

    // Ordered funnel: view → click-after-view → purchase-after-click,
    // counted once per user. Each stage is a conditional min over the
    // previous stage's survivors — three slim aggregates joined on
    // user_id (no window over the raw event stream, no row explosion;
    // each stage's join input shrinks monotonically).
    "e_funnel" -> ((s, dir) => {
      val e = ev(s, dir)
      val tv = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("tv"))
      val tc = e.filter(col("event_type") === "click")
        .join(tv, "user_id").filter(col("ts") >= col("tv"))
        .groupBy("user_id").agg(min("ts").as("tc"))
      val tp = e.filter(col("event_type") === "purchase")
        .join(tc, "user_id").filter(col("ts") >= col("tc"))
        .groupBy("user_id").agg(min("ts").as("tp"))
      tv.join(tc, Seq("user_id"), "left")
        .join(tp, Seq("user_id"), "left")
        .agg(count(col("tv")).as("n_view"),
          count(col("tc")).as("n_click"),
          count(col("tp")).as("n_purchase"))
    }),

    // Per-cohort funnel: the same conditional-min chain as e_funnel,
    // grouped by the date of the user's first view — exercises the
    // stage joins at output width instead of collapsing to one row.
    // The cohort key derives from the funnel's own first stage, so the
    // plan adds only the final groupBy (slim: three per-user timestamps).
    "e_funnel_cohort" -> ((s, dir) => {
      val e = ev(s, dir)
      val tv = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("tv"))
      val tc = e.filter(col("event_type") === "click")
        .join(tv, "user_id").filter(col("ts") >= col("tv"))
        .groupBy("user_id").agg(min("ts").as("tc"))
      val tp = e.filter(col("event_type") === "purchase")
        .join(tc, "user_id").filter(col("ts") >= col("tc"))
        .groupBy("user_id").agg(min("ts").as("tp"))
      tv.join(tc, Seq("user_id"), "left")
        .join(tp, Seq("user_id"), "left")
        .groupBy(date_format(to_date(col("tv")), "yyyy-MM-dd").as("cohort"))
        .agg(count(col("tv")).as("n_view"),
          count(col("tc")).as("n_click"),
          count(col("tp")).as("n_purchase"))
        .orderBy("cohort")
    }),

    // Cohort retention: users grouped by first-signup date, activity
    // counted per day offset 0..7. The cohort map is one slim aggregate
    // (distinct users) joined back broadcast-style; the count is a
    // single distinct-agg shuffle on (cohort, offset).
    "e_retention" -> ((s, dir) => {
      val e = ev(s, dir)
      val first = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(to_date(min(col("ts"))).as("cohort"))
      e.join(broadcast(first), "user_id")
        .select(col("cohort"),
          datediff(to_date(col("ts")), col("cohort")).as("day_offset"),
          col("user_id"))
        .filter(col("day_offset").between(0, 7))
        .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_s"),
          col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_s", "day_offset")
    }),
  )

  val oracles: Map[String, String] = Map(
    "e_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS win_start,
        |  event_type, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "e_gapfill" ->
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hr,
        |    count(*) AS cnt,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT event_type, date_trunc('hour', min(ts)) AS lo,
        |    date_trunc('hour', max(ts)) AS hi
        |  FROM events GROUP BY 1),
        |spine AS (SELECT event_type,
        |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
        |  FROM bounds),
        |j AS (SELECT s.event_type, s.hr,
        |    CAST(coalesce(h.cnt, 0) AS BIGINT) AS cnt,
        |    h.sum_value IS NULL AS filled, h.sum_value
        |  FROM spine s LEFT JOIN hourly h
        |    ON s.event_type = h.event_type AND s.hr = h.hr)
        |SELECT event_type, strftime(hr, '%Y-%m-%d %H:%M') AS win_start,
        |  cnt, filled,
        |  round(last_value(sum_value IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |    AS locf_sum
        |FROM j ORDER BY event_type, win_start""".stripMargin,
    "e_rfm" ->
      """WITH mx AS (SELECT max(ts) AS mx FROM events),
        |rfm AS (SELECT user_id, max(ts) AS last_ts, count(*) AS freq,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
        |  FROM events GROUP BY 1),
        |r2 AS (SELECT user_id,
        |    CAST(CAST(m.mx AS DATE) - CAST(last_ts AS DATE) AS INTEGER)
        |      AS recency_days,
        |    freq, monetary
        |  FROM rfm, mx m),
        |cuts AS (SELECT
        |    round(quantile_cont(recency_days, 0.5), 6) AS r_med,
        |    round(quantile_cont(freq, 0.5), 6) AS f_med,
        |    round(quantile_cont(monetary, 0.5), 6) AS m_med
        |  FROM r2)
        |SELECT user_id, recency_days, freq, monetary,
        |  recency_days <= c.r_med AS recent,
        |  freq >= c.f_med AS frequent,
        |  monetary >= c.m_med AS valuable
        |FROM r2, cuts c ORDER BY user_id""".stripMargin,
    "e_retention_matrix" ->
      """WITH fd AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort
        |  FROM events GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |sizes AS (SELECT cohort, count(*) AS cohort_n FROM fd GROUP BY 1),
        |r AS (SELECT f.cohort,
        |    CAST(a.day - f.cohort AS INTEGER) AS day_offset,
        |    count(DISTINCT a.user_id) AS active_users
        |  FROM act a JOIN fd f ON a.user_id = f.user_id
        |  GROUP BY 1, 2)
        |SELECT strftime(r.cohort, '%Y-%m-%d') AS cohort_day, day_offset,
        |  active_users, s.cohort_n,
        |  round(CAST(active_users AS DOUBLE) / CAST(s.cohort_n AS DOUBLE),
        |    6) AS retention
        |FROM r JOIN sizes s ON r.cohort = s.cohort
        |ORDER BY cohort_day, day_offset""".stripMargin,
    "e_scd2" ->
      """WITH ordered AS (SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER w AS prev_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |changes AS (SELECT user_id, event_type, ts, event_id FROM ordered
        |  WHERE prev_type IS NULL OR event_type <> prev_type),
        |iv AS (SELECT user_id, event_type, ts AS vf,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS vt
        |  FROM changes)
        |SELECT user_id, event_type,
        |  strftime(vf, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
        |  COALESCE(strftime(vt, '%Y-%m-%d %H:%M:%S.%f'), 'current')
        |    AS valid_to
        |FROM iv ORDER BY user_id, valid_from""".stripMargin,
    "e_transitions" ->
      """WITH seq AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |c AS (SELECT event_type, next_type, count(*) AS n
        |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT event_type, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.event_type, c.next_type, c.n,
        |  round(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS p
        |FROM c JOIN t ON c.event_type = t.event_type
        |ORDER BY c.event_type, c.next_type""".stripMargin,
    "e_salted_agg" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e_skew_join" ->
      """WITH dim AS (SELECT DISTINCT event_type,
        |    upper(event_type) AS type_tag FROM events)
        |SELECT d.type_tag, count(*) AS cnt,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY d.type_tag ORDER BY d.type_tag""".stripMargin,
    "e_sliding" ->
      """WITH win AS (
        |  SELECT to_timestamp(
        |      (floor(epoch(ts) / 1800) - o.off) * 1800) AS w_start, value
        |  FROM events, (VALUES (0), (1)) AS o(off))
        |SELECT strftime(w_start, '%Y-%m-%d %H:%M') AS win_start,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM win GROUP BY 1 ORDER BY win_start""".stripMargin,
    "e_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END
        |      AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, event_id, ts, value,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "e_session_stats" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN prev_ts IS NULL
        |      OR epoch(ts) - epoch(prev_ts) > 1800
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM (SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "e_dedup_first" ->
      """SELECT user_id, event_type, event_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s
        |FROM (SELECT user_id, event_type, event_id, ts,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "e_stream_join" ->
      """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |  p AS (SELECT user_id, ts, value FROM events
        |    WHERE event_type = 'purchase')
        |SELECT c.user_id, count(*) AS n_pairs,
        |  CAST(sum(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,
    "e_funnel" ->
      """WITH tv AS (SELECT user_id, min(ts) AS tv FROM events
        |    WHERE event_type = 'view' GROUP BY 1),
        |  tc AS (SELECT e.user_id, min(e.ts) AS tc FROM events e
        |    JOIN tv ON e.user_id = tv.user_id
        |    WHERE e.event_type = 'click' AND e.ts >= tv.tv GROUP BY 1),
        |  tp AS (SELECT e.user_id, min(e.ts) AS tp FROM events e
        |    JOIN tc ON e.user_id = tc.user_id
        |    WHERE e.event_type = 'purchase' AND e.ts >= tc.tc GROUP BY 1)
        |SELECT count(tv.tv) AS n_view, count(tc.tc) AS n_click,
        |  count(tp.tp) AS n_purchase
        |FROM tv
        |LEFT JOIN tc ON tv.user_id = tc.user_id
        |LEFT JOIN tp ON tv.user_id = tp.user_id""".stripMargin,
    "e_retention" ->
      """WITH f AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort
        |    FROM events WHERE event_type = 'signup' GROUP BY 1)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_s,
        |  date_diff('day', cohort, CAST(ts AS DATE)) AS day_offset,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN f ON e.user_id = f.user_id
        |WHERE date_diff('day', cohort, CAST(ts AS DATE)) BETWEEN 0 AND 7
        |GROUP BY 1, 2 ORDER BY cohort_s, day_offset""".stripMargin,
    "e_enrich" ->
      """SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY segment""".stripMargin,
    "e_anomaly" ->
      """WITH hourly AS (SELECT event_type,
        |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS h,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, h, cnt,
        |    count(cnt) OVER win AS n_prev,
        |    sum(cnt) OVER win AS s1,
        |    sum(cnt * cnt) OVER win AS s2
        |  FROM hourly
        |  WINDOW win AS (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |z AS (SELECT event_type, h, cnt, n_prev,
        |    CASE WHEN sqrt(greatest(
        |        (CAST(s2 AS DOUBLE)
        |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |            / CAST(n_prev AS DOUBLE))
        |        / CAST(n_prev - 1 AS DOUBLE), 0.0)) = 0 THEN 0.0
        |      ELSE (CAST(cnt AS DOUBLE)
        |          - CAST(s1 AS DOUBLE) / CAST(n_prev AS DOUBLE))
        |        / sqrt(greatest(
        |          (CAST(s2 AS DOUBLE)
        |            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |              / CAST(n_prev AS DOUBLE))
        |          / CAST(n_prev - 1 AS DOUBLE), 0.0)) END AS zr
        |  FROM w WHERE n_prev >= 12)
        |SELECT event_type, h, cnt, n_prev, round(zr, 6) AS z,
        |  abs(round(zr, 6)) > 2 AS anomalous
        |FROM z ORDER BY event_type, h""".stripMargin,
    "e_cusum" ->
      """WITH hourly AS (SELECT event_type,
        |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS h,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
        |      AS xs
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, h, xs,
        |    sum(xs) OVER (PARTITION BY event_type)
        |      // count(*) OVER (PARTITION BY event_type) AS target
        |  FROM hourly),
        |p AS (SELECT event_type, h, xs, target,
        |    sum(xs - target) OVER win AS psum
        |  FROM t WINDOW win AS (PARTITION BY event_type ORDER BY h)),
        |c AS (SELECT event_type, h, xs, target, psum,
        |    psum - least(min(psum) OVER win, 0) AS cusum
        |  FROM p WINDOW win AS (PARTITION BY event_type ORDER BY h))
        |SELECT event_type, h, xs, CAST(cusum AS BIGINT) AS cusum,
        |  cusum > 3 * greatest(target, 1) AS flagged
        |FROM c ORDER BY event_type, h""".stripMargin,
    "e_autocorr" ->
      """WITH hourly AS (SELECT event_type,
        |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS h,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |lagged AS (SELECT event_type, cnt,
        |    lag(cnt, 1) OVER win AS lag1,
        |    lag(cnt, 2) OVER win AS lag2,
        |    lag(cnt, 3) OVER win AS lag3
        |  FROM hourly
        |  WINDOW win AS (PARTITION BY event_type ORDER BY h)),
        |pairs AS (
        |  SELECT event_type, 1 AS k, lag1 AS x0, cnt FROM lagged
        |  UNION ALL
        |  SELECT event_type, 2 AS k, lag2 AS x0, cnt FROM lagged
        |  UNION ALL
        |  SELECT event_type, 3 AS k, lag3 AS x0, cnt FROM lagged),
        |m AS (SELECT event_type, k, count(*) AS n,
        |    sum(CAST(x0 AS DECIMAL(12,0))) AS sx,
        |    sum(CAST(cnt AS DECIMAL(12,0))) AS sy,
        |    sum(CAST(x0 AS DECIMAL(12,0))
        |      * CAST(x0 AS DECIMAL(12,0))) AS sxx,
        |    sum(CAST(cnt AS DECIMAL(12,0))
        |      * CAST(cnt AS DECIMAL(12,0))) AS syy,
        |    sum(CAST(x0 AS DECIMAL(12,0))
        |      * CAST(cnt AS DECIMAL(12,0))) AS sxy
        |  FROM pairs WHERE x0 IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, k, n,
        |  round(CASE WHEN CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) = 0
        |      OR CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) = 0 THEN 0.0
        |    ELSE (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |      / (sqrt(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |        * sqrt(CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))) END, 6)
        |    AS acf
        |FROM m ORDER BY event_type, k""".stripMargin,
    "e_forecast" ->
      """WITH hourly AS (SELECT event_type,
        |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS h,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, cnt,
        |    lag(cnt, 24) OVER (PARTITION BY event_type ORDER BY h) AS fc
        |  FROM hourly)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(abs(cnt - fc)) AS BIGINT) AS sae,
        |  round(CAST(sum(abs(cnt - fc)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS mae,
        |  round(CAST(sum(cnt - fc) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS bias
        |FROM l WHERE fc IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    "e_busiest_hours" ->
      """SELECT event_type, rn, h, cnt FROM (
        |  SELECT event_type, h, cnt,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY cnt DESC, h) AS rn
        |  FROM (SELECT event_type,
        |      strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS h,
        |      count(*) AS cnt
        |    FROM events GROUP BY 1, 2))
        |WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin,
    "e_funnel_cohort" ->
      """WITH tv AS (SELECT user_id, min(ts) AS tv FROM events
        |    WHERE event_type = 'view' GROUP BY 1),
        |  tc AS (SELECT e.user_id, min(e.ts) AS tc FROM events e
        |    JOIN tv ON e.user_id = tv.user_id
        |    WHERE e.event_type = 'click' AND e.ts >= tv.tv GROUP BY 1),
        |  tp AS (SELECT e.user_id, min(e.ts) AS tp FROM events e
        |    JOIN tc ON e.user_id = tc.user_id
        |    WHERE e.event_type = 'purchase' AND e.ts >= tc.tc GROUP BY 1)
        |SELECT strftime(CAST(tv.tv AS DATE), '%Y-%m-%d') AS cohort,
        |  count(tv.tv) AS n_view, count(tc.tc) AS n_click,
        |  count(tp.tp) AS n_purchase
        |FROM tv
        |LEFT JOIN tc ON tv.user_id = tc.user_id
        |LEFT JOIN tp ON tv.user_id = tp.user_id
        |GROUP BY 1 ORDER BY cohort""".stripMargin,
  )
}
