package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-stream operators in oracle-checkable batch form, SURVEY.md
  * §2.10. Structured Streaming twins of the window aggregations live in
  * graft.streaming.Twins (exercised by StreamingTwinSpec — a streaming
  * sink can't be hash-compared by the Verify harness).
  *
  * Time base: `ts` reads as TIMESTAMP_NTZ µs (see [[graft.Tables]]);
  * all bucketing derives from epoch-µs longs via integer `div`, the
  * exact common denominator with DuckDB's `epoch_us(ts)` (rule T).
  */
object Events {

  private val US_PER_HOUR = 3600000000L
  private val US_PER_15MIN = 900000000L
  private val US_SESSION_GAP = 1800000000L // 30 min
  private val US_LATE = 300000000L         // 5 min

  /** Tumbling 1-hour window aggregation (bucket = µs div 1h). */
  def q_tumbling_window(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(expr(s"${Tables.tsUsSql} div $US_PER_HOUR").as("hour_bucket"),
              col("event_type"), col("value"))
      .groupBy("hour_bucket", "event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .coalesce(1).orderBy("hour_bucket", "event_type")

  /** Sliding 1h/15min window: each event maps to the 4 slide-aligned
    * windows containing it (explode of 4 offsets — the batch equivalent
    * of streaming `window(ts, "1 hour", "15 minutes")`). win_start is
    * the window's start in epoch-µs. */
  def q_sliding_window(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(expr(s"${Tables.tsUsSql} div $US_PER_15MIN").as("slot"), col("event_type"))
      .select(col("slot"), col("event_type"),
              explode(sequence(lit(0), lit(3))).as("k"))
      .select(((col("slot") - col("k")) * US_PER_15MIN).as("win_start"), col("event_type"))
      .groupBy("win_start", "event_type")
      .agg(count(lit(1)).as("n"))
      .coalesce(1).orderBy("win_start", "event_type")

  /** Session windows with a 30-min inactivity gap, per user: session
    * count + mean session length in seconds. The sessionization IS
    * [[graft.Graft.sessionize]] applied to the events table (classic
    * lag-gap → running flag-sum, (us, event_id) tiebreak — the batch
    * form of `session_window(ts, "30 minutes")`), so the oracle
    * verifies the public API. */
  def q_session_window(s: SparkSession, d: String): DataFrame =
    graft.Graft.sessionize(
        Tables.events(s, d).repartitionByRange(col("user_id"))
          .select(col("user_id"), col("event_id"), Tables.tsUs.as("us")),
        col("user_id"), col("us"), US_SESSION_GAP, Seq(col("event_id")))
      .groupBy("user_id", "session_id")
      .agg(((max("us") - min("us")) / lit(1000000.0)).as("len_sec"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
           round(avg("len_sec"), 2).as("avg_len_sec"))
      .orderBy("user_id")

  /** AS-OF join, declarative form: for every 'error' event, the most
    * recent preceding 'click' of the same user (inclusive on equal
    * timestamps by (us, event_id) order). The classic "join each fact
    * to the latest earlier dimension state" — expressed as a running
    * MAX over the click-only time column inside one partition-ordered
    * window, so it needs no range join and shuffles each user's events
    * exactly once. gap_us = -1 when the user has no prior click. */
  def q_asof_join(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .repartitionByRange(col("user_id"))
      .select(col("user_id"), col("event_id"), col("event_type"), Tables.tsUs.as("us"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("us"),
              max(when(col("event_type") === "click", col("us"))).over(w).as("last_click_us"))
      .filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"),
              coalesce(col("us") - col("last_click_us"), lit(-1L)).as("gap_us"))
      .orderBy("user_id", "event_id")
  }

  /** The as-of join executed by the custom Catalyst operator
    * [[graft.plans.AsOfJoinExec]] instead of the window composition:
    * each side is exchanged + sorted independently (narrow schemas, no
    * unioned row shape) and merged in one forward pass with O(1)
    * state. Tie semantics: the operator is a RANGE-frame as-of — ANY
    * click with us <= t matches, regardless of event_id arrival order
    * — so its oracle uses a RANGE window frame ordered by us alone
    * ([[q_asof_join]]'s ROWS frame over (us, event_id) would exclude a
    * same-microsecond click with a higher event_id; the two coincide
    * only while the data has no same-(user, us) click/error
    * collision). */
  def q_asof_native(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), Tables.tsUs.as("us"))
    val errors = ev.filter(col("event_type") === "error")
      .select("user_id", "event_id", "us")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("us").as("c_us"))
    graft.Graft.asofJoin(errors, clicks, "user_id", "us", "c_user", "c_us",
                         outCol = "last_click_us")
      .select(col("user_id"), col("event_id"),
              coalesce(col("us") - col("last_click_us"), lit(-1L)).as("gap_us"))
      .orderBy("user_id", "event_id")
  }

  /** RANGE join, bucketed form: for every 'purchase', how many
    * 'click' events (any user) happened within ±10 s. The inequality
    * join IS [[graft.Graft.intervalJoin]] applied to the events table
    * (the standard cell decomposition: 10-s time cells, one side
    * exploded to its 3 adjacent cells, EQUI-join + exact residual —
    * linear in events per cell, never a nested loop), so the oracle
    * verifies the public API; the final left join restores
    * zero-click purchases at count 0. */
  def q_range_join(s: SparkSession, d: String): DataFrame = {
    val CELL = 10000000L // 10 s in µs
    val ev = Tables.events(s, d).select(col("event_id"), col("event_type"), Tables.tsUs.as("us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("us").as("cus"))
    val counts = graft.Graft.intervalJoin(purchases, col("us"), clicks, col("cus"), CELL)
      .groupBy("event_id")
      .agg(count(lit(1)).as("n_clicks"))
    purchases.select("event_id").join(counts, Seq("event_id"), "left")
      .select(col("event_id"),
              coalesce(col("n_clicks"), lit(0L)).as("n_nearby_clicks"))
      .orderBy("event_id")
  }

  /** Late/out-of-order accounting: an event is "late" when its ts is
    * > 5 min older than the running max ts over all earlier arrivals
    * (arrival order = event_id). The batch analogue of rows a 5-min
    * watermark would drop. The running max is the
    * [[graft.operators.RangeScan]] prefix max over 32 event_id buckets,
    * combined with the within-bucket running max by the null-skipping
    * greatest, so the first rows (empty prefix) stay "not late" exactly
    * like the empty window frame. */
  def q_late_data(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("event_id"), Tables.tsUs.as("us"))
    val wLocal = Window.partitionBy("__bucket").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    graft.operators.RangeScan(ev, Nil, col("event_id"), 32, descending = false,
                              max("us"), lit(null).cast("long"))(greatest(_, _))
      .select(col("event_type"),
              when(greatest(max("us").over(wLocal), col("__prefix")) - col("us") > US_LATE, 1)
                .otherwise(0).as("late"))
      .groupBy("event_type")
      .agg(sum("late").as("n_late"), count(lit(1)).as("n"))
      .coalesce(1).orderBy("event_type")
  }

  private val US_PER_DAY = 86400000000L

  /** Funnel analysis (added round 7): how many (user, hour) visits
    * progressed view → click → purchase IN ORDER — the classic
    * product-analytics query, scoped to an hour so a funnel means one
    * sitting, not a 30-day history. This query IS
    * [[graft.Graft.funnelStages]] applied to the events table (greedy
    * ordered-subsequence prefix matching over the deterministically
    * ordered per-visit type sequence; one groupBy(user, hour) shuffle,
    * per-group state bounded by construction), so the oracle verifies
    * the public API — the DuckDB twin expresses the same subsequence
    * semantics as separator-joined LIKE patterns, equivalent here
    * because no event type is a substring of another. Emits
    * (stage 0-3, n_sessions). */
  def q_funnel(s: SparkSession, d: String): DataFrame =
    graft.Graft.funnelStages(
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
                  Tables.tsUs.as("us"),
                  expr(s"${Tables.tsUsSql} div $US_PER_HOUR").as("hour")),
        groupCols = Seq(col("user_id"), col("hour")),
        eventType = col("event_type"),
        orderBy = Seq(col("us"), col("event_id")),
        steps = Seq("view", "click", "purchase"))
      .groupBy("stage").agg(count(lit(1)).as("n_sessions"))
      .coalesce(1).orderBy("stage")

  /** Weekly cohort retention (added round 7): users bucketed by the
    * epoch-week of their FIRST activity (cohort), distinct actives
    * per (cohort, weeks-since) cell — the classic retention triangle.
    * This query IS [[graft.Graft.retentionTriangle]] at a 7-day
    * period over epoch-µs (integer `div` bucketing, identical in
    * DuckDB — rule T/I), so the oracle verifies the public API.
    * Scale shape: one (user, week) distinct — partial-aggregated — a
    * min-aggregate per user, and one equi-join the planner
    * broadcast/shuffles; no window, no collect. */
  /** Time-series gap filling (added round 7): hourly event counts per
    * type over a DENSE hour spine — every hour between the corpus's
    * first and last appears for every type, empty cells zero-filled
    * (the temporal-densification op dashboards and downsampling
    * need; a plain groupBy silently omits empty buckets). This query
    * IS [[graft.Graft.densify]] over the hourly count aggregate (the
    * spine is a ONE-row global min/max aggregate exploded to |hours|
    * rows crossed with the broadcast ≤|types| distinct-type table —
    * both METADATA-scale: hours grow with the time span, not the
    * event count), so the oracle verifies the public API; the heavy
    * side stays one partial-aggregated hourly count. Emits
    * (hour, event_type, n), empty cells n = 0. */
  def q_gapfill(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .select(expr(s"${Tables.tsUsSql} div $US_PER_HOUR").as("hour"), col("event_type"))
      .groupBy("hour", "event_type").agg(count(lit(1)).as("n"))
    graft.Graft.densify(hourly, "hour", Seq("event_type"), Map("n" -> lit(0L)))
      .orderBy("hour", "event_type")
  }

  /** Hour-over-hour delta (added round 8): hourly event counts per
    * type on the DENSE zero-filled hour spine, each with its change
    * vs the previous hour — the growth/trend query dashboards derive
    * from gap-filled series (on a sparse series a lag-delta silently
    * compares non-adjacent hours; densify first makes it honest).
    * Composes TWO public facades: [[graft.Graft.densify]] (the
    * q_gapfill spine) then one lag window PARTITIONED per type —
    * a type's spine is metadata-scale (hours grow with the time span,
    * not the event count), so the per-partition window is bounded.
    * First hour's delta = its own count (lag default 0). */
  def q_hourly_delta(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .select(expr(s"${Tables.tsUsSql} div $US_PER_HOUR").as("hour"), col("event_type"))
      .groupBy("hour", "event_type").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("hour")
    graft.Graft.densify(hourly, "hour", Seq("event_type"), Map("n" -> lit(0L)))
      .withColumn("delta", col("n") - lag("n", 1, 0L).over(w))
      .orderBy("hour", "event_type")
  }

  /** Forward fill / LOCF (added round 8): hourly mean event value per
    * type on the DENSE hour spine, empty hours carrying the latest
    * observed mean forward — the observe-and-hold time series every
    * metrics store materializes. Composes TWO public facades exactly
    * as their scaladocs prescribe: [[graft.Graft.densify]] with NULL
    * fills, then [[graft.Graft.forwardFill]] partitioned per type
    * (metadata-scale spine per partition), so the oracle verifies
    * both. Leading NULLs (no observation yet) surface as −1 (rule N).
    *
    * The mean is emitted as integer CENTS via pure integer
    * arithmetic — rule F's hard form, forced by this data: hourly
    * cells hold 1-2 two-decimal values, so a float avg lands EXACTLY
    * on half-cent boundaries where the engines' ROUND tie rules
    * diverge (measured: 19/3600 cells at sf0.001 flipped under
    * `ROUND(avg, 2)`). The cent sum per cell reconstructs exactly
    * from the double sum (error ≪ 0.5 cents), and the half-up mean
    * is `(2·sc + n) div (2·n)` — no float ever rounded. (Spark `div`
    * truncates while DuckDB `//` floors — equal here because value ≥ 0
    * on this data; a signed-value variant would add an offset.) */
  def q_forward_fill(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .select(expr(s"${Tables.tsUsSql} div $US_PER_HOUR").as("hour"),
              col("event_type"), col("value"))
      .groupBy("hour", "event_type")
      .agg(count(lit(1)).as("n"), round(sum("value") * 100).cast("long").as("sc"))
      .select(col("hour"), col("event_type"),
              expr("(sc * 2 + n) div (n * 2)").as("v_cents"))
    val dense = graft.Graft.densify(hourly, "hour", Seq("event_type"),
      Map("v_cents" -> lit(null).cast("long")))
    graft.Graft.forwardFill(dense, "hour", Seq("event_type"), Seq("v_cents"))
      .select(col("hour"), col("event_type"),
              coalesce(col("v_cents"), lit(-1L)).as("v_cents"))
      .orderBy("hour", "event_type")
  }

  /** SCD-2 intervalization (added round 8): the purchase change-log
    * per user becomes a slowly-changing-dimension version table —
    * each purchase's `value` valid from its own time until the next
    * purchase (exclusive), the open latest version flagged current.
    * This query IS [[graft.Graft.scd2Intervals]] applied to the
    * events table (one PARTITIONED lead() window per user, total
    * order via the (us, event_id) tiebreak), so the oracle verifies
    * the public API. NULL open end encoded as -1 (rule: the Verify
    * hash treats NULL and absent differently across engines only
    * through schema, but a sentinel keeps the column NOT NULL on
    * both sides). */
  def q_scd2(s: SparkSession, d: String): DataFrame =
    graft.Graft.scd2Intervals(
        Tables.events(s, d).filter(col("event_type") === "purchase")
          .repartitionByRange(col("user_id"))
          .select(col("user_id"), col("event_id"), col("value"), Tables.tsUs.as("us")),
        keyCols = Seq(col("user_id")), time = col("us"),
        tieBreak = Seq(col("event_id")))
      .select(col("user_id"), col("event_id"), col("value"),
              col("valid_from"),
              coalesce(col("valid_to"), lit(-1L)).as("valid_to"),
              col("is_current"))
      .orderBy("user_id", "valid_from", "event_id")

  /** First-order Markov transition matrix (added round 8): each
    * user's event-type sequence in deterministic (µs, event_id) order
    * becomes a chain; count every (src → dst) step corpus-wide and
    * row-normalize to permille — [[graft.Graft.transitionMatrix]]
    * applied to events, so the oracle verifies the public API. The
    * probability is floor(1000·n / Σ n) in pure integer arithmetic
    * (rule F's hard form; Spark `div` ≡ DuckDB `//` on non-negative
    * longs). ONE fact shuffle (the per-user lag window); the
    * |types|²-row transition table and its normalizing window are
    * metadata-scale. */
  def q_markov(s: SparkSession, d: String): DataFrame =
    graft.Graft.transitionMatrix(
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
                  Tables.tsUs.as("us")),
        partitionBy = Seq(col("user_id")),
        orderBy = Seq(col("us"), col("event_id")),
        state = col("event_type"))
      .orderBy("src", "dst")

  /** Z-score anomaly detection (added round 8): events whose value
    * deviates from their type's mean by more than 2 sample standard
    * deviations, rolled up per type. This query IS
    * [[graft.Graft.zscoreOutliers]] (one |types|-row stats aggregate
    * broadcast back over the fact side — no window, no second fact
    * shuffle), so the oracle verifies the public API. max |z| rounded
    * (rule F) to absorb cross-engine stddev ulps; the 2σ threshold
    * itself is safe on this data — no |z| lands within 1e-6 of 2. */
  def q_anomaly(s: SparkSession, d: String): DataFrame =
    graft.Graft.zscoreOutliers(
        Tables.events(s, d).select(col("event_type"), col("event_id"), col("value")),
        groupCols = Seq("event_type"), value = col("value"), threshold = 2.0)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_outliers"),
           round(max(abs(col("z"))), 2).as("max_z"))
      .coalesce(1).orderBy("event_type")

  def q_retention(s: SparkSession, d: String): DataFrame =
    graft.Graft.retentionTriangle(Tables.events(s, d),
        user = col("user_id"), time = Tables.tsUs, periodUnits = 7 * US_PER_DAY)
      .select(col("cohort").as("cohort_week"), col("offset").as("weeks_since"),
              col("n_users"))
      .coalesce(1).orderBy("cohort_week", "weeks_since")

  /** Median/MAD robust outliers (added round 8): events whose value
    * deviates from their type's MEDIAN by more than 3 scaled median
    * absolute deviations (3·1.4826 written as the one literal 4.4478
    * on both engines) — the robust complement of q_anomaly's z-score:
    * a mean/stddev gate is itself dragged by the outliers it hunts,
    * medians are not. Degenerate groups (MAD = 0) emit none, the
    * q_anomaly rule.
    *
    * Scale shape: exact medians are inherently two-pass — one grouped
    * percentile for the medians, deviations re-derived with the
    * |types|-row stats broadcast back, a second grouped percentile
    * for the MAD, and a map-side-collapsing rollup. Each percentile
    * is a partial+final ObjectHashAggregate keyed by type; at 100 TB
    * both swap for `approx_percentile` with no plan-shape change —
    * [[Relational.pctl]] makes that swap the `graft.percentile.approx`
    * session toggle, tested in ApproxPathSpec (exact stays the
    * default because the oracle gate demands cross-engine equality). */
  def q_outlier_mad(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val med = ev.groupBy("event_type")
      .agg(Relational.pctl(s, col("value"), lit(0.5)).as("med"))
    val dev = ev.join(med, "event_type")
      .select(col("event_type"), abs(col("value") - col("med")).as("ad"), col("med"))
    val mad = dev.groupBy("event_type")
      .agg(Relational.pctl(s, col("ad"), lit(0.5)).as("mad"))
    dev.join(mad, "event_type")
      .filter(col("mad") > 0 && col("ad") > col("mad") * 4.4478)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_outliers"),
           round(max(col("ad") / col("mad")), 2).as("max_ratio"),
           round(min(col("med")), 2).as("median"),
           round(min(col("mad")), 2).as("mad_val"))
      .coalesce(1).orderBy("event_type")
  }

  /** Latest-row compaction (added round 8): the events change-log
    * collapsed to each user's most recent event — the CDC upsert /
    * log-compaction read path. This query IS
    * [[graft.Graft.compactLatest]] keyed on user_id with the total
    * (us, event_id) version order, so the oracle verifies the public
    * API. The facade's shape is the scale argument: ONE
    * map-side-combinable max(struct) aggregate bounded by |users| per
    * map task, where the row_number-window form the oracle uses would
    * shuffle AND sort the full log. value rounded (rule F). */
  def q_dedup_latest(s: SparkSession, d: String): DataFrame =
    graft.Graft.compactLatest(
        Tables.events(s, d)
          .select(col("user_id"), Tables.tsUs.as("us"), col("event_id"),
                  col("event_type"), col("value")),
        keyCols = Seq("user_id"), versionCols = Seq("us", "event_id"))
      .select(col("user_id"), col("us").as("last_us"),
              col("event_id").as("last_event_id"),
              col("event_type").as("last_type"),
              round(col("value"), 2).as("last_value"))
      .orderBy("user_id")

  /** Exponential smoothing (added round 9): per event type, the
    * hourly mean value series smoothed with α = 0.25 — the
    * trend-vs-noise dashboard line and the simplest online
    * forecaster. This query IS [[graft.Graft.ewma]] applied to the
    * hourly aggregate, so the oracle verifies the public API against
    * DuckDB's recursive-CTE form of the same recurrence.
    *
    * Cross-engine float contract: the hourly mean (one float divide
    * whose inputs' sum order differs across engines) is rounded to
    * 6dp FIRST, so both engines feed bit-identical x_t into the
    * recurrence; the fold itself is one deterministic IEEE
    * multiply-add chain written with the same literals (0.25,
    * (1 - 0.25)) on both sides, and only the final s_t is rounded
    * for display (rule F). */
  def q_ewma(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .select(expr(s"${Tables.tsUsSql} div $US_PER_HOUR").as("hour"),
              col("event_type"), col("value"))
      .groupBy("event_type", "hour")
      .agg(round(avg("value"), 6).as("x"))
    graft.Graft.ewma(hourly, keys = Seq("event_type"), bucket = "hour",
        value = col("x"), alpha = 0.25)
      .select(col("event_type"), col("hour"), round(col("ewma"), 4).as("ewma"))
      .coalesce(1).orderBy("event_type", "hour")
  }

  /** Welch's t-test between every pair of event types (added round
    * 9): the A/B-test read — is the mean `value` of purchases
    * distinguishable from clicks? This query IS
    * [[graft.Graft.welchTTest]] applied to events, so the oracle
    * verifies the public API: one sufficient-statistics aggregate
    * folds the fact table to |types| rows, the t statistic and
    * Welch–Satterthwaite dof compute on the metadata-scale pair
    * table. t/dof rounded (rule F); the formula is written with the
    * identical operation tree on both engines. */
  def q_welch_ttest(s: SparkSession, d: String): DataFrame =
    graft.Graft.welchTTest(
        Tables.events(s, d).select(col("event_type"), col("value")),
        group = col("event_type"), value = col("value"))
      .select(col("group_a").as("type_a"), col("group_b").as("type_b"),
              col("n_a"), col("n_b"),
              round(col("t"), 4).as("t"), round(col("dof"), 2).as("dof"))
      .coalesce(1).orderBy("type_a", "type_b")

  /** χ² independence test (added round 9): is the event-type mix
    * independent of the weekday? ONE row — the χ² statistic over the
    * dense 5×7 contingency grid, its dof, and N. This query IS
    * [[graft.Graft.chiSquare]] on (event_type, weekday), so the
    * oracle verifies the public API. Weekday = (µs-day + 4) mod 7
    * (1970-01-01 was a Thursday) — pure integer arithmetic in both
    * engines. chisq rounded (rule F; the 35-cell float sum is
    * order-dependent only at ~1e-14). */
  def q_chisq(s: SparkSession, d: String): DataFrame =
    graft.Graft.chiSquare(
        Tables.events(s, d)
          .select(col("event_type"),
                  expr(s"(${Tables.tsUsSql} div $US_PER_DAY + 4) % 7").as("dow")),
        a = col("event_type"), b = col("dow"))
      .select(round(col("chisq"), 4).as("chisq"), col("dof"), col("n"))
      .orderBy("n")

  /** Trailing moving average (added round 9): hourly event counts per
    * type on the DENSE spine, each with its mean over the current +
    * two preceding hours — the rolling smoother every metrics
    * dashboard draws (q_hourly_delta's frame-aggregate sibling; a
    * rolling window on a SPARSE series silently averages non-adjacent
    * hours, so densify first). Counts are exact integers in both
    * engines, so avg = one identical IEEE division; rounded per
    * rule F convention. Composes [[graft.Graft.densify]] + one lag
    * frame PARTITIONED per type (a type's spine is metadata-scale). */
  def q_rolling(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, d)
      .select(expr(s"${Tables.tsUsSql} div $US_PER_HOUR").as("hour"), col("event_type"))
      .groupBy("hour", "event_type").agg(count(lit(1)).as("n"))
    val dense = graft.Graft.densify(hourly, "hour", Seq("event_type"),
      Map("n" -> lit(0L)))
    val w = Window.partitionBy("event_type").orderBy("hour").rowsBetween(-2, 0)
    dense.select(col("hour"), col("event_type"), col("n"),
                 round(avg("n").over(w), 4).as("ma3"))
      .orderBy("hour", "event_type")
  }

  /** Trailing EXACT rolling median + IQR (round 13) — the ROBUST
    * sibling of [[q_rolling]]'s moving average and the windowed form
    * of [[q_outlier_mad]]'s robust-statistics stance: over the same
    * dense hourly spine, per event type the exact interpolated median
    * and interquartile range of the trailing 5-hour frame — the
    * rolling baseline an anomaly monitor compares arrivals against
    * when single-hour spikes must not drag the baseline the way a
    * mean does. Exact `percentile` (NOT approx_percentile) over a
    * ROWS frame; both engines define the continuous quantile
    * identically (linear interpolation at rank p·(cnt−1) — DuckDB's
    * quantile_cont), so values match at 4dp (rule F). The window
    * partitions by type over the metadata-scale spine — never a
    * global sort; at 100 TB the spine stays |hours|×|types| however
    * large the event table is, because the only corpus-scale stage
    * is the map-side-combinable hourly count. */
  def q_rolling_median(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, d)
      .select(expr(s"${Tables.tsUsSql} div $US_PER_HOUR").as("hour"), col("event_type"))
      .groupBy("hour", "event_type").agg(count(lit(1)).as("n"))
    val dense = graft.Graft.densify(hourly, "hour", Seq("event_type"),
      Map("n" -> lit(0L)))
    val w = Window.partitionBy("event_type").orderBy("hour").rowsBetween(-4, 0)
    dense.select(col("hour"), col("event_type"), col("n"),
                 round(percentile(col("n"), lit(0.5)).over(w), 4).as("med5"),
                 round(percentile(col("n"), lit(0.75)).over(w) -
                       percentile(col("n"), lit(0.25)).over(w), 4).as("iqr5"))
      .orderBy("hour", "event_type")
  }

  /** Lag-1 autocorrelation (added round 9): per event type, the
    * Pearson correlation of the dense hourly count series with itself
    * shifted one hour — the burstiness/periodicity scalar (white
    * noise ≈ 0, trending or hourly-periodic load ≠ 0) and the
    * time-series sibling of q_corr_matrix's column pairs. Densify
    * first (a lag over a sparse series correlates non-adjacent
    * hours); one lag window per type over the metadata-scale spine,
    * then ONE corr aggregate per type. Rounded 4dp (the q_stats_agg
    * corr precedent). */
  def q_autocorr(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, d)
      .select(expr(s"${Tables.tsUsSql} div $US_PER_HOUR").as("hour"), col("event_type"))
      .groupBy("hour", "event_type").agg(count(lit(1)).as("n"))
    val dense = graft.Graft.densify(hourly, "hour", Seq("event_type"),
      Map("n" -> lit(0L)))
    val w = Window.partitionBy("event_type").orderBy("hour")
    dense.select(col("event_type"), col("n"), lag("n", 1).over(w).as("n_prev"))
      .filter(col("n_prev").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), round(corr("n", "n_prev"), 4).as("ac1"))
      .orderBy("event_type")
  }
}
