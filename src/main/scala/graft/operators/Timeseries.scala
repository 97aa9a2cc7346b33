package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Regular-grid resampling of an event stream: align each key's
  * observations onto a fixed calendar grid and carry the last
  * observation forward across gaps (the "resample + ffill" idiom of
  * every time-series feature pipeline; dabstract-style sensor datasets
  * do the same when aligning irregular annotation streams onto frame
  * grids — cf. reference dataset/abstract.py's time-aligned meta).
  *
  * Scale shape: the per-(key, bucket) pre-aggregation is one partial-
  * agg'd shuffle of slim rows; the grid explodes per KEY (bounded by
  * that key's own span — never a global cross join); the forward-fill
  * window partitions by key, so no partition-less window exists in the
  * plan. Grid cells are date arithmetic; the filled value is
  * `max(value)` per cell — an order-independent (hence deterministic)
  * bucket statistic.
  */
object Timeseries {

  /** Daily grid + forward fill. Output one row per (key, day) from the
    * key's first to last event day: (keyCol, day, value = max event
    * value that day carried forward across empty days, n_events,
    * is_gap). Keys see only their own span, so a key active for one
    * day emits one row.
    */
  def gapFillDaily(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts", valCol: String = "value"): DataFrame = {
    val daily = Dedup.materialize(events
      .select(col(keyCol), to_date(col(tsCol)).as("day"),
        col(valCol).cast("double").as("_v"))
      .groupBy(keyCol, "day")
      .agg(max("_v").as("_day_v"), count(lit(1)).as("_n")))
    val grid = daily.groupBy(keyCol)
      .agg(min("day").as("_d0"), max("day").as("_d1"))
      .select(col(keyCol),
        explode(sequence(col("_d0"), col("_d1"), expr("interval 1 day")))
          .as("day"))
    val w = Window.partitionBy(keyCol).orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq(keyCol, "day"), "left")
      .select(col(keyCol), col("day"),
        last(col("_day_v"), ignoreNulls = true).over(w).as("value"),
        coalesce(col("_n"), lit(0L)).as("n_events"),
        col("_day_v").isNull.as("is_gap"))
  }

  /** Time-weighted average per key over an irregular sample stream:
    * each observation's value is held until the next observation, so
    * TWA = Σ vᵢ·Δtᵢ / Σ Δtᵢ — the correct mean of a sampled-and-held
    * signal (the arithmetic mean over-weights bursts; dabstract-style
    * sensor streams are exactly this shape).
    *
    * Exactness: Δt in integer micros, values through DECIMAL(18,4), so
    * the weighted sum is exact and order-independent; the single final
    * double division is the same IEEE op on any engine. Keys with one
    * observation have no interval → twa NULL. Scale shape: one window
    * (lead) and one aggregation, both partitioned by the key.
    */
  /** Gaps-and-islands: per key, the maximal runs of CONSECUTIVE active
    * days (island = days where day − dense_rank(day) is constant — the
    * classic idiom), reduced to each key's longest streak:
    * (key, streak_days, streak_start_day, n_islands). Ties between
    * equal-length streaks resolve to the earliest start.
    *
    * Scale shape: distinct (key, day) collapses multiplicity first
    * (partial-agg'd), the dense_rank window is partitioned per key and
    * ordered by day (no global sort), and the island reduction is one
    * more groupBy on (key, island) then (key). Every shuffle hashes the
    * key.
    */
  def longestStreak(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val days = events
      .select(col(keyCol), expr(s"unix_micros($tsCol) DIV 86400000000").as("_day"))
      .distinct()
    val w = Window.partitionBy(keyCol).orderBy("_day")
    val islands = days
      .withColumn("_isl", col("_day") - dense_rank().over(w))
      .groupBy(col(keyCol), col("_isl"))
      .agg(count(lit(1)).as("_len"), min("_day").as("_start"))
    islands.groupBy(keyCol)
      .agg(max(struct(col("_len"), (-col("_start")).as("_ns"))).as("_m"),
        count(lit(1)).as("n_islands"))
      .select(col(keyCol), col("_m._len").as("streak_days"),
        (-col("_m._ns")).as("streak_start_day"), col("n_islands"))
  }

  def timeWeightedAvg(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts", valCol: String = "value",
      ordCol: String = "event_id"): DataFrame = {
    val t = unix_micros(col(tsCol))
    val w = Window.partitionBy(keyCol).orderBy(col("_t"), col(ordCol))
    val dec = col(valCol).cast("decimal(18,4)")
    events
      .select(col(keyCol), col(ordCol), t.as("_t"), dec.as("_v"))
      .withColumn("_dt", lead(col("_t"), 1).over(w) - col("_t"))
      .groupBy(keyCol)
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("_dt")).as("_span"),
        sum(col("_v") * col("_dt")).as("_wsum"))
      .select(col(keyCol), col("n_events"),
        coalesce(col("_span"), lit(0L)).as("span_us"),
        // engine-exact quotient: go through scaled INTEGERS, not a
        // decimal→double cast (engines differ by 1 ulp there — the JVM
        // converts decimals correctly-rounded, DuckDB divides
        // int64/10^scale in doubles). int64→double is nearest-rounding
        // everywhere, and then the single division is the same IEEE op.
        ((col("_wsum") * 10000).cast("long").cast("double") /
          (col("_span").cast("double") * 10000.0)).as("twa"))
  }

  /** CUSUM-style drift alerts per key: flag observations where the
    * running sum of deviations from the key's own mean has climbed more
    * than `threshold` (in value units) above its running minimum — the
    * classic drawup form of change detection (a sustained upward shift
    * accumulates; noise does not).
    *
    * Exactness without a mean division: with Sᵤ = Σ dec(v) and n = count
    * per key, the scaled statistic cᵢ = n·Σ_{j≤i} dec(vⱼ) − i·Sᵤ equals
    * n·Σ(vⱼ − mean) — every term decimal-exact — and the alert predicate
    * compares (cᵢ − min_{j≤i} cⱼ) against dec(threshold)·n, still exact.
    * The reported `drift` divides by n once, for display only.
    *
    * Scale shape: one per-key aggregate joined back (exchange reuse on
    * the key) + per-key windows; nothing global.
    */
  def driftAlerts(events: DataFrame, threshold: Double,
      keyCol: String = "user_id", tsCol: String = "ts",
      valCol: String = "value", ordCol: String = "event_id"): DataFrame = {
    val t = unix_micros(col(tsCol))
    val dec = col(valCol).cast("decimal(18,4)")
    val stats = events.groupBy(keyCol)
      .agg(sum(dec).as("_s"), count(lit(1)).as("_n"))
    val w = Window.partitionBy(keyCol).orderBy(col("_t"), col(ordCol))
    val cum = Window.partitionBy(keyCol).orderBy(col("_t"), col(ordCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col(keyCol), col(ordCol), t.as("_t"), dec.as("_v"))
      .join(stats, Seq(keyCol))
      .withColumn("_c",
        col("_n") * sum(col("_v")).over(cum) -
          row_number().over(w) * col("_s"))
      .withColumn("_drawup", col("_c") - min(col("_c")).over(cum))
      .filter(col("_drawup") >
        lit(threshold).cast("decimal(18,4)") * col("_n"))
      .select(col(keyCol), col(ordCol), col("_t").as("ts_us"),
        // engine-exact quotient via scaled integers (see
        // timeWeightedAvg): decimal→double casts differ by 1 ulp across
        // engines, int64→double + one division do not; display rounding
        // would diverge on half-boundaries
        ((col("_drawup") * 10000).cast("long").cast("double") /
          (col("_n").cast("double") * 10000.0)).as("drift"))
  }

  /** Seasonal-naive forecast backtest (MASE components) per key: the
    * "is there a real weekly pattern" gate before any heavier model —
    * forecast_t = value_{t−season} (calendar lag, via self-join, so a
    * missing day yields NULL instead of silently reading the previous
    * OBSERVED row) scored against the naive forecast_t = value_{t−1}.
    * Per key: observed days, scored-day counts and the two absolute
    * error sums in exact 10⁻⁴ units (the q174 integer-tenk
    * discipline), plus mase_q6 = ⌊10⁶·Σ|e_s|·c_n / (Σ|e_n|·c_s)⌋ —
    * MASE < 1 ⇔ the seasonal forecast beats naive. NULL when naive is
    * degenerate (no consecutive days or zero naive error).
    *
    * Scale shape: one per-(key, day) partial-agg'd shuffle, then two
    * equi-joins on (key, day±lag) — no windows, nothing global; the
    * MASE product runs in DECIMAL(38,0) (HUGEINT oracle-side).
    */
  def seasonalBacktest(df: DataFrame, keyCol: String, dayCol: String,
      valCol: String, season: Int = 7): DataFrame = {
    val daily = df
      .groupBy(col(keyCol).as("_k"), col(dayCol).as("_d"))
      .agg((sum(col(valCol).cast("decimal(18,4)")) * 10000)
        .cast("long").as("_v"))
    def lagged(off: Int, name: String): DataFrame = daily.select(
      col("_k"), (col("_d") + off).as("_d"), col("_v").as(name))
    val scored = daily
      .join(lagged(season, "_vs"), Seq("_k", "_d"), "left")
      .join(lagged(1, "_vn"), Seq("_k", "_d"), "left")
    scored.groupBy(col("_k").as(keyCol))
      .agg(count(lit(1)).as("n_days"),
        count(col("_vs")).as("c_seasonal"),
        count(col("_vn")).as("c_naive"),
        sum(abs(col("_v") - col("_vs"))).as("err_seasonal_tenk"),
        sum(abs(col("_v") - col("_vn"))).as("err_naive_tenk"))
      .na.fill(0L, Seq("err_seasonal_tenk", "err_naive_tenk"))
      .withColumn("mase_q6",
        when(col("c_seasonal") > 0 && col("c_naive") > 0 &&
            col("err_naive_tenk") > 0,
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * err_seasonal_tenk" +
            " * c_naive) DIV (CAST(err_naive_tenk AS DECIMAL(38,0))" +
            " * c_seasonal) AS BIGINT)")))
  }

  /** EWMA control chart per key: smooth the daily value series with
    * α = 1/alphaDen and flag days whose value deviates from the
    * PREVIOUS day's smoothed level by more than `relDen`ths of that
    * level — `relDen·|xᵗ − sᵗ⁻¹| > |sᵗ⁻¹|`, the scale-free alert rule
    * (relDen = 4 ⇒ a >25 % jump/drop against the chart line alerts).
    *
    * Entirely integer: daily sums in 10⁻⁴ units (DECIMAL(18,4)·10⁴ is
    * integral), the smoothing is [[graft.plans.IntEwma]]'s
    * floor-division recurrence, and the alert predicate is an integer
    * cross-multiply — so a recursive-CTE oracle replays every day
    * bit-for-bit (q235).
    *
    * Scale shape: one hash aggregate to daily cells, then one
    * `collect_list` per key — per-key state is calendar-bounded (the
    * documented cap shared with [[gapFillDaily]]/[[seasonalBacktest]]:
    * a 10-year series is ~3.7k cells), never corpus-bounded. The EWMA
    * walk is a codegen'd native expression, not a window over an
    * unbounded frame, and nothing is global.
    */
  def ewmaChart(events: DataFrame, alphaDen: Int = 8, relDen: Int = 4,
      keyCol: String = "event_type", tsCol: String = "ts",
      valCol: String = "value"): DataFrame = {
    val daily = events
      .groupBy(col(keyCol).as("_k"),
        expr(s"unix_micros($tsCol) DIV 86400000000").as("_d"))
      .agg((sum(col(valCol).cast("decimal(18,4)")) * 10000)
        .cast("long").as("_v"))
    daily
      .groupBy("_k")
      .agg(sort_array(collect_list(struct(col("_d"), col("_v")))).as("_s"))
      .select(col("_k"),
        transform(col("_s"), x => x("_d")).as("_days"),
        // coalesce is a semantic no-op (group sums are never null) but
        // flips the element nullability IntEwma's type check demands
        transform(col("_s"), x => coalesce(x("_v"), lit(0L))).as("_xs"))
      .withColumn("_ss",
        graft.plans.GraftExtensions.intEwmaNative(col("_xs"), alphaDen))
      .select(col("_k"), posexplode(arrays_zip(col("_days"), col("_xs"),
        col("_ss"))))
      .select(col("_k").as(keyCol),
        col("col._days").as("day"),
        col("col._xs").as("x_tenk"),
        col("col._ss").as("ewma_tenk"),
        col("pos"))
      .withColumn("_prev", lag("ewma_tenk", 1)
        .over(Window.partitionBy(keyCol).orderBy("day")))
      .select(col(keyCol), col("day"), col("x_tenk"), col("ewma_tenk"),
        (col("_prev").isNotNull &&
          abs(col("x_tenk") - col("_prev")) * relDen > abs(col("_prev")))
          .as("alert"))
  }

  /** Ingest-freshness audit — the first page of every pipeline ops
    * dashboard: per source/type, how far behind the newest data is
    * this feed (lag vs the GLOBAL newest minute) and is it slowing
    * (trailing window vs the window before it). Minute-resolution by
    * design: the corpus collapses to (type, minute) count cells in one
    * partial-agg'd scan, so the audit is exact, cheap, and the cells
    * are mergeable (streamable through the state store like every
    * cells family).
    *
    * Output per type: (event_type, n_events, last_minute, lag_min,
    * n_last_w, n_prev_w, ratio_q6) — ratio = trailing/previous window
    * counts in Q6 (NULL when the previous window is empty); a stalled
    * feed reads n_last_w = 0 with a big lag_min.
    */
  def freshnessAudit(events: DataFrame, windowMinutes: Int = 60,
      typeCol: String = "event_type", tsCol: String = "ts"): DataFrame =
    freshnessFromCells(freshnessCells(events, typeCol, tsCol),
      windowMinutes)

  /** The (type, minute, n) cells behind [[freshnessAudit]]. */
  def freshnessCells(events: DataFrame, typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame =
    events
      .groupBy(col(typeCol).as("_t"),
        expr(s"unix_micros($tsCol) DIV 60000000").as("_min"))
      .agg(count(lit(1)).as("_n"))

  /** Readout over [[freshnessCells]] output. */
  def freshnessFromCells(cells: DataFrame,
      windowMinutes: Int = 60): DataFrame = {
    require(windowMinutes >= 1, "freshnessAudit needs windowMinutes >= 1")
    val w = windowMinutes.toLong
    val scal = cells.agg(max("_min").as("_gmax"))
    cells.crossJoin(scal)
      .groupBy(col("_t").as("event_type"))
      .agg(sum("_n").as("n_events"),
        max("_min").as("last_minute"),
        (max(col("_gmax")) - max("_min")).as("lag_min"),
        coalesce(sum(when(col("_min") > col("_gmax") - w, col("_n"))
          .otherwise(0L)), lit(0L)).as("n_last_w"),
        coalesce(sum(when(col("_min") <= col("_gmax") - w &&
            col("_min") > col("_gmax") - 2 * w, col("_n"))
          .otherwise(0L)), lit(0L)).as("n_prev_w"))
      .withColumn("ratio_q6", when(col("n_prev_w") > 0, expr(
        "CAST((CAST(n_last_w AS DECIMAL(38,0)) * 1000000)" +
          " DIV n_prev_w AS BIGINT)")))
  }
}
