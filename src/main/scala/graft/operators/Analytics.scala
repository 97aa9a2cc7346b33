package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics: ordered funnels and cohort retention.
  *
  * The reference's event handling stops at windowed aggregation
  * (cf. reference dataset/abstract.py sample-aligned meta); these two are
  * the standard product-analytics shapes a query engine over an events
  * table is expected to answer, and both reduce to slim shuffles on the
  * entity key — no per-event state, no collect, no partition-less window.
  */
object Analytics {

  /** Ordered funnel: for each entity, the earliest time it completed
    * step k strictly after completing step k-1 (min-ts chaining — the
    * standard "unordered window" funnel semantics: any qualifying event
    * after the previous step's first completion counts).
    *
    * Output: one row per entity seen in `events` —
    * (userCol, t1_us .. tN_us nullable epoch-micros, step_reached).
    *
    * Scale shape: the input projects to (user, ts) per step BEFORE any
    * shuffle (slim rows, the type filter pushes to the scan); step 1 is
    * one partial-agg'd groupBy; each later step joins the running chain
    * to that step's slim projection on the entity key and re-aggregates.
    * Every shuffle hashes the same entity key, so Catalyst reuses the
    * exchange across the chain instead of re-partitioning per step.
    * Funnel definitions are short, so cost ≈ steps × one slim shuffle,
    * independent of per-user event counts — no event ever carries its
    * payload past the first projection.
    */
  def funnel(events: DataFrame, steps: Seq[String],
      userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type",
      maxGapUs: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val u = col(userCol)
    // epoch-µs internally: gap arithmetic is integer and the output
    // columns are µs anyway (unix_micros is monotone, so min-chaining
    // over µs ≡ min-chaining over timestamps)
    val base = events.select(u, col(typeCol).as("_t"),
      unix_micros(col(tsCol)).as("_ts"))
    val universe = base.select(u).distinct()
    var chain: DataFrame = base.filter(col("_t") === steps.head)
      .groupBy(u).agg(min(col("_ts")).as("_s1"))
    for (i <- 1 until steps.length) {
      val stepEv = base.filter(col("_t") === steps(i))
        .select(u.as("_u2"), col("_ts"))
      // windowed funnels (maxGapUs) additionally require step i+1 to
      // land within the gap of step i's first completion — the
      // "convert within T" dashboard semantics
      val qual = maxGapUs.foldLeft(col("_ts") > col(s"_s$i")) {
        (c, gap) => c && col("_ts") <= col(s"_s$i") + gap
      }
      val keep = (1 to i).map(j => first(col(s"_s$j")).as(s"_s$j")) :+
        min(when(qual, col("_ts"))).as(s"_s${i + 1}")
      chain = chain.join(stepEv, chain(userCol) === col("_u2"), "left")
        .groupBy(u).agg(keep.head, keep.tail: _*)
    }
    val stepCols = (1 to steps.length).map(i => col(s"_s$i"))
    val reached = stepCols.zipWithIndex.foldLeft(lit(0)) {
      case (acc, (c, i)) => when(c.isNotNull, lit(i + 1)).otherwise(acc)
    }
    universe.join(chain, Seq(userCol), "left")
      .select(u +:
        stepCols.zipWithIndex.map { case (c, i) =>
          c.as(s"t${i + 1}_us") } :+
        reached.as("step_reached"): _*)
  }

  /** Funnel step-conversion summary over [[funnel]]'s per-entity rows:
    * one row per step with the number of entities that reached it and
    * the step-over-step survivor count of the NEXT step (the shape
    * funnel dashboards plot). Pure aggregation of the per-entity view —
    * conditional counts, no second pass over events.
    */
  def funnelCounts(perEntity: DataFrame, nSteps: Int): DataFrame = {
    require(nSteps >= 1, "need at least one step")
    val rows = (1 to nSteps).map { i =>
      struct(lit(i).as("step"),
        sum(when(col("step_reached") >= i, 1L).otherwise(0L)).as("n_reached"))
    }
    perEntity.agg(array(rows: _*).as("_steps"))
      .select(explode(col("_steps")).as("s"))
      .select(col("s.step").as("step"), col("s.n_reached").as("n_reached"))
  }

  /** Equi-width histogram: value-based bucket assignment
    * (floor((v − lo) / width), clamped to [0, nBuckets−1]) — one
    * map-side projection plus one partial-agg'd groupBy; NO global
    * window or sort, so the plan is two stages at any scale. Emits
    * every bucket's [lo, hi) bounds and count; empty buckets are
    * absent (join a bucket spine if a dense axis is needed).
    */
  def histogram(df: DataFrame, valueCol: String, lo: Double, width: Double,
      nBuckets: Int): DataFrame = {
    require(width > 0 && nBuckets > 0, "width and nBuckets must be positive")
    val b = least(greatest(floor((col(valueCol) - lo) / width), lit(0.0)),
      lit((nBuckets - 1).toDouble)).cast("long")
    df.select(b.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        (lit(lo) + col("bucket") * width).as("bucket_lo"),
        (lit(lo) + (col("bucket") + 1) * width).as("bucket_hi"),
        col("n"))
  }

  /** Robust per-group outlier detection: median absolute deviation.
    * Flags rows whose |value − group median| exceeds k × the group's
    * MAD — the standard robust alternative to z-scores (median and MAD
    * have a 50% breakdown point; mean/stddev break on one bad value).
    *
    * Exactness: both medians use exact linear interpolation
    * (lo + (hi−lo)·frac — the same IEEE expression DuckDB's
    * quantile_cont evaluates), so the k·MAD predicate is engine-exact,
    * not approximate. Scale shape: two groupBy-key shuffles plus joins
    * back on the same key (the exchange is reused); exact per-group
    * percentile buffers each group's values, so at extreme group sizes
    * swap `percentile` for `approx_percentile` and accept a tolerance —
    * the operator keeps the exact kernel because outlier gates feed
    * correctness-sensitive curation decisions.
    */
  def madOutliers(df: DataFrame, valueCol: String, groupCol: String,
      k: Double = 3.0): DataFrame = {
    val v = col(valueCol)
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, 0.5)").as("_med"))
    val dev = df.join(med, Seq(groupCol))
      .withColumn("_ad", abs(v - col("_med")))
    val mad = dev.groupBy(col(groupCol))
      .agg(expr("percentile(_ad, 0.5)").as("_mad"))
    dev.join(mad, Seq(groupCol))
      .filter(col("_ad") > lit(k) * col("_mad"))
      .withColumn("abs_dev", round(col("_ad"), 4))
      .withColumn("group_median", round(col("_med"), 4))
      .withColumn("group_mad", round(col("_mad"), 4))
      .drop("_med", "_ad", "_mad")
  }

  /** First-order Markov transition counts over each entity's event
    * sequence: how often type A is immediately followed by type B
    * (ties broken by `ordCol` so the sequence is total-ordered on any
    * engine). One per-key lag window + one partial-agg'd groupBy on
    * the (from, to) pair — the |types|² output is dashboard-sized.
    */
  def eventTransitions(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts", typeCol: String = "event_type",
      ordCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(ordCol))
    events
      .select(col(keyCol), col(tsCol), col(ordCol), col(typeCol).as("to_type"))
      .withColumn("from_type", lag(col("to_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
  }

  /** RFM segmentation: recency / frequency / monetary tercile scores
    * per customer. Every dimension is an exact integer (epoch-micros
    * recency, count frequency, cents monetary via a DECIMAL sum scaled
    * to BIGINT), and the tercile fences are exact interpolated
    * percentiles over those integers — both engine-identical, so the
    * scores are engine-exact with no float bucketing hazard. Two
    * aggregations (per-customer, then the 6-number fence row broadcast
    * back); no global window.
    */
  def rfmScores(orders: DataFrame, custCol: String = "o_custkey",
      tsCol: String = "o_orderdate", amountCol: String = "o_totalprice"): DataFrame = {
    val perCust = orders.groupBy(col(custCol))
      .agg(
        max(unix_micros(col(tsCol))).as("recency_us"),
        count(lit(1)).as("frequency"),
        sum(col(amountCol).cast("decimal(18,2)") * 100)
          .cast("long").as("monetary_cents"))
    val fences = perCust.agg(
      expr("percentile(recency_us, 0.333)").as("_r1"),
      expr("percentile(recency_us, 0.667)").as("_r2"),
      expr("percentile(frequency, 0.333)").as("_f1"),
      expr("percentile(frequency, 0.667)").as("_f2"),
      expr("percentile(monetary_cents, 0.333)").as("_m1"),
      expr("percentile(monetary_cents, 0.667)").as("_m2"))
    def score(c: Column, lo: Column, hi: Column): Column =
      when(c > hi, 3).when(c > lo, 2).otherwise(1)
    perCust.crossJoin(fences)
      .select(col(custCol), col("recency_us"), col("frequency"),
        col("monetary_cents"),
        score(col("recency_us"), col("_r1"), col("_r2")).as("r_score"),
        score(col("frequency"), col("_f1"), col("_f2")).as("f_score"),
        score(col("monetary_cents"), col("_m1"), col("_m2")).as("m_score"))
      .withColumn("rfm",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
  }

  /** Cohort retention: entities grouped by the calendar month of their
    * first event; for every (cohort, month-offset) the number of
    * distinct entities active that many months later. The classic
    * retention triangle (offset 0 row = cohort size).
    *
    * Month arithmetic is integer (year*12 + month), so the offset is
    * exact on any engine. Two shuffles: one groupBy entity for the
    * cohort month, one distinct+count on slim (cohort, offset, entity)
    * rows — the join back to events is on the entity key and reuses the
    * first exchange's partitioning.
    */
  def cohortRetention(events: DataFrame, userCol: String = "o_custkey",
      tsCol: String = "o_orderdate"): DataFrame = {
    val monthIdx = (c: Column) => year(c) * 12 + month(c)
    val firstEv = events.groupBy(col(userCol))
      .agg(min(col(tsCol)).as("_first"))
      .select(col(userCol),
        date_format(col("_first"), "yyyy-MM").as("cohort_month"),
        monthIdx(col("_first")).as("_m0"))
    events.select(col(userCol), monthIdx(col(tsCol)).as("_m"))
      .join(firstEv, Seq(userCol))
      .select(col("cohort_month"), (col("_m") - col("_m0")).as("month_offset"),
        col(userCol))
      .distinct()
      .groupBy("cohort_month", "month_offset")
      .agg(count(lit(1)).as("n_customers"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic — the standard
    * distribution-drift monitor between two slices of a numeric column
    * (yesterday vs today, treatment vs control, source A vs source B).
    * Rows where `isSample2` is true form sample 2, the rest sample 1.
    *
    * D = max_v |F1(v) − F2(v)| is kept EXACT by cross-multiplication:
    * the output carries `ks_num` = max |cum1·n2 − cum2·n1| (integer)
    * alongside `ks` = ks_num/(n1·n2) — one IEEE division of exact
    * integers, so the statistic is bit-identical on any engine.
    *
    * Scale shape: the per-distinct-value pre-aggregation is one
    * partial-agg'd shuffle of slim (value, c1, c2) rows; the running
    * CDFs use the repo's two-phase global-order idiom (range-bucket on
    * the value, per-bucket window, driver-collected per-bucket offsets
    * — ≤ numBuckets rows by construction). No global window, no sort of
    * the raw data, nothing ∝ input on the driver.
    */
  /** Exact two-sample chi-squared statistic over a CATEGORICAL column —
    * the drift monitor q145's KS cannot cover (source mix, label
    * distribution, language balance between two slices).
    *
    * χ² = Σ_cells (O·N − R·C)²/(N·R·C) is computed with every operand
    * exactly representable: d = O·N − R·C stays integer (< 2^53 for
    * class totals up to ~2^26 — far past any per-class count these
    * report tables see), and each cell contributes
    * (d/N)·(d/(R·C)) + … — three IEEE ops in fixed order per sample
    * row. Cells are then summed by an ORDERED sequential fold (sorted
    * by category), the same discipline as the cosine fold — so the
    * statistic is bit-identical on any engine.
    *
    * One partial-agg'd groupBy over slim (cat, flag) rows; everything
    * after is arithmetic on the cells table (|categories| rows).
    * Output: one row (n1, n2, n_cells, chisq); df = n_cells − 1.
    */
  def chisqDrift(df: DataFrame, catCol: String,
      isSample2: Column): DataFrame =
    chisqFromCells(chisqCells(df, catCol, isSample2))

  /** The statistic's sufficient state: per-category counts of each
    * sample — |categories| rows, buildable BATCH or STREAMING (it is
    * one groupBy-sum, so it runs as bounded streaming state and the
    * final snapshot feeds [[chisqFromCells]] — drift monitoring on an
    * ingest stream without re-scanning history).
    */
  def chisqCells(df: DataFrame, catCol: String,
      isSample2: Column): DataFrame =
    df.groupBy(col(catCol).as("_cat"))
      .agg(sum(when(isSample2, 0L).otherwise(1L)).as("_c1"),
        sum(when(isSample2, 1L).otherwise(0L)).as("_c2"))

  def chisqFromCells(cells: DataFrame): DataFrame = {
    val tot = cells.agg(sum("_c1").as("_r1"), sum("_c2").as("_r2"))
    def term(o: Column, r: Column): Column = {
      val n = col("_r1") + col("_r2")
      val cc = col("_c1") + col("_c2")
      val d = (o * n - r * cc).cast("double")
      // an empty arm (r = 0) makes chi-sq undefined: null term → null
      // statistic, instead of an ANSI DIVIDE_BY_ZERO killing the job
      when(r > 0 && cc > 0,
        (d / n.cast("double")) * (d / (r * cc).cast("double")))
    }
    cells.crossJoin(tot)
      .withColumn("_t",
        term(col("_c1"), col("_r1")) + term(col("_c2"), col("_r2")))
      .groupBy("_r1", "_r2")
      .agg(count(lit(1)).as("n_cells"),
        aggregate(
          transform(sort_array(collect_list(struct(col("_cat"), col("_t")))),
            x => x.getField("_t")),
          lit(0.0), (a, b) => a + b).as("chisq"))
      .select(col("_r1").as("n1"), col("_r2").as("n2"),
        col("n_cells"), col("chisq"))
  }

  /** Population Stability Index between the expected (isActual false)
    * and actual (true) category distributions — the model-monitoring
    * drift metric that joins [[ksDrift]] (continuous) and
    * [[chisqFromCells]] (independence) in the validation suite:
    * PSI = Σᵢ (pBᵢ − pAᵢ)·ln(pBᵢ/pAᵢ), conventional reading ≥ 0.25 =
    * major shift.
    *
    * Determinism discipline (the q199 entropy shape): with add-one
    * smoothing (aᵢ+1, bᵢ+1, nA' = nA+k, nB' = nB+k — zero cells are
    * the POINT of PSI, so they must not hit the log's domain edge) each
    * term is ((bᵢ+1)·nA' − (aᵢ+1)·nB')·(L((bᵢ+1)·nA') − L((aᵢ+1)·nB'))
    * over the shared integer log kernel L = lnQ12 — an exact integer of
    * matching signs (L monotone), summed in DECIMAL(38,0) and floor-
    * divided by nA'·nB' once: psi_q is fixed-point PSI at 10⁻¹², no
    * libm, replayed verbatim by the oracle's recursive CTE. Long-range
    * bound: (bᵢ+1)·nA' must fit a signed 64-bit int — holds through
    * ~3·10⁹ rows per side; beyond that pre-aggregate or sample.
    *
    * Scale shape: one partial-agg'd groupBy(category) + a 1-row total
    * broadcast — k+1 rows after the first aggregation, nothing per-row
    * downstream.
    */
  def psiDrift(df: DataFrame, catCol: String, isActual: Column): DataFrame =
    psiFromCells(chisqCells(df, catCol, isActual))

  /** PSI readout from a cells table (`_cat`, `_c1` expected, `_c2`
    * actual — the [[chisqCells]] shape, so the batch and streaming
    * paths share one readout and one oracle). See [[psiDrift]].
    */
  def psiFromCells(cells0: DataFrame): DataFrame = {
    import graft.plans.GraftExtensions.lnQ12Native
    val cells = cells0.select(col("_cat"), col("_c1").as("_a"),
      col("_c2").as("_b"))
    val tot = cells.agg(sum("_a").as("_na"), sum("_b").as("_nb"),
      count(lit(1)).as("_k"))
    cells.crossJoin(tot)
      .select(col("_na"), col("_nb"), col("_k"),
        ((col("_b") + 1) * (col("_na") + col("_k"))).as("_x"),
        ((col("_a") + 1) * (col("_nb") + col("_k"))).as("_y"))
      .withColumn("_t",
        ((col("_x") - col("_y")).cast("decimal(38,0)") *
          (lnQ12Native(col("_x")) - lnQ12Native(col("_y")))
            .cast("decimal(38,0)")).cast("decimal(38,0)"))
      .groupBy("_na", "_nb", "_k")
      .agg(sum("_t").as("_s"))
      // _s ≥ 0 (sign-matched factors), so the truncating DIV is floor —
      // identical to DuckDB's // on the same positive integers
      .withColumn("psi_q", expr(
        "CAST(_s DIV (CAST(_na + _k AS DECIMAL(19,0)) * " +
          "CAST(_nb + _k AS DECIMAL(19,0))) AS BIGINT)"))
      .select(col("_na").as("n_expected"), col("_nb").as("n_actual"),
        col("_k").as("n_cats"), col("psi_q"),
        // psi_q < 2^53 for any realistic PSI: exact conversion + one
        // correctly-rounded division, engine-identical
        (col("psi_q").cast("double") / lit(1e12)).as("psi"))
  }

  /** [[psiDrift]] per group — the drift DASHBOARD table (per cohort /
    * segment / region), because a stable marginal distribution can
    * hide one cohort drifting hard against another drifting back.
    * Same smoothed integer-log arithmetic with every stage keyed by
    * the group column; one row per group: (grp, n_expected, n_actual,
    * n_cats, psi_q, psi).
    *
    * Scale shape: one partial-agg'd groupBy(group, category), the
    * |groups|-row totals broadcast back, per-term arithmetic on the
    * |groups|·|cats| cell table. Meant for bounded group columns.
    */
  def psiByGroup(df: DataFrame, grpCol: Column, catCol: String,
      isActual: Column): DataFrame = psiByGroupImpl(df, grpCol, catCol,
    isActual)

  /** PSI of every time bucket against the GLOBAL category
    * distribution — drift as a TIME SERIES (per day / hour), the
    * monitoring chart behind [[psiDrift]]'s single number and
    * [[psiByGroup]]'s cohort table: which buckets drifted, and when
    * did it start. Expected = the whole corpus, actual = the bucket;
    * same smoothed integer-log kernel as q202 with every stage keyed
    * by the bucket. Categories missing from a bucket enter with
    * count 0 (the +1 smoothing keeps the log finite), so every
    * bucket's k is the GLOBAL category count and psi values are
    * comparable across buckets. One row per bucket:
    * (bucket, n_expected, n_actual, n_cats, psi_q, psi).
    *
    * Scale shape: ONE partial-agg'd groupBy(bucket, category) collapse
    * of the corpus; the baseline (≤|cats| rows) and bucket totals
    * (≤|buckets| rows) broadcast back onto the |buckets|·|cats|
    * completed grid — nothing after the collapse touches the corpus.
    */
  def psiVsBaseline(df: DataFrame, bucketCol: Column,
      catCol: String): DataFrame =
    psiVsBaselineFromCells(Dedup.materialize(
      psiTimeCells(df, bucketCol, catCol)))

  /** The (bucket, category, count) cell builder behind
    * [[psiVsBaseline]] — split out so the streaming twin maintains the
    * SAME cells through the state store (a plain Complete-mode count
    * aggregation) and gates through the same oracle (the q272/q280/q285
    * discipline: one cell builder, two engine paths).
    */
  def psiTimeCells(df: DataFrame, bucketCol: Column,
      catCol: String): DataFrame =
    df.select(bucketCol.as("bucket"), col(catCol).as("_cat"))
      .groupBy("bucket", "_cat").agg(count(lit(1)).as("_b"))

  /** [[psiVsBaseline]]'s readout over prebuilt cells. */
  def psiVsBaselineFromCells(cells: DataFrame): DataFrame = {
    import graft.plans.GraftExtensions.lnQ12Native
    val base = cells.groupBy("_cat").agg(sum("_b").as("_a")) // global
    val k = base.agg(count(lit(1)).as("_k"), sum("_a").as("_na"))
    val btot = cells.groupBy("bucket").agg(sum("_b").as("_nb"))
    // complete the grid: every (bucket, global category) pair, absent
    // bucket counts as 0 — bounded |buckets|·|cats|
    val grid = btot.crossJoin(broadcast(base)).crossJoin(k)
      .join(cells, Seq("bucket", "_cat"), "left")
      .na.fill(0L, Seq("_b"))
    grid
      .select(col("bucket"), col("_na"), col("_nb"), col("_k"),
        ((col("_b") + 1) * (col("_na") + col("_k"))).as("_x"),
        ((col("_a") + 1) * (col("_nb") + col("_k"))).as("_y"))
      .withColumn("_t",
        ((col("_x") - col("_y")).cast("decimal(38,0)") *
          (lnQ12Native(col("_x")) - lnQ12Native(col("_y")))
            .cast("decimal(38,0)")).cast("decimal(38,0)"))
      .groupBy("bucket", "_na", "_nb", "_k")
      .agg(sum("_t").as("_s"))
      .withColumn("psi_q", expr(
        "CAST(_s DIV (CAST(_na + _k AS DECIMAL(19,0)) * " +
          "CAST(_nb + _k AS DECIMAL(19,0))) AS BIGINT)"))
      .select(col("bucket"), col("_na").as("n_expected"),
        col("_nb").as("n_actual"), col("_k").as("n_cats"), col("psi_q"),
        (col("psi_q").cast("double") / lit(1e12)).as("psi"))
  }

  private def psiByGroupImpl(df: DataFrame, grpCol: Column,
      catCol: String, isActual: Column): DataFrame = {
    import graft.plans.GraftExtensions.lnQ12Native
    val cells = df.select(grpCol.as("grp"), col(catCol).as("_cat"),
        isActual.cast("boolean").as("_f"))
      .groupBy("grp", "_cat")
      .agg(sum(when(col("_f"), 0L).otherwise(1L)).as("_a"),
        sum(when(col("_f"), 1L).otherwise(0L)).as("_b"))
    val tot = cells.groupBy("grp").agg(sum("_a").as("_na"),
      sum("_b").as("_nb"), count(lit(1)).as("_k"))
    cells.join(broadcast(tot), Seq("grp"))
      .select(col("grp"), col("_na"), col("_nb"), col("_k"),
        ((col("_b") + 1) * (col("_na") + col("_k"))).as("_x"),
        ((col("_a") + 1) * (col("_nb") + col("_k"))).as("_y"))
      .withColumn("_t",
        ((col("_x") - col("_y")).cast("decimal(38,0)") *
          (lnQ12Native(col("_x")) - lnQ12Native(col("_y")))
            .cast("decimal(38,0)")).cast("decimal(38,0)"))
      .groupBy("grp", "_na", "_nb", "_k")
      .agg(sum("_t").as("_s"))
      .withColumn("psi_q", expr(
        "CAST(_s DIV (CAST(_na + _k AS DECIMAL(19,0)) * " +
          "CAST(_nb + _k AS DECIMAL(19,0))) AS BIGINT)"))
      .select(col("grp"), col("_na").as("n_expected"),
        col("_nb").as("n_actual"), col("_k").as("n_cats"), col("psi_q"),
        (col("psi_q").cast("double") / lit(1e12)).as("psi"))
  }

  def ksDrift(df: DataFrame, valueCol: String, isSample2: Column,
      numBuckets: Int = 32): DataFrame = {
    val perV = Dedup.materialize(
      df.select(col(valueCol).as("_v"),
          when(isSample2, 1L).otherwise(0L).as("_f"))
        .groupBy("_v")
        .agg(sum(lit(1L) - col("_f")).as("_c1"), sum(col("_f")).as("_c2")))
    val b = perV.withColumn("_b",
      Ranking.bucketCol("_v", Ranking.rangeCuts(perV, "_v", numBuckets)))
    val cnt = b.groupBy("_b")
      .agg(sum("_c1").as("_s1"), sum("_c2").as("_s2"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val n1 = cnt.map(_._2).sum
    val n2 = cnt.map(_._3).sum
    val offRows = cnt.scanLeft((0, 0L, 0L, 0L, 0L)) {
      case ((_, o1, p1, o2, p2), (bid, c1, c2)) =>
        (bid, o1 + p1, c1, o2 + p2, c2)
    }.drop(1).map { case (bid, o1, _, o2, _) => (bid, o1, o2) }
    val spark = df.sparkSession
    import spark.implicits._
    val offsets = offRows.toSeq.toDF("_b", "_o1", "_o2")
    val w = Window.partitionBy("_b").orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.join(offsets, Seq("_b"))
      .select((col("_o1") + sum("_c1").over(w)).as("_cum1"),
        (col("_o2") + sum("_c2").over(w)).as("_cum2"))
      .agg(max(abs(col("_cum1") * n2 - col("_cum2") * n1)).as("ks_num"))
      .select(lit(n1).as("n1"), lit(n2).as("n2"), col("ks_num"),
        // an empty sample makes D undefined: null, not ANSI ÷0
        (if (n1 > 0 && n2 > 0)
          col("ks_num").cast("double") / lit((n1 * n2).toDouble)
        else lit(null).cast("double")).as("ks"))
  }

  /** Events with their session id (gap-based sessionization, the q18
    * shape factored out): a new session starts when the gap to the
    * previous event of the same key exceeds `gapUs`. Total order within
    * a key is (ts, ordCol), so session boundaries are engine-exact.
    * One per-key window — the event payload rides along untouched.
    */
  private def withSessionId(events: DataFrame, keyCol: String, tsCol: String,
      ordCol: String, gapUs: Long): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col("_us"), col(ordCol))
    events
      .withColumn("_us", unix_micros(col(tsCol)))
      .withColumn("_prev", lag(col("_us"), 1).over(w))
      .withColumn("_new",
        when(col("_prev").isNull || col("_us") - col("_prev") > gapUs, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("_prev", "_new")
  }

  /** First-touch attribution: every conversion event credits its
    * session's FIRST event type (the channel that opened the session).
    * Output: (first_type, n_conversions, revenue) — revenue summed as
    * DECIMAL(18,4) (exact, order-independent) and cast to double once
    * at the end VIA STRING: Spark's direct Decimal.toDouble goes
    * through BigDecimal.doubleValue ((double)unscaled / 10^scale — two
    * roundings, up to 1 ulp off), while decimal→string→double is
    * Double.parseDouble, correctly rounded — identical by construction
    * to DuckDB's VARCHAR→DOUBLE route used by the q156 oracle.
    *
    * Scale shape: one per-key window pass to sessionize + mark each
    * session's opener, one min-struct agg per session, then a slim
    * groupBy on the credited type. Nothing is ever partitioned by
    * session globally — sessions nest inside the key partitioning.
    */
  def firstTouchAttribution(events: DataFrame, convType: String,
      keyCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", ordCol: String = "event_id",
      valueCol: String = "value", gapUs: Long = 300000000L): DataFrame = {
    val sess = withSessionId(events, keyCol, tsCol, ordCol, gapUs)
    sess
      .groupBy(col(keyCol), col("session_id"))
      .agg(
        // session opener = type of the (us, ord)-minimal event
        min(struct(col("_us"), col(ordCol), col(typeCol))).as("_first"),
        sum(when(col(typeCol) === convType, lit(1L)).otherwise(lit(0L)))
          .as("_nc"),
        sum(when(col(typeCol) === convType,
          col(valueCol).cast("decimal(18,4)"))).as("_rev"))
      .filter(col("_nc") > 0)
      .groupBy(col(s"_first.$typeCol").as("first_type"))
      .agg(sum("_nc").as("n_conversions"),
        sum("_rev").cast("string").cast("double").as("revenue"))
  }

  /** Multi-touch LINEAR attribution, exact to the 10⁻⁴ value unit:
    * every conversion's value splits equally across the session events
    * strictly before it (its "touches"); the integer remainder goes to
    * the earliest touches one unit each, so Σ credits ≡ Σ conversion
    * values EXACTLY — no float split, engine-identical. Conversions
    * with no prior touch keep their own credit. Output: one row per
    * credited event type — (event_type, n_credits, credit_tenk) where
    * credit_tenk is in 10⁻⁴ value units (DECIMAL(18,4)·10⁴ is integral
    * by construction, so the Long cast is exact).
    *
    * Scale shape: sessionize (per-key window), join conversions to
    * their own session's events (per-session self-join — bounded by
    * session length, which the gap bounds in practice), rank touches
    * within (key, session, conversion) — never a global window.
    */
  /** Time-decay multi-touch attribution — the third member of the
    * attribution family (first-touch q156, linear q174): each
    * conversion's value splits over its session's preceding touches
    * with weight 2^(−Δdays) (per-day halving — DYADIC, so the weights
    * are exact integers num = 2^(maxDays − min(Δdays, maxDays)) over
    * the common denominator). Credit_j = floor(vt·num_j / den) via the
    * pmod floor-division discipline (negative refund values conserve
    * exactly), with the remainder r = vt − Σ base ∈ [0, n) distributed
    * +1 to the r HIGHEST-weight (latest) touches. Σ credits ≡ Σ values
    * exactly. All integer arithmetic — the oracle replays every step.
    * vt·num must fit int64: |value|·10⁴·2^maxDays < 2⁶³ (maxDays = 30
    * → values to ~10⁹ units; raise maxDays only with narrower values).
    */
  def timeDecayAttribution(events: DataFrame, convType: String,
      keyCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", ordCol: String = "event_id",
      valueCol: String = "value", gapUs: Long = 300000000L,
      maxDays: Int = 30): DataFrame = {
    val sess = withSessionId(events, keyCol, tsCol, ordCol, gapUs)
    val ev = sess.select(col(keyCol).as("_k"), col("session_id").as("_sid"),
      col("_us"), col(ordCol).as("_ord"), col(typeCol).as("_ty"),
      col(valueCol).as("_v"))
    val conv = ev.filter(col("_ty") === convType)
      .select(col("_k"), col("_sid"), col("_us").as("_pus"),
        col("_ord").as("_pord"),
        expr("CAST(CAST(_v AS DECIMAL(18,4)) * 10000 AS BIGINT)").as("_vt"))
    val touches = conv
      .join(ev.select(col("_k"), col("_sid"), col("_us"), col("_ord"),
        col("_ty")), Seq("_k", "_sid"))
      .filter(col("_us") < col("_pus") ||
        (col("_us") === col("_pus") && col("_ord") < col("_pord")))
    val part = Window.partitionBy("_k", "_sid", "_pord")
    val credited = touches
      .withColumn("_num", expr(
        s"shiftleft(CAST(1 AS BIGINT), $maxDays - " +
          s"CAST(least(CAST($maxDays AS BIGINT), " +
          "(_pus - _us) div 86400000000) AS INT))"))
      .withColumn("_den", sum("_num").over(part))
      .withColumn("_base",
        expr("(_vt * _num - pmod(_vt * _num, _den)) div _den"))
      .withColumn("_sb", sum("_base").over(part))
      .withColumn("_rk", row_number().over(
        part.orderBy(col("_us").desc, col("_ord").desc)))
      .select(col("_ty"),
        expr("_base + CASE WHEN _rk <= _vt - _sb THEN 1 ELSE 0 END")
          .as("_credit"))
    val untouched = conv.join(
        touches.select(col("_k"), col("_sid"), col("_pord")).distinct(),
        Seq("_k", "_sid", "_pord"), "anti")
      .select(lit(convType).as("_ty"), col("_vt").as("_credit"))
    credited.unionByName(untouched)
      .groupBy(col("_ty").as("event_type"))
      .agg(count(lit(1)).as("n_credits"), sum("_credit").as("credit_tenk"))
  }

  /** Markov-chain removal-effect attribution, the data-driven
    * counterweight to the positional models (first-touch q156, linear
    * q174, time-decay q221): sessions become journeys START → touch…
    * → CONV/NULL, transition counts build the chain, and each
    * channel's value is how much the conversion probability DROPS when
    * every transition into it is redirected to NULL (the standard
    * removal-effect construction; probabilities NOT renormalized — the
    * removed channel's traffic is lost, not rerouted).
    *
    * Conversion probability is the `rounds`-step absorption
    * probability in 10⁻¹² fixed point: p₀ = 1 at CONV, each round
    * p(s) ← ⌊Σ_j c_sj·p(j) / c_s⌋ — exact integers (the q211
    * bounded-round discipline: "probability of converting within ≤
    * rounds+1 touches", unrolled round-for-round in the oracle).
    * Output one row per channel: (typeCol, p_full_q12, p_removed_q12,
    * removal_effect_q6 = ⌊10⁶·(p_full − p_removed)/p_full⌋).
    *
    * Scale shape: sessionization + transition counting are the only
    * corpus-sized passes (per-key windows, one groupBy(src, dst));
    * everything after runs on the channel-count-sized chain (≤
    * |channels|² cells × |channels|+1 scenarios), checkpointed per
    * round so plans stay flat.
    */
  def markovAttribution(events: DataFrame, convType: String,
      keyCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", ordCol: String = "event_id",
      gapUs: Long = 300000000L, rounds: Int = 6): DataFrame = {
    val START = "__START__"; val CONV = "__CONV__"; val NUL = "__NULL__"
    val FULL = "__FULL__"
    val dec = "DECIMAL(38,0)"
    val scale = 1000000000000L
    val sess = withSessionId(events, keyCol, tsCol, ordCol, gapUs)
    val sw = Window.partitionBy(col(keyCol), col("session_id"))
    val w = sw.orderBy(col("_us"), col(ordCol))
    val marked = sess.withColumn("_conv",
      max(when(col(typeCol) === convType, 1).otherwise(0)).over(sw))
    val touches = marked.filter(col(typeCol) =!= convType)
      .withColumn("_rn", row_number().over(w))
      .withColumn("_next", lead(col(typeCol), 1).over(w))
    val mid = touches.select(col(typeCol).as("src"),
      coalesce(col("_next"),
        when(col("_conv") === 1, lit(CONV)).otherwise(lit(NUL))).as("dst"))
    val startT = touches.filter(col("_rn") === 1)
      .select(lit(START).as("src"), col(typeCol).as("dst"))
    // sessions whose every event converts: START → CONV directly
    val lonely = marked.groupBy(col(keyCol), col("session_id"))
      .agg(max(when(col(typeCol) =!= convType, 1).otherwise(0)).as("_t"))
      .filter(col("_t") === 0)
      .select(lit(START).as("src"), lit(CONV).as("dst"))
    val counts = Dedup.materialize(
      mid.unionByName(startT).unionByName(lonely)
        .groupBy("src", "dst").agg(count(lit(1)).as("c")), eager = true)
    val rowSum = counts.groupBy("src").agg(sum("c").as("cs"))
    val channels = counts.select(col("src").as("ch"))
      .union(counts.select(col("dst")))
      .filter(!col("ch").isin(START, CONV, NUL)).distinct()
    val scen = channels.select(col("ch").as("scenario"))
      .unionByName(channels.limit(1).select(lit(FULL).as("scenario")))
    // per-scenario chain: transitions INTO the removed channel → NULL
    // (then re-aggregated — they merge with existing →NULL mass); c_s
    // stays the FULL row sum (removal loses mass by design)
    // scen is ≤|channels|+1 rows — broadcast it so the expansion plans
    // as BroadcastNestedLoopJoin, never CartesianProduct (plan-audit
    // gate: a cartesian repartitions BOTH sides at scale)
    val edges = Dedup.materialize(broadcast(scen).crossJoin(counts)
      .withColumn("_d",
        when(col("dst") === col("scenario"), lit(NUL)).otherwise(col("dst")))
      .groupBy(col("scenario"), col("src"), col("_d").as("dst"))
      .agg(sum("c").as("c"))
      .join(rowSum, Seq("src")), eager = true)
    val absorb = scen.select(col("scenario"), lit(CONV).as("state"),
      lit(scale).as("p"))
    var p = absorb
    for (_ <- 1 to rounds) {
      val stepped = edges
        .join(p.select(col("scenario"), col("state").as("dst"), col("p")),
          Seq("scenario", "dst"), "left")
        .na.fill(0L, Seq("p"))
        .groupBy("scenario", "src", "cs")
        .agg(sum(expr(s"CAST(c AS $dec) * p")).as("_num"))
        .select(col("scenario"), col("src").as("state"),
          expr("CAST(_num DIV cs AS BIGINT)").as("p"))
      p = Dedup.materialize(stepped.unionByName(absorb), eager = true)
    }
    val pStart = p.filter(col("state") === START)
    val pFull = pStart.filter(col("scenario") === FULL)
      .select(col("p").as("p_full_q12"))
    pStart.filter(col("scenario") =!= FULL)
      .select(col("scenario").as(typeCol), col("p").as("p_removed_q12"))
      .crossJoin(broadcast(pFull))
      .withColumn("removal_effect_q6",
        when(col("p_full_q12") > 0,
          expr(s"CAST((CAST(1000000 AS $dec) *" +
            " (p_full_q12 - p_removed_q12)) DIV p_full_q12 AS BIGINT)")))
      .select(col(typeCol), col("p_full_q12"), col("p_removed_q12"),
        col("removal_effect_q6"))
  }

  def linearAttribution(events: DataFrame, convType: String,
      keyCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", ordCol: String = "event_id",
      valueCol: String = "value", gapUs: Long = 300000000L): DataFrame = {
    val sess = withSessionId(events, keyCol, tsCol, ordCol, gapUs)
    val ev = sess.select(col(keyCol).as("_k"), col("session_id").as("_sid"),
      col("_us"), col(ordCol).as("_ord"), col(typeCol).as("_ty"),
      col(valueCol).as("_v"))
    val conv = ev.filter(col("_ty") === convType)
      .select(col("_k"), col("_sid"), col("_us").as("_pus"),
        col("_ord").as("_pord"),
        expr("CAST(CAST(_v AS DECIMAL(18,4)) * 10000 AS BIGINT)").as("_vt"))
    val touches = conv
      .join(ev.select(col("_k"), col("_sid"), col("_us"), col("_ord"),
        col("_ty")), Seq("_k", "_sid"))
      .filter(col("_us") < col("_pus") ||
        (col("_us") === col("_pus") && col("_ord") < col("_pord")))
    val part = Window.partitionBy("_k", "_sid", "_pord")
    val credited = touches
      .withColumn("_rk", row_number().over(
        part.orderBy(col("_us"), col("_ord"))))
      .withColumn("_n", count(lit(1)).over(part))
      .select(col("_ty"),
        // floor-division split via pmod so NEGATIVE (refund) values
        // conserve exactly too: m = pmod(vt,n) ∈ [0,n), base =
        // (vt−m)/n is exact under ANY division semantics (vt−m is a
        // multiple of n), and n·base + m ≡ vt. The old `div`/% pair
        // truncated toward zero and silently under-credited refunds.
        expr("(_vt - pmod(_vt, _n)) div _n + " +
          "CASE WHEN _rk <= pmod(_vt, _n) THEN 1 ELSE 0 END")
          .as("_credit"))
    val untouched = conv.join(
        touches.select(col("_k"), col("_sid"), col("_pord")).distinct(),
        Seq("_k", "_sid", "_pord"), "anti")
      .select(lit(convType).as("_ty"), col("_vt").as("_credit"))
    credited.unionByName(untouched)
      .groupBy(col("_ty").as("event_type"))
      .agg(count(lit(1)).as("n_credits"), sum("_credit").as("credit_tenk"))
  }

  /** Top session paths: the first `maxLen` event types of each session
    * joined with '>' — the "how do users move" dashboard. Output: every
    * distinct path with its session count (callers LIMIT for top-k).
    *
    * Scale shape: sessionize (per-key window), then ONE groupBy
    * (key, session) building the ordered type list via sort_array over
    * collect_list — per-group state is one session's events, bounded by
    * the session gap in practice, truncated to `maxLen` for the path
    * anyway; then a slim groupBy on the path string.
    */
  def sessionPaths(events: DataFrame, maxLen: Int = 8,
      keyCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", ordCol: String = "event_id",
      gapUs: Long = 300000000L): DataFrame = {
    val sess = withSessionId(events, keyCol, tsCol, ordCol, gapUs)
    sess
      .groupBy(col(keyCol), col("session_id"))
      .agg(sort_array(collect_list(
        struct(col("_us"), col(ordCol), col(typeCol).as("_t")))).as("_evs"))
      .select(concat_ws(">",
        expr(s"transform(slice(_evs, 1, $maxLen), x -> x._t)")).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
  }

  /** Per-key group-size skew report — the diagnostic a 100 TB operator
    * runs BEFORE choosing a join/agg strategy on a key: number of keys,
    * exact interpolated p50/p90/p99 group sizes, the heaviest key and
    * its size (ties → smallest key). One partial-agg'd groupBy to the
    * per-key counts, then one global agg over |keys| rows — the raw
    * table is scanned once and never re-shuffled.
    */
  /** Exact weighted quantiles per group: for each (num, den, alias) the
    * smallest value whose cumulative weight w(≤ v) satisfies
    * den·cum ≥ num·W — the lower weighted quantile, thresholded in
    * INTEGER arithmetic (no p·W float edge). All requested quantiles
    * come out of ONE window pass.
    *
    * Scale shape: duplicates collapse in a partial-agg'd
    * groupBy(group, value) BEFORE any window, so the sort-window runs
    * over distinct values per group, not raw rows; both window frames
    * share one partition-by-group sort. Weights must be integral.
    */
  def weightedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String, ps: Seq[(Int, Int, String)]): DataFrame = {
    val g = df.groupBy(col(groupCol), col(valueCol))
      .agg(sum(col(weightCol).cast("long")).as("_w"))
    val wp = Window.partitionBy(groupCol)
    val wc = wp.orderBy(valueCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // "_tw", not "_W": analysis is case-insensitive by default, so a
    // "_W" withColumn would silently REPLACE "_w"
    val cum = g.withColumn("_tw", sum("_w").over(wp))
      .withColumn("_cum", sum("_w").over(wc))
    val aggs = ps.map { case (num, den, name) =>
      min(when(col("_cum") * den >= col("_tw") * num, col(valueCol))).as(name)
    }
    cum.groupBy(groupCol).agg(aggs.head, aggs.tail: _*)
  }

  /** Welch's two-sample t-test between arms 0 and 1 of an experiment —
    * the A/B-testing primitive (unequal variances; Welch–Satterthwaite
    * df). Determinism discipline: the per-arm moments (n, Σx, Σx²) are
    * EXACT DECIMAL sums (order-independent), and every downstream
    * double operation (mean, sample variance via the moment identity,
    * t, df) is the same IEEE expression in any engine — so the result
    * hash-matches an independent implementation bit-for-bit.
    *
    * Scale shape: one partial-agg'd groupBy(arm) → 2 rows → one
    * conditional-agg collapse to a single row. Nothing else moves.
    * Input: (arm ∈ {0,1}, x DECIMAL(18,4)).
    */
  def welchTTest(df: DataFrame, armCol: Column, valueCol: Column): DataFrame = {
    val perArm = df
      .select(armCol.as("_arm"), valueCol.cast("decimal(18,4)").as("_x"))
      .groupBy("_arm")
      // (18,4)² → (37,8): stays inside precision 38 on BOTH engines, so
      // the squared sum is exact — a (38,8)·(18,4) product would
      // overflow Spark's 38 and round at scale
      .agg(count(lit(1)).as("_n"), sum(col("_x")).as("_s1"),
        sum(col("_x") * col("_x")).as("_s2"))
    def arm(i: Int, c: String): Column =
      max(when(col("_arm") === i, col(c))).as(s"$c$i")
    val wide = perArm.agg(arm(0, "_n"), arm(0, "_s1"), arm(0, "_s2"),
      arm(1, "_n"), arm(1, "_s1"), arm(1, "_s2"))
    def stats(i: Int): (Column, Column, Column) = {
      val n = col(s"_n$i").cast("double")
      // decimal→STRING→double (q156 lesson): Spark's direct
      // Decimal.toDouble double-rounds; the oracle is VARCHAR-routed,
      // so the string parse makes both engines correctly rounded.
      // _s2 is DECIMAL(38,8) — wide enough to bite at larger SFs.
      val s1 = col(s"_s1$i").cast("string").cast("double")
      val s2 = col(s"_s2$i").cast("string").cast("double")
      val mean = when(n > 0, s1 / n)
      // a 0/1-row arm has no sample variance: null, not ANSI ÷0
      val variance = when(n > 1, (s2 - s1 * s1 / n) / (n - lit(1.0)))
      (n, mean, variance)
    }
    val (n0, m0, v0) = stats(0); val (n1, m1, v1) = stats(1)
    val se2 = v0 / n0 + v1 / n1
    wide.select(
      col("_n0").as("n0"), col("_n1").as("n1"),
      m0.as("mean0"), m1.as("mean1"), v0.as("var0"), v1.as("var1"),
      // identical-constant arms (se2 = 0) have no defined t — null
      when(se2 > 0, (m1 - m0) / sqrt(se2)).as("t_stat"),
      when(se2 > 0,
        se2 * se2 / ((v0 / n0) * (v0 / n0) / (n0 - lit(1.0)) +
          (v1 / n1) * (v1 / n1) / (n1 - lit(1.0)))).as("df_welch"))
  }

  /** Shannon entropy of a categorical distribution per key — behavioral
    * diversity ("does this user do one thing or many") as one number.
    *
    * Determinism discipline (round-10 hardening): H = ln n − (Σ c·ln c)/n
    * is computed ENTIRELY in integers over the shared fixed-point log
    * kernel L(k) ([[graft.functions.FixedMath.lnQ12]], replicated as a
    * DuckDB recursive CTE): E = n·L(n) − Σ c·L(c) is an exact integer
    * (DECIMAL(38,0) sums — headroom past 2⁶³ for 10⁹-event keys), and
    * the gated value entropy_q = E DIV n is fixed-point entropy at
    * 10⁻¹² — no libm ln anywhere, so the hash survives any oracle
    * build. The round-9 form quantized each −p·ln p *double* term,
    * which was order-free within an engine but still assumed both
    * engines' `ln` returned identical doubles; a different libm flips
    * the floor (the driver-gate failure this replaces).
    *
    * Scale shape: one groupBy(key, cat) + a per-key window for the
    * total + one groupBy(key); every shuffle hashes the key; L runs
    * codegen'd on the (key, cat) count table.
    */
  def categoryEntropy(df: DataFrame, keyCol: String,
      catCol: String): DataFrame = {
    import graft.plans.GraftExtensions.lnQ12Native
    val counts = df.groupBy(col(keyCol), col(catCol))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_n", sum("_c").over(Window.partitionBy(keyCol)))
    counts
      .withColumn("_t",
        (col("_c").cast("decimal(38,0)") *
          lnQ12Native(col("_c")).cast("decimal(38,0)")).cast("decimal(38,0)"))
      .groupBy(col(keyCol))
      .agg(max("_n").as("n_events"), count(lit(1)).as("n_cats"),
        sum(col("_t")).as("_sc"))
      .withColumn("_e",
        (col("n_events").cast("decimal(38,0)") *
          lnQ12Native(col("n_events")).cast("decimal(38,0)") -
          col("_sc")).cast("decimal(38,0)"))
      // E DIV n: truncating integral division ≡ floor here (E ≥ 0 by
      // concavity), identical to DuckDB's `//` on positives
      .withColumn("entropy_q", expr("_e DIV n_events"))
      .select(col(keyCol), col("n_events"), col("n_cats"), col("entropy_q"),
        // entropy_q ≤ ln(n)·10¹² < 2⁵³, so the long→double conversion is
        // exact and the single division is correctly rounded — identical
        // in any engine
        (col("entropy_q").cast("double") / lit(1e12)).as("entropy"))
  }

  /** Gini coefficient per group — revenue/usage concentration as one
    * number from the exact rank-weighted sum: with x₁ ≤ … ≤ xₙ,
    * G = (2·Σ i·xᵢ) / (n·Σxᵢ) − (n+1)/n. Both sums are exact DECIMALs
    * (rank·value products stay inside precision 38), the closed form
    * is two identical-IEEE double ops — the q181 discipline.
    *
    * Scale shape: one per-group sort window assigns ranks (ties broken
    * by the id column — any total order gives the same G because tied
    * values commute), then one partial-agg'd groupBy.
    */
  def giniIndex(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String): DataFrame = {
    val w = Window.partitionBy(groupCol)
      .orderBy(col("_x"), col(idCol))
    val ranked = df
      .select(col(groupCol), col(valueCol).cast("decimal(18,4)").as("_x"),
        col(idCol))
      .withColumn("_i", row_number().over(w).cast("decimal(12,0)"))
    val m = ranked.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("_x")).as("_sx"),
        sum(col("_x") * col("_i")).as("_six"))
    val nd = col("n").cast("double")
    // decimal sums via string → correctly rounded, = oracle's VARCHAR route
    val sx = col("_sx").cast("string").cast("double")
    val six = col("_six").cast("string").cast("double")
    m.select(col(groupCol), col("n"),
      sx.as("total"),
      // a zero-total group has no concentration to measure: null,
      // not an ANSI ÷0 that kills the whole query
      when(nd > 0 && sx =!= 0.0,
        lit(2.0) * six / (nd * sx) - (nd + lit(1.0)) / nd).as("gini"))
  }

  /** Session-level association lift between event types: for each type
    * pair, lift = P(a∧b) / (P(a)·P(b)) over sessions =
    * (n_ab · n_sessions) / (n_a · n_b) — the market-basket "do these
    * behaviors co-occur beyond chance" readout. All counts exact longs,
    * the lift one double division of exact integers.
    *
    * Scale shape: sessionization is the per-key window (q18's gap
    * rule), per-session type SETS collapse in one groupBy, and pair
    * counts explode from those sets — bounded by #types² per session,
    * never by event rows. Pairs never co-occurring are absent (lift 0).
    */
  def sessionLift(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts", gapUs: Long = 300000000L): DataFrame = {
    val sess = withSessionId(events, keyCol, tsCol, "event_id", gapUs)
    // one job builds and counts the session sets for both readers below
    val sets = Dedup.materialize(sess.groupBy(col(keyCol), col("session_id"))
      .agg(sort_array(collect_set(col("event_type"))).as("_types")), eager = true)
    val nSessions = Dedup.rowCount(sets)
    val singles = sets.select(explode(col("_types")).as("_t"))
      .groupBy("_t").agg(count(lit(1)).as("_n"))
    val pairs = sets.select(col("_types"), explode(col("_types")).as("_a"))
      .select(col("_a"), explode(col("_types")).as("_b"))
      .filter(col("_a") < col("_b"))
      .groupBy("_a", "_b").agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(singles.select(col("_t").as("_a"), col("_n").as("n_a"))), "_a")
      .join(broadcast(singles.select(col("_t").as("_b"), col("_n").as("n_b"))), "_b")
      .select(col("_a").as("type_a"), col("_b").as("type_b"),
        col("n_a"), col("n_b"), col("n_ab"),
        lit(nSessions).as("n_sessions"),
        ((col("n_ab") * lit(nSessions)).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
  }

  /** Kaplan–Meier survival curve over integer durations, optionally
    * censored: at each distinct duration t, d_t events (deaths) and
    * c_t censored exits out of n_t = Σ_{s≥t} (d_s + c_s) at risk, and
    * S(t) = Π_{s≤t, d_s>0} (1 − d_s/n_s). Censored subjects leave the
    * risk set without contributing a death term — the standard KM
    * estimator; with `eventCol = None` every subject is an event and
    * the curve reduces to the no-censoring special case.
    *
    * Determinism discipline (round-10 hardening): the log-space product
    * uses the shared integer log kernel — each term is the exact long
    * L(n−d) − L(n) with L = [[graft.functions.FixedMath.lnQ12]]
    * (fixed-point ln·10¹², no libm), so the running sum `log_surv_q`
    * is an exact integer in ANY engine/build — order-independent
    * across window implementations too. The terminal double
    * S = exp(·) of round 9 is deliberately NOT emitted: `exp` is not
    * correctly rounded, so its last bit is a property of the oracle's
    * libm, not of the data (S = exp(log_surv_q/10¹²) is one call away
    * for a reader). d = n (everyone remaining dies — necessarily the
    * final row) pins log_surv_q to NULL, the log-space S = 0.
    *
    * Scale shape: one groupBy(duration) collapses subjects before the
    * window; the window runs over DISTINCT durations (calendar-bounded,
    * partition-less by design — document the cap, not the rows).
    */
  def kaplanMeier(df: DataFrame, durationCol: String,
      eventCol: Option[String] = None): DataFrame = {
    import graft.plans.GraftExtensions.lnQ12Native
    val evt = eventCol.map(c => col(c).cast("int")).getOrElse(lit(1))
    val grouped = df
      .select(col(durationCol).as("t"), evt.as("_evt"))
      .groupBy(col("t"))
      .agg(sum(col("_evt")).cast("long").as("d"),
        sum(lit(1L) - col("_evt")).cast("long").as("c"))
    val w = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRisk = grouped
      .withColumn("_cum", (sum("d").over(w) + sum("c").over(w)))
      .withColumn("_tot", sum(col("d") + col("c")).over(
        Window.orderBy("t").rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("n_at_risk", col("_tot") - col("_cum") + col("d") + col("c"))
    withRisk
      .withColumn("_lq",
        when(col("d") === lit(0L), lit(0L))
          .when(col("d") === col("n_at_risk"), lit(null))
          .otherwise(lnQ12Native(col("n_at_risk") - col("d")) -
            lnQ12Native(col("n_at_risk"))))
      .withColumn("log_surv_q",
        when(col("d") === col("n_at_risk"), lit(null))
          .otherwise(sum(col("_lq")).over(w)))
      .select((Seq(col("t"), col("d")) ++
        (if (eventCol.isDefined) Seq(col("c")) else Nil) ++
        Seq(col("n_at_risk"), col("log_surv_q"))): _*)
  }

  /** Nelson–Aalen cumulative hazard over integer durations, censored
    * like [[kaplanMeier]]: at each distinct duration t the hazard
    * increment is d_t/n_t and H(t) = Σ_{s≤t} d_s/n_s — the standard
    * counting-process estimator (≈ −ln S_KM for small increments, but
    * additive, so it sums where KM multiplies).
    *
    * Determinism discipline: each increment is the exact 10⁻¹²
    * fixed-point floor ⌊d·10¹²/n⌋ — one integer division per distinct
    * duration, no libm anywhere — so the running sum `cum_hazard_q12`
    * is an exact integer in any engine. The multiply runs in
    * DECIMAL(38,0) (d·10¹² overflows BIGINT past d ≈ 9.2·10⁶ subjects
    * per duration; HUGEINT on the oracle side) and the quotient
    * (≤ 10¹² per term) returns to BIGINT for the window sum.
    *
    * Scale shape: identical to [[kaplanMeier]] — one groupBy(duration)
    * collapses subjects before the window; the window runs over
    * DISTINCT durations (calendar-bounded, partition-less by design).
    */
  def nelsonAalen(df: DataFrame, durationCol: String,
      eventCol: Option[String] = None): DataFrame = {
    val evt = eventCol.map(c => col(c).cast("int")).getOrElse(lit(1))
    val grouped = df
      .select(col(durationCol).as("t"), evt.as("_evt"))
      .groupBy(col("t"))
      .agg(sum(col("_evt")).cast("long").as("d"),
        sum(lit(1L) - col("_evt")).cast("long").as("c"))
    val w = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grouped
      .withColumn("_cum", (sum("d").over(w) + sum("c").over(w)))
      .withColumn("_tot", sum(col("d") + col("c")).over(
        Window.orderBy("t").rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("n_at_risk", col("_tot") - col("_cum") + col("d") + col("c"))
      .withColumn("h_q12", expr(
        "CAST((CAST(d AS DECIMAL(38,0)) * 1000000000000) DIV n_at_risk AS BIGINT)"))
      .withColumn("cum_hazard_q12", sum(col("h_q12")).over(w))
      .select((Seq(col("t"), col("d")) ++
        (if (eventCol.isDefined) Seq(col("c")) else Nil) ++
        Seq(col("n_at_risk"), col("h_q12"), col("cum_hazard_q12"))): _*)
  }

  /** Wilson-score lower bound per group: rank segments by the
    * conservative end of the binomial confidence interval instead of
    * the raw rate — the standard fix for "5/5 beats 900/1000".
    *
    *   lb = (p̂ + z²/2n − z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)
    *
    * Determinism discipline (round-10 hardening): z is the RATIONAL
    * 49/25 and the bound is computed as a 10⁻⁹ fixed-point long by
    * pure integer arithmetic + floor-isqrt
    * ([[graft.functions.FixedMath.wilsonLbQ9]], replicated as a DuckDB
    * Newton CTE). The round-9 closed-form double was built from the
    * literal `1.96`, which DuckDB's newer releases parse as
    * DECIMAL(3,2) — so `1.96*1.96` constant-folds to the decimal
    * 3.8416 whose double differs from `1.96d*1.96d` by one ulp, and
    * the hash flips on exactly the builds the builder can't test
    * against. Integer in, integer out ends that class of failure; the
    * derived `wilson_lb` double is lb_q9→double (exact, < 2⁵³) over
    * the exact literal 1e9 — one correctly-rounded division.
    */
  def wilsonLowerBound(df: DataFrame, groupCol: String,
      isConv: Column): DataFrame = {
    import graft.plans.GraftExtensions.wilsonLbQ9Native
    val m = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("trials"),
        sum(when(isConv, 1L).otherwise(0L)).as("conversions"))
    val p = col("conversions").cast("double") / col("trials").cast("double")
    m.select(col(groupCol), col("trials"), col("conversions"),
      p.as("rate"),
      wilsonLbQ9Native(col("trials"), col("conversions")).as("wilson_lb_q9"))
      .withColumn("wilson_lb", col("wilson_lb_q9").cast("double") / lit(1e9))
  }

  /** Grouped least-squares trend: per group, the OLS slope/intercept of
    * y over x — "is this segment growing and how fast" as one
    * aggregation. The q181 determinism discipline: moments (n, Σx, Σx²
    * as longs; Σy, Σxy as DECIMALs within precision 38) are EXACT, and
    * the closed-form slope/intercept are the same IEEE double
    * expressions in any engine. Input: one row per (group, x); callers
    * pre-aggregate duplicates (x long, y DECIMAL(18,4)).
    *
    * Scale shape: one partial-agg'd groupBy(group) — five moments, no
    * window, no second pass.
    */
  def groupedTrend(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol); val y = col(yCol).cast("decimal(18,4)")
    val m = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(x).as("_sx"),
        sum(x * x).as("_sx2"), sum(y).as("_sy"),
        sum(y * x.cast("decimal(10,0)")).as("_sxy"))
    val nd = col("n").cast("double")
    // long sums cast directly (single rounding, exact); DECIMAL sums
    // via string — the oracle VARCHAR-routes exactly these two
    val sxd = col("_sx").cast("double"); val sx2d = col("_sx2").cast("double")
    val syd = col("_sy").cast("string").cast("double")
    val sxyd = col("_sxy").cast("string").cast("double")
    val den = nd * sx2d - sxd * sxd
    // one observation (or all-equal x) has no slope: nulls, not ÷0
    val slope = when(den =!= 0.0, (nd * sxyd - sxd * syd) / den)
    m.select(col(groupCol), col("n"), slope.as("slope"),
      ((syd - slope * sxd) / nd).as("intercept"))
  }

  /** Sequence pattern with NEGATION: events of type `conv` whose most
    * recent preceding `trigger` is not separated from it by any
    * `blocker` — the "viewed then purchased WITHOUT clicking a
    * competitor ad in between" MATCH_RECOGNIZE shape. "Preceding" is
    * the per-entity (ts, event_id) order; the pattern holds iff a
    * trigger exists before the conversion and the last blocker before
    * it (if any) is older than that trigger.
    *
    * Scale shape: two running-max window columns over ONE per-entity
    * sort — no self-join, no per-pattern state; the negation is a
    * comparison of the two running maxima.
    */
  def patternWithNegation(events: DataFrame, trigger: String,
      blocker: String, conv: String, keyCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val us = unix_micros(col(tsCol))
    val w = Window.partitionBy(keyCol).orderBy(col("_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col(keyCol), col("event_id"), col("event_type"), us.as("_us"))
      .withColumn("last_trigger",
        max(when(col("event_type") === trigger, col("_us"))).over(w))
      .withColumn("last_blocker",
        max(when(col("event_type") === blocker, col("_us"))).over(w))
      .filter(col("event_type") === conv && col("last_trigger").isNotNull &&
        (col("last_blocker").isNull ||
          col("last_blocker") < col("last_trigger")))
      .select(col(keyCol), col("event_id"), col("_us").as("conv_us"),
        col("last_trigger").as("trigger_us"))
  }

  /** 2D skyline (Pareto frontier): rows not dominated on (minimize
    * `minCol`, maximize `maxCol`). A dominates B iff A.min ≤ B.min ∧
    * A.max ≥ B.max with at least one strict — identical points do NOT
    * dominate each other, so exact duplicates all survive.
    *
    * Three-stage shape, no quadratic pass anywhere: (1) within each
    * `minCol` group only the max-`maxCol` rows can survive (one
    * partitioned window); (2) the strict-dominance scan runs over the
    * DISTINCT (min, max) group table — bounded by the distinct-x
    * cardinality, not the row count — as a running prefix max ordered
    * by x; (3) survivors (a skyline — tiny by construction) broadcast-
    * join back to re-attach full rows. Skylines are closed under
    * "frontier of per-subset frontiers", so at extreme x-cardinality
    * stage 2 can itself be pre-pruned per partition with the same rule.
    */
  def skyline2d(df: DataFrame, minCol: String, maxCol: String): DataFrame = {
    val x = col(minCol); val y = col(maxCol)
    val best = df
      .withColumn("_gmax", max(y).over(Window.partitionBy(x)))
      .filter(y === col("_gmax")).drop("_gmax")
    val groups = best.select(x.as("_x"), y.as("_y")).distinct()
    val keep = groups
      .withColumn("_m1", max(col("_y")).over(
        Window.orderBy("_x").rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("_m1").isNull || col("_m1") < col("_y"))
      .select(col("_x"), col("_y"))
    best.join(broadcast(keep), x === col("_x") && y === col("_y"))
      .drop("_x", "_y")
  }

  def groupSizeSkew(df: DataFrame, keyCol: String): DataFrame = {
    df.groupBy(col(keyCol).as("_k")).agg(count(lit(1)).as("_n"))
      .agg(
        count(lit(1)).as("n_keys"),
        max(col("_n")).as("max_size"),
        round(expr("percentile(_n, 0.5)"), 4).as("p50_size"),
        round(expr("percentile(_n, 0.9)"), 4).as("p90_size"),
        round(expr("percentile(_n, 0.99)"), 4).as("p99_size"),
        max(struct(col("_n"), (-col("_k")).as("_nk"))).as("_top"))
      .select(col("n_keys"), col("max_size"), col("p50_size"),
        col("p90_size"), col("p99_size"),
        (-col("_top._nk")).as("top_key"), col("_top._n").as("top_size"))
  }

  /** Smoothed target encoding (the ML-preprocessing shape): each
    * category's mean target, shrunk toward the global mean with
    * additive smoothing — `enc_c = (S_c + m·S/N) / (n_c + m)` — so
    * rare categories don't memorize noise. Exact integer form:
    * `enc_q6 = ⌊10⁶·(S_c·N + m·S) / (10⁴·N·(n_c + m))⌋` with tenk-unit
    * sums carried in DECIMAL(38,0) (true magnitudes ≲ 10²⁹ stay well
    * inside precision, so Spark's decimal arithmetic is exact) and
    * floor division via the (x − x%k)/k identity.
    *
    * Scale shape: one per-category aggregate + one 2-number global
    * readback (driver scalars, the centroid convention); the encode
    * itself is arithmetic on the |categories|-row table. The encoded
    * map is what broadcast-joins back onto training rows.
    */
  def targetEncode(df: DataFrame, catCol: String, valCol: String,
      m: Int = 10): DataFrame = {
    val base = df.filter(col(valCol).isNotNull)
      .select(col(catCol).as("_c"),
        (col(valCol).cast("decimal(18,4)") * 10000).cast("long").as("_v"))
    val per = Dedup.materialize(base.groupBy("_c")
      .agg(count(lit(1)).as("n"),
        sum(col("_v").cast("decimal(38,0)")).as("_s")))
    // empty input → null aggregates; coalesce so the readback stays
    // NPE-free and the (empty) per-table flows through to 0 rows out
    val g = per.agg(coalesce(sum("n"), lit(0L)),
      coalesce(sum("_s"), lit(0).cast("decimal(38,0)"))).head()
    val nTot = g.getLong(0)
    val sTot = g.getDecimal(1).toBigInteger.toString
    per
      .withColumn("_num", expr(
        s"CAST(1000000 AS DECIMAL(38,0)) * (_s * $nTot + CAST($m AS DECIMAL(38,0)) * CAST('$sTot' AS DECIMAL(38,0)))"))
      .withColumn("_den", expr(
        s"CAST(10000 AS DECIMAL(38,0)) * $nTot * (n + $m)"))
      .select(col("_c").as(catCol), col("n"),
        expr("CAST((_num - (_num % _den)) / _den AS BIGINT)").as("enc_q6"))
  }

  /** Equi-frequency (quantile) binning: discretize a numeric column
    * into `bins` buckets of (as close as arithmetic allows) equal row
    * count — `bin = ⌊(rank−1)·B / n⌋` over the value ordering — and
    * report each bin's exact [min, max] edges and population. The ML
    * discretization / histogram-equalization step, and the edge table
    * a scorer broadcast-joins to bin unseen data.
    *
    * Deterministic: rank ties share a value, and a bin's min/max/count
    * read the sorted multiset, so tie order between equal values can
    * shift which ROWS land in a bin but never the reported edges or
    * counts... except when a value run straddles a bin boundary — so
    * counts ARE rank-determined (exactly ⌈k·n/B⌉−⌈(k−1)·n/B⌉ rows per
    * bin) and only the edge VALUES are data-determined; both are
    * engine-identical under the shared ROW_NUMBER ordering (ties by
    * nothing — but equal values are interchangeable for min/max, and
    * counts depend on ranks alone).
    *
    * Scale shape: one sort window in tenk units (the q44 grouped
    * convention, single global ordering here — swap in the two-phase
    * Ranking.rangeCuts bucketing at petabyte n); output is B rows.
    */
  def equiFrequencyBins(df: DataFrame, valCol: String,
      bins: Int = 10): DataFrame = {
    val base = df.filter(col(valCol).isNotNull)
      .select((col(valCol).cast("decimal(18,4)") * 10000)
        .cast("long").as("_x"))
    val w = Window.orderBy("_x")
    base
      .withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("_n", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("bin", expr(s"((_rn - 1) * $bins) DIV _n"))
      .groupBy("bin")
      .agg(min("_x").as("lo_tenk"), max("_x").as("hi_tenk"),
        count(lit(1)).as("n"))
  }

  /** Grouped ROBUST statistics, exact to the 10⁻⁴ value unit: per
    * group the lower median, the median absolute deviation around it,
    * and the 10 %-winsorized integer mean — the outlier-resistant
    * triple behind data-quality dashboards where mean/stddev are
    * hostage to a single fat-fingered row.
    *
    * Integer definitions (deterministic, no interpolation):
    *   median = the ⌈n/2⌉-th smallest (lower median);
    *   MAD    = lower median of |x − median|;
    *   winsorized mean = ⌊Σ clamp(x, v_lo, v_hi) / n⌋ where v_lo/v_hi
    *     are the (⌊n/10⌋+1)-th and (n−⌊n/10⌋)-th order statistics —
    *     exactly ⌊n/10⌋ values clamped on each side.
    * Order statistics read a VALUE at a rank, so duplicate-value tie
    * order cannot affect the result.
    *
    * Scale shape: two per-GROUP sort windows (the q44 grouped-
    * percentile convention — groups are the parallel unit; a skewed
    * group bounds the sort, not the corpus) plus broadcast joins of
    * the per-group order-statistic rows; no global window, nothing on
    * the driver.
    */
  def robustStats(df: DataFrame, grpCol: String, valCol: String): DataFrame = {
    val base = Dedup.materialize(df
      .filter(col(valCol).isNotNull)
      .select(col(grpCol).as("_g"),
        (col(valCol).cast("decimal(18,4)") * 10000).cast("long").as("_x")))
    val w = Window.partitionBy("_g").orderBy("_x")
    val ranked = Dedup.materialize(base
      .withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy("_g"))))
    // ONE pass over `ranked` picks all three order statistics (median,
    // winsor lo, winsor hi) — the previous three filter+join subtrees
    // each re-scanned the checkpointed table and shuffled separately
    // (r18: ~40% of the q237 cost was this readout fan-out, not the
    // sort). max(when) per rank is exact: a row can carry two target
    // ranks only when they coincide, and then the values coincide too.
    val stats = Dedup.materialize(ranked
      .filter(col("_rn") === expr("(_n + 1) DIV 2") ||
        col("_rn") === expr("_n DIV 10 + 1") ||
        col("_rn") === expr("_n - _n DIV 10"))
      .groupBy("_g")
      .agg(max(when(col("_rn") === expr("(_n + 1) DIV 2"), col("_x")))
          .as("_med"),
        max(when(col("_rn") === expr("_n DIV 10 + 1"), col("_x")))
          .as("_lo"),
        max(when(col("_rn") === expr("_n - _n DIV 10"), col("_x")))
          .as("_hi"),
        max("_n").as("n")))
    val mad = base.join(broadcast(stats.select(col("_g"), col("_med"))), Seq("_g"))
      .select(col("_g"), abs(col("_x") - col("_med")).as("_d"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_g").orderBy("_d")).cast("long"))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy("_g")))
      .filter(col("_rn") === expr("(_n + 1) DIV 2"))
      .select(col("_g"), col("_d").as("mad_tenk"))
    val wm = ranked
      .join(broadcast(stats.select(col("_g"), col("_lo"), col("_hi"))),
        Seq("_g"))
      .groupBy("_g")
      .agg(sum(greatest(least(col("_x"), col("_hi")), col("_lo"))).as("_s"),
        max(col("_n")).as("_wn"))
      .select(col("_g"), expr("_s DIV _wn").as("winsor_mean_tenk"))
    stats.select(col("_g"), col("_med"), col("n"))
      .join(mad, Seq("_g")).join(wm, Seq("_g"))
      .select(col("_g").as(grpCol), col("n"),
        col("_med").as("median_tenk"), col("mad_tenk"),
        col("winsor_mean_tenk"))
  }

  /** Exact ROC AUC via the tie-aware rank-sum identity: with
    * per-distinct-score tallies (pₛ positives, qₛ negatives),
    * AUC = [Σₛ pₛ·(2·N₍₋₎(s) + qₛ)] / (2·P·N), where N₍₋₎(s) counts
    * negatives scoring strictly below s — ties contribute ½. Every
    * term is an exact integer over tenk score units; the readout is
    * one DECIMAL(38,0) floor division to Q9 (the q244 discipline), so
    * the DuckDB oracle replays the statistic bit-for-bit. The model-
    * evaluation primitive: "does this score rank positives above
    * negatives", label-imbalance-proof.
    *
    * Scale shape: rows collapse to per-distinct-score cells in one
    * partial-agg'd groupBy — never a row-level sort. The strict-below
    * negative cumsum runs two-phase over the CELLS table: range-bucket
    * on score ([[Ranking.rangeCuts]]), local window per bucket,
    * per-bucket totals (≤ numBuckets rows BY CONSTRUCTION) prefix-
    * summed on the driver and broadcast back — the q61 global-rank
    * shape, no partition-less window anywhere. Tie groups cannot
    * straddle buckets because a distinct score is ONE cell row.
    */
  def aucExact(df: DataFrame, scoreCol: String, isPos: Column,
      numBuckets: Int = 32): DataFrame = {
    val base = df.filter(col(scoreCol).isNotNull)
      .select((col(scoreCol).cast("decimal(18,4)") * 10000)
        .cast("long").as("_s"), isPos.cast("boolean").as("_y"))
    val cells = Dedup.materialize(base.groupBy("_s")
      .agg(sum(when(col("_y"), 1L).otherwise(0L)).as("_p"),
        sum(when(!col("_y"), 1L).otherwise(0L)).as("_q")))
    val cuts = Ranking.rangeCuts(cells, "_s", numBuckets)
    val b = cells.withColumn("_b", Ranking.bucketCol("_s", cuts))
    val perB = b.groupBy("_b").agg(sum("_q").as("_c")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offRows = perB.scanLeft((0, 0L, 0L)) { case ((_, off, c0), (bid, c)) =>
      (bid, off + c0, c)
    }.drop(1).map { case (bid, off, _) => (bid, off) }
    val spark = df.sparkSession
    import spark.implicits._
    val offsets = offRows.toSeq.toDF("_b", "_off")
    val w = Window.partitionBy("_b").orderBy("_s")
      .rowsBetween(Window.unboundedPreceding, -1)
    b.join(offsets, Seq("_b"))
      .withColumn("_nb", col("_off") + coalesce(sum("_q").over(w), lit(0L)))
      .agg(sum("_p").as("n_pos"), sum("_q").as("n_neg"),
        sum((col("_p").cast("decimal(38,0)") *
          (col("_nb") * 2 + col("_q")).cast("decimal(38,0)"))
          .cast("decimal(38,0)")).as("_u2"))
      .withColumn("_den",
        (col("n_pos").cast("decimal(19,0)") *
          col("n_neg").cast("decimal(19,0)")).cast("decimal(38,0)") * 2)
      // branch guards the ÷0 (degenerate single-class input → null AUC)
      .withColumn("auc_q9",
        when(col("_den") =!= 0, expr("(_u2 * 1000000000) DIV _den")))
      .select(col("n_pos"), col("n_neg"), col("auc_q9"))
  }

  /** Decile lift & gains table — the "top-k% capture" readout behind
    * targeting decisions: rows ranked by score DESCENDING (ties broken
    * by `keyCol`, a unique id, so the ordering is total and engine-
    * exact), split into `buckets` rank-determined deciles, and per
    * decile: population, positives, observed positive rate (Q9),
    * mean score (tenk floor), cumulative capture of all positives
    * (Q9) and cumulative lift vs the base rate (Q9) — each an exact
    * integer floor division. Doubles never enter.
    *
    * Scale shape: the global descending rank is
    * [[Ranking.withGlobalRowNumber]] (two-phase bucketed — no global
    * window over the data); everything after is a `buckets`-row table,
    * where a partition-less running window is driver-scale by
    * construction.
    */
  def decileLift(df: DataFrame, scoreCol: String, keyCol: String,
      isPos: Column, buckets: Int = 10): DataFrame = {
    val base = df.filter(col(scoreCol).isNotNull)
      .select((-(col(scoreCol).cast("decimal(18,4)") * 10000)
        .cast("long")).as("_ns"), col(keyCol).as("_k"),
        isPos.cast("boolean").as("_y"))
    val ranked = Ranking.withGlobalRowNumber(base, Seq("_ns", "_k"))
    val per = ranked
      .withColumn("decile", expr(s"((grank - 1) * $buckets) DIV gn"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        sum(when(col("_y"), 1L).otherwise(0L)).as("n_pos"),
        sum((-col("_ns")).cast("decimal(38,0)")).as("_ss"))
    val wc = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wt = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    per
      .withColumn("cum_n", sum("n").over(wc))
      .withColumn("cum_pos", sum("n_pos").over(wc))
      .withColumn("_tn", sum("n").over(wt))
      .withColumn("_tp", sum("n_pos").over(wt))
      .withColumn("mean_score_tenk", expr("_ss DIV n"))
      .withColumn("rate_q9",
        expr("(CAST(n_pos AS DECIMAL(38,0)) * 1000000000) DIV n"))
      .withColumn("capture_q9", when(col("_tp") =!= 0,
        expr("(CAST(cum_pos AS DECIMAL(38,0)) * 1000000000) DIV _tp")))
      .withColumn("lift_q9", when(col("_tp") =!= 0,
        expr("(CAST(cum_pos AS DECIMAL(38,0)) * _tn * 1000000000) " +
          "DIV (CAST(_tp AS DECIMAL(38,0)) * cum_n)")))
      .select(col("decile"), col("n"), col("n_pos"), col("cum_n"),
        col("cum_pos"), col("mean_score_tenk"), col("rate_q9"),
        col("capture_q9"), col("lift_q9"))
  }

  /** 1-D earth mover's distance (Wasserstein-1) between the reference
    * (isCurrent false) and current (true) distributions of an ORDERED
    * integer bin column — the drift metric that, unlike [[psiDrift]],
    * respects bin adjacency: mass moving one bin costs 1, mass moving
    * across the histogram costs its distance. With unit bin spacing,
    * EMD = Σ_bins |CDF_ref − CDF_cur|, computed cross-multiplied so
    * every term is the exact integer |cumR·nC − cumC·nR|; the readout
    * floor-divides once to Q9 units of one bin width.
    *
    * Scale shape: one partial-agg'd groupBy(bin) collapses the input
    * to ≤ #bins cells; the cumulative window and the 1-row total
    * broadcast run on that cells table — driver-scale by construction
    * (the [[psiFromCells]] contract).
    */
  def emdDrift(df: DataFrame, binCol: String,
      isCurrent: Column): DataFrame =
    emdFromCells(chisqCells(df, binCol, isCurrent))

  /** EMD readout from a cells table (`_cat` ordered integer bin, `_c1`
    * reference, `_c2` current — the [[chisqCells]] shape, so the
    * batch and streaming paths share one cell builder and one oracle,
    * the [[psiFromCells]] contract). See [[emdDrift]].
    */
  def emdFromCells(cells0: DataFrame): DataFrame = {
    val cells = cells0.select(col("_cat").cast("long").as("_h"),
      col("_c1").as("_r"), col("_c2").as("_c"))
    val tot = cells.agg(sum("_r").as("_nr"), sum("_c").as("_nc"),
      count(lit(1)).as("_k"))
    val wc = Window.orderBy("_h").rowsBetween(Window.unboundedPreceding, 0)
    cells
      .withColumn("_cr", sum("_r").over(wc))
      .withColumn("_cc", sum("_c").over(wc))
      .crossJoin(tot)
      .select(col("_nr"), col("_nc"), col("_k"),
        abs(col("_cr").cast("decimal(38,0)") * col("_nc") -
          col("_cc").cast("decimal(38,0)") * col("_nr"))
          .cast("decimal(38,0)").as("_t"))
      .groupBy("_nr", "_nc", "_k")
      .agg(sum("_t").as("_s"))
      .withColumn("emd_q9", when(col("_nr") * col("_nc") =!= 0, expr(
        "(_s * 1000000000) DIV (CAST(_nr AS DECIMAL(19,0)) * _nc)")))
      .select(col("_nr").as("n_ref"), col("_nc").as("n_cur"),
        col("_k").as("n_bins"), col("emd_q9"))
  }

  /** First-order transition matrix over an event stream: per entity,
    * consecutive event-type pairs under the (ts, ordCol) total order;
    * per source type, the top-`k` next types by count (ties by type
    * name) with their exact Q9 transition probability — the
    * "what happens after X" readout and the transition table a Markov
    * simulator broadcast-joins.
    *
    * Scale shape: one per-key window pass emits slim (src, dst) pairs;
    * counts collapse in a partial-agg'd groupBy bounded by #types² —
    * the per-src total and rank windows run on that tiny cells table.
    */
  def transitionTopK(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts", typeCol: String = "event_type",
      ordCol: String = "event_id", k: Int = 3): DataFrame =
    transitionFromCells(
      transitionPairCells(events, keyCol, tsCol, typeCol, ordCol), k)

  /** The (src, dst, n) LEAD-pair cells behind [[transitionTopK]] —
    * exposed separately so [[transitionStationary]] (and any other
    * matrix readout) shares one pair builder with the top-k table and
    * the streaming twin's consumer.
    */
  def transitionPairCells(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts", typeCol: String = "event_type",
      ordCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col("_us"), col(ordCol))
    events
      .withColumn("_us", unix_micros(col(tsCol)))
      .withColumn("_nxt", lead(col(typeCol), 1).over(w))
      .filter(col("_nxt").isNotNull)
      .groupBy(col(typeCol).as("src"), col("_nxt").as("dst"))
      .agg(count(lit(1)).as("n"))
  }

  /** Stationary distribution of the [[transitionPairCells]] Markov
    * chain — `rounds` synchronous power-iteration steps from the
    * uniform start, all in exact integers: row-stochastic P in Q9
    * (n·10⁹ DIV row total), mass π in Q12, each step
    * π′(d) = Σ_s ⌊π(s)·P(s,d)/10⁹⌋ — term-wise floors, so any engine
    * walks identical integers and the oracle unrolls the rounds as
    * CTEs (the PageRank discipline applied to the behavioral chain).
    * The "long-run where do users sit" readout the top-k table can't
    * give. States with no outgoing pairs absorb nothing and leak their
    * mass (no self-loop is invented) — total Σπ is reported implicitly
    * by the rows, so the leak is visible, not hidden.
    *
    * Scale shape: cells are ≤|types|² rows; every join/agg here runs
    * on that collapsed table (the per-src total window is partitioned
    * by src). The one corpus pass is the LEAD pair build.
    */
  def transitionStationary(events: DataFrame, rounds: Int = 8,
      keyCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", ordCol: String = "event_id")
      : DataFrame =
    stationaryFromCells(
      transitionPairCells(events, keyCol, tsCol, typeCol, ordCol), rounds)

  /** Power-iteration readout over (src, dst, n) cells — see
    * [[transitionStationary]].
    *
    * The state set is bounded by contract (event types, page kinds —
    * never the corpus), so the power iteration is arithmetic over
    * ≤|states|² cells; running `rounds` of it as Spark jobs pays
    * ~`rounds` × (join + shuffle + checkpoint) of pure scheduling for
    * microseconds of math (measured r18: 1.6 s of the q292 bench cost
    * was the 8-round loop over a 25-cell table). So while the states
    * and then the cells fit [[Gates]], the cells collect once and the
    * rounds run on the driver with the IDENTICAL floor-division
    * arithmetic (BigInt for the widened products — the DECIMAL(38,0)
    * twin); otherwise the distributed loop runs. The cell check guards
    * the collect: a dense chain can fit in states but not in cells, and
    * the cell stage is eager (its one job counts it) only past the first.
    */
  def stationaryFromCells(cells: DataFrame, rounds: Int = 8): DataFrame = {
    require(rounds >= 1, "stationaryFromCells needs rounds >= 1")
    val states = Dedup.materialize(
      cells.select(col("src").as("s"))
        .union(cells.select(col("dst"))).distinct(), eager = true)
    val ns = Dedup.rowCount(states)
    require(ns > 0, "stationaryFromCells needs a non-empty chain")
    val statesFit = Gates.fits(states, ns)
    val wtot = Window.partitionBy("src")
    val p = Dedup.materialize(cells
      .withColumn("_tot", sum("n").over(wtot))
      .withColumn("pq", expr(
        "CAST((CAST(n AS DECIMAL(38,0)) * 1000000000)" +
          " DIV nullif(_tot, 0) AS BIGINT)"))
      .select("src", "dst", "pq"), eager = statesFit)
    if (statesFit && Gates.fits(p, Dedup.rowCount(p))) {
      // bounded-cells driver fixed point (see the scaladoc):
      // per round π′(d) = Σ_s ⌊π(s)·pq/10⁹⌋ — the exact arithmetic of
      // the distributed branch, BigInt where the SQL widens to
      // DECIMAL(38,0); states with no in-mass stay at the 0 the
      // left-join coalesce would give them.
      val stateRows = states.collect().map(_.get(0))
      val idx = stateRows.zipWithIndex.toMap
      // NULL pq (a src whose cells are all n=0 makes _tot=0 and DIV
      // yields NULL) contributes nothing in the distributed branch's
      // SUM; drop those rows here instead of NPE-ing on getLong.
      val pArr = p.filter(col("pq").isNotNull).collect().map(r =>
        (idx(r.get(0)), idx(r.get(1)), r.getLong(2)))
      var pi = Array.fill(stateRows.length)(1000000000000L / ns)
      for (_ <- 1 to rounds) {
        val next = Array.fill(stateRows.length)(0L)
        pArr.foreach { case (s, d, pq) =>
          next(d) += (BigInt(pi(s)) * pq / 1000000000L).toLong
        }
        pi = next
      }
      driverTable(states, "state", stateRows, "pi_q12", pi)
    } else {
      var pi = states.withColumn("pi", lit(1000000000000L / ns))
      for (_ <- 1 to rounds) {
        val m = p
          .join(pi.withColumnRenamed("s", "src"), Seq("src"))
          .select(col("dst").as("s"), expr(
            "CAST((CAST(pi AS DECIMAL(38,0)) * pq) DIV 1000000000" +
              " AS BIGINT)").as("_c"))
          .groupBy("s").agg(sum("_c").as("_pi"))
        pi = Dedup.materialize(states.join(m, Seq("s"), "left")
          .select(col("s"), coalesce(col("_pi"), lit(0L)).as("pi")))
      }
      pi.select(col("s").as("state"), col("pi").as("pi_q12"))
    }
  }

  /** A driver fixed point's result as a one-partition table: `key`
    * (typed as `like`'s first column) → `value` (Q-scaled, non-null).
    */
  private def driverTable(like: DataFrame, key: String, keys: Array[Any],
      value: String, values: Array[Long]): DataFrame = {
    import org.apache.spark.sql.types._
    val (k, spark) = (like.schema.head, like.sparkSession)
    spark.createDataFrame(spark.sparkContext.parallelize(
      keys.zip(values).map { case (a, b) => org.apache.spark.sql.Row(a, b) }.toIndexedSeq, 1),
      StructType(Seq(StructField(key, k.dataType, k.nullable),
        StructField(value, LongType, nullable = false))))
  }

  /** Bradley–Terry ratings from a pairwise-win table — THE
    * preference-model primitive (reward-model eval, arena
    * leaderboards, judge-panel aggregation all reduce to it): given
    * (winner, loser, n) counts, the minorization-maximization fixed
    * point of s_i = W_i / Σ_j n_ij/(s_i+s_j), run for a fixed
    * `rounds` from the uniform start in exact Q6 integers — every
    * floor division term-wise, renormalized each round to mean 10⁶
    * (the MM update is scale-free; without the renorm a dominant
    * winner's rating compounds past any fixed-point range), ratings
    * floored at 1 so an all-losses item stays a valid denominator.
    * The oracle unrolls the rounds as CTEs (the q292 discipline).
    * Output one row per item: (item, bt_q6).
    *
    * Scale shape: the win table collapses to ≤|items|² symmetric game
    * cells in one partial-agg'd pass; every round exchanges only
    * item-sized rating tables against the cells (broadcast-joinable
    * at bounded |items|); nothing downstream of the cell build
    * touches the corpus.
    */
  /** Symmetric game cells (i, j, g) from a directed win table — ONE
    * build site for [[bradleyTerryFromWins]] and
    * [[bradleyTerryConfidence]] (the rating and its uncertainty must
    * count the same games).
    */
  private def btGames(wins: DataFrame, eager: Boolean): DataFrame =
    Dedup.materialize(wins
      .select(col("winner").as("i"), col("loser").as("j"), col("n"))
      .union(wins.select(col("loser").as("i"), col("winner").as("j"),
        col("n")))
      .groupBy("i", "j").agg(sum("n").as("g")), eager)

  def bradleyTerryFromWins(wins: DataFrame, rounds: Int = 8)
      : DataFrame =
    btFit(wins, rounds)._2

  /** (games, ratings): the [[btGames]] cells of the win table,
    * materialized once, and the MM fixed-point loop over them, so that
    * [[bradleyTerryConfidence]] runs its Fisher-information pass over
    * the SAME games table (one build site: the cells were built twice).
    *
    * The [[stationaryFromCells]] gate applied to the arena: items are
    * bounded by contract (models, suppliers, judged candidates) and
    * game cells are ≤|items|², while the 6-round distributed loop paid
    * ~6 × (2 broadcasts + shuffle + checkpoint) of scheduling for
    * microseconds of math (measured r18: 3.0 s of q310's bench cost).
    * While the items and then the game cells fit [[Gates]], the cells
    * collect once and the rounds run on the driver with the identical
    * floor arithmetic (BigInt = the DECIMAL(38,0) twin); otherwise the
    * distributed loop runs. The items come off the win table, so the
    * games stage is eager (its one job counts it) only if they fit.
    */
  private def btFit(winTable: DataFrame, rounds: Int)
      : (DataFrame, DataFrame) = {
    require(rounds >= 1, "bradleyTerryFromWins needs rounds >= 1")
    // read by the items, the games and the win totals
    val wins = Dedup.materialize(winTable)
    val items = Dedup.materialize(wins.select(col("winner").as("i"))
      .union(wins.select(col("loser"))).distinct(), eager = true)
    val nItems = Dedup.rowCount(items)
    require(nItems > 0, "bradleyTerryFromWins needs at least one game")
    val itemsFit = Gates.fits(items, nItems)
    val games = btGames(wins, eager = itemsFit)
    val w = items.join(
        wins.groupBy(col("winner").as("i")).agg(sum("n").as("_w")),
        Seq("i"), "left")
      .na.fill(0L, Seq("_w"))
    if (itemsFit && Gates.fits(games, Dedup.rowCount(games))) {
      // bounded-cells driver fixed point (see the scaladoc).
      // Same update as the distributed branch below, term for term:
      //   x_ij = ⌊g·10¹² / (s_i + s_j)⌋           (summed per i)
      //   sr_i = xs_i > 0 ? max(1, ⌊w_i·10¹² / xs_i⌋) : 1
      //   s_i  = max(1, ⌊sr_i·n·10⁶ / Σ sr⌋)      (mean-10⁶ renorm)
      // xs accumulates in Long exactly as the SQL sum over BIGINT _x.
      val wRows = w.select("i", "_w").collect()
      val itemVals = wRows.map(_.get(0))
      val idx = itemVals.zipWithIndex.toMap
      val wArr = wRows.map(_.getLong(1))
      val gArr = games.select("i", "j", "g").collect().map(r =>
        (idx(r.get(0)), idx(r.get(1)), r.getLong(2)))
      val n = itemVals.length
      var s = Array.fill(n)(1000000L)
      val q12 = BigInt(1000000000000L)
      for (_ <- 1 to rounds) {
        val xs = Array.fill(n)(0L)
        gArr.foreach { case (i, j, g) =>
          xs(i) += (BigInt(g) * q12 / (s(i) + s(j))).toLong
        }
        val sr = Array.tabulate(n) { i =>
          if (xs(i) > 0) math.max(1L, (BigInt(wArr(i)) * q12 / xs(i)).toLong)
          else 1L
        }
        val tot = sr.foldLeft(BigInt(0))(_ + _)
        s = Array.tabulate(n) { i =>
          math.max(1L, (BigInt(sr(i)) * nItems * 1000000L / tot).toLong)
        }
      }
      return (games, driverTable(w, "item", itemVals, "bt_q6", s))
    }
    var s = items.withColumn("s", lit(1000000L))
    for (_ <- 1 to rounds) {
      val x = games
        .join(broadcast(s), Seq("i"))
        .join(broadcast(s.select(col("i").as("j"),
          col("s").as("_sj"))), Seq("j"))
        .select(col("i"), expr(
          "CAST((CAST(g AS DECIMAL(38,0)) * 1000000000000)" +
            " DIV (s + _sj) AS BIGINT)").as("_x"))
        .groupBy("i").agg(sum("_x").as("_xs"))
      val raw = w.join(x, Seq("i"), "left")
        .withColumn("_sr", when(col("_xs").isNotNull && col("_xs") > 0,
          greatest(lit(1L), expr(
            "CAST((CAST(_w AS DECIMAL(38,0)) * 1000000000000)" +
              " DIV _xs AS BIGINT)"))).otherwise(lit(1L)))
      val tot = raw.agg(sum(col("_sr").cast("decimal(38,0)"))
        .as("_t"))
      s = Dedup.materialize(raw.crossJoin(tot)
        .select(col("i"), greatest(lit(1L), expr(
          s"CAST((CAST(_sr AS DECIMAL(38,0)) * $nItems * 1000000)" +
            " DIV _t AS BIGINT)")).as("s")))
    }
    (games, s.select(col("i").as("item"), col("s").as("bt_q6")))
  }

  /** Rating uncertainty for [[bradleyTerryFromWins]] — the ±CI a
    * leaderboard publishes next to the score: the asymptotic Fisher
    * information of each item's LOG-rating at the fitted ratings,
    * I_i = Σ_j g_ij · p_ij(1−p_ij) with p_ij = s_i/(s_i+s_j), i.e.
    * Σ_j g_ij·s_i·s_j/(s_i+s_j)² — computed in exact Q12 integers
    * (per-cell positive floor division, engine-replayable), and the
    * standard error se(log s_i) = 1/√I_i read out in Q6 via the
    * native floor-isqrt: se_q6 = 10¹² DIV isqrt(info_q12). A 95%
    * band is multiplicative: s·exp(±1.96·se) — the exponential is
    * the READER's step; the table carries the exact integers. Items
    * with zero information (no games — impossible by construction
    * here, or ratings degenerate) read NULL se rather than a fake 0.
    *
    * Output: one row per item (item, bt_q6, n_games, info_q12,
    * se_log_q6).
    *
    * Scale shape: one extra pass over the SAME bounded game cells
    * ([[btGames]], shared build site) against the broadcast fitted
    * ratings; nothing touches the corpus. info_q12 ≤ ¼·10¹²·n_games
    * — BIGINT-safe to ~10⁷ games per item (far past any bounded
    * panel design).
    */
  def bradleyTerryConfidence(wins: DataFrame, rounds: Int = 8)
      : DataFrame = {
    // the game cells btFit built ONCE, shared with the information pass
    val (games, fit) = btFit(wins, rounds)
    val s = Dedup.materialize(fit)
    val info = games
      .join(broadcast(s.select(col("item").as("i"),
        col("bt_q6").as("_si"))), Seq("i"))
      .join(broadcast(s.select(col("item").as("j"),
        col("bt_q6").as("_sj"))), Seq("j"))
      .withColumn("_t", expr(
        "CAST((CAST(g AS DECIMAL(38,0)) * _si * _sj * 1000000000000)" +
          " DIV ((CAST(_si AS DECIMAL(38,0)) + _sj)" +
          " * (CAST(_si AS DECIMAL(38,0)) + _sj)) AS BIGINT)"))
      .groupBy("i")
      .agg(sum("g").as("n_games"),
        sum(col("_t").cast("decimal(38,0)")).as("_inf"))
      .withColumn("info_q12", col("_inf").cast("long"))
    s.join(info.withColumnRenamed("i", "item"), Seq("item"))
      .withColumn("_isq",
        graft.plans.GraftExtensions.isqrtNative(
          greatest(col("info_q12"), lit(0L))))
      .withColumn("se_log_q6", when(col("info_q12") > 0 && col("_isq") > 0,
        expr("CAST(1000000000000 DIV _isq AS BIGINT)")))
      .select(col("item"), col("bt_q6"), col("n_games"),
        col("info_q12"), col("se_log_q6"))
  }

  /** Pairwise win-rate matrix with Wilson lower bounds — the arena
    * dashboard behind [[bradleyTerryFromWins]]' single score (the
    * rating collapses HOW i beats j; this table keeps it): per
    * unordered pair (a < b), total games, a's wins, a's Q6 win rate,
    * and the Q9 Wilson lower bound of a's rate (the q194 kernel — the
    * small-sample honesty device: a 2-0 record reads a LOW bound, not
    * 100%). Output ≤ C(|items|, 2) rows.
    *
    * Scale shape: one partial-agg'd fold of the directed win table to
    * unordered pairs; the Wilson bound is the codegen'd native
    * expression per (bounded) pair row — nothing touches the corpus.
    */
  def winRateMatrix(wins: DataFrame): DataFrame = {
    import graft.plans.GraftExtensions.wilsonLbQ9Native
    wins
      .select(least(col("winner"), col("loser")).as("item_a"),
        greatest(col("winner"), col("loser")).as("item_b"),
        when(col("winner") < col("loser"), col("n")).otherwise(0L)
          .as("_wa"),
        col("n").as("_g"))
      .groupBy("item_a", "item_b")
      .agg(sum("_g").as("n_games"), sum("_wa").as("n_a_wins"))
      .withColumn("win_rate_q6", expr(
        "CAST((CAST(n_a_wins AS DECIMAL(38,0)) * 1000000)" +
          " DIV nullif(n_games, 0) AS BIGINT)"))
      .withColumn("wilson_lb_q9",
        wilsonLbQ9Native(col("n_games"), col("n_a_wins")))
      .select(col("item_a"), col("item_b"), col("n_games"),
        col("n_a_wins"), col("win_rate_q6"), col("wilson_lb_q9"))
  }

  /** Preference-cycle (Condorcet transitivity) audit over a pairwise
    * win table — "can these contests be summarized by ANY ranking at
    * all": among item triples whose three pairs each have a strict
    * majority winner, the share forming a directed 3-cycle
    * (i beats j beats k beats i). A high cyclic rate means the
    * preference data is intransitive and a scalar rating
    * ([[bradleyTerryFromWins]]) is averaging away real structure —
    * the standard sanity check run on judge/arena data before
    * fitting. One row: (n_majority_pairs, n_triangles, n_cyclic,
    * cyclic_rate_q6).
    *
    * Scale shape: majority edges are a ≤C(|items|,2)-row fold of the
    * win table; the triangle join is the bounded-edge wedge join
    * (items are bounded by construction of any pairwise-contest
    * design). Nothing touches the corpus.
    */
  def preferenceCycles(wins: DataFrame): DataFrame = {
    // strict-majority directed edge per unordered pair (ties drop)
    val e = wins
      .select(least(col("winner"), col("loser")).as("i"),
        greatest(col("winner"), col("loser")).as("j"),
        when(col("winner") < col("loser"), col("n")).otherwise(0L)
          .as("_wi"),
        col("n").as("_g"))
      .groupBy("i", "j").agg(sum("_wi").as("_wi"), sum("_g").as("_g"))
      .filter(col("_wi") * 2 =!= col("_g")) // strict majority only
      .select(col("i"), col("j"),
        (col("_wi") * 2 > col("_g")).as("_iwins"))
    val eIJ = e.select(col("i").as("_a"), col("j").as("_b"),
      col("_iwins").as("_ab"))
    val eJK = e.select(col("i").as("_b"), col("j").as("_c"),
      col("_iwins").as("_bc"))
    val eIK = e.select(col("i").as("_a"), col("j").as("_c"),
      col("_iwins").as("_ac"))
    // triples a < b < c with all three majority edges present; cyclic
    // iff the directions chain: a→b→c→a or a←b←c←a
    val tri = eIJ.join(eJK, Seq("_b")).join(eIK, Seq("_a", "_c"))
      .withColumn("_cyc",
        (col("_ab") && col("_bc") && !col("_ac")) ||
          (!col("_ab") && !col("_bc") && col("_ac")))
    val nPairs = e.agg(count(lit(1)).as("n_majority_pairs"))
    val agg = tri.agg(count(lit(1)).as("n_triangles"),
      coalesce(sum(when(col("_cyc"), 1L).otherwise(0L)), lit(0L))
        .as("n_cyclic"))
    nPairs.crossJoin(agg)
      .withColumn("cyclic_rate_q6", when(col("n_triangles") > 0, expr(
        "CAST((CAST(n_cyclic AS DECIMAL(38,0)) * 1000000)" +
          " DIV n_triangles AS BIGINT)")))
  }

  /** Inter-rater agreement over per-judge contest cells — the panel
    * audit that belongs NEXT TO the arena readouts ([[
    * bradleyTerryFromWins]] assumes the judges measure one thing;
    * this measures whether they do): Cohen's κ for every judge pair
    * over the items both judged, plus Krippendorff's α for the whole
    * panel, both chance-corrected (raw agreement reads high whenever
    * one label dominates — κ/α subtract exactly that).
    *
    * Input: (judge, winner, loser, n) per-judge directed win cells
    * (the [[winRateMatrix]] input with a judge key). Per (judge,
    * unordered item pair) the judge's VERDICT is the sign of their
    * net wins (a-wins vs b-wins; exact ties abstain — no label, the
    * standard treatment). Then per judge pair (j_a < j_b), over the
    * n_items pairs both labeled: p_o = agree/N and the marginal
    * chance agreement p_e, with κ as ONE exact integer ratio —
    * num = agree·N − n1a·n2a − n1b·n2b, den = N² − n1a·n2a − n1b·n2b,
    * κ = num/den (algebraically identical to (p_o−p_e)/(1−p_e),
    * no intermediate rounding). Signed Q6 readouts use
    * sign·(|num|·10⁶ DIV den): all-positive floor division, so Spark
    * `DIV` (truncating) and DuckDB `//` (flooring) agree bit-for-bit
    * on negative κ. Krippendorff's α (nominal, binary) rides the
    * verdict table once: per item with m ≥ 2 labels the within-item
    * disagreeing pairs a·b scale to Q12 by 10¹² DIV (m−1), and
    * α_q6 = 10⁶ − (n−1)·Σ·10⁶ DIV (A·B·10¹²·... ) — see the code;
    * every division is a documented positive floor.
    *
    * Output: one row per judge pair (judge_a, judge_b, n_items,
    * n_agree, po_q6, pe_q6, kappa_q6) with the panel-wide
    * (alpha_q6, n_labels) broadcast onto every row (1-row
    * crossJoin). den = 0 (a judge pair with degenerate marginals,
    * p_e = 1) yields NULL κ; fewer than 2 total labels on every
    * item yields NULL α.
    *
    * Scale shape: ONE fold of the (already partial-agg'd) win cells
    * to ≤|judges|·C(|items|,2) verdicts; the κ self-join and the α
    * aggregate run on that bounded table; nothing touches the
    * corpus. Judges and items are bounded by construction of any
    * panel design, so every join side here broadcasts.
    */
  /** Per-(judge, unordered pair) NET verdict from (judge, winner,
    * loser, n) cells: v = 1 iff the lesser item wins on net; exact
    * ties abstain (no row). ONE build site shared by
    * [[judgeAgreement]] and [[judgeConsensusBias]] — the κ table and
    * the bias table must score the same ballots or the two readouts
    * stop composing.
    */
  private def judgeVerdicts(judgedWins: DataFrame): DataFrame =
    judgedWins
      .select(col("judge"),
        least(col("winner"), col("loser")).as("a"),
        greatest(col("winner"), col("loser")).as("b"),
        when(col("winner") < col("loser"), col("n")).otherwise(0L)
          .as("_wa"),
        col("n").as("_g"))
      .groupBy("judge", "a", "b")
      .agg(sum("_wa").as("_wa"), sum("_g").as("_g"))
      .filter(col("_wa") * 2 =!= col("_g")) // exact tie → abstain
      .select(col("judge"), col("a"), col("b"),
        (col("_wa") * 2 > col("_g")).cast("int").as("v")) // 1 = a wins

  def judgeAgreement(judgedWins: DataFrame): DataFrame = {
    val verdicts = Dedup.materialize(judgeVerdicts(judgedWins))
    // Cohen's κ per judge pair over shared items
    val l = verdicts.select(col("judge").as("judge_a"), col("a"),
      col("b"), col("v").as("_v1"))
    val r = verdicts.select(col("judge").as("judge_b"), col("a"),
      col("b"), col("v").as("_v2"))
    val pairCells = l.join(r, Seq("a", "b"))
      .filter(col("judge_a") < col("judge_b"))
      .groupBy("judge_a", "judge_b")
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("_v1") === col("_v2"), 1L).otherwise(0L))
          .as("n_agree"),
        sum(col("_v1").cast("long")).as("_n1a"),
        sum(col("_v2").cast("long")).as("_n2a"))
    val kappa = pairCells
      .withColumn("_n1b", col("n_items") - col("_n1a"))
      .withColumn("_n2b", col("n_items") - col("_n2a"))
      .withColumn("_num", expr(
        "CAST(n_agree AS DECIMAL(38,0)) * n_items" +
          " - CAST(_n1a AS DECIMAL(38,0)) * _n2a" +
          " - CAST(_n1b AS DECIMAL(38,0)) * _n2b"))
      .withColumn("_den", expr(
        "CAST(n_items AS DECIMAL(38,0)) * n_items" +
          " - CAST(_n1a AS DECIMAL(38,0)) * _n2a" +
          " - CAST(_n1b AS DECIMAL(38,0)) * _n2b"))
      .withColumn("po_q6", expr(
        "CAST((CAST(n_agree AS DECIMAL(38,0)) * 1000000) DIV n_items" +
          " AS BIGINT)"))
      .withColumn("pe_q6", expr(
        "CAST((CAST(_n1a AS DECIMAL(38,0)) * _n2a * 1000000" +
          " + CAST(_n1b AS DECIMAL(38,0)) * _n2b * 1000000)" +
          " DIV (CAST(n_items AS DECIMAL(38,0)) * n_items) AS BIGINT)"))
      // signed Q6 via positive floor division (engine-identical)
      .withColumn("kappa_q6", when(col("_den") > 0, expr(
        "CAST(CASE WHEN _num < 0 THEN -((-_num * 1000000) DIV _den)" +
          " ELSE (_num * 1000000) DIV _den END AS BIGINT)")))
    // Krippendorff's α (nominal, binary) over the whole verdict table
    val units = verdicts.groupBy("a", "b")
      .agg(count(lit(1)).as("_m"), sum(col("v").cast("long")).as("_ma"))
      .filter(col("_m") >= 2) // units with one label have no pairable values
      .withColumn("_t_q12", expr(
        "CAST((CAST(_ma AS DECIMAL(38,0)) * (_m - _ma) * 1000000000000)" +
          " DIV (_m - 1) AS BIGINT)"))
    val alpha = units
      .agg(sum("_m").as("_n"), sum("_ma").as("_A"),
        sum(expr("_m - _ma")).as("_B"),
        sum(col("_t_q12").cast("decimal(38,0)")).as("_t"))
      .withColumn("n_labels", coalesce(col("_n"), lit(0L)))
      .withColumn("alpha_q6",
        when(col("_n").isNotNull && col("_A") > 0 && col("_B") > 0, expr(
          "CAST(1000000 - (CAST(_n - 1 AS DECIMAL(38,0)) * _t * 1000000)" +
            " DIV (CAST(_A AS DECIMAL(38,0)) * _B * 1000000000000)" +
            " AS BIGINT)"))
          // one label class across the panel: no expected disagreement
          // to correct against — α undefined, surface NULL not 10⁶
          .otherwise(lit(null).cast("long")))
      .select("alpha_q6", "n_labels")
    kappa.crossJoin(alpha)
      .select(col("judge_a"), col("judge_b"), col("n_items"),
        col("n_agree"), col("po_q6"), col("pe_q6"), col("kappa_q6"),
        col("alpha_q6"), col("n_labels"))
  }

  /** Per-judge consensus-bias audit — [[judgeAgreement]] says whether
    * the panel coheres; this names WHICH judge is the outlier: each
    * judge's agreement rate with the LEAVE-ONE-OUT panel majority on
    * every pair they voted on (own vote excluded from the majority —
    * self-agreement would otherwise inflate every rate, worst for the
    * judges with the fewest co-voters). Pairs whose remaining votes
    * tie have no majority to agree with and are not scored. The rate
    * carries the q194 Wilson Q9 lower bound (native kernel) so a
    * judge scored on 3 pairs reads LOW, not 100% — the small-sample
    * honesty device of [[winRateMatrix]].
    *
    * Output: one row per judge (judge, n_scored, n_agree,
    * agree_rate_q6, wilson_lb_q9).
    *
    * Scale shape: the verdict fold is [[judgeVerdicts]] (shared build
    * site); vote totals are a ≤C(|items|,2)-row aggregate broadcast
    * back against the verdict table; the readout is a ≤|judges|-row
    * groupBy. Nothing touches the corpus.
    */
  def judgeConsensusBias(judgedWins: DataFrame): DataFrame = {
    val verdicts = Dedup.materialize(judgeVerdicts(judgedWins))
    val tot = verdicts.groupBy("a", "b")
      .agg(count(lit(1)).as("_m"), sum(col("v").cast("long")).as("_ma"))
    val loo = verdicts.join(broadcast(tot), Seq("a", "b"))
      .withColumn("_mp", col("_m") - 1)
      .withColumn("_map", col("_ma") - col("v"))
      .filter(col("_map") * 2 =!= col("_mp")) // LOO majority must exist
      .withColumn("_agree",
        (col("v") === 1 && col("_map") * 2 > col("_mp")) ||
          (col("v") === 0 && col("_map") * 2 < col("_mp")))
    loo.groupBy("judge")
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("_agree"), 1L).otherwise(0L)).as("n_agree"))
      .withColumn("agree_rate_q6", expr(
        "CAST((CAST(n_agree AS DECIMAL(38,0)) * 1000000) DIV n_scored" +
          " AS BIGINT)"))
      .withColumn("wilson_lb_q9",
        graft.plans.GraftExtensions.wilsonLbQ9Native(
          col("n_scored"), col("n_agree")))
      .select(col("judge"), col("n_scored"), col("n_agree"),
        col("agree_rate_q6"), col("wilson_lb_q9"))
  }

  /** Top-k + probability readout over (src, dst, n) transition cells —
    * exposed separately (the calibrationCells discipline) so the
    * streaming pair builder shares the batch readout + oracle.
    */
  def transitionFromCells(pairs: DataFrame, k: Int = 3): DataFrame = {
    val ws = Window.partitionBy("src")
    val wr = ws.orderBy(col("n").desc, col("dst"))
    pairs
      .withColumn("_tot", sum("n").over(ws))
      .withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= k)
      .withColumn("prob_q9",
        expr("(CAST(n AS DECIMAL(38,0)) * 1000000000) DIV nullif(_tot, 0)"))
      .select(col("src"), col("rank"), col("dst"), col("n"),
        col("prob_q9"))
  }

  /** Robust outlier profile per group — [[robustStats]]'s median/MAD
    * broadcast back over the rows, flagging |x − median| > k·MAD (the
    * modified z-score rule with an integer k; MAD = 0 degrades to
    * "any deviation flags", the conservative reading). All tenk-unit
    * integer comparisons; the rate is one exact Q9 floor division.
    * The data-quality row-level readout the [[robustStats]] dashboard
    * drills into.
    *
    * Scale shape: the stats table is one row per group (broadcast,
    * like robustStats' own median join-back); the flag pass is one
    * map + one partial-agg'd groupBy.
    */
  def robustOutliers(df: DataFrame, grpCol: String, valCol: String,
      k: Int = 3): DataFrame = {
    val stats = robustStats(df, grpCol, valCol)
      .select(col(grpCol).as("_g"), col("median_tenk"), col("mad_tenk"))
    val base = df.filter(col(valCol).isNotNull)
      .select(col(grpCol).as("_g"),
        (col(valCol).cast("decimal(18,4)") * 10000).cast("long").as("_x"))
    base.join(broadcast(stats), Seq("_g"))
      .groupBy("_g")
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("_x") - col("median_tenk")) >
          col("mad_tenk") * k, 1L).otherwise(0L)).as("n_out"))
      .withColumn("out_rate_q9",
        expr("(CAST(n_out AS DECIMAL(38,0)) * 1000000000) DIV n"))
      .select(col("_g").as(grpCol), col("n"), col("n_out"),
        col("out_rate_q9"))
  }

  /** Cohen's kappa between two categorical raters — chance-corrected
    * agreement, the inter-annotator / model-vs-label QA metric:
    * κ = (p₀ − pₑ)/(1 − pₑ) = (agree·n − Σℓ rowℓ·colℓ) /
    * (n² − Σℓ rowℓ·colℓ), every term an exact integer. κ can be
    * NEGATIVE (worse than chance), so the Q9 readout pins the signed
    * division to TRUNCATION via the (num − num % den)/den form —
    * DuckDB's `//` and `%` truncate exactly like Spark's (measured:
    * −7//2 = −3), so both engines agree below zero by construction.
    *
    * Scale shape: rows collapse to a #labels² confusion matrix in one
    * partial-agg'd groupBy; margins, the diagonal, and the readout all
    * run on that tiny cells table.
    */
  def cohenKappa(df: DataFrame, rater1Col: String,
      rater2Col: String): DataFrame = {
    val cm = df
      .filter(col(rater1Col).isNotNull && col(rater2Col).isNotNull)
      .groupBy(col(rater1Col).as("_a"), col(rater2Col).as("_b"))
      .agg(count(lit(1)).as("_c"))
    val rows = cm.groupBy(col("_a").as("_l")).agg(sum("_c").as("_ra"))
    val cols = cm.groupBy(col("_b").as("_l")).agg(sum("_c").as("_rb"))
    val pe = rows.join(cols, Seq("_l"), "full")
      .agg(coalesce(sum((coalesce(col("_ra"), lit(0L)).cast("decimal(19,0)") *
        coalesce(col("_rb"), lit(0L)).cast("decimal(19,0)"))
        .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("_pe"))
    val agg = cm.agg(sum("_c").as("n"),
      sum(when(col("_a") === col("_b"), col("_c")).otherwise(0L))
        .as("n_agree"))
    agg.crossJoin(pe)
      .withColumn("_num",
        ((col("n_agree").cast("decimal(19,0)") *
          col("n").cast("decimal(19,0)")).cast("decimal(38,0)") -
          col("_pe")) * 1000000000)
      .withColumn("_den",
        (col("n").cast("decimal(19,0)") *
          col("n").cast("decimal(19,0)")).cast("decimal(38,0)") -
          col("_pe"))
      // pe = n² ⟺ both raters are the same constant: κ undefined → null
      .withColumn("kappa_q9", when(col("_den") =!= 0,
        expr("CAST((_num - (_num % _den)) / _den AS BIGINT)")))
      .select(col("n"), col("n_agree"), col("kappa_q9"))
  }

  /** ABC / Pareto classification: keys ranked by value DESCENDING
    * (ties by key — total order), class A while the running value
    * share is ≤ `thrA`‰, B while ≤ `thrB`‰, C after — the 80/15/5
    * inventory-analysis cut, decided by exact integer cross-
    * multiplication (cum·1000 ≤ thr·total in tenk units, never a
    * float share). Output per class: keys, value total (tenk), exact
    * Q9 share.
    *
    * Scale shape: the global descending prefix sum is
    * [[Packing.withRunningTotal]] (two-phase bucketed — no global
    * window); the classification is a map-side comparison against one
    * broadcast scalar, and the readout a 3-row groupBy.
    */
  def abcClassification(df: DataFrame, keyCol: String, valCol: String,
      thrA: Int = 800, thrB: Int = 950): DataFrame = {
    val base = df.filter(col(valCol).isNotNull)
      .select(col(keyCol).as("_k"),
        (col(valCol).cast("decimal(18,4)") * 10000).cast("long").as("_v"))
      .withColumn("_nv", -col("_v"))
    val run = Packing.withRunningTotal(base, Seq("_nv", "_k"), "_v", "_cum")
    val tot = run.agg(max("_cum").as("_tot"))
    run.crossJoin(tot)
      .withColumn("abc_class",
        when(col("_cum").cast("decimal(38,0)") * 1000 <=
          col("_tot").cast("decimal(38,0)") * thrA, "A")
          .when(col("_cum").cast("decimal(38,0)") * 1000 <=
            col("_tot").cast("decimal(38,0)") * thrB, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_keys"), sum("_v").as("value_tenk"),
        max("_tot").as("_t"))
      .withColumn("share_q9", when(col("_t") =!= 0,
        expr("(CAST(value_tenk AS DECIMAL(38,0)) * 1000000000) DIV _t")))
      .select(col("abc_class"), col("n_keys"), col("value_tenk"),
        col("share_q9"))
  }

  /** Log-rank test between two survival arms (fixed-point variant):
    * at each distinct event time, the observed-minus-expected arm-1
    * deaths (d₁ⱼ − n₁ⱼ·dⱼ/nⱼ) and the hypergeometric variance
    * dⱼ·n₁ⱼ·(nⱼ−n₁ⱼ)·(nⱼ−dⱼ) / (nⱼ²·(nⱼ−1)), each read out as a Q9
    * TRUNCATE-per-term integer — a deterministic fixed-point statistic
    * (documented: the division is per event time, not one global
    * division; O−E terms are signed, so the truncating
    * (num − num % den)/den form is pinned — DuckDB's `//` truncates on
    * integers exactly like Spark's DIV, measured −7//2 = −3).
    * Complements [[kaplanMeier]] (q201) with the two-cohort
    * comparison. Variance products bound nⱼ ≲ 3·10⁷ inside
    * DECIMAL(38,0) — per-cohort survival scale, stated here.
    *
    * Scale shape: lifetimes collapse to per-(time) cells in one
    * groupBy; the at-risk counts are suffix sums over the DISTINCT-
    * duration table (calendar-bounded — the q201 window cap), then
    * one readout agg. The suffix-sum window is partition-less over
    * those cells, so the duration column MUST be integral and
    * calendar-banded (day/week counts — tens of thousands of distinct
    * values at most); a continuous double duration would make the
    * cells corpus-sized and the window a single-task sort, so it is
    * REFUSED loudly (the [[Validation.joinSkewCells]] misuse
    * discipline) instead of silently cast.
    */
  def logRank(df: DataFrame, durationCol: String, eventCol: String,
      armCol: Column): DataFrame = {
    val ddt = df.schema(durationCol).dataType
    val integral = ddt == org.apache.spark.sql.types.LongType ||
      ddt == org.apache.spark.sql.types.IntegerType ||
      ddt == org.apache.spark.sql.types.ShortType ||
      ddt == org.apache.spark.sql.types.ByteType
    require(integral, s"logRank needs an integral banded duration " +
      s"column (day/week counts); '$durationCol' is $ddt — band it " +
      s"first (a continuous duration makes the partition-less " +
      s"suffix-sum window corpus-sized)")
    val cells = df
      .select(col(durationCol).cast("long").as("_t"),
        col(eventCol).cast("long").as("_e"),
        when(armCol, 1L).otherwise(0L).as("_a"))
      .groupBy("_t")
      .agg(sum(when(col("_a") === 1, col("_e")).otherwise(0L)).as("_d1"),
        sum(col("_e")).as("_d"),
        sum(when(col("_a") === 1, 1L).otherwise(0L)).as("_m1"),
        count(lit(1)).as("_m"))
    val wd = Window.orderBy(col("_t").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    cells
      .withColumn("_n1", sum("_m1").over(wd))
      .withColumn("_n", sum("_m").over(wd))
      .filter(col("_d") > 0)
      .withColumn("_oeNum",
        ((col("_d1").cast("decimal(19,0)") * col("_n") -
          col("_n1").cast("decimal(19,0)") * col("_d"))
          .cast("decimal(38,0)") * 1000000000).cast("decimal(38,0)"))
      .withColumn("_oe", expr(
        "CAST((_oeNum - (_oeNum % CAST(_n AS DECIMAL(38,0)))) " +
          "/ CAST(_n AS DECIMAL(38,0)) AS BIGINT)"))
      .withColumn("_vNum",
        (col("_d").cast("decimal(38,0)") * col("_n1") *
          (col("_n") - col("_n1")) * (col("_n") - col("_d")) *
          1000000000).cast("decimal(38,0)"))
      // all-positive factors: truncating DIV is floor, = DuckDB //
      .withColumn("_v", when(col("_n") > 1, expr(
        "_vNum DIV (CAST(_n AS DECIMAL(38,0)) * _n * (_n - 1))"))
        .otherwise(lit(0L)))
      .agg(count(lit(1)).as("n_event_times"),
        sum("_oe").as("oe_q9"), sum("_v").as("var_q9"))
  }

  /** Per-group exact AUC — [[aucExact]] with a segment column: does
    * the score rank positives over negatives WITHIN each segment (the
    * per-cohort model-fairness / per-surface-ranker readout). Same
    * tie-aware rank-sum identity, same Q9 floor division.
    *
    * Scale shape: cells collapse per (group, distinct score) in one
    * partial-agg'd groupBy; the strict-below cumsum is a window
    * PARTITIONED BY GROUP over those cells (groups are the parallel
    * unit — the q44 grouped-percentile convention; a skewed group
    * bounds the sort, never the corpus), then one groupBy readout.
    */
  def aucByGroup(df: DataFrame, grpCol: String, scoreCol: String,
      isPos: Column): DataFrame = {
    val cells = df.filter(col(scoreCol).isNotNull)
      .select(col(grpCol).as("_g"),
        (col(scoreCol).cast("decimal(18,4)") * 10000)
          .cast("long").as("_s"), isPos.cast("boolean").as("_y"))
      .groupBy("_g", "_s")
      .agg(sum(when(col("_y"), 1L).otherwise(0L)).as("_p"),
        sum(when(!col("_y"), 1L).otherwise(0L)).as("_q"))
    val w = Window.partitionBy("_g").orderBy("_s")
      .rowsBetween(Window.unboundedPreceding, -1)
    cells
      .withColumn("_nb", coalesce(sum("_q").over(w), lit(0L)))
      .groupBy("_g")
      .agg(sum("_p").as("n_pos"), sum("_q").as("n_neg"),
        sum((col("_p").cast("decimal(38,0)") *
          (col("_nb") * 2 + col("_q")).cast("decimal(38,0)"))
          .cast("decimal(38,0)")).as("_u2"))
      .withColumn("_den",
        (col("n_pos").cast("decimal(19,0)") *
          col("n_neg").cast("decimal(19,0)")).cast("decimal(38,0)") * 2)
      .withColumn("auc_q9",
        when(col("_den") =!= 0, expr("(_u2 * 1000000000) DIV _den")))
      .select(col("_g").as(grpCol), col("n_pos"), col("n_neg"),
        col("auc_q9"))
  }

  /** Split-conformal interval coverage — the distribution-free "how
    * wide must the error bar be" answer (Vovk; Angelopoulos & Bates
    * 2021): on a CALIBRATION split, q̂ = the ⌈(n+1)(1−α)⌉-th smallest
    * absolute residual |y−ŷ|; on the TEST split, the fraction of
    * residuals ≤ q̂ (guaranteed ≥ 1−α in expectation under
    * exchangeability). Exact integers: residuals in input units, the
    * order statistic via a distinct-residual cumsum (the q250 cell
    * shape — no per-row global window), coverage one Q9 floor
    * division. k > n (tiny calibration set) ⇒ q̂ = NULL = infinite
    * interval, coverage 1 — the honest conformal answer. One row:
    * (n_cal, k, q_hat, n_test, n_covered, coverage_q9).
    *
    * Scale shape: one groupBy(residual) on the calibration split, one
    * ordered cumsum over the ≤|distinct residuals| cell table (swap in
    * `Ranking.rangeCuts` bucketing when residual cardinality is
    * corpus-sized), one broadcast of the 1-row q̂ to the test agg.
    */
  def conformalCoverage(df: DataFrame, yCol: String, yhatCol: String,
      isCal: Column, alphaPermille: Int = 100): DataFrame = {
    require(alphaPermille > 0 && alphaPermille < 1000,
      "alphaPermille must be in (0, 1000)")
    val base = df.select(
      abs(col(yCol).cast("long") - col(yhatCol).cast("long")).as("_r"),
      isCal.cast("boolean").as("_c"))
    val cells = base.filter(col("_c"))
      .groupBy("_r").agg(count(lit(1)).as("_n"))
    val tot = cells.agg(coalesce(sum("_n"), lit(0L)).as("n_cal"))
      .withColumn("k", expr(
        s"((n_cal + 1) * ${1000 - alphaPermille} + 999) DIV 1000"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("_r").rowsBetween(Window.unboundedPreceding, 0)
    val qhat = cells
      .withColumn("_cum", sum("_n").over(w))
      .crossJoin(tot)
      .filter(col("_cum") >= col("k"))
      .groupBy("n_cal", "k").agg(min("_r").as("q_hat"))
    val q1 = broadcast(tot.join(qhat, Seq("n_cal", "k"), "left"))
    base.filter(!col("_c")).crossJoin(q1)
      .groupBy("n_cal", "k", "q_hat")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("q_hat").isNull || col("_r") <= col("q_hat"), 1L)
          .otherwise(0L)).as("n_covered"))
      .withColumn("coverage_q9", when(col("n_test") =!= 0,
        expr("CAST((CAST(n_covered AS DECIMAL(38,0)) * 1000000000)" +
          " DIV n_test AS BIGINT)")))
      .select(col("n_cal"), col("k"), col("q_hat"), col("n_test"),
        col("n_covered"), col("coverage_q9"))
  }

  /** Exact pinball (quantile) loss at a set of target quantiles — the
    * eval the quantile-forecast family needs next to [[conformalCoverage]]
    * (coverage says the interval CONTAINS; pinball says the quantile
    * PREDICTION is sharp): per τ,
    * L_τ = τ·(y−ŷ) if y ≥ ŷ else (τ−1)·(y−ŷ), summed exactly in
    * milli-units (τ in permille, so each row's loss is one integer
    * multiply — no division until the readout). One row per τ:
    * (tau_pm, n, sum_loss_milli, mean_loss_q6). Ceiling: the DECIMAL
    * sum is exact to 10³⁸; the terminal BIGINT sum column binds at
    * Σ|loss| ≈ 9.2·10¹⁸ milli-units — widen the terminal in both
    * engines in one commit if a corpus crosses it.
    *
    * Scale shape: one map + explode over the τ literals (|τ| per row),
    * one partial-agg'd groupBy to |τ| rows.
    */
  def pinballLoss(df: DataFrame, yCol: String, yhatCol: String,
      tausPermille: Seq[Int] = Seq(100, 500, 900)): DataFrame = {
    require(tausPermille.nonEmpty &&
      tausPermille.forall(t => t > 0 && t < 1000),
      "pinballLoss needs taus in (0, 1000) permille")
    val dec = "DECIMAL(38,0)"
    df.select((col(yCol).cast("long") - col(yhatCol).cast("long"))
        .as("_d"))
      .filter(col("_d").isNotNull)
      .select(col("_d"),
        explode(array(tausPermille.map(t => lit(t.toLong)): _*))
          .as("tau_pm"))
      .withColumn("_lm", when(col("_d") >= 0, col("tau_pm") * col("_d"))
        .otherwise((col("tau_pm") - 1000L) * col("_d")))
      .groupBy("tau_pm")
      .agg(count(lit(1)).as("n"),
        sum(col("_lm").cast(dec)).as("_s"))
      .withColumn("sum_loss_milli", expr("CAST(_s AS BIGINT)"))
      .withColumn("mean_loss_q6", when(col("n") =!= 0, expr(
        "CAST((_s * 1000) DIV n AS BIGINT)")))
      .select(col("tau_pm"), col("n"), col("sum_loss_milli"),
        col("mean_loss_q6"))
  }

  /** [[conformalCoverage]] per group — the Mondrian (group-conditional)
    * split-conformal audit: marginal coverage can hide a group whose
    * intervals systematically miss (the fairness failure mode), so
    * each group gets its OWN calibration quantile and its own coverage
    * row. Same exact-integer machinery; a group appears iff it has
    * BOTH calibration and test rows (coverage of an absent split is
    * undefined); k > n_cal ⇒ NULL q̂ = infinite interval, coverage 1.
    * One row per group: (grp, n_cal, k, q_hat, n_test, n_covered,
    * coverage_q9).
    *
    * Scale shape: the cumsum window is PARTITIONED by group over the
    * per-group distinct-residual cells (never a global window); the
    * per-group (n_cal, k, q̂) table is |groups|-rows and broadcasts to
    * the test-side aggregate. Meant for bounded group columns
    * (segment, domain, flag) — the table a dashboard reads.
    */
  def conformalCoverageByGroup(df: DataFrame, groupCol: String,
      yCol: String, yhatCol: String, isCal: Column,
      alphaPermille: Int = 100): DataFrame = {
    require(alphaPermille > 0 && alphaPermille < 1000,
      "alphaPermille must be in (0, 1000)")
    val base = df.select(col(groupCol).as("grp"),
      abs(col(yCol).cast("long") - col(yhatCol).cast("long")).as("_r"),
      isCal.cast("boolean").as("_c"))
    val cells = base.filter(col("_c"))
      .groupBy("grp", "_r").agg(count(lit(1)).as("_n"))
    val tot = cells.groupBy("grp").agg(sum("_n").as("n_cal"))
      .withColumn("k", expr(
        s"((n_cal + 1) * ${1000 - alphaPermille} + 999) DIV 1000"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy("_r")
      .rowsBetween(Window.unboundedPreceding, 0)
    val qhat = cells
      .withColumn("_cum", sum("_n").over(w))
      .join(tot, Seq("grp"))
      .filter(col("_cum") >= col("k"))
      .groupBy("grp", "n_cal", "k").agg(min("_r").as("q_hat"))
    val q1 = broadcast(tot.join(qhat, Seq("grp", "n_cal", "k"), "left"))
    base.filter(!col("_c")).join(q1, Seq("grp"))
      .groupBy("grp", "n_cal", "k", "q_hat")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("q_hat").isNull || col("_r") <= col("q_hat"), 1L)
          .otherwise(0L)).as("n_covered"))
      .withColumn("coverage_q9", when(col("n_test") =!= 0,
        expr("CAST((CAST(n_covered AS DECIMAL(38,0)) * 1000000000)" +
          " DIV n_test AS BIGINT)")))
      .select(col("grp"), col("n_cal"), col("k"), col("q_hat"),
        col("n_test"), col("n_covered"), col("coverage_q9"))
  }

  /** Seeded sign-flip permutation test for a paired difference — the
    * nonparametric "is this effect real" companion to the q181 t-test,
    * with NO normality assumption: under H₀ (symmetric differences)
    * each key's diff sign is exchangeable, so T_b = |Σ s_{k,b}·d_k|
    * over `b` deterministic ±1 patterns (low bit of
    * splitmix64(key + GOLD·(j+1)) — the exact q224 tug-of-war family,
    * so the walk replays in DuckDB) calibrates T_obs = |Σ d_k|;
    * p ≈ #{T_b ≥ T_obs}/B. Deterministic by construction — seeded
    * hash patterns instead of RNG draws (the library's replacement
    * discipline for the reference's unseeded randomness). One row:
    * (n_keys, t_obs, n_perms, n_ge, p_permille).
    *
    * Scale shape: diffs collapse to one row per key first; the B-way
    * explode runs on THAT table (B·|keys| rows, map-side, never
    * B·|corpus|) and the per-pattern sums partial-agg to B rows. The
    * sign hash is a UDF on the collapsed table (the amsF2Counters
    * cold-path precedent).
    */
  def signFlipTest(pairs: DataFrame, keyCol: String, diffCol: String,
      b: Int = 64): DataFrame = {
    require(b > 0, "signFlipTest needs b > 0")
    val gold = BigInt("9e3779b97f4a7c15", 16).toLong
    val sign = udf((v: Long, j: Int) =>
      if ((graft.functions.Hashing.splitmix64(v + gold * (j + 1)) & 1L) == 1L)
        1L else -1L)
    val base = Dedup.materialize(pairs
      .select(col(keyCol).cast("long").as("_k"),
        col(diffCol).cast("long").as("_d"))
      .filter(col("_k").isNotNull && col("_d").isNotNull))
    val obs = base.agg(
      abs(coalesce(sum("_d"), lit(0L))).as("t_obs"),
      count(lit(1)).as("n_keys"))
    base
      .select(col("_k"), col("_d"),
        explode(sequence(lit(0), lit(b - 1))).as("j"))
      .groupBy("j")
      .agg(abs(sum(sign(col("_k"), col("j")) * col("_d"))).as("_t"))
      .crossJoin(obs)
      .groupBy("n_keys", "t_obs")
      .agg(count(lit(1)).as("n_perms"),
        sum(when(col("_t") >= col("t_obs"), 1L).otherwise(0L)).as("n_ge"))
      .withColumn("p_permille", expr("(n_ge * 1000) DIV n_perms"))
      .select(col("n_keys"), col("t_obs"), col("n_perms"), col("n_ge"),
        col("p_permille"))
  }

  /** Calibration (reliability) curve + expected calibration error: the
    * ML-eval readout [[aucExact]] can't give — whether the SCORE VALUES
    * mean what they claim (AUC only ranks). Predictions in tenk units
    * (Q4 probability, [0, 10⁴]) bin into B fixed-width value bins
    * (bin = min(B−1, ⌊p·B/10⁴⌋) — value bins, NOT q251's rank deciles);
    * each bin reports population, mean predicted Q4 and observed
    * positive rate Q9. ECE — Σ_b (n_b/N)·|mean_pred_b − rate_b| —
    * telescopes EXACTLY to (Σ_b |Σp_b − 10⁴·pos_b|)·10⁹ / (10⁴·N), so
    * the whole statistic carries ONE floor division (ece_q9, repeated
    * per row as the summary column).
    *
    * Scale shape: one partial-agg'd groupBy to ≤B cells, then
    * arithmetic on the B-row table + a 2-number crossJoin — nothing
    * per-row after the first aggregate.
    */
  def calibrationCurve(df: DataFrame, predQ4Col: String, isPos: Column,
      bins: Int = 10): DataFrame =
    calibrationFromCells(calibrationCells(df, predQ4Col, isPos, bins))

  /** The ≤`bins` mergeable cells behind [[calibrationCurve]] — exposed
    * separately (the chisqCells/psiFromCells discipline) so the
    * streaming engine can build them through the state store and share
    * the batch readout + oracle.
    */
  def calibrationCells(df: DataFrame, predQ4Col: String, isPos: Column,
      bins: Int = 10): DataFrame = {
    require(bins > 0, "calibrationCurve needs bins > 0")
    df.filter(col(predQ4Col).isNotNull)
      .select(col(predQ4Col).cast("long").as("_p"),
        isPos.cast("boolean").as("_y"))
      .withColumn("_b", least(lit(bins - 1L),
        expr(s"(_p * $bins) DIV 10000")))
      .groupBy("_b").agg(
        count(lit(1)).as("n"),
        sum("_p").as("_sp"),
        sum(when(col("_y"), 1L).otherwise(0L)).as("n_pos"))
  }

  /** Batch readout over [[calibrationCells]] output. */
  def calibrationFromCells(cells: DataFrame): DataFrame = {
    val tot = cells.agg(
      coalesce(sum("n"), lit(0L)).as("_n"),
      coalesce(sum(abs(col("_sp") - lit(10000L) * col("n_pos"))), lit(0L))
        .as("_gap"))
    cells.crossJoin(tot)
      .select(col("_b").as("bin"), col("n"),
        expr("_sp DIV n").as("mean_pred_q4"), col("n_pos"),
        expr("CAST((CAST(n_pos AS DECIMAL(38,0)) * 1000000000) DIV n" +
          " AS BIGINT)").as("obs_rate_q9"),
        when(col("_n") =!= 0, expr(
          "CAST((CAST(_gap AS DECIMAL(38,0)) * 1000000000)" +
            " DIV (10000 * _n) AS BIGINT)")).as("ece_q9"))
  }
}
