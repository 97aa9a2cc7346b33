package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Probability-proportional-to-size sampling without replacement — the
  * fixed-SIZE counterpart of [[Dedup.weightedSample]]'s fixed-FRACTION
  * Bernoulli sampler. A curation pipeline asks for exactly this when it
  * must cut a scored corpus to a token or document budget while keeping
  * inclusion probability ∝ quality weight (quality-weighted corpus
  * selection, the sampling step of DoReMi/Dolma-style mixture builds).
  *
  * Method: systematic PPS sampling (Madow 1949, the textbook
  * cumulative-total method): lay documents on a line in a seeded
  * pseudo-random order, each occupying a segment of length = its weight;
  * drop `n` equally-spaced pins (offset half a stride) and select the
  * document under each pin. Inclusion probability is exactly
  * n·wᵢ/W (documents with wᵢ > W/n can be hit multiple times —
  * `n_hits` reports multiplicity, as standard for PPS with replacementless
  * pins). Everything is INTEGER arithmetic: the pin condition
  * c_before ≤ (2j+1)·W/(2n) < c_after is evaluated as exact
  * decimal(38,0) products, so the selected set is a pure function of
  * (seed, ids, weights) on any engine and any cluster size.
  *
  * Scale shape: the seeded order is a map-side md5; the only global
  * state is the exact prefix sum, delegated to
  * [[Packing.withRunningTotal]] (range-bucketed two-phase — no
  * partition-less window); the pin count per document is then map-side
  * arithmetic. One slim shuffle of (id, weight) total.
  */
object Sampling {

  /** Select ~`n` documents with probability ∝ `weightCol` (integral,
    * ≥ 0; zero-weight rows are never selected). Output: (idCol, weight,
    * n_hits ≥ 1) for selected documents only. Σ n_hits = n exactly
    * (when W > 0 and n ≥ 1).
    */
  def ppsSystematic(df: DataFrame, n: Long, weightCol: String,
      idCol: String = "doc_id", seed: Long = 0): DataFrame = {
    require(n >= 1, s"sample size $n must be >= 1")
    val slim = df.select(col(idCol),
      coalesce(col(weightCol).cast("long"), lit(0L)).as("weight"))
      .filter(col("weight") >= 0L)
      // seeded pseudo-random placement on the line: first 16 hex digits
      // of a seeded md5 — 64 bits, monotone-castable to the bucketing
      // double that withRunningTotal's range split needs
      .withColumn("_ord", conv(substring(
        md5(concat_ws("#", lit(seed), col(idCol).cast("string"))), 1, 15),
        16, 10).cast("long"))
    val run = Packing.withRunningTotal(slim, Seq("_ord", idCol), "weight",
      outCol = "_c_after")
    // W = the final running total; cheap max over the already-
    // materialized checkpoint (withRunningTotal checkpointed its input,
    // and _c_after is monotone over the order, so max IS the total)
    // coalesce: an EMPTY input aggregates max to null and getLong
    // would NPE before the wTotal <= 0 early-return below fires
    val wTotal = run.agg(coalesce(max("_c_after"), lit(0L)))
      .head.getLong(0)
    if (wTotal <= 0L)
      return run.filter(lit(false))
        .select(col(idCol), col("weight"), lit(0L).as("n_hits"))
    // pin j (0-based) sits at (2j+1)·W / (2n); doc i is hit by pins with
    // c_before ≤ pin < c_after  ⇔  2n·c_before ≤ (2j+1)·W < 2n·c_after.
    // hits(i) = g(2n·c_after) − g(2n·c_before) where g(X) = #{odd m ≥ 1 :
    // m·W < X} = ((X−1) DIV W + 1) DIV 2 for X ≥ 1, clamped to the n
    // pins. The products run as decimal(38,0) and the divisions as
    // integral DIV — exact at any magnitude. NB: decimal FLOOR(x/y) would
    // NOT be exact here (Spark caps division results at 38 digits and
    // rounds, so (kW−1)/W can round up to k before the floor).
    run
      .withColumn("_cb", (col("_c_after") - col("weight")).cast("decimal(38,0)"))
      .withColumn("_xa",
        lit(2L * n).cast("decimal(38,0)") * col("_c_after").cast("decimal(38,0)"))
      .withColumn("_xb", lit(2L * n).cast("decimal(38,0)") * col("_cb"))
      .withColumn("n_hits", expr(
        s"""CASE WHEN _xa <= 0 THEN 0L
           |  ELSE least(((_xa - 1) DIV ${wTotal}L + 1L) DIV 2L, ${n}L) END
           | - CASE WHEN _xb <= 0 THEN 0L
           |  ELSE least(((_xb - 1) DIV ${wTotal}L + 1L) DIV 2L, ${n}L) END"""
          .stripMargin))
      .filter(col("n_hits") > 0L)
      .select(col(idCol), col("weight"), col("n_hits"))
  }

  /** Stratified budget sampling with Hamilton (largest-remainder)
    * allocation: split an exact total budget `k` across strata
    * proportionally — `base_g = ⌊k·n_g/N⌋`, then the `k − Σ base`
    * leftover picks go to the largest remainders `k·n_g mod N` (ties
    * by stratum) — and select each stratum's quota deterministically
    * by md5(id) order. Exactly `k` rows come back (requires k ≤ N; a
    * quota never exceeds its stratum because base+1 ≤ n_g when k ≤ N),
    * every stratum within ±1 row of exact proportionality — the
    * training-mix assembly primitive ("give me exactly 1M docs, web/
    * books/code in corpus proportion, reproducibly").
    *
    * Determinism: md5 of the decimal id string, compared as lowercase
    * hex — identical bytes in any engine; ties (impossible in practice)
    * fall to id. Integer-only allocation arithmetic.
    *
    * Scale shape: one count aggregate (|strata| rows) + driver-free
    * allocation via a window over that tiny table, broadcast back;
    * selection is a per-STRATUM sort window (the q44 grouped
    * convention) — at quota ≪ n_g swap in the bounded top-k aggregate
    * on a 52-bit hash prefix; the window form is kept because it
    * gates bit-exact against the oracle's ROW_NUMBER.
    */
  def budgetSample(df: DataFrame, k: Long, strataCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val cnt = df.groupBy(col(strataCol).as("_g"))
      .agg(count(lit(1)).as("_ng"))
    // empty input → null sum; coalesce so the require below reports
    // "exceeds corpus size 0" instead of throwing an NPE
    val tot = cnt.agg(coalesce(sum("_ng"), lit(0L))).head.getLong(0)
    require(k <= tot, s"budgetSample: k=$k exceeds corpus size $tot")
    val alloc = cnt
      .withColumn("_base", expr(s"($k * _ng) DIV ${tot}L"))
      .withColumn("_rem", expr(s"($k * _ng) % ${tot}L"))
    val extra = k - alloc.agg(coalesce(sum("_base"), lit(0L)))
      .head.getLong(0)
    val quota = alloc
      .withColumn("_rr", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("_rem").desc, col("_g"))).cast("long"))
      .select(col("_g"),
        (col("_base") + when(col("_rr") <= extra, 1L).otherwise(0L))
          .as("quota"))
      .filter(col("quota") > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_g").orderBy(col("_h"), col(idCol))
    df.select(col(strataCol).as("_g"), col(idCol))
      .withColumn("_h", md5(col(idCol).cast("string").cast("binary")))
      .join(broadcast(quota), Seq("_g"))
      .withColumn("_rn", row_number().over(w).cast("long"))
      .filter(col("_rn") <= col("quota"))
      .select(col("_g").as(strataCol), col(idCol),
        col("_rn").as("pick_rank"), col("quota"))
  }

  /** Domain-mixture planner (DoReMi / The-Pile-style pretraining mix):
    * given per-domain target shares in PERMILLE, compute the per-domain
    * keep rate that downsamples over-represented domains toward the
    * target mix without upsampling anyone —
    * `rate_q6 = min(10⁶, ⌊10⁶·target‰·T / (1000·tokens_d)⌋)` for corpus
    * total T — plus the kept-token projection and the ACHIEVED permille
    * share after capping (domains at rate 10⁶ stay whole, so the
    * achieved mix is what a one-pass filter can actually deliver; a
    * second iteration on the reported shares closes the gap if needed).
    * All floor arithmetic in DECIMAL(38,0), terminals BIGINT.
    *
    * Scale shape: one partial-agg'd groupBy to |domains| rows, a 1-row
    * total, then arithmetic on the |domains|-row table (the centroid
    * convention). The planner's output is what a `rand() < rate`-style
    * seeded-hash filter broadcast-joins against at 100 TB.
    */
  def domainMixturePlan(docs: DataFrame, targetsPermille: Seq[(String, Long)],
      domainCol: String = "source", tokenCol: String = "n_chars")
      : DataFrame =
    mixturePlanFromCells(
      domainTokenCells(docs, domainCol, tokenCol), targetsPermille, domainCol)

  /** The |domains|-row mergeable token-sum cells behind
    * [[domainMixturePlan]] — exposed separately (the calibrationCells
    * discipline) so the streaming engine can build them through the
    * state store and share the batch readout + oracle.
    */
  def domainTokenCells(docs: DataFrame, domainCol: String = "source",
      tokenCol: String = "n_chars"): DataFrame =
    docs.groupBy(col(domainCol).as("_g"))
      .agg(sum(tokenCol).as("toks"))

  /** Batch readout over [[domainTokenCells]] output. */
  def mixturePlanFromCells(per: DataFrame,
      targetsPermille: Seq[(String, Long)],
      domainCol: String = "source"): DataFrame = {
    require(targetsPermille.nonEmpty, "domainMixturePlan needs targets")
    val spark = per.sparkSession
    import spark.implicits._
    val tgt = targetsPermille.toDF("_g", "target_pm")
    val dec = "DECIMAL(38,0)"
    val planned = per.join(tgt, Seq("_g"))
      .crossJoin(per.agg(coalesce(sum("toks"), lit(0L)).as("_t")))
      .withColumn("rate_q6", least(lit(1000000L),
        expr(s"(CAST(target_pm AS $dec) * _t * 1000000)" +
          " DIV (CAST(1000 AS DECIMAL(38,0)) * toks)").cast("long")))
      .withColumn("kept_toks",
        expr(s"(CAST(toks AS $dec) * rate_q6) DIV 1000000").cast("long"))
    planned
      .crossJoin(planned.agg(coalesce(sum("kept_toks"), lit(0L)).as("_kt")))
      .select(col("_g").as(domainCol), col("toks"), col("target_pm"),
        col("rate_q6"), col("kept_toks"),
        when(col("_kt") =!= 0,
          expr(s"(CAST(kept_toks AS $dec) * 1000) DIV _kt").cast("long"))
          .as("achieved_pm"))
  }

  /** Temperature-scaled (α = 1/2) mixture weights — the multilingual /
    * multi-domain sampling standard (mT5, XLM-R: qᵢ ∝ pᵢ^α flattens
    * the head so low-resource domains are not starved) computed
    * EXACTLY: w = ⌊√toks⌋ through the shared floor-isqrt kernel
    * (x^(1/2) is the one fractional power integers can take exactly;
    * the Newton CTE replays it in DuckDB bit-for-bit), shares one
    * widened Q6 floor division each. Per domain: (source, toks,
    * raw_share_q6, w_sqrt, temp_share_q6) — raw vs tempered side by
    * side is the flattening a curator signs off on.
    *
    * Scale shape: [[domainTokenCells]]'s |domains|-row collapse, a
    * broadcast 2-number total, arithmetic on the |domains|-row table.
    */
  /** Temperature SWEEP — [[temperatureMixturePlan]]'s single α = ½
    * point extended to the whole exactly-computable grid: α ∈
    * {1, ½, ¼, ⅛} (Q3 units 1000/500/250/125), because iterated
    * floor-isqrt is exact at every halving (⌊√⌊√x⌋⌋ = ⌊x^¼⌋ — the
    * nested-floor identity), so every α point replays bit-for-bit in
    * the oracle's Newton CTE with zero new numeric machinery. Per
    * (α, source): the tempered weight, its Q6 share, and the α's
    * head share (max share across sources — the dominance number a
    * curator flattens AGAINST; it falls monotonically as α drops).
    * The q316/q315 planner discipline: ONE corpus collapse
    * ([[domainTokenCells]]), every α read off the same |domains|-row
    * table — no per-α corpus pass.
    *
    * Output: one row per (alpha_q3, source): (alpha_q3, source,
    * toks, w, share_q6, head_share_q6), |alphas|·|domains| rows.
    */
  def temperatureSweep(docs: DataFrame,
      alphasQ3: Seq[Long] = Seq(1000L, 500L, 250L, 125L),
      domainCol: String = "source", tokenCol: String = "n_chars")
      : DataFrame =
    temperatureSweepFromCells(domainTokenCells(docs, domainCol, tokenCol),
      alphasQ3, domainCol)

  /** Readout of [[temperatureSweep]] over prebuilt [[domainTokenCells]]
    * output — exposed separately (the calibrationCells discipline) so
    * the streaming engine's cell builder (the q280 state-store path)
    * shares the batch readout + oracle.
    */
  def temperatureSweepFromCells(cellsIn: DataFrame,
      alphasQ3: Seq[Long] = Seq(1000L, 500L, 250L, 125L),
      domainCol: String = "source"): DataFrame = {
    val grid = Set(1000L, 500L, 250L, 125L)
    require(alphasQ3.nonEmpty && alphasQ3.forall(grid.contains),
      s"temperatureSweep's exact grid is $grid (iterated floor-isqrt " +
        "halvings); got " + alphasQ3)
    import graft.plans.GraftExtensions.isqrtNative
    val dec = "DECIMAL(38,0)"
    val cells = Dedup.materialize(cellsIn
        .withColumn("_w1000", col("toks"))
        .withColumn("_w500", isqrtNative(col("toks")))
        .withColumn("_w250", isqrtNative(isqrtNative(col("toks"))))
        .withColumn("_w125",
          isqrtNative(isqrtNative(isqrtNative(col("toks"))))))
    val perAlpha = alphasQ3.distinct.sorted.reverse.map { a =>
      cells.select(lit(a).as("alpha_q3"), col("_g"), col("toks"),
        col(s"_w$a").as("w"))
    }.reduce(_.unionByName(_))
    val tot = perAlpha.groupBy("alpha_q3")
      .agg(coalesce(sum("w"), lit(0L)).as("_tw"))
    val wh = Window.partitionBy("alpha_q3")
    perAlpha.join(broadcast(tot), Seq("alpha_q3"))
      .withColumn("share_q6", when(col("_tw") =!= 0, expr(
        s"CAST((CAST(w AS $dec) * 1000000) DIV _tw AS BIGINT)")))
      .withColumn("head_share_q6", max("share_q6").over(wh))
      .select(col("alpha_q3"), col("_g").as(domainCol), col("toks"),
        col("w"), col("share_q6"), col("head_share_q6"))
  }

  /** Mixture FEASIBILITY solver — the composition of the temperature
    * sweep and the epochs planner (r16 verdict item #7): the sweep
    * ([[temperatureSweepFromCells]]) says what mixture each α implies;
    * [[graft.operators.TextAnalysis.epochsPlan]] says what repetition a
    * target mix demands of each source. The missing planner row is the
    * JOIN: given a token budget and a per-source repetition cap (the
    * Muennighoff ≤4-epoch constraint — repeating data past a few epochs
    * stops buying loss), which α grid points are FEASIBLE, and what
    * budget shortfall does each infeasible one carry.
    *
    * Per (α, source): the α-implied demand
    * `needed = ⌊budget·w / Σw⌋` (w = the sweep's iterated-floor-isqrt
    * tempered weight — every α point exact), the repetition it forces
    * `epochs_q3 = ⌈1000·needed / toks⌉`, whether that breaches the cap,
    * the cap-limited `achieved = min(needed, ⌊toks·maxEpochsQ3/1000⌋)`
    * and the per-source shortfall. Per α (broadcast on every row of its
    * group): `alpha_feasible` = no source capped, and the α's total
    * shortfall — the number a curator trades against the flattening
    * q326 reports. The floor in `needed` leaves ≤|domains| budget
    * tokens unassigned — conservative, never over-commits.
    *
    * Scale shape: ONE corpus collapse ([[domainTokenCells]], shared
    * with q326/q318); everything downstream is integer arithmetic and
    * α-partitioned windows over the |alphas|·|domains|-row cell table.
    */
  def mixtureFeasibility(docs: DataFrame, budgetTokens: Long,
      maxEpochsQ3: Long = 4000,
      alphasQ3: Seq[Long] = Seq(1000L, 500L, 250L, 125L),
      domainCol: String = "source", tokenCol: String = "n_chars")
      : DataFrame =
    mixtureFeasibilityFromCells(domainTokenCells(docs, domainCol, tokenCol),
      budgetTokens, maxEpochsQ3, alphasQ3, domainCol)

  /** [[mixtureFeasibility]] over prebuilt [[domainTokenCells]] output
    * (the FromCells discipline — streaming cells plug in unchanged).
    */
  def mixtureFeasibilityFromCells(cellsIn: DataFrame, budgetTokens: Long,
      maxEpochsQ3: Long = 4000,
      alphasQ3: Seq[Long] = Seq(1000L, 500L, 250L, 125L),
      domainCol: String = "source"): DataFrame = {
    require(budgetTokens >= 0,
      "mixtureFeasibility needs budgetTokens >= 0")
    require(maxEpochsQ3 >= 1, "mixtureFeasibility needs maxEpochsQ3 >= 1")
    val dec = "DECIMAL(38,0)"
    val wh = Window.partitionBy("alpha_q3")
    temperatureSweepFromCells(cellsIn, alphasQ3, domainCol)
      .withColumn("_tw", sum("w").over(wh))
      .withColumn("needed_tokens", when(col("_tw") =!= 0, expr(
        s"CAST((CAST($budgetTokens AS $dec) * w) DIV _tw AS BIGINT)"))
        .otherwise(lit(0L)))
      // needed = 0 forces 0 epochs even of an empty source; needed > 0
      // of a tokenless source cannot happen (w = isqrt(toks) = 0)
      .withColumn("epochs_q3", expr(
        s"CAST(CASE WHEN needed_tokens = 0 THEN 0 WHEN toks > 0 THEN" +
          s" (CAST(needed_tokens AS $dec) * 1000 + toks - 1) DIV toks" +
          " END AS BIGINT)"))
      .withColumn("capped", col("epochs_q3") > maxEpochsQ3)
      .withColumn("achieved_tokens", least(col("needed_tokens"), expr(
        s"CAST((CAST(toks AS $dec) * $maxEpochsQ3) DIV 1000 AS BIGINT)")))
      .withColumn("shortfall_tokens",
        col("needed_tokens") - col("achieved_tokens"))
      .withColumn("alpha_feasible",
        max(col("capped").cast("int")).over(wh) === 0)
      .withColumn("alpha_shortfall_tokens",
        sum("shortfall_tokens").over(wh))
      .select(col("alpha_q3"), col(domainCol), col("toks"), col("w"),
        col("needed_tokens"), col("epochs_q3"), col("capped"),
        col("achieved_tokens"), col("shortfall_tokens"),
        col("alpha_feasible"), col("alpha_shortfall_tokens"))
  }

  /** Anneal-phase mixture schedule — the two-phase (or N-phase)
    * training-mix plan the open pretraining recipes converge on
    * (MiniCPM's decay-phase high-quality up-weighting, OLMo's
    * end-of-run anneal, Llama-style final-stage data re-mixing): the
    * run's token budget splits into phases by exact permille, each
    * phase samples at its own temperature from the q326 grid — the
    * main phase near the natural mix (α→1), the anneal phase
    * flattened (α small) so low-resource/high-quality sources are
    * up-weighted exactly when the schedule says they matter most.
    * Per (phase, source): the phase budget and the α-implied demand
    * (the [[mixtureFeasibilityFromCells]] floor arithmetic). Per
    * source, ACROSS phases: total demand, the repetition it forces
    * (the epoch cap binds on a source's total reuse over the whole
    * run, not per phase), cap breach, shortfall. Plan-wide: feasible
    * verdict + total shortfall, broadcast on every row.
    *
    * Scale shape: ONE corpus collapse ([[domainTokenCells]], shared
    * with q326/q333), then integer arithmetic and joins over
    * |phases|·|domains|-row cell tables (per-source fold is a groupBy
    * of that table; plan scalars a broadcast 1-row agg).
    */
  def annealMixturePlan(docs: DataFrame, budgetTokens: Long,
      phases: Seq[(String, Long, Long)] =
        Seq(("main", 900L, 1000L), ("anneal", 100L, 250L)),
      maxEpochsQ3: Long = 4000, domainCol: String = "source",
      tokenCol: String = "n_chars"): DataFrame =
    annealMixturePlanFromCells(domainTokenCells(docs, domainCol, tokenCol),
      budgetTokens, phases, maxEpochsQ3, domainCol)

  /** [[annealMixturePlan]] over prebuilt [[domainTokenCells]] output.
    * `phases` = (name, share_pm, alpha_q3); shares must sum to 1000
    * (the budget partitions exactly), alphas from the q326 grid.
    */
  def annealMixturePlanFromCells(cellsIn: DataFrame, budgetTokens: Long,
      phases: Seq[(String, Long, Long)], maxEpochsQ3: Long = 4000,
      domainCol: String = "source"): DataFrame = {
    require(budgetTokens >= 0, "annealMixturePlan needs budgetTokens >= 0")
    require(maxEpochsQ3 >= 1, "annealMixturePlan needs maxEpochsQ3 >= 1")
    require(phases.nonEmpty, "annealMixturePlan needs phases")
    require(phases.map(_._1).distinct.size == phases.size,
      "annealMixturePlan phase names must be distinct: " + phases)
    require(phases.forall(_._2 >= 1),
      "annealMixturePlan phase shares must be >= 1 pm: " + phases)
    require(phases.map(_._2).sum == 1000L,
      "annealMixturePlan phase shares must sum to 1000 pm: " + phases)
    val spark = cellsIn.sparkSession
    import spark.implicits._
    val dec = "DECIMAL(38,0)"
    val ph = phases.toDF("phase", "phase_pm", "alpha_q3")
    val sweep = temperatureSweepFromCells(cellsIn,
      phases.map(_._3).distinct, domainCol)
    val wh = Window.partitionBy("phase")
    val rows = ph.join(sweep, Seq("alpha_q3"))
      .withColumn("phase_budget_tokens", expr(
        s"CAST((CAST($budgetTokens AS $dec) * phase_pm) DIV 1000" +
          " AS BIGINT)"))
      .withColumn("_tw", sum("w").over(wh))
      .withColumn("needed_tokens", when(col("_tw") =!= 0, expr(
        s"CAST((CAST(phase_budget_tokens AS $dec) * w) DIV _tw" +
          " AS BIGINT)")).otherwise(lit(0L)))
    val perSource = rows.groupBy(col(domainCol), col("toks"))
      .agg(sum("needed_tokens").as("source_needed_tokens"))
      .withColumn("epochs_q3", expr(
        s"CAST(CASE WHEN source_needed_tokens = 0 THEN 0" +
          s" WHEN toks > 0 THEN (CAST(source_needed_tokens AS $dec)" +
          " * 1000 + toks - 1) DIV toks END AS BIGINT)"))
      .withColumn("capped", col("epochs_q3") > maxEpochsQ3)
      .withColumn("_short", col("source_needed_tokens") -
        least(col("source_needed_tokens"), expr(
          s"CAST((CAST(toks AS $dec) * $maxEpochsQ3) DIV 1000" +
            " AS BIGINT)")))
    val plan = perSource.agg(
      (coalesce(max(col("capped").cast("int")), lit(0)) === 0)
        .as("plan_feasible"),
      coalesce(sum("_short"), lit(0L)).cast("long")
        .as("plan_shortfall_tokens"))
    rows
      .join(broadcast(perSource.drop("toks", "_short")), Seq(domainCol))
      .crossJoin(plan)
      .select(col("phase"), col("phase_pm"), col("alpha_q3"),
        col(domainCol), col("toks"), col("w"),
        col("phase_budget_tokens"), col("needed_tokens"),
        col("source_needed_tokens"), col("epochs_q3"), col("capped"),
        col("plan_feasible"), col("plan_shortfall_tokens"))
  }

  def temperatureMixturePlan(docs: DataFrame,
      domainCol: String = "source", tokenCol: String = "n_chars")
      : DataFrame = {
    val dec = "DECIMAL(38,0)"
    val w = domainTokenCells(docs, domainCol, tokenCol)
      .withColumn("w_sqrt",
        graft.plans.GraftExtensions.isqrtNative(col("toks")))
    val tot = w.agg(coalesce(sum("toks"), lit(0L)).as("_t"),
      coalesce(sum("w_sqrt"), lit(0L)).as("_tw"))
    w.crossJoin(tot)
      .withColumn("raw_share_q6", when(col("_t") =!= 0, expr(
        s"CAST((CAST(toks AS $dec) * 1000000) DIV _t AS BIGINT)")))
      .withColumn("temp_share_q6", when(col("_tw") =!= 0, expr(
        s"CAST((CAST(w_sqrt AS $dec) * 1000000) DIV _tw AS BIGINT)")))
      .select(col("_g").as(domainCol), col("toks"), col("raw_share_q6"),
        col("w_sqrt"), col("temp_share_q6"))
  }
}
