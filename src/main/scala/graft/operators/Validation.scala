package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-contract validation and dimension-history maintenance — the
  * operational bookends of a training-data pipeline: assert what goes
  * IN (constraint suites, Deequ-style) and version what changes OVER
  * TIME (SCD2 validity ranges).
  *
  * The reference validates eagerly at construction (equal-length named
  * columns, cf. reference dataset/abstract.py `__init__` checks); at
  * corpus scale validation must instead be a QUERY — one scan emitting
  * a constraint report — and history a MERGE, not a rewrite.
  */
object Validation {

  /** One declarative data-quality constraint: `name`, the aggregated
    * `observed` count/sum, the `expected` value it is compared to, and
    * the comparison. All exact integers — a report row never carries a
    * float, so pass/fail is engine-independent.
    */
  final case class Constraint(name: String, observed: Column,
      expected: Column, geq: Boolean = false)

  /** Evaluate a constraint suite in ONE scan: every `observed` is a
    * conditional aggregate, so the whole suite folds into a single
    * partial-agg'd `agg()` (plus Spark's expand for distinct-counts) —
    * report cost is one pass regardless of suite size, the Deequ
    * execution model re-expressed as a Catalyst plan.
    *
    * Output: (constraint, observed, expected, passed) — one row per
    * constraint, dashboard-sized.
    */
  def constraintReport(df: DataFrame, suite: Seq[Constraint]): DataFrame = {
    require(suite.nonEmpty, "empty constraint suite")
    val aggs = suite.zipWithIndex.flatMap { case (c, i) =>
      Seq(c.observed.cast("long").as(s"_o$i"), c.expected.cast("long").as(s"_e$i"))
    }
    val rows = suite.zipWithIndex.map { case (c, i) =>
      val passed =
        if (c.geq) col(s"_o$i") >= col(s"_e$i") else col(s"_o$i") === col(s"_e$i")
      struct(lit(c.name).as("constraint"), col(s"_o$i").as("observed"),
        col(s"_e$i").as("expected"), passed.as("passed"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rows: _*)).as("_c"))
      .select(col("_c.constraint"), col("_c.observed"),
        col("_c.expected"), col("_c.passed"))
  }

  /** [[constraintReport]] per group (Deequ's group-by analyzers): the
    * same one-scan fold, keyed — a 10k-source corpus yields a
    * 10k×|suite| report from ONE partial-agg'd shuffle of the group
    * keys, which is how per-source health checks stay affordable when
    * the corpus doesn't fit a second pass.
    *
    * Output: (groupCols*, constraint, observed, expected, passed).
    */
  def constraintReportBy(df: DataFrame, groupCols: Seq[String],
      suite: Seq[Constraint]): DataFrame = {
    require(suite.nonEmpty, "empty constraint suite")
    val aggs = suite.zipWithIndex.flatMap { case (c, i) =>
      Seq(c.observed.cast("long").as(s"_o$i"), c.expected.cast("long").as(s"_e$i"))
    }
    val rows = suite.zipWithIndex.map { case (c, i) =>
      val passed =
        if (c.geq) col(s"_o$i") >= col(s"_e$i") else col(s"_o$i") === col(s"_e$i")
      struct(lit(c.name).as("constraint"), col(s"_o$i").as("observed"),
        col(s"_e$i").as("expected"), passed.as("passed"))
    }
    df.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(groupCols.map(col) :+ explode(array(rows: _*)).as("_c"): _*)
      .select(groupCols.map(col) :+ col("_c.constraint") :+
        col("_c.observed") :+ col("_c.expected") :+ col("_c.passed"): _*)
  }

  /** The standard suite for a document corpus: completeness, key
    * uniqueness, domain membership, non-emptiness — the checks a crawl
    * ingest runs before anything downstream touches the shard.
    */
  def documentSuite(langs: Seq[String]): Seq[Constraint] = Seq(
    Constraint("complete_text", count(col("text")), count(lit(1))),
    Constraint("unique_doc_id", countDistinct(col("doc_id")), count(lit(1))),
    Constraint("nonneg_n_chars",
      sum(when(col("n_chars") >= 0, 1L).otherwise(0L)), count(lit(1))),
    Constraint("lang_in_domain",
      sum(when(col("lang").isin(langs: _*), 1L).otherwise(0L)), count(lit(1))),
    Constraint("text_nonempty",
      sum(when(length(col("text")) > 0, 1L).otherwise(0L)), count(lit(1))),
    Constraint("sum_chars_floor", sum(col("n_chars")),
      count(lit(1)) * 100L, geq = true))

  /** SCD2 merge: fold versioned attribute updates into a validity-
    * ranged dimension history. `base` and `updates` both carry
    * (keyCol, attrCols*, verCol) — base rows are the original versions,
    * update rows later ones; ties on (key, ver) must not occur (the
    * caller picks ver = event time). Output: one row per version with
    * `valid_from` = its ver, `valid_to` = the NEXT version's ver (null
    * on the current row), `is_current`.
    *
    * Scale shape: one union + one per-key window (lead over ≤ a few
    * versions per key) — the merge never rewrites unchanged keys'
    * history and nothing is partition-less. This is the query-side
    * semantics of a warehouse MERGE INTO for type-2 dimensions.
    */
  /** Functional-dependency audit: determinant values for which
    * `detCol → depCol` does NOT hold, with the violation's shape
    * (distinct dependent count, row count, dependent min/max as
    * witnesses). The data-profiling primitive behind "is this column a
    * key for that one" / "did the dimension drift".
    *
    * Scale shape: one partial-agg'd groupBy(det) carrying a
    * count-distinct — Spark plans it as two hash aggregations over the
    * same key partitioning, no window, no join.
    */
  def fdViolations(df: DataFrame, detCol: String, depCol: String): DataFrame =
    df.groupBy(col(detCol))
      .agg(countDistinct(col(depCol)).as("n_dep"),
        count(lit(1)).as("n_rows"),
        min(col(depCol)).as("dep_min"),
        max(col(depCol)).as("dep_max"))
      .filter(col("n_dep") > 1)

  def scd2Merge(base: DataFrame, updates: DataFrame, keyCol: String,
      attrCols: Seq[String], verCol: String): DataFrame = {
    val cols = (keyCol +: attrCols :+ verCol).map(col)
    val all = base.select(cols: _*).unionByName(updates.select(cols: _*))
    val w = Window.partitionBy(keyCol).orderBy(col(verCol))
    all
      .withColumn("valid_from", col(verCol))
      .withColumn("valid_to", lead(col(verCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .drop(verCol)
  }

  /** Type-1 upsert (latest-wins MERGE INTO): base + updates collapse to
    * the CURRENT row per key — the newest version by `verCol` (exact
    * integer versions, so "newest" is engine-unambiguous). The type-1
    * companion to [[scd2Merge]]'s type-2 history: same inputs, one
    * union + one per-key window, keeps only rn=1.
    */
  def upsertLatest(base: DataFrame, updates: DataFrame, keyCol: String,
      attrCols: Seq[String], verCol: String): DataFrame = {
    val cols = (keyCol +: attrCols :+ verCol).map(col)
    val all = base.select(cols: _*).unionByName(updates.select(cols: _*))
    val w = Window.partitionBy(keyCol).orderBy(col(verCol).desc)
    all.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Partial-aggregate STATE table for incremental rollups: per
    * (groupCols*, shard) row count + DECIMAL(18,4)-exact value sum.
    * The state is persistable parquet (tiny — |groups|×|shards| rows);
    * new shards (days, drops, partitions) append their own state and
    * [[mergeAggStates]] folds them — so a daily dashboard re-aggregates
    * sketch-sized state instead of re-scanning history, the same
    * table-as-state discipline as the HLL register tables.
    */
  def aggState(df: DataFrame, groupCols: Seq[String], shardCol: String,
      valueCol: String): DataFrame =
    df.groupBy((groupCols :+ shardCol).map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,4)")).as("val_sum"))

  /** Fold state tables to per-group totals: union + one groupBy SUM.
    * Counts are integers and sums are DECIMAL — both associative-exact,
    * so merged-state totals ≡ a full recompute bit-for-bit regardless
    * of how the input was sharded.
    */
  def mergeAggStates(states: Seq[DataFrame],
      groupCols: Seq[String]): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy(groupCols.map(col): _*)
      .agg(sum("n").as("n"), sum("val_sum").as("val_sum"))

  /** Benford's-law first-significant-digit permille table (published
    * constants, ⌊1000·log₁₀(1 + 1/d)⌋-ish rounded values).
    */
  private val BenfordPermille =
    Seq(301L, 176L, 125L, 97L, 79L, 67L, 58L, 51L, 46L)

  /** Benford first-digit audit over a positive monetary column — the
    * classic fabricated-data / unit-mix-up screen. Values route
    * through DECIMAL(18,2) cents (exact for 2-decimal money) and the
    * first digit comes from the INTEGER's decimal string — no
    * double→string rendering anywhere, so both engines see identical
    * digits. Output per digit 1–9: observed count, expected permille
    * (literal constants), and excess_milli = 1000·n_obs −
    * permille·N — an exact integer deviation (positive = over-
    * represented), so the report carries no float at all.
    *
    * Scale shape: one scan + one 9-key groupBy + a 9×1 scalar join.
    */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame =
    benfordFromCells(benfordDigitCells(df, valueCol))

  /** The ≤9 mergeable digit-count cells behind [[benfordAudit]] —
    * exposed separately (the calibrationCells discipline) so the
    * streaming engine can build them through the state store and share
    * the batch readout + oracle.
    */
  def benfordDigitCells(df: DataFrame, valueCol: String): DataFrame = {
    // filter on CENTS >= 1, not value > 0: values in (0, 0.005) round
    // to 0 cents and would otherwise get first digit '0' — excluded
    // from every digit row yet counted in n_total, deflating all nine
    // excess_milli values (r11 ADVICE)
    val cents = (col(valueCol).cast("decimal(18,2)") * 100).cast("long")
    df.select(cents.as("_cents"))
      .filter(col("_cents") >= 1)
      .select(substring(col("_cents").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
  }

  /** Batch readout over [[benfordDigitCells]] output. */
  def benfordFromCells(obs: DataFrame): DataFrame = {
    val spark = obs.sparkSession
    import spark.implicits._
    val total = obs.agg(coalesce(sum("n_obs"), lit(0L)).as("n_total"))
    val expected = BenfordPermille.zipWithIndex
      .map { case (p, i) => (i + 1, p) }
      .toDF("digit", "expected_permille")
    expected.join(obs, Seq("digit"), "left")
      .na.fill(0L, Seq("n_obs"))
      .crossJoin(total)
      .withColumn("excess_milli",
        lit(1000L) * col("n_obs") - col("expected_permille") * col("n_total"))
      .select(col("digit"), col("n_obs"), col("expected_permille"),
        col("excess_milli"))
  }

  /** One-pass table profile: for every column, (column, n_rows,
    * n_nulls, n_distinct) — the first thing a data engineer asks of an
    * unfamiliar table, and the null/cardinality inputs to join
    * planning, skew forecasts, and dq alerting.
    *
    * Scale shape: ONE aggregation statement over the scan — Spark
    * plans the multi-column distinct set via Expand (rows × #cols
    * inside the map side, one shuffle) instead of #cols separate
    * jobs/scans. The single result row is schema-bounded (2·#cols+1
    * numbers) and unpivots on the driver. Exact distinct counts —
    * swap in `graft_hll` per column for the sketched variant at
    * petabyte cardinalities.
    */
  def profileTable(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cols = df.columns.toSeq
    val aggs: Seq[org.apache.spark.sql.Column] =
      cols.flatMap(c => Seq(count(col(c)).as(s"_c_$c"),
        count_distinct(col(c)).as(s"_d_$c")))
    val r = df.agg(count(lit(1)).as("_n"), aggs: _*).head()
    val n = r.getAs[Long]("_n")
    cols.map(c => (c, n, n - r.getAs[Long](s"_c_$c"),
        r.getAs[Long](s"_d_$c")))
      .toDF("column", "n_rows", "n_nulls", "n_distinct")
  }

  /** k-anonymity audit over a quasi-identifier combination: group
    * sizes on the quasi-id tuple, the minimum equivalence-class size,
    * and the rows sitting in classes smaller than `k` — the
    * re-identification exposure of a would-be released projection,
    * as exact integers (rate in Q9). The privacy-QA counterpart of
    * [[profileTable]].
    *
    * Scale shape: one partial-agg'd groupBy on the quasi-id tuple,
    * then a 1-row readout agg — nothing per-row downstream.
    */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String],
      k: Int = 10): DataFrame =
    kAnonymityFromCells(kAnonymityCells(df, quasiCols), k)

  /** The per-quasi-class size cells behind [[kAnonymityAudit]] —
    * exposed separately (the calibrationCells discipline) so the
    * streaming engine can build them through the state store and
    * share the batch readout + oracle. One row per equivalence class:
    * (quasi cols…, _n).
    */
  def kAnonymityCells(df: DataFrame, quasiCols: Seq[String]): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymityAudit needs quasi-id columns")
    df.groupBy(quasiCols.map(col): _*).agg(count(lit(1)).as("_n"))
  }

  /** 1-row readout over [[kAnonymityCells]] output. */
  def kAnonymityFromCells(g: DataFrame, k: Int = 10): DataFrame =
    g.agg(sum("_n").as("n_rows"), count(lit(1)).as("n_groups"),
        min("_n").as("min_group_size"),
        sum(when(col("_n") < k, col("_n")).otherwise(0L)).as("n_violating"))
      .withColumn("viol_rate_q9", when(col("n_rows") =!= 0,
        expr("(CAST(n_violating AS DECIMAL(38,0)) * 1000000000) DIV n_rows")))

  /** l-diversity audit — [[kAnonymityAudit]]'s stronger sibling: a
    * quasi-id class with many rows is still exposed if they all share
    * ONE sensitive value (the homogeneity attack k-anonymity misses).
    * Per class: distinct sensitive values; report the minimum
    * diversity, classes (and rows) whose diversity < `l`, and the Q9
    * violating-row rate — all exact integers.
    *
    * Scale shape: one partial-agg'd two-level groupBy (class ×
    * sensitive collapses first, then class — both map-side
    * combinable), then a 1-row readout agg. Nothing per-row
    * downstream; no distinct-count sketch needed because the inner
    * groupBy IS the exact distinct.
    */
  def lDiversityAudit(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, l: Int = 3): DataFrame = {
    require(quasiCols.nonEmpty, "lDiversityAudit needs quasi-id columns")
    val qs = quasiCols.map(col)
    val inner = df
      .groupBy(qs :+ col(sensitiveCol).as("_s"): _*)
      .agg(count(lit(1)).as("_n"))
    val g = inner.groupBy(qs: _*)
      .agg(count(lit(1)).as("_l"), sum("_n").as("_rows"))
    g.agg(coalesce(sum("_rows"), lit(0L)).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min("_l").as("min_l"),
        coalesce(sum(when(col("_l") < l, lit(1L)).otherwise(0L)), lit(0L))
          .as("n_violating_classes"),
        coalesce(sum(when(col("_l") < l, col("_rows")).otherwise(0L)),
          lit(0L)).as("n_rows_violating"))
      .withColumn("viol_rate_q9", when(col("n_rows") =!= 0,
        expr("(CAST(n_rows_violating AS DECIMAL(38,0)) * 1000000000)" +
          " DIV n_rows")))
  }

  /** Generic table diff — the dataset-versioning audit (what changed
    * between two drops of the same KEYED table, the question every
    * reproducibility postmortem starts with; the structured-table
    * counterpart of [[graft.operators.Dedup.snapshotDiff]]'s
    * digest-based corpus view): keyed full-outer
    * compare of two snapshots, each row classified
    * added / removed / changed / unchanged by null-safe equality over
    * the value columns, collapsed to one row per status with a Q6
    * share of the union row count. Pairs with [[constraintSuite]]
    * (is the new drop WELL-FORMED) — this asks whether it is the
    * SAME data.
    *
    * Scale shape: ONE key-partitioned full-outer join (both sides
    * shuffle by the key — the minimum possible for a keyed diff; at
    * 100 TB bucket both snapshots by the key and the Exchanges
    * vanish, the q70 layout), per-row classification map-side after
    * the join, a ≤4-row aggregate readout.
    */
  def tableDiff(before: DataFrame, after: DataFrame,
      keyCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "tableDiff needs key columns")
    require(valueCols.nonEmpty, "tableDiff needs value columns")
    val b = before.select((keyCols ++ valueCols).map(col): _*)
      .withColumn("_inb", lit(1))
    val a0 = after.select(
      keyCols.map(col) ++ valueCols.map(c => col(c).as(s"_a_$c")): _*)
      .withColumn("_ina", lit(1))
    val same = valueCols
      .map(c => col(c) <=> col(s"_a_$c"))
      .reduce(_ && _)
    val tagged = b.join(a0, keyCols, "full_outer")
      .withColumn("_st",
        when(col("_inb").isNull, "added")
          .when(col("_ina").isNull, "removed")
          .when(same, "unchanged")
          .otherwise("changed"))
    val cells = tagged.groupBy(col("_st").as("status"))
      .agg(count(lit(1)).as("n_rows"))
    val tot = cells.agg(coalesce(sum("n_rows"), lit(0L)).as("_t"))
    cells.crossJoin(tot)
      .withColumn("share_q6", when(col("_t") > 0, expr(
        "CAST((CAST(n_rows AS DECIMAL(38,0)) * 1000000) DIV _t" +
          " AS BIGINT)")))
      .select(col("status"), col("n_rows"), col("share_q6"))
  }

  /** Join-skew preflight — the EXACT pre-flight a pipeline runs before
    * a big equi-join ("will this explode, and on which keys"): per
    * join key the left/right multiplicities and their PRODUCT (the
    * join's exact per-key output rows — the number that blows up on
    * clone-saturated or hot keys, the q178/q208 class this table
    * predicts), the top-k keys by that product, the join's exact
    * total output size, and the skew factor (max per-key pairs ×
    * |matched keys| / total pairs, Q6 — 10⁶ = perfectly uniform; the
    * salting decision reads directly off it). Complements q161's
    * CMS ESTIMATE with the exact table: the estimate costs one pass
    * and no shuffle, this costs the partial-agg'd key collapse and
    * returns per-key attribution.
    *
    * Output: one row per top-k matched key (rank, key, n_left,
    * n_right, n_pairs, pair_share_q6) with the broadcast scalars
    * (total_pairs, n_keys, skew_q6) on every row.
    *
    * Scale shape: each side collapses map-side to per-key counts
    * (partial agg on the join key — the shuffle moves |keys| rows,
    * never the tables); the count-cell join shuffles only those
    * cells; the top-k is the bounded native aggregate; scalars are
    * 1-row crossJoins. Nothing corpus-sized leaves the executors.
    */
  def joinSkewPreflight(left: DataFrame, right: DataFrame,
      keyCol: String, k: Int = 10): DataFrame = {
    require(k >= 1, "joinSkewPreflight needs k >= 1")
    val cells = joinSkewCells(left, right, keyCol)
    val tot = cells.agg(
      coalesce(sum("n_pairs"), lit(0).cast("decimal(38,0)"))
        .as("total_pairs"),
      count(lit(1)).as("n_keys"),
      coalesce(max("n_pairs"), lit(0).cast("decimal(38,0)"))
        .as("_maxp"))
    // rank = position in the (n_pairs DESC, key ASC) bounded top-k array
    val topk = cells.agg(graft.plans.GraftExtensions.topKNative(
        col("n_pairs").cast("double"), col("key"), k).as("_t"))
      .select(posexplode(col("_t")).as(Seq("_pos", "p")))
      .select((col("_pos") + 1).cast("long").as("rank"),
        col("p.id").as("key"))
    topk.join(cells, Seq("key"))
      .crossJoin(tot)
      .withColumn("pair_share_q6", when(col("total_pairs") > 0, expr(
        "CAST((n_pairs * 1000000) DIV total_pairs AS BIGINT)")))
      .withColumn("skew_q6", when(col("total_pairs") > 0, expr(
        "CAST((_maxp * n_keys * 1000000) DIV total_pairs AS BIGINT)")))
      .select(col("rank"), col("key"),
        col("n_left"), col("n_right"),
        col("n_pairs").cast("long").as("n_pairs"),
        col("pair_share_q6"),
        col("total_pairs").cast("long").as("total_pairs"),
        col("n_keys"), col("skew_q6"))
  }

  /** The per-key multiplicity cells behind [[joinSkewPreflight]] AND
    * [[saltPlan]] — one build site (the calibrationCells discipline):
    * (key, n_left, n_right, n_pairs DECIMAL(38,0)), materialized so
    * audit and remedy read the same table. Each side collapses
    * map-side to per-key counts; the shuffle moves |keys| rows, never
    * the tables.
    */
  def joinSkewCells(left: DataFrame, right: DataFrame,
      keyCol: String): DataFrame = {
    // integral keys only (the native top-k carries BIGINT ids) — and
    // enforced loudly (r16 ADVICE): a silent cast would turn string
    // keys into NULL groups that vanish from the cell equi-join and
    // truncate-and-merge fractional doubles, so a misused preflight
    // would read back "no skew" instead of failing. A safety tool
    // must fail on misuse, not reassure.
    Seq("left" -> left, "right" -> right).foreach { case (side, df) =>
      val dt = df.schema(keyCol).dataType
      val ok = dt == org.apache.spark.sql.types.LongType ||
        dt == org.apache.spark.sql.types.IntegerType ||
        dt == org.apache.spark.sql.types.ShortType ||
        dt == org.apache.spark.sql.types.ByteType
      require(ok, s"joinSkewCells needs an integral join key; " +
        s"$side('$keyCol') is $dt — hash or dictionary-encode it first")
    }
    val cl = left.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).cast("long").as("key"))
      .agg(count(lit(1)).as("n_left"))
    val cr = right.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).cast("long").as("key"))
      .agg(count(lit(1)).as("n_right"))
    Dedup.materialize(cl.join(cr, Seq("key"))
      .withColumn("n_pairs", expr(
        "CAST(CAST(n_left AS DECIMAL(38,0)) * n_right AS DECIMAL(38,0))")))
  }

  /** Salting plan — the remedy [[joinSkewPreflight]] demands: for every
    * key whose exact pair product exceeds `targetPairs`, the salt
    * fan-out that brings its worst task back under the target, the
    * replication rows that fan-out costs, and the residual worst-task
    * load — the audit→remedy loop for joins (the q331/q335 discipline:
    * remedy numbers read through the same cells as the audit).
    *
    * Mechanics (one-sided salting): the LARGER side of a hot key
    * splits into S salt buckets, the smaller side replicates S ways.
    * With n_small ≤ target, `rows_per_task = max(1, target DIV
    * n_small)` and `S = ceil(n_big / rows_per_task)` guarantees every
    * salted task carries `ceil(n_big/S)·n_small ≤ target` pairs —
    * exact integer arithmetic, no estimate anywhere. The residual
    * bound assumes the split side salts BALANCED within the key
    * (round-robin on a per-key rank — spec-verified); a random hash
    * salt only approximates it. When n_small >
    * target one-sided salting CANNOT reach the target (even a
    * single big-side row pairs with the whole small side); those keys
    * are flagged `n_grid_keys` (they need both-side grid salting) and
    * planned at S = n_big, the one-sided floor.
    *
    * Output: one row per distinct fan-out (bounded by log-ish many
    * values, dashboard-sized regardless of key count): salt_fanout,
    * n_keys, sum_pairs, repl_rows (Σ (S−1)·n_small), max_task_pairs
    * (worst residual task among these keys) — with the plan-wide
    * scalars (n_salted_keys, total_repl_rows, max_task_pairs_after,
    * total_pairs, n_grid_keys) on every row.
    *
    * Scale shape: arithmetic on the |keys|-row cell table + one
    * fan-out groupBy + a 1-row broadcast scalar join. Nothing
    * corpus-sized moves.
    */
  def saltPlan(left: DataFrame, right: DataFrame, keyCol: String,
      targetPairs: Long): DataFrame =
    saltPlanFromCells(joinSkewCells(left, right, keyCol), targetPairs)

  /** The per-key fan-out derivation shared by [[saltPlanFromCells]]
    * (the plan readout) and [[Skew.saltedEquiJoin]] (the executor) —
    * ONE formula site. Adds to the cells: _ns/_nb (small/big side),
    * _s (fan-out), _residual (worst-task pairs), _repl (replication
    * rows), _grid (one-sided salting cannot reach the target).
    */
  private[operators] def withFanout(cells: DataFrame,
      targetPairs: Long): DataFrame = {
    require(targetPairs >= 1, "saltPlan needs targetPairs >= 1")
    val t = lit(targetPairs).cast("decimal(38,0)")
    cells
      .withColumn("_ns", least(col("n_left"), col("n_right"))
        .cast("decimal(38,0)"))
      .withColumn("_nb", greatest(col("n_left"), col("n_right"))
        .cast("decimal(38,0)"))
      // rows of the split side each salted task may carry — integral
      // DIV (a decimal divide would ROUND, not floor)
      .withColumn("_tr",
        greatest(lit(1L), expr(s"${targetPairs}L DIV _ns")))
      .withColumn("_s", when(col("n_pairs") <= t, lit(1L))
        .otherwise(expr("(_nb + _tr - 1) DIV _tr")))
      .withColumn("_residual",
        expr("CAST(((_nb + _s - 1) DIV _s) AS DECIMAL(38,0)) * _ns"))
      .withColumn("_repl",
        expr("CAST((_s - 1) AS DECIMAL(38,0)) * _ns"))
      .withColumn("_grid",
        when(col("n_pairs") > t && col("_ns") > t, lit(1L)).otherwise(0L))
  }

  /** [[saltPlan]] readout over a prebuilt [[joinSkewCells]] table. */
  def saltPlanFromCells(cells: DataFrame, targetPairs: Long): DataFrame = {
    val planned = withFanout(cells, targetPairs)
    val tot = planned.agg(
      coalesce(sum("n_pairs"), lit(0).cast("decimal(38,0)"))
        .as("_total_pairs"),
      coalesce(sum(when(col("_s") > 1, lit(1L)).otherwise(0L)), lit(0L))
        .as("_n_salted"),
      coalesce(sum("_repl"), lit(0).cast("decimal(38,0)")).as("_total_repl"),
      coalesce(max("_residual"), lit(0).cast("decimal(38,0)")).as("_max_after"),
      coalesce(sum("_grid"), lit(0L)).as("_n_grid"))
    planned.groupBy(col("_s").cast("long").as("salt_fanout"))
      .agg(count(lit(1)).as("n_keys"),
        sum("n_pairs").cast("long").as("sum_pairs"),
        sum("_repl").cast("long").as("repl_rows"),
        max("_residual").cast("long").as("max_task_pairs"))
      .crossJoin(tot)
      .select(col("salt_fanout"), col("n_keys"), col("sum_pairs"),
        col("repl_rows"), col("max_task_pairs"),
        col("_n_salted").as("n_salted_keys"),
        col("_total_repl").cast("long").as("total_repl_rows"),
        col("_max_after").cast("long").as("max_task_pairs_after"),
        col("_total_pairs").cast("long").as("total_pairs"),
        col("_n_grid").as("n_grid_keys"))
  }

  /** t-closeness audit — the third leg of the privacy triad after
    * [[kAnonymityAudit]] (class size) and [[lDiversityAudit]] (distinct
    * sensitive values): a class can be large AND diverse yet still
    * leak if its sensitive DISTRIBUTION deviates from the table's (a
    * class that is 90% top-band salaries discloses plenty). Per
    * quasi-class: the Earth-Mover's Distance between the class's and
    * the global sensitive-band distribution under the standard ordered
    * metric, EMD = Σᵢ |cumP(i) − cumQ(i)| / (B−1) — computed EXACTLY in
    * Q9 via cross-multiplied integer cumulative counts
    * (|cumC·N − cumG·n| avoids every intermediate fraction), so both
    * engines see identical numbers. Bands must be integral (the
    * ordered ground metric is band distance; the loud-failure
    * discipline of [[joinSkewCells]]).
    *
    * Output (1 row): n_rows, n_classes, n_bands, max_emd_q9,
    * n_violating_classes (emd > tQ9), n_rows_violating, viol_rate_q9.
    *
    * Scale shape: one partial-agg'd (class × band) collapse = the
    * cells; everything after is cells-sized — band cum via a ≤B×B
    * self-join (no partition-less window), the class×band grid via a
    * broadcast of the ≤B cum rows, per-class sums, a 1-row readout.
    */
  def tClosenessAudit(df: DataFrame, quasiCols: Seq[String],
      bandCol: String, tQ9: Long = 150000000L): DataFrame =
    tClosenessFromCells(tClosenessCells(df, quasiCols, bandCol),
      quasiCols, tQ9)

  /** The (quasi…, _band, _n) count cells behind [[tClosenessAudit]] —
    * exposed separately (the calibrationCells discipline) so the
    * streaming engine can build them through the state store and
    * share the batch readout + oracle.
    */
  def tClosenessCells(df: DataFrame, quasiCols: Seq[String],
      bandCol: String): DataFrame = {
    require(quasiCols.nonEmpty, "tClosenessAudit needs quasi-id columns")
    val dt = df.schema(bandCol).dataType
    val ok = dt == org.apache.spark.sql.types.LongType ||
      dt == org.apache.spark.sql.types.IntegerType ||
      dt == org.apache.spark.sql.types.ShortType ||
      dt == org.apache.spark.sql.types.ByteType
    require(ok, s"tClosenessAudit needs an integral ordered band " +
      s"column; '$bandCol' is $dt — band it first")
    df.groupBy(quasiCols.map(col) :+
        col(bandCol).cast("long").as("_band"): _*)
      .agg(count(lit(1)).as("_n"))
  }

  /** 1-row readout over [[tClosenessCells]] output. */
  def tClosenessFromCells(cells: DataFrame, quasiCols: Seq[String],
      tQ9: Long): DataFrame = {
    require(tQ9 >= 0, "tClosenessAudit needs tQ9 >= 0")
    val perClass = tClosenessPerClass(cells, quasiCols)
    perClass.agg(
        coalesce(max("_N"), lit(0L)).as("n_rows"),
        count(lit(1)).as("n_classes"),
        coalesce(max("_B"), lit(0L)).as("n_bands"),
        max("emd_q9").as("max_emd_q9"),
        coalesce(sum(when(col("emd_q9") > tQ9, lit(1L)).otherwise(0L)),
          lit(0L)).as("n_violating_classes"),
        coalesce(sum(when(col("emd_q9") > tQ9, col("_nc")).otherwise(0L)),
          lit(0L)).as("n_rows_violating"))
      .withColumn("viol_rate_q9", when(col("n_rows") =!= 0, expr(
        "CAST((CAST(n_rows_violating AS DECIMAL(38,0)) * 1000000000)" +
          " DIV n_rows AS BIGINT)")))
  }

  /** Worst classes by t-closeness EMD — the per-class attribution the
    * 1-row [[tClosenessFromCells]] readout intentionally hides: WHICH
    * quasi-classes carry the distributional leak, top-k by Q9 EMD
    * (ties broken on the quasi tuple — deterministic on both
    * engines). The remediation worklist next to the audit number.
    */
  def tClosenessByClass(cells: DataFrame, quasiCols: Seq[String],
      k: Int = 10): DataFrame = {
    require(k >= 1, "tClosenessByClass needs k >= 1")
    val qs = quasiCols.map(col)
    tClosenessPerClass(cells, quasiCols)
      .select(qs :+ col("_nc").as("n_rows") :+ col("emd_q9"): _*)
      .orderBy(col("emd_q9").desc +: qs: _*)
      .limit(k)
  }

  /** The per-class EMD frame shared by both t-closeness readouts
    * (one formula site): quasi cols + _nc (class rows) + _N / _B
    * scalars + emd_q9.
    */
  private def tClosenessPerClass(cells: DataFrame,
      quasiCols: Seq[String]): DataFrame = {
    val qs = quasiCols.map(col)
    val bands = cells.groupBy("_band").agg(sum("_n").as("_g"))
    // global cumulative counts via a bounded band×band self-join —
    // B is the sensitive-band count (tens at most), so no window.
    // One side RENAMES its columns: a memory-sink (streaming twin)
    // plan yields the same attribute ids on both sides and the
    // as("x")/as("y") aliases fail resolution (the q337 lesson)
    val bandsY = bands.select(col("_band").as("_yband"),
      col("_g").as("_yg"))
    val bandsCum = bands
      .join(bandsY, col("_yband") <= col("_band"))
      .groupBy(col("_band").as("_gband"))
      .agg(sum(col("_yg")).as("_cumg"))
    val scal = bands.agg(
      coalesce(sum("_g"), lit(0L)).as("_N"),
      count(lit(1)).as("_B"))
    val classes = cells.groupBy(qs: _*).agg(sum("_n").as("_nc"))
    // every class evaluates at every GLOBAL band (a band absent from
    // the class still contributes |0·N − cumG·n|); the term at the top
    // band is identically 0 (both cums saturate), so no filter needed
    val cellsR = cells.select(
      quasiCols.map(c => col(c).as(s"_r_$c")) :+
        col("_band").as("_rband") :+ col("_n").as("_rn"): _*)
    val joinCond = quasiCols.map(c => col(c) <=> col(s"_r_$c"))
      .reduce(_ && _) && col("_rband") <= col("_gband")
    val cum = classes.crossJoin(broadcast(bandsCum))
      .join(cellsR, joinCond, "left")
      .groupBy(qs ++ Seq(col("_nc"), col("_gband"), col("_cumg")): _*)
      .agg(coalesce(sum("_rn"), lit(0L)).as("_cumc"))
    cum.crossJoin(scal)
      .withColumn("_term", expr(
        "abs(CAST(_cumc AS DECIMAL(38,0)) * _N" +
          " - CAST(_cumg AS DECIMAL(38,0)) * _nc)"))
      .groupBy(qs ++ Seq(col("_nc"), col("_N"), col("_B")): _*)
      .agg(sum("_term").as("_num"))
      .withColumn("emd_q9", when(col("_B") > 1, expr(
          "CAST((_num * 1000000000) DIV" +
            " (CAST(_nc AS DECIMAL(38,0)) * _N * (_B - 1)) AS BIGINT)"))
        .otherwise(lit(0L)))
  }

  /** k-anonymity suppression ladder — the remedy [[kAnonymityAudit]]
    * demands: for each k in the ladder, what releasing the projection
    * at that privacy level COSTS (groups and rows suppressed, rows
    * kept, Q6 kept share) and what it guarantees (min kept class size
    * ≥ k — the post-suppression audit reads zero violations by
    * construction, spec-gated). The privacy counterpart of the
    * q316 threshold-sensitivity sweep: pick k off the curve, not by
    * folklore.
    *
    * Scale shape: the |classes|-row cell table crossJoins a broadcast
    * |ladder|-row literal, one groupBy(k) — cells-sized throughout.
    */
  def kAnonSuppressionLadder(df: DataFrame, quasiCols: Seq[String],
      ks: Seq[Int]): DataFrame =
    kAnonSuppressionPlan(kAnonymityCells(df, quasiCols), ks)

  /** [[kAnonSuppressionLadder]] readout over prebuilt
    * [[kAnonymityCells]].
    */
  def kAnonSuppressionPlan(cells: DataFrame, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty, "kAnonSuppressionPlan needs a k ladder")
    require(ks.forall(_ >= 1), "every k must be >= 1")
    require(ks.distinct.size == ks.size, "k ladder must be distinct")
    val spark = cells.sparkSession
    import spark.implicits._
    val ksDf = ks.map(_.toLong).toDF("k")
    val tot = cells.agg(coalesce(sum("_n"), lit(0L)).as("_tot"))
    val per = cells.crossJoin(ksDf)
      .groupBy("k")
      .agg(
        sum(when(col("_n") < col("k"), lit(1L)).otherwise(0L))
          .as("n_groups_suppressed"),
        sum(when(col("_n") < col("k"), col("_n")).otherwise(0L))
          .as("n_rows_suppressed"),
        sum(when(col("_n") >= col("k"), col("_n")).otherwise(0L))
          .as("n_rows_kept"),
        min(when(col("_n") >= col("k"), col("_n")))
          .as("min_kept_group_size"))
    // left join from the ladder so an EMPTY release still reads one
    // all-zero row per k instead of vanishing
    ksDf.join(per, Seq("k"), "left")
      .crossJoin(tot)
      .select(col("k"),
        coalesce(col("n_groups_suppressed"), lit(0L))
          .as("n_groups_suppressed"),
        coalesce(col("n_rows_suppressed"), lit(0L)).as("n_rows_suppressed"),
        coalesce(col("n_rows_kept"), lit(0L)).as("n_rows_kept"),
        col("min_kept_group_size"), col("_tot"))
      .withColumn("kept_share_q6", when(col("_tot") > 0, expr(
        "CAST((CAST(n_rows_kept AS DECIMAL(38,0)) * 1000000)" +
          " DIV _tot AS BIGINT)")))
      .drop("_tot")
  }

  /** k-anonymity generalization ladder — the OTHER remedy axis
    * ([[kAnonSuppressionLadder]] drops ROWS; this drops COLUMNS):
    * audit the release at every generalization level of the quasi-id
    * — the full tuple, then successively coarser suffixes-dropped
    * projections, down to the single-class full generalization. The
    * first level reading zero violations is the minimum
    * generalization that buys k-anonymity without suppressing anyone;
    * what it costs is the class-count collapse (utility) read off the
    * same rows.
    *
    * Output: one row per level (level = quasi columns dropped from
    * the right; `quasi` labels the remaining tuple): (level, quasi,
    * n_rows, n_classes, min_class_size, n_rows_violating,
    * viol_rate_q9).
    *
    * Scale shape: ONE scan — `rollup` plans all |q|+1 levels through
    * a single Expand + partial-agg'd shuffle (rows × levels map-side,
    * one exchange) instead of |q|+1 separate jobs; the per-level
    * readout aggregates the rollup cells. Level identity comes from
    * Σ grouping(cᵢ) — convention-free across engines (no grouping_id
    * bit-order assumption), unambiguous even when quasi values are
    * themselves NULL.
    */
  def kAnonGeneralizationLadder(df: DataFrame, quasiCols: Seq[String],
      k: Int = 10): DataFrame = {
    require(quasiCols.nonEmpty,
      "kAnonGeneralizationLadder needs quasi-id columns")
    val levelCol = quasiCols.map(c => grouping(col(c)).cast("long"))
      .reduce(_ + _)
    // grouping() is only legal INSIDE the rollup's aggregate list
    val cells = df.rollup(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("_n"), levelCol.as("_lvl"))
    val labels = (0 to quasiCols.size).map { j =>
      val kept = quasiCols.dropRight(j)
      j.toLong -> (if (kept.isEmpty) "<all>" else kept.mkString(","))
    }
    val labelCol = labels.foldLeft(lit(null).cast("string")) {
      case (acc, (j, s)) => when(col("level") === j, lit(s)).otherwise(acc)
    }
    cells.groupBy(col("_lvl").as("level"))
      .agg(sum("_n").as("n_rows"),
        count(lit(1)).as("n_classes"),
        min("_n").as("min_class_size"),
        coalesce(sum(when(col("_n") < k, col("_n")).otherwise(0L)),
          lit(0L)).as("n_rows_violating"))
      .withColumn("viol_rate_q9", when(col("n_rows") =!= 0, expr(
        "CAST((CAST(n_rows_violating AS DECIMAL(38,0)) * 1000000000)" +
          " DIV n_rows AS BIGINT)")))
      .withColumn("quasi", labelCol)
      .select(col("level"), col("quasi"), col("n_rows"),
        col("n_classes"), col("min_class_size"),
        col("n_rows_violating"), col("viol_rate_q9"))
  }
}
