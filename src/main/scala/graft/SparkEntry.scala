package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.DabDataset
import graft.functions.{AggregationProcessor, Chain, FFTProcessor, Framing, Processor}
import graft.operators.{Analytics, Asof, Curation, Dedup, Graphs, Layout, Multimodal, Packing, Retrieval, Sampling, Similarity, Sketches, Skew, TextAnalysis, Timeseries, Validation, Xval}
import graft.streaming.EventStreams

/** The query surface (SURVEY.md §7).
  *
  * Every entry in [[registry]] is one operator from SURVEY.md §2 (or the
  * north-star extensions) exercised over the test tables, together
  * with the DuckDB SQL its result is hash-compared against at sf0.01.
  * [[queries]] and [[oracleSql]] are name-keyed views of the registry.
  *
  * Oracle-matching discipline (driver compares after sorting columns by
  * name): identical aliases on both sides; sums of doubles go through
  * exact DECIMAL arithmetic (order-independent, engine-independent) and
  * are cast to double only at the end; timestamps are compared as
  * microsecond longs (DuckDB reads ns, Spark µs — epoch_us//unix_micros
  * agree); every query ends with a total ORDER BY.
  */
object SparkEntry {
  import Tables._

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * Revenue per nation: the full join+agg+sort pipeline with broadcast
    * dims (SURVEY §2.3).
    */
  def entry(spark: SparkSession): DataFrame =
    revenueByNation(spark, "/root/testdata/sf0.001")

  private def dec(c: Column, scale: Int = 4): Column = c.cast(s"decimal(18,$scale)")

  /** Shared pairwise-win table for the preference tier (q310–q312):
    * within-order supplier contests — the higher-priced line item's
    * supplier beats the lower's, pool capped at suppkey ≤ 100 so the
    * contest universe stays bounded at every sf. (winner, loser, n).
    */
  private def supplierWins(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
      .filter(col("l_suppkey") <= 100)
      .select(col("l_orderkey"), col("l_suppkey"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100" +
          " AS BIGINT)").as("_p"))
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_suppkey") =!= col("b.l_suppkey") &&
        col("a._p") > col("b._p"))
      .groupBy(col("a.l_suppkey").as("winner"),
        col("b.l_suppkey").as("loser"))
      .agg(count(lit(1)).as("n"))
  }

  /** [[supplierWins]] with a judge key kept: panel = l_orderkey mod 8
    * (each order is one judge's ballot; a judge meets a given supplier
    * pair across many orders, so per-(judge, pair) NET verdicts are
    * well-defined). (judge, winner, loser, n) — the q321 input. Kept a
    * sibling of [[supplierWins]] rather than a parameter so the
    * q310–q312 oracles' shared wins CTE stays verbatim.
    */
  private def judgedSupplierWins(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
      .filter(col("l_suppkey") <= 100)
      .select(col("l_orderkey"), col("l_suppkey"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100" +
          " AS BIGINT)").as("_p"))
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_suppkey") =!= col("b.l_suppkey") &&
        col("a._p") > col("b._p"))
      .groupBy(pmod(col("a.l_orderkey"), lit(8)).as("judge"),
        col("a.l_suppkey").as("winner"),
        col("b.l_suppkey").as("loser"))
      .agg(count(lit(1)).as("n"))
  }

  /** The synthetic curation corpus shared by q114/q120/q121: stopword
    * preamble (keeps the Gopher stopword rule live — the synthetic text
    * has no English stopwords) + deterministic per-doc URLs spanning 7
    * domains × 4 scheme/query variants (exercises canonicalization,
    * the blocklist, and the per-domain cap).
    */
  private def curationWrappedDocs(s: SparkSession, dir: String): DataFrame = {
    val v = pmod(col("doc_id"), lit(4))
    val g = expr("doc_id DIV 4")
    documents(s, dir)
      .withColumn("text",
        concat(lit("the of and that "), coalesce(col("text"), lit(""))))
      .withColumn("url", concat(
        when(v === 0, lit("https://www.")).when(v === 1, lit("HTTP://"))
          .when(v === 2, lit("https://")).otherwise(lit("http://www.")),
        concat(lit("site"), pmod(g, lit(7)).cast("string")),
        lit(".test/Docs/"), g.cast("string"),
        when(v === 0, lit("/")).when(v === 1, lit("?utm_source=x&b=2&a=1"))
          .when(v === 2, lit("?a=1&b=2#frag"))
          .otherwise(lit("?b=2&utm_campaign=z&a=1"))))
  }

  /** Fixed q123 retrieval workload: three queries over the synthetic
    * corpus vocabulary. The oracle hardcodes the same (query_id, term)
    * pairs — keep them in sync with Oracles.q123Bm25TopK.
    */
  private val bm25Queries: Seq[(Long, String)] = Seq(
    1L -> "spark window agg",
    2L -> "hash join merge batch",
    3L -> "customer query data")

  private def revenueByNation(s: SparkSession, dir: String): DataFrame = {
    val l = lineitem(s, dir); val o = orders(s, dir); val c = customer(s, dir)
    val n = nation(s, dir); val r = region(s, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,4)") - dec(col("l_discount")))), 2)
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  // ---------------------------------------------------------------- queries

  /** Every query with its oracle, in ascending numeric id. Adding a query
    * is adding one entry here; an oracle shared by several queries is one
    * def ([[Oracles]] or a private helper below).
    */
  val registry: Seq[Query] = Query.registry(

    // ---- sketch tier: HLL distinct-count, sketch-as-table ----
    // Register table = one partial-agg'd groupBy (≤ |groups|·256 rows),
    // estimate = exact integer arithmetic end-to-end (register terms
    // are dyadic rationals summed in DECIMAL; one BigInt floor-div) —
    // the whole sketch replays bit-for-bit in the DuckDB oracle.
    Query("q141_hll_distinct", Oracles.q141HllDistinct, headline = true)((s, dir) => {
      Sketches.hllEstimate(
          Sketches.hllRegisters(events(s, dir), Seq("event_type"), "event_id"),
          Seq("event_type"))
        .orderBy("event_type")
    }),

    // ---- native-aggregate HLL: q141 through a Catalyst
    // TypedImperativeAggregate (constant 256-byte state per group,
    // partial/final merged like sum — the 100 TB-preferred form; no
    // register-row shuffle at all). Oracle = q141's SQL: one relational
    // truth, THREE engine paths (table / stream / native agg).
    Query("q150_hll_native_agg", Oracles.q141HllDistinct)((s, dir) => {
      events(s, dir)
        .groupBy("event_type")
        .agg(graft.plans.GraftExtensions.hllNative(
          col("event_id").cast("long")).as("_h"))
        .select(col("event_type"), col("_h.n_set").as("n_set"),
          col("_h.est").as("est"), col("_h.small_range").as("small_range"))
        .orderBy("event_type")
    }),

    // ---- native HLL × SQL ROLLUP: per-day, per-(day,type), and grand-
    // total distinct counts in ONE aggregation — the sketch composes
    // with Catalyst's grouping-set machinery like any built-in agg
    // (subtotal keys coalesced to engine-stable labels).
    Query("q151_hll_rollup", Oracles.q151HllRollup)((s, dir) => {
      events(s, dir)
        .withColumn("day", expr("unix_micros(ts) DIV 86400000000"))
        .rollup("day", "event_type")
        .agg(graft.plans.GraftExtensions.hllNative(
          col("event_id").cast("long")).as("_h"))
        .select(coalesce(col("day"), lit(-1L)).as("day"),
          coalesce(col("event_type"), lit("(all)")).as("event_type"),
          col("_h.n_set").as("n_set"), col("_h.est").as("est"))
        .orderBy("day", "event_type")
    }),

    // ---- §2.9 streaming HLL: q141's sketch built incrementally ----
    // The register table IS streaming-friendly state: groupBy max over
    // ≤ |groups|·256 keys, so the state store is sketch-sized no matter
    // how much data flows through. Oracle = q141's SQL exactly (one
    // oracle, two engine paths — the q138/q109 discipline); the
    // estimate runs batch-side on the final register snapshot.
    // q146/q150 = q141's sketch through the streaming state store and
    // the native TypedImperativeAggregate: one oracle, three
    // independent engine formulations (q116 discipline)
    Query("q146_stream_hll", Oracles.q141HllDistinct)((s, dir) => {
      val regs = EventStreams.runOnceOnParquet(s, s"$dir/events.parquet",
        df => Sketches.hllRegisters(df, Seq("event_type"), "event_id"),
        s"hll_sink_${System.nanoTime()}")
      Sketches.hllEstimate(regs, Seq("event_type"))
        .orderBy("event_type")
    }),

    // ---- sketch tier: trailing-7-day distinct users (WAU) ----
    // Daily register tables fan out to their window's target days and
    // merge by max — the rolling-distinct dashboard from sketch-sized
    // state, no raw-history re-scan. Every step exact-integer.
    Query("q153_wau_sketch", Oracles.q153WauSketch)((s, dir) => {
      val ev = events(s, dir)
        .withColumn("day", expr("unix_micros(ts) DIV 86400000000"))
      val regs = Sketches.hllRegisters(ev, Seq("day"), "user_id")
      val win = Sketches.hllTrailingRegisters(regs, "day", windowDays = 7,
        validDays = ev.select("day").distinct())
      Sketches.hllEstimate(win, Seq("day")).orderBy("day")
    }),

    // ---- sketch tier: CMS-screened EXACT heavy hitters ----
    // Fixed-size counter table screens candidates (est ≥ true count ⇒
    // no false negatives); only survivors get exact counts, so the
    // output is exactly HAVING n·120 ≥ total — the oracle needs no
    // sketch replay, gating the screen's superset property on data.
    // The heavy-hitter oracle is deliberately sketch-free: the engine's
    // CMS screen must be output-invisible (superset property + exact
    // verify), so plain GROUP BY/HAVING is the correct reference.
    Query("q142_heavy_hitters",
      """WITH t AS (SELECT COUNT(*) AS total FROM events)
        |SELECT user_id, COUNT(*) AS n FROM events, t
        |GROUP BY user_id, total HAVING COUNT(*) * 120 >= total
        |ORDER BY user_id""".stripMargin, headline = true)((s, dir) => {
      Sketches.heavyHitters(events(s, dir), "user_id", relDen = 120L)
        .orderBy("user_id")
    }),

    // ---- validation tier: Deequ-style constraint suite, one scan ----
    Query("q143_constraint_report",
      """WITH a AS (SELECT COUNT(*) AS n, COUNT(text) AS ct,
        |    COUNT(DISTINCT doc_id) AS cd,
        |    SUM(CASE WHEN n_chars >= 0 THEN 1 ELSE 0 END) AS cn,
        |    SUM(CASE WHEN lang IN ('en','de','fr','es','zh') THEN 1 ELSE 0 END) AS cl,
        |    SUM(CASE WHEN length(text) > 0 THEN 1 ELSE 0 END) AS ce,
        |    SUM(n_chars) AS sc
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT 'complete_text' AS "constraint", CAST(ct AS BIGINT) AS observed,
        |    CAST(n AS BIGINT) AS expected, ct = n AS passed FROM a
        |  UNION ALL SELECT 'unique_doc_id', CAST(cd AS BIGINT), CAST(n AS BIGINT), cd = n FROM a
        |  UNION ALL SELECT 'nonneg_n_chars', CAST(cn AS BIGINT), CAST(n AS BIGINT), cn = n FROM a
        |  UNION ALL SELECT 'lang_in_domain', CAST(cl AS BIGINT), CAST(n AS BIGINT), cl = n FROM a
        |  UNION ALL SELECT 'text_nonempty', CAST(ce AS BIGINT), CAST(n AS BIGINT), ce = n FROM a
        |  UNION ALL SELECT 'sum_chars_floor', CAST(sc AS BIGINT), CAST(n * 100 AS BIGINT), sc >= n * 100 FROM a
        |) ORDER BY "constraint"""".stripMargin)((s, dir) => {
      Validation.constraintReport(documents(s, dir),
          Validation.documentSuite(Seq("en", "de", "fr", "es", "zh")))
        .orderBy("constraint")
    }),

    // ---- validation tier: SCD2 dimension history merge ----
    // Base snapshot (ver 0) + first-urgent-order upgrades (ver = event
    // µs) → validity-ranged history; one union + one per-key window.
    Query("q144_scd2_history",
      """WITH base AS (
        |  SELECT c_custkey, c_mktsegment AS segment, CAST(0 AS BIGINT) AS ver
        |  FROM customer),
        |upd AS (
        |  SELECT o_custkey AS c_custkey, 'URGENT_BUYER' AS segment,
        |    MIN(epoch_us(o_orderdate)) AS ver
        |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey),
        |all_v AS (SELECT * FROM base UNION ALL SELECT * FROM upd)
        |SELECT c_custkey, segment, ver AS valid_from,
        |  lead(ver) OVER (PARTITION BY c_custkey ORDER BY ver) AS valid_to,
        |  lead(ver) OVER (PARTITION BY c_custkey ORDER BY ver) IS NULL AS is_current
        |FROM all_v ORDER BY c_custkey, valid_from""".stripMargin)((s, dir) => {
      val base = customer(s, dir).select(col("c_custkey"),
        col("c_mktsegment").as("segment"), lit(0L).as("ver"))
      val upd = orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(min(unix_micros(col("o_orderdate"))).as("ver"))
        .withColumn("segment", lit("URGENT_BUYER"))
      Validation.scd2Merge(base, upd, "c_custkey", Seq("segment"), "ver")
        .orderBy("c_custkey", "valid_from")
    }),

    // ---- validation tier: exact two-sample KS drift statistic ----
    // click-value vs purchase-value distributions; D kept exact by
    // cross-multiplied integer CDFs over the two-phase global order.
    Query("q145_ks_drift",
      """WITH s AS (
        |  SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS f
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |v AS (SELECT value, SUM(1 - f) AS c1, SUM(f) AS c2 FROM s GROUP BY value),
        |t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM v),
        |c AS (SELECT SUM(c1) OVER (ORDER BY value) AS cum1,
        |             SUM(c2) OVER (ORDER BY value) AS cum2 FROM v)
        |SELECT n1, n2,
        |  CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS BIGINT) AS ks_num,
        |  CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS BIGINT)::DOUBLE
        |    / (n1 * n2)::DOUBLE AS ks
        |FROM c, t GROUP BY n1, n2""".stripMargin, headline = true)((s, dir) => {
      Analytics.ksDrift(
          events(s, dir).filter(col("event_type").isin("click", "purchase")),
          "value", col("event_type") === "purchase")
    }),

    // ---- validation tier: per-source constraint report ----
    // q143's suite keyed by source (Deequ group-by analyzers): one
    // partial-agg'd shuffle emits every source's health row.
    Query("q149_constraints_by_source",
      """WITH a AS (SELECT source, COUNT(*) AS n, COUNT(text) AS ct,
        |    COUNT(DISTINCT doc_id) AS cd,
        |    SUM(CASE WHEN n_chars >= 0 THEN 1 ELSE 0 END) AS cn,
        |    SUM(CASE WHEN lang IN ('en','de','fr','es','zh') THEN 1 ELSE 0 END) AS cl,
        |    SUM(CASE WHEN length(text) > 0 THEN 1 ELSE 0 END) AS ce,
        |    SUM(n_chars) AS sc
        |  FROM documents GROUP BY source)
        |SELECT * FROM (
        |  SELECT source, 'complete_text' AS "constraint", CAST(ct AS BIGINT) AS observed,
        |    CAST(n AS BIGINT) AS expected, ct = n AS passed FROM a
        |  UNION ALL SELECT source, 'unique_doc_id', CAST(cd AS BIGINT), CAST(n AS BIGINT), cd = n FROM a
        |  UNION ALL SELECT source, 'nonneg_n_chars', CAST(cn AS BIGINT), CAST(n AS BIGINT), cn = n FROM a
        |  UNION ALL SELECT source, 'lang_in_domain', CAST(cl AS BIGINT), CAST(n AS BIGINT), cl = n FROM a
        |  UNION ALL SELECT source, 'text_nonempty', CAST(ce AS BIGINT), CAST(n AS BIGINT), ce = n FROM a
        |  UNION ALL SELECT source, 'sum_chars_floor', CAST(sc AS BIGINT), CAST(n * 100 AS BIGINT), sc >= n * 100 FROM a
        |) ORDER BY source, "constraint"""".stripMargin)((s, dir) => {
      Validation.constraintReportBy(documents(s, dir), Seq("source"),
          Validation.documentSuite(Seq("en", "de", "fr", "es", "zh")))
        .orderBy("source", "constraint")
    }),

    // ---- validation tier: exact chi-squared categorical drift ----
    // event_type mix on even vs odd epoch-days; every IEEE op has
    // exactly-representable operands in a fixed order, cells summed by
    // an ordered fold — bit-identical across engines.
    Query("q148_chisq_drift", chisqDriftSql)((s, dir) => {
      Analytics.chisqDrift(events(s, dir), "event_type",
        pmod(expr("unix_micros(ts) DIV 86400000000"), lit(2)) === 1)
    }),

    // ---- §2.9 streaming drift monitor: q148's chi-square with cells
    // built as bounded streaming state (groupBy-sum over |categories|
    // keys); the exact fold runs batch-side on the final snapshot.
    // Oracle = q148's SQL (one relational truth, two engine paths).
    // q152 = q148's statistic with the cells built through streaming
    // state: one relational truth, two engine paths (q116 discipline)
    Query("q152_stream_chisq", chisqDriftSql)((s, dir) => {
      val cells = EventStreams.runOnceOnParquet(s, s"$dir/events.parquet",
        df => Analytics.chisqCells(df, "event_type",
          pmod(expr("unix_micros(ts) DIV 86400000000"), lit(2)) === 1),
        s"chisq_sink_${System.nanoTime()}")
      Analytics.chisqFromCells(cells)
    }),

    // ---- graph tier: co-purchase PageRank, integer fixed-point ----
    // The domain/URL-ranking family of web-corpus curation (CCNet /
    // RefinedWeb source weighting) as iterated co-partitioned joins;
    // every hop is floor arithmetic, so DuckDB replays all 3 rounds.
    Query("q147_copurchase_rank",
      Oracles.q147CopurchaseRank, headline = true)((s, dir) => {
      val edges = Graphs.coOccurrenceEdges(
        lineitem(s, dir), "l_orderkey", "l_partkey", dedup = false)
      Graphs.pageRankInt(edges, iters = 3, symmetric = true)
        .orderBy(col("score").desc, col("node"))
        .limit(20)
        .select(col("node").as("l_partkey"), col("score"))
    }),

    // ---- graph tier: DISTRIBUTED connected components ----
    // q127's relational truth (LSH near-dup graph → component id /
    // size / canonical flag) forced through the distributed pointer-
    // doubling label propagation (driverMaxEdges = 0, never the driver
    // union-find): one oracle, two engine paths — the q109/q138
    // discipline, here for the component solver a 100 TB near-dup
    // graph actually runs.
    // q154 = q127's component truth through the forced-distributed
    // pointer-doubling path: one oracle, two engine formulations
    Query("q154_components_distributed",
      Oracles.q127DedupClusters, headline = true)((s, dir) => {
      Dedup.clusterReport(documents(s, dir), numHashes = 32,
          rowsPerBand = 4, k = 5, threshold = 0.5, driverMaxEdges = 0)
        .orderBy("doc_id")
    }),

    // ---- sketch tier: audience overlap via HLL inclusion-exclusion ----
    // click∩purchase distinct users ≈ est(A)+est(B)−est(A∪B); the union
    // sketch is the register-wise max (exact identity), every term on
    // the exact integer estimate path — replayed bit-for-bit.
    Query("q155_hll_overlap", Oracles.q155HllOverlap)((s, dir) => {
      Sketches.hllOverlapEstimate(events(s, dir),
        col("event_type") === "click", col("event_type") === "purchase",
        "user_id")
    }),

    // ---- analytics tier: first-touch attribution ----
    // Each purchase credits its session's opening event type; revenue
    // summed DECIMAL-exact, cast to double once at the end.
    Query("q156_first_touch",
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT *, SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 300000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e),
        |r AS (SELECT user_id, sid, event_type,
        |    row_number() OVER (PARTITION BY user_id, sid ORDER BY us, event_id) AS rn
        |  FROM s),
        |f AS (SELECT user_id, sid, event_type AS first_type FROM r WHERE rn = 1),
        |c AS (SELECT user_id, sid, COUNT(*) AS nc,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS rev
        |  FROM s WHERE event_type = 'purchase' GROUP BY user_id, sid)
        |SELECT f.first_type, CAST(SUM(c.nc) AS BIGINT) AS n_conversions,
        |  CAST(CAST(SUM(c.rev) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM c JOIN f USING (user_id, sid)
        |GROUP BY f.first_type ORDER BY f.first_type""".stripMargin)((s, dir) => {
      Analytics.firstTouchAttribution(events(s, dir), convType = "purchase")
        .orderBy("first_type")
    }),

    // ---- graph tier: item-item co-occurrence recommender ----
    // "also bought": top-3 neighbours per part by integer-scaled squared
    // cosine over order co-membership counts; window per item, never a
    // global sort.
    Query("q157_also_bought",
      """WITH e0 AS (SELECT l_orderkey AS g, l_partkey AS i FROM lineitem),
        |ok AS (SELECT g, i FROM e0 WHERE g NOT IN (
        |  SELECT g FROM e0 GROUP BY g HAVING COUNT(*) > 1000)),
        |d AS (SELECT DISTINCT g, i FROM ok),
        |pc AS (SELECT a.i AS src, b.i AS dst, COUNT(*) AS n_both
        |  FROM d a JOIN d b ON a.g = b.g AND a.i <> b.i GROUP BY a.i, b.i),
        |ic AS (SELECT i, COUNT(*) AS n FROM d GROUP BY i),
        |sc AS (SELECT src, dst, n_both,
        |  CAST((n_both::HUGEINT * n_both * 1000000) // (ia.n::HUGEINT * ib.n) AS BIGINT) AS score
        |  FROM pc JOIN ic ia ON ia.i = pc.src JOIN ic ib ON ib.i = pc.dst),
        |r AS (SELECT *, row_number() OVER (PARTITION BY src ORDER BY score DESC, dst) AS rank
        |  FROM sc)
        |SELECT src AS item, dst AS nbr, n_both, score, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 3 ORDER BY item, rank""".stripMargin, headline = true)((s, dir) => {
      Graphs.itemSimilarityTopK(lineitem(s, dir), "l_orderkey",
          "l_partkey", k = 3)
        .orderBy("item", "rank")
    }),

    // ---- validation tier: incremental rollup state ≡ recompute ----
    // Daily partial-agg state (count + DECIMAL sum) persists to parquet
    // and folds back to per-type totals; the oracle recomputes from the
    // raw events — merged shards must equal the full scan bit-for-bit.
    // q158's merged parquet state must equal the full recompute — the
    // oracle IS the full recompute (count + DECIMAL-exact sum).
    Query("q158_agg_state_merge",
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS val_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)((s, dir) => {
      val ev = events(s, dir)
        .withColumn("day", expr("unix_micros(ts) DIV 86400000000"))
      val path = TempDirs.scratch("aggstate")
      Validation.aggState(ev, Seq("event_type"), "day", "value")
        .write.mode("overwrite").parquet(path)
      Validation.mergeAggStates(Seq(s.read.parquet(path)), Seq("event_type"))
        .select(col("event_type"), col("n"),
          col("val_sum").cast("double").as("val_sum"))
        .orderBy("event_type")
    }),

    // ---- sketch tier: CMS join-cardinality pre-flight ----
    // "How big is lineitem ⋈ lineitem on partkey?" answered from two
    // 8 KB counter tables (est = min-row dot product, an overestimate
    // by construction); the exact Σn² rides along to gate the bound.
    Query("q161_join_size_est",
      Oracles.q161JoinSizeEstimate, headline = true)((s, dir) => {
      val li = lineitem(s, dir)
      Sketches.cmsJoinSizeEstimate(li, "l_partkey", li, "l_partkey")
    }),

    // ---- graph tier: exact triangle count, degree-ordered ----
    // Clustering structure of the co-purchase graph; wedges generate
    // only from each edge's (degree,id)-lower endpoint, so the count
    // costs O(m^1.5) instead of Σ deg².
    Query("q162_triangles",
      """WITH e0 AS (SELECT l_orderkey AS g, l_partkey AS i FROM lineitem),
        |ok AS (SELECT g, i FROM e0 WHERE g NOT IN (
        |  SELECT g FROM e0 GROUP BY g HAVING COUNT(*) > 1000)),
        |c AS (SELECT DISTINCT least(x.i, y.i) AS a, greatest(x.i, y.i) AS b
        |  FROM ok x JOIN ok y ON x.g = y.g AND x.i <> y.i),
        |nd AS (SELECT COUNT(DISTINCT n) AS n_nodes FROM (
        |  SELECT a AS n FROM c UNION ALL SELECT b FROM c)),
        |ed AS (SELECT COUNT(*) AS n_edges FROM c),
        |tri AS (SELECT COUNT(*) AS n_triangles FROM c e1
        |  JOIN c e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN c e3 ON e3.a = e1.b AND e3.b = e2.b)
        |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
        |  CAST(n_edges AS BIGINT) AS n_edges,
        |  CAST(n_triangles AS BIGINT) AS n_triangles
        |FROM nd, ed, tri
        |ORDER BY n_nodes, n_edges, n_triangles""".stripMargin, headline = true)((s, dir) => {
      Graphs.triangleCount(Graphs.coOccurrenceEdges(
        lineitem(s, dir), "l_orderkey", "l_partkey", dedup = false))
    }),

    // ---- validation tier: type-1 upsert (latest-wins MERGE) ----
    // q144's inputs collapsed to the CURRENT snapshot instead of
    // type-2 history: one union + one per-key window.
    Query("q163_upsert_latest",
      """WITH base AS (SELECT c_custkey, c_mktsegment AS segment, 0::BIGINT AS ver FROM customer),
        |upd AS (SELECT o_custkey AS c_custkey, 'URGENT_BUYER' AS segment,
        |    MIN(epoch_us(o_orderdate)) AS ver
        |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey),
        |a AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
        |r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY ver DESC) AS rn FROM a)
        |SELECT c_custkey, segment, ver FROM r WHERE rn = 1
        |ORDER BY c_custkey""".stripMargin)((s, dir) => {
      val base = customer(s, dir).select(col("c_custkey"),
        col("c_mktsegment").as("segment"), lit(0L).as("ver"))
      val upd = orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(min(unix_micros(col("o_orderdate"))).as("ver"))
        .withColumn("segment", lit("URGENT_BUYER"))
      Validation.upsertLatest(base, upd, "c_custkey", Seq("segment"), "ver")
        .orderBy("c_custkey")
    }),

    // ---- §2.9 streaming heavy hitters: q142's counter table built
    // through the streaming state store (groupBy-sum over ≤ d·w keys,
    // bounded state), batch-side screen + exact verify on the
    // snapshot. Oracle = q142's sketch-free HAVING (one relational
    // truth, two engine paths) — and since the counters only screen,
    // the exact verify keeps the output identical by construction.
    // q164 = q142's semantics with the counter table built through
    // streaming state: one relational truth, two engine paths
    Query("q164_stream_heavy",
      """WITH t AS (SELECT COUNT(*) AS total FROM events)
        |SELECT user_id, COUNT(*) AS n FROM events, t
        |GROUP BY user_id, total HAVING COUNT(*) * 120 >= total
        |ORDER BY user_id""".stripMargin)((s, dir) => {
      val counters = EventStreams.runOnceOnParquet(s, s"$dir/events.parquet",
        df => Sketches.cmsCounters(df, "user_id"),
        s"cms_sink_${System.nanoTime()}")
      Sketches.heavyHittersWithCounters(events(s, dir), counters,
          "user_id", relDen = 120L)
        .orderBy("user_id")
    }),

    // ---- §2.9 streaming session windows (Spark-native) ----
    // q18's gap sessionization expressed as the built-in
    // `session_window` through the streaming state store; output =
    // (user, window start/end µs, events). The oracle replays Spark's
    // merge rule (a new session starts when the gap is ≥ 5 min — the
    // built-in merges only OVERLAPPING [ts, ts+gap) intervals) with
    // end = last_ts + gap.
    Query("q165_stream_sessions",
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT *, SUM(CASE WHEN prev_us IS NULL OR us - prev_us >= 300000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e)
        |SELECT user_id, MIN(us) AS start_us, MAX(us) + 300000000 AS end_us,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin)((s, dir) => {
      val agg = EventStreams.runOnceOnParquet(s, s"$dir/events.parquet",
        df => df.groupBy(col("user_id"),
            session_window(col("ts"), "5 minutes"))
          .agg(count(lit(1)).as("n_events")),
        s"sessw_sink_${System.nanoTime()}")
      agg.select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))
        .orderBy("user_id", "start_us")
    }),

    // ---- graph tier: iterated k-core peel ----
    // 3 synchronous rounds of dropping degree-<90 nodes from the
    // co-purchase graph; each peel is one agg + two semi-joins, and
    // the oracle unrolls every round as CTEs (the q147 discipline).
    Query("q166_kcore", Oracles.q166KCore)((s, dir) => {
      Graphs.kCorePeel(Graphs.coOccurrenceEdges(
          lineitem(s, dir), "l_orderkey", "l_partkey", dedup = false),
          k = 90, rounds = 3)
        .orderBy("node")
    }),

    // ---- validation tier: point-in-time dimension enrichment ----
    // Each order joined to the SCD2 segment valid AT its order time
    // (us ∈ [valid_from, valid_to)): the warehouse "as-of transaction
    // time" lookup — an equi hash join on the key with the validity
    // range as residual condition, never a cartesian.
    Query("q167_pit_enrich",
      """WITH base AS (SELECT c_custkey, c_mktsegment AS segment, 0::BIGINT AS ver FROM customer),
        |upd AS (SELECT o_custkey AS c_custkey, 'URGENT_BUYER' AS segment,
        |    MIN(epoch_us(o_orderdate)) AS ver
        |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey),
        |all_v AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
        |h AS (SELECT c_custkey, segment, ver AS valid_from,
        |    lead(ver) OVER (PARTITION BY c_custkey ORDER BY ver) AS valid_to
        |  FROM all_v),
        |o AS (SELECT o_orderkey, o_custkey AS c_custkey, epoch_us(o_orderdate) AS us
        |  FROM orders)
        |SELECT o.o_orderkey, h.segment
        |FROM o JOIN h USING (c_custkey)
        |WHERE o.us >= h.valid_from AND (h.valid_to IS NULL OR o.us < h.valid_to)
        |ORDER BY o_orderkey""".stripMargin)((s, dir) => {
      val base = customer(s, dir).select(col("c_custkey"),
        col("c_mktsegment").as("segment"), lit(0L).as("ver"))
      val upd = orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(min(unix_micros(col("o_orderdate"))).as("ver"))
        .withColumn("segment", lit("URGENT_BUYER"))
      val hist = Validation.scd2Merge(base, upd, "c_custkey",
        Seq("segment"), "ver")
      val o = orders(s, dir).select(col("o_orderkey"),
        col("o_custkey").as("c_custkey"),
        unix_micros(col("o_orderdate")).as("us"))
      o.join(hist, o("c_custkey") === hist("c_custkey") &&
          o("us") >= hist("valid_from") &&
          (hist("valid_to").isNull || o("us") < hist("valid_to")))
        .select(col("o_orderkey"), col("segment"))
        .orderBy("o_orderkey")
    }),

    // ---- §2.9 stream-static enrichment join ----
    // Streaming events broadcast-joined to a batch-derived user-tier
    // dimension inside the stream, aggregated per (tier, type) through
    // the state store. Oracle = the same enrichment as batch SQL.
    Query("q168_stream_enrich",
      """WITH dim AS (
        |  SELECT user_id,
        |    CASE WHEN COUNT(*) >= 20 THEN 'whale'
        |         WHEN COUNT(*) >= 10 THEN 'regular'
        |         ELSE 'light' END AS tier
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT COALESCE(d.tier, 'none') AS tier, e.event_type, COUNT(*) AS n
        |FROM events e LEFT JOIN dim d USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)((s, dir) => {
      val dim = events(s, dir).filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(count(lit(1)).as("n_purch"))
        .withColumn("tier", when(col("n_purch") >= 20, "whale")
          .when(col("n_purch") >= 10, "regular").otherwise("light"))
        .select("user_id", "tier")
      val agg = EventStreams.runOnceOnParquet(s, s"$dir/events.parquet",
        df => df.join(broadcast(dim), Seq("user_id"), "left")
          .select(coalesce(col("tier"), lit("none")).as("tier"),
            col("event_type"))
          .groupBy("tier", "event_type").agg(count(lit(1)).as("n")),
        s"enrich_sink_${System.nanoTime()}")
      agg.orderBy("tier", "event_type")
    }),

    // ---- graph tier: label-propagation communities ----
    // Two synchronous rounds of adopt-the-majority-neighbour-label
    // (ties → min label) over the co-purchase graph; deterministic by
    // construction, every round unrolled in the oracle.
    Query("q169_communities", Oracles.q169Communities)((s, dir) => {
      Graphs.labelPropagate(Graphs.coOccurrenceEdges(
          lineitem(s, dir), "l_orderkey", "l_partkey", dedup = false),
          rounds = 2)
        .orderBy("node")
    }),

    // ---- graph tier: modularity of the communities (NEW r11) ----
    // "Was the partition any good?" — per-community Newman modularity
    // of q169's labels on the same co-purchase graph, as the EXACT
    // integer Q_c·4m² = 4m·L_c − D_c² (no doubles emitted; Q = Σ
    // q_num / q_den is one division away). The quality gate a
    // community-detection pipeline ships with.
    Query("q225_modularity", Oracles.q225Modularity)((s, dir) => {
      val edges = Graphs.coOccurrenceEdges(
        lineitem(s, dir), "l_orderkey", "l_partkey", dedup = false)
      Graphs.modularity(edges, Graphs.labelPropagate(edges, rounds = 2))
        .orderBy("community")
    }),

    // ---- graph tier: HITS hubs/authorities (NEW r11) ----
    // Two integer fixed-point rounds on the DIRECTED supplier→customer
    // sales graph (customers offset into their own id space): hub =
    // suppliers selling to well-connected customers, authority =
    // customers buying from strong hubs. Max-normalized (no L2 sqrt) —
    // every score an exact BIGINT, rounds unrolled in the oracle.
    Query("q226_hits", Oracles.q226Hits)((s, dir) => {
      val li = lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
      val o = orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("src"),
          (col("o_custkey") + lit(1000000L)).as("dst"))
      Graphs.hitsInt(edges, rounds = 2).orderBy("node")
    }),

    // ---- analytics tier: Markov removal-effect attribution (NEW r11) ----
    // The data-driven fourth attribution model: journeys START→touch…→
    // CONV/NULL over 7-day sessions, channel value = conversion-
    // probability drop when the channel's inbound transitions are
    // redirected to NULL. Six bounded absorption rounds in 10⁻¹² fixed
    // point, every round unrolled in the oracle.
    Query("q232_markov_attribution", Oracles.q232MarkovAttribution)((s, dir) => {
      Analytics.markovAttribution(events(s, dir), convType = "purchase",
          gapUs = 604800000000L, rounds = 6)
        .orderBy("event_type")
    }),

    // ---- layout tier: zone-map pruning report (NEW r11) ----
    // What is a layout WORTH? The same points under compound (x-major)
    // vs Z-order vs Hilbert linearization, cut into 64 equal-width
    // key-range "files" with parquet-footer-style min/max zone maps,
    // scored against a fixed query box by the row-group skipping rule.
    // Hilbert ≤ Z-order ≤ compound in files scanned — measured, not
    // asserted. All integer; both native layout expressions replayed.
    Query("q231_zonemap_pruning", Oracles.q231ZonemapPruning)((s, dir) => {
      val o = orders(s, dir)
      val x16 = pmod(floor(col("o_custkey") / 1).cast("long"), lit(65536L))
      val y16 = pmod(floor(col("o_totalprice") / 100).cast("long"), lit(65536L))
      val base = o.select(x16.as("x"), y16.as("y"))
      def stats(name: String, key: org.apache.spark.sql.Column) =
        Layout.boxScanStats(
            Layout.zoneMaps(base.withColumn("k", key), "k", "x", "y", 64),
            loX = 100, hiX = 300, loY = 100, hiY = 500)
          .select(lit(name).as("layout"), col("n_files"),
            col("files_scanned"), col("rows_total"), col("rows_scanned"))
      stats("compound", col("x") * 65536 + col("y"))
        .unionByName(stats("zorder",
          graft.plans.GraftExtensions.mortonNative(col("x"), col("y"))))
        .unionByName(stats("hilbert",
          graft.plans.GraftExtensions.hilbertNative(col("x"), col("y"))))
        .orderBy("layout")
    }),

    // ---- analytics tier: seasonal-naive backtest (NEW r11) ----
    // MASE components per market segment over daily revenue: forecast
    // = same-day-last-week (calendar join, so gaps score NULL) vs the
    // naive previous-day forecast; error sums in exact integer 10⁻⁴
    // units, MASE as one DECIMAL-floor division. The "is weekly
    // seasonality real here" gate before any heavier model.
    // Calendar-lag self-joins (gaps → NULL, never the previous
    // OBSERVED day) over integer-tenk daily revenue; MASE one HUGEINT
    // floor division.
    Query("q230_seasonal_backtest",
      """WITH daily AS (SELECT c_mktsegment AS k,
        |    epoch_us(o_orderdate) // 86400000000 AS d,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT) AS v
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |s AS (SELECT a.k, a.d, a.v, b.v AS vs, c.v AS vn
        |  FROM daily a
        |  LEFT JOIN daily b ON b.k = a.k AND b.d = a.d - 7
        |  LEFT JOIN daily c ON c.k = a.k AND c.d = a.d - 1)
        |SELECT k AS c_mktsegment, COUNT(*)::BIGINT AS n_days,
        |  COUNT(vs)::BIGINT AS c_seasonal, COUNT(vn)::BIGINT AS c_naive,
        |  COALESCE(CAST(SUM(ABS(v - vs)) AS BIGINT), 0) AS err_seasonal_tenk,
        |  COALESCE(CAST(SUM(ABS(v - vn)) AS BIGINT), 0) AS err_naive_tenk,
        |  CASE WHEN COUNT(vs) > 0 AND COUNT(vn) > 0
        |      AND COALESCE(SUM(ABS(v - vn)), 0) > 0
        |    THEN CAST((1000000::HUGEINT * CAST(SUM(ABS(v - vs)) AS HUGEINT)
        |      * COUNT(vn)) // (CAST(SUM(ABS(v - vn)) AS HUGEINT)
        |      * COUNT(vs)) AS BIGINT)
        |  END AS mase_q6
        |FROM s GROUP BY k ORDER BY k""".stripMargin)((s, dir) => {
      val df = orders(s, dir)
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .withColumn("day", expr("unix_micros(o_orderdate) DIV 86400000000"))
      Timeseries.seasonalBacktest(df, "c_mktsegment", "day",
          "o_totalprice", season = 7)
        .orderBy("c_mktsegment")
    }),

    // ---- analytics tier: market-basket association rules (NEW r11) ----
    // Directed co-purchase rules part_a→part_b with integer
    // support/confidence/lift (‰ and 10⁻⁶ fixed point, DECIMAL-floor
    // divisions) over distinct order-membership, skew-capped baskets;
    // the rule miner behind "frequently bought together".
    // Distinct membership + capped baskets + self-join pair counts;
    // every metric an exact HUGEINT floor division.
    Query("q228_assoc_rules",
      """WITH slim AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |ok AS (SELECT b FROM slim GROUP BY b HAVING COUNT(*) <= 1000),
        |m AS (SELECT s.b, s.i FROM slim s JOIN ok USING (b)),
        |nb AS (SELECT COUNT(DISTINCT b)::BIGINT AS n FROM m),
        |ic AS (SELECT i, COUNT(*)::BIGINT AS c FROM m GROUP BY i),
        |p AS (SELECT a.i AS item_a, b2.i AS item_b, COUNT(*)::BIGINT AS c_ab
        |  FROM m a JOIN m b2 ON a.b = b2.b AND a.i <> b2.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT item_a, item_b, ca.c AS c_a, cb.c AS c_b, c_ab,
        |  nb.n AS n_baskets,
        |  CAST((1000 * c_ab) // nb.n AS BIGINT) AS support_permille,
        |  CAST((1000 * c_ab) // ca.c AS BIGINT) AS confidence_permille,
        |  CAST((1000000::HUGEINT * c_ab * nb.n)
        |    // (ca.c::HUGEINT * cb.c) AS BIGINT) AS lift_q6
        |FROM p JOIN ic ca ON ca.i = item_a JOIN ic cb ON cb.i = item_b
        |CROSS JOIN nb
        |ORDER BY item_a, item_b""".stripMargin)((s, dir) => {
      Graphs.associationRules(lineitem(s, dir), "l_orderkey", "l_partkey",
          minPairCount = 2)
        .orderBy("item_a", "item_b")
    }),

    // ---- §2.9 streaming bounded top-k (NEW r11) ----
    // q183's bounded top-k through the state store: ≤ k (value, id)
    // pairs per key, batch merge = sort-union-cut (associative, so
    // arrival order is irrelevant). Oracle = the batch window truth —
    // one relational answer, two engine paths (the q183/q200
    // discipline).
    // The batch window truth for the streaming bounded top-k — value
    // DESC with event_id tie-break, exactly the state-store sort.
    Query("q227_stream_topk",
      """SELECT event_type, rn, value, event_id FROM (
        |  SELECT event_type, value, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS rn
        |  FROM events WHERE value IS NOT NULL)
        |WHERE rn <= 5 ORDER BY event_type, rn""".stripMargin)((s, dir) => {
      val out = EventStreams.runOnceOnParquet(s, s"$dir/events.parquet",
        df => EventStreams.topKStream(s, df, 5),
        s"topk_sink_${System.nanoTime()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
      out.groupBy("event_type")
        .agg(max(struct(col("emit"), col("pairs"))).as("_m"))
        .select(col("event_type"), posexplode(col("_m.pairs")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rn"),
          col("col._1").as("value"), col("col._2").as("event_id"))
        .orderBy("event_type", "rn")
    }),

    // ---- §2.9 streaming KMV distinct sketch ----
    // q189's bottom-k minima through the streaming state store (k
    // longs of bounded state per key), read out by the same integer
    // estimate — one oracle, two engine paths.
    // q200 = q189's sketch through the streaming state store: one
    // truth, two engine paths (the q146/q150 HLL discipline)
    Query("q200_stream_kmv", Oracles.q189KmvDistinct)((s, dir) => {
      val out = EventStreams.runOnceOnParquet(s, s"$dir/events.parquet",
        df => EventStreams.kmvStream(s, df, 256),
        s"kmv_sink_${System.nanoTime()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
      out.groupBy("event_type")
        .agg(max(struct(col("emit"), col("mins"))).as("_m"))
        .select(col("event_type"),
          graft.plans.GraftExtensions.kmvEstimateNative(col("_m.mins"), 256)
            .as("_e"))
        .select(col("event_type"), col("_e.n_state").as("n_state"),
          col("_e.est").as("est"))
        .orderBy("event_type")
    }),

    // ---- analytics tier: behavioral entropy per user ----
    // Shannon entropy of each user's event-type mix, every −p·ln p
    // term in 10⁻¹² fixed-point so the sum is exact and order-free.
    // Shared integer log kernel (FixedMath.lnCteSql — the exact
    // bit-recurrence Spark runs via graft_ln_q12): no libm ln anywhere,
    // so the hash is a property of the data, not the oracle's build.
    // E = n·L(n) − Σ c·L(c); entropy_q = E // n (floor ≡ DIV on ≥ 0).
    Query("q199_user_entropy",
      ("""WITH RECURSIVE
        |c AS (SELECT user_id, event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, c,
        |    CAST(SUM(c) OVER (PARTITION BY user_id) AS BIGINT) AS n FROM c),
        |_ks AS (SELECT DISTINCT k FROM
        |  (SELECT c AS k FROM t UNION SELECT n FROM t)),
        |""".stripMargin + graft.functions.FixedMath.lnCteSql + """,
        |q AS (SELECT t.user_id, t.c, t.n, lc.l AS lc, lnn.l AS lnn
        |  FROM t JOIN _lnq lc ON lc.k = t.c
        |         JOIN _lnq lnn ON lnn.k = t.n),
        |e AS (SELECT user_id, MAX(n) AS n_events, COUNT(*) AS n_cats,
        |    MAX(n)::HUGEINT * MAX(lnn) - SUM(c::HUGEINT * lc) AS e
        |  FROM q GROUP BY user_id)
        |SELECT user_id, n_events, n_cats,
        |  CAST(e // CAST(n_events AS HUGEINT) AS BIGINT) AS entropy_q,
        |  CAST(CAST(e // CAST(n_events AS HUGEINT) AS BIGINT) AS DOUBLE) / 1e12 AS entropy
        |FROM e ORDER BY user_id""".stripMargin))((s, dir) => {
      Analytics.categoryEntropy(events(s, dir), "user_id", "event_type")
        .orderBy("user_id")
    }),

    // ---- analytics tier: Gini concentration index ----
    // Revenue concentration across customers per market segment:
    // exact rank-weighted DECIMAL sums, two IEEE ops — "how unequal is
    // this segment's spend".
    Query("q198_gini",
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS rev
        |  FROM orders GROUP BY 1),
        |x AS (
        |  SELECT c_mktsegment, c_custkey,
        |    COALESCE(rev, CAST(0 AS DECIMAL(18,4))) AS rev
        |  FROM customer LEFT JOIN rev ON c_custkey = o_custkey),
        |r AS (
        |  SELECT c_mktsegment, rev, row_number() OVER (
        |    PARTITION BY c_mktsegment ORDER BY rev, c_custkey) AS i
        |  FROM x),
        |m AS (
        |  SELECT c_mktsegment, COUNT(*) AS n, SUM(rev) AS sx,
        |    SUM(rev * CAST(i AS DECIMAL(12,0))) AS six
        |  FROM r GROUP BY 1),
        |d AS (
        |  SELECT c_mktsegment, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
        |    CAST(CAST(six AS VARCHAR) AS DOUBLE) AS sixd
        |  FROM m)
        |SELECT c_mktsegment, n, sxd AS total,
        |  2.0 * sixd / (nd * sxd) - (nd + 1.0) / nd AS gini
        |FROM d ORDER BY c_mktsegment""".stripMargin)((s, dir) => {
      val rev = orders(s, dir).groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("decimal(18,4)").as("rev"))
      val seg = customer(s, dir)
        .join(rev, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_mktsegment"), col("c_custkey"),
          coalesce(col("rev"), lit(0).cast("decimal(18,4)")).as("rev"))
      Analytics.giniIndex(seg, "c_mktsegment", "rev", "c_custkey")
        .orderBy("c_mktsegment")
    }),

    // ---- analytics tier: session-level association lift ----
    // Market-basket lift between event types over 5-min-gap sessions:
    // exact counts, one double division; pair explosion bounded by
    // #types² per session, never by rows.
    Query("q197_session_lift",
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events),
        |s AS (SELECT *, SUM(CASE WHEN prev_us IS NULL
        |      OR us - prev_us > 300000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e),
        |st AS (SELECT DISTINCT user_id, sid, event_type FROM s),
        |ns AS (SELECT COUNT(*) AS n_sessions
        |  FROM (SELECT DISTINCT user_id, sid FROM st)),
        |si AS (SELECT event_type AS t, COUNT(*) AS n FROM st GROUP BY 1),
        |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*) AS n_ab
        |  FROM st a JOIN st b ON a.user_id = b.user_id AND a.sid = b.sid
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, na.n AS n_a, nb.n AS n_b, n_ab,
        |  ns.n_sessions,
        |  CAST(n_ab * ns.n_sessions AS DOUBLE)
        |    / CAST(na.n * nb.n AS DOUBLE) AS lift
        |FROM pr
        |JOIN si na ON na.t = type_a
        |JOIN si nb ON nb.t = type_b
        |CROSS JOIN ns
        |ORDER BY type_a, type_b""".stripMargin)((s, dir) => {
      Analytics.sessionLift(events(s, dir))
        .orderBy("type_a", "type_b")
    }),

    // ---- analytics tier: Kaplan–Meier survival curve ----
    // User lifetime (first→last event day) survival: d/n at risk per
    // duration, running product in 10⁻¹² fixed-point log space —
    // order-independent across engines and window implementations.
    // Same integer log kernel as q199; the survival curve is gated in
    // log space (log_surv_q = Σ L(n−d) − L(n), exact longs) — the
    // round-9 exp(·) terminal double was a libm property, not a data
    // property, and is deliberately not emitted. d = n (the necessarily
    // final row) pins log_surv_q to NULL (S = 0).
    Query("q196_survival_km",
      ("""WITH RECURSIVE
        |life AS (
        |  SELECT user_id,
        |    MAX(epoch_us(ts) // 86400000000) - MIN(epoch_us(ts) // 86400000000) AS t
        |  FROM events GROUP BY user_id),
        |g AS (SELECT t, COUNT(*) AS d FROM life GROUP BY t),
        |r AS (SELECT t, d,
        |    SUM(d) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(d) OVER () AS tot
        |  FROM g),
        |kk AS (SELECT t, d, CAST(tot - cum + d AS BIGINT) AS n_at_risk FROM r),
        |_ks AS (SELECT DISTINCT k FROM (
        |  SELECT n_at_risk AS k FROM kk WHERE d < n_at_risk
        |  UNION SELECT n_at_risk - d FROM kk WHERE d < n_at_risk)),
        |""".stripMargin + graft.functions.FixedMath.lnCteSql + """,
        |q AS (SELECT kk.t, kk.d, kk.n_at_risk,
        |    CASE WHEN kk.d = kk.n_at_risk THEN NULL
        |      ELSE lnd.l - lnn.l END AS lq
        |  FROM kk LEFT JOIN _lnq lnn ON lnn.k = kk.n_at_risk
        |          LEFT JOIN _lnq lnd ON lnd.k = kk.n_at_risk - kk.d)
        |SELECT t, d, n_at_risk,
        |  CASE WHEN d = n_at_risk THEN NULL
        |    ELSE CAST(SUM(lq) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |  END AS log_surv_q
        |FROM q ORDER BY t""".stripMargin))((s, dir) => {
      val life = events(s, dir)
        .withColumn("day", expr("unix_micros(ts) DIV 86400000000"))
        .groupBy("user_id")
        .agg((max("day") - min("day")).as("lifetime"))
      Analytics.kaplanMeier(life, "lifetime")
        .orderBy("t")
    }),

    // ---- analytics tier: Kaplan–Meier WITH censoring ----
    // Users who never purchase are censored at their last-seen day —
    // they leave the risk set without a death term (the standard KM
    // estimator; q196 is the no-censoring special case). Gated in log
    // space over the shared integer-log kernel like q196.
    // q196's estimator with censoring: censored subjects (never-
    // purchasers) shrink the risk set without a death term; d = 0
    // rows carry the running sum unchanged.
    Query("q201_km_censored",
      ("""WITH RECURSIVE
        |life AS (
        |  SELECT user_id,
        |    MAX(epoch_us(ts) // 86400000000) - MIN(epoch_us(ts) // 86400000000) AS t,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS evt
        |  FROM events GROUP BY user_id),
        |g AS (SELECT t, CAST(SUM(evt) AS BIGINT) AS d,
        |    CAST(SUM(1 - evt) AS BIGINT) AS c
        |  FROM life GROUP BY t),
        |r AS (SELECT t, d, c,
        |    SUM(d + c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(d + c) OVER () AS tot
        |  FROM g),
        |kk AS (SELECT t, d, c, CAST(tot - cum + d + c AS BIGINT) AS n_at_risk FROM r),
        |_ks AS (SELECT DISTINCT k FROM (
        |  SELECT n_at_risk AS k FROM kk WHERE d > 0 AND d < n_at_risk
        |  UNION SELECT n_at_risk - d FROM kk WHERE d > 0 AND d < n_at_risk)),
        |""".stripMargin + graft.functions.FixedMath.lnCteSql + """,
        |q AS (SELECT kk.t, kk.d, kk.c, kk.n_at_risk,
        |    CASE WHEN kk.d = 0 THEN 0
        |      WHEN kk.d = kk.n_at_risk THEN NULL
        |      ELSE lnd.l - lnn.l END AS lq
        |  FROM kk LEFT JOIN _lnq lnn ON lnn.k = kk.n_at_risk
        |          LEFT JOIN _lnq lnd ON lnd.k = kk.n_at_risk - kk.d)
        |SELECT t, d, c, n_at_risk,
        |  CASE WHEN d = n_at_risk THEN NULL
        |    ELSE CAST(SUM(lq) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |  END AS log_surv_q
        |FROM q ORDER BY t""".stripMargin))((s, dir) => {
      val ev = events(s, dir)
        .withColumn("day", expr("unix_micros(ts) DIV 86400000000"))
      val life = ev.groupBy("user_id")
        .agg((max("day") - min("day")).as("lifetime"),
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("event"))
      Analytics.kaplanMeier(life, "lifetime", Some("event")).orderBy("t")
    }),

    // ---- sketch tier: KMV set operations (NEW r11) ----
    // Audience overlap WITHOUT inclusion-exclusion noise: bottom-256
    // tables for click-users and purchase-users, union re-rank, match
    // count -> Jaccard + intersection estimates, every selection pure
    // hash order (the q189 sketch as a mergeable TABLE).
    Query("q204_kmv_setops", Oracles.q204KmvSetOps, headline = true)((s, dir) => {
      val ev = events(s, dir)
      val a = Sketches.kmvMinsTable(
        ev.filter(col("event_type") === "click"), Nil, "user_id", 256)
      val b = Sketches.kmvMinsTable(
        ev.filter(col("event_type") === "purchase"), Nil, "user_id", 256)
      Sketches.kmvSetOps(a, b, 256)
    }),

    // ---- sketch tier: KMV-sample distinct quantiles (NEW r11) ----
    // Approximate distinct-value quantiles from the value-carrying
    // bottom-256 hash sample — mergeable, integer-exact selection
    // (pure hash/rank arithmetic, no t-digest float centroids), exact
    // when distinct count < k.
    Query("q217_kmv_quantiles", Oracles.q217KmvQuantiles)((s, dir) => {
      Sketches.kmvQuantiles(
        lineitem(s, dir).withColumn("cents",
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long")),
        "cents", k = 256)
    }),

    // ---- curation tier: fuzzy decontamination (NEW r11) ----
    // The GPT-3-appendix hygiene pass at near-dup granularity: every
    // training doc screened against the benchmark split (doc_id % 13
    // == 0 stands in for the eval suite) through the q34/q92 MinHash
    // band join; a doc is contaminated when its estimated Jaccard vs
    // ANY benchmark doc reaches 0.3. Exact n-gram decontamination is
    // q75; this catches the lightly-edited copies it misses.
    Query("q208_fuzzy_decontaminate",
      Oracles.q208FuzzyDecontaminate, headline = true)((s, dir) => {
      val d = documents(s, dir)
      Dedup.fuzzyDecontaminate(
          d.filter(col("doc_id") % 13 =!= 0),
          d.filter(col("doc_id") % 13 === 0),
          numHashes = 32, rowsPerBand = 4, k = 5, threshold = 0.3)
        .orderBy("doc_id")
    }),

    // ---- streaming tier: streaming fuzzy decontamination (NEW r11) ----
    // q208's band join as a stream-static join: training docs stream
    // in, the benchmark signature index is the static side; per-doc
    // distinct-match count + max est through a Complete-mode
    // aggregation; readout left-joins the roster. Oracle = q208's SQL
    // (one relational truth, two engine paths — the q86/q205
    // discipline).
    // one relational truth, two engine paths (batch band join vs
    // stream-static join through the state store)
    Query("q216_stream_decontaminate", Oracles.q208FuzzyDecontaminate)((s, dir) => {
      val d = documents(s, dir)
      val benchIdx = Dedup.minhashIndex(
        d.filter(col("doc_id") % 13 === 0), 32, 4, 5)
      val hits = EventStreams.runOnceOnParquet(s, s"$dir/documents.parquet",
        df => graft.streaming.StreamingDedup.decontaminateStream(s,
          df.filter(col("doc_id") % 13 =!= 0), benchIdx,
          numHashes = 32, rowsPerBand = 4, k = 5, threshold = 0.3),
        s"decon_sink_${System.nanoTime()}")
      d.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id").cast("long").as("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_bench_matches"))
        .na.fill(0.0, Seq("max_est_jaccard"))
        .withColumn("contaminated", col("n_bench_matches") > 0)
        .select("doc_id", "n_bench_matches", "max_est_jaccard",
          "contaminated")
        .orderBy("doc_id")
    }),

    // ---- curation tier: exact containment join (NEW r11) ----
    // Directed |A∩B|/|A| ≥ 0.9 over 12-char shingle digests — the
    // asymmetric complement to q178: catches excerpt/superset
    // duplication whose symmetric Jaccard stays small. Prefix filter
    // on the RAREST digests of the contained side, recall 1; oracle is
    // the unfiltered pairwise truth.
    // q209 = the unfiltered pairwise containment truth: directed pairs,
    // containment = inter / |A| over distinct 12-char shingles, one
    // IEEE division of exact integers (engine-identical).
    Query("q209_containment_join",
      """WITH tk AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(1, strlen(lower(text)) - 11)),
        |    i -> substring(lower(text), i, 12)))) AS tok
        |  FROM documents),
        |sz AS (SELECT doc_id, COUNT(*) AS s FROM tk GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM tk a JOIN tk b ON a.tok = b.tok AND a.doc_id != b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
        |  inter::DOUBLE / sa.s AS containment
        |FROM pr JOIN sz sa ON sa.doc_id = id_a
        |WHERE inter::DOUBLE / sa.s >= 0.9
        |ORDER BY id_a, id_b""".stripMargin, headline = true)((s, dir) => {
      Dedup.containmentJoin(documents(s, dir), tau = 0.9)
        .orderBy("id_a", "id_b")
    }),

    // ---- curation tier: collapsed set-similarity join (NEW r11) ----
    // q178's exact truth made duplicate-saturation-proof: group docs
    // by shingle SET, join representatives only, report multiplicities
    // (Σ n_pairs ≡ the plain join's pair count) — output linear in
    // DISTINCT sets where the 100× clone corpus made q178 Θ(clones²).
    // unfiltered pairwise truth: the engine's prefix filter must lose
    // NOTHING relative to this
    // q207 = q178's truth on collapsed exact-duplicate groups: reps by
    // min doc_id per distinct shingle set, pairwise over reps only,
    // intra-group multiplicity rows carry the clone pairs.
    Query("q207_setsim_collapsed",
      """WITH tk AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(1, strlen(lower(text)) - 11)),
        |    i -> substring(lower(text), i, 12)))) AS tok
        |  FROM documents),
        |ds AS (SELECT doc_id, list_sort(list(tok)) AS toks
        |  FROM tk GROUP BY doc_id),
        |g AS (SELECT toks, MIN(doc_id) AS id, COUNT(*) AS n
        |  FROM ds GROUP BY toks),
        |pr AS (SELECT a.id AS id_a, b.id AS id_b,
        |    len(list_intersect(a.toks, b.toks)) AS inter,
        |    len(a.toks) AS sa, len(b.toks) AS sb,
        |    a.n AS n_a, b.n AS n_b
        |  FROM g a JOIN g b ON a.id < b.id),
        |interg AS (SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
        |    inter::DOUBLE / (sa + sb - inter) AS jaccard,
        |    CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |    CAST(n_a * n_b AS BIGINT) AS n_pairs
        |  FROM pr WHERE inter::DOUBLE / (sa + sb - inter) >= 0.8),
        |intrag AS (SELECT id AS id_a, id AS id_b,
        |    CAST(len(toks) AS BIGINT) AS inter, 1.0::DOUBLE AS jaccard,
        |    CAST(n AS BIGINT) AS n_a, CAST(n AS BIGINT) AS n_b,
        |    CAST(n * (n - 1) // 2 AS BIGINT) AS n_pairs
        |  FROM g WHERE n > 1)
        |SELECT * FROM (SELECT * FROM interg UNION ALL SELECT * FROM intrag)
        |ORDER BY id_a, id_b""".stripMargin)((s, dir) => {
      Dedup.setSimJoinCollapsed(documents(s, dir), tau = 0.8)
        .orderBy("id_a", "id_b")
    }),

    // ---- curation tier: content-defined chunk dedup (NEW r11) ----
    // FastCDC-family Gear boundaries: shift-robust chunking (an edit
    // reshapes only the chunks it touches), corpus-frequency view of
    // the repeated chunks — the storage-dedup complement to q93's
    // fixed-window spans. Oracle replays the walk as a recursive CTE.
    Query("q206_cdc_chunks", Oracles.q206CdcChunks(16, 128, 6))((s, dir) => {
      Dedup.cdcDuplicateChunks(documents(s, dir))
        .orderBy(col("n_chunks").desc, col("digest"))
        .limit(20)
    }),

    // ---- streaming tier: PSI drift via the state store (NEW r11) ----
    // q202's cells maintained by a Complete-mode streaming aggregation
    // (the q152 chi-sq shape), PSI readout shared with the batch path —
    // one truth, two engine paths.
    // PSI via the shared integer log kernel: smoothed cross products
    // (b+1)·nA' and (a+1)·nB' feed _lnq; each term and the sum are
    // exact integers, one floor division at the end — the q199 shape.
    // q205 = the same cells through the streaming state store: one
    // truth, two engine paths (the q152/q200 discipline).
    Query("q205_stream_psi", psiOracleSql)((s, dir) => {
      val cells = EventStreams.runOnceOnParquet(s, s"$dir/events.parquet",
        df => Analytics.chisqCells(df, "event_type",
          pmod(expr("unix_micros(ts) DIV 86400000000"), lit(2)) === 1),
        s"psi_sink_${System.nanoTime()}")
      Analytics.psiFromCells(cells)
    }),

    // ---- graph tier: PERSONALIZED PageRank (NEW r11) ----
    // "Related to the top sellers": restart mass pinned to the 3 parts
    // with the most distinct orders (desc count, asc id — total order),
    // 2 integer rounds on the co-purchase graph; the oracle unrolls
    // the same recurrence with the same seed rule.
    Query("q203_ppr_related", Oracles.q203PprRelated, headline = true)((s, dir) => {
      val li = lineitem(s, dir)
      val seeds = li.groupBy("l_partkey")
        .agg(countDistinct("l_orderkey").as("_c"))
        .orderBy(col("_c").desc, col("l_partkey"))
        .limit(3).select(col("l_partkey").as("node"))
      val edges = Graphs.coOccurrenceEdges(
        li, "l_orderkey", "l_partkey", dedup = false)
      Graphs.personalizedPageRankInt(edges, seeds, iters = 2,
          symmetric = true)
        .orderBy(col("score").desc, col("node"))
        .limit(20)
        .select(col("node").as("l_partkey"), col("score"))
    }),

    // ---- validation tier: PSI category drift (NEW r11) ----
    // The third drift statistic beside KS (q145) and chi-sq (q149):
    // even-day event-type mix as "expected", odd-day as "actual",
    // add-one smoothed, integer log kernel — psi_q replayed exactly.
    Query("q202_psi_drift", psiOracleSql, headline = true)((s, dir) => {
      val ev = events(s, dir)
      Analytics.psiDrift(ev, "event_type",
        pmod(expr("unix_micros(ts) DIV 86400000000"), lit(2)) === 1)
    }),

    // ---- curation tier: all-pairs corpus similarity matrix ----
    // q170 for EVERY source pair in one pass: per-shingle source sets
    // explode into pair counts (bounded by #sources², never rows) —
    // the "which crawls overlap" dashboard.
    Query("q195_corpus_matrix",
      """WITH sh AS (
        |  SELECT source, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(1, strlen(lower(text)) - 4)),
        |    i -> substring(lower(text), i, 5)))) AS s
        |  FROM documents),
        |d AS (SELECT DISTINCT source, s FROM sh),
        |n AS (SELECT source, COUNT(*) AS n FROM d GROUP BY 1),
        |pr AS (SELECT a.source AS source_a, b.source AS source_b,
        |    COUNT(*) AS inter
        |  FROM d a JOIN d b ON a.s = b.s AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, na.n AS n_a, nb.n AS n_b, inter,
        |  inter::DOUBLE / (na.n + nb.n - inter) AS jaccard
        |FROM pr
        |JOIN n na ON na.source = source_a
        |JOIN n nb ON nb.source = source_b
        |ORDER BY source_a, source_b""".stripMargin)((s, dir) => {
      Dedup.corpusJaccardMatrix(documents(s, dir), "source", k = 5)
        .orderBy("source_a", "source_b")
    }),

    // ---- analytics tier: Wilson-score segment ranking ----
    // Share of ≥10-order customers per market segment, ranked by the
    // CONSERVATIVE Wilson lower bound (the "5/5 beats 900/1000" fix);
    // exact counts → one closed-form double, engine-identical.
    // Integer Wilson (FixedMath.wilsonLbQ9 / isqrtCteSql): z = 49/25 as
    // a RATIONAL — the round-9 form's `1.96` literal parses DOUBLE on
    // DuckDB 1.0.x but DECIMAL(3,2) on newer builds, so `1.96*1.96`
    // constant-folds to a different double and the hash flips on
    // exactly the DuckDB versions the tests do not run. All integer
    // ops + floor-isqrt; the derived doubles are single
    // correctly-rounded divisions of exactly-representable values.
    Query("q194_wilson_ranking",
      ("""WITH RECURSIVE
        |o AS (SELECT o_custkey, COUNT(*) AS n_ord
        |  FROM orders GROUP BY 1),
        |c AS (SELECT c_mktsegment, COALESCE(n_ord, 0) AS n_ord
        |  FROM customer LEFT JOIN o ON c_custkey = o_custkey),
        |m AS (SELECT c_mktsegment, COUNT(*) AS trials,
        |    CAST(SUM(CASE WHEN n_ord >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS conversions
        |  FROM c GROUP BY 1),
        |_sa AS (SELECT c_mktsegment AS id,
        |    CASE WHEN trials > 477525395
        |      THEN CAST(error('q194 oracle: trials exceeds the HUGEINT radicand ceiling 477525395 (worst case s=n/2) - rescale or switch to the engine-side BigInteger path') AS HUGEINT)
        |      ELSE CAST(2500 AS HUGEINT)
        |      * (CAST(2500 AS HUGEINT) * conversions * (trials - conversions)
        |         + CAST(2401 AS HUGEINT) * trials)
        |      * trials * 1000000 END AS a
        |  FROM m),
        |""".stripMargin + graft.functions.FixedMath.isqrtCteSql + """
        |SELECT m.c_mktsegment, m.trials, m.conversions,
        |  CAST(m.conversions AS DOUBLE) / CAST(m.trials AS DOUBLE) AS rate,
        |  CAST((CAST(62500000 AS HUGEINT) * m.conversions * m.trials
        |      + CAST(120050000 AS HUGEINT) * m.trials
        |      - CAST(49 AS HUGEINT) * i.r) * 1000000000
        |    // (CAST(100000 AS HUGEINT) * m.trials
        |        * (CAST(625 AS HUGEINT) * m.trials + 2401)) AS BIGINT) AS wilson_lb_q9,
        |  CAST(CAST((CAST(62500000 AS HUGEINT) * m.conversions * m.trials
        |      + CAST(120050000 AS HUGEINT) * m.trials
        |      - CAST(49 AS HUGEINT) * i.r) * 1000000000
        |    // (CAST(100000 AS HUGEINT) * m.trials
        |        * (CAST(625 AS HUGEINT) * m.trials + 2401)) AS BIGINT) AS DOUBLE) / 1e9 AS wilson_lb
        |FROM m JOIN _isq i ON i.id = m.c_mktsegment
        |ORDER BY m.c_mktsegment""".stripMargin))((s, dir) => {
      val ords = orders(s, dir).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_ord"))
      val cust = customer(s, dir)
        .join(ords, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_mktsegment"), coalesce(col("n_ord"), lit(0L)).as("n_ord"))
      Analytics.wilsonLowerBound(cust, "c_mktsegment", col("n_ord") >= 10)
        .orderBy("c_mktsegment")
    }),

    // ---- embedding tier: label-centroid cosine matrix ----
    // Class/source separation in embedding space: cosine(Σ int8 v) per
    // label pair — centroid drift as exact integer sums + one IEEE
    // division, never a materialized centroid.
    // q81's quantization replay feeding exact per-(label, dim) integer
    // sums; dot/norms stay < 2^53 so the doubles are engine-identical
    Query("q193_centroid_shift",
      """WITH base AS (
        |  SELECT label, embedding,
        |    COALESCE(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 0.0) AS maxabs
        |  FROM embeddings),
        |qv AS (
        |  SELECT label, list_transform(embedding, x -> CAST(floor(x::DOUBLE *
        |      (CASE WHEN maxabs = 0.0 THEN 1.0 ELSE 127.0 / maxabs END) + 0.5) AS BIGINT)) AS q
        |  FROM base),
        |ex AS (SELECT label, unnest(range(1, len(q) + 1)) AS i, q FROM qv),
        |sv AS (SELECT label, i AS pos, CAST(SUM(q[i]) AS BIGINT) AS v
        |  FROM ex GROUP BY 1, 2),
        |pr AS (
        |  SELECT a.label AS label_a, b.label AS label_b,
        |    CAST(SUM(a.v * b.v) AS DOUBLE) AS dot,
        |    CAST(SUM(a.v * a.v) AS DOUBLE) AS na2,
        |    CAST(SUM(b.v * b.v) AS DOUBLE) AS nb2
        |  FROM sv a JOIN sv b ON a.label < b.label AND a.pos = b.pos
        |  GROUP BY 1, 2)
        |SELECT label_a, label_b, dot / (sqrt(na2) * sqrt(nb2)) AS cosine
        |FROM pr ORDER BY label_a, label_b""".stripMargin)((s, dir) => {
      graft.operators.Embeddings.labelCentroidCosines(embeddings(s, dir))
        .orderBy("label_a", "label_b")
    }),

    // ---- analytics tier: grouped OLS trend ----
    // Daily-revenue slope per event type from exact moments (x
    // rebased to the corpus' first day), q181's identical-IEEE
    // discipline for the closed form.
    Query("q192_trend_slopes",
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS y
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT MIN(day) AS d0 FROM daily),
        |m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(day - d0) AS sx, SUM((day - d0) * (day - d0)) AS sx2,
        |    SUM(y) AS sy, SUM(y * CAST(day - d0 AS DECIMAL(10,0))) AS sxy
        |  FROM daily, b GROUP BY 1),
        |d AS (
        |  SELECT event_type, n,
        |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sx2 AS DOUBLE) AS sx2d,
        |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
        |    CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd
        |  FROM m),
        |s AS (
        |  SELECT event_type, n,
        |    (nd * sxyd - sxd * syd) / (nd * sx2d - sxd * sxd) AS slope,
        |    nd, sxd, syd
        |  FROM d)
        |SELECT event_type, n, slope,
        |  (syd - slope * sxd) / nd AS intercept
        |FROM s ORDER BY event_type""".stripMargin)((s, dir) => {
      val daily = events(s, dir)
        .withColumn("day", expr("unix_micros(ts) DIV 86400000000"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("value").cast("decimal(18,4)"))
          .cast("decimal(18,4)").as("y"))
      val d0 = daily.agg(min("day")).head.getLong(0)
      Analytics.groupedTrend(
          daily.withColumn("x", col("day") - lit(d0)), "event_type", "x", "y")
        .orderBy("event_type")
    }),

    // ---- §2.3 NATIVE as-of join: custom LogicalPlan + Strategy + Exec ----
    // The (c)-tier extension path end-to-end: q58's as-of semantics
    // through graft.plans.AsOfJoinExec (co-partition on key, per-
    // partition (key,time) merge — one shuffle per side, no union
    // blow-up, no window state). Oracle = the independent correlated
    // MAX formulation: one truth, three engine paths (q58 union+window,
    // q172 nearest, this exec). Sides read the table twice — fresh
    // attribute ids, the self-join contract of the custom node.
    // independent correlated formulation; ties collapse to MAX exactly
    // like the exec's last-in-sort-order match
    Query("q191_asof_native",
      """WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(ts) AS pus
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, c.event_id, c.us,
        |  (SELECT MAX(pus) FROM p
        |   WHERE p.user_id = c.user_id AND p.pus <= c.us) AS prev_purchase_us
        |FROM c ORDER BY user_id, event_id""".stripMargin, headline = true)((s, dir) => {
      val clicks = events(s, dir).filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
      val purchases = events(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          unix_micros(col("ts")).as("p_us"))
      graft.plans.AsOfJoinNative.join(clicks, purchases,
          "user_id", "p_user", "us", "p_us")
        .select(col("user_id"), col("event_id"), col("us"),
          col("p_us").as("prev_purchase_us"))
        .orderBy("user_id", "event_id")
    }),

    // ---- layout tier: Bloom-filtered join (runtime semi-join) ----
    // Lineitems of high-balance suppliers: big side sheds non-matching
    // rows map-side through a broadcast Bloom of the small side's keys
    // before any shuffle; false positives die in the join, so the
    // result IS the inner join (the oracle).
    Query("q190_bloom_join",
      """SELECT s_suppkey, s_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_acctbal > 9000
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin)((s, dir) => {
      val rich = supplier(s, dir)
        .filter(col("s_acctbal") > 9000)
        .select("s_suppkey", "s_name")
      graft.operators.Layout.bloomFilteredJoin(
          lineitem(s, dir), rich, "l_suppkey", "s_suppkey")
        .groupBy("s_suppkey", "s_name")
        .agg(sum(dec(col("l_extendedprice"))).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("s_suppkey")
    }),

    // ---- sketch tier: KMV bottom-k distinct sketch ----
    // Distinct users per event type through the native bounded
    // aggregate (k=256 smallest splitmix64 hashes as state): exact
    // below k, integer-exact estimate above — q141's HLL discipline,
    // different sketch family, same replayed-hash oracle.
    Query("q189_kmv_distinct", Oracles.q189KmvDistinct, headline = true)((s, dir) => {
      events(s, dir)
        .groupBy("event_type")
        .agg(graft.plans.GraftExtensions.kmvNative(col("user_id"), 256)
          .as("_kmv"))
        .select(col("event_type"), col("_kmv.n_state").as("n_state"),
          col("_kmv.est").as("est"))
        .orderBy("event_type")
    }),

    // ---- validation tier: functional-dependency audit ----
    // Which part keys fail l_partkey → l_suppkey (all of them — parts
    // have multiple suppliers): the "is this a key" profiling check,
    // one grouped count-distinct, witnesses included.
    Query("q187_fd_violations",
      """SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS n_dep,
        |  COUNT(*) AS n_rows,
        |  MIN(l_suppkey) AS dep_min, MAX(l_suppkey) AS dep_max
        |FROM lineitem GROUP BY l_partkey
        |HAVING COUNT(DISTINCT l_suppkey) > 1
        |ORDER BY l_partkey""".stripMargin)((s, dir) => {
      Validation.fdViolations(lineitem(s, dir), "l_partkey", "l_suppkey")
        .orderBy("l_partkey")
    }),

    // ---- validation tier: Benford first-digit audit (NEW r11) ----
    // Fabricated-data / unit-mix-up screen on the price column: first
    // significant digit via DECIMAL cents -> integer string (no
    // double rendering), deviation as the exact integer
    // 1000·n_obs − permille·N. TPC-H prices are uniform-ish, so the
    // report SHOWS the non-Benford excess — that's the point of an
    // audit row.
    Query("q214_benford_audit", benfordSql)((s, dir) => {
      Validation.benfordAudit(lineitem(s, dir), "l_extendedprice")
        .orderBy("digit")
    }),

    // ---- analytics tier: sequence pattern with negation ----
    // Purchases whose latest preceding view is not separated from them
    // by any click — A…B-with-no-C-between via two running-max window
    // columns over one per-user sort (no self-join, no state machine).
    Query("q188_pattern_negation",
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |r AS (SELECT user_id, event_id, event_type, us,
        |    MAX(CASE WHEN event_type = 'view' THEN us END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt,
        |    MAX(CASE WHEN event_type = 'click' THEN us END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lb
        |  FROM e)
        |SELECT user_id, event_id, us AS conv_us, lt AS trigger_us
        |FROM r
        |WHERE event_type = 'purchase' AND lt IS NOT NULL
        |  AND (lb IS NULL OR lb < lt)
        |ORDER BY user_id, event_id""".stripMargin)((s, dir) => {
      Analytics.patternWithNegation(events(s, dir),
          trigger = "view", blocker = "click", conv = "purchase")
        .orderBy("user_id", "event_id")
    }),

    // ---- timeseries tier: gaps-and-islands longest streak ----
    // Per user, the longest run of consecutive active days (the
    // day − dense_rank island idiom), multiplicity collapsed BEFORE
    // the per-key window; earliest start breaks length ties.
    Query("q186_longest_streak",
      """WITH d AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |i AS (SELECT user_id, day,
        |    day - dense_rank() OVER (PARTITION BY user_id ORDER BY day) AS isl
        |  FROM d),
        |g AS (SELECT user_id, isl, COUNT(*) AS len, MIN(day) AS strt
        |  FROM i GROUP BY 1, 2)
        |SELECT user_id, len AS streak_days, strt AS streak_start_day,
        |  n_islands
        |FROM (
        |  SELECT user_id, len, strt,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_islands,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY len DESC, strt) AS rn
        |  FROM g) WHERE rn = 1 ORDER BY user_id""".stripMargin)((s, dir) => {
      Timeseries.longestStreak(events(s, dir))
        .orderBy("user_id")
    }),

    // ---- §2.9 streaming first-N admission per key ----
    // The first 3 events per user in event-time order, held as n
    // bounded state pairs per key through the streaming state store —
    // the q183 top-k semantics' third engine path (window SQL, native
    // aggregate, streaming state), one oracle.
    // q183's discipline with ASC order: the window truth gates the
    // streaming-state path
    Query("q185_stream_first_n",
      """SELECT user_id, CAST(rn AS BIGINT) AS rn, ts_us, event_id
        |FROM (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events)
        |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin)((s, dir) => {
      val out = EventStreams.runOnceOnParquet(s, s"$dir/events.parquet",
        df => EventStreams.firstNStream(s, df, 3),
        s"firstn_sink_${System.nanoTime()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
      out.groupBy("user_id")
        .agg(max(struct(col("emit"), col("pairs"))).as("_m"))
        .select(col("user_id"), posexplode(col("_m.pairs")))
        .select(col("user_id"), (col("pos") + 1).cast("long").as("rn"),
          col("col._1").as("ts_us"), col("col._2").as("event_id"))
        .orderBy("user_id", "rn")
    }),

    // ---- dedup tier: blocked fuzzy record linkage ----
    // Customer names within 1 Levenshtein edit, blocked by nation:
    // the entity-resolution candidate generator — quadratic only
    // inside a block, early-exit threshold distance doing the filter.
    Query("q184_record_linkage",
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a
        |JOIN customer b ON a.c_nationkey = b.c_nationkey
        |  AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin)((s, dir) => {
      Dedup.blockedLinkPairs(customer(s, dir),
          idCol = "c_custkey", keyCol = "c_name",
          blockCol = "c_nationkey", maxDist = 1)
        .orderBy("id_a", "id_b")
    }),

    // ---- curation tier: end-to-end entity resolution (NEW r11) ----
    // q184's fuzzy links closed into entities (transitive min-label
    // components) + the golden record per entity: canonical name =
    // name of the smallest key, balances merged on the exact DECIMAL
    // discipline. Oracle = recursive-CTE closure over the same pair
    // SQL (the q56/q127 discipline).
    Query("q213_entity_resolution",
      """WITH RECURSIVE
        |p AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
        |  FROM customer a JOIN customer b ON a.c_nationkey = b.c_nationkey
        |    AND a.c_custkey < b.c_custkey
        |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
        |edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |reach(s, d) AS (SELECT s, d FROM edges
        |  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
        |minr AS (SELECT s AS id, least(s, min(d)) AS cid FROM reach GROUP BY s),
        |ent AS (SELECT c.c_custkey, c.c_name, c.c_acctbal,
        |    COALESCE(m.cid, c.c_custkey) AS entity_id
        |  FROM customer c LEFT JOIN minr m ON m.id = c.c_custkey)
        |SELECT entity_id, COUNT(*)::BIGINT AS n_records,
        |  min_by(c_name, c_custkey) AS canonical_name,
        |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS total_acctbal
        |FROM ent GROUP BY entity_id ORDER BY entity_id""".stripMargin)((s, dir) => {
      Dedup.resolveEntities(customer(s, dir),
          idCol = "c_custkey", keyCol = "c_name",
          blockCol = "c_nationkey", maxDist = 1)
        .groupBy("entity_id")
        .agg(count(lit(1)).as("n_records"),
          min_by(col("c_name"), col("c_custkey")).as("canonical_name"),
          round(sum(dec(col("c_acctbal"), 2)), 2).cast("double")
            .as("total_acctbal"))
        .orderBy("entity_id")
    }),

    // ---- §2.6 native bounded top-k aggregate ----
    // Top-5 (price, orderkey) per return flag through the
    // TypedImperativeAggregate (≤ 2k pairs of state per group,
    // map-side partials — the window formulation sorts every row).
    // Oracle = the row_number window truth: one relational answer,
    // two engine paths (the q150 discipline).
    // the window formulation IS the oracle for the native aggregate
    Query("q183_topk_native",
      """SELECT l_returnflag, CAST(rn AS BIGINT) AS rn,
        |  l_extendedprice, l_orderkey
        |FROM (
        |  SELECT l_returnflag, l_extendedprice, l_orderkey,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey) AS rn
        |  FROM lineitem)
        |WHERE rn <= 5 ORDER BY l_returnflag, rn""".stripMargin, headline = true)((s, dir) => {
      lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(graft.plans.GraftExtensions.topKNative(
          col("l_extendedprice"), col("l_orderkey"), 5).as("_tk"))
        .select(col("l_returnflag"), posexplode(col("_tk")))
        .select(col("l_returnflag"),
          (col("pos") + 1).cast("long").as("rn"),
          col("col.ord").as("l_extendedprice"),
          col("col.id").as("l_orderkey"))
        .orderBy("l_returnflag", "rn")
    }),

    // ---- §2.4 exact weighted quantiles ----
    // Quantity-weighted price p50/p90 per return flag: duplicates
    // pre-collapsed, integer thresholds (den·cum ≥ num·W), both
    // quantiles from one window pass. Complements q44's unweighted
    // exact median.
    Query("q182_weighted_quantiles",
      """WITH g AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |    SUM(CAST(l_quantity AS BIGINT)) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, v, w,
        |    SUM(w) OVER (PARTITION BY l_returnflag) AS tw,
        |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM g)
        |SELECT l_returnflag,
        |  MIN(CASE WHEN cum * 2 >= tw THEN v END) AS p50_weighted,
        |  MIN(CASE WHEN cum * 10 >= tw * 9 THEN v END) AS p90_weighted
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)((s, dir) => {
      Analytics.weightedQuantiles(lineitem(s, dir),
          "l_returnflag", "l_extendedprice", "l_quantity",
          Seq((1, 2, "p50_weighted"), (9, 10, "p90_weighted")))
        .orderBy("l_returnflag")
    }),

    // ---- analytics tier: Welch two-sample t-test (A/B readout) ----
    // Arms by user-id parity, metric = per-user total purchase value;
    // exact DECIMAL moments per arm, then identical-IEEE double math —
    // the q148 chi-square discipline applied to the t-test.
    // same exact-DECIMAL moments, same IEEE double expressions — an
    // independent engine must land on the identical bits
    Query("q181_ab_ttest",
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |a AS (
        |  SELECT user_id % 2 AS arm, COUNT(*) AS n, SUM(x) AS s1,
        |    SUM(x * x) AS s2
        |  FROM u GROUP BY 1),
        |w AS (
        |  SELECT
        |    MAX(CASE WHEN arm = 0 THEN n END) AS n0,
        |    MAX(CASE WHEN arm = 0 THEN s1 END) AS s1_0,
        |    MAX(CASE WHEN arm = 0 THEN s2 END) AS s2_0,
        |    MAX(CASE WHEN arm = 1 THEN n END) AS n1,
        |    MAX(CASE WHEN arm = 1 THEN s1 END) AS s1_1,
        |    MAX(CASE WHEN arm = 1 THEN s2 END) AS s2_1
        |  FROM a),
        |-- decimal→double via VARCHAR: DuckDB's direct decimal cast is
        |-- not correctly rounded (hugeint/10^s as two float ops), while
        |-- the string round-trip is, matching Java BigDecimal.doubleValue
        |d AS (
        |  SELECT n0, n1,
        |    CAST(CAST(s1_0 AS VARCHAR) AS DOUBLE) / CAST(n0 AS DOUBLE) AS mean0,
        |    CAST(CAST(s1_1 AS VARCHAR) AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean1,
        |    (CAST(CAST(s2_0 AS VARCHAR) AS DOUBLE) - CAST(CAST(s1_0 AS VARCHAR) AS DOUBLE) * CAST(CAST(s1_0 AS VARCHAR) AS DOUBLE) / CAST(n0 AS DOUBLE))
        |      / (CAST(n0 AS DOUBLE) - 1.0) AS var0,
        |    (CAST(CAST(s2_1 AS VARCHAR) AS DOUBLE) - CAST(CAST(s1_1 AS VARCHAR) AS DOUBLE) * CAST(CAST(s1_1 AS VARCHAR) AS DOUBLE) / CAST(n1 AS DOUBLE))
        |      / (CAST(n1 AS DOUBLE) - 1.0) AS var1
        |  FROM w)
        |SELECT n0, n1, mean0, mean1, var0, var1,
        |  (mean1 - mean0) / sqrt(var0 / CAST(n0 AS DOUBLE) + var1 / CAST(n1 AS DOUBLE)) AS t_stat,
        |  (var0 / CAST(n0 AS DOUBLE) + var1 / CAST(n1 AS DOUBLE))
        |    * (var0 / CAST(n0 AS DOUBLE) + var1 / CAST(n1 AS DOUBLE))
        |    / ((var0 / CAST(n0 AS DOUBLE)) * (var0 / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0)
        |      + (var1 / CAST(n1 AS DOUBLE)) * (var1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) AS df_welch
        |FROM d
        |ORDER BY n0, n1""".stripMargin)((s, dir) => {
      val perUser = events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(col("value").cast("decimal(18,4)"))
          .cast("decimal(18,4)").as("x"))
      Analytics.welchTTest(perUser, pmod(col("user_id"), lit(2)), col("x"))
    }),

    // ---- analytics tier: 2D skyline (Pareto frontier) ----
    // Parts not dominated on (cheaper price, larger size): one
    // partitioned window + a prefix-max over the DISTINCT price groups
    // + a broadcast join back — never a quadratic dominance check.
    // Oracle IS the quadratic NOT EXISTS truth.
    // the quadratic dominance truth the engine's window formulation
    // must reproduce exactly (incl. duplicate-point survival)
    Query("q180_skyline",
      """SELECT p_partkey, p_retailprice, p_size FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice
        |    AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_retailprice, p_partkey""".stripMargin, headline = true)((s, dir) => {
      Analytics.skyline2d(
          part(s, dir).select("p_partkey", "p_retailprice", "p_size"),
          minCol = "p_retailprice", maxCol = "p_size")
        .orderBy("p_retailprice", "p_partkey")
    }),

    // ---- graph tier: BFS hop layers from a landmark ----
    // Exact frontier expansion (3 hops) from the smallest node of the
    // co-purchase graph; each layer one frontier⋈edges join + one
    // anti-join vs the settled set, oracle-unrolled per round.
    // ---- graph tier: bounded-round weighted SSSP (NEW r11) ----
    // Proximity distances over the co-purchase graph: edge cost =
    // 1000000 div co-occurrence count (stronger ties are shorter), 3
    // Bellman-Ford rounds with a label-correcting frontier; oracle
    // unrolls each round as a union+min CTE (the q147/q179 discipline).
    Query("q211_sssp", Oracles.q211Sssp, headline = true)((s, dir) => {
      val ew = Graphs.coOccurrenceWeighted(
          lineitem(s, dir), "l_orderkey", "l_partkey")
        .withColumn("weight", expr("1000000 div weight"))
      Graphs.ssspInt(ew, rounds = 3).orderBy("node")
    }),

    Query("q179_bfs_hops", Oracles.q179BfsHops)((s, dir) => {
      Graphs.bfsHops(Graphs.coOccurrenceEdges(
          lineitem(s, dir), "l_orderkey", "l_partkey"), maxHops = 3)
        .orderBy("hops", "node")
    }),

    // ---- curation tier: corpus-level n-gram Jaccard between sources ----
    // "How similar are these two crawls" as one exact number: distinct
    // 5-shingle sets per side tagged in ONE groupBy, then a single
    // global agg — nothing pairwise.
    Query("q170_corpus_jaccard",
      """WITH sh AS (
        |  SELECT source, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(1, strlen(lower(text)) - 4)),
        |    i -> substring(lower(text), i, 5)))) AS s
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |g AS (SELECT s,
        |    MAX(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ina,
        |    MAX(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS inb
        |  FROM sh GROUP BY s)
        |SELECT CAST(SUM(ina) AS BIGINT) AS n_a, CAST(SUM(inb) AS BIGINT) AS n_b,
        |  CAST(SUM(ina * inb) AS BIGINT) AS n_inter,
        |  CAST(COUNT(*) AS BIGINT) AS n_union,
        |  CAST(SUM(ina * inb) AS BIGINT)::DOUBLE / COUNT(*) AS jaccard
        |FROM g ORDER BY n_a""".stripMargin)((s, dir) => {
      Dedup.corpusJaccard(documents(s, dir), "source", "src0", "src1", k = 5)
    }),

    // ---- analytics tier: windowed funnel (convert within T) ----
    // q126's chain with each step additionally required to land within
    // 1 hour of the previous step's first completion.
    Query("q171_funnel_windowed",
      """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
        |    AND epoch_us(e.ts) <= s1.t1 + 3600000000 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
        |    AND epoch_us(e.ts) <= s2.t2 + 3600000000 GROUP BY e.user_id)
        |SELECT u.user_id, t1 AS t1_us, t2 AS t2_us, t3 AS t3_us,
        |  (CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |        WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)::INT AS step_reached
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN s1 ON u.user_id = s1.user_id
        |LEFT JOIN s2 ON u.user_id = s2.user_id
        |LEFT JOIN s3 ON u.user_id = s3.user_id
        |ORDER BY u.user_id""".stripMargin)((s, dir) => {
      Analytics.funnel(events(s, dir), Seq("view", "click", "purchase"),
          maxGapUs = Some(3600000000L))
        .orderBy("user_id")
    }),

    // ---- §2.3 nearest-event as-of join with tolerance ----
    // pandas merge_asof direction='nearest': each click gets the
    // nearest purchase of the same user within ±10 min (ties →
    // backward), via BOTH-direction union+window passes — never a
    // non-equi join. Oracle is an independent correlated formulation.
    // independent correlated formulation of the engine's two-direction
    // union+window nearest join
    Query("q172_asof_nearest",
      """WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        |  WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(ts) AS pus FROM events
        |  WHERE event_type = 'purchase'),
        |b AS (SELECT c.user_id, c.event_id, c.us, MAX(p.pus) AS bt
        |  FROM c LEFT JOIN p ON p.user_id = c.user_id AND p.pus <= c.us
        |  GROUP BY c.user_id, c.event_id, c.us),
        |f AS (SELECT c.user_id, c.event_id, MIN(p.pus) AS ft
        |  FROM c LEFT JOIN p ON p.user_id = c.user_id AND p.pus > c.us
        |  GROUP BY c.user_id, c.event_id)
        |SELECT b.user_id, b.event_id, b.us,
        |  CASE WHEN b.bt IS NOT NULL AND b.us - b.bt <= 600000000
        |         AND (f.ft IS NULL OR b.us - b.bt <= f.ft - b.us) THEN b.bt
        |       WHEN f.ft IS NOT NULL AND f.ft - b.us <= 600000000 THEN f.ft
        |  END AS nearest_us
        |FROM b JOIN f ON b.user_id = f.user_id AND b.event_id = f.event_id
        |ORDER BY b.user_id, b.event_id""".stripMargin)((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("pus"))
      Asof.nearestJoin(clicks, purch, "user_id", "us", "pus",
          toleranceUs = 600000000L)
        .orderBy("user_id", "event_id")
    }),

    // ---- graph tier: WEIGHTED integer PageRank ----
    // Co-membership multiplicities as edge weights: rank flow ∝ how
    // often the pair co-occurs (the CCNet-style weighted source
    // ranking); every hop floor((score·85·w)/(wdeg·100)), unrolled in
    // the oracle like q147.
    Query("q173_weighted_rank", Oracles.q173WeightedRank)((s, dir) => {
      val edges = Graphs.coOccurrenceWeighted(
        lineitem(s, dir), "l_orderkey", "l_partkey")
      Graphs.pageRankIntWeighted(edges, iters = 3)
        .orderBy(col("score").desc, col("node"))
        .limit(20)
        .select(col("node").as("l_partkey"), col("score"))
    }),

    // ---- analytics tier: multi-touch linear attribution ----
    // Each purchase's value splits EXACTLY (integer 10⁻⁴ units,
    // remainder to the earliest touches) across its session's prior
    // events; Σ credits ≡ Σ purchase values bit-for-bit.
    Query("q174_linear_attribution",
      """WITH e0 AS (
        |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events),
        |e AS (
        |  SELECT *, SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 300000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e0),
        |conv AS (SELECT user_id, sid, us AS pus, event_id AS pord,
        |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vt
        |  FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT c.user_id, c.sid, c.pord, c.vt, e.us, e.event_id, e.event_type
        |  FROM conv c JOIN e ON e.user_id = c.user_id AND e.sid = c.sid
        |    AND (e.us < c.pus OR (e.us = c.pus AND e.event_id < c.pord))),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY user_id, sid, pord ORDER BY us, event_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY user_id, sid, pord) AS n
        |  FROM t),
        |cr AS (SELECT event_type, (vt - ((vt % n) + n) % n) // n
        |    + CASE WHEN rk <= ((vt % n) + n) % n THEN 1 ELSE 0 END AS credit FROM r),
        |selfc AS (SELECT 'purchase' AS event_type, vt AS credit FROM conv c
        |  WHERE NOT EXISTS (SELECT 1 FROM t
        |    WHERE t.user_id = c.user_id AND t.sid = c.sid AND t.pord = c.pord))
        |SELECT event_type, COUNT(*) AS n_credits,
        |  CAST(SUM(credit) AS BIGINT) AS credit_tenk
        |FROM (SELECT * FROM cr UNION ALL SELECT * FROM selfc)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)((s, dir) => {
      Analytics.linearAttribution(events(s, dir), convType = "purchase")
        .orderBy("event_type")
    }),

    // ---- analytics tier: time-decay attribution (NEW r11) ----
    // The third attribution model: weight 2^(-days-before-conversion)
    // — dyadic, so the whole split is exact integer arithmetic with
    // the pmod floor discipline and remainder to the latest touches.
    // 7-day sessions so multi-day deltas (decay weights 2^30..2^21 on
    // this data) are live, not degenerate-to-linear.
    // q221 = q174's sessionization with the dyadic 2^(-days) split:
    // num = 1 << (30 - min(30, days)), floor division via pmod,
    // remainder to the latest touches — all exact integers.
    Query("q221_timedecay_attribution",
      """WITH e0 AS (
        |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events),
        |e AS (
        |  SELECT *, SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 604800000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e0),
        |conv AS (SELECT user_id, sid, us AS pus, event_id AS pord,
        |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vt
        |  FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT c.user_id, c.sid, c.pord, c.pus, c.vt, e.us, e.event_id, e.event_type
        |  FROM conv c JOIN e ON e.user_id = c.user_id AND e.sid = c.sid
        |    AND (e.us < c.pus OR (e.us = c.pus AND e.event_id < c.pord))),
        |r AS (SELECT *,
        |    (1::BIGINT << CAST(30 - least(30, (pus - us) // 86400000000) AS INT)) AS num
        |  FROM t),
        |r2 AS (SELECT *,
        |    SUM(num) OVER (PARTITION BY user_id, sid, pord) AS den,
        |    row_number() OVER (PARTITION BY user_id, sid, pord
        |      ORDER BY us DESC, event_id DESC) AS rk
        |  FROM r),
        |r3 AS (SELECT *,
        |    (vt*num - (((vt*num) % den) + den) % den) // den AS base
        |  FROM r2),
        |r4 AS (SELECT *,
        |    SUM(base) OVER (PARTITION BY user_id, sid, pord) AS sb
        |  FROM r3),
        |cr AS (SELECT event_type,
        |    base + CASE WHEN rk <= vt - sb THEN 1 ELSE 0 END AS credit FROM r4),
        |selfc AS (SELECT 'purchase' AS event_type, vt AS credit FROM conv c
        |  WHERE NOT EXISTS (SELECT 1 FROM t
        |    WHERE t.user_id = c.user_id AND t.sid = c.sid AND t.pord = c.pord))
        |SELECT event_type, COUNT(*) AS n_credits,
        |  CAST(SUM(credit) AS BIGINT) AS credit_tenk
        |FROM (SELECT * FROM cr UNION ALL SELECT * FROM selfc)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)((s, dir) => {
      Analytics.timeDecayAttribution(events(s, dir), convType = "purchase",
          gapUs = 604800000000L)
        .orderBy("event_type")
    }),

    // ---- analytics tier: Nelson–Aalen cumulative hazard (NEW r11) ----
    // The additive companion to q201's KM: H(t) = Σ d/n over the same
    // censored life table, each increment the exact integer
    // ⌊d·10¹²/n⌋ — one integer division per distinct duration, no log
    // kernel, no libm. Same life table as q201 so the two estimators
    // cross-validate the risk-set machinery.
    // q201's life table with the additive estimator: each hazard
    // increment is the exact HUGEINT floor (d·10¹²)//n (positive, so
    // floor ≡ trunc ≡ Spark's DECIMAL DIV); the running sum is an
    // exact BIGINT in both engines.
    Query("q222_nelson_aalen",
      """WITH
        |life AS (
        |  SELECT user_id,
        |    MAX(epoch_us(ts) // 86400000000) - MIN(epoch_us(ts) // 86400000000) AS t,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS evt
        |  FROM events GROUP BY user_id),
        |g AS (SELECT t, CAST(SUM(evt) AS BIGINT) AS d,
        |    CAST(SUM(1 - evt) AS BIGINT) AS c
        |  FROM life GROUP BY t),
        |r AS (SELECT t, d, c,
        |    SUM(d + c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(d + c) OVER () AS tot
        |  FROM g),
        |kk AS (SELECT t, d, c, CAST(tot - cum + d + c AS BIGINT) AS n_at_risk FROM r),
        |h AS (SELECT t, d, c, n_at_risk,
        |    CAST((CAST(d AS HUGEINT) * 1000000000000) // n_at_risk AS BIGINT) AS h_q12
        |  FROM kk)
        |SELECT t, d, c, n_at_risk, h_q12,
        |  CAST(SUM(h_q12) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cum_hazard_q12
        |FROM h ORDER BY t""".stripMargin)((s, dir) => {
      val ev = events(s, dir)
        .withColumn("day", expr("unix_micros(ts) DIV 86400000000"))
      val life = ev.groupBy("user_id")
        .agg((max("day") - min("day")).as("lifetime"),
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("event"))
      Analytics.nelsonAalen(life, "lifetime", Some("event")).orderBy("t")
    }),

    // ---- curation tier: n-gram novelty scoring (NEW r11) ----
    // The additive complement of decontamination: per training doc,
    // the permille of its distinct 3-grams ABSENT from the reference
    // snapshot (doc_id % 3 = 0) — the novelty signal a dedup-aware
    // data-valuation pass ranks on. Raw-string grams so DuckDB
    // replays the join; a spec asserts the hashed path agrees.
    Query("q223_ngram_novelty", Oracles.q223NgramNovelty)((s, dir) => {
      val d = documents(s, dir)
      TextAnalysis.ngramNovelty(
          d.filter(col("doc_id") % 3 =!= 0),
          d.filter(col("doc_id") % 3 === 0),
          n = 3, hashGrams = false)
        .orderBy("doc_id")
    }),

    // ---- sketch tier: AMS F₂ self-join-size estimate (NEW r11) ----
    // The tug-of-war sketch: 32 signed counters over per-user event
    // counts estimate F₂ = Σ n_u² (the events⋈events self-join size on
    // user_id) in one pass + 32 integers of mergeable state — the
    // sketch a join planner consults before picking a strategy. Every
    // sign is a splitmix64 low bit, every sum an exact integer, so the
    // whole walk replays in DuckDB.
    Query("q224_ams_f2", Oracles.q224AmsF2)((s, dir) => {
      Sketches.amsF2Estimate(
        Sketches.amsF2Counters(events(s, dir), "user_id", k = 32))
    }),

    // ---- §2.9 streaming dimension upsert ----
    // q163's latest-wins merge with the UPDATE side folded through the
    // streaming state store (per-key min urgent-order time — bounded
    // state) and the snapshot merge batch-side. Oracle = q163's SQL:
    // one relational truth, two engine paths.
    // q175 = q163's semantics with the update side folded through
    // streaming state: one relational truth, two engine paths
    Query("q175_stream_upsert",
      """WITH base AS (SELECT c_custkey, c_mktsegment AS segment, 0::BIGINT AS ver FROM customer),
        |upd AS (SELECT o_custkey AS c_custkey, 'URGENT_BUYER' AS segment,
        |    MIN(epoch_us(o_orderdate)) AS ver
        |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey),
        |a AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
        |r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY ver DESC) AS rn FROM a)
        |SELECT c_custkey, segment, ver FROM r WHERE rn = 1
        |ORDER BY c_custkey""".stripMargin)((s, dir) => {
      val updAgg = EventStreams.runOnceOnParquet(s, s"$dir/orders.parquet",
        df => df.filter(col("o_orderpriority") === "1-URGENT")
          .groupBy(col("o_custkey").as("c_custkey"))
          .agg(min(unix_micros(col("o_orderdate"))).as("ver")),
        s"upsert_sink_${System.nanoTime()}")
      val upd = updAgg.withColumn("segment", lit("URGENT_BUYER"))
      val base = customer(s, dir).select(col("c_custkey"),
        col("c_mktsegment").as("segment"), lit(0L).as("ver"))
      Validation.upsertLatest(base, upd, "c_custkey", Seq("segment"), "ver")
        .orderBy("c_custkey")
    }),

    // ---- §2.5 RANGE-frame window: trailing-7-day revenue ----
    // Rows-frames are q60; this is the value-based RANGE frame over
    // integer days. The window is partition-less BY DESIGN: it runs on
    // the already-aggregated daily table (dashboard-sized — one row
    // per day), never on raw events.
    Query("q176_trailing_revenue",
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS rev
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT day, CAST(SUM(rev) OVER (ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_7d
        |FROM d ORDER BY day""".stripMargin)((s, dir) => {
      val daily = events(s, dir).filter(col("event_type") === "purchase")
        .withColumn("day", expr("unix_micros(ts) DIV 86400000000"))
        .groupBy("day")
        .agg(sum(col("value").cast("decimal(18,4)")).as("_rev"))
      val w = Window.orderBy("day").rangeBetween(-6, 0)
      daily.select(col("day"),
          sum(col("_rev")).over(w).cast("double").as("rev_7d"))
        .orderBy("day")
    }),

    // ---- layout tier: partitioned write + pruned readback ----
    // Events written partitionBy(day), read back with a literal day
    // range — the scan touches only the seven matching partition dirs
    // (LayoutSpec asserts pruning; here the VALUES are oracle-gated
    // against a direct filter over the raw table).
    Query("q177_partitioned_scan",
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, value FROM events),
        |b AS (SELECT MIN(day) + 7 AS lo FROM e)
        |SELECT day, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS rev
        |FROM e, b WHERE day BETWEEN lo AND lo + 6
        |GROUP BY day ORDER BY day""".stripMargin)((s, dir) => {
      val ev = events(s, dir)
        .withColumn("day", expr("unix_micros(ts) DIV 86400000000"))
      val path = TempDirs.scratch("part")
      ev.write.mode("overwrite").partitionBy("day").parquet(path)
      val lo = ev.agg(min("day")).head.getLong(0) + 7
      s.read.parquet(path)
        .filter(col("day").between(lo, lo + 6))
        .groupBy(col("day").cast("long").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("rev"))
        .orderBy("day")
    }),

    // ---- dedup tier: EXACT all-pairs set-similarity join ----
    // The complete (recall = 1) complement to q34's MinHash: every doc
    // pair with 12-shingle Jaccard ≥ 0.8 (the standard near-dup bar;
    // w≈10–12 windows are the classic shingling width) via PPJoin
    // prefix + positional filtering — candidates bounded by each doc's
    // RAREST shingles, never O(n²). The wider window keeps the shingle
    // vocabulary discriminative (5-grams over this corpus's small
    // alphabet collide so broadly that EVERY prefix token is hot —
    // 1.5M candidates for 256 true pairs; at k=12 the same 256 pairs
    // emerge from 17k candidates). Oracle is the unfiltered pairwise
    // truth.
    Query("q178_setsim_join",
      """WITH tk AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(1, strlen(lower(text)) - 11)),
        |    i -> substring(lower(text), i, 12)))) AS tok
        |  FROM documents),
        |sz AS (SELECT doc_id, COUNT(*) AS s FROM tk GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM tk a JOIN tk b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
        |  inter::DOUBLE / (sa.s + sb.s - inter) AS jaccard
        |FROM pr
        |JOIN sz sa ON sa.doc_id = id_a
        |JOIN sz sb ON sb.doc_id = id_b
        |WHERE inter::DOUBLE / (sa.s + sb.s - inter) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin, headline = true)((s, dir) => {
      Dedup.setSimJoin(documents(s, dir), tau = 0.8)
        .orderBy("id_a", "id_b")
        .select(col("id_a"), col("id_b"), col("inter"), col("jaccard"))
    }),

    // ---- ops tier: per-key group-size skew report ----
    // The diagnostic behind every salting/broadcast decision: key
    // count, exact p50/p90/p99 group sizes, heaviest key.
    Query("q159_skew_report",
      """WITH c AS (SELECT l_partkey AS k, COUNT(*) AS n FROM lineitem GROUP BY l_partkey)
        |SELECT COUNT(*) AS n_keys, MAX(n) AS max_size,
        |  ROUND(quantile_cont(n, 0.5), 4) AS p50_size,
        |  ROUND(quantile_cont(n, 0.9), 4) AS p90_size,
        |  ROUND(quantile_cont(n, 0.99), 4) AS p99_size,
        |  (SELECT k FROM c ORDER BY n DESC, k LIMIT 1) AS top_key,
        |  (SELECT n FROM c ORDER BY n DESC, k LIMIT 1) AS top_size
        |FROM c""".stripMargin)((s, dir) => {
      Analytics.groupSizeSkew(lineitem(s, dir), "l_partkey")
    }),

    // ---- analytics tier: top session paths ----
    // First 8 event types per session joined with '>', counted per
    // distinct path — top-20 navigation flows.
    Query("q160_session_paths",
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT *, SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 300000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e),
        |p AS (SELECT array_to_string((list(event_type ORDER BY us, event_id))[1:8], '>') AS path
        |  FROM s GROUP BY user_id, sid)
        |SELECT path, COUNT(*) AS n_sessions FROM p
        |GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin, headline = true)((s, dir) => {
      Analytics.sessionPaths(events(s, dir), maxLen = 8)
        .orderBy(col("n_sessions").desc, col("path")).limit(20)
    }),

    // ---- §2.4 aggregation: TPC-H Q1 pricing summary ----
    Query("q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin, headline = true)((s, dir) => {
      lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          round(sum(dec(col("l_extendedprice"))), 2).cast("double").as("sum_base_price"),
          round(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,4)") - dec(col("l_discount")))), 2)
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- §2.2 filter + projection (SelectAbstract predicate form) ----
    Query("q02_filter_project",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4)) AS DOUBLE) AS disc_amount
        |FROM lineitem WHERE l_quantity > 30 AND l_discount >= 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin, headline = true)((s, dir) => {
      lineitem(s, dir)
        .filter(col("l_quantity") > 30 && col("l_discount") >= 0.05)
        .select(col("l_orderkey"), col("l_linenumber"),
          (dec(col("l_extendedprice")) * dec(col("l_discount")))
            .cast("double").as("disc_amount"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- §2.3 joins: 5-table join w/ broadcast dims ----
    Query("q03_revenue_by_nation",
      """SELECT r_name, n_name,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin, headline = true)((s, dir) => revenueByNation(s, dir)),

    // ---- §2.6 sort + limit (top-k) ----
    Query("q04_topk_orders",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin, headline = true)((s, dir) => {
      orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    }),

    // ---- §2.4 distinct ----
    Query("q05_distinct_segments",
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment")((s, dir) => {
      customer(s, dir).select("c_mktsegment").distinct().orderBy("c_mktsegment")
    }),

    // ---- §2.5 SQL window: rank per partition ----
    Query("q06_window_rank",
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS rn
        |  FROM orders) t WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin, headline = true)((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    }),

    // ---- §2.5 SQL window: lag ----
    Query("q07_window_lag",
      """SELECT o_custkey, o_orderkey,
        |  COALESCE(lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 0.0) AS prev_price
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          coalesce(lag(col("o_totalprice"), 1).over(w), lit(0.0)).as("prev_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ---- §2.4 grouping sets / rollup ----
    Query("q08_rollup_counts",
      """SELECT COALESCE(c_mktsegment, 'ALL') AS segment, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_bal
        |FROM customer GROUP BY ROLLUP(c_mktsegment) ORDER BY segment""".stripMargin)((s, dir) => {
      customer(s, dir)
        .rollup("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          round(sum(dec(col("c_acctbal"), 2)), 2).cast("double").as("sum_bal"))
        .select(coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          col("n"), col("sum_bal"))
        .orderBy("segment")
    }),

    // ---- §2.7 set ops: UNION ----
    Query("q09_union_priority",
      """SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |UNION
        |SELECT o_orderkey FROM orders WHERE o_totalprice > 300000
        |ORDER BY o_orderkey""".stripMargin)((s, dir) => {
      val o = orders(s, dir)
      o.filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
        .union(o.filter(col("o_totalprice") > 300000).select("o_orderkey"))
        .distinct()
        .orderBy("o_orderkey")
    }),

    // ---- §2.7 set ops: INTERSECT / EXCEPT ----
    Query("q10_intersect_except",
      """(SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        | INTERSECT
        | SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 400000
        |ORDER BY o_custkey""".stripMargin)((s, dir) => {
      val o = orders(s, dir)
      val withO = o.filter(col("o_orderstatus") === "O").select("o_custkey")
      val withF = o.filter(col("o_orderstatus") === "F").select("o_custkey")
      withO.intersect(withF)
        .except(o.filter(col("o_totalprice") > 400000).select("o_custkey"))
        .orderBy("o_custkey")
    }),

    // ---- §2.3 anti join (customers with no URGENT order) ----
    Query("q11_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)((s, dir) => {
      customer(s, dir).join(
          orders(s, dir).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // ---- §2.3 semi join ----
    Query("q12_semi_join",
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 350000)
        |ORDER BY c_custkey""".stripMargin)((s, dir) => {
      customer(s, dir).join(
          orders(s, dir).filter(col("o_totalprice") > 350000),
          col("c_custkey") === col("o_custkey"), "semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // ---- §2.8 scalar functions (string/date/math built-ins) ----
    Query("q13_scalar_funcs",
      """SELECT p_partkey,
        |  UPPER(p_brand) AS brand_u,
        |  SUBSTRING(p_name, 1, 8) AS name_prefix,
        |  CONCAT_WS('/', p_brand, p_type) AS brand_type,
        |  CAST(LENGTH(p_name) AS BIGINT) AS name_len,
        |  CAST(ABS(p_size - 25) AS BIGINT) AS size_dist,
        |  CAST(ROUND(CAST(p_retailprice AS DECIMAL(18,2)) * 2, 2) AS DOUBLE) AS double_price
        |FROM part ORDER BY p_partkey""".stripMargin)((s, dir) => {
      part(s, dir).select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        substring(col("p_name"), 1, 8).as("name_prefix"),
        concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
        length(col("p_name")).cast("long").as("name_len"),
        abs(col("p_size") - 25).cast("long").as("size_dist"),
        round(dec(col("p_retailprice"), 2) * 2, 2).cast("double").as("double_price"))
        .orderBy("p_partkey")
    }),

    // ---- §2.4 conditional aggregation ----
    Query("q14_conditional_agg",
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        |  COUNT(*) AS n_total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)((s, dir) => {
      orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_finished"),
          sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_open"),
          count(lit(1)).as("n_total"))
        .orderBy("o_orderpriority")
    }),

    // ---- §2.4 agg + subquery comparison (above-average parts) ----
    Query("q15_above_avg",
      """SELECT p_partkey, p_retailprice FROM part
        |WHERE CAST(p_retailprice AS DECIMAL(18,2)) * (SELECT COUNT(*) FROM part)
        |      > (SELECT SUM(CAST(p_retailprice AS DECIMAL(18,2))) FROM part)
        |ORDER BY p_partkey""".stripMargin)((s, dir) => {
      val p = part(s, dir)
      val stats = p.agg(
        sum(dec(col("p_retailprice"), 2)).as("tot"),
        count(lit(1)).as("cnt")).head()
      val tot = stats.getDecimal(0); val cnt = stats.getLong(1)
      // exact comparison price*cnt > total — avoids decimal division
      p.filter(dec(col("p_retailprice"), 2) * cnt > lit(tot))
        .select("p_partkey", "p_retailprice")
        .orderBy("p_partkey")
    }),

    // ---- §2.4 group having ----
    Query("q16_having",
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_spent
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 3
        |ORDER BY o_custkey""".stripMargin, headline = true)((s, dir) => {
      orders(s, dir)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(dec(col("o_totalprice"), 2)), 2).cast("double").as("total_spent"))
        .filter(col("n_orders") >= 3)
        .orderBy("o_custkey")
    }),

    // ---- §2.9 event-time tumbling window (batch mode) ----
    Query("q17_events_minutely",
      """SELECT CAST(FLOOR(epoch_us(ts) / 60000000) AS BIGINT) AS minute_bucket,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin, headline = true)((s, dir) => {
      events(s, dir)
        .groupBy((floor(unix_micros(col("ts")) / 60000000L)).as("minute_bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("sum_value"))
        .orderBy("minute_bucket", "event_type")
    }),

    // ---- §2.9 sessionization (gap-based, batch) ----
    Query("q18_sessionize",
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, us,
        |    SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 300000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM e)
        |SELECT user_id, CAST(session_id AS INT) AS session_id, COUNT(*) AS n_events
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin, headline = true)((s, dir) => {
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      val e = events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("prev_us", lag(col("us"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_us").isNull || col("us") - col("prev_us") > 300000000L, 1)
            .otherwise(0))
        .withColumn("session_id",
          sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      e.groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_id").cast("int").as("session_id"), col("n_events"))
        .orderBy("user_id", "session_id")
    }),

    // ---- §2.3 as-of (most recent prior purchase per user) ----
    Query("q19_asof_prev_purchase",
      """SELECT user_id, event_id,
        |  MAX(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |    OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_purchase_us
        |FROM events ORDER BY user_id, event_id""".stripMargin)((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("prev_purchase_us",
          max(when(col("event_type") === "purchase", col("us"))).over(w))
        .select("user_id", "event_id", "prev_purchase_us")
        .orderBy("user_id", "event_id")
    }),

    // ---- north star: exact dedup ----
    Query("q20_dedup_exact",
      """SELECT md5(text) AS digest, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
        |FROM documents GROUP BY md5(text) ORDER BY digest""".stripMargin, headline = true)((s, dir) => {
      Dedup.exact(documents(s, dir)).orderBy("digest")
    }),

    // ---- north star: exact-dedup survivors ----
    Query("q21_dedup_keep",
      """SELECT doc_id, lang FROM documents
        |WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text))
        |ORDER BY doc_id""".stripMargin)((s, dir) => {
      Dedup.exactKeep(documents(s, dir))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // ---- north star: text statistics ----
    Query("q22_text_stats",
      """WITH w AS (
        |  SELECT doc_id, w FROM documents,
        |    unnest(regexp_split_to_array(lower(text), '[^a-z0-9'']+')) AS t(w)
        |  WHERE w <> ''),
        |tok AS (
        |  SELECT doc_id, tk FROM documents,
        |    unnest(regexp_split_to_array(text, '\s+')) AS t(tk)
        |  WHERE tk <> '')
        |SELECT d.doc_id,
        |  CAST(LENGTH(d.text) AS BIGINT) AS n_chars,
        |  (SELECT COUNT(*) FROM tok WHERE tok.doc_id = d.doc_id) AS n_tokens,
        |  (SELECT COUNT(*) FROM w WHERE w.doc_id = d.doc_id) AS n_words,
        |  (SELECT COUNT(DISTINCT w) FROM w WHERE w.doc_id = d.doc_id) AS n_unique_words
        |FROM documents d ORDER BY d.doc_id""".stripMargin, headline = true)((s, dir) => {
      // _ws materialized: two references of an inline words() would
      // run the regex split twice (HOFs sit outside codegen CSE)
      documents(s, dir)
        .withColumn("_ws", TextAnalysis.words(col("text")))
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"),
          size(col("_ws")).cast("long").as("n_words"),
          size(array_distinct(col("_ws"))).cast("long").as("n_unique_words"))
        .orderBy("doc_id")
    }),

    // ---- north star: language ID heuristic ----
    Query("q23_langid",
      """WITH w AS (
        |  SELECT doc_id, w FROM documents,
        |    unnest(regexp_split_to_array(lower(text), '[^a-z0-9'']+')) AS t(w)
        |  WHERE w <> ''),
        |h AS (
        |  SELECT doc_id,
        |    SUM(CASE WHEN w IN ('der','die','das','und','ist','nicht','ein','eine','zu','mit') THEN 1 ELSE 0 END) AS h_de,
        |    SUM(CASE WHEN w IN ('the','and','of','to','in','is','that','it','was','for') THEN 1 ELSE 0 END) AS h_en,
        |    SUM(CASE WHEN w IN ('el','la','los','las','y','es','un','una','que','por') THEN 1 ELSE 0 END) AS h_es,
        |    SUM(CASE WHEN w IN ('le','la','les','et','est','une','un','que','pour','dans') THEN 1 ELSE 0 END) AS h_fr,
        |    SUM(CASE WHEN w IN ('il','la','di','e','che','un','una','per','non','sono') THEN 1 ELSE 0 END) AS h_it,
        |    SUM(CASE WHEN w IN ('de','het','een','en','van','is','dat','niet','met','op') THEN 1 ELSE 0 END) AS h_nl
        |  FROM w GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE
        |    WHEN h.doc_id IS NULL OR GREATEST(h_de,h_en,h_es,h_fr,h_it,h_nl) = 0 THEN 'und'
        |    WHEN h_de >= GREATEST(h_en,h_es,h_fr,h_it,h_nl) THEN 'de'
        |    WHEN h_en >= GREATEST(h_es,h_fr,h_it,h_nl) THEN 'en'
        |    WHEN h_es >= GREATEST(h_fr,h_it,h_nl) THEN 'es'
        |    WHEN h_fr >= GREATEST(h_it,h_nl) THEN 'fr'
        |    WHEN h_it >= h_nl THEN 'it'
        |    ELSE 'nl' END AS lang_pred
        |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
        |ORDER BY d.doc_id""".stripMargin, headline = true)((s, dir) => {
      documents(s, dir)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // ---- north star: content fingerprint (md5-min over word 8-grams) ----
    Query("q24_fingerprint",
      """WITH w AS (
        |  SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id) AS pos
        |  FROM (SELECT doc_id, w FROM documents,
        |          unnest(regexp_split_to_array(lower(text), '[^a-z0-9'']+')) AS t(w)
        |        WHERE w <> '') z),
        |g AS (
        |  SELECT a.doc_id, md5(string_agg(b.w, ' ' ORDER BY b.pos)) AS gram
        |  FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos BETWEEN a.pos AND a.pos + 7
        |  GROUP BY a.doc_id, a.pos
        |  HAVING COUNT(*) = 8)
        |SELECT doc_id, MIN(gram) AS fingerprint FROM g GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin)((s, dir) => {
      // _ws materialized: wordNgrams' two internal references of an
      // inline words() re-tokenize (HOFs sit outside codegen CSE)
      documents(s, dir)
        .withColumn("_ws", TextAnalysis.words(col("text")))
        .select(col("doc_id"),
          array_min(transform(
            TextAnalysis.wordNgramsFromWords(col("_ws"), 8),
            g => md5(g))).as("fingerprint"))
        .orderBy("doc_id")
    }),

    // ---- north star: n-gram vocabulary per doc ----
    Query("q25_ngram_count",
      """WITH w AS (
        |  SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id) AS pos
        |  FROM (SELECT doc_id, w FROM documents,
        |          unnest(regexp_split_to_array(lower(text), '[^a-z0-9'']+')) AS t(w)
        |        WHERE w <> '') z),
        |g AS (
        |  SELECT a.doc_id, string_agg(b.w, ' ' ORDER BY b.pos) AS gram
        |  FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos BETWEEN a.pos AND a.pos + 2
        |  GROUP BY a.doc_id, a.pos
        |  HAVING COUNT(*) = 3)
        |SELECT doc_id, CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct_3grams
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin)((s, dir) => {
      documents(s, dir)
        .withColumn("_ws", TextAnalysis.words(col("text")))
        .select(col("doc_id"),
          size(array_distinct(
            TextAnalysis.wordNgramsFromWords(col("_ws"), 3)))
            .cast("long").as("n_distinct_3grams"))
        .orderBy("doc_id")
    }),

    // ---- §2.5 split: fixed-size chunking of array cells ----
    Query("q26_split_chunks",
      """SELECT vec_id, CAST(gs AS INT) AS chunk_id,
        |  array_to_string(list_transform(list_slice(embedding, gs*16 + 1, gs*16 + 16),
        |    x -> CAST(CAST(FLOOR(CAST(x AS DOUBLE) * 1e9) AS BIGINT) AS VARCHAR)), ',') AS chunk
        |FROM (
        |  SELECT vec_id, embedding,
        |    unnest(generate_series(0, GREATEST(1, CAST(FLOOR((len(embedding) - 16.0)/16.0) AS BIGINT) + 1) - 1)) AS gs
        |  FROM embeddings) t
        |ORDER BY vec_id, chunk_id""".stripMargin, headline = true)((s, dir) => {
      val win = 16
      val e = embeddings(s, dir)
      val n = greatest(lit(1),
        (floor((size(col("embedding")) - win).cast("double") / win) + 1).cast("int"))
      e.select(col("vec_id"),
          posexplode(transform(sequence(lit(0), n - 1),
            i => slice(col("embedding"), i * win + 1, lit(win)))).as(Seq("chunk_id", "chunk")))
        // Serialize the float chunk to a canonical string so the driver's
        // pandas comparator can sort/hash it (arrays are unhashable there).
        // floor(x·1e9) as BIGINT: IEEE double multiply + floor are
        // bit-identical across engines, unlike fixed-scale DECIMAL rounding,
        // where a float landing exactly on a midpoint (e.g. 0.1494140625)
        // rounds half-up in Spark but half-even in DuckDB.
        .select(col("vec_id"), col("chunk_id").cast("int").as("chunk_id"),
          array_join(transform(col("chunk"),
            x => floor(x.cast("double") * 1e9).cast("long").cast("string")), ",")
            .as("chunk"))
        .orderBy("vec_id", "chunk_id")
    }),

    // ---- §2.5 sample replicate (1 row → factor rows) ----
    Query("q27_sample_replicate",
      """SELECT n_nationkey, CAST(rep_i AS INT) AS rep_i FROM (
        |  SELECT n_nationkey, unnest(generate_series(1, n_regionkey + 1)) AS rep_i
        |  FROM nation) t
        |ORDER BY n_nationkey, rep_i""".stripMargin)((s, dir) => {
      nation(s, dir)
        .select(col("n_nationkey"),
          explode(sequence(lit(1), col("n_regionkey") + 1)).as("rep_i"))
        .orderBy("n_nationkey", "rep_i")
    }),

    // ---- §2.12 xval: sequential k-fold (ntile per group) ----
    Query("q28_xval_sequential",
      """SELECT c_custkey,
        |  CAST(ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) - 1 AS INT) AS fold
        |FROM customer ORDER BY c_custkey""".stripMargin)((s, dir) => {
      Xval.sequentialKfold(customer(s, dir), 4, "c_mktsegment", "c_custkey")
        .select(col("c_custkey"), col("fold"))
        .orderBy("c_custkey")
    }),

    // ---- §2.12 xval: seeded group-random k-fold (balanced permutation of
    // the distinct group set; members follow their group — xval.py:27-43) ----
    // md5-permuted distinct groups, position mod k — engine-independent
    // shuffle, so DuckDB reproduces the exact fold assignment
    Query("q65_group_random_kfold",
      """SELECT c_custkey, c_nationkey, f.fold FROM customer JOIN (
        |  SELECT c_nationkey,
        |    CAST((row_number() OVER (
        |      ORDER BY md5('7#' || CAST(c_nationkey AS VARCHAR)), c_nationkey) - 1) % 4 AS INT) AS fold
        |  FROM (SELECT DISTINCT c_nationkey FROM customer)
        |) f USING (c_nationkey) ORDER BY c_custkey""".stripMargin)((s, dir) => {
      Xval.groupRandomKfold(customer(s, dir), 4, "c_nationkey", seed = 7)
        .select(col("c_custkey"), col("c_nationkey"), col("fold"))
        .orderBy("c_custkey")
    }),

    // ---- §2.12 xval train/val/test masks (reference val_frac semantics:
    // val sampled out of each fold's train side, xval.py:69-78; sampling is
    // the engine's md5-uniform so DuckDB replays it bit-for-bit) ----
    // md5-uniform val sampling: u_k = first-8-hex(md5('seed#tag#key'))/2^32
    // — an exact integer over 2^32, so the double and the < compare are
    // engine-identical (same layout-independent sample as the engine)
    Query("q83_xval_val_masks",
      """WITH f AS (SELECT doc_id,
        |    CAST(CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 4 AS INT) AS fold
        |  FROM documents),
        |u AS (SELECT doc_id, fold,
        |    CAST(CONCAT('0x', SUBSTRING(md5('7#1000#' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)::DOUBLE / 4294967296.0 AS u0,
        |    CAST(CONCAT('0x', SUBSTRING(md5('7#1001#' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)::DOUBLE / 4294967296.0 AS u1
        |  FROM f)
        |SELECT doc_id, fold,
        |  CASE WHEN fold = 0 THEN 'test' WHEN u0 < 1.0/3 THEN 'val' ELSE 'train' END AS set_f0,
        |  CASE WHEN fold = 1 THEN 'test' WHEN u1 < 1.0/3 THEN 'val' ELSE 'train' END AS set_f1
        |FROM u ORDER BY doc_id""".stripMargin)((s, dir) => {
      val d = Xval.md5Kfold(documents(s, dir).select(col("doc_id")), 4, "doc_id")
      val m = Xval.foldMasksVal(d, 4, valFrac = 1.0 / 3, valKey = "doc_id", seed = 7)
      m.select(col("doc_id"), col("fold"),
          when(col("xval_train_fold_0"), "train")
            .when(col("xval_val_fold_0"), "val").otherwise("test").as("set_f0"),
          when(col("xval_train_fold_1"), "train")
            .when(col("xval_val_fold_1"), "val").otherwise("test").as("set_f1"))
        .orderBy("doc_id")
    }),

    // ---- §2.4+§2.8 fitted normalizer (minmax agg → broadcast apply) ----
    Query("q29_normalize_minmax",
      """SELECT c_custkey,
        |  (c_acctbal - (SELECT MIN(c_acctbal) FROM customer))
        |    / ((SELECT MAX(c_acctbal) FROM customer) - (SELECT MIN(c_acctbal) FROM customer)) AS bal_norm
        |FROM customer ORDER BY c_custkey""".stripMargin)((s, dir) => {
      val c = customer(s, dir)
      val r = c.agg(min("c_acctbal"), max("c_acctbal")).head()
      val (lo, hi) = (r.getDouble(0), r.getDouble(1))
      c.select(col("c_custkey"),
          ((col("c_acctbal") - lo) / (hi - lo)).as("bal_norm"))
        .orderBy("c_custkey")
    }),

    // ---- §2.4 cube ----
    Query("q30_cube_counts",
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
        |  COALESCE(l_linestatus, 'ALL') AS status, COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin)((s, dir) => {
      lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"), col("n"))
        .orderBy("flag", "status")
    }),

    // ---- §2.4 exact count-distinct per group ----
    Query("q31_count_distinct",
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)((s, dir) => {
      lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy("l_returnflag")
    }),

    // ---- §2.2 positional ops: slice-select on _idx (DabDataset) ----
    Query("q32_positional_slice",
      """SELECT o_orderkey FROM (
        |  SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) - 1 AS idx
        |  FROM orders) t
        |WHERE idx >= 10 AND idx < 110 AND (idx - 10) % 3 = 0
        |ORDER BY o_orderkey""".stripMargin)((s, dir) => {
      // deterministic position = sorted order on o_orderkey
      val ds = DabDataset.fromDataFrame(orders(s, dir).orderBy("o_orderkey"))
      ds.selectSlice(10, 110, 3).df
        .select(col("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    // ---- §2.7 concat with dataset_id offset (Dataset.concat) ----
    Query("q33_concat_datasets",
      """WITH a AS (
        |  SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) - 1 AS _idx,
        |         0 AS dataset_id
        |  FROM customer WHERE c_mktsegment = 'BUILDING'),
        |b AS (
        |  SELECT c_custkey,
        |         row_number() OVER (ORDER BY c_custkey) - 1 + (SELECT COUNT(*) FROM a) AS _idx,
        |         1 AS dataset_id
        |  FROM customer WHERE c_mktsegment = 'MACHINERY')
        |SELECT _idx, c_custkey, dataset_id FROM a
        |UNION ALL
        |SELECT _idx, c_custkey, dataset_id FROM b
        |ORDER BY _idx""".stripMargin)((s, dir) => {
      val a = DabDataset.dataset(
        customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
          .orderBy("c_custkey"), "a")
      val b = DabDataset.dataset(
        customer(s, dir).filter(col("c_mktsegment") === "MACHINERY")
          .orderBy("c_custkey"), "b")
      a.concat(b).df
        .select(col("_idx"), col("c_custkey"), col("dataset_id"))
        .orderBy("_idx")
    }),

    // ---- north star: MinHash LSH near-dup candidates ----
    Query("q34_minhash_neardup",
      Oracles.q34MinhashNearDup, headline = true)((s, dir) => {
      Dedup.minhashCandidates(documents(s, dir), numHashes = 32,
          rowsPerBand = 4, k = 5, threshold = 0.3)
        .orderBy("id_a", "id_b")
    }),

    // ---- §2.9 + north star: streaming near-dup, batch-mode replay ----
    // The stateful per-bucket LSH (streaming/StreamingDedup) yields the
    // same candidate set as the batch band join, so the q34 oracle gates
    // the streaming code path too (distinct pairs; est = agreement/32).
    Query("q86_stream_neardup", Oracles.q86StreamNearDup)((s, dir) => {
      val reps = Dedup.exactKeep(documents(s, dir))
      graft.streaming.StreamingDedup.nearDupCandidates(s, reps,
          numHashes = 32, rowsPerBand = 4, k = 5, threshold = 0.3,
          maxPerBucket = 1000000)
        .groupBy("id_a", "id_b").agg(max("est_jaccard").as("est_jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // ---- north star: C4-style line-level cleaning (pre-scoring pass) ----
    // C4 line filter: same trim/split/regex semantics in DuckDB (both
    // trims are space-only; both regex engines anchor $ without multiline;
    // both split on \r?\n so CRLF input is LF-normalized identically)
    Query("q87_clean_lines",
      """WITH kept AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\r?\n'),
        |    l -> len(regexp_split_to_array(trim(l), '\s+')) >= 3
        |         AND regexp_matches(trim(l), '[.!?]$')) AS ls
        |  FROM documents)
        |SELECT doc_id,
        |  COALESCE(array_to_string(ls, chr(10)), '') AS clean_text,
        |  len(ls)::BIGINT AS n_kept
        |FROM kept ORDER BY doc_id""".stripMargin)((s, dir) => {
      documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.cleanLines(col("text"), minWords = 3).as("clean_text"),
          TextAnalysis.cleanLineCount(col("text"), minWords = 3)
            .cast("long").as("n_kept"))
        .orderBy("doc_id")
    }),

    // ---- north star: loadable BPE tokenizer (merge walk, q88 oracle) ----
    // graft.functions.Bpe: GPT-2-style merge walk over the built-in demo
    // merges table (deployments load merges.txt via Bpe.loadMerges); the
    // oracle replays the walk in recursive SQL (Oracles.q88BpeTokens)
    // ---- north star: corpus snapshot diff (crawl-over-crawl ops view) ----
    // old = ids < 400 as-is; new = ids ≥ 100 with every 5th body edited —
    // so [0,100) remove, [100,400) split unchanged/changed by the mod-5
    // rule, [400,500) add. Per-(source,status) counts, dashboard-sized
    Query("q119_snapshot_diff", Oracles.q119SnapshotDiff)((s, dir) => {
      val d = documents(s, dir)
      val older = d.filter(col("doc_id") < 400)
      val newer = d.filter(col("doc_id") >= 100)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(coalesce(col("text"), lit("")), lit(" v2")))
            .otherwise(col("text")))
      Dedup.snapshotDiff(older, newer)
        .orderBy("source", "status")
    }),

    // ---- north star: packing-efficiency report ----
    // capacity − tokens = the padding a training run pays for; spanning
    // docs matter when the loader can't split. One partial agg over the
    // q79 layout; oracle wraps q79's replay in the same aggregate
    Query("q118_packing_report", Oracles.q118PackingReport)((s, dir) => {
      Packing.packingReport(
        Packing.packSequences(documents(s, dir), budget = 2048), budget = 2048)
    }),

    // ---- north star: tokenizer-fit report (vocab eval at corpus scale) ----
    // How well a merge table fits a corpus, per source: pre-token count,
    // BPE token count, and single-char-token count (fragmentation). All
    // integers, one scan + one partial-agg; the oracle replays the q88
    // merge walk and aggregates per source
    Query("q117_tokenizer_fit", Oracles.q117TokenizerFit)((s, dir) => {
      import graft.functions.Bpe
      val toks = coalesce(Bpe.tokens(col("text")), array().cast("array<string>"))
      documents(s, dir)
        .select(col("source"),
          coalesce(size(regexp_extract_all(lower(col("text")),
            lit("[a-z]+|[0-9]+|[^a-z0-9\\s\\x00-\\x1f]+"), lit(0))), lit(0))
            .cast("long").as("npre"),
          size(toks).cast("long").as("ntok"),
          size(filter(toks, t => length(t) === 1)).cast("long").as("nsingle"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("npre").as("n_pretokens"),
          sum("ntok").as("n_tokens"),
          sum("nsingle").as("n_single_char_tokens"))
        .orderBy("source")
    }),

    // ---- north star: ANN serving from a PERSISTED IVF index ----
    // Build the index, round-trip it through the parquet sidecar, then
    // serve the query batch from the loaded copy — the build-once/
    // query-many path. Same math as q57's inline train+search, so the
    // q57 oracle gates this second engine formulation (the q109≡q102
    // discipline: one relational truth, two engine paths)
    // q116 = q57's relational semantics through the persisted-index
    // engine path: one oracle, two independent engine formulations
    Query("q116_knn_ivf_indexed", Oracles.q57KnnIvf)((s, dir) => {
      val e = embeddings(s, dir)
      val (cents, assigned) = Similarity.ivfIndexInt8(e, nCells = 16, iters = 2)
      val tmp = TempDirs.scratch("ivf")
      Similarity.saveIvfIndex(cents, assigned, tmp)
      val (lc, la) = Similarity.loadIvfIndex(s, tmp)
      Similarity.ivfTopKInt8Against(lc, la, e.filter(col("vec_id") < 20),
          k = 5, nProbe = 4)
        .orderBy("query_id", "rank")
    }),

    // ---- north star: training-shard export manifest ----
    // The last mile: seeded md5 global permutation → exact two-phase
    // global position (no global window) → size-bounded shard ids →
    // per-shard id digest. The oracle replays the permutation with a
    // plain window; the engine's bucketed sort must agree bit-for-bit
    Query("q115_export_manifest",
      Oracles.q115ExportManifest, headline = true)((s, dir) => {
      import graft.sources.TrainingExport
      TrainingExport.manifest(documents(s, dir), rowsPerShard = 64, seed = 11)
        .orderBy("shard")
    }),

    // ---- north star: the COMPOSED curation pipeline, gated end-to-end ----
    // Every stage is oracle-proven alone (q111/q20/q96/q112); this gates
    // the chain a production pipeline actually runs: URL dedup → exact
    // dedup → Gopher filter → domain blocklist + cap. One query, one
    // oracle, four stages — survivors + their domain and word count
    Query("q114_curation_pipeline",
      Oracles.q114CurationPipeline, headline = true)((s, dir) => {
      import s.implicits._
      val v = pmod(col("doc_id"), lit(4))
      val g = expr("doc_id DIV 4")
      // stopword preamble keeps the full published Gopher gate live on
      // the synthetic corpus (whose text has no English stopwords —
      // r_stop would otherwise zero the funnel); same view-wrapping
      // idiom as q110's NAV/footer
      val d0 = documents(s, dir)
        .withColumn("text",
          concat(lit("the of and that "), coalesce(col("text"), lit(""))))
        .withColumn("url", concat(
        when(v === 0, lit("https://www.")).when(v === 1, lit("HTTP://"))
          .when(v === 2, lit("https://")).otherwise(lit("http://www.")),
        concat(lit("site"), pmod(g, lit(7)).cast("string")),
        lit(".test/Docs/"), g.cast("string"),
        when(v === 0, lit("/")).when(v === 1, lit("?utm_source=x&b=2&a=1"))
          .when(v === 2, lit("?a=1&b=2#frag"))
          .otherwise(lit("?b=2&utm_campaign=z&a=1"))))
      // materialize between keep stages: unboxed, each `df ⋉ keys(df)`
      // stage doubles lineage (2^k base scans for k stages — 8 observed);
      // with the stage boundary every stage scans its (smaller) input once
      val afterUrl = Dedup.materialize(Dedup.urlKeep(d0))
      val afterExact = Dedup.materialize(Dedup.exactKeep(afterUrl))
      val pass = TextAnalysis.gopherRules(afterExact, carry = Seq("source", "url"))
        .filter(col("pass"))
      val bl = Seq("site0.test", "site3.test").toDF("domain")
      Dedup.capPerDomain(pass, bl, maxPerDomain = 10, seed = 3)
        .select(col("doc_id"), col("source"), col("domain"), col("n_words"))
        .orderBy("doc_id")
    }),

    // ---- north star: per-doc curation decision trace ----
    // The q114 composition re-run with per-stage keep FLAGS instead of
    // sequential filters: every input document gets the FIRST stage that
    // dropped it ('kept' for survivors) — the why-is-my-doc-missing
    // debug view a filtered corpus alone cannot answer.
    Query("q120_curation_trace", Oracles.q120CurationTrace)((s, dir) => {
      import s.implicits._
      val bl = Seq("site0.test", "site3.test").toDF("domain")
      Curation.trace(curationWrappedDocs(s, dir), bl,
          maxPerDomain = 10, seed = 3)
        .orderBy("doc_id")
    }),

    // ---- north star: stage-by-stage curation funnel ----
    // Docs/words entering, dropped, and surviving each stage — the
    // removal-rate table curation papers publish (RefinedWeb Table 2).
    Query("q121_curation_funnel", Oracles.q121CurationFunnel)((s, dir) => {
      import s.implicits._
      val bl = Seq("site0.test", "site3.test").toDF("domain")
      Curation.funnel(Curation.trace(curationWrappedDocs(s, dir), bl,
          maxPerDomain = 10, seed = 3))
        .orderBy("stage_ord")
    }),

    // ---- north star: curation stage-cost attribution (NEW r16) ----
    // The funnel's economics: per stage, bytes entering (work ∝ bytes
    // reaching the stage), its Q6 share of total pipeline stage-work
    // (the deterministic stand-in for wall share), and the downstream
    // bytes its drops spare later stages — why cheap dedup runs first.
    // One instrumented pass: rides the q120 trace's single corpus scan.
    Query("q322_curation_costs",
      Oracles.q322CurationCosts, headline = true)((s, dir) => {
      import s.implicits._
      val bl = Seq("site0.test", "site3.test").toDF("domain")
      Curation.stageCosts(Curation.trace(curationWrappedDocs(s, dir), bl,
          maxPerDomain = 10, seed = 3))
        .orderBy("stage_ord")
    }),

    // ---- north star: PPS weighted sampling without replacement ----
    // Cut the corpus to a fixed document budget with inclusion
    // probability ∝ size (weight = n_chars): systematic PPS pins over an
    // exact integer prefix sum in seeded order — bit-exact on any
    // engine, Σ n_hits = n
    Query("q122_pps_sample", Oracles.q122PpsSample)((s, dir) => {
      Sampling.ppsSystematic(documents(s, dir), n = 100,
          weightCol = "n_chars", seed = 7)
        .orderBy("doc_id")
    }),

    // ---- north star: BM25 lexical retrieval (top-k per query) ----
    // The targeted-retrieval shape of decontamination sweeps and
    // domain-adjacent corpus pulls: one stats pass (N, Σdl, df), integer
    // micro-idf, one map-side scoring pass, TakeOrdered per query
    Query("q123_bm25_topk", Oracles.q123Bm25TopK)((s, dir) => {
      Retrieval.bm25TopK(documents(s, dir), bm25Queries, k = 15)
        .orderBy("query_id", "rank")
    }),

    // ---- north star: Unicode NFC normalization (native expression) ----
    // Spark has no normalization built-in: graft_normalize is a
    // codegen'd Catalyst UnaryExpression (plans/UnicodeNormalize) — the
    // canonicalization pass run before hashing/dedup. Inputs get a
    // decomposed suffix so the composition is actually exercised
    Query("q124_normalize_nfc", Oracles.q124NormalizeNfc)((s, dir) => {
      val raw = concat(coalesce(col("text"), lit("")),
        lit(" Cafe\u0301 nai\u0308ve"))
      documents(s, dir)
        .select(col("doc_id"),
          graft.plans.GraftExtensions.normalizeNative(raw, "NFC").as("text_nfc"),
          length(raw).cast("long").as("n_chars_raw"),
          length(graft.plans.GraftExtensions.normalizeNative(raw, "NFC"))
            .cast("long").as("n_chars_nfc"))
        .orderBy("doc_id")
    }),

    // ---- north star: time-grid resample + forward fill ----
    // Per-user daily grid from first to last active day, value = daily
    // max carried across gaps; per-key explode + per-key window only
    Query("q125_gapfill_daily", Oracles.q125GapfillDaily)((s, dir) => {
      // day emitted as yyyy-MM-dd text — the q62 date-compare discipline
      Timeseries.gapFillDaily(events(s, dir))
        .select(col("user_id"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("value"), col("n_events"), col("is_gap"))
        .orderBy("user_id", "day")
    }),

    // ---- north star: ordered event funnel (min-ts chaining) ----
    // view → click → purchase per user; each step's first completion
    // strictly after the previous step's. Slim (user, ts) projections
    // only; every shuffle hashes user_id so the exchange is reused
    // across the chain. Timestamps compared as epoch-micros (q62
    // discipline); every user appears, step_reached 0..3.
    Query("q126_event_funnel", Oracles.q126EventFunnel)((s, dir) => {
      Analytics.funnel(events(s, dir), Seq("view", "click", "purchase"))
        .orderBy("user_id")
    }),

    // ---- north star: event-type Markov transition counts ----
    // lag() per user (total-ordered by ts, event_id) → pair counts;
    // |types|² output.
    Query("q139_event_transitions", Oracles.q139EventTransitions)((s, dir) => {
      Analytics.eventTransitions(events(s, dir))
        .orderBy("from_type", "to_type")
    }),

    // ---- north star: RFM tercile segmentation ----
    // Recency/frequency/monetary as exact integers (µs, count, cents),
    // tercile fences as exact percentiles over those integers — scores
    // engine-exact, no global window.
    Query("q140_rfm_scores", Oracles.q140RfmScores)((s, dir) => {
      Analytics.rfmScores(orders(s, dir))
        .orderBy("o_custkey")
    }),

    // ---- §2.9 streaming funnel (custom state, batch-exact) ----
    // q126's min-ts chaining re-derived incrementally per trigger via
    // flatMapGroupsWithState; per-step time lists in state make the
    // streaming answer equal the batch answer under any arrival order,
    // so the oracle is exactly q126's SQL.
    // q138 = q126's semantics through the incremental streaming path:
    // one oracle, two independent engine formulations (q116 discipline)
    Query("q138_stream_funnel", Oracles.q126EventFunnel)((s, dir) => {
      EventStreams.runOnceOnParquet(s, s"$dir/events.parquet",
          df => EventStreams.funnelStream(s, df,
            Seq("view", "click", "purchase")),
          s"funnel_sink_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append())
        .select(col("user_id"),
          element_at(col("times"), 1).as("t1_us"),
          element_at(col("times"), 2).as("t2_us"),
          element_at(col("times"), 3).as("t3_us"),
          col("step_reached"))
        .orderBy("user_id")
    }),

    // ---- north star: time-weighted average (sample-and-hold mean) ----
    // Σ v·Δt / Σ Δt per user; integer-micros weights × DECIMAL values
    // keep the weighted sum exact; one lead() window + one agg, both
    // partitioned by the key.
    Query("q136_time_weighted_avg", Oracles.q136TimeWeightedAvg)((s, dir) => {
      Timeseries.timeWeightedAvg(events(s, dir))
        .orderBy("user_id")
    }),

    // ---- north star: CUSUM drift alerts (drawup change detection) ----
    // Running deviation-from-own-mean sum climbing > 500 above its
    // running minimum; the ×n scaling keeps every compared quantity
    // DECIMAL-exact (no mean division inside the predicate).
    Query("q137_drift_alerts", Oracles.q137DriftAlerts)((s, dir) => {
      Timeseries.driftAlerts(events(s, dir), threshold = 500.0)
        .orderBy("user_id", "event_id")
    }),

    // ---- §2.4 pivot: long → wide conditional aggregation ----
    // Event counts per user × type via Dataset.pivot with an EXPLICIT
    // value list — the scale-safe form: without it Spark first runs a
    // distinct scan over the pivot column and caps it at
    // spark.sql.pivotMaxValues; with it the plan is one partial-agg'd
    // groupBy, schema fixed at plan time. Oracle = FILTERed counts.
    Query("q134_pivot_events", Oracles.q134PivotEvents)((s, dir) => {
      events(s, dir)
        .groupBy("user_id")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")
    }),

    // ---- §2.7 unpivot: wide → long (melt) ----
    // The inverse direction over q134's wide shape, via Dataset.unpivot
    // — one map-side explode, no shuffle beyond the upstream pivot's.
    Query("q135_unpivot_events", Oracles.q135UnpivotEvents)((s, dir) => {
      val wide = events(s, dir)
        .groupBy("user_id")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
      wide.unpivot(Array(col("user_id")),
          Array(col("click"), col("error"), col("purchase"),
            col("signup"), col("view")),
          "event_type", "n_events")
        .orderBy("user_id", "event_type")
    }),

    // ---- north star: equi-width histogram (no window, no sort) ----
    // Value-based bucketing of o_totalprice into 20 × 25k buckets;
    // bounds are exact double arithmetic (lo + k·width) on both
    // engines.
    Query("q130_histogram", Oracles.q130Histogram)((s, dir) => {
      Analytics.histogram(orders(s, dir), "o_totalprice",
          lo = 0.0, width = 25000.0, nBuckets = 20)
        .orderBy("bucket")
    }),

    // ---- north star: funnel step-conversion summary ----
    // Aggregate of q126's per-user funnel: entities reaching each step.
    Query("q132_funnel_counts", Oracles.q132FunnelCounts)((s, dir) => {
      Analytics.funnelCounts(
          Analytics.funnel(events(s, dir), Seq("view", "click", "purchase")),
          nSteps = 3)
        .orderBy("step")
    }),

    // ---- north star: cohort retention triangle ----
    // Customers by first-order month; distinct customers active k
    // months later. Integer month index (year*12+month) keeps the
    // offset engine-exact.
    Query("q128_cohort_retention", Oracles.q128CohortRetention)((s, dir) => {
      Analytics.cohortRetention(orders(s, dir))
        .orderBy("cohort_month", "month_offset")
    }),

    // ---- north star: Z-order layout key (native Morton expression) ----
    // 16-bit bucketed (custkey, totalprice/100) interleaved by the
    // codegen'd graft_morton kernel — the clustering key that gives
    // re-laid-out files tight min/max rectangles in BOTH filter
    // dimensions. Oracle replays the interleave as a 32-term integer
    // bit sum.
    Query("q133_zorder_key", Oracles.q133ZorderKey)((s, dir) => {
      val o = orders(s, dir)
      val x16 = pmod(floor(col("o_custkey") / 1).cast("long"), lit(65536L))
      val y16 = pmod(floor(col("o_totalprice") / 100).cast("long"), lit(65536L))
      o.select(col("o_orderkey"), x16.as("x16"), y16.as("y16"),
          graft.plans.GraftExtensions.mortonNative(x16, y16).as("zkey"))
        .orderBy("o_orderkey")
    }),

    // ---- layout tier: Hilbert-curve layout key (NEW r11) ----
    // q133's dimensions on the order-16 Hilbert curve (codegen'd
    // graft_hilbert): consecutive keys are always grid-adjacent, so
    // range-partitioned files get tighter min/max rectangles than
    // Z-order at the same file count. Oracle unrolls the 16
    // reflect-swap rounds as chained CTEs.
    Query("q229_hilbert_key", Oracles.q229HilbertKey)((s, dir) => {
      val o = orders(s, dir)
      val x16 = pmod(floor(col("o_custkey") / 1).cast("long"), lit(65536L))
      val y16 = pmod(floor(col("o_totalprice") / 100).cast("long"), lit(65536L))
      o.select(col("o_orderkey"), x16.as("x16"), y16.as("y16"),
          graft.plans.GraftExtensions.hilbertNative(x16, y16).as("hkey"))
        .orderBy("o_orderkey")
    }),

    // ---- north star: robust outliers (median absolute deviation) ----
    // |value − event-type median| > 3 × the type's MAD; exact
    // interpolated medians on both engines make the predicate
    // engine-exact (events.value is long-tailed, so MAD bites where
    // mean/stddev would be dragged by the tail itself).
    Query("q131_mad_outliers", Oracles.q131MadOutliers)((s, dir) => {
      Analytics.madOutliers(events(s, dir), "value", "event_type")
        .select("event_id", "event_type", "value", "abs_dev",
          "group_median", "group_mad")
        .orderBy("event_id")
    }),

    // ---- north star: spelling-variant mining (vocab fuzzy self-join) ----
    // Edit-distance ≤ 2 pairs over the DISTINCT word vocabulary with
    // corpus frequencies — the typo-normalization dictionary pass.
    // First-char + length-band blocking keeps the quadratic kernel on
    // the (Heaps-law-sublinear) vocab, never the corpus. The synthetic
    // corpus has no organic typos, so every 17th doc gets a
    // deterministic OCR-noise suffix (q124's injection discipline) and
    // the miner recovers exactly those variant↔canonical pairs.
    Query("q129_spelling_variants", Oracles.q129SpellingVariants)((s, dir) => {
      val noisy = documents(s, dir).withColumn("text",
        concat(coalesce(col("text"), lit("")),
          when(pmod(col("doc_id"), lit(17)) === 0,
            lit(" tabel windwo qurey")).otherwise(lit(""))))
      TextAnalysis.spellingVariantPairs(noisy)
        .orderBy("word_a", "word_b")
    }),

    // ---- north star: BPE TRAINING (Sennrich 2016) — learn merges ----
    // The full train side of the q88/q108 tokenize loop: word-frequency
    // dictionary (one corpus shuffle), then 8 iterations of weighted
    // pair count → deterministic argmax → greedy left-to-right fuse,
    // all on the vocab table. The oracle replays every iteration as a
    // generated CTE chain (parity-run islands ≡ the engine's left fold)
    Query("q113_bpe_train", Oracles.q113BpeTrain, headline = true)((s, dir) => {
      import s.implicits._
      import graft.functions.Bpe
      Bpe.train(documents(s, dir), nMerges = 8).zipWithIndex
        .map { case ((l, r, pc), k) => (k.toLong, l, r, pc) }
        .toDF("merge_rank", "lhs", "rhs", "pair_count")
        .orderBy("merge_rank")
    }),

    Query("q88_bpe_tokens", Oracles.q88BpeTokens, headline = true)((s, dir) => {
      import graft.functions.Bpe
      documents(s, dir)
        .select(col("doc_id"),
          coalesce(Bpe.tokenCount(col("text")).cast("long"), lit(0L))
            .as("n_tokens_bpe"),
          coalesce(array_join(Bpe.tokens(col("text")), " "), lit(""))
            .as("tokens_str"))
        .orderBy("doc_id")
    }),

    // ---- north star: byte-level (Ġ) BPE — the real GPT-2 convention ----
    // Same merge walk as q88 but over byte symbols with the published
    // byte↔unicode map (space → Ġ). Gated on the ASCII-only, whitespace-
    // normalized subset, where the GPT-2 pre-tokenizer's lookahead branch
    // can never fire — exactly the fragment RE2 (DuckDB) can replay.
    Query("q108_bpe_byte_tokens", Oracles.q108BpeByteTokens)((s, dir) => {
      import graft.functions.Bpe
      val ct = trim(regexp_replace(lower(col("text")), "[ \\t\\n\\f\\r\\x0B]+", " "))
      documents(s, dir)
        .filter(col("text").isNotNull && col("text").rlike("^[\\x00-\\x7F]*$"))
        .withColumn("ct", ct)
        .select(col("doc_id"),
          coalesce(size(Bpe.tokens(col("ct"), Bpe.gpt2DemoMerges,
            byteLevel = true)).cast("long"), lit(0L)).as("n_tokens_bpe"),
          coalesce(array_join(Bpe.tokens(col("ct"), Bpe.gpt2DemoMerges,
            byteLevel = true), " "), lit("")).as("tokens_str"))
        .orderBy("doc_id")
    }),

    // ---- north star: CCNet-style bigram-LM perplexity scoring ----
    // Hash-derived stand-in log-probs (the q80 seed-weights discipline);
    // real models load a sidecar via TextAnalysis.scoreBigramLm
    Query("q90_perplexity_score",
      Oracles.q90PerplexityScore, headline = true)((s, dir) => {
      TextAnalysis.perplexityScore(documents(s, dir)).orderBy("doc_id")
    }),

    // ---- north star: CCNet composition — score, bucket, mixture-sample ----
    // thresholds are the sf0.01 mean_lp terciles (fixed constants: the
    // split is a pure function of the score; see ccnetSample's contract)
    Query("q91_ccnet_sample", Oracles.q91CcnetSample)((s, dir) => {
      TextAnalysis.ccnetSample(documents(s, dir), headLp = -2695L,
          tailLp = -2849L,
          fractions = Map("head" -> 1.0, "middle" -> 0.5, "tail" -> 0.1),
          seed = 13)
        .select("doc_id", "n_bigrams", "lp_sum", "mean_lp", "ppl_bucket")
        .orderBy("doc_id")
    }),

    // ---- north star: incremental dedup (new shard vs signature index) ----
    // index = first 400 docs' banded signatures (production persists this
    // as parquet); incoming = last 100; candidates across only
    Query("q92_dedup_incremental", Oracles.q92DedupIncremental)((s, dir) => {
      val d = documents(s, dir)
      val index = Dedup.minhashIndex(d.filter(col("doc_id") < 400),
        numHashes = 32, rowsPerBand = 4, k = 5)
      Dedup.minhashCandidatesAgainst(index, d.filter(col("doc_id") >= 400),
          numHashes = 32, rowsPerBand = 4, k = 5, threshold = 0.3)
        .orderBy("index_id", "incoming_id")
    }),

    // ---- north star: duplicated-span detection (ExactSubstr-style) ----
    Query("q93_duplicate_spans", Oracles.q93DuplicateSpans)((s, dir) => {
      Dedup.duplicateSpans(documents(s, dir), window = 5)
        .orderBy("doc_id", "span_start")
    }),

    // ---- north star: SemDeDup — cluster-then-prune semantic dedup ----
    // q57's integer Lloyd training + within-cell rational-threshold
    // cosine (7/10); oracle replays training and the dup rule exactly,
    // INCLUDING the auto-scaled cell count (⌈N/1024⌉ capped at 65536 —
    // nCells <= 0 triggers the auto rule; the oracle derives the same
    // number from count(*))
    Query("q94_semantic_dedup", Oracles.q94SemanticDedup, headline = true)((s, dir) => {
      // maxCell pinned to no-drop: the skew cap is a production guard the
      // oracle deliberately doesn't replay — the gate must stay exact at
      // any sf the driver runs it at
      Similarity.semanticDedup(embeddings(s, dir), nCells = -1, iters = 2,
          thresholdNum = 7, thresholdDen = 10, maxCell = Int.MaxValue)
        .orderBy("vec_id")
    }),

    // ---- north star: DSIR importance resampling (top-n selection) ----
    // target/background LMs are the hash-derived fixed-point stand-ins
    // (q80/q90 discipline); real LMs load as sidecar tables
    Query("q95_dsir_select", Oracles.q95DsirSelect)((s, dir) => {
      TextAnalysis.dsirSelect(documents(s, dir), n = 100)
        .orderBy(col("weight").desc, col("doc_id"))
    }),

    // ---- north star: Gopher-rules quality filter (integer-exact) ----
    // ---- north star: stupid-backoff trigram LM scoring (NEW r11) ----
    // Held-out n-gram scoring with the published web-scale backoff
    // chain (trigram -> 0.4*bigram -> 0.16*unigram, OOV skipped),
    // every tier a sum of shared-kernel integer logs. Train = docs
    // with doc_id % 7 != 0; scored = the held-out %7 == 0 split.
    Query("q220_stupid_backoff", sbOracleSql)((s, dir) => {
      val d = documents(s, dir)
      TextAnalysis.stupidBackoffScore(
          d.filter(col("doc_id") % 7 =!= 0),
          d.filter(col("doc_id") % 7 === 0))
        .orderBy("doc_id")
    }),

    // ---- north star: vocabulary coverage curve (NEW r11) ----
    // Tokenizer planning: share of corpus tokens covered by a top-K
    // vocabulary, K in {100, 1k, 10k} — two-phase global vocab rank,
    // exact integer coverage + floor permille.
    Query("q218_vocab_coverage",
      """WITH wc AS (SELECT w, COUNT(*) AS c FROM (
        |    SELECT unnest(list_filter(string_split_regex(
        |      lower(COALESCE(text, '')), '[^a-z0-9'']+'),
        |      x -> length(x) > 0)) AS w
        |    FROM documents) GROUP BY w),
        |rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rn,
        |    COUNT(*) OVER () AS vocab
        |  FROM wc),
        |t AS (SELECT SUM(c) AS tot FROM wc),
        |ks(k) AS (VALUES (100), (1000), (10000))
        |SELECT ks.k::BIGINT AS k,
        |  COALESCE(SUM(CASE WHEN rn <= ks.k THEN c END), 0)::BIGINT AS n_covered,
        |  MAX(t.tot)::BIGINT AS total_tokens,
        |  MAX(vocab)::BIGINT AS vocab_size,
        |  (1000 * COALESCE(SUM(CASE WHEN rn <= ks.k THEN c END), 0)
        |    // MAX(t.tot))::BIGINT AS coverage_permille
        |FROM ks CROSS JOIN rk CROSS JOIN t GROUP BY ks.k ORDER BY k""".stripMargin)((s, dir) => {
      TextAnalysis.vocabCoverage(documents(s, dir))
    }),

    // ---- north star: PMI collocations (NEW r11) ----
    // Adjacent-pair pointwise mutual information on the shared integer
    // log kernel: pmi_q12 = L(c_ab·N²) − L(c_a·c_b·B), exact BIGINT at
    // 10⁻¹², top-20 by TakeOrderedAndProject.
    Query("q215_pmi_collocations", pmiOracleSql)((s, dir) => {
      TextAnalysis.pmiCollocations(documents(s, dir), minCount = 5,
        topN = 20)
    }),

    // ---- north star: Flesch-Kincaid readability (NEW r11) ----
    // Exact integer counts (words / word-bearing sentences / vowel-run
    // syllables) and the grade as ONE IEEE division of exact integers —
    // engine-identical, no float accumulation anywhere.
    // q212 = the same three integer counts and the single-division
    // grade; CASE w=0 mirrors the engine's NULL for wordless docs.
    Query("q212_readability",
      """WITH base AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(COALESCE(text, '')),
        |      '[^a-z0-9'']+'), x -> length(x) > 0) AS ws,
        |    list_filter(string_split_regex(lower(COALESCE(text, '')),
        |      '[.!?]+'), s -> regexp_matches(s, '[a-z0-9]')) AS sents
        |  FROM documents),
        |c AS (SELECT doc_id, len(ws)::BIGINT AS w, len(sents)::BIGINT AS s,
        |    COALESCE(list_sum(list_transform(ws,
        |      x -> greatest(1, len(regexp_extract_all(x, '[aeiouy]+'))))),
        |      0)::BIGINT AS y
        |  FROM base)
        |SELECT doc_id, w AS n_words, s AS n_sentences, y AS n_syllables,
        |  CASE WHEN w = 0 THEN NULL ELSE
        |    (39*w*w + 1180*y*s - 1559*s*w)::DOUBLE / (100*s*w) END AS fk_grade
        |FROM c ORDER BY doc_id""".stripMargin, headline = true)((s, dir) => {
      TextAnalysis.readability(documents(s, dir)).orderBy("doc_id")
    }),

    Query("q96_gopher_rules", Oracles.q96GopherRules, headline = true)((s, dir) => {
      TextAnalysis.gopherRules(documents(s, dir)).orderBy("doc_id")
    }),

    // ---- north star: context-window chunking (win 50, stride 40) ----
    Query("q97_chunk_words", Oracles.q97ChunkWords, headline = true)((s, dir) => {
      TextAnalysis.chunkByWords(documents(s, dir), win = 50, stride = 40)
        .orderBy("doc_id", "chunk_id")
    }),

    // ---- north star: near-dup keep-best (longest survives per cluster) ----
    Query("q99_neardup_keep_best", Oracles.q99NearDupKeepBest)((s, dir) => {
      Dedup.nearDupKeepBy(documents(s, dir), score = col("n_chars"),
          numHashes = 32, rowsPerBand = 4, k = 5, threshold = 0.5)
        .select("doc_id", "n_chars", "lang")
        .orderBy("doc_id")
    }),

    // ---- north star: one-scan corpus health report per source ----
    Query("q100_corpus_report", Oracles.q100CorpusReport)((s, dir) => {
      TextAnalysis.corpusReport(documents(s, dir)).orderBy("source")
    }),

    // ---- north star: exact CCNet tercile thresholds (two-phase rank) ----
    Query("q107_ppl_terciles", Oracles.q107PplTerciles)((s, dir) => {
      TextAnalysis.pplTerciles(documents(s, dir))
    }),

    // ---- north star: hard-negative mining (contrastive training prep) ----
    Query("q106_hard_negatives", Oracles.q106HardNegatives)((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 20), k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // ---- north star: bigram-LM training pass (corpus frequency table) ----
    Query("q105_bigram_counts", Oracles.q105BigramCounts)((s, dir) => {
      TextAnalysis.bigramCounts(documents(s, dir), topN = 200)
        .orderBy(col("n").desc, col("a"), col("b"))
    }),

    // ---- north star: kNN label propagation (embedding classifier) ----
    Query("q104_knn_classify", Oracles.q104KnnClassify)((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.knnClassify(e, e.filter(col("vec_id") < 20), k = 5)
        .orderBy("query_id")
    }),

    // ---- north star: duplicate-span REMOVAL (keep global first copy) ----
    Query("q103_remove_spans", Oracles.q103RemoveSpans)((s, dir) => {
      Dedup.removeDuplicateSpans(documents(s, dir), window = 5)
        .orderBy("doc_id")
    }),

    // ---- north star: intra-doc line dedup (RefinedWeb boilerplate) ----
    Query("q101_dedup_lines", Oracles.q101DedupLines)((s, dir) => {
      TextAnalysis.dedupLinesWithinDoc(documents(s, dir)).orderBy("doc_id")
    }),

    // ---- north star: URL-level dedup (C4's first pass) ----
    // Deterministic synthetic URL view: four scheme/www/fragment/
    // tracking-param variants per (doc_id DIV 4) group — variant 0 has
    // no query (its own canonical), variants 1-3 normalize identically,
    // so every normalization step is load-bearing in the survivor set
    Query("q111_url_dedup", Oracles.q111UrlDedup, headline = true)((s, dir) => {
      val v = pmod(col("doc_id"), lit(4))
      val g = expr("doc_id DIV 4")
      val d = documents(s, dir).withColumn("url", concat(
        when(v === 0, lit("https://www.")).when(v === 1, lit("HTTP://"))
          .when(v === 2, lit("https://")).otherwise(lit("http://www.")),
        concat(lit("site"), pmod(g, lit(7)).cast("string")),
        lit(".test/Docs/"), g.cast("string"),
        when(v === 0, lit("/")).when(v === 1, lit("?utm_source=x&b=2&a=1"))
          .when(v === 2, lit("?a=1&b=2#frag"))
          .otherwise(lit("?b=2&utm_campaign=z&a=1"))))
      Dedup.urlKeep(d)
        .select(col("doc_id"), col("source"),
          TextAnalysis.urlNormalize(col("url")).as("url_norm"))
        .orderBy("doc_id")
    }),

    // ---- north star: domain blocklist + per-domain cap (RefinedWeb) ----
    // Same four-variant URL view as q111; two of the seven synthetic
    // domains are blocklisted, survivors capped at 10 docs/domain by the
    // seeded md5 permutation (the q73 idiom keyed on registered domain)
    Query("q112_domain_cap", Oracles.q112DomainCap)((s, dir) => {
      val v = pmod(col("doc_id"), lit(4))
      val g = expr("doc_id DIV 4")
      val d = documents(s, dir).withColumn("url", concat(
        when(v === 0, lit("https://www.")).when(v === 1, lit("HTTP://"))
          .when(v === 2, lit("https://")).otherwise(lit("http://www.")),
        concat(lit("site"), pmod(g, lit(7)).cast("string")),
        lit(".test/Docs/"), g.cast("string"),
        when(v === 0, lit("/")).when(v === 1, lit("?utm_source=x&b=2&a=1"))
          .when(v === 2, lit("?a=1&b=2#frag"))
          .otherwise(lit("?b=2&utm_campaign=z&a=1"))))
      import s.implicits._
      val bl = Seq("site0.test", "site3.test").toDF("domain")
      Dedup.capPerDomain(d, bl, maxPerDomain = 10, seed = 3)
        .select(col("doc_id"), col("source"), col("domain"))
        .orderBy("doc_id")
    }),

    // ---- north star: CORPUS-level boilerplate-line removal (CCNet) ----
    // The corpus is wrapped in a deterministic multi-line view (shared
    // NAV header + per-source footer) so hot-line detection, everywhere-
    // removal (first copy included), and the order-preserving map-side
    // rebuild are all load-bearing; the oracle replays the wrap and a
    // direct relational formulation
    Query("q110_boilerplate_lines",
      Oracles.q110BoilerplateLines, headline = true)((s, dir) => {
      val d = documents(s, dir).withColumn("text",
        concat_ws("\n", lit("NAV"), col("text"),
          concat(lit("footer "), col("source"))))
      TextAnalysis.removeBoilerplateLines(d, minDocs = 2).orderBy("doc_id")
    }),

    // ---- north star: incremental EXACT dedup (shard vs digest index) ----
    Query("q102_exact_incremental", Oracles.q102ExactIncremental)((s, dir) => {
      val d = documents(s, dir)
      Dedup.exactKeepAgainst(
          Dedup.exactIndex(d.filter(col("doc_id") < 400)),
          d.filter(col("doc_id") >= 400))
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // ---- north star: bloom-screened incremental exact dedup ----
    // Same relational semantics as q102 through a different engine path
    // (broadcast bloom rules digests out map-side; maybes confirm
    // against the real index) — the established cross-validation
    // pattern: one oracle, two independent formulations must agree
    // q109 = q102's relational semantics through the bloom-screened
    // engine path: one oracle, two independent engine formulations
    Query("q109_bloom_incremental", Oracles.q102ExactIncremental)((s, dir) => {
      val d = documents(s, dir)
      val idx = Dedup.exactIndex(d.filter(col("doc_id") < 400))
      Dedup.exactKeepAgainstBloom(
          Dedup.bloomIndex(idx), idx, d.filter(col("doc_id") >= 400))
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // ---- north star: mixture rebalance to target source weights ----
    // src0:5 src1:3 src2:2 src3:1 (others dropped), seed 7 — counts →
    // max feasible total → integer thresholds → md5 keep rule
    Query("q98_rebalance_mixture", Oracles.q98RebalanceMixture)((s, dir) => {
      Dedup.rebalanceMixture(documents(s, dir), "source",
          weights = Map("src0" -> 5L, "src1" -> 3L, "src2" -> 2L, "src3" -> 1L),
          seed = 7)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // ---- north star: SimHash near-dup candidates ----
    Query("q35_simhash_neardup", Oracles.q35SimhashNearDup)((s, dir) => {
      Dedup.simhashCandidates(documents(s, dir))
        .filter(col("hamming") <= 16)
        .orderBy("id_a", "id_b")
    }),

    // ---- north star: exact Jaccard verify on LSH candidates ----
    Query("q36_jaccard_verify", Oracles.q36JaccardVerify)((s, dir) => {
      val d = documents(s, dir)
      val cands = Dedup.minhashCandidates(d, numHashes = 32, rowsPerBand = 4,
        k = 5, threshold = 0.3)
      Dedup.jaccardVerify(d, cands, k = 5)
        .filter(col("jaccard") >= 0.4)
        .orderBy("id_a", "id_b")
    }),

    // ---- north star: brute-force cosine top-k ANN ----
    Query("q37_knn_brute", Oracles.q37KnnBrute, headline = true)((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 20), k = 5)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    }),

    // ---- north star: LSH-bucketed ANN ----
    Query("q38_knn_lsh", Oracles.q38KnnLsh)((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.lshTopK(e, e.filter(col("vec_id") < 20), k = 5,
          nPlanes = 10, tables = 8)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    }),

    // ---- north star: IVF-bucketed ANN (k-means coarse cells) ----
    // Integer-exact variant so the full IVF path — quantize, seed, Lloyd
    // rounds, cell assignment, probing, re-rank — is DuckDB-replayable
    // bit-for-bit (Oracles.q57KnnIvf). The float-cosine path
    // (Similarity.ivfTopK, same plan shape) keeps its ScalaTest recall
    // gate vs bruteForceTopK.
    Query("q57_knn_ivf", Oracles.q57KnnIvf)((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.ivfTopKInt8(e, e.filter(col("vec_id") < 20), k = 5,
          nCells = 16, nProbe = 4, iters = 2)
        .orderBy("query_id", "rank")
    }),

    // ---- north star: product-quantization ANN (ADC scan over codes) ----
    // Integer-exact end to end (int8 quantize → per-sub integer Lloyd →
    // code join), so DuckDB replays encode + asymmetric-distance scoring
    // bit-for-bit (Oracles.q84PqTopK).
    Query("q84_knn_pq", Oracles.q84PqTopK, headline = true)((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.pqTopKInt8(e, e.filter(col("vec_id") < 20), k = 5,
          m = 8, ksub = 16, iters = 2)
        .orderBy("query_id", "rank")
    }),

    // ---- north star: PQ + exact refine (FAISS RFlat composition) ----
    // ADC shortlist of k×4 per query, exact integer-L2 re-rank of only
    // the shortlist (broadcast back against the corpus — point lookups,
    // not a rescan); oracle replays shortlist + re-rank (Oracles.q89PqRefine)
    Query("q89_knn_pq_refine", Oracles.q89PqRefine)((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.pqRefineTopK(e, e.filter(col("vec_id") < 20), k = 5,
          refineFactor = 4, m = 8, ksub = 16, iters = 2)
        .orderBy("query_id", "rank")
    }),

    // ---- north star: IVF-PQ ANN (residual encoding, the FAISS shape) ----
    // Coarse cells prune, residual PQ codes score; all-integer so DuckDB
    // replays both trainings + ADC bit-for-bit (Oracles.q85IvfPq).
    Query("q85_knn_ivfpq", Oracles.q85IvfPq)((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.ivfPqTopKInt8(e, e.filter(col("vec_id") < 20), k = 5,
          nCells = 16, nProbe = 4, m = 8, ksub = 16, iters = 2)
        .orderBy("query_id", "rank")
    }),

    // ---- north star: embedding near-dup pairs ----
    // (driver embeddings are near-orthogonal — max pairwise cosine ≈0.46 —
    // so the threshold exercises the top of the real distribution)
    Query("q39_embedding_neardup", Oracles.q39EmbeddingNearDup)((s, dir) => {
      Similarity.embeddingNearDup(embeddings(s, dir), threshold = 0.35,
          nPlanes = 8, tables = 8)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }),

    // ---- §2.8 DSP chain: Framing → FFT → Aggregation ----
    // q40 emits only the deterministic feature dimensionality (the values
    // come from the FFT kernel, not SQL-expressible): the oracle pins the
    // expected dim for every row, so a chain shape regression fails the gate
    Query("q40_dsp_chain",
      """SELECT vec_id, CAST(18 AS BIGINT) AS feat_dim
        |FROM embeddings ORDER BY vec_id""".stripMargin)((s, dir) => {
      // embeddings as 64-sample signals @ fs=64 (structure test; ScalaTest
      // holds the numeric goldens vs a reference DFT)
      val chain = Chain(Seq(
        Framing(windowSize = 0.25, stepSize = 0.25, windowFunc = "none"),
        FFTProcessor(format = "magnitude", nfftMode = "nextpow2"),
        AggregationProcessor(Seq("mean", "std"))))
      val e = embeddings(s, dir)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("sig"))
      val (feat, _) = chain(col("sig"), Processor.initInfo(64))
      e.select(col("vec_id"), feat.as("feat"),
          size(feat).cast("long").as("feat_dim"))
        .select("vec_id", "feat_dim")
        .orderBy("vec_id")
    }),

    // ---- north star: multimodal binary plumbing ----
    Query("q41_media_stats",
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest, 'unknown' AS format
        |FROM documents ORDER BY doc_id""".stripMargin)((s, dir) => {
      documents(s, dir)
        .select(col("doc_id"),
          Multimodal.mediaStats(encode(col("text"), "utf-8")).as("m"))
        .select(col("doc_id"), col("m.n_bytes").cast("long").as("n_bytes"),
          col("m.digest").as("digest"), col("m.format").as("format"))
        .orderBy("doc_id")
    }),

    // ---- §2.3 key+range (as-of-style) join, via the SQL frontend ----
    Query("q43_range_join",
      """SELECT o_orderkey, COUNT(*) AS n_shipped_60d
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  AND (CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)) BETWEEN 0 AND 60
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin, headline = true)((s, dir) => {
      lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT o_orderkey, COUNT(*) AS n_shipped_60d
          |FROM orders_v JOIN lineitem_v ON l_orderkey = o_orderkey
          |  AND datediff(to_date(l_shipdate), to_date(o_orderdate)) BETWEEN 0 AND 60
          |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin)
    }),

    // ---- §2.4 exact percentile (sort-based, not approx) ----
    Query("q44_median",
      """SELECT o_orderpriority,
        |  ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
        |  ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)((s, dir) => {
      orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(round(expr("percentile(o_totalprice, 0.5)"), 4).as("median_price"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90_price"))
        .orderBy("o_orderpriority")
    }),

    // ---- §2.9 session windows (gap-based merge) ----
    Query("q45_sessions",
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, us,
        |    SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 300000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e)
        |SELECT user_id, MIN(us) AS session_start_us, COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_us""".stripMargin, headline = true)((s, dir) => {
      EventStreams.sessions(events(s, dir), "5 minutes")
        .select(col("user_id"),
          unix_micros(col("session_start")).as("session_start_us"),
          col("n_events"))
        .orderBy("user_id", "session_start_us")
    }),

    // ---- §2.4 distinct + dense-rank encode (stringlist2ind, utils.py:553-569)
    // 100 TB shape: rank only the tiny DISTINCT set (a global window over
    // 5 rows), broadcast-join the ids back — the big table never sees a
    // single-partition shuffle.
    Query("q46_unique_encode",
      """SELECT c_custkey, c_mktsegment,
        |  CAST(dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS INT) AS seg_id
        |FROM customer ORDER BY c_custkey""".stripMargin)((s, dir) => {
      val segs = customer(s, dir).select("c_mktsegment").distinct()
        .withColumn("seg_id",
          (dense_rank().over(Window.orderBy("c_mktsegment")) - 1))
      customer(s, dir)
        .join(broadcast(segs), Seq("c_mktsegment"))
        .select("c_custkey", "c_mktsegment", "seg_id")
        .orderBy("c_custkey")
    }),

    // ---- §2.2 KeyAbstract: union with missing columns null-filled ----
    Query("q47_union_missing_cols",
      """SELECT c_custkey, c_acctbal, NULL AS c_mktsegment, 'a' AS src FROM customer
        |UNION ALL
        |SELECT c_custkey, NULL, c_mktsegment, 'b' AS src FROM customer
        |ORDER BY src, c_custkey""".stripMargin)((s, dir) => {
      val c = customer(s, dir)
      val a = c.select(col("c_custkey"), col("c_acctbal")).withColumn("src", lit("a"))
      val b = c.select(col("c_custkey"), col("c_mktsegment")).withColumn("src", lit("b"))
      a.unionByName(b, allowMissingColumns = true)
        .orderBy("src", "c_custkey")
    }),

    // ---- §2.12 group k-fold via content hash (engine-independent md5) ----
    Query("q48_hash_kfold",
      """SELECT c_custkey,
        |  CAST(CAST(CONCAT('0x', SUBSTRING(md5(c_name), 1, 8)) AS UBIGINT) % 4 AS INT) AS fold
        |FROM customer ORDER BY c_custkey""".stripMargin)((s, dir) => {
      customer(s, dir)
        .select(col("c_custkey"),
          (conv(substring(md5(col("c_name")), 1, 8), 16, 10).cast("long") % 4)
            .cast("int").as("fold"))
        .orderBy("c_custkey")
    }),

    // ---- north star: image decode→resize→pool pipeline ----
    Query("q49_image_features", Oracles.q49ImageFeatures, headline = true)((s, dir) => {
      val d = documents(s, dir)
        .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
      d.select(col("doc_id"),
          Multimodal.decodeResize(col("payload"), 8, 8).as("pixels"))
        .select(col("doc_id"),
          // String-serialized so the oracle compare's pandas code can sort
          // it (raw arrays are covered in OperatorsSpec).
          array_join(transform(Multimodal.channelMeans(col("pixels")),
            x => round(x, 6).cast("string")), ",").as("rgb_means"),
          size(col("pixels")).cast("long").as("n_px"))
        .orderBy("doc_id")
    }),

    // ---- §2.3 as-of JOIN of two tables (union+window operator) ----
    Query("q58_asof_join",
      """WITH c AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS us, value, event_id FROM events
        |  WHERE event_type = 'purchase')
        |SELECT c.user_id, c.event_id,
        |  (SELECT p.value FROM p
        |   WHERE p.user_id = c.user_id AND p.us <= c.us
        |   ORDER BY p.us DESC, p.event_id DESC LIMIT 1) AS purchase_value
        |FROM c ORDER BY c.user_id, c.event_id""".stripMargin, headline = true)((s, dir) => {
      val ev = events(s, dir).withColumn("us", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "us")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us"),
          col("value").as("purchase_value"), col("event_id").as("p_event_id"))
      graft.operators.Asof.join(clicks, purchases, "user_id",
          leftTime = "us", rightTime = "us", valueCols = Seq("purchase_value"),
          tiebreak = Some("p_event_id"))
        .select("user_id", "event_id", "purchase_value")
        .orderBy("user_id", "event_id")
    }),

    // ---- §2.4 explicit GROUPING SETS (via the SQL frontend) ----
    Query("q64_grouping_sets",
      """SELECT COALESCE(l_returnflag, '-') AS flag,
        |  COALESCE(l_linestatus, '-') AS status,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY flag, status""".stripMargin)((s, dir) => {
      lineitem(s, dir).createOrReplaceTempView("lineitem_gs")
      s.sql(
        """SELECT COALESCE(l_returnflag, '-') AS flag,
          |  COALESCE(l_linestatus, '-') AS status,
          |  COUNT(*) AS n
          |FROM lineitem_gs
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          |ORDER BY flag, status""".stripMargin)
    }),

    // ---- §2.8 date/time scalar functions ----
    Query("q62_date_funcs",
      """SELECT o_orderkey,
        |  strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS due_date,
        |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
        |  CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(quarter(o_orderdate) AS INT) AS q,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(dayofweek(CAST(o_orderdate AS DATE)) AS INT) AS dow
        |FROM orders ORDER BY o_orderkey""".stripMargin)((s, dir) => {
      orders(s, dir).select(
        col("o_orderkey"),
        date_format(date_add(to_date(col("o_orderdate")), 30), "yyyy-MM-dd").as("due_date"),
        date_format(last_day(to_date(col("o_orderdate"))), "yyyy-MM-dd").as("month_end"),
        year(col("o_orderdate")).cast("int").as("y"),
        quarter(col("o_orderdate")).cast("int").as("q"),
        month(col("o_orderdate")).cast("int").as("m"),
        (dayofweek(col("o_orderdate")) - 1).cast("int").as("dow"))
        .orderBy("o_orderkey")
    }),

    // ---- §2.8 string scalar functions (pads/translate/levenshtein) ----
    Query("q63_string_funcs",
      """SELECT p_partkey,
        |  lpad(p_brand, 12, '*') AS brand_padded,
        |  rpad(p_name, 20, '.') AS name_padded,
        |  translate(p_type, 'aeiou', 'AEIOU') AS type_translated,
        |  reverse(p_brand) AS brand_rev,
        |  CAST(levenshtein(p_name, p_brand) AS INT) AS edit_dist
        |FROM part ORDER BY p_partkey""".stripMargin)((s, dir) => {
      part(s, dir).select(
        col("p_partkey"),
        lpad(col("p_brand"), 12, "*").as("brand_padded"),
        rpad(col("p_name"), 20, ".").as("name_padded"),
        translate(col("p_type"), "aeiou", "AEIOU").as("type_translated"),
        reverse(col("p_brand")).as("brand_rev"),
        levenshtein(col("p_name"), col("p_brand")).cast("int").as("edit_dist"))
        .orderBy("p_partkey")
    }),

    // ---- §2.5 window frame spec: running per-customer spend ----
    Query("q60_running_total",
      """SELECT o_custkey, o_orderkey,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
      orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(dec(col("o_totalprice"), 2)).over(w), 2)
            .cast("double").as("running_spend"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ---- §2.5 analytic windows: percent_rank / cume_dist / ntile ----
    // Two-phase global ranking (graft.operators.Ranking): quantile-bucketed
    // parallel windows + broadcast offsets — no partition-less window over
    // the fact table (the naive Window.orderBy form funnels all of `orders`
    // through one task; a scale-killer at 100 TB).
    Query("q61_analytic_ranks",
      """SELECT o_orderkey, pr, cd FROM (
        |  SELECT o_orderkey,
        |    percent_rank() OVER (ORDER BY o_totalprice, o_orderkey) AS pr,
        |    cume_dist() OVER (ORDER BY o_totalprice, o_orderkey) AS cd
        |  FROM orders) t
        |WHERE pr >= 0.99 ORDER BY o_orderkey""".stripMargin, headline = true)((s, dir) => {
      graft.operators.Ranking.withGlobalRanks(
          orders(s, dir).select("o_orderkey", "o_totalprice"),
          Seq("o_totalprice", "o_orderkey"), tieFree = true)
        .filter(col("pr") >= 0.99)
        .select("o_orderkey", "pr", "cd")
        .orderBy("o_orderkey")
    }),

    // ---- §2.3 interval containment via the binned range-join operator ----
    Query("q59_interval_join",
      """WITH c AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        |  WHERE event_type = 'click'),
        |w AS (
        |  SELECT user_id, epoch_us(ts) AS w_start, epoch_us(ts) + 7200000000 AS w_end
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, c.event_id, COUNT(*) AS n_windows
        |FROM c JOIN w ON c.user_id = w.user_id
        |  AND c.us >= w.w_start AND c.us <= w.w_end
        |GROUP BY c.user_id, c.event_id
        |ORDER BY c.user_id, c.event_id""".stripMargin)((s, dir) => {
      val ev = events(s, dir).withColumn("us", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "us")
      // window = 2 hours after each purchase
      val windows = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          col("us").as("w_start"), (col("us") + 7200000000L).as("w_end"))
      graft.operators.Asof.binnedRangeJoin(clicks, windows, "user_id",
          "us", "w_start", "w_end", binWidth = 3600000000L)
        .groupBy("user_id", "event_id")
        .agg(count(lit(1)).as("n_windows"))
        .orderBy("user_id", "event_id")
    }),

    // ---- north star: LSH → cluster → canonical survivors ----
    Query("q56_neardup_keep", Oracles.q56NearDupKeep, headline = true)((s, dir) => {
      Dedup.nearDupKeep(documents(s, dir), numHashes = 32, rowsPerBand = 4,
          k = 5, threshold = 0.5)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // ---- north star: near-dup cluster membership report ----
    // The audit view behind q56's keep/drop verdicts: connected
    // components over the same LSH candidate graph (pointer-doubled
    // min-label propagation), every clustered doc with its component
    // id, component size, and canonical flag. Oracle replays the
    // closure as a recursive CTE.
    Query("q127_dedup_clusters", Oracles.q127DedupClusters)((s, dir) => {
      Dedup.clusterReport(documents(s, dir), numHashes = 32,
          rowsPerBand = 4, k = 5, threshold = 0.5)
        .orderBy("doc_id")
    }),

    // ---- north star: exact n-gram Jaccard on a deterministic pair set ----
    Query("q55_jaccard_pairs",
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, strlen(lower(text)) - 4),
        |      i -> substring(lower(text), i, 5))) AS s
        |  FROM documents WHERE strlen(text) > 10)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / len(list_distinct(a.s || b.s)) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""".stripMargin)((s, dir) => {
      val d = documents(s, dir).filter(length(col("text")) > 10)
      val pairs = d.select(col("doc_id").as("id_a"),
        (col("doc_id") + 1).as("id_b"))
      Dedup.jaccardVerify(d, pairs, k = 5)
        .orderBy("id_a")
    }),

    // ---- §2.8 JSON scalar functions over the events props column ----
    Query("q54_json_extract",
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY k_mod ORDER BY k_mod""".stripMargin)((s, dir) => {
      events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
        .orderBy("k_mod")
    }),

    // ---- §3.1 config-driven construction (the DDL path, helpers.py:14-93) ----
    Query("q53_config_pipeline",
      """SELECT doc_id,
        |  CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS dataset_id,
        |  CAST(CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 4 AS INT) AS fold
        |FROM documents WHERE lang IN ('en', 'de') AND n_chars > 50
        |ORDER BY doc_id""".stripMargin)((s, dir) => {
      val cfg =
        """{"datasets": [
          |   {"table": "documents", "name": "en_docs", "select": "lang = 'en'"},
          |   {"table": "documents", "name": "de_docs", "select": "lang = 'de'"}],
          | "select": "n_chars > 50",
          | "xval": {"strategy": "md5", "folds": 4, "key": "doc_id"}}""".stripMargin
      graft.sources.ConfigSource.fromJson(s, dir, cfg).df
        .select(col("doc_id"), col("dataset_id"), col("fold"))
        .orderBy("doc_id")
    }),

    // ---- §2.9 sliding event-time windows (5 min window, 1 min slide) ----
    Query("q52_sliding",
      """WITH x AS (
        |  SELECT event_type,
        |    (CAST(FLOOR(epoch_us(ts) / 60000000) AS BIGINT) - k) * 60000000 AS w_start_us
        |  FROM events, generate_series(0, 4) AS t(k))
        |SELECT w_start_us, event_type, COUNT(*) AS n
        |FROM x GROUP BY w_start_us, event_type ORDER BY w_start_us, event_type""".stripMargin)((s, dir) => {
      EventStreams.slidingCounts(events(s, dir), "5 minutes", "1 minute")
        .select(unix_micros(col("w_start")).as("w_start_us"),
          col("event_type"), col("n"))
        .orderBy("w_start_us", "event_type")
    }),

    // ---- §2.4 get_unique with member ids (dataset.py:636-701) ----
    Query("q51_unique_members",
      """SELECT lang, COUNT(*) AS n_members,
        |  array_to_string(list_sort(list(doc_id)), ',') AS member_ids
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)((s, dir) => {
      documents(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_members"),
          // Canonical comma-joined string (driver comparator can't sort arrays).
          array_join(sort_array(collect_list(col("doc_id"))), ",").as("member_ids"))
        .orderBy("lang")
    }),

    // ---- §2.4 summary: counts per group (dataset.py:260-271) ----
    Query("q50_summary",
      """SELECT lang, source, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin)((s, dir) => {
      documents(s, dir)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("lang", "source")
    }),

    // ---- north star: C4/Gopher-style quality scoring ----
    Query("q66_quality_score", Oracles.q66QualityScore)((s, dir) => {
      documents(s, dir)
        .withColumn("_f", TextAnalysis.qualityFeatures(col("text")))
        .select(col("doc_id"),
          TextAnalysis.qualityScoreFromFeatures(col("_f")).as("quality"),
          col("_f").getField("n_words").cast("long").as("n_words"),
          col("_f").getField("mean_word_len").as("mean_word_len"),
          col("_f").getField("stopword_ratio").as("stopword_ratio"),
          col("_f").getField("punct_ratio").as("punct_ratio"))
        .orderBy("doc_id")
    }),

    // ---- north star: hashing-TF vectorization + document frequency ----
    // (integer tf/df so the oracle is float-free; the ln-smoothed idf
    // multiply on top is covered by ProcessorsSpec — libm ln is not
    // bit-portable across engines)
    Query("q67_tfidf_buckets", Oracles.q67TfidfBuckets, headline = true)((s, dir) => {
      val tf = documents(s, dir)
        .select(col("doc_id"),
          posexplode(TextAnalysis.hashingTf(col("text"), 1024))
            .as(Seq("bucket", "tf")))
        .filter(col("tf") > 0)
        .select(col("doc_id"), col("bucket").cast("long").as("bucket"),
          col("tf").cast("long").as("tf"))
      val dfb = tf.groupBy("bucket").agg(count(lit(1)).as("df"))
      tf.join(dfb, Seq("bucket"))
        .select("doc_id", "bucket", "tf", "df")
        .orderBy("doc_id", "bucket")
    }),

    // ---- §2.4 TPC-H Q15 shape: top supplier by windowed revenue ----
    // (also the only query over the supplier dimension). The max runs
    // over the ~|suppliers| aggregate table — tiny by construction —
    // never over lineitem; revenue stays DECIMAL until the final cast so
    // the max-equality compare is exact.
    Query("q72_top_supplier", Oracles.q72TopSupplier)((s, dir) => {
      val rev = lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(sum(col("l_extendedprice").cast("decimal(18,4)") *
            (lit(1).cast("decimal(18,4)") -
              col("l_discount").cast("decimal(18,4)"))).as("total_dec"))
      // max as a 1-row aggregate + cross-join, which Catalyst broadcasts
      // (a global window would single-task the per-supplier table, which
      // grows linearly with scale under TPC-H scaling)
      val top = rev
        .crossJoin(rev.agg(max("total_dec").as("_max")))
        .filter(col("total_dec") === col("_max"))
      top.join(broadcast(supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("total_dec"), 2).cast("double").as("total_revenue"))
        .orderBy("s_suppkey")
    }),

    // ---- north star: per-source cap (corpus curation, ≤10 docs/source) ----
    Query("q73_cap_per_source", Oracles.q73CapPerSource)((s, dir) => {
      Dedup.capPerKey(documents(s, dir), "source", n = 10, seed = 7)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    }),

    // ---- north star: PII redaction scrub (emails / IPv4 / phones) ----
    // The synthetic corpus carries no natural PII, so the query injects a
    // deterministic doc_id-derived email+ip+phone suffix (identically in
    // the oracle SQL) — every row exercises all three regexes for real.
    Query("q74_pii_redaction", Oracles.q74PiiRedaction)((s, dir) => {
      val pii = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com ip 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), ((col("doc_id") * 7) % 256).cast("string"),
        lit(" tel 555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        lit("-"), lpad(((col("doc_id") * 3) % 10000).cast("string"), 4, "0"))
      documents(s, dir)
        .select(col("doc_id"), pii.as("_pii"))
        .select(col("doc_id"),
          TextAnalysis.piiCounts(col("_pii")).as("_c"),
          TextAnalysis.redactPii(col("_pii")).as("clean"))
        .select(col("doc_id"), col("_c.n_email").as("n_email"),
          col("_c.n_ip").as("n_ip"), col("_c.n_phone").as("n_phone"),
          col("clean"))
        .orderBy("doc_id")
    }),

    // ---- north star: benchmark decontamination (eval-leak scrub) ----
    Query("q75_decontaminate", Oracles.q75Decontaminate)((s, dir) => {
      val docs = documents(s, dir)
      Dedup.decontaminate(docs, docs.filter(col("doc_id") % 97 === 0),
          n = 3, threshold = 50, hashNgrams = false)
        .orderBy("doc_id")
    }),

    // ---- north star: weighted per-source mixture sampling ----
    Query("q76_weighted_sample", Oracles.q76WeightedSample)((s, dir) => {
      Dedup.weightedSample(documents(s, dir), "source",
          fractions = Map("src0" -> 0.75, "src1" -> 0.5, "src2" -> 0.25),
          default = 0.1, seed = 11)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    }),

    // ---- north star: segment-level exact dedup (C4-style span removal) ----
    Query("q77_dedup_segments", Oracles.q77DedupSegments)((s, dir) => {
      Dedup.dedupSegments(documents(s, dir), segWords = 10)
        .orderBy("doc_id")
    }),

    // ---- north star: top-k n-gram vocabulary (boilerplate mining) ----
    Query("q78_top_ngrams", Oracles.q78TopNgrams)((s, dir) => {
      TextAnalysis.topNgrams(documents(s, dir), n = 2, k = 100)
    }),

    // ---- north star: sequence packing (concat-and-chunk layout) ----
    Query("q79_pack_sequences", Oracles.q79PackSequences, headline = true)((s, dir) => {
      Packing.packSequences(documents(s, dir), budget = 2048)
        .orderBy("doc_id")
    }),

    // ---- north star: model-based quality filtering (linear apply) ----
    Query("q80_quality_filter", Oracles.q80QualityFilter, headline = true)((s, dir) => {
      TextAnalysis.scoreLinear(documents(s, dir), dim = 1024, seed = 42L)
        .orderBy("doc_id")
    }),

    // ---- north star: embedding L2 norm + int8 quantization ----
    Query("q81_embed_quantize", Oracles.q81EmbedQuantize, headline = true)((s, dir) => {
      graft.operators.Embeddings.withInt8Quantized(embeddings(s, dir))
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("n_dims"),
          graft.operators.Embeddings.l2Norm(col("embedding")).as("l2norm"),
          col("scale"),
          // CSV-serialized ints: exact, and sortable by the driver compare
          array_join(transform(col("q"), v => v.cast("string")), ",").as("q_csv"))
        .orderBy("vec_id")
    }),

    // ---- ANN tier: seeded random projection (NEW r11) ----
    // JL sign-matrix reduction 64→16 dims on the int8-quantized
    // vectors: projection matrix is a pure splitmix64 hash of
    // (seed, j, d) folded in as literals — map-side, zero shuffle,
    // integer-exact (oracle replays quantization + sign walk + sums).
    Query("q210_random_projection",
      Oracles.q210RandomProjection, headline = true)((s, dir) => {
      graft.operators.Embeddings.randomProjection(
          embeddings(s, dir), outDim = 16, seed = 2026L)
        .orderBy("vec_id", "dim")
    }),

    // ---- embedding tier: dominant principal direction (NEW r11) ----
    // Integer power iteration on the int8 Gram matrix: the anisotropy /
    // dominant-component readout (ABTT's "all-but-the-top" step 1) with
    // every round exact and oracle-unrolled. The only corpus-sized pass
    // is the d²-cell Gram aggregate.
    Query("q233_dominant_direction",
      Oracles.q233DominantDirection, headline = true)((s, dir) => {
      graft.operators.Embeddings.dominantDirection(
          embeddings(s, dir), dim = 64, rounds = 8)
        .orderBy("dim")
    }),

    // ---- embedding tier: MMR diversified top-k (NEW r11) ----
    // Retrieve-then-diversify: relevance pool through the bounded
    // native top-k aggregate (no |corpus|x|Q| shuffle), then the
    // greedy lambda=1/2 MMR re-rank on the collected pool. Sims are
    // the q193 int-dot + one-IEEE-division discipline, so the oracle
    // unrolls the greedy rounds exactly.
    Query("q234_mmr_topk", Oracles.q234MmrTopK, headline = true)((s, dir) => {
      val e = embeddings(s, dir)
      graft.operators.Similarity.mmrTopK(
          e, e.filter(col("vec_id") < 3), k = 8, poolSize = 40)
        .select(col("query_id"), col("rank"), col("vec_id"),
          col("relevance"), col("mmr_score"))
        .orderBy("query_id", "rank")
    }),

    // ---- timeseries tier: integer EWMA control chart (NEW r11) ----
    // alpha=1/8 smoothing as a codegen'd floor-division walk
    // (graft.plans.IntEwma) over per-type daily tenk sums; alert =
    // scale-free 25% deviation vs the previous smoothed level. The
    // order-dependent recurrence is exactly why it is NOT a window agg:
    // one calendar-bounded array per key, oracle-replayed by a
    // recursive CTE.
    Query("q235_ewma_chart", Oracles.q235EwmaChart)((s, dir) => {
      Timeseries.ewmaChart(events(s, dir), alphaDen = 8, relDen = 4)
        .orderBy("event_type", "day")
    }),

    // ---- retrieval tier: hybrid RRF fusion (NEW r11) ----
    // Lexical (shingle-Jaccard) + semantic (int8 cosine) rankings
    // fused by reciprocal rank — integer throughout (ranks only), so
    // the two scorers' scales never meet. doc_id ≡ vec_id in the
    // driver corpus. Both per-list rankings ride the bounded native
    // top-k aggregate; fusion touches ≤ 2·topN rows per query.
    Query("q236_hybrid_rrf", Oracles.q236HybridRrf, headline = true)((s, dir) => {
      graft.operators.Retrieval.hybridRrf(
          documents(s, dir), embeddings(s, dir),
          nQueries = 3, topN = 20, fuseK = 10)
        .orderBy("query_id", "fused_rank")
    }),

    // ---- analytics tier: grouped robust statistics (NEW r11) ----
    // Lower median / MAD / 10%-winsorized mean per order priority, all
    // integer order statistics in tenk units — the outlier-resistant
    // triple. Order statistics read a value AT a rank, so duplicate
    // ties can't flip the result.
    Query("q237_robust_stats", Oracles.q237RobustStats, headline = true)((s, dir) => {
      Analytics.robustStats(orders(s, dir), "o_orderpriority", "o_totalprice")
        .orderBy("o_orderpriority")
    }),

    // ---- curation tier: stratified budget sample (NEW r11) ----
    // Exactly 100 docs, per-source quotas by Hamilton largest-
    // remainder, members picked by md5 order — the reproducible
    // training-mix assembly step. Integer-only allocation.
    Query("q238_budget_sample", Oracles.q238BudgetSample, headline = true)((s, dir) => {
      graft.operators.Sampling.budgetSample(
          documents(s, dir), k = 100L, strataCol = "source")
        .orderBy("source", "pick_rank")
    }),

    // ---- ops tier: one-pass table profile (NEW r11) ----
    // Per-column null/cardinality profile from a single aggregation
    // (Expand-planned multi-distinct — one scan, one shuffle, never
    // #cols jobs).
    Query("q239_table_profile", Oracles.q239TableProfile)((s, dir) => {
      Validation.profileTable(documents(s, dir)).orderBy("column")
    }),

    // ---- text tier: code-switch detection (NEW r11) ----
    // Line-level langid votes -> majority, language count, integer
    // vote entropy (lnQ12), and the 1/8-runner-up mixed flag. The
    // doc-level q23 langid averages this signal away. The driver
    // corpus is single-line English-ish word salad (no doc can vote
    // two languages), so (the q219 convention) docs d < 250 are
    // re-ingested under a shifted id with appended Spanish — and for
    // d < 125 also German — marker lines: those docs MUST trip
    // n_langs/mixed/entropy, keeping the voting path live rather than
    // vacuously green.
    Query("q242_code_switch", Oracles.q242CodeSwitch)((s, dir) => {
      val esLine = "el la los las y es un una que por"
      val deLine = "der die das und ist nicht ein eine zu mit"
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      val aug = d.filter(col("doc_id") < 250)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit("\n" + esLine),
            when(col("doc_id") < 125, lit("\n" + deLine)).otherwise(lit("")))
            .as("text"))
      TextAnalysis.codeSwitch(d.unionByName(aug)).orderBy("doc_id")
    }),

    // ---- text tier: Zipf profile (NEW r11) ----
    // OLS slope of ln(count) vs ln(rank) over the top-1000 tokens —
    // integer lnQ12 logs, exact decimal moments, signed truncating Q9
    // division. Corpus-health: natural text sits near −1.
    Query("q260_zipf_profile", Oracles.q260ZipfProfile)((s, dir) => {
      TextAnalysis.zipfProfile(documents(s, dir), topK = 1000)
    }),

    // ---- embedding tier: Matryoshka truncation profile (NEW r11) ----
    // Per prefix length {16,32,48}: exact squared cosine between each
    // int8 vector and its truncation (pure integer ratio Sk/Sd — no
    // sqrt), mean/min/max per prefix.
    Query("q261_matryoshka", Oracles.q261Matryoshka)((s, dir) => {
      graft.operators.Embeddings.matryoshkaProfile(embeddings(s, dir))
        .orderBy("prefix_dim")
    }),

    // ---- validation tier: k-anonymity audit (NEW r11) ----
    // Equivalence classes on (nation, segment): min class size and the
    // rows exposed in classes under k=10 — the privacy-QA readout.
    Query("q262_k_anonymity", Oracles.q262KAnonymity)((s, dir) => {
      Validation.kAnonymityAudit(customer(s, dir),
        Seq("c_nationkey", "c_mktsegment"), k = 10)
    }),

    // ---- layout tier: zone-map pruning profile (NEW r11) ----
    // Min/max-overlap fraction of bucket pairs under two layouts of
    // orders — hash(orderkey) vs range(orderdate) — the measurement
    // behind "sort before you write 100 TB": range layout prunes,
    // hash layout reads everything.
    Query("q263_zone_map", Oracles.q263ZoneMap)((s, dir) => {
      val d = Dedup.materialize(orders(s, dir).select(col("o_orderkey"),
        expr("unix_micros(o_orderdate) DIV 86400000000").as("day")))
      val mm = d.agg(min("day"), max("day")).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      Layout.zoneMapOverlap(d, pmod(col("o_orderkey"), lit(32)),
          col("day"), "hash")
        .unionByName(Layout.zoneMapOverlap(d,
          expr(s"((day - ${lo}L) * 32) DIV ${hi - lo + 1}L"),
          col("day"), "range"))
        .orderBy("layout")
    }),

    // ---- validation tier: l-diversity audit (NEW r12) ----
    // q262's stronger sibling: a class that is k-anonymous but
    // single-valued on the sensitive attribute is still exposed
    // (homogeneity attack). Sensitive = account-balance band (exact
    // cents, shifted positive so floor = truncate in both engines).
    Query("q264_l_diversity", Oracles.q264LDiversity)((s, dir) => {
      Validation.lDiversityAudit(
        customer(s, dir).withColumn("bal_band", expr(
          "(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            " + 100000) DIV 100000")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band", l = 5)
    }),

    // ---- curation tier: domain-mixture planner (NEW r12) ----
    // The DoReMi/Pile-style rate plan q98's executor would consume:
    // per-domain keep rate toward a target permille mix (downsample-
    // only), kept-token projection, ACHIEVED mix after capping — all
    // exact floor arithmetic. src0-9 target 80‰, src10-19 20‰.
    Query("q265_domain_mixture", Oracles.q265DomainMixture)((s, dir) => {
      val targets = (0 until 20).map(i =>
        (s"src$i", if (i < 10) 80L else 20L))
      Sampling.domainMixturePlan(documents(s, dir), targets)
        .orderBy("source")
    }),

    // ---- text tier: Heaps'-law vocabulary growth (NEW r12) ----
    // q260's companion: distinct-token count after each N/10 prefix of
    // the corpus in doc_id order — the vocabulary-growth curve that
    // separates natural text from OCR noise (keeps climbing) and
    // boilerplate (flattens early).
    Query("q266_heaps_growth", Oracles.q266HeapsGrowth, headline = true)((s, dir) => {
      TextAnalysis.heapsGrowth(documents(s, dir)).orderBy("ckpt")
    }),

    // ---- graph tier: Adamic-Adar link prediction (NEW r12) ----
    // Non-edges of the co-purchase graph ranked by Σ 1/ln(deg z) over
    // common neighbors z (exact Q6 via the shared lnQ12 kernel) — the
    // "should be connected" shortlist recommendations and entity-
    // resolution candidate generation start from. maxDegree=64: on
    // this dense graph hub intermediates explode the 2-hop space to
    // ~all-pairs (measured 101M pairs / 90 s at sf0.1 uncapped) while
    // adding ~0 AA signal — the cap keeps exactly the informative
    // rare-neighbor evidence (oracle mirrors it).
    Query("q267_link_predict", Oracles.q267LinkPredict, headline = true)((s, dir) => {
      Graphs.linkPredict(Graphs.coOccurrenceEdges(
        lineitem(s, dir), "l_orderkey", "l_partkey", dedup = false),
        maxDegree = 64)
    }),

    // ---- dedup tier: MinHash-LSH parameter planner (NEW r12) ----
    // The S-curve table — P(candidate | J) = 1 − (1 − J^r)^b in exact
    // Q6 truncating fixed point — a 100 TB dedup run reads to pick
    // (bands, rows) before signing the corpus.
    Query("q268_lsh_plan", Oracles.q268LshPlan)((s, dir) =>
      Dedup.lshPlan(s).orderBy("n_bands", "n_rows", "j_q6")),

    // ---- embedding tier: greedy k-center coreset (NEW r12) ----
    // Farthest-point sampling (Gonzalez 2-approx; CoreSet selection):
    // min-id seed, then 5 rounds of argmax min-distance-to-centers on
    // int8 codes — the diverse annotation-budget pick, radius sequence
    // included. Complements q248 (coverage) and q234 (query-relative).
    Query("q269_kcenter_coreset",
      Oracles.q269KCenterCoreset, headline = true)((s, dir) => {
      graft.operators.Embeddings.kCenterSelect(embeddings(s, dir), k = 6)
        .orderBy("round")
    }),

    // ---- ML-eval tier: calibration curve + ECE (NEW r12) ----
    // q250 ranks, this checks the score VALUES: price-derived Q4
    // pseudo-propensity in 10 fixed value bins, mean-pred vs observed
    // return rate, and the exact single-floor ECE.
    Query("q270_calibration", Oracles.q270Calibration)((s, dir) => {
      val ret = lineitem(s, dir).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("_rk")).distinct()
      val d = orders(s, dir)
        .join(ret, col("o_orderkey") === col("_rk"), "left")
        .withColumn("p_q4", least(lit(10000L), expr(
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            " DIV 5500")))
      Analytics.calibrationCurve(d, "p_q4", col("_rk").isNotNull)
        .orderBy("bin")
    }),

    // ---- text tier: TextRank keywords (NEW r12) ----
    // Weighted PageRank over the adjacent-word co-occurrence graph
    // (Mihalcea & Tarau 2004, window 2) in exact fixed point — the
    // unsupervised keyword extractor; counts capped at 1e5 per the
    // pageRankIntWeighted long-range bound (cap mirrored in the
    // oracle).
    Query("q271_textrank_keywords", Oracles.q271TextRank, headline = true)((s, dir) =>
      TextAnalysis.textRankKeywords(documents(s, dir))),

    // ---- streaming tier: calibration cells via state store (NEW r12) ----
    // q270's ≤10 cells built by the streaming engine (stream orders,
    // static returns table, Complete-mode agg — the q205/q255
    // discipline), batch ECE readout; oracle = q270's SQL verbatim.
    // q272 = q270's cells through the streaming state store: one
    // relational truth, two engine paths (the q205/q255 discipline)
    Query("q272_stream_calibration", Oracles.q270Calibration)((s, dir) => {
      val ret = lineitem(s, dir).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("_rk")).distinct()
      val cells = EventStreams.runOnceOnParquet(s, s"$dir/orders.parquet",
        df => Analytics.calibrationCells(
          df.join(ret, col("o_orderkey") === col("_rk"), "left")
            .withColumn("p_q4", least(lit(10000L), expr(
              "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)" +
                " DIV 5500"))),
          "p_q4", col("_rk").isNotNull),
        s"calib_sink_${System.nanoTime()}")
      Analytics.calibrationFromCells(cells).orderBy("bin")
    }),

    // ---- ML-eval tier: nDCG@k retrieval quality (NEW r12) ----
    // Per-nation top-5 parts by even-day sales vs odd-day purchase
    // counts as graded relevance — exact integer DCG/IDCG via the
    // shared lnQ12 kernel (rel/log2(r+1) = rel·ln2/ln(r+1)), one Q6
    // terminal division. The ranking-quality readout the q249 MRR
    // can't give (MRR sees only the first hit).
    Query("q273_ndcg", Oracles.q273Ndcg, headline = true)((s, dir) => {
      val base = lineitem(s, dir)
        .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .withColumn("_day", expr("unix_micros(o_orderdate) DIV 86400000000"))
        .select(col("c_nationkey").as("q"), col("l_partkey").as("item"),
          pmod(col("_day"), lit(2)).as("_par"))
      val w = Window.partitionBy("q")
        .orderBy(col("_cnt").desc, col("item"))
      val recs = base.filter(col("_par") === 0)
        .groupBy("q", "item").agg(count(lit(1)).as("_cnt"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5).drop("_cnt")
      val truth = base.filter(col("_par") === 1)
        .groupBy("q", "item").agg(count(lit(1)).as("rel"))
      Retrieval.ndcgAtK(recs, truth, k = 5).orderBy("q")
    }),

    // ---- embedding tier: centroid silhouette profile (NEW r12) ----
    // "Was the clustering any good?" for the IVF family (the q225
    // question asked of q57's cells): per-cell simplified silhouette
    // (b−a)/max(a,b) on exact int8 squared distances, Q6.
    Query("q274_silhouette", Oracles.q274Silhouette, headline = true)((s, dir) => {
      graft.operators.Embeddings.silhouetteProfile(embeddings(s, dir))
        .orderBy("cell")
    }),

    // ---- text tier: per-domain characteristic terms (NEW r12) ----
    // Class-level TF-IDF (c-TF-IDF): top-5 terms per source via the
    // q123 libm-free Robertson idf — corpus-wide stopwords score ≈ 0
    // with no stopword list. The "what makes src7 different" readout
    // a mixture curator pairs with q265.
    Query("q275_domain_terms", Oracles.q275DomainTerms)((s, dir) => {
      TextAnalysis.domainTopTerms(documents(s, dir), k = 5)
        .orderBy("source", "rank")
    }),

    // ---- text tier: Hill tail index of doc lengths (NEW r12) ----
    // How heavy is the length tail (α ≤ 2 ⇒ infinite variance: plan
    // for stragglers)? Top-100 n_chars through the shared ln kernel,
    // one terminal Q6 division.
    Query("q276_hill_tail", Oracles.q276HillTail)((s, dir) =>
      TextAnalysis.hillTailIndex(documents(s, dir), "n_chars", k = 100)),

    // ---- ML-eval tier: split-conformal coverage (NEW r12) ----
    // Distribution-free error bars: calibration-half residual quantile
    // at 1−α = 0.9 (exact order statistic via the q250 cell cumsum),
    // test-half coverage — the guarantee check a prediction service
    // ships next to q270's calibration curve.
    Query("q277_conformal", Oracles.q277Conformal)((s, dir) => {
      val d = lineitem(s, dir)
        .withColumn("y", expr(
          "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .withColumn("yhat", expr(
          "CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) * 200000"))
      Analytics.conformalCoverage(d, "y", "yhat",
        pmod(col("l_orderkey"), lit(2)) === 0)
    }),

    // ---- ML-eval tier: seeded sign-flip permutation test (NEW r12) ----
    // Nonparametric paired-difference test (the q181 t-test with no
    // normality assumption): per-user even−odd-day purchase diff in
    // tenk units, 64 deterministic splitmix sign patterns (the q224
    // tug-of-war family), permille p-value.
    Query("q278_signflip_test", Oracles.q278SignFlip)((s, dir) => {
      val e = events(s, dir)
        .filter(col("event_type") === "purchase" &&
          col("user_id").isNotNull)
        .withColumn("vt",
          expr("CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)"))
        .withColumn("_par",
          pmod(expr("unix_micros(ts) DIV 86400000000"), lit(2)))
      val pairs = e.groupBy("user_id")
        .agg(sum(when(col("_par") === 0, col("vt"))
          .otherwise(-col("vt"))).as("d"))
      Analytics.signFlipTest(pairs, "user_id", "d")
    }),

    // ---- streaming tier: Benford digit cells via state store (NEW r12) ----
    // q214's 9 digit cells built by the streaming engine (Complete-mode
    // agg over streamed lineitem), batch excess readout — oracle =
    // q214's SQL verbatim (one truth, two engine paths).
    // q279 = q214's digit cells through the streaming state store (one
    // relational truth, two engine paths — the q152/q272 discipline)
    Query("q279_stream_benford", benfordSql)((s, dir) => {
      val cells = EventStreams.runOnceOnParquet(s,
        s"$dir/lineitem.parquet",
        df => Validation.benfordDigitCells(df, "l_extendedprice"),
        s"benford_sink_${System.nanoTime()}")
      Validation.benfordFromCells(cells).orderBy("digit")
    }),

    // ---- streaming tier: domain token cells via state store (NEW r12) ----
    // q265's per-domain token sums through the streaming state store
    // (the live corpus-mixture monitor a 100 TB ingest runs), batch
    // rate-plan readout — oracle = q265's SQL verbatim.
    // q280 = q265's cells through the streaming state store (the
    // q272/q255 discipline — one relational truth, two engine paths)
    Query("q280_stream_mixture", Oracles.q265DomainMixture)((s, dir) => {
      val cells = EventStreams.runOnceOnParquet(s,
        s"$dir/documents.parquet",
        df => Sampling.domainTokenCells(df),
        s"mixture_sink_${System.nanoTime()}")
      val targets = (0 until 20).map(i =>
        (s"src$i", if (i < 10) 80L else 20L))
      Sampling.mixturePlanFromCells(cells, targets).orderBy("source")
    }),

    // ---- streaming tier: transition matrix via keyed state (NEW r12) ----
    // q253's LEAD pairs built through flatMapGroupsWithState (per-user
    // event buffer, funnelStream exactness: late events splice pairs,
    // so each trigger re-derives), cells summed batch-side, shared
    // top-k readout — oracle = q253's SQL verbatim.
    // q281 = q253's LEAD pairs through the keyed state store (one
    // relational truth, two engine paths — the q152/q272 discipline)
    Query("q281_stream_transitions", Oracles.q253Transitions)((s, dir) => {
      val emitted = EventStreams.runOnceOnParquet(s,
        s"$dir/events.parquet",
        df => EventStreams.transitionPairsStream(s, df),
        s"trans_sink_${System.nanoTime()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
      // sticky-truncated contract: drop ever-capped users (see q317)
      val cells = emitted
        .withColumn("_mx", max("emit").over(
          Window.partitionBy("user_id")))
        .filter(col("emit") === col("_mx") && !col("truncated"))
        .groupBy("src", "dst").agg(sum("n").as("n"))
      Analytics.transitionFromCells(cells, k = 3)
        .orderBy("src", "rank")
    }),

    // ---- corpus-curation tier: domain vocabulary overlap (NEW r13) ----
    // Exact pairwise Jaccard of per-domain distinct-token sets, Q6 —
    // "which sources are the same corpus wearing two names", the
    // pairwise companion to q275's what-makes-a-source-different.
    // Token-keyed self-join of the collapsed (domain, token) table:
    // ≤|domains|² pair rows per token, never a doc-pair blow-up.
    Query("q282_domain_overlap",
      Oracles.q282DomainOverlap, headline = true)((s, dir) =>
      TextAnalysis.domainVocabOverlap(documents(s, dir))
        .orderBy("domain_a", "domain_b")),

    // ---- sketch tier: count-min parameter planner (NEW r13) ----
    // q268's planning discipline for the CMS family: width = ceil(e/eps)
    // with e pinned to the Q6 constant 2718282, depth = ceil(ln(1/d))
    // through the shared lnQ12 kernel, bytes = w*d*8. Zero corpus touch.
    Query("q283_cms_plan", Oracles.q283CmsPlan)((s, dir) =>
      graft.operators.Sketches.cmsPlan(s).orderBy("eps_ppm", "delta_inv")),

    // ---- dedup tier: duplicate-inflation histogram (NEW r13) ----
    // Cluster-size histogram of exact-dup groups + Q6 doc share: the
    // shape report read BEFORE choosing a dedup strategy (fat size-2
    // head vs few giant boilerplate clusters behave differently; the
    // r11 q178 clones-squared incident is a row of this table).
    Query("q284_dup_inflation", Oracles.q284DupInflation, headline = true)((s, dir) =>
      Dedup.dupInflation(documents(s, dir)).orderBy("cluster_size")),

    // ---- streaming tier: dup-inflation cells via state store (NEW r13) ----
    // q284's digest cells built by the streaming engine (the q272/q280
    // discipline: one cell builder, two engine paths), shared readout.
    // q285 = q284's digest cells through the streaming state store
    // (the q272/q280 discipline — one cell definition, two engine paths)
    Query("q285_stream_dup_inflation", Oracles.q284DupInflation)((s, dir) => {
      val cells = EventStreams.runOnceOnParquet(s,
        s"$dir/documents.parquet",
        df => Dedup.digestCells(df),
        s"dupinf_sink_${System.nanoTime()}")
      Dedup.dupInflationFromCells(cells).orderBy("cluster_size")
    }),

    // ---- ML-eval tier: per-group (Mondrian) conformal coverage (NEW r13) ----
    // q277's split-conformal audit per l_returnflag: marginal coverage
    // can hide a group whose intervals systematically miss — each group
    // gets its own calibration quantile. Cumsum window PARTITIONED by
    // group over per-group distinct-residual cells; |groups|-row q-hat
    // table broadcasts to the test aggregate.
    Query("q286_group_conformal",
      Oracles.q286GroupConformal, headline = true)((s, dir) => {
      val d = lineitem(s, dir)
        .withColumn("y", expr(
          "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .withColumn("yhat", expr(
          "CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) * 200000"))
      Analytics.conformalCoverageByGroup(d, "l_returnflag", "y", "yhat",
        pmod(col("l_orderkey"), lit(2)) === 0).orderBy("grp")
    }),

    // ---- dedup tier: per-domain duplication report (NEW r13) ----
    // WHERE the duplication lives — q284's histogram resolved by
    // source: (n_docs, n_distinct, n_redundant, dup_rate_q6) per
    // domain, the number that prices per-source dedup before q265's
    // mixture plan trusts per-domain token counts.
    Query("q287_domain_dup_rate", Oracles.q287DomainDupRate)((s, dir) =>
      Dedup.domainDupReport(documents(s, dir)).orderBy("source")),

    // ---- curation tier: per-domain language mix (NEW r13) ----
    // q23's langId heuristic crosstabbed by source with exact Q6
    // shares — language targets can't be planned from domain targets
    // alone, and a 40%-und domain is an OCR/boilerplate flag.
    Query("q288_lang_mix", Oracles.q288LangMix)((s, dir) =>
      TextAnalysis.langMixBySource(documents(s, dir))
        .orderBy("source", "lang_pred")),

    // ---- curation tier: temperature-scaled mixture (NEW r13) ----
    // The mT5/XLM-R alpha-sampling standard at alpha = 1/2, exactly:
    // w = floor(sqrt(toks)) via the shared isqrt kernel (Newton-CTE
    // replayable), raw vs tempered Q6 shares side by side — the
    // flattening a curator signs off on before q265's plan runs.
    Query("q289_temperature_mixture", Oracles.q289TemperatureMixture)((s, dir) =>
      Sampling.temperatureMixturePlan(documents(s, dir))
        .orderBy("source")),

    // ---- streaming tier: k-anonymity cells via state store (NEW r13) ----
    // q262's quasi-class size cells built by the streaming engine (the
    // q272/q280/q285 discipline) — the live release-safety monitor a
    // continuously-updated projection needs; shared 1-row readout,
    // oracle = q262's SQL verbatim.
    // q290 = q262's cells through the streaming state store (the
    // q272/q280/q285 discipline — one cell definition, two engine paths)
    Query("q290_stream_kanon", Oracles.q262KAnonymity)((s, dir) => {
      val cells = EventStreams.runOnceOnParquet(s,
        s"$dir/customer.parquet",
        df => Validation.kAnonymityCells(df,
          Seq("c_nationkey", "c_mktsegment")),
        s"kanon_sink_${System.nanoTime()}")
      Validation.kAnonymityFromCells(cells, k = 10)
    }),

    // ---- embedding tier: ANN recall audit (NEW r13) ----
    // q57's IVF (nProbe=4 of 16 cells) graded against q37's exact
    // brute-force truth on the sampled query set — THE ANN quality
    // gate: per-query hits + Q6 recall, macro recall as the summary
    // column. Both sides replay exactly in DuckDB, so the oracle is
    // the composed CTEs of both.
    Query("q291_ann_recall", Oracles.q291AnnRecall, headline = true)((s, dir) => {
      val e = embeddings(s, dir)
      val qs = e.filter(col("vec_id") < 20)
      val truth = Similarity.bruteForceTopK(e, qs, k = 5)
      val approx = Similarity.ivfTopKInt8(e, qs, k = 5,
        nCells = 16, nProbe = 4, iters = 2)
      Similarity.annRecallAtK(truth, approx, k = 5).orderBy("query_id")
    }),

    // ---- analytics tier: Markov stationary distribution (NEW r13) ----
    // q253's transition matrix power-iterated 8 rounds from uniform —
    // "long-run where do users sit", all exact integers (Q9 matrix,
    // Q12 mass, term-wise floors; oracle unrolls the rounds).
    Query("q292_stationary", Oracles.q292Stationary, headline = true)((s, dir) =>
      Analytics.transitionStationary(events(s, dir), rounds = 8)
        .orderBy("state")),

    // ---- validation tier: PSI drift per cohort (NEW r13) ----
    // q202's smoothed integer-log PSI keyed by user cohort (user_id%4)
    // — the drift dashboard: a stable marginal can hide one cohort
    // drifting hard against another drifting back.
    Query("q293_psi_by_cohort", psiByCohortOracleSql)((s, dir) =>
      Analytics.psiByGroup(events(s, dir),
          pmod(col("user_id"), lit(4)).as("cohort"), "event_type",
          pmod(expr("unix_micros(ts) DIV 86400000000"), lit(2)) === 1)
        .withColumnRenamed("grp", "cohort")
        .orderBy("cohort")),

    // ---- ML-eval tier: exact pinball loss (NEW r13) ----
    // Quantile-forecast sharpness on the q277 (y, yhat) pair at tau =
    // 0.1/0.5/0.9 — coverage says the interval contains, pinball says
    // the quantile prediction is sharp; per-row loss is ONE integer
    // multiply (tau permille), summed exactly.
    Query("q294_pinball_loss", Oracles.q294PinballLoss)((s, dir) => {
      val d = lineitem(s, dir)
        .withColumn("y", expr(
          "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .withColumn("yhat", expr(
          "CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) * 200000"))
      Analytics.pinballLoss(d, "y", "yhat").orderBy("tau_pm")
    }),

    // ---- dedup tier: end-to-end dedup rate by domain (NEW r13) ----
    // q56's keep verdicts (exact collapse + near-dup min-keep) counted
    // per source — the where-does-dedup-BITE companion to q287's
    // exact-only rate, closing the per-domain dedup dashboard.
    // NO streaming twin, by decision (r14): the near-dup keep verdict
    // is a GLOBAL LSH band-join property (keep = no earlier-id
    // neighbor in ANY band bucket), so a trigger-time verdict can be
    // invalidated by a later-arriving earlier-id document in another
    // bucket — per-key bounded state cannot express it, and a
    // replay-the-corpus-per-trigger "twin" would be the batch job in a
    // trench coat. The dashboard's incrementally-correct pieces ARE
    // twinned (q285 dup-inflation over digest cells); the
    // arrival-order-relative near-dup contract is q86's.
    Query("q295_dedup_rate_by_domain", Oracles.q295DedupRateByDomain)((s, dir) => {
      val docs = documents(s, dir)
      val kept = Dedup.nearDupKeep(docs, numHashes = 32,
        rowsPerBand = 4, k = 5, threshold = 0.5)
      val tot = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val kc = kept.groupBy("source").agg(count(lit(1)).as("n_kept"))
      tot.join(kc, Seq("source"), "left")
        .na.fill(0L, Seq("n_kept"))
        .withColumn("n_removed", col("n_docs") - col("n_kept"))
        .withColumn("removed_rate_q6", expr(
          "CAST((CAST(n_removed AS DECIMAL(38,0)) * 1000000)" +
            " DIV n_docs AS BIGINT)"))
        .orderBy("source")
    }),

    // ---- ANN tier: IVF cell-balance report (NEW r14) ----
    // The capacity-planning companion to q274's quality question: per
    // cell its row count and Q6 corpus share, plus the global max/mean
    // imbalance factor repeated per row — "will nProbe cost what the
    // planner thinks?" before the index serves traffic.
    Query("q296_ivf_balance", Oracles.q296IvfBalance, headline = true)((s, dir) =>
      graft.operators.Embeddings.ivfBalanceReport(embeddings(s, dir))
        .orderBy("cell")),

    // ---- corpus-curation tier: domain JS divergence (NEW r14) ----
    // Exact pairwise Jensen-Shannon between domain unigram
    // DISTRIBUTIONS in Q12 nats — the distributional companion to
    // q282's set Jaccard (shared vocabulary at different rates).
    // Intersection-only token join; disjoint mass folds in as
    // (mass)*ln2 from the broadcast totals.
    Query("q297_domain_divergence",
      Oracles.q297DomainDivergence, headline = true)((s, dir) =>
      TextAnalysis.domainDivergence(documents(s, dir))
        .orderBy("domain_a", "domain_b")),

    // ---- validation tier: PSI drift over time (NEW r14) ----
    // q202's smoothed integer-log kernel per DAY vs the global
    // baseline distribution — drift as a time series (which buckets
    // drifted, and when it started); absent categories enter at 0 so
    // every bucket's k is the global category count.
    Query("q298_psi_over_time", Oracles.q298PsiOverTime, headline = true)((s, dir) =>
      Analytics.psiVsBaseline(events(s, dir),
          expr("unix_micros(ts) DIV 86400000000").as("bucket"),
          "event_type")
        .orderBy("bucket")),

    // ---- corpus-curation tier: token-budget report (NEW r14) ----
    // Per domain: docs, bytes, EXACT BPE token count (the q88 merge
    // walk), Q6 share of the corpus token budget, Q6 fertility
    // (tokens per 100 bytes) — the table a pretraining mixture is
    // planned from, with real token counts instead of doc proxies.
    Query("q299_token_budget", Oracles.q299TokenBudget, headline = true)((s, dir) =>
      TextAnalysis.tokenBudgetBySource(documents(s, dir))
        .orderBy("source")),

    // ---- dedup tier: duplicate-ngram exposure by domain (NEW r14) ----
    // The exact-substring dedup signal (Lee et al. 2022): share of
    // per-doc distinct char-12-gram shingles (q178/q209 convention)
    // that recur in another document — where a span-level dedup pass
    // would bite, at linear cost (no pair join).
    Query("q300_dup_ngram_share",
      Oracles.q300DupNgramShare, headline = true)((s, dir) =>
      Dedup.dupNgramShare(documents(s, dir))
        .orderBy("source")),

    // ---- streaming tier: PSI-over-time cells via state store (NEW r14) ----
    // q298's (bucket, category) cells maintained by a Complete-mode
    // streaming count (the q272/q280/q285 discipline: one cell builder,
    // two engine paths), shared psiVsBaseline readout, q298's oracle
    // verbatim.
    // q301 = q298's cells through the streaming state store (the
    // q272/q280/q285 discipline — one cell definition, two engine paths)
    Query("q301_stream_psi_over_time", Oracles.q298PsiOverTime)((s, dir) => {
      val cells = EventStreams.runOnceOnParquet(s, s"$dir/events.parquet",
        df => Analytics.psiTimeCells(df,
          expr("unix_micros(ts) DIV 86400000000").as("bucket"),
          "event_type"),
        s"psitime_sink_${System.nanoTime()}")
      // materialize before the readout (as the batch path does): the
      // memory-sink VIEW cannot deduplicate its attributes across the
      // readout's self-referencing joins
      Analytics.psiVsBaselineFromCells(Dedup.materialize(cells))
        .orderBy("bucket")
    }),

    // ---- streaming tier: token-budget cells via state store (NEW r14) ----
    // q299's per-domain (docs, bytes, tokens) cells through the state
    // store — the BPE count is per-row map-side work in both engines;
    // shared readout, q299's oracle verbatim.
    // q302 = q299's cells through the streaming state store
    Query("q302_stream_token_budget", Oracles.q299TokenBudget)((s, dir) => {
      val cells = EventStreams.runOnceOnParquet(s,
        s"$dir/documents.parquet",
        df => TextAnalysis.tokenBudgetCells(df),
        s"tokbudget_sink_${System.nanoTime()}")
      TextAnalysis.tokenBudgetFromCells(cells).orderBy("source")
    }),

    // ---- packing tier: context-length planner (NEW r14) ----
    // Per candidate max_len: docs truncated and Q6 token share lost —
    // the cost table read BEFORE committing to a packing budget (q79
    // whitespace-token convention; one scan, |budgets|-row output).
    Query("q303_context_plan", Oracles.q303ContextPlan)((s, dir) =>
      graft.operators.Packing.contextLengthPlan(documents(s, dir))
        .orderBy("max_len")),

    // ---- ANN tier: kNN hubness audit (NEW r14) ----
    // In-degree distribution of exact top-5 neighbors over the
    // vec_id<100 query sample (the q37 protocol): a heavy hub tail
    // means the neighborhoods carry little information — the
    // Radovanović high-dimensionality pathology check, cross-read with
    // q247 anisotropy.
    Query("q304_knn_hubness", Oracles.q304KnnHubness)((s, dir) =>
      Similarity.knnHubness(embeddings(s, dir), nQueries = 100, k = 5)
        .orderBy("in_degree")),

    // ---- corpus-health tier: Zipf rank-frequency slope (NEW r14) ----
    // Exact least-squares slope of lnQ12(freq) on lnQ12(rank) over the
    // top-100 tokens, reported as alpha = -slope in Q6 — the third
    // power law next to q266 Heaps and q276 Hill; bounded top-k pull,
    // driver-side BigInt regression, CTE-replayed ln kernel.
    Query("q305_zipf_slope", Oracles.q305ZipfSlope)((s, dir) =>
      TextAnalysis.zipfSlope(documents(s, dir))),

    // ---- embedding-QA tier: norm profile (NEW r14) ----
    // Dyadic octave histogram of int8 squared norms with zero vectors
    // on their own row — failed-embed / padding-row detection before
    // any index build (the q241 octave discipline).
    Query("q306_norm_profile", Oracles.q306NormProfile)((s, dir) =>
      graft.operators.Embeddings.normProfile(embeddings(s, dir))
        .orderBy("octave")),

    // ---- dedup tier: cross-domain duplicate matrix (NEW r14) ----
    // Which domain PAIRS share identical documents (mirror/syndication
    // detection): shared-digest count + Q6 containment of the smaller
    // side. Driver corpus has no natural cross-domain copies, so a
    // deterministic 'mirror' domain re-publishes doc_id<50 (the q242
    // augmentation pattern, replayed verbatim in the oracle).
    Query("q307_cross_domain_dups", Oracles.q307CrossDomainDups)((s, dir) => {
      val d = documents(s, dir)
      val aug = d.select(col("source"), col("text"))
        .unionByName(d.filter(col("doc_id") < 50)
          .select(lit("mirror").as("source"), col("text")))
      Dedup.crossDomainDups(aug).orderBy("domain_a", "domain_b")
    }),

    // ---- retrieval-eval tier: MRR@k + hit@k (NEW r14) ----
    // The q273 protocol (recs from even days, truth from odd days),
    // graded on first-relevant rank instead of graded gain — the RAG
    // retriever's two headline numbers next to nDCG.
    Query("q308_mrr", Oracles.q308Mrr)((s, dir) => {
      val base = lineitem(s, dir)
        .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .withColumn("_day", expr("unix_micros(o_orderdate) DIV 86400000000"))
        .select(col("c_nationkey").as("q"), col("l_partkey").as("item"),
          pmod(col("_day"), lit(2)).as("_par"))
      val w = Window.partitionBy("q")
        .orderBy(col("_cnt").desc, col("item"))
      val recs = base.filter(col("_par") === 0)
        .groupBy("q", "item").agg(count(lit(1)).as("_cnt"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5).drop("_cnt")
      val truth = base.filter(col("_par") === 1)
        .groupBy("q", "item").agg(count(lit(1)).as("rel"))
      graft.operators.Retrieval.mrrAtK(recs, truth, k = 5).orderBy("q")
    }),

    // ---- ops tier: generic keyed table diff (NEW r14) ----
    // Keyed full-outer compare of two deterministic "drops" of orders
    // (before misses %11 keys, after misses %13 and bumps %7 prices):
    // added/removed/changed/unchanged counts + Q6 shares — the
    // dataset-versioning audit next to q44's constraint suite.
    Query("q309_table_diff", Oracles.q309SnapshotDiff)((s, dir) => {
      val base = orders(s, dir).select(col("o_orderkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("price_c"),
        col("o_orderstatus"))
      val before = base.filter(pmod(col("o_orderkey"), lit(11)) =!= 0)
      val after = base.filter(pmod(col("o_orderkey"), lit(13)) =!= 0)
        .withColumn("price_c",
          when(pmod(col("o_orderkey"), lit(7)) === 0,
            col("price_c") + 100).otherwise(col("price_c")))
      graft.operators.Validation.tableDiff(before, after,
          Seq("o_orderkey"), Seq("price_c", "o_orderstatus"))
        .orderBy("status")
    }),

    // ---- preference tier: Bradley-Terry ratings (NEW r14) ----
    // THE reward-model/arena primitive: within-order supplier
    // "contests" (higher line price beats lower, suppkey<=100 pool),
    // MM fixed point in exact Q6 with per-round mean-1e6 renorm,
    // oracle unrolls the rounds as CTEs (the q292 discipline).
    Query("q310_bradley_terry", Oracles.q310BradleyTerry, headline = true)((s, dir) =>
      Analytics.bradleyTerryFromWins(supplierWins(s, dir), rounds = 6)
        .orderBy("item")),

    // ---- corpus-curation tier: temperature sweep (NEW r16) ----
    // q289's α = ½ point swept across the whole exactly-computable
    // grid {1, ½, ¼, ⅛} (iterated floor-isqrt — ⌊√⌊√x⌋⌋ = ⌊x^¼⌋, so
    // every point oracle-replays exactly): per (α, source) tempered
    // share + the α's head share, the flattening curve a curator
    // picks a temperature FROM. One corpus collapse, every α read
    // off the same |domains|-row table.
    Query("q326_temperature_sweep",
      Oracles.q326TemperatureSweep, headline = true)((s, dir) =>
      Sampling.temperatureSweep(documents(s, dir))
        .orderBy(col("alpha_q3").desc, col("source"))),

    // ---- ops tier: split-leakage audit (NEW r16) ----
    // The xval × dedup composition: exact-dup digest groups straddling
    // md5Kfold folds — every one leaks train into validation and
    // silently inflates per-fold metrics. Per leaking fold pair the
    // groups + exact cross-fold member pairs; panel-wide the Q6 share
    // of digests that straddle at all. folds = 4, the q83 universe.
    // Corpus mirror-augmented with exact clones under NEW ids (the
    // q307/q320 pattern — the raw synthetic corpus has no exact dups):
    // same text, different fold key = precisely the hazard audited.
    Query("q329_split_leakage", Oracles.q329SplitLeakage, headline = true)((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      val aug = d.unionByName(d.filter(col("doc_id") < 200)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Xval.leakageAudit(aug, folds = 4).orderBy("fold_a", "fold_b")
    }),

    // ---- streaming tier: split-leakage twin (NEW r17) ----
    // q329's (digest, fold, n) cells built by the streaming engine
    // (the q285 digest-cells discipline: mergeable counts through the
    // state store) — the live-ingest monitor that catches fold
    // contamination WHILE documents stream in, not after the split
    // ships. The mirror augmentation happens inside the streaming
    // plan (union of the stream with its own shifted projection);
    // shared FromCells readout, oracle is q329's SQL verbatim.
    // q337 = q329's cells built by the streaming state store (the
    // q285 discipline — one relational truth, two engine paths)
    Query("q337_stream_split_leakage", Oracles.q329SplitLeakage)((s, dir) => {
      val cells = EventStreams.runOnceOnParquet(s,
        s"$dir/documents.parquet",
        df => {
          val d = df.select(col("doc_id"), col("text"))
          val aug = d.unionByName(d.filter(col("doc_id") < 200)
            .select((col("doc_id") + 1000000L).as("doc_id"),
              col("text")))
          Xval.leakageCells(aug, folds = 4)
        },
        s"leak_sink_${System.nanoTime()}")
      Xval.leakageAuditFromCells(cells).orderBy("fold_a", "fold_b")
    }),

    // ---- ops tier: NEAR-DUP split-leakage audit (NEW r17) ----
    // q329's real-world sibling: paraphrase/near-dup groups straddling
    // folds — the contamination that actually inflates evals (an
    // edited copy of a train doc scoring as held-out). The q56/q320
    // cluster build composed with md5Kfold; membership expands through
    // exact digests so CLONES of clustered docs count. Corpus
    // augmented with near-dup mirrors (suffix-edited, q320 pattern)
    // AND exact clones of some mirrored docs (+2e6 ids) — the clone
    // lands in a third fold and must be counted via its digest's rep.
    Query("q330_neardup_split_leakage",
      Oracles.q330NearDupSplitLeakage, headline = true)((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      val aug = d
        .unionByName(d.filter(col("doc_id") < 50)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" via mirror feed")).as("text")))
        .unionByName(d.filter(col("doc_id") < 25)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      Xval.nearDupLeakageAudit(aug, folds = 4, numHashes = 32,
          rowsPerBand = 4, k = 5, threshold = 0.5)
        .orderBy("fold_a", "fold_b")
    }),

    // ---- ops tier: EMBEDDING split-leakage audit (NEW r17) ----
    // The modality q329/q330 cannot reach: SemDeDup components (the
    // q94 within-cell integer-cosine parent pointers, componentized)
    // straddling md5Kfold folds — a paraphrase sharing no 5-gram with
    // its source still leaks through the embedding space. Corpus
    // clone-augmented (vec_id<50 under +1e6 ids, identical vectors →
    // certain semantic dups landing in different folds). Same readout
    // as q330, one code path.
    Query("q338_semantic_split_leakage",
      Oracles.q338SemanticSplitLeakage, headline = true)((s, dir) => {
      val e = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val aug = e.unionByName(e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          col("embedding")))
      Xval.semanticLeakageAudit(aug, folds = 4)
        .orderBy("fold_a", "fold_b")
    }),

    // ---- ops tier: salting plan, the join-skew remedy (NEW r17) ----
    // q328's audit says which keys blow up; this says what to DO: per
    // hot key the exact salt fan-out that brings its worst task under
    // the 256-pair target, the replication rows that costs, and the
    // residual task load — folded to a per-fan-out histogram off the
    // SAME joinSkewCells build (one cells site, audit + remedy).
    Query("q339_salt_plan", Oracles.q339SaltPlan, headline = true)((s, dir) => {
      val li = lineitem(s, dir)
      Validation.saltPlan(li, li, "l_partkey", targetPairs = 256L)
        .orderBy("salt_fanout")
    }),

    // ---- privacy tier: t-closeness audit (NEW r17) ----
    // The triad's third leg after q262 (class size) and q264 (distinct
    // sensitive values): a large, diverse class still leaks if its
    // sensitive DISTRIBUTION deviates — exact Q9 ordered EMD via
    // cross-multiplied integer cumulative counts, the q264 balance
    // bands as the ordered sensitive attribute, t = 0.15.
    Query("q340_t_closeness", Oracles.q340TCloseness, headline = true)((s, dir) => {
      Validation.tClosenessAudit(
        customer(s, dir).withColumn("bal_band", expr(
          "(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            " + 100000) DIV 100000")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band",
        tQ9 = 150000000L)
    }),

    // ---- privacy tier: k-anon suppression ladder (NEW r17) ----
    // The remedy q262's audit demands: at each k on the ladder, what
    // the release loses (groups/rows suppressed, Q6 kept share) and
    // what it then guarantees (min kept class ≥ k; post-suppression
    // re-audit reads zero, spec-gated) — pick k off the curve.
    Query("q341_kanon_suppression",
      Oracles.q341KanonSuppression, headline = true)((s, dir) => {
      Validation.kAnonSuppressionLadder(customer(s, dir),
        Seq("c_nationkey", "c_mktsegment"), Seq(2, 5, 10, 25, 50))
        .orderBy("k")
    }),

    // ---- skew tier: salted equi-join EXECUTION (NEW r17) ----
    // The tier closes: q68 salts aggregations, q328 audits the join,
    // q339 plans it, this RUNS it — every lineitem enriched with its
    // part's line count through the salted (key, salt) join (target 8
    // pairs/task so the plan engages at every sf), then an exact
    // aggregate the oracle reproduces off a PLAIN join: the remedy
    // preserves join semantics row-for-row, hash-gated.
    Query("q343_salted_join", Oracles.q343SaltedJoin, headline = true)((s, dir) => {
      val li = lineitem(s, dir)
      val stats = li.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_lines"))
      val j = Skew.saltedEquiJoin(
        li.select(col("l_partkey"), col("l_returnflag"),
          col("l_quantity")),
        stats, "l_partkey", targetPairs = 8L)
      j.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(expr("CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100" +
            " AS DECIMAL(38,0)) * n_lines AS DECIMAL(38,0))"))
            .cast("long").as("qq_cents"))
        .orderBy("l_returnflag")
    }),

    // ---- xval tier: fold-parity audit (NEW r17) ----
    // The leakage family's complement: not "do folds share content"
    // but "does each fold REPRESENT the corpus" — per fold the exact
    // Q6 worst per-source share deviation and total variation
    // distance vs the corpus mix, over the md5Kfold split.
    Query("q344_fold_parity", Oracles.q344FoldParity, headline = true)((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("source"))
      Xval.foldParityAudit(Xval.md5Kfold(d, 4, "doc_id"), "source")
        .orderBy("fold")
    }),

    // ---- streaming tier: fold-parity twin (NEW r17) ----
    // q344's (fold, source) cells built by the streaming engine — the
    // live split monitor next to q337's leakage monitor: fold and
    // composition checked WHILE documents stream in. Shared FromCells
    // readout, oracle is q344's SQL verbatim.
    // q346 = q344's cells built by the streaming state store (the
    // q337/q342 discipline — one relational truth, two engine paths)
    Query("q346_stream_fold_parity", Oracles.q344FoldParity)((s, dir) => {
      val cells = EventStreams.runOnceOnParquet(s,
        s"$dir/documents.parquet",
        df => Xval.foldParityCells(
          Xval.md5Kfold(df.select(col("doc_id"), col("source")), 4,
            "doc_id"), "source"),
        s"fparity_sink_${System.nanoTime()}")
      Xval.foldParityFromCells(cells).orderBy("fold")
    }),

    // ---- xval tier: stratified parity remedy (NEW r17) ----
    // The remedy q344's audit points at: stratify on the attribute you
    // need represented. stratifiedKfold (md5-ordered, layout-
    // independent) on source, then the SAME parity readout — per-fold
    // TVD collapses to the integer-remainder floor by construction.
    Query("q347_stratified_parity",
      Oracles.q347StratifiedParity, headline = true)((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("source"))
      Xval.foldParityAudit(
        Xval.stratifiedKfold(d, 4, "source", seed = 0,
          keyCol = Some("doc_id")), "source")
        .orderBy("fold")
    }),

    // ---- ops tier: ingest-freshness audit (NEW r17) ----
    // The first page of the pipeline dashboard: per event type the lag
    // vs the global newest minute and trailing-vs-previous 60-minute
    // window counts (Q6 ratio) — stalls and slowdowns as exact
    // integers off (type, minute) cells, one partial-agg'd scan.
    Query("q348_freshness", Oracles.q348Freshness, headline = true)((s, dir) => {
      Timeseries.freshnessAudit(events(s, dir), windowMinutes = 60)
        .orderBy("event_type")
    }),

    // ---- streaming tier: freshness twin (NEW r17) ----
    // q348's (type, minute) cells built by the streaming engine — the
    // natural home for a freshness monitor (lag read live off the
    // ingest stream); shared FromCells readout, oracle is q348's SQL
    // verbatim.
    // q349 = q348's cells built by the streaming state store (the
    // q346 discipline — one relational truth, two engine paths)
    Query("q349_stream_freshness", Oracles.q348Freshness)((s, dir) => {
      val cells = EventStreams.runOnceOnParquet(s,
        s"$dir/events.parquet",
        df => Timeseries.freshnessCells(df),
        s"fresh_sink_${System.nanoTime()}")
      Timeseries.freshnessFromCells(cells, windowMinutes = 60)
        .orderBy("event_type")
    }),

    // ---- xval tier: semantic fold parity (NEW r17) ----
    // The parity family's third modality (q344 counts, q347 remedy,
    // this: embedding distribution): cosine between each fold's int8
    // centroid and every other fold's + the corpus ('_all') — q193's
    // exact-integer-sums machinery over the md5Kfold split.
    Query("q350_semantic_fold_parity",
      Oracles.q350SemanticFoldParity, headline = true)((s, dir) => {
      val e = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      Xval.semanticFoldParity(Xval.md5Kfold(e, 4, "vec_id"))
        .orderBy("label_a", "label_b")
    }),

    // ---- privacy tier: t-closeness worst classes (NEW r17) ----
    // The per-class attribution q340's 1-row readout hides: WHICH
    // quasi-classes carry the distributional leak — top 10 by Q9 EMD,
    // ties on the quasi tuple. The remediation worklist.
    Query("q352_t_closeness_classes",
      Oracles.q352TClosenessClasses, headline = true)((s, dir) => {
      val cells = Validation.tClosenessCells(
        customer(s, dir).withColumn("bal_band", expr(
          "(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            " + 100000) DIV 100000")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band")
      Validation.tClosenessByClass(cells,
        Seq("c_nationkey", "c_mktsegment"), k = 10)
    }),

    // ---- curation tier: SEMANTIC decontamination (NEW r18) ----
    // The q338 move applied to benchmarks: the lexical decontaminate
    // tier (q75 exact n-grams, q208 fuzzy, q216 streaming) misses
    // paraphrased eval items; here corpus ∪ re-keyed benchmark ride
    // ONE q94 cell assignment and a corpus vector is contaminated iff
    // a same-cell benchmark vector passes the integer-rational cosine
    // threshold — benchmark side broadcast (the q75 discipline).
    // Fixture: every 7th embedding re-keyed +1e12 (above any ScaleUp
    // clone id) as the "benchmark",
    // so contamination is guaranteed by construction and the verdict
    // columns (hit id, count) are hash-gated.
    Query("q353_semantic_decontaminate",
      Oracles.q353SemanticDecontaminate, headline = true)((s, dir) => {
      val e = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val bench = e.filter(col("vec_id") % 7 === 3)
        .select((col("vec_id") + 1000000000000L).as("vec_id"), col("embedding"))
      Similarity.semanticDecontaminate(e, bench).orderBy("vec_id")
    }),

    // ---- embedding tier: IVF staleness audit (NEW r17) ----
    // The serving-index question between rebuilds: train on the 80%
    // base (vec_id % 5 != 0), route the 20% appendix to the FROZEN
    // centroids, read per-cell growth + the imbalance factor before
    // vs after — the re-index trigger as a number.
    Query("q351_ivf_staleness", Oracles.q351IvfStaleness, headline = true)((s, dir) => {
      val e = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      Similarity.ivfStalenessAudit(
        e.filter(col("vec_id") % 5 =!= 0),
        e.filter(col("vec_id") % 5 === 0))
        .orderBy("cell")
    }),

    // ---- privacy tier: generalization ladder (NEW r17) ----
    // The OTHER k-anon remedy axis (q341 drops rows; this drops
    // columns): the release audited at every rollup level of the
    // quasi tuple in ONE scan — the first zero-violation level is the
    // minimum generalization, its class collapse the utility price.
    Query("q345_kanon_generalization",
      Oracles.q345KanonGeneralization, headline = true)((s, dir) => {
      Validation.kAnonGeneralizationLadder(customer(s, dir),
        Seq("c_nationkey", "c_mktsegment"), k = 10)
        .orderBy("level")
    }),

    // ---- streaming tier: t-closeness twin (NEW r17) ----
    // q340's (class × band) cells built by the streaming engine (the
    // q290 state-store path — the live release monitor), shared
    // FromCells readout, oracle is q340's SQL verbatim.
    // q342 = q340's cells built by the streaming state store (the
    // q290 discipline — one relational truth, two engine paths)
    Query("q342_stream_t_closeness", Oracles.q340TCloseness)((s, dir) => {
      val cells = EventStreams.runOnceOnParquet(s,
        s"$dir/customer.parquet",
        df => Validation.tClosenessCells(df.withColumn("bal_band", expr(
            "(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
              " + 100000) DIV 100000")),
          Seq("c_nationkey", "c_mktsegment"), "bal_band"),
        s"tclose_sink_${System.nanoTime()}")
      Validation.tClosenessFromCells(cells,
        Seq("c_nationkey", "c_mktsegment"), tQ9 = 150000000L)
    }),

    // ---- ops tier: dedup-aware k-fold, exact tier (NEW r17) ----
    // The remedy q329's audit demands: fold on the CONTENT digest, so
    // exact-dup groups land whole in one fold. Gate: the same
    // leakageAuditOn that catches q329's straddle reads ZERO rows here
    // (n_leaks cross-joined onto the fold histogram so the zero is
    // hash-gated, not just asserted). Same augmented corpus as q329.
    Query("q331_dedup_aware_kfold", Oracles.q331DedupAwareKfold)((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      val aug = d.unionByName(d.filter(col("doc_id") < 200)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val split = Xval.dedupAwareKfold(
        aug.filter(col("text").isNotNull), folds = 4)
      val hist = split.groupBy(col("fold").cast("long").as("fold"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_groups"))
      hist.crossJoin(Xval.leakageAuditOn(split).agg(count(lit(1)).as("n_leaks")))
        .orderBy("fold")
    }),

    // ---- ops tier: dedup-aware k-fold, near-dup tier (NEW r17) ----
    // q330's remedy: fold on the near-dup cluster representative
    // (c#<cluster> / d#<digest> group keys), so BOTH audits — exact
    // digests and near-dup clusters, same LSH parameters — read ZERO
    // rows over the split by construction; both zeros ride the output
    // (hash-gated). Same augmented corpus as q330.
    Query("q332_neardup_aware_kfold",
      Oracles.q332NearDupAwareKfold, headline = true)((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      val aug = d
        .unionByName(d.filter(col("doc_id") < 50)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" via mirror feed")).as("text")))
        .unionByName(d.filter(col("doc_id") < 25)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
        .filter(col("text").isNotNull)
      // ONE LSH+cluster build (nearDupGroupMap, materialized) feeds
      // the remedy and the audit — the btGames one-build-site rule
      val gmap = Some(Dedup.materialize(Xval.nearDupGroupMap(aug,
        numHashes = 32, rowsPerBand = 4, k = 5, threshold = 0.5)))
      // split materialized too: three consumers (histogram + both
      // audits) otherwise re-run the digest join per subtree
      val split = Dedup.materialize(
        Xval.nearDupAwareKfold(aug, folds = 4, numHashes = 32,
          rowsPerBand = 4, k = 5, threshold = 0.5, groupMap = gmap))
      val hist = split.groupBy(col("fold").cast("long").as("fold"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_groups"))
      hist
        .crossJoin(Xval.nearDupLeakageAuditOn(split, numHashes = 32,
            rowsPerBand = 4, k = 5, threshold = 0.5, groupMap = gmap)
          .agg(count(lit(1)).as("n_neardup_leaks")))
        .crossJoin(Xval.leakageAuditOn(split).agg(count(lit(1)).as("n_exact_leaks")))
        .orderBy("fold")
    }),

    // ---- corpus-curation tier: mixture feasibility (NEW r17) ----
    // q326 × q318 composed: the sweep says what mixture each α
    // implies; this says which α points a token budget can actually
    // FUND under the ≤4-epoch repetition cap — per (α, source) the
    // implied demand, forced epochs, cap breach and shortfall; per α
    // the feasible verdict and total shortfall. Same domainTokenCells
    // collapse as q326, everything downstream exact integers.
    Query("q333_mixture_feasibility",
      Oracles.q333MixtureFeasibility, headline = true)((s, dir) =>
      Sampling.mixtureFeasibility(documents(s, dir),
          budgetTokens = 10000000L, maxEpochsQ3 = 4000)
        .orderBy(col("alpha_q3").desc, col("source"))),

    // ---- export tier: shard-skew preflight (NEW r17) ----
    // q328's pre-flight discipline applied to the training-export
    // write: per planned shard (the q115 permutation, BEFORE any
    // bytes move) rows + token load vs the mean, flagged outside
    // ±10% — the stalled-reader predictor. n_rows ties to q115's
    // manifest exactly (spec-asserted).
    Query("q334_shard_skew_preflight",
      Oracles.q334ShardSkewPreflight, headline = true)((s, dir) =>
      graft.sources.TrainingExport.shardSkewPreflight(
          documents(s, dir), rowsPerShard = 64, seed = 11)
        .orderBy("shard")),

    // ---- corpus-curation tier: anneal-phase mixture plan (NEW r17) ----
    // The two-phase schedule the open pretraining recipes converge on
    // (MiniCPM/OLMo-style decay-phase re-mixing): 90% of the budget at
    // the natural mix, the final 10% flattened at α=¼ so low-resource
    // sources are up-weighted in the anneal; the epoch cap binds on
    // each source's TOTAL reuse across phases. q333's arithmetic with
    // a phase dimension, same domainTokenCells collapse.
    Query("q336_anneal_mixture_plan",
      Oracles.q336AnnealMixturePlan, headline = true)((s, dir) =>
      Sampling.annealMixturePlan(documents(s, dir),
          budgetTokens = 10000000L,
          phases = Seq(("main", 900L, 1000L), ("anneal", 100L, 250L)),
          maxEpochsQ3 = 4000)
        .orderBy("phase", "source")),

    // ---- export tier: token-balanced shard plan (NEW r17) ----
    // q334's remedy: shard boundaries on exact token-budget marks
    // (two-phase prefix sum over the same seeded permutation) instead
    // of row counts — every non-tail shard reads load_q6 ≈ 10⁶ and
    // the preflight's flags vanish; same readout as q334 so audit and
    // remedy are comparable number for number.
    Query("q335_token_shard_plan",
      Oracles.q335TokenShardPlan, headline = true)((s, dir) =>
      graft.sources.TrainingExport.tokenShardPlan(
          documents(s, dir), tokensPerShard = 20000L, seed = 11)
        .orderBy("shard")),

    // ---- ops tier: join-skew preflight (NEW r16) ----
    // "Will this join explode, and on which keys" — the EXACT per-key
    // pair table a pipeline reads before a big equi-join (the q178/
    // q208 clone-saturation class this predicts): per-key left/right
    // multiplicities collapse map-side, top-k keys by pair product
    // via the bounded native aggregate, total output size + Q6 skew
    // factor broadcast on every row. Complements q161's one-pass CMS
    // estimate with exact per-key attribution.
    Query("q328_join_skew_preflight",
      Oracles.q328JoinSkewPreflight, headline = true)((s, dir) => {
      val li = lineitem(s, dir)
      Validation.joinSkewPreflight(li, li, "l_partkey", k = 10)
        .orderBy("rank")
    }),

    // ---- streaming tier: temperature-sweep twin (NEW r16) ----
    // q326's α-grid read off cells built by the streaming engine (the
    // q280 state-store path — the live ingest monitor a curator reads
    // the flattening curve from); shared FromCells readout, oracle is
    // q326's SQL verbatim.
    // q327 = q326's cells built by the streaming state store (the
    // q280 discipline — one relational truth, two engine paths)
    Query("q327_stream_temperature_sweep", Oracles.q326TemperatureSweep)((s, dir) => {
      val cells = EventStreams.runOnceOnParquet(s,
        s"$dir/documents.parquet",
        df => Sampling.domainTokenCells(df),
        s"tsweep_sink_${System.nanoTime()}")
      Sampling.temperatureSweepFromCells(cells)
        .orderBy(col("alpha_q3").desc, col("source"))
    }),

    // ---- preference tier: rating confidence (NEW r16) ----
    // The ±CI next to q310's score: asymptotic Fisher information of
    // each item's log-rating at the fitted ratings (exact Q12 cells)
    // and se = 1/sqrt(I) in Q6 via the native floor-isqrt — the
    // leaderboard's error bar, same game cells as the rating itself.
    Query("q325_bt_confidence", Oracles.q325BtConfidence, headline = true)((s, dir) =>
      Analytics.bradleyTerryConfidence(supplierWins(s, dir), rounds = 6)
        .orderBy("item")),

    // ---- preference tier: win-rate matrix + Wilson (NEW r14) ----
    // The arena dashboard behind q310's scalar rating: per unordered
    // pair the games, a-wins, Q6 win rate, and the q194 Wilson Q9
    // lower bound (2-0 records read LOW, not 100%).
    Query("q311_win_rate_matrix", Oracles.q311WinRateMatrix)((s, dir) =>
      Analytics.winRateMatrix(supplierWins(s, dir))
        .orderBy("item_a", "item_b")),

    // ---- packing tier: sequence-length profile (NEW r14) ----
    // Dyadic octave histogram of per-doc whitespace token counts (the
    // q241 sketch over the q79 convention) — the corpus length SHAPE
    // q303's budget costs are read against.
    Query("q313_seq_len_profile", Oracles.q313SeqLenProfile)((s, dir) =>
      graft.operators.Sketches.dyadicHistogram(
          documents(s, dir).select(greatest(lit(0L), coalesce(
            TextAnalysis.tokenCountWs(col("text")).cast("long"),
            lit(0L))).as("n_tok")),
          "n_tok")
        .orderBy("oct", "cell")),

    // ---- corpus-curation tier: per-language token budget (NEW r14) ----
    // q299's budget question in LANGUAGE space (domains mix languages;
    // a multilingual mixture is planned per language) — q23's langId
    // heuristic crosstabbed with bytes + q79 whitespace tokens.
    Query("q314_lang_token_budget", Oracles.q314LangTokenBudget)((s, dir) =>
      TextAnalysis.langTokenBudget(documents(s, dir))
        .orderBy("lang_pred")),

    // ---- ANN tier: IVF serving-parameter planner (NEW r15) ----
    // The nProbe price curve: recall@5 vs brute truth AND rows-scanned
    // share per probe count, from ONE index build + ONE scoring pass
    // at max(nProbes) — q291 audits one operating point, this sweeps
    // the knob a serving team actually sets.
    Query("q315_ivf_probe_plan",
      Oracles.q315IvfProbePlan, headline = true)((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.ivfProbePlan(e, e.filter(col("vec_id") < 20), k = 5,
          nProbes = Seq(1, 2, 4, 8), nCells = 16, iters = 2)
        .orderBy("n_probe")
    }),

    // ---- ANN tier: PQ refine-depth planner (NEW r15) ----
    // q315's discipline on the refine knob: recall@5 vs exact-L2
    // truth + exact-rescore cost per refine factor, from ONE ADC pass
    // at the deepest shortlist (ADC ranks nest) + ONE broadcast
    // re-score + ONE heap-bounded truth pass.
    Query("q319_pq_refine_plan",
      Oracles.q319PqRefinePlan, headline = true)((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.pqRefinePlan(e, e.filter(col("vec_id") < 20), k = 5,
          refineFactors = Seq(1, 2, 4, 8), m = 8, ksub = 16, iters = 2)
        .orderBy("refine_factor")
    }),

    // ---- dedup tier: threshold-sensitivity table (NEW r15) ----
    // "How much does each Jaccard cutoff bite?" — exact pair counts,
    // groups and docs touched per τ, all read off ONE collapsed
    // pair join at τ_min (the q207 duplicate-saturation-proof path).
    Query("q316_dedup_threshold_sweep",
      Oracles.q316DedupThresholdSweep, headline = true)((s, dir) =>
      Dedup.dedupThresholdSweep(documents(s, dir),
          taus = Seq(0.7, 0.8, 0.9, 0.95, 1.0))
        .orderBy("tau_q6")),

    // ---- streaming tier: preference win-matrix twin (NEW r15) ----
    // q311's win table built by the streaming engine: per-order line
    // buffers in the state store re-derive the order's directed win
    // pairs each trigger (the q281 emit-counter discipline — a late
    // line adds pairs against every buffered line, so only a
    // re-derive equals batch under arbitrary arrival order); consumer
    // keeps max-emit per order, sums (winner, loser) cells, reads out
    // through the SHARED winRateMatrix — oracle is q311's SQL verbatim.
    // q317 = q311's win table built by the streaming state store (the
    // q281 emit-counter discipline — one relational truth, two paths)
    Query("q317_stream_win_matrix", Oracles.q311WinRateMatrix)((s, dir) => {
      val emitted = EventStreams.runOnceOnParquet(s,
        s"$dir/lineitem.parquet",
        df => EventStreams.winPairsStream(s,
          df.filter(col("l_suppkey") <= 100)),
        s"win_sink_${System.nanoTime()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
      // the sticky `truncated` contract (r16 ADVICE): a capped order's
      // counts diverge from batch truth, so the consumer DROPS the
      // key (the flag is sticky, so the max-emit row carries the
      // order's ever-truncated status) — never reads an undercount as
      // final. No-op on this data (orders have ≤7 lines vs the cap).
      val wins = emitted
        .withColumn("_mx", max("emit").over(
          Window.partitionBy("l_orderkey")))
        .filter(col("emit") === col("_mx") && !col("truncated"))
        .groupBy("winner", "loser").agg(sum("n").as("n"))
      Analytics.winRateMatrix(wins).orderBy("item_a", "item_b")
    }),

    // ---- dedup tier: cluster domain-spread histogram (NEW r15) ----
    // WHAT KIND of duplication: near-dup clusters confined to one
    // domain are template/boilerplate; clusters spanning domains are
    // syndication/mirrors (the near-dup complement to q307's exact
    // matrix). Corpus mirror-augmented with EDITED copies (suffix
    // appended) so they survive the exact collapse — the q307
    // augmentation pattern, near-dup edition.
    Query("q320_dup_cluster_domains",
      Oracles.q320DupClusterDomains, headline = true)((s, dir) => {
      val d = documents(s, dir)
      val aug = d.select(col("doc_id"), col("source"), col("text"))
        .unionByName(d.filter(col("doc_id") < 50)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            lit("mirror").as("source"),
            concat(col("text"), lit(" via mirror feed")).as("text")))
      Dedup.dupClusterDomains(aug, numHashes = 32, rowsPerBand = 4,
          k = 5, threshold = 0.5)
        .orderBy("n_domains")
    }),

    // ---- corpus-curation tier: mixture-epochs planner (NEW r15) ----
    // The repetition audit after q265's rate plan: with this target mix
    // and token budget, how many epochs must each source repeat (exact
    // BPE supply from the q299 cells), who exceeds the ~4-epoch
    // data-constrained cap, and what shortfall the cap leaves.
    Query("q318_epochs_plan",
      Oracles.q318EpochsPlan(
        (0 until 20).map(i => (s"src$i", if (i < 10) 80L else 20L)),
        budgetTokens = 200000L, maxEpochsQ3 = 4000L),
      headline = true)((s, dir) => {
      val targets = (0 until 20).map(i =>
        (s"src$i", if (i < 10) 80L else 20L))
      TextAnalysis.epochsPlan(documents(s, dir), targets,
          budgetTokens = 200000L, maxEpochsQ3 = 4000L)
        .orderBy("source")
    }),

    // ---- preference tier: Condorcet cycle audit (NEW r14) ----
    // Among triples with three strict-majority edges, the share
    // forming a directed 3-cycle — intransitive preference data means
    // q310's scalar rating is averaging away real structure.
    Query("q312_preference_cycles", Oracles.q312PreferenceCycles)((s, dir) =>
      Analytics.preferenceCycles(supplierWins(s, dir))),

    // ---- preference tier: inter-rater agreement (NEW r16) ----
    // Does the panel measure ONE thing? Cohen's κ per judge pair +
    // Krippendorff's α overall, chance-corrected, over per-judge NET
    // verdicts on supplier pairs (panel = orderkey mod 8, the q310
    // contest universe; exact ties abstain). κ is a single exact
    // integer ratio — num/den, no intermediate rounding — read out in
    // signed Q6 via positive floor division (engine-identical on
    // Spark DIV vs DuckDB //).
    Query("q321_judge_agreement",
      Oracles.q321JudgeAgreement, headline = true)((s, dir) =>
      Analytics.judgeAgreement(judgedSupplierWins(s, dir))
        .orderBy("judge_a", "judge_b")),

    // ---- preference tier: per-judge consensus bias (NEW r16) ----
    // q321 says whether the panel coheres; this names the outlier:
    // each judge's agreement with the LEAVE-ONE-OUT panel majority
    // (own vote excluded), Wilson-lower-bounded so thin records read
    // low — the judge-QA table an arena reads before weighting votes.
    Query("q323_judge_bias", Oracles.q323JudgeBias, headline = true)((s, dir) =>
      Analytics.judgeConsensusBias(judgedSupplierWins(s, dir))
        .orderBy("judge")),

    // ---- streaming tier: judge-bias twin (NEW r16) ----
    // q323's judged win cells built by the streaming engine: the q317
    // winPairsStream emits per-order pair counts; the consumer keeps
    // max-emit per order, derives the judge key (orderkey mod 8 — a
    // pure function of the stream key, so it needs no extra state),
    // sums (judge, winner, loser) cells, and reads them out through
    // the SHARED judgeConsensusBias — oracle is q323's SQL verbatim.
    // q324 = q323's judged wins built by the streaming state store
    // (the q317 discipline — one relational truth, two engine paths)
    Query("q324_stream_judge_bias", Oracles.q323JudgeBias)((s, dir) => {
      val emitted = EventStreams.runOnceOnParquet(s,
        s"$dir/lineitem.parquet",
        df => EventStreams.winPairsStream(s,
          df.filter(col("l_suppkey") <= 100)),
        s"jbias_sink_${System.nanoTime()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
      // sticky-truncated contract: drop ever-capped orders (see q317)
      val wins = emitted
        .withColumn("_mx", max("emit").over(
          Window.partitionBy("l_orderkey")))
        .filter(col("emit") === col("_mx") && !col("truncated"))
        .groupBy(pmod(col("l_orderkey"), lit(8)).as("judge"),
          col("winner"), col("loser"))
        .agg(sum("n").as("n"))
      Analytics.judgeConsensusBias(wins).orderBy("judge")
    }),

    // ---- streaming tier: EMD drift via state store (NEW r11) ----
    // q252's cells built by the streaming engine (the q205 discipline:
    // one cell builder, two engine paths), batch EMD readout — the
    // oracle is q252's SQL verbatim.
    Query("q255_stream_emd", Oracles.q252EmdDrift)((s, dir) => {
      val cells = EventStreams.runOnceOnParquet(s, s"$dir/events.parquet",
        df => Analytics.chisqCells(
          df.withColumn("hour",
            pmod(expr("unix_micros(ts) DIV 3600000000"), lit(24))),
          "hour",
          pmod(expr("unix_micros(ts) DIV 86400000000"), lit(2)) === 1),
        s"emd_sink_${System.nanoTime()}")
      Analytics.emdFromCells(cells)
    }),

    // ---- validation tier: robust outlier profile (NEW r11) ----
    // q237's median/MAD broadcast back over the rows: modified z-score
    // flags (k=3) per priority, exact Q9 outlier rate.
    Query("q256_robust_outliers", Oracles.q256RobustOutliers)((s, dir) => {
      Analytics.robustOutliers(orders(s, dir), "o_orderpriority",
          "o_totalprice", k = 3)
        .orderBy("o_orderpriority")
    }),

    // ---- ML-eval tier: Cohen's kappa (NEW r11) ----
    // Chance-corrected agreement between the labeled lang column and
    // the q23 langid heuristic — the annotator-QA readout; signed Q9
    // floor (pmod form = DuckDB //).
    Query("q257_cohen_kappa", Oracles.q257CohenKappa)((s, dir) => {
      val d = documents(s, dir).select(col("lang"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
      Analytics.cohenKappa(d, "lang", "lang_pred")
    }),

    // ---- analytics tier: ABC / Pareto classes (NEW r11) ----
    // Parts by revenue, 80/95 permille cuts on the exact two-phase
    // running total — which SKUs carry the corpus.
    Query("q258_abc_classes", Oracles.q258AbcClasses)((s, dir) => {
      val rev = lineitem(s, dir).groupBy("l_partkey")
        .agg(sum(col("l_extendedprice").cast("decimal(18,4)")).as("rev"))
      Analytics.abcClassification(rev, "l_partkey", "rev")
        .orderBy("abc_class")
    }),

    // ---- analytics tier: log-rank test (NEW r11) ----
    // q201's censored lifetimes split into odd/even user arms: the
    // two-cohort survival comparison as floor-per-term Q9 integers.
    Query("q259_log_rank", Oracles.q259LogRank)((s, dir) => {
      val ev = events(s, dir)
        .withColumn("day", expr("unix_micros(ts) DIV 86400000000"))
      val life = ev.groupBy("user_id")
        .agg((max("day") - min("day")).as("lifetime"),
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("event"))
      Analytics.logRank(life, "lifetime", "event",
        pmod(col("user_id"), lit(2)) === 1)
    }),

    // ---- ML-eval tier: exact ROC AUC (NEW r11) ----
    // "Does price rank return-orders above clean ones" — the tie-aware
    // rank-sum AUC as one exact Q9 integer. Cells per distinct score,
    // two-phase bucketed cumsum, no global window.
    Query("q250_auc_exact", Oracles.q250AucExact)((s, dir) => {
      val ret = lineitem(s, dir).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("_rk")).distinct()
      val d = orders(s, dir).join(ret, col("o_orderkey") === col("_rk"),
        "left")
      Analytics.aucExact(d, "o_totalprice", col("_rk").isNotNull)
    }),

    // ---- ML-eval tier: decile lift & gains (NEW r11) ----
    // Rank-determined score deciles (descending, o_orderkey tiebreak):
    // per-decile population/positives/rate plus cumulative capture and
    // lift, all exact Q9 floor divisions.
    Query("q251_decile_lift", Oracles.q251DecileLift)((s, dir) => {
      val ret = lineitem(s, dir).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("_rk")).distinct()
      val d = orders(s, dir).join(ret, col("o_orderkey") === col("_rk"),
        "left")
      Analytics.decileLift(d, "o_totalprice", "o_orderkey",
          col("_rk").isNotNull)
        .orderBy("decile")
    }),

    // ---- validation tier: 1-D EMD drift (NEW r11) ----
    // Wasserstein-1 between odd- and even-day hour-of-day histograms —
    // the adjacency-aware companion to q202's PSI. Post-1970 data
    // invariant (truncating DIV = floor), the q196/q201 convention.
    Query("q252_emd_drift", Oracles.q252EmdDrift)((s, dir) => {
      val ev = events(s, dir)
        .withColumn("hour",
          pmod(expr("unix_micros(ts) DIV 3600000000"), lit(24)))
      Analytics.emdDrift(ev, "hour",
        pmod(expr("unix_micros(ts) DIV 86400000000"), lit(2)) === 1)
    }),

    // ---- ML-eval tier: transition top-k (NEW r11) ----
    // First-order Markov transition table over user event streams:
    // per source type the top-3 next types with exact Q9 probability.
    Query("q253_transitions", Oracles.q253Transitions)((s, dir) => {
      Analytics.transitionTopK(events(s, dir)).orderBy("src", "rank")
    }),

    // ---- ML-eval tier: per-segment exact AUC (NEW r11) ----
    // q250 within each order priority — the per-cohort ranker check;
    // grouped cells + per-group cumsum window (groups parallelize).
    Query("q254_auc_by_group", Oracles.q254AucByGroup)((s, dir) => {
      val ret = lineitem(s, dir).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("_rk")).distinct()
      val d = orders(s, dir).join(ret, col("o_orderkey") === col("_rk"),
        "left")
      Analytics.aucByGroup(d, "o_orderpriority", "o_totalprice",
          col("_rk").isNotNull)
        .orderBy("o_orderpriority")
    }),

    // ---- graph tier: recommender holdout evaluation (NEW r11) ----
    // The q157 co-occurrence recommender evaluated properly: temporal
    // 80/20 basket split, train-side item-item counts, top-5 per
    // customer, hit-rate + integer-MRR against held-out purchases.
    Query("q249_rec_eval", Oracles.q249RecEval)((s, dir) => {
      val b = lineitem(s, dir)
        .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("l_orderkey"), col("l_partkey"),
          expr("unix_micros(o_orderdate) DIV 86400000000").as("day"))
      Graphs.recHoldoutEval(b, "o_custkey", "l_orderkey", "l_partkey",
        "day", topK = 5)
    }),

    // ---- curation tier: greedy set-cover selection (NEW r11) ----
    // The (1-1/e) coverage greedy: 8 picks, each the doc adding the
    // most uncovered distinct tokens — high-coverage eval-set
    // assembly. Rounds are bounded; each is one token-keyed anti-join,
    // argmax through the native top-1 aggregate.
    Query("q248_set_cover", Oracles.q248SetCover)((s, dir) => {
      Curation.greedySetCover(documents(s, dir), k = 8).orderBy("round")
    }),

    // ---- embedding tier: anisotropy profile (NEW r11) ----
    // ABTT diagnostic on top of q233's axis: each vector's squared
    // cosine to the dominant direction in Q6 — the mean says whether
    // this space needs mean-centering before cosine retrieval. One
    // extra map pass with w as 64 literals.
    Query("q247_anisotropy", Oracles.q247Anisotropy)((s, dir) => {
      graft.operators.Embeddings.anisotropyProfile(
          embeddings(s, dir), dim = 64, rounds = 8)
        .orderBy("vec_id")
    }),

    // ---- layout tier: rendezvous shard migration (NEW r11) ----
    // Consistent-hashing resize 16 -> 20 shards via highest-random-
    // weight: only rows whose argmax lands on a NEW shard move
    // (~(20-16)/20 of the corpus), vs a ~15/16 reshuffle under mod-k.
    // splitmix64 runs as a codegen'd native expression (the Column
    // form would trip ANSI overflow on the wrapping multiplies).
    Query("q246_shard_migration",
      Oracles.q246ShardMigration, headline = true)((s, dir) => {
      graft.operators.Layout.shardMigration(
          documents(s, dir), "doc_id", kFrom = 16, kTo = 20)
        .orderBy("shard")
    }),

    // ---- feature tier: equi-frequency binning (NEW r11) ----
    // Decile discretization of order totals: rank-determined bin
    // populations, exact [min,max] edge table — what a scorer
    // broadcast-joins to bin unseen rows.
    Query("q245_equifreq_bins", Oracles.q245EquifreqBins)((s, dir) => {
      Analytics.equiFrequencyBins(orders(s, dir), "o_totalprice", bins = 10)
        .orderBy("bin")
    }),

    // ---- feature tier: smoothed target encoding (NEW r11) ----
    // Category -> shrunk mean target (m=10 pseudo-observations of the
    // global mean), the leakage-prone ML step done exactly: one
    // integer formula, no float means.
    Query("q244_target_encode", Oracles.q244TargetEncode)((s, dir) => {
      Analytics.targetEncode(lineitem(s, dir), "l_returnflag",
          "l_extendedprice", m = 10)
        .orderBy("l_returnflag")
    }),

    // ---- feature tier: point-in-time features (NEW r11) ----
    // Feature-store materialization: per click, the user's 7-day
    // spend / event count / purchase recency AS OF the click — RANGE
    // frames anchored at event time make future leakage impossible by
    // construction. One per-user window computes all three.
    Query("q243_pit_features", Oracles.q243PitFeatures, headline = true)((s, dir) => {
      graft.operators.Features.pointInTimeFeatures(events(s, dir))
        .orderBy("user_id", "us", "event_id")
    }),

    // ---- sketch tier: dyadic-histogram quantiles (NEW r11) ----
    // HdrHistogram/DDSketch-style mergeable (octave, cell) table —
    // ≤ 64·8 cells of state at any corpus size — with p50/p90/p99 read
    // out as bracketing [lo, hi) edges: relative error ≤ 1/8 by
    // construction, every step exact integer.
    Query("q241_dyadic_quantiles",
      Oracles.q241DyadicQuantiles, headline = true)((s, dir) => {
      val v = lineitem(s, dir).select(
        (col("l_extendedprice").cast("decimal(18,4)") * 10000)
          .cast("long").as("v"))
      Sketches.dyadicQuantiles(
          Sketches.dyadicHistogram(v, "v"),
          Seq((1, 2, "p50"), (9, 10, "p90"), (99, 100, "p99")))
        .orderBy("pct")
    }),

    // ---- streaming tier: state-store EWMA chart (NEW r11) ----
    // q235's recurrence through flatMapGroupsWithState — two longs of
    // state per key — sharing q235's oracle verbatim: one relational
    // truth, two engine paths (batch array walk, streaming state).
    // streaming twin: same truth, state-store path
    Query("q240_stream_ewma", Oracles.q235EwmaChart)((s, dir) => {
      EventStreams.runOnceOnParquet(s, s"$dir/events.parquet",
        df => EventStreams.ewmaChartStream(s, df, alphaDen = 8, relDen = 4),
        s"ewma_sink_${System.nanoTime()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy("event_type", "day")
    }),

    // ---- multimodal tier: perceptual image dedup (NEW r11) ----
    // dHash over the decoded 9x8 grid (fake-decode LCG pixels on the
    // synthetic payloads; real codecs on real images), identical
    // hashes grouped — the exact-dedup shape with a perceptual key.
    // Oracle replays byte fold -> LCG walk -> float grays -> 64
    // gradient bits -> 32-bit halves.
    // every 10th doc re-ingested under a shifted id (the q119 crawl
    // view) so the grouping path is live: those pairs MUST collapse
    Query("q219_perceptual_dedup", Oracles.q219PerceptualDedup)((s, dir) => {
      val d = documents(s, dir)
        .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
      val reingested = d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 100000)
      Multimodal.perceptualDedup(d.unionByName(reingested))
        .orderBy("keep_id")
    }),

    // ---- north star: duplicate-ngram repetition filter (Gopher-style) ----
    Query("q71_repetition", Oracles.q71Repetition)((s, dir) => {
      // _ws AND _ng materialized: inline, this query built the 3-gram
      // string array FOUR times (size + distinct + twice inside the
      // ratio), each build itself tokenizing twice — 8 corpus regex
      // splits per row (HOFs sit outside codegen CSE)
      documents(s, dir)
        .withColumn("_ws", TextAnalysis.words(col("text")))
        .withColumn("_ng", TextAnalysis.wordNgramsFromWords(col("_ws"), 3))
        .select(col("doc_id"),
          size(col("_ng")).cast("long").as("n_3grams"),
          size(array_distinct(col("_ng"))).cast("long")
            .as("distinct_3grams"),
          TextAnalysis.repetitionRatioFromNgrams(col("_ng"))
            .as("rep_ratio"))
        .orderBy("doc_id")
    }),

    // ---- §2.4 salted two-phase aggregation (skew guard) ----
    // DECIMAL partials make the aggregate exact and therefore
    // salting-order-independent — the salted plan must equal a plain
    // GROUP BY bit-for-bit, which the oracle checks.
    Query("q68_salted_agg", Oracles.q68SaltedAgg)((s, dir) => {
      val li = lineitem(s, dir)
        .withColumn("qty_dec", col("l_quantity").cast("decimal(18,4)"))
      graft.operators.Skew.saltedAgg(li, "l_suppkey", saltBuckets = 32,
          partials = Seq(sum("qty_dec").as("_psum"), count(lit(1)).as("_pn")),
          merges = Seq(sum("_psum").as("_sum"), sum("_pn").as("n")))
        .select(col("l_suppkey"), col("_sum").cast("double").as("sum_qty"),
          col("n"))
        .orderBy("l_suppkey")
    }),

    // ---- §2.9 streaming dedup within the watermark horizon ----
    // The bounded source is self-unioned so every event arrives twice;
    // dropDuplicatesWithinWatermark must emit each event_id once.
    Query("q69_stream_dedup", Oracles.q69StreamDedup)((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      EventStreams.runOnceOnParquet(s, s"$dir/events.parquet",
          df => {
            val e = Tables.normalizeTs(df)
            EventStreams.dedupStream(e.union(e), "10 minutes")
              .select(col("event_id"), col("event_type"))
          },
          s"dedup_sink_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy("event_id")
    }),

    // ---- §2.3 co-bucketed shuffle-free join (physical layout) ----
    // Both sides are written bucketed on the join key, so the join plans
    // with zero Exchange (asserted in LayoutSpec); the oracle checks the
    // layout is semantics-preserving vs a plain join.
    Query("q70_colocated_join", Oracles.q70ColocatedJoin)((s, dir) => {
      graft.operators.Layout.writeBucketed(
        orders(s, dir).select(col("o_custkey").as("custkey"),
          col("o_totalprice")),
        "q70_orders_b", "custkey", buckets = 8)
      graft.operators.Layout.writeBucketed(
        customer(s, dir).select(col("c_custkey").as("custkey"),
          col("c_mktsegment")),
        "q70_cust_b", "custkey", buckets = 8)
      graft.operators.Layout.colocatedJoin(s, "q70_orders_b", "q70_cust_b",
          "custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double").as("revenue"))
        .orderBy("c_mktsegment")
    }),

    // ---- §2.9 structured streaming (AvailableNow over parquet) ----
    // ---- §2.9 stream-stream interval join (real Append-mode stream) ----
    Query("q82_stream_interval_join", Oracles.q82StreamIntervalJoin)((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      EventStreams.runOnceOnParquet(s, s"$dir/events.parquet",
          df => EventStreams.clickPurchaseJoin(Tables.normalizeTs(df)),
          s"stream_join_sink_${System.nanoTime()}",
          mode = org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy("user_id", "click_id", "purchase_id")
    }),

    Query("q42_stream_tumbling",
      """SELECT CAST(FLOOR(epoch_us(ts) / 60000000) AS BIGINT) * 60000000 AS w_start_us,
        |  event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      EventStreams.runOnceOnParquet(s, s"$dir/events.parquet",
          df => EventStreams.tumblingCounts(Tables.normalizeTs(df), "1 minute"),
          s"stream_sink_${System.nanoTime()}")
        .select(unix_micros(col("w_start")).as("w_start_us"),
          col("event_type"), col("n"))
        .orderBy("w_start_us", "event_type")
    }))

  /** Name → plan. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.plan).toMap

  /** Name → DuckDB oracle SQL; evaluates every oracle. */
  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracleSql).toMap

  // ----------------------------------------------------- shared oracle SQL

  /** q214/q279 share this relational truth (batch vs streaming cells). */
  private def benfordSql: String =
    """WITH v0 AS (SELECT
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM lineitem),
      |v AS (SELECT cents FROM v0 WHERE cents >= 1),
      |o AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
      |    COUNT(*) AS n
      |  FROM v GROUP BY 1),
      |t AS (SELECT COUNT(*) AS nt FROM v),
      |e(digit, permille) AS (VALUES (1, 301), (2, 176), (3, 125), (4, 97),
      |  (5, 79), (6, 67), (7, 58), (8, 51), (9, 46))
      |SELECT CAST(e.digit AS INT) AS digit, COALESCE(o.n, 0)::BIGINT AS n_obs,
      |  e.permille::BIGINT AS expected_permille,
      |  (1000 * COALESCE(o.n, 0) - e.permille * t.nt)::BIGINT AS excess_milli
      |FROM e CROSS JOIN t LEFT JOIN o ON o.digit = e.digit
      |ORDER BY digit""".stripMargin

  /** q148/q152 share this relational truth (batch vs streaming cells). */
  private def chisqDriftSql: String =
    """WITH s AS (
      |  SELECT event_type AS cat,
      |    CASE WHEN (epoch_us(ts) // 86400000000) % 2 = 1 THEN 1 ELSE 0 END AS f
      |  FROM events),
      |cells AS (SELECT cat, CAST(SUM(1 - f) AS BIGINT) AS c1,
      |                 CAST(SUM(f) AS BIGINT) AS c2 FROM s GROUP BY cat),
      |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS r1,
      |               CAST(SUM(c2) AS BIGINT) AS r2 FROM cells),
      |terms AS (
      |  SELECT cat,
      |    ((c1*(r1+r2) - r1*(c1+c2))::DOUBLE / (r1+r2)::DOUBLE)
      |      * ((c1*(r1+r2) - r1*(c1+c2))::DOUBLE / (r1*(c1+c2))::DOUBLE)
      |    + ((c2*(r1+r2) - r2*(c1+c2))::DOUBLE / (r1+r2)::DOUBLE)
      |      * ((c2*(r1+r2) - r2*(c1+c2))::DOUBLE / (r2*(c1+c2))::DOUBLE) AS t
      |  FROM cells, tot)
      |SELECT r1 AS n1, r2 AS n2,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cells) AS n_cells,
      |  list_reduce(list_concat([0.0::DOUBLE], list_transform(
      |      list_sort(list({'cat': cat, 't': t})), x -> x.t)),
      |    (a, b) -> a + b) AS chisq
      |FROM terms, tot GROUP BY r1, r2
      |ORDER BY n1, n2""".stripMargin

  /** q202/q205 shared PSI oracle — batch cells and streaming
    * state-store cells are gated against the SAME SQL truth.
    */
  private def psiOracleSql: String =
    ("""WITH RECURSIVE
        |cells AS (SELECT event_type,
        |    CAST(SUM(CASE WHEN (epoch_us(ts) // 86400000000) % 2 = 1 THEN 0 ELSE 1 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN (epoch_us(ts) // 86400000000) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb,
        |    CAST(COUNT(*) AS BIGINT) AS k FROM cells),
        |sm AS (SELECT (b + 1) * (na + k) AS x, (a + 1) * (nb + k) AS y,
        |    na, nb, k
        |  FROM cells, tot),
        |_ks AS (SELECT DISTINCT k FROM (
        |  SELECT x AS k FROM sm UNION SELECT y FROM sm)),
        |""".stripMargin + graft.functions.FixedMath.lnCteSql + """,
        |t AS (SELECT sm.x, sm.y, sm.na, sm.nb, sm.k, lx.l AS lx, ly.l AS ly
        |  FROM sm JOIN _lnq lx ON lx.k = sm.x JOIN _lnq ly ON ly.k = sm.y),
        |agg AS (SELECT MAX(na) AS na, MAX(nb) AS nb, MAX(k) AS k,
        |    SUM(CAST(x - y AS HUGEINT) * (lx - ly)) AS s2
        |  FROM t)
        |SELECT na AS n_expected, nb AS n_actual, k AS n_cats,
        |  CAST(s2 // (CAST(na + k AS HUGEINT) * (nb + k)) AS BIGINT) AS psi_q,
        |  CAST(CAST(s2 // (CAST(na + k AS HUGEINT) * (nb + k)) AS BIGINT) AS DOUBLE) / 1e12 AS psi
        |FROM agg
        |ORDER BY n_expected, n_actual""".stripMargin)

  /** q293 — [[psiOracleSql]] with every stage keyed by the user
    * cohort (user_id % 4).
    */
  private def psiByCohortOracleSql: String =
    ("""WITH RECURSIVE
        |cells AS (SELECT user_id % 4 AS g, event_type,
        |    CAST(SUM(CASE WHEN (epoch_us(ts) // 86400000000) % 2 = 1 THEN 0 ELSE 1 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN (epoch_us(ts) // 86400000000) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT g, CAST(SUM(a) AS BIGINT) AS na,
        |    CAST(SUM(b) AS BIGINT) AS nb,
        |    CAST(COUNT(*) AS BIGINT) AS k FROM cells GROUP BY 1),
        |sm AS (SELECT cells.g, (b + 1) * (na + k) AS x,
        |    (a + 1) * (nb + k) AS y, na, nb, k
        |  FROM cells JOIN tot ON tot.g = cells.g),
        |_ks AS (SELECT DISTINCT k FROM (
        |  SELECT x AS k FROM sm UNION SELECT y FROM sm)),
        |""".stripMargin + graft.functions.FixedMath.lnCteSql + """,
        |t AS (SELECT sm.g, sm.x, sm.y, sm.na, sm.nb, sm.k,
        |    lx.l AS lx, ly.l AS ly
        |  FROM sm JOIN _lnq lx ON lx.k = sm.x JOIN _lnq ly ON ly.k = sm.y),
        |agg AS (SELECT g, MAX(na) AS na, MAX(nb) AS nb, MAX(k) AS k,
        |    SUM(CAST(x - y AS HUGEINT) * (lx - ly)) AS s2
        |  FROM t GROUP BY 1)
        |SELECT g AS cohort, na AS n_expected, nb AS n_actual,
        |  k AS n_cats,
        |  CAST(s2 // (CAST(na + k AS HUGEINT) * (nb + k)) AS BIGINT) AS psi_q,
        |  CAST(CAST(s2 // (CAST(na + k AS HUGEINT) * (nb + k)) AS BIGINT) AS DOUBLE) / 1e12 AS psi
        |FROM agg ORDER BY cohort""".stripMargin)

  private def pmiOracleSql: String =
    ("""WITH RECURSIVE
       |base AS (SELECT list_filter(string_split_regex(lower(COALESCE(text, '')),
       |    '[^a-z0-9'']+'), x -> length(x) > 0) AS ws FROM documents),
       |uni AS (SELECT unnest(ws) AS w FROM base),
       |ucnt AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
       |nn AS (SELECT COUNT(*) AS n FROM uni),
       |bi AS (SELECT ws[i] AS w1, ws[i+1] AS w2
       |  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM base)),
       |bcnt AS (SELECT w1, w2, COUNT(*) AS cab FROM bi GROUP BY 1, 2
       |  HAVING COUNT(*) >= 5),
       |bb AS (SELECT COUNT(*) AS b FROM bi),
       |sm AS (SELECT w1, w2, cab, ca.c AS c1, cb.c AS c2,
       |    cab * n * n AS x, ca.c * cb.c * b AS y
       |  FROM bcnt JOIN ucnt ca ON ca.w = bcnt.w1
       |  JOIN ucnt cb ON cb.w = bcnt.w2, nn, bb),
       |_ks AS (SELECT DISTINCT k FROM (
       |  SELECT x AS k FROM sm UNION SELECT y FROM sm)),
       |""".stripMargin + graft.functions.FixedMath.lnCteSql + """,
       |t AS (SELECT w1, w2, cab, c1, c2, lx.l - ly.l AS pmi_q12
       |  FROM sm JOIN _lnq lx ON lx.k = sm.x JOIN _lnq ly ON ly.k = sm.y)
       |SELECT w1, w2, cab::BIGINT AS n_pair, c1::BIGINT AS n_w1,
       |  c2::BIGINT AS n_w2, pmi_q12
       |FROM t ORDER BY pmi_q12 DESC, w1, w2 LIMIT 20""".stripMargin)

  private def sbOracleSql: String =
    ("""WITH RECURSIVE
       |base AS (SELECT doc_id, list_filter(string_split_regex(lower(COALESCE(text, '')),
       |    '[^a-z0-9'']+'), x -> length(x) > 0) AS ws FROM documents),
       |tr AS (SELECT ws FROM base WHERE doc_id % 7 != 0),
       |sc AS (SELECT doc_id, ws FROM base WHERE doc_id % 7 = 0),
       |ttok AS (SELECT unnest(ws) AS w FROM tr),
       |uni AS (SELECT w, COUNT(*) AS c1 FROM ttok GROUP BY w),
       |nn AS (SELECT COUNT(*) AS n FROM ttok),
       |tbig AS (SELECT ws[i] AS wa, ws[i+1] AS wb, COUNT(*) AS c2
       |  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM tr) GROUP BY 1, 2),
       |ttri AS (SELECT ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3, COUNT(*) AS c3
       |  FROM (SELECT ws, unnest(range(1, len(ws)-1)) AS i FROM tr) GROUP BY 1, 2, 3),
       |stri AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3
       |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws)-1)) AS i FROM sc)),
       |jn AS (SELECT s.doc_id, t3.c3, b1.c2 AS c2s, b2.c2 AS c2n,
       |    u2.c1 AS c1p, u3.c1 AS c1w, nn.n
       |  FROM stri s
       |  LEFT JOIN ttri t3 ON t3.w1 = s.w1 AND t3.w2 = s.w2 AND t3.w3 = s.w3
       |  LEFT JOIN tbig b1 ON b1.wa = s.w1 AND b1.wb = s.w2
       |  LEFT JOIN tbig b2 ON b2.wa = s.w2 AND b2.wb = s.w3
       |  LEFT JOIN uni u2 ON u2.w = s.w2
       |  LEFT JOIN uni u3 ON u3.w = s.w3, nn),
       |_ks AS (SELECT DISTINCT k FROM (
       |  SELECT c3 AS k FROM ttri UNION SELECT c2 FROM tbig
       |  UNION SELECT c1 FROM uni UNION SELECT n FROM nn
       |  UNION SELECT 2 UNION SELECT 5)),
       |""".stripMargin + graft.functions.FixedMath.lnCteSql + """,
       |l04 AS (SELECT l2.l - l5.l AS v FROM _lnq l2, _lnq l5
       |  WHERE l2.k = 2 AND l5.k = 5),
       |terms AS (SELECT jn.doc_id,
       |    CASE
       |      WHEN jn.c3 IS NOT NULL THEN lc3.l - lc2s.l
       |      WHEN jn.c2n IS NOT NULL THEN (SELECT v FROM l04) + lc2n.l - lc1p.l
       |      WHEN jn.c1w IS NOT NULL THEN 2*(SELECT v FROM l04) + lc1w.l - lnn.l
       |    END AS t
       |  FROM jn
       |  LEFT JOIN _lnq lc3 ON lc3.k = jn.c3
       |  LEFT JOIN _lnq lc2s ON lc2s.k = jn.c2s
       |  LEFT JOIN _lnq lc2n ON lc2n.k = jn.c2n
       |  LEFT JOIN _lnq lc1p ON lc1p.k = jn.c1p
       |  LEFT JOIN _lnq lc1w ON lc1w.k = jn.c1w
       |  LEFT JOIN _lnq lnn ON lnn.k = jn.n),
       |agg AS (SELECT doc_id, COUNT(t) AS n_scored,
       |    SUM(CASE WHEN t IS NULL THEN 1 ELSE 0 END) AS n_oov,
       |    COALESCE(SUM(t), 0) AS score_q12
       |  FROM terms GROUP BY doc_id)
       |SELECT s.doc_id, COALESCE(a.n_scored, 0)::BIGINT AS n_scored,
       |  COALESCE(a.n_oov, 0)::BIGINT AS n_oov,
       |  COALESCE(a.score_q12, 0)::BIGINT AS score_q12
       |FROM (SELECT DISTINCT doc_id FROM sc) s LEFT JOIN agg a USING (doc_id)
       |ORDER BY s.doc_id""".stripMargin)
}
