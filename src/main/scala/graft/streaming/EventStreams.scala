package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface over the `events` table (SURVEY §2.9 —
  * absent in the reference; the engine ships the standard event-time
  * toolkit: tumbling/sliding/session windows, watermarked dedup, and
  * custom state via flatMapGroupsWithState).
  *
  * Every transform here is defined on a plain DataFrame, so the SAME
  * function serves batch (driver correctness checks run it over the
  * parquet `events` table) and streaming (`spark.readStream` input) —
  * Spark's unified-API design point.
  */
object EventStreams {

  /** Tumbling event-time window aggregate: count + value stats per
    * (window, event_type).
    */
  def tumblingCounts(events: DataFrame, width: String = "1 minute"): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count("*").as("n"), sum("value").as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding window aggregate. */
  def slidingCounts(events: DataFrame, width: String = "5 minutes",
      slide: String = "1 minute"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count("*").as("n"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"))

  /** Session windows per user (gap-based). */
  def sessions(events: DataFrame, gap: String = "5 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count("*").as("n_events"), sum("value").as("sum_value"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Streaming dedup by event_id within the watermark horizon. */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval self-join (the attribution join): every click
    * matched to the same user's purchases in the 2 hours before it. Both
    * sides carry watermarks and the join condition ranges over event
    * time, so Spark bounds the join state to the watermark horizon —
    * the requirement for an unbounded 100 TB/day stream. Inner joins
    * emit matches eagerly (watermarks only govern state cleanup), so the
    * same function is exact in batch mode — which is how the oracle
    * checks it.
    */
  def clickPurchaseJoin(events: DataFrame, watermark: String = "2 hours",
      horizon: String = "2 hours"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    clicks.join(purchases,
        col("c_user") === col("p_user") &&
        col("c_ts") >= col("p_ts") &&
        col("c_ts") <= col("p_ts") + expr(s"INTERVAL $horizon"))
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"))
  }

  final case class UserRunning(userId: Long, nEvents: Long, total: Double)

  /** Custom state example: running per-user totals via
    * flatMapGroupsWithState (the reference has no stateful streaming;
    * this is the engine's `mapGroupsWithState` surface, SURVEY §2.9).
    *
    * State is one fixed-size record per distinct user — O(|users|),
    * which running-forever totals inherently require. On an unbounded
    * key space (e.g. session ids), bound it with a timeout the way
    * [[StreamingDedup.nearDupCandidates]]'s `stateTtlMs` does; a TTL
    * here would silently reset totals, so it is deliberately absent.
    */
  def runningTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(user, 0L, 0.0))
          var n = prev.nEvents
          var tot = prev.total
          rows.foreach { case (_, v) => n += 1; tot += v }
          val next = UserRunning(user, n, tot)
          state.update(next)
          Iterator(next)
      }.toDF("user_id", "n_events", "total")
  }

  /** Per-user funnel state: every step-event time seen so far, one list
    * per step (capped at `maxPerStep` — see [[funnelStream]]).
    */
  final case class FunnelState(times: Seq[Seq[Long]], emits: Long)

  /** Streaming ordered funnel — the incremental form of
    * [[graft.operators.Analytics.funnel]]: per entity, the earliest
    * completion of step k strictly after step k−1's, re-derived as
    * events arrive. Emits one row per entity per trigger it received
    * events in: (user_id, emit, times[nSteps] nullable epoch-µs,
    * step_reached); `emit` counts that entity's emissions, so a
    * multi-batch consumer keeps the max-emit row per entity.
    *
    * Exactness across batches: min-ts chaining is NOT incrementally
    * monotone (an earlier step-1 arrival can unlock earlier step-2
    * times already seen), so the state keeps each step's FULL event-
    * time list and re-chains on every trigger — the only way the
    * streaming answer equals the batch answer under arbitrary arrival
    * order. State per entity is O(its step events), capped at
    * `maxPerStep` per step (beyond the cap, later times are dropped —
    * production funnels bound the horizon with a watermark + TTL the
    * way [[StreamingDedup]] does; the cap keeps a hot key from
    * unbounded state growth meanwhile). Chaining cost is one sort of
    * each small list per trigger.
    */
  def funnelStream(spark: SparkSession, events: DataFrame,
      steps: Seq[String], maxPerStep: Int = 10000): DataFrame = {
    import spark.implicits._
    require(steps.nonEmpty, "funnel needs at least one step")
    val stepIdx = steps.zipWithIndex.toMap
    val n = steps.length
    events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, String, Long)],
            state: GroupState[FunnelState]) =>
          val prev = state.getOption.getOrElse(FunnelState(Seq.fill(n)(Nil), 0L))
          val buf = prev.times.map(s => scala.collection.mutable.ArrayBuffer(s: _*))
          rows.foreach { case (_, tpe, t) =>
            stepIdx.get(tpe).foreach { i =>
              if (buf(i).length < maxPerStep) buf(i) += t
            }
          }
          val next = FunnelState(buf.map(_.toSeq), prev.emits + 1)
          state.update(next)
          // re-chain from scratch: strictly-after minimum per step
          var prevT = Option(Long.MinValue)
          val chained: Seq[Option[Long]] = (0 until n).map { i =>
            val m = prevT.flatMap { p =>
              val cand = next.times(i).filter(_ > p)
              if (cand.isEmpty) None else Some(cand.min)
            }
            prevT = m
            m
          }
          val reached = chained.lastIndexWhere(_.isDefined) + 1
          Iterator((user, next.emits, chained, reached))
      }
      .toDF("user_id", "emit", "times", "step_reached")
  }

  /** Per-key first-N state: the n smallest (ts, id) pairs seen so far. */
  final case class FirstNState(pairs: Seq[(Long, Long)], emits: Long)

  /** Streaming per-key admission: the first `n` events per key in
    * EVENT-TIME order (ties → event id), kept exact under arbitrary
    * arrival order by holding the n smallest (ts_us, event_id) pairs as
    * state — the streaming-state form of the q183 bounded top-k
    * aggregate (min-k here), and the third engine path gated by the
    * same row_number-window oracle.
    *
    * State is HARD-bounded at n pairs per key (unlike a row_number
    * window, which buffers every row of a key before ranking). Emits
    * the full current winner list each trigger with an emit counter;
    * a multi-batch consumer keeps the max-emit row per key
    * (the [[funnelStream]] convention).
    */
  def firstNStream(spark: SparkSession, events: DataFrame, n: Int): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), unix_micros(col("ts")).as("t"), col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long)],
            state: GroupState[FirstNState]) =>
          val prev = state.getOption.getOrElse(FirstNState(Nil, 0L))
          val merged = (prev.pairs ++ rows.map(r => (r._2, r._3)))
            .sorted.take(n)
          val next = FirstNState(merged, prev.emits + 1)
          state.update(next)
          Iterator((user, next.emits, merged))
      }
      .toDF("user_id", "emit", "pairs")
  }

  /** Per-key KMV state: the k smallest sign-flipped splitmix64 hashes
    * seen so far (sorted, distinct) and an emit counter.
    */
  final case class KmvStreamState(mins: Seq[Long], emits: Long)

  final case class TopKStreamState(pairs: Seq[(Double, Long)], emits: Long)

  /** Streaming bounded top-k per key — the state-store twin of the
    * batch `graft_topk` TypedImperativeAggregate (q183): per
    * event_type keep the k largest (value, event_id) pairs, ordered
    * value DESC with event_id ASC tie-break (the exact q183 sort
    * contract, total under `java.lang.Double.compare` so NaN cannot
    * break it). State is ≤ k pairs per key — bounded regardless of
    * stream length — and merging a batch is "sort the union, cut at
    * k", which is associative, so cross-batch arrival order cannot
    * change the answer (spec-asserted). Null values are ignored (the
    * native-agg convention).
    */
  def topKStream(spark: SparkSession, events: DataFrame,
      k: Int): DataFrame = {
    import spark.implicits._
    val ord = new Ordering[(Double, Long)] {
      def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c = java.lang.Double.compare(b._1, a._1) // value DESC
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    }
    events.select(col("event_type"), col("value"), col("event_id"))
      .filter(col("value").isNotNull)
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (tpe: String, rows: Iterator[(String, Double, Long)],
            state: GroupState[TopKStreamState]) =>
          val prev = state.getOption.getOrElse(TopKStreamState(Nil, 0L))
          val incoming = rows.map(r => (r._2, r._3)).toArray.sorted(ord).take(k)
          val merged = (prev.pairs ++ incoming).sorted(ord).take(k)
          val next = TopKStreamState(merged, prev.emits + 1)
          state.update(next)
          Iterator((tpe, next.emits, merged))
      }
      .toDF("event_type", "emit", "pairs")
  }

  /** Streaming KMV distinct sketch: q189's bottom-k minima maintained
    * through the streaming state store — k longs of HARD-bounded state
    * per key, merged exactly like the batch aggregate, so the two
    * paths share ONE oracle (the q146/q150 HLL discipline for KMV).
    * Emits (key, emit, mins) per trigger; a multi-batch consumer keeps
    * the max-emit row and reads it out with
    * [[graft.plans.KmvEstimate]].
    */
  def kmvStream(spark: SparkSession, events: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    events.select(col("event_type"), col("user_id")).as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (tpe: String, rows: Iterator[(String, Long)],
            state: GroupState[KmvStreamState]) =>
          val prev = state.getOption.getOrElse(KmvStreamState(Nil, 0L))
          val incoming = rows
            .map(r => graft.functions.Hashing.splitmix64(r._2) ^ Long.MinValue)
            .toArray.sorted.distinct
          val merged = (prev.mins ++ incoming).sorted.distinct.take(k)
          val next = KmvStreamState(merged, prev.emits + 1)
          state.update(next)
          Iterator((tpe, next.emits, merged))
      }
      .toDF("event_type", "emit", "mins")
  }

  final case class EwmaStreamState(lastDay: Long, lastEwma: Long,
      has: Boolean)

  /** Streaming EWMA control chart — the state-store twin of
    * [[graft.operators.Timeseries.ewmaChart]] (q235): per event_type
    * the state is TWO longs (last day, last smoothed level), each
    * trigger folds its days in ascending order through the identical
    * floor-division recurrence and emits the chart rows with the same
    * scale-free alert rule — so both engine paths share ONE oracle
    * (the q205/q227 discipline). Contract: days arrive non-decreasing
    * across triggers (event-time order between batches); a late day ≤
    * lastDay would belong to an already-emitted cell and is dropped
    * rather than silently re-smoothed.
    */
  def ewmaChartStream(spark: SparkSession, events: DataFrame,
      alphaDen: Int = 8, relDen: Int = 4): DataFrame = {
    import spark.implicits._
    events.select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"),
        coalesce((col("value").cast("decimal(18,4)") * 10000).cast("long"),
          lit(0L)).as("xt"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (tpe: String, rows: Iterator[(String, Long, Long)],
            state: GroupState[EwmaStreamState]) =>
          val prev = state.getOption.getOrElse(EwmaStreamState(Long.MinValue, 0L, has = false))
          // per-day tenk sums (null value rows contribute 0, like the
          // batch decimal sum), folded in day order
          val byDay = rows.foldLeft(Map.empty[Long, Long]) { (m, r) =>
            m.updated(r._2, m.getOrElse(r._2, 0L) + r._3)
          }.toArray.sortBy(_._1).filter(_._1 > (if (prev.has) prev.lastDay else Long.MinValue))
          var s = prev.lastEwma
          var has = prev.has
          var day = prev.lastDay
          val out = byDay.iterator.map { case (d, x) =>
            val alert = has && relDen * math.abs(x - s) > math.abs(s)
            s = if (!has) x
              else Math.floorDiv(x + (alphaDen - 1L) * s, alphaDen.toLong)
            has = true; day = d
            (tpe, d, x, s, alert)
          }.toVector
          state.update(EwmaStreamState(day, s, has))
          out.iterator
      }
      .toDF("event_type", "day", "x_tenk", "ewma_tenk", "alert")
  }

  /** Batch-mode run of a streaming query over a bounded source, used by
    * tests: read the parquet as a stream with one trigger, write to
    * memory sink, return the result.
    */
  def runOnceOnParquet(spark: SparkSession, parquetPath: String,
      transform: DataFrame => DataFrame, sinkName: String,
      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val schema = spark.read.parquet(parquetPath).schema
    // file-stream sources want a directory; a single-FILE input (driver
    // testdata ships one file per table) is streamed as parent-dir + glob
    // on the file name, a directory is streamed directly
    val stream =
      if (new java.io.File(parquetPath).isDirectory)
        spark.readStream.schema(schema).parquet(parquetPath)
      else {
        val parent = parquetPath.replaceAll("/[^/]+$", "")
        val fileName = parquetPath.substring(parquetPath.lastIndexOf('/') + 1)
        spark.readStream.schema(schema)
          .option("pathGlobFilter", fileName).parquet(parent)
      }
    val normalized0 =
      if (schema.fieldNames.contains("ts")) graft.Tables.normalizeTs(stream)
      else stream
    // Any OTHER timestamp column may also ship as TIMESTAMP_NTZ across
    // driver data drops (the round-8 events.ts incident generalized —
    // e.g. orders.o_orderdate): cast NTZ → TimestampType everywhere,
    // value-preserving under the pinned UTC session tz.
    val normalized = normalized0.schema.fields.foldLeft(normalized0) {
      (df, f) =>
        if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
          df.withColumn(f.name, org.apache.spark.sql.functions.col(f.name)
            .cast(org.apache.spark.sql.types.TimestampType))
        else df
    }
    val q = transform(normalized).writeStream
      .format("memory")
      .queryName(sinkName)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // LOUD timeout: awaitTermination(ms) returns false when the query
    // is still running — the old code dropped the result and served a
    // possibly-empty memory table as if the stream had drained.
    // drain budget env-overridable: the 2000-shuffle-partition
    // invariance audit runs the same stream at ~100× the task count of
    // the normal gate, where 120 s of wall is pure scheduling overhead
    val drainMs = sys.env.get("SPARK_GRAFT_STREAM_DRAIN_MS")
      .map(_.toLong).getOrElse(120000L)
    if (!q.awaitTermination(drainMs)) {
      q.stop()
      throw new IllegalStateException(
        s"stream '$sinkName' did not drain within ${drainMs}ms " +
          s"(source $parquetPath)")
    }
    spark.table(sinkName)
  }

  /** Per-key event buffer for [[transitionPairsStream]]: every
    * (us, ord, type) seen so far (capped), so each trigger re-derives
    * the key's adjacency pairs — the [[funnelStream]] exactness
    * argument: consecutive-pair chaining is NOT incrementally monotone
    * (a late event SPLICES an existing pair into two), so only a
    * re-derive from the full buffer equals the batch answer under
    * arbitrary arrival order.
    *
    * STATE-SCHEMA BREAK (round 13): `rows` widened from
    * `(Long, Long, String)` to Option tuples so NULL keys/timestamps
    * flow like batch — the state-store encoder schema changed, so a
    * checkpoint written by the pre-r13 operator will NOT restore.
    * STATE-SCHEMA BREAK (round 16): the sticky `truncated` field was
    * added to [[TransitionState]] and [[WinState]] — the GroupState
    * encoder schema changed again (a Scala default value does NOT
    * apply to already-stored state), so pre-r16 checkpoints fail
    * deserialization on resume.
    * The driver gate always starts from a fresh sink/checkpoint; any
    * external deployment must restart these streams from a fresh
    * checkpoint directory after upgrading across either break.
    */
  final case class TransitionState(
      rows: Seq[(Option[Long], Option[Long], Option[String])],
      emits: Long,
      truncated: Boolean = false)

  /** Streaming transition-pair cells — the incremental form of
    * [[graft.operators.Analytics.transitionTopK]]'s LEAD-pair build:
    * per key, events buffer in the state store (capped at `maxPerKey`
    * rows, the funnelStream cap discipline; cap hits ride a sticky
    * `truncated` column, as in [[winPairsStream]]) and each trigger emits the
    * key's CURRENT (src, dst, n) pair counts with an `emit` counter —
    * a multi-batch consumer keeps the max-emit rows per key, sums the
    * cells by (src, dst), and reads them out with
    * [[graft.operators.Analytics.transitionFromCells]] against the
    * batch oracle (one relational truth, two engine paths).
    */
  /** Per-order line buffer for [[winPairsStream]]: every
    * (suppkey, price_cents) line seen so far (capped). Within-order
    * win pairs are NOT append-only under arbitrary arrival order in
    * the aggregate sense (a late line adds pairs against every
    * already-buffered line), so each trigger re-derives the order's
    * CURRENT pair counts from the full buffer and stamps them with an
    * emit counter — the [[TransitionState]] exactness discipline.
    */
  final case class WinState(
      rows: Seq[(Option[Long], Option[Long])],
      emits: Long,
      truncated: Boolean = false)

  /** Streaming within-order win-pair cells — the incremental form of
    * the preference tier's contest build (q310 Bradley–Terry / q311
    * win-rate matrix / q312 cycle audit all read a (winner, loser, n)
    * table; batch builds it with a within-order self-join): per order
    * key, lines buffer in the state store (capped at `maxPerKey`; a
    * cap hit means the emitted counts can diverge from batch truth
    * from that trigger on, so it rides every later emit as a STICKY
    * `truncated` column — consumers filter or alert on it, never read
    * an undercount as final) and
    * each trigger emits the order's CURRENT directed win-pair counts
    * (strictly higher line price beats lower, distinct suppliers —
    * NULL suppkey/price rows never pair, and NULL ORDER keys are
    * dropped whole, matching the batch self-join where every
    * NULL comparison, including the join key's, is false) with an
    * `emit` counter. A multi-batch
    * consumer keeps the max-emit rows per order, sums cells by
    * (winner, loser), and reads them out with
    * [[graft.operators.Analytics.winRateMatrix]] /
    * [[graft.operators.Analytics.bradleyTerryFromWins]] against the
    * batch oracle — one relational truth, two engine paths.
    *
    * Scale shape: state is per-order line-sized (orders are bounded);
    * emitted rows are ≤ pairs-within-one-order per trigger; the corpus
    * never joins against itself across keys.
    */
  def winPairsStream(spark: SparkSession, lines: DataFrame,
      maxPerKey: Int = 10000): DataFrame = {
    import spark.implicits._
    lines.select(col("l_orderkey"), col("l_suppkey"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100" +
          " AS BIGINT)").as("_p"))
      .as[(Option[Long], Option[Long], Option[Long])]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (order: Option[Long],
            rows: Iterator[(Option[Long], Option[Long], Option[Long])],
            state: GroupState[WinState]) =>
          if (order.isEmpty) {
            // batch truth: the self-join key `a.l_orderkey ===
            // b.l_orderkey` is false on NULLs, so NULL-key lines never
            // pair. groupByKey would otherwise pool them into ONE
            // None-key bucket and pair them with each other — drop
            // them here (no state either: nothing can ever emit).
            Iterator.empty
          } else {
          val prev = state.getOption.getOrElse(WinState(Nil, 0L))
          val merged = prev.rows ++ rows.map(r => (r._2, r._3))
          val all = merged.take(maxPerKey)
          // the cap dropping lines is a divergence from the batch
          // truth for this order from now on — mark it STICKY and emit
          // it on every row, never silently undercount (r15 ADVICE:
          // `emits` kept advancing, so the max-emit consumer read
          // truncated pair counts as final with no signal)
          val trunc = prev.truncated || merged.sizeIs > maxPerKey
          val next = WinState(all, prev.emits + 1, trunc)
          state.update(next)
          // re-derive the order's directed win pairs: a beats b iff
          // both suppkeys and prices are non-NULL, suppkeys differ,
          // and a's price is strictly higher — the batch self-join
          // condition, where NULL comparisons are false
          val pairs = for {
            a <- all.iterator
            b <- all.iterator
            sa <- a._1.iterator; sb <- b._1.iterator
            pa <- a._2.iterator; pb <- b._2.iterator
            if sa != sb && pa > pb
          } yield (sa, sb)
          pairs.toSeq.groupBy(identity).iterator
            .map { case ((w, l), g) =>
              (order, next.emits, w, l, g.size.toLong, trunc) }
          }
      }
      .toDF("l_orderkey", "emit", "winner", "loser", "n", "truncated")
  }

  def transitionPairsStream(spark: SparkSession, events: DataFrame,
      maxPerKey: Int = 10000): DataFrame = {
    import spark.implicits._
    // All four fields ride nullable (Option) encoders so a NULL
    // user_id/ts/event_id flows through exactly like the batch
    // window: NULL keys form their own partition, NULL (_us, ord)
    // sort first (Option's None < Some = Spark's NULLS FIRST), and
    // NULL-dst pairs drop (the batch `_nxt.isNotNull` filter) while
    // NULL-src pairs survive into the cells — one relational truth,
    // two engine paths, including the null partition.
    events.select(col("user_id"), unix_micros(col("ts")).as("_us"),
        col("event_id"), col("event_type"))
      .as[(Option[Long], Option[Long], Option[Long], Option[String])]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Option[Long],
            rows: Iterator[(Option[Long], Option[Long], Option[Long],
              Option[String])],
            state: GroupState[TransitionState]) =>
          val prev = state.getOption.getOrElse(TransitionState(Nil, 0L))
          val merged = (prev.rows ++ rows.map(r => (r._2, r._3, r._4)))
            .sortBy(t => (t._1, t._2))
          val all = merged.take(maxPerKey)
          // sticky divergence flag when the cap drops rows — same
          // honesty contract as [[winPairsStream]]'s (r15 ADVICE)
          val trunc = prev.truncated || merged.sizeIs > maxPerKey
          val next = TransitionState(all, prev.emits + 1, trunc)
          state.update(next)
          if (all.length < 2) Iterator.empty
          else all.zip(all.tail)
            .map { case (a, b) => (a._3, b._3) }
            .filter(_._2.isDefined) // batch drops pairs with NULL next
            .groupBy(identity).iterator
            .map { case ((s, d), g) =>
              (user, next.emits, s, d, g.size.toLong, trunc) }
      }
      .toDF("user_id", "emit", "src", "dst", "n", "truncated")
  }
}
