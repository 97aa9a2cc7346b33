package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions.col

import graft.operators.Analytics

/** Funnel min-ts chaining semantics and retention-triangle arithmetic
  * on hand-computed fixtures (q126/q128 exercise them at scale).
  */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def us(s: String) = ts(s).getTime * 1000L

  private val events = Seq(
    // user 1 completes the whole funnel in order
    (1L, ts("2024-01-01 10:00:00"), "view"),
    (1L, ts("2024-01-01 11:00:00"), "click"),
    (1L, ts("2024-01-01 12:00:00"), "purchase"),
    // user 2: purchase BEFORE the first click — step 3 must not count
    (2L, ts("2024-01-02 10:00:00"), "view"),
    (2L, ts("2024-01-02 10:30:00"), "purchase"),
    (2L, ts("2024-01-02 11:00:00"), "click"),
    // user 3: clicks but never views — step 1 never fires, reaches 0
    (3L, ts("2024-01-03 10:00:00"), "click"),
    (3L, ts("2024-01-03 11:00:00"), "purchase"),
    // user 4: two views; the SECOND view's later click chain still
    // counts because chaining is off the FIRST view
    (4L, ts("2024-01-04 09:00:00"), "view"),
    (4L, ts("2024-01-04 10:00:00"), "view"),
    (4L, ts("2024-01-04 10:30:00"), "click"))
    .toDF("user_id", "ts", "event_type")

  test("funnel chains strictly-after min timestamps per step") {
    val got = Analytics.funnel(events, Seq("view", "click", "purchase"))
      .orderBy("user_id")
      .as[(Long, Option[Long], Option[Long], Option[Long], Int)]
      .collect().toSeq
    assert(got == Seq(
      (1L, Some(us("2024-01-01 10:00:00")), Some(us("2024-01-01 11:00:00")),
        Some(us("2024-01-01 12:00:00")), 3),
      // user 2: click at 11:00 counts (after first view) but no
      // purchase after it — reaches 2, t3 null
      (2L, Some(us("2024-01-02 10:00:00")), Some(us("2024-01-02 11:00:00")),
        None, 2),
      // user 3: no view at all — every step null even though later
      // steps' event types exist
      (3L, None, None, None, 0),
      // user 4: t1 = FIRST view; click after it counts; no purchase
      (4L, Some(us("2024-01-04 09:00:00")), Some(us("2024-01-04 10:30:00")),
        None, 2)))
  }

  test("a one-step funnel degenerates to first-completion per user") {
    val got = Analytics.funnel(events, Seq("click"))
      .orderBy("user_id")
      .as[(Long, Option[Long], Int)].collect().toSeq
    assert(got.map(_._3) == Seq(1, 1, 1, 1))
    assert(got(2) == ((3L, Some(us("2024-01-03 10:00:00")), 1)))
  }

  test("funnel events with identical timestamps are NOT strictly after") {
    val tied = Seq(
      (9L, ts("2024-01-01 10:00:00"), "view"),
      (9L, ts("2024-01-01 10:00:00"), "click")) // same instant: no chain
      .toDF("user_id", "ts", "event_type")
    val got = Analytics.funnel(tied, Seq("view", "click"))
      .as[(Long, Option[Long], Option[Long], Int)].collect().head
    assert(got._4 == 1 && got._3.isEmpty)
  }

  private val orders = Seq(
    // custs 1,2 first order 2024-01; cust 1 returns in 02 and 04
    (1L, ts("2024-01-05 00:00:00")),
    (1L, ts("2024-02-20 00:00:00")),
    (1L, ts("2024-04-01 00:00:00")),
    (2L, ts("2024-01-31 00:00:00")),
    // cust 3 first order 2024-03, returns 2025-01 (offset 10 across
    // the year boundary)
    (3L, ts("2024-03-15 00:00:00")),
    (3L, ts("2025-01-02 00:00:00")),
    // two orders same month count once per (cohort, offset)
    (2L, ts("2024-01-01 00:00:00")))
    .toDF("o_custkey", "o_orderdate")

  test("cohort retention: offset 0 row equals cohort size; year-boundary offsets exact") {
    val got = Analytics.cohortRetention(orders)
      .orderBy("cohort_month", "month_offset")
      .as[(String, Int, Long)].collect().toSeq
    assert(got == Seq(
      ("2024-01", 0, 2L), // custs 1 and 2 (2's two January orders count once)
      ("2024-01", 1, 1L), // cust 1 in February
      ("2024-01", 3, 1L), // cust 1 in April
      ("2024-03", 0, 1L),
      ("2024-03", 10, 1L))) // cust 3: Mar 2024 → Jan 2025
  }

  test("funnelCounts aggregates step_reached; histogram clamps edge buckets") {
    val counts = Analytics.funnelCounts(
      Analytics.funnel(events, Seq("view", "click", "purchase")), 3)
      .orderBy("step").as[(Int, Long)].collect().toSeq
    // users 1,2,4 reach view; 1,2,4 reach click; only 1 reaches purchase
    assert(counts == Seq((1, 3L), (2, 3L), (3, 1L)))

    val vals = Seq(-5.0, 0.0, 9.9, 10.0, 25.0, 99.0, 250.0).toDF("v")
    val h = Analytics.histogram(vals, "v", lo = 0.0, width = 10.0, nBuckets = 10)
      .orderBy("bucket")
      .as[(Long, Double, Double, Long)].collect().toSeq
    assert(h == Seq(
      (0L, 0.0, 10.0, 3L),   // -5 clamps up; 0.0 and 9.9 in range
      (1L, 10.0, 20.0, 1L),  // 10.0 lands in [10,20)
      (2L, 20.0, 30.0, 1L),
      (9L, 90.0, 100.0, 2L))) // 99 in range; 250 clamps down
  }

  test("streaming funnel: out-of-order cross-batch arrival converges to the batch answer") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val out = graft.operators.Analytics // batch reference
    val streamed = graft.streaming.EventStreams.funnelStream(spark,
      input.toDF().toDF("user_id", "event_type", "ts"),
      Seq("view", "click", "purchase"))
    val q = streamed.writeStream.format("memory").queryName("funnel_conv")
      .outputMode("append").start()
    try {
      // batch 1: click then purchase arrive BEFORE the view — chain empty
      input.addData((1L, "click", ts("2024-01-01 11:00:00")),
        (1L, "purchase", ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      // batch 2: the earlier view arrives late → full chain must unlock
      // using the ALREADY-SEEN click+purchase times
      input.addData((1L, "view", ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      val rows = spark.table("funnel_conv")
        .orderBy("emit")
        .as[(Long, Long, Seq[Option[Long]], Int)].collect().toSeq
      assert(rows.map(_._2) == Seq(1L, 2L))
      assert(rows.head._4 == 0) // before the view: nothing chained
      val fin = rows.last
      assert(fin._4 == 3 && fin._3.flatten == Seq(
        us("2024-01-01 10:00:00"), us("2024-01-01 11:00:00"),
        us("2024-01-01 12:00:00")))
      // final streaming row == batch operator over the union of batches
      val batch = out.funnel(
        Seq((1L, ts("2024-01-01 11:00:00"), "click"),
          (1L, ts("2024-01-01 12:00:00"), "purchase"),
          (1L, ts("2024-01-01 10:00:00"), "view"))
          .toDF("user_id", "ts", "event_type"),
        Seq("view", "click", "purchase"))
        .as[(Long, Option[Long], Option[Long], Option[Long], Int)]
        .collect().head
      assert((batch._2, batch._3, batch._4, batch._5) ==
        (fin._3(0), fin._3(1), fin._3(2), fin._4))
    } finally q.stop()
  }

  test("transitionPairsStream: late arrival splices an existing pair; converges to batch LEAD pairs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String)]
    val streamed = graft.streaming.EventStreams.transitionPairsStream(spark,
      input.toDF().toDF("user_id", "ts", "event_id", "event_type"))
    val q = streamed.writeStream.format("memory").queryName("trans_conv")
      .outputMode("append").start()
    try {
      // batch 1: view(10:00) -> purchase(12:00): one pair
      input.addData((1L, ts("2024-01-01 10:00:00"), 1L, "view"),
        (1L, ts("2024-01-01 12:00:00"), 3L, "purchase"))
      q.processAllAvailable()
      // batch 2: click(11:00) arrives LATE and splices the pair into
      // view->click and click->purchase
      input.addData((1L, ts("2024-01-01 11:00:00"), 2L, "click"))
      q.processAllAvailable()
      val rows = spark.table("trans_conv")
        .as[(Long, Long, String, String, Long, Boolean)].collect().toSeq
      val fin = rows.filter(_._2 == 2L).map(r => (r._3, r._4) -> r._5).toMap
      assert(fin == Map(("view", "click") -> 1L, ("click", "purchase") -> 1L))
      assert(rows.filter(_._2 == 1L).map(r => (r._3, r._4)).toSet ==
        Set(("view", "purchase")), "pre-splice pair emitted in batch 1")
      // final streaming cells == the batch operator's LEAD pairs
      val batch = Analytics.transitionTopK(
        Seq((1L, ts("2024-01-01 10:00:00"), 1L, "view"),
          (1L, ts("2024-01-01 12:00:00"), 3L, "purchase"),
          (1L, ts("2024-01-01 11:00:00"), 2L, "click"))
          .toDF("user_id", "ts", "event_id", "event_type"), k = 3)
        .as[(String, Long, String, Long, Long)].collect()
        .map(r => (r._1, r._3) -> r._4).toMap
      assert(batch == fin)
    } finally q.stop()
  }

  test("transitionPairsStream: NULL user_id / event_id / event_type ride the null partition like batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Option[Long], Timestamp, Option[Long], String)]
    val streamed = graft.streaming.EventStreams.transitionPairsStream(spark,
      input.toDF().toDF("user_id", "ts", "event_id", "event_type"))
    val q = streamed.writeStream.format("memory").queryName("trans_null")
      .outputMode("append").start()
    val data = Seq(
      // NULL key: its own partition, view -> click
      (None, ts("2024-01-01 10:00:00"), Some(1L), "view"),
      (None, ts("2024-01-01 11:00:00"), Some(2L), "click"),
      // user 7: NULL event_id sorts first at its ts; a NULL event_type
      // mid-sequence drops the (view -> NULL) pair but keeps the
      // (NULL -> purchase) pair with a NULL src — batch LEAD semantics
      (Some(7L), ts("2024-01-01 10:00:00"), None, "view"),
      (Some(7L), ts("2024-01-01 11:00:00"), Some(8L), null),
      (Some(7L), ts("2024-01-01 12:00:00"), Some(9L), "purchase"))
    try {
      input.addData(data: _*)
      q.processAllAvailable()
      val rows = spark.table("trans_null")
        .as[(Option[Long], Long, Option[String], Option[String], Long,
          Boolean)]
        .collect().toSeq
      val streamedCells = rows.groupBy(r => (r._3, r._4))
        .map { case (k, g) => k -> g.map(_._5).sum }
      val batchCells = Analytics.transitionTopK(
        data.toDF("user_id", "ts", "event_id", "event_type"), k = 10)
        .as[(Option[String], Long, Option[String], Long, Long)].collect()
        .map(r => (r._1, r._3) -> r._4).toMap
      assert(streamedCells == batchCells)
      assert(streamedCells((Some("view"), Some("click"))) == 1L)
      assert(streamedCells((None, Some("purchase"))) == 1L)
      assert(!streamedCells.keySet.exists(_._2.isEmpty),
        "NULL-dst pairs must drop, matching the batch _nxt.isNotNull filter")
    } finally q.stop()
  }

  test("MAD outliers: robust to the outlier itself; ties at the fence excluded") {
    // group g: values 1,1,1,1,100 — median 1, abs devs 0,0,0,0,99,
    // MAD 0 → any dev > 0 flags (the 100)
    // group h: 10,20,30 — median 20, devs 10,0,10, MAD 10, fence 30:
    // no dev exceeds it (10 < 30) → no outliers
    val df = Seq(
      (1L, "g", 1.0), (2L, "g", 1.0), (3L, "g", 1.0), (4L, "g", 1.0),
      (5L, "g", 100.0),
      (6L, "h", 10.0), (7L, "h", 20.0), (8L, "h", 30.0))
      .toDF("id", "grp", "v")
    val got = Analytics.madOutliers(df, "v", "grp")
      .select("id", "abs_dev", "group_median", "group_mad")
      .as[(Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq((5L, 99.0, 1.0, 0.0)))
  }

  test("MAD outliers: strict > fence (a value exactly at k*MAD stays)") {
    // median 0 (values -1,0,1,5): interpolated median of 4 values
    // (-1,0,1,5) = 0.5; devs 1.5,0.5,0.5,4.5; MAD = interp(0.5,1.5)=1.0;
    // fence 3.0 → only dev 4.5 flags; dev exactly 3.0 would not
    val df = Seq((1L, "x", -1.0), (2L, "x", 0.0), (3L, "x", 1.0),
      (4L, "x", 5.0), (5L, "x", 3.5)) // dev |3.5-1| vs median incl. it
      .toDF("id", "grp", "v")
    // recompute expectation directly: median of (-1,0,1,3.5,5) = 1.0;
    // devs 2,1,0,2.5,4; MAD = 2.0; fence 6.0 → nothing flagged
    assert(Analytics.madOutliers(df, "v", "grp").count() == 0)
  }

  // micro-timestamps: session gap is 300s = 3e8 µs
  private def ts(us: Long) = new java.sql.Timestamp(us / 1000)

  test("windowed funnel: a step exactly at the gap counts, one µs later does not") {
    // user 1: view@0, click@T (exactly at gap) → reaches 2
    // user 2: view@0, click@T+1000 (beyond) → reaches 1
    val gap = 3600000000L
    val df = Seq(
      (1L, 1L, "view", 0L), (1L, 2L, "click", gap),
      (2L, 3L, "view", 0L), (2L, 4L, "click", gap + 1000000L))
      .map { case (u, e, t, us) => (u, e, t, ts(us)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val got = Analytics.funnel(df, Seq("view", "click"),
        maxGapUs = Some(gap))
      .select("user_id", "step_reached")
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 2, 2L -> 1))
    // and without the window both reach 2 (regression: unwindowed path)
    val plain = Analytics.funnel(df, Seq("view", "click"))
      .select("user_id", "step_reached")
      .as[(Long, Int)].collect().toMap
    assert(plain == Map(1L -> 2, 2L -> 2))
  }

  test("firstTouchAttribution: conversions credit the session opener") {
    // user 1, session A: view(t0) → click → purchase(10) → purchase(5)
    // user 1, session B (gap > 300s): purchase(7) opens its own session
    // user 2: click → view (no purchase) → contributes nothing
    val df = Seq(
      (1L, 1L, "view", 2.0, 0L),
      (1L, 2L, "click", 1.0, 1000000L),
      (1L, 3L, "purchase", 10.0, 2000000L),
      (1L, 4L, "purchase", 5.0, 3000000L),
      (1L, 5L, "purchase", 7.0, 400000000L),
      (2L, 6L, "click", 1.0, 0L),
      (2L, 7L, "view", 1.0, 1000000L))
      .map { case (u, e, t, v, us) => (u, e, t, v, ts(us)) }
      .toDF("user_id", "event_id", "event_type", "value", "ts")
    val got = Analytics.firstTouchAttribution(df, "purchase")
      .as[(String, Long, Double)].collect()
      .map { case (k, n, r) => k -> ((n, r)) }.toMap
    assert(got == Map("view" -> ((2L, 15.0)), "purchase" -> ((1L, 7.0))))
  }

  test("sessionPaths: ordered truncated type paths per session") {
    val df = Seq(
      (1L, 1L, "a", 0L), (1L, 2L, "b", 1000000L), (1L, 3L, "c", 2000000L),
      (1L, 4L, "a", 400000000L), // new session
      (2L, 5L, "a", 0L), (2L, 6L, "b", 1000000L), (2L, 7L, "c", 2000000L))
      .map { case (u, e, t, us) => (u, e, t, ts(us)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val got = Analytics.sessionPaths(df, maxLen = 2)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a>b" -> 2L, "a" -> 1L))
  }

  test("linearAttribution: equal split, remainder to earliest, self-credit, exact conservation") {
    // user 1 session: view(e1) → click(e2) → purchase(e3, 1.0001) —
    // vt = 10001, 2 touches → 5000 each + remainder 1 to the EARLIEST
    // (view). user 2: lone purchase(e4, 2.0) → self-credit 20000.
    val df = Seq(
      (1L, 1L, "view", 0.0, 0L),
      (1L, 2L, "click", 0.0, 1000000L),
      (1L, 3L, "purchase", 1.0001, 2000000L),
      (2L, 4L, "purchase", 2.0, 0L))
      .map { case (u, e, t, v, us) => (u, e, t, v, ts(us)) }
      .toDF("user_id", "event_id", "event_type", "value", "ts")
    val got = Analytics.linearAttribution(df, "purchase")
      .as[(String, Long, Long)].collect()
      .map { case (t, n, c) => t -> ((n, c)) }.toMap
    assert(got("view") == ((1L, 5001L)))
    assert(got("click") == ((1L, 5000L)))
    assert(got("purchase") == ((1L, 20000L)))
    // conservation: total credit = total purchase value in 1e-4 units
    assert(got.values.map(_._2).sum == 10001L + 20000L)
  }

  test("linearAttribution: NEGATIVE (refund) values conserve exactly") {
    // vt = -10001 over 3 touches: floor split gives base -3334 with
    // pmod remainder 1 → earliest touch gets -3333, total -10001.
    // The pre-fix truncating div/% under-credited by 1 unit here.
    val df = Seq(
      (1L, 1L, "view", 0.0, 0L),
      (1L, 2L, "click", 0.0, 1000000L),
      (1L, 3L, "email", 0.0, 2000000L),
      (1L, 4L, "purchase", -1.0001, 3000000L))
      .map { case (u, e, t, v, us) => (u, e, t, v, ts(us)) }
      .toDF("user_id", "event_id", "event_type", "value", "ts")
    val got = Analytics.linearAttribution(df, "purchase")
      .as[(String, Long, Long)].collect()
      .map { case (t, n, c) => t -> ((n, c)) }.toMap
    assert(got("view") == ((1L, -3333L)))  // earliest gets the +1 unit
    assert(got("click") == ((1L, -3334L)))
    assert(got("email") == ((1L, -3334L)))
    assert(got.values.map(_._2).sum == -10001L)
  }

  test("timeDecayAttribution: hand-computed dyadic decay, remainder to latest, refund conservation") {
    val day = 86400000000L
    // one 7-day session: view 2 days before, click 1 day before,
    // purchase 1.0001 → vt 10001; weights 2^28 : 2^29 (click closer)
    // → den 3·2^28; base floor(10001·1/3)=3333 (view),
    // floor(10001·2/3)=6667 (click); r = 10001−10000 = 1 → +1 to the
    // LATEST touch (click)
    val df = Seq(
      (1L, 1L, "view", 0.0, 0L),
      (1L, 2L, "click", 0.0, 1L * day),
      (1L, 3L, "purchase", 1.0001, 2L * day))
      .map { case (u, e, t, v, us) => (u, e, t, v, ts(us)) }
      .toDF("user_id", "event_id", "event_type", "value", "ts")
    val got = Analytics.timeDecayAttribution(df, "purchase",
        gapUs = 7L * day)
      .as[(String, Long, Long)].collect()
      .map { case (t, n, c) => t -> ((n, c)) }.toMap
    assert(got("view") == ((1L, 3333L)))
    assert(got("click") == ((1L, 6668L)))
    assert(got.values.map(_._2).sum == 10001L)
    // refund: vt = -10001, same weights → bases floor(-10001/3) =
    // -3334 (view), floor(-20002/3) = -6668 (click); r = -10001 -
    // (-10002) = 1 → +1 to click
    val rf = Seq(
      (1L, 1L, "view", 0.0, 0L),
      (1L, 2L, "click", 0.0, 1L * day),
      (1L, 3L, "purchase", -1.0001, 2L * day))
      .map { case (u, e, t, v, us) => (u, e, t, v, ts(us)) }
      .toDF("user_id", "event_id", "event_type", "value", "ts")
    val gr = Analytics.timeDecayAttribution(rf, "purchase",
        gapUs = 7L * day)
      .as[(String, Long, Long)].collect()
      .map { case (t, n, c) => t -> ((n, c)) }.toMap
    assert(gr("view") == ((1L, -3334L)))
    assert(gr("click") == ((1L, -6667L)))
    assert(gr.values.map(_._2).sum == -10001L)
    // beyond-maxDays touches clamp to the floor weight, not zero
    val far = Seq(
      (1L, 1L, "view", 0.0, 0L),
      (1L, 2L, "purchase", 1.0, 40L * day))
      .map { case (u, e, t, v, us) => (u, e, t, v, ts(us)) }
      .toDF("user_id", "event_id", "event_type", "value", "ts")
    val gf = Analytics.timeDecayAttribution(far, "purchase",
        gapUs = 50L * day)
      .as[(String, Long, Long)].collect()
      .map { case (t, n, c) => t -> ((n, c)) }.toMap
    assert(gf("view") == ((1L, 10000L)), "sole touch gets full credit")
  }

  test("groupSizeSkew: counts, exact percentiles, heaviest key min-tie") {
    // keys: 10×a=3, 20×b=3, 30×c=2 → sizes (3,3,2); max 3; ties on max
    // size → smallest key 10 wins
    val df = (Seq.fill(3)(10L) ++ Seq.fill(3)(20L) ++ Seq.fill(2)(30L))
      .toDF("k")
    val r = Analytics.groupSizeSkew(df, "k").collect().head
    assert(r.getAs[Long]("n_keys") == 3L)
    assert(r.getAs[Long]("max_size") == 3L)
    assert(r.getAs[Double]("p50_size") == 3.0)
    assert(r.getAs[Long]("top_key") == 10L)
    assert(r.getAs[Long]("top_size") == 3L)
  }

  test("giniIndex: equality → 0, total concentration → (n-1)/n") {
    val eq = (1 to 10).map(i => ("a", BigDecimal(5), i.toLong)) ++
      (1 to 10).map(i => ("b", if (i == 10) BigDecimal(100) else BigDecimal(0), i.toLong))
    val r = Analytics.giniIndex(eq.toDF("g", "v", "id"), "g", "v", "id")
      .collect().map(x => x.getString(0) -> x.getDouble(3)).toMap
    assert(r("a") == 0.0)
    assert(math.abs(r("b") - 0.9) < 1e-12) // (n-1)/n with n=10
  }

  test("categoryEntropy: uniform = ln k, single category = 0, order-free") {
    val rows = Seq((1L, "a"), (1L, "b"), (1L, "c"), (1L, "d"),
      (2L, "a"), (2L, "a"))
    val df = rows.toDF("user_id", "event_type")
    def run(d: org.apache.spark.sql.DataFrame) =
      Analytics.categoryEntropy(d, "user_id", "event_type")
        .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val r = run(df)
    assert(math.abs(r(1L) - math.log(4.0)) < 1e-9)
    assert(r(2L) == 0.0)
    assert(run(df.repartition(7)) == r) // integer sum is order-free
  }

  test("kaplanMeier: hand-computed curve; terminal point pinned to NULL (S=0)") {
    val life = Seq(0L, 0L, 1L, 2L, 2L).toDF("lifetime")
    val km = Analytics.kaplanMeier(life, "lifetime").orderBy("t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(km.map(x => (x._1, x._2, x._3)).toSeq ==
      Seq((0L, 2L, 5L), (1L, 1L, 3L), (2L, 2L, 2L)))
    import graft.functions.FixedMath.lnQ12
    assert(km(0)._4.contains(lnQ12(3) - lnQ12(5)))        // S = 3/5
    assert(math.abs(math.exp(km(0)._4.get / 1e12) - 0.6) < 1e-9)
    assert(km(1)._4.contains(lnQ12(3) - lnQ12(5) + lnQ12(2) - lnQ12(3)))
    assert(math.abs(math.exp(km(1)._4.get / 1e12) - 0.4) < 1e-9) // 3/5 · 2/3
    assert(km(2)._4.isEmpty)                      // everyone at risk dies
  }

  test("kaplanMeier censored: censored exits shrink risk set, no death term") {
    // t=0: 1 death + 1 censored of 5; t=1: 1 death of 3; t=2: 2 censored
    val life = Seq((0L, 1), (0L, 0), (1L, 1), (2L, 0), (2L, 0))
      .toDF("lifetime", "event")
    val km = Analytics.kaplanMeier(life, "lifetime", Some("event"))
      .orderBy("t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
    import graft.functions.FixedMath.lnQ12
    assert(km.map(x => (x._1, x._2, x._3, x._4)).toSeq ==
      Seq((0L, 1L, 1L, 5L), (1L, 1L, 0L, 3L), (2L, 0L, 2L, 2L)))
    assert(km(0)._5.contains(lnQ12(4) - lnQ12(5)))        // S = 4/5
    assert(km(1)._5.contains(lnQ12(4) - lnQ12(5) + lnQ12(2) - lnQ12(3)))
    assert(km(2)._5 == km(1)._5) // censored-only row leaves S unchanged
    assert(math.abs(math.exp(km(1)._5.get / 1e12) - 4.0 / 5 * 2 / 3) < 1e-9)
  }

  test("nelsonAalen: hand-computed increments; censored rows add zero hazard") {
    // same fixture as the censored KM: t=0: 1 death + 1 censored of 5;
    // t=1: 1 death of 3; t=2: 2 censored of 2
    val life = Seq((0L, 1), (0L, 0), (1L, 1), (2L, 0), (2L, 0))
      .toDF("lifetime", "event")
    val na = Analytics.nelsonAalen(life, "lifetime", Some("event"))
      .orderBy("t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(na.map(x => (x._1, x._2, x._3, x._4)).toSeq ==
      Seq((0L, 1L, 1L, 5L), (1L, 1L, 0L, 3L), (2L, 0L, 2L, 2L)))
    assert(na(0)._5 == 1000000000000L / 5)       // ⌊1·10¹²/5⌋
    assert(na(1)._5 == 1000000000000L / 3)       // ⌊1·10¹²/3⌋ (floor)
    assert(na(2)._5 == 0L)                       // censored-only: d=0
    assert(na(2)._6 == na(0)._5 + na(1)._5)      // running sum carries
    // partitioning invariance: the groupBy collapses before the window
    val na7 = Analytics.nelsonAalen(life.repartition(7), "lifetime",
      Some("event")).orderBy("t").collect().map(_.toSeq.toList).toList
    assert(na7 ==
      na.map(t => List[Any](t._1, t._2, t._3, t._4, t._5, t._6)).toList)
  }

  test("wilsonLowerBound: integer kernel matches the closed form; 5/5 loses to 900/1000") {
    val rows = (1 to 5).map(i => ("small", i <= 5)) ++
      (1 to 1000).map(i => ("big", i <= 900))
    val r = Analytics.wilsonLowerBound(rows.toDF("g", "conv"), "g", col("conv"))
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(4), x.getDouble(5)))).toMap
    val (n5, s5, q5, lb5) = r("small"); val (nB, sB, qB, lbB) = r("big")
    assert((n5, s5) == ((5L, 5L)) && (nB, sB) == ((1000L, 900L)))
    assert(lb5 < lbB) // the whole point of Wilson ranking
    def closed(n: Double, s: Double): Double = {
      val p = s / n; val z = 1.96; val z2 = z * z
      (p + z2 / (2 * n) - z * math.sqrt(p * (1 - p) / n + z2 / (4 * n * n))) /
        (1 + z2 / n)
    }
    assert(math.abs(lb5 - closed(5, 5)) < 1e-7)
    assert(math.abs(lbB - closed(1000, 900)) < 1e-7)
    assert(q5 == graft.functions.FixedMath.wilsonLbQ9(5, 5))
    assert(qB == graft.functions.FixedMath.wilsonLbQ9(1000, 900))
  }

  test("groupedTrend: exact line recovered; flat series has slope 0") {
    val rows = (0L to 10L).map(x => ("up", x, BigDecimal(3) * x + 7)) ++
      (0L to 10L).map(x => ("flat", x, BigDecimal(5)))
    val df = rows.toDF("g", "x", "y")
    val r = Analytics.groupedTrend(df, "g", "x", "y").collect()
      .map(x => x.getString(0) -> ((x.getDouble(2), x.getDouble(3)))).toMap
    assert(r("up") == ((3.0, 7.0)))
    assert(r("flat") == ((0.0, 5.0)))
  }

  test("patternWithNegation: blocker between trigger and conv kills the match") {
    def e(id: Long, u: Long, t: String, sec: Int) =
      (u, id, t, new Timestamp(sec * 1000L))
    val ev = Seq(
      e(1, 1, "view", 10), e(2, 1, "purchase", 20),           // match
      e(3, 2, "view", 10), e(4, 2, "click", 15), e(5, 2, "purchase", 20), // blocked
      e(6, 3, "click", 5), e(7, 3, "view", 10), e(8, 3, "purchase", 20),  // old blocker ok
      e(9, 4, "purchase", 20),                                 // no trigger
      e(10, 5, "view", 10), e(11, 5, "click", 15), e(12, 5, "view", 18),
      e(13, 5, "purchase", 20))                                // re-armed by 2nd view
      .toDF("user_id", "event_id", "event_type", "ts")
    val got = Analytics.patternWithNegation(ev, "view", "click", "purchase")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (3L, 8L), (5L, 13L)))
  }

  test("firstNStream: out-of-order arrival converges to the n earliest") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long)]
    val streamed = graft.streaming.EventStreams.firstNStream(spark,
      input.toDF().toDF("user_id", "ts", "event_id"), n = 2)
    val q = streamed.writeStream.format("memory").queryName("firstn_conv")
      .outputMode("append").start()
    try {
      // batch 1: late events first — both admitted provisionally
      input.addData((1L, ts("2024-01-01 12:00:00"), 103L),
        (1L, ts("2024-01-01 13:00:00"), 104L))
      q.processAllAvailable()
      // batch 2: two EARLIER events arrive — they must evict both
      input.addData((1L, ts("2024-01-01 10:00:00"), 101L),
        (1L, ts("2024-01-01 11:00:00"), 102L))
      q.processAllAvailable()
      val rows = spark.table("firstn_conv").orderBy("emit")
        .as[(Long, Long, Seq[(Long, Long)])].collect().toSeq
      assert(rows.map(_._2) == Seq(1L, 2L))
      assert(rows.head._3.map(_._2) == Seq(103L, 104L))
      assert(rows.last._3 == Seq(
        (us("2024-01-01 10:00:00"), 101L), (us("2024-01-01 11:00:00"), 102L)))
    } finally q.stop()
  }

  test("markovAttribution: hand-solved chain, removal effects, lonely conversions") {
    // u1: view→click→purchase; u2: view (no conv); u3: click→purchase;
    // u4: purchase only (lonely START→CONV). Chain: START→{view:2,
    // click:1, CONV:1}, view→{click:1, NULL:1}, click→{CONV:2}.
    // p(click)=1e12, p(view)=5e11, p_full(START)=3e12/4=7.5e11.
    // remove view → p=5e11 (effect ⌊1e6/3⌋); remove click → p=2.5e11
    // (effect ⌊2e6/3⌋).
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      (1L, t(0), 101L, "view"), (1L, t(1), 102L, "click"),
      (1L, t(2), 103L, "purchase"),
      (2L, t(0), 201L, "view"),
      (3L, t(0), 301L, "click"), (3L, t(1), 302L, "purchase"),
      (4L, t(0), 401L, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Analytics.markovAttribution(ev, "purchase")
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("click", 750000000000L, 250000000000L, 666666L),
      ("view", 750000000000L, 500000000000L, 333333L)))
    // determinism under repartitioning (integer floors, no float paths)
    val again = Analytics.markovAttribution(ev.repartition(7), "purchase")
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSeq == got.toSeq)
  }

  test("topKStream: cross-batch eviction converges to the batch top-k") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Double, Long)]
    val streamed = graft.streaming.EventStreams.topKStream(spark,
      input.toDF().toDF("event_type", "value", "event_id"), k = 2)
    val q = streamed.writeStream.format("memory").queryName("topk_conv")
      .outputMode("append").start()
    try {
      // batch 1: small values admitted provisionally; tie on 5.0 keeps
      // the smaller event_id first
      input.addData(("a", 5.0, 20L), ("a", 5.0, 10L), ("a", 1.0, 30L))
      q.processAllAvailable()
      // batch 2: two larger values evict everything from batch 1
      input.addData(("a", 9.0, 40L), ("a", 7.0, 50L))
      q.processAllAvailable()
      val rows = spark.table("topk_conv").orderBy("emit")
        .as[(String, Long, Seq[(Double, Long)])].collect().toSeq
      assert(rows.map(_._2) == Seq(1L, 2L))
      assert(rows.head._3 == Seq((5.0, 10L), (5.0, 20L)))
      assert(rows.last._3 == Seq((9.0, 40L), (7.0, 50L)))
    } finally q.stop()
  }

  test("ewmaChartStream: cross-batch recurrence equals the batch chart; late days dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(d: String) = Timestamp.valueOf(s"$d 06:00:00")
    val inOrder = Seq(
      ("a", t("2024-03-01"), 100.0), ("a", t("2024-03-02"), 100.0),
      ("a", t("2024-03-03"), 200.0), ("a", t("2024-03-04"), 100.0))
    val input = MemoryStream[(String, Timestamp, Double)]
    val streamed = graft.streaming.EventStreams.ewmaChartStream(spark,
      input.toDF().toDF("event_type", "ts", "value"))
    val q = streamed.writeStream.format("memory").queryName("ewma_conv")
      .outputMode("append").start()
    try {
      input.addData(inOrder.take(2): _*)
      q.processAllAvailable()
      // batch 2 carries the state forward AND a late day-1 row that
      // must be dropped (its cell already emitted)
      input.addData(inOrder.drop(2) :+ (("a", t("2024-03-01"), 999.0)): _*)
      q.processAllAvailable()
      val got = spark.table("ewma_conv")
        .as[(String, Long, Long, Long, Boolean)].collect().sortBy(_._2).toSeq
      val batch = graft.operators.Timeseries
        .ewmaChart(inOrder.toDF("event_type", "ts", "value"))
        .as[(String, Long, Long, Long, Boolean)].collect().sortBy(_._2).toSeq
      assert(got == batch)
      assert(got.map(_._5) == Seq(false, false, true, false))
    } finally q.stop()
  }

  test("weightedQuantiles: hand-computed medians, duplicate collapse") {
    // group a: values 1(w3), 2(w1), 3(w1) → W=5, cum(1)=3 ≥ 2.5 → p50=1
    // group b: 10(w1), 20(w1) → W=2, cum(10)=1, 2·1 ≥ 2 → p50=10 (lower)
    val df = Seq(("a", 1.0, 2L), ("a", 1.0, 1L), ("a", 2.0, 1L),
      ("a", 3.0, 1L), ("b", 10.0, 1L), ("b", 20.0, 1L))
      .toDF("g", "v", "w")
    val r = Analytics.weightedQuantiles(df, "g", "v", "w",
        Seq((1, 2, "p50"), (1, 1, "p100")))
      .collect().map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(r("a") == ((1.0, 3.0)))
    assert(r("b") == ((10.0, 20.0)))
  }

  test("degenerate inputs yield NULL statistics, not ANSI divide-by-zero job kills") {
    // found by the 3-rows-per-table sweep: one degenerate group killed
    // the whole query under ANSI. Contract: undefined statistic → null.
    import org.apache.spark.sql.Row
    // Welch with a single-row arm: variance undefined → null t
    val oneArm = Seq((0, 1.0), (1, 2.0), (1, 3.0)).toDF("arm", "v")
    val w = Analytics.welchTTest(oneArm, col("arm"), col("v")).head()
    assert(w.isNullAt(w.fieldIndex("var0")))
    assert(w.isNullAt(w.fieldIndex("t_stat")))
    // identical-constant arms: se2 = 0 → null t (not ±Inf/NaN)
    val const = Seq((0, 5.0), (0, 5.0), (1, 5.0), (1, 5.0)).toDF("arm", "v")
    assert(Analytics.welchTTest(const, col("arm"), col("v"))
      .head().isNullAt(6))
    // trend: a 1-point group nulls its slope; the 2-point group keeps one
    val tr = Seq(("a", 1L, 1.0), ("b", 1L, 1.0), ("b", 2L, 3.0))
      .toDF("g", "x", "y")
    val slopes = Analytics.groupedTrend(tr, "g", "x", "y")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2)))).toMap
    assert(slopes("a") == null && slopes("b") == 2.0)
    // gini: zero-total group → null, nonzero group still measured
    val gi = Seq(("z", 0.0, 1L), ("z", 0.0, 2L), ("p", 1.0, 3L),
      ("p", 3.0, 4L)).toDF("g", "v", "id")
    val gmap = Analytics.giniIndex(gi, "g", "v", "id")
      .collect().map(r => r.getString(0) -> r.isNullAt(3)).toMap
    assert(gmap("z") && !gmap("p"))
    // KS with an empty second sample → null statistic row, no throw
    val ks = Analytics.ksDrift(Seq(1.0, 2.0).toDF("v"), "v",
        org.apache.spark.sql.functions.lit(false))
      .head()
    assert(ks.isNullAt(3))
    // chi-sq with an empty arm → null statistic
    val ch = Analytics.chisqFromCells(Analytics.chisqCells(
      Seq(("x", false), ("y", false)).toDF("c", "f"), "c", col("f"))).head()
    assert(ch.isNullAt(ch.fieldIndex("chisq")))
  }

  test("psiDrift: hand case = (2/3)ln2; identical mix = 0; zero cells smoothed; order-free") {
    import graft.functions.FixedMath
    // x: expected 3 / actual 1; y: expected 1 / actual 3. Smoothed
    // (a+1, b+1, n+k): pA=(4/6,2/6), pB=(2/6,4/6) → PSI = (2/3)·ln 2.
    val rows = Seq.fill(3)(("x", false)) ++ Seq(("x", true)) ++
      Seq(("y", false)) ++ Seq.fill(3)(("y", true))
    val df = rows.toDF("cat", "f").repartition(5)
    val got = Analytics.psiDrift(df, "cat", col("f"))
      .as[(Long, Long, Long, Long, Double)].head()
    assert(got._1 == 4L && got._2 == 4L && got._3 == 2L)
    // exact integer replay of the documented formula
    val terms = Seq((3L, 1L), (1L, 3L)).map { case (a, b) =>
      val x = (b + 1) * 6; val y = (a + 1) * 6
      BigInt(x - y) * BigInt(FixedMath.lnQ12(x) - FixedMath.lnQ12(y))
    }
    val expectQ = (terms.sum / BigInt(36)).toLong
    assert(got._4 == expectQ)
    assert(math.abs(got._5 - 2.0 / 3.0 * math.log(2.0)) < 1e-9)
    // identical distributions → exactly 0
    val same = (Seq.fill(5)(("x", false)) ++ Seq.fill(5)(("x", true)) ++
      Seq.fill(2)(("y", false)) ++ Seq.fill(2)(("y", true)))
      .toDF("cat", "f")
    assert(Analytics.psiDrift(same, "cat", col("f"))
      .select("psi_q").as[Long].head() == 0L)
    // a category absent from one side must not blow up (the PSI point)
    val zero = (Seq.fill(4)(("x", false)) ++ Seq.fill(3)(("x", true)) ++
      Seq.fill(1)(("new", true))).toDF("cat", "f")
    val z = Analytics.psiDrift(zero, "cat", col("f"))
      .as[(Long, Long, Long, Long, Double)].head()
    assert(z._3 == 2L && z._4 > 0L)
    // order independence: different partitioning, same integers
    val shuffled = Analytics.psiDrift(df.repartition(13), "cat", col("f"))
      .select("psi_q").as[Long].head()
    assert(shuffled == got._4)
  }

  test("welchTTest: identical arms give t=0; known case matches formula") {
    val same = Seq((0, 1.0), (0, 2.0), (0, 3.0), (1, 1.0), (1, 2.0), (1, 3.0))
      .toDF("arm", "x")
    val r0 = Analytics.welchTTest(same, col("arm"), col("x")).collect().head
    assert(r0.getAs[Double]("t_stat") == 0.0)
    assert(r0.getAs[Double]("mean0") == 2.0 && r0.getAs[Double]("var0") == 1.0)
    // arm1 shifted by +10: t = 10 / sqrt(1/3 + 1/3), df = 4 (equal n, var)
    val shift = Seq((0, 1.0), (0, 2.0), (0, 3.0), (1, 11.0), (1, 12.0), (1, 13.0))
      .toDF("arm", "x")
    val r1 = Analytics.welchTTest(shift, col("arm"), col("x")).collect().head
    assert(math.abs(r1.getAs[Double]("t_stat") - 10.0 / math.sqrt(2.0 / 3.0)) < 1e-12)
    assert(math.abs(r1.getAs[Double]("df_welch") - 4.0) < 1e-12)
  }

  test("skyline2d equals brute-force dominance, incl. ties and duplicates") {
    val rng = new scala.util.Random(7)
    val pts = (1 to 200).map(i =>
      (i.toLong, (rng.nextInt(20) * 10).toDouble, rng.nextInt(30).toLong)) ++
      Seq((900L, 50.0, 25L), (901L, 50.0, 25L)) // exact duplicate pair
    val df = pts.toDF("id", "price", "size")
    val got = Analytics.skyline2d(df, "price", "size")
      .collect().map(_.getLong(0)).toSet
    val want = pts.filter { case (_, px, sx) =>
      !pts.exists { case (_, py, sy) =>
        py <= px && sy >= sx && (py < px || sy > sx)
      }
    }.map(_._1).toSet
    assert(got == want)
    // duplicates never dominate each other: both survive or neither
    assert(got.contains(900L) == got.contains(901L))
  }

  test("equiFrequencyBins: rank-determined populations, exact edges, boundary ties deterministic") {
    // 10 values into 4 bins: ranks 1-3,4-5,6-8,9-10 → sizes 3,2,3,2
    val df = Seq(5.0, 1.0, 3.0, 2.0, 4.0, 4.0, 4.0, 9.0, 7.0, 8.0).toDF("v")
    val got = Analytics.equiFrequencyBins(df, "v", bins = 4)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    // sorted tenk: 1,2,3 | 4,4 | 4,5,7 | 8,9 — the 4-run straddles
    // bins 1/2 but the edge VALUES are forced: bin1 hi=4, bin2 lo=4
    assert(got.map(_._4) == List(3L, 2L, 3L, 2L))
    assert(got == List(
      (0L, 10000L, 30000L, 3L),
      (1L, 40000L, 40000L, 2L),
      (2L, 40000L, 70000L, 3L),
      (3L, 80000L, 90000L, 2L)))
  }

  test("targetEncode: shrinks rare categories toward the global mean; hand-computed") {
    // cat a: 4 rows of 10 → S_a=400000 tenk; cat b: 1 row of 100 →
    // S_b=1000000 tenk; N=5, S=1400000 (global mean 28).
    // m=10: enc_a = (40 + 10·28)/(4+10) = 320/14 = 22.857142…
    //       enc_b = (100 + 280)/11 = 34.5454…
    // b (n=1, target 100) lands near the global mean, not at 100.
    val df = (Seq.fill(4)(("a", 10.0)) :+ (("b", 100.0))).toDF("c", "v")
    val got = Analytics.targetEncode(df, "c", "v", m = 10)
      .as[(String, Long, Long)].collect().sortBy(_._1).toList
    assert(got == List(("a", 4L, 22857142L), ("b", 1L, 34545454L)))
    // shrinkage direction: enc_b far below its raw mean of 100
    assert(got(1)._3 < 50000000L)
  }

  test("robustStats: hand-computed order statistics; outlier-resistant; even/odd n") {
    // group a (n=11, odd): 1..10 and one absurd outlier 10000.
    // sorted tenk: 10000,20000,...,100000,100000000
    //   median = 6th = 60000; |x-med| sorted: 0,10000×2,20000×2,30000×2,
    //   40000×2,50000, 99940000 → MAD = 6th = 30000
    //   n//10 = 1 → lo = 2nd = 20000, hi = 10th = 100000: clamp 10000→
    //   20000, 10^8→100000; sum = 20000+20000+...+100000+100000
    //   = (20000+2·30000… ) computed below; winsor mean = sum DIV 11
    val a = (1 to 10).map(v => ("a", v.toDouble)) :+ (("a", 10000.0))
    // group b (n=4, even): 1,2,3,4 → lower median = 2nd = 20000;
    //   deviations 10000,0,10000,20000 sorted 0,10000,10000,20000 →
    //   MAD = (4+1)//2 = 2nd = 10000; n//10=0 → lo=1st, hi=4th (no
    //   clamp) → winsor mean = 100000 DIV 4 = 25000
    val b = (1 to 4).map(v => ("b", v.toDouble))
    val got = Analytics.robustStats((a ++ b).toDF("g", "v"), "g", "v")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    val sumA = (20000L +: (2 to 10).map(_ * 10000L)) :+ 100000L
    assert(got == List(
      ("a", 11L, 60000L, 30000L, sumA.sum / 11L),
      ("b", 4L, 20000L, 10000L, 25000L)))
    // resistance: the plain mean of group a is ~918x the winsorized one
    assert(got.head._5 < 100000L)
  }

  test("aucExact: hand-computed rank-sum with ties; degenerate class is null") {
    // pos {3, 2, 1}, neg {2, 2, 0}: pairs won = (3>all)=3 + (1>0)=1
    //   + (2>0)=1 = 5, ties (2 vs 2,2) = 2 → AUC = (2·5+2)/(2·3·3)
    //   = 12/18 → Q9 floor 666666666
    val df = Seq((3.0, true), (2.0, true), (1.0, true),
      (2.0, false), (2.0, false), (0.0, false)).toDF("s", "y")
    val r = Analytics.aucExact(df, "s", col("y")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (3L, 3L, 666666666L))
    // one bucket per cell exercises the cross-bucket offset path
    val r32 = Analytics.aucExact(df, "s", col("y"), numBuckets = 32).head()
    assert(r32.getLong(2) == 666666666L)
    // all-positive input: no pairs to rank → null, not divide-by-zero
    val deg = Analytics.aucExact(
      Seq((1.0, true), (2.0, true)).toDF("s", "y"), "s", col("y")).head()
    assert(deg.isNullAt(2))
  }

  test("decileLift: hand-computed buckets, capture and lift exact") {
    // desc order: 4(pos) 3(neg) 2(neg) 1(pos); buckets=2 → halves
    val df = Seq((4.0, "a", true), (3.0, "b", false),
      (2.0, "c", false), (1.0, "d", true)).toDF("s", "k", "y")
    val got = Analytics.decileLift(df, "s", "k", col("y"), buckets = 2)
      .orderBy("decile")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toList
    assert(got == List(
      // top half: 1 of 2 positives captured, lift (1·4)/(2·2) = 1
      (0L, 2L, 1L, 2L, 1L, 35000L, 500000000L, 500000000L, 1000000000L),
      (1L, 2L, 1L, 4L, 2L, 15000L, 500000000L, 1000000000L, 1000000000L)))
  }

  test("emdDrift: hand-computed CDF distance; identical mix is zero") {
    // bins 0,1,2: ref [2,1,1] cur [0,2,2]; cum cross-terms
    //   |2·4−0·4|+|3·4−2·4|+|4·4−4·4| = 12 → 12e9 DIV 16 = 0.75 widths
    val rows = Seq.fill(2)((0, false)) ++ Seq((1, false), (2, false)) ++
      Seq.fill(2)((1, true)) ++ Seq.fill(2)((2, true))
    val r = Analytics.emdDrift(rows.toDF("h", "cur"), "h", col("cur")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (4L, 4L, 3L, 750000000L))
    // same histogram on both sides → EMD exactly 0
    val same = Seq((0, false), (1, false), (0, true), (1, true))
    val z = Analytics.emdDrift(same.toDF("h", "cur"), "h", col("cur")).head()
    assert(z.getLong(3) == 0L)
  }

  test("transitionTopK: hand-computed counts, rank ties by type, Q9 probs") {
    // one user: A B A C A B → pairs A→B ×2, B→A, A→C, C→A
    val seq = Seq("A", "B", "A", "C", "A", "B").zipWithIndex.map {
      case (t, i) => (1L, i.toLong, t, ts(f"2024-01-01 10:0$i:00"))
    }
    val got = Analytics.transitionTopK(
        seq.toDF("user_id", "event_id", "event_type", "ts"))
      .orderBy("src", "rank")
      .as[(String, Long, String, Long, Long)].collect().toList
    assert(got == List(
      ("A", 1L, "B", 2L, 666666666L), ("A", 2L, "C", 1L, 333333333L),
      ("B", 1L, "A", 1L, 1000000000L), ("C", 1L, "A", 1L, 1000000000L)))
  }

  test("robustOutliers: modified z-score flags only the planted outlier") {
    // group a: 1..10 + 10000 → med 60000, MAD 30000, k=3 → threshold
    // 90000; only the outlier's deviation (99,940,000) crosses it.
    val a = (1 to 10).map(v => ("a", v.toDouble)) :+ (("a", 10000.0))
    val b = (1 to 4).map(v => ("b", v.toDouble))
    val got = Analytics.robustOutliers((a ++ b).toDF("g", "v"), "g", "v")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got == List(("a", 11L, 1L, 1000000000L / 11L),
      ("b", 4L, 0L, 0L)))
  }

  test("cohenKappa: textbook 0.4; perfect disagreement -1; negative trunc matches //") {
    // 2x2: agree 35/50 (p0=.7), margins 25/25 vs 30/20 (pe=.5) → κ=0.4
    val rows = Seq.fill(20)(("a", "a")) ++ Seq.fill(5)(("a", "b")) ++
      Seq.fill(10)(("b", "a")) ++ Seq.fill(15)(("b", "b"))
    val r = Analytics.cohenKappa(rows.toDF("r1", "r2"), "r1", "r2").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      (50L, 35L, 400000000L))
    // complete disagreement on a symmetric 2x2 → κ = −1 exactly
    val k2 = Analytics.cohenKappa(
      Seq(("a", "b"), ("b", "a")).toDF("r1", "r2"), "r1", "r2").head()
    assert(k2.getLong(2) == -1000000000L)
    // non-divisible negative: n=2, agree=0, pe=1 → −10⁹/3 must
    // TRUNCATE to −333333333 (DuckDB // truncates; floor would be …34)
    val k3 = Analytics.cohenKappa(
      Seq(("a", "b"), ("b", "c")).toDF("r1", "r2"), "r1", "r2").head()
    assert(k3.getLong(2) == -333333333L)
    // both raters one constant label: pe = n² → undefined, null
    val k4 = Analytics.cohenKappa(
      Seq(("a", "a"), ("a", "a")).toDF("r1", "r2"), "r1", "r2").head()
    assert(k4.isNullAt(2))
  }

  test("abcClassification: permille boundary inclusive; exact shares") {
    // desc 50,30,10,6,4 of 100: cum 50,80 → A (80.0% INCLUSIVE),
    // 90 → B, 96,100 → C
    val df = Seq(("a", 50.0), ("b", 30.0), ("c", 10.0), ("d", 6.0),
      ("e", 4.0)).toDF("k", "v")
    val got = Analytics.abcClassification(df, "k", "v")
      .orderBy("abc_class")
      .as[(String, Long, Long, Long)].collect().toList
    assert(got == List(("A", 2L, 800000L, 800000000L),
      ("B", 1L, 100000L, 100000000L), ("C", 2L, 100000L, 100000000L)))
  }

  test("logRank: hand-computed O-E and variance; arm swap flips the sign") {
    // arm1 dies at t=1 (x2); arm0: death t=2, censored t=3
    // t=1: d1=2 d=2 n1=2 n=4 → O−E = (2·4−2·2)/4 = 1 → 10⁹;
    //   V = 2·2·2·2/(16·3) → ⌊10⁹/3⌋; t=2: d=1 n1=0 → both 0
    val df = Seq((1L, 1L, 1L), (1L, 1L, 1L), (2L, 1L, 0L), (3L, 0L, 0L))
      .toDF("t", "e", "arm")
    val r = Analytics.logRank(df, "t", "e", col("arm") === 1).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      (2L, 1000000000L, 333333333L))
    val sw = Analytics.logRank(df, "t", "e", col("arm") === 0).head()
    assert((sw.getLong(1), sw.getLong(2)) == (-1000000000L, 333333333L))
    // a continuous (double) duration fails LOUDLY instead of silently
    // casting into a corpus-sized partition-less window (r17 verdict
    // hygiene item — the joinSkewCells misuse discipline)
    val ex = intercept[IllegalArgumentException] {
      Analytics.logRank(
        Seq((1.5, 1L, 1L)).toDF("t", "e", "arm"), "t", "e",
        col("arm") === 1)
    }
    assert(ex.getMessage.contains("integral banded duration"))
  }

  test("aucByGroup: per-segment rank-sum; degenerate segment null") {
    val df = Seq(
      ("g1", 3.0, true), ("g1", 2.0, true), ("g1", 1.0, true),
      ("g1", 2.0, false), ("g1", 2.0, false), ("g1", 0.0, false),
      ("g2", 5.0, true), ("g2", 4.0, true)) // no negatives in g2
      .toDF("g", "s", "y")
    val got = Analytics.aucByGroup(df, "g", "s", col("y"))
      .orderBy("g").collect().toList
    assert(got.head.getString(0) == "g1" &&
      got.head.getLong(3) == 666666666L)
    assert(got(1).getString(0) == "g2" && got(1).isNullAt(3))
  }

  test("conformalCoverage: exact order-statistic q-hat; k>n gives infinite interval") {
    // calibration residuals 1..9 (alpha=0.1): k = ceil(10*0.9) = 9 ->
    // q_hat = 9; test residuals {5, 9, 10} -> 2 of 3 covered
    val rows = (1L to 9L).map(r => (r, 0L, true)) ++
      Seq((5L, 0L, false), (9L, 0L, false), (10L, 0L, false))
    val df = rows.toDF("y", "yhat", "cal")
    val got = Analytics.conformalCoverage(df, "y", "yhat", col("cal"))
      .collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4), got.getLong(5)) ==
      (9L, 9L, 9L, 3L, 2L, 2L * 1000000000L / 3L))
    // k > n_cal: q_hat NULL = infinite interval, coverage exactly 1
    val tiny = Seq((1L, 0L, true), (2L, 0L, true), (100L, 0L, false))
      .toDF("y", "yhat", "cal")
    val g2 = Analytics.conformalCoverage(tiny, "y", "yhat", col("cal"))
      .collect().head
    assert(g2.getLong(0) == 2L && g2.getLong(1) == 3L && g2.isNullAt(2))
    assert(g2.getLong(5) == 1000000000L)
  }

  test("signFlipTest: exact splitmix replay; null-effect p = 1") {
    import graft.functions.Hashing.splitmix64
    val gold = BigInt("9e3779b97f4a7c15", 16).toLong
    def sgn(k: Long, j: Int): Long =
      if ((splitmix64(k + gold * (j + 1)) & 1L) == 1L) 1L else -1L
    val diffs = (1L to 20L).map(k => (k, k * 7 - 60))  // mixed signs
    val tObs = math.abs(diffs.map(_._2).sum)
    val nGe = (0 until 64).count { j =>
      math.abs(diffs.map { case (k, d) => sgn(k, j) * d }.sum) >= tObs
    }
    val got = Analytics.signFlipTest(diffs.toDF("k", "d"), "k", "d")
      .collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4)) ==
      (20L, tObs, 64L, nGe.toLong, nGe * 1000L / 64L))
    // all-zero diffs: T_obs = 0 and every permutation ties -> p = 1
    val z = (1L to 5L).map(k => (k, 0L)).toDF("k", "d")
    val g0 = Analytics.signFlipTest(z, "k", "d").collect().head
    assert(g0.getLong(1) == 0L && g0.getLong(3) == 64L &&
      g0.getLong(4) == 1000L)
  }

  test("calibrationCurve: hand-computed bins, exact single-floor ECE") {
    // bin 1: preds {1000, 1000}, one positive -> mean 1000, rate 5e8
    // bin 9: preds {9000, 9000}, both positive -> mean 9000, rate 1e9
    // gap = |2000-10000| + |18000-20000| = 10000
    // ece_q9 = 10000*1e9 / (10000*4) = 250_000_000
    val df = Seq((1000L, false), (1000L, true), (9000L, true),
      (9000L, true)).toDF("p", "y")
    val got = Analytics.calibrationCurve(df, "p", col("y"))
      .orderBy("bin")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toList
    assert(got == List(
      (1L, 2L, 1000L, 1L, 500000000L, 250000000L),
      (9L, 2L, 9000L, 2L, 1000000000L, 250000000L)))
    // perfectly calibrated degenerate: p = 10000 & all positive -> ECE 0
    // (p=10000 lands in the top bin via the least() edge clamp)
    val perf = Seq((10000L, true), (10000L, true)).toDF("p", "y")
    val g2 = Analytics.calibrationCurve(perf, "p", col("y"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toList
    assert(g2 == List((9L, 2L, 10000L, 2L, 1000000000L, 0L)))
  }

  test("judgeAgreement: hand-computed kappa per pair, ties abstain, alpha over the panel") {
    // verdict design (a = least item of the pair, v = 1 iff a wins):
    //   item X=(1,2): j1 v=1 (two a-wins), j2 v=0, j3 exact tie → abstain
    //   item Y=(3,4): j1 v=1, j2 v=1, j3 v=0
    //   item Z=(5,6): j1 v=0, j2 v=0
    val wins = Seq(
      (1L, 1L, 2L, 2L), (1L, 3L, 4L, 1L), (1L, 6L, 5L, 1L),
      (2L, 2L, 1L, 1L), (2L, 3L, 4L, 1L), (2L, 6L, 5L, 3L),
      (3L, 1L, 2L, 1L), (3L, 2L, 1L, 1L), (3L, 4L, 3L, 2L))
      .toDF("judge", "winner", "loser", "n")
    val out = Analytics.judgeAgreement(wins)
      .orderBy("judge_a", "judge_b")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toList
    // j1-j2: N=3 agree=2, n1a=2 n2a=1 → num=2 den=5, κ=400000;
    //   po = 2e6 DIV 3, pe = 4e6 DIV 9
    // j1-j3 and j2-j3 share only Y, disagree → num=0 den=1, κ=0
    // α: X t=1e12, Y t=1e12, Z t=0; n=7 A=3 B=4 →
    //   6·2e12·1e6 DIV 12e12 = 1e6 → α = 0 (panel no better than chance)
    assert(out == List(
      (1L, 2L, 3L, 2L, 666666L, 444444L, 400000L, 0L, 7L),
      (1L, 3L, 1L, 0L, 0L, 0L, 0L, 0L, 7L),
      (2L, 3L, 1L, 0L, 0L, 0L, 0L, 0L, 7L)))
  }

  test("bradleyTerryConfidence: symmetric 2-item case exact by hand; more games shrink se") {
    // A and B split 2-2: ratings both exactly 1e6, p = 1/2, games
    // cell g_AB = 4 → info = 4·(s·s·1e12)//(2s)² = 1e12 exactly,
    // se = 1e12 // isqrt(1e12) = 1e6 (se(log s) = 1.0)
    val wins = Seq((1L, 2L, 2L), (2L, 1L, 2L))
      .toDF("winner", "loser", "n")
    val out = Analytics.bradleyTerryConfidence(wins, rounds = 4)
      .orderBy("item")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(out == List(
      (1L, 1000000L, 4L, 1000000000000L, 1000000L),
      (2L, 1000000L, 4L, 1000000000000L, 1000000L)))
    // 4× the games at the same ratios: info ×4, se halves (floor ±1)
    val wins4 = Seq((1L, 2L, 8L), (2L, 1L, 8L))
      .toDF("winner", "loser", "n")
    val out4 = Analytics.bradleyTerryConfidence(wins4, rounds = 4)
      .orderBy("item")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(out4.head._4 == 4000000000000L)
    assert(out4.head._5 <= out.head._5 / 2 + 1)
  }

  test("judgeConsensusBias: LOO majority scoring by hand; ties unscored; zero-agree Wilson reads 0") {
    // same fixture as the kappa test: j1 X=1 Y=1 Z=0; j2 X=0 Y=1 Z=0;
    // j3 Y=0. LOO: Y always ties for j1/j2 (unscored); X majorities
    // flip against both voters (disagree); Z agrees for j1/j2; j3's
    // only pair Y has LOO majority 1 vs their 0 (disagree).
    val wins = Seq(
      (1L, 1L, 2L, 2L), (1L, 3L, 4L, 1L), (1L, 6L, 5L, 1L),
      (2L, 2L, 1L, 1L), (2L, 3L, 4L, 1L), (2L, 6L, 5L, 3L),
      (3L, 1L, 2L, 1L), (3L, 2L, 1L, 1L), (3L, 4L, 3L, 2L))
      .toDF("judge", "winner", "loser", "n")
    val out = Analytics.judgeConsensusBias(wins).orderBy("judge")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(out.map(r => (r._1, r._2, r._3, r._4)) == List(
      (1L, 2L, 1L, 500000L), (2L, 2L, 1L, 500000L), (3L, 1L, 0L, 0L)))
    // Wilson honesty: bounded by the rate (Q9 vs Q6·1000), zero at 0/1
    out.foreach { r =>
      assert(r._5 >= 0L && r._5 <= r._4 * 1000L,
        s"wilson ${r._5} must sit in [0, rate] for judge ${r._1}")
    }
    assert(out.last._5 == 0L)
  }

  test("judgeAgreement: perfect disagreement reads kappa = -1e6 exactly (signed floor)") {
    val wins = Seq(
      (1L, 1L, 2L, 1L), (1L, 4L, 3L, 1L),   // j1: X v=1, Y v=0
      (2L, 2L, 1L, 1L), (2L, 3L, 4L, 1L))   // j2: X v=0, Y v=1
      .toDF("judge", "winner", "loser", "n")
    val out = Analytics.judgeAgreement(wins)
      .select("judge_a", "judge_b", "n_items", "n_agree", "po_q6",
        "pe_q6", "kappa_q6")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toList
    // N=2 agree=0 n1a=1 n2a=1 → num=-2 den=2 → κ = -1000000
    assert(out == List((1L, 2L, 2L, 0L, 0L, 500000L, -1000000L)))
  }

  // (result, whether the rounds ran as Spark jobs)
  private def stationary(cells: org.apache.spark.sql.DataFrame, rounds: Int) = {
    val (pi, jobs) = extraJobs(rounds)(r => Analytics.stationaryFromCells(
      cells, rounds = r).orderBy("state").as[(String, Long)].collect().toList)
    (pi, jobs > 0)
  }

  private def bt(wins: org.apache.spark.sql.DataFrame, rounds: Int) = {
    val (s, jobs) = extraJobs(rounds)(r => Analytics.bradleyTerryFromWins(
      wins, rounds = r).orderBy("item").as[(Long, Long)].collect().toList)
    (s, jobs > 0)
  }

  test("stationaryFromCells: driver fixed point ≡ distributed loop (r18 gate)") {
    // asymmetric 3-state chain incl. a mass-leaking state (C has no
    // outgoing row) — exercises the left-join-coalesce-0 semantics on
    // both paths
    val cells = Seq(("A", "A", 3L), ("A", "B", 2L), ("B", "C", 5L),
      ("B", "A", 1L)).toDF("src", "dst", "n")
    val (viaDriver, driverLoop) = stationary(cells, 7)
    assert(!driverLoop, "a 3-state chain fits: the rounds run on the driver")
    val (viaSpark, sparkLoop) = withoutBroadcast(stationary(cells, 7))
    assert(sparkLoop, "threshold -1 must force the distributed loop")
    assert(viaDriver == viaSpark,
      "driver fixed point must equal the distributed loop exactly")
    assert(viaDriver.map(_._1) == List("A", "B", "C"))
  }

  test("bradleyTerryFromWins: driver fixed point ≡ distributed loop (r18 gate)") {
    // 4 items, asymmetric records incl. an all-losses item (4) whose
    // rating must floor at 1 on both paths
    val wins = Seq((1L, 2L, 5L), (2L, 1L, 2L), (1L, 3L, 1L),
      (3L, 2L, 4L), (1L, 4L, 9L), (2L, 4L, 1L))
      .toDF("winner", "loser", "n")
    val (viaDriver, driverLoop) = bt(wins, 6)
    assert(!driverLoop, "a 4-item arena fits: the rounds run on the driver")
    val (viaSpark, sparkLoop) = withoutBroadcast(bt(wins, 6))
    assert(sparkLoop, "threshold -1 must force the distributed loop")
    assert(viaDriver == viaSpark,
      "driver MM fixed point must equal the distributed loop exactly")
    assert(viaDriver.map(_._1) == List(1L, 2L, 3L, 4L))
    assert(viaDriver.minBy(_._2)._1 == 4L, "all-losses item rates lowest")
  }

  test("stationaryFromCells: CELL-count gate forces the distributed branch (r19)") {
    // few states, but a cell table over the threshold: a states-only
    // gate would collect it; the cell gate must route to the distributed
    // loop — and both must agree exactly. Spark's row estimate is 28 B
    // for a (string) state and 56 B for a (string, string, long) cell,
    // so 100 B admits the 3 states (84 B) but not the 5 cells (280 B).
    val cells = Seq(("A", "A", 3L), ("A", "B", 2L), ("B", "C", 5L),
      ("B", "A", 1L), ("C", "A", 4L)).toDF("src", "dst", "n")
    val (viaDriver, driverLoop) = stationary(cells, 5)
    assert(!driverLoop)
    val (viaSpark, sparkLoop) =
      withConf("spark.sql.autoBroadcastJoinThreshold", "100")(stationary(cells, 5))
    assert(sparkLoop, "cells over the threshold must force the distributed loop")
    assert(viaDriver == viaSpark,
      "cell-gated distributed loop must equal the driver fixed point")
  }

  test("stationaryFromCells: all-zero-count src (NULL pq) agrees across branches (r19)") {
    // src C has only n=0 cells → _tot=0 → pq NULL: the driver branch
    // must drop the row like the distributed SUM does, not NPE
    val cells = Seq(("A", "A", 3L), ("A", "B", 2L), ("B", "A", 1L),
      ("C", "A", 0L), ("C", "B", 0L)).toDF("src", "dst", "n")
    val (viaDriver, driverLoop) = stationary(cells, 4)
    val (viaSpark, sparkLoop) = withoutBroadcast(stationary(cells, 4))
    assert(!driverLoop && sparkLoop)
    assert(viaDriver == viaSpark,
      "NULL-pq rows must drop identically on both paths")
    assert(viaDriver.map(_._1) == List("A", "B", "C"))
    // transitionFromCells divides by the same per-src total: C's rows
    // keep their counts with a NULL probability instead of failing the job
    val probs = Analytics.transitionFromCells(cells, k = 3)
      .filter(col("src") === "C").orderBy("rank").collect()
      .map(r => (r.getString(2), r.getLong(3), r.isNullAt(4))).toList
    assert(probs == List(("A", 0L, true), ("B", 0L, true)))
  }

  test("bradleyTerryFromWins: GAME-cell gate forces the distributed branch (r19)") {
    // 4 (long) items at 16 B fit 100 B; 12 (long, long, long) symmetric
    // game cells at 32 B do not
    val wins = Seq((1L, 2L, 5L), (2L, 1L, 2L), (1L, 3L, 1L),
      (3L, 2L, 4L), (1L, 4L, 9L), (2L, 4L, 1L))
      .toDF("winner", "loser", "n")
    val (viaDriver, driverLoop) = bt(wins, 6)
    assert(!driverLoop)
    val (viaSpark, sparkLoop) =
      withConf("spark.sql.autoBroadcastJoinThreshold", "100")(bt(wins, 6))
    assert(sparkLoop, "game cells over the threshold must force the distributed loop")
    assert(viaDriver == viaSpark,
      "cell-gated distributed loop must equal the driver MM fixed point")
  }
}
