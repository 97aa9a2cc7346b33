package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries
  * ([[Query.headline]] entries of [[SparkEntry.registry]], ascending
  * numeric id) on SPARK_GRAFT_SF_DIR, prints ONE JSON line with
  * per-query seconds.
  *
  * Queries are warmed once (JIT + codegen + file-listing) then timed; the
  * timed run executes the full plan to completion via a count-ish action
  * that forces every operator (no partial evaluation).
  *
  * The committed record (bench_last.json) is SELF-ATTRIBUTING since r15:
  * besides per-query median/min it carries all three raw run seconds
  * (`queries_raw`), each query's start offset (`queries_t`), and a
  * fixed-work calibration tick after EVERY query's 3-run block
  * (default since r16; the r15 every-10 cadence left 86-156 s
  * unsampled gaps exactly where slow queries cluster)
  * (`calib_ticks`: {done, t, ms, mt_ms} — single-thread AND
  * all-threads, both run while Spark is idle) — so a sustained
  * ambient-load window is provable FROM the record (the r14 driver
  * run read 2.15× with 17 execution-order-contiguous queries elevated
  * and the record could not distinguish load from plans). The
  * mt member exists because a host granting fewer parallel cores
  * inflates every Spark query ~uniformly while the single-thread loop
  * stays flat (measured r15: st 350 ms flat, mt 620 vs 340 ms clean).
  * tools/bench_diff.py consumes these for calibration-normalized
  * per-query ratios, preferring mt when both records carry it.
  */
object Bench {

  /** Fixed-work single-thread calibration loop (~1.6e8 xorshift64 steps
    * after a JIT warm pass). Its wall time on an idle core is a machine
    * constant, so round-over-round drift in `calib_ms` measures ambient
    * load / CPU contention — NOT engine changes — and lets a reader
    * normalize the per-query seconds across rounds. Returns millis.
    */
  private def xorshiftRun(n: Long): Long = {
    var x = 0x9E3779B97F4A7C15L; var i = 0L
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  /** `warm = false` is the INTERLEAVED-tick variant (the startup call
    * already JIT-warmed the loop): run between query groups while
    * Spark is idle, so a sustained ambient-load window shows up IN
    * the record — the r14 driver bench read 2.15× with a contiguous
    * q147–q233 block elevated and nothing inside the record could
    * prove load vs plans. With per-query timestamps + these ticks,
    * bench_diff normalizes each query by the calibration level at its
    * own moment and the adjudication is mechanical.
    */
  private def calibMs(warm: Boolean = true): Double = {
    val sinkW = if (warm) xorshiftRun(20000000L) else 0L // JIT warm
    val t0 = System.nanoTime()
    val sink = xorshiftRun(160000000L)
    val ms = (System.nanoTime() - t0) / 1e6
    if ((sink ^ sinkW) == 42L) System.err.println("calib sink") // defeat DCE
    ms
  }

  /** Same fixed work run on `threads` OS threads at once, wall time in
    * millis. On an uncontended host with >= `threads` free cores this
    * matches the single-thread time; inflation over `calib_ms` measures
    * how much parallel CPU the host actually grants — the axis the
    * single-thread loop cannot see (cgroup quotas, noisy neighbors,
    * SMT saturation; r15 finding: the st tick sat flat at ~350 ms
    * while this loop swung 371→1090 ms with steal ≈ 0). The Spark
    * phase runs on this many threads, so THIS is the number that
    * normalizes per-query seconds across hosts. `warm = false` for
    * the interleaved-tick variant, as in [[calibMs]].
    */
  private def calibMtMs(threads: Int, warm: Boolean = true): Double = {
    val sinkW = if (warm) xorshiftRun(20000000L) else 0L // JIT warm
    val sinks = new java.util.concurrent.atomic.AtomicLong(sinkW)
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      val t = new Thread(() => { sinks.addAndGet(xorshiftRun(160000000L)); () })
      t.start(); t
    }
    ts.foreach(_.join())
    val ms = (System.nanoTime() - t0) / 1e6
    if (sinks.get() == 42L) System.err.println("calib sink") // defeat DCE
    ms
  }

  /** (load1, load5) from /proc/loadavg; (-1,-1) if unreadable. */
  private def loadAvg(): (Double, Double) =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      val parts = try src.mkString.trim.split("\\s+") finally src.close()
      (parts(0).toDouble, parts(1).toDouble)
    } catch { case _: Throwable => (-1.0, -1.0) }

  /** "315" for q315_ivf_probe_plan: the key of the short stdout lines. */
  private def numericId(name: String): String = name.drop(1).takeWhile(_.isDigit)

  def main(args: Array[String]): Unit = {
    val headline = SparkEntry.registry.filter(_.headline)
    // optional subset (comma-separated names): re-baseline one query at
    // clean calibration without paying for the whole headline set
    val subset = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    subset.foreach { s =>
      val unknown = s -- headline.map(_.name)
      require(unknown.isEmpty, "SPARK_GRAFT_BENCH_QUERIES names " +
        s"non-headline queries: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val toRun = subset.fold(headline)(s => headline.filter(q => s(q.name)))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // environment snapshot BEFORE Spark starts: ambient load + a
    // single-thread fixed-work loop time (see calibMs) so a judge can
    // attribute uniform cross-query drift to machine load vs plans.
    val (load1Pre, load5Pre) = loadAvg()
    val calibPre = calibMs()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val calibMtPre = calibMtMs(cpus.toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // clock zero for per-query timestamps + interleaved calibration
    // ticks: the record must be able to attribute a sustained load
    // window to wall-clock position on its own (r14 verdict item #1)
    val phaseT0 = System.nanoTime()
    def tOff: Double = (System.nanoTime() - phaseT0) / 1e9
    val ticks = scala.collection.mutable.ArrayBuffer[(Int, Double, Double, Double)]()
    def tick(done: Int): Unit = {
      val t = tOff
      ticks += ((done, t, calibMs(warm = false),
        calibMtMs(cpus.toInt, warm = false)))
    }
    // tick cadence: every N queries, DEFAULT 1 (a tick after every
    // query's 3-run block). The r15 driver record left 86-156 s
    // unsampled gaps at the old default of 10 and five load-inflated
    // queries inside them read as PLAN regressions — per-query ticks
    // cost ~0.75 s each (~65 s per 87-query record) against a >100 s
    // phase and make every query's window self-attributing. Raise via
    // env only for quick local iteration where attribution is moot.
    // Parse-guarded and clamped to >= 1: "0" used to throw
    // ArithmeticException mid-bench (modulo by zero) after queries
    // had already run, and a typo crashed at startup.
    val tickEvery = sys.env.get("SPARK_GRAFT_BENCH_TICK_EVERY") match {
      case None => 1
      case Some(v) => scala.util.Try(v.trim.toInt).toOption match {
        case Some(n) => math.max(1, n)
        case None =>
          System.err.println(
            s"[bench] SPARK_GRAFT_BENCH_TICK_EVERY='$v' is not an int; using 1")
          1
      }
    }
    tick(0)
    val results = toRun.zipWithIndex.map { case (q, idx) =>
      val (name, fn) = (q.name, q.plan)
      try { fn(spark, sfDir).queryExecution.executedPlan; fn(spark, sfDir).count() } // warm
      catch { case _: Throwable => () }
      // 3 timed runs; BOTH the median (robust to one outlier — the
      // headline stat since round 6) and the min (the round-5-and-earlier
      // stat) are reported per query, so round-over-round comparisons
      // stay possible on either axis across the statistic change. ALL
      // three raw seconds land in bench_last.json (queries_raw): min/
      // median alone cannot reject contention that outlasts one query.
      def timed(): Double = {
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      val tStart = tOff
      val runs = Seq.fill(3)(timed())
      if ((idx + 1) % tickEvery == 0 && idx + 1 < toRun.size) tick(idx + 1)
      val failed = runs.exists(_ < 0)
      (name, if (failed) -1.0 else runs.sorted.apply(1),
        if (failed) -1.0 else runs.min, runs, tStart)
    }
    tick(toRun.size)
    val qJson = results.map { case (k, med, _, _, _) => "\"" + k + f"\":$med%.3f" }
      .mkString("{", ",", "}")
    val minJson = results.map { case (k, _, mn, _, _) => "\"" + k + f"\":$mn%.3f" }
      .mkString("{", ",", "}")
    val rawJson = results.map { case (k, _, _, runs, _) =>
      "\"" + k + "\":[" + runs.map(r => f"$r%.3f").mkString(",") + "]" }
      .mkString("{", ",", "}")
    val tJson = results.map { case (k, _, _, _, ts) => "\"" + k + f"\":$ts%.1f" }
      .mkString("{", ",", "}")
    val ticksJson = ticks.map { case (done, t, ms, mt) =>
      f"""{"done":$done,"t":$t%.1f,"ms":$ms%.1f,"mt_ms":$mt%.1f}""" }
      .mkString("[", ",", "]")
    // a failed query must be visible in the total, not silently summed
    // around: the total covers only clean runs and "failed" names the rest
    val failedNames = results.collect { case (k, med, _, _, _) if med < 0 => "\"" + k + "\"" }
    val failedJson = failedNames.mkString("[", ",", "]")
    val failedIdJson = results.collect { case (k, med, _, _, _) if med < 0 =>
      "\"" + numericId(k) + "\"" }.mkString("[", ",", "]")
    // A subset re-baseline must never masquerade as a full-board record:
    // it rides "subset":true AND "complete":false in every emitted
    // variant, so a 1-query run can't overwrite the committed headline
    // total without a reader noticing (r12 ADVICE item).
    val isSubset = subset.isDefined
    val completeJson = failedNames.isEmpty && !isSubset
    val total = results.map(_._2).filter(_ >= 0).sum
    spark.stop()
    // post-run snapshot AFTER spark.stop() so the calibration loop is
    // not contending with executor threads it is trying to measure.
    val (load1Post, load5Post) = loadAvg()
    val calibPost = calibMs()
    val calibMtPost = calibMtMs(cpus.toInt)
    val envJson = f"""{"load1_pre":$load1Pre%.2f,"load5_pre":$load5Pre%.2f,"load1_post":$load1Post%.2f,"load5_post":$load5Post%.2f,"calib_ms_pre":$calibPre%.1f,"calib_ms_post":$calibPost%.1f,"calib_mt_ms_pre":$calibMtPre%.1f,"calib_mt_ms_post":$calibMtPost%.1f,"calib_mt_threads":$cpus}"""
    // STDOUT line sized for the driver's capture: BENCH_r{N}.json keeps
    // only the LAST 2000 chars of stdout, and r10's full record (2836
    // chars with queries_min) overflowed it — the JSON head was cut and
    // `parsed` came back null every round. The printed line therefore
    // carries medians only (~1.6k chars incl. env); the COMPLETE record
    // (plus per-query min) goes to bench_last.json, which is committed.
    // calib_mt rides on EVERY stdout variant: a loaded box (r11:
    // calib_mt 528 vs 337 ms) otherwise reads as a 1.3× regression.
    val calibJson =
      f""""calib_mt_ms_pre":$calibMtPre%.0f,"calib_mt_ms_post":$calibMtPost%.0f"""
    val fullLine = f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":3,"stat":"median","complete":$completeJson,"subset":$isSubset,"failed":$failedJson,"env":$envJson,"queries":$qJson,"queries_min":$minJson,"queries_raw":$rawJson,"queries_t":$tJson,"calib_ticks":$ticksJson,"sf":"$sfDir"}"""
    // self-trimming, ITERATIVE (r11 ADVICE: the env-stripped fallback
    // was itself one growth step from overflowing): try progressively
    // smaller lines until one fits the driver's 2000-char tail capture.
    // The last variant is bounded (at most 113 numeric failed ids, ~0.9k
    // chars), so the require can never fire — it exists to fail loudly
    // at run time if an edit breaks that.
    //
    // Variant 3 (NEW r19, the r18 verdict's #2): the full 113-query map
    // with long names (~3.2k chars) never fit, so the driver's per-query
    // and scaling comparisons ran empty both optimization rounds
    // (PERF_r18 per_query: {}). This variant keys each query by its
    // NUMERIC id ("315" for q315_ivf_probe_plan — Query.registry
    // requires them unique) at 2 decimals: ~1.3k chars for 113 queries, fits the
    // capture with headroom. Full names + min/raw/ticks stay in
    // bench_last.json; this is a measurement-path fix only — no query
    // was removed or renamed (the id is a 1:1 projection of the name).
    val qIdJson = results.map { case (k, med, _, _, _) =>
      "\"" + numericId(k) + f"\":$med%.2f" }
      .mkString("{", ",", "}")
    val candidates = Seq(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":3,"stat":"median","complete":$completeJson,"subset":$isSubset,"failed":$failedJson,"env":$envJson,"queries":$qJson,"sf":"$sfDir"}""",
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":3,"stat":"median","complete":$completeJson,"subset":$isSubset,"failed":$failedJson,$calibJson,"env":"see bench_last.json","queries":$qJson,"sf":"$sfDir"}""",
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":3,"stat":"median","complete":$completeJson,"subset":$isSubset,"failed":$failedIdJson,$calibJson,"env":"see bench_last.json","queries":$qIdJson,"queries_by":"numeric id; names in bench_last.json","n_queries":${results.size},"sf":"$sfDir"}""",
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":3,"stat":"median","complete":$completeJson,"subset":$isSubset,"failed":$failedIdJson,$calibJson,"env":"see bench_last.json","queries":"see bench_last.json","n_queries":${results.size},"sf":"$sfDir"}""")
    val stdoutLine = candidates.find(_.length <= 1950).getOrElse(
      throw new IllegalStateException(
        s"bench stdout minimal variant is ${candidates.last.length} chars > 1950"))
    println(stdoutLine)
    try {
      // Default out-path is bench_run.json (gitignored scratch), NOT the
      // committed record bench_last.json: every driver/judge run used to
      // overwrite the committed builder record in the working tree, and
      // "which record am I reading" became git archaeology (r15 verdict
      // hygiene item). Promoting a run to the official record is now an
      // explicit act: SPARK_GRAFT_BENCH_OUT=bench_last.json or a copy.
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_run.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (fullLine + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] file write failed: ${e.getMessage}") }
  }
}
