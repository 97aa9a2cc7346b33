package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deterministic, mergeable cardinality / frequency sketches, expressed
  * Spark-first as SKETCH-AS-TABLE: the sketch state is a small DataFrame
  * (HLL register table, CMS counter table) produced by one partial-agg'd
  * shuffle, merged by the same `groupBy` that built it, and persistable
  * as parquet like any other table. That is the shape a 100 TB pipeline
  * wants — per-day sketch tables of a few thousand rows that roll up
  * with `max`/`sum` instead of re-scanning history.
  *
  * The reference stops at exact `get_unique` members
  * (cf. reference dataset/abstract.py summary/unique helpers); these are
  * the sublinear-state versions of the same questions at corpus scale.
  *
  * Every kernel is built on the repo's engine-independent hash
  * ([[graft.functions.Hashing.splitmix64]]) and pure integer arithmetic
  * (register terms are dyadic rationals summed exactly in DECIMAL; the
  * final estimate is one exact integer floor-division), so
  * [[graft.Oracles]] replays bucket, rho, register, and estimate
  * bit-for-bit in DuckDB HUGEINT — the sketches are externally audited,
  * not just self-tested.
  */
object Sketches {

  // ---------------------------------------------------------------- HLL

  /** Register-index bits: m = 2^p registers. p=8 keeps the register
    * table dashboard-sized (256 rows per group) at ~6.5% standard
    * error — raise p for tighter estimates; every formula below scales.
    */
  val HllP: Int = 8
  val HllM: Int = 1 << HllP
  /** Max rho = (64 - p) + 1: value when every remaining hash bit is 0. */
  val HllRhoMax: Int = 64 - HllP + 1

  /** α_m bias constant (Flajolet et al. 2007) rounded to integer parts
    * per billion — the ONLY non-integer in the HLL estimate, pinned to
    * an exact integer so both engines multiply the same number.
    */
  val HllAlphaPpb: Long =
    math.round(0.7213 / (1 + 1.079 / HllM) * 1e9)

  /** Exact numerator of the raw estimate, scaled by 2^rhoMax·10^9:
    * est = floor(α·m² / Σ 2^(−M_j)) = HllNumer ÷ (Σ 2^(rhoMax−M_j)·10^9
    * ... folded: HllNumer = αppb·m²·2^rhoMax; the register sum S is the
    * integer Σ 2^(rhoMax−M_j) (empty register ⇒ 2^rhoMax), and
    * est = HllNumer / (S · 10^9) — all integer, ~6.8e30 ≪ 10^38.
    */
  val HllNumer: BigInt = BigInt(HllAlphaPpb) * HllM * HllM *
    (BigInt(1) << HllRhoMax)

  /** (bucket, rho) of one hashed value: bucket = top p bits, rho = 1 +
    * leading zeros of the remaining 64−p bits (rhoMax if they are all
    * zero) — the textbook HLL split, on splitmix64 of the input.
    */
  private[graft] def hllBucketRho(value: Long): (Int, Int) = {
    val h = graft.functions.Hashing.splitmix64(value)
    val bucket = (h >>> (64 - HllP)).toInt
    val rem = h & ((1L << (64 - HllP)) - 1)
    val rho =
      if (rem == 0L) HllRhoMax
      else java.lang.Long.numberOfLeadingZeros(rem) - HllP + 1
    (bucket, rho)
  }

  /** HLL register table for `valueCol` (long-typed id / pre-hashed key)
    * per group: (groupCols*, bucket, rho) with rho = the register value
    * max'd over the group's rows. One slim projection + one partial-
    * agg'd groupBy; output ≤ |groups|·2^p rows regardless of input
    * size. Registers from different shards/days MERGE by unioning the
    * tables and re-running [[hllMerge]] — max is associative, so
    * sketch(A ∪ B) ≡ merge(sketch(A), sketch(B)) exactly.
    */
  def hllRegisters(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame = {
    val br = udf((v: Long) => hllBucketRho(v))
    df.select((groupCols.map(col) :+ col(valueCol).cast("long").as("_v")): _*)
      // SQL aggregate convention (and the native agg's behavior): null
      // values contribute nothing — without this a null emits a
      // (null, null) register row that inflates n_set and skews est
      .filter(col("_v").isNotNull)
      .withColumn("_br", br(col("_v")))
      .groupBy((groupCols.map(col) :+ col("_br._1").as("bucket")): _*)
      .agg(max(col("_br._2")).as("rho"))
  }

  /** Merge register tables (same group schema): groupBy max — the whole
    * merge is one shuffle of sketch-sized inputs.
    */
  def hllMerge(tables: Seq[DataFrame], groupCols: Seq[String]): DataFrame =
    tables.reduce(_ unionByName _)
      .groupBy((groupCols.map(col) :+ col("bucket")): _*)
      .agg(max("rho").as("rho"))

  /** Cardinality estimate per group from a register table:
    * (groupCols*, n_set, est, small_range).
    *
    *  - `n_set` — registers hit (m − n_set empties ⇒ the linear-counting
    *    input V, kept so callers can apply the small-range correction
    *    externally; ln() is engine-dependent in the last ulp, so the
    *    exact gate stops at the raw estimate).
    *  - `est` — floor(α_m·m²/Σ2^(−M_j)) via exact integer arithmetic:
    *    register terms 2^(rhoMax−rho) summed in DECIMAL, one BigInt
    *    floor division at the end. Bit-replayable in any engine with
    *    128-bit integers.
    *  - `small_range` — est ≤ 2.5m decided by the exact cross-multiplied
    *    comparison 2·Numer ≤ 5·m·(S·10^9), flagging estimates in the
    *    regime where HLL prescribes linear counting instead.
    */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String]): DataFrame = {
    val estU = udf((nSet: Long, sSet: java.math.BigDecimal) => {
      // an EMPTY register table (zero rows seen) aggregates to a null
      // sum: the set is empty, report 0 distinct (small-range by
      // definition) instead of an executor NPE
      if (sSet == null) (0L, true)
      else {
        val s = (BigInt(HllM - nSet) << HllRhoMax) +
          BigInt(sSet.toBigInteger)
        val den = s * BigInt(1000000000L)
        val est = (HllNumer / den).toLong
        val small = HllNumer * 2 <= den * (5L * HllM)
        (est, small)
      }
    })
    registers
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_set"),
        sum(expr(s"CAST(shiftleft(CAST(1 AS BIGINT), $HllRhoMax - rho)" +
          " AS DECIMAL(38,0))")).as("_s_set"))
      .withColumn("_e", estU(col("n_set"), col("_s_set")))
      .select((groupCols.map(col) :+ col("n_set") :+
        col("_e._1").as("est") :+ col("_e._2").as("small_range")): _*)
  }

  /** Trailing-window register table (the WAU/MAU shape): each source
    * day's registers fan out to the `windowDays` target days they
    * belong to, then merge by max — so "distinct users in the trailing
    * 7 days, per day" costs one explode + one groupBy over
    * days×window×m register rows, never a re-scan of raw history.
    * `validDays` restricts output to days that actually occur (the
    * fan-out would otherwise emit windows past the data's end).
    */
  def hllTrailingRegisters(registers: DataFrame, dayCol: String,
      windowDays: Int, validDays: DataFrame): DataFrame = {
    registers
      .select(col("bucket"), col("rho"),
        explode(sequence(col(dayCol),
          col(dayCol) + (windowDays - 1))).as("_d"))
      .join(validDays.select(col(dayCol).as("_d")), Seq("_d"), "semi")
      .groupBy(col("_d").as(dayCol), col("bucket"))
      .agg(max("rho").as("rho"))
  }

  /** Segment-overlap estimate by inclusion–exclusion over HLL sketches:
    * |A∩B| ≈ est(A) + est(B) − est(A∪B), where the union sketch is the
    * register-wise max of the two segment sketches ([[hllMerge]] —
    * exact sketch identity, not an approximation of the merge). HLL
    * cannot sketch intersections directly; this is the standard
    * audience-overlap composition, and every term stays on the exact
    * integer estimate path so the whole row replays bit-for-bit.
    * Output: ONE row (est_a, est_b, est_union, overlap_est);
    * `overlap_est` may go ≤ 0 within sketch error — reported raw, the
    * caller decides how to clamp.
    *
    * Scale shape: two filtered partial-agg scans (or one shared scan
    * when Catalyst fuses them) each collapsing to ≤ 2^p register rows;
    * the merge + estimates touch only sketch-sized tables.
    */
  def hllOverlapEstimate(df: DataFrame, condA: Column, condB: Column,
      valueCol: String): DataFrame = {
    val ra = hllRegisters(df.filter(condA), Seq.empty, valueCol)
    val rb = hllRegisters(df.filter(condB), Seq.empty, valueCol)
    val ru = hllMerge(Seq(ra, rb), Seq.empty)
    def est(regs: DataFrame, name: String): DataFrame =
      hllEstimate(regs, Seq.empty).select(col("est").as(name))
    est(ra, "est_a").crossJoin(est(rb, "est_b"))
      .crossJoin(est(ru, "est_union"))
      .withColumn("overlap_est",
        col("est_a") + col("est_b") - col("est_union"))
  }

  // ---------------------------------------------------------------- CMS

  /** Count-min sketch geometry: d independent rows × w = 2^WBits
    * counters. d·w = 8192 cells bounds the counter table regardless of
    * item cardinality.
    */
  val CmsD: Int = 4
  val CmsWBits: Int = 11
  val CmsW: Int = 1 << CmsWBits

  /** Row-j bucket of an item: top WBits bits of splitmix64(item +
    * GOLD·(j+1)) — the same seed schedule as the MinHash family, so the
    * oracle reuses its replay machinery.
    */
  private[graft] def cmsBuckets(item: Long): Seq[Int] =
    (0 until CmsD).map { j =>
      (graft.functions.Hashing.splitmix64(
        item + 0x9e3779b97f4a7c15L * (j + 1)) >>> (64 - CmsWBits)).toInt
    }

  /** CMS counter table of `itemCol` occurrences: (j, bucket, cnt),
    * ≤ d·w rows. One slim projection, a d-way explode of (j, bucket)
    * pairs, one partial-agg'd groupBy — at 100 TB the shuffle carries
    * at most d·w rows per map task. Counter tables from shards MERGE by
    * union + groupBy SUM (counts are additive).
    */
  def cmsCounters(df: DataFrame, itemCol: String): DataFrame = {
    val bu = udf((v: Long) => cmsBuckets(v))
    df.select(col(itemCol).cast("long").as("_v"))
      .select(posexplode(bu(col("_v"))).as(Seq("j", "bucket")))
      .groupBy("j", "bucket").agg(count(lit(1)).as("cnt"))
  }

  def cmsMerge(tables: Seq[DataFrame]): DataFrame =
    tables.reduce(_ unionByName _)
      .groupBy("j", "bucket").agg(sum("cnt").as("cnt"))

  /** CMS point estimate per candidate item: min over the d rows of the
    * item's counter — an OVERestimate always (collisions only add), the
    * property [[heavyHitters]]' exactness rests on. `candidates` is
    * (itemCol) rows; the counter table rides a broadcast.
    */
  def cmsEstimate(counters: DataFrame, candidates: DataFrame,
      itemCol: String): DataFrame = {
    val bu = udf((v: Long) => cmsBuckets(v))
    candidates
      .select(col(itemCol), col(itemCol).cast("long").as("_v"))
      .select(col(itemCol), posexplode(bu(col("_v"))).as(Seq("j", "bucket")))
      .join(broadcast(counters), Seq("j", "bucket"))
      .groupBy(itemCol).agg(min("cnt").as("est"))
  }

  /** Join-cardinality estimate from CMS counter tables — the pre-flight
    * "will this join blow up?" check a planner wants before committing
    * to a shuffle: |A ⋈_k B| = Σ_key cA(key)·cB(key) is upper-bounded
    * by min_j Σ_bucket cA[j,b]·cB[j,b] (collisions only ADD mass, so
    * every row's dot product overestimates; the min is the tightest).
    * Output: ONE row (est_join, exact_join) — the exact size rides
    * along (two per-key aggs + one slim join) so the overestimate
    * property is gated on data, the q142 discipline. Dot products
    * accumulate in DECIMAL(38,0) (a 10^12-row side would overflow Long
    * counters); the published columns cast to BIGINT.
    *
    * Scale shape: each side collapses to its d·w counter table in one
    * partial-agg'd shuffle; the dot product joins two ≤8192-row tables.
    */
  def cmsJoinSizeEstimate(a: DataFrame, keyColA: String,
      b: DataFrame, keyColB: String): DataFrame = {
    val ca = cmsCounters(a, keyColA)
    val cb = cmsCounters(b, keyColB).withColumnRenamed("cnt", "cnt_b")
    val est = ca.join(cb, Seq("j", "bucket"))
      .groupBy("j")
      .agg(sum(col("cnt").cast("decimal(38,0)") * col("cnt_b")).as("_dot"))
      .agg(min("_dot").cast("long").as("est_join"))
    val ea = a.groupBy(col(keyColA).as("_k")).agg(count(lit(1)).as("_na"))
    val eb = b.groupBy(col(keyColB).as("_k")).agg(count(lit(1)).as("_nb"))
    val exact = ea.join(eb, Seq("_k"))
      .agg(sum(col("_na").cast("decimal(38,0)") * col("_nb"))
        .cast("long").as("exact_join"))
    est.crossJoin(exact)
  }

  /** Exact heavy hitters via sketch-screen-then-verify: items whose
    * TRUE count × `relDen` ≥ total row count, found without ever
    * shuffling full per-item exact counts for the long tail.
    *
    * Pass 1 builds the d·w counter table (fixed size). Pass 2 screens
    * candidate items through [[cmsEstimate]] — since est ≥ true count,
    * every real heavy hitter survives the screen (no false negatives,
    * the CMS guarantee). Pass 3 exactly counts ONLY the screened
    * survivors (a broadcast semi-join: tail items never aggregate) and
    * applies the same threshold to the exact count, discarding the
    * sketch's false positives. Output (itemCol, n) is therefore EXACTLY
    * `GROUP BY item HAVING count·relDen ≥ total` — the oracle needs no
    * sketch replay at all, which gates the screen's no-false-negative
    * property on real data every round.
    */
  def heavyHitters(df: DataFrame, itemCol: String,
      relDen: Long = 120L): DataFrame = {
    val slim = Dedup.materialize(df.select(col(itemCol)), eager = true)
    screenAndVerify(slim, cmsCounters(slim, itemCol), itemCol, relDen)
  }

  /** [[heavyHitters]] with a caller-supplied counter table — the entry
    * point for counters built elsewhere (a streaming state-store
    * snapshot, merged per-shard tables): same screen-then-exact-verify,
    * same output contract. The counters only SCREEN; the exact verify
    * recounts survivors from `df`, so a stale/merged counter table can
    * add false positives to the screen but never changes the output.
    */
  def heavyHittersWithCounters(df: DataFrame, counters: DataFrame,
      itemCol: String, relDen: Long = 120L): DataFrame = {
    val slim = Dedup.materialize(df.select(col(itemCol)), eager = true)
    screenAndVerify(slim, counters, itemCol, relDen)
  }

  private def screenAndVerify(slim: DataFrame, counters: DataFrame,
      itemCol: String, relDen: Long): DataFrame = {
    val total = Dedup.rowCount(slim)
    val screened = cmsEstimate(counters, slim.distinct(), itemCol)
      .filter(col("est") * relDen >= total)
      .select(col(itemCol))
    slim.join(broadcast(screened), Seq(itemCol), "semi")
      .groupBy(itemCol).agg(count(lit(1)).as("n"))
      .filter(col("n") * relDen >= total)
  }

  // ---------------------------------------------------------------- KMV

  /** KMV bottom-k sketch AS A TABLE (the [[hllRegisters]] shape for the
    * q189 native agg): per group the k smallest splitmix64 hashes of
    * `valueCol`, one row per kept hash — (groupCols*, rn, u) with
    * rn = 1..k in hash order and u the SIGN-FLIPPED hash (h ⊕ 2⁶³, so
    * ascending BIGINT order ≡ unsigned hash order in any engine).
    * Below k distinct values the sketch IS the distinct set. Tables
    * merge by union + [[kmvMergeMins]] (bottom-k of a union is the
    * bottom-k of the per-part bottom-k's — exact identity).
    *
    * Scale shape: slim projection → distinct hash per group (one
    * partial-agg'd shuffle) → per-group window rank cut at k; state
    * out is ≤ |groups|·k rows.
    */
  def kmvMinsTable(df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sm = udf((v: Long) =>
      graft.functions.Hashing.splitmix64(v) ^ Long.MinValue)
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("u"))
    val base = df
      .select((groupCols.map(col) :+ col(valueCol).cast("long").as("_v")): _*)
      // null values are ignored (the KmvSketchAgg convention) — left
      // in, the null hash would rank FIRST (Spark windows sort nulls
      // first) and displace a real minimum; DuckDB ranks nulls last,
      // so the pollution would also be engine-divergent
      .filter(col("_v").isNotNull)
      .select((groupCols.map(col) :+ sm(col("_v")).as("u")): _*)
      .distinct()
    // Single-set case: the final window is GLOBAL, so pre-cut each
    // physical partition to its own bottom-k first — bottom-k of the
    // per-partition bottom-k's is the global bottom-k exactly, and the
    // global window then sees ≤ partitions·k rows instead of every
    // distinct hash. (Grouped case already parallelizes by group.)
    val cut =
      if (groupCols.nonEmpty) base
      else {
        val wp = Window.partitionBy(col("_part")).orderBy(col("u"))
        base.withColumn("_part", spark_partition_id())
          .withColumn("_prn", row_number().over(wp))
          .filter(col("_prn") <= k).drop("_part", "_prn")
      }
    cut.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Merge KMV mins tables (same group schema): union, re-dedup, re-rank
    * to the k smallest — sketch-sized input, one shuffle.
    */
  /** Approximate DISTINCT-value quantiles from a value-carrying KMV
    * bottom-k sample: the k distinct values with the smallest
    * splitmix64 hashes are a uniform sample of the distinct-value SET
    * (hash order is independent of value order), so the sample's
    * value-order statistics estimate the distinct-value quantiles —
    * EXACTLY when m < k (the sample is then the whole set). One row
    * out: m (sample size) + the value at rank ⌈q·m/100⌉ per requested
    * percentile. Every selection is pure hash/rank arithmetic — no
    * t-digest-style float centroids — so the DuckDB oracle replays it
    * bit-for-bit (q217), and samples from shards merge by re-ranking
    * (the [[kmvMinsTable]] mergeability).
    *
    * Scale shape: distinct + per-partition bottom-k pre-cut, then the
    * global rank window sees ≤ partitions·k rows; the quantile pick
    * runs on ≤ k rows. Estimates quantiles of the DISTINCT-value
    * distribution (each distinct value weighted once), like
    * `approx_count_distinct`'s view of the world — for multiset
    * quantiles use the exact `percentile`/[[Analytics.weightedQuantiles]].
    */
  def kmvQuantiles(df: DataFrame, valueCol: String, k: Int = 256,
      qs: Seq[Int] = Seq(25, 50, 75, 90)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sm = udf((v: Long) =>
      graft.functions.Hashing.splitmix64(v) ^ Long.MinValue)
    val base = df.select(col(valueCol).cast("long").as("_v"))
      .filter(col("_v").isNotNull).distinct()
      .select(col("_v"), sm(col("_v")).as("u"))
    val wp = Window.partitionBy(col("_part")).orderBy(col("u"))
    val cut = base.withColumn("_part", spark_partition_id())
      .withColumn("_prn", row_number().over(wp))
      .filter(col("_prn") <= k).drop("_part", "_prn")
    val sample = cut
      .withColumn("rn", row_number().over(Window.orderBy(col("u"))))
      .filter(col("rn") <= k)
    val ranked = sample
      .withColumn("vr", row_number().over(Window.orderBy(col("_v"))))
      .crossJoin(sample.agg(count(lit(1)).as("m")))
    val qcols = qs.map(q =>
      min(when(col("vr") === expr(s"($q * m + 99) div 100"), col("_v")))
        .as(s"q$q"))
    ranked.groupBy("m")
      .agg(qcols.head, qcols.tail: _*)
      .select(col("m") +: qs.map(q => col(s"q$q")): _*)
  }

  def kmvMergeMins(tables: Seq[DataFrame], groupCols: Seq[String],
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("u"))
    tables.map(_.drop("rn")).reduce(_ unionByName _)
      .distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** KMV set-operation estimates between two single-set mins tables
    * (schema (rn, u), e.g. [[kmvMinsTable]] with no group columns):
    * ONE row (k_used, matches, union_est, jaccard, inter_est).
    *
    *   - union mins = bottom-k of A ∪ B (exact); k_used = min(k, |mins|)
    *   - matches = how many of those union mins belong to BOTH input
    *     sketches — the standard bottom-k Jaccard estimator's numerator
    *   - jaccard = matches / k_used (EXACT when both sets fit under k —
    *     then the sketches are the sets themselves)
    *   - union_est = the q189 estimator on the union mins; inter_est =
    *     floor(matches·union_est / k_used)
    *
    * All selection and counting is integer/hash-order logic; the two
    * divisions at the end are single correctly-rounded IEEE ops —
    * engine-replayable like every sketch here.
    */
  def kmvSetOps(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("u"))
    val union = a.select(col("u"), lit(1).as("_ina"), lit(0).as("_inb"))
      .unionByName(b.select(col("u"), lit(0).as("_ina"), lit(1).as("_inb")))
      .groupBy("u").agg(max("_ina").as("_ina"), max("_inb").as("_inb"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
    val estU = udf((kUsed: Long, matches: Long, uMaxFlip: Long) => {
      val uUnsigned = BigInt(uMaxFlip) - BigInt(Long.MinValue)
      val est =
        if (kUsed < k) kUsed // below k the union sketch is the exact set
        else ((BigInt(k - 1) << 64) /
          (if (uUnsigned == 0) BigInt(1) else uUnsigned)).toLong
      // BigInt product: matches·est can pass 2⁶³ for tiny u_k
      (est, (BigInt(matches) * est / kUsed).toLong)
    })
    union.agg(count(lit(1)).as("k_used"),
        sum((col("_ina") * col("_inb")).cast("long")).as("matches"),
        max("u").as("_umax"))
      .withColumn("_e", estU(col("k_used"), col("matches"), col("_umax")))
      .select(col("k_used"), col("matches"),
        col("_e._1").as("union_est"),
        (col("matches").cast("double") / col("k_used").cast("double"))
          .as("jaccard"),
        col("_e._2").as("inter_est"))
  }

  // ---------------------------------------------------------------- AMS

  /** AMS (Alon–Matias–Szegedy) F₂ sketch AS A TABLE: k counters, each
    * the signed sum Σ_v s_j(v)·n_v over distinct values v with
    * multiplicity n_v, where s_j(v) = ±1 is the low bit of
    * splitmix64(v + GOLD·(j+1)) — the same public seeded-hash family
    * as the MinHash/KMV kernels, so the whole walk replays in DuckDB.
    * E[counter_j²] = F₂ = Σ n_v² (the self-join size), the classic
    * tug-of-war estimator. Counters are plain sums, so sketches from
    * shards MERGE BY ADDING counter-wise — the F₂ analogue of
    * [[hllMerge]]/[[kmvMergeMins]].
    *
    * Scale shape: one partial-agg'd groupBy(value) collapses the
    * corpus to distinct values; the k-way explode runs on THAT table
    * (k·|distinct| rows, never k·|corpus|) and the counter agg is
    * again map-side combined. The sign hash is a UDF on the collapsed
    * table — a cold path; counters stay BIGINT (|counter| ≤ N).
    */
  def amsF2Counters(df: DataFrame, valueCol: String,
      k: Int = 32): DataFrame = {
    val gold = BigInt("9e3779b97f4a7c15", 16).toLong
    val sign = udf((v: Long, j: Int) =>
      if ((graft.functions.Hashing.splitmix64(v + gold * (j + 1)) & 1L) == 1L)
        1L else -1L)
    df.select(col(valueCol).cast("long").as("_v"))
      .filter(col("_v").isNotNull)
      .groupBy("_v").agg(count(lit(1)).as("_n"))
      .select(col("_v"), col("_n"),
        explode(sequence(lit(0), lit(k - 1))).as("j"))
      .groupBy("j")
      .agg(sum(sign(col("_v"), col("j")) * col("_n")).as("counter"))
  }

  /** F₂ (self-join size) readout of an AMS counters table: ONE row
    * (k, f2_est) with f2_est = ⌊Σ counter² / k⌋. The squares and the
    * sum run in DECIMAL(38,0) (HUGEINT on the oracle side) so the
    * INTERMEDIATE never overflows; the terminal readout is cast to
    * BIGINT per the repo's terminal-type convention. Ceiling: f2_est
    * ≤ N² for N input rows, so the terminal cast binds once N passes
    * ~3·10⁹ (≈10 TB of events) — at that scale widen the readout to
    * DECIMAL(38,0) on BOTH sides in one commit.
    */
  def amsF2Estimate(counters: DataFrame): DataFrame =
    counters
      .select(col("counter").cast(
        org.apache.spark.sql.types.DecimalType(38, 0)).as("_c"))
      .agg(count(lit(1)).as("k"), sum(col("_c") * col("_c")).as("_ss"))
      // floor division kept IN decimal: `DIV` would return BIGINT and
      // overflow once F₂ > 2⁶³ (Σn_v² passes that at ~3·10⁹ rows);
      // (x − x%k)/k is exact (x ≥ 0) and never leaves DECIMAL(38,0)
      .select(col("k"),
        expr("CAST((_ss - (_ss % k)) / k AS BIGINT)").as("f2_est"))

  /** Dyadic-histogram quantile sketch over POSITIVE integer values
    * (HdrHistogram / DDSketch's bucketing idea in exact integer form):
    * bucket = (⌊log₂ x⌋, one of `sub` linear sub-cells inside the
    * octave), so each bucket spans a ≤ 1/sub relative range. The
    * sketch IS a (bucket, count) table — mergeable by summing counts,
    * with ≤ 64·sub cells of bounded state however large the corpus —
    * and a quantile reads out as the bucket whose cumulative count
    * first reaches ⌈p·n⌉, reported as its [lo, hi) edges: the true
    * p-quantile provably lies inside, giving relative error ≤ 1/sub.
    *
    * Everything is integer: the octave is `length(bin(x))` (64 − clz,
    * identical SQL in both engines), the sub-cell an integer floor
    * division, the rank target `⌈p·n⌉ = (num·n + den − 1) // den`.
    *
    * Scale shape: one hash aggregate to ≤ 64·sub cells, a single
    * partition-less window over those cells (bounded by the sketch
    * size, not the data), nothing on the driver.
    */
  def dyadicHistogram(df: DataFrame, valueCol: String,
      sub: Int = 8): DataFrame = {
    df.filter(col(valueCol).isNotNull && col(valueCol) > 0)
      .select(col(valueCol).cast("long").as("_x"))
      .withColumn("_oct", length(expr("bin(_x)")).cast("long"))
      // lo edge of the octave is 2^(oct-1)
      .withColumn("_lo", expr("shiftleft(CAST(1 AS BIGINT), CAST(_oct - 1 AS INT))"))
      .withColumn("_cell",
        expr(s"CASE WHEN _oct = 1 THEN CAST(0 AS BIGINT) ELSE (($sub * (_x - _lo)) DIV _lo) END"))
      .groupBy(col("_oct").as("oct"), col("_cell").as("cell"))
      .agg(count(lit(1)).as("n"))
  }

  /** Quantile readout from a [[dyadicHistogram]] sketch table:
    * `percentiles` are (num, den, label) fractions; output one row per
    * label with the bracketing [lo, hi) bucket edges and the exact
    * cumulative machinery (n, target rank). */
  def dyadicQuantiles(hist: DataFrame, percentiles: Seq[(Int, Int, String)],
      sub: Int = 8): DataFrame = {
    val spark = hist.sparkSession
    import spark.implicits._
    val w = Window.orderBy("oct", "cell")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // bounded: ≤ 64·sub rows — the window is over the SKETCH, not data
    val cum = hist
      .withColumn("_cum", sum("n").over(w))
      .withColumn("_n", sum("n").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("_lo1", expr("shiftleft(CAST(1 AS BIGINT), CAST(oct - 1 AS INT))"))
      .withColumn("lo", expr(s"CASE WHEN oct = 1 THEN CAST(1 AS BIGINT) ELSE _lo1 + (cell * _lo1) DIV $sub END"))
      .withColumn("hi", expr(s"CASE WHEN oct = 1 THEN CAST(2 AS BIGINT) ELSE _lo1 + ((cell + 1) * _lo1) DIV $sub END"))
    val pcts = percentiles.toDF("_num", "_den", "pct")
    cum.join(pcts,
        col("_cum") - col("n") < expr("(_num * _n + _den - 1) DIV _den") &&
          expr("(_num * _n + _den - 1) DIV _den") <= col("_cum"))
      .select(col("pct"), col("_n").as("n"),
        expr("(_num * _n + _den - 1) DIV _den").as("target_rank"),
        col("lo").as("est_lo"), col("hi").as("est_hi"))
  }

  /** Count-min parameter planner — [[graft.operators.Dedup.lshPlan]]'s
    * discipline applied to the CMS family: over an (ε, 1/δ) grid, the
    * standard sizing width = ⌈e/ε⌉, depth = ⌈ln(1/δ)⌉ (Cormode &
    * Muthukrishnan 2005) plus the resulting counter-array bytes — the
    * table consulted BEFORE a 100 TB heavy-hitter pass commits memory
    * (error ε·N with probability 1−δ at width·depth·8 B per key
    * domain). Exact integers: e as the fixed Q6 constant 2718282
    * (round-half-even of e·10⁶, stated here and mirrored in the
    * oracle), ε in ppm so width = ⌈2718282/eps_ppm⌉ is one ceiling
    * division, depth through the shared lnQ12 kernel (⌈l/10¹²⌉).
    *
    * Scale shape: a |grid|-row driver table, all arithmetic map-side
    * codegen'd — zero shuffle, zero corpus touch.
    */
  def cmsPlan(spark: org.apache.spark.sql.SparkSession,
      epsPpm: Seq[Long] = Seq(10000L, 1000L, 100L, 10L),
      deltaInv: Seq[Long] = Seq(100L, 10000L, 1000000L, 1000000000L),
      counterBytes: Long = 8L): DataFrame = {
    import spark.implicits._
    require(epsPpm.forall(e => e >= 1 && e <= 1000000),
      "cmsPlan wants eps in [1, 1e6] ppm")
    require(deltaInv.forall(_ >= 2), "cmsPlan wants 1/delta >= 2")
    val grid = for { e <- epsPpm; d <- deltaInv } yield (e, d)
    grid.toDF("eps_ppm", "delta_inv")
      .withColumn("width", expr("(2718282 + eps_ppm - 1) DIV eps_ppm"))
      .withColumn("_l",
        graft.plans.GraftExtensions.lnQ12Native(col("delta_inv")))
      .withColumn("depth", expr(
        "(_l + 999999999999) DIV 1000000000000"))
      .withColumn("bytes", col("width") * col("depth") * lit(counterBytes))
      .select(col("eps_ppm"), col("delta_inv"), col("width"),
        col("depth"), col("bytes"))
  }
}
