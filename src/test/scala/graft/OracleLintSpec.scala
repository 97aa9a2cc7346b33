package graft

import org.scalatest.funsuite.AnyFunSuite

/** Determinism lint over the ENTIRE oracle SQL surface (the r9 lesson,
  * twice-deferred): four red rows in round 9 traced to libm
  * transcendentals (`ln`/`exp`) and decimal-literal double rounding
  * diverging between Spark and DuckDB. The fix class was FixedMath
  * (integer kernels replayed as recursive CTEs); this lint keeps the
  * class closed — a future query whose oracle calls a non-correctly-
  * rounded float function, or embeds a decimal literal that has no
  * exact binary representation, fails `sbt test` unless it is
  * explicitly allowlisted here WITH a justification.
  *
  * What is and isn't deterministic across engines:
  *   - `sqrt` IS correctly rounded (IEEE 754 requires it; both JVM
  *     `Math.sqrt` and DuckDB delegate to the hardware instruction),
  *     so `sqrt` over bit-identical inputs is engine-identical.
  *   - `ln`/`exp`/`log`/`pow` are libm, NOT required to be correctly
  *     rounded — agreement is a build property, not a guarantee.
  *   - a decimal literal parses correctly-rounded in both engines, so
  *     the literal itself is safe; non-dyadic literals are flagged
  *     anyway because every r9 failure started life as one feeding
  *     float arithmetic (1.96·se, 0.9·x, …) — make the author either
  *     scale to integers or sign the risk here.
  */
class OracleLintSpec extends AnyFunSuite {

  // (query, function) pairs allowed to keep a libm/sqrt call, each with
  // the reason the cross-engine agreement is sound (or the risk owner).
  private val fnAllow: Map[(String, String), String] = Map(
    // sqrt over exact integer/decimal inputs: correctly-rounded IEEE —
    // deterministic by spec, not by luck.
    ("q37_knn_brute", "sqrt") -> "cosine denom; exact int inputs",
    ("q38_knn_lsh", "sqrt") -> "cosine denom; exact int inputs",
    ("q39_embedding_neardup", "sqrt") -> "cosine denom; exact int inputs",
    ("q57_knn_ivf", "sqrt") -> "cosine denom; exact int inputs",
    ("q291_ann_recall", "sqrt") -> "q37+q57 CTEs composed; same denoms",
    ("q304_knn_hubness", "sqrt") -> "q37's cosine CTE widened to 100 queries; same denom",
    ("q81_embed_quantize", "sqrt") -> "l2norm of exact decimal squares",
    ("q104_knn_classify", "sqrt") -> "cosine denom; exact int inputs",
    ("q106_hard_negatives", "sqrt") -> "cosine denom; exact int inputs",
    ("q116_knn_ivf_indexed", "sqrt") -> "cosine denom; exact int inputs",
    ("q181_ab_ttest", "sqrt") -> "Welch denom over exact decimal vars",
    ("q193_centroid_shift", "sqrt") -> "cosine denom; exact int sums",
    ("q234_mmr_topk", "sqrt") -> "cosine denom; exact int dots/norms",
    ("q236_hybrid_rrf", "sqrt") -> "cosine denom; exact int dots/norms",
    ("q315_ivf_probe_plan", "sqrt") -> "q291's IVF+brute CTEs swept over nProbe; same denoms",
    ("q350_semantic_fold_parity", "sqrt") -> "q193's cosine denom over fold labels; exact int sums")
  // (The former q123 BM25 `ln` allowlist entry is gone: round 11
  // rewrote idf on the integer log kernel via r = 2(n+1)/(2df+1), so
  // the oracle surface now carries ZERO libm transcendentals — sqrt,
  // correctly rounded by IEEE, is the only float function left.)

  // Shared justification for small threshold literals: a non-dyadic
  // literal with unscaled value and 10^scale both ≤ 2^53 converts to
  // double via ONE correctly-rounded IEEE division (both operands
  // exact), identically in Spark and DuckDB; downstream it feeds only
  // IEEE +,-,*,/ comparisons over exact inputs — all correctly
  // rounded, so the whole compare is engine-identical. (The r9 hazard
  // was transcendentals and WIDE decimal→double casts, where DuckDB
  // rounds hugeint and 10^scale separately.)
  private val SmallThreshold =
    "small-scale threshold; single correctly-rounded conversion both engines"

  // Non-dyadic decimal literals allowed per query; additions need a
  // reason string (use SmallThreshold only when the literal has ≤15
  // significant digits AND feeds only IEEE-basic-op comparisons).
  private val litAllow: Map[(String, String), String] = Map(
    ("q02_filter_project", "0.05") -> SmallThreshold,
    ("q123_bm25_topk", "1.2") -> (SmallThreshold + "; k1 param scaled" +
      " into the micro-unit integer score before ranking"),
    ("q140_rfm_scores", "0.333") -> SmallThreshold,
    ("q140_rfm_scores", "0.667") -> SmallThreshold,
    ("q159_skew_report", "0.9") -> SmallThreshold,
    ("q159_skew_report", "0.99") -> SmallThreshold,
    ("q178_setsim_join", "0.8") -> SmallThreshold,
    ("q207_setsim_collapsed", "0.8") -> SmallThreshold,
    ("q34_minhash_neardup", "0.3") -> SmallThreshold,
    ("q36_jaccard_verify", "0.3") -> SmallThreshold,
    ("q36_jaccard_verify", "0.4") -> SmallThreshold,
    ("q39_embedding_neardup", "0.35") -> SmallThreshold,
    ("q44_median", "0.9") -> (SmallThreshold + "; quantile fraction, " +
      "both engines interpolate on exact in-sample values"),
    ("q61_analytic_ranks", "0.99") -> SmallThreshold,
    ("q66_quality_score", "0.01") -> SmallThreshold,
    ("q66_quality_score", "0.3") -> SmallThreshold,
    ("q86_stream_neardup", "0.3") -> SmallThreshold,
    ("q92_dedup_incremental", "0.3") -> SmallThreshold,
    // r11 additions: est-Jaccard / containment thresholds comparing an
    // exact dyadic (agreement/32, inter/|A|) against the literal — one
    // correctly-rounded conversion + one IEEE compare, both engines.
    ("q208_fuzzy_decontaminate", "0.3") -> SmallThreshold,
    ("q216_stream_decontaminate", "0.3") -> SmallThreshold,
    ("q209_containment_join", "0.9") -> SmallThreshold,
    // r15: the q178/q207 jaccard threshold swept over a VALUES table —
    // same exact-integer division vs literal compare per τ.
    ("q316_dedup_threshold_sweep", "0.7") -> SmallThreshold,
    ("q316_dedup_threshold_sweep", "0.8") -> SmallThreshold,
    ("q316_dedup_threshold_sweep", "0.9") -> SmallThreshold,
    ("q316_dedup_threshold_sweep", "0.95") -> SmallThreshold)

  private val fnRe =
    """(?i)\b(ln|exp|log|log2|log10|log1p|expm1|pow|power|sqrt|cbrt|sin|cos|tan|atan|atan2|asin|acos|sinh|cosh|tanh)\s*\(""".r
  private val litRe = """\b\d+\.\d+\b""".r

  /** Exactly representable as a binary double: after reducing
    * unscaled/10^scale, the denominator must be a power of two.
    */
  private def dyadic(lit: String): Boolean = {
    val bd = new java.math.BigDecimal(lit).stripTrailingZeros
    val scale = bd.scale
    if (scale <= 0) true
    else {
      val den = BigInt(10).pow(scale)
      val reduced = den / BigInt(bd.unscaledValue).gcd(den)
      reduced.bitCount == 1
    }
  }

  test("oracle SQL: no unapproved transcendentals, no unapproved non-dyadic literals") {
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, sql) <- SparkEntry.oracleSql.toSeq.sortBy(_._1)) {
      for (m <- fnRe.findAllMatchIn(sql)) {
        val fn = m.group(1).toLowerCase
        if (!fnAllow.contains((name, fn)))
          bad += s"$name: libm/float fn `$fn(` — integerize via FixedMath " +
            "or allowlist in OracleLintSpec with a justification"
      }
      for (lit <- litRe.findAllIn(sql).toSeq.distinct if !dyadic(lit)) {
        if (!litAllow.contains((name, lit)))
          bad += s"$name: non-dyadic literal `$lit` — scale to integer " +
            "units or allowlist in OracleLintSpec with a justification"
      }
    }
    assert(bad.isEmpty, "\n" + bad.mkString("\n"))
  }

  // ---- terminal-type lint (the r11 red class) ----
  // The driver's hash is TYPE-sensitive: DuckDB SUM(BIGINT) → HUGEINT
  // and SUM(DECIMAL(38,0)) render differently from Spark's BIGINT even
  // at equal values — six value-identical queries shipped hash-red in
  // r11. DuckDB is reachable only via python here, so the DESCRIBE
  // walk lives in tools/lint_oracle_types.py; this test shells out and
  // CANCELS (assume) where python3+duckdb or the test tables are
  // absent, so the suite stays portable while the gate bites on any
  // box that can run the driver's compare at all.
  private def runTool(args: String*): (Int, String) = {
    val pb = new ProcessBuilder(("python3" +: args).toArray: _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes, "UTF-8")
    (p.waitFor(), out)
  }

  private lazy val lintAvailable: Boolean =
    new java.io.File("tools/lint_oracle_types.py").exists &&
      new java.io.File("/root/testdata/sf0.001").exists &&
      (try runTool("-c", "import duckdb")._1 == 0
       catch { case _: java.io.IOException => false })

  test("oracle SQL: no HUGEINT/UHUGEINT/DECIMAL(38,0) terminal columns") {
    assume(lintAvailable, "python3+duckdb or sf0.001 tables unavailable")
    // the same oracle_sql.json bytes Verify writes for the compare
    val tmp = java.nio.file.Files.createTempFile("oracle_lint", ".json")
    java.nio.file.Files.writeString(tmp, Verify.oracleJson)
    val (code, out) = runTool("tools/lint_oracle_types.py",
      tmp.toString, "/root/testdata/sf0.001")
    assert(code == 0, s"oracle terminal-type lint failed:\n$out")
  }

  test("terminal-type lint rule is itself alive (negative fixture)") {
    assume(lintAvailable, "python3+duckdb or sf0.001 tables unavailable")
    val (code, out) = runTool("tools/lint_oracle_types.py",
      "--self-test", "/root/testdata/sf0.001")
    assert(code == 0, s"lint self-test failed (rule deleted/broken?):\n$out")
  }

  test("allowlists carry no dead entries") {
    val sqls = SparkEntry.oracleSql
    fnAllow.keys.foreach { case (q, fn) =>
      assert(sqls.contains(q), s"allowlist names unknown query $q")
      assert(fnRe.findAllMatchIn(sqls(q)).exists(_.group(1).toLowerCase == fn),
        s"allowlist ($q, $fn) no longer matches — remove it")
    }
    litAllow.keys.foreach { case (q, lit) =>
      assert(sqls.contains(q) && sqls(q).contains(lit),
        s"allowlist ($q, $lit) no longer matches — remove it")
    }
  }
}
