package graft.plans

import org.apache.spark.sql.{Column, SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension point: registers graft's native expressions with the
  * session (`spark.sql.extensions=graft.plans.GraftExtensions`, or
  * programmatically via `withExtensions`). SQL surface:
  *
  *   SELECT graft_cosine(a.embedding, b.embedding) FROM ...
  *
  * Catalyst sees a first-class expression — codegen'd, null-safe,
  * foldable-aware — rather than an opaque UDF.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.register(ext)
}

object GraftExtensions {
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_cosine(a, b) takes two array<float> args")
        CosineSimilarity(children.head, children(1))
      }),
    (new FunctionIdentifier("graft_dot_int"),
      new ExpressionInfo(classOf[IntDotProduct].getName, "graft_dot_int"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_dot_int(a, b) takes two array<int> args")
        IntDotProduct(children.head, children(1))
      }),
    (new FunctionIdentifier("graft_morton"),
      new ExpressionInfo(classOf[MortonInterleave].getName, "graft_morton"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_morton(x, y) takes two long args")
        MortonInterleave(children.head, children(1))
      }),
    (new FunctionIdentifier("graft_hilbert"),
      new ExpressionInfo(classOf[HilbertIndex].getName, "graft_hilbert"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_hilbert(x, y) takes two long args")
        HilbertIndex(children.head, children(1))
      }),
    (new FunctionIdentifier("graft_hll"),
      new ExpressionInfo(classOf[HllSketchAgg].getName, "graft_hll"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_hll(v) takes one long arg")
        HllSketchAgg(children.head)
      }),
    (new FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKAgg].getName, "graft_topk"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "graft_topk(ord, id, k) takes (double, long, literal int)")
        val k = children(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_topk k must be a literal int, got $other")
        }
        TopKAgg(children.head, children(1), k)
      }),
    (new FunctionIdentifier("graft_ln_q12"),
      new ExpressionInfo(classOf[FixedPointLn].getName, "graft_ln_q12"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_ln_q12(k) takes one long arg")
        FixedPointLn(children.head)
      }),
    (new FunctionIdentifier("graft_wilson_lb_q9"),
      new ExpressionInfo(classOf[WilsonLowerBoundQ9].getName, "graft_wilson_lb_q9"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_wilson_lb_q9(trials, conversions) takes two long args")
        WilsonLowerBoundQ9(children.head, children(1))
      }),
    (new FunctionIdentifier("graft_splitmix64"),
      new ExpressionInfo(classOf[SplitMix64Expr].getName, "graft_splitmix64"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_splitmix64(x) takes one long arg")
        SplitMix64Expr(children.head)
      }),
    (new FunctionIdentifier("graft_int_ewma"),
      new ExpressionInfo(classOf[IntEwma].getName, "graft_int_ewma"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_int_ewma(xs, den) takes (array<bigint>, literal int)")
        val den = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_int_ewma den must be a literal int, got $other")
        }
        IntEwma(children.head, den)
      }),
    (new FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "graft_normalize"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_normalize(s, 'NFC'|'NFD'|'NFKC'|'NFKD') takes a string and a literal form")
        val form = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
            v.toString
          case other =>
            throw new IllegalArgumentException(
              s"graft_normalize form must be a literal string, got $other")
        }
        UnicodeNormalize(children.head, form)
      }))

  def register(ext: SparkSessionExtensions): Unit = {
    functions.foreach { case (id, info, builder) =>
      ext.injectFunction((id, info, builder))
    }
    ext.injectOptimizerRule(_ => CollapseRedundantNormalize)
  }

  /** Column-API handle for the native expression (requires the function
    * registered in the session — see [[register]] / `withExtensions`).
    */
  def cosineExpr(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_cosine", a, b)

  /** Registration-free Column handle: wraps [[CosineSimilarity]] directly
    * so the hot ANN/near-dup paths get the codegen'd kernel on ANY session
    * (the driver's Verify/Bench sessions don't install the extensions).
    */
  def cosineNative(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(
      CosineSimilarity(ColumnShim.expression(a), ColumnShim.expression(b)))
  }

  /** Registration-free integer dot product (see [[cosineNative]]) — the
    * codegen'd kernel behind the int8 ANN within-cell scorers.
    */
  def dotIntNative(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(
      IntDotProduct(ColumnShim.expression(a), ColumnShim.expression(b)))
  }

  /** Registration-free Morton/Z-order interleave (see [[cosineNative]]). */
  def mortonNative(x: Column, y: Column): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(
      MortonInterleave(ColumnShim.expression(x), ColumnShim.expression(y)))
  }

  /** Registration-free Hilbert-curve index (see [[cosineNative]]). */
  def hilbertNative(x: Column, y: Column): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(
      HilbertIndex(ColumnShim.expression(x), ColumnShim.expression(y)))
  }

  /** Registration-free HLL aggregate (see [[cosineNative]]): 256-byte
    * constant sketch state per group through standard partial/final
    * aggregation — the scale-preferred form of `Sketches.hllRegisters`
    * + `hllEstimate`, bit-identical output.
    */
  def hllNative(v: Column): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(
      HllSketchAgg(ColumnShim.expression(v)).toAggregateExpression())
  }

  /** Registration-free bounded top-k aggregate (see [[cosineNative]]):
    * the k largest (ord, id) pairs per group by (ord DESC, id ASC)
    * through standard partial/final aggregation — ≤ 2k pairs of state
    * per group where the window formulation sorts every row.
    */
  def topKNative(ord: Column, id: Column, k: Int): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(
      TopKAgg(ColumnShim.expression(ord), ColumnShim.expression(id), k)
        .toAggregateExpression())
  }

  /** Registration-free KMV bottom-k distinct sketch (see
    * [[cosineNative]]): k smallest splitmix64 hashes as bounded state;
    * exact below k, ~1/√k relative error above — [[hllNative]]'s
    * higher-accuracy sibling.
    */
  def kmvNative(v: Column, k: Int): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(
      KmvSketchAgg(ColumnShim.expression(v), k).toAggregateExpression())
  }

  /** Registration-free KMV state readout (see [[kmvNative]]): (n_state,
    * est) from a sign-flipped sorted minima array — the streaming-state
    * path's final step.
    */
  def kmvEstimateNative(mins: Column, k: Int): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(KmvEstimate(ColumnShim.expression(mins), k))
  }

  /** Registration-free fixed-point ln(k)·10¹² (see [[cosineNative]]) —
    * the cross-engine-deterministic log behind entropy/Kaplan–Meier
    * (graft.functions.FixedMath.lnQ12 as a codegen'd expression).
    */
  def lnQ12Native(k: Column): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(FixedPointLn(ColumnShim.expression(k)))
  }

  /** Registration-free Wilson lower bound at 10⁻⁹ fixed point (see
    * [[cosineNative]]): integer arithmetic + floor-isqrt from exact
    * (trials, conversions) — bit-identical on any engine build.
    */
  def wilsonLbQ9Native(trials: Column, conversions: Column): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(WilsonLowerBoundQ9(
      ColumnShim.expression(trials), ColumnShim.expression(conversions)))
  }

  /** Registration-free floor-isqrt of a non-negative BIGINT (see
    * [[cosineNative]]) — x^(1/2) exactly, the fractional-power step of
    * temperature-scaled mixture weights; Newton-CTE-replayable.
    */
  def isqrtNative(k: Column): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(FixedPointIsqrt(ColumnShim.expression(k)))
  }

  /** Registration-free word → language-marker bitmask (see
    * [[cosineNative]]): one static hash probe per token — the langId
    * hot-path kernel (bit i ↔ LangMarkers.langs(i)).
    */
  def langMarkerMaskNative(word: Column): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(LangMarkerMask(ColumnShim.expression(word)))
  }

  /** Registration-free langId verdict over a tokenized words array
    * (see [[cosineNative]]): the whole 6-language score+argmax in one
    * array pass — HOF forms re-evaluate the tokenization per language
    * (codegen subexpression elimination skips higher-order functions).
    */
  def langIdNative(words: Column): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(LangIdFromWords(ColumnShim.expression(words)))
  }

  /** Registration-free Flesch–Kincaid syllable sum over a tokenized
    * words array (see [[cosineNative]]): Σ max(1, vowel runs), one
    * byte-wise pass — the HOF regex form was the r14 sweep's worst
    * hot path.
    */
  def syllableSumNative(words: Column): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(SyllableSum(ColumnShim.expression(words)))
  }

  /** Native whitespace token count (see [[cosineNative]] for the
    * registration-free pattern): maximal non-`\s` byte runs in one
    * codegen'd pass — value-identical to the
    * `size(filter(split(text, "\\s+"), ...))` HOF form it replaces.
    */
  def tokenCountWsNative(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(TokenCountWs(ColumnShim.expression(text)))
  }

  /** Registration-free quality-features struct (see [[cosineNative]]):
    * one UTF-8 pass per row ([[QualityFeatures]]).
    */
  def qualityFeaturesNative(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(QualityFeatures(ColumnShim.expression(text)))
  }

  /** Registration-free Gopher-rules struct (see [[cosineNative]]): one
    * UTF-8 pass per row ([[GopherRules]]).
    */
  def gopherRulesNative(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(GopherRules(ColumnShim.expression(text)))
  }

  /** Registration-free k-char shingle digests (see [[cosineNative]]):
    * sorted distinct FNV-1a window digests with zero substring
    * allocation — the set-similarity build kernel. Pass lowered text.
    */
  def shingleDigestsNative(text: Column, k: Int): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(ShingleDigests(ColumnShim.expression(text), k))
  }

  /** Registration-free content-defined chunking (see [[cosineNative]]):
    * the Gear walk per document without the UDF boxing round-trip.
    */
  def cdcChunksNative(text: Column, minLen: Int, maxLen: Int,
      maskBits: Int): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(
      CdcChunksExpr(ColumnShim.expression(text), minLen, maxLen, maskBits))
  }

  /** Registration-free sorted-long-array intersection count (see
    * [[cosineNative]]): two-pointer merge, codegen'd — the
    * set-similarity verify kernel.
    */
  def sortedIntersectNative(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(SortedIntersectCount(
      ColumnShim.expression(a), ColumnShim.expression(b)))
  }

  /** Registration-free Unicode normalization (see [[cosineNative]]):
    * `form` ∈ NFC/NFD/NFKC/NFKD, resolved at plan time.
    */
  def normalizeNative(s: Column, form: String): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(UnicodeNormalize(ColumnShim.expression(s), form))
  }

  /** Registration-free integer EWMA walk (see [[cosineNative]]):
    * α = 1/den smoothing over a time-ordered long array, floor-division
    * recurrence — deterministic on any engine.
    */
  def intEwmaNative(xs: Column, den: Int): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(IntEwma(ColumnShim.expression(xs), den))
  }

  /** Registration-free splitmix64 finalizer (see [[cosineNative]]):
    * wrapping multiplies inside codegen — the Column formulation would
    * trip ANSI overflow checks.
    */
  def splitmix64Native(x: Column): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(SplitMix64Expr(ColumnShim.expression(x)))
  }
}
