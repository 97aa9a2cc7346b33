package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction, StringSplit}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** The native text-statistics kernel behind `qualityFeatures` and
  * `gopherRules`, against the split/filter/aggregate expressions those
  * functions were before it (kept here as the reference), and the plan
  * shape that makes it pay: a filter on the gates never splits the text.
  */
class TextStatsSpec extends SparkSpec {
  import spark.implicits._

  /** The reference: the higher-order-function forms, verbatim. */
  private object Hof {
    def words(text: Column): Column =
      filter(split(lower(text), "[^a-z0-9']+"), w => length(w) > 0)

    private val stopwordsEn = graft.functions.TextKernels.enStops
    private val gopherStops = graft.functions.TextKernels.gopherStops

    def qualityFeatures(text: Column): Column = {
      val ws = words(text)
      val nChars = length(text)
      val nWords = size(ws)
      val stopHits = size(filter(ws, w => w.isin(stopwordsEn.map(lit): _*)))
      struct(
        nChars.as("n_chars"),
        nWords.as("n_words"),
        (aggregate(ws, lit(0L), (a, w) => a + length(w)).cast("double") /
          greatest(nWords, lit(1))).as("mean_word_len"),
        (stopHits.cast("double") / greatest(nWords, lit(1))).as("stopword_ratio"),
        ((nChars - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") /
          greatest(nChars, lit(1))).as("punct_ratio"),
        ((nChars - length(regexp_replace(text, "[A-Z]", ""))).cast("double") /
          greatest(nChars, lit(1))).as("upper_ratio"),
        ((nChars - length(regexp_replace(text, "[0-9]", ""))).cast("double") /
          greatest(nChars, lit(1))).as("digit_ratio"))
    }

    def gopherRules(text0: Column): Column = {
      val text = coalesce(text0, lit(""))
      val ws = words(text)
      val lines = split(text, "\r?\n")
      val nWords = size(ws).cast("long")
      val totalChars = coalesce(aggregate(ws, lit(0L),
        (acc, w) => acc + length(w).cast("long")), lit(0L))
      val alphaWords = size(filter(ws, w => w.rlike("[a-z]"))).cast("long")
      val stopHits = gopherStops.map(s =>
        when(array_contains(ws, s), 1L).otherwise(0L)).reduce(_ + _)
      val nLines = size(lines).cast("long")
      val bulletLines = size(filter(lines, l =>
        startswith(ltrim(l), lit("- ")) || startswith(ltrim(l), lit("* "))))
        .cast("long")
      val ellipsisLines = size(filter(lines, l =>
        endswith(rtrim(l), lit("...")))).cast("long")
      val nHash = length(text).cast("long") -
        length(replace(text, lit("#"), lit(""))).cast("long")
      val nEllipsis = (length(text).cast("long") -
        length(replace(text, lit("..."), lit(""))).cast("long")) / lit(3L)
      val rules = Seq(
        (nWords >= 50L && nWords <= 100000L).as("r_word_count"),
        (lit(3L) * nWords <= totalChars &&
          totalChars <= lit(10L) * nWords).as("r_word_len"),
        (lit(10L) * nHash <= nWords &&
          lit(10L) * nEllipsis <= nWords).as("r_symbol"),
        (lit(10L) * bulletLines <= lit(9L) * nLines).as("r_bullet"),
        (lit(10L) * ellipsisLines <= lit(3L) * nLines).as("r_ellipsis"),
        (lit(5L) * alphaWords >= lit(4L) * nWords).as("r_alpha"),
        (stopHits >= 2L).as("r_stop"))
      struct(Seq(nWords.as("n_words"), totalChars.as("n_word_chars"),
        nLines.as("n_lines")) ++ rules :+
        rules.reduce(_ && _).as("pass"): _*)
    }
  }

  private val edges = Seq(null, "", "    ", "....", "x...y...",
    "line1\r\nline2\n\n", "\t- tab", "  - sp", "DON'T stop",
    "the cat and the dog... # with that", "a b c d e f g h i j .... k",
    "wait...\r\nfor it", "* a\r\n- b\r\n\rc...  \r\n",
    "Kelvin \u212A, \u0130stanbul \u03A3\u03A3 \uFF21 \uD83D\uDE00 \u00E9t\u00E9")

  private val alphabet: IndexedSeq[String] =
    ('a' to 'z').map(_.toString) ++ ('A' to 'Z').map(_.toString) ++
      ('0' to '9').map(_.toString) ++ "!\"$%&()*+,-/:;<=>?@[\\]^_`{|}~".map(_.toString) ++
      Seq("'", " ", " ", " ", " ", "\t", "\r\n", "\n", "#", ".", "- ", "* ",
        "\u00E9", "\u2014", "\u212A", "\u0130", "\u03A3", "\uFF21",
        "\uD83D\uDE00") ++
      (graft.functions.TextKernels.enStops ++ Seq("THE", "With", "HAVE"))
        .map(w => s" $w ")

  private lazy val texts: DataFrame = {
    val rng = new scala.util.Random(20261020)
    val rand = Seq.fill(300) {
      val n = rng.nextInt(3) match {
        case 0 => rng.nextInt(12)
        case 1 => rng.nextInt(80)
        case _ => 100 + rng.nextInt(300)
      }
      Seq.fill(n)(alphabet(rng.nextInt(alphabet.length))).mkString
    }
    // an RDD, not a local relation: the optimizer must not fold the
    // projection, so both forms run as whole-stage code
    spark.sparkContext.parallelize(edges ++ rand, 2).toDF("t")
  }

  /** Rows of `df` whose `nat` struct differs from `ref` in a field. */
  private def mismatches(df: DataFrame, fields: Seq[String]): Array[String] =
    df.filter(fields.map(f => !(col(s"nat.$f") <=> col(s"ref.$f"))).reduce(_ || _))
      .collect().take(3).map(_.toString)

  private val icu = "spark.sql.icu.caseMappings.enabled"

  test("qualityFeatures' native kernel ≡ the split/aggregate HOF form (property + edges)") {
    for (on <- Seq("true", "false")) withConf(icu, on) {
      val bad = mismatches(texts.select($"t",
          TextAnalysis.qualityFeatures($"t").as("nat"), Hof.qualityFeatures($"t").as("ref")),
        graft.plans.QualityFeatures.schema.fieldNames.toSeq)
      assert(bad.isEmpty, s"icu=$on: ${bad.mkString("; ")}")
    }
    val nulls = Seq[String](null).toDF("t")
      .select(TextAnalysis.qualityFeatures($"t").as("q")).head().getStruct(0)
    assert(nulls != null && (0 until nulls.length).forall(nulls.isNullAt), nulls)
  }

  test("gopherRules' native kernel ≡ the split/filter HOF form (property + edges)") {
    val fields = graft.plans.GopherRules.schema.fieldNames.toSeq
    for (on <- Seq("true", "false")) withConf(icu, on) {
      val both = TextAnalysis.gopherRules(texts.withColumn("ref", Hof.gopherRules($"t")),
          idCol = "t", textCol = "t", carry = Seq("ref"))
        .select($"t", $"ref", struct(fields.map(col): _*).as("nat"))
      val bad = mismatches(both, fields)
      assert(bad.isEmpty, s"icu=$on: ${bad.mkString("; ")}")
    }
    // the fixed edges, by hand: CRLF lines (the "\r" is no part of the
    // line), bullets trim spaces only, the "..." matches do not overlap
    // (11 words allow one; "...." holds one, not two), and apostrophes
    // stay in words
    val r = TextAnalysis.gopherRules(edges.toDF("t").withColumn("doc_id", $"t"), textCol = "t")
      .collect().map(x => Option(x.getString(0)).getOrElse("<null>") -> x).toMap
    def get(t: String, f: String): Any = r(t).getAs[Any](f)
    for (t <- Seq("<null>", "")) assert(get(t, "n_words") == 0L && get(t, "n_lines") == 1L)
    assert(get("line1\r\nline2\n\n", "n_lines") == 4L && get("line1\r\nline2\n\n", "n_words") == 2L)
    assert(get("\t- tab", "r_bullet") == true && get("  - sp", "r_bullet") == false)
    assert(get("DON'T stop", "n_words") == 2L && get("x...y...", "n_words") == 2L)
    assert(get("a b c d e f g h i j .... k", "r_symbol") == true)
    assert(get("wait...\r\nfor it", "r_ellipsis") == false)
  }

  private def filterConditions(df: DataFrame): Seq[Expression] = {
    val plan: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    plan.collect { case f: FilterExec => f.condition }
  }

  private def count(conds: Seq[Expression])(pf: PartialFunction[Expression, Unit]) =
    conds.map(_.collect(pf).size).sum

  test("a filter on the gates holds no split and calls the kernel once a row") {
    val d = spark.range(0, 64).select($"id".as("doc_id"),
      concat(lit("The cat sat with the dog "), $"id".cast("string")).as("text"))
    val pass = filterConditions(TextAnalysis.gopherRules(d).filter($"pass"))
    assert(pass.nonEmpty)
    assert(count(pass) { case _: StringSplit => } == 0)
    assert(count(pass) { case _: LambdaFunction => } == 0)
    assert(count(pass) { case e if e.prettyName == "graft_gopher_rules" => } == 1)
    val quality = filterConditions(d.withColumn("q", TextAnalysis.qualityFeatures($"text"))
      .filter($"q.n_words" >= 40 && $"q.digit_ratio" < 0.2))
    assert(quality.nonEmpty)
    assert(count(quality) { case _: StringSplit => } == 0)
  }
}
