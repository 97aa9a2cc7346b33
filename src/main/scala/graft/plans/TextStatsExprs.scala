package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A native struct over ONE [[graft.functions.TextKernels.scanText]]
  * pass of a string: every field the struct's consumers read comes out
  * of the same call, so a filter or projection over several fields
  * tokenizes the row once (where each `split`/HOF form re-ran its regex:
  * higher-order functions get no subexpression elimination). Like
  * Spark's `Lower`, the case-mapping setting is read once, where the
  * expression is planned.
  */
sealed abstract class TextStatsExpr(kernel: String, name: String)
    extends UnaryExpression with Serializable {

  private lazy val icu: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  protected def eval(s: UTF8String, icu: Boolean): Any

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires a STRING argument, got ${child.dataType.sql}")

  override def nullSafeEval(s: Any): Any = eval(s.asInstanceOf[UTF8String], icu)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.TextKernels.$kernel($s, $icu)")

  override def prettyName: String = name
}

/** `TextAnalysis.qualityFeatures`' struct (see
  * [[graft.functions.TextKernels.qualityFeatures]]).
  */
case class QualityFeatures(child: Expression)
    extends TextStatsExpr("qualityFeatures", "graft_quality_features") {

  override def dataType: DataType = QualityFeatures.schema

  override protected def eval(s: UTF8String, icu: Boolean): Any =
    graft.functions.TextKernels.qualityFeatures(s, icu)

  override protected def withNewChildInternal(newChild: Expression): QualityFeatures =
    copy(child = newChild)
}

object QualityFeatures {
  val schema: StructType = StructType(
    Seq(StructField("n_chars", IntegerType, nullable = false),
      StructField("n_words", IntegerType, nullable = false)) ++
      Seq("mean_word_len", "stopword_ratio", "punct_ratio", "upper_ratio",
        "digit_ratio").map(StructField(_, DoubleType, nullable = false)))
}

/** `TextAnalysis.gopherRules`' counts, rule flags and verdict (see
  * [[graft.functions.TextKernels.gopherRules]]).
  */
case class GopherRules(child: Expression)
    extends TextStatsExpr("gopherRules", "graft_gopher_rules") {

  override def dataType: DataType = GopherRules.schema

  override protected def eval(s: UTF8String, icu: Boolean): Any =
    graft.functions.TextKernels.gopherRules(s, icu)

  override protected def withNewChildInternal(newChild: Expression): GopherRules =
    copy(child = newChild)
}

object GopherRules {
  val counts: Seq[String] = Seq("n_words", "n_word_chars", "n_lines")
  val rules: Seq[String] = Seq("r_word_count", "r_word_len", "r_symbol",
    "r_bullet", "r_ellipsis", "r_alpha", "r_stop")
  val schema: StructType = StructType(
    counts.map(StructField(_, LongType, nullable = false)) ++
      (rules :+ "pass").map(StructField(_, BooleanType, nullable = false)))
}
