package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level gate for the one size gate: no global mutable state and
  * one reader of the broadcast threshold.
  *
  *  - A `var` member of a top-level `object` in `src/main/scala/graft` is
  *    process-wide mutable state: a knob set from anywhere, for every
  *    session at once. State local to a def, a class instance or an
  *    anonymous iterator (e.g. `AsOfJoinNative`'s) stays allowed.
  *  - `spark.sql.autoBroadcastJoinThreshold` is read only in
  *    `operators/Gates.scala`, so every size decision follows the same
  *    rule. Setting it (a session builder's `.config`, `conf.set`) is
  *    not a read.
  *
  * Runs on comment-stripped source; a top-level unit starts at column 0.
  */
class GlobalStateLintSpec extends AnyFunSuite {

  private val topLevel = "\n(?=\\S)"
  private val objectHead =
    "^(?:(?:private|protected)(?:\\[\\w+\\])? |final |case )*object ".r
  private val memberVar = ("\n  (?:(?:private|protected)(?:\\[\\w+\\])? |" +
    "override |final |@volatile )*var (\\w+)").r

  private def globalVars(src: String, path: String): Seq[String] =
    SourceLint.strip(src).split(topLevel).toSeq
      .filter(u => objectHead.findFirstIn(u).nonEmpty)
      .flatMap(u => memberVar.findAllMatchIn(u).map(m =>
        s"$path: `var ${m.group(1)}` is a member of top-level " +
          s"`${u.takeWhile(_ != '{').trim}` — global mutable state"))

  // the identifier in code (SQLConf.get.autoBroadcastJoinThreshold), or
  // the key as a string literal that is not being set
  private val thresholdField = "\\bautoBroadcastJoinThreshold\\b".r
  private val thresholdKey = ("(?<!\\.config\\(|\\.set\\()" +
    "\"spark\\.sql\\.autoBroadcastJoinThreshold\"").r

  private def thresholdReads(src: String, path: String): Seq[String] =
    if (path == "operators/Gates.scala") Nil
    else (thresholdField.findAllIn(SourceLint.strip(src)) ++
      thresholdKey.findAllIn(stripComments(src))).map(m =>
        s"$path: `$m` — ask operators.Gates instead").toSeq

  /** Comments go, string literals stay (the key is a string). */
  private def stripComments(src: String): String = {
    val lits = "(?s)\"\"\".*?\"\"\"|\"(?:\\\\.|[^\"\\\\\n])*\"".r
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    val masked = lits.replaceAllIn(src.replaceAll("(?s)/\\*.*?\\*/", ""),
      m => { kept += m.matched; s"\u0000${kept.size - 1}\u0000" })
    "\u0000(\\d+)\u0000".r.replaceAllIn(masked.replaceAll("//[^\n]*", ""),
      m => java.util.regex.Matcher.quoteReplacement(kept(m.group(1).toInt)))
  }

  test("no top-level object in src/main has a var member") {
    val bad = SourceLint.sources.flatMap { case (p, s) => globalVars(s, p) }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("only Gates reads the broadcast threshold") {
    val bad = SourceLint.sources.flatMap { case (p, s) => thresholdReads(s, p) }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("the rules are alive: a planted form of each is flagged") {
    for (v <- Seq("var cap: Long = 1L", "private[graft] var cap = 1L",
        "@volatile var cap = 1L", "private var cap = 1L")) {
      val src = s"package graft\n\nobject Knobs {\n  $v\n}\n"
      assert(globalVars(src, "operators/Knobs.scala").nonEmpty, v)
      assert(globalVars(src.replace("object", "private[graft] object"),
        "operators/Knobs.scala").nonEmpty, v)
    }
    // state in a class, a def, or an iterator inside a def is not global
    val ok = "package graft\n\nclass Builder {\n  private var cols = 0\n}\n\n" +
      "object Ops {\n  def f(): Int = {\n    var i = 0\n    i\n  }\n" +
      "  def it(): Iterator[Int] = new Iterator[Int] {\n" +
      "    private var cur = 0\n    def hasNext = cur < 3\n" +
      "    def next() = { cur += 1; cur }\n  }\n}\n"
    assert(globalVars(ok, "operators/Ops.scala").isEmpty)
    for (r <- Seq("SQLConf.get.autoBroadcastJoinThreshold",
        "spark.conf.get(\"spark.sql.autoBroadcastJoinThreshold\")",
        "conf.getOption(\"spark.sql.autoBroadcastJoinThreshold\")")) {
      val src = s"object Bad {\n  def f(spark: SparkSession) = $r\n}\n"
      assert(thresholdReads(src, "operators/Bad.scala").nonEmpty, r)
      assert(thresholdReads(src, "operators/Gates.scala").isEmpty, r)
    }
    val sets = "object Ok {\n  // autoBroadcastJoinThreshold, in a comment\n" +
      "  val b = SparkSession.builder()\n" +
      "    .config(\"spark.sql.autoBroadcastJoinThreshold\", 1L)\n" +
      "  def f(spark: SparkSession) =\n" +
      "    spark.conf.set(\"spark.sql.autoBroadcastJoinThreshold\", \"-1\")\n}\n"
    assert(thresholdReads(sets, "operators/Ok.scala").isEmpty)
  }
}
