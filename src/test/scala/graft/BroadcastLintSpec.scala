package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level gate against hand-placed broadcast hints Catalyst makes
  * itself: an ungrouped `.agg(` yields one row and Catalyst knows it
  * (row count 1), so a join against it broadcasts by size while the
  * broadcast threshold is > 0, and a `broadcast(...)` hint on it only
  * changes the plan at threshold `-1`, where it overrides what `-1`
  * means (no broadcast at all).
  *
  * Flags `broadcast(x)` (and `Gates.broadcastIfFits(x, ...)`) where `x`
  * is a value built by an ungrouped `.agg(` in the same member, or is
  * such an expression itself. An `.agg(` is grouped when the call just
  * before it is `groupBy`, `rollup`, `cube`, `pivot` or `groupingSets`;
  * a value whose chain joins, unions or explodes after its last `.agg(`
  * is not one row. Runs on comment- and string-stripped source.
  */
class BroadcastLintSpec extends AnyFunSuite {

  private val grouping =
    Set("groupBy", "rollup", "cube", "pivot", "groupingSets")
  private val rowChanging = "(?:join|crossJoin|union\\w*|explode\\w*)\\(".r

  /** Index of the `(` that opens the `)` at `close`. */
  private def openOf(s: String, close: Int): Int = {
    var (i, depth) = (close, 0)
    while (i >= 0) {
      s(i) match {
        case ')' => depth += 1
        case '(' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i -= 1
    }
    -1
  }

  /** Index just past the `)` that closes the `(` at `open`. */
  private def closeOf(s: String, open: Int): Int = {
    var (i, depth) = (open, 0)
    while (i < s.length) {
      s(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i + 1
        case _ =>
      }
      i += 1
    }
    s.length
  }

  /** True iff `expr` ends in one row: its last `.agg(` is ungrouped and
    * nothing after it joins, unions or explodes.
    */
  private def oneRow(expr: String): Boolean = {
    val at = expr.lastIndexOf(".agg(")
    at >= 0 && rowChanging.findFirstIn(
      expr.substring(closeOf(expr, at + 4))).isEmpty && {
      val before = expr.substring(0, at).stripTrailing
      !before.endsWith(")") || {
        val head = before.substring(0, openOf(before, before.length - 1))
        !grouping(head.reverse.takeWhile(_.isLetterOrDigit).reverse)
      }
    }
  }

  /** `args` up to its first top-level comma. */
  private def firstArg(args: String): String = {
    var depth = 0
    args.takeWhile { c =>
      if (c == '(') depth += 1 else if (c == ')') depth -= 1
      depth > 0 || c != ','
    }
  }

  /** `val NAME = rhs` in a unit: the rhs is the rest of the line plus
    * every following line indented deeper than the `val`.
    */
  private val valDef = "(?m)^( *)(?:lazy )?val (\\w+)\\s*(?::[^=\n]*)?=(.*)$".r

  private def oneRowVals(unit: String): Set[String] =
    valDef.findAllMatchIn(unit).flatMap { m =>
      val indent = m.group(1).length
      val rest = unit.substring(m.end).split("\n", -1).drop(1)
        .takeWhile(l => l.trim.isEmpty || l.takeWhile(_ == ' ').length > indent)
      if (oneRow((m.group(3) +: rest).mkString("\n"))) Some(m.group(2))
      else None
    }.toSet

  private val hint = "\\b(broadcast|Gates\\.broadcastIfFits)\\(".r

  private def violations(src0: String, path: String): Seq[String] =
    SourceLint.members(SourceLint.strip(src0)).flatMap { case (name, u) =>
      val rows = oneRowVals(u)
      hint.findAllMatchIn(u).flatMap { m =>
        val open = m.end - 1
        val arg = firstArg(u.substring(open + 1, closeOf(u, open) - 1))
        val argHead = arg.takeWhile(c => c.isLetterOrDigit || c == '_')
        val single = oneRow(arg) ||
          (argHead.nonEmpty && rows(argHead) &&
            !arg.drop(argHead.length).trim.startsWith("(") &&
            rowChanging.findFirstIn(arg).isEmpty)
        // `sc.broadcast(v)` ships a driver value; it is not a join hint
        val receiver = u.substring(0, m.start)
        val hintCall = m.group(1) != "broadcast" ||
          !receiver.endsWith(".") || receiver.endsWith("functions.")
        if (single && hintCall)
          Some(s"$path#$name: `${m.matched}${arg.take(40)}...` hints a " +
            "one-row aggregate that Catalyst broadcasts by itself")
        else None
      }
    }

  test("no broadcast hint on an ungrouped aggregate") {
    val bad = SourceLint.sources.flatMap { case (p, s) => violations(s, p) }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("the rule is alive: planted one-row hints are flagged") {
    def unit(body: String): String =
      "object Bad {\n  def bad(df: DataFrame, o: DataFrame): DataFrame = {\n" +
        body + "  }\n}\n"
    val flagged = Seq(
      "    val tot = df.agg(sum(\"x\").as(\"t\"))\n" +
        "    o.crossJoin(broadcast(tot))\n",
      "    val tot = df\n      .filter(col(\"x\") > 0)\n" +
        "      .agg(count(lit(1)).as(\"n\"))\n      .select(col(\"n\"))\n" +
        "    o.join(broadcast(tot.select(col(\"n\"))), Seq(\"n\"))\n",
      "    o.crossJoin(broadcast(df.agg(max(\"x\").as(\"m\"))))\n",
      "    o.crossJoin(Gates.broadcastIfFits(df.agg(max(\"x\")), 1))\n",
      "    val (a, b) = (1, 2)\n    lazy val s = df.groupBy(\"g\").count()" +
        ".agg(sum(\"count\"))\n    o.crossJoin(broadcast(s))\n")
    for (b <- flagged)
      assert(violations(unit(b), "operators/Bad.scala").nonEmpty, b)
    val clean = Seq(
      "    val tot = df.groupBy(\"g\").agg(sum(\"x\").as(\"t\"))\n" +
        "    o.join(broadcast(tot), Seq(\"g\"))\n",
      "    val tot = df.groupBy(col(\"g\"))\n      .agg(sum(\"x\").as(\"t\"))\n" +
        "    o.join(broadcast(tot), Seq(\"g\"))\n",
      "    val tot = df.agg(sum(\"x\").as(\"t\")).crossJoin(o)\n" +
        "    o.crossJoin(broadcast(tot))\n",
      "    val bc = spark.sparkContext.broadcast(df.agg(sum(\"x\")).head)\n",
      "    // o.crossJoin(broadcast(df.agg(sum(\"x\"))))\n    o\n")
    for (b <- clean)
      assert(violations(unit(b), "operators/Ok.scala").isEmpty, b)
    // a value of the same name in another member is not this one
    val twoMembers = "object T {\n  def a(df: DataFrame) = {\n" +
      "    val tot = df.agg(sum(\"x\"))\n    tot\n  }\n" +
      "  def b(df: DataFrame, o: DataFrame) = {\n" +
      "    val tot = df.groupBy(\"g\").agg(sum(\"x\"))\n" +
      "    o.join(broadcast(tot), Seq(\"g\"))\n  }\n}\n"
    assert(violations(twoMembers, "operators/T.scala").isEmpty)
  }
}
