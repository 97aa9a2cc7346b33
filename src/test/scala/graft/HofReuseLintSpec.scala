package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level gate for the r14 HOF-reuse class: whole-stage
  * codegen's subexpression elimination does NOT cover higher-order
  * functions, so a tokenization/HOF expression referenced twice inside
  * one expression tree evaluates the corpus pass per reference (langId
  * re-tokenized 6×, q71 split 8× per row, q212 ran >20 min at 100×).
  * PlanAudit cannot see this — the plan SHAPE is fine, the expression
  * work is multiplied — and the bench tripwire only catches it after
  * it ships, so this gate reads the SOURCE. Two rules:
  *
  *  1. any `val x = words(...)/wordNgrams(...)/split-HOF` local
  *     referenced more than once in its enclosing def must instead be
  *     a materialized column (`withColumn("_x", ...)` then `col("_x")`
  *     — multi-referenced non-cheap aliases survive CollapseProject)
  *     or a `...FromWords` variant fed one;
  *  2. (r15, closes the r14 verdict's lint hole) the INLINE form of
  *     the same defect — the IDENTICAL builder call text appearing
  *     ≥2 times in one expression unit without any val binding, e.g.
  *     `size(words(c)) + size(array_distinct(words(c)))` — is flagged
  *     too. An expression unit is a member (`def` or `val`) body,
  *     except inside a query registry, where each `Query(...)(...)`
  *     entry is its own unit (different queries may each tokenize
  *     once). Identical normalized call text means identical input,
  *     so two occurrences in one unit is double evaluation once
  *     CollapseProject folds the chain into one Project.
  *
  * Both rules run on comment-STRIPPED source (scaladoc examples of the
  * defect must not trip the gate).
  */
class HofReuseLintSpec extends AnyFunSuite {

  private val builders = Seq(
    "words\\(", "wordNgrams\\(", "wordNgramsFromWords\\(words\\(",
    "split\\(col", "split\\(lower", "filter\\(split", "transform\\(split")

  /** Builder-call heads for the inline rule (rule 2): the call is
    * extracted with balanced parens and whitespace-normalized, so two
    * hits compare on full argument text.
    */
  private val inlineHeads = Seq("words(", "wordNgrams(", "split(col",
    "split(lower")

  /** (name, body) of each object member, `def` or `val` with any
    * modifiers, on comment- and string-stripped source.
    */
  private def members(src0: String): Seq[(String, String)] = {
    val start = "\n  (?=(?:(?:private|protected|final|override|lazy)" +
      "(?:\\[\\w+\\])?\\s+)*(?:def|val)\\s)"
    SourceLint.strip(src0).split(start).toSeq.drop(1).map { d =>
      ("(?:def|val)\\s+(\\w+)".r.findFirstMatchIn(d).fold("?")(_.group(1)), d)
    }
  }

  /** rule 1: multi-referenced HOF-built vals. */
  private def violations(src0: String, where: String): Seq[String] =
    members(src0).flatMap { case (name, d) =>
      val pat = ("val (\\w+)\\s*=\\s*(" + builders.mkString("|") + ")").r
      pat.findAllMatchIn(d).flatMap { m =>
        val v = m.group(1)
        val uses = ("\\b" + java.util.regex.Pattern.quote(v) + "\\b").r
          .findAllIn(d).length - 1
        if (uses >= 2)
          Some(s"$where#$name: val $v (HOF-built) referenced ${uses}x" +
            " — materialize it as a column or use a FromWords variant")
        else None
      }
    }

  /** Full balanced-paren call text for each inline-head occurrence,
    * whitespace-normalized. An occurrence glued to a longer identifier
    * (`...FromWords(`) or a method call (`.split(` is allowed only for
    * the split heads) is skipped.
    */
  private def extractCalls(body: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    for (h <- inlineHeads) {
      var start = 0
      var i = body.indexOf(h, start)
      while (i >= 0) {
        val prevOk = i == 0 || {
          val p = body.charAt(i - 1)
          !(p.isLetterOrDigit || p == '_' || p == '.') ||
            (p == '.' && h.startsWith("split("))
        }
        if (prevOk) {
          val j = body.indexOf('(', i)
          var depth = 0; var k = j; var end = -1
          while (k < body.length && end < 0) {
            body.charAt(k) match {
              case '(' => depth += 1
              case ')' => depth -= 1; if (depth == 0) end = k
              case _ =>
            }
            k += 1
          }
          if (end > 0) out += body.substring(i, end + 1)
            .replaceAll("\\s+", "")
        }
        start = i + 1
        i = body.indexOf(h, start)
      }
    }
    out.toSeq
  }

  /** rule 2: identical builder call ≥2× in one expression unit. */
  private def inlineViolations(src0: String, where: String): Seq[String] =
    members(src0).flatMap { case (name, d) =>
      // a query registry: each Query(...)(...) entry is its own unit
      d.split("\\bQuery\\(").toSeq.flatMap { u =>
        extractCalls(u).groupBy(identity).collect {
          case (call, hits) if hits.size >= 2 =>
            s"$where#$name: inline `${call.take(60)}` appears " +
              s"${hits.size}x in one expression unit — bind it to a " +
              "materialized column (HOFs are not CSE'd by codegen)"
        }
      }
    }

  test("no multi-referenced HOF-built locals in operators or SparkEntry") {
    val bad = SourceLint.sources.flatMap { case (n, s) => violations(s, n) }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("no inline duplicate HOF builder calls in one expression unit") {
    val bad = SourceLint.sources.flatMap { case (n, s) => inlineViolations(s, n) }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("the rule is alive (negative fixture)") {
    val fixture =
      "object Bad {\n  def bad(text: Column): Column = {\n" +
        "    val ws = words(text)\n" +
        "    size(ws) + size(array_distinct(ws))\n  }\n}\n"
    assert(violations(fixture, "fixture").nonEmpty)
  }

  test("the inline rule is alive (negative fixture, no val binding)") {
    val fixture =
      "object Bad {\n  def bad(text: Column): Column =\n" +
        "    size(words(text)) + size(array_distinct(words(text)))\n}\n"
    assert(inlineViolations(fixture, "fixture").nonEmpty)
    // and the val-rule does NOT see it (the r14 lint hole this closes)
    assert(violations(fixture, "fixture").isEmpty)
    // different inputs in one unit are fine
    val ok =
      "object Ok {\n  def ok(a: Column, b: Column): Column =\n" +
        "    size(words(a)) + size(words(b))\n}\n"
    assert(inlineViolations(ok, "fixture").isEmpty)
    // scaladoc examples of the defect must not trip the gate
    val doc =
      "object Doc {\n  /** never write size(words(text)) +\n" +
        "    * size(array_distinct(words(text))) inline */\n" +
        "  def ok(text: Column): Column = size(words(text))\n}\n"
    assert(inlineViolations(doc, "fixture").isEmpty)
  }

  /** A registry fixture in SparkEntry's entry syntax. */
  private def registry(decl: String, entries: String*): String =
    s"object Reg {\n  $decl: Seq[Query] = Query.registry(\n" +
      entries.mkString(",\n") + ")\n}\n"
  private val tokenizeOnce =
    "    Query(\"q1_a\", \"SELECT 1\")((s, dir) =>\n" +
      "      docs(s, dir).select(size(words(col(\"text\")))))"
  private val tokenizeOnceToo =
    "    Query(\"q2_b\", Oracles.q2B, headline = true)((s, dir) => {\n" +
      "      val ws = words(col(\"text\"))\n" +
      "      docs(s, dir).select(size(ws))\n    })"
  private val tokenizeTwice =
    "    Query(\"q3_c\",\n      \"\"\"SELECT 3\n        |FROM t\"\"\".stripMargin)((s, dir) =>\n" +
      "      docs(s, dir).select(size(words(col(\"text\"))) +\n" +
      "        size(array_distinct(words(col(\"text\"))))))"

  test("registry entries are separate units: two that each tokenize once pass") {
    val ok = registry("val registry", tokenizeOnce, tokenizeOnceToo)
    assert(inlineViolations(ok, "fixture").isEmpty)
    assert(violations(ok, "fixture").isEmpty)
  }

  test("a registry entry that calls words(text) twice is flagged") {
    val bad = registry("val registry", tokenizeOnce, tokenizeTwice,
      tokenizeOnceToo)
    val hits = inlineViolations(bad, "fixture")
    assert(hits.size == 1, hits)
    assert(hits.head.startsWith("fixture#registry: inline `words(col(\"\"))`"))
  }

  test("a registry held in any val form is scanned by both rules") {
    val reuse =
      "    Query(\"q4_d\", \"SELECT 4\")((s, dir) => {\n" +
        "      val ws = words(col(\"text\"))\n" +
        "      docs(s, dir).select(size(ws), size(array_distinct(ws)))\n    })"
    for (decl <- Seq("val registry", "private val registry",
        "lazy val registry", "private[graft] lazy val registry")) {
      assert(inlineViolations(registry(decl, tokenizeTwice), "f").nonEmpty, decl)
      assert(violations(registry(decl, tokenizeOnce, reuse), "f").nonEmpty, decl)
    }
  }

  test("a `//` inside a string literal does not blind the gate (r15 fix)") {
    // the old strip truncated the line at the in-string `//`,
    // unbalancing parens and dropping the later duplicate calls
    val fixture =
      "object Bad {\n  def bad(text: Column): Column = {\n" +
        "    val q = expr(\"CAST(a * 1000000) // tc AS BIGINT)\")\n" +
        "    size(words(text)) + size(array_distinct(words(text)))\n" +
        "  }\n}\n"
    assert(inlineViolations(fixture, "fixture").nonEmpty)
    // and an in-string builder-looking call is NOT a Scala-side hit
    val ok =
      "object Ok {\n  def ok(t: Column): Column = {\n" +
        "    val q = expr(\"split(col, ' ')[0] || split(col, ' ')[1]\")\n" +
        "    size(words(t))\n  }\n}\n"
    assert(inlineViolations(ok, "fixture").isEmpty)
  }
}
