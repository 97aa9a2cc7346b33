package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level gate for the one-mechanism stage lifecycle: engine code
  * materializes a stage only through `Dedup.materialize` and frees one
  * only through `Dedup.withPipeline` / `Dedup.releaseStage`. A raw
  * checkpoint is invisible to the pipeline scope, so its blocks outlive
  * the run; a raw cache + unpersist can free blocks before the lazy
  * plans that read them have run; and `Dataset.unpersist` on a
  * checkpoint frees nothing at all.
  *
  * Any `.localCheckpoint`, `.checkpoint`, `.cache`, `.persist` or
  * `.unpersist` call in `src/main/scala/graft` fails the gate unless it
  * sits in one of the allowed defs: Dedup's lifecycle block, and
  * `DabDataset.loadMemory` — dabstract's `load_memory` (persist + count),
  * which a caller pairs with `df.unpersist`. Runs on comment- and
  * string-stripped source; a unit is one member (def, val, ...) at
  * member indentation.
  */
class LifecycleLintSpec extends AnyFunSuite {

  private val lifecycleCall =
    "\\.(localCheckpoint|checkpoint|cache|persist|unpersist)\\b".r

  private val allowed = Set(
    "operators/Dedup.scala#materialize",
    "operators/Dedup.scala#releaseStage",
    "operators/Dedup.scala#drain",
    "operators/Dedup.scala#withPipeline",
    "core/DabDataset.scala#loadMemory")

  private def violations(src0: String, path: String): Seq[String] =
    SourceLint.members(SourceLint.strip(src0)).flatMap { case (name, u) =>
      val where = path + "#" + name
      if (allowed(where)) Nil
      else lifecycleCall.findAllMatchIn(u).map(m =>
        s"$where: `${m.matched}` — materialize a stage with " +
          "Dedup.materialize, free it with Dedup.withPipeline or " +
          "Dedup.releaseStage").toSeq
    }

  test("stages are materialized and freed only through Dedup's lifecycle") {
    val bad = SourceLint.sources.flatMap { case (p, s) => violations(s, p) }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("localCheckpoint appears once, inside Dedup.materialize") {
    val hits = SourceLint.sources.map { case (p, s) =>
      (p, "\\.localCheckpoint\\b".r.findAllIn(SourceLint.strip(s)).size)
    }.filter(_._2 > 0)
    assert(hits == Seq(("operators/Dedup.scala", 1)), hits.mkString(", "))
  }

  test("the rule is alive: a planted call of each form is flagged") {
    val forms = Seq("df.localCheckpoint(eager = false)", "df.localCheckpoint()",
      "df.checkpoint()", "df.cache()", "df.persist()",
      "df.unpersist(blocking = false)", "rdd.unpersist()")
    for (f <- forms) {
      val src = "object Bad {\n  def bad(df: DataFrame): DataFrame = {\n" +
        s"    val x = $f\n    x\n  }\n}\n"
      assert(violations(src, "operators/Bad.scala").nonEmpty, f)
      // an allowed def name only counts in its own file
      assert(violations(src.replace("def bad", "def materialize"),
        "operators/Bad.scala").nonEmpty, f)
      assert(violations(src.replace("def bad", "def materialize"),
        "operators/Dedup.scala").isEmpty, f)
      // a later member is its own unit, not part of the def above it
      for (m <- Seq("private def bad(df: DataFrame) =",
          "private[graft] def bad(df: DataFrame) =", "lazy val bad =")) {
        val helper = "object Bad {\n  def materialize(df: DataFrame) = df\n" +
          s"  $m $f\n}\n"
        assert(violations(helper, "operators/Dedup.scala").nonEmpty, m + f)
      }
    }
    // comments and strings are not calls
    val ok = "object Ok {\n  /** never df.cache() here */\n" +
      "  def ok(df: DataFrame): DataFrame = {\n" +
      "    // df.persist()\n    df.select(expr(\"x.unpersist()\"))\n  }\n}\n"
    assert(violations(ok, "operators/Ok.scala").isEmpty)
  }
}
