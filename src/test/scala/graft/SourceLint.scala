package graft

/** Engine source for the source-level lint specs. */
object SourceLint {

  /** Comment- AND string-literal-stripped source. Strings go too (r15
    * self-review finding): oracle SQL carries DuckDB's floor-division
    * operator `//` inside string literals, and the old
    * strip-line-comments pass truncated every such line at the `//` —
    * unbalancing parens and silently blinding `extractCalls` for the
    * rest of the def. Order matters: block comments, then string
    * literals (so an in-string `//` never reads as a comment), then
    * line comments.
    */
  def strip(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("(?s)\"\"\".*?\"\"\"", "\"\"")
      .replaceAll("\"(\\\\.|[^\"\\\\\n])*\"", "\"\"")
      .replaceAll("//[^\n]*", "")

  /** A member definition at member indentation; it starts a new unit. */
  private val member = "\n  (?:(?:private|protected)(?:\\[\\w+\\])? |" +
    "override |final |implicit |lazy )*(?:def|val|var|object|class) "

  /** (name, text) of each member of `src`: one unit per member at
    * member indentation, the text before the first one named "".
    */
  def members(src: String): Seq[(String, String)] =
    src.split(member).toSeq.zipWithIndex.map { case (u, i) =>
      (if (i == 0) "" else u.takeWhile(_.isLetterOrDigit), u)
    }

  /** (path under `src/main/scala/graft`, text) of every engine source. */
  def sources: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root.toFile).map { f =>
      (root.relativize(f.toPath).toString,
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    }
  }
}
