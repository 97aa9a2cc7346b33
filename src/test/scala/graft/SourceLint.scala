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
