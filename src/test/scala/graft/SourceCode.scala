package graft

/** Source-scan helper shared by the specs that gate patterns in
  * `src/main` (ThresholdInventorySpec, OneMechanismSpec). */
object SourceCode {
  /** Comment-stripped source so prose mentioning a number never counts
    * as a site — WITHOUT blinding the detectors (r17 review finding):
    * a `*`-led line is dropped only INSIDE a real block comment (SQL
    * multiplication continuations like `* CAST(v AS ...)` are code),
    * and a `//` starts a line comment only OUTSIDE string literals
    * (oracle SQL uses DuckDB's `//` integer division inside strings). */
  def codeOf(path: java.nio.file.Path): String = {
    var inBlock = false
    java.nio.file.Files.readString(path).linesIterator.map { l =>
      val t = l.trim
      if (inBlock) {
        if (t.contains("*/")) inBlock = false
        ""
      } else if (t.startsWith("/*")) {
        if (!t.contains("*/")) inBlock = true
        ""
      } else {
        // quote-aware line-comment strip: `//` counts only with an
        // EVEN number of '"' before it (outside any string literal)
        var i = 0; var quotes = 0; var cut = -1
        while (i < l.length - 1 && cut < 0) {
          if (l.charAt(i) == '"') quotes += 1
          else if (l.charAt(i) == '/' && l.charAt(i + 1) == '/' && quotes % 2 == 0)
            cut = i
          i += 1
        }
        if (cut >= 0) l.substring(0, cut) else l
      }
    }.mkString("\n")
  }
}
