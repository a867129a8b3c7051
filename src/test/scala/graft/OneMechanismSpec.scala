package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guard against re-duplicating the per-session setup: one session
  * factory (`graft.Session`), one function registry installed in one
  * place (`GraftFunctions.register`, called by `Tables.register`; the
  * extensions inject the same list), one query helper (`Tables.sql`).
  * Scans the comment-stripped `src/main` sources, so prose that names a
  * pattern never counts as a site. */
class OneMechanismSpec extends AnyFunSuite {

  private val MainDir = java.nio.file.Paths.get("src/main/scala")

  /** (path relative to src/main/scala, comment-stripped code) */
  private lazy val sources: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val w = java.nio.file.Files.walk(MainDir)
    try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(f => MainDir.relativize(f).toString -> SourceCode.codeOf(f))
    finally w.close()
  }

  private def sitesOutside(pattern: String, allowed: Set[String]): Seq[String] =
    sources.collect { case (f, code) if !allowed(f) && code.contains(pattern) => f }

  test("the scan sees the main sources") {
    assert(sources.size > 50 && sources.exists(_._1 == "graft/Session.scala"))
  }

  test("SparkSession.builder appears only in graft.Session") {
    val bad = sitesOutside("SparkSession.builder", Set("graft/Session.scala"))
    assert(bad.isEmpty, s"build sessions with graft.Session.builder: $bad")
  }

  test("SQL functions are registered only by GraftFunctions and Tables") {
    val allowed = Set("graft/functions/expressions.scala", "graft/Tables.scala")
    for (p <- Seq("createOrReplaceTempFunction", "GraftFunctions.register(")) {
      val bad = sitesOutside(p, allowed)
      assert(bad.isEmpty,
        s"$p outside GraftFunctions/Tables (Tables.register installs the functions): $bad")
    }
  }

  test("no private gsql query helper: queries use Tables.sql") {
    val bad = sitesOutside("def gsql", Set.empty)
    assert(bad.isEmpty, s"def gsql in $bad")
  }
}
