package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (forked test JVM). */
object LocalSpark {
  lazy val spark: SparkSession = {
    val s = Session.builder(4).appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` on a NEW session over the shared context, built by
    * `configure` — the builder only creates a session (and applies its
    * extensions) once active/default are cleared — then restores the
    * shared session as active/default. */
  def withFreshSession[T](configure: SparkSession.Builder => SparkSession.Builder)(
      body: SparkSession => T): T = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = configure(SparkSession.builder()
        .master("local[4]").config("spark.ui.enabled", "false")).getOrCreate()
      assert(s ne base, "expected a fresh session")
      body(s)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
