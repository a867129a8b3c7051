package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Tables.register` is the one per-session setup: it installs the graft
  * SQL functions along with the views, so a query that uses them needs
  * no registration of its own. Checked on a fresh session built WITHOUT
  * the graft extensions (its own temp-function registry, nothing
  * registered by hand), against the shared session's rows. */
class SessionSetupSpec extends AnyFunSuite {

  // one query from each module whose queries used to register the
  // functions themselves
  private val probes = Seq(
    "dedup_simhash", "text_chunks", "link_jaro_winkler", "text_ngrams_topk",
    "text_context_ngrams", "agg_ewah_bitmap", "stats_bootstrap_poisson",
    "mask_fns")

  private def rows(spark: org.apache.spark.sql.SparkSession, q: String) =
    SparkEntry.queries(q)(spark, LocalSpark.sf).collect().map(_.toString).sorted.toSeq

  test("Tables.register installs the graft functions in a fresh session") {
    val expected = probes.map(q => q -> rows(LocalSpark.spark, q)).toMap
    LocalSpark.withFreshSession(identity) { s =>
      assert(!s.catalog.functionExists("mix64"),
        "the fresh session must start without graft functions")
      probes.foreach { q =>
        assert(rows(s, q) == expected(q), s"$q differs in the fresh session")
      }
      assert(s.catalog.functionExists("mix64"))
    }
  }
}
