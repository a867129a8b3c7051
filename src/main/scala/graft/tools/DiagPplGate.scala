package graft.tools

import org.apache.spark.sql.functions._

/** Dev diagnostic: stage-by-stage row counts for the curation funnel at
  * a given fixture (r16 — the r15 sf10 sweep showed pipeline_curate_ppl
  * PASS with 0 rows at sf10, the "oracle agrees but is it useful?"
  * class the adaptive-LSH bug taught us to eyeball). Prints the
  * pipeline_curate row count and the corpus perplexity distribution so
  * a threshold that silently empties at scale is visible.
  *
  * Usage: runMain graft.tools.DiagPplGate <sfDir> [cores]
  */
object DiagPplGate {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cores = if (args.length > 1) args(1) else "16"
    val spark = graft.Session.builder(cores.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.register(spark, sfDir)
    val curate = graft.operators.Dedup.queries("pipeline_curate")(spark, sfDir)
    println(s"[diag-ppl] pipeline_curate rows = ${curate.count()}")
    val ppl = graft.operators.TextAnalysis.queries("text_perplexity")(spark, sfDir)
    val stats = ppl.agg(
      min(col("ppl")).as("min"),
      expr("percentile(ppl, 0.1)").as("p10"),
      expr("percentile(ppl, 0.5)").as("p50"),
      expr("percentile(ppl, 0.9)").as("p90"),
      max(col("ppl")).as("max"),
      sum(when(col("ppl") <= 30.0, 1).otherwise(0)).as("n_le_30"),
      count(lit(1)).as("n")).collect()(0)
    println(s"[diag-ppl] perplexity dist: $stats")
    val joined = graft.operators.Dedup.queries("pipeline_curate_ppl")(spark, sfDir)
    println(s"[diag-ppl] pipeline_curate_ppl rows = ${joined.count()}")
    spark.stop()
  }
}
