package graft.tools

/** Dev micro-bench for the ANN build/probe split (r17): separates the
  * one-time index build from the per-batch probe cost, against the
  * batch query (which recomputes corpus bucketing every run) as the
  * reference. The serving claim under test: with the index persisted,
  * a probe batch's cost is driven by the probed buckets' candidate
  * volume, not by the corpus-wide bucketing recompute.
  * Usage: runMain graft.tools.DiagAnnProbe <sfDir> [planesKnob] */
object DiagAnnProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.Session.local()
    args.drop(1).headOption.foreach(p => spark.conf.set("graft.ann.lshPlanes", p))
    def time(what: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[diag-ann-probe] $what: $s%.2f s")
      s
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    // 1. index build (fixture absent in a fresh warehouse) + first probe
    time("build+probe (cold index)") {
      noop(graft.SparkEntry.queries("ann_lsh_probe_indexed")(spark, sfDir))
    }
    // 2. per-batch probe against the warm index (the serving path term)
    for (i <- 1 to 3)
      time(s"probe batch $i (warm index)") {
        noop(graft.SparkEntry.queries("ann_lsh_probe_indexed")(spark, sfDir))
      }
    // 3. the batch form, for reference (bucketing recomputed per run)
    for (i <- 1 to 2)
      time(s"batch ann_lsh_bucketed $i") {
        noop(graft.SparkEntry.queries("ann_lsh_bucketed")(spark, sfDir))
      }
    // 4. candidate volume and file pruning, per probe-batch size: the
    // batch form hits all 64 files by pigeonhole; the SINGLE-probe
    // serving case is where the driver-side file pruning binds
    graft.Tables.register(spark, sfDir)
    val (dir, tables, planes) = graft.operators.Similarity.lshIndexFixture(spark, sfDir)
    import org.apache.spark.sql.functions._
    val n = spark.table("embeddings").count()
    for (nq <- Seq(1, 50)) {
      val qkeys = spark.table("embeddings").where(col("vec_id") < nq)
        .select(graft.functions.GraftFunctions
          .lsh_buckets(col("embedding"), tables, planes).as("bs"))
        .select(posexplode(col("bs")).as(Seq("tbl", "bucket")))
        .select((col("tbl").cast("long") * (1L << planes) + col("bucket")).as("key"))
        .collect().map(_.getLong(0)).toSeq.distinct
      val (scan, hit) = graft.operators.Similarity.prunedIndexScan(spark, dir, qkeys, planes)
      val t0 = System.nanoTime()
      val cands = scan.count()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[diag-ann-probe] n=$n tables=$tables planes=$planes nq=$nq " +
        f"probeKeys=${qkeys.length} filesHit=${hit.length}/64 " +
        f"candidateRows=$cands of ${n * tables} indexRows, scan $s%.2f s")
    }
    spark.stop()
  }
}
