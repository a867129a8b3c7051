package graft.tools

/** Dev micro-bench: ann_lsh_bucketed under different bucket geometries
  * (graft.ann.lshTables/lshPlanes) — measures the deployment knob that
  * keeps LSH candidate cost sublinear as the corpus grows.
  * Usage: runMain graft.tools.DiagLshKnob <sfDir> <tables:planes>... */
object DiagLshKnob {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.Session.local()
    args.drop(1).foreach { tp =>
      val Array(t, p) = tp.split(':')
      spark.conf.set("graft.ann.lshTables", t)
      spark.conf.set("graft.ann.lshPlanes", p)
      val df = graft.SparkEntry.queries("ann_lsh_bucketed")(spark, sfDir)
      df.write.mode("overwrite").format("noop").save() // warm
      val t0 = System.nanoTime()
      graft.SparkEntry.queries("ann_lsh_bucketed")(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      println(f"[diag-lsh] tables=$t planes=$p: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
