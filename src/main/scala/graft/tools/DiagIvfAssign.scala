package graft.tools

import org.apache.spark.sql.functions._
import graft.functions.{CentroidMatrix, GraftFunctions, IvfIndex}

/** Dev micro-bench: flat ArgMaxCosineD vs two-level ArgMaxCosineIvfD
  * over the embeddings table under synthetic k centroids — measures
  * the assignment kernels in isolation at the large-k SemDeDup regime
  * the corpus fixtures can't reach (kEff tracks corpus size and stays
  * ≤ ~100 at sf10; the IVF gate opens at 128).
  * Usage: runMain graft.tools.DiagIvfAssign <sfDir> [k] [flat|ivf|both]
  * (mode `ivf` skips the n·k flat pass — at k=65536 over sf10 that is
  * ~25 min of pure linear-in-k arithmetic whose time is predictable
  * from the measured k=8192 point; the IVF side is the open question) */
object DiagIvfAssign {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val k = args.lift(1).map(_.toInt).getOrElse(1024)
    val mode = args.lift(2).getOrElse("both")
    val spark = graft.Session.local()
    graft.Tables.register(spark, sfDir)
    // r14: the sf10 embeddings fixture is ONE 7.6 MB parquet file → 1
    // input partition, so every earlier Diag number was a 1-core
    // measurement (internally consistent, but not the deployment
    // shape). Repartition to the core count so kernels measure at full
    // parallelism; BASELINE.md records which protocol each row used.
    val cpus = Runtime.getRuntime.availableProcessors
    val vecs = spark.table("embeddings").select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("ve"))
      .repartition(cpus)
    vecs.persist(); val n = vecs.count()
    val cents = (0 until k).map { i =>
      (i, Array.tabulate(64)(d => ((i * 64 + d) % 97 + 1) / 97.0))
    }
    val cm = new CentroidMatrix(cents.map(_._1).toArray, cents.map(_._2).toArray)
    val sc = spark.sparkContext
    def time(label: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      df.write.mode("overwrite").format("noop").save() // warm/codegen
      val t0 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      println(f"[diag-ivf] $label n=$n k=$k: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    if (mode == "flat" || mode == "both")
      time("flat")(vecs.withColumn("best",
        GraftFunctions.argmax_cosine_d(col("ve"), sc.broadcast(cm))))
    // cache-blocked flat (r14): same n·k arithmetic, centroid matrix
    // walked in L2-resident tiles over row blocks — measures whether
    // blocking recovers the large-k wall r13 root-caused to matrix
    // working-set traffic (optional args 4/5 = rowBlock centTile)
    if (mode == "flatblk")
      time(s"flatblk(rb=${args.lift(3).getOrElse("256")},ct=${args.lift(4).getOrElse("1024")})")(
        graft.operators.Clustering.assignFlatBlocked(vecs, sc.broadcast(cm),
          args.lift(3).map(_.toInt).getOrElse(256),
          args.lift(4).map(_.toInt).getOrElse(1024)))
    if (mode == "ivf" || mode == "both") {
      val g = math.ceil(math.sqrt(k.toDouble)).toInt
      val t0 = System.nanoTime()
      val idx = new IvfIndex(cm, g, 4)
      println(f"[diag-ivf] index build (driver mini-Lloyd) k=$k g=$g: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      time(s"ivf(g=$g,p=4)")(vecs.withColumn("best",
        GraftFunctions.argmax_cosine_ivf_d(col("ve"), sc.broadcast(idx))))
    }
    spark.stop()
  }
}
