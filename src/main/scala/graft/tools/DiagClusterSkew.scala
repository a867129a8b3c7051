package graft.tools

import org.apache.spark.sql.functions._

/** Dev diagnostic: cluster-size distribution (and implied within-
  * cluster pair counts) of the k-means assignment at a given SF dir —
  * the first thing to look at when a SemDeDup-family query's decade
  * exponent exceeds linear (Σ|c|² is the pair stage's true cost, and
  * it is skew-sensitive in a way n·TargetCluster hides).
  * Usage: runMain graft.tools.DiagClusterSkew <sfDir> */
object DiagClusterSkew {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.Session.local()
    graft.Tables.register(spark, sfDir)
    val cents = graft.operators.Clustering.kmeansCentroids(spark, sfDir)
    println(s"[diag] kEff=${cents.size}")
    val asg = graft.operators.Clustering
      .assignUnderCentroids(spark.table("embeddings"), cents)
    val sizes = asg.groupBy(col("cluster")).count()
      .select(col("count")).collect().map(_.getLong(0)).sorted.reverse
    val n = sizes.sum
    val mean = n / sizes.length
    println(s"[diag] clusters=${sizes.length} n=$n max=${sizes.head} " +
      s"p99=${sizes(sizes.length / 100)} median=${sizes(sizes.length / 2)}")
    println(s"[diag] sum_pairs=${sizes.map(s => s * (s - 1) / 2).sum} " +
      s"uniform_pairs=${mean * (mean - 1) / 2 * sizes.length}")
    println(s"[diag] top10=${sizes.take(10).mkString(",")}")
    spark.stop()
  }
}
