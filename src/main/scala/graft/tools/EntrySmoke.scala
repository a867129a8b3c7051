package graft.tools

/** Mirrors the driver's flagship smoke check: SparkEntry.entry at
  * sf0.001 must return rows > 0. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    val n = graft.SparkEntry.entry(spark).count()
    println(s"[entry-smoke] rows=$n")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
