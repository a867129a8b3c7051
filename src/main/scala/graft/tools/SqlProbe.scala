package graft.tools

/** Dev tool: run one ad-hoc SQL statement against a registered session
  * and print the result — for probing engine capabilities (e.g. does
  * this Spark build parse WITH RECURSIVE?) without a REPL. */
object SqlProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    try spark.sql(args(0)).show(50, truncate = false)
    catch { case e: Throwable => println("SQL FAIL: " + e.toString.take(400)) }
    spark.stop()
  }
}
