package graft.tools

import java.nio.file.{Files, Paths}
import graft.SparkEntry

/** Dev tool: run a subset of SparkEntry queries (args: sfDir outDir
  * name...) and dump results + their oracle SQL exactly like Verify, so
  * tools/check.py can validate just the queries under iteration. */
object RunSome {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2)
    val spark = graft.Session.local()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      spark.catalog.clearCache()
      println(f"[runsome] $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.view.filterKeys(names.contains)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
