package graft

import org.apache.spark.sql.SparkSession

/** The one local-session factory: Bench, Verify, the CLI and the tools
  * all start from [[builder]], so the shared config block cannot drift
  * between copies. A caller that needs more (the Hive catalog, a Derby
  * URL, CLI `--hiveconf` entries) chains onto the returned builder. */
object Session {
  /** `local[cores]` with shuffle partitions = cores (measurement tools
    * whose subject is parallelism must pass the machine's core count),
    * UTC session time, no UI, a warehouse of its own (fresh temp dir
    * unless given — table-writing queries must not trip over a previous
    * JVM's managed-table directories) and the graft extensions. */
  def builder(cores: Int,
              warehouse: String = java.nio.file.Files
                .createTempDirectory("graft-wh").toString): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .withExtensions(new GraftExtensions)

  /** A built session at WARN log level; the quick plan-audit tools keep
    * the 4-core default. */
  def local(cores: Int = 4): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
