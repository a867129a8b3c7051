package graft.tools

import org.apache.spark.sql.functions._

/** Dev micro-bench for the LSH re-bucketing EPOCH (r18): when n
  * crosses 64·2^pe the persisted index must step to pe+1. The claim
  * under measurement: the per-file local split (ONE plane dot per
  * index row, zero shuffle — `migrateLshIndexPeStep`) beats the full
  * rebuild it replaces (tables·(pe+1) plane dots per corpus row PLUS
  * the index routing shuffle), and the two produce identical bucket
  * content. Numbers land in BASELINE.md's r18 section.
  * Usage: runMain graft.tools.DiagMigrate <sfDir> [cores] */
object DiagMigrate {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    // default to the machine: the migration is 64 independent per-file
    // tasks — measuring it on 4 cores serializes them into 16 waves and
    // understates exactly the property under test
    val spark = graft.Session.local(args.lift(1).map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors))
    graft.Tables.register(spark, sfDir)
    import graft.operators.Similarity
    import graft.sources.HiveBucketedIO
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val emb = spark.table("embeddings")
    val (tables, planes) = Similarity.lshGeometry(spark, emb)
    val peOld = planes - 1
    def time(what: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[diag-migrate] $what: $s%.2f s")
      s
    }
    def rowsAt(pe: Int) = emb
      .withColumn("bs", graft.functions.GraftFunctions
        .lsh_buckets(col("embedding"), tables, pe))
      .select(col("vec_id"), col("embedding"),
        posexplode(col("bs")).as(Seq("tbl", "bucket")))
      .select((col("tbl").cast("long") * (1L << pe) + col("bucket")).as("key"),
        col("vec_id"), col("embedding"))
    val epoch0 = s"$wh/diag_epoch0"
    time(s"epoch-0 build at pe=$peOld (yesterday's index)") {
      HiveBucketedIO.writeBucketed(rowsAt(peOld), epoch0, 64,
        Seq(col("key")), Similarity.invRouteKey(col("key"), peOld))
    }
    val migrated = s"$wh/diag_migrated"
    val tMig = time(s"MIGRATE pe=$peOld -> ${peOld + 1} (per-file local split)") {
      Similarity.migrateLshIndexPeStep(spark, epoch0, migrated, peOld)
    }
    val rebuilt = s"$wh/diag_rebuilt"
    val tReb = time(s"REBUILD at pe=${peOld + 1} (full re-bucket + routing shuffle)") {
      HiveBucketedIO.writeBucketed(rowsAt(peOld + 1), rebuilt, 64,
        Seq(col("key")), Similarity.invRouteKey(col("key"), peOld + 1))
    }
    // spot-bucket content equality: the migration must BE the rebuild
    for (n <- Seq(0, 31, 63)) {
      def sig(d: String) = spark.read
        .parquet(HiveBucketedIO.bucketGenFiles(spark, d, n): _*)
        .select(col("key"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      require(sig(migrated) == sig(rebuilt),
        s"migrated bucket $n diverges from the direct pe=${peOld + 1} build")
    }
    val n = emb.count()
    println(f"[diag-migrate] n=$n tables=$tables pe=$peOld->${peOld + 1} " +
      f"migrate=$tMig%.2f s rebuild=$tReb%.2f s ratio=${tReb / tMig}%.2f x " +
      "(spot buckets identical)")
    spark.stop()
  }
}
