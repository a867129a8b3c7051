package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-job wall/task profile of one declared query — the §1 measurement
  * step for driver-loop queries (kmeans/CC rounds): prints one line per
  * Spark job (id, tasks, wall ms) plus the job count and total task
  * count, so a c8-vs-c32 inversion can be attributed to scheduling
  * floor vs data term without the full event-log machinery.
  *
  * Usage: runMain graft.tools.DiagJobs <query> [sfDir] [passes]
  */
object DiagJobs {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: DiagJobs <query> [sfDir] [passes]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val passes = args.lift(2).map(_.toInt).getOrElse(2)
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Session.local(cores)
    final case class J(var start: Long = 0L, var end: Long = 0L,
                       var tasks: Int = 0, var desc: String = "")
    val jobs = mutable.LinkedHashMap.empty[Int, J]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = jobs.getOrElseUpdate(e.jobId, J())
        j.start = e.time
        j.tasks = e.stageInfos.map(_.numTasks).sum
        j.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
    }
    spark.sparkContext.addSparkListener(listener)
    for (p <- 1 to passes) {
      jobs.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // listener bus is async; let the tail events drain before printing
      Thread.sleep(500)
      val snap = jobs.toSeq
      println(f"== pass $p: $name%s ${sec}%.3f s, ${snap.size}%d jobs, " +
        f"${snap.map(_._2.tasks).sum}%d tasks")
      snap.foreach { case (id, j) =>
        println(f"  job $id%4d ${j.end - j.start}%6d ms ${j.tasks}%5d tasks  ${j.desc.take(60)}")
      }
    }
    spark.stop()
  }
}
