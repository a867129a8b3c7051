package perfbench

import java.io.File

/** One query execution of a traced pass: wall time, the part spent in
  * `fn(spark, sfDir)` (driver-side construction, eager loop actions
  * included), and the layer counters that moved while it ran. */
final case class Span(pass: Int, query: String, startMs: Long, wallS: Double,
    constructS: Double, constructJobs: Double, delta: Counters,
    jobCoverageS: Double) {
  def driverOnlyS: Double = (wallS - jobCoverageS) max 0.0
  def json: String = Json.obj(Seq(
    "pass" -> pass.toString, "query" -> Json.str(query),
    "start_ms" -> startMs.toString, "wall_s" -> Json.num(wallS),
    "operators.construct_s" -> Json.num(constructS),
    "operators.construct_jobs" -> Json.num(constructJobs),
    "sched.driver_only_s" -> Json.num(driverOnlyS)) ++
    delta.values.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
}

/** Files the warehouse holds at the end of a pass. */
final case class Warehouse(filesWrittenSince: Long, liveBytes: Long)

object Warehouse {
  def scan(dir: String, sinceMs: Long): Warehouse = {
    def files(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(files)
      else if (f.isFile) Iterator(f)
      else Iterator.empty
    val all = files(new File(dir)).toSeq
    Warehouse(all.count(_.lastModified >= sinceMs), all.map(_.length).sum)
  }
}

/** A traced warm pass. */
final case class TracedPass(index: Int, wallS: Double, warehouse: Warehouse)

object Layers {
  /** Counters that repeat exactly from pass to pass when the work is
    * deterministic; any that drift are reported by name. */
  val exactCounts: Seq[String] = Seq("sched.jobs", "sched.stages",
    "sched.tasks", "operators.construct_jobs", "codegen.compiles",
    "shuffle.write_bytes", "sources.bytes_written")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Per-pass layer totals of every traced warm pass. */
  def perPass(spans: Seq[Span], passes: Seq[TracedPass], cores: Int,
      tablesS: Double, coldCompiles: Long): Seq[Map[String, Double]] =
    passes.map { p =>
      val ss = spans.filter(_.pass == p.index)
      def sum(k: String) = ss.map(_.delta(k)).sum
      val runS = sum("exec.task_run_s")
      val written = sum("sources.bytes_written")
      Map(
        "tables.register_s" -> tablesS,
        "operators.construct_s" -> ss.map(_.constructS).sum,
        "operators.construct_jobs" -> ss.map(_.constructJobs).sum,
        "codegen.cold_compiles" -> coldCompiles.toDouble,
        "sched.driver_only_s" -> ss.map(_.driverOnlyS).sum,
        "exec.core_busy_frac" -> runS / (p.wallS * cores),
        "sources.files_written" -> p.warehouse.filesWrittenSince.toDouble,
        "sources.write_amp" ->
          (if (p.warehouse.liveBytes > 0) written / p.warehouse.liveBytes else 0.0)) ++
        Seq("catalyst.analysis_ms", "catalyst.optimization_ms",
          "catalyst.planning_ms", "codegen.compiles", "codegen.compile_ms",
          "sched.jobs", "sched.stages", "sched.tasks", "exec.task_run_s",
          "exec.task_cpu_s", "exec.gc_s", "shuffle.write_bytes",
          "shuffle.read_bytes", "shuffle.spill_bytes", "sources.bytes_written",
          "sources.bytes_read").map(k => k -> sum(k))
    }

  /** JSON: the median of each metric over traced passes, the tracing
    * overhead, and the exact counts that drifted between passes. */
  def summarize(spans: Seq[Span], passes: Seq[TracedPass],
      untracedWalls: Seq[Double], cores: Int, tablesS: Double,
      coldCompiles: Long): String = {
    val rows = perPass(spans, passes, cores, tablesS, coldCompiles)
    val overhead =
      if (untracedWalls.isEmpty) 0.0
      else median(passes.map(_.wallS)) / median(untracedWalls) - 1
    val medians = rows.head.keys.toSeq.sorted.map(k => k -> median(rows.map(_(k)))) :+
      ("trace.overhead_frac" -> overhead)
    val drift = exactCounts.filter(k => rows.map(_(k)).distinct.size > 1)
    Json.obj(Seq(
      "metrics" -> Json.obj(medians.map { case (k, v) => k -> Json.num(v) }),
      "per_pass" -> Json.arr(rows.map(r =>
        Json.obj(exactCounts.map(k => k -> Json.num(r(k)))))),
      "count_drift" -> Json.arr(drift.map(Json.str))))
  }
}

object Labels {
  /** Fixed single-thread FP busy-loop, as in `graft.Bench`: a reading
    * inflated 2x or more flags a contended host. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 1.0; var i = 0
    while (i < 100000000) { x = x * 1.0000000001 + 1e-12; i += 1 }
    if (x.isNaN) println("calibration NaN")
    (System.nanoTime() - t0) / 1e9
  }

  private def procLine(file: String, prefix: String): Option[Array[String]] =
    try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().find(_.startsWith(prefix)).map(_.trim.split("\\s+"))
      finally src.close()
    } catch { case _: java.io.IOException => None }

  /** Hypervisor-steal ticks summed over all vCPUs (USER_HZ = 100). */
  def stealTicks(): Option[Long] =
    procLine("/proc/stat", "cpu ").collect { case f if f.length > 8 => f(8).toLong }

  /** Peak resident set of this JVM so far, in MB. */
  def vmHwmMb(): Double =
    procLine("/proc/self/status", "VmHWM:").map(_(1).toDouble / 1024).getOrElse(0.0)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
