package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the benchmark (`perfbench/run.py` builds and launches it).
  *
  * One single-client, closed-loop `local[cores]` session runs a named
  * workload of `graft.SparkEntry.queries` entries:
  *  1. set-up (session + `graft.Tables.register` +
  *     `graft.functions.GraftFunctions.register`) is done [[SetupRepeats]]
  *     times, stopping the session in between, and reported as a median;
  *  2. one cold pass (pays codegen compile, JIT and fixture builds);
  *  3. warm passes until `seconds` elapse and at least [[MinWarmPasses]]
  *     have run;
  *  4. one untimed check pass that dumps every query's result as parquet
  *     for the DuckDB oracle compare in `perfbench/check.py`.
  *
  * Every pass runs the queries in one order drawn from the seed. With one
  * order the codegen cache sees the same sequence each warm pass, so the
  * warm passes of a run compile the same number of classes.
  *
  * Every timed execution materializes through the `noop` sink and is
  * followed by `spark.catalog.clearCache()`, as `graft.Bench` does.
  *
  * With tracing on, warm passes alternate between traced (listeners
  * attached) and untraced, so one run gives both the per-layer numbers
  * and the tracing overhead. Per-query spans stay in memory and are
  * written to `trace.jsonl` at the end.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <workDir> <sfDir>
  * Environment: PERFBENCH_FAULT=<name> adds a query that always throws
  * (self-test of the failure path).
  */
object Harness {

  /** Why each workload exists, and which layer it stresses, is recorded
    * in BENCHMARK.json; the lists are fixed here so that parent and change
    * run identical work. */
  val workloads: Map[String, Seq[String]] = Map(
    "adhoc_sql" -> Seq(
      "q4_order_priority", "q10_returned_items", "q22_inactive_customers",
      "join_left_outer", "join_left_anti", "subquery_not_in",
      "subquery_scalar", "agg_cube", "window_lead_lag",
      "lateral_view_explode", "string_fns", "udtf_json_tuple"),
    "etl_ingest" -> Seq(
      "acid_stream_ingest", "source_export_import", "join_bucketed_smb"))

  val SetupRepeats = 3

  /** Warm passes run at least this often. The fastest one is reported:
    * JIT still speeds up the first warm pass, and a stall of the shared
    * host slows whichever pass it lands in. */
  val MinWarmPasses = 3

  type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, workDir, sfDir) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors

    val fault: Map[String, Query] = sys.env.get("PERFBENCH_FAULT").map { n =>
      n -> ((_: SparkSession, _: String) =>
        throw new RuntimeException("injected benchmark fault"))
    }.toMap
    val names = workloads(workload) ++ fault.keys
    val queries: Map[String, Query] = graft.SparkEntry.queries ++ fault
    val missing = names.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    val stealStart = Labels.stealTicks()
    val calStart = Labels.calibrate()

    // --- set-up, repeated; every session gets its own warehouse ---
    var spark: SparkSession = null
    var warehouse: String = null
    var tablesS = 0.0
    val setups = (1 to SetupRepeats).map { i =>
      if (spark != null) spark.stop()
      warehouse = s"$workDir/warehouse-$i"
      val t0 = System.nanoTime()
      spark = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.local.dir", s"$workDir/spark-local")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val t1 = System.nanoTime()
      graft.Tables.register(spark, sfDir)
      val t2 = System.nanoTime()
      graft.functions.GraftFunctions.register(spark)
      val t3 = System.nanoTime()
      tablesS = (t2 - t1) / 1e9
      (t3 - t0) / 1e9
    }

    val tracer = if (trace) Some(new Tracer(spark)) else None
    var attempted = 0L
    val failures = ArrayBuffer.empty[String]
    val spans = ArrayBuffer.empty[Span]

    def materialize(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    /** One execution: wall from the `fn(spark, sfDir)` call to sink
      * completion; None if it threw. */
    def execute(pass: Int, name: String, traced: Boolean): Option[Double] = {
      attempted += 1
      val tr = tracer.filter(_ => traced)
      val before = tr.map(_.snapshot())
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var constructS = 0.0
      var afterConstruct: Option[Counters] = None
      val ok =
        try {
          val df = queries(name)(spark, sfDir)
          constructS = (System.nanoTime() - t0) / 1e9
          tr.foreach(_.constructed(df))
          afterConstruct = tr.map(_.snapshot())
          materialize(df)
          true
        } catch {
          case t: Throwable =>
            failures += s"$name (pass $pass): ${t.getClass.getName}: ${t.getMessage}"
            Console.err.println(s"[perfbench] $name failed: $t")
            false
        } finally spark.catalog.clearCache()
      val wall = (System.nanoTime() - t0) / 1e9
      tr.foreach { t =>
        val after = t.snapshot()
        val mid = afterConstruct.getOrElse(after)
        spans += Span(pass, name, wall0, wall, constructS,
          mid.jobs - before.get.jobs, after - before.get,
          t.jobCoverageS(wall0, System.currentTimeMillis()))
      }
      if (ok) Some(wall) else None
    }

    final case class Pass(index: Int, traced: Boolean, wallS: Double,
        latencies: Seq[Double], warehouse: Option[Warehouse])

    val order = new Random(seed).shuffle(names)
    def runPass(index: Int, traced: Boolean): Pass = {
      tracer.foreach(_.attach(traced))
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val lat = order.flatMap(n => execute(index, n, traced))
      val wallS = (System.nanoTime() - t0) / 1e9
      Pass(index, traced, wallS, lat,
        if (traced && tracer.isDefined) Some(Warehouse.scan(warehouse, startMs)) else None)
    }

    // --- cold pass, then warm passes until `seconds` have elapsed ---
    val compilesBeforeCold = Tracer.compiles()
    val cold = runPass(0, traced = true)
    val coldCompiles = Tracer.compiles() - compilesBeforeCold
    val warm = ArrayBuffer.empty[Pass]
    val warmT0 = System.nanoTime()
    // with tracing, warm passes alternate traced / untraced, so the
    // overhead is always measured
    while (warm.size < MinWarmPasses || (System.nanoTime() - warmT0) / 1e9 < seconds)
      warm += runPass(warm.size + 1, traced = warm.size % 2 == 0)
    val peakRssMb = Labels.vmHwmMb()

    // --- untimed check pass: dump every result for the oracle compare ---
    val checkDir = s"$workDir/check"
    tracer.foreach(_.attach(false))
    val checked = names.filter { name =>
      attempted += 1
      try {
        queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$checkDir/$name")
        true
      } catch {
        case t: Throwable =>
          failures += s"$name (check pass): ${t.getClass.getName}: ${t.getMessage}"
          Console.err.println(s"[perfbench] $name failed in the check pass: $t")
          false
      } finally spark.catalog.clearCache()
    }
    // oracles that read per-file parquet metadata name the documents
    // file through a token, resolved as graft.Verify resolves it
    val docs = {
      val p = s"$sfDir/documents.parquet"
      if (new File(p).isDirectory) s"$p/*.parquet" else p
    }
    val oracle = graft.SparkEntry.oracleSql
    Files.createDirectories(Paths.get(checkDir))
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"),
      Json.obj(checked.filter(oracle.contains).map(n =>
        n -> Json.str(oracle(n).replace("__GRAFT_DOCUMENTS_PARQUET__", docs)))))

    val calEnd = Labels.calibrate()
    val stealCoreS = for (s0 <- stealStart; s1 <- Labels.stealTicks())
      yield (s1 - s0) / 100.0

    val layers = tracer.map(_ => Layers.summarize(spans.toSeq,
      warm.toSeq.filter(_.traced).map(p => TracedPass(p.index, p.wallS, p.warehouse.get)),
      warm.filterNot(_.traced).map(_.wallS).toSeq, cores, tablesS, coldCompiles))
    tracer.foreach { _ =>
      Files.writeString(Paths.get(s"$workDir/trace.jsonl"),
        spans.map(_.json).mkString("", "\n", "\n"))
    }

    val untracedWarm = warm.filter(p => !trace || !p.traced)
    val result = Json.obj(Seq(
      "cores" -> cores.toString,
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "queries" -> names.size.toString,
      "checked" -> Json.arr(checked.map(Json.str)),
      "setup_s" -> Json.arr(setups.map(Json.num)),
      "cold_pass_s" -> Json.num(cold.wallS),
      "cold_compiles" -> coldCompiles.toString,
      "warm_passes" -> warm.size.toString,
      // end-to-end timings come from untraced passes only
      "pass_s" -> Json.arr(untracedWarm.map(p => Json.num(p.wallS)).toSeq),
      "latencies_s" -> Json.arr(untracedWarm.flatMap(_.latencies).map(Json.num).toSeq),
      "untraced_wall_s" -> Json.num(untracedWarm.map(_.wallS).sum),
      "untraced_executions" -> untracedWarm.map(_.latencies.size).sum.toString,
      "peak_rss_mb" -> Json.num(peakRssMb),
      "attempted" -> attempted.toString,
      "failures" -> Json.arr(failures.map(Json.str).toSeq),
      "cal_start_s" -> Json.num(calStart),
      "cal_end_s" -> Json.num(calEnd),
      "steal_core_s" -> stealCoreS.map(Json.num).getOrElse("null"),
      "layers" -> layers.getOrElse("null")))
    Files.writeString(Paths.get(s"$workDir/result.json"), result)
    spark.stop()
  }
}
