package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** CLI entry point (SURVEY §3.1 #1: `CLI/CliDriver.java` `main → run →
  * executeDriver → processLine → processCmd`): batch SQL execution
  * with Hive CLI's surface shape — `-e "sql"` inline, `-f script`
  * files, `;`-separated statements, `--`/`#` comments, tab-separated
  * output with `NULL` for nulls (CliDriver's default print path), and
  * variable substitution (`ql/parse/VariableSubstitution` via
  * CliDriver.processCmd): `--hiveconf k=v` / `-d k=v` / `--define` /
  * `--hivevar` on the command line, expanded per-statement through
  * `${hiveconf:k}`, `${hivevar:k}`, `${system:k}`, `${env:k}`, and
  * bare `${k}` (hivevar namespace), nested up to the reference's 40
  * rounds, toggled off by `--hiveconf hive.variable.substitute=false`.
  * Also CliDriver's script-composition surface: `-i <file>` init
  * scripts (run before the main script, same statement rules),
  * `--database <db>` (CliDriver's USE-before-run flag), the
  * `SOURCE <path>` command (processLine's nested-script dispatch —
  * the path is variable-substituted, so `SOURCE ${dir}/common.sql`
  * works), `dfs <args>` (processLine's FsShell dispatch, run against
  * the session's Hadoop conf so the warehouse filesystem is the one
  * inspected), and `!<cmd>` shell escapes (processLine's shell
  * dispatch; a failing command aborts the script like a failing
  * statement). Statements run against a session with the graft extensions
  * and, when `--sf <dir>` is given, the testdata tables registered —
  * so a migrating, parameterized `hive -f etl.sql` invocation maps
  * 1:1.
  *
  * The third reference entry point (programmatic `new Driver(conf)`)
  * is the library surface itself (`SparkEntry`/`spark.sql`); the
  * thrift one is ThriftServerSpec. */
object GraftCli {

  def main(args: Array[String]): Unit = {
    var sql: Option[String] = None
    var file: Option[String] = None
    var sf: Option[String] = None
    var database: Option[String] = None
    val inits = scala.collection.mutable.ArrayBuffer.empty[String]
    val hiveconf = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val hivevar = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = 0
    def value(flag: String): String = {
      if (i + 1 >= args.length) sys.error(s"missing value for $flag")
      args(i + 1)
    }
    def kv(flag: String): (String, String) = value(flag).split("=", 2) match {
      case Array(k, v) => (k, v)
      case _ => sys.error(s"$flag expects key=value, got: ${value(flag)}")
    }
    while (i < args.length) {
      args(i) match {
        case "-e" => sql = Some(value("-e")); i += 2
        case "-f" => file = Some(value("-f")); i += 2
        case "--sf" => sf = Some(value("--sf")); i += 2
        case "--hiveconf" => hiveconf += kv("--hiveconf"); i += 2
        case "-d" | "--define" | "--hivevar" =>
          hivevar += kv(args(i)); i += 2
        case "-i" => inits += value("-i"); i += 2
        case "--database" => database = Some(value("--database")); i += 2
        case other => sys.error(s"unknown argument: $other")
      }
    }
    val script = (sql, file) match {
      case (Some(s), None) => s
      case (None, Some(f)) =>
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(f)), "UTF-8")
      case _ => sys.error("exactly one of -e <sql> / -f <file> required")
    }

    val builder = graft.Session.builder(4).appName("graft-cli")
      // the CLI implements Hive 1.2's VariableSubstitution itself (the
      // namespaces and unresolved-verbatim contract above); Spark's own
      // parser-level ${...} substitution would run SECOND and swallow
      // deliberately-unresolved references, so it is off by default
      // (a --hiveconf can still re-enable it explicitly)
      .config("spark.sql.variable.substitute", "false")
    sys.env.get("SPARK_GRAFT_CLI_MASTER").foreach(builder.master)
    // --hiveconf properties apply to the session config, exactly as
    // CliDriver folds them into the HiveConf (spark.* and SQL confs
    // both land; hive.-namespace toggles we honor are read from the
    // same map below)
    hiveconf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sf.foreach(dir => graft.Tables.register(spark, dir))

    val substituteOn = hiveconf.getOrElse("hive.variable.substitute",
      spark.conf.getOption("hive.variable.substitute").getOrElse("true"))
      .equalsIgnoreCase("true")
    val SourceCmd = "(?is)^source\\s+(.+)$".r
    val DfsCmd = "(?is)^dfs\\s+(.+)$".r
    // depth cap mirrors the substitution loop's spirit: a script that
    // SOURCEs itself fails loudly instead of recursing forever
    def runScript(text: String, depth: Int): Unit = {
      require(depth < 40, "SOURCE nesting exceeds 40 levels (cycle?)")
      statements(text).foreach { raw =>
        val stmt = if (substituteOn)
          substitute(raw, hiveconf.toMap, hivevar.toMap, spark) else raw
        stmt match {
          case SourceCmd(path) => // CliDriver processLine's nested script
            runScript(new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(path.trim)), "UTF-8"), depth + 1)
          case DfsCmd(rest) => // CliDriver processLine's FsShell dispatch
            val shell = new org.apache.hadoop.fs.FsShell(
              spark.sparkContext.hadoopConfiguration)
            val rc = try shell.run(rest.trim.split("\\s+"))
                     finally shell.close()
            require(rc == 0, s"dfs command failed ($rc): dfs $rest")
          case sh if sh.startsWith("!") => // shell escape
            val p = new ProcessBuilder("bash", "-c", sh.drop(1).trim)
              .inheritIO().start()
            val rc = p.waitFor()
            require(rc == 0, s"shell command failed ($rc): $sh")
          case _ =>
            val df = spark.sql(stmt)
            // CliDriver print shape: tab-separated cells, NULL for
            // nulls; hive.cli.print.header=true prepends the column
            // names (same TSV row shape). LocalIterator: results
            // stream to stdout without materializing the full set on
            // the driver heap.
            if (spark.conf.getOption("hive.cli.print.header")
                  .exists(_.equalsIgnoreCase("true")))
              println(df.columns.mkString("\t"))
            df.toLocalIterator().forEachRemaining { row =>
              println((0 until row.length)
                .map(j => if (row.isNullAt(j)) "NULL" else row.get(j).toString)
                .mkString("\t"))
            }
        }
      }
    }
    try {
      database.foreach(db => spark.sql(s"USE `${db.replace("`", "``")}`"))
      inits.foreach { f =>
        runScript(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(f)), "UTF-8"), 0)
      }
      runScript(script, 0)
    } finally spark.stop()
  }

  /** Hive 1.2 `ql/parse/VariableSubstitution.substitute` semantics:
    * expand `${...}` references until fixpoint or 40 rounds (the
    * reference's `MAX_SUBST` guard against `-d a='${a}'` cycles).
    * Namespaces, in the reference's `SystemVariables` lookup order —
    * `system:` (JVM properties), `env:` (environment), `hiveconf:`
    * (the --hiveconf map, falling back to session conf), `hivevar:`
    * and bare `${k}` (the -d/--define/--hivevar map). An unresolvable
    * reference is left verbatim (the reference warns and continues; a
    * hard error would break scripts that SELECT literal '${...}'
    * strings, which the regex already avoids only inside quotes it
    * cannot see — verbatim pass-through is the compatible behavior). */
  private[graft] def substitute(
      stmt: String,
      hiveconf: Map[String, String],
      hivevar: Map[String, String],
      spark: SparkSession): String = {
    val ref = java.util.regex.Pattern.compile("\\$\\{([^}$ ]+)\\}")
    def lookup(name: String): Option[String] = name match {
      case n if n.startsWith("system:") =>
        sys.props.get(n.stripPrefix("system:"))
      case n if n.startsWith("env:") => sys.env.get(n.stripPrefix("env:"))
      case n if n.startsWith("hiveconf:") =>
        val k = n.stripPrefix("hiveconf:")
        hiveconf.get(k).orElse(spark.conf.getOption(k))
      case n if n.startsWith("hivevar:") =>
        hivevar.get(n.stripPrefix("hivevar:"))
      case n => hivevar.get(n)
    }
    var cur = stmt
    var round = 0
    var changed = true
    while (changed && round < 40) {
      val m = ref.matcher(cur)
      // java.lang.StringBuilder: the Scala one lacks the 3-arg slice
      // append (it would auto-tuple into append(Any))
      val out = new java.lang.StringBuilder
      changed = false
      var last = 0
      while (m.find()) {
        out.append(cur, last, m.start())
        lookup(m.group(1)) match {
          case Some(v) => out.append(v); changed = true
          case None => out.append(m.group(0)) // unresolved: verbatim
        }
        last = m.end()
      }
      out.append(cur, last, cur.length)
      cur = out.toString
      round += 1
    }
    cur
  }

  /** Split a script on top-level `;` (quote-aware), dropping blank
    * statements and comments — CliDriver.processLine's contract.
    * Comment state lives IN the character scanner (not a line-level
    * prefilter), so a trailing `-- note; more` after code is consumed
    * to end-of-line and never splits mid-comment. `--` starts a
    * comment anywhere outside quotes (SQL line comments are legal
    * after code); `#` only at the start of a line (CliDriver's shell
    * convention — a mid-line `#` can be a legal char in exprs). */
  private[graft] def statements(script: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var quote: Char = 0
    var atLineStart = true
    var i = 0
    val n = script.length
    while (i < n) {
      val c = script(i)
      if (quote != 0) {
        cur.append(c)
        if (c == quote) quote = 0
        else if (c == '\\' && i + 1 < n) { cur.append(script(i + 1)); i += 1 }
        i += 1
      } else if ((c == '-' && i + 1 < n && script(i + 1) == '-') ||
                 (c == '#' && atLineStart)) {
        while (i < n && script(i) != '\n') i += 1 // skip to EOL; \n kept
      } else {
        if (c == '\n') atLineStart = true
        else if (!c.isWhitespace) atLineStart = false
        c match {
          case '\'' | '"' | '`' => quote = c; cur.append(c)
          case ';' => out += cur.toString; cur.clear()
          case _ => cur.append(c)
        }
        i += 1
      }
    }
    out += cur.toString
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Spawn the CLI as a child JVM, exactly as a user invokes `hive -e`
    * / `hive -f`. Returns (exit code, stdout). Stderr (Spark logs) is
    * drained separately so result parsing sees only the TSV rows. */
  private[graft] def runChild(args: Seq[String]): (Int, String) = {
    val java = s"${sys.props("java.home")}/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(java) ++ addOpens ++ Seq(
      "-Xmx1g", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"),
      "graft.tools.GraftCli") ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_CLI_MASTER", "local[2]")
    val p = pb.start()
    // drain stderr concurrently so the child can't block on a full pipe
    val errDrain = new Thread(() => {
      val s = scala.io.Source.fromInputStream(p.getErrorStream)
      try s.foreach(_ => ()) finally s.close()
    })
    errDrain.setDaemon(true)
    errDrain.start()
    val src = scala.io.Source.fromInputStream(p.getInputStream)
    val out = try src.mkString finally src.close()
    (p.waitFor(), out)
  }

  // ------------------------------------------------------------------
  // harness row: the CLI surface measured end-to-end. A child JVM runs
  // `-e "<sql>" --sf <dir>` exactly as a migrating `hive -e` user
  // would; its tab-separated stdout is parsed back into typed rows and
  // compared against the DuckDB oracle — closing the loop between the
  // §3.1 entry point and the driver contract. NOTE on bench readings:
  // this row's time is JVM + SparkSession cold start BY DESIGN (that
  // is what `hive -e` costs a shell user; Hive 1.2's own CLI pays the
  // same class of startup); it is not a data-plane measurement.
  // ------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cli_e_statement" -> ((spark, sfDir) => {
      // the table name arrives through -d substitution — the driver row
      // exercises the parameterized-invocation shape, not just -e
      val sql =
        "SELECT r_regionkey, r_name FROM ${tbl} ORDER BY r_regionkey"
      val (rc, out) = runChild(Seq("-e", sql, "-d", "tbl=region", "--sf", sfDir))
      require(rc == 0, s"cli exited $rc:\n${out.takeRight(2000)}")
      val rows = out.linesIterator
        .map(_.split("\t", -1))
        .filter(a => a.length == 2 && a(0).nonEmpty && a(0).forall(_.isDigit))
        .map(a => Row(a(0).toInt, a(1)))
        .toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(
          StructField("r_regionkey", IntegerType, nullable = false),
          StructField("r_name", StringType, nullable = true))))
    })
  )

  val oracle: Map[String, String] = Map(
    "cli_e_statement" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
  )
}
