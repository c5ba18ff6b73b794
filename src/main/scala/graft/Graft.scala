package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing entry points: a tuned session builder and the SQL surface.
  *
  * The reference exposed its capabilities through CLI tools over a DB2
  * connection; this engine's equivalents are (1) the DataFrame registry in
  * `SparkEntry.queries` and (2) plain `spark.sql` over the registered views
  * below — a dbsuite user's catalog queries run verbatim-ish against them.
  */
object Graft {

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Cores of a local session: `SPARK_GRAFT_CPUS` when set, else every
    * processor of this machine. The only place that variable is read. */
  lazy val defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors())

  /** The conf `session` builds from: master (default `local[cores]`), UTC,
    * shuffle partitions = `cores`, UI off, a fresh temp warehouse, then
    * `conf` on top. A `local-cluster` master launches executor JVMs
    * from SPARK_HOME that know nothing of this JVM's classpath or JDK-17
    * `--add-opens` (neither WorkerCommandBuilder nor
    * StandaloneSchedulerBackend injects JavaModuleOptions in 4.1.2), so
    * both are forwarded; the classpath must be absolute because executors
    * run in `$SPARK_HOME/work/...`. `SPARK_GRAFT_EXEC_MEM`, when set,
    * sizes those executors over any `spark.executor.memory` in `conf`. */
  private[graft] def sessionConf(appName: String, cores: Int,
      master: Option[String], conf: Map[String, String]): Seq[(String, String)] = {
    val m = master.getOrElse(s"local[$cores]")
    val cluster =
      if (!m.startsWith("local-cluster")) Nil
      else Seq("spark.executor.extraClassPath" -> T.absClassPath,
        "spark.executor.extraJavaOptions" ->
          org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions()) ++
        sys.env.get("SPARK_GRAFT_EXEC_MEM").map("spark.executor.memory" -> _)
    Seq("spark.master" -> m,
      "spark.app.name" -> appName,
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft_wh_").toString) ++
      conf ++ cluster
  }

  /** The one session factory (see `sessionConf`), with graft's functions
    * registered. On a real cluster, size `cores` to 2-3x total executor
    * cores and let AQE coalesce. */
  def session(appName: String = "graft", cores: Int = defaultCores,
              master: Option[String] = None,
              conf: Map[String, String] = Map.empty): SparkSession = {
    val s = sessionConf(appName, cores, master, conf)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    functions.GraftFunctions.register(s)
    s
  }

  /** Register every fixture table under its plain name as a temp view, so
    * `spark.sql("SELECT ... FROM lineitem JOIN orders ...")` just works. */
  def registerTables(s: SparkSession, sfDir: String): Unit = {
    tables.foreach(t => T.t(s, sfDir, t).createOrReplaceTempView(t))
    functions.GraftFunctions.register(s)
  }

  /** SQL entry point over the registered views. */
  def sql(s: SparkSession, query: String): DataFrame = s.sql(query)

  private val sqlKeywords: Set[String] = Set(
    "select", "from", "where", "group", "by", "order", "having", "limit",
    "join", "inner", "left", "right", "full", "outer", "cross", "on",
    "union", "intersect", "except", "all", "distinct", "as", "and", "or",
    "not", "in", "exists", "between", "like", "is", "null", "case", "when",
    "then", "else", "end", "with", "recursive", "insert", "into", "values",
    "create", "table", "view", "drop", "alter", "desc", "asc", "cast",
    "over", "partition", "rows", "range", "preceding", "following",
    "current", "row", "unbounded", "lateral", "using", "window")

  /** Minimal `dbtidysql` analogue: normalize a SQL script — keywords
    * uppercased, whitespace runs collapsed, one statement per line —
    * without touching quoted strings or comments (statement splitting and
    * quote/comment handling shared with Exec.splitStatements). The
    * reference's full recursive-descent reformatter is deliberately NOT
    * ported: Catalyst owns parsing; this is the cosmetic surface only. */
  def tidySql(script: String): String =
    Exec.splitStatements(script).map { stmt =>
      val out = new StringBuilder
      var i = 0
      var quote: Char = 0
      val n = stmt.length
      while (i < n) {
        val c = stmt.charAt(i)
        if (quote != 0) {
          out.append(c)
          if (c == '\\' && i + 1 < n) { out.append(stmt.charAt(i + 1)); i += 1 }
          else if (c == quote) quote = 0
          i += 1
        } else if (c == '\'' || c == '"') {
          quote = c; out.append(c); i += 1
        } else if (c.isLetter || c == '_') {
          val start = i
          while (i < n && (stmt.charAt(i).isLetterOrDigit || stmt.charAt(i) == '_')) i += 1
          val word = stmt.substring(start, i)
          out.append(if (sqlKeywords(word.toLowerCase)) word.toUpperCase else word)
        } else if (c.isWhitespace) {
          if (out.nonEmpty && !out.last.isWhitespace) out.append(' ')
          i += 1
        } else { out.append(c); i += 1 }
      }
      out.toString.trim + ";"
    }.mkString("\n")
}
