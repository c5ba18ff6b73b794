package graft

/** Per-key steady-state anchor: min-of-N wall seconds for EVERY registered
  * query in one warmed JVM, written as machine-readable JSON — the per-key
  * baseline that makes BENCH_r{N} regressions adjudicable on a shared box
  * whose full-run totals swing 3× with external load (BASELINE.md variance
  * notes). Min-of-N absorbs both first-run codegen compilation and
  * transient load spikes; `load_avg` bounds the run's context. Each rep
  * writes every row to the `noop` sink (a full materialization: `count()`
  * lets Catalyst prune expression-shaped work).
  *
  * usage: runMain graft.BenchSteady <outFile> [reps] [key,key...]
  * env:   SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default:
  *        every processor)
  */
object BenchSteady {
  def main(args: Array[String]): Unit = {
    val out = if (args.length > 0) args(0) else "BASELINE_PERKEY.json"
    val reps = if (args.length > 1) args(1).toInt else 3
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Graft.defaultCores
    val spark = Graft.session("benchsteady", cpus)
    spark.sparkContext.setLogLevel("WARN")
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def load: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // untimed warmup (parquet reader init + first codegen)
    try {
      val li = T.t(spark, sfDir, "lineitem")
      li.groupBy("l_returnflag").count().count()
    } catch { case _: Throwable => }
    val loadStart = load
    // same loud-failure rule as Bench (VERDICT r9): a key that throws must
    // not be recorded as a ~0 s anchor — skip it and fail the run at the end
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    val board = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val results = board.flatMap { case (name, fn) =>
      var failed = false
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          failed = true
          System.err.println(s"[steady] $name FAILED: ${String.valueOf(e.getMessage).take(200)}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      if (failed) { errors += name; None }
      else {
        println(s"STEADY $name reps=${times.map(f3).mkString(",")} min=${f3(times.min)}")
        Some(name -> times.min)
      }
    }
    val keysJson = results
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      s"""{"sf":"$sfDir","cpus":$cpus,"action":"noop","reps":$reps,"date":"${java.time.LocalDate.now}",
         |"load_avg_start":${f3(loadStart)},"load_avg_end":${f3(load)},
         |"total_min_sec":${f3(results.map(_._2).sum)},"n_keys":${results.size},
         |"n_errors":${errors.size},"errors":$errJson,
         |"keys":$keysJson}""".stripMargin.replace("\n", "")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"WROTE $out (${results.size} keys, ${errors.size} errors)")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
