package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Graft.defaultCores
    val spark = Graft.session("bench", cpus)
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: JIT + whole-stage-codegen compile + parquet reader
    // init land here instead of inside the first measured query
    try {
      val li = T.t(spark, sfDir, "lineitem")
      li.groupBy("l_returnflag").count().count()
      li.limit(1000).orderBy("l_orderkey").count()
    } catch { case _: Throwable => }
    // A failed query must be LOUD: r9's events-fixture drift broke 64 keys
    // yet BENCH_r09 reported rc=0 because failures were swallowed as ~0 s
    // timings (VERDICT r9 "What's wrong" #2). Record every failure by name,
    // surface them in the JSON line, and exit non-zero.
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    // Split shared-artifact STAGING out of each key's query time: the
    // first consumer of a staged index (wshingle_df, oriented_adj, ...)
    // otherwise carries the whole family's build cost and reads as a
    // regression every round (VERDICT r15 "What's wrong" #2). T.staged
    // meters its own build wall; sampling it around each key yields the
    // key's staging share exactly. queries map = pure query seconds;
    // staging is reported per-key (top entries) and as staging_sec, so
    // value == sum(queries) + staging_sec remains the full honest wall.
    val staging = scala.collection.mutable.LinkedHashMap[String, Double]()
    // TRANSITION ROUND (r17, VERDICT r16 "What's wrong" #1): the timed
    // action through r16 was fn(...).count(), and Catalyst PRUNES aggregate
    // expressions the count doesn't need — keys whose work is
    // expression-shaped (exact percentile, collect_list/sort_array,
    // sketches) were benched at a fraction of their real compute, and the
    // r16 percentile replan's real 3.1x win read as a +0.9 s regression.
    // Per guide §1.4 the honest metric is a full materialization of every
    // column of every row: the noop sink. This round times BOTH actions
    // per key — leg 1 is the legacy count() (bit-comparable with
    // BENCH_r01–r16 and run FIRST, cold, under the same conditions as
    // every prior round), leg 2 is the noop sink on a freshly built plan
    // (warm JVM). The HEADLINE value/queries move to the noop metric (the
    // one that cannot be gamed by pruning); count_sec carries the old
    // metric's whole-board total so cross-round totals stay mappable, and
    // the full per-key dual table is printed as BENCHDUAL and written to
    // /tmp/graft_bench_dual.json for the committed record.
    def timeLeg(name: String, run: => Unit): Double = {
      val s0 = T.stagingNanos.get()
      val t0 = System.nanoTime()
      try { run }
      catch { case e: Throwable =>
        if (!errors.contains(name)) errors += name
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val stagedSec = (T.stagingNanos.get() - s0) / 1e9
      if (stagedSec > 0.05)
        staging(name) = staging.getOrElse(name, 0.0) + stagedSec
      math.max(0.0, wall - stagedSec)
    }
    val dual = SparkEntry.queries.map { case (name, fn) =>
      val cnt = timeLeg(name, fn(spark, sfDir).count())
      val noop = timeLeg(name,
        fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      name -> (cnt, noop)
    }
    // the noop leg is the metric going forward; results drives the
    // headline value and the top-N queries map
    val results = dual.map { case (k, (_, n)) => k -> n }
    val countTotal = dual.values.map(_._1).sum
    // The driver captures only the LAST 2000 chars of output (BENCH_r01/r02
    // tails are exactly 2000 chars and r02's full-precision line was cut
    // mid-JSON → parsed:null). Keep the line well under that: 3-decimal
    // timings and only the 40 slowest queries listed individually; the
    // remainder is aggregated into other_sec/n_queries.
    // Locale.ROOT: the default-locale format would emit ',' decimal
    // separators on non-English JVMs — invalid JSON for the driver's parser
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // full dual table (count-metric, noop-metric) per key — the transition
    // mapping VERDICT r16 #1 asked for; one line, driver-tail-safe because
    // the final JSON line below is printed after it
    val dualJson = dual.toSeq.sortBy(-_._2._2)
      .map { case (k, (c, n)) => "\"" + k + "\":[" + f3(c) + "," + f3(n) + "]" }
      .mkString("{", ",", "}")
    println(s"""BENCHDUAL {"metric":"count_vs_noop","unit":"sec","queries":$dualJson}""")
    try {
      val w = new java.io.PrintWriter("/tmp/graft_bench_dual.json")
      try w.println(s"""{"metric":"count_vs_noop","unit":"sec","cpus":$cpus,"sf":"$sfDir","queries":$dualJson}""")
      finally w.close()
    } catch { case _: Throwable => }
    // top-40 restored (VERDICT r16 #2): the dual table above absorbed the
    // transition payload, so the final line budget fits 40 keys again
    val top = results.toSeq.sortBy(-_._2).take(40)
    val rest = results.size - top.size
    val otherSec = results.values.sum - top.map(_._2).sum
    val qs = top.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // 1-min load average at run end: this box carries heavy external load
    // (same build measured 74–212 s total; see BASELINE.md variance notes),
    // so the context is part of the measurement
    val load = f3(java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage)
    // errors stay inside the 2000-char tail budget: full count always, the
    // first 10 names as a sample (64 names would evict the timing payload)
    val errJson = errors.take(10).map("\"" + _ + "\"").mkString("[", ",", "]")
    // staging: total + the 8 biggest per-key shares (2000-char tail budget)
    val stagingTotal = T.stagingNanos.get() / 1e9
    val stJson = staging.toSeq.sortBy(-_._2).take(8)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f3(total + stagingTotal)},"unit":"sec","queries":$qs,"n_queries":${results.size},"n_errors":${errors.size},"errors":$errJson,"n_omitted":$rest,"other_sec":${f3(otherSec)},"staging_sec":${f3(stagingTotal)},"staging":$stJson,"query_sec":${f3(total)},"count_sec":${f3(countTotal)},"load_avg":$load,"sf":"$sfDir"}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
