package graft

/** Driver-longevity soak: a production tenant driver is a LONG-LIVED
  * process that runs the same workload all day — it must not degrade
  * round over round. Single-shot benches cannot see slow leaks (pinned
  * localCheckpoint/persist blocks surviving their query, listener-bus
  * accumulation, codegen-cache bloat, temp-dir growth); the r16 sf1
  * steady sweep DID see one (graph_kcore_peel walls escalating across
  * reps under a lazy-GC heap — BASELINE.md heap-geometry note), which is
  * exactly the class this probe gates.
  *
  * Protocol: run the FULL 436-key board `rounds` times serially in one
  * JVM (count() actions, Bench-style), and report per-round totals plus
  * the per-key ratio of the LAST round vs round 2 (round 1 is warmup:
  * JIT + staging + page cache). Also reports pinned-block debris:
  * `sc.getPersistentRDDs` size and storage-memory bytes after each
  * round — a monotone climb is a leak even when walls haven't moved yet.
  *
  * usage: java <add-opens> -cp "target/scala-2.13/classes:/opt/spark/jars/＊"
  *   graft.SoakProbe [sfDir] [rounds]   (defaults /root/testdata/sf0.01, 4;
  *   the ＊ is a literal star — fullwidth so a star-slash can't close this
  *   comment). Heap-size the run like production (≤16g): an oversized heap
  *   hides debris by never collecting it.
  */
object SoakProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val rounds = if (args.length > 1) args(1).toInt else 4
    // the verdict compares the last round against round 2 (round 1 warms up)
    require(rounds >= 2, s"rounds must be at least 2, got $rounds")
    val s = Graft.session("soakprobe")
    s.sparkContext.setLogLevel("WARN")
    val keys = SparkEntry.queries.keys.toSeq.sorted
    val wall = Array.fill(rounds)(
      scala.collection.mutable.LinkedHashMap[String, Double]())
    (0 until rounds).foreach { r =>
      keys.foreach { k =>
        val t0 = System.nanoTime()
        SparkEntry.queries(k)(s, sfDir).count()
        wall(r)(k) = (System.nanoTime() - t0) / 1e9
      }
      val rdds = s.sparkContext.getPersistentRDDs
      val storage = s.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum
      println(s"SOAK round=${r + 1} total=${T.num(wall(r).values.sum, 1)} " +
        s"pinnedRdds=${rdds.size} storageUsed=${storage / 1048576}MB")
    }
    // last-vs-round-2 per-key ratios (>= 2x AND >= +0.5s absolute — tiny
    // keys jitter); round 1 excluded as warmup
    val base = wall(1); val last = wall(rounds - 1)
    val degraded = keys
      .map(k => (k, base(k), last(k)))
      .filter { case (_, b, l) => l >= 2 * b && l - b >= 0.5 }
      .sortBy { case (_, b, l) => b - l }
    degraded.foreach { case (k, b, l) =>
      println(s"SOAK DEGRADED $k round2=${T.num(b, 2)} round$rounds=${T.num(l, 2)}")
    }
    println(s"SOAK DONE rounds=$rounds degraded=${degraded.size} " +
      s"totalRound2=${T.num(base.values.sum, 1)} totalLast=${T.num(last.values.sum, 1)}")
    s.stop()
    if (degraded.nonEmpty) sys.exit(1)
  }
}
