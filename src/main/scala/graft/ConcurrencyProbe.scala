package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Concurrent multi-tenant execution probe. A production deployment does
  * not run one query at a time: a 100 TB engine serves MANY sessions
  * against one long-lived application (shared SparkContext, FAIR
  * scheduling, per-session SQLConf). Nothing on the board had ever
  * executed concurrently — serial Verify/Bench cannot see thread-safety
  * bugs in the shared machinery: `T.staged`'s first-touch build racing
  * its consumers, idempotent function re-registration racing across
  * sessions, the conf-scoped keys (`join_bloom_prefilter`,
  * `dedup_near_minhash`, `similarity_join_lsh`) leaking plan-shaping
  * configs into a neighbour's session, concurrent streaming queries on
  * one context, broadcast/codegen caches under contention.
  *
  * Protocol: one SparkContext (`local[cpus]`, FAIR scheduler mode). Phase
  * SERIAL dumps every `SparkEntry.queries` key through the root session,
  * exactly like graft.Verify. Phase CONCURRENT re-runs the same keys from
  * a work queue on N threads — each thread in ITS OWN `newSession()` (the
  * per-tenant isolation model: shared context + catalog, isolated
  * SQLConf/registry). The probe then multiset-compares every key's two
  * dumps in-process and prints one JSON line; any diff, error, or empty
  * result exits non-zero. Wall times for both phases ride along — the
  * speedup is advisory (the serial phase warms JIT and the page cache for
  * the concurrent one), the exactness verdict is the point.
  *
  * usage: java <add-opens> -cp "target/scala-2.13/classes:/opt/spark/jars/＊"
  *   graft.ConcurrencyProbe [sfDir] [threads]   (defaults
  *   /root/testdata/sf0.01, 8; the ＊ is a literal star — fullwidth so a
  *   star-slash can't close this comment). SPARK_GRAFT_MASTER=
  *   local-cluster[...] re-masters onto real executor JVMs;
  *   SPARK_GRAFT_KILL=1 additionally kill -9s one executor mid-board and
  *   again after recovery (spot reclaim during multi-tenant serving) —
  *   the exactness bar is unchanged and the run fails if no kill landed.
  */
object ConcurrencyProbe {

  private def dumpAll(root: SparkSession, sfDir: String, outDir: String,
                      keys: Seq[String], threads: Int): (Double, Map[String, String]) = {
    new java.io.File(outDir).mkdirs()
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    keys.foreach(queue.add)
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val t0 = System.nanoTime()
    val workers = (1 to threads).map { _ =>
      val th = new Thread(() => {
        // per-tenant isolation: own SQLConf + function registry, shared
        // context/catalog — concurrent-phase threads must not see each
        // other's scoped conf mutations
        val sess = if (threads == 1) root else root.newSession()
        var k = queue.poll()
        while (k != null) {
          try {
            SparkEntry.queries(k)(sess, sfDir)
              .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$k")
          } catch { case e: Throwable =>
            errors.put(k, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
          }
          k = queue.poll()
        }
      })
      th.setDaemon(true); th.start(); th
    }
    workers.foreach(_.join())
    import scala.jdk.CollectionConverters._
    ((System.nanoTime() - t0) / 1e9, errors.asScala.toMap)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val threads = if (args.length > 1) args(1).toInt else 8
    // SPARK_GRAFT_MASTER=local-cluster[n,c,memMB] runs the SAME probe over
    // real executor processes — the full production cell of the execution
    // matrix: many tenants × many JVMs (the factory wires the executors;
    // SPARK_GRAFT_EXEC_MEM overrides their 8g, which is inert under local[n])
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER",
      s"local[${Graft.defaultCores}]")
    val root = Graft.session("concurrencyprobe", master = Some(master),
      conf = Map("spark.scheduler.mode" -> "FAIR", // round-robin across tenants
        "spark.executor.memory" -> "8g"))
    root.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_KILL=1 (local-cluster only): kill one REAL executor JVM
    // while the 8 tenants are mid-board, and again later after the fleet
    // recovered — spot reclaim during multi-tenant serving. The standalone
    // master relaunches replacements; every tenant's query must still
    // commit exactly (FetchFailed → stage re-execution under FAIR).
    val killMode = sys.env.get("SPARK_GRAFT_KILL").contains("1") &&
      master.startsWith("local-cluster")
    val watch = new FaultProbe.ExecutorWatch
    if (killMode) root.sparkContext.addSparkListener(watch)
    var kills = 0

    val keys = SparkEntry.queries.keys.toSeq.sorted
    val base = T.tempDir("graft_conc_")
    val (serialSec, serialErr) = dumpAll(root, sfDir, s"$base/serial", keys, 1)
    require(serialErr.isEmpty, s"serial phase failed: $serialErr")
    val killer = new Thread(() => {
      // fire when the concurrent board is genuinely mid-flight (≥40 key
      // dirs committed), and once more after ≥250 — two real reclaims
      def dumped: Int = Option(new java.io.File(s"$base/conc").listFiles())
        .map(_.count(d => new java.io.File(d, "_SUCCESS").exists())).getOrElse(0)
      for (threshold <- Seq(40, 250)) {
        val dl = System.currentTimeMillis() + 180000
        while (dumped < threshold && System.currentTimeMillis() < dl)
          Thread.sleep(200)
        if (FaultProbe.killOneExecutor(root.sparkContext.applicationId).isDefined) {
          kills += 1
          System.err.println(s"[concprobe] killed an executor at $dumped dumps")
        }
        Thread.sleep(3000) // let the master relaunch before the next wait
      }
    })
    if (killMode) { killer.setDaemon(true); killer.start() }
    val (concSec, concErr) = dumpAll(root, sfDir, s"$base/conc", keys, threads)
    if (killMode) killer.join(10000)

    // multiset compare per key (order may legally differ under FAIR
    // interleaving for keys whose final sort has ties)
    var nDiff = 0
    val diffs = scala.collection.mutable.ListBuffer[String]()
    keys.foreach { k =>
      // set ops reject map-typed columns, so compare canonical JSON rows
      // (schema order is deterministic; both sides ran the same plan)
      val a = root.read.parquet(s"$base/serial/$k")
        .selectExpr("to_json(struct(*)) AS js")
      val b = root.read.parquet(s"$base/conc/$k")
        .selectExpr("to_json(struct(*)) AS js")
      val (missing, extra) = FaultProbe.diffCounts(a, b)
      if (missing + extra > 0 || concErr.contains(k)) { nDiff += 1; diffs += k }
    }
    println(Bench.obj(Seq("probe" -> "concurrency", "sf" -> sfDir,
      "threads" -> threads, "n_keys" -> keys.size, "n_diff" -> nDiff,
      "n_errors" -> concErr.size, "serial_sec" -> serialSec,
      "concurrent_sec" -> concSec, "speedup" -> serialSec / concSec) ++
      (if (killMode) Seq("kills" -> kills, "executorsRemoved" -> watch.removed.get())
       else Nil) ++
      Seq("diff_keys" -> diffs.toSeq,
        "errors" -> ListMap(concErr.toSeq.sortBy(_._1): _*))))
    root.stop()
    if (nDiff > 0 || concErr.nonEmpty) sys.exit(1)
    // a kill run that never killed proves nothing — fail it loudly
    if (killMode && (kills < 1 || watch.removed.get() < 1)) sys.exit(2)
  }
}
