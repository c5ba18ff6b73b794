package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ReusedExchangeExec, ShuffleExchangeLike}

/** Whole-board executed-plan sweep (r16): run every registered key once,
  * dump its AQE-final plan, and print one machine-greppable summary line
  * per key with the operator counts that matter for the optimization
  * audit — Exchange, SortMergeJoin, CartesianProduct,
  * BroadcastNestedLoopJoin, ObjectHashAggregate (non-codegen agg state),
  * Generate, Sort. The per-key lines make stragglers mechanically
  * findable instead of depending on which keys someone thought to read.
  * A key filter narrows the sweep (and its dumps) to the named keys.
  *
  * `ex=`/`reex=`/`bex=` count shuffle, reused and broadcast exchange
  * NODES of the executed plan tree (`exchanges`): in the plan text a
  * ReusedExchange line embeds its source exchange's text, so substring
  * arithmetic over-counts real shuffles (17 vs 15 in
  * plans/r17/dedup_near_minhash_after.txt). `jobs=` counts Spark jobs
  * fired by the key's collect (VERDICT r16 #4 — the 32-core anti-scalers
  * are many-small-jobs shapes: each job is a scheduler round-trip that
  * data size never amortizes at fixture scale, and lineage re-execution
  * multiplies it); `drain=timeout` marks a key whose job count had not
  * settled after 5 s.
  *
  * usage: runMain graft.PlanSweep [outDir] [key,key...]
  * env:   SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default:
  *        every processor)
  */
object PlanSweep {
  /** (shuffle, reused, broadcast) exchange nodes of an executed plan.
    * Descends into the final adaptive plan, query stages and subqueries; a
    * ReusedExchangeExec is a leaf, so the exchange it reuses counts once,
    * where it ran. */
  def exchanges(plan: SparkPlan): (Int, Int, Int) = {
    var (ex, reex, bex) = (0, 0, 0)
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ReusedExchangeExec => reex += 1
        case _: ShuffleExchangeLike => ex += 1
        case _: BroadcastExchangeLike => bex += 1
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    (ex, reex, bex)
  }

  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "/tmp/plans_all"
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.session("plansweep")
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // per-key job counter: jobs started between key start and key end.
    // Job starts are driver-side and the sweep runs keys sequentially, so
    // a plain listener counter is exact once the bus has drained.
    val jobCount = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobCount.incrementAndGet()
      })
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val j0 = jobCount.get()
        val t0 = System.nanoTime()
        df.collect() // finalize the adaptive plan
        val wall = (System.nanoTime() - t0) / 1e9
        val drained = T.settle(5000L, quietPolls = 1)(jobCount.get())
        val jobs = jobCount.get() - j0
        val executed = df.queryExecution.executedPlan
        val plan = executed.toString
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$name.txt"),
          s"== $name @ $sfDir wall=${"%.2f".format(wall)}s jobs=$jobs\n\n" + plan)
        def c(pat: String) = pat.r.findAllIn(plan).length
        val (ex, reex, bex) = exchanges(executed)
        println(f"SWEEP $name%-36s wall=${wall}%6.2f jobs=$jobs " +
          s"ex=$ex reex=$reex bex=$bex " +
          s"smj=${c("SortMergeJoin")} " +
          s"cart=${c("CartesianProduct")} bnlj=${c("BroadcastNestedLoopJoin")} " +
          s"oha=${c("ObjectHashAggregate")} gen=${c("Generate")} " +
          s"sort=${c("\\bSort\\b")} win=${c("Window")} bhj=${c("BroadcastHashJoin")}" +
          (if (drained) "" else " drain=timeout"))
      } catch { case e: Throwable =>
        errors += name
        println(s"SWEEP $name FAILED ${e.getClass.getSimpleName}")
      }
    }
    println(s"SWEEP DONE errors=${errors.size} ${errors.take(10).mkString(",")}")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
